package graft

import graft.core.{Json, Sessions}

/** Benchmark main — prints ONE JSON line the driver collects as
  * BENCH_r{N}.json. Runs the headline (`bench = true`) queries, or the
  * registered gates named on the command line, against
  * SPARK_GRAFT_SF_DIR. Each query is forced with .count() (full plan
  * execution, no result materialisation on the driver).
  */
object Bench {

  private def f3(v: Double) = f"$v%.3f"

  /** The driver-parseable headline line. MUST stay comfortably under the
    * driver's 2000-char stdout tail (round 9's ~4 KB line with the
    * spread object inlined truncated the headline away and nulled
    * BENCH_r09); degrades to headline-only rather than ever breaching. */
  private[graft] def compactLine(medians: Seq[(String, Double)],
      minTotal: Double, sfDir: String,
      conf: Seq[(String, String)] = Nil): String = {
    val total = medians.map(_._2).sum
    val qs = medians.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // Recorded runs are self-describing: any SPARK_GRAFT_CONF overrides
    // are echoed into the line (empty = committed defaults), so an A/B
    // run can never masquerade as a default-config record.
    val cs = conf.map { case (k, v) => Json.str(k + "=" + v) }
      .mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","min_total":${f3(minTotal)},"conf":$cs,"queries":$qs,"sf":"$sfDir"}"""
    if (full.length < 1900) full
    else s"""{"metric":"total","value":${f3(total)},"unit":"sec","min_total":${f3(minTotal)},"conf":$cs,"sf":"$sfDir"}"""
  }

  /** Append a bench record to the repo-local ledger. The driver's
    * BENCH_r{N}.json parser has recorded `parsed: null` in all ten rounds
    * (sbt appends `[success] ...` after our last line, so the artifact's
    * tail is never pure JSON) — the ledger makes each round's perf record
    * a repo fact instead of a hostage of a 2000-char stdout window. */
  /** The ledger lives at the REPO root, not the launch directory: sbt
    * injects `-Dgraft.repo.root` (build.sbt), and a bare-java launch from
    * anywhere inside the repo finds the nearest enclosing build.sbt. */
  private[graft] def repoRoot(): java.nio.file.Path = {
    val prop = System.getProperty("graft.repo.root", "")
    val start =
      if (prop.nonEmpty) java.nio.file.Paths.get(prop)
      else java.nio.file.Paths.get("").toAbsolutePath
    var p = start
    while (p != null && !java.nio.file.Files.exists(p.resolve("build.sbt")))
      p = p.getParent
    if (p == null) start else p
  }

  private[graft] def ledgerPath(): java.nio.file.Path =
    repoRoot().resolve("BENCH_LOCAL.jsonl")

  /** Belt-and-braces for the driver's stdout-tail parse: the exact
    * compact line is ALSO written (overwrite, one line) to a bare file
    * the driver or a human can read without any sbt log decoration. */
  private[graft] def writeCompactFile(line: String,
      path: java.nio.file.Path = repoRoot().resolve("BENCH_COMPACT.json")): Unit =
    try
      java.nio.file.Files.write(path, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    catch {
      case e: java.io.IOException =>
        System.err.println(s"[bench] compact-file write failed: ${e.getMessage}")
    }

  private[graft] def appendLedger(line: String,
      path: java.nio.file.Path = ledgerPath()): Unit =
    try
      java.nio.file.Files.write(path, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    catch { // a read-only checkout must not fail the bench itself
      case e: java.io.IOException =>
        System.err.println(s"[bench] ledger append failed: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional trailing query names time those gates instead of the
    // headline set (any registered gate, same contract as Verify); a
    // recorded run names none
    val wanted = args.toSet
    val unknown = wanted.diff(SparkEntry.allDefs.keySet)
    require(unknown.isEmpty, s"unknown query ${unknown.mkString(", ")}")
    // SPARK_GRAFT_CONF="k=v;k=v" — extra session confs for A/B runs;
    // a recorded run leaves it unset and runs the committed defaults
    val extraConf = Sessions.envConf()
    val spark = Sessions.builder("graft-bench").config(extraConf.toMap).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // JVM/codegen warm-up on the smallest SF so measured times reflect the
    // engine, not first-call JIT + classloading.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    // SPARK_GRAFT_BENCH_LANE: "all" (default — the driver's per-round
    // record), "fast" (skip the deep tail for tight dev loops), "deep"
    // (only the expensive six). TUNING.md "Benchmark lanes" documents the
    // split and the ~45 s recorded-total budget it protects.
    val lane = sys.env.getOrElse("SPARK_GRAFT_BENCH_LANE", "all")
    val deep = SparkEntry.deepBenchNames
    val inLane = (k: String) => lane match {
      case "fast" => !deep.contains(k)
      case "deep" => deep.contains(k)
      case _      => true
    }
    val selected = (if (wanted.isEmpty) SparkEntry.benchQueries
      else SparkEntry.allDefs.collect { case (k, qd) if wanted.contains(k) => k -> qd.fn })
      .filter { case (k, _) => inLane(k) }
    // SPARK_GRAFT_BENCH_REPS=N → per-query stats over N runs. Shared-host
    // variance is ±50% on single shots (round 5 recorded two 2-5× phantom
    // regressions a median-of-3 disproved; round 8 recorded g14 at 15.35 s
    // that re-measured at 9.5 s on identical code), so the recorded value
    // stays a MEDIAN and the artifact now also carries min/max/all so a
    // reader can tell signal from noise: min is the contention-free floor
    // (signal for plan regressions), median is the recorded value, spread
    // (max-min) is the host-noise band. Deep lanes swing the most, so they
    // default to 5 reps (SPARK_GRAFT_BENCH_REPS_DEEP); an explicit
    // SPARK_GRAFT_BENCH_REPS applies to both unless _DEEP is also set.
    // Set 1 for quick dev loops. TUNING.md "Benchmark lanes" documents the
    // min-as-signal / median-as-record convention.
    val repsEnv = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt.max(1))
    val reps = repsEnv.getOrElse(3)
    val repsDeep = sys.env.get("SPARK_GRAFT_BENCH_REPS_DEEP")
      .map(_.toInt.max(1)).orElse(repsEnv).getOrElse(5)
    val results = selected.map { case (name, fn) =>
      val n = if (deep.contains(name)) repsDeep else reps
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val t = (System.nanoTime() - t0) / 1e9
        // queries that cache intermediates must not distort later timings
        spark.catalog.clearCache()
        t
      }.sorted
      name -> times
    }
    val spreads = results.map { case (k, ts) =>
      "\"" + k + "\":{\"median\":" + f3(ts(ts.length / 2)) +
        ",\"min\":" + f3(ts.head) + ",\"max\":" + f3(ts.last) +
        ",\"spread\":" + f3(ts.last - ts.head) +
        ",\"reps\":" + ts.length +
        ",\"all\":" + ts.map(f3).mkString("[", ",", "]") + "}"
    }.mkString("{", ",", "}")
    val medians = results.toSeq.map { case (k, ts) => k -> ts(ts.length / 2) }
    val minTotal = results.values.map(_.head).sum
    // The full per-query spread goes on its own PRECEDING line for
    // human/audit reads; the compact headline line comes LAST (the
    // driver keeps only the final ~2000 chars of stdout) and Bench
    // emits nothing after it.
    println(s"""{"metric":"spread","queries":$spreads,"sf":"$sfDir"}""")
    val compact = compactLine(medians, minTotal, sfDir, extraConf)
    appendLedger(s"""{"ts":"${java.time.Instant.now()}","lane":"$lane","compact":$compact,"spread":{"queries":$spreads}}""")
    writeCompactFile(compact)
    println(compact)
    spark.stop()
  }
}
