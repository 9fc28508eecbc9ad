package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query under its own cancellable job group with a hard
    * per-query wall-clock bound. One pathological plan (round 9's
    * g30_ktruss nested-loop hang) must cost the sweep ONE red row, not
    * the whole round's artifact. Each query runs on its own DAEMON
    * thread, not a shared pool: a query hung DRIVER-side (planning /
    * stats walks — the round-9 failure class) never finishes its task,
    * and on a shared ExecutionContext such zombies pile up until the
    * pool starves and later queries "time out" without ever running. On
    * timeout the thread is interrupted (driver-side hangs sit in
    * interruptible BigInt/plan loops often enough to matter, and a
    * daemon thread can't outlive the sweep either way) and the job group
    * is cancelled WITH future-job fencing — plain cancelJobGroup is not
    * sticky, so jobs the zombie submits later would otherwise still run
    * and write into outDir after the red row was recorded. Returns
    * name → error for every failed/timed-out query (also mirrored to
    * stderr and `outDir/errors.json`). */
  def runSweep(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      timeoutSec: Int): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      val group = s"verify-$name"
      val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
      // job group is thread-local: set it inside the worker thread so
      // every job the dump submits lands in the cancellable group
      val worker = new Thread(() => {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable => failed.set(e) }
        finally spark.sparkContext.clearJobGroup()
      }, group)
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutSec * 1000L)
      if (worker.isAlive) {
        spark.sparkContext.cancelJobGroupAndFutureJobs(group)
        worker.interrupt()
        val msg = s"TIMEOUT after ${timeoutSec}s (job group cancelled + future jobs fenced)"
        errs(name) = msg
        System.err.println(s"[verify] $name $msg")
      } else Option(failed.get()).foreach { e =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errs(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    if (errs.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/errors.json"),
        errs.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}"))
    errs.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing query names restrict the dump (dev loop only; the
    // driver always runs the full set)
    val only = args.drop(2).toSet
    val spark = graft.core.Sessions.builder("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT_SEC", "300").toInt
    val selected = SparkEntry.queries.toSeq
      .filter { case (k, _) => only.isEmpty || only.contains(k) }
    runSweep(spark, sfDir, outDir, selected, timeoutSec)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
