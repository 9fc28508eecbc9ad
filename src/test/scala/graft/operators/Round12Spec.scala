package graft.operators

import graft.SparkSpec
import graft.pipeline.IncrementalSssp
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-12 generative coverage: the weighted-SSSP IVM, whose
  * correctness rests on the re-price argument (costs fall as shared-order
  * counts grow, so the fold must relax prior state through TOUCHED edges,
  * not only cascade new improvements — the case st39's insert-only BFS
  * contract cannot see). Seeded RNG → failures replay. */
@graft.DeepTest
class Round12Spec extends SparkSpec {
  import spark.implicits._

  /** Per-batch canonical (u < v, cnt) co-order pair counts from
    * (orderkey, part) rows — the streaming fold's input shape. */
  private def pairCnt(rows: Seq[(Long, Long)]): DataFrame = {
    val df = rows.toDF("o", "p")
    df.as("a").join(df.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count_distinct(col("a.o")).as("cnt"))
  }

  /** Batch g45 ground truth over the full order set. */
  private def batchSssp(rows: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val w = pairCnt(rows).select(col("u"), col("v"),
      expr("1000000 div cnt").as("cost"))
    CoOrderGraph.boundedSsspOf(w, nSeeds = 4, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
  }

  private def fold(dir: String, batches: Seq[Seq[(Long, Long)]]): Seq[(Long, Long, Long)] = {
    batches.zipWithIndex.foreach { case (rows, i) =>
      IncrementalSssp.update(spark, dir, pairCnt(rows), i.toLong)
    }
    IncrementalSssp.current(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
  }

  test("sssp IVM: a late order RE-PRICES an existing edge and the discount cascades") {
    // b1: orders o1={1,2}, o2={2,3} → cost(1,2)=cost(2,3)=10⁶,
    // dist(1→3)=2·10⁶. b2: o3={1,2} — NO new edge, only a re-count:
    // cost(1,2) halves, so dist(1→2) AND the untouched-hop dist(1→3)
    // must both improve. An insert-only fold (st39's contract) would
    // anti-join the duplicate pair away and change nothing.
    val b1 = Seq((101L, 1L), (101L, 2L), (102L, 2L), (102L, 3L))
    val b2 = Seq((103L, 1L), (103L, 2L))
    val dir = Files.createTempDirectory("sssp_ivm1").toString
    val got = fold(dir, Seq(b1, b2))
    assert(got === batchSssp(b1 ++ b2), "re-priced fold diverged from batch g45")
    val asMap = got.groupBy(t => (t._1, t._2)).view.mapValues(_.head._3).toMap
    assert(asMap((1L, 2L)) === 500000L, "edge re-price not applied")
    assert(asMap((1L, 3L)) === 1500000L, "re-price did not cascade through the untouched hop")
  }

  test("sssp IVM: late low ids evict seeds; reads follow the current seed set") {
    val c1 = Seq((201L, 10L), (201L, 11L), (202L, 11L), (202L, 12L),
      (203L, 12L), (203L, 13L), (204L, 13L), (204L, 14L))
    val c2 = Seq((205L, 1L), (205L, 10L), (206L, 2L), (206L, 1L))
    val dir = Files.createTempDirectory("sssp_ivm2").toString
    val got = fold(dir, Seq(c1, c2))
    assert(got === batchSssp(c1 ++ c2), "seed churn diverged from batch g45")
    assert(!got.exists(_._1 == 13L), "evicted seed leaked into the read")
  }

  // -------------------------------------------------------------------
  // Estimate-vs-TRUTH specs for the sketch families (round-11 verdict
  // item 7): the oracle mirrors each construction, so a degenerate hash
  // passes it on both engines — these compare against exact ground
  // truth instead. Fixtures are deterministic (md5), so the bounds are
  // measured-then-pinned, with slack over the analytic expectation.
  // -------------------------------------------------------------------

  test("p6 count-min vs truth: never underestimates, overestimate within the width bound") {
    val words = (1 to 300).flatMap { i =>
      Seq.fill(math.max(1, 3000 / i))(s"w$i") // Zipf-ish counts
    }
    val n = words.size.toLong
    val got = ProfilerOps.countMinOf(words.toDF("word"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 20)
    got.foreach { case (w, exact, cm) =>
      assert(cm >= exact, s"$w: count-min UNDERestimated ($cm < $exact) — structurally impossible")
      assert(cm - exact <= 3 * n / 64,
        s"$w: overestimate ${cm - exact} above 3N/64 = ${3 * n / 64} — hash rows look degenerate")
    }
    val meanErr = got.map { case (_, e, c) => c - e }.sum / got.length
    assert(meanErr <= 3 * n / 128,
      s"mean overestimate $meanErr above 1.5·N/64 — collisions not spreading across buckets")
  }

  test("p7/t15/st35 HLL vs truth: estimates track exact cardinality across decades") {
    val cards = Seq(40L, 400L, 4000L)
    val docs = cards.flatMap { k =>
      (1L to k).map(i => (s"src$k", s"value-$k-$i"))
    }.toDF("source", "text")
    val hashed = docs.select(col("source"), md5(col("text")).as("h"))
    val est = ProfilerOps.hllEstimateFrom(spark, hashed,
        TextAnalysis.hllRegistersOf(docs))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    cards.foreach { k =>
      val e = est(s"src$k")
      assert(math.abs(e - k).toDouble / k <= 0.5,
        s"n=$k: HLL estimate $e off by more than 50% (m=16 ⇒ ~26% SE) — registers degenerate?")
    }
    assert(est("src40") < est("src400") && est("src400") < est("src4000"),
      s"estimates not monotone across decades: $est")
  }

  test("d10 minhash vs truth: 16-permutation match count tracks true Jaccard") {
    // |A|=|B|=100 with overlap o → J = o/(200−o); distinct element
    // namespaces per case so signatures can't cross-match
    val cases = Seq(20, 50, 80)
    val sh = cases.flatMap { o =>
      val common = (1 to o).map(i => s"c$o-$i")
      val aOnly = (1 to (100 - o)).map(i => s"a$o-$i")
      val bOnly = (1 to (100 - o)).map(i => s"b$o-$i")
      (common ++ aOnly).map(s => (o.toLong * 2, s)) ++
        (common ++ bOnly).map(s => (o.toLong * 2 + 1, s))
    }.toDF("doc_id", "s")
    val sig = Dedup.minhash16(sh).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(j => r.getAs[Long](s"m$j")))
      .toMap
    cases.foreach { o =>
      val j = o.toDouble / (200 - o)
      val est16 = sig(o.toLong * 2).zip(sig(o.toLong * 2 + 1)).count { case (x, y) => x == y }
      assert(math.abs(est16 - 16 * j) <= 5.0,
        s"overlap $o: est16=$est16 vs expected ${16 * j} — permutation family degenerate?")
    }
    def est(o: Int) =
      sig(o.toLong * 2).zip(sig(o.toLong * 2 + 1)).count { case (x, y) => x == y }
    assert(est(20) < est(80), "match count not increasing with true similarity")
  }

  private def batchKatz(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long, Long, Long)] =
    CoOrderGraph.katzWalksOf(edges.toDF("u", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq

  private def foldKatz(dir: String, batches: Seq[Seq[(Long, Long)]]): Seq[(Long, Long, Long, Long, Long)] = {
    batches.zipWithIndex.foreach { case (es, i) =>
      graft.pipeline.IncrementalKatz.update(spark, dir, es.toDF("u", "v"), i.toLong)
    }
    graft.pipeline.IncrementalKatz.current(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
  }

  test("katz IVM: a late edge credits CROSS-BATCH walks through both delta terms") {
    // b1: path 1-2-3. b2 adds 3-4: walks like 1→2→3→4 use old edges for
    // two hops and the new edge for the last — the ΔA·w_old credit term;
    // walks like 4→3→2 start on the new edge and cascade through the old
    // graph — the A'·Δ term. Both must fire for the fold to equal batch.
    val b1 = Seq((1L, 2L), (2L, 3L))
    val b2 = Seq((3L, 4L))
    val dir = Files.createTempDirectory("katz_ivm1").toString
    assert(foldKatz(dir, Seq(b1, b2)) === batchKatz(b1 ++ b2),
      "cross-batch walk crediting diverged from batch g43")
  }

  test("katz IVM fuzz: random edge splits with redelivered duplicates equal batch g43") {
    val rng = new scala.util.Random(46046L)
    for (trial <- 1 to 3) {
      val n = 6 + rng.nextInt(6)
      val edges = (for {
        u <- 1L to n; v <- (u + 1) to n if rng.nextDouble() < 0.3
      } yield (u, v)).toSeq
      if (edges.nonEmpty) {
        val nB = 1 + rng.nextInt(4)
        val grouped = edges.groupBy(_ => rng.nextInt(nB)).toSeq.sortBy(_._1).map(_._2)
        var delivered = Seq.empty[(Long, Long)]
        val withDups = grouped.map { es =>
          val dups = delivered.filter(_ => rng.nextDouble() < 0.4)
          delivered ++= es
          es ++ dups
        }
        val dir = Files.createTempDirectory(s"katz_fuzz$trial").toString
        assert(foldKatz(dir, withDups) === batchKatz(edges), s"trial $trial ($nB batches)")
      }
    }
  }

  test("g49 double sweep: farthest-of-farthest certifies the diameter the first sweep misses") {
    // path 1-2-3-4 with branch 2-5 and a disconnected pair 10-11:
    // sweep 1 from node 1 reaches {1..5} (far: 4 at dist 3, ties on
    // dist 2 don't matter); sweep 2 from 4 finds ecc 3 with farthest =
    // min(1, 5) = 1. The disconnected pair must not enter n_reached.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (10L, 11L))
    val got = CoOrderGraph.pseudoDiameterOf(edges.toDF("u", "v"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq((1L, 1L, 4L, 3L, 5L), (2L, 4L, 1L, 3L, 5L)), s"got $got")
    // star 1-2, 1-3: sweep 1 from the CENTER underestimates (ecc 1);
    // sweep 2 from a leaf certifies the true diameter 2
    val star = Seq((1L, 2L), (1L, 3L))
    val g2 = CoOrderGraph.pseudoDiameterOf(star.toDF("u", "v"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(g2 === Seq((1L, 1L), (2L, 2L)), s"star sweep got $g2")
  }

  test("x13 time travel: pinned generations survive later publishes; validation is per-generation") {
    import org.apache.spark.sql.SaveMode
    val src = Files.createTempDirectory("x13src").toString
    Seq((1L, "aa", "en", "web", 2L), (2L, "bb", "de", "web", 2L),
      (3L, "cc", "en", "book", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2)
      .write.mode(SaveMode.Overwrite).parquet(s"$src/documents.parquet")
    val got = XmlOps.timeTravelRead(spark, src).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((0L, 3L, 6L), (1L, 2L, 4L)), s"generation stats wrong: $got")
    val base = graft.core.LakeDir.scoped(spark, "tt", src)
    // gen 0 still serves the FULL corpus after the filtered re-publish
    assert(MaterialiseOps.serveValidated(spark, s"$base/gen_0").count() === 3L,
      "time travel to the pre-filter generation lost rows")
    // corrupting one generation must not poison the other
    val victim = new java.io.File(s"$base/gen_1/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    victim.delete()
    intercept[IllegalArgumentException] {
      MaterialiseOps.serveValidated(spark, s"$base/gen_1").count()
    }
    assert(MaterialiseOps.serveValidated(spark, s"$base/gen_0").count() === 3L,
      "a corrupted sibling generation must not affect gen 0's validating read")
  }

  test("sssp IVM fuzz: random order splits equal batch g45") {
    val rng = new scala.util.Random(45045L)
    for (trial <- 1 to 3) {
      val nParts = 6 + rng.nextInt(6)
      val nOrders = 4 + rng.nextInt(8)
      val rows = (1 to nOrders).flatMap { o =>
        val k = 2 + rng.nextInt(3)
        val parts = rng.shuffle((1L to nParts.toLong).toList).take(k)
        parts.map(p => (1000L + o, p))
      }
      // orders split across batches WITHOUT duplication: the fold's
      // additivity contract is order-atomicity, exactly what the
      // streaming harness's requireOrderAtomicFile guards
      val nB = 1 + rng.nextInt(3)
      val byOrder = rows.groupBy(_._1).toSeq
      val batches = byOrder.groupBy(_ => rng.nextInt(nB)).toSeq.sortBy(_._1)
        .map(_._2.flatMap(_._2))
      val dir = Files.createTempDirectory(s"sssp_fuzz$trial").toString
      assert(fold(dir, batches) === batchSssp(rows), s"trial $trial ($nB batches)")
    }
  }

  /** Local O(n log n) reference: sort counts ascending, apply
    * G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx). */
  private def giniLocal(counts: Seq[Long]): (Long, Long, Long) = {
    val xs = counts.sorted
    val n = xs.size.toLong
    val tot = xs.sum
    val s = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val num = 2 * s - (n + 1) * tot
    (num, n * tot, 1000000L * num / (n * tot))
  }

  test("p16: gini is 0 on uniform keys, near (n-1)/n one-hot, fuzz matches sorted-rank formula") {
    def engine(occ: Seq[Long]): (Long, Long, Long) = {
      val r = ProfilerOps.giniOf(
          occ.map(k => ("t", k)).toDF("tag", "k")).collect().head
      (r.getLong(3), r.getLong(4), r.getLong(5))
    }
    // uniform: every key exactly twice → perfectly equal, G = 0
    assert(engine(Seq(1L, 1L, 2L, 2L, 3L, 3L)) === ((0L, 18L, 0L)))
    // near one-hot: counts (1, 1, 1, 97) → Σi·xᵢ = 1+2+3+4·97 = 394,
    // num = 2·394 − 5·100 = 288, G = 288/400 = 0.72 (→ 3/4 as mass → ∞)
    val hot = Seq(1L, 2L, 3L) ++ Seq.fill(97)(4L)
    assert(engine(hot) === ((288L, 400L, 720000L)))
    assert(engine(hot) === giniLocal(Seq(1L, 1L, 1L, 97L)))
    // seeded fuzz vs the local sorted-rank formula
    val rng = new scala.util.Random(16016L)
    for (trial <- 1 to 4) {
      val nKeys = 2 + rng.nextInt(20)
      val occ = (1L to nKeys.toLong).flatMap(k =>
        Seq.fill(1 + rng.nextInt(9))(k))
      val local = giniLocal(occ.groupBy(identity).values.map(_.size.toLong).toSeq)
      assert(engine(occ) === local, s"trial $trial")
    }
  }

  test("t41: rare always-together pair outranks hub pair; fuzz matches local lift recount") {
    def run(tokens: Seq[Seq[String]], minSupport: Long, topK: Int) = {
      val uni = tokens.flatten.toDF("w")
      val bg = tokens.flatMap(ws => ws.zip(ws.drop(1))).toDF("w1", "w2")
      TextAnalysis.collocationsOf(uni, bg, minSupport, topK)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    }
    // 'x y' occurs 5×, only ever together; 'the cat' occurs 5× but both
    // words are corpus hubs — PMI must put (x, y) first
    val docs = Seq.fill(5)(Seq("x", "y")) ++
      Seq.fill(5)(Seq("the", "cat")) ++ Seq.fill(10)(Seq("the", "dog")) ++
      Seq.fill(10)(Seq("a", "cat"))
    val got = run(docs, 5L, 10)
    assert(got.head._1 === "x" && got.head._2 === "y")
    // N = 60, lift(x,y) = 60·5/(5·5) = 12 → exact staged fixed point:
    // ((1e6·5 div 5)·60) div 5 = 12e6
    assert(got.head._7 === 12000000L)
    assert(got.map(p => (p._1, p._2)).contains(("the", "cat")))
    // local recount fuzz over a small alphabet, support floor 2
    val rng = new scala.util.Random(41041L)
    val alpha = Vector("a", "b", "c", "d", "e")
    for (trial <- 1 to 3) {
      val toks = Seq.fill(3 + rng.nextInt(4))(
        Seq.fill(4 + rng.nextInt(10))(alpha(rng.nextInt(alpha.size))))
      val uc = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = uc.values.sum
      val bc = toks.flatMap(ws => ws.zip(ws.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val local = bc.filter(_._2 >= 2).toSeq.map { case ((w1, w2), n12) =>
        val lift = ((1000000L * n12 / uc(w1)) * n) / uc(w2)
        (w1, w2, n12, uc(w1), uc(w2), n, lift)
      }.sortBy { case (w1, w2, _, _, _, _, l) => (-l, w1, w2) }.take(8)
      assert(run(toks, 2L, 8) === local, s"trial $trial")
    }
  }

  /** Type-1 (inverse-CDF) median: smallest v whose 1-based rank i has
    * 100·i ≥ 50·n — p10's convention. */
  private def med1(xs: Seq[Long]): Long =
    xs.sorted.zipWithIndex.collectFirst {
      case (v, i) if (i + 1) * 100 >= xs.size * 50 => v
    }.get

  private def madLocal(xs: Seq[Long]): (Long, Long, Long, Long) = {
    val m = med1(xs)
    val dv = xs.map(x => math.abs(x - m))
    val mad = med1(dv)
    (m, mad, xs.size.toLong, dv.count(_ > 3 * mad).toLong)
  }

  test("p17: type-1 medians on even counts, MAD-zero degeneracy, fuzz vs local recount") {
    def engine(groups: Map[String, Seq[Long]]) = {
      val gv = groups.toSeq.flatMap { case (g, vs) => vs.map((g, _)) }
        .toDF("g", "v")
      ProfilerOps.madOutliersOf(gv).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    }
    // even count: type-1 median of (10, 20, 30, 40) is 20, not 25;
    // devs (10, 0, 10, 20) → MAD 10 → no dev exceeds 30
    val got = engine(Map("a" -> Seq(10L, 20L, 30L, 40L)))
    assert(got("a") === ((20L, 10L, 4L, 0L)))
    // MAD-zero degeneracy: majority at one value → any deviation flags
    val gz = engine(Map("z" -> Seq(5L, 5L, 5L, 5L, 9L, 90L)))
    assert(gz("z") === ((5L, 0L, 6L, 2L)))
    // a clear outlier beyond 3·MAD flags exactly once
    val go = engine(Map("o" -> Seq(100L, 110L, 120L, 130L, 140L, 100000L)))
    assert(go("o")._4 === 1L)
    // fuzz vs the local sort-based recount, multiple groups at once
    val rng = new scala.util.Random(17017L)
    for (trial <- 1 to 4) {
      val groups = (1 to 3).map { gi =>
        s"g$gi" -> Seq.fill(3 + rng.nextInt(40))(rng.nextInt(1000).toLong)
      }.toMap
      val local = groups.view.mapValues(madLocal).toMap
      assert(engine(groups) === local, s"trial $trial")
    }
  }

  test("st48: merged count partials equal batch t41; a pair under the floor per-batch surfaces globally") {
    def parts(docs: Seq[String]) = {
      val uni = docs.flatMap(_.split(" ").filter(_.nonEmpty)).toDF("w")
        .groupBy("w").agg(count(lit(1)).as("c"))
      val bg = docs.flatMap { t =>
          val ws = t.split(" ").filter(_.nonEmpty)
          ws.zip(ws.drop(1))
        }.toDF("w1", "w2").groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      (uni, bg)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // 'q r' appears 3× in each batch: under the floor of 5 per batch,
    // over it (6) after the merge
    val a = Seq.fill(3)("q r") ++ Seq.fill(5)("m n") ++ Seq.fill(4)("m o")
    val b = Seq.fill(3)("q r") ++ Seq.fill(2)("m n")
    val (ua, ba) = parts(a)
    val (ub, bb) = parts(b)
    val merged = TextAnalysis.collocationsScore(
      ua.unionByName(ub).groupBy("w")
        .agg(sum(col("c")).as("c")),
      ba.unionByName(bb).groupBy("w1", "w2")
        .agg(sum(col("n12")).as("n12")),
      minSupport = 5L, topK = 10)
    val batch = {
      val docs = a ++ b
      val uni = docs.flatMap(_.split(" ").filter(_.nonEmpty)).toDF("w")
      val bg = docs.flatMap { t =>
        val ws = t.split(" ").filter(_.nonEmpty); ws.zip(ws.drop(1))
      }.toDF("w1", "w2")
      TextAnalysis.collocationsOf(uni, bg, minSupport = 5L, topK = 10)
    }
    assert(rows(merged) === rows(batch))
    assert(rows(merged).exists(r => r._1 == "q" && r._2 == "r" && r._3 == 6L),
      "the globally-qualified pair must survive the post-merge floor")
  }

  test("st49/st50: merged histogram and key-count partials equal their batch screens on any split") {
    val rng = new scala.util.Random(49049L)
    for (trial <- 1 to 3) {
      // st49: (g, v) rows with deliberate value collisions across batches
      val gv = Seq.fill(60 + rng.nextInt(40))(
        (s"g${rng.nextInt(3)}", rng.nextInt(12).toLong * 10))
      val nB = 2 + rng.nextInt(3)
      val batches = gv.groupBy(_ => rng.nextInt(nB)).values.toSeq
      val mergedHist = batches.map(b =>
          b.toDF("g", "v").groupBy(col("g"), col("v"))
            .agg(count(lit(1)).as("cnt")))
        .reduce[org.apache.spark.sql.DataFrame](_ unionByName _)
        .groupBy(col("g"), col("v")).agg(sum(col("cnt")).as("cnt"))
      val gotMad = ProfilerOps.madOutliersOfCounts(mergedHist).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted.toSeq
      val batchMad = ProfilerOps.madOutliersOf(gv.toDF("g", "v")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted.toSeq
      assert(gotMad === batchMad, s"st49 trial $trial ($nB batches)")
      // st50: keyed occurrences split across batches, counts re-summed
      val keyed = Seq.fill(80)(("t" + rng.nextInt(2), rng.nextInt(10).toLong))
      val kb = keyed.groupBy(_ => rng.nextInt(nB)).values.toSeq
      val mergedCounts = kb.map(b =>
          b.toDF("tag", "k").groupBy(col("tag"), col("k"))
            .agg(count(lit(1)).as("cnt")))
        .reduce[org.apache.spark.sql.DataFrame](_ unionByName _)
        .groupBy(col("tag"), col("k")).agg(sum(col("cnt")).as("c"))
      val gotG = ProfilerOps.giniOfCounts(mergedCounts).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).sorted.toSeq
      val batchG = ProfilerOps.giniOf(keyed.toDF("tag", "k")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).sorted.toSeq
      assert(gotG === batchG, s"st50 trial $trial ($nB batches)")
    }
  }

  test("s18: codes bounded in [0,255], exact re-rank repairs coarse ties, fuzz vs local two-stage recount") {
    def local(vecs: Map[Long, Seq[Long]], nQ: Int, nCand: Int, k: Int) = {
      val dims = vecs.values.head.size
      val lo = (0 until dims).map(i => vecs.values.map(_(i)).min)
      val rng = (0 until dims).map(i => math.max(vecs.values.map(_(i)).max - lo(i), 1L))
      val code = vecs.view.mapValues(v =>
        v.zipWithIndex.map { case (x, i) => ((x - lo(i)) * 255) / rng(i) }).toMap
      code.values.foreach(c => assert(c.forall(b => b >= 0 && b <= 255)))
      (for {
        qid <- vecs.keys.toSeq.sorted if qid < nQ
        cands = vecs.keys.toSeq.filter(_ != qid)
          .map(n => (n, code(qid).zip(code(n)).map { case (a, b) => a * b }.sum))
          .sortBy { case (n, ad) => (-ad, n) }.take(nCand)
        ranked = cands.map { case (n, ad) =>
            (n, vecs(qid).zip(vecs(n)).map { case (a, b) => a * b }.sum, ad)
          }.sortBy { case (n, dt, _) => (-dt, n) }.take(k)
        ((n, dt, ad), r) <- ranked.zipWithIndex
      } yield (qid, (r + 1).toLong, n, dt, ad)).toSeq
    }
    def engine(vecs: Map[Long, Seq[Long]], nQ: Int, nCand: Int, k: Int) =
      Similarity.sq8AnnOf(vecs.toSeq.map { case (id, v) => (id, v) }.toDF("vec_id", "q"),
          nQ, nCand, k)
        .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    // hand case: neighbors 10 and 11 collide in code space (tiny value
    // difference rounds away) but the exact stage separates them
    val hand = Map(
      0L -> Seq(1000L, 0L),
      10L -> Seq(996L, 2L),   // exact dot 996000 + 0 vs
      11L -> Seq(995L, 900L), // 995000 + 0 — code space may tie them
      12L -> Seq(-1000L, -1000L))
    assert(engine(hand, 1, 3, 2) === local(hand, 1, 3, 2))
    // fuzz: random integer vectors incl. negatives, 8 dims
    val rng = new scala.util.Random(18018L)
    for (trial <- 1 to 3) {
      val vecs = (0L until (12L + rng.nextInt(8))).map(id =>
        id -> Seq.fill(8)(rng.nextInt(20001).toLong - 10000L)).toMap
      assert(engine(vecs, 5, 6, 3) === local(vecs, 5, 6, 3), s"trial $trial")
    }
  }

  test("p18/st51: independence reads 1e6 ppm, exclusion reads 0; merged cell partials equal batch") {
    def score(cells: Seq[(String, String, String, Long)]) = {
      val df = cells.toDF("pair", "a", "b", "n_ab")
      ProfilerOps.contingencyScore(df).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).sorted.toSeq
    }
    // perfectly independent 2×2: every lift is exactly 10⁶
    val indep = score(Seq(("p", "x", "u", 4L), ("p", "x", "v", 4L),
      ("p", "y", "u", 4L), ("p", "y", "v", 4L)))
    assert(indep.forall(_._8 === 1000000L))
    // a functional cell: x only ever pairs with u (N=8, n_x=4, n_u=4)
    // → lift 2·10⁶ on the (x, u) cell
    val fd = score(Seq(("p", "x", "u", 4L), ("p", "y", "v", 4L)))
    assert(fd.forall(_._8 === 2000000L))
    // merged partials ≡ batch: split raw pairs, count cells per batch,
    // sum, score — vs one-shot counting
    val rng = new scala.util.Random(51051L)
    for (trial <- 1 to 3) {
      val rows = Seq.fill(100)(("t",
        s"a${rng.nextInt(3)}", s"b${rng.nextInt(3)}"))
      val nB = 2 + rng.nextInt(3)
      val merged = rows.groupBy(_ => rng.nextInt(nB)).values.toSeq.map(b =>
          b.toDF("pair", "a", "b").groupBy(col("pair"), col("a"), col("b"))
            .agg(count(lit(1)).as("n_ab")))
        .reduce[org.apache.spark.sql.DataFrame](_ unionByName _)
        .groupBy(col("pair"), col("a"), col("b")).agg(sum(col("n_ab")).as("n_ab"))
      val gotM = ProfilerOps.contingencyScore(merged).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).sorted.toSeq
      val batch = score(rows.groupBy(identity).toSeq
        .map { case ((p, a, b), g) => (p, a, b, g.size.toLong) })
      assert(gotM === batch, s"trial $trial ($nB batches)")
    }
  }
}
