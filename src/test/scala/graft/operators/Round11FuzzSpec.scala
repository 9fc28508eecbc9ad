package graft.operators

import graft.SparkSpec
import graft.pipeline.{IncrementalAggrCube, IncrementalLcc}
import graft.query.Query
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Generative coverage for the round-11 algorithms whose correctness
  * rests on a non-obvious argument: the 2-hop cube's direction/
  * distinctness semantics (≡ brute-force path enumeration), its IVM and
  * the per-corner LCC IVM (≡ batch across random batch splits with
  * duplicates), local clustering (≡ brute neighborhood intersection),
  * inverse-CDF quantiles (≡ the sorted-list definition), and the DOULION
  * draw's uniformity on random vertex sets. Seeded RNG → failures
  * replay. */
@graft.DeepTest
class Round11FuzzSpec extends SparkSpec {
  import spark.implicits._

  test("aggrCounts fuzz: engine cube equals brute-force 2-hop path enumeration") {
    val rng = new scala.util.Random(11011L)
    for (trial <- 1 to 4) {
      val nV = 5 + rng.nextInt(4)
      val ids = (0 until nV).map(i => s"n$i")
      val ets = Seq("p", "q", "id")
      val edges = (for {
        f <- ids; t <- ids if f != t
        et <- ets if rng.nextDouble() < 0.18
      } yield (f, t, et)).distinct
      if (edges.nonEmpty) {
        val root = ids(rng.nextInt(nV))
        val types = ids.map(i => (i, i.toUpperCase)).toDF("nodeId", "displayType")
        val engine = Query.aggrCounts(
            edges.toDF("fromNodeId", "toNodeId", "edgeType"), types, root)
          .as[(String, String, String, String, String, Long, String)]
          .collect().map(t => (t._1, t._2, t._3, t._4, t._5) -> t._6).toMap
        // brute force: enumerate (ra, rb) edge-instance pairs
        val e = edges.filter(_._3 != "id")
        val inc = e.map { case (f, t, et) => (f, t, et, "out") } ++
          e.map { case (f, t, et) => (t, f, et, "in") }
        val brute = (for {
          (s1, n1, et1, d1) <- inc if s1 == root && n1 != root
          (s2, n2, et2, d2) <- inc if s2 == n1 && n2 != root && n2 != n1
        } yield (s"${d1}_$d2", et1, n1.toUpperCase, et2, n2.toUpperCase))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        assert(engine === brute, s"trial $trial root=$root diverged from brute force")
      }
    }
  }

  test("cube IVM fuzz: random batch splits with duplicates equal the batch cube") {
    val rng = new scala.util.Random(22022L)
    for (trial <- 1 to 3) {
      val ids = (0 until 6).map(i => s"v$i")
      val edges = (for {
        f <- ids; t <- ids if f != t
        et <- Seq("x", "y") if rng.nextDouble() < 0.3
      } yield (f, t, et)).distinct
      val root = ids(rng.nextInt(ids.size))
      val types = ids.map(i => (i, i)).toDF("nodeId", "displayType")
      val dir = Files.createTempDirectory(s"cube_fuzz$trial").toString
      val nB = 1 + rng.nextInt(3)
      val batches = edges.groupBy(_ => rng.nextInt(nB)).toSeq.sortBy(_._1)
      var delivered = Seq.empty[(String, String, String)]
      batches.zipWithIndex.foreach { case ((_, es), i) =>
        val dups = delivered.filter(_ => rng.nextDouble() < 0.3)
        IncrementalAggrCube.update(spark, dir,
          (es ++ dups).toDF("fromNodeId", "toNodeId", "edgeType"),
          types, Seq(root), i.toLong)
        delivered ++= es
      }
      val ivm = IncrementalAggrCube.current(spark, dir)
        .select("direction", "edge1", "type1", "edge2", "type2", "num")
        .as[(String, String, String, String, String, Long)].collect().toSet
      val batch = Query.aggrCounts(
          edges.toDF("fromNodeId", "toNodeId", "edgeType"), types, root)
        .select("direction", "edge1", "type1", "edge2", "type2", "num")
        .as[(String, String, String, String, String, Long)].collect().toSet
      assert(ivm === batch, s"trial $trial (root=$root, batches=$nB) IVM diverged")
    }
  }

  test("LCC fuzz: engine and IVM equal brute neighborhood intersection on random graphs") {
    val rng = new scala.util.Random(33033L)
    for (trial <- 1 to 4) {
      val nV = 5 + rng.nextInt(5)
      val all = for (u <- 0L until nV; v <- (u + 1) until nV) yield (u, v)
      val edges = all.filter(_ => rng.nextDouble() < 0.45)
      if (edges.nonEmpty) {
        val nb = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
        edges.foreach { case (u, v) => nb(u) += v; nb(v) += u }
        val brute = nb.map { case (id, ns) =>
          val tri = ns.toSeq.combinations(2).count { case Seq(a, b) => nb(a).contains(b) }
          val deg = ns.size.toLong
          (id, deg, tri.toLong,
            if (deg >= 2) 2L * tri * 1000000L / (deg * (deg - 1)) else 0L)
        }.toSet
        val engine = Query.localClustering(edges.toDF("u", "v"))
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(engine === brute, s"trial $trial LCC diverged from brute force")
        // and the IVM over a random split agrees with the batch operator
        val dir = Files.createTempDirectory(s"lcc_fuzz$trial").toString
        val nB = 1 + rng.nextInt(3)
        edges.groupBy(_ => rng.nextInt(nB)).toSeq.sortBy(_._1).zipWithIndex
          .foreach { case ((_, es), i) =>
            IncrementalLcc.update(spark, dir, es.toDF("u", "v"), i.toLong)
          }
        val ivm = graft.pipeline.IncrementalLcc.current(spark, dir)
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(ivm === brute, s"trial $trial LCC IVM diverged")
      }
    }
  }

  test("quantile fuzz: histogram extraction equals the sorted-list type-1 definition") {
    val rng = new scala.util.Random(44044L)
    for (trial <- 1 to 5) {
      val groups = Seq("a", "b")
      val data = groups.flatMap { g =>
        val n = 1 + rng.nextInt(40)
        (1 to n).map(_ => (g, rng.nextInt(10).toLong)) // heavy ties on purpose
      }
      val pcts = Seq(50, 90, 99)
      val engine = ProfilerOps.quantilesOf(data.toDF("g", "v"), pcts)
        .as[(String, Long, Long, Long)].collect()
        .map(t => t._1 -> Seq(t._2, t._3, t._4)).toMap
      val brute = data.groupBy(_._1).map { case (g, rows) =>
        val sorted = rows.map(_._2).sorted
        val n = sorted.size
        g -> pcts.map { p =>
          val k = (p * n + 99) / 100 // ceil(p*n/100)
          sorted(math.max(k, 1) - 1)
        }
      }
      assert(engine === brute, s"trial $trial quantiles diverged from sorted definition")
    }
  }

  test("random-walk fuzz: engine walks equal a local simulation and stay on edges") {
    val rng = new scala.util.Random(66066L)
    val M = 2147483647L
    def idx(start: Long, node: Long, i: Int, deg: Long): Long = {
      val a = start % M; val b = node % M
      val h1 = ((a * b) % M + (a * 48271L) % M + (b * 16807L) % M + i.toLong * 12345L) % M
      h1 * 48271L % M % deg + 1L
    }
    for (trial <- 1 to 4) {
      val nV = 5 + rng.nextInt(5)
      val all = for (u <- 1L to nV; v <- (u + 1) to nV) yield (u, v)
      val edges = all.filter(_ => rng.nextDouble() < 0.5)
      if (edges.nonEmpty) {
        val nb = scala.collection.mutable.Map.empty[Long, Vector[Long]].withDefaultValue(Vector.empty)
        edges.foreach { case (u, v) => nb(u) :+= v; nb(v) :+= u }
        // mirror the hub-safe index's (hash-bucket, nbr) rank ordering
        def bkt(n: Long): Long = n % M * 48271L % M % CoOrderGraph.WalkBuckets
        val sortedNb = nb.map { case (k, vs) => k -> vs.sortBy(v => (bkt(v), v)) }.toMap
        val sim = (for {
          start <- sortedNb.keys.toSeq
          walk = Iterator.iterate((start, 0)) { case (node, i) =>
            val ns = sortedNb(node)
            (ns((idx(start, node, i + 1, ns.size) - 1).toInt), i + 1)
          }.take(5).toSeq
          (node, step) <- walk
        } yield (start, node, step.toLong)).toSet
        val engine = CoOrderGraph.walksOf(edges.toDF("u", "v"), steps = 4)
          .as[(Long, Long, Long)].collect().toSet
        assert(engine === sim, s"trial $trial walks diverged from local simulation")
        // every hop is a real edge
        val eset = edges.toSet ++ edges.map(_.swap)
        val byWalk = engine.groupBy(_._1).values
        byWalk.foreach { w =>
          val seq = w.toSeq.sortBy(_._3).map(_._2)
          seq.sliding(2).foreach {
            case Seq(a2, b2) => assert(eset.contains((a2, b2)), s"hop $a2->$b2 off-graph")
            case _ => ()
          }
        }
      }
    }
  }

  test("edgeDraw fuzz: keep ratio stays near 1/4 on random vertex-id regimes") {
    val rng = new scala.util.Random(55055L)
    // small ids, large ids, and mixed — the round-10 degenerate draws
    // passed small-id spot checks and failed exactly these regimes
    val regimes = Seq(
      () => (rng.nextInt(2000).toLong + 1, rng.nextInt(2000).toLong + 1),
      () => (math.abs(rng.nextLong()) % 1000000000L + 1, math.abs(rng.nextLong()) % 1000000000L + 1),
      () => (rng.nextInt(50).toLong + 1, math.abs(rng.nextLong()) % 100000000L + 1))
    regimes.zipWithIndex.foreach { case (gen, i) =>
      val pairs = (1 to 4000).map(_ => gen()).filter(p => p._1 != p._2).distinct
      val keep = pairs.count { case (u, v) => graft.core.Exact.edgeDrawLocal(u, v) }
      val ratio = keep.toDouble / pairs.size
      assert(ratio > 0.2 && ratio < 0.3, s"regime $i keep ratio $ratio degenerated from 1/4")
    }
  }

  test("assortativity IVM fuzz: random batch splits with duplicates equal batch g39") {
    val rng = new scala.util.Random(39039L)
    for (trial <- 1 to 4) {
      val n = 6 + rng.nextInt(6)
      val edges = (for {
        u <- 1L to n; v <- (u + 1) to n if rng.nextDouble() < 0.35
      } yield (u, v)).toSeq
      val dir = Files.createTempDirectory(s"assort_fuzz$trial").toString
      val nB = 1 + rng.nextInt(4)
      val batches = edges.groupBy(_ => rng.nextInt(nB)).toSeq.sortBy(_._1)
      var delivered = Seq.empty[(Long, Long)]
      batches.zipWithIndex.foreach { case ((_, es), i) =>
        // re-deliver a random subset of older edges: the left-anti dedup
        // must make them invisible to every statistic
        val dups = delivered.filter(_ => rng.nextDouble() < 0.4)
        graft.pipeline.IncrementalAssortativity.update(spark, dir,
          (es ++ dups).toDF("u", "v"), i.toLong)
        delivered ++= es
      }
      val ivm = graft.pipeline.IncrementalAssortativity.current(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val batch = CoOrderGraph.assortativityOf(edges.toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(ivm === batch, s"trial $trial ($nB batches) IVM diverged")
    }
  }

  test("degree-spectrum IVM fuzz: random batch splits with duplicates equal batch g40; buckets drain cleanly") {
    val rng = new scala.util.Random(40040L)
    for (trial <- 1 to 4) {
      val n = 6 + rng.nextInt(6)
      val edges = (for {
        u <- 1L to n; v <- (u + 1) to n if rng.nextDouble() < 0.35
      } yield (u, v)).toSeq
      val dir = Files.createTempDirectory(s"dspec_fuzz$trial").toString
      val nB = 1 + rng.nextInt(4)
      val batches = edges.groupBy(_ => rng.nextInt(nB)).toSeq.sortBy(_._1)
      var delivered = Seq.empty[(Long, Long)]
      batches.zipWithIndex.foreach { case ((_, es), i) =>
        val dups = delivered.filter(_ => rng.nextDouble() < 0.4)
        graft.pipeline.IncrementalDegreeSpectrum.update(spark, dir,
          (es ++ dups).toDF("u", "v"), i.toLong)
        delivered ++= es
      }
      val ivm = graft.pipeline.IncrementalDegreeSpectrum.current(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val batch = CoOrderGraph.degreeSpectrumOf(edges.toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(ivm === batch, s"trial $trial ($nB batches) IVM diverged")
      // the −1/+1 bucket moves must drain emptied buckets exactly: no
      // zero or negative histogram rows survive the >0 filter
      assert(ivm.forall(_._2 > 0))
    }
  }

  test("bfs IVM: late edges improve distances, late low ids evict seeds; fuzz equals batch g42") {
    def fold(dir: String, batches: Seq[Seq[(Long, Long)]]): Seq[(Long, Int, Long)] = {
      batches.zipWithIndex.foreach { case (es, i) =>
        graft.pipeline.IncrementalBfs.update(spark, dir, es.toDF("u", "v"), i.toLong)
      }
      graft.pipeline.IncrementalBfs.current(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    }
    def batch(edges: Seq[(Long, Long)]): Seq[(Long, Int, Long)] =
      CoOrderGraph.bfsLayersOf(edges.toDF("u", "v"), 4, 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    // hand case 1: batch 2's shortcut edge must IMPROVE an existing
    // distance (path 1-2-3-4-5, then 1-5 arrives → dist(1,5) 4→1)
    val d1 = Files.createTempDirectory("bfs_ivm1").toString
    val b1 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val b2 = Seq((1L, 5L))
    assert(fold(d1, Seq(b1, b2)) === batch(b1 ++ b2), "shortcut edge not relaxed")
    // hand case 2: batch 2 introduces LOWER node ids → the seed set
    // shifts down and the evicted seed's rows must vanish from the read
    val d2 = Files.createTempDirectory("bfs_ivm2").toString
    val c1 = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
    val c2 = Seq((1L, 10L), (2L, 1L))
    val got2 = fold(d2, Seq(c1, c2))
    assert(got2 === batch(c1 ++ c2), "seed churn diverged")
    assert(!got2.exists(_._1 == 13L), "evicted seed leaked into the read")
    // seeded fuzz: random splits with redelivered duplicates
    val rng = new scala.util.Random(39042L)
    for (trial <- 1 to 3) {
      val n = 8 + rng.nextInt(8)
      val edges = (for {
        u <- 1L to n; v <- (u + 1) to n if rng.nextDouble() < 0.22
      } yield (u, v)).toSeq
      if (edges.nonEmpty) {
        val dir = Files.createTempDirectory(s"bfs_fuzz$trial").toString
        val nB = 1 + rng.nextInt(4)
        val grouped = edges.groupBy(_ => rng.nextInt(nB)).toSeq.sortBy(_._1).map(_._2)
        var delivered = Seq.empty[(Long, Long)]
        val withDups = grouped.map { es =>
          val dups = delivered.filter(_ => rng.nextDouble() < 0.4)
          delivered ++= es
          es ++ dups
        }
        assert(fold(dir, withDups) === batch(edges), s"trial $trial ($nB batches)")
      }
    }
  }

  test("fd IVM fuzz: pair-arrival deltas with duplicates equal a local violation recount") {
    val rng = new scala.util.Random(41041L)
    for (trial <- 1 to 4) {
      val rows = (1 to 40).map { _ =>
        ("t", s"x${rng.nextInt(6)}", s"y${rng.nextInt(4)}")
      }
      val dir = Files.createTempDirectory(s"fd_fuzz$trial").toString
      val nB = 1 + rng.nextInt(4)
      val batches = rows.groupBy(_ => rng.nextInt(nB)).toSeq.sortBy(_._1)
      var delivered = Seq.empty[(String, String, String)]
      batches.zipWithIndex.foreach { case ((_, rs), i) =>
        val dups = delivered.filter(_ => rng.nextDouble() < 0.4)
        graft.pipeline.IncrementalFd.update(spark, dir,
          (rs ++ dups).toDF("fd", "x", "y"), i.toLong)
        delivered ++= rs
      }
      val got = graft.pipeline.IncrementalFd.current(spark, dir, Seq("t", "clean"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val pairs = rows.map(r => (r._2, r._3)).distinct
      val byX = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      assert(got("t") === ((byX.size.toLong,
        byX.values.count(_ > 1).toLong,
        byX.values.map(_ - 1).sum)), s"trial $trial ($nB batches)")
      assert(got("clean") === ((0L, 0L, 0L)), "untouched FD keeps explicit zeros")
    }
  }

  test("triad-census composition fuzz: spectrum + triangle states derive the batch census") {
    val rng = new scala.util.Random(43043L)
    for (trial <- 1 to 3) {
      val n = 7 + rng.nextInt(6)
      val edges = (for {
        u <- 1L to n; v <- (u + 1) to n if rng.nextDouble() < 0.35
      } yield (u, v)).toSeq
      if (edges.nonEmpty) {
        val dir = Files.createTempDirectory(s"census_fuzz$trial").toString
        val nB = 1 + rng.nextInt(3)
        val batches = edges.groupBy(_ => rng.nextInt(nB)).toSeq.sortBy(_._1)
        var delivered = Seq.empty[(Long, Long)]
        batches.zipWithIndex.foreach { case ((_, es), i) =>
          val dups = delivered.filter(_ => rng.nextDouble() < 0.4)
          val df = (es ++ dups).toDF("u", "v")
          graft.pipeline.IncrementalDegreeSpectrum.update(spark, s"$dir/spec", df, i.toLong)
          graft.pipeline.IncrementalTriangles.update(spark, s"$dir/tri", df, i.toLong)
          delivered ++= es
        }
        // derive the census from the two maintained states (the st43 read)
        val spec = graft.pipeline.IncrementalDegreeSpectrum.current(spark, s"$dir/spec")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val nv = spec.map(_._2).sum
        val ne = spec.map { case (d, c) => d * c }.sum / 2
        val wedges = spec.map { case (d, c) => d * (d - 1) / 2 * c }.sum
        val tri = graft.pipeline.IncrementalTriangles.current(spark, s"$dir/tri")
          .collect().head.getLong(1)
        val derived = (nv, ne, tri, wedges - 3 * tri,
          ne * (nv - 2) - 2 * (wedges - 3 * tri) - 3 * tri)
        val b = CoOrderGraph.triadCensusOf(edges.toDF("u", "v")).collect().head
        assert(derived === ((b.getLong(0), b.getLong(1), b.getLong(2),
          b.getLong(3), b.getLong(4))), s"trial $trial ($nB batches)")
      }
    }
  }

  test("edge-support IVM fuzz: cross-batch triangles credit their edges once; bridges stay explicit zeros") {
    val rng = new scala.util.Random(44044L)
    for (trial <- 1 to 4) {
      val n = 6 + rng.nextInt(6)
      val edges = (for {
        u <- 1L to n; v <- (u + 1) to n if rng.nextDouble() < 0.35
      } yield (u, v)).toSeq
      if (edges.nonEmpty) {
        val dir = Files.createTempDirectory(s"esup_fuzz$trial").toString
        val nB = 1 + rng.nextInt(4)
        val batches = edges.groupBy(_ => rng.nextInt(nB)).toSeq.sortBy(_._1)
        var delivered = Seq.empty[(Long, Long)]
        batches.zipWithIndex.foreach { case ((_, es), i) =>
          val dups = delivered.filter(_ => rng.nextDouble() < 0.4)
          graft.pipeline.IncrementalEdgeSupport.update(spark, dir,
            (es ++ dups).toDF("u", "v"), i.toLong)
          delivered ++= es
        }
        val ivm = graft.pipeline.IncrementalEdgeSupport.current(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val b = graft.query.Query.edgeSupport(edges.toDF("u", "v"))
          .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(ivm === b, s"trial $trial ($nB batches) IVM diverged")
      }
    }
  }

  test("q29 fuzz: decorrelated plan equals a literal exists/not-exists recount on random schedules") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 5) {
      val nOrders = 30 + rnd.nextInt(30)
      val orders = (1L to nOrders).map { ok =>
        (ok, Seq("F", "O", "P")(rnd.nextInt(3)),
          java.sql.Timestamp.valueOf(f"1995-01-${1 + rnd.nextInt(28)}%02d 00:00:00"))
      }
      val lineitem = orders.flatMap { case (ok, _, od) =>
        (0 until 1 + rnd.nextInt(4)).map { _ =>
          val supp = 1L + rnd.nextInt(5)
          val late = rnd.nextBoolean()
          val ship = new java.sql.Timestamp(
            od.getTime + (if (late) 90L else 10L) * 24 * 3600 * 1000)
          (ok, supp, ship)
        }
      }
      val supplier = (1L to 5L).map(k => (k, s"Supp#$k"))
      val dir = Files.createTempDirectory(s"q29fuzz$trial").toString
      orders.toDF("o_orderkey", "o_orderstatus", "o_orderdate")
        .write.parquet(s"$dir/orders.parquet")
      lineitem.toDF("l_orderkey", "l_suppkey", "l_shipdate")
        .write.parquet(s"$dir/lineitem.parquet")
      supplier.toDF("s_suppkey", "s_name")
        .write.parquet(s"$dir/supplier.parquet")
      // literal quantified recount, straight off the spec text
      val odate = orders.map(o => o._1 -> o._3).toMap
      val status = orders.map(o => o._1 -> o._2).toMap
      def isLate(l: (Long, Long, java.sql.Timestamp)) =
        l._3.getTime > odate(l._1).getTime + 60L * 24 * 3600 * 1000
      val waits = lineitem.filter(l => status(l._1) == "F" && isLate(l))
        .map(l => (l._1, l._2)).distinct
        .filter { case (ok, sk) =>
          lineitem.exists(l2 => l2._1 == ok && l2._2 != sk) &&
            !lineitem.exists(l3 => l3._1 == ok && l3._2 != sk && isLate(l3))
        }
      val expected = waits.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        .map { case (sk, n) => (s"Supp#$sk", n) }.toSeq
        .sortBy { case (nm, n) => (-n, nm) }.take(20)
      val got = Relational2.soleLateSupplier(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === expected, s"trial $trial diverged")
    }
  }

  test("t36 fuzz: decile curve equals a local first-appearance recount on random corpora") {
    val rnd = new scala.util.Random(36)
    for (trial <- 1 to 5) {
      val n = 10 + rnd.nextInt(40)
      val docs = (0L until n).map { id =>
        val words = (0 until rnd.nextInt(12))
          .map(_ => s"w${rnd.nextInt(30)}").mkString(" ")
        (id, if (rnd.nextInt(10) == 0) null else words)
      }
      val local = {
        val toks = docs.flatMap { case (id, t) =>
          Option(t).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
            .map(w => (math.min(9L, id * 10 / n), w))
        }
        val tokPer = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val firstB = toks.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
        val newPer = firstB.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val buckets = tokPer.keys.toSeq.sorted
        var cum = 0L
        buckets.map { b =>
          // cum_vocab runs over PRESENT buckets only (token-free deciles
          // are absent rows, but their first-appearance count is 0 by
          // construction: no tokens, no first appearance)
          cum += newPer.getOrElse(b, 0L)
          (b, tokPer(b), newPer.getOrElse(b, 0L), cum)
        }
      }
      val got = TextAnalysis.vocabGrowthOf(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got === local, s"trial $trial diverged")
    }
  }
}
