package graft.operators

import graft.SparkSpec
import graft.query.Query

/** Randomized cross-checks of the distributed graph analytics against
  * driver-side brute-force models — generative coverage beyond the fixed
  * oracle fixtures (the PropertySpec principle applied to operators that
  * need a SparkSession). Seeded RNG, so failures replay. */
class GraphPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(20260813L)

  private def randomUndirected(n: Int, p: Double): Seq[(Long, Long)] =
    (for {
      u <- 0 until n
      v <- (u + 1) until n
      if rng.nextDouble() < p
    } yield (u.toLong, v.toLong)).toSeq

  test("triangleCount matches brute force on random graphs") {
    for (trial <- 1 to 5) {
      val edges = randomUndirected(12 + trial, 0.4)
      if (edges.nonEmpty) {
        val adj = edges.toSet
        def has(a: Long, b: Long) = adj.contains((a min b, a max b))
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val expected = (for {
          i <- nodes; j <- nodes if j > i; k <- nodes if k > j
          if has(i, j) && has(j, k) && has(i, k)
        } yield 1).size.toLong
        val got = Query.triangleCount(edges.toDF("u", "v"))
          .as[(Long, Long)].collect().head
        assert(got === ((edges.size.toLong, expected)), s"trial $trial: $edges")

        // the projections of the same enumerator, against brute force
        val nbr = nodes.map(n => n -> nodes.filter(m => m != n && has(n, m)).toSet).toMap
        val tris = for {
          i <- nodes; j <- nodes if j > i; k <- nodes if k > j
          if has(i, j) && has(j, k) && has(i, k)
        } yield Set(i, j, k)
        val nTri = nodes.map(n => n -> tris.count(_.contains(n)).toLong).toMap
        val gotTri = Query.localClustering(edges.toDF("u", "v"))
          .select("id", "n_tri").as[(Long, Long)].collect().toMap
        assert(gotTri === nTri, s"trial $trial: n_tri")
        val support = edges.map { case (u, v) => (u, v) -> (nbr(u) & nbr(v)).size.toLong }.toMap
        val gotSup = Query.edgeSupport(edges.toDF("u", "v"))
          .as[(Long, Long, Long)].collect().map { case (u, v, c) => (u, v) -> c }.toMap
        assert(gotSup === support, s"trial $trial: support")
        assert(nTri.values.sum === 3 * expected && support.values.sum === 3 * expected,
          s"trial $trial: Σ n_tri = Σ support = 3·T")

        val triads = (for {
          i <- nodes; j <- nodes if j > i; k <- nodes if k > j
        } yield Seq(has(i, j), has(j, k), has(i, k)).count(identity))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap.withDefaultValue(0L)
        val census = CoOrderGraph.triadCensusOf(edges.toDF("u", "v"))
          .selectExpr("CAST(n_empty AS BIGINT)", "CAST(n_one_edge AS BIGINT)",
            "CAST(n_wedge AS BIGINT)", "CAST(n_triangle AS BIGINT)")
          .as[(Long, Long, Long, Long)].collect().head
        assert(census === ((triads(0), triads(1), triads(2), triads(3))),
          s"trial $trial: triad census")

        for (k <- Seq(3, 4)) {
          // peel edges in fewer than k - 2 triangles until none is left
          var alive = edges.toSet
          def sup(e: Set[(Long, Long)]): Map[(Long, Long), Long] = {
            def in(a: Long, b: Long) = e.contains((a min b, a max b))
            e.map { case (u, v) => (u, v) -> nodes.count(w => in(u, w) && in(v, w)).toLong }
              .toMap
          }
          var s = sup(alive)
          while (s.exists(_._2 < k - 2)) {
            alive = s.filter(_._2 >= k - 2).keySet
            s = sup(alive)
          }
          val truss = CoOrderGraph.kTrussOf(edges.toDF("u", "v"), k)
            .as[(Long, Long, Long)].collect().map { case (u, v, c) => (u, v) -> c }.toMap
          assert(truss === s, s"trial $trial: $k-truss")
        }
      }
    }
  }

  test("the co-order graph, the orientation, the wedge join and the tokeniser are written once") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val files: Seq[Path] = {
      val walk = Files.walk(Paths.get("src/main/scala"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val text = files.map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toMap
    def holding(needle: String): Seq[String] = files.flatMap { p =>
      val n = text(p).split(java.util.regex.Pattern.quote(needle), -1).length - 1
      Seq.fill(n)(p.getFileName.toString)
    }
    assert(holding("""col("a.l_partkey") < col("b.l_partkey")""") === Seq("CoOrderGraph.scala"))
    assert(holding("""struct(col("du"), col("u")) < struct(col("dv"), col("v"))""")
      === Seq("Query.scala"))
    assert(holding("""col("x.s") === col("y.s") && col("x.t") =!= col("y.t")""")
      === Seq("Query.scala"))
    assert(holding(""".split(" ").filter(_.nonEmpty)""") === Seq("Tokens.scala"))
    assert(CoOrderGraph.defs.size === 22)
    assert(MaterialiseOps.defs.keySet.intersect(CoOrderGraph.defs.keySet).isEmpty)
  }

  test("perSourceShortestPaths matches driver-side Dijkstra on random weighted digraphs") {
    import org.apache.spark.sql.functions._
    for (trial <- 1 to 5) {
      val n = 10 + trial
      val edges = (for {
        u <- 0 until n; v <- 0 until n
        if u != v && rng.nextDouble() < 0.25
      } yield (f"$u%03d", f"$v%03d", 1L + rng.nextInt(9))).toSeq
      if (edges.nonEmpty) {
        val srcs = Seq(f"${0}%03d", f"${1}%03d")
        // driver-side Bellman-Ford model
        def model(s0: String): Map[String, Long] = {
          var d = Map(s0 -> 0L)
          var changed = true
          while (changed) {
            changed = false
            edges.foreach { case (u, v, w) =>
              d.get(u).foreach { du =>
                if (d.get(v).forall(_ > du + w)) { d += v -> (du + w); changed = true }
              }
            }
          }
          d
        }
        val expected = srcs.flatMap(s0 => model(s0).map { case (nd, dd) => (s0, nd, dd) }).toSet
        val got = Query.perSourceShortestPaths(
            edges.toDF("fromNodeId", "toNodeId", "weight"),
            srcs.toDF("src"))
          .select(col("src"), col("nodeId"), col("dist"))
          .as[(String, String, Long)].collect().toSet
        assert(got === expected, s"trial $trial")
      }
    }
  }

  test("g22: harmonic centrality matches Bellman-Ford Σ 1/d on disconnected digraphs") {
    import org.apache.spark.sql.functions._
    for (trial <- 1 to 5) {
      val n = 12 + trial
      // two islands: edges never cross the n/2 boundary, so sources in
      // the first island cannot reach the second — the disconnected
      // regime harmonic must stay well-defined on (closeness degenerates)
      val half = n / 2
      val edges = (for {
        u <- 0 until n; v <- 0 until n
        if u != v && (u < half) == (v < half) && rng.nextDouble() < 0.35
      } yield (f"$u%03d", f"$v%03d", 1L + rng.nextInt(9))).toSeq
      if (edges.nonEmpty) {
        val srcs = Seq(f"${0}%03d", f"$half%03d")
        def model(s0: String): Map[String, Long] = {
          var d = Map(s0 -> 0L)
          var changed = true
          while (changed) {
            changed = false
            edges.foreach { case (u, v, w) =>
              d.get(u).foreach { du =>
                if (d.get(v).forall(_ > du + w)) { d += v -> (du + w); changed = true }
              }
            }
          }
          d
        }
        val expected = srcs.map { s0 =>
          val reached = model(s0).filter(_._2 > 0)
          (s0, reached.size.toLong, reached.values.map(1000000L / _).sum)
        }.filter(_._2 > 0).toSet
        val got = MaterialiseOps.harmonicOf(
            edges.toDF("fromNodeId", "toNodeId", "weight"), srcs.toDF("src"))
          .as[(String, Long, Long)].collect().toSet
        assert(got === expected, s"trial $trial")
        // no source ever reaches the other island (its own has half or
        // n - half nodes, so at most size - 1 are reachable)
        assert(got.forall { case (s0, nr, _) =>
          nr < (if (s0 == f"${0}%03d") half else n - half).toLong
        }, s"trial $trial crossed islands")
      }
    }
  }

  test("pageRank matches the driver-side fixed-point model") {
    for (trial <- 1 to 3) {
      val n = 8 + trial
      val edges = (for {
        u <- 0 until n
        v <- 0 until n
        if u != v && rng.nextDouble() < 0.3
      } yield (s"v$u", s"v$v")).toSeq
      if (edges.nonEmpty) {
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        var pr = nodes.map(_ -> 1000000L).toMap
        for (_ <- 1 to 3) {
          val in = edges.groupBy(_._2).view.mapValues(
            _.map { case (u, _) => pr(u) / outdeg(u) }.sum).toMap
          pr = nodes.map(v => v -> (150000L + 85L * in.getOrElse(v, 0L) / 100L)).toMap
        }
        val got = Query.pageRank(edges.toDF("fromNodeId", "toNodeId"), iterations = 3)
          .as[(String, Long)].collect().toMap
        assert(got === pr, s"trial $trial")
      }
    }
  }
}
