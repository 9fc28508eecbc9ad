package graft.operators

import graft.SparkSpec
import graft.query.Query
import org.apache.spark.sql.functions._

/** Hand-checkable fixtures for the iterative graph analytics (g18/g19):
  * the oracle gate pins engine-vs-DuckDB parity at sf0.01, these pin the
  * SEMANTICS against worked-by-hand expectations. */
@graft.DeepTest
class GraphAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("g18: pageRank on a 3-chain matches the hand-computed fixed rounds") {
    // a → b → c, integer fixed-point, 3 rounds:
    //   r1: a=150000            b=150000+850000      c=150000+850000
    //   r2: a=150000            b=150000+85·150000/100 = 277500
    //       c=150000+85·1000000/100 = 1000000
    //   r3: b=277500            c=150000+85·277500/100 = 385875
    val edges = Seq(("a", "b"), ("b", "c")).toDF("fromNodeId", "toNodeId")
    val pr = Query.pageRank(edges, iterations = 3)
      .orderBy("id").as[(String, Long)].collect().toSeq
    assert(pr === Seq(("a", 150000L), ("b", 277500L), ("c", 385875L)))
  }

  test("g18: dangling nodes keep the teleport term only") {
    val edges = Seq(("x", "y")).toDF("fromNodeId", "toNodeId")
    val pr = Query.pageRank(edges, iterations = 1)
      .orderBy("id").as[(String, Long)].collect().toMap
    assert(pr("x") === 150000L) // no in-edges
    assert(pr("y") === 1000000L) // 150000 + 85% of x's initial 1e6
  }

  test("g19: triangleCount on K4 minus one edge finds exactly 2 triangles") {
    // vertices 1..4, all edges except (3,4): triangles {1,2,3} and {1,2,4}
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("u", "v")
    val r = Query.triangleCount(und).as[(Long, Long)].collect().head
    assert(r === ((5L, 2L)))
  }

  test("g19: duplicate input pairs do not double-count") {
    val und = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    val r = Query.triangleCount(und).as[(Long, Long)].collect().head
    assert(r === ((3L, 1L)))
  }

  test("d9: integer mean division truncates toward zero on negatives (the div/// parity contract)") {
    // Spark's `div` must truncate toward zero like DuckDB's `//`
    // (-7 // 2 = -3, not floor's -4) — the Lloyd update relies on it.
    val r = spark.sql("SELECT -7 div 2 AS a, 7 div 2 AS b").first()
    assert(r.getLong(0) === -3L && r.getLong(1) === 3L)
  }

  test("reliableEvery parity: pageRank / paths / closure labels are unchanged") {
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("q_ckpt").toString)
    try {
      val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
        .toDF("fromNodeId", "toNodeId")
      val seeds = Seq("a").toDF("nodeId")
      assert(Query.pageRank(edges, 3, reliableEvery = 1).collect().toSet ===
        Query.pageRank(edges, 3).collect().toSet)
      assert(Query.personalizedPageRank(edges, seeds, 3, reliableEvery = 1)
          .collect().toSet ===
        Query.personalizedPageRank(edges, seeds, 3).collect().toSet)
      assert(Query.weightedShortestPaths(edges.withColumn("weight",
          org.apache.spark.sql.functions.lit(1L)), seeds, reliableEvery = 1)
          .collect().toSet ===
        Query.weightedShortestPaths(edges.withColumn("weight",
          org.apache.spark.sql.functions.lit(1L)), seeds).collect().toSet)
      assert(Query.transitiveClosure(edges, reliableEvery = 1).collect().toSet ===
        Query.transitiveClosure(edges).collect().toSet)
      val peelEdges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
        ("b", "d"), ("c", "d"), ("d", "e")).toDF("f", "t")
      assert(MaterialiseOps.kCoreOf(peelEdges, 3, reliableEvery = 1).collect().toSet ===
        MaterialiseOps.kCoreOf(peelEdges, 3).collect().toSet)
    } finally prev.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("g24: path and diamond graphs match the hand-computed Brandes values") {
    def g(rows: Seq[(String, String, Long)]) =
      rows.toDF("fromNodeId", "toNodeId", "weight")
    def srcs(xs: String*) = xs.toDF("src")
    // path a→b→c→d: both interior nodes lie on the single shortest path
    val path = MaterialiseOps.betweennessOf(
        g(Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L))),
        srcs("a"), srcs("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(path == Map("b" -> (1000000L, 1L), "c" -> (1000000L, 1L)))
    // diamond a→{b1,b2}→d: two equal shortest paths split the credit
    val diamond = MaterialiseOps.betweennessOf(
        g(Seq(("a", "b1", 1L), ("a", "b2", 1L), ("b1", "d", 1L), ("b2", "d", 1L))),
        srcs("a"), srcs("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(diamond == Map("b1" -> (500000L, 1L), "b2" -> (500000L, 1L)))
    // a LONGER bypass a→d (w=3) must not change anything; an unreachable
    // target contributes nothing
    val bypass = MaterialiseOps.betweennessOf(
        g(Seq(("a", "b1", 1L), ("a", "b2", 1L), ("b1", "d", 1L), ("b2", "d", 1L),
          ("a", "d", 3L))),
        srcs("a"), srcs("d", "zz"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bypass == diamond)
  }

  test("g23: disjoint cliques each converge to their clique-minimum label") {
    // K3 {1,2,3} + K3 {10,11,12}: min-tie-break LPA folds every member
    // onto the clique minimum within 3 synchronous rounds, and labels
    // never cross the component boundary
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("u", "v")
    val lab = Query.labelPropagation(und, iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(lab == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("g23: duplicate input pairs do not change the labels") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val dup = Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L), (3L, 4L))
      .toDF("u", "v")
    assert(Query.labelPropagation(und).collect().toSet ===
      Query.labelPropagation(dup).collect().toSet)
  }

  test("g25: pendant chain peels away, the K4 core survives with degree 3") {
    import spark.implicits._
    // K4 on a,b,c,d plus a pendant chain d-e-f: at k=3 the chain peels
    // over two rounds (f first, then e) and d loses its chain edge but
    // keeps its 3 clique edges
    val e = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
      ("d","e"),("e","f")).toDF("f","t")
    val core = MaterialiseOps.kCoreOf(e, 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // k above the max degree empties the graph
    assert(MaterialiseOps.kCoreOf(e, 4).count() === 0L)
    // k=1 keeps everything with its full degree
    val all = MaterialiseOps.kCoreOf(e, 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 4L, "e" -> 2L, "f" -> 1L))
  }

  test("g28: PPR mass stays on and downstream of the seeds; unreachable nodes are exactly 0") {
    import spark.implicits._
    // a -> b -> c and an island x -> y; seed {a}
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("fromNodeId", "toNodeId")
    val ppr = Query.personalizedPageRank(edges, Seq("a").toDF("nodeId"), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // teleport only regenerates a; mass decays down the chain
    assert(ppr("a") > ppr("b") && ppr("b") > ppr("c"))
    assert(ppr("x") === 0L && ppr("y") === 0L, "unreachable nodes must hold exactly 0")
    // hand-check round 1: a = 15% of 1e6; b = 85% of full seed mass
    assert(ppr("a") === 150000L)
  }

  test("g29: skewed weights flip the ranking the unweighted walk would tie") {
    import spark.implicits._
    val seeds = Seq("a").toDF("nodeId")
    val weighted = Seq(("a", "b", 9L), ("a", "c", 1L))
      .toDF("fromNodeId", "toNodeId", "weight")
    val ppr = Query.personalizedPageRankWeighted(weighted, seeds, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // wsum = 10: b gets 9/10 of the seed's flow, c gets 1/10; at the
    // round-3 fixpoint a holds 150000, so b = 85% of (150000·9 div 10)
    assert(ppr("b") > ppr("c"))
    assert(ppr("b") === 114750L, s"b got ${ppr("b")}")
    assert(ppr("c") === 12750L, s"c got ${ppr("c")}")
    // uniform weights reduce to the unweighted walk exactly
    val uniform = Seq(("a", "b", 5L), ("a", "c", 5L))
      .toDF("fromNodeId", "toNodeId", "weight")
    val u = Query.personalizedPageRankWeighted(uniform, seeds, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = Query.personalizedPageRank(
      uniform.drop("weight"), seeds, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(u === plain)
  }

  test("g27: a rare shared neighbor outscores a hub (RA degree discounting)") {
    import spark.implicits._
    // hub part h is shared by everyone (deg 4); rare part r only by s1/s2
    val sp = Seq(
      ("s1", "h"), ("s2", "h"), ("s3", "h"), ("s4", "h"),
      ("s1", "r"), ("s2", "r")).toDF("sk", "p")
    val rows = MaterialiseOps.raScoresOf(sp, minCommon = 1).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    // s1-s2 share hub + rare: 1e6/4 + 1e6/2 = 750000; hub-only pairs: 250000
    assert(rows(("s1", "s2")) === (2L, 750000L))
    assert(rows(("s3", "s4")) === (1L, 250000L))
    assert(rows(("s1", "s3")) === (1L, 250000L))
    assert(rows.size === 6) // all C(4,2) pairs share at least the hub
  }

  test("kCoreOf iteration cap is not silent: capped output is still deg>=k filtered") {
    import spark.implicits._
    // a chain peels one endpoint pair per round at k=2, so maxIter=1
    // stops far short of fixpoint; the contract is that every EMITTED
    // member still satisfies deg>=k within the last alive set (a
    // superset of the true core — which here is empty)
    val chain = Seq(("a","b"),("b","c"),("c","d"),("d","e")).toDF("f","t")
    val capped = MaterialiseOps.kCoreOf(chain, 2, maxIter = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped.values.forall(_ >= 2L),
      s"capped run emitted members below k: $capped")
    // after one peel round alive = {b,c,d}; only c keeps degree 2
    assert(capped === Map("c" -> 2L))
    // run to fixpoint: a pure chain has no 2-core
    assert(MaterialiseOps.kCoreOf(chain, 2).count() === 0L)
  }

  /** K5 + a pendant triangle hanging off vertex 5 + a pendant edge:
    * three support tiers (3 / 1 / 0) that separate cleanly at k=4/3/2. */
  private def k5Graph = {
    import spark.implicits._
    val k5 = for (u <- 1L to 5L; v <- (u + 1) to 5L) yield (u, v)
    (k5 ++ Seq((5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L))).toDF("u", "v")
  }

  test("g30: kTrussOf finds the K5 truss, peels the pendant triangle at k=4") {
    import spark.implicits._
    val t4 = CoOrderGraph.kTrussOf(k5Graph, 4)
      .as[(Long, Long, Long)].collect().toSet
    // exactly the 10 K5 edges, each in 3 triangles among the survivors
    val k5edges = (for (u <- 1L to 5L; v <- (u + 1) to 5L) yield (u, v, 3L)).toSet
    assert(t4 === k5edges)
    // k=3 (support >= 1) keeps the pendant triangle too, not the pendant edge
    val t3 = CoOrderGraph.kTrussOf(k5Graph, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(t3 === k5edges ++ Set((5L, 6L, 1L), (5L, 7L, 1L), (6L, 7L, 1L)))
    // k above any support empties the graph
    assert(CoOrderGraph.kTrussOf(k5Graph, 6).count() === 0L)
  }

  test("g30: k<=2 keeps triangle-free edges at support 0 (2-truss = every edge)") {
    import spark.implicits._
    val t2 = CoOrderGraph.kTrussOf(k5Graph, 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(t2.size === 14, s"2-truss must be all 14 edges, got ${t2.size}")
    assert(t2.contains((7L, 8L, 0L)), "triangle-free pendant edge must survive with support 0")
  }

  test("g30: support loss cascades — two triangles on a shared edge have no 4-truss") {
    import spark.implicits._
    // (1,2) starts at support 2 but both its triangles lean on
    // support-1 wings; peeling the wings strands it at support 0
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)).toDF("u", "v")
    assert(CoOrderGraph.kTrussOf(e, 4).count() === 0L)
  }

  test("g30: kTrussOf iteration cap emits the support-filtered superset, never a silent cut") {
    import spark.implicits._
    // triangle strip Ti={i,i+1,i+2}, i=1..4: mid-path edges have support
    // 2, chords and end edges 1. At k=4 with maxIter=0 the emit is the
    // support>=2 filter of the ORIGINAL graph — {(2,3),(3,4),(4,5)} — a
    // strict superset of the true (empty) 4-truss
    val strip = (1L to 5L).map(i => (i, i + 1)) ++ (1L to 4L).map(i => (i, i + 2))
    val e = strip.toDF("u", "v")
    val capped = CoOrderGraph.kTrussOf(e, 4, maxIter = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped === Set((2L, 3L, 2L), (3L, 4L, 2L), (4L, 5L, 2L)))
    assert(CoOrderGraph.kTrussOf(e, 4).count() === 0L)
  }

  test("g35: strength peel keeps a two-strong-ties node the degree peel would drop") {
    import spark.implicits._
    // hub h has SIX weight-1 edges (strength 6); node x has TWO
    // weight-10 edges to y and z, which also link each other (10):
    // at T=12 the degree view (deg 6 vs 2) is inverted by strength
    val e = (Seq(("x","y",10L), ("x","z",10L), ("y","z",10L)) ++
      (1 to 6).map(i => ("h", s"l$i", 1L))).toDF("f", "t", "w")
    val core = MaterialiseOps.sCoreOf(e, t = 12L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core === Map("x" -> 20L, "y" -> 20L, "z" -> 20L),
      s"strong triangle must survive, weak hub must peel: $core")
    // duplicate pairs combine by summing before the peel
    val dup = Seq(("a","b",7L), ("a","b",5L)).toDF("f", "t", "w")
    val d12 = MaterialiseOps.sCoreOf(dup, t = 12L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d12 === Map("a" -> 12L, "b" -> 12L))
    // cap contract: maxIter=0 emits the strength-filter of the raw graph
    val capped = MaterialiseOps.sCoreOf(e, t = 12L, maxIter = 0).collect()
      .map(_.getString(0)).toSet
    assert(capped === Set("x", "y", "z"), "capped emit is the one-filter superset")
  }

  test("g34: H-index iteration converges to coreness; k-core membership cross-checks") {
    import spark.implicits._
    // K4 {a,b,c,d} + pendant chain d-e-f: coreness 3/3/3/3/1/1
    val e = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
      ("d","e"),("e","f")).toDF("u","v")
    val h = CoOrderGraph.corenessOf(e, rounds = 6).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L, "e" -> 1L, "f" -> 1L))
    // cross-check the decomposition against the per-k peel: coreness >= k
    // must be EXACTLY the k-core membership, at every k
    for (k <- 1 to 3) {
      val core = MaterialiseOps.kCoreOf(e.select(col("u").as("f"), col("v").as("t")), k)
        .collect().map(_.getString(0)).toSet
      assert(h.filter(_._2 >= k).keySet === core, s"k=$k decomposition mismatch")
    }
    // the sequence is monotone non-increasing: more rounds never raise it
    val h2 = CoOrderGraph.corenessOf(e, rounds = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    h.foreach { case (id, v) => assert(v <= h2(id)) }
  }

  test("g33: a heavy edge outvotes the min-label tie-break; uniform weights reduce to g23") {
    import spark.implicits._
    // path a–b–c: unweighted round 1 ties at b (one neighbor each) and
    // min-label picks a's label; weighting b–c at 9 flips b to c's label
    val wpairs = Seq(("a", "b", 1L), ("b", "c", 9L)).toDF("u", "v", "weight")
    val lab = Query.labelPropagationWeighted(wpairs, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lab("b") === "c", s"heavy edge must win: $lab")
    assert(lab("a") === "b" && lab("c") === "b")
    // parallel edges combine BEFORE the argmax: two a–b 5s beat one c–b 9
    val par = Seq(("a", "b", 5L), ("a", "b", 5L), ("b", "c", 9L))
      .toDF("u", "v", "weight")
    val lab2 = Query.labelPropagationWeighted(par, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lab2("b") === "a")
    // uniform weights reduce exactly to the unweighted walk
    val und = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")).toDF("u", "v")
    val uni = Query.labelPropagationWeighted(
        und.withColumn("weight", lit(7L)), iterations = 3)
      .collect().toSet
    assert(uni === Query.labelPropagation(und, iterations = 3).collect().toSet)
  }

  test("g32: sampled triangle estimate matches the hand-filtered subgraph at sf0.001") {
    import spark.implicits._
    val row = CoOrderGraph.trianglesSampled(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect().head
    // replicate the deterministic draw + brute-force count locally
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_orderkey"), col("l_partkey"))
      .as[(Long, Long)].collect()
    val pairs = (for {
      (o1, p1) <- li; (o2, p2) <- li
      if o1 == o2 && p1 < p2
    } yield (p1, p2)).toSet
    val samp = pairs.filter { case (u, v) => graft.core.Exact.edgeDrawLocal(u, v) }
    val adj = samp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tri = samp.toSeq.map { case (u, v) =>
      (adj.getOrElse(u, Set.empty) & adj.getOrElse(v, Set.empty)).size.toLong
    }.sum // counts each triangle once from its lexicographically-least edge... per (u,v) common-gt-neighbors
    assert(row._1 === samp.size.toLong)
    assert(row._2 === tri)
    assert(row._3 === tri * 64L)
  }

  test("g32: draw is unbiased — keep ratio ~1/4 and estimate within tolerance of the true count") {
    // the round-10 draw degenerated twice (linear form → (u+v)%4; product
    // form → a (u%4, v%4) table with keep ratio 1/8 and a ~1.9× estimate
    // bias). The oracle mirrors the engine's hash, so only a comparison
    // against the TRUE g19 count can catch a degenerate draw — pin both
    // the sampling ratio and the estimate quality on the sf0.001 graph
    // (measured: ratio 0.2501, est/true 0.972).
    import spark.implicits._
    val row = CoOrderGraph.trianglesSampled(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect().head
    val truth = graft.query.Query.triangleCount(
        graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
          .as("a").join(
            graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001").as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
          .distinct())
      .as[(Long, Long)].collect().head
    val (nEdges, nTri) = truth
    val ratio = row._1.toDouble / nEdges
    assert(ratio > 0.20 && ratio < 0.30, s"edge keep ratio $ratio degenerated from 1/4")
    val rel = row._3.toDouble / nTri
    assert(rel > 0.75 && rel < 1.33, s"estimate ${row._3} vs true $nTri: ratio $rel out of tolerance")
  }

  test("g36: aggrCounts honours id-exclusion, pairwise distinctness, multiplicity and path rendering") {
    import spark.implicits._
    // root r: a is reachable both in (a→r via x:in) and out (r→a via back),
    // two distinct B-typed in-neighbours of a pin num=2 counting; the
    // id-typed hop1 edge r→i would surface an out_out row through i→j if
    // the notebook's type(ra) != "id" exclusion ever broke; a's edge back
    // to r pins the n2 != root constraint (it must NOT close a 2-cycle row)
    val edges = Seq(
      ("a", "r", "x:in"), ("b", "a", "y:in"), ("b2", "a", "y:in"),
      ("r", "c", "z:out"), ("c", "d", "w:out"),
      ("r", "a", "back"), ("a", "e", "v:out"),
      ("r", "i", "id"), ("i", "j", "w:out"),
    ).toDF("fromNodeId", "toNodeId", "edgeType")
    val types = Seq("a" -> "A", "b" -> "B", "b2" -> "B", "c" -> "C",
      "d" -> "D", "e" -> "E", "i" -> "I", "j" -> "J", "r" -> "R")
      .toDF("nodeId", "displayType")
    val got = Query.aggrCounts(edges, types, "r")
      .as[(String, String, String, String, String, Long, String)].collect().toSet
    assert(got === Set(
      ("in_in",   "x:in", "A", "y:in",  "B", 2L, "(R)<-[x:in]-(A)<-[y:in]-(B)"),
      ("out_in",  "back", "A", "y:in",  "B", 2L, "(R)-[back]->(A)<-[y:in]-(B)"),
      ("in_out",  "x:in", "A", "v:out", "E", 1L, "(R)<-[x:in]-(A)-[v:out]->(E)"),
      ("out_out", "back", "A", "v:out", "E", 1L, "(R)-[back]->(A)-[v:out]->(E)"),
      ("out_out", "z:out", "C", "w:out", "D", 1L, "(R)-[z:out]->(C)-[w:out]->(D)"),
    ))
  }

  test("k11: clean publish serves; corrupted, truncated, and unmanifested files all refuse") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val src = java.nio.file.Files.createTempDirectory("k11src").toString
    Seq((1L, "aa", "en", "web", 2L), (2L, "bb", "en", "web", 2L),
      (3L, "cc", "de", "book", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2) // multiple files so per-file validation is real
      .write.mode(SaveMode.Overwrite).parquet(s"$src/documents.parquet")
    val base = graft.core.LakeDir.scoped(spark, "pub", src)
    // clean publish round-trips every row through the validating read
    val served = MaterialiseOps.manifestPublish(spark, src).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served === Map("web" -> 2L, "book" -> 1L))
    // each publish is its own generation dir (no cross-session handshake race)
    val gens = new java.io.File(base).listFiles().filter(_.getName.startsWith("gen_"))
    assert(gens.length === 1, s"expected exactly one generation, got ${gens.toSeq}")
    val dir = gens.head.toString
    // corrupt: delete one data file after publish → reader must refuse
    val files = new java.io.File(s"$dir/data").listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length >= 2, "fixture must produce multiple files")
    val victim = files.head
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    victim.delete()
    val e1 = intercept[IllegalArgumentException] {
      MaterialiseOps.serveValidated(spark, dir).count()
    }
    assert(e1.getMessage.contains("refusing to serve"))
    // restore, then plant an EXTRA file the manifest never saw
    java.nio.file.Files.write(victim.toPath, bytes)
    assert(MaterialiseOps.serveValidated(spark, dir).count() === 3L, "restore serves again")
    // the default path is purely read-only: a clean validation must NOT
    // write the _validated marker (round-12 ADVICE — a read-only consumer
    // would throw on the write, and a default serve must not arm the
    // trustOnce fast path for callers that never opted in). The publisher
    // marked this generation at publish time; remove that marker and
    // prove the default serve does not recreate it.
    val markerFile = new java.io.File(s"$dir/_validated")
    assert(markerFile.exists(), "publisher must mark its own generation at publish")
    markerFile.delete()
    assert(MaterialiseOps.serveValidated(spark, dir).count() === 3L)
    assert(!markerFile.exists(),
      "default-mode serve wrote the _validated marker — the read path has a write side effect")
    // opting in writes the marker after a successful validation
    assert(MaterialiseOps.serveValidated(spark, dir, trustOnce = true).count() === 3L)
    assert(markerFile.exists(),
      "trustOnce serve must drop the marker after validating")
    Seq((9L, "zz", "xx", "spam", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$dir/data")
    val e2 = intercept[IllegalArgumentException] {
      MaterialiseOps.serveValidated(spark, dir).count()
    }
    assert(e2.getMessage.contains("refusing to serve"),
      "a file the manifest never recorded must refuse, not silently serve")
    // trustOnce: the marker from the earlier TRUSTED serve skips
    // re-validation, so the planted file IS served — the documented
    // narrower contract (immutable-generation assumption) made visible
    assert(MaterialiseOps.serveValidated(spark, dir, trustOnce = true).count() === 4L,
      "trustOnce must skip re-validation once a generation has validated")
    // a second publish supersedes: the validated old generation is
    // compacted away, exactly one (the new) generation remains and serves
    val served2 = MaterialiseOps.manifestPublish(spark, src).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served2 === Map("web" -> 2L, "book" -> 1L))
    val gens2 = new java.io.File(base).listFiles().filter(_.getName.startsWith("gen_"))
    assert(gens2.length === 1 && gens2.head.toString != dir,
      "superseded validated generation must be removed by the next publish")
  }

  test("k10: GraphML export escapes XML specials and parses as a well-formed document") {
    import spark.implicits._
    val nodes = Seq(("a&b", "T<ype>"), ("c", "P & Q")).toDF("nodeId", "displayType")
    val edges = Seq(("a&b", "c", "rel<&>")).toDF("fromNodeId", "toNodeId", "edgeType")
    val lines = MaterialiseOps.graphmlOf(spark, nodes, edges)
      .select(col("line")).as[String].collect()
    val doc = lines.mkString("\n")
    assert(doc.contains("<node id=\"a&amp;b\">"))
    assert(doc.contains("<data key=\"type\">T&lt;ype&gt;</data>"))
    assert(doc.contains("label=\"rel&lt;&amp;&gt;\""))
    // well-formed per the JDK parser — the property the notebook's
    // downstream networkx reader actually needs
    val builder = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
    val parsed = builder.parse(
      new java.io.ByteArrayInputStream(doc.getBytes("UTF-8")))
    assert(parsed.getElementsByTagName("node").getLength === 2)
    assert(parsed.getElementsByTagName("edge").getLength === 1)
  }

  test("g37: local clustering is exact on hand graphs and sums to 3x the global count") {
    import spark.implicits._
    // K4 + pendant on node 1: K4 corners have 3 triangles... node 1 has
    // deg 4 (3 corners + pendant) and its 3 triangles over C(4,2)=6
    // wedges -> 500000 ppm; pure corners deg 3 -> 3/3 = 1000000 ppm;
    // pendant deg 1 -> 0
    val k4p = ((for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)) :+ ((1L, 9L)))
      .toDF("u", "v")
    val lcc = Query.localClustering(k4p)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, deg, nt, ppm) => id -> ((deg, nt, ppm)) }.toMap
    assert(lcc(1L) === ((4L, 3L, 500000L)))
    assert(lcc(2L) === ((3L, 3L, 1000000L)))
    assert(lcc(9L) === ((1L, 0L, 0L)))
    // attribution identity: per-node triangle counts sum to 3 x global
    val totalPerNode = lcc.values.map(_._2).sum
    val global = Query.triangleCount(k4p).as[(Long, Long)].collect().head._2
    assert(totalPerNode === 3L * global)
    // a triangle-free path has lcc 0 everywhere
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    assert(Query.localClustering(path).as[(Long, Long, Long, Long)]
      .collect().forall(_._4 === 0L))
  }

  test("coreness warm restart: the min(deg, old_h + |B|) seed reaches the fresh fixpoint") {
    import spark.implicits._
    def degSeed(e: org.apache.spark.sql.DataFrame) = {
      val p = e.select(col("u"), col("v")).distinct()
      p.select(col("u").as("node")).union(p.select(col("v")))
        .groupBy("node").agg(count(lit(1)).as("h"))
    }
    def warmSeed(e: org.apache.spark.sql.DataFrame,
                 old: org.apache.spark.sql.DataFrame, batchSize: Long) =
      degSeed(e).withColumnRenamed("h", "deg")
        .join(old.select(col("id").as("node"), col("coreness_h")), Seq("node"), "left")
        .select(col("node"),
          least(col("deg"), coalesce(col("coreness_h"), col("deg")) + lit(batchSize)).as("h"))
    // path 1-2-3-4-5: coreness all 1. ONE inserted edge (5,1) closes the
    // cycle and raises EVERY node to 2 — the distant-increase case that
    // invalidates any per-node-local seed; only the global +|B| bound is
    // a true upper bound, and the sandwich argument says iterating from
    // it lands exactly on the fresh fixpoint
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val old = CoOrderGraph.corenessFixpointFrom(path, degSeed(path))
    val cyc = path.union(Seq((5L, 1L)).toDF("u", "v"))
    val warm = CoOrderGraph.corenessFixpointFrom(cyc, warmSeed(cyc, old, 1L))
      .as[(Long, Long)].collect().toMap
    val fresh = CoOrderGraph.corenessFixpointFrom(cyc, degSeed(cyc))
      .as[(Long, Long)].collect().toMap
    assert(warm === fresh)
    assert(warm.values.toSet === Set(2L))
    // K4 (coreness 3) + a batch attaching node 9 to two of its corners:
    // new node enters at coreness 2, the K4 stays at 3
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toDF("u", "v")
    val oldK = CoOrderGraph.corenessFixpointFrom(k4, degSeed(k4))
    val grown = k4.union(Seq((1L, 9L), (2L, 9L)).toDF("u", "v"))
    val warmK = CoOrderGraph.corenessFixpointFrom(grown, warmSeed(grown, oldK, 2L))
      .as[(Long, Long)].collect().toMap
    val freshK = CoOrderGraph.corenessFixpointFrom(grown, degSeed(grown))
      .as[(Long, Long)].collect().toMap
    assert(warmK === freshK)
    assert(warmK(9L) === 2L && warmK(1L) === 3L)
  }

  test("g31: monotone reuse — peeling truss(k2) from truss(k1)'s survivors equals peeling from scratch") {
    import spark.implicits._
    // the nesting truss(4) ⊆ truss(3) makes the sweep's survivor-reuse
    // exact, not an approximation — pin it on the K5+pendant fixture
    val t3edges = CoOrderGraph.kTrussOf(k5Graph, 3).select(col("u"), col("v"))
    val reused = CoOrderGraph.kTrussOf(t3edges, 4)
      .as[(Long, Long, Long)].collect().toSet
    val scratch = CoOrderGraph.kTrussOf(k5Graph, 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(reused === scratch)
  }

  test("g30: reliableEvery parity — kTrussOf(e, k, 1) === kTrussOf(e, k)") {
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("truss_ckpt").toString)
    try {
      assert(CoOrderGraph.kTrussOf(k5Graph, 4, reliableEvery = 1).collect().toSet ===
        CoOrderGraph.kTrussOf(k5Graph, 4).collect().toSet)
    } finally prev.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("g39: stats give r = -1 on a star, zero degree variance on K4, and match a local count") {
    import spark.implicits._
    def stats(edges: Seq[(Long, Long)]) = {
      val r = CoOrderGraph.assortativityOf(edges.toDF("u", "v")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // star K1,3: every edge joins deg 3 to deg 1 — perfectly disassortative
    val (n, sd, sd2, sdd) = stats(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    assert((n, sd, sd2, sdd) === (6L, 12L, 30L, 18L))
    assert(n * sdd - sd * sd === -(n * sd2 - sd * sd), "r must be exactly -1")
    // K4: all degrees equal — the denominator n·Σd² − (Σd)² is exactly 0
    val (kn, ksd, ksd2, _) =
      stats(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(kn * ksd2 === ksd * ksd, "degenerate graph must show zero variance")
    // seeded random graph vs a local recount of the definition
    val rnd = new scala.util.Random(11)
    val edges = (for {
      u <- 1L to 20L; v <- (u + 1) to 20L if rnd.nextDouble() < 0.2
    } yield (u, v)).toSeq
    val deg = edges.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val local = (
      2L * edges.size,
      edges.map { case (u, v) => deg(u) + deg(v) }.sum,
      edges.map { case (u, v) => deg(u) * deg(u) + deg(v) * deg(v) }.sum,
      2L * edges.map { case (u, v) => deg(u) * deg(v) }.sum)
    assert(stats(edges) === local)
  }

  test("g40: spectrum identities — star shape, Σ n=|V|, Σ deg·n=2|E|, matches local recount") {
    import spark.implicits._
    def spec(edges: Seq[(Long, Long)]) =
      CoOrderGraph.degreeSpectrumOf(edges.toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(spec(Seq((1L, 2L), (1L, 3L), (1L, 4L))) === Seq((1L, 3L), (3L, 1L)))
    val rnd = new scala.util.Random(40)
    val edges = (for {
      u <- 1L to 15L; v <- (u + 1) to 15L if rnd.nextDouble() < 0.25
    } yield (u, v)).toSeq
    val got = spec(edges)
    val deg = edges.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val local = deg.values.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq.map { case (d, n) => (d, n) }.sorted
    assert(got === local)
    assert(got.map(_._2).sum === deg.size.toLong)
    assert(got.map { case (d, n) => d * n }.sum === 2L * edges.size)
  }

  test("g42: path layers by hop, disconnected seeds stay local, hop bound enforced, fuzz matches local BFS") {
    import spark.implicits._
    def layers(edges: Seq[(Long, Long)], nSeeds: Int, maxDist: Int) =
      CoOrderGraph.bfsLayersOf(edges.toDF("u", "v"), nSeeds, maxDist)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // path 1-2-3-4-5-6-7 plus isolated pair 0-11; seeds (2 lowest) = {0, 1}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (0L, 11L))
    val got = layers(path, 2, 4)
    // seed 1 walks the path one hop per round; node 7 is at dist 6 > bound → absent
    assert((0 to 4).forall(k => got((1L, k)) == 1L))
    assert(!got.contains((1L, 5)) && got.size == 5 + 2)
    // seed 0 exhausts its component at dist 1 — extra rounds are no-ops
    assert(got((0L, 0)) == 1L && got((0L, 1)) == 1L)
    // seeded fuzz vs a local multi-source BFS
    val rnd = new scala.util.Random(42)
    val edges = (for {
      u <- 1L to 18L; v <- (u + 1) to 18L if rnd.nextDouble() < 0.12
    } yield (u, v)).toSeq
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    val gotF = layers(edges, 3, 4)
    nodes.take(3).foreach { seed =>
      var vis = Map(seed -> 0)
      var frontier = Set(seed)
      for (k <- 1 to 4) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- vis.keySet
        vis ++= frontier.map(_ -> k)
      }
      val local = vis.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      local.foreach { case (dist, n) =>
        assert(gotF((seed, dist)) === n, s"seed $seed dist $dist")
      }
      assert(gotF.keys.count(_._1 == seed) === local.size, s"seed $seed layer count")
    }
  }

  test("g43: walk counts on hand graphs (walks revisit nodes); fuzz matches a local matvec") {
    import spark.implicits._
    def katz(edges: Seq[(Long, Long)]) =
      CoOrderGraph.katzWalksOf(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // single edge 1-2: from 1, walks are 1→2, 1→2→1, 1→2→1→2 — one per
    // length (REVISITS count: path semantics would stop at w2=0)
    val pair = katz(Seq((1L, 2L)))
    assert(pair(1L) === ((1L, 1L, 1L, 16L + 4L + 1L)))
    // star center 1 with leaves 2,3,4: w1=3, w2 (leaf→center back) = 3,
    // w3 = 9 (center→leaf→center→leaf); leaf: w1=1, w2=3, w3=3
    val star = katz(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    assert(star(1L) === ((3L, 3L, 9L, 48L + 12L + 9L)))
    assert(star(2L) === ((1L, 3L, 3L, 16L + 12L + 3L)))
    // seeded fuzz vs a local sparse matvec
    val rnd = new scala.util.Random(43)
    val edges = (for {
      u <- 1L to 14L; v <- (u + 1) to 14L if rnd.nextDouble() < 0.2
    } yield (u, v)).toSeq
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val got = katz(edges)
    val w1 = adj.view.mapValues(_.size.toLong).toMap
    def mv(w: Map[Long, Long]) = adj.view.mapValues(_.map(w).sum).toMap
    val w2 = mv(w1); val w3 = mv(w2)
    w1.keys.foreach { n =>
      assert(got(n) === ((w1(n), w2(n), w3(n), 16 * w1(n) + 4 * w2(n) + w3(n))), s"node $n")
    }
    assert(got.size === w1.size)
  }

  test("g44: K4 edges all support 2, path edges are bridges, Σ support = 3·triangles; fuzz matches recount") {
    import spark.implicits._
    def support(edges: Seq[(Long, Long)]) =
      graft.query.Query.edgeSupport(edges.toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // K4: every edge sits in exactly 2 triangles
    val k4 = (for { u <- 1L to 4L; v <- (u + 1) to 4L } yield (u, v)).toSeq
    assert(support(k4).values.toSeq === Seq.fill(6)(2L))
    // path: every edge is a local bridge (support 0)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(support(path).values.toSeq === Seq.fill(3)(0L))
    // triangle + pendant: triangle edges support 1, the pendant is a bridge
    val tp = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 9L))
    val s3 = support(tp)
    assert(s3((1L, 2L)) == 1L && s3((1L, 3L)) == 1L && s3((2L, 3L)) == 1L && s3((3L, 9L)) == 0L)
    // fuzz vs local recount + the 3-triangles identity
    val rnd = new scala.util.Random(44)
    val edges = (for {
      u <- 1L to 14L; v <- (u + 1) to 14L if rnd.nextDouble() < 0.25
    } yield (u, v)).toSeq
    val es = edges.toSet
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val got = support(edges)
    edges.foreach { case (u, v) =>
      assert(got((u, v)) === (adj(u) & adj(v)).size.toLong, s"edge ($u,$v)")
    }
    val nTri = (for {
      (u, v) <- edges; w <- adj(u) & adj(v)
    } yield Set(u, v, w)).toSet.size
    assert(got.values.sum === 3L * nTri, "edge supports must telescope to 3 per triangle")
  }

  test("g45: two cheap hops beat one expensive edge; hop bound respected; fuzz matches local Bellman-Ford") {
    import spark.implicits._
    def sssp(edges: Seq[(Long, Long, Long)], nSeeds: Int, rounds: Int) =
      CoOrderGraph.boundedSsspOf(edges.toDF("u", "v", "cost"), nSeeds, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 1→3 direct costs 10; 1→2→3 costs 2+2=4 — relaxation must pick 4.
    // 3→4→5→6 puts node 6 at hop 4 from seed 1 → absent under rounds=3
    val g = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 2L),
      (3L, 4L, 1L), (4L, 5L, 1L), (5L, 6L, 1L))
    val got = sssp(g, 1, 3)
    assert(got((1L, 3L)) === 4L, "two cheap hops must beat the direct edge")
    assert(got((1L, 4L)) === 5L && !got.contains((1L, 6L)), "hop bound")
    // seeded fuzz vs local Bellman-Ford with the same round bound
    val rnd = new scala.util.Random(45)
    val edges = (for {
      u <- 1L to 12L; v <- (u + 1) to 12L if rnd.nextDouble() < 0.3
    } yield (u, v, 1L + rnd.nextInt(9))).toSeq
    val sym = edges ++ edges.map(e => (e._2, e._1, e._3))
    val nodes = sym.map(_._1).distinct.sorted
    val gotF = sssp(edges, 2, 3)
    nodes.take(2).foreach { seed =>
      var d = Map(seed -> 0L)
      for (_ <- 1 to 3) {
        val relax = sym.flatMap { case (u, v, c) => d.get(u).map(du => v -> (du + c)) }
        d = (d.toSeq ++ relax).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      }
      d.foreach { case (n, c) => assert(gotF((seed, n)) === c, s"seed $seed node $n") }
      assert(gotF.keys.count(_._1 == seed) === d.size)
    }
  }

  test("g46: census closed forms equal brute-force triple enumeration; bins partition C(V,3)") {
    import spark.implicits._
    def census(edges: Seq[(Long, Long)]) = {
      val r = CoOrderGraph.triadCensusOf(edges.toDF("u", "v")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    }
    // triangle: V=3 → exactly one triple and it's the triangle
    assert(census(Seq((1L, 2L), (1L, 3L), (2L, 3L))) === ((3L, 3L, 1L, 0L, 0L, 0L)))
    // star on 4: every triple through the center is a wedge, the leaf
    // triple is one-edge-free... brute-check below does the thinking
    val rnd = new scala.util.Random(46)
    for (trial <- 1 to 3) {
      val n = 7 + trial
      val edges = (for {
        u <- 1L to n; v <- (u + 1) to n if rnd.nextDouble() < 0.3
      } yield (u, v)).toSeq
      if (edges.nonEmpty) {
        val es = edges.toSet
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        def edge(a: Long, b: Long) = es.contains((a min b, a max b))
        var (t3, t2, t1, t0) = (0L, 0L, 0L, 0L)
        for {
          i <- nodes.indices; j <- i + 1 until nodes.size; k <- j + 1 until nodes.size
        } {
          val cnt = Seq(edge(nodes(i), nodes(j)), edge(nodes(i), nodes(k)),
            edge(nodes(j), nodes(k))).count(identity)
          cnt match {
            case 3 => t3 += 1; case 2 => t2 += 1; case 1 => t1 += 1; case _ => t0 += 1
          }
        }
        val (nv, ne, tri, wed, one, emp) = census(edges)
        assert(nv === nodes.size.toLong && ne === edges.size.toLong)
        assert((tri, wed, one, emp) === ((t3, t2, t1, t0)), s"trial $trial")
        assert(tri + wed + one + emp === nv * (nv - 1) * (nv - 2) / 6)
      }
    }
  }

  test("g47: two disjoint triangles give Q=1/2 exactly; identities hold on random graphs") {
    import spark.implicits._
    def mod(edges: Seq[(Long, Long)]) =
      CoOrderGraph.modularityOf(edges.toDF("u", "v"), 3)
        .collect().map(r =>
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // two disjoint triangles: LPA finds each as a community; m=6,
    // per community e_c=3, d_c=6 → q = 4·6·3 − 36 = 36; ΣQnum = 72 and
    // Q = 72 / (4·36) = 1/2 — the textbook value
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L), (7L, 9L), (8L, 9L))
    val rows = mod(twoTri)
    assert(rows.length === 2 && rows.forall(_ === ((3L, 3L, 6L, 36L))))
    assert(rows.map(_._4).sum === 72L && 4 * 6 * 6 === 144)
    // random graphs: Σ e_in ≤ m, Σ d_sum = 2m, labels come from the
    // registered LPA (composition), and Q ≤ 1 in the 4m² scale
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 3) {
      val n = 8 + rnd.nextInt(6)
      val edges = (for {
        u <- 1L to n; v <- (u + 1) to n if rnd.nextDouble() < 0.25
      } yield (u, v)).toSeq
      if (edges.nonEmpty) {
        val m = edges.size.toLong
        val got = mod(edges)
        assert(got.map(_._2).sum <= m, "within-community edges bounded by m")
        assert(got.map(_._3).sum === 2 * m, "degree sums partition 2m")
        assert(got.map(_._4).sum <= 4 * m * m, "Q <= 1")
        val labels = graft.query.Query.labelPropagation(edges.toDF("u", "v"), 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got.length === labels.values.toSet.size, s"trial $trial community count")
      }
    }
  }

  test("g41: connected hubs give φ=1, empty clubs give NULL, random graph matches recount") {
    import spark.implicits._
    // h1(10)—h2(20) plus 3 leaves each: club(k=2) = {h1,h2}, wired → φ=1;
    // club(k=4) is empty → NULL φ, zero counts
    val hubs = Seq((10L, 20L), (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 4L), (20L, 5L), (20L, 6L))
    val rows = CoOrderGraph.richClubOf(hubs.toDF("u", "v"), Seq(2L, 4L))
      .orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(rows.toSeq === Seq((2L, 2L, 1L, 1000000L), (4L, 0L, 0L, -1L)))
    val rnd = new scala.util.Random(41)
    val edges = (for {
      u <- 1L to 14L; v <- (u + 1) to 14L if rnd.nextDouble() < 0.3
    } yield (u, v)).toSeq
    val deg = edges.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (k <- Seq(2L, 3L)) {
      val club = deg.filter(_._2 > k).keySet
      val ek = edges.count { case (u, v) => club(u) && club(v) }.toLong
      val nk = club.size.toLong
      val got = CoOrderGraph.richClubOf(edges.toDF("u", "v"), Seq(k))
        .collect().head
      assert((got.getLong(1), got.getLong(2)) === ((nk, ek)), s"k=$k")
      if (nk >= 2)
        assert(got.getLong(3) === 2000000L * ek / (nk * (nk - 1)), s"k=$k phi")
    }
  }

  test("g50: parity coloring certifies even cycles, witnesses odd cycles, fuzz matches local 2-coloring") {
    import spark.implicits._
    def check(edges: Seq[(Long, Long)], nSeeds: Int, maxDist: Int) =
      CoOrderGraph.bipartiteCheckOf(edges.toDF("u", "v"), nSeeds, maxDist)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // C6 (even cycle): ball from seed 1 covers it in 3 hops — bipartite,
    // 3 even / 3 odd nodes, all 6 edges in the ball, zero conflicts
    val c6 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 6L))
    assert(check(c6, 1, 4)(1L) === ((3L, 3L, 6L, 0L, 1L)))
    // triangle: exactly one same-parity edge (the one closing the cycle)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(check(tri, 1, 4)(1L) === ((1L, 2L, 3L, 1L, 0L)))
    // maxDist = 0: ball is the seed alone — no edges, vacuously bipartite
    // (exercises the left-join coalesce path)
    assert(check(tri, 1, 0)(1L) === ((1L, 0L, 0L, 0L, 1L)))
    // C5 at the bound: dist-4 ball sees all 5 edges, one conflict
    val c5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L))
    assert(check(c5, 1, 4)(1L) === ((3L, 2L, 5L, 1L, 0L)))
    // seeded fuzz vs a local BFS-parity recount on the same ball
    val rnd = new scala.util.Random(50)
    val edges = (for {
      u <- 1L to 16L; v <- (u + 1) to 16L if rnd.nextDouble() < 0.14
    } yield (u, v)).toSeq
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val seeds = adj.keys.toSeq.sorted.take(3)
    val got = check(edges, 3, 4)
    seeds.foreach { seed =>
      var vis = Map(seed -> 0)
      var frontier = Set(seed)
      for (k <- 1 to 4) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- vis.keySet
        vis ++= frontier.map(_ -> k)
      }
      val ball = edges.filter { case (u, v) => vis.contains(u) && vis.contains(v) }
      val conf = ball.count { case (u, v) => (vis(u) + vis(v)) % 2 == 0 }.toLong
      val exp = (vis.values.count(_ % 2 == 0).toLong,
        vis.values.count(_ % 2 == 1).toLong,
        ball.size.toLong, conf, if (conf == 0) 1L else 0L)
      assert(got(seed) === exp, s"seed $seed")
    }
  }

  test("g51: hand cuts countable by eye; fuzz matches local recount across every k") {
    import spark.implicits._
    def cut(edges: Seq[(Long, Long)], ks: Seq[Int]) =
      CoOrderGraph.partitionEdgeCutOf(edges.toDF("u", "v"), ks)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // path 0-1-2-3 at k=2: edges (0,1), (1,2), (2,3) ALL cross parity →
    // cut 3/3; partitions {0,2} and {1,3} → balance 2, both non-empty
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    assert(cut(path, Seq(2))(2L) === ((3L, 3L, 1000000L, 2L, 2L)))
    // same-parity edges never cut at k=2
    assert(cut(Seq((0L, 2L), (1L, 3L)), Seq(2))(2L) === ((2L, 0L, 0L, 2L, 2L)))
    val rnd = new scala.util.Random(51)
    val edges = (for {
      u <- 1L to 20L; v <- (u + 1) to 20L if rnd.nextDouble() < 0.15
    } yield (u, v)).toSeq
    val nodes = edges.flatMap { case (u, v) => Seq(u, v) }.distinct
    val got = cut(edges, Seq(2, 3, 5))
    for (k <- Seq(2L, 3L, 5L)) {
      val nCut = edges.count { case (u, v) => u % k != v % k }.toLong
      val byPart = nodes.groupBy(_ % k).view.mapValues(_.size.toLong)
      assert(got(k) === ((edges.size.toLong, nCut,
        1000000L * nCut / edges.size, byPart.values.max,
        byPart.size.toLong)), s"k=$k")
    }
  }

  test("g52: landmark estimates are sound upper bounds, exact through an on-path landmark, fuzz-verified") {
    import spark.implicits._
    def est(edges: Seq[(Long, Long)], nL: Int, nP: Int, maxD: Int) =
      CoOrderGraph.landmarkDistancesOf(edges.toDF("u", "v"), nL, nP, maxD)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // star around landmark 1: every probe pair (u, v) has est exactly 2
    // via landmark 1 (which sits on every shortest path)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val gotStar = est(star, 1, 4, 4)
    assert(gotStar((2L, 3L)) === ((2L, 1L, 1L)))
    assert(gotStar((3L, 4L)) === ((2L, 1L, 1L)))
    // path 1-2-3: landmark 1 gives est(2,3) = d(2,1)+d(1,3) = 3 — an
    // over-estimate of the true distance 1, but a valid upper bound
    assert(est(Seq((1L, 2L), (2L, 3L)), 1, 3, 4)((2L, 3L))._1 === 3L)
    // fuzz: every estimate ≥ the true BFS distance, and equals the
    // local min over landmarks of d(u,l)+d(l,v)
    val rnd = new scala.util.Random(52)
    val edges = (for {
      u <- 1L to 16L; v <- (u + 1) to 16L if rnd.nextDouble() < 0.16
    } yield (u, v)).toSeq
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    def bfs(src: Long, cap: Int): Map[Long, Int] = {
      var vis = Map(src -> 0); var fr = Set(src)
      for (k <- 1 to cap) {
        fr = fr.flatMap(adj.getOrElse(_, Set.empty)) -- vis.keySet
        vis ++= fr.map(_ -> k)
      }
      vis
    }
    val nodes = adj.keys.toSeq.sorted
    val lms = nodes.take(3)
    val probes = nodes.take(8)
    val dl = lms.map(l => l -> bfs(l, 4)).toMap
    val got = est(edges, 3, 8, 4)
    for { u <- probes; v <- probes if u < v } {
      val cands = lms.flatMap(l =>
        for { du <- dl(l).get(u); dv <- dl(l).get(v) } yield (du + dv.toLong, l))
      if (cands.isEmpty) assert(!got.contains((u, v)), s"($u,$v) phantom bound")
      else {
        val (s, l) = cands.min
        assert(got((u, v)) === ((s, l, cands.size.toLong)), s"($u,$v)")
        val truth = bfs(u, 16).get(v)
        truth.foreach(t => assert(s >= t, s"($u,$v) bound $s below true $t"))
      }
    }
  }
}
