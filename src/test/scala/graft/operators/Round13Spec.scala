package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-13 semantics pins, starting with the chemicals_and_diseases
  * notebook composition (g53): every decoy axis of the 3-hop
  * mixed-direction chain, the mid-chain score threshold, and the
  * DISTINCT-collect rollup, on a hand graph where the expected output is
  * computable by eye.
  */
@graft.DeepTest
class Round13Spec extends SparkSpec {
  import spark.implicits._

  test("g53 composition: type/direction decoys, threshold, DISTINCT rollup") {
    // chain: c1 -affects-> {gA, gB}; evidence rows target genes and point
    // at diseases; decoys cover each semantic axis:
    //  * c1 -other_rel-> gX  — hop-1 TYPE decoy (eX behind it scores 0.99)
    //  * gA -targetId-> e4   — hop-2 DIRECTION decoy (real evidence node;
    //                          a wrongly-"out" hop 2 reaches d2 via gA)
    //  * d9 -diseaseId-> e1  — hop-3 DIRECTION decoy (a wrongly-"in"
    //                          hop 3 reports d9 as a disease)
    //  * e2 scores 0.50      — the mid-chain threshold must drop it
    val edges = Seq(
      ("c1", "gA", "biolink:affects"),
      ("c1", "gB", "biolink:affects"),
      ("c1", "gX", "biolink:other_rel"),
      ("e1", "gA", "otar:targetId"),
      ("e2", "gA", "otar:targetId"),
      ("e3", "gB", "otar:targetId"),
      ("e4", "gB", "otar:targetId"),
      ("eX", "gX", "otar:targetId"),
      ("gA", "e4", "otar:targetId"),
      ("e1", "d1", "otar:diseaseId"),
      ("e2", "d1", "otar:diseaseId"),
      ("e3", "d1", "otar:diseaseId"),
      ("e4", "d2", "otar:diseaseId"),
      ("eX", "d1", "otar:diseaseId"),
      ("d9", "e1", "otar:diseaseId"))
      .toDF("fromNodeId", "toNodeId", "edgeType")
    val chems = Seq(("c1", "metformin")).toDF("chemical", "chem_nm")
    val evScore = Seq(
      ("e1", "0.95", 95L), ("e2", "0.50", 50L),
      ("e3", "0.91", 91L), ("e4", "0.93", 93L), ("eX", "0.99", 99L))
      .toDF("evidence", "score_str", "centi")
    val geneNames = Seq(("gA", "INS"), ("gB", "PRKAB1"), ("gX", "DECOY"))
      .toDF("gene", "gene_nm")
    val diseaseNames = Seq(("d1", "T2D"), ("d2", "PCOS"), ("d9", "WRONGDIR"))
      .toDF("disease", "disease_nm")
    val out = MaterialiseOps.otarRollup(edges, chems, evScore, geneNames, diseaseNames)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSeq
    // d1 gets e1 (gA, 0.95) + e3 (gB, 0.91) — e2 thresholded out, eX only
    // reachable through the wrong-typed hop-1 edge; d2 gets e4 (gB, 0.93)
    assert(out === Seq(
      ("metformin", "PCOS", "PRKAB1", 1L, 0.93),
      ("metformin", "T2D", "INS|PRKAB1", 2L, (95.0 + 91.0) / 200.0)),
      s"rollup mismatch: $out")
  }

  test("g53 rollup: DISTINCT collapses repeat gene evidence; avg keeps multiplicity") {
    // two evidence rows for the SAME (chemical, gene, disease): the gene
    // list and num_genes must collapse to one, the avg must use both —
    // the exact distinction between collect(DISTINCT)/count(DISTINCT)
    // and avg over match rows in the notebook's Cypher
    val edges = Seq(
      ("c1", "gA", "biolink:affects"),
      ("e1", "gA", "otar:targetId"),
      ("e2", "gA", "otar:targetId"),
      ("e1", "d1", "otar:diseaseId"),
      ("e2", "d1", "otar:diseaseId"))
      .toDF("fromNodeId", "toNodeId", "edgeType")
    val chems = Seq(("c1", "chem")).toDF("chemical", "chem_nm")
    val evScore = Seq(("e1", "0.90", 90L), ("e2", "0.96", 96L))
      .toDF("evidence", "score_str", "centi")
    val geneNames = Seq(("gA", "G")).toDF("gene", "gene_nm")
    val diseaseNames = Seq(("d1", "D")).toDF("disease", "disease_nm")
    val out = MaterialiseOps.otarRollup(edges, chems, evScore, geneNames, diseaseNames)
      .collect().map(r => (r.getString(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(out === Seq(("G", 1L, (90.0 + 96.0) / 200.0)), s"got $out")
  }

  test("q34: the regex projection is a FULL match (Cypher =~), not a search") {
    // ids for doc 7: [xhp:7, mp:7, hp:7, hp:7z] — unanchored search
    // semantics would keep xhp:7/hp:7z and surface xhp:7 first
    val row = Relational2.regexArrayProjection(spark, "/root/testdata/sf0.001")
      .where(col("doc_id") === 7L).collect()
    assert(row.length === 1)
    assert(row.head.getString(1) === "hp:7",
      s"anchoring lost: picked ${row.head.getString(1)} — substring match leaked through")
    assert(row.head.getLong(2) === 1L,
      "exactly one id full-matches hp:[0-9]* — search semantics kept decoys")
  }

  test("g38 walk-draw uniformity: step choices are ~uniform on a fixed-degree fixture") {
    // The estimate-vs-truth discipline extended to the walk family (the
    // round-12 verdict's item 7): the sketch specs caught three hash
    // degeneracies that mirrored oracles were structurally blind to
    // (g32 DOULION, d12 minhash, the HLL rank collapse). Here the truth
    // is UNIFORMITY itself: on K_40 every node has degree 39, so the
    // 1000 draws (40 starts x 25 steps) must spread over ranks 1..39
    // like 1000 uniform draws would — a chi-square bound far above
    // random fluctuation but far below any mod-degeneracy (the old
    // linear draw collapsed onto a handful of residues, chi2 >> 1000).
    val n = 40
    val pairs = (for { u <- 0 until n; v <- u + 1 until n } yield (u.toLong, v.toLong))
      .toDF("u", "v")
    val steps = 25
    val walks = CoOrderGraph.walksOf(pairs, steps)
      .select(col("start"), col("node"), col("step")).localCheckpoint()
    val adj = pairs.select(col("u").as("node"), col("v").as("nbr"))
      .union(pairs.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ranked = CoOrderGraph.rankedAdjacency(adj, deg)
    // recover each draw's chosen rank: step i's node is the nbr picked
    // from step i-1's node
    val prev = walks.select(col("start"), col("node").as("pnode"),
      (col("step") + 1).as("step"))
    val ranks = walks.where(col("step") >= 1)
      .join(prev, Seq("start", "step"))
      .join(ranked.select(col("node").as("pnode"), col("nbr").as("node"), col("rn")),
        Seq("pnode", "node"))
      .groupBy(col("rn")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val draws = ranks.values.sum
    assert(draws === (n * steps).toLong, s"expected ${n * steps} draws, got $draws")
    val degN = (n - 1).toLong
    val e = draws.toDouble / degN
    val chi2 = (1L to degN).map(r => {
      val o = ranks.getOrElse(r, 0L).toDouble
      (o - e) * (o - e) / e
    }).sum
    // df = 38: mean 38, sd ~8.7; 100 is ~7 sd above the mean yet any
    // residue collapse scores in the thousands
    assert(chi2 < 100.0, f"step-choice frequencies far from uniform: chi2=$chi2%.1f " +
      s"over $degN ranks (counts ${ranks.toSeq.sortBy(_._1)})")
    assert(ranks.size === degN.toInt,
      s"only ${ranks.size} of $degN ranks ever drawn — residue collapse")
  }

  test("st52: random pair splits with a redelivered batch replay to batch g48") {
    // the IVM contract: per-batch folds over ARBITRARY splits of the
    // lineitem pair set — including a full redelivery of an earlier
    // batch under a new id, which must anti-join to an empty delta
    // (set-state idempotence) — serve exactly the batch chain
    val d = "/root/testdata/sf0.001"
    val expected = MaterialiseOps.gwasChain(spark, d)
      .collect().map(_.toSeq).toSeq
    val prefix = MaterialiseOps.gwasPrefix(spark, d).localCheckpoint()
    val alleles = MaterialiseOps.gwasAlleles(spark, d).localCheckpoint()
    val pairs = graft.core.Tables.lineitem(spark, d)
      .select(graft.core.Pad.node("s:", col("l_suppkey")).as("massoc"),
        graft.core.Pad.node("p:", col("l_partkey")).as("allele"))
    val dir = java.nio.file.Files.createTempDirectory("st52spec").toString
    val rng = new scala.util.Random(13052L)
    val salt = rng.nextInt(97)
    for (b <- 0 until 3)
      graft.streaming.Streaming.gwasChainFold(spark, dir, prefix, alleles,
        pairs.where((xxhash64(col("massoc"), col("allele"), lit(salt)) % 3 + 3) % 3 === b),
        b.toLong)
    // redeliver batch 1's slice under a fresh id: must change nothing
    graft.streaming.Streaming.gwasChainFold(spark, dir, prefix, alleles,
      pairs.where((xxhash64(col("massoc"), col("allele"), lit(salt)) % 3 + 3) % 3 === 1),
      3L)
    val got = graft.streaming.Streaming.gwasChainServe(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(got === expected, "IVM replay diverged from batch g48")
  }

  test("st53 bilinear terms: every arrival order of a path's two constituents lands once") {
    import graft.streaming.Streaming
    val chems = Seq(("c1", "chem")).toDF("chemical", "chem_nm")
    val gn = Seq(("gA", "G_A"), ("gB", "G_B")).toDF("gene", "gene_nm")
    val dn = Seq(("d1", "D1")).toDF("disease", "disease_nm")
    val dir = java.nio.file.Files.createTempDirectory("st53spec").toString
    def ev(rows: (String, String, String, Long)*): org.apache.spark.sql.DataFrame =
      rows.toDF("ev", "gene", "disease", "centi")
    def aff(rows: (String, String)*): org.apache.spark.sql.DataFrame =
      rows.toDF("chem", "gene")
    def fold(e: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame, id: Long) =
      Streaming.chemDiseasesFold(spark, dir, chems, gn, dn, e, a, id)
    // batch 0: pair and evidence TOGETHER (the Δa⋈Δe cross term)
    fold(ev(("e1", "gA", "d1", 95L)), aff(("c1", "gA")), 0L)
    // batch 1: evidence arrives AFTER its pair (old_a ⋈ Δe), plus
    // evidence whose pair hasn't arrived yet, and a sub-threshold row
    fold(ev(("e2", "gA", "d1", 91L), ("e3", "gB", "d1", 93L),
      ("e4", "gA", "d1", 50L)), aff(), 1L)
    // batch 2: the pair arrives AFTER its evidence (Δa ⋈ old_e)
    fold(ev(), aff(("c1", "gB")), 2L)
    // batch 3: full redelivery of batch 0 under a new id — no-op
    fold(ev(("e1", "gA", "d1", 95L)), aff(("c1", "gA")), 3L)
    val got = Streaming.chemDiseasesServe(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got === Seq(("chem", "D1", "G_A|G_B", 2L, 279.0 / 300.0)),
      s"bilinear fold diverged: $got")
  }

  test("st53: random row splits of lineitem replay to batch g53") {
    import graft.streaming.Streaming
    val d = "/root/testdata/sf0.001"
    val expected = MaterialiseOps.chemDiseases(spark, d).collect().map(_.toSeq).toSeq
    val chems = MaterialiseOps.otarChems(spark, d).localCheckpoint()
    val gn = graft.core.Tables.part(spark, d)
      .select(graft.core.Pad.node("p:", col("p_partkey")).as("gene"),
        col("p_name").as("gene_nm")).localCheckpoint()
    val dn = graft.core.Tables.supplier(spark, d)
      .select(graft.core.Pad.node("s:", col("s_suppkey")).as("disease"),
        col("s_name").as("disease_nm")).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("st53fuzz").toString
    val li = graft.core.Tables.lineitem(spark, d)
    val slice = (b: Int) => li.where(
      (xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), lit(17)) % 3 + 3) % 3 === b)
    for (b <- 0 until 3) {
      val s0 = slice(b)
      Streaming.chemDiseasesFold(spark, dir, chems, gn, dn,
        MaterialiseOps.otarEvidence(s0)
          .select(col("ev"), col("gene"), col("disease"), col("centi")),
        MaterialiseOps.otarAffects(spark, d, s0).select(col("chem"), col("gene"))
          .join(chems.select(col("chemical").as("chem")), Seq("chem"), "left_semi"),
        b.toLong)
    }
    val got = Streaming.chemDiseasesServe(spark, dir).collect().map(_.toSeq).toSeq
    assert(got === expected, "st53 replay diverged from batch g53")
  }

  test("x16 deletion vectors are value-blind: of two byte-identical rows, only the tombstoned position dies") {
    // a predicate- or value-keyed delete cannot distinguish identical
    // rows — the position tombstone must
    val dir = java.nio.file.Files.createTempDirectory("dvspec").toString
    Seq((1L, "same", "src", 4L), (1L, "same", "src", 4L))
      .toDF("doc_id", "source", "lang", "n_chars")
      .coalesce(1).write.parquet(s"$dir/data")
    spark.read.parquet(s"$dir/data")
      .select(col("_metadata.file_path").as("f"), col("_metadata.row_index").as("pos"))
      .where(col("pos") === 0L)
      .write.parquet(s"$dir/dv")
    val got = XmlOps.dvServe(spark, s"$dir/data", s"$dir/dv").collect()
    assert(got.length === 1,
      s"expected exactly one of the two identical rows to survive, got ${got.length}")
  }

  test("x16 dvBuild evaluates the predicate once; the serve sees post-delete state") {
    val dir = java.nio.file.Files.createTempDirectory("dvspec2").toString
    Seq((1L, "a", "de", 1L), (2L, "b", "en", 1L), (3L, "c", "de", 1L))
      .toDF("doc_id", "source", "lang", "n_chars")
      .coalesce(1).write.parquet(s"$dir/data")
    XmlOps.dvBuild(spark, s"$dir/data", col("lang") === "de", s"$dir/dv")
    val got = XmlOps.dvServe(spark, s"$dir/data", s"$dir/dv")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(2L), s"DV delete of lang=de rows left $got")
  }

  test("g54: temporal reachability refuses backwards-in-time paths; foremost arrival is minimal") {
    // s --(day 5)--> a --(day 3)--> b : statically reachable, temporally
    // NOT (the a->b contact predates arrival at a). s reaches c on day 5
    // via a (edge dated 6... two routes pin minimality: via a on day 6,
    // direct on day 9 -> foremost = day 6). Same-day traversal allowed
    // (>=): s -> e (day 1) -> f (day 1).
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2020-01-$day%02d 00:00:00")
    val edges = Seq(
      ("s", "a", ts(5)), ("a", "b", ts(3)),
      ("a", "c", ts(6)), ("s", "c", ts(9)),
      ("s", "e", ts(1)), ("e", "f", ts(1)))
      .toDF("from", "to", "dt")
    val seeds = Seq(("s", "s", ts(1))).toDF("seed", "node", "arr")
    val got = MaterialiseOps.temporalReachabilityOf(edges, seeds, 3)
      .collect().map(r => (r.getString(1), r.getTimestamp(2))).toMap
    assert(!got.contains("b"),
      "reached b through an edge dated BEFORE the arrival at its source")
    assert(got("c") === ts(6), s"foremost arrival at c should be day 6, got ${got("c")}")
    assert(got("f") === ts(1), "same-day traversal (>=) must be allowed")
    assert(got("a") === ts(5) && got("e") === ts(1) && got("s") === ts(1))
  }

  test("st54: a later contact UNLOCKS an old edge — the cascade the insert-only view needs") {
    import graft.pipeline.IncrementalTemporal
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2020-01-$day%02d 00:00:00")
    def e(rows: (String, String, Int)*): org.apache.spark.sql.DataFrame =
      rows.map { case (f, t, dd) => (f, t, ts(dd)) }.toDF("from", "to", "dt")
    val seeds = Seq(("s", "s", ts(1))).toDF("seed", "node", "arr")
    val dir = java.nio.file.Files.createTempDirectory("st54spec").toString
    // batch 0: a→b contact on day 5 exists, but a is only reachable on
    // day 9 — the day-5 contact is time-locked
    IncrementalTemporal.update(spark, dir, e(("a", "b", 5), ("s", "a", 9)), seeds, 0L)
    val after0 = IncrementalTemporal.current(spark, dir)
      .collect().map(r => r.getString(1) -> r.getTimestamp(2)).toMap
    assert(!after0.contains("b"), s"b must be time-locked after batch 0: $after0")
    assert(after0("a") === ts(9))
    // batch 1: an EARLIER s→a contact (day 2) arrives late. arr(a)
    // improves to 2, which UNLOCKS the day-5 a→b contact from batch 0 —
    // the improvement must cascade through the ACCUMULATED edge set
    IncrementalTemporal.update(spark, dir, e(("s", "a", 2)), seeds, 1L)
    val after1 = IncrementalTemporal.current(spark, dir)
      .collect().map(r => r.getString(1) -> r.getTimestamp(2)).toMap
    assert(after1("a") === ts(2), s"arrival at a must improve: $after1")
    assert(after1.get("b").contains(ts(5)),
      s"the unlocked old contact must now be traversed: $after1")
    // redelivering batch 1's contact under a new id changes nothing
    IncrementalTemporal.update(spark, dir, e(("s", "a", 2)), seeds, 2L)
    val after2 = IncrementalTemporal.current(spark, dir)
      .collect().map(r => r.getString(1) -> r.getTimestamp(2)).toMap
    assert(after2 === after1, "redelivery must be a no-op")
  }

  test("st54: random contact splits replay to batch g54") {
    import graft.pipeline.IncrementalTemporal
    val d = "/root/testdata/sf0.001"
    val expected = MaterialiseOps.temporalReachability(spark, d)
      .collect().map(_.toSeq).toSeq
    val seeds = graft.core.Tables.orders(spark, d).where(col("o_custkey") % 100 === 1)
      .groupBy(col("o_custkey")).agg(min(col("o_orderdate")).as("arr"))
      .select(graft.core.Pad.node("c:", col("o_custkey")).as("seed"),
        graft.core.Pad.node("c:", col("o_custkey")).as("node"), col("arr"))
      .localCheckpoint()
    val e0 = graft.core.Tables.orders(spark, d)
      .join(graft.core.Tables.lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .select(graft.core.Pad.node("c:", col("o_custkey")).as("c"),
        graft.core.Pad.node("p:", col("l_partkey")).as("p"), col("o_orderdate").as("dt"))
      .distinct()
    val contacts = e0.select(col("c").as("from"), col("p").as("to"), col("dt"))
      .union(e0.select(col("p").as("from"), col("c").as("to"), col("dt")))
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("st54fuzz").toString
    for (b <- 0 until 3)
      IncrementalTemporal.update(spark, dir,
        contacts.where((xxhash64(col("from"), col("to"), col("dt"), lit(7)) % 3 + 3) % 3 === b),
        seeds, b.toLong)
    val got = IncrementalTemporal.current(spark, dir)
      .orderBy(col("seed"), col("node")).collect().map(_.toSeq).toSeq
    assert(got === expected, "st54 replay diverged from batch g54")
  }

  test("x17 cdcDiff: all three change arms fire and unchanged rows are suppressed") {
    val g0 = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("doc_id", "old_chars")
    val g1 = Seq((1L, 10L), (2L, 25L), (4L, 40L)).toDF("doc_id", "new_chars")
    val got = XmlOps.cdcDiff(g0, g1)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got === Seq(
      (2L, "update", 20L, 25L),
      (3L, "delete", 30L, -1L),
      (4L, "insert", -1L, 40L)), s"diff arms wrong: $got")
  }

  test("p19: drift residuals telescope to zero and the novel-bucket arm is NULL-signalled") {
    // ground truth independent of the oracle: sum over buckets of
    // n_cur*T_ref - n_ref*T_cur = T_cur*T_ref - T_ref*T_cur = 0, for
    // ANY pair of slices — a sign or scaling bug breaks the telescope
    val rows = ProfilerOps.sliceDrift(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(3)).sum === 0L,
      "cross-multiplied drift residuals must telescope to zero")
    rows.foreach { r =>
      val nullRatio = r.isNullAt(4)
      assert(nullRatio === (r.getLong(1) == 0L),
        s"share_ratio_ppm must be NULL exactly when the reference bucket is empty: $r")
    }
  }

  test("st55: merged slice-histogram partials equal batch p19 on any split") {
    val rng = new scala.util.Random(55055L)
    val batch = ProfilerOps.sliceDrift(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    // the exact rows p19 buckets, split into random batches and
    // re-merged the way st55's serving read does
    val rows = graft.core.Tables.orders(spark, "/root/testdata/sf0.001")
      .select((col("o_custkey") % 2 === 0).as("is_ref"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) div 5000000")
          .as("bucket"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1))).toSeq
    for (trial <- 1 to 2) {
      val nB = 2 + rng.nextInt(3)
      val merged = rows.groupBy(_ => rng.nextInt(nB)).values.toSeq
        .map(b => b.toDF("is_ref", "bucket").groupBy(col("bucket"))
          .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
            sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur")))
        .reduce[org.apache.spark.sql.DataFrame](_ unionByName _)
        .groupBy(col("bucket"))
        .agg(sum(col("n_ref")).as("n_ref"), sum(col("n_cur")).as("n_cur"))
      val got = ProfilerOps.sliceDriftOfHist(merged).collect().map(_.toSeq).toSeq
      assert(got === batch, s"st55 trial $trial ($nB batches) diverged from batch p19")
    }
  }

  test("g55: hand-computed HITS half-steps on a 2x2 bipartite fixture") {
    // c1→{s1,s2}, c2→{s1}:
    //   a1: s1=2 s2=1;  h1: c1=2+1=3 c2=2
    //   a2: s1=3+2=5 s2=3;  h2: c1=5+3=8 c2=5
    val edges = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("c", "p")
    val got = MaterialiseOps.hitsOf(edges)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(got === Seq(
      ("auth", 10L, 2L, 5L), ("auth", 20L, 1L, 3L),
      ("hub", 1L, 3L, 8L), ("hub", 2L, 2L, 5L)), s"HITS fixture wrong: $got")
  }

  test("x19 safety: a file shared with ANY live generation never plans for deletion") {
    // gen 0 expired; gens 1,2 live. fA is gen-0-only (deletable), fB is
    // shared gen0+gen1 (NOT deletable), fC is live-only, fD appears in
    // two expired gens but also gen 2 (NOT deletable — the multi-expired
    // trap a naive except-per-generation gets wrong)
    val refs = Seq(
      (0L, "fA", 1L), (0L, "fB", 2L), (0L, "fD", 3L),
      (1L, "fB", 2L), (1L, "fC", 4L), (1L, "fD", 3L),
      (2L, "fC", 4L), (2L, "fD", 3L)).toDF("gen", "file", "bucket")
    val del1 = XmlOps.vacuumPlanOf(refs, keepFromGen = 1L)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(del1 === Seq("fA"), s"keep>=1 must reclaim exactly fA: $del1")
    // tighter retention (only gen 2 live): fB loses its last live ref
    val del2 = XmlOps.vacuumPlanOf(refs, keepFromGen = 2L)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(del2 === Seq("fA", "fB"), s"keep>=2 must reclaim fA and fB: $del2")
    // nothing expired -> nothing planned
    assert(XmlOps.vacuumPlanOf(refs, keepFromGen = 0L).count() === 0L)
  }

  test("st56: cross-batch credit terms and redelivery on the hand fixture") {
    import graft.pipeline.IncrementalHits
    val dir = java.nio.file.Files.createTempDirectory("st56spec").toString
    def snap(): Seq[(String, Long, Long, Long)] = IncrementalHits.current(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    IncrementalHits.update(spark, dir, Seq((1L, 10L)).toDF("c", "p"), 0L)
    assert(snap() === Seq(("auth", 10L, 1L, 1L), ("hub", 1L, 1L, 1L)))
    // batch 1 adds c2→s1 and c1→s2: every level's credit term must score
    // new-edge walks against the PRE-batch level below (batch g55 on the
    // union is the g55 fixture: s1=(2,5) s2=(1,3) c1=(3,8) c2=(2,5))
    IncrementalHits.update(spark, dir, Seq((2L, 10L), (1L, 20L)).toDF("c", "p"), 1L)
    val after1 = snap()
    assert(after1 === Seq(
      ("auth", 10L, 2L, 5L), ("auth", 20L, 1L, 3L),
      ("hub", 1L, 3L, 8L), ("hub", 2L, 2L, 5L)), s"IVM diverged: $after1")
    // redelivering batch 1 under a new id is a no-op
    IncrementalHits.update(spark, dir, Seq((2L, 10L), (1L, 20L)).toDF("c", "p"), 2L)
    assert(snap() === after1, "redelivery must be a no-op")
  }

  test("st56: random edge splits replay to batch g55") {
    import graft.pipeline.IncrementalHits
    val d = "/root/testdata/sf0.001"
    val expected = MaterialiseOps.hitsScores(spark, d).collect().map(_.toSeq).toSeq
    val edges = graft.core.Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("c"))
      .join(graft.core.Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_suppkey").cast("long").as("p")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("c"), col("p")).distinct().localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("st56fuzz").toString
    for (b <- 0 until 3)
      IncrementalHits.update(spark, dir,
        edges.where((xxhash64(col("c"), col("p"), lit(56)) % 3 + 3) % 3 === b), b.toLong)
    val got = IncrementalHits.current(spark, dir)
      .orderBy(col("kind"), col("id")).collect().map(_.toSeq).toSeq
    assert(got === expected, "st56 replay diverged from batch g55")
  }

  test("st57: changelog partials are semigroups — split-merged state equals the batch changelog pick") {
    // the trap: a per-batch "last event" that isn't merged as a struct
    // max would let batch order decide the op. Rows for one user split
    // so the true last event (error -> delete) lands in the FIRST batch.
    val rows = Seq(
      // (user_id, us, event_id, event_type, v)
      (1L, 100L, 7L, "error", 5L), (1L, 50L, 3L, "click", 10L),
      (2L, 10L, 1L, "click", 2L), (2L, 20L, 2L, "view", 4L))
    def partial(b: Seq[(Long, Long, Long, String, Long)]) =
      b.toDF("user_id", "us", "event_id", "event_type", "v")
        .groupBy(col("user_id"))
        .agg(sum(col("v")).as("v_part"),
          max(struct(col("us"), col("event_id"), col("event_type"))).as("last"))
    val merged = partial(Seq(rows(0), rows(2)))
      .unionByName(partial(Seq(rows(1), rows(3))))
      .groupBy(col("user_id"))
      .agg(sum(col("v_part")).as("v_cents"), max(col("last")).as("last"))
      .select(col("user_id"), col("v_cents"),
        col("last").getField("event_type").as("lt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    assert(merged === Seq((1L, 15L, "error"), (2L, 6L, "view")),
      s"semigroup merge wrong: $merged")
  }

  test("g57: directed asymmetry — mutual is strictly the forward∩backward set") {
    // ring 1→2→3→1 is mutual from 1; 3→4 dangles forward-only (reaches,
    // never returns); 5→1 backward-only; 6→7 disconnected from seed 1
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L), (6L, 7L))
      .toDF("u", "v")
    val got = MaterialiseOps.mutualReachabilityOf(e, nSeeds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // seeds = 6 smallest u values: 1,2,3,5,6 (4 never appears as u)
    assert(got === Seq(
      (1L, 3L, 1L, 3L),   // {1,2,3}: the welded ring; 4 and 5 excluded
      (2L, 3L, 1L, 3L),
      (3L, 3L, 1L, 3L),
      (5L, 1L, 5L, 5L),   // 5 reaches the ring, the ring never returns
      (6L, 1L, 6L, 6L)),  // 6→7 has no back path
      s"mutual sets wrong: $got")
  }

  test("a13: burst events weigh by held time, not tick count; zero duration is NULL") {
    // user 1 holds v=100 for 10s, then a BURST of three v=900 ticks
    // inside one second, then v=200 for 10s: the burst's intra-second
    // gaps are 0s, so the 900s contribute (almost) nothing — plain avg
    // would read ~560, TWAP reads (100*10 + 200*10)/20 = 150
    val ev = Seq(
      (1L, 0L, 1L, 100L), (1L, 10_000_000L, 2L, 900L),
      (1L, 10_300_000L, 3L, 900L), (1L, 10_600_000L, 4L, 900L),
      (1L, 11_000_000L, 5L, 200L), (1L, 21_000_000L, 6L, 777L),
      // user 2: all events in one second -> dur 0 -> NULL twap
      (2L, 5_000_000L, 7L, 50L), (2L, 5_500_000L, 8L, 60L))
      .toDF("user_id", "us", "event_id", "v")
    val got = Temporal.twapOf(ev).orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(got === Seq((1L, 5L, 20L, 150L), (2L, 1L, 0L, -1L)),
      s"TWAP semantics wrong: $got")
  }

  test("t42: chunks cover every token and consecutive chunks overlap by W-S") {
    val rows = TextAnalysis.passageChunks(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_._1)
    // independent ground truth per document: n_tok from the raw text
    val nTok = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((doc, cs) <- byDoc) {
      val sorted = cs.sortBy(_._2)
      val n = nTok(doc)
      // chunk ids are dense from 0; starts are stride multiples
      assert(sorted.map(_._2) === (0L until sorted.length).toSeq, s"doc $doc ids not dense")
      sorted.foreach { case (_, cid, st, w) =>
        assert(st === cid * 6, s"doc $doc chunk $cid start $st")
        assert(w === math.min(8L, n - st), s"doc $doc chunk $cid width $w")
      }
      // full coverage: last chunk reaches the last token
      val (_, _, lastSt, lastW) = sorted.last
      assert(lastSt + lastW === n, s"doc $doc tail uncovered")
      // overlap: a full-width chunk shares exactly W-S = 2 tokens with its
      // successor; a short chunk already reaches the end (its successors
      // are the contract's documented contained tails)
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, _, s1, w1), (_, _, s2, _)) =>
          if (w1 === 8L) assert(s1 + w1 === s2 + 2, s"doc $doc seam at $s2")
          else assert(s1 + w1 === n, s"doc $doc short chunk at $s1 not at the end")
        case _ =>
      }
    }
  }

  test("st58: a late back-edge promotes forward-only nodes into the mutual set; redelivery is a no-op") {
    import graft.pipeline.IncrementalMutualReach
    val dir = java.nio.file.Files.createTempDirectory("st58spec").toString
    def snap(): Seq[(Long, Long)] = IncrementalMutualReach.current(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // batch 0: 1→2→3, no way back — each seed is mutual only with itself
    IncrementalMutualReach.update(spark, dir,
      Seq((1L, 2L), (2L, 3L)).toDF("u", "v"), 0L)
    assert(snap() === Seq((1L, 1L), (2L, 1L)), s"chain must be mutual-trivial: ${snap()}")
    // batch 1: the closing 3→1 arrives — BOTH directions' states must
    // cascade the improvement through edges folded in EARLIER batches
    IncrementalMutualReach.update(spark, dir, Seq((3L, 1L)).toDF("u", "v"), 1L)
    val after1 = snap()
    assert(after1 === Seq((1L, 3L), (2L, 3L), (3L, 3L)),
      s"ring must become fully mutual: $after1")
    // redelivery changes nothing
    IncrementalMutualReach.update(spark, dir, Seq((3L, 1L)).toDF("u", "v"), 2L)
    assert(snap() === after1, "redelivery must be a no-op")
  }

  test("st58: whole-order splits replay to batch g57") {
    import graft.pipeline.IncrementalMutualReach
    val d = "/root/testdata/sf0.001"
    val expected = MaterialiseOps.mutualReachability(spark, d)
      .collect().map(_.toSeq).toSeq
    val li = graft.core.Tables.lineitem(spark, d)
      .where(col("l_orderkey") % 17 === 0).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("st58fuzz").toString
    // split by ORDER (the atomicity precondition), not by row
    for (b <- 0 until 3)
      IncrementalMutualReach.update(spark, dir,
        MaterialiseOps.orderRingEdges(
          li.where((xxhash64(col("l_orderkey"), lit(58)) % 3 + 3) % 3 === b)),
        b.toLong)
    val got = IncrementalMutualReach.current(spark, dir)
      .orderBy(col("seed")).collect().map(_.toSeq).toSeq
    assert(got === expected, "st58 replay diverged from batch g57")
  }

  test("p20: identical slices read zero; a shifted slice peaks at the shift point") {
    // identical histograms -> every cumulative gap is 0
    val same = Seq((0L, 3L, 3L), (1L, 2L, 2L), (2L, 5L, 5L))
      .toDF("bucket", "n_ref", "n_cur")
    val z = ProfilerOps.ksDriftOfHist(same).collect().head
    assert(z.getLong(2) === 0L, s"identical slices must read max_dx=0: $z")
    // ref occupies buckets {0,1}, cur {1,2}: T=2 each; cum gaps are
    // |1*2-0*2|=2 at b0, |4-2|=2 at b1, 0 at b2 -> max 2, argmin tie at b0
    val shift = Seq((0L, 1L, 0L), (1L, 1L, 1L), (2L, 0L, 1L))
      .toDF("bucket", "n_ref", "n_cur")
    val r = ProfilerOps.ksDriftOfHist(shift).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((2L, 2L, 2L, 0L)), s"shift fixture wrong: $r")
  }

  test("g53 threshold boundary: 0.90 is kept (>=, not >)") {
    val edges = Seq(
      ("c1", "gA", "biolink:affects"),
      ("e1", "gA", "otar:targetId"),
      ("e1", "d1", "otar:diseaseId"))
      .toDF("fromNodeId", "toNodeId", "edgeType")
    val chems = Seq(("c1", "chem")).toDF("chemical", "chem_nm")
    val evScore = Seq(("e1", "0.90", 90L)).toDF("evidence", "score_str", "centi")
    val out = MaterialiseOps.otarRollup(edges, chems, evScore,
      Seq(("gA", "G")).toDF("gene", "gene_nm"),
      Seq(("d1", "D")).toDF("disease", "disease_nm")).count()
    assert(out === 1L, "the boundary score 0.90 must pass the >= 0.9 filter")
  }
}
