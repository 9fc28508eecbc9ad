package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression guards: the properties that make these queries
  * scale (scan pushdown, column pruning, broadcast dims, top-k without a
  * global sort) asserted against the formatted physical plan, so a later
  * refactor cannot silently lose them. */
class PlanSpec extends SparkSpec {

  val d = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.allDefs(name).fn(spark, d)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q1: filter pushed to the parquet scan, columns pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "scan should not read unused columns")
  }

  test("q2: all five dimension joins broadcast") {
    val p = plan("q2_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4)
    assert(!p.contains("CartesianProduct"))
  }

  test("q3: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q3_top_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q9: semi join stays a semi join") {
    assert(plan("q9_parts_with_shipments").contains("LeftSemi"))
  }

  test("d5: near-dup candidates come from equi-joins only, never all-pairs") {
    val p = plan("d5_embedding_neardup")
    assert(!p.contains("CartesianProduct"), "band join degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "band join degenerated to NLJ")
  }

  test("d3: band candidates carry the hot-bucket guard and stay equi-joined") {
    val p = plan("d3_minhash_lsh")
    assert(!p.contains("CartesianProduct"), "band join degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "band join degenerated to NLJ")
    // the per-band size/min window IS the guard — losing it reopens the
    // k²/2 blow-up on boilerplate cliques
    assert(p.contains("Window"), "hot-bucket guard window missing from the candidate stage")
  }

  test("d6: window dedup joins on the window key only, never all-pairs") {
    val p = plan("d6_window_dedup")
    assert(!p.contains("CartesianProduct"), "window grouping degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "window grouping degenerated to NLJ")
  }

  test("t10: repetition signals are one map pass — no join, no explode-shuffle") {
    val p = plan("t10_repetition")
    assert(!p.contains("Join"), "per-doc counters must not join")
  }

  test("d8: simhash candidates come from chunk-band equi-joins, never all-pairs") {
    val p = plan("d8_simhash_neardup")
    assert(!p.contains("CartesianProduct"), "band join degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "band join degenerated to NLJ")
  }

  test("d9: semantic near-dup pairs come from the cluster equi-join, never unbucketed all-pairs") {
    val p = plan("d9_semantic_dedup")
    // the ONLY nested-loop joins allowed are the k-row broadcast centroid
    // fan-outs of the assignment passes; the corpus-vs-corpus pair stage
    // must be an equi-join on the cluster id
    assert(!p.contains("CartesianProduct"), "pair stage degenerated to all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "cluster-id equi-join missing")
  }

  test("s7: PQ ADC scan joins the corpus codes against a BROADCAST lookup table") {
    val p = plan("s7_pq_ann")
    assert(!p.contains("CartesianProduct"), "ADC scan degenerated to all-pairs")
    assert(p.contains("BroadcastHashJoin"), "the (query, subspace, code) LUT must broadcast")
  }

  test("t18: bm25 corpus stats and query terms broadcast; no all-pairs") {
    val p = plan("t18_bm25")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "query-term/stat dimensions should broadcast")
  }

  test("t11: contamination check is a semi-join on the gram — no all-pairs") {
    val p = plan("t11_decontamination")
    assert(p.contains("LeftSemi"), "train-gram containment must stay a semi join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("t12: the bounded trigram-count dimension broadcasts") {
    val p = plan("t12_trigram_familiarity")
    assert(p.contains("BroadcastHashJoin"), "alphabet-bounded dim should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("d16: corpus-wide repeats shuffle the 8-byte hash key, never all-pairs") {
    val p = plan("d16_maximal_repeats")
    assert(!p.contains("CartesianProduct"), "window grouping degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "window grouping degenerated to NLJ")
    // the corpus-wide window stage must key on the rolling hash (a long),
    // not the 40-codepoint raw window — losing this reopens a ~40× shuffle
    // blow-up at corpus scale
    assert(p.contains("hashpartitioning(h#"),
      "window stage no longer keyed on the 8-byte rolling hash")
  }

  test("d19: repeat removal runs the hash-keyed d16 head, never all-pairs") {
    val p = plan("d19_repeat_removal")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("hashpartitioning(h#"),
      "cleaning action lost the 8-byte hash head")
  }

  test("t23: mixture pipeline broadcasts the quota dimension; no all-pairs") {
    val p = plan("t23_mixture_pipeline")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the per-source quota dimension should broadcast")
  }

  test("t28: the source-pair overlap joins on the gram hash, never all-pairs") {
    val p = plan("t28_source_overlap")
    assert(!p.contains("CartesianProduct"), "pair matrix degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the pair join must be an EQUI-join keyed on the md5 gram hash —
    // broadcast at small SF, shuffled-on-gh at scale; both satisfy this
    assert(p.contains("hashpartitioning(gh#") ||
        "(?m)^.*keys.*\\[gh#".r.findFirstIn(p).isDefined,
      s"overlap join no longer keyed on the md5 gram hash:\n$p")
  }

  test("p6: the 256-row sketch broadcasts to the probe join") {
    val p = plan("p6_countmin_sketch")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the bounded sketch dimension should broadcast")
  }

  test("x7: the lang filter prunes partitions at the scan, not after it") {
    // write the partitioned layout once, then pin the pruned read's plan
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_part_planspec"
    graft.core.Tables.documents(spark, d)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("lang").parquet(dir)
    val df = graft.operators.XmlOps.partitionedScanOf(spark, dir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters:") && p.contains("lang#"),
      s"lang filter did not reach the partition pruner:\n$p")
    // pruning happened for real: only the en partition's files are read
    import org.apache.spark.sql.functions.{col, input_file_name}
    val scanned = spark.read.parquet(dir).where(col("lang") === "en")
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(scanned.nonEmpty && scanned.forall(_.contains("lang=en")),
      s"scan read non-en partitions: $scanned")
  }

  test("x18: each generation prunes on ITS OWN partition column and both feed the seam") {
    // build the two-spec layout once, then pin the serving read's plan
    graft.operators.XmlOps.partitionEvolution(spark, d).collect()
    val dir = graft.core.LakeDir.scoped(spark, "pevo", d)
    // recover the threshold the operator derived (min + span/2)
    import org.apache.spark.sql.functions.{col, to_date, min => fmin, max => fmax, input_file_name}
    val b = graft.core.Tables.events(spark, d)
      .agg(fmin(to_date(col("ts"))), fmax(to_date(col("ts")))).collect()(0)
    val mn = b.getDate(0).toLocalDate
    val thr = mn.plusDays(
      java.time.temporal.ChronoUnit.DAYS.between(mn, b.getDate(1).toLocalDate) / 2).toString
    val served = graft.operators.XmlOps.partitionEvolutionServe(spark, dir, thr)
    val p = served.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters:") && p.contains("m#") && p.contains("dday#"),
      s"partition predicates did not reach both pruners:\n$p")
    // pruning happened for real on the coarse side: no pre-threshold month dirs read
    val g0files = spark.read
      .schema("event_id BIGINT, ts TIMESTAMP_NTZ, value DOUBLE, m STRING")
      .parquet(s"$dir/gen_0").where(col("m") >= thr.substring(0, 7))
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSeq
    assert(g0files.nonEmpty && g0files.forall(f =>
        f.split("/").find(_.startsWith("m=")).exists(_.stripPrefix("m=") >= thr.substring(0, 7))),
      s"gen_0 scan read pre-threshold months: $g0files")
    // the seam is exercised: both layouts contribute rows to the answer
    val sides = Seq(s"$dir/gen_0", s"$dir/gen_1").map { g =>
      spark.read.parquet(g).count()
    }
    assert(sides.forall(_ > 0), s"one layout is empty — the seam is untested: $sides")
  }

  test("x20: the candidate set prunes the scan; blooms never false-negative and absent probes skip") {
    import org.apache.spark.sql.functions.{col, lit, md5, input_file_name}
    graft.operators.XmlOps.bloomSkipping(spark, d).collect()
    val dir = graft.core.LakeDir.scoped(spark, "bskip", d)
    val layout = spark.read
      .schema("doc_id BIGINT, fp STRING, n_chars BIGINT, bucket BIGINT")
      .parquet(dir)
    val blooms = layout.groupBy(col("bucket"))
      .agg(graft.functions.Bloom.filterAgg(col("fp"), 64L, 1024L).as("bf"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    // no false negatives: every slice's own fps all pass its bloom
    for ((bkt, blob) <- blooms) {
      val inBucket = layout.where(col("bucket") === bkt)
      val pass = inBucket
        .where(graft.functions.Bloom.mightContain(lit(blob), col("fp"))).count()
      assert(pass === inBucket.count(), s"bucket $bkt bloom dropped a real key")
    }
    // skipping is real: an absent probe passes (almost) no blooms
    val absentHits = blooms.count { case (_, blob) =>
      spark.range(1).select(graft.functions.Bloom.mightContain(lit(blob),
        lit("graft_absent_probe_1")).as("m")).collect().head.getBoolean(0)
    }
    assert(absentHits <= 2, s"absent probe hit $absentHits/16 blooms — index too dense to skip")
    // the isin candidate set reaches the partition pruner: a one-bucket
    // candidate frame scans only that bucket's files
    import spark.implicits._
    val someFp = layout.where(col("bucket") === 3L).select(col("fp"))
      .limit(1).collect().head.getString(0)
    val probes = Seq(someFp).toDF("probe_fp")
    val cand = Seq((someFp, 3L)).toDF("probe_fp", "bucket")
    val served = graft.operators.XmlOps.bloomSkippingServe(spark, dir, probes, cand)
    assert(served.count() >= 1L)
    val scanned = spark.read
      .schema("doc_id BIGINT, fp STRING, n_chars BIGINT, bucket BIGINT")
      .parquet(dir).where(col("bucket").isin(3L))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("bucket=3")),
      s"pruned scan read outside bucket=3: ${scanned.toSeq}")
  }

  test("g27: candidates equi-join on the shared part; the degree dim broadcasts") {
    val p = plan("g27_link_prediction")
    assert(!p.contains("CartesianProduct"), "RA candidates degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "RA candidates degenerated to NLJ")
    assert(p.contains("BroadcastHashJoin"), "part-degree dimension should broadcast")
  }

  test("a6: forward as-of is the one-shuffle union+window, no join at all") {
    val p = plan("a6_asof_forward")
    assert(p.contains("Window"), "forward as-of lost its window form")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "forward as-of degenerated into a join")
  }

  test("p8: the spectrum is two hash aggregations, no join") {
    val p = plan("p8_frequency_spectrum")
    assert(!p.contains("Join"), "count-of-counts should not join anything")
    assert("HashAggregate".r.findAllIn(p).length >= 4) // partial+final × 2 stages
  }

  test("g30: truss wedge-closing stays an equi hash join, never a nested loop") {
    // Round 9's OR-of-orientations closing condition planned as a
    // BroadcastNestedLoopJoin of wedges × edges (~4.5e11 comparisons per
    // peel round at sf0.01) and hung the whole correctness sweep. The
    // peel loop checkpoints eagerly, so pin the SUPPORT plan itself via
    // the maxIter=0 emit, whose lineage is the full wedge enumeration.
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    val p = graft.operators.CoOrderGraph.kTrussOf(e, 3, maxIter = 0)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), "truss closing join degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "truss closing join degenerated to NLJ")
    assert(p.contains("Join"), "the support plan must contain the wedge/closing joins")
  }

  test("g32: the sampled-graph triangle join stays equi-keyed; the sample filter reaches the scan side") {
    val p = plan("g32_triangles_sampled")
    assert(!p.contains("CartesianProduct"), "sampled wedge close degenerated to all-pairs")
    // the 1-row count crossJoin at the top is a BNLJ by construction;
    // the dangerous shape is a cartesian in the wedge/closing stage
  }

  test("a8: gap fill is one calendar left-join + one window — no per-gap probing join") {
    val p = plan("a8_gap_fill")
    assert(p.contains("Window"), "forward fill lost its window form")
    assert(!p.contains("CartesianProduct"), "calendar densify degenerated to all-pairs")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).length <= 2,
      "gap fill should need at most the calendar join + bar join")
  }

  test("g33: weighted LPA rounds stay equi-joins, never all-pairs") {
    val p = plan("g33_weighted_lpa")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("g34: the H-index ROUND windows over value buckets, not raw neighborhoods") {
    // the loop checkpoints eagerly, so the gate's own final plan is a
    // bare post-checkpoint projection — pin the round building block
    import spark.implicits._
    val adj = Seq((1L, 2L), (2L, 1L)).toDF("node", "nbr")
    val h = Seq((1L, 1L), (2L, 1L)).toDF("node", "h")
    val qe = graft.operators.CoOrderGraph.hIndexRound(adj, h).queryExecution
    val p = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Join"), "round must join neighbor values")
    // hub safety: the cumulative-sum window must sit ABOVE the
    // (node, value) bucket aggregate — a window whose input is the raw
    // join output funnels a hub's whole adjacency through one task's sort
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "H-index lost its cumulative-count window")
    assert(wins.forall(_.child.collectFirst { case a: Aggregate => a }.isDefined),
      "window input is the raw neighborhood — bucket aggregate missing below it")
  }

  test("g38: the walk index ranks within neighbor hash-buckets, never one full-neighborhood sort") {
    // same discipline as g34: a window partitioned by the node alone may
    // only sit above an aggregate (≤ WalkBuckets rows per node), never the
    // raw adjacency — otherwise a degree-10⁷ hub funnels its whole
    // neighborhood through one task's sort while building the index
    import spark.implicits._
    val adj = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("node", "nbr")
    val deg = adj.groupBy($"node").agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("deg"))
    val qe = graft.operators.CoOrderGraph.rankedAdjacency(adj, deg).queryExecution
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "walk index lost its ranking windows")
    val nodeOnly = wins.filter(_.partitionSpec.size == 1)
    assert(nodeOnly.forall(_.child.collectFirst { case a: Aggregate => a }.isDefined),
      "a node-partitioned window reads the raw adjacency — bucketed ranking lost")
    assert(wins.exists(_.partitionSpec.size > 1),
      "no (node, bucket) ranking window found — per-task sort is the full neighborhood again")
  }

  test("g48: all four gwas-chain hops stay equi-joins, never all-pairs") {
    val p = plan("g48_gwas_chain")
    assert(!p.contains("CartesianProduct"), "a chain hop degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "a chain hop degenerated to NLJ")
  }

  test("x16: the serving scan never reads the delete-predicate column") {
    // the deletion-vector contract: the predicate is evaluated once at
    // DV-build time; the SERVING read is position-only. The gate's
    // returned plan is the serve side (the build is an action inside the
    // gate), so no ReadSchema in it may include `lang`.
    val p = plan("x16_deletion_vectors")
    val leaked = "ReadSchema:[^\\n]*lang".r.findFirstIn(p)
    assert(leaked.isEmpty,
      s"serving scan reads the predicate column: ${leaked.getOrElse("")}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the (file, position) anti-join degenerated")
  }

  test("g53: chem-disease chain + rollup joins stay equi-joins, never all-pairs") {
    val p = plan("g53_chem_diseases")
    assert(!p.contains("CartesianProduct"), "a chain hop degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "a chain hop degenerated to NLJ")
  }

  test("round-13 matvec/diff/intersect operators stay equi-joins, never all-pairs") {
    // g55: four reinforcement half-steps; g57: the fwd∩bwd intersect tail
    // (the bounded traversals checkpoint eagerly); x17: the generation
    // full-outer diff. Each must plan as hash/sort-merge equi-joins.
    for (name <- Seq("g55_hits", "g57_mutual_reachability", "x17_change_feed",
        "g58_scc_labels")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name degenerated to all-pairs")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name degenerated to NLJ")
    }
  }

  test("round-14 operators stay equi-join/aggregate shaped, never all-pairs") {
    // p21: draw-keyed bottom-k aggregate + inverse-CDF window; p22: MG
    // candidates then an exact recount (its 1-row total is the house
    // broadcast crossJoin, which plans as BNLJ-over-one-row — allowed);
    // x24: the touched-key anti-join + feed union
    for (name <- Seq("p21_sketch_quantiles", "x24_cdc_roundtrip")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name degenerated to all-pairs")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name degenerated to NLJ")
    }
  }

  test("s19: the tombstone list broadcasts; no all-pairs anywhere") {
    val p = plan("s19_tombstoned_ann")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the deleted-rows-small tombstone set should broadcast to the anti-join")
  }

  test("t43: the bounded vocabulary broadcasts to the membership join") {
    val p = plan("t43_oov_rate")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the top-30 vocab should broadcast, not shuffle the token stream")
  }

  test("g49: sweep rounds stay equi-joins; only the two 1-row label crossJoins remain") {
    // the BFS rounds checkpoint eagerly, so the gate's own plan is the
    // output-assembly tail: two (1-row argmax) × (1-row count) cross
    // joins — the documented 1-row pattern. Anything beyond those two,
    // or a CartesianProduct anywhere, means a sweep round degenerated.
    val p = plan("g49_pseudo_diameter")
    assert(!p.contains("CartesianProduct"), "a sweep stage degenerated to all-pairs")
    // tree form "BroadcastNestedLoopJoin Cross ..." counts each physical
    // join once; the detail section "(N) BroadcastNestedLoopJoin" again
    val cross = "BroadcastNestedLoopJoin Cross".r.findAllIn(p).length
    val total = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(total === cross,
      s"a non-Cross nested-loop join appeared ($total joins, $cross cross) — an equi-join lost its keys")
    assert(cross <= 2, s"$cross cross joins — more than the two 1-row label joins")
  }

  test("g35: the strength peel emits through equi-joins only") {
    val p = plan("g35_weighted_kcore")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("s16: filtered ANN joins on the filter key with a broadcast query side, never all-pairs") {
    val p = plan("s16_filtered_ann")
    assert(!p.contains("CartesianProduct"), "filtered search degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"), "query side lost its broadcast")
    // the recall story is only honest if the pre-filter is real: at
    // sf0.001 some true same-language neighbors must fall OUTSIDE the
    // query's sign bucket (in_bucket = 0), i.e. post-filtering an
    // unconstrained index would have missed them
    val rows = SparkEntry.allDefs("s16_filtered_ann").fn(spark, d).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getLong(4) == 0L),
      "every true neighbor is in-bucket — the post-filter recall column is vacuous here")
  }

  test("s17: the bucketed index self-joins with NO exchange — co-location is real") {
    // disable auto-broadcast so the planner must SortMergeJoin: with a
    // bucketed table on the join key, BOTH inputs read co-located bucket
    // files and the join runs shuffle-free — the property that makes
    // repeated candidate-generation passes O(scan), not O(shuffle), at
    // 100 TB. (The gate itself may broadcast at tiny SF; the pin is about
    // what happens when it can't.)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.allDefs("s17_bucketed_selfjoin").fn(spark, d)
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("Bucketed: true"), "scan lost its bucketed layout")
      assert(p.contains("SortMergeJoin"))
      assert(!p.contains("Exchange hashpartitioning"),
        "bucketed self-join re-shuffled — co-location lost")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("g36: the direction-union 2-hop cube is two equi-joins with a broadcast frontier") {
    val p = plan("g36_aggr_count_cube")
    assert(!p.contains("CartesianProduct"), "2-hop cube degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "2-hop cube degenerated to NLJ")
    // hop 1 is one node's incident edges — the hop-2 probe of the full
    // edge table must broadcast it, or a 100 TB edge table shuffles for
    // a single-root exploration query
    assert(p.contains("BroadcastHashJoin"), "root frontier lost its broadcast")
  }

  test("q29: decorrelation is real — equi joins only, supplier dim broadcasts") {
    val p = plan("q29_sole_late_supplier")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the multi-EXISTS decorrelation degenerated to per-row probing")
    assert(p.contains("BroadcastHashJoin"), "supplier name dim lost its broadcast")
  }

  test("t35: signature mins combine map-side; corpus-scale stages never go all-pairs") {
    val p = plan("t35_source_signature")
    // the ONE corpus-touching aggregation must be partial (K mins fold
    // per task before the source-keyed shuffle) — the property that
    // makes per-source state K longs at 100 TB
    assert(p.contains("partial_min"), "signature aggregation lost map-side combine")
    // the only non-equi join allowed is the S-row source-dimension pair
    // frame (all-pairs over SOURCES is the output, not a degeneracy; it
    // plans as a broadcast NLJ over the tiny side) — anything
    // corpus-sized going all-pairs would surface as a CartesianProduct
    assert(!p.contains("CartesianProduct"), "corpus-side all-pairs join")
  }

  test("g39: assortativity is two vertex-keyed equi-joins with partial degree counts") {
    val p = plan("g39_assortativity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count"), "degree aggregation lost map-side combine")
  }

  test("a10: sessionization is pure per-user windows + one combinable agg — no join anywhere") {
    val p = plan("a10_sessionize")
    assert(!p.contains("Join"), "sessionization must not join")
    // both windows partition by user_id — a global (unpartitioned)
    // window here would funnel the whole stream through one task
    assert(p.contains("Window"), "lag/running-sum windows missing")
    assert(p.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("user_id")),
      "a window lost its user_id partitioning")
  }

  test("t39: per-source totals broadcast; the word-keyed join is the only wide shuffle") {
    val p = plan("t39_source_divergence")
    assert(!p.contains("CartesianProduct"), "corpus-side all-pairs join")
    // the source-totals dim and the 1-row corpus total must broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1,
      "per-source totals lost their broadcast")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "unigram counts lost map-side combine")
  }

  test("g42: frontier expansion is an equi-join + anti-join, never all-pairs") {
    // pin the ROUND shape (the loop materialises checkpoints, so pin
    // one round's frame directly): one hash equi-join on the vertex
    // key, one left-anti against visited
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val df = graft.operators.CoOrderGraph.bfsLayersOf(pairs, 2, 1)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("x11: the time cut reaches the rewritten scan as a pushed literal filter") {
    // run once to materialise the layout, then pin the read's plan
    SparkEntry.allDefs("x11_range_layout").fn(spark, d).collect()
    val dir = graft.core.LakeDir.scoped(spark, "range", d)
    val read = graft.operators.XmlOps.rangeLayoutOf(spark, dir, 123456789L)
    val p = read.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters") && p.contains("LessThan(us,123456789)"),
      s"time filter did not reach the parquet scan:\n$p")
  }

  test("whole-stage codegen hosts the custom expressions") {
    val df = SparkEntry.allDefs("t4_fingerprint").fn(spark, d)
    df.collect() // execute THIS plan so AQE finalizes it (count() would plan separately)
    val executed = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark operators inside a WholeStageCodegen span
    assert(executed.linesIterator.exists(l => l.contains("rolling_hash") && l.contains("*(")),
      s"custom expression fell out of codegen:\n$executed")
  }
}
