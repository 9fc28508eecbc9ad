package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.scalatest.BeforeAndAfterAll

/** Library-grade degradation: every operator must survive an EMPTY corpus
  * (first run of a new pipeline, a filter that drops everything) without
  * throwing — returning zero rows (or the operator's documented scalar
  * zero) instead. The oracle gates never exercise this; real deployments
  * hit it on day one. */
@graft.DeepTest
class EmptyInputSpec extends SparkSpec with BeforeAndAfterAll {

  private var made: Option[String] = None

  override def afterAll(): Unit =
    try made.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    finally super.afterAll()

  /** Empty twin of the testdata layout: same schemas, zero rows. */
  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    made = Some(dir)
    // events carries TIMESTAMP(NANOS): read nanos-as-long (what
    // Tables.events expects of the raw file) so the empty twin keeps the
    // same physical schema contract
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (t <- Seq("documents", "embeddings", "events", "customer", "orders",
        "lineitem", "supplier", "nation", "region", "part")) {
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .limit(0).write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private val zeroRowOps = Seq(
    "d9_semantic_dedup", "d10_minhash_estimate", "d11_cdc_chunks",
    "s7_pq_ann", "g18_pagerank", "g20_node_similarity",
    "t18_bm25", "t19_mixture_weights", "t20_quality_buckets",
    "t22_bigram_lm", "a3_funnel", "a4_retention",
    "q26_moving_window", "q28_running_distinct", "m5_media_dedup",
    "m6_scene_detect", "p2_profile_embeddings", "p3_correlation_stats")

  test("round-5 operators return zero rows on an empty corpus, not an exception") {
    val defs = graft.SparkEntry.allDefs
    for (name <- zeroRowOps) {
      val n = defs(name).fn(spark, emptyDir).count()
      assert(n === 0L, s"$name returned $n rows on empty input")
    }
  }

  test("round-6 operators return zero rows on an empty corpus, not an exception") {
    val defs = graft.SparkEntry.allDefs
    for (name <- Seq("d16_maximal_repeats", "d17_centroid_dendrogram",
        "d18_lsh_param_sweep", "s10_ivf_pq_residual", "t23_mixture_pipeline",
        "st12_stream_mixture")) {
      // d18 emits its 3 parameter rows with zero counts; the rest are empty
      val rows = defs(name).fn(spark, emptyDir).collect()
      if (name == "d18_lsh_param_sweep")
        assert(rows.length === 3 && rows.forall(_.getLong(2) === 0L),
          s"$name should report zero candidates per setting")
      else assert(rows.isEmpty, s"$name returned ${rows.length} rows on empty input")
    }
  }

  test("late round-6 operators return zero rows on an empty corpus, not an exception") {
    val defs = graft.SparkEntry.allDefs
    for (name <- Seq("d19_repeat_removal", "p5_price_histogram", "g21_closeness",
        "st13_stream_repeats", "x5_csv_roundtrip", "m7_loudness",
        "s11_codebook_sweep", "s12_ivf_pq_percell")) {
      val n = defs(name).fn(spark, emptyDir).count()
      assert(n === 0L, s"$name returned $n rows on empty input")
    }
  }

  test("round-7 operators return zero rows on an empty corpus, not an exception") {
    val defs = graft.SparkEntry.allDefs
    for (name <- Seq("g23_label_propagation", "d21_edit_verify",
        "s13_knn_graph", "t25_dsir_selection", "st15_stream_decontamination",
        "g22_harmonic", "st14_stream_repeat_removal", "t24_mixture_epochs")) {
      val n = defs(name).fn(spark, emptyDir).count()
      assert(n === 0L, s"$name returned $n rows on empty input")
    }
    // d20 shares d18's sweep contract: one zero-count row per cut setting
    val sweep = defs("d20_semdedup_sweep").fn(spark, emptyDir).collect()
    assert(sweep.length === 3 && sweep.forall(_.getLong(2) === 0L),
      "d20 should report zero candidates per cut")
    assert(defs("t26_perplexity_filter").fn(spark, emptyDir).count() === 0L)
    assert(defs("m8_image_phash").fn(spark, emptyDir).count() === 0L)
    assert(defs("g24_betweenness").fn(spark, emptyDir).count() === 0L)
    assert(defs("st16_stream_edit_verify").fn(spark, emptyDir).count() === 0L)
    // s14 likewise: one zero-hit row per probe radius
    val s14 = defs("s14_knn_recall_sweep").fn(spark, emptyDir).collect()
    assert(s14.length === 3 && s14.forall(_.getLong(2) === 0L),
      "s14 should report zero hits per radius")
  }

  test("round-8 operators return zero rows on an empty corpus, not an exception") {
    val defs = graft.SparkEntry.allDefs
    for (name <- Seq("t27_bpe_merges", "t28_source_overlap",
        "x6_jsonl_roundtrip", "x7_partitioned_scan", "p6_countmin_sketch",
        "m9_audio_fingerprint", "st17_stream_cc", "st19_stream_countmin",
        "t29_bpe_tokenize", "x8_schema_evolution", "st18_stream_ann",
        "g25_kcore", "x9_jsonl_gz", "s15_pq_refine", "p7_hll_estimate")) {
      val n = defs(name).fn(spark, emptyDir).count()
      assert(n === 0L, s"$name returned $n rows on empty input")
    }
    // g26 shares d18's sweep contract: one zero-count row per k setting
    val g26 = defs("g26_kcore_sweep").fn(spark, emptyDir).collect()
    assert(g26.length === 3 && g26.forall(_.getLong(1) === 0L),
      "g26 should report an explicit zero core per k")
  }

  test("round-9 operators return zero rows on an empty corpus, not an exception") {
    val defs = graft.SparkEntry.allDefs
    for (name <- Seq("a6_asof_forward", "g27_link_prediction",
        "p8_frequency_spectrum", "t31_ngram_repetition",
        "d16s_repeats_staged", "st20_stream_kcore",
        "g28_personalized_pagerank", "t32_bloom_decontamination",
        "st21_stream_link_prediction", "g29_weighted_ppr",
        "st22_stream_asof")) {
      val n = defs(name).fn(spark, emptyDir).count()
      assert(n === 0L, s"$name returned $n rows on empty input")
    }
  }

  test("round-11 operators return zero rows on an empty corpus, not an exception") {
    val defs = graft.SparkEntry.allDefs
    for (name <- Seq("g36_aggr_count_cube", "g37_local_clustering",
        "p10_exact_quantiles", "s16_filtered_ann",
        "st29_stream_aggr_cube", "st30_stream_quantiles",
        "st31_stream_local_clustering", "g38_random_walks",
        "q29_sole_late_supplier", "t35_source_signature",
        "st32_stream_filtered_ann", "st33_stream_source_signature",
        "t36_vocab_growth", "st34_stream_media_dedup",
        "st35_stream_hll_registers", "t37_lexical_diversity",
        "t38_split_leakage")) {
      val n = defs(name).fn(spark, emptyDir).count()
      assert(n === 0L, s"$name returned $n rows on empty input")
    }
  }

  test("continuation-session operators degrade cleanly on an empty corpus") {
    val defs = graft.SparkEntry.allDefs
    for (name <- Seq("a10_sessionize", "t39_source_divergence",
        "g42_bfs_layers", "st37_stream_degree_spectrum",
        "st38_stream_sessionize", "st39_stream_bfs_layers",
        "g43_katz_walks", "a11_lag_features", "t40_continuation_counts",
        "a12_interarrival_spectrum", "x11_range_layout",
        "g44_edge_embeddedness", "st42_stream_interval_coverage",
        "g45_bounded_sssp", "x12_zorder_index", "k11_manifest_publish",
        "st44_stream_edge_support", "g47_modularity")) {
      val n = defs(name).fn(spark, emptyDir).count()
      assert(n === 0L, s"$name returned $n rows on empty input")
    }
    // p15 keeps its 5 relationship rows — all-zero profiles
    val js = defs("p15_join_size_audit").fn(spark, emptyDir).collect()
    assert(js.length === 5 && js.forall(r =>
      (1 to 4).forall(i => r.getLong(i) === 0L)))
    // q32 keeps its 4 variant rows — all zero counts on an empty table
    val q32 = defs("q32_null_antijoin").fn(spark, emptyDir).collect()
    assert(q32.length === 4 && q32.forall(_.getLong(1) === 0L))
    // q33's filter drops every nation when no customer clears the bar
    assert(defs("q33_correlated_scalar").fn(spark, emptyDir).count() === 0L)
    // g46/st43 report one explicit all-zero census row on the empty graph
    for (name <- Seq("g46_triad_census", "st43_stream_triad_census")) {
      val tc = defs(name).fn(spark, emptyDir).collect()
      assert(tc.length === 1 && (0 to 5).forall(i => tc.head.getLong(i) === 0L),
        s"$name empty contract")
    }
    // p13/st41 report their 6 FD rows with explicit zeros — zero groups
    // proves the scan ran, not that the check vacuously passed
    for (name <- Seq("p13_fd_audit", "st41_stream_fd_audit")) {
      val fd = defs(name).fn(spark, emptyDir).collect()
      assert(fd.length === 6 && fd.forall(r =>
        r.getLong(1) === 0L && r.getLong(2) === 0L && r.getLong(3) === 0L),
        s"$name empty contract")
    }
    // p14/st40 keep their 9 digit rows with NULL shares (no fake zeros)
    for (name <- Seq("p14_benford_audit", "st40_stream_benford")) {
      val bf = defs(name).fn(spark, emptyDir).collect()
      assert(bf.length === 9 && bf.forall(r => r.getLong(1) === 0L && r.isNullAt(2)),
        s"$name empty contract")
    }
  }

  test("round-12 operators return zero rows on an empty corpus, not an exception") {
    val defs = graft.SparkEntry.allDefs
    for (name <- Seq("g48_gwas_chain", "st45_stream_bounded_sssp",
        "st46_stream_katz_walks", "g49_pseudo_diameter")) {
      val n = defs(name).fn(spark, emptyDir).count()
      assert(n === 0L, s"$name returned $n rows on empty input")
    }
    // x13 keeps its two generation rows — zero docs, NULL char sums
    val tt = defs("x13_time_travel").fn(spark, emptyDir).collect()
    assert(tt.length === 2 && tt.forall(r => r.getLong(1) === 0L && r.isNullAt(2)),
      "x13 empty contract: two generation rows with zero docs and NULL sums")
  }

  test("round-13 operators return zero rows on an empty corpus, not an exception") {
    val defs = graft.SparkEntry.allDefs
    for (name <- Seq("g53_chem_diseases", "g54_temporal_reachability", "g55_hits",
        "g57_mutual_reachability",
        "q34_regex_array_projection", "q35_ordinal_explode", "a13_twap",
        "t42_passage_chunks", "t43_oov_rate", "x16_deletion_vectors",
        "x17_change_feed", "x18_partition_evolution", "x19_vacuum_plan",
        "x20_bloom_skipping", "x21_expectations", "p19_slice_drift",
        "st52_stream_gwas_chain", "st53_stream_chem_diseases",
        "st54_stream_temporal_reachability", "st55_stream_slice_drift",
        "st56_stream_hits", "st57_stream_merge_upsert",
        "st58_stream_mutual_reachability", "st59_stream_ks_drift",
        "st60_stream_expectations")) {
      val n = defs(name).fn(spark, emptyDir).count()
      assert(n === 0L, s"$name returned $n rows on empty input")
    }
  }

  test("round-14 operators return zero rows on an empty corpus, not an exception") {
    val defs = graft.SparkEntry.allDefs
    for (name <- Seq("x22_occ_commit", "g58_scc_labels",
        "p21_sketch_quantiles", "st62_stream_sketch_quantiles",
        "p22_mg_heavy_hitters", "st63_stream_mg_heavy_hitters",
        "s19_tombstoned_ann", "x24_cdc_roundtrip", "x25_occ_checkpoint",
        "x26_txn_expectations", "st64_stream_tombstoned_ann")) {
      val n = defs(name).fn(spark, emptyDir).count()
      assert(n === 0L, s"$name returned $n rows on empty input")
    }
    // x23 keeps its 3 version rows — an empty corpus still has a commit
    // history, every version holding zero documents
    val tt = defs("x23_occ_time_travel").fn(spark, emptyDir).collect()
    assert(tt.length === 3 && tt.forall(_.getLong(1) === 0L),
      "x23 should report three zero-document versions")
  }

  test("the mixture pipeline builds empty artifacts from an empty corpus") {
    val b = graft.pipeline.MixturePipeline.run(spark, emptyDir)
    assert(b.quotas.count() === 0L)
    assert(b.admitted.count() === 0L)
    assert(b.packed.count() === 0L)
  }

  test("g19 triangles reports explicit zeros on an empty graph") {
    val r = graft.SparkEntry.allDefs("g19_triangles").fn(spark, emptyDir).collect()
    assert(r.length === 1 && r.head.getLong(0) === 0L && r.head.getLong(1) === 0L)
  }

  test("g39/st36 assortativity reports explicit zero stats on an empty graph") {
    for (name <- Seq("g39_assortativity", "st36_stream_assortativity")) {
      val r = graft.SparkEntry.allDefs(name).fn(spark, emptyDir).collect()
      assert(r.length === 1 && (0 to 3).forall(i => r.head.getLong(i) === 0L),
        s"$name must emit one explicit-zero row")
    }
  }

  test("the corpus pipeline builds empty artifacts from an empty corpus") {
    val b = graft.pipeline.CorpusPipeline.run(spark, emptyDir)
    assert(b.decisions.count() === 0L)
    assert(b.cleaned.count() === 0L)
    assert(b.packed.count() === 0L)
  }
}
