package graft.operators

import graft.core.{LakeDir, QueryDef, QueryModule}
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** Gate queries for the streaming layer: each streaming operator must
  * reproduce its batch twin's result on a bounded replay, so the DuckDB
  * batch SQL doubles as the streaming oracle. */
object StreamingOps extends QueryModule {

  def windowed(s: SparkSession, d: String): DataFrame =
    Streaming.eventsWindowed(s, d, s"hourly_${math.abs(d.hashCode)}")

  val windowedSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  def sessions(s: SparkSession, d: String): DataFrame =
    Streaming.sessionize(s, d, s"sessions_${math.abs(d.hashCode)}")

  val sessionsSql: String =
    """SELECT user_id, count(*) AS n_events, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM (
      |  SELECT user_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 30*60*1000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  def enriched(s: SparkSession, d: String): DataFrame =
    Streaming.enrichedBySegment(s, d, s"enriched_${math.abs(d.hashCode)}")

  val enrichedSql: String =
    """SELECT c_mktsegment, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin

  def deduped(s: SparkSession, d: String): DataFrame =
    Streaming.dedupedCounts(s, d, s"dedup_${math.abs(d.hashCode)}")

  val dedupedSql: String =
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type"

  def sessionsNative(s: SparkSession, d: String): DataFrame =
    Streaming.sessionizeNative(s, d, s"sessnat_${math.abs(d.hashCode)}")

  // n_events must be a BIGINT on both sides: Spark sum(count) is long,
  // and the DuckDB sum casts (HUGEINT trap)
  val sessionsNativeSql: String =
    """SELECT user_id, count(*) AS n_events, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM (
      |  SELECT user_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 30*60*1000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  def intervalJoined(s: SparkSession, d: String): DataFrame =
    Streaming.streamIntervalJoin(s, d, s"sjoin_${math.abs(d.hashCode)}")

  val intervalJoinedSql: String =
    """SELECT a.user_id AS user_id,
      |  CAST(a.event_id AS BIGINT) AS a_event,
      |  CAST(b.event_id AS BIGINT) AS b_event,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
      | AND epoch_us(b.ts) >= epoch_us(a.ts)
      | AND epoch_us(b.ts) - epoch_us(a.ts) <= 5*60*1000000
      |ORDER BY user_id, a_event, b_event""".stripMargin

  def streamDedupDocs(s: SparkSession, d: String): DataFrame =
    Streaming.streamExactDedup(s, d, s"sdedup_${math.abs(d.hashCode)}")

  override val defs: ListMap[String, QueryDef] = ListMap(
    "st1_stream_hourly"   -> QueryDef(windowed, Some(windowedSql)),
    "st2_stream_sessions" -> QueryDef(sessions, Some(sessionsSql)),
    "st3_stream_enrich"   -> QueryDef(enriched, Some(enrichedSql)),
    "st4_stream_dedup"    -> QueryDef(deduped, Some(dedupedSql)),
    "st5_stream_join"     -> QueryDef(intervalJoined, Some(intervalJoinedSql)),
    "st6_session_window"  -> QueryDef(sessionsNative, Some(sessionsNativeSql)),
    "st7_stream_exact_dedup" -> QueryDef(streamDedupDocs, Some(Dedup.exactDedupSql)),
    "st8_stream_neardup" -> QueryDef(
      (s, d) => Streaming.streamNearDup(s, d, s"sneardup_${math.abs(d.hashCode)}"),
      Some(Dedup.minhashLshSql)),
    "st9_stream_quota" -> QueryDef(
      (s, d) => Streaming.streamQuotaAdmit(s, d, s"squota_${math.abs(d.hashCode)}"),
      Some(Streaming.streamQuotaAdmitSql)),
    "st10_stream_funnel" -> QueryDef(
      (s, d) => Streaming.streamFunnel(s, d, s"sfunnel_${math.abs(d.hashCode)}"),
      Some(Temporal.funnelSql)),
    "st11_stream_corpus" -> QueryDef(
      (s, d) => Streaming.streamCorpus(s, d, LakeDir.fresh(s, "scorpus", d)),
      Some(TextAnalysis.corpusFilterSql)),
    "st12_stream_mixture" -> QueryDef(
      (s, d) => Streaming.streamMixtureAdmit(s, d, s"smix_${math.abs(d.hashCode)}"),
      Some(Streaming.streamMixtureAdmitSql)),
    "st13_stream_repeats" -> QueryDef(
      (s, d) => Streaming.streamRepeatProbe(s, d, s"srep_${math.abs(d.hashCode)}"),
      Some(Streaming.streamRepeatProbeSql)),
    "st14_stream_repeat_removal" -> QueryDef(
      (s, d) => Streaming.streamRepeatRemoval(s, d, LakeDir.fresh(s, "srepeats", d)),
      Some(Dedup.repeatRemovalSql)),
    "st15_stream_decontamination" -> QueryDef(
      (s, d) => Streaming.streamDecontamination(s, d, s"sdecon_${math.abs(d.hashCode)}"),
      Some(TextAnalysis.decontaminationSql)),
    "st16_stream_edit_verify" -> QueryDef(
      (s, d) => Streaming.streamEditVerify(s, d, s"sedit_${math.abs(d.hashCode)}"),
      Some(Dedup.editVerifySql)),
    "st17_stream_cc" -> QueryDef(
      (s, d) => Streaming.streamConnectedComponents(s, d, LakeDir.fresh(s, "scc", d)),
      Some(GraphOps.connectedComponentsSql)),
    "st18_stream_ann" -> QueryDef(
      (s, d) => Streaming.streamAnnProbe(s, d, s"sann_${math.abs(d.hashCode)}"),
      Some(Similarity.signBucketAnnSql)),
    "st19_stream_countmin" -> QueryDef(
      (s, d) => Streaming.streamCountMin(s, d, s"scm_${math.abs(d.hashCode)}"),
      Some(ProfilerOps.countMinSql)),
    "st20_stream_kcore" -> QueryDef(
      (s, d) => Streaming.streamKcore(s, d, LakeDir.fresh(s, "skcore", d)),
      Some(MaterialiseOps.kCoreSql)),
    "st21_stream_link_prediction" -> QueryDef(
      (s, d) => Streaming.streamLinkPrediction(s, d, LakeDir.fresh(s, "sra", d)),
      Some(MaterialiseOps.linkPredictionSql)),
    "st22_stream_asof" -> QueryDef(
      (s, d) => Streaming.streamAsofProbe(s, d, LakeDir.fresh(s, "sasof", d)),
      Some(Temporal.eventsAsofOrdersSql)),
    "st23_stream_asof_forward" -> QueryDef(
      (s, d) => Streaming.streamAsofForwardProbe(s, d, LakeDir.fresh(s, "sasoffw", d)),
      Some(Temporal.eventsNextOrderSql)),
    "st24_stream_time_bars" -> QueryDef(
      (s, d) => Streaming.streamTimeBars(s, d, LakeDir.fresh(s, "sbars", d)),
      Some(Temporal.timeBarsSql)),
    "st25_stream_heavy_hitters" -> QueryDef(
      (s, d) => Streaming.streamHeavyHitters(s, d, LakeDir.fresh(s, "shh", d)),
      Some(ProfilerOps.heavyHittersSql)),
    "st26_stream_triangles" -> QueryDef(
      (s, d) => Streaming.streamTriangleCount(s, d, LakeDir.fresh(s, "stri", d)),
      Some(CoOrderGraph.trianglesSql)),
    "st27_stream_gap_fill" -> QueryDef(
      (s, d) => Streaming.streamGapFill(s, d, LakeDir.fresh(s, "sgap", d)),
      Some(Temporal.gapFillBarsSql)),
    "st28_stream_triangles_sampled" -> QueryDef(
      (s, d) => Streaming.streamTrianglesSampled(s, d, LakeDir.fresh(s, "stris", d)),
      Some(CoOrderGraph.trianglesSampledSql)),
    "st29_stream_aggr_cube" -> QueryDef(
      (s, d) => Streaming.streamAggrCube(s, d, LakeDir.fresh(s, "scube", d)),
      Some(MaterialiseOps.aggrCountCubeSql)),
    "st30_stream_quantiles" -> QueryDef(
      (s, d) => Streaming.streamExactQuantiles(s, d, LakeDir.fresh(s, "squant", d)),
      Some(ProfilerOps.exactQuantilesSql)),
    "st31_stream_local_clustering" -> QueryDef(
      (s, d) => Streaming.streamLocalClustering(s, d, LakeDir.fresh(s, "slcc", d)),
      Some(CoOrderGraph.localClusteringCoeffSql)),
    // shares s16's oracle: the bounded replay emits exactly the batch
    // filtered-ANN table (same pre-filter, same exact re-rank)
    "st32_stream_filtered_ann" -> QueryDef(
      (s, d) => Streaming.streamFilteredAnn(s, d, s"sfann_${math.abs(d.hashCode)}"),
      Some(Similarity.filteredAnnSql)),
    // shares t35's oracle: min is a semigroup, so the replayed running
    // signature equals the batch signature and the matrix read is shared
    "st33_stream_source_signature" -> QueryDef(
      (s, d) => Streaming.streamSourceSignature(s, d, s"ssig_${math.abs(d.hashCode)}"),
      Some(TextAnalysis.sourceSignatureSql)),
    // shares m5's oracle: min/count per content class is a semigroup,
    // so the replayed registry equals the batch dedup table
    "st34_stream_media_dedup" -> QueryDef(
      (s, d) => Streaming.streamMediaDedup(s, d, s"smedia_${math.abs(d.hashCode)}"),
      Some(Multimodal.mediaDedupSql)),
    // shares t15's oracle: register max is a semigroup, so the replayed
    // register table equals the batch sketch
    "st35_stream_hll_registers" -> QueryDef(
      (s, d) => Streaming.streamHllRegisters(s, d, s"shll_${math.abs(d.hashCode)}"),
      Some(TextAnalysis.hllRegistersSql)),
    // shares g39's oracle: degree-moment deltas + the touched-node
    // semi-join correction replay to the exact batch statistics
    "st36_stream_assortativity" -> QueryDef(
      (s, d) => Streaming.streamAssortativity(s, d, LakeDir.fresh(s, "sassort", d)),
      Some(CoOrderGraph.assortativitySql)),
    // shares g40's oracle: touched-node bucket moves replay to the
    // exact batch histogram
    "st37_stream_degree_spectrum" -> QueryDef(
      (s, d) => Streaming.streamDegreeSpectrum(s, d, LakeDir.fresh(s, "sdspec", d)),
      Some(CoOrderGraph.degreeSpectrumSql)),
    // shares a10's oracle: session runs are a semigroup under
    // gap-tolerant island merging, so the replayed table equals batch
    // sessionization (the partial-partition alternative to st2's
    // flatMapGroupsWithState state machine)
    "st38_stream_sessionize" -> QueryDef(
      (s, d) => Streaming.streamSessionize(s, d, LakeDir.fresh(s, "ssess", d)),
      Some(Temporal.sessionizeSql)),
    // shares g42's oracle: min-mergeable distance rows + bounded
    // relaxation replay to the exact batch layers
    "st39_stream_bfs_layers" -> QueryDef(
      (s, d) => Streaming.streamBfsLayers(s, d, LakeDir.fresh(s, "sbfs", d)),
      Some(CoOrderGraph.bfsLayersSql)),
    // shares p14's oracle: digit counts are plain addition, so the
    // replayed monitor equals the batch audit
    "st40_stream_benford" -> QueryDef(
      (s, d) => Streaming.streamBenford(s, d, LakeDir.fresh(s, "sbenford", d)),
      Some(ProfilerOps.benfordAuditSql)),
    // shares p13's oracle: pair-arrival deltas replay to the exact
    // batch violation profile
    "st41_stream_fd_audit" -> QueryDef(
      (s, d) => Streaming.streamFdAudit(s, d, LakeDir.fresh(s, "sfd", d)),
      Some(ProfilerOps.fdAuditSql)),
    // shares a9's oracle: per-batch islands are contiguous covered
    // intervals, so re-islanding their union replays the exact coverage
    "st42_stream_interval_coverage" -> QueryDef(
      (s, d) => Streaming.streamIntervalCoverage(s, d, LakeDir.fresh(s, "sisl", d)),
      Some(Temporal.intervalCoverageSql)),
    // shares g46's oracle: nv/ne/wedges derive from the maintained
    // degree spectrum, triangles from the arrival-rank IVM — the census
    // is a pure read-side composition of two existing states
    "st43_stream_triad_census" -> QueryDef(
      (s, d) => Streaming.streamTriadCensus(s, d, LakeDir.fresh(s, "stcen", d)),
      Some(CoOrderGraph.triadCensusSql)),
    // shares g44's oracle: 3-edge triangle attribution replays to the
    // exact batch support histogram, local bridges included
    "st44_stream_edge_support" -> QueryDef(
      (s, d) => Streaming.streamEdgeSupport(s, d, LakeDir.fresh(s, "sesup", d)),
      Some(CoOrderGraph.edgeEmbeddednessSql)),
    // shares g45's oracle: min-plus relaxation with re-priced edges
    // replays to the exact batch bounded-cost table
    "st45_stream_bounded_sssp" -> QueryDef(
      (s, d) => Streaming.streamBoundedSssp(s, d, LakeDir.fresh(s, "ssssp", d)),
      Some(CoOrderGraph.boundedSsspSql)),
    // shares g48's oracle: the 4-hop chain's only fact-derived hop is
    // the allele edge set, so the join-chain product rule degenerates to
    // one delta term (new-distinct pairs x the static prefix) and the
    // grouped deltas merge additively at read
    "st52_stream_gwas_chain" -> QueryDef(
      (s, d) => Streaming.streamGwasChain(s, d, LakeDir.fresh(s, "sgwas", d)),
      Some(MaterialiseOps.gwasChainSql)),
    // shares g54's oracle: insert-only min-merge with the date-gated
    // relaxation (improving an arrival only unlocks more contacts) and
    // the st45 carried hop level
    "st54_stream_temporal_reachability" -> QueryDef(
      (s, d) => Streaming.streamTemporalReachability(s, d, LakeDir.fresh(s, "stemp", d)),
      Some(MaterialiseOps.temporalReachabilitySql)),
    // shares g53's oracle: TWO fact-derived relations grow from the same
    // stream, so the product rule keeps both bilinear terms; the
    // DISTINCT-collect output derives at read from additive
    // per-(chem, disease, gene) path state
    "st53_stream_chem_diseases" -> QueryDef(
      (s, d) => Streaming.streamChemDiseases(s, d, LakeDir.fresh(s, "schem", d)),
      Some(MaterialiseOps.chemDiseasesSql)),
    // shares x21's oracle: per-(disposition, reason) triage counts are
    // plain addition through the shared declared-order constraint chain
    "st60_stream_expectations" -> QueryDef(
      (s, d) => Streaming.streamExpectations(s, d, LakeDir.fresh(s, "sexpect", d)),
      Some(XmlOps.expectationsSql)),
    // shares p21's oracle: per-batch bottom-k draw partials, the
    // read-side merge re-truncates through the shared bottomK seam (a
    // semilattice — order-blind and idempotent under re-delivery)
    "st62_stream_sketch_quantiles" -> QueryDef(
      (s, d) => Streaming.streamSketchQuantiles(s, d, LakeDir.fresh(s, "ssketch", d)),
      Some(ProfilerOps.sketchQuantilesSql)),
    // shares s19's oracle: the dead set is monotone (idempotent union
    // state); serving goes through the shared tombstonedAnnOf seam
    "st64_stream_tombstoned_ann" -> QueryDef(
      (s, d) => Streaming.streamTombstonedAnn(s, d, LakeDir.fresh(s, "stomb", d)),
      Some(Similarity.tombstonedAnnSql)),
    // shares x27's oracle: the consumer folds additive per-version
    // partials from incremental polls of the same committed batches that
    // partition the corpus; redelivered versions overwrite byte-identically
    "st66_stream_log_consume" -> QueryDef(
      (s, d) => Streaming.streamLogConsume(s, d, LakeDir.fresh(s, "slog", d)),
      Some(XmlOps.txnAppendLogSql)),
    // shares x27's oracle: one writer protocol (LakeTable.txnAppend) driven from
    // foreachBatch with the Spark batchId as the idempotence token; the
    // committed batches partition the corpus
    "st65_stream_txn_sink" -> QueryDef(
      (s, d) => Streaming.streamTxnSink(s, d, LakeDir.fresh(s, "stxn", d)),
      Some(XmlOps.txnAppendLogSql)),
    // shares p22's oracle: per-batch Misra-Gries partials summed at read
    // (no final prune — superset preserved), exact recount against source
    "st63_stream_mg_heavy_hitters" -> QueryDef(
      (s, d) => Streaming.streamMgHeavyHitters(s, d, LakeDir.fresh(s, "shh2", d)),
      Some(ProfilerOps.mgHeavyHittersSql)),
    // shares p20's oracle: the same additive bucket-count state family
    // as st55; the cumulative-gap maximum re-derives at read via shared code
    "st59_stream_ks_drift" -> QueryDef(
      (s, d) => Streaming.streamKsDrift(s, d, LakeDir.fresh(s, "sks", d)),
      Some(ProfilerOps.ksDriftSql)),
    // shares g57's oracle: two directed min-merge distance states (the
    // st39 soundness argument per direction) intersected at read; batches
    // carry whole orders so the window-derived ring edges are split-stable
    "st58_stream_mutual_reachability" -> QueryDef(
      (s, d) => Streaming.streamMutualReachability(s, d, LakeDir.fresh(s, "smutual", d)),
      Some(MaterialiseOps.mutualReachabilitySql)),
    // shares x15's oracle: the changelog state is two semigroups (additive
    // cents sum + lexicographic-max last-event struct), so the merged
    // partials re-derive the exact batch changelog and the same
    // three-arm MERGE applies at read
    "st57_stream_merge_upsert" -> QueryDef(
      (s, d) => Streaming.streamMergeUpsert(s, d, LakeDir.fresh(s, "smerge", d)),
      Some(XmlOps.mergeUpsertSql)),
    // shares g55's oracle: the bilinear delta identity applied with the
    // operator alternating between Bᵀ and B replays all four half-steps
    // to the exact batch scores
    "st56_stream_hits" -> QueryDef(
      (s, d) => Streaming.streamHits(s, d, LakeDir.fresh(s, "shits", d)),
      Some(MaterialiseOps.hitsScoresSql)),
    // shares g43's oracle: bilinear matvec deltas replay to the exact
    // batch walk counts
    "st46_stream_katz_walks" -> QueryDef(
      (s, d) => Streaming.streamKatzWalks(s, d, LakeDir.fresh(s, "skatz", d)),
      Some(CoOrderGraph.katzWalksSql)),
    // shares a4's oracle: distinct-activity partials are an idempotent
    // set-union state, so the replayed cohort matrix equals batch
    // retention even under duplicated delivery
    "st47_stream_retention" -> QueryDef(
      (s, d) => Streaming.streamRetention(s, d, LakeDir.fresh(s, "sret", d)),
      Some(Temporal.retentionSql)),
    // shares t41's oracle: unigram/pair counts are additive partials and
    // the lift scorer is shared code applied after the merge
    "st48_stream_collocations" -> QueryDef(
      (s, d) => Streaming.streamCollocations(s, d, LakeDir.fresh(s, "scolloc", d)),
      Some(TextAnalysis.collocationsSql)),
    // shares p17's oracle: value-bucket histogram partials are additive
    // and both median passes read the merged spectrum via shared code
    "st49_stream_mad" -> QueryDef(
      (s, d) => Streaming.streamMadOutliers(s, d, LakeDir.fresh(s, "smad", d)),
      Some(ProfilerOps.madOutliersSql)),
    // shares p16's oracle: per-key occurrence counts are additive; the
    // static key columns fold in as the base generation, events stream
    "st50_stream_gini" -> QueryDef(
      (s, d) => Streaming.streamSkewGini(s, d, LakeDir.fresh(s, "sgini", d)),
      Some(ProfilerOps.skewGiniSql)),
    // shares p19's oracle: both slices' bucket counts are additive
    // partials; residuals and ppm ratios re-derive from the merged
    // histogram's live totals via shared code
    "st55_stream_slice_drift" -> QueryDef(
      (s, d) => Streaming.streamSliceDrift(s, d, LakeDir.fresh(s, "sdrift", d)),
      Some(ProfilerOps.sliceDriftSql)),
    // shares p18's oracle: contingency cells are additive; marginals,
    // totals and lifts re-derive from the merged cells via shared code
    "st51_stream_contingency" -> QueryDef(
      (s, d) => Streaming.streamContingency(s, d, LakeDir.fresh(s, "scont", d)),
      Some(ProfilerOps.contingencyLiftSql)),
  )
}
