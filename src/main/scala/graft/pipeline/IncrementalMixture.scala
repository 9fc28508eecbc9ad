package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** INCREMENTAL MIXTURE: [[MixturePipeline]]'s sampling policy as an
  * update path over a growing corpus — the allocation twin of
  * [[IncrementalCorpus]] (which grows the CLEANING state the same way).
  *
  * State is one append-only table, `docs.parquet` — the compact
  * (source, doc_id, tokens) projection, one deterministic `batch=<key>`
  * partition per arrival. An update never re-reads earlier batches'
  * INPUT, only that state; each update returns the refreshed
  * [[MixtureBuild]] over everything seen so far.
  *
  * The semantics that make this genuinely incremental-with-corrections:
  * quotas REDISTRIBUTE as per-source counts grow (t19's weights are
  * ⌊√n⌋, so a source flooded by later batches pulls budget away from the
  * others), which means an earlier batch's admitted document can be
  * retroactively RETIRED by a later update — exactly like
  * IncrementalCorpus's cross-batch merge corrections. The spec pins
  * `update(A); update(B) ≡ runOn(A ∪ B)` including such retirements.
  *
  * Exactly-once under redelivery (the foreachBatch reality): the batch
  * partition is written with Overwrite into its deterministic key — a
  * crashed-and-retried batch replaces its own partial rows — and a
  * marker file written strictly last makes a completed batch a no-op
  * ([[BatchLedger]]).
  *
  * Scale shape: appending a batch is one projection write of that batch;
  * the rebuild-from-state work is [[MixturePipeline.runOn]]'s — a
  * sources-sized aggregation, one admission window per source partition,
  * and the per-source packing fold. Nothing re-shingles, re-hashes or
  * re-reads raw text. */
object IncrementalMixture {

  private def docsPath(stateDir: String) = s"$stateDir/docs.parquet"

  /** Apply one arriving batch of documents (source, doc_id, text) and
    * return the refreshed build over the union of all applied batches. */
  def update(spark: SparkSession, stateDir: String, newDocs: DataFrame,
             config: MixtureConfig = MixtureConfig(),
             batchKey: Option[String] = None): MixtureBuild = {
    if (!batchKey.exists(BatchLedger.applied(spark, stateDir, _))) {
      BatchLedger.put(MixturePipeline.tokensOf(newDocs), docsPath(stateDir),
        BatchLedger.key(batchKey))
      batchKey.foreach(BatchLedger.markApplied(spark, stateDir, _))
    }
    currentBuild(spark, stateDir, config)
  }

  /** The mixture over all applied batches, derived from state only. */
  def currentBuild(spark: SparkSession, stateDir: String,
                   config: MixtureConfig = MixtureConfig()): MixtureBuild =
    MixturePipeline.runOn(BatchLedger.table(spark, docsPath(stateDir),
      "source STRING, doc_id BIGINT, tokens BIGINT"), config)
}
