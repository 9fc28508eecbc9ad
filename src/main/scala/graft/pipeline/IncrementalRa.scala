package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL maintenance of g27's Resource-Allocation link-prediction
  * scores under arriving membership rows — join-aggregate INCREMENTAL
  * VIEW MAINTENANCE, a different class from the engine's monotone folds
  * (CC labels, k-core admission, repeat spans): a new `(sk, p)` row
  * changes deg(p), which changes the `10⁶ div deg(p)` discount of EVERY
  * pair sharing p, so affected state must be REPLACED, not merely
  * appended-and-resolved.
  *
  * The replacement unit is a HASH BUCKET of parts: RA(s₁,s₂) =
  * Σ_p contrib(s₁,s₂,p), and contrib rows for part p depend only on
  * p's own membership list, so any partitioning of the parts is a
  * sound replacement granularity. Buckets (pmod(hash(p), 256)) rather
  * than raw parts keep the file/partition count BOUNDED — a corpus has
  * millions of parts but the store never exceeds 256 partitions — at
  * the price of recomputing a touched bucket's whole membership
  * (256× finer than the corpus; tune `Buckets` to trade write fan-out
  * against recompute amplification). Per batch, only touched buckets
  * are recomputed (cost Σ deg² over their parts, the same hub-bounded
  * shape as the batch operator) and swapped in via DYNAMIC PARTITION
  * OVERWRITE, Spark's native latest-wins block replacement (untouched
  * buckets' files are not rewritten, not even read). The served scores
  * are one groupBy over the contribution table.
  *
  * State (parquet under `stateDir`):
  *   - `memberships.parquet/batch=<key>`: arrived (sk, p) rows
  *     (the keyed exactly-once append of [[BatchLedger]]);
  *   - `contribs.parquet/pb=<bucket>`: per-bucket pair-contribution
  *     blocks, dynamically overwritten — partition layout IS the IVM
  *     bookkeeping.
  */
object IncrementalRa {

  private[graft] val Buckets = 256

  private def bucketed(df: DataFrame): DataFrame =
    df.withColumn("pb", pmod(hash(col("p")), lit(Buckets)))

  private def membershipsPath(dir: String) = s"$dir/memberships.parquet"
  private def contribsPath(dir: String) = s"$dir/contribs.parquet"

  /** The per-part contribution recompute — shared by every touched part:
    * distinct members, pair expansion, `10⁶ div deg` discount. */
  private def contribsOf(members: DataFrame): DataFrame = {
    val m = members.select(col("sk"), col("p")).distinct()
    val pdeg = m.groupBy("p").agg(count(lit(1)).as("pd"))
    m.as("a").join(m.as("b"),
        col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
      .select(col("a.sk").as("sa"), col("b.sk").as("sb"), col("a.p").as("p"))
      .join(pdeg, "p")
      .select(col("sa"), col("sb"), expr("1000000 div pd").as("contrib"), col("p"))
  }

  /** Apply one arriving membership batch (columns sk, p). Exactly-once
    * under redelivery via `batchKey` markers; recomputes and swaps ONLY
    * the parts the batch touches. */
  def update(spark: SparkSession, stateDir: String, batch: DataFrame,
             batchKey: Option[String] = None): Unit = {
    val key = BatchLedger.key(batchKey)
    if (batchKey.exists(BatchLedger.applied(spark, stateDir, _))) return

    val b = batch.select(col("sk"), col("p")).distinct().localCheckpoint()
    BatchLedger.put(b, membershipsPath(stateDir), key)
    val touched = bucketed(b).select(col("pb")).distinct()
    // the prior state is typed like the batch, so the union never
    // coerces (a STRING placeholder would silently stringify numeric keys)
    val touchedMembers = bucketed(
      BatchLedger.table(spark, membershipsPath(stateDir), b.schema.toDDL, key).union(b))
      .join(touched, Seq("pb"), "left_semi")
      .drop("pb")
    // dynamic overwrite: only the touched buckets' partitions are replaced
    bucketed(contribsOf(touchedMembers))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pb")
      .parquet(contribsPath(stateDir))
    batchKey.foreach(BatchLedger.markApplied(spark, stateDir, _))
  }

  /** The CURRENT scores: one aggregation over the maintained
    * contribution blocks — identical to the batch operator
    * ([[graft.operators.MaterialiseOps.raScoresOf]]) on the union of
    * all arrived memberships (spec + st21 gate pin it). */
  def current(spark: SparkSession, stateDir: String, minCommon: Int): DataFrame = {
    // a store whose batches produced no pairs yet has no scores
    val contribs = BatchLedger.table(spark, contribsPath(stateDir),
      "sa STRING, sb STRING, contrib BIGINT")
    contribs
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_common"), sum(col("contrib")).as("ra_score"))
      .where(col("n_common") >= minCommon)
  }
}
