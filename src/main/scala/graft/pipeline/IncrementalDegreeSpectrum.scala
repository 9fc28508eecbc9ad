package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental degree-spectrum maintenance under edge insertions — the
  * IncrementalTriangles state family applied to g40's count-of-degrees
  * histogram.
  *
  * A batch changes the spectrum only at TOUCHED nodes (those whose
  * degree grew): each contributes −1 at its old degree (skipped when
  * the node is new — degree 0 has no histogram row) and +1 at its new
  * degree. Those (deg, ±1) rows are ADDITIVE across batches, so the
  * serving read is one groupBy-sum over per-batch delta rows with a
  * >0 filter (a degree whose net count hits zero leaves the spectrum,
  * exactly as in the batch recount).
  *
  * Unlike the assortativity fold (which recounts all prior degrees),
  * the old-degree lookup here SEMI-JOINS the prior edge set against the
  * touched-node frame first, so a batch costs Σ_{n∈touched} deg(n) —
  * the join-delta principle — never a recount of the accumulated graph.
  *
  * State is append-only and idempotent exactly like the triangle IVM:
  * `edges.parquet/batch=<id>` holds each batch's truly-new canonical
  * edges (left-anti against strictly earlier batches, so redelivery
  * recomputes the identical set and overwrite replaces it), and
  * `delta.parquet/batch=<id>` that batch's (deg, dn) rows. Output
  * shape-identical to batch [[graft.operators.CoOrderGraph.degreeSpectrumOf]]. */
object IncrementalDegreeSpectrum {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def deltaPath(dir: String) = s"$dir/delta.parquet"

  /** Fold one batch of canonical (u < v) pairs into the state. */
  def update(s: SparkSession, dir: String, pairs: DataFrame, batchId: Long): Unit = {
    val (prior, newE) =
      BatchLedger.fold(s, edgesPath(dir), "u BIGINT, v BIGINT", pairs, batchId)
    // touched nodes and their degree growth within this batch
    val dlt = newE.select(col("u").as("node")).union(newE.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("dd"))
      .localCheckpoint() // probed twice below (semi-join + join)
    // old degree of touched nodes only: semi-join FIRST, then count —
    // per-batch cost Σ_touched deg, not |E|
    val d0 = prior.select(col("u").as("node")).union(prior.select(col("v")))
      .join(dlt.select(col("node")), Seq("node"), "left_semi")
      .groupBy(col("node")).agg(count(lit(1)).as("d0"))
    val degs = dlt.join(d0, Seq("node"), "left")
      .select(coalesce(col("d0"), lit(0L)).as("d0"),
        (coalesce(col("d0"), lit(0L)) + col("dd")).as("d1"))
    val delta = degs.where(col("d0") > 0).select(col("d0").as("deg"), lit(-1L).as("dn"))
      .unionByName(degs.select(col("d1").as("deg"), lit(1L).as("dn")))
      .groupBy(col("deg")).agg(sum(col("dn")).as("dn"))
    BatchLedger.put(delta, deltaPath(dir), batchId.toString)
  }

  /** The maintained spectrum — equal to batch g40 on the union of all
    * folded batches; the read is one groupBy-sum over delta rows. */
  def current(s: SparkSession, dir: String): DataFrame = {
    if (!BatchLedger.exists(s, deltaPath(dir)))
      return BatchLedger.empty(s, "deg BIGINT, n_nodes BIGINT")
    s.read.parquet(deltaPath(dir))
      .groupBy(col("deg")).agg(sum(col("dn")).as("n_nodes"))
      .where(col("n_nodes") > 0)
  }
}
