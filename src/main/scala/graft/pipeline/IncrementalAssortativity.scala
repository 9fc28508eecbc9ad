package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental degree-assortativity statistics under edge insertions —
  * the IncrementalTriangles family applied to g39's sufficient
  * statistics (n_ends, Σd, Σd², Σd·d' over symmetrized edge ends).
  *
  * Three of the four statistics are PURE DEGREE MOMENTS — each edge
  * (u,v) contributes d_u + d_v across the edge set, so
  * n_ends = Σ_n d_n, sum_d = Σ_n d_n², sum_d2 = Σ_n d_n³ — and a batch
  * changes them only at TOUCHED nodes (those whose degree grew), each
  * contributing (d'ⁿ − dⁿ) with old degree d and new degree d'. Only
  * sum_dd = 2·Σ_e d_u·d_v genuinely lives on edges; its delta is
  *   2·( Σ_{new e} d'_u·d'_v  +  Σ_{old e incident to a touched node}
  *       (d'_u·d'_v − d_u·d_v) ),
  * and the correction join is a semi-join of the old edge set against
  * the touched-node frame — per-batch cost Σ_{n∈touched} deg(n), the
  * join-delta principle, never a recount of the accumulated graph.
  *
  * State is append-only and idempotent exactly like the triangle IVM:
  * `edges.parquet/batch=<id>` holds each batch's truly-new canonical
  * edges (left-anti against strictly earlier batches, so redelivery
  * recomputes the identical set and overwrite replaces it), and
  * `delta.parquet/batch=<id>` one 4-component delta row. The serving
  * read sums the delta rows — output shape-identical to batch
  * [[graft.operators.CoOrderGraph.assortativity]]. */
object IncrementalAssortativity {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def deltaPath(dir: String) = s"$dir/delta.parquet"

  /** Fold one batch of canonical (u < v) pairs into the state. */
  def update(s: SparkSession, dir: String, pairs: DataFrame, batchId: Long): Unit = {
    val (prior, newE) =
      BatchLedger.fold(s, edgesPath(dir), "u BIGINT, v BIGINT", pairs, batchId)
    val oldDeg = prior.select(col("u").as("node")).union(prior.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("d0"))
    val dlt = newE.select(col("u").as("node")).union(newE.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("dd"))
    val degs = oldDeg.join(dlt, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("d0"), lit(0L)).as("d0"),
        (coalesce(col("d0"), lit(0L)) + coalesce(col("dd"), lit(0L))).as("d1"),
        coalesce(col("dd"), lit(0L)).as("dd"))
      .localCheckpoint() // joined three ways below
    val touched = degs.where(col("dd") > 0)
    val moments = touched.agg(
      coalesce(sum(col("dd")), lit(0L)).as("d_ends"),
      coalesce(sum(col("d1") * col("d1") - col("d0") * col("d0")), lit(0L)).as("d_sum_d"),
      coalesce(sum(col("d1") * col("d1") * col("d1")
        - col("d0") * col("d0") * col("d0")), lit(0L)).as("d_sum_d2"))
    val dU = degs.select(col("node").as("u"), col("d0").as("d0u"), col("d1").as("d1u"))
    val dV = degs.select(col("node").as("v"), col("d0").as("d0v"), col("d1").as("d1v"))
    val newTerm = newE.join(dU, "u").join(dV, "v")
      .agg(coalesce(sum(col("d1u") * col("d1v")), lit(0L)).as("a"))
    val tU = touched.select(col("node").as("u"))
    val tV = touched.select(col("node").as("v"))
    val oldTouched = prior.join(tU, Seq("u"), "left_semi")
      .union(prior.join(tV, Seq("v"), "left_semi").select(col("u"), col("v")))
      .distinct()
    val corrTerm = oldTouched.join(dU, "u").join(dV, "v")
      .agg(coalesce(sum(col("d1u") * col("d1v") - col("d0u") * col("d0v")),
        lit(0L)).as("b"))
    val delta = moments.crossJoin(newTerm).crossJoin(corrTerm) // three 1-row frames
      .select(lit(batchId).as("bid"), col("d_ends"), col("d_sum_d"),
        col("d_sum_d2"), ((col("a") + col("b")) * 2).as("d_sum_dd"))
    BatchLedger.put(delta, deltaPath(dir), batchId.toString)
  }

  /** The maintained statistics — shape-identical to batch g39 on the
    * union of all folded batches; the read is ONE tiny aggregate over
    * the per-batch delta rows. */
  def current(s: SparkSession, dir: String): DataFrame = {
    if (!BatchLedger.exists(s, deltaPath(dir)))
      return BatchLedger.empty(s, "n_ends BIGINT, sum_d BIGINT, sum_d2 BIGINT, sum_dd BIGINT")
    s.read.parquet(deltaPath(dir)).agg(
      coalesce(sum(col("d_ends")), lit(0L)).as("n_ends"),
      coalesce(sum(col("d_sum_d")), lit(0L)).as("sum_d"),
      coalesce(sum(col("d_sum_d2")), lit(0L)).as("sum_d2"),
      coalesce(sum(col("d_sum_dd")), lit(0L)).as("sum_dd"))
  }
}
