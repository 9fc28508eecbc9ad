package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental EDGE EMBEDDEDNESS under edge insertions —
  * [[IncrementalLcc]]'s arrival-rank triangle delta with the attribution
  * flipped from corners to EDGES: each triangle is discovered exactly
  * once (in the batch of its last-arriving edge) and that discovery
  * credits its three canonical edges (a 3-wide explode, additive
  * thereafter). An edge's support never decreases under insert-only
  * edges, and edges themselves arrive with zero support, so the serving
  * read is the deduped edge state LEFT-joined with the summed deltas —
  * support-0 edges (the local bridges) stay visible with their explicit
  * zero, exactly like batch g44. */
object IncrementalEdgeSupport {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def supPath(dir: String) = s"$dir/sup.parquet"

  /** Fold one batch of canonical (u < v) pairs into the state. */
  def update(s: SparkSession, dir: String, pairs: DataFrame, batchId: Long): Unit =
    BatchLedger.put(
      IncrementalTriangles.closed(s, dir, pairs, batchId)
        .select(explode(array(
          struct(least(col("u"), col("v")).as("eu"), greatest(col("u"), col("v")).as("ev")),
          struct(least(col("u"), col("w")).as("eu"), greatest(col("u"), col("w")).as("ev")),
          struct(least(col("v"), col("w")).as("eu"), greatest(col("v"), col("w")).as("ev"))))
          .as("e3"))
        .select(col("e3.eu").as("u"), col("e3.ev").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("d_sup")),
      supPath(dir), batchId.toString)

  /** The maintained support histogram — column-identical to batch g44
    * on the union of all folded batches. */
  def current(s: SparkSession, dir: String): DataFrame = {
    if (!BatchLedger.exists(s, edgesPath(dir)))
      return BatchLedger.empty(s, "support BIGINT, n_edges BIGINT")
    val edges = s.read.parquet(edgesPath(dir)).select(col("u"), col("v"))
    val sup = BatchLedger.table(s, supPath(dir), "u BIGINT, v BIGINT, d_sup BIGINT")
      .groupBy(col("u"), col("v")).agg(sum(col("d_sup")).as("support"))
    edges.join(sup, Seq("u", "v"), "left")
      .select(coalesce(col("support"), lit(0L)).as("support"))
      .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
      .orderBy(col("support"))
  }
}
