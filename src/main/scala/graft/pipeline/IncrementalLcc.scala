package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental LOCAL CLUSTERING COEFFICIENT under edge insertions —
  * [[IncrementalTriangles]]' arrival-rank join-delta, extended from the
  * global count to per-node attribution: each triangle is discovered
  * exactly once, in the batch of its LAST-arriving edge, and that one
  * discovery credits all three corners (a 3-wide explode on the delta,
  * additive thereafter). Degrees need no incremental bookkeeping at all:
  * the edge state is append-only-with-dedup, so the read derives them
  * with one groupBy over `edges.parquet` — exact by construction. The
  * serving read joins degree with the summed per-node triangle deltas
  * and evaluates g37's exact-ppm formula; on full replay the table
  * equals batch g37 and shares its oracle. Per-batch cost is the delta's
  * wedge work plus a 3·|Δtriangles| shuffle — never the accumulated
  * graph's. */
object IncrementalLcc {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def triPath(dir: String) = s"$dir/tri.parquet"

  /** Fold one batch of canonical (u < v) pairs into the state. */
  def update(s: SparkSession, dir: String, pairs: DataFrame, batchId: Long): Unit =
    BatchLedger.put(
      IncrementalTriangles.closed(s, dir, pairs, batchId)
        .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("d_tri")),
      triPath(dir), batchId.toString)

  /** The maintained per-node (id, deg, n_tri, lcc_ppm) — column-identical
    * to batch g37 on the union of all folded batches. */
  def current(s: SparkSession, dir: String): DataFrame = {
    if (!BatchLedger.exists(s, edgesPath(dir)))
      return BatchLedger.empty(s, "id BIGINT, deg BIGINT, n_tri BIGINT, lcc_ppm BIGINT")
    val edges = s.read.parquet(edgesPath(dir))
    val deg = graft.query.Query.degrees(edges)
    val tri = BatchLedger.table(s, triPath(dir), "id BIGINT, d_tri BIGINT")
      .groupBy("id").agg(sum(col("d_tri")).as("n_tri"))
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), col("deg"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc_ppm",
        when(col("deg") >= 2,
          expr("(2 * n_tri * 1000000) div (deg * (deg - 1))")).otherwise(lit(0L)))
      .orderBy(col("id"))
  }
}
