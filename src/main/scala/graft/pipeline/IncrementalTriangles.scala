package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental triangle counting under edge insertions — join-delta IVM
  * in the IncrementalKcore/IncrementalRa family.
  *
  * The invariant that makes it exact with NO recount and NO
  * double-count: every edge gets an immutable arrival RANK
  * (batch, u, v), and a triangle is counted exactly once — by its
  * MAX-rank edge, in that edge's batch. A batch's delta is therefore
  * "for each edge new in this batch, the common neighbors reachable
  * through STRICTLY LOWER-rank edges": triangles whose other two edges
  * are older batches, or earlier-ranked edges of the same batch. Old
  * triangles were counted when their last edge arrived; future ones
  * will be. Per-batch cost is |new edges| joined twice against the
  * adjacency index — proportional to the delta's wedge work, never to
  * the accumulated graph's.
  *
  * State is append-only and idempotent ([[BatchLedger.fold]]):
  * `edges.parquet/batch=<id>` holds each batch's truly-new canonical
  * edges (dedup via left-anti against STRICTLY EARLIER batches, so a
  * redelivered batch recomputes the identical set and overwrite replaces
  * it), and
  * `delta.parquet/batch=<id>` one delta row per batch. The serving read
  * is two tiny aggregates. */
object IncrementalTriangles {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def deltaPath(dir: String) = s"$dir/delta.parquet"

  /** Fold one batch of canonical (u < v) pairs into the edge state
    * under `dir` ([[BatchLedger.fold]]) and return the triangles it
    * closes as (u, v, w) rows, (u, v) being the closing new edge: the
    * arrival-rank wedge join, each triangle appearing exactly once, in the
    * batch of its max-rank edge. [[IncrementalLcc]] and
    * [[IncrementalEdgeSupport]] attribute the same rows to corners and
    * edges. */
  private[pipeline] def closed(s: SparkSession, dir: String, pairs: DataFrame,
                               batchId: Long): DataFrame = {
    val (prior, newE) = BatchLedger.fold(s, edgesPath(dir),
      "u BIGINT, v BIGINT, batch BIGINT", pairs, batchId)
    val all = prior
      .union(newE.withColumn("batch", lit(batchId)))
      .withColumn("r", struct(col("batch"), col("u"), col("v")))
    val adj = all.select(col("u").as("a"), col("v").as("b"), col("r"))
      .union(all.select(col("v").as("a"), col("u").as("b"), col("r")))
    val e = newE.select(col("u"), col("v"),
      struct(lit(batchId).as("batch"), col("u"), col("v")).as("re"))
    val x = adj.select(col("a").as("xu"), col("b").as("w"), col("r").as("rx"))
    val y = adj.select(col("a").as("yv"), col("b").as("w2"), col("r").as("ry"))
    e.join(x, col("xu") === col("u"))
      .join(y, col("yv") === col("v") && col("w2") === col("w"))
      .where(col("rx") < col("re") && col("ry") < col("re"))
      .select(col("u"), col("v"), col("w"))
  }

  /** Fold one batch of canonical (u < v) pairs into the state. */
  def update(s: SparkSession, dir: String, pairs: DataFrame, batchId: Long): Unit =
    BatchLedger.put(
      closed(s, dir, pairs, batchId).agg(count(lit(1)).as("delta"))
        .select(lit(batchId).as("bid"), col("delta")),
      deltaPath(dir), batchId.toString)

  /** The maintained (n_edges, n_triangles) — shape-identical to the
    * batch g19 operator on the union of all folded batches. */
  def current(s: SparkSession, dir: String): DataFrame = {
    if (!BatchLedger.exists(s, edgesPath(dir)))
      return BatchLedger.empty(s, "n_edges BIGINT, n_triangles BIGINT")
    val ne = s.read.parquet(edgesPath(dir)).agg(count(lit(1)).as("n_edges"))
    val nt = s.read.parquet(deltaPath(dir))
      .agg(coalesce(sum(col("delta")), lit(0L)).as("n_triangles"))
    ne.crossJoin(nt)
  }
}
