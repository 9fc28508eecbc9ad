package graft.pipeline

import graft.query.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the g36 2-hop neighborhood count cube
  * (`notebooks/util_aggr_counts.py:7-30` via [[Query.aggrCounts]]) under
  * edge insertions — the IncrementalTriangles family, but SIMPLER: a
  * 2-hop path's identity is its (edge1 instance, edge2 instance) pair,
  * and counts are additive, so no arrival-rank tie-break is needed. A
  * path is new exactly when at least one of its two edges is new, which
  * splits the batch delta into the DISJOINT union
  * new⋈old ∪ old⋈new ∪ new⋈new over [[Query.twoHopPaths]] — three joins
  * whose hop-1 side is one root's incident edges, so per-batch cost is
  * proportional to the delta's wedge work, never the accumulated
  * graph's. Unlike the triangle IVM there is NO order-atomicity
  * precondition: a duplicate edge redelivered in a later batch is
  * dropped by the anti-join, and a path whose two edges arrive in
  * different batches is counted once, by the later one.
  *
  * State is append-only and idempotent ([[BatchLedger.fold]]):
  * `edges.parquet/batch=<id>` holds each batch's truly-new edges (dedup
  * via left-anti against strictly earlier batches, so a redelivery
  * recomputes the identical set and overwrite replaces it) and
  * `delta.parquet/batch=<id>` the batch's typed cube delta rows, types
  * resolved at write (the type dimension is static). The serving read
  * sums deltas per cube cell — on full replay it equals the batch g36
  * cube and shares its oracle. */
object IncrementalAggrCube {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def deltaPath(dir: String) = s"$dir/delta.parquet"

  /** Fold one batch of (fromNodeId, toNodeId, edgeType) edges into the
    * state, maintaining the cube for every root in `roots`. */
  def update(s: SparkSession, dir: String, edges: DataFrame, types: DataFrame,
             roots: Seq[String], batchId: Long): Unit = {
    val (prior, newE) = BatchLedger.fold(s, edgesPath(dir),
      "fromNodeId STRING, toNodeId STRING, edgeType STRING", edges, batchId)
    val incO = Query.incidentOriented(prior)
    val incN = Query.incidentOriented(newE)
    val delta = roots.map { r =>
      Query.typedCube(
        Query.twoHopPaths(incN, incO, r)
          .unionByName(Query.twoHopPaths(incO, incN, r))
          .unionByName(Query.twoHopPaths(incN, incN, r)), types)
        .withColumn("root", lit(r))
    }.reduce(_ unionByName _)
    BatchLedger.put(delta, deltaPath(dir), batchId.toString)
  }

  /** The maintained cube — column-identical to the batch g36 gate. */
  def current(s: SparkSession, dir: String): DataFrame = {
    if (!BatchLedger.exists(s, deltaPath(dir)))
      return BatchLedger.empty(s, "direction STRING, edge1 STRING, type1 STRING, " +
        "edge2 STRING, type2 STRING, num BIGINT, path STRING, root STRING")
    s.read.parquet(deltaPath(dir))
      .groupBy(col("root"), col("direction"), col("edge1"), col("type1"),
        col("edge2"), col("type2"), col("path"))
      .agg(sum(col("num")).as("num"))
      .select(col("direction"), col("edge1"), col("type1"), col("edge2"),
        col("type2"), col("num"), col("path"), col("root"))
      .orderBy(col("root"), col("direction"), col("edge1"), col("type1"),
        col("edge2"), col("type2"))
  }
}
