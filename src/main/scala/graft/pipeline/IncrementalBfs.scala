package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental bounded multi-source BFS under edge insertions — the IVM
  * twin of g42's distance layers, and the family's first NON-additive
  * state: distances.
  *
  * The invariant that makes it work: under insert-only edges a bounded
  * BFS distance is MONOTONE NON-INCREASING, so "current distance" is
  * the MIN over every (seed, node, dist) row ever recorded — min is a
  * semigroup, which puts distance state in the same append-only
  * `batch=<id>` shape as the additive IVMs (redelivery overwrites its
  * partition with identical rows; no cross-batch read-modify-write).
  *
  * A batch folds in three steps:
  *  1. truly-new canonical edges (left-anti vs earlier batches);
  *  2. round-0 improvements — dist-0 rows for seeds not yet at 0
  *     (the seed set is the 4 lowest node ids, which only ever moves
  *     DOWN as nodes arrive; evicted seeds are filtered at read, never
  *     rewritten) plus relaxations of the prior distance table through
  *     the NEW edges only;
  *  3. ≤ maxDist relaxation rounds propagating those improvements
  *     through the ACCUMULATED graph — a frontier-keyed equi-join per
  *     round, so the batch costs Σ_{improved} deg, the join-delta
  *     principle (an improvement at depth k cascades at most
  *     maxDist − k further hops, so maxDist rounds always reach the
  *     fixpoint).
  *
  * The serving read takes the min per (seed, node), filters to the
  * CURRENT seed set, and rolls up layer counts — equal to batch
  * [[graft.operators.CoOrderGraph.bfsLayersOf]] on the union of all
  * folded batches. */
object IncrementalBfs {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def distsPath(dir: String) = s"$dir/dists.parquet"

  private def sym(e: DataFrame): DataFrame =
    e.select(col("u"), col("v")).union(e.select(col("v").as("u"), col("u").as("v")))

  private def seedsOf(allSym: DataFrame, nSeeds: Int): DataFrame =
    allSym.select(col("u").as("node")).distinct().orderBy(col("node")).limit(nSeeds)

  /** Fold one batch of canonical (u < v) pairs into the state. */
  def update(s: SparkSession, dir: String, pairs: DataFrame, batchId: Long,
      nSeeds: Int = 4, maxDist: Int = graft.operators.CoOrderGraph.BfsMaxDist): Unit = {
    val (prior, newE) =
      BatchLedger.fold(s, edgesPath(dir), "u BIGINT, v BIGINT", pairs, batchId)
    val allSym = sym(prior.union(newE)).localCheckpoint() // static within this fold
    val seeds = seedsOf(allSym, nSeeds)
    // prior best distances, restricted to the current seed set (rows of
    // evicted seeds never propagate again)
    val priorBest = BatchLedger.before(s, distsPath(dir),
        "seed BIGINT, node BIGINT, dist INT", batchId)
      .join(seeds.select(col("node").as("seed")), Seq("seed"), "left_semi")
      .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
      .localCheckpoint()
    // round-0 improvements: fresh seed roots + prior dists relaxed
    // through the NEW edges only
    val seed0 = seeds.select(col("node").as("seed"), col("node"), lit(0).as("dist"))
      .join(priorBest.select(col("seed"), col("node")), Seq("seed", "node"), "left_anti")
    val relaxNew = priorBest
      .join(sym(newE).select(col("u").as("node"), col("v").as("nb")), Seq("node"))
      .select(col("seed"), col("nb").as("node"), (col("dist") + 1).as("dist"))
      .where(col("dist") <= maxDist)
    def improveAgainst(cand: DataFrame, best: DataFrame): DataFrame =
      cand.groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
        .join(best.select(col("seed"), col("node"), col("dist").as("b")),
          Seq("seed", "node"), "left")
        .where(col("b").isNull || col("dist") < col("b"))
        .select(col("seed"), col("node"), col("dist"))
    var best = priorBest
    var frontier = graft.core.Iterate.save(
      improveAgainst(seed0.unionByName(relaxNew), best), 0, 0)
    var improved = frontier
    var r = 0
    while (r < maxDist) {
      best = graft.core.Iterate.save(
        best.unionByName(frontier)
          .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist")), 0, r)
      val cand = frontier.select(col("seed"), col("node").as("fu"), col("dist"))
        .join(allSym, col("fu") === col("u"))
        .select(col("seed"), col("v").as("node"), (col("dist") + 1).as("dist"))
        .where(col("dist") <= maxDist)
      frontier = graft.core.Iterate.save(improveAgainst(cand, best), 0, r)
      improved = graft.core.Iterate.save(improved.unionByName(frontier), 0, r)
      r += 1
    }
    // one row per (seed, node): the best improvement found this batch
    BatchLedger.put(
      improved.groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist")),
      distsPath(dir), batchId.toString)
  }

  /** The maintained layer counts — equal to batch g42 on the union of
    * all folded batches. */
  def current(s: SparkSession, dir: String, nSeeds: Int = 4): DataFrame = {
    if (!BatchLedger.exists(s, distsPath(dir)) || !BatchLedger.exists(s, edgesPath(dir)))
      return BatchLedger.empty(s, "seed BIGINT, dist INT, n_nodes BIGINT")
    val allSym = sym(s.read.parquet(edgesPath(dir)))
    val seeds = seedsOf(allSym, nSeeds)
    s.read.parquet(distsPath(dir))
      .join(seeds.select(col("node").as("seed")), Seq("seed"), "left_semi")
      .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
      .groupBy(col("seed"), col("dist")).agg(count(lit(1)).as("n_nodes"))
  }
}
