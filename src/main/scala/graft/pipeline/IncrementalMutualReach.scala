package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental bounded MUTUAL reachability under edge insertions — the
  * IVM twin of g57's forward∩backward traversal, maintained as TWO
  * directed st39-style distance states over ONE accumulated edge set.
  *
  * Soundness inherits from st39 ([[IncrementalBfs]]): under insert-only
  * edges each bounded directed distance is monotone non-increasing, so
  * min over append-only (seed, node, dist) rows IS the distance — and
  * the intersect of two sound reachability sets is the sound mutual
  * set, derived at read, never stored (stored intersections would need
  * retraction when one side improves; the read-side derive needs
  * nothing).
  *
  * PRECONDITION the additive twins don't have: g57's ring edges derive
  * from a WINDOW over each order's lines, so a batch must carry whole
  * orders (the CDC transaction boundary) — a mid-order split changes
  * the derived edges themselves. Per-order rings over disjoint complete
  * order sets union to exactly the batch edge set, which is what makes
  * the fold correct. Redelivered edges anti-join to nothing (idempotent
  * at the edge level).
  *
  * Per-batch cost: two directed st39 folds (Σ_improved deg each, ≤
  * maxDist rounds); seeds are the lowest out-degree-bearing node ids
  * and only ever move DOWN as nodes arrive — evicted seeds filter at
  * read (the st39 eviction discipline). */
object IncrementalMutualReach {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def distsPath(dir: String, tag: String) = s"$dir/dists_$tag.parquet"

  private def seedsOf(all: DataFrame, nSeeds: Int): DataFrame =
    all.select(col("u").as("node")).distinct().orderBy(col("node")).limit(nSeeds)

  /** One directed st39 fold for one traversal direction. */
  private def foldDirection(s: SparkSession, dir: String, tag: String,
      all: DataFrame, dE: DataFrame, seeds: DataFrame, batchId: Long,
      maxDist: Int): Unit = {
    val priorBest = BatchLedger.before(s, distsPath(dir, tag),
        "seed BIGINT, node BIGINT, dist INT", batchId)
      .join(seeds.select(col("node").as("seed")), Seq("seed"), "left_semi")
      .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
      .localCheckpoint()
    val seed0 = seeds.select(col("node").as("seed"), col("node"), lit(0).as("dist"))
      .join(priorBest.select(col("seed"), col("node")), Seq("seed", "node"), "left_anti")
    val relaxNew = priorBest
      .join(dE.select(col("u").as("node"), col("v").as("nb")), Seq("node"))
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
        .join(all, col("fu") === col("u"))
        .select(col("seed"), col("v").as("node"), (col("dist") + 1).as("dist"))
        .where(col("dist") <= maxDist)
      frontier = graft.core.Iterate.save(improveAgainst(cand, best), 0, r)
      improved = graft.core.Iterate.save(improved.unionByName(frontier), 0, r)
      r += 1
    }
    BatchLedger.put(
      improved.groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist")),
      distsPath(dir, tag), batchId.toString)
  }

  /** Fold one batch of DIRECTED (u, v) edges (derived from complete
    * orders — see the class precondition) into both distance states. */
  def update(s: SparkSession, dir: String, pairs: DataFrame, batchId: Long,
      nSeeds: Int = 4,
      maxDist: Int = graft.operators.CoOrderGraph.BfsMaxDist): Unit = {
    val (prior, newE) =
      BatchLedger.fold(s, edgesPath(dir), "u BIGINT, v BIGINT", pairs, batchId)
    val all = prior.union(newE).localCheckpoint()
    val seeds = seedsOf(all, nSeeds).localCheckpoint()
    val rAll = all.select(col("v").as("u"), col("u").as("v"))
    val rNew = newE.select(col("v").as("u"), col("u").as("v"))
    foldDirection(s, dir, "fwd", all, newE, seeds, batchId, maxDist)
    foldDirection(s, dir, "bwd", rAll, rNew, seeds, batchId, maxDist)
  }

  /** The maintained mutual-set rollup — equal to batch g57 on the union
    * of all folded batches. */
  def current(s: SparkSession, dir: String, nSeeds: Int = 4): DataFrame = {
    if (!BatchLedger.exists(s, distsPath(dir, "fwd")) || !BatchLedger.exists(s, edgesPath(dir)))
      return BatchLedger.empty(s,
        "seed BIGINT, n_mutual BIGINT, min_node BIGINT, max_node BIGINT, sum_nodes BIGINT")
    val seeds = seedsOf(s.read.parquet(edgesPath(dir)), nSeeds)
    def side(tag: String): DataFrame =
      s.read.parquet(distsPath(dir, tag))
        .join(seeds.select(col("node").as("seed")), Seq("seed"), "left_semi")
        .select(col("seed"), col("node")).distinct()
    side("fwd").join(side("bwd"), Seq("seed", "node"))
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_mutual"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"), sum(col("node")).as("sum_nodes"))
  }
}
