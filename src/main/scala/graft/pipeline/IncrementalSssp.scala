package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental bounded weighted shortest paths under co-order-count
  * growth — the IVM twin of g45, and the family's first state whose
  * EDGE WEIGHTS change over time: `cost(u,v) = 10⁶ div cnt(u,v)` where
  * cnt is the shared-order count, so an arriving order doesn't only add
  * edges, it RE-PRICES existing ones downward. st39's insert-only BFS
  * contract (min-merge distances, relax prior state through new edges
  * only) is therefore not enough: a distance can improve although no
  * edge incident to it is new.
  *
  * What still holds is monotonicity: counts only grow, so costs only
  * fall, so every bounded-hop distance is MONOTONE NON-INCREASING —
  * min over appended (seed, node, h, c) rows IS the current value,
  * the same append-only `batch=<id>` shape as IncrementalBfs. The hop
  * level `h` must be carried in the state because g45's contract is
  * "min cost over paths of ≤ `rounds` EDGES", exactly the Bellman-Ford
  * unroll D_h = min(D_{h-1}, min_e D_{h-1}(u) + cost(u,v)) — without h
  * a relaxation cascade could credit paths longer than the bound and
  * undercut the batch answer.
  *
  * A batch folds per level h = 1..rounds with two improvement sources:
  *  (b) this fold's level-(h−1) improvements relaxed through the
  *      ACCUMULATED graph at current costs (the st39 cascade), and
  *  (c) the PRIOR level-(h−1) state relaxed through the edges TOUCHED
  *      by this batch at their new price (the reprice source) — the
  *      join restricts prior state to touched endpoints, so its cost
  *      is delta-sized.
  * Every (u, e) relaxation is thus explored at a moment when both
  * D_{h−1}(u) and cost(e) hold their then-current values; whichever of
  * the two improves LAST re-triggers it, which is why the final fold's
  * state equals the batch unroll at final prices.
  *
  * Scale note: per-(u,v) counts are MAINTAINED STATE
  * (`counts.parquet/batch=<id>` holds the merged snapshot as of that
  * batch), so each fold merges ONE prior snapshot with this batch's
  * deltas — O(|E| + |Δ|) — instead of re-aggregating every historical
  * `batch=` partition (O(Σ|Δ_i|), quadratic over a run; the round-12
  * verdict's finding). The merge itself is the one full-width step per
  * fold; bucket the snapshot by (u, v) on a real cluster and it is
  * partition-local, the same discipline as the KV store's bucketed
  * generations. Snapshots are retained per batch for idempotent
  * re-delivery (a re-folded batch reads the snapshot strictly before
  * its own id); a deployment would compact old ones with the x14 plan.
  *
  * The serving read takes min c per (seed, node) over all levels,
  * filtered to the CURRENT seed set (seed churn resolves at read, as in
  * IncrementalBfs) — equal to batch
  * [[graft.operators.CoOrderGraph.boundedSsspOf]] on the union of all
  * folded batches. */
object IncrementalSssp {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def distsPath(dir: String) = s"$dir/dists.parquet"
  private def countsPath(dir: String) = s"$dir/counts.parquet"

  /** Largest merged-count snapshot id strictly before `batchId` — a
    * directory listing (partition names), never a data scan. */
  private def priorSnapshot(s: SparkSession, dir: String, batchId: Long): Option[Long] = {
    val hp = new org.apache.hadoop.fs.Path(countsPath(dir))
    val hf = BatchLedger.fs(s, countsPath(dir))
    if (!hf.exists(hp)) None
    else hf.listStatus(hp).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") => n.stripPrefix("batch=").toLong }
      .filter(_ < batchId)
      .sorted.lastOption
  }

  private def sym(e: DataFrame): DataFrame =
    e.select(col("u"), col("v")).union(e.select(col("v").as("u"), col("u").as("v")))

  /** Fold one batch of canonical (u < v, cnt) co-order-count
    * contributions; order-atomic batches make the counts additive. */
  def update(s: SparkSession, dir: String, pairsCnt: DataFrame, batchId: Long,
             nSeeds: Int = 4, rounds: Int = 3): Unit = {
    val newCnt = pairsCnt.select(col("u"), col("v"), col("cnt").cast("long").as("cnt"))
      .localCheckpoint() // written below; never reads its own partition
    BatchLedger.put(newCnt, edgesPath(dir), batchId.toString)
    // maintained merged counts: ONE prior snapshot + this batch's deltas
    // (never a re-aggregation of all historical batch partitions)
    val countsDdl = "u BIGINT, v BIGINT, cnt BIGINT"
    val priorMerged = priorSnapshot(s, dir, batchId).fold(BatchLedger.empty(s, countsDdl)) {
      b => s.read.schema(countsDdl).parquet(BatchLedger.part(countsPath(dir), b.toString))
    }
    BatchLedger.put(
      priorMerged.union(newCnt).groupBy(col("u"), col("v")).agg(sum(col("cnt")).as("cnt")),
      countsPath(dir), batchId.toString)
    // current prices over the accumulated graph, read back from the
    // snapshot just written (parquet IS the checkpoint; bucket-by-(u,v)
    // on a real cluster makes the merge above partition-local)
    val costE = s.read.schema(countsDdl)
      .parquet(BatchLedger.part(countsPath(dir), batchId.toString))
      .select(col("u"), col("v"), expr("1000000 div cnt").as("cost"))
    val costSym = costE.select(col("u"), col("v"), col("cost"))
      .union(costE.select(col("v").as("u"), col("u").as("v"), col("cost")))
      .localCheckpoint() // static within this fold
    // edges whose price changed this batch (new or re-counted), at the
    // NEW price
    val touchedCost = costSym
      .join(sym(newCnt).distinct(), Seq("u", "v"), "left_semi")
      .localCheckpoint()
    val seeds = costSym.select(col("u").as("node")).distinct()
      .orderBy(col("node")).limit(nSeeds)
    val priorBest = BatchLedger.before(s, distsPath(dir),
        "seed BIGINT, node BIGINT, h INT, c BIGINT", batchId)
      .join(seeds.select(col("node").as("seed")), Seq("seed"), "left_semi")
      .groupBy(col("seed"), col("node"), col("h")).agg(min(col("c")).as("c"))
      .localCheckpoint()
    // level 0: seeds not yet rooted (the seed set only moves DOWN as
    // nodes arrive; evicted seeds are filtered at read, never rewritten)
    val imp0 = seeds.select(col("node").as("seed"), col("node"),
        lit(0).as("h"), lit(0L).as("c"))
      .join(priorBest.where(col("h") === 0).select(col("seed"), col("node")),
        Seq("seed", "node"), "left_anti")
    var improvedAll = imp0
    var impPrev = imp0.select(col("seed"), col("node"), col("c"))
    for (h <- 1 to rounds) {
      val curPrevAll = priorBest.where(col("h") === h - 1)
        .select(col("seed"), col("node"), col("c"))
        .unionByName(impPrev)
        .groupBy(col("seed"), col("node")).agg(min(col("c")).as("c"))
      def relax(d: DataFrame, e: DataFrame): DataFrame =
        d.select(col("seed"), col("node").as("fu"), col("c"))
          .join(e, col("fu") === col("u"))
          .select(col("seed"), col("v").as("node"), (col("c") + col("cost")).as("c"))
      val cand = impPrev // "stay": an improvement at ≤h−1 improves ≤h
        .unionByName(relax(impPrev, costSym))     // (b) cascade source
        .unionByName(relax(curPrevAll, touchedCost)) // (c) reprice source
        .groupBy(col("seed"), col("node")).agg(min(col("c")).as("c"))
      val impH = cand
        .join(priorBest.where(col("h") === h)
          .select(col("seed"), col("node"), col("c").as("b")),
          Seq("seed", "node"), "left")
        .where(col("b").isNull || col("c") < col("b"))
        .select(col("seed"), col("node"), lit(h).as("h"), col("c"))
      impPrev = graft.core.Iterate.save(
        impH.select(col("seed"), col("node"), col("c")), 0, h)
      improvedAll = graft.core.Iterate.save(improvedAll.unionByName(
        impH.select(col("seed"), col("node"), col("h"), col("c"))), 0, h)
    }
    BatchLedger.put(
      improvedAll.groupBy(col("seed"), col("node"), col("h")).agg(min(col("c")).as("c")),
      distsPath(dir), batchId.toString)
  }

  /** The maintained bounded distances — equal to batch g45 on the union
    * of all folded batches. */
  def current(s: SparkSession, dir: String, nSeeds: Int = 4): DataFrame = {
    if (!BatchLedger.exists(s, distsPath(dir)) || !BatchLedger.exists(s, edgesPath(dir)))
      return BatchLedger.empty(s, "seed BIGINT, node BIGINT, cost BIGINT")
    val allSym = sym(s.read.parquet(edgesPath(dir)))
    val seeds = allSym.select(col("u").as("node")).distinct()
      .orderBy(col("node")).limit(nSeeds)
    s.read.parquet(distsPath(dir))
      .join(seeds.select(col("node").as("seed")), Seq("seed"), "left_semi")
      .groupBy(col("seed"), col("node")).agg(min(col("c")).as("cost"))
  }
}
