package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental bounded TIME-RESPECTING reachability — the IVM twin of
  * g54, st39's insert-only BFS discipline with a date-gated relaxation:
  * a hop (u, e) is admissible only while `e.dt >= arr(u)`, and arrivals
  * are MIN-MERGEABLE (they only improve), so improving arr(u) can only
  * UNLOCK more edges — the gate is monotone in the state, which is what
  * makes min-merge sound here.
  *
  * The hop level `h` is carried in the state (the st45 lesson): g54's
  * contract is "foremost arrival over paths of ≤ `rounds` EDGES", the
  * Bellman unroll D_h(v) = min(D_{h-1}(v), min_{(u,v,t): t ≥ D_{h-1}(u)} t)
  * — without h a cascade could credit paths past the bound.
  *
  * A batch folds per level h = 1..rounds with the two insert-only
  * improvement sources:
  *  (b) this fold's level-(h−1) improvements relaxed through the
  *      ACCUMULATED contact set (newly-unlocked edges included), and
  *  (c) the PRIOR level-(h−1) state relaxed through this batch's NEW
  *      contacts — delta-sized.
  * Contacts never change once arrived (no st45 repricing), so every
  * (u, e) relaxation is explored when the LATER of {arr(u) final,
  * e arrival} happens — the final fold equals the batch unroll on the
  * union of all contacts. Duplicate contact redelivery is harmless:
  * min-relaxation is idempotent in the edge multiset.
  *
  * Seeds (with their level-0 arrivals) are static dimension data here
  * (the orders calendar); only the contact stream grows. */
object IncrementalTemporal {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def distsPath(dir: String) = s"$dir/dists.parquet"

  /** Fold one batch of (from, to, dt) contacts. `seeds` is the static
    * (seed, node, arr) level-0 frame, identical every fold. */
  def update(s: SparkSession, dir: String, contacts: DataFrame,
             seeds: DataFrame, batchId: Long, rounds: Int = 3): Unit = {
    val newE = contacts.select(col("from"), col("to"), col("dt"))
      .localCheckpoint() // written below; never reads its own partition
    BatchLedger.put(newE, edgesPath(dir), batchId.toString)
    val allE = s.read.parquet(edgesPath(dir))
      .where(col("batch").cast("long") <= batchId)
      .select(col("from"), col("to"), col("dt"))
      .localCheckpoint() // static within this fold
    val priorBest = BatchLedger.before(s, distsPath(dir),
        "seed STRING, node STRING, h INT, arr TIMESTAMP", batchId)
      .groupBy(col("seed"), col("node"), col("h")).agg(min(col("arr")).as("arr"))
      .localCheckpoint()
    // level 0: static seeds not yet rooted
    val imp0 = seeds.select(col("seed"), col("node"), lit(0).as("h"), col("arr"))
      .join(priorBest.where(col("h") === 0).select(col("seed"), col("node")),
        Seq("seed", "node"), "left_anti")
    var improvedAll = imp0
    var impPrev = imp0.select(col("seed"), col("node"), col("arr"))
    for (h <- 1 to rounds) {
      val curPrevAll = priorBest.where(col("h") === h - 1)
        .select(col("seed"), col("node"), col("arr"))
        .unionByName(impPrev)
        .groupBy(col("seed"), col("node")).agg(min(col("arr")).as("arr"))
      def relax(dst: DataFrame, e: DataFrame): DataFrame =
        dst.select(col("seed"), col("node").as("fu"), col("arr"))
          .join(e, col("fu") === col("from") && col("dt") >= col("arr"))
          .select(col("seed"), col("to").as("node"), col("dt").as("arr"))
      val cand = impPrev // "stay": an improvement at ≤h−1 improves ≤h
        .unionByName(relax(impPrev, allE))       // (b) cascade source
        .unionByName(relax(curPrevAll, newE))    // (c) new-contact source
        .groupBy(col("seed"), col("node")).agg(min(col("arr")).as("arr"))
      val impH = cand
        .join(priorBest.where(col("h") === h)
          .select(col("seed"), col("node"), col("arr").as("b")),
          Seq("seed", "node"), "left")
        .where(col("b").isNull || col("arr") < col("b"))
        .select(col("seed"), col("node"), lit(h).as("h"), col("arr"))
      impPrev = graft.core.Iterate.save(
        impH.select(col("seed"), col("node"), col("arr")), 0, h)
      improvedAll = graft.core.Iterate.save(improvedAll.unionByName(
        impH.select(col("seed"), col("node"), col("h"), col("arr"))), 0, h)
    }
    BatchLedger.put(
      improvedAll.groupBy(col("seed"), col("node"), col("h")).agg(min(col("arr")).as("arr")),
      distsPath(dir), batchId.toString)
  }

  /** The maintained foremost arrivals — min over levels, equal to batch
    * g54 on the union of all folded contacts. */
  def current(s: SparkSession, dir: String): DataFrame = {
    if (!BatchLedger.exists(s, distsPath(dir)))
      return BatchLedger.empty(s, "seed STRING, node STRING, arr TIMESTAMP")
    s.read.parquet(distsPath(dir))
      .groupBy(col("seed"), col("node")).agg(min(col("arr")).as("arr"))
  }
}
