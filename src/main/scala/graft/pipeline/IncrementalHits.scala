package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental HITS under edge insertions — the IVM twin of g55's four
  * mutual-reinforcement matvecs, extending st46's bilinear product rule
  * to an ALTERNATING-TRANSPOSE cascade: with B the directed (c → p)
  * adjacency, the half-step chain a1 = Bᵀ·1, h1 = B·a1, a2 = Bᵀ·h1,
  * h2 = B·a2 grows under ΔB by the same identity at every level,
  *
  *   Δ(M·w) = M'·Δw + ΔM·w_old          (M' = M + ΔM)
  *
  * applied with M alternating between B and Bᵀ — the cascade term pushes
  * this batch's lower-level growth through the WHOLE accumulated graph,
  * the credit term scores walks whose newest step uses a NEW edge
  * against the pre-batch level below. Both terms are sums, so state is
  * additive: per-batch Δ rows (lvl, id, d) in append-only `batch=<id>`
  * partitions (lvl 1..4 = a1, h1, a2, h2); new edges are anti-joined
  * against the accumulated DISTINCT edge set, so a redelivered batch
  * contributes an empty delta at every level (idempotent).
  *
  * Per-batch cost: four Δ-against-graph joins (Σ_Δ deg each) plus four
  * Δ-sized credit joins; the serving read sums deltas per (lvl, id) and
  * restates g55's unpivoted (kind, id, s1, s2) frame.
  *
  * Derivation reference: g55 `MaterialiseOps.hitsScores` (the batch
  * semantics), st46 `IncrementalKatz` (the bilinear discipline this
  * generalises — same-direction A³ chain there, alternating Bᵀ/B here). */
object IncrementalHits {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def scoresPath(dir: String) = s"$dir/scores.parquet"

  /** Fold one batch of directed (c, p) pairs into the state. */
  def update(s: SparkSession, dir: String, pairs: DataFrame, batchId: Long): Unit = {
    val (prior, newE) =
      BatchLedger.fold(s, edgesPath(dir), "c BIGINT, p BIGINT", pairs, batchId)
    val allE = prior.union(newE).localCheckpoint()
    val dE = newE
    val priorS = BatchLedger.before(s, scoresPath(dir), "lvl INT, id BIGINT, d BIGINT", batchId)
      .groupBy(col("lvl"), col("id")).agg(sum(col("d")).as("sc"))
      .localCheckpoint()
    def priorLvl(k: Int): DataFrame =
      priorS.where(col("lvl") === k).select(col("id"), col("sc").as("x"))
    // hub-side scores flow c→p (Bᵀ·w); auth-side scores flow p→c (B·w)
    def toAuth(e: DataFrame, w: DataFrame): DataFrame = e
      .join(w.select(col("id").as("c"), col("x")), Seq("c"))
      .groupBy(col("p").as("id")).agg(sum(col("x")).as("x"))
    def toHub(e: DataFrame, w: DataFrame): DataFrame = e
      .join(w.select(col("id").as("p"), col("x")), Seq("p"))
      .groupBy(col("c").as("id")).agg(sum(col("x")).as("x"))
    // Δa1 = ΔBᵀ·1: the new edges' in-degree contribution
    val d1 = dE.groupBy(col("p").as("id")).agg(count(lit(1)).as("x"))
      .localCheckpoint()
    def step(k: Int, dPrev: DataFrame,
        m: (DataFrame, DataFrame) => DataFrame): DataFrame =
      graft.core.Iterate.save(
        m(allE, dPrev).unionByName(m(dE, priorLvl(k - 1)))
          .groupBy(col("id")).agg(sum(col("x")).as("x")), 0, k)
    val d2 = step(2, d1, toHub)
    val d3 = step(3, d2, toAuth)
    val d4 = step(4, d3, toHub)
    val delta = Seq(d1, d2, d3, d4).zipWithIndex
      .map { case (df, i) => df.select(lit(i + 1).as("lvl"), col("id"),
        col("x").as("d")) }
      .reduce(_ unionByName _)
    BatchLedger.put(delta, scoresPath(dir), batchId.toString)
  }

  /** The maintained scores — equal to batch g55 on the union of all
    * folded batches. */
  def current(s: SparkSession, dir: String): DataFrame = {
    if (!BatchLedger.exists(s, scoresPath(dir)))
      return BatchLedger.empty(s, "kind STRING, id BIGINT, s1 BIGINT, s2 BIGINT")
    val w = s.read.parquet(scoresPath(dir))
      .groupBy(col("lvl"), col("id")).agg(sum(col("d")).as("sc"))
    def lvl(k: Int, n: String): DataFrame =
      w.where(col("lvl") === k).select(col("id"), col("sc").as(n))
    val auth = lvl(1, "s1").join(lvl(3, "s2"), Seq("id"))
      .select(lit("auth").as("kind"), col("id"), col("s1"), col("s2"))
    val hub = lvl(2, "s1").join(lvl(4, "s2"), Seq("id"))
      .select(lit("hub").as("kind"), col("id"), col("s1"), col("s2"))
    auth.unionByName(hub)
  }
}
