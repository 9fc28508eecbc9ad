package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental Katz walk counts under edge insertions — the IVM twin of
  * g43's three sparse matvecs, and the family's first PRODUCT-rule state:
  * walk counts are exact integers that GROW when edges arrive, and the
  * growth of a composed matvec obeys the bilinear delta identity
  *
  *   w_k' = A'·w_{k-1}'  ⇒  Δw_k = A'·Δw_{k-1} + ΔA·w_{k-1}
  *
  * (A' = A + ΔA; the first term cascades this batch's lower-level growth
  * through the WHOLE accumulated graph, the second credits walks whose
  * k-th step uses a NEW edge against the PRE-batch counts). Both terms
  * are sums, so state is additive: per-batch Δ rows (id, k, dwk) in
  * append-only `batch=<id>` partitions — redelivery overwrites its own
  * partition, cross-batch duplicate pairs are anti-joined away (pairs
  * are DISTINCT in g43, there is nothing to re-count, unlike st45's
  * weighted twin).
  *
  * Per-batch cost: the cascade term joins a Δ-sized frame against the
  * adjacency (Σ_Δ deg); the credit term semi-restricts the prior counts
  * to new-edge endpoints before joining (Δ-sized). The serving read sums
  * deltas per (id, k) and restates g43's katz16 = 16·w1 + 4·w2 + w3. */
object IncrementalKatz {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def walksPath(dir: String) = s"$dir/walks.parquet"

  private def sym(e: DataFrame): DataFrame =
    e.select(col("u"), col("v")).union(e.select(col("v").as("u"), col("u").as("v")))

  /** Fold one batch of canonical (u < v) pairs into the state. */
  def update(s: SparkSession, dir: String, pairs: DataFrame, batchId: Long,
             hops: Int = 3): Unit = {
    val (prior, newE) =
      BatchLedger.fold(s, edgesPath(dir), "u BIGINT, v BIGINT", pairs, batchId)
    val allSym = sym(prior.union(newE)).localCheckpoint()
    val dSym = sym(newE).localCheckpoint()
    val priorW = BatchLedger.before(s, walksPath(dir), "id BIGINT, k INT, dwk BIGINT", batchId)
      .groupBy(col("id"), col("k")).agg(sum(col("dwk")).as("wk"))
      .localCheckpoint()
    // matvec of a (id, x) frame through an edge frame: out(u) = Σ_{u~v} x(v)
    def matvec(e: DataFrame, w: DataFrame): DataFrame = e
      .join(w.select(col("id").as("v"), col("x")), Seq("v"))
      .groupBy(col("u").as("id")).agg(sum(col("x")).as("x"))
    var dPrev = dSym.groupBy(col("u").as("id")).agg(count(lit(1)).as("x"))
      .localCheckpoint() // Δw1 = new degree contribution
    var out = dPrev.select(col("id"), lit(1).as("k"), col("x").as("dwk"))
    for (k <- 2 to hops) {
      val cascade = matvec(allSym, dPrev)
      val credit = matvec(dSym,
        priorW.where(col("k") === k - 1).select(col("id"), col("wk").as("x")))
      val dK = graft.core.Iterate.save(
        cascade.unionByName(credit)
          .groupBy(col("id")).agg(sum(col("x")).as("x")), 0, k)
      out = out.unionByName(dK.select(col("id"), lit(k).as("k"), col("x").as("dwk")))
      dPrev = dK
    }
    BatchLedger.put(out, walksPath(dir), batchId.toString)
  }

  /** The maintained walk counts — equal to batch g43 on the union of all
    * folded batches. */
  def current(s: SparkSession, dir: String): DataFrame = {
    if (!BatchLedger.exists(s, walksPath(dir)))
      return BatchLedger.empty(s, "id BIGINT, w1 BIGINT, w2 BIGINT, w3 BIGINT, katz16 BIGINT")
    val w = s.read.parquet(walksPath(dir))
      .groupBy(col("id"), col("k")).agg(sum(col("dwk")).as("wk"))
    val p = (k: Int, n: String) =>
      w.where(col("k") === k).select(col("id"), col("wk").as(n))
    p(1, "w1")
      .join(p(2, "w2"), Seq("id"), "left")
      .join(p(3, "w3"), Seq("id"), "left")
      .select(col("id"), col("w1"),
        coalesce(col("w2"), lit(0L)).as("w2"),
        coalesce(col("w3"), lit(0L)).as("w3"))
      .withColumn("katz16", col("w1") * 16 + col("w2") * 4 + col("w3"))
  }
}
