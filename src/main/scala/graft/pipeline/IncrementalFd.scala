package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental functional-dependency audit under row insertions — p13's
  * violation profile maintained by PAIR ARRIVAL: all three statistics
  * are determined by the evolution of the distinct (x, y) pair set, and
  * a truly-new pair moves them by a closed-form delta that depends only
  * on how many distinct y its x had before (k₀) and gains now (Δk):
  *
  *   Δ n_groups     = 1 iff k₀ = 0
  *   Δ n_bad_groups = 1 iff k₀ < 2 ≤ k₀ + Δk
  *   Δ n_violations = Δk − (1 iff k₀ = 0)        (= Δ(k − 1) per group)
  *
  * so the per-batch write is one (fd, Δgroups, Δbad, Δviol) delta row
  * set, additive across batches. The k₀ lookup SEMI-JOINS the prior
  * pair set against the touched (fd, x) frame first — the
  * degree-spectrum discipline — so a batch costs the touched groups'
  * pair counts, never a recount. State is append-only and idempotent:
  * `pairs.parquet/batch=<id>` holds each batch's truly-new pairs
  * (left-anti vs earlier batches), `delta.parquet/batch=<id>` that
  * batch's per-FD deltas. Values travel as strings (lossless for the
  * audited long/string columns) so ONE state serves every FD. */
object IncrementalFd {

  private def pairsPath(dir: String) = s"$dir/pairs.parquet"
  private def deltaPath(dir: String) = s"$dir/delta.parquet"

  /** Fold one batch of (fd, x, y) rows (nulls already excluded, values
    * stringified) into the state. */
  def update(s: SparkSession, dir: String, rows: DataFrame, batchId: Long): Unit = {
    val (prior, newP) =
      BatchLedger.fold(s, pairsPath(dir), "fd STRING, x STRING, y STRING", rows, batchId)
    val dk = newP.groupBy(col("fd"), col("x")).agg(count(lit(1)).as("dk"))
      .localCheckpoint() // probed twice (semi-join + join)
    val k0 = prior
      .join(dk.select(col("fd"), col("x")), Seq("fd", "x"), "left_semi")
      .groupBy(col("fd"), col("x")).agg(count(lit(1)).as("k0"))
    val delta = dk.join(k0, Seq("fd", "x"), "left")
      .select(col("fd"), coalesce(col("k0"), lit(0L)).as("k0"), col("dk"))
      .groupBy(col("fd"))
      .agg(
        sum(when(col("k0") === 0, 1L).otherwise(0L)).as("d_groups"),
        sum(when(col("k0") < 2 && col("k0") + col("dk") >= 2, 1L).otherwise(0L))
          .as("d_bad"),
        sum(col("dk") - when(col("k0") === 0, 1L).otherwise(0L)).as("d_viol"))
    BatchLedger.put(delta, deltaPath(dir), batchId.toString)
  }

  /** The maintained audit — shape-identical to batch p13 on the union
    * of all folded rows; `fds` supplies the fixed report rows so clean
    * FDs keep their explicit zeros. */
  def current(s: SparkSession, dir: String, fds: Seq[String]): DataFrame = {
    import s.implicits._
    val dim = fds.toDF("fd")
    val sums = BatchLedger.table(s, deltaPath(dir),
        "fd STRING, d_groups BIGINT, d_bad BIGINT, d_viol BIGINT")
      .groupBy(col("fd"))
      .agg(sum(col("d_groups")).as("g"), sum(col("d_bad")).as("b"),
        sum(col("d_viol")).as("v"))
    dim.join(sums, Seq("fd"), "left")
      .select(col("fd"),
        coalesce(col("g"), lit(0L)).as("n_groups"),
        coalesce(col("b"), lit(0L)).as("n_bad_groups"),
        coalesce(col("v"), lit(0L)).as("n_violations"))
      .orderBy(col("fd"))
  }
}
