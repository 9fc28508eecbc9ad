package org.apache.spark.sql.graftglue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset => CDataset, ExpressionUtils,
  SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. `classic.ExpressionUtils` is
  * `private[sql]`, so this one-file glue lives under the spark.sql package
  * namespace; everything else in graft goes through here to lift custom
  * Catalyst expressions into user-facing Columns. */
object Glue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over rows already in Catalyst's internal form (an RDD
    * kernel's output), with no per-row conversion. */
  def internalDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                        schema: StructType): DataFrame =
    spark.asInstanceOf[CSparkSession].internalCreateDataFrame(rows, schema)

  /** Stats-lineage truncation for iterative loops. `Dataset
    * .localCheckpoint`/`.checkpoint` truncate the RDD lineage but attach
    * the ORIGIN plan's estimated `Statistics` to the new `LogicalRDD` —
    * and `sizeInBytes` of a join is the PRODUCT of its children, so
    * across checkpoint rounds the estimate's BigInt BIT-LENGTH compounds
    * ~(joins-per-round)× per round. By round ~8 of a self-join-heavy
    * peel (k-truss: ~10 leaf references/round) Catalyst's stats visitor
    * spends MINUTES in ToomCook3 multiplications of million-bit
    * integers inside every plan/reOptimize — the driver burns one core
    * while the cluster idles. This rebuilds the checkpointed plan with
    * `sizeInBytes` clamped to Long.MaxValue (keeping an accurate
    * rowCount when known): real small-dim sizes stay broadcast-eligible,
    * huge estimates stop compounding, and AQE's runtime stats take over
    * from there. */
  def clampCheckpointStats(ck: DataFrame, origin: DataFrame): DataFrame = {
    val cdf = ck.asInstanceOf[CDataset[Row]]
    cdf.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        // memoized on the origin's optimized plan — no recomputation
        val s = origin.asInstanceOf[CDataset[Row]]
          .queryExecution.optimizedPlan.stats
        val clamped = Statistics(
          sizeInBytes = s.sizeInBytes.min(BigInt(Long.MaxValue)),
          rowCount = s.rowCount.map(_.min(BigInt(Long.MaxValue))))
        CDataset.ofRows(cdf.sparkSession,
          LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            cdf.sparkSession, Some(clamped), None))
      case _ => ck
    }
  }
}
