package graft

import graft.core.{QueryDef, QueryModule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers a [[graft.core.QueryDef]] in one of
  * the modules below; this object is just the aggregation point the driver
  * harness (Verify/Bench) reads.
  */
object SparkEntry {

  /** Registered operator modules, in build order. */
  def modules: Seq[QueryModule] = Seq(
    graft.operators.Relational,
    graft.operators.Relational2,
    graft.operators.GraphOps,
    graft.operators.MaterialiseOps,
    graft.operators.CoOrderGraph,
    graft.operators.TextAnalysis,
    graft.operators.Dedup,
    graft.operators.Similarity,
    graft.operators.Multimodal,
    graft.operators.Temporal,
    graft.operators.ProfilerOps,
    graft.operators.StreamingOps,
    graft.operators.XmlOps,
    graft.operators.RdfOps,
    graft.operators.IncrementalOps,
  )

  def allDefs: ListMap[String, QueryDef] =
    modules.foldLeft(ListMap.empty[String, QueryDef])(_ ++ _.defs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full subgraph-build DAG (cliques → assignment → merge →
    * materialise) — if this returns rows, the whole engine is alive. */
  def entry(spark: SparkSession): DataFrame =
    graft.operators.GraphOps.pipelineE2e(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (k, QueryDef(_, Some(sql), _, _)) => k -> sql }

  /** Headline benchmark subset (run at sf0.1 by Bench). */
  def benchQueries: ListMap[String, (SparkSession, String) => DataFrame] =
    allDefs.collect { case (k, qd) if qd.bench => k -> qd.fn }

  /** The expensive tail of the headline set (> ~2 s at sf0.1): the
    * "deep" bench lane — see TUNING.md "Benchmark lanes". */
  def deepBenchNames: Set[String] =
    allDefs.collect { case (k, qd) if qd.bench && qd.deep => k }.toSet
}
