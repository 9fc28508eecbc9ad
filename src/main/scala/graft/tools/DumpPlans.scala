package graft.tools

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` output for registered queries to files —
  * the plan evidence the optimization rounds commit under `plans/rNN/`.
  *
  * Usage: `runMain graft.tools.DumpPlans <outDir> <suffix> [name ...]`
  * (no names = the bench set; names select any registered gate, which
  * makes this the explain-audit loop for pushdown, broadcast and codegen
  * spans too). Data dir from SPARK_GRAFT_SF_DIR (default sf0.1) so plan
  * shapes (AQE thresholds, stats) match what the bench actually runs.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DumpPlans <outDir> <suffix> [query ...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same SPARK_GRAFT_CONF passthrough as Bench, so the plans of an A/B
    // variant can be dumped for the record
    val spark = graft.core.Sessions.builder("graft-dump-plans")
      .config(graft.core.Sessions.envConf().toMap).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val defs = graft.SparkEntry.allDefs
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else defs.collect { case (k, qd) if qd.bench => k }.toSeq
    for (name <- names) {
      val qd = defs.getOrElse(name, sys.error(s"unknown query $name"))
      val out = outDir.resolve(s"${name}_$suffix.txt")
      try {
        val plan = qd.fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(out, plan.getBytes("UTF-8"))
        println(s"[plans] wrote $out")
      } catch {
        case e: Throwable =>
          Files.write(out, s"explain failed: ${e.getMessage}".getBytes("UTF-8"))
          println(s"[plans] FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
