package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Deterministic cost evidence for the optimization rounds: runs each
  * named query once (after a warm-up) and reports Spark JOB and STAGE
  * counts plus total shuffle bytes — numbers host noise cannot touch,
  * unlike wall-clock on a steal-prone box. Usage:
  * `runMain graft.tools.CountJobs <name> [name ...]` against
  * SPARK_GRAFT_SF_DIR (default sf0.1). */
object CountJobs {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CountJobs <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same SPARK_GRAFT_CONF passthrough as Bench/DumpPlans, so variant
    // plans get deterministic job/shuffle counts too
    val spark = graft.core.Sessions.builder("graft-count-jobs")
      .config(graft.core.Sessions.envConf().toMap).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val shuffleWrite = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffleWrite.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }

    val defs = graft.SparkEntry.allDefs
    // warm-up so codegen/JIT classloading jobs don't pollute counts
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    for (name <- args) {
      val fn = defs.getOrElse(name, sys.error(s"unknown query $name")).fn
      spark.catalog.clearCache()
      jobs.set(0); stages.set(0); shuffleWrite.set(0L)
      spark.sparkContext.addSparkListener(listener)
      fn(spark, sfDir).count()
      // listener events are async; drain the bus deterministically (a
      // fixed sleep under-reports on a loaded host — r16 ADVICE)
      org.apache.spark.graftbridge.ListenerBusBridge
        .waitUntilEmpty(spark.sparkContext, 60000L)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[countjobs] $name%-28s jobs=${jobs.get}%3d stages=${stages.get}%3d shuffleWriteMB=${shuffleWrite.get / 1e6}%.1f")
    }
    spark.stop()
  }
}
