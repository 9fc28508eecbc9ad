package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Round-17 skew evidence for the groups canonical pick (guide §2.5).
  *
  * Two measurements, both on a mega-clique shape (ONE component owning
  * 20% of all members over a sea of singletons):
  *
  *   1. PICK-ONLY: a synthesized, checkpointed (member, component)
  *      frame drives `Groups.pickCanonical` directly, so the reported
  *      wall/max-task is the pick stage alone — the straggler the
  *      window form cannot avoid (every member of the hot component
  *      funnels through ONE window reducer; AQE cannot split a window
  *      partition) vs the salted two-phase pick whose per-task share is
  *      bounded by ~1/saltBuckets.
  *   2. END-TO-END: `Groups.fromIdSets` on an equivalent id-set fixture
  *      with both settings, cross-checked by full-row hash — the
  *      results are identical and the CC rounds dominate, which is why
  *      the pick-only isolation exists.
  *
  * Usage: `runMain graft.tools.ProfileSkewPick [nMembers] [reps]`
  * (defaults 8,000,000 / 3 for pick-only; e2e uses nMembers/4).
  */
object ProfileSkewPick {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(32000000)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = graft.core.Sessions.builder("graft-profile-skew-pick")
      // Locally the hot component's join partition is a few tens of MB —
      // under AQE's default 256 MB skew threshold, so the runtime split
      // the salted form relies on for its attach join never fires at
      // fixture scale. Lowering the thresholds emulates the 100 TB
      // regime (where the hot partition is GBs past any threshold);
      // the WINDOW variant gets the same session and still cannot be
      // split, because AQE skew handling applies only to joins.
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val maxTaskMs = new AtomicLong(0L)
    // per-stage max task duration, so the straggler is attributable
    val perStage = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val d = e.taskInfo.duration
        var cur = maxTaskMs.get()
        while (d > cur && !maxTaskMs.compareAndSet(cur, d)) cur = maxTaskMs.get()
        perStage.merge(e.stageId, d, (a, b) => math.max(a, b))
      }
    }

    def measure(label: String)(body: => org.apache.spark.sql.Row): Unit = {
      spark.catalog.clearCache()
      maxTaskMs.set(0L)
      perStage.clear()
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobDescription(s"skew-pick $label")
      val t0 = System.nanoTime()
      val row = body
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.ListenerBusBridge
        .waitUntilEmpty(spark.sparkContext, 60000L)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val top = perStage.asScala.toSeq.sortBy(-_._2).take(3)
        .map { case (s, ms) => f"s$s=${ms / 1000.0}%.1fs" }.mkString(" ")
      println(f"[skewpick] $label%-16s wall=$wall%7.2fs maxTask=${maxTaskMs.get() / 1000.0}%7.2fs topStages[$top] rows=${row.getLong(0)} hash=${row.getDecimal(1)}")
    }

    def hashAgg(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("member"), col("canonical")).cast("decimal(38,0)")).as("h"))
        .collect()(0)

    // ---- 1. pick-only over a checkpointed skewed frame -----------------
    // shape: ONE mega-clique with 20% of members + cold cliques of ~100
    // members (the realistic corpus shape — components are entity
    // cliques of ~#datasources members, not singletons)
    val hot = n / 5
    val full = spark.range(0, n)
      .select(format_string("m:%09d", col("id")).as("member"),
        when(col("id") < hot, lit("hub:000000000"))
          .otherwise(format_string("c:%09d", expr("id div 100"))).as("component"))
      .localCheckpoint() // materialise so the pick is the only work timed
    (1 to reps).foreach { r =>
      measure(s"pick window#$r") { hashAgg(graft.identity.Groups.pickCanonical(full, 0)) }
      measure(s"pick salted#$r") { hashAgg(graft.identity.Groups.pickCanonical(full, 32)) }
    }

    // ---- 2. end-to-end fromIdSets cross-check ---------------------------
    val ne = n / 4
    val hotE = ne / 5
    def idSets = {
      val hotSets = spark.range(0, hotE)
        .select(array(format_string("m:%09d", col("id")), lit("hub:000000000")).as("ids"))
      val cold = spark.range(hotE, ne)
        .select(array(format_string("m:%09d", col("id")),
          format_string("p:%09d", col("id"))).as("ids"))
      hotSets.union(cold)
    }
    (1 to reps).foreach { r =>
      measure(s"e2e window#$r") { hashAgg(graft.identity.Groups.fromIdSets(idSets, 0)) }
      measure(s"e2e salted#$r") { hashAgg(graft.identity.Groups.fromIdSets(idSets, 32)) }
    }
    spark.stop()
  }
}
