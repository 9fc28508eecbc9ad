package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.curie.PrefixTrie
import graft.identity.{AssignIds, AssignedNode, ConnectedComponents, Groups}
import graft.index.Index
import graft.materialise.Materialise
import graft.merge.Merge
import graft.model.{IngestNode, MergedNode}
import graft.pipeline.{ConfigLoader, GraftPipeline, Incremental, SubgraphBuild, SubgraphConfig}
import graft.query.Query
import graft.sinks.KvGenStore
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.commons.io.FileUtils
import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** JVM side of the subgraph benchmark. Reads the inputs gen.py wrote,
  * drives the engine through its public entry points, checks every output
  * against the generator's closed-form expectations, and prints one line
  *
  *   PERFBENCH_RESULT {"attempted":…,"failed":…,"metrics":{name:[value,unit]},…}
  *
  * `build` mode times one whole build (discover + ingest →
  * GraftPipeline.run → GraftPipeline.write into a fresh directory), the
  * first in this fresh JVM, as a build is run in practice.
  * `trace` mode first warms the JVM with a checked build of a small input
  * set (warmDir), then times one build of the inputs, now warm (the
  * reference for trace.overhead_s), then calls each layer's public function
  * in turn on staged inputs, inside a job group per layer, and reads
  * Spark's job and task metrics through a listener registered here; then
  * applies one update batch and runs the read mix the same way.
  *
  * Usage: SubgraphBench <build|trace> <dataDir> <warmDir|-> <workDir> <cores>
  *          <t0 epoch ms>
  * dataDir and warmDir each hold `inputs/` and `expected.json`; setup_s runs
  * from t0 to the start of the timed build.
  */
object SubgraphBench {

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6, "usage: SubgraphBench <build|trace> <dataDir> <warmDir|-> " +
      "<workDir> <cores> <t0 epoch ms>")
    val Array(mode, data, warm, work, cores, t0) = argv
    require(mode == "build" || mode == "trace", s"unknown mode $mode")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the session settings graft.Bench uses
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val line =
      try {
        val r = new Run(spark, data, work)
        if (mode == "build") r.build(t0.toLong) else r.traced(new Inputs(spark, warm))
      } finally spark.stop()
    println("PERFBENCH_RESULT " + line)
  }
}

/** CPU, GC, steal and RSS probes. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU (user + sys, every JVM thread). */
  def cpuNs(): Long = os.getProcessCpuTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def stealTotal(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .slice(1, 9).map(_.toLong)
    (f(7), f.sum)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}

/** One generated input set: the config as the engine sees it, the
  * closed-form expectations, and the ingest datasets. */
final class Inputs(spark: SparkSession, data: String) {
  val home = s"$data/inputs"
  val exp: JsonNode =
    new ObjectMapper().readTree(Files.readString(Paths.get(s"$data/expected.json")))
  val corpus: JsonNode = exp.get("corpus")
  // ConfigLoader cannot read a prefix map, so the generated one is set here
  val config: SubgraphConfig = {
    val pm = new ObjectMapper().readTree(Files.readString(Paths.get(s"$home/prefix_map.json")))
    ConfigLoader.loadSubgraphConfig(s"$home/config.json")
      .copy(prefixMap = pm.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
  }

  def ingests(): Seq[Dataset[IngestNode]] =
    config.datasourceConfigs
      .flatMap(rel => ConfigLoader.discoverFiles(home, ConfigLoader.loadDatasource(s"$home/$rel")))
      .map(f => ConfigLoader.ingestFile(spark, home, config.name, f))
}

/** One benchmark run over one generated input set. */
final class Run(spark: SparkSession, data: String, work: String) {
  import spark.implicits._

  private val in = new Inputs(spark, data)
  private val config = in.config
  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]
  private val gc0 = Probe.gcMs()
  private val steal0 = Probe.stealTotal()

  private def now(): Double = System.nanoTime() / 1e9

  // job and task counts of every build, for the log
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  })

  /** Count one operation; `check` returns an error text or None. */
  private def op(what: String)(check: => Option[String]): Unit = {
    attempted += 1
    val err =
      try check catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    err.foreach { m =>
      failed += 1
      if (failures.size < 20) failures += s"$what: $m"
    }
  }

  // ------------------------------------------------------------- checks

  /** Row count and the exact sum of the first 60 bits of SHA-256 over each
    * distinct tab-joined row — gen.py's set_hash, computed in Spark. */
  private def setHash(df: DataFrame, cols: String*): (Long, String) = {
    val r = df.select(concat_ws("\t", cols.map(col): _*).as("s")).distinct()
      .agg(count(lit(1)), sum(conv(substring(sha2(col("s"), 256), 1, 15), 16, 10)
        .cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  private val artifacts = Seq("merged.parquet", "metadata.parquet", "edges.parquet",
    "neo_nodes.csv", "neo_edges.csv", "neo_nodes_ids.csv", "neo_edges_ids.csv", "solr",
    "solr_config", "kv.parquet", "names.txt", "summary.json")

  /** Every artifact present; merged-node count, member → canonical hash and
    * edge count and hash as the generator's closed form says. */
  private def checkBuild(corpus: JsonNode, out: String): Option[String] = {
    val missing = artifacts.filterNot(a => Files.exists(Paths.get(s"$out/$a")))
    if (missing.nonEmpty) return Some(s"missing artifacts ${missing.mkString(",")}")
    val merged = spark.read.parquet(s"$out/merged.parquet")
    val edges = spark.read.parquet(s"$out/edges.parquet")
    val (pairs, memberHash) =
      setHash(merged.select(explode(col("sourceIds")).as("id"), col("nodeId")), "id", "nodeId")
    val (_, edgeHash) = setHash(edges, "fromNodeId", "edgeType", "toNodeId")
    val got = Seq("nodes" -> merged.count().toString, "member_pairs" -> pairs.toString,
      "member_hash" -> memberHash, "edge_rows" -> edges.count().toString, "edge_hash" -> edgeHash)
    val bad = got.filter { case (k, v) => corpus.get(k).asText != v }
    if (bad.isEmpty) None
    else Some(bad.map { case (k, v) => s"$k=$v want ${corpus.get(k).asText}" }.mkString(", "))
  }

  private def checkLookup(key: String, want: JsonNode, got: Option[String]): Option[String] =
    (got, want.isNull) match {
      case (None, true) => None
      case (Some(j), false) =>
        val ids = new ObjectMapper().readTree(j).get("grebi:sourceIds").elements().asScala
          .map(_.asText).toSeq
        val w = want.elements().asScala.map(_.asText).toSeq
        if (ids == w) None else Some(s"lookup $key: sourceIds ${ids.take(3)}… want ${w.take(3)}…")
      case (g, _) => Some(s"lookup $key: got ${g.map(_.take(60))} want $want")
    }

  // ------------------------------------------------------------- builds

  /** Time one untraced build of `inputs` into a fresh directory, check it,
    * then drop its output and cached frames so every build starts from the
    * same state; (wall s, CPU s). */
  private def timedBuild(inputs: Inputs, what: String): (Double, Double) = {
    val out = s"$work/out"
    FileUtils.deleteDirectory(new File(out))
    System.gc()
    val j0 = jobs.get(); val k0 = tasks.get()
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = Probe.cpuNs(); val t = now()
    val ok =
      try { GraftPipeline.write(GraftPipeline.run(spark, inputs.config, inputs.ingests()), out); true }
      catch { case e: Throwable =>
        op(what)(Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")); false }
    val wallCpu = (now() - t, (Probe.cpuNs() - c0) / 1e9)
    ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 60000L)
    System.err.println(f"[perfbench] $what ${wallCpu._1}%.3f s, cpu ${wallCpu._2}%.3f s, " +
      s"${jobs.get() - j0} jobs, ${tasks.get() - k0} tasks, " +
      s"${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0} codegen compiles")
    if (ok) op(what)(checkBuild(inputs.corpus, out))
    spark.catalog.clearCache()
    FileUtils.deleteDirectory(new File(out))
    wallCpu
  }

  /** One timed build, the first in this fresh JVM: how a build is run in
    * practice (one per process), and all a run has time for (NOTES.md). */
  def build(t0: Long): String = {
    val setupS = System.currentTimeMillis() / 1000.0 - t0 / 1000.0
    val (buildS, cpuS) = timedBuild(in, "build")
    result(Seq(
      ("setup_s", setupS, "s"),
      ("build_s", buildS, "s"),
      ("build_rec_per_s", in.corpus.get("records").asDouble / buildS, "1/s"),
      ("build_cpu_s", cpuS, "s"),
      ("peak_rss_mb", Probe.peakRssMb(), "MB")))
  }

  private def result(metrics: Seq[(String, Double, String)]): String = {
    val steal1 = Probe.stealTotal()
    val all = metrics ++ Seq(
      ("run.steal_frac", (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2),
        "ratio"),
      ("run.gc_s", (Probe.gcMs() - gc0) / 1000.0, "s"))
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(str).mkString("[", ",", "]")},""" +
      s""""metrics":${all.map { case (k, v, u) => s"${str(k)}:[${num(v)},${str(u)}]" }
        .mkString("{", ",", "}")}}"""
  }

  // ------------------------------------------------------------- traced

  /** First a warm-up, so that JVM start-up is charged to neither the
    * reference nor the layers: where the workload has an update batch, the
    * serve layers' base state (an Incremental.update of the whole corpus
    * and refreshKv, which run the build's ingest to merge code), else a
    * checked build of the small `warm` inputs. Then one untraced build as
    * in `build` mode, now warm, the reference for trace.overhead_s; then
    * the build's layers one at a time on staged inputs; then the batch and
    * the read mix, each call in its own layer. */
  def traced(warm: Inputs): String = {
    val serve = in.exp.has("batch")
    if (serve) {
      val t = now()
      Incremental.update(spark, config, s"$work/state", in.ingests().reduce(_ union _), Some("base"))
      Incremental.refreshKv(spark, s"$work/state", s"$work/kv")
      System.err.println(f"[perfbench] warm-up incremental base ${now() - t}%.3f s")
    } else timedBuild(warm, "warm-up build")
    val (referenceBuildS, _) = timedBuild(in, "reference build")
    val tr = new Tracer(spark)
    tracedBuild(tr)
    if (serve) tracedServe(tr)
    val layerWall = Tracer.BuildLayers.map(l => tr.value(s"$l.wall_s")).sum
    result(tr.metrics() :+ (("trace.overhead_s", layerWall - referenceBuildS, "s")))
  }

  /** The SubgraphConfig fields GraftPipeline.run reads, all of which the
    * traced build below passes on as the real build does. */
  private val mirrored = Set("name", "prefixMap", "additionalEquivalenceGroups",
    "excludeProps", "typeSuperclasses", "ancestorProp", "identifierProps", "excludeEdges",
    "excludeSelfReferentialEdges", "hotKeySaltBuckets", "broadcastGroups",
    // read by neither run nor write
    "bytesPerMergedFile", "datasourceConfigs")

  /** GraftPipeline.run's layers, each a separate call that reads the
    * previous layer's parquet output, with the same arguments run passes.
    * Staging breaks the plan fusion of a real build; trace.overhead_s
    * reports the cost. */
  private def tracedBuild(tr: Tracer): Unit = {
    val unknown = config.productElementNames.toSeq.filterNot(mirrored)
    require(unknown.isEmpty,
      s"SubgraphConfig fields the traced build does not pass on: ${unknown.mkString(", ")}")
    val st = s"$work/stage"
    def stage(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$st/$name")
    def read(name: String): DataFrame = spark.read.parquet(s"$st/$name")
    val salt = config.hotKeySaltBuckets

    tr.layer("ingest") { stage(in.ingests().reduce(_ union _).toDF(), "ingest") }
    tr.layer("normalise") {
      val all = read("ingest").as[IngestNode]
      stage((if (config.prefixMap.isEmpty) all
        else GraftPipeline.normalise(all, PrefixTrie(config.prefixMap))).toDF(), "norm")
    }
    val norm = read("norm").as[IngestNode]
    // the id sets GraftPipeline.run hands to Groups.fromIdSets
    val empty = array().cast("array<string>")
    val recordIdSets = norm.toDF().select(concat(coalesce(col("ids"), empty) +:
      config.identifierProps.filter(_ != "id").map(p => coalesce(
        transform(try_element_at(col("props"), lit(p)), v => v.getField("value")), empty)): _*)
      .as("ids"))
    val idSets =
      if (config.additionalEquivalenceGroups.isEmpty) recordIdSets
      else recordIdSets.union(config.additionalEquivalenceGroups.toDF("ids"))
    tr.layer("identity.cc") {
      // the star edges Groups.fromIdSets builds
      val valid = idSets.select(filter(col("ids"), id => Groups.isValidIdCol(id)).as("ids"))
        .where(size(col("ids")) > 0)
      stage(ConnectedComponents.run(
        valid.select(explode(col("ids")).as("dst"), element_at(col("ids"), 1).as("src"))), "cc")
    }
    tr.layer("identity.groups") { stage(Groups.fromIdSets(idSets, saltBuckets = salt), "groups") }
    tr.layer("identity.assign") {
      val assigned =
        if (config.broadcastGroups)
          AssignIds(spark, norm, read("groups").collect().map(r => r.getString(0) -> r.getString(1)).toMap)
        else AssignIds.joinBased(spark, norm, read("groups"))
      stage(GraftPipeline.superclassesToTypes(assigned, config.typeSuperclasses,
        config.ancestorProp).toDF(), "assigned")
    }
    tr.layer("merge") {
      stage(Merge(spark, read("assigned").as[AssignedNode], config.excludeProps)
        .withColumn("subgraph", lit(config.name)), "merged")
    }
    val merged = read("merged").as[MergedNode]
    tr.layer("index") {
      stage(Index.metadata(merged), "metadata")
      stage(Index.typeCounts(merged), "typeCounts")
      stage(Index.entityPropCounts(merged), "entityPropCounts")
      stage(Index.names(merged), "names")
    }
    tr.layer("materialise") {
      stage(Materialise.edges(merged, merged.toDF().select(col("nodeId")),
        excludeProps = Set("grebi:type", "grebi:name") ++ config.excludeEdges,
        saltBuckets = salt,
        selfReferentialProps =
          if (config.excludeSelfReferentialEdges.nonEmpty) Some(config.excludeSelfReferentialEdges)
          else None), "edges")
      stage(Materialise.displayTypes(merged, read("typeCounts")), "displayTypes")
      stage(Materialise.refs(merged, read("metadata"), saltBuckets = salt), "refs")
    }
    val out = s"$work/out-traced"
    tr.layer("sinks") {
      GraftPipeline.write(SubgraphBuild(merged, read("metadata"), read("edges"),
        read("displayTypes"), read("refs"), read("typeCounts"), read("entityPropCounts"),
        read("names"), Map.empty), out)
    }
    op("traced build")(checkBuild(in.corpus, out))
  }

  /** On the base state `traced` built from the corpus, one keyed batch:
    * Incremental.update and refreshKv, KvGenStore.lookup probes (the ids
    * the batch changed first) and Query.searchPage probes. */
  private def tracedServe(tr: Tracer): Unit = {
    val state = s"$work/state"
    val kv = s"$work/kv"
    val batch = in.exp.get("batch")
    val file = ConfigLoader.discoverFiles(in.home,
      ConfigLoader.loadDatasource(s"${in.home}/datasources/updates.yaml")).head
    tr.layer("incremental.update") {
      Incremental.update(spark, config, state,
        ConfigLoader.ingestFile(spark, in.home, config.name, file), Some(batch.get("key").asText))
    }
    tr.layer("incremental.refresh_kv") { Incremental.refreshKv(spark, state, kv) }
    val lookups = batch.get("lookups").elements().asScala.toSeq
    val got = ArrayBuffer.empty[Option[String]]
    tr.layer("kv.lookup", rows = () => got.count(_.isDefined).toLong) {
      lookups.foreach(p => got += KvGenStore.lookup(spark, kv, p.get(0).asText))
    }
    lookups.zip(got).foreach { case (p, g) =>
      op("lookup")(checkLookup(p.get(0).asText, p.get(1), g))
    }
    val meta = Index.metadata(Incremental.currentMerged(spark, state))
    val searches = batch.get("searches").elements().asScala.toSeq
    val totals = ArrayBuffer.empty[Long]
    tr.layer("query.search", rows = () => totals.sum) {
      searches.foreach { p =>
        totals += Query.searchPage(meta, Map("nodeId" -> 1000.0, "name" -> 900.0),
          p.get(0).asText, Map.empty, Seq("types"), "nodeId")._3
      }
    }
    searches.zip(totals).foreach { case (p, t) =>
      op("search")(if (t == p.get(1).asLong) None else Some(s"search ${p.get(0)}: $t want ${p.get(1)}"))
    }
  }
}
/** Per-layer Spark metrics, grouped by the job group the benchmark sets
  * around each layer call. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final class Acc {
    var jobs = 0L; var tasks = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var rowsOut = 0L
    val taskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]
  }
  private val accs = mutable.Map.empty[String, Acc]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val values = mutable.Map.empty[String, Double]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = accs.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { l =>
        accs.getOrElseUpdate(l, new Acc).jobs += 1
        e.stageIds.foreach(s => stageLayer(s) = l)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = accs.synchronized {
      for (l <- stageLayer.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = accs.getOrElseUpdate(l, new Acc)
        a.tasks += 1
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.rowsOut += m.outputMetrics.recordsWritten
        a.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  })

  /** Run `body` as layer `name`. rows_out is the records the layer's jobs
    * wrote, unless `rows` gives the layer's result count (read layers). */
  def layer(name: String, rows: () => Long = null)(body: => Unit): Unit = {
    ListenerBusBridge.waitUntilEmpty(sc, 60000L)
    val c0 = Probe.cpuNs(); val t0 = System.nanoTime()
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Probe.cpuNs() - c0) / 1e9
    ListenerBusBridge.waitUntilEmpty(sc, 60000L)
    val a = accs.synchronized(accs.getOrElse(name, new Acc))
    // straggler ratio per stage, over stages with ≥2 tasks and a median
    // task of at least 10 ms, so scheduling jitter on empty tasks is ignored
    val skews = a.taskMs.values.filter(_.size >= 2).map(_.sorted).collect {
      case s if s((s.size - 1) / 2) >= 10 => s.last.toDouble / s((s.size - 1) / 2)
    }
    def put(k: String, v: Double): Unit = values(s"$name.$k") = v
    put("wall_s", wall)
    put("cpu_s", cpu)
    put("jobs", a.jobs.toDouble)
    put("tasks", a.tasks.toDouble)
    put("shuffle_write_mb", a.shuffleBytes / 1048576.0)
    put("spill_mb", a.spillBytes / 1048576.0)
    put("task_skew", if (skews.isEmpty) 1.0 else skews.max)
    put("rows_out", if (rows == null) a.rowsOut.toDouble else rows().toDouble)
  }

  def value(k: String): Double = values(k)

  /** Every layer's metrics; a layer the run did not call reads 0. */
  def metrics(): Seq[(String, Double, String)] =
    for (l <- Tracer.Layers; (m, u) <- Tracer.Metrics)
      yield (s"$l.$m", values.getOrElse(s"$l.$m", 0.0), u)
}

object Tracer {
  val BuildLayers: Seq[String] = Seq("ingest", "normalise", "identity.cc", "identity.groups",
    "identity.assign", "merge", "index", "materialise", "sinks")
  val Layers: Seq[String] = BuildLayers ++
    Seq("incremental.update", "incremental.refresh_kv", "kv.lookup", "query.search")
  val Metrics: Seq[(String, String)] = Seq("wall_s" -> "s", "cpu_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "task_skew" -> "ratio",
    "rows_out" -> "count")
}
