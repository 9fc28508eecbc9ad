package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** The streaming gates replay through one harness, [[Replay]], and read
  * their partial state through [[graft.pipeline.BatchLedger]]: an empty
  * replay serves a typed empty table, and the lifecycle, the file source
  * and the co-order join are each written once. */
class ReplaySpec extends SparkSpec {

  /** An sf dir whose `events` and `lineitem` tables have the TESTDATA.md
    * schemas and no rows: single parquet files (the stream delivers one
    * empty batch) or, with `asFiles = false`, Spark's directory layout
    * (the file source's glob matches no file, so no batch lands). */
  private def emptyFixture(asFiles: Boolean): String = {
    val dir = Files.createTempDirectory("replay_empty")
    val schemas = Seq(
      "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING"),
      "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"))
    for ((table, ddl) <- schemas) {
      val target = dir.resolve(s"$table.parquet")
      val staged = if (asFiles) dir.resolve(s"_$table") else target
      spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType.fromDDL(ddl))
        .coalesce(1).write.parquet(staged.toString)
      if (asFiles) {
        val listing = Files.list(staged)
        try Files.move(listing.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get, target)
        finally listing.close()
        org.apache.commons.io.FileUtils.deleteQuietly(staged.toFile)
      }
    }
    dir.toString
  }

  private def columns(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType))

  private def columns(ddl: String): Seq[(String, DataType)] =
    StructType.fromDDL(ddl).fields.toSeq.map(f => (f.name, f.dataType))

  test("st24, st38 and st63 over empty tables serve zero rows of their typed columns") {
    val states = scala.collection.mutable.Buffer.empty[String]
    def state(tag: String) = { states += Files.createTempDirectory(tag).toString; states.last }
    for (asFiles <- Seq(true, false)) {
      val d = emptyFixture(asFiles)
      val gates = Seq(
        Streaming.streamTimeBars(spark, d, state("st24_empty")) ->
          "event_type STRING, bar BIGINT, open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, n BIGINT",
        Streaming.streamSessionize(spark, d, state("st38_empty")) ->
          ("user_id BIGINT, session_idx BIGINT, n_events BIGINT, " +
            "start_us BIGINT, end_us BIGINT, dur_us BIGINT"),
        Streaming.streamMgHeavyHitters(spark, d, state("st63_empty")) -> "v BIGINT, n_rows BIGINT")
      for ((served, ddl) <- gates) {
        assert(served.collect().isEmpty, s"asFiles=$asFiles")
        assert(columns(served) === columns(ddl), s"asFiles=$asFiles")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    }
    states.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("the replay lifecycle and the file source live only in Replay.scala") {
    val root = Paths.get("src/main/scala")
    val files: Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    def holding(needle: String): Seq[String] =
      files.filter(text(_).contains(needle)).map(root.relativize(_).toString).sorted
    for (needle <- Seq("processAllAvailable()", ".trigger(",
        """option("checkpointLocation"""", """option("pathGlobFilter""""))
      assert(holding(needle) === Seq("graft/streaming/Replay.scala"), needle)
    val streaming = text(root.resolve("graft/streaming/Streaming.scala"))
    // the typed empty read is BatchLedger.table's
    for (banned <- Seq("emptyRDD", "StructType.fromDDL", "getFileSystem"))
      assert(!streaming.contains(banned), s"Streaming.scala mentions $banned")
    // the co-order pair join is written once
    val coOrder = """col("a.l_partkey") < col("b.l_partkey")"""
    assert(streaming.split(java.util.regex.Pattern.quote(coOrder), -1).length - 1 === 1)
  }
}
