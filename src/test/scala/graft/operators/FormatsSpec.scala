package graft.operators

import graft.SparkSpec

/** Format-surface properties the roundtrip oracles can't see: x10's
  * compression option must actually reach the files (a silently-ignored
  * writer option would still round-trip losslessly). */
class FormatsSpec extends SparkSpec {

  private def dirBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(p))
  }

  test("x10: every codec round-trips AND compresses — smaller files than 'none'") {
    val d = "/root/testdata/sf0.001"
    val rows = XmlOps.codecRoundtrip(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === XmlOps.Codecs.sorted)
    assert(rows.map(t => (t._2, t._3, t._4, t._5)).distinct.length === 1,
      "all codecs must agree on the content stats")
    val none = dirBytes(XmlOps.codecDir(spark, d, "none"))
    for (c <- XmlOps.Codecs if c != "none") {
      val sz = dirBytes(XmlOps.codecDir(spark, d, c))
      assert(sz < none, s"codec $c produced $sz bytes >= uncompressed $none " +
        "— the compression option never reached the files")
    }
  }

  test("x11: range layout gives disjoint per-file time slices and the pruned read loses nothing") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    // run the registered op once (it writes the layout as a side effect)
    val got = XmlOps.rangeLayout(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    // the layout really is range-partitioned: per-FILE us intervals are
    // pairwise disjoint (this is what lets row-group stats prune)
    val dir = graft.core.LakeDir.scoped(spark, "range", d)
    val slices = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(slices.length > 1, "range write should produce multiple files")
    slices.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, "file slices overlap")
      case _ =>
    }
    // identity through the layout: the pruned read equals the same
    // filter+aggregate on the original table
    val us = unix_micros(col("ts").cast("timestamp"))
    val b = graft.core.Tables.events(spark, d)
      .select(col("event_id"), col("event_type"), us.as("us"))
    val Array(row) = b.agg(min(col("us")), max(col("us"))).collect()
    val cut = row.getLong(0) + (row.getLong(1) - row.getLong(0)) / 16
    val direct = b.where(col("us") < cut)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("us")).as("min_us"),
        max(col("us")).as("max_us"), min(col("event_id")).as("min_event"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    assert(got === direct, "layout or pruning lost rows")
    assert(got.nonEmpty && got.map(_._2).sum > 0)
  }

  test("x14: slices are doc_id-disjoint, groups contiguous and cumulative-filled; hand layout replans exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val plan = XmlOps.compactionPlan(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(plan.nonEmpty && plan.map(_._2).sum > 0)
    // groups are non-decreasing in the sort key (contiguity)
    plan.map(_._4).sliding(2).foreach {
      case Seq(a, b) => assert(a <= b, "groups must be contiguous in bucket order")
      case _ =>
    }
    // cumulative-fill: everything before group g+1 holds ≥ (g+1)·target
    val total = plan.map(_._3).sum
    val target = math.max((total + 3) / 4, 1L)
    for (g <- plan.map(_._4).distinct if g > 0) {
      val before = plan.filter(_._4 < g).map(_._3).sum
      assert(before >= g * target, s"group $g started before its fill line")
    }
    // the physical slices really are disjoint in doc_id
    val dir = graft.core.LakeDir.scoped(spark, "compact", d)
    val slices = spark.read
      .schema("doc_id BIGINT, n_chars BIGINT, bucket BIGINT").parquet(dir)
      .groupBy(col("bucket"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(slices.length === plan.length)
    slices.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) =>
        assert(hi1 < lo2, "bucket doc_id slices overlap")
      case _ =>
    }
    // hand layout: bytes (9, 1, 10, 10, 10) → total 40, target 10 →
    // cum_before (0, 9, 10, 20, 30) → groups (0, 0, 1, 2, 3)
    val hand = java.nio.file.Files.createTempDirectory("x14hand").toString
    Seq((1L, 9L, 0L), (2L, 1L, 1L), (3L, 10L, 2L), (4L, 10L, 3L), (5L, 10L, 4L))
      .toDF("doc_id", "n_chars", "bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(hand)
    val got = XmlOps.compactionPlanOf(spark, hand).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq((0L, 1L, 9L, 0L), (1L, 1L, 1L, 0L), (2L, 1L, 10L, 1L),
      (3L, 1L, 10L, 2L), (4L, 1L, 10L, 3L)))
  }

  test("x15: every MERGE arm fires — update, delete, insert, and unmatched-delete no-op") {
    import spark.implicits._
    val base = Seq(
      (1L, "alice", 100L, "AUTO"),  // matched upsert → balance += 7
      (2L, "bob", 200L, "BIKE"),    // matched delete → row gone
      (3L, "carol", 300L, "SHIP"))  // untouched → identical
      .toDF("k", "name", "bal_cents", "seg")
    val chg = Seq(
      (1L, "upsert", 7L),
      (2L, "delete", 999L),   // delete payload must be ignored
      (9L, "upsert", 55L),    // unmatched upsert → insert
      (8L, "delete", 1L))     // unmatched delete → no-op
      .toDF("k", "op", "v_cents")
    val got = graft.lake.LakeTable.mergeApply(base, chg)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, "alice", 107L, "AUTO"),
      (3L, "carol", 300L, "SHIP"),
      (9L, "NEW#9", 55L, "STREAM")))
  }

  test("x15: a changelog with two rows for one key raises (MERGE duplicate-source error)") {
    import spark.implicits._
    val base = Seq((1L, "alice", 100L, "AUTO")).toDF("k", "name", "bal_cents", "seg")
    val chg = Seq((1L, "upsert", 7L), (1L, "delete", 0L)).toDF("k", "op", "v_cents")
    val ex = intercept[Exception] {
      graft.lake.LakeTable.mergeApply(base, chg).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("multiple rows for key")),
      s"expected the duplicate-key raise, got: $ex")
  }

  test("x15: synthetic new-account feed is disjoint from real keys at the gate SF") {
    // the round-12 ADVICE collision: a fixed +1450 offset landed INSIDE
    // the sf0.1 user_id/custkey ranges. The data-derived offset must put
    // every synthetic key above both ranges, so the changelog stays one
    // row per key and the unmatched-insert arm genuinely fires.
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val out = XmlOps.mergeUpsert(spark, d)
    val maxBase = graft.core.Tables.customer(spark, d)
      .agg(org.apache.spark.sql.functions.max(col("c_custkey").cast("long")))
      .collect().head.getLong(0)
    val inserted = out.where(col("seg") === "STREAM")
    assert(inserted.count() > 0, "the unmatched-insert arm never fired")
    assert(inserted.where(col("k") <= maxBase).count() === 0,
      "a synthetic insert landed inside the base key range")
    assert(out.groupBy("k").count().where(col("count") > 1).count() === 0,
      "duplicate primary keys in the MERGE output")
  }
}
