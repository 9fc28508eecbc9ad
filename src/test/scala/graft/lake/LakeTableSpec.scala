package graft.lake

import graft.SparkSpec
import graft.core.LakeDir
import org.apache.spark.sql.functions._

/** Lake table operations over real generations: generation vacuum after
  * a pointer vacuum that retained a token pointer, and the schema a
  * checkpoint carries. */
class LakeTableSpec extends SparkSpec {

  /** A hand-built documents table: 40 rows, four languages. */
  private lazy val corpus: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lake_table_spec").toString
    (1L to 40L).map(i => (i, s"text $i", Seq("en", "fr", "de", "zh")((i % 4).toInt),
        "web", 50L + 10L * i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }
  private def docs = graft.core.Tables.documents(spark, corpus)

  test("generation vacuum after a token-retaining pointer vacuum keeps what retained pointers name") {
    // 4 txn commits + a compaction, no checkpoint: the pointer plan
    // reclaims v1..v3 and keeps v4 for w's newest token. The generation
    // plan must not walk from the kept v4 into the vacuumed v3.
    val base = LakeDir.fresh(spark, "lake_vac_kept_token", corpus)
    val log = TxnLog.local(base)
    (0 until 4).foreach { b =>
      assert(LakeTable.txnAppend(spark, base, "w", b.toLong, docs.where(col("doc_id") % 4 === b)))
    }
    assert(LakeTable.compact(spark, base) === 5)
    val gen = (1 to 5).map(v => v -> log.at(v).get.gen).toMap
    val (reclaim, kept) = log.pointerVacuumPlan()
    assert((reclaim, kept) === ((Seq(1, 2, 3), Seq(4))))
    reclaim.foreach(log.drop)
    val (live, dead) = LakeTable.vacuumPlan(spark, base)
    assert(live === Set(gen(4), gen(5)))
    assert(dead === Set(gen(1), gen(2), gen(3)))
    dead.foreach(g => LakeDir.delete(spark, s"$base/$g"))
    assert(LakeTable.snapshot(spark, base).count() === docs.count())
    // the kept pointer still carries the token: a redelivery no-ops
    assert(!LakeTable.txnAppend(spark, base, "w", 3L, docs.limit(1)))
  }

  test("checkpoint carries the schema in force, not only the head commit's line") {
    val base = LakeDir.fresh(spark, "lake_ck_schema", corpus)
    val log = TxnLog.local(base)
    val ddl6 = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT, " +
      "quality_tier BIGINT"
    val gen1 = LakeTable.prepare(spark, base, docs.where(col("doc_id") % 2 === 0))
    assert(log.tryCommit(1, Commit(gen1, schema = Some(ddl6))))
    assert(LakeTable.txnAppend(spark, base, "w", 0L, docs.where(col("doc_id") % 2 === 1)))
    assert(log.at(2).get.schema === None, "a txn append carries no schema line")
    log.checkpoint()
    assert(log.lastCheckpoint.get.schema === Some(ddl6))
    val (reclaim, _) = log.pointerVacuumPlan()
    reclaim.foreach(log.drop)
    val head = LakeTable.snapshot(spark, base)
    assert(head.columns.toSeq ===
      Seq("doc_id", "text", "lang", "source", "n_chars", "quality_tier"))
    assert(head.count() === docs.count())
    assert(head.where(col("quality_tier").isNotNull).count() === 0L)
  }
}
