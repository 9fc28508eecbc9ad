package graft.operators

import graft.SparkSpec

/** Round-17 (optimization round) pins: the lake's SetTransaction state
  * must survive pointer vacuum via the checkpoint fold (the r15/r16
  * verdicts' structural item — occLastTxn O(tail) + vacuum/idempotence
  * interaction), and the pointer-vacuum plan must REFUSE an app's
  * newest unfolded token. */
class Round17Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def freshBase(name: String): String = {
    val base = graft.core.LakeDir.scoped(spark, name, sf)
    val bp = new org.apache.hadoop.fs.Path(base)
    val hf = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hf.exists(bp)) hf.delete(bp, true)
    base
  }

  test("occLastTxn: checkpoint fold makes tokens survive pointer vacuum; redelivery still no-ops") {
    val base = freshBase("r17_txn_ck")
    val docs = graft.core.Tables.documents(spark, sf)
    (0 until 3).foreach { b =>
      assert(XmlOps.occTxnCommit(spark, base, "writerA", b.toLong,
        docs.where(org.apache.spark.sql.functions.col("doc_id") % 3 === b)))
    }
    assert(XmlOps.occLastTxn(base, "writerA") === Some(2L))
    // fold into the checkpoint, then vacuum EVERY pre-head pointer
    XmlOps.occCheckpoint(base)
    val store = graft.lake.CommitStore.local(base)
    Seq(1, 2).foreach(v => store.delete(s"v$v"))
    // the old full-listing scan would now answer from v3 only; the
    // checkpointed map keeps the full token state and the tail probe
    // stays O(commits since checkpoint)
    assert(XmlOps.occLastTxn(base, "writerA") === Some(2L))
    // vacuum-then-redeliver must still no-op (exactly-once survives)
    assert(!XmlOps.occTxnCommit(spark, base, "writerA", 1L, docs.limit(5)))
    assert(XmlOps.occHead(base).map(_._1) === Some(3))
    // a token committed ABOVE the checkpoint is found by the tail probe
    assert(XmlOps.occTxnCommit(spark, base, "writerA", 7L, docs.limit(1)))
    assert(XmlOps.occLastTxn(base, "writerA") === Some(7L))
  }

  test("txnPointerVacuumPlan refuses an app's newest unfolded token, releases it after checkpoint") {
    val base = freshBase("r17_ptr_plan")
    val docs = graft.core.Tables.documents(spark, sf)
    (0 until 4).foreach { b =>
      assert(XmlOps.occTxnCommit(spark, base, "w", b.toLong,
        docs.where(org.apache.spark.sql.functions.col("doc_id") % 4 === b)))
    }
    assert(XmlOps.occCompact(spark, base) === 5)
    // no checkpoint yet: v1..v3 reclaimable, v4 (w's newest token) refused
    val (reclaim0, retained0) = XmlOps.txnPointerVacuumPlan(base)
    assert(reclaim0 === Seq(1, 2, 3))
    assert(retained0 === Seq(4))
    // after the fold, everything below the compaction base is released
    XmlOps.occCheckpoint(base)
    val (reclaim1, retained1) = XmlOps.txnPointerVacuumPlan(base)
    assert(reclaim1 === Seq(1, 2, 3, 4))
    assert(retained1.isEmpty)
  }

  test("stale checkpoint: pointer vacuum leaves no gap below a retained token") {
    // checkpoint at v1, token commits at v2 and v3, compaction at v4: the
    // checkpoint predates the compaction, so the readers walk up from v1
    // and a reclaimed v2 would hide v3's token and the true head
    val base = freshBase("r17_stale_ck")
    val docs = graft.core.Tables.documents(spark, sf)
    assert(XmlOps.occTryCommit(base, 1, XmlOps.occPrepare(spark, base, docs.limit(3))))
    XmlOps.occCheckpoint(base)
    assert(XmlOps.occTxnCommit(spark, base, "w", 1L, docs.limit(2)))
    assert(XmlOps.occTxnCommit(spark, base, "w", 2L, docs.limit(1)))
    assert(XmlOps.occCompact(spark, base) === 4)
    val head = XmlOps.occHead(base)
    assert(head.map(_._1) === Some(4))
    val (reclaim, _) = XmlOps.txnPointerVacuumPlan(base)
    val store = graft.lake.CommitStore.local(base)
    reclaim.foreach(v => store.delete(s"v$v"))
    assert(XmlOps.occLastTxn(base, "w") === Some(2L))
    assert(XmlOps.occHeadFast(base) === head)
  }

  test("multi-line checkpoint: head resolution, schema fold, and back-compat parse") {
    val base = freshBase("r17_ck_fmt")
    val docs = graft.core.Tables.documents(spark, sf)
    val ddl5 = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    val gen1 = XmlOps.occPrepare(spark, base, docs)
    assert(XmlOps.occTryCommit(base, 1, s"$gen1\nschema $ddl5\ntxn app9 41"))
    XmlOps.occCheckpoint(base)
    val store = graft.lake.CommitStore.local(base)
    val ck = XmlOps.parseCheckpoint(store.read("_last_checkpoint").get)
    assert(ck.version === 1 && ck.gen === gen1)
    assert(ck.txns === Map("app9" -> 41L))
    assert(ck.schema === Some(ddl5))
    // occHeadFast parses the multi-line format and still tail-probes
    val gen2 = XmlOps.occPrepare(spark, base, docs.limit(1))
    assert(XmlOps.occTryCommit(base, 2, gen2))
    assert(XmlOps.occHeadFast(base) === Some((2, gen2)))
    // the original single-line format still parses (x25 back-compat)
    store.putReplace("_last_checkpoint", s"1 $gen1")
    assert(XmlOps.occHeadFast(base) === Some((2, gen2)))
    assert(XmlOps.parseCheckpoint(s"1 $gen1") ===
      XmlOps.CkState(1, gen1, Map.empty, None))
  }

  test("checkpoint fold is cumulative: a re-checkpoint keeps tokens whose pointers are gone") {
    val base = freshBase("r17_ck_cumulative")
    val docs = graft.core.Tables.documents(spark, sf)
    assert(XmlOps.occTxnCommit(spark, base, "w", 1L, docs.limit(2)))
    XmlOps.occCheckpoint(base)
    graft.lake.CommitStore.local(base).delete("v1") // token pointer gone
    val gen = XmlOps.occPrepare(spark, base, docs.limit(1))
    assert(XmlOps.occTryCommit(base, 2, gen))
    XmlOps.occCheckpoint(base) // re-fold: must carry w=1 from the PREVIOUS checkpoint
    val ck = XmlOps.parseCheckpoint(
      graft.lake.CommitStore.local(base).read("_last_checkpoint").get)
    assert(ck.version === 2)
    assert(ck.txns === Map("w" -> 1L))
    assert(XmlOps.occLastTxn(base, "w") === Some(1L))
  }
}
