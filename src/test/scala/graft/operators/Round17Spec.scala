package graft.operators

import graft.SparkSpec
import graft.lake.{Checkpoint, Commit, LakeTable, TxnLog}

/** Round-17 (optimization round) pins: the lake's SetTransaction state
  * must survive pointer vacuum via the checkpoint fold (the r15/r16
  * verdicts' structural item — lastTxn O(tail) + vacuum/idempotence
  * interaction), and the pointer-vacuum plan must REFUSE an app's
  * newest unfolded token. */
class Round17Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def freshBase(name: String): String = graft.core.LakeDir.fresh(spark, name, sf)

  test("occLastTxn: checkpoint fold makes tokens survive pointer vacuum; redelivery still no-ops") {
    val base = freshBase("r17_txn_ck")
    val log = TxnLog.local(base)
    val docs = graft.core.Tables.documents(spark, sf)
    (0 until 3).foreach { b =>
      assert(LakeTable.txnAppend(spark, base, "writerA", b.toLong,
        docs.where(org.apache.spark.sql.functions.col("doc_id") % 3 === b)))
    }
    assert(log.lastTxn("writerA") === Some(2L))
    // fold into the checkpoint, then vacuum EVERY pre-head pointer
    log.checkpoint()
    Seq(1, 2).foreach(log.drop)
    // a full-listing scan would now answer from v3 only; the
    // checkpointed map keeps the full token state and the tail probe
    // stays O(commits since checkpoint)
    assert(log.lastTxn("writerA") === Some(2L))
    // vacuum-then-redeliver must still no-op (exactly-once survives)
    assert(!LakeTable.txnAppend(spark, base, "writerA", 1L, docs.limit(5)))
    assert(log.head === 3)
    // a token committed ABOVE the checkpoint is found by the tail probe
    assert(LakeTable.txnAppend(spark, base, "writerA", 7L, docs.limit(1)))
    assert(log.lastTxn("writerA") === Some(7L))
  }

  test("txnPointerVacuumPlan refuses an app's newest unfolded token, releases it after checkpoint") {
    val base = freshBase("r17_ptr_plan")
    val log = TxnLog.local(base)
    val docs = graft.core.Tables.documents(spark, sf)
    (0 until 4).foreach { b =>
      assert(LakeTable.txnAppend(spark, base, "w", b.toLong,
        docs.where(org.apache.spark.sql.functions.col("doc_id") % 4 === b)))
    }
    assert(LakeTable.compact(spark, base) === 5)
    // no checkpoint yet: v1..v3 reclaimable, v4 (w's newest token) refused
    val (reclaim0, retained0) = log.pointerVacuumPlan()
    assert(reclaim0 === Seq(1, 2, 3))
    assert(retained0 === Seq(4))
    // after the fold, everything below the compaction base is released
    log.checkpoint()
    val (reclaim1, retained1) = log.pointerVacuumPlan()
    assert(reclaim1 === Seq(1, 2, 3, 4))
    assert(retained1.isEmpty)
  }

  test("stale checkpoint: pointer vacuum leaves no gap below a retained token") {
    // checkpoint at v1, token commits at v2 and v3, compaction at v4: the
    // checkpoint predates the compaction, so the readers walk up from v1
    // and a reclaimed v2 would hide v3's token and the true head
    val base = freshBase("r17_stale_ck")
    val log = TxnLog.local(base)
    val docs = graft.core.Tables.documents(spark, sf)
    assert(log.tryCommit(1, Commit(LakeTable.prepare(spark, base, docs.limit(3)))))
    log.checkpoint()
    assert(LakeTable.txnAppend(spark, base, "w", 1L, docs.limit(2)))
    assert(LakeTable.txnAppend(spark, base, "w", 2L, docs.limit(1)))
    assert(LakeTable.compact(spark, base) === 4)
    assert(log.head === 4)
    val headGen = log.at(4).map(_.gen)
    val (reclaim, _) = log.pointerVacuumPlan()
    reclaim.foreach(log.drop)
    assert(log.lastTxn("w") === Some(2L))
    assert((log.head, log.at(4).map(_.gen)) === ((4, headGen)))
  }

  test("multi-line checkpoint: head resolution, schema fold, and back-compat parse") {
    val base = freshBase("r17_ck_fmt")
    val log = TxnLog.local(base)
    val docs = graft.core.Tables.documents(spark, sf)
    val ddl5 = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    val gen1 = LakeTable.prepare(spark, base, docs)
    // a commit carrying BOTH a schema line and a token hides neither, in
    // either line order
    val both = Commit(gen1, txn = Some("app9" -> 41L), schema = Some(ddl5))
    assert(Commit.decode(s"$gen1\nschema $ddl5\ntxn app9 41") === both)
    assert(log.tryCommit(1, both))
    log.checkpoint()
    val ck = log.lastCheckpoint.get
    assert(ck.version === 1 && ck.gen === gen1)
    assert(ck.txns === Map("app9" -> 41L))
    assert(ck.schema === Some(ddl5))
    // the tip walk reads the multi-line format and still tail-probes
    val gen2 = LakeTable.prepare(spark, base, docs.limit(1))
    assert(log.tryCommit(2, Commit(gen2)))
    assert((log.head, log.at(2)) === ((2, Some(Commit(gen2)))))
    // the original single-line format still parses (x25 back-compat)
    graft.lake.CommitStore.local(base).putReplace(Checkpoint.Name, s"1 $gen1")
    assert((log.head, log.at(2)) === ((2, Some(Commit(gen2)))))
    assert(Checkpoint.decode(s"1 $gen1") === Checkpoint(1, gen1, Map.empty, None))
  }

  test("checkpoint fold is cumulative: a re-checkpoint keeps tokens whose pointers are gone") {
    val base = freshBase("r17_ck_cumulative")
    val log = TxnLog.local(base)
    val docs = graft.core.Tables.documents(spark, sf)
    assert(LakeTable.txnAppend(spark, base, "w", 1L, docs.limit(2)))
    log.checkpoint()
    log.drop(1) // token pointer gone
    val gen = LakeTable.prepare(spark, base, docs.limit(1))
    assert(log.tryCommit(2, Commit(gen)))
    log.checkpoint() // re-fold: must carry w=1 from the PREVIOUS checkpoint
    val ck = log.lastCheckpoint.get
    assert(ck.version === 2)
    assert(ck.txns === Map("w" -> 1L))
    assert(log.lastTxn("w") === Some(1L))
  }
}
