package graft.operators

import graft.SparkSpec
import graft.lake.{Commit, LakeTable, TxnLog}
import org.apache.spark.sql.functions._

/** Round-16 (optimization round) pins: the ADVICE closures that touch
  * behaviour — RESTORE must carry the target's schema metadata, and the
  * CommitStore must not leak fds or staging debris on failure paths. */
class Round16Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("x33+x29: RESTORE of a schema-evolved version restores its schema too") {
    // the round-15 ADVICE gap: restore copied only the generation
    // line, so restoring an ADD-COLUMN version served the unconformed
    // column shape. Build v1 (5-col schema) → v2 (metadata-only ADD
    // COLUMN, same generation) → RESTORE v2 as v3: the restored head
    // must serve the 6-column shape with the added column typed-NULL.
    val base = graft.core.LakeDir.fresh(spark, "r16_restore_schema", sf)
    val log = TxnLog.local(base)
    val ddl5 = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    val ddl6 = s"$ddl5, quality_tier BIGINT"
    val gen1 = LakeTable.prepare(spark, base, graft.core.Tables.documents(spark, sf))
    assert(log.tryCommit(1, Commit(gen1, schema = Some(ddl5))))
    assert(log.tryCommit(2, Commit(gen1, schema = Some(ddl6))))
    assert(log.restore(2) === 3)
    // metadata-only still: v3 names v2's generation verbatim
    assert(log.at(3).get.gen === gen1)
    // and carries v2's schema line (a txn token never replays)
    assert(log.at(3) === Some(Commit(gen1, schema = Some(ddl6))))
    val head = LakeTable.snapshot(spark, base, Some(3))
    assert(head.columns.toSeq ===
      Seq("doc_id", "text", "lang", "source", "n_chars", "quality_tier"))
    assert(head.where(col("quality_tier").isNotNull).count() === 0L)
    // restoring the pre-evolution version drops back to the 5-col shape
    assert(log.restore(1) === 4)
    assert(LakeTable.snapshot(spark, base, Some(4)).columns.length === 5)
  }

  test("CommitStore: failed stage write leaves no .tmp_ debris") {
    // the ADVICE no-debris gap: the staging write sat outside the
    // try/finally, so a write failure stranded a partial temp file. The
    // suite runs as root (POSIX perms don't block it), so the fault is
    // injected with the ext4 immutable bit; skip cleanly where chattr
    // is unavailable.
    val dir = java.nio.file.Files.createTempDirectory("r16_store")
    val store = new graft.lake.LocalFsCommitStore(dir)
    assert(store.putIfAbsent("v1", "gen_a")) // creates the dir, happy path
    def chattr(flag: String): Boolean =
      try new ProcessBuilder("chattr", flag, dir.toString)
        .start().waitFor() == 0
      catch { case _: java.io.IOException => false }
    assume(chattr("+i"), "chattr unavailable — fault injection skipped")
    try {
      intercept[Exception](store.putIfAbsent("v2", "gen_b"))
    } finally assert(chattr("-i"))
    val leftovers = store.list().filter(_.startsWith(".tmp_"))
    assert(leftovers.isEmpty, s"staging debris survived a failed write: $leftovers")
    assert(store.read("v1") === Some("gen_a"))
  }

  test("CommitStore.list closes its directory stream (no fd growth over many calls)") {
    val dir = java.nio.file.Files.createTempDirectory("r16_fds")
    val store = new graft.lake.LocalFsCommitStore(dir)
    (1 to 5).foreach(i => store.putIfAbsent(s"v$i", s"gen_$i"))
    def openFds(): Long = {
      val p = java.nio.file.Paths.get("/proc/self/fd")
      val s = java.nio.file.Files.list(p)
      try s.count() finally s.close()
    }
    store.list() // settle any lazily-opened classloader fds
    val before = openFds()
    (1 to 200).foreach(_ => assert(store.list().size === 5))
    val after = openFds()
    assert(after - before < 20,
      s"fd count grew from $before to $after across 200 list() calls")
  }
}
