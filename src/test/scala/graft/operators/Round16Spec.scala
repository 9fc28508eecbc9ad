package graft.operators

import graft.SparkSpec
import graft.lake.{Commit, LakeTable, TxnLog}
import org.apache.spark.sql.functions._

/** Round-16 (optimization round) pins: the ADVICE closures that touch
  * behaviour — RESTORE must carry the target's schema metadata, and the
  * CommitStore must not leak fds or staging debris on failure paths —
  * plus the streaming gates' state dirs, which must not leak one dir per
  * invocation either. */
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

  private def stateDirs(tag: String): Set[String] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith(s"graft_${tag}_")).toSet
  }

  test("a streaming gate run twice reuses one state dir") {
    val gates = Seq("st25_stream_heavy_hitters" -> "shh", "st63_stream_mg_heavy_hitters" -> "shh2")
    def dirs() = gates.map { case (_, tag) => tag -> stateDirs(tag) }.toMap
    def runAll() = gates.map { case (gate, _) =>
      StreamingOps.defs(gate).fn(spark, sf).collect().map(_.toString).sorted.toSeq
    }
    val before = dirs()
    val firstRows = runAll()
    val after1 = dirs()
    val secondRows = runAll()
    val after2 = dirs()
    gates.foreach { case (gate, tag) =>
      assert((after1(tag) -- before(tag)).size <= 1, s"$gate: more than one new state dir")
      assert(after2(tag) === after1(tag), s"$gate: the second run added a state dir")
    }
    // the second run starts from an emptied dir, so it never resumes the
    // first run's checkpoint and serves the same rows
    assert(secondRows === firstRows)
  }

  test("StreamingOps names no random state dir") {
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/operators/StreamingOps.scala"))
    assert(!src.contains("randomUUID"))
  }
}
