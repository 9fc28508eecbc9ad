package graft.lake

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The transaction log on its own — metadata only, no Spark: opaque
  * generation names over an in-memory [[CommitStore]]. */
class TxnLogSpec extends AnyFunSuite {

  private class MemStore extends CommitStore {
    private val blobs = scala.collection.concurrent.TrieMap.empty[String, String]
    override def putIfAbsent(name: String, content: String): Boolean =
      blobs.putIfAbsent(name, content).isEmpty
    override def read(name: String): Option[String] = blobs.get(name)
    override def list(): Seq[String] = blobs.keys.toList
    override def putReplace(name: String, content: String): Unit = blobs.put(name, content)
    override def delete(name: String): Unit = blobs.remove(name)
  }

  test("same-token redelivery racing the CAS lands one version") {
    // The redelivered copy of a batch commits between the other copy's
    // walk of the log and its CAS: the store lands it right after
    // handing out the (now stale) listing. The loser's CAS at head+1
    // must fail and its retry must see the token — never CAS head+2.
    val inner = new MemStore
    val seed = new TxnLog(inner)
    assert(seed.publish("gen_seed") === 1)
    var armed = true
    val racing = new CommitStore {
      override def putIfAbsent(name: String, content: String): Boolean =
        inner.putIfAbsent(name, content)
      override def read(name: String): Option[String] = inner.read(name)
      override def list(): Seq[String] = {
        val listed = inner.list()
        if (armed) {
          armed = false
          assert(seed.tryCommit(seed.head + 1,
            Commit("gen_first", adds = true, txn = Some("app" -> 5L))))
        }
        listed
      }
      override def putReplace(name: String, content: String): Unit = inner.putReplace(name, content)
      override def delete(name: String): Unit = inner.delete(name)
    }
    assert(!new TxnLog(racing).appendTxn("gen_second", "app", 5L),
      "the second delivery must see the first one's token and no-op")
    val tokens = seed.versions.flatMap(v => seed.at(v).flatMap(_.txn))
    assert(tokens === Seq("app" -> 5L), "exactly one version may carry the token")
    assert(seed.head === 2)
  }

  /** A plain model of the log: the full history (pointer vacuum never
    * changes what a reader must see), each generation's rows, and the
    * pointers still retained. */
  private final class Model {
    val history = mutable.ArrayBuffer.empty[Commit]
    val retained = mutable.SortedSet.empty[Int]
    val rows = mutable.Map.empty[String, Seq[Int]]
    def head: Int = history.size
    private def walk(v: Int): Seq[Commit] = {
      val down = (v to 1 by -1).map(i => history(i - 1))
      val base = down.indexWhere(!_.adds)
      if (base < 0) down else down.take(base + 1)
    }
    def readSet(v: Int): Seq[String] = walk(v).map(_.gen)
    def rowsAt(v: Int): Seq[Int] = readSet(v).flatMap(rows).sorted
    def schemaAt(v: Int): Option[String] = walk(v).flatMap(_.schema).headOption
    def lastTxn(app: String): Option[Long] =
      history.flatMap(_.txn).collect { case (a, tv) if a == app => tv }.maxOption
    def commit(c: Commit): Unit = { history += c; retained += head }
  }

  private val Apps = Seq("a", "b", "c")
  private val Schemas = Seq(None, Some("id BIGINT"), Some("id BIGINT, x STRING"))

  private def checkAgrees(log: TxnLog, m: Model, rng: scala.util.Random, ctx: => String): Unit = {
    assert(log.head === m.head, ctx)
    Apps.foreach(a => assert(log.lastTxn(a) === m.lastTxn(a), s"$ctx: last txn of $a"))
    // the head, and one random retained version whose whole walk is
    // still retained, must read exactly what the model says
    val readable = m.retained.filter(v => (v to 1 by -1).take(m.readSet(v).size)
      .forall(m.retained.contains)).toSeq
    val probe = if (readable.isEmpty) Nil else Seq(readable(rng.nextInt(readable.size)))
    (Seq(m.head).filter(_ > 0) ++ probe).foreach { v =>
      val snap = log.snapshot(v)
      assert(snap.gens === m.readSet(v), s"$ctx: read set of v$v")
      assert(snap.gens.flatMap(m.rows).sorted === m.rowsAt(v), s"$ctx: rows of v$v")
      assert(snap.schema === m.schemaAt(v), s"$ctx: schema of v$v")
      // the streaming-source read: what v alone appended, or a refusal
      val c = m.history(v - 1)
      if (v > 1 && c.adds)
        assert(log.snapshot(v, since = v - 1).gens === Seq(c.gen), s"$ctx: v$v appended")
      else if (v > 1)
        intercept[IllegalArgumentException](log.snapshot(v, since = v - 1))
    }
    assert(log.liveGens() === m.retained.map(v => m.history(v - 1).gen).toSet,
      s"$ctx: live generations")
  }

  private def runSequence(seed: Int, steps: Int): Unit = {
    val rng = new scala.util.Random(seed)
    val store = new MemStore
    val log = new TxnLog(store)
    val m = new Model
    var nextGen = 0
    var nextRow = 0
    def fresh(rows: Seq[Int]): String = {
      nextGen += 1
      val g = s"gen_$nextGen"
      m.rows(g) = rows
      g
    }
    def newRows(): Seq[Int] = Seq.fill(1 + rng.nextInt(3)) { nextRow += 1; nextRow }
    val trace = mutable.ArrayBuffer.empty[String]
    for (step <- 1 to steps) {
      val op = rng.nextInt(8)
      trace += s"op$op"
      def ctx = s"seed $seed step $step (${trace.mkString(",")})"
      op match {
        case 0 => // publish: a replacing commit
          val schema = Schemas(rng.nextInt(Schemas.size))
          val g = fresh(newRows())
          assert(log.publish(g, schema) === m.head + 1, ctx)
          m.commit(Commit(g, schema = schema))
        case 1 | 2 => // txn append, a redelivery about a third of the time
          val app = Apps(rng.nextInt(Apps.size))
          val last = m.lastTxn(app)
          val tv =
            if (last.isDefined && rng.nextInt(3) == 0) rng.nextLong(last.get + 1)
            else last.fold(0L)(_ + 1) + rng.nextInt(2)
          val g = fresh(newRows())
          val commits = !last.exists(_ >= tv)
          assert(log.appendTxn(g, app, tv) === commits, ctx)
          if (commits) m.commit(Commit(g, adds = true, txn = Some(app -> tv)))
        case 3 if m.head > 0 => // compaction: one replacing generation, same rows
          val g = fresh(m.rowsAt(m.head))
          val v = log.commitNext(t => Some(Commit(g, schema = log.snapshot(t.version).schema)))
          assert(v === Some(m.head + 1), ctx)
          m.commit(Commit(g, schema = m.schemaAt(m.head)))
        case 4 if m.head > 0 =>
          log.checkpoint()
          val ck = log.lastCheckpoint.get
          assert(ck === Checkpoint(m.head, m.readSet(m.head).head,
            Apps.flatMap(a => m.lastTxn(a).map(a -> _)).toMap, m.schemaAt(m.head)), ctx)
        case 5 => // pointer vacuum by plan
          val (reclaim, kept) = log.pointerVacuumPlan()
          assert((reclaim ++ kept).forall(v => m.retained.contains(v) && v < m.head), ctx)
          reclaim.foreach(log.drop)
          m.retained --= reclaim
        case 6 if m.retained.nonEmpty => // restore a retained version
          val v = m.retained.toSeq(rng.nextInt(m.retained.size))
          if (m.readSet(v).size == 1) {
            assert(log.restore(v) === m.head + 1, ctx)
            m.commit(Commit(m.readSet(v).head, schema = m.schemaAt(v)))
          } else intercept[Exception](log.restore(v))
        case 7 if m.head > 0 && m.readSet(m.head).size == 1 => // ADD COLUMN
          val ddl = m.schemaAt(m.head).fold("id BIGINT")(_ + s", c$step BIGINT")
          val g = m.readSet(m.head).head
          assert(log.publish(g, Some(ddl)) === m.head + 1, ctx)
          m.commit(Commit(g, schema = Some(ddl)))
        case _ => trace(trace.size - 1) = "skip"
      }
      checkAgrees(log, m, rng, ctx)
    }
  }

  test("model: 600 random operation sequences agree with a plain model after every step") {
    val t0 = System.nanoTime()
    (1 to 600).foreach(seed => runSequence(seed, steps = 30))
    info(f"600 sequences x 30 steps in ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  private def scalaFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("the log's storage and text formats are spoken only under graft/lake") {
    // split so this file is no match
    val needles = Seq("CommitStore" + ".local", "_last_" + "checkpoint",
      "\"" + "txn ", "\"" + "schema ", "\\" + "ntxn", "\\" + "nschema", "\"" + "compact ")
    val lake = Paths.get("src/main/scala/graft/lake")
    val hits = for {
      p <- scalaFiles(Paths.get("src/main/scala")) if !p.startsWith(lake)
      n <- needles if text(p).contains(n)
    } yield s"${p.getFileName}: $n"
    assert(hits.isEmpty)
    val racer = text(Paths.get("src/main/scala/graft/tools/CommitRacer.scala"))
    assert(racer.contains("TxnLog.local(") && racer.contains(".tryCommit("),
      "CommitRacer must race through the log's CAS")
    assert(!text(Paths.get("src/main/scala/graft/streaming/Streaming.scala")).contains("XmlOps"))
  }
}
