package graft.lake

/** One commit blob, `v<n>` in the log. [[Commit.encode]] and
  * [[Commit.decode]] (with [[Checkpoint]]'s pair) are the only code that
  * writes or reads commit text.
  *
  * Line 1 names the generation directory; the body lines, in any order:
  *   - `add`: the generation ADDS to the snapshot below it (a txn
  *     append — Delta's add-file). Without it the commit REPLACES the
  *     snapshot below (publish, restore, compaction, ADD COLUMN), so a
  *     snapshot read never walks past it;
  *   - `txn <appId> <version>`: the writer's idempotence token (Delta's
  *     SetTransaction — what makes a redelivered batch a no-op);
  *   - `schema <ddl>`: the table schema (Delta's Metadata action). The
  *     schema in force at a version is the newest schema line in its
  *     snapshot's walk; a replacing commit without one serves the data
  *     files' own shape.
  */
final case class Commit(gen: String, adds: Boolean = false,
    txn: Option[(String, Long)] = None, schema: Option[String] = None) {
  def encode: String = (Seq(gen) ++ Option.when(adds)(LogText.AddLine) ++
    txn.map(LogText.txnLine) ++ schema.map(LogText.schemaLine)).mkString("\n")
}

object Commit {
  def decode(blob: String): Commit = {
    val lines = blob.linesIterator.toList
    Commit(lines.head, lines.tail.contains(LogText.AddLine),
      LogText.txns(lines.tail).headOption, LogText.schema(lines.tail))
  }
}

/** The `_last_checkpoint` state (Delta's checkpoint): the checkpointed
  * version and its generation on line 1 — a bare `<version> <gen>` line
  * is the whole original format and still decodes — then every app's
  * newest token at or below that version, and the schema in force
  * there, so token lookups survive the vacuum of every pointer at or
  * below it. */
final case class Checkpoint(version: Int, gen: String,
    txns: Map[String, Long], schema: Option[String]) {
  def encode: String = (s"$version $gen" +: txns.toSeq.sorted.map(LogText.txnLine) ++:
    schema.map(LogText.schemaLine).toSeq).mkString("\n")
}

object Checkpoint {
  val Name = "_last_checkpoint"
  def decode(text: String): Checkpoint = {
    val lines = text.linesIterator.toList
    val Array(v, g) = lines.head.split(" ", 2)
    Checkpoint(v.toInt, g, LogText.txns(lines.tail).toMap, LogText.schema(lines.tail))
  }
}

/** The body-line syntax [[Commit]] and [[Checkpoint]] share. */
private object LogText {
  val AddLine = "add"
  def txnLine(t: (String, Long)): String = s"txn ${t._1} ${t._2}"
  def schemaLine(ddl: String): String = s"schema $ddl"
  def txns(body: Seq[String]): Seq[(String, Long)] = body.collect {
    case l if l.startsWith("txn ") => val Array(_, a, v) = l.split(" ", 3); a -> v.toLong
  }
  def schema(body: Seq[String]): Option[String] =
    body.collectFirst { case l if l.startsWith("schema ") => l.stripPrefix("schema ") }
}

/** What one walk of the log's tip sees: the head version (0 on an empty
  * log) and every app's newest idempotence token at or below it. */
final case class Tip(version: Int, txns: Map[String, Long])

/** A snapshot's physical read set: the generations a version reads,
  * newest first, and the schema in force there. */
final case class Snapshot(gens: Seq[String], schema: Option[String])

/** The lake's OCC transaction log over one [[CommitStore]]: metadata
  * only, no Spark. Each decision lives in one place:
  *   - [[tip]] resolves the head AND the token state in one walk:
  *     checkpoint + probe of the tail above it, O(commits since the
  *     checkpoint) and correct after every pointer at or below it is
  *     vacuumed; a listing of the whole log when there is no checkpoint;
  *   - [[commitNext]] is the one retry loop that commits at head+1 (txn
  *     append, validated publish, restore, compaction), on top of the
  *     explicit-version CAS [[tryCommit]];
  *   - [[snapshot]] is the one backward walk from a version to the
  *     newest replacing commit at or below it.
  * The Spark-side table operations are [[LakeTable]]. */
final class TxnLog(store: CommitStore) {

  private def pointer(version: Int): String = s"v$version"

  /** The atomic CAS: claim `version` for `c` iff absent. True iff this
    * writer won; false = a CONFLICT (the writer's snapshot is stale). */
  def tryCommit(version: Int, c: Commit): Boolean =
    store.putIfAbsent(pointer(version), c.encode)

  def at(version: Int): Option[Commit] = store.read(pointer(version)).map(Commit.decode)

  /** Delete one version pointer (pointer vacuum). */
  def drop(version: Int): Unit = store.delete(pointer(version))

  /** Every retained version, ascending. Listing-scale. */
  def versions: Seq[Int] =
    store.list().collect { case n if n.matches("v[0-9]+") => n.drop(1).toInt }.sorted

  def lastCheckpoint: Option[Checkpoint] = store.read(Checkpoint.Name).map(Checkpoint.decode)

  def tip: Tip = {
    val ck = lastCheckpoint
    val tail = ck match {
      case Some(c) =>
        Iterator.from(c.version + 1).map(v => v -> at(v))
          .takeWhile(_._2.isDefined).map { case (v, cm) => v -> cm.get }.toList
      case None => versions.flatMap(v => at(v).map(v -> _))
    }
    val tokens = ck.fold(Seq.empty[(String, Long)])(_.txns.toSeq) ++ tail.flatMap(_._2.txn)
    Tip(tail.lastOption.fold(ck.fold(0)(_.version))(_._1),
      tokens.groupMapReduce(_._1)(_._2)(_ max _))
  }

  def head: Int = tip.version

  /** The highest txnVersion `appId` ever committed, or None. */
  def lastTxn(appId: String): Option[Long] = tip.txns.get(appId)

  /** The commit loop: resolve the tip, let `next` decide the commit
    * against it (None = nothing to commit — e.g. the token is already
    * in the log), CAS it at tip+1. A lost CAS means someone else moved
    * the head: re-resolve and retry, bounded. Returns the committed
    * version, or None when `next` declined. */
  def commitNext(next: Tip => Option[Commit], maxAttempts: Int = 16): Option[Int] = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val t = tip
      next(t) match {
        case None => return None
        case Some(c) => if (tryCommit(t.version + 1, c)) return Some(t.version + 1)
      }
      attempt += 1
    }
    sys.error(s"lost $maxAttempts commit races in a row on one log")
  }

  /** Publish `gen` as the whole table (a replacing commit). */
  def publish(gen: String, schema: Option[String] = None): Int =
    commitNext(_ => Some(Commit(gen, schema = schema))).get

  /** Idempotent append: commit `gen` carrying the (appId, txnVersion)
    * token unless a token at or above txnVersion is already in the log
    * as of the head this attempt commits on (checked in the same walk
    * that resolved the head, so a same-token commit that lands first
    * either shows up in it or wins the CAS). True iff this call moved
    * the head. */
  def appendTxn(gen: String, appId: String, txnVersion: Long): Boolean =
    commitNext { t =>
      Option.unless(t.txns.get(appId).exists(_ >= txnVersion))(
        Commit(gen, adds = true, txn = Some(appId -> txnVersion)))
    }.isDefined

  /** RESTORE: a replacing commit naming `version`'s generation and its
    * schema in force. Refuses a version whose read set spans more than
    * one generation (an append snapshot has no single generation to
    * name). Returns the new head. */
  def restore(version: Int): Int = {
    val snap = snapshot(version)
    require(snap.gens.size == 1,
      s"v$version reads ${snap.gens.size} generations; restore needs exactly one")
    commitNext(_ => Some(Commit(snap.gens.head, schema = snap.schema))).get
  }

  /** The read set of `version`: walk backward to the newest replacing
    * commit at or below it. With `since` > 0, only the generations that
    * versions since+1..version added (the streaming-source read), which
    * refuses when one of those versions replaced the table. */
  def snapshot(version: Int, since: Int = 0): Snapshot = {
    require(version > since && at(version).isDefined,
      s"version $version is not in the log (never committed, or vacuumed)")
    val walk = scala.collection.mutable.ListBuffer.empty[(Int, Commit)]
    var v = version
    while (walk.lastOption.forall(_._2.adds) && v >= 1) {
      walk += v -> at(v).getOrElse(sys.error(s"v$v vacuumed below an uncompacted tail"))
      v -= 1
    }
    val added = walk.filter(_._1 > since)
    require(since == 0 || added.forall(_._2.adds),
      s"versions ${since + 1}..$version are not append-only")
    Snapshot(added.map(_._2.gen).toList, walk.iterator.flatMap(_._2.schema).nextOption())
  }

  /** Write the checkpoint at the head: its version and generation, the
    * token map of the same tip walk (the previous checkpoint's tokens ⊕
    * the tail's — a token whose pointer was vacuumed survives through
    * the previous checkpoint) and the schema in force at the head.
    * Single-maintainer atomic replace. */
  def checkpoint(): Unit = {
    val t = tip
    require(t.version > 0, "nothing to checkpoint on an empty log")
    val snap = snapshot(t.version)
    store.putReplace(Checkpoint.Name,
      Checkpoint(t.version, snap.gens.head, t.txns, snap.schema).encode)
  }

  /** Pointer-vacuum plan: (reclaimable, retainedForTokens) version
    * pointers. A pointer below the newest replacing commit is not needed
    * by head reads — but a pointer carrying an app's NEWEST token stays
    * until a checkpoint has folded that token, or the vacuum re-opens
    * the exactly-once window (Delta's setTransactionRetentionDuration
    * caveat, made structural). With a checkpoint, nothing above the
    * checkpointed version is a candidate either: [[tip]] probes upward
    * from it and stops at the first missing pointer. */
  def pointerVacuumPlan(): (Seq[Int], Seq[Int]) = {
    val commits = versions.flatMap(v => at(v).map(v -> _))
    val replaceBase = commits.collect { case (v, c) if !c.adds => v }.maxOption.getOrElse(0)
    val ck = lastCheckpoint
    val bound = ck.fold(replaceBase)(c => math.min(replaceBase, c.version + 1))
    val folded = ck.fold(Map.empty[String, Long])(_.txns)
    val mustRetain = commits
      .flatMap { case (v, c) => c.txn.map { case (a, tv) => (a, tv, v) } }
      .groupBy(_._1).values.map(_.maxBy(t => (t._2, t._3)))
      .collect { case (a, tv, v) if !folded.get(a).exists(_ >= tv) => v }.toSet
    val candidates = commits.map(_._1).filter(_ < bound)
    (candidates.filterNot(mustRetain), candidates.filter(mustRetain))
  }

  /** Generations some retained pointer names: everything a head read or
    * a time-travel read of a retained version can reach (the head's read
    * set is among them — its walk reads only retained pointers). */
  def liveGens(): Set[String] = versions.flatMap(at).map(_.gen).toSet
}

object TxnLog {
  /** The log of a table base dir on the local filesystem. */
  def local(base: String): TxnLog = new TxnLog(CommitStore.local(base))
}
