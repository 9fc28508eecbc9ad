package graft.operators

import graft.SparkSpec
import graft.core.LakeDir
import graft.lake.{Commit, LakeTable, TxnLog}
import org.apache.spark.sql.functions._

/** Round-15 semantics pins, opening with the round-14 ADVICE closures:
  * cdcDiffFull's update predicate must compare EVERY carried column, so
  * a lang-only mutation (equal n_chars) still round-trips through
  * apply — the case the x24 fixture never exercises.
  */
@graft.DeepTest
class Round15Spec extends SparkSpec {
  import spark.implicits._

  test("x24: lang-only mutation at equal n_chars is an update, and apply reproduces gen1") {
    val g0 = Seq((1L, "en", 100L), (2L, "fr", 200L), (3L, "de", 300L), (4L, "es", 400L))
      .toDF("doc_id", "lang", "n_chars")
    // doc 2: lang changes, n_chars equal (the ADVICE gap); doc 3: chars
    // change; doc 4: deleted; doc 5: inserted; doc 1: untouched
    val g1 = Seq((1L, "en", 100L), (2L, "pt", 200L), (3L, "de", 333L), (5L, "zh", 500L))
      .toDF("doc_id", "lang", "n_chars")
    val feed = XmlOps.cdcDiffFull(g0, g1)
    val types = feed.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(types === Map(2L -> "update", 3L -> "update", 4L -> "delete", 5L -> "insert"),
      s"change classification drifted: $types")
    val rebuilt = XmlOps.cdcApply(g0, feed)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = g1.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rebuilt === want, s"lang-only mutation lost in round-trip: $rebuilt vs $want")
  }

  test("CommitStore CAS raced across six separate PROCESSES — exactly one winner") {
    // the round-14 verdict gap: the 8-thread x22 race shares one JVM, so
    // it can't distinguish filesystem atomicity from JVM-level exception
    // dispatch. Six java processes share nothing but the directory.
    val base = java.nio.file.Files.createTempDirectory("occ_xproc").toString
    val goFile = s"$base/.go"
    val java17 = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val procs = (0 until 6).map { i =>
      new ProcessBuilder(java17, "-cp", cp, "graft.tools.CommitRacer",
        base, "9", s"gen_$i", goFile)
        .redirectErrorStream(true)
        .start()
    }
    // release all racers at once, then collect exits
    java.nio.file.Files.write(java.nio.file.Paths.get(goFile), Array.emptyByteArray)
    val exits = procs.zipWithIndex.map { case (p, i) =>
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        s"racer $i hung")
      i -> p.exitValue()
    }
    val winners = exits.filter(_._2 == 0)
    val losers = exits.filter(_._2 == 3)
    assert(winners.size === 1, s"expected exactly one cross-process winner, got $exits")
    assert(losers.size === 5, s"every loser must see a clean CONFLICT, got $exits")
    // the head names exactly the winner's content — complete, never a blend
    val log = TxnLog.local(base)
    assert((log.head, log.at(9)) === ((9, Some(Commit(s"gen_${winners.head._1}")))))
    // and no staging debris survives in the store
    val leftovers = new java.io.File(s"$base/_commits").listFiles()
      .map(_.getName).filter(_.startsWith(".tmp"))
    assert(leftovers.isEmpty, s"staging debris: ${leftovers.toSeq}")
  }

  private val sf = "/root/testdata/sf0.001"

  private def docBatch(b: Int) =
    graft.core.Tables.documents(spark, sf).where(col("doc_id") % 4 === b)

  private def logCount(base: String, upTo: Option[Int] = None): Long =
    LakeTable.snapshot(spark, base, upTo).count()

  test("x27 redelivery: the same (appId, txnVersion) committed twice lands ONE version") {
    val base = LakeDir.fresh(spark, "txn_redeliver", sf)
    assert(LakeTable.txnAppend(spark, base, "app", 0L, docBatch(0)))
    val n1 = logCount(base)
    assert(!LakeTable.txnAppend(spark, base, "app", 0L, docBatch(0)),
      "redelivery must no-op")
    assert(TxnLog.local(base).head === 1, "head must not move on redelivery")
    assert(logCount(base) === n1, "redelivery must not change the snapshot")
    // a LOWER txnVersion arriving late (out-of-order redelivery) also no-ops
    assert(LakeTable.txnAppend(spark, base, "app", 3L, docBatch(1)))
    assert(!LakeTable.txnAppend(spark, base, "app", 2L, docBatch(2)),
      "a stale lower txnVersion must no-op after a higher one committed")
    assert(TxnLog.local(base).head === 2)
  }

  test("x27 mid-batch reader: a prepared-but-uncommitted generation is invisible") {
    val base = LakeDir.fresh(spark, "txn_midbatch", sf)
    assert(LakeTable.txnAppend(spark, base, "app", 0L, docBatch(0)))
    val before = logCount(base)
    // the writer is mid-batch: generation fully prepared, pointer not linked
    val gen = LakeTable.prepare(spark, base, docBatch(1))
    assert(logCount(base) === before,
      "a reader racing the writer must not see the half-committed batch")
    assert(TxnLog.local(base).head === 1)
    // ...and the commit makes it visible atomically, in full
    assert(TxnLog.local(base).tryCommit(2, Commit(gen, adds = true, txn = Some("app" -> 1L))))
    assert(logCount(base) === before + docBatch(1).count())
  }

  test("x27 time travel: version k's snapshot is the union of the first k batches") {
    val base = LakeDir.fresh(spark, "txn_tt", sf)
    val sizes = (0 until 3).map { b =>
      assert(LakeTable.txnAppend(spark, base, "app", b.toLong, docBatch(b)))
      docBatch(b).count()
    }
    (1 to 3).foreach { v =>
      assert(logCount(base, Some(v)) === sizes.take(v).sum,
        s"append-log snapshot at v$v must be the first $v batches")
    }
  }

  test("x27 concurrent writers: distinct apps racing the log all land, history linear") {
    val base = LakeDir.fresh(spark, "txn_race", sf)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        gate.await()
        try assert(LakeTable.txnAppend(spark, base, s"app_$i", 0L, docBatch(i)))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent txn writers failed: ${errs.peek()}")
    // all four landed at distinct, gap-free versions (appends commute —
    // a CAS loss retries, never conflicts)
    assert(TxnLog.local(base).head === 4)
    (0 until 4).foreach { i =>
      assert(TxnLog.local(base).lastTxn(s"app_$i") === Some(0L), s"app_$i token lost")
    }
    // and the snapshot is exactly the whole corpus (batches partition it)
    assert(logCount(base) === graft.core.Tables.documents(spark, sf).count())
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4))).toSet

  test("x28 losslessness: the compacted snapshot equals the fragmented one row-for-row") {
    val base = LakeDir.fresh(spark, "compact_rows", sf)
    (0 until 4).foreach { b =>
      assert(LakeTable.txnAppend(spark, base, "w", b.toLong, docBatch(b)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))))
    }
    val before = rowsOf(LakeTable.snapshot(spark, base))
    assert(LakeTable.compact(spark, base) === 5)
    val after = rowsOf(LakeTable.snapshot(spark, base))
    assert(after === before, "compaction mutated the table content")
    assert(TxnLog.local(base).snapshot(5).gens.size === 1)
  }

  test("x28 conflict: a writer that lands first forces the compactor to rebase") {
    val base = LakeDir.fresh(spark, "compact_race", sf)
    assert(LakeTable.txnAppend(spark, base, "w", 0L, docBatch(0)))
    assert(LakeTable.txnAppend(spark, base, "w", 1L, docBatch(1)))
    // the compactor snapshots at v2... but a concurrent writer commits v3
    // between its snapshot and its CAS
    assert(LakeTable.txnAppend(spark, base, "w", 2L, docBatch(2)))
    assert(!LakeTable.compactAt(spark, base, 2),
      "the compactor's CAS at v3 must LOSE to the writer that got there first")
    assert(TxnLog.local(base).head === 3, "loser must not move the head")
    // rebase: recompact the new head — now it wins, and nothing was lost
    assert(LakeTable.compact(spark, base) === 4)
    val want = (0 until 3).map(b => docBatch(b).count()).sum
    assert(LakeTable.snapshot(spark, base).count() === want)
  }

  test("x28 walk: appends after a compaction stack on the compacted base") {
    val base = LakeDir.fresh(spark, "compact_stack", sf)
    (0 until 2).foreach { b =>
      assert(LakeTable.txnAppend(spark, base, "w", b.toLong, docBatch(b)))
    }
    assert(LakeTable.compact(spark, base) === 3)
    // vacuum the pre-compaction pointers, then keep appending
    (1 to 2).foreach(TxnLog.local(base).drop)
    assert(LakeTable.txnAppend(spark, base, "w", 2L, docBatch(2)))
    assert(LakeTable.txnAppend(spark, base, "w", 3L, docBatch(3)))
    // the read walks back to the compaction commit and STOPS there —
    // vacuumed history below it never blocks a head read
    assert(TxnLog.local(base).snapshot(5).gens.size === 3)
    assert(LakeTable.snapshot(spark, base).count() ===
      graft.core.Tables.documents(spark, sf).count())
  }

  test("x29 reproducibility: each version serves ITS schema after later commits land") {
    // build the three-state history via the gate itself, then re-read
    // (LakeDir.scoped is deterministic per session, so the spec sees
    // the gate's own log)
    XmlOps.schemaEvolutionLog(spark, sf).collect()
    val gateBase = graft.core.LakeDir.scoped(spark, "occschema", sf)
    val log = TxnLog.local(gateBase)
    // v1 and v2 reference ONE generation — ADD COLUMN moved zero data
    val g1 = log.at(1).get.gen
    val g2 = log.at(2).get.gen
    assert(g1 === g2, "a metadata-only ADD COLUMN must not rewrite data")
    // v1 still serves the 5-column shape; v2 the 6-column with NULL fill
    val v1 = LakeTable.snapshot(spark, gateBase, Some(1))
    val v2 = LakeTable.snapshot(spark, gateBase, Some(2))
    val v3 = LakeTable.snapshot(spark, gateBase, Some(3))
    assert(v1.columns.toSeq === Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(v2.columns.toSeq === v1.columns.toSeq :+ "quality_tier")
    assert(v2.where(col("quality_tier").isNotNull).count() === 0L,
      "the added column must read as typed NULL before any writer fills it")
    assert(v3.where(col("quality_tier").isNull).count() === 0L)
    assert(v1.count() === v3.count())
  }

  test("x30 closure: folding the stamped change feed over v1 reproduces the head") {
    // table_changes is only trustworthy if the per-version diffs COMPOSE:
    // apply(v1, changes(2)) then apply(·, changes(3)) must equal v3
    val base = XmlOps.occDemoLog(spark, sf)
    val cols = Seq("doc_id", "lang", "n_chars").map(col)
    def at(v: Int) = LakeTable.snapshot(spark, base, Some(v)).select(cols: _*)
    val rebuilt = (2 to 3).foldLeft(at(1)) { (snap, v) =>
      XmlOps.cdcApply(snap, XmlOps.cdcDiffFull(snap, at(v)))
    }
    val got = rebuilt.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = at(3).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want, "stamped per-version diffs do not compose to the head")
  }

  test("x31 plan: exactly the orphans are reclaimable, and the head survives vacuum") {
    val base = LakeDir.fresh(spark, "vac_spec", sf)
    val docs = graft.core.Tables.documents(spark, sf)
    (0 until 2).foreach { b =>
      assert(LakeTable.txnAppend(spark, base, "w", b.toLong, docBatch(b)))
    }
    val log = TxnLog.local(base)
    val originals = log.snapshot(2).gens.toSet
    val orphan = LakeTable.prepare(spark, base, docs.limit(3)) // CAS loser
    assert(LakeTable.compact(spark, base) === 3)
    val compacted = log.snapshot(3).gens.toSet
    (1 to 2).foreach(log.drop)
    val (live, reclaim) = LakeTable.vacuumPlan(spark, base)
    assert(live === compacted, s"live set drifted: $live vs $compacted")
    assert(reclaim === originals + orphan,
      s"reclaim set must be exactly the orphans: $reclaim vs ${originals + orphan}")
    // deleting the plan's reclaim set leaves the head byte-complete
    reclaim.foreach(g => LakeDir.delete(spark, s"$base/$g"))
    assert(LakeTable.snapshot(spark, base).count() ===
      docBatch(0).count() + docBatch(1).count())
  }

  test("x32 rebase: a stale merger re-applies its changelog to the winner's head") {
    val base = LakeDir.fresh(spark, "merge_race", sf)
    val docs = graft.core.Tables.documents(spark, sf)
    val log = TxnLog.local(base)
    assert(log.tryCommit(1, Commit(LakeTable.prepare(spark, base, docs))))
    // merger A prepares against v1...
    val snapA = LakeTable.snapshot(spark, base)
    val feed = XmlOps.docsMergeFeed(docs)
    val genA = LakeTable.prepare(spark, base, XmlOps.mergeDocsApply(snapA, feed))
    // ...but writer B (a disjoint op: drop the web source) lands v2 first
    assert(log.tryCommit(2, Commit(LakeTable.prepare(spark, base,
      LakeTable.snapshot(spark, base).where(col("source") =!= "web")))))
    assert(!log.tryCommit(2, Commit(genA)), "stale merger must conflict")
    // rebase: the SAME changelog applied to the new head, retried at v3
    val genA2 = LakeTable.prepare(spark, base,
      XmlOps.mergeDocsApply(LakeTable.snapshot(spark, base), feed))
    assert(log.tryCommit(3, Commit(genA2)))
    // both effects present: no web rows (except feed inserts), no de rows,
    // fr repriced — restate the composed state from source predicates
    val got = LakeTable.snapshot(spark, base)
      .agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    // independent accounting mirroring the feed arms: survivors are the
    // non-web rows whose key the feed never touched; feed update arms
    // REINSERT fr rows regardless of source (the after-image wins —
    // MERGE semantics); inserts are the re-keyed zh copies
    val frUpdated = col("lang") === "fr" && col("n_chars") =!= col("n_chars") * 2
    val wantN =
      docs.where(col("source") =!= "web" && col("lang") =!= "de" && !frUpdated).count() +
        docs.where(frUpdated).count() +
        docs.where(col("lang") === "zh").count()
    assert(got === wantN, "rebased merge lost or duplicated rows")
  }

  test("x32 guard: a changelog with two rows for one key raises, Delta-style") {
    import spark.implicits._
    val snap = Seq((1L, "t", "en", "web", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val feed = Seq((1L, "update", "t", "en", "web", 20L),
        (1L, "delete", "t", "en", "web", 10L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    val e = intercept[Exception] {
      XmlOps.mergeDocsApply(snap, feed).collect()
    }
    assert(e.getMessage != null && e.toString.contains("MERGE"),
      s"expected the duplicate-source-key error, got $e")
  }

  test("st66: the log consumer folds incrementally, idles as a no-op, absorbs redelivery") {
    val stateDir = java.nio.file.Files.createTempDirectory("st66_spec").toString
    val got = graft.streaming.Streaming.streamLogConsume(spark, sf, stateDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = XmlOps.txnAppendLog(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want, "incremental consumer state drifted from the batch aggregate")
    // the derived offset is the head — nothing left to consume
    assert(graft.streaming.Streaming.consumedVersions(spark, stateDir) === 4)
    // redelivery: re-folding an already-consumed version overwrites the
    // same partial, so the served state is unchanged
    val base = s"$stateDir/table"
    LakeTable.snapshot(spark, base, Some(3), since = 2)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$stateDir/state/v=3")
    val replayed = graft.streaming.Streaming.streamLogConsumeServe(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(replayed === want, "a redelivered version must not change the served state")
  }

  test("s20 walk properties: neighbors are graph-reachable within R hops, dots exact") {
    // properties, not an oracle mirror: (a) every reported neighbor lies
    // within R=3 graph hops of the entry point, (b) the reported dot is
    // the exact integer dot of the quantized vectors, (c) at most
    // 1 + R*B nodes can ever be visited, so rank <= 3 rows are bounded
    val res = Similarity.beamSearchAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(res.nonEmpty)
    val g = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val emb = graft.core.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(v => math.round(v * 10000).toLong))
      .toMap
    val entry = emb.keys.min
    // BFS closure of the entry within 3 hops — the beam can never leave it
    var reach = Set(entry)
    (1 to 3).foreach { _ =>
      reach = reach ++ reach.flatMap(n => g.getOrElse(n, Set.empty))
    }
    res.foreach { case (q, _, n, dotGot) =>
      assert(reach.contains(n), s"query $q reported $n, not reachable in 3 hops of $entry")
      val want = emb(q).zip(emb(n)).map { case (a, b) => a * b }.sum
      assert(dotGot === want, s"dot for ($q, $n) drifted from the exact integer product")
    }
    // per query at most 3 ranked rows, ranks dense from 1
    res.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to rows.length).toSeq, s"ranks not dense for $q")
      assert(rows.length <= 3)
    }
  }

  test("x33 restore: metadata-only, history-preserving, and itself undoable") {
    val base = XmlOps.occDemoLog(spark, sf)
    val log = TxnLog.local(base)
    val v1Gen = log.at(1).get.gen
    val v3Gen = log.at(3).get.gen
    assert(log.restore(1) === 4)
    // metadata-only: v4's pointer names v1's generation verbatim
    assert(log.at(4).get.gen === v1Gen)
    // history preserved: the undone states still serve for audit
    val v2Count = LakeTable.snapshot(spark, base, Some(2)).count()
    assert(v2Count === graft.core.Tables.documents(spark, sf)
      .where(col("lang") =!= "de").count())
    // restore of the restore: back to v3's state as v5, another pointer
    assert(log.restore(3) === 5)
    assert(log.at(5).get.gen === v3Gen)
    assert(log.head === 5)
  }

  test("t44 hand fixture: duplicated-3-gram permille computed exactly, short docs 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t44_fix").toString
    Seq(
      // "a b c a b c a b": grams = [abc, bca, cab, abc, bca, cab] — all
      // 6 occurrences duplicated → 1000‰, flagged
      (1L, "a b c a b c a b", "en", "web", 15L),
      // "a b c d": grams [abc, bcd] unique → 0‰
      (2L, "a b c d", "en", "web", 7L),
      // 2 words: no grams → 0 grams, 0‰, unflagged
      (3L, "a b", "en", "web", 3L),
      // exactly at threshold: 10 grams, 2 duplicated occurrences = 200‰
      // "x y z x y z a b c d e f" → grams: xyz yzx zxy xyz(dup) yza zab
      // abc bcd cde def = 10 grams, xyz appears twice → dup_occ 2
      (4L, "x y z x y z a b c d e f", "en", "web", 23L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.gopherRepetition(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got === Seq(
      (1L, 6L, 1000L, 1),
      (2L, 2L, 0L, 0),
      (3L, 0L, 0L, 0),
      (4L, 10L, 200L, 1)), s"hand-computed permilles drifted: $got")
  }

  test("st65 equals its batch twin x27 on full replay — shared oracle, same rows") {
    val stream = graft.streaming.Streaming.streamTxnSink(spark, sf,
      java.nio.file.Files.createTempDirectory("st65_spec").toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = XmlOps.txnAppendLog(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stream === batch, "streaming sink snapshot drifted from the batch twin")
    assert(stream.nonEmpty)
  }
}
