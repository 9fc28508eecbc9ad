package graft.operators

import graft.SparkSpec
import graft.lake.{Commit, LakeTable, TxnLog}
import org.apache.spark.sql.functions._

/** Round-14 semantics pins, starting with the x22 OCC commit protocol:
  * exactly-one-winner at a contended version (raced for real across
  * threads), conflict-not-overwrite for a stale writer, loser rebase
  * producing the commuted content, and no-torn-reads through the
  * validating path.
  */
@graft.DeepTest
class Round14Spec extends SparkSpec {
  import spark.implicits._

  private def freshBase(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(tag)
    p.toString
  }

  test("x22 CAS: eight threads race one version — exactly one winner, losers see conflict") {
    val base = freshBase("occ_race")
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        gate.await()
        results.put(i, TxnLog.local(base).tryCommit(5, Commit(s"gen_$i")))
      })
    }
    threads.foreach(_.start())
    gate.countDown() // release all racers at once
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val wins = results.asScala.toSeq.filter(_._2)
    assert(wins.size === 1, s"expected exactly one CAS winner, got $wins")
    // the committed content is the WINNER's, complete — never a blend
    val (winner, _) = wins.head
    val log = TxnLog.local(base)
    assert((log.head, log.at(5)) === ((5, Some(Commit(s"gen_$winner")))),
      "head must name exactly the winning generation")
    // no staging debris left behind in the log dir
    val leftovers = new java.io.File(s"$base/_commits").listFiles()
      .map(_.getName).filter(_.startsWith(".tmp_"))
    assert(leftovers.isEmpty, s"staging files leaked: ${leftovers.toSeq}")
  }

  test("x22 protocol: stale writer conflicts, rebases, and the history is linear") {
    val d = "/root/testdata/sf0.001"
    val got = XmlOps.occCommitPublish(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // final content == de deleted AND fr repriced, regardless of race
    // order (the operations commute on disjoint row sets)
    val want = graft.core.Tables.documents(spark, d)
      .where(col("lang") =!= "de")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("lang") === "fr", col("n_chars") * 2)
          .otherwise(col("n_chars"))).as("sum"))
      .orderBy(col("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want, s"committed content drifted: $got vs $want")
    // the log is linear v1..v3 and the STALE prepared generation (B's
    // v1-based reprice, which still contains the de rows A deleted) was
    // never committed: the head must hold zero de rows
    val base = graft.core.LakeDir.scoped(spark, "occ", d)
    val log = TxnLog.local(base)
    assert(log.head === 3, "history must be v1,v2,v3")
    val head = LakeTable.snapshot(spark, base)
    assert(head.where(col("lang") === "de").count() === 0L,
      "stale B generation (with resurrected de rows) must never become head")
    // every committed version resolves through the validating read —
    // time travel across the OCC log, no torn generation anywhere
    for (v <- 1 to 3)
      MaterialiseOps.serveValidated(spark, s"$base/${log.at(v).get.gen}").count()
  }

  test("x22 fuzz: random conflict/rebase interleavings of commuting writers converge") {
    // two writers own DISJOINT key spaces (A: even doc_ids, B: odd), so
    // their increments commute and the final content is independent of
    // every race outcome. Each trial drives a random interleaving of
    // stale prepares, losses, and rebases through the real protocol —
    // multi-round conflict chains, not x22's single staged one.
    import org.apache.spark.sql.{DataFrame, SaveMode}
    val rng = new scala.util.Random(22022L)
    val seedRows = (1L to 20L).map(i =>
      (i, s"t$i", if (i % 2 == 0) "en" else "fr", "src", 100L + i))
    for (trial <- 1 to 3) {
      val base = freshBase(s"occ_fuzz$trial")
      val log = TxnLog.local(base)
      val seed = seedRows.toDF("doc_id", "text", "lang", "source", "n_chars")
      assert(log.tryCommit(1, Commit(LakeTable.prepare(spark, base, seed))))
      // ops: writer id → add (op index) to that writer's parity rows
      val ops = rng.shuffle((1 to 3).map(i => (0, i)) ++ (1 to 3).map(i => (1, i)))
      def bump(df: DataFrame, writer: Int, amt: Int): DataFrame =
        df.withColumn("n_chars",
          when(col("doc_id") % 2 === writer % 2, col("n_chars") + amt)
            .otherwise(col("n_chars")))
      for ((writer, amt) <- ops) {
        // writer reads a possibly-about-to-be-stale head, prepares, and
        // retries through conflicts like a real client
        var committed = false
        while (!committed) {
          val hv = log.head
          val gen = LakeTable.prepare(spark, base,
            bump(LakeTable.snapshot(spark, base), writer, amt))
          // adversarial schedule: sometimes another commit sneaks in
          // between this writer's read and its CAS
          if (rng.nextBoolean() && ops.nonEmpty) {
            val sneak = LakeTable.prepare(spark, base,
              LakeTable.snapshot(spark, base)) // no-op republish
            log.tryCommit(hv + 1, Commit(sneak))
          }
          committed = log.tryCommit(hv + 1, Commit(gen))
          // on conflict: loop re-reads the NEW head and rebases
        }
      }
      val got = LakeTable.snapshot(spark, base)
        .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
      val evenAdd = ops.filter(_._1 == 0).map(_._2).sum
      val oddAdd = ops.filter(_._1 == 1).map(_._2).sum
      val want = seedRows.map { case (id, _, _, _, n) =>
        id -> (n + (if (id % 2 == 0) evenAdd else oddAdd))
      }.toMap
      assert(got === want,
        s"trial $trial: interleaving changed the converged content")
    }
  }

  test("x23: every version resolves through the log to ITS generation — history is reproducible") {
    val d = "/root/testdata/sf0.001"
    val got = XmlOps.occTimeTravel(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val docs = graft.core.Tables.documents(spark, d)
    def st(df: org.apache.spark.sql.DataFrame) = {
      val r = df.agg(count(lit(1)), sum(col("n_chars"))).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val v1 = st(docs)
    val v2 = st(docs.where(col("lang") =!= "de"))
    val v3s = docs.where(col("lang") =!= "de")
      .agg(sum(when(col("lang") === "fr", col("n_chars") * 2)
        .otherwise(col("n_chars")))).collect().head.getLong(0)
    assert(got === Seq((1L, v1._1, v1._2), (2L, v2._1, v2._2), (3L, v2._1, v3s)),
      s"history drifted: $got")
    // a version that was never committed refuses loudly, no silent head
    val base = graft.core.LakeDir.scoped(spark, "occ", d)
    intercept[IllegalArgumentException] { LakeTable.snapshot(spark, base, Some(9)) }
  }

  test("g58: FW-BW labels — one-way bridges don't merge, refinement deletes, tail stays unlabeled") {
    // ring A {1,2,3}, ring B {5,6}, a one-way bridge 3→5 (must NOT merge
    // A and B), and a cycle-free pair 7→8 (7 labels itself; 8 exhausts
    // the round budget and must be ABSENT — the bounded-round refilter)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 6L), (6L, 5L),
      (3L, 5L), (7L, 8L)).toDF("u", "v")
    val got = MaterialiseOps.sccLabelsOf(edges, MaterialiseOps.SccRounds)
      .orderBy(col("scc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq((1L, 3L, 1L, 3L, 6L), (5L, 2L, 5L, 6L, 11L),
      (7L, 1L, 7L, 7L, 7L)), s"got $got")
  }

  test("g58 bounded semantics: a cycle deeper than BfsMaxDist shatters into singleton pivots") {
    // a 10-ring is ONE true SCC, but depth-4 F∩B from pivot 1 meets only
    // at the pivot itself; after extraction the ring is a path and later
    // pivots are singletons too. This pins that the engine computes the
    // BOUNDED semantics the oracle unrolls — not full Kosaraju — and
    // that each round's walk runs on the FHP-deleted edge set.
    val ring = (1L to 10L).map(i => (i, i % 10 + 1)).toDF("u", "v")
    val got = MaterialiseOps.sccLabelsOf(ring, MaterialiseOps.SccRounds)
      .orderBy(col("scc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L)),
      s"expected three singleton pivot components, got $got")
  }

  test("g58 exhaustion: fewer components than rounds — trailing rounds are vacuous no-ops") {
    val tiny = Seq((1L, 2L), (2L, 1L)).toDF("u", "v")
    val got = MaterialiseOps.sccLabelsOf(tiny, MaterialiseOps.SccRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    // round 1 labels {1,2}; round 2's pivot is min of an EMPTY set →
    // both engines produce nothing more, and the loop exits early
    assert(got === Seq((1L, 2L, 3L)), s"got $got")
  }

  /** Plain-Scala reference of g58's bounded FW-BW labeling: min-id
    * pivots, depth-bounded BFS over the unlabeled-only edge set, F∩B
    * labeled per round. Deliberately naive — sets and loops. */
  private def refSccLabels(edges: Seq[(Long, Long)], rounds: Int,
      depth: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    var labeled = Map.empty[Long, Long]
    def bfs(start: Long, adj: Map[Long, Set[Long]]): Set[Long] = {
      var vis = Set(start); var frontier = Set(start)
      for (_ <- 1 to depth) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- vis
        vis ++= frontier
      }
      vis
    }
    for (_ <- 1 to rounds) {
      val unl = nodes -- labeled.keySet
      if (unl.nonEmpty) {
        val pivot = unl.min
        val live = edges.filter(e => unl(e._1) && unl(e._2))
        val fwd = live.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val bwd = live.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
        val scc = bfs(pivot, fwd) & bfs(pivot, bwd)
        labeled ++= scc.map(_ -> pivot)
      }
    }
    labeled
  }

  test("g58 fuzz: engine labels equal the naive reference on random directed graphs") {
    val rng = new scala.util.Random(58058L)
    for (trial <- 1 to 5) {
      val n = 6 + rng.nextInt(10)
      val m = n + rng.nextInt(2 * n)
      val edges = Seq.fill(m)((1L + rng.nextInt(n), 1L + rng.nextInt(n)))
        .filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val want = refSccLabels(edges, MaterialiseOps.SccRounds, 4)
          .groupBy(_._2).view.mapValues(_.keys.toSet).toMap
        val got = MaterialiseOps.sccLabelsOf(edges.toDF("u", "v"),
            MaterialiseOps.SccRounds)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
        val gotSizes = got.map(r => r._1 -> r._2).toMap
        assert(gotSizes === want.view.mapValues(_.size.toLong).toMap,
          s"trial $trial (n=$n, |E|=${edges.size}): engine $got vs reference $want")
        // min/max per label must match the reference sets too
        for ((scc, members) <- want) {
          val row = got.find(_._1 == scc).get
          assert(row._3 === members.min && row._4 === members.max,
            s"trial $trial: label $scc bounds drifted from $members")
        }
      }
    }
  }

  test("p21 truth: sketch quantiles land within the DKW rank envelope of exact p10") {
    // estimate vs GROUND TRUTH, never an oracle mirror (the g38/HLL
    // rule). Uniform ranks 1..n: the exact type-1 quantile IS the rank,
    // so |est − exact| is directly the rank error. DKW at k=256, 99%
    // confidence: sup-CDF error ≤ sqrt(ln(2/.01)/(2·256)) ≈ 0.102 — and
    // the md5 draw is deterministic, so this either holds forever or
    // the sampling is biased.
    val n = 10000L
    val uniform = (1L to n).map(i => ("a", i, i)).toDF("g", "v", "id")
    val est = ProfilerOps.sketchQuantilesOf(uniform, 256, Seq(50, 90, 99))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    val eps = (0.102 * n).toLong
    for ((e, p) <- Seq(est._1 -> 50L, est._2 -> 90L, est._3 -> 99L)) {
      val exact = n * p / 100
      assert(math.abs(e - exact) <= eps,
        s"p$p estimate $e misses exact $exact by more than DKW $eps")
    }
    // a skewed distribution (v = i², ranks no longer values): compare in
    // RANK space — the count of values ≤ estimate must sit within the
    // same envelope of p·n/100
    val skewed = (1L to n).map(i => ("a", i * i, i)).toDF("g", "v", "id")
    val est2 = ProfilerOps.sketchQuantilesOf(skewed, 256, Seq(50, 90, 99))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    for ((e, p) <- Seq(est2._1 -> 50L, est2._2 -> 90L, est2._3 -> 99L)) {
      val rank = skewed.where(col("v") <= e).count()
      assert(math.abs(rank - n * p / 100) <= eps,
        s"skewed p$p: estimate $e has rank $rank, want ~${n * p / 100} ± $eps")
    }
  }

  test("p21 semilattice: merge is split-blind, commutative, and idempotent") {
    val rows = (1L to 3000L).map(i => (s"g${i % 3}", i * 7 % 1000, i))
      .toDF("g", "v", "id")
    val whole = ProfilerOps.bottomK(ProfilerOps.drawKeyed(rows), 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // split three ways, sketch each part, merge = re-truncate the union
    val parts = Seq(col("id") % 3 === 0, col("id") % 3 === 1, col("id") % 3 === 2)
      .map(p => ProfilerOps.bottomK(ProfilerOps.drawKeyed(rows.where(p)), 64))
    val merged = ProfilerOps.bottomK(parts.reduce(_ unionByName _), 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(merged === whole, "merged partial sketches must equal the whole-data sketch")
    // idempotent: absorbing a re-delivered copy of a partial changes nothing
    val redelivered = ProfilerOps.bottomK(
        parts.head.unionByName(parts.head).unionByName(parts(1)).unionByName(parts(2)), 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(redelivered === whole, "a re-delivered partial must be absorbed, not double-counted")
  }

  test("p22 superset: MG candidates contain every true heavy value, any partitioning") {
    // deterministic skewed multiset: value i appears 2^i times, i = 1..9
    // (n = 1022). With m = 16 the error bound n/17 ≈ 60 guarantees every
    // value with freq > 60 (i ≥ 6) survives pass 1 — under ANY partition
    // layout, because MG's guarantee is merge-order-blind even though
    // its counter values are not.
    val rows = (1 to 9).flatMap(i => Seq.fill(1 << i)(i.toLong))
    val truthy = (6 to 9).map(_.toLong).toSet // freq 64..512 > 60
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("v").repartition(parts)
      val cands = ProfilerOps.mgCandidates(df, 16).toSet
      assert(truthy.subsetOf(cands),
        s"parts=$parts: candidates $cands lost a guaranteed heavy value")
    }
  }

  test("p22 truth: the two-pass output IS the exact heavy-hitter set, merge-shape-blind") {
    val rows = (1 to 9).flatMap(i => Seq.fill(1 << i)(i.toLong))
    val n = rows.size // 1022; heavy = freq*8 > n → freq ≥ 128 → i ≥ 7
    val want = Seq((7L, 128L), (8L, 256L), (9L, 512L))
    for (parts <- Seq(1, 7, 32)) {
      val got = ProfilerOps.mgHeavyHittersOf(rows.toDF("v").repartition(parts),
          ProfilerOps.HhM, ProfilerOps.HhK)
        .orderBy(col("v")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === want, s"parts=$parts: got $got, want $want (n=$n)")
    }
    // and a flat distribution has NO heavy hitters — the filter must
    // reject every candidate the summary happens to surface
    val flat = (1L to 1000L).toDF("v")
    assert(ProfilerOps.mgHeavyHittersOf(flat, 16, 8).count() === 0L,
      "uniform data must produce an empty heavy-hitter set")
  }

  test("x25: head resolves through the checkpoint after pre-checkpoint pointers are vacuumed") {
    val d = "/root/testdata/sf0.001"
    val want = XmlOps.occCheckpointRead(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val base = graft.core.LakeDir.scoped(spark, "occkpt", d)
    val log = TxnLog.local(base)
    // checkpoint at v4, head v6 on the intact log
    assert(log.lastCheckpoint.map(_.version) === Some(4))
    assert(log.head === 6, "checkpoint+tail must resolve v6 before any vacuum")
    // vacuum v1..v3 pointers (pre-checkpoint history) — resolution and
    // CONTENT must survive: the checkpoint carries the reader past the gap
    for (v <- 1 to 3)
      java.nio.file.Files.delete(java.nio.file.Paths.get(base, "_commits", s"v$v"))
    assert(log.head === 6, s"resolved v${log.head} after vacuum, want v6")
    val got = LakeTable.snapshot(spark, base)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
      .orderBy(col("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want, "vacuumed-history read drifted from the intact read")
    // the LISTING-based head is now wrong-or-equal territory — the fast
    // path must not have silently depended on it: delete the checkpoint
    // too and confirm the fallback contract degrades loudly-or-correctly
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(base, "_commits", "_last_checkpoint"))
    assert(log.head === 6, "without a checkpoint the head comes from the full listing")
  }

  test("x26: a violating batch aborts before the CAS — the head never moves") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, d)
    assert(docs.where(LakeTable.triageReason =!= "ok").count() > 0,
      "fixture must actually contain violating rows for this spec to bite")
    val got = XmlOps.txnExpectations(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val base = graft.core.LakeDir.scoped(spark, "occtxn", d)
    // the dirty attempt aborted: history is v1 (seed) then v2 (clean) —
    // the dirty candidate never occupied a version
    assert(TxnLog.local(base).head === 2,
      "dirty publish must leave no version behind")
    // the head holds zero violating rows, and equals the clean restate
    val head = LakeTable.snapshot(spark, base)
    assert(head.where(LakeTable.triageReason =!= "ok").count() === 0L,
      "a violating row reached the head")
    val want = docs.where(LakeTable.triageReason === "ok")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
      .orderBy(col("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want, s"head content drifted: $got vs $want")
    // explicit abort semantics: validating the dirty candidate again
    // returns false and STILL does not move the head
    assert(!LakeTable.publishValidated(spark, base, docs))
    assert(TxnLog.local(base).head === 2)
  }

  test("x24: apply(gen0, diff(gen0, gen1)) reproduces gen1 row-for-row") {
    // row-level identity, not just the gate's aggregate — the property
    // that licenses feed-driven refresh over full rebuilds
    val d = "/root/testdata/sf0.001"
    val dir = graft.core.LakeDir.scoped(spark, "cdcrt_spec", d)
    XmlOps.cdcWriteGens(spark, d, dir)
    val g0 = XmlOps.cdcReadGen(spark, s"$dir/gen_0")
    val g1 = XmlOps.cdcReadGen(spark, s"$dir/gen_1")
    val rebuilt = XmlOps.cdcApply(g0, XmlOps.cdcDiffFull(g0, g1))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = g1.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rebuilt === want,
      s"round-trip drifted: ${(rebuilt -- want).take(3)} extra, ${(want -- rebuilt).take(3)} missing")
    // and the no-op diff applies as the identity
    val idem = XmlOps.cdcApply(g1, XmlOps.cdcDiffFull(g1, g1))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(idem === want, "diff of identical generations must apply as a no-op")
  }

  test("s19: tombstones never serve, and ranks recompute densely over survivors") {
    val d = "/root/testdata/sf0.001"
    val rows = Similarity.tombstonedAnn(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty, "gate must produce neighbors")
    // a deleted id appears on NEITHER side of the serving output
    assert(rows.forall { case (q, _, n) => q % 5 != 3 && n % 5 != 3 },
      "a tombstoned vector leaked into serving")
    // ranks are dense 1..k per query: the ranking ran AFTER the
    // anti-join, exactly what a rebuilt index would produce — ranks
    // computed before deletion would leave gaps where dead ids ranked
    for ((q, qr) <- rows.groupBy(_._1))
      assert(qr.map(_._2).sorted.toSeq === (1 to qr.length).toSeq,
        s"query $q has non-dense ranks ${qr.map(_._2).sorted.toSeq}")
  }

  test("x22 commit visibility: a version file is complete the instant it exists") {
    // hard-link semantics: a reader listing the log either sees no v7 or
    // sees v7 with its FULL content — stage-then-link can't surface a
    // half-written pointer. Pin by committing a long generation name and
    // immediately reading it back byte-for-byte.
    val base = freshBase("occ_vis")
    val gen = "gen_" + ("abcd" * 16)
    val log = TxnLog.local(base)
    assert(log.tryCommit(7, Commit(gen)))
    assert((log.head, log.at(7)) === ((7, Some(Commit(gen)))),
      "content must be complete at first visibility")
    // and a SECOND claim of v7 still loses even with identical content
    assert(!log.tryCommit(7, Commit(gen)), "re-claiming a version must conflict")
  }
}
