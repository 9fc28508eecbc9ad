package graft.operators

import graft.SparkSpec
import graft.pipeline.IncrementalTriangles
import graft.streaming.Streaming
import java.nio.file.Files

/** Generative coverage for the round-10 algorithms whose correctness
  * rests on a non-obvious argument: the oriented k-truss peel (≡ brute
  * force), arrival-rank triangle IVM (≡ brute force across random batch
  * splits), and bar-partial merging (≡ the one-shot aggregation for any
  * split). Seeded RNG → failures replay. */
@graft.DeepTest
class Round10FuzzSpec extends SparkSpec {
  import spark.implicits._

  private def bruteTruss(edges: Set[(Long, Long)], k: Int): Set[(Long, Long, Long)] = {
    var e = edges
    var stable = false
    def support(s: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val nb = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
      s.foreach { case (u, v) => nb(u) += v; nb(v) += u }
      s.iterator.map { case (u, v) => (u, v) -> (nb(u) & nb(v)).size.toLong }.toMap
    }
    while (!stable) {
      val sup = support(e)
      val next = e.filter(ed => sup(ed) >= k - 2)
      stable = next == e
      e = next
    }
    support(e).map { case ((u, v), s) => (u, v, s) }.toSet
  }

  test("truss fuzz: oriented peel equals brute force on random graphs, k in 3..5") {
    val rng = new scala.util.Random(424242L)
    for (trial <- 1 to 5) {
      val nV = 6 + rng.nextInt(5)
      val all = for (u <- 0L until nV; v <- (u + 1) until nV) yield (u, v)
      val edges = all.filter(_ => rng.nextDouble() < 0.45).toSet
      if (edges.nonEmpty) {
        val df = edges.toSeq.toDF("u", "v")
        val k = 3 + rng.nextInt(3)
        val engine = CoOrderGraph.kTrussOf(df, k)
          .as[(Long, Long, Long)].collect().toSet
        assert(engine === bruteTruss(edges, k),
          s"trial $trial (k=$k, |E|=${edges.size}): peel diverged from brute force")
      }
    }
  }

  test("triangle IVM fuzz: random batch splits with duplicates equal brute force") {
    val rng = new scala.util.Random(31337L)
    for (trial <- 1 to 4) {
      val nV = 6 + rng.nextInt(4)
      val all = for (u <- 0L until nV; v <- (u + 1) until nV) yield (u, v)
      val edges = all.filter(_ => rng.nextDouble() < 0.5)
      val nBatches = 1 + rng.nextInt(3)
      val dir = Files.createTempDirectory(s"itri_fuzz$trial").toString
      val batches = edges.groupBy(_ => rng.nextInt(nBatches)).toSeq.sortBy(_._1)
      batches.foreach { case (bid, es) =>
        // inject cross-batch duplicates at random
        val withDup = es ++ edges.filter(_ => rng.nextDouble() < 0.1)
        IncrementalTriangles.update(spark, dir, withDup.toDF("u", "v"), bid.toLong)
      }
      val got = IncrementalTriangles.current(spark, dir).collect().head
      val set = edges.toSet
      val adj = set.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val tri = set.toSeq.map { case (u, v) =>
        (adj.getOrElse(u, Set.empty) & adj.getOrElse(v, Set.empty)).size.toLong
      }.sum
      assert((got.getLong(0), got.getLong(1)) === ((set.size.toLong, tri)),
        s"trial $trial: IVM diverged (batches=${batches.map(_._2.size)})")
    }
  }

  test("s-core fuzz: strength peel equals brute force on random weighted graphs") {
    val rng = new scala.util.Random(55501L)
    def bruteScore(es: Map[(Long, Long), Long], t: Long): Map[Long, Long] = {
      var alive = es.keysIterator.flatMap { case (u, v) => Seq(u, v) }.toSet
      def strength(a: Set[Long]): Map[Long, Long] = {
        val m = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        es.foreach { case ((u, v), w) =>
          if (a(u) && a(v)) { m(u) += w; m(v) += w }
        }
        m.toMap
      }
      var stable = false
      while (!stable) {
        val s = strength(alive)
        val next = alive.filter(v => s.getOrElse(v, 0L) >= t)
        stable = next == alive
        alive = next
      }
      strength(alive).filter { case (v, s) => alive(v) && s >= t }
    }
    for (trial <- 1 to 4) {
      val nV = 5 + rng.nextInt(5)
      val all = for (u <- 0L until nV; v <- (u + 1) until nV) yield (u, v)
      val es = all.filter(_ => rng.nextDouble() < 0.5)
        .map(e => e -> (1L + rng.nextInt(9))).toMap
      if (es.nonEmpty) {
        val df = es.toSeq.map { case ((u, v), w) => (u, v, w) }.toDF("f", "t", "w")
        val thr = 5L + rng.nextInt(15)
        val engine = MaterialiseOps.sCoreOf(df, thr).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(engine === bruteScore(es, thr),
          s"trial $trial (T=$thr, |E|=${es.size}): strength peel diverged")
      }
    }
  }

  test("bar-partial fuzz: any random split of events merges to the one-shot bars") {
    val rng = new scala.util.Random(8675309L)
    for (trial <- 1 to 4) {
      val n = 5 + rng.nextInt(20)
      val events = (0 until n).map { i =>
        (s"k${rng.nextInt(3)}", rng.nextInt(300).toLong, i.toLong,
          (rng.nextInt(100) - 50).toDouble)
      }
      val df = events.toDF("event_type", "us", "event_id", "value")
      val nSplits = 1 + rng.nextInt(3)
      val parts = events.groupBy(_ => rng.nextInt(nSplits)).values.toSeq
      val merged = Streaming.barMerge(
          parts.map(p => Streaming.barPartials(
            p.toDF("event_type", "us", "event_id", "value"), 100L))
            .reduce(_ union _))
        .collect().toSeq
      val oneShot = Temporal.timeBarsOf(df, 100L).collect().toSeq
      assert(merged === oneShot, s"trial $trial: split merge diverged")
    }
  }
}
