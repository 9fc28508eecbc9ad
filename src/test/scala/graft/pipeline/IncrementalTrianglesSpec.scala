package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** Arrival-rank triangle IVM: every triangle counted exactly once, by
  * its last-arriving edge — pinned against brute force over multi-batch
  * folds, duplicate edges, redelivery, and all cross-batch mixes. */
class IncrementalTrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def pairsDf(es: Seq[(Long, Long)]): DataFrame = es.toDF("u", "v")

  private def brute(es: Set[(Long, Long)]): Long = {
    val adj = es.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    es.toSeq.map { case (u, v) =>
      (adj.getOrElse(u, Set.empty) & adj.getOrElse(v, Set.empty)).size.toLong
    }.sum
  }

  private def readCur(dir: String): (Long, Long) = {
    val r = IncrementalTriangles.current(spark, dir).collect().head
    (r.getLong(0), r.getLong(1))
  }

  test("multi-batch fold equals brute force; every cross-batch mix is exercised") {
    val dir = Files.createTempDirectory("itri").toString
    // batch 0: triangle {1,2,3} plus open wedge 3-4
    val b0 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    IncrementalTriangles.update(spark, dir, pairsDf(b0), 0L)
    assert(readCur(dir) === ((4L, 1L)))
    // batch 1: closes base-base-new {1,3,4}? no — (1,4) closes wedge
    // 1-3, 3-4 (two base edges + one new). Also new-new pair (4,5),(1,5)
    // with base (1,4)... build: new edges (1,4), (4,5), (1,5):
    //   {1,3,4}: base,base,new — counted at (1,4)
    //   {1,4,5}: new,new,new — counted at its max-rank new edge
    val b1 = Seq((1L, 4L), (4L, 5L), (1L, 5L))
    IncrementalTriangles.update(spark, dir, pairsDf(b1), 1L)
    val all1 = (b0 ++ b1).toSet
    assert(readCur(dir) === ((7L, brute(all1))))
    assert(brute(all1) === 3L) // {1,2,3}, {1,3,4}, {1,4,5}
    // batch 2: one new edge closing base-new-new {3,4,5} via (3,5)
    val b2 = Seq((3L, 5L), (1L, 2L)) // (1,2) is a cross-batch duplicate
    IncrementalTriangles.update(spark, dir, pairsDf(b2), 2L)
    val all2 = all1 ++ Set((3L, 5L))
    assert(readCur(dir) === ((8L, brute(all2))), "duplicate edge must not inflate edges or count")
  }

  test("redelivered batch recomputes identically — counts and edges unchanged") {
    val dir = Files.createTempDirectory("itri_replay").toString
    IncrementalTriangles.update(spark, dir,
      pairsDf(Seq((1L, 2L), (1L, 3L), (2L, 3L))), 0L)
    IncrementalTriangles.update(spark, dir,
      pairsDf(Seq((2L, 4L), (3L, 4L))), 1L)
    val before = readCur(dir)
    assert(before === ((5L, 2L))) // {1,2,3} and {2,3,4}
    IncrementalTriangles.update(spark, dir,
      pairsDf(Seq((2L, 4L), (3L, 4L))), 1L) // redelivery
    assert(readCur(dir) === before)
  }

  test("crash between edge write and delta write heals on redelivery") {
    val dir = Files.createTempDirectory("itri_crash").toString
    IncrementalTriangles.update(spark, dir,
      pairsDf(Seq((1L, 2L), (1L, 3L), (2L, 3L))), 0L)
    // simulate a crash AFTER batch 1's edges landed but BEFORE its
    // delta row did: apply the batch, then delete only the delta file
    IncrementalTriangles.update(spark, dir, pairsDf(Seq((1L, 4L), (3L, 4L))), 1L)
    val deltaDir = new java.io.File(s"$dir/delta.parquet/batch=1")
    assert(deltaDir.exists)
    deltaDir.listFiles.foreach(_.delete()); deltaDir.delete()
    // the checkpointed source redelivers batch 1: the new-edge set is
    // recomputed against strictly-earlier batches only, so both the
    // edges partition and the missing delta are rebuilt identically
    IncrementalTriangles.update(spark, dir, pairsDf(Seq((1L, 4L), (3L, 4L))), 1L)
    assert(readCur(dir) === ((5L, 2L))) // {1,2,3} and {1,3,4}
  }

  test("st28 ≡ g32: sampled maintenance equals the batch sampled count on full replay") {
    val dir = Files.createTempDirectory("stris").toString
    val streamed = graft.streaming.Streaming
      .streamTrianglesSampled(spark, "/root/testdata/sf0.001", dir)
      .collect().head
    val batch = graft.operators.CoOrderGraph
      .trianglesSampled(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(streamed.toSeq === batch.toSeq)
  }

  test("intra-batch triangle counts once (same-batch rank ordering is total)") {
    val dir = Files.createTempDirectory("itri_intra").toString
    IncrementalTriangles.update(spark, dir,
      pairsDf(Seq((7L, 8L), (7L, 9L), (8L, 9L), (8L, 9L))), 5L)
    assert(readCur(dir) === ((3L, 1L)))
  }
}
