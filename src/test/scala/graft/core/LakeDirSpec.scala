package graft.core

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import scala.jdk.CollectionConverters._

/** Scratch dirs handed out by [[LakeDir]] do not outlive their
  * application: the one listener per SparkContext deletes them when the
  * application ends. */
class LakeDirSpec extends SparkSpec {

  test("the dirs LakeDir hands out are deleted when the application ends") {
    val scoped = LakeDir.scoped(spark, "lakedir_sweep", "d1")
    val fresh = LakeDir.fresh(spark, "lakedir_sweep", "d2")
    Seq(scoped, fresh).foreach { d =>
      Files.createDirectories(Paths.get(d, "sub"))
      Files.writeString(Paths.get(d, "sub", "part"), "x")
    }
    // s17 writes its bucketed table to a LakeDir of its own
    val sf = Files.createTempDirectory("lakedir_sf").toString
    import spark.implicits._
    Seq((1L, 0, Array.fill(8)(0.5f)), (2L, 1, Array.fill(8)(-0.25f)))
      .toDF("vec_id", "label", "embedding").write.parquet(s"$sf/embeddings.parquet")
    graft.operators.Similarity.bucketedSelfJoin(spark, sf)
    // one listener per SparkContext, however many dirs were handed out
    val sweeper = LakeDir.sweeper(spark)
    assert(sweeper eq LakeDir.sweeper(spark))
    val bucketIdx = sweeper.dirs.asScala.find { d =>
      val name = Paths.get(d).getFileName.toString
      name.startsWith("graft_bucket_idx_") && name.endsWith("_" + Integer.toHexString(sf.hashCode))
    }
    assert(bucketIdx.exists(d => Files.isDirectory(Paths.get(d))),
      "s17's bucketed table is not in a LakeDir")
    val dirs = Seq(scoped, fresh) ++ bucketIdx
    dirs.foreach(d => assert(sweeper.dirs.contains(d), d))
    sweeper.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    dirs.foreach(d => assert(!Files.exists(Paths.get(d)), d))
    assert(sweeper.dirs.isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sf))
  }
}
