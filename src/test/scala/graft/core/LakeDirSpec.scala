package graft.core

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.SparkListenerApplicationEnd

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
    // one listener per SparkContext, however many dirs were handed out
    val sweeper = LakeDir.sweeper(spark)
    assert(sweeper eq LakeDir.sweeper(spark))
    assert(sweeper.dirs.contains(scoped) && sweeper.dirs.contains(fresh))
    sweeper.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(!Files.exists(Paths.get(scoped)) && !Files.exists(Paths.get(fresh)))
    assert(sweeper.dirs.isEmpty)
  }
}
