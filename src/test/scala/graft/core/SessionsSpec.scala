package graft.core

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Every session comes from [[Sessions.builder]]: its settings are the
  * factory's, and no other file builds a session of its own, so the
  * settings cannot drift apart between Bench, Verify, tools and tests. */
class SessionsSpec extends SparkSpec {

  test("a factory session: shuffle partitions = cpus, UTC, UI off") {
    // a second session over the shared context (created, not fetched, so
    // the session-level settings are this builder's own); the default
    // and active slots are restored so other suites keep theirs
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    val s = try Sessions.builder("graft-sessions-test", cpus = 3).create()
    finally {
      prevDefault.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
    assert(s.conf.get("spark.sql.shuffle.partitions") === "3")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(s.sparkContext.master.matches("""local\[\d+\]"""))
  }

  test("no file but Sessions.scala starts a session builder") {
    val needle = "SparkSession" + ".builder" // split so this file is no match
    def scalaFiles(root: Path): Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val hits = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
      .flatMap(scalaFiles)
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(_.getFileName.toString)
    assert(hits === Seq("Sessions.scala"))
  }
}
