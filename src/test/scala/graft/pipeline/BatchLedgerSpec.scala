package graft.pipeline

import graft.SparkSpec
import graft.core.LakeDir
import graft.identity.ConnectedComponents
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The incremental state keeps its exactly-once bookkeeping beside its
  * data, on the state path's own filesystem — also when the state dir is
  * a URI — and that bookkeeping lives in one place, [[BatchLedger]]. */
class BatchLedgerSpec extends SparkSpec {

  /** A fresh local state dir, named by its `file:` URI. */
  private def uriDir(prefix: String): (String, String) = {
    val local = Files.createTempDirectory(prefix).toString
    (local, "file:" + local)
  }

  private def edges(pairs: (String, String)*): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("file: state dir — incremental mixture update(A); update(B) equals the union build") {
    import spark.implicits._
    val (local, dir) = uriDir("ledger_mix")
    val cfg = MixtureConfig(budget = 4, seqBudget = 64)
    val a = Seq(("X", 1L, "one two"), ("X", 2L, "three"), ("X", 3L, "four"),
      ("X", 4L, "five"), ("Y", 10L, "six")).toDF("source", "doc_id", "text")
    val b = (11L to 18L).map(i => ("Y", i, s"doc $i")).toDF("source", "doc_id", "text")
    IncrementalMixture.update(spark, dir, a, cfg, Some("b1"))
    val second = IncrementalMixture.update(spark, dir, b, cfg, Some("b2"))
    val union = MixturePipeline.runOn(MixturePipeline.tokensOf(a.union(b)), cfg)
    assert(rows(second.quotas) === rows(union.quotas))
    assert(rows(second.admitted) === rows(union.admitted))
    assert(rows(second.packed) === rows(union.packed))
    assert(Files.exists(Paths.get(local, "applied_batches", "b2")))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(local))
  }

  test("file: state dir — IncrementalCc redelivery of a keyed batch is a no-op") {
    val (local, dir) = uriDir("ledger_cc")
    def resolved = rows(IncrementalCc.current(spark, dir))
    IncrementalCc.update(spark, dir, edges("a" -> "b"), Some("b1"))
    val first = rows(IncrementalCc.update(spark, dir, edges("b" -> "c"), Some("b2")))
    val settled = resolved
    assert(settled === rows(ConnectedComponents.run(edges("a" -> "b", "b" -> "c"))))
    val files = new java.io.File(s"$local/components.parquet").list().sorted.toSeq
    val replayed = rows(IncrementalCc.update(spark, dir, edges("b" -> "c"), Some("b2")))
    assert(replayed === first)
    assert(resolved === settled)
    assert(new java.io.File(s"$local/components.parquet").list().sorted.toSeq === files)
    assert(Files.exists(Paths.get(local, "applied_batches", "b2")))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(local))
  }

  test("file: state dir — deleting the state takes its markers along, so a key applies again") {
    val (local, dir) = uriDir("ledger_gone")
    IncrementalCc.update(spark, dir, edges("a" -> "b"), Some("b1"))
    LakeDir.delete(spark, dir)
    val again = rows(IncrementalCc.update(spark, dir, edges("a" -> "b"), Some("b1")))
    assert(again === Set(Seq("a", "a"), Seq("b", "a")))
    assert(rows(IncrementalCc.current(spark, dir)) === again)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(local))
  }

  test("the marker, the key sanitiser and the atomic write live only in BatchLedger.scala") {
    val root = Paths.get("src/main/scala/graft/pipeline")
    val files: Seq[Path] = {
      val walk = Files.list(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    def holding(needle: String): Seq[String] =
      files.filter(text(_).contains(needle)).map(_.getFileName.toString).sorted
    assert(holding("applied_batches") === Seq("BatchLedger.scala"))
    assert(holding("[^A-Za-z0-9._-]") === Seq("BatchLedger.scala"))
    // the temp-file-then-rename write: the only raw file creation
    assert(holding(".create(") === Seq("BatchLedger.scala"))
    val incremental = files.filter(_.getFileName.toString.startsWith("Incremental"))
    assert(incremental.size === 20)
    for (p <- incremental; banned <- Seq("java.nio.file", "java.io.File", "emptyRDD"))
      assert(!text(p).contains(banned), s"${p.getFileName} mentions $banned")
    assert(holding("private def exists") === Nil)
    // the arrival-rank wedge join is written once
    val wedge = """col("rx") < col("re")"""
    assert(files.map(p => text(p).split(java.util.regex.Pattern.quote(wedge), -1).length - 1)
      .sum === 1)
  }
}
