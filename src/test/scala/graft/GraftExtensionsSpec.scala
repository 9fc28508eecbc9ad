package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The injected SQL functions must reach the same codegen'd kernels as
  * the DataFrame API (own session: extensions bind at build time). */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val ext: SparkSession = {
    // getOrCreate() returns any ACTIVE session and silently ignores
    // withExtensions — when the shared SparkSpec session exists this spec
    // would test nothing. Clear the session slots (the JVM-singleton
    // SparkContext is still reused), build the extension-bearing session,
    // then restore the world exactly as found.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = graft.core.Sessions.builder("graft-ext-test", cpus = 2)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    prevDefault match {
      case Some(p) => SparkSession.setDefaultSession(p)
      case None    => SparkSession.clearDefaultSession()
    }
    prevActive match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None    => SparkSession.clearActiveSession()
    }
    s
  }

  test("graft_dot matches the DataFrame-side DotProductL") {
    val r = ext.sql(
      "SELECT graft_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").first()
    assert(r.getLong(0) === 32L)
  }

  test("graft_quantize rounds per element with an integer-literal scale") {
    val r = ext.sql(
      "SELECT graft_quantize(array(CAST(0.1234 AS FLOAT), CAST(-0.5 AS FLOAT)), 1000) AS q")
      .first().getSeq[Long](0)
    assert(r === Seq(123L, -500L))
  }

  test("graft_quantize rejects a non-literal scale with a clear error") {
    val e = intercept[Exception] {
      ext.sql("SELECT graft_quantize(array(CAST(1.0 AS FLOAT)), 1 + 1) AS q").first()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("graft_rolling_hash agrees with the DataFrame path") {
    import org.apache.spark.sql.functions.col
    val viaSql = ext.sql("SELECT graft_rolling_hash('hello world') AS h").first().getLong(0)
    import ext.implicits._
    val viaDf = Seq("hello world").toDF("t")
      .select(graft.functions.RollingHash(col("t")).as("h")).first().getLong(0)
    assert(viaSql === viaDf)
  }

  test("graft_shingles TVF yields the dedup layer's shingle set") {
    val rows = ext.sql("SELECT s FROM graft_shingles('a b c d e') ORDER BY s")
      .collect().map(_.getString(0)).toSeq
    assert(rows === Seq("a b c", "b c d", "c d e"))
  }

  test("graft_shingles rejects a non-literal argument") {
    val e = intercept[Exception] {
      ext.sql("SELECT * FROM graft_shingles(upper('x y z w'))").collect()
    }
    assert(e.getMessage.contains("string literal"))
  }
}
