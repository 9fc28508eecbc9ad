package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), tiny shuffle
  * fan-out so tests stay fast. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.Sessions.builder("graft-test", cpus = 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
