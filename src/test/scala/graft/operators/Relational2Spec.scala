package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import java.sql.Timestamp

/** Hand-fixture semantics for the correlated multi-exists gate (q29):
  * every clause of the predicate — multi-supplier, sole-late, status
  * filter — gets an order that exists ONLY to test it, so a bug in any
  * one clause flips a known row. */
class Relational2Spec extends SparkSpec {

  /** A fresh directory for one test's fixture tables, deleted afterwards. */
  private def withDir(prefix: String)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  private def ts(day: Int): Timestamp =
    Timestamp.valueOf(f"1995-01-${day}%02d 00:00:00")
  private def tsLate(base: Int): Timestamp =
    Timestamp.valueOf(f"1995-04-${base}%02d 00:00:00") // 60+ days after Jan

  test("q29: one wait per F-order where exactly one of 2+ suppliers was late") {
    import spark.implicits._
    withDir("graft_q29") { dir =>
      // o1: s1 late, s2 on time        -> s1 charged
      // o2: s1 AND s2 late             -> excluded (two late suppliers)
      // o3: s1 late, sole supplier     -> excluded (no other supplier)
      // o4: status 'O', s2 late, s3 ok -> excluded (status filter)
      // o5: s2 late, s3 on time        -> s2 charged
      // o6: nobody late, 2 suppliers   -> excluded (no late supplier)
      val orders = Seq(
        (1L, "F", ts(1)), (2L, "F", ts(1)), (3L, "F", ts(1)),
        (4L, "O", ts(1)), (5L, "F", ts(1)), (6L, "F", ts(1)))
        .toDF("o_orderkey", "o_orderstatus", "o_orderdate")
      val lineitem = Seq(
        (1L, 1L, tsLate(2)), (1L, 1L, ts(3)), (1L, 2L, ts(5)),
        (2L, 1L, tsLate(2)), (2L, 2L, tsLate(2)),
        (3L, 1L, tsLate(2)),
        (4L, 2L, tsLate(2)), (4L, 3L, ts(5)),
        (5L, 2L, tsLate(2)), (5L, 3L, ts(5)),
        (6L, 1L, ts(3)), (6L, 2L, ts(4)))
        .toDF("l_orderkey", "l_suppkey", "l_shipdate")
      val supplier = Seq((1L, "Supp#1"), (2L, "Supp#2"), (3L, "Supp#3"))
        .toDF("s_suppkey", "s_name")
      orders.write.mode(SaveMode.Overwrite).parquet(s"$dir/orders.parquet")
      lineitem.write.mode(SaveMode.Overwrite).parquet(s"$dir/lineitem.parquet")
      supplier.write.mode(SaveMode.Overwrite).parquet(s"$dir/supplier.parquet")
      val rows = Relational2.soleLateSupplier(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq === Seq(("Supp#1", 1L), ("Supp#2", 1L)),
        "o1 charges s1, o5 charges s2; o2/o3/o4/o6 all excluded")
    }
  }

  test("q30: exactly the three requested sets, flags distinguish roll-up NULLs") {
    val d = "/root/testdata/sf0.001"
    val rows = Relational2.orderGroupingSets(spark, d).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getInt(4), r.getInt(5)))
    val sets = rows.map { case (_, _, _, gs, gp) => (gs, gp) }.distinct.sorted
    assert(sets === Seq((0, 0), (0, 1), (1, 1)),
      "the (priority)-only set that CUBE would add must be absent")
    // a flag of 1 means rolled up: the column must be NULL there and
    // only there (no order status/priority is NULL in the data)
    rows.foreach { case (st, pr, _, gs, gp) =>
      assert(st.isEmpty == (gs == 1) && pr.isEmpty == (gp == 1))
    }
    // the grand-total row equals the sum of the per-status level
    val total = rows.filter(t => t._4 == 1).map(_._3)
    assert(total.length == 1 &&
      total.head == rows.filter(t => t._4 == 0 && t._5 == 1).map(_._3).sum)
  }

  test("q31: rollup emits exactly the prefix sets and agrees with q30 on shared levels") {
    val d = "/root/testdata/sf0.001"
    def levels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getInt(4), r.getInt(5)),
        (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2))))
    val ru = levels(Relational2.ordersRollup(spark, d))
    assert(ru.map(_._1).distinct.sorted.toSeq === Seq((0, 0), (0, 1), (1, 1)),
      "rollup = prefix chain only")
    // identical level content as q30 (which requested the same three sets)
    val gs = levels(Relational2.orderGroupingSets(spark, d))
    assert(ru.sortBy(_.toString).toSeq === gs.sortBy(_.toString).toSeq)
  }

  test("q32: NOT IN over a null-bearing set is vacuously empty; in = exists; exists + not_exists = total") {
    val d = "/root/testdata/sf0.001"
    val got = Relational2.nullAntijoin(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = graft.core.Tables.orders(spark, d).count()
    // the subquery genuinely carries a NULL (some customer ≤ 5000) and
    // a non-NULL (some customer > 5000) — both needed for the trap
    val bals = graft.core.Tables.customer(spark, d)
      .select(org.apache.spark.sql.functions.col("c_acctbal").cast("double"))
      .collect().map(_.getDouble(0))
    assert(bals.exists(_ <= 5000) && bals.exists(_ > 5000),
      "fixture must exercise both CASE arms")
    assert(got("not_in") === 0L, "three-valued logic: x <> NULL is UNKNOWN")
    assert(got("in") === got("exists"), "IN ignores the NULLs EXISTS never sees")
    assert(got("exists") + got("not_exists") === total)
    assert(got("in") > 0L && got("not_exists") > 0L, "both arms non-trivial")
  }

  test("q33: scalar subqueries decorrelate; empty groups give COUNT 0 / NULL max, not a missing row") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    withDir("q33") { dir =>
      // nation 9 has NO customers: with the filter relaxed (count > -1 is
      // impossible to state through the gate, so probe the SELECT-list
      // semantics directly) the scalar count must be 0 and max NULL
      Seq((0L, "A"), (9L, "EMPTY")).toDF("n_nationkey", "n_name")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/nation.parquet")
      Seq((1L, 0L, 10.0), (2L, 0L, 20.0))
        .toDF("c_custkey", "c_nationkey", "c_acctbal")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/customer.parquet")
      graft.core.Tables.nation(spark, dir).createOrReplaceTempView("q33s_nation")
      graft.core.Tables.customer(spark, dir).createOrReplaceTempView("q33s_customer")
      val rows = spark.sql("""
        SELECT n_nationkey,
          (SELECT count(*) FROM q33s_customer WHERE c_nationkey = n_nationkey) AS n_cust,
          (SELECT max(c_acctbal) FROM q33s_customer
           WHERE c_nationkey = n_nationkey) AS max_bal
        FROM q33s_nation ORDER BY n_nationkey""").collect()
      assert(rows.length === 2)
      assert(rows(0).getLong(1) === 2L && rows(0).getDouble(2) === 20.0)
      assert(rows(1).getLong(1) === 0L && rows(1).isNullAt(2),
        "empty group: scalar COUNT is 0 and scalar MAX is NULL, row present")
      // the registered gate: every surviving nation genuinely clears the bar
      val d = "/root/testdata/sf0.001"
      val got = Relational2.correlatedScalar(spark, d).collect()
      val total = graft.core.Tables.customer(spark, d).count()
      assert(got.nonEmpty)
      got.foreach(r => assert(r.getLong(2) > total / 50.0))
    }
  }
}
