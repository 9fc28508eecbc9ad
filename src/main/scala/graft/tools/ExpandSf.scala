package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Synthetic scale-up of a testdata sf dir by key-shifted replication —
  * the round-13 verdict's "measure one tier up" tool.
  *
  * `runMain graft.tools.ExpandSf <srcSfDir> <outDir> <K>` writes K
  * structure-preserving replicas of the source tables:
  *
  *   - Every FACT-table key space (custkey, orderkey, partkey, suppkey,
  *     event_id, user_id, doc_id, vec_id) is shifted by
  *     `replica * (max(key) + 1)` so the K replicas are DISJOINT and all
  *     intra-replica join relationships (lineitem↔orders↔customer,
  *     lineitem↔part/supplier) are preserved exactly. The result is K
  *     independent copies of the sf0.1 "world" — graph queries see K
  *     disjoint subgraphs (per-round frontier work scales ×K while
  *     iteration depth stays constant, which is also how a 100 TB corpus
  *     behaves: more components, not deeper ones).
  *   - DIMENSION tables (region, nation) are copied unreplicated — dims
  *     don't grow with fact volume, and the n_nationkey references from
  *     the replicated customer/supplier rows stay valid.
  *   - `documents.text` gets a per-replica suffix on EVERY token (word →
  *     word#r<k>), making shingle sets disjoint across replicas: without
  *     this, K byte-identical copies of each doc put K rows in every
  *     MinHash/SimHash bucket and the near-dup pair count scales ×K²,
  *     which no real corpus does. n_chars is recomputed from the mutated
  *     text so the (text, n_chars) invariant holds.
  *   - `embeddings.embedding` vectors are copied as-is under shifted
  *     vec_ids (brute-force/ANN scan cost depends on row count, not
  *     vector values).
  *
  * This is a MEASUREMENT fixture, not an oracle input: the expansion is
  * deterministic but the driver's DuckDB gate never sees it. TUNING.md
  * "sf1.0 scaling" records the numbers.
  */
object ExpandSf {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExpandSf <srcSfDir> <outDir> <K>")
    val Array(src, out, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = graft.core.Sessions.builder("graft-expand-sf").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.core.Tables

    // one stride per KEY SPACE (not per column): l_orderkey must shift by
    // the same amount as o_orderkey or the join structure tears
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).collect()(0).getLong(0) + 1L
    val strides = Map(
      "custkey"  -> maxOf(Tables.customer(spark, src), "c_custkey"),
      "orderkey" -> maxOf(Tables.orders(spark, src), "o_orderkey"),
      "partkey"  -> maxOf(Tables.part(spark, src), "p_partkey"),
      "suppkey"  -> maxOf(Tables.supplier(spark, src), "s_suppkey"),
      "event_id" -> maxOf(Tables.events(spark, src), "event_id"),
      "user_id"  -> maxOf(Tables.events(spark, src), "user_id"),
      "doc_id"   -> maxOf(Tables.documents(spark, src), "doc_id"),
      "vec_id"   -> maxOf(Tables.embeddings(spark, src), "vec_id"))

    def expand(base: DataFrame, keys: Map[String, String],
        mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until k).map { r =>
        val shiftedDf = keys.foldLeft(base) { case (d, (c, space)) =>
          d.withColumn(c, col(c) + lit(strides(space) * r))
        }
        mutate(shiftedDf, r)
      }.reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      System.err.println(s"[expand] $name done")
    }

    // dims: straight copy
    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")

    write(expand(Tables.customer(spark, src), Map("c_custkey" -> "custkey")),
      "customer")
    write(expand(Tables.supplier(spark, src), Map("s_suppkey" -> "suppkey")),
      "supplier")
    write(expand(Tables.part(spark, src), Map("p_partkey" -> "partkey")),
      "part")
    write(expand(Tables.orders(spark, src),
      Map("o_orderkey" -> "orderkey", "o_custkey" -> "custkey")), "orders")
    write(expand(Tables.lineitem(spark, src),
      Map("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
        "l_suppkey" -> "suppkey")), "lineitem")
    write(expand(Tables.events(spark, src),
      Map("event_id" -> "event_id", "user_id" -> "user_id")), "events")
    write(expand(Tables.documents(spark, src), Map("doc_id" -> "doc_id"),
      mutate = (d, r) =>
        if (r == 0) d
        else d
          .withColumn("text", array_join(
            transform(split(col("text"), " "),
              w => concat(w, lit(s"#r$r"))), " "))
          .withColumn("n_chars", length(col("text")))), "documents")
    write(expand(Tables.embeddings(spark, src), Map("vec_id" -> "vec_id")),
      "embeddings")
    spark.stop()
  }
}
