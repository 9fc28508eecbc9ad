package graft.operators

import graft.core.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Similarity search over the embedding column (`Array[Float]`, 64-dim).
  *
  * Scores are integer dot products over 1e4-quantized vectors — the
  * standard int8/int16 quantization trick, and the reason results are
  * engine-exact: integer sums are order-independent, so Spark's parallel
  * aggregation and DuckDB's sequential scan agree bit-for-bit (a float
  * dot product would differ in the last ulp by summation order).
  *
  * s1 is the brute-force baseline: per-query scan of the full corpus —
  * O(Q·N) but embarrassingly parallel (queries broadcast, corpus
  * partitioned; no shuffle until the per-query top-k).
  * s2 is the scale path: sign-bucket LSH (axis-aligned hyperplanes on the
  * leading dimensions) — candidates come from an equality join on the
  * bucket id, so the pair space shrinks by ~2^bits.
  */
object Similarity extends QueryModule {

  /** 1e4-quantized integer vector. */
  private def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding"),
      graft.core.Exact.quantize(col("embedding"), 10000).as("q"))

  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProductL(a, b)

  /** s1 — brute-force maximum-inner-product top-5 for the first 20
    * vectors. */
  def bruteForceTopK(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d).select(col("vec_id"), col("q"))
    val queries = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    broadcast(queries)
      .join(emb.withColumnRenamed("vec_id", "neighbor_id"),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", dot(col("qv"), col("q")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  val bruteForceTopKSql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS BIGINT) AS dot
      |  FROM q a JOIN q b ON b.vec_id != a.vec_id
      |  WHERE a.vec_id < 20)
      |SELECT query_id, rank, neighbor_id, dot FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, neighbor_id ASC) AS rank
      |  FROM pairs)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** s2 — sign-bucket ANN: bucket = sign bits of the first 8 dims;
    * candidates share the bucket; exact re-rank within. Recall trades off
    * against 2^8 bucket fan-out — the LSH shape, with a deterministic,
    * data-independent hash. */
  def signBucketAnn(s: SparkSession, d: String): DataFrame = {
    val bucket = (1 to 8).map(i =>
      when(element_at(col("embedding"), i) > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)
    val emb = quantized(s, d).withColumn("bucket", bucket)
      .select(col("vec_id"), col("bucket"), col("q"))
    val queries = emb.where(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("bucket"), col("q").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    queries
      .join(emb.withColumnRenamed("vec_id", "neighbor_id"), Seq("bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", dot(col("qv"), col("q")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s19 — TOMBSTONED ANN (the index-update problem x16 solves for
    * scans, applied to similarity serving): a 100 TB ANN index is
    * rebuilt rarely, but deletes (GDPR, dedup, retractions) land DAILY
    * — the standard answer (FAISS `remove_ids` rebuilds; Milvus/Lucene
    * tombstone) is an IMMUTABLE index plus a deletion list applied at
    * serve time. Here s2's sign-bucket index is served with a
    * tombstone set (vec_id % 5 = 3, id-only — the x16 DV shape):
    * dead ids are anti-joined out of BOTH the query side (a deleted
    * query gets no rows) and the candidate stream BEFORE ranking, so a
    * tombstoned vector can neither appear as a neighbor nor hold a
    * rank that shifts the survivors — ranks recompute over the live
    * candidates exactly as a rebuilt index would produce them. The
    * oracle restates the deletion from the source predicate while the
    * engine consumes the materialised tombstone LIST, so an anti-join
    * that leaked or over-deleted cannot mirror itself green. Scale
    * shape: the tombstone set is deleted-rows-small and broadcasts;
    * everything else is s2's bucket equi-join unchanged. */
  def tombstonedAnn(s: SparkSession, d: String): DataFrame = {
    // the tombstone list — materialised ids, not a predicate: serving
    // must work from the list alone (the delete may have come from a
    // dedup pass or a GDPR request, not a re-evaluable predicate)
    val dead = Tables.embeddings(s, d)
      .where(col("vec_id") % 5 === 3).select(col("vec_id"))
    tombstonedAnnOf(s, d, dead)
  }

  /** [[tombstonedAnn]] with an EXPLICIT dead set — the seam st64's
    * streamed tombstone state serves through, so batch and streaming
    * can never disagree about deletion semantics. */
  private[graft] def tombstonedAnnOf(s: SparkSession, d: String,
      dead: DataFrame): DataFrame = {
    val bucket = (1 to 8).map(i =>
      when(element_at(col("embedding"), i) > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)
    val emb = quantized(s, d).withColumn("bucket", bucket)
      .select(col("vec_id"), col("bucket"), col("q"))
    val live = emb.join(broadcast(dead.select(col("vec_id")).distinct()),
      Seq("vec_id"), "left_anti")
    val queries = live.where(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("bucket"), col("q").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    queries
      .join(live.withColumnRenamed("vec_id", "neighbor_id"), Seq("bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", dot(col("qv"), col("q")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  val tombstonedAnnSql: String = {
    val bucket = (1 to 8).map(i =>
      s"CASE WHEN embedding[$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END").mkString(" + ")
    s"""WITH q AS (
      |  SELECT vec_id, $bucket AS bucket,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings WHERE vec_id % 5 <> 3),
      |pairs AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS BIGINT) AS dot
      |  FROM q a JOIN q b ON b.bucket = a.bucket AND b.vec_id != a.vec_id
      |  WHERE a.vec_id < 50)
      |SELECT query_id, rank, neighbor_id, dot FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, neighbor_id ASC) AS rank
      |  FROM pairs)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  val signBucketAnnSql: String = {
    val bucket = (1 to 8).map(i =>
      s"CASE WHEN embedding[$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END").mkString(" + ")
    s"""WITH q AS (
      |  SELECT vec_id, $bucket AS bucket,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS BIGINT) AS dot
      |  FROM q a JOIN q b ON b.bucket = a.bucket AND b.vec_id != a.vec_id
      |  WHERE a.vec_id < 50)
      |SELECT query_id, rank, neighbor_id, dot FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, neighbor_id ASC) AS rank
      |  FROM pairs)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** s3 — IVF-style ANN: the `label` column acts as the coarse-quantizer
    * cell assignment (in production: argmin over trained centroids);
    * candidates come from the query's own cell (nprobe=1) via an equality
    * join on the cell id, then exact re-rank. The inverted-file shape:
    * probe cost is |cell|, not |corpus|. */
  def ivfAnn(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d)
      .select(col("vec_id"), col("label"), col("q"))
    val queries = emb.where(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("label"), col("q").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    queries
      .join(emb.withColumnRenamed("vec_id", "neighbor_id"), Seq("label"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", dot(col("qv"), col("q")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfAnnSql: String =
    s"""WITH q AS (
      |  SELECT vec_id, label,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS BIGINT) AS dot
      |  FROM q a JOIN q b ON b.label = a.label AND b.vec_id != a.vec_id
      |  WHERE a.vec_id < 50)
      |SELECT query_id, rank, neighbor_id, dot FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, neighbor_id ASC) AS rank
      |  FROM pairs)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** s4 — per-cell centroid statistics over the quantized vectors
    * (the training half of IVF): exact integer sums per (cell, dim). */
  def centroidStats(s: SparkSession, d: String): DataFrame =
    quantized(s, d)
      .select(col("label"), posexplode(slice(col("q"), 1, 8)).as(Seq("dim", "qv")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("qv")).as("sum_q"), count(lit(1)).as("n"))
      .orderBy(col("label"), col("dim"))

  val centroidStatsSql: String =
    """SELECT label, g.i - 1 AS dim,
      |  CAST(sum(CAST(round(CAST(embedding[g.i] AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS sum_q,
      |  count(*) AS n
      |FROM embeddings CROSS JOIN generate_series(1, 8) g(i)
      |GROUP BY label, g.i ORDER BY label, dim""".stripMargin

  /** Library-level cosine similarity (double) for callers that want the
    * float score rather than oracle-exact ranking. */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double")); val bd = transform(b, _.cast("double"))
    val dd = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(ad, lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(bd, lit(0.0), (acc, x) => acc + x * x))
    dd / (na * nb)
  }

  /** s5 — ANN recall evaluation: per query, how many of the exact top-3
    * (s1's brute force, restricted to rank ≤ 3) the sign-bucket index
    * (s2) returns. The eval harness every approximate index needs before
    * it replaces the exact scan — computed as a join of the two result
    * sets, so it reuses both operators verbatim and costs one extra
    * equi-join + groupBy over Q·k rows. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val exact = bruteForceTopK(s, d).where(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val approx = signBucketAnn(s, d).where(col("query_id") < 20)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(3).as("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy(col("query_id"))
  }

  val annRecallSql: String =
    s"""WITH exact AS (
      |  SELECT query_id, neighbor_id FROM ($bruteForceTopKSql) WHERE rank <= 3),
      |approx AS (
      |  SELECT query_id, neighbor_id FROM ($signBucketAnnSql) WHERE query_id < 20),
      |hits AS (
      |  SELECT query_id, count(*) AS n_hits
      |  FROM exact JOIN approx USING (query_id, neighbor_id) GROUP BY query_id)
      |SELECT q.query_id, 3 AS k, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits
      |FROM (SELECT DISTINCT query_id FROM exact) q LEFT JOIN hits USING (query_id)
      |ORDER BY q.query_id""".stripMargin

  /** s6 — IVF MULTI-PROBE (nprobe=2): rank cells by an integer-exact
    * distance between the query and each cell's centroid, probe the two
    * nearest cells, exact re-rank their members. The centroid is the
    * truncated integer mean per dimension — `sign(s)·(|s| floordiv n)`,
    * which both engines compute identically (floor-div of the absolute
    * value = truncation toward zero), so cell RANKING is deterministic
    * and engine-exact with no float distance anywhere. The cell-stats
    * table is the broadcastable s4 dimension; probe cost is 2·|cell|,
    * recall strictly dominates s3's nprobe=1 at twice the candidate
    * cost — the standard IVF recall/cost dial. */
  def ivfMultiProbe(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d).select(col("vec_id"), col("label"), col("q"))
    val cent = emb
      .select(col("label"), posexplode(slice(col("q"), 1, 8)).as(Seq("dim", "qv")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("qv")).as("sq"), count(lit(1)).as("n"))
      .withColumn("r", signum(col("sq")).cast("long") * expr("abs(sq) div n"))
      .select(col("dim"), col("label"), col("r"))
    val qdims = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"),
        posexplode(slice(col("q"), 1, 8)).as(Seq("dim", "qd")))
    val dist = qdims.join(broadcast(cent), "dim")
      .groupBy(col("query_id"), col("label"))
      .agg(sum((col("qd") - col("r")) * (col("qd") - col("r"))).as("dist"))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("label").asc)
    val probes = dist.withColumn("crank", row_number().over(wCell))
      .where(col("crank") <= 2)
      .select(col("query_id"), col("label"))
    val queries = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    probes.join(broadcast(queries), "query_id")
      .join(emb.withColumnRenamed("vec_id", "neighbor_id"), Seq("label"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", dot(col("qv"), col("q")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfMultiProbeSql: String =
    s"""WITH q AS (
      |  SELECT vec_id, label,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings),
      |cent AS (
      |  SELECT label, i AS dim,
      |    CAST(sign(sum(qv[i])) AS BIGINT) * (abs(CAST(sum(qv[i]) AS BIGINT)) // count(*)) AS r
      |  FROM q CROSS JOIN generate_series(1, 8) g(i)
      |  GROUP BY label, i),
      |qd AS (
      |  SELECT vec_id AS query_id, i AS dim, qv[i] AS qd
      |  FROM q CROSS JOIN generate_series(1, 8) g(i) WHERE vec_id < 20),
      |dist AS (
      |  SELECT query_id, label, sum((qd - r) * (qd - r)) AS dist
      |  FROM qd JOIN cent USING (dim) GROUP BY query_id, label),
      |probes AS (
      |  SELECT query_id, label FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY dist ASC, label ASC) AS crank FROM dist)
      |  WHERE crank <= 2),
      |pairs AS (
      |  SELECT p.query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS BIGINT) AS dot
      |  FROM probes p JOIN q a ON a.vec_id = p.query_id
      |  JOIN q b ON b.label = p.label AND b.vec_id != p.query_id)
      |SELECT query_id, rank, neighbor_id, dot FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, neighbor_id ASC) AS rank
      |  FROM pairs)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** s7 — PRODUCT QUANTIZATION (PQ) ANN, the FAISS-IVFPQ memory-scale
    * path: each 64-dim vector compresses to M=4 sub-codes (one per 16-dim
    * subspace, codebook k=4 per subspace trained by the same integer-exact
    * Lloyd pass as d9), and query distance is ADC — a lookup-table sum of
    * per-subspace distances to the CENTROID of each stored code, never to
    * the raw vector. At 100 TB this is why PQ wins: the corpus shrinks to
    * M small ints per vector, the query-side LUT is |queries|·M·k rows
    * (here 10·4·4 = 160 — a broadcast however big the corpus), and the
    * scan is one broadcast-hash join + groupBy(query, vector) sum.
    * Top-3 per query by (adc asc, neighbor asc), self excluded.
    *
    * Everything is integer arithmetic over 1e3-quantized subvectors, so
    * codebooks, codes and ADC scores are engine-exact (see d9's scaladoc
    * for the div/`//` parity contract). */
  def pqAnn(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    pqAdcTable(s, d)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s7's full ADC distance table (query_id, neighbor_id, adc) — shared
    * by the s7 gate and s15's two-stage refine. */
  private def pqAdcTable(s: SparkSession, d: String): DataFrame = {
    import graft.functions.DotProductL
    val q = Tables.embeddings(s, d).select(col("vec_id"),
      graft.core.Exact.quantize(col("embedding"), 1000).as("qv"))
    // subspace decomposition: (vec_id, m, sv) with sv = 16-dim slice
    val sub = q.select(col("vec_id"),
        explode(array((0 to 3).map(lit(_)): _*)).as("m"), col("qv"))
      .select(col("vec_id"), col("m"),
        expr("slice(qv, m*16+1, 16)").as("sv"))
      .withColumn("ss", DotProductL(col("sv"), col("sv")))

    // per-(vec,m) argmin over that subspace's k centroids (broadcast)
    def assign(centroids: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id"), col("m")).orderBy(
        col("ss") + col("cc") - lit(2L) * DotProductL(col("sv"), col("cv")),
        col("cell"))
      sub.join(broadcast(centroids), "m")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("sv"), col("ss"), col("cell"))
    }

    val c0 = sub.where(col("vec_id") < 4)
      .select(col("m"), col("vec_id").as("cell"), col("sv").as("cv"),
        col("ss").as("cc"))
    val a1 = assign(c0)
    // one Lloyd update per subspace (16 centroids total — tiny frame)
    val c1 = a1.select(col("m"), col("cell"), posexplode(col("sv")))
      .groupBy("m", "cell", "pos")
      .agg(expr("sum(col) div count(*)").as("v"))
      .groupBy("m", "cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        x => x.getField("v")).as("cv"))
      .withColumn("cc", DotProductL(col("cv"), col("cv")))
    // PQ encode: final code per (vector, subspace)
    val codes = assign(c1).select(col("vec_id"), col("m"), col("cell").as("code"))

    // ADC lookup table: query subvector → distance² to every centroid
    val lut = sub.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("m"), col("sv"), col("ss"))
      .join(c1, "m")
      .select(col("query_id"), col("m"), col("cell").as("code"),
        (col("ss") + col("cc") - lit(2L) * DotProductL(col("sv"), col("cv"))).as("d2"))
    codes.join(broadcast(lut), Seq("m", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d2")).as("adc"))
  }

  /** s15 — TWO-STAGE RETRIEVAL (retrieve + refine), the production
    * serving shape FAISS calls refinement: s7's compressed ADC scan
    * retrieves a 20-candidate shortlist per query (cheap, lossy), then
    * the shortlist alone is re-ranked with the EXACT integer dot product
    * on the full uncompressed vectors (expensive, tiny). At scale the
    * refine stage touches 20 vectors per query instead of the corpus —
    * the two-stage cost model that makes PQ usable for final ranking,
    * not just recall; and because both stages are deterministic, the
    * composed result stays oracle-exact. */
  def pqRefine(s: SparkSession, d: String): DataFrame = {
    import graft.functions.DotProductL
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    val short = pqAdcTable(s, d)
      .withColumn("srank", row_number().over(wShort))
      .where(col("srank") <= 20)
      .select(col("query_id"), col("neighbor_id"))
    val q = Tables.embeddings(s, d).select(col("vec_id"),
      graft.core.Exact.quantize(col("embedding"), 1000).as("qv"))
    val wFin = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    short
      .join(q.select(col("vec_id").as("query_id"), col("qv").as("q1")), "query_id")
      .join(q.select(col("vec_id").as("neighbor_id"), col("qv").as("q2")), "neighbor_id")
      .withColumn("dot", DotProductL(col("q1"), col("q2")))
      .withColumn("rank", row_number().over(wFin))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  val pqAnnSql: String = {
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    val assign = (from: String) =>
      s"""SELECT vec_id, m, sv, ss, cell FROM (
         |    SELECT e.vec_id, e.m, e.sv, e.ss, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id, e.m ORDER BY
         |        e.ss + c.cc - 2 * ${dot("e.sv", "c.cv")}, c.cell) AS rn
         |    FROM sub e JOIN $from c ON c.m = e.m)
         |  WHERE rn = 1""".stripMargin
    s"""WITH q AS (
      |  SELECT vec_id, ${graft.core.Exact.sqlQuantize("embedding", 1000)} AS qv
      |  FROM embeddings),
      |sub AS (
      |  SELECT vec_id, g.m, qv[g.m*16+1 : g.m*16+16] AS sv,
      |    ${dot("qv[g.m*16+1 : g.m*16+16]", "qv[g.m*16+1 : g.m*16+16]")} AS ss
      |  FROM q CROSS JOIN generate_series(0, 3) g(m)),
      |c0 AS (
      |  SELECT m, vec_id AS cell, sv AS cv, ss AS cc FROM sub WHERE vec_id < 4),
      |a1 AS (
      |  ${assign("c0")}),
      |c1d AS (
      |  SELECT m, cell, i, CAST(sum(v) AS BIGINT) // count(*) AS v
      |  FROM (SELECT m, cell, unnest(sv) AS v,
      |          unnest(generate_series(1, len(sv))) AS i FROM a1)
      |  GROUP BY m, cell, i),
      |c1 AS (
      |  SELECT m, cell, cv, ${dot("cv", "cv")} AS cc
      |  FROM (SELECT m, cell, list(v ORDER BY i) AS cv FROM c1d GROUP BY m, cell)),
      |codes AS (
      |  SELECT vec_id, m, cell AS code FROM (${assign("c1")})),
      |lut AS (
      |  SELECT s.vec_id AS query_id, c.m, c.cell AS code,
      |    s.ss + c.cc - 2 * ${dot("s.sv", "c.cv")} AS d2
      |  FROM sub s JOIN c1 c ON c.m = s.m WHERE s.vec_id < 10),
      |adc AS (
      |  SELECT l.query_id, d.vec_id AS neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc
      |  FROM codes d JOIN lut l ON l.m = d.m AND l.code = d.code
      |  WHERE d.vec_id != l.query_id
      |  GROUP BY l.query_id, d.vec_id)
      |SELECT query_id, rank, neighbor_id, adc FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc ASC, neighbor_id ASC) AS rank
      |  FROM adc)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** s15 oracle: s7's chain through `adc`, then shortlist + exact
    * re-rank. The chain is duplicated textually from [[pqAnnSql]] by
    * slicing at the final SELECT so the two can never diverge. */
  val pqRefineSql: String = {
    val chain = pqAnnSql.substring(0, pqAnnSql.indexOf("SELECT query_id, rank"))
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    s"""${chain.trim.stripSuffix(")")}),
      |short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc ASC, neighbor_id ASC) AS srank
      |    FROM adc)
      |  WHERE srank <= 20)
      |SELECT query_id, rank, neighbor_id, dot FROM (
      |  SELECT query_id, neighbor_id, dot,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY dot DESC, neighbor_id ASC) AS rank
      |  FROM (
      |    SELECT s.query_id, s.neighbor_id, ${dot("q1.qv", "q2.qv")} AS dot
      |    FROM short s
      |    JOIN q q1 ON q1.vec_id = s.query_id
      |    JOIN q q2 ON q2.vec_id = s.neighbor_id))
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** s8 — IVF-PQ, the full production FAISS shape composed from the two
    * pieces already proven alone: s6's cell shortlist (nprobe=2 by an
    * integer-exact truncated-mean centroid distance on the leading 8
    * dims) bounds WHICH vectors are scored, and s7's PQ/ADC bounds WHAT
    * is read per vector (4 sub-codes against a broadcast lookup table —
    * seed codebooks here; s7 carries the Lloyd update). At 100 TB this
    * pairing is the standard answer: probe cost is nprobe·|cell| code
    * rows, and neither raw vectors nor non-probed cells are touched in
    * the scan. Top-3 per query (vec_id < 10) by (adc asc, neighbor). */
  def ivfPq(s: SparkSession, d: String): DataFrame = ivfPqTopK(s, d, nprobe = 2)

  /** s8's body with the probe width exposed — s9 sweeps it. */
  private def ivfPqTopK(s: SparkSession, d: String, nprobe: Int,
      cb: Int = 4): DataFrame = {
    import graft.functions.DotProductL
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
        graft.core.Exact.quantize(col("embedding"), 1000).as("qv"))
      .withColumn("qq", DotProductL(col("qv"), col("qv")))
    // IVF side: GEOMETRIC cells — argmin over 8 full-dim seed centroids
    // (d9's recipe; an arbitrary class column is NOT a spatial partition
    // and would send queries to cells their neighbors aren't in)
    val cfull = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("vcell"), col("qv").as("cv"), col("qq").as("cc"))
    val wCellAssign = Window.partitionBy(col("vec_id")).orderBy(
      col("qq") + col("cc") - lit(2L) * DotProductL(col("qv"), col("cv")),
      col("vcell"))
    val cells = emb.crossJoin(broadcast(cfull))
      .withColumn("rn", row_number().over(wCellAssign))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("vcell"))
    // probe shortlist: same distance, nearest `nprobe` centroids
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("vcell").asc)
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qq").as("na"))
      .crossJoin(broadcast(cfull))
      .withColumn("dist",
        col("na") + col("cc") - lit(2L) * DotProductL(col("qa"), col("cv")))
      .withColumn("crank", row_number().over(wProbe))
      .where(col("crank") <= nprobe)
      .select(col("query_id"), col("vcell"))
    // PQ side: 4 × 16-dim subvectors, codes = argmin over the 4 seed
    // centroids per subspace (vec_id < 4)
    val sub = emb.select(col("vec_id"),
        explode(array((0 to 3).map(lit(_)): _*)).as("m"), col("qv"))
      .select(col("vec_id"), col("m"), expr("slice(qv, m*16+1, 16)").as("sv"))
      .withColumn("ss", DotProductL(col("sv"), col("sv")))
    val c0 = sub.where(col("vec_id") < cb)
      .select(col("m"), col("vec_id").as("cell"), col("sv").as("cv"), col("ss").as("cc"))
    val wAssign = Window.partitionBy(col("vec_id"), col("m")).orderBy(
      col("ss") + col("cc") - lit(2L) * DotProductL(col("sv"), col("cv")),
      col("cell"))
    def assignSub(cb: DataFrame): DataFrame = sub.join(broadcast(cb), "m")
      .withColumn("rn", row_number().over(wAssign))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("sv"), col("cell"))
    // one Lloyd round per subspace: TRAINED codebooks (the s9 sweep
    // showed seed codebooks, not probe width, bound recall)
    val c1 = assignSub(c0)
      .select(col("m"), col("cell"), posexplode(col("sv")))
      .groupBy("m", "cell", "pos")
      .agg(expr("sum(col) div count(*)").as("v"))
      .groupBy("m", "cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        x => x.getField("v")).as("cv"))
      .withColumn("cc", DotProductL(col("cv"), col("cv")))
    val codes = assignSub(c1)
      .select(col("vec_id"), col("m"), col("cell").as("code"))
      .join(cells, "vec_id")
    // ADC lookup table for the queries
    val lut = sub.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("m"), col("sv"), col("ss"))
      .join(broadcast(c1), "m")
      .select(col("query_id"), col("m"), col("cell").as("code"),
        (col("ss") + col("cc") - lit(2L) * DotProductL(col("sv"), col("cv"))).as("d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    codes.join(broadcast(probes), "vcell")
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d2")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfPqSql: String = ivfPqSqlFor(2)

  private def ivfPqSqlFor(nprobe: Int, cb: Int = 4): String = {
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    s"""WITH q AS (
      |  SELECT vec_id, ${graft.core.Exact.sqlQuantize("embedding", 1000)} AS qv
      |  FROM embeddings),
      |qn AS (SELECT vec_id, qv, ${dot("qv", "qv")} AS qq FROM q),
      |cfull AS (
      |  SELECT vec_id AS vcell, qv AS cv, qq AS cc FROM qn WHERE vec_id < 8),
      |cells AS (
      |  SELECT vec_id, vcell FROM (
      |    SELECT e.vec_id, c.vcell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        e.qq + c.cc - 2 * ${dot("e.qv", "c.cv")}, c.vcell) AS rn
      |    FROM qn e CROSS JOIN cfull c)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, vcell FROM (
      |    SELECT e.vec_id AS query_id, c.vcell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        e.qq + c.cc - 2 * ${dot("e.qv", "c.cv")}, c.vcell) AS crank
      |    FROM qn e CROSS JOIN cfull c WHERE e.vec_id < 10)
      |  WHERE crank <= $nprobe),
      |sub AS (
      |  SELECT vec_id, g.m, qv[g.m*16+1 : g.m*16+16] AS sv,
      |    ${dot("qv[g.m*16+1 : g.m*16+16]", "qv[g.m*16+1 : g.m*16+16]")} AS ss
      |  FROM q CROSS JOIN generate_series(0, 3) g(m)),
      |c0 AS (
      |  SELECT m, vec_id AS cell, sv AS cv, ss AS cc FROM sub WHERE vec_id < $cb),
      |a1 AS (
      |  SELECT vec_id, m, sv, cell FROM (
      |    SELECT e.vec_id, e.m, e.sv, c.cell,
      |      row_number() OVER (PARTITION BY e.vec_id, e.m ORDER BY
      |        e.ss + c.cc - 2 * ${dot("e.sv", "c.cv")}, c.cell) AS rn
      |    FROM sub e JOIN c0 c ON c.m = e.m)
      |  WHERE rn = 1),
      |c1d AS (
      |  SELECT m, cell, i, CAST(sum(v) AS BIGINT) // count(*) AS v
      |  FROM (SELECT m, cell, unnest(sv) AS v,
      |          unnest(generate_series(1, len(sv))) AS i FROM a1)
      |  GROUP BY m, cell, i),
      |c1 AS (
      |  SELECT m, cell, cv, ${dot("cv", "cv")} AS cc
      |  FROM (SELECT m, cell, list(v ORDER BY i) AS cv FROM c1d GROUP BY m, cell)),
      |codes AS (
      |  SELECT k.vec_id, k.m, k.code, cells.vcell FROM (
      |    SELECT vec_id, m, cell AS code FROM (
      |      SELECT e.vec_id, e.m, c.cell,
      |        row_number() OVER (PARTITION BY e.vec_id, e.m ORDER BY
      |          e.ss + c.cc - 2 * ${dot("e.sv", "c.cv")}, c.cell) AS rn
      |      FROM sub e JOIN c1 c ON c.m = e.m)
      |    WHERE rn = 1) k JOIN cells ON cells.vec_id = k.vec_id),
      |lut AS (
      |  SELECT s2.vec_id AS query_id, c.m, c.cell AS code,
      |    s2.ss + c.cc - 2 * ${dot("s2.sv", "c.cv")} AS d2
      |  FROM sub s2 JOIN c1 c ON c.m = s2.m WHERE s2.vec_id < 10),
      |adc AS (
      |  SELECT l.query_id, d.vec_id AS neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc
      |  FROM codes d
      |  JOIN probes p ON p.vcell = d.vcell
      |  JOIN lut l ON l.query_id = p.query_id AND l.m = d.m AND l.code = d.code
      |  WHERE d.vec_id != p.query_id
      |  GROUP BY l.query_id, d.vec_id)
      |SELECT query_id, rank, neighbor_id, adc FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc ASC, neighbor_id ASC) AS rank
      |  FROM adc)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** s10 — IVF-ADC with RESIDUAL encoding, the FAISS default refinement
    * over s8: PQ-encode each vector MINUS its cell centroid instead of
    * the raw vector. Residuals concentrate near the origin, so a fixed
    * code budget spends its resolution on the locally-informative part
    * of the vector — at production scale (k=256 codes, codebooks trained
    * on real samples) this is where most of FAISS's recall at fixed
    * bytes comes from. Measured honestly at fixture scale the s9 sweep
    * shows the OPPOSITE (recall 0.03 vs raw-PQ's 0.10): a single 4-code
    * residual codebook seeded from 4 residuals underfits the per-cell
    * residual distributions. That inversion is exactly what the sweep
    * exists to surface — the codebook budget, not the encoding scheme,
    * binds here. The query side mirrors it: the query's residual is
    * computed PER PROBED CELL (q − centroid(cell)), so the ADC lookup
    * table is keyed (query, cell, subspace, code) — nprobe·M·k rows per
    * query, still a broadcast however big the corpus. Residual vectors
    * are integer differences of 1e3-quantized vectors, so everything
    * stays engine-exact end-to-end. Scan cost is identical to s8:
    * nprobe·|cell| code rows, raw vectors never touched. */
  def ivfPqResidual(s: SparkSession, d: String): DataFrame =
    ivfPqResidualTopK(s, d, nprobe = 2)

  /** s10's body with the probe width exposed — s9 sweeps it. */
  private def ivfPqResidualTopK(s: SparkSession, d: String, nprobe: Int,
      cb: Int = 4): DataFrame = {
    import graft.functions.DotProductL
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
        graft.core.Exact.quantize(col("embedding"), 1000).as("qv"))
      .withColumn("qq", DotProductL(col("qv"), col("qv")))
    val cfull = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("vcell"), col("qv").as("cv"), col("qq").as("cc"))
    val wCellAssign = Window.partitionBy(col("vec_id")).orderBy(
      col("qq") + col("cc") - lit(2L) * DotProductL(col("qv"), col("cv")),
      col("vcell"))
    val cells = emb.crossJoin(broadcast(cfull))
      .withColumn("rn", row_number().over(wCellAssign))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("vcell"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("vcell").asc)
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qq").as("na"))
      .crossJoin(broadcast(cfull))
      .withColumn("dist",
        col("na") + col("cc") - lit(2L) * DotProductL(col("qa"), col("cv")))
      .withColumn("crank", row_number().over(wProbe))
      .where(col("crank") <= nprobe)
      .select(col("query_id"), col("vcell"))
    // residual per vector vs ITS cell centroid — exact integer differences
    val centDim = broadcast(cfull.select(col("vcell"), col("cv").as("ccv")))
    val resid = emb.join(cells, "vec_id").join(centDim, "vcell")
      .select(col("vec_id"), col("vcell"),
        zip_with(col("qv"), col("ccv"), (a, b) => a - b).as("rv"))
    val sub = resid.select(col("vec_id"),
        explode(array((0 to 3).map(lit(_)): _*)).as("m"), col("rv"))
      .select(col("vec_id"), col("m"), expr("slice(rv, m*16+1, 16)").as("sv"))
      .withColumn("ss", DotProductL(col("sv"), col("sv")))
    val c0 = sub.where(col("vec_id") < cb)
      .select(col("m"), col("vec_id").as("cell"), col("sv").as("cv"), col("ss").as("cc"))
    val wAssign = Window.partitionBy(col("vec_id"), col("m")).orderBy(
      col("ss") + col("cc") - lit(2L) * DotProductL(col("sv"), col("cv")),
      col("cell"))
    def assignSub(cb: DataFrame): DataFrame = sub.join(broadcast(cb), "m")
      .withColumn("rn", row_number().over(wAssign))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("sv"), col("cell"))
    val c1 = assignSub(c0)
      .select(col("m"), col("cell"), posexplode(col("sv")))
      .groupBy("m", "cell", "pos")
      .agg(expr("sum(col) div count(*)").as("v"))
      .groupBy("m", "cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        x => x.getField("v")).as("cv"))
      .withColumn("cc", DotProductL(col("cv"), col("cv")))
    val codes = assignSub(c1)
      .select(col("vec_id"), col("m"), col("cell").as("code"))
      .join(cells, "vec_id")
    // query residual PER PROBED CELL → ADC LUT keyed (query, cell, m, code)
    val qres = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv"))
      .join(probes, "query_id").join(centDim, "vcell")
      .select(col("query_id"), col("vcell"),
        zip_with(col("qv"), col("ccv"), (a, b) => a - b).as("rv"))
      .select(col("query_id"), col("vcell"),
        explode(array((0 to 3).map(lit(_)): _*)).as("m"), col("rv"))
      .select(col("query_id"), col("vcell"), col("m"),
        expr("slice(rv, m*16+1, 16)").as("sv"))
      .withColumn("ss", DotProductL(col("sv"), col("sv")))
    val lut = qres.join(broadcast(c1), "m")
      .select(col("query_id"), col("vcell"), col("m"), col("cell").as("code"),
        (col("ss") + col("cc") - lit(2L) * DotProductL(col("sv"), col("cv"))).as("d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    codes.join(broadcast(lut), Seq("vcell", "m", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d2")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfPqResidualSql: String = ivfPqResidualSqlFor(2)

  /** s12 — PER-CELL residual codebooks, the dial s11's measurement
    * named: instead of one residual codebook shared across all IVF
    * cells, each (cell, subspace) trains its own (seeds = the cb
    * lowest-id members of the cell, code = per-cell seed rank, one Lloyd
    * round). Residual distributions differ per cell, so this is where
    * residual encoding's theoretical win has to show up if it shows at
    * all — and it DOES: s11's sweep measures 0.13/0.27 recall@3 at 4/8
    * codes versus raw PQ's 0.10/0.20 and shared-residual's flat 0.03,
    * reproducing the FAISS claim end-to-end from measurement (s9 found
    * the underfit, s11 isolated the shared codebook as the binder, this
    * closes it). State stays bounded: cells·M·cb codebook rows (a broadcast),
    * LUT = queries·nprobe·M·cb rows; the scan is unchanged —
    * nprobe·|cell| code rows, raw vectors untouched. */
  def ivfPqResidualPerCell(s: SparkSession, d: String): DataFrame =
    ivfPqResidualPerCellTopK(s, d, nprobe = 2)

  private def ivfPqResidualPerCellTopK(s: SparkSession, d: String,
      nprobe: Int, cb: Int = 4): DataFrame = {
    import graft.functions.DotProductL
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
        graft.core.Exact.quantize(col("embedding"), 1000).as("qv"))
      .withColumn("qq", DotProductL(col("qv"), col("qv")))
    val cfull = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("vcell"), col("qv").as("cv"), col("qq").as("cc"))
    val wCellAssign = Window.partitionBy(col("vec_id")).orderBy(
      col("qq") + col("cc") - lit(2L) * DotProductL(col("qv"), col("cv")),
      col("vcell"))
    val cells = emb.crossJoin(broadcast(cfull))
      .withColumn("rn", row_number().over(wCellAssign))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("vcell"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("vcell").asc)
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qq").as("na"))
      .crossJoin(broadcast(cfull))
      .withColumn("dist",
        col("na") + col("cc") - lit(2L) * DotProductL(col("qa"), col("cv")))
      .withColumn("crank", row_number().over(wProbe))
      .where(col("crank") <= nprobe)
      .select(col("query_id"), col("vcell"))
    val centDim = broadcast(cfull.select(col("vcell"), col("cv").as("ccv")))
    val resid = emb.join(cells, "vec_id").join(centDim, "vcell")
      .select(col("vec_id"), col("vcell"),
        zip_with(col("qv"), col("ccv"), (a, b) => a - b).as("rv"))
    val sub = resid.select(col("vec_id"), col("vcell"),
        explode(array((0 to 3).map(lit(_)): _*)).as("m"), col("rv"))
      .select(col("vec_id"), col("vcell"), col("m"),
        expr("slice(rv, m*16+1, 16)").as("sv"))
      .withColumn("ss", DotProductL(col("sv"), col("sv")))
    // per-(cell, subspace) seeds: the cb lowest-id members of the cell,
    // code = the seed's per-cell rank (1..cb)
    val wSeed = Window.partitionBy(col("vcell"), col("m")).orderBy(col("vec_id"))
    val c0 = sub.withColumn("cell", row_number().over(wSeed))
      .where(col("cell") <= cb)
      .select(col("vcell"), col("m"), col("cell"), col("sv").as("cv"),
        col("ss").as("cc"))
    val wAssign = Window.partitionBy(col("vec_id"), col("m")).orderBy(
      col("ss") + col("cc") - lit(2L) * DotProductL(col("sv"), col("cv")),
      col("cell"))
    def assignSub(cbk: DataFrame): DataFrame =
      sub.join(broadcast(cbk), Seq("vcell", "m"))
        .withColumn("rn", row_number().over(wAssign))
        .where(col("rn") === 1)
        .select(col("vec_id"), col("vcell"), col("m"), col("sv"), col("cell"))
    val c1 = assignSub(c0)
      .select(col("vcell"), col("m"), col("cell"), posexplode(col("sv")))
      .groupBy("vcell", "m", "cell", "pos")
      .agg(expr("sum(col) div count(*)").as("v"))
      .groupBy("vcell", "m", "cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        x => x.getField("v")).as("cv"))
      .withColumn("cc", DotProductL(col("cv"), col("cv")))
    val codes = assignSub(c1)
      .select(col("vec_id"), col("vcell"), col("m"), col("cell").as("code"))
    val qres = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv"))
      .join(probes, "query_id").join(centDim, "vcell")
      .select(col("query_id"), col("vcell"),
        zip_with(col("qv"), col("ccv"), (a, b) => a - b).as("rv"))
      .select(col("query_id"), col("vcell"),
        explode(array((0 to 3).map(lit(_)): _*)).as("m"), col("rv"))
      .select(col("query_id"), col("vcell"), col("m"),
        expr("slice(rv, m*16+1, 16)").as("sv"))
      .withColumn("ss", DotProductL(col("sv"), col("sv")))
    val lut = qres.join(broadcast(c1), Seq("vcell", "m"))
      .select(col("query_id"), col("vcell"), col("m"), col("cell").as("code"),
        (col("ss") + col("cc") - lit(2L) * DotProductL(col("sv"), col("cv"))).as("d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    codes.join(broadcast(lut), Seq("vcell", "m", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d2")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfPqResidualPerCellSql: String = ivfPqResidualPerCellSqlFor(2)

  private def ivfPqResidualPerCellSqlFor(nprobe: Int, cb: Int = 4): String = {
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    s"""WITH q AS (
      |  SELECT vec_id, ${graft.core.Exact.sqlQuantize("embedding", 1000)} AS qv
      |  FROM embeddings),
      |qn AS (SELECT vec_id, qv, ${dot("qv", "qv")} AS qq FROM q),
      |cfull AS (
      |  SELECT vec_id AS vcell, qv AS cv, qq AS cc FROM qn WHERE vec_id < 8),
      |cells AS (
      |  SELECT vec_id, vcell FROM (
      |    SELECT e.vec_id, c.vcell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        e.qq + c.cc - 2 * ${dot("e.qv", "c.cv")}, c.vcell) AS rn
      |    FROM qn e CROSS JOIN cfull c)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, vcell FROM (
      |    SELECT e.vec_id AS query_id, c.vcell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        e.qq + c.cc - 2 * ${dot("e.qv", "c.cv")}, c.vcell) AS crank
      |    FROM qn e CROSS JOIN cfull c WHERE e.vec_id < 10)
      |  WHERE crank <= $nprobe),
      |resid AS (
      |  SELECT e.vec_id, cells.vcell,
      |    list_transform(list_zip(e.qv, c.cv), z -> z[1] - z[2]) AS rv
      |  FROM qn e JOIN cells ON cells.vec_id = e.vec_id
      |  JOIN cfull c ON c.vcell = cells.vcell),
      |sub AS (
      |  SELECT vec_id, vcell, g.m, rv[g.m*16+1 : g.m*16+16] AS sv,
      |    ${dot("rv[g.m*16+1 : g.m*16+16]", "rv[g.m*16+1 : g.m*16+16]")} AS ss
      |  FROM resid CROSS JOIN generate_series(0, 3) g(m)),
      |c0 AS (
      |  SELECT vcell, m, cell, sv AS cv, ss AS cc FROM (
      |    SELECT vcell, m, sv, ss,
      |      row_number() OVER (PARTITION BY vcell, m ORDER BY vec_id) AS cell
      |    FROM sub)
      |  WHERE cell <= $cb),
      |a1 AS (
      |  SELECT vec_id, vcell, m, sv, ss, cell FROM (
      |    SELECT e.vec_id, e.vcell, e.m, e.sv, e.ss, c.cell,
      |      row_number() OVER (PARTITION BY e.vec_id, e.m ORDER BY
      |        e.ss + c.cc - 2 * ${dot("e.sv", "c.cv")}, c.cell) AS rn
      |    FROM sub e JOIN c0 c ON c.vcell = e.vcell AND c.m = e.m)
      |  WHERE rn = 1),
      |c1d AS (
      |  SELECT vcell, m, cell, i, CAST(sum(v) AS BIGINT) // count(*) AS v
      |  FROM (SELECT vcell, m, cell, unnest(sv) AS v,
      |          unnest(generate_series(1, len(sv))) AS i FROM a1)
      |  GROUP BY vcell, m, cell, i),
      |c1 AS (
      |  SELECT vcell, m, cell, cv, ${dot("cv", "cv")} AS cc
      |  FROM (SELECT vcell, m, cell, list(v ORDER BY i) AS cv
      |        FROM c1d GROUP BY vcell, m, cell)),
      |codes AS (
      |  SELECT vec_id, vcell, m, cell AS code FROM (
      |    SELECT e.vec_id, e.vcell, e.m, c.cell,
      |      row_number() OVER (PARTITION BY e.vec_id, e.m ORDER BY
      |        e.ss + c.cc - 2 * ${dot("e.sv", "c.cv")}, c.cell) AS rn
      |    FROM sub e JOIN c1 c ON c.vcell = e.vcell AND c.m = e.m)
      |  WHERE rn = 1),
      |qres0 AS (
      |  SELECT p.query_id, p.vcell,
      |    list_transform(list_zip(e.qv, c.cv), z -> z[1] - z[2]) AS rv
      |  FROM probes p JOIN qn e ON e.vec_id = p.query_id
      |  JOIN cfull c ON c.vcell = p.vcell),
      |qres AS (
      |  SELECT query_id, vcell, g.m, rv[g.m*16+1 : g.m*16+16] AS sv,
      |    ${dot("rv[g.m*16+1 : g.m*16+16]", "rv[g.m*16+1 : g.m*16+16]")} AS ss
      |  FROM qres0 CROSS JOIN generate_series(0, 3) g(m)),
      |lut AS (
      |  SELECT s2.query_id, s2.vcell, c.m, c.cell AS code,
      |    s2.ss + c.cc - 2 * ${dot("s2.sv", "c.cv")} AS d2
      |  FROM qres s2 JOIN c1 c ON c.vcell = s2.vcell AND c.m = s2.m),
      |adc AS (
      |  SELECT l.query_id, d.vec_id AS neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc
      |  FROM codes d
      |  JOIN lut l ON l.vcell = d.vcell AND l.m = d.m AND l.code = d.code
      |  WHERE d.vec_id != l.query_id
      |  GROUP BY l.query_id, d.vec_id)
      |SELECT query_id, rank, neighbor_id, adc FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc ASC, neighbor_id ASC) AS rank
      |  FROM adc)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  private def ivfPqResidualSqlFor(nprobe: Int, cb: Int = 4): String = {
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    s"""WITH q AS (
      |  SELECT vec_id, ${graft.core.Exact.sqlQuantize("embedding", 1000)} AS qv
      |  FROM embeddings),
      |qn AS (SELECT vec_id, qv, ${dot("qv", "qv")} AS qq FROM q),
      |cfull AS (
      |  SELECT vec_id AS vcell, qv AS cv, qq AS cc FROM qn WHERE vec_id < 8),
      |cells AS (
      |  SELECT vec_id, vcell FROM (
      |    SELECT e.vec_id, c.vcell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        e.qq + c.cc - 2 * ${dot("e.qv", "c.cv")}, c.vcell) AS rn
      |    FROM qn e CROSS JOIN cfull c)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, vcell FROM (
      |    SELECT e.vec_id AS query_id, c.vcell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        e.qq + c.cc - 2 * ${dot("e.qv", "c.cv")}, c.vcell) AS crank
      |    FROM qn e CROSS JOIN cfull c WHERE e.vec_id < 10)
      |  WHERE crank <= $nprobe),
      |resid AS (
      |  SELECT e.vec_id, cells.vcell,
      |    list_transform(list_zip(e.qv, c.cv), z -> z[1] - z[2]) AS rv
      |  FROM qn e JOIN cells ON cells.vec_id = e.vec_id
      |  JOIN cfull c ON c.vcell = cells.vcell),
      |sub AS (
      |  SELECT vec_id, g.m, rv[g.m*16+1 : g.m*16+16] AS sv,
      |    ${dot("rv[g.m*16+1 : g.m*16+16]", "rv[g.m*16+1 : g.m*16+16]")} AS ss
      |  FROM resid CROSS JOIN generate_series(0, 3) g(m)),
      |c0 AS (
      |  SELECT m, vec_id AS cell, sv AS cv, ss AS cc FROM sub WHERE vec_id < $cb),
      |a1 AS (
      |  SELECT vec_id, m, sv, cell FROM (
      |    SELECT e.vec_id, e.m, e.sv, c.cell,
      |      row_number() OVER (PARTITION BY e.vec_id, e.m ORDER BY
      |        e.ss + c.cc - 2 * ${dot("e.sv", "c.cv")}, c.cell) AS rn
      |    FROM sub e JOIN c0 c ON c.m = e.m)
      |  WHERE rn = 1),
      |c1d AS (
      |  SELECT m, cell, i, CAST(sum(v) AS BIGINT) // count(*) AS v
      |  FROM (SELECT m, cell, unnest(sv) AS v,
      |          unnest(generate_series(1, len(sv))) AS i FROM a1)
      |  GROUP BY m, cell, i),
      |c1 AS (
      |  SELECT m, cell, cv, ${dot("cv", "cv")} AS cc
      |  FROM (SELECT m, cell, list(v ORDER BY i) AS cv FROM c1d GROUP BY m, cell)),
      |codes AS (
      |  SELECT k.vec_id, k.m, k.code, cells.vcell FROM (
      |    SELECT vec_id, m, cell AS code FROM (
      |      SELECT e.vec_id, e.m, c.cell,
      |        row_number() OVER (PARTITION BY e.vec_id, e.m ORDER BY
      |          e.ss + c.cc - 2 * ${dot("e.sv", "c.cv")}, c.cell) AS rn
      |      FROM sub e JOIN c1 c ON c.m = e.m)
      |    WHERE rn = 1) k JOIN cells ON cells.vec_id = k.vec_id),
      |qres0 AS (
      |  SELECT p.query_id, p.vcell,
      |    list_transform(list_zip(e.qv, c.cv), z -> z[1] - z[2]) AS rv
      |  FROM probes p JOIN qn e ON e.vec_id = p.query_id
      |  JOIN cfull c ON c.vcell = p.vcell),
      |qres AS (
      |  SELECT query_id, vcell, g.m, rv[g.m*16+1 : g.m*16+16] AS sv,
      |    ${dot("rv[g.m*16+1 : g.m*16+16]", "rv[g.m*16+1 : g.m*16+16]")} AS ss
      |  FROM qres0 CROSS JOIN generate_series(0, 3) g(m)),
      |lut AS (
      |  SELECT s2.query_id, s2.vcell, c.m, c.cell AS code,
      |    s2.ss + c.cc - 2 * ${dot("s2.sv", "c.cv")} AS d2
      |  FROM qres s2 JOIN c1 c ON c.m = s2.m),
      |adc AS (
      |  SELECT l.query_id, d.vec_id AS neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc
      |  FROM codes d
      |  JOIN lut l ON l.vcell = d.vcell AND l.m = d.m AND l.code = d.code
      |  WHERE d.vec_id != l.query_id
      |  GROUP BY l.query_id, d.vec_id)
      |SELECT query_id, rank, neighbor_id, adc FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc ASC, neighbor_id ASC) AS rank
      |  FROM adc)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** s9 — PQ RECALL SWEEP: recall@3 of s8's IVF-PQ against the EXACT
    * L2 top-3 (same 1e3 quantization) for nprobe ∈ {1, 2, 4} — the
    * measurement that turns the nprobe dial from folklore into data.
    * Note what it shows at this codebook size (4 codes/subspace): CELL
    * recall grows with nprobe, but post-ADC top-3 need not — wider
    * probing admits more candidates whose coarsely-quantized distances
    * beat true neighbors, so the curve exposes when the codebook (not
    * the probe width) is the binding constraint. That diagnosis is
    * exactly what the sweep is for. Extended round 6: every probe width
    * runs BOTH encodings — s8's raw-vector PQ and s10's residual PQ —
    * so the residual-encoding recall claim is measured, not assumed.
    * One exact baseline pass + six shortlist-scored passes, all
    * integer-exact. */
  def pqRecallSweep(s: SparkSession, d: String): DataFrame = {
    import graft.functions.DotProductL
    val qn = Tables.embeddings(s, d).select(col("vec_id"),
        graft.core.Exact.quantize(col("embedding"), 1000).as("qv"))
      .withColumn("qq", DotProductL(col("qv"), col("qv")))
    val queries = qn.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qq").as("na"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("neighbor_id").asc)
    val exact = broadcast(queries)
      .join(qn.withColumnRenamed("vec_id", "neighbor_id"),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("l2",
        col("na") + col("qq") - lit(2L) * DotProductL(col("qa"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val sweeps = Seq(1, 2, 4).flatMap { np => Seq(
      ivfPqTopK(s, d, np).select(lit("pq").as("variant"),
        lit(np).as("nprobe"), col("query_id"), col("neighbor_id")),
      ivfPqResidualTopK(s, d, np).select(lit("residual").as("variant"),
        lit(np).as("nprobe"), col("query_id"), col("neighbor_id")))
    }.reduce(_ union _)
    val hits = exact.join(sweeps, Seq("query_id", "neighbor_id"))
      .groupBy(col("variant"), col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
    import s.implicits._
    val grid = Seq("pq", "residual").flatMap(v => Seq(1, 2, 4).map((v, _)))
      .toDF("variant", "nprobe")
    exact.select(col("query_id")).distinct()
      .crossJoin(broadcast(grid))
      .join(hits, Seq("variant", "nprobe", "query_id"), "left")
      .select(col("variant"), col("nprobe"), col("query_id"), lit(3).as("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy(col("variant"), col("nprobe"), col("query_id"))
  }

  val pqRecallSweepSql: String = {
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    val sweeps = Seq(1, 2, 4).flatMap(np => Seq(
      s"SELECT 'pq' AS variant, $np AS nprobe, query_id, neighbor_id FROM (${ivfPqSqlFor(np)})",
      s"SELECT 'residual' AS variant, $np AS nprobe, query_id, neighbor_id FROM (${ivfPqResidualSqlFor(np)})"))
      .mkString("\n  UNION ALL ")
    s"""WITH qn AS (
      |  SELECT vec_id, ${graft.core.Exact.sqlQuantize("embedding", 1000)} AS qv
      |  FROM embeddings),
      |qn2 AS (SELECT vec_id, qv, ${dot("qv", "qv")} AS qq FROM qn),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        a.qq + b.qq - 2 * ${dot("a.qv", "b.qv")} ASC, b.vec_id ASC) AS r
      |    FROM qn2 a JOIN qn2 b ON b.vec_id != a.vec_id
      |    WHERE a.vec_id < 10)
      |  WHERE r <= 3),
      |sw AS (
      |  $sweeps),
      |hits AS (
      |  SELECT variant, nprobe, query_id, count(*) AS n_hits
      |  FROM exact JOIN sw USING (query_id, neighbor_id)
      |  GROUP BY variant, nprobe, query_id)
      |SELECT np.variant, np.nprobe, q.query_id, 3 AS k,
      |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits
      |FROM (SELECT DISTINCT query_id FROM exact) q
      |CROSS JOIN (VALUES ('pq', 1), ('pq', 2), ('pq', 4),
      |  ('residual', 1), ('residual', 2), ('residual', 4)) np(variant, nprobe)
      |LEFT JOIN hits ON hits.variant = np.variant
      |  AND hits.nprobe = np.nprobe AND hits.query_id = q.query_id
      |ORDER BY np.variant, np.nprobe, q.query_id""".stripMargin
  }

  /** s11 — CODEBOOK CAPACITY SWEEP: recall@3 of raw-PQ vs residual-PQ at
    * nprobe=2 as the per-subspace codebook grows (4 → 8 → 16 codes) — the
    * follow-up measurement to s9's finding that the 4-code residual
    * codebook underfits. The claim "residuals win at capacity" is a
    * hypothesis until this table says so at a given size; whichever way
    * it lands, the pipeline picks encodings from measured rows (the
    * measure-don't-guess contract, third application after s9/d18).
    * Same exact-L2 baseline as s9. Measured at sf0.01: raw PQ doubles
    * (0.10 → 0.20 recall@3) from 4 to 8 codes while residual stays flat
    * at 0.03 — so here it is the SHARED-across-cells residual codebook,
    * not its size, that binds; per-cell codebooks are the next dial. */
  def codebookSweep(s: SparkSession, d: String): DataFrame = {
    import graft.functions.DotProductL
    val qn = Tables.embeddings(s, d).select(col("vec_id"),
        graft.core.Exact.quantize(col("embedding"), 1000).as("qv"))
      .withColumn("qq", DotProductL(col("qv"), col("qv")))
    val queries = qn.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qq").as("na"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("neighbor_id").asc)
    val exact = broadcast(queries)
      .join(qn.withColumnRenamed("vec_id", "neighbor_id"),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("l2",
        col("na") + col("qq") - lit(2L) * DotProductL(col("qa"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val sweeps = Seq(4, 8, 16).flatMap { cb => Seq(
      ivfPqTopK(s, d, 2, cb).select(lit("pq").as("variant"),
        lit(cb).as("codes"), col("query_id"), col("neighbor_id")),
      ivfPqResidualTopK(s, d, 2, cb).select(lit("residual").as("variant"),
        lit(cb).as("codes"), col("query_id"), col("neighbor_id")),
      ivfPqResidualPerCellTopK(s, d, 2, cb).select(lit("residual_percell").as("variant"),
        lit(cb).as("codes"), col("query_id"), col("neighbor_id")))
    }.reduce(_ union _)
    val hits = exact.join(sweeps, Seq("query_id", "neighbor_id"))
      .groupBy(col("variant"), col("codes"), col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
    import s.implicits._
    val grid = Seq("pq", "residual", "residual_percell")
      .flatMap(v => Seq(4, 8, 16).map((v, _)))
      .toDF("variant", "codes")
    exact.select(col("query_id")).distinct()
      .crossJoin(broadcast(grid))
      .join(hits, Seq("variant", "codes", "query_id"), "left")
      .select(col("variant"), col("codes"), col("query_id"), lit(3).as("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy(col("variant"), col("codes"), col("query_id"))
  }

  val codebookSweepSql: String = {
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    val sweeps = Seq(4, 8, 16).flatMap(cb => Seq(
      s"SELECT 'pq' AS variant, $cb AS codes, query_id, neighbor_id FROM (${ivfPqSqlFor(2, cb)})",
      s"SELECT 'residual' AS variant, $cb AS codes, query_id, neighbor_id FROM (${ivfPqResidualSqlFor(2, cb)})",
      s"SELECT 'residual_percell' AS variant, $cb AS codes, query_id, neighbor_id FROM (${ivfPqResidualPerCellSqlFor(2, cb)})"))
      .mkString("\n  UNION ALL ")
    val gridVals = Seq("pq", "residual", "residual_percell")
      .flatMap(v => Seq(4, 8, 16).map(cb => s"('$v', $cb)")).mkString(", ")
    s"""WITH qn AS (
      |  SELECT vec_id, ${graft.core.Exact.sqlQuantize("embedding", 1000)} AS qv
      |  FROM embeddings),
      |qn2 AS (SELECT vec_id, qv, ${dot("qv", "qv")} AS qq FROM qn),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        a.qq + b.qq - 2 * ${dot("a.qv", "b.qv")} ASC, b.vec_id ASC) AS r
      |    FROM qn2 a JOIN qn2 b ON b.vec_id != a.vec_id
      |    WHERE a.vec_id < 10)
      |  WHERE r <= 3),
      |sw AS (
      |  $sweeps),
      |hits AS (
      |  SELECT variant, codes, query_id, count(*) AS n_hits
      |  FROM exact JOIN sw USING (query_id, neighbor_id)
      |  GROUP BY variant, codes, query_id)
      |SELECT np.variant, np.codes, q.query_id, 3 AS k,
      |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits
      |FROM (SELECT DISTINCT query_id FROM exact) q
      |CROSS JOIN (VALUES $gridVals) np(variant, codes)
      |LEFT JOIN hits ON hits.variant = np.variant
      |  AND hits.codes = np.codes AND hits.query_id = q.query_id
      |ORDER BY np.variant, np.codes, q.query_id""".stripMargin
  }

  /** s13 — k-NN GRAPH CONSTRUCTION over ALL vectors (not a query set):
    * per vector, the top-3 inner-product neighbours among candidates from
    * its own sign bucket UNION the 8 Hamming-distance-1 probe buckets —
    * the blocked all-pairs primitive that SemDeDup clustering, kNN-graph
    * community detection, and HNSW-style index builds all start from.
    * Multiprobe lives on the QUERY side only (explode to 9 bucket keys);
    * the index side keeps each vector in exactly one bucket, so the probe
    * join is a plain equi-join and each (vector, neighbour) pair can
    * match at most once — no post-join dedup. Pair work is
    * ~9·N²/2^bits; at 100 TB the dial is the bit count (and a banked
    * hash family), never a crossJoin — the same contract as s2, applied
    * corpus-wide. */
  def knnGraph(s: SparkSession, d: String): DataFrame = {
    val bucket = (1 to 8).map(i =>
      when(element_at(col("embedding"), i) > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)
    val emb = quantized(s, d).withColumn("bucket", bucket)
      .select(col("vec_id"), col("bucket"), col("q"))
    val probeKeys = col("bucket") +: (0 until 8).map(j =>
      col("bucket").bitwiseXOR(lit(1 << j)))
    val probes = emb.select(col("vec_id"), col("q"),
      explode(array(probeKeys: _*)).as("bucket"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    probes
      .join(emb.select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("q").as("nq")), Seq("bucket"))
      .where(col("neighbor_id") =!= col("vec_id"))
      .withColumn("dot", dot(col("q"), col("nq")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("vec_id"), col("rank"), col("neighbor_id"), col("dot"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** s14 — K-NN-GRAPH RECALL SWEEP: s13's blocked construction measured
    * against the exact all-pairs top-3 graph, one row per multiprobe
    * radius r ∈ {0,1,2} (1 / 9 / 37 probe buckets). The measured table
    * behind s13's Hamming-1 default: radius 0 is the cheap-but-lossy
    * floor, radius 2 the diminishing-returns ceiling. The exact truth is
    * O(N²) and exists ONLY at eval scale (the same contract as s5/s9/
    * d18's truth arms); the blocked arms are the production shape whose
    * pair work scales as probes·N²/2^bits. Index side keeps one bucket
    * per vector, so every probe join is a plain equi-join and a
    * (vector, neighbour) pair matches at most once per radius — no
    * post-join dedup at any radius. */
  def knnGraphRecallSweep(s: SparkSession, d: String): DataFrame =
    knnGraphRecallSweep(s, d, reliableEvery = 0)

  /** `reliableEvery > 0` routes the two lineage pins below (the shared
    * quantized index and the exact-truth arm) through the reliable
    * checkpoint store ([[graft.core.Iterate.save]]) instead of
    * executor-local blocks — the truth arm is the O(N²) piece a sweep
    * at eval scale cannot afford to lose to one preempted executor. */
  def knnGraphRecallSweep(s: SparkSession, d: String, reliableEvery: Int): DataFrame = {
    def save(df: DataFrame, round: Int): DataFrame =
      graft.core.Iterate.save(df, reliableEvery, round)
    val bucketExpr = (1 to 8).map(i =>
      when(element_at(col("embedding"), i) > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)
    val emb = save(quantized(s, d).withColumn("bucket", bucketExpr)
      .select(col("vec_id"), col("bucket"), col("q")), 0)
    val idx = emb.select(col("vec_id").as("neighbor_id"),
      col("bucket").as("nbucket"), col("q").as("nq"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    def top3(pairs: DataFrame): DataFrame = pairs
      .withColumn("dot", dot(col("q"), col("nq")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("vec_id"), col("neighbor_id"))
    val exact = save(top3(broadcast(emb.select(col("vec_id"), col("q")))
      .join(idx, col("neighbor_id") =!= col("vec_id"))), 1)
    val hits = Seq(0 -> 1, 1 -> 9, 2 -> 37).map { case (r, nProbes) =>
      val keys: Seq[Column] = col("bucket") +: (
        (if (r >= 1) (0 until 8).map(j => col("bucket").bitwiseXOR(lit(1 << j)))
         else Seq.empty[Column]) ++
        (if (r >= 2) for { i <- 0 until 8; j <- i + 1 until 8 }
           yield col("bucket").bitwiseXOR(lit((1 << i) | (1 << j)))
         else Seq.empty[Column]))
      val probes = emb.select(col("vec_id"), col("q"),
        explode(array(keys: _*)).as("nbucket"))
      val blocked = top3(probes.join(idx, Seq("nbucket"))
        .where(col("neighbor_id") =!= col("vec_id")))
      blocked.join(exact, Seq("vec_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(r).as("radius"), lit(nProbes).as("n_probes"), col("n_hits"))
    }.reduce(_ union _)
    hits.crossJoin(broadcast(exact.agg(count(lit(1)).as("n_truth"))))
      .select(col("radius"), col("n_probes"), col("n_hits"),
        coalesce(expr("(1000 * n_hits) div nullif(n_truth, 0)"), lit(0L))
          .cast("long").as("recall_permille"))
      .orderBy(col("radius"))
  }

  val knnGraphRecallSweepSql: String = {
    val bucket = (1 to 8).map(i =>
      s"CASE WHEN embedding[$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END").mkString(" + ")
    def probeList(r: Int): String =
      ("bucket" +:
        ((if (r >= 1) (0 until 8).map(j => s"xor(bucket, ${1 << j})") else Seq.empty) ++
         (if (r >= 2) for { i <- 0 until 8; j <- i + 1 until 8 }
            yield s"xor(bucket, ${(1 << i) | (1 << j)})"
          else Seq.empty))).mkString(", ")
    def blockedCte(r: Int): String =
      s"""b$r AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT pr.vec_id, i.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY pr.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(pr.qv, i.qv), z -> z[1] * z[2])) DESC,
        |        i.vec_id ASC) AS rank
        |    FROM (SELECT vec_id, qv, unnest([${probeList(r)}]) AS bucket FROM q) pr
        |    JOIN q i ON i.bucket = pr.bucket AND i.vec_id != pr.vec_id)
        |  WHERE rank <= 3)""".stripMargin
    s"""WITH q AS (
      |  SELECT vec_id, $bucket AS bucket,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings),
      |exact AS (
      |  SELECT vec_id, neighbor_id FROM (
      |    SELECT a.vec_id, b.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) DESC,
      |        b.vec_id ASC) AS rank
      |    FROM q a JOIN q b ON b.vec_id != a.vec_id)
      |  WHERE rank <= 3),
      |${blockedCte(0)},
      |${blockedCte(1)},
      |${blockedCte(2)},
      |hits AS (
      |  SELECT 0 AS radius, 1 AS n_probes,
      |    (SELECT count(*) FROM b0 JOIN exact USING (vec_id, neighbor_id)) AS n_hits
      |  UNION ALL SELECT 1, 9,
      |    (SELECT count(*) FROM b1 JOIN exact USING (vec_id, neighbor_id))
      |  UNION ALL SELECT 2, 37,
      |    (SELECT count(*) FROM b2 JOIN exact USING (vec_id, neighbor_id)))
      |SELECT radius, n_probes, CAST(n_hits AS BIGINT) AS n_hits,
      |  CAST(coalesce((1000 * n_hits) // nullif(
      |    (SELECT count(*) FROM exact), 0), 0) AS BIGINT) AS recall_permille
      |FROM hits ORDER BY radius""".stripMargin
  }

  /** s20 — BEAM SEARCH OVER THE kNN GRAPH (the graph-ANN query path:
    * HNSW/NSG serve queries by WALKING a neighbor graph, not by probing
    * buckets — s13 built exactly such a graph; this is the read side
    * that makes it an index). From one deterministic entry point (the
    * min vec_id), each of R=3 bounded rounds expands the current beam's
    * graph neighbors, drops already-visited nodes per query (the
    * visited-set anti-join every graph-ANN implementation carries),
    * scores the fresh ones exactly (integer dot), and keeps the best
    * B=4 as the next beam; the answer is the top-3 of everything
    * visited. Bounded-round contract: the engine's R equals the
    * oracle's unrolled CTE chain, ties break (dot DESC, node ASC) in
    * BOTH the beam and the final rank — a beam that admitted the wrong
    * node at any round produces a different visited set and cannot
    * match. Scale shape: each round is frontier⋈graph + anti-join +
    * top-B window — beam-sized per query, never corpus-sized; the
    * graph is the one corpus-scale artifact and it is s13's, built
    * once. This is deliberately beam search (top-B of the round's
    * FRESH nodes), not best-first with a priority queue — the
    * set-oriented restatement that parallelises per query, trading a
    * bounded amount of greediness for zero driver-side state. */
  def beamSearchAnn(s: SparkSession, d: String): DataFrame = {
    val (bWidth, rounds, k) = (4, 3, 3)
    val emb = quantized(s, d).select(col("vec_id"), col("q"))
    val graph = knnGraph(s, d).select(col("vec_id"), col("neighbor_id"))
    val queries = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qv"))
    val entry = emb.agg(min(col("vec_id")).as("vec_id"))
      .join(emb, "vec_id")
      .select(col("vec_id").as("node"), col("q").as("nq")) // 1-row frame
    var visited = broadcast(queries).crossJoin(broadcast(entry))
      .select(col("query_id"), col("qv"), col("node"),
        dot(col("qv"), col("nq")).as("dot"))
    var frontier = visited.select(col("query_id"), col("node"))
    val wB = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("node").asc)
    (1 to rounds).foreach { _ =>
      val neigh = frontier.join(graph, frontier("node") === graph("vec_id"))
        .select(col("query_id"), col("neighbor_id").as("node")).distinct()
      val fresh = neigh
        .join(visited.select(col("query_id"), col("node")),
          Seq("query_id", "node"), "left_anti")
        .join(queries, "query_id")
        .join(emb.select(col("vec_id").as("node"), col("q").as("nq")), "node")
        .select(col("query_id"), col("qv"), col("node"),
          dot(col("qv"), col("nq")).as("dot"))
      val beam = fresh.withColumn("brank", row_number().over(wB))
        .where(col("brank") <= bWidth).drop("brank")
      visited = visited.unionByName(beam)
      frontier = beam.select(col("query_id"), col("node"))
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("node").asc)
    visited.where(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("node").as("neighbor_id"), col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  val knnGraphSql: String = {
    val bucket = (1 to 8).map(i =>
      s"CASE WHEN embedding[$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END").mkString(" + ")
    val probeList = ("bucket" +: (0 until 8).map(j => s"xor(bucket, ${1 << j})"))
      .mkString(", ")
    s"""WITH q AS (
      |  SELECT vec_id, $bucket AS bucket,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings),
      |pr AS (SELECT vec_id, qv, unnest([$probeList]) AS bucket FROM q),
      |pairs AS (
      |  SELECT pr.vec_id, i.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(pr.qv, i.qv), z -> z[1] * z[2])) AS BIGINT) AS dot
      |  FROM pr JOIN q i ON i.bucket = pr.bucket AND i.vec_id != pr.vec_id)
      |SELECT vec_id, rank, neighbor_id, dot FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY dot DESC, neighbor_id ASC) AS rank
      |  FROM pairs)
      |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin
  }

  val beamSearchAnnSql: String = {
    val dotSql = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    val roundCtes = (1 to 3).map { r =>
      s"""n$r AS (
        |  SELECT DISTINCT f${r - 1}.query_id, g.neighbor_id AS node
        |  FROM f${r - 1} JOIN graph g ON g.vec_id = f${r - 1}.node),
        |fresh$r AS (
        |  SELECT n.query_id, n.node FROM n$r n
        |  LEFT JOIN v${r - 1} v ON v.query_id = n.query_id AND v.node = n.node
        |  WHERE v.node IS NULL),
        |s$r AS (
        |  SELECT f.query_id, qs.qv, f.node,
        |    ${dotSql("qs.qv", "e.qv")} AS dot
        |  FROM fresh$r f JOIN queries qs USING (query_id)
        |  JOIN q e ON e.vec_id = f.node),
        |b$r AS (
        |  SELECT query_id, qv, node, dot FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot DESC, node ASC) AS brank FROM s$r)
        |  WHERE brank <= 4),
        |v$r AS (SELECT * FROM v${r - 1} UNION ALL SELECT * FROM b$r),
        |f$r AS (SELECT query_id, node FROM b$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
      |  SELECT vec_id,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings),
      |graph AS (SELECT vec_id, neighbor_id FROM ($knnGraphSql) g),
      |queries AS (SELECT vec_id AS query_id, qv FROM q WHERE vec_id < 20),
      |entry AS (SELECT vec_id AS node, qv AS nq FROM q
      |          WHERE vec_id = (SELECT min(vec_id) FROM q)),
      |v0 AS (
      |  SELECT query_id, queries.qv, node,
      |    ${dotSql("queries.qv", "entry.nq")} AS dot
      |  FROM queries CROSS JOIN entry),
      |f0 AS (SELECT query_id, node FROM v0),
      |$roundCtes
      |SELECT query_id, rank, node AS neighbor_id, dot FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, node ASC) AS rank
      |  FROM v3 WHERE node != query_id)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }


  /** s16 — ATTRIBUTE-FILTERED ANN: "find similar documents IN THE SAME
    * LANGUAGE" — the filtered-vector-search shape every production
    * retrieval system needs and most ANN indexes handle badly. The
    * exact answer is PRE-FILTERING: constrain candidates by the
    * attribute first (an equi-join on the filter key — here the
    * query document's own lang — so the pair space is Σ per-language
    * corpus sizes, never |corpus|), then exact integer re-rank. The
    * common cheap alternative, POST-filtering an unconstrained ANN
    * index, silently loses every true neighbor the index's bucket
    * never surfaced — so each emitted true-top-3 row carries
    * `in_bucket`: whether s2's sign-bucket index would have retrieved
    * it at all. The aggregate of that column IS the post-filter recall
    * ceiling, measured rather than assumed. Scale shape: the filter
    * key joins before any distance math, queries broadcast, and the
    * per-query top-k is a bounded window — at 100 TB the per-language
    * partitions are the unit of probe cost, exactly like a partitioned
    * IVF. */
  def filteredAnn(s: SparkSession, d: String): DataFrame = {
    val lang = Tables.documents(s, d).select(col("doc_id").as("vec_id"), col("lang"))
    val bucket = (1 to 8).map(i =>
      when(element_at(col("embedding"), i) > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)
    val emb = quantized(s, d).withColumn("bucket", bucket).join(lang, "vec_id")
      .select(col("vec_id"), col("lang"), col("bucket"), col("q"))
    val queries = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("lang"),
        col("bucket").as("qbucket"), col("q").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    broadcast(queries)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("lang"),
        col("bucket").as("nbucket"), col("q")), Seq("lang"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", dot(col("qv"), col("q")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"),
        when(col("nbucket") === col("qbucket"), lit(1L)).otherwise(lit(0L)).as("in_bucket"))
      .orderBy(col("query_id"), col("rank"))
  }

  val filteredAnnSql: String = {
    val bucket = (1 to 8).map(i =>
      s"CASE WHEN embedding[$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END").mkString(" + ")
    s"""WITH e AS (
      |  SELECT vec_id, lang, $bucket AS bucket,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings JOIN documents ON doc_id = vec_id),
      |pairs AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS BIGINT) AS dot,
      |    CASE WHEN b.bucket = a.bucket THEN 1 ELSE 0 END AS in_bucket
      |  FROM e a JOIN e b ON b.lang = a.lang AND b.vec_id != a.vec_id
      |  WHERE a.vec_id < 20)
      |SELECT query_id, rank, neighbor_id, dot, CAST(in_bucket AS BIGINT) AS in_bucket
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, neighbor_id ASC) AS rank
      |  FROM pairs)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** s17 — BUCKETED-TABLE CANDIDATE SELF-JOIN: the persisted form of
    * s2's sign-bucket index. The corpus is written ONCE as a bucketed
    * parquet table (`bucketBy` on the bucket id, sorted within buckets),
    * and candidate generation becomes a self-join that ships ZERO bytes:
    * both join sides read co-located bucket files, so the SortMergeJoin
    * runs with no Exchange under it — the physical plan shows
    * `Bucketed: true` and PlanSpec pins the absence of a shuffle on the
    * join inputs. This is the 100 TB shape for every repeated
    * candidate-generation pass (dedup reruns, index refreshes): the
    * shuffle is paid once at write, then every subsequent join over the
    * index is shuffle-free. Emits the top-100 same-bucket pairs by exact
    * integer dot product. */
  def bucketedSelfJoin(s: SparkSession, d: String): DataFrame = {
    val bucket = (1 to 8).map(i =>
      when(element_at(col("embedding"), i) > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)
    val emb = quantized(s, d).withColumn("bucket", bucket)
      .select(col("vec_id"), col("bucket"), col("q"))
    // fixed per-(session, dataset) name + location, rebuilt in place:
    // repeated verify/bench runs within a session reuse ONE catalog entry
    // and ONE directory instead of leaking a UUID-named pair per
    // invocation, while the session component keeps two concurrent
    // sessions (parallel suites, two drivers on one host) from dropping
    // each other's table mid-scan — the round-12 ADVICE race. The
    // location is a LakeDir, so it is also deleted when the application
    // ends; the table is named after it.
    val loc = graft.core.LakeDir.scoped(s, "bucket_idx", d)
    val tbl = new java.io.File(loc).getName
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.core.LakeDir.delete(s, loc)
    emb.write.bucketBy(16, "bucket").sortBy("bucket")
      .option("path", loc).format("parquet").saveAsTable(tbl)
    val t = s.table(tbl)
    t.as("a").join(t.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        dot(col("a.q"), col("b.q")).as("dot"))
      .orderBy(col("dot").desc, col("va"), col("vb"))
      .limit(100)
  }

  val bucketedSelfJoinSql: String = {
    val bucket = (1 to 8).map(i =>
      s"CASE WHEN embedding[$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END").mkString(" + ")
    s"""WITH e AS (
      |  SELECT vec_id, $bucket AS bucket,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings)
      |SELECT a.vec_id AS va, b.vec_id AS vb,
      |  CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS BIGINT) AS dot
      |FROM e a JOIN e b ON b.bucket = a.bucket AND a.vec_id < b.vec_id
      |ORDER BY dot DESC, va, vb LIMIT 100""".stripMargin
  }

  /** s18 — SCALAR-QUANTIZED (SQ8) ANN with exact re-rank: every vector
    * compresses to one byte per dimension — code_i = ((x_i − lo_i)·255)
    * div max(hi_i − lo_i, 1) against per-dimension GLOBAL bounds — the
    * default compression tier in production vector stores (FAISS SQ8 /
    * Lucene scalar quantization), sitting between s2's 1-bit signs and
    * s7's codebook PQ: 4× less memory bandwidth than the int32 corpus
    * with no codebook to train. Search is compression-shaped, not
    * pruning-shaped: the full corpus is scanned in CODE space (the scan
    * a column store does at 1 byte/dim), the top-16 by approximate code
    * dot survive, and only those 16 fetch the full-precision vector for
    * the exact re-rank — per query, 16 wide reads instead of N. All
    * arithmetic is integer (bounds from the 1e4-quantized grid, `div`
    * truncation), so approximate AND exact scores are engine-exact;
    * both ranks ship so a consumer sees exactly where the 8-bit
    * approximation reordered candidates. The bounds are a 64-row
    * aggregate carried as a broadcast 1-row array pair. */
  def sq8Ann(s: SparkSession, d: String): DataFrame =
    sq8AnnOf(quantized(s, d).select(col("vec_id"), col("q")),
      nQueries = 20, nCand = 16, k = 3)

  /** [[sq8Ann]] over an explicit (vec_id, q) integer-vector frame —
    * property-tested on hand vectors (codes stay in [0, 255], a
    * coarse-tie reorder is repaired by the exact re-rank) and fuzzed
    * against a local recount of both stages. */
  private[graft] def sq8AnnOf(emb: DataFrame, nQueries: Int, nCand: Int,
      k: Int): DataFrame = {
    val bArr = emb.select(posexplode(col("q")))
      .groupBy(col("pos")).agg(min(col("col")).as("lo"), max(col("col")).as("hi"))
      .agg(
        expr("transform(array_sort(collect_list(struct(pos, lo))), s -> s.lo)")
          .as("los"),
        expr("transform(array_sort(collect_list(struct(pos, hi))), s -> s.hi)")
          .as("his"))
    val coded = emb.crossJoin(broadcast(bArr)) // 1-row bounds dim
      .withColumn("code", expr(
        "transform(arrays_zip(q, los, his), " +
          "s -> ((s.q - s.los) * 255) div greatest(s.his - s.los, 1L))"))
      .select(col("vec_id"), col("q"), col("code"))
    val queries = coded.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qv"), col("code").as("qc"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("adot").desc, col("neighbor_id").asc)
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    broadcast(queries)
      .join(coded.select(col("vec_id").as("neighbor_id"), col("q").as("nv"),
        col("code").as("nc")), col("neighbor_id") =!= col("query_id"))
      .withColumn("adot", dot(col("qc"), col("nc")))
      .withColumn("arank", row_number().over(wApprox))
      .where(col("arank") <= nCand)
      .withColumn("dot", dot(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("dot"), col("adot"))
      .orderBy(col("query_id"), col("rank"))
  }

  val sq8AnnSql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    ${graft.core.Exact.sqlQuantize("embedding", 10000)} AS qv
      |  FROM embeddings),
      |dims AS (
      |  SELECT vec_id, unnest(qv) AS x,
      |    unnest(generate_series(1, len(qv))) AS i
      |  FROM q),
      |b AS (
      |  SELECT i, min(x) AS lo, GREATEST(max(x) - min(x), 1) AS rng
      |  FROM dims GROUP BY i),
      |codes AS (
      |  SELECT vec_id, list(((x - lo) * 255) // rng ORDER BY i) AS code
      |  FROM dims JOIN b USING (i) GROUP BY vec_id),
      |pairs AS (
      |  SELECT a.vec_id AS query_id, bb.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(ac.code, bc.code), z -> z[1] * z[2])) AS BIGINT) AS adot,
      |    CAST(list_sum(list_transform(list_zip(a.qv, bb.qv), z -> z[1] * z[2])) AS BIGINT) AS dot
      |  FROM q a
      |  JOIN q bb ON bb.vec_id != a.vec_id
      |  JOIN codes ac ON ac.vec_id = a.vec_id
      |  JOIN codes bc ON bc.vec_id = bb.vec_id
      |  WHERE a.vec_id < 20),
      |cand AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY adot DESC, neighbor_id ASC) AS arank
      |  FROM pairs)
      |SELECT query_id, rank, neighbor_id, dot, adot FROM (
      |  SELECT query_id, neighbor_id, dot, adot,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY dot DESC, neighbor_id ASC) AS rank
      |  FROM cand WHERE arank <= 16)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  override val defs: ListMap[String, QueryDef] = ListMap(
    "s1_bruteforce_topk" -> QueryDef(bruteForceTopK, Some(bruteForceTopKSql), bench = true),
    "s2_sign_bucket_ann" -> QueryDef(signBucketAnn, Some(signBucketAnnSql), bench = true),
    "s3_ivf_ann"         -> QueryDef(ivfAnn, Some(ivfAnnSql)),
    "s4_centroid_stats"  -> QueryDef(centroidStats, Some(centroidStatsSql)),
    "s5_ann_recall"      -> QueryDef(annRecall, Some(annRecallSql)),
    "s6_ivf_multiprobe"  -> QueryDef(ivfMultiProbe, Some(ivfMultiProbeSql)),
    "s7_pq_ann"          -> QueryDef(pqAnn, Some(pqAnnSql), bench = true),
    "s8_ivf_pq"          -> QueryDef(ivfPq, Some(ivfPqSql)),
    "s9_pq_recall_sweep" -> QueryDef(pqRecallSweep, Some(pqRecallSweepSql)),
    "s10_ivf_pq_residual" -> QueryDef(ivfPqResidual, Some(ivfPqResidualSql)),
    "s11_codebook_sweep" -> QueryDef(codebookSweep, Some(codebookSweepSql)),
    "s12_ivf_pq_percell" -> QueryDef(ivfPqResidualPerCell, Some(ivfPqResidualPerCellSql)),
    "s13_knn_graph"      -> QueryDef(knnGraph, Some(knnGraphSql)),
    "s14_knn_recall_sweep" -> QueryDef(knnGraphRecallSweep, Some(knnGraphRecallSweepSql)),
    "s15_pq_refine"        -> QueryDef(pqRefine, Some(pqRefineSql)),
    "s16_filtered_ann"     -> QueryDef(filteredAnn, Some(filteredAnnSql)),
    "s17_bucketed_selfjoin" -> QueryDef(bucketedSelfJoin, Some(bucketedSelfJoinSql)),
    "s18_sq8_ann" -> QueryDef(sq8Ann, Some(sq8AnnSql)),
    "s19_tombstoned_ann" -> QueryDef(tombstonedAnn, Some(tombstonedAnnSql)),
    "s20_beam_search_ann" -> QueryDef(beamSearchAnn, Some(beamSearchAnnSql)),
  )
}
