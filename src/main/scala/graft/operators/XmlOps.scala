package graft.operators

import graft.core.{LakeDir, QueryDef, QueryModule, Tables}
import graft.ingest.Ingest
import graft.lake.{Commit, LakeTable, TxnLog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** S10 gate — the MetaboLights XML adapter
  * (`01_ingest/grebi_ingest_metabolights/ingest.py:7-58`) driven through a
  * deterministic XML fixture derived from the `part` table, so the DuckDB
  * oracle can reconstruct the expected node set in closed form.
  *
  * The fixture maps the first 200 parts to eb-eye entries: odd partkeys
  * become MTBLS (Study) entries, even become MTBLC (Chemical) entries with
  * an `inchi` field so the chemical-aggregation branch (refs ++ inchi ++
  * formula) is exercised. The generation is bounded (200 driver-side rows
  * building one small fixture file); the adapter itself parses
  * distributed, one task per XML file.
  */
object XmlOps extends QueryModule {

  private def pad(k: Long): String = f"$k%09d" // driver-side fixture writer; Column path = core.Pad

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Write the fixture XML derived from `part` into a temp dir, parse it
    * with the real adapter, flatten to (node_id, key, value). */
  def xmlIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val parts = Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
      .orderBy(col("p_partkey")).limit(200).collect()
    val sb = new StringBuilder
    sb.append("<database><entries>\n")
    parts.foreach { r =>
      val k = r.getLong(0)
      val (nm, brand, typ, size) =
        (r.getString(1), r.getString(2), r.getString(3), r.getInt(4))
      val id = (if (k % 2 == 1) "MTBLS" else "MTBLC") + pad(k)
      sb.append(s"""<entry id="$id">""")
      sb.append(s"<name>${esc(nm)}</name>")
      sb.append(s"<description>${esc(brand)}</description>")
      sb.append("<cross_references>")
      sb.append(s"""<ref dbkey="chebi:${pad(k)}" dbname="ChEBI"/>""")
      sb.append(s"""<ref dbkey="pubchem:${pad(k)}" dbname="PubChem"/>""")
      sb.append("</cross_references>")
      sb.append(s"""<dates><date type="publication" value="$size"/></dates>""")
      sb.append("<additional_fields>")
      sb.append(s"""<field name="formula">${esc(typ)}</field>""")
      if (k % 2 == 0)
        sb.append(s"""<field name="inchi">InChI=${esc(brand)}</field>""")
      sb.append("</additional_fields>")
      sb.append("</entry>\n")
    }
    sb.append("</entries></database>\n")
    // driver-LOCAL temp fixture: fine for the gate (the harness runs
    // local-mode, where executors share the driver's filesystem); a real
    // deployment points fromMetabolightsXml at a shared-filesystem path.
    // deleteOnExit keeps repeated Verify/Bench/test runs from
    // accumulating fixture dirs in the system temp.
    val dir = java.nio.file.Files.createTempDirectory("graft_mtbls")
    val file = dir.resolve("eb_eye.xml")
    java.nio.file.Files.writeString(file, sb.toString)
    dir.toFile.deleteOnExit(); file.toFile.deleteOnExit()
    Ingest.fromMetabolightsXml(s, dir.toString)
      .flatMap { n =>
        val nid = n.ids.head
        n.types.map(t => (nid, "grebi:type", t)) ++
          n.props.toSeq.flatMap { case (k, vs) => vs.map(v => (nid, k, v.value)) }
      }
      .toDF("node_id", "key", "value")
      .orderBy(col("node_id"), col("key"), col("value"))
  }

  private val sqlPad = graft.core.Pad.sql("p_partkey")

  val xmlIngestSql: String =
    s"""WITH p AS (SELECT * FROM part ORDER BY p_partkey LIMIT 200),
      |ids AS (
      |  SELECT *,
      |    (CASE WHEN p_partkey % 2 = 1 THEN 'MTBLS' ELSE 'MTBLC' END) || $sqlPad AS node_id
      |  FROM p)
      |SELECT node_id, key, value FROM (
      |  SELECT node_id, 'grebi:type' AS key,
      |    CASE WHEN p_partkey % 2 = 1 THEN 'metabolights:Study'
      |         ELSE 'metabolights:Chemical' END AS value FROM ids
      |  UNION ALL SELECT node_id, 'grebi:name', p_name FROM ids
      |  UNION ALL SELECT node_id, 'grebi:description', p_brand FROM ids
      |  UNION ALL SELECT node_id, 'metabolights:ref', 'chebi:' || $sqlPad FROM ids
      |  UNION ALL SELECT node_id, 'metabolights:ref', 'pubchem:' || $sqlPad FROM ids
      |  UNION ALL SELECT node_id, 'metabolights:publication_date', CAST(p_size AS VARCHAR) FROM ids
      |  UNION ALL SELECT node_id, 'metabolights:formula', p_type FROM ids
      |  UNION ALL SELECT node_id, 'metabolights:inchi', 'InChI=' || p_brand FROM ids WHERE p_partkey % 2 = 0
      |  UNION ALL SELECT node_id, 'metabolights:chemical', 'chebi:' || $sqlPad FROM ids WHERE p_partkey % 2 = 0
      |  UNION ALL SELECT node_id, 'metabolights:chemical', 'pubchem:' || $sqlPad FROM ids WHERE p_partkey % 2 = 0
      |  UNION ALL SELECT node_id, 'metabolights:chemical', 'InChI=' || p_brand FROM ids WHERE p_partkey % 2 = 0
      |  UNION ALL SELECT node_id, 'metabolights:chemical', p_type FROM ids WHERE p_partkey % 2 = 0
      |) ORDER BY node_id, key, value""".stripMargin

  /** x4 — ORC ROUND-TRIP: the documents table re-materialised through
    * Spark's columnar ORC source/sink and aggregated from the ORC copy —
    * pins that the engine's format surface isn't parquet-only (a
    * warehouse migration writes ORC today, and the Hive-era lakes this
    * engine would ingest from are ORC). The oracle aggregates the
    * original parquet: identical rows ⟺ the round-trip is lossless.
    * Deterministic temp dir per sf dir so reruns overwrite in place. */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = LakeDir.scoped(s, "orc", d)
    graft.core.Tables.documents(s, d)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).orc(dir)
    s.read.orc(dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"), col("lang"))
  }

  val orcRoundtripSql: String =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** x10 — PARQUET COMPRESSION-CODEC round-trip: the documents table
    * re-materialised under every codec a lake migration negotiates
    * (snappy default, zstd cold storage, gzip legacy, lz4 hot, none)
    * and aggregated from each copy — five identical stat rows ⟺ every
    * codec is lossless through this engine's write/read path. The codec
    * choice is a 100 TB cost lever (zstd ≈ half the storage of snappy
    * at similar scan cost), so the engine must prove it can hold the
    * same bytes under all of them; the spec additionally pins that the
    * option actually reaches the files (compressed dirs are smaller
    * than `none`). */
  def codecRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.DataFrame
    Codecs.map { c =>
      val dir = codecDir(s, d, c)
      graft.core.Tables.documents(s, d)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", c).parquet(dir)
      s.read.parquet(dir)
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .select(lit(c).as("codec"), col("n_docs"), col("sum_chars"),
          col("min_doc"), col("max_doc"))
    }.reduce[DataFrame](_ unionByName _).orderBy(col("codec"))
  }

  private[graft] val Codecs = Seq("gzip", "lz4", "none", "snappy", "zstd")
  private[graft] def codecDir(s: SparkSession, d: String, c: String): String =
    LakeDir.scoped(s, s"codec_$c", d)

  val codecRoundtripSql: String =
    s"""WITH agg AS (
      |  SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |    min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |  FROM documents)
      |SELECT codec, n_docs, sum_chars, min_doc, max_doc
      |FROM (SELECT unnest([${Codecs.map("'" + _ + "'").mkString(", ")}]) AS codec), agg
      |ORDER BY codec""".stripMargin

  /** x5 — CSV source/sink round-trip (x4's pattern for the text-format
    * side the reference's TSV pipelines live on): a typed lineitem
    * projection writes through Spark's CSV sink (header, quoted strings,
    * ISO dates, shortest-repr doubles) and reads back under an EXPLICIT
    * DDL schema (never inference — inference is corpus-dependent), then
    * aggregates integer-exactly (cents quantization) so the gate proves
    * the round-trip lossless for ints, doubles, dates and strings. */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = LakeDir.scoped(s, "csv", d)
    graft.core.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_shipdate"), col("l_returnflag"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("header", "true").csv(dir)
    s.read.option("header", "true")
      .schema("l_orderkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
        "l_shipdate TIMESTAMP_NTZ, l_returnflag STRING")
      .csv(dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("sum_price_cents"),
        sum(expr("cast(round(l_quantity) as bigint)")).as("sum_qty"),
        min(col("l_shipdate")).cast("string").as("min_ship"),
        max(col("l_shipdate")).cast("string").as("max_ship"))
      .orderBy(col("l_returnflag"))
  }

  val csvRoundtripSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(min(l_shipdate) AS VARCHAR) AS min_ship,
      |  CAST(max(l_shipdate) AS VARCHAR) AS max_ship
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** x6 — JSONL source/sink round-trip (the reference's native interchange
    * format: every ingest CLI emits JSON Lines). The documents table
    * writes through Spark's json sink and reads back under an EXPLICIT
    * DDL schema (x5's rule — inference is corpus-dependent), then
    * aggregates with per-group md5 extremes over the text column, so the
    * gate proves string fidelity through JSON escaping (quotes, control
    * chars, non-ASCII) — exactly the bytes the reference's jsonl.gz
    * intermediates must survive. */
  def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = LakeDir.scoped(s, "jsonl", d)
    graft.core.Tables.documents(s, d)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(dir)
    s.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .json(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_len"),
        min(md5(coalesce(col("text"), lit("")))).as("min_hash"),
        max(md5(coalesce(col("text"), lit("")))).as("max_hash"))
      .orderBy(col("lang"))
  }

  val jsonRoundtripSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
      |  min(md5(coalesce(text, ''))) AS min_hash,
      |  max(md5(coalesce(text, ''))) AS max_hash
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** x7 — PARTITIONED layout + partition-PRUNED scan: the documents table
    * written `partitionBy(lang)` (the hive layout a 100 TB corpus ships
    * in — partition keys in directory names, not row groups) and read
    * back with a partition-key filter, so only the matching directory is
    * listed and scanned. THE scale mechanism for selective reads: the
    * en-filter touches ~1/5 of the bytes here and exactly one partition
    * of thousands in production; PlanSpec pins `PartitionFilters` (prune
    * at planning) and x5's explicit-schema rule keeps the read
    * deterministic. The oracle recomputes the filtered aggregate from
    * the unpartitioned original — identical rows ⟺ the layout lost
    * nothing and pruning dropped nothing it shouldn't. */
  def partitionedScan(s: SparkSession, d: String): DataFrame = {
    val dir = LakeDir.scoped(s, "part", d)
    graft.core.Tables.documents(s, d)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("lang").parquet(dir)
    partitionedScanOf(s, dir)
  }

  /** The pruned read, factored so PlanSpec can pin its physical plan.
    * Explicit schema (x5's rule) — also what keeps an EMPTY corpus
    * readable: a zero-row partitioned write leaves no footers to infer
    * from, and a library operator must degrade to zero rows, not throw. */
  private[graft] def partitionedScanOf(s: SparkSession, dir: String): DataFrame =
    s.read
      .schema("doc_id BIGINT, text STRING, source STRING, n_chars BIGINT, lang STRING")
      .parquet(dir)
      .where(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"))

  val partitionedScanSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents WHERE lang = 'en'
      |GROUP BY source ORDER BY source""".stripMargin

  /** x8 — SCHEMA EVOLUTION across ingest batches: an early batch written
    * under the OLD schema (no `lang` column) and a later batch under the
    * new one land in the same dataset, and a `mergeSchema` read unifies
    * them — old rows surface `lang` as null. This is how a long-lived
    * corpus actually evolves (the reference's datasources gained fields
    * across releases); the merged read + null-coalescing aggregate
    * proves no rows or values are lost at the seam. mergeSchema pays a
    * per-file footer read at planning — fine per-batch, so production
    * layouts promote the merged schema into the table definition rather
    * than re-merging every scan (x7's explicit-schema rule, evolved). */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = LakeDir.scoped(s, "evo", d)
    val docs = graft.core.Tables.documents(s, d)
    docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/batch=1")
    docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"), col("lang"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/batch=2")
    s.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(coalesce(col("lang"), lit("unknown")).as("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("lang"))
  }

  val schemaEvolutionSql: String =
    """SELECT CASE WHEN doc_id % 2 = 1 THEN lang ELSE 'unknown' END AS lang,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_doc
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** x11 — RANGE-SORTED layout + zone-map pruned scan: the SECOND lake
    * pruning mechanism, orthogonal to x7's hive partitions — events
    * rewritten `repartitionByRange(us).sortWithinPartitions(us)` so
    * every file owns a disjoint time slice and every parquet row group
    * carries tight min/max stats, then read back with a time filter
    * that row-group statistics satisfy without decoding (the layout a
    * 100 TB event lake ships in when the partition column is too
    * fine-grained for directories; hive partitioning handles the
    * categorical axis, range-sort handles the ordered one). The cut is
    * a data-derived literal (min + range/16, integer-exact on both
    * engines) so the filter is selective at every SF and reaches the
    * scan as a pushed predicate — PlanSpec pins PushedFilters, the
    * spec pins that file time-slices are genuinely disjoint. */
  def rangeLayout(s: SparkSession, d: String): DataFrame = {
    val dir = LakeDir.scoped(s, "range", d)
    graft.core.Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_type"), col("value"))
      .repartitionByRange(8, col("us"))
      .sortWithinPartitions(col("us"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    // the cut is a 1-row bounded driver read (house rule: scalars may
    // collect) so it reaches the rewritten scan as a LITERAL — a join
    // filter would not push down to the parquet reader
    val bounds = graft.core.Tables.events(s, d)
      .select(unix_micros(col("ts").cast("timestamp")).as("us"))
      .agg(min(col("us")).as("lo"), max(col("us")).as("hi")).collect()
    if (bounds.isEmpty || bounds.head.isNullAt(0))
      return rangeLayoutOf(s, dir, Long.MinValue)
    val cut = bounds.head.getLong(0) +
      (bounds.head.getLong(1) - bounds.head.getLong(0)) / 16
    rangeLayoutOf(s, dir, cut)
  }

  /** The pruned read, factored so PlanSpec can pin the pushed filter.
    * Explicit schema (x5's rule). */
  private[graft] def rangeLayoutOf(s: SparkSession, dir: String, cut: Long): DataFrame =
    s.read
      .schema("event_id BIGINT, user_id BIGINT, us BIGINT, event_type STRING, value DOUBLE")
      .parquet(dir)
      .where(col("us") < cut)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("us")).as("min_us"),
        max(col("us")).as("max_us"), min(col("event_id")).as("min_event"))
      .orderBy(col("event_type"))

  val rangeLayoutSql: String =
    """WITH b AS (
      |  SELECT event_id, event_type, epoch_us(ts) AS us FROM events),
      |c AS (SELECT min(us) + (max(us) - min(us)) // 16 AS cut FROM b)
      |SELECT event_type, count(*) AS n, min(us) AS min_us,
      |  max(us) AS max_us, min(event_id) AS min_event
      |FROM b CROSS JOIN c WHERE us < cut
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** x12 — Z-ORDER INDEX values: every event's Morton code over
    * (user_id, hour) through the native codegen'd
    * [[graft.functions.ZOrderL]] expression, aggregated per event_type
    * so the oracle (which replays the interleave as 62 shift-and-add
    * terms — a deliberately different formulation than the engine's
    * magic-mask spread) verifies the whole column, not a sample. The
    * z-value is the multi-dimensional generalisation of x11's range
    * key: sorting a layout by z keeps rows close in BOTH dimensions,
    * so file min/max stats prune 2-D box filters; the spec pins the
    * box-locality property and that the expression stays inside
    * WholeStageCodegen. */
  def zorderIndex(s: SparkSession, d: String): DataFrame = {
    val ev = graft.core.Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        (unix_micros(col("ts").cast("timestamp"))).as("us"))
      .withColumn("h", expr("us div 3600000000"))
      .withColumn("z", graft.functions.ZOrderL(col("user_id"), col("h")))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("z")).as("min_z"),
        max(col("z")).as("max_z"), sum(col("z")).as("sum_z"))
      .orderBy(col("event_type"))
  }

  val zorderIndexSql: String = {
    val z = graft.functions.ZOrderL.sqlInterleave("user_id", "h")
    s"""WITH b AS (
      |  SELECT event_type, user_id, epoch_us(ts) // 3600000000 AS h
      |  FROM events),
      |zz AS (SELECT event_type, $z AS z FROM b)
      |SELECT event_type, count(*) AS n, min(z) AS min_z, max(z) AS max_z,
      |  CAST(sum(z) AS BIGINT) AS sum_z
      |FROM zz GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** x13 — TIME-TRAVEL READ over retained manifest generations: the
    * lake pattern k11's atomic publish enables but did not yet exercise
    * — two successive publishes of the documents table (generation 0:
    * the full corpus; generation 1: the `lang = 'en'` re-publish) are
    * RETAINED side by side as `gen_0` / `gen_1`, each with its own k11
    * manifest, and each read pins a generation explicitly through the
    * validating path: a consumer can reproduce yesterday's training mix
    * byte-faithfully after today's re-publish. What the gate proves: the
    * pinned reads see EXACTLY the generation they name (the oracle
    * restates both states from the source table), and validation stays
    * per-generation (the spec corrupts one generation and the other
    * still serves). Ordinal gen names — unlike k11's per-invocation
    * UUID generations, retention IS the feature here; the fixed layout
    * is rebuilt in place per invocation (the s17 discipline). */
  def timeTravelRead(s: SparkSession, d: String): DataFrame = {
    val base = LakeDir.scoped(s, "tt", d)
    def pub(df: org.apache.spark.sql.DataFrame, gen: Int): String = {
      val dir = s"$base/gen_$gen"
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/data")
      MaterialiseOps.writeManifest(s, dir)
      dir
    }
    val g0 = pub(Tables.documents(s, d), 0)
    val g1 = pub(Tables.documents(s, d).where(col("lang") === "en"), 1)
    def stats(gen: Int, dir: String) =
      MaterialiseOps.serveValidated(s, dir)
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(gen.toLong).as("generation"),
          col("n_docs"), col("sum_chars").cast("long").as("sum_chars"))
    stats(0, g0).unionByName(stats(1, g1)).orderBy(col("generation"))
  }

  val timeTravelReadSql: String =
    """SELECT CAST(0 AS BIGINT) AS generation, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(n_chars) AS BIGINT)
      |FROM documents WHERE lang = 'en'
      |ORDER BY generation""".stripMargin

  /** x14 — SMALL-FILE COMPACTION PLAN: the bin-packing pass every lake
    * maintenance job runs over a sorted layout (Delta OPTIMIZE /
    * Iceberg binpack with a sort order) — contiguous runs of small
    * files coalesce into target-sized rewrite groups WITHOUT breaking
    * the sort-key clustering that x11's zone maps depend on. The
    * documents table is physically rewritten as 16 fixed-width doc_id
    * range slices (deterministic arithmetic buckets, not the sampled
    * `repartitionByRange` boundaries — the plan must be reproducible
    * from the data alone), one directory per slice; the planner then
    * reads per-slice stats BACK FROM THE WRITTEN LAYOUT (n_rows +
    * content bytes as `sum(n_chars)` — the oracle-visible size proxy)
    * and assigns each slice to rewrite group `cum_before div target`
    * with `target = ⌈total/4⌉`: cumulative-fill grouping, which keeps
    * groups contiguous in the sort key so a rewritten file still owns
    * one disjoint range. The per-slice window rides FILE-LEVEL
    * METADATA (16 rows here; manifest-scale — thousands — at 100 TB),
    * never data rows; the data motion itself is one range-shuffled
    * write. Spec pins that the physical slices are disjoint in doc_id
    * and that groups are contiguous with no group except the last
    * under-filled below target while a successor exists. */
  def compactionPlan(s: SparkSession, d: String): DataFrame = {
    val dir = LakeDir.scoped(s, "compact", d)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    // 1-row bounded driver read (house rule: scalars may collect) — the
    // bucket arithmetic needs the bounds as literals
    val b = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect()
    if (b.isEmpty || b.head.isNullAt(0))
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "bucket BIGINT, n_rows BIGINT, bytes BIGINT, grp BIGINT"))
    val (lo, hi) = (b.head.getLong(0), b.head.getLong(1))
    docs
      .withColumn("bucket", expr(s"((doc_id - $lo) * 16) div (${hi - lo + 1})"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    compactionPlanOf(s, dir)
  }

  /** The planner over a written bucket layout — factored so the spec
    * can replan a hand-built layout. Explicit schema (x5's rule). */
  private[graft] def compactionPlanOf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = s.read
      .schema("doc_id BIGINT, n_chars BIGINT, bucket BIGINT")
      .parquet(dir)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("bytes"))
    // planner metadata window: one row per FILE SLICE, not per data row
    val w = Window.orderBy(col("bucket"))
    stats
      .withColumn("cum_before", coalesce(
        sum(col("bytes")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("bytes")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("grp", expr("cum_before div greatest((total + 3) div 4, 1)"))
      .select(col("bucket"), col("n_rows"), col("bytes"), col("grp"))
      .orderBy(col("bucket"))
  }

  val compactionPlanSql: String =
    """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      |bk AS (
      |  SELECT ((doc_id - lo) * 16) // (hi - lo + 1) AS bucket, n_chars
      |  FROM documents CROSS JOIN b),
      |st AS (
      |  SELECT bucket, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS bytes
      |  FROM bk GROUP BY bucket),
      |cum AS (
      |  SELECT bucket, n_rows, bytes,
      |    CAST(COALESCE(sum(bytes) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
      |    CAST(sum(bytes) OVER () AS BIGINT) AS total
      |  FROM st)
      |SELECT bucket, n_rows, bytes,
      |  CAST(cum_before // GREATEST((total + 3) // 4, 1) AS BIGINT) AS grp
      |FROM cum ORDER BY bucket""".stripMargin

  /** x15 — MERGE-INTO CHANGELOG APPLY: the lake upsert every CDC-fed
    * table needs — a keyed changelog (UPSERTs and DELETEs) applied to a
    * base snapshot in ONE pass with the three MERGE arms: matched+upsert
    * updates in place, matched+delete removes the row, unmatched+upsert
    * inserts (unmatched+delete is a no-op). The changelog derives
    * deterministically from events: per user, total activity value (in
    * exact cents) plus the LAST event type by (ts, event_id) — a last
    * type of 'error' means the account closes (delete), anything else
    * upserts the balance delta; a second feed at `user_id + offset`
    * models new accounts, where offset = max(max user_id, max
    * c_custkey) + 1 is DERIVED FROM THE DATA (the x14 1-row bounded
    * collect pattern) so the synthetic keys land above BOTH key ranges
    * at every SF — a fixed literal collided with real keys at sf0.1,
    * double-writing 50 primary keys and letting a synthetic upsert
    * survive a real delete. The MERGE contract (at most one changelog
    * row per key) is enforced inside [[LakeTable.mergeApply]] with a
    * raise_error guard, mirroring Delta/Iceberg MERGE's duplicate-source-
    * row error.
    * Execution is the scale shape MERGE should be: the changelog
    * collapses to ONE row per key map-side, then a single full-outer
    * equi-join against the base keyed by the primary key — no per-row
    * lookups, no driver loop; at 100 TB this is one co-partitionable
    * shuffle, and with both sides bucketed by key it is shuffle-free.
    * Balances stay integer cents end to end. */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (c: org.apache.spark.sql.Column) =>
      (graft.core.Exact.dec(c) * 100).cast("long")
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id"),
      col("event_type"), cents(col("value")).as("v"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    val perUser = ev.groupBy("user_id").agg(sum(col("v")).as("v_cents"))
      .join(ev.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("lt")), "user_id")
    val base = Tables.customer(s, d).select(col("c_custkey").as("k"),
      col("c_name").as("name"), cents(col("c_acctbal")).as("bal_cents"),
      col("c_mktsegment").as("seg"))
    // 1-row bounded driver read (house rule: scalars may collect): the
    // synthetic new-account feed must start above BOTH key ranges
    def maxKey(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).collect().headOption
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
        .getOrElse(0L)
    val off = math.max(maxKey(ev, "user_id"), maxKey(base, "k")) + 1L
    val chg = perUser.select(col("user_id").as("k"),
        when(col("lt") === "error", lit("delete")).otherwise(lit("upsert")).as("op"),
        col("v_cents"))
      .unionByName(perUser.select((col("user_id") + off).as("k"),
        lit("upsert").as("op"), col("v_cents")))
    LakeTable.mergeApply(base, chg).orderBy(col("k"))
  }

  val mergeUpsertSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |pu AS (
      |  SELECT s.user_id, s.v_cents, l.event_type AS lt
      |  FROM (SELECT user_id, CAST(sum(v) AS BIGINT) AS v_cents
      |        FROM ev GROUP BY user_id) s
      |  JOIN (SELECT user_id, event_type,
      |          row_number() OVER (PARTITION BY user_id
      |            ORDER BY us DESC, event_id DESC) AS rn
      |        FROM ev) l
      |    ON l.user_id = s.user_id AND l.rn = 1),
      |off AS (
      |  SELECT GREATEST((SELECT COALESCE(max(user_id), 0) FROM ev),
      |                  (SELECT COALESCE(max(c_custkey), 0) FROM customer)) + 1 AS o),
      |chg AS (
      |  SELECT user_id AS k,
      |    CASE WHEN lt = 'error' THEN 'delete' ELSE 'upsert' END AS op, v_cents
      |  FROM pu
      |  UNION ALL SELECT user_id + o, 'upsert', v_cents FROM pu CROSS JOIN off),
      |base AS (
      |  SELECT c_custkey AS k, c_name AS name,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_cents,
      |    c_mktsegment AS seg
      |  FROM customer)
      |SELECT COALESCE(base.k, chg.k) AS k,
      |  COALESCE(name, 'NEW#' || COALESCE(base.k, chg.k)) AS name,
      |  CAST(COALESCE(bal_cents, 0) + COALESCE(v_cents, 0) AS BIGINT) AS bal_cents,
      |  COALESCE(seg, 'STREAM') AS seg
      |FROM base FULL OUTER JOIN chg ON base.k = chg.k
      |WHERE op IS NULL OR op <> 'delete'
      |ORDER BY k""".stripMargin

  /** x16 — DELETION VECTORS: row-level deletes applied at READ time from
    * a position tombstone table, without rewriting a single data file —
    * the Delta deletion-vector / Iceberg position-delete primitive, and
    * the only sane shape for GDPR/right-to-be-forgotten deletes on a
    * 100 TB corpus (a predicate rewrite would touch every file; the DV
    * touches none). Positions come from the parquet reader's OWN row
    * metadata (`_metadata.file_path`, `_metadata.row_index` — file_path,
    * not file_name, because one write task reuses its part-file name
    * across partition directories), so the serving read is a plain scan
    * plus ONE anti-join on (file, position): no window, no sort, no
    * value comparison. The delete predicate (`lang = 'de'` here) is
    * evaluated EXACTLY ONCE, at DV-build time; the serving scan never
    * reads the predicate column at all (PlanSpec pins `lang` out of its
    * ReadSchema), which is what makes the tombstone value-blind — two
    * byte-identical rows where only one is deleted stay distinguishable
    * (spec). Scale shape: the DV is tiny (deleted positions only), sorted
    * and broadcastable per file; engines push it to the scan as a row
    * skip-list — here it is the anti-join Spark would plan anyway. */
  def deletionVectors(s: SparkSession, d: String): DataFrame = {
    val dir = LakeDir.scoped(s, "dv", d)
    Tables.documents(s, d)
      .repartitionByRange(4, col("doc_id")).sortWithinPartitions(col("doc_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/data")
    dvBuild(s, s"$dir/data", col("lang") === "de", s"$dir/dv")
    dvServe(s, s"$dir/data", s"$dir/dv")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"))
  }

  /** One predicate scan at delete time: record (file, position) of every
    * matching row. The predicate is never consulted again. */
  private[graft] def dvBuild(s: SparkSession, dataPath: String,
      predicate: org.apache.spark.sql.Column, dvPath: String): Unit =
    s.read.parquet(dataPath)
      .select(col("_metadata.file_path").as("f"),
        col("_metadata.row_index").as("pos"), predicate.as("del"))
      .where(col("del"))
      .select(col("f"), col("pos"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dvPath)

  /** The value-blind serving read: scan + one (file, position) anti-join.
    * Deliberately projects only the serving columns so the deleted
    * predicate column stays out of the scan. */
  private[graft] def dvServe(s: SparkSession, dataPath: String, dvPath: String): DataFrame = {
    val dv = s.read.parquet(dvPath)
    s.read.parquet(dataPath)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("_metadata.file_path").as("f"), col("_metadata.row_index").as("pos"))
      .join(dv, Seq("f", "pos"), "left_anti")
      .drop("f", "pos")
  }

  val deletionVectorsSql: String =
    """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents WHERE lang <> 'de'
      |GROUP BY source ORDER BY source""".stripMargin

  /** x17 — CHANGE DATA FEED: the row-level diff between two published
    * generations (Delta's `table_changes` / Iceberg's changelog scan) —
    * the read that turns snapshot republishes into incremental
    * downstream work (re-index only what changed, x15-style MERGE feeds,
    * cache invalidation). Generation 1 exercises all three change arms
    * against generation 0: `de` documents are DROPPED (delete), `fr`
    * documents have n_chars doubled (update), and a synthetic `zh` copy
    * lands at `doc_id + max(doc_id) + 1` — the offset derived from the
    * data per the x15 rule, never a literal that a bigger SF can
    * collide with (insert). The ENGINE computes the feed the honest
    * way — ONE full-outer equi-join of the two generation snapshots on
    * the primary key, arms as projections (update detection compares
    * the value column) — while the oracle restates the expected feed
    * from the source predicates, so wrong diff logic cannot mirror
    * itself green. Scale shape: one co-partitionable join keyed by the
    * primary key, bucketable to shuffle-free; the feed is
    * changed-rows-small. */
  def changeFeed(s: SparkSession, d: String): DataFrame = {
    // per-(session, dataset) dir, rebuilt in place per invocation — the
    // s17 rule, centralised in core.LakeDir (round-13 verdict item)
    val dir = LakeDir.scoped(s, "cdf", d)
    cdcWriteGens(s, d, dir)
    val g0 = cdcReadGen(s, s"$dir/gen_0")
      .select(col("doc_id"), col("n_chars").as("old_chars"))
    val g1 = cdcReadGen(s, s"$dir/gen_1")
      .select(col("doc_id"), col("n_chars").as("new_chars"))
    cdcDiff(g0, g1).orderBy(col("doc_id"))
  }

  /** Write the two x17 generation snapshots (gen_0 = source; gen_1 =
    * `de` dropped, `fr` doubled, `zh` cloned above max key) under
    * `dir`. Shared by x17 (diff) and x24 (diff∘apply round-trip). */
  private[graft] def cdcWriteGens(s: SparkSession, d: String, dir: String): Unit = {
    val docs = Tables.documents(s, d)
    val off = docs.agg(max(col("doc_id"))).collect().headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(0L) + 1L
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/gen_0")
    docs.where(col("lang") =!= "de")
      .select(col("doc_id"), col("lang"),
        when(col("lang") === "fr", col("n_chars") * 2).otherwise(col("n_chars"))
          .as("n_chars"))
      .unionByName(docs.where(col("lang") === "zh")
        .select((col("doc_id") + off).as("doc_id"), col("lang"), col("n_chars")))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/gen_1")
  }

  private[graft] def cdcReadGen(s: SparkSession, path: String): DataFrame =
    s.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT").parquet(path)

  /** The generation diff itself: one full-outer equi-join on the key,
    * arms as projections, unchanged rows suppressed. `g0` carries
    * (doc_id, old_chars), `g1` (doc_id, new_chars). Note a doubled
    * value that EQUALS its original (n_chars = 0) is genuinely
    * unchanged and is suppressed here — the oracle's update arm
    * excludes it too (`n_chars <> n_chars * 2`, the round-13 ADVICE
    * divergence), so a zero-length document can never split the
    * engines. */
  private[graft] def cdcDiff(g0: DataFrame, g1: DataFrame): DataFrame =
    g0.join(g1, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_chars").isNull, "insert")
          .when(col("new_chars").isNull, "delete")
          .when(col("old_chars") =!= col("new_chars"), "update")
          .otherwise("unchanged").as("change_type"),
        col("old_chars"), col("new_chars"))
      .where(col("change_type") =!= "unchanged")

  val changeFeedSql: String =
    """WITH off AS (SELECT max(doc_id) + 1 AS o FROM documents)
      |SELECT doc_id, 'delete' AS change_type,
      |  n_chars AS old_chars, CAST(NULL AS BIGINT) AS new_chars
      |FROM documents WHERE lang = 'de'
      |UNION ALL
      |SELECT doc_id, 'update', n_chars, n_chars * 2
      |FROM documents WHERE lang = 'fr' AND n_chars <> n_chars * 2
      |UNION ALL
      |SELECT doc_id + o, 'insert', NULL, n_chars
      |FROM documents CROSS JOIN off WHERE lang = 'zh'
      |ORDER BY doc_id""".stripMargin

  /** x24 — CDC ROUND-TRIP (diff ∘ apply ≡ republish): the property that
    * makes a change feed TRUSTWORTHY for incremental downstream
    * maintenance — a consumer that holds generation 0 and applies the
    * feed must land on EXACTLY generation 1, or every incrementally-
    * maintained index (Solr re-index, KV refresh, x15-style MERGE
    * target) silently diverges from a full rebuild. The reference
    * rebuilds its Solr/Neo4j exports from scratch each release; this
    * closure is what licenses replacing that with feed-driven refresh.
    * The full-row-image feed ([[cdcDiffFull]] — insert/update arms
    * carry the NEW row, Debezium-style `after` image) applies in one
    * pass: survivors = snapshot ANTI-JOIN (deleted ∪ updated keys),
    * plus the feed's update/insert rows verbatim. The gate aggregates
    * the REBUILT table while the oracle restates generation 1 from
    * source predicates — wrong diff logic or a lossy apply cannot
    * mirror itself. The spec pins row-level set equality, not just the
    * aggregate. Scale shape: one key equi-join over the snapshot
    * (bucketable to shuffle-free) + a feed-sized union — the feed is
    * changed-rows-small, never snapshot-sized. */
  def cdcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = LakeDir.scoped(s, "cdcrt", d)
    cdcWriteGens(s, d, dir)
    val g0 = cdcReadGen(s, s"$dir/gen_0")
    val g1 = cdcReadGen(s, s"$dir/gen_1")
    byLang(cdcApply(g0, cdcDiffFull(g0, g1)))
  }

  /** x17's diff with FULL ROW IMAGES: insert/update rows carry the new
    * (lang, n_chars) so the feed is self-sufficient for apply. The
    * update predicate compares EVERY carried column (n_chars AND lang,
    * null-safe) — a row whose lang changes at equal n_chars must be an
    * update, or apply cannot reproduce g1 (the round-14 ADVICE gap; the
    * lang-only-mutation case is spec-pinned). */
  private[graft] def cdcDiffFull(g0: DataFrame, g1: DataFrame): DataFrame = {
    val a = g0.select(col("doc_id"), col("lang").as("lang0"),
      col("n_chars").as("chars0"))
    val b = g1.select(col("doc_id"), col("lang").as("lang1"),
      col("n_chars").as("chars1"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("chars0").isNull, "insert")
          .when(col("chars1").isNull, "delete")
          .when(col("chars0") =!= col("chars1") ||
            !col("lang0").eqNullSafe(col("lang1")), "update")
          .otherwise("unchanged").as("change_type"),
        // delete rows carry the before-image lang; insert/update rows the
        // AFTER image verbatim (coalesce would resurrect the old lang on
        // an update to null)
        when(col("chars1").isNull, col("lang0")).otherwise(col("lang1")).as("lang"),
        col("chars1").as("n_chars"))
      .where(col("change_type") =!= "unchanged")
  }

  /** Apply a full-row-image feed to a snapshot: one anti-join on the
    * touched keys + the feed's after-images unioned in. */
  private[graft] def cdcApply(snap: DataFrame, feed: DataFrame): DataFrame = {
    val touched = feed.where(col("change_type").isin("delete", "update"))
      .select(col("doc_id"))
    snap.join(touched, Seq("doc_id"), "left_anti")
      .unionByName(feed.where(col("change_type").isin("update", "insert"))
        .select(col("doc_id"), col("lang"), col("n_chars")))
  }

  val cdcRoundtripSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(ch) AS BIGINT) AS sum_chars
      |FROM (
      |  SELECT lang, CASE WHEN lang = 'fr' THEN n_chars * 2
      |               ELSE n_chars END AS ch
      |  FROM documents WHERE lang <> 'de'
      |  UNION ALL
      |  SELECT lang, n_chars FROM documents WHERE lang = 'zh')
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** x18 — PARTITION-SPEC EVOLUTION: the Iceberg capability that lets a
    * 100 TB table change its partitioning WITHOUT rewriting history —
    * early data stays under the coarse spec it was written with
    * (monthly directories), post-cutover data lands under the evolved
    * finer spec (daily), and one serving read answers a time-range
    * query over BOTH layouts, pruning each by its own partition column.
    * The alternative — rewriting the old layout — is a full-table
    * shuffle; spec evolution is metadata-only, which is why every lake
    * format grew it. The cutover (2/3 of the date span) and the query
    * threshold (1/2 of the span, so the answer genuinely spans both
    * layouts and the seam is exercised) are data-derived via the
    * bounded 1-row scalar read. Row-level `ts >= thr` keeps the read
    * exact on the coarse side's partial boundary month; the partition
    * predicates (`m >= thr-month`, `dday >= thr-day`) are the pruning
    * layer PlanSpec pins. The oracle recomputes the filtered rollup
    * from the unpartitioned original — identical rows ⟺ the seam lost
    * nothing and pruning dropped nothing it shouldn't. */
  def partitionEvolution(s: SparkSession, d: String): DataFrame = {
    // per-(session, dataset) dir, rebuilt in place per invocation — the
    // s17 rule, centralised in core.LakeDir (round-13 verdict item)
    val dir = LakeDir.scoped(s, "pevo", d)
    val ev = graft.core.Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("value"))
    val b = ev.agg(min(to_date(col("ts"))).as("mn"), max(to_date(col("ts"))).as("mx"))
      .collect()(0)
    if (b.isNullAt(0))
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "day STRING, n_events BIGINT, sum_value DOUBLE"))
    val mn = b.getDate(0).toLocalDate
    val span = java.time.temporal.ChronoUnit.DAYS.between(mn, b.getDate(1).toLocalDate)
    val cut = mn.plusDays(span * 2 / 3).toString
    val thr = mn.plusDays(span / 2).toString
    ev.where(to_date(col("ts")) < lit(cut))
      .withColumn("m", date_format(col("ts"), "yyyy-MM"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("m").parquet(s"$dir/gen_0")
    ev.where(to_date(col("ts")) >= lit(cut))
      .withColumn("dday", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("dday").parquet(s"$dir/gen_1")
    partitionEvolutionServe(s, dir, thr).orderBy(col("day"))
  }

  /** The cross-spec serving read, factored so PlanSpec can pin both
    * sides' partition pruning. Explicit schemas per the x5/x7 rule;
    * each generation filters on ITS OWN partition column (the prune)
    * plus the shared row-level date predicate (the exactness). */
  private[graft] def partitionEvolutionServe(s: SparkSession, dir: String,
      thr: String): DataFrame = {
    val g0 = s.read
      .schema("event_id BIGINT, ts TIMESTAMP_NTZ, value DOUBLE, m STRING")
      .parquet(s"$dir/gen_0")
      .where(col("m") >= thr.substring(0, 7) && to_date(col("ts")) >= lit(thr))
      .select(col("ts"), col("value"))
    val g1 = s.read
      .schema("event_id BIGINT, ts TIMESTAMP_NTZ, value DOUBLE, dday STRING")
      .parquet(s"$dir/gen_1")
      .where(col("dday") >= thr)
      .select(col("ts"), col("value"))
    g0.unionByName(g1)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"),
        graft.core.Exact.sumd(col("value")).as("sum_value"))
  }

  val partitionEvolutionSql: String =
    """WITH b AS (SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx
      |           FROM events),
      |t AS (SELECT mn + CAST((mx - mn) // 2 AS INTEGER) AS thr FROM b)
      |SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events, t WHERE CAST(ts AS DATE) >= thr
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** x19 — VACUUM PLAN (snapshot expiry): the maintenance pass that
    * reclaims storage once old generations age out — Iceberg
    * `expire_snapshots` / Delta `VACUUM`. Successive publishes SHARE
    * unchanged data files (that sharing is what makes lake snapshots
    * cheap), so expiry is never "delete the old generation's directory":
    * a file is reclaimable only when EVERY generation referencing it has
    * expired. Three manifest generations over the x14 slice layout model
    * the sharing — gen 1 rewrote the bucket%4==0 slices, gen 2
    * additionally the %4==1 slices, everything else is carried by
    * reference — and the retention policy keeps the last two. The plan
    * is pure manifest algebra: expired refs ANTI-JOIN live refs (file
    * count ~ thousands at 100 TB — metadata-sized, the data files are
    * never opened), then deletable files pick up their stats from the
    * written slice layout. The oracle restates the closed form (only
    * the original %4==0 slices lose their last reference) from source
    * predicates, so wrong set algebra cannot mirror itself green. The
    * spec pins the SAFETY property on a hand manifest: a file shared
    * with any live generation must never plan for deletion. */
  def vacuumPlan(s: SparkSession, d: String): DataFrame = {
    // per-(session, dataset) dir, rebuilt in place per invocation — the
    // s17 rule, centralised in core.LakeDir (round-13 verdict item)
    val dir = LakeDir.scoped(s, "vac", d)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val b = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect()
    if (b.isEmpty || b.head.isNullAt(0))
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "file STRING, bucket BIGINT, n_rows BIGINT, bytes BIGINT"))
    val (lo, hi) = (b.head.getLong(0), b.head.getLong(1))
    docs
      .withColumn("bucket", expr(s"((doc_id - $lo) * 16) div (${hi - lo + 1})"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    val buckets = s.read
      .schema("doc_id BIGINT, n_chars BIGINT, bucket BIGINT")
      .parquet(dir)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("bytes"))
    // manifest rows: which physical file each generation serves a bucket from
    def fileAt(gen: Int): org.apache.spark.sql.Column =
      when(col("bucket") % 4 === 0 && lit(gen) >= 1,
          concat(lit("f1_"), col("bucket")))
        .when(col("bucket") % 4 === 1 && lit(gen) >= 2,
          concat(lit("f2_"), col("bucket")))
        .otherwise(concat(lit("f0_"), col("bucket")))
    val refs = (0 to 2).map(g => buckets.select(lit(g.toLong).as("gen"),
        fileAt(g).as("file"), col("bucket")))
      .reduce(_ unionByName _)
    vacuumPlanOf(refs, keepFromGen = 1L)
      .join(buckets, Seq("bucket"))
      .select(col("file"), col("bucket"), col("n_rows"), col("bytes"))
      .orderBy(col("bucket"))
  }

  /** The expiry set algebra over a `(gen, file, bucket)` manifest frame —
    * factored so the spec can exercise the shared-file safety property
    * on hand manifests: deletable = distinct files of expired
    * generations anti-joined against every live generation's refs. */
  private[graft] def vacuumPlanOf(refs: DataFrame, keepFromGen: Long): DataFrame =
    refs.where(col("gen") < keepFromGen)
      .select(col("file"), col("bucket")).distinct()
      .join(refs.where(col("gen") >= keepFromGen).select(col("file")).distinct(),
        Seq("file"), "left_anti")

  val vacuumPlanSql: String =
    """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      |bk AS (
      |  SELECT ((doc_id - lo) * 16) // (hi - lo + 1) AS bucket, n_chars
      |  FROM documents CROSS JOIN b),
      |st AS (
      |  SELECT bucket, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS bytes
      |  FROM bk GROUP BY bucket)
      |SELECT 'f0_' || CAST(bucket AS VARCHAR) AS file, bucket, n_rows, bytes
      |FROM st WHERE bucket % 4 = 0 ORDER BY bucket""".stripMargin

  /** x20 — BLOOM-FILTER DATA SKIPPING: the point-lookup complement to
    * x11's min/max zone maps — range stats prune RANGE predicates, but a
    * content-hash equality probe hits every file's [min, max] interval,
    * so lakes keep a per-file Bloom filter (Parquet bloom pages, Delta
    * data skipping) and consult it BEFORE opening files. Here: the
    * documents table written as 16 doc_id slices, one Bloom per slice
    * over md5(text) (Spark's own BloomFilterAggregate — the runtime-
    * filter machinery, surfaced); a bounded probe list (every 61st
    * document's hash, plus two synthetic absent probes that exercise the
    * skip path) is screened against the 16 blobs, and ONLY candidate
    * slices are scanned — the isin prune reaches the partition pruner,
    * PlanSpec-pinned. Bloom false positives cost an extra file read,
    * never a wrong row (the exact fp equality filters them); false
    * negatives cannot happen, which is the property the oracle's direct
    * lookup certifies. Candidate math rides 16 blob literals × a
    * ~10-row probe list — manifest-sized by construction (a point-
    * lookup API takes a bounded probe list; the x14 metadata house
    * rule). */
  def bloomSkipping(s: SparkSession, d: String): DataFrame = {
    // per-(session, dataset) dir, rebuilt in place per invocation — the
    // s17 rule, centralised in core.LakeDir (round-13 verdict item)
    val dir = LakeDir.scoped(s, "bskip", d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"), col("n_chars"))
    val b = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect()
    if (b.isEmpty || b.head.isNullAt(0))
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "probe_fp STRING, doc_id BIGINT, n_chars BIGINT"))
    val (lo, hi) = (b.head.getLong(0), b.head.getLong(1))
    docs
      .withColumn("bucket", expr(s"((doc_id - $lo) * 16) div (${hi - lo + 1})"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    // the skipping index: one Bloom blob per slice (16 rows of metadata)
    val blooms = s.read
      .schema("doc_id BIGINT, fp STRING, n_chars BIGINT, bucket BIGINT")
      .parquet(dir)
      .groupBy(col("bucket"))
      .agg(graft.functions.Bloom.filterAgg(col("fp"), 64L, 1024L).as("bf"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    import s.implicits._
    val probes = docs.where(col("doc_id") % 61 === 0).select(col("fp").as("probe_fp"))
      .unionByName(Seq("graft_absent_probe_1", "graft_absent_probe_2").toDF("probe_fp"))
      .localCheckpoint()
    val candidates = blooms.map { case (bkt, blob) =>
      probes.where(graft.functions.Bloom.mightContain(lit(blob), col("probe_fp")))
        .select(col("probe_fp"), lit(bkt).as("bucket"))
    }.reduce(_ unionByName _)
    bloomSkippingServe(s, dir, probes, candidates)
      .orderBy(col("probe_fp"), col("doc_id"))
  }

  /** The skipped scan, factored so PlanSpec can pin that only candidate
    * slices are opened: the candidate bucket set (≤ 16, metadata) prunes
    * the partitioned scan via isin, then the exact fp equality keeps
    * correctness independent of Bloom false positives. */
  private[graft] def bloomSkippingServe(s: SparkSession, dir: String,
      probes: DataFrame, candidates: DataFrame): DataFrame = {
    val candBuckets = candidates.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val scan = s.read
      .schema("doc_id BIGINT, fp STRING, n_chars BIGINT, bucket BIGINT")
      .parquet(dir)
      .where(col("bucket").isin(candBuckets: _*))
    scan.join(probes, scan("fp") === probes("probe_fp"))
      .select(col("probe_fp"), col("doc_id"), col("n_chars"))
  }

  val bloomSkippingSql: String =
    """WITH probes AS (
      |  SELECT md5(text) AS probe_fp FROM documents WHERE doc_id % 61 = 0),
      |dd AS (SELECT doc_id, md5(text) AS fp, n_chars FROM documents)
      |SELECT p.probe_fp, d.doc_id, d.n_chars
      |FROM probes p JOIN dd d ON d.fp = p.probe_fp
      |ORDER BY probe_fp, doc_id""".stripMargin

  /** x21 — WRITER EXPECTATIONS (constraint quarantine): the Delta-Live-
    * Tables / dbt-test pattern at the commit boundary — every declared
    * constraint is evaluated once per row, rows failing ANY land in a
    * QUARANTINE artifact tagged with the FIRST failing constraint (in
    * declared order — deterministic triage), clean rows commit. A bad
    * row never silently vanishes (the GDPR/audit requirement) and never
    * silently commits (the data-contract requirement). Constraints here:
    * `lang_allowed` (zh is outside the serving allowlist) then
    * `min_length` (n_chars ≥ 100). The engine physically writes BOTH
    * artifacts and aggregates by READING THEM BACK (the x7 seam rule:
    * identical counts ⟺ the split lost nothing); the oracle restates
    * the triage from source predicates. One predicate evaluation, two
    * partition-pruned writes — no joins at any scale. */
  def expectations(s: SparkSession, d: String): DataFrame = {
    // per-(session, dataset) dir, rebuilt in place per invocation — the
    // s17 rule, centralised in core.LakeDir (round-13 verdict item)
    val dir = LakeDir.scoped(s, "expect", d)
    val triaged = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        LakeTable.triageReason.as("reason"))
    triaged.where(col("reason") === "ok")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/clean")
    triaged.where(col("reason") =!= "ok")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/quarantine")
    def readBack(sub: String, disposition: String): DataFrame = s.read
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, reason STRING")
      .parquet(s"$dir/$sub")
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
      .select(lit(disposition).as("disposition"), col("reason"),
        col("n_rows"), col("sum_chars"))
    readBack("clean", "committed").unionByName(readBack("quarantine", "quarantined"))
      .orderBy(col("disposition"), col("reason"))
  }

  val expectationsSql: String =
    """WITH t AS (
      |  SELECT n_chars,
      |    CASE WHEN lang NOT IN ('en','fr','de','es') THEN 'lang_allowed'
      |         WHEN n_chars < 100 THEN 'min_length'
      |         ELSE 'ok' END AS reason
      |  FROM documents)
      |SELECT CASE WHEN reason = 'ok' THEN 'committed'
      |            ELSE 'quarantined' END AS disposition,
      |  reason, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM t GROUP BY 1, 2 ORDER BY disposition, reason""".stripMargin

  /** The per-language (n_docs, sum_chars) aggregate x24 and the
    * transaction-log gates report; their oracles restate it from source
    * predicates. */
  private def byLang(df: DataFrame): DataFrame =
    df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  /** x22 — OPTIMISTIC-CONCURRENCY COMMIT (the lake-family capstone the
    * round-13 verdict named): k11 gave a generation its manifest-validated
    * publish; x22 gives the TABLE a commit log ([[graft.lake.TxnLog]]), so
    * two uncoordinated writers can publish concurrently and the table
    * still has one linear history — the Delta `_delta_log` / Iceberg
    * snapshot-commit protocol.
    *
    * Protocol:
    *   1. A writer reads the latest committed version N.
    *   2. It prepares its OWN `gen_<uuid>` (data + k11 manifest) off to
    *      the side — data-scale work, all OUTSIDE the critical section.
    *   3. Commit = put-if-absent of the version-N+1 pointer through the
    *      [[graft.lake.CommitStore]] seam: complete the instant it
    *      appears (no reader can see a torn commit), and it fails if the
    *      version exists — the one primitive the whole protocol needs
    *      (hard link locally; S3 If-None-Match, GCS
    *      x-goog-if-generation-match, HDFS create-no-overwrite).
    *   4. A loser gets a CONFLICT: its snapshot is stale. It re-reads the
    *      new head, REBASES (re-applies its own transform to the winner's
    *      output — correct exactly when its logical operation is
    *      expressible against any snapshot) and retries at N+2, bounded.
    *
    * The gate runs the full interleaving deterministically through the
    * explicit-version CAS: both writers read v1 (the seeded corpus), A
    * (GDPR delete of `de`) wins v2, B (fr reprice, PREPARED AGAINST THE
    * STALE v1 SNAPSHOT) loses, detects the conflict, rebases on A's
    * output and commits v3. The operations commute on disjoint row sets,
    * so the final committed content is deterministic no matter who wins
    * the race — which is what lets a DuckDB oracle restate it. Served
    * through the validating read, so a torn or half-manifested
    * generation can never reach the aggregate. The spec additionally
    * races 8 threads at ONE version (exactly one winner), pins
    * loser-retry content, and pins that the stale prepared generation is
    * never the head. Scale shape: the critical section touches one
    * pointer file — data volume never enters it; prepared-but-lost
    * generations are x31 vacuum food. */
  def occCommitPublish(s: SparkSession, d: String): DataFrame =
    byLang(LakeTable.snapshot(s, occDemoLog(s, d)))

  /** Run the x22 two-writer interleaving and return the log's base dir:
    * v1 seeds the corpus, A wins v2 (deletes `de`), B conflicts with its
    * stale v1-based reprice, rebases on A's head and commits v3. Shared
    * by x22 (head read), x23/x30 (whole-history reads) and x33. */
  private[graft] def occDemoLog(s: SparkSession, d: String): String = {
    val base = LakeDir.fresh(s, "occ", d)
    val log = TxnLog.local(base)
    // v1: seed the table with the full corpus
    val gen0 = LakeTable.prepare(s, base, Tables.documents(s, d))
    require(log.tryCommit(1, Commit(gen0)), "seed commit of an empty log must win")
    // two writers each read the SAME committed snapshot (v1)
    val snapA = LakeTable.snapshot(s, base)
    val snapB = LakeTable.snapshot(s, base)
    // A prepares + wins v2: delete the de partition
    val genA = LakeTable.prepare(s, base, snapA.where(col("lang") =!= "de"))
    require(log.tryCommit(2, Commit(genA)), "writer A raced nobody at v2")
    // B prepared against the STALE v1 snapshot...
    val reprice = (df: DataFrame) => df.withColumn("n_chars",
      when(col("lang") === "fr", col("n_chars") * 2).otherwise(col("n_chars")))
    val genBStale = LakeTable.prepare(s, base, reprice(snapB))
    // ...and its commit attempt at v2 MUST lose: conflict detected, not
    // silent last-writer-wins (which would resurrect A's deleted rows)
    require(!log.tryCommit(2, Commit(genBStale)),
      "stale writer must get a conflict, not a silent overwrite")
    // rebase: re-read the NEW head, re-apply B's own transform, retry
    val genB = LakeTable.prepare(s, base, reprice(LakeTable.snapshot(s, base)))
    require(log.tryCommit(3, Commit(genB)), "rebased retry at v3 raced nobody")
    base
  }

  /** x23 — VERSIONED TIME TRAVEL THROUGH THE COMMIT LOG: x13 pinned
    * reads of retained ad-hoc generation dirs; x23 completes the x22
    * protocol by resolving EVERY committed version through the log
    * itself (`SELECT … VERSION AS OF n` over `_delta_log` / Iceberg
    * `snapshot_id` reads): each version's snapshot walk names its
    * generation, each generation serves through the k11 validating read,
    * and superseded versions stay byte-faithfully reproducible until
    * pointer vacuum expires them — the audit/repro contract that makes an
    * OCC log more than a mutex. The whole history resolves from
    * listing-scale metadata (one pointer file per version); data reads
    * stay per-generation. Oracle restates all three states from source
    * predicates, so a log that resolved a version to the wrong
    * generation (or let B's stale reprice in anywhere) cannot pass. */
  def occTimeTravel(s: SparkSession, d: String): DataFrame = {
    val base = occDemoLog(s, d)
    (1 to TxnLog.local(base).head).map { v =>
      LakeTable.snapshot(s, base, Some(v))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(v.toLong).as("version"), col("n_docs"),
          col("sum_chars").cast("long").as("sum_chars"))
    }.reduce(_ unionByName _).orderBy(col("version"))
  }

  val occTimeTravelSql: String =
    """SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT)
      |FROM documents WHERE lang <> 'de'
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(CASE WHEN lang = 'fr' THEN n_chars * 2
      |                           ELSE n_chars END) AS BIGINT)
      |FROM documents WHERE lang <> 'de'
      |ORDER BY version""".stripMargin

  /** x25 — OCC LOG CHECKPOINT (Delta's checkpoint file): resolving the
    * head by listing the whole log is O(history), which a table with
    * years of commits cannot afford, and x19-style vacuum of old version
    * POINTERS would break a listing-derived max entirely. The fix is
    * Delta's: a maintenance write drops a well-known checkpoint naming
    * the highest checkpointed version + generation, and a cold reader
    * starts THERE and probes only the tail (v+1, v+2, … until absent) —
    * O(tail since last checkpoint), independent of history length, and
    * correct even after every pre-checkpoint pointer is deleted. The
    * checkpoint write is a single-maintainer atomic replace (a reader
    * never sees a torn file), and a MISSING checkpoint just degrades to
    * the full listing — Delta's exact fallback contract. The gate builds
    * a six-version history (filter/reprice chain, each state
    * deterministic), checkpoints at v4, resolves the head through the
    * checkpoint+tail path and aggregates; the oracle restates the
    * composed final state from source predicates. The spec then DELETES
    * v1–v3 and proves resolution + content survive vacuumed history. */
  def occCheckpointRead(s: SparkSession, d: String): DataFrame = {
    val base = LakeDir.fresh(s, "occkpt", d)
    val log = TxnLog.local(base)
    // six deterministic states, each committed on the previous head
    var v = 0
    def commit(df: DataFrame): Unit = {
      v += 1
      require(log.tryCommit(v, Commit(LakeTable.prepare(s, base, df))), s"v$v raced nobody")
    }
    // full rows: the k11 manifest checksum covers the documents schema
    commit(Tables.documents(s, d))
    commit(LakeTable.snapshot(s, base).where(col("lang") =!= "de"))
    commit(LakeTable.snapshot(s, base).withColumn("n_chars",
      when(col("lang") === "fr", col("n_chars") * 2).otherwise(col("n_chars"))))
    commit(LakeTable.snapshot(s, base).where(col("n_chars") >= 100))
    log.checkpoint() // maintenance pass at v4
    commit(LakeTable.snapshot(s, base).withColumn("n_chars",
      when(col("lang") === "es", col("n_chars") * 3).otherwise(col("n_chars"))))
    commit(LakeTable.snapshot(s, base).where(col("source") =!= "web"))
    require(log.head == 6, s"checkpoint+tail resolution found v${log.head}, want v6")
    byLang(LakeTable.snapshot(s, base))
  }

  val occCheckpointReadSql: String =
    """WITH s1 AS (
      |  SELECT lang, source,
      |    CASE WHEN lang = 'fr' THEN n_chars * 2 ELSE n_chars END AS ch
      |  FROM documents WHERE lang <> 'de'),
      |s2 AS (
      |  SELECT lang, source,
      |    CASE WHEN lang = 'es' THEN ch * 3 ELSE ch END AS ch
      |  FROM s1 WHERE ch >= 100)
      |SELECT lang, count(*) AS n_docs, CAST(sum(ch) AS BIGINT) AS sum_chars
      |FROM s2 WHERE source <> 'web'
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** x26 — TRANSACTIONAL EXPECTATIONS (x21 ∘ x22): x21's quarantine is
    * the "warn" disposition — bad rows divert, clean rows commit. The
    * other mode every contract framework ships (DLT `expect_or_fail`,
    * Delta table CHECK constraints) is transactional: a batch with ANY
    * violating row must not publish AT ALL — the commit aborts before
    * the CAS, the head never moves, and the prepared generation is
    * x31 vacuum food. That is only expressible because x22 made
    * publish a two-phase prepare/commit: validation runs between the
    * phases at one predicate pass over the candidate (the x21 chain,
    * [[LakeTable.publishValidated]]), and the abort is simply "never
    * link the pointer" — no rollback machinery, nothing to clean
    * downstream, readers provably never saw it. The gate attempts a
    * DIRTY publish (the raw corpus: zh rows break `lang_allowed`,
    * short rows break `min_length`) which must abort, then the
    * triage-clean subset, which commits; the oracle restates the
    * clean state. The spec pins head-unmoved-after-abort and
    * zero-violations-at-head. */
  def txnExpectations(s: SparkSession, d: String): DataFrame = {
    val base = LakeDir.fresh(s, "occtxn", d)
    val docs = Tables.documents(s, d)
    val clean = docs.where(LakeTable.triageReason === "ok")
    require(TxnLog.local(base).tryCommit(1, Commit(LakeTable.prepare(s, base, clean.limit(0)))),
      "seeding an empty table raced nobody")
    // dirty attempt: on real corpora this ABORTS (violations exist) and
    // the head stays put; on a vacuously-clean corpus it commits —
    // either way the head only ever holds validated rows
    LakeTable.publishValidated(s, base, docs)
    LakeTable.publishValidated(s, base, clean)
    byLang(LakeTable.snapshot(s, base))
  }

  val txnExpectationsSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE lang IN ('en', 'fr', 'de', 'es') AND n_chars >= 100
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** x27 — TRANSACTIONAL APPEND LOG (the Delta txnAppId/txnVersion
    * shape, batch side): the gate splits documents into four
    * deterministic arrival batches (doc_id % 4), commits each through
    * [[LakeTable.txnAppend]] — deliberately REDELIVERING batch 2
    * mid-sequence, which must no-op rather than double-append — then pins
    * exactly one version per distinct txn and aggregates the head
    * snapshot, the union of the four added generations. The four batches
    * partition the table, so the oracle is the plain full-corpus
    * aggregate: a duplicated append, a lost batch, or a torn read all
    * mis-sum. st65 is the streaming twin driving the SAME writer from
    * foreachBatch with the Spark batchId as txnVersion — one protocol,
    * shared oracle. */
  def txnAppendLog(s: SparkSession, d: String): DataFrame = {
    val base = LakeDir.fresh(s, "occtxnlog", d)
    val docs = graft.core.Tables.documents(s, d)
    val app = "x27_writer"
    (0 until 4).foreach { b =>
      require(LakeTable.txnAppend(s, base, app, b.toLong, docs.where(col("doc_id") % 4 === b)),
        s"first delivery of batch $b must commit")
      if (b == 2)
        require(!LakeTable.txnAppend(s, base, app, 2L, docs.where(col("doc_id") % 4 === 2)),
          "a redelivered batch must no-op, not double-append")
    }
    require(TxnLog.local(base).head == 4, "exactly one committed version per distinct txn")
    byLang(LakeTable.snapshot(s, base))
  }

  val txnAppendLogSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** x28 — COMPACTION AS AN OCC COMMIT: the round-14 verdict's gap —
    * x14 plans compaction and KvGenStore compacts inline, but neither
    * publishes THROUGH the log, so until now OPTIMIZE couldn't coexist
    * with live writers. The gate fragments the corpus into four
    * single-batch generations (x27's writer), compacts through
    * [[LakeTable.compact]] — a lossless rewrite committed as a REPLACING
    * commit, so a faster writer wins the CAS and the compactor rebases —
    * pins that the head snapshot now reads ONE generation, then VACUUMS
    * every pre-compaction version pointer and serves the head anyway —
    * the read correctness the replacing commit exists to license. The
    * oracle restates the full corpus: a lossy rewrite, a double-counted
    * generation, or a walk that reads below the compaction base all
    * mis-aggregate. */
  def compactionCommit(s: SparkSession, d: String): DataFrame = {
    val base = LakeDir.fresh(s, "occcompact", d)
    val log = TxnLog.local(base)
    val docs = graft.core.Tables.documents(s, d)
    (0 until 4).foreach { b =>
      require(LakeTable.txnAppend(s, base, "x28_writer", b.toLong,
        docs.where(col("doc_id") % 4 === b)))
    }
    require(log.snapshot(4).gens.size == 4, "fixture must start fragmented")
    val cv = LakeTable.compact(s, base)
    require(cv == 5 && log.snapshot(cv).gens.size == 1,
      "head snapshot must read exactly ONE generation after compaction")
    (1 to 4).foreach(log.drop) // vacuum pre-compaction pointers
    byLang(LakeTable.snapshot(s, base))
  }

  val compactionCommitSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** x29 — SCHEMA EVOLUTION THROUGH THE LOG (the round-14 verdict's
    * item 4): x8 proved mergeSchema READS; real table formats version
    * the schema IN THE COMMIT, so ADD COLUMN is a metadata-only commit
    * (v2 below references v1's generation VERBATIM — zero data moves)
    * and readers of old versions see the old schema. Three states:
    * v1 = the 5-column corpus; v2 = ADD COLUMN quality_tier (same
    * generation, wider schema, column reads as typed NULL); v3 = a
    * writer fills the column (data commit). The gate serves all three
    * through the snapshot read, conformed to each version's schema, and
    * reports each version's schema width + rows + column sum; the oracle
    * restates them from source — a reader that leaked the new column
    * into v1, lost the nulls at v2, or dropped the fill at v3 cannot
    * match. The spec additionally pins v1/v2 sharing one generation and
    * per-version schema reproducibility after later commits land (x23's
    * discipline). */
  def schemaEvolutionLog(s: SparkSession, d: String): DataFrame = {
    val base = LakeDir.fresh(s, "occschema", d)
    val log = TxnLog.local(base)
    val ddl5 = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    val ddl6 = s"$ddl5, quality_tier BIGINT"
    val gen1 = LakeTable.prepare(s, base, graft.core.Tables.documents(s, d))
    require(log.tryCommit(1, Commit(gen1, schema = Some(ddl5))), "v1 raced nobody")
    // v2: ADD COLUMN is metadata-only — same generation, wider schema
    require(log.tryCommit(2, Commit(gen1, schema = Some(ddl6))), "v2 raced nobody")
    // v3: fill the column (a data commit on the evolved schema)
    val gen3 = LakeTable.prepare(s, base, LakeTable.snapshot(s, base, Some(2))
      .withColumn("quality_tier", expr("n_chars div 1000")))
    require(log.tryCommit(3, Commit(gen3, schema = Some(ddl6))), "v3 raced nobody")
    (1 to 3).map { v =>
      val df = LakeTable.snapshot(s, base, Some(v))
      val tier = if (df.columns.contains("quality_tier")) col("quality_tier")
        else lit(null).cast("long")
      df.agg(count(lit(1)).as("n_docs"), sum(tier).cast("long").as("sum_tier"))
        .select(lit(v.toLong).as("version"),
          lit(df.columns.length.toLong).as("n_cols"),
          col("n_docs"), col("sum_tier"))
    }.reduce(_ unionByName _).orderBy(col("version"))
  }

  val schemaEvolutionLogSql: String =
    """SELECT CAST(1 AS BIGINT) AS version, CAST(5 AS BIGINT) AS n_cols,
      |  count(*) AS n_docs, CAST(NULL AS BIGINT) AS sum_tier FROM documents
      |UNION ALL
      |SELECT 2, 6, count(*), CAST(NULL AS BIGINT) FROM documents
      |UNION ALL
      |SELECT 3, 6, count(*), CAST(sum(n_chars // 1000) AS BIGINT) FROM documents
      |ORDER BY version""".stripMargin

  /** x30 — TABLE_CHANGES THROUGH THE LOG (Delta's
    * `table_changes(start, end)` over x22's snapshot history): every
    * consecutive version pair (k-1, k) diffs through the SAME
    * [[cdcDiffFull]] the x24 closure proved lossless, each change row
    * stamped with the commit version that produced it — the audit/feed
    * read that turns a commit log into a CHANGE FEED without the writer
    * cooperating (x17's feed is writer-produced; this one is derived
    * from retained history alone). Diff cost is per-version-pair
    * key-equi-join, never all-pairs; versions resolve from
    * listing-scale metadata. The gate replays the x22 interleaving
    * (v2 = delete `de`, v3 = fr reprice) and aggregates the stamped
    * feed; the oracle restates both steps from source predicates — a
    * diff that leaks unchanged rows, drops a step, or stamps the wrong
    * version cannot match. */
  def tableChanges(s: SparkSession, d: String): DataFrame = {
    val base = occDemoLog(s, d)
    val cols = Seq("doc_id", "lang", "n_chars").map(col)
    (2 to TxnLog.local(base).head).map { v =>
      cdcDiffFull(LakeTable.snapshot(s, base, Some(v - 1)).select(cols: _*),
          LakeTable.snapshot(s, base, Some(v)).select(cols: _*))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("n_chars"), lit(0L))).as("sum_new_chars"))
        .select(lit(v.toLong).as("version"), col("change_type"),
          col("n_rows"), col("sum_new_chars").cast("long").as("sum_new_chars"))
    }.reduce(_ unionByName _).orderBy(col("version"), col("change_type"))
  }

  val tableChangesSql: String =
    """SELECT CAST(2 AS BIGINT) AS version, 'delete' AS change_type,
      |  count(*) AS n_rows, CAST(0 AS BIGINT) AS sum_new_chars
      |FROM documents WHERE lang = 'de'
      |UNION ALL
      |SELECT 3, 'update', count(*), CAST(sum(n_chars * 2) AS BIGINT)
      |FROM documents WHERE lang = 'fr' AND n_chars <> n_chars * 2
      |ORDER BY version, change_type""".stripMargin

  /** x31 — TXN-LOG VACUUM (x19's reclaim discipline composed over the
    * x27/x28 generation lifecycle): a generation is LIVE iff some
    * retained version pointer names it ([[LakeTable.vacuumPlan]]) —
    * which covers the head's read set and every version time travel can
    * still reach. Everything else under the base is reclaimable:
    * CAS-loser preparations, aborted validated commits, and
    * pre-compaction generations once their pointers are vacuumed. Pure
    * metadata set algebra (directory listing anti-join pointer names);
    * data files never open. The gate builds each orphan kind
    * deliberately — four batch commits, one prepared-but-lost
    * generation, a compaction, then pointer vacuum of v1..v4 — deletes
    * what the plan names, and proves the head still serves every row
    * (the oracle restates the corpus): a plan that reclaims a live
    * generation cannot pass, and one that misses an orphan fails the
    * spec's exact reclaim-set pin. */
  def txnLogVacuum(s: SparkSession, d: String): DataFrame = {
    val base = LakeDir.fresh(s, "occvac", d)
    val log = TxnLog.local(base)
    val docs = graft.core.Tables.documents(s, d)
    (0 until 4).foreach { b =>
      require(LakeTable.txnAppend(s, base, "x31_writer", b.toLong,
        docs.where(col("doc_id") % 4 === b)))
    }
    LakeTable.prepare(s, base, docs.limit(3)) // a CAS loser: prepared, never linked
    require(LakeTable.compact(s, base) == 5)
    // x19-style pointer vacuum, through the round-17 discipline:
    // checkpoint first (folds the four x31_writer tokens), then delete
    // only what the pointer plan releases — v1..v4, but an operator who
    // SKIPPED the checkpoint would be refused the newest-token pointer
    // instead of silently breaking idempotence (Round17Spec pins both
    // sides).
    log.checkpoint()
    val (ptrReclaim, ptrRetained) = log.pointerVacuumPlan()
    require(ptrRetained.isEmpty && ptrReclaim == Seq(1, 2, 3, 4),
      s"expected v1..v4 reclaimable after the checkpoint fold, got " +
        s"reclaim=$ptrReclaim retained=$ptrRetained")
    ptrReclaim.foreach(log.drop)
    val (live, reclaimable) = LakeTable.vacuumPlan(s, base)
    require(log.snapshot(log.head).gens.forall(live.contains),
      "the head's read set must be in the live set")
    reclaimable.foreach(g => LakeDir.delete(s, s"$base/$g"))
    // the head must survive its own vacuum, byte-complete
    byLang(LakeTable.snapshot(s, base))
  }

  val txnLogVacuumSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** x32 — TRANSACTIONAL MERGE INTO (x15's keyed-changelog arms ∘ x22's
    * protocol): the headline lake write — one keyed feed of full
    * after-images (update/delete/insert) applied to the head snapshot
    * and published as ONE commit, so a reader sees ALL of the MERGE or
    * none of it; half-applied merges are unrepresentable because apply
    * happens during prepare, off the commit path, and visibility is the
    * pointer link. A stale merger's rebase is just re-applying the SAME
    * changelog to the winner's head — licensed exactly because a keyed
    * changelog is expressible against any snapshot (the x22 rebase
    * criterion, here stated in code and spec-raced). The duplicate-
    * source-key guard (Delta/Iceberg MERGE's error) rides the same key
    * window the apply join reuses. Shares x24's oracle: the same merged
    * state, but reached through one atomic commit instead of a
    * republish. */
  def txnMerge(s: SparkSession, d: String): DataFrame = {
    val base = LakeDir.fresh(s, "occmerge", d)
    val log = TxnLog.local(base)
    val docs = graft.core.Tables.documents(s, d)
    require(log.tryCommit(1, Commit(LakeTable.prepare(s, base, docs))), "seed raced nobody")
    val gen = LakeTable.prepare(s, base,
      mergeDocsApply(LakeTable.snapshot(s, base), docsMergeFeed(docs)))
    require(log.tryCommit(2, Commit(gen)), "merge commit raced nobody")
    byLang(LakeTable.snapshot(s, base))
  }

  /** The x24-shape changelog as FULL after-image documents rows:
    * delete `de`, reprice `fr`, insert re-keyed `zh` copies. Key offset
    * via the bounded 1-row scalar read (house rule). */
  private[graft] def docsMergeFeed(docs: DataFrame): DataFrame = {
    val off = docs.agg(max(col("doc_id"))).collect()(0) match {
      case r if r.isNullAt(0) => 1L
      case r => r.getLong(0) + 1L
    }
    docs.where(col("lang") === "de")
      .select(col("doc_id"), lit("delete").as("op"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      .unionByName(docs.where(col("lang") === "fr" && col("n_chars") =!= col("n_chars") * 2)
        .select(col("doc_id"), lit("update").as("op"), col("text"),
          col("lang"), col("source"), (col("n_chars") * 2).as("n_chars")))
      .unionByName(docs.where(col("lang") === "zh")
        .select((col("doc_id") + off).as("doc_id"), lit("insert").as("op"),
          col("text"), col("lang"), col("source"), col("n_chars")))
  }

  /** MERGE arms over documents-shaped frames: survivors = snapshot
    * anti-join touched keys; update/insert after-images union in
    * verbatim. One key equi-join over the snapshot + a feed-sized
    * union — the feed is changed-rows-small, never snapshot-sized. A
    * feed carrying two rows for one key raises at execution (the
    * per-key count window shares the join's hash partitioning). */
  private[graft] def mergeDocsApply(snap: DataFrame, feed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val guarded = feed
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"),
        when(col("_n") > 1, raise_error(concat(
          lit("MERGE: changelog has multiple rows for doc_id "),
          col("doc_id").cast("string")))).otherwise(col("op")).as("op"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    val touched = guarded.where(col("op").isin("delete", "update")).select(col("doc_id"))
    snap.join(touched, Seq("doc_id"), "left_anti")
      .unionByName(guarded.where(col("op").isin("update", "insert"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
  }

  /** x33 — RESTORE TABLE TO VERSION (Delta RESTORE / Iceberg rollback):
    * undo is a NEW COMMIT whose pointer names the OLD version's
    * generation verbatim ([[graft.lake.TxnLog.restore]]) — metadata-only
    * (zero data movement, like x29's ADD COLUMN), carrying the target's
    * schema, history-preserving (the versions being undone still resolve
    * for audit; nothing is deleted), and itself undoable (a restore of
    * the restore is just another pointer). The gate builds the x22
    * three-state history, RESTOREs to v1 as v4, and serves the head —
    * which must read byte-identically to the original seed, so the
    * oracle is the plain corpus aggregate; a restore that pointed at the
    * wrong generation, or rewrote data, cannot match. The spec pins
    * generation identity (v4's blob names v1's gen), preserved history
    * (v2/v3 still serve their own states), and restore-of-restore. */
  def restoreTable(s: SparkSession, d: String): DataFrame = {
    val base = occDemoLog(s, d)
    require(TxnLog.local(base).restore(1) == 4, "restore commit raced nobody")
    byLang(LakeTable.snapshot(s, base))
  }

  val restoreTableSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  val occCommitPublishSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN lang = 'fr' THEN n_chars * 2
      |           ELSE n_chars END) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang <> 'de'
      |GROUP BY lang ORDER BY lang""".stripMargin

  override val defs: ListMap[String, QueryDef] = ListMap(
    "x1_xml_ingest" -> QueryDef(xmlIngest, Some(xmlIngestSql)),
    "x4_orc_roundtrip" -> QueryDef(orcRoundtrip, Some(orcRoundtripSql)),
    "x5_csv_roundtrip" -> QueryDef(csvRoundtrip, Some(csvRoundtripSql)),
    "x6_jsonl_roundtrip" -> QueryDef(jsonRoundtrip, Some(jsonRoundtripSql)),
    "x7_partitioned_scan" -> QueryDef(partitionedScan, Some(partitionedScanSql)),
    "x8_schema_evolution" -> QueryDef(schemaEvolution, Some(schemaEvolutionSql)),
    "x9_jsonl_gz" -> QueryDef(jsonGzRoundtrip, Some(jsonRoundtripSql)),
    "x10_codec_roundtrip" -> QueryDef(codecRoundtrip, Some(codecRoundtripSql)),
    "x11_range_layout" -> QueryDef(rangeLayout, Some(rangeLayoutSql)),
    "x12_zorder_index" -> QueryDef(zorderIndex, Some(zorderIndexSql)),
    "x13_time_travel" -> QueryDef(timeTravelRead, Some(timeTravelReadSql)),
    "x14_compaction_plan" -> QueryDef(compactionPlan, Some(compactionPlanSql)),
    "x15_merge_upsert" -> QueryDef(mergeUpsert, Some(mergeUpsertSql)),
    "x16_deletion_vectors" -> QueryDef(deletionVectors, Some(deletionVectorsSql)),
    "x17_change_feed" -> QueryDef(changeFeed, Some(changeFeedSql)),
    "x18_partition_evolution" -> QueryDef(partitionEvolution, Some(partitionEvolutionSql)),
    "x19_vacuum_plan" -> QueryDef(vacuumPlan, Some(vacuumPlanSql)),
    "x20_bloom_skipping" -> QueryDef(bloomSkipping, Some(bloomSkippingSql)),
    "x21_expectations" -> QueryDef(expectations, Some(expectationsSql)),
    "x22_occ_commit" -> QueryDef(occCommitPublish, Some(occCommitPublishSql)),
    "x23_occ_time_travel" -> QueryDef(occTimeTravel, Some(occTimeTravelSql)),
    "x24_cdc_roundtrip" -> QueryDef(cdcRoundtrip, Some(cdcRoundtripSql)),
    "x25_occ_checkpoint" -> QueryDef(occCheckpointRead, Some(occCheckpointReadSql)),
    "x26_txn_expectations" -> QueryDef(txnExpectations, Some(txnExpectationsSql)),
    "x27_txn_append_log" -> QueryDef(txnAppendLog, Some(txnAppendLogSql)),
    "x28_compaction_commit" -> QueryDef(compactionCommit, Some(compactionCommitSql)),
    "x29_schema_evolution_log" -> QueryDef(schemaEvolutionLog, Some(schemaEvolutionLogSql)),
    "x30_table_changes" -> QueryDef(tableChanges, Some(tableChangesSql)),
    "x31_txn_log_vacuum" -> QueryDef(txnLogVacuum, Some(txnLogVacuumSql)),
    // shares x24's oracle: the same merged state, but reached through ONE
    // atomic prepare/CAS commit instead of a republish
    "x32_txn_merge" -> QueryDef(txnMerge, Some(cdcRoundtripSql)),
    "x33_restore_table" -> QueryDef(restoreTable, Some(restoreTableSql)),
  )

  /** x9 — gzip-compressed JSONL round-trip: x6 through `codec=gzip`, the
    * reference's ACTUAL interchange format (every GrEBI stage pipes
    * `.jsonl.gz` — SURVEY §1.2). Identical aggregate as x6, so the two
    * share one oracle; what x9 adds is the compressed-codec path:
    * gzip's non-splittable streams mean one task per file at read time,
    * so at 100 TB the write side controls parallelism by file count —
    * size the output files (maxRecordsPerFile / repartition) BEFORE
    * compressing, which is exactly how the reference's per-datasource
    * file layout behaves under Nextflow. */
  def jsonGzRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = LakeDir.scoped(s, "jsonlgz", d)
    graft.core.Tables.documents(s, d)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "gzip").json(dir)
    s.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .json(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_len"),
        min(md5(coalesce(col("text"), lit("")))).as("min_hash"),
        max(md5(coalesce(col("text"), lit("")))).as("max_hash"))
      .orderBy(col("lang"))
  }
}
