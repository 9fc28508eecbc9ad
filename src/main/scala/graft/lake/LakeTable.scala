package graft.lake

import graft.operators.MaterialiseOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Spark side of a lake table under `base`: the generation data a
  * [[TxnLog]] commit names lives in `base/<gen>/` (data + k11 manifest),
  * and every read goes through the k11 validating read, so a torn or
  * half-manifested generation throws rather than serving. The log itself
  * never opens data. */
object LakeTable {

  /** Prepare one generation (data + k11 manifest) off the commit path.
    * Returns the generation's directory name. */
  def prepare(s: SparkSession, base: String, df: DataFrame): String = {
    val gen = s"gen_${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$base/$gen/data")
    MaterialiseOps.writeManifest(s, s"$base/$gen")
    gen
  }

  /** The table at `version` (default: head): the union of its read set
    * ([[TxnLog.snapshot]]), conformed to the schema in force there. With
    * `since` > 0, only the rows versions since+1..version appended. */
  def snapshot(s: SparkSession, base: String, version: Option[Int] = None,
      since: Int = 0): DataFrame = {
    val log = TxnLog.local(base)
    val snap = log.snapshot(version.getOrElse(log.head), since)
    val rows = read(s, base, snap.gens)
    snap.schema.fold(rows)(conformTo(rows, _))
  }

  private def read(s: SparkSession, base: String, gens: Seq[String]): DataFrame =
    gens.map(g => MaterialiseOps.serveValidated(s, s"$base/$g")).reduce(_ unionByName _)

  /** Conform rows to a schema: columns the data files already carry pass
    * through (cast to the declared type); columns the schema added AFTER
    * the files were written read as typed NULLs — Delta's ADD COLUMN read
    * semantics, which is what lets the add be metadata-only. Column
    * order is the schema's. */
  private def conformTo(df: DataFrame, ddl: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    df.select(schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Idempotent transactional append (x27, st65): a REDELIVERED batch
    * (same appId, same or lower txnVersion) no-ops — exactly-once
    * visibility from at-least-once delivery; a CAS loss to a concurrent
    * writer retries at the next version (appends commute). The token is
    * checked once before the data is written, so a replay writes
    * nothing, and again in the commit loop. True iff this call moved the
    * head. */
  def txnAppend(s: SparkSession, base: String, appId: String, txnVersion: Long,
      batch: DataFrame): Boolean = {
    val log = TxnLog.local(base)
    !log.lastTxn(appId).exists(_ >= txnVersion) &&
      log.appendTxn(prepare(s, base, batch), appId, txnVersion)
  }

  /** The declared-order constraint chain shared by x21, the x26
    * validated publish and the st60 streaming monitor: the FIRST failing
    * constraint wins — lang allowlist, then min length. */
  val triageReason: Column =
    when(!col("lang").isin("en", "fr", "de", "es"), "lang_allowed")
      .when(col("n_chars") < 100, "min_length")
      .otherwise("ok")

  /** Two-phase validated publish (x26): prepare the candidate, run
    * [[triageReason]] over what was WRITTEN in one predicate pass, and
    * commit only when zero rows violate. True iff the candidate became
    * the head; an aborted candidate's generation is left unreferenced
    * (generation vacuum reclaims it). */
  def publishValidated(s: SparkSession, base: String, candidate: DataFrame): Boolean = {
    val gen = prepare(s, base, candidate)
    val violations = MaterialiseOps.serveValidated(s, s"$base/$gen")
      .where(triageReason =!= "ok").count()
    if (violations > 0) false
    else { TxnLog.local(base).publish(gen); true }
  }

  /** A generation's k11-manifest totals: (files, rows, order-blind
    * xxhash64 row-hash sum). Metadata-only — one manifest row per FILE. */
  private def manifestTotals(s: SparkSession, base: String,
      gen: String): (Long, Long, java.math.BigDecimal) = {
    val r = s.read.parquet(s"$base/$gen/_manifest")
      .agg(count(lit(1)).as("files"), sum(col("rows")).as("rows"),
        sum(col("checksum")).as("checksum")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) java.math.BigDecimal.ZERO else r.getDecimal(2))
  }

  /** x28's rewrite of the snapshot at `asOf` as ONE replacing commit,
    * prepared off the commit path: coalesced 8:1 against the live input
    * FILE count, and validated LOSSLESS by comparing k11-manifest totals
    * (row count + order-blind row-hash sum) of the rewrite against the
    * sum over its inputs — metadata-only, no second data scan. The
    * commit keeps the snapshot's schema. */
  private def compaction(s: SparkSession, base: String, asOf: Int): Commit = {
    val snap = TxnLog.local(base).snapshot(asOf)
    val inTotals = snap.gens.map(manifestTotals(s, base, _))
    val target = math.max(1L, inTotals.map(_._1).sum / 8L).toInt
    val gen = prepare(s, base, read(s, base, snap.gens).coalesce(target))
    val (_, outRows, outSum) = manifestTotals(s, base, gen)
    require(outRows == inTotals.map(_._2).sum &&
        outSum == inTotals.map(_._3).foldLeft(java.math.BigDecimal.ZERO)(_ add _),
      s"compaction rewrite lost or mutated rows under $base — refusing to commit")
    Commit(gen, schema = snap.schema)
  }

  /** Compact versions 1..asOf with the explicit-version CAS at asOf+1.
    * A writer that landed asOf+1 first WINS: this returns false and the
    * losing rewrite is generation-vacuum food. */
  def compactAt(s: SparkSession, base: String, asOf: Int): Boolean =
    TxnLog.local(base).tryCommit(asOf + 1, compaction(s, base, asOf))

  /** Compact the head through the commit loop (a lost CAS recompacts
    * the new head). Returns the committed compaction version. */
  def compact(s: SparkSession, base: String): Int =
    TxnLog.local(base).commitNext({ t =>
      require(t.version > 0, s"nothing to compact under $base")
      Some(compaction(s, base, t.version))
    }, maxAttempts = 8).get

  /** Generation-vacuum plan: (live, reclaimable) generation dir names.
    * Live = every generation a retained pointer names
    * ([[TxnLog.liveGens]]); reclaimable = listed `gen_*` dirs minus live.
    * Listing-scale; data files never open. */
  def vacuumPlan(s: SparkSession, base: String): (Set[String], Set[String]) = {
    val live = TxnLog.local(base).liveGens()
    val bp = new org.apache.hadoop.fs.Path(base)
    val all = bp.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(bp)
      .map(_.getPath.getName).filter(_.startsWith("gen_")).toSet
    (live, all -- live)
  }

  /** The three MERGE arms over explicit base (k, name, bal_cents, seg)
    * and changelog (k, op, v_cents) frames, shared by x15 and its
    * streaming twin: matched+upsert updates, matched+delete removes,
    * unmatched+upsert inserts, unmatched+delete is a no-op. One
    * full-outer equi-join; the arms are projections. A changelog
    * carrying TWO rows for one key raises at execution time
    * (Delta/Iceberg MERGE's duplicate-source-row error) — the guard is a
    * per-key count window whose hash partitioning the join on the same
    * key reuses, so the check adds no extra shuffle. */
  def mergeApply(base: DataFrame, chg: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val guarded = chg
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("k"))))
      .select(col("k"),
        when(col("_n") > 1, raise_error(concat(
          lit("MERGE: changelog has multiple rows for key "),
          col("k").cast("string")))).otherwise(col("op")).as("op"),
        col("v_cents"))
    base.join(guarded, Seq("k"), "full_outer")
      .where(col("op").isNull || col("op") =!= "delete")
      .select(col("k"),
        coalesce(col("name"), concat(lit("NEW#"), col("k").cast("string"))).as("name"),
        (coalesce(col("bal_cents"), lit(0L)) + coalesce(col("v_cents"), lit(0L)))
          .as("bal_cents"),
        coalesce(col("seg"), lit("STREAM")).as("seg"))
  }
}
