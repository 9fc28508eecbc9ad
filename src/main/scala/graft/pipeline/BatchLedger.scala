package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The ONE exactly-once bookkeeping of the incremental state, shared by
  * [[Incremental]] and every `Incremental*` module. Each state table is a
  * parquet directory of `batch=<id>` partitions; a batch lands in its own
  * deterministic partition written with Overwrite, so a crashed-and-retried
  * batch replaces its own partial rows instead of duplicating them.
  *
  * Everything here goes through the state path's own Hadoop
  * [[FileSystem]] — the one Spark writes the tables through — so a marker
  * always lands beside the data it guards, whether the state dir is a
  * plain path, `file:/…` or `hdfs://…` (Delta Lake's idempotent-writer
  * rule: the token lives with the table; Armbrust et al., VLDB 2020).
  *
  * Two read-set shapes:
  *   - keyed ledgers (caller-supplied string keys, e.g. a Spark batchId or
  *     a file digest) read every batch but the one being (re)applied —
  *     [[table]] with `skip` — because a crash after some writes leaves
  *     that batch's partials behind with no marker, and a retry that read
  *     them would see its own rows as prior state; the marker
  *     ([[applied]] / [[markApplied]]) makes a completed batch a no-op;
  *   - Long-keyed ledgers (monotone batch ids) read STRICTLY EARLIER
  *     batches ([[before]], [[fold]]), so a redelivered batch recomputes
  *     the identical rows and its overwrite replaces them; they need no
  *     marker.
  *
  * On-disk layout: `<dir>/applied_batches/<key>` markers and
  * `<table>/batch=<id>` partitions. */
object BatchLedger {

  def fs(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  def exists(s: SparkSession, path: String): Boolean =
    fs(s, path).exists(new Path(path))

  /** A typed empty frame of `ddl`'s columns (a local relation: no job). */
  def empty(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(java.util.Collections.emptyList[Row](), StructType.fromDDL(ddl))

  /** The batch key: the caller's key made path-safe, or a unique one when
    * the call is keyless (plain at-least-once append). */
  def key(batchKey: Option[String]): String =
    batchKey.getOrElse(java.util.UUID.randomUUID.toString)
      .replaceAll("[^A-Za-z0-9._-]", "_")

  /** The partition a keyed batch's corrections to earlier batches go to,
    * so a replay of `batch=<key>` still returns exactly its own rows. */
  def fix(key: String): String = s"${key}__fix"

  private def marker(dir: String, batchKey: String): String =
    s"$dir/applied_batches/${key(Some(batchKey))}"

  /** Has the keyed batch been fully applied to the state under `dir`? */
  def applied(s: SparkSession, dir: String, batchKey: String): Boolean =
    exists(s, marker(dir, batchKey))

  /** Record the keyed batch as applied. Call it strictly LAST, after every
    * state write of the batch: its existence proves the whole update
    * landed. */
  def markApplied(s: SparkSession, dir: String, batchKey: String): Unit =
    writeAtomically(s, marker(dir, batchKey), "")

  /** Write a small file complete at first visibility: into a temp file,
    * then renamed into place. Hadoop's rename does not overwrite, so an
    * old copy is deleted first; a crash anywhere leaves the old file, no
    * file, or the new one — never a torn one. */
  def writeAtomically(s: SparkSession, path: String, body: String): Unit = {
    val f = fs(s, path)
    val dst = new Path(path)
    val tmp = new Path(s"$path.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (f.exists(dst)) f.delete(dst, false)
    require(f.rename(tmp, dst), s"rename failed at $path")
  }

  /** Path of one batch's partition of the table at `path`. */
  def part(path: String, batch: String): String = s"$path/batch=$batch"

  /** Overwrite one batch's partition of the table at `path`. */
  def put(df: DataFrame, path: String, batch: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(part(path, batch))

  /** The table at `path` as `ddl`'s columns, from every batch but `skip`,
    * or a typed empty frame when it is absent. */
  def table(s: SparkSession, path: String, ddl: String, skip: String*): DataFrame =
    read(s, path, ddl,
      if (skip.isEmpty) None else Some(skip.map(col("batch") =!= _).reduce(_ && _)))

  /** Rows of the Long-keyed table at `path` from batches strictly before
    * `batchId`, as `ddl`'s columns (`batch`, when `ddl` names it, is the
    * batch id), or a typed empty frame when it is absent. */
  def before(s: SparkSession, path: String, ddl: String, batchId: Long): DataFrame =
    read(s, path, ddl, Some(col("batch").cast("long") < batchId))

  private def read(s: SparkSession, path: String, ddl: String,
                   keep: Option[Column]): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    val stored =
      if (!exists(s, path)) None
      // a store holding only zero-row partitions has no footer to infer
      // a schema from: it reads as empty
      else try Some(s.read.parquet(path)) catch {
        case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
      }
    stored.fold(empty(s, ddl)) { df =>
      val kept = if (df.columns.contains("batch")) keep.fold(df)(df.where) else df
      kept.select(schema.fields.toIndexedSeq.map { f =>
        if (f.name == "batch") col("batch").cast(f.dataType).as("batch") else col(f.name)
      }: _*)
    }
  }

  /** The prior/new fold of a Long-keyed append-only ledger: `prior` is the
    * rows of strictly earlier batches; `fresh` is the batch's distinct new
    * rows (the non-`batch` columns of `ddl`) anti-joined against them.
    * `fresh` is materialised BEFORE the overwrite of `batch=<batchId>`, so
    * a redelivery never reads its own output, then written there. */
  def fold(s: SparkSession, path: String, ddl: String, rows: DataFrame,
           batchId: Long): (DataFrame, DataFrame) = {
    val prior = before(s, path, ddl, batchId)
    val keys = prior.columns.filterNot(_ == "batch").toSeq
    val fresh = rows.select(keys.map(col): _*).distinct()
      .join(prior, keys, "left_anti")
      .localCheckpoint()
    put(fresh, path, batchId.toString)
    (prior, fresh)
  }
}
