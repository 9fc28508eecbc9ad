package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** The ONE replay harness of the streaming layer. Every streaming twin
  * replays a table as a bounded stream (`Trigger.AvailableNow`) and runs
  * it to completion before its serving read; this object owns that
  * lifecycle, so a gate states only its source rows and what one
  * micro-batch does. The sinks are Structured Streaming's own: a memory
  * table ([[toTable]]) or `foreachBatch` with a checkpoint ([[drain]]),
  * whose batch id keys an idempotent write — the exactly-once recipe of
  * Armbrust et al., *Structured Streaming* (SIGMOD 2018).
  */
object Replay {

  /** Table `table` of the sf dir `d` (`lineitem`, `documents`, …) as a
    * bounded file stream, its schema taken from the file's footer. The
    * file source wants a directory, so it streams `d` with a glob that
    * selects the one table file. */
  def source(s: SparkSession, d: String, table: String): DataFrame = {
    val file = s"$table.parquet"
    s.readStream.schema(s.read.parquet(s"$d/$file").schema)
      .option("pathGlobFilter", file)
      .parquet(d)
  }

  /** Run `stream` to completion, handing each micro-batch and its Spark
    * batch id to `fold`. The checkpoint records the files consumed and
    * the batches committed, so a rerun over the same checkpoint resumes
    * where the last one stopped. */
  def drain(stream: DataFrame, checkpoint: String)(fold: (DataFrame, Long) => Unit): Unit =
    run(stream.writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) => fold(batch, id) }
      .option("checkpointLocation", checkpoint))

  /** Run `stream` to completion into the memory table `name` and return
    * that table. Its checkpoint is a fresh session-scoped scratch dir, so
    * a rerun replays the whole stream and the session's end removes it. */
  def toTable(stream: DataFrame, mode: OutputMode, name: String): DataFrame = {
    val checkpoint = graft.core.LakeDir.fresh(stream.sparkSession, "memory_sink", name)
    run(stream.writeStream.outputMode(mode).format("memory").queryName(name)
      .option("checkpointLocation", checkpoint))
    stream.sparkSession.table(name)
  }

  /** The even/odd replay: the rows of `table` whose `key` is even fold in
    * first as batch 0, read as one batch table; the odd ones stream in,
    * micro-batch `id` folding as batch `id + 1`. */
  def evenThenOdd(s: SparkSession, d: String, table: String, key: String,
                  checkpoint: String)(fold: (DataFrame, Long) => Unit): Unit = {
    fold(graft.core.Tables.load(s, d, table).where(col(key) % 2 === 0), 0L)
    drain(source(s, d, table).where(col(key) % 2 === 1), checkpoint) { (batch, id) =>
      fold(batch, id + 1L)
    }
  }

  private def run(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    // An AvailableNow query ends by itself once its source is drained, but
    // its thread is still finishing when processAllAvailable returns, and
    // stop() on it cancels a job group with no jobs left (two scheduler
    // warnings per query). So wait for the end, and stop() only a query
    // that a failure or an interrupt left running.
    try { q.processAllAvailable(); q.awaitTermination() }
    finally if (q.isActive) q.stop()
  }
}
