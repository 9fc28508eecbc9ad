package graft.streaming

import graft.core.{Exact, Tokens}
import graft.operators.CoOrderGraph
import graft.pipeline.BatchLedger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming layer. The reference is purely batch (SURVEY
  * §2.10) — this extends the engine with the incremental path.
  *
  * Design rule: every streaming operator has a batch twin
  * (eventsWindowed ↔ Relational.eventsHourly, sessionize ↔
  * Relational.sessionize, …) and must produce identical results on a
  * bounded replay — which is exactly what the oracle checks, since the
  * twins share one oracle.
  *
  * Every gate replays through [[Replay]]: `Replay.source` streams one
  * table of the sf dir (`Trigger.AvailableNow` makes it a bounded
  * stream), and one lifecycle runs the stream to completion. A gate
  * takes one of three shapes:
  *   - memory sink ([[Replay.toTable]]): a streaming plan — windowed
  *     aggregation with watermarks, Complete-mode aggregation,
  *     `flatMapGroupsWithState`, a stream-static join — drained into a
  *     named in-memory table that the serving read finishes;
  *   - keyed fold ([[Replay.drain]]): each micro-batch goes, with its
  *     Spark batch id as the key, to an `Incremental*` module's `update`,
  *     which applies it exactly once against its
  *     [[graft.pipeline.BatchLedger]]. The graph gates seed the even
  *     orderkeys as batch 0 and stream the odd ones as batch `id + 1`
  *     ([[Replay.evenThenOdd]]);
  *   - partials ([[Replay.drain]]): each micro-batch overwrites its own
  *     `batch=<id>` partition with mergeable partial state
  *     ([[graft.pipeline.BatchLedger.put]]), and the serving read merges
  *     every partition ([[graft.pipeline.BatchLedger.table]]: a typed
  *     empty frame when nothing landed).
  * A stateful gate keeps its state under the `stateDir` it is given and
  * its stream checkpoint at `<stateDir>/_stream_checkpoint`.
  */
object Streaming {

  /** The events table as a bounded file stream with the same
    * type-adaptive `ts` handling as the batch loader (long nanos or
    * native timestamp, by file schema). */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    // same conf hygiene as Tables.events: the legacy nanos flag is set
    // only when the footer shows genuine TIMESTAMP(NANOS) (and must then
    // stay set for the lazy stream's execution)
    if (graft.core.Tables.tsIsNanos(s, s"$d/events.parquet") &&
        !s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // NOTE: watermarks require TIMESTAMP (LTZ), so the stream keeps epoch
    // time and the batch-twin parity (which uses TIMESTAMP_NTZ) holds
    // under the engine's pinned UTC session zone — the harness sets
    // spark.sql.session.timeZone=UTC everywhere.
    val raw = Replay.source(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Where a stateful gate's stream checkpoint lives under its state dir. */
  private def checkpoint(stateDir: String): String = s"$stateDir/_stream_checkpoint"

  /** Hourly tumbling-window aggregate with a 1-hour watermark, run to
    * completion with AvailableNow and surfaced as a DataFrame. Complete
    * output mode so the trailing (still-open) windows are emitted on the
    * final batch — matching the batch twin exactly. */
  def eventsWindowed(s: SparkSession, d: String, name: String = "stream_hourly"): DataFrame = {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Exact.sumd(col("value")).as("sum_value"))
    Replay.toTable(agg, OutputMode.Complete, name)
      .select(col("window.start").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Stream-static enrichment: the event stream joined against a static
    * dimension (broadcast — no stream-side shuffle), then aggregated.
    * The standard "enrich a firehose with a dim table" shape. */
  def enrichedBySegment(s: SparkSession, d: String, name: String): DataFrame = {
    val customers = s.read.parquet(s"$d/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventsStream(s, d)
      .join(broadcast(customers), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.sumd(col("value")).as("sum_value"))
    Replay.toTable(agg, OutputMode.Complete, name)
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** Streaming exactly-once dedup: the stream is unioned with itself
    * (every event arrives twice) and `dropDuplicates` on the event id
    * restores one-row-per-event — the idempotent-ingest shape of a
    * training-data firehose. Bounded replay; production pairs this with
    * `dropDuplicatesWithinWatermark` to bound state. */
  def dedupedCounts(s: SparkSession, d: String, name: String): DataFrame = {
    // project to the two needed columns BEFORE the memory sink — the sink
    // collects on the driver, and only (event_id, event_type) is needed
    // for the dedup key + post-hoc count (full-width rows would drag the
    // whole events table into driver memory)
    val ev = eventsStream(s, d).select(col("event_id"), col("event_type"))
    val doubled = ev.unionByName(ev)
    Replay.toTable(doubled.dropDuplicates("event_id"), OutputMode.Append, name)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** Stream-stream interval join with watermarks on BOTH sides — the
    * canonical "impressions ⋈ clicks within N minutes" shape. Spark keeps
    * each side's rows in join state only until the other side's watermark
    * passes the interval bound, so state is bounded by watermark × rate,
    * not the stream length. Here the two sides split one replayed stream
    * by event-id parity (even = left, odd = right), joined per user with
    * the right event at most 5 minutes after the left. */
  def streamIntervalJoin(s: SparkSession, d: String, name: String): DataFrame = {
    val ev = eventsStream(s, d)
    val a = ev.where(col("event_id") % 2 === 0)
      .select(col("user_id").as("a_user"), col("event_id").as("a_event"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "10 minutes")
    val b = ev.where(col("event_id") % 2 === 1)
      .select(col("user_id").as("b_user"), col("event_id").as("b_event"), col("ts").as("b_ts"))
      .withWatermark("b_ts", "10 minutes")
    val joined = a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
    Replay.toTable(joined, OutputMode.Append, name)
      .select(col("a_user").as("user_id"),
        col("a_event").cast("long").as("a_event"),
        col("b_event").cast("long").as("b_event"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
      .orderBy(col("user_id"), col("a_event"), col("b_event"))
  }

  /** Sessionization via Spark's NATIVE `session_window` (merging windows,
    * 30-min gap) — the built-in mechanism, vs the hand-rolled
    * `flatMapGroupsWithState` state machine in [[sessionize]]; both must
    * match the same batch oracle. Complete mode so trailing (still-open)
    * sessions emit on the final batch. Boundary semantics agree with the
    * batch lag-based twin for all non-exact-gap data: session_window's
    * half-open [t, t+gap) treats an EXACTLY-30-minute gap as a new
    * session where the batch `> gap` check merges it — microsecond
    * timestamps make exact boundaries measure-zero. */
  def sessionizeNative(s: SparkSession, d: String, name: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
    Replay.toTable(agg, OutputMode.Complete, name)
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  /** The documents table as a bounded file stream (same glob trick as
    * [[eventsStream]]; no timestamp normalisation needed). */
  def documentsStream(s: SparkSession, d: String): DataFrame =
    Replay.source(s, d, "documents")

  /** Streaming exact corpus dedup: content-hash aggregation over the
    * document stream — min doc_id as canonical plus copy count, i.e. the
    * batch d1 operator ([[graft.operators.Dedup.exactDedup]]) expressed
    * as an incremental aggregation. Hash + doc_id are projected BEFORE
    * the aggregation so only two narrow columns stream; state is one row
    * per distinct content hash (the dedup table a continuously-ingesting
    * corpus keeps anyway). Complete mode emits the final table on the
    * bounded replay; both twins share one oracle. */
  def streamExactDedup(s: SparkSession, d: String, name: String): DataFrame = {
    val agg = documentsStream(s, d)
      .select(md5(col("text")).as("content_hash"), col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    Replay.toTable(agg, OutputMode.Complete, name)
      .orderBy(col("content_hash"))
  }

  /** Streaming near-dup detection — the production shape of incremental
    * MinHash dedup: incoming documents compute their signature band keys
    * ROW-LOCALLY (no stream-side shuffle; [[graft.operators.Dedup.bandKeysOf]]
    * is pinned byte-identical to the batch path), probe a STATIC band
    * index of the existing corpus via a stream-static equi-join, and
    * candidates verify exactly against the indexed shingle sets. With the
    * replayed corpus as both sides (old_id < new_id keeps each unordered
    * pair once), the result is exactly the batch d3 pair list — one
    * oracle for both. At scale the static side is the persisted signature
    * store (`minhashLshStaged`'s parquet), refreshed as batches land. */
  def streamNearDup(s: SparkSession, d: String, name: String): DataFrame = {
    import s.implicits._
    import graft.operators.Dedup
    val corpus = s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val staticBands = corpus
      .flatMap { case (id, t) => Dedup.bandKeysOf(Dedup.shinglesOf(t)).map((id, _)) }
      .toDF("old_id", "band")
    val staticSets = corpus
      .map { case (id, t) => val sh = Dedup.shinglesOf(t); (id, sh, sh.length.toLong) }
      .toDF("old_id", "s_old", "na")
    val stream = documentsStream(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val sh = Dedup.shinglesOf(t)
        Dedup.bandKeysOf(sh).map(b => (id, b, sh, sh.length.toLong))
      }
      .toDF("new_id", "band", "s_new", "nb")
    val cand = stream.join(staticBands, "band")
      .where(col("old_id") < col("new_id"))
      .dropDuplicates("new_id", "old_id")
    val verified = cand.join(staticSets, "old_id")
      .withColumn("inter", size(array_intersect(col("s_new"), col("s_old"))).cast("long"))
      .where(lit(3) * col("inter") >= col("na") + col("nb"))
      .select(col("old_id").as("da"), col("new_id").as("db"),
        col("inter"), col("na"), col("nb"))
    Replay.toTable(verified, OutputMode.Append, name)
      .orderBy(col("da"), col("db"))
  }

  /** st16 — STREAMING EDIT-DISTANCE VERIFY: d21's character-level
    * calibration table produced on arrival. Each incoming document
    * computes its LSH band keys ROW-LOCALLY (st7's stream-static shape),
    * probes the static band index, and every candidate pair is verified
    * with an exact Levenshtein over the 256-codepoint prefixes —
    * `old_id < new_id` keeps each unordered pair exactly once, so on a
    * full replay the result IS batch d21's table and the two share one
    * oracle. Verification cost stays |candidates|·256² per batch,
    * independent of corpus size; the static side is the persisted band
    * index at scale. */
  def streamEditVerify(s: SparkSession, d: String, name: String): DataFrame = {
    import s.implicits._
    import graft.operators.Dedup
    def prefix256(t: String): String = {
      val cp = (if (t == null) "" else t).codePoints.toArray
      new String(cp, 0, math.min(256, cp.length))
    }
    val corpus = s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val staticBands = corpus
      .flatMap { case (id, t) => Dedup.bandKeysOf(Dedup.shinglesOf(t)).map((id, _)) }
      .toDF("old_id", "band")
    val staticTxt = s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id").as("old_id"), substring(col("text"), 1, 256).as("ta"))
    val stream = documentsStream(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        Dedup.bandKeysOf(Dedup.shinglesOf(t)).map(b => (id, b, prefix256(t)))
      }
      .toDF("new_id", "band", "tb")
    val verified = stream.join(staticBands, "band")
      .where(col("old_id") < col("new_id"))
      .dropDuplicates("new_id", "old_id")
      .join(staticTxt, "old_id")
      .withColumn("edit", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("sim_permille",
        expr("1000 - (1000 * edit) div greatest(length(ta), length(tb), 1)"))
      .select(col("old_id").as("da"), col("new_id").as("db"), col("edit"),
        col("sim_permille"), (col("sim_permille") >= 900).cast("int").as("is_dup"))
    Replay.toTable(verified, OutputMode.Append, name)
      .orderBy(col("da"), col("db"))
  }

  /** Streaming REPEAT PROBE (st13): each arriving document's
    * 40-codepoint windows — hashed ROW-LOCALLY with the O(1)-per-slide
    * rolling recurrence ([[graft.functions.RollingHash.windowHashes]]) —
    * probe a static corpus window index carrying per-window distinct-doc
    * counts, yielding the d16-granularity repeat signal (how many of
    * this doc's windows are boilerplate shared with ≥ 2 docs) the moment
    * a document lands. The stream side never re-reads the corpus: one
    * flatMap + one equi-join per batch against the static index (st8's
    * stream-static design, with an 8-byte probe key). Hash collisions
    * could only OVERCOUNT ndocs on a shared bucket; the index keeps
    * distinct-doc counts per (hash, window) so the count is exact. */
  def streamRepeatProbe(s: SparkSession, d: String, name: String): DataFrame = {
    import s.implicits._
    val L = 40
    val corpus = s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)]
    val index = corpus
      .flatMap { case (id, t) =>
        val cps = t.codePoints().toArray
        graft.functions.RollingHash.windowHashes(t, L).iterator.zipWithIndex
          .map { case (h, i) => (id, h, new String(cps, i, L)) }
      }
      .toDF("doc_id", "h", "w")
      .groupBy(col("h"), col("w"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    val stream = documentsStream(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val cps = t.codePoints().toArray
        graft.functions.RollingHash.windowHashes(t, L).iterator.zipWithIndex
          .map { case (h, i) => (id, h, new String(cps, i, L)) }
      }
      .toDF("doc_id", "h", "w")
    val probed = stream.join(index, Seq("h", "w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum((coalesce(col("ndocs"), lit(1L)) >= 2).cast("long")).as("n_shared"))
    Replay.toTable(probed, OutputMode.Complete, name)
      .orderBy(col("doc_id"))
  }

  val streamRepeatProbeSql: String =
    """WITH dt AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
      |w AS (
      |  SELECT doc_id, i, substr(text, i, 40) AS w
      |  FROM (SELECT doc_id, text, unnest(generate_series(1, len(text) - 39)) AS i FROM dt)),
      |nd AS (SELECT w, count(DISTINCT doc_id) AS ndocs FROM w GROUP BY w)
      |SELECT doc_id, count(*) AS n_windows,
      |  CAST(sum(CAST(ndocs >= 2 AS BIGINT)) AS BIGINT) AS n_shared
      |FROM w JOIN nd USING (w)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Streaming DECONTAMINATION PROBE (st15): each arriving VALIDATION
    * document's distinct word 8-grams probe a static index of the train
    * split's 8-grams, yielding t11's benchmark-leakage signal the moment
    * a held-out document lands — the online form of the check every
    * training-data pipeline runs before an eval set is trusted. Split
    * assignment reuses t5/t11's single content-hash rule
    * ([[graft.operators.TextAnalysis.splitCol]]), so the three gates can
    * never drift apart. Static side: one distinct over train grams.
    * Stream side: row-local per-doc distinct grams (a doc with < 8 words
    * emits one null-gram sentinel so its zero row still appears), one
    * stream-static left join + one Complete-mode per-doc count — st8's
    * stream-static shape. Output ≡ batch t11, and the gate shares t11's
    * oracle verbatim. */
  def streamDecontamination(s: SparkSession, d: String, name: String): DataFrame = {
    import s.implicits._
    def gramsOf(t: String): Seq[String] = {
      val ws = Tokens.words(t)
      (0 to ws.length - 8).map(i => ws.slice(i, i + 8).mkString(" ")).distinct
    }
    val split = graft.operators.TextAnalysis.splitCol
    val trainGrams = s.read.parquet(s"$d/documents.parquet")
      .withColumn("split", split).where(col("split") === "train")
      .select(col("text")).as[String]
      .flatMap(gramsOf)
      .toDF("g").distinct()
      .withColumn("hit", lit(1L))
    val stream = documentsStream(s, d)
      .withColumn("split", split).where(col("split") === "val")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val gs = gramsOf(t)
        if (gs.isEmpty) Iterator((id, null: String)) else gs.iterator.map((id, _))
      }
      .toDF("doc_id", "g")
    val probed = stream.join(trainGrams, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("g")).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
    Replay.toTable(probed, OutputMode.Complete, name)
      .orderBy(col("doc_id"))
  }

  /** Streaming QUOTA ADMISSION: keep the first `quota` documents (by
    * doc_id) per source from a continuously-arriving corpus — the
    * admission-control half of a mixture policy (t19 sets the quota; this
    * enforces it online). The bounded [[graft.functions.TopKAgg]] carries
    * an O(quota) buffer as incremental streaming state, so per-source
    * state never grows with the stream — the property that makes the
    * operator runnable forever — and because "first N by doc_id" is a
    * RANK, not an arrival order, the admitted set is independent of
    * micro-batch boundaries (batch-replay deterministic, one oracle with
    * the batch twin). Sort key −doc_id turns largest-k into smallest-k;
    * the Long-keyed aggregator keeps the order exact for ALL valid ids
    * (a Double key would corrupt ties above 2⁵³). */
  def streamQuotaAdmit(s: SparkSession, d: String, name: String,
                       quota: Int = 10): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.TopKAggL(quota)
    val admitted = documentsStream(s, d)
      .select(col("source"), col("doc_id")).as[(String, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, id) => (-id, id) }
      .agg(agg.toColumn.name("top"))
      .flatMap { case (src, top) =>
        top.zipWithIndex.map { case ((_, id), i) => (src, i + 1, id) }
      }
      .toDF("source", "rank", "doc_id")
    Replay.toTable(admitted, OutputMode.Complete, name)
      .orderBy(col("source"), col("rank"))
  }

  val streamQuotaAdmitSql: String =
    """SELECT source, rank, doc_id FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rank
      |  FROM documents)
      |WHERE rank <= 10 ORDER BY source, rank""".stripMargin

  /** Streaming MIXTURE admission (st12): st9's bounded-state admission
    * driven by t19's PER-SOURCE quotas instead of one flat cap — the
    * streaming twin of t23's admit stage. The quota table is a static
    * dimension (the mixture policy applied to corpus stats, exactly
    * [[graft.pipeline.MixturePipeline.quotas]]); the stream keeps at
    * most max(quota) lowest ids per source in the TopKAgg buffer (the
    * one driver-read here is that single bounded scalar), and the final
    * rank ≤ quota filter joins the static dimension — so per-source
    * admission differs while state stays O(sources · max quota). */
  def streamMixtureAdmit(s: SparkSession, d: String, name: String,
                         budget: Long = 300): DataFrame = {
    import s.implicits._
    val quotas = graft.pipeline.MixturePipeline
      .quotas(graft.core.Tables.documents(s, d), budget)
      .select(col("source"), col("quota"))
      .localCheckpoint()
    val maxQ = quotas.agg(coalesce(max(col("quota")), lit(0L)))
      .head().getLong(0).toInt.max(1)
    val agg = new graft.functions.TopKAggL(maxQ)
    val admitted = documentsStream(s, d)
      .select(col("source"), col("doc_id")).as[(String, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, id) => (-id, id) }
      .agg(agg.toColumn.name("top"))
      .flatMap { case (src, top) =>
        top.zipWithIndex.map { case ((_, id), i) => (src, i + 1, id) }
      }
      .toDF("source", "rank", "doc_id")
    Replay.toTable(admitted, OutputMode.Complete, name)
      .join(broadcast(quotas), "source")
      .where(col("rank") <= col("quota"))
      .select(col("source"), col("rank"), col("doc_id"))
      .orderBy(col("source"), col("rank"))
  }

  val streamMixtureAdmitSql: String =
    """WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM s),
      |q AS (SELECT source, CAST((300 * weight) // t.wsum AS BIGINT) AS quota
      |      FROM s CROSS JOIN t)
      |SELECT source, rank, doc_id FROM (
      |  SELECT d.source, d.doc_id, q.quota,
      |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id ASC) AS rank
      |  FROM documents d JOIN q USING (source))
      |WHERE rank <= quota ORDER BY source, rank""".stripMargin

  /** Streaming CORPUS PIPELINE (st11): the document stream drives
    * [[graft.pipeline.IncrementalCorpus.update]] through `foreachBatch` —
    * each micro-batch's decisions land exactly-once (keyed by the Spark
    * batchId against the applied-batches marker, so a redelivered batch
    * is a no-op replay) and the state tables advance under the stream.
    * With monotone doc_ids the accumulated decisions equal the one-shot
    * t13 table, so the gate shares t13's oracle — the streaming twin of
    * the corpus side the way st7 is for d1. */
  def streamCorpus(s: SparkSession, d: String, stateDir: String): DataFrame = {
    Replay.drain(documentsStream(s, d).select(col("doc_id"), col("text"), col("lang")),
        checkpoint(stateDir)) { (batch, id) =>
      graft.pipeline.IncrementalCorpus.update(s, stateDir, batch, Some(s"stream-$id"))
    }
    s.read.parquet(s"$stateDir/decisions.parquet")
      .select(col("doc_id"), col("exact_keep"), col("neardup_keep"),
        col("lang_ok"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Streaming REPEAT REMOVAL (st14): the cleaning ACTION on arrivals —
    * the document stream drives [[graft.pipeline.IncrementalRepeats
    * .update]] through `foreachBatch` (st11's exactly-once shape: Spark
    * batchId keys the applied-batches marker, so a redelivered batch is a
    * no-op replay). Each micro-batch's documents are cleaned of
    * corpus-shared 40-codepoint repeats THE MOMENT THEY LAND — against
    * the growing window-hash index, with corrected rows appended for
    * earlier docs whose windows only now became shared — upgrading st13's
    * probe (flag-on-arrival) to d19's removal (clean-on-arrival). The
    * resolved log equals the one-shot batch d19 on the replayed corpus,
    * so the gate shares d19's oracle verbatim. */
  def streamRepeatRemoval(s: SparkSession, d: String, stateDir: String): DataFrame = {
    Replay.drain(documentsStream(s, d).select(col("doc_id"), col("text")),
        checkpoint(stateDir)) { (batch, id) =>
      graft.pipeline.IncrementalRepeats.update(s, stateDir, batch, Some(s"stream-$id"))
    }
    graft.pipeline.IncrementalRepeats.currentCleaned(s, stateDir)
      .orderBy(col("doc_id"))
  }

  /** Streaming CONNECTED COMPONENTS (st17): the reference's equivalence
    * cliques — its ONE hard single-machine ceiling (in-RAM union-find) —
    * maintained on arrival via [[graft.pipeline.IncrementalCc]]. The
    * supplier→nation and nation→region edges are the pre-seeded base
    * state; the customer edge stream then drives `update` through
    * `foreachBatch` (st11's exactly-once shape: the Spark batchId keys
    * the applied-batches marker, so a redelivered batch is a no-op
    * replay). Each micro-batch recomputes labels only for the components
    * its nodes touch — clique maintenance proportional to the arrival,
    * not the graph. Labels are monotone non-increasing, so the resolved
    * state after the bounded replay equals batch g2 and the gate shares
    * g2's oracle verbatim. */
  def streamConnectedComponents(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.core.Tables
    val node = (p: String, c: org.apache.spark.sql.Column) => graft.core.Pad.node(p, c)
    val base = Tables.supplier(s, d)
      .select(node("s:", col("s_suppkey")).as("src"), node("n:", col("s_nationkey")).as("dst"))
      .union(Tables.nation(s, d)
        .select(node("n:", col("n_nationkey")).as("src"), node("r:", col("n_regionkey")).as("dst")))
    graft.pipeline.IncrementalCc.update(s, stateDir, base, Some("base"))
    Replay.drain(Replay.source(s, d, "customer")
        .select(node("c:", col("c_custkey")).as("src"), node("n:", col("c_nationkey")).as("dst")),
        checkpoint(stateDir)) { (batch, id) =>
      graft.pipeline.IncrementalCc.update(s, stateDir, batch, Some(s"stream-$id"))
    }
    graft.pipeline.IncrementalCc.current(s, stateDir)
      .orderBy(col("member"))
  }

  /** Streaming k-CORE MEMBERSHIP (st20): g25's fixed-k (k = 26) core on
    * the supplier–part co-occurrence graph, maintained on arrival via
    * [[graft.pipeline.IncrementalKcore]] — the Sariyüce-style
    * insertion-region machinery BACKLOG required before this gate could
    * exist (membership is MONOTONE under edge insertion, so per batch
    * only the pruned BFS region around the new endpoints is peeled,
    * with the existing core as a fixed satisfied boundary). The
    * even-orderkey half of lineitem pre-seeds the base state; the
    * odd-orderkey half streams through `foreachBatch` (st11's
    * exactly-once shape — the Spark batchId keys the applied-batches
    * marker). After full replay the admitted membership equals the
    * batch g25 peel, so the gate shares g25's oracle verbatim. */
  def streamKcore(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.core.Tables
    val node = (p: String, c: org.apache.spark.sql.Column) => graft.core.Pad.node(p, c)
    val base = Tables.lineitem(s, d).where(col("l_orderkey") % 2 === 0)
      .select(node("s:", col("l_suppkey")).as("src"), node("p:", col("l_partkey")).as("dst"))
      .distinct()
    graft.pipeline.IncrementalKcore.update(s, stateDir, base, 26, Some("base"))
    Replay.drain(Replay.source(s, d, "lineitem").where(col("l_orderkey") % 2 === 1)
        .select(node("s:", col("l_suppkey")).as("src"), node("p:", col("l_partkey")).as("dst")),
        checkpoint(stateDir)) { (batch, id) =>
      graft.pipeline.IncrementalKcore.update(s, stateDir,
        batch.dropDuplicates("src", "dst"), 26, Some(s"stream-$id"))
    }
    graft.pipeline.IncrementalKcore.current(s, stateDir)
      .orderBy(col("member"))
  }

  /** Streaming LINK-PREDICTION maintenance (st21): g27's RA scores kept
    * current under arriving supplier–part membership rows via
    * [[graft.pipeline.IncrementalRa]] — join-aggregate incremental view
    * maintenance, where a new membership changes deg(p) and therefore
    * every pair's discount through that part, so the touched parts'
    * contribution blocks are recomputed and swapped by dynamic
    * partition overwrite (untouched parts' files never rewritten). The
    * even-orderkey half pre-seeds; the odd half streams through
    * `foreachBatch` with exactly-once batch markers. After replay the
    * served scores equal batch g27 and the gate shares its oracle. */
  def streamLinkPrediction(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.core.Tables
    val base = Tables.lineitem(s, d).where(col("l_orderkey") % 2 === 0)
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("p")).distinct()
    graft.pipeline.IncrementalRa.update(s, stateDir, base, Some("base"))
    Replay.drain(Replay.source(s, d, "lineitem").where(col("l_orderkey") % 2 === 1)
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("p")),
        checkpoint(stateDir)) { (batch, id) =>
      graft.pipeline.IncrementalRa.update(s, stateDir,
        batch.dropDuplicates("sk", "p"), Some(s"stream-$id"))
    }
    graft.pipeline.IncrementalRa.current(s, stateDir, minCommon = 12)
      .orderBy(col("sa"), col("sb"))
  }

  /** Streaming AS-OF PROBE (st22): a1's backward as-of join as a
    * stream-static serving operator — each arriving event micro-batch
    * matches against the STATIC deduped order dimension with the batch
    * [[graft.operators.Temporal.asofJoin]] (correct per batch because
    * the match depends only on the static side and the probing row
    * itself; no cross-batch state). The union+window as-of cannot run
    * inside a streaming plan (non-time window), so `foreachBatch`
    * applies it batch-locally and persists each batch's matches under
    * its own partition — the exactly-once overwrite pattern, so a
    * redelivered batch rewrites identical rows instead of duplicating.
    * On full replay the table equals batch a1 and the gate shares its
    * oracle verbatim. */
  def streamAsofProbe(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.core.Tables
    val ord = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .localCheckpoint() // static dim: computed once, probed every batch
    asofProbe(s, d, stateDir, ord) { (ev, o) =>
      graft.operators.Temporal.asofJoin(ev, o,
        "user_id", "ts", "o_orderdate", Seq("o_orderkey", "o_orderdate"))
    }
  }

  /** Streaming FORWARD AS-OF PROBE (st23): a6's forward as-of join as a
    * stream-static serving operator — the "what happens NEXT after this
    * event" lookup (next order at-or-after the event), st22's twin in
    * the forward direction. Same correctness argument: the match
    * depends only on the static order dimension and the probing row
    * itself, so applying the batch
    * [[graft.operators.Temporal.asofJoinForward]] per micro-batch under
    * `foreachBatch` is exact, and per-batch partition overwrite keeps
    * redelivery idempotent. On full replay the table equals batch a6
    * and the gate shares its oracle verbatim. */
  def streamAsofForwardProbe(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.core.Tables
    val ord = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(min(col("o_orderkey")).as("o_orderkey"))
      .localCheckpoint() // static dim: computed once, probed every batch
    asofProbe(s, d, stateDir, ord) { (ev, o) =>
      graft.operators.Temporal.asofJoinForward(ev, o,
        "user_id", "ts", "o_orderdate", Seq("o_orderkey", "o_orderdate"))
    }
  }

  /** st22/st23's per-batch probe: each micro-batch of events, deduped on
    * event_id, probes the static order dim `ord` through `join` and lands
    * in its own partition; the serving read is every partition. */
  private def asofProbe(s: SparkSession, d: String, stateDir: String, ord: DataFrame)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val out = s"$stateDir/out.parquet"
    Replay.drain(eventsStream(s, d).select(col("event_id"), col("user_id"), col("ts")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(join(batch.dropDuplicates("event_id"), ord)
        .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_orderdate")),
        out, id.toString)
    }
    BatchLedger.table(s, out, "event_id BIGINT, user_id BIGINT, o_orderkey BIGINT, o_orderdate DATE")
      .orderBy(col("event_id"))
  }

  /** Streaming TIME BARS (st24): a7's OHLC downsampling maintained
    * incrementally — the struct-min/max bar aggregation is ASSOCIATIVE
    * and COMMUTATIVE (open/close are (us, event_id)-ordered value
    * picks, high/low/count are semigroup merges), so each micro-batch
    * only writes its own per-(event_type, bar) PARTIAL aggregates to an
    * append-only `batch=<id>` partition. Redelivery overwrites the same
    * partition with identical rows (exactly-once without cross-batch
    * read-modify-write), and the serving read merges partials with one
    * small groupBy over ≤ |batches|×|touched bars| rows — the
    * compaction-friendly shape (a production run would fold old
    * partials into a base partition periodically; the merge is the same
    * either way). On full replay the merged table equals batch a7 and
    * the gate shares its oracle verbatim. */
  /** One batch's per-(event_type, bar) PARTIAL bar aggregates over
    * (event_type, us, event_id, value) rows — open/close carried as
    * their full (us, event_id, value) pick-structs so partials stay
    * mergeable. */
  private[graft] def barPartials(batch: DataFrame, barUs: Long): DataFrame =
    batch.groupBy(col("event_type"), floor(col("us") / barUs).as("bar"))
      .agg(
        min(struct(col("us"), col("event_id"), col("value"))).as("open_s"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("us"), col("event_id"), col("value"))).as("close_s"),
        count(lit(1)).as("n"))

  /** Merge any union of [[barPartials]] outputs into final bars —
    * associative/commutative, so batch boundaries never show. */
  private[graft] def barMerge(partials: DataFrame): DataFrame =
    partials.groupBy(col("event_type"), col("bar"))
      .agg(
        min(col("open_s")).getField("value").as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max(col("close_s")).getField("value").as("close"),
        sum(col("n")).as("n"))
      .orderBy(col("event_type"), col("bar"))

  def streamTimeBars(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val barUs = 3600L * 1000000
    val bars = s"$stateDir/bars.parquet"
    Replay.drain(eventsStream(s, d)
        .select(col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_id"), col("value")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(barPartials(batch, barUs), bars, id.toString)
    }
    val pick = "STRUCT<us: BIGINT, event_id: BIGINT, value: DOUBLE>"
    barMerge(BatchLedger.table(s, bars, s"event_type STRING, bar BIGINT, open_s $pick, " +
      s"high DOUBLE, low DOUBLE, close_s $pick, n BIGINT"))
  }

  /** Streaming SESSIONIZATION (st38): a10's inactivity-gap sessions
    * maintained incrementally — the canonical stateful-streaming
    * operator, done WITHOUT per-key driver state. Each micro-batch
    * writes its own per-user session RUNS (start, end, n_events — a10's
    * island logic applied batch-locally) to an append-only `batch=<id>`
    * partition; the serving read island-merges the runs per user with
    * the SAME gap tolerance and ranks by start. Why run-merging is
    * exact regardless of how events split across batches: run hulls
    * start/end at REAL event times, so (a) two runs whose hull gap is
    * ≤ G contain a point pair at distance ≤ G — every point between
    * two such points sits inside their span, so consecutive global
    * gaps are ≤ G and the sessions genuinely coincide — and (b) if
    * global consecutive points p, q (gap ≤ G) landed in different
    * merged islands, their runs' hulls would be ≥ G apart, forcing
    * q − p > G — contradiction. Sessions are therefore a semigroup
    * over run sets, and batch boundaries never show. On full replay
    * the merged table equals batch a10 and shares its oracle. */
  def streamSessionize(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val sessions = s"$stateDir/sessions.parquet"
    Replay.drain(eventsStream(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(sessionPartials(batch, gapUs), sessions, id.toString)
    }
    sessionMerge(BatchLedger.table(s, sessions,
        "user_id BIGINT, start_us BIGINT, end_us BIGINT, n_events BIGINT"), gapUs)
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** One batch's per-user session runs over (user_id, event_id, us). */
  private[graft] def sessionPartials(batch: DataFrame, gapUs: Long): DataFrame =
    graft.operators.Temporal.sessionizeOf(batch, gapUs)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))

  /** Island-merge any union of [[sessionPartials]] outputs back into
    * exact sessions — runs whose hull gap is ≤ gapUs coalesce (the
    * point rule "split only when strictly greater" carries over), and
    * the dense island index ordered by start IS the session index. */
  private[graft] def sessionMerge(partials: DataFrame, gapUs: Long): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("start_us"), col("end_us"))
    partials
      .withColumn("prev_max",
        max(col("end_us")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max").isNull || col("start_us") > col("prev_max") + gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_island")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(sum(col("n_events")).as("n_events"),
        min(col("start_us")).as("start_us"), max(col("end_us")).as("end_us"))
      .withColumn("dur_us", col("end_us") - col("start_us"))
  }

  /** Streaming INTERVAL COVERAGE (st42): a9's gaps-and-islands union
    * maintained as mergeable ISLAND partials — the st38 session
    * argument specialised to touch-tolerance zero: a batch's islands
    * are contiguous covered intervals whose endpoints are real
    * interval bounds, so re-islanding the union of per-batch islands
    * with the same s > prev_max rule reconstructs exactly the global
    * islands; n sums. The uptime/billing monitor shape: per-batch
    * state is the batch's island count, not its event count. On full
    * replay the table equals batch a9 and shares its oracle. */
  def streamIntervalCoverage(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val us = unix_micros(col("ts").cast("timestamp"))
    val islands = s"$stateDir/islands.parquet"
    Replay.drain(eventsStream(s, d)
        .select(col("user_id"), col("event_id"), us.as("s0"),
          (us + (graft.core.Exact.dec(col("value")) * 60000000).cast("long")).as("e0")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(graft.operators.Temporal.islandsOf(batch)
        .select(col("user_id"), col("i_start"), col("i_end"), col("n")), islands, id.toString)
    }
    mergeIslands(BatchLedger.table(s, islands,
        "user_id BIGINT, i_start BIGINT, i_end BIGINT, n BIGINT"))
      .orderBy(col("user_id"))
  }

  /** Re-island any union of per-batch island rows back into the exact
    * a9 coverage — islands whose hulls overlap or touch coalesce
    * (ties in (i_start, i_end) are order-irrelevant: overlap merges
    * regardless of which row the window visits first). */
  private[graft] def mergeIslands(partials: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("i_start"), col("i_end"))
    partials
      .withColumn("prev_max",
        max(col("i_end")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max").isNull || col("i_start") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(sum(col("n")).as("n"), min(col("i_start")).as("i_start"),
        max(col("i_end")).as("i_end"))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_islands"),
        sum(col("i_end") - col("i_start")).as("covered_us"))
  }

  /** Streaming HEAVY HITTERS (st25): p9's corpus-frequency threshold
    * maintained incrementally — each micro-batch tokenizes its own
    * documents and writes its per-word EXACT partial counts to an
    * append-only `batch=<id>` partition (idempotent under redelivery,
    * the st24 shape: counts are a semigroup, so batch boundaries never
    * show). The serving read merges partials with one groupBy-sum and
    * applies the ⌈total/2000⌉ threshold, with total summed from the
    * same partials — no side state to keep consistent. p9's Misra-Gries
    * stage is pure shuffle-avoidance for ONE-SHOT batch runs; here each
    * batch is already small, so exact per-batch partials are both
    * simpler and losslessly mergeable (MG sketches are not). On full
    * replay the table equals batch p9 and the gate shares its oracle. */
  def streamHeavyHitters(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import s.implicits._
    val wc = s"$stateDir/wc.parquet"
    Replay.drain(documentsStream(s, d).select(col("doc_id"), col("text")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(batch.where(col("text").isNotNull)
        .select(col("text")).as[String]
        .flatMap(_.trim.split("\\s+"))
        .toDF("word")
        .groupBy(col("word")).agg(count(lit(1)).as("n")), wc, id.toString)
    }
    val merged = BatchLedger.table(s, wc, "word STRING, n BIGINT")
      .groupBy(col("word")).agg(sum(col("n")).as("n"))
    merged.crossJoin(merged.agg(sum(col("n")).as("tot")))
      .where(col("n") >= expr("(tot + 1999) div 2000"))
      .select(col("word"), col("n"))
      .orderBy(col("n").desc, col("word"))
  }

  /** Streaming EXACT QUANTILES (st30): p10's inverse-CDF quantiles
    * maintained from MERGEABLE histogram state — the (group, value)
    * count is a semigroup, so each micro-batch writes its own partial
    * value-bucket counts into a `batch=<id>` partition (idempotent
    * overwrite on redelivery) and the read-side merge sums buckets
    * before running the SAME [[graft.operators.ProfilerOps
    * .quantilesOfCounts]] extraction the batch gate uses. This is the
    * quantile shape a stream can actually keep exact: raw-value state
    * grows without bound, but the bucket table grows only with the
    * distinct-value count, and every percentile read is one
    * cumulative-window pass over it. On full replay the result equals
    * batch p10 and shares its oracle. */
  def streamExactQuantiles(s: SparkSession, d: String, stateDir: String): DataFrame = {
    graft.operators.ProfilerOps.quantilesOfCounts(priceHist(s, d, stateDir), Seq(50, 90, 99))
      .orderBy(col("g"))
  }

  /** st30/st49's state: each micro-batch of orders writes its
    * per-(priority, price-in-cents) counts, and the read sums them. */
  private def priceHist(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val hist = s"$stateDir/hist.parquet"
    Replay.drain(Replay.source(s, d, "orders")
        .select(col("o_orderpriority").as("g"),
          expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)").as("v")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(batch.groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt")),
        hist, id.toString)
    }
    BatchLedger.table(s, hist, "g STRING, v BIGINT, cnt BIGINT")
      .groupBy(col("g"), col("v")).agg(sum(col("cnt")).as("cnt"))
  }

  /** Streaming GAP-FILLED BARS (st27): the serving-side composition of
    * st24's maintained state with a8's read transform — the per-batch
    * mergeable OHLC partials are folded exactly as st24 writes them,
    * and the gap-fill (calendar densify + forward fill) runs at READ
    * time over the merged bars, where it belongs: fills depend on
    * global min/max bars per key, so materialising them per batch would
    * invalidate on every extension, while the merged-bars state never
    * does. On full replay the table equals batch a8 and shares its
    * oracle. */
  def streamGapFill(s: SparkSession, d: String, stateDir: String): DataFrame =
    graft.operators.Temporal.gapFillOf(streamTimeBars(s, d, stateDir))

  /** st26/st28 precondition, checked loudly: the triangle IVM builds
    * co-order pairs PER MICRO-BATCH, so every order's rows must arrive in
    * one batch — guaranteed here only because the streamed table is a
    * single parquet file (file granularity = batch granularity). If the
    * table ever becomes a directory of part files, `pathGlobFilter`
    * (which matches leaf FILES) silently selects nothing and — worse — a
    * multi-file layout could split an order across batches and drop its
    * cross-file co-order pairs. Fail at construction, not as a confusing
    * whole-gate oracle mismatch. */
  private def requireOrderAtomicFile(s: SparkSession, d: String, table: String): Unit = {
    val f = new java.io.File(s"$d/$table")
    // missing path: state it in THIS contract's words up front — probing
    // emptiness first would surface an unrelated AnalysisException instead
    require(f.exists,
      s"$d/$table does not exist — the order-atomic streaming source needs " +
        "a single parquet file (or an empty directory-shaped table) at that path")
    // a directory-shaped table is admissible ONLY when it holds no rows
    // (an empty corpus has no orders to split); any non-empty directory
    // layout could split an order across micro-batches
    require(f.isFile || s.read.parquet(f.getPath).isEmpty,
      s"$d/$table must be a single parquet file: per-batch co-order pair " +
        "construction needs order-atomic batches, which only file " +
        "granularity guarantees (and pathGlobFilter matches leaf files only)")
  }

  /** The co-order graph gates' replay: the precondition above, then the
    * even/odd lineitem replay, each batch folding its lineitem rows. */
  private def coOrderReplay(s: SparkSession, d: String, stateDir: String)(
      fold: (DataFrame, Long) => Unit): Unit = {
    requireOrderAtomicFile(s, d, "lineitem.parquet")
    Replay.evenThenOdd(s, d, "lineitem", "l_orderkey", checkpoint(stateDir))(fold)
  }

  /** Streaming TRIANGLE COUNT (st26): g19's global triangle count
    * maintained by [[graft.pipeline.IncrementalTriangles]] — arrival-
    * rank join-delta IVM where each triangle is counted exactly once by
    * its last-arriving edge, so a batch costs the DELTA's wedge work,
    * never a recount of the accumulated graph. An even/odd orderkey
    * split seeds half the graph as a base batch and streams the rest,
    * exercising the cross-batch triangle paths (base-base-new,
    * base-new-new, new-new-new) even in single-file replay; co-order
    * pairs are built per batch, so batches must be order-atomic (file
    * granularity guarantees that here). On full replay the maintained
    * (n_edges, n_triangles) row equals batch g19 and shares its
    * oracle. */
  def streamTriangleCount(s: SparkSession, d: String, stateDir: String): DataFrame = {
    coOrderReplay(s, d, stateDir) { (li, id) =>
      graft.pipeline.IncrementalTriangles.update(s, stateDir,
        CoOrderGraph.edges(li).distinct(), id)
    }
    graft.pipeline.IncrementalTriangles.current(s, stateDir)
  }

  /** Streaming ASSORTATIVITY (st36): g39's sufficient statistics
    * maintained by [[graft.pipeline.IncrementalAssortativity]] — three
    * of the four are pure degree moments (touched-node deltas), and the
    * edge-borne Σd·d' correction is a semi-join of the old edge set
    * against the touched nodes, so a batch costs Σ_{touched} deg, never
    * a recount. Same even/odd orderkey split and order-atomicity
    * precondition as st26 (co-order pairs are built per batch). On full
    * replay the maintained row equals batch g39 and shares its
    * oracle. */
  def streamAssortativity(s: SparkSession, d: String, stateDir: String): DataFrame = {
    coOrderReplay(s, d, stateDir) { (li, id) =>
      graft.pipeline.IncrementalAssortativity.update(s, stateDir,
        CoOrderGraph.edges(li).distinct(), id)
    }
    graft.pipeline.IncrementalAssortativity.current(s, stateDir)
  }

  /** Streaming DEGREE SPECTRUM (st37): g40's count-of-degrees histogram
    * maintained by [[graft.pipeline.IncrementalDegreeSpectrum]] — a
    * batch moves each touched node from its old-degree bucket to its
    * new one, and those (deg, ±1) rows are additive across batches, so
    * the serving read is one groupBy-sum with a >0 filter. The
    * old-degree lookup semi-joins prior edges against touched nodes
    * FIRST, so a batch costs Σ_touched deg. Same even/odd orderkey
    * split and order-atomicity precondition as st26 (co-order pairs are
    * built per batch). On full replay the histogram equals batch g40
    * and shares its oracle. */
  def streamDegreeSpectrum(s: SparkSession, d: String, stateDir: String): DataFrame = {
    coOrderReplay(s, d, stateDir) { (li, id) =>
      graft.pipeline.IncrementalDegreeSpectrum.update(s, stateDir,
        CoOrderGraph.edges(li).distinct(), id)
    }
    graft.pipeline.IncrementalDegreeSpectrum.current(s, stateDir).orderBy(col("deg"))
  }

  /** Streaming BFS LAYERS (st39): g42's bounded multi-source distance
    * layers maintained by [[graft.pipeline.IncrementalBfs]] — the
    * family's first non-additive state, carried as min-mergeable
    * (seed, node, dist) rows (bounded BFS distance is monotone
    * non-increasing under insert-only edges, so min over appended rows
    * IS the current distance; seed-set churn resolves at read). Batch
    * cost is Σ_{improved} deg through ≤ maxDist relaxation rounds.
    * Same even/odd orderkey split and order-atomicity precondition as
    * st26. On full replay the layers equal batch g42 and share its
    * oracle. */
  def streamBfsLayers(s: SparkSession, d: String, stateDir: String): DataFrame = {
    coOrderReplay(s, d, stateDir) { (li, id) =>
      graft.pipeline.IncrementalBfs.update(s, stateDir, CoOrderGraph.edges(li).distinct(), id)
    }
    graft.pipeline.IncrementalBfs.current(s, stateDir)
      .orderBy(col("seed"), col("dist"))
  }

  /** Streaming KATZ WALK COUNTS (st46): g43's three sparse matvecs
    * maintained by [[graft.pipeline.IncrementalKatz]] — the bilinear
    * delta rule Δw_k = A'·Δw_{k-1} + ΔA·w_{k-1}: this batch's
    * lower-level growth cascades through the accumulated graph, and
    * walks whose k-th step uses a NEW edge are credited against the
    * pre-batch counts. Both terms are sums, so the state is plain
    * additive Δ rows. Same even/odd orderkey split and order-atomicity
    * precondition as st26. On full replay the counts equal batch g43
    * and share its oracle. */
  def streamKatzWalks(s: SparkSession, d: String, stateDir: String): DataFrame = {
    coOrderReplay(s, d, stateDir) { (li, id) =>
      graft.pipeline.IncrementalKatz.update(s, stateDir, CoOrderGraph.edges(li).distinct(), id)
    }
    graft.pipeline.IncrementalKatz.current(s, stateDir).orderBy(col("id"))
  }

  /** Streaming BOUNDED WEIGHTED SSSP (st45): g45's min-cost-within-3-hops
    * table maintained by [[graft.pipeline.IncrementalSssp]] — min-plus
    * relaxation instead of st39's hop counts, and the family's first
    * state whose edge WEIGHTS move: each arriving batch of orders grows
    * shared-order counts, re-pricing existing edges downward, so the
    * fold relaxes both this batch's improvements through the accumulated
    * graph AND the prior state through the re-priced edges. Same
    * even/odd orderkey split and order-atomicity precondition as st26
    * (counts are additive only if every order lands in one batch). On
    * full replay the distances equal batch g45 and share its oracle. */
  def streamBoundedSssp(s: SparkSession, d: String, stateDir: String): DataFrame = {
    // edge weight = the number of orders the pair shares
    coOrderReplay(s, d, stateDir) { (li, id) =>
      graft.pipeline.IncrementalSssp.update(s, stateDir,
        CoOrderGraph.orderPairs(li).groupBy(col("u"), col("v"))
          .agg(count_distinct(col("o")).as("cnt")), id)
    }
    graft.pipeline.IncrementalSssp.current(s, stateDir)
      .orderBy(col("seed"), col("node"))
  }

  /** Streaming BENFORD AUDIT (st40): p14's first-digit screen as a
    * continuously-maintained monitor — digit counts are the simplest
    * semigroup in the family (plain addition), so each micro-batch of
    * orders writes its per-digit partial counts to a `batch=<id>`
    * partition and the serving read merges them and recomputes shares
    * against the literal expectation table. This is the shape a fraud/
    * quality monitor actually runs in: the distribution updates
    * per-batch without ever rescanning history. Even/odd orderkey
    * split; on full replay the table equals batch p14 and shares its
    * oracle. */
  def streamBenford(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def digitCounts(batch: DataFrame): DataFrame =
      batch.select(regexp_extract(
          col("o_totalprice").cast(DecimalType(12, 2)).cast("string"), "[1-9]", 0)
          .as("fd"))
        .where(col("fd") =!= "")
        .select(col("fd").cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val digits = s"$stateDir/digits.parquet"
    Replay.evenThenOdd(s, d, "orders", "o_orderkey", checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(digitCounts(batch), digits, id.toString)
    }
    import s.implicits._
    val benford = graft.operators.ProfilerOps.BenfordPpm
      .toDF("digit", "benford_ppm")
    val counts = BatchLedger.table(s, digits, "digit BIGINT, n BIGINT")
      .groupBy(col("digit")).agg(sum(col("n")).as("n"))
    val total = counts.agg(coalesce(sum(col("n")), lit(0L)).as("tot"))
    benford.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        expr("CASE WHEN tot > 0 THEN (1000000 * coalesce(n, 0L)) div tot END")
          .as("share_ppm"),
        col("benford_ppm"))
      .withColumn("delta_ppm", col("share_ppm") - col("benford_ppm"))
      .orderBy(col("digit"))
  }

  /** Streaming FD AUDIT (st41): p13's violation profile maintained by
    * [[graft.pipeline.IncrementalFd]]'s pair-arrival deltas — the data-
    * contract monitor that upgrades p13 from a pre-flight check to a
    * continuously-verified invariant (an FD that breaks MID-STREAM is
    * caught at the batch that broke it). The base fold takes all six
    * audited relations except odd-order lineitem rows, which then
    * stream in for the order→supplier FD. NO order-atomicity
    * precondition: the pair-set anti-join dedups any batch split or
    * redelivery. On full replay the table equals batch p13 and shares
    * its oracle. */
  def streamFdAudit(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.core.Tables
    def fdRows(name: String, df: DataFrame, det: String, dep: String): DataFrame =
      df.select(lit(name).as("fd"), col(det).cast("string").as("x"),
          col(dep).cast("string").as("y"))
        .where(col("x").isNotNull && col("y").isNotNull)
    val li = Tables.lineitem(s, d)
    val base = Seq(
      fdRows("customer_nation_to_segment", Tables.customer(s, d), "c_nationkey", "c_mktsegment"),
      fdRows("lineitem_order_to_supplier", li.where(col("l_orderkey") % 2 === 0),
        "l_orderkey", "l_suppkey"),
      fdRows("nation_to_region", Tables.nation(s, d), "n_nationkey", "n_regionkey"),
      fdRows("orders_to_custkey", Tables.orders(s, d), "o_orderkey", "o_custkey"),
      fdRows("part_brand_to_type", Tables.part(s, d), "p_brand", "p_type"),
      fdRows("part_to_brand", Tables.part(s, d), "p_partkey", "p_brand"),
    ).reduce[DataFrame](_ unionByName _)
    graft.pipeline.IncrementalFd.update(s, stateDir, base, 0L)
    Replay.drain(Replay.source(s, d, "lineitem").where(col("l_orderkey") % 2 === 1),
        checkpoint(stateDir)) { (batch, id) =>
      graft.pipeline.IncrementalFd.update(s, stateDir,
        fdRows("lineitem_order_to_supplier", batch, "l_orderkey", "l_suppkey"), id + 1L)
    }
    graft.pipeline.IncrementalFd.current(s, stateDir,
      graft.operators.ProfilerOps.FdNames)
  }

  /** Streaming TRIAD CENSUS (st43): g46's closed forms as a PURE
    * READ-SIDE COMPOSITION of two already-maintained states — no new
    * state module at all. Every moment the census needs derives from
    * st37's degree spectrum (nv = Σ n_nodes, 2·ne = Σ deg·n_nodes,
    * wedges = Σ C(deg,2)·n_nodes) and the triangle count from st26's
    * arrival-rank IVM; both fold the same batches, so the serving read
    * is two tiny aggregates + the g46 arithmetic. This is the derived-
    * metric principle: once the histogram and the triangle count are
    * maintained, an entire family of topology numbers is free. Same
    * even/odd split and order-atomicity precondition as st26; on full
    * replay the row equals batch g46 and shares its oracle. */
  def streamTriadCensus(s: SparkSession, d: String, stateDir: String): DataFrame = {
    coOrderReplay(s, d, stateDir) { (li, id) =>
      val pairs = CoOrderGraph.edges(li).distinct().localCheckpoint() // folded into BOTH states
      graft.pipeline.IncrementalDegreeSpectrum.update(s, s"$stateDir/spec", pairs, id)
      graft.pipeline.IncrementalTriangles.update(s, s"$stateDir/tri", pairs, id)
    }
    val moments = graft.pipeline.IncrementalDegreeSpectrum.current(s, s"$stateDir/spec")
      .agg(coalesce(sum(col("n_nodes")), lit(0L)).as("nv"),
        expr("coalesce(sum(deg * n_nodes), 0L) div 2").as("ne"),
        coalesce(sum(expr("((deg * (deg - 1)) div 2) * n_nodes")), lit(0L)).as("wedges"))
    val tri = graft.pipeline.IncrementalTriangles.current(s, s"$stateDir/tri")
      .agg(coalesce(sum(col("n_triangles")), lit(0L)).as("tri"))
    moments.crossJoin(tri) // two 1-row frames
      .select(col("nv"), col("ne"), col("tri").as("n_triangle"),
        (col("wedges") - col("tri") * 3).as("n_wedge"),
        (col("ne") * (col("nv") - 2) - (col("wedges") - col("tri") * 3) * 2
          - col("tri") * 3).as("n_one_edge"))
      .withColumn("n_empty",
        expr("(nv * (nv - 1) * (nv - 2)) div 6")
          - col("n_triangle") - col("n_wedge") - col("n_one_edge"))
  }

  /** Streaming EDGE EMBEDDEDNESS (st44): g44's per-edge triangle
    * support maintained by [[graft.pipeline.IncrementalEdgeSupport]] —
    * the arrival-rank triangle delta with 3-EDGE attribution (st31
    * credited corners). Edge support never decreases under insertions
    * and edges arrive at zero, so the read left-joins the deduped edge
    * state with the summed deltas and the local-bridge row stays an
    * explicit zero. Same even/odd split and order-atomicity
    * precondition as st26. On full replay the histogram equals batch
    * g44 and shares its oracle. */
  def streamEdgeSupport(s: SparkSession, d: String, stateDir: String): DataFrame = {
    coOrderReplay(s, d, stateDir) { (li, id) =>
      graft.pipeline.IncrementalEdgeSupport.update(s, stateDir,
        CoOrderGraph.edges(li).distinct(), id)
    }
    graft.pipeline.IncrementalEdgeSupport.current(s, stateDir)
  }

  /** Streaming SAMPLED TRIANGLE COUNT (st28): g32's deterministic
    * DOULION draw composed with st26's arrival-rank IVM — because the
    * hash draw is a pure per-edge predicate, sampling COMMUTES with
    * insertion: filtering each batch's co-order pairs before the fold
    * maintains exactly the sampled graph's count, and the ×64 estimate
    * is applied at read. Per-batch cost falls ~p² on top of the IVM's
    * delta-proportionality — the two scale levers stack. On full replay
    * the row equals batch g32 and shares its oracle. */
  def streamTrianglesSampled(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val keep = graft.core.Exact.edgeDraw(col("u"), col("v"))
    coOrderReplay(s, d, stateDir) { (li, id) =>
      graft.pipeline.IncrementalTriangles.update(s, stateDir,
        CoOrderGraph.edges(li).distinct().where(keep), id)
    }
    graft.pipeline.IncrementalTriangles.current(s, stateDir)
      .select(col("n_edges").as("n_sampled_edges"),
        col("n_triangles").as("n_sampled_triangles"),
        (col("n_triangles") * lit(64L)).as("estimate"))
  }

  /** Streaming LOCAL CLUSTERING (st31): g37's per-node coefficient
    * maintained by [[graft.pipeline.IncrementalLcc]] — the st26
    * arrival-rank triangle IVM with 3-corner attribution; degrees come
    * from the edge state at read. Same single-file order-atomicity
    * precondition as st26 (co-order pairs are built per batch). On full
    * replay the table equals batch g37 and shares its oracle. */
  def streamLocalClustering(s: SparkSession, d: String, stateDir: String): DataFrame = {
    coOrderReplay(s, d, stateDir) { (li, id) =>
      graft.pipeline.IncrementalLcc.update(s, stateDir, CoOrderGraph.edges(li).distinct(), id)
    }
    graft.pipeline.IncrementalLcc.current(s, stateDir)
  }

  /** Streaming 2-HOP COUNT CUBE (st29): g36's per-root neighborhood
    * aggregation maintained under edge insertions by
    * [[graft.pipeline.IncrementalAggrCube]]. The base fold takes every
    * edge type except the ord:supplier edges of odd orders, which then
    * stream in from the lineitem file; on full replay the maintained
    * cube equals batch g36 and shares its oracle. NO order-atomicity
    * precondition (unlike st26/st28): path counts are additive over
    * (edge1, edge2) pairs and the anti-join dedups redelivered edges,
    * so a multi-file table that split an order across batches would
    * still fold exactly. */
  def streamAggrCube(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.pipeline.IncrementalAggrCube
    val (edges, types) = graft.operators.MaterialiseOps.aggrGraph(s, d)
    val ty = types.localCheckpoint() // static dim: resolved at every fold
    val oddSupplier = col("edgeType") === "ord:supplier" &&
      substring(col("fromNodeId"), 3, 9).cast("long") % 2 === 1
    val roots = graft.operators.MaterialiseOps.aggrCubeRoots
    IncrementalAggrCube.update(s, stateDir, edges.where(!oddSupplier), ty, roots, 0L)
    Replay.drain(Replay.source(s, d, "lineitem").where(col("l_orderkey") % 2 === 1)
        .select(graft.core.Pad.node("o:", col("l_orderkey")).as("fromNodeId"),
          graft.core.Pad.node("s:", col("l_suppkey")).as("toNodeId"),
          lit("ord:supplier").as("edgeType")),
        checkpoint(stateDir)) { (batch, id) =>
      IncrementalAggrCube.update(s, stateDir, batch, ty, roots, id + 1L)
    }
    IncrementalAggrCube.current(s, stateDir)
  }

  /** Streaming ANN PROBE (st18): s2's sign-bucket ANN on arrival — each
    * incoming query embedding computes its 8-bit sign bucket ROW-LOCALLY
    * (st8's stream-static shape: no stream-side shuffle), probes the
    * static bucketed-and-quantized corpus index via one equi-join, and
    * scores the bucket's candidates with the exact integer dot product
    * (codegen'd [[graft.functions.DotProductL]]). The per-query top-3 is
    * ranked on the emitted candidate table — the serving-side read; an
    * unbounded production stream would fold it into st9's bounded
    * TopKAgg state instead. With the replayed query set (vec_id < 50)
    * the result IS batch s2's table, so the two share one oracle. At
    * scale the static side is the persisted bucket index; per-batch cost
    * is |arrivals| × bucket occupancy, independent of corpus size. */
  def streamAnnProbe(s: SparkSession, d: String, name: String): DataFrame = {
    val bucket = (1 to 8).map(i =>
      when(element_at(col("embedding"), i) > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)
    val corpus = s.read.parquet(s"$d/embeddings.parquet")
      .withColumn("bucket", bucket)
      .select(col("vec_id").as("neighbor_id"), col("bucket"),
        graft.core.Exact.quantize(col("embedding"), 10000).as("q"))
    val stream = Replay.source(s, d, "embeddings")
      .where(col("vec_id") < 50)
      .withColumn("bucket", bucket)
      .select(col("vec_id").as("query_id"), col("bucket"),
        graft.core.Exact.quantize(col("embedding"), 10000).as("qv"))
    val probed = stream.join(corpus, Seq("bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", graft.functions.DotProductL(col("qv"), col("q")))
      .select(col("query_id"), col("neighbor_id"), col("dot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dot").desc, col("neighbor_id").asc)
    Replay.toTable(probed, OutputMode.Append, name)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Streaming FILTERED ANN probe (st32): s16's attribute-filtered search
    * on arrival — each incoming query embedding picks up its language via
    * a stream-static equi-join on the documents dim, then probes the
    * static corpus PRE-FILTERED on that language key (the pair space is
    * the per-language occupancy, never the corpus) and scores with the
    * exact integer dot product; `in_bucket` carries batch s16's
    * post-filter recall ceiling per emitted row. Each query row is
    * independent (no cross-row state), so append mode needs no
    * file-atomicity precondition; on the bounded replay (vec_id < 20)
    * the emitted table IS batch s16's and the two share one oracle. At
    * scale the static side is the per-language partitioned index and
    * per-batch cost is |arrivals| × language occupancy. */
  def streamFilteredAnn(s: SparkSession, d: String, name: String): DataFrame = {
    val bucket = (1 to 8).map(i =>
      when(element_at(col("embedding"), i) > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)
    val lang = s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val corpus = s.read.parquet(s"$d/embeddings.parquet")
      .withColumn("bucket", bucket)
      .join(lang, col("vec_id") === col("doc_id"))
      .select(col("vec_id").as("neighbor_id"), col("lang"),
        col("bucket").as("nbucket"),
        graft.core.Exact.quantize(col("embedding"), 10000).as("q"))
    val stream = Replay.source(s, d, "embeddings")
      .where(col("vec_id") < 20)
      .withColumn("bucket", bucket)
      .join(lang, col("vec_id") === col("doc_id"))
      .select(col("vec_id").as("query_id"), col("lang"),
        col("bucket").as("qbucket"),
        graft.core.Exact.quantize(col("embedding"), 10000).as("qv"))
    val probed = stream.join(corpus, Seq("lang"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", graft.functions.DotProductL(col("qv"), col("q")))
      .select(col("query_id"), col("neighbor_id"), col("dot"),
        when(col("nbucket") === col("qbucket"), lit(1L)).otherwise(lit(0L)).as("in_bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dot").desc, col("neighbor_id").asc)
    Replay.toTable(probed, OutputMode.Append, name)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"),
        col("in_bucket"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Streaming SOURCE-SIGNATURE maintenance (st33): t35's per-source
    * MinHash signature kept as BOUNDED streaming state — each arriving
    * document shreds to word-8-grams ROW-LOCALLY and a Complete-mode
    * aggregation maintains the K per-source component mins (min is a
    * semigroup, so batch mins fold into the running signature; state is
    * S·K longs however long the stream runs — the production
    * contamination monitor shape: signatures update online, the pairwise
    * matrix is a serving-time read over S rows). The gram lambda and
    * signature/matrix stages are the batch operator's own
    * ([[graft.operators.TextAnalysis.sourceSigFrame]]/`signatureMatrix`),
    * so on a full replay the matrix IS batch t35's and the two share one
    * oracle. */
  def streamSourceSignature(s: SparkSession, d: String, name: String): DataFrame = {
    import s.implicits._
    import graft.operators.TextAnalysis
    val sgrams = documentsStream(s, d)
      .select(col("source"), col("text")).as[(String, String)]
      .flatMap { case (src, t) =>
        val ws = Tokens.words(t)
        (0 to ws.length - 8).iterator.map(i => (src, ws.slice(i, i + 8).mkString(" ")))
      }
      .toDF("source", "g")
    val sig = TextAnalysis.sourceSigFrame(sgrams)
    // snapshot the S-row signature table before the matrix read: the
    // memory-sink view can't be self-joined directly (conflicting
    // reference resolution), and the serving read should see one
    // consistent generation anyway
    TextAnalysis.signatureMatrix(
        Replay.toTable(sig, OutputMode.Complete, name).localCheckpoint())
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Streaming HLL REGISTER maintenance (st35): t15's per-source
    * cardinality sketch as BOUNDED streaming state — every arriving
    * document computes its (bucket, rank) ROW-LOCALLY and a
    * Complete-mode max aggregation maintains the register table:
    * sources × 16 ints however long the stream runs (register max is a
    * semigroup, so batch partials fold exactly; the register TABLE is
    * the state AND the output — any consumer applies the harmonic
    * estimator downstream). The aggregation is batch t15's own
    * [[graft.operators.TextAnalysis.hllRegistersOf]]; full replay
    * equals the batch gate, shared oracle. The streaming cardinality
    * monitor every continuously-ingesting corpus wants next to its
    * count-min (st19) and heavy-hitter (st25) state. */
  def streamHllRegisters(s: SparkSession, d: String, name: String): DataFrame = {
    val agg = graft.operators.TextAnalysis.hllRegistersOf(documentsStream(s, d))
    Replay.toTable(agg, OutputMode.Complete, name)
      .orderBy(col("source"), col("bucket"))
  }

  /** Streaming MEDIA DEDUP (st34): m5's decode → content-fingerprint →
    * exact-dedup composition on arrival — each arriving doc synthesizes
    * its payload, decodes it through the REAL BMP/WAV codecs and
    * fingerprints it ROW-LOCALLY (the batch operator's own
    * [[graft.operators.Multimodal.mediaPrints]] stage, which runs
    * unchanged on a streaming Dataset), and a Complete-mode aggregation
    * maintains (canonical = min doc_id, copies) per (media_type,
    * checksum): state is one row per distinct CONTENT, not per document
    * — the dedup registry a continuously-ingesting multimodal pipeline
    * keeps. Full replay equals batch m5; shared oracle. */
  def streamMediaDedup(s: SparkSession, d: String, name: String): DataFrame = {
    val prints = graft.operators.Multimodal.mediaPrints(s,
      documentsStream(s, d).select(col("doc_id")))
    val agg = prints.groupBy(col("media_type"), col("checksum"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    Replay.toTable(agg, OutputMode.Complete, name)
      .orderBy(col("media_type"), col("checksum"))
  }

  /** Streaming COUNT-MIN maintenance (st19): p6's sketch kept as BOUNDED
    * streaming state — every arriving document's tokens fan out to their
    * 4 hash-row buckets ROW-LOCALLY ([[graft.operators.ProfilerOps.cmBucket]],
    * the shared expression, so the twins cannot drift) and a Complete-mode
    * aggregation maintains the 4×64 bucket sums: 256 counters of state no
    * matter how long the stream runs — the st9 bounded-state principle
    * applied to frequency profiling. The probe read (top-20 words, exact
    * counts, min-over-rows estimate) is the serving-side join against the
    * static corpus; on a full replay the streamed sums equal batch p6's
    * and the gate shares its oracle verbatim. */
  def streamCountMin(s: SparkSession, d: String, name: String): DataFrame = {
    import s.implicits._
    import graft.operators.ProfilerOps
    // NULL text → zero tokens, matching batch p6 and its oracle (a
    // null-mapped-to-"" would mint a phantom empty-string token here).
    val stoks = documentsStream(s, d)
      .where(col("text").isNotNull)
      .select(col("text")).as[String]
      .flatMap(_.trim.split("\\s+"))
      .toDF("word")
    val shb = stoks.select(explode(array((0 until 4).map(dd =>
        struct(lit(dd).as("d"), ProfilerOps.cmBucket(dd).as("bucket"))): _*)).as("db"))
      .select(col("db.d").as("d"), col("db.bucket").as("bucket"))
    val sketch = shb.groupBy("d", "bucket").agg(count(lit(1)).as("bsum"))
    val table = Replay.toTable(sketch, OutputMode.Complete, name)
    // serving-side probe: exact top-20 from the static corpus, estimated
    // from the streamed sketch
    val toks = s.read.parquet(s"$d/documents.parquet")
      .where(col("text").isNotNull)
      .select(col("text")).as[String]
      .flatMap(_.trim.split("\\s+"))
      .toDF("word")
    val wc = toks.groupBy("word").agg(count(lit(1)).as("n"))
    val probes = wc.orderBy(col("n").desc, col("word").asc).limit(20)
    val phb = probes.select(col("word"), col("n").as("exact_n"),
      explode(array((0 until 4).map(dd =>
        struct(lit(dd).as("d"), ProfilerOps.cmBucket(dd).as("bucket"))): _*)).as("db"))
      .select(col("word"), col("exact_n"), col("db.d").as("d"), col("db.bucket").as("bucket"))
    phb.join(broadcast(table), Seq("d", "bucket"))
      .groupBy(col("word"), col("exact_n"))
      .agg(min(col("bsum")).as("cm_n"))
      .orderBy(col("exact_n").desc, col("word").asc)
  }

  /** Per-user funnel state: the event times seen so far for each funnel
    * stage type, plus a monotone total-rows counter. */
  final case class FunnelState(view: Seq[Long], click: Seq[Long],
                               purchase: Seq[Long], seen: Long)
  final case class FunnelOut(user_id: Long, stage: Int, t1: Option[Long],
                             t2: Option[Long], t3: Option[Long], seen: Long)

  /** Streaming FUNNEL (st10): the batch a3 operator as incremental state —
    * per user the strictly-ordered view → click → purchase chain,
    * recomputed each batch from the FULL per-type time lists (the st2
    * recompute-from-state principle: a late-arriving view can move t₁
    * earlier and thereby change which click counts as t₂, so an
    * incremental "keep the current mins" state would go stale; chain
    * recomputation from sorted lists is arrival-order independent).
    * Emissions carry a monotone seen-counter; the final per-user row is
    * the one with the highest counter, making Append-mode replay agree
    * with the batch twin — one oracle for both ([[graft.operators
    * .Temporal.funnelSql]]). */
  def streamFunnel(s: SparkSession, d: String, name: String): DataFrame = {
    import s.implicits._
    val ev = eventsStream(s, d)
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)]
    val out = ev.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(FunnelState(Nil, Nil, Nil, 0L))
          var v = prev.view; var c = prev.click; var p = prev.purchase
          var seen = prev.seen
          rows.foreach { case (_, et, us) =>
            seen += 1
            et match {
              case "view"     => v = v :+ us
              case "click"    => c = c :+ us
              case "purchase" => p = p :+ us
              case _          => ()
            }
          }
          state.update(FunnelState(v, c, p, seen))
          val t1 = v.sorted.headOption
          val t2 = t1.flatMap(t => c.filter(_ > t).sorted.headOption)
          val t3 = t2.flatMap(t => p.filter(_ > t).sorted.headOption)
          val stage = if (t3.isDefined) 3 else if (t2.isDefined) 2
            else if (t1.isDefined) 1 else 0
          Iterator(FunnelOut(user, stage, t1, t2, t3, seen))
      }
    val table = Replay.toTable(out.toDF(), OutputMode.Append, name)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("seen").desc)
    table.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("stage"), col("t1"), col("t2"), col("t3"))
      .orderBy(col("user_id"))
  }

  /** Per-user session state: ALL event times seen so far (sorted). */
  final case class SessionState(times: Seq[Long])
  final case class SessionOut(user_id: Long, n_events: Long, n_sessions: Long)

  /** Stateful streaming sessionization (30-min gap), the
    * `flatMapGroupsWithState` path (SURVEY §2.10 → Spark
    * `KeyValueGroupedDataset`). Event times accumulate in state and the
    * session count is recomputed over the FULL sorted list each batch, so
    * the result is independent of arrival order ACROSS micro-batches (a
    * multi-file replay can deliver a user's later events in an earlier
    * batch; an incremental lastUs-only state would miscount those).
    * State is O(events/user) — right for a bounded replay; an unbounded
    * production stream caps it with a watermark + EventTimeTimeout,
    * trading exactness on very-late events for bounded state. */
  def sessionize(s: SparkSession, d: String, name: String = "stream_sessions"): DataFrame = {
    import s.implicits._
    val ev = eventsStream(s, d)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, Long, Long)]
    val gap = 30L * 60 * 1000000
    val out = ev.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[SessionState]) =>
          val all = (state.getOption.map(_.times).getOrElse(Seq.empty) ++
            rows.map(_._3)).sorted
          state.update(SessionState(all))
          var last = Long.MinValue
          var sessions = 0L
          all.foreach { us =>
            if (last == Long.MinValue || us - last > gap) sessions += 1
            last = us
          }
          Iterator(SessionOut(user, all.length.toLong, sessions))
      }
    // final emission per user = the one with the highest n_events
    // (monotone across batches; n_sessions alone is NOT monotone — a
    // late event can merge two sessions — so pick the row, not max())
    Replay.toTable(out.toDF(), OutputMode.Append, name)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("n_sessions"))).as("fin"))
      .select(col("user_id"), col("fin.n_events").as("n_events"),
        col("fin.n_sessions").as("n_sessions"))
      .orderBy(col("user_id"))
  }

  /** Streaming COHORT RETENTION (st47): a4's cohort matrix maintained
    * from mergeable DISTINCT-ACTIVITY partials — each micro-batch writes
    * its batch-local distinct (user_id, day) pairs to a `batch=<id>`
    * partition, and the serving read distinct-unions the partials,
    * derives each user's cohort (min day) and counts users per
    * (cohort, day-offset ≤ 7). Two properties make this the right state
    * for a growth dashboard fed by at-least-once event delivery:
    * (a) set union is IDEMPOTENT, so replayed/duplicated events across
    * batches cannot inflate any cell (the additive count states in this
    * family would double-count; the spec pins replay invariance), and
    * (b) cohorts REWIND correctly — a late batch carrying a user's
    * earlier first-seen day shifts their whole row to the older cohort
    * on the next read, with no re-attribution pass, because attribution
    * happens at read time against the min. State is per-user distinct
    * DAYS (bounded by the calendar, not event volume: a billion-event
    * user costs their active-day set), and since the per-user min is
    * non-increasing over batches, days already > min + 7 can never
    * re-enter the 7-day window — a compacting store may drop them
    * permanently; this append-only harness drops them at read. On full
    * replay the matrix equals batch a4 and shares its oracle. */
  def streamRetention(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val act = s"$stateDir/act.parquet"
    Replay.drain(eventsStream(s, d).select(col("user_id"), date_trunc("day", col("ts")).as("day")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(batch.distinct(), act, id.toString)
    }
    retentionMerge(BatchLedger.table(s, act, "user_id BIGINT, day TIMESTAMP"))
  }

  /** Streaming COLLOCATION MONITOR (st48): t41's PMI-rank collocation
    * table maintained from ADDITIVE count partials — each micro-batch of
    * documents writes its batch-local unigram counts and adjacent-pair
    * counts (both plain-addition semigroups) to `batch=<id>` partitions;
    * the serving read sums the partials and applies t41's own
    * [[graft.operators.TextAnalysis.collocationsScore]], so the support
    * floor and the lift arithmetic are shared code, not a mirror. The
    * floor applies AFTER the merge — a phrase trickling in below the
    * floor in every individual batch still surfaces once its GLOBAL
    * count crosses it (the case a per-batch filter would silently lose;
    * the spec pins it). Per-batch state is the batch's vocabulary and
    * pair spectrum, not its token volume. On full replay the table
    * equals batch t41 and shares its oracle. */
  def streamCollocations(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val (uni, bg) = (s"$stateDir/uni.parquet", s"$stateDir/bg.parquet")
    Replay.drain(documentsStream(s, d).select(col("text")), checkpoint(stateDir)) { (batch, id) =>
      import batch.sparkSession.implicits._
      val docs = batch.select(col("text")).as[String]
      BatchLedger.put(docs.flatMap(t => Tokens.words(t))
        .toDF("w").groupBy("w").agg(count(lit(1)).as("c")), uni, id.toString)
      BatchLedger.put(docs.flatMap { t =>
          val ws = Tokens.words(t)
          (0 until math.max(ws.length - 1, 0)).iterator.map(i => (ws(i), ws(i + 1)))
        }
        .toDF("w1", "w2").groupBy("w1", "w2").agg(count(lit(1)).as("n12")), bg, id.toString)
    }
    graft.operators.TextAnalysis.collocationsScore(
      BatchLedger.table(s, uni, "w STRING, c BIGINT")
        .groupBy("w").agg(sum(col("c")).as("c")),
      BatchLedger.table(s, bg, "w1 STRING, w2 STRING, n12 BIGINT")
        .groupBy("w1", "w2").agg(sum(col("n12")).as("n12")),
      minSupport = 5L, topK = 50)
  }

  /** Streaming MAD MONITOR (st49): p17's robust outlier screen as a
    * continuously-maintained state — each micro-batch of orders writes
    * its per-(group, value) HISTOGRAM partial (value-bucket counts are
    * plain addition) and the serving read merges the spectra and runs
    * batch p17's own [[graft.operators.ProfilerOps.madOutliersOfCounts]]
    * over them: both median passes and the outlier count are functions
    * of the histogram, so state per group is its value spectrum — a
    * billion-row group costs its distinct prices however long the
    * stream runs, and the 3·MAD fence is re-derived per read (an
    * anomaly monitor whose own fence updates as the distribution
    * drifts). On full replay the table equals batch p17, shared
    * oracle. */
  def streamMadOutliers(s: SparkSession, d: String, stateDir: String): DataFrame = {
    graft.operators.ProfilerOps.madOutliersOfCounts(priceHist(s, d, stateDir))
      .orderBy(col("g"))
  }

  /** Streaming SKEW-GINI MONITOR (st50): p16's inequality coefficient
    * maintained from additive per-key occurrence counts — the three
    * static key columns fold in as a base partial (the st41 pattern:
    * relations that do not stream are state generation 0) and events
    * stream their user_id occurrences per batch; the serving read sums
    * the (tag, key, cnt) partials and re-derives every column's Gini
    * through batch p16's own
    * [[graft.operators.ProfilerOps.giniOfCounts]]. The drift alarm
    * behind salting decisions, live: a key whose traffic share explodes
    * mid-stream moves its column's coefficient on the very next read,
    * with per-batch cost proportional to the batch's DISTINCT keys. On
    * full replay the table equals batch p16, shared oracle. */
  def streamSkewGini(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val keyCounts = (df: DataFrame) =>
      df.groupBy(col("tag"), col("k")).agg(count(lit(1)).as("cnt"))
    val base = Seq(
      graft.core.Tables.lineitem(s, d).select(lit("lineitem.l_partkey").as("tag"),
        col("l_partkey").cast("long").as("k")),
      graft.core.Tables.lineitem(s, d).select(lit("lineitem.l_suppkey").as("tag"),
        col("l_suppkey").cast("long").as("k")),
      graft.core.Tables.orders(s, d).select(lit("orders.o_custkey").as("tag"),
        col("o_custkey").cast("long").as("k")),
    ).reduce(_ unionByName _)
    val keys = s"$stateDir/keys.parquet"
    BatchLedger.put(keyCounts(base), keys, "base")
    Replay.drain(eventsStream(s, d)
        .select(lit("events.user_id").as("tag"), col("user_id").cast("long").as("k")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(keyCounts(batch), keys, s"ev$id")
    }
    graft.operators.ProfilerOps.giniOfCounts(
        BatchLedger.table(s, keys, "tag STRING, k BIGINT, cnt BIGINT")
          .groupBy(col("tag"), col("k")).agg(sum(col("cnt")).as("c")))
      .orderBy(col("tag"))
  }

  /** Streaming CONTINGENCY MONITOR (st51): p18's association-lift audit
    * maintained from additive CELL-COUNT partials — the orders pair
    * folds in as the base generation (the st41/st50 pattern for
    * relations that do not stream) while lineitem rows stream their
    * (returnflag, linestatus) cells per batch; the serving read sums
    * the (pair, a, b, n_ab) partials and re-derives marginals, totals
    * and lifts through batch p18's own
    * [[graft.operators.ProfilerOps.contingencyScore]]. The live data-
    * contract screen: a value combination that starts co-occurring
    * mid-stream (or one that stops) moves its cell's lift on the next
    * read, at per-batch cost bounded by the batch's OBSERVED cells.
    * On full replay the table equals batch p18, shared oracle. */
  def streamContingency(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val cellCounts = (df: DataFrame) =>
      df.groupBy(col("pair"), col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val cells = s"$stateDir/cells.parquet"
    BatchLedger.put(cellCounts(graft.core.Tables.orders(s, d)
        .select(lit("orders.orderstatus*orderpriority").as("pair"),
          col("o_orderstatus").as("a"), col("o_orderpriority").as("b"))), cells, "base")
    Replay.drain(Replay.source(s, d, "lineitem")
        .select(lit("lineitem.returnflag*linestatus").as("pair"),
          col("l_returnflag").as("a"), col("l_linestatus").as("b")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(cellCounts(batch), cells, s"li$id")
    }
    graft.operators.ProfilerOps.contingencyScore(
        BatchLedger.table(s, cells, "pair STRING, a STRING, b STRING, n_ab BIGINT")
          .groupBy(col("pair"), col("a"), col("b")).agg(sum(col("n_ab")).as("n_ab")))
      .orderBy(col("pair"), col("a"), col("b"))
  }

  /** Streaming SLICE-DRIFT MONITOR (st55): p19's train/serve
    * distribution-shift screen maintained live — the production shape of
    * a drift audit, where the reference histogram is fixed and the
    * CURRENT slice grows as traffic arrives. Both slices' per-bucket
    * counts are plain addition, so each batch contributes a
    * (bucket, n_ref, n_cur) partial and the serving read sums the
    * partials and re-derives residuals and ppm ratios through batch
    * p19's own [[graft.operators.ProfilerOps.sliceDriftOfHist]] — the
    * cross-multiplied residual recomputes against the LIVE totals, so a
    * bucket whose share moves trips the screen on the very next read
    * with per-batch cost bounded by the batch's observed buckets. On
    * full replay the table equals batch p19, shared oracle. */
  def streamSliceDrift(s: SparkSession, d: String, stateDir: String): DataFrame = {
    graft.operators.ProfilerOps.sliceDriftOfHist(refCurHist(s, d, stateDir, 5000000L))
  }

  /** st55/st59's state: each micro-batch of orders writes its per-price-
    * bucket (`bucketCents` wide) counts of reference (even custkey) and
    * current rows, and the read sums them. */
  private def refCurHist(s: SparkSession, d: String, stateDir: String,
                         bucketCents: Long): DataFrame = {
    val hist = s"$stateDir/hist.parquet"
    Replay.drain(Replay.source(s, d, "orders")
        .select((col("o_custkey") % 2 === 0).as("is_ref"),
          expr(s"cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) div $bucketCents")
            .as("bucket")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(batch.groupBy(col("bucket"))
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur")), hist, id.toString)
    }
    BatchLedger.table(s, hist, "bucket BIGINT, n_ref BIGINT, n_cur BIGINT")
      .groupBy(col("bucket"))
      .agg(sum(col("n_ref")).as("n_ref"), sum(col("n_cur")).as("n_cur"))
  }

  /** Streaming EXPECTATIONS MONITOR (st60): x21's constraint triage as a
    * live data-contract dashboard — documents stream in batches, each
    * batch's rows triage through the SAME declared-order constraint
    * chain, and the per-(disposition, reason) counts are plain addition,
    * so the monitor updates at observed-triage-class cost and a
    * constraint that starts firing mid-stream moves its row on the next
    * read. On full replay the table equals batch x21, shared oracle. */
  def streamExpectations(s: SparkSession, d: String, stateDir: String): DataFrame = {
    // the ONE triage chain, shared with batch x21 (round-13 ADVICE):
    // editing the constraint order there updates this monitor in lockstep
    val triage = (df: DataFrame) => df
      .select(col("n_chars"), graft.lake.LakeTable.triageReason.as("reason"))
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
    val triaged = s"$stateDir/triage.parquet"
    Replay.drain(documentsStream(s, d), checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(triage(batch), triaged, id.toString)
    }
    BatchLedger.table(s, triaged, "reason STRING, n_rows BIGINT, sum_chars BIGINT")
      .groupBy(col("reason"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_chars")).as("sum_chars"))
      .select(
        when(col("reason") === "ok", "committed").otherwise("quarantined")
          .as("disposition"),
        col("reason"), col("n_rows"), col("sum_chars"))
      .orderBy(col("disposition"), col("reason"))
  }

  /** Streaming QUANTILE SKETCH (st62): p21's bottom-k-by-hash sample
    * maintained from mergeable partials — each batch keeps only ITS
    * bottom-k draws per group (k rows per (group, batch), bounded
    * regardless of batch size), and the read-side merge re-truncates
    * the union through the SAME [[graft.operators.ProfilerOps.bottomK]]
    * seam the batch gate uses. The bottom-k set is a semilattice, so
    * the merged state is order-blind AND absorbs re-delivered batches
    * (idempotent — the at-least-once property the additive-count twins
    * have to earn via dedup, this one gets from the algebra). On full
    * replay the table equals batch p21, shared oracle. */
  def streamSketchQuantiles(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.operators.ProfilerOps
    val samp = s"$stateDir/samp.parquet"
    Replay.drain(Replay.source(s, d, "orders")
        .select(col("o_orderpriority").as("g"),
          expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)").as("v"),
          col("o_orderkey").as("id")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(ProfilerOps.bottomK(ProfilerOps.drawKeyed(batch), ProfilerOps.SketchK),
        samp, id.toString)
    }
    ProfilerOps.quantilesOfCounts(
        ProfilerOps.bottomK(BatchLedger.table(s, samp, "g STRING, hk STRING, v BIGINT"),
            ProfilerOps.SketchK)
          .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt")),
        Seq(50, 90, 99))
      .orderBy(col("g"))
  }

  /** Streaming MERGEABLE-MG HEAVY HITTERS (st63): p22's two-pass
    * structure with the pass-1 summary maintained from per-batch
    * Misra–Gries partials — each batch contributes AT MOST m (value,
    * counter) rows (the bounded-state answer to st25's
    * vocabulary-sized exact partials), and the read-side candidate set
    * is the pointwise SUM of the partials with NO final prune (pruning
    * only shrinks a summary; skipping it keeps the superset guarantee
    * with strictly smaller error at batches·m-bounded state). Pass 2
    * recounts the candidates exactly against the source — the same
    * fresh-scan recount batch p22 does — so the final answer equals
    * the batch gate's on full replay, shared oracle. */
  def streamMgHeavyHitters(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.operators.ProfilerOps
    val mg = s"$stateDir/mg.parquet"
    Replay.drain(Replay.source(s, d, "lineitem")
        .select(expr("cast(length(bin(l_orderkey)) as long)").as("v")),
        checkpoint(stateDir)) { (batch, id) =>
      val bs = batch.sparkSession
      import bs.implicits._
      val agg = new graft.functions.MisraGriesAgg(ProfilerOps.HhM)
      val summary = batch.select(col("v")).as[Long].select(agg.toColumn)
        .collect().headOption.getOrElse(Map.empty[Long, Long])
      BatchLedger.put(summary.toSeq.toDF("v", "c"), mg, id.toString)
    }
    val cands = BatchLedger.table(s, mg, "v BIGINT, c BIGINT")
      .groupBy(col("v")).agg(sum(col("c")).as("c"))
      .collect().map(_.getLong(0)).toSeq.sorted // batches·m-bounded read
    val src = graft.core.Tables.lineitem(s, d)
      .select(expr("cast(length(bin(l_orderkey)) as long)").as("v"))
    if (cands.isEmpty) return BatchLedger.empty(s, "v BIGINT, n_rows BIGINT")
    val counts = src.where(col("v").isin(cands: _*))
      .groupBy(col("v")).agg(count(lit(1)).as("n_rows"))
    counts.crossJoin(broadcast(src.agg(count(lit(1)).as("n"))))
      .where(col("n_rows") * ProfilerOps.HhK > col("n"))
      .select(col("v"), col("n_rows"))
      .orderBy(col("v"))
  }

  /** Streaming TOMBSTONED ANN (st64): s19's serving with the deletion
    * list maintained FROM A STREAM — delete requests (GDPR, dedup
    * retractions) arrive in batches, each batch appends only ITS dead
    * ids to the state (append-only id rows; a dead SET is the simplest
    * monotone state there is — union is associative, commutative and
    * idempotent, so redelivered batches and any arrival order land on
    * the same set), and serving anti-joins the accumulated set through
    * the SAME [[graft.operators.Similarity.tombstonedAnnOf]] seam as
    * batch s19 — deletion semantics cannot fork. On full replay the
    * table equals batch s19, shared oracle. */
  def streamTombstonedAnn(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val dead = s"$stateDir/dead.parquet"
    Replay.drain(Replay.source(s, d, "embeddings")
        .where(col("vec_id") % 5 === 3) // the delete-request feed
        .select(col("vec_id")),
        checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(batch, dead, id.toString)
    }
    graft.operators.Similarity.tombstonedAnnOf(s, d,
      BatchLedger.table(s, dead, "vec_id BIGINT"))
  }

  /** st65 — TRANSACTIONAL STREAMING SINK through the OCC log (x22∘x27,
    * the round-14 verdict's top item): the rest of the st family
    * persists per-batch state as raw `batch=<id>` parquet dirs —
    * idempotent under replay, but visibility is per-directory (a reader
    * racing the writer can see a half-written batch dir) and nothing
    * time-travels. Here foreachBatch drives [[graft.lake.LakeTable
    * .txnAppend]]: the batch is PREPARED as its own generation off
    * the commit path, then CAS-committed with the Spark batchId as the
    * txnVersion (Delta's txnAppId/txnVersion dedup) — a redelivered
    * batch finds its token already in the log and no-ops; a reader
    * never sees a half-written batch (the version pointer appears
    * complete or not at all); and the table time-travels per batch
    * through the same log x23 reads. The feed is pre-split four ways so
    * AvailableNow genuinely delivers MULTIPLE batches through the sink.
    * The committed batches partition the corpus, so the final snapshot
    * equals batch x27 — one writer protocol, shared oracle. */
  def streamTxnSink(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val feed = s"$stateDir/feed"
    graft.core.Tables.documents(s, d).repartition(4)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(feed)
    val base = s"$stateDir/table"
    Replay.drain(s.readStream.schema(s.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed),
        checkpoint(stateDir)) { (batch, id) =>
      graft.lake.LakeTable.txnAppend(batch.sparkSession, base, "st65_sink", id, batch)
    }
    graft.lake.LakeTable.snapshot(s, base)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** st66 — THE OCC LOG AS A STREAMING SOURCE (Delta streaming-source /
    * `startingVersion` semantics — st65's converse: there the log was a
    * transactional SINK, here a downstream consumer INCREMENTALLY
    * processes committed versions). Each poll resolves the head through
    * the log, processes ONLY versions offset+1..head — one validating
    * read per NEW generation, never a rescan of consumed history — and
    * folds each version's contribution (the rows it appended: the
    * snapshot read since the previous version, which refuses a version
    * that replaced the table) into per-version state dirs
    * keyed `v=<k>` (Overwrite: a redelivered version rewrites the same
    * bytes, so the consumer's offset needs no separate pointer — the
    * max state version IS the offset, derived and crash-safe). The
    * serving read sums the per-version partials: additive state, so
    * arrival grouping is invisible and the folded table equals the
    * batch aggregate over the whole log — st66 shares x27's oracle.
    * Scale shape: per-poll work is proportional to NEW commits (their
    * generations are batch-sized); the partial-state read is
    * versions × langs rows, metadata-scale. */
  def streamLogConsume(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val base = s"$stateDir/table"
    val docs = graft.core.Tables.documents(s, d)
    import graft.lake.{LakeTable, TxnLog}
    def poll(): Unit = {
      val head = TxnLog.local(base).head
      val done = consumedVersions(s, stateDir)
      ((done + 1) to head).foreach { v =>
        LakeTable.snapshot(s, base, Some(v), since = v - 1)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$stateDir/state/v=$v")
      }
    }
    // two commits land, the consumer polls; two more land, it polls again
    (0 until 2).foreach { b =>
      require(LakeTable.txnAppend(s, base, "st66_writer", b.toLong,
        docs.where(col("doc_id") % 4 === b)))
    }
    poll()
    (2 until 4).foreach { b =>
      require(LakeTable.txnAppend(s, base, "st66_writer", b.toLong,
        docs.where(col("doc_id") % 4 === b)))
    }
    poll()
    poll() // an idle poll sees no new versions and must be a no-op
    streamLogConsumeServe(s, stateDir)
  }

  /** The consumer's derived offset: the highest per-version state dir
    * already folded (0 on a fresh consumer). Listing-scale. */
  private[graft] def consumedVersions(s: SparkSession, stateDir: String): Int = {
    val state = s"$stateDir/state"
    if (!BatchLedger.exists(s, state)) 0
    else BatchLedger.fs(s, state).listStatus(new org.apache.hadoop.fs.Path(state))
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toInt }
      .foldLeft(0)(math.max)
  }

  /** Serve the consumer's folded state: sum the additive per-version
    * partials. */
  private[graft] def streamLogConsumeServe(s: SparkSession, stateDir: String): DataFrame =
    s.read.parquet(s"$stateDir/state")
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  /** Streaming KS-DRIFT MONITOR (st59): p20's max-CDF-gap statistic
    * served live from the SAME additive bucket-count state shape as
    * st55 (finer $1k buckets) — one state family, two reads: st55
    * re-derives per-bucket share residuals, st59 re-derives the
    * cumulative-gap maximum through batch p20's own
    * [[graft.operators.ProfilerOps.ksDriftOfHist]]. The classical
    * distribution-shift alarm, updating per batch at observed-bucket
    * cost. On full replay the row equals batch p20, shared oracle. */
  def streamKsDrift(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val hist = refCurHist(s, d, stateDir, 100000L)
    // the statistic is a global aggregate, one all-null row over no
    // state; a replay that landed no batch (an empty directory-shaped
    // table streams none) serves no row
    if (BatchLedger.exists(s, s"$stateDir/hist.parquet"))
      graft.operators.ProfilerOps.ksDriftOfHist(hist)
    else BatchLedger.empty(s, "t_ref BIGINT, t_cur BIGINT, max_dx BIGINT, at_bucket BIGINT")
  }

  /** Streaming MUTUAL REACHABILITY (st58): g57's forward∩backward
    * bounded traversal maintained under order arrivals — two directed
    * st39-style min-merge distance states over one accumulated edge set,
    * intersected at READ (storing the intersect would need retraction
    * when one side improves; the read-side derive needs nothing; see
    * [[graft.pipeline.IncrementalMutualReach]]). Unlike the set-state
    * twins this one carries a PER-ORDER ATOMICITY precondition: ring
    * edges derive from a window over each order's lines, so batches must
    * ship whole orders (the CDC transaction boundary) — which the
    * orderkey-split replay here does by construction. On full replay the
    * table equals batch g57, shared oracle. */
  def streamMutualReachability(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.operators.MaterialiseOps
    import graft.pipeline.IncrementalMutualReach
    Replay.evenThenOdd(s, d, "lineitem", "l_orderkey", checkpoint(stateDir)) { (li, id) =>
      IncrementalMutualReach.update(s, stateDir,
        MaterialiseOps.orderRingEdges(li.where(col("l_orderkey") % 17 === 0)), id)
    }
    IncrementalMutualReach.current(s, stateDir).orderBy(col("seed"))
  }

  /** Streaming MERGE APPLY (st57): x15's CDC-fed lake upsert with the
    * changelog itself maintained incrementally — the modern pipeline
    * shape (change feed → streaming apply) where events arrive in
    * batches and the per-key changelog state is TWO semigroups folded
    * together: the balance delta is an additive cents sum, and the
    * op-deciding "last event" is a max over (ts, event_id, type)
    * structs (event ids are unique, so the lexicographic max IS the
    * batch row_number()-desc pick — no order-atomicity precondition,
    * partials merge associatively). The serving read merges the
    * partials, re-derives the changelog (including the synthetic
    * new-account feed at the data-derived offset), and applies the same
    * three-arm [[graft.lake.LakeTable.mergeApply]] as batch x15
    * against the static base. On full replay the table equals batch
    * x15, shared oracle. */
  def streamMergeUpsert(s: SparkSession, d: String, stateDir: String): DataFrame = {
    val cents = (c: org.apache.spark.sql.Column) =>
      (graft.core.Exact.dec(c) * 100).cast("long")
    val partials = (df: DataFrame) => df
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id"),
        col("event_type"), cents(col("value")).as("v"))
      .groupBy(col("user_id"))
      .agg(sum(col("v")).as("v_part"),
        max(struct(col("us"), col("event_id"), col("event_type"))).as("last"))
    val chg = s"$stateDir/chg.parquet"
    Replay.drain(eventsStream(s, d), checkpoint(stateDir)) { (batch, id) =>
      BatchLedger.put(partials(batch), chg, id.toString)
    }
    val base = graft.core.Tables.customer(s, d).select(col("c_custkey").as("k"),
      col("c_name").as("name"), cents(col("c_acctbal")).as("bal_cents"),
      col("c_mktsegment").as("seg"))
    val merged = BatchLedger.table(s, chg, "user_id BIGINT, v_part BIGINT, " +
        "last STRUCT<us: BIGINT, event_id: BIGINT, event_type: STRING>")
      .groupBy(col("user_id"))
      .agg(sum(col("v_part")).as("v_cents"), max(col("last")).as("last"))
      .select(col("user_id"), col("v_cents"), col("last").getField("event_type").as("lt"))
    def maxKey(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).collect().headOption
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
        .getOrElse(0L)
    val off = math.max(maxKey(merged, "user_id"), maxKey(base, "k")) + 1L
    val changes = merged.select(col("user_id").as("k"),
        when(col("lt") === "error", lit("delete")).otherwise(lit("upsert")).as("op"),
        col("v_cents"))
      .unionByName(merged.select((col("user_id") + off).as("k"),
        lit("upsert").as("op"), col("v_cents")))
    graft.lake.LakeTable.mergeApply(base, changes).orderBy(col("k"))
  }

  /** Streaming HITS (st56): g55's hubs-and-authorities maintained under
    * purchase-edge arrivals — the st46 bilinear IVM discipline extended
    * to an ALTERNATING-TRANSPOSE cascade (four half-steps, the delta
    * identity Δ(M·w) = M'·Δw + ΔM·w_old applied with M flipping between
    * Bᵀ and B; see [[graft.pipeline.IncrementalHits]]). The edge
    * relation is fact-derived the st52 way: lineitem streams, each
    * batch's (c, p) pairs come from the batch joined against the static
    * orders dimension, and the accumulated-distinct anti-join makes
    * redelivery a no-op. On full replay the table equals batch g55,
    * shared oracle. */
  def streamHits(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.pipeline.IncrementalHits
    val ordersDim = graft.core.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("c"))
      .localCheckpoint()
    def toPairs(li: DataFrame): DataFrame = li
      .select(col("l_orderkey"), col("l_suppkey").cast("long").as("p"))
      .join(ordersDim, col("o_orderkey") === col("l_orderkey"))
      .select(col("c"), col("p")).distinct()
    Replay.evenThenOdd(s, d, "lineitem", "l_orderkey", checkpoint(stateDir)) { (li, id) =>
      IncrementalHits.update(s, stateDir, toPairs(li), id)
    }
    IncrementalHits.current(s, stateDir).orderBy(col("kind"), col("id"))
  }

  /** Streaming GWAS MATCH-CHAIN (st52): g48's 4-hop notebook chain
    * maintained incrementally. The join-chain product rule says a
    * k-way join's delta is the sum of k terms (Δ_i against the other
    * relations' accumulated states — the st46 bilinear discipline
    * generalised); here only ONE of the four hops derives from the fact
    * stream (the `impc:mouseAlleleId` edges come from lineitem; the
    * snp/disease/phenotype/assoc hops are dimension tables), so the rule
    * degenerates to a single term: Δpairs ⋈ the STATIC prefix of all
    * pre-allele bindings, computed once and reused every batch — the
    * 100 TB shape, since the fact relation is the only one that grows.
    * Two state stores: (a) the SEEN (massoc, allele) pair set, appended
    * per batch as the anti-joined NEW-distinct delta — the per-batch
    * partitions are DISJOINT sets, so reading them all is O(|seen|),
    * not O(Σ batch sizes), and a redelivered batch anti-joins to an
    * empty delta (idempotent, like st47's set state — no
    * order-atomicity precondition); (b) per-batch grouped deltas from
    * [[graft.operators.MaterialiseOps.gwasRollup]] — counts over
    * disjoint pair sets are additive and sample_allele is
    * min-mergeable, so the serving read is one grouped merge. On full
    * replay the table equals batch g48 and shares its oracle. */
  def streamGwasChain(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.operators.MaterialiseOps
    val prefix = MaterialiseOps.gwasPrefix(s, d).localCheckpoint()
    val alleles = MaterialiseOps.gwasAlleles(s, d).localCheckpoint()
    def toPairs(li: DataFrame): DataFrame =
      li.select(graft.core.Pad.node("s:", col("l_suppkey")).as("massoc"),
        graft.core.Pad.node("p:", col("l_partkey")).as("allele")).distinct()
    Replay.evenThenOdd(s, d, "lineitem", "l_orderkey", checkpoint(stateDir)) { (li, id) =>
      gwasChainFold(s, stateDir, prefix, alleles, toPairs(li), id)
    }
    gwasChainServe(s, stateDir)
  }

  /** One st52 fold: anti-join the batch's pairs against the seen set,
    * append the disjoint delta, and write its grouped contribution. */
  private[graft] def gwasChainFold(s: SparkSession, stateDir: String,
      prefix: DataFrame, alleles: DataFrame,
      batchPairs: DataFrame, id: Long): Unit = {
    val (_, newPairs) = BatchLedger.fold(s, s"$stateDir/pairs.parquet",
      "massoc STRING, allele STRING", batchPairs, id)
    BatchLedger.put(graft.operators.MaterialiseOps.gwasRollup(prefix, newPairs, alleles),
      s"$stateDir/groups.parquet", id.toString)
  }

  /** Merge the grouped deltas: counts over disjoint pair sets add,
    * sample_allele is min-mergeable. */
  private[graft] def gwasChainServe(s: SparkSession, stateDir: String): DataFrame =
    s.read.parquet(s"$stateDir/groups.parquet").drop("batch")
      .groupBy(col("route"), col("snp_id"), col("disease"), col("phenotype"),
        col("mouse_gene"))
      .agg(sum(col("n_alleles")).as("n_alleles"),
        min(col("sample_allele")).as("sample_allele"))
      .orderBy(col("route"), col("snp_id"), col("disease"), col("phenotype"),
        col("mouse_gene"))

  /** Streaming CHEMICALS-AND-DISEASES ROLLUP (st53): g53's notebook
    * chain maintained incrementally — and, unlike st52, the chain has
    * TWO fact-derived relations growing from the same lineitem stream
    * (the chem→gene purchase pairs AND the evidence tuples), so the
    * product rule keeps two terms, the full bilinear discipline st46
    * introduced for Katz:
    *
    *   Δpaths = Δaffects ⋈ ev_acc^new  +  affects_acc^old ⋈ Δev
    *
    * (prefix-new/suffix-old: the first term reads evidence INCLUDING
    * this batch's arrivals, the second reads affects EXCLUDING them, so
    * the Δa⋈Δe cross term lands exactly once). Both deltas are
    * NEW-DISTINCT sets via anti-join against their seen stores —
    * disjoint per-batch partitions, so accumulated reads are O(state)
    * and redelivered batches fold to empty deltas. Each path row is
    * created exactly when the LATER of its two constituents arrives,
    * which makes the per-(chemical, disease, gene) path count and centi
    * sum ADDITIVE state even though the gate's output aggregates are
    * not (collect DISTINCT / count DISTINCT / avg): the serving read
    * derives them — sorted distinct gene list, distinct gene count, and
    * the g53 exact-integer average Σcenti / (100·Σn) — from the
    * maintained table. The mid-chain threshold is a static property of
    * each evidence tuple, applied at fold. On full replay the rollup
    * equals batch g53 and shares its oracle. */
  def streamChemDiseases(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.operators.MaterialiseOps
    val chems = MaterialiseOps.otarChems(s, d).localCheckpoint()
    val geneNames = graft.core.Tables.part(s, d)
      .select(graft.core.Pad.node("p:", col("p_partkey")).as("gene"),
        col("p_name").as("gene_nm")).localCheckpoint()
    val diseaseNames = graft.core.Tables.supplier(s, d)
      .select(graft.core.Pad.node("s:", col("s_suppkey")).as("disease"),
        col("s_name").as("disease_nm")).localCheckpoint()
    def fold(li: DataFrame, id: Long): Unit = {
      val batchEv = MaterialiseOps.otarEvidence(li)
        .select(col("ev"), col("gene"), col("disease"), col("centi"))
      // restrict the pair state to seed chemicals up front (the seeds
      // are the static broadcastable frame) — smaller seen store, same
      // answer since the rollup joins chems anyway
      val batchAff = MaterialiseOps.otarAffects(s, d, li)
        .select(col("chem"), col("gene"))
        .join(chems.select(col("chemical").as("chem")), Seq("chem"), "left_semi")
      chemDiseasesFold(s, stateDir, chems, geneNames, diseaseNames,
        batchEv, batchAff, id)
    }
    Replay.evenThenOdd(s, d, "lineitem", "l_orderkey", checkpoint(stateDir))(fold)
    chemDiseasesServe(s, stateDir)
  }

  /** One st53 fold over pre-derived batch frames: `batchEv` =
    * (ev, gene, disease, centi) evidence tuples in this batch, `batchAff`
    * = (chem, gene) purchase pairs in this batch (already restricted to
    * seed chemicals and joined to the static orders dim by the caller).
    * Writes the disjoint seen-set deltas and the two bilinear path-delta
    * terms' grouped contribution. */
  private[graft] def chemDiseasesFold(s: SparkSession, stateDir: String,
      chems: DataFrame, geneNames: DataFrame, diseaseNames: DataFrame,
      batchEv: DataFrame, batchAff: DataFrame, id: Long): Unit = {
    val evPath = s"$stateDir/ev.parquet"
    val affPath = s"$stateDir/aff.parquet"
    val seenEvOld = BatchLedger.before(s, evPath,
      "ev STRING, gene STRING, disease STRING, centi BIGINT", id)
    val seenAffOld = BatchLedger.before(s, affPath, "chem STRING, gene STRING", id)
    val evDelta = batchEv.distinct()
      .join(seenEvOld.select(col("ev")), Seq("ev"), "left_anti")
      .localCheckpoint()
    val affDelta = batchAff.distinct()
      .join(seenAffOld, Seq("chem", "gene"), "left_anti")
      .localCheckpoint()
    BatchLedger.put(evDelta, evPath, id.toString)
    BatchLedger.put(affDelta, affPath, id.toString)
    // the mid-chain threshold is a static per-tuple property
    def hot(ev: DataFrame): DataFrame = ev.where(col("centi") >= 90)
    // bilinear delta: Δa ⋈ ev^new  +  a^old ⋈ Δev  (Δa⋈Δe lands once,
    // in the first term)
    val evNewAcc = hot(seenEvOld.unionByName(evDelta))
    val t1 = affDelta.join(evNewAcc, "gene")
    val t2 = seenAffOld.join(hot(evDelta), "gene")
    BatchLedger.put(t1.unionByName(t2)
      .join(chems.select(col("chemical").as("chem"), col("chem_nm")), "chem")
      .join(geneNames, "gene").join(diseaseNames, "disease")
      .groupBy(col("chem_nm").as("chemical"), col("disease_nm").as("disease_name"),
        col("gene"), col("gene_nm"))
      .agg(count(lit(1)).as("n"), sum(col("centi")).as("sum_centi")),
      s"$stateDir/pathagg.parquet", id.toString)
  }

  /** Serving read: the gate's DISTINCT-collect aggregates derived from
    * the additive per-(chemical, disease, gene) path state. */
  private[graft] def chemDiseasesServe(s: SparkSession, stateDir: String): DataFrame =
    BatchLedger.table(s, s"$stateDir/pathagg.parquet", "chemical STRING, " +
        "disease_name STRING, gene STRING, gene_nm STRING, n BIGINT, sum_centi BIGINT")
      .groupBy(col("chemical"), col("disease_name"))
      .agg(
        array_join(sort_array(collect_set(col("gene_nm"))), "|").as("genes"),
        count_distinct(col("gene")).as("num_genes"),
        (sum(col("sum_centi")).cast("double") / (sum(col("n")) * 100.0)).as("avg_score"))
      .select(col("chemical"), col("disease_name").as("disease"),
        col("genes"), col("num_genes"), col("avg_score"))
      .orderBy(col("chemical"), col("disease"))

  /** Streaming TEMPORAL REACHABILITY (st54): g54's bounded
    * foremost-arrival table maintained by [[graft.pipeline
    * .IncrementalTemporal]] — st39's insert-only min-merge discipline
    * with the date-gated relaxation (arrivals only improve, improving
    * an arrival only UNLOCKS more contacts, so min state is sound) and
    * st45's carried hop level (the ≤3-edge bound). Contacts derive from
    * the lineitem stream joined to the static orders calendar; the
    * static seed frame re-enters every fold and roots only once. On
    * full replay the table equals batch g54 and shares its oracle. */
  def streamTemporalReachability(s: SparkSession, d: String, stateDir: String): DataFrame = {
    import graft.core.{Pad, Tables}
    val ordersDim = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .localCheckpoint()
    val seeds = Tables.orders(s, d).where(col("o_custkey") % 100 === 1)
      .groupBy(col("o_custkey")).agg(min(col("o_orderdate")).as("arr"))
      .select(Pad.node("c:", col("o_custkey")).as("seed"),
        Pad.node("c:", col("o_custkey")).as("node"), col("arr"))
      .localCheckpoint()
    def contacts(li: DataFrame): DataFrame = {
      val e0 = ordersDim.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(Pad.node("c:", col("o_custkey")).as("c"),
          Pad.node("p:", col("l_partkey")).as("p"), col("o_orderdate").as("dt"))
        .distinct()
      e0.select(col("c").as("from"), col("p").as("to"), col("dt"))
        .union(e0.select(col("p").as("from"), col("c").as("to"), col("dt")))
    }
    Replay.evenThenOdd(s, d, "lineitem", "l_orderkey", checkpoint(stateDir)) { (li, id) =>
      graft.pipeline.IncrementalTemporal.update(s, stateDir, contacts(li), seeds, id)
    }
    graft.pipeline.IncrementalTemporal.current(s, stateDir)
      .orderBy(col("seed"), col("node"))
  }

  /** Re-derive the cohort matrix from any union of distinct-activity
    * partials — idempotent under overlap, exact under arbitrary splits. */
  private[graft] def retentionMerge(partials: DataFrame): DataFrame = {
    val act = partials.select(col("user_id"), col("day")).distinct()
    val first = act.groupBy("user_id").agg(min(col("day")).as("cohort"))
    act.join(first, "user_id")
      .withColumn("offset",
        datediff(col("day").cast("date"), col("cohort").cast("date")))
      .where(col("offset") <= 7)
      .groupBy(col("cohort"), col("offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("offset"))
  }
}
