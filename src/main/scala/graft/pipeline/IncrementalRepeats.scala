package graft.pipeline

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL exact-substring repeat removal — d19's cleaning ACTION
  * ([[graft.operators.Dedup.repeatRemoval]], the Lee et al. ExactSubstr
  * pass) over a GROWING corpus: documents arrive in batches, each batch's
  * cleaned output is computed against a persistent window-hash index
  * WITHOUT recomputing the corpus, and earlier documents whose windows
  * only now became shared get CORRECTED rows — clean-on-arrival, not
  * flag-on-arrival (st13 only probes; this removes).
  *
  * The monotonicity that makes the log resolvable: the corpus only grows,
  * so a window's distinct-doc count only grows, so each document's
  * shared-position set only GROWS — removal intervals only ever expand and
  * `removed_chars` strictly increases on any change. The current verdict
  * per doc is therefore its row with max `removed_chars`
  * ([[currentCleaned]]), and that resolved view equals a one-shot batch
  * d19 on the union of all arrivals regardless of arrival order
  * (IncrementalRepeatsSpec pins the equivalence — no monotone-doc_id
  * assumption is even needed; removal has no canonical election).
  *
  * State (parquet, appended per batch under `batch=<key>` through
  * [[BatchLedger]] — deterministic partition + Overwrite +
  * marker-written-last):
  *   - `docs`:    (doc_id, text)  — the arrived corpus (re-clean source)
  *   - `whashes`: (doc_id, i, h)  — per-position 8-byte rolling window
  *     hashes, the growing inverted index every batch probes
  *   - `cleaned`: d19's output rows; corrections land in `batch=<k>__fix`
  *
  * Scale shape: per batch, every corpus-wide join keys on the 8-byte
  * hash (the d16/d19 staged-head rule — longs through the shuffle, never
  * 40-codepoint windows) and touches only hash buckets the batch or an
  * affected doc actually shares; window TEXT is extracted just for those
  * candidate buckets, so a hash collision costs a vanishing extra verify,
  * never a wrong span. A batch of boilerplate-free docs re-cleans
  * nothing; the degenerate corpus where every doc shares one template is
  * the inherent worst case (the re-clean set IS the corpus). */
object IncrementalRepeats {

  private val L = 40

  private def path(dir: String, name: String) = s"$dir/$name.parquet"

  /** Read a state table excluding the partitions of the batch being
    * (re)applied — a crashed retry must not see its own partial rows
    * ([[IncrementalCorpus]]'s rationale). */
  private def tbl(spark: SparkSession, dir: String, name: String,
                  ddl: String, key: String): DataFrame =
    BatchLedger.table(spark, path(dir, name), ddl, key, BatchLedger.fix(key))

  /** Per-position window hashes of a (doc_id, text) frame, computed
    * ROW-LOCALLY (no shuffle): one (doc_id, i, h) row per codepoint
    * position, i 1-based to match `substring`. */
  private def windowHashesOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.functions.RollingHash.windowHashes(t, L).iterator.zipWithIndex
          .map { case (h, i) => (id, (i + 1).toLong, h) }
      }
      .toDF("doc_id", "i", "h")
  }

  /** Candidate positions → text-verified shared occurrences: join the
    * position rows with their doc texts, extract the TRUE window, and
    * keep positions whose window text occurs in ≥ 2 distinct docs —
    * d19's verification rule, applied to the incremental candidate set. */
  private def windowTexts(pos: DataFrame, texts: DataFrame): DataFrame =
    pos.join(texts, "doc_id")
      .select(col("doc_id"), col("i"),
        expr(s"substring(text, cast(i as int), $L)").as("w"))

  /** Apply one arriving batch; returns the batch docs' cleaned rows (also
    * persisted under `$stateDir/cleaned.parquet`). `newDocs` needs
    * (doc_id, text). A stable `batchKey` makes the application
    * exactly-once under foreachBatch redelivery. */
  def update(spark: SparkSession, stateDir: String, newDocs: DataFrame,
             batchKey: Option[String] = None): DataFrame = {
    val key = BatchLedger.key(batchKey)
    if (batchKey.exists(BatchLedger.applied(spark, stateDir, _)))
      return spark.read.parquet(BatchLedger.part(path(stateDir, "cleaned"), key))
        .select(col("doc_id"), col("n_removed"), col("removed_chars"),
          col("cleaned_len"), col("cleaned_hash"))

    val docs = newDocs
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .localCheckpoint() // pin: the state tables are rewritten below
    val batchPos = windowHashesOf(spark, docs).localCheckpoint()
    val stateW = tbl(spark, stateDir, "whashes",
      "doc_id BIGINT, i BIGINT, h BIGINT", key)
    val stateDocs = tbl(spark, stateDir, "docs",
      "doc_id BIGINT, text STRING", key)
    val allDocs = stateDocs.union(docs)

    // ---- which OLD docs does this batch affect? A window text crosses
    // the shared threshold only if the batch contains it, so its hash is
    // a batch hash: gather state+batch positions in batch hash buckets,
    // verify on text, and an old doc re-cleans iff it owns a window whose
    // prior distinct-doc count was exactly 1 (it just became shared).
    // Detection is at TEXT level — an 8-byte collision bucketing two
    // different windows must not mask a genuine 1→2 crossing.
    val hB = batchPos.select(col("h")).distinct()
    val statePosB = stateW.join(hB, "h").select(col("doc_id"), col("i"))
    val wOld = windowTexts(statePosB, stateDocs)
    val wNew = windowTexts(batchPos.select(col("doc_id"), col("i")), docs)
    val crossed = wOld.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("prev_cnt"))
      .where(col("prev_cnt") === 1)
      .join(wNew.select(col("w")).distinct(), "w")
      .select(col("w"))
    val affected = wOld.join(crossed, "w")
      .select(col("doc_id")).distinct().localCheckpoint()

    // ---- full re-clean of (batch ∪ affected) against the CURRENT
    // corpus: every hash bucket any re-cleaned doc touches, verified on
    // text, then d19's interval-merge + rebuild tail verbatim.
    val rDocs = docs.select(col("doc_id"), col("text"))
      .union(stateDocs.join(affected, "doc_id").select(col("doc_id"), col("text")))
    val rPos = stateW.join(affected, "doc_id")
      .select(col("doc_id"), col("i"), col("h"))
      .union(batchPos)
    val hR = rPos.select(col("h")).distinct()
    val allPosR = stateW.join(hR, "h").select(col("doc_id"), col("i"))
      .union(batchPos.join(hR, "h").select(col("doc_id"), col("i")))
    val wAll = windowTexts(allPosR, allDocs)
    val sharedW = wAll.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("wd")).where(col("wd") >= 2)
      .select(col("w"))
    val occ = wAll.join(sharedW, "w")
      .join(rDocs.select(col("doc_id")), "doc_id")
      .select(col("doc_id"), col("i"))
    val cleanedAll = Dedup.removalStats(occ, rDocs, L).localCheckpoint()
    val batchRows = cleanedAll.join(docs.select(col("doc_id")), "doc_id")
    val fixRows = cleanedAll.join(affected, "doc_id")

    // ---- advance state, marker strictly last (exactly-once replay)
    def put(df: DataFrame, t: String, part: String = key): Unit =
      BatchLedger.put(df, path(stateDir, t), part)
    put(docs, "docs")
    put(batchPos, "whashes")
    put(fixRows, "cleaned", BatchLedger.fix(key))
    put(batchRows, "cleaned")
    batchKey.foreach(BatchLedger.markApplied(spark, stateDir, _))
    batchRows
  }

  /** The corpus-wide CURRENT cleaned output per document: removal
    * intervals only ever expand, so `removed_chars` is monotone and the
    * max-`removed_chars` row per doc is its latest verdict (equal counts
    * ⟹ identical intervals ⟹ identical rows, so the struct-max tiebreak
    * is vacuous). Equals batch d19 on the union of all arrivals. */
  def currentCleaned(spark: SparkSession, stateDir: String): DataFrame = {
    // a store that never saw a batch (empty corpus, first run) has no
    // cleaned table yet — degrade to the typed empty view, not an error
    BatchLedger.table(spark, path(stateDir, "cleaned"),
      "doc_id BIGINT, n_removed BIGINT, removed_chars BIGINT, " +
        "cleaned_len BIGINT, cleaned_hash STRING")
      .groupBy(col("doc_id"))
      .agg(max(struct(col("removed_chars"), col("n_removed"),
        col("cleaned_len"), col("cleaned_hash"))).as("f"))
      .select(col("doc_id"), col("f.n_removed").as("n_removed"),
        col("f.removed_chars").as("removed_chars"),
        col("f.cleaned_len").as("cleaned_len"),
        col("f.cleaned_hash").as("cleaned_hash"))
  }
}
