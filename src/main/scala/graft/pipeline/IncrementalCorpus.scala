package graft.pipeline

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL corpus decisions: documents arrive in batches (a
  * continuous crawl) and each batch's t13-shaped decision rows
  * (exact_keep, neardup_keep, lang_ok, kept) are computed against a
  * persistent state — WITHOUT recomputing the corpus. Because doc_ids are
  * monotone across batches (the streaming reality), an exact/near-dup
  * canonical is the minimum id of its group and later arrivals only ever
  * have larger ids — so a KEPT doc can only ever be DEMOTED, never the
  * reverse. Exact-dup decisions are final outright; near-dup groups can
  * merge retroactively (similarity is not transitive: a later doc may
  * bridge two previously-disjoint components, demoting the younger
  * component's canonical), which update() detects via the persistent
  * component table and repairs by appending CORRECTED decision rows for
  * the demoted canonicals. [[currentDecisions]] resolves the log to the
  * corpus-wide current verdicts — per column the minimum across a doc's
  * rows, exactly because verdicts only move 1→0 — and that resolved view
  * equals a one-shot t13 rebuild on the union even across bridge docs
  * (IncrementalCorpusSpec pins both equivalences).
  *
  * State (all parquet, appended per batch under `batch=<key>`):
  *   - `hashes`: (h, canonical)       — exact-dup content-hash table
  *   - `bands`:  (doc_id, band)       — LSH band index (st8's probe side)
  *   - `sets`:   (doc_id, set, n)     — shingle sets for exact verify
  *   - `comps`:  (doc_id, component)  — near-dup component per doc;
  *     merges append re-label rows, and because a component label is its
  *     min member id, labels only ever DECREASE — min(component) per doc
  *     is always the current one (no pointer chasing)
  *   - `hot_buckets`: (band, n_members, side) — overflow ledger: one row
  *     per batch per band bucket whose capped candidate join truncated
  *     (side = state probe or batch self-join), so incremental-vs-batch
  *     divergence above the cap is never silent
  *
  * Per batch: one broadcastable-or-shuffled join per state table, band
  * keys computed ROW-LOCALLY (Dedup.bandKeysOf), and a batch-local CC
  * over the new verified pairs where old partners enter as their
  * COMPONENT label — old-old topology is never consulted, yet merges of
  * old components through a new bridge doc surface as a CC component
  * holding two old labels. */
object IncrementalCorpus {

  private def path(dir: String, name: String) = s"$dir/$name.parquet"

  /** Read a state table, EXCLUDING the partitions of the batch being
    * (re)applied: a crash after some put() calls leaves `batch=<key>`
    * partials with no marker, and a retry that read its own partial rows
    * would see every first-seen doc as already known (and then overwrite
    * the partition with wrong state — permanently). */
  private def tbl(spark: SparkSession, dir: String, name: String,
                  ddl: String, key: String): DataFrame =
    BatchLedger.table(spark, path(dir, name), ddl, key, BatchLedger.fix(key))

  /** Apply one arriving batch; returns its decision rows (also persisted
    * under `$stateDir/decisions.parquet`). `newDocs` needs (doc_id, text,
    * lang). A stable `batchKey` makes the application EXACTLY-ONCE under
    * redelivery (the foreachBatch reality): every state table's batch
    * lands in a deterministic `batch=<key>` partition written with
    * Overwrite — a crashed-and-retried batch replaces its own partial
    * rows — and a marker file, written strictly last, makes a completed
    * batch a no-op ([[BatchLedger]]). */
  def update(spark: SparkSession, stateDir: String, newDocs: DataFrame,
             batchKey: Option[String] = None): DataFrame = {
    import spark.implicits._
    val key = BatchLedger.key(batchKey)
    if (batchKey.exists(BatchLedger.applied(spark, stateDir, _)))
      return spark.read.parquet(BatchLedger.part(path(stateDir, "decisions"), key))
        .select(col("doc_id"), col("exact_keep"), col("neardup_keep"),
          col("lang_ok"), col("kept"))
    val docs = newDocs.select(col("doc_id"), col("text"), col("lang"))
      .localCheckpoint() // pin the batch: state tables are rewritten below

    // ---- exact dedup against the hash table
    val stateH = tbl(spark, stateDir, "hashes", "h STRING, canonical BIGINT", key)
    val withH = docs.select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"))
    val batchMin = withH.groupBy("h").agg(min(col("doc_id")).as("bmin"))
    val exact = withH
      .join(stateH.select(col("h"), lit(1).as("seen")), Seq("h"), "left")
      .join(batchMin, "h")
      .select(col("doc_id"), col("h"),
        when(col("seen").isNotNull, 0)
          .otherwise((col("doc_id") === col("bmin")).cast("int")).as("exact_keep"))

    // ---- near-dup: row-local signatures probe the band index
    val parts = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val sh = Dedup.shinglesOf(t)
        (id, sh, sh.length.toLong, Dedup.bandKeysOf(sh))
      }
      .toDF("doc_id", "set", "n", "bands")
      .localCheckpoint()
    val newBands = parts.select(col("doc_id"), explode(col("bands")).as("band"))
    val newSets = parts.select(col("doc_id"), col("set"), col("n"))
    val stateB = tbl(spark, stateDir, "bands", "doc_id BIGINT, band STRING", key)
    val stateS = tbl(spark, stateDir, "sets",
      "doc_id BIGINT, set ARRAY<STRING>, n BIGINT", key)
    val stateC = tbl(spark, stateDir, "comps",
      "doc_id BIGINT, component BIGINT", key)
    // labels only decrease on merge, so min across a doc's appended rows
    // IS its current component — no pointer chain to chase
    val compsNow = stateC.groupBy("doc_id").agg(min(col("component")).as("component"))

    // exact candidate verification: a-side sets from `aSets` (state or
    // batch), b-side always the batch
    def verified(cand: DataFrame, aSets: DataFrame): DataFrame = cand
      .join(aSets.select(col("doc_id").as("a_id"), col("set").as("sa"), col("n").as("na")), "a_id")
      .join(newSets.select(col("doc_id").as("b_id"), col("set").as("sb"), col("n").as("nb")), "b_id")
      .where(lit(3) * size(array_intersect(col("sa"), col("sb"))).cast("long")
        >= col("na") + col("nb"))
      .select(col("a_id"), col("b_id"))

    // hot-bucket guard on BOTH candidate joins (Dedup.bandCandidates'
    // rationale): a boilerplate clique in state makes a band bucket with
    // millions of members — probe with its lowest-id members only (the
    // ordering guarantees the bucket MINIMUM — the component canonical —
    // is always among the probes), and cap the new-new self-join the same
    // way the batch path does
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("doc_id"))
    val stateBCapped = stateB.withColumn("_rn", row_number().over(wB))
      .where(col("_rn") <= Dedup.HotBucketCap).drop("_rn")
    // overflow ledger for BOTH capped joins — the TUNING.md contract is
    // that truncation is never silent; the batch path persists
    // Dedup.hotBandBuckets, so the incremental twin appends its own per
    // batch (side = which join was capped). State side is restricted to
    // buckets an arrival actually probed — an unprobed hot bucket
    // truncated nothing this batch
    val hotBuckets = stateB
      .join(newBands.select(col("band")).distinct(), "band")
      .groupBy("band").agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > Dedup.HotBucketCap)
      .withColumn("side", lit("state"))
      .union(Dedup.hotBandBuckets(newBands, "doc_id").withColumn("side", lit("batch")))
    val candOld = newBands.join(stateBCapped.withColumnRenamed("doc_id", "a_id"), "band")
      .select(col("a_id"), col("doc_id").as("b_id")).distinct()
    val verifiedOld = verified(candOld, stateS) // (a_id = old, b_id = new)
    val candNew = Dedup.bandCandidates(newBands, "doc_id")
      .select(col("da").as("a_id"), col("db").as("b_id"))
    val pairsNew = verified(candNew, newSets)

    // keep bit: CC over batch pairs, with each old partner entering as
    // its COMPONENT label (a doc id, so strictly below every new id) —
    // keep ⟺ the doc is its component's minimum. A CC component that
    // absorbs TWO old labels is a retroactive merge: the larger old
    // component's canonical is demoted (corrections below).
    def pad(c: org.apache.spark.sql.Column) = format_string("%020d", c)
    val oldEdges = verifiedOld
      .join(compsNow.withColumnRenamed("doc_id", "a_id"), Seq("a_id"), "left")
      .select(pad(coalesce(col("component"), col("a_id"))).as("src"),
        pad(col("b_id")).as("dst"))
    val edges = pairsNew.select(pad(col("a_id")).as("src"), pad(col("b_id")).as("dst"))
      .union(oldEdges)
    val cc = graft.identity.ConnectedComponents.run(edges)
    val newComps = docs.select(col("doc_id"))
      .join(cc.withColumnRenamed("member", "m"), pad(col("doc_id")) === col("m"), "left")
      .select(col("doc_id"),
        coalesce(col("component").cast("long"), col("doc_id")).as("component"))
      .localCheckpoint()
    val nd = newComps.select(col("doc_id"),
      (col("component") === col("doc_id")).cast("int").as("neardup_keep"))

    // retroactive merges: an old component label whose final CC label is
    // SMALLER was bridged into an older component by a new doc
    val merged = oldEdges.select(col("src")).distinct()
      .join(cc, col("src") === col("member"))
      .where(col("component") < col("src"))
      .select(col("src").cast("long").as("loser"),
        col("component").cast("long").as("winner"))
      .localCheckpoint()

    // ---- language agreement (stateless)
    val lang = docs.select(col("doc_id"), TextAnalysis.langHitCol.as("lang_ok"))

    val decisions = exact.select(col("doc_id"), col("exact_keep"))
      .join(nd, "doc_id").join(lang, "doc_id")
      .select(col("doc_id"), col("exact_keep"), col("neardup_keep"), col("lang_ok"),
        (col("exact_keep") * col("neardup_keep") * col("lang_ok")).as("kept"))
      .localCheckpoint()

    // corrected rows for demoted canonicals (the loser label IS its old
    // canonical's doc_id): same exact/lang verdicts, near-dup keep → 0
    val priorDecisions = tbl(spark, stateDir, "decisions",
      "doc_id BIGINT, exact_keep INT, neardup_keep INT, lang_ok INT, kept INT", key)
    val corrections = priorDecisions
      .join(merged.select(col("loser").as("doc_id")).distinct(), "doc_id")
      .groupBy("doc_id")
      .agg(min(col("exact_keep")).as("exact_keep"), min(col("lang_ok")).as("lang_ok"))
      .select(col("doc_id"), col("exact_keep"), lit(0).as("neardup_keep"),
        col("lang_ok"), lit(0).as("kept"))

    // component rows to append: every new doc, plus re-labels collapsing
    // each losing component's members onto the winner
    val relabels = compsNow.join(merged, compsNow("component") === merged("loser"))
      .select(compsNow("doc_id"), merged("winner").as("component"))
    val compRows = newComps.union(relabels).localCheckpoint()

    // ---- advance state: each table's batch goes to its own batch=<key>
    // partition with Overwrite (idempotent under retry); hashes only for
    // first-seen content; corrections go to batch=<key>__fix so a marker
    // replay of batch=<key> still returns exactly the batch's own docs;
    // decisions last, then the marker
    val freshHashes = batchMin
      .join(stateH.select(col("h")), Seq("h"), "left_anti")
      .select(col("h"), col("bmin").as("canonical"))
    def put(df: DataFrame, t: String, part: String = key): Unit =
      BatchLedger.put(df, path(stateDir, t), part)
    put(freshHashes, "hashes")
    put(hotBuckets, "hot_buckets")
    put(newBands, "bands")
    put(newSets, "sets")
    put(compRows, "comps")
    put(corrections, "decisions", BatchLedger.fix(key))
    put(decisions, "decisions")
    batchKey.foreach(BatchLedger.markApplied(spark, stateDir, _))
    decisions
  }

  /** The corpus-wide CURRENT verdict per document: the decision log plus
    * any corrections, resolved. Every verdict only ever moves 1 → 0 (a
    * canonical can be demoted by a later bridge doc, never promoted), so
    * per-column min across a doc's appended rows is exact — and equals a
    * one-shot t13 rebuild on the full union. */
  def currentDecisions(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(path(stateDir, "decisions"))
      .groupBy("doc_id")
      .agg(min(col("exact_keep")).as("exact_keep"),
        min(col("neardup_keep")).as("neardup_keep"),
        min(col("lang_ok")).as("lang_ok"),
        min(col("kept")).as("kept"))
}
