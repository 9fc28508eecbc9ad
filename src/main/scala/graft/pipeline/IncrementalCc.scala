package graft.pipeline

import graft.identity.ConnectedComponents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL connected components — the reference's equivalence-clique
  * stage (SURVEY §2.3 J7; in-RAM union-find at
  * `02_assign_ids/grebi_identifiers2groups/src/main.rs:54-115`) maintained
  * under a GROWING edge set: identifier edges arrive in batches and each
  * batch recomputes labels ONLY for the components its nodes touch,
  * instead of re-running CC over the whole graph — the update a
  * continuously-ingesting knowledge graph needs (the reference rebuilds
  * from scratch per release; [[Incremental]] diffs releases, this goes
  * further and makes clique maintenance itself batch-incremental).
  *
  * The monotonicity that makes appended state resolvable: adding edges
  * can only MERGE components, and a component's label is its minimum
  * member, so every member's label only ever DECREASES as the graph
  * grows. The current verdict per member is therefore `min(component)`
  * over all appended rows ([[current]]) — the same
  * monotone-resolution design as [[IncrementalRepeats]] (max
  * `removed_chars`) and [[IncrementalCorpus]] (monotone decisions).
  *
  * Why touched-component recomputation is exact: a stored component's
  * star edges (member → label, the label being itself a member) have the
  * same connectivity as the original edges that built it, so CC over
  * (batch edges ∪ stars of touched components) yields the true global
  * min-label for every member it sees, and untouched components'
  * stored rows stay valid verbatim.
  *
  * Scale shape: per batch, one semi-join finds the touched components
  * (keyed on member), one join pulls their members (keyed on component
  * — the skew key is the giant-clique label, the same regime the LSH
  * hot-bucket cap documents), and the semi-naive CC runs on
  * |batch| + |touched| star edges only. A batch touching nothing big
  * costs O(|batch|); the degenerate corpus where one clique spans the
  * graph is the inherent worst case (its star IS the state).
  *
  * State (parquet, appended per batch under `batch=<key>` through
  * [[BatchLedger]] — deterministic partition + Overwrite +
  * marker-written-last):
  *   - `components`: (member, component) label rows; later batches append
  *     corrections for members whose component merged.
  */
object IncrementalCc {

  private def components(stateDir: String) = s"$stateDir/components.parquet"
  private val Ddl = "member STRING, component STRING"

  private def resolve(state: DataFrame): DataFrame =
    state.groupBy(col("member")).agg(min(col("component")).as("component"))

  /** Apply one arriving edge batch; returns the recomputed label rows for
    * the members the batch touched (also persisted under
    * `$stateDir/components.parquet`). `edges` needs (src, dst). A stable
    * `batchKey` makes the application exactly-once under foreachBatch
    * redelivery. */
  def update(spark: SparkSession, stateDir: String, edges: DataFrame,
             batchKey: Option[String] = None): DataFrame = {
    val key = BatchLedger.key(batchKey)
    if (batchKey.exists(BatchLedger.applied(spark, stateDir, _)))
      // Replay honours the documented return contract: the rows this
      // batch originally recomputed — its persisted partition — not the
      // full resolved state (a foreachBatch retry must observe the same
      // output as the first application).
      return spark.read.parquet(BatchLedger.part(components(stateDir), key))
        .select(col("member"), col("component"))

    val e = edges
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint() // pin: the state table is rewritten below
    // every batch but this one: a crashed retry must not see its own
    // partial rows
    val resolved = resolve(BatchLedger.table(spark, components(stateDir), Ddl, key))

    // which stored components does this batch touch?
    val bnodes = e.select(col("src").as("member"))
      .union(e.select(col("dst").as("member"))).distinct()
    val touchedComps = resolved.join(bnodes, Seq("member"))
      .select(col("component")).distinct()
    val touched = resolved.join(touchedComps, Seq("component"))
      .select(col("member"), col("component"))

    // CC over batch edges + touched components' star edges only
    val ccIn = e.union(
      touched.select(col("member").as("src"), col("component").as("dst")))
    val labels = ConnectedComponents.run(ccIn).localCheckpoint()

    // ---- advance state, marker strictly last (exactly-once replay)
    BatchLedger.put(labels, components(stateDir), key)
    batchKey.foreach(BatchLedger.markApplied(spark, stateDir, _))
    labels
  }

  /** The corpus-wide CURRENT label per member: labels only ever decrease,
    * so min(component) over the appended rows is each member's latest
    * verdict. Equals batch [[ConnectedComponents.run]] on the union of
    * all arrived edges (IncrementalCcSpec pins the equivalence,
    * including cross-batch component merges). */
  def current(spark: SparkSession, stateDir: String): DataFrame =
    resolve(BatchLedger.table(spark, components(stateDir), Ddl))
}
