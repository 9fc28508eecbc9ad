package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL k-CORE MEMBERSHIP (fixed k) under a GROWING edge set — the
  * real insertion-region machinery BACKLOG demanded before st20 could
  * exist (anything simpler is a per-batch rebuild dressed as streaming).
  *
  * Why fixed-k membership is incrementally maintainable at all: adding
  * edges can only GROW the k-core, so membership is MONOTONE state — the
  * same resolution design as [[IncrementalCc]] (labels only decrease)
  * and [[IncrementalRepeats]] (removed_chars only grows). A member never
  * has to be revoked, and its in-core degree only rises.
  *
  * Why the per-batch work is bounded by the true cascade, not the graph
  * (the Sariyüce et al. VLDB'13 insertion-region idea, specialised to
  * fixed-k membership): let M be the current core and S the set of
  * vertices the batch newly admits. Every connected component of S (in
  * S's induced subgraph) touches a batch-edge endpoint — if some
  * component S0 had no incident batch edge, each of its vertices would
  * already have had ≥ k neighbours inside M ∪ S0 using only old edges
  * (S0 is a component, so it has no S-neighbours outside itself), making
  * M ∪ S0 a min-degree-k subgraph of the OLD graph and S0 ⊆ M — a
  * contradiction. Hence a BFS from the batch endpoints, expanding only
  * through non-members of full degree ≥ k (a vertex of degree < k can
  * neither join the core nor transmit the cascade, since it can never be
  * counted), covers S exactly; its cost is proportional to the edges
  * incident to the discovered region. A chain of degree-k vertices all
  * waiting on one closing edge — BACKLOG's unbounded-cascade example —
  * is simply a large region, discovered and paid for only when it
  * actually cascades (IncrementalKcoreSpec pins that exact shape).
  *
  * Admission is then a peel over the region with M as a FIXED satisfied
  * boundary: deg(v) = |neighbours in M| + |alive region neighbours|,
  * drop < k to fixpoint. Survivors ∪ M is min-degree-≥-k (members'
  * degrees only grew), and the usual maximality argument gives that the
  * survivors are exactly core(G′) \ M.
  *
  * State (parquet under `stateDir`, kept by [[BatchLedger]] —
  * deterministic partition + Overwrite + marker written last):
  *   - `edges.parquet/batch=<key>`: the arrived edges;
  *   - `members.parquet/batch=<key>`: the members that batch admitted.
  * `k` is a property of the store; callers must pass the same k for its
  * lifetime (mixing k values would corrupt the monotone contract).
  */
object IncrementalKcore {

  private def edgesPath(dir: String) = s"$dir/edges.parquet"
  private def membersPath(dir: String) = s"$dir/members.parquet"

  private def symmetric(e: DataFrame): DataFrame =
    e.select(col("src").as("f"), col("dst").as("t"))
      .union(e.select(col("dst").as("f"), col("src").as("t")))
      .where(col("f") =!= col("t")).distinct()

  /** Apply one arriving edge batch; returns the member rows this batch
    * newly ADMITS to the k-core (also persisted under
    * `$stateDir/members.parquet`). `edges` needs (src, dst). A stable
    * `batchKey` makes the application exactly-once under foreachBatch
    * redelivery; a replay returns the batch's own persisted admissions.
    * `reliableEvery` applies the CC loop's executor-loss discipline
    * ([[graft.core.Iterate.save]]) to the BFS/peel rounds of a huge
    * cascade (state between batches is already parquet-persisted). */
  def update(spark: SparkSession, stateDir: String, edges: DataFrame, k: Int,
             batchKey: Option[String] = None, reliableEvery: Int = 0): DataFrame = {
    def save(df: DataFrame, round: Int): DataFrame =
      graft.core.Iterate.save(df, reliableEvery, round)
    val key = BatchLedger.key(batchKey)
    if (batchKey.exists(BatchLedger.applied(spark, stateDir, _)))
      return spark.read.parquet(BatchLedger.part(membersPath(stateDir), key))
        .select(col("member"))

    val e = edges
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint()
    BatchLedger.put(e, edgesPath(stateDir), key)
    // every batch but this one: a crashed retry must not see its own
    // partial rows
    val sym = save(symmetric(
      BatchLedger.table(spark, edgesPath(stateDir), "src STRING, dst STRING", key)
        .union(e)), 0)
    val memb = save(BatchLedger.table(spark, membersPath(stateDir), "member STRING", key)
      .distinct(), 0)

    def fullDegOk(vs: DataFrame): DataFrame = // keep only candidates of degree >= k
      sym.join(vs.select(col("v").as("f")), "f")
        .groupBy("f").agg(count(lit(1)).as("dg"))
        .where(col("dg") >= k).select(col("f").as("v"))

    // ---- insertion region: BFS from batch endpoints through
    // non-member, degree->=k vertices
    val seeds = e.select(col("src").as("v")).union(e.select(col("dst").as("v"))).distinct()
      .join(memb.withColumnRenamed("member", "v"), Seq("v"), "left_anti")
    var frontier = save(fullDegOk(seeds), 0)
    var region = frontier
    var fsize = frontier.count()
    var round = 0
    while (fsize > 0) {
      round += 1
      val nbrs = sym.join(frontier.select(col("v").as("f")), "f")
        .select(col("t").as("v")).distinct()
        .join(memb.withColumnRenamed("member", "v"), Seq("v"), "left_anti")
        .join(region, Seq("v"), "left_anti")
      frontier = save(fullDegOk(nbrs), round)
      fsize = frontier.count()
      if (fsize > 0) region = save(region.union(frontier), round)
    }

    // ---- boundary-fixed peel: members are permanently satisfied
    val mDeg = sym.join(region.select(col("v").as("f")), "f")
      .join(memb.select(col("member").as("t")), "t")
      .groupBy("f").agg(count(lit(1)).as("md"))
    var alive = region
    var n = alive.count()
    var done = n == 0L
    while (!done) {
      val aDeg = sym.join(alive.select(col("v").as("f")), "f")
        .join(alive.select(col("v").as("t")), "t")
        .groupBy("f").agg(count(lit(1)).as("ad"))
      round += 1
      val next = save(alive.select(col("v").as("f"))
        .join(mDeg, Seq("f"), "left").join(aDeg, Seq("f"), "left")
        .where(coalesce(col("md"), lit(0L)) + coalesce(col("ad"), lit(0L)) >= k)
        .select(col("f").as("v")), round)
      val m = next.count()
      done = m == n || m == 0L
      n = m
      alive = next
    }
    val admitted = save(alive.select(col("v").as("member")), 1)

    // ---- advance state, marker strictly last (exactly-once replay)
    BatchLedger.put(admitted, membersPath(stateDir), key)
    batchKey.foreach(BatchLedger.markApplied(spark, stateDir, _))
    admitted
  }

  /** The CURRENT core: every admitted member with its in-core degree —
    * the same (member, deg_in_core) shape as the batch peel
    * ([[graft.operators.MaterialiseOps.kCoreOf]]); IncrementalKcoreSpec
    * pins the equivalence on the union of all arrived edges. */
  def current(spark: SparkSession, stateDir: String): DataFrame = {
    if (!BatchLedger.exists(spark, edgesPath(stateDir)) ||
        !BatchLedger.exists(spark, membersPath(stateDir)))
      return BatchLedger.empty(spark, "member STRING, deg_in_core BIGINT")
    val sym = symmetric(spark.read.parquet(edgesPath(stateDir)).select(col("src"), col("dst")))
    val memb = spark.read.parquet(membersPath(stateDir)).select(col("member")).distinct()
    sym.join(memb.select(col("member").as("f")), "f")
      .join(memb.select(col("member").as("t")), "t")
      .groupBy(col("f")).agg(count(lit(1)).as("deg_in_core"))
      .select(col("f").as("member"), col("deg_in_core"))
  }
}
