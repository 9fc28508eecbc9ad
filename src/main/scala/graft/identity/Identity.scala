package graft.identity

import graft.curie.Ids
import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Identity stage: equivalence cliques over identifier co-occurrence.
  *
  * The reference builds cliques with an in-RAM union-find on one 64 GB node
  * (`02_assign_ids/grebi_identifiers2groups/src/main.rs:54-115`,
  * provisioned in `nextflow/01_create_subgraph.nf:120-121`) — a hard
  * single-machine ceiling. Here it's distributed connected components over
  * a `DataFrame[(src, dst)]` edge list, so the id graph can exceed any one
  * node's RAM.
  */
object ConnectedComponents {

  /** An undirected edge stored as (larger id, smaller id), in Spark's
    * string order (UTF-8 bytes), the order `min` over a string column uses. */
  private type Edge = (UTF8String, UTF8String)

  /** Hash partitioning on one vertex: a key is either a vertex or an edge,
    * which goes where its larger end goes. An edge-keyed dedupe and a
    * vertex-keyed fold over the same edges then share one partitioning,
    * so every join in a round below is narrow. */
  private final class ByVertex(val numPartitions: Int) extends Partitioner {
    private val hash = new HashPartitioner(numPartitions)
    override def getPartition(key: Any): Int =
      hash.getPartition(key match { case (big, _) => big; case v => v })
    override def equals(o: Any): Boolean = o match {
      case p: ByVertex => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  private def least(a: UTF8String, b: UTF8String): UTF8String =
    if (a.compareTo(b) <= 0) a else b

  /** The distinct edges, partitioned by their larger end. */
  private def distinctEdges(edges: RDD[Edge], part: ByVertex): RDD[Edge] =
    edges.map((_, ())).reduceByKey(part, (a, _) => a)
      .mapPartitions(_.map(_._1), preservesPartitioning = true)

  /** Large-star/small-star (Kiveris et al., *Connected Components in
    * MapReduce and Beyond*, SoCC 2014), one Spark job per round.
    *
    * Input: edge list with columns (src, dst); rows with a null end or
    * with src = dst are dropped. Returns (member, component) for every id
    * on a kept edge, with component = the least member id in string order.
    *
    * The state is the edge set, oriented (larger, smaller) and
    * hash-partitioned on the larger end. Each vertex's parent is its least
    * neighbour, or itself when it has no smaller one. A round is
    *   - large-star: every larger neighbour of u is re-linked to u's parent;
    *   - small-star: every vertex and its smaller neighbours are re-linked
    *     to its least smaller neighbour.
    * Both steps keep the components and can only lower a parent. The
    * round that lowers no parent leaves every component a star around its
    * least id, and the loop stops there; no round cap is needed.
    *
    * Physically a round is three shuffles (the reversed edges; the
    * large-star and the small-star edges, each deduplicated by
    * `reduceByKey` with its map-side combine), every fold and join is
    * narrow on one [[ByVertex]] partitioner, and the round's one action —
    * the count of lowered parents — materialises its checkpoint. No step
    * calls `groupByKey`; the joins are cogroups against a
    * one-value-per-vertex side, so the largest buffer a round holds is
    * one hub's neighbours from one side. Rounds stay few on deep
    * components: on perfbench's build-deep id graphs (seeds 2, 3, 51, 52)
    * the loop runs 4–5 rounds, and on a 200-id path in random id order 8,
    * where min-label propagation with pointer jumping needs 7 and 62.
    *
    * `reliableEvery > 0` swaps every k-th round's `localCheckpoint` for a
    * RELIABLE `checkpoint` (requires `sparkContext.setCheckpointDir`):
    * localCheckpoint stores blocks on executors, so losing one executor
    * after round N forces recomputation of the WHOLE iteration prefix —
    * acceptable for few-round identifier graphs, not for deep graphs on
    * preemptible nodes. Off by default: the gates run single-JVM where
    * executor loss means the app is gone anyway. */
  def run(edges: DataFrame, reliableEvery: Int = 0): DataFrame = {
    val spark = edges.sparkSession
    val part = new ByVertex(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val src = col("src").cast("string"); val dst = col("dst").cast("string")
    var e = distinctEdges(edges.select(src, dst).where(src =!= dst)
      .queryExecution.toRdd.map { r =>
        val a = r.getUTF8String(0).clone(); val b = r.getUTF8String(1).clone()
        if (a.compareTo(b) > 0) (a, b) else (b, a)
      }, part)
    var round = 0
    var lowered = 1L
    while (lowered > 0) {
      round += 1
      val parent = e.reduceByKey(part, least _) // roots have no entry
      val large = e.map(_.swap).partitionBy(part).leftOuterJoin(parent, part)
        .map { case (u, (v, p)) => (v, p.getOrElse(u)) }
      val l = distinctEdges(large, part)
      // u's least smaller neighbour m is among its x, so (u, m) is emitted once
      val small = l.join(l.reduceByKey(part, least _), part)
        .map { case (u, (x, m)) => if (x == m) (u, m) else (x, m) }
      val next = distinctEdges(small, part)
      if (reliableEvery > 0 && round % reliableEvery == 0) {
        next.persist(StorageLevel.MEMORY_AND_DISK)
        next.checkpoint()
      } else next.localCheckpoint()
      lowered = next.reduceByKey(part, least _).leftOuterJoin(parent, part)
        .filter { case (v, (p, old)) => p.compareTo(old.getOrElse(v)) < 0 }
        .count()
      e.unpersist(blocking = false)
      e = next
    }
    // converged: every edge is (member, its component's least id)
    val roots = e.map { case (_, r) => (r, r) }.reduceByKey(part, (a, _) => a)
    Glue.internalDataFrame(spark,
      e.union(roots).map { case (m, c) => InternalRow(m, c): InternalRow },
      StructType(Seq(StructField("member", StringType), StructField("component", StringType))))
  }
}

object Groups {

  /** Score expression mirroring [[graft.curie.Ids.idScore]] in pure
    * Catalyst (stays codegen'd — no UDF in the canonical-pick path):
    * alphabetic count = length minus length with [A-Za-z] stripped. */
  def idScoreCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id.startsWith("grebi:"), lit(Int.MinValue))
      .when(id.startsWith("biolink:"), lit(Int.MinValue + 1000))
      .otherwise(
        when(id.contains(":") && !id.startsWith("http"), lit(-1000)).otherwise(lit(0))
          - (length(id) - length(regexp_replace(id, "[A-Za-z]", ""))))

  /** From identifier sets (one row per record: array of ids) to the groups
    * table (memberId → canonicalId), the Spark restatement of groups.txt
    * (`grebi_shared/src/load_groups_txt.rs:10-31`).
    *
    * Star edges: each id ↔ first id of its record; CC merges transitively
    * (`grebi_identifiers2groups/src/main.rs:86-104`); canonical member
    * picked per clique by (idScore, id) min — exactly the reference's
    * preference order (`:163-193`).
    */
  def fromIdSets(idSets: DataFrame, saltBuckets: Int = 0): DataFrame = {
    // idSets: single column `ids: array<string>`
    val valid = idSets.select(filter(col("ids"), id => Groups.isValidIdCol(id)).as("ids"))
      .where(size(col("ids")) > 0)
    val members = valid.select(explode(col("ids")).as("member")).distinct()
    val edges = valid.select(explode(col("ids")).as("dst"), element_at(col("ids"), 1).as("src"))
    val cc = ConnectedComponents.run(edges)
    // Singleton cliques never make it into the (self-edge-free) edge list:
    // default them to their own component.
    val full = members.join(cc, Seq("member"), "left")
      .select(col("member"), coalesce(col("component"), col("member")).as("component"))
    pickCanonical(full, saltBuckets)
  }

  /** The canonical pick over a (member, component) frame — split out so
    * the skew fixture (tools/ProfileSkewPick) can measure the pick stage
    * in isolation from the CC rounds that precede it. */
  private[graft] def pickCanonical(full: DataFrame, saltBuckets: Int): DataFrame = {
    if (saltBuckets > 0) {
      // Skew-proof two-phase pick (round 17, guide §2.5): the window form
      // below routes EVERY member of a component through one reducer — a
      // mega-clique (one component owning a large share of all members)
      // becomes a single straggler task, and AQE's skew handling cannot
      // split windows or aggregations, only joins. Two-level aggregation
      // bounds the per-task share of the hot component to ~1/saltBuckets:
      // a salted partial min (deterministic salt off the member hash —
      // guide §2.5, never rand()), a component-level min over
      // ≤ saltBuckets partial rows, then one members ⋈ canonical
      // equi-join to attach — which IS a join, so AQE's runtime skew
      // split covers the attach side. Same (idScore, id)-lexicographic
      // pick; opt-in via SubgraphConfig.hotKeySaltBuckets because the
      // flat shape pays one more (tiny) exchange than the window when no
      // component is hot (tools/ProfileSkewPick measures both).
      val pick = struct(idScoreCol(col("member")).as("score"), col("member").as("id"))
      val partial = full
        .groupBy(col("component"),
          pmod(xxhash64(col("member")), lit(saltBuckets)).as("salt"))
        .agg(min(pick).as("m"))
      val canon = partial.groupBy(col("component"))
        .agg(min(col("m")).getField("id").as("canonical"))
      full.join(canon, Seq("component"))
        .select(col("member"), col("canonical"))
    } else {
      // Canonical pick as ONE window aggregate over the component instead
      // of groupBy + join-back (round 16, guide §2.4): the old shape
      // computed the `full` subtree twice (column pruning diverges between
      // the aggregate and join branches, so the exchange never reuses) and
      // paid a second component-keyed exchange for the join. min(struct)
      // over the partition is the same (idScore, id)-lexicographic pick;
      // skew exposure is unchanged — the join also routed every member of
      // a component to one reducer.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
      full.select(col("member"),
        min(struct(idScoreCol(col("member")).as("score"), col("member").as("id")))
          .over(w).getField("id").as("canonical"))
    }
  }

  /** Mirror of [[graft.curie.Ids.isValidId]]: all-numeric ids are dropped
    * unless 16+ chars (UUID-like, accepted by the reference check_id). */
  def isValidIdCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (id.isNotNull) && (id =!= "") &&
      (length(id) >= 16 || !id.rlike("^[0-9]+$"))

  /** Seeded equivalences (config `additional_equivalence_groups`, e.g.
    * `[grebi:name, ols:label, rdfs:label]`) expressed as extra id-set rows. */
  def seedRows(spark: SparkSession, seeds: Seq[Seq[String]]): DataFrame = {
    import spark.implicits._
    seeds.toDF("ids")
  }
}
