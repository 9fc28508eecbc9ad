package graft.pipeline

import graft.core.Json
import graft.curie.PrefixTrie
import graft.identity.{AssignIds, AssignedNode, Groups}
import graft.index.Index
import graft.materialise.Materialise
import graft.merge.Merge
import graft.model.{IngestNode, MergedNode, RawValue}
import graft.sinks.{Sinks, SolrConfig}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Subgraph build configuration — the Spark restatement of the reference
  * subgraph config JSONs (identifier_props via the adapters,
  * `additional_equivalence_groups`, `exclude_props`, `type_superclasses`,
  * prefix map). */
final case class SubgraphConfig(
    name: String,
    prefixMap: Map[String, String] = Map.empty,
    additionalEquivalenceGroups: Seq[Seq[String]] = Nil,
    excludeProps: Set[String] = Set.empty,
    typeSuperclasses: Set[String] = Set.empty,
    ancestorProp: String = "ols:directAncestor",
    /** `identifier_props`: property keys whose values join the node's
      * identifier set for equivalence grouping (the reference's
      * extract_identifiers step reads the same list from the config). An
      * empty list keeps adapter-provided ids only. */
    identifierProps: Seq[String] = Nil,
    /** `exclude_edges`: edge property names never materialised. */
    excludeEdges: Set[String] = Set.empty,
    /** `exclude_self_referential_edges` (carried through to
      * [[graft.materialise.Materialise.edges]] callers; the engine's
      * default blanket self-edge drop is a superset of the reference's
      * per-prop list). */
    excludeSelfReferentialEdges: Set[String] = Set.empty,
    /** `bytes_per_merged_file`: target output chunk size (K9 size-split
      * sizing hint for the sinks). */
    bytesPerMergedFile: Option[Long] = None,
    /** `datasource_configs`: YAML paths expanded by
      * [[ConfigLoader.runFromConfigFile]]. */
    datasourceConfigs: Seq[String] = Nil,
    /** >0 = salt the edge/refs metadata joins with this many buckets
      * (deterministic replicated join, `core.Skew`) — the plan-level hub
      * -node skew mitigation for datasets where one target id receives a
      * large share of all references. 0 (default) keeps the plain join
      * (AQE's runtime skew split covers the sort-merge case). */
    hotKeySaltBuckets: Int = 0,
    /** false (default) ⇒ the groups table never leaves the cluster: id
      * assignment runs as distributed joins (AssignIds.joinBased) instead
      * of a driver-collect + broadcast map — the 100 TB-safe plan. true is
      * the small-data opt-in (one less shuffle when the group table is
      * known to fit in driver + executor memory). */
    broadcastGroups: Boolean = false)

/** Everything the build produces, as live Datasets/DataFrames. */
final case class SubgraphBuild(
    merged: Dataset[MergedNode],
    metadata: DataFrame,
    edges: DataFrame,
    displayTypes: DataFrame,
    refs: DataFrame,
    typeCounts: DataFrame,
    entityPropCounts: DataFrame,
    names: DataFrame,
    groups: Map[String, String])

/** The end-to-end subgraph build — the engine's restatement of the
  * Nextflow DAG (`nextflow/01_create_subgraph.nf:14-70`): one Spark job
  * DAG `union(ingests) → normalise → groups(CC) → assign → merge →
  * [cache] → (index ∥ materialise) → sinks`, where the reference's
  * process boundaries become shuffle stages and `tee` becomes DAG fan-out
  * from the cached merged Dataset (SURVEY §3.1).
  */
object GraftPipeline {

  /** Stage 2 analog — prefix-normalise every id, property key and string
    * value through the trie (P1 applied to the whole record, reference
    * `grebi_normalise_prefixes/src/main.rs:33-74`).
    *
    * A typed map: the round-16 A/B measured a column-native rebuild
    * (transform/map_entries at three nesting levels) 1.5–2.3× SLOWER at
    * ~1.5M qualifier-nested records (typed 5.7/7.8 s vs native
    * 13.0/12.0 s medians) — the per-row builders cost more than the
    * object round-trip they remove. TUNING.md "Closed A/Bs — deleted".
    *
    * Two prop or qualifier keys that rewrite to the same CURIE (`EFO:x`
    * and `efo:x` in one record) MERGE their value lists, never
    * last-write-win (same rule as AssignIds.assignOne). */
  def normalise(nodes: Dataset[IngestNode], trie: PrefixTrie): Dataset[IngestNode] = {
    val spark = nodes.sparkSession
    import spark.implicits._
    nodes.map { n =>
      n.copy(
        ids = n.ids.map(trie.rewrite),
        types = n.types.map(trie.rewrite),
        props = rekey(n.props, trie)(_.map(v => v.copy(
          value = trie.rewrite(v.value),
          qualifiers = rekey(v.qualifiers, trie)(_.map(trie.rewrite))))))
    }
  }

  /** `m` with every key rewritten and every value list mapped by `f`. The
    * plain rebuild is kept when no two keys collide (the common case);
    * only a smaller result pays for the fold that concatenates colliding
    * keys' value lists. */
  private def rekey[V](m: Map[String, Seq[V]], trie: PrefixTrie)(
      f: Seq[V] => Seq[V]): Map[String, Seq[V]] = {
    val out = m.map { case (k, vs) => trie.rewrite(k) -> f(vs) }
    if (out.size == m.size) out
    else m.foldLeft(Map.empty[String, Seq[V]]) { case (acc, (k, vs)) =>
      val key = trie.rewrite(k)
      acc.updated(key, acc.getOrElse(key, Nil) ++ f(vs))
    }
  }

  /** superclasses2types (`02_assign_ids/grebi_superclasses2types/src/
    * main.rs:60-150`): any ancestor value in the configured superclass
    * set is promoted into `grebi:type`. Pure map-side. */
  def superclassesToTypes(nodes: Dataset[AssignedNode], typeSuperclasses: Set[String],
                          ancestorProp: String): Dataset[AssignedNode] = {
    if (typeSuperclasses.isEmpty) nodes
    else {
      val spark = nodes.sparkSession
      import spark.implicits._
      nodes.map { n =>
        val promoted = n.props.getOrElse(ancestorProp, Nil)
          .map(_.value).filter(typeSuperclasses.contains)
        if (promoted.isEmpty) n
        else {
          val existing = n.props.getOrElse("grebi:type", Nil)
          val have = existing.map(_.value).toSet
          val add = promoted.filterNot(have).distinct.map(RawValue.str)
          n.copy(props = n.props.updated("grebi:type", existing ++ add))
        }
      }
    }
  }

  /** Run the full build. `ingests` are the per-datasource adapter outputs
    * (SURVEY §2.1); everything downstream is shared. */
  def run(spark: SparkSession, config: SubgraphConfig,
          ingests: Seq[Dataset[IngestNode]]): SubgraphBuild = {
    import spark.implicits._
    require(ingests.nonEmpty, "at least one ingest dataset required")

    // U1 — union of all ingest outputs, then P1 normalisation. The union
    // is consumed TWICE (groups path + assign_ids) and deliberately NOT
    // persisted: round 15 measured the persist at 10× scale and the
    // columnar cache-build of these nested provenance rows (ids array +
    // props map) cost ~1.6× the second scan it saved (g14 sfx1 min
    // 18.8 s unpersisted vs 30.0 s persisted — TUNING "g14 stage
    // probe"). At 100 TB the same trade holds harder: the second pass is
    // a parquet re-scan with pushdown, the cache is a full nested
    // materialisation. Callers that want single-scan semantics should
    // stage the union to parquet (the d3s/d16s pattern), not cache it.
    val all0 = ingests.reduce(_ union _)
    val all = if (config.prefixMap.isEmpty) all0
      else normalise(all0, PrefixTrie(config.prefixMap))

    // J7 — equivalence groups from id co-occurrence + seeded cliques;
    // identifier_props values join each record's id set exactly like the
    // reference's extract_identifiers config step
    val idProps = config.identifierProps.filter(_ != "id")
    // Column-native id-set extraction (round 16; was a typed map): the
    // groups branch reads ONLY the ids (+ configured identifier props)
    // off the union, so keep it a pruned codegen projection instead of
    // deserializing every IngestNode. Same sets: missing identifier
    // props contribute nothing (try_element_at → null → coalesce []).
    val recordIdSets =
      if (idProps.isEmpty) all.toDF().select(col("ids"))
      else {
        // every concat leg null-guarded (r16 ADVICE): one null leg nulls
        // the whole concat and silently drops the record from grouping
        val extras = idProps.map(p =>
          coalesce(
            transform(try_element_at(col("props"), lit(p)), v => v.getField("value")),
            array().cast("array<string>")))
        all.toDF().select(concat(
          coalesce(col("ids"), array().cast("array<string>")) +: extras: _*).as("ids"))
      }
    val seedDf = if (config.additionalEquivalenceGroups.isEmpty) None
      else Some(config.additionalEquivalenceGroups.toDF("ids"))
    val idSets = seedDf.foldLeft(recordIdSets)(_ union _)
    // hotKeySaltBuckets also skew-proofs the canonical pick (round 17):
    // a mega-clique component otherwise funnels through one reducer in
    // the groups tail exactly like a hub node in the edge/refs joins
    val groupsDf = Groups.fromIdSets(idSets, saltBuckets = config.hotKeySaltBuckets)
    val (assignedRaw, groups) =
      if (config.broadcastGroups) {
        val g = groupsDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
        (AssignIds(spark, all, g), g)
      } else {
        (AssignIds.joinBased(spark, all, groupsDf), Map.empty[String, String])
      }

    // superclass typing + A1 merge
    val assigned = superclassesToTypes(
      assignedRaw, config.typeSuperclasses, config.ancestorProp)
    // subgraph stamp as a column projection, not a typed map (round 17):
    // the .map(m => m.copy(...)) paid a Deserialize→map→Serialize span
    // over every merged row just to overwrite one string column
    val merged = Merge(spark, assigned, config.excludeProps)
      .withColumn("subgraph", lit(config.name))
      .as[MergedNode]
      .cache()

    // 04_index ∥ 05_materialise off the cached merge
    val metadata = Index.metadata(merged).cache()
    val typeCounts = Index.typeCounts(merged)
    // edges only needs the node-ID DIMENSION, not the metadata table:
    // pass a pruned projection of the cached merge so the edge pass
    // reads one column from the cache instead of forcing the metadata
    // computation (+ its cache build) on pipelines that never consume
    // metadata itself (round 16; the g14 gate consumes only edges).
    val nodeIdDim = merged.toDF().select(col("nodeId"))
    val edges = Materialise.edges(merged, nodeIdDim,
      excludeProps = Set("grebi:type", "grebi:name") ++ config.excludeEdges,
      saltBuckets = config.hotKeySaltBuckets,
      // a config-supplied list switches to the reference's per-prop
      // self-edge rule; otherwise the blanket drop stands
      selfReferentialProps =
        if (config.excludeSelfReferentialEdges.nonEmpty)
          Some(config.excludeSelfReferentialEdges)
        else None)
    val displayTypes = Materialise.displayTypes(merged, typeCounts)
    val refs = Materialise.refs(merged, metadata, saltBuckets = config.hotKeySaltBuckets)

    SubgraphBuild(merged, metadata, edges, displayTypes, refs,
      typeCounts, Index.entityPropCounts(merged), Index.names(merged), groups)
  }

  /** summary.json analog: entity-prop counts and type counts
    * (`04_index/grebi_index/src/main.rs:214-232`), plus the materialise
    * extensions (`05_materialise/grebi_materialise/src/main.rs:227-258`)
    * — prop/type DEFINITION blocks (the graph describes its own schema:
    * a prop key or type that is itself a node contributes its metadata
    * row as its definition) and the edge summary cube NESTED
    * src-type-sig → edge type → dst-type-sig → datasource-sig → count,
    * exactly the reference's EdgeSummaryTable shape. Everything
    * collected here is a bounded summary (distinct props/types/type
    * signatures), never corpus-sized. */
  def summaryJson(build: SubgraphBuild, subgraph: String): String =
    summary(subgraph, counts(build.entityPropCounts), counts(build.typeCounts),
      edgePropKeys(build.edges), edgeCube(build.edges, build.metadata), build.metadata)

  private def counts(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

  private def edgePropKeys(edges: DataFrame): Seq[String] =
    edges.select(explode(json_object_keys(col("qualifiersJson"))).as("k"))
      .distinct().collect().map(_.getString(0)).toSeq

  private type CubeRow = (String, String, String, String, Long)

  private def edgeCube(edges: DataFrame, metadata: DataFrame): Seq[CubeRow] =
    Materialise.edgeSummary(edges, metadata).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq

  /** The summary body over already-collected counts, edge-prop keys and
    * cube; only the definition lookup still reads `metadata`. */
  private def summary(subgraph: String, propCounts: Seq[(String, Long)],
      typeCounts: Seq[(String, Long)], edgePropKeys: Seq[String], cube: Seq[CubeRow],
      metadata: DataFrame): String = {
    def countsMap(kvs: Seq[(String, Long)]): String =
      kvs.sortBy(_._1).map { case (k, n) => Json.str(k) + ":" + n }.mkString("{", ",", "}")

    val propKeys = propCounts.map(_._1)
    val typeNames = typeCounts.map(_._1)
    val wanted = (propKeys ++ typeNames ++ edgePropKeys).distinct
    val defByNode: Map[String, String] =
      (if (wanted.isEmpty) Array.empty[org.apache.spark.sql.Row]
       else metadata.where(col("nodeId").isin(wanted: _*)).collect())
        .map { r =>
          val name = Option(r.getAs[String]("name"))
            .map(v => "," + Json.str("grebi:name") + ":" + Json.str(v)).getOrElse("")
          r.getString(0) -> (s"""{"grebi:nodeId":${Json.str(r.getString(0))},""" +
            s""""grebi:datasources":${r.getSeq[String](1).map(Json.str).mkString("[", ",", "]")},""" +
            s""""grebi:type":${r.getSeq[String](2).map(Json.str).mkString("[", ",", "]")}""" +
            name + "}")
        }.toMap
    def defsMap(keys: Seq[String]): String =
      keys.distinct.sorted
        .flatMap(k => defByNode.get(k).map(Json.str(k) + ":" + _))
        .mkString("{", ",", "}")

    def nest[A](rows: Seq[A])(key: A => String)(body: Seq[A] => String): String =
      rows.groupBy(key).toSeq.sortBy(_._1)
        .map { case (k, rs) => Json.str(k) + ":" + body(rs) }
        .mkString("{", ",", "}")
    val edgesNested = nest(cube)(_._1)(s1 =>
      nest(s1)(_._2)(s2 =>
        nest(s2)(_._3)(s3 =>
          s3.sortBy(_._4).map { case (_, _, _, ds, n) => Json.str(ds) + ":" + n }
            .mkString("{", ",", "}"))))

    s"""{"subgraph":${Json.str(subgraph)},""" +
      s""""entity_props":${countsMap(propCounts)},""" +
      s""""types":${countsMap(typeCounts)},""" +
      s""""entity_prop_defs":${defsMap(propKeys)},""" +
      s""""edge_prop_defs":${defsMap(edgePropKeys)},""" +
      s""""type_defs":${defsMap(typeNames)},""" +
      s""""edges":$edgesNested}"""
  }

  /** Persist all artifacts — parquet for the graph tables, the three
    * serving sinks (K1/K2, K5, K6), names.txt (K7) and summary.json — in
    * one pass that computes each artifact once (SURVEY §3.1 steps 7–8):
    *
    *   1. `merged.parquet` alone: its write fills run()'s merged cache,
    *      which every later sink reads.
    *   2. Concurrently, everything that reads only the merge: metadata,
    *      `edges.parquet`, the prop and type counts, the id CSVs, solr,
    *      the KV store and names.
    *   3. Concurrently, what needs step 2's outputs: `neo_nodes.csv` (the
    *      prop keys), and `neo_edges.csv`, the edge-prop keys and the
    *      summary cube, which re-scan the written `edges.parquet` — the
    *      reference's `edges.jsonl` handoff. A re-scan, not a persist:
    *      caching nested rows costs more than the scan it saves (TUNING
    *      "g14 stage probe", "Sinks in one pass").
    *   4. solr_config and summary.json on the driver.
    */
  def write(build: SubgraphBuild, outDir: String): Unit = {
    val spark = build.merged.sparkSession
    def parquet(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
    parquet(build.merged.toDF(), "merged.parquet")
    // the build's actual subgraph name (stamped by run() from the config)
    val sgName = build.merged.limit(1).collect().headOption
      .map(_.subgraph).getOrElse("subgraph")

    var propCounts, typeCounts = Seq.empty[(String, Long)]
    concurrently(
      () => parquet(build.metadata, "metadata.parquet"),
      () => parquet(build.edges, "edges.parquet"),
      () => propCounts = counts(build.entityPropCounts),
      () => typeCounts = counts(build.typeCounts),
      () => Sinks.writeCsv(Sinks.neoIdNodesCsvFrame(build.merged), s"$outDir/neo_nodes_ids.csv"),
      () => Sinks.writeCsv(Sinks.neoIdEdgesCsvFrame(build.merged), s"$outDir/neo_edges_ids.csv"),
      () => Sinks.writeSolr(build.merged, s"$outDir/solr"),
      () => Sinks.writeKvStore(build.merged, s"$outDir/kv.parquet"),
      () => build.names.write.mode(SaveMode.Overwrite).text(s"$outDir/names.txt"))

    val edges = spark.read.parquet(s"$outDir/edges.parquet")
    val propKeys = propCounts.map(_._1)
    var edgeKeys = Seq.empty[String]
    var cube = Seq.empty[CubeRow]
    concurrently(
      () => Sinks.writeCsv(Sinks.neoNodesCsvFrame(build.merged, propKeys, build.displayTypes),
        s"$outDir/neo_nodes.csv"),
      () => Sinks.writeCsv(Sinks.neoEdgesCsvFrame(edges), s"$outDir/neo_edges.csv"),
      () => edgeKeys = edgePropKeys(edges),
      () => cube = edgeCube(edges, build.metadata))

    // K5 config half: per-prop schema + autocomplete analyzers
    SolrConfig.write(s"$outDir/solr_config", sgName, propKeys, edgeKeys)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/summary.json"),
      summary(sgName, propCounts, typeCounts, edgeKeys, cube, build.metadata))
  }

  /** Run `branches` side by side, each on a thread created here, so its
    * Spark jobs inherit the caller's local properties (job group,
    * scheduler pool). Every branch has ended when this returns or throws;
    * the first failure is rethrown. */
  private def concurrently(branches: (() => Unit)*): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = branches.zipWithIndex.map { case (b, i) =>
      new Thread(() => try b() catch { case t: Throwable => failures.add(t); () },
        s"graft-sinks-$i")
    }
    threads.foreach(_.start())
    try threads.foreach(_.join())
    catch { case e: InterruptedException =>
      threads.foreach(_.interrupt())
      threads.foreach(_.join())
      throw e
    }
    Option(failures.peek()).foreach(t => throw t)
  }

  /** The combined-subgraphs build (second reference workflow,
    * `nextflow/02_create_dbs.nf:13-38`): the per-subgraph outputs union
    * AS-IS with only the subgraph tag stamped — the reference never
    * rewrites ids when combining (it concatenates the per-subgraph CSVs
    * and dedups the id core with `sort -u`), so prefixing nodeIds here
    * would orphan every edge and prop reference, which still carry the
    * raw ids. The id space is therefore REQUIRED to be globally unique
    * across subgraphs (the reference's standing assumption); the check is
    * one distributed groupBy, disable it only when the caller has already
    * proven disjointness. */
  def combineSubgraphs(builds: Seq[(String, SubgraphBuild)],
                       requireUniqueIds: Boolean = true): Dataset[MergedNode] = {
    require(builds.nonEmpty)
    val spark = builds.head._2.merged.sparkSession
    import spark.implicits._
    val combined = builds.map { case (sg, b) =>
      // same column-projection stamp as run() — no object boundary
      b.merged.withColumn("subgraph", lit(sg)).as[MergedNode]
    }.reduce(_ union _)
    if (requireUniqueIds) {
      val clash = combined.groupByKey(_.nodeId)
        .agg(count_distinct(col("subgraph")).as[Long])
        .filter(_._2 > 1)
        .take(5)
      require(clash.isEmpty,
        s"node ids collide across subgraphs (combined import would merge them): " +
          clash.map(_._1).mkString(", "))
    }
    combined
  }

  /** K8 — materialised query results: each named query's result written
    * as CSV next to a consolidated metadata table
    * (`08_run_queries/run_queries.dockerpy:18-56`). */
  def materialiseQueries(spark: SparkSession, outDir: String,
                         queries: Map[String, DataFrame]): Unit = {
    import spark.implicits._
    queries.foreach { case (name, df) =>
      // CSV has no array type — 0x1F-join them like the Neo4j sink
      val flat = df.select(df.schema.fields.map { f =>
        f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType =>
            array_join(col(f.name), Sinks.ArraySep).as(f.name)
          case _ => col(f.name)
        }
      }: _*)
      flat.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(s"$outDir/queries/$name")
    }
    queries.keys.toSeq.sorted.toDF("query")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(s"$outDir/queries/_metadata")
  }
}
