package graft.pipeline

import graft.SparkSpec
import graft.model.{IngestNode, RawValue}
import graft.sinks.SolrConfig
import org.apache.spark.sql.functions._

/** Drives the whole config→artifacts build (the Nextflow-DAG
  * replacement) on a small two-datasource graph with every config knob
  * exercised: prefix normalisation, seeded equivalence groups, excluded
  * props, superclass typing. */
class PipelineDriverSpec extends SparkSpec {

  def mk(ids: Seq[String], ds: String, types: Seq[String], props: (String, Seq[RawValue])*): IngestNode =
    IngestNode(ids, ds, "raw", types, props.toMap)

  lazy val config = SubgraphConfig(
    name = "fixture_sg",
    prefixMap = Map("http://purl.obolibrary.org/obo/MONDO_" -> "mondo:", "EFO:" -> "efo:"),
    additionalEquivalenceGroups = Seq(Seq("grebi:name", "rdfs:label")),
    excludeProps = Set("internal:junk"),
    typeSuperclasses = Set("biolink:Disease"),
    ancestorProp = "ols:directAncestor")

  lazy val build: SubgraphBuild = {
    import spark.implicits._
    val dsA = Seq(
      mk(Seq("http://purl.obolibrary.org/obo/MONDO_0005044"), "dsA", Seq("owl:Class"),
        "rdfs:label" -> Seq(RawValue.str("type 2 diabetes mellitus")),
        "ols:directAncestor" -> Seq(RawValue.str("biolink:Disease")),
        "internal:junk" -> Seq(RawValue.str("drop"))),
      mk(Seq("biolink:Disease"), "dsA", Seq("owl:Class"),
        "rdfs:label" -> Seq(RawValue.str("disease")))).toDS()
    val dsB = Seq(
      mk(Seq("EFO:0000537", "http://purl.obolibrary.org/obo/MONDO_0005044"), "dsB", Nil,
        "grebi:name" -> Seq(RawValue.str("T2DM"))),
      mk(Seq("orphan:1"), "dsB", Nil,
        "grebi:name" -> Seq(RawValue.str("no type, dropped")))).toDS()
    GraftPipeline.run(spark, config, Seq(dsA, dsB))
  }

  test("normalise: literal output over all six rewrite sites") {
    // the fixture nests every rewrite site: ids, types, prop keys, prop
    // values, qualifier keys, qualifier values
    import spark.implicits._
    val trie = graft.curie.PrefixTrie(config.prefixMap)
    val nodes = Seq(
      mk(Seq("http://purl.obolibrary.org/obo/MONDO_7", "EFO:9"), "dsQ", Seq("EFO:111"),
        "EFO:key" -> Seq(RawValue.reified("http://purl.obolibrary.org/obo/MONDO_8",
          Map("EFO:qual" -> Seq("EFO:qv", "plain"),
            "plainQual" -> Seq("http://purl.obolibrary.org/obo/MONDO_9")))),
        "plainKey" -> Seq(RawValue.str("untouched"))),
      mk(Seq("orphan:1"), "dsQ", Nil)).toDS()
    val got = GraftPipeline.normalise(nodes, trie).collect().sortBy(_.ids.mkString(","))
    assert(got.toSeq === Seq(
      mk(Seq("mondo:7", "efo:9"), "dsQ", Seq("efo:111"),
        "efo:key" -> Seq(RawValue.reified("mondo:8",
          Map("efo:qual" -> Seq("efo:qv", "plain"), "plainQual" -> Seq("mondo:9")))),
        "plainKey" -> Seq(RawValue.str("untouched"))),
      mk(Seq("orphan:1"), "dsQ", Nil)))
  }

  test("normalise: colliding keys merge value lists, no last-write-win") {
    // EFO:key and efo:key both rewrite to efo:key (the trie matches
    // case-insensitively); so do the qualifier keys EFO:q and efo:q
    import spark.implicits._
    val trie = graft.curie.PrefixTrie(config.prefixMap)
    val nodes = Seq(
      mk(Seq("x:1"), "dsC", Nil,
        "EFO:key" -> Seq(RawValue.reified("EFO:1", Map("EFO:q" -> Seq("a"), "efo:q" -> Seq("b")))),
        "efo:key" -> Seq(RawValue.str("two")))).toDS()
    val props = GraftPipeline.normalise(nodes, trie).collect().head.props
    assert(props.keySet === Set("efo:key"))
    val vs = props("efo:key").sortBy(_.value)
    assert(vs.map(_.value) === Seq("efo:1", "two"))
    assert(vs.head.qualifiers.keySet === Set("efo:q"))
    assert(vs.head.qualifiers("efo:q").sorted === Seq("a", "b"))
  }

  test("full build: normalise + seeded groups + merge + superclass typing") {
    val nodes = build.merged.collect()
    // orphan dropped (no type), disease + t2dm survive; canonical id is
    // mondo:0005044 (more alphabetic chars than efo:0000537, reference
    // id_score preference)
    assert(nodes.map(_.nodeId).sorted.toSeq == Seq("biolink:Disease", "mondo:0005044"))
    val t2d = nodes.find(_.nodeId == "mondo:0005044").get
    // IRI normalised into the clique; both datasources merged
    assert(t2d.datasources == Seq("dsA", "dsB"))
    assert(t2d.sourceIds.contains("efo:0000537"))
    // property-key merging via seeded clique: rdfs:label → grebi:name
    assert(t2d.props("grebi:name").map(_.value).sorted == Seq("T2DM", "type 2 diabetes mellitus"))
    assert(!t2d.props.contains("rdfs:label"))
    // superclass promoted to type
    assert(t2d.props("grebi:type").map(_.value).contains("biolink:Disease"))
    // excluded prop gone
    assert(!t2d.props.contains("internal:junk"))
    // subgraph stamped
    assert(nodes.forall(_.subgraph == "fixture_sg"))
  }

  test("ancestor value becomes an edge to the type node") {
    val e = build.edges.collect()
    assert(e.exists(r => r.getAs[String]("edgeType") == "ols:directAncestor" &&
      r.getAs[String]("fromNodeId") == "mondo:0005044" &&
      r.getAs[String]("toNodeId") == "biolink:Disease"))
  }

  test("summary json aggregates props, types and the edge cube") {
    val json = GraftPipeline.summaryJson(build, "fixture_sg")
    assert(json.contains("\"grebi:name\":3"))
    assert(json.contains("\"types\""))
    assert(json.contains("ols:directAncestor"))
  }

  test("summary json carries defs and the nested per-datasource edge cube") {
    val json = GraftPipeline.summaryJson(build, "fixture_sg")
    // biolink:Disease is a TYPE that is itself a node → its metadata row
    // becomes its definition (the reference's type_defs)
    assert(json.contains(
      "\"type_defs\":{\"biolink:Disease\":{\"grebi:nodeId\":\"biolink:Disease\""))
    assert(json.contains("\"grebi:name\":\"disease\""))
    // plain props are not nodes in this fixture → empty defs, present key
    assert(json.contains("\"entity_prop_defs\":{}"))
    // edges nest src sig → edge type → dst sig → datasource sig → count
    assert(json.contains(
      "\"ols:directAncestor\":{\"owl:Class\":{\"dsA\":1}}"))
  }

  test("write: all artifacts land, kv point lookup works") {
    val out = java.nio.file.Files.createTempDirectory("graftout").toString
    GraftPipeline.write(build, out)
    val files = new java.io.File(out).list().toSet
    assert(Set("merged.parquet", "metadata.parquet", "edges.parquet",
      "neo_nodes.csv", "neo_edges.csv", "solr", "kv.parquet",
      "names.txt", "summary.json").subsetOf(files))
    val got = graft.sinks.Sinks.kvLookup(spark, s"$out/kv.parquet", "mondo:0005044")
    assert(got.exists(_.contains("\"grebi:nodeId\":\"mondo:0005044\"")))
  }

  test("solr config generation: per-prop copyFields + autocomplete analyzers") {
    val out = java.nio.file.Files.createTempDirectory("graftsolr").toString
    GraftPipeline.write(build, out)
    def read(p: String) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/solr_config/$p"))
    val nodes = read("grebi_nodes_fixture_sg/conf/schema.xml")
    // every observed prop gets field + str_/lowercase_ copyFields
    // (make_solr_config.py:40-47), with : and & rewritten
    assert(nodes.contains(
      """<field name="grebi__name" type="string" indexed="true" stored="false" required="false" multiValued="true" />"""))
    assert(nodes.contains("""<copyField source="grebi__name" dest="str_grebi__name"/>"""))
    assert(nodes.contains("""<copyField source="grebi__name" dest="lowercase_grebi__name"/>"""))
    assert(nodes.contains("""<copyField source="grebi__nodeId" dest="str_grebi__nodeId"/>"""))
    assert(nodes.contains("""<dynamicField name="str_*""""))
    assert(!nodes.contains("internal__junk")) // excluded props never indexed
    assert(read("grebi_nodes_fixture_sg/core.properties") == "name=grebi_nodes_fixture_sg\n")
    assert(read("grebi_edges_fixture_sg/core.properties") == "name=grebi_edges_fixture_sg\n")
    val auto = read("grebi_autocomplete_fixture_sg/conf/schema.xml")
    // the three autocomplete match tiers (grebi_autocomplete schema.xml:116-167)
    assert(auto.contains("""<copyField source="label" dest="whitespace_label"/>"""))
    assert(auto.contains("""<copyField source="label" dest="edge_label"/>"""))
    assert(auto.contains("""<copyField source="label" dest="whitespace_edge_label"/>"""))
    assert(auto.contains("EdgeNGramFilterFactory"))
    assert(SolrConfig.fieldName("a:b&c") == "a__b_c")
  }

  /** How many executed queries carried the edges plan (the `edgeId` sha2
    * projection) while `body` ran. */
  private def edgesPlanRuns(body: => Unit): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Sha2}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.exists(_.expressions.exists(_.exists {
            case a: Alias => a.name == "edgeId" && a.child.isInstanceOf[Sha2]
            case _ => false
          }))) runs.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graftbridge.ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 60000L)
    } finally spark.listenerManager.unregister(listener)
    runs.get
  }

  test("write: the edges plan runs once; later consumers re-scan edges.parquet") {
    val b = build
    val out = java.nio.file.Files.createTempDirectory("graftedges").toString
    assert(edgesPlanRuns(GraftPipeline.write(b, out)) === 1)
    // the listener does see every edges execution: summaryJson alone runs
    // the plan twice (edge-prop keys and the cube)
    assert(edgesPlanRuns(GraftPipeline.summaryJson(b, "fixture_sg")) === 2)
  }

  test("write: summary.json equals summaryJson byte for byte") {
    val out = java.nio.file.Files.createTempDirectory("graftsummary").toString
    GraftPipeline.write(build, out)
    val written = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/summary.json"))
    assert(written === GraftPipeline.summaryJson(build, "fixture_sg"))
  }

  test("write: every job it submits carries the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val b = build
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    val out = java.nio.file.Files.createTempDirectory("graftgroup").toString
    org.apache.spark.graftbridge.ListenerBusBridge.waitUntilEmpty(sc, 60000L)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("sinks-under-test", "write()", interruptOnCancel = false)
      try GraftPipeline.write(b, out) finally sc.clearJobGroup()
      org.apache.spark.graftbridge.ListenerBusBridge.waitUntilEmpty(sc, 60000L)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.size > 10)
    assert(seen.toSet === Set("sinks-under-test"))
  }

  test("write: a failing sink's exception surfaces after every branch ended") {
    val b = build
    val out = java.nio.file.Files.createTempDirectory("graftfail")
    // a plain file where the KV store's directory must go
    java.nio.file.Files.writeString(out.resolve("kv.parquet"), "not a directory")
    val ex = intercept[Throwable](GraftPipeline.write(b, out.toString))
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t => String.valueOf(t.getMessage).contains("kv.parquet")), ex)
    import scala.jdk.CollectionConverters._
    val sinkThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-sinks-") && t.isAlive)
    assert(sinkThreads.isEmpty)
    // the other branches of that wave still ran to the end
    assert(new java.io.File(s"$out/solr").exists())
  }

  test("broadcast (small-data opt-in) pipeline produces the identical build") {
    import spark.implicits._
    val dsA = Seq(
      mk(Seq("http://purl.obolibrary.org/obo/MONDO_0005044"), "dsA", Seq("owl:Class"),
        "rdfs:label" -> Seq(RawValue.str("type 2 diabetes mellitus")),
        "ols:directAncestor" -> Seq(RawValue.str("biolink:Disease")),
        "internal:junk" -> Seq(RawValue.str("drop"))),
      mk(Seq("biolink:Disease"), "dsA", Seq("owl:Class"),
        "rdfs:label" -> Seq(RawValue.str("disease")))).toDS()
    val dsB = Seq(
      mk(Seq("EFO:0000537", "http://purl.obolibrary.org/obo/MONDO_0005044"), "dsB", Nil,
        "grebi:name" -> Seq(RawValue.str("T2DM")))).toDS()
    val b2 = GraftPipeline.run(spark, config.copy(broadcastGroups = true), Seq(dsA, dsB))
    def canon(b: SubgraphBuild) = b.merged.collect()
      .map(graft.sinks.Sinks.renderNode).sorted.toSeq
    assert(canon(b2) == canon(build))
  }

  test("combined subgraphs: ids NEVER rewritten; cross-subgraph clashes rejected") {
    // same build under two names = every id collides → the uniqueness
    // guard must reject (a combined bulk import would silently merge them)
    val ex = intercept[IllegalArgumentException] {
      GraftPipeline.combineSubgraphs(Seq("sgA" -> build, "sgB" -> build)).collect()
    }
    assert(ex.getMessage.contains("collide"))
    // explicit opt-out unions as-is, subgraph stamped, ids untouched (the
    // reference concatenates per-subgraph outputs without rewriting, so
    // edges/props keep resolving against the raw ids)
    val combined = GraftPipeline.combineSubgraphs(
      Seq("sgA" -> build, "sgB" -> build), requireUniqueIds = false).collect()
    assert(combined.length == 4)
    assert(combined.map(_.nodeId).toSet == build.merged.collect().map(_.nodeId).toSet)
    assert(combined.map(_.subgraph).toSet == Set("sgA", "sgB"))
  }

  test("materialised query results sink (K8)") {
    val out = java.nio.file.Files.createTempDirectory("graftq").toString
    val q = Map("diseases" -> build.metadata.where(col("name").isNotNull))
    GraftPipeline.materialiseQueries(spark, out, q)
    assert(new java.io.File(s"$out/queries/diseases").exists())
    assert(new java.io.File(s"$out/queries/_metadata").exists())
  }
}
