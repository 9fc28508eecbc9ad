package graft.operators

import graft.core.{QueryDef, QueryModule, Tables}
import graft.index.Index
import graft.materialise.Materialise
import graft.model.{MergedNode, PropValue}
import graft.query.Query
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Gate coverage for the materialise + query-time operators (SURVEY §2.3
  * J3/J4, §2.4 A4/A6, §2.11 Q1/Q3/Q7/Q8): a property graph is derived from
  * the TPC-H-ish tables, the real engine code runs, and DuckDB recomputes
  * the closed-form expectation.
  */
object MaterialiseOps extends QueryModule {

  private def node(prefix: String, c: Column): Column = graft.core.Pad.node(prefix, c)
  private val sqlPad = (col: String) => graft.core.Pad.sql(col)

  private def pv(v: String): PropValue = PropValue(v, "s", Seq("tpch"), Nil, Map.empty)

  /** [[pv]] as a Catalyst column — the same PropValue shape built inside
    * codegen (field names/order must match the PropValue encoder). */
  private def pvCol(v: Column): Column = struct(
    v.as("value"), lit("s").as("kind"),
    array(lit("tpch")).as("datasources"),
    array().cast("array<string>").as("sourceIds"),
    // map() alone types as map<string,string>, which does not cast to a
    // map with array values — build the empty map with the right types
    map_from_arrays(array().cast("array<string>"),
      array().cast("array<array<string>>")).as("qualifiers"))

  /** Orders + customers as merged nodes; the order's `ord:customer` prop
    * holds the customer's node id. Column-native since round 16 (was two
    * typed maps): every downstream consumer (edges, metadata, refs,
    * summary) is now column-native too, so the whole g5/g7/g12/g13
    * family stays inside WholeStageCodegen with no object construction
    * per row — same rows, the MergedNode encoder schema built directly
    * with struct/map literals. */
  private def orderGraph(s: SparkSession, d: String): Dataset[MergedNode] = {
    import s.implicits._
    def mergedNode(id: Column, props: Column) = Seq(
      id.as("nodeId"), array(lit("tpch")).as("datasources"),
      array(id).as("sourceIds"), lit("tpch").as("subgraph"), props.as("props"))
    val custs = Tables.customer(s, d).select(mergedNode(
      node("c:", col("c_custkey")),
      map(lit("grebi:type"), array(pvCol(col("c_mktsegment"))),
        lit("grebi:name"), array(pvCol(col("c_name"))))): _*)
    val ords = Tables.orders(s, d).select(mergedNode(
      node("o:", col("o_orderkey")),
      map(lit("grebi:type"), array(pvCol(col("o_orderpriority"))),
        lit("ord:customer"), array(pvCol(node("c:", col("o_custkey")))))): _*)
    custs.union(ords).as[MergedNode]
  }

  /** J3 — edge materialisation with content-hash edge ids. The node-id
    * dimension is a pruned projection of the nodes themselves — the edge
    * pass needs no metadata (name/types) at all, so the former
    * Index.metadata subtree (a full second pass over the node set) is
    * gone from the plan (round 16; same rows, metadata's nodeId set ==
    * the node set by construction). */
  def edgeMaterialise(s: SparkSession, d: String): DataFrame = {
    val nodes = orderGraph(s, d)
    Materialise.edges(nodes, nodes.toDF().select(col("nodeId")))
      .select(col("edgeId"), col("edgeType"), col("fromNodeId"), col("toNodeId"))
      .orderBy(col("fromNodeId"), col("toNodeId"))
  }

  val edgeMaterialiseSql: String =
    s"""SELECT sha256('tpch' || chr(31) || 'o:' || ${sqlPad("o_orderkey")} || chr(31) || 'ord:customer'
      |           || chr(31) || 'c:' || ${sqlPad("o_custkey")} || chr(31) || '{}') AS edgeId,
      |  'ord:customer' AS edgeType,
      |  'o:' || ${sqlPad("o_orderkey")} AS fromNodeId,
      |  'c:' || ${sqlPad("o_custkey")} AS toNodeId
      |FROM orders ORDER BY fromNodeId, toNodeId""".stripMargin

  /** A6 — rarest-type displayType over parts carrying two types
    * (brand + type family). */
  def displayType(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nodes = Tables.part(s, d)
      .select(node("p:", col("p_partkey")).as("id"), col("p_brand"), col("p_type"))
      .as[(String, String, String)]
      .map { case (id, brand, ptype) => MergedNode(id, Seq("tpch"), Seq(id), "tpch",
        Map("grebi:type" -> Seq(pv(brand), pv(ptype)))) }
    Materialise.displayTypes(nodes, Index.typeCounts(nodes))
      .orderBy(col("nodeId"))
  }

  val displayTypeSql: String =
    s"""WITH nt AS (
      |  SELECT p_partkey, p_brand AS t FROM part
      |  UNION ALL SELECT p_partkey, p_type FROM part),
      |tc AS (SELECT t, count(*) AS c FROM nt GROUP BY t),
      |ranked AS (
      |  SELECT p_partkey, t, row_number() OVER (PARTITION BY p_partkey ORDER BY c, t) AS rn
      |  FROM nt JOIN tc USING (t))
      |SELECT 'p:' || ${sqlPad("p_partkey")} AS nodeId, t AS displayType
      |FROM ranked WHERE rn = 1 ORDER BY nodeId""".stripMargin

  /** A4 — edge summary cube by (srcTypeSig, edgeType, dstTypeSig,
    * datasourceSig). */
  def edgeSummary(s: SparkSession, d: String): DataFrame = {
    val nodes = orderGraph(s, d)
    val meta = Index.metadata(nodes)
    val edges = Materialise.edges(nodes, meta)
    Materialise.edgeSummary(edges, meta)
      .orderBy(col("srcTypeSig"), col("dstTypeSig"))
  }

  val edgeSummarySql: String =
    """SELECT o_orderpriority AS srcTypeSig, 'ord:customer' AS edgeType,
      |  c_mktsegment AS dstTypeSig, 'tpch' AS datasourceSig, count(*) AS count
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2, 3, 4 ORDER BY srcTypeSig, dstTypeSig""".stripMargin

  /** Q1 — boosted multi-field search over documents. */
  def searchDocs(s: SparkSession, d: String): DataFrame =
    Query.search(Tables.documents(s, d),
      Map("source" -> 10.0, "text" -> 2.0), "src3", "doc_id", size = 15)
      .select(col("doc_id"), col("source"), col("score"))

  val searchDocsSql: String =
    """SELECT doc_id, source, score FROM (
      |  SELECT doc_id, source,
      |    (CASE WHEN source = 'src3' THEN 10.0
      |          WHEN lower(source) LIKE '%src3%' THEN 5.0 ELSE 0 END)
      |  + (CASE WHEN text = 'src3' THEN 2.0
      |          WHEN lower(text) LIKE '%src3%' THEN 1.0 ELSE 0 END) AS score
      |  FROM documents)
      |WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 15""".stripMargin

  /** Q3 — facet counts with facet-exclusion. */
  def facetDocs(s: SparkSession, d: String): DataFrame =
    Query.facets(Tables.documents(s, d), Map("lang" -> Seq("en")), Seq("lang", "source"))
      .orderBy(col("facet_field"), col("facet_value"))

  val facetDocsSql: String =
    """SELECT 'lang' AS facet_field, lang AS facet_value, count(*) AS count
      |FROM documents GROUP BY lang
      |UNION ALL
      |SELECT 'source', source, count(*) FROM documents WHERE lang = 'en' GROUP BY source
      |ORDER BY facet_field, facet_value""".stripMargin

  /** Q7 — bounded BFS: region 0 ← nations ← customers ← orders. */
  def traversal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e1 = Tables.orders(s, d).select(node("o:", col("o_orderkey")).as("fromNodeId"),
      node("c:", col("o_custkey")).as("toNodeId"), lit("ord:customer").as("edgeType"))
    val e2 = Tables.customer(s, d).select(node("c:", col("c_custkey")).as("fromNodeId"),
      node("n:", col("c_nationkey")).as("toNodeId"), lit("cust:nation").as("edgeType"))
    val e3 = Tables.nation(s, d).select(node("n:", col("n_nationkey")).as("fromNodeId"),
      node("r:", col("n_regionkey")).as("toNodeId"), lit("nat:region").as("edgeType"))
    val seeds = Seq("r:000000000").toDF("nodeId")
    Query.reachable(e1.union(e2).union(e3), seeds, Nil, maxDepth = 3, direction = "in")
      .orderBy(col("nodeId"))
  }

  val traversalSql: String =
    s"""SELECT 'r:' || ${sqlPad("0")} AS nodeId, 0 AS depth
      |UNION ALL
      |SELECT 'n:' || ${sqlPad("n_nationkey")}, 1 FROM nation WHERE n_regionkey = 0
      |UNION ALL
      |SELECT 'c:' || ${sqlPad("c_custkey")}, 2 FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0
      |UNION ALL
      |SELECT 'o:' || ${sqlPad("o_orderkey")}, 3 FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0
      |ORDER BY nodeId""".stripMargin

  /** Q7 (filtered) — recursive traversal with edge-type alternation AND
    * an edge-property membership filter (`Neo4jClient.java:194-204`
    * `"v" IN edge.prop` + `makeEdgesList` alternation): nation 7's
    * customers and their orders, but only along edges whose `flag`
    * qualifier contains "even". */
  def traversalFiltered(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def flagJson(k: Column): Column =
      to_json(map(lit("flag"), array(when(k % 2 === 0, "even").otherwise("odd"))))
    val e1 = Tables.orders(s, d).select(node("o:", col("o_orderkey")).as("fromNodeId"),
      node("c:", col("o_custkey")).as("toNodeId"), lit("ord:customer").as("edgeType"),
      flagJson(col("o_orderkey")).as("qualifiersJson"))
    val e2 = Tables.customer(s, d).select(node("c:", col("c_custkey")).as("fromNodeId"),
      node("n:", col("c_nationkey")).as("toNodeId"), lit("cust:nation").as("edgeType"),
      flagJson(col("c_custkey")).as("qualifiersJson"))
    // a decoy edge type proves the alternation list is honoured
    val decoy = Tables.customer(s, d).select(node("x:", col("c_custkey")).as("fromNodeId"),
      node("n:", col("c_nationkey")).as("toNodeId"), lit("other:type").as("edgeType"),
      flagJson(col("c_custkey")).as("qualifiersJson"))
    val seeds = Seq("n:000000007").toDF("nodeId")
    Query.reachable(e1.union(e2).union(decoy), seeds,
      edgeTypes = Seq("ord:customer", "cust:nation"), maxDepth = 2,
      direction = "in", edgeProps = Map("flag" -> "even"))
      .orderBy(col("nodeId"))
  }

  val traversalFilteredSql: String =
    s"""SELECT 'n:' || ${sqlPad("7")} AS nodeId, 0 AS depth
      |UNION ALL
      |SELECT 'c:' || ${sqlPad("c_custkey")}, 1 FROM customer
      |  WHERE c_nationkey = 7 AND c_custkey % 2 = 0
      |UNION ALL
      |SELECT 'o:' || ${sqlPad("o_orderkey")}, 2 FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE c_nationkey = 7 AND c_custkey % 2 = 0 AND o_orderkey % 2 = 0
      |ORDER BY nodeId""".stripMargin

  /** J4 — `_refs` enrichment, exploded to rows: every prop value of an
    * order node that resolves to a node id surfaces with the referenced
    * node's metadata (name). */
  def refsExploded(s: SparkSession, d: String): DataFrame = {
    val nodes = orderGraph(s, d)
    val meta = Index.metadata(nodes)
    Materialise.refs(nodes, meta)
      .select(col("fromNodeId"), explode(col("refs")).as(Seq("ref", "refMeta")))
      .select(col("fromNodeId"), col("ref"), col("refMeta.name").as("refName"))
      .where(col("fromNodeId").startsWith("o:"))
      .orderBy(col("fromNodeId"), col("ref"))
  }

  val refsExplodedSql: String =
    s"""SELECT 'o:' || ${sqlPad("o_orderkey")} AS fromNodeId,
      |  'c:' || ${sqlPad("o_custkey")} AS ref, c_name AS refName
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |ORDER BY fromNodeId, ref""".stripMargin

  /** Q6 — paginated incoming-edge listing of one node
    * (`GrebiApi.java:81-176`): two pages of customer 42's incoming order
    * edges, ordered by edge id. */
  def edgeListing(s: SparkSession, d: String): DataFrame = {
    val nodes = orderGraph(s, d)
    val meta = Index.metadata(nodes)
    val edges = Materialise.edges(nodes, meta)
    val p0 = Query.incomingEdges(edges, meta, "c:000000042", page = 0, size = 3)
      .withColumn("page", lit(0))
    val p1 = Query.incomingEdges(edges, meta, "c:000000042", page = 1, size = 3)
      .withColumn("page", lit(1))
    p0.unionByName(p1)
      .select(col("page"), col("edgeId"), col("fromNodeId"), col("toNodeId"))
      .orderBy(col("page"), col("edgeId"))
  }

  val edgeListingSql: String =
    s"""WITH e AS (
      |  SELECT sha256('tpch' || chr(31) || 'o:' || ${sqlPad("o_orderkey")} || chr(31) || 'ord:customer'
      |           || chr(31) || 'c:' || ${sqlPad("o_custkey")} || chr(31) || '{}') AS edgeId,
      |    'o:' || ${sqlPad("o_orderkey")} AS fromNodeId,
      |    'c:' || ${sqlPad("o_custkey")} AS toNodeId
      |  FROM orders WHERE o_custkey = 42)
      |SELECT 0 AS page, edgeId, fromNodeId, toNodeId FROM
      |  (SELECT * FROM e ORDER BY edgeId LIMIT 3 OFFSET 0)
      |UNION ALL
      |SELECT 1, edgeId, fromNodeId, toNodeId FROM
      |  (SELECT * FROM e ORDER BY edgeId LIMIT 3 OFFSET 3)
      |ORDER BY page, edgeId""".stripMargin

  /** Q8 — tiered autocomplete over distinct part names. */
  def autocompleteNames(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
    Query.autocomplete(names, "r", size = 15)
  }

  val autocompleteNamesSql: String =
    """SELECT name, score FROM (
      |  SELECT name,
      |    CASE WHEN lower(name) = 'r' THEN 10.0
      |         WHEN lower(name) LIKE 'r%' THEN 2.0
      |         WHEN (' ' || lower(name)) LIKE '% r%' THEN 1.0 ELSE 0 END AS score
      |  FROM (SELECT DISTINCT p_name AS name FROM part))
      |WHERE score > 0 ORDER BY score DESC, name ASC LIMIT 15""".stripMargin

  /** Transitive closure + information-content scoring over the
    * order→customer→nation→region hierarchy (the reference's notebook
    * workload: recursive descendant counting then ic = 1 − n/max). */
  def icScores(s: SparkSession, d: String): DataFrame = {
    val e1 = Tables.orders(s, d).select(node("o:", col("o_orderkey")).as("fromNodeId"),
      node("c:", col("o_custkey")).as("toNodeId"))
    val e2 = Tables.customer(s, d).select(node("c:", col("c_custkey")).as("fromNodeId"),
      node("n:", col("c_nationkey")).as("toNodeId"))
    val e3 = Tables.nation(s, d).select(node("n:", col("n_nationkey")).as("fromNodeId"),
      node("r:", col("n_regionkey")).as("toNodeId"))
    Query.icScores(e1.union(e2).union(e3).withColumn("edgeType", lit("in")))
      .orderBy(col("nodeId"))
  }

  val icScoresSql: String =
    s"""WITH RECURSIVE edges(f, t) AS (
      |  SELECT 'o:' || ${sqlPad("o_orderkey")}, 'c:' || ${sqlPad("o_custkey")} FROM orders
      |  UNION ALL SELECT 'c:' || ${sqlPad("c_custkey")}, 'n:' || ${sqlPad("c_nationkey")} FROM customer
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, 'r:' || ${sqlPad("n_regionkey")} FROM nation),
      |closure(des, anc) AS (
      |  SELECT f, t FROM edges
      |  UNION
      |  SELECT c.des, e.t FROM closure c JOIN edges e ON c.anc = e.f),
      |counts AS (SELECT anc AS nodeId, count(*) AS n_descendants FROM closure GROUP BY anc)
      |SELECT nodeId, n_descendants,
      |  1.0 - CAST(n_descendants AS DOUBLE)
      |      / CAST((SELECT max(n_descendants) FROM counts) AS DOUBLE) AS ic
      |FROM counts ORDER BY nodeId""".stripMargin

  /** g17 — multi-source weighted shortest paths over the order →
    * customer → nation → region hierarchy PLUS a direct order→nation
    * shortcut edge, so the minimum genuinely competes between two routes
    * (shortcut weight 5 vs the 3–7 two-hop sum). Integer weights derived
    * from the keys keep the oracle exact. */
  private def weightedEdgeSet(s: SparkSession, d: String): DataFrame = {
    val w = (c: Column, m: Int, base: Int) => (c % m + base).cast("long")
    val e1 = Tables.orders(s, d).select(
      node("o:", col("o_orderkey")).as("fromNodeId"),
      node("c:", col("o_custkey")).as("toNodeId"),
      w(col("o_orderkey"), 3, 2).as("weight"))
    val e2 = Tables.customer(s, d).select(
      node("c:", col("c_custkey")).as("fromNodeId"),
      node("n:", col("c_nationkey")).as("toNodeId"),
      w(col("c_custkey"), 3, 1).as("weight"))
    val e3 = Tables.nation(s, d).select(
      node("n:", col("n_nationkey")).as("fromNodeId"),
      node("r:", col("n_regionkey")).as("toNodeId"),
      lit(1L).as("weight"))
    val e4 = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(node("o:", col("o_orderkey")).as("fromNodeId"),
        node("n:", col("c_nationkey")).as("toNodeId"),
        lit(5L).as("weight"))
    e1.union(e2).union(e3).union(e4)
  }

  def weightedPaths(s: SparkSession, d: String): DataFrame = {
    val seeds = Tables.orders(s, d).select(node("o:", col("o_orderkey")).as("nodeId"))
    Query.weightedShortestPaths(weightedEdgeSet(s, d), seeds)
      .orderBy(col("nodeId"))
  }

  val weightedPathsSql: String =
    s"""WITH RECURSIVE e(f, t, w) AS (
      |  SELECT 'o:' || ${sqlPad("o_orderkey")}, 'c:' || ${sqlPad("o_custkey")},
      |         CAST(o_orderkey % 3 + 2 AS BIGINT) FROM orders
      |  UNION ALL SELECT 'c:' || ${sqlPad("c_custkey")}, 'n:' || ${sqlPad("c_nationkey")},
      |         CAST(c_custkey % 3 + 1 AS BIGINT) FROM customer
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, 'r:' || ${sqlPad("n_regionkey")},
      |         CAST(1 AS BIGINT) FROM nation
      |  UNION ALL SELECT 'o:' || ${sqlPad("o_orderkey")}, 'n:' || ${sqlPad("c_nationkey")},
      |         CAST(5 AS BIGINT) FROM orders JOIN customer ON o_custkey = c_custkey),
      |paths(node, d) AS (
      |  SELECT 'o:' || ${sqlPad("o_orderkey")}, CAST(0 AS BIGINT) FROM orders
      |  UNION
      |  SELECT e.t, p.d + e.w FROM paths p JOIN e ON p.node = e.f)
      |SELECT node AS nodeId, CAST(min(d) AS BIGINT) AS dist
      |FROM paths GROUP BY node ORDER BY nodeId""".stripMargin

  /** g21 — CLOSENESS CENTRALITY over g17's weighted graph for the ten
    * lowest order nodes: per source, the reached-node count, total and
    * maximum shortest-path distance — the per-source sufficient
    * statistics any closeness definition derives from (kept integer so
    * the gate is engine-exact; the float normalisations divide these).
    * Runs on [[graft.query.Query.perSourceShortestPaths]]: semi-naive
    * improved-only relaxation with (src, node) state — at 100 TB the
    * dial is the source-set size, which is exactly how production
    * centrality jobs are run (sampled sources), never all-pairs. */
  def closeness(s: SparkSession, d: String): DataFrame = {
    val sources = Tables.orders(s, d)
      .select(node("o:", col("o_orderkey")).as("src"))
      .orderBy(col("src")).limit(10)
    Query.perSourceShortestPaths(weightedEdgeSet(s, d), sources)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("sum_dist"),
        max(col("dist")).as("max_dist"))
      .orderBy(col("src"))
  }

  val closenessSql: String =
    s"""WITH RECURSIVE e(f, t, w) AS (
      |  SELECT 'o:' || ${sqlPad("o_orderkey")}, 'c:' || ${sqlPad("o_custkey")},
      |         CAST(o_orderkey % 3 + 2 AS BIGINT) FROM orders
      |  UNION ALL SELECT 'c:' || ${sqlPad("c_custkey")}, 'n:' || ${sqlPad("c_nationkey")},
      |         CAST(c_custkey % 3 + 1 AS BIGINT) FROM customer
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, 'r:' || ${sqlPad("n_regionkey")},
      |         CAST(1 AS BIGINT) FROM nation
      |  UNION ALL SELECT 'o:' || ${sqlPad("o_orderkey")}, 'n:' || ${sqlPad("c_nationkey")},
      |         CAST(5 AS BIGINT) FROM orders JOIN customer ON o_custkey = c_custkey),
      |src AS (SELECT 'o:' || ${sqlPad("o_orderkey")} AS s FROM orders
      |        ORDER BY 1 LIMIT 10),
      |paths(src, node, d) AS (
      |  SELECT s, s, CAST(0 AS BIGINT) FROM src
      |  UNION
      |  SELECT p.src, e.t, p.d + e.w FROM paths p JOIN e ON p.node = e.f),
      |best AS (SELECT src, node, min(d) AS d FROM paths GROUP BY src, node)
      |SELECT src, count(*) AS n_reached, CAST(sum(d) AS BIGINT) AS sum_dist,
      |  CAST(max(d) AS BIGINT) AS max_dist
      |FROM best GROUP BY src ORDER BY src""".stripMargin

  /** g22 — HARMONIC CENTRALITY over the same weighted graph and source
    * set as g21: per source Σ 1/d(s,t) over reached nodes t ≠ s, in
    * fixed-point millionths (`1000000 div dist`, the engine's exact
    * integer-score idiom — Spark `div` and DuckDB `//` both truncate).
    * Harmonic is the centrality that stays well-defined on DISCONNECTED
    * graphs: unreachable nodes contribute 0 instead of degenerating the
    * whole score the way closeness' n/Σd does — which is why it's the
    * companion gate, not a closeness variant. Same semi-naive per-source
    * relaxation; the 100 TB dial is still the source-set size. */
  def harmonic(s: SparkSession, d: String): DataFrame = {
    val sources = Tables.orders(s, d)
      .select(node("o:", col("o_orderkey")).as("src"))
      .orderBy(col("src")).limit(10)
    harmonicOf(weightedEdgeSet(s, d), sources).orderBy(col("src"))
  }

  /** [[harmonic]] over explicit (fromNodeId, toNodeId, weight) edges and
    * a (src) source frame — the graph-shaped entry the property spec
    * drives against a Bellman-Ford model on disconnected graphs. */
  private[graft] def harmonicOf(edges: DataFrame, sources: DataFrame): DataFrame =
    Query.perSourceShortestPaths(edges, sources)
      .where(col("dist") > 0)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div dist")).as("harmonic_u"))

  val harmonicSql: String =
    s"""WITH RECURSIVE e(f, t, w) AS (
      |  SELECT 'o:' || ${sqlPad("o_orderkey")}, 'c:' || ${sqlPad("o_custkey")},
      |         CAST(o_orderkey % 3 + 2 AS BIGINT) FROM orders
      |  UNION ALL SELECT 'c:' || ${sqlPad("c_custkey")}, 'n:' || ${sqlPad("c_nationkey")},
      |         CAST(c_custkey % 3 + 1 AS BIGINT) FROM customer
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, 'r:' || ${sqlPad("n_regionkey")},
      |         CAST(1 AS BIGINT) FROM nation
      |  UNION ALL SELECT 'o:' || ${sqlPad("o_orderkey")}, 'n:' || ${sqlPad("c_nationkey")},
      |         CAST(5 AS BIGINT) FROM orders JOIN customer ON o_custkey = c_custkey),
      |src AS (SELECT 'o:' || ${sqlPad("o_orderkey")} AS s FROM orders
      |        ORDER BY 1 LIMIT 10),
      |paths(src, node, d) AS (
      |  SELECT s, s, CAST(0 AS BIGINT) FROM src
      |  UNION
      |  SELECT p.src, e.t, p.d + e.w FROM paths p JOIN e ON p.node = e.f),
      |best AS (SELECT src, node, min(d) AS d FROM paths GROUP BY src, node)
      |SELECT src, count(*) AS n_reached,
      |  CAST(sum(1000000 // d) AS BIGINT) AS harmonic_u
      |FROM best WHERE d > 0 GROUP BY src ORDER BY src""".stripMargin

  /** g24 — SAMPLED BETWEENNESS CENTRALITY via the σ-product identity:
    * paths through v for a pair (s,t) = σ(s,v)·σ(v,t) when
    * dist(s,v)+dist(v,t) = dist(s,t), so an interior node's betweenness
    * over sampled sources S and targets T needs only a FORWARD
    * σ-counting pass from S and a BACKWARD pass from T (reversed edges)
    * — never all-pairs, which is how production betweenness is actually
    * run (Brandes source sampling; Riondato-Kornaropoulos bounds pick
    * |S|). Contributions are fixed-point millionths
    * (`(1e6·σf·σb) div σst` — truncating div matches DuckDB `//`),
    * summed per node. The oracle is INDEPENDENT math: it enumerates
    * every shortest path with a carried node list and counts membership,
    * so a σ-propagation bug cannot cancel itself out. S = the 10 lowest
    * order nodes (g21's set), T = every region sink. */
  def betweenness(s: SparkSession, d: String): DataFrame = {
    val sources = Tables.orders(s, d)
      .select(node("o:", col("o_orderkey")).as("src"))
      .orderBy(col("src")).limit(10)
    val targets = Tables.region(s, d)
      .select(node("r:", col("r_regionkey")).as("src"))
    betweennessOf(weightedEdgeSet(s, d), sources, targets).orderBy(col("node"))
  }

  /** [[betweenness]] over explicit (fromNodeId, toNodeId, weight) edges
    * and (src) source/target frames — the graph-shaped entry the
    * property spec drives on hand-computed path/diamond graphs. */
  private[graft] def betweennessOf(edges: DataFrame, sources: DataFrame,
      targets: DataFrame): DataFrame = {
    val fwd = Query.perSourceShortestPathCounts(edges, sources)
    val rev = edges.select(col("toNodeId").as("fromNodeId"),
      col("fromNodeId").as("toNodeId"), col("weight"))
    val bwd = Query.perSourceShortestPathCounts(rev, targets)
      .select(col("src").as("tgt"), col("nodeId").as("v"),
        col("dist").as("bdist"), col("sigma").as("bsigma"))
    val tgtSet = targets.select(col("src").as("tgt"))
    val st = fwd.join(tgtSet, fwd("nodeId") === tgtSet("tgt"))
      .select(col("src"), col("tgt"), col("dist").as("dst"), col("sigma").as("nst"))
    fwd.select(col("src"), col("nodeId").as("v"), col("dist").as("fdist"),
        col("sigma").as("fsigma"))
      .join(bwd, "v")
      .join(st, Seq("src", "tgt"))
      .where(col("fdist") + col("bdist") === col("dst") &&
        col("v") =!= col("src") && col("v") =!= col("tgt"))
      .withColumn("c", expr("(1000000 * fsigma * bsigma) div nst"))
      .groupBy(col("v").as("node"))
      .agg(sum(col("c")).as("bc_1e6"), count(lit(1)).as("n_pairs"))
  }

  val betweennessSql: String =
    s"""WITH RECURSIVE e(f, t, w) AS (
      |  SELECT 'o:' || ${sqlPad("o_orderkey")}, 'c:' || ${sqlPad("o_custkey")},
      |         CAST(o_orderkey % 3 + 2 AS BIGINT) FROM orders
      |  UNION ALL SELECT 'c:' || ${sqlPad("c_custkey")}, 'n:' || ${sqlPad("c_nationkey")},
      |         CAST(c_custkey % 3 + 1 AS BIGINT) FROM customer
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, 'r:' || ${sqlPad("n_regionkey")},
      |         CAST(1 AS BIGINT) FROM nation
      |  UNION ALL SELECT 'o:' || ${sqlPad("o_orderkey")}, 'n:' || ${sqlPad("c_nationkey")},
      |         CAST(5 AS BIGINT) FROM orders JOIN customer ON o_custkey = c_custkey),
      |src AS (SELECT 'o:' || ${sqlPad("o_orderkey")} AS s FROM orders
      |        ORDER BY 1 LIMIT 10),
      |paths(src, node, d, pth) AS (
      |  SELECT s, s, CAST(0 AS BIGINT), [s] FROM src
      |  UNION ALL
      |  SELECT p.src, e.t, p.d + e.w, list_append(p.pth, e.t)
      |  FROM paths p JOIN e ON p.node = e.f),
      |best AS (
      |  SELECT src, node AS tgt, min(d) AS dmin FROM paths
      |  WHERE node LIKE 'r:%' GROUP BY src, node),
      |sp AS (
      |  SELECT p.src, p.node AS tgt, p.pth FROM paths p
      |  JOIN best b ON b.src = p.src AND b.tgt = p.node AND p.d = b.dmin),
      |tot AS (SELECT src, tgt, count(*) AS n_st FROM sp GROUP BY src, tgt),
      |thru AS (
      |  SELECT src, tgt, v, count(*) AS n_v FROM (
      |    SELECT src, tgt, unnest(pth) AS v FROM sp)
      |  WHERE v != src AND v != tgt
      |  GROUP BY src, tgt, v)
      |SELECT v AS node,
      |  CAST(sum((1000000 * n_v) // n_st) AS BIGINT) AS bc_1e6,
      |  count(*) AS n_pairs
      |FROM thru JOIN tot USING (src, tgt)
      |GROUP BY v ORDER BY node""".stripMargin

  /** k3 — the id-nodes + id-edges CSV frames (K3 sink,
    * `grebi_make_neo_ids_csv/src/main.rs:5-31` +
    * `grebi_make_neo_csv/src/main.rs:390-412`) over a two-id-per-clique
    * merged fixture: every customer under canonical `alt:` with `c:` as
    * the second source id. One frame per row kind, aligned on (kind, a,
    * b, c) so one oracle covers both CSVs byte-for-byte. */
  def idCsvs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nodes = Tables.customer(s, d)
      .select(node("alt:", col("c_custkey")).as("alt"), node("c:", col("c_custkey")).as("c"))
      .as[(String, String)]
      .map { case (alt, c) =>
        MergedNode(alt, Seq("tpch"), Seq(alt, c), "tpch", Map.empty)
      }
    val idNodes = graft.sinks.Sinks.neoIdNodesCsvFrame(nodes)
      .select(lit("idnode").as("kind"), col("id:ID").as("a"),
        col(":LABEL").as("b"), lit("").as("c"))
    val idEdges = graft.sinks.Sinks.neoIdEdgesCsvFrame(nodes)
      .select(lit("idedge").as("kind"), col(":START_ID").as("a"),
        col(":TYPE").as("b"), col(":END_ID").as("c"))
    idNodes.union(idEdges).orderBy(col("kind"), col("a"), col("b"), col("c"))
  }

  val idCsvsSql: String =
    s"""WITH ids AS (
      |  SELECT 'alt:' || ${sqlPad("c_custkey")} AS alt, 'c:' || ${sqlPad("c_custkey")} AS c
      |  FROM customer)
      |SELECT kind, a, b, c FROM (
      |  SELECT 'idnode' AS kind, alt AS a, 'Id' AS b, '' AS c FROM ids
      |  UNION ALL SELECT 'idnode', c, 'Id', '' FROM ids
      |  UNION ALL SELECT 'idedge', alt, 'sourceId', alt FROM ids
      |  UNION ALL SELECT 'idedge', alt, 'sourceId', c FROM ids
      |) ORDER BY kind, a, b, c""".stripMargin

  /** g18 — PageRank ([[Query.pageRank]]) over the customer → nation →
    * region + supplier → nation membership graph: nations concentrate
    * rank from their customers/suppliers, regions from their nations.
    * Three integer-exact iterations; the oracle unrolls the same three
    * rounds as chained CTEs. */
  def pageRank(s: SparkSession, d: String): DataFrame = {
    val e = Tables.customer(s, d).select(
        node("c:", col("c_custkey")).as("fromNodeId"),
        node("n:", col("c_nationkey")).as("toNodeId"))
      .union(Tables.supplier(s, d).select(
        node("s:", col("s_suppkey")).as("fromNodeId"),
        node("n:", col("s_nationkey")).as("toNodeId")))
      .union(Tables.nation(s, d).select(
        node("n:", col("n_nationkey")).as("fromNodeId"),
        node("r:", col("n_regionkey")).as("toNodeId")))
    Query.pageRank(e, iterations = 3).orderBy(col("id"))
  }

  val pageRankSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT n.id, 150000 + (85 * coalesce(m.i, 0)) // 100 AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.pr // d.deg) AS i
         |    FROM e JOIN $prev p ON p.id = e.src JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) m ON m.id = n.id)""".stripMargin
    s"""WITH e AS (
      |  SELECT 'c:' || ${sqlPad("c_custkey")} AS src, 'n:' || ${sqlPad("c_nationkey")} AS dst
      |  FROM customer
      |  UNION ALL SELECT 's:' || ${sqlPad("s_suppkey")}, 'n:' || ${sqlPad("s_nationkey")}
      |  FROM supplier
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, 'r:' || ${sqlPad("n_regionkey")}
      |  FROM nation),
      |nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
      |${round("p0", "p1")},
      |${round("p1", "p2")},
      |${round("p2", "p3")}
      |SELECT id, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY id""".stripMargin
  }

  /** g28 — PERSONALIZED PageRank ([[Query.personalizedPageRank]]) over
    * g18's membership graph, seeded on nation-0's customers: rank
    * measures proximity to that cohort (their nation and its region
    * concentrate mass; everything unreachable stays exactly 0) — the
    * "relevance around these entities" ranking a knowledge-graph serving
    * layer runs per query entity. Oracle unrolls the same three
    * integer-exact rounds with the seeded teleport vector. */
  def personalizedPageRank(s: SparkSession, d: String): DataFrame = {
    val e = Tables.customer(s, d).select(
        node("c:", col("c_custkey")).as("fromNodeId"),
        node("n:", col("c_nationkey")).as("toNodeId"))
      .union(Tables.supplier(s, d).select(
        node("s:", col("s_suppkey")).as("fromNodeId"),
        node("n:", col("s_nationkey")).as("toNodeId")))
      .union(Tables.nation(s, d).select(
        node("n:", col("n_nationkey")).as("fromNodeId"),
        node("r:", col("n_regionkey")).as("toNodeId")))
    val seeds = Tables.customer(s, d).where(col("c_nationkey") === 0)
      .select(node("c:", col("c_custkey")).as("nodeId"))
    Query.personalizedPageRank(e, seeds, iterations = 3).orderBy(col("id"))
  }

  val personalizedPageRankSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT n.id,
         |    (15 * t.t) // 100 + (85 * coalesce(m.i, 0)) // 100 AS pr
         |  FROM nodes n JOIN tele t ON t.id = n.id LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.pr // d.deg) AS i
         |    FROM e JOIN $prev p ON p.id = e.src JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) m ON m.id = n.id)""".stripMargin
    s"""WITH e AS (
      |  SELECT 'c:' || ${sqlPad("c_custkey")} AS src, 'n:' || ${sqlPad("c_nationkey")} AS dst
      |  FROM customer
      |  UNION ALL SELECT 's:' || ${sqlPad("s_suppkey")}, 'n:' || ${sqlPad("s_nationkey")}
      |  FROM supplier
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, 'r:' || ${sqlPad("n_regionkey")}
      |  FROM nation),
      |nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |seeds AS (
      |  SELECT DISTINCT 'c:' || ${sqlPad("c_custkey")} AS id
      |  FROM customer WHERE c_nationkey = 0),
      |ns AS (SELECT count(*) AS ns FROM seeds),
      |tele AS (
      |  SELECT n.id,
      |    CASE WHEN s.id IS NOT NULL THEN 1000000 // (SELECT ns FROM ns) ELSE 0 END AS t
      |  FROM nodes n LEFT JOIN seeds s ON s.id = n.id),
      |p0 AS (SELECT id, CAST(t AS BIGINT) AS pr FROM tele),
      |${round("p0", "p1")},
      |${round("p1", "p2")},
      |${round("p2", "p3")}
      |SELECT id, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY id""".stripMargin
  }

  /** g29 — WEIGHTED personalized PageRank
    * ([[Query.personalizedPageRankWeighted]]) over the customer→part
    * purchase graph, edges weighted by order-line count (how often the
    * customer bought the part) and seeded on nation-0's customers: rank
    * concentrates on the parts that cohort buys MOST, not merely ever —
    * the recommendation/relevance ranking a weighted graph is for (the
    * g18/g28 membership graph is single-out-edge, where weights cancel;
    * this one fans out, so the weighting is load-bearing — the spec
    * pins a hand case where skewed weights flip the ranking). */
  def weightedPersonalizedPageRank(s: SparkSession, d: String): DataFrame = {
    val e = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(node("c:", col("o_custkey")).as("fromNodeId"),
        node("p:", col("l_partkey")).as("toNodeId"))
      .agg(count(lit(1)).as("weight"))
    val seeds = Tables.customer(s, d).where(col("c_nationkey") === 0)
      .select(node("c:", col("c_custkey")).as("nodeId"))
    Query.personalizedPageRankWeighted(e, seeds, iterations = 3).orderBy(col("id"))
  }

  val weightedPersonalizedPageRankSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT n.id,
         |    (15 * t.t) // 100 + (85 * coalesce(m.i, 0)) // 100 AS pr
         |  FROM nodes n JOIN tele t ON t.id = n.id LEFT JOIN (
         |    SELECT e.dst AS id, sum((p.pr * e.w) // s.wsum) AS i
         |    FROM e JOIN $prev p ON p.id = e.src JOIN ws s ON s.src = e.src
         |    GROUP BY e.dst) m ON m.id = n.id)""".stripMargin
    s"""WITH e AS (
      |  SELECT 'c:' || ${sqlPad("o_custkey")} AS src,
      |    'p:' || ${sqlPad("l_partkey")} AS dst, count(*) AS w
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2),
      |nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      |ws AS (SELECT src, sum(w) AS wsum FROM e GROUP BY src),
      |seeds AS (
      |  SELECT DISTINCT 'c:' || ${sqlPad("c_custkey")} AS id
      |  FROM customer WHERE c_nationkey = 0),
      |ns AS (SELECT count(*) AS ns FROM seeds),
      |tele AS (
      |  SELECT n.id,
      |    CASE WHEN s.id IS NOT NULL THEN 1000000 // (SELECT ns FROM ns) ELSE 0 END AS t
      |  FROM nodes n LEFT JOIN seeds s ON s.id = n.id),
      |p0 AS (SELECT id, CAST(t AS BIGINT) AS pr FROM tele),
      |${round("p0", "p1")},
      |${round("p1", "p2")},
      |${round("p2", "p3")}
      |SELECT id, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY id""".stripMargin
  }

  /** g19 — triangle count ([[Query.triangleCount]]) over the parts-
    * co-ordered graph (two parts are adjacent when some order contains
    * both). The engine side runs the degree-ordered orientation — the
    * plan that survives power-law hubs at web scale. */
  def triangles(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    Query.triangleCount(pairs)
  }

  val trianglesSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id),
      |o AS (
      |  SELECT CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.u ELSE p.v END AS s,
      |         CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.v ELSE p.u END AS t
      |  FROM pairs p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v),
      |w AS (SELECT x.t AS a, y.t AS b FROM o x JOIN o y ON x.s = y.s AND x.t != y.t)
      |SELECT (SELECT count(*) FROM pairs) AS n_edges,
      |  (SELECT count(*) FROM w JOIN o ON o.s = w.a AND o.t = w.b) AS n_triangles""".stripMargin

  /** g32 — SAMPLED TRIANGLE COUNT: the DOULION estimator (Tsourakakis
    * et al., KDD'09) made REPLAYABLE — sparsify edges by a DETERMINISTIC
    * hash ([[graft.core.Exact.edgeDraw]]: a nonlinear mod-(2³¹−1) mix
    * with a u·v product term, keep ≡0 mod 4, p = 1/4) instead of coin
    * flips,
    * count triangles on the ~p·|E| survivor graph with the g19
    * discipline, scale by p⁻³ = 64. The scale story: wedge work falls
    * ~p² BEFORE any join runs because the filter sits on the scan side,
    * and the hash draw means the estimate is bit-identical on any
    * cluster, any partitioning, any retry — rand()-based sampling can
    * never be oracle-gated. Emits the sampled sizes alongside the
    * estimate so the observed sampling ratio is auditable. */
  def trianglesSampled(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val sampled = pairs.where(graft.core.Exact.edgeDraw(col("u"), col("v")))
    Query.triangleCount(sampled)
      .select(col("n_edges").as("n_sampled_edges"),
        col("n_triangles").as("n_sampled_triangles"),
        (col("n_triangles") * lit(64L)).as("estimate"))
  }

  val trianglesSampledSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |samp AS (
      |  SELECT u, v FROM pairs
      |  WHERE """.stripMargin + graft.core.Exact.sqlEdgeDraw("u", "v") + """),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM samp UNION ALL SELECT v FROM samp)
      |  GROUP BY id),
      |o AS (
      |  SELECT CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.u ELSE p.v END AS s,
      |         CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.v ELSE p.u END AS t
      |  FROM samp p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v),
      |w AS (SELECT x.t AS a, y.t AS b FROM o x JOIN o y ON x.s = y.s AND x.t != y.t),
      |tri AS (SELECT count(*) AS c FROM w JOIN o ON o.s = w.a AND o.t = w.b)
      |SELECT (SELECT count(*) FROM samp) AS n_sampled_edges,
      |  c AS n_sampled_triangles, c * 64 AS estimate FROM tri""".stripMargin

  /** g23 — LABEL-PROPAGATION COMMUNITIES ([[Query.labelPropagation]])
    * over g19's parts-co-ordered graph: three synchronous min-tie-break
    * rounds, then per-node (id, label) plus the community size — the
    * community-detection primitive that needs no parameter besides the
    * round count (vs modularity methods' resolution) and runs in
    * O(rounds · E) joins, which is why it's the one that survives
    * web-scale graphs. Community size comes from a window count over the
    * final labels, not a second aggregation pass. */
  def labelPropagation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    Query.labelPropagation(pairs, iterations = 3)
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .orderBy(col("id"))
  }

  val labelPropagationSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT node AS id, label FROM (
         |    SELECT a.node, l.label,
         |      row_number() OVER (PARTITION BY a.node
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM adj a JOIN $prev l ON l.id = a.nbr
         |    GROUP BY a.node, l.label) WHERE rn = 1)""".stripMargin
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS node, v AS nbr FROM pairs
      |        UNION ALL SELECT v, u FROM pairs),
      |l0 AS (SELECT DISTINCT node AS id, node AS label FROM adj),
      |${round("l0", "l1")},
      |${round("l1", "l2")},
      |${round("l2", "l3")}
      |SELECT id, label, count(*) OVER (PARTITION BY label) AS csize
      |FROM l3 ORDER BY id""".stripMargin
  }

  /** g33 — WEIGHTED LABEL-PROPAGATION COMMUNITIES: g23 on the SAME
    * parts graph but with edge weight = co-order multiplicity (how many
    * orders carried both parts), so a pair ordered together fifty times
    * pulls labels fifty times harder than a one-off — the
    * interaction-strength community structure the distinct-edge walk
    * flattens away. Engine: [[Query.labelPropagationWeighted]], three
    * fixed rounds, sum-of-weights argmax with min-label ties. Same
    * O(rounds · E) join shape as g23 — the weight column rides the
    * existing shuffles for free. */
  def weightedLabelPropagation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val wpairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count(lit(1)).as("weight"))
    Query.labelPropagationWeighted(wpairs, iterations = 3)
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .orderBy(col("id"))
  }

  val weightedLabelPropagationSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT node AS id, label FROM (
         |    SELECT a.node, l.label,
         |      row_number() OVER (PARTITION BY a.node
         |        ORDER BY sum(a.w) DESC, l.label ASC) AS rn
         |    FROM adj a JOIN $prev l ON l.id = a.nbr
         |    GROUP BY a.node, l.label) WHERE rn = 1)""".stripMargin
    s"""WITH pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |adj AS (SELECT u AS node, v AS nbr, w FROM pairs
      |        UNION ALL SELECT v, u, w FROM pairs),
      |l0 AS (SELECT DISTINCT node AS id, node AS label FROM adj),
      |${round("l0", "l1")},
      |${round("l1", "l2")},
      |${round("l2", "l3")}
      |SELECT id, label, count(*) OVER (PARTITION BY label) AS csize
      |FROM l3 ORDER BY id""".stripMargin
  }

  /** g34 — CORENESS BY H-INDEX ITERATION (Lü et al. 2016): start every
    * node at its degree and repeatedly replace each node's value with
    * the H-INDEX of its neighbors' values (the largest h such that ≥ h
    * neighbors hold ≥ h); the sequence is monotone non-increasing and
    * converges to the node's CORENESS — the full k-core decomposition
    * in one vertex-centric loop, no per-k peel. Six fixed rounds (the
    * g23 bounded contract, oracle-mirrored; the fixture spec pins
    * convergence-to-coreness and the k-core cross-check). Per round:
    * one join + a map-combinable (node, value) count, then a cumulative
    * sum over the distinct-value buckets — see [[hIndexRound]] for why
    * the count-above-threshold identity makes the round hub-safe. Scale
    * shape: the same O(rounds · E) joins as LPA, but the only per-node
    * sort runs over distinct neighbor VALUES, not neighbors, so a
    * degree-10⁷ hub costs its value-spectrum, not its degree. */
  def corenessHIndex(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    corenessOf(pairs, rounds = 6).orderBy(col("id"))
  }

  /** One H-index round in the COUNT-ABOVE-THRESHOLD form: the H-index
    * needs only how many neighbors hold each value, not their ranks, so
    * aggregate (node, value) → count FIRST (map-side combinable — a
    * degree-10⁷ hub shrinks to its distinct neighbor values before the
    * shuffle), cumulative-sum the counts descending per node (cum(v) =
    * #neighbors ≥ v), and take max over distinct values of
    * min(v, cum(v)) — an exact identity with the sorted-rank H-index
    * (⇐ the smallest distinct value v ≥ h has cum(v) ≥ h; ⇒ any
    * min(v, cum) = m exhibits ≥ m neighbors ≥ m). The earlier
    * row_number-over-full-neighborhood form funneled a hub's entire
    * adjacency through one task's window sort; here the window input is
    * the distinct-value buckets only. Factored so PlanSpec can pin the
    * ROUND's plan shape (the loop checkpoints eagerly, so the gate's
    * final plan would show only the post-checkpoint projection). */
  private[graft] def hIndexRound(adj: DataFrame, h: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("node")).orderBy(col("hv").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    adj.join(h.select(col("node").as("nbr"), col("h").as("hv")), "nbr")
      .groupBy(col("node"), col("hv")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .groupBy(col("node")).agg(max(least(col("hv"), col("cum"))).as("h"))
  }

  /** The H-iteration run to its FIXPOINT from an arbitrary SEED — the
    * warm-restart building block an incremental coreness store needs.
    * Correct for any seed that is a pointwise UPPER bound on coreness
    * and ≤ the degree-start (sandwich: the H-operator is monotone, so
    * H^n(seed) ≤ H^n(degree) → coreness from above, while H^n(seed) ≥
    * H^n(coreness) = coreness because coreness is a fixpoint). After a
    * batch of |B| edge insertions the canonical such seed is
    * min(deg_new, old_coreness + |B|) — the GLOBAL |B|, not the per-node
    * incident count: one inserted edge can raise coreness of nodes
    * arbitrarily far away (close a path into a cycle and EVERY node goes
    * 1 → 2), so any locally-bounded seed is not an upper bound. NOT an
    * oracle gate: measured full-convergence depth is 10 / 19 / 38 rounds
    * at sf0.001 / sf0.01 / sf0.1 (TUNING.md "Closed A/Bs"), and 38 is past
    * the ~20-round unrollable-DuckDB-oracle limit (TUNING round-11 line)
    * — so the fixpoint lives behind specs, not CORRECTNESS rows. */
  private[graft] def corenessFixpointFrom(e: DataFrame, seed: DataFrame,
                                          maxIter: Int = 60): DataFrame = {
    val pairs = e.select(col("u"), col("v")).distinct()
    val adj = pairs.select(col("u").as("node"), col("v").as("nbr"))
      .union(pairs.select(col("v").as("node"), col("u").as("nbr")))
      .localCheckpoint()
    var h = seed.select(col("node"), col("h")).localCheckpoint()
    var changed = -1L
    var i = 0
    while (changed != 0L && i < maxIter) {
      i += 1
      val next = graft.core.Iterate.save(hIndexRound(adj, h), 0, i)
      changed = next.join(h.withColumnRenamed("h", "hp"), "node")
        .where(col("h") =!= col("hp")).count()
      h = next
    }
    if (changed != 0L)
      System.err.println(
        s"[graft] corenessFixpointFrom: cap maxIter=$maxIter hit with $changed nodes " +
          "still moving — result is an upper bound on coreness")
    h.select(col("node").as("id"), col("h").as("coreness_h"))
  }

  /** The H-index loop on an arbitrary (u, v) edge list — spec seam. */
  private[graft] def corenessOf(e: DataFrame, rounds: Int): DataFrame = {
    val pairs = e.select(col("u"), col("v")).distinct()
    val adj = pairs.select(col("u").as("node"), col("v").as("nbr"))
      .union(pairs.select(col("v").as("node"), col("u").as("nbr")))
      .localCheckpoint()
    var h = adj.groupBy(col("node")).agg(count(lit(1)).as("h"))
    var prev = h
    var i = 0
    while (i < rounds) {
      prev = h
      h = graft.core.Iterate.save(hIndexRound(adj, h), 0, i + 1)
      i += 1
    }
    // bounded-round contract (oracle-mirrored), but never silently: the
    // H-iteration is monotone non-increasing, so one join of the last two
    // frames detects a not-yet-converged decomposition (kTrussOf's
    // cap-hit discipline — deep graphs need ~diameter/2 rounds)
    if (rounds > 0) {
      val moving = h.join(prev.withColumnRenamed("h", "hPrev"), "node")
        .where(col("h") =!= col("hPrev")).count()
      if (moving > 0)
        System.err.println(
          s"[graft] corenessOf: $moving nodes still changing at round $rounds — " +
            "the bounded-round column is an upper bound on coreness, not coreness")
    }
    h.select(col("node").as("id"), col("h").as("coreness_h"))
  }

  val corenessHIndexSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT node AS id, max(least(rn, hv)) AS h FROM (
         |    SELECT a.node, p.h AS hv,
         |      row_number() OVER (PARTITION BY a.node ORDER BY p.h DESC) AS rn
         |    FROM adj a JOIN $prev p ON p.id = a.nbr)
         |  GROUP BY node)""".stripMargin
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS node, v AS nbr FROM pairs
      |        UNION ALL SELECT v, u FROM pairs),
      |h0 AS (SELECT node AS id, count(*) AS h FROM adj GROUP BY node),
      |${round("h0", "h1")},
      |${round("h1", "h2")},
      |${round("h2", "h3")},
      |${round("h3", "h4")},
      |${round("h4", "h5")},
      |${round("h5", "h6")}
      |SELECT id, CAST(h AS BIGINT) AS coreness_h FROM h6 ORDER BY id""".stripMargin
  }

  /** g20 — neighbor-set similarity (link prediction's common-neighbors /
    * Jaccard primitive) over the customer–part bipartite graph: customers
    * are "similar" when they order many of the same parts. Candidates
    * come ONLY from the inverted neighbor index (equi-join on the shared
    * part) — the same no-all-pairs shape as d2's shingle join, so cost is
    * Σ per-part degree², bounded by hub parts, not |customers|². Pairs
    * with ≥ 8 common parts, with the Jaccard pieces (inter, na, nb)
    * exposed for a downstream threshold. */
  def nodeSimilarity(s: SparkSession, d: String): DataFrame = {
    val cp = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    val sz = cp.groupBy("c").agg(count(lit(1)).as("n"))
    cp.as("a").join(cp.as("b"),
        col("a.p") === col("b.p") && col("a.c") < col("b.c"))
      .groupBy(col("a.c").as("ca"), col("b.c").as("cb"))
      .agg(count(lit(1)).as("inter"))
      .where(col("inter") >= 8)
      .join(sz.select(col("c").as("ca"), col("n").as("na")), "ca")
      .join(sz.select(col("c").as("cb"), col("n").as("nb")), "cb")
      .select(col("ca"), col("cb"), col("inter"), col("na"), col("nb"))
      .orderBy(col("ca"), col("cb"))
  }

  val nodeSimilaritySql: String =
    """WITH cp AS (
      |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |sz AS (SELECT c, count(*) AS n FROM cp GROUP BY c),
      |inter AS (
      |  SELECT a.c AS ca, b.c AS cb, count(*) AS inter
      |  FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
      |  GROUP BY a.c, b.c)
      |SELECT ca, cb, inter, x.n AS na, y.n AS nb
      |FROM inter JOIN sz x ON x.c = ca JOIN sz y ON y.c = cb
      |WHERE inter >= 8 ORDER BY ca, cb""".stripMargin

  /** g27 — LINK-PREDICTION SCORING with degree discounting: the
    * Resource-Allocation index (Zhou/Lü/Zhang 2009) over the
    * supplier–part bipartite graph — RA(s₁,s₂) = Σ_{p ∈ Γ(s₁)∩Γ(s₂)}
    * 1/deg(p), here in exact fixed-point (10⁶ div deg) so both engines
    * agree to the last digit. g20's common-neighbor count treats every
    * shared neighbor equally; RA is the measure curation pipelines
    * actually rank with, because a hub part shared by everyone carries
    * ~no evidence while a rare part shared by two suppliers carries a
    * lot. Same inverted-index candidate shape as g20 (equi-join on the
    * shared neighbor, never all-pairs), one extra broadcast-sized
    * degree join — cost Σ per-part degree², bounded by hubs. */
  def linkPrediction(s: SparkSession, d: String): DataFrame =
    raScoresOf(Tables.lineitem(s, d)
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("p")).distinct(),
      minCommon = 12)
      .orderBy(col("sa"), col("sb"))

  /** RA scoring on an arbitrary (sk, p) bipartite membership table —
    * property-tested on hand graphs where the ranking is computable by
    * eye (a rare shared neighbor must outscore a hub). */
  private[graft] def raScoresOf(sp: DataFrame, minCommon: Int): DataFrame = {
    val pdeg = sp.groupBy("p").agg(count(lit(1)).as("pd"))
    sp.as("a").join(sp.as("b"),
        col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
      .select(col("a.sk").as("sa"), col("b.sk").as("sb"), col("a.p").as("p"))
      .join(broadcast(pdeg), "p")
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 div pd")).as("ra_score"))
      .where(col("n_common") >= minCommon)
  }

  val linkPredictionSql: String =
    """WITH sp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS p FROM lineitem),
      |pdeg AS (SELECT p, count(*) AS pd FROM sp GROUP BY p),
      |cand AS (
      |  SELECT a.sk AS sa, b.sk AS sb, a.p AS p
      |  FROM sp a JOIN sp b ON a.p = b.p AND a.sk < b.sk)
      |SELECT sa, sb, CAST(count(*) AS BIGINT) AS n_common,
      |  CAST(sum(1000000 // pd) AS BIGINT) AS ra_score
      |FROM cand JOIN pdeg USING (p)
      |GROUP BY sa, sb HAVING count(*) >= 12
      |ORDER BY sa, sb""".stripMargin

  /** g25 — k-CORE MEMBERSHIP (k = 26) over the supplier–part
    * co-occurrence graph (distinct `(l_suppkey, l_partkey)` lineitem
    * pairs): iterative peel — `alive := {v : deg_alive(v) ≥ k}` until
    * fixpoint — emitting each surviving member with its in-core degree.
    * The dense-subgraph extraction every curation pipeline runs on
    * co-occurrence graphs, and the one the earlier rounds could not
    * gate: the order/customer graphs are degree-uniform and peel
    * all-or-nothing (round-7 note), while this bipartite graph has
    * graded coreness (13–35 at sf0.01). Each round is one semi-join
    * pair + one map-combinable aggregation over the static symmetric
    * edge list; `localCheckpoint` truncates the per-round lineage
    * (the CC/PageRank iteration discipline). The engine iterates to the
    * true fixpoint at any scale; the oracle unrolls 6 peel rounds —
    * measured depth is ≤ 2 at both gate SFs, and the spec-pinned guard
    * is the gate itself (an under-unrolled oracle diverges loudly). */
  def kCore(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.lineitem(s, d)
      .select(node("s:", col("l_suppkey")).as("f"), node("p:", col("l_partkey")).as("t"))
      .distinct()
    kCoreOf(e0, 26).orderBy(col("member"))
  }

  /** The peel loop on an arbitrary (f, t) edge list — property-tested on
    * hand graphs where the core is computable by eye.
    *
    * Convergence contract: the loop runs to fixpoint or `maxIter` rounds
    * (a chain graph can peel one vertex per round, so deep peels at small
    * k are legitimate). If the cap fires before fixpoint, the output is
    * still filtered to `deg >= k` — every emitted member satisfies the
    * degree condition within the last alive set, i.e. the result is a
    * superset of the true core, never a silent arbitrary cut — and a
    * loud stderr warning names the cap (the repo's truncation-is-never-
    * silent rule). At fixpoint the filter is a no-op by construction. */
  private[graft] def kCoreOf(e0: DataFrame, k: Int, maxIter: Int = 100,
      reliableEvery: Int = 0): DataFrame = {
    def save(df: DataFrame, round: Int): DataFrame =
      graft.core.Iterate.save(df, reliableEvery, round)
    val sym = save(e0.union(e0.select(col("t").as("f"), col("f").as("t")))
      .where(col("f") =!= col("t")).distinct(), 0)
    def degIn(alive: DataFrame): DataFrame =
      sym.join(alive.select(col("v").as("f")), "f")
        .join(alive.select(col("v").as("t")), "t")
        .groupBy(col("f")).agg(count(lit(1)).as("c"))
    var alive = save(sym.select(col("f").as("v")).distinct(), 0)
    var n = alive.count()
    var iter = 0
    var done = n == 0L
    while (!done && iter < maxIter) {
      val next = save(degIn(alive).where(col("c") >= k)
        .select(col("f").as("v")), iter + 1)
      val m = next.count()
      done = m == n
      n = m
      alive = next
      iter += 1
    }
    if (!done)
      System.err.println(
        s"[graft] kCoreOf: iteration cap maxIter=$maxIter hit before fixpoint " +
          s"(k=$k, |alive|=$n) — emitting the deg>=$k superset of the true core")
    degIn(alive).where(col("c") >= k)
      .select(col("f").as("member"), col("c").as("deg_in_core"))
  }

  val kCoreSql: String = {
    val rounds = 6
    def round(r: Int): String =
      s"""a$r AS MATERIALIZED (
        |  SELECT x.f AS v FROM e x
        |  JOIN a${r - 1} s ON s.v = x.f
        |  JOIN a${r - 1} t2 ON t2.v = x.t
        |  GROUP BY x.f HAVING count(*) >= 26)""".stripMargin
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT 's:' || ${sqlPad("l_suppkey")} AS f,
      |    'p:' || ${sqlPad("l_partkey")} AS t FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT f, t FROM e0 UNION ALL SELECT t, f FROM e0),
      |a0 AS MATERIALIZED (SELECT DISTINCT f AS v FROM e),
      |${(1 to rounds).map(round).mkString(",\n")}
      |SELECT x.f AS member, count(*) AS deg_in_core
      |FROM e x JOIN a$rounds s ON s.v = x.f JOIN a$rounds t2 ON t2.v = x.t
      |GROUP BY x.f ORDER BY member""".stripMargin
  }

  /** g35 — WEIGHTED k-CORE (s-core, Eidsaa & Almaas 2013): g25's peel
    * with IN-CORE STRENGTH (sum of incident edge weights among
    * survivors) in place of degree — a node stays while its surviving
    * edges carry ≥ T total weight, so many weak ties and few strong
    * ones trade off, which the unweighted core cannot express. Edge
    * weight here is the AVERAGE lineitem quantity of the supplier–part
    * pair (integer div — SF-invariant, so the same T peels comparably
    * at every scale factor). Bounded contract: maxIter = 6 mirrored by
    * the oracle's unroll + identical final strength re-filter (the
    * g31 discipline), exact whether or not the peel converged. Same
    * join shape as g25 — the weight column rides the existing
    * shuffles. */
  def sCore(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.lineitem(s, d)
      .groupBy(node("s:", col("l_suppkey")).as("f"),
        node("p:", col("l_partkey")).as("t"))
      // integer div (Spark `div` == DuckDB `//` on positives) — a
      // double `/` would round the boundary weights differently
      .agg(expr("sum(CAST(l_quantity AS BIGINT)) div count(*)").as("w"))
    sCoreOf(e0, t = 650L, maxIter = 6).orderBy(col("member"))
  }

  /** The strength peel on an arbitrary weighted (f, t, w) edge list —
    * duplicate pairs combine by summing before the peel. */
  private[graft] def sCoreOf(e0: DataFrame, t: Long, maxIter: Int = 100,
      reliableEvery: Int = 0): DataFrame = {
    def save(df: DataFrame, round: Int): DataFrame =
      graft.core.Iterate.save(df, reliableEvery, round)
    val und = e0.select(col("f"), col("t"), col("w"))
      .groupBy(col("f"), col("t")).agg(sum(col("w")).as("w"))
    val sym = save(und.union(und.select(col("t").as("f"), col("f").as("t"), col("w")))
      .where(col("f") =!= col("t")), 0)
    def strengthIn(alive: DataFrame): DataFrame =
      sym.join(alive.select(col("v").as("f")), "f")
        .join(alive.select(col("v").as("t")), "t")
        .groupBy(col("f")).agg(sum(col("w")).as("c"))
    var alive = save(sym.select(col("f").as("v")).distinct(), 0)
    var n = alive.count()
    var iter = 0
    var done = n == 0L
    while (!done && iter < maxIter) {
      val next = save(strengthIn(alive).where(col("c") >= t)
        .select(col("f").as("v")), iter + 1)
      val m = next.count()
      done = m == n
      n = m
      alive = next
      iter += 1
    }
    if (!done)
      System.err.println(
        s"[graft] sCoreOf: iteration cap maxIter=$maxIter hit before fixpoint " +
          s"(T=$t, |alive|=$n) — emitting the strength>=$t superset of the true s-core")
    strengthIn(alive).where(col("c") >= t)
      .select(col("f").as("member"), col("c").as("strength_in_core"))
  }

  val sCoreSql: String = {
    val rounds = 6
    def round(r: Int): String =
      s"""a$r AS MATERIALIZED (
        |  SELECT x.f AS v FROM e x
        |  JOIN a${r - 1} s ON s.v = x.f
        |  JOIN a${r - 1} t2 ON t2.v = x.t
        |  GROUP BY x.f HAVING sum(x.w) >= 650)""".stripMargin
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT 's:' || ${sqlPad("l_suppkey")} AS f,
      |    'p:' || ${sqlPad("l_partkey")} AS t,
      |    SUM(CAST(l_quantity AS BIGINT)) // COUNT(*) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |e AS MATERIALIZED (
      |  SELECT f, t, w FROM e0 UNION ALL SELECT t, f, w FROM e0),
      |a0 AS MATERIALIZED (SELECT DISTINCT f AS v FROM e),
      |${(1 to rounds).map(round).mkString(",\n")}
      |SELECT x.f AS member, CAST(sum(x.w) AS BIGINT) AS strength_in_core
      |FROM e x JOIN a$rounds s ON s.v = x.f JOIN a$rounds t2 ON t2.v = x.t
      |GROUP BY x.f HAVING sum(x.w) >= 650 ORDER BY member""".stripMargin
  }

  /** g26 — k-CORE PARAMETER SWEEP: g25's peel at k ∈ {20, 26, 30},
    * emitting core size and total in-core degree per setting — the
    * d18/s9-style measured table that justifies choosing an operating
    * point (here: how sharply the supplier–part graph's dense core
    * shrinks as the bar rises; 2 100 → ~1 967/1 154/487 members at
    * sf0.01). One shared symmetric edge list, one peel per k; zero rows
    * per setting would hide an empty corpus, so each k emits its row
    * with explicit zeros (the d18 contract). */
  def kCoreSweep(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.lineitem(s, d)
      .select(node("s:", col("l_suppkey")).as("f"), node("p:", col("l_partkey")).as("t"))
      .distinct().localCheckpoint()
    Seq(20, 26, 30).map { k =>
      kCoreOf(e0, k).agg(
        count(lit(1)).as("n_members"),
        coalesce(sum(col("deg_in_core")), lit(0L)).as("sum_deg"))
        .select(lit(k).as("k"), col("n_members"), col("sum_deg"))
    }.reduce(_ union _).orderBy(col("k"))
  }

  val kCoreSweepSql: String = {
    val rounds = 6
    def chain(k: Int): String = {
      def round(r: Int): String =
        s"""a${k}_$r AS MATERIALIZED (
          |  SELECT x.f AS v FROM e x
          |  JOIN a${k}_${r - 1} s ON s.v = x.f
          |  JOIN a${k}_${r - 1} t2 ON t2.v = x.t
          |  GROUP BY x.f HAVING count(*) >= $k)""".stripMargin
      s"""a${k}_0 AS MATERIALIZED (SELECT DISTINCT f AS v FROM e),
        |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
    }
    def fin(k: Int): String =
      s"""SELECT $k AS k, count(*) AS n_members,
        |  CAST(coalesce(sum(c), 0) AS BIGINT) AS sum_deg FROM (
        |  SELECT x.f, count(*) AS c FROM e x
        |  JOIN a${k}_$rounds s ON s.v = x.f JOIN a${k}_$rounds t2 ON t2.v = x.t
        |  GROUP BY x.f)""".stripMargin
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT 's:' || ${sqlPad("l_suppkey")} AS f,
      |    'p:' || ${sqlPad("l_partkey")} AS t FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT f, t FROM e0 UNION ALL SELECT t, f FROM e0),
      |${Seq(20, 26, 30).map(chain).mkString(",\n")}
      |SELECT k, CAST(n_members AS BIGINT) AS n_members, sum_deg FROM (
      |  ${Seq(20, 26, 30).map(fin).mkString("\n  UNION ALL ")})
      |ORDER BY k""".stripMargin
  }

  /** g30 — k-TRUSS membership: the triangle-grade analogue of g25's
    * k-core (every surviving edge sits in ≥ k-2 triangles among the
    * survivors). Cohesion by TRIANGLES, not raw degree, so hub edges
    * that touch many vertices but close few wedges peel away — the
    * community-core subgraph k-core can't isolate. Engine peels to the
    * true fixpoint on the g19 parts-co-ordered graph (k=11: 115 729 →
    * 2 502 edges at sf0.01, DuckDB-verified). */
  def kTruss(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    kTrussOf(pairs, 11).orderBy(col("u"), col("v"))
  }

  /** Degree-ordered acyclic orientation of a canonical (u < v) edge
    * list: each edge points from its lower-(degree, id) endpoint, so
    * every vertex's wedge fan-out is bounded by ORIENTED degree (≈√|E|
    * on power-law graphs), not raw hub degree — the g19/triangleCount
    * discipline. Computed ONCE per peel (any fixed acyclic orientation
    * enumerates each triangle exactly once — the triangle's unique
    * two-out-edge source vertex — so the peel loop never needs to
    * re-derive degrees over the shrinking survivor set). */
  private def orientByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    e.join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("t"))
  }

  /** Per-oriented-edge triangle support over an oriented edge set
    * `(s, t)`: wedges enumerated in BOTH directions (`x.t =!= y.t`) so
    * the closing edge matches in its own orientation — a pure equi-join
    * Spark hash-partitions on (a, b). (The round-9 variant matched the
    * closing edge with an OR of two orientations; Catalyst cannot
    * extract equi-keys from a disjunction and planned a nested-loop of
    * |wedges|×|E| ≈ 4.5e11 comparisons/round at sf0.01.) The left join
    * + coalesce keeps triangle-free edges at support 0 (they belong in
    * any k-truss with k ≤ 2). ~4 shuffles per call, everything keyed on
    * the oriented pair. */
  private def orientedSupport(o: DataFrame): DataFrame = {
    val wedges = o.as("x").join(o.as("y"),
        col("x.s") === col("y.s") && col("x.t") =!= col("y.t"))
      .select(col("x.s").as("ctr"), col("x.t").as("a"), col("y.t").as("b"))
    val tri = wedges.join(o.as("z"),
        wedges("a") === col("z.s") && wedges("b") === col("z.t"))
      .select(col("ctr"), col("a"), col("b"))
    val sup = tri.select(col("ctr").as("s"), col("a").as("t"))
      .union(tri.select(col("ctr").as("s"), col("b").as("t")))
      .union(tri.select(col("a").as("s"), col("b").as("t")))
      .groupBy(col("s"), col("t")).agg(count(lit(1)).as("c"))
    o.join(sup, Seq("s", "t"), "left")
      .select(col("s"), col("t"), coalesce(col("c"), lit(0L)).as("c"))
  }

  /** The truss peel on an arbitrary canonical (u < v) edge list.
    * Convergence contract mirrors [[kCoreOf]]: fixpoint or `maxIter`
    * rounds; on a cap hit the final support re-filter still holds for
    * every emitted edge (a superset of the true truss, never a silent
    * cut) and stderr names the cap. Each round runs entirely in the
    * once-oriented space: wedge self-join + closing equi-join +
    * map-combinable support count + left join back (~4 shuffles), over
    * the shrinking survivor set; at fixpoint the last round's filtered
    * supports are emitted directly (no redundant final enumeration).
    * `Iterate.save` truncates per-round lineage AND clamps checkpoint
    * stats with the CC/k-core `reliableEvery` option for multi-hour
    * runs. */
  private[graft] def kTrussOf(e0: DataFrame, k: Int, maxIter: Int = 100,
      reliableEvery: Int = 0): DataFrame = {
    def save(df: DataFrame, round: Int): DataFrame =
      graft.core.Iterate.save(df, reliableEvery, round)
    // orient once; the whole peel runs in oriented (s, t) space and only
    // the final emit canonicalises back to (u, v)
    var o = save(orientByDegree(e0.where(col("u") < col("v")).distinct()), 0)
    var n = o.count()
    var iter = 0
    var done = n == 0L
    // survives the loop so the fixpoint round's support is emitted
    // WITHOUT a redundant final triangle enumeration: at fixpoint the
    // filtered set equals its input, so the supports just computed are
    // already the supports within the final edge set
    var lastSup: DataFrame = o.withColumn("c", lit(0L))
    while (!done && iter < maxIter) {
      val sup = save(orientedSupport(o).where(col("c") >= k - 2), iter + 1)
      val next = sup.select(col("s"), col("t"))
      val m = next.count()
      done = m == n
      n = m
      o = next
      lastSup = sup
      iter += 1
    }
    val fin =
      if (!done) {
        System.err.println(
          s"[graft] kTrussOf: iteration cap maxIter=$maxIter hit before fixpoint " +
            s"(k=$k, |edges|=$n) — emitting the support>=${k - 2} superset of the true truss")
        // cap hit: the last filter ran against a NOT-yet-stable set, so
        // supports must be re-derived within the emitted survivor set
        orientedSupport(o).where(col("c") >= k - 2)
      } else lastSup
    fin.select(least(col("s"), col("t")).as("u"),
      greatest(col("s"), col("t")).as("v"), col("c").as("support"))
  }

  /** Oracle: 8 unrolled peel rounds (measured depth: 5 at sf0.01, 2 at
    * sf0.1 — an under-unrolled oracle diverges loudly, the g25 rule).
    * The oracle enumerates each triangle once from its canonical a<b<c
    * ordering — simpler than the engine's degree orientation and fine
    * single-node. */
  val kTrussSql: String = {
    val rounds = 8
    def round(r: Int): String =
      s"""e$r AS MATERIALIZED (
        |  SELECT u, v FROM (
        |    SELECT u, v, count(*) AS s FROM (
        |      SELECT ab.u AS u, ab.v AS v
        |      FROM e${r - 1} ab JOIN e${r - 1} bc ON bc.u = ab.v
        |      JOIN e${r - 1} ac ON ac.u = ab.u AND ac.v = bc.v
        |      UNION ALL
        |      SELECT bc.u, bc.v
        |      FROM e${r - 1} ab JOIN e${r - 1} bc ON bc.u = ab.v
        |      JOIN e${r - 1} ac ON ac.u = ab.u AND ac.v = bc.v
        |      UNION ALL
        |      SELECT ac.u, ac.v
        |      FROM e${r - 1} ab JOIN e${r - 1} bc ON bc.u = ab.v
        |      JOIN e${r - 1} ac ON ac.u = ab.u AND ac.v = bc.v)
        |    GROUP BY u, v)
        |  WHERE s >= 9)""".stripMargin
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |${(1 to rounds).map(round).mkString(",\n")}
      |SELECT u, v, s AS support FROM (
      |  SELECT u, v, count(*) AS s FROM (
      |    SELECT ab.u AS u, ab.v AS v
      |    FROM e$rounds ab JOIN e$rounds bc ON bc.u = ab.v
      |    JOIN e$rounds ac ON ac.u = ab.u AND ac.v = bc.v
      |    UNION ALL
      |    SELECT bc.u, bc.v
      |    FROM e$rounds ab JOIN e$rounds bc ON bc.u = ab.v
      |    JOIN e$rounds ac ON ac.u = ab.u AND ac.v = bc.v
      |    UNION ALL
      |    SELECT ac.u, ac.v
      |    FROM e$rounds ab JOIN e$rounds bc ON bc.u = ab.v
      |    JOIN e$rounds ac ON ac.u = ab.u AND ac.v = bc.v)
      |  GROUP BY u, v)
      |WHERE s >= 9 ORDER BY u, v""".stripMargin
  }

  /** g31 — k-TRUSS PARAMETER SWEEP: g30's peel at k ∈ {8, 11, 14},
    * emitting edge count and total support per setting — the g26-style
    * operating-point table for triangle cohesion. Two scale moves:
    * (1) MONOTONE REUSE — truss(k₂) ⊆ truss(k₁) for k₂ > k₁, so each
    * higher k peels the PREVIOUS k's survivors, not the full graph; the
    * expensive wedge enumeration runs once over |E| and then over the
    * (orders-of-magnitude smaller) surviving cores. Starting at k=8
    * (not lower) matters for the same reason: a low-k first stage
    * barely peels, so EVERY bounded round re-enumerates a full-size
    * graph — k=8's first filter collapses the survivor set immediately
    * and only round one pays |E|. (2) BOUNDED ROUNDS — each k runs at
    * most 6 support recomputes + the final re-filter (the g23
    * fixed-round contract, exactly mirrored by the oracle's unroll): a
    * peel in its trickle zone (one edge falling per round) costs
    * bounded work instead of an unbounded tail, and the emitted table
    * is the DOCUMENTED bounded-round superset, identical in both
    * engines whether or not the peel converged. Both reuses stay sound
    * under the cap because the capped emit is a superset of every
    * deeper truss.
    * Each k emits its row even when empty (the d18/g26 zero-row
    * contract). */
  def kTrussSweep(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    var edges: DataFrame = pairs
    val rows = Seq(8, 11, 14).map { k =>
      val t = graft.core.Iterate.save(kTrussOf(edges, k, maxIter = 6), 0, k)
      edges = t.select(col("u"), col("v"))
      t.agg(
          count(lit(1)).as("n_edges"),
          coalesce(sum(col("support")), lit(0L)).as("sum_support"))
        .select(lit(k).as("k"), col("n_edges"), col("sum_support"))
    }
    rows.reduce(_ union _).orderBy(col("k"))
  }

  /** Oracle mirrors both the monotone reuse and the bounded-round
    * contract exactly: per k, 8 filter rounds then a final
    * support-recompute-and-filter (`f{k}` = the engine's emit, capped
    * or converged), and the next k's chain starts from `f{k}` — the
    * same set the engine hands to its next peel. */
  val kTrussSweepSql: String = {
    val rounds = 6
    def tri(src: String): String =
      s"""SELECT ab.u AS u, ab.v AS v
        |      FROM $src ab JOIN $src bc ON bc.u = ab.v
        |      JOIN $src ac ON ac.u = ab.u AND ac.v = bc.v
        |      UNION ALL
        |      SELECT bc.u, bc.v
        |      FROM $src ab JOIN $src bc ON bc.u = ab.v
        |      JOIN $src ac ON ac.u = ab.u AND ac.v = bc.v
        |      UNION ALL
        |      SELECT ac.u, ac.v
        |      FROM $src ab JOIN $src bc ON bc.u = ab.v
        |      JOIN $src ac ON ac.u = ab.u AND ac.v = bc.v""".stripMargin
    def supp(src: String): String =
      s"""SELECT u, v, count(*) AS s FROM (
        |      ${tri(src)})
        |    GROUP BY u, v""".stripMargin
    def chain(k: Int, from: String): String = {
      def round(r: Int): String =
        s"""t${k}_$r AS MATERIALIZED (
          |  SELECT u, v FROM (
          |    ${supp(s"t${k}_${r - 1}")})
          |  WHERE s >= ${k - 2})""".stripMargin
      s"""t${k}_0 AS MATERIALIZED (SELECT u, v FROM $from),
        |${(1 to rounds).map(round).mkString(",\n")},
        |f$k AS MATERIALIZED (
        |  SELECT u, v, s FROM (
        |    ${supp(s"t${k}_$rounds")})
        |  WHERE s >= ${k - 2})""".stripMargin
    }
    def fin(k: Int): String =
      s"""SELECT $k AS k, CAST(count(*) AS BIGINT) AS n_edges,
        |    CAST(coalesce(sum(s), 0) AS BIGINT) AS sum_support FROM f$k""".stripMargin
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |${chain(8, "e0")},
      |${chain(11, "f8")},
      |${chain(14, "f11")}
      |SELECT k, n_edges, sum_support FROM (
      |  ${Seq(8, 11, 14).map(fin).mkString("\n  UNION ALL\n  ")})
      |ORDER BY k""".stripMargin
  }

  /** g38 — DETERMINISTIC RANDOM WALKS: the node2vec/DeepWalk corpus
    * primitive — every node starts a fixed-length walk whose next hop is
    * chosen by a HASH of (start, current, step) over the ranked
    * adjacency, not by rand(): the walk table is bit-identical on any
    * cluster, any partitioning, any retry, so it can be oracle-gated and
    * (more importantly) regenerated exactly for reproducible embedding
    * training. The hash is the [[graft.core.Exact.edgeDraw]] discipline
    * — nonlinear mix mod 2³¹−1, Lehmer scramble, THEN the mod — because
    * `mod deg` of a raw polynomial would inherit the low-bit degeneracy
    * the round-11 DOULION fix documents. Scale shape: the ranked
    * adjacency is built once hub-safely — rank within hash-buckets of
    * the neighbor key plus per-node bucket-count offsets, two
    * map-combinable passes, never a full-neighborhood sort — and reused
    * by every step; each step is ONE equi-join on the current node with
    * a residual rank filter — O(steps · |frontier|), and the frontier
    * never exceeds the start set. */
  def randomWalks(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    walksOf(pairs, steps = 4).orderBy(col("start"), col("step"))
  }

  /** Walk index for step `i`: Lehmer-scrambled mix of (start, node, i)
    * mod the node's degree, 1-based. The Scala/SQL pair must stay in
    * lockstep (same rule as Exact.edgeDraw). */
  private val WalkM = 2147483647L
  private def walkIdx(i: Int): Column = {
    val m = lit(WalkM)
    val a = col("start") % m
    val b = col("node") % m
    val h1 = ((a * b) % m + (a * lit(48271L)) % m + (b * lit(16807L)) % m +
      lit(i.toLong * 12345L)) % m
    (h1 * lit(48271L)) % m % col("deg") + lit(1L)
  }
  private def walkIdxSql(i: Int, start: String, node: String, deg: String): String =
    s"(((($start % $WalkM) * ($node % $WalkM)) % $WalkM + (($start % $WalkM) * 48271) % $WalkM + " +
      s"(($node % $WalkM) * 16807) % $WalkM + ${i.toLong * 12345L}) % $WalkM) * 48271 " +
      s"% $WalkM % $deg + 1"

  /** Hash-bucket count for the hub-safe walk index: a degree-10⁷ hub's
    * neighborhood is ranked in ≤ deg/B per-task sorts instead of one. */
  private[graft] val WalkBuckets = 64L
  private def nbrBucket(c: Column): Column =
    c % lit(WalkM) * lit(48271L) % lit(WalkM) % lit(WalkBuckets)

  /** The hub-safe walk index, pre-checkpoint (PlanSpec pins its shape):
    * `(node, nbr, rn, deg)` where rn is the 1-based rank of nbr within
    * node's adjacency ordered by (hash-bucket(nbr), nbr). */
  private[graft] def rankedAdjacency(adj: DataFrame, deg: DataFrame): DataFrame = {
    val bucketed = adj.withColumn("bkt", nbrBucket(col("nbr")))
    val inBkt = bucketed.withColumn("rb", row_number().over(
      Window.partitionBy(col("node"), col("bkt")).orderBy(col("nbr"))).cast("long"))
    val offs = bucketed.groupBy(col("node"), col("bkt")).agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(
        Window.partitionBy(col("node")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("node"), col("bkt"), col("off"))
    inBkt.join(offs, Seq("node", "bkt"))
      .withColumn("rn", col("off") + col("rb"))
      .join(deg, "node")
      .select(col("node"), col("nbr"), col("rn"), col("deg"))
  }

  private[graft] def walksOf(pairs0: DataFrame, steps: Int): DataFrame = {
    val pairs = pairs0.select(col("u"), col("v")).distinct()
    val adj = pairs.select(col("u").as("node"), col("v").as("nbr"))
      .union(pairs.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // Hub-safe ranked adjacency (the g34 discipline): rank within
    // hash-buckets of the neighbor key, then add per-node bucket-count
    // offsets. The per-task sort is ≤ deg/B rows, and the only
    // node-partitioned window sits above a (node, bkt) aggregate with at
    // most B rows per node. rn is still a permutation of 1..deg — now
    // ordered by (bucket, nbr) rather than nbr, which the oracle mirrors
    // — so the uniform hash-draw semantics are unchanged.
    val ranked = rankedAdjacency(adj, deg)
      .localCheckpoint() // static index: built once, probed every step
    var cur = deg.select(col("node").as("start"), col("node"), lit(0L).as("step"))
    var out = cur
    for (i <- 1 to steps) {
      cur = cur.join(ranked.withColumnRenamed("node", "n2"),
          col("node") === col("n2") && col("rn") === walkIdx(i))
        .select(col("start"), col("nbr").as("node"), lit(i.toLong).as("step"))
      out = out.unionByName(cur)
    }
    out
  }

  val randomWalksSql: String = {
    def round(i: Int, prev: String): String =
      s"""w$i AS (
         |  SELECT w.start, r.nbr AS node, CAST($i AS BIGINT) AS step
         |  FROM $prev w JOIN ranked r ON r.node = w.node
         |    AND r.rn = ${walkIdxSql(i, "w.start", "w.node", "r.deg")})""".stripMargin
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS node, v AS nbr FROM pairs
      |        UNION ALL SELECT v, u FROM pairs),
      |deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),
      |ranked AS (
      |  -- (bucket, nbr) ordering == the engine's bucketed rank + offset form
      |  SELECT a.node, a.nbr,
      |    CAST(row_number() OVER (PARTITION BY a.node
      |      ORDER BY a.nbr % $WalkM * 48271 % $WalkM % $WalkBuckets, a.nbr) AS BIGINT) AS rn,
      |    d.deg
      |  FROM adj a JOIN deg d ON d.node = a.node),
      |w0 AS (SELECT node AS start, node, CAST(0 AS BIGINT) AS step FROM deg),
      |${(1 to 4).map(i => round(i, s"w${i - 1}")).mkString(",\n")}
      |SELECT start, step, node FROM (
      |  SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2
      |  UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4)
      |ORDER BY start, step""".stripMargin
  }

  /** g39 — DEGREE ASSORTATIVITY sufficient statistics (Newman 2002,
    * Phys. Rev. Lett. 89.208701) over the co-order part graph: do hubs
    * attach to hubs (assortative, r>0) or to leaves (disassortative,
    * r<0)? Emits the EXACT integer sufficient statistics of the
    * symmetrized edge-end degree sequence — n_ends = 2|E|,
    * Σd, Σd², Σd·d' (both directions) — from which
    * r = (n·Σdd − (Σd)²) / (n·Σd² − (Σd)²); the division stays OUT of
    * the gate (the p3 sufficient-statistics discipline: the engine
    * compare is bit-exact BIGINTs, the float happens wherever the
    * caller wants it). Scale shape: degrees are one map-side-combined
    * aggregation over edge ends, the stats one more over edges joined
    * to their two end degrees — two equi-joins keyed on the vertex,
    * never a window or a collect. */
  def assortativity(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    assortativityOf(pairs)
  }

  /** [[assortativity]] over an explicit DISTINCT `(u, v)` edge frame —
    * the graph-shaped entry the hand-fixture spec drives. */
  private[graft] def assortativityOf(pairs: DataFrame): DataFrame = {
    val deg = pairs.select(col("u").as("id"))
      .union(pairs.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    pairs
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .agg(count(lit(1)).as("ne"),
        sum(col("du") + col("dv")).as("sd"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sd2"),
        sum(col("du") * col("dv")).as("sdd"))
      .select((col("ne") * 2).as("n_ends"),
        coalesce(col("sd"), lit(0L)).as("sum_d"),
        coalesce(col("sd2"), lit(0L)).as("sum_d2"),
        (coalesce(col("sdd"), lit(0L)) * 2).as("sum_dd"))
  }

  val assortativitySql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id)
      |SELECT 2 * count(*) AS n_ends,
      |  CAST(coalesce(sum(da.deg + db.deg), 0) AS BIGINT) AS sum_d,
      |  CAST(coalesce(sum(da.deg * da.deg + db.deg * db.deg), 0) AS BIGINT) AS sum_d2,
      |  CAST(2 * coalesce(sum(da.deg * db.deg), 0) AS BIGINT) AS sum_dd
      |FROM pairs p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v""".stripMargin

  /** g40 — DEGREE SPECTRUM (count-of-degrees): p8's frequency-spectrum
    * diagnostic applied to the graph — how many nodes have each degree.
    * This is the table every skew decision in this codebase reads
    * implicitly (salting thresholds, broadcast-vs-shuffle, the g34
    * hub-window rewrite): a heavy right tail says shuffle-by-vertex
    * plans need salting, a short one says they don't — measured, not
    * guessed, before committing a 100 TB job. Two map-side-combinable
    * aggregations (ends → degree, degree → node count); output is
    * bounded by the distinct-degree count. */
  def degreeSpectrum(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    degreeSpectrumOf(pairs).orderBy(col("deg"))
  }

  /** [[degreeSpectrum]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def degreeSpectrumOf(pairs: DataFrame): DataFrame =
    pairs.select(col("u").as("id")).union(pairs.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))

  val degreeSpectrumSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id)
      |SELECT deg, count(*) AS n_nodes FROM deg GROUP BY deg ORDER BY deg""".stripMargin

  /** g41 — RICH-CLUB COEFFICIENT sweep (Zhou & Mondragón 2004): do the
    * hubs preferentially wire to each other? For each degree threshold
    * k, take the club N_k = {nodes with deg > k} and report
    * φ(k) = 2·E_k / (N_k·(N_k−1)) with E_k the edges inside the club —
    * the third member of the topology-diagnostic trio (g39 global
    * mixing, g40 the spectrum, g41 the head's internal wiring; a dense
    * rich club is the worst case for any shuffle-by-vertex plan because
    * the skew is CORRELATED across join sides). φ is integer millionths
    * with the division stated on both engines; thresholds where the
    * club has <2 members emit NULL φ rather than a fake zero. Shape:
    * the degree table filters to the club, and club membership reaches
    * the edge set as two semi-joins on the endpoint — never an
    * enumeration of club pairs. */
  def richClub(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    richClubOf(pairs, Seq(2L, 4L, 8L, 16L)).orderBy(col("k"))
  }

  /** [[richClub]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def richClubOf(pairs: DataFrame, ks: Seq[Long]): DataFrame = {
    val deg = pairs.select(col("u").as("id")).union(pairs.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint() // probed once per threshold
    ks.map { k =>
      val club = deg.where(col("deg") > k).select(col("id"))
      val nk = club.agg(count(lit(1)).as("n_club"))
      val ek = pairs
        .join(club.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(club.select(col("id").as("v")), Seq("v"), "left_semi")
        .agg(count(lit(1)).as("e_club"))
      nk.crossJoin(ek).select(lit(k).as("k"), col("n_club"), col("e_club"),
        // explicit <2-member guard: ANSI div-by-zero would throw, and the
        // oracle's CASE states the same NULL
        expr("CASE WHEN n_club >= 2 THEN (2000000 * e_club) div (n_club * (n_club - 1)) END")
          .as("phi_ppm"))
    }.reduce[DataFrame](_ unionByName _)
  }

  val richClubSql: String = {
    val arms = Seq(2, 4, 8, 16).map { k =>
      s"""SELECT $k AS k,
         |  (SELECT count(*) FROM deg WHERE deg > $k) AS n_club,
         |  (SELECT count(*) FROM pairs p
         |   WHERE p.u IN (SELECT id FROM deg WHERE deg > $k)
         |     AND p.v IN (SELECT id FROM deg WHERE deg > $k)) AS e_club""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id),
      |arms AS (
      |  $arms)
      |SELECT k, n_club, e_club,
      |  CASE WHEN n_club >= 2
      |       THEN (2000000 * e_club) // (n_club * (n_club - 1)) END AS phi_ppm
      |FROM arms ORDER BY k""".stripMargin
  }

  /** k10 — GRAPHML NEIGHBORHOOD EXPORT: the reference's notebook export
    * path (`notebooks/fipronil.ipynb` — apoc.export.graphml of
    * `(other)-[r]-(node)` around one id) as an engine operator. Emits
    * the 1-hop neighborhood of a root as ordered GraphML lines
    * ((section, line) rows — section fixes document structure, lines
    * sort lexically within it, so the output is byte-deterministic on
    * any partitioning). XML-escapes with the same replace chain in both
    * engines. Scale shape: the neighborhood selection is a point filter
    * on the root id; everything downstream is O(|neighborhood|). */
  private def xmlEsc(inner: String): String =
    s"replace(replace(replace($inner, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"

  def graphmlExport(s: SparkSession, d: String): DataFrame = {
    val root = "c:000000042"
    val (edges, types) = aggrGraph(s, d)
    val inc = edges.where(col("edgeType") =!= "id")
      .where(col("fromNodeId") === root || col("toNodeId") === root)
      .localCheckpoint() // tiny: one node's incident edges, reused 3 ways
    val nids = inc.select(col("fromNodeId").as("nodeId"))
      .union(inc.select(col("toNodeId"))).distinct()
    graphmlOf(s, nids.join(types, "nodeId"), inc)
  }

  /** (section, line) GraphML document over (nodeId, displayType) nodes
    * and (fromNodeId, toNodeId, edgeType) edges — the spec seam. */
  private[graft] def graphmlOf(s: SparkSession, nodes: DataFrame,
                               edges: DataFrame): DataFrame = {
    import s.implicits._
    val header = Seq(
      (0L, """<?xml version="1.0" encoding="UTF-8"?>"""),
      (1L, """<graphml xmlns="http://graphml.graphdrawing.org/xmlns">"""),
      (2L, """<key id="type" for="node" attr.name="type" attr.type="string"/>"""),
      (3L, """<graph id="G" edgedefault="directed">""")).toDF("section", "line")
    val nodeLines = nodes
      .select(lit(4L).as("section"),
        concat(lit("<node id=\""), expr(xmlEsc("nodeId")),
          lit("\"><data key=\"type\">"), expr(xmlEsc("displayType")),
          lit("</data></node>")).as("line"))
    val edgeLines = edges.select(lit(5L).as("section"),
      concat(lit("<edge source=\""), expr(xmlEsc("fromNodeId")),
        lit("\" target=\""), expr(xmlEsc("toNodeId")),
        lit("\" label=\""), expr(xmlEsc("edgeType")), lit("\"/>")).as("line"))
    val footer = Seq((6L, "</graph>"), (7L, "</graphml>")).toDF("section", "line")
    header.unionByName(nodeLines).unionByName(edgeLines).unionByName(footer)
      .orderBy(col("section"), col("line"))
  }

  val graphmlExportSql: String = {
    val esc = xmlEsc _
    s"""WITH e AS (
      |  SELECT 'o:' || ${sqlPad("o_orderkey")} AS f, 'c:' || ${sqlPad("o_custkey")} AS t,
      |         'ord:customer' AS et FROM orders
      |  UNION ALL SELECT DISTINCT 'o:' || ${sqlPad("l_orderkey")}, 's:' || ${sqlPad("l_suppkey")},
      |         'ord:supplier' FROM lineitem
      |  UNION ALL SELECT 'c:' || ${sqlPad("c_custkey")}, 'n:' || ${sqlPad("c_nationkey")},
      |         'cust:nation' FROM customer
      |  UNION ALL SELECT 's:' || ${sqlPad("s_suppkey")}, 'n:' || ${sqlPad("s_nationkey")},
      |         'supp:nation' FROM supplier
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, 'r:' || ${sqlPad("n_regionkey")},
      |         'nat:region' FROM nation),
      |ty AS (
      |  SELECT 'c:' || ${sqlPad("c_custkey")} AS id, c_mktsegment AS dt FROM customer
      |  UNION ALL SELECT 'o:' || ${sqlPad("o_orderkey")}, o_orderpriority FROM orders
      |  UNION ALL SELECT 's:' || ${sqlPad("s_suppkey")}, 'supplier' FROM supplier
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, n_name FROM nation
      |  UNION ALL SELECT 'r:' || ${sqlPad("r_regionkey")}, r_name FROM region),
      |inc AS (
      |  SELECT f, t, et FROM e
      |  WHERE f = 'c:' || ${sqlPad("42")} OR t = 'c:' || ${sqlPad("42")}),
      |nid AS (
      |  SELECT DISTINCT id FROM (SELECT f AS id FROM inc UNION ALL SELECT t FROM inc))
      |SELECT CAST(section AS BIGINT) AS section, line FROM (
      |  SELECT 0 AS section, '<?xml version="1.0" encoding="UTF-8"?>' AS line
      |  UNION ALL SELECT 1, '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">'
      |  UNION ALL SELECT 2, '<key id="type" for="node" attr.name="type" attr.type="string"/>'
      |  UNION ALL SELECT 3, '<graph id="G" edgedefault="directed">'
      |  UNION ALL SELECT 4, '<node id="' || ${esc("nid.id")} || '"><data key="type">'
      |    || ${esc("ty.dt")} || '</data></node>'
      |    FROM nid JOIN ty ON ty.id = nid.id
      |  UNION ALL SELECT 5, '<edge source="' || ${esc("f")} || '" target="' || ${esc("t")}
      |    || '" label="' || ${esc("et")} || '"/>' FROM inc
      |  UNION ALL SELECT 6, '</graph>'
      |  UNION ALL SELECT 7, '</graphml>')
      |ORDER BY section, line""".stripMargin
  }

  /** g37 — LOCAL CLUSTERING COEFFICIENT ([[Query.localClustering]]) over
    * g19's parts-co-order graph: per-node triangle participation over
    * wedge capacity, exact ppm fixed point. The per-vertex companion to
    * the global g19 count — curation pipelines read it as a community
    * cohesion / spam-structure signal (near-0 hubs vs near-10⁶ cliques). */
  def localClusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    Query.localClustering(pairs).orderBy(col("id"))
  }

  val localClusteringCoeffSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id),
      |o AS (
      |  SELECT CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.u ELSE p.v END AS s,
      |         CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.v ELSE p.u END AS t
      |  FROM pairs p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v),
      |tri AS (
      |  SELECT x.s AS s, x.t AS a, y.t AS b
      |  FROM o x JOIN o y ON x.s = y.s AND x.t != y.t
      |  JOIN o z ON z.s = x.t AND z.t = y.t),
      |nt AS (
      |  SELECT id, count(*) AS n_tri
      |  FROM (SELECT unnest(list_value(s, a, b)) AS id FROM tri)
      |  GROUP BY id)
      |SELECT d.id, CAST(d.deg AS BIGINT) AS deg,
      |  CAST(coalesce(nt.n_tri, 0) AS BIGINT) AS n_tri,
      |  CAST(CASE WHEN d.deg >= 2
      |    THEN (2 * coalesce(nt.n_tri, 0) * 1000000) // (d.deg * (d.deg - 1))
      |    ELSE 0 END AS BIGINT) AS lcc_ppm
      |FROM deg d LEFT JOIN nt ON nt.id = d.id
      |ORDER BY d.id""".stripMargin

  /** g36 — the reference's 2-HOP NEIGHBORHOOD COUNT CUBE
    * (`notebooks/util_aggr_counts.py:7-30`, [[Query.aggrCounts]]) over a
    * five-edge-type TPC-H graph (orders→customers, orders→suppliers via
    * distinct lineitems, customers/suppliers→nations, nations→regions).
    * Two roots make every direction branch non-vacuous — the schema is a
    * DAG, so no single root sees all four: customer 42 exercises in_out
    * (its orders' suppliers), out_out (nation→region) and out_in (nation
    * co-members), nation 7 exercises in_in (customers'/suppliers' orders).
    * A decoy `id`-typed edge incident to each root pins the notebook's
    * `type(ra) <> "id"` exclusion — the oracle never builds those edges,
    * so a broken exclusion fails the gate, not just a spec. */
  private[graft] val aggrCubeRoots = Seq("c:000000042", "n:000000007")

  private[graft] def aggrGraph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val edge = (f: Column, t: Column, et: String) =>
      f.as("fromNodeId") :: t.as("toNodeId") :: lit(et).as("edgeType") :: Nil
    val edges = Tables.orders(s, d)
      .select(edge(node("o:", col("o_orderkey")), node("c:", col("o_custkey")), "ord:customer"): _*)
      .union(Tables.lineitem(s, d)
        .select(node("o:", col("l_orderkey")).as("f"), node("s:", col("l_suppkey")).as("t"))
        .distinct()
        .select(edge(col("f"), col("t"), "ord:supplier"): _*))
      .union(Tables.customer(s, d)
        .select(edge(node("c:", col("c_custkey")), node("n:", col("c_nationkey")), "cust:nation"): _*))
      .union(Tables.supplier(s, d)
        .select(edge(node("s:", col("s_suppkey")), node("n:", col("s_nationkey")), "supp:nation"): _*))
      .union(Tables.nation(s, d)
        .select(edge(node("n:", col("n_nationkey")), node("r:", col("n_regionkey")), "nat:region"): _*))
      .union(Tables.customer(s, d) // decoy: must be excluded by type(ra) != "id"
        .select(edge(node("c:", col("c_custkey")), node("n:", col("c_nationkey")), "id"): _*))
    val types = Tables.customer(s, d)
      .select(node("c:", col("c_custkey")).as("nodeId"), col("c_mktsegment").as("displayType"))
      .union(Tables.orders(s, d)
        .select(node("o:", col("o_orderkey")), col("o_orderpriority")))
      .union(Tables.supplier(s, d)
        .select(node("s:", col("s_suppkey")), lit("supplier")))
      .union(Tables.nation(s, d)
        .select(node("n:", col("n_nationkey")), col("n_name")))
      .union(Tables.region(s, d)
        .select(node("r:", col("r_regionkey")), col("r_name")))
    (edges, types)
  }

  def aggrCountCube(s: SparkSession, d: String): DataFrame = {
    val (edges, types) = aggrGraph(s, d)
    aggrCubeRoots
      .map(r => Query.aggrCounts(edges, types, r).withColumn("root", lit(r)))
      .reduce(_ unionByName _)
      .orderBy(col("root"), col("direction"), col("edge1"), col("type1"),
        col("edge2"), col("type2"))
  }

  val aggrCountCubeSql: String = {
    val arrow = (edge: String, ty: String, fwd: String) =>
      s"CASE WHEN $fwd THEN '-[' || $edge || ']->(' || $ty || ')' " +
        s"ELSE '<-[' || $edge || ']-(' || $ty || ')' END"
    s"""WITH e AS (
      |  SELECT 'o:' || ${sqlPad("o_orderkey")} AS f, 'c:' || ${sqlPad("o_custkey")} AS t,
      |         'ord:customer' AS et FROM orders
      |  UNION ALL SELECT DISTINCT 'o:' || ${sqlPad("l_orderkey")}, 's:' || ${sqlPad("l_suppkey")},
      |         'ord:supplier' FROM lineitem
      |  UNION ALL SELECT 'c:' || ${sqlPad("c_custkey")}, 'n:' || ${sqlPad("c_nationkey")},
      |         'cust:nation' FROM customer
      |  UNION ALL SELECT 's:' || ${sqlPad("s_suppkey")}, 'n:' || ${sqlPad("s_nationkey")},
      |         'supp:nation' FROM supplier
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, 'r:' || ${sqlPad("n_regionkey")},
      |         'nat:region' FROM nation),
      |ty AS (
      |  SELECT 'c:' || ${sqlPad("c_custkey")} AS id, c_mktsegment AS dt FROM customer
      |  UNION ALL SELECT 'o:' || ${sqlPad("o_orderkey")}, o_orderpriority FROM orders
      |  UNION ALL SELECT 's:' || ${sqlPad("s_suppkey")}, 'supplier' FROM supplier
      |  UNION ALL SELECT 'n:' || ${sqlPad("n_nationkey")}, n_name FROM nation
      |  UNION ALL SELECT 'r:' || ${sqlPad("r_regionkey")}, r_name FROM region),
      |inc AS (
      |  SELECT f AS src, t AS dst, et, 'out' AS dir FROM e
      |  UNION ALL SELECT t, f, et, 'in' FROM e),
      |roots(root) AS (SELECT 'c:' || ${sqlPad("42")} UNION ALL SELECT 'n:' || ${sqlPad("7")}),
      |cube AS (
      |  SELECT r.root, a.dir || '_' || b.dir AS direction,
      |         a.et AS edge1, t1.dt AS type1, b.et AS edge2, t2.dt AS type2,
      |         count(*) AS num
      |  FROM roots r
      |  JOIN inc a ON a.src = r.root AND a.dst != r.root
      |  JOIN inc b ON b.src = a.dst AND b.dst != r.root AND b.dst != a.dst
      |  JOIN ty t1 ON t1.id = a.dst
      |  JOIN ty t2 ON t2.id = b.dst
      |  GROUP BY 1, 2, 3, 4, 5, 6)
      |SELECT root, direction, edge1, type1, edge2, type2, num,
      |  '(R)' || ${arrow("edge1", "type1", "direction LIKE 'out%'")}
      |        || ${arrow("edge2", "type2", "direction LIKE '%out'")} AS path
      |FROM cube
      |ORDER BY root, direction, edge1, type1, edge2, type2""".stripMargin
  }

  /** g42 — MULTI-SOURCE BFS LAYERS: exact hop-distance layer counts
    * from a deterministic seed set (the 4 lowest node ids) over the
    * co-order part graph, bounded at 4 hops — the reachability profile
    * behind "how local is this graph" decisions (frontier growth per
    * hop is what decides whether an iterative traversal broadcast its
    * frontier or shuffles it; g42 MEASURES that growth). All seeds ride
    * ONE frame — per round a single frontier⋈edges equi-join keyed by
    * vertex, a distinct, and an anti-join against the visited set, so
    * k sources cost one pass, not k traversals. Bounded-round contract:
    * exactly [[BfsMaxDist]] rounds, mirrored 1:1 by the oracle's
    * unrolled CTE chain (the bounded-round-oracle rule); rounds after
    * the frontier empties are no-ops on both engines. Per-round frames
    * go through the stats-clamped `Iterate.save`. */
  def bfsLayers(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    bfsLayersOf(pairs, nSeeds = 4, maxDist = BfsMaxDist)
      .orderBy(col("seed"), col("dist"))
  }

  private[graft] val BfsMaxDist = 4

  /** [[bfsLayers]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def bfsLayersOf(pairs: DataFrame, nSeeds: Int, maxDist: Int): DataFrame = {
    // static dim reused by every round — the documented bare-checkpoint
    // exception (nothing loop-carried flows through it)
    val edges = pairs.select(col("u"), col("v"))
      .union(pairs.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    val seeds = edges.select(col("u").as("node")).distinct()
      .orderBy(col("node")).limit(nSeeds)
    bfsVisited(edges, seeds, maxDist)
      .groupBy(col("seed"), col("dist")).agg(count(lit(1)).as("n_nodes"))
  }

  /** Bounded multi-source BFS over a SYMMETRIC edge frame, returning the
    * full (seed, node, dist) visited table — the building block g42
    * rolls up into layers and g49's double sweep probes for extremes. */
  private[graft] def bfsVisited(edges: DataFrame, seeds: DataFrame,
                                maxDist: Int): DataFrame = {
    var visited = seeds.select(col("node").as("seed"), col("node"),
      lit(0).as("dist")).localCheckpoint()
    var frontier = visited.select(col("seed"), col("node"))
    var i = 0
    while (i < maxDist) {
      val next = frontier.select(col("seed"), col("node").as("fu"))
        .join(edges, col("fu") === col("u"))
        .select(col("seed"), col("v").as("node")).distinct()
        .join(visited.select(col("seed"), col("node")), Seq("seed", "node"), "left_anti")
      frontier = graft.core.Iterate.save(next, 0, i)
      visited = graft.core.Iterate.save(
        visited.unionByName(frontier.withColumn("dist", lit(i + 1))), 0, i)
      i += 1
    }
    visited
  }

  val bfsLayersSql: String = {
    // unrolled CTE chain: f{k} = frontier at dist k, v{k} = visited ≤ k
    val rounds = (1 to BfsMaxDist).map { k =>
      s"""f$k AS (
         |  SELECT DISTINCT f.seed, e.v AS node
         |  FROM f${k - 1} f JOIN e ON e.u = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} p
         |                    WHERE p.seed = f.seed AND p.node = e.v)),
         |v$k AS (SELECT * FROM v${k - 1}
         |        UNION ALL SELECT seed, node, $k AS dist FROM f$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |seeds AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 4),
      |v0 AS (SELECT node AS seed, node, 0 AS dist FROM seeds),
      |f0 AS (SELECT seed, node FROM v0),
      |$rounds
      |SELECT seed, CAST(dist AS INT) AS dist, count(*) AS n_nodes
      |FROM v$BfsMaxDist GROUP BY seed, dist ORDER BY seed, dist""".stripMargin
  }

  /** g43 — KATZ WALK CENTRALITY (bounded): per-node counts of walks of
    * length 1, 2, 3 (A·1, A²·1, A³·1 over the symmetrized co-order
    * adjacency) and the Katz score Σ βᵏ·walks_k with β = 1/4 carried as
    * the exact integer 16·w1 + 4·w2 + w3 — the path-based centrality
    * complementing the degree family (g39–g41 read the 1-hop picture;
    * Katz weighs influence THROUGH the neighborhood, the feature
    * link-prediction stacks use beside g27's RA index). Walk counts are
    * sparse matvecs: each hop is ONE vertex-keyed equi-join of the
    * current count vector against the edge list plus a map-combinable
    * sum — never a matrix product, never all-pairs; three hops = three
    * shuffles bounded by |E|. Mirrored exactly by the oracle's chained
    * CTEs (walks, not simple paths — the standard Katz semantics: a
    * walk may revisit nodes, which is what keeps each hop a linear
    * operator and the 100 TB plan a join chain). */
  def katzWalks(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    katzWalksOf(pairs).orderBy(col("id"))
  }

  /** [[katzWalks]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def katzWalksOf(pairs: DataFrame): DataFrame = {
    // static dim reused by every hop — the documented bare-checkpoint
    // exception (nothing loop-carried flows through it)
    val edges = pairs.select(col("u"), col("v"))
      .union(pairs.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    // w1 = degree; each further hop pulls the neighbor's current count
    def hop(w: DataFrame): DataFrame = edges
      .join(w.select(col("id").as("v"), col("wk")), Seq("v"))
      .groupBy(col("u").as("id")).agg(sum(col("wk")).as("wk"))
    val w1 = edges.groupBy(col("u").as("id")).agg(count(lit(1)).as("wk"))
      .localCheckpoint()
    val w2 = hop(w1).localCheckpoint()
    val w3 = hop(w2)
    w1.select(col("id"), col("wk").as("w1"))
      .join(w2.select(col("id"), col("wk").as("w2")), Seq("id"), "left")
      .join(w3.select(col("id"), col("wk").as("w3")), Seq("id"), "left")
      .select(col("id"), col("w1"),
        coalesce(col("w2"), lit(0L)).as("w2"),
        coalesce(col("w3"), lit(0L)).as("w3"))
      .withColumn("katz16",
        col("w1") * 16 + col("w2") * 4 + col("w3"))
  }

  val katzWalksSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |w1 AS (SELECT u AS id, count(*) AS wk FROM e GROUP BY u),
      |w2 AS (SELECT e.u AS id, CAST(sum(w.wk) AS BIGINT) AS wk
      |       FROM e JOIN w1 w ON w.id = e.v GROUP BY e.u),
      |w3 AS (SELECT e.u AS id, CAST(sum(w.wk) AS BIGINT) AS wk
      |       FROM e JOIN w2 w ON w.id = e.v GROUP BY e.u)
      |SELECT w1.id, w1.wk AS w1,
      |  coalesce(w2.wk, 0) AS w2, coalesce(w3.wk, 0) AS w3,
      |  w1.wk * 16 + coalesce(w2.wk, 0) * 4 + coalesce(w3.wk, 0) AS katz16
      |FROM w1 LEFT JOIN w2 ON w2.id = w1.id LEFT JOIN w3 ON w3.id = w1.id
      |ORDER BY w1.id""".stripMargin

  /** g55 — HITS HUBS & AUTHORITIES (bounded, exact): Kleinberg's mutual
    * reinforcement over the DIRECTED customer→supplier purchase graph —
    * the ranking dual to g18's PageRank (endorsement flows to pages;
    * HITS separates the pointers-at-good-things from the
    * pointed-at-by-good-pointers, the natural frame for bipartite
    * buyer/seller, query/document, or curator/dataset graphs). Two full
    * mutual-reinforcement rounds UNNORMALISED so every score is an
    * exact integer (the usual L2 normalisation only rescales the
    * ranking; dropping it is what lets both engines agree bit-for-bit):
    * a1 = Aᵀ·1 (in-degree), h1 = A·a1, a2 = Aᵀ·h1, h2 = A·a2. Each
    * half-step is ONE vertex-keyed equi-join of the current score
    * vector against the edge list plus a map-combinable sum — the g43
    * sparse-matvec discipline, four |E|-bounded shuffles, never a
    * matrix product. Output is the unpivoted (kind, id, s1, s2) frame
    * so one table carries both sides. */
  def hitsScores(s: SparkSession, d: String): DataFrame = {
    val edges = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        col("l_suppkey").cast("long").as("p"))
      .distinct()
    hitsOf(edges).orderBy(col("kind"), col("id"))
  }

  /** [[hitsScores]] over an explicit DISTINCT directed `(c, p)` frame. */
  private[graft] def hitsOf(pairs: DataFrame): DataFrame = {
    val edges = pairs.localCheckpoint() // static dim reused by all four half-steps
    def authStep(h: DataFrame): DataFrame = edges
      .join(h.select(col("id").as("c"), col("sc")), Seq("c"))
      .groupBy(col("p").as("id")).agg(sum(col("sc")).as("sc"))
    def hubStep(a: DataFrame): DataFrame = edges
      .join(a.select(col("id").as("p"), col("sc")), Seq("p"))
      .groupBy(col("c").as("id")).agg(sum(col("sc")).as("sc"))
    val a1 = edges.groupBy(col("p").as("id")).agg(count(lit(1)).as("sc"))
      .localCheckpoint()
    val h1 = hubStep(a1).localCheckpoint()
    val a2 = authStep(h1).localCheckpoint()
    val h2 = hubStep(a2)
    val auth = a1.select(col("id"), col("sc").as("s1"))
      .join(a2.select(col("id"), col("sc").as("s2")), Seq("id"))
      .select(lit("auth").as("kind"), col("id"), col("s1"), col("s2"))
    val hub = h1.select(col("id"), col("sc").as("s1"))
      .join(h2.select(col("id"), col("sc").as("s2")), Seq("id"))
      .select(lit("hub").as("kind"), col("id"), col("s1"), col("s2"))
    auth.unionByName(hub)
  }

  val hitsScoresSql: String =
    """WITH e AS (
      |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
      |    CAST(l_suppkey AS BIGINT) AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |a1 AS (SELECT p AS id, count(*) AS sc FROM e GROUP BY p),
      |h1 AS (SELECT e.c AS id, CAST(sum(a.sc) AS BIGINT) AS sc
      |       FROM e JOIN a1 a ON a.id = e.p GROUP BY e.c),
      |a2 AS (SELECT e.p AS id, CAST(sum(h.sc) AS BIGINT) AS sc
      |       FROM e JOIN h1 h ON h.id = e.c GROUP BY e.p),
      |h2 AS (SELECT e.c AS id, CAST(sum(a.sc) AS BIGINT) AS sc
      |       FROM e JOIN a2 a ON a.id = e.p GROUP BY e.c)
      |SELECT 'auth' AS kind, a1.id, a1.sc AS s1, a2.sc AS s2
      |FROM a1 JOIN a2 ON a2.id = a1.id
      |UNION ALL
      |SELECT 'hub', h1.id, h1.sc, h2.sc
      |FROM h1 JOIN h2 ON h2.id = h1.id
      |ORDER BY kind, id""".stripMargin

  /** g57 — BOUNDED MUTUAL REACHABILITY (SCC-style): nodes reachable from
    * a seed AND back within [[BfsMaxDist]] hops each way — the directed
    * dual of g2's undirected components, and the bounded form of
    * strongly-connected membership (forward ∩ backward reachability is
    * exactly Kosaraju's pivot step; the hop bound makes the rounds ==
    * oracle-unroll contract hold, the bounded-round house rule). The
    * directed graph has real cycles by construction: each order's parts
    * form a successor RING (p_i → p_{i+1} by line number, last wraps to
    * first), so orders sharing parts weld their rings into larger
    * strongly-connected regions — the flow/citation/ownership shape
    * where "A reaches B" does not imply "B reaches A" and undirected CC
    * over-merges. Two bounded traversals over the SAME frontier
    * machinery as g42 (each round one vertex-keyed equi-join + distinct
    * + anti-join vs visited, Δ-frontier-sized), one intersect join, one
    * rollup; never all-pairs. */
  def mutualReachability(s: SparkSession, d: String): DataFrame =
    mutualReachabilityOf(
      orderRingEdges(Tables.lineitem(s, d).where(col("l_orderkey") % 17 === 0)),
      nSeeds = 4)
      .orderBy(col("seed"))

  /** The directed ring edges g57 traverses, from a lineitem frame whose
    * orders are COMPLETE (a window per order — partial orders would
    * derive different edges; st58's per-order atomicity precondition).
    * (o, ln) is NOT unique in the synthetic data: order by (ln, p) so
    * the ring sequence is deterministic (ties are identical rows, so
    * any permutation yields the same p sequence) — and the oracle CTE,
    * which DuckDB may re-evaluate per reference, sees the SAME edge set
    * each time. The 1-in-17 sparsification (applied by callers) keeps
    * avg out-degree ~2, where mutual ⊂ forward ≠ backward — the full
    * co-order graph saturates and the gate goes vacuous. */
  private[graft] def orderRingEdges(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o")).orderBy(col("ln"), col("p"))
    li.select(col("l_orderkey").as("o"), col("l_linenumber").as("ln"),
        col("l_partkey").cast("long").as("p"))
      .select(col("p").as("u"),
        coalesce(lead(col("p"), 1).over(w), first(col("p")).over(w)).as("v"))
      .where(col("u") =!= col("v")).distinct()
  }

  /** [[mutualReachability]] over an explicit DIRECTED `(u, v)` frame. */
  private[graft] def mutualReachabilityOf(pairs: DataFrame, nSeeds: Int): DataFrame = {
    val e = pairs.select(col("u"), col("v")).localCheckpoint()
    val seeds = e.select(col("u").as("node")).distinct()
      .orderBy(col("node")).limit(nSeeds)
    val fwd = bfsVisited(e, seeds, BfsMaxDist).select(col("seed"), col("node"))
    val bwd = bfsVisited(e.select(col("v").as("u"), col("u").as("v")),
      seeds, BfsMaxDist).select(col("seed"), col("node"))
    fwd.join(bwd, Seq("seed", "node"))
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_mutual"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"), sum(col("node")).as("sum_nodes"))
  }

  val mutualReachabilitySql: String = {
    def unroll(tag: String, edge: String): String = (1 to BfsMaxDist).map { k =>
      s"""${tag}f$k AS (
         |  SELECT DISTINCT f.seed, e.v AS node
         |  FROM ${tag}f${k - 1} f JOIN $edge e ON e.u = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM ${tag}v${k - 1} p
         |                    WHERE p.seed = f.seed AND p.node = e.v)),
         |${tag}v$k AS (SELECT * FROM ${tag}v${k - 1}
         |              UNION ALL SELECT seed, node FROM ${tag}f$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
      |  SELECT l_orderkey AS o, l_linenumber AS ln,
      |    CAST(l_partkey AS BIGINT) AS p FROM lineitem
      |  WHERE l_orderkey % 17 = 0),
      |nx AS (
      |  SELECT p AS u,
      |    coalesce(lead(p) OVER win, first_value(p) OVER win) AS v
      |  FROM li WINDOW win AS (PARTITION BY o ORDER BY ln, p)),
      |e AS (SELECT DISTINCT u, v FROM nx WHERE u <> v),
      |r AS (SELECT v AS u, u AS v FROM e),
      |seeds AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 4),
      |av0 AS (SELECT node AS seed, node FROM seeds),
      |af0 AS (SELECT seed, node FROM av0),
      |bv0 AS (SELECT node AS seed, node FROM seeds),
      |bf0 AS (SELECT seed, node FROM bv0),
      |${unroll("a", "e")},
      |${unroll("b", "r")}
      |SELECT f.seed, count(*) AS n_mutual, min(f.node) AS min_node,
      |  max(f.node) AS max_node, CAST(sum(f.node) AS BIGINT) AS sum_nodes
      |FROM av$BfsMaxDist f JOIN bv$BfsMaxDist b
      |  ON b.seed = f.seed AND b.node = f.node
      |GROUP BY f.seed ORDER BY f.seed""".stripMargin
  }

  /** How many pivot rounds g58 refines — the engine's loop bound and the
    * oracle's unroll count, the [[graft.core.Iterate]] house rule. */
  private[graft] val SccRounds = 3

  /** g58 — BOUNDED SCC LABELS: g57 answered "which nodes are mutually
    * reachable with seed X"; g58 completes it to the labeling the
    * Fleischer–Hendrickson–Pinar divide-and-conquer produces — every
    * discovered node carries its component's id. [[SccRounds]] FW-BW
    * refinement rounds, each fully deterministic:
    *
    *   1. pivot = min UNLABELED node id (FHP picks random pivots; min-id
    *      makes engine and oracle agree bit-for-bit),
    *   2. F = nodes forward-reachable from the pivot within
    *      [[BfsMaxDist]] hops THROUGH UNLABELED NODES ONLY (the FHP
    *      refinement: previously-extracted components are deleted from
    *      the graph, so a later component can never leak through an
    *      earlier one), B = the same backward,
    *   3. F ∩ B is the pivot's bounded SCC; its members take the pivot
    *      id as their label.
    *
    * A pivot always labels at least itself, so progress is guaranteed
    * and rounds after exhaustion are vacuous no-ops on both engines
    * (the bounded-round twin contract). Per round: two frontier
    * equi-join BFS walks over the filtered edge set + one intersect
    * join — Δ-frontier-sized work, no cartesian anywhere (plan-pinned).
    * Scale shape: FHP's observation is that real graphs have one giant
    * SCC plus dust — the first pivots swallow the giants and the
    * per-round edge filter shrinks the live graph geometrically; rounds
    * are a constant, so the whole labeling is a constant number of
    * |E|-bounded shuffles. The 1-round-per-pivot serialization is the
    * honest cost of deterministic pivots; production FHP parallelises
    * across partition branches, which the per-branch edge filtering
    * here already models. */
  def sccLabels(s: SparkSession, d: String): DataFrame =
    sccLabelsOf(
      orderRingEdges(Tables.lineitem(s, d).where(col("l_orderkey") % 17 === 0)),
      SccRounds)
      .orderBy(col("scc"))

  /** [[sccLabels]] over an explicit DIRECTED `(u, v)` frame. */
  private[graft] def sccLabelsOf(pairs: DataFrame, rounds: Int): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val e = pairs.select(col("u"), col("v")).localCheckpoint()
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct().localCheckpoint()
    var labeled = s.emptyDataset[(Long, Long)].toDF("node", "scc")
    var i = 0
    var exhausted = false
    while (i < rounds && !exhausted) {
      val pr = nodes.join(labeled.select(col("node")), Seq("node"), "left_anti")
        .agg(min(col("node"))).collect()(0) // 1-row bounded driver read
      if (pr.isNullAt(0)) exhausted = true // all labeled: remaining rounds vacuous
      else {
        val pivot = pr.getLong(0)
        // the FHP deletion: only edges BOTH of whose endpoints are still
        // unlabeled participate in this round's walks
        val live = e
          .join(labeled.select(col("node").as("u")), Seq("u"), "left_anti")
          .join(labeled.select(col("node").as("v")), Seq("v"), "left_anti")
          .select(col("u"), col("v"))
        val seed = Seq(pivot).toDF("node")
        val f = bfsVisited(live, seed, BfsMaxDist).select(col("node"))
        val b = bfsVisited(live.select(col("v").as("u"), col("u").as("v")),
          seed, BfsMaxDist).select(col("node"))
        val scc = f.join(b, Seq("node")).select(col("node"), lit(pivot).as("scc"))
        labeled = graft.core.Iterate.save(labeled.unionByName(scc), 0, i)
      }
      i += 1
    }
    labeled.groupBy(col("scc"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"), sum(col("node")).as("sum_nodes"))
  }

  val sccLabelsSql: String = {
    // per-round unrolled FW-BW: lab{r} = labels after round r; the walk
    // CTEs are the g57 chain over THIS round's filtered edge set
    def walk(tag: String, edge: String, seedCte: String): String = {
      val chain = (1 to BfsMaxDist).map { k =>
        s"""${tag}f$k AS (
           |  SELECT DISTINCT e.v AS node
           |  FROM ${tag}f${k - 1} f JOIN $edge e ON e.u = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM ${tag}v${k - 1} p
           |                    WHERE p.node = e.v)),
           |${tag}v$k AS MATERIALIZED (SELECT node FROM ${tag}v${k - 1}
           |              UNION ALL SELECT node FROM ${tag}f$k)""".stripMargin
      }.mkString(",\n")
      s"""${tag}f0 AS (SELECT node FROM $seedCte),
         |${tag}v0 AS (SELECT node FROM ${tag}f0),
         |$chain""".stripMargin
    }
    val roundCtes = (1 to SccRounds).map { r =>
      val prevLab = if (r == 1) "lab0" else s"lab${r - 1}"
      s"""u$r AS (SELECT node FROM nodes
         |  WHERE NOT EXISTS (SELECT 1 FROM $prevLab l WHERE l.node = nodes.node)),
         |p$r AS (SELECT min(node) AS node FROM u$r),
         |e$r AS MATERIALIZED (SELECT u, v FROM e
         |  WHERE NOT EXISTS (SELECT 1 FROM $prevLab l WHERE l.node = e.u)
         |    AND NOT EXISTS (SELECT 1 FROM $prevLab l WHERE l.node = e.v)),
         |r$r AS MATERIALIZED (SELECT v AS u, u AS v FROM e$r),
         |${walk(s"a$r", s"e$r", s"p$r")},
         |${walk(s"b$r", s"r$r", s"p$r")},
         |s$r AS (SELECT f.node, (SELECT node FROM p$r) AS scc
         |        FROM a${r}v$BfsMaxDist f JOIN b${r}v$BfsMaxDist b
         |          ON b.node = f.node),
         |lab$r AS MATERIALIZED (SELECT node, scc FROM $prevLab
         |          UNION ALL SELECT node, scc FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
      |  SELECT l_orderkey AS o, l_linenumber AS ln,
      |    CAST(l_partkey AS BIGINT) AS p FROM lineitem
      |  WHERE l_orderkey % 17 = 0),
      |nx AS (
      |  SELECT p AS u,
      |    coalesce(lead(p) OVER win, first_value(p) OVER win) AS v
      |  FROM li WINDOW win AS (PARTITION BY o ORDER BY ln, p)),
      |e AS MATERIALIZED (SELECT DISTINCT u, v FROM nx WHERE u <> v),
      |nodes AS MATERIALIZED (SELECT u AS node FROM e UNION SELECT v FROM e),
      |lab0 AS (SELECT CAST(NULL AS BIGINT) AS node,
      |                CAST(NULL AS BIGINT) AS scc WHERE 1 = 0),
      |$roundCtes
      |SELECT scc, count(*) AS n_nodes, min(node) AS min_node,
      |  max(node) AS max_node, CAST(sum(node) AS BIGINT) AS sum_nodes
      |FROM lab$SccRounds GROUP BY scc ORDER BY scc""".stripMargin
  }

  /** g44 — EDGE EMBEDDEDNESS spectrum ([[Query.edgeSupport]]): how many
    * triangles each co-order edge sits inside, rolled up to a histogram
    * — the tie-strength table (Granovetter): the support-0 row counts
    * LOCAL BRIDGES (ties whose endpoints share no neighbor — exactly
    * the edges community detection must not cut and dedup clustering
    * must not transitively merge across), the high-support tail counts
    * intra-community cables. Per-edge structure where g37 gave
    * per-node; same once-oriented triangle plan, 3-edge attribution
    * explode, output bounded by the distinct-support count. */
  def edgeEmbeddedness(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    Query.edgeSupport(pairs)
      .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
      .orderBy(col("support"))
  }

  val edgeEmbeddednessSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id),
      |o AS (
      |  SELECT CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.u ELSE p.v END AS s,
      |         CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.v ELSE p.u END AS t
      |  FROM pairs p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v),
      |tri AS (
      |  SELECT x.s AS w, x.t AS a, y.t AS b
      |  FROM o x JOIN o y ON x.s = y.s AND x.t != y.t
      |  JOIN o z ON z.s = x.t AND z.t = y.t),
      |e3 AS (
      |  SELECT least(w, a) AS u, greatest(w, a) AS v FROM tri
      |  UNION ALL SELECT least(w, b), greatest(w, b) FROM tri
      |  UNION ALL SELECT least(a, b), greatest(a, b) FROM tri),
      |sup AS (SELECT u, v, count(*) AS support FROM e3 GROUP BY u, v)
      |SELECT CAST(coalesce(s.support, 0) AS BIGINT) AS support,
      |  count(*) AS n_edges
      |FROM pairs p LEFT JOIN sup s ON s.u = p.u AND s.v = p.v
      |GROUP BY 1 ORDER BY support""".stripMargin

  /** g45 — BOUNDED WEIGHTED SHORTEST PATHS (Bellman-Ford unroll): min
    * path COST from the g42 seed set within 3 hops, where an edge costs
    * 10⁶ div (shared-order count) — strong ties are cheap, so the
    * cheapest route happily takes two strong hops over one weak one
    * (the relaxation semantics hop-BFS can't express, pinned by the
    * spec). Each round is one frontier⋈edges equi-join + a
    * map-combinable min — the sparse min-plus matvec, the tropical-
    * semiring sibling of g43's counting matvec — and the bounded-round
    * contract is mirrored 1:1 by the oracle's chained CTEs. Costs are
    * integers on both engines, so min is exact; rounds after
    * stabilisation are no-ops. */
  def boundedSssp(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count_distinct(col("a.l_orderkey")).as("cnt"))
      .select(col("u"), col("v"), expr("1000000 div cnt").as("cost"))
    boundedSsspOf(pairs, nSeeds = 4, rounds = 3)
      .orderBy(col("seed"), col("node"))
  }

  /** [[boundedSssp]] over an explicit weighted `(u, v, cost)` frame. */
  private[graft] def boundedSsspOf(wEdges: DataFrame, nSeeds: Int, rounds: Int): DataFrame = {
    // static dim reused by every round — the documented bare-checkpoint
    // exception (nothing loop-carried flows through it)
    val edges = wEdges.select(col("u"), col("v"), col("cost"))
      .union(wEdges.select(col("v").as("u"), col("u").as("v"), col("cost")))
      .localCheckpoint()
    val seeds = edges.select(col("u").as("node")).distinct()
      .orderBy(col("node")).limit(nSeeds)
    var dist = seeds.select(col("node").as("seed"), col("node"),
      lit(0L).as("c")).localCheckpoint()
    var i = 0
    while (i < rounds) {
      val relax = dist.select(col("seed"), col("node").as("fu"), col("c"))
        .join(edges, col("fu") === col("u"))
        .select(col("seed"), col("v").as("node"), (col("c") + col("cost")).as("c"))
      dist = graft.core.Iterate.save(
        dist.unionByName(relax)
          .groupBy(col("seed"), col("node")).agg(min(col("c")).as("c")), 0, i)
      i += 1
    }
    dist.select(col("seed"), col("node"), col("c").as("cost"))
  }

  val boundedSsspSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""d$k AS (
         |  SELECT seed, node, min(c) AS c FROM (
         |    SELECT seed, node, c FROM d${k - 1}
         |    UNION ALL
         |    SELECT d.seed, e.v AS node, d.c + e.cost AS c
         |    FROM d${k - 1} d JOIN e ON e.u = d.node)
         |  GROUP BY seed, node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v,
      |    1000000 // count(DISTINCT a.l_orderkey) AS cost
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY a.l_partkey, b.l_partkey),
      |e AS (SELECT u, v, cost FROM pairs
      |      UNION ALL SELECT v, u, cost FROM pairs),
      |seeds AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 4),
      |d0 AS (SELECT node AS seed, node, CAST(0 AS BIGINT) AS c FROM seeds),
      |$rounds
      |SELECT seed, node, CAST(c AS BIGINT) AS cost
      |FROM d3 ORDER BY seed, node""".stripMargin
  }

  /** g46 — TRIAD CENSUS (undirected): how many node triples are empty /
    * one-edge / wedge (path-of-2) / triangle — the 4-bin profile whose
    * wedge:triangle ratio IS the global clustering coefficient and
    * whose one-edge mass measures sparsity, all WITHOUT enumerating
    * triples: every bin has a closed form in |V|, |E|, the degree
    * second moment and the triangle count (W = Σ C(d,2) wedges;
    * triangles from the once-oriented plan; one-edge = E(V−2) −
    * 2(W−3T) − 3T; empty = C(V,3) − rest). The engine computes the
    * moments map-side and the oracle restates the same closed forms
    * from scratch — counting C(V,3) triples at 100 TB is impossible,
    * which is exactly why the closed form is the operator. */
  def triadCensus(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    triadCensusOf(pairs)
  }

  /** [[triadCensus]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def triadCensusOf(pairs: DataFrame): DataFrame = {
    val p = pairs.localCheckpoint() // scanned by degrees AND triangles
    val deg = p.select(col("u").as("id")).union(p.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val moments = deg.agg(count(lit(1)).as("nv"),
      coalesce(sum(col("deg")), lit(0L)).as("sum_d"),
      coalesce(sum(expr("(deg * (deg - 1)) div 2")), lit(0L)).as("wedges"))
    val o = p
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("t"))
      .localCheckpoint()
    val tri = o.as("x").join(o.as("y"),
        col("x.s") === col("y.s") && col("x.t") =!= col("y.t"))
      .select(col("x.t").as("a"), col("y.t").as("b"))
      .join(o.as("z"), col("a") === col("z.s") && col("b") === col("z.t"))
      .agg(count(lit(1)).as("tri"))
    moments.crossJoin(tri) // two 1-row frames
      .select(col("nv"), expr("sum_d div 2").as("ne"),
        col("wedges"), col("tri"))
      .select(col("nv"), col("ne"), col("tri").as("n_triangle"),
        (col("wedges") - col("tri") * 3).as("n_wedge"),
        (col("ne") * (col("nv") - 2) - (col("wedges") - col("tri") * 3) * 2
          - col("tri") * 3).as("n_one_edge"))
      .withColumn("n_empty",
        expr("(nv * (nv - 1) * (nv - 2)) div 6")
          - col("n_triangle") - col("n_wedge") - col("n_one_edge"))
  }

  val triadCensusSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS deg
      |  FROM (SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY id),
      |m AS (
      |  SELECT count(*) AS nv, CAST(sum(deg) AS BIGINT) // 2 AS ne,
      |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges
      |  FROM deg),
      |o AS (
      |  SELECT CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.u ELSE p.v END AS s,
      |         CASE WHEN (da.deg, p.u) < (db.deg, p.v) THEN p.v ELSE p.u END AS t
      |  FROM pairs p JOIN deg da ON da.id = p.u JOIN deg db ON db.id = p.v),
      |t AS (
      |  SELECT count(*) AS tri FROM o x
      |  JOIN o y ON x.s = y.s AND x.t != y.t
      |  JOIN o z ON z.s = x.t AND z.t = y.t)
      |SELECT nv, ne, tri AS n_triangle,
      |  wedges - 3 * tri AS n_wedge,
      |  ne * (nv - 2) - 2 * (wedges - 3 * tri) - 3 * tri AS n_one_edge,
      |  nv * (nv - 1) * (nv - 2) // 6 - tri - (wedges - 3 * tri)
      |    - (ne * (nv - 2) - 2 * (wedges - 3 * tri) - 3 * tri) AS n_empty
      |FROM m CROSS JOIN t""".stripMargin

  /** k11 — MANIFEST-VALIDATED PUBLISH: the atomic-publish handshake a
    * lake consumer needs before trusting a dataset directory — the
    * writer materialises the table AND a manifest recording, per file,
    * the row count and an order-independent content checksum (sum of
    * per-row xxhash64 over all columns — commutative, so parallelism
    * can't change it); the reader RE-DERIVES the same stats from the
    * bytes it actually sees and refuses to serve on any mismatch
    * (partial write, lost file, post-publish mutation). What the gate
    * proves: data served THROUGH the validation path is byte-faithful
    * — the oracle aggregates the original table, so a checksum scheme
    * that rejected good data or passed bad data would fail the gate
    * (and the spec corrupts a file to pin detection). Manifest
    * derivation is one groupBy(input_file_name) over the read-back —
    * no driver-side file walking. */
  def manifestPublish(s: SparkSession, d: String): DataFrame = {
    val dir = publishGen(s, d)
    // the PUBLISHER validates its own freshly-written generation and, as
    // the one caller that owns the directory, opts into marking it
    // (trustOnce) — the marker is what lets the next publish compact this
    // generation once superseded. Plain consumers call serveValidated in
    // default mode and stay strictly read-only.
    serveValidated(s, dir, trustOnce = true)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"))
  }

  /** Publish the documents table into a fresh GENERATION directory under
    * the dataset's base dir and return it. Each invocation gets its own
    * `gen_<uuid>` — concurrent sessions on the same dataset never share
    * a write/validate handshake (and the hex key avoids the
    * `abs(Int.MinValue)` edge the old `math.abs(hashCode)` dir had).
    * Fully-validated older generations are removed after the new one is
    * in place (the KvGenStore supersede policy); a concurrent reader
    * still lazily consuming one surfaces that loss through ITS next
    * validation or a loud read failure — never as silently-wrong data. */
  private[graft] def publishGen(s: SparkSession, d: String): String = {
    val base = graft.core.LakeDir.scoped(s, "pub", d)
    val dir = s"$base/gen_${java.util.UUID.randomUUID().toString.take(8)}"
    Tables.documents(s, d).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/data")
    writeManifest(s, dir)
    val bp = new org.apache.hadoop.fs.Path(base)
    val hf = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
    hf.listStatus(bp).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("gen_") && st.getPath.toString != new org.apache.hadoop.fs.Path(dir).toString
          && hf.exists(new org.apache.hadoop.fs.Path(st.getPath, "_validated")))
        hf.delete(st.getPath, true)
    }
    dir
  }

  /** Per-file (rows, checksum) manifest over what the write produced. */
  private[graft] def fileStats(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/data")
      .select(input_file_name().as("file"),
        xxhash64(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")).as("h"))
      .groupBy(col("file"))
      // DECIMAL(38,0) accumulator: a per-file sum of 64-bit hashes
      // overflows Long under ANSI mode on real file sizes
      .agg(count(lit(1)).as("rows"),
        sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("checksum"))

  private[graft] def writeManifest(s: SparkSession, dir: String): Unit =
    fileStats(s, dir).coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/_manifest")

  /** The validating read: throws rather than serving unverified data.
    *
    * Trust model — a DOCUMENTED two-scan default: every serve re-derives
    * the per-file stats from the bytes it is about to serve (one extra
    * scan over the data), because the stated contract includes detecting
    * POST-publish mutation, which any validate-once cache is blind to.
    * Callers that serve one immutable generation many times and accept
    * that narrower contract can pass `trustOnce = true`: the first
    * successful TRUSTED validation drops a `_validated` marker and later
    * trustOnce serves skip the scan (the KvGenStore generation-marker
    * pattern; the marker is also what lets [[publishGen]] compact
    * superseded generations). Default-mode serves never touch the
    * filesystem for writing — validation stays a pure read so read-only
    * consumers work and never silently arm the trustOnce fast path. */
  private[graft] def serveValidated(s: SparkSession, dir: String,
                                    trustOnce: Boolean = false): DataFrame = {
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_validated")
    val hf = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!(trustOnce && hf.exists(marker))) {
      val manifest = s.read.parquet(s"$dir/_manifest")
      val actual = fileStats(s, dir)
      val bad = manifest.join(actual, Seq("file"), "full_outer")
        .where(manifest("rows").isNull || actual("rows").isNull ||
          manifest("rows") =!= actual("rows") ||
          manifest("checksum") =!= actual("checksum"))
        .count() // bounded: one row per FILE, not per data row
      require(bad == 0L,
        s"manifest validation failed for $bad file(s) under $dir — refusing to serve")
      // the marker is written ONLY by callers that opted into the
      // validate-once contract: the default path stays purely read-only
      // (a reader with read-only access to a published generation must
      // not throw after a clean validation), and a default-mode serve
      // must not silently arm future trustOnce reads or publishGen
      // compaction for callers that never opted in
      if (trustOnce) hf.create(marker, true).close()
    }
    s.read.parquet(s"$dir/data")
  }

  val manifestPublishSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** g47 — MODULARITY of the g23 LPA communities, exactly: Newman's
    * Q = Σ_c (e_c/m − (d_c/2m)²) carried as the INTEGER numerator
    * q·4m² = Σ_c (4m·e_c − d_c²) per community, so "did the clustering
    * beat random wiring" becomes an exact cross-engine number instead
    * of a float (Q itself = Σ q_x4m2 / 4m² downstream). Communities
    * come from the same bounded-round LPA the g23 oracle unrolls; e_c
    * is one label-equijoin over the edge list, d_c one join of the
    * degree table — nothing beyond the shuffles g23 already pays.
    * The measured answer to "was LPA any good here", which no gate so
    * far stated. */
  def modularity(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    modularityOf(pairs, iterations = 3).orderBy(col("label"))
  }

  /** [[modularity]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def modularityOf(pairs: DataFrame, iterations: Int): DataFrame = {
    val p = pairs.localCheckpoint() // scanned by LPA, degrees and e_c
    val labels = Query.labelPropagation(p, iterations)
      .select(col("id"), col("label")).localCheckpoint()
    val deg = p.select(col("u").as("id")).union(p.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val ec = p
      .join(labels.select(col("id").as("u"), col("label").as("lu")), "u")
      .join(labels.select(col("id").as("v"), col("label").as("lv")), "v")
      .where(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_in"))
    val dc = labels.join(deg, "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
    val m = p.agg(count(lit(1)).as("m"))
    dc.join(ec, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
        (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L))
          - col("d_sum") * col("d_sum")).as("q_x4m2"))
  }

  val modularitySql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT node AS id, label FROM (
         |    SELECT a.node, l.label,
         |      row_number() OVER (PARTITION BY a.node
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM adj a JOIN $prev l ON l.id = a.nbr
         |    GROUP BY a.node, l.label) WHERE rn = 1)""".stripMargin
    s"""WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS node, v AS nbr FROM pairs
      |        UNION ALL SELECT v, u FROM pairs),
      |l0 AS (SELECT DISTINCT node AS id, node AS label FROM adj),
      |${round("l0", "l1")},
      |${round("l1", "l2")},
      |${round("l2", "l3")},
      |deg AS (SELECT node AS id, count(*) AS deg FROM adj GROUP BY node),
      |ec AS (
      |  SELECT la.label, count(*) AS e_in
      |  FROM pairs p JOIN l3 la ON la.id = p.u JOIN l3 lb ON lb.id = p.v
      |  WHERE la.label = lb.label GROUP BY la.label),
      |dc AS (
      |  SELECT l.label, count(*) AS n_nodes, CAST(sum(d.deg) AS BIGINT) AS d_sum
      |  FROM l3 l JOIN deg d ON d.id = l.id GROUP BY l.label),
      |m AS (SELECT count(*) AS m FROM pairs)
      |SELECT dc.label, dc.n_nodes,
      |  CAST(coalesce(ec.e_in, 0) AS BIGINT) AS e_in, dc.d_sum,
      |  CAST(4 * m.m * coalesce(ec.e_in, 0) - dc.d_sum * dc.d_sum AS BIGINT)
      |    AS q_x4m2
      |FROM dc LEFT JOIN ec ON ec.label = dc.label CROSS JOIN m
      |ORDER BY dc.label""".stripMargin
  }

  /** g48 — the gwas notebook's 4-HOP EDGE-TYPE-ALTERNATION CHAIN
    * (`notebooks/gwas.ipynb`, both cells): the reference's longest
    * traversal shape and the only notebook workload without its own gate
    * until now. Cell 1 (route `via_disease`):
    * `(snp:gwas:SNP)-[:gwas:associated_with]->(disease)
    *  -[:biolink:has_phenotype|ro:causally_related_to|ro:has_characteristic]->(phenotype)
    *  <-[:biolink:has_phenotype]-(assoc:impc:GenePhenotypeAssociation)
    *  -[:impc:mouseAlleleId]->(allele:impc:Allele)`; cell 2 (route
    * `direct`) is the 3-hop variant that skips the disease. Runs through
    * the engine's [[Query.matchChain]] — one equi-join per hop.
    *
    * TPC-H graph fixture: customer→nation `gwas:associated_with`
    * (disease/trait = the customer's nation), nation→region typed by
    * `n_nationkey % 4` (0/1/2 = the three alternation members, 3 =
    * `ro:excluded_rel` — pins the whitelist), supplier→region and
    * supplier→nation `biolink:has_phenotype` (traversed in REVERSE at
    * the third hop — pins direction handling), supplier→part
    * `impc:mouseAlleleId` over distinct lineitem pairs. Label decoys:
    * only BUILDING customers with `c_custkey % 10 = 1` are `gwas:SNP`,
    * only even suppliers are `impc:GenePhenotypeAssociation`, only
    * `p_size < 15` parts are `impc:Allele`; a duplicate customer→nation
    * edge typed `gwas:other_rel` pins the hop-1 type filter. Output is
    * grouped per (route, snp, disease, phenotype, mouse_gene) with the
    * allele count + min allele name — path multiplicity survives as
    * `n_alleles`, so any wrong hop changes the hash. Scale shape: every
    * hop joins on the vertex id against a type-pruned edge frame; the
    * grouped projection is one map-combinable aggregate. */
  private[graft] val GwasPhenoRels =
    Seq("biolink:has_phenotype", "ro:causally_related_to", "ro:has_characteristic")

  private[graft] def gwasGraph(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val edge = (f: Column, t: Column, et: Column) =>
      f.as("fromNodeId") :: t.as("toNodeId") :: et.as("edgeType") :: Nil
    val cust = Tables.customer(s, d)
    val supp = Tables.supplier(s, d)
    val natn = Tables.nation(s, d)
    val regn = Tables.region(s, d)
    val prt = Tables.part(s, d)
    val edges = cust
      .select(edge(node("c:", col("c_custkey")), node("n:", col("c_nationkey")),
        lit("gwas:associated_with")): _*)
      .union(cust.select(edge(node("c:", col("c_custkey")), node("n:", col("c_nationkey")),
        lit("gwas:other_rel")): _*))
      .union(natn.select(edge(node("n:", col("n_nationkey")), node("r:", col("n_regionkey")),
        when(col("n_nationkey") % 4 === 0, "biolink:has_phenotype")
          .when(col("n_nationkey") % 4 === 1, "ro:causally_related_to")
          .when(col("n_nationkey") % 4 === 2, "ro:has_characteristic")
          .otherwise("ro:excluded_rel")): _*))
      .union(supp.join(natn, col("s_nationkey") === col("n_nationkey"))
        .select(edge(node("s:", col("s_suppkey")), node("r:", col("n_regionkey")),
          lit("biolink:has_phenotype")): _*))
      .union(supp.select(edge(node("s:", col("s_suppkey")), node("n:", col("s_nationkey")),
        lit("biolink:has_phenotype")): _*))
      .union(Tables.lineitem(s, d)
        .select(node("s:", col("l_suppkey")).as("f"), node("p:", col("l_partkey")).as("t"))
        .distinct()
        .select(edge(col("f"), col("t"), lit("impc:mouseAlleleId")): _*))
    val types = cust.select(node("c:", col("c_custkey")).as("nodeId"),
        when(col("c_mktsegment") === "BUILDING" && col("c_custkey") % 10 === 1, "gwas:SNP")
          .otherwise("other:Thing").as("nodeType"))
      .union(natn.select(node("n:", col("n_nationkey")), lit("grebi:Disease")))
      .union(regn.select(node("r:", col("r_regionkey")), lit("grebi:Phenotype")))
      .union(supp.select(node("s:", col("s_suppkey")),
        when(col("s_suppkey") % 2 === 0, "impc:GenePhenotypeAssociation")
          .otherwise("impc:OtherAssoc")))
      .union(prt.select(node("p:", col("p_partkey")),
        when(col("p_size") < 15, "impc:Allele").otherwise("impc:Gene")))
    val names = cust.select(node("c:", col("c_custkey")).as("nodeId"), col("c_name").as("name"))
      .union(natn.select(node("n:", col("n_nationkey")), col("n_name")))
      .union(regn.select(node("r:", col("r_regionkey")), col("r_name")))
      .union(supp.select(node("s:", col("s_suppkey")), col("s_name")))
      .union(prt.select(node("p:", col("p_partkey")), col("p_name")))
    (edges, types, names)
  }

  /** The gwas chain MINUS its final (lineitem-derived) allele hop: every
    * binding of `(route, snp_id, disease, phenotype, massoc,
    * mouse_gene)` reachable through the static dimension tables. This is
    * the st52 IVM split: of the four hops only the allele edges derive
    * from the fact table, so the join-chain product rule degenerates to
    * ONE delta term — Δpairs ⋈ this prefix — and the prefix is computed
    * once, not per batch. */
  private[graft] def gwasPrefix(s: SparkSession, d: String): DataFrame = {
    import graft.query.Query.Hop
    val (edges, types, names) = gwasGraph(s, d)
    val snps = types.where(col("nodeType") === "gwas:SNP").select(col("nodeId").as("snp"))
    def withName(df: DataFrame, id: String, out: String): DataFrame =
      df.join(names.select(col("nodeId").as(id), col("name").as(out)), id)
    val assocHop = Hop(Seq("biolink:has_phenotype"), "in", "massoc",
      Some("impc:GenePhenotypeAssociation"))
    val via = Query.matchChain(edges, types, snps, "snp", Seq(
      Hop(Seq("gwas:associated_with"), "out", "disease"),
      Hop(GwasPhenoRels, "out", "pheno"),
      assocHop))
    val direct = Query.matchChain(edges, types, snps, "snp", Seq(
      Hop(Seq("gwas:associated_with"), "out", "trait"),
      assocHop))
    withName(withName(withName(via,
        "disease", "disease_nm"), "pheno", "pheno_nm"), "massoc", "mouse_gene")
      .select(lit("via_disease").as("route"), col("snp").as("snp_id"),
        col("disease_nm").as("disease"), col("pheno_nm").as("phenotype"),
        col("massoc"), col("mouse_gene"))
      .unionByName(withName(withName(direct, "trait", "trait_nm"), "massoc", "mouse_gene")
        .select(lit("direct").as("route"), col("snp").as("snp_id"),
          lit("-").as("disease"), col("trait_nm").as("phenotype"),
          col("massoc"), col("mouse_gene")))
  }

  /** Allele dimension for the final hop: `impc:Allele`-labelled parts
    * with their names, keyed by padded part node id. */
  private[graft] def gwasAlleles(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).where(col("p_size") < 15)
      .select(node("p:", col("p_partkey")).as("allele"), col("p_name").as("allele_nm"))

  /** Grouped rollup shared by batch g48 and streaming st52: `pairs` is
    * the (massoc, allele) edge set — DISTINCT for batch, the per-batch
    * NEW-distinct delta for the IVM (counts are additive and
    * sample_allele min-mergeable over disjoint pair sets). */
  private[graft] def gwasRollup(prefix: DataFrame, pairs: DataFrame,
                                alleles: DataFrame): DataFrame =
    prefix.join(pairs, "massoc").join(alleles, "allele")
      .groupBy(col("route"), col("snp_id"), col("disease"), col("phenotype"),
        col("mouse_gene"))
      .agg(count(lit(1)).as("n_alleles"), min(col("allele_nm")).as("sample_allele"))

  def gwasChain(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(node("s:", col("l_suppkey")).as("massoc"),
        node("p:", col("l_partkey")).as("allele"))
      .distinct()
    gwasRollup(gwasPrefix(s, d), pairs, gwasAlleles(s, d))
      .select(col("route"), col("snp_id"), col("disease"), col("phenotype"),
        col("mouse_gene"), col("n_alleles"), col("sample_allele"))
      .orderBy(col("route"), col("snp_id"), col("disease"), col("phenotype"),
        col("mouse_gene"))
  }

  val gwasChainSql: String =
    s"""WITH cust AS (
      |  SELECT 'c:' || ${sqlPad("c_custkey")} AS id, c_name AS name,
      |    'n:' || ${sqlPad("c_nationkey")} AS nat,
      |    (c_mktsegment = 'BUILDING' AND c_custkey % 10 = 1) AS is_snp
      |  FROM customer),
      |supp AS (
      |  SELECT 's:' || ${sqlPad("s_suppkey")} AS id, s_name AS name,
      |    'n:' || ${sqlPad("s_nationkey")} AS nat, s_suppkey % 2 = 0 AS is_assoc
      |  FROM supplier),
      |nat AS (
      |  SELECT 'n:' || ${sqlPad("n_nationkey")} AS id, n_name AS name,
      |    'r:' || ${sqlPad("n_regionkey")} AS reg, n_nationkey % 4 AS m
      |  FROM nation),
      |reg AS (SELECT 'r:' || ${sqlPad("r_regionkey")} AS id, r_name AS name FROM region),
      |prt AS (
      |  SELECT 'p:' || ${sqlPad("p_partkey")} AS id, p_name AS name,
      |    p_size < 15 AS is_allele
      |  FROM part),
      |e_allele AS (
      |  SELECT DISTINCT 's:' || ${sqlPad("l_suppkey")} AS massoc,
      |    'p:' || ${sqlPad("l_partkey")} AS allele
      |  FROM lineitem),
      |-- incoming biolink:has_phenotype, already label-filtered to real assocs
      |hp_in AS (
      |  SELECT s.id AS massoc, n.reg AS pheno, s.name AS mouse_gene
      |  FROM supp s JOIN nat n ON n.id = s.nat WHERE s.is_assoc
      |  UNION ALL
      |  SELECT s.id, s.nat, s.name FROM supp s WHERE s.is_assoc),
      |tail AS (
      |  SELECT h.pheno, h.massoc, h.mouse_gene, p.name AS allele_nm
      |  FROM hp_in h
      |  JOIN e_allele ea ON ea.massoc = h.massoc
      |  JOIN prt p ON p.id = ea.allele AND p.is_allele),
      |snp AS (SELECT id, nat FROM cust WHERE is_snp),
      |via AS (
      |  SELECT s.id AS snp_id, dn.name AS disease, rn.name AS phenotype,
      |    t.mouse_gene, t.allele_nm
      |  FROM snp s
      |  JOIN nat dn ON dn.id = s.nat AND dn.m IN (0, 1, 2)
      |  JOIN reg rn ON rn.id = dn.reg
      |  JOIN tail t ON t.pheno = dn.reg),
      |dir AS (
      |  SELECT s.id AS snp_id, nn.name AS phenotype, t.mouse_gene, t.allele_nm
      |  FROM snp s
      |  JOIN nat nn ON nn.id = s.nat
      |  JOIN tail t ON t.pheno = s.nat)
      |SELECT route, snp_id, disease, phenotype, mouse_gene,
      |  CAST(n_alleles AS BIGINT) AS n_alleles, sample_allele
      |FROM (
      |  SELECT 'via_disease' AS route, snp_id, disease, phenotype, mouse_gene,
      |    count(*) AS n_alleles, min(allele_nm) AS sample_allele
      |  FROM via GROUP BY snp_id, disease, phenotype, mouse_gene
      |  UNION ALL
      |  SELECT 'direct', snp_id, '-', phenotype, mouse_gene,
      |    count(*), min(allele_nm)
      |  FROM dir GROUP BY snp_id, phenotype, mouse_gene)
      |ORDER BY route, snp_id, disease, phenotype, mouse_gene""".stripMargin

  /** g49 — PSEUDO-DIAMETER by DOUBLE BFS SWEEP (the Magnien–Latapy–
    * Habib lower-bound heuristic): BFS from the lowest node id, take the
    * farthest node reached (max dist, tie-broken to the lowest id), BFS
    * again from there — sweep 2's eccentricity is a certified LOWER
    * bound on the graph diameter, the number that sizes iteration
    * budgets for every bounded traversal in this module (g42/g45's
    * round caps, CC's convergence depth). Both sweeps are bounded at
    * [[BfsMaxDist]] rounds mirrored 1:1 by the oracle's two unrolled CTE
    * chains (the bounded-round-oracle rule), so on graphs wider than the
    * cap the result is the honest "eccentricity within k hops". Output
    * is two rows (sweep, source, farthest, ecc, n_reached). Everything
    * stays lazy frames — the argmax is a 1-row orderBy/limit, the reach
    * count a 1-row aggregate cross-joined on (the documented 1-row
    * pattern), never a driver collect. */
  def pseudoDiameter(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    pseudoDiameterOf(pairs, BfsMaxDist)
  }

  /** [[pseudoDiameter]] over an explicit DISTINCT `(u, v)` edge frame. */
  private[graft] def pseudoDiameterOf(pairs: DataFrame, maxDist: Int): DataFrame = {
    val edges = pairs.select(col("u"), col("v"))
      .union(pairs.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint() // static dim probed by both sweeps
    val first = edges.select(col("u").as("node")).distinct()
      .orderBy(col("node")).limit(1)
    val v1 = bfsVisited(edges, first, maxDist)
    val far1 = v1.orderBy(col("dist").desc, col("node").asc).limit(1)
      .localCheckpoint() // seeds sweep 2 AND labels the output row
    val v2 = bfsVisited(edges, far1.select(col("node")), maxDist)
    val far2 = v2.orderBy(col("dist").desc, col("node").asc).limit(1)
    def row(sweepNo: Int, v: DataFrame, far: DataFrame): DataFrame =
      far.select(lit(sweepNo.toLong).as("sweep"), col("seed").as("source"),
          col("node").as("farthest"), col("dist").cast("long").as("ecc"))
        .crossJoin(v.agg(count(lit(1)).as("n_reached"))) // 1-row × 1-row
    row(1, v1, far1).unionByName(row(2, v2, far2)).orderBy(col("sweep"))
  }

  val pseudoDiameterSql: String = {
    // two unrolled chains, the second seeded by the first's argmax; every
    // per-round CTE is MATERIALIZED — the NOT EXISTS + UNION structure
    // references each v_{k-1} twice, so inlining across a DOUBLE chain
    // would expand the base scan 2^(2k) times (observed as fd exhaustion)
    def chain(sfx: String, k: Int): String =
      s"""f${k}_$sfx AS MATERIALIZED (
         |  SELECT DISTINCT f.seed, e.v AS node
         |  FROM f${k - 1}_$sfx f JOIN e ON e.u = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1}_$sfx p
         |                    WHERE p.seed = f.seed AND p.node = e.v)),
         |v${k}_$sfx AS MATERIALIZED (SELECT * FROM v${k - 1}_$sfx
         |        UNION ALL SELECT seed, node, $k AS dist FROM f${k}_$sfx)""".stripMargin
    val k = BfsMaxDist
    val c1 = (1 to k).map(chain("a", _)).mkString(",\n")
    val c2 = (1 to k).map(chain("b", _)).mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |s1 AS (SELECT min(u) AS node FROM e WHERE u IS NOT NULL),
      |v0_a AS (SELECT node AS seed, node, 0 AS dist FROM s1 WHERE node IS NOT NULL),
      |f0_a AS (SELECT seed, node FROM v0_a),
      |$c1,
      |far1 AS (SELECT seed, node, dist FROM v${k}_a ORDER BY dist DESC, node ASC LIMIT 1),
      |v0_b AS (SELECT node AS seed, node, 0 AS dist FROM far1),
      |f0_b AS (SELECT seed, node FROM v0_b),
      |$c2,
      |far2 AS (SELECT seed, node, dist FROM v${k}_b ORDER BY dist DESC, node ASC LIMIT 1),
      |n1 AS (SELECT count(*) AS n_reached FROM v${k}_a),
      |n2 AS (SELECT count(*) AS n_reached FROM v${k}_b)
      |SELECT CAST(sweep AS BIGINT) AS sweep, source, farthest,
      |  CAST(ecc AS BIGINT) AS ecc, CAST(n_reached AS BIGINT) AS n_reached
      |FROM (
      |  SELECT 1 AS sweep, seed AS source, node AS farthest, dist AS ecc, n_reached
      |  FROM far1 CROSS JOIN n1
      |  UNION ALL
      |  SELECT 2, seed, node, dist, n_reached FROM far2 CROSS JOIN n2)
      |ORDER BY sweep""".stripMargin
  }

  /** g50 — LOCAL BIPARTITENESS CHECK / ODD-CYCLE WITNESS COUNT on BFS
    * balls: from each of the 4 lowest-id seeds over the co-order part
    * graph, BFS to [[BfsMaxDist]] hops, 2-color the ball by distance
    * parity, then count the edges whose endpoints land on the SAME
    * parity — each such edge closes an odd cycle through the BFS tree,
    * so `n_conflict = 0` certifies the induced ball subgraph bipartite
    * and `n_conflict > 0` counts independent odd-cycle witnesses (every
    * edge of the induced subgraph spans adjacent-or-equal layers, so an
    * odd cycle must contain a same-parity edge — the parity coloring IS
    * the bipartiteness test). This is the 2-colorability audit identity
    * pipelines run on "same-as" equivalence neighborhoods: a conflict
    * edge is a concrete curation-error witness. One bounded BFS (the
    * g42 building block, per-round frontier⋈edges equi-joins through
    * the stats-clamped `Iterate.save`) plus ONE edge⋈visited⋈visited
    * equi-join probe — never per-seed traversals, never all-pairs;
    * the probe is keyed by vertex so 100× data is 100× probe rows. */
  def bipartiteCheck(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    bipartiteCheckOf(pairs, nSeeds = 4, maxDist = BfsMaxDist)
      .orderBy(col("seed"))
  }

  /** [[bipartiteCheck]] over an explicit DISTINCT `(u, v)` (u < v) edge
    * frame — property-tested on hand graphs (even cycle → bipartite,
    * triangle → one witness) and fuzzed against a local 2-coloring. */
  private[graft] def bipartiteCheckOf(pairs: DataFrame, nSeeds: Int,
                                      maxDist: Int): DataFrame = {
    val edges = pairs.select(col("u"), col("v"))
      .union(pairs.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint() // static dim: BFS rounds reuse it
    val seeds = edges.select(col("u").as("node")).distinct()
      .orderBy(col("node")).limit(nSeeds)
    // read 3×: parity counts + both sides of the conflict probe
    val visited = bfsVisited(edges, seeds, maxDist).localCheckpoint()
    val parity = visited.groupBy("seed").agg(
      sum(when(col("dist") % 2 === 0, 1L).otherwise(0L)).as("n_even"),
      sum(when(col("dist") % 2 === 1, 1L).otherwise(0L)).as("n_odd"))
    // pairs is u < v by construction → each undirected edge counted once
    val ballEdges = pairs
      .join(visited.select(col("seed"), col("node").as("u"),
        col("dist").as("du")), Seq("u"))
      .join(visited.select(col("seed"), col("node").as("v"),
        col("dist").as("dv")), Seq("seed", "v"))
    val conflicts = ballEdges.groupBy("seed").agg(
      count(lit(1)).as("n_ball_edges"),
      sum(when((col("du") + col("dv")) % 2 === 0, 1L).otherwise(0L))
        .as("n_conflict"))
    parity.join(conflicts, Seq("seed"), "left")
      .select(col("seed"), col("n_even"), col("n_odd"),
        coalesce(col("n_ball_edges"), lit(0L)).as("n_ball_edges"),
        coalesce(col("n_conflict"), lit(0L)).as("n_conflict"))
      .withColumn("bipartite",
        when(col("n_conflict") === 0, 1L).otherwise(0L))
  }

  val bipartiteCheckSql: String = {
    // the g42 unrolled chain (MATERIALIZED — v4 is referenced three
    // times below; inlining would re-expand the whole BFS per use)
    val rounds = (1 to BfsMaxDist).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT DISTINCT f.seed, e.v AS node
         |  FROM f${k - 1} f JOIN e ON e.u = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} p
         |                    WHERE p.seed = f.seed AND p.node = e.v)),
         |v$k AS MATERIALIZED (SELECT * FROM v${k - 1}
         |        UNION ALL SELECT seed, node, $k AS dist FROM f$k)""".stripMargin
    }.mkString(",\n")
    val k = BfsMaxDist
    s"""WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |seeds AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 4),
      |v0 AS (SELECT node AS seed, node, 0 AS dist FROM seeds),
      |f0 AS (SELECT seed, node FROM v0),
      |$rounds,
      |par AS (
      |  SELECT seed,
      |    sum(CASE WHEN dist % 2 = 0 THEN 1 ELSE 0 END) AS n_even,
      |    sum(CASE WHEN dist % 2 = 1 THEN 1 ELSE 0 END) AS n_odd
      |  FROM v$k GROUP BY seed),
      |conf AS (
      |  SELECT a.seed, count(*) AS n_ball_edges,
      |    sum(CASE WHEN (a.dist + b.dist) % 2 = 0 THEN 1 ELSE 0 END) AS n_conflict
      |  FROM pairs p
      |  JOIN v$k a ON a.node = p.u
      |  JOIN v$k b ON b.seed = a.seed AND b.node = p.v
      |  GROUP BY a.seed)
      |SELECT par.seed,
      |  CAST(n_even AS BIGINT) AS n_even, CAST(n_odd AS BIGINT) AS n_odd,
      |  CAST(COALESCE(n_ball_edges, 0) AS BIGINT) AS n_ball_edges,
      |  CAST(COALESCE(n_conflict, 0) AS BIGINT) AS n_conflict,
      |  CAST(CASE WHEN COALESCE(n_conflict, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS bipartite
      |FROM par LEFT JOIN conf ON conf.seed = par.seed
      |ORDER BY par.seed""".stripMargin
  }

  /** g51 — HASH-PARTITION EDGE-CUT PROFILE: for each candidate
    * parallelism k ∈ {2, 4, 8, 16, 32}, the fraction of co-order edges
    * whose endpoints hash to different partitions (`u % k ≠ v % k`)
    * plus the node-balance of the largest partition — THE two numbers
    * that decide a distributed graph job's layout before it runs: cut
    * fraction is the share of messages crossing the wire per
    * iteration (PageRank/LPA/BFS traffic at parallelism k), balance is
    * the straggler bound; together with g40's degree spectrum they are
    * the measured inputs to the partition-vs-broadcast decision this
    * module's iterative operators take on faith. Pure closed form: one
    * pass over the edge list per k (a map-side flag sum — the five k
    * values ride ONE unpivoted aggregation), one over the node set;
    * nothing iterative, nothing all-pairs. `max_part_nodes` uses the
    * value-bucket max (no per-partition sort); ppm is exact integer. */
  def partitionEdgeCut(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    partitionEdgeCutOf(pairs, Seq(2, 4, 8, 16, 32)).orderBy(col("k"))
  }

  /** [[partitionEdgeCut]] over an explicit DISTINCT `(u, v)` edge frame
    * — property-tested on hand graphs where the cut is countable by
    * eye and fuzzed against a local recount. */
  private[graft] def partitionEdgeCutOf(pairs: DataFrame, ks: Seq[Int]): DataFrame = {
    import pairs.sparkSession.implicits._
    val kDf = ks.map(_.toLong).toDF("k")
    val nodes = pairs.select(col("u").as("n"))
      .union(pairs.select(col("v").as("n"))).distinct()
    val cuts = pairs.crossJoin(broadcast(kDf))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("u") % col("k") =!= col("v") % col("k"), 1L).otherwise(0L))
          .as("n_cut"))
    val parts = nodes.crossJoin(broadcast(kDf))
      .groupBy(col("k"), (col("n") % col("k")).as("part"))
      .agg(count(lit(1)).as("pn"))
      .groupBy(col("k"))
      .agg(max(col("pn")).as("max_part_nodes"),
        count(lit(1)).as("n_parts_nonempty"))
    cuts.join(parts, "k")
      .withColumn("cut_ppm", expr("(1000000 * n_cut) div n_edges"))
      .select(col("k"), col("n_edges"), col("n_cut"), col("cut_ppm"),
        col("max_part_nodes"), col("n_parts_nonempty"))
  }

  val partitionEdgeCutSql: String =
    """WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (2), (4), (8), (16), (32)) t(k)),
      |nodes AS (SELECT DISTINCT n FROM (
      |  SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs)),
      |cuts AS (
      |  SELECT k, count(*) AS n_edges,
      |    CAST(sum(CASE WHEN u % k <> v % k THEN 1 ELSE 0 END) AS BIGINT) AS n_cut
      |  FROM pairs CROSS JOIN ks GROUP BY k),
      |parts AS (
      |  SELECT k, CAST(max(pn) AS BIGINT) AS max_part_nodes,
      |    count(*) AS n_parts_nonempty
      |  FROM (SELECT k, n % k AS part, count(*) AS pn
      |        FROM nodes CROSS JOIN ks GROUP BY 1, 2)
      |  GROUP BY k)
      |SELECT cuts.k, n_edges, n_cut,
      |  CAST((1000000 * n_cut) // n_edges AS BIGINT) AS cut_ppm,
      |  max_part_nodes, n_parts_nonempty
      |FROM cuts JOIN parts ON parts.k = cuts.k
      |ORDER BY cuts.k""".stripMargin

  /** g52 — LANDMARK DISTANCE ORACLE (the ALT / landmark-embedding
    * index): distances from 4 landmark nodes to everything within
    * [[BfsMaxDist]] hops are precomputed ONCE (the g42 bounded
    * multi-source BFS — k landmarks ride one frame), and any pairwise
    * distance query is then answered from the index alone as
    * est(u, v) = min_l d(u, l) + d(l, v) — a triangle-inequality UPPER
    * bound, no per-query traversal. This is how 100 TB graphs serve
    * "how far apart are these two entities" interactively: the index
    * build is the only BFS, and a query is a k-row lookup join — here
    * materialised for the 10 lowest-id probe nodes' pairs, each with
    * its witness landmark (deterministic (sum, landmark) tie-break)
    * and the count of landmarks covering the pair. Pairs outside every
    * landmark's ball are honestly absent (no bound exists within the
    * hop cap). The spec pins est ≥ true distance (upper-bound
    * soundness) and exactness whenever a landmark sits ON a shortest
    * path. */
  def landmarkDistances(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    landmarkDistancesOf(pairs, nLandmarks = 4, nProbe = 10, maxDist = BfsMaxDist)
      .orderBy(col("u"), col("v"))
  }

  /** [[landmarkDistances]] over an explicit DISTINCT `(u, v)` edge
    * frame. */
  private[graft] def landmarkDistancesOf(pairs: DataFrame, nLandmarks: Int,
      nProbe: Int, maxDist: Int): DataFrame = {
    val edges = pairs.select(col("u"), col("v"))
      .union(pairs.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint() // static dim: BFS rounds reuse it
    val landmarks = edges.select(col("u").as("node")).distinct()
      .orderBy(col("node")).limit(nLandmarks)
    val probe = edges.select(col("u").as("node")).distinct()
      .orderBy(col("node")).limit(nProbe)
    // the index: (landmark, node, dist) — read twice by the pair probe
    val pv = bfsVisited(edges, landmarks, maxDist)
      .join(probe, Seq("node"))
      .select(col("seed").as("l"), col("node"), col("dist"))
      .localCheckpoint()
    pv.as("x").join(pv.as("y"),
        col("x.l") === col("y.l") && col("x.node") < col("y.node"))
      .select(col("x.node").as("u"), col("y.node").as("v"), col("x.l").as("l"),
        (col("x.dist") + col("y.dist")).cast("long").as("s"))
      .groupBy(col("u"), col("v"))
      .agg(min(struct(col("s"), col("l"))).as("m"),
        count(lit(1)).as("n_landmarks"))
      .select(col("u"), col("v"), col("m.s").as("est"),
        col("m.l").as("via_landmark"), col("n_landmarks"))
  }

  val landmarkDistancesSql: String = {
    val rounds = (1 to BfsMaxDist).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT DISTINCT f.seed, e.v AS node
         |  FROM f${k - 1} f JOIN e ON e.u = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} p
         |                    WHERE p.seed = f.seed AND p.node = e.v)),
         |v$k AS MATERIALIZED (SELECT * FROM v${k - 1}
         |        UNION ALL SELECT seed, node, $k AS dist FROM f$k)""".stripMargin
    }.mkString(",\n")
    val k = BfsMaxDist
    s"""WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |seeds AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 4),
      |v0 AS (SELECT node AS seed, node, 0 AS dist FROM seeds),
      |f0 AS (SELECT seed, node FROM v0),
      |$rounds,
      |probe AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 10),
      |pv AS (SELECT seed AS l, v$k.node, dist FROM v$k JOIN probe USING (node)),
      |cand AS (
      |  SELECT x.node AS u, y.node AS v, x.l AS l,
      |    CAST(x.dist + y.dist AS BIGINT) AS s
      |  FROM pv x JOIN pv y ON y.l = x.l AND x.node < y.node),
      |ranked AS (
      |  SELECT u, v, l, s,
      |    row_number() OVER (PARTITION BY u, v ORDER BY s ASC, l ASC) AS rn,
      |    count(*) OVER (PARTITION BY u, v) AS n_landmarks
      |  FROM cand)
      |SELECT u, v, s AS est, l AS via_landmark,
      |  CAST(n_landmarks AS BIGINT) AS n_landmarks
      |FROM ranked WHERE rn = 1 ORDER BY u, v""".stripMargin
  }

  /** g53 — the chemicals_and_diseases notebook's OpenTargets rollup
    * (`notebooks/chemicals_and_diseases.ipynb`, cells 2-3): a 3-hop
    * MIXED-DIRECTION chain
    * `(chemical)-[:biolink:affects]->(gene)<-[:otar:targetId]-(evidence)
    *  -[:otar:diseaseId]->(disease)` with a MID-CHAIN float threshold on
    * the evidence binding (`toFloat(evidence.otar:score[0]) >= 0.9`) and
    * the per-(chemical, disease) rollup
    * `collect(DISTINCT gene) / count(DISTINCT gene) / avg(score)` — the
    * one reference workload shape no gate composed until now
    * (g48 = chain, g14 = score cast; neither = threshold-on-intermediate
    * + DISTINCT-collect of a MIDDLE binding).
    *
    * TPC-H graph fixture: chemicals = MACHINERY customers with
    * `c_custkey % 20 = 3` (the notebook's 4-id seed list generalised);
    * genes = parts, `biolink:affects` = distinct customer→part purchase
    * pairs (orders⋈lineitem), with the SAME pairs re-typed
    * `biolink:other_rel` at partkey+1 pinning the hop-1 type filter;
    * evidence = distinct lineitem (orderkey, linenumber, partkey,
    * suppkey) tuples (the first two alone are NOT unique here) whose
    * `otar:score` string is `0.<centi>` with
    * centi = (l_orderkey·31 + l_linenumber·7) % 100 — two-decimal
    * strings so the `>= 0.9` parse-and-compare is exact in both engines;
    * diseases = suppliers. Direction decoys: a REVERSED
    * `otar:targetId` edge (part+1 → evidence) that only a wrongly-"out"
    * hop 2 can see, and a reversed `otar:diseaseId` (supplier+1 →
    * evidence) that only a wrongly-"in" hop 3 can see. The rollup emits
    * the gene list as a '|'-joined sorted-distinct string and avg_score
    * as ONE IEEE division of exact integers (Σcenti / (100·n)) so the
    * float column hashes identically across engines regardless of
    * summation order. Scale shape: three vertex-id equi-joins + one
    * map-combinable grouped aggregate; the seed set prunes hop 1 before
    * anything wide happens. */
  /** g53/st53 shared evidence universe: DISTINCT (orderkey, linenumber,
    * partkey, suppkey) tuples — (orderkey, linenumber) alone is NOT
    * unique in the synthetic data (11,785 duplicate pairs at sf0.01), so
    * the node id carries the full tuple to stay collision-free at every
    * SF. The `*Shift` columns feed the batch gate's direction decoys. */
  private[graft] def otarEvidence(li0: DataFrame): DataFrame =
    li0
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .distinct()
      .select(
        concat(lit("e:"), graft.core.Pad.col9(col("l_orderkey")), lit(":"),
          col("l_linenumber").cast("string"), lit(":"),
          graft.core.Pad.col9(col("l_partkey")), lit(":"),
          graft.core.Pad.col9(col("l_suppkey"))).as("ev"),
        node("p:", col("l_partkey")).as("gene"),
        node("p:", col("l_partkey") + 1).as("geneShift"),
        node("s:", col("l_suppkey")).as("disease"),
        node("s:", col("l_suppkey") + 1).as("diseaseShift"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100).cast("long").as("centi"))

  /** g53/st53 shared chem→gene purchase pairs (orders is the static
    * order→customer dimension; `li0` is the lineitem slice in play). */
  private[graft] def otarAffects(s: SparkSession, d: String, li0: DataFrame): DataFrame =
    Tables.orders(s, d)
      .join(li0, col("o_orderkey") === col("l_orderkey"))
      .select(node("c:", col("o_custkey")).as("chem"),
        node("p:", col("l_partkey")).as("gene"),
        node("p:", col("l_partkey") + 1).as("geneShift"))
      .distinct()

  /** g53/st53 shared seed chemicals (the notebook's 4-id list
    * generalised) with their names. */
  private[graft] def otarChems(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .where(col("c_mktsegment") === "MACHINERY" && col("c_custkey") % 20 === 3)
      .select(node("c:", col("c_custkey")).as("chemical"), col("c_name").as("chem_nm"))

  def chemDiseases(s: SparkSession, d: String): DataFrame = {
    val li = otarEvidence(Tables.lineitem(s, d))
    val affects = otarAffects(s, d, Tables.lineitem(s, d))
    val edge = (f: Column, t: Column, et: String) =>
      f.as("fromNodeId") :: t.as("toNodeId") :: lit(et).as("edgeType") :: Nil
    val edges = affects.select(edge(col("chem"), col("gene"), "biolink:affects"): _*)
      .union(affects.select(edge(col("chem"), col("geneShift"), "biolink:other_rel"): _*))
      .union(li.select(edge(col("ev"), col("gene"), "otar:targetId"): _*))
      .union(li.select(edge(col("geneShift"), col("ev"), "otar:targetId"): _*))
      .union(li.select(edge(col("ev"), col("disease"), "otar:diseaseId"): _*))
      .union(li.select(edge(col("diseaseShift"), col("ev"), "otar:diseaseId"): _*))
    val chems = otarChems(s, d)
    // evidence property recovery feed: the '0.xy' score string plus its
    // exact integer centi twin (the avg is computed from the integers)
    val evScore = li.select(col("ev").as("evidence"),
      concat(lit("0."), lpad(col("centi").cast("string"), 2, "0")).as("score_str"),
      col("centi"))
    val names = Tables.part(s, d)
      .select(node("p:", col("p_partkey")).as("gene"), col("p_name").as("gene_nm"))
    val diseaseNames = Tables.supplier(s, d)
      .select(node("s:", col("s_suppkey")).as("disease"), col("s_name").as("disease_nm"))
    otarRollup(edges, chems, evScore, names, diseaseNames)
  }

  /** The chemicals_and_diseases composition itself, fixture-independent
    * (spec-driven on hand graphs): matchChain over the 3 mixed-direction
    * hops, evidence-score recovery join, the notebook's
    * `toFloat(score[0]) >= 0.9` mid-chain threshold, then the
    * per-(chemical, disease) DISTINCT-collect rollup. `chems` needs
    * (chemical, chem_nm); `evScore` (evidence, score_str, centi);
    * `geneNames` (gene, gene_nm); `diseaseNames` (disease, disease_nm). */
  private[graft] def otarRollup(edges: DataFrame, chems: DataFrame,
      evScore: DataFrame, geneNames: DataFrame,
      diseaseNames: DataFrame): DataFrame = {
    import graft.query.Query.Hop
    val noTypes = chems.select(col("chemical").as("nodeId"),
      lit("x").as("nodeType")).limit(0)
    val paths = Query.matchChain(edges, noTypes,
      chems.select(col("chemical")), "chemical", Seq(
        Hop(Seq("biolink:affects"), "out", "gene"),
        Hop(Seq("otar:targetId"), "in", "evidence"),
        Hop(Seq("otar:diseaseId"), "out", "disease")))
    paths.join(evScore, "evidence")
      .where(col("score_str").cast("double") >= 0.9)
      .join(geneNames, "gene").join(diseaseNames, "disease")
      .join(chems, "chemical")
      .groupBy(col("chem_nm").as("chemical"), col("disease_nm").as("disease_name"))
      .agg(
        array_join(sort_array(collect_set(col("gene_nm"))), "|").as("genes"),
        countDistinct(col("gene")).as("num_genes"),
        (sum(col("centi")).cast("double") / (count(lit(1)) * 100.0)).as("avg_score"))
      .select(col("chemical"), col("disease_name").as("disease"),
        col("genes"), col("num_genes"), col("avg_score"))
      .orderBy(col("chemical"), col("disease"))
  }

  val chemDiseasesSql: String =
    s"""WITH li AS (
      |  SELECT l_partkey, l_suppkey,
      |    (l_orderkey * 31 + l_linenumber * 7) % 100 AS centi
      |  FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey, l_suppkey
      |        FROM lineitem)),
      |chem AS (
      |  SELECT c_custkey, c_name FROM customer
      |  WHERE c_mktsegment = 'MACHINERY' AND c_custkey % 20 = 3),
      |affects AS (
      |  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |paths AS (
      |  SELECT ch.c_name AS chemical, p.p_name AS gene_nm, li.l_partkey AS gene_key,
      |    s.s_name AS disease, li.centi
      |  FROM chem ch
      |  JOIN affects a ON a.ck = ch.c_custkey
      |  JOIN li ON li.l_partkey = a.pk
      |  JOIN part p ON p.p_partkey = li.l_partkey
      |  JOIN supplier s ON s.s_suppkey = li.l_suppkey
      |  WHERE CAST('0.' || lpad(CAST(li.centi AS VARCHAR), 2, '0') AS DOUBLE) >= 0.9)
      |SELECT chemical, disease,
      |  string_agg(DISTINCT gene_nm, '|' ORDER BY gene_nm) AS genes,
      |  CAST(count(DISTINCT gene_key) AS BIGINT) AS num_genes,
      |  CAST(sum(centi) AS DOUBLE) / (count(*) * 100.0) AS avg_score
      |FROM paths GROUP BY chemical, disease
      |ORDER BY chemical, disease""".stripMargin

  /** g54 — TIME-RESPECTING (TEMPORAL) REACHABILITY: foremost-arrival
    * traversal over a contact network — a hop may only use an edge dated
    * NO EARLIER than the arrival at its source, and the arrival at the
    * target is the edge's own date (the epidemic/influence/provenance
    * reachability semantics; Holme & Saramäki's temporal-network
    * "foremost journey"). Static reachability (g10/g42) overstates
    * influence on any time-stamped graph because it happily walks
    * backwards in time; this gate pins the restriction.
    *
    * Fixture: the bipartite purchase contact network — customer↔part
    * edges dated by o_orderdate (distinct (c, p, date) triples, both
    * directions); seeds are `c_custkey % 100 = 1` customers, each
    * starting at their OWN first purchase date. Exactly [[TemporalRounds]]
    * relaxation rounds, mirrored 1:1 by the oracle's unrolled
    * MATERIALIZED CTE chain (the bounded-round-oracle rule: engine
    * rounds == oracle unroll, min-merged identically), so ≤3-hop
    * foremost arrivals are exact on both engines. Scale shape: each
    * round is ONE equi-join on the frontier's node id with a residual
    * date comparison, min-merged per (seed, node) — semi-naive (settled
    * nodes stop shuffling), loop-carried state through the stats-clamped
    * Iterate.save; arrival timestamps are min-mergeable so rounds are
    * map-combinable. */
  private[graft] val TemporalRounds = 3

  def temporalReachability(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(node("c:", col("o_custkey")).as("c"),
        node("p:", col("l_partkey")).as("p"), col("o_orderdate").as("dt"))
      .distinct()
    val edges = e0.select(col("c").as("from"), col("p").as("to"), col("dt"))
      .union(e0.select(col("p").as("from"), col("c").as("to"), col("dt")))
      .localCheckpoint() // static contact set, probed every round
    val seeds = Tables.orders(s, d).where(col("o_custkey") % 100 === 1)
      .groupBy(col("o_custkey")).agg(min(col("o_orderdate")).as("arr"))
      .select(node("c:", col("o_custkey")).as("seed"),
        node("c:", col("o_custkey")).as("node"), col("arr"))
    temporalReachabilityOf(edges, seeds, TemporalRounds)
      .orderBy(col("seed"), col("node"))
  }

  /** The bounded foremost-arrival relaxation over explicit
    * (from, to, dt) contact edges and (seed, node, arr) starts —
    * factored so the spec can pin the time-respecting restriction on a
    * hand graph. Exactly `rounds` semi-naive rounds (== the oracle's
    * unroll). */
  private[graft] def temporalReachabilityOf(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    var dist = seeds.localCheckpoint()
    var frontier = dist
    for (r <- 1 to rounds) {
      val cand = frontier
        .join(edges, frontier("node") === edges("from") && edges("dt") >= frontier("arr"))
        .select(col("seed"), col("to").as("node"), col("dt").as("a2"))
        .groupBy(col("seed"), col("node")).agg(min(col("a2")).as("a2"))
      val improved = graft.core.Iterate.save(
        cand.join(dist, Seq("seed", "node"), "left")
          .where(col("arr").isNull || col("a2") < col("arr"))
          .select(col("seed"), col("node"), col("a2").as("arr")), 0, r)
      dist = graft.core.Iterate.save(
        dist.join(improved, Seq("seed", "node"), "left_anti").union(improved), 0, r)
      frontier = improved
    }
    dist
  }

  val temporalReachabilitySql: String = {
    def round(i: Int, prev: String): String =
      s"""d$i AS MATERIALIZED (
         |  SELECT seed, node, min(arr) AS arr FROM (
         |    SELECT seed, node, arr FROM $prev
         |    UNION ALL
         |    SELECT d.seed, ee.t AS node, ee.dt AS arr
         |    FROM $prev d JOIN ee ON ee.f = d.node AND ee.dt >= d.arr)
         |  GROUP BY seed, node)""".stripMargin
    s"""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT 'c:' || ${sqlPad("o_custkey")} AS c,
      |    'p:' || ${sqlPad("l_partkey")} AS p, o_orderdate AS dt
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |ee AS MATERIALIZED (
      |  SELECT c AS f, p AS t, dt FROM e
      |  UNION ALL SELECT p, c, dt FROM e),
      |d0 AS (
      |  SELECT 'c:' || ${sqlPad("o_custkey")} AS seed,
      |    'c:' || ${sqlPad("o_custkey")} AS node, min(o_orderdate) AS arr
      |  FROM orders WHERE o_custkey % 100 = 1 GROUP BY 1, 2),
      |${round(1, "d0")},
      |${round(2, "d1")},
      |${round(3, "d2")}
      |SELECT seed, node, arr FROM d3 ORDER BY seed, node""".stripMargin
  }

  override val defs: ListMap[String, QueryDef] = ListMap(
    "g5_edge_materialise" -> QueryDef(edgeMaterialise, Some(edgeMaterialiseSql), bench = true, deep = true),
    "k3_id_csvs"          -> QueryDef(idCsvs, Some(idCsvsSql)),
    "g6_display_type"     -> QueryDef(displayType, Some(displayTypeSql)),
    "g7_edge_summary"     -> QueryDef(edgeSummary, Some(edgeSummarySql)),
    "g8_search_docs"      -> QueryDef(searchDocs, Some(searchDocsSql)),
    "g9_facet_docs"       -> QueryDef(facetDocs, Some(facetDocsSql)),
    "g10_traversal"       -> QueryDef(traversal, Some(traversalSql)),
    "g16_traversal_filtered" -> QueryDef(traversalFiltered, Some(traversalFilteredSql)),
    "g11_autocomplete"    -> QueryDef(autocompleteNames, Some(autocompleteNamesSql)),
    "g12_refs"            -> QueryDef(refsExploded, Some(refsExplodedSql)),
    "g13_edge_listing"    -> QueryDef(edgeListing, Some(edgeListingSql)),
    "g15_ic_scores"       -> QueryDef(icScores, Some(icScoresSql)),
    "g17_weighted_paths"  -> QueryDef(weightedPaths, Some(weightedPathsSql)),
    "g21_closeness" -> QueryDef(closeness, Some(closenessSql)),
    "g22_harmonic"  -> QueryDef(harmonic, Some(harmonicSql)),
    "g18_pagerank"        -> QueryDef(pageRank, Some(pageRankSql), bench = true, deep = true),
    "g19_triangles"       -> QueryDef(triangles, Some(trianglesSql)),
    "g20_node_similarity" -> QueryDef(nodeSimilarity, Some(nodeSimilaritySql)),
    "g23_label_propagation" -> QueryDef(labelPropagation, Some(labelPropagationSql)),
    "g24_betweenness"     -> QueryDef(betweenness, Some(betweennessSql)),
    "g25_kcore"           -> QueryDef(kCore, Some(kCoreSql)),
    "g26_kcore_sweep"     -> QueryDef(kCoreSweep, Some(kCoreSweepSql)),
    "g27_link_prediction" -> QueryDef(linkPrediction, Some(linkPredictionSql)),
    "g28_personalized_pagerank" -> QueryDef(personalizedPageRank, Some(personalizedPageRankSql)),
    "g29_weighted_ppr" -> QueryDef(weightedPersonalizedPageRank, Some(weightedPersonalizedPageRankSql)),
    "g30_ktruss"       -> QueryDef(kTruss, Some(kTrussSql)),
    "g31_ktruss_sweep" -> QueryDef(kTrussSweep, Some(kTrussSweepSql)),
    "g32_triangles_sampled" -> QueryDef(trianglesSampled, Some(trianglesSampledSql)),
    "g33_weighted_lpa" -> QueryDef(weightedLabelPropagation, Some(weightedLabelPropagationSql)),
    "g34_coreness"     -> QueryDef(corenessHIndex, Some(corenessHIndexSql)),
    "g35_weighted_kcore" -> QueryDef(sCore, Some(sCoreSql)),
    "g36_aggr_count_cube" -> QueryDef(aggrCountCube, Some(aggrCountCubeSql)),
    "g37_local_clustering" -> QueryDef(localClusteringCoeff, Some(localClusteringCoeffSql)),
    "k10_graphml_export" -> QueryDef(graphmlExport, Some(graphmlExportSql)),
    "k11_manifest_publish" -> QueryDef(manifestPublish, Some(manifestPublishSql)),
    "g38_random_walks" -> QueryDef(randomWalks, Some(randomWalksSql)),
    "g39_assortativity" -> QueryDef(assortativity, Some(assortativitySql)),
    "g40_degree_spectrum" -> QueryDef(degreeSpectrum, Some(degreeSpectrumSql)),
    "g41_rich_club" -> QueryDef(richClub, Some(richClubSql)),
    "g42_bfs_layers" -> QueryDef(bfsLayers, Some(bfsLayersSql)),
    "g43_katz_walks" -> QueryDef(katzWalks, Some(katzWalksSql)),
    "g44_edge_embeddedness" -> QueryDef(edgeEmbeddedness, Some(edgeEmbeddednessSql)),
    "g45_bounded_sssp" -> QueryDef(boundedSssp, Some(boundedSsspSql)),
    "g46_triad_census" -> QueryDef(triadCensus, Some(triadCensusSql)),
    "g47_modularity" -> QueryDef(modularity, Some(modularitySql)),
    "g48_gwas_chain" -> QueryDef(gwasChain, Some(gwasChainSql)),
    "g49_pseudo_diameter" -> QueryDef(pseudoDiameter, Some(pseudoDiameterSql)),
    "g50_bipartite_check" -> QueryDef(bipartiteCheck, Some(bipartiteCheckSql)),
    "g51_partition_edgecut" -> QueryDef(partitionEdgeCut, Some(partitionEdgeCutSql)),
    "g52_landmark_distances" -> QueryDef(landmarkDistances, Some(landmarkDistancesSql)),
    "g53_chem_diseases" -> QueryDef(chemDiseases, Some(chemDiseasesSql)),
    "g54_temporal_reachability" -> QueryDef(temporalReachability, Some(temporalReachabilitySql)),
    "g55_hits" -> QueryDef(hitsScores, Some(hitsScoresSql)),
    "g57_mutual_reachability" -> QueryDef(mutualReachability, Some(mutualReachabilitySql)),
    "g58_scc_labels" -> QueryDef(sccLabels, Some(sccLabelsSql)),
  )
}
