package graft.merge

import graft.core.Json
import graft.identity.AssignedNode
import graft.model.{MergedNode, PropValue}
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.mutable

/** A1 — the n-way entity merge (`03_merge/grebi_merge/src/main.rs:163-380`).
  *
  * The reference implements this as a k-way sort-merge over pre-sorted
  * files on a single 16 GB node (`:84-150`). Spark-first restatement: one
  * `groupByKey(nodeId)` with a typed [[Aggregator]] — a single shuffle with
  * map-side partial aggregation (each map task pre-merges its fragment of a
  * node, so shuffle volume is per-(key,value) assertions, not raw records).
  * Semantics preserved:
  *   - datasources / sourceIds: union, sorted, deduped (`:214-218`);
  *   - props grouped by (key, value, qualifiers) with the asserting
  *     datasources + sourceIds collected per value (`:259-282,287-373`);
  *   - (datasource, key, value) dedup;
  *   - deterministic ordering: values sorted by (value, kind) (O5 `:259-275`);
  *   - excluded props dropped (P4 `:52,203`);
  *   - entities with no `grebi:type` dropped (P5 `:173-193`).
  */
object Merge {

  type AssertKey = (String, String, String, String) // key, value, kind, qualifiersJson

  // NOTE: buffers use HashSet, not TreeSet — the Kryo buffer encoder does
  // not faithfully round-trip sorted collections. All ordering guarantees
  // are applied once, in finish().
  final class MergeBuf extends Serializable {
    val datasources = mutable.HashSet.empty[String]
    val sourceIds = mutable.HashSet.empty[String]
    var subgraph: String = ""
    val asserts = mutable.HashMap.empty[AssertKey, (mutable.HashSet[String], mutable.HashSet[String])]
    val quals = mutable.HashMap.empty[String, Map[String, Seq[String]]]
  }

  final class MergeAgg(excludeProps: Set[String])
      extends Aggregator[AssignedNode, MergeBuf, MergedNode] {

    override def zero: MergeBuf = new MergeBuf

    override def reduce(b: MergeBuf, n: AssignedNode): MergeBuf = {
      // per-record datasource override via a `grebi:datasource` property
      // (`03_merge/grebi_merge/src/parse_entity.rs:53-56`)
      val dsName = n.props.get("grebi:datasource")
        .flatMap(_.headOption).map(_.value).getOrElse(n.datasource)
      b.datasources += dsName
      b.sourceIds ++= n.sourceIds
      if (b.subgraph.isEmpty) b.subgraph = n.subgraph
      n.props.foreach { case (k, vs) =>
        if (!excludeProps.contains(k) && k != "grebi:datasource") vs.foreach { v =>
          val qj = if (v.qualifiers.isEmpty) "" else Json.strMap(v.qualifiers)
          if (qj.nonEmpty) b.quals.getOrElseUpdate(qj, v.qualifiers)
          val (ds, sids) = b.asserts.getOrElseUpdate(
            (k, v.value, v.kind, qj),
            (mutable.HashSet.empty[String], mutable.HashSet.empty[String]))
          ds += dsName
          sids ++= n.sourceIds
        }
      }
      b
    }

    override def merge(a: MergeBuf, b: MergeBuf): MergeBuf = {
      a.datasources ++= b.datasources
      a.sourceIds ++= b.sourceIds
      if (a.subgraph.isEmpty) a.subgraph = b.subgraph
      b.quals.foreach { case (k, v) => a.quals.getOrElseUpdate(k, v) }
      b.asserts.foreach { case (k, (ds, sids)) =>
        val (ads, asids) = a.asserts.getOrElseUpdate(k,
          (mutable.HashSet.empty[String], mutable.HashSet.empty[String]))
        ads ++= ds
        asids ++= sids
      }
      a
    }

    override def finish(b: MergeBuf): MergedNode = {
      // UTF-8 byte order, the order Catalyst's string sorts use (Java
      // String order would invert supplementary characters)
      implicit val byteOrder: Ordering[String] = Json.utf8Ordering
      val props = b.asserts.toSeq
        .sortBy { case ((k, v, kind, qj), _) => (k, v, kind, qj) }
        .map { case ((k, v, kind, qj), (ds, sids)) =>
          k -> PropValue(v, kind, ds.toSeq.sorted, sids.toSeq.sorted,
            if (qj.isEmpty) Map.empty[String, Seq[String]] else b.quals(qj))
        }
        .groupBy(_._1)
        .map { case (k, kvs) => k -> kvs.map(_._2) }
      MergedNode("", b.datasources.toSeq.sorted, b.sourceIds.toSeq.sorted, b.subgraph, props)
    }

    override def bufferEncoder: Encoder[MergeBuf] = Encoders.kryo[MergeBuf]
    override def outputEncoder: Encoder[MergedNode] =
      Encoders.product[MergedNode]
  }

  /** The merge: one `groupByKey(nodeId)` shuffle with map-side combine;
    * partial buffers round-trip through Kryo on shuffle.
    *
    * Round 17 A/B'd two built-in restatements against this aggregator
    * (a three-shuffle columnar merge and a single-exchange one with no
    * object spans). Both lost, interleaved min-of-5 at sf0.1 (g4
    * 1.45/1.53 vs 2.89/4.24 s, g14 8.35/8.38 vs 10.14/10.24 s), and the
    * single exchange shuffled MORE bytes (g4 1.9 → 2.6 MB, g14 24.1 →
    * 26.9 MB): the Kryo partial buffers are combined map-side before the
    * exchange, so what this plan ships scales with distinct (node,
    * assertion) groups, not raw rows. TUNING.md "Closed A/Bs — deleted"
    * names the commit to recover them from. */
  def apply(spark: SparkSession, nodes: Dataset[AssignedNode],
            excludeProps: Set[String] = Set.empty,
            dropUntyped: Boolean = true): Dataset[MergedNode] = {
    import spark.implicits._
    val merged = nodes.groupByKey(_.nodeId)
      .agg(new MergeAgg(excludeProps).toColumn.name("node"))
      .map { case (nodeId, node) => node.copy(nodeId = nodeId) }
    if (dropUntyped) merged.filter(_.props.contains("grebi:type")) else merged
  }
}
