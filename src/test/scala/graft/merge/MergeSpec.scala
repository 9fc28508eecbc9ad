package graft.merge

import graft.SparkSpec
import graft.identity.{AssignIds, AssignedNode}
import graft.model.{IngestNode, RawValue}

class MergeSpec extends SparkSpec {

  // FIXTURES.md §2.3 shape: same entity asserted by two datasources under
  // equivalent ids; one no-type stub; one excluded prop.
  def fixtureNodes: Seq[IngestNode] = Seq(
    IngestNode(Seq("mondo:0005044"), "DSA", "fixture", Seq("biolink:Disease"),
      Map("grebi:name" -> Seq(RawValue.str("type 2 diabetes mellitus")),
          "junk:prop" -> Seq(RawValue.str("drop me")))),
    IngestNode(Seq("efo:0000537"), "DSB", "fixture", Nil,
      Map("grebi:name" -> Seq(RawValue.str("type 2 diabetes mellitus")),
          "skos:exactMatch" -> Seq(RawValue.reified("icd10:E11",
            Map("confidence" -> Seq("0.99")))))),
    IngestNode(Seq("untyped:1"), "DSB", "fixture", Nil,
      Map("grebi:name" -> Seq(RawValue.str("stub with no type")))))

  val groups = Map(
    "mondo:0005044" -> "mondo:0005044",
    "efo:0000537" -> "mondo:0005044",
    "untyped:1" -> "untyped:1")

  test("assign ids: clique members key to the canonical id") {
    import spark.implicits._
    val assigned = AssignIds(spark, fixtureNodes.toDS(), groups).collect()
    assert(assigned.count(_.nodeId == "mondo:0005044") == 2)
    assert(assigned.find(_.datasource == "DSA").get.sourceIds == Seq("mondo:0005044"))
  }

  test("merge: provenance union, dedup, exclude, no-type drop, ordering") {
    import spark.implicits._
    val assigned = AssignIds(spark, fixtureNodes.toDS(), groups)
    val merged = Merge(spark, assigned, excludeProps = Set("junk:prop")).collect()

    // untyped stub dropped (P5)
    assert(merged.length == 1)
    val m = merged.head
    assert(m.nodeId == "mondo:0005044")
    assert(m.datasources == Seq("DSA", "DSB"))
    assert(m.sourceIds == Seq("efo:0000537", "mondo:0005044"))

    // same (key,value) from two datasources → ONE value with both datasources
    val names = m.props("grebi:name")
    assert(names.length == 1)
    assert(names.head.value == "type 2 diabetes mellitus")
    assert(names.head.datasources == Seq("DSA", "DSB"))

    // excluded prop gone (P4)
    assert(!m.props.contains("junk:prop"))

    // reified value survives with qualifiers
    val mapped = m.props("skos:exactMatch").head
    assert(mapped.value == "icd10:E11")
    assert(mapped.qualifiers == Map("confidence" -> Seq("0.99")))

    // type merged into props
    assert(m.props("grebi:type").map(_.value) == Seq("biolink:Disease"))
  }

  test("merge: per-record datasource override via grebi:datasource prop") {
    import spark.implicits._
    val nodes = Seq(
      IngestNode(Seq("x:1"), "wrapper", "fx", Seq("t"),
        Map("grebi:datasource" -> Seq(RawValue.str("realDS")),
            "p" -> Seq(RawValue.str("v"))))).toDS()
    val merged = Merge(spark, AssignIds(spark, nodes, Map("x:1" -> "x:1"))).collect().head
    assert(merged.datasources == Seq("realDS"))
    assert(merged.props("p").head.datasources == Seq("realDS"))
    assert(!merged.props.contains("grebi:datasource"))
  }

  test("merge: excluded-only and empty-values records keep record provenance") {
    import spark.implicits._
    // record 2's only prop is excluded; record 3 has a key with an EMPTY
    // value list — both must still union their datasource/sourceIds into
    // the record-level provenance, and the empty-values key must NOT
    // appear in props
    val nodes = Seq(
      IngestNode(Seq("x:1"), "DSA", "fx", Seq("t"), Map("p" -> Seq(RawValue.str("v")))),
      IngestNode(Seq("x:1"), "DSB", "fx", Nil, Map("junk:prop" -> Seq(RawValue.str("z")))),
      IngestNode(Seq("x:1"), "DSC", "fx", Nil, Map("emptykey" -> Seq.empty[RawValue]))).toDS()
    val assigned = AssignIds(spark, nodes, Map("x:1" -> "x:1"))
    val merged = Merge(spark, assigned, excludeProps = Set("junk:prop")).collect()
    assert(merged.length == 1)
    val m = merged.head
    assert(m.datasources == Seq("DSA", "DSB", "DSC"))
    assert(m.sourceIds == Seq("x:1"))
    assert(!m.props.contains("emptykey"))
    assert(!m.props.contains("junk:prop"))
    assert(m.props("p").map(v => (v.value, v.datasources)) == Seq("v" -> Seq("DSA")))
  }

  test("merge: value order on qualifier ties and empty-qualifier keys") {
    import spark.implicits._
    // same (value, kind) under two different qualifier sets plus one
    // empty-qualifier assertion: values sort by (value, kind,
    // qualifiersJson) with "" for empty, so the empty-qualifier value
    // comes FIRST and the qualified ones follow in qualifier order
    val nodes = Seq(
      IngestNode(Seq("x:1"), "DSA", "fx", Seq("t"),
        Map("m" -> Seq(
          RawValue.reified("same", Map("q" -> Seq("b"))),
          RawValue.str("same"),
          RawValue.reified("same", Map("q" -> Seq("a"))))))).toDS()
    val assigned = AssignIds(spark, nodes, Map("x:1" -> "x:1"))
    val m = Merge(spark, assigned).collect().head.props("m")
    assert(m.map(_.value) == Seq("same", "same", "same"))
    assert(m.map(_.qualifiers) == Seq(
      Map.empty[String, Seq[String]], Map("q" -> Seq("a")), Map("q" -> Seq("b"))))
    assert(m.forall(_.datasources == Seq("DSA")))
  }

  test("merge: values deterministically sorted within a property") {
    import spark.implicits._
    val nodes = Seq(
      IngestNode(Seq("x:1"), "DSA", "fx", Seq("t"),
        Map("syn" -> Seq(RawValue.str("zeta"), RawValue.str("alpha")))),
      IngestNode(Seq("x:1"), "DSB", "fx", Nil,
        Map("syn" -> Seq(RawValue.str("midway"))))).toDS()
    val merged = Merge(spark, AssignIds(spark, nodes, Map("x:1" -> "x:1"))).collect().head
    assert(merged.props("syn").map(_.value) == Seq("alpha", "midway", "zeta"))
  }
}
