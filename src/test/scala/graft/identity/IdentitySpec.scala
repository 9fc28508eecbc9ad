package graft.identity

import graft.SparkSpec

class IdentitySpec extends SparkSpec {

  test("connected components: transitive merge across rows") {
    import spark.implicits._
    // A↔B in one record, B↔C in another ⇒ one clique
    // (`grebi_identifiers2groups/src/main.rs:86-104`)
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val cc = ConnectedComponents.run(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("connected components: long chain converges") {
    import spark.implicits._
    val edges = (1 until 12).map(i => (s"v${"%02d".format(i)}", s"v${"%02d".format(i + 1)}"))
      .toDF("src", "dst")
    val cc = ConnectedComponents.run(edges).collect()
    assert(cc.length == 12)
    assert(cc.forall(_.getString(1) == "v01"))
  }

  test("connected components: a 200-deep chain is one component") {
    import spark.implicits._
    // plain neighbour propagation would need ~200 rounds; large-star /
    // small-star runs until no parent moves, with no round cap
    val edges = (1 until 200).map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("src", "dst")
    val cc = ConnectedComponents.run(edges).collect()
    assert(cc.length == 200)
    assert(cc.forall(_.getString(1) == "v001"))
  }

  test("connected components: a 200-id path in random id order is one component") {
    import spark.implicits._
    // min-label propagation with pointer jumping needs over 50 rounds for
    // this path, and a 50-round cap returned it as three components
    val ids = new scala.util.Random(1).shuffle((1 to 200).map(i => f"v$i%03d"))
    val edges = ids.zip(ids.tail).toDF("src", "dst")
    val cc = ConnectedComponents.run(edges).collect()
    assert(cc.length == 200)
    assert(cc.forall(_.getString(1) == "v001"))
  }

  test("connected components: reliable checkpointing yields identical labels") {
    import spark.implicits._
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("cc_ckpt").toString)
    try {
      val edges = (1 until 60).map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("src", "dst")
      val reliable = ConnectedComponents.run(edges, reliableEvery = 2)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val local = ConnectedComponents.run(edges)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(reliable === local)
      assert(reliable.forall(_._2 == "v001"))
    } finally prev.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("groups: canonical picked by id score, numeric ids dropped") {
    import spark.implicits._
    val idSets = Seq(
      Seq("mondo:0005044", "EFO-0000537"),      // curie beats non-curie
      Seq("rdfs:label", "grebi:name"),          // grebi:* beats curie
      Seq("12345", "mgi:97490")                 // numeric dropped
    ).toDF("ids")
    val groups = Groups.fromIdSets(idSets)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(groups("mondo:0005044") == "mondo:0005044")
    assert(groups("EFO-0000537") == "mondo:0005044")
    assert(groups("rdfs:label") == "grebi:name")
    assert(groups.get("12345").isEmpty)
    assert(groups("mgi:97490") == "mgi:97490")
  }

  test("groups: two-phase salted pick ≡ window pick (incl. a hot component)") {
    import spark.implicits._
    // one 60-member mega-clique (hub co-asserted everywhere) + 2-member
    // cliques + a seeded tier clique — the salted pick must produce the
    // exact (member → canonical) map of the window pick on all of them
    val hub = (0 until 60).map(i => Seq(f"m:$i%04d", "hub:0000"))
    val cold = (0 until 40).map(i => Seq(f"a:$i%04d", f"b:$i%04d"))
    val tiers = Seq(Seq("rdfs:label", "grebi:name"), Seq("mondo:0005044", "EFO-0000537"))
    val idSets = (hub ++ cold ++ tiers).toDF("ids")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val window = m(Groups.fromIdSets(idSets))
    val salted = m(Groups.fromIdSets(idSets, saltBuckets = 7))
    assert(salted == window)
    assert(window.values.count(_ == window("hub:0000")) == 61, "mega-clique intact")
  }

  test("Catalyst mirrors agree with the Scala id semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a diverse deterministic corpus hitting every scoring branch:
    // grebi:/biolink: tiers, curie-like, IRIs, numerics, UUID-length,
    // mixed alphabetics, empty-ish strings
    val ids = Seq(
      "grebi:name", "biolink:Gene", "mondo:0005044", "efo:0000537",
      "http://purl.obolibrary.org/obo/MONDO_0005044", "https://x.org/a:b",
      "httpx:99", "12345", "1234567890123456", "0:0", "abc", "ABC:def",
      "a:", ":b", "c:000000001", "alt:000000001", "x" * 40, "9" * 40,
      "some random string", "GRE-not-grebi:1", "grebi:", "biolink:")
    val df = ids.toDF("id").select(
      col("id"),
      graft.identity.Groups.idScoreCol(col("id")).as("score"),
      graft.identity.Groups.isValidIdCol(col("id")).as("valid"))
    df.collect().foreach { r =>
      val id = r.getString(0)
      assert(r.getInt(1) == graft.curie.Ids.idScore(id),
        s"idScore mirror diverges for '$id'")
      assert(r.getBoolean(2) == graft.curie.Ids.isValidId(id),
        s"isValidId mirror diverges for '$id'")
    }
  }
}
