package graft.pipeline

import graft.SparkSpec
import graft.model.{IngestNode, RawValue}

/** The incremental-build invariant: update(A); update(B) ≡ run(A ∪ B),
  * including clique merges ACROSS updates, and clean cliques are not
  * rewritten. */
@graft.DeepTest
class IncrementalBuildSpec extends SparkSpec {

  private def mk(ids: Seq[String], ds: String, types: Seq[String],
                 props: (String, String)*): IngestNode =
    IngestNode(ids, ds, "raw", types,
      props.groupBy(_._1).map { case (k, vs) => k -> vs.map(v => RawValue.str(v._2)) })

  private def flat(nodes: Seq[graft.model.MergedNode]) =
    nodes.flatMap(m => m.props.toSeq.flatMap { case (k, vs) =>
      vs.map(v => (m.nodeId, k, v.value, v.datasources.sorted, m.datasources.sorted))
    }).sortBy(t => (t._1, t._2, t._3))

  test("two updates equal one batch build; cross-update clique merge + tombstone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc_spec").toString
    val config = SubgraphConfig(name = "fx")

    // update 1: two separate cliques {a:1,b:1} and {c:2}
    val upd1 = Seq(
      mk(Seq("b:1", "a:1"), "ds1", Seq("T"), "grebi:name" -> "one"),
      mk(Seq("c:2"), "ds1", Seq("T"), "grebi:name" -> "two"),
      mk(Seq("z:9"), "ds1", Seq("T"), "grebi:name" -> "calm")) // never touched again
    // update 2: a record LINKING the two cliques (their canonicals must
    // merge and the losing canonical must tombstone), plus a reference
    // value that must rewrite through the merged clique
    val upd2 = Seq(
      mk(Seq("a:1", "c:2"), "ds2", Nil, "extra" -> "link"),
      mk(Seq("e:5"), "ds2", Seq("T"), "ref" -> "c:2"))

    Incremental.update(spark, config, dir, upd1.toDS())
    Incremental.update(spark, config, dir, upd2.toDS())
    val inc = flat(Incremental.currentMerged(spark, dir).collect().toSeq)

    val batch = GraftPipeline.run(spark, config, Seq((upd1 ++ upd2).toDS()))
    val bat = flat(batch.merged.collect().toSeq)
    assert(inc == bat)

    // the merged clique canonical: a:1 (most letters → lowest idScore
    // among a:1, b:1, c:2); e:5's ref value rewritten to it
    val byId = Incremental.currentMerged(spark, dir).collect().map(n => n.nodeId -> n).toMap
    assert(byId.contains("a:1") && !byId.contains("c:2") && !byId.contains("b:1"))
    assert(byId("a:1").datasources.sorted == Seq("ds1", "ds2"))
    assert(byId("e:5").props("ref").head.value == "a:1")

    // the untouched clique z:9 must NOT have been rewritten in gen 2
    val gen2 = spark.read.parquet(s"$dir/merged/gen=2")
    assert(!gen2.select("nodeId").collect().map(_.getString(0)).contains("z:9"))
    assert(byId.contains("z:9"))

    // compaction preserves the view
    Incremental.compact(spark, dir)
    val compacted = flat(Incremental.currentMerged(spark, dir).collect().toSeq)
    assert(compacted == inc)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("incremental KV refresh: changed keys update, retired canonicals die, compaction preserves") {
    import spark.implicits._
    import graft.sinks.KvGenStore
    val dir = java.nio.file.Files.createTempDirectory("inc_kv").toString
    val kv = s"$dir/kv_store"
    val config = SubgraphConfig(name = "fx")
    val upd1 = Seq(
      mk(Seq("b:1", "a:1"), "ds1", Seq("T"), "grebi:name" -> "one"),
      mk(Seq("c:2"), "ds1", Seq("T"), "grebi:name" -> "two"),
      mk(Seq("z:9"), "ds1", Seq("T"), "grebi:name" -> "calm"))
    val upd2 = Seq(
      mk(Seq("a:1", "c:2"), "ds2", Nil, "extra" -> "link"))

    Incremental.update(spark, config, dir, upd1.toDS())
    Incremental.refreshKv(spark, dir, kv)
    assert(KvGenStore.lookup(spark, kv, "c:2").exists(_.contains("\"two\"")))
    assert(KvGenStore.lookup(spark, kv, "z:9").isDefined)

    Incremental.update(spark, config, dir, upd2.toDS())
    Incremental.refreshKv(spark, dir, kv)
    // the merged clique serves under its surviving canonical with both
    // datasources; the retired canonical is tombstoned, not stale
    assert(KvGenStore.lookup(spark, kv, "a:1").exists(v =>
      v.contains("ds1") && v.contains("ds2")))
    assert(KvGenStore.lookup(spark, kv, "c:2") === None)
    // untouched clique still serves from the older generation
    assert(KvGenStore.lookup(spark, kv, "z:9").isDefined)

    KvGenStore.compact(spark, kv)
    assert(KvGenStore.lookup(spark, kv, "a:1").isDefined)
    assert(KvGenStore.lookup(spark, kv, "c:2") === None)
    assert(KvGenStore.lookup(spark, kv, "z:9").isDefined)
  }

  test("config-driven incremental: new files apply as deltas, equal full rebuild") {
    import scala.jdk.CollectionConverters._
    val home = java.nio.file.Files.createTempDirectory("inc_home")
    val state = java.nio.file.Files.createTempDirectory("inc_state").toString
    def write(rel: String, content: String): Unit = {
      val p = home.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content)
    }
    write("configs/ds.yaml",
      """name: GENES
        |enabled: true
        |ingests:
        |  - globs: ["./data/*.jsonl"]
        |    command: '
        |      grebi_transform_jsonl
        |          --json-rename-field geneId:id
        |          --json-inject-type fx:Gene'
        |""".stripMargin)
    write("configs/fx.json",
      """{"id": "FX", "name": "fixture",
        |  "datasource_configs": ["./configs/ds.yaml"]}""".stripMargin)
    write("data/batch1.jsonl", """{"geneId":"g:1","name":"one"}""" + "\n")
    try {
      val cfgPath = home.resolve("configs/fx.json").toString
      val first = ConfigLoader.updateFromConfigFile(spark, cfgPath, home.toString, state)
      assert(first.size == 1 && first.head.endsWith("batch1.jsonl"))
      // nothing new → no-op
      assert(ConfigLoader.updateFromConfigFile(spark, cfgPath, home.toString, state).isEmpty)
      // a new dump arrives
      write("data/batch2.jsonl", """{"geneId":"g:2","name":"two"}""" + "\n")
      val second = ConfigLoader.updateFromConfigFile(spark, cfgPath, home.toString, state)
      assert(second.size == 1 && second.head.endsWith("batch2.jsonl"))
      val inc = flat(Incremental.currentMerged(spark, state).collect().toSeq)
      val bat = flat(ConfigLoader.runFromConfigFile(spark, cfgPath, home.toString)
        .merged.collect().toSeq)
      assert(inc == bat)
      assert(inc.exists(_._1 == "g:2"))
    } finally {
      Seq(home, java.nio.file.Paths.get(state)).foreach { d =>
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("streamed staging dir applies exactly-once and equals batch") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val staging = java.nio.file.Files.createTempDirectory("inc_staging").toString
    val state = java.nio.file.Files.createTempDirectory("inc_stream").toString
    val config = SubgraphConfig(name = "fx")
    val b1 = Seq(mk(Seq("s:1"), "ds1", Seq("T"), "grebi:name" -> "one"))
    val b2 = Seq(mk(Seq("s:2"), "ds1", Seq("T"), "grebi:name" -> "two",
      "ref" -> "s:1"))
    try {
      b1.toDS().write.parquet(s"$staging/b1")
      Incremental.applyStream(spark, config, state, s"$staging/*/")
      // re-running with nothing new must be a no-op (exactly-once)
      val genBefore = spark.read.parquet(s"$state/merged").count()
      Incremental.applyStream(spark, config, state, s"$staging/*/")
      assert(spark.read.parquet(s"$state/merged").count() == genBefore)
      b2.toDS().write.parquet(s"$staging/b2")
      Incremental.applyStream(spark, config, state, s"$staging/*/")
      val inc = flat(Incremental.currentMerged(spark, state).collect().toSeq)
      val bat = flat(GraftPipeline.run(spark, config, Seq((b1 ++ b2).toDS()))
        .merged.collect().toSeq)
      assert(inc == bat)
    } finally {
      Seq(staging, state).foreach { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
          .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("keyed batch redelivery is idempotent — completed and crashed-mid-update") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc_idem").toString
    val config = SubgraphConfig(name = "fx")
    val b1 = Seq(mk(Seq("a:1"), "ds1", Seq("T"), "grebi:name" -> "one"))

    Incremental.update(spark, config, dir, b1.toDS(), Some("b1"))
    assert(BatchLedger.applied(spark, dir, "b1"))
    def gens = new java.io.File(s"$dir/merged").list().count(_.startsWith("gen="))
    def ledgerRows = spark.read.parquet(s"$dir/ledger.parquet").count()
    assert(gens == 1 && ledgerRows == 1)

    // completed batch redelivered (marker present) → total no-op
    Incremental.update(spark, config, dir, b1.toDS(), Some("b1"))
    assert(gens == 1 && ledgerRows == 1)

    // crash window: batch applied but marker never written → redelivery
    // must REPLACE its own ledger partition, not append a duplicate
    new java.io.File(s"$dir/applied_batches/b1").delete()
    Incremental.update(spark, config, dir, b1.toDS(), Some("b1"))
    assert(ledgerRows == 1 && gens == 2) // retry gen supersedes, no dup rows
    val view = Incremental.currentMerged(spark, dir).collect()
    assert(view.length == 1 && view.head.nodeId == "a:1")
    assert(view.head.props("grebi:name").map(_.value) == Seq("one"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("clique-merging batch redelivered post-swap keeps absorbed canonicals dead") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc_merge_redeliver").toString
    val config = SubgraphConfig(name = "fx")
    val upd1 = Seq(
      mk(Seq("a:1"), "ds1", Seq("T"), "grebi:name" -> "one"),
      mk(Seq("c:2"), "ds1", Seq("T"), "grebi:name" -> "two"))
    val upd2 = Seq(mk(Seq("a:1", "c:2"), "ds2", Nil, "extra" -> "link"))
    Incremental.update(spark, config, dir, upd1.toDS(), Some("b1"))
    Incremental.update(spark, config, dir, upd2.toDS(), Some("b2"))
    // crash-before-marker on the merging batch: groups already swapped
    // (c:2 now maps to a:1), marker lost → the redelivery can no longer
    // see c:2 as a canonical; the pre-swap tombstones must cover it
    new java.io.File(s"$dir/applied_batches/b2").delete()
    Incremental.update(spark, config, dir, upd2.toDS(), Some("b2"))
    val inc = flat(Incremental.currentMerged(spark, dir).collect().toSeq)
    val bat = flat(GraftPipeline.run(spark, config, Seq((upd1 ++ upd2).toDS()))
      .merged.collect().toSeq)
    assert(inc == bat)
    val ids = Incremental.currentMerged(spark, dir).collect().map(_.nodeId).toSet
    assert(ids == Set("a:1")) // c:2 absorbed, never resurrected
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("legacy flat-root ledger migrates into a batch partition") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc_legacy").toString
    val config = SubgraphConfig(name = "fx")
    val upd1 = Seq(mk(Seq("a:1"), "ds1", Seq("T"), "grebi:name" -> "one"))
    Incremental.update(spark, config, dir, upd1.toDS(), Some("b1"))
    // fabricate the pre-batch-partition layout: move the batch's parquet
    // files to the ledger root
    val root = new java.io.File(s"$dir/ledger.parquet")
    val batchDir = root.listFiles().find(_.getName.startsWith("batch=")).get
    batchDir.listFiles().filterNot(_.getName.startsWith("."))
      .foreach(f => f.renameTo(new java.io.File(root, f.getName)))
    org.apache.commons.io.FileUtils.deleteQuietly(batchDir)
    // next update must migrate the flat files instead of failing partition
    // discovery, and the merged view must still contain both batches
    val upd2 = Seq(mk(Seq("b:2"), "ds2", Seq("T"), "grebi:name" -> "two"))
    Incremental.update(spark, config, dir, upd2.toDS(), Some("b2"))
    val ids = Incremental.currentMerged(spark, dir).collect().map(_.nodeId).toSet
    assert(ids == Set("a:1", "b:2"))
    assert(new java.io.File(root, "batch=legacy-0").isDirectory)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("config-driven: crashed pending batch replays under its pinned key") {
    import scala.jdk.CollectionConverters._
    val home = java.nio.file.Files.createTempDirectory("inc_pend_home")
    val state = java.nio.file.Files.createTempDirectory("inc_pend_state").toString
    def write(rel: String, content: String): Unit = {
      val p = home.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content)
    }
    write("configs/ds.yaml",
      """name: GENES
        |enabled: true
        |ingests:
        |  - globs: ["./data/*.jsonl"]
        |    command: 'grebi_transform_jsonl --json-rename-field geneId:id'
        |""".stripMargin)
    write("configs/fx.json",
      """{"id": "FX", "name": "fixture",
        |  "datasource_configs": ["./configs/ds.yaml"]}""".stripMargin)
    write("data/batch1.jsonl", """{"geneId":"g:1","name":"one"}""" + "\n")
    try {
      val cfgPath = home.resolve("configs/fx.json").toString
      val first = ConfigLoader.updateFromConfigFile(spark, cfgPath, home.toString, state)
      assert(first.size == 1)
      // simulate a crash AFTER Incremental.update (marker durable) but
      // BEFORE the applied-files write: restore the pending file, drop
      // the applied ledger, and let a NEW dump arrive before the retry
      val applied = java.nio.file.Paths.get(s"$state/applied_files.txt")
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(first.sorted.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      java.nio.file.Files.delete(applied)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$state/pending_batch.txt"),
        (s"files-$digest" +: first).mkString("", "\n", "\n"))
      write("data/batch2.jsonl", """{"geneId":"g:2","name":"two"}""" + "\n")
      val retry = ConfigLoader.updateFromConfigFile(spark, cfgPath, home.toString, state)
      // pending batch replayed (as a no-op via its marker) + new file applied
      assert(retry.size == 2)
      // batch1's records must NOT be duplicated in the ledger
      val ledgerRows = spark.read.parquet(s"$state/ledger.parquet").count()
      assert(ledgerRows == 2)
      val inc = flat(Incremental.currentMerged(spark, state).collect().toSeq)
      val bat = flat(ConfigLoader.runFromConfigFile(spark, cfgPath, home.toString)
        .merged.collect().toSeq)
      assert(inc == bat)
    } finally {
      Seq(home, java.nio.file.Paths.get(state)).foreach { d =>
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("identifier_props values join cliques incrementally too") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc_spec2").toString
    val config = SubgraphConfig(name = "fx",
      identifierProps = Seq("id", "grebi:equivalentTo"))
    val upd1 = Seq(mk(Seq("x:1"), "ds1", Seq("T"), "grebi:name" -> "ex"))
    val upd2 = Seq(mk(Seq("y:1"), "ds2", Seq("T"), "grebi:equivalentTo" -> "x:1"))
    Incremental.update(spark, config, dir, upd1.toDS())
    Incremental.update(spark, config, dir, upd2.toDS())
    val inc = flat(Incremental.currentMerged(spark, dir).collect().toSeq)
    val bat = flat(GraftPipeline.run(spark, config, Seq((upd1 ++ upd2).toDS()))
      .merged.collect().toSeq)
    assert(inc == bat)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("one KV refresh after several updates renders every skipped generation") {
    import spark.implicits._
    import graft.sinks.KvGenStore
    val dir = java.nio.file.Files.createTempDirectory("inc_kv_multi").toString
    val kv = s"$dir/kv_store"
    val config = SubgraphConfig(name = "fx")
    Incremental.update(spark, config, dir, Seq(
      mk(Seq("b:1", "a:1"), "ds1", Seq("T"), "grebi:name" -> "one"),
      mk(Seq("c:2"), "ds1", Seq("T"), "grebi:name" -> "two"),
      mk(Seq("z:9"), "ds1", Seq("T"), "grebi:name" -> "calm")).toDS())
    Incremental.refreshKv(spark, dir, kv)
    assert(KvGenStore.lookup(spark, kv, "c:2").isDefined)

    // TWO generations land before the next refresh: gen 2 merges a:1+c:2
    // (retiring c:2), gen 3 touches only an unrelated new node — the old
    // newest-generation-only refresh would render gen 3 alone and keep
    // serving the stale c:2 forever
    Incremental.update(spark, config, dir,
      Seq(mk(Seq("a:1", "c:2"), "ds2", Nil, "extra" -> "link")).toDS())
    Incremental.update(spark, config, dir,
      Seq(mk(Seq("n:7"), "ds3", Seq("T"), "grebi:name" -> "late")).toDS())
    Incremental.refreshKv(spark, dir, kv)
    assert(KvGenStore.lookup(spark, kv, "a:1").exists(v =>
      v.contains("ds1") && v.contains("ds2")))
    assert(KvGenStore.lookup(spark, kv, "c:2") === None,
      "intermediate generation's retirement was skipped")
    assert(KvGenStore.lookup(spark, kv, "n:7").isDefined)
    assert(KvGenStore.lookup(spark, kv, "z:9").isDefined)
    // nothing new → no-op, and the marker survives
    assert(Incremental.refreshKv(spark, dir, kv) === -1L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("refreshKv auto-compacts past the generation threshold; lookups survive") {
    import spark.implicits._
    import graft.sinks.KvGenStore
    val dir = java.nio.file.Files.createTempDirectory("inc_kv_cpt").toString
    val kv = s"$dir/kv_store"
    val config = SubgraphConfig(name = "fx")
    Incremental.update(spark, config, dir,
      Seq(mk(Seq("a:1"), "ds1", Seq("T"), "grebi:name" -> "one")).toDS())
    Incremental.refreshKv(spark, dir, kv, compactAfterGens = 1)
    Incremental.update(spark, config, dir,
      Seq(mk(Seq("b:2"), "ds1", Seq("T"), "grebi:name" -> "two")).toDS())
    Incremental.refreshKv(spark, dir, kv, compactAfterGens = 1)
    // two appended generations crossed the threshold → folded to one
    assert(KvGenStore.generationCount(spark, kv) === 1)
    assert(KvGenStore.lookup(spark, kv, "a:1").isDefined)
    assert(KvGenStore.lookup(spark, kv, "b:2").isDefined)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
