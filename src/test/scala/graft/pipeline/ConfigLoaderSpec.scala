package graft.pipeline

import graft.SparkSpec

/** Config-file-driven builds: the reference's subgraph JSON + datasource
  * YAML formats parse and route to the Spark adapters. */
class ConfigLoaderSpec extends SparkSpec {

  test("datasource yaml: block globs, multi-line quoted command") {
    val yaml =
      """name: CTD
        |enabled: true
        |ingests:
        |  - globs: ["./a.tsv.gz", "./b.tsv"]
        |    command: '
        |      grebi_tsv2jsonl
        |         --tsv-array-delimiter "|"
        |      | grebi_transform_jsonl
        |          --json-inject-key-prefix ctd:'
        |  - globs:
        |      - "./c.tsv"
        |      - "./d.tsv"
        |    command: grebi_ingest_sssom
        |""".stripMargin
    val ds = ConfigLoader.parseDatasourceYaml(yaml)
    assert(ds.name == "CTD" && ds.enabled)
    assert(ds.ingests.length == 2)
    assert(ds.ingests.head.globs == Seq("./a.tsv.gz", "./b.tsv"))
    assert(ds.ingests.head.command.contains("grebi_tsv2jsonl"))
    assert(ds.ingests.head.command.contains("| grebi_transform_jsonl"))
    assert(ds.ingests(1).globs == Seq("./c.tsv", "./d.tsv"))
    assert(ds.ingests(1).command == "grebi_ingest_sssom")
  }

  test("datasource yaml: command-before-globs key order (maps are unordered)") {
    val ds = ConfigLoader.parseDatasourceYaml(
      """name: SWAPPED
        |enabled: true
        |ingests:
        |  - command: grebi_ingest_sssom
        |    globs: ["./a.tsv"]
        |  - globs: ["./b.tsv"]
        |    command: grebi_ingest_gwas
        |""".stripMargin)
    assert(ds.ingests.length == 2)
    assert(ds.ingests.head.command == "grebi_ingest_sssom")
    assert(ds.ingests.head.globs == Seq("./a.tsv"))
    assert(ds.ingests(1).command == "grebi_ingest_gwas")
    assert(ds.ingests(1).globs == Seq("./b.tsv"))
  }

  test("command parsing: pipes, quoted args, env substitution, py tools") {
    val stages = ConfigLoader.parseCommand(
      """grebi_tsv2jsonl --tsv-array-delimiter "|" --tsv-columns a,b
        | | grebi_transform_jsonl --json-inject-hashid --json-rename-field x:id
        | | grebi_nodes2edges --from-field a --to-field b --edge-type t""".stripMargin
        .replace("\n", " "),
      home = "/h", datasource = "DS", filename = "/f")
    assert(stages.map(_.tool) ==
      Seq("grebi_tsv2jsonl", "grebi_transform_jsonl", "grebi_nodes2edges"))
    // a quoted "|" is an argument, not a pipe
    assert(stages.head.flag("tsv-array-delimiter").contains("|"))
    assert(stages(1).has("json-inject-hashid"))
    assert(stages(1).flag("json-rename-field").contains("x:id"))
    assert(stages(2).flag("edge-type").contains("t"))

    val py = ConfigLoader.parseCommand(
      "$GREBI_HOME/01_ingest/grebi_ingest_metabolights/ingest.py --datasource-name $GREBI_INGEST_DATASOURCE_NAME",
      home = "/h", datasource = "MTBLS", filename = "/f")
    assert(py.head.tool == "grebi_ingest_metabolights")
    assert(py.head.flag("datasource-name").contains("MTBLS"))
  }

  test("reference configs parse verbatim") {
    val refCfg = "/root/reference/configs/subgraph_configs/ebi_full_monarch.json"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(refCfg)))
    val cfg = ConfigLoader.loadSubgraphConfig(refCfg)
    assert(cfg.name == "EBI Resources and MONARCH Initiative KG")
    assert(cfg.identifierProps.length == 23 && cfg.identifierProps.head == "id")
    assert(cfg.additionalEquivalenceGroups.length == 7)
    assert(cfg.excludeProps.contains("ols:hierarchicalProperty"))
    assert(cfg.typeSuperclasses == Set("mondo:0000001", "efo:0000408", "chebi:36080", "chebi:24431"))
    assert(cfg.bytesPerMergedFile.contains(1073741824L))
    assert(cfg.excludeSelfReferentialEdges.size == 24)
    assert(cfg.datasourceConfigs.length == 34)

    val ctd = ConfigLoader.loadDatasource("/root/reference/configs/datasource_configs/ctd.yaml")
    assert(ctd.name == "CTD" && ctd.enabled)
    val chemGene = ctd.ingests(1)
    val stages = ConfigLoader.parseCommand(chemGene.command, "/h", "CTD", "/f")
    assert(stages.map(_.tool) ==
      Seq("grebi_tsv2jsonl", "grebi_transform_jsonl", "grebi_nodes2edges"))
    assert(stages(2).flag("edge-type").contains("biolink:chemical_gene_interaction_association"))
    // every datasource yaml in the reference parses and yields ≥1 ingest
    val dir = java.nio.file.Paths.get("/root/reference/configs/datasource_configs")
    import scala.jdk.CollectionConverters._
    val all = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".yaml")).toSeq
    assert(all.nonEmpty)
    all.foreach { p =>
      val ds = ConfigLoader.loadDatasource(p.toString)
      assert(ds.name.nonEmpty, p)
      assert(ds.ingests.nonEmpty, p)
      assert(ds.ingests.forall(_.command.nonEmpty), p)
    }
  }

  test("full fixture build from config files on disk") {
    import scala.jdk.CollectionConverters._
    val home = java.nio.file.Files.createTempDirectory("graft_home")
    def write(rel: String, content: String): Unit = {
      val p = home.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content)
    }
    // datasource A: JSON via standalone transform with rename + de-nest
    write("data/genes.jsonl",
      """{"geneId":"hgnc:1","name":"BRCA1","meta":{"id":"m:1","junk":"x"},"uniprot_ids":["P1","P2"]}
        |{"geneId":"hgnc:2","name":"TP53","meta":{"id":"m:2","junk":"y"}}
        |""".stripMargin)
    write("configs/datasource_configs/genes.yaml",
      """name: GENES
        |enabled: true
        |ingests:
        |  - globs: ["./data/genes.jsonl"]
        |    command: '
        |      grebi_transform_jsonl
        |          --json-rename-field geneId:id
        |          --json-rename-field name:grebi:name
        |          --json-inject-type fx:Gene
        |          --json-inject-key-prefix fx:
        |          --json-de-nest-field meta.id
        |          --json-inject-value-prefix uniprot_ids:uniprot:'
        |""".stripMargin)
    // datasource B: headerless TSV piped through transform into edges
    write("data/links.tsv", "hgnc:1\thgnc:2\tstrong\n")
    write("configs/datasource_configs/links.yaml",
      """name: LINKS
        |enabled: true
        |ingests:
        |  - globs: ["./data/links.tsv"]
        |    command: '
        |      grebi_tsv2jsonl
        |          --tsv-columns from,to,weight
        |      | grebi_nodes2edges
        |          --from-field from
        |          --to-field to
        |          --edge-type fx:interacts'
        |""".stripMargin
        )
    // disabled datasource must be skipped entirely
    write("configs/datasource_configs/off.yaml",
      "name: OFF\nenabled: false\ningests:\n  - globs: [\"./data/genes.jsonl\"]\n    command: grebi_ingest_sssom\n")
    write("configs/subgraph_configs/fx.json",
      """{
        |  "id": "FX",
        |  "name": "fixture",
        |  "bytes_per_merged_file": 1024,
        |  "identifier_props": ["id", "grebi:equivalentTo"],
        |  "type_superclasses": [],
        |  "additional_equivalence_groups": [],
        |  "exclude_props": ["fx:junk"],
        |  "exclude_edges": [],
        |  "exclude_self_referential_edges": [],
        |  "datasource_configs": [
        |    "./configs/datasource_configs/genes.yaml",
        |    "./configs/datasource_configs/links.yaml",
        |    "./configs/datasource_configs/off.yaml"
        |  ]
        |}""".stripMargin)
    try {
      val build = ConfigLoader.runFromConfigFile(spark,
        home.resolve("configs/subgraph_configs/fx.json").toString, home.toString)
      val nodes = build.merged.collect().map(n => n.nodeId -> n).toMap
      // both genes arrive with renamed ids; LINKS edge rows merge onto them
      assert(nodes.contains("hgnc:1") && nodes.contains("hgnc:2"))
      val g1 = nodes("hgnc:1")
      assert(g1.props("grebi:name").map(_.value) == Seq("BRCA1"))
      // key prefix applied to unprefixed keys only; de-nest pulled meta.id
      assert(g1.props("fx:meta").map(_.value) == Seq("m:1"))
      // value prefix applied
      assert(g1.props("fx:uniprot_ids").map(_.value).sorted == Seq("uniprot:P1", "uniprot:P2"))
      // nodes2edges produced a reified edge prop that materialises
      val edges = build.edges.collect()
      assert(edges.exists(e => e.getAs[String]("edgeType") == "fx:interacts" &&
        e.getAs[String]("fromNodeId") == "hgnc:1" && e.getAs[String]("toNodeId") == "hgnc:2"))
      // disabled datasource contributed nothing
      assert(build.merged.collect().forall(_.datasources.forall(_ != "OFF")))
    } finally {
      java.nio.file.Files.walk(home).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("prefix_map: a config-file build normalises like run() given the map") {
    import scala.jdk.CollectionConverters._
    val home = java.nio.file.Files.createTempDirectory("graft_pm")
    def write(rel: String, content: String): Unit = {
      val p = home.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content)
    }
    // one gene under two spellings of its id, plus a second gene
    write("data/genes.jsonl",
      """{"geneId":"http://identifiers.example.org/hgnc/1","name":"BRCA1"}
        |{"geneId":"HGNC:2","name":"TP53","xref":"HGNC:1"}
        |{"geneId":"HGNC:1","name":"BRCA1 alias"}
        |""".stripMargin)
    write("configs/datasource_configs/genes.yaml",
      """name: GENES
        |enabled: true
        |ingests:
        |  - globs: ["./data/genes.jsonl"]
        |    command: '
        |      grebi_transform_jsonl
        |          --json-rename-field geneId:id
        |          --json-rename-field name:grebi:name
        |          --json-inject-type fx:Gene'
        |""".stripMargin)
    val map = Map("http://identifiers.example.org/hgnc/" -> "hgnc:", "HGNC:" -> "hgnc:")
    write("configs/prefix_maps/normalise.json",
      map.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ",", "}"))
    write("configs/subgraph_configs/pm.json",
      """{
        |  "name": "pm",
        |  "identifier_props": ["id"],
        |  "prefix_map": "../prefix_maps/normalise.json",
        |  "datasource_configs": ["./configs/datasource_configs/genes.yaml"]
        |}""".stripMargin)
    try {
      val configPath = home.resolve("configs/subgraph_configs/pm.json").toString
      val config = ConfigLoader.loadSubgraphConfig(configPath)
      assert(config.prefixMap === map)
      val fromFile = ConfigLoader.runFromConfigFile(spark, configPath, home.toString)
      val ingests = ConfigLoader.discoverFiles(home.toString,
          ConfigLoader.loadDatasource(home.resolve("configs/datasource_configs/genes.yaml").toString))
        .map(f => ConfigLoader.ingestFile(spark, home.toString, "pm", f))
      val direct = GraftPipeline.run(spark,
        SubgraphConfig(name = "pm", identifierProps = Seq("id"), prefixMap = map), ingests)
      def ids(b: SubgraphBuild) = b.merged.collect().map(_.nodeId).toSet
      assert(ids(fromFile) === Set("hgnc:1", "hgnc:2"))
      assert(ids(fromFile) === ids(direct))
      // the normalised reference resolves to the merged node
      assert(fromFile.merged.collect().find(_.nodeId == "hgnc:2").get
        .props("xref").map(_.value) === Seq("hgnc:1"))
    } finally {
      java.nio.file.Files.walk(home).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
