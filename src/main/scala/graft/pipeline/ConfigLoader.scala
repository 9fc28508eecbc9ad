package graft.pipeline

import graft.ingest.{Ingest, Rdf}
import graft.ingest.Ingest.TransformConfig
import graft.model.IngestNode
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** File-driven builds: read the reference's own config formats — the
  * subgraph config JSON (`configs/subgraph_configs/ebi_full_monarch.json`)
  * and datasource YAMLs (`configs/datasource_configs/`) — and route
  * each datasource's ingest command pipeline to the matching Spark
  * adapter, so a reference deployment's configs run verbatim
  * (`scripts/dataload_00_prepare.py:7-41` is the glob-expansion model).
  */
object ConfigLoader {

  // ------------------------------------------------- subgraph config JSON

  /** Parse a reference-shaped subgraph config JSON into [[SubgraphConfig]].
    * Every key of the reference format maps: `name`, `identifier_props`,
    * `additional_equivalence_groups`, `exclude_props`,
    * `type_superclasses`, `exclude_edges`,
    * `exclude_self_referential_edges`, `bytes_per_merged_file`,
    * `datasource_configs`; plus `prefix_map`, the path (relative to the
    * config file) of a JSON object of prefix rewrites, as the reference's
    * `prefix_maps/prefix_map_normalise.json`, read into
    * [[SubgraphConfig.prefixMap]] so file-driven builds normalise too. */
  def loadSubgraphConfig(path: String): SubgraphConfig = {
    import scala.jdk.CollectionConverters._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val j = om.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    def strs(k: String): Seq[String] =
      Option(j.get(k)).map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
    def strsOfStrs(k: String): Seq[Seq[String]] =
      Option(j.get(k)).map(_.elements.asScala.map(_.elements.asScala.map(_.asText).toSeq).toSeq)
        .getOrElse(Nil)
    SubgraphConfig(
      name = Option(j.get("name")).map(_.asText)
        .orElse(Option(j.get("id")).map(_.asText))
        .getOrElse(throw new IllegalArgumentException(s"config $path has no name/id")),
      identifierProps = strs("identifier_props"),
      additionalEquivalenceGroups = strsOfStrs("additional_equivalence_groups"),
      excludeProps = strs("exclude_props").toSet,
      typeSuperclasses = strs("type_superclasses").toSet,
      excludeEdges = strs("exclude_edges").toSet,
      excludeSelfReferentialEdges = strs("exclude_self_referential_edges").toSet,
      bytesPerMergedFile = Option(j.get("bytes_per_merged_file")).map(_.asLong),
      datasourceConfigs = strs("datasource_configs"),
      prefixMap = Option(j.get("prefix_map")).map { rel =>
        val file = java.nio.file.Paths.get(path).toAbsolutePath.getParent.resolve(rel.asText)
        om.readTree(java.nio.file.Files.readString(file)).properties().asScala
          .map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty))
  }

  // ---------------------------------------------------- datasource YAML

  final case class IngestEntry(globs: Seq[String], command: String)
  final case class DatasourceConfig(name: String, enabled: Boolean,
                                    ingests: Seq[IngestEntry])

  def loadDatasource(path: String): DatasourceConfig =
    parseDatasourceYaml(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  /** Purpose-built reader for the restricted YAML shape every reference
    * datasource config uses (`name` / `enabled` / `ingests[globs,
    * command]`, with inline or block glob lists and single-quoted
    * possibly-multi-line commands) — no YAML library on the classpath,
    * and the full YAML spec is not needed for this fixed schema. */
  private[pipeline] def parseDatasourceYaml(text: String): DatasourceConfig = {
    var name = ""
    var enabled = false
    val ingests = ArrayBuffer.empty[(ArrayBuffer[String], StringBuilder)]
    var globBlock = false // expecting `- "item"` glob lines
    var inCommand = false // accumulating a quoted multi-line command

    def stripQuotes(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && ((t.head == '"' && t.last == '"') || (t.head == '\'' && t.last == '\'')))
        t.substring(1, t.length - 1)
      else t
    }

    // YAML maps are unordered: an entry may lead with `- command:` just
    // as legally as `- globs:`, and the sibling key then appears without
    // the dash — both orders are handled
    val InlineGlobs = """^\s*(-\s+)?globs:\s*\[(.*)\]\s*$""".r
    val BlockGlobs = """^\s*(-\s+)?globs:\s*$""".r
    val GlobItem = """^\s*-\s+(.+)$""".r
    val Command = """^\s*(-\s+)?command:\s*(.*)$""".r
    // `"?` tolerates the reference's own otar.yaml typo (`name": …`)
    val TopKey = """^(\w+)"?:\s*(.*)$""".r

    def entryFor(newItem: Boolean): (ArrayBuffer[String], StringBuilder) = {
      if (newItem || ingests.isEmpty)
        ingests += ((ArrayBuffer.empty[String], new StringBuilder))
      ingests.last
    }

    text.linesIterator.foreach { line =>
      if (inCommand) {
        val t = line.trim
        val cmd = ingests.last._2
        if (t.endsWith("'")) { cmd.append(' ').append(t.dropRight(1)); inCommand = false }
        else cmd.append(' ').append(t)
      } else line match {
        case InlineGlobs(dash, items) =>
          globBlock = false
          entryFor(dash != null)._1 ++=
            items.split(",").map(stripQuotes).filter(_.nonEmpty)
        case BlockGlobs(dash) =>
          entryFor(dash != null)
          globBlock = true
        case Command(dash, v0) =>
          globBlock = false
          val v = v0.trim
          val cmd = entryFor(dash != null)._2
          if (v.startsWith("'") && !(v.length > 1 && v.endsWith("'"))) {
            cmd.append(v.drop(1)); inCommand = true
          } else cmd.append(stripQuotes(v))
        case GlobItem(item) if globBlock =>
          ingests.last._1 += stripQuotes(item)
        case TopKey("name", v) => name = stripQuotes(v)
        case TopKey("enabled", v) => enabled = v.trim == "true"
        case TopKey("ingests", _) => // section marker
        case _ => // blank / unknown
      }
    }
    DatasourceConfig(name, enabled,
      ingests.map { case (g, c) => IngestEntry(g.toSeq, c.toString.trim) }.toSeq)
  }

  // ------------------------------------------------------ command parsing

  final case class Stage(tool: String, flags: Seq[(String, String)]) {
    def flag(k: String): Option[String] = flags.collectFirst { case (`k`, v) => v }
    def flagAll(k: String): Seq[String] = flags.collect { case (`k`, v) => v }
    def has(k: String): Boolean = flags.exists(_._1 == k)
  }

  /** Tokenize a shell-ish command respecting quotes, substitute the
    * `$GREBI_*` placeholders the reference pipeline injects
    * (`nextflow/01_create_subgraph.nf`), and split into `|` stages. */
  private[pipeline] def parseCommand(command: String, home: String,
                                     datasource: String,
                                     filename: String): Seq[Stage] = {
    val substituted = command
      .replace("$GREBI_INGEST_DATASOURCE_NAME", datasource)
      .replace("$GREBI_INGEST_FILENAME", filename)
      .replace("$GREBI_HOME", home)
    // quote-aware tokenizer; quoted-ness is remembered so a quoted "|"
    // argument (tsv-array-delimiter) is never mistaken for a stage pipe
    val tokens = ArrayBuffer.empty[(String, Boolean)]
    val cur = new StringBuilder
    var curQuoted = false
    var quote: Char = 0
    def flush(): Unit =
      if (cur.nonEmpty || curQuoted) { tokens += ((cur.toString, curQuoted)); cur.clear(); curQuoted = false }
    substituted.foreach { c =>
      if (quote != 0) { if (c == quote) quote = 0 else cur.append(c) }
      else if (c == '\'' || c == '"') { quote = c; curQuoted = true }
      else if (Character.isWhitespace(c)) flush()
      else cur.append(c)
    }
    flush()

    val stages = ArrayBuffer.empty[ArrayBuffer[String]]
    stages += ArrayBuffer.empty[String]
    tokens.foreach { case (t, quoted) =>
      if (t == "|" && !quoted) stages += ArrayBuffer.empty[String] else stages.last += t
    }

    stages.filter(_.nonEmpty).map { ts =>
      // tool name: basename; an `ingest.py` names its tool by parent dir
      // (the reference's per-tool directories), other .py by file stem
      val raw = ts.head
      val base = raw.substring(raw.lastIndexOf('/') + 1)
      val tool =
        if (base == "ingest.py") {
          val p = raw.dropRight("/ingest.py".length)
          p.substring(p.lastIndexOf('/') + 1)
        } else base.stripSuffix(".py")
      val flags = ArrayBuffer.empty[(String, String)]
      var i = 1
      while (i < ts.length) {
        val t = ts(i)
        if (t.startsWith("--")) {
          val k = t.drop(2)
          if (i + 1 < ts.length && !ts(i + 1).startsWith("--")) {
            flags += ((k, ts(i + 1))); i += 2
          } else { flags += ((k, "")); i += 1 } // boolean flag
        } else i += 1 // stray positional — ignored
      }
      Stage(tool, flags.toSeq)
    }.toSeq
  }

  // ------------------------------------------------------- file discovery

  final case class DatasourceFile(datasource: String, entry: IngestEntry, file: String)

  /** prepare.py analog: expand each enabled datasource's ingest globs
    * relative to `home` into concrete files. */
  def discoverFiles(home: String, ds: DatasourceConfig): Seq[DatasourceFile] = {
    import scala.jdk.CollectionConverters._
    if (!ds.enabled) Nil
    else ds.ingests.flatMap { entry =>
      entry.globs.flatMap { g =>
        val full = if (g.startsWith("/")) g else s"$home/${g.stripPrefix("./")}"
        val p = java.nio.file.Paths.get(full)
        if (java.nio.file.Files.exists(p)) Seq(full)
        else {
          // glob expansion within the parent directory tree
          val star = full.indexOf('*')
          if (star < 0) Nil
          else {
            val root = java.nio.file.Paths.get(full.substring(0, full.lastIndexOf('/', star)))
            if (!java.nio.file.Files.isDirectory(root)) Nil
            else {
              val matcher = java.nio.file.FileSystems.getDefault
                .getPathMatcher("glob:" + full)
              java.nio.file.Files.walk(root).iterator().asScala
                .filter(java.nio.file.Files.isRegularFile(_))
                .filter(matcher.matches)
                .map(_.toString).toSeq.sorted
            }
          }
        }
      }.map(f => DatasourceFile(ds.name, entry, f))
    }
  }

  // --------------------------------------------------------- the router

  private val FullRdfType = Rdf.RdfType

  /** Route one discovered file's command pipeline to the matching Spark
    * adapters. Stage 1 picks the source reader; later
    * `grebi_transform_jsonl` folds into the source's [[TransformConfig]]
    * and `grebi_nodes2edges` re-keys the node stream — mirroring the
    * reference's process pipe with DataFrame composition. */
  def ingestFile(spark: SparkSession, home: String, subgraph: String,
                 df: DatasourceFile): Dataset[IngestNode] = {
    val stages = parseCommand(df.entry.command, home, df.datasource, df.file)
    require(stages.nonEmpty, s"empty ingest command for ${df.file}")
    val source = stages.head
    val rest = stages.tail

    // fold any transform stages into one TransformConfig
    def transformConfig(idFields: Seq[String]): TransformConfig =
      rest.filter(_.tool == "grebi_transform_jsonl")
        .foldLeft(TransformConfig(idFields = idFields, datasource = df.datasource,
          subgraph = subgraph)) { (cfg, st) =>
          val renames = st.flagAll("json-rename-field").map(splitFirstColon)
          val valuePrefixes = st.flagAll("json-inject-value-prefix").map(splitFirstColon)
          val deNests = st.flagAll("json-de-nest-field").map { f =>
            val i = f.lastIndexOf('.')
            require(i > 0, s"bad --json-de-nest-field $f")
            f.take(i) -> f.drop(i + 1)
          }
          cfg.copy(
            renameFields = cfg.renameFields ++ renames,
            injectTypes = cfg.injectTypes ++
              st.flag("json-inject-type").filter(_.nonEmpty).toSeq,
            injectKeyPrefix = st.flag("json-inject-key-prefix").getOrElse(cfg.injectKeyPrefix),
            injectValuePrefix = cfg.injectValuePrefix ++ valuePrefixes,
            deNestFields = cfg.deNestFields ++ deNests,
            injectHashId = cfg.injectHashId || st.has("json-inject-hashid"))
        }

    val nodes: Dataset[IngestNode] = source.tool match {
      case "grebi_transform_jsonl" =>
        // standalone transform = JSON(L) source file
        Ingest.fromDataFrame(spark.read.json(df.file),
          foldTransform(source, transformConfig(Seq("id"))))
      case "grebi_tsv2jsonl" =>
        Ingest.fromTsv(spark, df.file, transformConfig(Seq("id")),
          multiValueSep = source.flag("tsv-array-delimiter"),
          columns = source.flag("tsv-columns").map(_.split(",").toSeq))
      case "grebi_ingest_gwas" =>
        Ingest.fromGwas(spark, df.file, df.datasource, subgraph)
      case "grebi_ingest_sssom" =>
        Ingest.fromSssom(spark, df.file, df.datasource, subgraph)
      case "grebi_ingest_kgx_edges" =>
        val base = Ingest.fromKgxEdges(spark.read.json(df.file), df.datasource, subgraph)
        source.flag("kgx-inject-key-prefix") match {
          case Some(prefix) if prefix.nonEmpty =>
            base.map { n =>
              n.copy(props = n.props.map { case (k, vs) =>
                k -> vs.map(v => v.copy(qualifiers = v.qualifiers.map { case (qk, qvs) =>
                  (if (qk.contains(":")) qk else prefix + qk) -> qvs
                }))
              })
            }(base.encoder)
          case _ => base
        }
      case "grebi_rdf2jsonl" =>
        val triples = source.flag("rdf-type") match {
          case Some("rdf_triples_turtle") => Rdf.parseTurtle(spark, df.file)
          case Some("rdf_triples_xml") => Rdf.parseRdfXml(spark, df.file)
          case Some("rdf_quads_nq") =>
            Rdf.parseNQuads(spark, df.file, graphs = source.flagAll("rdf-graph"))
          case other => throw new IllegalArgumentException(
            s"unknown --rdf-type $other (reference accepts xml/turtle/nq, main.rs:105-139)")
        }
        Ingest.fromTriples(triples, df.datasource, subgraph,
          typePredicate = FullRdfType,
          nestPreds = source.flagAll("nest-objects-of-predicate").toSet,
          excludePreds = source.flagAll("exclude-objects-of-predicate").toSet,
          reifPointerPreds = source.flagAll("reif-pointer-predicate").toSet,
          reifValuePreds = source.flagAll("reif-value-predicate").toSet,
          typesAreGrebiTypes = source.has("rdf-types-are-grebi-types"))
      case "grebi_ingest_ols" =>
        // both boolean flags default FALSE in the reference CLI
        // (grebi_ingest_ols/src/main.rs:22-28)
        Ols.fromJsonl(spark, df.file, df.datasource, subgraph,
          definingOnly = source.has("defining-only"),
          skipObsolete = source.has("skip-obsolete"),
          ontologies = source.flag("ontologies").map(_.split(",").toSet))
      case "grebi_ingest_metabolights" =>
        Ingest.fromMetabolightsXml(spark, df.file, df.datasource, subgraph)
      case "grebi_ingest_mondo_efo_mappings" =>
        // 2-col TSV: id \t comma-joined equivalences (ingest.py:13-14)
        Ingest.fromTsv(spark, df.file,
          TransformConfig(idFields = Seq("id"), datasource = df.datasource,
            subgraph = subgraph),
          columns = Some(Seq("id", "grebi:equivalentTo")),
          multiValueSep = Some(","))
      case "grebi_ingest_reactome" =>
        Ingest.fromReactome(spark, df.file, graft.curie.PrefixTrie(Map.empty),
          df.datasource, subgraph)
      case "hett_pesticides_appril" =>
        Ingest.fromHettPesticides(spark, df.file, "appril", df.datasource, subgraph)
      case "hett_pesticides_eu" =>
        Ingest.fromHettPesticides(spark, df.file, "eu", df.datasource, subgraph)
      case "hett_pesticides_gb" =>
        Ingest.fromHettPesticides(spark, df.file, "gb", df.datasource, subgraph)
      case other => throw new IllegalArgumentException(
        s"no adapter for ingest tool '$other' (${df.file})")
    }

    // nodes2edges stages re-key the stream in order
    rest.filter(_.tool == "grebi_nodes2edges").foldLeft(nodes) { (ns, st) =>
      Ingest.nodesToEdges(ns,
        st.flag("from-field").getOrElse(sys.error("nodes2edges needs --from-field")),
        st.flag("to-field").getOrElse(sys.error("nodes2edges needs --to-field")),
        st.flag("edge-type").getOrElse(sys.error("nodes2edges needs --edge-type")))
    }
  }

  /** A standalone `grebi_transform_jsonl` source stage carries its own
    * flags — fold them the same way the pipe stages fold. */
  private def foldTransform(st: Stage, cfg0: TransformConfig): TransformConfig = {
    val renames = st.flagAll("json-rename-field").map(splitFirstColon)
    val valuePrefixes = st.flagAll("json-inject-value-prefix").map(splitFirstColon)
    val deNests = st.flagAll("json-de-nest-field").map { f =>
      val i = f.lastIndexOf('.')
      require(i > 0, s"bad --json-de-nest-field $f")
      f.take(i) -> f.drop(i + 1)
    }
    cfg0.copy(
      renameFields = cfg0.renameFields ++ renames,
      injectTypes = cfg0.injectTypes ++ st.flag("json-inject-type").filter(_.nonEmpty).toSeq,
      injectKeyPrefix = st.flag("json-inject-key-prefix").getOrElse(cfg0.injectKeyPrefix),
      injectValuePrefix = cfg0.injectValuePrefix ++ valuePrefixes,
      deNestFields = cfg0.deNestFields ++ deNests,
      injectHashId = cfg0.injectHashId || st.has("json-inject-hashid"))
  }

  private def splitFirstColon(s: String): (String, String) = {
    val i = s.indexOf(':')
    require(i > 0, s"expected key:value, got $s")
    (s.take(i), s.drop(i + 1))
  }

  private def Ols = graft.ingest.Ols

  // ---------------------------------------------------------- full build

  /** Load a subgraph config FILE, expand its datasource YAMLs and globs
    * under `home`, route every discovered file through its adapter, and
    * run the standard build DAG. */
  def runFromConfigFile(spark: SparkSession, configPath: String,
                        home: String): SubgraphBuild = {
    val config = loadSubgraphConfig(configPath)
    val files = discoverAll(config, home)
    require(files.nonEmpty, s"no datasource files discovered under $home")
    val ingests = files.map(f => ingestFile(spark, home, config.name, f))
    GraftPipeline.run(spark, config, ingests)
  }

  private def discoverAll(config: SubgraphConfig, home: String): Seq[DatasourceFile] =
    config.datasourceConfigs.flatMap { rel =>
      val p = if (rel.startsWith("/")) rel else s"$home/${rel.stripPrefix("./")}"
      discoverFiles(home, loadDatasource(p))
    }

  /** Incremental composition: re-expand the config's globs and apply
    * only the files not yet ingested as one [[Incremental.update]]
    * batch. Returns the newly applied file paths (empty = store already
    * current). Ingested-file bookkeeping lives next to the state
    * (`applied_files.txt`), so dropping new dumps into a watched
    * directory and re-invoking is the whole operational loop — the
    * incremental analog of the reference's full Nextflow re-run.
    *
    * `stateDir` is a local path by construction: the inputs are local
    * files walked with `java.nio`, and so are `applied_files.txt` and
    * `pending_batch.txt`. The update itself keeps its exactly-once marker
    * through [[BatchLedger]], on the state path's own filesystem. */
  def updateFromConfigFile(spark: SparkSession, configPath: String,
                           home: String, stateDir: String): Seq[String] = {
    val config = loadSubgraphConfig(configPath)
    val ledger = java.nio.file.Paths.get(s"$stateDir/applied_files.txt")
    def readApplied(): Set[String] =
      if (java.nio.file.Files.exists(ledger))
        java.nio.file.Files.readAllLines(ledger).toArray(Array.empty[String]).toSet
      else Set.empty
    // a pending-batch file pins the (key, file list) of an in-flight
    // update BEFORE it starts: if a crash lands between the update and
    // the applied-files write, the retry replays THAT exact batch under
    // THAT exact key — without it, a new dump arriving before the retry
    // would change the fresh-file digest and re-apply the already-applied
    // files under a different key
    val pendingPath = java.nio.file.Paths.get(s"$stateDir/pending_batch.txt")
    def applyBatch(files: Seq[DatasourceFile], key: String): Unit = {
      val batch = files.map(f => ingestFile(spark, home, config.name, f))
        .reduce(_ union _)
      Incremental.update(spark, config, stateDir, batch, Some(key))
      val done = (readApplied() ++ files.map(_.file)).toSeq.sorted
      val tmp = ledger.resolveSibling(ledger.getFileName.toString + ".tmp")
      java.nio.file.Files.createDirectories(ledger.getParent)
      java.nio.file.Files.writeString(tmp, done.mkString("", "\n", "\n"))
      java.nio.file.Files.move(tmp, ledger,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.deleteIfExists(pendingPath)
    }

    val replayed: Seq[String] =
      if (java.nio.file.Files.exists(pendingPath)) {
        val lines = java.nio.file.Files.readAllLines(pendingPath)
          .toArray(Array.empty[String]).toSeq
        val (key, files) = (lines.head, lines.tail.toSet)
        val todo = discoverAll(config, home)
          .filter(f => files.contains(f.file))
          .filterNot(f => readApplied().contains(f.file))
        if (todo.nonEmpty) { applyBatch(todo, key); todo.map(_.file) }
        else { java.nio.file.Files.deleteIfExists(pendingPath); Nil }
      } else Nil

    val fresh = discoverAll(config, home)
      .filterNot(f => readApplied().contains(f.file))
    if (fresh.nonEmpty) {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(fresh.map(_.file).sorted.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      val key = s"files-$digest"
      val tmp = pendingPath.resolveSibling("pending_batch.txt.tmp")
      java.nio.file.Files.createDirectories(pendingPath.getParent)
      java.nio.file.Files.writeString(tmp,
        (key +: fresh.map(_.file)).mkString("", "\n", "\n"))
      java.nio.file.Files.move(tmp, pendingPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      applyBatch(fresh, key)
    }
    replayed ++ fresh.map(_.file)
  }
}
