package graft.pipeline

import graft.curie.PrefixTrie
import graft.identity.{AssignIds, Groups}
import graft.merge.Merge
import graft.model.{IngestNode, MergedNode}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental subgraph builds — new datasource files arrive and the
  * merged graph updates WITHOUT recomputing the untouched cliques. The
  * reference has no incremental path (every Nextflow run rebuilds from
  * scratch); this is the lakehouse-style extension of the same DAG:
  *
  *   - an append-only **ledger** of normalised ingest records (the
  *     replayable source of truth),
  *   - a persisted **groups** table (member → canonical, one row per id
  *     ever seen — the identity state),
  *   - a **generational merged store** (`merged/gen=N` + per-gen
  *     tombstones): each update writes only the recomputed cliques'
  *     rows; readers resolve by latest generation (merge-on-read).
  *
  * Per update, the work is delta-proportional in shuffle terms:
  *   1. delta id-sets mark the touched cliques; only their members plus
  *      the delta run through connected components again (an old clique
  *      enters the CC as its star edges, so merging two existing cliques
  *      through a new record reproduces the batch component exactly);
  *   2. dirty records = records of any clique whose membership OR whose
  *      referenced strings intersect the recomputed members — detected
  *      with two map-side passes over the ledger against the
  *      (delta-sized, broadcastable) affected-member set; clean records
  *      never shuffle;
  *   3. only dirty records re-run assign → merge; results land in the
  *      new generation, and every recomputed clique's previous canonical
  *      is tombstoned at that generation.
  *
  * The batch-equivalence invariant (update(A); update(B) ≡ run(A ∪ B))
  * is pinned by IncrementalBuildSpec and the inc1 oracle gate. The one
  * full pass per update is the map-side ledger scan in step 2 — at scale
  * the ledger would be hash-partitioned by candidate range so that scan
  * prunes too (noted in SURVEY §7.4.4 terms); no step shuffles clean
  * data.
  */
object Incremental {

  private def ledgerPath(dir: String) = s"$dir/ledger.parquet"
  private def groupsPath(dir: String) = s"$dir/groups.parquet"
  private def mergedRoot(dir: String) = s"$dir/merged"
  private def tombPath(dir: String) = s"$dir/tombstones.parquet"

  private def nextGen(spark: SparkSession, dir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(mergedRoot(dir))
    val f = BatchLedger.fs(spark, mergedRoot(dir))
    if (!f.exists(root)) 1
    else f.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("gen=") => n.drop(4).toInt }
      .foldLeft(0)(math.max) + 1
  }

  /** Apply one batch of ingest records to the state under `dir`.
    *
    * `batchKey`, when supplied, makes the application **idempotent**: the
    * ledger append lands in a deterministic `batch=<key>` partition
    * written with Overwrite (a crashed-and-retried batch replaces its own
    * partial rows instead of duplicating them), and the [[BatchLedger]]
    * marker — written atomically, strictly last — makes a completed batch
    * a no-op on redelivery. Replays of a batch that crashed mid-update
    * are safe without the marker: the ledger rewrite is a same-data
    * overwrite, the partial `gen=N` output is superseded
    * by the retry's `gen=N+1` rows (merge-on-read takes max gen per
    * nodeId, and the retry recomputes a superset of the partial gen's
    * cliques from the identical ledger), and tombstone appends are
    * max-gen idempotent. The groups swap is ordered LAST (after the
    * tombstone write): a retry that crashed pre-swap re-derives the full
    * touched-canonical set from the intact old groups, and one that
    * crashed post-swap — where absorbed canonicals are no longer
    * reachable — is covered by the tombstones that are already durable.
    * Keyless calls append under a unique batch id (plain at-least-once,
    * as before). */
  def update(spark: SparkSession, config: SubgraphConfig, dir: String,
             newNodes: Dataset[IngestNode], batchKey: Option[String] = None): Unit = {
    import spark.implicits._
    val fsys = BatchLedger.fs(spark, dir)
    if (batchKey.exists(BatchLedger.applied(spark, dir, _))) return
    // crash recovery: a previous run may have died between deleting the
    // old groups table and renaming the fresh copy into place
    val gPath = new org.apache.hadoop.fs.Path(groupsPath(dir))
    val gNext = new org.apache.hadoop.fs.Path(groupsPath(dir) + ".next")
    if (!fsys.exists(gPath) && fsys.exists(gNext)) fsys.rename(gNext, gPath)

    val gen = nextGen(spark, dir)

    val normalised =
      if (config.prefixMap.isEmpty) newNodes
      else GraftPipeline.normalise(newNodes, PrefixTrie(config.prefixMap))
    // a state dir written before batch-keyed ledgers has parquet files at
    // the ledger root; partition discovery rejects mixed depths, so fold
    // them into a legacy batch partition first
    val ledgerRoot = new org.apache.hadoop.fs.Path(ledgerPath(dir))
    if (fsys.exists(ledgerRoot)) {
      val rootFiles = fsys.listStatus(ledgerRoot).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      if (rootFiles.nonEmpty) {
        val legacy = new org.apache.hadoop.fs.Path(ledgerRoot, "batch=legacy-0")
        fsys.mkdirs(legacy)
        rootFiles.foreach(st => fsys.rename(st.getPath,
          new org.apache.hadoop.fs.Path(legacy, st.getPath.getName)))
      }
    }
    BatchLedger.put(normalised.toDF(), ledgerPath(dir), BatchLedger.key(batchKey))

    val idProps = config.identifierProps.filter(_ != "id")
    def idSetOf(n: IngestNode): Seq[String] =
      n.ids ++ idProps.flatMap(p => n.props.getOrElse(p, Nil).map(_.value))

    // the full ledger (dirty detection scans it map-side; only dirty
    // records ever shuffle) — `batch` is the bookkeeping partition
    // column, not part of the record
    val ledgerAll = spark.read.parquet(ledgerPath(dir)).drop("batch").as[IngestNode]
    val deltaSets = normalised.map(idSetOf).toDF("ids")
      .union(config.additionalEquivalenceGroups.toDF("ids"))
    val deltaIds = deltaSets.select(explode(col("ids")).as("member")).distinct()

    val firstRun = !BatchLedger.exists(spark, groupsPath(dir))
    val oldGroups = BatchLedger.table(spark, groupsPath(dir), "member STRING, canonical STRING")
    // dirty-detection joins broadcast their delta-proportional side —
    // EXCEPT on the bootstrap run, where the "delta" is the whole corpus
    // and a forced broadcast would blow the driver; there the planner
    // picks the join strategy
    val deltaHint: DataFrame => DataFrame =
      if (firstRun) identity else broadcast

    // cliques touched by delta ids → their full old membership joins the
    // re-run; everything else keeps its component untouched.
    // localCheckpoint (not cache): both frames' lineage reads
    // groups.parquet, which is deleted and replaced below — a cache
    // eviction after the swap would recompute against deleted files,
    // whereas a checkpoint severs the lineage up front.
    val touchedCanon = oldGroups.join(deltaIds, "member")
      .select(col("canonical")).distinct().localCheckpoint()
    val affectedOld = oldGroups.join(touchedCanon, "canonical")
    val oldPairs = affectedOld.select(array(col("member"), col("canonical")).as("ids"))
    // eager: materialised BEFORE overwriting the groups input
    val newGroups = Groups.fromIdSets(oldPairs.union(deltaSets)).localCheckpoint()

    val untouched = oldGroups.join(touchedCanon, Seq("canonical"), "left_anti")
      .select(col("member"), col("canonical"))
    val groupsNext = untouched.union(newGroups.select(col("member"), col("canonical")))
    // the fresh groups table is written ASIDE and only swapped into place
    // at the very end, AFTER the tombstones are durable: a retry of a
    // batch that crashed anywhere before the swap still sees the OLD
    // groups, so it re-derives the full touched-canonical set (including
    // canonicals the merge absorbs — once the swap happens those are no
    // longer reachable from the groups table, and only the already-
    // written tombstones cover them)
    groupsNext.write.mode(SaveMode.Overwrite).parquet(gNext.toString)
    val groupsFinal = spark.read.parquet(gNext.toString)

    // --- dirty detection over the ledger, map-side against the
    // delta-proportional member set
    val affectedMembers = newGroups.select(col("member")).distinct()
    val withUid = ledgerAll.toDF()
      .select(monotonically_increasing_id().as("uid"), struct(col("*")).as("node"))
      .as[(Long, IngestNode)]
      .localCheckpoint(false)
    val cands = withUid.flatMap { case (uid, n) =>
      (n.ids ++ n.props.keys ++ n.props.valuesIterator.flatten.map(_.value))
        .distinct.map((uid, _))
    }.toDF("uid", "member")
    val candDirtyUids = cands.join(deltaHint(affectedMembers), "member")
      .select(col("uid")).distinct()
    // canonical of each candidate-dirty record → the full dirty-clique set
    val firstIds = withUid.flatMap { case (uid, n) =>
      val valid = n.ids.filter(graft.curie.Ids.isValidId)
      valid.headOption.map(h => (uid, h))
    }.toDF("uid", "member")
    val dirtyCanon = firstIds.join(deltaHint(candDirtyUids), "uid")
      .join(groupsFinal, Seq("member"), "left")
      .select(coalesce(col("canonical"), col("member")).as("canonical")).distinct()
    val dirtyMembers = groupsFinal.join(deltaHint(dirtyCanon), "canonical")
      .select(col("member"))
      .union(dirtyCanon.select(col("canonical").as("member")))
      .distinct()
    val dirtyUids = firstIds.join(deltaHint(dirtyMembers), "member")
      .select(col("uid")).distinct()
    val dirtyRecords = withUid.toDF("uid", "node")
      .join(dirtyUids, "uid")
      .select(col("node.*")).as[IngestNode]

    // --- assign + merge ONLY the dirty cliques
    val assigned = GraftPipeline.superclassesToTypes(
      AssignIds.joinBased(spark, dirtyRecords, groupsFinal),
      config.typeSuperclasses, config.ancestorProp)
    val merged = Merge(spark, assigned, config.excludeProps)
      .map(_.copy(subgraph = config.name))
    merged.write.mode(SaveMode.Overwrite).parquet(s"${mergedRoot(dir)}/gen=$gen")

    // every recomputed clique's previous row dies at this generation
    // (rows written this gen survive the >= rule); canonicals that ceased
    // to exist never return because component minima are monotone
    val tombs = touchedCanon.select(col("canonical").as("nodeId"))
      .union(dirtyCanon.select(col("canonical").as("nodeId")))
      .distinct()
      .withColumn("gen", lit(gen))
    tombs.write.mode(SaveMode.Append).parquet(tombPath(dir))

    // swap the groups table into place (delete + rename; the recovery
    // check at the top heals a crash between the two steps)
    fsys.delete(gPath, true)
    fsys.rename(gNext, gPath)

    // the marker is written last and atomically, so its existence proves
    // the whole update landed
    batchKey.foreach(BatchLedger.markApplied(spark, dir, _))
  }

  /** Continuous ingestion: watch a staging directory of IngestNode
    * parquet batches (what any adapter writes) and apply each micro-batch
    * through [[update]]. `Trigger.AvailableNow` + the checkpoint give
    * exactly-once application across restarts — the streaming twin of
    * the file-ledger loop in `ConfigLoader.updateFromConfigFile`. The
    * checkpoint alone only gives at-least-once foreachBatch delivery;
    * true exactly-once comes from keying [[update]] by the Spark batchId,
    * which makes any redelivery (crash between the state mutation and the
    * checkpoint commit) an idempotent replay. Returns after draining
    * everything currently staged ([[graft.streaming.Replay.drain]]). */
  def applyStream(spark: SparkSession, config: SubgraphConfig, dir: String,
                  stagingDir: String): Unit = {
    import spark.implicits._
    val staged = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[IngestNode].schema)
      .parquet(stagingDir)
    graft.streaming.Replay.drain(staged, s"$dir/checkpoint") { (batch, batchId) =>
      update(spark, config, dir, batch.as[IngestNode], Some(s"stream-$batchId"))
    }
  }

  /** Merge-on-read view of the current graph: latest generation per
    * nodeId, minus rows superseded by a later tombstone. */
  def currentMerged(spark: SparkSession, dir: String): Dataset[MergedNode] = {
    import spark.implicits._
    val rows = spark.read.parquet(mergedRoot(dir)) // gen partition column
    val latest = rows
      .groupBy(col("nodeId"))
      .agg(max_by(struct(rows.columns.map(col): _*), col("gen")).as("r"))
      .select(col("r.*"))
    val current =
      if (BatchLedger.exists(spark, tombPath(dir))) {
        val tomb = spark.read.parquet(tombPath(dir))
          .groupBy(col("nodeId")).agg(max(col("gen")).as("tgen"))
        latest.join(tomb, Seq("nodeId"), "left")
          .where(col("tgen").isNull || col("gen") >= col("tgen"))
          .drop("tgen")
      } else latest
    current.drop("gen").as[MergedNode]
  }

  /** Refresh the serving KV store ([[graft.sinks.KvGenStore]]) from every
    * merged generation NOT YET RENDERED: re-rendered rows for every
    * re-merged clique, plus NULL delete tombstones for canonicals those
    * generations retired (tombstoned but not re-written — a clique whose
    * canonical id changed when it merged into another). The last-rendered
    * build generation is persisted IN THE KV PATH (`_last_build_gen`,
    * written atomically after the append), so calling refreshKv once
    * after SEVERAL update() generations renders all of them — there is
    * no silent one-refresh-per-update contract: a skipped refresh can
    * never serve stale values, it just makes the next refresh bigger.
    * Cost is O(changed cliques since the last refresh), never a
    * full-store rewrite — the serving-side twin of the build-side
    * generational state. When the store accumulates more than
    * `compactAfterGens` generations it is folded to one inline
    * ([[graft.sinks.KvGenStore.compact]] is crash-safe by ordering), so
    * point-lookup cost stays bounded without an operator remembering to
    * compact (TUNING.md documents the knob; ≤ 0 disables). Returns the
    * KV generation written. */
  def refreshKv(spark: SparkSession, dir: String, kvPath: String,
                compactAfterGens: Int = 8): Long = {
    import spark.implicits._
    val rows = spark.read.parquet(mergedRoot(dir))
    val g = rows.agg(max(col("gen"))).head().getInt(0).toLong
    val markerP = new org.apache.hadoop.fs.Path(s"$kvPath/_last_build_gen")
    val fsys = BatchLedger.fs(spark, kvPath)
    // absent marker (first refresh, or a store initialized before the
    // marker existed) → render everything: correct-if-wasteful, upserts
    // are idempotent re-renders of current rows
    val last: Long =
      if (fsys.exists(markerP)) {
        val in = fsys.open(markerP)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        txt.toLong
      } else 0L
    if (g <= last) return -1L // nothing new since the last refresh
    val win = rows.where(col("gen") > last)
    // latest row per nodeId among the un-rendered generations
    val latest = win
      .groupBy(col("nodeId"))
      .agg(max_by(struct(win.columns.map(col): _*), col("gen")).as("r"))
      .select(col("r.*"))
    val tombWin = BatchLedger.table(spark, tombPath(dir), "nodeId STRING, gen INT")
      .where(col("gen") > last)
      .groupBy(col("nodeId")).agg(max(col("gen")).as("tgen"))
    // a row superseded by a later tombstone within the window is dead
    val fresh = latest.join(tombWin, Seq("nodeId"), "left")
      .where(col("tgen").isNull || col("gen") >= col("tgen"))
      .drop("tgen").drop("gen").as[MergedNode]
    val recs = graft.sinks.Sinks.kvRecords(fresh)
    val dead = tombWin
      .select(col("nodeId").as("key"))
      .join(recs.select(col("key")), Seq("key"), "left_anti")
      .select(col("key"), lit(null).cast("string").as("value"))
    val kvGen = graft.sinks.KvGenStore.append(recs.union(dead), kvPath)
    // the marker write is atomic: a crash leaves either the old marker
    // (same window re-renders) or no marker (everything re-renders) — both
    // safe, upserts are idempotent re-renders of current rows
    BatchLedger.writeAtomically(spark, markerP.toString, s"$g\n")
    if (compactAfterGens > 0 &&
        graft.sinks.KvGenStore.generationCount(spark, kvPath) > compactAfterGens)
      graft.sinks.KvGenStore.compact(spark, kvPath)
    kvGen
  }

  /** Compact the generational store into gen=1 (optional maintenance —
    * readers pay one dedup shuffle until compaction). Write-aside then
    * swap, like the groups update: the source generations are only
    * deleted AFTER the compacted copy is durably on disk, so a failure
    * mid-compaction never loses state (a cache-then-delete would
    * recompute lineage against deleted files on any eviction). */
  def compact(spark: SparkSession, dir: String): Unit = {
    val tmp = s"${mergedRoot(dir)}.tmp"
    currentMerged(spark, dir).write.mode(SaveMode.Overwrite).parquet(s"$tmp/gen=1")
    val f = BatchLedger.fs(spark, dir)
    f.delete(new org.apache.hadoop.fs.Path(mergedRoot(dir)), true)
    f.delete(new org.apache.hadoop.fs.Path(tombPath(dir)), true)
    f.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(mergedRoot(dir)))
  }
}
