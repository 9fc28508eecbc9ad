package graft.operators

import graft.core.{QueryDef, QueryModule, Tables, Tokens}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Deduplication operators for a training-data pipeline (exact, n-gram
  * Jaccard, MinHash+LSH, SimHash).
  *
  * Scale design:
  *   - exact dedup is one hash-groupBy — a single shuffle on the content
  *     hash, map-side combined;
  *   - the pairwise Jaccard verifier joins on the *shingle* (inverted
  *     index), so cost is Σ per-shingle df² — word-level 3-gram shingles
  *     keep document frequency low (char n-grams would saturate);
  *   - MinHash+LSH is the 100 TB path: signatures are a map-side scan +
  *     one groupBy, candidate generation joins on band keys only, and the
  *     exact verifier runs on candidates instead of all pairs;
  *   - all hashing is md5-based and thresholds are integer inequalities
  *     (3·inter ≥ |A|+|B| ⟺ J ≥ 0.5), so results are engine-exact.
  */
object Dedup extends QueryModule {

  /** Distinct word-level 3-gram shingles per document.
    *
    * Typed flatMap rather than a sequence/transform/explode HOF chain:
    * Catalyst evaluates nested higher-order functions interpreted (outside
    * WholeStageCodegen), which measured ~20× slower than this tight JVM
    * loop at sf0.1. A generator-shaped op with per-row loops is the one
    * place `mapPartitions`-style typed code beats built-ins. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesFrom(s, Tables.documents(s, d))

  /** Same derivation over an arbitrary (doc_id, text) frame — so callers
    * that pre-filter documents (d7's exact-dup pre-route) shingle only
    * what survives, instead of shingling the corpus and filtering after. */
  private def shinglesFrom(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) => shinglesOf(t).map((id, _)) }
      .toDF("doc_id", "s")
  }

  /** The shingle set of one document (row-local twin of [[shingles]]). */
  private[graft] def shinglesOf(text: String): Seq[String] =
    (if (text == null) "" else text).trim.split("\\s+").toSeq
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq.distinct

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Minhash permutation family (round 15): ONE md5 per shingle,
    * reduced to a 60-bit integer (15-hex-char prefix — `conv(...,16,10)`
    * in Spark, `('0x'||..)::BIGINT` in DuckDB, bit-identical) and folded
    * mod p = 2^31-1, then 16 affine permutations
    * h_j(x) = (a_j*x + b_j) mod p — [[graft.core.Exact.minhashA]]'s
    * GEOMETRIC per-component constants (the d12 lesson: linear-in-j
    * multipliers make every component share one argmin and the LSH
    * S-curve collapses), the construction
    * org.apache.spark.ml.feature.MinHashLSH itself uses. This replaces
    * d3/d10/d18/d21's original 16-independent-md5-draws-per-shingle
    * family: ~16x less hashing on the corpus-dominant signature stage,
    * and the signature aggregate carries 16 longs per doc instead of 16
    * hex strings (measured: TUNING.md round-15 d3 line). All products
    * stay under 2^62, so Spark long and DuckDB BIGINT agree exactly.
    * Estimator QUALITY stays pinned by d10's estimate-vs-TRUTH spec
    * (ground truth, never an oracle mirror — the spec that would catch
    * a degenerate family); the row-local twin [[bandKeysOf]], every SQL
    * oracle and the streaming/incremental consumers read the same
    * construction, so nothing can fork. */
  private def minhashSigExprs: Seq[org.apache.spark.sql.Column] = {
    import graft.core.Exact.{minhashA, minhashB, MinhashP => P}
    val hm = conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long") % P
    // components 17..32 of the family: d12 draws 1..16, so the two
    // gates remain independent draws rather than one gate twice
    (1 to 16).map(j =>
      min((hm * lit(minhashA(16 + j)) + lit(minhashB(16 + j))) % P).as(s"m$j"))
  }

  /** The identical construction for the SQL oracles — interpolating the
    * same constants, so engine and oracle cannot drift. */
  private[graft] def sigColsSql: String = {
    import graft.core.Exact.{minhashA, minhashB, MinhashP => P}
    (1 to 16).map(j =>
      s"min(((('0x' || substr(md5(s), 1, 15))::BIGINT % $P) * ${minhashA(16 + j)} + ${minhashB(16 + j)}) % $P) AS m$j")
      .mkString(",\n    ")
  }

  /** The 4 LSH band keys of one document, computed ROW-LOCALLY (all of a
    * doc's shingles are in hand, so the 16 minhash mins fold in a loop —
    * no shuffle). Byte-identical to the DataFrame path in
    * [[minhashLshFrom]] (same affine-permutation signature mins, same
    * `md5("b|m..|m..")` band keys over their decimal rendering; DedupSpec
    * pins the equivalence), which is what lets a STREAM of new documents
    * probe a static band index. */
  private[graft] def bandKeysOf(shingles: Seq[String]): Seq[String] =
    if (shingles.isEmpty) Nil
    else {
      import graft.core.Exact.{minhashA, minhashB, MinhashP => P}
      val hms = shingles.map(x =>
        java.lang.Long.parseLong(md5Hex(x).substring(0, 15), 16) % P)
      val mins = (1 to 16).map { j =>
        val (a, b) = (minhashA(16 + j), minhashB(16 + j))
        hms.iterator.map(h => (h * a + b) % P).min
      }
      (0 until 4).map(b =>
        md5Hex((b.toString +: (1 to 4).map(r => mins(b * 4 + r - 1).toString))
          .mkString("|")))
    }

  /** Hot-bucket cap for banded-LSH candidate generation. A band bucket of
    * k members yields k²/2 candidate pairs from the naive self-join; real
    * pre-training corpora carry million-copy boilerplate cliques whose
    * members share EVERY band, so one bucket alone would emit ~10¹² pairs
    * — a task that never finishes at 100 TB even though the plan is an
    * equi-join. Buckets at or under the cap keep the exact pair join
    * (fixture-scale results are byte-identical to the uncapped oracle);
    * buckets above it star-connect to the bucket minimum instead — O(k)
    * candidates. Exactness above the cap is guaranteed only for true
    * exact-duplicate cliques (where every member verifies against every
    * other, so the star spans the same component): an arbitrary hot
    * bucket is just a band-key collision, and a pair of non-minimum
    * members that would verify only against EACH OTHER is not enumerated
    * — which is why [[hotBandBuckets]] is the explicit overflow ledger a
    * production run persists (the TUNING.md contract: truncation is
    * never silent). */
  private[graft] val HotBucketCap = 1000

  /** Candidate pairs `(da < db)` from a banded index `(idCol, band)` with
    * the hot-bucket guard: per-band size/min via one window (a single
    * shuffle on the band key), exact pair join for cold buckets,
    * star-to-minimum for hot ones. */
  private[graft] def bandCandidates(bands: DataFrame, idCol: String,
      cap: Int = HotBucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"))
    val sized = bands.select(col("band"), col(idCol).as("_bid"))
      .withColumn("_bn", count(lit(1)).over(w))
      .withColumn("_bmin", min(col("_bid")).over(w))
    val cold = sized.where(col("_bn") <= cap).select(col("band"), col("_bid"))
    val coldPairs = cold.as("x").join(cold.as("y"),
        col("x.band") === col("y.band") && col("x._bid") < col("y._bid"))
      .select(col("x._bid").as("da"), col("y._bid").as("db"))
    val hotPairs = sized.where(col("_bn") > cap && col("_bid") =!= col("_bmin"))
      .select(col("_bmin").as("da"), col("_bid").as("db"))
    coldPairs.union(hotPairs).distinct()
  }

  /** Overflow ledger for [[bandCandidates]]: the band buckets whose pair
    * space was capped, with their sizes — what a 100 TB run persists next
    * to the candidate set so truncation is never silent. */
  private[graft] def hotBandBuckets(bands: DataFrame, idCol: String,
      cap: Int = HotBucketCap): DataFrame =
    bands.groupBy("band").agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > cap)

  // per-doc position bound via the scalar (correlated) generate_series —
  // no fixture-size cap to silently outgrow
  private val shinglesSql: String =
    """w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w))""".stripMargin

  // ---------------------------------------------------------------------

  /** d1 — exact dedup: group by content hash, keep the smallest doc_id as
    * canonical. */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))

  val exactDedupSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin

  // ---------------------------------------------------------------------

  /** d2 — exact n-gram Jaccard near-dup pairs via inverted-index join:
    * J(a,b) ≥ 0.5 expressed as 3·|A∩B| ≥ |A|+|B|. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(sz.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
      .where(lit(3) * col("inter") >= col("na") + col("nb"))
      .select(col("da"), col("db"), col("inter"), col("na"), col("nb"))
      .orderBy(col("da"), col("db"))
  }

  val ngramJaccardSql: String =
    s"""WITH $shinglesSql,
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da, db, inter, x.n AS na, y.n AS nb
      |FROM inter JOIN sz x ON x.doc_id = da JOIN sz y ON y.doc_id = db
      |WHERE 3 * inter >= x.n + y.n
      |ORDER BY da, db""".stripMargin

  // ---------------------------------------------------------------------

  /** d3 — MinHash + banded LSH, then exact verification of candidates.
    * 16 hashes (min of md5("j|" + shingle)), 4 bands × 4 rows; a pair is
    * a candidate iff it agrees on at least one band. This is the operator
    * that survives 100 TB: no all-pairs stage anywhere — candidates come
    * from equality joins on band keys. */
  def minhashLsh(s: SparkSession, d: String): DataFrame = {
    // no .cache(): a returned-but-cached DataFrame leaks executor storage
    // for the rest of the session (Verify runs 60+ queries in one); the
    // shingle derivation recomputes in well under a second
    val sh = shingles(s, d)
    minhashLshFrom(sh)
  }

  /** Scale variant of d3: shingles AND signatures persist to parquet
    * between stages, so downstream consumers (band generation, candidate
    * join, exact verification) each read a columnar store instead of
    * re-deriving from raw text. At sf0.1 recompute is cheaper than the
    * write; at 100 TB the derivation dominates and this is the shape you
    * run — identical output (DedupSpec pins it). */
  def minhashLshStaged(s: SparkSession, d: String, workDir: String): DataFrame = {
    shingles(s, d).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$workDir/shingles.parquet")
    minhashLshFrom(s.read.parquet(s"$workDir/shingles.parquet"),
      sigStore = Some((s, s"$workDir/signatures.parquet")),
      ledger = Some(s"$workDir/hot_buckets.parquet"))
  }

  /** The 16-min minhash signature frame of a `(doc_id, s)` shingle frame
    * — one groupBy, all mins map-side-combined. */
  private def minhashSig(sh: DataFrame): DataFrame = {
    val sigExprs = minhashSigExprs
    sh.groupBy("doc_id").agg(sigExprs.head, sigExprs.tail: _*)
  }

  /** All 4 band keys of a signature frame from ONE pass (array + explode)
    * — 4 unioned projections would recompute the 16-min aggregation per
    * band on an unstaged plan. */
  private def bandsOfSig(sig: DataFrame): DataFrame = {
    val bandExprs = (0 until 4).map { b =>
      val ms = (1 to 4).map(r => col(s"m${b * 4 + r}"))
      md5(concat_ws("|", lit(b.toString) +: ms: _*))
    }
    sig.select(col("doc_id"), explode(array(bandExprs: _*)).as("band"))
  }

  private def minhashLshFrom(sh: DataFrame,
      sigStore: Option[(SparkSession, String)] = None,
      ledger: Option[String] = None): DataFrame = {
    var sig = minhashSig(sh)
    sigStore.foreach { case (s, dir) =>
      sig.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
      sig = s.read.parquet(dir)
    }
    val bands = bandsOfSig(sig)
    ledger.foreach(p => hotBandBuckets(bands, "doc_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p))
    val cand = bandCandidates(bands, "doc_id")
    // Exact verification on CANDIDATES ONLY: attach each side's shingle
    // set and intersect per pair — cost is O(|candidates| · shingles/doc),
    // never the corpus-wide inverted-index pair join (that would redo the
    // O(Σ df²) work LSH exists to avoid).
    val sets = sh.groupBy("doc_id")
      .agg(collect_set(col("s")).as("set"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("da"), col("set").as("sa"), col("n").as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), col("set").as("sb"), col("n").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .where(lit(3) * col("inter") >= col("na") + col("nb"))
      .select(col("da"), col("db"), col("inter"), col("na"), col("nb"))
      .orderBy(col("da"), col("db"))
  }

  val minhashLshSql: String = {
    val sigCols = sigColsSql
    val bandSelects = (0 until 4).map { b =>
      val ms = (1 to 4).map(r => s"m${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, md5('$b' || '|' || $ms) AS band FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $shinglesSql,
      |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT cand.da AS da, cand.db AS db, inter, x.n AS na, y.n AS nb
      |FROM cand JOIN inter ON inter.da = cand.da AND inter.db = cand.db
      |JOIN sz x ON x.doc_id = cand.da JOIN sz y ON y.doc_id = cand.db
      |WHERE 3 * inter >= x.n + y.n
      |ORDER BY da, db""".stripMargin
  }

  // ---------------------------------------------------------------------

  /** d4 — 64-bit SimHash over distinct whitespace tokens, token bits from
    * the first 16 hex digits of md5(token). Map-side except one groupBy
    * per (doc, bit); emitted as a 16-hex-char signature. */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val digits = toks.select(col("doc_id"),
        explode(sequence(lit(1), lit(16))).as("p"),
        col("h"))
      .withColumn("v", conv(substring(col("h"), col("p"), lit(1)), 16, 10).cast("int"))
    val bits = digits.select(col("doc_id"), col("p"),
        explode(sequence(lit(0), lit(3))).as("b"), col("v"))
      .withColumn("contrib", expr("2 * (shiftright(v, b) & 1) - 1"))
    val bitVals = bits.groupBy(col("doc_id"), col("p"), col("b"))
      .agg(sum(col("contrib")).as("sum"))
      .withColumn("bit", (col("sum") > 0).cast("int"))
    val nibbles = bitVals.groupBy(col("doc_id"), col("p"))
      .agg(sum(expr("bit * shiftleft(1, b)")).as("nib"))
      .withColumn("ch", substring(lit("0123456789abcdef"), col("nib").cast("int") + 1, lit(1)))
    nibbles.groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("p"), col("ch")))),
        x => x.getField("ch")), "").as("simhash"))
      .orderBy(col("doc_id"))
  }

  val simhashSql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |digits AS (
      |  SELECT doc_id, g.p,
      |    strpos('0123456789abcdef', substr(md5(tok), g.p, 1)) - 1 AS v
      |  FROM toks CROSS JOIN generate_series(1, 16) g(p)),
      |bits AS (
      |  SELECT doc_id, p, gb.b,
      |    2 * ((v >> gb.b) & 1) - 1 AS contrib
      |  FROM digits CROSS JOIN generate_series(0, 3) gb(b)),
      |bitvals AS (
      |  SELECT doc_id, p, b, CAST(sum(contrib) > 0 AS INT) AS bit
      |  FROM bits GROUP BY doc_id, p, b),
      |nibbles AS (
      |  SELECT doc_id, p, sum(bit * (1 << b)) AS nib
      |  FROM bitvals GROUP BY doc_id, p)
      |SELECT doc_id,
      |  string_agg(substr('0123456789abcdef', CAST(nib AS INT) + 1, 1), '' ORDER BY p) AS simhash
      |FROM nibbles GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d5 — embedding-cosine near-duplicate pairs. Candidates come from
    * banded sign-LSH (4 bands × 4 hyperplane sign bits over the leading
    * dims — a pair is a candidate iff it agrees on at least one whole
    * band), then exact verification on candidates only. The cosine
    * threshold is the integer inequality 25·dot² ≥ 4·‖a‖²·‖b‖² with
    * dot > 0 (⟺ cos ≥ 0.4) over 1e3-quantized vectors, so both engines
    * agree bit-for-bit and nothing overflows int64 (|q| ≤ 580 ⇒
    * 25·dot² ≤ ~1.2e16). Same no-all-pairs shape as d3: band equi-joins
    * only, never the O(N²) pair space. */
  def embeddingNearDup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.DotProductL
    val q = Tables.embeddings(s, d).select(col("vec_id"),
      graft.core.Exact.quantize(col("embedding"), 1000).as("qv"))
    // all 4 band keys from ONE scan (array + explode), not 4 unioned
    // projections each re-reading the table — at 100 TB the band stage is
    // one pass over the embeddings, mirroring the oracle's single q CTE
    val bandExprs = (0 until 4).map { b =>
      val bits = (1 to 4).map(i =>
        (element_at(col("qv"), 4 * b + i) >= 0).cast("int").cast("string"))
      md5(concat(lit(s"$b|") +: bits: _*))
    }
    val bands = q.select(col("vec_id"), explode(array(bandExprs: _*)).as("band"))
    val cand = bandCandidates(bands, "vec_id")
      .select(col("da").as("va"), col("db").as("vb"))
    val withNorm = q.withColumn("nrm", DotProductL(col("qv"), col("qv")))
    cand
      .join(withNorm.select(col("vec_id").as("va"), col("qv").as("qa"), col("nrm").as("na")), "va")
      .join(withNorm.select(col("vec_id").as("vb"), col("qv").as("qb"), col("nrm").as("nb")), "vb")
      .withColumn("dot", DotProductL(col("qa"), col("qb")))
      .where(col("dot") > 0 &&
        lit(25) * col("dot") * col("dot") >= lit(4) * col("na") * col("nb"))
      .select(col("va"), col("vb"), col("dot"), col("na"), col("nb"))
      .orderBy(col("va"), col("vb"))
  }

  val embeddingNearDupSql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    ${graft.core.Exact.sqlQuantize("embedding", 1000)} AS qv
      |  FROM embeddings),
      |bands AS (
      |  SELECT vec_id, md5(CAST(b AS VARCHAR) || '|' ||
      |      CAST(qv[4*b+1] >= 0 AS INT) || CAST(qv[4*b+2] >= 0 AS INT) ||
      |      CAST(qv[4*b+3] >= 0 AS INT) || CAST(qv[4*b+4] >= 0 AS INT)) AS band
      |  FROM q CROSS JOIN generate_series(0, 3) g(b)),
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.vec_id < y.vec_id)
      |SELECT va, vb, dot, na, nb FROM (
      |  SELECT va, vb,
      |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS BIGINT) AS dot,
      |    CAST(list_sum(list_transform(a.qv, x -> x * x)) AS BIGINT) AS na,
      |    CAST(list_sum(list_transform(b.qv, x -> x * x)) AS BIGINT) AS nb
      |  FROM cand JOIN q a ON a.vec_id = va JOIN q b ON b.vec_id = vb)
      |WHERE dot > 0 AND 25 * dot * dot >= 4 * na * nb
      |ORDER BY va, vb""".stripMargin

  /** d6 — exact-substring (window) dedup signals: every word 8-gram of
    * every document, deduplicated per doc, grouped across the corpus;
    * windows appearing in more than one document mark repeated training
    * text (the exact-substring dedup signal of Lee et al.-style corpus
    * cleaning, at window granularity). Output per doc: distinct windows
    * and how many of them are shared with ANY other document. Plan: one
    * typed flatMap (windows), one distinct, one groupBy on the window
    * hash, one semi-join back — no pairwise stage anywhere, so the shape
    * survives the corpus-scale blow-up (the all-pairs alternative is
    * quadratic in documents-per-window). */
  def windowDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val windows = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = Tokens.words(text)
        (0 to ws.length - 8).iterator.map(i => (id, ws.slice(i, i + 8).mkString(" ")))
      }
      .toDF("doc_id", "w")
      .distinct()
    val shared = windows.groupBy("w").agg(count(lit(1)).as("docs"))
      .where(col("docs") > 1)
      .select(col("w"))
    val sharedPerDoc = windows.join(shared, "w")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    windows.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      .join(sharedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  // per-doc start-position bound (scalar generate_series returns a list,
  // so it CAN be correlated, unlike the table function) — no fixture-size
  // cap to silently outgrow
  val windowDedupSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(list_slice(ws, i, i + 7), ' ') AS g
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w)),
      |shared AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_windows,
      |  CAST(coalesce(sum(CASE WHEN s.g IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_shared
      |FROM grams LEFT JOIN shared s USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** d7 — near-dup CLUSTERS with canonical selection: the actual "dedup"
    * action that d3's pair list feeds. Verified LSH pairs become edges,
    * [[graft.identity.ConnectedComponents]] (large-star/small-star —
    * the same operator that merges identifier cliques) folds them into
    * clusters, and the min doc_id per cluster is kept as the canonical
    * copy. Every document appears: singletons keep themselves.
    * Scale shape: pairs are LSH-band-joined (never all-pairs), CC runs
    * one job per round over the pair set only, and the final
    * labeling is one left join — near-dup clusters are tiny, so the CC
    * input is a vanishing fraction of the corpus. doc_ids are zero-padded
    * for the string-ordered CC so lexicographic min = numeric min.
    *
    * EXACT-DUP PRE-ROUTE: documents are first collapsed by content hash
    * (d1's one groupBy) and only each exact group's minimum-id
    * representative enters shingling/LSH — a million-copy boilerplate
    * clique contributes ONE doc to the band index instead of a bucket
    * that [[bandCandidates]] would have to cap. Members inherit their
    * representative's component; since exact copies share every shingle
    * (hence every band and a J=1 verify), the PRE-ROUTE itself changes
    * nothing versus running LSH over the full corpus. The remaining
    * near-dup stage still carries [[HotBucketCap]]'s caveat: a non-exact
    * bucket over the cap may under-enumerate pairs between non-minimum
    * members, recorded in the [[hotBandBuckets]] ledger. */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        md5(coalesce(col("text"), lit(""))).as("h"))
    val exactRep = hashed.groupBy("h").agg(min(col("doc_id")).as("xrep"))
    val docRep = hashed.select(col("doc_id"), col("h")).join(exactRep, "h")
      .select(col("doc_id"), col("xrep"))
    val repDocs = hashed
      .join(exactRep.withColumnRenamed("xrep", "doc_id"), Seq("h", "doc_id"))
      .select(col("doc_id"), col("text"))
    val pairs = minhashLshFrom(shinglesFrom(s, repDocs)).select(col("da"), col("db"))
    def pad(c: Column) = format_string("%020d", c)
    val edges = pairs.select(pad(col("da")).as("src"), pad(col("db")).as("dst"))
    val cc = graft.identity.ConnectedComponents.run(edges)
    val labeled = docRep
      .join(cc.withColumnRenamed("member", "m"), pad(col("xrep")) === col("m"), "left")
      .select(col("doc_id"),
        coalesce(col("component").cast("long"), col("xrep")).as("rep_id"))
    val sizes = labeled.groupBy(col("rep_id")).agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "rep_id")
      .select(col("doc_id"), col("rep_id"), col("cluster_size"),
        (col("doc_id") === col("rep_id")).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE
      |pairs AS (SELECT da, db FROM ($minhashLshSql)),
      |edges AS (SELECT da AS a, db AS b FROM pairs
      |          UNION SELECT db, da FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
      |rep AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id),
      |sz AS (SELECT rep_id, count(*) AS cluster_size FROM rep GROUP BY rep_id)
      |SELECT r.doc_id, r.rep_id, CAST(sz.cluster_size AS BIGINT) AS cluster_size,
      |  CAST(CASE WHEN r.doc_id = r.rep_id THEN 1 ELSE 0 END AS INT) AS keep
      |FROM rep r JOIN sz USING (rep_id)
      |ORDER BY r.doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** d8 — SimHash near-dup PAIRS, the Manku-style web-dedup algorithm on
    * top of d4's signatures: split the 64-bit simhash into 4×16-bit
    * chunks; by pigeonhole, any pair within Hamming distance 3 shares at
    * least one identical chunk, so candidates come from equi-joins on the
    * (chunk index, chunk value) band key — complete AND never all-pairs —
    * and verification is an exact popcount over the XOR of the chunks.
    * Everything is integer, and the band-join shape is the same one that
    * lets d3/d5 survive corpus scale. */
  def simhashNearDup(s: SparkSession, d: String): DataFrame = {
    val chunkCols = (0 until 4).map(c =>
      substring(col("simhash"), c * 4 + 1, 4).as(s"c$c"))
    val t = simhash(s, d).select(col("doc_id") +: chunkCols: _*)
    val bandKeys = (0 until 4).map(c => concat_ws("|", lit(c.toString), col(s"c$c")))
    val bands = t.select(col("doc_id"), explode(array(bandKeys: _*)).as("band"))
    val cand = bandCandidates(bands, "doc_id")
    def chunksOf(alias: String, idCol: String) = t.select(
      col("doc_id").as(idCol) +: (0 until 4).map(c => col(s"c$c").as(s"$alias$c")): _*)
    val hamming = (0 until 4).map(c =>
        bit_count(conv(col(s"a$c"), 16, 10).cast("int")
          .bitwiseXOR(conv(col(s"b$c"), 16, 10).cast("int"))))
      .reduce(_ + _).cast("int")
    cand.join(chunksOf("a", "da"), "da").join(chunksOf("b", "db"), "db")
      .withColumn("hamming", hamming)
      .where(col("hamming") <= 3)
      .select(col("da"), col("db"), col("hamming"))
      .orderBy(col("da"), col("db"))
  }

  val simhashNearDupSql: String = {
    val bandSelects = (0 until 4).map(c =>
      s"SELECT doc_id, '$c|' || c$c AS band FROM t").mkString("\n  UNION ALL\n  ")
    val hamming = (0 until 4).map(c =>
      s"bit_count(xor(('0x' || a.c$c)::INT, ('0x' || b.c$c)::INT))").mkString(" + ")
    s"""WITH sig AS (SELECT doc_id, simhash FROM ($simhashSql)),
      |t AS (SELECT doc_id, substr(simhash, 1, 4) AS c0, substr(simhash, 5, 4) AS c1,
      |        substr(simhash, 9, 4) AS c2, substr(simhash, 13, 4) AS c3 FROM sig),
      |bands AS (
      |  $bandSelects),
      |sized AS (
      |  SELECT doc_id, band,
      |    count(*) OVER (PARTITION BY band) AS bn,
      |    min(doc_id) OVER (PARTITION BY band) AS bmin
      |  FROM bands),
      |cand AS (
      |  SELECT DISTINCT da, db FROM (
      |    SELECT x.doc_id AS da, y.doc_id AS db
      |    FROM sized x JOIN sized y ON y.band = x.band
      |      AND x.doc_id < y.doc_id AND x.bn <= $HotBucketCap
      |    UNION ALL
      |    SELECT bmin, doc_id FROM sized WHERE bn > $HotBucketCap AND doc_id != bmin))
      |SELECT da, db, hamming FROM (
      |  SELECT da, db, CAST($hamming AS INT) AS hamming
      |  FROM cand JOIN t a ON a.doc_id = da JOIN t b ON b.doc_id = db)
      |WHERE hamming <= 3 ORDER BY da, db""".stripMargin
  }

  // ---------------------------------------------------------------------

  /** d10 — MinHash ESTIMATOR EVALUATION: for every d3 band candidate
    * pair, the sketch-side Jaccard estimate (matching slots out of 16,
    * E[est16/16] = J) next to the exact intersection — the
    * measure-the-sketch gate that tells a pipeline operator whether 16
    * permutations are enough before trusting d3's candidates at corpus
    * scale (s5 plays the same role for ANN recall). Candidates and
    * signatures reuse d3's exact construction (the shared
    * [[minhashSigExprs]]/[[sigColsSql]] pair), so this also pins
    * sketch/verifier agreement across implementations. */
  /** The 16-permutation signature over any `(doc_id, s)` shingle frame —
    * exposed so the estimate-vs-TRUTH spec can drive it on sets of known
    * Jaccard similarity (the round-11 d12 lesson: only ground truth
    * catches a degenerate permutation family; a mirrored oracle cannot). */
  private[graft] def minhash16(sh: DataFrame): DataFrame = {
    val sigExprs = minhashSigExprs
    sh.groupBy("doc_id").agg(sigExprs.head, sigExprs.tail: _*)
  }

  def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val sig = minhash16(sh)
    val bandExprs = (0 until 4).map { b =>
      val ms = (1 to 4).map(r => col(s"m${b * 4 + r}"))
      md5(concat_ws("|", lit(b.toString) +: ms: _*))
    }
    val bands = sig.select(col("doc_id"), explode(array(bandExprs: _*)).as("band"))
    val cand = bandCandidates(bands, "doc_id")
    val est = (1 to 16).map(j =>
      (col(s"a.m$j") === col(s"b.m$j")).cast("long")).reduce(_ + _)
    val sets = sh.groupBy("doc_id")
      .agg(collect_set(col("s")).as("set"), count(lit(1)).as("n"))
    cand
      .join(sig.as("a"), col("a.doc_id") === col("da"))
      .join(sig.as("b"), col("b.doc_id") === col("db"))
      .withColumn("est16", est)
      .join(sets.select(col("doc_id").as("da"), col("set").as("sa"), col("n").as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), col("set").as("sb"), col("n").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .select(col("da"), col("db"), col("est16"), col("inter"), col("na"), col("nb"))
      .orderBy(col("da"), col("db"))
  }

  val minhashEstimateSql: String = {
    val sigCols = sigColsSql
    val bandSelects = (0 until 4).map { b =>
      val ms = (1 to 4).map(r => s"m${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, md5('$b' || '|' || $ms) AS band FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val est = (1 to 16).map(j => s"CAST(a.m$j = b.m$j AS BIGINT)").mkString(" + ")
    s"""WITH $shinglesSql,
      |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT c.da, c.db, $est AS est16,
      |  coalesce(i.inter, 0) AS inter, x.n AS na, y.n AS nb
      |FROM cand c
      |JOIN sig a ON a.doc_id = c.da JOIN sig b ON b.doc_id = c.db
      |LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
      |JOIN sz x ON x.doc_id = c.da JOIN sz y ON y.doc_id = c.db
      |ORDER BY c.da, c.db""".stripMargin
  }

  // ---------------------------------------------------------------------

  /** d9 — SEMANTIC dedup, the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540): k-means the embedding space, then search for
    * near-duplicate pairs ONLY within a cluster — the cluster id plays
    * the candidate-bucket role that band keys play in d3/d5, bounding the
    * pair space to Σ|cluster|² instead of N².
    *
    * The k-means here is a real Lloyd iteration, not a fixed hash:
    * centroids seed from the k lowest vec_ids, one assignment pass, one
    * element-wise integer-mean update, one reassignment. Everything is
    * integer arithmetic over 1e3-quantized vectors (sums of longs are
    * order-independent; `div` truncates toward zero in both engines), so
    * the cluster assignment — and therefore the output — is engine-exact.
    *
    * Scale shape: the centroid frame is k rows however big the corpus is,
    * so every assignment pass is a broadcast crossJoin (k candidates per
    * vector, argmin via one row_number window on vec_id) and the update
    * is one groupBy(cell, dim) — no driver-side model state at all. A
    * production run adds iterations by looping the same two stages with a
    * localCheckpoint per round (the CC pattern, Identity.scala); two
    * passes are enough to pin the semantics under the oracle gate.
    * Near-dup verify: cos ≥ 0.4 as the integer inequality
    * 25·dot² ≥ 4·|a|²·|b|² with dot > 0 (same form as d5 — quantized at
    * 1e3, the largest term is 25·(64·10⁶)² ≈ 10¹⁷, inside int64). */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.DotProductL
    import org.apache.spark.sql.expressions.Window
    val k = 8
    // one Lloyd round through the factored library op (graft.ml.KMeans —
    // byte-identical to the inlined original; the oracle unrolls the same
    // CTE chain)
    val (a2raw, _) = graft.ml.KMeans.fit(
      Tables.embeddings(s, d).select(col("vec_id").as("id"),
        graft.core.Exact.quantize(col("embedding"), 1000).as("qv")),
      k, rounds = 1)
    val a2 = a2raw.withColumnRenamed("id", "vec_id")

    // candidates = same final cluster only (never all-pairs)
    val a = a2.select(col("cell"), col("vec_id").as("va"), col("qv").as("qa"), col("qq").as("na"))
    val b = a2.select(col("cell"), col("vec_id").as("vb"), col("qv").as("qb"), col("qq").as("nb"))
    a.join(b, "cell").where(col("va") < col("vb"))
      .withColumn("dot", DotProductL(col("qa"), col("qb")))
      .where(col("dot") > 0 &&
        lit(25) * col("dot") * col("dot") >= lit(4) * col("na") * col("nb"))
      .select(col("cell"), col("va"), col("vb"), col("dot"))
      .orderBy(col("cell"), col("va"), col("vb"))
  }

  val semanticDedupSql: String = {
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    val assign = (from: String) =>
      s"""SELECT vec_id, qv, qq, cell FROM (
         |    SELECT e.vec_id, e.qv, e.qq, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        e.qq + c.cc - 2 * ${dot("e.qv", "c.cv")}, c.cell) AS rn
         |    FROM qn e CROSS JOIN $from c)
         |  WHERE rn = 1""".stripMargin
    s"""WITH q AS (
      |  SELECT vec_id, ${graft.core.Exact.sqlQuantize("embedding", 1000)} AS qv
      |  FROM embeddings),
      |qn AS (
      |  SELECT vec_id, qv, ${dot("qv", "qv")} AS qq FROM q),
      |c0 AS (
      |  SELECT vec_id AS cell, qv AS cv, ${dot("qv", "qv")} AS cc
      |  FROM q WHERE vec_id < 8),
      |a1 AS (
      |  ${assign("c0")}),
      |c1d AS (
      |  SELECT cell, i, CAST(sum(v) AS BIGINT) // count(*) AS m
      |  FROM (SELECT cell, unnest(qv) AS v,
      |          unnest(generate_series(1, len(qv))) AS i FROM a1)
      |  GROUP BY cell, i),
      |c1 AS (
      |  SELECT cell, cv, ${dot("cv", "cv")} AS cc
      |  FROM (SELECT cell, list(m ORDER BY i) AS cv FROM c1d GROUP BY cell)),
      |a2 AS (
      |  ${assign("c1")})
      |SELECT cell, va, vb, dot FROM (
      |  SELECT a.cell AS cell, a.vec_id AS va, b.vec_id AS vb,
      |    ${dot("a.qv", "b.qv")} AS dot, a.qq AS na, b.qq AS nb
      |  FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id)
      |WHERE dot > 0 AND 25 * dot * dot >= 4 * na * nb
      |ORDER BY cell, va, vb""".stripMargin
  }

  // ---------------------------------------------------------------------

  /** d11 — CONTENT-DEFINED CHUNKING dedup signals (the rsync/LBFS
    * boundary trick): a chunk boundary falls AFTER codepoint i whenever
    * the hash of the 8-codepoint window ending at i starts with hex '0'
    * (p = 1/16 → ~16-codepoint expected chunks). Because boundaries
    * depend only on LOCAL content, inserting a prefix shifts every
    * fixed-window key (d6's weakness) but leaves CDC chunks after the
    * edit point identical — which is why chunk-store dedup uses it.
    * Per doc: distinct chunk hashes and how many are shared with any
    * other document. Chunking is one codepoint-exact map pass; sharing
    * is one groupBy on the chunk hash + a map-side join back — no
    * pairwise stage (d6's scale shape). */
  /** Row-local CDC chunker (the flatMap body of [[cdcChunks]], exposed so
    * the shift-robustness property is spec-testable): distinct md5 hashes
    * of the content-defined chunks of one document. */
  private[graft] def cdcHashesOf(text: String, w: Int = 8): Set[String] = {
    val cps = (if (text == null) "" else text).codePoints().toArray
    val n = cps.length
    val bounds = scala.collection.mutable.SortedSet.empty[Int]
    var i = w
    while (i <= n) {
      if (md5Hex(new String(cps, i - w, w)).charAt(0) == '0') bounds += i
      i += 1
    }
    if (n > 0) bounds += n
    var prev = 0
    val hs = scala.collection.mutable.HashSet.empty[String]
    bounds.foreach { b => hs += md5Hex(new String(cps, prev, b - prev)); prev = b }
    hs.toSet
  }

  def cdcChunks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = 8
    val ch = Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) => cdcHashesOf(t, w).iterator.map((id, _)) }
      .toDF("doc_id", "h")
    val g = ch.groupBy("h").agg(count(lit(1)).as("docs"))
    val per = ch.join(g, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum((col("docs") > 1).cast("long")).as("n_shared"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  val cdcChunksSql: String =
    """WITH dt AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
      |b AS (
      |  SELECT doc_id, i FROM (
      |    SELECT doc_id, text, unnest(generate_series(8, len(text))) AS i FROM dt)
      |  WHERE substr(md5(substr(text, i - 7, 8)), 1, 1) = '0'
      |  UNION SELECT doc_id, len(text) FROM dt WHERE len(text) > 0),
      |chunks AS (
      |  SELECT doc_id, substr(text, prev + 1, i - prev) AS chunk
      |  FROM (
      |    SELECT b.doc_id, dt.text, b.i,
      |      coalesce(lag(b.i) OVER (PARTITION BY b.doc_id ORDER BY b.i), 0) AS prev
      |    FROM b JOIN dt USING (doc_id))),
      |ch AS (SELECT DISTINCT doc_id, md5(chunk) AS h FROM chunks),
      |g AS (SELECT h, count(*) AS docs FROM ch GROUP BY h),
      |per AS (
      |  SELECT doc_id, count(*) AS n_chunks,
      |    CAST(sum(CAST(docs > 1 AS BIGINT)) AS BIGINT) AS n_shared
      |  FROM ch JOIN g USING (h) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(n_chunks, 0) AS BIGINT) AS n_chunks,
      |  CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** d12 — AFFINE-MIX MinHash: the classical universal-hash family
    * `hⱼ(x) = (aⱼ·x + bⱼ) mod p` over ONE md5 per shingle (60 bits → mod
    * p = 2³¹−1) — the construction that proved itself here and, in round
    * 15, became d3's default too (d3 draws components 17..32 of the same
    * family so the two gates stay independent draws with different
    * (valid) candidate sets; see [[minhashSigExprs]]).
    * (aⱼ, bⱼ) are the shared GEOMETRIC per-component constants
    * ([[graft.core.Exact.minhashA]]): the original multipliers were
    * linear in j, which makes every component share one argmin — the
    * signature carried 16 copies of ONE hash, so band keys collided with
    * probability ≈ J instead of ~J⁴ and the LSH S-curve the pruning
    * contract assumes did not exist (low-J pairs flooded the candidate
    * stage at 1000× the intended rate; output stayed correct only
    * because candidates are exactly verified). */
  def minhashAffine(s: SparkSession, d: String): DataFrame = {
    import graft.core.Exact.{minhashA, minhashB, MinhashP => P}
    val sh = shingles(s, d)
    val h = conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long") % P
    val sigExprs = (1 to 16).map(j =>
      min((h * lit(minhashA(j)) + lit(minhashB(j))) % P).as(s"m$j"))
    val sig = sh.groupBy("doc_id").agg(sigExprs.head, sigExprs.tail: _*)
    val bandExprs = (0 until 4).map { b =>
      val ms = (1 to 4).map(r => col(s"m${b * 4 + r}").cast("string"))
      concat_ws("|", lit(b.toString) +: ms: _*)
    }
    val bands = sig.select(col("doc_id"), explode(array(bandExprs: _*)).as("band"))
    val cand = bandCandidates(bands, "doc_id")
    val sets = sh.groupBy("doc_id")
      .agg(collect_set(col("s")).as("set"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("da"), col("set").as("sa"), col("n").as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), col("set").as("sb"), col("n").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .where(lit(3) * col("inter") >= col("na") + col("nb"))
      .select(col("da"), col("db"), col("inter"), col("na"), col("nb"))
      .orderBy(col("da"), col("db"))
  }

  val minhashAffineSql: String = {
    import graft.core.Exact.{minhashA, minhashB, MinhashP => P}
    val sigCols = (1 to 16).map { j =>
      s"min(((('0x' || substr(md5(s), 1, 15))::BIGINT % $P) * ${minhashA(j)} + ${minhashB(j)}) % $P) AS m$j"
    }.mkString(",\n    ")
    val bandSelects = (0 until 4).map { b =>
      val ms = (1 to 4).map(r => s"CAST(m${b * 4 + r} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, '$b' || '|' || $ms AS band FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $shinglesSql,
      |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT cand.da AS da, cand.db AS db, inter, x.n AS na, y.n AS nb
      |FROM cand JOIN inter ON inter.da = cand.da AND inter.db = cand.db
      |JOIN sz x ON x.doc_id = cand.da JOIN sz y ON y.doc_id = cand.db
      |WHERE 3 * inter >= x.n + y.n
      |ORDER BY da, db""".stripMargin
  }

  // ---------------------------------------------------------------------

  /** Generalized set-similarity join with PREFIX FILTERING (the
    * AllPairs/PPJoin candidate bound): for J(A,B) ≥ num/den, A and B must
    * share an element among each set's first `n − ⌈n·num/den⌉ + 1`
    * elements under a GLOBAL total order — rarest-first (global
    * frequency, then value), so the prefixes that generate candidates
    * are exactly the elements with the smallest inverted lists. Versus
    * d2's full inverted-index join the candidate space shrinks from
    * Σ df² over ALL elements to Σ df² over prefix elements only — the
    * difference between "hot shingle joins everything" and bounded work
    * at corpus scale. Exact verification on candidates gives output
    * IDENTICAL to the unfiltered join (d13 shares d2's oracle verbatim)
    * for every prefix-element bucket within [[HotBucketCap]]. Above the
    * cap the star-to-minimum guard applies, with the same caveat as the
    * band joins: the output is guaranteed complete only for
    * exact-duplicate cliques — an over-cap bucket that is merely a hot
    * prefix element may drop pairs between two non-minimum members, and
    * the overflow ledger records that the cap fired.
    *
    * `elements`: (id, e) rows, distinct per set. Output: (da, db, inter,
    * na, nb) for J ≥ num/den pairs. */
  def prefixJaccardPairs(elements: DataFrame, num: Int = 1, den: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val el = elements.select(col("id"), col("e"))
    val freq = el.groupBy("e").agg(count(lit(1)).as("f"))
    val sz = el.groupBy("id").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("id")).orderBy(col("f").asc, col("e").asc)
    val prefix = el.join(freq, "e").join(sz, "id")
      .withColumn("idx", row_number().over(w))
      .where(col("idx") <= col("n") - expr(s"(n * $num + ${den - 1}) div $den") + 1)
      .select(col("id"), col("e"))
    // the prefix filter bounds candidates for DIVERSE corpora, but a
    // million-copy clique has identical prefixes — the same hot-bucket
    // hazard as the band joins, so the same guard applies (element = band)
    val cand = bandCandidates(
      prefix.select(col("id"), col("e").as("band")), "id")
    val sets = el.groupBy("id")
      .agg(collect_set(col("e")).as("set"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("id").as("da"), col("set").as("sa"), col("n").as("na")), "da")
      .join(sets.select(col("id").as("db"), col("set").as("sb"), col("n").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      // J = inter/(na+nb−inter) ≥ num/den ⟺ (den+num)·inter ≥ num·(na+nb)
      .where(lit(den + num) * col("inter") >= lit(num) * (col("na") + col("nb")))
      .select(col("da"), col("db"), col("inter"), col("na"), col("nb"))
  }

  /** d13 — the prefix-filtered join over d2's shingle sets. Same output
    * contract as d2 by construction, so it REUSES d2's oracle — the gate
    * certifies the candidate bound is lossless, not just plausible. */
  def prefixJaccard(s: SparkSession, d: String): DataFrame =
    prefixJaccardPairs(
      shingles(s, d).select(col("doc_id").as("id"), col("s").as("e")))
      .select(col("da"), col("db"), col("inter"), col("na"), col("nb"))
      .orderBy(col("da"), col("db"))

  // ---------------------------------------------------------------------

  /** d14 — EXACT-SUBSTRING SPANS on near-dup candidates (the Lee et al.
    * exact-substring dedup refined from d6's window granularity to true
    * maximal matches): for every d3 candidate pair, the length of the
    * longest CONTIGUOUS common word run, computed relationally — word
    * positions equi-join on the word, common positions fall on diagonals
    * (i − j), and a maximal run is a gaps-and-islands group within its
    * diagonal (island key = i − row_number). No per-pair DP, no
    * quadratic position scan: cost is Σ matching-position pairs, which
    * LSH already bounded by candidate selection. A production cleaner
    * drops or splits documents whose longest shared run exceeds the
    * ~50-token policy threshold; the gate emits the measured spans. */
  def substringSpans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashLshFrom(shingles(s, d)).select(col("da"), col("db"))
    val words = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(filter(split(coalesce(col("text"), lit("")), " "),
          w => w =!= "")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("w"))
    val m = pairs
      .join(words.select(col("doc_id").as("da"), col("p").as("i"), col("w")), "da")
      .join(words.select(col("doc_id").as("db"), col("p").as("j"), col("w")), Seq("db", "w"))
    val wIsl = Window.partitionBy(col("da"), col("db"), col("diag")).orderBy(col("i"))
    m.withColumn("diag", col("i") - col("j"))
      .withColumn("grp", col("i") - row_number().over(wIsl))
      .groupBy(col("da"), col("db"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("da"), col("db"))
      .agg(max(col("run")).as("longest_run"))
      .orderBy(col("da"), col("db"))
  }

  val substringSpansSql: String =
    s"""WITH pairs AS (SELECT da, db FROM ($minhashLshSql)),
      |words AS (
      |  SELECT doc_id, unnest(generate_series(1, len(ws))) AS p,
      |    unnest(ws) AS w
      |  FROM (SELECT doc_id,
      |          list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |        FROM documents)),
      |m AS (
      |  SELECT pr.da, pr.db, a.p AS i, b.p AS j
      |  FROM pairs pr
      |  JOIN words a ON a.doc_id = pr.da
      |  JOIN words b ON b.doc_id = pr.db AND b.w = a.w),
      |runs AS (
      |  SELECT da, db, count(*) AS run
      |  FROM (SELECT da, db, i - j AS diag,
      |          i - row_number() OVER (PARTITION BY da, db, i - j ORDER BY i) AS grp
      |        FROM m)
      |  GROUP BY da, db, diag, grp)
      |SELECT da, db, CAST(max(run) AS BIGINT) AS longest_run
      |FROM runs GROUP BY da, db ORDER BY da, db""".stripMargin

  // ---------------------------------------------------------------------

  /** Longest common substring (codepoints) of two strings via a SUFFIX
    * AUTOMATON over `a` streamed with `b` — O(|a|+|b|) time and O(|a|)
    * states, versus the O(|a|·|b|) DP. Row-local: at corpus scale this
    * runs once per LSH candidate pair, so the linear algorithm is what
    * keeps byte-granular dedup affordable on long documents. */
  private[graft] def lcsLen(a: String, b: String): Int = {
    val as = (if (a == null) "" else a).codePoints().toArray
    val bs = (if (b == null) "" else b).codePoints().toArray
    if (as.isEmpty || bs.isEmpty) return 0
    // suffix automaton of `as`
    val maxStates = 2 * as.length + 4
    val len = new Array[Int](maxStates)
    val link = new Array[Int](maxStates)
    val trans = Array.fill(maxStates)(scala.collection.mutable.Map.empty[Int, Int])
    var last = 0
    var size = 1
    link(0) = -1
    as.foreach { c =>
      val cur = size; size += 1
      len(cur) = len(last) + 1
      var p = last
      while (p != -1 && !trans(p).contains(c)) { trans(p)(c) = cur; p = link(p) }
      if (p == -1) link(cur) = 0
      else {
        val q = trans(p)(c)
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = size; size += 1
          len(clone) = len(p) + 1
          link(clone) = link(q)
          trans(clone) ++= trans(q)
          while (p != -1 && trans(p).get(c).contains(q)) { trans(p)(c) = clone; p = link(p) }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
    }
    // stream b through the automaton
    var v = 0; var l = 0; var best = 0
    bs.foreach { c =>
      while (v != 0 && !trans(v).contains(c)) { v = link(v); l = len(v) }
      if (trans(v).contains(c)) { v = trans(v)(c); l += 1 }
      if (l > best) best = l
    }
    best
  }

  /** d15 — BYTE-GRANULAR exact-substring spans: the longest common
    * CODEPOINT run per d3 candidate pair, computed with the linear
    * suffix-automaton LCS on the engine side while the oracle recomputes
    * it RELATIONALLY (character positions equi-join → diagonal
    * gaps-and-islands, d14's plan at character granularity) — two
    * independent algorithms agreeing per pair is the strongest
    * cross-check in the suite. Completes d14: word runs catch template
    * reuse, codepoint runs catch sub-word edits (the Lee et al. span
    * unit). */
  def charSpans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = minhashLshFrom(shingles(s, d)).select(col("da"), col("db"))
    val texts = Tables.documents(s, d).select(col("doc_id"), col("text"))
    pairs
      .join(texts.select(col("doc_id").as("da"), col("text").as("ta")), "da")
      .join(texts.select(col("doc_id").as("db"), col("text").as("tb")), "db")
      .select(col("da"), col("db"), col("ta"), col("tb"))
      .as[(Long, Long, String, String)]
      .map { case (da, db, ta, tb) => (da, db, lcsLen(ta, tb).toLong) }
      .toDF("da", "db", "longest_char_run")
      .orderBy(col("da"), col("db"))
  }

  val charSpansSql: String =
    s"""WITH pairs AS (SELECT da, db FROM ($minhashLshSql)),
      |chars AS (
      |  SELECT doc_id, i, substr(text, i, 1) AS ch
      |  FROM (SELECT doc_id, coalesce(text, '') AS text,
      |          unnest(generate_series(1, len(coalesce(text, '')))) AS i
      |        FROM documents)),
      |m AS (
      |  SELECT pr.da, pr.db, a.i AS i, b.i AS j
      |  FROM pairs pr
      |  JOIN chars a ON a.doc_id = pr.da
      |  JOIN chars b ON b.doc_id = pr.db AND b.ch = a.ch),
      |runs AS (
      |  SELECT da, db, count(*) AS run
      |  FROM (SELECT da, db, i - j AS diag,
      |          i - row_number() OVER (PARTITION BY da, db, i - j ORDER BY i) AS grp
      |        FROM m)
      |  GROUP BY da, db, diag, grp)
      |SELECT p.da, p.db,
      |  CAST(coalesce(max(run), 0) AS BIGINT) AS longest_char_run
      |FROM pairs p LEFT JOIN runs USING (da, db)
      |GROUP BY p.da, p.db ORDER BY p.da, p.db""".stripMargin

  // ---------------------------------------------------------------------

  /** d16 — CORPUS-WIDE maximal-repeat mining (the true Lee et al.
    * exact-substring pass): maximal spans in which EVERY 40-codepoint
    * window occurs in at least two distinct documents — computed over the
    * WHOLE corpus with no LSH anywhere, so it finds the boilerplate that
    * candidate-pair passes (d14/d15) structurally miss: repeated
    * licence headers, navigation chrome and template fragments between
    * documents whose overall Jaccard is far below any LSH threshold.
    *
    * Relational plan, linear end-to-end: one window row per codepoint
    * position (the suffix-array cost model without the suffix array),
    * one groupBy on the window to find shared ones, one per-doc
    * gaps-and-islands merge (consecutive shared starts ⟺ every
    * 40-window inside the merged span is shared — exactly the "every
    * k-gram duplicated" span definition), then one groupBy on the span
    * text for doc/occurrence counts. No pairwise stage at any point.
    *
    * The DEFAULT head shuffles ONE 8-byte rolling hash per codepoint
    * position ([[sharedWindowOcc]]) — not the 40 raw codepoints — and
    * verifies window text only on hash-shared candidates, so the big
    * window shuffle is ~40× lighter than the naive plan at any scale.
    * The raw-window head survives as [[maximalRepeatsRaw]] purely as the
    * independent correctness pin (DedupSpec asserts raw ≡ hashed ≡
    * staged). */
  def maximalRepeats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    repeatSpansFrom(sharedWindowOcc(s, docs, 40), docs, 40)
  }

  /** The naive-head variant of [[maximalRepeats]]: shuffles the 40 raw
    * codepoints of every window. Kept ONLY as the spec-pin oracle for the
    * hashed default — never gated, never benched, never the plan you run
    * at scale. */
  private[graft] def maximalRepeatsRaw(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    repeatSpansFrom(sharedWindowOccRaw(s, docs, 40), docs, 40)
  }

  /** Positions (doc_id, i) whose L-codepoint window occurs in ≥ 2
    * distinct documents — the shared head of d16 and d19.
    *
    * Two-stage hash head: (1) shuffle one 8-byte rolling hash per
    * position ([[graft.functions.RollingHash.windowHashes]], O(1) per
    * slide) and keep positions whose hash is seen in ≥ 2 docs; (2)
    * re-extract the TRUE window text for those candidates only and
    * re-apply the ≥ 2-distinct-docs test on it, so a hash collision can
    * only cost a vanishing extra verify, never a wrong span. The window
    * flatMap is recomputed on the candidate join rather than cached —
    * it is map-side CPU; the thing that matters at 100 TB is that both
    * window-key shuffles carry longs, not 40-codepoint strings. */
  private def sharedWindowOcc(s: SparkSession, docs: DataFrame, L: Int): DataFrame = {
    // codegen'd primitive-array explode — no boxed per-position tuple
    // encoder (see functions.WindowHashes; measured in TUNING.md)
    val wins = windowHashRows(docs, L)
    // "≥ 2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id) over a window
    // partitioned by the hash: ONE shuffle of the position table, with
    // the shared test and the survivor filter in the same exchange.
    // The previous groupBy-then-self-join shape paid that shuffle TWICE
    // (the plan recomputes the window stage on the probe branch) plus a
    // sort-merge join, and its countDistinct threshold planned as a
    // two-phase distinct aggregate — together the dominant d16 cost
    // (stage-probed and measured at sfx1: TUNING.md round-15 d16 line).
    // The raw-string oracle variant below keeps the obvious
    // countDistinct/join form so the equivalence itself stays
    // spec-pinned.
    import org.apache.spark.sql.expressions.Window
    val wH = Window.partitionBy(col("h"))
    val cand = wins
      .withColumn("d0", min(col("doc_id")).over(wH))
      .withColumn("d1", max(col("doc_id")).over(wH))
      .where(col("d0") =!= col("d1"))
      .select(col("doc_id"), col("i"))
    verifySharedOnText(cand, docs, L)
  }

  /** One (doc_id, i, h) row per codepoint position: the window stage of
    * d16/d19, as a posexplode over [[graft.functions.WindowHashes]]'
    * primitive long array (1-based `i` to match the SQL oracle's
    * substr positions). */
  private def windowHashRows(docs: DataFrame, L: Int): DataFrame =
    docs.select(col("doc_id"),
        posexplode(graft.functions.WindowHashes(col("text"), L)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("h"))

  /** Raw-window head (one 40-codepoint string per position through the
    * shuffle) — the spec-pin oracle for [[sharedWindowOcc]]. */
  private def sharedWindowOccRaw(s: SparkSession, docs: DataFrame, L: Int): DataFrame = {
    import s.implicits._
    val wins = docs.as[(Long, String)]
      .flatMap { case (id, t) =>
        val cps = t.codePoints().toArray
        (0 to cps.length - L).iterator.map(i => (id, (i + 1).toLong, new String(cps, i, L)))
      }
      .toDF("doc_id", "i", "w")
    val shared = wins.groupBy("w")
      .agg(countDistinct(col("doc_id")).as("wdocs"))
      .where(col("wdocs") >= 2)
      .select(col("w"))
    wins.join(shared, "w").select(col("doc_id"), col("i"))
  }

  /** Text-verification tail shared by the hashed head and the staged
    * parquet head: re-extract the true L-window for candidate positions
    * and keep only those whose WINDOW TEXT occurs in ≥ 2 distinct docs. */
  private def verifySharedOnText(cand: DataFrame, docs: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val candText = cand.join(docs, "doc_id")
      .select(col("doc_id"), col("i"),
        expr(s"substring(text, cast(i as int), $L)").as("w"))
    // same one-exchange shared test as the hash head (min≠max over a
    // window by the text), on the candidate-sized survivor set
    val wW = Window.partitionBy(col("w"))
    candText
      .withColumn("d0", min(col("doc_id")).over(wW))
      .withColumn("d1", max(col("doc_id")).over(wW))
      .where(col("d0") =!= col("d1"))
      .select(col("doc_id"), col("i"))
  }

  /** Maximal duplicated spans (doc_id, s, e) from shared-window
    * occurrences — the gaps-and-islands merge both d16 and d19 build on. */
  private def repeatIslands(occ: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wI = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    occ.withColumn("g", col("i") - row_number().over(wI))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("i")).as("s"), (max(col("i")) + lit(L - 1)).as("e"))
  }

  /** d16's tail — gaps-and-islands span merge + span-text grouping over
    * shared-window occurrences (doc_id, i); factored so the raw-string
    * and rolling-hash window stages share it verbatim. */
  private def repeatSpansFrom(occ: DataFrame, docs: DataFrame, L: Int): DataFrame = {
    repeatIslands(occ, L).join(docs, "doc_id")
      .select(col("doc_id"),
        expr("substring(text, cast(s as int), cast(e - s + 1 as int))").as("repeat_text"),
        (col("e") - col("s") + 1).as("repeat_len"))
      .groupBy(col("repeat_text"), col("repeat_len"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_spans"))
      .orderBy(col("repeat_text"))
  }

  /** Checkpointed variant of [[maximalRepeats]] — the SAME 8-byte
    * rolling-hash head, but the per-position hash table is persisted to
    * parquet between stages so the window flatMap runs exactly once and
    * a multi-hour corpus job can restart from the hash table. Use this
    * entry point operationally at scale; the in-line default is the
    * gated/benched plan. Output is identical to [[maximalRepeats]] and
    * [[maximalRepeatsRaw]] (DedupSpec pins all three equal). */
  def maximalRepeatsStaged(s: SparkSession, d: String, workDir: String): DataFrame = {
    import s.implicits._
    val L = 40
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    windowHashRows(docs, L)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$workDir/window_hashes.parquet")
    val wins = s.read.parquet(s"$workDir/window_hashes.parquet")
    // the same one-exchange shared test as the in-line head: one read of
    // the staged hash table, not a groupBy branch plus a join branch
    import org.apache.spark.sql.expressions.Window
    val wH = Window.partitionBy(col("h"))
    val cand = wins
      .withColumn("d0", min(col("doc_id")).over(wH))
      .withColumn("d1", max(col("doc_id")).over(wH))
      .where(col("d0") =!= col("d1"))
      .select(col("doc_id"), col("i"))
    repeatSpansFrom(verifySharedOnText(cand, docs, L), docs, L)
  }

  val maximalRepeatsSql: String =
    """WITH dt AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
      |w AS (
      |  SELECT doc_id, i, substr(text, i, 40) AS w
      |  FROM (SELECT doc_id, text, unnest(generate_series(1, len(text) - 39)) AS i FROM dt)),
      |shared AS (SELECT w FROM w GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
      |occ AS (SELECT doc_id, i FROM w JOIN shared USING (w)),
      |grp AS (
      |  SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
      |  FROM occ),
      |spans AS (
      |  SELECT doc_id, min(i) AS s, max(i) + 39 AS e FROM grp GROUP BY doc_id, g)
      |SELECT substr(dt.text, CAST(s AS INT), CAST(e - s + 1 AS INT)) AS repeat_text,
      |  CAST(e - s + 1 AS BIGINT) AS repeat_len,
      |  CAST(count(DISTINCT spans.doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_spans
      |FROM spans JOIN dt USING (doc_id)
      |GROUP BY 1, 2 ORDER BY repeat_text""".stripMargin

  // ---------------------------------------------------------------------

  /** d19 — EXACT-SUBSTRING REPEAT REMOVAL, the cleaning ACTION on d16's
    * spans (the Lee et al. ExactSubstr dedup step): every duplicated
    * maximal span is excised from every document (the aggressive mode of
    * the reference tooling — removing all occurrences rather than
    * electing a canonical keeps the rule purely local and the rebuild
    * embarrassingly parallel). Overlapping/adjacent spans first merge
    * into disjoint removal intervals per doc (running-max interval
    * islands), then each document is rebuilt RELATIONALLY: lag() gives
    * the gap before each interval, the post-last-interval tail is one
    * more segment, and an ordered array_join stitches the survivors.
    * Emitted per doc: interval count, removed codepoints, cleaned
    * length, and md5 of the cleaned text (the full text stays in the
    * engine; the gate compares the hash). Everything is per-doc window
    * work after the d16 head — which is the 8-byte rolling-hash head
    * ([[sharedWindowOcc]]), so the corpus-wide shuffle carries longs,
    * not raw windows. No pairwise stage, linear end-to-end. */
  def repeatRemoval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    repeatRemovalOf(s, docs).orderBy(col("doc_id"))
  }

  /** [[repeatRemoval]] over an explicit (doc_id, text) frame — the entry
    * point the incremental/streaming twins compare against
    * ([[graft.pipeline.IncrementalRepeats]]). */
  private[graft] def repeatRemovalOf(s: SparkSession, docs: DataFrame): DataFrame =
    removalStats(sharedWindowOcc(s, docs, 40), docs, 40)

  /** d19's tail — shared-window occurrences (doc_id, i) → disjoint
    * removal intervals → relational text rebuild → per-doc stats
    * (n_removed, removed_chars, cleaned_len, cleaned_hash). Factored so
    * the batch operator and the incremental re-clean
    * ([[graft.pipeline.IncrementalRepeats]]) share the rebuild verbatim:
    * every doc in `docs` gets a row (zero-removal docs included). */
  private[graft] def removalStats(occ: DataFrame, docs: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = repeatIslands(occ, L)
    // merge overlapping/adjacent spans into disjoint removal intervals
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val rem = sp.withColumn("mp", max(col("e")).over(wRun))
      .withColumn("brk", (col("mp").isNull || col("s") > col("mp") + 1).cast("long"))
      .withColumn("grp", sum(col("brk")).over(wCum))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val pieces = rem
      .withColumn("prev_e", coalesce(lag(col("e"), 1).over(wDoc), lit(0L)))
      .join(docs, "doc_id")
      .select(col("doc_id"), col("s").as("ord"),
        expr("substring(text, cast(prev_e + 1 as int), cast(s - prev_e - 1 as int))").as("piece"))
    val tl = rem.groupBy(col("doc_id"))
      .agg(max(col("e")).as("laste"), count(lit(1)).as("n_removed"),
        sum(col("e") - col("s") + 1).as("removed_chars"))
    val tailPieces = tl.join(docs, "doc_id")
      .select(col("doc_id"), lit(1000000000000L).as("ord"),
        expr("substr(text, cast(laste + 1 as int))").as("piece"))
    val cleaned = pieces.union(tailPieces)
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ord"), col("piece")))),
        x => x.getField("piece")), "").as("cleaned"))
    docs
      .join(tl.select(col("doc_id"), col("n_removed"), col("removed_chars")),
        Seq("doc_id"), "left")
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        length(coalesce(col("cleaned"), col("text"))).cast("long").as("cleaned_len"),
        md5(coalesce(col("cleaned"), col("text"))).as("cleaned_hash"))
  }

  val repeatRemovalSql: String =
    """WITH dt AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
      |w AS (
      |  SELECT doc_id, i, substr(text, i, 40) AS w
      |  FROM (SELECT doc_id, text, unnest(generate_series(1, len(text) - 39)) AS i FROM dt)),
      |shared AS (SELECT w FROM w GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
      |occ AS (SELECT doc_id, i FROM w JOIN shared USING (w)),
      |grp AS (
      |  SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
      |  FROM occ),
      |spans AS (
      |  SELECT doc_id, min(i) AS s, max(i) + 39 AS e FROM grp GROUP BY doc_id, g),
      |rem AS (
      |  SELECT doc_id, min(s) AS s, max(e) AS e FROM (
      |    SELECT doc_id, s, e,
      |      sum(CASE WHEN mp IS NULL OR s > mp + 1 THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY doc_id ORDER BY s) AS g2
      |    FROM (SELECT doc_id, s, e,
      |            max(e) OVER (PARTITION BY doc_id ORDER BY s
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp
      |          FROM spans))
      |  GROUP BY doc_id, g2),
      |seg AS (
      |  SELECT x.doc_id, x.s AS ord,
      |    substr(dt.text, CAST(x.prev_e + 1 AS INT), CAST(x.s - x.prev_e - 1 AS INT)) AS piece
      |  FROM (SELECT doc_id, s,
      |          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS prev_e
      |        FROM rem) x JOIN dt USING (doc_id)),
      |tl AS (
      |  SELECT doc_id, max(e) AS laste, count(*) AS n_removed,
      |    CAST(sum(e - s + 1) AS BIGINT) AS removed_chars
      |  FROM rem GROUP BY doc_id),
      |tailseg AS (
      |  SELECT tl.doc_id, CAST(1000000000000 AS BIGINT) AS ord,
      |    substr(dt.text, CAST(laste + 1 AS INT)) AS piece
      |  FROM tl JOIN dt USING (doc_id)),
      |cl AS (
      |  SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS cleaned
      |  FROM (SELECT * FROM seg UNION ALL SELECT * FROM tailseg)
      |  GROUP BY doc_id)
      |SELECT dt.doc_id,
      |  CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
      |  CAST(coalesce(removed_chars, 0) AS BIGINT) AS removed_chars,
      |  CAST(len(coalesce(cleaned, dt.text)) AS BIGINT) AS cleaned_len,
      |  md5(coalesce(cleaned, dt.text)) AS cleaned_hash
      |FROM dt LEFT JOIN tl USING (doc_id) LEFT JOIN cl USING (doc_id)
      |ORDER BY dt.doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** d17 — HIERARCHICAL CLUSTERING over d9's trained centroids: the
    * single-linkage agglomerative dendrogram that closes the clustering
    * family (flat k-means cells from d9, merge ORDER between them from
    * here — the structure SemDeDup-style pipelines use to pick a
    * granularity after the fact instead of re-running k-means per k).
    * Each of the k−1 merge steps joins the surviving clusters through
    * the ORIGINAL pairwise centroid distances (single linkage = min
    * cross-cluster distance), picks the argmin pair under a total order
    * (linkage, then smaller pair), and relabels the loser onto the
    * winner. All distances are exact int64 (same quantization contract
    * as d9), so the merge order is engine-exact; the oracle unrolls the
    * identical seven rounds as chained CTEs, the d9/s7 Lloyd pattern.
    *
    * Scale shape: the model is k rows however big the corpus is — every
    * per-round frame is O(k²) on k=8 — so this is driver-free model
    * post-processing, not a data-scale operator. */
  def centroidDendrogram(s: SparkSession, d: String): DataFrame = {
    val (_, merges, _) = dendrogramParts(s, d)
    merges.select(col("step"), col("ca").as("cluster_a"),
        col("cb").as("cluster_b"), col("linkage"))
      .orderBy(col("step"))
  }

  /** The d17 training + merge loop, factored so d20 can read the SAME
    * run's intermediate state: returns (vector assignments from the
    * trained model — (vec_id, qv, qq, cell) — the merge list, and the
    * cell→cluster map AFTER each number of merges, snapshots(r) = the map
    * once merges 1..r have been applied; snapshots(0) = identity). Every
    * snapshot is a localCheckpointed k-row frame, so keeping all k of
    * them costs k² rows total. */
  private def dendrogramParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Vector[DataFrame]) = {
    import graft.functions.DotProductL
    val k = 8
    val (a2raw, centroids) = graft.ml.KMeans.fit(
      Tables.embeddings(s, d).select(col("vec_id").as("id"),
        graft.core.Exact.quantize(col("embedding"), 1000).as("qv")),
      k, rounds = 1)
    val c = centroids.localCheckpoint()
    val dist = c.as("a").join(c.as("b"), col("a.cell") < col("b.cell"))
      .select(col("a.cell").as("i"), col("b.cell").as("j"),
        (col("a.cc") + col("b.cc")
          - lit(2L) * DotProductL(col("a.cv"), col("b.cv"))).as("d2"))
      .localCheckpoint()
    var assign = c.select(col("cell").as("cid"), col("cell").as("cluster"))
      .localCheckpoint()
    var snapshots = Vector(assign)
    var merges: DataFrame = null
    for (r <- 1 until k) {
      val cd = dist
        .join(assign.select(col("cid").as("i"), col("cluster").as("clx")), "i")
        .join(assign.select(col("cid").as("j"), col("cluster").as("cly")), "j")
        .where(col("clx") =!= col("cly"))
        .groupBy(least(col("clx"), col("cly")).as("ca"),
          greatest(col("clx"), col("cly")).as("cb"))
        .agg(min(col("d2")).as("linkage"))
      val pick = cd.orderBy(col("linkage"), col("ca"), col("cb")).limit(1)
        .select(lit(r).as("step"), col("ca"), col("cb"), col("linkage"))
        .localCheckpoint()
      merges = if (merges == null) pick else merges.union(pick)
      val relabel = pick.select(col("ca").as("_w"), col("cb").as("_l"))
      assign = graft.core.Iterate.save(assign
        .join(broadcast(relabel), assign("cluster") === relabel("_l"), "left")
        .select(col("cid"), coalesce(col("_w"), col("cluster")).as("cluster")), 0, r)
      snapshots :+= assign
    }
    (a2raw.withColumnRenamed("id", "vec_id"), merges, snapshots)
  }

  val centroidDendrogramSql: String = {
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    // MATERIALIZED: each round references the previous one several times
    // (twice in the cluster-pair join, twice as scalar subqueries) — left
    // inlined, the chain re-expands exponentially across 7 rounds
    val rounds = (1 to 7).map { r =>
      s"""cd$r AS MATERIALIZED (
        |  SELECT least(x.cluster, y.cluster) AS ca,
        |    greatest(x.cluster, y.cluster) AS cb, min(d.d2) AS linkage
        |  FROM dist d
        |  JOIN g${r - 1} x ON x.cid = d.i JOIN g${r - 1} y ON y.cid = d.j
        |  WHERE x.cluster <> y.cluster GROUP BY 1, 2),
        |m$r AS MATERIALIZED (SELECT $r AS step, ca, cb, linkage FROM cd$r
        |        ORDER BY linkage, ca, cb LIMIT 1),
        |g$r AS MATERIALIZED (
        |  SELECT cid, CASE WHEN cluster = (SELECT cb FROM m$r)
        |    THEN (SELECT ca FROM m$r) ELSE cluster END AS cluster
        |  FROM g${r - 1})""".stripMargin
    }.mkString(",\n")
    val union = (1 to 7).map(r => s"SELECT * FROM m$r").mkString("\n  UNION ALL ")
    s"""WITH q AS (
      |  SELECT vec_id, ${graft.core.Exact.sqlQuantize("embedding", 1000)} AS qv
      |  FROM embeddings),
      |qn AS (SELECT vec_id, qv, ${dot("qv", "qv")} AS qq FROM q),
      |c0 AS (
      |  SELECT vec_id AS cell, qv AS cv, qq AS cc FROM qn WHERE vec_id < 8),
      |k1 AS (
      |  SELECT vec_id, qv, qq, cell FROM (
      |    SELECT e.vec_id, e.qv, e.qq, c.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        e.qq + c.cc - 2 * ${dot("e.qv", "c.cv")}, c.cell) AS rn
      |    FROM qn e CROSS JOIN c0 c)
      |  WHERE rn = 1),
      |c1d AS (
      |  SELECT cell, i, CAST(sum(v) AS BIGINT) // count(*) AS m
      |  FROM (SELECT cell, unnest(qv) AS v,
      |          unnest(generate_series(1, len(qv))) AS i FROM k1)
      |  GROUP BY cell, i),
      |c1 AS (
      |  SELECT cell, cv, ${dot("cv", "cv")} AS cc
      |  FROM (SELECT cell, list(m ORDER BY i) AS cv FROM c1d GROUP BY cell)),
      |dist AS MATERIALIZED (
      |  SELECT a.cell AS i, b.cell AS j,
      |    a.cc + b.cc - 2 * ${dot("a.cv", "b.cv")} AS d2
      |  FROM c1 a JOIN c1 b ON a.cell < b.cell),
      |g0 AS MATERIALIZED (SELECT cell AS cid, cell AS cluster FROM c1),
      |$rounds
      |SELECT step, ca AS cluster_a, cb AS cluster_b,
      |  CAST(linkage AS BIGINT) AS linkage
      |FROM ($union) ORDER BY step""".stripMargin
  }

  // ---------------------------------------------------------------------

  /** d18 — LSH PARAMETER SWEEP: candidate and verified-pair counts for
    * (bands × rows) ∈ {2×8, 4×4, 8×2} over the SAME 16-slot minhash
    * signature table, next to the exact inverted-index truth (d2's pair
    * count). This is s9's measure-don't-guess pattern applied to the
    * banding dial itself: more bands × fewer rows = higher recall, more
    * candidates (cost); fewer bands × more rows = the opposite. A corpus
    * operator reads these three rows and picks the operating point —
    * n_verified/n_true is recall, n_verified/n_candidates is the verify
    * hit rate — instead of trusting the 4×4 folklore. Signature stage is
    * shared across settings; candidates come from [[bandCandidates]]
    * (guarded) per setting; verification is the exact candidate-only
    * intersect. */
  def lshParamSweep(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val sigExprs = minhashSigExprs
    val sig = sh.groupBy("doc_id").agg(sigExprs.head, sigExprs.tail: _*)
      .localCheckpoint()
    val sets = sh.groupBy("doc_id")
      .agg(collect_set(col("s")).as("set"), count(lit(1)).as("n"))
      .localCheckpoint()
    val truth = ngramJaccard(s, d).agg(count(lit(1)).as("n_true"))
    Seq((2, 8), (4, 4), (8, 2)).map { case (b, r) =>
      val bandExprs = (0 until b).map { i =>
        val ms = (1 to r).map(x => col(s"m${i * r + x}"))
        md5(concat_ws("|", lit(i.toString) +: ms: _*))
      }
      val bands = sig.select(col("doc_id"), explode(array(bandExprs: _*)).as("band"))
      val cand = bandCandidates(bands, "doc_id").localCheckpoint()
      val ver = cand
        .join(sets.select(col("doc_id").as("da"), col("set").as("sa"), col("n").as("na")), "da")
        .join(sets.select(col("doc_id").as("db"), col("set").as("sb"), col("n").as("nb")), "db")
        .where(lit(3) * size(array_intersect(col("sa"), col("sb"))).cast("long")
          >= col("na") + col("nb"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(ver.agg(count(lit(1)).as("n_verified")))
        .select(lit(b).as("lsh_bands"), lit(r).as("lsh_rows"),
          col("n_candidates"), col("n_verified"))
    }.reduce(_ union _)
      .crossJoin(broadcast(truth))
      .orderBy(col("lsh_bands"))
  }

  val lshParamSweepSql: String = {
    val sigCols = sigColsSql
    val configs = Seq((2, 8), (4, 4), (8, 2))
    val perConfig = configs.map { case (b, r) =>
      val bandSelects = (0 until b).map { i =>
        val ms = (1 to r).map(x => s"m${i * r + x}").mkString(" || '|' || ")
        s"SELECT doc_id, md5('$i' || '|' || $ms) AS band FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      s"""bands_${b}_$r AS (
        |  $bandSelects),
        |cand_${b}_$r AS MATERIALIZED (
        |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |  FROM bands_${b}_$r x JOIN bands_${b}_$r y
        |    ON x.band = y.band AND x.doc_id < y.doc_id),
        |ver_${b}_$r AS MATERIALIZED (
        |  SELECT count(*) AS n FROM cand_${b}_$r c
        |  JOIN inter i ON i.da = c.da AND i.db = c.db
        |  JOIN sz x ON x.doc_id = c.da JOIN sz y ON y.doc_id = c.db
        |  WHERE 3 * i.inter >= x.n + y.n)""".stripMargin
    }.mkString(",\n")
    val rows = configs.map { case (b, r) =>
      s"""SELECT $b AS lsh_bands, $r AS lsh_rows,
        |  (SELECT count(*) FROM cand_${b}_$r) AS n_candidates,
        |  (SELECT n FROM ver_${b}_$r) AS n_verified,
        |  (SELECT n FROM truth) AS n_true""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH $shinglesSql,
      |sig AS MATERIALIZED (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
      |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS MATERIALIZED (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS MATERIALIZED (
      |  SELECT count(*) AS n FROM inter
      |  JOIN sz x ON x.doc_id = inter.da JOIN sz y ON y.doc_id = inter.db
      |  WHERE 3 * inter >= x.n + y.n),
      |$perConfig
      |$rows
      |ORDER BY lsh_bands""".stripMargin
  }

  /** Flat clustering from a [[centroidDendrogram]] at linkage threshold
    * `h`: apply exactly the merges with linkage ≤ h. Because single
    * linkage relabels every merge onto the SMALLER label (which is the
    * min member id), the cut equals connected components over the
    * sub-threshold merge edges with min-label resolution — so this
    * reuses the CC operator rather than replaying the merge fold.
    * `leaves`: one `id` column with every leaf cluster id (singletons
    * absent from `merges` keep themselves). */
  def cutDendrogram(leaves: DataFrame, merges: DataFrame, h: Long): DataFrame = {
    def pad(c: Column) = format_string("%020d", c)
    val edges = merges.where(col("linkage") <= h)
      .select(pad(col("cluster_a")).as("src"), pad(col("cluster_b")).as("dst"))
    val cc = graft.identity.ConnectedComponents.run(edges)
    leaves.select(col("id"))
      .join(cc.withColumnRenamed("member", "m"), pad(col("id")) === col("m"), "left")
      .select(col("id"),
        coalesce(col("component").cast("long"), col("id")).as("cluster"))
  }

  /** d20 — DENDROGRAM-GUIDED SemDeDup SWEEP: the granularity-selection
    * table that joins d17 to d9. A curator choosing how aggressively to
    * SemDeDup doesn't want one clustering — they want to see, per cut of
    * the dendrogram, what the choice BUYS (near-dup pairs found, docs
    * that would drop under keep-lowest-id) and what it COSTS (candidate
    * pairs to verify). This runs ONE k-means training + ONE merge loop
    * (dendrogramParts — the same run d17 reports), then for each cut
    * after {2, 4, 6} merges re-buckets the vectors by their cut-level
    * cluster and replays d9's exact integer cos ≥ 0.4 verify within
    * buckets.
    *
    * Scale shape: training and the merge loop are model-scale (k rows);
    * per cut, candidates are Σ|cluster|² — which GROWS as cuts coarsen,
    * and surfacing that growth as `n_candidates` is the point of the
    * table: the curator reads cost and yield together and picks the
    * operating point, instead of trusting one k. The pair stage itself
    * is d9's bucketed self-join at each granularity — never all-pairs
    * unless the cut collapses everything, which the row makes visible. */
  def semdedupSweep(s: SparkSession, d: String): DataFrame = {
    import graft.functions.DotProductL
    val (vecs, _, snapshots) = dendrogramParts(s, d)
    val v = vecs.localCheckpoint()
    Seq(2, 4, 6).map { r =>
      val cut = snapshots(r)
      val vc = v.join(broadcast(cut), v("cell") === cut("cid"))
        .select(col("vec_id"), col("qv"), col("qq"), col("cluster"))
      val x = vc.select(col("cluster"), col("vec_id").as("va"),
        col("qv").as("qa"), col("qq").as("na"))
      val y = vc.select(col("cluster"), col("vec_id").as("vb"),
        col("qv").as("qb"), col("qq").as("nb"))
      val pairs = x.join(y, "cluster").where(col("va") < col("vb"))
        .withColumn("dot", DotProductL(col("qa"), col("qb")))
        .withColumn("dup", (col("dot") > 0) &&
          (lit(25) * col("dot") * col("dot") >= lit(4) * col("na") * col("nb")))
      pairs.agg(
          count(lit(1)).as("n_candidates"),
          coalesce(sum(col("dup").cast("long")), lit(0L)).as("n_pairs"),
          countDistinct(when(col("dup"), col("vb"))).as("n_docs_dropped"))
        .crossJoin(broadcast(
          cut.agg(countDistinct(col("cluster")).as("n_clusters"))))
        .select(lit(r).as("cut_step"), col("n_clusters"),
          col("n_candidates"), col("n_pairs"), col("n_docs_dropped"))
    }.reduce(_ union _).orderBy(col("cut_step"))
  }

  /** The SemDeDup DROP-SET at one dendrogram cut — the operating point
    * d20's sweep table lets a curator choose, turned into an actionable
    * doc_id list: vectors re-bucketed by their cut-level cluster
    * (`snapshots(cutStep)` of the same single training run), d9's exact
    * integer cos ≥ 0.4 verify within buckets, keep-lowest-id (the higher
    * id of every verified pair drops). This is what wires the sweep's
    * DECISION into [[graft.pipeline.CorpusPipeline]] — the cut parameter
    * becomes a cleaning policy knob, not just a report. */
  def semdedupDropSet(s: SparkSession, d: String, cutStep: Int): DataFrame = {
    import graft.functions.DotProductL
    val (vecs, _, snapshots) = dendrogramParts(s, d)
    require(cutStep >= 0 && cutStep < snapshots.length,
      s"cut step must be in [0, ${snapshots.length}), got $cutStep")
    val cut = snapshots(cutStep)
    val vc = vecs.join(broadcast(cut), vecs("cell") === cut("cid"))
      .select(col("vec_id"), col("qv"), col("qq"), col("cluster"))
    val x = vc.select(col("cluster"), col("vec_id").as("va"),
      col("qv").as("qa"), col("qq").as("na"))
    val y = vc.select(col("cluster"), col("vec_id").as("vb"),
      col("qv").as("qb"), col("qq").as("nb"))
    x.join(y, "cluster").where(col("va") < col("vb"))
      .withColumn("dot", DotProductL(col("qa"), col("qb")))
      .where((col("dot") > 0) &&
        (lit(25) * col("dot") * col("dot") >= lit(4) * col("na") * col("nb")))
      .select(col("vb").as("doc_id")).distinct()
  }

  val semdedupSweepSql: String = {
    val dot = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])) AS BIGINT)"
    val assign = (from: String) =>
      s"""SELECT vec_id, qv, qq, cell FROM (
         |    SELECT e.vec_id, e.qv, e.qq, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        e.qq + c.cc - 2 * ${dot("e.qv", "c.cv")}, c.cell) AS rn
         |    FROM qn e CROSS JOIN $from c)
         |  WHERE rn = 1""".stripMargin
    val rounds = (1 to 6).map { r =>
      s"""cd$r AS MATERIALIZED (
        |  SELECT least(x.cluster, y.cluster) AS ca,
        |    greatest(x.cluster, y.cluster) AS cb, min(d.d2) AS linkage
        |  FROM dist d
        |  JOIN g${r - 1} x ON x.cid = d.i JOIN g${r - 1} y ON y.cid = d.j
        |  WHERE x.cluster <> y.cluster GROUP BY 1, 2),
        |m$r AS MATERIALIZED (SELECT $r AS step, ca, cb, linkage FROM cd$r
        |        ORDER BY linkage, ca, cb LIMIT 1),
        |g$r AS MATERIALIZED (
        |  SELECT cid, CASE WHEN cluster = (SELECT cb FROM m$r)
        |    THEN (SELECT ca FROM m$r) ELSE cluster END AS cluster
        |  FROM g${r - 1})""".stripMargin
    }.mkString(",\n")
    val cuts = Seq(2, 4, 6).map { r =>
      s"""vc$r AS MATERIALIZED (
        |  SELECT a2.vec_id, a2.qv, a2.qq, g.cluster
        |  FROM a2 JOIN g$r g ON g.cid = a2.cell),
        |st$r AS (
        |  SELECT $r AS cut_step,
        |    (SELECT count(DISTINCT cluster) FROM g$r) AS n_clusters,
        |    count(*) AS n_candidates,
        |    CAST(coalesce(sum(CASE WHEN dot > 0
        |      AND 25 * dot * dot >= 4 * na * nb THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_pairs,
        |    count(DISTINCT CASE WHEN dot > 0
        |      AND 25 * dot * dot >= 4 * na * nb THEN vb END) AS n_docs_dropped
        |  FROM (
        |    SELECT y.vec_id AS vb, x.qq AS na, y.qq AS nb,
        |      ${dot("x.qv", "y.qv")} AS dot
        |    FROM vc$r x JOIN vc$r y
        |      ON x.cluster = y.cluster AND x.vec_id < y.vec_id))""".stripMargin
    }.mkString(",\n")
    val union = Seq(2, 4, 6).map(r => s"SELECT * FROM st$r").mkString("\n  UNION ALL ")
    s"""WITH q AS (
      |  SELECT vec_id, ${graft.core.Exact.sqlQuantize("embedding", 1000)} AS qv
      |  FROM embeddings),
      |qn AS (SELECT vec_id, qv, ${dot("qv", "qv")} AS qq FROM q),
      |c0 AS (
      |  SELECT vec_id AS cell, qv AS cv, qq AS cc FROM qn WHERE vec_id < 8),
      |a1 AS (
      |  ${assign("c0")}),
      |c1d AS (
      |  SELECT cell, i, CAST(sum(v) AS BIGINT) // count(*) AS m
      |  FROM (SELECT cell, unnest(qv) AS v,
      |          unnest(generate_series(1, len(qv))) AS i FROM a1)
      |  GROUP BY cell, i),
      |c1 AS (
      |  SELECT cell, cv, ${dot("cv", "cv")} AS cc
      |  FROM (SELECT cell, list(m ORDER BY i) AS cv FROM c1d GROUP BY cell)),
      |a2 AS MATERIALIZED (
      |  ${assign("c1")}),
      |dist AS MATERIALIZED (
      |  SELECT a.cell AS i, b.cell AS j,
      |    a.cc + b.cc - 2 * ${dot("a.cv", "b.cv")} AS d2
      |  FROM c1 a JOIN c1 b ON a.cell < b.cell),
      |g0 AS MATERIALIZED (SELECT cell AS cid, cell AS cluster FROM c1),
      |$rounds,
      |$cuts
      |SELECT cut_step, n_clusters, n_candidates, n_pairs, n_docs_dropped
      |FROM ($union) ORDER BY cut_step""".stripMargin
  }

  // ---------------------------------------------------------------------

  /** d21 — EDIT-DISTANCE VERIFICATION of the LSH candidate pairs: every
    * banded candidate (same generator as d3, hot-bucket guard included)
    * gets an exact Levenshtein distance over the documents' 256-char
    * prefixes plus a permille similarity `1000 − 1000·edit/max(len)`, and
    * an `is_dup` decision at ≥ 900 — the character-level verify stage
    * near-dup pipelines run after banding when shingle Jaccard is too
    * coarse (it misses transpositions and small in-word edits). The
    * PREFIX BOUND is the scale contract: Levenshtein is O(L²) per pair,
    * so verification cost is |candidates| · 256², independent of both
    * document length and the corpus pair space — the same
    * bounded-verify-on-candidates-only shape as d3. Emitting every
    * candidate with its score (not just survivors) keeps the gate a
    * calibration table: the threshold is downstream policy. */
  def editVerify(s: SparkSession, d: String): DataFrame = {
    val cand = bandCandidates(bandsOfSig(minhashSig(shingles(s, d))), "doc_id")
    val txt = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, 256).as("t"))
    cand
      .join(txt.select(col("doc_id").as("da"), col("t").as("ta")), "da")
      .join(txt.select(col("doc_id").as("db"), col("t").as("tb")), "db")
      .withColumn("edit", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("sim_permille",
        expr("1000 - (1000 * edit) div greatest(length(ta), length(tb), 1)"))
      .select(col("da"), col("db"), col("edit"), col("sim_permille"),
        (col("sim_permille") >= 900).cast("int").as("is_dup"))
      .orderBy(col("da"), col("db"))
  }

  val editVerifySql: String = {
    val sigCols = sigColsSql
    val bandSelects = (0 until 4).map { b =>
      val ms = (1 to 4).map(r => s"m${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, md5('$b' || '|' || $ms) AS band FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $shinglesSql,
      |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
      |txt AS (SELECT doc_id, substr(text, 1, 256) AS t FROM documents),
      |p AS (
      |  SELECT cand.da, cand.db, levenshtein(a.t, b.t) AS e,
      |    greatest(length(a.t), length(b.t), 1) AS m
      |  FROM cand JOIN txt a ON a.doc_id = cand.da
      |  JOIN txt b ON b.doc_id = cand.db)
      |SELECT da, db, CAST(e AS BIGINT) AS edit,
      |  CAST(1000 - (1000 * e) // m AS BIGINT) AS sim_permille,
      |  CAST(1000 - (1000 * e) // m >= 900 AS INT) AS is_dup
      |FROM p ORDER BY da, db""".stripMargin
  }

  /** d22 — DEDUP SAVINGS report: the purge-impact summary a dedup
    * pipeline presents BEFORE committing the drop — per cluster size,
    * how many clusters, how many documents they hold, how many rows a
    * keep-the-representative policy deletes, and exactly how many
    * characters of storage that frees. Built entirely on d7's cluster
    * table (exact-dup pre-routing + verified LSH pairs + min-label
    * closure), so the report inherits d7's scale shape; the rollup
    * itself is one join to documents for sizes and one map-combinable
    * groupBy. The n_dropped column is the number every dedup design
    * review asks for first. */
  def dedupSavings(s: SparkSession, d: String): DataFrame =
    dedupClusters(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("cluster_size"))
      .agg(count_distinct(col("rep_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(when(col("keep") === 0, 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(col("keep") === 0, col("n_chars")).otherwise(0L)), lit(0L))
          .as("chars_dropped"))
      .orderBy(col("cluster_size"))

  val dedupSavingsSql: String =
    s"""SELECT c.cluster_size,
      |  count(DISTINCT c.rep_id) AS n_clusters,
      |  count(*) AS n_docs,
      |  CAST(sum(CASE WHEN c.keep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(coalesce(sum(CASE WHEN c.keep = 0 THEN d.n_chars ELSE 0 END), 0)
      |    AS BIGINT) AS chars_dropped
      |FROM ($dedupClustersSql) c
      |JOIN documents d ON d.doc_id = c.doc_id
      |GROUP BY c.cluster_size ORDER BY c.cluster_size""".stripMargin

  override val defs: ListMap[String, QueryDef] = ListMap(
    "d1_exact_dedup"   -> QueryDef(exactDedup, Some(exactDedupSql), bench = true),
    "d2_ngram_jaccard" -> QueryDef(ngramJaccard, Some(ngramJaccardSql)),
    "d3_minhash_lsh"   -> QueryDef(minhashLsh, Some(minhashLshSql), bench = true, deep = true),
    "d4_simhash"       -> QueryDef(simhash, Some(simhashSql)),
    "d5_embedding_neardup" -> QueryDef(embeddingNearDup, Some(embeddingNearDupSql), bench = true),
    "d6_window_dedup"  -> QueryDef(windowDedup, Some(windowDedupSql)),
    "d7_dedup_clusters" -> QueryDef(dedupClusters, Some(dedupClustersSql)),
    "d8_simhash_neardup" -> QueryDef(simhashNearDup, Some(simhashNearDupSql)),
    "d9_semantic_dedup" -> QueryDef(semanticDedup, Some(semanticDedupSql), bench = true),
    "d10_minhash_estimate" -> QueryDef(minhashEstimate, Some(minhashEstimateSql)),
    "d11_cdc_chunks"   -> QueryDef(cdcChunks, Some(cdcChunksSql)),
    "d12_minhash_affine" -> QueryDef(minhashAffine, Some(minhashAffineSql)),
    // same semantics as d2 — candidate bound lossless at/under the
    // hot-bucket cap (the fixture's regime) — shares d2's oracle on purpose
    "d13_prefix_jaccard" -> QueryDef(prefixJaccard, Some(ngramJaccardSql)),
    "d14_substring_spans" -> QueryDef(substringSpans, Some(substringSpansSql)),
    "d15_char_spans"   -> QueryDef(charSpans, Some(charSpansSql)),
    "d16_maximal_repeats" -> QueryDef(maximalRepeats, Some(maximalRepeatsSql), bench = true, deep = true),
    // the restartable entry point users run operationally at scale,
    // oracle-gated in its own right (round-9 verdict item #6) — same
    // oracle as d16 because output identity is the contract
    "d16s_repeats_staged" -> QueryDef(
      (s, d) => maximalRepeatsStaged(s, d, graft.core.LakeDir.scoped(s, "d16s", d)),
      Some(maximalRepeatsSql)),
    "d17_centroid_dendrogram" -> QueryDef(centroidDendrogram, Some(centroidDendrogramSql)),
    "d18_lsh_param_sweep" -> QueryDef(lshParamSweep, Some(lshParamSweepSql)),
    "d19_repeat_removal" -> QueryDef(repeatRemoval, Some(repeatRemovalSql)),
    "d20_semdedup_sweep" -> QueryDef(semdedupSweep, Some(semdedupSweepSql)),
    "d21_edit_verify"  -> QueryDef(editVerify, Some(editVerifySql)),
    "d22_dedup_savings" -> QueryDef(dedupSavings, Some(dedupSavingsSql)),
  )
}
