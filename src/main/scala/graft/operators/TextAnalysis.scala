package graft.operators

import graft.core.{QueryDef, QueryModule, Tables, Tokens}
import graft.functions.RollingHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language identification, document fingerprinting.
  * All pure map-side scalar work — no shuffle, scales linearly with corpus
  * bytes; every formula is integer- or fixed-order arithmetic so the
  * DuckDB oracle reproduces results bit-for-bit.
  */
object TextAnalysis extends QueryModule {

  // Stopword/marker occurrences count word-boundary regex matches
  // (\bword\b — supported identically by Java regex and RE2): the padded
  // replace identity undercounts ADJACENT occurrences ("the the the"
  // counted 2, not 3) because each replacement consumes the shared space.
  private def wordCount(text: org.apache.spark.sql.Column, w: String) =
    size(regexp_extract_all(text, lit(s"\\b$w\\b"), lit(0))).cast("long")

  private def wordCountSql(w: String): String =
    s"len(regexp_extract_all(text, '\\b$w\\b'))"

  /** t1 — token counting: whitespace tokens + a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation). */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** t2 — quality scoring: length, punctuation count, stopword ratio,
    * mean word length. Counts are exact integers; the two ratios are a
    * single int/int IEEE division each (bit-identical across engines). */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val nWs = size(split(trim(col("text")), "\\s+")).cast("long")
    val nStop = Seq("the", "a", "and", "of").map(w => wordCount(col("text"), w))
      .reduce(_ + _)
    val nPunct = size(regexp_extract_all(col("text"), lit("[^a-z0-9 ]"), lit(0))).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), nWs.as("n_words"),
        nPunct.as("n_punct"), nStop.as("n_stopwords"),
        (nStop.cast("double") / nWs).as("stopword_ratio"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / nWs).as("mean_word_len"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String = {
    val stop = Seq("the", "a", "and", "of").map(wordCountSql).mkString(" + ")
    s"""SELECT doc_id, n_chars,
      |  len(string_split_regex(trim(text), '\\s+')) AS n_words,
      |  len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
      |  $stop AS n_stopwords,
      |  CAST($stop AS DOUBLE) / len(string_split_regex(trim(text), '\\s+')) AS stopword_ratio,
      |  CAST(len(replace(text, ' ', '')) AS DOUBLE)
      |    / len(string_split_regex(trim(text), '\\s+')) AS mean_word_len
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------

  /** t3 — language id by stopword-hit heuristic: count hits from a small
    * per-language marker list; argmax with a fixed precedence chain for
    * ties. (The `lang` column is the generator's label; `hit` reports
    * agreement.) */
  private val markers: ListMap[String, Seq[String]] = ListMap(
    "de" -> Seq("der", "und", "das", "ein"),
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les"),
    "zh" -> Seq("de", "le", "shi", "he"))

  /** The predicted-language column over any frame with `text`: argmax
    * over the marker scores with FIRST-lang-in-ListMap-order winning ties
    * (`array_position` returns the first occurrence of the max).
    *
    * Deliberately array-shaped, NOT a when-chain of pairwise
    * comparisons: a chain inlines every score subtree ~2·|langs| times
    * (each a sum of regexp counts), and when the corpus pipeline's
    * broadcast joins collapse into one whole-stage-codegen span the
    * duplicated regexps push the generated `processNext()` past the
    * JVM's 64 KB method limit — Spark then silently falls back to
    * interpreted mode (CodegenGuardSpec pins compiled). Here each score
    * appears exactly twice (the max scan and the position scan). */
  private[operators] def langPredictedCol: Column = {
    def score(ws: Seq[String]): Column =
      ws.map(w => wordCount(col("text"), w)).reduce(_ + _)
    val scoresArr = array(markers.values.map(score).toSeq: _*)
    val names = array(markers.keys.map(lit).toSeq: _*)
    element_at(names, array_position(scoresArr, array_max(scoresArr)).cast("int"))
  }

  /** Label-agreement flag over any frame with `text` + `lang` — the
    * reusable core of t3/t13, also consumed by the incremental corpus
    * updater (which scores arriving batches, not a table on disk). */
  def langHitCol: Column = (langPredictedCol === col("lang")).cast("int")

  def langId(s: SparkSession, d: String): DataFrame = {
    def score(ws: Seq[String]): Column =
      ws.map(w => wordCount(col("text"), w)).reduce(_ + _)
    val scores = markers.map { case (l, ws) => l -> score(ws) }
    Tables.documents(s, d)
      .select(Seq(col("doc_id"), col("lang")) ++
        scores.map { case (l, c) => c.as(s"s_$l") }.toSeq :+
        langPredictedCol.as("predicted"): _*)
      .withColumn("hit", (col("predicted") === col("lang")).cast("int"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    def score(ws: Seq[String]): String = ws.map(wordCountSql).mkString(" + ")
    val sCols = markers.map { case (l, ws) => s"${score(ws)} AS s_$l" }.mkString(",\n  ")
    val langs = markers.keys.toSeq
    val caseChain = langs.map { l =>
      val cond = langs.map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("\n    ")
    s"""SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh, predicted,
      |  CAST(predicted = lang AS INT) AS hit
      |FROM (
      |  SELECT *, CASE $caseChain END AS predicted
      |  FROM (SELECT doc_id, lang, $sCols FROM documents))
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------

  /** t4 — document fingerprint via the codegen'd [[RollingHash]]
    * expression; grouped to show fingerprint-based clustering. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), RollingHash(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String =
    """WITH RECURSIVE r AS (
      |  SELECT doc_id, 1 AS pos, CAST(0 AS BIGINT) AS h FROM documents
      |  UNION ALL
      |  SELECT r.doc_id, r.pos + 1,
      |    (r.h * 31 + ord(substr(d.text, r.pos, 1))) % 2147483647
      |  FROM r JOIN documents d ON d.doc_id = r.doc_id
      |  WHERE r.pos <= len(d.text))
      |SELECT r.doc_id AS doc_id, r.h AS fingerprint
      |FROM r JOIN documents d ON d.doc_id = r.doc_id
      |WHERE r.pos = len(d.text) + 1
      |ORDER BY r.doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** THE content-hash split rule (single definition — t5 publishes it,
    * t11 audits against it; a drift between the two would silently
    * decontaminate against the wrong split). */
  private def splitBucket: Column =
    conv(substring(md5(col("text")), 1, 2), 16, 10).cast("int") % 100
  private[graft] def splitCol: Column =
    when(splitBucket < 90, "train").otherwise("val")
  private val splitBucketSql: String =
    """((strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
      | + strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) % 100""".stripMargin

  /** t5 — deterministic hash-based train/validation split (the standard
    * content-hash split: stable across runs, machines and partitioning —
    * never `rand()`). */
  def trainSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", splitBucket)
      .withColumn("split", when(col("bucket") < 90, "train").otherwise("val"))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))

  val trainSplitSql: String =
    s"""SELECT doc_id, bucket,
      |  CASE WHEN bucket < 90 THEN 'train' ELSE 'val' END AS split
      |FROM (
      |  SELECT doc_id, $splitBucketSql AS bucket
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** t6 — vocabulary extraction: corpus-wide top-50 tokens by frequency
    * (the vocab-building pass of a tokenizer pipeline). */
  def vocab(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(col("text")).as[String]
      .flatMap(_.trim.split("\\s+"))
      .toDF("word")
    // top-50 via limit (TakeOrderedAndProject — distributed top-k), THEN
    // rank the 50 survivors; a global no-partition window would funnel
    // the whole vocabulary through one task
    val top = toks.groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(50)
    val w = Window.orderBy(col("n").desc, col("word").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("word"), col("n"))
      .orderBy(col("rank"))
  }

  val vocabSql: String =
    """SELECT rank, word, n FROM (
      |  SELECT word, count(*) AS n,
      |    row_number() OVER (ORDER BY count(*) DESC, word ASC) AS rank
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents)
      |  GROUP BY word)
      |WHERE rank <= 50 ORDER BY rank""".stripMargin

  /** t7 — tf-idf-style top terms per document, ranked by
    * (tf desc, df asc, word) — integer ranking, so no float-idf drift. */
  def topTerms(s: SparkSession, d: String): DataFrame = {
    // One codegen'd tokenize pass (explode/split, no typed flatMap — the
    // Scala split and Spark split agree on trimmed input: no leading
    // empties post-trim, neither keeps a trailing empty, and both yield
    // [""] for empty text). `df` is derived FROM `tf` — tf already has
    // exactly one row per (doc_id, word), so count(*) per word over tf
    // equals the old distinct-then-count — which drops the distinct
    // exchange and the second pass's boxed flatMap (round-16 pass, guide
    // §2.3/§2.4; measured 1.23 → 0.90 s median at sf0.1). A persist() of
    // tf was ALSO tried (to force exactly-one tokenize — join pushdown
    // perturbs the consumer subtrees so exchange reuse misses) and
    // REVERTED on measurement: the cache build cost more than the
    // tokenize it saved at every bench tier (t7 0.90 → 1.13 s median),
    // the round-15 g14-persist lesson again. The staged form (tf to
    // parquet) was MEASURED in round 17 (TUNING.md "Closed A/Bs"): it
    // wins at sfx1 (min 1.52 vs 2.73) but LOSES at sfx10 (17.6 vs 7.8)
    // — the high-cardinality tf write grows faster than the recompute
    // it saves — so inline stays the form at every tier; stage only
    // narrow derived tables (the d3s/d16s pattern).
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("word"))
    val tf = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("word").asc)
    tf.join(df_, "word")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("word"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val topTermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
      |  FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM toks) GROUP BY word)
      |SELECT doc_id, rank, word, tf, df FROM (
      |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, df.df ASC, tf.word ASC) AS rank
      |  FROM tf JOIN df USING (word))
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** t8 — deterministic stratified sampling: N documents per language,
    * ranked by content hash (not rand() — reproducible across runs,
    * machines and partitionings; the per-class downsampling step of a
    * dataset-balancing pipeline). */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(md5(col("text")).asc, col("doc_id").asc)
    Tables.documents(s, d)
      .withColumn("rank_in_lang", row_number().over(w))
      .where(col("rank_in_lang") <= 20)
      .select(col("lang"), col("rank_in_lang"), col("doc_id"))
      .orderBy(col("lang"), col("rank_in_lang"))
  }

  val stratifiedSampleSql: String =
    """SELECT lang, rank_in_lang, doc_id FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY md5(text) ASC, doc_id ASC) AS rank_in_lang
      |  FROM documents)
      |WHERE rank_in_lang <= 20 ORDER BY lang, rank_in_lang""".stripMargin

  /** t9 — PII-style pattern redaction, the scrub pass a training-data
    * pipeline runs before tokenization: emails collapse to <EMAIL>, then
    * digit runs to <NUM>, with per-doc match counts and an md5 of the
    * redacted text proving full-string equality. The corpus carries no
    * such patterns (synthetic words only), so a deterministic
    * contact-line suffix is derived from doc_id inside the query — both
    * engines construct the identical input, then the redaction does real
    * work. Patterns stay in the Java∩RE2 common subset so Spark and
    * DuckDB agree. Pure map-side: scales with input bytes, no shuffle. */
  def redact(s: SparkSession, d: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
    val numPat = "[0-9]+"
    val synth = concat(col("text"), lit(" ref "),
      (col("doc_id") * 7919).cast("string"),
      lit(" mail u"), col("doc_id").cast("string"), lit("@ex.org"))
    Tables.documents(s, d)
      .select(col("doc_id"), synth.as("synth"))
      .withColumn("n_emails", size(regexp_extract_all(col("synth"), lit(emailPat), lit(0))).cast("long"))
      .withColumn("deemailed", regexp_replace(col("synth"), emailPat, "<EMAIL>"))
      .withColumn("n_nums", size(regexp_extract_all(col("deemailed"), lit(numPat), lit(0))).cast("long"))
      .withColumn("redacted_md5", md5(regexp_replace(col("deemailed"), numPat, "<NUM>")))
      .select(col("doc_id"), col("n_emails"), col("n_nums"), col("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val redactSql: String =
    """WITH synth AS (
      |  SELECT doc_id,
      |    text || ' ref ' || CAST(doc_id * 7919 AS VARCHAR) ||
      |    ' mail u' || CAST(doc_id AS VARCHAR) || '@ex.org' AS s
      |  FROM documents),
      |de AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(s, '[A-Za-z0-9._]+@[A-Za-z0-9.]+')) AS BIGINT) AS n_emails,
      |    regexp_replace(s, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g') AS t
      |  FROM synth)
      |SELECT doc_id, n_emails,
      |  CAST(len(regexp_extract_all(t, '[0-9]+')) AS BIGINT) AS n_nums,
      |  md5(regexp_replace(t, '[0-9]+', '<NUM>', 'g')) AS redacted_md5
      |FROM de ORDER BY doc_id""".stripMargin

  /** t10 — Gopher-style repetition signals (the "repetitious content"
    * quality rules of large-scale corpus filtering): per-document word
    * count, distinct-word count, total word characters, bigram count and
    * the frequency of the most repeated bigram. All counts are integers,
    * so the oracle comparison is exact by construction; downstream
    * filters derive the ratios (dup-word fraction, top-bigram fraction,
    * mean word length) from these. One typed map pass per document —
    * no shuffle. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val words = Tokens.words(text)
        val distinct = new scala.collection.mutable.HashSet[String]
        var chars = 0L
        // codepoint count, matching DuckDB len() beyond the BMP
        words.foreach { w => distinct += w; chars += w.codePointCount(0, w.length) }
        val bigramCounts = new scala.collection.mutable.HashMap[String, Long]
        var k = 0
        while (k + 1 < words.length) {
          val bg = words(k) + " " + words(k + 1)
          bigramCounts.update(bg, bigramCounts.getOrElse(bg, 0L) + 1L)
          k += 1
        }
        val topBigram = if (bigramCounts.isEmpty) 0L else bigramCounts.valuesIterator.max
        (id, words.length.toLong, distinct.size.toLong, chars,
          math.max(words.length - 1, 0).toLong, topBigram)
      }
      .toDF("doc_id", "n_words", "n_distinct", "word_chars", "n_bigrams", "top_bigram")
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |base AS (
      |  SELECT doc_id,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
      |    CAST(coalesce(list_sum(list_transform(ws, x -> len(x))), 0) AS BIGINT) AS word_chars,
      |    CAST(greatest(len(ws) - 1, 0) AS BIGINT) AS n_bigrams,
      |    list_transform(list_zip(ws[1:-2], ws[2:]), z -> z[1] || ' ' || z[2]) AS bgs
      |  FROM w),
      |tops AS (
      |  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram FROM (
      |    SELECT doc_id, bg, count(*) AS cnt
      |    FROM (SELECT doc_id, unnest(bgs) AS bg FROM base)
      |    GROUP BY doc_id, bg)
      |  GROUP BY doc_id)
      |SELECT b.doc_id, n_words, n_distinct, word_chars, n_bigrams,
      |  coalesce(t.top_bigram, 0) AS top_bigram
      |FROM base b LEFT JOIN tops t ON b.doc_id = t.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** t11 — train/eval decontamination check: for every document in the
    * t5 content-hash val split, how many of its distinct word 8-grams
    * also occur anywhere in the train split (the n-gram-overlap
    * contamination audit run before an eval set is trusted). Shape:
    * gram extraction is one typed flatMap, the train-gram set is a
    * distinct projection, containment is a semi-join on the gram — an
    * inverted-index probe, never val×train pairs, so it scales with
    * corpus size not corpus². */
  def decontamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val split = Tables.documents(s, d).withColumn("split", splitCol)
    val grams = split.select(col("doc_id"), col("split"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, sp, text) =>
        val ws = Tokens.words(text)
        (0 to ws.length - 8).iterator.map(i => (id, sp, ws.slice(i, i + 8).mkString(" ")))
      }
      .toDF("doc_id", "split", "g")
      .distinct()
    val trainGrams = grams.where(col("split") === "train").select(col("g")).distinct()
    val valGrams = grams.where(col("split") === "val").select(col("doc_id"), col("g"))
    val counts = valGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val contaminated = valGrams.join(trainGrams, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    split.where(col("split") === "val").select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .orderBy(col("doc_id"))
  }

  val decontaminationSql: String =
    s"""WITH w AS (
      |  SELECT doc_id,
      |    CASE WHEN ($splitBucketSql) < 90
      |         THEN 'train' ELSE 'val' END AS split,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, split, array_to_string(list_slice(ws, i, i + 7), ' ') AS g
      |  FROM (SELECT doc_id, split, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w)),
      |tg AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
      |vg AS (SELECT doc_id, g FROM grams WHERE split = 'val'),
      |cnt AS (SELECT doc_id, count(*) AS n_grams FROM vg GROUP BY doc_id),
      |cont AS (SELECT doc_id, count(*) AS n_contaminated FROM vg
      |         WHERE g IN (SELECT g FROM tg) GROUP BY doc_id)
      |SELECT w.doc_id,
      |  CAST(coalesce(cnt.n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(coalesce(cont.n_contaminated, 0) AS BIGINT) AS n_contaminated
      |FROM w LEFT JOIN cnt USING (doc_id) LEFT JOIN cont USING (doc_id)
      |WHERE w.split = 'val'
      |ORDER BY w.doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** t12 — char-trigram familiarity score, the integer-exact core of a
    * CCNet-style LM quality filter: documents whose trigrams are globally
    * rare (gibberish, mojibake, boilerplate markup) score low. Two
    * passes: corpus-wide trigram counts (bounded by alphabet³, so the
    * count table is a broadcastable dimension no matter the corpus
    * size), then one map-side join + per-doc sum. Integer counts rather
    * than log-probabilities keep the result order-independent and
    * engine-exact; a consumer derives avg familiarity = sum/n. */
  def trigramFamiliarity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tris = Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        // codepoint windows, not UTF-16 substrings: DuckDB's substr/len
        // count codepoints, so an astral char would break hash parity on
        // a char-indexed slice (same guard as the m2 frame sampler)
        val cps = (if (t == null) "" else t).codePoints().toArray
        (0 to cps.length - 3).iterator.map(i => (id, new String(cps, i, 3)))
      }
      .toDF("doc_id", "tri")
    val global = tris.groupBy("tri").agg(count(lit(1)).as("cnt"))
    val perDoc = tris.join(broadcast(global), "tri")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum(col("cnt")).as("familiarity"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("familiarity"), lit(0L)).as("familiarity"))
      .orderBy(col("doc_id"))
  }

  val trigramFamiliaritySql: String =
    """WITH tri AS (
      |  SELECT doc_id, substr(text, i, 3) AS tri
      |  FROM (SELECT doc_id, coalesce(text, '') AS text,
      |          unnest(generate_series(1, len(coalesce(text, '')) - 2)) AS i
      |        FROM documents)),
      |g AS (SELECT tri, count(*) AS cnt FROM tri GROUP BY tri),
      |per AS (
      |  SELECT doc_id, count(*) AS n_trigrams, sum(cnt) AS familiarity
      |  FROM tri JOIN g USING (tri) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(n_trigrams, 0) AS BIGINT) AS n_trigrams,
      |  CAST(coalesce(familiarity, 0) AS BIGINT) AS familiarity
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** t13 — the corpus-cleaning DECISION: the end-to-end keep/drop verdict
    * a training-data pipeline materialises per document, composed from
    * three independent signals — exact-dup canonical (d1's rule), near-dup
    * cluster canonical (d7), and language-label agreement (t3). `kept` is
    * the conjunction; the per-signal flags stay visible so a curator can
    * audit WHY a document dropped. Each signal is its own scalable
    * operator; the composition is two equi-joins on doc_id — this gate
    * certifies the stages compose, the flagship query of the corpus side
    * the way g14 is for the graph side. */
  def corpusFilter(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // coalesce BEFORE hashing: a NULL text must not fall out of the inner
    // join (null join keys never match), it groups with the empty string
    val h = md5(coalesce(col("text"), lit("")))
    val exact = docs.groupBy(h.as("h")).agg(min(col("doc_id")).as("canon"))
    val exactKeep = docs.select(col("doc_id"), h.as("h"))
      .join(exact, "h")
      .select(col("doc_id"), (col("doc_id") === col("canon")).cast("int").as("exact_keep"))
    val nd = Dedup.dedupClusters(s, d).select(col("doc_id"), col("keep").as("neardup_keep"))
    val lang = langId(s, d).select(col("doc_id"), col("hit").as("lang_ok"))
    exactKeep.join(nd, "doc_id").join(lang, "doc_id")
      .select(col("doc_id"), col("exact_keep"), col("neardup_keep"), col("lang_ok"),
        (col("exact_keep") * col("neardup_keep") * col("lang_ok")).as("kept"))
      .orderBy(col("doc_id"))
  }

  val corpusFilterSql: String =
    s"""WITH ex AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(coalesce(text, '')))
      |         THEN 1 ELSE 0 END AS INT) AS exact_keep
      |  FROM documents),
      |nd AS (SELECT doc_id, keep AS neardup_keep FROM (${Dedup.dedupClustersSql})),
      |lg AS (SELECT doc_id, hit AS lang_ok FROM ($langIdSql))
      |SELECT ex.doc_id, exact_keep, neardup_keep, lang_ok,
      |  CAST(exact_keep * neardup_keep * lang_ok AS INT) AS kept
      |FROM ex JOIN nd USING (doc_id) JOIN lg USING (doc_id)
      |ORDER BY ex.doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** t14 — per-source reputation table (the CCNet-style per-domain
    * aggregate a corpus pipeline keeps to up/down-weight whole sources):
    * document count, exact-duplicate count (rows whose content hash is
    * not the group canonical), distinct languages, total characters, and
    * language-label agreement hits. One groupBy on the source key after
    * map-side signal derivation — the dup flag joins the content-hash
    * canonical exactly like t13's exact_keep. All-integer, so per-source
    * means derive downstream without float drift. */
  def sourceStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val h = md5(coalesce(col("text"), lit("")))
    val exact = docs.groupBy(h.as("h")).agg(min(col("doc_id")).as("canon"))
    val flagged = docs.select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), h.as("h"))
      .join(exact, "h")
      .withColumn("is_dup", (col("doc_id") =!= col("canon")).cast("long"))
    val lang = langId(s, d).select(col("doc_id"), col("hit"))
    flagged.join(lang, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dups"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("hit").cast("long")).as("lang_hits"))
      .orderBy(col("source"))
  }

  val sourceStatsSql: String =
    s"""WITH ex AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(coalesce(text, '')))
      |         THEN 0 ELSE 1 END AS is_dup
      |  FROM documents),
      |lg AS (SELECT doc_id, hit FROM ($langIdSql))
      |SELECT source,
      |  count(*) AS n_docs,
      |  CAST(sum(is_dup) AS BIGINT) AS n_dups,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(hit) AS BIGINT) AS lang_hits
      |FROM ex JOIN lg USING (doc_id)
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------

  /** t15 — HyperLogLog-style register sketch of distinct documents per
    * source: bucket = first md5 nibble (16 registers), rank = leading
    * zero-nibble run of the remainder + 1, register = MAX rank. The
    * output is the REGISTER TABLE, not the float estimate — registers
    * are integers, merge by max (associative + commutative ⇒ map-side
    * combine, and shards/days union by re-maxing), and any consumer can
    * apply the harmonic-mean estimator downstream. This is the sketch
    * infrastructure piece: cardinality state that composes across a
    * partitioned corpus in O(sources × 16) space. */
  def hllRegisters(s: SparkSession, d: String): DataFrame =
    hllRegistersOf(Tables.documents(s, d))
      .orderBy(col("source"), col("bucket"))

  /** The register aggregation over any `(source, text)` frame — batch
    * t15 and streaming st35 share it verbatim (max is a semigroup, so
    * the Complete-mode streaming state is the register table itself:
    * sources × 16 ints however long the stream runs). */
  private[graft] def hllRegistersOf(docs: DataFrame): DataFrame = {
    // rank = leading zero BITS of the 60-bit hash suffix + 1 (Flajolet's
    // ρ). Round-12 estimate-vs-truth catch: the original rank counted
    // zero HEX DIGITS while the estimator weighted it as binary, so
    // estimates collapsed ~4× per decade — invisible to the mirrored
    // oracle, which reproduced the same defect in DuckDB. The digit math
    // stays pure-integer: 4·(zero hex digits) + CASE on the first
    // nonzero digit's value ('123456789abcdef' position = value).
    val h = md5(coalesce(col("text"), lit("")))
    docs.select(col("source"),
        conv(substring(h, 1, 1), 16, 10).cast("int").as("bucket"),
        expr("substr(md5(coalesce(text, '')), 2, 15)").as("hx"))
      .withColumn("z", expr("length(regexp_extract(hx, '^0*', 0))"))
      .withColumn("rank", expr(
        """CASE WHEN z = 15 THEN 61 ELSE
          |  4 * z + (CASE WHEN locate(substr(hx, z + 1, 1), '123456789abcdef') >= 8 THEN 0
          |                WHEN locate(substr(hx, z + 1, 1), '123456789abcdef') >= 4 THEN 1
          |                WHEN locate(substr(hx, z + 1, 1), '123456789abcdef') >= 2 THEN 2
          |                ELSE 3 END) + 1 END""".stripMargin).cast("int"))
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rank")).as("max_rank"))
  }

  val hllRegistersSql: String =
    """SELECT source, bucket, CAST(max(rank) AS INT) AS max_rank FROM (
      |  SELECT source, bucket,
      |    CASE WHEN z = 15 THEN 61 ELSE
      |      4 * z + (CASE WHEN strpos('123456789abcdef', substr(hx, z + 1, 1)) >= 8 THEN 0
      |                    WHEN strpos('123456789abcdef', substr(hx, z + 1, 1)) >= 4 THEN 1
      |                    WHEN strpos('123456789abcdef', substr(hx, z + 1, 1)) >= 2 THEN 2
      |                    ELSE 3 END) + 1 END AS rank
      |  FROM (
      |    SELECT source, hx, length(regexp_extract(hx, '^0*')) AS z,
      |      CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT) AS bucket
      |    FROM (SELECT source, md5(coalesce(text, '')) AS h,
      |            substr(md5(coalesce(text, '')), 2, 15) AS hx
      |          FROM documents)))
      |GROUP BY source, bucket ORDER BY source, bucket""".stripMargin

  // ---------------------------------------------------------------------

  /** t16 — TF-IDF term ranking: top-3 terms per document by an
    * INTEGER-scaled idf weight, `score = tf · ((N · 10⁶) intdiv df)` — the
    * classic relevance weighting with the logarithm's job (rare terms
    * outrank common ones, monotone in 1/df) done by exact integer
    * division, so both engines rank identically with no float anywhere.
    * Scale shape: tf is one shuffle on (doc, term); df is a map-side-
    * combined groupBy over the tf table (distinct doc-term pairs, NOT raw
    * tokens); N is a 1-row broadcast; the per-doc top-3 is a bounded
    * window. The df dimension joins back on the term key — at corpus
    * scale the high-df head fits any broadcast threshold and the tail is
    * an equi-join, exactly how a relevance index is built. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"),
      explode(split(trim(col("text")), "\\s+")).as("term"))
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", expr("tf * ((n * 1000000) div df)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    tf.tf * ((SELECT n FROM n) * 1000000 // df.df) AS score,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * ((SELECT n FROM n) * 1000000 // df.df) DESC, tf.term ASC) AS rank
      |  FROM tf JOIN df USING (term))
      |SELECT doc_id, rank, term, tf, CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS score
      |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------------

  /** t17 — SEQUENCE PACKING: greedily pack documents (in doc_id order,
    * within their source) into training sequences of ≤512 whitespace
    * tokens — the context-window bin-packing every LLM pretraining
    * pipeline runs between "clean corpus" and "tokenised batches". A new
    * chunk starts whenever adding the next document would overflow the
    * budget (an oversize document gets a chunk of its own).
    *
    * Packing is inherently a sequential fold over an ordered stream, so
    * the scale unit is the SOURCE (shard/day/crawl segment in
    * production): `repartition(source) → sortWithinPartitions(source,
    * doc_id) → mapPartitions` is Spark's secondary-sort pattern — one
    * shuffle, then each partition streams its sources in order through a
    * constant-space fold, never holding a group in memory. Parallelism =
    * number of sources; a pathologically large single source is split
    * upstream (salt by day/shard), not here. */
  def sequencePacking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 512L
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .as[(String, Long, Long)]
    docs.mapPartitions { it =>
      var curSrc: String = null
      var chunk = 0L
      var acc = 0L
      it.map { case (src, id, tok) =>
        if (src != curSrc) { curSrc = src; chunk = 0L; acc = tok }
        else if (acc + tok > budget) { chunk += 1; acc = tok }
        else acc += tok
        (src, chunk, id, tok)
      }
    }.toDF("source", "chunk", "doc_id", "tokens")
      .groupBy(col("source"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("chunk"))
  }

  val sequencePackingSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |packed AS (
      |  SELECT source, doc_id, rn, tokens, CAST(0 AS BIGINT) AS chunk, tokens AS acc
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.source, d.doc_id, d.rn, d.tokens,
      |    CASE WHEN p.acc + d.tokens > 512 THEN p.chunk + 1 ELSE p.chunk END,
      |    CASE WHEN p.acc + d.tokens > 512 THEN d.tokens ELSE p.acc + d.tokens END
      |  FROM packed p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
      |SELECT source, chunk, count(*) AS n_docs,
      |  CAST(sum(tokens) AS BIGINT) AS sum_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM packed GROUP BY source, chunk ORDER BY source, chunk""".stripMargin

  // ---------------------------------------------------------------------

  /** t18 — BM25 ranking (Robertson/Spärck Jones, k1=1.2 b=0.75): the
    * retrieval scorer behind corpus-level quality search — t16's tf·idf
    * plus the document-LENGTH normalisation that stops long documents
    * dominating every term. Query terms are the corpus's 3 highest-df
    * terms (deterministic, data-derived). All arithmetic is fixed-point
    * integer (scales 1e6/1e3), so the ranking is engine-exact:
    *   idf   = (N·10⁶) div df                       (t16's monotone proxy)
    *   tfn   = (tf·2.2e9) div (tf·10⁶ + (1200·(250000 + (750000·dl) div avgdl)) div 1000)
    *   score = idf · tfn
    * Shape: the corpus-wide stats (N, avgdl) are a one-row broadcast, df
    * of the 3 query terms a 3-row broadcast; scoring is a map-side join
    * over the tf table + one top-k window per term. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"),
      explode(split(trim(col("text")), "\\s+")).as("term"))
    // Round-16 A/B note: deriving dl/st from tf (fewer logical passes)
    // and persisting tf (to force exactly-one tokenize) were BOTH tried
    // and reverted on measurement — the four consumer subtrees diverge
    // under join pushdown so exchange reuse misses either way, and at
    // bench scale the extra aggregate layers (min 0.70 → 0.92 s) and the
    // cache build (min → 1.78 s) each cost more than the codegen'd
    // tokenize they saved. Round 17 also MEASURED the staged form (tf to
    // parquet, TUNING.md "Closed A/Bs"): it loses here at sf0.1 and sfx1
    // and only reaches parity at sfx10 — the inline shape is the
    // measured-best plan at every tier; see OPTIMIZATION_r17.md #6.
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
      .select(col("n"), expr("tot div n").as("avgdl"))
    val qterms = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc).limit(3)
    val w = Window.partitionBy(col("term"))
      .orderBy(col("score").desc, col("doc_id").asc)
    tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("score", expr(
        """((n * 1000000) div df) *
          |((tf * 2200000000) div
          | (tf * 1000000 + (1200 * (250000 + (750000 * dl) div avgdl)) div 1000))"""
          .stripMargin.replace("\n", " ")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("term"), col("rank"), col("doc_id"), col("tf"), col("dl"), col("score"))
      .orderBy(col("term"), col("rank"))
  }

  val bm25Sql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
      |st AS (SELECT count(*) AS n,
      |         CAST(sum(dl) AS BIGINT) // count(*) AS avgdl FROM dl),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term
      |        ORDER BY df DESC, term ASC LIMIT 3),
      |scored AS (
      |  SELECT q.term, tf.doc_id, tf.tf, dl.dl,
      |    ((st.n * 1000000) // q.df) *
      |    ((tf.tf * 2200000000) //
      |     (tf.tf * 1000000 + (1200 * (250000 + (750000 * dl.dl) // st.avgdl)) // 1000)) AS score
      |  FROM tf JOIN dfq q USING (term) JOIN dl USING (doc_id) CROSS JOIN st)
      |SELECT term, rank, doc_id, tf, dl, CAST(score AS BIGINT) AS score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY term
      |    ORDER BY score DESC, doc_id ASC) AS rank
      |  FROM scored)
      |WHERE rank <= 5 ORDER BY term, rank""".stripMargin

  // ---------------------------------------------------------------------

  /** t19 — temperature-weighted source MIXTURE: the "how much of each
    * domain goes into the training mix" allocator (the α=0.5 sampling
    * temperature of multilingual/multi-domain pretraining — upweights
    * small sources relative to proportional sampling). Weight per source
    * is ⌊√n⌋ — IEEE sqrt is correctly rounded and floor'd identically on
    * both engines, so integer-exact — and a 100k-document budget is
    * split by largest-remainder-free integer quota (budget·w) div Σw.
    * One groupBy + a one-row broadcast: trivially 100 TB-safe. */
  def mixtureWeights(s: SparkSession, d: String): DataFrame = {
    val bySrc = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val tot = bySrc.agg(sum(col("weight")).as("wsum"))
    bySrc.crossJoin(broadcast(tot))
      .withColumn("quota", expr("(100000 * weight) div wsum"))
      .select(col("source"), col("n_docs"), col("weight"), col("quota"))
      .orderBy(col("source"))
  }

  val mixtureWeightsSql: String =
    """WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM s)
      |SELECT source, n_docs, weight,
      |  CAST((100000 * weight) // t.wsum AS BIGINT) AS quota
      |FROM s CROSS JOIN t ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------

  /** t20 — CCNet-style QUALITY BUCKETS: within each language, rank
    * documents by LM-familiarity (t12's integer trigram score, scaled per
    * trigram so length cancels) and split head / middle / tail with
    * ntile(3) — the bucketing CCNet applies on wikipedia-LM perplexity to
    * decide what enters the training mix (head) and what needs review
    * (tail). Both engines implement SQL-standard ntile (first n mod k
    * tiles get the extra row) over the same total order (score desc,
    * doc_id asc), so the assignment is engine-exact. One window per
    * language partition — scales by lang shard. */
  def qualityBuckets(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("doc_id").asc)
    trigramFamiliarity(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("score",
        expr("(familiarity * 1000000) div greatest(n_trigrams, 1)"))
      .withColumn("bucket", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("score"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  val qualityBucketsSql: String =
    s"""WITH fam AS ($trigramFamiliaritySql),
      |scored AS (
      |  SELECT f.doc_id, d.lang,
      |    (f.familiarity * 1000000) // greatest(f.n_trigrams, 1) AS score
      |  FROM fam f JOIN documents d ON d.doc_id = f.doc_id)
      |SELECT doc_id, lang, CAST(score AS BIGINT) AS score,
      |  CAST(ntile(3) OVER (PARTITION BY lang
      |    ORDER BY score DESC, doc_id ASC) AS INT) AS bucket
      |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** t21 — the composed CORPUS PIPELINE decision table
    * ([[graft.pipeline.CorpusPipeline]]): t13's dedup/lang conjunction
    * extended with the config-driven Gopher rules (token-count bounds,
    * top-bigram permille). This is the corpus side's g14 — the gate that
    * certifies the STAGES COMPOSE, not just that each passes alone. */
  def corpusPipeline(s: SparkSession, d: String): DataFrame =
    graft.pipeline.CorpusPipeline
      .run(s, d, graft.pipeline.CorpusConfig())
      .decisions.orderBy(col("doc_id"))

  val corpusPipelineSql: String =
    s"""WITH f AS ($corpusFilterSql),
      |r AS ($repetitionSql)
      |SELECT f.doc_id, exact_keep, neardup_keep, lang_ok,
      |  CAST(n_words >= 5 AND n_words <= 100000 AS INT) AS len_ok,
      |  CAST(n_bigrams = 0 OR top_bigram * 1000 <= n_bigrams * 333 AS INT) AS rep_ok,
      |  CAST(1 AS INT) AS sem_keep,
      |  CAST(kept
      |    * CAST(n_words >= 5 AND n_words <= 100000 AS INT)
      |    * CAST(n_bigrams = 0 OR top_bigram * 1000 <= n_bigrams * 333 AS INT)
      |    AS INT) AS kept
      |FROM f JOIN r USING (doc_id) ORDER BY f.doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** t23 — the composed MIXTURE PIPELINE
    * ([[graft.pipeline.MixturePipeline]]): t19's temperature-weighted
    * quotas allocate a 300-document budget across sources, st9's
    * admission rule (lowest `quota` doc_ids per source) picks the mix,
    * and t17's per-source fold packs it into ≤512-token sequences. The
    * budget is chosen so quotas BIND at fixture scale (≈15 of ~25 docs
    * per source) — the gate certifies the three stages compose under an
    * actually-enforcing policy, not a vacuous one. */
  def mixturePipeline(s: SparkSession, d: String): DataFrame =
    graft.pipeline.MixturePipeline
      .run(s, d, graft.pipeline.MixtureConfig(budget = 300))
      .packed

  val mixturePipelineSql: String =
    """WITH RECURSIVE s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM s),
      |q AS (SELECT source, CAST((300 * weight) // t.wsum AS BIGINT) AS quota
      |      FROM s CROSS JOIN t),
      |d AS (
      |  SELECT source, doc_id, tokens, rn FROM (
      |    SELECT d0.source, d0.doc_id,
      |      CAST(len(string_split_regex(trim(d0.text), '\s+')) AS BIGINT) AS tokens,
      |      row_number() OVER (PARTITION BY d0.source ORDER BY d0.doc_id) AS rn,
      |      q.quota
      |    FROM documents d0 JOIN q USING (source))
      |  WHERE rn <= quota),
      |packed AS (
      |  SELECT source, doc_id, rn, tokens, CAST(0 AS BIGINT) AS chunk, tokens AS acc
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.source, d.doc_id, d.rn, d.tokens,
      |    CASE WHEN p.acc + d.tokens > 512 THEN p.chunk + 1 ELSE p.chunk END,
      |    CASE WHEN p.acc + d.tokens > 512 THEN d.tokens ELSE p.acc + d.tokens END
      |  FROM packed p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
      |SELECT source, chunk, count(*) AS n_docs,
      |  CAST(sum(tokens) AS BIGINT) AS sum_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM packed GROUP BY source, chunk ORDER BY source, chunk""".stripMargin

  // ---------------------------------------------------------------------

  /** t24 — MIXTURE EPOCHS ([[graft.pipeline.MixturePipeline
    * .admitEpochs]]): repetition-aware admission in the data-constrained
    * regime. A 1000-document budget over-subscribes every source at
    * fixture scale (more quota than unique docs), so each source's docs
    * repeat across `quota div n_docs` full epochs with the lowest
    * `quota mod n_docs` doc_ids going one epoch further — per-source
    * emitted rows total EXACTLY quota, instead of silently capping at
    * available supply. */
  def mixtureEpochs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"), col("doc_id"))
    val q = graft.pipeline.MixturePipeline.quotas(docs, 1000L)
    graft.pipeline.MixturePipeline.admitEpochs(docs, q)
      .orderBy(col("source"), col("doc_id"), col("epoch"))
  }

  val mixtureEpochsSql: String =
    """WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM s),
      |q AS (SELECT source, n_docs, CAST((1000 * weight) // t.wsum AS BIGINT) AS quota
      |      FROM s CROSS JOIN t),
      |r AS (
      |  SELECT d.source, d.doc_id, q.quota, q.n_docs,
      |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rank
      |  FROM documents d JOIN q USING (source)),
      |c AS (
      |  SELECT source, doc_id,
      |    quota // n_docs + CASE WHEN rank <= quota % n_docs THEN 1 ELSE 0 END AS copies
      |  FROM r)
      |SELECT source, doc_id, unnest(generate_series(1, copies)) AS epoch
      |FROM c WHERE copies > 0 ORDER BY source, doc_id, epoch""".stripMargin

  // ---------------------------------------------------------------------

  /** t22 — word-bigram LM CONTINUATION TABLE: for the corpus's 5 most
    * frequent head words, the top-3 continuations by bigram count — the
    * count-based n-gram LM artifact (the model behind autocomplete-style
    * suggestion and the word-level cousin of t12's char-trigram scores).
    * Adjacent-pair extraction is one map pass; the head-word dimension is
    * a 5-row broadcast; ranking is one top-k window per head word.
    * Everything is counts, so engine-exact. */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bigrams = Tables.documents(s, d)
      .select(col("text")).as[String]
      .flatMap { t =>
        val ws = Tokens.words(t)
        (0 until math.max(ws.length - 1, 0)).iterator.map(i => (ws(i), ws(i + 1)))
      }
      .toDF("w1", "w2")
    val counts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val heads = counts.groupBy("w1").agg(sum(col("n12")).as("n1"))
      .orderBy(col("n1").desc, col("w1").asc).limit(5)
    val w = Window.partitionBy(col("w1"))
      .orderBy(col("n12").desc, col("w2").asc)
    counts.join(broadcast(heads), "w1")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("w1"), col("rank"), col("w2"), col("n12"), col("n1"))
      .orderBy(col("w1"), col("rank"))
  }

  val bigramLmSql: String =
    """WITH ws AS (
      |  SELECT list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |bg AS (
      |  SELECT ws[i] AS w1, ws[i+1] AS w2
      |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM ws)),
      |counts AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2),
      |heads AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM counts GROUP BY w1
      |          ORDER BY n1 DESC, w1 ASC LIMIT 5)
      |SELECT w1, rank, w2, n12, n1 FROM (
      |  SELECT c.w1, c.w2, c.n12, h.n1,
      |    row_number() OVER (PARTITION BY c.w1
      |      ORDER BY c.n12 DESC, c.w2 ASC) AS rank
      |  FROM counts c JOIN heads h USING (w1))
      |WHERE rank <= 3 ORDER BY w1, rank""".stripMargin

  /** t25 — DSIR-shaped data selection (importance resampling over hashed
    * n-gram features, Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): unigram tokens hash into 128
    * buckets; the per-bucket importance ratio is target-count over
    * raw-count with add-one smoothing, in 1e6 fixed point so both engines
    * agree bit-for-bit (canonical DSIR sums log ratios — the integer
    * ratio mean keeps the same ordering signal with exact arithmetic);
    * the target distribution here is the `lang = 'en'` slice standing in
    * for "looks like the high-quality reference corpus". Each document
    * scores the MEAN bucket ratio of its tokens and the top 100 by
    * (score, id) are admitted.
    *
    * Scale shape: two bucket-count aggregations (128-row results), the
    * ratio table BROADCAST back onto the token stream, one per-doc
    * aggregation, and a `orderBy().limit()` admission — Spark plans that
    * as distributed TakeOrdered partial top-k, so no corpus-sized
    * single-partition window ever materialises; the rank column is
    * assigned over the 100 survivors only. */
  def dsirSelection(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("bucket",
        conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("int") % 128)
    val raw = toks.groupBy("bucket").agg(count(lit(1)).as("r"))
    val tgt = toks.where(col("lang") === "en")
      .groupBy("bucket").agg(count(lit(1)).as("t"))
    val w = raw.join(tgt, Seq("bucket"), "left")
      .select(col("bucket"),
        expr("(1000000 * (coalesce(t, CAST(0 AS BIGINT)) + 1)) div (r + 1)").as("wb"))
    val docW = toks.join(broadcast(w), "bucket")
      .groupBy("doc_id", "lang")
      .agg(expr("sum(wb) div count(1)").as("w_avg"))
    docW.orderBy(col("w_avg").desc, col("doc_id").asc).limit(100)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("w_avg").desc, col("doc_id").asc)))
      .select(col("rank"), col("doc_id"), col("lang"), col("w_avg"))
      .orderBy(col("rank"))
  }

  val dsirSelectionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, lang,
      |    ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
      |     + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) % 128 AS bucket
      |  FROM toks),
      |raw AS (SELECT bucket, count(*) AS r FROM b GROUP BY bucket),
      |tgt AS (SELECT bucket, count(*) AS t FROM b WHERE lang = 'en' GROUP BY bucket),
      |w AS (
      |  SELECT raw.bucket, (1000000 * (coalesce(t, 0) + 1)) // (r + 1) AS wb
      |  FROM raw LEFT JOIN tgt ON tgt.bucket = raw.bucket),
      |docw AS (
      |  SELECT doc_id, lang, sum(wb) // count(*) AS w_avg
      |  FROM b JOIN w ON w.bucket = b.bucket GROUP BY doc_id, lang)
      |SELECT rank, doc_id, lang, CAST(w_avg AS BIGINT) AS w_avg FROM (
      |  SELECT *, row_number() OVER (ORDER BY w_avg DESC, doc_id ASC) AS rank
      |  FROM docw)
      |WHERE rank <= 100 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------

  /** Shared surprisal lookup: permille probability p → −ln(p/1000) in 1e6
    * fixed point (nats). Index 0 (a probability that FLOORED to zero
    * permille) is scored as half a permille — the standard "clamp, don't
    * infinity" guard. The table is literal data embedded identically in
    * the Spark plan and the oracle SQL, so log arithmetic never runs in
    * either engine at query time and parity is exact by construction. */
  private[operators] val surprisalTable: IndexedSeq[Long] =
    (0 to 1000).map { p =>
      val eff = if (p == 0) 0.5 else p.toDouble
      math.round(math.log(1000.0 / eff) * 1e6)
    }

  /** t26 — BIGRAM-LM PERPLEXITY FILTER (the CCNet recipe, Wenzek et al.
    * 2020): train an add-one-smoothed word-bigram LM on the t5 content-
    * hash train split, score each VAL document by its mean bigram
    * surprisal (1e6-scaled nats via [[surprisalTable]] — exp of the mean
    * is perplexity, so the integer mean preserves the perplexity order),
    * and ntile each language's val docs into head/middle/tail buckets —
    * CCNet's per-language perplexity tertiles.
    *
    * Scale shape: the LM is two count aggregations (bigram- and
    * head-word-keyed — vocabulary-sized, NOT corpus-sized); scoring is a
    * left equi-join of val bigrams against those tables (plain shuffle
    * joins on word keys); the vocab size V rides in as a broadcast
    * 1-row dimension; the only window is one ntile per language shard
    * (t20's contract). No log/exp ever executes — the surprisal column
    * is an `element_at` into the 1001-entry literal array. */
  def perplexityFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), splitCol.as("split"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, sp, t) =>
        val ws = Tokens.words(t)
        (0 until math.max(ws.length - 1, 0)).iterator
          .map(i => (id, sp, ws(i), ws(i + 1)))
      }
      .toDF("doc_id", "split", "w1", "w2")
    val train = bg.where(col("split") === "train")
    val counts = train.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val heads = counts.groupBy("w1").agg(sum(col("n12")).as("n1"))
    val vocab = train.select(col("w1").as("tok"))
      .union(train.select(col("w2").as("tok")))
      .agg(countDistinct(col("tok")).as("v"))
    val scored = bg.where(col("split") === "val")
      .join(counts, Seq("w1", "w2"), "left")
      .join(heads, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("p",
        expr("(1000 * (coalesce(n12, 0) + 1)) div greatest(coalesce(n1, 0) + v, 1)"))
      .withColumn("surprisal",
        element_at(typedLit(surprisalTable), col("p").cast("int") + 1))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("surprisal")).as("tot"))
      .withColumn("mean_surprisal", expr("tot div n_bigrams"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("mean_surprisal").asc, col("doc_id").asc)
    scored
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("tile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("mean_surprisal"),
        when(col("tile") === 1, "head").when(col("tile") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  val perplexityFilterSql: String = {
    val tab = surprisalTable.mkString("[", ", ", "]")
    s"""WITH doc AS (
      |  SELECT doc_id,
      |    CASE WHEN $splitBucketSql < 90 THEN 'train' ELSE 'val' END AS split,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, split, ws[i] AS w1, ws[i+1] AS w2
      |  FROM (SELECT doc_id, split, ws,
      |          unnest(generate_series(1, len(ws) - 1)) AS i FROM doc)),
      |counts AS (
      |  SELECT w1, w2, count(*) AS n12 FROM bg WHERE split = 'train'
      |  GROUP BY w1, w2),
      |heads AS (
      |  SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM counts GROUP BY w1),
      |vocab AS (
      |  SELECT count(DISTINCT tok) AS v FROM (
      |    SELECT w1 AS tok FROM bg WHERE split = 'train'
      |    UNION SELECT w2 FROM bg WHERE split = 'train')),
      |scored AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(sum(($tab)[
      |      CAST((1000 * (coalesce(n12, 0) + 1)) // greatest(coalesce(n1, 0) + v, 1)
      |        AS INT) + 1]) AS BIGINT) AS tot
      |  FROM bg LEFT JOIN counts USING (w1, w2) LEFT JOIN heads USING (w1)
      |  CROSS JOIN vocab
      |  WHERE split = 'val'
      |  GROUP BY doc_id)
      |SELECT s.doc_id, d.lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
      |  tot // n_bigrams AS mean_surprisal,
      |  CASE ntile(3) OVER (PARTITION BY d.lang
      |      ORDER BY tot // n_bigrams ASC, s.doc_id ASC)
      |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
      |FROM scored s JOIN documents d ON d.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------

  /** t28 — CROSS-SOURCE BOILERPLATE OVERLAP: the curation diagnostic a
    * multi-source corpus needs before mixing — for each source pair, how
    * many distinct word 8-grams they share (license headers, templated
    * page furniture and syndicated text show up here long before exact
    * dedup fires; the t14 per-source reputation table's pairwise
    * complement). Gram keys cross the shuffle as md5 hex — fixed 32
    * bytes, the d16 staged-head rule: never raw n-gram text — and BOTH
    * sides of the gate count distinct hashes, so the compare stays
    * exact. Scale shape: flatMap → distinct (source, hash) → self
    * equi-join on the hash (an inverted-index probe, never source×source
    * scans); a corpus-wide boilerplate gram shared by all S sources
    * costs C(S,2) rows — bounded by the source count, not the corpus. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .select(col("source"), col("text")).as[(String, String)]
      .flatMap { case (src, t) =>
        val ws = Tokens.words(t)
        (0 to ws.length - 8).iterator.map(i => (src, ws.slice(i, i + 8).mkString(" ")))
      }
      .toDF("source", "g")
      .select(col("source"), md5(col("g")).as("gh"))
      .distinct()
    grams.as("a").join(grams.as("b"), Seq("gh"))
      .where(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val sourceOverlapSql: String =
    """WITH w AS (
      |  SELECT source,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT source, md5(array_to_string(list_slice(ws, i, i + 7), ' ')) AS gh
      |  FROM (SELECT source, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w))
      |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared_grams
      |FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** t35 — CROSS-SOURCE CONTAMINATION MATRIX via source-level MinHash:
    * t28's exact inverted-index overlap answers "how many grams do these
    * two sources share", but its cost is the shared-gram mass itself —
    * a corpus-wide boilerplate gram shared by all S sources pays C(S,2)
    * join rows PER GRAM. This operator is the constant-memory scale twin:
    * each source is collapsed to a K=24-component MinHash signature over
    * its word-8-gram set (one groupBy, all mins map-side-combined — the
    * per-source state is K longs regardless of corpus size), and the
    * pairwise estimated Jaccard is the matched-component count, so the
    * pair stage touches S·K signature rows, never the corpus. The
    * component hash is an affine family over one md5 per gram with
    * per-component GEOMETRIC constants (see [[sigA]] — linear-in-j
    * multipliers degenerate to effective K=1), and min over a multiset
    * == min over the set, so no distinct pass is needed on either
    * engine. Estimates are surfaced as integer
    * millionths (`(1e6·k_match) div K`). The oracle mirrors the hash,
    * so — deterministic-draw discipline — the ScalaTest spec checks the
    * ESTIMATE against the true Jaccard on controlled-overlap fixtures
    * (identical sets must match on all K components; disjoint sets on
    * none), which a hash-mirroring oracle can never see. */
  def sourceSignature(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .select(col("source"), col("text")).as[(String, String)]
      .flatMap { case (src, t) =>
        val ws = Tokens.words(t)
        (0 to ws.length - 8).iterator.map(i => (src, ws.slice(i, i + 8).mkString(" ")))
      }
      .toDF("source", "g")
    sourceSignatureOf(grams).orderBy(col("src_a"), col("src_b"))
  }

  private[graft] val SigP = 2147483647L
  private[graft] val SigK = 24

  /** [[sourceSignature]] over an explicit `(source, g)` gram frame — the
    * fixture-driven entry the estimate-vs-truth spec uses. */
  /** Component-j constants: the shared geometric family — see
    * [[graft.core.Exact.minhashA]] for why linear-in-j constants would
    * collapse the signature to effective K=1. */
  private[graft] def sigA(j: Int): Long = graft.core.Exact.minhashA(j)
  private[graft] def sigB(j: Int): Long = graft.core.Exact.minhashB(j)

  private[graft] def sourceSignatureOf(grams: DataFrame): DataFrame =
    signatureMatrix(sourceSigFrame(grams))

  /** The `(source, m1..mK)` signature frame — one map-side-combined
    * groupBy; this is also EXACTLY the st33 streaming state (min is a
    * semigroup, so per-batch mins fold into the running signature). */
  private[graft] def sourceSigFrame(grams: DataFrame): DataFrame = {
    val x = conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long") % SigP
    val sigExprs = (1 to SigK).map(j =>
      min((x * lit(sigA(j)) + lit(sigB(j))) % SigP).as(s"m$j"))
    grams.groupBy(col("source")).agg(sigExprs.head, sigExprs.tail: _*)
  }

  /** Pairwise matched-component matrix of a signature frame (the t35
    * serving read, shared verbatim by streaming st33). */
  private[graft] def signatureMatrix(sig: DataFrame): DataFrame = {
    // (source, j, m) component view: one equi-join on (j, m) counts the
    // matching components per pair — only pairs sharing a min appear, so
    // the all-pairs matrix is restored by a left join against the tiny
    // (one row per SOURCE, a dimension) pair frame.
    val comps = sig.select(col("source"), explode(array((1 to SigK).map(j =>
        struct(lit(j).as("j"), col(s"m$j").as("m"))): _*)).as("c"))
      .select(col("source"), col("c.j").as("j"), col("c.m").as("m"))
    val matches = comps.as("a").join(comps.as("b"), Seq("j", "m"))
      .where(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("k_match"))
    val srcs = sig.select(col("source"))
    val pairs = srcs.as("x").join(srcs.as("y"),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"))
    pairs.join(matches, Seq("src_a", "src_b"), "left")
      .withColumn("k_match", coalesce(col("k_match"), lit(0L)))
      .withColumn("jacc_ppm", expr(s"(1000000 * k_match) div $SigK"))
  }

  val sourceSignatureSql: String = {
    val compCols = (1 to SigK).map { j =>
      s"min((x * ${sigA(j)} + ${sigB(j)}) % $SigP) AS m$j"
    }.mkString(",\n    ")
    val compRows = (1 to SigK).map(j => s"SELECT source, $j AS j, m$j AS m FROM sig")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH w AS (
      |  SELECT source,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |h AS (
      |  SELECT source,
      |    ('0x' || substr(md5(array_to_string(list_slice(ws, i, i + 7), ' ')), 1, 15))::BIGINT
      |      % $SigP AS x
      |  FROM (SELECT source, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w)),
      |sig AS (SELECT source, $compCols FROM h GROUP BY source),
      |comps AS (
      |  $compRows),
      |matches AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS k_match
      |  FROM comps a JOIN comps b ON a.j = b.j AND a.m = b.m AND a.source < b.source
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT x.source AS src_a, y.source AS src_b
      |  FROM sig x JOIN sig y ON x.source < y.source)
      |SELECT p.src_a, p.src_b,
      |  coalesce(k_match, CAST(0 AS BIGINT)) AS k_match,
      |  (1000000 * coalesce(k_match, CAST(0 AS BIGINT))) // $SigK AS jacc_ppm
      |FROM pairs p LEFT JOIN matches m ON p.src_a = m.src_a AND p.src_b = m.src_b
      |ORDER BY 1, 2""".stripMargin
  }

  /** t36 — VOCABULARY GROWTH CURVE (Heaps' law diagnostic): how fast
    * does the corpus stop surprising you? Documents are split into 10
    * arrival deciles (dense doc_id against the corpus count — row-local
    * arithmetic, NO global sort/rank anywhere), each word is charged to
    * the decile of its FIRST appearance (one map-side-combined min), and
    * the curve reports tokens seen vs new-vocabulary per decile plus the
    * running vocabulary size. Sub-linear cum_vocab growth against
    * n_tokens is the Heaps signature; a decile where n_new_words jumps
    * flags a distribution shift in the ingest order — the check a
    * training run wants BEFORE committing epochs to a new data mix. The
    * only window is over the 10 decile rows. */
  def vocabGrowth(s: SparkSession, d: String): DataFrame =
    vocabGrowthOf(Tables.documents(s, d).select(col("doc_id"), col("text")))

  private[graft] def vocabGrowthOf(docs: DataFrame): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val words = docs.select(col("doc_id"),
        explode(split(trim(coalesce(col("text"), lit(""))), "\\s+")).as("w"))
      .where(col("w") =!= "")
      .crossJoin(broadcast(nDocs))
      .withColumn("bucket", least(lit(9L), expr("(doc_id * 10) div n_docs")))
    val tokensPer = words.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    val firstSeen = words.groupBy(col("w")).agg(min(col("bucket")).as("bucket"))
    val newPer = firstSeen.groupBy(col("bucket")).agg(count(lit(1)).as("n_new_words"))
    val w10 = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokensPer.join(newPer, Seq("bucket"), "left")
      .withColumn("n_new_words", coalesce(col("n_new_words"), lit(0L)))
      // ≤10 rows reach this window — bounded, no partition key needed
      .withColumn("cum_vocab", sum(col("n_new_words")).over(w10))
      .select(col("bucket"), col("n_tokens"), col("n_new_words"), col("cum_vocab"))
      .orderBy(col("bucket"))
  }

  val vocabGrowthSql: String =
    """WITH nd AS (SELECT count(*) AS n_docs FROM documents),
      |w AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
      |                       x -> x <> '')) AS w
      |  FROM documents),
      |b AS (SELECT least(9, (doc_id * 10) // n_docs) AS bucket, w FROM w, nd),
      |tok AS (SELECT bucket, count(*) AS n_tokens FROM b GROUP BY bucket),
      |fb AS (SELECT w, min(bucket) AS bucket FROM b GROUP BY w),
      |nw AS (SELECT bucket, count(*) AS n_new_words FROM fb GROUP BY bucket)
      |SELECT t.bucket, t.n_tokens,
      |  coalesce(n_new_words, CAST(0 AS BIGINT)) AS n_new_words,
      |  CAST(sum(coalesce(n_new_words, 0)) OVER (ORDER BY t.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
      |FROM tok t LEFT JOIN nw ON nw.bucket = t.bucket ORDER BY t.bucket""".stripMargin

  /** t37 — LEXICAL DIVERSITY per source: type/token ratio and hapax
    * share — the vocabulary-health complement to t14's volume stats and
    * t36's arrival curve. Low TTR flags templated/boilerplate sources
    * (few types, many tokens); a low hapax share flags the same at the
    * tail (natural text keeps ~40-60% of its vocabulary at frequency 1
    * — Zipf — while generated/templated text collapses it). Ratios are
    * integer millionths (`1e6·x div y`, both engines truncating), so
    * the compare is bit-exact. Shape: one (source, word) count with
    * map-side combine — a source's raw tokens collapse to its
    * vocabulary before the shuffle — then a per-source aggregate over
    * vocabulary rows; no windows. */
  def lexicalDiversity(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("source"),
        explode(split(trim(coalesce(col("text"), lit(""))), "\\s+")).as("w"))
      .where(col("w") =!= "")
    words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("(1000000 * n_types) div n_tokens").as("ttr_ppm"),
        expr("(1000000 * n_hapax) div n_types").as("hapax_ppm"))
      .orderBy(col("source"))
  }

  val lexicalDiversitySql: String =
    """WITH w AS (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
      |                       x -> x <> '')) AS w
      |  FROM documents),
      |c AS (SELECT source, w, count(*) AS n FROM w GROUP BY source, w),
      |p AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
      |    count(*) AS n_types,
      |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |  FROM c GROUP BY source)
      |SELECT source, n_tokens, n_types, n_hapax,
      |  (1000000 * n_types) // n_tokens AS ttr_ppm,
      |  (1000000 * n_hapax) // n_types AS hapax_ppm
      |FROM p ORDER BY source""".stripMargin

  /** t38 — TRAIN/VAL NEAR-DUP LEAKAGE: the eval-hygiene composition
    * t11's exact-gram decontamination cannot see — a val document whose
    * verified NEAR-duplicate (d3's banded-LSH + exact-verify pairs, ≥⅔
    * shingle overlap) sits in train leaks the benchmark even though no
    * 8-gram matches exactly. One pass over the verified pair table
    * (the expensive LSH work is d3's and is not repeated per
    * direction): each pair joins both endpoints' t5 split labels, the
    * cross-split pairs keep their val side, and the report is one row
    * per leaked val doc with its train-near-dup count and the best
    * verified similarity in millionths (2·inter/(na+nb), the d3
    * verification statistic). Empty report ⟺ the split is
    * leakage-free at the near-dup level. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashLsh(s, d)
      .select(col("da"), col("db"), col("inter"),
        (col("na") + col("nb")).as("tot"))
    val split = trainSplit(s, d).select(col("doc_id"), col("split"))
    val tagged = pairs
      .join(split.select(col("doc_id").as("da"), col("split").as("sa")), "da")
      .join(split.select(col("doc_id").as("db"), col("split").as("sb")), "db")
    tagged
      .where((col("sa") === "val" && col("sb") === "train") ||
        (col("sa") === "train" && col("sb") === "val"))
      .select(when(col("sa") === "val", col("da")).otherwise(col("db")).as("doc_id"),
        col("inter"), col("tot"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_train_neardups"),
        max(expr("(2000000 * inter) div tot")).as("best_sim_ppm"))
      .orderBy(col("doc_id"))
  }

  val splitLeakageSql: String =
    s"""WITH pairs AS (${graft.operators.Dedup.minhashLshSql}),
      |split AS ($trainSplitSql),
      |leaks AS (
      |  SELECT CASE WHEN s1.split = 'val' THEN p.da ELSE p.db END AS doc_id,
      |    p.inter, p.na + p.nb AS tot
      |  FROM pairs p
      |  JOIN split s1 ON s1.doc_id = p.da
      |  JOIN split s2 ON s2.doc_id = p.db
      |  WHERE (s1.split = 'val' AND s2.split = 'train')
      |     OR (s1.split = 'train' AND s2.split = 'val'))
      |SELECT doc_id, count(*) AS n_train_neardups,
      |  max((2000000 * inter) // tot) AS best_sim_ppm
      |FROM leaks GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t27 — BPE MERGE TRAINING (Sennrich et al. 2016), distributed and
    * VOCAB-SCALE: greedy pair-merge rounds over the word-internal
    * character sequences of the corpus. Two structural decisions make
    * the loop survive its real parameter regime (32k merges):
    *
    *  - **State lives on the DISTINCT-WORD dictionary**, not the corpus
    *    (Sennrich's own trainer works from word counts): every
    *    occurrence of a word segments identically, so 100 TB of text
    *    collapses to one Zipf-bounded `(word, freq, syms)` table in a
    *    single up-front shuffle and the merge loop never touches the
    *    corpus again.
    *  - **Pair counts are maintained by DELTA**: per round, only words
    *    CONTAINING the winning pair change — their old adjacent pairs
    *    leave the count table weighted −freq and their rewritten pairs
    *    enter weighted +freq — so the per-round shuffle tracks the
    *    winner's occurrences, not the corpus (the round-8 verdict's one
    *    remaining wrong loop shape). The previous full-recount loop is
    *    kept as [[bpeRunRecount]], a spec-pinned twin
    *    (CorpusOpsSpec: delta ≡ recount on hand corpora and testdata).
    *
    * The winner pick is a 1-row bounded driver read per round (the
    * sanctioned pattern — ties broken count-desc then lexicographic);
    * its two symbols steer narrow typed maps, and the word rewrite is
    * the tokenizer's LEFT-TO-RIGHT NON-OVERLAPPING greedy scan, now
    * word-local and shuffle-free. The gate emits the merge table
    * (rank, lhs, rhs, pair count at pick time) — the artifact a BPE
    * tokenizer ships. */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeMergesFrom(s, Tables.documents(s, d))

  private[graft] def bpeMergesFrom(s: SparkSession, docs: DataFrame,
      rounds: Int = 10, reliableEvery: Int = 0): DataFrame =
    bpeRun(s, docs, rounds, reliableEvery)._1

  /** Word-level greedy non-overlapping merge scan — the imperative form
    * of the recount twin's gaps-and-islands rewrite (left-to-right; an
    * occurrence merges iff it does not overlap a merge kept to its
    * left). Word-local, so it runs inside a narrow typed map. */
  private[graft] def mergeWord(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = syms.length
    while (i < n) {
      if (i + 1 < n && syms(i) == a && syms(i + 1) == b) { out += (a + b); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  private def hasAdjacent(syms: Seq[String], a: String, b: String): Boolean = {
    var i = 0
    while (i + 1 < syms.length) {
      if (syms(i) == a && syms(i + 1) == b) return true
      i += 1
    }
    false
  }

  /** One (doc_id, word_id, word) row per word slot of the corpus. */
  private def corpusWordSlots(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ws = Tokens.words(t)
        ws.iterator.zipWithIndex.map { case (w, wi) => (id, wi.toLong, w) }
      }.toDF("doc_id", "word_id", "word")
  }

  /** The full training loop (delta path — see [[bpeMerges]]), also
    * returning the final per-slot symbol sequence so [[bpeTokenize]]
    * measures what the learned merges actually buy. `reliableEvery`
    * follows the CC loop's executor-loss discipline
    * ([[graft.core.Iterate.save]]): a vocab-scale run (32k merges,
    * hours) must not die with one preempted executor, so every k-th
    * round's dictionary and pair-count tables go to the reliable
    * checkpoint store instead of executor-local blocks. */
  private[graft] def bpeRun(s: SparkSession, docs: DataFrame,
      rounds: Int = 10, reliableEvery: Int = 0): (DataFrame, DataFrame) = {
    import s.implicits._
    def save(df: DataFrame, round: Int): DataFrame =
      graft.core.Iterate.save(df, reliableEvery, round)
    val cw = corpusWordSlots(s, docs)
    var wsyms = save(cw.groupBy("word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .map { case (w, f) =>
        (w, f, w.codePoints.toArray.map(cp => new String(Array(cp), 0, 1)).toSeq)
      }.toDF("word", "freq", "syms"), 0)
    // adjacent-pair counts (overlaps included, matching the recount
    // twin's pick-time counts), weighted by word frequency
    var pairCounts = save(wsyms.as[(String, Long, Seq[String])]
      .flatMap { case (_, f, ss) =>
        ss.iterator.sliding(2).withPartial(false).map(p => (p(0), p(1), f))
      }.toDF("l", "rr", "dn")
      .groupBy("l", "rr").agg(sum("dn").as("n")), 0)
    var out = List.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val w = pairCounts.orderBy(col("n").desc, col("l").asc, col("rr").asc)
        .limit(1).collect()
      if (w.isEmpty) exhausted = true // every word is one symbol: done
      else {
        val (a, b, n) = (w(0).getString(0), w(0).getString(1), w(0).getLong(2))
        out :+= ((r, a, b, n))
        val prev = wsyms.as[(String, Long, Seq[String])]
        val delta = prev.flatMap { case (_, f, ss) =>
          if (!hasAdjacent(ss, a, b)) Iterator.empty
          else {
            val ns = mergeWord(ss, a, b)
            ss.iterator.sliding(2).withPartial(false).map(p => (p(0), p(1), -f)) ++
              ns.iterator.sliding(2).withPartial(false).map(p => (p(0), p(1), f))
          }
        }.toDF("l", "rr", "dn").groupBy("l", "rr").agg(sum("dn").as("dn"))
        pairCounts = save(pairCounts.join(delta, Seq("l", "rr"), "full")
          .select(col("l"), col("rr"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
          .where(col("n") > 0), r)
        wsyms = save(prev.map { case (wd, f, ss) =>
          (wd, f, if (hasAdjacent(ss, a, b)) mergeWord(ss, a, b) else ss)
        }.toDF("word", "freq", "syms"), r)
        r += 1
      }
    }
    val merges = out.toDF("merge_rank", "lhs", "rhs", "n_occ")
    // final corpus segmentation, rebuilt lazily from the dictionary only
    // when a caller (t29) actually needs per-document positions
    val fin = cw.join(wsyms.select(col("word"), col("syms")), "word")
      .select(col("doc_id"), col("word_id"),
        posexplode(col("syms")).as(Seq("pos", "sym")))
      .select(col("doc_id"), col("word_id"),
        col("pos").cast("long").as("pos"), col("sym"))
    (merges, fin)
  }

  /** The pre-round-9 RECOUNT loop — per round one full pair self-join +
    * corpus-wide window rewrite. O(corpus) per round, so it is no longer
    * the default; kept as the independently-derived twin that pins the
    * delta path's correctness (CorpusOpsSpec compares merge tables and
    * final segmentations on adversarial hand corpora). */
  private[graft] def bpeRunRecount(s: SparkSession, docs: DataFrame,
      rounds: Int = 10): (DataFrame, DataFrame) = {
    import s.implicits._
    var seq = docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ws = Tokens.words(t)
        ws.iterator.zipWithIndex.flatMap { case (w, wi) =>
          val cps = w.codePoints.toArray
          cps.iterator.zipWithIndex.map { case (cp, pi) =>
            (id, wi.toLong, pi.toLong, new String(Array(cp), 0, 1))
          }
        }
      }.toDF("doc_id", "word_id", "pos", "sym")
      .localCheckpoint()
    val wIsl = Window.partitionBy(col("doc_id"), col("word_id")).orderBy(col("pos"))
    var out = List.empty[DataFrame]
    for (r <- 1 to rounds) {
      val pairs = seq.select(col("doc_id"), col("word_id"), col("pos"), col("sym").as("l"))
        .join(seq.select(col("doc_id"), col("word_id"), (col("pos") - 1).as("pos"),
          col("sym").as("rr")), Seq("doc_id", "word_id", "pos"))
      val winner = pairs.groupBy("l", "rr").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("rr").asc).limit(1)
        .localCheckpoint()
      out :+= winner.select(lit(r).as("merge_rank"), col("l").as("lhs"),
        col("rr").as("rhs"), col("n").cast("long").as("n_occ"))
      val occ = pairs.join(broadcast(winner.select(col("l"), col("rr"))), Seq("l", "rr"))
        .select(col("doc_id"), col("word_id"), col("pos"))
      val wGrp = Window.partitionBy(col("doc_id"), col("word_id"), col("grp"))
      val kept = occ.withColumn("grp", col("pos") - row_number().over(wIsl))
        .withColumn("par", (col("pos") - min(col("pos")).over(wGrp)) % 2)
        .where(col("par") === 0)
        .select(col("doc_id"), col("word_id"), col("pos"))
      val merged = kept.crossJoin(broadcast(winner))
        .select(col("doc_id"), col("word_id"), col("pos"),
          concat(col("l"), col("rr")).as("sym"))
      val survivors = seq
        .join(kept, Seq("doc_id", "word_id", "pos"), "left_anti")
        .join(kept.select(col("doc_id"), col("word_id"), (col("pos") + 1).as("pos")),
          Seq("doc_id", "word_id", "pos"), "left_anti")
      seq = graft.core.Iterate.save(survivors.union(merged)
        .select(col("doc_id"), col("word_id"),
          (row_number().over(wIsl) - 1).cast("long").as("pos2"), col("sym"))
        .select(col("doc_id"), col("word_id"), col("pos2").as("pos"), col("sym")), 0, r)
    }
    (out.reduce(_ union _).orderBy(col("merge_rank")), seq)
  }

  /** t29 — BPE TOKENIZATION measurement: apply the t27 merge loop and
    * report, per document, the initial symbol count (codepoints of its
    * words), the token count after the 10 learned merges, and the
    * compression in permille — the tokens-per-doc table a tokenizer
    * ships with its merge list (the fertility/compression measurement
    * that decides whether a vocab is worth its size). Deterministic
    * because training is; shares t27's relational rewrite machinery, so
    * a single oracle chain checks both what was LEARNED (t27) and what
    * it DOES to the corpus (t29). Docs with no words have no symbols
    * and are absent on both sides. */
  def bpeTokenize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val (_, fin) = bpeRun(s, docs)
    val init = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ws = Tokens.words(t)
        if (ws.isEmpty) Iterator.empty
        else Iterator((id, ws.map(w => w.codePoints.toArray.length.toLong).sum))
      }
      .toDF("doc_id", "n_sym")
    val toks = fin.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
    init.join(toks, "doc_id")
      .withColumn("comp_permille", expr("(1000 * n_tokens) div n_sym"))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain for the t27/t29 oracles: s0 (char symbols) through
    * s<rounds> (post-merge symbols), every stage MATERIALIZED — DuckDB
    * would otherwise inline each reference and the per-round references
    * compound exponentially. */
  private def bpeSqlChain(rounds: Int): String = {
    def round(r: Int): String = {
      val p = r - 1
      s"""p$r AS MATERIALIZED (
        |  SELECT a.doc_id, a.word_id, a.pos, a.sym AS l, b.sym AS rr
        |  FROM s$p a JOIN s$p b ON b.doc_id = a.doc_id
        |    AND b.word_id = a.word_id AND b.pos = a.pos + 1),
        |w$r AS MATERIALIZED (
        |  SELECT l, rr, count(*) AS n FROM p$r GROUP BY l, rr
        |  ORDER BY n DESC, l ASC, rr ASC LIMIT 1),
        |k$r AS MATERIALIZED (
        |  SELECT doc_id, word_id, pos FROM (
        |    SELECT doc_id, word_id, pos,
        |      (pos - min(pos) OVER (PARTITION BY doc_id, word_id, grp)) % 2 AS par
        |    FROM (
        |      SELECT o.doc_id, o.word_id, o.pos,
        |        o.pos - row_number() OVER (PARTITION BY o.doc_id, o.word_id
        |          ORDER BY o.pos) AS grp
        |      FROM (SELECT p.doc_id, p.word_id, p.pos FROM p$r p
        |            JOIN w$r w ON p.l = w.l AND p.rr = w.rr) o))
        |  WHERE par = 0),
        |s$r AS MATERIALIZED (
        |  SELECT doc_id, word_id,
        |    row_number() OVER (PARTITION BY doc_id, word_id ORDER BY pos) - 1 AS pos,
        |    sym
        |  FROM (
        |    SELECT s.doc_id, s.word_id, s.pos, s.sym FROM s$p s
        |    WHERE NOT EXISTS (SELECT 1 FROM k$r k WHERE k.doc_id = s.doc_id
        |        AND k.word_id = s.word_id AND k.pos = s.pos)
        |      AND NOT EXISTS (SELECT 1 FROM k$r k WHERE k.doc_id = s.doc_id
        |        AND k.word_id = s.word_id AND k.pos = s.pos - 1)
        |    UNION ALL
        |    SELECT k.doc_id, k.word_id, k.pos, w.l || w.rr
        |    FROM k$r k CROSS JOIN w$r w))""".stripMargin
    }
    s"""WITH s0 AS MATERIALIZED (
      |  SELECT doc_id, wi - 1 AS word_id, i - 1 AS pos, substr(w, i, 1) AS sym
      |  FROM (
      |    SELECT doc_id, w, wi, unnest(generate_series(1, length(w))) AS i
      |    FROM (
      |      SELECT doc_id, unnest(ws) AS w,
      |        unnest(generate_series(1, len(ws))) AS wi
      |      FROM (SELECT doc_id,
      |              list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |            FROM documents)))),
      |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  val bpeMergesSql: String = {
    val rounds = 10
    val unions = (1 to rounds).map(r =>
      s"SELECT $r AS merge_rank, l AS lhs, rr AS rhs, CAST(n AS BIGINT) AS n_occ FROM w$r")
      .mkString("\n  UNION ALL ")
    s"""${bpeSqlChain(rounds)}
      |SELECT merge_rank, lhs, rhs, n_occ FROM (
      |  $unions)
      |ORDER BY merge_rank""".stripMargin
  }

  val bpeTokenizeSql: String =
    s"""${bpeSqlChain(10)}
      |, base AS (SELECT doc_id, count(*) AS n_sym FROM s0 GROUP BY doc_id),
      |fin AS (SELECT doc_id, count(*) AS n_tokens FROM s10 GROUP BY doc_id)
      |SELECT doc_id, CAST(n_sym AS BIGINT) AS n_sym,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  (1000 * n_tokens) // n_sym AS comp_permille
      |FROM base JOIN fin USING (doc_id) ORDER BY doc_id""".stripMargin

  /** t32 — BLOOM-PREFILTERED DECONTAMINATION: t11's exact audit with the
    * 100 TB join discipline in front of it. At scale the train side is
    * the corpus (billions of grams) and the val side the eval suite
    * (thousands): build ONE Bloom filter over the val grams
    * (`bloom_filter_agg`, a map-side-combinable aggregate producing a
    * broadcastable byte blob), stream the train grams through
    * `might_contain` — a row-local codegen'd filter at the scan, no
    * shuffle — and run t11's exact semi-join only on the surviving
    * candidates. False positives are removed by the exact join, so the
    * output is IDENTICAL to t11 by construction and the gate shares its
    * oracle verbatim: the Bloom stage is pure shuffle-avoidance (the
    * train-gram shuffle shrinks from O(corpus) to O(candidates ≈
    * contaminated + fp·corpus), fp here 1-in-2²⁰ish with 8 bits/item). */
  def bloomDecontamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val split = Tables.documents(s, d).withColumn("split", splitCol)
    val grams = split.select(col("doc_id"), col("split"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, sp, text) =>
        val ws = Tokens.words(text)
        (0 to ws.length - 8).iterator.map(i => (id, sp, ws.slice(i, i + 8).mkString(" ")))
      }
      .toDF("doc_id", "split", "g")
      .distinct()
    val valGrams = grams.where(col("split") === "val").select(col("doc_id"), col("g"))
    // the one ~100 KB blob rides to the driver and back out as a literal —
    // the bounded read Spark's own runtime-filter injection performs
    // (might_contain requires a CONSTANT bloom, not a joined column)
    val blob = valGrams.select(col("g")).distinct()
      .agg(graft.functions.Bloom.filterAgg(col("g"), 100000L, 800000L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val trainCand = grams.where(col("split") === "train").select(col("g")).distinct()
      .where(if (blob == null) lit(false) // empty val side: nothing can match
        else graft.functions.Bloom.mightContain(lit(blob), col("g")))
    val counts = valGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val contaminated = valGrams.join(trainCand, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    split.where(col("split") === "val").select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .orderBy(col("doc_id"))
  }

  /** t31 — INTRA-DOCUMENT REPETITION (the Gopher/MassiveText "duplicate
    * n-gram fraction" quality rule, Rae et al. 2021 table A1): per
    * document, the fraction of its word 3-grams that are repeats —
    * templated/boilerplate/looping text scores high and gets filtered
    * before training. Exact integer permille so both engines agree;
    * docs with fewer than 3 words have no 3-grams and are absent (the
    * rule does not apply). One explode + one per-doc aggregation,
    * map-side combinable — O(tokens) at any scale. (The t30 slot stays
    * reserved for LINE-level cleaning, blocked on newline-free fixture
    * text — BACKLOG #3.) */
  def ngramRepetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ws = Tokens.words(t)
        if (ws.length < 3) Iterator.empty
        else ws.sliding(3).map(g => (id, g.mkString(" ")))
      }.toDF("doc_id", "gram")
    grams.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), countDistinct(col("gram")).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - col("n_distinct")).as("n_dup"),
        expr("(1000 * (n_grams - n_distinct)) div n_grams").as("dup_permille"))
      .orderBy(col("doc_id"))
  }

  val ngramRepetitionSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, array_to_string(list_slice(ws, i, i + 2), ' ') AS gram
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(count(*) - count(DISTINCT gram) AS BIGINT) AS n_dup,
      |  CAST((1000 * (count(*) - count(DISTINCT gram))) // count(*) AS BIGINT) AS dup_permille
      |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t33 — STRATIFIED QUOTA SAMPLE: the training-mixture draw — pick a
    * deterministic, uniform-within-stratum document subset whose
    * per-stratum quotas follow TEMPERATURE-T=2 reweighting
    * (quota ∝ √n_s — the standard multilingual rebalance that upweights
    * small languages without drowning the large ones). Everything is
    * INTEGER-exact so the draw replays identically anywhere: the
    * "random" order is an LCG hash of doc_id (scans stay pushed-down —
    * no rand(), no seed state), weights are ⌊√n⌋, and quotas use
    * integer division — no float whose summation order could flip a
    * boundary document. Scale shape: stratum stats are a tiny aggregate
    * broadcast back; selection is one row_number window per stratum —
    * and for strata at or above `preFilterMinStratum` rows, a
    * HASH-THRESHOLD PRE-FILTER cuts the window's input first: the rank
    * order is by h, so the quota winners are exactly the quota smallest
    * hashes, and keeping h < 8·quota/n of the hash space shrinks the
    * window from |stratum| to ~8·quota rows before any sort. The 8×
    * safety margin makes a shortfall (fewer than min(quota, n) survivors
    * in some stratum) astronomically unlikely — but not impossible, so a
    * RESCUE PASS makes equivalence structural instead of probabilistic:
    * a per-stratum survivor count (an aggregate over the already-tiny
    * filtered set) flags underfilled strata, which rank unfiltered via a
    * broadcast semi-join while everyone else ranks the filtered set. The
    * draw is therefore bit-identical to the direct window at EVERY
    * stratum size; at gate SFs (strata ≪ the switch) the pre-filter
    * never engages and the plan is the round-10 one. */
  def temperatureSample(s: SparkSession, d: String): DataFrame =
    temperatureSampleOf(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")),
      budget = 200L)

  private[graft] def temperatureSampleOf(docs: DataFrame, budget: Long,
                                         preFilterMinStratum: Long = 100000L): DataFrame = {
    val counts = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", floor(sqrt(col("n"))).cast("long"))
    // Σw is one row — distribute it as a broadcast scalar, not a collect
    val quotas = counts.crossJoin(counts.agg(sum(col("w")).as("tw")))
      .select(col("lang"), col("source"), col("n"),
        greatest(lit(1L), expr(s"($budget * w) div tw")).as("quota"))
    val h = (col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(2147483648L)
    val hashed = docs.withColumn("h", h)
      .join(broadcast(quotas), Seq("lang", "source"))
    // h is uniform on [0, 2^31); keep 8× the quota's share of hash space
    val keep = col("n") < lit(preFilterMinStratum) ||
      col("h") < expr("(quota * 8 * 2147483648) div n")
    val surv = hashed.where(keep)
    // rescue: any stratum whose survivor count fell below min(quota, n)
    // ranks unfiltered — near-empty by construction, broadcast both ways.
    // Left-join FROM quotas: a fully-filtered stratum has no survivor
    // group at all, and it is exactly the one that needs rescuing
    val short = quotas.join(
        surv.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c")),
        Seq("lang", "source"), "left")
      .where(coalesce(col("c"), lit(0L)) < least(col("quota"), col("n")))
      .select(col("lang"), col("source"))
    val pool = surv.join(broadcast(short), Seq("lang", "source"), "left_anti")
      .unionByName(hashed.join(broadcast(short), Seq("lang", "source"), "left_semi"))
    pool
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"), col("source"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .where(col("rk") <= col("quota"))
      .select(col("lang"), col("source"), col("doc_id"), col("rk"))
      .orderBy(col("lang"), col("source"), col("rk"))
  }

  val temperatureSampleSql: String =
    """WITH c AS (
      |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
      |w AS (
      |  SELECT lang, source, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM c),
      |q AS (
      |  SELECT lang, source,
      |    greatest(1, (200 * w) // (SELECT sum(w) FROM w)) AS quota
      |  FROM w),
      |r AS (
      |  SELECT d.lang, d.source, d.doc_id,
      |    row_number() OVER (PARTITION BY d.lang, d.source
      |      ORDER BY (d.doc_id * 1103515245 + 12345) % 2147483648, d.doc_id) AS rk
      |  FROM documents d)
      |SELECT r.lang AS lang, r.source AS source, r.doc_id AS doc_id,
      |  CAST(r.rk AS BIGINT) AS rk
      |FROM r JOIN q ON r.lang = q.lang AND r.source = q.source
      |WHERE r.rk <= q.quota
      |ORDER BY lang, source, rk""".stripMargin

  /** t39 — SOURCE DIVERGENCE: exact total-variation distance between
    * each source's unigram distribution and the whole corpus —
    * TV(p_s, p) = ½·Σ_w |p_s(w) − p(w)| — the distribution-shift number
    * a mixture designer reads before reweighting (t19/t23 decide HOW
    * much of each source; t39 measures how DIFFERENT each source is,
    * and a source with TV ≈ 0 adds volume, not diversity). All-integer:
    * the sum is computed over common denominators (|C_sw·N − n_w·N_s|,
    * plus the absent-word closed form N_s·(N − M_s) — words the source
    * never uses contribute without being enumerated), then one ppm
    * division, so both engines truncate identically. Shape: (source,
    * word) counts with map-side combine, word totals joined back keyed
    * by WORD (the only wide shuffle), per-source totals broadcast, and
    * a 1-row corpus total via crossJoin — never a source×word dense
    * matrix. Long arithmetic holds to ~10¹⁸; at trillion-token scale
    * the C_sw·N product needs DECIMAL(38,0) — flagged here, not hidden. */
  def sourceDivergence(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("source"),
        explode(split(trim(coalesce(col("text"), lit(""))), "\\s+")).as("w"))
      .where(col("w") =!= "")
    val csw = words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val nw = csw.groupBy(col("w")).agg(sum(col("c")).as("nw"))
    val ns = csw.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val n = csw.agg(sum(col("c")).as("n"))
    csw.join(nw, "w")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(n))
      .groupBy(col("source"))
      .agg(min(col("ns")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(abs(col("c") * col("n") - col("nw") * col("ns"))).as("pnum"),
        sum(col("nw")).as("m_s"), min(col("n")).as("ncorp"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("(1000000 * (pnum + n_tokens * (ncorp - m_s))) div (2 * n_tokens * ncorp)")
          .as("tv_ppm"))
      .orderBy(col("source"))
  }

  val sourceDivergenceSql: String =
    """WITH toks AS (
      |  SELECT source,
      |    unnest(string_split_regex(trim(coalesce(text, '')), '\s+')) AS w
      |  FROM documents),
      |ww AS (SELECT source, w, count(*) AS c FROM toks WHERE w <> ''
      |       GROUP BY source, w),
      |nw AS (SELECT w, CAST(sum(c) AS BIGINT) AS nw FROM ww GROUP BY w),
      |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM ww GROUP BY source),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ww)
      |SELECT ww.source, min(ns.ns) AS n_tokens, count(*) AS n_types,
      |  CAST((1000000 * (sum(abs(ww.c * n.n - nw.nw * ns.ns))
      |          + min(ns.ns) * (min(n.n) - sum(nw.nw))))
      |    // (2 * min(ns.ns) * min(n.n)) AS BIGINT) AS tv_ppm
      |FROM ww JOIN nw USING (w) JOIN ns USING (source) CROSS JOIN n
      |GROUP BY ww.source ORDER BY source""".stripMargin

  /** t40 — KNESER-NEY CONTINUATION COUNTS: per word, how many DISTINCT
    * left contexts it follows and distinct right contexts it opens over
    * the corpus's bigram TYPE set, plus the KN continuation probability
    * in ppm (left_types / |bigram types| — the quantity KN smoothing
    * substitutes for raw frequency so that "Francisco", frequent but
    * glued to "San", stops outranking genuinely-free words). The
    * LM-smoothing companion to t22's raw-count table. Shape: adjacent-
    * pair extraction is t22's one map pass, the TYPE collapse is one
    * distinct on (w1, w2) — after which every aggregate runs on type
    * rows, not token rows — and the 1-row type total broadcasts. */
  def continuationCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val types = Tables.documents(s, d)
      .select(col("text")).as[String]
      .flatMap { t =>
        val ws = Tokens.words(t)
        (0 until math.max(ws.length - 1, 0)).iterator.map(i => (ws(i), ws(i + 1)))
      }
      .toDF("w1", "w2").distinct()
    val left = types.groupBy(col("w2").as("w")).agg(count(lit(1)).as("left_types"))
    val right = types.groupBy(col("w1").as("w")).agg(count(lit(1)).as("right_types"))
    val total = types.agg(count(lit(1)).as("nb"))
    left.join(right, Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("left_types"), lit(0L)).as("left_types"),
        coalesce(col("right_types"), lit(0L)).as("right_types"))
      .crossJoin(broadcast(total))
      .withColumn("cont_ppm", expr("(1000000 * left_types) div nb"))
      .select(col("w"), col("left_types"), col("right_types"), col("cont_ppm"))
      .orderBy(col("w"))
  }

  val continuationCountsSql: String =
    """WITH ws AS (
      |  SELECT list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |bg AS (
      |  SELECT DISTINCT ws[i] AS w1, ws[i+1] AS w2
      |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM ws)),
      |l AS (SELECT w2 AS w, count(*) AS left_types FROM bg GROUP BY w2),
      |r AS (SELECT w1 AS w, count(*) AS right_types FROM bg GROUP BY w1),
      |t AS (SELECT count(*) AS nb FROM bg)
      |SELECT w,
      |  CAST(coalesce(l.left_types, 0) AS BIGINT) AS left_types,
      |  CAST(coalesce(r.right_types, 0) AS BIGINT) AS right_types,
      |  CAST((1000000 * coalesce(l.left_types, 0)) // t.nb AS BIGINT) AS cont_ppm
      |FROM l FULL OUTER JOIN r USING (w) CROSS JOIN t
      |ORDER BY w""".stripMargin

  /** t41 — COLLOCATION MINING by PMI rank via exact integer LIFT: the
    * top bigrams whose words co-occur far more than independence
    * predicts — the phrase-detection pass (Church–Hanks 1990 association
    * ratio) every tokenizer/phrase-vocab pipeline runs before merging
    * multi-word units. PMI = log(N·c₁₂/(c₁·c₂)) and log is monotone, so
    * ranking by the LIFT N·c₁₂/(c₁·c₂) is ranking by PMI — and lift
    * stays in exact integer arithmetic where a float log would leave
    * the two engines one ulp apart. Fixed point:
    * `((10⁶·c₁₂ div c₁)·N) div c₂` — staged divisions keep every
    * intermediate under 9.2×10¹⁸ even at N ≈ 10¹² tokens (the naive
    * c₁·c₂ product overflows at N > 3×10⁹), at the documented cost that
    * pairs with P(w₂|w₁) < 10⁻⁶ round to zero lift — irrelevant above
    * the support floor. One token pass for unigrams, one for adjacent
    * pairs (t22's extraction), counts shuffle at vocabulary size, the
    * 1-row total rides a broadcast cross join, and the final top-k is a
    * TakeOrdered with the deterministic (lift, w1, w2) tie-break. */
  def collocations(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("text")).as[String]
    val uni = docs.flatMap(t =>
        Tokens.words(t))
      .toDF("w")
    val bg = docs.flatMap { t =>
        val ws = Tokens.words(t)
        (0 until math.max(ws.length - 1, 0)).iterator.map(i => (ws(i), ws(i + 1)))
      }
      .toDF("w1", "w2")
    collocationsOf(uni, bg, minSupport = 5L, topK = 50)
  }

  /** Lift scoring on explicit unigram/bigram frames — property-tested
    * on hand corpora where the PMI order is checkable by eye (a rare
    * always-together pair must outrank a frequent hub pair). */
  private[graft] def collocationsOf(uni: DataFrame, bg: DataFrame,
      minSupport: Long, topK: Int): DataFrame =
    collocationsScore(
      uni.groupBy("w").agg(count(lit(1)).as("c")),
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("n12")),
      minSupport, topK)

  /** Lift scoring over COUNT frames (w, c) / (w1, w2, n12) — the seam
    * st48's merged streaming partials share with batch t41; the support
    * floor applies here, AFTER any partial merge, so a pair below the
    * floor in every batch but above it globally still qualifies. */
  private[graft] def collocationsScore(ucnt: DataFrame, bcnt: DataFrame,
      minSupport: Long, topK: Int): DataFrame = {
    val tot = ucnt.agg(sum(col("c")).as("n_total"))
    bcnt.where(col("n12") >= minSupport)
      .join(ucnt.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(ucnt.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tot)) // 1-row
      .withColumn("lift_ppm",
        expr("(((1000000 * n12) div c1) * n_total) div c2"))
      .select(col("w1"), col("w2"), col("n12"), col("c1"), col("c2"),
        col("n_total"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  val collocationsSql: String =
    """WITH ws AS (
      |  SELECT list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |uni AS (SELECT unnest(ws) AS w FROM ws),
      |ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM ucnt),
      |bg AS (
      |  SELECT ws[i] AS w1, ws[i+1] AS w2
      |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM ws)),
      |bcnt AS (
      |  SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2
      |  HAVING count(*) >= 5)
      |SELECT w1, w2, CAST(n12 AS BIGINT) AS n12,
      |  CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2, n_total,
      |  CAST((((1000000 * n12) // c1) * n_total) // c2 AS BIGINT) AS lift_ppm
      |FROM bcnt
      |JOIN (SELECT w AS w1, c AS c1 FROM ucnt) u1 USING (w1)
      |JOIN (SELECT w AS w2, c AS c2 FROM ucnt) u2 USING (w2)
      |CROSS JOIN tot
      |ORDER BY lift_ppm DESC, w1, w2 LIMIT 50""".stripMargin

  /** t42 — OVERLAPPING PASSAGE CHUNKING: the splitter every RAG index
    * and long-context training pipeline runs first — fixed-size token
    * windows (W = 8) at stride S = 6, so consecutive chunks share
    * W − S = 2 boundary tokens and no retrieval query can fall into a
    * seam between passages. The contract, stated so both engines agree
    * exactly: chunk starts are 0, S, 2S, … for every multiple < n_tok;
    * a chunk takes min(W, n − s) tokens — trailing chunks may be short
    * (and, when n − s ≤ W − S, fully contained in their predecessor;
    * that redundancy is the documented price of a stride-only rule, the
    * same one fixed-stride tokenizer chunkers ship). Each chunk carries
    * its position, width and an md5 content fingerprint (the dedup/
    * cache key a chunk store actually indexes). All row-local generator
    * + slice work — no shuffle but the final sort; the oracle restates
    * the unroll through DuckDB's lateral stepped generate_series +
    * list_slice. t17 packs whole documents INTO windows; t42 splits
    * documents ACROSS them — the two directions of the context-length
    * mismatch. */
  def passageChunks(s: SparkSession, d: String): DataFrame = {
    val W = 8
    val S = 6
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .select(col("doc_id"), col("arr"), size(col("arr")).as("n"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("arr"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(S))).as("st"))
      .select(col("doc_id"), (col("st") / S).cast("long").as("chunk_id"),
        col("st").cast("long").as("start_tok"),
        least(lit(W), col("n") - col("st")).cast("long").as("n_tok"),
        md5(array_join(slice(col("arr"), col("st") + 1,
          least(lit(W), col("n") - col("st"))), " ")).as("fp"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val passageChunksSql: String =
    """WITH dd AS (
      |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
      |ch AS (
      |  SELECT doc_id, s.g AS st, len(arr) AS n,
      |    list_slice(arr, s.g + 1, s.g + least(8, len(arr) - s.g)) AS chunk
      |  FROM dd, unnest(generate_series(0, len(arr) - 1, 6)) AS s(g)
      |  WHERE len(arr) > 0)
      |SELECT doc_id, CAST(st // 6 AS BIGINT) AS chunk_id,
      |  CAST(st AS BIGINT) AS start_tok,
      |  CAST(least(8, n - st) AS BIGINT) AS n_tok,
      |  md5(array_to_string(chunk, ' ')) AS fp
      |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  /** t43 — OOV RATE per source: the tokenizer-coverage audit run before
    * committing a vocab — what fraction of each source's token stream
    * falls OUTSIDE the fixed vocabulary (here the global top-30 words,
    * count-desc word-asc deterministic). High OOV in one source means
    * the vocab was trained on the wrong mixture and that source will
    * fragment into subword soup (or UNKs) at training time; the per-
    * source ppm (exact staged integer division, the t41 rule) is the
    * number a mixture rebalance actually thresholds. Scale shape: the
    * vocabulary is bounded by construction, so membership is a
    * BROADCAST anti-join against the token stream — no shuffle touches
    * the big side beyond the per-source aggregate. */
  /** t44 — WITHIN-DOCUMENT REPETITION (the Gopher duplicate-n-gram
    * screen, Rae et al. §A1.1): the fraction of a document's word
    * 3-grams that are DUPLICATED occurrences (their gram appears ≥ 2
    * times in the SAME document) — the standard quality filter for
    * degenerate/templated text that corpus-level passes (d16 finds
    * CROSS-document repeats) structurally ignore. Integer-exact as a
    * permille: 1000·dup_occurrences div total_grams, with the flag at
    * the stated ≥ 200‰ threshold. Non-distinct sliding grams (unlike
    * d3's set shingles — multiplicity IS the signal), derived
    * column-natively: transform over an index sequence, one explode,
    * one (doc, gram) count, one per-doc rollup. Docs under 3 words
    * have zero grams and report 0‰ unflagged. */
  def gopherRepetition(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("split(trim(coalesce(text, '')), '\\\\s+')").as("ws"))
      // CASE-guarded: Spark's sequence(1, 0) DESCENDS, so a doc under 3
      // words must short-circuit to an empty gram array, not wrap around
      .select(col("doc_id"), expr(
        "case when size(ws) >= 3 then transform(sequence(1, size(ws) - 2), " +
          "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1])) " +
          "else array() end").as("gs"))
      .select(col("doc_id"), explode_outer(col("gs")).as("gram"))
    val perGram = grams.where(col("gram").isNotNull)
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
    val perDoc = perGram.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("dup_occ"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        expr("1000 * coalesce(dup_occ, 0) div greatest(coalesce(n_grams, 0), 1)")
          .as("dup_permille"))
      .withColumn("flagged", (col("dup_permille") >= 200).cast("int"))
      .orderBy(col("doc_id"))
  }

  val gopherRepetitionSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\s+') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w)),
      |pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
      |pd AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
      |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_occ
      |  FROM pg GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(1000 * coalesce(dup_occ, 0) // greatest(coalesce(n_grams, 0), 1) AS BIGINT)
      |    AS dup_permille,
      |  CAST(CASE WHEN 1000 * coalesce(dup_occ, 0)
      |         // greatest(coalesce(n_grams, 0), 1) >= 200
      |       THEN 1 ELSE 0 END AS INT) AS flagged
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  def oovRate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(col("source"), col("text")).as[(String, String)]
      .flatMap { case (src, t) => t.trim.split("\\s+").map(w => (src, w)) }
      .toDF("source", "word")
    val vocab = toks.groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc).limit(30)
      .select(col("word"))
    toks
      .join(broadcast(vocab).withColumn("in_v", lit(1L)), Seq("word"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        expr("(1000000 * n_oov) div n_tokens").as("oov_ppm"))
      .orderBy(col("source"))
  }

  val oovRateSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS word
      |  FROM documents),
      |v AS (
      |  SELECT word FROM (
      |    SELECT word, count(*) AS n FROM toks GROUP BY word
      |    ORDER BY n DESC, word ASC LIMIT 30)),
      |j AS (
      |  SELECT t.source, CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM toks t LEFT JOIN v ON v.word = t.word)
      |SELECT source, count(*) AS n_tokens,
      |  CAST(sum(oov) AS BIGINT) AS n_oov,
      |  CAST((1000000 * sum(oov)) // count(*) AS BIGINT) AS oov_ppm
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  override val defs: ListMap[String, QueryDef] = ListMap(
    "t1_token_count"   -> QueryDef(tokenCount, Some(tokenCountSql), bench = true),
    "t2_quality_score" -> QueryDef(qualityScore, Some(qualityScoreSql), bench = true),
    "t3_lang_id"       -> QueryDef(langId, Some(langIdSql)),
    "t4_fingerprint"   -> QueryDef(fingerprint, Some(fingerprintSql), bench = true),
    "t5_train_split"   -> QueryDef(trainSplit, Some(trainSplitSql)),
    "t6_vocab"         -> QueryDef(vocab, Some(vocabSql)),
    "t7_top_terms"     -> QueryDef(topTerms, Some(topTermsSql), bench = true),
    "t8_stratified_sample" -> QueryDef(stratifiedSample, Some(stratifiedSampleSql)),
    "t9_redact"        -> QueryDef(redact, Some(redactSql)),
    "t10_repetition"   -> QueryDef(repetition, Some(repetitionSql)),
    "t11_decontamination" -> QueryDef(decontamination, Some(decontaminationSql)),
    "t12_trigram_familiarity" -> QueryDef(trigramFamiliarity, Some(trigramFamiliaritySql)),
    "t13_corpus_filter" -> QueryDef(corpusFilter, Some(corpusFilterSql)),
    "t14_source_stats" -> QueryDef(sourceStats, Some(sourceStatsSql)),
    "t15_hll_registers" -> QueryDef(hllRegisters, Some(hllRegistersSql)),
    "t16_tfidf"        -> QueryDef(tfidf, Some(tfidfSql)),
    "t17_sequence_packing" -> QueryDef(sequencePacking, Some(sequencePackingSql), bench = true),
    "t18_bm25"          -> QueryDef(bm25, Some(bm25Sql), bench = true),
    "t19_mixture_weights" -> QueryDef(mixtureWeights, Some(mixtureWeightsSql)),
    "t20_quality_buckets" -> QueryDef(qualityBuckets, Some(qualityBucketsSql)),
    "t21_corpus_pipeline" -> QueryDef(corpusPipeline, Some(corpusPipelineSql)),
    "t22_bigram_lm"     -> QueryDef(bigramLm, Some(bigramLmSql)),
    "t23_mixture_pipeline" -> QueryDef(mixturePipeline, Some(mixturePipelineSql)),
    "t24_mixture_epochs" -> QueryDef(mixtureEpochs, Some(mixtureEpochsSql)),
    "t25_dsir_selection" -> QueryDef(dsirSelection, Some(dsirSelectionSql)),
    "t26_perplexity_filter" -> QueryDef(perplexityFilter, Some(perplexityFilterSql)),
    "t27_bpe_merges"    -> QueryDef(bpeMerges, Some(bpeMergesSql), bench = true, deep = true),
    "t28_source_overlap" -> QueryDef(sourceOverlap, Some(sourceOverlapSql)),
    "t29_bpe_tokenize"  -> QueryDef(bpeTokenize, Some(bpeTokenizeSql)),
    "t31_ngram_repetition" -> QueryDef(ngramRepetition, Some(ngramRepetitionSql)),
    // shares t11's oracle on purpose: the Bloom stage is a pure
    // pre-filter, so output identity IS the contract
    "t32_bloom_decontamination" -> QueryDef(bloomDecontamination, Some(decontaminationSql)),
    "t33_temperature_sample" -> QueryDef(temperatureSample, Some(temperatureSampleSql)),
    "t35_source_signature" -> QueryDef(sourceSignature, Some(sourceSignatureSql)),
    "t36_vocab_growth" -> QueryDef(vocabGrowth, Some(vocabGrowthSql)),
    "t37_lexical_diversity" -> QueryDef(lexicalDiversity, Some(lexicalDiversitySql)),
    "t38_split_leakage" -> QueryDef(splitLeakage, Some(splitLeakageSql)),
    "t39_source_divergence" -> QueryDef(sourceDivergence, Some(sourceDivergenceSql)),
    "t40_continuation_counts" -> QueryDef(continuationCounts, Some(continuationCountsSql)),
    "t41_collocations" -> QueryDef(collocations, Some(collocationsSql)),
    "t42_passage_chunks" -> QueryDef(passageChunks, Some(passageChunksSql)),
    "t43_oov_rate" -> QueryDef(oovRate, Some(oovRateSql)),
    "t44_gopher_repetition" -> QueryDef(gopherRepetition, Some(gopherRepetitionSql)),
  )

}
