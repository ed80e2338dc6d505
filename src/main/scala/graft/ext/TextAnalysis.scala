package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ArtifactStore

/** Text-analysis operators for LLM training-data pipelines (builder
  * prompt north star; absent from the reference, which only measures
  * sizes): quality scoring, language ID, token counting, document
  * fingerprinting. All pure `functions._` column expressions — no
  * UDFs, fully inside WholeStageCodegen, embarrassingly parallel
  * per-document (no shuffle at all until an agg is stacked on top),
  * which is exactly the shape that survives a 100 TB corpus.
  *
  * Every query here is deterministic and DuckDB-oracle-backed:
  * ratios are exact-int divisions surfaced as DOUBLE; the fingerprint
  * is a portable polynomial hash (no engine-specific hash function).
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.table(spark, dir, "documents")

  /** Whitespace tokens: matches Java/RE2 `' +'` split on both engines. */
  private val wordsCol: Column = split(col("text"), " +")

  private val stopwords =
    Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")
  private def sqlList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("(", ", ", ")")

  // ----------------------------------------------------------------
  // Quality scoring: length / punctuation / stopword ratios
  // ----------------------------------------------------------------

  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(wordsCol).cast("long")
    val nStop = size(filter(wordsCol,
      w => w.isin(stopwords: _*))).cast("long")
    val nPunct = regexp_count(col("text"), lit("[^a-zA-Z0-9 \\n]")).cast("long")
    val nDigit = regexp_count(col("text"), lit("[0-9]")).cast("long")
    docs(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nWords.as("n_words"),
        nStop.as("n_stop"),
        nPunct.as("n_punct"),
        nDigit.as("n_digit"))
      .withColumn("avg_word_len",
        (col("n_chars") - col("n_words") + 1).cast("double") / col("n_words"))
      .withColumn("stopword_ratio",
        col("n_stop").cast("double") / col("n_words"))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / col("n_chars"))
      .withColumn("digit_ratio",
        col("n_digit").cast("double") / col("n_chars"))
      .withColumn("is_quality",
        (col("n_words") >= 5) && (col("punct_ratio") < lit(0.1)) &&
          (col("avg_word_len") >= 2) && (col("avg_word_len") <= 12))
      .orderBy("doc_id")
  }

  val textQualitySql: String =
    s"""WITH base AS (
       |  SELECT doc_id, length(text) AS n_chars,
       |    len(string_split_regex(text, ' +')) AS n_words,
       |    len(list_filter(string_split_regex(text, ' +'),
       |        w -> w IN ${sqlList(stopwords)})) AS n_stop,
       |    len(regexp_extract_all(text, '[^a-zA-Z0-9 \\n]')) AS n_punct,
       |    len(regexp_extract_all(text, '[0-9]')) AS n_digit
       |  FROM documents)
       |SELECT doc_id, n_chars, n_words, n_stop, n_punct, n_digit,
       |  CAST(n_chars - n_words + 1 AS DOUBLE) / n_words AS avg_word_len,
       |  CAST(n_stop AS DOUBLE) / n_words AS stopword_ratio,
       |  CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
       |  CAST(n_digit AS DOUBLE) / n_chars AS digit_ratio,
       |  (n_words >= 5 AND CAST(n_punct AS DOUBLE) / n_chars < 0.1
       |   AND CAST(n_chars - n_words + 1 AS DOUBLE) / n_words >= 2
       |   AND CAST(n_chars - n_words + 1 AS DOUBLE) / n_words <= 12)
       |    AS is_quality
       |FROM base ORDER BY doc_id""".stripMargin

  // logistic quality model: fixed weights over [[textQuality]]'s
  // feature family (bias, stopword_ratio, punct_ratio, digit_ratio,
  // avg_word_len, ln n_chars)
  private val LrB = -2.0
  private val LrStop = 6.0
  private val LrPunct = -8.0
  private val LrDigit = -4.0
  private val LrAwl = -0.15
  private val LrLen = 0.5

  /** MODEL-INFERENCE quality scoring: a logistic classifier with
    * fixed weights applied over [[textQuality]]'s feature family —
    * the shape of the CCNet/fastText-style learned quality filters
    * that replaced hard threshold rules in public pre-training
    * pipelines (Wenzek et al. 2020). The point of the operator is
    * the INFERENCE plan, not the coefficients (which are fixed,
    * sensible, and documented as illustrative — training lives
    * offline): score = σ(w·x) evaluates as one rowwise codegen'd
    * expression — no UDF, no shuffle, no model service round-trip —
    * so scoring 100 TB is exactly one data pass, and the weights
    * ride the plan as literals (a refreshed model is a recompiled
    * expression, not a data migration).
    *
    * Cross-engine determinism: the dot product is written in the
    * same left-to-right order on both engines; the single σ
    * transcendental sits behind the family's 6dp output rounding.
    */
  /** The unsorted `(doc_id, score)` relation behind
    * [[qualityLogreg]] — shared with `PipelineOps.pipelineCurriculum`
    * so the curriculum ranks by the REGISTERED scorer's own code
    * path (the data-card reuse discipline).
    */
  private[ext] def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(wordsCol).cast("long")
    val nStop = size(filter(wordsCol, w => w.isin(stopwords: _*))).cast("long")
    val nPunct = regexp_count(col("text"), lit("[^a-zA-Z0-9 \\n]")).cast("long")
    val nDigit = regexp_count(col("text"), lit("[0-9]")).cast("long")
    val base = docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      nWords.as("n_words"), nStop.as("n_stop"),
      nPunct.as("n_punct"), nDigit.as("n_digit"))
    val z = lit(LrB) +
      lit(LrStop) * (col("n_stop").cast("double") / col("n_words")) +
      lit(LrPunct) * (col("n_punct").cast("double") / col("n_chars")) +
      lit(LrDigit) * (col("n_digit").cast("double") / col("n_chars")) +
      lit(LrAwl) * ((col("n_chars") - col("n_words") + 1).cast("double") / col("n_words")) +
      lit(LrLen) * log(col("n_chars").cast("double"))
    base.select(col("doc_id"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"))
  }

  def qualityLogreg(spark: SparkSession, dir: String): DataFrame =
    qualityScore(spark, dir)
      .select(col("doc_id"), col("score"), (col("score") >= 0.5).as("keep"))
      .orderBy("doc_id")

  /** CTE chain (no `WITH`) producing `lrscore(doc_id, score)` — the
    * SQL twin of [[qualityScore]], shared by the [[qualityLogregSql]]
    * oracle and `PipelineOps.pipelineCurriculumSql`.
    */
  private[ext] val qualityScoreCteSql: String =
    s"""lrbase AS (
       |  SELECT doc_id, length(text) AS n_chars,
       |    len(string_split_regex(text, ' +')) AS n_words,
       |    len(list_filter(string_split_regex(text, ' +'),
       |        w -> w IN ${sqlList(stopwords)})) AS n_stop,
       |    len(regexp_extract_all(text, '[^a-zA-Z0-9 \\n]')) AS n_punct,
       |    len(regexp_extract_all(text, '[0-9]')) AS n_digit
       |  FROM documents),
       |lrscore AS (
       |  SELECT doc_id,
       |    round(1.0 / (1.0 + exp(-($LrB
       |      + $LrStop * (CAST(n_stop AS DOUBLE) / n_words)
       |      + $LrPunct * (CAST(n_punct AS DOUBLE) / n_chars)
       |      + $LrDigit * (CAST(n_digit AS DOUBLE) / n_chars)
       |      + $LrAwl * (CAST(n_chars - n_words + 1 AS DOUBLE) / n_words)
       |      + $LrLen * ln(CAST(n_chars AS DOUBLE))))), 6) AS score
       |  FROM lrbase)""".stripMargin

  val qualityLogregSql: String =
    s"""WITH $qualityScoreCteSql
       |SELECT doc_id, score, score >= 0.5 AS keep
       |FROM lrscore ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------
  // Repetition signals: the Gopher/MassiveText quality filters
  // ----------------------------------------------------------------

  /** Within-document repetition signals (the public Gopher /
    * MassiveText filter family — Rae et al. 2021 §A1.1): the
    * duplicate-line fraction and the most-frequent-word-bigram
    * fraction. High values mark boilerplate/spam that per-token
    * quality ratios miss — the standard pre-training cut alongside
    * [[textQuality]].
    *
    * Scale shape: lines explode → per-doc count/distinct (one hash
    * agg); bigrams come from a zip_with over the split array (no
    * index arithmetic on exploded rows) → per-(doc, gram) count →
    * per-doc max/sum. All map-side-combinable aggs keyed by doc —
    * linear, no window, no driver. Ratios round at 6 dp
    * (transcendental-ulp discipline n/a — pure rational arithmetic,
    * but rounding keeps the hash gate insensitive to double
    * formatting).
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val lines = d.select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
    val lineStats = lines.groupBy("doc_id").agg(
      count(lit(1)).as("n_lines"),
      countDistinct(col("line")).as("n_distinct_lines"))
    val grams = d
      .select(col("doc_id"),
        expr("filter(split(text, ' +'), w -> w != '')").as("ws"))
      .select(col("doc_id"), explode(expr(
        """zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
          |         slice(ws, 2, greatest(size(ws) - 1, 0)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("gram"))
    val gramStats = grams
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        max(col("c")).as("top_gram_n"), sum(col("c")).as("n_grams"))
    lineStats.join(gramStats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_lines"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        round((col("n_lines") - col("n_distinct_lines")).cast("double") /
          col("n_lines"), 6).as("dup_line_frac"),
        coalesce(round(col("top_gram_n").cast("double") / col("n_grams"), 6),
          lit(0.0)).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  val textRepetitionSql: String =
    """WITH l AS (
      |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line
      |  FROM documents),
      |ls AS (
      |  SELECT doc_id, count(*) AS n_lines,
      |         count(DISTINCT line) AS n_distinct_lines
      |  FROM l GROUP BY doc_id),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(
      |      generate_series(1, greatest(len(ws) - 1, 0)),
      |      i -> ws[i] || ' ' || ws[i + 1])) AS gram
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(text, ' +'), w -> w != '') AS ws
      |        FROM documents)),
      |gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
      |gs AS (SELECT doc_id, max(c) AS top_gram_n, sum(c) AS n_grams
      |       FROM gc GROUP BY doc_id)
      |SELECT ls.doc_id, ls.n_lines,
      |  CAST(coalesce(gs.n_grams, 0) AS BIGINT) AS n_grams,
      |  round(CAST(ls.n_lines - ls.n_distinct_lines AS DOUBLE) / ls.n_lines, 6)
      |    AS dup_line_frac,
      |  coalesce(round(CAST(gs.top_gram_n AS DOUBLE) / gs.n_grams, 6), 0.0)
      |    AS top_bigram_frac
      |FROM ls LEFT JOIN gs ON gs.doc_id = ls.doc_id
      |ORDER BY ls.doc_id""".stripMargin

  // ----------------------------------------------------------------
  // Language ID: marker-stopword n-gram heuristic
  // ----------------------------------------------------------------

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "une"))

  /** Deterministic heuristic language ID: CJK codepoints force `zh`;
    * otherwise the language with the most marker-stopword hits wins
    * (ties broken in en > de > es > fr order). The `hit` column
    * reports agreement with the labeled `lang`.
    */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val scored = langMarkers.foldLeft(docs(spark, dir)) { case (df, (l, ms)) =>
      df.withColumn(s"s_$l",
        size(filter(split(lower(col("text")), " +"), w => w.isin(ms: _*))).cast("long"))
    }.withColumn("s_zh", regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("long"))
    scored
      .withColumn("pred",
        when(col("s_zh") > 0, "zh")
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
            col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
      .select(col("doc_id"), col("lang"), col("pred"),
        (col("pred") === col("lang")).as("hit"),
        col("s_en"), col("s_de"), col("s_es"), col("s_fr"), col("s_zh"))
      .orderBy("doc_id")
  }

  val textLangidSql: String = {
    val scores = langMarkers.map { case (l, ms) =>
      s"len(list_filter(string_split_regex(lower(text), ' +'), w -> w IN ${sqlList(ms)})) AS s_$l"
    }.mkString(",\n    ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    $scores,
       |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
       |  FROM documents)
       |SELECT doc_id, lang,
       |  CASE WHEN s_zh > 0 THEN 'zh'
       |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS pred,
       |  (CASE WHEN s_zh > 0 THEN 'zh'
       |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END) = lang AS hit,
       |  s_en, s_de, s_es, s_fr, s_zh
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // Token counting: whitespace + BPE-ish regex
  // ----------------------------------------------------------------

  /** BPE-ish pre-tokenizer: letter runs, single digits, single
    * non-alphanumerics — the word-boundary regex family BPE tokenizers
    * apply before merges. RE2-and-Java-compatible character classes.
    */
  private val bpeishPattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \\n]"

  def textTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(col("text"), " +")).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit(bpeishPattern)).cast("long").as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens"))
      .orderBy("doc_id")

  val textTokensSql: String =
    s"""SELECT doc_id, length(text) AS n_chars,
       |  len(string_split_regex(text, ' +')) AS n_ws_tokens,
       |  len(regexp_extract_all(text, '$bpeishPattern')) AS n_bpe_tokens,
       |  CAST(length(text) AS DOUBLE)
       |    / len(regexp_extract_all(text, '$bpeishPattern')) AS chars_per_token
       |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------
  // Document fingerprinting: portable polynomial rolling hash
  // ----------------------------------------------------------------

  private val P = 1000000007L

  /** The portable polynomial fold `h = (h*31 + codepoint) mod 1e9+7`
    * as a codegen'd Column expression — ONE definition shared by
    * every operator that needs a cross-engine-exact hash
    * (`text_fingerprint`, `split_assign`); [[polyHashSql]] is its
    * DuckDB twin. Keeping a single source prevents the bit-exact
    * pair from silently desynchronizing.
    */
  private[graft] def polyHashCol(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val chars = filter(split(s, ""), c => c =!= "")
    aggregate(chars, lit(0L), (acc, c) => (acc * 31L + ascii(c)) % P)
  }

  /** DuckDB twin of [[polyHashCol]] over the SQL expression `e`. */
  private[graft] def polyHashSql(e: String): String =
    s"""list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      [CAST(unicode(substr($e, CAST(i AS INT), 1)) AS BIGINT)
       |       for i in generate_series(1, length($e))]),
       |    (a, b) -> (a*31 + b) % $P)""".stripMargin

  /** Rolling-hash fingerprint over the first 256 chars (cap keeps the
    * expression O(1) per doc at 100 TB): the shared [[polyHashCol]]
    * fold — codegen'd, no UDF, bit-exact in DuckDB.
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        polyHashCol(col("text").substr(lit(1), lit(256))).as("fingerprint"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")

  val textFingerprintSql: String =
    s"""SELECT doc_id,
       |  ${polyHashSql("p")} AS fingerprint,
       |  length(text) AS n_chars
       |FROM (SELECT doc_id, text, substr(text, 1, 256) AS p FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------
  // TF-IDF: corpus-weighted term importance, top-k terms per doc
  // ----------------------------------------------------------------

  /** Per-doc top-3 terms by tf·idf (idf = ln(N/df)). Plan shape: one
    * explode + two hash aggregations (term frequency per doc,
    * document frequency per term), an equi-join on the term, and the
    * per-doc top-k window — every stage partial-aggregates map-side
    * before its shuffle, the 100 TB-friendly shape. Ranking uses the
    * 6-dp-ROUNDED score (word as tie-break) so cross-engine
    * last-ulp `ln` differences cannot flip ranks.
    */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val words = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " +")).as("word"))
    val tf = words.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = words.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("word").asc)
    tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("word"), col("tf"), col("df"), col("tfidf"))
      .orderBy("doc_id", "rn")
  }

  val textTfidfSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS word
      |  FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
      |dfreq AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      |         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      |  FROM tf JOIN dfreq USING (word) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, word, tf, df, tfidf,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY tfidf DESC, word ASC) AS rn
      |  FROM scored)
      |SELECT doc_id, rn, word, tf, df, tfidf FROM ranked
      |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  // ----------------------------------------------------------------
  // PII scrubbing: detect + redact emails / URLs / phone numbers
  // ----------------------------------------------------------------

  /** PII detection + redaction over a deterministic synthetic PII
    * suffix (the corpus itself is clean, so each doc gets an email,
    * a URL, and a phone derived from its id — both engines build the
    * identical string, making redaction real work with a full
    * oracle). Patterns stay in the Java-regex ∩ RE2 common subset.
    * Pure per-row projection: zero shuffle at any scale.
    */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val urlRe = "https?://[^ ]+"
    val phoneRe = "\\+[0-9][0-9 ]{5,}[0-9]"
    val synth = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or call +1 555 010 "),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" see https://data.example.org/doc/"), col("doc_id"))
    docs(spark, dir)
      .withColumn("raw", synth)
      .select(
        col("doc_id"),
        regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(urlRe)).cast("long").as("n_urls"),
        regexp_replace(
          regexp_replace(regexp_replace(col("raw"), emailRe, "[EMAIL]"),
            urlRe, "[URL]"),
          phoneRe, "[PHONE]").as("scrubbed"))
      .withColumn("n_phones",
        regexp_count(col("scrubbed"), lit("\\[PHONE\\]")).cast("long"))
      .withColumn("scrubbed_len", length(col("scrubbed")).cast("long"))
      .orderBy("doc_id")
  }

  val textPiiScrubSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |    '@example.com or call +1 555 010 ' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |    ' see https://data.example.org/doc/' || CAST(doc_id AS VARCHAR) AS raw
      |  FROM documents),
      |scrub AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |    len(regexp_extract_all(raw, 'https?://[^ ]+')) AS n_urls,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(raw,
      |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |        'https?://[^ ]+', '[URL]', 'g'),
      |      '\+[0-9][0-9 ]{5,}[0-9]', '[PHONE]', 'g') AS scrubbed
      |  FROM s)
      |SELECT doc_id, n_emails, n_urls, scrubbed,
      |       len(regexp_extract_all(scrubbed, '\[PHONE\]')) AS n_phones,
      |       length(scrubbed) AS scrubbed_len
      |FROM scrub ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------
  // Typed Aggregator (UDAF) + array higher-order function coverage
  // ----------------------------------------------------------------

  /** Price-per-unit ratio of sums per return flag through the typed
    * [[graft.functions.RatioOfSums]] Aggregator (exact integer-cent
    * buffer -> merge-order-independent). Oracle reproduces the cent
    * arithmetic.
    */
  def aggTypedRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.Tables.table(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(graft.functions.RatioOfSums.toColumn.name("cents_per_unit"))
      .toDF("l_returnflag", "cents_per_unit")
      .withColumn("price_per_unit", col("cents_per_unit") / 100.0)
      .orderBy("l_returnflag")
  }

  val aggTypedRatioSql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
      |    / sum(CAST(l_quantity AS BIGINT)) AS cents_per_unit,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
      |    / sum(CAST(l_quantity AS BIGINT)) / 100.0 AS price_per_unit
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Array higher-order functions over the embedding column
    * (`transform`/`filter`/`aggregate` — §2.2 extension surface):
    * per-vector norm, positive-component count, mean, extrema.
    */
  def arrayOps(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.table(spark, dir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(sqrt(aggregate(transform(col("embedding"),
          x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, v) => acc + v)), 6).as("l2_norm"),
        size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, v) => acc + v.cast("double")) / size(col("embedding")), 6).as("mean"),
        round(array_min(col("embedding")).cast("double"), 6).as("min_v"),
        round(array_max(col("embedding")).cast("double"), 6).as("max_v"))
      .orderBy("vec_id")

  val arrayOpsSql: String =
    """SELECT vec_id, len(embedding) AS dim,
      |  round(sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * x))), 6) AS l2_norm,
      |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
      |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
      |    / len(embedding), 6) AS mean,
      |  round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_v,
      |  round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_v
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Edit-distance near-dup scoring over adjacent doc-id pairs (the
    * O(n²) all-pairs form is what MinHash avoids; the adjacent-pair
    * form exercises the operator deterministically). Both engines
    * implement the same Levenshtein definition, so values hash-match.
    */
  def textEditDistance(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(
      col("doc_id"), col("text").substr(lit(1), lit(64)).as("prefix"))
    val a = d.select(col("doc_id").as("doc_a"), col("prefix").as("pa"))
    val b = d.select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b"),
      col("prefix").as("pb"))
    a.join(b, Seq("doc_a"))
      .select(
        col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"),
        (lit(1.0) - levenshtein(col("pa"), col("pb")).cast("double") /
          greatest(length(col("pa")), length(col("pb")))).as("edit_sim"))
      .orderBy("doc_a")
  }

  val textEditDistanceSql: String =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) AS BIGINT)
      |    AS edit_dist,
      |  1.0 - CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) AS DOUBLE)
      |    / greatest(length(substr(a.text, 1, 64)), length(substr(b.text, 1, 64)))
      |    AS edit_sim
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_a""".stripMargin

  // ----------------------------------------------------------------
  // BM25 keyword retrieval (Robertson/Spärck Jones, public formula)
  // ----------------------------------------------------------------

  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private[ext] val Bm25Terms = Seq("join", "window", "stream", "spark")
  private val Bm25TopK = 10

  /** BM25 top-k retrieval for a fixed conjunction of query terms —
    * the quality-filtering / retrieval primitive of a training-data
    * pipeline (rank documents against a probe query). idf uses the
    * standard `ln((N − df + 0.5)/(df + 0.5) + 1)` form; per-term
    * scores are computed as separate conditional-aggregate columns
    * and summed in FIXED term order (a groupBy-sum over terms would
    * add doubles in partition order — not reproducible), then rounded
    * to 6 dp; ranking is on the ROUNDED score (transcendental-ulp
    * discipline, as `text_tfidf`).
    *
    * Plan shape: one postings pass filtered to the query terms
    * (predicate-pushed before the tf aggregate), one per-doc length
    * aggregate, two scalar broadcasts (N, avgdl) — the tf×query join
    * is an equi-join on a ≤|terms| key set, never a scan product.
    */
  def textBm25(spark: SparkSession, dir: String): DataFrame = {
    // global top-k via orderBy+limit → TakeOrderedAndProject (each
    // partition contributes its local top-k; the driver merges K
    // rows) — a global row_number window would sort every scored doc
    // in ONE task; the rank window then runs over K rows only
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    bm25CandidateScores(spark, dir)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25TopK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("score"))
      .orderBy("rank")
  }

  /** The (doc_id, score) candidate relation behind [[textBm25]] —
    * every document matching at least one fixed query term, scored.
    * Shared with [[Similarity.retrievalRrf]]'s lexical arm so the
    * fusion ranks the exact relation the BM25 query ranks.
    */
  private[ext] def bm25CandidateScores(
      spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val words = d.select(col("doc_id"), explode(split(col("text"), " +")).as("word"))
    val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // exact-integer sums → one double division: reproducible avgdl
    val scalars = dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      .crossJoin(d.agg(count(lit(1)).as("n_docs")))
    val tf = words.filter(col("word").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(scalars))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("term_score",
        col("idf") * col("tf") * lit(Bm25K1 + 1.0) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
    // one exact value per (doc, term) → per-term columns, fixed-order sum
    val perTerm = Bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("word") === t, col("term_score"))).as(s"s$i")
    }
    val summed = scored.groupBy(col("doc_id")).agg(perTerm.head, perTerm.tail: _*)
    val total = Bm25Terms.indices
      .map(i => coalesce(col(s"s$i"), lit(0.0)))
      .reduceLeft(_ + _)
    summed
      .withColumn("score", round(total, 6))
      .select(col("doc_id"), col("score"))
  }

  /** The query RELATION for [[textBm25Multi]]: (query_id, term)
    * pairs — the "rank this corpus against these N eval prompts"
    * shape real retrieval needs (VERDICT r3 #5: a compile-time term
    * list can't express a query table). Distinct pairs; term overlap
    * across queries (`join`) exercises the shared-postings path.
    */
  private[ext] val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "join", 0L -> "window",
    1L -> "stream", 1L -> "partition",
    2L -> "spark", 2L -> "shuffle", 2L -> "join")
  private val Bm25MultiTopK = 5

  /** BM25 top-k per query over a query relation. One postings pass
    * filtered to the UNION of all query terms (pushed below the tf
    * aggregate), the query table broadcast into an equi-join on the
    * term key, then a per-(query, doc) score sum folded in sorted
    * term order — `sort_array(collect_list(struct(word, score)))` +
    * `aggregate` left-fold, replayed in DuckDB as
    * `sum(term_score ORDER BY word)`, so double addition order is
    * pinned on both sides. Per-query top-k is a row_number window
    * PARTITIONED by query_id (parallel across queries, never a
    * single-partition global sort); scale in #queries is linear —
    * postings are scanned once regardless of query count.
    */
  def textBm25Multi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val q = Bm25Queries.toDF("query_id", "word")
    val allTerms = Bm25Queries.map(_._2).distinct
    val words = d.select(col("doc_id"), explode(split(col("text"), " +")).as("word"))
    val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val scalars = dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      .crossJoin(d.agg(count(lit(1)).as("n_docs")))
    val tf = words.filter(col("word").isin(allTerms: _*))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(q), "word")
      .join(broadcast(dfreq), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(scalars))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("term_score",
        col("idf") * col("tf") * lit(Bm25K1 + 1.0) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
    val summed = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("word"), col("term_score")))).as("parts"))
      .withColumn("score",
        round(aggregate(col("parts"), lit(0.0),
          (acc, x) => acc + x.getField("term_score")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    summed
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= Bm25MultiTopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  val textBm25MultiSql: String = {
    val values = Bm25Queries
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""WITH q AS (
       |  SELECT CAST(qid AS BIGINT) AS query_id, term
       |  FROM (VALUES $values) v(qid, term)),
       |w AS (
       |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS word
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
       |scalars AS (
       |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
       |         (SELECT count(*) FROM documents) AS n_docs
       |  FROM dl),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM w
       |       WHERE word IN (SELECT DISTINCT term FROM q)
       |       GROUP BY doc_id, word),
       |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       |scored AS (
       |  SELECT q.query_id, tf.doc_id, tf.word,
       |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * tf * ($Bm25K1 + 1.0)
       |      / (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)) AS term_score
       |  FROM tf JOIN q ON q.term = tf.word
       |  JOIN dfreq ON dfreq.word = tf.word
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN scalars),
       |summed AS (
       |  SELECT query_id, doc_id,
       |         round(sum(term_score ORDER BY word), 6) AS score
       |  FROM scored GROUP BY query_id, doc_id),
       |r AS (SELECT query_id, doc_id, score,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM summed)
       |SELECT query_id, rank, doc_id, score FROM r
       |WHERE rank <= $Bm25MultiTopK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Per-SOURCE percentile calibration of a quality signal: the
    * stopword ratio's percent_rank within each source, plus the
    * calibrated keep flag (drop the bottom 20% per source — too few
    * stopwords reads as non-linguistic content, the Gopher-rule
    * direction). Absolute thresholds misfire across heterogeneous
    * sources (a ratio normal for forums is an outlier for code
    * docs); rank normalization is the standard cross-source fix
    * before any global gate. One stratum exchange, the rank and the
    * flag ride the same window; the ratio is a single exact
    * division, so ordering agrees bit-for-bit across engines and
    * percent_rank replays deterministically (doc_id tie-break).
    * Scale boundary: a window partition is one task, so a single
    * multi-TB source outgrows exact percent_rank — the scale path
    * replaces the rank with per-source histogram-sketch percentiles
    * (the [[Relational.aggHistogramQuantile]] bins), trading the
    * exact rank for mergeable-sketch calibration at the same
    * contract shape.
    */
  def qualityNormalize(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("stopword_ratio"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        (size(filter(wordsCol, x => x.isin(stopwords: _*))).cast("double") /
          size(wordsCol)).as("stopword_ratio"))
      .withColumn("src_pct", round(percent_rank().over(w), 6))
      .withColumn("keep", col("src_pct") >= 0.2)
      .select(col("doc_id"), col("source"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        col("src_pct"), col("keep"))
      .orderBy("doc_id")
  }

  val qualityNormalizeSql: String = {
    // the SAME unfiltered split as textQuality/wordsCol
    val words = "string_split_regex(text, ' +')"
    s"""WITH r AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter($words, w -> w IN ${sqlList(stopwords)}))
       |         AS DOUBLE) / len($words) AS stopword_ratio
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, source, stopword_ratio,
       |    round(percent_rank() OVER (PARTITION BY source
       |      ORDER BY stopword_ratio, doc_id), 6) AS src_pct
       |  FROM r)
       |SELECT doc_id, source, round(stopword_ratio, 6) AS stopword_ratio,
       |  src_pct, src_pct >= 0.2 AS keep
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Bigram language-model quality score — the CCNet/KenLM filter
    * shape: train add-one-smoothed bigram statistics on the hash
    * train split (bucket < 8, the [[PipelineOps.splitAssign]]
    * derivation) and score each held-out doc by its average bigram
    * log-probability, ln((c12 + 1) / (c1 + V)). Low scores flag
    * text the corpus's own language model finds surprising —
    * gibberish, wrong-language, boilerplate — the classic
    * perplexity-filter signal, here with the LM trained and applied
    * in one engine pass.
    *
    * Scale shape: two map-side-combinable count aggs over train
    * bigrams (the "model"), eval bigrams join them by key (counts
    * move, never text), the vocab size broadcasts as one row, and
    * the per-doc average uses the suite's order-pinned fold
    * (sort_array(collect_list) + aggregate) so float addition order
    * cannot vary with partitioning. ln and /-then-round(6dp) follow
    * the BM25 cross-engine discipline.
    */
  def textLmScore(spark: SparkSession, dir: String): DataFrame = {
    val bg = docs(spark, dir)
      .withColumn("is_train",
        polyHashCol(col("doc_id").cast("string")) % 10 < 8)
      .select(col("doc_id"), col("is_train"),
        expr("filter(split(text, ' +'), x -> x != '')").as("ws"))
      .select(col("doc_id"), col("is_train"), posexplode(expr(
        """zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
          |         slice(ws, 2, greatest(size(ws) - 1, 0)),
          |         (a, b) -> named_struct('w1', a, 'w2', b))""".stripMargin))
        .as(Seq("pos", "b")))
      .select(col("doc_id"), col("is_train"), col("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val train = bg.filter(col("is_train"))
    val c12 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = train.select(col("w1").as("w"))
      .union(train.select(col("w2").as("w")))
      .agg(countDistinct(col("w")).as("v"))
    bg.filter(!col("is_train"))
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("logp", log(
        (coalesce(col("c12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("logp")))).as("parts"))
      .select(col("doc_id"),
        size(col("parts")).cast("long").as("n_bigrams"),
        round(aggregate(col("parts"), lit(0.0),
          (acc, x) => acc + x.getField("logp")) / size(col("parts")), 6)
          .as("avg_logp"))
      .orderBy("doc_id")
  }

  val textLmScoreSql: String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, ' +'), x -> x != '') AS ws,
       |    ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8 AS is_train
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, is_train, bi - 1 AS pos, ws[bi] AS w1, ws[bi + 1] AS w2
       |  FROM (SELECT doc_id, is_train, ws,
       |          unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS bi
       |        FROM w)),
       |tr AS (SELECT w1, w2 FROM bg WHERE is_train),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY w1, w2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM tr GROUP BY w1),
       |vv AS (SELECT count(DISTINCT w) AS v FROM
       |        (SELECT w1 AS w FROM tr UNION ALL SELECT w2 FROM tr)),
       |ev AS (
       |  SELECT b.doc_id, b.pos,
       |    ln((coalesce(c12.c12, 0) + 1.0)
       |       / (coalesce(c1.c1, 0) + (SELECT v FROM vv))) AS logp
       |  FROM bg b
       |  LEFT JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
       |  LEFT JOIN c1 ON c1.w1 = b.w1
       |  WHERE NOT b.is_train)
       |SELECT doc_id, CAST(len(l) AS BIGINT) AS n_bigrams,
       |  round(list_sum(l) / len(l), 6) AS avg_logp
       |FROM (SELECT doc_id, list(logp ORDER BY pos) AS l
       |      FROM ev GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin

  /** GINI coefficient of per-document token mass within each source —
    * the inequality half of the balance audit ([[textEntropy]]
    * measures vocabulary diversity; this measures whether a few
    * giant documents carry the source): the sorted-rank formulation
    * G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending token
    * counts. Everything up to the single output division is BIGINT
    * (rank-weighted sums are tie-insensitive: equal xᵢ contribute
    * x·Σi whichever tied rank each takes), so the value is exact
    * and partitioning-independent. One stratum window + one agg.
    */
  def textGini(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(col("source"), col("doc_id"),
      size(expr("filter(split(text, ' +'), x -> x != '')"))
        .cast("long").as("x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("x"), col("doc_id"))
    toks
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("source"), col("n").as("n_docs"),
        col("sx").as("total_tokens"),
        round((lit(2) * col("six") - (col("n") + 1) * col("sx"))
          .cast("double") / (col("n") * col("sx")).cast("double"), 6)
          .as("gini"))
      .orderBy("source")
  }

  val textGiniSql: String =
    """WITH toks AS (
      |  SELECT source, doc_id,
      |    len(list_filter(string_split_regex(text, ' +'), x -> x != ''))
      |      AS x
      |  FROM documents),
      |r AS (
      |  SELECT source, x,
      |    row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS i
      |  FROM toks),
      |m AS (
      |  SELECT source, count(*) AS n, sum(x) AS sx, sum(i * x) AS six
      |  FROM r GROUP BY source)
      |SELECT source, CAST(n AS BIGINT) AS n_docs,
      |  CAST(sx AS BIGINT) AS total_tokens,
      |  round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
      |    / CAST(n * sx AS DOUBLE), 6) AS gini
      |FROM m ORDER BY source""".stripMargin

  /** Token-distribution Shannon ENTROPY per source — the corpus
    * DIVERSITY metric a mixture designer reads next to volume: low
    * entropy flags template/boilerplate sources whose tokens repeat
    * (they contribute less unique signal per token than their size
    * suggests). H = −Σ p·ln p over the source's term distribution;
    * each p·ln p is computed from identical integer counts on both
    * engines, and the Σ uses the suite's order-pinned fold
    * (sort_array(collect_list) + aggregate, terms as the sort key)
    * so float addition order cannot vary with partitioning. Scale
    * shape: two hash aggs (term counts, source totals) + one
    * equi-join; the fold sees one row per DISTINCT term per source
    * (vocabulary-scale, not token-scale).
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    val terms = docs(spark, dir).select(col("source"),
      explode(expr("filter(split(text, ' +'), x -> x != '')")).as("term"))
    val tc = terms.groupBy("source", "term").agg(count(lit(1)).as("c"))
    val tot = tc.groupBy("source").agg(sum(col("c")).as("t"))
    tc.join(tot, "source")
      .withColumn("plogp",
        col("c").cast("double") / col("t") *
          log(col("c").cast("double") / col("t")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_terms"),
        max(col("t")).as("n_tokens"),
        sort_array(collect_list(struct(col("term"), col("plogp"))))
          .as("parts"))
      .select(col("source"), col("n_terms"), col("n_tokens"),
        round(-aggregate(col("parts"), lit(0.0),
          (acc, x) => acc + x.getField("plogp")), 6).as("entropy"))
      .orderBy("source")
  }

  val textEntropySql: String =
    """WITH terms AS (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(text, ' +'), x -> x != ''))
      |      AS term
      |  FROM documents),
      |tc AS (SELECT source, term, count(*) AS c FROM terms GROUP BY 1, 2),
      |tot AS (SELECT source, sum(c) AS t FROM tc GROUP BY 1),
      |p AS (
      |  SELECT tc.source, tc.term, tot.t,
      |    CAST(c AS DOUBLE) / t * ln(CAST(c AS DOUBLE) / t) AS plogp
      |  FROM tc JOIN tot USING (source))
      |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(max(t) AS BIGINT) AS n_tokens,
      |  round(-list_sum(list(plogp ORDER BY term)), 6) AS entropy
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------------------------------------------
  // Corpus vocabulary: top-K terms + cumulative coverage (BPE prep)
  // ----------------------------------------------------------------

  private val VocabK = 200

  /** Top-[[VocabK]] corpus vocabulary by term frequency with
    * cumulative coverage fraction — the "how many types cover X% of
    * tokens" curve a tokenizer-training pipeline computes before
    * fitting BPE merges. Scale shape: one explode feeding a
    * map-side-combinable term count, a TakeOrderedAndProject top-K
    * (K rows cross the wire, never the full vocabulary), the corpus
    * token total as one broadcast scalar, and the running-coverage
    * window over only those K rows. Ties break lexicographically so
    * the relation is deterministic under any partitioning.
    */
  def textVocab(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("term").asc)
    val counts = docs(spark, dir)
      .select(explode(
        expr("filter(split(text, ' +'), x -> x != '')")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    counts.orderBy(col("n").desc, col("term").asc).limit(VocabK)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_frac",
        round(sum(col("n")).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow))
          .cast("double") / col("total"), 6))
      .select(col("rank"), col("term"), col("n"), col("cum_frac"))
      .orderBy("rank")
  }

  /** Oracle: the cumulative sum runs over the FULL vocabulary but the
    * first K rows of the identically-ordered window agree with the
    * Spark side's top-K-then-window formulation.
    */
  val textVocabSql: String =
    s"""WITH t AS (
       |  SELECT unnest(list_filter(string_split_regex(text, ' +'),
       |                            x -> x != '')) AS term
       |  FROM documents),
       |c AS (SELECT term, count(*) AS n FROM t GROUP BY term),
       |tot AS (SELECT sum(n) AS total FROM c),
       |r AS (
       |  SELECT term, n,
       |    row_number() OVER (ORDER BY n DESC, term ASC) AS rank,
       |    sum(n) OVER (ORDER BY n DESC, term ASC
       |                 ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM c)
       |SELECT CAST(rank AS BIGINT) AS rank, term, CAST(n AS BIGINT) AS n,
       |  round(CAST(cum AS DOUBLE) / total, 6) AS cum_frac
       |FROM r, tot WHERE rank <= $VocabK ORDER BY rank""".stripMargin

  // ----------------------------------------------------------------
  // Distinctive terms per source: smoothed log-odds vs rest-of-corpus
  // ----------------------------------------------------------------

  private val LoTopK = 5
  private val LoMinLen = 2

  /** DISTINCTIVE-term extraction per source — the corpus-comparison
    * lens (Monroe, Colaresi, Quinn 2008's log-odds family, add-one
    * smoothed, source vs rest-of-corpus): for each source, the
    * [[LoTopK]] terms whose smoothed log-odds ratio
    * `ln((y+1)/(n_s−y+1)) − ln((y_rest+1)/(n_rest−y_rest+1))` is
    * highest — "what does this source say that the rest does not",
    * the audit run before weighting a source in a training mixture
    * (TF-IDF ranks within a document; this contrasts CORPORA).
    *
    * Shape: one explode feeds one (source, term) hash agg — the only
    * corpus-scale pass; term totals derive from THAT relation
    * (vocab-scale re-agg, never a second corpus read), source totals
    * broadcast as five rows, and the top-k window walks vocab-scale
    * rows. Both lns are one-shot transcendentals over identical
    * integer-ratio operands, ranked only AFTER 6-dp rounding with
    * the term as tie-break (the BM25/TF-IDF discipline).
    */
  def textLogodds(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the (source, term) counts ONCE: tw/ns/tot all
    // derive from this relation, and without the eager cut each
    // branch would re-run the corpus explode+agg (no CSE across
    // DataFrame branches — four corpus passes, caught by the
    // PlanQualitySpec Generate pin). The frame is vocab-scale.
    val sw = docs(spark, dir)
      .select(col("source"), explode(
        expr("filter(split(text, ' +'), x -> x != '')")).as("term"))
      .filter(length(col("term")) >= LoMinLen)
      .groupBy("source", "term").agg(count(lit(1)).as("y"))
      .localCheckpoint(true)
    val tw = sw.groupBy("term").agg(sum(col("y")).as("yw"))
    val ns = sw.groupBy("source").agg(sum(col("y")).as("ns"))
    val tot = ns.agg(sum(col("ns")).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("delta").desc, col("term").asc)
    sw.join(tw, "term")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
      .withColumn("delta", round(
        log((col("y") + 1).cast("double") / (col("ns") - col("y") + 1)) -
          log((col("yw") - col("y") + 1).cast("double") /
            (col("nn") - col("ns") - col("yw") + col("y") + 1)), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= LoTopK)
      .select(col("source"), col("rn"), col("term"),
        col("y").as("n_in_source"), (col("yw") - col("y")).as("n_in_rest"),
        col("delta"))
      .orderBy("source", "rn")
  }

  val textLogoddsSql: String =
    s"""WITH t AS (
       |  SELECT source,
       |    unnest(list_filter(string_split_regex(text, ' +'),
       |                       x -> x != '')) AS term
       |  FROM documents),
       |sw AS (
       |  SELECT source, term, count(*) AS y FROM t
       |  WHERE length(term) >= $LoMinLen GROUP BY 1, 2),
       |tw AS (SELECT term, sum(y) AS yw FROM sw GROUP BY 1),
       |ns AS (SELECT source, sum(y) AS ns FROM sw GROUP BY 1),
       |tot AS (SELECT sum(ns) AS nn FROM ns),
       |d AS (
       |  SELECT sw.source, sw.term, sw.y, tw.yw, ns.ns,
       |    round(ln(CAST(sw.y + 1 AS DOUBLE) / (ns.ns - sw.y + 1))
       |      - ln(CAST(tw.yw - sw.y + 1 AS DOUBLE)
       |           / (tot.nn - ns.ns - tw.yw + sw.y + 1)), 6) AS delta
       |  FROM sw JOIN tw USING (term) JOIN ns USING (source), tot),
       |r AS (
       |  SELECT source, term, y, yw, delta,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY delta DESC, term ASC) AS rn
       |  FROM d)
       |SELECT source, CAST(rn AS BIGINT) AS rn, term,
       |  CAST(y AS BIGINT) AS n_in_source,
       |  CAST(yw - y AS BIGINT) AS n_in_rest, delta
       |FROM r WHERE rn <= $LoTopK ORDER BY source, rn""".stripMargin

  /** The CTE chain computing [[bm25CandidateScores]]'s relation as
    * `ranked(doc_id, score)` — shared verbatim between the
    * `text_bm25` oracle and the `retrieval_rrf` oracle's lexical arm.
    */
  private[ext] val bm25CandidateCtes: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val perTerm = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN word = '$t' THEN term_score END) AS s$i"
    }.mkString(", ")
    val total = Bm25Terms.indices
      .map(i => s"COALESCE(s$i, 0.0)").reduceLeft((a, b) => s"($a + $b)")
    s"""w AS (
       |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS word
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
       |scalars AS (
       |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
       |         (SELECT count(*) FROM documents) AS n_docs
       |  FROM dl),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM w
       |       WHERE word IN ($termList) GROUP BY doc_id, word),
       |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       |scored AS (
       |  SELECT tf.doc_id, tf.word,
       |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * tf * ($Bm25K1 + 1.0)
       |      / (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)) AS term_score
       |  FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id)
       |  CROSS JOIN scalars),
       |summed AS (SELECT doc_id, $perTerm FROM scored GROUP BY doc_id),
       |ranked AS (
       |  SELECT doc_id, round($total, 6) AS score FROM summed)""".stripMargin
  }

  val textBm25Sql: String =
    s"""WITH $bm25CandidateCtes,
       |r AS (SELECT doc_id, score,
       |        row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM ranked)
       |SELECT rank, doc_id, score FROM r WHERE rank <= $Bm25TopK
       |ORDER BY rank""".stripMargin

  // ----------------------------------------------------------------
  // PMI collocations: statistically-bound word pairs
  // ----------------------------------------------------------------

  private val PmiMinCount = 5L
  private val PmiTopK = 20

  /** Top-[[PmiTopK]] bigram COLLOCATIONS by pointwise mutual
    * information — PMI(x,y) = ln(p(x,y) / (p(x)p(y))) with
    * p(x,y) = c₁₂/M over bigram mass M and p(x) = c/N over token
    * mass N — the classic collocation-extraction statistic (Church &
    * Hanks 1990): high-PMI pairs are phrases ("Hong Kong"), which is
    * what tokenizer vocab builders and stop-phrase lists mine for. A
    * min-support floor of [[PmiMinCount]] kills the PMI pathology
    * (hapax pairs score highest exactly because they're rare).
    *
    * Scale shape: one bigram explode + one token explode, three
    * map-side-combinable hash aggs (pair, unigram, totals), two
    * vocabulary-scale equi-joins to attach c₁ and c₂, one-row totals
    * broadcast, and `TakeOrderedAndProject` for the global top-k —
    * the full pair relation never sorts. Determinism: counts are
    * BIGINT; the score is ONE double ratio (identical left-assoc
    * multiply chain both engines) through ONE `ln`, 6-dp-rounded
    * before ranking with (w1, w2) tie-breaks — the BM25 discipline.
    */
  def textPmi(spark: SparkSession, dir: String): DataFrame = {
    // ONE fact pass for both model relations (round 17, guide §1.2):
    // unigram and bigram counts used to be two separate
    // scan+split+explode+agg chains over the corpus; emitting per doc
    // the tokens as (w, NULL) structs and the bigrams as (w1, w2)
    // structs in one exploded array folds both into a SINGLE
    // map-side-combinable hash agg, checkpointed at vocabulary scale
    // so its four consumers (uni twice, c12, totals) read the memo
    // instead of re-tokenizing. Counts are bit-identical: the exploded
    // multiset is exactly tokens ⊎ bigrams.
    val counts = docs(spark, dir)
      .select(expr("filter(split(text, ' +'), x -> x != '')").as("ws"))
      .select(explode(expr(
        """concat(
          |  transform(ws, w -> named_struct('w1', w,
          |                                  'w2', CAST(NULL AS STRING))),
          |  zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
          |           slice(ws, 2, greatest(size(ws) - 1, 0)),
          |           (a, b) -> named_struct('w1', a, 'w2', b)))""".stripMargin))
        .as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val uni = counts.filter(col("w2").isNull)
      .select(col("w1").as("w"), col("c"))
    val c12 = counts.filter(col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("c").as("c12"))
    val totals = uni.agg(sum(col("c")).as("n_tok"))
      .crossJoin(c12.agg(sum(col("c12")).as("m_bg")))
    val w2r = org.apache.spark.sql.expressions.Window
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
    c12.filter(col("c12") >= PmiMinCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("c12").cast("double") * col("n_tok") * col("n_tok")) /
          (col("m_bg").cast("double") * col("c1") * col("c2"))), 6))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(PmiTopK)
      .withColumn("rn", row_number().over(w2r).cast("long"))
      .select(col("rn"), col("w1"), col("w2"), col("c12"), col("c1"),
        col("c2"), col("pmi"))
      .orderBy("rn")
  }

  val textPmiSql: String =
    s"""WITH ws AS (
       |  SELECT list_filter(string_split_regex(text, ' +'), x -> x != '') AS ws
       |  FROM documents),
       |bg AS (
       |  SELECT ws[i] AS w1, ws[i+1] AS w2
       |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |        FROM ws WHERE len(ws) >= 2)),
       |uni AS (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY w),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
       |tot AS (
       |  SELECT (SELECT sum(c) FROM uni) AS n_tok,
       |         (SELECT sum(c12) FROM c12) AS m_bg),
       |scored AS (
       |  SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
       |    round(ln((CAST(c12 AS DOUBLE) * n_tok * n_tok) /
       |             (CAST(m_bg AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
       |  FROM c12
       |  JOIN uni u1 ON c12.w1 = u1.w
       |  JOIN uni u2 ON c12.w2 = u2.w
       |  CROSS JOIN tot
       |  WHERE c12 >= $PmiMinCount),
       |r AS (
       |  SELECT *, row_number()
       |    OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rn
       |  FROM scored)
       |SELECT CAST(rn AS BIGINT) AS rn, w1, w2, CAST(c12 AS BIGINT) AS c12,
       |  CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2, pmi
       |FROM r WHERE rn <= $PmiTopK ORDER BY rn""".stripMargin

  // ----------------------------------------------------------------
  // PSI drift: per-source distribution shift vs the corpus baseline
  // ----------------------------------------------------------------

  private val PsiBins = 32
  private val PsiBinWidth = 64L

  /** POPULATION STABILITY INDEX of each source's document-length
    * distribution against the corpus baseline — the standard drift
    * audit (PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ); < 0.1 stable, > 0.25 shifted)
    * run before mixing a new source into a training corpus, the
    * distributional sibling of `corpus_overlap`'s content audit.
    * Token counts bucket into [[PsiBins]] fixed [[PsiBinWidth]]-token
    * bins (capped top bin); both distributions are Laplace-smoothed
    * (+1 per bin) so empty bins contribute finite, deterministic
    * terms instead of an ε convention.
    *
    * Scale shape: one tokenize pass, two hash aggs (source×bin,
    * bin), the full source×bin grid built by `sequence`/`explode`
    * (BINS-scale), a one-row corpus total broadcast, and the
    * order-pinned fold over ≤ [[PsiBins]] rows per source — the
    * [[textEntropy]] discipline. Each PSI term is two divisions and
    * one ln, written identically in both engines, 6-dp-rounded after
    * the fold.
    */
  def dqPsi(spark: SparkSession, dir: String): DataFrame = {
    val lens = docs(spark, dir).select(col("source"),
      least(expr(s"size(filter(split(text, ' +'), x -> x != '')) div $PsiBinWidth"),
        lit(PsiBins - 1L)).cast("long").as("bin"))
    val sb = lens.groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val st = sb.groupBy("source").agg(sum(col("c")).as("n"))
    val qb = lens.groupBy("bin").agg(count(lit(1)).as("qc"))
    val qt = lens.agg(count(lit(1)).as("qn"))
    val grid = st.select(col("source"), col("n"),
      explode(sequence(lit(0L), lit(PsiBins - 1L))).as("bin"))
    grid
      .join(sb, Seq("source", "bin"), "left")
      .join(qb, Seq("bin"), "left")
      .crossJoin(broadcast(qt))
      .withColumn("p",
        (coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("n") + PsiBins).cast("double"))
      .withColumn("q",
        (coalesce(col("qc"), lit(0L)) + 1).cast("double") /
          (col("qn") + PsiBins).cast("double"))
      .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"),
        sort_array(collect_list(struct(col("bin"), col("term")))).as("parts"))
      .select(col("source"), col("n_docs"),
        round(aggregate(col("parts"), lit(0.0),
          (acc, x) => acc + x.getField("term")), 6).as("psi"))
      .orderBy("source")
  }

  val dqPsiSql: String =
    s"""WITH lens AS (
       |  SELECT source,
       |    least(len(list_filter(string_split_regex(text, ' +'),
       |            x -> x != '')) // $PsiBinWidth, ${PsiBins - 1}) AS bin
       |  FROM documents),
       |sb AS (SELECT source, bin, count(*) AS c FROM lens GROUP BY 1, 2),
       |st AS (SELECT source, sum(c) AS n FROM sb GROUP BY 1),
       |qb AS (SELECT bin, count(*) AS qc FROM lens GROUP BY 1),
       |qt AS (SELECT count(*) AS qn FROM lens),
       |grid AS (
       |  SELECT st.source, st.n, g.bin
       |  FROM st CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${PsiBins - 1})) AS bin) g),
       |terms AS (
       |  SELECT grid.source, grid.bin,
       |    ((coalesce(sb.c, 0) + 1) / CAST(grid.n + $PsiBins AS DOUBLE)
       |     - (coalesce(qb.qc, 0) + 1) / CAST(qt.qn + $PsiBins AS DOUBLE))
       |    * ln(((coalesce(sb.c, 0) + 1) / CAST(grid.n + $PsiBins AS DOUBLE))
       |         / ((coalesce(qb.qc, 0) + 1) / CAST(qt.qn + $PsiBins AS DOUBLE)))
       |      AS term,
       |    grid.n
       |  FROM grid
       |  LEFT JOIN sb ON sb.source = grid.source AND sb.bin = grid.bin
       |  LEFT JOIN qb ON qb.bin = grid.bin
       |  CROSS JOIN qt)
       |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       |  round(list_sum(list(term ORDER BY bin)), 6) AS psi
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------------------------------------------
  // TextRank: graph-based keyword extraction
  // ----------------------------------------------------------------

  private val TrMinLen = 4
  private val TrMinCount = 5L
  private val TrIters = 3
  private val TrTopK = 20
  private val TrScale = 1000000000000L
  private val TrBaseNum = TrScale * 15L / 100L // (1−d)·scale, d = 0.85

  /** Word-graph INDEX for [[textRank]]: the degree-annotated
    * symmetric co-occurrence edge set `(src, dst, deg)`, a durable
    * artifact — hot invocations read a plain scan instead of re-running
    * the explode/filter/distinct build, and pre-joining the degree
    * removes one join from every damped iteration.
    */
  private def textRankEdges(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.frame(spark, "textrank-edges-v1", dir, "documents") {
      val ws = docs(spark, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' +'), x -> x != '')").as("ws"))
      val words = ws.select(explode(col("ws")).as("w"))
        .filter(length(col("w")) >= TrMinLen)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .filter(col("c") >= TrMinCount)
        .select("w")
      val bg = ws.select(explode(expr(
        """zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
          |         slice(ws, 2, greatest(size(ws) - 1, 0)),
          |         (a, b) -> named_struct('w1', a, 'w2', b))""".stripMargin))
        .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= col("w2"))
        .join(words.select(col("w").as("w1")), "w1")
        .join(words.select(col("w").as("w2")), "w2")
      val edges = bg.select(col("w1").as("src"), col("w2").as("dst"))
        .union(bg.select(col("w2").as("src"), col("w1").as("dst")))
        .distinct()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      edges.join(deg, "src").select("src", "dst", "deg")
    }

  /** TEXTRANK keyword extraction (Mihalcea & Tarau 2004): PageRank
    * over the word CO-OCCURRENCE graph — words are nodes, adjacent
    * content-word pairs are undirected edges, and the stationary
    * rank surfaces the corpus's keyword vocabulary ([[textPmi]]
    * finds bound PAIRS; this ranks single terms by graph
    * centrality). Content filter: words of ≥ [[TrMinLen]] chars
    * occurring ≥ [[TrMinCount]] times — the deterministic stand-in
    * for a POS filter, bounding the graph to vocabulary scale.
    *
    * The iteration discipline is `graph_pagerank`'s, applied to
    * text: [[TrIters]] damped rounds entirely in ×10¹² BIGINT fixed
    * point (`r div deg` contributions — addition-order-independent,
    * so partitioning cannot move a rank), each round one equi-join +
    * hash agg on the destination word; the node count is the only
    * driver scalar. The oracle replays the identical unrolled
    * rounds.
    */
  def textRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = textRankEdges(spark, dir)
    val nodes = edges.select(col("src").as("node")).distinct()
    val n = nodes.count() // driver scalar: node count only
    var rank = nodes.select(col("node"), lit(TrScale / n).as("r"))
    for (_ <- 1 to TrIters) {
      val contrib = edges
        .join(rank.select(col("node").as("src"), col("r")), "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      rank = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), (lit(TrBaseNum / n) +
          expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("r").desc, col("node").asc)
    rank
      .orderBy(col("r").desc, col("node").asc)
      .limit(TrTopK)
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("rn"), col("node").as("word"), col("r").as("rank_fp"))
      .orderBy("rn")
  }

  val textRankSql: String = {
    val iters = (1 to TrIters).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.r // d.deg) AS s
         |  FROM edges e JOIN deg d ON d.src = e.src
         |  JOIN $prev r ON r.node = e.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT nodes.node,
         |    (SELECT $TrBaseNum // n FROM nn)
         |      + (85 * coalesce(c$i.s, 0)) // 100 AS r
         |  FROM nodes LEFT JOIN c$i ON c$i.node = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ws AS (
       |  SELECT list_filter(string_split_regex(text, ' +'), x -> x != '') AS ws
       |  FROM documents),
       |vocab AS (
       |  SELECT w FROM (SELECT unnest(ws) AS w FROM ws)
       |  WHERE length(w) >= $TrMinLen
       |  GROUP BY w HAVING count(*) >= $TrMinCount),
       |bg AS (
       |  SELECT ws[i] AS w1, ws[i+1] AS w2
       |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |        FROM ws WHERE len(ws) >= 2)
       |  WHERE ws[i] != ws[i+1]),
       |bgv AS (
       |  SELECT w1, w2 FROM bg
       |  JOIN vocab v1 ON bg.w1 = v1.w JOIN vocab v2 ON bg.w2 = v2.w),
       |edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT w1 AS src, w2 AS dst FROM bgv
       |    UNION ALL SELECT w2, w1 FROM bgv)),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, $TrScale // n AS r FROM nodes, nn),
       |$iters,
       |ranked AS (
       |  SELECT node, r, row_number() OVER (ORDER BY r DESC, node ASC) AS rn
       |  FROM r$TrIters)
       |SELECT CAST(rn AS BIGINT) AS rn, node AS word,
       |  CAST(r AS BIGINT) AS rank_fp
       |FROM ranked WHERE rn <= $TrTopK ORDER BY rn""".stripMargin
  }

  // ----------------------------------------------------------------
  // Winnowing: window-minimum fingerprint selection (MOSS)
  // ----------------------------------------------------------------

  private val WinK = 8 // k-gram width (chars)
  private val WinW = 4 // winnowing window (grams)
  private val WinCap = 256 // prefix cap: O(1) per doc at 100 TB

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every k-gram of the
    * capped prefix, then keep, from each window of [[WinW]]
    * consecutive gram hashes, the RIGHTMOST MINIMUM. The guarantee
    * that makes this the standard copy-detection fingerprint (and a
    * sub-document dedup key): any shared substring of length
    * ≥ k + w − 1 between two documents yields at least one IDENTICAL
    * selected (hash) on both sides, while only ~2/(w+1) of grams are
    * kept — a fixed-rate sample that, unlike every-nth-gram, is
    * position-independent.
    *
    * Both the min and the rightmost tie-break ride ONE integer key
    * `hash·1024 + (1023 − pos)`: `array_min` over a window then picks
    * the smallest hash and, among equal hashes, the largest position
    * — so each engine runs a plain min-fold, no struct comparators to
    * diverge. The whole operator is rowwise higher-order-function
    * arithmetic over the shared [[polyHashCol]] fold (codegen'd, no
    * UDF, zero shuffle before the presentation sort); docs shorter
    * than k + w − 1 prefix chars emit nothing by contract.
    */
  def textWinnow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          winnowSelect(text).iterator.map { key =>
            (id, 1023L - key % 1024L, key >> 10)
          }
        }
      }
      .toDF("doc_id", "pos", "gram_hash")
      .orderBy("doc_id", "pos")
  }

  /** Kernel form of the winnowing selection — the full fingerprint
    * pipeline (gram hashes over the capped prefix → rightmost-min per
    * window via the single `hash·1024 + (1023 − pos)` integer key →
    * distinct) in one tight loop per document. A typed kernel, not the
    * Column/higher-order-function form, for the same measured reason
    * as [[graft.ext.Dedup]]'s shingle kernel: nested array lambdas
    * (`transform`/`slice`/`array_min`) evaluate interpreted, and even
    * with the gram-hash array materialized once the HOF form ran
    * 4.0 s hot at sf0.1 where this loop is ~0.3 s. Returned keys are
    * the window minima, de-duplicated, order irrelevant (the operator
    * sorts on output columns).
    */
  private[ext] def winnowSelect(text: String): Array[Long] = {
    if (text == null) return Array.empty[Long] // Column form emitted no rows
    val cps = text.codePoints().limit(WinCap).toArray
    val n = cps.length
    if (n < WinK) return Array.empty[Long]
    val nGrams = n - WinK + 1
    val nWin = nGrams - WinW + 1
    if (nWin < 1) return Array.empty[Long]
    val keys = new Array[Long](nGrams)
    var pos = 0
    while (pos < nGrams) {
      var acc = 0L
      var i = 0
      while (i < WinK) { acc = (acc * 31L + cps(pos + i)) % P; i += 1 }
      // 1-based gram position rides the low 10 bits inverted, so one
      // integer min is simultaneously (min hash, rightmost position)
      keys(pos) = acc * 1024L + (1023L - (pos + 1))
      pos += 1
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var s = 0
    while (s < nWin) {
      var m = keys(s)
      var j = 1
      while (j < WinW) { val v = keys(s + j); if (v < m) m = v; j += 1 }
      out.add(m)
      s += 1
    }
    val res = new Array[Long](out.size)
    val oit = out.iterator()
    var w = 0
    while (oit.hasNext) { res(w) = oit.next(); w += 1 }
    res
  }

  // ----------------------------------------------------------------
  // BPE merge induction: learn a subword vocabulary from the corpus
  // ----------------------------------------------------------------

  private val BpeMerges = 8
  private val BpeMinCount = 3L
  private val BpeMinLen = 2
  private val BpeMaxLen = 20
  private val BpeSep = "\u001F" // US control char: never in kept words

  /** The greedy non-overlapping BPE application of merge (a, b) as a
    * left fold over a [[BpeSep]]-joined symbol string — ONE
    * definition shared by the trainer's per-iteration rewrite and
    * the encoder's per-word application.
    */
  private def bpeFold(syms: Column, a: String, b: String): Column =
    aggregate(split(syms, BpeSep), lit(""),
      (acc, x) => when(acc === "", x)
        .when(element_at(split(acc, BpeSep), -1) === a && x === b,
          concat(acc, x))
        .otherwise(concat(acc, lit(BpeSep), x)))

  /** The learned merge table, a durable model read into the driver
    * once per session: trained once per corpus from [[bpeVocab]], and
    * read by the encoders (`text_bpe_encode`, `text_fertility`).
    * `text_bpe` trains its own merges from [[bpeVocab]] on every call.
    */
  private def bpeMergeTable(
      spark: SparkSession, dir: String): Seq[(Long, String, String, Long)] = {
    import spark.implicits._
    ArtifactStore.artifact(spark, "bpe-merges-v1", dir, "documents") {
      trainBpe(bpeVocab(spark, dir))
        .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
    } {
      _.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toList
    }
  }

  /** The trainer's word-count base, `(n, syms)`: the one pass over the
    * corpus, kept as a durable index per corpus state. Every merge
    * iteration runs on it.
    */
  private def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.frame(spark, "bpe-vocab-v1", dir, "documents") {
      docs(spark, dir)
        .select(explode(
          expr("filter(split(text, ' +'), x -> x != '')")).as("word"))
        .filter(length(col("word")).between(BpeMinLen, BpeMaxLen) &&
          !col("word").contains(BpeSep))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .filter(col("n") >= BpeMinCount)
        .select(col("n"),
          array_join(filter(split(col("word"), ""), c => c =!= ""), BpeSep)
            .as("syms"))
    }

  private def trainBpe(vocab: DataFrame): Seq[(Long, String, String, Long)] = {
    var v = vocab
    val merges =
      scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (i <- 1 to BpeMerges if !exhausted) {
      val best = v
        .select(col("n"), split(col("syms"), BpeSep).as("ls"))
        .filter(size(col("ls")) >= 2)
        .select(col("n"), explode(expr(
          """zip_with(slice(ls, 1, size(ls) - 1), slice(ls, 2, size(ls) - 1),
            |         (a, b) -> named_struct('a', a, 'b', b))""".stripMargin))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect() // ONE row: the argmax pair
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((i.toLong, a, b, cnt))
        v = v.select(col("n"), bpeFold(col("syms"), a, b).as("syms"))
          .localCheckpoint(true)
      }
    }
    merges.toList
  }

  /** Byte-pair-encoding merge induction (Sennrich, Haddow, Birch, ACL
    * 2016) — the tokenizer-training step of an LLM data pipeline:
    * learn the [[BpeMerges]] highest-frequency adjacent-symbol merges
    * over the corpus, exactly as a BPE trainer would. The 100 TB
    * shape is the one real BPE trainers use: the corpus meets ONE
    * map-side-combinable word-count aggregation, after which every
    * merge iteration runs on the WORD-COUNT relation — vocabulary
    * scale, Heaps-law-bounded, independent of corpus row count. Each
    * iteration is a pair-count hash agg plus a one-ROW argmax to the
    * driver (statistics-only traffic, the IVF-model pattern), and
    * the merge itself is a rowwise left fold over the word's symbol
    * string: when the accumulated last symbol equals the merge's
    * left and the next equals its right, append WITHOUT the
    * separator — greedy non-overlapping BPE application in one
    * `aggregate` call, no UDF. Ties pin on (count desc, left asc,
    * right asc); counts are integral — nothing can drift, and the
    * oracle replays all [[BpeMerges]] iterations as generated CTEs
    * sharing the identical fold. Kept words: [[BpeMinLen]]–
    * [[BpeMaxLen]] chars, frequency ≥ [[BpeMinCount]], no embedded
    * separator byte.
    */
  def textBpe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainBpe(bpeVocab(spark, dir))
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
      .orderBy("merge_rank")
  }

  /** The greedy fold of [[bpeFold]] as DuckDB SQL over symbol string
    * `syms`, merging the pair carried by joined row `mb`.
    */
  private def bpeFoldSql: String =
    """CASE WHEN mb.a IS NULL THEN syms
      |         ELSE list_reduce(string_split(syms, chr(31)),
      |           (acc, x) -> CASE
      |             WHEN string_split(acc, chr(31))[-1] = mb.a AND x = mb.b
      |             THEN acc || x ELSE acc || chr(31) || x END)
      |    END""".stripMargin

  /** The full training replay — word-count base `v0`, then per
    * iteration the pair-count agg `p_i`, argmax `b_i`, and rewritten
    * vocab `v_i` — shared by the trainer's and the encoder's oracles.
    */
  private def bpeTrainCtesSql: String = {
    val iters = (1 to BpeMerges).map { i =>
      s"""p$i AS (
         |  SELECT ls[j] AS a, ls[j + 1] AS b, sum(n) AS cnt FROM (
         |    SELECT n, ls, unnest(generate_series(1, len(ls) - 1)) AS j
         |    FROM (SELECT n, string_split(syms, chr(31)) AS ls FROM v${i - 1})
         |    WHERE len(ls) >= 2)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, cnt FROM p$i
         |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |v$i AS (
         |  SELECT n, $bpeFoldSql AS syms
         |  FROM v${i - 1} LEFT JOIN b$i mb ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS (
       |  SELECT count(*) AS n,
       |    array_to_string([substr(word, i, 1)
       |      for i in generate_series(1, length(word))], chr(31)) AS syms
       |  FROM (
       |    SELECT unnest(list_filter(string_split_regex(text, ' +'),
       |      x -> x != '')) AS word
       |    FROM documents)
       |  WHERE length(word) BETWEEN $BpeMinLen AND $BpeMaxLen
       |    AND NOT contains(word, chr(31))
       |  GROUP BY word HAVING count(*) >= $BpeMinCount),
       |$iters""".stripMargin
  }

  val textBpeSql: String = {
    val out = (1 to BpeMerges).map { i =>
      s"SELECT $i AS merge_rank, a, b, cnt FROM b$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainCtesSql
       |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, a AS left_sym,
       |  b AS right_sym, CAST(cnt AS BIGINT) AS pair_count
       |FROM (
       |  $out)
       |ORDER BY merge_rank""".stripMargin
  }

  /** Tokenizer APPLICATION — the other half of the BPE pair: encode
    * every document with the learned merge table and report the
    * per-document compression it buys (chars → subword tokens). The
    * merge table is a broadcast-scale model (≤ [[BpeMerges]] string
    * pairs, served from the session memo); the encode is a rowwise
    * chain of the SAME [[bpeFold]] the trainer uses — words explode,
    * [[BpeMerges]] fold projections run inside one codegen stage,
    * and ONE map-side-combinable hash agg rolls tokens up per doc.
    * Words carrying the separator byte are excluded by the same
    * contract as training. `saved_ppm` is an integer floor division
    * — no float ratio to drift.
    */
  /** Words of every document encoded by the learned merge table —
    * the ONE encode pipeline (split, separator filter, syms build,
    * the [[BpeMerges]] fold projections) shared by [[textBpeEncode]]
    * (per-doc rollup) and [[textFertility]] (per-language rollup), so
    * a change to word filtering or the fold can never desynchronize
    * the encoder from the fertility metric.
    */
  private def bpeEncodedWords(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergeTable(spark, dir)
    val words = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(expr("filter(split(text, ' +'), x -> x != '')")).as("word"))
      .filter(!col("word").contains(BpeSep))
    var enc = words.select(
      col("doc_id"), col("lang"),
      length(col("word")).cast("long").as("n_chars"),
      array_join(filter(split(col("word"), ""), c => c =!= ""), BpeSep)
        .as("syms"))
    for ((_, a, b, _) <- merges)
      enc = enc.withColumn("syms", bpeFold(col("syms"), a, b))
    enc
  }

  def textBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    bpeEncodedWords(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("syms"), BpeSep)).cast("long").as("n_tokens"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_chars")).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_tokens"),
        expr("(n_chars - n_tokens) * 1000000 div n_chars").as("saved_ppm"))
      .orderBy("doc_id")
  }

  /** w0..w[[BpeMerges]] CTE chain encoding every word, carrying the
    * grouping column `carry` — the SQL twin of [[bpeEncodedWords]],
    * shared by the encoder's and the fertility oracle.
    */
  private def bpeEncodeCtesSql(carry: String): String = {
    val steps = (1 to BpeMerges).map { i =>
      s"""w$i AS (
         |  SELECT $carry, n_chars, $bpeFoldSql AS syms
         |  FROM w${i - 1} LEFT JOIN b$i mb ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT $carry, length(word) AS n_chars,
       |    array_to_string([substr(word, i, 1)
       |      for i in generate_series(1, length(word))], chr(31)) AS syms
       |  FROM (
       |    SELECT $carry, unnest(list_filter(string_split_regex(text, ' +'),
       |      x -> x != '')) AS word
       |    FROM documents)
       |  WHERE NOT contains(word, chr(31))),
       |$steps""".stripMargin
  }

  val textBpeEncodeSql: String = {
    s"""WITH $bpeTrainCtesSql,
       |${bpeEncodeCtesSql("doc_id")}
       |SELECT doc_id, n_words, n_chars, n_tokens,
       |  (n_chars - n_tokens) * 1000000 // n_chars AS saved_ppm
       |FROM (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(sum(len(string_split(syms, chr(31)))) AS BIGINT) AS n_tokens
       |  FROM w$BpeMerges GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Tokenizer fertility per language — tokens-per-word and
    * chars-per-token under the learned BPE vocabulary, the metric a
    * tokenizer team reads to see which languages the vocabulary
    * under-serves (high fertility = more tokens per word = costlier
    * training and inference for that language; Rust et al., ACL 2021
    * popularized the term). Reuses the memoized merge table and the
    * SAME greedy fold as the encoder, then rolls up by language
    * instead of document: one explode + [[BpeMerges]] codegen fold
    * projections + ONE map-side-combinable hash agg at language
    * cardinality — the 100 TB cost is the encode pass itself, the
    * rollup is free. Integer ppm ratios — no float drift.
    */
  def textFertility(spark: SparkSession, dir: String): DataFrame = {
    bpeEncodedWords(spark, dir)
      .select(col("lang"), col("n_chars"),
        size(split(col("syms"), BpeSep)).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum(col("n_chars")).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        expr("n_tokens * 1000000 div n_words").as("fertility_ppm"),
        expr("n_chars * 1000000 div n_tokens").as("chars_per_token_ppm"))
      .orderBy("lang")
  }

  val textFertilitySql: String = {
    s"""WITH $bpeTrainCtesSql,
       |${bpeEncodeCtesSql("lang")}
       |SELECT lang, n_words, n_chars, n_tokens,
       |  n_tokens * 1000000 // n_words AS fertility_ppm,
       |  n_chars * 1000000 // n_tokens AS chars_per_token_ppm
       |FROM (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(sum(len(string_split(syms, chr(31)))) AS BIGINT) AS n_tokens
       |  FROM w$BpeMerges GROUP BY lang)
       |ORDER BY lang""".stripMargin
  }

  private val CascMinChars = 200L
  private val CascMaxBigram = 0.08
  private val CascMinScore = 0.5

  /** Reason-coded FILTER CASCADE — how production corpus cleaning
    * actually ships: rules fire in a fixed order (length → repetition
    * → learned quality) and every dropped document records the FIRST
    * rule that killed it, so the drop report is actionable ("12% of
    * src7 died to repetition") instead of a bare keep bit. Each
    * signal is the REGISTERED operator's own relation
    * ([[textRepetition]], [[qualityLogreg]]) — the cascade cannot
    * drift from the operators it composes, and the oracle rides
    * their oracles as subqueries. Thresholds compare 6-dp-rounded
    * doubles that both engines already hash-match, so the branch
    * decisions are bit-identical. Two doc-keyed equi-joins + a
    * rowwise CASE: at 100 TB the cost is the component passes.
    */
  def qualityCascade(spark: SparkSession, dir: String): DataFrame = {
    val rep = textRepetition(spark, dir)
      .select(col("doc_id"), col("top_bigram_frac"))
    val lr = qualityLogreg(spark, dir).select(col("doc_id"), col("score"))
    val reason = when(col("n_chars") < CascMinChars, "too_short")
      .when(col("top_bigram_frac") > CascMaxBigram, "repetition")
      .when(col("score") < CascMinScore, "low_quality")
      .otherwise("pass")
    docs(spark, dir).select(col("doc_id"), col("n_chars"))
      .join(rep, "doc_id")
      .join(lr, "doc_id")
      .select(col("doc_id"), col("n_chars"), col("score"),
        col("top_bigram_frac"), reason.as("reason"),
        (reason === "pass").as("keep"))
      .orderBy("doc_id")
  }

  val qualityCascadeSql: String =
    s"""WITH rep AS (
       |  SELECT doc_id, top_bigram_frac FROM ($textRepetitionSql)),
       |lr AS (
       |  SELECT doc_id, score FROM ($qualityLogregSql))
       |SELECT d.doc_id, d.n_chars, lr.score, rep.top_bigram_frac,
       |  CASE WHEN d.n_chars < $CascMinChars THEN 'too_short'
       |       WHEN rep.top_bigram_frac > $CascMaxBigram THEN 'repetition'
       |       WHEN lr.score < $CascMinScore THEN 'low_quality'
       |       ELSE 'pass' END AS reason,
       |  (CASE WHEN d.n_chars < $CascMinChars THEN 'too_short'
       |        WHEN rep.top_bigram_frac > $CascMaxBigram THEN 'repetition'
       |        WHEN lr.score < $CascMinScore THEN 'low_quality'
       |        ELSE 'pass' END) = 'pass' AS keep
       |FROM documents d
       |JOIN rep USING (doc_id)
       |JOIN lr USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  private val ChunkTokBudget = 64L

  /** Token-budget chunking — the reference's RAG-chunking contract
    * re-expressed in TOKENS: how many ≤[[ChunkTokBudget]]-token
    * chunks does each document pack into under the learned BPE
    * vocabulary (greedy first-fit in word order, the layout a
    * token-limited embedding model actually ingests), and how full
    * are they. Character chunking (`doc_chunks`) sizes storage;
    * token chunking sizes the embedding/LLM calls.
    *
    * Per-word token counts apply the SAME greedy merge fold as the
    * encoder inside one rowwise `transform` (bounded: the fold is
    * capped at [[BpeMerges]] merges — encode-time words themselves
    * are unbounded, and only a pathological multi-megabyte "word"
    * could stress the fold or the <2²¹-token packing lanes below).
    * The greedy packing is a single integer fold:
    * the accumulator packs (n_chunks, max_fill, cur_fill) into one
    * BIGINT (`nc·2⁴² + mx·2²¹ + cur`) so BOTH engines run a plain
    * BIGINT `list_reduce`/`aggregate` — no struct accumulators to
    * diverge, bit-exact replay. Packing bounds: per-chunk fill ≤
    * budget + one word < 2²¹, n_chunks ≤ n_words < 2²¹ (a 2M-word
    * single document would overflow the lane — document-scale, not
    * corpus-scale, and far past any real chunking input). A word
    * alone exceeding the budget occupies its own oversized chunk
    * (`max_chunk_tokens` shows it) rather than being split — the
    * greedy word-atomic contract. Zero shuffle before the
    * presentation sort.
    */
  def chunkTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergeTable(spark, dir)
    def wordTokens(w: Column): Column = {
      var syms = array_join(filter(split(w, ""), c => c =!= ""), BpeSep)
      for ((_, a, b, _) <- merges) syms = bpeFold(syms, a, b)
      size(split(syms, BpeSep)).cast("long")
    }
    val s42 = 1L << 42
    val s21 = 1L << 21
    val packFold =
      s"""aggregate(toks, CAST(0 AS BIGINT), (acc, t) -> CASE
         |  WHEN acc div $s42 = 0 THEN $s42 + t * $s21 + t
         |  WHEN acc % $s21 + t <= $ChunkTokBudget THEN
         |    (acc div $s42) * $s42
         |    + greatest((acc div $s21) % $s21, acc % $s21 + t) * $s21
         |    + (acc % $s21 + t)
         |  ELSE (acc div $s42 + 1) * $s42
         |    + greatest((acc div $s21) % $s21, t) * $s21 + t
         |END)""".stripMargin
    docs(spark, dir)
      .select(col("doc_id"),
        filter(split(col("text"), " +"),
          x => x =!= "" && !x.contains(BpeSep)).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        transform(col("ws"), wordTokens(_)).as("toks"))
      .select(col("doc_id"), col("n_words"),
        expr("aggregate(toks, CAST(0 AS BIGINT), (a, t) -> a + t)")
          .as("n_tokens"),
        expr(packFold).as("packed"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        expr(s"packed div $s42").as("n_chunks"),
        expr(s"(packed div $s21) % $s21").as("max_chunk_tokens"),
        expr(s"n_tokens * 1000000 div (packed div $s42 * $ChunkTokBudget)")
          .as("fill_ppm"))
      .orderBy("doc_id")
  }

  val chunkTokenBudgetSql: String = {
    val s42 = 1L << 42
    val s21 = 1L << 21
    // the encoder fold nested once per merge, each against its own
    // single-row b_i CTE alias
    val tokOfW = (1 to BpeMerges).foldLeft(
      "array_to_string([substr(w, i, 1) " +
        "for i in generate_series(1, length(w))], chr(31))") { (acc, i) =>
      s"""CASE WHEN mb$i.a IS NULL THEN ($acc)
         |  ELSE list_reduce(string_split(($acc), chr(31)),
         |    (acc, x) -> CASE
         |      WHEN string_split(acc, chr(31))[-1] = mb$i.a AND x = mb$i.b
         |      THEN acc || x ELSE acc || chr(31) || x END) END""".stripMargin
    }
    // LEFT JOIN ON TRUE (not CROSS JOIN), matching bpeTrainCtesSql /
    // bpeEncodeCtesSql: if the trainer exhausts before BpeMerges and a
    // b_i CTE is empty, a CROSS JOIN would zero the whole relation and
    // make the `mb_i.a IS NULL` guard unreachable; LEFT JOIN keeps the
    // row and lets the guard skip the missing merge, mirroring the
    // Spark side's fewer-folds behavior
    val crossB = (1 to BpeMerges).map(i => s"LEFT JOIN b$i mb$i ON TRUE").mkString(" ")
    s"""WITH $bpeTrainCtesSql,
       |base AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
       |    x -> x != '' AND NOT contains(x, chr(31))) AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, len(ws) AS n_words,
       |    [CAST(len(string_split(($tokOfW), chr(31))) AS BIGINT)
       |     for w in ws] AS toks
       |  FROM base $crossB
       |  WHERE len(ws) >= 1),
       |packed AS (
       |  SELECT doc_id, n_words,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), toks),
       |      (acc, t) -> CASE
       |        WHEN acc // $s42 = 0 THEN $s42 + t * $s21 + t
       |        WHEN acc % $s21 + t <= $ChunkTokBudget THEN
       |          (acc // $s42) * $s42
       |          + greatest((acc // $s21) % $s21, acc % $s21 + t) * $s21
       |          + (acc % $s21 + t)
       |        ELSE (acc // $s42 + 1) * $s42
       |          + greatest((acc // $s21) % $s21, t) * $s21 + t
       |      END) AS p,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), toks),
       |      (a, t) -> a + t) AS n_tokens
       |  FROM tok)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, n_tokens,
       |  p // $s42 AS n_chunks,
       |  (p // $s21) % $s21 AS max_chunk_tokens,
       |  n_tokens * 1000000 // (p // $s42 * $ChunkTokBudget) AS fill_ppm
       |FROM packed ORDER BY doc_id""".stripMargin
  }

  val textWinnowSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, substr(text, 1, $WinCap) AS p FROM documents),
       |k AS (
       |  SELECT doc_id,
       |    [${polyHashSql(s"substr(p, CAST(gp AS INT), $WinK)")}
       |       * 1024 + (1023 - gp)
       |     for gp in generate_series(1, length(p) - ${WinK - 1})] AS keys
       |  FROM p WHERE length(p) >= $WinK),
       |s AS (
       |  SELECT doc_id,
       |    list_distinct([list_min(keys[s:s + ${WinW - 1}])
       |      for s in generate_series(1, len(keys) - ${WinW - 1})]) AS sel
       |  FROM k WHERE len(keys) >= $WinW)
       |SELECT doc_id, 1023 - (key % 1024) AS pos, key // 1024 AS gram_hash
       |FROM (SELECT doc_id, unnest(sel) AS key FROM s)
       |ORDER BY doc_id, pos""".stripMargin

  // ----------------------------------------------------------------
  // Zipf-adherence audit of the vocabulary (round 12)
  // ----------------------------------------------------------------

  private val ZipfK = 20

  /** Zipf's-law adherence audit over the corpus vocabulary: for the
    * top-[[ZipfK]] terms by frequency, the pure Zipf (s = 1)
    * prediction `freq₁ / rank` next to the observed frequency and the
    * integer-ppm deviation — the rank-frequency diagnostic behind
    * tokenizer-vocabulary sizing and synthetic-corpus detection (a
    * natural corpus tracks the 1/rank curve; a templated one
    * plateaus). All integer arithmetic (no ln, no regression floats),
    * so the gate is bit-exact: deviation_ppm = |n − pred|·10⁶ / freq₁
    * by BIGINT floor division.
    *
    * Scale shape (100 TB): one vocabulary-scale hash aggregate
    * (map-side combined) then `orderBy().limit(K)` —
    * TakeOrderedAndProject keeps the vocabulary off the wire; the
    * rank window and the freq₁ max run over the K-row relation only.
    */
  def textZipf(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("term").asc)
    docs(spark, dir)
      .select(explode(
        expr("filter(split(text, ' +'), x -> x != '')")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc).limit(ZipfK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("freq1", max(col("n")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("pred_n", expr("freq1 div rank"))
      .withColumn("dev_ppm",
        expr("abs(n - pred_n) * 1000000 div freq1"))
      .select(col("rank"), col("term"), col("n"), col("pred_n"),
        col("dev_ppm"))
      .orderBy("rank")
  }

  /** Oracle: identical ordering, integer prediction, and ppm
    * deviation — integers end to end, so it hash-matches.
    */
  val textZipfSql: String =
    s"""WITH t AS (
       |  SELECT unnest(list_filter(string_split_regex(text, ' +'),
       |                            x -> x != '')) AS term
       |  FROM documents),
       |c AS (SELECT term, count(*) AS n FROM t GROUP BY term),
       |r AS (
       |  SELECT term, n,
       |    row_number() OVER (ORDER BY n DESC, term ASC) AS rank
       |  FROM c),
       |k AS (SELECT * FROM r WHERE rank <= $ZipfK),
       |f AS (SELECT max(n) AS freq1 FROM k)
       |SELECT CAST(rank AS BIGINT) AS rank, term, n,
       |  freq1 // rank AS pred_n,
       |  abs(n - freq1 // rank) * 1000000 // freq1 AS dev_ppm
       |FROM k CROSS JOIN f
       |ORDER BY rank""".stripMargin

  // ----------------------------------------------------------------
  // Content-defined chunking + cross-doc chunk dedup (round 12)
  // ----------------------------------------------------------------

  private val CdcW = 8      // rolling-window width (chars)
  private val CdcMask = 64L // boundary when windowHash % 64 == 0 → ~64-char chunks

  /** Content-defined chunking (the Rabin/Gear CDC family behind
    * dedup-friendly storage and LLM-corpus chunk dedup): a boundary
    * falls wherever the [[CdcW]]-char rolling polynomial window hash
    * ≡ 0 (mod [[CdcMask]]) — so boundaries move WITH content, and an
    * insertion early in a document shifts at most one chunk instead
    * of re-aligning every fixed-size block downstream (the property
    * fixed-stride chunking fundamentally lacks). Per document the
    * emitted chunks are rehashed ([[polyHashCol]]'s fold) and the
    * query reports, per doc, the chunk census plus how many of its
    * chunks also occur verbatim in ANOTHER document — chunk-level
    * near-dup mass, the statistic a CDC dedup pass acts on.
    *
    * Kernel form for the per-doc scan (same measured reason as
    * [[winnowSelect]]: nested array HOFs evaluate interpreted); the
    * window hash ROLLS in O(1) per position via modular subtraction
    * of the outgoing char (31^(W−1) precomputed), so the scan is
    * O(len) per document, rowwise, no cap needed. The cross-doc
    * stage is `groupBy(chunk_key)` (partial-aggregable count) + one
    * equi-join back — the same skew-proof shape as [[dedupExact]].
    * No minimum/maximum chunk-size clamps: the plain mod rule keeps
    * every boundary decision position-local and therefore exactly
    * replayable in SQL (the clamps would make boundaries a
    * sequential recurrence; documented simplification).
    */
  def textCdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunks = docs(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          cdcChunks(text).iterator.map { case (no, len, h) => (id, no, len, h) }
        }
      }.toDF("doc_id", "chunk_no", "chunk_len", "chunk_key")
    val shared = chunks
      .groupBy("chunk_key", "chunk_len")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunks.join(shared, Seq("chunk_key", "chunk_len"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        max(col("chunk_len")).as("max_chunk_len"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
      .orderBy("doc_id")
  }

  /** One pass over the code points: (chunk_no 1-based, length in code
    * points, portable polynomial hash) per content-defined chunk.
    * Empty text yields one empty chunk (hash 0) — matching the SQL
    * twin's degenerate cut list [0, 0].
    */
  private[ext] def cdcChunks(text: String): Array[(Long, Long, Long)] = {
    if (text == null) return Array.empty
    val cps = text.codePoints().toArray
    val n = cps.length
    // 31^(W-1) mod P, for rolling the outgoing character out
    var powW1 = 1L
    var w = 0
    while (w < CdcW - 1) { powW1 = powW1 * 31L % P; w += 1 }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var chunkNo = 1L
    var start = 0 // chunk start (0-based, inclusive)
    var chunkHash = 0L // polyHash fold of cps[start..i]
    var winHash = 0L // polyHash fold of the trailing CdcW window
    var i = 0
    while (i < n) {
      val c = cps(i).toLong
      chunkHash = (chunkHash * 31L + c) % P
      winHash =
        if (i < CdcW) (winHash * 31L + c) % P
        else (((winHash - cps(i - CdcW) * powW1) % P + P) % P * 31L + c) % P
      // boundary at 1-based position i+1 when the full window matches
      // and at least one character remains for the next chunk
      if (i + 1 >= CdcW && i + 1 < n && winHash % CdcMask == 0L) {
        out += ((chunkNo, (i + 1 - start).toLong, chunkHash))
        chunkNo += 1
        start = i + 1
        chunkHash = 0L
      }
      i += 1
    }
    out += ((chunkNo, (n - start).toLong, chunkHash))
    out.toArray
  }

  /** Oracle: per-position window hashes recomputed O(W) each (the
    * rolling subtraction and the direct fold agree exactly — both are
    * the same mod-P polynomial), then identical cuts, chunk hashes,
    * and rollup. Pure integer arithmetic, so it hash-matches.
    */
  val textCdcSql: String =
    s"""WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |b AS (
       |  SELECT doc_id, text, n,
       |    CASE WHEN n >= $CdcW THEN
       |      [CAST(p AS BIGINT) for p in generate_series($CdcW, n)
       |       if p < n AND
       |         ${polyHashSql(s"substr(text, CAST(p - ${CdcW - 1} AS INT), $CdcW)")}
       |           % $CdcMask = 0]
       |    ELSE [] END AS bs
       |  FROM c),
       |cuts AS (
       |  SELECT doc_id, text,
       |    list_concat(list_concat([CAST(0 AS BIGINT)], bs),
       |      [CAST(n AS BIGINT)]) AS cs
       |  FROM b),
       |ch0 AS (
       |  SELECT doc_id, text, cs,
       |    unnest(generate_series(1, len(cs) - 1)) AS j
       |  FROM cuts),
       |ch AS (
       |  SELECT doc_id,
       |    substr(text, CAST(cs[CAST(j AS INT)] + 1 AS INT),
       |      CAST(cs[CAST(j AS INT) + 1] - cs[CAST(j AS INT)] AS INT)) AS chunk
       |  FROM ch0),
       |k AS (
       |  SELECT doc_id, CAST(length(chunk) AS BIGINT) AS chunk_len,
       |    ${polyHashSql("chunk")} AS chunk_key
       |  FROM ch),
       |g AS (
       |  SELECT chunk_key, chunk_len, count(DISTINCT doc_id) AS n_docs
       |  FROM k GROUP BY 1, 2)
       |SELECT k.doc_id, count(*) AS n_chunks,
       |  CAST(max(k.chunk_len) AS BIGINT) AS max_chunk_len,
       |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_shared_chunks
       |FROM k JOIN g USING (chunk_key, chunk_len)
       |GROUP BY k.doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------
  // Burstiness: variance-to-mean of term occurrence
  // ----------------------------------------------------------------

  /** Terms audited for burstiness (top by corpus frequency). */
  private val BurstTopK = 20

  /** Term burstiness audit (Church & Gale, 1995, public
    * corpus-linguistics diagnostic): content words CLUMP — a term's
    * per-document count has variance far above its mean (Poisson
    * would give ratio 1), while function words spread evenly. For
    * the top-[[BurstTopK]] corpus terms, the variance-to-mean ratio
    * over per-doc counts (zero-count docs included) in EXACT integer
    * milli-units: with per-doc counts xᵢ over n docs,
    * `vmr = (n·Σx² − (Σx)²) · 1000 div ((n−1) · n · x̄)` rearranged
    * sqrt-free as `(n·Σx² − (Σx)²) · 1000 div ((n−1)·Σx)`. Ranked by
    * corpus frequency, ties on the term.
    *
    * 100 TB shape: one tokenize scan → (term, doc) count agg →
    * per-term moment agg (zero-docs folded in CLOSED FORM: Σx and
    * Σx² only need the nonzero rows; n comes from a one-row corpus
    * count) — no doc × vocabulary product anywhere.
    */
  def textBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val tokens = docs(spark, dir)
      .select(col("doc_id"), explode(wordsCol).as("w"))
      .filter(col("w") =!= "")
    val perDoc = tokens.groupBy(col("w"), col("doc_id"))
      .agg(count(lit(1)).as("x"))
    val nDocs = docs(spark, dir).agg(count(lit(1)).as("n"))
    val moments = perDoc.groupBy(col("w"))
      .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
    moments.crossJoin(broadcast(nDocs))
      .withColumn("vmr_milli",
        expr("(n * sxx - sx * sx) * 1000 div ((n - 1) * sx)"))
      .orderBy(col("sx").desc, col("w").asc)
      .limit(BurstTopK)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("sx").desc, col("w").asc)).cast("long"))
      .select(col("rn"), col("w").as("term"), col("sx").as("freq"),
        col("vmr_milli"))
      .orderBy("rn")
  }

  val textBurstinessSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w
       |  FROM documents),
       |pd AS (
       |  SELECT w, doc_id, count(*) AS x FROM tok WHERE w != ''
       |  GROUP BY 1, 2),
       |nd AS (SELECT count(*) AS n FROM documents),
       |mo AS (
       |  SELECT w, sum(x) AS sx, sum(x * x) AS sxx FROM pd GROUP BY 1),
       |r AS (
       |  SELECT w, sx,
       |    (n * sxx - sx * sx) * 1000 // ((n - 1) * sx) AS vmr_milli,
       |    row_number() OVER (ORDER BY sx DESC, w ASC) AS rn
       |  FROM mo, nd)
       |SELECT CAST(rn AS BIGINT) AS rn, w AS term,
       |  CAST(sx AS BIGINT) AS freq, CAST(vmr_milli AS BIGINT) AS vmr_milli
       |FROM r WHERE rn <= $BurstTopK ORDER BY rn""".stripMargin

  // ----------------------------------------------------------------
  // Bloom filter: the membership sketch
  // ----------------------------------------------------------------

  /** Bloom hash count. */
  private val BloomK = 3
  /** Bits per inserted key: m = [[BloomBitsPerKey]]·n keeps fill
    * (~1−e^(−k/16) ≈ 17%) and the false-positive rate (~0.5%)
    * SCALE-INVARIANT — a fixed m would saturate at the factor-100
    * audit and the sketch would degenerate to always-positive.
    */
  private val BloomBitsPerKey = 16L

  /** Bloom-filter membership sketch audit (Bloom, CACM 1970) —
    * completing the sketch family beside KMV (distinct), CMS
    * (frequency) and HLL: build an m = 16n bit set from every
    * document fingerprint under [[BloomK]] portable double-hash
    * positions `(fp·(2j+3) + j²) mod P mod m`, then audit the two
    * defining properties: every MEMBER probes positive (no false
    * negatives — the oracle pins member_pos_ppm = 1e6 exactly), and
    * an independent probe population measures the false-positive
    * rate against the ~17% fill. All integers; the bit set is a
    * DISTINCT over positions (bounded by m), never a driver-side
    * bitmap.
    *
    * 100 TB shape: one fingerprint scan → k-position explode →
    * distinct (the "build"); both audits are semi-join counts of
    * k-position probes against the bit relation — equi-joins on the
    * position key.
    */
  def sketchBloom(spark: SparkSession, dir: String): DataFrame = {
    // Checkpoint the two shared relations (round 17, guide §1.2/§5):
    // the fingerprint set feeds SIX consumers (n, bits, both audits'
    // key sets, the final census) and the bit relation THREE (two
    // audit joins + the fill count) — without truncation each consumer
    // re-ran the whole corpus scan + polyHash, and each bits consumer
    // re-ran the k-position explode + distinct SHUFFLE (measured: the
    // plan held 3 identical distinct subtrees). Both relations are
    // small by construction: |fp| = n docs, |bits| ≤ m = n·bits/key.
    val fp = docs(spark, dir)
      .select(polyHashCol(col("text").substr(lit(1), lit(256))).as("fp"))
      .localCheckpoint(true)
    val n = fp.agg(count(lit(1)).as("n"))
    val withM = fp.crossJoin(broadcast(n))
      .withColumn("m", col("n") * BloomBitsPerKey)
    def positions(key: Column): Column =
      array((0 until BloomK).map(j =>
        pmod(pmod(key * (2 * j + 3) + j * j, lit(P)), col("m"))): _*)
    val bits = withM.select(explode(positions(col("fp"))).as("pos"))
      .distinct()
      .localCheckpoint(true)
    // a key is positive iff ALL k of its position rows find a set bit
    // (LEFT join — a key with zero hits must still count in the
    // denominator)
    def allSet(keys: DataFrame): DataFrame =
      keys.select(col("k"), col("m"),
          explode(positions(col("k"))).as("pos"))
        .join(bits.withColumn("hit", lit(1L)), Seq("pos"), "left")
        .groupBy(col("k"))
        .agg((sum(when(col("hit").isNotNull, 1L).otherwise(0L)) ===
          BloomK).as("pos_all"))
    // DISTINCT keys: duplicate fingerprints (exact-dup docs) would
    // otherwise explode 2k position rows per key and fail the ==k test
    val members = allSet(withM.select(col("fp").as("k"), col("m"))
        .distinct())
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("pos_all"), 1L).otherwise(0L)).as("n_pos"))
      .select(expr("n_pos * 1000000 div n_keys").as("member_pos_ppm"))
    val probes = allSet(withM
        .select(pmod(col("fp") * 7919L + 104729L, lit(P)).as("k"), col("m"))
        .distinct())
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("pos_all"), 1L).otherwise(0L)).as("n_pos"))
      .select(expr("n_pos * 1000000 div n_keys").as("probe_pos_ppm"))
    val fill = bits.agg(count(lit(1)).as("bits_set"))
    n.crossJoin(broadcast(fill))
      .withColumn("m_bits", col("n") * BloomBitsPerKey)
      .crossJoin(broadcast(members))
      .crossJoin(broadcast(probes))
      .select(col("n").as("n_docs"), col("m_bits"), col("bits_set"),
        expr("bits_set * 1000000 div m_bits").as("fill_ppm"),
        col("member_pos_ppm"), col("probe_pos_ppm"))
  }

  val sketchBloomSql: String = {
    val posList = (0 until BloomK)
      .map(j => s"(((fp * ${2 * j + 3} + ${j * j}) % $P) % m)")
      .mkString("[", ", ", "]")
    val posListK = (0 until BloomK)
      .map(j => s"(((k * ${2 * j + 3} + ${j * j}) % $P) % m)")
      .mkString("[", ", ", "]")
    s"""WITH fp AS MATERIALIZED (
       |  SELECT ${polyHashSql("substr(text, 1, 256)")} AS fp
       |  FROM documents),
       |nn AS (SELECT count(*) AS n, count(*) * $BloomBitsPerKey AS m
       |       FROM fp),
       |bits AS MATERIALIZED (
       |  SELECT DISTINCT unnest($posList) AS pos FROM fp, nn),
       |memb AS (
       |  SELECT count(*) AS n_keys,
       |    sum(CASE WHEN ok THEN 1 ELSE 0 END) AS n_pos FROM (
       |    SELECT k, count(b.pos) = $BloomK AS ok FROM (
       |      SELECT k, unnest($posListK) AS pos
       |      FROM (SELECT DISTINCT fp AS k FROM fp), nn) p
       |    LEFT JOIN bits b ON b.pos = p.pos GROUP BY k)),
       |prob AS (
       |  SELECT count(*) AS n_keys,
       |    sum(CASE WHEN ok THEN 1 ELSE 0 END) AS n_pos FROM (
       |    SELECT k, count(b.pos) = $BloomK AS ok FROM (
       |      SELECT k, unnest($posListK) AS pos
       |      FROM (SELECT DISTINCT (fp * 7919 + 104729) % $P AS k FROM fp), nn) p
       |    LEFT JOIN bits b ON b.pos = p.pos GROUP BY k))
       |SELECT CAST(nn.n AS BIGINT) AS n_docs,
       |  CAST(nn.m AS BIGINT) AS m_bits,
       |  CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set,
       |  CAST((SELECT count(*) FROM bits) * 1000000 // nn.m AS BIGINT)
       |    AS fill_ppm,
       |  CAST(memb.n_pos * 1000000 // memb.n_keys AS BIGINT)
       |    AS member_pos_ppm,
       |  CAST(prob.n_pos * 1000000 // prob.n_keys AS BIGINT)
       |    AS probe_pos_ppm
       |FROM nn, memb, prob""".stripMargin
  }

  // ----------------------------------------------------------------
  // Readability: syllable-heuristic reading-ease profile
  // ----------------------------------------------------------------

  /** Corpus readability profile per (lang, source) — the classic
    * reading-ease quality feature (Flesch 1948; Kincaid et al. 1975,
    * public formulas) over a deterministic syllable heuristic:
    * syllables(word) = number of maximal vowel-group runs
    * `[aeiouy]+`, the standard dictionary-free approximation.
    * Reported per slice: document/word/syllable counts, the
    * polysyllabic share (words with ≥3 vowel groups, the SMOG-index
    * numerator) in integer ppm, and a Flesch-style ease index in
    * integer milli-units — `206835 − 84600·syl/words −
    * 1015·words/docs` with each division an integer floor (the
    * corpus has no sentence punctuation, so the document is the
    * sentence unit; documented deviation, same spirit as the
    * console-grid cosmetic one).
    *
    * All-integer output: counts are exact sums, ratios are ppm/milli
    * floor divisions — nothing floats, so the oracle replays
    * bit-for-bit at any scale. 100 TB shape: one corpus scan through
    * codegen'd regexp/HOF columns (no explode — the per-word
    * polysyllable test runs inside `filter(words, …)`), then one
    * map-side-combinable hash agg at slice cardinality.
    */
  def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val syl = size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0)))
      .cast("long")
    val poly = size(filter(wordsCol, w =>
      size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))) >= 3))
      .cast("long")
    docs(spark, dir)
      .select(col("lang"), col("source"),
        size(wordsCol).cast("long").as("w"), syl.as("s"), poly.as("p"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("s")).as("n_syllables"),
        sum(col("p")).as("n_poly"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_words"),
        col("n_syllables"),
        expr("n_poly * 1000000 div n_words").as("poly_ppm"),
        expr("206835 - (84600 * n_syllables) div n_words" +
          " - (1015 * n_words) div n_docs").as("fre_milli"))
      .orderBy("lang", "source")
  }

  /** Gopher word-count band (Rae et al. 2021 use [50, 100k]; the gate
    * corpus medians 56 words, so the floor adapts to 25 to exercise
    * both outcomes — documented adaptation).
    */
  private val GopherMinWords = 25L
  private val GopherMaxWords = 100000L

  /** The published Gopher quality-filter rule set (Rae et al.,
    * arXiv:2112.11446 §A1.1, public) — the word-level subset that is
    * meaningful on this corpus, each rule an ALL-INTEGER projection:
    * word count in [[GopherMinWords]]..[[GopherMaxWords]]; mean word
    * length (milli-chars, space-free char count ÷ words) in
    * [3000, 10000]; ≥ 2 stop words (the "has required words" rule);
    * ≥ 80% of words containing an alphabetic character (ppm). The
    * symbol-ratio and bullet-line rules are vacuous here (the corpus
    * has no punctuation or line structure) and are documented out,
    * like the console-grid deviation. Sits beside [[textQuality]]
    * (heuristic ratios) as the NAMED-paper filter with crisp
    * per-rule integer columns; [[qualityCascade]]-style composition
    * applies downstream.
    *
    * 100 TB shape: one scan, all rules codegen'd regexp/HOF columns
    * (no explode, no UDF, no join); the flag is a boolean projection.
    */
  def qualityGopher(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(wordsCol).cast("long")
    val letters = length(regexp_replace(col("text"), lit(" "), lit("")))
      .cast("long")
    val nStop = size(filter(wordsCol, w => w.isin(stopwords: _*)))
      .cast("long")
    val nAlpha = size(filter(wordsCol, w => w.rlike("[a-zA-Z]")))
      .cast("long")
    docs(spark, dir)
      .select(col("doc_id"), nWords.as("n_words"), letters.as("n_letters"),
        nStop.as("n_stop"), nAlpha.as("n_alpha"))
      .select(col("doc_id"), col("n_words"),
        expr("n_letters * 1000 div n_words").as("mwl_milli"),
        col("n_stop"),
        expr("n_alpha * 1000000 div n_words").as("alpha_ppm"))
      .withColumn("gopher_pass",
        col("n_words").between(GopherMinWords, GopherMaxWords) &&
          col("mwl_milli").between(3000L, 10000L) &&
          (col("n_stop") >= 2L) && (col("alpha_ppm") >= 800000L))
      .orderBy("doc_id")
  }

  val qualityGopherSql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    len(string_split_regex(text, ' +')) AS n_words,
       |    length(replace(text, ' ', '')) AS n_letters,
       |    len(list_filter(string_split_regex(text, ' +'),
       |        w -> w IN ${sqlList(stopwords)})) AS n_stop,
       |    len(list_filter(string_split_regex(text, ' +'),
       |        w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha
       |  FROM documents)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_letters * 1000 // n_words AS BIGINT) AS mwl_milli,
       |  CAST(n_stop AS BIGINT) AS n_stop,
       |  CAST(n_alpha * 1000000 // n_words AS BIGINT) AS alpha_ppm,
       |  n_words BETWEEN $GopherMinWords AND $GopherMaxWords
       |    AND n_letters * 1000 // n_words BETWEEN 3000 AND 10000
       |    AND n_stop >= 2 AND n_alpha * 1000000 // n_words >= 800000
       |    AS gopher_pass
       |FROM base ORDER BY doc_id""".stripMargin

  val textReadabilitySql: String =
    """WITH base AS (
      |  SELECT lang, source,
      |    len(string_split_regex(text, ' +')) AS w,
      |    len(regexp_extract_all(text, '[aeiouy]+')) AS s,
      |    len(list_filter(string_split_regex(text, ' +'),
      |        x -> len(regexp_extract_all(x, '[aeiouy]+')) >= 3)) AS p
      |  FROM documents)
      |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS n_words,
      |  CAST(sum(s) AS BIGINT) AS n_syllables,
      |  CAST(sum(p) * 1000000 // sum(w) AS BIGINT) AS poly_ppm,
      |  CAST(206835 - (84600 * sum(s)) // sum(w)
      |    - (1015 * sum(w)) // count(*) AS BIGINT) AS fre_milli
      |FROM base GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------------------
  // Type-token ratio: per-document lexical diversity
  // ----------------------------------------------------------------

  /** Per-document type-token ratio (Templin 1957's classic lexical-
    * diversity measure) in exact ppm: distinct word forms over total
    * tokens, plus the hapax count (forms occurring exactly once —
    * the Zipf-tail share that drives vocabulary-growth curves).
    * Complements the CORPUS-level `text_vocab`/`text_zipf` views
    * with the per-document score a quality-filtering pipeline
    * thresholds on (word-salad spam has TTR ≈ 1; template boilerplate
    * has TTR ≈ 0).
    *
    * Scale shape: pure per-row map — tokenize, `array_distinct`,
    * and a bounded `aggregate` fold per document, all inside
    * whole-stage codegen; NO explode, NO shuffle (the doc-length
    * bound makes per-row set ops cheaper than an exploded
    * two-level agg, which would shuffle corpus × tokens rows).
    * Tokenization is the repo convention: split on runs of spaces,
    * drop empties — identical in DuckDB.
    */
  def textTtr(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' +'), x -> x != '')").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_types"),
        expr("""CAST(size(filter(array_distinct(ws),
             w -> size(filter(ws, x -> x = w)) = 1)) AS BIGINT)""")
          .as("n_hapax"))
      .withColumn("ttr_ppm",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(expr("n_types * 1000000L div n_tokens")))
      .orderBy("doc_id")

  val textTtrSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, ' +'), x -> x != '') AS ws
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    len(ws) AS n_tokens,
      |    len(list_distinct(ws)) AS n_types,
      |    len(list_filter(list_distinct(ws),
      |        w -> len(list_filter(ws, x -> x = w)) = 1)) AS n_hapax
      |  FROM base)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_types AS BIGINT) AS n_types,
      |  CAST(n_hapax AS BIGINT) AS n_hapax,
      |  CAST(CASE WHEN n_tokens = 0 THEN 0
      |    ELSE n_types * 1000000 // n_tokens END AS BIGINT) AS ttr_ppm
      |FROM t ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------
  // Bigram predictability: corpus-LM conditional-probability score
  // ----------------------------------------------------------------

  /** Per-document mean bigram conditional probability under the
    * corpus's own bigram model (the integer-exact core of an n-gram
    * LM score, cf. the `text_lm_score` unigram view): for each
    * in-document bigram (w₁,w₂), p = count(w₁w₂)·10⁶ ÷ count(w₁·),
    * floor-divided per bigram and averaged per document. High values
    * mean the document's word transitions are corpus-typical
    * (templated/duplicated prose); low values mean novel transitions
    * — the signal data-selection pipelines use beside perplexity,
    * here with NO float log so the gate replays bit-exact.
    *
    * Scale shape: bigrams form map-side from a per-row
    * `zip_with(ws, slice(ws, 2, n))` — no self-join, no window, the
    * order rides inside the token array. Two corpus hash aggs build
    * the model (bigram counts, prefix counts — vocabulary-scale
    * state, map-side combined); two equi-joins score the exploded
    * bigrams back; one final per-doc agg. Everything shuffles at
    * token/vocab scale with partial aggregation — the canonical
    * postings-join shape every text op here uses.
    */
  def textPredictability(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' +'), x -> x != '')").as("ws"))
      // a <2-token doc has no bigram; the slice(…, size-1) below
      // would error on size 0 rather than emit empty
      .filter(size(col("ws")) >= 2)
    val bi = d
      .select(col("doc_id"), explode(
        expr("zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // Checkpoint the bigram model (round 17, guide §1.2): bgCnt feeds
    // both the prefix rollup and the scoring join — untruncated, each
    // consumer re-ran the corpus tokenize+explode+agg, so the fact
    // table was tokenized three times per run (bi itself, bgCnt for
    // the join, bgCnt again under pfCnt). Model state is
    // vocabulary-pair scale, the standard materialization point of an
    // n-gram LM build.
    val bgCnt = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bc"))
      .localCheckpoint(true)
    val pfCnt = bgCnt.groupBy(col("w1")).agg(sum(col("bc")).as("pc"))
    bi
      .join(bgCnt, Seq("w1", "w2"))
      .join(pfCnt, Seq("w1"))
      .withColumn("p_ppm", expr("bc * 1000000L div pc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("pred_ppm"))
      .orderBy("doc_id")
  }

  val textPredictabilitySql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, ' +'), x -> x != '') AS ws
      |  FROM documents
      |  WHERE len(list_filter(string_split_regex(text, ' +'),
      |                        x -> x != '')) >= 2),
      |bi AS (
      |  SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1,
      |    unnest(ws[2:len(ws)]) AS w2
      |  FROM base),
      |bg AS (SELECT w1, w2, count(*) AS bc FROM bi GROUP BY 1, 2),
      |pf AS (SELECT w1, sum(bc) AS pc FROM bg GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(bc * 1000000 // pc) // count(*) AS BIGINT) AS pred_ppm
      |FROM bi JOIN bg USING (w1, w2) JOIN pf USING (w1)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------
  // RAKE keyword extraction (round 15)
  // ----------------------------------------------------------------

  /** RAKE's stoplist extends the shared function-word set with the
    * corpus's frequency-adjective tokens — RAKE stoplists
    * conventionally include generic modifiers, and without them the
    * synthetic word-soup corpus would yield one giant run per
    * document (no phrase boundaries to learn from).
    */
  private val rakeStops =
    stopwords ++ Seq("slow", "fast", "big", "small")

  /** rake-nltk's max_length: runs longer than this are dropped from
    * candidacy entirely (they are not keyword-shaped). */
  private val RakeMaxLen = 4

  /** RAKE keyword extraction (Rose et al. 2010, public): candidate
    * phrases are maximal runs of non-stopword tokens (runs longer
    * than [[RakeMaxLen]] dropped, the rake-nltk `max_length`
    * convention); each word scores degree/frequency where freq
    * counts its occurrences inside candidates and degree sums the
    * lengths of the candidate occurrences containing it; a phrase
    * scores the sum of its words' scores (multiplicity included).
    * Integer rails: per-word score is `deg·10⁶ div freq` ppm, phrase
    * score the exact sum of those — no float anywhere — and the
    * top-20 ties pin on the phrase string.
    *
    * Scale shape: tokenization is a per-doc columnar explode; the
    * island walk (run id = token index − row_number) partitions by
    * doc_id — the sessionize exchange; word stats aggregate onto the
    * BOUNDED vocabulary and broadcast back into the phrase scoring;
    * the top-20 is TakeOrderedAndProject. No global sort, no
    * fact-scale window.
    */
  def textRake(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(spark, dir)
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as(Seq("idx", "w")))
    val ns = toks
      .filter(!col("w").isin(rakeStops: _*))
      .withColumn("grp",
        col("idx") - row_number().over(
          Window.partitionBy("doc_id").orderBy("idx")))
    val ph = ns.groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("len"),
        expr("array_join(transform(array_sort(collect_list(struct(idx, w)))," +
          " x -> x.w), ' ')").as("phrase"))
      .filter(col("len") <= RakeMaxLen)
    val pw = ns.select(col("doc_id"), col("grp"), col("w"))
      .join(ph, Seq("doc_id", "grp"))
    val ws = pw.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
    val occ = pw.join(broadcast(ws), "w")
      .groupBy(col("doc_id"), col("grp"), col("phrase"))
      .agg(sum(expr("deg * 1000000L div freq")).as("occ_score"))
    occ.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        max(col("occ_score")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("phrase").asc)
      .limit(20)
  }

  val textRakeSql: String =
    s"""WITH toks0 AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS l
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, i AS idx, l[i] AS w
       |  FROM toks0, unnest(generate_series(1, length(l))) AS t(i)),
       |ns AS (
       |  SELECT doc_id, idx, w,
       |    idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
       |  FROM toks WHERE w NOT IN ${sqlList(rakeStops)}),
       |ph AS (
       |  SELECT doc_id, grp, count(*) AS len,
       |    string_agg(w, ' ' ORDER BY idx) AS phrase
       |  FROM ns GROUP BY 1, 2 HAVING count(*) <= $RakeMaxLen),
       |pw AS (
       |  SELECT ns.doc_id, ns.grp, ns.w, ph.len, ph.phrase
       |  FROM ns JOIN ph ON ph.doc_id = ns.doc_id AND ph.grp = ns.grp),
       |ws AS (
       |  SELECT w, count(*) AS freq, sum(len) AS deg FROM pw GROUP BY 1),
       |occ AS (
       |  SELECT pw.doc_id, pw.grp, pw.phrase,
       |    sum(ws.deg * 1000000 // ws.freq) AS occ_score
       |  FROM pw JOIN ws USING (w) GROUP BY 1, 2, 3)
       |SELECT phrase, count(*) AS n_occurrences,
       |  CAST(max(occ_score) AS BIGINT) AS score_ppm
       |FROM occ GROUP BY phrase
       |ORDER BY score_ppm DESC, phrase LIMIT 20""".stripMargin

  // ----------------------------------------------------------------
  // Language-ID evaluation: confusion matrix of the classifier
  // ----------------------------------------------------------------

  /** Evaluation harness for [[textLangid]] — the confusion matrix of
    * the marker-word classifier against the corpus's ground-truth
    * `lang` labels, with per-cell recall shares in integer ppm. This
    * is the other half a real pipeline ships: the classifier's
    * predictions are only actionable beside its measured error
    * structure (which languages bleed into which). On THIS corpus the
    * matrix is maximally damning — the synthetic text contains no
    * marker words, every score ties at zero, and the census shows all
    * five classes collapsing onto the tie-default `en` (100% en
    * recall, 0% everywhere else) — which is exactly the degeneracy an
    * eval harness exists to surface; the classifier's actual
    * discrimination on marker-bearing text is pinned by its crafted
    * ScalaTest fixtures. Reuses the exact scoring chain of the
    * registered classifier; the census is one (lang x pred) hash agg
    * (<= 25 cells) and the per-class totals come from a window over
    * that bounded cell relation — the corpus is scanned once.
    */
  def textLangidEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = textLangid(spark, dir)
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
    val wl = Window.partitionBy("lang")
    cells
      .withColumn("lang_total", sum(col("n")).over(wl))
      .select(col("lang"), col("pred"), col("n"),
        (col("lang") === col("pred")).as("correct"),
        expr("n * 1000000 div lang_total").as("recall_ppm"))
      .orderBy("lang", "pred")
  }

  val textLangidEvalSql: String =
    s"""WITH preds AS (${textLangidSql.replace("\n", "\n  ")}),
       |cells AS (
       |  SELECT lang, pred, count(*) AS n FROM preds GROUP BY 1, 2)
       |SELECT lang, pred, CAST(n AS BIGINT) AS n,
       |  lang = pred AS correct,
       |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang) AS BIGINT)
       |    AS recall_ppm
       |FROM cells
       |ORDER BY lang, pred""".stripMargin

  // ----------------------------------------------------------------
  // Simpson diversity: the concentration complement of entropy
  // ----------------------------------------------------------------

  /** Simpson diversity index per source (Simpson 1949, public
    * formula) — the concentration-side diversity metric a mixture
    * designer reads next to [[textEntropy]]: the probability two
    * tokens drawn WITHOUT replacement are the same type,
    * D = Σcᵢ(cᵢ−1) / (N(N−1)), plus the Berger–Parker dominance
    * index max(cᵢ)/N. Unlike the entropy release these are EXACT
    * RATIONALS — both ship as truncating-integer ppm with the
    * Σcᵢ² product lifted to DECIMAL(38,0)/HUGEINT (at warehouse N
    * the N² term passes 2⁶³ — the agg_corr rail). One token
    * explode into a (source, term) hash agg, then a source-grain
    * rollup: vocabulary-scale state, map-side combinable.
    * Single-token sources are excluded in both engines (N−1 = 0
    * would divide by zero in Spark and error in DuckDB).
    */
  def textSimpson(spark: SparkSession, dir: String): DataFrame = {
    val tc = docs(spark, dir)
      .select(col("source"),
        explode(expr("filter(split(text, ' +'), x -> x != '')")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    tc.groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c")).as("n_tokens"),
        sum(col("c").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * (col("c") - 1)).as("ss"),
        max(col("c")).as("cmax"))
      .filter(col("n_tokens") > 1)
      .select(col("source"), col("n_terms"), col("n_tokens"),
        expr("CAST(ss * 1000000 div (CAST(n_tokens AS DECIMAL(38,0)) " +
          "* (n_tokens - 1)) AS BIGINT)").as("simpson_ppm"),
        expr("cmax * 1000000 div n_tokens").as("dominance_ppm"))
      .orderBy("source")
  }

  val textSimpsonSql: String =
    """WITH terms AS (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(text, ' +'), x -> x != ''))
      |      AS term
      |  FROM documents),
      |tc AS (SELECT source, term, count(*) AS c FROM terms GROUP BY 1, 2),
      |m AS (
      |  SELECT source, count(*) AS n_terms, sum(c) AS n_tokens,
      |    sum(CAST(c AS HUGEINT) * (c - 1)) AS ss, max(c) AS cmax
      |  FROM tc GROUP BY 1)
      |SELECT source, CAST(n_terms AS BIGINT) AS n_terms,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(ss * 1000000 // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
      |    AS BIGINT) AS simpson_ppm,
      |  CAST(cmax * 1000000 // n_tokens AS BIGINT) AS dominance_ppm
      |FROM m WHERE n_tokens > 1 ORDER BY source""".stripMargin

  // ----------------------------------------------------------------
  // Hapax legomena: the Good-Turing tail census
  // ----------------------------------------------------------------

  /** Hapax/dis-legomena census per source — the frequency-tail
    * statistics behind Good-Turing smoothing (Good 1953, public):
    * how much of each source's vocabulary occurs exactly once (f₁)
    * or twice (f₂)? `hapax_vocab_ppm` (f₁ share of vocabulary)
    * tracks productive/creative text vs template mass, and
    * `unseen_mass_ppm` (f₁/N, the Good-Turing leave-one-out
    * estimate of unseen-type probability mass) is the number an
    * LM-coverage planner reads. All exact integer ppm. Same
    * vocabulary-scale two-agg shape as [[textSimpson]].
    */
  def textHapax(spark: SparkSession, dir: String): DataFrame = {
    val tc = docs(spark, dir)
      .select(col("source"),
        explode(expr("filter(split(text, ' +'), x -> x != '')")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    tc.groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("n_terms"), col("n_tokens"),
        col("f1"), col("f2"),
        expr("f1 * 1000000 div n_terms").as("hapax_vocab_ppm"),
        expr("f1 * 1000000 div n_tokens").as("unseen_mass_ppm"))
      .orderBy("source")
  }

  val textHapaxSql: String =
    """WITH terms AS (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(text, ' +'), x -> x != ''))
      |      AS term
      |  FROM documents),
      |tc AS (SELECT source, term, count(*) AS c FROM terms GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
      |    AS BIGINT) AS hapax_vocab_ppm,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // sum(c)
      |    AS BIGINT) AS unseen_mass_ppm
      |FROM tc GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------------------------------------------
  // Jensen–Shannon divergence: the pairwise source-distance matrix
  // ----------------------------------------------------------------

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions (Lin 1991, public) — the source-similarity matrix
    * a mixture designer clusters before assigning sampling weights
    * (near-duplicate sources shouldn't double-dip the budget). For
    * P, Q the term distributions, JSD = ½Σ[p·ln(2p/(p+q)) +
    * q·ln(2q/(p+q))]; terms present in only one distribution
    * contribute their whole mass at ln 2, folded in ANALYTICALLY —
    * ½·ln2·((1−Σ∩p) + (1−Σ∩q)) — so the pair join only touches the
    * INTERSECTION vocabulary (an equi-join on term, never a full
    * outer per pair). Float discipline is [[textEntropy]]'s: p, q
    * are IEEE quotients of identical integers, the three per-pair
    * sums are order-pinned folds sorted by term, ln 2 is the shared
    * double literal, release rounds at 6 dp. Scale shape: vocab
    * hash agg → a term-keyed self-equi-join fanning out only to
    * |sources|² per term — sources are a bounded domain (the
    * stratum list), the term dimension is the big one and it
    * partitions the join.
    */
  def textJsd(spark: SparkSession, dir: String): DataFrame = {
    val Ln2 = 0.6931471805599453 // IEEE double of ln 2, shared literal
    val tc = docs(spark, dir)
      .select(col("source"),
        explode(expr("filter(split(text, ' +'), x -> x != '')")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    val tot = tc.groupBy("source").agg(sum(col("c")).as("t"))
    val p = tc.join(tot, "source")
      .select(col("source"), col("term"),
        (col("c").cast("double") / col("t")).as("p"))
    val a = p.toDF("source_a", "term", "pa")
    val b = p.toDF("source_b", "term", "pb")
    a.join(b, "term")
      .filter(col("source_a") < col("source_b"))
      .withColumn("contrib",
        col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb"))) +
          col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"),
        sort_array(collect_list(struct(col("term"), col("pa").as("x"))))
          .as("ps"),
        sort_array(collect_list(struct(col("term"), col("pb").as("x"))))
          .as("qs"),
        sort_array(collect_list(struct(col("term"), col("contrib").as("x"))))
          .as("cs"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(
          lit(0.5) * aggregate(col("cs"), lit(0.0),
            (acc, x) => acc + x.getField("x")) +
          lit(0.5 * Ln2) * (lit(2.0) -
            aggregate(col("ps"), lit(0.0), (acc, x) => acc + x.getField("x")) -
            aggregate(col("qs"), lit(0.0), (acc, x) => acc + x.getField("x"))),
          6).as("jsd"))
      .orderBy("source_a", "source_b")
  }

  val textJsdSql: String =
    """WITH terms AS (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(text, ' +'), x -> x != ''))
      |      AS term
      |  FROM documents),
      |tc AS (SELECT source, term, count(*) AS c FROM terms GROUP BY 1, 2),
      |tot AS (SELECT source, sum(c) AS t FROM tc GROUP BY 1),
      |p AS (
      |  SELECT tc.source, tc.term, CAST(c AS DOUBLE) / t AS p
      |  FROM tc JOIN tot USING (source)),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b, a.term,
      |    a.p AS pa, b.p AS pb,
      |    a.p * ln(2 * a.p / (a.p + b.p)) +
      |      b.p * ln(2 * b.p / (a.p + b.p)) AS contrib
      |  FROM p a JOIN p b ON a.term = b.term AND a.source < b.source)
      |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared,
      |  round(0.5 * list_sum(list(contrib ORDER BY term)) +
      |    0.5 * 0.6931471805599453 *
      |      (2.0 - list_sum(list(pa ORDER BY term))
      |           - list_sum(list(pb ORDER BY term))), 6) AS jsd
      |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
