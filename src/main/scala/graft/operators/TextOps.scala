package graft.operators

import graft.{Query, Tables}
import graft.Query.fanned
import graft.functions.Codes._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (SURVEY §2.D): language ID,
  * quality scoring, token counting, document fingerprinting. All per-doc
  * map work — embarrassingly parallel, no shuffle except final ordering.
  */
object TextOps {

  private val EnStop = Seq("the", "a", "and", "of", "to", "in", "is")
  private val DataWords = Seq("spark", "query", "table", "join", "filter",
    "group", "sort", "scan", "merge", "window")

  private def arrLit(ws: Seq[String]): Column = array(ws.map(lit): _*)
  private def listLit(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  // --- tx_langid: stopword-marker heuristic language/domain ID -----------
  /** The language-ID rule: en_hits and data_hits count a document's
    * distinct EnStop and DataWords tokens; pred_lang is en at ≥ 2
    * stopwords, else data-domain at ≥ 3 data words, else unknown.
    */
  private def langId(docs: DataFrame): DataFrame = {
    def hits(ws: Seq[String]) =
      size(array_intersect(array_distinct(col("ts")), arrLit(ws)))
    docs.withColumn("ts", tokens(col("text")))
      .withColumn("en_hits", hits(EnStop))
      .withColumn("data_hits", hits(DataWords))
      .withColumn("pred_lang",
        when(col("en_hits") >= 2, "en")
          .when(col("data_hits") >= 3, "data-domain")
          .otherwise("unknown"))
  }

  /** SQL twin of [[langId]]: (doc_id, lang, en_hits, data_hits, pred_lang). */
  private val langIdSql: String = {
    def hits(ws: Seq[String]) =
      s"len(list_intersect(list_distinct(${tokensSql("text")}), ${listLit(ws)}))"
    s"""SELECT doc_id, lang, en_hits, data_hits,
       |  CASE WHEN en_hits >= 2 THEN 'en' WHEN data_hits >= 3 THEN 'data-domain'
       |    ELSE 'unknown' END AS pred_lang
       |FROM (SELECT doc_id, lang, ${hits(EnStop)} AS en_hits,
       |  ${hits(DataWords)} AS data_hits FROM documents) h""".stripMargin
  }

  def txLangid(spark: SparkSession, dir: String): DataFrame =
    langId(Tables.documents(spark, dir))
      .withColumn("match_truth",
        when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
      .select("doc_id", "pred_lang", "en_hits", "data_hits", "match_truth")
      .orderBy(col("doc_id").asc)

  val txLangidSql: String =
    s"""WITH t AS ($langIdSql)
       |SELECT doc_id, pred_lang,
       |  CAST(en_hits AS INTEGER) AS en_hits,
       |  CAST(data_hits AS INTEGER) AS data_hits,
       |  CAST(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS BIGINT) AS match_truth
       |FROM t ORDER BY doc_id ASC""".stripMargin

  // --- tx_quality: length/diversity/stopword composite score -------------
  /** A document's EnStop token count over its token array, BIGINT. */
  private def stopHits(ts: Column): Column =
    size(filter(ts, t => array_contains(arrLit(EnStop), t))).cast("bigint")

  private def stopHitsSql(ts: String): String =
    s"CAST(len(list_filter($ts, x -> list_contains(${listLit(EnStop)}, x))) AS BIGINT)"

  /** The quality score per document, unordered: (doc_id, n_tokens,
    * distinct_ratio, stop_ratio, quality_score), the score weighing length
    * (saturating at 50 tokens), token diversity and a stopword share near
    * 10%. Curation, curriculum, token budget and calibration rank by it.
    */
  private[graft] def qualityScores(docs: DataFrame): DataFrame = {
    val d = docs
      .withColumn("ts", tokens(col("text")))
      .withColumn("n_tokens", size(col("ts")).cast("bigint"))
      .withColumn("n_distinct", size(array_distinct(col("ts"))).cast("bigint"))
      .withColumn("stop_hits", stopHits(col("ts")))
    d.withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / greatest(col("n_tokens"), lit(1L)), 6))
      .withColumn("stop_ratio",
        round(col("stop_hits").cast("double") / greatest(col("n_tokens"), lit(1L)), 6))
      .withColumn("quality_score",
        round(
          least(col("n_tokens").cast("double") / 50, lit(1.0)) * 0.4
            + col("distinct_ratio") * 0.4
            + (lit(1.0) - abs(col("stop_ratio") - 0.1)) * 0.2, 6))
      .select("doc_id", "n_tokens", "distinct_ratio", "stop_ratio", "quality_score")
  }

  /** SQL twin of [[qualityScores]], unordered. */
  private[graft] val qualityScoresSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    ${tokenCountSql("text")} AS n_tokens,
       |    CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS n_distinct,
       |    ${stopHitsSql(tokensSql("text"))} AS stop_hits
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, n_tokens,
       |    round(CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1), 6) AS distinct_ratio,
       |    round(CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1), 6) AS stop_ratio
       |  FROM t
       |)
       |SELECT doc_id, n_tokens, distinct_ratio, stop_ratio,
       |  round(least(CAST(n_tokens AS DOUBLE) / 50, 1.0) * 0.4
       |    + distinct_ratio * 0.4
       |    + (1.0 - abs(stop_ratio - 0.1)) * 0.2, 6) AS quality_score
       |FROM r""".stripMargin

  def txQuality(spark: SparkSession, dir: String): DataFrame =
    qualityScores(Tables.documents(spark, dir)).orderBy(col("doc_id").asc)

  val txQualitySql: String = s"$qualityScoresSql ORDER BY doc_id ASC"

  // --- tx_tokens: whitespace + regex token counting -----------------------
  /** A document's alphabetic-token count ([a-z]+ runs of its lower-cased
    * text), BIGINT.
    */
  private def alphaTokens(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))).cast("bigint")

  private def alphaTokensSql(e: String): String =
    s"CAST(len(regexp_extract_all(lower($e), '[a-z]+')) AS BIGINT)"

  def txTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_ws_tokens", tokenCount(col("text")))
      .withColumn("n_alpha_tokens", alphaTokens(col("text")))
      .withColumn("n_num_tokens",
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("bigint"))
      .withColumn("n_chars_actual", length(col("text")).cast("bigint"))
      .select("doc_id", "n_ws_tokens", "n_alpha_tokens", "n_num_tokens",
        "n_chars_actual")
      .orderBy(col("doc_id").asc)

  val txTokensSql: String =
    s"""SELECT doc_id,
       |  ${tokenCountSql("text")} AS n_ws_tokens,
       |  ${alphaTokensSql("text")} AS n_alpha_tokens,
       |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars_actual
       |FROM documents ORDER BY doc_id ASC""".stripMargin

  // --- tx_fertility: per-language tokenizer fertility profile ------------
  /** Tokenizer fertility by language — the multilingual-mixture planning
    * number (how many characters a language "costs" per token decides its
    * effective context length and its share of the token budget): per
    * lang, docs, characters, whitespace tokens and alphabetic tokens,
    * with chars-per-token and tokens-per-doc in exact integer MILLI units
    * (floored — no float crosses the oracle boundary) and the alpha
    * fraction of tokens in ppm. One scan, per-lang rollup with map-side
    * partials — a ≤|langs|-row report at any corpus scale.
    */
  def txFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        length(col("text")).cast("long").as("nc"),
        tokenCount(col("text")).as("nt"),
        alphaTokens(col("text")).as("na"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("nt")).as("n_tokens"),
        sum(col("na")).as("n_alpha_tokens"))
      .withColumn("chars_per_token_milli",
        expr("n_chars * 1000 DIV greatest(n_tokens, 1)"))
      .withColumn("tokens_per_doc_milli",
        expr("n_tokens * 1000 DIV greatest(n_docs, 1)"))
      .withColumn("alpha_ppm",
        expr("n_alpha_tokens * 1000000 DIV greatest(n_tokens, 1)"))
      .orderBy(col("lang").asc)

  val txFertilitySql: String =
    s"""WITH per AS (
       |  SELECT lang, CAST(length(text) AS BIGINT) AS nc,
       |    ${tokenCountSql("text")} AS nt,
       |    ${alphaTokensSql("text")} AS na
       |  FROM documents
       |), rolled AS (
       |  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nc) AS BIGINT) AS n_chars,
       |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
       |    CAST(SUM(na) AS BIGINT) AS n_alpha_tokens
       |  FROM per GROUP BY lang
       |)
       |SELECT lang, n_docs, n_chars, n_tokens, n_alpha_tokens,
       |  CAST(n_chars * 1000 // greatest(n_tokens, 1) AS BIGINT)
       |    AS chars_per_token_milli,
       |  CAST(n_tokens * 1000 // greatest(n_docs, 1) AS BIGINT)
       |    AS tokens_per_doc_milli,
       |  CAST(n_alpha_tokens * 1000000 // greatest(n_tokens, 1) AS BIGINT)
       |    AS alpha_ppm
       |FROM rolled ORDER BY lang ASC""".stripMargin

  // --- tx_fingerprint: position-weighted polynomial fingerprint ----------
  /** fp1 = Σ_i (code(tok_i) % 2^20) * i  (mod P); fp2 weights the squared
    * code — order-sensitive, so permuted documents fingerprint differently,
    * but integer sums keep both engines exact. Array-native map-only work:
    * no explode, no shuffle except the output ordering (the r2 version
    * shuffled every token row through a grouped sum). NULL fingerprints for
    * token-less docs, matching the oracle's list_sum([]) → NULL.
    */
  def txFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val withCodes = Tables.documents(spark, dir)
      .select(col("doc_id"),
        transform(strCodes(tokens(col("text"))), c => c % 1048576L).as("cs"))
    def weighted(f: (Column, Column) => Column): Column =
      when(size(col("cs")) > 0,
        aggregate(transform(col("cs"), (c, i) => f(c, i + 1)),
          lit(0L), (acc, v) => acc + v) % P)
        .otherwise(lit(null).cast("long"))
    withCodes.select(col("doc_id"),
        weighted((c, i) => c * i).as("fp1"),
        weighted((c, i) => c * c % P * i).as("fp2"))
      .orderBy(col("doc_id").asc)
  }

  val txFingerprintSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS ts FROM documents
       |), codes AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(ts) + 1),
       |      i -> (${strCodeSql("ts[i]")} % 1048576)) AS cs
       |  FROM toks
       |)
       |SELECT doc_id,
       |  CAST(list_sum(list_transform(range(1, len(cs) + 1), i -> cs[i] * i)) % $P AS BIGINT) AS fp1,
       |  CAST(list_sum(list_transform(range(1, len(cs) + 1), i -> cs[i] * cs[i] % $P * i)) % $P AS BIGINT) AS fp2
       |FROM codes ORDER BY doc_id ASC""".stripMargin

  // --- tx_bigram_freq_score: corpus-statistics quality scoring -----------
  /** Each document scored by how common its token bigrams are across the
    * WHOLE corpus — the corpus-statistics filtering shape (rare-bigram
    * ratio flags gibberish/boilerplate; LLM pipelines filter on exactly
    * this kind of collection-level signal). Two shuffles: the corpus
    * bigram-frequency table, then the doc-bigram ↔ frequency join — both
    * hash-partitioned on the 8-byte bigram code, never on strings.
    */
  def txBigramFreqScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Materialize token codes (attribute) before the bigram lambda — see
    // Dedup.signatures on CollapseProject inlining.
    val tcs = docs.select(col("doc_id"), strCodes(tokens(col("text"))).as("tcs"))
    val bigram = when(size(col("tcs")) >= 2,
      transform(sequence(lit(1), size(col("tcs")) - 1),
        i => (element_at(col("tcs"), i) * 8191L
          + element_at(col("tcs"), i + 1)) % P))
      .otherwise(array().cast("array<long>"))
    val docBigrams = tcs.select(col("doc_id"), explode(bigram).as("bg"))
    val corpusCounts = docBigrams.groupBy(col("bg"))
      .agg(count(lit(1)).as("bg_count"))
    docBigrams.join(corpusCounts, "bg")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(sum(col("bg_count")).cast("double") / count(lit(1)), 6)
          .as("avg_bigram_freq"),
        round(sum(when(col("bg_count") <= 1, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("rare_ratio"))
      .orderBy(col("doc_id").asc)
  }

  val txBigramFreqScoreSql: String =
    s"""WITH tc AS (
       |  SELECT doc_id, ${strCodesSql(tokensSql("text"))} AS tcs FROM documents
       |), db AS (
       |  SELECT doc_id, unnest([ (tcs[i] * 8191 + tcs[i+1]) % $P
       |    for i in range(1, greatest(len(tcs), 1)) ]) AS bg
       |  FROM tc
       |), cc AS (
       |  SELECT bg, COUNT(*) AS bg_count FROM db GROUP BY bg
       |)
       |SELECT db.doc_id, COUNT(*) AS n_bigrams,
       |  round(CAST(SUM(cc.bg_count) AS DOUBLE) / COUNT(*), 6) AS avg_bigram_freq,
       |  round(CAST(SUM(CASE WHEN cc.bg_count <= 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS rare_ratio
       |FROM db JOIN cc ON db.bg = cc.bg
       |GROUP BY db.doc_id ORDER BY db.doc_id ASC""".stripMargin

  // --- tx_repetition: Gopher-style repetition signals --------------------
  /** Repetition filtering signals per document (the Gopher/MassiveText
    * rule family: repeated-token and duplicate-n-gram fractions flag
    * low-quality generated/boilerplate text). Array-native HOFs over the
    * token array — map-only, no shuffle except output ordering.
    *
    * Complexity discipline: the naive forms (`array_distinct` +
    * count-per-distinct-token) are O(n²) per document in Spark's
    * interpreted HOF path. Everything here runs off SORTED arrays instead:
    * the most-frequent-token count is the longest equal-run in the sorted
    * token array (one `aggregate` pass), and a sorted array's distinct
    * count is `n − adjacent-equal pairs` (each k-run contributes k−1
    * equal-adjacent pairs, so n − eqAdj = number of runs). O(n log n)
    * per doc, independent of the token vocabulary.
    */
  def txRepetition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("ts", tokens(col("text")))
      .withColumn("n_tokens", size(col("ts")).cast("bigint"))
    // Adjacent-equal pair count over any array column (i vs i+1).
    def eqAdj(arr: Column): Column =
      size(filter(sequence(lit(1), size(arr) - 1),
        i => element_at(arr, i) === element_at(arr, i + 1)))
    val repeatPairs = when(col("n_tokens") >= 2, eqAdj(col("ts")))
      .otherwise(0).cast("bigint")
    // Longest equal-run in the sorted token array = max token frequency.
    val topCount = aggregate(
      sort_array(col("ts")),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val bigrams = when(col("n_tokens") >= 2,
      transform(sequence(lit(1), size(col("ts")) - 1),
        i => concat_ws(" ", element_at(col("ts"), i),
          element_at(col("ts"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val distinctBigrams = size(col("bg")) - eqAdj(col("bg"))
    d.withColumn("n_repeat_pairs", repeatPairs)
      .withColumn("bg", sort_array(bigrams))
      .withColumn("top_token_ratio",
        round(topCount.cast("double") / greatest(col("n_tokens"), lit(1L)), 6))
      .withColumn("dup_bigram_ratio",
        when(col("n_tokens") >= 2,
          round(lit(1.0) - distinctBigrams.cast("double")
            / (col("n_tokens") - 1), 6)).otherwise(0.0))
      .withColumn("repetitive_flag",
        when(col("top_token_ratio") > 0.2 || col("dup_bigram_ratio") > 0.3, 1L)
          .otherwise(0L))
      .select("doc_id", "n_tokens", "n_repeat_pairs", "top_token_ratio",
        "dup_bigram_ratio", "repetitive_flag")
      .orderBy(col("doc_id").asc)
  }

  val txRepetitionSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSql("text")} AS ts FROM documents
       |), s AS (
       |  SELECT doc_id,
       |    CAST(len(ts) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(range(1, greatest(len(ts), 1)),
       |      i -> ts[i] = ts[i+1])) AS BIGINT) AS n_repeat_pairs,
       |    list_max(list_transform(list_distinct(ts),
       |      tk -> len(list_filter(ts, x -> x = tk)))) AS top_count,
       |    CASE WHEN len(ts) >= 2 THEN len(list_distinct(
       |      [ ts[i] || ' ' || ts[i+1] for i in range(1, len(ts)) ]))
       |      ELSE 0 END AS n_distinct_bigrams
       |  FROM t
       |), r AS (
       |  SELECT doc_id, n_tokens, n_repeat_pairs,
       |    round(CAST(top_count AS DOUBLE) / greatest(n_tokens, 1), 6) AS top_token_ratio,
       |    CASE WHEN n_tokens >= 2 THEN
       |      round(1.0 - CAST(n_distinct_bigrams AS DOUBLE) / (n_tokens - 1), 6)
       |      ELSE 0.0 END AS dup_bigram_ratio
       |  FROM s
       |)
       |SELECT doc_id, n_tokens, n_repeat_pairs, top_token_ratio,
       |  dup_bigram_ratio,
       |  CAST(CASE WHEN top_token_ratio > 0.2 OR dup_bigram_ratio > 0.3
       |    THEN 1 ELSE 0 END AS BIGINT) AS repetitive_flag
       |FROM r ORDER BY doc_id ASC""".stripMargin

  // --- tx_tfidf_top_terms: corpus-IDF top term per document ---------------
  /** Highest-TF-IDF term per document. IDF is the rational surrogate
    * 1000/df (monotone in the usual log(N/df), but exact in integer/double
    * arithmetic on both engines — log is not correctly-rounded in either,
    * so cross-engine hashes could drift on boundary values). Shuffle plan:
    * doc-term counts (one shuffle on (doc_id, term)), document frequency
    * (one on term), count↔df join on term, and the per-doc top-1 window on
    * doc_id — every key is a token or id, never document text.
    */
  def txTfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // Top term per doc via the custom bounded-heap operator — the window
    // formulation (row_number over doc partitions, filter rk=1) would
    // shuffle and fully sort the doc×term frame to keep one row per doc.
    val scored = tf.join(df, "term")
      .withColumn("score",
        round(col("tf").cast("double") * 1000 / col("df"), 6))
    GraftTopK.topKPerGroup(scored, Seq("doc_id"),
        Seq("score" -> true, "term" -> false), 1)
      .select(col("doc_id"), col("term").as("top_term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id").asc)
  }

  val txTfidfTopTermsSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |), scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    round(CAST(tf.tf AS DOUBLE) * 1000 / df.df, 6) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |      ORDER BY round(CAST(tf.tf AS DOUBLE) * 1000 / df.df, 6) DESC,
       |        tf.term ASC) AS rk
       |  FROM tf JOIN df ON tf.term = df.term
       |)
       |SELECT doc_id, term AS top_term, tf, df, score FROM scored
       |WHERE rk = 1 ORDER BY doc_id ASC""".stripMargin

  // --- tx_contamination: benchmark n-gram decontamination -----------------
  /** Benchmark-overlap detection — the decontamination pass every training
    * corpus runs before release: flag documents sharing any word-3gram
    * with the held-out benchmark set (here the `src0` slice stands in for
    * the benchmark). The benchmark's distinct shingle-code set is
    * broadcast (benchmarks are tiny next to the corpus); the corpus side
    * is one explode + broadcast-join + per-doc aggregation over 8-byte
    * codes — no string shuffles, no corpus self-join. Docs with < 3
    * tokens have no shingles and drop out (mirrored in the oracle).
    */
  def txContamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        strCodes(tokens(col("text"))).as("tcs"))
      .select(col("doc_id"), col("source"), shingleCodes3(col("tcs")).as("sg"))
    // explode_outer, then drop the null rows AFTER generation: a plain
    // explode makes Catalyst push its `size(sg) > 0` pruning predicate
    // into the scan, where the whole token→code→shingle pipeline inlines
    // into one filter expression — and shingleCodes3's lambda then
    // re-evaluates the inlined token codes per element (the interpreted
    // O(tokens²) blowup; measured 27s vs 2s at sf0.1).
    val bench = sh.filter(col("source") === "src0")
      .select(explode_outer(col("sg")).as("code"))
      .filter(col("code").isNotNull).distinct()
      .withColumn("hit", lit(1L))
    val corpus = sh.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode_outer(col("sg")).as("code"))
      .filter(col("code").isNotNull)
    corpus.join(broadcast(bench), Seq("code"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination_ratio",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6))
      .withColumn("contaminated_flag",
        when(col("n_contaminated") > 0, 1L).otherwise(0L))
      .orderBy(col("doc_id").asc)
  }

  val txContaminationSql: String =
    s"""WITH tc AS (
       |  SELECT doc_id, source, ${strCodesSql(tokensSql("text"))} AS tcs
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, source, ${shingleCodes3Sql("tcs")} AS sg FROM tc
       |), bench AS (
       |  SELECT DISTINCT unnest(sg) AS code FROM sh WHERE source = 'src0'
       |), corpus AS (
       |  SELECT doc_id, unnest(sg) AS code FROM sh WHERE source <> 'src0'
       |), agg AS (
       |  SELECT c.doc_id, COUNT(*) AS n_shingles,
       |    CAST(SUM(CASE WHEN b.code IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_contaminated
       |  FROM corpus c LEFT JOIN bench b ON c.code = b.code
       |  GROUP BY c.doc_id
       |)
       |SELECT doc_id, n_shingles, n_contaminated,
       |  round(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contamination_ratio,
       |  CAST(CASE WHEN n_contaminated > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated_flag
       |FROM agg ORDER BY doc_id ASC""".stripMargin

  // --- tx_pii: PII detection + redaction accounting -----------------------
  /** Patterns shared verbatim by both engines: Java regex and RE2 agree on
    * these constructs (ASCII classes, bounded repetition, \b, \d). Kept
    * deliberately simple — the point is the operator shape (map-only scan,
    * counts + redacted length), not NER-grade recall.
    */
  private val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  private val DigitRunRe = "\\d{7,}"

  /** PII scan for compliance/curation: per-doc counts of email / IPv4 /
    * long-digit-run matches, a has_pii flag, and the text length after
    * redacting all three (the cost delta a scrubbing pass would apply).
    * Pure map work — no shuffle except output ordering; at 100 TB this is
    * a single codegen'd projection over the corpus scan.
    */
  /** Generic core over any (doc_id, text) frame — the registered query
    * binds it to the documents table; PiiSpec drives it with synthetic
    * literals (the testdata corpus contains no PII, so the detection
    * logic itself needs its own gate).
    */
  private[graft] def piiStats(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit("<IP>")),
      lit(DigitRunRe), lit("<NUM>"))
    docs
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0)))
          .cast("bigint").as("n_ipv4"),
        size(regexp_extract_all(col("text"), lit(DigitRunRe), lit(0)))
          .cast("bigint").as("n_digit_runs"),
        length(redacted).cast("bigint").as("redacted_len"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ipv4") + col("n_digit_runs") > 0)
      .orderBy(col("doc_id").asc)
  }

  def txPii(spark: SparkSession, dir: String): DataFrame =
    piiStats(Tables.documents(spark, dir))

  val txPiiSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ipv4,
       |  CAST(len(regexp_extract_all(text, '$DigitRunRe')) AS BIGINT) AS n_digit_runs,
       |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
       |    '$DigitRunRe', '<NUM>', 'g')) AS BIGINT) AS redacted_len,
       |  (len(regexp_extract_all(text, '$EmailRe'))
       |    + len(regexp_extract_all(text, '$Ipv4Re'))
       |    + len(regexp_extract_all(text, '$DigitRunRe'))) > 0 AS has_pii
       |FROM documents ORDER BY doc_id ASC""".stripMargin

  // --- tx_countmin_freq: count-min sketch vs exact token frequency --------
  private val CmRows = 4
  private val CmWidth = 1024

  /** Count-min sketch demonstration over the token stream: 4 hash rows x
    * 1024 counters (the [[graft.functions.Codes]] arithmetic family, so
    * both engines build bit-identical counter tables), probed for the
    * exact top-20 tokens. `cm_est >= exact_n` always; the overestimate
    * column shows the collision error. At 100 TB the counter table is a
    * FIXED 4x1024 aggregate — frequency estimation without a per-token
    * groupBy — while the exact side here exists to gate the sketch.
    */
  def txCountminFreq(spark: SparkSession, dir: String): DataFrame = {
    val tks = tokens(col("text"))
    // Token string + code zipped per occurrence; the kernel runs once per
    // document array, not per exploded row.
    val tc = Tables.documents(spark, dir)
      .select(explode(zip_with(tks, strCodes(tks),
        (t, c) => struct(t.as("tok"), c.as("x")))).as("z"))
      .select(col("z.tok").as("tok"), col("z.x").as("x"))
    val rowBuckets = (0 until CmRows).map(r =>
      struct(lit(r).as("r"),
        (graft.functions.Codes.hash(r, col("x")) % CmWidth).as("bkt")))
    val counters = tc
      .select(explode(array(rowBuckets: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bkt").as("bkt"))
      .agg(count(lit(1)).as("cnt"))
    val probes = tc.groupBy(col("tok"))
      .agg(count(lit(1)).as("exact_n"), min(col("x")).as("x"))
      .orderBy(col("exact_n").desc, col("tok").asc)
      .limit(20)
    val probeRows = probes
      .select(col("tok"), col("exact_n"), explode(array(rowBuckets: _*)).as("rb"))
      .select(col("tok"), col("exact_n"),
        col("rb.r").as("r"), col("rb.bkt").as("bkt"))
    counters.join(broadcast(probeRows), Seq("r", "bkt"))
      .groupBy(col("tok"), col("exact_n"))
      .agg(min(col("cnt")).as("cm_est"))
      .select(col("tok"), col("exact_n"), col("cm_est"),
        (col("cm_est") - col("exact_n")).as("overestimate"))
      .orderBy(col("exact_n").desc, col("tok").asc)
  }

  val txCountminFreqSql: String = {
    val counterRows = (0 until CmRows)
      .map(r => s"SELECT $r AS r, ${hashSql(r, "x")} % $CmWidth AS bkt FROM tc")
      .mkString("\n  UNION ALL\n  ")
    val probeRows = (0 until CmRows)
      .map(r => s"SELECT tok, exact_n, $r AS r, " +
        s"${hashSql(r, "x")} % $CmWidth AS bkt FROM probes")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (
       |  SELECT unnest(${tokensSql("text")}) AS tok FROM documents
       |), tc AS (
       |  SELECT tok, ${strCodeSql("tok")} AS x FROM toks
       |), counters AS (
       |  SELECT r, bkt, COUNT(*) AS cnt FROM (
       |  $counterRows
       |  ) u GROUP BY r, bkt
       |), probes AS (
       |  SELECT tok, COUNT(*) AS exact_n, MIN(x) AS x FROM tc GROUP BY tok
       |  ORDER BY exact_n DESC, tok ASC LIMIT 20
       |), pr AS (
       |  $probeRows
       |)
       |SELECT p.tok, p.exact_n, CAST(MIN(c.cnt) AS BIGINT) AS cm_est,
       |  CAST(MIN(c.cnt) - p.exact_n AS BIGINT) AS overestimate
       |FROM pr p JOIN counters c ON p.r = c.r AND p.bkt = c.bkt
       |GROUP BY p.tok, p.exact_n
       |ORDER BY exact_n DESC, tok ASC""".stripMargin
  }

  // --- tx_length_histogram: power-of-2 corpus length distribution ---------
  /** Document-length distribution in power-of-2 buckets (the corpus-stats
    * twin of ns_filesize_histogram): `bucket_exp` is the exponent of the
    * bucket's upper bound, via integer bit-length arithmetic so both
    * engines agree exactly. Single scan, map-side partial aggregate, tiny
    * shuffle — the plan that holds at any corpus size.
    */
  def txLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket_exp",
        when(col("n_chars") <= 1, 0)
          .otherwise(length(bin(col("n_chars") - 1))))
      .groupBy(col("bucket_exp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("bucket_exp").asc)

  val txLengthHistogramSql: String =
    """SELECT
      |  CASE WHEN n_chars <= 1 THEN 0 ELSE length(bin(n_chars - 1)) END
      |    AS bucket_exp,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY bucket_exp ORDER BY bucket_exp ASC""".stripMargin

  // --- tx_diversity: lexical-diversity quality signals ---------------------
  /** Per-document lexical diversity: type-token ratio, Simpson diversity
    * (1 − Σ(c/n)², the repeated-word collision probability complement) and
    * top-word dominance — the Gopher/C4-style "too repetitive" filter
    * signals, stated WITHOUT logarithms: entropy needs ln (not correctly
    * rounded in either engine — same reasoning as [[txTfidfTopTerms]]), but
    * Simpson is exact rational arithmetic (Σc² and n are integers, one
    * double division at the end), so the gate holds bit-identical values.
    *
    * Plan shape: the classic word-count — explode to (doc_id, token), ONE
    * shuffle with map-side partial counts, then a second doc-keyed
    * aggregate that moves one row per distinct (doc, token). No text
    * re-shuffles: tokens leave the scan as their counts.
    */
  def txDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sum_sq"),
        max(col("c")).as("max_count"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(lit(1.0) - col("sum_sq").cast("double") /
          (col("n_tokens") * col("n_tokens")), 6).as("simpson"),
        round(col("max_count").cast("double") / col("n_tokens"), 6)
          .as("dominance"))
      .orderBy(col("doc_id").asc)

  val txDiversitySql: String =
    s"""WITH wc AS (
       |  SELECT doc_id, tok, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS tok
       |        FROM documents) u
       |  GROUP BY doc_id, tok
       |), agg AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_types,
       |    CAST(SUM(c * c) AS BIGINT) AS sum_sq,
       |    CAST(MAX(c) AS BIGINT) AS max_count
       |  FROM wc GROUP BY doc_id
       |)
       |SELECT doc_id, n_tokens, n_types,
       |  round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
       |  round(1.0 - CAST(sum_sq AS DOUBLE) / (n_tokens * n_tokens), 6)
       |    AS simpson,
       |  round(CAST(max_count AS DOUBLE) / n_tokens, 6) AS dominance
       |FROM agg ORDER BY doc_id ASC""".stripMargin

  // --- tx_crossdup: cross-document duplicated-shingle fraction ------------
  /** Per-document fraction of its word-3gram shingles that also occur in at
    * least one OTHER document — the corpus-level "duplicate n-gram
    * fraction" curation signal (complement of [[txRepetition]], which is
    * within-doc). A doc whose shingles are mostly corpus-shared is
    * boilerplate or a near-copy even when no single LSH partner crosses
    * the pair threshold.
    *
    * Plan shape (100 TB): shingles are LONG codes from the compiled
    * kernel, so both shuffles move 8-byte codes, never text. Stage 1
    * aggregates doc-frequency per code (map-side partial combine); stage 2
    * joins the exploded codes back on the same key — the aggregate output
    * is already hash-partitioned on `code`, so the join reuses that
    * exchange rather than re-shuffling the frequency side. Flag threshold:
    * ≥ 50% shared shingles.
    */
  def txCrossdup(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleSets(Tables.documents(spark, dir))
    // explode_outer + post-filter: keeps the shingle pipeline a projection
    // (see txContamination — plain explode inlines it into a per-element
    // interpreted filter).
    val ex = sh.select(col("doc_id"), explode_outer(col("sg")).as("code"))
      .filter(col("code").isNotNull)
    // Codes are distinct within a doc (shingleCodes3 array_distincts), so
    // count(*) per code IS its document frequency.
    val docFreq = ex.groupBy(col("code")).agg(count(lit(1)).as("df"))
    ex.join(docFreq, Seq("code"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ppm", expr("n_shared * 1000000 DIV n_shingles"))
      .withColumn("crossdup_flag",
        when(col("shared_ppm") >= 500000L, 1L).otherwise(0L))
      .orderBy(col("doc_id").asc)
  }

  val txCrossdupSql: String =
    s"""WITH tc AS (
       |  SELECT doc_id, ${strCodesSql(tokensSql("text"))} AS tcs
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shingleCodes3Sql("tcs")} AS sg FROM tc
       |), ex AS (
       |  SELECT doc_id, unnest(sg) AS code FROM sh
       |), df AS (
       |  SELECT code, COUNT(*) AS df FROM ex GROUP BY code
       |), agg AS (
       |  SELECT e.doc_id, COUNT(*) AS n_shingles,
       |    CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_shared
       |  FROM ex e JOIN df f ON e.code = f.code
       |  GROUP BY e.doc_id
       |)
       |SELECT doc_id, n_shingles, n_shared,
       |  CAST(n_shared * 1000000 // n_shingles AS BIGINT) AS shared_ppm,
       |  CAST(CASE WHEN n_shared * 1000000 // n_shingles >= 500000
       |    THEN 1 ELSE 0 END AS BIGINT) AS crossdup_flag
       |FROM agg ORDER BY doc_id ASC""".stripMargin

  // --- tx_bpe_merges: one BPE-training iteration --------------------------
  /** Top-20 adjacent character pairs by corpus frequency — the merge-pick
    * step of byte-pair-encoding tokenizer training (the starting vocabulary
    * is single characters; each BPE round merges the most frequent adjacent
    * pair). Scale shape: the ONLY corpus-sized stage is the word-count
    * aggregate, whose shuffle carries distinct words (map-side combined);
    * pair expansion, the weighted pair rollup, and the top-k all run over
    * the vocabulary frame, which is sublinear in corpus size. `pair_count`
    * weights by word frequency with within-word multiplicity ("aaa"
    * contributes "aa" twice per occurrence); `n_words` is the distinct
    * vocabulary words containing the pair. Deterministic (count desc, pair
    * asc) tie-break, TakeOrdered — never a global sort.
    */
  def txBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // Guard len >= 2: Spark's sequence(1, n) runs DESCENDING for n < 1.
    val pairs = wc.withColumn("pair", explode(
      when(length(col("w")) >= 2,
        transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))))
    pairs.groupBy(col("pair"))
      .agg(sum(col("freq")).as("pair_count"),
        countDistinct(col("w")).as("n_words"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(20)
  }

  val txBpeMergesSql: String =
    s"""WITH toks AS (
       |  SELECT ${tokensSql("text")} AS ts FROM documents
       |), w0 AS (
       |  SELECT unnest(ts) AS w FROM toks
       |), wc AS (
       |  SELECT w, COUNT(*) AS freq FROM w0 GROUP BY w
       |), pr AS (
       |  SELECT unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair,
       |    w, freq
       |  FROM wc
       |)
       |SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count,
       |  CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
       |FROM pr GROUP BY pair
       |ORDER BY pair_count DESC, pair ASC LIMIT 20""".stripMargin

  // --- tx_lang_confusion: language-ID confusion matrix ---------------------
  /** The audit behind tx_langid's per-doc predictions: the (truth,
    * predicted) confusion matrix with per-cell counts, each cell's share
    * of its TRUTH row in ppm (row-normalized recall), and the cell-level
    * correctness flag — what a language-ID heuristic change ships with
    * before re-labeling a corpus. One aggregate over the shared prediction
    * projection; the row-share window runs over the ≤|langs|² cell frame.
    */
  def txLangConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(Tables.documents(spark, dir))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("row_ppm", expr(
        "n_docs * 1000000 DIV sum(n_docs) OVER (PARTITION BY lang)"))
      .withColumn("correct", col("lang") === col("pred_lang"))
      .select("lang", "pred_lang", "n_docs", "row_ppm", "correct")
      .orderBy(col("lang").asc, col("pred_lang").asc)

  val txLangConfusionSql: String =
    s"""WITH t AS ($langIdSql), cell AS (
       |  SELECT lang, pred_lang, COUNT(*) AS n_docs FROM t
       |  GROUP BY lang, pred_lang
       |)
       |SELECT lang, pred_lang, n_docs,
       |  CAST(n_docs * 1000000 // SUM(n_docs) OVER (PARTITION BY lang)
       |    AS BIGINT) AS row_ppm,
       |  lang = pred_lang AS correct
       |FROM cell ORDER BY lang ASC, pred_lang ASC""".stripMargin

  // --- tx_sentence_stats: sentence segmentation signals --------------------
  /** Sentence-level structure signals (the Gopher battery's
    * mean-words-per-sentence heuristic, plus the degenerate-structure
    * flags it needs): '.'-split segments with ≥ 1 token count as
    * sentences; per doc the sentence count, total words, longest
    * sentence, and mean words/sentence (one double division of exact
    * integers — bit-stable cross-engine). Run-on text (no periods) shows
    * as n_sentences = 1 with a large mean; list-like text as many tiny
    * sentences. Map-only; the per-sentence word-count array materializes
    * once per doc (multi-reference projection).
    */
  def txSentenceStats(spark: SparkSession, dir: String): DataFrame = {
    val wcCol = transform(split(col("text"), "\\."),
      s => size(filter(split(trim(lower(s)), " +"), t => length(t) > 0)))
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), wcCol.as("wc"))
      .select(col("doc_id"), filter(col("wc"), c => c > 0).as("wcnz"))
    d.select(col("doc_id"),
        size(col("wcnz")).cast("bigint").as("n_sentences"),
        aggregate(col("wcnz"), lit(0L), (a, v) => a + v).as("n_words"),
        coalesce(array_max(col("wcnz")), lit(0)).cast("bigint")
          .as("max_sentence_words"))
      .withColumn("mean_words_per_sentence",
        col("n_words").cast("double") /
          greatest(col("n_sentences"), lit(1L)))
      .orderBy(col("doc_id").asc)
  }

  val txSentenceStatsSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(string_split(text, '.'),
      |      s -> len(list_filter(string_split_regex(trim(lower(s)), ' +'),
      |        t -> length(t) > 0))), c -> c > 0) AS wcnz
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(len(wcnz) AS BIGINT) AS n_sentences,
      |  CAST(COALESCE(list_sum(wcnz), 0) AS BIGINT) AS n_words,
      |  CAST(COALESCE(list_max(wcnz), 0) AS BIGINT) AS max_sentence_words,
      |  CAST(CAST(COALESCE(list_sum(wcnz), 0) AS BIGINT) AS DOUBLE)
      |    / greatest(len(wcnz), 1) AS mean_words_per_sentence
      |FROM w ORDER BY doc_id ASC""".stripMargin

  // --- tx_charset_profile: character-class composition ---------------------
  /** Character-class mix per document — the cheap encoding/noise screen
    * (mojibake, binary spill, digit-heavy tables all surface here before
    * any tokenizer runs): alphabetic / digit / whitespace / other shares
    * of the raw text in exact integer ppm. Counts come from length deltas
    * under class-targeted regexp_replace (global-flag in both engines);
    * pure map work over the corpus scan, no shuffle but the output order.
    */
  def txCharsetProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
      .withColumn("n_alpha",
        col("n_chars") - length(regexp_replace(col("text"), "[A-Za-z]", "")))
      .withColumn("n_digit",
        col("n_chars") - length(regexp_replace(col("text"), "[0-9]", "")))
      // Explicit class, not \s: Java's \s includes U+000B but RE2's does
      // not, so the shorthand silently diverges cross-engine on texts
      // containing a vertical tab.
      .withColumn("n_space",
        col("n_chars") - length(regexp_replace(col("text"), "[ \\t\\n\\x0B\\f\\r]", "")))
      .withColumn("d", greatest(col("n_chars"), lit(1L)))
      .select(col("doc_id"), col("n_chars"),
        expr("n_alpha * 1000000 DIV d").as("alpha_ppm"),
        expr("n_digit * 1000000 DIV d").as("digit_ppm"),
        expr("n_space * 1000000 DIV d").as("space_ppm"),
        expr("(n_chars - n_alpha - n_digit - n_space) * 1000000 DIV d")
          .as("other_ppm"))
      .orderBy(col("doc_id").asc)

  val txCharsetProfileSql: String =
    """WITH c AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
      |      AS BIGINT) AS n_alpha,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
      |      AS BIGINT) AS n_digit,
      |    CAST(length(text) - length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g'))
      |      AS BIGINT) AS n_space
      |  FROM documents
      |)
      |SELECT doc_id, n_chars,
      |  CAST(n_alpha * 1000000 // greatest(n_chars, 1) AS BIGINT) AS alpha_ppm,
      |  CAST(n_digit * 1000000 // greatest(n_chars, 1) AS BIGINT) AS digit_ppm,
      |  CAST(n_space * 1000000 // greatest(n_chars, 1) AS BIGINT) AS space_ppm,
      |  CAST((n_chars - n_alpha - n_digit - n_space) * 1000000
      |    // greatest(n_chars, 1) AS BIGINT) AS other_ppm
      |FROM c ORDER BY doc_id ASC""".stripMargin

  // --- tx_gopher_rules: composite rule-based quality filter ----------------
  /** Gopher-style rule filter (the published heuristic battery a curation
    * run applies before model-based scoring): per document the raw signals
    * (word count, total word chars, alphabetic words, stopword hits) and
    * one flag per rule — word count in [20, 1000], mean word length in
    * [3, 10], ≥ 80% alphabetic words, ≥ 2 stopwords — plus the composite
    * verdict. Every ratio test is cleared of division (3·n ≤ chars ≤ 10·n,
    * alpha·10 ≥ n·8), so flags are exact integer comparisons in both
    * engines. Map-only over the corpus; the token array materializes once
    * per doc (multi-reference, so CollapseProject keeps the projection).
    */
  def txGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
    val d = t.select(col("doc_id"),
      size(col("ts")).cast("bigint").as("n_words"),
      aggregate(transform(col("ts"), x => length(x).cast("long")),
        lit(0L), (a, v) => a + v).as("word_chars"),
      size(filter(col("ts"), x => x.rlike("^[a-z]+$"))).cast("bigint")
        .as("alpha_words"),
      stopHits(col("ts")).as("stop_hits"))
    d.withColumn("f_word_count", col("n_words").between(20L, 1000L))
      .withColumn("f_mean_word_len",
        col("word_chars") >= col("n_words") * 3 &&
          col("word_chars") <= col("n_words") * 10)
      .withColumn("f_alpha_ratio", col("alpha_words") * 10 >= col("n_words") * 8)
      .withColumn("f_stopwords", col("stop_hits") >= 2L)
      .withColumn("pass",
        col("f_word_count") && col("f_mean_word_len") &&
          col("f_alpha_ratio") && col("f_stopwords"))
      .select("doc_id", "n_words", "word_chars", "alpha_words", "stop_hits",
        "f_word_count", "f_mean_word_len", "f_alpha_ratio", "f_stopwords",
        "pass")
      .orderBy(col("doc_id").asc)
  }

  val txGopherRulesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSql("text")} AS ts FROM documents
       |), d AS (
       |  SELECT doc_id,
       |    CAST(len(ts) AS BIGINT) AS n_words,
       |    CAST(COALESCE(list_sum(list_transform(ts, x -> length(x))), 0)
       |      AS BIGINT) AS word_chars,
       |    CAST(len(list_filter(ts, x -> regexp_full_match(x, '[a-z]+')))
       |      AS BIGINT) AS alpha_words,
       |    ${stopHitsSql("ts")} AS stop_hits
       |  FROM t
       |)
       |SELECT doc_id, n_words, word_chars, alpha_words, stop_hits,
       |  n_words BETWEEN 20 AND 1000 AS f_word_count,
       |  word_chars >= n_words * 3 AND word_chars <= n_words * 10
       |    AS f_mean_word_len,
       |  alpha_words * 10 >= n_words * 8 AS f_alpha_ratio,
       |  stop_hits >= 2 AS f_stopwords,
       |  (n_words BETWEEN 20 AND 1000)
       |    AND (word_chars >= n_words * 3 AND word_chars <= n_words * 10)
       |    AND (alpha_words * 10 >= n_words * 8)
       |    AND (stop_hits >= 2) AS pass
       |FROM d ORDER BY doc_id ASC""".stripMargin

  // --- tx_rarity: per-doc mean corpus-frequency rank -----------------------
  /** Zipf-rank rarity scoring — the log-free twin of a unigram-LM
    * perplexity filter: every corpus token type gets its frequency rank
    * (1 = most frequent; count desc, token asc tie-break), and a document
    * scores the mean rank of its token stream — rare-token-heavy documents
    * rank high, boilerplate ranks low. Cross-engine exact: ranks are
    * integers, the mean is one double division of exact integer sums.
    * Shape: one explode → token-type aggregate (map-side combinable, its
    * shuffle carries distinct tokens with partial counts), the vocabulary
    * rank runs DISTRIBUTED via [[PrefixScan.scanState]]'s empty-group
    * case (the naive total-order ROW_NUMBER — kept as the oracle — would
    * serialize the vocabulary through one task), and the ranked frame
    * joins back to the token stream on the token key — AQE broadcasts it
    * while the vocabulary fits (leaving the corpus stream UNSHUFFLED: the
    * per-doc rollup exchanges map-side partials only), degrading to a
    * token-keyed shuffle join only when it doesn't.
    */
  def txRarity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val ranked = PrefixScan.scanState(vocab, Seq.empty,
        Seq(negate(col("cnt")), col("tok")), lit(1L),
        rankOut = Some("rank"))
      .select(col("tok"), col("rank"))
    toks.join(ranked, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("rank")).as("sum_rank"))
      .withColumn("mean_rank",
        col("sum_rank").cast("double") / col("n_tokens"))
      .select("doc_id", "n_tokens", "sum_rank", "mean_rank")
      .orderBy(col("doc_id").asc)
  }

  val txRaritySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents
       |), vocab AS (
       |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
       |), ranked AS (
       |  SELECT tok,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT)
       |      AS rank
       |  FROM vocab
       |)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(r.rank) AS BIGINT) AS sum_rank,
       |  CAST(CAST(SUM(r.rank) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_rank
       |FROM toks t JOIN ranked r ON t.tok = r.tok
       |GROUP BY t.doc_id ORDER BY t.doc_id ASC""".stripMargin

  // --- tx_novelty: first-occurrence content share per document ------------
  /** Content novelty per document: of the doc's distinct word-3gram
    * shingles, the share whose FIRST corpus occurrence (minimum doc_id
    * over the shingle) is this document — in exact integer ppm. This is
    * the ordering-free "how much of this doc is new content" signal a
    * curation run uses to rank near-boilerplate documents for ablation
    * (low novelty = mostly content already present elsewhere; the
    * doc-level complement of [[txCrossdup]]'s corpus scalar and
    * dd_shingle_hist's df curve).
    *
    * Shape: the shingle projection is the shared two-stage code pipeline
    * (compiled kernels, map-only); first-occurrence is ONE aggregate over
    * (code, doc_id) pairs — 16 bytes a row, never text — rejoined on the
    * 8-byte code; the per-doc rollup map-side-combines. Docs with < 3
    * tokens have no shingles and no row, by definition.
    */
  def txNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), strCodes(tokens(col("text"))).as("tcs"))
      .select(col("doc_id"), explode(shingleCodes3(col("tcs"))).as("x"))
    val firstSeen = sh.groupBy(col("x")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstSeen, "x")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 DIV n_shingles"))
      .orderBy(col("doc_id").asc)
  }

  val txNoveltySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS ts FROM documents
       |), tc AS (
       |  SELECT doc_id, ${strCodesSql("ts")} AS tcs FROM toks
       |), sc AS (
       |  SELECT doc_id, ${shingleCodes3Sql("tcs")} AS scs FROM tc
       |), sh AS (
       |  SELECT doc_id, unnest(scs) AS x FROM sc
       |), fs AS (
       |  SELECT x, MIN(doc_id) AS first_doc FROM sh GROUP BY x
       |)
       |SELECT s.doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
       |    * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
       |FROM sh s JOIN fs f ON s.x = f.x
       |GROUP BY s.doc_id ORDER BY s.doc_id ASC""".stripMargin

  // --- tx_zipf: rank-frequency conformance of the corpus head ------------
  /** Zipf's-law conformance report over the 50 most frequent corpus tokens:
    * rank (1-based, count-desc/token-asc total order), observed count, the
    * ideal-Zipf prediction `c1 / rank` (integer floor of the rank-1 count
    * scaled by rank) and the rank-frequency product ratio
    * `cnt * rank / c1` — exactly 1.0 under ideal Zipf, drifting low for
    * head-heavy (templated/boilerplate) corpora and high for flat
    * (synthetic/shuffled) ones. The standard corpus-health probe a
    * tokenizer/mixture change is sanity-checked against: natural-language
    * corpora hold the ratio near 1 across the head; a drifting head is the
    * first symptom of duplicated boilerplate or a broken text extractor.
    * No logarithms (repo gate policy — ln is not correctly rounded
    * cross-engine, see [[txDiversity]]): the ratio is one IEEE division of
    * exact integers (`cnt * rnk` ≤ 2^53 up to ~10^11-token heads), so both
    * engines produce the identical double.
    *
    * Shape: the only corpus-sized stage is the token-count aggregate
    * (map-side combined, shuffle carries distinct words); the top-50 is a
    * TakeOrdered — never a global sort — and the rank/max windows run over
    * the 50-row frame (unpartitioned Window over aggregated+limited input,
    * the PlanShapeSpec-sanctioned bounded case).
    */
  def txZipf(spark: SparkSession, dir: String): DataFrame =
    zipfOf(Tables.documents(spark, dir))

  private[graft] def zipfOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val top = wc.orderBy(col("cnt").desc, col("tok").asc).limit(50)
    top
      .select(
        row_number().over(Window.orderBy(col("cnt").desc, col("tok").asc))
          .as("rnk"),
        col("tok"), col("cnt"),
        max(col("cnt")).over(Window.partitionBy()).as("c1"))
      .select(col("rnk"), col("tok"), col("cnt"),
        expr("c1 DIV rnk").as("zipf_pred"),
        round(col("cnt").cast("double") * col("rnk") / col("c1"), 6)
          .as("rf_ratio"))
      .orderBy(col("rnk").asc)
  }

  val txZipfSql: String =
    s"""WITH w0 AS (
       |  SELECT unnest(${tokensSql("text")}) AS tok FROM documents
       |), wc AS (
       |  SELECT tok, COUNT(*) AS cnt FROM w0 GROUP BY tok
       |), top AS (
       |  SELECT tok, cnt FROM wc ORDER BY cnt DESC, tok ASC LIMIT 50
       |), rk AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rnk,
       |    tok, cnt, MAX(cnt) OVER () AS c1
       |  FROM top
       |)
       |SELECT rnk, tok, cnt, CAST(c1 // rnk AS BIGINT) AS zipf_pred,
       |  round(CAST(cnt AS DOUBLE) * rnk / c1, 6) AS rf_ratio
       |FROM rk ORDER BY rnk ASC""".stripMargin

  // --- tx_bigram_stats: per-source bigram branching profile ---------------
  /** Per-source adjacent-token (bigram) structure profile: total and
    * distinct bigram counts, bigram type-token ratio, the average
    * branching factor (distinct successors per distinct prefix token — the
    * log-free stand-in for conditional next-token entropy) and the
    * highest-branching prefix token. Flat branching with high bigram TTR
    * reads as natural text; a collapsed branching factor (few successors
    * per prefix) flags templated or machine-generated sources before they
    * pollute a training mixture — this is the per-source triage view the
    * mixture designer reads next to [[txBigramFreqScore]]'s per-doc score.
    * All statistics are exact integer/rational arithmetic (ppm via integer
    * division; argmax via lexicographic struct max with token tie-break),
    * so the cross-engine hash gate holds bit-identically.
    *
    * Shape: bigram expansion is a map-only indexed `transform` off the
    * token array (no window, no self-join); the one corpus-sized shuffle
    * is the (source, a, b) count with map-side partials, and every later
    * stage runs over the distinct-bigram frame, sublinear in corpus size.
    */
  def txBigramStats(spark: SparkSession, dir: String): DataFrame =
    bigramStatsOf(Tables.documents(spark, dir))

  private[graft] def bigramStatsOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("source"), tokens(col("text")).as("ts"))
    // Guard size >= 2: Spark's sequence(1, n) runs DESCENDING for n < 1.
    val bg = toks
      .select(col("source"), explode(
        when(size(col("ts")) >= 2,
          transform(sequence(lit(1), size(col("ts")) - 1),
            i => struct(element_at(col("ts"), i).as("a"),
              element_at(col("ts"), i + 1).as("b"))))
          .otherwise(array().cast("array<struct<a:string,b:string>>")))
        .as("p"))
      .select(col("source"), col("p.a").as("a"), col("p.b").as("b"))
    val bc = bg.groupBy(col("source"), col("a"), col("b"))
      .agg(count(lit(1)).as("c"))
    val pref = bc.groupBy(col("source"), col("a"))
      .agg(sum(col("c")).as("n_from"), count(lit(1)).as("n_succ"))
    pref.groupBy(col("source"))
      .agg(sum(col("n_from")).as("n_bigrams"),
        sum(col("n_succ")).as("n_distinct_bigrams"),
        count(lit(1)).as("n_prefixes"),
        max(struct(col("n_succ").as("c"), col("a").as("t"))).as("mx"))
      .select(col("source"), col("n_bigrams"), col("n_distinct_bigrams"),
        col("n_prefixes"),
        expr("n_distinct_bigrams * 1000000 DIV greatest(n_prefixes, 1)")
          .as("branching_ppm"),
        expr("n_distinct_bigrams * 1000000 DIV greatest(n_bigrams, 1)")
          .as("bigram_ttr_ppm"),
        col("mx.t").as("top_prefix"), col("mx.c").as("top_prefix_succ"))
      .orderBy(col("source").asc)
  }

  val txBigramStatsSql: String =
    s"""WITH toks AS (
       |  SELECT source, ${tokensSql("text")} AS ts FROM documents
       |), bg AS (
       |  SELECT source,
       |    unnest([{'a': ts[i], 'b': ts[i+1]}
       |      for i in range(1, greatest(len(ts), 1))]) AS p
       |  FROM toks
       |), pairs AS (
       |  SELECT source, p['a'] AS a, p['b'] AS b FROM bg
       |), bc AS (
       |  SELECT source, a, b, COUNT(*) AS c FROM pairs GROUP BY source, a, b
       |), pref AS (
       |  SELECT source, a, CAST(SUM(c) AS BIGINT) AS n_from,
       |    COUNT(*) AS n_succ
       |  FROM bc GROUP BY source, a
       |), agg AS (
       |  SELECT source, CAST(SUM(n_from) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(n_succ) AS BIGINT) AS n_distinct_bigrams,
       |    COUNT(*) AS n_prefixes,
       |    (MAX({'c': n_succ, 't': a})).t AS top_prefix,
       |    (MAX({'c': n_succ, 't': a})).c AS top_prefix_succ
       |  FROM pref GROUP BY source
       |)
       |SELECT source, n_bigrams, n_distinct_bigrams, n_prefixes,
       |  CAST(n_distinct_bigrams * 1000000 // greatest(n_prefixes, 1)
       |    AS BIGINT) AS branching_ppm,
       |  CAST(n_distinct_bigrams * 1000000 // greatest(n_bigrams, 1)
       |    AS BIGINT) AS bigram_ttr_ppm,
       |  top_prefix, top_prefix_succ
       |FROM agg ORDER BY source ASC""".stripMargin

  // --- tx_unigram_logprob: corpus unigram-LM surprisal ---------------------
  /** Per-(lang, source) mean unigram surprisal under the corpus's own
    * unigram language model — the cheap perplexity proxy used to rank
    * training-data slices before any neural scoring. Per-token surprisal
    * ln(total/count) is quantized ONCE to integer micro-nats, then all
    * aggregation (DECIMAL(38,0)/HUGEINT sum, integral divide by token
    * count) is exact integer arithmetic — summation order can't perturb
    * the result across engines. The one transcendental dependency: JVM
    * Math.log and DuckDB's libm ln are each within ~1 ulp but not
    * correctly rounded, so a ratio whose ln·10⁶ sits within ~10⁻⁸ of a
    * .5 rounding boundary COULD quantize differently per engine;
    * GrowthOpsSpec's margin tripwire asserts every corpus ratio clears
    * the boundary by ≥ 10⁻⁴ (four orders of magnitude of headroom), so
    * data drift surfaces as a spec failure, not a gate flake.
    *
    * Scale: tokenize is per-doc map work; the vocab is one token-keyed
    * aggregate (map-side partial combine shrinks it before the shuffle);
    * the corpus-total join is a 1-row broadcast; the token→surprisal join
    * shuffles on the token key where AQE splits the heavy-hitter stopword
    * partitions. Final report is |lang|·|source| rows.
    */
  def txUnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), col("source"), explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val unats = vocab.crossJoin(broadcast(total))
      .withColumn("unats",
        round(log(col("total").cast("double") / col("cnt")) * 1000000)
          .cast("bigint"))
      .select(col("tok"), col("unats"))
    toks.join(unats, Seq("tok"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("vocab_size"),
        // DECIMAL(38,0) sum + integral divide: the DuckDB side sums in
        // HUGEINT and floor-divides exactly, so the Spark side must not
        // wrap a LongType sum or round through a double quotient.
        sum(col("unats").cast("decimal(38,0)")).as("sum_unats"))
      .withColumn("mean_surprisal_unats",
        expr("CAST((sum_unats div n_tokens) AS BIGINT)"))
      .select("lang", "source", "n_tokens", "vocab_size", "mean_surprisal_unats")
      .orderBy(col("lang").asc, col("source").asc)
  }

  val txUnigramLogprobSql: String =
    s"""WITH toks AS (
       |  SELECT lang, source, unnest(${tokensSql("text")}) AS tok FROM documents
       |), vocab AS (
       |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
       |), tot AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab
       |), u AS (
       |  SELECT tok,
       |    CAST(round(ln(CAST(total AS DOUBLE) / cnt) * 1000000) AS BIGINT) AS unats
       |  FROM vocab, tot
       |)
       |SELECT t.lang, t.source, COUNT(*) AS n_tokens,
       |  CAST(COUNT(DISTINCT t.tok) AS BIGINT) AS vocab_size,
       |  CAST(SUM(u.unats) // COUNT(*) AS BIGINT) AS mean_surprisal_unats
       |FROM toks t JOIN u ON t.tok = u.tok
       |GROUP BY t.lang, t.source
       |ORDER BY t.lang ASC, t.source ASC""".stripMargin

  // --- tx_readability: vowel-group syllable density per language ----------
  /** Flesch-style readability density per language in exact integer milli
    * units. Syllables are the classic vowel-group proxy: maximal runs of
    * [aeiouy] in the lower-cased text, counted cross-engine as
    * len(replace-each-run-with-'#') − len(delete-runs) — one global
    * regexp_replace pair, no per-token lambda. The corpus carries no
    * sentence punctuation (see [[txSentenceStats]]), so the
    * words-per-sentence term binds to words-per-DOCUMENT; the formula is
    * Flesch's with that documented substitution:
    * flesch_milli = 206835 − (1015·words) div docs − (84600·syll) div words,
    * each term an integral divide of a non-negative product widened to
    * DECIMAL(38,0)/HUGEINT (a 100 TB corpus's word count × 84600 clears
    * int64). Non-Latin scripts (zh) have ~no [aeiouy] runs — their rows
    * report the degenerate proxy deterministically rather than a fake.
    *
    * Scale: one scan, map-side-combined aggregate to |langs| rows; the
    * regexp pair is codegen'd per row. No joins, no windows.
    */
  def txReadability(spark: SparkSession, dir: String): DataFrame =
    readabilityOf(Tables.documents(spark, dir))

  /** The readability core over any documents-shaped frame (lang, text) —
    * spec seam for hand-counted vowel-group inputs.
    */
  private[graft] def readabilityOf(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        tokenCount(col("text")).as("nw"),
        (length(regexp_replace(lower(col("text")), "[aeiouy]+", "#")) -
          length(regexp_replace(lower(col("text")), "[aeiouy]+", "")))
          .cast("long").as("sy"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("sy")).as("n_syllables"))
      .withColumn("wpd_milli", expr(
        "CAST(CAST(n_words AS DECIMAL(38,0)) * 1000 div n_docs AS BIGINT)"))
      .withColumn("spw_milli", expr(
        "CAST(CAST(n_syllables AS DECIMAL(38,0)) * 1000 div n_words AS BIGINT)"))
      .withColumn("flesch_milli", expr(
        "CAST(206835 - CAST(n_words AS DECIMAL(38,0)) * 1015 div n_docs" +
          " - CAST(n_syllables AS DECIMAL(38,0)) * 84600 div n_words" +
          " AS BIGINT)"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_syllables"),
        col("wpd_milli"), col("spw_milli"), col("flesch_milli"))
      .orderBy(col("lang").asc)

  val txReadabilitySql: String =
    s"""WITH d AS (
       |  SELECT lang,
       |    ${tokenCountSql("text")} AS nw,
       |    CAST(length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
       |      - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
       |      AS BIGINT) AS sy
       |  FROM documents
       |), g AS (
       |  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS n_words,
       |    CAST(SUM(sy) AS BIGINT) AS n_syllables
       |  FROM d GROUP BY lang
       |)
       |SELECT lang, n_docs, n_words, n_syllables,
       |  CAST(CAST(n_words AS HUGEINT) * 1000 // n_docs AS BIGINT)
       |    AS wpd_milli,
       |  CAST(CAST(n_syllables AS HUGEINT) * 1000 // n_words AS BIGINT)
       |    AS spw_milli,
       |  CAST(206835 - CAST(n_words AS HUGEINT) * 1015 // n_docs
       |    - CAST(n_syllables AS HUGEINT) * 84600 // n_words AS BIGINT)
       |    AS flesch_milli
       |FROM g ORDER BY lang ASC""".stripMargin

  /** The registered text-analysis queries. `fanned`: tokenize, regex
    * and n-gram kernels over the text column.
    */
  val registry: Seq[Query] = Seq(
    Query("tx_readability", txReadability, txReadabilitySql, fanned),
    Query("tx_unigram_logprob", txUnigramLogprob, txUnigramLogprobSql),
    Query("tx_zipf", txZipf, txZipfSql, fanned),
    Query("tx_bigram_stats", txBigramStats, txBigramStatsSql, fanned),
    Query("tx_novelty", txNovelty, txNoveltySql, fanned),
    Query("tx_lang_confusion", txLangConfusion, txLangConfusionSql, fanned),
    Query("tx_sentence_stats", txSentenceStats, txSentenceStatsSql),
    Query("tx_charset_profile", txCharsetProfile, txCharsetProfileSql, fanned),
    Query("tx_gopher_rules", txGopherRules, txGopherRulesSql, fanned),
    Query("tx_rarity", txRarity, txRaritySql),
    Query("tx_bpe_merges", txBpeMerges, txBpeMergesSql),
    Query("tx_crossdup", txCrossdup, txCrossdupSql, fanned),
    Query("tx_diversity", txDiversity, txDiversitySql, fanned),
    Query("tx_countmin_freq", txCountminFreq, txCountminFreqSql, fanned),
    Query("tx_length_histogram", txLengthHistogram, txLengthHistogramSql),
    Query("tx_pii", txPii, txPiiSql, fanned),
    Query("tx_contamination", txContamination, txContaminationSql, fanned),
    Query("tx_repetition", txRepetition, txRepetitionSql, fanned),
    Query("tx_tfidf_top_terms", txTfidfTopTerms, txTfidfTopTermsSql, fanned),
    Query("tx_bigram_freq_score", txBigramFreqScore,
      txBigramFreqScoreSql, fanned),
    Query("tx_langid", txLangid, txLangidSql, fanned),
    Query("tx_quality", txQuality, txQualitySql, fanned),
    Query("tx_tokens", txTokens, txTokensSql, fanned),
    Query("tx_fertility", txFertility, txFertilitySql, fanned),
    Query("tx_fingerprint", txFingerprint, txFingerprintSql, fanned))
}
