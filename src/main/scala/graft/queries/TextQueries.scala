package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable._

/** Text-analysis operators over the `documents` table — SURVEY.md §2
  * items 28-31: token counting, quality scoring, language-ID scoring,
  * document fingerprinting. All metrics are plain column expressions
  * (whole-stage codegen, no UDFs) and scale linearly with the corpus —
  * no shuffle at all: one scan, one projection per document.
  */
object TextQueries {

  /** §2.28 — whitespace token count + regex (BPE-ish) token count. */
  def qtTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))
          .as("n_tokens_re"),
        length(col("text")).as("len_chars"))
      .orderBy("doc_id")

  val qtTokensSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_tokens_re,
      |  length(text) AS len_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** §2.28r — tokenizer fertility by language: per `lang`, the ratio
    * of subword tokens to whitespace words (the "fertility" number
    * tokenizer reports quote — how many tokens a word costs in each
    * language) plus chars-per-token. The subword count is a 4-char
    * fixed-stride proxy Σ_w ⌈len(w)/4⌉ — a deterministic stand-in for
    * a BPE vocab (which is a model artifact, not a corpus property)
    * that still moves with each language's word-length distribution,
    * where a punctuation-split regex degenerates to fertility ≡ 1 on
    * clean space-separated text. One combinable aggregate of exact
    * integer counts per language (the per-word ceil-divisions fold
    * in-row through an integer `aggregate` HOF); ratios divide exact
    * longs once at the end. */
  def qtFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("ws_tokens"),
        sum(expr(
          "aggregate(split(text, ' '), 0L, " +
            "(a, w) -> a + (length(w) + 3) div 4)")).as("sub_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("sub_tokens"),
        round(col("sub_tokens").cast("double") /
          col("ws_tokens").cast("double"), 6).as("fertility"),
        round(col("n_chars").cast("double") /
          col("sub_tokens").cast("double"), 6).as("chars_per_token"))
      .orderBy("lang")

  val qtFertilitySql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |  CAST(SUM(list_sum(list_transform(string_split(text, ' '),
      |    w -> (length(w) + 3) // 4))) AS BIGINT) AS sub_tokens,
      |  round(CAST(SUM(list_sum(list_transform(string_split(text, ' '),
      |      w -> (length(w) + 3) // 4))) AS DOUBLE)
      |    / SUM(len(string_split(text, ' '))), 6) AS fertility,
      |  round(CAST(SUM(length(text)) AS DOUBLE)
      |    / SUM(list_sum(list_transform(string_split(text, ' '),
      |      w -> (length(w) + 3) // 4))), 6) AS chars_per_token
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  private[queries] val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** §2.29 — quality score from length / distinctness / stopword ratios.
    * All doubles derive from exact integer counts through identical
    * expression trees, so values are bit-identical across engines. */
  def qtQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopRatio = countIn(toks, stopwords).cast("double") / nTok
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        stopRatio.as("stop_ratio"),
        distinctRatio.as("distinct_ratio"),
        lenScore.as("len_score"),
        (lit(0.3) * lenScore + lit(0.4) * distinctRatio +
          lit(0.3) * (lit(1.0) - stopRatio)).as("quality_score"))
      .orderBy("doc_id")
  }

  val qtQualitySql: String = {
    val stop = stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stop))) AS DOUBLE)
       |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
       |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) AS len_score,
       |  0.3 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0)
       |    + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |             / CAST(len(string_split(text, ' ')) AS DOUBLE))
       |    + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stop))) AS DOUBLE)
       |             / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS quality_score
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Stopword profiles per language for the ID heuristic. */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "y"),
    "de" -> Seq("der", "die", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "et"),
    "zh" -> Seq("de", "shi", "bu", "le"))

  /** §2.30 — language-ID: stopword-profile hit counts + argmax with a
    * fixed priority order for ties. */
  def qtLangid(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val scores = langProfiles.map { case (lang, words) =>
      lang -> countIn(toks, words)
    }
    val maxScore = greatest(scores.map(_._2): _*)
    val predicted = scores.foldRight(lit("und"): Column) {
      case ((lang, score), els) => when(score === maxScore && maxScore > 0, lang).otherwise(els)
    }
    // foldRight gives en > es > de > fr > zh priority on ties
    Tables.load(spark, dir, "documents")
      .select(col("doc_id") +:
        scores.map { case (l, s) => s.as(s"score_$l") } :+
        predicted.as("predicted_lang"): _*)
      .orderBy("doc_id")
  }

  val qtLangidSql: String = {
    def cnt(words: Seq[String]) = {
      val in = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($in)))"
    }
    val scoreCols = langProfiles
      .map { case (l, ws) => s"  ${cnt(ws)} AS score_$l," }.mkString("\n")
    val greatest = "greatest(" + langProfiles.map(p => cnt(p._2)).mkString(", ") + ")"
    val caseExpr = langProfiles.map { case (l, ws) =>
      s"WHEN ${cnt(ws)} = $greatest AND $greatest > 0 THEN '$l'"
    }.mkString("\n    ", "\n    ", "\n    ELSE 'und' END")
    s"""SELECT doc_id,
       |$scoreCols
       |  CASE$caseExpr AS predicted_lang
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Characteristic character trigrams per language (space-padded ones
    * anchor word boundaries). */
  private val charProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", " th", "ing", "and"),
    "es" -> Seq(" de", "que", "los", " la"),
    "de" -> Seq("der", "sch", "ein", "ich"),
    "fr" -> Seq(" le", "les", "ent", " et"),
    "zh" -> Seq("zh", "ng ", "sh", "xi"))

  /** §2.30b — language-ID via character n-gram counting: per language,
    * total occurrences of its characteristic trigrams. Occurrences are
    * counted with the replace/length identity (exact integer arithmetic
    * in any engine, no regex dialect in play); same argmax + tie
    * priority as the stopword variant. */
  def qtLangidNgram(spark: SparkSession, dir: String): DataFrame = {
    def occurrences(pat: String): Column =
      (length(col("text")) - length(regexp_replace(col("text"),
        java.util.regex.Pattern.quote(pat), ""))) / pat.length
    val scores = charProfiles.map { case (lang, grams) =>
      lang -> grams.map(occurrences).reduce(_ + _).cast("bigint")
    }
    val maxScore = greatest(scores.map(_._2): _*)
    val predicted = scores.foldRight(lit("und"): Column) {
      case ((lang, score), els) =>
        when(score === maxScore && maxScore > 0, lang).otherwise(els)
    }
    Tables.load(spark, dir, "documents")
      .select(col("doc_id") +:
        scores.map { case (l, s) => s.as(s"score_$l") } :+
        predicted.as("predicted_lang"): _*)
      .orderBy("doc_id")
  }

  val qtLangidNgramSql: String = {
    def occ(pat: String) = {
      val esc = pat.replace("'", "''")
      s"(length(text) - length(replace(text, '$esc', ''))) / ${pat.length}"
    }
    def score(grams: Seq[String]) =
      s"CAST(${grams.map(occ).mkString(" + ")} AS BIGINT)"
    val scoreCols = charProfiles
      .map { case (l, gs) => s"  ${score(gs)} AS score_$l," }.mkString("\n")
    val greatestExpr =
      "greatest(" + charProfiles.map(p => score(p._2)).mkString(", ") + ")"
    val caseExpr = charProfiles.map { case (l, gs) =>
      s"WHEN ${score(gs)} = $greatestExpr AND $greatestExpr > 0 THEN '$l'"
    }.mkString("\n    ", "\n    ", "\n    ELSE 'und' END")
    s"""SELECT doc_id,
       |$scoreCols
       |  CASE$caseExpr AS predicted_lang
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** §2.31 — document fingerprint: minimum md5 over 5-word shingles
    * (a 1-permutation MinHash — robust to local edits). */
  def qtFingerprint(spark: SparkSession, dir: String): DataFrame =
    // Tokens materialised before the transform (see Portable.shingles);
    // array_min of the empty under-n-token array is null, matching the
    // oracle's CASE ... ELSE NULL.
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), tokens(col("text")).as("__toks"))
      .select(
        col("doc_id"),
        array_min(shingles(col("__toks"), 5)).as("fingerprint"),
        md5(col("text")).as("exact_hash"))
      .orderBy("doc_id")

  val qtFingerprintSql: String =
    """SELECT doc_id,
      |  CASE WHEN len(string_split(text, ' ')) >= 5 THEN
      |    list_min(list_transform(
      |      range(1, len(string_split(text, ' ')) - 3),
      |      i -> md5(array_to_string(string_split(text, ' ')[i:i+4], ' '))))
      |  ELSE NULL END AS fingerprint,
      |  md5(text) AS exact_hash
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** PII patterns for redaction — ordered, applied left to right. */
  private val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "https?://[^ ]+" -> "<URL>")

  /** Text scrubbing: sequential regex redaction of PII-shaped spans —
    * the standard pre-training cleanup pass. Pure regexp_replace chain:
    * codegen'd, no shuffle, linear scan. */
  def qtRedact(spark: SparkSession, dir: String): DataFrame = {
    val redacted = piiPatterns.foldLeft(col("text")) {
      case (c, (pat, rep)) => regexp_replace(c, pat, rep)
    }
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), redacted.as("clean_text"),
        (length(col("text")) - length(redacted)).as("n_chars_removed"))
      .orderBy("doc_id")
  }

  val qtRedactSql: String = {
    val redacted = piiPatterns.foldLeft("text") {
      // DuckDB string literals keep backslashes verbatim — no re-escaping.
      case (c, (pat, rep)) => s"regexp_replace($c, '$pat', '$rep', 'g')"
    }
    s"""SELECT doc_id, $redacted AS clean_text,
       |  length(text) - length($redacted) AS n_chars_removed
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic train/validation/test assignment: md5-hash bucketing
    * on doc_id — stable under reprocessing, uniformly distributed, and
    * embarrassingly parallel (the split of a 100 TB corpus is a
    * projection, not a shuffle). */
  def qtSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = md5Hash32(concat_ws(":", lit("split"), col("doc_id"))) % 100
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), bucket.as("bucket"),
        when(bucket < 80, "train").when(bucket < 90, "valid")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  val qtSplitSql: String =
    """SELECT doc_id,
      |  ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 100 AS bucket,
      |  CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 100 < 80 THEN 'train'
      |       WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 100 < 90 THEN 'valid'
      |       ELSE 'test' END AS split
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Per-source corpus statistics: doc counts, exact char/token means and
    * interpolated median — the monitoring rollup of an ingest pipeline.
    * One shuffle on the (small) source key. */
  def qtCorpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("n_chars"),
        size(tokens(col("text"))).as("__n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        expr("percentile(__n_tok, 0.5)").as("median_tokens"))
      .orderBy("source")

  val qtCorpusStatsSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  quantile_cont(len(string_split(text, ' ')), 0.5) AS median_tokens
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** §2.28k — lexical diversity per source: vocabulary size, hapax
    * legomena rate (share of vocabulary occurring exactly once), and
    * type-token ratio. Low hapax + low TTR is the fingerprint of
    * templated/machine-generated text; humans keep minting rare words.
    * One explode feeds a combinable (source, token) count, then the
    * per-source rollup runs over the COUNTED vocabulary rows (≪ raw
    * token rows) — the same two-level shape as TF-IDF, all-integer
    * until the two final ratio divisions. */
  def qtHapax(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("__c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(col("__c")).as("n_tokens"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("hapax_vocab"))
      .select(col("source"), col("vocab"), col("n_tokens"),
        round(col("hapax_vocab").cast("double") / col("vocab"), 6)
          .as("hapax_rate"),
        round(col("vocab").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"))
      .orderBy("source")

  val qtHapaxSql: String =
    """WITH tc AS (
      |  SELECT source, t.token, COUNT(*) AS c
      |  FROM documents, LATERAL unnest(string_split(text, ' ')) AS t(token)
      |  GROUP BY source, t.token
      |)
      |SELECT source, COUNT(*) AS vocab,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS hapax_rate,
      |  round(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS type_token_ratio
      |FROM tc GROUP BY source
      |ORDER BY source""".stripMargin

  /** TF-IDF: top-5 scoring tokens per document. tf = cnt/|doc|, idf =
    * ln((N+1)/(df+1)) + 1 (smoothed). Shape: one explode + (doc, token)
    * count, then doc-length and document-frequency come from two window
    * passes over the COUNTED rows (≪ raw token rows) instead of two
    * extra self-joins. Ranking and output use round(·, 6): Java's
    * Math.log and libm's ln disagree in the last ulp on ~0.02% of
    * inputs (measured), and the rounded value is where that noise dies.
    */
  def qtTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val nDocs = docs.count() // column-pruned count scan, once per build
    val tf = docs
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), explode_outer(col("__toks")).as("token")) // see simhash32 note
      .where(col("token").isNotNull)
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("cnt"))
    // token window FIRST, doc_id window second: the later rank window is
    // also doc_id-partitioned, so it reuses the n_tok exchange (sort
    // only). A broadcast-joined df aggregate was measured equal here and
    // WORSE at scale: its build side duplicates the scan+explode+tf
    // subtree (no ReusedExchange across differing aggregates), and the
    // scan is the dominant cost at corpus scale.
    val scored = tf
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("token")))
      .withColumn("__n_tok", sum(col("cnt")).over(Window.partitionBy("doc_id")))
      .withColumn("tfidf", round(
        (col("cnt").cast("double") / col("__n_tok").cast("double")) *
          (log((lit(nDocs).cast("double") + lit(1.0)) /
            (col("__df").cast("double") + lit(1.0))) + lit(1.0)), 6))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))))
      .where(col("rank") <= 5)
      .select("doc_id", "token", "tfidf", "rank")
      .orderBy("doc_id", "rank")
  }

  /** §2.28j — Okapi BM25 ranking (k1=1.2, b=0.75): the doc-length-
    * normalized relevance score [[qtTfidf]] lacks — tf saturates at k1+1
    * and long documents stop winning on raw term repetition. The query
    * is data-derived and deterministic: the 6 vocabulary terms at global
    * document-frequency ranks 10–15 (df DESC, token tie-break) — mid-
    * frequency terms, where BM25's idf actually discriminates. Scoring
    * shape at scale: the tf frame is one (doc, token) shuffle (shared
    * shape with qt_tfidf), per-doc length rides the same doc-keyed
    * exchange as a window, the 6-term query and the 1-row corpus stats
    * (N, avgdl) are broadcast (scalar-subquery pattern, PlanAudit-
    * documented), and the final top-20 is a TakeOrdered — no global
    * sort. idf = ln(1 + (N − df + 0.5)/(df + 0.5)) ≥ 0 (Lucene form);
    * scores are rounded once to 6 before the rank tie-break on doc_id,
    * the suite's cross-engine double discipline. */
  /** Shared retrieval base for [[qtBm25]] / [[qtRrfFusion]]: the
    * (doc, query-term) matched tf frame carrying per-doc length, term
    * document frequency, and the broadcast 1-row corpus stats
    * (total tokens `__tot`, doc count `__nd`). Query = vocabulary
    * terms at global df ranks 10–15, selected by TakeOrdered. */
  private def queryTermFrame(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("token"))
      .where(col("token").isNotNull)
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("cnt"))
    val withDl = tf.withColumn("__dl",
      sum("cnt").over(Window.partitionBy("doc_id")))
    val dfFrame = tf.groupBy("token").agg(count(lit(1)).as("__df"))
    // TakeOrdered (orderBy+limit) over the collapsed vocab frame, THEN
    // a 15-row rank window — never a global row_number over the vocab.
    val qterms = dfFrame
      .orderBy(col("__df").desc, col("token")).limit(15)
      .withColumn("__r", row_number().over(
        Window.orderBy(col("__df").desc, col("token"))))
      .where(col("__r").between(10, 15))
      .select("token", "__df")
    val stats = broadcast(withDl
      .agg(sum("cnt").as("__tot"),
        countDistinct(col("doc_id")).as("__nd")))
    withDl
      .join(broadcast(qterms), "token")
      .crossJoin(stats)
  }

  def qtBm25(spark: SparkSession, dir: String): DataFrame = {
    queryTermFrame(spark, dir)
      .withColumn("__idf",
        log(lit(1.0) +
          (col("__nd").cast("double") - col("__df").cast("double") +
            lit(0.5)) / (col("__df").cast("double") + lit(0.5))))
      .withColumn("__norm",
        lit(1.0) - lit(0.75) + lit(0.75) *
          (col("__dl").cast("double") * col("__nd").cast("double") /
            col("__tot").cast("double")))
      .withColumn("__s",
        col("__idf") * (col("cnt").cast("double") * lit(2.2)) /
          (col("cnt").cast("double") + lit(1.2) * col("__norm")))
      .groupBy("doc_id")
      .agg(round(sum("__s"), 6).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
      // TakeOrdered top-20, then rank the 20 survivors — the global
      // row_number window never sees the full scored corpus.
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select("rank", "doc_id", "bm25", "n_terms_hit")
      .orderBy("rank")
  }

  val qtBm25Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, token, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents)
      |  GROUP BY doc_id, token
      |), dl AS (
      |  SELECT *, SUM(cnt) OVER (PARTITION BY doc_id) AS dlen FROM tf
      |), dfreq AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
      |), qterms AS (
      |  SELECT token, df FROM (
      |    SELECT token, df,
      |      ROW_NUMBER() OVER (ORDER BY df DESC, token) AS r
      |    FROM dfreq) t
      |  WHERE r BETWEEN 10 AND 15
      |), stats AS (
      |  SELECT CAST(SUM(cnt) AS DOUBLE) AS tot,
      |    CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd
      |  FROM tf
      |), scored AS (
      |  SELECT d.doc_id,
      |    round(SUM(
      |      ln(1.0 + (s.nd - CAST(q.df AS DOUBLE) + 0.5)
      |               / (CAST(q.df AS DOUBLE) + 0.5))
      |      * (CAST(d.cnt AS DOUBLE) * 2.2)
      |      / (CAST(d.cnt AS DOUBLE)
      |         + 1.2 * (1.0 - 0.75 + 0.75 *
      |             (CAST(d.dlen AS DOUBLE) * s.nd / s.tot)))), 6)
      |      AS bm25,
      |    COUNT(*) AS n_terms_hit
      |  FROM dl d JOIN qterms q ON d.token = q.token
      |  CROSS JOIN stats s
      |  GROUP BY d.doc_id
      |)
      |SELECT rank, doc_id, bm25, n_terms_hit FROM (
      |  SELECT doc_id, bm25, n_terms_hit,
      |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      |  FROM scored) t
      |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** §2.28t — reciprocal-rank fusion (k=60) of two lexical rankers
    * over the same data-derived query: the retrieve-then-fuse shape a
    * hybrid search stack runs, demonstrated on rankers that genuinely
    * disagree — [[qtBm25]] (tf saturation + doc-length normalization)
    * vs a plain smoothed-tf-idf sum (linear tf, no length prior). Each
    * ranker contributes its TakeOrdered top-50 candidate list (ranked
    * by round-6 score, doc_id tie-break); fusion full-outer-joins the
    * two ≤50-row lists on doc_id and scores 1/(60+rank) summed over
    * the lists the doc appears in — a doc missing from one list
    * simply earns no contribution from it (standard RRF). Scale
    * shape: both candidate lists are TakeOrdered off the shared
    * (doc, query-term) frame — the fusion join touches ≤100 rows at
    * ANY corpus scale; rank integers make the fused score an exact
    * rational rendered once at round-6. */
  def qtRrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val base = queryTermFrame(spark, dir)
    val bm25 = base
      .withColumn("__idf",
        log(lit(1.0) +
          (col("__nd").cast("double") - col("__df").cast("double") +
            lit(0.5)) / (col("__df").cast("double") + lit(0.5))))
      .withColumn("__norm",
        lit(1.0) - lit(0.75) + lit(0.75) *
          (col("__dl").cast("double") * col("__nd").cast("double") /
            col("__tot").cast("double")))
      .withColumn("__s",
        col("__idf") * (col("cnt").cast("double") * lit(2.2)) /
          (col("cnt").cast("double") + lit(1.2) * col("__norm")))
      .groupBy("doc_id").agg(round(sum("__s"), 6).as("__score"))
      .orderBy(col("__score").desc, col("doc_id")).limit(50)
      .withColumn("rank_bm25", row_number().over(
        Window.orderBy(col("__score").desc, col("doc_id"))))
      .select("doc_id", "rank_bm25")
    val tfidf = base
      .withColumn("__s",
        (col("cnt").cast("double") / col("__dl").cast("double")) *
          (log((col("__nd").cast("double") + lit(1.0)) /
            (col("__df").cast("double") + lit(1.0))) + lit(1.0)))
      .groupBy("doc_id").agg(round(sum("__s"), 6).as("__score"))
      .orderBy(col("__score").desc, col("doc_id")).limit(50)
      .withColumn("rank_tfidf", row_number().over(
        Window.orderBy(col("__score").desc, col("doc_id"))))
      .select("doc_id", "rank_tfidf")
    bm25.join(tfidf, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) /
          (lit(60.0) + col("rank_bm25").cast("double")), lit(0.0)) +
        coalesce(lit(1.0) /
          (lit(60.0) + col("rank_tfidf").cast("double")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id")).limit(15)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id"))))
      .select("rank", "doc_id", "rank_bm25", "rank_tfidf", "rrf")
      .orderBy("rank")
  }

  val qtRrfFusionSql: String =
    """WITH tf AS (
      |  SELECT doc_id, token, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents)
      |  GROUP BY doc_id, token
      |), dl AS (
      |  SELECT *, SUM(cnt) OVER (PARTITION BY doc_id) AS dlen FROM tf
      |), dfreq AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
      |), qterms AS (
      |  SELECT token, df FROM (
      |    SELECT token, df,
      |      ROW_NUMBER() OVER (ORDER BY df DESC, token) AS r
      |    FROM dfreq) t
      |  WHERE r BETWEEN 10 AND 15
      |), stats AS (
      |  SELECT CAST(SUM(cnt) AS DOUBLE) AS tot,
      |    CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd
      |  FROM tf
      |), base AS (
      |  SELECT d.doc_id, d.cnt, d.dlen, q.df, s.tot, s.nd
      |  FROM dl d JOIN qterms q ON d.token = q.token CROSS JOIN stats s
      |), bm AS (
      |  SELECT doc_id, rank_bm25 FROM (
      |    SELECT doc_id,
      |      ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_bm25
      |    FROM (
      |      SELECT doc_id, round(SUM(
      |        ln(1.0 + (nd - CAST(df AS DOUBLE) + 0.5)
      |                 / (CAST(df AS DOUBLE) + 0.5))
      |        * (CAST(cnt AS DOUBLE) * 2.2)
      |        / (CAST(cnt AS DOUBLE)
      |           + 1.2 * (1.0 - 0.75 + 0.75 *
      |               (CAST(dlen AS DOUBLE) * nd / tot)))), 6) AS score
      |      FROM base GROUP BY doc_id) s) r
      |  WHERE rank_bm25 <= 50
      |), ti AS (
      |  SELECT doc_id, rank_tfidf FROM (
      |    SELECT doc_id,
      |      ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_tfidf
      |    FROM (
      |      SELECT doc_id, round(SUM(
      |        (CAST(cnt AS DOUBLE) / CAST(dlen AS DOUBLE))
      |        * (ln((nd + 1.0) / (CAST(df AS DOUBLE) + 1.0)) + 1.0)), 6)
      |        AS score
      |      FROM base GROUP BY doc_id) s) r
      |  WHERE rank_tfidf <= 50
      |), fused AS (
      |  SELECT COALESCE(bm.doc_id, ti.doc_id) AS doc_id,
      |    bm.rank_bm25, ti.rank_tfidf,
      |    round(COALESCE(1.0 / (60.0 + CAST(bm.rank_bm25 AS DOUBLE)), 0.0)
      |      + COALESCE(1.0 / (60.0 + CAST(ti.rank_tfidf AS DOUBLE)), 0.0),
      |      6) AS rrf
      |  FROM bm FULL OUTER JOIN ti ON bm.doc_id = ti.doc_id
      |)
      |SELECT rank, doc_id, rank_bm25, rank_tfidf, rrf FROM (
      |  SELECT doc_id, rank_bm25, rank_tfidf, rrf,
      |    ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
      |  FROM fused) t
      |WHERE rank <= 15 ORDER BY rank""".stripMargin

  val qtTfidfSql: String =
    """WITH tf AS (
      |  SELECT doc_id, token, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY doc_id, token
      |), scored AS (
      |  SELECT doc_id, token,
      |    round((CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS DOUBLE)) *
      |      (ln((CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) + 1.0) /
      |          (CAST(COUNT(*) OVER (PARTITION BY token) AS DOUBLE) + 1.0)) + 1.0), 6) AS tfidf
      |  FROM tf
      |)
      |SELECT doc_id, token, tfidf, rank FROM (
      |  SELECT doc_id, token, tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
      |  FROM scored) t
      |WHERE rank <= 5
      |ORDER BY doc_id, rank""".stripMargin

  /** Vocabulary building: global token frequencies, top-100 with a
    * deterministic tie-break. Map-side combine does the heavy lifting —
    * the shuffle carries one row per distinct token per partition. */
  def qtVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(tokens(col("text")).as("__toks"))
      .select(explode_outer(col("__toks")).as("token")) // see simhash32 note
      .where(col("token").isNotNull)
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(100)

  val qtVocabSql: String =
    """SELECT token, COUNT(*) AS n_occurrences
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token
      |ORDER BY n_occurrences DESC, token
      |LIMIT 100""".stripMargin

  /** §2.28j — pointwise mutual information over document-level token
    * co-occurrence: PMI = ln(P(a,b) / (P(a)P(b))) and its normalized
    * form NPMI = PMI / −ln P(a,b) ∈ [−1, 1] (by convention 1 when the
    * pair co-occurs everywhere) — the corpus-association read that
    * surfaces collocations and template phrases before training bakes
    * them in. Shape: one distinct (doc, token) frame feeds both the
    * document-frequency rollup and the within-doc pair self-join; pair
    * volume is Σ_doc k²/2 for k distinct tokens per doc — bounded by
    * the vocabulary here, and at open-vocabulary scale bounded by
    * df-pruning or a top-m-per-doc cap before the join. The grouped
    * pair count is map-side combinable and the tiny df table broadcast
    * joins onto it. All ratios are integer-derived doubles with
    * identical op order on both engines; ln's last-ulp noise dies in
    * round(·, 6). Support floor n_both ≥ 5 keeps the report to
    * statistically meaningful pairs. */
  def qtPmi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val nDocs = docs.count() // column-pruned count scan, once per build
    val dt = docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("token"))
    val dfTok = dt.groupBy("token").agg(count(lit(1)).as("__n"))
    val both = dt.toDF("doc_id", "token_a")
      .join(dt.toDF("doc_id", "token_b"), Seq("doc_id"))
      .where(col("token_a") < col("token_b"))
      .groupBy("token_a", "token_b").agg(count(lit(1)).as("n_both"))
      .where(col("n_both") >= 5)
    val nD = lit(nDocs.toDouble)
    val pmiExpr = log(
      (col("n_both").cast("double") * nD) /
        (col("__na").cast("double") * col("__nb").cast("double")))
    both
      .join(dfTok.toDF("token_a", "__na"), Seq("token_a"))
      .join(dfTok.toDF("token_b", "__nb"), Seq("token_b"))
      .select(col("token_a"), col("token_b"), col("n_both"),
        col("__na").as("df_a"), col("__nb").as("df_b"),
        round(pmiExpr, 6).as("pmi"),
        when(col("n_both") === nDocs, lit(1.0))
          .otherwise(round(
            pmiExpr / log(nD / col("n_both").cast("double")), 6))
          .as("npmi"))
      .orderBy("token_a", "token_b")
  }

  val qtPmiSql: String =
    """WITH dt AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents
      |), dft AS (
      |  SELECT token, COUNT(*) AS n FROM dt GROUP BY token
      |), nn AS (SELECT COUNT(*) AS nd FROM documents),
      |pairs AS (
      |  SELECT a.token AS token_a, b.token AS token_b, COUNT(*) AS n_both
      |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 5
      |)
      |SELECT token_a, token_b, n_both,
      |  da.n AS df_a, db.n AS df_b,
      |  round(ln((CAST(n_both AS DOUBLE) * CAST((SELECT nd FROM nn) AS DOUBLE))
      |    / (CAST(da.n AS DOUBLE) * CAST(db.n AS DOUBLE))), 6) AS pmi,
      |  CASE WHEN n_both = (SELECT nd FROM nn) THEN 1.0
      |    ELSE round(
      |      ln((CAST(n_both AS DOUBLE) * CAST((SELECT nd FROM nn) AS DOUBLE))
      |        / (CAST(da.n AS DOUBLE) * CAST(db.n AS DOUBLE)))
      |      / ln(CAST((SELECT nd FROM nn) AS DOUBLE)
      |           / CAST(n_both AS DOUBLE)), 6) END AS npmi
      |FROM pairs
      |JOIN dft da ON da.token = token_a
      |JOIN dft db ON db.token = token_b
      |ORDER BY token_a, token_b""".stripMargin

  /** §2.28e — Zipf fit of the corpus vocabulary: OLS of ln(frequency)
    * on ln(rank) over the token frequency table — the corpus-health
    * read that flags template/boilerplate corpora (slope far from ≈−1,
    * natural text's signature) before training trusts the mix. The
    * fact table collapses to the vocabulary in one combinable count;
    * the rank window and the five OLS sufficient statistics
    * (DECIMAL-cast, accumulation-order-exact) run over that collapsed
    * frame only. Deterministic (frequency desc, token) rank order on
    * both engines. */
  def qtZipf(spark: SparkSession, dir: String): DataFrame = {
    def dsum(c: Column) = sum(c.cast("decimal(38,12)")).cast("double")
    // Vocabulary GROWS with the corpus (Heaps' law), so the frequency
    // rank runs on the two-level bucketed operator, never a global
    // single-task window over the vocab frame.
    val ranked = graft.operators.DistributedRank.withRowNumber(
        Tables.load(spark, dir, "documents")
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("__f")),
        -col("__f"), col("token"), "__r")
      .select(log(col("__r").cast("double")).as("__x"),
        log(col("__f").cast("double")).as("__y"))
    ranked
      .agg(count(lit(1)).cast("double").as("__n"),
        dsum(col("__x")).as("__sx"), dsum(col("__y")).as("__sy"),
        dsum(col("__x") * col("__y")).as("__sxy"),
        dsum(col("__x") * col("__x")).as("__sxx"))
      .select(col("__n").cast("bigint").as("n_types"),
        round((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("__n") * col("__sxx") - col("__sx") * col("__sx")), 6)
          .as("zipf_slope"),
        round((col("__sy") - col("__sx") *
            ((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
              (col("__n") * col("__sxx") - col("__sx") * col("__sx")))) /
            col("__n"), 6)
          .as("intercept"))
  }

  val qtZipfSql: String =
    """WITH vocab AS (
      |  SELECT token, COUNT(*) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY token
      |), ranked AS (
      |  SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY f DESC, token) AS DOUBLE)) AS x,
      |    ln(CAST(f AS DOUBLE)) AS y
      |  FROM vocab
      |), s AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      |  FROM ranked
      |)
      |SELECT CAST(n AS BIGINT) AS n_types,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
      |  round((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n, 6)
      |    AS intercept
      |FROM s""".stripMargin

  /** Token-distribution entropy per document (unigram Shannon entropy,
    * bits) — the repetitiveness quality signal: low entropy flags
    * boilerplate/spam. Terms fold LEFT-TO-RIGHT over the token-sorted
    * count array (Portable rule 2: never a float SUM over rows, whose
    * distributed accumulation order is nondeterministic); the array is
    * per-document, so its size is bounded by document length. */
  def qtEntropy(spark: SparkSession, dir: String): DataFrame =
    docTokenCounts(spark, dir).groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("tok"), col("c")))).as("__tc"),
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_unique"))
      .select(col("doc_id"), col("n_tokens"), col("n_unique"),
        round(-aggregate(
          transform(col("__tc"), x =>
            (x.getField("c").cast("double") / col("n_tokens")) *
              log(x.getField("c").cast("double") / col("n_tokens")) / log(lit(2.0))),
          lit(0.0), (acc, t) => acc + t), 6).as("entropy"))
      .orderBy("doc_id")

  /** Per-(document, token) occurrence counts — the shared prelude of
    * the entropy / cross-entropy scores (explode_outer: see simhash32
    * note). */
  private def docTokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), explode_outer(col("__toks")).as("tok"))
      .where(col("tok").isNotNull)
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))

  val qtEntropySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), c AS (
      |  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
      |), g AS (
      |  SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY tok) AS cs,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_unique
      |  FROM c GROUP BY doc_id
      |)
      |SELECT doc_id, n_tokens, n_unique,
      |  round(-list_reduce(
      |    list_transform(cs, x -> (x / n_tokens) * ln(x / n_tokens) / ln(2.0)),
      |    (a, b) -> a + b), 6) AS entropy
      |FROM g ORDER BY doc_id""".stripMargin

  /** Unigram cross-entropy of each document against the CORPUS token
    * distribution (bits/token) — the language-model-style quality
    * filter: documents of improbable tokens score high, boilerplate of
    * common tokens low. Two aggregations (per-doc-token and vocabulary)
    * + a broadcast of the vocabulary; the per-document sum folds
    * left-to-right over the token-sorted count array (Portable rule 2 —
    * no float SUM over rows). */
  def qtCrossEntropy(spark: SparkSession, dir: String): DataFrame = {
    val docTok = docTokenCounts(spark, dir)
    // Vocabulary counts AGGREGATE the per-doc counts rather than
    // re-exploding the token stream: both sides of the join then share
    // the docTok subtree (one scan+explode, reused exchange). The
    // corpus total rides the (tiny) vocabulary frame via a window, so
    // no scalar cross join reaches the plan.
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val vocab = docTok.groupBy("tok").agg(sum(col("c")).as("ct"))
      .withColumn("N", sum(col("ct")).over(all))
    docTok.join(broadcast(vocab), "tok")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("tok"), col("c"), col("ct"))))
        .as("__tc"), sum(col("c")).as("n_tokens"),
        first(col("N")).as("N"))
      .select(col("doc_id"), col("n_tokens"),
        round(-aggregate(
          transform(col("__tc"), x =>
            x.getField("c") * (log(x.getField("ct") / col("N")) / log(lit(2.0)))),
          lit(0.0), (acc, t) => acc + t) / col("n_tokens"), 6)
          .as("cross_entropy"))
      .orderBy("doc_id")
  }

  val qtCrossEntropySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), dt AS (
      |  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
      |), v AS (
      |  SELECT tok, COUNT(*) AS ct FROM toks GROUP BY tok
      |), tot AS (
      |  SELECT CAST(SUM(ct) AS BIGINT) AS N FROM v
      |), g AS (
      |  SELECT dt.doc_id,
      |    list(struct_pack(c := dt.c, ct := v.ct) ORDER BY dt.tok) AS tc,
      |    CAST(SUM(dt.c) AS BIGINT) AS n_tokens
      |  FROM dt JOIN v ON dt.tok = v.tok
      |  GROUP BY dt.doc_id
      |)
      |SELECT doc_id, n_tokens,
      |  round(-list_reduce(
      |    list_transform(tc, x -> x.c * (ln(x.ct / tot.N) / ln(2.0))),
      |    (a, b) -> a + b) / n_tokens, 6) AS cross_entropy
      |FROM g, tot ORDER BY doc_id""".stripMargin

  /** Within-document repetition ratio: 1 − distinct/total 3-token
    * windows — the quality signal that catches looping/boilerplate text
    * (entropy's n-gram-order cousin). Pure projection over the native
    * shingle expression: no explode, no shuffle. */
  def qtRepetition(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.WordShingles
    val nTok = size(col("__toks"))
    val total = greatest(nTok - 2, lit(0))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), total.as("n_windows"),
        size(WordShingles.ofColumn(col("__toks"), 3, hashed = true))
          .as("n_distinct"))
      .select(col("doc_id"),
        col("n_windows").cast("long").as("n_windows"),
        col("n_distinct").cast("long").as("n_distinct"),
        when(col("n_windows") > 0,
          round(lit(1.0) - col("n_distinct").cast("double")
            / col("n_windows").cast("double"), 6))
          .otherwise(lit(0.0)).as("repetition"))
      .orderBy("doc_id")
  }

  val qtRepetitionSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    greatest(len(string_split(text, ' ')) - 2, 0) AS n_windows,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      len(list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' ')))))
      |    ELSE 0 END AS n_distinct
      |  FROM documents
      |)
      |SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
      |  CAST(n_distinct AS BIGINT) AS n_distinct,
      |  CASE WHEN n_windows > 0 THEN
      |    round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_windows AS DOUBLE), 6)
      |  ELSE 0.0 END AS repetition
      |FROM sh ORDER BY doc_id""".stripMargin

  /** Cross-document repeated passages: 8-token windows (distinct within
    * each document) occurring in ≥2 documents, with the document count —
    * exact-substring dedup at passage granularity (the boilerplate
    * detector). One explode + one count aggregation; the candidate
    * space is the inverted window index, linear in text volume. */
  def qtPassages(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.WordShingles
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        WordShingles.ofColumn(col("__toks"), 8, hashed = false).as("__sh"))
      .select(col("doc_id"), explode_outer(col("__sh")).as("passage"))
      .where(col("passage").isNotNull)
      .groupBy("passage")
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .orderBy("passage")
  }

  val qtPassagesSql: String =
    """WITH sh AS (
      |  SELECT doc_id, CASE WHEN len(string_split(text, ' ')) >= 8 THEN
      |    list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 6),
      |      i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')))
      |  ELSE [] END AS g FROM documents
      |)
      |SELECT passage, COUNT(*) AS n_docs
      |FROM (SELECT doc_id, unnest(g) AS passage FROM sh)
      |GROUP BY passage
      |HAVING COUNT(*) >= 2
      |ORDER BY passage""".stripMargin

  /** §2.28d — out-of-vocabulary rate per document against the corpus
    * top-10 vocabulary: the tokenizer-coverage signal (how much of each
    * document a fixed vocab fails to cover). The vocabulary is tiny by
    * construction, so membership is a BROADCAST left join against the
    * exploded token stream — at 100 TB the vocab side is still a few
    * thousand rows; the per-document rollup is the only shuffle. */
  def qtOov(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(10)
      .select(col("tok").as("vtok"))
    tok.join(broadcast(vocab), col("tok") === col("vtok"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("vtok").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 6))
      .orderBy("doc_id")
  }

  val qtOovSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, COUNT(*) AS c FROM tok
      |    GROUP BY 1 ORDER BY c DESC, tok LIMIT 10)
      |)
      |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) / COUNT(*), 6) AS oov_rate
      |FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** §2.28e — distinctive keywords per source: top-5 tokens by
    * frequency lift (share within source ÷ share in corpus) — the
    * corpus-composition fingerprint that surfaces what a crawl slice is
    * actually about (and catches template/boilerplate leakage as
    * absurdly lifted tokens). All counts aggregate once from the
    * (source, token) frame; the two totals join back as a broadcast
    * source frame and a 1-row corpus total, the per-token corpus count
    * joins on the token key — no window ever spans a full vocabulary
    * partition. The rank ORDERS BY the single-division ratio
    * tf_s/tf_c (IEEE-exact in any engine) rather than the log lift,
    * whose libm placement is ulp-fragile; the reported log_lift rounds
    * to 6dp. */
  def qtKeywords(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Tables.load(spark, dir, "documents")
      .select(col("source"), explode_outer(tokens(col("text"))).as("token"))
      .where(col("token").isNotNull)
      .groupBy("source", "token")
      .agg(count(lit(1)).as("tf_s"))
    val perToken = bySource.groupBy("token").agg(sum("tf_s").as("tf_c"))
    val perSource = bySource.groupBy("source").agg(sum("tf_s").as("total_s"))
    val total = bySource.agg(sum("tf_s").as("total_c"))
    val rnk = Window.partitionBy("source")
      .orderBy((col("tf_s").cast("double") / col("tf_c")).desc, col("token"))
    bySource.where(col("tf_s") >= 5)
      .join(perToken, "token")
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(total))
      .withColumn("rnk", row_number().over(rnk).cast("bigint"))
      .where(col("rnk") <= 5)
      .select(col("source"), col("token"),
        col("tf_s").as("n_in_source"), col("tf_c").as("n_in_corpus"),
        round(log((col("tf_s").cast("double") / col("total_s")) /
          (col("tf_c").cast("double") / col("total_c"))), 6).as("log_lift"),
        col("rnk"))
      .orderBy("source", "rnk")
  }

  val qtKeywordsSql: String =
    """WITH t AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents
      |),
      |c AS (SELECT source, token, COUNT(*) AS tf_s FROM t GROUP BY 1, 2),
      |w AS (
      |  SELECT source, token, tf_s,
      |    CAST(SUM(tf_s) OVER (PARTITION BY token) AS BIGINT) AS tf_c,
      |    CAST(SUM(tf_s) OVER (PARTITION BY source) AS BIGINT) AS total_s,
      |    CAST(SUM(tf_s) OVER () AS BIGINT) AS total_c
      |  FROM c
      |),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY source
      |    ORDER BY CAST(tf_s AS DOUBLE) / tf_c DESC, token) AS BIGINT) AS rnk
      |  FROM w WHERE tf_s >= 5
      |)
      |SELECT source, token, tf_s AS n_in_source, tf_c AS n_in_corpus,
      |  round(ln((CAST(tf_s AS DOUBLE) / total_s)
      |    / (CAST(tf_c AS DOUBLE) / total_c)), 6) AS log_lift,
      |  rnk
      |FROM r WHERE rnk <= 5
      |ORDER BY source, rnk""".stripMargin

  /** §2.28f — readability scoring per document: words-per-sentence,
    * vowel-group ("syllable") density, and the Flesch reading-ease
    * assembly — the standard curriculum/complexity feature a training
    * pipeline buckets documents by. Pure per-row column arithmetic
    * over integer counts (sentence terminators, whitespace tokens,
    * vowel runs), so it is embarrassingly parallel — one scan, no
    * shuffle, fully inside whole-stage codegen; double math happens
    * per row on integer inputs, so cross-engine results are exact. */
  def qtReadability(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(split(col("text"), " "))
    // [.!?]+ runs ≈ sentence boundaries; GREATEST(1) guards headline-only
    // or fragment documents against divide-by-zero.
    val nSents = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
    val nVgroups = regexp_count(col("text"), lit("[aeiouAEIOU]+"))
    val wps = nWords.cast("double") / nSents.cast("double")
    val vpw = nVgroups.cast("double") / nWords.cast("double")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        nWords.cast("bigint").as("n_words"),
        nSents.cast("bigint").as("n_sentences"),
        round(wps, 6).as("words_per_sentence"),
        round(vpw, 6).as("vowel_groups_per_word"),
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * vpw, 4)
          .as("flesch"))
      .orderBy("doc_id")
  }

  val qtReadabilitySql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_words,
      |    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
      |    len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS n_vgroups
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(n_words AS BIGINT) AS n_words,
      |  CAST(n_sentences AS BIGINT) AS n_sentences,
      |  round(CAST(n_words AS DOUBLE) / n_sentences, 6) AS words_per_sentence,
      |  round(CAST(n_vgroups AS DOUBLE) / n_words, 6) AS vowel_groups_per_word,
      |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
      |    - 84.6 * (CAST(n_vgroups AS DOUBLE) / n_words), 4) AS flesch
      |FROM m ORDER BY doc_id""".stripMargin

  /** §2.28g — cross-source n-gram novelty: per source, how many of its
    * distinct trigram shingles appear in NO other source — low novelty
    * flags mirrored/recycled corpora before they double-count in a
    * training mix. Inverted-index shaped: (source, shingle) distinct
    * rows, then a per-shingle source count whose n==1 rows carry their
    * only source — so exclusivity needs NO join back to the big frame
    * (two combinable aggregations + a tiny per-source join; pair
    * grids never appear). Shingles are the same native one-pass md5
    * expression the dedup family uses. */
  def qtNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.load(spark, dir, "documents")
      .select(col("source"),
        explode(array_distinct(shingles(tokens(col("text")), 3))).as("__sh"))
      .distinct()
    val perShingle = sh.groupBy("__sh")
      .agg(count(lit(1)).as("__nsrc"), min("source").as("__only"))
    val totals = sh.groupBy("source").agg(count(lit(1)).as("n_trigrams"))
    val exclusive = perShingle.where(col("__nsrc") === 1)
      .groupBy(col("__only").as("source"))
      .agg(count(lit(1)).as("n_exclusive"))
    totals.join(exclusive, Seq("source"), "left_outer")
      .select(col("source"), col("n_trigrams"),
        coalesce(col("n_exclusive"), lit(0L)).cast("bigint").as("n_exclusive"),
        round(coalesce(col("n_exclusive"), lit(0L)).cast("double") /
          col("n_trigrams"), 6).as("novelty_ratio"))
      .orderBy("source")
  }

  val qtNoveltySql: String =
    """WITH docsh AS (
      |  SELECT source,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS g
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT source, unnest(g) AS s FROM docsh
      |), persh AS (
      |  SELECT s, COUNT(*) AS nsrc, MIN(source) AS only_src
      |  FROM sh GROUP BY s
      |), tot AS (
      |  SELECT source, COUNT(*) AS n_trigrams FROM sh GROUP BY source
      |), exc AS (
      |  SELECT only_src AS source, COUNT(*) AS n_exclusive
      |  FROM persh WHERE nsrc = 1 GROUP BY only_src
      |)
      |SELECT t.source, t.n_trigrams,
      |  CAST(COALESCE(e.n_exclusive, 0) AS BIGINT) AS n_exclusive,
      |  round(CAST(COALESCE(e.n_exclusive, 0) AS DOUBLE) / t.n_trigrams, 6)
      |    AS novelty_ratio
      |FROM tot t LEFT JOIN exc e ON t.source = e.source
      |ORDER BY t.source""".stripMargin

  /** §2.28h — fixed-size token chunking (training-window prep): each
    * document splits into consecutive 100-token chunks plus a final
    * partial chunk, each with its token count and content fingerprint
    * — the unit a packing/sharding stage consumes. Pure per-row
    * explode of a bounded index sequence (≤ ceil(len/100) rows per
    * doc), no shuffle, whole-stage codegen; chunk hashes make the
    * chunks themselves dedupable downstream. */
  def qtChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunkTokens = 100
    val toks = split(col("text"), " ")
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), toks.as("__toks"), nChunks.as("__n"))
      .where(col("__n") > 0)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0), col("__n") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("__toks"), col("chunk_idx") * chunkTokens + lit(1),
          lit(chunkTokens)).as("__chunk"))
      .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        size(col("__chunk")).cast("bigint").as("chunk_tokens"),
        md5(concat_ws(" ", col("__chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  val qtChunksSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(ceil(len(string_split(text, ' ')) / 100.0) AS INT) AS n
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, toks, unnest(range(0, n)) AS chunk_idx
      |  FROM d WHERE n > 0
      |)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(len(toks[chunk_idx * 100 + 1 : chunk_idx * 100 + 100]) AS BIGINT)
      |    AS chunk_tokens,
      |  md5(array_to_string(toks[chunk_idx * 100 + 1 : chunk_idx * 100 + 100],
      |    ' ')) AS chunk_hash
      |FROM idx
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** §2.30b — language-ID quality evaluation: confusion counts of the
    * stopword classifier against the corpus's labeled `lang` column,
    * with per-true-language recall share — the eval gate before
    * trusting a heuristic classifier to route a 100 TB corpus (the
    * same eval-layer pattern as qs_recall for ANN). Composes the
    * existing scorer; the confusion frame is ≤ |langs|² rows, the
    * share window runs over that tiny frame. */
  def qtLangidEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = Tables.load(spark, dir, "documents").select("doc_id", "lang")
    qtLangid(spark, dir).select("doc_id", "predicted_lang")
      .join(truth, Seq("doc_id"))
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("share_of_true",
        round(col("n") / sum(col("n")).over(
          Window.partitionBy("lang")), 6))
      .orderBy("lang", "predicted_lang")
  }

  val qtLangidEvalSql: String = {
    val pred = qtLangidSql.replace("\nORDER BY doc_id", "")
    s"""WITH p AS (
       |$pred
       |)
       |SELECT d.lang, p.predicted_lang, COUNT(*) AS n,
       |  round(COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY d.lang), 6)
       |    AS share_of_true
       |FROM p JOIN documents d ON p.doc_id = d.doc_id
       |GROUP BY d.lang, p.predicted_lang
       |ORDER BY d.lang, p.predicted_lang""".stripMargin
  }

  /** §2.28m — bigram language-model score per document: mean negative
    * log-likelihood of the doc's POSITIONAL bigram stream under a
    * Jelinek-Mercer-interpolated corpus model,
    * P(w₂|w₁) = 0.75·C(w₁w₂)/C(w₁·) + 0.25·C(w₂)/N — the
    * word-ORDER-aware quality filter one level above [qt_cross_entropy]
    * (unigram): shuffled or templated word salad scores normal under a
    * unigram model but improbable under bigram transitions.
    * Interpolation (not add-k) needs no vocabulary-size scalar, so no
    * cross-join anchor reaches the plan. Prefix counts C(w₁·) derive
    * from the bigram frame itself (no second stream); per-doc sums use
    * the sorted-struct left-fold discipline, never a float row-SUM. */
  /** Per-(doc, positional-bigram) counts — the shared substrate of
    * [[qtBigramLm]] and [[qtKnBigram]], materialized ONCE per query
    * (r14): each query consumes it from both the model-table side
    * (cb → cw/cont) and the final per-doc scoring join, and without
    * the barrier the bigram explode + aggregation re-ran once per
    * consumer (stage-profiled: one 21.6 s-task pass plus three
    * ~8-10 s-task re-runs inside qt_kn_bigram alone). */
  private def docBigramCounts(spark: SparkSession, dir: String): DataFrame = {
    val bgs = org.apache.spark.sql.graft.WordShingles
      .positional(tokens(col("text")), 2, hashed = false)
    graft.operators.Materialize.once(
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode_outer(bgs).as("bg"))
        .where(col("bg").isNotNull)
        .groupBy("doc_id", "bg")
        .agg(count(lit(1)).as("c")))
  }

  def qtBigramLm(spark: SparkSession, dir: String): DataFrame = {
    val dtb = docBigramCounts(spark, dir)
    val cb = dtb.groupBy("bg").agg(sum(col("c")).as("cbg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val cw = cb.groupBy("w1").agg(sum(col("cbg")).as("cw1"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val vocab = docTokenCounts(spark, dir)
      .groupBy("tok").agg(sum(col("c")).as("ct"))
      .withColumn("N", sum(col("ct")).over(all))
    // cb/cw join shuffle-to-shuffle: the bigram frame grows with the
    // corpus and is NOT broadcastable at scale (vocab is the only
    // bounded side here).
    dtb
      .join(cb, "bg")
      .join(cw, "w1")
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
      .join(broadcast(vocab.withColumnRenamed("tok", "w2")), "w2")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("bg"), col("c"), col("cbg"),
        col("cw1"), col("ct"), col("N")))).as("__t"),
        sum(col("c")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-aggregate(
          transform(col("__t"), x =>
            x.getField("c") * log(
              lit(0.75) * (x.getField("cbg") / x.getField("cw1")) +
                lit(0.25) * (x.getField("ct") / x.getField("N")))),
          lit(0.0), (acc, t) => acc + t) / col("n_bigrams"), 6)
          .as("bigram_nll"))
      .orderBy("doc_id")
  }

  /** §2.28v — interpolated Kneser–Ney bigram perplexity (Kneser & Ney
    * 1995), the standard n-gram smoothing KenLM-style corpus filters
    * use — distinct from §2.28m's count-interpolated LM in both terms
    * that matter: ABSOLUTE DISCOUNTING (D = 0.75 subtracted from every
    * observed bigram count, mass recycled through the backoff weight
    * λ(w1) = D·|{w2 : c(w1,w2)>0}|/c(w1)) and the CONTINUATION
    * distribution (P_cont(w2) = bigram types ending in w2 / total
    * bigram types — "how many contexts has w2 followed", which is what
    * demotes 'Francisco'-style words frequent only after one context):
    * P_KN(w2|w1) = (c(w1,w2) − D)/c(w1) + λ(w1)·P_cont(w2). Per-doc
    * NLL folds in-row over the bigram-sorted struct array; every model
    * statistic is an exact integer count, doubles appear only inside
    * the per-bigram probability; one round at 6dp. Scale shape
    * identical to qt_bigram_lm: the bigram frame shuffles (never
    * broadcast — it grows with the corpus); the continuation and
    * unigram-context frames are vocabulary-bounded broadcasts; total
    * bigram types ride a window over the collapsed continuation frame,
    * never a scalar cross join of the big frame. */
  def qtKnBigram(spark: SparkSession, dir: String): DataFrame = {
    val dtb = docBigramCounts(spark, dir)
    val cb = dtb.groupBy("bg").agg(sum(col("c")).as("cbg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    val cw = cb.groupBy("w1")
      .agg(sum(col("cbg")).as("cw1"), count(lit(1)).as("n1p_w1"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cont = cb.groupBy("w2").agg(count(lit(1)).as("cont_w2"))
      .withColumn("B", sum(col("cont_w2")).over(all))
    dtb
      .join(cb.select("bg", "w1", "w2", "cbg"), "bg")
      .join(cw, "w1")
      .join(broadcast(cont), "w2")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("bg"), col("c"), col("cbg"),
        col("cw1"), col("n1p_w1"), col("cont_w2"), col("B")))).as("__t"),
        sum(col("c")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-aggregate(
          transform(col("__t"), x =>
            x.getField("c") * log(
              (x.getField("cbg") - lit(0.75)) / x.getField("cw1") +
                lit(0.75) * (x.getField("n1p_w1") / x.getField("cw1")) *
                  (x.getField("cont_w2") / x.getField("B")))),
          lit(0.0), (acc, t) => acc + t) / col("n_bigrams"), 6)
          .as("kn_nll"))
      .orderBy("doc_id")
  }

  val qtKnBigramSql: String =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, len(string_split(text, ' '))),
      |    i -> string_split(text, ' ')[CAST(i AS INT)] || ' ' ||
      |         string_split(text, ' ')[CAST(i AS INT) + 1])) AS bg
      |  FROM documents
      |), dtb AS (
      |  SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM bg GROUP BY doc_id, bg
      |), cb AS (
      |  SELECT bg, CAST(SUM(c) AS BIGINT) AS cbg,
      |    split_part(bg, ' ', 1) AS w1,
      |    split_part(bg, ' ', 2) AS w2
      |  FROM dtb GROUP BY bg
      |), cw AS (
      |  SELECT w1, CAST(SUM(cbg) AS BIGINT) AS cw1,
      |    COUNT(*) AS n1p_w1
      |  FROM cb GROUP BY w1
      |), cont AS (
      |  SELECT w2, COUNT(*) AS cont_w2 FROM cb GROUP BY w2
      |), btot AS (
      |  SELECT CAST(SUM(cont_w2) AS BIGINT) AS B FROM cont
      |), g AS (
      |  SELECT dtb.doc_id,
      |    list(struct_pack(c := dtb.c, cbg := cb.cbg, cw1 := cw.cw1,
      |      n1p := cw.n1p_w1, cont := cont.cont_w2, b := btot.B)
      |      ORDER BY dtb.bg) AS t,
      |    CAST(SUM(dtb.c) AS BIGINT) AS n_bigrams
      |  FROM dtb
      |  JOIN cb ON dtb.bg = cb.bg
      |  JOIN cw ON cb.w1 = cw.w1
      |  JOIN cont ON cb.w2 = cont.w2
      |  CROSS JOIN btot
      |  GROUP BY dtb.doc_id
      |)
      |SELECT doc_id, n_bigrams,
      |  round(-list_reduce(
      |    list_transform(t, x -> x.c * ln(
      |      (x.cbg - 0.75) / x.cw1
      |        + 0.75 * (x.n1p / x.cw1) * (x.cont / x.b))),
      |    (a, b) -> a + b) / n_bigrams, 6) AS kn_nll
      |FROM g ORDER BY doc_id""".stripMargin

  val qtBigramLmSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), v AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS ct FROM toks GROUP BY tok
      |), tot AS (
      |  SELECT CAST(SUM(ct) AS BIGINT) AS N FROM v
      |), bg AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, len(string_split(text, ' '))),
      |    i -> string_split(text, ' ')[CAST(i AS INT)] || ' ' ||
      |         string_split(text, ' ')[CAST(i AS INT) + 1])) AS bg
      |  FROM documents
      |), dtb AS (
      |  SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM bg GROUP BY doc_id, bg
      |), cb AS (
      |  SELECT bg, CAST(SUM(c) AS BIGINT) AS cbg,
      |    split_part(bg, ' ', 1) AS w1
      |  FROM dtb GROUP BY bg
      |), cw AS (
      |  SELECT w1, CAST(SUM(cbg) AS BIGINT) AS cw1 FROM cb GROUP BY w1
      |), g AS (
      |  SELECT dtb.doc_id,
      |    list(struct_pack(c := dtb.c, cbg := cb.cbg, cw1 := cw.cw1,
      |      ct := v.ct, n := tot.N) ORDER BY dtb.bg) AS t,
      |    CAST(SUM(dtb.c) AS BIGINT) AS n_bigrams
      |  FROM dtb
      |  JOIN cb ON dtb.bg = cb.bg
      |  JOIN cw ON cb.w1 = cw.w1
      |  JOIN v ON split_part(dtb.bg, ' ', 2) = v.tok
      |  CROSS JOIN tot
      |  GROUP BY dtb.doc_id
      |)
      |SELECT doc_id, n_bigrams,
      |  round(-list_reduce(
      |    list_transform(t, x -> x.c * ln(
      |      0.75 * (x.cbg / x.cw1) + 0.25 * (x.ct / x.n))),
      |    (a, b) -> a + b) / n_bigrams, 6) AS bigram_nll
      |FROM g ORDER BY doc_id""".stripMargin

  /** §2.28n — Heaps-law vocabulary-growth fit over 3-gram shingles:
    * V(n) ≈ K·n^β estimated by log-log OLS over 32 doc-order
    * checkpoints of (cumulative gram occurrences, cumulative distinct
    * grams). β near 1 = every batch still novel (keep crawling), β
    * well below 1 = the corpus is saturating — the
    * stop-adding-more-of-the-same dial for crawl budgeting. 3-gram
    * (not word) vocabulary because this corpus's WORD vocabulary is 31
    * types — saturated in the first bucket, a degenerate 0/0 fit.
    *
    * Scale shape: gram explode is linear; first-occurrence = one
    * gram-key groupBy; the cumulative window runs over exactly 32
    * checkpoint rows (never the corpus); the OLS moments are decimal
    * sums (order-independent) cast to double only inside the final
    * 1-row fit. The doc-order bucket needs max(doc_id) — a broadcast
    * 1-row scalar (PlanAudit-allowlisted pattern). */
  def qtHeaps(spark: SparkSession, dir: String): DataFrame =
    heapsFit(Tables.load(spark, dir, "documents"), "doc_id", "text", 32)

  /** Library form of 28n (spec entry point): Heaps-law log-log OLS over
    * `buckets` id-order checkpoints of 3-gram vocabulary growth. */
  def heapsFit(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val b = buckets
    val mx = docs.agg(max(col(idCol).cast("long")).as("mx"))
    val ts = tokens(col(textCol))
    // __ts staged so the split() tree is not copied into the per-index
    // lambda (once-per-row, not once-per-trigram — the cdc lesson).
    val grams = docs.crossJoin(broadcast(mx))
      .where(size(ts) >= 3)
      .select(floor(col(idCol) * b / (col("mx") + 1)).cast("int").as("b"),
        ts.as("__ts"))
      .select(col("b"),
        explode(transform(sequence(lit(1), size(col("__ts")) - 2),
          i => md5(concat_ws(" ", slice(col("__ts"), i, lit(3)))))).as("g"))
    val tb = grams.groupBy("b").agg(count(lit(1)).as("n_tok"))
    val nb = grams.groupBy("g").agg(min(col("b")).as("fb"))
      .groupBy("fb").agg(count(lit(1)).as("n_new"))
      .withColumnRenamed("fb", "b")
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = tb.join(nb, Seq("b"), "left")
      .select(col("b"),
        sum(col("n_tok")).over(w).as("grams_cum"),
        sum(coalesce(col("n_new"), lit(0L))).over(w).as("vocab_cum"))
    val pts = cum.select(col("grams_cum"), col("vocab_cum"),
      round(log(col("grams_cum").cast("double")), 6)
        .cast("decimal(12,6)").as("x"),
      round(log(col("vocab_cum").cast("double")), 6)
        .cast("decimal(12,6)").as("y"))
    val s = pts.agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("y") * col("y")).cast("double").as("syy"),
      max(col("grams_cum")).as("total_grams"),
      max(col("vocab_cum")).as("total_vocab"))
      .where(col("n") >= 2)
      .withColumn("beta", (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")))
    // r2 is NULL when the vocab saturates in the first checkpoint
    // (constant y): the variance denominator is then ~0 — not exactly 0
    // in doubles (the decimal sums round on the cast), so the guard is
    // a threshold, identical in the oracle; any real growth curve has
    // dyy orders of magnitude above it. beta's denominator cannot
    // vanish: tokens_cum is strictly increasing, so x always varies.
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    s.select(col("n").as("n_points"), col("total_grams"), col("total_vocab"),
      round(col("beta"), 6).as("beta_hat"),
      round(exp((col("sy") - col("beta") * col("sx")) / col("n")), 6)
        .as("k_hat"),
      when(dyy > 1e-9,
        round((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy")) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) * dyy), 6))
        .as("r2"))
  }

  val qtHeapsSql: String =
    """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
      |tok AS (
      |  SELECT CAST(floor(doc_id * 32 / (mx + 1)) AS INTEGER) AS b,
      |         md5(array_to_string(ts[i:i+2], ' ')) AS g
      |  FROM (SELECT doc_id, mx, string_split(text, ' ') AS ts
      |        FROM documents, m),
      |       LATERAL unnest(range(1, len(ts) - 1)) AS t(i)
      |  WHERE len(ts) >= 3
      |), tb AS (
      |  SELECT b, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY b
      |), nb AS (
      |  SELECT fb AS b, CAST(count(*) AS BIGINT) AS n_new
      |  FROM (SELECT g, min(b) AS fb FROM tok GROUP BY g) GROUP BY fb
      |), cum AS (
      |  SELECT tb.b,
      |    SUM(tb.n_tok) OVER (ORDER BY tb.b) AS grams_cum,
      |    SUM(COALESCE(nb.n_new, 0)) OVER (ORDER BY tb.b) AS vocab_cum
      |  FROM tb LEFT JOIN nb USING (b)
      |), pts AS (
      |  SELECT grams_cum, vocab_cum,
      |    CAST(round(ln(CAST(grams_cum AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
      |    CAST(round(ln(CAST(vocab_cum AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y
      |  FROM cum
      |), s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx,
      |    CAST(SUM(y*y) AS DOUBLE) AS syy,
      |    CAST(max(grams_cum) AS BIGINT) AS total_grams,
      |    CAST(max(vocab_cum) AS BIGINT) AS total_vocab
      |  FROM pts
      |), f AS (
      |  SELECT *, (n*sxy - sx*sy) / (n*sxx - sx*sx) AS beta FROM s WHERE n >= 2
      |)
      |SELECT n AS n_points, total_grams, total_vocab,
      |  round(beta, 6) AS beta_hat,
      |  round(exp((sy - beta*sx) / n), 6) AS k_hat,
      |  CASE WHEN n*syy - sy*sy > 1e-9 THEN
      |    round((n*sxy - sx*sy)*(n*sxy - sx*sy) /
      |          ((n*sxx - sx*sx)*(n*syy - sy*sy)), 6) END AS r2
      |FROM f""".stripMargin

  /** §2.28o — term burstiness + dispersion index for the top-20 terms
    * by corpus frequency: burstiness = cf/df (Church & Gale — mean
    * occurrences per CONTAINING document) and the variance-to-mean
    * dispersion D over per-document counts INCLUDING zero-docs (D ≈ 1
    * Poisson, D > 1 clumped content word, D < 1 regular function
    * word) — separates topical terms from glue vocabulary where raw
    * frequency can't. Exactness: D derives entirely from integer sums
    * (n·Σx² − cf², zero-docs contribute nothing to either), doubles
    * only in the final division. Scale: two grouped passes (term×doc,
    * then term), top-20 via distributed sort+limit (TakeOrdered — no
    * single-partition window), one broadcast 1-row doc count. */
  def qtBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("x"))
    perDoc.groupBy("token")
      .agg(sum(col("x")).as("cf"), count(lit(1)).as("df"),
        sum(col("x") * col("x")).as("sxx"))
      .crossJoin(broadcast(n))
      .orderBy(col("cf").desc, col("token")).limit(20)
      .select(col("token"), col("cf"), col("df"),
        round(col("cf").cast("double") / col("df"), 6).as("burstiness"),
        when(col("n_docs") > 1,
          round((((col("n_docs") * col("sxx") - col("cf") * col("cf"))
              .cast("double")) / (col("n_docs") * (col("n_docs") - 1))) /
            (col("cf").cast("double") / col("n_docs")), 6)).as("dispersion"))
      .orderBy(col("cf").desc, col("token"))
  }

  val qtBurstinessSql: String =
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents
      |), per_doc AS (
      |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS x
      |  FROM tok GROUP BY 1, 2
      |), term AS (
      |  SELECT token, CAST(SUM(x) AS BIGINT) AS cf,
      |    CAST(count(*) AS BIGINT) AS df,
      |    CAST(SUM(x*x) AS BIGINT) AS sxx
      |  FROM per_doc GROUP BY token
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY cf DESC, token) AS rnk
      |  FROM term
      |)
      |SELECT token, cf, df,
      |  round(CAST(cf AS DOUBLE) / df, 6) AS burstiness,
      |  CASE WHEN n_docs > 1 THEN
      |    round((CAST(n_docs*sxx - cf*cf AS DOUBLE) / (n_docs*(n_docs-1))) /
      |          (CAST(cf AS DOUBLE) / n_docs), 6) END AS dispersion
      |FROM ranked, n WHERE rnk <= 20
      |ORDER BY cf DESC, token""".stripMargin

  /** §2.28p — Jensen–Shannon divergence matrix between sources over
    * unigram distributions: JSD(a,b) = ½·Σ p·ln(2p/(p+q)) summed from
    * BOTH directions (tokens absent on one side contribute their full
    * p·ln 2 — no smoothing epsilon needed, JSD is finite by
    * construction) — the pairwise domain-shift map that says which
    * sources are interchangeable and which add genuinely different
    * text (pairs with JSD ≈ 0 are redundant crawl; the mixing
    * operators (31)'s diversity assumption is checkable here). Scale:
    * per-source shares are one token-key groupBy; the directed-term
    * frame is counts × (|sources|−1) via a broadcast source-list
    * nested loop (bounded side = the distinct source list), then one
    * hash join back on (source, token); cross-token sums quantize each
    * term to DECIMAL(18,9) (order-independent). */
  def qtJsSources(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cnts = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val tot = cnts.groupBy("source").agg(sum(col("c")).as("t"))
    val sh = cnts.join(tot, "source")
      .select(col("source"), col("token"),
        (col("c").cast("double") / col("t")).as("p"))
    val srcs = docs.select(col("source").as("s2")).distinct()
    val other = sh.select(col("source").as("s2b"), col("token").as("tk"),
      col("p").as("q0"))
    sh.join(broadcast(srcs), col("s2") =!= col("source"))
      .join(other,
        col("s2b") === col("s2") && col("tk") === col("token"), "left")
      .select(
        least(col("source"), col("s2")).as("source_a"),
        greatest(col("source"), col("s2")).as("source_b"),
        round(col("p") * log(lit(2.0) * col("p") /
            (col("p") + coalesce(col("q0"), lit(0.0)))), 9)
          .cast("decimal(18,9)").as("term"))
      .groupBy("source_a", "source_b")
      .agg(round(lit(0.5) * sum(col("term")).cast("double"), 6).as("jsd"),
        count(lit(1)).as("n_terms"))
      .orderBy("source_a", "source_b")
  }

  val qtJsSourcesSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents
      |), cnts AS (
      |  SELECT source, token, CAST(count(*) AS BIGINT) AS c
      |  FROM tok GROUP BY 1, 2
      |), tot AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnts GROUP BY source
      |), sh AS (
      |  SELECT c.source, c.token, CAST(c.c AS DOUBLE) / t.t AS p
      |  FROM cnts c JOIN tot t USING (source)
      |), srcs AS (SELECT DISTINCT source FROM documents),
      |e AS (
      |  SELECT a.source AS sa, s2.source AS sb, a.token,
      |    a.p AS p, COALESCE(b.p, 0.0e0) AS q
      |  FROM sh a
      |  JOIN srcs s2 ON s2.source <> a.source
      |  LEFT JOIN sh b ON b.source = s2.source AND b.token = a.token
      |), terms AS (
      |  SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
      |    CAST(round(p * ln(2.0e0 * p / (p + q)), 9) AS DECIMAL(18,9)) AS term
      |  FROM e
      |)
      |SELECT source_a, source_b,
      |  round(0.5e0 * CAST(SUM(term) AS DOUBLE), 6) AS jsd,
      |  CAST(count(*) AS BIGINT) AS n_terms
      |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** §2.28q — duplicated n-gram coverage per document (the Gopher /
    * RefinedWeb "fraction of duplicated n-grams" quality rule): for
    * each document, the share of its 5-gram INSTANCES whose shingle
    * also occurs in at least one OTHER document. Unlike the pairwise
    * dedup family this is a corpus-level per-doc score — the signal a
    * quality-filtering stage thresholds to drop template/mirror pages
    * before pair-precision dedup ever runs. Inverted-index shaped:
    * explode instances, distinct (doc, shingle) → per-shingle doc
    * frequency, join back on the shingle key, one per-doc aggregate —
    * two key-partitioned shuffles, no pair grid, linear in corpus
    * size. Shingle hashes are portable md5 so the oracle recomputes
    * them exactly. */
  def qtDupFraction(spark: SparkSession, dir: String): DataFrame = {
    val n = 5
    val toks = tokens(col("text"))
    // __toks staged: the split() tree must not ride into the per-index
    // lambda (once-per-row, not once-per-shingle — the cdc lesson).
    val inst = Tables.load(spark, dir, "documents")
      .where(size(toks) >= n)
      .select(col("doc_id"), toks.as("__toks"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
          i => md5(concat_ws(" ", slice(col("__toks"), i, lit(n))))))
          .as("__sh"))
    val dfreq = inst.select("__sh", "doc_id").distinct()
      .groupBy("__sh").agg(count(lit(1)).as("__df"))
    inst.join(dfreq, Seq("__sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("__dup"))
      .select(col("doc_id"), col("n_shingles"),
        col("__dup").cast("bigint").as("n_dup"),
        round(col("__dup").cast("double") / col("n_shingles"), 6)
          .as("dup_fraction"))
      .orderBy("doc_id")
  }

  val qtDupFractionSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), inst AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks) - 3),
      |      i -> md5(array_to_string(toks[i:i+4], ' ')))) AS sh
      |  FROM d WHERE len(toks) >= 5
      |), dfreq AS (
      |  SELECT sh, COUNT(DISTINCT doc_id) AS df FROM inst GROUP BY sh
      |)
      |SELECT i.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup,
      |  round(CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS dup_fraction
      |FROM inst i JOIN dfreq f USING (sh)
      |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin

  /** §2.28w — RAKE keyword extraction (Rose et al. 2010): candidate
    * phrases are the maximal stopword-free token runs, each scored by
    * Σ_w degree(w)/freq(w) over corpus-level word statistics, where
    * degree(w) = Σ |phrase| over phrase instances containing w — the
    * co-occurrence-aware score that prefers multi-word technical terms
    * where tf-idf (qt_keywords) and BM25 (qt_bm25) rank single tokens.
    * Phrase segmentation is a per-document running stopword count
    * (window partitioned BY DOCUMENT — never global); phrase text
    * rebuilds through the sorted-struct discipline (collect_list order
    * is not contractual); the per-phrase score folds in POSITION order
    * on both engines, scores round once at 6dp before the
    * (score, phrase) tie-broken TakeOrdered top-15. Scale: token
    * stream is one explode; word stats one combinable aggregate;
    * distinct-phrase scoring touches only the collapsed phrase
    * vocabulary; nothing global but the final ≤15-row cut. */
  def qtRake(spark: SparkSession, dir: String): DataFrame = {
    val stopSet = stopwords
    val tok = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "tok")))
      .withColumn("is_stop",
        col("tok").isin(stopSet.map(s => s: Any): _*))
    val wSeg = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nonstop = tok
      .withColumn("phrase_id",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(wSeg))
      .where(!col("is_stop"))
    val winst = nonstop
      .withColumn("plen", count(lit(1)).over(
        Window.partitionBy("doc_id", "phrase_id")))
    val wstats = winst.groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .withColumn("wscore",
        col("degree").cast("double") / col("freq").cast("double"))
    val phrases = nonstop.groupBy("doc_id", "phrase_id")
      .agg(concat_ws(" ", transform(
        sort_array(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok"))).as("phrase"))
      .groupBy("phrase").agg(count(lit(1)).as("n_instances"))
    val scored = phrases
      .select(col("phrase"), col("n_instances"),
        posexplode(split(col("phrase"), " ")).as(Seq("pos", "tok")))
      .join(wstats.select("tok", "wscore"), "tok")
      .groupBy("phrase", "n_instances")
      .agg(sort_array(collect_list(struct(col("pos"), col("wscore"))))
        .as("__ws"))
      .select(col("phrase"), col("n_instances"),
        size(col("__ws")).as("n_words"),
        round(aggregate(transform(col("__ws"), x => x.getField("wscore")),
          lit(0.0), (a, t) => a + t), 6).as("rake_score"))
    scored.orderBy(col("rake_score").desc, col("phrase")).limit(15)
      .withColumn("rank", row_number().over(Window.orderBy(
        col("rake_score").desc, col("phrase"))).cast("bigint"))
      .select("rank", "phrase", "n_words", "n_instances", "rake_score")
  }

  val qtRakeSql: String = {
    val stop = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, u.pos, u.tok,
       |    u.tok IN ($stop) AS is_stop
       |  FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(1, len(string_split(text, ' ')) + 1),
       |      i -> struct_pack(pos := i,
       |        tok := string_split(text, ' ')[CAST(i AS INT)]))) AS u
       |    FROM documents)
       |), seg AS (
       |  SELECT doc_id, pos, tok, is_stop,
       |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS phrase_id
       |  FROM tok
       |), nonstop AS (
       |  SELECT doc_id, pos, tok, phrase_id FROM seg WHERE NOT is_stop
       |), winst AS (
       |  SELECT doc_id, phrase_id, tok,
       |    COUNT(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
       |  FROM nonstop
       |), wstats AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
       |    CAST(SUM(plen) AS BIGINT) AS degree
       |  FROM winst GROUP BY tok
       |), phr AS (
       |  SELECT string_agg(tok, ' ' ORDER BY pos) AS phrase
       |  FROM nonstop GROUP BY doc_id, phrase_id
       |), pf AS (
       |  SELECT phrase, COUNT(*) AS n_instances FROM phr GROUP BY phrase
       |), pw AS (
       |  SELECT pf.phrase, pf.n_instances, u.pos, u.tok
       |  FROM (
       |    SELECT phrase, n_instances, unnest(list_transform(
       |      range(1, len(string_split(phrase, ' ')) + 1),
       |      i -> struct_pack(pos := i,
       |        tok := string_split(phrase, ' ')[CAST(i AS INT)]))) AS u
       |    FROM pf) pf
       |), scored AS (
       |  SELECT pw.phrase, pw.n_instances,
       |    COUNT(*) AS n_words,
       |    round(list_reduce(
       |      list_transform(
       |        list(struct_pack(pos := pw.pos, s :=
       |          CAST(w.degree AS DOUBLE) / w.freq) ORDER BY pw.pos),
       |        x -> x.s),
       |      (a, b) -> a + b), 6) AS rake_score
       |  FROM pw JOIN wstats w ON pw.tok = w.tok
       |  GROUP BY pw.phrase, pw.n_instances
       |), top AS (
       |  SELECT * FROM scored ORDER BY rake_score DESC, phrase LIMIT 15
       |)
       |SELECT ROW_NUMBER() OVER (ORDER BY rake_score DESC, phrase) AS rank,
       |  phrase, CAST(n_words AS INT) AS n_words, n_instances, rake_score
       |FROM top ORDER BY rank""".stripMargin
  }

  /** §2.28u — Naive-Bayes quality classifier (the fastText-style
    * quality-filter shape): train multinomial NB on the train split
    * against the §2.28f heuristic quality label (score ≥ 0.73 → "hi"),
    * restrict features to the top-64 train vocabulary by document
    * frequency (the feature-selection step that keeps the model
    * broadcastable at any corpus size), add-1 smoothing, then score
    * the held-out test split in the log domain. Determinism: per-doc
    * log-prob sums fold in-row over the token-sorted struct array
    * (never a row-order float SUM); class priors/totals ride ONE-ROW
    * broadcast frames (scalar-subquery pattern); the model join is a
    * ≤64-row broadcast; margins round once at 6dp before the sign
    * test. Scale: two scans of documents (train counts, test scoring),
    * one (tok,class) aggregate, one per-doc rollup — all linear in the
    * corpus; no all-pairs, no driver collect. Split seed "split"
    * matches qt_split/qp_split so the classifier trains on exactly the
    * released train partition. */
  def qtNbQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val quality = lit(0.3) * least(nTok / lit(50.0), lit(1.0)) +
      lit(0.4) * (size(array_distinct(toks)).cast("double") / nTok) +
      lit(0.3) * (lit(1.0) - countIn(toks, stopwords).cast("double") / nTok)
    val labeled = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("__toks"),
        when(quality >= 0.73, "hi").otherwise("lo").as("label"),
        md5Bucket("split", col("doc_id"), 100).as("__b"))
    val train = labeled.where(col("__b") < 80)
    val test = labeled.where(col("__b") >= 90)
    // Tokenize-pass budget (r14): the quality label re-derives the
    // token array, so every consumer of `labeled` re-ran the full
    // tokenize+quality scan — five passes per query (vocab, class
    // counts, doc counts, test scoring, final enumeration),
    // stage-profiled as the two heavy ~4.5+9.8 s-task stage pairs.
    // Now: ONE pass collapses the train stream to per-(doc, label,
    // token) counts (map-side partial agg — the 100 TB shape) and the
    // document-frequency and class-count aggregates fold linearly over
    // the counted frame ((doc, tok) is unique per row, so row count
    // per tok = the distinct-doc df; Σ c over label = the instance
    // count — exact integers either way); ONE pass materializes the
    // token-free (doc_id, label, __b) slice for the doc counts and the
    // final test enumeration; the test scoring keeps its own pass
    // (pipelined straight into its per-doc aggregate).
    val labeledSlim = graft.operators.Materialize.once(
      labeled.select(col("doc_id"), col("label"), col("__b")))
    val trainCounts = graft.operators.Materialize.once(
      train.select(col("doc_id"), col("label"), explode(col("__toks")).as("tok"))
        .groupBy("doc_id", "label", "tok").agg(count(lit(1)).as("__c")))
    val vocab = trainCounts.groupBy("tok")
      .agg(count(lit(1)).as("__df"))
      .orderBy(col("__df").desc, col("tok")).limit(64)
      .select(col("tok"))
    val cnt = trainCounts.join(broadcast(vocab), "tok")
      .groupBy("tok")
      .agg(sum(when(col("label") === "hi", col("__c")).otherwise(0L)).as("c_hi"),
        sum(when(col("label") === "lo", col("__c")).otherwise(0L)).as("c_lo"))
    val docCounts = labeledSlim.where(col("__b") < 80).groupBy().agg(
      sum(when(col("label") === "hi", 1L).otherwise(0L)).as("nd_hi"),
      sum(when(col("label") === "lo", 1L).otherwise(0L)).as("nd_lo"))
    val tokTotals = cnt.groupBy().agg(
      sum("c_hi").as("t_hi"), sum("c_lo").as("t_lo"),
      count(lit(1)).as("v"))
    val params = broadcast(docCounts.crossJoin(tokTotals))
    val model = broadcast(cnt.crossJoin(params).select(col("tok"),
      log((col("c_hi") + 1).cast("double") /
        (col("t_hi") + col("v")).cast("double")).as("lp_hi"),
      log((col("c_lo") + 1).cast("double") /
        (col("t_lo") + col("v")).cast("double")).as("lp_lo")))
    val perDoc = test
      .select(col("doc_id"), explode(col("__toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .join(model, "tok")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("tok"), col("c"),
        col("lp_hi"), col("lp_lo")))).as("__m"))
      .select(col("doc_id"),
        aggregate(transform(col("__m"),
          x => x.getField("c").cast("double") * x.getField("lp_hi")),
          lit(0.0), (a, t) => a + t).as("__s_hi"),
        aggregate(transform(col("__m"),
          x => x.getField("c").cast("double") * x.getField("lp_lo")),
          lit(0.0), (a, t) => a + t).as("__s_lo"))
    labeledSlim.where(col("__b") >= 90).select(col("doc_id"), col("label"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .crossJoin(params)
      .select(col("doc_id"), col("label"),
        round(log(col("nd_hi").cast("double") /
            (col("nd_hi") + col("nd_lo")).cast("double")) -
          log(col("nd_lo").cast("double") /
            (col("nd_hi") + col("nd_lo")).cast("double")) +
          coalesce(col("__s_hi"), lit(0.0)) -
          coalesce(col("__s_lo"), lit(0.0)), 6).as("margin"))
      .select(col("doc_id"), col("label"),
        when(col("margin") > 0, "hi").otherwise("lo").as("predicted"),
        col("margin"),
        (when(col("margin") > 0, "hi").otherwise("lo") === col("label"))
          .as("correct"))
      .orderBy("doc_id")
  }

  val qtNbQualitySql: String =
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CASE WHEN 0.3 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0)
      |        + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |                 / CAST(len(string_split(text, ' ')) AS DOUBLE))
      |        + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |                 t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
      |                 / CAST(len(string_split(text, ' ')) AS DOUBLE)) >= 0.73
      |      THEN 'hi' ELSE 'lo' END AS label,
      |    ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 100 AS b
      |  FROM documents
      |), train AS (SELECT * FROM base WHERE b < 80
      |), test AS (SELECT * FROM base WHERE b >= 90
      |), ttok AS (
      |  SELECT doc_id, label, unnest(toks) AS tok FROM train
      |), vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, COUNT(DISTINCT doc_id) AS df FROM ttok GROUP BY tok
      |    ORDER BY df DESC, tok LIMIT 64)
      |), cnt AS (
      |  SELECT t.tok,
      |    CAST(SUM(CASE WHEN label = 'hi' THEN 1 ELSE 0 END) AS BIGINT) AS c_hi,
      |    CAST(SUM(CASE WHEN label = 'lo' THEN 1 ELSE 0 END) AS BIGINT) AS c_lo
      |  FROM ttok t JOIN vocab v ON t.tok = v.tok GROUP BY t.tok
      |), params AS (
      |  SELECT
      |    (SELECT CAST(SUM(CASE WHEN label = 'hi' THEN 1 ELSE 0 END) AS BIGINT)
      |       FROM train) AS nd_hi,
      |    (SELECT CAST(SUM(CASE WHEN label = 'lo' THEN 1 ELSE 0 END) AS BIGINT)
      |       FROM train) AS nd_lo,
      |    CAST(SUM(c_hi) AS BIGINT) AS t_hi,
      |    CAST(SUM(c_lo) AS BIGINT) AS t_lo,
      |    COUNT(*) AS v
      |  FROM cnt
      |), model AS (
      |  SELECT tok,
      |    ln(CAST(c_hi + 1 AS DOUBLE) / CAST(t_hi + v AS DOUBLE)) AS lp_hi,
      |    ln(CAST(c_lo + 1 AS DOUBLE) / CAST(t_lo + v AS DOUBLE)) AS lp_lo
      |  FROM cnt, params
      |), dt AS (
      |  SELECT doc_id, tok, COUNT(*) AS c
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM test)
      |  GROUP BY doc_id, tok
      |), scored AS (
      |  SELECT dt.doc_id,
      |    list(struct_pack(tok := dt.tok, c := dt.c, lp_hi := m.lp_hi,
      |      lp_lo := m.lp_lo) ORDER BY dt.tok) AS ml
      |  FROM dt JOIN model m ON dt.tok = m.tok GROUP BY dt.doc_id
      |), folded AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(ml, x -> CAST(x.c AS DOUBLE) * x.lp_hi),
      |      (a, b) -> a + b) AS s_hi,
      |    list_reduce(list_transform(ml, x -> CAST(x.c AS DOUBLE) * x.lp_lo),
      |      (a, b) -> a + b) AS s_lo
      |  FROM scored
      |), scoredtest AS (
      |  SELECT t.doc_id, t.label,
      |    round(ln(CAST(p.nd_hi AS DOUBLE) / CAST(p.nd_hi + p.nd_lo AS DOUBLE))
      |      - ln(CAST(p.nd_lo AS DOUBLE) / CAST(p.nd_hi + p.nd_lo AS DOUBLE))
      |      + COALESCE(f.s_hi, 0.0) - COALESCE(f.s_lo, 0.0), 6) AS margin
      |  FROM test t LEFT JOIN folded f ON t.doc_id = f.doc_id, params p
      |)
      |SELECT doc_id, label,
      |  CASE WHEN margin > 0 THEN 'hi' ELSE 'lo' END AS predicted,
      |  margin,
      |  (CASE WHEN margin > 0 THEN 'hi' ELSE 'lo' END) = label AS correct
      |FROM scoredtest ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qt_rake" -> (qtRake _),
    "qt_nb_quality" -> (qtNbQuality _),
    "qt_dup_fraction" -> (qtDupFraction _),
    "qt_js_sources" -> (qtJsSources _),
    "qt_burstiness" -> (qtBurstiness _),
    "qt_heaps" -> (qtHeaps _),
    "qt_bigram_lm" -> (qtBigramLm _),
    "qt_kn_bigram" -> (qtKnBigram _),
    "qt_langid_eval" -> (qtLangidEval _),
    "qt_chunks" -> (qtChunks _),
    "qt_novelty" -> (qtNovelty _),
    "qt_readability" -> (qtReadability _),
    "qt_keywords" -> (qtKeywords _),
    "qt_oov" -> (qtOov _),
    "qt_entropy" -> (qtEntropy _),
    "qt_cross_entropy" -> (qtCrossEntropy _),
    "qt_repetition" -> (qtRepetition _),
    "qt_passages" -> (qtPassages _),
    "qt_tfidf" -> (qtTfidf _),
    "qt_bm25" -> (qtBm25 _),
    "qt_rrf_fusion" -> (qtRrfFusion _),
    "qt_hapax" -> (qtHapax _),
    "qt_vocab" -> (qtVocab _),
    "qt_pmi" -> (qtPmi _),
    "qt_zipf" -> (qtZipf _),
    "qt_redact" -> (qtRedact _),
    "qt_split" -> (qtSplit _),
    "qt_corpus_stats" -> (qtCorpusStats _),
    "qt_tokens" -> (qtTokens _),
    "qt_quality" -> (qtQuality _),
    "qt_langid" -> (qtLangid _),
    "qt_fertility" -> (qtFertility _),
    "qt_langid_ngram" -> (qtLangidNgram _),
    "qt_fingerprint" -> (qtFingerprint _))

  val oracles: Map[String, String] = Map(
    "qt_rake" -> qtRakeSql,
    "qt_nb_quality" -> qtNbQualitySql,
    "qt_dup_fraction" -> qtDupFractionSql,
    "qt_js_sources" -> qtJsSourcesSql,
    "qt_burstiness" -> qtBurstinessSql,
    "qt_heaps" -> qtHeapsSql,
    "qt_bigram_lm" -> qtBigramLmSql,
    "qt_kn_bigram" -> qtKnBigramSql,
    "qt_langid_eval" -> qtLangidEvalSql,
    "qt_chunks" -> qtChunksSql,
    "qt_novelty" -> qtNoveltySql,
    "qt_readability" -> qtReadabilitySql,
    "qt_keywords" -> qtKeywordsSql,
    "qt_oov" -> qtOovSql,
    "qt_entropy" -> qtEntropySql,
    "qt_cross_entropy" -> qtCrossEntropySql,
    "qt_repetition" -> qtRepetitionSql,
    "qt_passages" -> qtPassagesSql,
    "qt_tfidf" -> qtTfidfSql,
    "qt_bm25" -> qtBm25Sql,
    "qt_rrf_fusion" -> qtRrfFusionSql,
    "qt_hapax" -> qtHapaxSql,
    "qt_vocab" -> qtVocabSql,
    "qt_pmi" -> qtPmiSql,
    "qt_zipf" -> qtZipfSql,
    "qt_redact" -> qtRedactSql,
    "qt_split" -> qtSplitSql,
    "qt_corpus_stats" -> qtCorpusStatsSql,
    "qt_tokens" -> qtTokensSql,
    "qt_quality" -> qtQualitySql,
    "qt_langid" -> qtLangidSql,
    "qt_fertility" -> qtFertilitySql,
    "qt_langid_ngram" -> qtLangidNgramSql,
    "qt_fingerprint" -> qtFingerprintSql)
}
