package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup

/** Driver-contract queries for the dedup family — SURVEY.md §2 items
  * 20-25. Every hash is md5-derived so the DuckDB oracles reproduce the
  * exact values (`('0x' || substr(md5(x),1,8))::BIGINT` ≡ Spark
  * `conv(substring(md5(x),1,8),16,10)`).
  */
object DedupQueries {

  // Shared with PipelineQueries.qpContamination, whose oracle embeds
  // qdMinhashPairsSql — the Spark side and the SQL must tune together.
  private[queries] val NumPerms = 16
  private[queries] val BandSize = 8

  /** §2.20 — exact dedup groups by content hash. */
  def qdExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.load(spark, dir, "documents"), "text", "doc_id")
      .orderBy("content_hash")

  val qdExactSql: String =
    """SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS canonical_id
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin

  /** §2.20c — canonicalization-ladder dedup census: per source, the
    * exact-duplicate rate at three normalization levels — raw text
    * hash, sorted token-multiset hash (order-insensitive: catches
    * shuffled boilerplate), sorted distinct-token-set hash
    * (count-insensitive: catches padded repeats). The ladder answers
    * the calibration question BEFORE configuring near-dup thresholds:
    * how much duplicate mass does each cheap canonicalization level
    * already expose (each level is a hash groupBy, ~free) vs what must
    * be left to O(corpus)·bands MinHash work. All three hashes are
    * one per-row projection fused into the scan; stack() unpivots to
    * (source, level) and one aggregate computes docs/distinct/rate —
    * no joins, two shuffle keys total, linear at any corpus size. */
  def qdNormLevels(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.tokens
    val toks = tokens(col("text"))
    Tables.load(spark, dir, "documents")
      .select(col("source"),
        md5(col("text")).as("__h1"),
        md5(concat_ws(" ", array_sort(toks))).as("__h2"),
        md5(concat_ws(" ", array_sort(array_distinct(toks)))).as("__h3"))
      .select(col("source"), expr(
        """stack(3, 'exact', __h1, 'token_bag', __h2, 'token_set', __h3)
          | AS (level, h)""".stripMargin))
      .groupBy("source", "level")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"))
      .withColumn("dup_rate",
        round((col("n_docs") - col("n_distinct")).cast("double") /
          col("n_docs").cast("double"), 6))
      .orderBy("source", "level")
  }

  val qdNormLevelsSql: String =
    """WITH h AS (
      |  SELECT source,
      |    md5(text) AS h1,
      |    md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
      |      AS h2,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(text, ' '))), ' ')) AS h3
      |  FROM documents
      |), lv AS (
      |  SELECT source, 'exact' AS level, h1 AS h FROM h
      |  UNION ALL
      |  SELECT source, 'token_bag', h2 FROM h
      |  UNION ALL
      |  SELECT source, 'token_set', h3 FROM h
      |)
      |SELECT source, level, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT h) AS n_distinct,
      |  round(CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
      |FROM lv GROUP BY source, level
      |ORDER BY source, level""".stripMargin

  /** §2.21 — 16-permutation MinHash signatures. */
  def qdMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.withMinhashSignature(Tables.load(spark, dir, "documents"), "text", NumPerms)
      .select(col("doc_id") +: (0 until NumPerms).map(k => col(s"sig_$k")): _*)
      .orderBy("doc_id")

  private[queries] def sigSqlExpr(k: Int): String = {
    val (g, s) = (k / 4, k % 4)
    s"""list_min(list_transform(list_distinct(string_split(text, ' ')),
       | t -> ('0x' || substr(md5('$g:' || t), ${1 + 8 * s}, 8))::BIGINT))"""
      .stripMargin.replace("\n", "")
  }

  val qdMinhashSql: String = {
    val sigs = (0 until NumPerms).map(k => s"  ${sigSqlExpr(k)} AS sig_$k").mkString(",\n")
    s"SELECT doc_id,\n$sigs\nFROM documents\nORDER BY doc_id"
  }

  /** §2.22 — LSH banded candidate pairs (2 bands × 8 rows). */
  def qdMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(Tables.load(spark, dir, "documents"),
      "text", "doc_id", NumPerms, BandSize)
      .orderBy("id_a", "id_b")

  /** UNION ALL branches unpivoting sigs' band_b columns to rows —
    * generated from the same (0 until numBands) range as the band
    * columns themselves, so changing NumPerms/BandSize retunes the
    * whole oracle, never a hardcoded subset of bands. */
  private[queries] def bandedUnionSql(extraCols: String = ""): String =
    (0 until NumPerms / BandSize).map { b =>
      s"  SELECT doc_id,$extraCols $b AS band_idx, band_$b AS band_val FROM sigs"
    }.mkString("\n  UNION ALL\n")

  val qdMinhashPairsSql: String = {
    val bands = (0 until NumPerms / BandSize).map { b =>
      val parts = (0 until BandSize).map(j => sigSqlExpr(b * BandSize + j))
      s"md5(concat_ws('_', ${parts.mkString(", ")})) AS band_$b"
    }
    s"""WITH sigs AS (
       |  SELECT doc_id, ${bands.mkString(",\n    ")}
       |  FROM documents
       |), banded AS (
       |${bandedUnionSql()}
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
       |FROM banded a JOIN banded b
       |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |WHERE a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Cross-source near-dup report: MinHash-LSH candidate pairs rolled up
    * per (source_a, source_b) pair — the ingest-monitoring view of
    * content shared ACROSS sources (the within-source view is
    * [qd_simhash_pairs]'s blocking). Two hash-joins annotate the pairs
    * with their sources; output is at most |sources|² rows. */
  def qdCrossSource(spark: SparkSession, dir: String): DataFrame =
    // Count-only rollup: inclusion-exclusion over band subsets — the
    // 2.3M-pair candidate set at sf0.1 is never materialized (the
    // oracle still counts the materialized pairs, proving equivalence).
    Dedup.lshLabelPairReport(Tables.load(spark, dir, "documents"),
      "text", "doc_id", "source", NumPerms, BandSize)
      .select(col("label_a").as("source_a"), col("label_b").as("source_b"),
        col("n_pairs"))
      .orderBy("source_a", "source_b")

  val qdCrossSourceSql: String =
    s"""WITH pairs AS ($qdMinhashPairsSql),
       |lab AS (
       |  SELECT a.source AS src_a, b.source AS src_b
       |  FROM pairs p
       |  JOIN documents a ON p.id_a = a.doc_id
       |  JOIN documents b ON p.id_b = b.doc_id
       |)
       |SELECT least(src_a, src_b) AS source_a,
       |  greatest(src_a, src_b) AS source_b,
       |  COUNT(*) AS n_pairs
       |FROM lab WHERE src_a <> src_b
       |GROUP BY least(src_a, src_b), greatest(src_a, src_b)
       |ORDER BY source_a, source_b""".stripMargin

  /** Incremental dedup: the md5-split "new" 20% of the corpus probed
    * against the band index of the "existing" 80% — which incoming
    * documents near-duplicate corpus content, without all-pairs work. */
  def qdIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val docs = Tables.load(spark, dir, "documents")
    val bucket = md5Bucket("split", col("doc_id"), 100)
    Dedup.incrementalNearDups(
      docs.where(bucket < 80), docs.where(bucket >= 80),
      "text", "doc_id", NumPerms, BandSize)
      .orderBy("doc_id")
  }

  val qdIncrementalSql: String = {
    val bands = (0 until NumPerms / BandSize).map { b =>
      val parts = (0 until BandSize).map(j => sigSqlExpr(b * BandSize + j))
      s"md5(concat_ws('_', ${parts.mkString(", ")})) AS band_$b"
    }
    s"""WITH sigs AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 100 AS bucket,
       |    ${bands.mkString(",\n    ")}
       |  FROM documents
       |), banded AS (
       |${bandedUnionSql(" bucket,")}
       |), idx AS (
       |  SELECT DISTINCT band_idx, band_val FROM banded WHERE bucket < 80
       |)
       |SELECT b.doc_id, COUNT(*) AS n_colliding_bands
       |FROM banded b JOIN idx i
       |  ON b.band_idx = i.band_idx AND b.band_val = i.band_val
       |WHERE b.bucket >= 80
       |GROUP BY b.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** §2.23 — 32-bit SimHash per document. */
  def qdSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash32(Tables.load(spark, dir, "documents"), "text", "doc_id")
      .orderBy("doc_id")

  /** Shared oracle CTE chain computing (doc_id, simhash) — interpolated
    * into BOTH simhash oracles so the formula cannot desynchronise. */
  private val simhashCtes: String =
    """toks AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), hashed AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
      |), bits AS (
      |  SELECT doc_id, r.range AS bit,
      |    SUM(CASE WHEN (h & (1::BIGINT << r.range)) <> 0 THEN 1 ELSE -1 END) AS cnt
      |  FROM hashed CROSS JOIN range(0, 32) r
      |  GROUP BY doc_id, r.range
      |), sh AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN cnt > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id
      |)""".stripMargin

  val qdSimhashSql: String =
    s"""WITH $simhashCtes
       |SELECT doc_id, simhash FROM sh
       |ORDER BY doc_id""".stripMargin

  /** §2.23b — SimHash near-dup pairs: Hamming distance ≤ 8 between
    * 32-bit simhashes, blocked by source. The simhash is 8 bytes per
    * doc, so the pair space shrinks to cheap integer xor/popcount —
    * the point of SimHash at scale. */
  def qdSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val hashed = Dedup.simhash32(docs, "text", "doc_id")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val a = hashed.select(col("source"), col("doc_id").as("id_a"), col("simhash").as("h_a"))
    val b = hashed.select(col("source"), col("doc_id").as("id_b"), col("simhash").as("h_b"))
    a.join(b, Seq("source")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(h_a ^ h_b)").cast("long").as("hamming"))
      .where(col("hamming") <= 8)
      .orderBy("id_a", "id_b")
  }

  val qdSimhashPairsSql: String =
    s"""WITH $simhashCtes, joined AS (
       |  SELECT s.doc_id, s.simhash, d.source
       |  FROM sh s JOIN documents d ON s.doc_id = d.doc_id
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM joined a JOIN joined b
       |  ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
       |ORDER BY id_a, id_b""".stripMargin

  /** §2.24 — 3-gram Jaccard for pairs blocked by source. */
  def qdNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.load(spark, dir, "documents"),
      "text", "doc_id", 3, "source")
      .orderBy("id_a", "id_b")

  val qdNgramJaccardSql: String =
    """WITH sh AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS g
      |  FROM documents
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) AS jaccard
      |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE len(list_distinct(list_concat(a.g, b.g))) > 0
      |ORDER BY id_a, id_b""".stripMargin

  /** §2.24c — asymmetric shingle-containment pairs
    * ([[Dedup.containmentNeighbors]]): |A∩B|/|A| per direction over the
    * same inverted shingle index as 25b's edges — the quote/excerpt
    * detector for short docs embedded in long ones, where Jaccard is
    * diluted by the union. The oracle recomputes containment
    * quadratically per source block; the Spark side only ever touches
    * posting-join candidates. */
  def qdContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentNeighbors(Tables.load(spark, dir, "documents"),
      "text", "doc_id", 3, "source", 0.05)
      .orderBy("id_a", "id_b")

  val qdContainmentSql: String =
    """WITH sh AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS g
      |  FROM documents
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / CAST(len(a.g) AS DOUBLE) AS containment_in_a,
      |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / CAST(len(b.g) AS DOUBLE) AS containment_in_b
      |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE len(a.g) > 0 AND len(b.g) > 0
      |  AND len(list_intersect(a.g, b.g)) > 0
      |  AND (len(list_intersect(a.g, b.g)) / CAST(len(a.g) AS DOUBLE) >= 0.05
      |    OR len(list_intersect(a.g, b.g)) / CAST(len(b.g) AS DOUBLE) >= 0.05)
      |ORDER BY id_a, id_b""".stripMargin

  /** §2.24f — EXACT Jaccard ≥ 0.6 set-similarity join over 3-gram
    * shingle sets via prefix filtering ([[Dedup.prefixJaccardJoin]],
    * the AllPairs/PPJoin family): the zero-false-negative complement
    * to MinHash-LSH — candidate pairs come only from each doc's rarest
    * `(1−τ)|d|+1` shingles (a guaranteed superset by the
    * prefix-filtering lemma), then ONE exact array_intersect
    * verification per pair. The oracle is the brute all-pairs join,
    * proving the pruned plan loses nothing. */
  def qdPrefixJoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardJoin(Tables.load(spark, dir, "documents"),
      "text", "doc_id", 0.6, n = 3)
      .orderBy("id_a", "id_b")

  val qdPrefixJoinSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS toks
      |  FROM documents
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.toks, b.toks)) AS INT) AS n_common,
      |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
      |    AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  AND len(a.toks) > 0 AND len(b.toks) > 0
      |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
      |    >= 0.6
      |ORDER BY id_a, id_b""".stripMargin

  /** §2.22e — LSH S-curve planning table for the CURRENT (bands, rows)
    * configuration: P(candidate | Jaccard = s) = 1 − (1 − s^r)^b on a
    * 19-point similarity grid, plus the config itself — the design
    * sheet read BEFORE re-tuning NumPerms/BandSize (22c measures the
    * operating point empirically; this is the closed-form curve the
    * measurement should land on). Derives b and r from the SAME
    * constants the production pairs query uses, so the sheet can never
    * describe a config the engine does not run. Powers expand to
    * explicit multiplication chains (s⁸ = ((s²)²)², square for b = 2):
    * bit-identical in any engine, where libm `pow` is not. */
  def qdLshCurve(spark: SparkSession, dir: String): DataFrame = {
    require(NumPerms / BandSize == 2 && BandSize == 8,
      "curve expansion below is specialized to b=2, r=8 — retune together")
    spark.range(1, 20)
      .select((col("id").cast("double") / lit(20.0)).as("s"))
      .withColumn("__s2", col("s") * col("s"))
      .withColumn("__s4", col("__s2") * col("__s2"))
      .withColumn("__s8", col("__s4") * col("__s4"))
      .withColumn("__m", lit(1.0) - col("__s8"))
      .select(col("s"), lit(2).as("bands"), lit(8).as("rows_per_band"),
        round(lit(1.0) - col("__m") * col("__m"), 6).as("p_candidate"))
      .orderBy("s")
  }

  val qdLshCurveSql: String =
    """WITH g AS (
      |  SELECT CAST(i AS DOUBLE) / 20.0 AS s FROM range(1, 20) t(i)
      |), p AS (
      |  SELECT s, s * s AS s2 FROM g
      |), q AS (
      |  SELECT s, s2 * s2 AS s4 FROM p
      |), r AS (
      |  SELECT s, s4 * s4 AS s8 FROM q
      |), m AS (
      |  SELECT s, 1.0 - s8 AS mm FROM r
      |)
      |SELECT s, 2 AS bands, 8 AS rows_per_band,
      |  round(1.0 - mm * mm, 6) AS p_candidate
      |FROM m ORDER BY s""".stripMargin

  /** §2.22f — LSH parameter DESIGN table: for every (bands,
    * rows-per-band) factorization of the 16-hash budget, the
    * integrated S-curve error against the τ=0.5 target — false-
    * positive area ∫₀^τ P(s) ds plus false-negative area
    * ∫τ^1 (1−P(s)) ds on a 201-point midpoint grid — plus the grid
    * s50 crossover, with the arg-min row flagged. 22e PLOTS one
    * configuration's curve; this CHOOSES the configuration, turning
    * "how many bands?" from folklore into an optimization readout.
    * Every exponent in P(s) = 1−(1−s^r)^b is a power of two, so both
    * engines evaluate pure repeated-squaring multiplication chains —
    * no pow(), no libm-vs-JVM divergence; area terms are
    * DECIMAL(38,12)-quantized and the arg-min compares exact
    * decimals. All frames are generated (5 configs × 201 grid rows);
    * nothing scans data — the operator is free at any corpus size. */
  def qdLshDesign(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = spark.range(0, 201)
      .select(((col("id").cast("double") + lit(0.5)) / lit(201.0)).as("s"))
    val configs = spark.range(0, 1)
      .select(explode(array(lit(1), lit(2), lit(4), lit(8), lit(16)))
        .as("bands"))
      .withColumn("rows_per_band", (lit(16) / col("bands")).cast("int"))
    val s2 = col("s") * col("s")
    val joined = configs.crossJoin(grid)
      .withColumn("__s2", s2).withColumn("__s4", col("__s2") * col("__s2"))
      .withColumn("__s8", col("__s4") * col("__s4"))
      .withColumn("__s16", col("__s8") * col("__s8"))
      .withColumn("__sr",
        when(col("rows_per_band") === 16, col("__s16"))
          .when(col("rows_per_band") === 8, col("__s8"))
          .when(col("rows_per_band") === 4, col("__s4"))
          .when(col("rows_per_band") === 2, col("__s2"))
          .otherwise(col("s")))
      .withColumn("__m", lit(1.0) - col("__sr"))
      .withColumn("__m2", col("__m") * col("__m"))
      .withColumn("__m4", col("__m2") * col("__m2"))
      .withColumn("__m8", col("__m4") * col("__m4"))
      .withColumn("__m16", col("__m8") * col("__m8"))
      .withColumn("__p", lit(1.0) -
        when(col("bands") === 16, col("__m16"))
          .when(col("bands") === 8, col("__m8"))
          .when(col("bands") === 4, col("__m4"))
          .when(col("bands") === 2, col("__m2"))
          .otherwise(col("__m")))
    val dx = lit(1.0 / 201.0)
    val agg = joined.groupBy("bands", "rows_per_band")
      .agg(
        sum(when(col("s") < 0.5,
          round(col("__p") * dx, 12).cast("decimal(38,12)"))
          .otherwise(lit(0.0).cast("decimal(38,12)"))).as("__fp"),
        sum(when(col("s") >= 0.5,
          round((lit(1.0) - col("__p")) * dx, 12).cast("decimal(38,12)"))
          .otherwise(lit(0.0).cast("decimal(38,12)"))).as("__fn"),
        min(when(col("__p") >= 0.5, col("s"))).as("__s50"))
      .withColumn("__tot", col("__fp") + col("__fn"))
      .withColumn("chosen", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("__tot"), col("bands"))) === 1)
    agg.select(col("bands"), col("rows_per_band"),
      round(col("__fp").cast("double"), 6).as("fp_area"),
      round(col("__fn").cast("double"), 6).as("fn_area"),
      round(col("__tot").cast("double"), 6).as("total_error"),
      round(col("__s50"), 6).as("s50"), col("chosen"))
      .orderBy("bands")
  }

  val qdLshDesignSql: String =
    """WITH cfg AS (
      |  SELECT 1 AS bands UNION ALL SELECT 2 UNION ALL SELECT 4
      |  UNION ALL SELECT 8 UNION ALL SELECT 16
      |), cfg2 AS (
      |  SELECT bands, CAST(16 / bands AS INTEGER) AS rows_per_band
      |  FROM cfg
      |), g AS (
      |  SELECT (CAST(i AS DOUBLE) + 0.5e0) / 201.0e0 AS s
      |  FROM range(0, 201) t(i)
      |), j AS (
      |  SELECT c.bands, c.rows_per_band, g.s,
      |    g.s * g.s AS s2 FROM cfg2 c CROSS JOIN g
      |), j2 AS (
      |  SELECT *, s2 * s2 AS s4 FROM j
      |), j3 AS (
      |  SELECT *, s4 * s4 AS s8 FROM j2
      |), j4 AS (
      |  SELECT *, s8 * s8 AS s16 FROM j3
      |), pm AS (
      |  SELECT bands, rows_per_band, s,
      |    1.0e0 - (CASE rows_per_band WHEN 16 THEN s16 WHEN 8 THEN s8
      |      WHEN 4 THEN s4 WHEN 2 THEN s2 ELSE s END) AS m
      |  FROM j4
      |), pm2 AS (
      |  SELECT *, m * m AS m2 FROM pm
      |), pm3 AS (
      |  SELECT *, m2 * m2 AS m4 FROM pm2
      |), pm4 AS (
      |  SELECT *, m4 * m4 AS m8 FROM pm3
      |), pm5 AS (
      |  SELECT *, m8 * m8 AS m16 FROM pm4
      |), pp AS (
      |  SELECT bands, rows_per_band, s,
      |    1.0e0 - (CASE bands WHEN 16 THEN m16 WHEN 8 THEN m8
      |      WHEN 4 THEN m4 WHEN 2 THEN m2 ELSE m END) AS p
      |  FROM pm5
      |), a AS (
      |  SELECT bands, rows_per_band,
      |    SUM(CASE WHEN s < 0.5e0
      |      THEN CAST(round(p * (1.0e0 / 201.0e0), 12) AS DECIMAL(38,12))
      |      ELSE CAST(0.0e0 AS DECIMAL(38,12)) END) AS fp,
      |    SUM(CASE WHEN s >= 0.5e0
      |      THEN CAST(round((1.0e0 - p) * (1.0e0 / 201.0e0), 12)
      |        AS DECIMAL(38,12))
      |      ELSE CAST(0.0e0 AS DECIMAL(38,12)) END) AS fn,
      |    MIN(CASE WHEN p >= 0.5e0 THEN s END) AS s50
      |  FROM pp GROUP BY 1, 2
      |), w AS (
      |  SELECT bands, rows_per_band, fp, fn, fp + fn AS tot, s50,
      |    ROW_NUMBER() OVER (ORDER BY fp + fn, bands) AS rn
      |  FROM a
      |)
      |SELECT bands, rows_per_band,
      |  round(CAST(fp AS DOUBLE), 6) AS fp_area,
      |  round(CAST(fn AS DOUBLE), 6) AS fn_area,
      |  round(CAST(tot AS DOUBLE), 6) AS total_error,
      |  round(s50, 6) AS s50, rn = 1 AS chosen
      |FROM w
      |ORDER BY bands""".stripMargin

  /** §2.39d — consistent-hash resharding report: documents assign to
    * shards via a virtual-node hash ring (32 md5 points per shard),
    * and the report measures what fraction MOVES when the fleet grows
    * 8 → 10 shards — against the naive `hash mod N` assignment, which
    * reshuffles ~(1 − 1/N) of everything. This is the design readout
    * behind incremental re-sharding / re-bucketing of a 100 TB corpus:
    * the ring moves ≈ 2/10 of keys (only what lands on the new
    * shards), so re-layout cost is proportional to the DELTA, not the
    * corpus. The ring is a generated ≤ shards×32-row frame joined
    * broadcast against per-doc hashes (successor = min ring point ≥
    * h, wrapping to the global min; position ties resolve to the
    * lowest shard — all portable md5 arithmetic, no engine hash). */
  def qdConsistentHash(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Hash32
    val V = 32
    def ring(shards: Int): DataFrame =
      spark.range(0, shards.toLong).select(col("id").as("s"))
        .crossJoin(spark.range(0, V.toLong).select(col("id").as("v")))
        .select(col("s"),
          md5Hash32(concat_ws("_", lit("node"), col("s"), col("v")))
            .as("pos"))
    def assign(docs: DataFrame, shards: Int, outCol: String): DataFrame = {
      val r = ring(shards)
      val target = docs.crossJoin(broadcast(r))
        .groupBy("doc_id", "h")
        .agg(min(when(col("pos") >= col("h"), col("pos"))).as("__ge"),
          min(col("pos")).as("__lo"))
        .withColumn("__t", coalesce(col("__ge"), col("__lo")))
      target.join(broadcast(r), col("__t") === col("pos"))
        .groupBy("doc_id", "h")
        .agg(min(col("s")).as(outCol))
    }
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        md5Hash32(concat_ws(":", lit("ring"), col("doc_id"))).as("h"))
    val a8 = assign(docs, 8, "shard8")
    val a10 = assign(docs, 10, "shard10")
    a8.join(a10, Seq("doc_id", "h"))
      .groupBy("shard8")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard8") =!= col("shard10"), 1L).otherwise(0L))
          .as("ring_moved"),
        sum(when(col("h") % 8 =!= col("h") % 10, 1L).otherwise(0L))
          .as("naive_moved"))
      .withColumn("ring_moved_share",
        round(col("ring_moved").cast("double") / col("n_docs"), 6))
      .withColumn("naive_moved_share",
        round(col("naive_moved").cast("double") / col("n_docs"), 6))
      .orderBy("shard8")
  }

  val qdConsistentHashSql: String = {
    def ringSql(shards: Int, name: String): String =
      s"""$name AS (
         |  SELECT s, ('0x' || substr(md5('node_' || s || '_' || v), 1, 8))
         |    ::BIGINT AS pos
         |  FROM range(0, $shards) t1(s), range(0, 32) t2(v)
         |)""".stripMargin
    def assignSql(ringName: String, outName: String, outCol: String): String =
      s"""${outName}_t AS (
         |  SELECT d.doc_id, d.h,
         |    COALESCE(MIN(CASE WHEN r.pos >= d.h THEN r.pos END),
         |      MIN(r.pos)) AS t
         |  FROM docs d CROSS JOIN $ringName r
         |  GROUP BY d.doc_id, d.h
         |), $outName AS (
         |  SELECT x.doc_id, x.h, MIN(r.s) AS $outCol
         |  FROM ${outName}_t x JOIN $ringName r ON r.pos = x.t
         |  GROUP BY x.doc_id, x.h
         |)""".stripMargin
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('ring:' || doc_id), 1, 8))::BIGINT AS h
       |  FROM documents
       |), ${ringSql(8, "r8")}, ${ringSql(10, "r10")},
       |${assignSql("r8", "a8", "shard8")},
       |${assignSql("r10", "a10", "shard10")}
       |SELECT a8.shard8, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN a8.shard8 <> a10.shard10 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS ring_moved,
       |  CAST(SUM(CASE WHEN a8.h % 8 <> a8.h % 10 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS naive_moved,
       |  round(CAST(SUM(CASE WHEN a8.shard8 <> a10.shard10 THEN 1 ELSE 0
       |    END) AS DOUBLE) / COUNT(*), 6) AS ring_moved_share,
       |  round(CAST(SUM(CASE WHEN a8.h % 8 <> a8.h % 10 THEN 1 ELSE 0
       |    END) AS DOUBLE) / COUNT(*), 6) AS naive_moved_share
       |FROM a8 JOIN a10 ON a8.doc_id = a10.doc_id
       |GROUP BY a8.shard8
       |ORDER BY a8.shard8""".stripMargin
  }

  /** §2.20d — shingle duplication SPECTRUM: for k = 1..10+ the number
    * of distinct 5-gram shingles occurring in exactly k documents,
    * with share and cumulative share — the one-page corpus-redundancy
    * fingerprint read BEFORE choosing dedup machinery (a spectrum
    * hugging k=1 needs none; a fat k≥2 tail prices exact dedup; mass
    * at k=10+ is boilerplate that wants line/winnowing removal, not
    * doc-level dedup). Complements qt_dup_fraction (per-DOC score)
    * with the per-SHINGLE view. Inverted-index shape: staged token
    * array → distinct (doc, shingle) → per-shingle doc frequency →
    * ≤11-row bucket rollup; shares divide exact longs, windows run on
    * the bucket frame only. */
  def qdDupSpectrum(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.tokens
    import org.apache.spark.sql.expressions.Window
    val n = 5
    val toks = tokens(col("text"))
    val dfreq = Tables.load(spark, dir, "documents")
      .where(size(toks) >= n)
      .select(col("doc_id"), toks.as("__toks"))
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("__toks")) - (n - 1)),
          i => md5(concat_ws(" ", slice(col("__toks"), i, lit(n)))))))
          .as("__sh"))
      .groupBy("__sh").agg(count(lit(1)).as("__df"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = Window.orderBy("df_bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dfreq.groupBy(least(col("__df"), lit(10L)).as("df_bucket"))
      .agg(count(lit(1)).as("n_shingles"))
      .withColumn("share", round(col("n_shingles").cast("double") /
        sum("n_shingles").over(all).cast("double"), 6))
      .withColumn("cum_share", round(
        sum("n_shingles").over(cum).cast("double") /
          sum("n_shingles").over(all).cast("double"), 6))
      .orderBy("df_bucket")
  }

  val qdDupSpectrumSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), inst AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(toks) - 3),
      |      i -> md5(array_to_string(toks[i:i+4], ' '))))) AS sh
      |  FROM d WHERE len(toks) >= 5
      |), dfreq AS (
      |  SELECT sh, COUNT(*) AS df FROM inst GROUP BY sh
      |), b AS (
      |  SELECT least(df, 10) AS df_bucket, COUNT(*) AS n_shingles
      |  FROM dfreq GROUP BY 1
      |)
      |SELECT df_bucket, n_shingles,
      |  round(CAST(n_shingles AS DOUBLE)
      |    / CAST(SUM(n_shingles) OVER () AS DOUBLE), 6) AS share,
      |  round(CAST(SUM(n_shingles) OVER (ORDER BY df_bucket) AS DOUBLE)
      |    / CAST(SUM(n_shingles) OVER () AS DOUBLE), 6) AS cum_share
      |FROM b
      |ORDER BY df_bucket""".stripMargin

  /** §2.24g — blocked sorted-neighborhood near-dup pass
    * ([[Dedup.sortedNeighborPairs]]): records sort inside their 6-char
    * text-prefix block, every pair within rank distance ≤ 5 is a
    * candidate, verified by exact 3-gram Jaccard ≥ 0.6. The
    * bounded-cost blocking geometry (≤ w candidates per record by
    * construction) next to LSH bands and prefix postings; the oracle
    * replays block, rank window, neighbor probe, and verification. */
  def qdSortedNeighbors(spark: SparkSession, dir: String): DataFrame =
    Dedup.sortedNeighborPairs(Tables.load(spark, dir, "documents"),
      "text", "doc_id", blockLen = 6, windowSize = 5, n = 3, minJaccard = 0.6)
      .orderBy("id_a", "id_b")

  val qdSortedNeighborsSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS g
      |  FROM documents
      |), ranked AS (
      |  SELECT doc_id, substr(text, 1, 6) AS b,
      |    ROW_NUMBER() OVER (PARTITION BY substr(text, 1, 6)
      |                       ORDER BY text, doc_id) AS rn
      |  FROM documents
      |), cand AS (
      |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
      |    greatest(a.doc_id, b.doc_id) AS id_b
      |  FROM ranked a JOIN ranked b
      |    ON a.b = b.b AND b.rn - a.rn BETWEEN 1 AND 5
      |)
      |SELECT c.id_a, c.id_b,
      |  CAST(len(list_intersect(x.g, y.g)) AS INT) AS n_common,
      |  CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
      |    / (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS jaccard
      |FROM cand c
      |JOIN sh x ON c.id_a = x.doc_id
      |JOIN sh y ON c.id_b = y.doc_id
      |WHERE len(x.g) > 0 AND len(y.g) > 0
      |  AND CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
      |    / (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) >= 0.6
      |ORDER BY id_a, id_b""".stripMargin

  /** §2.24b — Levenshtein near-dup re-rank over 40-char prefixes of the
    * MinHash-LSH candidate pairs ([[Dedup.editDistanceRerank]] over
    * [[Dedup.minhashCandidatePairs]]): the character-level re-rank
    * complement of shingle Jaccard (catches single-char typo edits that
    * shift every overlapping shingle). The quadratic compare touches
    * only O(band-collision) candidate rows — never block grids — so the
    * composition IS the 100 TB shape; the oracle composes the same two
    * stages. */
  def qdEditDistance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // Materialize before the global sort (r14): same sort-sampling
    // double-execution as qd_jaro — the rerank's scoring segment ran
    // twice (range-bound sample + real sort); the surviving pairs are
    // the small filtered result, so blocks are near-free.
    graft.operators.Materialize.once(
      Dedup.editDistanceRerank(docs,
        Dedup.minhashCandidateEdges(docs, "text", "doc_id", NumPerms, BandSize),
        "text", "doc_id", "n_chars", 40, 16))
      .orderBy("id_a", "id_b")
  }

  val qdEditDistanceSql: String =
    s"""WITH cand AS ($qdMinhashPairsSql),
      |p AS (
      |  SELECT doc_id, n_chars, left(text, 40) AS pre
      |  FROM documents
      |)
      |SELECT c.id_a, c.id_b,
      |  a.n_chars AS len_a, b.n_chars AS len_b,
      |  CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS edit_dist
      |FROM cand c
      |JOIN p a ON c.id_a = a.doc_id
      |JOIN p b ON c.id_b = b.doc_id
      |WHERE abs(a.n_chars - b.n_chars) <= 16
      |  AND levenshtein(a.pre, b.pre) <= 16
      |ORDER BY id_a, id_b""".stripMargin

  /** §2.24i — Jaro–Winkler typo rerank over the MinHash-LSH candidate
    * pairs: the transposition-tolerant cousin of 24b's Levenshtein
    * rerank, scored by the native codegen expression
    * [[org.apache.spark.sql.graft.JaroWinkler]] on 32-char document
    * prefixes (JW's prefix weighting makes head-of-document the right
    * probe). Levenshtein counts every edit equally; JW normalizes by
    * length and half-weights adjacent swaps — the dominant human typo
    * class — so near-identical openings survive that edit counts
    * reject. Same 100 TB shape as 24b: the quadratic scorer touches
    * only O(band-collision) candidate rows, never block grids. The
    * threshold compares the ROUNDED score in both engines, so a
    * last-bit double divergence cannot flip row membership. */
  def qdJaro(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.JaroWinkler
    val docs = Tables.load(spark, dir, "documents")
    val pre = docs.select(col("doc_id"),
      substring(col("text"), 1, 32).as("__pre"))
    // Materialize BEFORE the global sort (r14): the orderBy's range-
    // bound sampling re-executed the prefix joins + Jaro–Winkler
    // scoring (stage-profiled: two ~8.6 s-task / ~1.2 s-wall jobs).
    // The surviving scored pairs are the query's (small) result; the
    // sort now sorts blocks instead of re-scoring.
    graft.operators.Materialize.once(
      Dedup.minhashCandidateEdges(docs, "text", "doc_id", NumPerms, BandSize)
      // Pair-keyed repartition before the compute-dense scorer (r14):
      // same 8-partition AQE byte-coalescing starvation as
      // qd_tfidf_pairs / qd_minhash_est (10.8 s of JW task time on 8
      // of 32 cores, stage-profiled); 2× defaultParallelism is
      // fleet-adaptive and re-shuffles only the thin pair list.
      .repartition(spark.sparkContext.defaultParallelism * 2,
        col("id_a"), col("id_b"))
      .join(pre.select(col("doc_id").as("id_a"), col("__pre").as("__pa")), "id_a")
      .join(pre.select(col("doc_id").as("id_b"), col("__pre").as("__pb")), "id_b")
      .withColumn("jw", round(JaroWinkler.ofColumns(col("__pa"), col("__pb")), 6))
      .where(col("jw") >= 0.85)
      .select(col("id_a"), col("id_b"), col("jw")))
      .orderBy("id_a", "id_b")
  }

  val qdJaroSql: String =
    s"""WITH cand AS ($qdMinhashPairsSql),
      |p AS (
      |  SELECT doc_id, substr(text, 1, 32) AS pre FROM documents
      |)
      |SELECT c.id_a, c.id_b,
      |  round(jaro_winkler_similarity(a.pre, b.pre), 6) AS jw
      |FROM cand c
      |JOIN p a ON c.id_a = a.doc_id
      |JOIN p b ON c.id_b = b.doc_id
      |WHERE round(jaro_winkler_similarity(a.pre, b.pre), 6) >= 0.85
      |ORDER BY id_a, id_b""".stripMargin

  /** §2.24j — tf-idf-weighted cosine RERANK over the MinHash-LSH
    * candidates: the lexical-retrieval verifier the shingle family
    * lacks — Jaccard (24) treats boilerplate and a rare proper noun as
    * equal voters, while idf weighting makes agreement on DISTINCTIVE
    * word bigrams decide the pair (band-collision false positives
    * score near 0, true near-dups near 1 — the observed distribution
    * is sharply bimodal around the 0.5 cut). Same composition as 24b's
    * Levenshtein and 24i's Jaro–Winkler reranks: candidates come from
    * 21's bands (never a doc grid, never a posting join — at this
    * corpus's 31-token vocabulary every unigram/bigram posting is a
    * hot bucket, so scoring only O(band-collision) pairs is the sound
    * geometry), and the scorer joins each candidate to its two bigram
    * vectors. Weights are qt_tfidf's exact formula over BIGRAMS (a
    * 31-token vocab makes unigram idf nearly constant; bigrams
    * restore a spectrum); weights integerize to exact micros so dot
    * products and norms are pure integer arithmetic — order-
    * independent and engine-exact with no decimal objects in the hot
    * loop, scored per pair by the native codegen merge-walk
    * [[org.apache.spark.sql.graft.SparseDotLong]]. */
  def qdTfidfPairs(spark: SparkSession, dir: String): DataFrame = {
    val (cand, vec) = tfidfCandVec(spark, dir)
    scoreTfidfPairs(spark, cand, vec)
  }

  /** The candidate + vector frames of [[qdTfidfPairs]], exposed so
    * [[graft.TfidfProfile]] can time the banding / assembly / scoring
    * stages separately at ladder scale (the r14 verdict's stage
    * breakdown). Same frames, same plan — the public query is the
    * composition of this and [[scoreTfidfPairs]]. */
  private[graft] def tfidfCandVec(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import graft.functions.Portable.tokens
    val docs = Tables.load(spark, dir, "documents")
    val nDocs = docs.count() // column-pruned count scan, once per build
    val tf = docs.select(col("doc_id"), tokens(col("text")).as("__t"))
      .select(col("doc_id"), explode_outer(when(size(col("__t")) >= 2,
        transform(sequence(lit(1), size(col("__t")) - 1),
          i => concat_ws(" ", element_at(col("__t"), i),
            element_at(col("__t"), i + 1))))).as("token"))
      .where(col("token").isNotNull)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
    val v = tf
      .withColumn("w", round(
        (col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy("doc_id")).cast("double")) *
          (log((lit(nDocs).cast("double") + lit(1.0)) /
            (count(lit(1)).over(Window.partitionBy("token")).cast("double")
              + lit(1.0))) + lit(1.0)), 6))
      .select("doc_id", "token", "w")
    // Weights integerize to exact MICROS (round-6 doubles × 1e6 round
    // to integers losslessly), so every dot product and norm below is
    // exact, overflow-safe, order-free integer arithmetic — no decimal
    // objects, no per-term rounding, nothing engine-specific. Cosine is
    // scale-invariant, so the 1e6 factor cancels and only the final
    // double division happens in floating point.
    val vl = v.select(col("doc_id"), col("token"),
      round(col("w") * lit(1000000.0), 0).cast("long").as("wl"))
    // Candidates FIRST: the id-set prune below and the final pair
    // probe both consume them — the banding's exchanges dedupe under
    // ReuseExchange (measured: a localCheckpoint here cost +4 s at
    // sf0.1, the reuse is free).
    val cand = Dedup
      .minhashCandidateEdges(docs, "text", "doc_id", NumPerms, BandSize)
    // Only docs that appear in some candidate pair ever get scored, so
    // the expensive per-doc vector assembly below is semi-join-pruned
    // to that id set. The idf statistics above stay FULL-CORPUS (the
    // token window ran before this prune) — values are identical, but
    // at 100× scale candidates ≪ corpus and the sort_array/collect_list
    // pass shrinks from O(corpus) to O(candidate docs).
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    // One row per doc carrying its whole sorted sparse vector: the
    // scorer joins CANDIDATE PAIRS to two doc rows and runs the native
    // codegen merge-walk [[org.apache.spark.sql.graft.SparseDotLong]]
    // per pair. Both rejected alternatives are documented there: the
    // per-token join shuffled pairs×vocab rows (26 s at sf0.1), and an
    // aggregate(zip_with(...)) decimal fold evaluated its lambdas
    // interpreted per element (minutes).
    val vec = graft.operators.Materialize.once(
      vl.join(broadcast(candIds), Seq("doc_id"), "left_semi")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("token"), col("wl"))))
            .as("__l"),
          sum(col("wl") * col("wl")).as("__n2"))
        .select(col("doc_id"),
          transform(col("__l"), s => s.getField("token")).as("__toks"),
          transform(col("__l"), s => s.getField("wl")).as("__ws"),
          col("__n2")))
    (cand, vec)
  }

  /** Scoring stage of [[qdTfidfPairs]]: gate-chosen attach strategy +
    * the native merge-walk cosine, materialized before the global sort
    * (see [[scoreTfidfPairsUnsorted]] for the join-path body). Split
    * out for [[graft.TfidfProfile]]; see [[tfidfCandVec]]. */
  private[graft] def scoreTfidfPairs(spark: SparkSession,
      cand: DataFrame, vec: DataFrame): DataFrame =
    // Materialize BEFORE the global sort (r14): a range-partitioned
    // orderBy SAMPLES its child to pick bounds and then executes it
    // again for the real shuffle, so without the barrier the attach
    // joins + merge-walk cosine — the query's dominant segment — ran
    // TWICE end to end (stage-profiled: two ~35 s-task / ~5 s-wall
    // jobs over the same pair shuffle). The surviving pairs are the
    // post-threshold result (a tiny fraction of candidates at any
    // scale), so the blocks cost ≈ nothing and the sort's sample pass
    // reads them instead of re-scoring the corpus.
    graft.operators.Materialize.once(
      scoreTfidfPairsUnsorted(spark, cand, vec)).orderBy("id_a", "id_b")

  /** [[scoreTfidfPairs]] minus the materialization barrier and the
    * final sort — the frame whose executed plan still SHOWS the attach
    * joins (the checkpoint truncates the sorted query's visible plan at
    * a LogicalRDD scan). Join-path specs inspect THIS frame so the
    * size probe and the gate logic stay live — disabling
    * `spark.graft.materialize` for visibility would also disable the
    * probe and silently flip every run to the shuffle fallback. */
  private[graft] def scoreTfidfPairsUnsorted(spark: SparkSession,
      cand: DataFrame, vec: DataFrame): DataFrame = {
    // Join strategy is decided by the MEASURED size of the candidate-doc
    // vector frame, not the pair count: a shuffle join on id_b would
    // sort the pairs-with-vectors intermediate — |pairs| × two array
    // payloads — which the sf4 scale ladder measured at 300+ GB of
    // exchange (SPILL_OUT_OF_MEMORY at 16 g heap, disk-full at 96 g)
    // while the vector frame itself was ~0.5 GB. Broadcasting the
    // vectors keeps every pair row thin through both probes: the fat
    // rows exist only inside the scoring stage, never cross an
    // exchange, and the stage streams straight into the cosine filter.
    // Candidate-doc vectors are bounded by the banding's collision set
    // (at a TUNED operating point, candidates ≪ corpus — qd_lsh_design
    // is the sizing sheet); when the measured estimate still exceeds
    // spark.graft.tfidf.maxBroadcastBytes, the sort-merge path remains
    // (correct, exchange-heavy). The stats probe runs one job at
    // construction; audit mode (spark.graft.materialize=false) skips it
    // so plan inspection stays job-free.
    // Default is executor-heap-aware (MemGate): the deserialized hash
    // relations cost several times the envelope and OOM'd real 10 g
    // executors on a frame the fixed 1 GiB gate admitted; explicit
    // conf overrides verbatim.
    val maxBcast = graft.operators.MemGate.gateBytes(
      spark, "spark.graft.tfidf.maxBroadcastBytes")
    val frameBytes: Option[Long] =
      if (!spark.conf.get("spark.graft.materialize", "true").toBoolean) None
      else {
        val s = vec.agg(count(lit(1)).as("n"),
          coalesce(sum(size(col("__toks"))), lit(0L)).as("t")).head()
        // 64 B/row envelope + 24 B per (hash, weight) term pair.
        Some(s.getLong(0) * 64L + s.getLong(1) * 24L)
      }
    val useBroadcast = maxBcast > 0 && frameBytes.exists(_ <= maxBcast)
    // Fallback is shuffle-HASH, not an unhinted join: unhinted, AQE's
    // runtime stats elect a broadcast of the vector side anyway — the
    // very relation the gate just rejected — and the build dies with
    // notEnoughMemoryToBuildAndBroadcastTable (measured at sf4 with the
    // gate forced off); SHJ also never sorts the fat pairs×vectors
    // intermediate, the original spill source (300+ GB of exchange,
    // disk-full at 96 g heap — sort-merge is NOT the safe fallback
    // here). SHJ's own constraint is that its build side (the
    // per-partition vector slice) cannot spill, so the per-partition
    // build must fit task memory: when frameBytes /
    // spark.sql.shuffle.partitions outgrows the heap-aware envelope
    // (same MemGate blowup model as the broadcast gate), the attach
    // frame is explicitly repartitioned on doc_id to the partition
    // count that restores the bound — scaling the join's width with
    // the corpus instead of trusting a hand-set global knob. The
    // explicit numPartitions makes the exchange non-coalescible and
    // the probe sides co-partition to it (EnsureRequirements adopts
    // the satisfying child's partitioning).
    val shjNeeded: Option[Int] = if (useBroadcast) None else {
      val gate = graft.operators.MemGate.gateBytes(
        spark, "spark.graft.tfidf.shjMaxBuildBytes",
        default = graft.operators.MemGate.defaultMaxBroadcastBytes(spark))
      // A non-positive gate is a misconfiguration here, not a dial
      // position: ceil(b / 0.0).toInt is Int.MaxValue, which would
      // issue repartition(2147483647) — a pathological exchange — and
      // unlike the SNM verifier there is no safe third strategy to
      // degrade to (sort-merge is the measured-fatal 300+ GB spill
      // this gate exists to avoid). Fail with the knob's name instead.
      require(gate > 0, "spark.graft.tfidf.shjMaxBuildBytes must be > 0 " +
        s"(sort-merge is not a safe fallback for this join), got $gate")
      val parts = math.max(1,
        try spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
        catch { case _: NumberFormatException => 200 })
      frameBytes.collect {
        case b if b / parts > gate =>
          math.ceil(b.toDouble / gate).toInt
      }
    }
    def hinted(d: DataFrame): DataFrame =
      if (useBroadcast) broadcast(d)
      else shjNeeded match {
        case Some(n) => d.repartition(n, col("doc_id")).hint("shuffle_hash")
        case None => d.hint("shuffle_hash")
      }
    // Scoring parallelism (r14): on the broadcast path the pair frame
    // reaches the scorer straight off the banding distinct's exchange,
    // and AQE's BYTE-based coalescing (parallelismFirst still floors
    // at minPartitionSize=1m) shrank the 9.2 MB pair shuffle to 8
    // partitions — while the stage is COMPUTE-dense (two hash probes +
    // a ~100-term merge-walk dot product per pair): 40.2 s of task
    // time serialized onto 8 of 32 cores, 5.5 s of the query's 11.9 s
    // wall (stage-profiled). An explicit pair-keyed repartition is
    // non-coalescible and pins the scorer at 2× the session's cores —
    // cluster-adaptive (defaultParallelism scales with the executor
    // fleet), ~0.3 MB/partition here, and the re-shuffled frame is the
    // THIN pair list, never the vectors. The SHJ path keeps its own
    // explicitly-widened co-partitioning (the gate above).
    val candScore =
      if (useBroadcast)
        cand.repartition(spark.sparkContext.defaultParallelism * 2,
          col("id_a"), col("id_b"))
      else cand
    // ONE broadcast serves both probes: the attach frame is hinted
    // UN-aliased, so the two joins' broadcast-exchange subplans are
    // IDENTICAL and ReuseExchange keeps a single relation resident per
    // executor — the per-side `.as("id_a")`/`.as("id_b")` projections
    // of the old shape sat between the exchange and the join and
    // defeated the reuse, doubling the resident footprint that set the
    // measured executor OOM floor (MemGate). Renames happen on the
    // JOINED output instead.
    val attach = hinted(vec.select(
      col("doc_id"), col("__toks"), col("__ws"), col("__n2")))
    val scored = candScore
      .join(attach, candScore("id_a") === attach("doc_id"))
      .drop("doc_id")
      .withColumnsRenamed(Map("__toks" -> "__ta", "__ws" -> "__wa",
        "__n2" -> "__na"))
      .join(attach, col("id_b") === attach("doc_id"))
      .drop("doc_id")
      .withColumnsRenamed(Map("__toks" -> "__tb", "__ws" -> "__wb",
        "__n2" -> "__nb"))
      .withColumn("__dot", org.apache.spark.sql.graft.SparseDotLong
        .ofColumns(col("__ta"), col("__wa"), col("__tb"), col("__wb")))
      .withColumn("cosine", round(col("__dot").cast("double") /
        (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))),
        6))
      .where(col("cosine") >= 0.5)
      .select("id_a", "id_b", "cosine")
    scored
  }

  val qdTfidfPairsSql: String =
    s"""WITH cand AS ($qdMinhashPairsSql),
      |d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), tf AS (
      |  SELECT doc_id, g AS token, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |          i -> t[i] || ' ' || t[i+1])) AS g FROM d)
      |  GROUP BY 1, 2
      |), v AS (
      |  SELECT doc_id, token,
      |    round((CAST(cnt AS DOUBLE)
      |        / CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS DOUBLE)) *
      |      (ln((CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) + 1.0) /
      |          (CAST(COUNT(*) OVER (PARTITION BY token) AS DOUBLE) + 1.0))
      |        + 1.0), 6) AS w
      |  FROM tf
      |), vl AS (
      |  SELECT doc_id, token, CAST(round(w * 1000000.0) AS BIGINT) AS wl
      |  FROM v
      |), norms AS (
      |  SELECT doc_id, CAST(SUM(wl * wl) AS BIGINT) AS n2
      |  FROM vl GROUP BY doc_id
      |), dots AS (
      |  SELECT c.id_a, c.id_b, CAST(SUM(a.wl * b.wl) AS BIGINT) AS dot
      |  FROM cand c
      |  JOIN vl a ON a.doc_id = c.id_a
      |  JOIN vl b ON b.doc_id = c.id_b AND b.token = a.token
      |  GROUP BY 1, 2
      |)
      |SELECT d.id_a, d.id_b,
      |  round(CAST(d.dot AS DOUBLE)
      |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
      |    AS cosine
      |FROM dots d
      |JOIN norms na ON d.id_a = na.doc_id
      |JOIN norms nb ON d.id_b = nb.doc_id
      |WHERE round(CAST(d.dot AS DOUBLE)
      |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
      |  >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // ---- Graph-analytics edge geometry (items 25j-25m) -------------------
  // The four graph operators below (triangles, clustering coefficient,
  // 2-core, PageRank) consume [[Dedup.lshCosinePairs]] — hyperplane-LSH
  // bucketed candidates + same-bucket cosine ≥ 0.2 — NOT the label-
  // blocked all-pairs [[Dedup.embeddingPairs]] (which survives only as
  // the qd_embedding exact-threshold oracle cross-check). Rationale:
  // label blocks grow linearly with the corpus, so the all-pairs stage
  // is O(n²/|labels|) — 100× data = 10,000× pair work — while the LSH
  // bucket count is 2^planes, an operator knob (6 here at oracle scale;
  // 16-24 at billion-row scale). These operators need *a* near-dup
  // graph, not the exact threshold graph; the md5-derived planes make
  // the bucketing engine-reproducible, so the DuckDB oracles replay the
  // identical edge set bit-exactly.
  private val GraphPlanes = 6
  private val GraphDims = 64
  private val GraphMinCosine = 0.2

  // Oracle fragments — single source of truth in [[VecSql]].
  private def gCosineSql(a: String, b: String): String =
    VecSql.cosineSql(a, b, GraphDims)

  private def gBucketSql(vec: String): String =
    VecSql.bucketSql(vec, GraphPlanes, GraphDims)

  /** Shared oracle CTE: the LSH-bucketed cosine ≥ 0.2 embedding edge
    * list as `pairs(id_a, id_b)` (mirrors [[Dedup.lshCosinePairs]]) —
    * same [[VecSql.lshEdgeCte]] builder as [[embeddingEdgeCte]], so the
    * triangles/clustering oracles and the k-core/PageRank oracles
    * replay the identical edge set by construction. */
  private val lshPairsCte: String =
    VecSql.lshEdgeCte("pairs", "id_a", "id_b",
      GraphPlanes, GraphDims, GraphMinCosine)

  /** §2.25j — per-vertex triangle counts over the LSH-bucketed
    * embedding near-dup graph (cosine ≥ 0.2 within hyperplane
    * buckets): the clustering-coefficient numerator that separates
    * dense duplicate cliques from thin chained neighborhoods before
    * canonicalization trusts them. Degree-ordered node-iterator
    * ([[Dedup.trianglesPerVertex]]) — the wedge join is O(m^{3/2})
    * regardless of hub skew; the oracle counts the same triangles by
    * the orientation-free three-way join, which is only safe at
    * oracle scale. */
  def qdTriangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.lshCosinePairs(Tables.load(spark, dir, "embeddings"),
      "embedding", "vec_id", GraphPlanes, GraphDims, GraphMinCosine)
      .select("id_a", "id_b")
    Dedup.trianglesPerVertex(edges)
      .select(col("vertex").as("vec_id"), col("n_triangles"))
      .orderBy("vec_id")
  }

  val qdTrianglesSql: String =
    s"""$lshPairsCte, tri AS (""".stripMargin +
    """
      |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      |  FROM pairs e1
      |  JOIN pairs e2 ON e2.id_a = e1.id_b
      |  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
      |)
      |SELECT vtx AS vec_id, COUNT(*) AS n_triangles FROM (
      |  SELECT a AS vtx FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri
      |)
      |GROUP BY vtx
      |ORDER BY vec_id""".stripMargin

  /** §2.25k — local clustering coefficient over the same embedding
    * near-dup graph as [[qdTriangles]]: 2T/(d(d−1)) per vertex of
    * degree ≥ 2 ([[Dedup.clusteringCoefficient]]) — ≈1 flags a clique
    * (true duplicate group), ≈0 a thin chain canonicalization should
    * not collapse. Shares the triangle machinery; one extra grouped
    * degree count and a left join. */
  def qdClustering(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.lshCosinePairs(Tables.load(spark, dir, "embeddings"),
      "embedding", "vec_id", GraphPlanes, GraphDims, GraphMinCosine)
      .select("id_a", "id_b")
    Dedup.clusteringCoefficient(edges)
      .select(col("vertex").as("vec_id"), col("degree"),
        col("n_triangles"), col("clustering_coef"))
      .orderBy("vec_id")
  }

  val qdClusteringSql: String =
    s"""$lshPairsCte, deg AS (""" +
    """
      |  SELECT vtx AS vec_id, COUNT(*) AS degree FROM (
      |    SELECT id_a AS vtx FROM pairs UNION ALL SELECT id_b FROM pairs
      |  ) GROUP BY vtx
      |), tri AS (
      |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      |  FROM pairs e1
      |  JOIN pairs e2 ON e2.id_a = e1.id_b
      |  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
      |), tcount AS (
      |  SELECT vtx AS vec_id, COUNT(*) AS n_triangles FROM (
      |    SELECT a AS vtx FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri
      |  ) GROUP BY vtx
      |)
      |SELECT d.vec_id, d.degree,
      |  COALESCE(t.n_triangles, 0) AS n_triangles,
      |  round(2.0 * COALESCE(t.n_triangles, 0)
      |    / (d.degree * (d.degree - 1)), 6) AS clustering_coef
      |FROM deg d LEFT JOIN tcount t ON d.vec_id = t.vec_id
      |WHERE d.degree >= 2
      |ORDER BY d.vec_id""".stripMargin

  /** §2.25l — 2-core of the embedding near-dup graph
    * ([[Dedup.kCore]]): vertices whose neighborhood survives removing
    * any single spurious pair — the robustness gate before
    * canonicalization trusts a cluster built on one LSH false
    * positive. The oracle replays the peeling as a FIXED 14-stage
    * unroll: peeling is idempotent at the fixpoint, so a replay at
    * least as deep as the true convergence depth (5 on this graph;
    * the Spark side fails loudly past 14) reproduces the converged
    * result exactly. */
  def qdKcore(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.lshCosinePairs(Tables.load(spark, dir, "embeddings"),
      "embedding", "vec_id", GraphPlanes, GraphDims, GraphMinCosine)
      .select("id_a", "id_b")
    Dedup.kCore(edges, k = 2)
      .select(col("vertex").as("vec_id"), col("core_degree"))
      .orderBy("vec_id")
  }

  /** Shared oracle CTE: the same edge set as [[lshPairsCte]] aliased
    * `e0(a, b)` for the k-core and PageRank unrolled replays below. */
  private val embeddingEdgeCte: String =
    VecSql.lshEdgeCte("e0", "a", "b",
      GraphPlanes, GraphDims, GraphMinCosine)

  val qdKcoreSql: String = kcoreUnrollSql(GraphPlanes)

  /** The unrolled k-core replay, parameterized on the plane count so
    * the pinned (qd_kcore) and auto-sized (qd_kcore_auto) oracles share
    * one peeling definition. */
  private def kcoreUnrollSql(planes: Int): String = {
    val pairs = VecSql.lshEdgeCte("e0", "a", "b",
      planes, GraphDims, GraphMinCosine)
    val stages = (1 to 14).map { i =>
      s""", d$i AS MATERIALIZED (
         |  SELECT vtx, COUNT(*) AS c FROM (
         |    SELECT a AS vtx FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}
         |  ) GROUP BY vtx
         |), e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN d$i da ON da.vtx = e.a
         |  JOIN d$i db ON db.vtx = e.b
         |  WHERE da.c >= 2 AND db.c >= 2
         |)""".stripMargin
    }.mkString
    pairs + stages +
      """
        |SELECT vtx AS vec_id, COUNT(*) AS core_degree FROM (
        |  SELECT a AS vtx FROM e14 UNION ALL SELECT b FROM e14
        |) GROUP BY vtx
        |ORDER BY vec_id""".stripMargin
  }

  /** §2.25m — PageRank canonical election over the embedding near-dup
    * graph ([[Dedup.pageRank]], 10 iterations, d = 0.85): the
    * highest-PageRank member of a dup cluster is its center of mass —
    * the representative to KEEP — where min-id election is arbitrary.
    * The oracle replays the power iteration as a fixed 10-stage
    * unroll; DECIMAL(38,18) contribution sums make each iteration
    * accumulation-order-exact, so the replay is bit-identical. */
  def qdPagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.lshCosinePairs(Tables.load(spark, dir, "embeddings"),
      "embedding", "vec_id", GraphPlanes, GraphDims, GraphMinCosine)
      .select("id_a", "id_b")
    Dedup.pageRank(edges, iterations = 10)
      .select(col("vertex").as("vec_id"), col("pagerank"))
      .orderBy("vec_id")
  }

  val qdPagerankSql: String = pagerankUnrollSql(GraphPlanes)

  /** The unrolled PageRank replay, parameterized on the plane count so
    * the pinned (qd_pagerank) and auto-sized (qd_pagerank_auto)
    * oracles share one power-iteration definition. */
  private def pagerankUnrollSql(planes: Int): String = {
    val prelude = VecSql.lshEdgeCte("e0", "a", "b",
      planes, GraphDims, GraphMinCosine) +
      """
        |, dirx AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b AS src, a AS dst FROM e0
        |), degx AS MATERIALIZED (
        |  SELECT src, COUNT(*) AS deg FROM dirx GROUP BY src
        |), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM degx)
        |, p0 AS MATERIALIZED (
        |  SELECT src AS v, CAST(1 AS DOUBLE) / (SELECT nd FROM nn) AS pr
        |  FROM degx
        |)""".stripMargin
    val stages = (1 to 10).map { i =>
      s""", p$i AS MATERIALIZED (
         |  SELECT d.dst AS v,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT nd FROM nn)
         |    + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(
         |        p.pr / CAST(g.deg AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
         |      AS pr
         |  FROM dirx d
         |  JOIN degx g ON g.src = d.src
         |  JOIN p${i - 1} p ON p.v = d.src
         |  GROUP BY d.dst
         |)""".stripMargin
    }.mkString
    prelude + stages +
      """
        |SELECT v AS vec_id, round(pr, 9) AS pagerank FROM p10
        |ORDER BY vec_id""".stripMargin
  }

  /** §2.25u — Adamic–Adar link prediction over the same LSH-bucketed
    * embedding near-dup graph as §2.25j–25m ([[Dedup.adamicAdar]]):
    * non-adjacent pairs sharing neighbors, scored
    * Σ 1/ln(deg(common neighbor)) — the ranked list of edges the
    * bucketing most likely MISSED (two docs tied to the same small
    * duplicate neighborhood that never shared a bucket), feeding a
    * targeted exact-cosine recheck: the cheap recall-repair loop that
    * complements qd_lsh_recall's aggregate measurement. Wedge-join
    * frontier with hub centers capped at degree 64, DECIMAL(38,18)
    * contribution sums, TakeOrdered top-50 with full tie-break. */
  def qdLinkPred(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.lshCosinePairs(Tables.load(spark, dir, "embeddings"),
      "embedding", "vec_id", GraphPlanes, GraphDims, GraphMinCosine)
      .select("id_a", "id_b")
    Dedup.adamicAdar(edges, maxCenterDegree = 64, topN = 50)
  }

  val qdLinkPredSql: String =
    embeddingEdgeCte +
    """
      |, nbr AS (
      |  SELECT a AS w, b AS u FROM e0
      |  UNION ALL SELECT b AS w, a AS u FROM e0
      |), degc AS (
      |  SELECT w, COUNT(*) AS d FROM nbr GROUP BY w
      |), centers AS (
      |  SELECT n.w, n.u, CAST(1.0 AS DOUBLE) / ln(CAST(d.d AS DOUBLE)) AS c
      |  FROM nbr n JOIN degc d ON d.w = n.w
      |  WHERE d.d >= 2 AND d.d <= 64
      |), wedge AS (
      |  SELECT c1.u AS u1, c2.u AS u2, c1.c
      |  FROM centers c1 JOIN centers c2 ON c1.w = c2.w AND c1.u < c2.u
      |), cand AS (
      |  SELECT w.u1, w.u2, w.c FROM wedge w
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM e0 e WHERE e.a = w.u1 AND e.b = w.u2)
      |), scored AS (
      |  SELECT u1 AS id_a, u2 AS id_b, COUNT(*) AS n_common,
      |    round(CAST(SUM(CAST(c AS DECIMAL(38,18))) AS DOUBLE), 6)
      |      AS aa_score
      |  FROM cand GROUP BY u1, u2
      |), top AS (
      |  SELECT * FROM scored ORDER BY aa_score DESC, id_a, id_b LIMIT 50
      |)
      |SELECT ROW_NUMBER() OVER (ORDER BY aa_score DESC, id_a, id_b)
      |    AS rank,
      |  id_a, id_b, n_common, aa_score
      |FROM top ORDER BY rank""".stripMargin

  /** Plane count the auto-sizing formula picks at every driver SF:
    * `Dedup.autoPlanes` = ⌈log₂(n/128)⌉ clamped to [4, 24] gives 4 for
    * both the 500-vector (sf0.001/sf0.01) and 2000-vector (sf0.1)
    * embeddings tables, so ONE baked oracle plane count serves the
    * whole driver gate (AutoPlanesSpec pins the arithmetic; the scale
    * rungs where the knob actually moves — 20 k → 8, 80 k → 10,
    * 320 k → 12 — are ladder-measured, not oracle-replayed). */
  private val AutoOraclePlanes = 4

  /** The live count domain in which the baked oracles MUST agree with
    * the auto-sizing: every driver SF's embeddings table (500 / 500 /
    * 2000 rows) sits under this, and sf0.1's 2000 is only 2.4% below
    * the 2049-row boundary where [[Dedup.autoPlanes]] flips to 5 — the
    * drift the guard below exists to catch. Above it the corpus is a
    * scale-ladder rung (20 k+), where no oracle is replayed and the
    * auto count is the point of the query. */
  private val DriverScaleMaxRows = 4096L

  /** Auto-sized edge set shared by the three `_auto` queries, with the
    * oracle-geometry drift guard: at DRIVER scale (n ≤
    * [[DriverScaleMaxRows]]) the live count's plane pick is asserted
    * against [[AutoOraclePlanes]] — a generator-size drift across the
    * boundary fails HERE naming the fix, instead of as an opaque
    * oracle row mismatch. At ladder scale the auto count is used
    * as-is — that IS the query's contract (the measured 25× ×160 win
    * comes from the knob moving: 20 k → 8, 320 k → 12). The r13 ladder
    * refresh caught the first cut of this guard asserting
    * unconditionally, erroring every _auto rung above sf0.1 — kept as
    * the error rows in SCALING_RAW history. Audit mode keeps the
    * count-free auto overload (job-free, identical plan shape). */
  private def autoEdges(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    if (spark.conf.get("spark.graft.materialize", "true").toBoolean) {
      val n = emb.count()
      val p = Dedup.autoPlanes(n)
      require(p == AutoOraclePlanes || n > DriverScaleMaxRows,
        s"embeddings corpus size drifted across an autoPlanes boundary: " +
          s"live count $n picks $p planes but the baked DuckDB oracles " +
          s"encode $AutoOraclePlanes — update AutoOraclePlanes (and the " +
          s"_auto oracle SQL it parameterizes) for the new generator size")
      Dedup.lshCosinePairs(emb, "embedding", "vec_id", p, GraphDims,
        GraphMinCosine)
    } else
      Dedup.lshCosinePairs(emb, "embedding", "vec_id", GraphDims,
        GraphMinCosine)
  }

  /** §2.25v — the corpus-auto-sized LSH edge generator: identical
    * geometry to 25n but the plane count comes from
    * [[Dedup.autoPlanes]] (⌈log₂(n/targetBucket)⌉, one cheap count
    * job) instead of a pinned knob. This is the 100 TB default entry
    * point: the ×160 ladder measured Σ C(bucket,2) pair generation
    * going quadratic once the corpus outgrew the pinned 2^6 buckets
    * (125.5 M edges / 89 s at planes=6 vs 17.8 M / 3.6 s at the
    * auto-chosen 12 on 320 k vectors — 25× from sizing alone). The
    * oracle replays the same auto-chosen plane count (= 4 at every
    * driver SF, see [[AutoOraclePlanes]]) bit-exactly. */
  def qdLshAuto(spark: SparkSession, dir: String): DataFrame =
    autoEdges(spark, dir).orderBy("id_a", "id_b")

  val qdLshAutoSql: String =
    s"""WITH bktd AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    ${VecSql.bucketSql("embedding", AutoOraclePlanes, GraphDims)}
       |      AS bucket
       |  FROM embeddings
       |)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ${gCosineSql("a.embedding", "b.embedding")} AS cosine
       |FROM bktd a JOIN bktd b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${gCosineSql("a.embedding", "b.embedding")} >= $GraphMinCosine
       |ORDER BY id_a, id_b""".stripMargin

  /** §2.25w — 2-core over the AUTO-sized near-dup graph: the graph
    * family's heaviest consumer ([[Dedup.kCore]]) running on
    * [[qdLshAuto]]'s edge set — the end-to-end proof that the
    * auto-sizing default feeds the iterative consumers unchanged
    * (same peeling, same fixpoint contract). At the driver SFs the
    * auto knob lands on 4 planes (denser graph than 25l's pinned 6 —
    * a HARDER peel, verified against the same 14-stage unrolled
    * replay); at the ladder rungs it is the query that reproduces the
    * measured 25× win without hand-tuning. */
  def qdKcoreAuto(spark: SparkSession, dir: String): DataFrame = {
    val edges = autoEdges(spark, dir).select("id_a", "id_b")
    Dedup.kCore(edges, k = 2)
      .select(col("vertex").as("vec_id"), col("core_degree"))
      .orderBy("vec_id")
  }

  val qdKcoreAutoSql: String = kcoreUnrollSql(AutoOraclePlanes)

  /** §2.25x — PageRank canonical election over the AUTO-sized near-dup
    * graph: the second iterative consumer on [[qdLshAuto]]'s edge set
    * (10 mandated power iterations — the graph family's most
    * edge-volume-sensitive operator, since every iteration re-joins
    * the full directed edge list). At the ×160 rung the pinned-planes
    * qd_pagerank would pay the 89 s quadratic edge build TEN-fold in
    * iteration joins over 125 M edges; the auto knob makes the rung
    * feasible. Same DECIMAL(38,18) order-exact replay, parameterized
    * on the plane count. */
  def qdPagerankAuto(spark: SparkSession, dir: String): DataFrame = {
    val edges = autoEdges(spark, dir).select("id_a", "id_b")
    Dedup.pageRank(edges, iterations = 10)
      .select(col("vertex").as("vec_id"), col("pagerank"))
      .orderBy("vec_id")
  }

  val qdPagerankAutoSql: String = pagerankUnrollSql(AutoOraclePlanes)

  /** §2.25o — recall instrumentation of the LSH edge generator: the
    * ground truth is the UNBLOCKED exact threshold graph (every pair
    * with cosine ≥ 0.2 — an all-pairs join, affordable only at eval
    * scale and clearly marked as such), against which each pair is
    * flagged caught/missed by the 25n bucketing (same bucket ⇔ edge
    * survives). Reported per cosine band, because that is exactly how
    * hyperplane LSH degrades — collision probability 1 − θ/π per plane
    * rises with cosine, so recall should climb toward 1.0 in the top
    * band; a flat profile would mean the bucketing is broken, and the
    * per-band numbers are what justify (or veto) trusting the 25j-25m
    * graph analytics on the approximate edge set. Alongside the
    * single-table recall, the same pairs are scored against 4-table
    * OR-amplification (4 independent 6-plane families; a pair survives
    * if ANY table collides — recall 1−(1−p)⁴ per pair at 4× candidate
    * cost): the two columns ARE the recall-vs-cost dial an operator
    * turns at scale, measured rather than assumed. The production-scale
    * form of this eval samples the corpus before the all-pairs step;
    * the measurement logic is unchanged. */
  def qdLshRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.{asDoubles, dot}
    import graft.similarity.Knn
    val tables = 4
    val allPlanes = Knn.planes(GraphPlanes * tables, GraphDims)
    val prepared0 = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val prepared = (0 until tables).foldLeft(prepared0) { (df, t) =>
      df.withColumn(s"bkt$t", Knn.bucketId(col("v"),
        allPlanes.slice(t * GraphPlanes, (t + 1) * GraphPlanes)))
    }
    val aCols = Seq("id_a", "v_a", "norm_a") ++ (0 until tables).map(t => s"a$t")
    val bCols = Seq("id_b", "v_b", "norm_b") ++ (0 until tables).map(t => s"b$t")
    val a = prepared.toDF(aCols: _*)
    val b = prepared.toDF(bCols: _*)
    val anyTable = (0 until tables)
      .map(t => col(s"a$t") === col(s"b$t")).reduce(_ || _)
    a.join(b, col("id_a") < col("id_b"))
      .select(
        round(dot(col("v_a"), col("v_b")) / (col("norm_a") * col("norm_b")), 6)
          .as("cosine"),
        (col("a0") === col("b0")).as("caught"),
        anyTable.as("caught_4t"))
      .where(col("cosine") >= GraphMinCosine)
      .groupBy(least(floor(col("cosine") * 5), lit(4.0)).cast("int")
        .as("cos_band"))
      .agg(count(lit(1)).as("n_exact_pairs"),
        sum(when(col("caught"), 1L).otherwise(0L)).as("n_caught"),
        round(sum(when(col("caught"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("recall"),
        sum(when(col("caught_4t"), 1L).otherwise(0L)).as("n_caught_4t"),
        round(sum(when(col("caught_4t"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("recall_4t"))
      .orderBy("cos_band")
  }

  /** Bucket oracle fragment for multi-table LSH: table `t` uses global
    * plane indices [t·GraphPlanes, (t+1)·GraphPlanes) of the same
    * md5-derived family, exactly like the Scala side's slice. */
  private def gBucketSqlAt(vec: String, t: Int): String =
    VecSql.bucketSql(vec, GraphPlanes, GraphDims, offset = t * GraphPlanes)

  val qdLshRecallSql: String = {
    val bcols = (0 until 4)
      .map(t => s"${gBucketSqlAt("embedding", t)} AS bkt$t").mkString(",\n       |    ")
    val any = (0 until 4).map(t => s"a.bkt$t = b.bkt$t").mkString(" OR ")
    s"""WITH pr AS (
       |  SELECT vec_id, embedding,
       |    $bcols
       |  FROM embeddings
       |), pairs AS (
       |  SELECT ${gCosineSql("a.embedding", "b.embedding")} AS cosine,
       |    (a.bkt0 = b.bkt0) AS caught,
       |    ($any) AS caught_4t
       |  FROM pr a JOIN pr b ON a.vec_id < b.vec_id
       |)
       |SELECT CAST(least(floor(cosine * 5), 4.0) AS INTEGER) AS cos_band,
       |  COUNT(*) AS n_exact_pairs,
       |  CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
       |  round(CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS recall,
       |  CAST(SUM(CASE WHEN caught_4t THEN 1 ELSE 0 END) AS BIGINT) AS n_caught_4t,
       |  round(CAST(SUM(CASE WHEN caught_4t THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS recall_4t
       |FROM pairs
       |WHERE cosine >= $GraphMinCosine
       |GROUP BY 1
       |ORDER BY cos_band""".stripMargin
  }

  /** §2.25 — embedding cosine near-dup pairs blocked by label: the
    * EXACT-threshold pair set within metadata blocks, kept as the
    * oracle-scale cross-check for the approximate LSH generator
    * ([[Dedup.lshCosinePairs]]) that the graph-analytics family
    * consumes. At 100× data the label-blocked all-pairs join is the
    * wrong tool (blocks grow with the corpus); use the LSH path and
    * widen `numPlanes`. */
  def qdEmbedding(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairs(Tables.load(spark, dir, "embeddings"),
      "embedding", "vec_id", "label")
      .select(col("id_a"), col("id_b"), col("cosine"))
      .where(col("cosine") >= 0.2)
      .orderBy("id_a", "id_b")

  val qdEmbeddingSql: String =
    """WITH v AS (
      |  SELECT label, vec_id, embedding FROM embeddings
      |)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(
      |    list_reduce(list_transform(range(1, 65),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(range(1, 65),
      |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
      |       * sqrt(list_reduce(list_transform(range(1, 65),
      |           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)))
      |  , 6) AS cosine
      |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(
      |    list_reduce(list_transform(range(1, 65),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(range(1, 65),
      |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
      |       * sqrt(list_reduce(list_transform(range(1, 65),
      |           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)))
      |  , 6) >= 0.2
      |ORDER BY id_a, id_b""".stripMargin

  /** §2 (dedup family) — near-dup clusters: connected components over the
    * jaccard≥0.5 pair graph, canonical = minimum doc_id per cluster. */
  def qdComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val edges = Dedup.jaccardNeighbors(docs, "text", "doc_id", 3, "source", 0.5)
      .select("id_a", "id_b")
    Dedup.connectedComponents(docs.select("doc_id"), edges)
      .withColumn("is_canonical", col("doc_id") === col("component_id"))
      .orderBy("doc_id")
  }

  val qdComponentsSql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS g
      |  FROM documents
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.5
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b AS src, id_a AS dst FROM pairs
      |), reach AS (
      |  SELECT doc_id AS id, doc_id AS m FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.m FROM reach r JOIN edges e ON e.src = r.id
      |)
      |SELECT id AS doc_id, MIN(m) AS component_id,
      |  id = MIN(m) AS is_canonical
      |FROM reach GROUP BY id
      |ORDER BY doc_id""".stripMargin

  /** §2.25t — sampled LSH false-negative AUDIT: the production-scale
    * answer to "is the band index still catching what it should" —
    * where [[qdLshRecall]] materializes the full exact ground truth
    * (eval-scale by design), this audits with a deterministic 10%
    * md5-coin DOC sample: exact token-set jaccard over the C(n/10, 2)
    * sampled pairs, each checked for membership in the SAME banded
    * candidate generator the production pass runs, reported per
    * jaccard band with the closed-form S-curve prediction
    * 1 − (1 − s⁸)² at the band's mean jaccard alongside the measured
    * recall (measured far off predicted = the index drifted from its
    * design, e.g. a signature bug or a shifted corpus). The sample
    * rate is the audit budget knob — pairs grow with (rate·corpus)²,
    * so production picks the rate to fit a fixed pair budget; the
    * sampled all-pairs join is the documented eval-scale exception
    * (PlanAudit), everything downstream is key-keyed. Powers expand
    * to explicit multiplication chains (engine-identical, no libm
    * pow), mean jaccard sums DECIMAL(18,9)-quantized terms. */
  def qdLshAudit(spark: SparkSession, dir: String): DataFrame = {
    require(NumPerms / BandSize == 2 && BandSize == 8,
      "S-curve expansion below is specialized to b=2, r=8")
    import graft.functions.Portable.{intersectionSize, md5Bucket, tokens}
    val sample = Tables.load(spark, dir, "documents")
      .where(md5Bucket("audit", col("doc_id"), 10) < 1)
    val toks = sample
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("g"))
      .where(size(col("g")) > 0)
    val inter = intersectionSize(col("__ga"), col("__gb"))
    val pairs = toks.toDF("id_a", "__ga")
      .join(toks.toDF("id_b", "__gb"), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (inter.cast("double") /
          (size(col("__ga")) + size(col("__gb")) - inter).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= 0.2)
    val cand = Dedup
      .minhashCandidateEdges(sample, "text", "doc_id", NumPerms, BandSize)
      .select(col("id_a"), col("id_b"), lit(true).as("__caught"))
    val nCaught = sum(when(col("__caught"), 1L).otherwise(0L))
    pairs.join(cand, Seq("id_a", "id_b"), "left_outer")
      .groupBy(least(floor(col("jaccard") * 5), lit(4.0)).cast("int")
        .as("jaccard_band"))
      .agg(count(lit(1)).as("n_pairs"), nCaught.as("n_caught"),
        round(nCaught.cast("double") / count(lit(1)), 6).as("recall"),
        (sum(round(col("jaccard"), 9).cast("decimal(18,9)"))
          .cast("double") / count(lit(1))).as("__s"))
      .withColumn("__s2", col("__s") * col("__s"))
      .withColumn("__s4", col("__s2") * col("__s2"))
      .withColumn("__s8", col("__s4") * col("__s4"))
      .withColumn("__m", lit(1.0) - col("__s8"))
      .select(col("jaccard_band"), col("n_pairs"), col("n_caught"),
        col("recall"), round(col("__s"), 6).as("mean_jaccard"),
        round(lit(1.0) - col("__m") * col("__m"), 6).as("p_predicted"))
      .orderBy("jaccard_band")
  }

  val qdLshAuditSql: String = {
    val bands = (0 until NumPerms / BandSize).map { b =>
      val parts = (0 until BandSize).map(j => sigSqlExpr(b * BandSize + j))
      s"md5(concat_ws('_', ${parts.mkString(", ")})) AS band_$b"
    }
    val s8 = "((s*s)*(s*s))*((s*s)*(s*s))"
    s"""WITH samp AS (
       |  SELECT * FROM documents
       |  WHERE ('0x' || substr(md5('audit:' || doc_id), 1, 8))::BIGINT
       |    % 10 < 1
       |), sigs AS (
       |  SELECT doc_id, ${bands.mkString(",\n    ")}
       |  FROM samp
       |), banded AS (
       |${bandedUnionSql()}
       |), cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), tk AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS g
       |  FROM samp
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
       |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
       |      AS jaccard
       |  FROM tk a JOIN tk b ON a.doc_id < b.doc_id
       |  WHERE len(a.g) > 0 AND len(b.g) > 0
       |), hits AS (
       |  SELECT p.jaccard, c.id_a IS NOT NULL AS caught
       |  FROM pairs p LEFT JOIN cand c
       |    ON p.id_a = c.id_a AND p.id_b = c.id_b
       |  WHERE p.jaccard >= 0.2e0
       |), agg AS (
       |  SELECT CAST(LEAST(floor(jaccard * 5), 4.0) AS INT)
       |      AS jaccard_band,
       |    COUNT(*) AS n_pairs,
       |    CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_caught,
       |    round(CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS DOUBLE)
       |      / COUNT(*), 6) AS recall,
       |    CAST(SUM(CAST(round(jaccard, 9) AS DECIMAL(18,9))) AS DOUBLE)
       |      / COUNT(*) AS s
       |  FROM hits GROUP BY 1
       |)
       |SELECT jaccard_band, n_pairs, n_caught, recall,
       |  round(s, 6) AS mean_jaccard,
       |  round(1e0 - (1e0 - $s8) * (1e0 - $s8), 6) AS p_predicted
       |FROM agg ORDER BY jaccard_band""".stripMargin
  }

  /** §2.25s — the DROP MANIFEST: the single actionable artifact a
    * dedup pipeline actually ships — per document, `keep` /
    * `drop_exact` / `drop_near` and the ultimate canonical to point
    * retained references at. Two-phase, the production order: exact
    * content-hash election first (cheap, one shuffle), then the
    * near-dup graph built among EXACT SURVIVORS ONLY (the near pass
    * never pays for rows the hash pass already killed), components
    * elect the final canonical, and an exact-dropped doc resolves
    * TRANSITIVELY to its canonical's component (never to a doc that
    * is itself dropped — the invariant consumers rely on). Scale
    * shape: hash election is one content-hash shuffle; the survivor
    * restriction is a left-semi join; edges come from the bounded
    * jaccard inverted index (25b's generator); the manifest join is
    * key-keyed throughout. */
  def qdManifest(spark: SparkSession, dir: String): DataFrame =
    manifestUnsorted(spark, dir).orderBy("doc_id")

  /** [[qdManifest]] without its final global sort — for composing
    * consumers ([[graft.queries.PipelineQueries.qpSplit]] joins the
    * manifest on doc_id and re-aggregates, so the sort was a wasted
    * range exchange plus its bound-sampling pass inside that query). */
  private[queries] def manifestUnsorted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val exactC = docs.select(col("doc_id"), md5(col("text")).as("__h"))
    val exMin = exactC.groupBy("__h").agg(min("doc_id").as("__exc"))
    // Materialized: consumed by the survivor semi-join AND the final
    // action classification — without it the md5 scan + canonical
    // join runs twice per manifest evaluation.
    val withEx = graft.operators.Materialize.once(
      exactC.join(exMin, "__h").select("doc_id", "__exc"))
    val survivors = docs.join(
      withEx.where(col("doc_id") === col("__exc")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val edges = Dedup
      .jaccardNeighbors(survivors, "text", "doc_id", 3, "source", 0.5)
      .select("id_a", "id_b")
    // Star contraction, not label propagation: same min-id components
    // (both are pinned to the identical recursive oracle), O(log n)
    // rounds vs diameter-bound — measured 0.86 s vs 18.7 s on the
    // qd_components pair when the star variant landed in r8.
    val comp = Dedup.connectedComponentsStar(survivors.select("doc_id"), edges)
    withEx
      .join(comp.select(col("doc_id").as("__exc"), col("component_id")),
        Seq("__exc"))
      .select(col("doc_id"),
        when(col("doc_id") =!= col("__exc"), lit("drop_exact"))
          .when(col("doc_id") =!= col("component_id"), lit("drop_near"))
          .otherwise(lit("keep")).as("action"),
        col("component_id").as("canonical_id"))
  }

  val qdManifestSql: String =
    """WITH RECURSIVE ex AS (
      |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS exc
      |  FROM documents
      |), surv AS (
      |  SELECT d.source, d.doc_id, d.text
      |  FROM documents d JOIN ex ON d.doc_id = ex.doc_id
      |  WHERE ex.doc_id = ex.exc
      |), sh AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS g
      |  FROM surv
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.5
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b AS src, id_a AS dst FROM pairs
      |), reach AS (
      |  SELECT doc_id AS id, doc_id AS m FROM surv
      |  UNION
      |  SELECT e.dst AS id, r.m FROM reach r JOIN edges e ON e.src = r.id
      |), comp AS (
      |  SELECT id AS doc_id, MIN(m) AS component_id FROM reach GROUP BY id
      |)
      |SELECT ex.doc_id,
      |  CASE WHEN ex.doc_id <> ex.exc THEN 'drop_exact'
      |       WHEN ex.doc_id <> c.component_id THEN 'drop_near'
      |       ELSE 'keep' END AS action,
      |  c.component_id AS canonical_id
      |FROM ex JOIN comp c ON c.doc_id = ex.exc
      |ORDER BY ex.doc_id""".stripMargin

  /** §2.25r — near-dup cluster LABELS: per cluster (size ≥ 2) the
    * top-3 distinctive tokens by frequency LIFT (in-cluster token
    * share / corpus token share, support ≥ 3 occurrences in the
    * cluster) — the exploration layer over the component assignment:
    * a reviewer triaging ten thousand dup clusters reads labels, not
    * doc ids (same lift construction as qt_keywords, applied to the
    * DISCOVERED grouping instead of the given source column). Shape:
    * the component assignment joins the exploded token frame once
    * (key-partitioned), per-cluster and corpus counts are combinable
    * aggregates, the corpus total is a 1-row broadcast scalar
    * (PlanAudit-documented), and the final rank window runs per
    * cluster. Lift divides exact long ratios, rounded once. */
  def qdClusterLabels(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.tokens
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val edges = Dedup.jaccardNeighbors(docs, "text", "doc_id", 3, "source", 0.5)
      .select("id_a", "id_b")
    val comp = Dedup.connectedComponents(docs.select("doc_id"), edges)
    val sizes = comp.groupBy("component_id")
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
    // Token stream collapsed to per-(doc, token) counts and
    // materialized ONCE (r14): the corpus counts, the corpus total and
    // the per-cluster counts all fold linearly over occurrence counts
    // (Σ over the exploded stream = Σ cnt over the collapsed frame —
    // exact integer arithmetic), so the three consumers below read the
    // small counted frame instead of each re-running the tokenize +
    // explode pass (stage-profiled: ~3 heavy executions per query run).
    // The map-side partial aggregation collapses the token stream
    // before its one exchange — the 100 TB shape.
    val toks = graft.operators.Materialize.once(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("__cnt")))
    val corpus = toks.groupBy("token").agg(sum("__cnt").as("__ct"))
    val corpusTotal = toks.agg(sum("__cnt").as("__N"))
    val clusterToks = toks.join(comp, Seq("doc_id"))
      .join(sizes, Seq("component_id"))
      .groupBy("component_id", "n_docs", "token")
      .agg(sum("__cnt").as("__cc"))
      .withColumn("__ctot",
        sum("__cc").over(Window.partitionBy("component_id")))
      .where(col("__cc") >= 3)
    val ranked = clusterToks
      .join(corpus, Seq("token"))
      .crossJoin(broadcast(corpusTotal))
      // rank on the UNROUNDED lift (the oracle does the same), so a
      // rounding collision can never flip the top-3 cut
      .withColumn("__lift",
        (col("__cc").cast("double") / col("__ctot")) /
          (col("__ct").cast("double") / col("__N")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("component_id")
          .orderBy(desc("__lift"), col("token"))))
      .where(col("rank") <= 3)
    ranked.select(col("component_id"), col("n_docs"),
      col("rank").cast("int").as("rank"), col("token"),
      round(col("__lift"), 6).as("lift"))
      .orderBy("component_id", "rank")
  }

  val qdClusterLabelsSql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS g
      |  FROM documents
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.5
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b AS src, id_a AS dst FROM pairs
      |), reach AS (
      |  SELECT doc_id AS id, doc_id AS m FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.m FROM reach r JOIN edges e ON e.src = r.id
      |), comp AS (
      |  SELECT id AS doc_id, MIN(m) AS component_id FROM reach GROUP BY id
      |), sizes AS (
      |  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_docs
      |  FROM comp GROUP BY component_id HAVING COUNT(*) >= 2
      |), toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents
      |), corpus AS (
      |  SELECT token, COUNT(*) AS ct FROM toks GROUP BY token
      |), tot AS (SELECT COUNT(*) AS n FROM toks),
      |ctoks AS (
      |  SELECT c.component_id, s.n_docs, t.token, COUNT(*) AS cc
      |  FROM toks t
      |  JOIN comp c ON c.doc_id = t.doc_id
      |  JOIN sizes s ON s.component_id = c.component_id
      |  GROUP BY 1, 2, 3
      |), wtot AS (
      |  SELECT component_id, n_docs, token, cc,
      |    SUM(cc) OVER (PARTITION BY component_id) AS ctot
      |  FROM ctoks
      |), ranked AS (
      |  SELECT w.component_id, w.n_docs, w.token,
      |    round((CAST(w.cc AS DOUBLE) / w.ctot)
      |      / (CAST(co.ct AS DOUBLE) / t.n), 6) AS lift,
      |    ROW_NUMBER() OVER (PARTITION BY w.component_id
      |      ORDER BY (CAST(w.cc AS DOUBLE) / w.ctot)
      |        / (CAST(co.ct AS DOUBLE) / t.n) DESC, w.token) AS rnk
      |  FROM wtot w
      |  JOIN corpus co ON co.token = w.token
      |  CROSS JOIN tot t
      |  WHERE w.cc >= 3
      |)
      |SELECT component_id, n_docs, CAST(rnk AS INTEGER) AS rank, token,
      |  lift
      |FROM ranked WHERE rnk <= 3
      |ORDER BY component_id, rank""".stripMargin

  /** §2.25h — cluster cohesion report: per near-dup cluster (size ≥ 2),
    * member count, realized edge count, edge DENSITY against the
    * C(size,2) clique bound, and the mean/min edge Jaccard — the
    * cluster-granularity trust review before canonicalization collapses
    * a group (density ≈ 1 + high min = true dup clique; low density or
    * a weak min edge = a chain glued by one borderline pair — the same
    * question 25k answers per VERTEX, answered per CLUSTER). Edges join
    * their component id once (id_a side — both endpoints share it by
    * construction); mean folds over the sorted edge list, never a float
    * row-SUM. */
  def qdClusterCohesion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // cache(): the edge frame (bounded: thresholded near-dup pairs)
    // feeds BOTH the iterative components AND the cohesion rollup —
    // without it the whole inverted-index jaccard build re-runs per
    // consumer per iteration (same fix that cut qd_clustering 3.1→0.7).
    val edges = Dedup.jaccardNeighbors(docs, "text", "doc_id", 3, "source", 0.5)
      .cache()
    val comps = Dedup.connectedComponents(docs.select("doc_id"),
      edges.select("id_a", "id_b"))
    val sizes = comps.groupBy("component_id")
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") >= 2)
    val es = edges
      .join(comps.select(col("doc_id").as("id_a"), col("component_id")), "id_a")
      .groupBy("component_id")
      .agg(count(lit(1)).as("n_edges"),
        sort_array(collect_list(col("jaccard"))).as("__jl"),
        min(col("jaccard")).as("__mn"))
    sizes.join(es, "component_id")
      .select(col("component_id"), col("n_members"), col("n_edges"),
        round(col("n_edges").cast("double") /
          expr("n_members * (n_members - 1) div 2").cast("double"), 6)
          .as("density"),
        round(aggregate(col("__jl"), lit(0.0), (a, x) => a + x) /
          col("n_edges").cast("double"), 6).as("mean_jaccard"),
        round(col("__mn"), 6).as("min_jaccard"))
      .orderBy("component_id")
  }

  val qdClusterCohesionSql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS g
      |  FROM documents
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) AS jac
      |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.5
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b AS src, id_a AS dst FROM pairs
      |), reach AS (
      |  SELECT doc_id AS id, doc_id AS m FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.m FROM reach r JOIN edges e ON e.src = r.id
      |), comp AS (
      |  SELECT id AS doc_id, MIN(m) AS component_id FROM reach GROUP BY id
      |), sizes AS (
      |  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_members
      |  FROM comp GROUP BY component_id HAVING COUNT(*) >= 2
      |), pe AS (
      |  SELECT c.component_id, p.jac
      |  FROM pairs p JOIN comp c ON p.id_a = c.doc_id
      |), es AS (
      |  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_edges,
      |    list(jac ORDER BY jac) AS jl, MIN(jac) AS mn
      |  FROM pe GROUP BY component_id
      |)
      |SELECT s.component_id, s.n_members, e.n_edges,
      |  round(CAST(e.n_edges AS DOUBLE)
      |    / CAST(s.n_members * (s.n_members - 1) // 2 AS DOUBLE), 6) AS density,
      |  round(list_reduce(e.jl, (a, b) -> a + b)
      |    / CAST(e.n_edges AS DOUBLE), 6) AS mean_jaccard,
      |  round(e.mn, 6) AS min_jaccard
      |FROM sizes s JOIN es e ON s.component_id = e.component_id
      |ORDER BY s.component_id""".stripMargin

  /** §2 (dedup family) — per-source duplication report: how much of each
    * source survives exact dedup. The ingest-monitoring rollup. */
  def qdReport(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(md5(col("text"))).as("n_unique"),
        round(lit(1.0) - count_distinct(md5(col("text"))).cast("double")
          / count(lit(1)), 6).as("dup_ratio"))
      .orderBy("source")

  val qdReportSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(text)) AS n_unique,
      |  round(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 6) AS dup_ratio
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** §2.22b — sketch-accuracy report: for every LSH candidate pair, the
    * MinHash Jaccard ESTIMATE (matching signature positions / numPerms)
    * next to the TRUE distinct-token Jaccard and the absolute error —
    * the calibration table for choosing numPerms/threshold before a
    * production run. Sets ride along as in-row arrays; the only
    * per-pair work is two array ops and a position-match sum — no
    * re-shingling per pair. */
  def qdMinhashEst(spark: SparkSession, dir: String): DataFrame =
    // Exchange barrier BEFORE the global sort (r14): orderBy's range-
    // bound sampling executed the per-pair scoring segment (two
    // broadcast probes + native intersection over ~2.3 M candidate
    // pairs) twice — stage-profiled as two ~15 s-task / ~2 s-wall jobs
    // over the same pair shuffle. The checkpoint stores the scored
    // frame SERIALIZED (compact columns, like shuffle bytes), so the
    // sampler reads blocks instead of re-scoring. Two alternatives
    // were measured worse: default deserialized storage (60 s of task
    // time to row-copy + store 245 MB of object rows — this output
    // has no post-score filter, so block storage pays for every
    // candidate pair), and a pre-sort hash repartition barrier, which
    // the optimizer elides as redundant under the Sort (the double
    // execution came straight back, stage-profiled).
    graft.operators.Materialize.onceSer(minhashEstUnsorted(spark, dir))
      .orderBy("id_a", "id_b")

  /** [[qdMinhashEst]] without its final global sort — the frame
    * [[qdThresholdSweep]] aggregates (EliminateSorts dropped the inner
    * sort there anyway; consuming the unsorted frame directly keeps
    * the sweep's plan independent of the est query's sort barrier). */
  private def minhashEstUnsorted(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.tokens
    val docs = Tables.load(spark, dir, "documents")
    val sigs = Dedup.withMinhashSignature(docs, "text", NumPerms)
      .withColumn("toks", array_distinct(tokens(col("text"))))
    def side(tag: String) = sigs.select(
      col("doc_id").as(s"${tag}_id") +: col("toks").as(s"${tag}_toks") +:
        (0 until NumPerms).map(k => col(s"sig_$k").as(s"${tag}_sig_$k")): _*)
    val nMatch = (0 until NumPerms)
      .map(k => when(col(s"a_sig_$k") === col(s"b_sig_$k"), 1).otherwise(0))
      .reduce(_ + _)
    val est = nMatch.cast("double") / NumPerms
    // |A∪B| = |A| + |B| − |A∩B| (toks are array_distinct'd), so the
    // union array never materializes: the native count-only
    // intersection (IntersectionSize) plus two size() calls replace an
    // array_intersect + array_union allocation per candidate pair —
    // same integers, same division, bit-identical truth. Measured
    // (full-plan forcing, sf0.1, ~2.3 M candidate pairs): 8.5 -> 5.8 s
    // here, 9.0 -> 5.5 s in the threshold sweep built on this frame.
    val nCommon = graft.functions.Portable
      .intersectionSize(col("a_toks"), col("b_toks"))
    val truth = nCommon.cast("double") /
      (size(col("a_toks")) + size(col("b_toks")) - nCommon).cast("double")
    // Explicit pair-keyed repartition before the scoring probes (r14):
    // AQE's byte-based coalescing shrank the 9.2 MB candidate shuffle
    // to 8 partitions while the per-pair work (two broadcast probes +
    // native intersection) is compute-dense — 19.3 s of task time on 8
    // of 32 cores, 2.7 s of the query's wall (stage-profiled; the same
    // fix as qd_tfidf_pairs' scorer). 2× defaultParallelism scales
    // with the executor fleet; the re-shuffled frame is the thin pair
    // list.
    Dedup.minhashCandidateEdges(docs, "text", "doc_id", NumPerms, BandSize)
      .repartition(spark.sparkContext.defaultParallelism * 2,
        col("id_a"), col("id_b"))
      .join(side("a"), col("id_a") === col("a_id"))
      .join(side("b"), col("id_b") === col("b_id"))
      .select(col("id_a"), col("id_b"),
        round(est, 6).as("est_jaccard"),
        round(truth, 6).as("true_jaccard"),
        round(abs(est - truth), 6).as("abs_err"))
  }

  val qdMinhashEstSql: String = {
    val sigCols = (0 until NumPerms)
      .map(k => s"${sigSqlExpr(k)} AS sig_$k").mkString(",\n    ")
    val bands = (0 until NumPerms / BandSize).map { b =>
      val parts = (0 until BandSize).map(j => s"sig_${b * BandSize + j}")
      s"md5(concat_ws('_', ${parts.mkString(", ")})) AS band_$b"
    }.mkString(",\n    ")
    val matches = (0 until NumPerms)
      .map(k => s"CASE WHEN a.sig_$k = b.sig_$k THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH sigs AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks,
       |    $sigCols
       |  FROM documents
       |), withbands AS (
       |  SELECT *, $bands FROM sigs
       |), banded AS (
       |${(0 until NumPerms / BandSize).map(b =>
            s"  SELECT doc_id, $b AS band_idx, band_$b AS band_val FROM withbands")
            .mkString("\n  UNION ALL\n")}
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |  WHERE a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b,
       |  ROUND(($matches) / ${NumPerms}.0, 6) AS est_jaccard,
       |  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       |    / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS true_jaccard,
       |  ROUND(ABS(($matches) / ${NumPerms}.0
       |    - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.toks, b.toks)))), 6) AS abs_err
       |FROM pairs JOIN sigs a ON id_a = a.doc_id JOIN sigs b ON id_b = b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** §2.22c — dedup-threshold operating-curve sweep: for each candidate
    * near-dup threshold, how many pairs the MinHash ESTIMATE keeps, how
    * many the TRUE Jaccard keeps, and the precision/recall of estimate
    * against truth — the table an operator reads to pick the production
    * threshold (and the numPerms budget) before a 100 TB dedup run.
    * Builds on the same bounded LSH candidate frame as
    * [[qdMinhashEst]]; the sweep explodes each pair across the 5
    * thresholds (bounded 5× of an already-small frame, no join) and
    * reduces with conditional sums — one extra shuffle on the 5-row
    * threshold key. */
  def qdThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val thresholds = array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)
    minhashEstUnsorted(spark, dir)
      .select(col("est_jaccard"), col("true_jaccard"),
        explode(thresholds).as("threshold"))
      .groupBy("threshold")
      .agg(
        sum(when(col("est_jaccard") >= col("threshold"), 1L).otherwise(0L))
          .as("n_est"),
        sum(when(col("true_jaccard") >= col("threshold"), 1L).otherwise(0L))
          .as("n_true"),
        sum(when(col("est_jaccard") >= col("threshold") &&
            col("true_jaccard") >= col("threshold"), 1L).otherwise(0L))
          .as("n_both"))
      .select(col("threshold"),
        col("n_est").cast("bigint").as("n_est"),
        col("n_true").cast("bigint").as("n_true"),
        col("n_both").cast("bigint").as("n_both"),
        when(col("n_est") > 0,
          round(col("n_both").cast("double") / col("n_est"), 6))
          .as("precision"),
        when(col("n_true") > 0,
          round(col("n_both").cast("double") / col("n_true"), 6))
          .as("recall"))
      .orderBy("threshold")
  }

  val qdThresholdSweepSql: String = {
    val est = qdMinhashEstSql.replace("\nORDER BY id_a, id_b", "")
    s"""WITH est AS (
       |$est
       |), t AS (
       |  SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold
       |), s AS (
       |  SELECT t.threshold,
       |    CAST(SUM(CASE WHEN e.est_jaccard >= t.threshold
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_est,
       |    CAST(SUM(CASE WHEN e.true_jaccard >= t.threshold
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |    CAST(SUM(CASE WHEN e.est_jaccard >= t.threshold
       |      AND e.true_jaccard >= t.threshold
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_both
       |  FROM t CROSS JOIN est e
       |  GROUP BY t.threshold
       |)
       |SELECT threshold, n_est, n_true, n_both,
       |  CASE WHEN n_est > 0
       |    THEN round(CAST(n_both AS DOUBLE) / n_est, 6) END AS precision,
       |  CASE WHEN n_true > 0
       |    THEN round(CAST(n_both AS DOUBLE) / n_true, 6) END AS recall
       |FROM s ORDER BY threshold""".stripMargin
  }

  /** §2.22d — LSH index-health histogram: the distribution of band
    * bucket sizes, with each size's candidate-pair yield C(size, 2) —
    * the table that says whether pair generation is about to explode
    * (one 10k-row bucket = 50M pairs) BEFORE the expensive stage runs;
    * this is the measurement behind the pair generator's hot-bucket
    * guard. Two combinable aggregations over the banded rows; per-row
    * C(size,2) is cast to integer exactly before the sum. */
  def qdBandStats(spark: SparkSession, dir: String): DataFrame =
    Dedup.bandedRows(Tables.load(spark, dir, "documents"),
      "text", "doc_id", NumPerms, BandSize)
      .groupBy("band_idx", "band_val").agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("CAST(__sz * (__sz - 1) / 2 AS BIGINT)"))
          .cast("bigint").as("n_pair_candidates"))
      .select(col("bucket_size").cast("bigint").as("bucket_size"),
        col("n_buckets"), col("n_pair_candidates"))
      .orderBy("bucket_size")

  val qdBandStatsSql: String = {
    val bands = (0 until NumPerms / BandSize).map { b =>
      val parts = (0 until BandSize).map(j => sigSqlExpr(b * BandSize + j))
      s"md5(concat_ws('_', ${parts.mkString(", ")})) AS band_$b"
    }
    s"""WITH sigs AS (
       |  SELECT doc_id, ${bands.mkString(",\n    ")}
       |  FROM documents
       |), banded AS (
       |${bandedUnionSql()}
       |), buckets AS (
       |  SELECT band_idx, band_val, COUNT(*) AS sz
       |  FROM banded GROUP BY band_idx, band_val
       |)
       |SELECT CAST(sz AS BIGINT) AS bucket_size,
       |  COUNT(*) AS n_buckets,
       |  CAST(SUM(CAST(sz * (sz - 1) / 2 AS BIGINT)) AS BIGINT)
       |    AS n_pair_candidates
       |FROM buckets GROUP BY sz
       |ORDER BY bucket_size""".stripMargin
  }

  /** §2.24d — corpus provenance: pairwise source-vocabulary overlap
    * (Jaccard over each source's distinct 3-gram shingle vocabulary).
    * The "are these two crawls actually the same feed" signal read
    * before mixing sources into a training run. Scale shape: the
    * inverted index collapses to distinct (source, shingle) postings
    * — O(total shingles), never doc-pair anything — and pair
    * generation is bucket-local per shingle with the ordered-
    * combination slice, bounded by C(|sources|, 2) per shingle;
    * per-source vocabulary sizes join back as two broadcast maps.
    * Only pairs sharing ≥ 1 shingle appear (a zero-overlap pair
    * carries no signal). */
  def qdSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sh = org.apache.spark.sql.graft.WordShingles
      .ofColumn(col("__toks"), 3, hashed = false)
    val posting = Tables.load(spark, dir, "documents")
      .select(col("source"), graft.functions.Portable.tokens(col("text")).as("__toks"))
      .select(col("source"), explode_outer(sh).as("__shingle"))
      .where(col("__shingle").isNotNull)
      .distinct()
    val vocab = posting.groupBy("source").agg(count(lit(1)).as("__n"))
    val inter = posting
      .groupBy("__shingle")
      .agg(sort_array(collect_list(col("source"))).as("__ss"))
      .where(size(col("__ss")) > 1)
      .select(posexplode(col("__ss")).as(Seq("__pos", "source_a")), col("__ss"))
      .select(col("source_a"),
        explode(slice(col("__ss"), col("__pos") + 2, size(col("__ss"))))
          .as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("__inter"))
    inter
      .join(broadcast(vocab.select(col("source").as("source_a"),
        col("__n").as("__na"))), Seq("source_a"))
      .join(broadcast(vocab.select(col("source").as("source_b"),
        col("__n").as("__nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        col("__inter").cast("bigint").as("n_common"),
        round(col("__inter").cast("double") /
          (col("__na") + col("__nb") - col("__inter")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  val qdSourceOverlapSql: String =
    """WITH sh AS (
      |  SELECT DISTINCT source, unnest(
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_transform(range(1, len(string_split(text, ' ')) - 1),
      |        i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
      |    ELSE [] END) AS g
      |  FROM documents
      |), v AS (
      |  SELECT source, COUNT(*) AS n FROM sh GROUP BY source
      |), p AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT p.source_a, p.source_b, CAST(p.n_common AS BIGINT) AS n_common,
      |  round(CAST(p.n_common AS DOUBLE)
      |    / CAST(va.n + vb.n - p.n_common AS DOUBLE), 6) AS jaccard
      |FROM p
      |JOIN v va ON p.source_a = va.source
      |JOIN v vb ON p.source_b = vb.source
      |ORDER BY source_a, source_b""".stripMargin

  /** §2.24e — winnowing fingerprint pairs (the MOSS plagiarism-
    * detection algorithm): positional 5-gram hashes, then the MINIMUM
    * hash of every 4-hash sliding window, deduplicated — a guaranteed
    * ~2/(w+1) sample of each document's gram stream that still catches
    * any shared run of ≥ 8 tokens (window + gram span). Pairs sharing
    * ≥ 2 winnowed fingerprints report with their shared count. Versus
    * 24's full-shingle index this posts ~1/3 of the grams per doc —
    * winnowing's entire point at corpus scale — while staying fully
    * deterministic (no random sampling). In-row HOFs build the
    * positional hash and window-min arrays (WordShingles dedups, so
    * it cannot be used here); the pair walk is the same bucket-local
    * ordered-combination slice as the LSH path. */
  def qdWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    // Positional 5-gram hashes via the native one-pass expression
    // (duplicates kept, document order) — value-identical to the
    // portable `transform(sequence(1, size-4), i -> md5(concat_ws(" ",
    // slice(toks, i, 5))))` composition the oracle recomputes (empty
    // below 5 tokens), without the per-shingle lambda interpretation
    // and slice allocation that dominated this query's scan stage.
    val posHashes = org.apache.spark.sql.graft.WordShingles
      .positional(col("__toks"), 5, hashed = true)
    val winnowed = when(size(col("__hs")) >= 4,
      array_distinct(transform(sequence(lit(1), size(col("__hs")) - 3),
        i => array_min(slice(col("__hs"), i, lit(4))))))
      .otherwise(array().cast("array<string>"))
    val posting = Tables.load(spark, dir, "documents")
      .select(col("source").as("__block"), col("doc_id"),
        graft.functions.Portable.tokens(col("text")).as("__toks"))
      .select(col("__block"), col("doc_id"), posHashes.as("__hs"))
      .select(col("__block"), col("doc_id"), explode_outer(winnowed).as("fp"))
      .where(col("fp").isNotNull)
    posting
      .groupBy("__block", "fp")
      .agg(sort_array(collect_list(col("doc_id"))).as("__ids"))
      .where(size(col("__ids")) > 1)
      .select(posexplode(col("__ids")).as(Seq("__pos", "id_a")), col("__ids"))
      .repartition(col("id_a"))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__pos") + 2, size(col("__ids"))))
          .as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
      .orderBy("id_a", "id_b")
  }

  val qdWinnowPairsSql: String =
    """WITH t AS (
      |  SELECT source, doc_id, string_split(text, ' ') AS tk FROM documents
      |), h AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
      |      i -> md5(array_to_string(tk[i:i+4], ' '))) ELSE [] END AS hs
      |  FROM t
      |), w AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(hs) >= 4 THEN
      |      list_distinct(list_transform(range(1, len(hs) - 2),
      |        i -> list_min(hs[i:i+3])))
      |    ELSE [] END AS fps
      |  FROM h
      |), p AS (
      |  SELECT source, doc_id, unnest(fps) AS fp FROM w
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM p a JOIN p b
      |  ON a.source = b.source AND a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** §2.25g — near-dup cluster-size distribution: how many clusters of
    * each size the component pass produced, how many docs they hold,
    * and what fraction each size class would delete (size − 1 per
    * cluster) — the one-page read that tells a dedup reviewer whether
    * the graph is healthy near-dup pairs (sizes 2-3) or a degenerate
    * hairball (one giant component = the LSH threshold is wrong). Two
    * tiny rollups over the component assignment — the expensive part is
    * the components pass, so it runs on the O(log n)-round star
    * contraction ([[Dedup.connectedComponentsStar]]): label propagation
    * here cost a round count tracking graph DIAMETER, the wrong bound
    * for the chain-shaped clusters this report exists to flag (both
    * forms measure ~1 s on the test graph; the star bound is what
    * survives a deep graph). Everything after runs on ≤ |docs| rows
    * collapsing to ≤ |distinct sizes|. Component IDs (min-id canonical)
    * are algorithm-invariant, so the oracle is unchanged. */
  def qdClusterReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val edges = Dedup.jaccardNeighbors(docs, "text", "doc_id", 3, "source", 0.5)
      .select("id_a", "id_b")
    Dedup.connectedComponentsStar(docs.select("doc_id"), edges)
      .groupBy("component_id")
      .agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("__sz")).cast("bigint").as("n_docs"),
        (count(lit(1)) * (col("__sz") - 1)).cast("bigint").as("n_deletable"))
      .orderBy("cluster_size")
  }

  val qdClusterReportSql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS g
      |  FROM documents
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.5
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b AS src, id_a AS dst FROM pairs
      |), reach AS (
      |  SELECT doc_id AS id, doc_id AS m FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.m FROM reach r JOIN edges e ON e.src = r.id
      |), comp AS (
      |  SELECT id, MIN(m) AS component_id FROM reach GROUP BY id
      |), sizes AS (
      |  SELECT component_id, COUNT(*) AS sz FROM comp GROUP BY component_id
      |)
      |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
      |  CAST(COUNT(*) * sz AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) * (sz - 1) AS BIGINT) AS n_deletable
      |FROM sizes
      |GROUP BY sz
      |ORDER BY cluster_size""".stripMargin

  /** §2.25i — connected components by alternating large-star/small-star
    * contraction over the same jaccard≥0.5 pair graph as
    * [[qdComponents]] — identical output contract (min-id canonical),
    * O(log n) rounds instead of O(diameter), the swap-in for
    * chain-shaped duplicate graphs where min-label propagation's round
    * count explodes. Shares qd_components' oracle verbatim. */
  def qdComponentsStar(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val edges = Dedup.jaccardNeighbors(docs, "text", "doc_id", 3, "source", 0.5)
      .select("id_a", "id_b")
    Dedup.connectedComponentsStar(docs.select("doc_id"), edges)
      .withColumn("is_canonical", col("doc_id") === col("component_id"))
      .orderBy("doc_id")
  }

  /** §2.24h — content-defined chunking (CDC) dedup stats: documents
    * split at CONTENT-DERIVED boundaries (after any token whose md5
    * lands in 1/8 of hash space → ~8-token expected chunks, the
    * Rabin-style gear of storage dedup), then chunks dedup by hash
    * within source. Against fixed-window segmentation (the multimodal
    * 35-family), CDC is insert-shift robust: an inserted sentence moves
    * every fixed window after it but re-synchronizes CDC at the next
    * content boundary, so the chunks downstream still dedup. All
    * chunking is per-row array work fused into the scan (no shuffle
    * until the ≤ |chunks| hash rollup); the report is per source:
    * total/distinct chunks, mean chunk tokens, and the tokens a
    * chunk-store would save. */
  def qdCdcChunks(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.{md5Hash32, tokens}
    // STAGED projections, deliberately: inlining `edges` into the
    // per-chunk transform would copy the md5-boundary scan (O(tokens))
    // into every chunk-index lambda — O(tokens²) per doc whenever
    // codegen subexpression elimination doesn't rescue it (measured:
    // the same plan swung 2.4 s ↔ 11.8 s at sf0.1 with the JIT
    // lottery). A multi-referenced non-cheap alias blocks
    // CollapseProject, so `__edges` is computed exactly once per row.
    val toks = tokens(col("text"))
    val bpos = filter(sequence(lit(1), size(col("__toks"))),
      i => md5Hash32(element_at(col("__toks"), i)) % 8 === 0)
    val edges = array_distinct(concat(array(lit(0)), bpos,
      array(size(col("__toks")))))
    val chunks = transform(sequence(lit(1), size(col("__edges")) - 1),
      j => array_join(
        slice(col("__toks"), element_at(col("__edges"), j) + 1,
          element_at(col("__edges"), j + 1) -
            element_at(col("__edges"), j)), " "))
    val perChunk = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), toks.as("__toks"))
      .withColumn("__edges", edges)
      .select(col("source"), col("doc_id"), explode(chunks).as("chunk"))
      .select(col("source"), md5(col("chunk")).as("chunk_hash"),
        size(split(col("chunk"), " ")).as("tlen"))
    perChunk.groupBy("source", "chunk_hash")
      .agg(count(lit(1)).as("cnt"), min(col("tlen")).as("tlen"))
      .groupBy("source")
      .agg(sum("cnt").as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum((col("cnt") - 1) * col("tlen")).as("tokens_saved"),
        round(sum(col("cnt") * col("tlen")).cast("double") /
          sum("cnt"), 6).as("mean_chunk_tokens"))
      .orderBy("source")
  }

  val qdCdcChunksSql: String =
    """WITH t AS (
      |  SELECT source, doc_id, string_split(text, ' ') AS toks FROM documents
      |), e AS (
      |  SELECT source, doc_id, toks,
      |    list_sort(list_distinct(list_concat(list_concat([0],
      |      list_filter(range(1, len(toks) + 1),
      |        i -> ('0x' || substr(md5(toks[i]), 1, 8))::BIGINT % 8 = 0)),
      |      [len(toks)]))) AS edges
      |  FROM t
      |), c AS (
      |  SELECT source,
      |    unnest(list_transform(range(1, len(edges)),
      |      j -> array_to_string(toks[edges[j] + 1:edges[j + 1]], ' '))) AS chunk
      |  FROM e
      |), h AS (
      |  SELECT source, md5(chunk) AS chunk_hash,
      |    len(string_split(chunk, ' ')) AS tlen
      |  FROM c
      |), g AS (
      |  SELECT source, chunk_hash, COUNT(*) AS cnt, MIN(tlen) AS tlen
      |  FROM h GROUP BY 1, 2
      |)
      |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_chunks,
      |  COUNT(*) AS n_distinct,
      |  CAST(SUM((cnt - 1) * tlen) AS BIGINT) AS tokens_saved,
      |  round(CAST(SUM(cnt * tlen) AS DOUBLE) / SUM(cnt), 6)
      |    AS mean_chunk_tokens
      |FROM g GROUP BY source
      |ORDER BY source""".stripMargin

  /** §2.25p — modularity of the SOURCE partition over the jaccard
    * near-dup graph: Q = Σ_s [e_s/m − (d_s/2m)²] with e_s the edges
    * internal to source s and d_s its degree mass — the one-number
    * graph-theoretic answer to "is duplication a within-source
    * phenomenon here?" (Q near its maximum: each source dups mostly
    * with itself, per-source dedup is safe; Q ≈ 0: the dup graph
    * ignores source boundaries and only global dedup is sound). The
    * per-source rows carry the decomposition; every statistic is an
    * integer until the final per-row doubles. Complements
    * qd_cross_source's candidate counts with a degree-normalized
    * measure that is comparable across corpora. Edge endpoints join
    * their source once (one shuffle), everything after runs on the
    * ≤ |sources| frame. */
  def qdModularity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val srcOf = docs.select(col("doc_id"), col("source"))
    // GLOBAL near-dup graph (constant block): cross-source edges must
    // exist for the partition quality question to be non-trivial — the
    // inverted shingle index does the candidate pruning, so removing
    // the source blocking changes candidates, not complexity class.
    val edges = Dedup.jaccardNeighbors(docs.withColumn("__g", lit(1)),
        "text", "doc_id", 3, "__g", 0.5)
      .select("id_a", "id_b")
      .join(srcOf.toDF("id_a", "src_a"), "id_a")
      .join(srcOf.toDF("id_b", "src_b"), "id_b")
      .localCheckpoint() // consumed three times below
    val m = edges.count()
    val intra = edges.where(col("src_a") === col("src_b"))
      .groupBy(col("src_a").as("source"))
      .agg(count(lit(1)).as("n_intra_edges"))
    val degree = edges.select(col("src_a").as("source"))
      .union(edges.select(col("src_b").as("source")))
      .groupBy("source").agg(count(lit(1)).as("degree_sum"))
    val terms = degree.join(intra, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_intra_edges"), lit(0L)).as("n_intra_edges"),
        col("degree_sum"),
        round(coalesce(col("n_intra_edges"), lit(0L)).cast("double") / m -
          (col("degree_sum").cast("double") / (2.0 * m)) *
          (col("degree_sum").cast("double") / (2.0 * m)), 9)
          .cast("decimal(18,9)").as("term"))
    val q = terms.agg(sum("term").as("qd"))
    terms.join(broadcast(q))
      .select(col("source"), col("n_intra_edges"), col("degree_sum"),
        round(col("term").cast("double"), 6).as("term"),
        round(col("qd").cast("double"), 6).as("modularity_total"))
      .orderBy("source")
  }

  val qdModularitySql: String =
    """WITH sh AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 1),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |    ELSE [] END AS g
      |  FROM documents
      |), post AS MATERIALIZED (
      |  SELECT source, doc_id, len(g) AS ng, unnest(g) AS shingle FROM sh
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    MIN(a.source) AS src_a, MIN(b.source) AS src_b,
      |    MIN(a.ng) AS n_a, MIN(b.ng) AS n_b, COUNT(*) AS i
      |  FROM post a JOIN post b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS MATERIALIZED (
      |  SELECT id_a, id_b, src_a, src_b FROM inter
      |  WHERE CAST(i AS DOUBLE) / CAST(n_a + n_b - i AS DOUBLE) >= 0.5
      |), m AS (SELECT COUNT(*) AS m FROM pairs
      |), intra AS (
      |  SELECT src_a AS source, COUNT(*) AS n_intra_edges
      |  FROM pairs WHERE src_a = src_b GROUP BY 1
      |), deg AS (
      |  SELECT source, COUNT(*) AS degree_sum FROM (
      |    SELECT src_a AS source FROM pairs
      |    UNION ALL SELECT src_b FROM pairs
      |  ) GROUP BY 1
      |), terms AS (
      |  SELECT d.source,
      |    COALESCE(i.n_intra_edges, 0) AS n_intra_edges,
      |    d.degree_sum,
      |    CAST(round(COALESCE(i.n_intra_edges, 0)::DOUBLE / t.m
      |      - (d.degree_sum::DOUBLE / (2.0 * t.m))
      |        * (d.degree_sum::DOUBLE / (2.0 * t.m)), 9)
      |      AS DECIMAL(18,9)) AS term
      |  FROM deg d LEFT JOIN intra i ON i.source = d.source, m t
      |), q AS (SELECT SUM(term) AS qd FROM terms)
      |SELECT source, CAST(n_intra_edges AS BIGINT) AS n_intra_edges,
      |  CAST(degree_sum AS BIGINT) AS degree_sum,
      |  round(CAST(term AS DOUBLE), 6) AS term,
      |  round(CAST((SELECT qd FROM q) AS DOUBLE), 6) AS modularity_total
      |FROM terms
      |ORDER BY source""".stripMargin

  /** §2.25n — maximal duplicated-substring report (exact substring
    * dedup, the span-level complement of 31ae's any-overlap flag): per
    * near-dup document pair, the LONGEST verbatim shared token span, the
    * number of maximal shared spans, and their summed length (an upper
    * bound on shared tokens — overlapping diagonals can double-count).
    * [[Dedup.substringRuns]] recovers every maximal run ≥ 13 tokens via
    * gaps-and-islands on the positional-13-gram match diagonal; the
    * df ≤ 100 hot-gram cap is inert at test scale (max observed df = 3)
    * and bounds fan-out at corpus scale. */
  def qdSubstringRuns(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringRuns(Tables.load(spark, dir, "documents"),
        "text", "doc_id", 13, 100)
      .groupBy("doc_a", "doc_b")
      .agg(max(col("span_tokens")).as("max_span_tokens"),
        count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("shared_tokens_ub"))
      .orderBy("doc_a", "doc_b")

  val qdSubstringRunsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), grams AS (
      |  SELECT doc_id, i AS pos, md5(array_to_string(ts[i:i+12], ' ')) AS g
      |  FROM toks, LATERAL unnest(range(1, len(ts) - 11)) AS t(i)
      |  WHERE len(ts) >= 13
      |), freq AS (
      |  SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY g
      |), kept AS (
      |  SELECT gr.doc_id, gr.pos, gr.g FROM grams gr JOIN freq f USING (g)
      |  WHERE f.df BETWEEN 2 AND 100
      |), pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.pos AS pos_a, a.pos - b.pos AS diag
      |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
      |), islands AS (
      |  SELECT doc_a, doc_b, diag,
      |    pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
      |                               ORDER BY pos_a) AS isl
      |  FROM pairs
      |), runs AS (
      |  SELECT doc_a, doc_b, COUNT(*) + 12 AS span_tokens
      |  FROM islands GROUP BY doc_a, doc_b, diag, isl
      |)
      |SELECT doc_a, doc_b,
      |  CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(span_tokens) AS BIGINT) AS shared_tokens_ub
      |FROM runs GROUP BY doc_a, doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qd_substring_runs" -> (qdSubstringRuns _),
    "qd_modularity" -> (qdModularity _),
    "qd_cdc_chunks" -> (qdCdcChunks _),
    "qd_lsh_recall" -> (qdLshRecall _),
    "qd_link_pred" -> (qdLinkPred _),
    "qd_lsh_auto" -> (qdLshAuto _),
    "qd_kcore_auto" -> (qdKcoreAuto _),
    "qd_pagerank_auto" -> (qdPagerankAuto _),
    "qd_triangles" -> (qdTriangles _),
    "qd_clustering" -> (qdClustering _),
    "qd_kcore" -> (qdKcore _),
    "qd_pagerank" -> (qdPagerank _),
    "qd_components_star" -> (qdComponentsStar _),
    "qd_cluster_report" -> (qdClusterReport _),
    "qd_winnow_pairs" -> (qdWinnowPairs _),
    "qd_source_overlap" -> (qdSourceOverlap _),
    "qd_band_stats" -> (qdBandStats _),
    "qd_threshold_sweep" -> (qdThresholdSweep _),
    "qd_minhash_est" -> (qdMinhashEst _),
    "qd_report" -> (qdReport _),
    "qd_components" -> (qdComponents _),
    "qd_manifest" -> (qdManifest _),
    "qd_lsh_audit" -> (qdLshAudit _),
    "qd_exact" -> (qdExact _),
    "qd_norm_levels" -> (qdNormLevels _),
    "qd_cluster_labels" -> (qdClusterLabels _),
    "qd_lsh_design" -> (qdLshDesign _),
    "qd_consistent_hash" -> (qdConsistentHash _),
    "qd_dup_spectrum" -> (qdDupSpectrum _),
    "qd_minhash" -> (qdMinhash _),
    "qd_minhash_pairs" -> (qdMinhashPairs _),
    "qd_simhash" -> (qdSimhash _),
    "qd_simhash_pairs" -> (qdSimhashPairs _),
    "qd_ngram_jaccard" -> (qdNgramJaccard _),
    "qd_containment" -> (qdContainment _),
    "qd_prefix_join" -> (qdPrefixJoin _),
    "qd_sorted_neighbors" -> (qdSortedNeighbors _),
    "qd_lsh_curve" -> (qdLshCurve _),
    "qd_cluster_cohesion" -> (qdClusterCohesion _),
    "qd_cross_source" -> (qdCrossSource _),
    "qd_incremental" -> (qdIncremental _),
    "qd_edit_distance" -> (qdEditDistance _),
    "qd_jaro" -> (qdJaro _),
    "qd_tfidf_pairs" -> (qdTfidfPairs _),
    "qd_embedding" -> (qdEmbedding _))

  val oracles: Map[String, String] = Map(
    "qd_substring_runs" -> qdSubstringRunsSql,
    "qd_cdc_chunks" -> qdCdcChunksSql,
    "qd_modularity" -> qdModularitySql,
    "qd_lsh_recall" -> qdLshRecallSql,
    "qd_link_pred" -> qdLinkPredSql,
    "qd_lsh_auto" -> qdLshAutoSql,
    "qd_kcore_auto" -> qdKcoreAutoSql,
    "qd_pagerank_auto" -> qdPagerankAutoSql,
    "qd_triangles" -> qdTrianglesSql,
    "qd_clustering" -> qdClusteringSql,
    "qd_kcore" -> qdKcoreSql,
    "qd_pagerank" -> qdPagerankSql,
    "qd_components_star" -> qdComponentsSql,
    "qd_cluster_report" -> qdClusterReportSql,
    "qd_winnow_pairs" -> qdWinnowPairsSql,
    "qd_source_overlap" -> qdSourceOverlapSql,
    "qd_band_stats" -> qdBandStatsSql,
    "qd_threshold_sweep" -> qdThresholdSweepSql,
    "qd_minhash_est" -> qdMinhashEstSql,
    "qd_report" -> qdReportSql,
    "qd_components" -> qdComponentsSql,
    "qd_manifest" -> qdManifestSql,
    "qd_lsh_audit" -> qdLshAuditSql,
    "qd_exact" -> qdExactSql,
    "qd_norm_levels" -> qdNormLevelsSql,
    "qd_cluster_labels" -> qdClusterLabelsSql,
    "qd_lsh_design" -> qdLshDesignSql,
    "qd_consistent_hash" -> qdConsistentHashSql,
    "qd_dup_spectrum" -> qdDupSpectrumSql,
    "qd_minhash" -> qdMinhashSql,
    "qd_minhash_pairs" -> qdMinhashPairsSql,
    "qd_simhash" -> qdSimhashSql,
    "qd_simhash_pairs" -> qdSimhashPairsSql,
    "qd_ngram_jaccard" -> qdNgramJaccardSql,
    "qd_containment" -> qdContainmentSql,
    "qd_prefix_join" -> qdPrefixJoinSql,
    "qd_sorted_neighbors" -> qdSortedNeighborsSql,
    "qd_lsh_curve" -> qdLshCurveSql,
    "qd_cluster_cohesion" -> qdClusterCohesionSql,
    "qd_cross_source" -> qdCrossSourceSql,
    "qd_incremental" -> qdIncrementalSql,
    "qd_edit_distance" -> qdEditDistanceSql,
    "qd_jaro" -> qdJaroSql,
    "qd_tfidf_pairs" -> qdTfidfPairsSql,
    "qd_embedding" -> qdEmbeddingSql)
}
