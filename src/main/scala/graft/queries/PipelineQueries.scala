package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable._

/** End-to-end corpus preparation — the composition the individual
  * operators exist for: scrub PII, score quality, keep documents above
  * threshold, and keep one canonical representative per distinct
  * cleaned content. One scan, one shuffle (the dedup window on the
  * content hash); every stage is a Column expression, so Catalyst fuses
  * scrub+score+filter into the scan's codegen stage.
  */
object PipelineQueries {

  private val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^ ]+" -> "<URL>")

  private val MinQuality = 0.5

  def qpCorpus(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = piiPatterns.foldLeft(col("text")) {
      case (c, (pat, rep)) => regexp_replace(c, pat, rep)
    }
    val toks = tokens(col("clean_text"))
    val nTok = size(toks).cast("double")
    val quality = lit(0.5) * least(nTok / lit(50.0), lit(1.0)) +
      lit(0.5) * (size(array_distinct(toks)).cast("double") / nTok)
    val byContent = Window.partitionBy("content_hash").orderBy("doc_id")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), cleaned.as("clean_text"))
      .withColumn("quality", round(quality, 6))
      .where(col("quality") >= MinQuality)
      .withColumn("content_hash", md5(col("clean_text")))
      .withColumn("__rn", row_number().over(byContent))
      .where(col("__rn") === 1)
      .select("doc_id", "source", "content_hash", "quality")
      .orderBy("doc_id")
  }

  val qpCorpusSql: String = {
    val cleaned = piiPatterns.foldLeft("text") {
      case (c, (pat, rep)) => s"regexp_replace($c, '$pat', '$rep', 'g')"
    }
    s"""WITH cleaned AS (
       |  SELECT doc_id, source, $cleaned AS clean_text FROM documents
       |), scored AS (
       |  SELECT doc_id, source, clean_text,
       |    round(0.5 * least(CAST(len(string_split(clean_text, ' ')) AS DOUBLE) / 50.0, 1.0)
       |      + 0.5 * (CAST(len(list_distinct(string_split(clean_text, ' '))) AS DOUBLE)
       |               / CAST(len(string_split(clean_text, ' ')) AS DOUBLE)), 6) AS quality
       |  FROM cleaned
       |)
       |SELECT doc_id, source, md5(clean_text) AS content_hash, quality
       |FROM scored
       |WHERE quality >= $MinQuality
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** §2.31ae — EXACT 13-gram benchmark-overlap check (the GPT-3
    * appendix-C / industry-standard contamination test): a training
    * document is flagged iff it shares ANY exact 13-token span with
    * the benchmark set (src0+src1 here) — zero false negatives for
    * long verbatim inclusions, which the MinHash check (31f) can miss
    * below its similarity threshold and the n-gram novelty read (28g)
    * only aggregates. Per-source report: docs, contaminated docs,
    * rate, total shared-span incidences. Shape: distinct 13-gram
    * hashes per doc ([[shingles]]), posting join on the hash —
    * inverted-index linear, the benchmark side's postings are the
    * small side at any corpus scale. */
  def qpOverlap13(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val grams = docs.select(col("source"), col("doc_id"),
        explode(shingles(tokens(col("text")), 13)).as("g"))
    val bench = grams.where(col("source").isin("src0", "src1"))
      .select(col("g")).distinct()
    val hits = grams.where(!col("source").isin("src0", "src1"))
      .join(bench, Seq("g"), "left_semi")
      .groupBy("source", "doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
    docs.where(!col("source").isin("src0", "src1"))
      .select("source", "doc_id")
      .join(hits, Seq("source", "doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_shared_grams").isNotNull, 1L).otherwise(0L))
          .as("n_contaminated"),
        round(sum(when(col("n_shared_grams").isNotNull, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("contamination_rate"),
        sum(coalesce(col("n_shared_grams"), lit(0L))).as("n_shared_total"))
      .orderBy("source")
  }

  val qpOverlap13Sql: String =
    """WITH sh AS (
      |  SELECT source, doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 13 THEN
      |      list_distinct(list_transform(
      |        range(1, len(string_split(text, ' ')) - 11),
      |        i -> md5(array_to_string(string_split(text, ' ')[i:i+12], ' '))))
      |    ELSE [] END AS gs
      |  FROM documents
      |), grams AS (
      |  SELECT source, doc_id, unnest(gs) AS g FROM sh
      |), bench AS (
      |  SELECT DISTINCT g FROM grams WHERE source IN ('src0', 'src1')
      |), hits AS (
      |  SELECT t.source, t.doc_id, COUNT(*) AS n_shared_grams
      |  FROM grams t
      |  WHERE t.source NOT IN ('src0', 'src1')
      |    AND EXISTS (SELECT 1 FROM bench b WHERE b.g = t.g)
      |  GROUP BY 1, 2
      |)
      |SELECT d.source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN h.n_shared_grams IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_contaminated,
      |  round(CAST(SUM(CASE WHEN h.n_shared_grams IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS contamination_rate,
      |  CAST(SUM(COALESCE(h.n_shared_grams, 0)) AS BIGINT) AS n_shared_total
      |FROM documents d
      |LEFT JOIN hits h ON h.source = d.source AND h.doc_id = d.doc_id
      |WHERE d.source NOT IN ('src0', 'src1')
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  /** Train/test contamination report: MinHash-LSH near-dup candidate
    * pairs whose members land in DIFFERENT splits of the deterministic
    * md5 split (TextQueries.qtSplit's assignment) — the canonical
    * "your test set leaks into train" check, composed entirely from the
    * dedup + split primitives and summarised per split pair. */
  def qpContamination(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    // Count-only rollup via inclusion-exclusion over band subsets
    // (Dedup.lshLabelPairReport) — the candidate-pair set is never
    // materialized; the split label is computed once per document in
    // the signature projection (never per pair, where round-2 profiling
    // caught pushdown re-inlining the md5 CASE chain per collision).
    val bucket = graft.functions.Portable.md5Bucket("split", col("doc_id"), 100)
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("split", when(bucket < 80, "train")
        .when(bucket < 90, "valid").otherwise("test"))
    Dedup.lshLabelPairReport(docs, "text", "doc_id", "split",
      DedupQueries.NumPerms, DedupQueries.BandSize)
      .select(col("label_a").as("split_a"), col("label_b").as("split_b"),
        col("n_pairs"))
      .orderBy("split_a", "split_b")
  }

  private def splitCaseSql(id: String): String =
    s"""CASE WHEN ('0x' || substr(md5('split:' || $id), 1, 8))::BIGINT % 100 < 80 THEN 'train'
       |     WHEN ('0x' || substr(md5('split:' || $id), 1, 8))::BIGINT % 100 < 90 THEN 'valid'
       |     ELSE 'test' END""".stripMargin

  val qpContaminationSql: String =
    s"""WITH pairs AS (${DedupQueries.qdMinhashPairsSql}),
       |lab AS (
       |  SELECT ${splitCaseSql("id_a")} AS sa, ${splitCaseSql("id_b")} AS sb
       |  FROM pairs
       |)
       |SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
       |  COUNT(*) AS n_pairs
       |FROM lab WHERE sa <> sb
       |GROUP BY least(sa, sb), greatest(sa, sb)
       |ORDER BY split_a, split_b""".stripMargin

  /** §2.31y — decontamination, the ACTIONABLE counterpart of 31f's
    * report: train-split documents sharing ≥ 1 LSH band with any
    * test/valid document are flagged for removal (candidate-level =
    * deliberately conservative — a benchmark leak is worth a few false
    * drops), summarized per source as kept/flagged counts. Runs the
    * incremental-dedup shape in reverse ([[Dedup.incrementalNearDups]]:
    * train probes the held-out band INDEX) — per-run cost linear in the
    * corpus, never all-pairs; the oracle replays bands, index, probe,
    * and rollup. */
  def qpDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val bucket = graft.functions.Portable.md5Bucket("split", col("doc_id"), 100)
    val docs = Tables.load(spark, dir, "documents")
    val train = docs.where(bucket < 80)
    val heldOut = docs.where(bucket >= 80)
    val flagged = Dedup.incrementalNearDups(heldOut, train, "text", "doc_id",
      DedupQueries.NumPerms, DedupQueries.BandSize)
      .select(col("doc_id"), lit(true).as("__flagged"))
    train.select("doc_id", "source")
      .join(flagged, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("__flagged"), 1L).otherwise(0L)).as("n_flagged"))
      .select(col("source"), col("n_train"), col("n_flagged"),
        (col("n_train") - col("n_flagged")).as("n_clean"),
        round(col("n_flagged").cast("double") / col("n_train").cast("double"), 6)
          .as("flagged_rate"))
      .orderBy("source")
  }

  val qpDecontaminateSql: String = {
    val bands = (0 until DedupQueries.NumPerms / DedupQueries.BandSize).map { b =>
      val parts = (b * DedupQueries.BandSize until (b + 1) * DedupQueries.BandSize)
        .map(DedupQueries.sigSqlExpr)
      s"md5(concat_ws('_', ${parts.mkString(", ")})) AS band_$b"
    }
    s"""WITH sigs AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 100 AS bucket,
       |    ${bands.mkString(",\n    ")}
       |  FROM documents
       |), banded AS (
       |${DedupQueries.bandedUnionSql(" source, bucket,")}
       |), idx AS (
       |  SELECT DISTINCT band_idx, band_val FROM banded WHERE bucket >= 80
       |), flagged AS (
       |  SELECT DISTINCT b.doc_id FROM banded b
       |  JOIN idx i ON b.band_idx = i.band_idx AND b.band_val = i.band_val
       |  WHERE b.bucket < 80
       |)
       |SELECT s.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_train,
       |  CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flagged,
       |  CAST(COUNT(*) - SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_clean,
       |  round(CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS flagged_rate
       |FROM (SELECT DISTINCT doc_id, source FROM sigs WHERE bucket < 80) s
       |LEFT JOIN flagged f ON s.doc_id = f.doc_id
       |GROUP BY s.source
       |ORDER BY s.source""".stripMargin
  }

  /** Deterministic stratified sample: at most 10 documents per source,
    * elected by seeded-md5 order ([[graft.operators.Sampling]]). Runs
    * the SALTED two-phase plan (4 salts); the oracle is the plain
    * single-window SQL, so the check proves the two plans row-identical
    * on top of value parity. */
  def qpSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedTopK(
      Tables.load(spark, dir, "documents"),
      Seq("source"), "doc_id", k = 10, seed = "sample", salts = 4)
      .select("source", "doc_id", "sample_rank")
      .orderBy("source", "sample_rank")

  val qpSampleSql: String =
    """SELECT source, doc_id, sample_rank FROM (
      |  SELECT source, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5('sample:' || doc_id), doc_id) AS INT) AS sample_rank
      |  FROM documents
      |)
      |WHERE sample_rank <= 10
      |ORDER BY source, sample_rank""".stripMargin

  /** Source-mixing report: high-priority sources keep every document,
    * the long tail downsamples to 30%, decided per document by the
    * seeded-md5 bucket ([[graft.operators.Sampling.weightedKeep]]'s
    * rule, aggregated here so the report shows realised vs target
    * ratios in one pass — the filter itself is a scan-level predicate,
    * no shuffle). */
  def qpMix(spark: SparkSession, dir: String): DataFrame = {
    val priority = Seq("src0", "src1", "src2", "src3", "src4")
    val weight = when(col("source").isin(priority.map(s => s: Any): _*), lit(1.0))
      .otherwise(lit(0.3))
    // The operator's own predicate — the report must describe exactly
    // the filter weightedKeep applies.
    val kept = graft.operators.Sampling.keepPredicate(col("doc_id"), weight, "mix")
    Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        // weight is constant within a source; min() lifts it through
        // the aggregation without a grouping-expression restriction.
        round(min(weight), 6).as("target_ratio"))
      .orderBy("source")
  }

  val qpMixSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN ('0x' || substr(md5('mix:' || doc_id), 1, 8))::BIGINT % 1000
      |    < CAST((CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1.0 ELSE 0.3 END) * 1000 AS BIGINT)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  round(CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1.0 ELSE 0.3 END, 6) AS target_ratio
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Shard packing: documents pack contiguously into 2000-token shards
    * within each source ([[graft.operators.Sampling.packShards]]) —
    * the deterministic training-shard layout step. */
  def qpPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    graft.operators.Sampling.packShards(docs, Seq("source"), "doc_id", "n_tok", 2000L)
      .select("source", "doc_id", "n_tok", "shard_id")
      .orderBy("source", "doc_id")
  }

  val qpPackSql: String =
    """SELECT source, doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |  CAST((SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
      |          OVER (PARTITION BY source ORDER BY doc_id
      |                ROWS UNBOUNDED PRECEDING)
      |        - CAST(len(string_split(text, ' ')) AS BIGINT)) // 2000 AS BIGINT) AS shard_id
      |FROM documents
      |ORDER BY source, doc_id""".stripMargin

  /** §2.31af — release shard manifest: per (source, shard) — doc
    * count, exact token total, and an order-independent content
    * checksum (the qc_checksum discipline: 32-bit md5 row hashes of
    * each member's (doc_id, text-hash) SUMMED under DECIMAL(38,0), so
    * file order, shuffle order and retry order cannot move it, and the
    * checksum is rendered as its exact base-10 string). This is the
    * artifact a training run pins: re-materializing a shard on another
    * cluster/day must reproduce its manifest line bit-for-bit, and a
    * single flipped document in a single shard is immediately
    * localized. Composes the packing assignment with one combinable
    * grouped pass — no extra shuffle beyond the pack itself. */
  def qpManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    graft.operators.Sampling.packShards(docs, Seq("source"), "doc_id", "n_tok", 2000L)
      .select(col("source"), col("shard_id"), col("n_tok"),
        md5Hash32(concat_ws("|", col("doc_id"), md5(col("text")))).as("h"))
      .groupBy("source", "shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum(col("h").cast("decimal(38,0)")).cast("string")
          .as("content_checksum"))
      .orderBy("source", "shard_id")
  }

  val qpManifestSql: String =
    """WITH packed AS (
      |  SELECT source, doc_id, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST((SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
      |            OVER (PARTITION BY source ORDER BY doc_id
      |                  ROWS UNBOUNDED PRECEDING)
      |          - CAST(len(string_split(text, ' ')) AS BIGINT)) // 2000
      |      AS BIGINT) AS shard_id
      |  FROM documents
      |)
      |SELECT source, shard_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(CAST(SUM(('0x' || substr(md5(doc_id || '|' || md5(text)), 1, 8))::BIGINT)
      |    AS DECIMAL(38,0)) AS VARCHAR) AS content_checksum
      |FROM packed
      |GROUP BY source, shard_id
      |ORDER BY source, shard_id""".stripMargin

  /** §2.31ag — padding-waste report for batch-shape strategies: when
    * sequences batch together they pad to the bucket's maximum, and
    * wasted (padded) tokens are wasted FLOPs — this query scores three
    * standard bucketing strategies on the real length distribution:
    * pad-to-global-max (the naive collate), power-of-two length
    * buckets, and fixed 64-token-granularity buckets. Per strategy:
    * real tokens, padded slots, waste share — the table that justifies
    * (or kills) a length-bucketing stage before anyone implements it
    * in the loader. All integer arithmetic; the global max is a 1-row
    * broadcast; everything else is per-row + one rollup. */
  def qpPadding(spark: SparkSession, dir: String): DataFrame = {
    val lens = Tables.load(spark, dir, "documents")
      .select(size(tokens(col("text"))).cast("long").as("len"))
    val maxLen = lens.agg(max("len").as("max_len"))
    // Exact-integer pow2 bucket (a log2+ceil round-trip is ulp-fragile
    // at exact powers of two and could disagree across engines): the
    // smallest power of 2 >= len via a 21-branch comparison chain.
    val pow2 = (0 to 20).map(i => 1L << i)
      .foldRight(lit(1L << 20)) { (p, els) =>
        when(col("len") <= p, lit(p)).otherwise(els)
      }
    val g64 = (ceil(col("len").cast("double") / 64.0) * 64).cast("long")
    def strat(name: String, slot: Column): DataFrame =
      lens.join(broadcast(maxLen))
        .select(lit(name).as("strategy"), col("len"),
          (slot - col("len")).as("waste"), slot.as("slot"))
        .groupBy("strategy")
        .agg(count(lit(1)).as("n_docs"),
          sum("len").as("real_tokens"),
          sum("slot").as("padded_slots"),
          round(sum("waste").cast("double") / sum("slot"), 6)
            .as("waste_share"))
    strat("global_max", col("max_len"))
      .unionByName(strat("pow2_buckets", pow2))
      .unionByName(strat("granularity_64", g64))
      .orderBy("strategy")
  }

  val qpPaddingSql: String = {
    def strat(name: String, slot: String) =
      s"""SELECT '$name' AS strategy, COUNT(*) AS n_docs,
         |  CAST(SUM(len) AS BIGINT) AS real_tokens,
         |  CAST(SUM($slot) AS BIGINT) AS padded_slots,
         |  round(CAST(SUM(($slot) - len) AS DOUBLE) / SUM($slot), 6)
         |    AS waste_share
         |FROM lens, mx
         |HAVING COUNT(*) > 0""".stripMargin
    s"""WITH lens AS (
       |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len
       |  FROM documents
       |), mx AS (SELECT MAX(len) AS max_len FROM lens)
       |${strat("global_max", "max_len")}
       |UNION ALL
       |${strat("pow2_buckets",
          (0 to 20).map(i => s"WHEN len <= ${1L << i} THEN ${1L << i}")
            .mkString("CASE ", " ", s" ELSE ${1L << 20} END"))}
       |UNION ALL
       |${strat("granularity_64",
          "CAST(ceil(CAST(len AS DOUBLE) / 64.0) * 64 AS BIGINT)")}
       |ORDER BY strategy""".stripMargin
  }

  /** §2.31x — shard-packing efficiency report over [[qpPack]]'s
    * assignment: per source, shard count and the fill distribution
    * (total / min / max / mean tokens per shard) — the one-page read
    * that says whether the 2000-token capacity and the greedy running-
    * sum packing produce balanced training shards or a ragged tail
    * BEFORE a 100 TB write job materializes them. Two combinable
    * rollups over the packed frame; the oracle composes the packing
    * SQL itself, so the report can never drift from the assignment it
    * describes. */
  def qpPackStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    graft.operators.Sampling.packShards(docs, Seq("source"), "doc_id", "n_tok", 2000L)
      .groupBy("source", "shard_id")
      .agg(sum(col("n_tok")).as("__shard_tok"), count(lit(1)).as("__shard_docs"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_shards"),
        sum(col("__shard_tok")).as("total_tokens"),
        min(col("__shard_tok")).as("min_shard_tokens"),
        max(col("__shard_tok")).as("max_shard_tokens"),
        max(col("__shard_docs")).as("max_shard_docs"))
      .withColumn("mean_shard_tokens",
        round(col("total_tokens").cast("double") / col("n_shards").cast("double"), 6))
      .select("source", "n_shards", "total_tokens", "min_shard_tokens",
        "max_shard_tokens", "max_shard_docs", "mean_shard_tokens")
      .orderBy("source")
  }

  val qpPackStatsSql: String =
    s"""WITH packed AS ($qpPackSql),
       |shards AS (
       |  SELECT source, shard_id,
       |    CAST(SUM(n_tok) AS BIGINT) AS st,
       |    CAST(COUNT(*) AS BIGINT) AS sd
       |  FROM packed GROUP BY source, shard_id
       |)
       |SELECT source,
       |  COUNT(*) AS n_shards,
       |  CAST(SUM(st) AS BIGINT) AS total_tokens,
       |  MIN(st) AS min_shard_tokens,
       |  MAX(st) AS max_shard_tokens,
       |  MAX(sd) AS max_shard_docs,
       |  round(CAST(SUM(st) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS mean_shard_tokens
       |FROM shards GROUP BY source
       |ORDER BY source""".stripMargin

  /** §2.31l — C4-style boilerplate passage removal: 8-token windows
    * appearing in ≥2 documents are cut from every document, and the
    * survivors re-assemble in order. All positional bookkeeping stays
    * IN ROW ARRAYS until the final anti join: windows come from a
    * transform over the materialized token array (never re-tokenizing
    * per window — HOF lambda law), repeated-window detection is one
    * count on (passage), and coverage positions explode only for
    * window OCCURRENCES that matched a repeated passage. Re-assembly
    * is the in-row array_sort/array_join idiom (no cross-row collect
    * ordering assumptions beyond the per-doc group). */
  def qpCleanPassages(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("ts"))
    val tok = toks
      .select(col("doc_id"), posexplode_outer(col("ts")).as(Seq("pos", "token")))
      .where(col("token").isNotNull)
    // Window list is null (→ one null row via posexplode_outer, dropped
    // below) for docs under 8 tokens: a where(size>=8) would re-inline
    // the tokenization into a pushed filter (InferFiltersFromGenerate).
    val win = toks
      .select(col("doc_id"), posexplode_outer(
        when(size(col("ts")) >= 8,
          transform(sequence(lit(0), size(col("ts")) - 8),
            i => array_join(slice(col("ts"), i + 1, lit(8)), " "))))
        .as(Seq("pos", "passage")))
      .where(col("passage").isNotNull)
    val rep = win.select("doc_id", "passage").distinct()
      .groupBy("passage").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select("passage")
    val covered = win.join(rep, "passage")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 7)).as("cpos"))
      .distinct()
    val kept = tok.join(covered,
      tok("doc_id") === covered("doc_id") && col("pos") === col("cpos"),
      "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token")), " ").as("__clean"),
        count(lit(1)).as("__n_kept"))
    docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("__clean"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
      .orderBy("doc_id")
  }

  val qpCleanPassagesSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |tok AS (
      |  SELECT doc_id, s.pos AS pos, s.tok AS token
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ts)+1),
      |         i -> {'pos': i, 'tok': ts[i]})) AS s FROM toks)
      |),
      |win AS (
      |  SELECT doc_id, s.pos AS pos, s.passage AS passage
      |  FROM (SELECT doc_id, unnest(CASE WHEN len(ts) >= 8 THEN
      |          list_transform(range(1, len(ts)-6),
      |            i -> {'pos': i, 'passage': array_to_string(ts[i:i+7], ' ')})
      |        ELSE [] END) AS s FROM toks)
      |),
      |rep AS (
      |  SELECT passage FROM (SELECT DISTINCT doc_id, passage FROM win)
      |  GROUP BY passage HAVING COUNT(*) >= 2
      |),
      |cov AS (
      |  SELECT DISTINCT doc_id, unnest(range(pos, pos+8)) AS cpos
      |  FROM win JOIN rep USING (passage)
      |),
      |kept AS (
      |  SELECT t.doc_id, t.pos, t.token
      |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cpos
      |  WHERE c.cpos IS NULL
      |),
      |agg AS (
      |  SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
      |    COUNT(*) AS n_kept
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
      |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(string_split(d.text, ' ')) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** §2.31m — filter-cascade attrition report: the quality gates a
    * corpus passes through in order (token floor → language → repetition
    * → length cap), with per-stage entering / dropped / surviving
    * counts — the "where did my documents go" diagnostic every cleaning
    * pipeline publishes. ONE scan computes each document's first-failing
    * stage; everything after (stage join, cumulative window) runs on the
    * ≤ stages+1-row counts frame, so the report costs a count-agg
    * regardless of corpus size. */
  def qpAttrition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens(col("text"))
    val stages: Seq[(Long, String, org.apache.spark.sql.Column)] = Seq(
      (1L, "min_tokens", size(toks) >= 20),
      (2L, "lang_en", col("lang") === "en"),
      (3L, "repetition",
        size(array_distinct(toks)).cast("double") / size(toks) >= 0.3),
      (4L, "max_chars", col("n_chars") <= 1500))
    val failStage = stages.foldLeft(when(lit(false), 0L)) {
      case (acc, (i, _, p)) => acc.when(!p, i)
    }.otherwise(0L)
    val counts = Tables.load(spark, dir, "documents")
      .select(failStage.as("fail_stage"))
      .groupBy("fail_stage").agg(count(lit(1)).as("n"))
    // Survivors ride along as a sentinel row ordered LAST, so the full
    // total and the drops-before-stage prefix both come from windows
    // over this tiny frame — no second scan, no 1-row cross join.
    val dim = (stages.map { case (i, name, _) => (i, name) } :+
      (0L, "__pass")).toDF("stage_idx", "stage")
    val ord = when(col("stage_idx") === 0L, Long.MaxValue)
      .otherwise(col("stage_idx"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prev = Window.partitionBy(lit(1)).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, -1)
    dim.join(broadcast(counts), col("stage_idx") === col("fail_stage"), "left")
      .select(col("stage_idx"), col("stage"),
        coalesce(col("n"), lit(0L)).as("n_dropped"))
      .withColumn("n_in", sum(col("n_dropped")).over(all) -
        coalesce(sum(col("n_dropped")).over(prev), lit(0L)))
      .where(col("stage_idx") =!= 0L)
      .select(col("stage_idx"), col("stage"), col("n_in"), col("n_dropped"),
        (col("n_in") - col("n_dropped")).as("n_out"))
      .orderBy("stage_idx")
  }

  val qpAttritionSql: String =
    """WITH f AS (
      |  SELECT CASE
      |    WHEN NOT (len(string_split(text, ' ')) >= 20) THEN 1
      |    WHEN NOT (lang = 'en') THEN 2
      |    WHEN NOT (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |              / len(string_split(text, ' ')) >= 0.3) THEN 3
      |    WHEN NOT (n_chars <= 1500) THEN 4
      |    ELSE 0 END AS fail_stage
      |  FROM documents
      |), c AS (
      |  SELECT fail_stage, COUNT(*) AS n FROM f GROUP BY fail_stage
      |), s(stage_idx, stage) AS (
      |  VALUES (1, 'min_tokens'), (2, 'lang_en'), (3, 'repetition'),
      |         (4, 'max_chars'), (0, '__pass')
      |), d AS (
      |  SELECT s.stage_idx, s.stage, COALESCE(c.n, 0) AS n_dropped,
      |    CASE WHEN s.stage_idx = 0 THEN 9223372036854775807
      |         ELSE s.stage_idx END AS ord
      |  FROM s LEFT JOIN c ON c.fail_stage = s.stage_idx
      |)
      |SELECT stage_idx, stage, n_in, n_dropped, n_in - n_dropped AS n_out
      |FROM (
      |  SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
      |    CAST(n_dropped AS BIGINT) AS n_dropped,
      |    CAST(SUM(n_dropped) OVER ()
      |      - COALESCE(SUM(n_dropped) OVER (ORDER BY ord
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n_in
      |  FROM d
      |)
      |WHERE stage_idx <> 0
      |ORDER BY stage_idx""".stripMargin

  /** §2.31n — deterministic sharded corpus shuffle
    * ([[graft.operators.Sampling.shuffleShards]]): reproducible
    * training order (shard, pos) with rank windows parallel across the
    * 8 shards. */
  def qpShuffle(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.shuffleShards(
      Tables.load(spark, dir, "documents"), "doc_id", shards = 8)
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")

  val qpShuffleSql: String =
    """SELECT doc_id,
      |  ('0x' || substr(md5('shuffle:' || doc_id), 1, 8))::BIGINT % 8 AS shard,
      |  CAST(ROW_NUMBER() OVER (
      |    PARTITION BY ('0x' || substr(md5('shuffle:' || doc_id), 1, 8))::BIGINT % 8
      |    ORDER BY md5('shuffle:' || doc_id), doc_id) AS BIGINT) AS pos
      |FROM documents
      |ORDER BY shard, pos""".stripMargin

  /** §2.31w — curriculum schedule: documents scored by the corpus
    * quality formula, bucketed into quartiles (1 = cleanest, consumed
    * first), and dealt into deterministic md5 shards with a
    * reproducible within-shard order. The training loader then reads
    * shards in (bucket, rank) order — easy-to-hard curriculum with no
    * global sort: quartile thresholds are ONE exact-percentile
    * aggregate broadcast back (never an ntile over the fact table,
    * which would single-partition the corpus), and ranking windows are
    * partitioned by (bucket, shard) — each a 1/(4·shards) slice. */
  def qpCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val quality = round(lit(0.5) * least(nTok / lit(50.0), lit(1.0)) +
      lit(0.5) * (size(array_distinct(toks)).cast("double") / nTok), 6)
    val scored = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), quality.as("quality"))
    val cuts = scored.agg(
      percentile(col("quality"), lit(0.25)).as("q25"),
      percentile(col("quality"), lit(0.50)).as("q50"),
      percentile(col("quality"), lit(0.75)).as("q75"))
    val inShard = Window.partitionBy("bucket", "shard")
      .orderBy("__h", "doc_id")
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("quality") >= col("q75"), 1)
          .when(col("quality") >= col("q50"), 2)
          .when(col("quality") >= col("q25"), 3)
          .otherwise(4))
      .withColumn("__h",
        md5Hash32(concat_ws(":", lit("cur"), col("doc_id").cast("string"))))
      .withColumn("shard", col("__h") % 8)
      .withColumn("rank_in_shard", row_number().over(inShard).cast("long"))
      .select("doc_id", "quality", "bucket", "shard", "rank_in_shard")
      .orderBy("doc_id")
  }

  val qpCurriculumSql: String =
    """WITH scored AS (
      |  SELECT doc_id,
      |    round(0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0)
      |      + 0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |               / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS quality
      |  FROM documents
      |), cuts AS (
      |  SELECT quantile_cont(quality, 0.25) AS q25,
      |         quantile_cont(quality, 0.50) AS q50,
      |         quantile_cont(quality, 0.75) AS q75
      |  FROM scored
      |), b AS (
      |  SELECT doc_id, quality,
      |    CASE WHEN quality >= q75 THEN 1
      |         WHEN quality >= q50 THEN 2
      |         WHEN quality >= q25 THEN 3
      |         ELSE 4 END AS bucket,
      |    ('0x' || substr(md5('cur:' || doc_id), 1, 8))::BIGINT AS h
      |  FROM scored CROSS JOIN cuts
      |)
      |SELECT doc_id, quality, bucket, h % 8 AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY bucket, h % 8
      |    ORDER BY h, doc_id) AS BIGINT) AS rank_in_shard
      |FROM b ORDER BY doc_id""".stripMargin

  /** §2.31o — token-budget accounting per source: document count,
    * exact whitespace-token totals, corpus share, and the cumulative
    * coverage share when sources are taken biggest-first — the table
    * behind "the top k sources are n% of the training budget" mix
    * decisions. Per-doc token counts combine map-side into one row per
    * source; the share/cumulative windows run over the tiny source
    * frame. Counts are exact integers, so shares divide exactly the
    * same in both engines. */
  def qpTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val bySize = Window.orderBy(col("n_tokens").desc, col("source"))
    val total = Window.partitionBy()
    Tables.load(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).as("__t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"))
      .select(col("source"), col("n_docs"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        round(col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(total), 6).as("share"),
        round(sum(col("n_tokens")).over(bySize).cast("double") /
          sum(col("n_tokens")).over(total), 6).as("cumulative_share"))
      .orderBy(col("n_tokens").desc, col("source"))
  }

  val qpTokenBudgetSql: String =
    """WITH s AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |)
      |SELECT source, n_docs, n_tokens,
      |  round(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) AS share,
      |  round(CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |    / SUM(n_tokens) OVER (), 6) AS cumulative_share
      |FROM s
      |ORDER BY n_tokens DESC, source""".stripMargin

  /** §2.31p — dataset card: the one-frame "datasheet" a corpus release
    * ships with — sizes, composition, duplication, and concentration
    * in a tall (metric, value) layout dashboards and diffs consume
    * directly. Everything reduces in ONE combinable aggregation pass
    * plus a per-source count for the concentration metric; the 1×1
    * cross of the two single-row frames is a broadcast no-op. Counts
    * are exact integers, so every reported ratio divides identically
    * in both engines. */
  def qpDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.agg(
      count(lit(1)).as("__docs"),
      count_distinct(col("source")).as("__sources"),
      count_distinct(col("lang")).as("__langs"),
      sum(size(split(col("text"), " "))).as("__tokens"),
      count_distinct(md5(col("text"))).as("__uniq"))
    val top = docs.groupBy("source").agg(count(lit(1)).as("__c"))
      .agg(max(col("__c")).as("__topsrc"))
    base.crossJoin(broadcast(top))
      .selectExpr(
        """stack(7,
          |  'n_docs', CAST(__docs AS DOUBLE),
          |  'n_sources', CAST(__sources AS DOUBLE),
          |  'n_langs', CAST(__langs AS DOUBLE),
          |  'n_tokens_total', CAST(__tokens AS DOUBLE),
          |  'avg_doc_tokens', round(CAST(__tokens AS DOUBLE) / __docs, 6),
          |  'exact_dup_ratio', round(1.0 - CAST(__uniq AS DOUBLE) / __docs, 6),
          |  'top_source_share', round(CAST(__topsrc AS DOUBLE) / __docs, 6)
          |) AS (metric, value)""".stripMargin)
      .orderBy("metric")
  }

  val qpDatasetCardSql: String =
    """WITH base AS (
      |  SELECT COUNT(*) AS docs,
      |    COUNT(DISTINCT source) AS sources,
      |    COUNT(DISTINCT lang) AS langs,
      |    SUM(len(string_split(text, ' '))) AS tokens,
      |    COUNT(DISTINCT md5(text)) AS uniq
      |  FROM documents
      |), top AS (
      |  SELECT MAX(c) AS topsrc FROM (
      |    SELECT COUNT(*) AS c FROM documents GROUP BY source)
      |)
      |SELECT metric, value FROM (
      |  SELECT 'n_docs' AS metric, CAST(docs AS DOUBLE) AS value
      |    FROM base, top
      |  UNION ALL SELECT 'n_sources', CAST(sources AS DOUBLE) FROM base, top
      |  UNION ALL SELECT 'n_langs', CAST(langs AS DOUBLE) FROM base, top
      |  UNION ALL SELECT 'n_tokens_total', CAST(tokens AS DOUBLE)
      |    FROM base, top
      |  UNION ALL SELECT 'avg_doc_tokens',
      |    round(CAST(tokens AS DOUBLE) / docs, 6) FROM base, top
      |  UNION ALL SELECT 'exact_dup_ratio',
      |    round(1.0 - CAST(uniq AS DOUBLE) / docs, 6) FROM base, top
      |  UNION ALL SELECT 'top_source_share',
      |    round(CAST(topsrc AS DOUBLE) / docs, 6) FROM base, top
      |)
      |ORDER BY metric""".stripMargin

  /** §2.31q — dedup savings per source: how many documents AND tokens
    * exact dedup removes from each source's budget (a duplicate whose
    * canonical lives in another source still counts against the source
    * holding the copy). The number that justifies running dedup at
    * all: tokens_dup / tokens_total is compute saved per epoch. One
    * min-over-content-hash window elects the same canonical as
    * qd_exact; the per-source rollup is a second combinable
    * aggregation. */
  def qpDedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("__h")
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).as("__t"), md5(col("text")).as("__h"))
      .withColumn("__canon", min(col("doc_id")).over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("__canon"), 1L).otherwise(0L))
          .as("n_dup_docs"),
        sum(col("__t")).as("__tok"),
        sum(when(col("doc_id") =!= col("__canon"), col("__t"))
          .otherwise(0L)).as("__tok_dup"))
      .select(col("source"), col("n_docs"),
        col("n_dup_docs").cast("bigint").as("n_dup_docs"),
        col("__tok").cast("bigint").as("tokens_total"),
        col("__tok_dup").cast("bigint").as("tokens_dup"),
        round(col("__tok_dup").cast("double") / col("__tok"), 6)
          .as("savings_ratio"))
      .orderBy("source")
  }

  val qpDedupSavingsSql: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    len(string_split(text, ' ')) AS t,
      |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
      |  FROM documents
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id <> canon THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_docs,
      |  CAST(SUM(t) AS BIGINT) AS tokens_total,
      |  CAST(SUM(CASE WHEN doc_id <> canon THEN t ELSE 0 END) AS BIGINT)
      |    AS tokens_dup,
      |  round(CAST(SUM(CASE WHEN doc_id <> canon THEN t ELSE 0 END)
      |    AS DOUBLE) / SUM(t), 6) AS savings_ratio
      |FROM d GROUP BY source
      |ORDER BY source""".stripMargin

  /** §2.31r — temperature-scaled source mixing weights: wᵢ ∝ pᵢ^α
    * (α = 0.7), the standard up-weighting of small sources when
    * compositing a multilingual/multi-domain training corpus (raw
    * proportional sampling starves tail sources; uniform over-trains
    * them). Reports per source the raw token share, the temperature
    * mix weight, and the effective epochs (> 1 for small sources = how
    * often their data repeats per pass over the mixture). Scale shape:
    * one combinable rollup collapses the corpus to the |sources| frame;
    * the normalizer Σpᵢ^α and total run as windows over that tiny
    * frame, with the float p^α terms DECIMAL-cast before summation so
    * the normalizer's accumulation order cannot move the 6-dp result
    * (Portable rule 2). */
  def qpTemperature(spark: SparkSession, dir: String): DataFrame = {
    val total = Window.partitionBy()
    val alpha = 0.7
    val s = Tables.load(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).as("__t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).cast("bigint").as("n_tokens"))
    s.select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(total).cast("double")).as("__p"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("__p"),
        pow(col("__p"), lit(alpha)).as("__pa"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("__p"), 6).as("share"),
        round((col("__pa") /
          sum(col("__pa").cast("decimal(38,12)")).over(total).cast("double"))
          , 6).as("mix_weight"),
        round((col("__pa") /
          sum(col("__pa").cast("decimal(38,12)")).over(total).cast("double"))
          / col("__p"), 6).as("effective_epochs"))
      .orderBy("source")
  }

  val qpTemperatureSql: String =
    """WITH s AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), p AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS p
      |  FROM s
      |), a AS (
      |  SELECT source, n_docs, n_tokens, p, pow(p, 0.7) AS pa FROM p
      |)
      |SELECT source, n_docs, n_tokens, round(p, 6) AS share,
      |  round(pa / CAST(SUM(CAST(pa AS DECIMAL(38,12))) OVER () AS DOUBLE), 6)
      |    AS mix_weight,
      |  round(pa / CAST(SUM(CAST(pa AS DECIMAL(38,12))) OVER () AS DOUBLE) / p, 6)
      |    AS effective_epochs
      |FROM a
      |ORDER BY source""".stripMargin

  /** §2.31s — release-over-release corpus diff: per-source doc/token
    * counts and exact-dup counts for two corpus snapshots side by
    * side, with absolute and relative deltas — the "what changed in
    * this data release" review gate (a source that silently lost 40%
    * of its tokens or doubled its dup rate fails review before any
    * training run pays for it). Snapshots here are the deterministic
    * md5 halves (the qc_drift fixture pattern); in production the two
    * sides are two release manifests. ONE conditional-sum scan per
    * side-taggable metric — no join of two aggregated frames, no
    * second pass; deltas are exact integer arithmetic, the single
    * relative delta guards its zero denominator. */
  def qpReleaseDiff(spark: SparkSession, dir: String): DataFrame = {
    val inA = md5Bucket("rel", col("doc_id"), 2) === 0
    def side(flag: Column, c: Column) = sum(when(flag, c).otherwise(0L))
    val toks = size(split(col("text"), " ")).cast("long")
    Tables.load(spark, dir, "documents")
      .select(col("source"), inA.as("__a"), toks.as("__t"), md5(col("text")).as("__h"))
      .groupBy("source")
      .agg(
        side(col("__a"), lit(1L)).as("n_docs_a"),
        side(!col("__a"), lit(1L)).as("n_docs_b"),
        side(col("__a"), col("__t")).as("n_tokens_a"),
        side(!col("__a"), col("__t")).as("n_tokens_b"),
        (side(col("__a"), lit(1L)) -
          size(collect_set(when(col("__a"), col("__h"))))).as("n_dups_a"),
        (side(!col("__a"), lit(1L)) -
          size(collect_set(when(!col("__a"), col("__h"))))).as("n_dups_b"))
      .select(col("source"),
        col("n_docs_a"), col("n_docs_b"),
        (col("n_docs_b") - col("n_docs_a")).as("delta_docs"),
        col("n_tokens_a"), col("n_tokens_b"),
        (col("n_tokens_b") - col("n_tokens_a")).as("delta_tokens"),
        when(col("n_tokens_a") === 0, lit(null))
          .otherwise(round((col("n_tokens_b") - col("n_tokens_a"))
            .cast("double") / col("n_tokens_a").cast("double"), 6))
          .as("pct_tokens_change"),
        col("n_dups_a").cast("bigint").as("n_dups_a"),
        col("n_dups_b").cast("bigint").as("n_dups_b"))
      .orderBy("source")
  }

  val qpReleaseDiffSql: String =
    """WITH t AS (
      |  SELECT source,
      |    ('0x' || substr(md5('rel:' || doc_id), 1, 8))::BIGINT % 2 = 0 AS a,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |    md5(text) AS h
      |  FROM documents
      |)
      |SELECT source,
      |  CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_a,
      |  CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_docs_b,
      |  CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END)
      |    - SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS delta_docs,
      |  CAST(SUM(CASE WHEN a THEN tok ELSE 0 END) AS BIGINT) AS n_tokens_a,
      |  CAST(SUM(CASE WHEN a THEN 0 ELSE tok END) AS BIGINT) AS n_tokens_b,
      |  CAST(SUM(CASE WHEN a THEN 0 ELSE tok END)
      |    - SUM(CASE WHEN a THEN tok ELSE 0 END) AS BIGINT) AS delta_tokens,
      |  CASE WHEN SUM(CASE WHEN a THEN tok ELSE 0 END) = 0 THEN NULL
      |    ELSE round(CAST(SUM(CASE WHEN a THEN 0 ELSE tok END)
      |        - SUM(CASE WHEN a THEN tok ELSE 0 END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN a THEN tok ELSE 0 END) AS DOUBLE), 6)
      |  END AS pct_tokens_change,
      |  CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END)
      |    - COUNT(DISTINCT CASE WHEN a THEN h END) AS BIGINT) AS n_dups_a,
      |  CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END)
      |    - COUNT(DISTINCT CASE WHEN NOT a THEN h END) AS BIGINT) AS n_dups_b
      |FROM t
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** §2.31t — quality-proportional downsampling: each document's keep
    * probability IS its (clamped) quality score — the soft alternative
    * to a hard quality cutoff, standard when a classifier score should
    * BIAS the mix rather than gate it (low-quality text keeps a
    * floor presence instead of vanishing). Deterministic per row:
    * seeded md5 bucket vs floor(weight·1000), no RNG, reproducible
    * across runs and engines (explicit floor — double→long casts
    * truncate in Spark but ROUND in DuckDB, so the cast must never see
    * a fractional value). Report per source: volumes, realized keep
    * rate, and mean quality of the kept vs all docs (decimal-cast
    * sums). One scan, one rollup; the quality formula is row-local. */
  def qpQualitySample(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val stopRatio = size(filter(toks,
      t => t.isin(TextQueries.stopwords.map(w => w: Any): _*)))
      .cast("double") / nTok
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val q = lit(0.3) * lenScore + lit(0.4) * distinctRatio +
      lit(0.3) * (lit(1.0) - stopRatio)
    val weight = greatest(least(q, lit(1.0)), lit(0.1))
    val kept = md5Bucket("qsamp", col("doc_id"), 1000) <
      floor(weight * 1000).cast("long")
    def dsum(c: Column) = sum(c.cast("decimal(38,12)")).cast("double")
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), q.as("__q"), kept.as("__keep"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        round(sum(when(col("__keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("keep_rate"),
        round(dsum(col("__q")) / count(lit(1)), 6).as("avg_quality"),
        when(sum(when(col("__keep"), 1L).otherwise(0L)) === 0, lit(null))
          .otherwise(round(dsum(when(col("__keep"), col("__q")).otherwise(0.0)) /
            sum(when(col("__keep"), 1L).otherwise(0L)), 6))
          .as("avg_quality_kept"))
      .orderBy("source")
  }

  val qpQualitySampleSql: String = {
    val stop = TextQueries.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT source, doc_id,
       |    0.3 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0)
       |      + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |               / CAST(len(string_split(text, ' ')) AS DOUBLE))
       |      + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
       |                 t -> t IN ($stop))) AS DOUBLE)
       |               / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS q
       |  FROM documents
       |), tagged AS (
       |  SELECT source, q,
       |    ('0x' || substr(md5('qsamp:' || doc_id), 1, 8))::BIGINT % 1000
       |      < CAST(floor(greatest(least(q, 1.0), 0.1) * 1000) AS BIGINT)
       |      AS keep
       |  FROM scored
       |)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  round(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate,
       |  round(CAST(SUM(CAST(q AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
       |    AS avg_quality,
       |  CASE WHEN SUM(CASE WHEN keep THEN 1 ELSE 0 END) = 0 THEN NULL
       |    ELSE round(CAST(SUM(CAST(CASE WHEN keep THEN q ELSE 0.0 END
       |        AS DECIMAL(38,12))) AS DOUBLE)
       |      / SUM(CASE WHEN keep THEN 1 ELSE 0 END), 6)
       |  END AS avg_quality_kept
       |FROM tagged
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** §2.31u — weighted reservoir sample of EXACT size k per source
    * (Efraimidis–Spirakis A-ES): each row draws a deterministic
    * md5-uniform u ∈ (0,1) and ranks by key = ln(u)/w — the top-k by
    * key is a weight-proportional without-replacement sample.
    * Complements 31t's Bernoulli form: that biases the mix but the
    * sample SIZE is random; this guarantees exactly k per stratum
    * (the "give me 10k docs per source, quality-weighted" request).
    * One scan, one per-source top-k window over row-local expressions
    * — at 100 TB the window can swap to the salted two-phase top-k of
    * qp_sample unchanged, since the key is row-local. u offsets by
    * +0.5/10⁶ so ln never sees 0; w clamps to [0.1, 1] so low-quality
    * rows keep a floor chance, same clamp as 31t. */
  def qpReservoir(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val stopRatio = size(filter(toks,
      t => t.isin(TextQueries.stopwords.map(w => w: Any): _*)))
      .cast("double") / nTok
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    val q = lit(0.3) * least(nTok / lit(50.0), lit(1.0)) +
      lit(0.4) * distinctRatio +
      lit(0.3) * (lit(1.0) - stopRatio)
    val w = greatest(least(q, lit(1.0)), lit(0.1))
    val u = (md5Bucket("res", col("doc_id"), 1000000).cast("double") + 0.5) /
      lit(1000000.0)
    val win = Window.partitionBy("source")
      .orderBy(col("__key").desc, col("doc_id"))
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), w.as("__w"),
        (log(u) / w).as("__key"))
      .withColumn("rank", row_number().over(win))
      .where(col("rank") <= 5)
      .select(col("source"), col("doc_id"), round(col("__w"), 6).as("weight"),
        col("rank"))
      .orderBy("source", "rank")
  }

  val qpReservoirSql: String = {
    val stop = TextQueries.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT source, doc_id,
       |    greatest(least(
       |      0.3 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0)
       |      + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |               / CAST(len(string_split(text, ' ')) AS DOUBLE))
       |      + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
       |                 t -> t IN ($stop))) AS DOUBLE)
       |               / CAST(len(string_split(text, ' ')) AS DOUBLE)), 1.0), 0.1)
       |      AS w,
       |    (CAST(('0x' || substr(md5('res:' || doc_id), 1, 8))::BIGINT % 1000000
       |       AS DOUBLE) + 0.5) / 1000000.0 AS u
       |  FROM documents
       |), keyed AS (
       |  SELECT source, doc_id, w,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY ln(u) / w DESC, doc_id) AS rank
       |  FROM scored
       |)
       |SELECT source, doc_id, round(w, 6) AS weight, rank
       |FROM keyed
       |WHERE rank <= 5
       |ORDER BY source, rank""".stripMargin
  }

  /** §2.31v — waterfilling token-budget allocation across sources: find
    * the cap c with Σ min(avail_s, c) = budget and give every source
    * min(avail_s, c) — the max-min-fair mix that upweights small
    * sources and caps dominant ones (the standard answer to "crawl
    * dwarfs books 1000:1, budget is B tokens, don't let the mix be 99%
    * crawl"). Closed form, no iteration: sources sort by avail
    * ascending; a source is fully kept iff its avail ≤ the remaining
    * budget split evenly over the remaining slots (integer-exact
    * compare: avail·slots ≤ remaining), and the cap is determined by
    * the last fully-kept prefix. The fact table collapses to one row
    * per source in a single combinable pass; every window after runs
    * on the ≤|sources| frame. Budget = 60% of total tokens (integer
    * floor). */
  def qpWaterfill(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("avail_tokens"))
    val all = Window.partitionBy()
    val asc = Window.partitionBy().orderBy("avail_tokens", "source")
    val upto = asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perSource
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__budget", floor(sum(col("avail_tokens")).over(all) * 0.6))
      .withColumn("__rn", row_number().over(asc))
      .withColumn("__prefix", sum(col("avail_tokens")).over(upto))
      .withColumn("__remaining",
        col("__budget") - (col("__prefix") - col("avail_tokens")))
      .withColumn("__full",
        col("avail_tokens") * (col("__n") - col("__rn") + 1) <= col("__remaining"))
      .withColumn("__j", max(when(col("__full"), col("__rn"))).over(all))
      .withColumn("__prefix_j", max(when(col("__full"), col("__prefix"))).over(all))
      .withColumn("__cap",
        (col("__budget") - coalesce(col("__prefix_j"), lit(0L))).cast("double") /
          (col("__n") - coalesce(col("__j"), lit(0L))))
      .select(col("source"), col("avail_tokens"),
        round(when(col("__full"), col("avail_tokens").cast("double"))
          .otherwise(col("__cap")), 2).as("allocated_tokens"),
        round(when(col("__full"), lit(1.0))
          .otherwise(col("__cap") / col("avail_tokens")), 6).as("keep_fraction"))
      .orderBy("source")
  }

  val qpWaterfillSql: String =
    """WITH per_source AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
      |  FROM documents GROUP BY source
      |), ranked AS (
      |  SELECT source, avail_tokens,
      |    COUNT(*) OVER () AS n,
      |    CAST(floor(SUM(avail_tokens) OVER () * 0.6) AS BIGINT) AS budget,
      |    ROW_NUMBER() OVER (ORDER BY avail_tokens, source) AS rn,
      |    SUM(avail_tokens) OVER (ORDER BY avail_tokens, source
      |      ROWS UNBOUNDED PRECEDING) AS prefix
      |  FROM per_source
      |), flagged AS (
      |  SELECT *, budget - (prefix - avail_tokens) AS remaining,
      |    avail_tokens * (n - rn + 1) <= budget - (prefix - avail_tokens)
      |      AS is_full
      |  FROM ranked
      |), capped AS (
      |  SELECT *,
      |    MAX(CASE WHEN is_full THEN rn END) OVER () AS j,
      |    MAX(CASE WHEN is_full THEN prefix END) OVER () AS prefix_j
      |  FROM flagged
      |)
      |SELECT source, avail_tokens,
      |  round(CASE WHEN is_full THEN CAST(avail_tokens AS DOUBLE)
      |    ELSE CAST(budget - COALESCE(prefix_j, 0) AS DOUBLE)
      |      / (n - COALESCE(j, 0)) END, 2) AS allocated_tokens,
      |  round(CASE WHEN is_full THEN 1.0
      |    ELSE (CAST(budget - COALESCE(prefix_j, 0) AS DOUBLE)
      |      / (n - COALESCE(j, 0))) / avail_tokens END, 6) AS keep_fraction
      |FROM capped
      |ORDER BY source""".stripMargin

  /** §2.31ak — data-constrained epoch schedule (Muennighoff et al.
    * 2023, "Scaling Data-Constrained Language Models"): given a token
    * budget of 2× the corpus and temperature-0.5 mixing weights
    * (wₛ ∝ √pₛ — 31r's formula), how many EPOCHS each source must
    * repeat to fill its share, and what those repeated tokens are
    * worth — effective tokens D' = U + U·R*·(1 − e^(−R_D/R*)) with
    * R* = 15.39 (repetitions decay in value; ~4 epochs ≈ fresh data,
    * 40 epochs ≈ worthless), U = min(avail, need), R_D = excess
    * epochs. The governance sheet for "can this mix be trained
    * without data exhaustion". One combinable token aggregate per
    * source; every window after runs on the ≤|sources| frame. The
    * √p weight normalizer sums DECIMAL(18,9)-quantized terms so the
    * denominator is order-independent; epochs/effective are IEEE
    * arithmetic on engine-identical doubles, rounded at 6. */
  def qpEpochs(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy()
    val per = Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("avail_tokens"))
      .withColumn("__total", sum(col("avail_tokens")).over(all))
      .withColumn("__sq",
        sqrt(col("avail_tokens").cast("double") / col("__total")))
      .withColumn("__z",
        sum(round(col("__sq"), 9).cast("decimal(18,9)")).over(all)
          .cast("double"))
    val w = col("__sq") / col("__z")
    val need = w * lit(2.0) * col("__total").cast("double")
    val epochs = need / col("avail_tokens").cast("double")
    val u = least(col("avail_tokens").cast("double"), need)
    val rd = greatest(lit(0.0), epochs - lit(1.0))
    val rstar = lit(15.39)
    val eff = u + u * rstar * (lit(1.0) - exp(-rd / rstar))
    per.select(col("source"), col("avail_tokens"),
        round(w, 6).as("weight"),
        round(need, 2).as("need_tokens"),
        round(epochs, 6).as("epochs"),
        round(eff, 2).as("effective_tokens"),
        round(eff / need, 6).as("efficiency"))
      .orderBy(desc("avail_tokens"), col("source"))
  }

  val qpEpochsSql: String =
    """WITH per AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
      |  FROM documents GROUP BY source
      |), wts AS (
      |  SELECT source, avail_tokens,
      |    SUM(avail_tokens) OVER () AS total,
      |    sqrt(CAST(avail_tokens AS DOUBLE) / SUM(avail_tokens) OVER ())
      |      AS sq
      |  FROM per
      |), nrm AS (
      |  SELECT *, CAST(SUM(CAST(round(sq, 9) AS DECIMAL(18,9))) OVER ()
      |    AS DOUBLE) AS z
      |  FROM wts
      |), calc AS (
      |  SELECT source, avail_tokens, sq / z AS w,
      |    (sq / z) * 2e0 * CAST(total AS DOUBLE) AS need,
      |    ((sq / z) * 2e0 * CAST(total AS DOUBLE))
      |      / CAST(avail_tokens AS DOUBLE) AS epochs,
      |    least(CAST(avail_tokens AS DOUBLE),
      |      (sq / z) * 2e0 * CAST(total AS DOUBLE)) AS u
      |  FROM nrm
      |), eff AS (
      |  SELECT *, u + u * 15.39e0 *
      |    (1e0 - exp(-greatest(0e0, epochs - 1e0) / 15.39e0)) AS d_eff
      |  FROM calc
      |)
      |SELECT source, avail_tokens, round(w, 6) AS weight,
      |  round(need, 2) AS need_tokens, round(epochs, 6) AS epochs,
      |  round(d_eff, 2) AS effective_tokens,
      |  round(d_eff / need, 6) AS efficiency
      |FROM eff
      |ORDER BY avail_tokens DESC, source""".stripMargin

  /** §2.31al — LEAKAGE-SAFE train/valid/test split: assignment is
    * keyed on the document's dedup CANONICAL (the [[DedupQueries
    * .qdManifest]] component — exact dups and near-dups resolve to
    * one cluster id), so a near-duplicate pair can NEVER straddle
    * train and test — the contamination path a naive per-doc split
    * ([[TextQueries.qtSplit]], the deliberate foil) leaves wide open
    * and that benchmark-leakage postmortems repeatedly trace to
    * "train doc was a near-dup of an eval doc". 80/10/10 by md5 coin
    * on the canonical id; reported per (split, source) with doc /
    * cluster / exact token counts, plus the straddle audit column —
    * clusters spanning >1 split — which is ZERO BY CONSTRUCTION and
    * recomputed from the output rather than assumed (a nonzero value
    * means the canonical derivation itself broke). Scale shape: the
    * manifest's key-keyed joins, one md5 per cluster, one combinable
    * rollup; the audit is a per-cluster distinct-count re-aggregate
    * of the collapsed frame and a 1-row broadcast. */
  def qpSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val b = md5Bucket("csplit", col("canonical_id"), 100)
    // Materialized: the straddle audit AND the per-split rollup both
    // consume this frame, and it embeds the whole dedup-manifest
    // pipeline — without the checkpoint the manifest (minus its
    // internally checkpointed LSH edges) evaluates twice.
    val assigned = graft.operators.Materialize.once(
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("__t"))
        // manifestUnsorted (r14): the manifest's global sort is wasted
        // inside this join+rollup consumer — dropping it removes a
        // range exchange and its bound-sampling pass from this query.
        .join(DedupQueries.manifestUnsorted(spark, dir)
          .select("doc_id", "canonical_id"), Seq("doc_id"))
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "valid").otherwise("test")))
    val straddle = assigned.groupBy("canonical_id")
      .agg(countDistinct(col("split")).as("__ns"))
      .agg(sum(when(col("__ns") > 1, 1L).otherwise(0L))
        .as("straddle_clusters"))
    assigned.groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canonical_id")).as("n_clusters"),
        sum(col("__t")).as("n_tokens"))
      .crossJoin(broadcast(straddle))
      .orderBy("split", "source")
  }

  val qpSplitSql: String =
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
      |), man AS (
      |  SELECT ex.doc_id, c.component_id AS canonical_id
      |  FROM ex JOIN comp c ON c.doc_id = ex.exc
      |), assigned AS (
      |  SELECT d.doc_id, d.source,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS t,
      |    m.canonical_id,
      |    CASE WHEN ('0x' || substr(md5('csplit:' || m.canonical_id),
      |        1, 8))::BIGINT % 100 < 80 THEN 'train'
      |      WHEN ('0x' || substr(md5('csplit:' || m.canonical_id),
      |        1, 8))::BIGINT % 100 < 90 THEN 'valid'
      |      ELSE 'test' END AS split
      |  FROM documents d JOIN man m ON d.doc_id = m.doc_id
      |), straddle AS (
      |  SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS straddle_clusters
      |  FROM (SELECT canonical_id, COUNT(DISTINCT split) AS ns
      |        FROM assigned GROUP BY 1)
      |)
      |SELECT split, source, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT canonical_id) AS BIGINT) AS n_clusters,
      |  CAST(SUM(t) AS BIGINT) AS n_tokens,
      |  (SELECT straddle_clusters FROM straddle) AS straddle_clusters
      |FROM assigned
      |GROUP BY split, source
      |ORDER BY split, source""".stripMargin

  /** §2.31x — SCD2 (slowly-changing-dimension type 2) build: the
    * versioned dimension table a warehouse derives from a mutable
    * attribute's change history. Each customer's order-priority stream
    * (ordered by order date, key-tiebroken) collapses to one row per
    * VALUE CHANGE, carrying [valid_from, valid_to) effectivity bounds
    * (valid_to = next change's start, NULL = current version) and a
    * per-key version number. Two windows over the SAME (custkey)
    * partitioning — Catalyst reuses the one shuffle/sort; frames are
    * per-key order histories, never the table — so the build
    * partitions cleanly at any scale. */
  def qpScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority"), col("o_orderdate"),
        col("o_orderkey"))
      .withColumn("prev", lag("o_orderpriority", 1).over(w))
      .where(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      .withColumn("version", row_number().over(w).cast("bigint"))
      .withColumn("valid_to", lead("o_orderdate", 1).over(w))
      .select(col("o_custkey").as("custkey"), col("version"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("custkey", "version")
  }

  val qpScd2Sql: String =
    """WITH ordered AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
      |    LAG(o_orderpriority) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders
      |), changes AS (
      |  SELECT * FROM ordered
      |  WHERE prev IS NULL OR prev <> o_orderpriority
      |)
      |SELECT o_custkey AS custkey,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
      |  o_orderpriority AS priority,
      |  o_orderdate AS valid_from,
      |  LEAD(o_orderdate) OVER w AS valid_to,
      |  (LEAD(o_orderdate) OVER w IS NULL) AS is_current
      |FROM changes
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY custkey, version""".stripMargin

  /** §2.31ah — SCD2 as-of snapshot read, the query face of 31x's
    * history build: reconstruct each key's single valid row at a point
    * in time T (valid_from ≤ T < valid_to, open intervals current) —
    * "what did the dimension look like when that training run
    * started", the reproducibility read every SCD2 table exists for.
    * T here is the calendar midpoint (broadcast 1-row scalar,
    * allowlisted pattern); the filter is a scan predicate over the
    * history frame — no extra shuffle beyond 31x's build. */
  def qpScd2Asof(spark: SparkSession, dir: String): DataFrame = {
    val asof = Tables.load(spark, dir, "orders")
      .agg(to_date(min(col("o_orderdate"))).as("d0"),
        to_date(max(col("o_orderdate"))).as("d1"))
      .select(date_add(col("d0"),
        (datediff(col("d1"), col("d0")) / 2).cast("int"))
        .cast("timestamp").as("asof_ts"))
    qpScd2(spark, dir).crossJoin(broadcast(asof))
      .where(col("valid_from") <= col("asof_ts") &&
        (col("valid_to").isNull || col("valid_to") > col("asof_ts")))
      .select(col("custkey"), col("version"), col("priority"),
        col("valid_from"))
      .orderBy("custkey")
  }

  val qpScd2AsofSql: String =
    s"""WITH scd AS (${"\n"}${qpScd2Sql.stripSuffix("\nORDER BY custkey, version")}
       |), cut AS (
       |  SELECT CAST(CAST(MIN(o_orderdate) AS DATE) +
       |    CAST((date_diff('day', CAST(MIN(o_orderdate) AS DATE),
       |      CAST(MAX(o_orderdate) AS DATE)) // 2) AS INTEGER)
       |    AS TIMESTAMP) AS asof_ts
       |  FROM orders
       |)
       |SELECT custkey, version, priority, valid_from
       |FROM scd, cut
       |WHERE valid_from <= asof_ts AND (valid_to IS NULL OR valid_to > asof_ts)
       |ORDER BY custkey""".stripMargin

  /** §2.31ai — soft-dedup training weights: instead of DROPPING
    * near-duplicates, every document keeps weight 1/|its near-dup
    * cluster| (singletons weigh 1) — the loss-weighting alternative to
    * hard dedup: cluster mass totals 1, so over-crawled content stops
    * dominating the gradient while no document is lost (the
    * soft-dedup option the dedup-savings accounting (31o) prices).
    * Composes the shared component assignment (25b's connected
    * components over the inverted-index jaccard graph) with one
    * component-size rollup and a broadcast-size join back — no new
    * pair work. */
  def qpWeights(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val docs = Tables.load(spark, dir, "documents")
    val edges = Dedup.jaccardNeighbors(docs, "text", "doc_id", 3, "source", 0.5)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(docs.select("doc_id"), edges)
    val sizes = comps.groupBy("component_id")
      .agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, "component_id")
      .select(col("doc_id"), col("component_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
      .orderBy("doc_id")
  }

  val qpWeightsSql: String = {
    val comps = DedupQueries.qdComponentsSql
      .stripSuffix("\nORDER BY doc_id")
    s"""WITH comps AS (
       |$comps
       |), sizes AS (
       |  SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM comps GROUP BY component_id
       |)
       |SELECT c.doc_id, c.component_id, s.cluster_size,
       |  round(1.0e0 / s.cluster_size, 6) AS weight
       |FROM comps c JOIN sizes s USING (component_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** §2.31aa — data selection via importance resampling (DSIR, Xie et
    * al. 2023, arXiv:2302.03169): score every raw-pool document by how
    * target-domain-like its hashed n-gram distribution is. Features are
    * md5-hashed unigram buckets (B = 256); the target (sources src0 +
    * src1 here) and raw pools each yield add-1-smoothed bucket
    * probabilities, and a document's importance weight is
    * Σ_tokens log(p_target(b)/p_raw(b)) — the top-weighted raw docs are
    * the ones to promote into a target-domain mix. Scale shape: the
    * 100 TB raw side sees one token explode, a BROADCAST join against
    * the 256-row log-ratio table, and a per-doc sum — the only
    * shuffle is the per-doc aggregation; the model itself (two
    * 256-bucket count frames) is collapsed map-side. Per-token
    * log-ratios round to DECIMAL(18,9) before summing, so doc weights
    * are accumulation-order-exact. Top-3 per source reported. */
  private val DsirB = 256

  /** Shared DSIR feature stage: every token hashed into one of
    * [[DsirB]] buckets, rows flagged target (src0+src1) vs raw. */
  private def dsirTokenized(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        explode(tokens(col("text"))).as("tok"))
      .withColumn("bucket", md5Hash32(col("tok")) % DsirB)
      .withColumn("is_target", col("source").isin("src0", "src1"))

  /** [[dsirTokenized]] collapsed to per-(doc, bucket) token counts and
    * materialized ONCE (r14): the model counts, the per-doc weights
    * and the eval's selected-pool recount all fold linearly over
    * bucket counts (Σ_tokens lam(b) = Σ_buckets cnt·lam — exact
    * decimal arithmetic either way), so every consumer now reads this
    * ≤ 256-rows-per-doc frame instead of re-running the token explode
    * + md5 pass (the r14 stage profile measured qp_dsir_eval running
    * that pass 4× — ~11 s + 3×7-8 s of task time per query run). The
    * map-side partial aggregation also collapses the token stream
    * before its one exchange — the same rollup a 100 TB run needs. */
  private def dsirBucketCounts(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Materialize.once(
      dsirTokenized(spark, dir)
        .groupBy("source", "doc_id", "is_target", "bucket")
        .agg(count(lit(1)).as("cnt")))

  /** Shared DSIR bucket model over [[dsirBucketCounts]]'s frame:
    * (bucket, p_t, p_r, lam) for all 256 buckets, add-1 smoothed.
    * qp_dsir and qp_dsir_eval MUST share this by construction — the
    * eval judges the selection the weights produce, so a smoothing or
    * B change applied to one but not the other would silently skew
    * the verdict. Same discipline as the paired SQL prefix below. */
  private def dsirModel(spark: SparkSession, bucketCounts: DataFrame): DataFrame = {
    val B = DsirB
    val counts = bucketCounts.groupBy("bucket")
      .agg(sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("c_t"),
        sum(when(col("is_target"), 0L).otherwise(col("cnt"))).as("c_r"))
    val totals = counts.agg(sum("c_t").as("tt"), sum("c_r").as("tr"))
    val spine = spark.range(B).select(col("id").as("bucket"))
    spine.join(counts, Seq("bucket"), "left")
      .join(broadcast(totals))
      .select(col("bucket"),
        ((coalesce(col("c_t"), lit(0L)) + lit(1)).cast("double") /
          (col("tt") + lit(B)).cast("double")).as("p_t"),
        ((coalesce(col("c_r"), lit(0L)) + lit(1)).cast("double") /
          (col("tr") + lit(B)).cast("double")).as("p_r"))
      .withColumn("lam",
        round(log(col("p_t") / col("p_r")), 9).cast("decimal(18,9)"))
  }

  def qpDsir(spark: SparkSession, dir: String): DataFrame = {
    val bc = dsirBucketCounts(spark, dir)
    val lam = dsirModel(spark, bc).select("bucket", "lam")
    val w = Window.partitionBy("source")
      .orderBy(col("weight_dec").desc, col("doc_id"))
    // Σ_tokens lam = Σ_buckets cnt·lam: decimal × integer count is
    // exact, so weight_dec is bit-identical to the per-token sum. The
    // count casts to DECIMAL(10,0) first — as a BIGINT the product's
    // inferred precision overflows 38 and Spark's precision-loss rule
    // silently drops the 9th decimal (measured: one weight off by 1e-6
    // at sf0.01); at (18,9)×(10,0) the product is (29,9), exact.
    bc.where(!col("is_target"))
      .join(broadcast(lam), "bucket")
      .groupBy("source", "doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("lam") * col("cnt").cast("decimal(10,0)")).as("weight_dec"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        round(col("weight_dec").cast("double"), 6).as("weight"), col("rank"))
      .orderBy("source", "rank")
  }

  /** Shared oracle prefix: the DSIR token/bucket-model CTEs (mirrors
    * [[dsirTokenized]] + [[dsirModel]]) — both qp_dsir and
    * qp_dsir_eval build on this one string so the two oracles can
    * never disagree about the model. */
  private val dsirSqlPrefix: String =
    """WITH tok AS (
      |  SELECT source, doc_id,
      |    (source IN ('src0', 'src1')) AS is_target,
      |    ('0x' || substr(md5(t.tok), 1, 8))::BIGINT % 256 AS bucket
      |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      |), counts AS (
      |  SELECT bucket,
      |    SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_t,
      |    SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS c_r
      |  FROM tok GROUP BY bucket
      |), tot AS (
      |  SELECT SUM(c_t) AS tt, SUM(c_r) AS tr FROM counts
      |), model AS (
      |  SELECT s.bucket,
      |    (COALESCE(c.c_t, 0) + 1)::DOUBLE / (t.tt + 256)::DOUBLE AS p_t,
      |    (COALESCE(c.c_r, 0) + 1)::DOUBLE / (t.tr + 256)::DOUBLE AS p_r,
      |    CAST(round(ln(((COALESCE(c.c_t, 0) + 1)::DOUBLE / (t.tt + 256)::DOUBLE)
      |      / ((COALESCE(c.c_r, 0) + 1)::DOUBLE / (t.tr + 256)::DOUBLE)), 9)
      |      AS DECIMAL(18,9)) AS lam
      |  FROM range(0, 256) s(bucket)
      |  LEFT JOIN counts c ON c.bucket = s.bucket, tot t
      |)""".stripMargin

  val qpDsirSql: String = dsirSqlPrefix +
    """, weights AS (
      |  SELECT k.source, k.doc_id, COUNT(*) AS n_tokens,
      |    SUM(l.lam) AS weight_dec
      |  FROM tok k JOIN model l ON l.bucket = k.bucket
      |  WHERE NOT k.is_target
      |  GROUP BY k.source, k.doc_id
      |)
      |SELECT source, doc_id, n_tokens,
      |  round(CAST(weight_dec AS DOUBLE), 6) AS weight, rank
      |FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY weight_dec DESC, doc_id) AS INTEGER) AS rank
      |  FROM weights
      |) t
      |WHERE rank <= 3
      |ORDER BY source, rank""".stripMargin

  /** §2.31ad — DSIR selection-quality eval: does promoting the
    * top-quintile DSIR-weighted raw documents actually move the
    * selected pool's hashed-feature distribution toward the target
    * domain? Reported as KL(target‖raw) vs KL(target‖selected) over
    * the same 256 smoothed buckets — selection "works" iff the second
    * is smaller, and the gap is the effect size. This is the closure
    * 31aa needs before anyone retrains on its output: importance
    * weights that do not shrink the divergence mean the hashed
    * features are too coarse for the domain (raise B) or the domains
    * already agree. Selection threshold = exact 80th percentile of
    * doc weights (one percentile aggregation — no global rank window);
    * KL terms round to DECIMAL(18,9) before the 256-row sum. */
  def qpDsirEval(spark: SparkSession, dir: String): DataFrame = {
    val B = DsirB
    val bc = dsirBucketCounts(spark, dir)
    val model = dsirModel(spark, bc)
    val spine = spark.range(B).select(col("id").as("bucket"))
    // Materialized: the threshold scalar, the selection semi-join and
    // the final rollup all consume the per-doc weights — without the
    // barrier each consumer re-ran the weight join + aggregation.
    val weights = graft.operators.Materialize.once(
      bc.where(!col("is_target"))
        .join(broadcast(model.select("bucket", "lam")), "bucket")
        .groupBy("source", "doc_id")
        // DECIMAL(10,0) cast: see qpDsir — keeps the product exact.
        .agg(sum(col("lam") * col("cnt").cast("decimal(10,0)")).as("w_dec"))
        .select(col("doc_id"), col("w_dec").cast("double").as("w")))
    val thr = weights.agg(expr("percentile(w, 0.8D)").as("thr"))
    val selDocs = weights.join(broadcast(thr))
      .where(col("w") >= col("thr")).select("doc_id")
    val selCounts = bc.where(!col("is_target"))
      .join(selDocs, Seq("doc_id"), "left_semi")
      .groupBy("bucket").agg(sum(col("cnt")).as("c_s"))
    val selTotal = selCounts.agg(sum("c_s").as("ts"))
    val sel = spine.join(selCounts, Seq("bucket"), "left")
      .join(broadcast(selTotal))
      .select(col("bucket"),
        ((coalesce(col("c_s"), lit(0L)) + lit(1)).cast("double") /
          (col("ts") + lit(B)).cast("double")).as("p_s"))
    val kl = model.join(sel, "bucket")
      .select(
        round(col("p_t") * log(col("p_t") / col("p_r")), 9)
          .cast("decimal(18,9)").as("t_raw"),
        round(col("p_t") * log(col("p_t") / col("p_s")), 9)
          .cast("decimal(18,9)").as("t_sel"))
      .agg(sum("t_raw").as("klr"), sum("t_sel").as("kls"))
    weights.join(broadcast(thr))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("w") >= col("thr"), 1L).otherwise(0L)).as("n_selected"),
        round(first(col("thr")), 6).as("threshold_w"))
      .join(broadcast(kl))
      .select(col("n_raw"), col("n_selected"), col("threshold_w"),
        round(col("klr").cast("double"), 6).as("kl_target_vs_raw"),
        round(col("kls").cast("double"), 6).as("kl_target_vs_selected"),
        (col("kls") < col("klr")).as("selection_improves"))
  }

  val qpDsirEvalSql: String = dsirSqlPrefix +
    """, weights AS (
      |  SELECT k.doc_id, CAST(SUM(l.lam) AS DOUBLE) AS w
      |  FROM tok k JOIN model l ON l.bucket = k.bucket
      |  WHERE NOT k.is_target
      |  GROUP BY k.doc_id
      |), thr AS (
      |  SELECT quantile_cont(w, 0.8) AS thr FROM weights
      |), sel_docs AS (
      |  SELECT w.doc_id FROM weights w, thr WHERE w.w >= thr.thr
      |), sel_counts AS (
      |  SELECT k.bucket, COUNT(*) AS c_s
      |  FROM tok k JOIN sel_docs d ON d.doc_id = k.doc_id
      |  WHERE NOT k.is_target
      |  GROUP BY k.bucket
      |), sel_tot AS (
      |  SELECT SUM(c_s) AS ts FROM sel_counts
      |), sel AS (
      |  SELECT s.bucket,
      |    (COALESCE(c.c_s, 0) + 1)::DOUBLE / (t.ts + 256)::DOUBLE AS p_s
      |  FROM range(0, 256) s(bucket)
      |  LEFT JOIN sel_counts c ON c.bucket = s.bucket, sel_tot t
      |), kl AS (
      |  SELECT SUM(CAST(round(m.p_t * ln(m.p_t / m.p_r), 9) AS DECIMAL(18,9))) AS klr,
      |    SUM(CAST(round(m.p_t * ln(m.p_t / x.p_s), 9) AS DECIMAL(18,9))) AS kls
      |  FROM model m JOIN sel x ON x.bucket = m.bucket
      |)
      |SELECT (SELECT COUNT(*) FROM weights) AS n_raw,
      |  CAST((SELECT COUNT(*) FROM sel_docs) AS BIGINT) AS n_selected,
      |  round((SELECT thr FROM thr), 6) AS threshold_w,
      |  round(CAST(klr AS DOUBLE), 6) AS kl_target_vs_raw,
      |  round(CAST(kls AS DOUBLE), 6) AS kl_target_vs_selected,
      |  (kls < klr) AS selection_improves
      |FROM kl""".stripMargin

  /** §2.31ab — quality-score calibration against duplication: bucket
    * the corpus by quality decile (fixed-width on the [0,1] score) and
    * read, per bucket, the exact-duplicate rate and mean length. The
    * release gate for any learned-or-heuristic quality score: a score
    * worth filtering on should show duplication and degenerate-length
    * concentrated in its low buckets — if dup_rate is flat across
    * buckets, the score is not measuring what the pipeline assumes.
    * Shape: one content-hash group (the dedup shuffle already priced
    * into any release), one broadcast-back, one ≤ 10-row rollup. */
  def qpCalibration(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val q = lit(0.3) * least(nTok / lit(50.0), lit(1.0)) +
      lit(0.4) * (size(array_distinct(toks)).cast("double") / nTok) +
      lit(0.3) * (lit(1.0) - countIn(toks, TextQueries.stopwords).cast("double") / nTok)
    val scored = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        size(toks).as("n_tokens"),
        least(floor(q * lit(10.0)), lit(9.0)).cast("int").as("q_bucket"))
    val groupSizes = scored.groupBy("content_hash")
      .agg(count(lit(1)).as("grp"))
    scored.join(groupSizes, "content_hash")
      .groupBy("q_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("grp") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        round(sum(when(col("grp") > 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("dup_rate"),
        round(sum(col("n_tokens").cast("decimal(38,0)")).cast("double") /
          count(lit(1)), 6).as("mean_tokens"))
      .orderBy("q_bucket")
  }

  val qpCalibrationSql: String = {
    val stop = TextQueries.stopwords.map(s => s"'$s'").mkString(", ")
    val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    val q = s"""0.3 * least($nTok / 50.0, 1.0)
       | + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / $nTok)
       | + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
       |     t -> t IN ($stop))) AS DOUBLE) / $nTok)""".stripMargin.replace("\n", "")
    s"""WITH scored AS (
       |  SELECT doc_id, md5(text) AS content_hash,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    CAST(least(floor(($q) * 10.0), 9.0) AS INTEGER) AS q_bucket
       |  FROM documents
       |), grp AS (
       |  SELECT content_hash, COUNT(*) AS grp FROM scored GROUP BY 1
       |)
       |SELECT s.q_bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN g.grp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |  round(CAST(SUM(CASE WHEN g.grp > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS dup_rate,
       |  round(CAST(SUM(CAST(n_tokens AS DECIMAL(38,0))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_tokens
       |FROM scored s JOIN grp g ON s.content_hash = g.content_hash
       |GROUP BY s.q_bucket
       |ORDER BY s.q_bucket""".stripMargin
  }

  /** §2.31ac — Neyman-allocation stratified sampling: a fixed budget of
    * 100 sample slots splits across source strata proportional to
    * N_h·σ_h (stratum size × stratum std-dev of n_chars) — the
    * textbook minimum-variance allocation, vs 31i's equal/proportional
    * strata. σ comes from exact integer moment sums; stratum weights
    * round to DECIMAL(28,9) before the grand total so the shares are
    * accumulation-order-exact; integer slots assign by largest
    * remainder (floor + ranked fractional parts — Σ alloc = budget
    * exactly); the winning rows are the deterministic seeded-md5
    * minimum ranks per stratum. Everything after the one grouped
    * moment pass runs on the ≤ |sources| frame; the per-stratum rank
    * is the same shuffle any stratified sampler pays. */
  def qpNeyman(spark: SparkSession, dir: String): DataFrame = {
    val budget = 100
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val stats = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("decimal(38,0)")).as("s1"),
        sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)")).as("s2"))
      .select(col("source"), col("n_docs"),
        (sqrt((col("n_docs") * col("s2") - col("s1") * col("s1")).cast("double")) /
          col("n_docs")).as("sigma"))
      .withColumn("w_dec",
        round(col("n_docs") * col("sigma"), 9).cast("decimal(28,9)"))
    val tw = stats.agg(sum("w_dec").as("tw"))
    val raw = stats.join(broadcast(tw))
      .withColumn("raw_alloc",
        lit(budget) * col("w_dec").cast("double") / col("tw").cast("double"))
      .withColumn("base", floor(col("raw_alloc")).cast("long"))
      .withColumn("rem", col("raw_alloc") - col("base"))
    val leftover = raw.agg((lit(budget) - sum("base")).as("leftover"))
    val wr = Window.orderBy(col("rem").desc, col("source"))
    val alloc = raw.join(broadcast(leftover))
      .withColumn("rr", row_number().over(wr))
      .select(col("source"), col("n_docs"),
        round(col("sigma"), 6).as("sigma"),
        (col("base") + when(col("rr") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
    val ws = Window.partitionBy("source")
      .orderBy(md5Hash32(concat_ws(":", lit("neyman"), col("doc_id"))),
        col("doc_id"))
    docs.select(col("source"), col("doc_id"))
      .withColumn("sample_rank", row_number().over(ws))
      .join(broadcast(alloc), "source")
      .where(col("sample_rank") <= col("alloc"))
      .select(col("source"), col("doc_id"), col("sample_rank"),
        col("alloc"), col("n_docs"), col("sigma"))
      .orderBy("source", "sample_rank")
  }

  val qpNeymanSql: String =
    """WITH stats AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    sqrt(CAST(COUNT(*) * SUM(CAST(n_chars * n_chars AS DECIMAL(38,0)))
      |      - SUM(CAST(n_chars AS DECIMAL(38,0))) * SUM(CAST(n_chars AS DECIMAL(38,0)))
      |      AS DOUBLE)) / COUNT(*) AS sigma
      |  FROM documents GROUP BY source
      |), wdec AS (
      |  SELECT *, CAST(round(n_docs * sigma, 9) AS DECIMAL(28,9)) AS w_dec
      |  FROM stats
      |), tw AS (SELECT SUM(w_dec) AS tw FROM wdec
      |), raw AS (
      |  SELECT w.*, 100 * CAST(w.w_dec AS DOUBLE) / CAST(t.tw AS DOUBLE) AS raw_alloc
      |  FROM wdec w, tw t
      |), based AS (
      |  SELECT *, CAST(floor(raw_alloc) AS BIGINT) AS base,
      |    raw_alloc - floor(raw_alloc) AS rem
      |  FROM raw
      |), lo AS (SELECT 100 - SUM(base) AS leftover FROM based
      |), alloc AS (
      |  SELECT source, n_docs, round(sigma, 6) AS sigma,
      |    base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
      |      <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END AS alloc
      |  FROM based
      |), ranked AS (
      |  SELECT source, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY ('0x' || substr(md5('neyman:' || doc_id), 1, 8))::BIGINT,
      |      doc_id) AS INTEGER) AS sample_rank
      |  FROM documents
      |)
      |SELECT r.source, r.doc_id, r.sample_rank, a.alloc, a.n_docs, a.sigma
      |FROM ranked r JOIN alloc a ON r.source = a.source
      |WHERE r.sample_rank <= a.alloc
      |ORDER BY r.source, r.sample_rank""".stripMargin

  /** §2.31aj — quality-filter ablation waterfall: the governance
    * report a filtering stage ships with — per source, for a FIXED
    * rule order (too-short → too-few-stopwords → too-repetitive →
    * duplicated-ngram), both the MARGINAL flag count of each rule
    * alone and the WATERFALL count it removes given everything before
    * it passed, plus survivors. Marginal−waterfall gaps expose rule
    * overlap (two rules firing on the same docs = one is nearly
    * redundant); the waterfall is what actually ships. Rules 1–3 are
    * per-row expressions fused into the scan; rule 4 joins the
    * [[TextQueries.qtDupFraction]] inverted-index doc-frequency back
    * per doc (two key shuffles, no pair grid; short docs with no
    * 5-gram default to dup 0). One per-source aggregate emits the
    * whole report. */
  def qpFilterAblation(spark: SparkSession, dir: String): DataFrame = {
    val n = 5
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(toks).as("__nt"),
        (countIn(toks, TextQueries.stopwords).cast("double") / nTok)
          .as("__stop"),
        (size(array_distinct(toks)).cast("double") / nTok).as("__dr"))
    val inst = Tables.load(spark, dir, "documents")
      .where(size(toks) >= n)
      .select(col("doc_id"), toks.as("__ftoks"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("__ftoks")) - (n - 1)),
          i => md5(concat_ws(" ", slice(col("__ftoks"), i, lit(n))))))
          .as("__sh"))
    val dfreq = inst.select("__sh", "doc_id").distinct()
      .groupBy("__sh").agg(count(lit(1)).as("__df"))
    val dup = inst.join(dfreq, Seq("__sh"))
      .groupBy("doc_id")
      .agg((sum(when(col("__df") >= 2, 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("__dupf"))
    val f1 = col("__nt") < 20
    val f2 = col("__stop") < 0.03
    val f3 = col("__dr") < 0.40
    val f4 = coalesce(col("__dupf"), lit(0.0)) > 0.5
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    docs.join(dup, Seq("doc_id"), "left_outer")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        cnt(f1).as("f_short"), cnt(f2).as("f_low_stop"),
        cnt(f3).as("f_repetitive"), cnt(f4).as("f_dup"),
        cnt(f1).as("rem_short"),
        cnt(!f1 && f2).as("rem_low_stop"),
        cnt(!f1 && !f2 && f3).as("rem_repetitive"),
        cnt(!f1 && !f2 && !f3 && f4).as("rem_dup"),
        cnt(!f1 && !f2 && !f3 && !f4).as("n_survivors"))
      .withColumn("survivor_rate",
        round(col("n_survivors").cast("double") /
          col("n_docs").cast("double"), 6))
      .orderBy("source")
  }

  val qpFilterAblationSql: String = {
    val stop = TextQueries.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents
       |), base AS (
       |  SELECT doc_id, source, len(toks) AS nt,
       |    CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE)
       |      / CAST(len(toks) AS DOUBLE) AS stopr,
       |    CAST(len(list_distinct(toks)) AS DOUBLE)
       |      / CAST(len(toks) AS DOUBLE) AS dr
       |  FROM d
       |), inst AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks) - 3),
       |      i -> md5(array_to_string(toks[i:i+4], ' ')))) AS sh
       |  FROM d WHERE len(toks) >= 5
       |), dfreq AS (
       |  SELECT sh, COUNT(DISTINCT doc_id) AS df FROM inst GROUP BY sh
       |), dup AS (
       |  SELECT i.doc_id,
       |    CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |      / COUNT(*) AS dupf
       |  FROM inst i JOIN dfreq f USING (sh) GROUP BY i.doc_id
       |), flagged AS (
       |  SELECT b.source,
       |    b.nt < 20 AS f1,
       |    b.stopr < 0.03 AS f2,
       |    b.dr < 0.40 AS f3,
       |    COALESCE(u.dupf, 0.0) > 0.5 AS f4
       |  FROM base b LEFT JOIN dup u ON b.doc_id = u.doc_id
       |)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS f_short,
       |  CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS f_low_stop,
       |  CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS f_repetitive,
       |  CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS f_dup,
       |  CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS rem_short,
       |  CAST(SUM(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS rem_low_stop,
       |  CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS rem_repetitive,
       |  CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND f4
       |    THEN 1 ELSE 0 END) AS BIGINT) AS rem_dup,
       |  CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       |  round(CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4
       |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS survivor_rate
       |FROM flagged GROUP BY source
       |ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qp_filter_ablation" -> (qpFilterAblation _),
    "qp_dsir" -> (qpDsir _),
    "qp_dsir_eval" -> (qpDsirEval _),
    "qp_overlap_13gram" -> (qpOverlap13 _),
    "qp_manifest" -> (qpManifest _),
    "qp_padding" -> (qpPadding _),
    "qp_calibration" -> (qpCalibration _),
    "qp_neyman" -> (qpNeyman _),
    "qp_scd2" -> (qpScd2 _),
    "qp_scd2_asof" -> (qpScd2Asof _),
    "qp_weights" -> (qpWeights _),
    "qp_waterfill" -> (qpWaterfill _),
    "qp_epochs" -> (qpEpochs _),
    "qp_split" -> (qpSplit _),
    "qp_reservoir" -> (qpReservoir _),
    "qp_quality_sample" -> (qpQualitySample _),
    "qp_release_diff" -> (qpReleaseDiff _),
    "qp_temperature" -> (qpTemperature _),
    "qp_dedup_savings" -> (qpDedupSavings _),
    "qp_dataset_card" -> (qpDatasetCard _),
    "qp_token_budget" -> (qpTokenBudget _),
    "qp_attrition" -> (qpAttrition _),
    "qp_shuffle" -> (qpShuffle _),
    "qp_clean_passages" -> (qpCleanPassages _),
    "qp_corpus" -> (qpCorpus _),
    "qp_sample" -> (qpSample _),
    "qp_mix" -> (qpMix _),
    "qp_pack" -> (qpPack _),
    "qp_pack_stats" -> (qpPackStats _),
    "qp_decontaminate" -> (qpDecontaminate _),
    "qp_curriculum" -> (qpCurriculum _),
    "qp_contamination" -> (qpContamination _))

  val oracles: Map[String, String] = Map(
    "qp_filter_ablation" -> qpFilterAblationSql,
    "qp_dsir" -> qpDsirSql,
    "qp_dsir_eval" -> qpDsirEvalSql,
    "qp_overlap_13gram" -> qpOverlap13Sql,
    "qp_manifest" -> qpManifestSql,
    "qp_padding" -> qpPaddingSql,
    "qp_calibration" -> qpCalibrationSql,
    "qp_neyman" -> qpNeymanSql,
    "qp_scd2" -> qpScd2Sql,
    "qp_scd2_asof" -> qpScd2AsofSql,
    "qp_weights" -> qpWeightsSql,
    "qp_waterfill" -> qpWaterfillSql,
    "qp_epochs" -> qpEpochsSql,
    "qp_split" -> qpSplitSql,
    "qp_reservoir" -> qpReservoirSql,
    "qp_quality_sample" -> qpQualitySampleSql,
    "qp_release_diff" -> qpReleaseDiffSql,
    "qp_temperature" -> qpTemperatureSql,
    "qp_dedup_savings" -> qpDedupSavingsSql,
    "qp_dataset_card" -> qpDatasetCardSql,
    "qp_token_budget" -> qpTokenBudgetSql,
    "qp_attrition" -> qpAttritionSql,
    "qp_shuffle" -> qpShuffleSql,
    "qp_clean_passages" -> qpCleanPassagesSql,
    "qp_corpus" -> qpCorpusSql,
    "qp_sample" -> qpSampleSql,
    "qp_mix" -> qpMixSql,
    "qp_pack" -> qpPackSql,
    "qp_pack_stats" -> qpPackStatsSql,
    "qp_decontaminate" -> qpDecontaminateSql,
    "qp_curriculum" -> qpCurriculumSql,
    "qp_contamination" -> qpContaminationSql)
}
