package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Portable._

/** Deduplication operators for large text/embedding corpora —
  * SURVEY.md §2 items 20-25.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup = hash-groupBy: one shuffle on a 128-bit content hash,
  *    perfectly distributed by construction;
  *  - MinHash-LSH = signature projection (narrow) → explode to (band,
  *    bucket) pairs → shuffle on band value → per-bucket self-join.
  *    Candidate generation is O(collisions), never the O(n²) cross join;
  *  - SimHash = explode distinct tokens (shuffle on doc id) → 32
  *    conditional sums in ONE aggregation;
  *  - n-gram Jaccard and embedding near-dup take an explicit blocking
  *    column — the contract is "pairs within a block", keeping the join
  *    co-partitioned and linear in block sizes.
  */
object Dedup {

  /** Exact duplicate groups by content hash; the canonical row is the
    * minimum id (deterministic election). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))

  /** The deduped frame itself: one canonical row (minimum `idCol`) per
    * distinct `textCol` content, all original columns preserved — the
    * row-level counterpart of [[exactGroups]]'s report. One window over
    * the hash-partitioned frame (same single shuffle as the groupBy;
    * no join back). */
  def canonicalRows(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val byContent = org.apache.spark.sql.expressions.Window
      .partitionBy("__content_hash").orderBy(idCol)
    df.withColumn("__content_hash", md5(col(textCol)))
      .withColumn("__rn", row_number().over(byContent))
      .where(col("__rn") === 1)
      .drop("__content_hash", "__rn")
  }

  /** MinHash signature columns sig_0..sig_{numPerms-1}.
    *
    * Hash family: permutation k reads 32-bit slot k%4 of
    * `md5(concat(k/4, ":", token))` — one md5 yields FOUR permutations,
    * so the dominant cost (md5 over every distinct token) drops 4×.
    * The whole signature is computed by the native
    * [[org.apache.spark.sql.graft.MinhashSignature]] expression in ONE
    * pass over the tokens — value-identical to the portable
    * `array_min(transform(..., conv(substring(md5(...)))))` composition
    * (MinhashSignatureSpec pins the equivalence) but with no per-token
    * hex strings and no base-16 string parsing in the inner loop.
    */
  def withMinhashSignature(df: DataFrame, textCol: String, numPerms: Int): DataFrame = {
    require(numPerms % 4 == 0, s"numPerms must be a multiple of 4, got $numPerms")
    val sig = org.apache.spark.sql.graft.MinhashSignature
      .ofColumn(array_distinct(tokens(col(textCol))), numPerms)
    val withSig = df.withColumn("__sig", sig)
    val sigs = (0 until numPerms).map(k =>
      element_at(col("__sig"), k + 1).as(s"sig_$k"))
    withSig.select(df.columns.map(col) ++ sigs: _*)
  }

  /** LSH band values: md5 over each group of `bandSize` signature
    * columns. numPerms = bandSize × numBands. */
  def bandColumns(numPerms: Int, bandSize: Int): Seq[Column] =
    (0 until numPerms / bandSize).map { b =>
      md5(concat_ws("_",
        (0 until bandSize).map(j => col(s"sig_${b * bandSize + j}")): _*))
        .as(s"band_$b")
    }

  /** Near-duplicate candidate pairs: documents sharing ≥1 LSH band.
    * Returns (id_a, id_b, n_shared_bands), id_a < id_b.
    *
    * Pair generation is bucket-local: group ids per (band, value), then
    * emit each ordered combination exactly once with two nested explodes.
    * Versus the naïve self-join this halves the rows entering the
    * pair-level shuffle (no discarded id_a > id_b half) and reads the
    * signature projection once, not twice. `maxBucketSize` is the
    * production skew guard: a bucket everything hashes into (boilerplate
    * documents) generates O(m²) candidates that a dedup pass doesn't
    * need — capped buckets are dropped whole. The driver-contract query
    * leaves it off so the DuckDB oracle sees identical semantics.
    *
    * MEASURED DESIGN NOTE (scale ladder, round 11): a first-collision
    * variant that emits each pair from its first shared band with
    * `n_shared_bands` counted map-side from carried band digests —
    * eliminating this groupBy and its out-of-core state entirely — was
    * implemented and measured at sf0.1/sf1/sf4, and LOST: the exchange
    * of incompressible 16-byte digests (Σ|bucket|² of them) costs more
    * than it saves at every rung but one (sf0.1 1.2→7.7 s, sf1
    * 2.7→16.0 s, sf4 52.2→46.9 s with spill 16.7 GB→0), because this
    * form's partial aggregation collapses duplicate pairs map-side and
    * its sorted-id streams compress ~4× in the exchange, while the agg
    * state that does spill at 95 M pairs degrades gracefully. Kept:
    * the groupBy. The numbers live in SCALING.md / SCALING_RAW.jsonl.
    */
  def minhashCandidatePairs(df: DataFrame, textCol: String, idCol: String,
      numPerms: Int, bandSize: Int,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val numBands = numPerms / bandSize
    val sigs = withMinhashSignature(df, textCol, numPerms)
      .select(col(idCol) +: bandColumns(numPerms, bandSize): _*)
    val banded = sigs.select(col(idCol).as("__id"), posexplode(
      array((0 until numBands).map(b => col(s"band_$b")): _*))
      .as(Seq("band_idx", "band_val")))
    val buckets = banded
      .groupBy("band_idx", "band_val")
      .agg(sort_array(collect_list(col("__id"))).as("ids"))
      .where(size(col("ids")) > 1 &&
        maxBucketSize.map(m => size(col("ids")) <= m).getOrElse(lit(true)))
    buckets
      .select(posexplode(col("ids")).as(Seq("pos", "id_a")), col("ids"))
      // Split the two-level combination explode: without this barrier a
      // hot bucket (boilerplate cluster of m docs) generates its whole
      // C(m,2) pair set in the ONE task holding that bucket's row. The
      // repartition spreads the m first-level rows across the cluster so
      // the quadratic second level runs parallel; the extra shuffle
      // carries Σ|bucket|² ids ≈ 2× the pair count — same order as the
      // pair shuffle below that exists anyway.
      .repartition(col("id_a"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("pos") + 2, size(col("ids")))).as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** DISTINCT LSH candidate pairs — [[minhashCandidatePairs]] without
    * the `n_shared_bands` column, for consumers that re-rank or score
    * the pair SET (tf-idf cosine, edit distance, Jaro–Winkler, recall
    * evals) and never read the count. Value-identical to
    * `minhashCandidatePairs(...).select(id_a, id_b)` (pinned in
    * DedupSpec); since the counting form is itself exchange-free at
    * pair level, this is a pure projection — Catalyst's column pruning
    * drops the count arithmetic from the physical plan. */
  def minhashCandidateEdges(df: DataFrame, textCol: String, idCol: String,
      numPerms: Int, bandSize: Int,
      maxBucketSize: Option[Int] = None): DataFrame =
    minhashCandidatePairs(df, textCol, idCol, numPerms, bandSize,
      maxBucketSize).select("id_a", "id_b")

  /** Incoming-batch near-dup flagging against an EXISTING corpus — the
    * continuous-ingest shape of MinHash-LSH dedup. The existing side
    * reduces to its distinct (band, value) index (in production:
    * precomputed once, appended per batch); the incoming batch computes
    * its own bands and joins the index, so per-batch cost is linear in
    * the BATCH, never all-pairs against the corpus. Returns one row per
    * incoming doc that collides, with its colliding-band count. */
  def incrementalNearDups(existing: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String,
      numPerms: Int, bandSize: Int): DataFrame =
    bandedRows(incoming, textCol, idCol, numPerms, bandSize)
      .join(bandIndex(existing, textCol, idCol, numPerms, bandSize),
        Seq("band_idx", "band_val"))
      .groupBy(idCol).agg(count(lit(1)).as("n_colliding_bands"))

  /** One row per (document, LSH band): (idCol, band_idx, band_val). A
    * stateless projection + generate — works identically on batch and
    * STREAMING DataFrames (the signature expression is row-local). */
  def bandedRows(df: DataFrame, textCol: String, idCol: String,
      numPerms: Int, bandSize: Int): DataFrame = {
    val numBands = numPerms / bandSize
    withMinhashSignature(df, textCol, numPerms)
      .select(col(idCol) +: bandColumns(numPerms, bandSize): _*)
      .select(col(idCol), posexplode(
        array((0 until numBands).map(b => col(s"band_$b")): _*))
        .as(Seq("band_idx", "band_val")))
  }

  /** The corpus's distinct (band_idx, band_val) index — in production
    * precomputed once, persisted, and appended per ingest batch. */
  def bandIndex(df: DataFrame, textCol: String, idCol: String,
      numPerms: Int, bandSize: Int): DataFrame =
    bandedRows(df, textCol, idCol, numPerms, bandSize)
      .select("band_idx", "band_val").distinct()

  /** Streaming near-dup flagging: incoming STREAM documents probe a
    * static corpus band index — [[incrementalNearDups]]'s continuous
    * form. The band projection is stateless and the stream-static join
    * keeps no state (the static side broadcasts or re-scans per
    * micro-batch), so this composes with any watermark/sink; emitted
    * rows are (id, band_idx, band_val) collisions, aggregated per doc
    * by the caller's sink (a per-batch count in foreachBatch, or a
    * windowed agg downstream). */
  def streamingNearDupCollisions(stream: DataFrame, staticIndex: DataFrame,
      textCol: String, idCol: String,
      numPerms: Int, bandSize: Int): DataFrame =
    bandedRows(stream, textCol, idCol, numPerms, bandSize)
      .join(staticIndex, Seq("band_idx", "band_val"))

  /** Per-label-pair counts of LSH candidate pairs WITHOUT materializing
    * the pair set — the monitoring-rollup shape of [[minhashCandidatePairs]]
    * (cross-source contamination, train/test leakage): only the
    * label-pair totals are wanted, and the pair set can be O(n²) in the
    * worst (boilerplate-heavy) corpus exactly when the report matters
    * most.
    *
    * A pair is a candidate when its docs share ≥1 band value, so by
    * inclusion-exclusion over the non-empty band subsets S:
    * count once = Σ_S (−1)^(|S|+1) · pairsAgreeingOnAll(S). Each term
    * needs only per-(bucket, label) COUNTS: agreement on S groups docs
    * by the S-band-value tuple, and within a bucket the label-pair
    * product n_a·n_b (or C(n,2) on the diagonal) counts its pairs.
    * Cost: 2^bands−1 count-aggregations + tiny per-bucket label joins —
    * linear in the corpus, independent of how many pairs exist.
    * Exponential in the BAND count, so this is for the wide-band/
    * few-bands LSH configs used for high-similarity dedup (b ≤ 8);
    * beyond that, materialize pairs.
    *
    * Returns (label_a, label_b, n_pairs), label_a < label_b (the
    * diagonal label_a = label_b appears when `includeSameLabel`),
    * value-identical to counting [[minhashCandidatePairs]] output.
    */
  /** Cap on distinct labels accepted by [[lshLabelPairReport]]: 1024
    * labels bound the collected report at ~0.5M rows (few tens of MB on
    * the driver) — far above any sources/splits use, far below the
    * per-document cardinality the guard exists to reject. */
  val maxReportLabels = 1024L

  def lshLabelPairReport(df: DataFrame, textCol: String, idCol: String,
      labelCol: String, numPerms: Int, bandSize: Int,
      includeSameLabel: Boolean = false): DataFrame = {
    val numBands = numPerms / bandSize
    // One signature pass feeds every subset term, so the band frame is
    // cached for the duration of the computation ONLY: the result is a
    // few label-pair rows, so it is collected to the driver and
    // re-parallelized (not localCheckpoint: checkpointed blocks live on
    // executors, so executor loss under dynamic allocation /
    // decommission before the caller consumes the frame would make it
    // unrecoverable, and the blocks would stay persisted per call).
    // The cache is released before returning — repeated calls over
    // changing inputs (incremental monitors) must not accumulate pinned
    // storage for the session. Callers that already hold a persisted
    // band frame (as the incremental-dedup index does) use the
    // band-frame overload directly and keep control of its lifecycle.
    val labeledBands = withMinhashSignature(df, textCol, numPerms)
      .select(col(labelCol).as("__label") +: bandColumns(numPerms, bandSize): _*)
      .cache()
    try {
      // The report is O(|labels|²) rows and the collect() below brings it
      // to the driver, so this entry point is for FEW-label columns
      // (sources, splits, shards) — guard before computing 2^bands terms
      // over a per-document label column, where the "report" would be the
      // pair set itself and the collect a driver OOM. The exact distinct
      // count is one aggregation over the already-cached band frame.
      val nLabels = labeledBands.select(countDistinct(col("__label"))).head.getLong(0)
      require(nLabels <= maxReportLabels,
        s"lshLabelPairReport saw $nLabels distinct '$labelCol' labels " +
          s"(max $maxReportLabels): the report is O(labels^2) rows and is " +
          "collected to the driver. For high-cardinality labels use " +
          "lshLabelPairReportFromBands and keep the result distributed.")
      val report =
        lshLabelPairReportFromBands(labeledBands, numBands, includeSameLabel)
      val spark = df.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(report.collect().toIndexedSeq, 1),
        report.schema)
    } finally labeledBands.unpersist()
  }

  /** [[lshLabelPairReport]] over a precomputed labeled band frame with
    * schema (`__label`, `band_0` … `band_{numBands-1}`) — for callers
    * that persist the band frame themselves (long-lived indexes,
    * repeated reports over one corpus snapshot). Lazy: no caching or
    * materialization happens here; persist the input or every subset
    * term recomputes the signatures. */
  def lshLabelPairReportFromBands(labeledBands: DataFrame, numBands: Int,
      includeSameLabel: Boolean = false): DataFrame = {
    require(numBands >= 1 && numBands <= 8,
      s"inclusion-exclusion is exponential in bands; got $numBands (max 8)")
    val contribs = (1 until (1 << numBands)).map { mask =>
      val bands = (0 until numBands)
        .filter(b => (mask & (1 << b)) != 0).map(b => col(s"band_$b"))
      val sign = if (Integer.bitCount(mask) % 2 == 1) 1L else -1L
      // Two-level aggregation, then the label-pair grid expands IN-ROW
      // (labels per bucket are few — sources/splits, not documents), so
      // each term is two shuffles and no join.
      val perBucket = labeledBands
        .groupBy(bands :+ col("__label"): _*).agg(count(lit(1)).as("__n"))
        .groupBy(bands: _*)
        .agg(sort_array(collect_list(struct(col("__label"), col("__n"))))
          .as("__ln"))
      val lst = col("__ln")
      // Pair arithmetic in decimal(38,0): a long n_a·n_b wraps past
      // 2^63 for ~3e9-doc buckets, and long n·(n−1)/2 goes through IEEE
      // double division, inexact above 2^53 — exactly the boilerplate-
      // heavy regime this operator exists for. n·(n−1) is even, so the
      // decimal division is exact; the final sum downcasts once.
      def dec(c: Column): Column = c.cast("decimal(19,0)")
      val crossPairs = flatten(transform(lst, (x, i) =>
        transform(slice(lst, i + 2, size(lst)), y =>
          struct(x.getField("__label").as("label_a"),
            y.getField("__label").as("label_b"),
            (dec(x.getField("__n")) * dec(y.getField("__n")) * sign)
              .cast("decimal(38,0)").as("__pairs")))))
      val samePairs = transform(lst, x =>
        struct(x.getField("__label").as("label_a"),
          x.getField("__label").as("label_b"),
          (dec(x.getField("__n")) * dec(x.getField("__n") - 1) / 2 * sign)
            .cast("decimal(38,0)").as("__pairs")))
      val expanded = if (includeSameLabel) concat(crossPairs, samePairs)
        else crossPairs
      perBucket.select(explode_outer(expanded).as("__p"))
        .where(col("__p").isNotNull)
        .select(col("__p.label_a"), col("__p.label_b"), col("__p.__pairs"))
    }
    contribs.reduce(_ union _)
      .groupBy("label_a", "label_b")
      .agg(sum("__pairs").cast("long").as("n_pairs"))
      .where(col("n_pairs") > 0)
  }

  /** 32-bit SimHash over distinct tokens: bit b is set when more token
    * hashes have bit b set than clear. One explode + one aggregation. */
  def simhash32(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // explode_outer + post-filter: a plain explode gets an inferred
    // size>0 pre-filter that pushdown re-inlines as a second
    // split+distinct evaluation per row (see jaccardNeighbors).
    val hashed = df
      .select(col(idCol), array_distinct(tokens(col(textCol))).as("__toks"))
      .select(col(idCol), explode_outer(col("__toks")).as("tok"))
      .where(col("tok").isNotNull)
      .select(col(idCol), md5Hash32(col("tok")).as("h"))
    val bitSums = (0 until 32).map { bit =>
      sum(when(col("h").bitwiseAND(lit(1L << bit)) =!= 0L, 1).otherwise(-1))
        .as(s"bit_$bit")
    }
    hashed.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 32).map(bit =>
          when(col(s"bit_$bit") > 0, lit(1L << bit)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Jaccard similarity over word n-gram shingles for every pair of rows
    * sharing `blockCol`. Returns (id_a, id_b, jaccard).
    *
    * |A∩B| comes from the inverted shingle index (cost linear in posting
    * collisions, identical to [[jaccardNeighbors]]'s candidate path) and
    * |A∪B| = |A|+|B|−|A∩B|, so the all-pairs grid carries two integers
    * per row instead of two shingle arrays — no per-pair
    * array_intersect/array_union, which made the original formulation
    * quadratic in *array work*, not just in pair count. Values are
    * bit-identical: the same distinct-hash cardinalities feed the same
    * double division. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, blockCol: String): DataFrame = {
    val prepared = df
      .select(col(blockCol).as("__block"), col(idCol).as("__id"),
        tokens(col(textCol)).as("__toks")) // materialised: see shingles()
      .select(col("__block"), col("__id"),
        shingles(col("__toks"), n).as("__sh"))
    // Pair grid over (id, |shingles|) only — pairs where BOTH sets are
    // empty (docs under n tokens) drop: 0/0 is engine-dependent and the
    // pair carries no signal.
    val counts = prepared.select(col("__block"), col("__id"), size(col("__sh")).as("__n"))
    val a = counts.toDF("__block", "id_a", "n_a")
    val b = counts.toDF("__block", "id_b", "n_b")
    val grid = a.join(b, Seq("__block")).where(col("id_a") < col("id_b"))
      .where(col("n_a") =!= 0 || col("n_b") =!= 0)
    // Intersection counts accrue only for pairs actually sharing a
    // shingle; bucket-local ordered-combination generation as in
    // minhashCandidatePairs (explode_outer: see jaccardNeighbors).
    val posting = prepared
      .select(col("__block"), col("__id"), explode_outer(col("__sh")).as("__shingle"))
      .where(col("__shingle").isNotNull)
    val inter = posting
      .groupBy("__block", "__shingle")
      .agg(sort_array(collect_list(col("__id"))).as("__ids"))
      .where(size(col("__ids")) > 1)
      .select(posexplode(col("__ids")).as(Seq("__pos", "id_a")), col("__ids"))
      // Same hot-bucket barrier as minhashCandidatePairs/jaccardNeighbors:
      // without it a stop-shingle shared by m docs generates its whole
      // C(m,2) pair set in the one task holding that posting row.
      .repartition(col("id_a"))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__pos") + 2, size(col("__ids")))).as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__inter"))
    grid.join(inter, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        (coalesce(col("__inter"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("__inter"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs over document PREFIXES,
    * blocked by `blockCol`: pairs in the same block whose first
    * `prefixLen` chars are within `maxDist` edits. Levenshtein is
    * O(len²) per pair, so it can never run over full documents at
    * corpus scale — the prefix cap bounds per-pair cost to a constant
    * and the |len_a − len_b| ≤ maxDist pre-filter (a length difference
    * of d already forces ≥ d edits on the FULL strings) prunes the
    * block grid before the quadratic compare. The built-in
    * `levenshtein` is codegen'd; the block equi-join is one shuffle on
    * the block key. This raw-block form is for SMALL, BOUNDED blocks
    * only (the join is O(|block|²) before the length pre-filter):
    * `maxBlockSize` enforces that contract by dropping oversized blocks
    * — at corpus scale use [[editDistanceRerank]], which runs the same
    * compare over LSH candidates instead of block grids.
    * Returns (id_a, id_b, len_a, len_b, edit_dist). */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
      lenCol: String, blockCol: String, prefixLen: Int,
      maxDist: Int, maxBlockSize: Int = 10000): DataFrame = {
    val prepared = df.select(col(blockCol).as("__block"),
      col(idCol).as("__id"), col(lenCol).as("__len"),
      substring(col(textCol), 1, prefixLen).as("__pre"))
      // Guard: count per block rides a window over the already-shuffled
      // block key (no second scan); blocks past the cap are excluded
      // rather than allowed to explode the grid join.
      .withColumn("__bn", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("__block")))
      .where(col("__bn") <= maxBlockSize)
      .drop("__bn")
    val a = prepared.toDF("__block", "id_a", "len_a", "__pre_a")
    val b = prepared.toDF("__block", "id_b", "len_b", "__pre_b")
    // Banded (thresholded) levenshtein: -1 past maxDist, O(maxDist·len)
    // per pair instead of the full O(len²) DP grid.
    a.join(b, Seq("__block")).where(col("id_a") < col("id_b"))
      .where(abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("__pre_a"), col("__pre_b"), maxDist).cast("bigint"))
      .where(col("edit_dist") >= 0)
      .select("id_a", "id_b", "len_a", "len_b", "edit_dist")
  }

  /** Edit-distance re-rank over a CANDIDATE pair set — the corpus-scale
    * composition the prefix-Levenshtein compare is designed for: the
    * quadratic stage runs only on `candidates` (id_a, id_b) rows, e.g.
    * [[minhashCandidatePairs]] output, which is O(band collisions) and
    * never O(n²). Two hash-joins annotate the pair set with each side's
    * prefix + length; the |len_a − len_b| ≤ maxDist pre-filter (d chars
    * of length difference force ≥ d edits) prunes before the codegen'd
    * `levenshtein`. Returns (id_a, id_b, len_a, len_b, edit_dist). */
  def editDistanceRerank(df: DataFrame, candidates: DataFrame,
      textCol: String, idCol: String, lenCol: String, prefixLen: Int,
      maxDist: Int): DataFrame = {
    val prepared = df.select(col(idCol).as("__id"),
      col(lenCol).as("__len"), substring(col(textCol), 1, prefixLen).as("__pre"))
    candidates.select("id_a", "id_b")
      // Pair-keyed repartition before the compute-dense Levenshtein
      // scorer (r14): AQE's byte-based coalescing shrinks the thin
      // candidate shuffle to a handful of partitions and serializes
      // the per-pair edit-distance work onto them (the qd_tfidf_pairs
      // / qd_minhash_est / qd_jaro starvation pattern, stage-profiled
      // at 8 of 32 cores); 2× defaultParallelism scales with the
      // executor fleet.
      .repartition(df.sparkSession.sparkContext.defaultParallelism * 2,
        col("id_a"), col("id_b"))
      .join(prepared.toDF("id_a", "len_a", "__pre_a"), Seq("id_a"))
      .join(prepared.toDF("id_b", "len_b", "__pre_b"), Seq("id_b"))
      .where(abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("__pre_a"), col("__pre_b"), maxDist).cast("bigint"))
      .where(col("edit_dist") >= 0)
      .select("id_a", "id_b", "len_a", "len_b", "edit_dist")
  }

  /** Thresholded n-gram Jaccard pairs via an inverted shingle index:
    * explode shingles, self-join on (block, shingle) so intersection
    * counts accrue ONLY for pairs that actually share a shingle, then
    * |A∪B| = |A|+|B|−|A∩B|. For a similarity threshold > 0 this is
    * equivalent to [[ngramJaccardPairs]] + filter, but skips the
    * quadratic all-pairs array_intersect — the candidate space is the
    * inverted-index join output, which is near-linear for natural
    * corpora where most shingles are rare.
    */
  def jaccardNeighbors(df: DataFrame, textCol: String, idCol: String,
      n: Int, blockCol: String, minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0, "inverted index requires a positive threshold")
    val (counts, inter) = shingleIntersections(df, textCol, idCol, n, blockCol)
    inter
      .join(counts.toDF("id_a", "n_a"), "id_a")
      .join(counts.toDF("id_b", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") /
          (col("n_a") + col("n_b") - col("__inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Thresholded shingle CONTAINMENT pairs over the same inverted index
    * as [[jaccardNeighbors]]: containment |A∩B|/|A| is the asymmetric
    * near-dup measure — a short document wholly embedded in a long one
    * scores ~1.0 where Jaccard (diluted by the union) stays low, so
    * this is the quote/excerpt/boilerplate-inclusion detector Jaccard
    * misses. Emits both directions per unordered pair; keeps pairs
    * where EITHER direction clears `minContainment`. */
  def containmentNeighbors(df: DataFrame, textCol: String, idCol: String,
      n: Int, blockCol: String, minContainment: Double): DataFrame = {
    require(minContainment > 0.0, "inverted index requires a positive threshold")
    val (counts, inter) = shingleIntersections(df, textCol, idCol, n, blockCol)
    inter
      .join(counts.toDF("id_a", "n_a"), "id_a")
      .join(counts.toDF("id_b", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") / col("n_a").cast("double"))
          .as("containment_in_a"),
        (col("__inter").cast("double") / col("n_b").cast("double"))
          .as("containment_in_b"))
      .where(col("containment_in_a") >= minContainment ||
        col("containment_in_b") >= minContainment)
  }

  /** EXACT token-set similarity join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Chaudhuri et al.
    * ICDE'06): every pair with Jaccard(tokens) ≥ `minJaccard`, zero
    * false negatives, WITHOUT a full inverted index and without
    * MinHash's false-negative risk.
    *
    * Where [[jaccardNeighbors]] posts EVERY distinct token of every doc
    * and accrues intersections across all shared tokens, this indexes
    * only each doc's PREFIX — its `|d| − ⌈τ·|d|⌉ + 1` globally rarest
    * tokens. Prefix-filtering lemma: under any global token order, two
    * sets with overlap ≥ α share a token inside their
    * `(size − α + 1)`-prefixes; Jaccard ≥ τ implies overlap ≥
    * ⌈τ·max(|A|,|B|)⌉ ≥ ⌈τ·|d|⌉ for each side, so the prefix join's
    * candidates are a guaranteed superset of the answer. At τ = 0.6 the
    * posting index shrinks ~2.5× and — decisive for scale — the
    * high-frequency head tokens (the skewed buckets that dominate a
    * full-index self-join) appear LAST in the document-frequency order
    * and mostly never enter any prefix. Candidates then pass a length
    * filter (τ·max ≤ min, a Jaccard necessity), PPJoin's POSITIONAL
    * filter (Xiao et al. WWW'08), and ONE exact array_intersect
    * verification per distinct pair.
    *
    * Positional filter, map-side-exact form: a matching row says token
    * t sits at full-list ranks (i, j) of docs (a, b) under the global
    * (df, token) order, so overlap ≤ common-before(i,j) + 1 +
    * min(|a|−i, |b|−j). For the pair's FIRST common token,
    * common-before = 1 (t itself) — and for any TRUE pair (Jaccard ≥ τ
    * ⇒ overlap ≥ τ·max(|a|,|b|)) that first common token provably lies
    * inside both code prefixes, so its row passes
    * `1 + min(|a|−i, |b|−j) ≥ τ/(1+τ)·(|a|+|b|)` and the pair survives
    * the distinct. Rows for later common tokens and most non-pair
    * collisions fail the test and are dropped BEFORE the pair-distinct
    * exchange — at sf4 on the scale ladder that exchange (plus its
    * spill) is this join's dominant cost, so the filter cuts exactly
    * the super-linear term's constant while keeping zero false
    * negatives (PrefixJoinSpec brute-force parity).
    *
    * Shuffles: token-df count, df join (token-keyed), per-doc rank
    * window (doc-keyed, bounded rows per doc), prefix self-join
    * (token-keyed), pair distinct, two id-keyed verify joins — all on
    * natural keys, no global ordering anywhere.
    */
  def prefixJaccardJoin(df: DataFrame, textCol: String, idCol: String,
      minJaccard: Double, n: Int = 1): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      "prefix filtering requires 0 < minJaccard <= 1")
    // Set representation: distinct tokens (n = 1) or distinct hashed
    // word n-gram shingles — unigram sets are too coarse for templated
    // corpora sharing a vocabulary; shingles carry word order.
    val setCol =
      if (n == 1) array_distinct(tokens(col(textCol)))
      else org.apache.spark.sql.graft.WordShingles
        .ofColumn(tokens(col(textCol)), n, hashed = true)
    val toks = df
      .select(col(idCol).as("__id"), setCol.as("__toks"))
      .withColumn("__sz", size(col("__toks")))
    val posting = toks.select(col("__id"), col("__sz"),
      explode(col("__toks")).as("__tok"))
    val dfreq = posting.groupBy("__tok").agg(count(lit(1)).as("__df"))
    // Rank each doc's tokens rarest-first; keep the prefix. The window
    // partitions by doc id — per-partition work is bounded by document
    // length, never corpus-wide.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__df"), col("__tok"))
    val prefix = posting.join(dfreq, "__tok")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= col("__sz") - ceil(col("__sz") * lit(minJaccard)) + 1)
      .select(col("__tok"), col("__id"), col("__sz"), col("__rn"))
    // ε guards the float comparison on the conservative side (keeps a
    // boundary row rather than dropping it): exactness must not hinge
    // on double rounding of τ/(1+τ)·(szA+szB).
    val requiredOverlap =
      lit(minJaccard / (1.0 + minJaccard)) *
        (col("sz_a") + col("sz_b")) - lit(1e-9)
    val cand = prefix.toDF("__tok", "id_a", "sz_a", "rn_a")
      .join(prefix.toDF("__tok", "id_b", "sz_b", "rn_b"), "__tok")
      .where(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")) >=
          greatest(col("sz_a"), col("sz_b")) * lit(minJaccard) &&
        lit(1) + least(col("sz_a") - col("rn_a"),
          col("sz_b") - col("rn_b")) >= requiredOverlap)
      .select("id_a", "id_b").distinct()
    cand
      .join(toks.select(col("__id").as("id_a"), col("__toks").as("__ta"),
        col("__sz").as("__na")), "id_a")
      .join(toks.select(col("__id").as("id_b"), col("__toks").as("__tb"),
        col("__sz").as("__nb")), "id_b")
      .withColumn("n_common", intersectionSize(col("__ta"), col("__tb")))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("__na") + col("__nb") - col("n_common")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** Blocked sorted-neighborhood near-dup pairs (the Sorted Blocks /
    * sorted-neighborhood-method family of entity resolution — Hernández
    * & Stolfo SIGMOD'95, Draisbach & Naumann 2011): records sort inside
    * a blocking key (their first `blockLen` characters) and every pair
    * within rank distance ≤ `windowSize` of the block's sort order is a
    * candidate, verified by exact n-gram-shingle Jaccard ≥ `minJaccard`.
    *
    * The third blocking geometry next to MinHash-LSH (random bands) and
    * prefix filtering (rare-token postings): candidate count is ≤ w per
    * record BY CONSTRUCTION — no hash-collision or posting-frequency
    * tail can blow it up, which makes SNM the bounded-cost pass over
    * corpora whose near-dups cluster under an orderable key (crawl
    * copies, versioned records, re-sends). Its known blind spot —
    * similar records whose keys diverge in the first characters — is
    * the documented multi-pass tradeoff, not a defect.
    *
    * Scale shape: the rank window partitions BY BLOCK (never a global
    * sort — per-block sorts distribute across the cluster and block
    * sizes bound task memory); neighbor probing is an EQUI-join on
    * (block, rank + offset) after a bounded `windowSize`-way explode of
    * slim (ids + rank) rows; shingle arrays join back by id onto the
    * ≤ n·w candidate rows only. */
  def sortedNeighborPairs(df: DataFrame, textCol: String, idCol: String,
      blockLen: Int, windowSize: Int, n: Int, minJaccard: Double): DataFrame = {
    require(windowSize >= 1 && blockLen >= 1)
    val sets = df.select(col(idCol).as("__id"),
      shingles(tokens(col(textCol)), n).as("__sh"))
      .withColumn("__sz", size(col("__sh")))
      .where(col("__sz") > 0)
    val ranked = df
      .select(col(idCol).as("__id"), col(textCol).as("__text"),
        substring(col(textCol), 1, blockLen).as("__block"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("__block").orderBy(col("__text"), col("__id"))))
    val probes = ranked.select(col("__block"), col("__id").as("__id_lo"),
      explode(sequence(col("__rn") + 1, col("__rn") + windowSize)).as("__rn"))
    val cand = probes
      .join(ranked.select(col("__block"), col("__rn"), col("__id").as("__id_hi")),
        Seq("__block", "__rn"))
      .select(least(col("__id_lo"), col("__id_hi")).as("id_a"),
        greatest(col("__id_lo"), col("__id_hi")).as("id_b"))
      .distinct()
    // Verification-attach strategy: under sort-merge, the pairs×arrays
    // intermediate of the FIRST attach is re-sorted by id_b for the
    // second — fat rows crossing a sort is where the ×160 ladder's
    // 28 GB spill lived. The default is shuffle-HASH: it exchanges the
    // linear-sized shingle frame but never sorts the fat intermediate
    // (build side = shingles, bounded per partition; streamed side =
    // slim pairs), and it WON every measured size — sf4: 4.1 s vs
    // 7.5 s broadcasting the same ~600 MB frame (driver collect +
    // relation rebuild outweigh the avoided exchange); sf16: 17.0 s /
    // zero spill vs the old sort-merge's 66.3 s / 28 GB. Broadcast is
    // explicit opt-in (spark.graft.snm.maxBroadcastBytes > 0, with a
    // token-count upper-bound probe — shingles of t tokens number
    // ≤ t − n + 1, so no md5/distinct pass) for deployments whose pair
    // volume dwarfs a tiny corpus; unlike the tf-idf scorer there is
    // no measured regime where it wins here, so it earns no default.
    // Audit mode (spark.graft.materialize=false) skips the probe so
    // plan inspection stays job-free.
    val spark = df.sparkSession
    val materialize =
      spark.conf.get("spark.graft.materialize", "true").toBoolean
    val maxBcast = graft.operators.MemGate.gateBytes(
      spark, "spark.graft.snm.maxBroadcastBytes", default = 0L)
    // One size probe serves both join-strategy gates (broadcast opt-in
    // AND the SHJ build bound below): token-count upper bound, no
    // md5/distinct pass. Audit mode stays job-free (None → the
    // default-shaped plan).
    val frameBytes: Option[Long] =
      if (!materialize) None
      else {
        val s = df.agg(count(lit(1)).as("n"),
          coalesce(sum(size(tokens(col(textCol)))), lit(0L)).as("t")).head()
        Some(s.getLong(0) * 64L + s.getLong(1) * 56L)
      }
    val useBroadcast = maxBcast > 0 && frameBytes.exists(_ <= maxBcast)
    // SHJ's build side (the per-partition slice of the shingle frame)
    // CANNOT spill — a corpus large enough that frameBytes /
    // shuffle.partitions outgrows task memory would OOM tasks where
    // sort-merge spilled to disk. So the shuffle_hash default holds
    // only while the estimated per-partition build fits the same
    // heap-aware envelope MemGate uses for broadcasts (the hash
    // relation costs several times the data bytes — one gate, one
    // blowup model); past it, the join falls to sort-merge, the
    // spill-capable last resort. At the measured rungs SHJ always
    // wins AND always fits (sf16: ~600 MB frame / 32 partitions ≈
    // 19 MB build per task); the gate exists for the 100 TB corpus
    // whose operator forgot to scale spark.sql.shuffle.partitions.
    val shjGate = graft.operators.MemGate.gateBytes(
      spark, "spark.graft.snm.shjMaxBuildBytes",
      default = graft.operators.MemGate.defaultMaxBroadcastBytes(spark))
    val shufflePartitions = math.max(1,
      try spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
      catch { case _: NumberFormatException => 200 })
    val useShj = frameBytes.forall(_ / shufflePartitions <= shjGate)
    def hinted(d: DataFrame): DataFrame =
      if (useBroadcast) broadcast(d)
      else if (useShj) d.hint("shuffle_hash")
      else d.hint("merge")
    // ONE hinted frame serves both probes, un-aliased, so the two
    // joins' exchange subplans are identical and ReuseExchange keeps a
    // single broadcast relation resident per executor (the qd_tfidf
    // lesson — per-side aliases between exchange and join defeat the
    // reuse and double the footprint). Renames happen on the joined
    // output.
    val attach = hinted(sets.select(col("__id"), col("__sh"), col("__sz")))
    cand
      .join(attach, cand("id_a") === attach("__id"))
      .drop("__id")
      .withColumnsRenamed(Map("__sh" -> "__sha", "__sz" -> "__na"))
      .join(attach, col("id_b") === attach("__id"))
      .drop("__id")
      .withColumnsRenamed(Map("__sh" -> "__shb", "__sz" -> "__nb"))
      .withColumn("n_common", intersectionSize(col("__sha"), col("__shb")))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("__na") + col("__nb") - col("n_common")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** Shared inverted-index core of [[jaccardNeighbors]] /
    * [[containmentNeighbors]]: per-doc distinct-shingle counts and
    * per-pair intersection counts, pairs generated bucket-locally. */
  private def shingleIntersections(df: DataFrame, textCol: String,
      idCol: String, n: Int, blockCol: String): (DataFrame, DataFrame) = {
    // Raw word shingles: unlike ngramJaccardPairs' arrays these never
    // appear in output, so there is nothing to gain from hashing them —
    // the string itself is the posting key. Native one-pass expression;
    // see Portable.shingles for the equivalence contract.
    val sh = org.apache.spark.sql.graft.WordShingles
      .ofColumn(col("__toks"), n, hashed = false)
    // explode_outer, not explode: InferFiltersFromGenerate would bolt a
    // size(...)>0 filter onto a plain explode, and predicate pushdown
    // then re-inlines the whole shingle transform into that filter —
    // evaluating it twice per row. The outer variant infers no filter;
    // the null row from empty arrays is dropped afterwards, where the
    // predicate sits on the GENERATED attribute and cannot sink.
    // NOT materialized — measured and rejected in r14: checkpointing
    // the exploded posting list (the fattest pre-aggregation
    // intermediate) stored every posting row where the inline shape
    // pipelines the explode straight into the partial aggregations
    // (counts / bucket-combination) inside one stage, and AQE's
    // ReusedExchange already dedupes the two count-join probes at the
    // post-aggregation (small) level. Interleaved same-session A/B:
    // barriers-on ran qd_components/qp_weights/qd_cluster_cohesion at
    // 2.0-3.6 s where the pipelined shape ran 1.0-1.9 s — the barrier
    // was the regression, matching guide §2.3 "aggregate before you
    // shuffle" (and before you store).
    val posting = df
      .select(col(blockCol).as("__block"), col(idCol).as("__id"),
        tokens(col(textCol)).as("__toks"))
      .select(col("__block"), col("__id"), sh.as("__sh"))
      .select(col("__block"), col("__id"),
        explode_outer(col("__sh")).as("__shingle"))
      .where(col("__shingle").isNotNull)
    // Postings are distinct (id, shingle) by construction, so the
    // per-doc posting count IS the distinct-shingle cardinality |A|.
    // Set sizes travel via two joins on the (much smaller) pair set
    // rather than as structs through the combination explode — carrying
    // (id, n) structs through sort_array/posexplode/explode plus
    // first() aggregates measured ~2× the count-only path.
    val counts = posting.groupBy("__id").agg(count(lit(1)).as("__n"))
    // Bucket-local combination generation (same shape as the LSH pair
    // path), with the same hot-bucket repartition barrier.
    val inter = posting
      .groupBy("__block", "__shingle")
      .agg(sort_array(collect_list(col("__id"))).as("__ids"))
      .where(size(col("__ids")) > 1)
      .select(posexplode(col("__ids")).as(Seq("__pos", "id_a")), col("__ids"))
      .repartition(col("id_a"))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__pos") + 2, size(col("__ids")))).as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__inter"))
    (counts, inter)
  }

  /** Connected components over a near-duplicate pair graph: every vertex
    * gets the minimum reachable id as its `component_id` (the canonical
    * document of its duplicate cluster).
    *
    * Iterative min-label propagation: each round joins current labels
    * across edges and keeps the per-vertex minimum, until no label
    * changes. Rounds cost one shuffle over the edge set; near-dup graphs
    * have tiny diameter (dup clusters are near-cliques from LSH/Jaccard
    * blocking), so convergence is 2-3 rounds in practice — the standard
    * scalable formulation (driver only sees one count per round).
    *
    * Components are computed over the subgraph INDUCED by `vertices`:
    * edges touching an id outside the vertex set are dropped up front.
    * (Without that filter, non-vertex endpoints enter the label frame
    * with no self row, so their improvements never count toward the
    * convergence check and a chain relayed through them can terminate
    * early — silently underlabeled.)
    *
    * @param vertices single-column DataFrame of vertex ids
    * @param edges    two-column DataFrame (id_a, id_b), undirected
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val idCol = vertices.columns.head
    val Seq(ea, eb) = edges.columns.take(2).toSeq
    // The edge set is re-joined every round — materialise it once, or an
    // expensive upstream (LSH, jaccard) recomputes per iteration. Cache
    // it PARTITIONED ON THE JOIN KEY: every round's propagation join
    // then reuses the cached partitioning, so only the (smaller) label
    // side exchanges — and the label side arrives hash-partitioned on
    // __id from the previous round's aggregation, making the join
    // exchange-free from round 2 on.
    val vset = vertices.select(col(idCol).as("__v"))
    // NOT materialized (r15, reverting an r14 barrier): the union
    // below inlines this frame twice, but both branches share the
    // identical edge-build subtree, so ReuseExchange dedupes every
    // shuffle stage of the generator — only the segment after the
    // LAST exchange (e.g. the jaccard threshold filter over pair
    // counts) runs twice, and that tail is proportional to the
    // CANDIDATE PAIR count, not the corpus. The r14 checkpoint
    // bought nothing the reuse did not already give and cost a full
    // write+read of the |E| frame plus a lost pipeline stage:
    // stage-profiled this round on qd_cluster_labels, barrier-ON ran
    // 88.6 s of task time / 6.6 s warm where barrier-OFF ran 65.7 s /
    // 5.9 s, with the OFF profile showing the shingle and posting
    // stages executing ONCE (ReusedExchange) and only the 2.3 s
    // pair-rollup tail twice. The driver's r14 bench saw the same:
    // every connectedComponents consumer regressed 20-35%.
    val e0 = edges.select(col(ea).as("__src"), col(eb).as("__dst"))
    val e = e0
      .union(e0.select(col("__dst").as("__src"), col("__src").as("__dst")))
      .join(vset.withColumnRenamed("__v", "__src"), Seq("__src"), "left_semi")
      .join(vset.withColumnRenamed("__v", "__dst"), Seq("__dst"), "left_semi")
      .repartition(col("__src"))
      .cache()
    var labels = vertices.select(col(idCol).as("__id"), col(idCol).as("__comp"))
      .cache()
    // labels becomes a PROJECTION of the round's cached aggregate;
    // unpersist must target the cached frame itself.
    var cached = labels
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // Round 1 propagates IDENTITY labels, so the label join collapses
      // to a projection of the edge set — safe ONLY because e is
      // already filtered to vertex endpoints (induced subgraph above):
      // every __src is a vertex carrying its own id as label.
      val prop =
        if (iter == 0)
          e.select(col("__dst").as("__id"), col("__src").as("__comp"),
            lit(0).as("__self"))
        else e.join(labels, col("__src") === col("__id"))
          .select(col("__dst").as("__id"), col("__comp"), lit(0).as("__self"))
      // Convergence detection folds into the SAME aggregation: the
      // self row (one per vertex, flagged) carries the old label, so
      // "did anything improve" is a filter on the aggregate — no
      // next⋈labels comparison join per round.
      val agg = labels.withColumn("__self", lit(1)).union(prop)
        .groupBy("__id").agg(min("__comp").as("__comp"),
          min(when(col("__self") === 1, col("__comp"))).as("__old"))
        .cache()
      changed = agg.where(col("__comp") < col("__old")).count()
      cached.unpersist()
      cached = agg
      labels = agg.select("__id", "__comp")
      iter += 1
    }
    e.unpersist()
    // Wrong-but-plausible labels are worse than failing: a graph whose
    // diameter exceeds maxIter must not silently mislabel the tail.
    if (changed > 0) {
      cached.unpersist() // don't pin the partial result on failure
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          s"($changed labels still changing); raise maxIter")
    }
    // labels stays cached: one small row per vertex, and dropping it
    // would re-derive the whole iteration chain on first use. The
    // r14 unconditional checkpoint-truncation of the RETURNED frame
    // is now GATED on round count (r15): consumers hit the cache for
    // DATA either way, so the truncation only ever bought Catalyst
    // analysis time on the iteration-deep logical plan — and for the
    // 2-3-round near-clique graphs every contract query produces, the
    // extra materialization pass cost more wall than the analysis it
    // saved (driver r14: qd_cluster_labels/cohesion/qp_weights
    // regressed 20-35%; r15 stage profile: barrier-ON 88.6 s task /
    // 6.6 s warm vs OFF 65.7 s / 5.9 s on qd_cluster_labels). Deep
    // iterations (pathological diameters) still truncate — there the
    // per-round plan growth genuinely dominates.
    val out = labels.select(col("__id").as(idCol),
      col("__comp").as("component_id"))
    if (iter >= 8) graft.operators.Materialize.once(out) else out
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the O(log n)-round alternative to
    * [[connectedComponents]]'s min-label propagation, whose round count
    * is the graph DIAMETER. Near-dup graphs are near-cliques (diameter
    * 2-3) where propagation wins on constant factors; chain-shaped
    * graphs (entity-resolution link chains, temporal edges) have
    * diameter O(n) where propagation needs O(n) shuffles and this
    * needs O(log n). StarComponentsSpec demonstrates exactly that: a
    * 60-vertex path (diameter 59) converges here in 7 rounds while
    * propagation exhausts an 8-round budget.
    *
    * Each round is two relational contractions over the CANONICAL edge
    * set (hi > lo), no per-node adjacency arrays — a grouped min +
    * equi-join each, so per-round memory is O(1) per edge regardless
    * of degree skew:
    *  - large-star: every node's LARGER neighbors reconnect to the
    *    minimum of its neighborhood (min computed by groupBy, joined
    *    back; never a collect_list);
    *  - small-star: every node and its SMALLER neighbors reconnect to
    *    its smallest neighbor.
    * Both preserve connectivity; the fixpoint is a star forest whose
    * centers are component minima, read off as (leaf → center) edges.
    * Convergence check = one left-anti count per round over cached
    * frames (set equality: no new edge outside old ∧ equal sizes).
    *
    * Same induced-subgraph and fail-loud contracts as
    * [[connectedComponents]]. */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val idCol = vertices.columns.head
    val Seq(ea, eb) = edges.columns.take(2).toSeq
    val vset = vertices.select(col(idCol).as("__v"))
    // Canonical orientation (__hi > __lo), induced on the vertex set,
    // self-loops dropped, deduplicated. Each round's edge set is
    // localCheckpoint'ed, NOT cached: the round's plan references the
    // previous round's frame ~6 times, so with cache alone the LOGICAL
    // plan still grows 6^rounds nodes and Catalyst analysis, not the
    // data, becomes the bottleneck by round 7. The checkpoint
    // materializes AND truncates lineage, keeping every round's plan
    // constant-size. DISK_ONLY round blocks (not the MEMORY_AND_DISK
    // default): superseded rounds are reclaimed only when the driver
    // GCs the owning RDDs, and accumulated rounds of an |E|-scale
    // frame can fill the protected storage region and starve execution
    // memory — the exact OOM the scale ladder caught in kCore's loop
    // at the ×160 rung. A round frame is re-read at most three times;
    // disk blocks pin no memory.
    // Round-block storage level is SIZE-GATED (r15): DISK_ONLY remains
    // the guard for |E|-scale frames (see the OOM note above), but a
    // bench-SF or late-round frame of < 10⁶ edges is ≤ ~16 MB
    // serialized — parking that on disk made every consumer task pay
    // a block-file read under host IO contention for no memory-safety
    // gain. eCount is measured each round, so a 100 TB run's early
    // rounds stay on disk and the shrunken tail graduates to memory.
    val diskOnlyLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY
    val memLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    def roundLevel(edgesNow: Long) =
      if (edgesNow < 1000000L) memLevel else diskOnlyLevel
    var e = edges
      .select(greatest(col(ea), col(eb)).as("__hi"),
        least(col(ea), col(eb)).as("__lo"))
      .where(col("__hi") =!= col("__lo"))
      .join(vset.withColumnRenamed("__v", "__hi"), Seq("__hi"), "left_semi")
      .join(vset.withColumnRenamed("__v", "__lo"), Seq("__lo"), "left_semi")
      .distinct()
      .localCheckpoint(true, diskOnlyLevel)
    var eCount = e.count()
    var iter = 0
    var converged = eCount == 0L
    val ccVerbose = sys.env.get("GRAFT_CC_VERBOSE").contains("1")
    if (ccVerbose) println(s"[cc] init edges=$eCount")
    // MEASURED AND REJECTED (r15): disabling AQE for small rounds
    // (scoped conf toggle, threshold-gated on eCount) to collapse the
    // ~6 stage-jobs per round into one job made the loop 2.3× SLOWER
    // (qm_phash_clusters 4.6 s → 10.6 s warm, 207 s task): without
    // AQE's partition coalescing every round stage ran 32-64 tasks
    // instead of 1-2, and this suite's dominant per-task fixed cost
    // (~100-300 ms of shared-dependency wait billed to every
    // concurrently-launched task) multiplied by the task count. AQE's
    // byte-based coalescing is protective for the kilobyte iteration
    // frames; the per-round driver latency is the cheaper poison.
    while (!converged && iter < maxIter) {
      // large-star: adjacency from both directions; m(u) = min(N(u) ∪ {u});
      // larger neighbors v > u re-attach to m(u). m ≤ u < v keeps the
      // output canonical with no orientation fixup.
      val adj = e.select(col("__hi").as("__u"), col("__lo").as("__n"))
        .union(e.select(col("__lo").as("__u"), col("__hi").as("__n")))
      val lmins = adj.groupBy("__u")
        .agg(least(min(col("__n")), col("__u")).as("__m"))
      val large = adj.join(lmins, "__u")
        .where(col("__n") > col("__u"))
        .select(col("__n").as("__hi"), col("__m").as("__lo"))
        .distinct()
      // small-star on the canonical (down-pointing) edges: per hi, all
      // smaller neighbors and hi itself re-attach to min(lo).
      val smins = large.groupBy("__hi").agg(min(col("__lo")).as("__m"))
      val next = large.join(smins, "__hi")
        .where(col("__lo") =!= col("__m"))
        .select(col("__lo").as("__hi"), col("__m").as("__lo"))
        .union(smins.select(col("__hi"), col("__m").as("__lo")))
        .distinct()
        // a round never grows the edge set, so the previous round's
        // count bounds this one — a valid gate for the level choice.
        .localCheckpoint(true, roundLevel(eCount))
      val nextCount = next.count()
      // Set equality needs the anti-join only on candidate fixpoints
      // (counts already equal) — shrinking rounds skip the join job.
      converged = nextCount == eCount &&
        next.join(e, Seq("__hi", "__lo"), "left_anti").isEmpty
      e = next
      eCount = nextCount
      iter += 1
      if (ccVerbose) println(s"[cc] iter=$iter edges=$eCount converged=$converged")
    }
    if (!converged && eCount > 0) {
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds; " +
          "raise maxIter")
    }
    // Fixpoint stars: every non-center vertex is __hi in exactly one
    // (leaf → center) edge; centers and isolated vertices label
    // themselves. min() guards the (never-observed) multi-edge case.
    val roots = e.groupBy(col("__hi").as("__id")).agg(min("__lo").as("__root"))
    vertices.select(col(idCol))
      .join(roots, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("__root"), col(idCol)).as("component_id"))
  }

  /** Per-vertex triangle counts over an undirected pair graph — the
    * clustering-coefficient numerator, the standard "is this near-dup
    * neighborhood a dense clique or a thin chain" density signal
    * (chains survive canonicalization as weakly-linked distinct docs;
    * cliques are true duplicate groups).
    *
    * Degree-ordered node-iterator (Suri & Vassilvitskii's MR adaption):
    * every edge orients from its lower-(degree, id) endpoint to the
    * higher, wedges pair each source's out-neighbors, and a wedge is a
    * triangle iff its closing edge exists (one semi-join). The
    * orientation is the scale guarantee: out-degrees are bounded by
    * O(√m) regardless of hub skew, so the wedge self-join is
    * O(m^{3/2}) total — an id-ordered orientation would square the max
    * hub degree instead. Each triangle is found at exactly one apex
    * (its order-minimal vertex), then credited to all three corners.
    *
    * @param edges two-column (id_a, id_b) undirected; self-loops and
    *              duplicates dropped. Returns (vertex, n_triangles) for
    *              vertices in ≥ 1 triangle. */
  def trianglesPerVertex(edges: DataFrame): DataFrame = {
    val Seq(ea, eb) = edges.columns.take(2).toSeq
    val e = edges.select(least(col(ea), col(eb)).as("__a"),
        greatest(col(ea), col(eb)).as("__b"))
      // Consumed three times (degrees, orientation, closure probe).
      // localCheckpoint, not cache(): blocks are owned by the RDD and
      // reclaimed by the ContextCleaner when the frame goes out of
      // scope, so repeated invocations in a long-lived session cannot
      // accumulate pinned CacheManager entries.
      .where(col("__a") =!= col("__b")).distinct()
      .localCheckpoint()
    trianglesOfCanonical(e)
  }

  /** Core of [[trianglesPerVertex]] over an ALREADY-canonical
    * (a < b, deduped, preferably cached) edge frame — callers that
    * also consume the edge set themselves (e.g.
    * [[clusteringCoefficient]]) pass their cached canonical frame here
    * so the expensive upstream pair generation is evaluated once, not
    * once per consumer. */
  private[graft] def trianglesOfCanonical(e: DataFrame): DataFrame = {
    val deg = e.select(col("__a").as("__v"))
      .union(e.select(col("__b").as("__v")))
      .groupBy("__v").agg(count(lit(1)).as("__d"))
    val oriented = e
      .join(deg.select(col("__v").as("__a"), col("__d").as("__da")), "__a")
      .join(deg.select(col("__v").as("__b"), col("__d").as("__db")), "__b")
      .select(when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("__a") < col("__b")),
        struct(col("__a").as("s"), col("__b").as("t")))
        .otherwise(struct(col("__b").as("s"), col("__a").as("t"))).as("__o"))
      .select(col("__o.s").as("__src"), col("__o.t").as("__dst"))
    // Unordered out-neighbor pairs dedup by id; the closing probe is
    // then exactly the canonical (min, max) edge key.
    val wedges = oriented.toDF("__src", "__n1")
      .join(oriented.toDF("__src", "__n2"), "__src")
      .where(col("__n1") < col("__n2"))
    // Rename the probe side: wedges derive from e, and a by-name
    // condition over disjoint names sidesteps self-join ambiguity.
    val tri = wedges.join(e.toDF("__p1", "__p2"),
      col("__n1") === col("__p1") && col("__n2") === col("__p2"), "left_semi")
    tri.select(explode(array(col("__src"), col("__n1"), col("__n2"))).as("__v"))
      .groupBy("__v").agg(count(lit(1)).as("n_triangles"))
      .withColumnRenamed("__v", "vertex")
  }

  /** The k-core of an undirected pair graph: the maximal subgraph where
    * every vertex keeps degree ≥ k, by iterative peeling — drop
    * vertices below k, recompute degrees, repeat until stable. The
    * dedup-graph robustness filter: a vertex's 2-core membership means
    * its near-dup neighborhood survives the removal of any single
    * spurious pair, so canonicalization is not hinging on one LSH
    * false positive; k-cores are likewise the standard spam/bot
    * community seed in interaction graphs.
    *
    * Each round is a grouped degree count + two semi-joins (shuffle on
    * the edge key), with [[connectedComponentsStar]]'s localCheckpoint
    * lineage truncation; round count is bounded by the peeling depth
    * (typically a handful — 5 on the test embedding graph), never the
    * vertex count. Converged when an entire round drops nothing; fails
    * loudly past `maxIter` rather than returning a half-peeled graph.
    * Peeling is idempotent at the fixpoint, which is what lets a
    * fixed-depth replay (the oracle) reproduce the converged result.
    * Returns (vertex, core_degree) over the surviving subgraph. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 14): DataFrame = {
    require(k >= 1, "k must be positive")
    val Seq(ea, eb) = edges.columns.take(2).toSeq
    // DISK_ONLY round checkpoints, not the MEMORY_AND_DISK default:
    // superseded rounds' blocks are freed only when the driver GCs the
    // owning RDDs, and at the ×160 scale rung the accumulated rounds
    // filled the protected storage region and starved execution memory
    // outright (SparkOutOfMemoryError UNABLE_TO_ACQUIRE_MEMORY — found
    // by the scale ladder). Disk blocks pin no memory, each round's
    // frame is read back at most twice, and the dead-block backlog is
    // bounded by disk, which the same rung has 40 GB of headroom on.
    val roundLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY
    var e = edges.select(least(col(ea), col(eb)).as("__a"),
        greatest(col(ea), col(eb)).as("__b"))
      .where(col("__a") =!= col("__b")).distinct()
      .localCheckpoint(true, roundLevel)
    var eCount = e.count()
    var iter = 0
    var stable = eCount == 0L
    while (!stable && iter < maxIter) {
      val deg = e.select(col("__a").as("__v"))
        .union(e.select(col("__b").as("__v")))
        .groupBy("__v").agg(count(lit(1)).as("__d"))
      val keep = deg.where(col("__d") >= k).select("__v")
      val next = e
        .join(keep.withColumnRenamed("__v", "__a"), Seq("__a"), "left_semi")
        .join(keep.withColumnRenamed("__v", "__b"), Seq("__b"), "left_semi")
        .localCheckpoint(true, roundLevel)
      val n = next.count()
      // No edge dropped ⇒ every surviving endpoint already had degree
      // ≥ k ⇒ fixpoint.
      stable = n == eCount
      e = next
      eCount = n
      iter += 1
    }
    if (!stable && eCount > 0) {
      throw new IllegalStateException(
        s"kCore did not stabilise in $maxIter rounds; raise maxIter")
    }
    e.select(col("__a").as("vertex")).union(e.select(col("__b").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).as("core_degree"))
  }

  /** PageRank over the undirected pair graph (each edge walked both
    * ways), fixed iteration count, damping d = 0.85 — the centrality
    * read that picks the most-connected document of a near-dup cluster
    * as its canonical representative (highest-PageRank member sits at
    * the cluster's lexical/semantic center of mass, where min-id
    * election is arbitrary).
    *
    * Each iteration is one join of the edge list with the current rank
    * frame (shuffle on the vertex key, map-side combinable sum) with
    * localCheckpoint lineage truncation; the undirected graph has no
    * dangling vertices (every endpoint has degree ≥ 1), so total mass
    * stays exactly 1 and no dangling redistribution pass is needed.
    * Cross-engine exactness: per-edge contributions pr/deg are
    * row-local IEEE doubles, their per-vertex sum goes through
    * DECIMAL(38,18) casts (accumulation-order-exact), and the teleport
    * and damping terms are the same double ops on both engines, so
    * the state is bit-identical after every iteration and a fixed
    * unrolled replay (the oracle) reproduces it exactly.
    * Returns (vertex, pagerank) with pagerank rounded to 9 dp. */
  def pageRank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "iterations must be positive")
    val Seq(ea, eb) = edges.columns.take(2).toSeq
    // Canonical edge set materialized before the two-way union (r14):
    // the union inlines `und` twice and the degree join references the
    // directed frame again, so the upstream edge generator (LSH
    // banding + cosine for the contract queries) was executed more
    // than once building `weighted` — AQE's exchange reuse caught SOME
    // of the duplication but not across the checkpoint job boundary.
    // One block-backed copy of the canonical edges makes every
    // downstream pass (union, degree count, weight join) read blocks.
    val und = graft.operators.Materialize.once(
      edges.select(least(col(ea), col(eb)).as("__a"),
          greatest(col(ea), col(eb)).as("__b"))
        .where(col("__a") =!= col("__b")).distinct())
    val directed = und.select(col("__a").as("__src"), col("__b").as("__dst"))
      .union(und.select(col("__b").as("__src"), col("__a").as("__dst")))
    val deg = directed.groupBy("__src").agg(count(lit(1)).as("__deg"))
    // Fold the out-degree into the edge list ONCE: each edge carries
    // its source's degree, so the per-iteration plan is a single
    // join + grouped sum instead of re-joining the degree table every
    // round (10 joins and their shuffles gone over a 10-iteration run).
    // The contribution stays the literal division __pr / deg — NOT a
    // precomputed 1/deg multiply, which would round twice and could
    // drift a ulp from the oracle's division.
    // Hash-partition the edge list by the join key BEFORE the one-time
    // checkpoint: every round joins on __src, and a checkpointed
    // hash-partitioned big side satisfies the join's distribution
    // requirement outright — only the (|V|-row) rank frame exchanges
    // each round, never the (|E|-row) edge frame.
    val weighted = directed.join(deg, Seq("__src"))
      .select(col("__src"), col("__dst"), col("__deg").cast("double").as("__d"))
      .repartition(col("__src"))
      .localCheckpoint()
    // Vertex set and count come FROM the checkpointed edge frame, not
    // from `deg` (r14): deg embeds the whole upstream edge build (LSH
    // banding + cosine for the contract queries), so `deg.count()` and
    // the pr chain's first rounds each re-ran it — stage-profiled as
    // three ~19 s-task executions per query run. distinct __src over
    // checkpoint blocks is the same vertex set (every source appears in
    // weighted; the join is inner on deg's own key), and n is its count.
    val vertices = weighted.select("__src").distinct().localCheckpoint()
    val n = vertices.count().toDouble
    // Empty graph: no vertices, no ranks — return the empty frame
    // instead of letting the 1/n and teleport constants fold into a
    // DIVIDE_BY_ZERO under ANSI mode (a QC run over a filtered-to-empty
    // corpus must report nothing, not throw).
    if (n == 0) {
      return vertices.select(col("__src").as("vertex"),
        lit(0.0).as("pagerank")).where(lit(false))
    }
    val teleport = (1.0 - damping) / n
    var pr = vertices.select(col("__src"), (lit(1.0) / lit(n)).as("__pr"))
    for (i <- 1 to iterations) {
      val contrib = weighted.join(pr, Seq("__src"))
        .select(col("__dst"), (col("__pr") / col("__d")).as("__c"))
      // Every vertex has an in-edge (undirected), so the grouped sum
      // covers the full vertex set — no outer-join backfill needed.
      pr = contrib.groupBy("__dst")
        .agg(sum(col("__c").cast("decimal(38,18)")).cast("double").as("__s"))
        .select(col("__dst").as("__src"),
          (lit(teleport) + lit(damping) * col("__s")).as("__pr"))
      // Truncate lineage every third round (and at the end): each
      // checkpoint is an eager materialization barrier, and per-round
      // checkpoints made the barrier — not the math — the dominant
      // cost; three chained iterations keep the plan shallow enough
      // for the optimizer while amortizing the barrier 3×.
      if (i % 3 == 0 || i == iterations) pr = pr.localCheckpoint()
    }
    pr.select(col("__src").as("vertex"), round(col("__pr"), 9).as("pagerank"))
  }

  /** Adamic–Adar link prediction over the undirected pair graph: every
    * NON-adjacent vertex pair (u, v) sharing at least one neighbor is
    * scored Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — common neighbors weighted
    * by how informative they are (a rare shared neighbor says more
    * than a hub). On a near-dup graph this ranks the edges the LSH
    * bucketing most likely MISSED: two documents tied to the same
    * small duplicate neighborhood but never landing in a shared
    * bucket. Top-N candidates feed a targeted exact-cosine recheck —
    * the cheap recall-repair loop.
    *
    * Shape: wedge enumeration (center-keyed self-join of the neighbor
    * list — the same O(Σ deg²) frontier as the triangle counter), an
    * anti-join against the existing edge set, one grouped sum.
    * Centers above `maxCenterDegree` are excluded: a hub costs deg²
    * wedges and carries the least information (1/ln(deg) → 0) — the
    * standard truncation in link prediction at scale. Cross-engine
    * exactness: per-wedge contributions are row-local IEEE doubles
    * summed through DECIMAL(38,18) (accumulation-order-exact, the
    * [[pageRank]] discipline), rounded once to 6; the top-N cut is
    * TakeOrdered with a full (score, id_a, id_b) tie-break so the
    * selected SET is deterministic.
    * Returns (rank, id_a, id_b, n_common, aa_score). */
  def adamicAdar(edges: DataFrame, maxCenterDegree: Int = 64,
      topN: Int = 50): DataFrame = {
    val Seq(ea, eb) = edges.columns.take(2).toSeq
    val e = edges.select(least(col(ea), col(eb)).as("__a"),
        greatest(col(ea), col(eb)).as("__b"))
      .where(col("__a") =!= col("__b")).distinct()
      .localCheckpoint()
    val nbr = e.select(col("__a").as("__w"), col("__b").as("__u"))
      .union(e.select(col("__b").as("__w"), col("__a").as("__u")))
    val deg = nbr.groupBy("__w").agg(count(lit(1)).as("__d"))
    // 1/ln(deg) is defined only for deg ≥ 2 — and a degree-1 center
    // spans no wedge anyway, so the bound drops nothing.
    val centers = nbr.join(
        deg.where(col("__d") >= 2 && col("__d") <= maxCenterDegree), "__w")
      .select(col("__w"), col("__u"),
        (lit(1.0) / log(col("__d").cast("double"))).as("__c"))
    val wedges = centers.toDF("__w", "__u1", "__c")
      .join(centers.select("__w", "__u").toDF("__w", "__u2"), "__w")
      .where(col("__u1") < col("__u2"))
    val cand = wedges.join(e.toDF("__p1", "__p2"),
      col("__u1") === col("__p1") && col("__u2") === col("__p2"),
      "left_anti")
    cand.groupBy(col("__u1").as("id_a"), col("__u2").as("id_b"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("__c").cast("decimal(38,18)")).cast("double").as("__s"))
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("__s"), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("id_a"), col("id_b"))
      .limit(topN)
      // Rank AFTER the TakeOrdered cut: the window sees ≤ topN rows,
      // never the unbounded candidate frame.
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("aa_score").desc, col("id_a"), col("id_b"))).cast("bigint"))
      .select("rank", "id_a", "id_b", "n_common", "aa_score")
  }

  /** Local clustering coefficient per vertex: 2T/(d(d−1)) over the
    * undirected pair graph — triangles from [[trianglesPerVertex]],
    * degrees from one grouped count, a left join filling T = 0. Rows
    * for every vertex of degree ≥ 2 (degree-1 vertices have no possible
    * triangle and an undefined denominator). The per-neighborhood
    * density read: ≈1 means the near-dup neighborhood is a clique
    * (true duplicate group), ≈0 a thin chain gluing unrelated docs.
    * Returns (vertex, degree, n_triangles, clustering_coef). */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val Seq(ea, eb) = edges.columns.take(2).toSeq
    // Materialize the canonical edge set HERE and hand it to the
    // triangle core: the upstream edge generation (the LSH-bucketed
    // cosine join for the embedding graph) is the dominant cost, and
    // without sharing it would run twice — once for the degree count,
    // once inside the triangle counter. localCheckpoint, not cache():
    // blocks die with the frame reference instead of pinning a
    // CacheManager entry across invocations.
    val e = edges.select(least(col(ea), col(eb)).as("__a"),
        greatest(col(ea), col(eb)).as("__b"))
      .where(col("__a") =!= col("__b")).distinct()
      .localCheckpoint()
    val deg = e.select(col("__a").as("vertex"))
      .union(e.select(col("__b").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).as("degree"))
    deg.where(col("degree") >= 2)
      .join(trianglesOfCanonical(e), Seq("vertex"), "left")
      .select(col("vertex"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
          (col("degree") * (col("degree") - 1)), 6).as("clustering_coef"))
  }

  /** Deduplicated corpus: keep only each near-dup cluster's canonical
    * row (minimum id), where clusters are connected components of
    * `edges` (e.g. [[jaccardNeighbors]] or [[minhashCandidatePairs]]
    * output). Non-canonical rows drop; rows in no cluster survive. */
  def canonicalize(df: DataFrame, idCol: String, edges: DataFrame): DataFrame = {
    val comps = connectedComponents(df.select(idCol), edges)
    df.join(
      comps.where(col(idCol) === col("component_id")).select(idCol),
      Seq(idCol), "left_semi")
  }

  /** Cosine similarity for every pair of rows sharing `blockCol`
    * (embedding near-dup). Returns (id_a, id_b, cosine). */
  def embeddingPairs(df: DataFrame, vecCol: String, idCol: String,
      blockCol: String): DataFrame = {
    val prepared = df.select(col(blockCol).as("__block"), col(idCol).as("__id"),
      asDoubles(col(vecCol)).as("__v"))
      .withColumn("__norm", sqrt(dot(col("__v"), col("__v")))) // once per row
    val a = prepared.toDF("__block", "id_a", "v_a", "norm_a")
    val b = prepared.toDF("__block", "id_b", "v_b", "norm_b")
    a.join(b, Seq("__block")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("v_a"), col("v_b")) / (col("norm_a") * col("norm_b")), 6)
          .as("cosine"))
  }

  /** Scale-safe near-dup edge generator: hyperplane-LSH buckets block
    * the candidate space, same-bucket pairs above `minCosine` become
    * edges. This is the 100 TB-shaped replacement for
    * [[embeddingPairs]]'s label-blocked all-pairs join: label blocks
    * grow linearly with the corpus (O(n²/|labels|) pair work — 100×
    * data = 10,000× pairs), whereas the bucket count here is 2^numPlanes
    * — an operator knob that scales the blocking with the corpus
    * (16–24 planes at billion-row scale) while the join stays a plain
    * shuffle on the bucket key. Recall is approximate by design (a pair
    * split across buckets is missed — Charikar's collision bound
    * 1 − θ/π per plane); the graph-analytics consumers (PageRank,
    * triangles, k-core, clustering coefficient) need *a* near-dup
    * graph, not the exact threshold graph, and the deterministic
    * md5-derived planes ([[graft.similarity.Knn.planes]]) make the
    * bucketing reproducible in any engine — the DuckDB oracles replay
    * it bit-exactly. Returns (id_a, id_b, cosine), id_a < id_b.
    *
    * SIZING: `numPlanes` must scale with the corpus — buckets hold
    * n / 2^numPlanes rows on average and same-bucket pair generation is
    * Σ C(bucket, 2), so a pinned plane count goes QUADRATIC once
    * n ≫ 2^numPlanes. Measured on the ×160 scale ladder (320 k
    * vectors): planes=6 → 125.5 M edges / 89 s; planes=12 →
    * 17.8 M / 3.6 s — 25× from the knob alone. Use [[autoPlanes]] (or
    * the count-driven overload below) unless the call site pins planes
    * for oracle replay. Contrast with [[minhashCandidatePairs]], whose
    * band buckets are CONTENT-derived (docs agreeing on a whole
    * signature band): those grow with true near-dup density — linear
    * in the corpus at fixed density — and only the boilerplate tail
    * needs its `maxBucketSize` cap; the fixed 2^planes sign space here
    * is the geometry that must be re-sized as the corpus grows. */
  def lshCosinePairs(df: DataFrame, vecCol: String, idCol: String,
      numPlanes: Int, dims: Int, minCosine: Double): DataFrame = {
    import graft.similarity.Knn
    val planes = Knn.planes(numPlanes, dims)
    val prepared = df
      .select(col(idCol).as("__id"), asDoubles(col(vecCol)).as("__v"))
      .withColumn("__bucket", Knn.bucketId(col("__v"), planes))
      .withColumn("__norm", sqrt(dot(col("__v"), col("__v"))))
      .select("__bucket", "__id", "__v", "__norm")
    val a = prepared.toDF("__bucket", "id_a", "v_a", "norm_a")
    val b = prepared.toDF("__bucket", "id_b", "v_b", "norm_b")
    a.join(b, Seq("__bucket")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("v_a"), col("v_b")) / (col("norm_a") * col("norm_b")), 6)
          .as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Corpus-sized hyperplane count: planes = ⌈log₂(n / targetBucketRows)⌉
    * clamped to [minPlanes, maxPlanes], i.e. the plane count that keeps
    * the AVERAGE bucket at ~targetBucketRows rows so same-bucket pair
    * work (Σ C(bucket, 2) ≈ n·targetBucketRows/2) stays LINEAR in the
    * corpus instead of quadratic. targetBucketRows=128 reproduces the
    * ×160 ladder's measured optimum (320 k vectors → 12 planes →
    * 17.8 M edges / 3.6 s, vs 125.5 M / 89 s at the old pinned 6); the
    * max clamp of 24 covers ~2 B rows, past which raise it — the cost
    * of a plane is one dot product per row per plane, linear. */
  def autoPlanes(n: Long, targetBucketRows: Int = 128,
      minPlanes: Int = 4, maxPlanes: Int = 24): Int = {
    require(n >= 0 && targetBucketRows > 0 && minPlanes <= maxPlanes)
    val raw = math.ceil(
      math.log(math.max(n, 1).toDouble / targetBucketRows) / math.log(2.0))
    math.min(maxPlanes, math.max(minPlanes, raw.toInt))
  }

  /** [[lshCosinePairs]] with the plane count auto-sized from the corpus:
    * one cheap count job (a bare parquet scan answers it from footer
    * metadata) feeds [[autoPlanes]]. This is the default entry point —
    * the pinned-planes overload exists for oracle-replayable call
    * sites, where the DuckDB mirror must bake the same plane count.
    * Audit mode (spark.graft.materialize=false) skips the count so
    * plan inspection stays job-free — the clamp floor stands in, and
    * the plan SHAPE is plane-count-invariant (same projections, same
    * bucket equi-join), so the audit still sees the real plan. */
  def lshCosinePairs(df: DataFrame, vecCol: String, idCol: String,
      dims: Int, minCosine: Double): DataFrame = {
    val planes =
      if (!df.sparkSession.conf.get("spark.graft.materialize", "true").toBoolean) 4
      else autoPlanes(df.count())
    lshCosinePairs(df, vecCol, idCol, planes, dims, minCosine)
  }

  /** Maximal shared-substring spans between document pairs — the
    * span-level form of exact substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): any
    * verbatim overlap of ≥ n tokens between two documents appears as a
    * run of consecutive shared positional n-grams, and gaps-and-islands
    * over the match diagonal (pos_a − pos_b) recovers every maximal run
    * exactly. One row per (doc_a, doc_b, span): 1-based start positions
    * in both documents and the span length in tokens (run + n − 1).
    *
    * Scale shape: positional n-gram postings joined on the gram hash —
    * inverted-index linear in corpus size, the same skeleton as
    * [[jaccardNeighbors]] but keeping positions and duplicates (a gram
    * repeated in one document matches at every occurrence, on its own
    * diagonal). `maxDf` caps a gram's document frequency before pairing,
    * bounding per-gram join fan-out at C(maxDf, 2); beyond-cap grams are
    * corpus boilerplate, not verbatim copies — the standard guard in
    * production substring-dedup pipelines. Run detection is one window
    * over (doc pair, diagonal): the shuffle key is the pair, never a
    * global order.
    */
  def substringRuns(df: DataFrame, textCol: String, idCol: String,
      n: Int, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ts = tokens(col(textCol))
    // Token array staged as its own projection: referencing the split()
    // tree inside the per-index lambda would re-tokenize per position —
    // O(len²) chars per doc (the qd_cdc_chunks lesson; a multi-ref
    // non-cheap alias blocks CollapseProject, so __ts evaluates once).
    val grams = df
      .where(size(ts) >= n)
      .select(col(idCol).as("__id"), ts.as("__ts"))
      .select(col("__id"),
        explode(transform(sequence(lit(1), size(col("__ts")) - (n - 1)),
          i => struct(i.as("pos"),
            md5(concat_ws(" ", slice(col("__ts"), i, lit(n)))).as("g"))))
          .as("__pg"))
      .select(col("__id"), col("__pg.pos").as("pos"), col("__pg.g").as("g"))
    // Document-frequency gate: left_semi against the 2..maxDf gram set
    // (distinct docs, not occurrences — a gram repeated within one doc
    // is not "shared").
    val kept = grams.join(
      grams.groupBy("g").agg(countDistinct(col("__id")).as("__df"))
        .where(col("__df").between(2, maxDf)).select("g"),
      Seq("g"), "left_semi")
    val a = kept.select(col("g"), col("__id").as("doc_a"), col("pos").as("pos_a"))
    val b = kept.select(col("g"), col("__id").as("doc_b"), col("pos").as("pos_b"))
    val pairs = a.join(b, Seq("g")).where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"),
        (col("pos_a") - col("pos_b")).as("__diag"))
    // Within a (pair, diagonal) group pos_a is unique (pos_b is pinned
    // by the diagonal), so pos_a − row_number is constant exactly on
    // maximal consecutive runs.
    val w = Window.partitionBy("doc_a", "doc_b", "__diag").orderBy("pos_a")
    pairs
      .withColumn("__isl", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "__diag", "__isl")
      .agg(min(col("pos_a")).as("start_a"),
        (count(lit(1)) + (n - 1)).as("span_tokens"))
      .select(col("doc_a"), col("doc_b"), col("start_a"),
        (col("start_a") - col("__diag")).as("start_b"), col("span_tokens"))
  }
}
