package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.similarity.Knn

/** Driver-contract queries for similarity search — SURVEY.md §2 items
  * 26-27. The DuckDB oracles recompute the same md5-derived hyperplanes
  * and the same left-fold dot products, so even the approximate (LSH)
  * path is value-exact across engines.
  */
object SimilarityQueries {

  private val Dims = 64
  private val NumPlanes = 4

  /** Shared oracle fragments — single source of truth in [[VecSql]]. */
  private def dotSql(a: String, b: String): String = VecSql.dotSql(a, b, Dims)

  private def cosineSql(a: String, b: String): String =
    VecSql.cosineSql(a, b, Dims)

  /** §2.26 — exact brute-force cosine top-5 for query vectors vec_id<10. */
  def qsKnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Knn.bruteForce(emb, emb.where(col("vec_id") < 10), "embedding", "vec_id", 5)
      .orderBy("q_id", "rank")
  }

  val qsKnnBruteSql: String =
    s"""SELECT q_id, neighbor_id, cosine, rank FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |    ${cosineSql("q.embedding", "c.embedding")} AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 10
       |) t
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  /** §2.26b — filtered (hybrid) ANN: exact top-5 restricted to corpus
    * vectors with label < 3. The metadata predicate composes with the
    * scan — Catalyst pushes it into the parquet read, so the search
    * touches only the filtered partition of the corpus. */
  def qsKnnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Knn.bruteForce(emb.where(col("label") < 3),
      emb.where(col("vec_id") < 10), "embedding", "vec_id", 5)
      .orderBy("q_id", "rank")
  }

  val qsKnnFilteredSql: String =
    s"""SELECT q_id, neighbor_id, cosine, rank FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |    ${cosineSql("q.embedding", "c.embedding")} AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 10 AND c.label < 3
       |) t
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  /** §2.26d — range (radius) search: every corpus vector with cosine
    * ≥ 0.2 of each query vector (vec_id < 10) — the data-dependent
    * "all close-enough neighbors" retrieval mode (near-dup sweeps,
    * recall-first retrieval) vs top-k's fixed fan-out. Same intentional
    * broadcast-query exhaustive scan as qs_knn_brute; the threshold
    * prunes inside the projection so no rank window runs. */
  def qsRadius(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Knn.radiusSearch(emb, emb.where(col("vec_id") < 10),
      "embedding", "vec_id", 0.2)
      .orderBy("q_id", "neighbor_id")
  }

  val qsRadiusSql: String =
    s"""SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |  ${cosineSql("q.embedding", "c.embedding")} AS cosine
       |FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |WHERE q.vec_id < 10
       |  AND ${cosineSql("q.embedding", "c.embedding")} >= 0.2
       |ORDER BY q_id, neighbor_id""".stripMargin

  private def wSql(p: Int): String = VecSql.wSql(p)

  private def planeDotSql(vec: String, p: Int): String =
    VecSql.planeDotSql(vec, p, Dims)

  private def bucketSql(vec: String): String =
    VecSql.bucketSql(vec, NumPlanes, Dims)

  /** §2.27 — LSH random-hyperplane bucketed approximate top-3. */
  def qsKnnLsh(spark: SparkSession, dir: String): DataFrame =
    Knn.lshTopK(Tables.load(spark, dir, "embeddings"),
      "embedding", "vec_id", NumPlanes, Dims, 3)
      .orderBy("q_id", "rank")

  val qsKnnLshSql: String =
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings
       |)
       |SELECT q_id, neighbor_id, bucket, cosine, rank FROM (
       |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, a.bucket,
       |    ${cosineSql("a.embedding", "b.embedding")} AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${cosineSql("a.embedding", "b.embedding")} DESC, b.vec_id) AS rank
       |  FROM bucketed a JOIN bucketed b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |) t
       |WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** §2.27f — multi-probe LSH ANN: each query additionally probes the
    * buckets reached by flipping its 2 nearest-margin hyperplanes
    * (Lv et al.) — recall toward brute force with no extra hash tables;
    * corpus side still stores one bucket per vector, so the join stays
    * a bucket-key shuffle. The oracle recomputes the same projections,
    * margin sort, and XOR probes — value-exact across engines. */
  def qsKnnMultiprobe(spark: SparkSession, dir: String): DataFrame =
    Knn.lshMultiProbeTopK(Tables.load(spark, dir, "embeddings"),
      "embedding", "vec_id", NumPlanes, Dims, 3, nflip = 2)
      .orderBy("q_id", "rank")

  val qsKnnMultiprobeSql: String = {
    val projCols = (0 until NumPlanes)
      .map(p => s"${planeDotSql("embedding", p)} AS p$p").mkString(",\n       |    ")
    val bucketExpr = (0 until NumPlanes)
      .map(p => s"(CASE WHEN p$p >= 0.0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
    val structs = (0 until NumPlanes)
      .map(p => s"{'a': abs(p$p), 'i': $p, 'm': ${1L << p}}").mkString(", ")
    s"""WITH pr AS (
       |  SELECT vec_id, embedding,
       |    $projCols
       |  FROM embeddings
       |), bk AS (
       |  SELECT vec_id, embedding, p0, p1, p2, p3,
       |    $bucketExpr AS bucket
       |  FROM pr
       |), probes AS (
       |  SELECT vec_id, embedding, bucket,
       |    unnest(list_concat([bucket], list_transform(
       |      list_slice(list_sort([$structs]), 1, 2),
       |      s -> xor(bucket, s.m)))) AS probe
       |  FROM bk
       |)
       |SELECT q_id, neighbor_id, bucket, cosine, rank FROM (
       |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, a.probe AS bucket,
       |    ${cosineSql("a.embedding", "b.embedding")} AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${cosineSql("a.embedding", "b.embedding")} DESC, b.vec_id) AS rank
       |  FROM probes a JOIN bk b
       |    ON a.probe = b.bucket AND a.vec_id <> b.vec_id
       |) t
       |WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin
  }

  /** §2.27m — multi-probe operating curve: per probe budget
    * nflip ∈ {0, 1, 2, 4}, mean recall@3 against the exact brute-force
    * ground truth AND mean candidates scanned per query — the
    * recall-vs-cost dial that picks the probe budget before an index
    * ships (the ANN counterpart of the MinHash threshold sweep 22c).
    * nflip = 0 is plain single-bucket LSH, nflip = 4 probes every
    * 1-flip neighbor of a 4-plane index. All means are exact integer
    * sums divided once at the end; the per-flip candidate frames are
    * the same bucket-key-join shape as the production search (the
    * panel side fans out probes, the corpus side stays one bucket per
    * vector). */
  def qsProbeSweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val panel = emb.where(col("vec_id") < 10).select(col("vec_id").as("q_id"))
    // Shared substrates materialized ONCE (r14): the four probe-budget
    // branches each consumed the ground truth and re-projected the
    // full corpus against the hyperplanes, and each branch's candidate
    // frame fed two consumers (top-3 window + per-query scan counts) —
    // 4 brute-force passes and 8 corpus projections per query run,
    // stage-profiled. Now: one brute pass, one block-backed probe
    // index, one candidate fill per budget.
    val brute = graft.operators.Materialize.once(
      Knn.bruteForce(emb, emb.where(col("vec_id") < 10),
          "embedding", "vec_id", 3)
        .select(col("q_id"), col("neighbor_id")))
    // onceSer: the index frame carries the full vectors (the cosine
    // needs them) — serialized blocks, not deserialized object rows
    // (the measured onceSer rationale in Materialize).
    val prepared = graft.operators.Materialize.onceSer(
      Knn.prepareProbeIndex(emb, "embedding", "vec_id", NumPlanes, Dims))
    val perFlip = Seq(0, 1, 2, 4).map { nf =>
      val cand = graft.operators.Materialize.once(
        Knn.multiProbeCandidatesPrepared(prepared, NumPlanes, nf)
          .where(col("q_id") < 10))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val top3 = cand.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("q_id"), col("neighbor_id"), lit(1L).as("__hit"))
      val nc = cand.groupBy("q_id").agg(count(lit(1)).as("n_cand"))
      val hits = brute.join(top3, Seq("q_id", "neighbor_id"), "left")
        .groupBy("q_id")
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      panel.join(hits, Seq("q_id"), "left").join(nc, Seq("q_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          sum(coalesce(col("n_hit"), lit(0L))).as("__sh"),
          sum(coalesce(col("n_cand"), lit(0L))).as("__sc"))
        // No-groupBy agg yields one n_queries = 0 row on an empty panel;
        // the oracle's GROUP BY yields none — drop it (and its 0/0).
        .where(col("n_queries") > 0)
        .select(lit(nf).as("nflip"), col("n_queries"),
          round(col("__sh").cast("double") /
            (col("n_queries") * 3).cast("double"), 6).as("mean_recall_at_3"),
          round(col("__sc").cast("double") / col("n_queries").cast("double"), 6)
            .as("mean_candidates"))
    }
    perFlip.reduce(_.unionByName(_)).orderBy("nflip")
  }

  val qsProbeSweepSql: String = {
    val projCols = (0 until NumPlanes)
      .map(p => s"${planeDotSql("embedding", p)} AS p$p").mkString(",\n       |    ")
    val bucketExpr = (0 until NumPlanes)
      .map(p => s"(CASE WHEN p$p >= 0.0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
    val structs = (0 until NumPlanes)
      .map(p => s"{'a': abs(p$p), 'i': $p, 'm': ${1L << p}}").mkString(", ")
    s"""WITH pr AS (
       |  SELECT vec_id, embedding,
       |    $projCols
       |  FROM embeddings
       |), bk AS (
       |  SELECT vec_id, embedding, p0, p1, p2, p3,
       |    $bucketExpr AS bucket
       |  FROM pr
       |), nf AS (
       |  SELECT unnest([0, 1, 2, 4]) AS nflip
       |), probes AS (
       |  SELECT n.nflip, k.vec_id, k.bucket,
       |    unnest(list_concat([k.bucket], list_transform(
       |      list_slice(list_sort([$structs]), 1, n.nflip),
       |      s -> xor(k.bucket, s.m)))) AS probe
       |  FROM bk k, nf n
       |  WHERE k.vec_id < 10
       |), cand AS (
       |  SELECT p.nflip, p.vec_id AS q_id, b.vec_id AS neighbor_id,
       |    ${cosineSql("p.embedding", "b.embedding")} AS cosine
       |  FROM (SELECT pr2.embedding, probes.* FROM probes
       |        JOIN bk pr2 ON probes.vec_id = pr2.vec_id) p
       |  JOIN bk b ON p.probe = b.bucket AND p.vec_id <> b.vec_id
       |), ncand AS (
       |  SELECT nflip, q_id, CAST(count(*) AS BIGINT) AS n_cand
       |  FROM cand GROUP BY 1, 2
       |), top3 AS (
       |  SELECT nflip, q_id, neighbor_id FROM (
       |    SELECT nflip, q_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY nflip, q_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM cand) t
       |  WHERE rank <= 3
       |), brute AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 10) t
       |  WHERE rank <= 3
       |), hits AS (
       |  SELECT n.nflip, b.q_id, CAST(count(t.neighbor_id) AS BIGINT) AS n_hit
       |  FROM brute b CROSS JOIN nf n
       |  LEFT JOIN top3 t ON t.nflip = n.nflip AND t.q_id = b.q_id
       |    AND t.neighbor_id = b.neighbor_id
       |  GROUP BY 1, 2
       |), panel AS (
       |  SELECT n.nflip, e.vec_id AS q_id FROM embeddings e CROSS JOIN nf n
       |  WHERE e.vec_id < 10
       |)
       |SELECT p.nflip, CAST(count(*) AS BIGINT) AS n_queries,
       |  round(CAST(SUM(COALESCE(h.n_hit, 0)) AS DOUBLE) /
       |        CAST(count(*) * 3 AS DOUBLE), 6) AS mean_recall_at_3,
       |  round(CAST(SUM(COALESCE(c.n_cand, 0)) AS DOUBLE) /
       |        CAST(count(*) AS DOUBLE), 6) AS mean_candidates
       |FROM panel p
       |LEFT JOIN hits h ON h.nflip = p.nflip AND h.q_id = p.q_id
       |LEFT JOIN ncand c ON c.nflip = p.nflip AND c.q_id = p.q_id
       |GROUP BY p.nflip
       |ORDER BY p.nflip""".stripMargin
  }

  /** §2.27n — embedding drift monitor: per label, the L2 displacement
    * and cosine between the centroids of two deterministic corpus
    * halves (vec_id parity — the stand-in for "yesterday's batch vs
    * today's") — the embedding-space analogue of the tabular PSI gate:
    * a re-trained or silently re-normalized encoder moves centroids
    * long before any row-level QC notices. Exactness discipline is
    * [[qsCentroids]]'s: vectors micro-quantize to integers, per-dim
    * sums are exact bigints, per-dim mean terms are doubles derived
    * from exact integers, and every cross-DIM reduction (shift², dot,
    * norms) quantizes its term to DECIMAL(18,9) so the sum is
    * order-independent. Plan: one posexplode shuffle on (label, half,
    * dim), one (label, dim) join, one label rollup — scales as
    * corpus × dims, no pair joins. */
  def qsEmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.select(col("label"), (col("vec_id") % 2).as("half"),
      posexplode(expr("transform(cast(embedding as array<double>), " +
        "v -> cast(floor(v * 1000000.0 + 0.5) as bigint))"))
        .as(Seq("dim", "qv")))
    val m = q.groupBy("label", "half", "dim")
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("s"))
    val a = m.where(col("half") === 0)
      .select(col("label"), col("dim"), col("n").as("n0"), col("s").as("s0"))
    val b = m.where(col("half") === 1)
      .select(col("label"), col("dim"), col("n").as("n1"), col("s").as("s1"))
    val m0 = col("s0").cast("double") / col("n0") / 1000000.0
    val m1 = col("s1").cast("double") / col("n1") / 1000000.0
    def dsum(c: Column): Column =
      sum(round(c, 9).cast("decimal(18,9)")).cast("double")
    a.join(b, Seq("label", "dim"))
      .groupBy("label")
      .agg(max(col("n0")).as("n_a"), max(col("n1")).as("n_b"),
        dsum((m0 - m1) * (m0 - m1)).as("__shift2"),
        dsum(m0 * m1).as("__dot"),
        dsum(m0 * m0).as("__na2"),
        dsum(m1 * m1).as("__nb2"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(sqrt(col("__shift2")), 6).as("shift_l2"),
        when(col("__na2") > 0 && col("__nb2") > 0,
          round(col("__dot") / (sqrt(col("__na2")) * sqrt(col("__nb2"))), 6))
          .as("centroid_cos"))
      .orderBy("label")
  }

  val qsEmbeddingDriftSql: String =
    """WITH e AS (
      |  SELECT label, vec_id % 2 AS half, i AS dim,
      |    CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000.0 + 0.5)
      |      AS BIGINT) AS qv
      |  FROM embeddings, LATERAL unnest(range(0, len(embedding))) AS t(i)
      |), m AS (
      |  SELECT label, half, dim, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(qv) AS BIGINT) AS s
      |  FROM e GROUP BY 1, 2, 3
      |), j AS (
      |  SELECT a.label, a.dim, a.n AS n0, a.s AS s0, b.n AS n1, b.s AS s1,
      |    CAST(a.s AS DOUBLE) / a.n / 1000000.0 AS m0,
      |    CAST(b.s AS DOUBLE) / b.n / 1000000.0 AS m1
      |  FROM (SELECT * FROM m WHERE half = 0) a
      |  JOIN (SELECT * FROM m WHERE half = 1) b
      |    ON a.label = b.label AND a.dim = b.dim
      |), g AS (
      |  SELECT label, MAX(n0) AS n_a, MAX(n1) AS n_b,
      |    CAST(SUM(CAST(round((m0 - m1) * (m0 - m1), 9) AS DECIMAL(18,9)))
      |      AS DOUBLE) AS shift2,
      |    CAST(SUM(CAST(round(m0 * m1, 9) AS DECIMAL(18,9))) AS DOUBLE) AS dt,
      |    CAST(SUM(CAST(round(m0 * m0, 9) AS DECIMAL(18,9))) AS DOUBLE) AS na2,
      |    CAST(SUM(CAST(round(m1 * m1, 9) AS DECIMAL(18,9))) AS DOUBLE) AS nb2
      |  FROM j GROUP BY label
      |)
      |SELECT label, n_a, n_b,
      |  round(sqrt(shift2), 6) AS shift_l2,
      |  CASE WHEN na2 > 0 AND nb2 > 0 THEN
      |    round(dt / (sqrt(na2) * sqrt(nb2)), 6) END AS centroid_cos
      |FROM g ORDER BY label""".stripMargin

  /** §2.27b — IVF bucketed ANN (deterministic k-means quantizer, nprobe
    * probing). The index build is iterative (not SQL-expressible), but
    * with nprobe = numCentroids every query probes every bucket, so the
    * result is provably the exact top-k — the brute-force SQL is then a
    * value-exact oracle for the whole IVF pipeline (sampled training,
    * bucket assignment, probe ranking, bucketed join). The pruned-nprobe
    * recall contract is pinned by KnnSpec on crafted data. */
  def qsKnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Knn.ivfTopK(emb, emb.where(col("vec_id") < 10), "embedding", "vec_id",
      k = 5, numCentroids = 8, nprobe = 8)
      .orderBy("q_id", "rank")
  }

  /** §2.25f — semantic (embedding-space) dedup: LSH hyperplane buckets
    * block the candidate space, same-bucket pairs above the cosine
    * threshold elect a 1-hop canonical (the minimum neighbor id — full
    * transitive closure is [[DedupQueries]] qd_components). The pair
    * join shuffles on the bucket key, never all-pairs; norms are
    * precomputed per row, not per pair. */
  def qdSemantic(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.{asDoubles, dot}
    import graft.similarity.Knn
    val planes = Knn.planes(NumPlanes, Dims)
    val bucketed = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .withColumn("bucket", Knn.bucketId(col("v"), planes))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val pairs = bucketed.alias("a")
      .join(bucketed.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        round(dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 6)
          .as("cosine"))
      .where(col("cosine") >= 0.15)
    val mins = pairs.groupBy("b_id").agg(min(col("a_id")).as("min_nb"))
    Tables.load(spark, dir, "embeddings").select("vec_id")
      .join(mins, col("vec_id") === col("b_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("min_nb"), col("vec_id")).as("canonical_id"),
        col("min_nb").isNotNull.as("is_dup"))
      .orderBy("vec_id")
  }

  val qdSemanticSql: String =
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings
       |), pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bucketed a JOIN bucketed b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.15
       |), mins AS (
       |  SELECT b_id, MIN(a_id) AS min_nb FROM pairs GROUP BY 1
       |)
       |SELECT e.vec_id, COALESCE(m.min_nb, e.vec_id) AS canonical_id,
       |  (m.min_nb IS NOT NULL) AS is_dup
       |FROM embeddings e LEFT JOIN mins m ON e.vec_id = m.b_id
       |ORDER BY e.vec_id""".stripMargin

  /** §2.26c — int8 scalar quantization of the embedding column
    * (symmetric max-abs scaling, the standard ANN-index compression):
    * per-vector scale = max|x|/127, codes = round(x/scale). Pure
    * projection — no shuffle, no UDF; the codes and the reconstruction
    * error are checked via the quantized-sum and max-error columns.
    * The scale is materialized BEFORE the code transform so the HOF
    * lambda never re-evaluates the array_max fold per element. */
  def qsQuantize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.asDoubles
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDoubles(col("embedding")).as("vd"))
      .withColumn("scale",
        array_max(transform(col("vd"), x => abs(x))) / lit(127.0))
      .withColumn("qv",
        transform(col("vd"), x => round(x / col("scale")).cast("bigint")))
      .select(col("vec_id"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        round(array_max(zip_with(col("qv"), col("vd"),
          (q, x) => abs(q * col("scale") - x))), 6).as("max_err"))
      .orderBy("vec_id")
  }

  val qsQuantizeSql: String =
    s"""WITH s AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id, scale, vd,
       |    list_transform(vd, x -> CAST(round(x / scale, 0) AS BIGINT)) AS qv
       |  FROM s
       |)
       |SELECT vec_id,
       |  CAST(list_reduce(qv, (a, b) -> a + b) AS BIGINT) AS q_sum,
       |  round(list_max(list_transform(range(1, ${Dims + 1}),
       |    i -> abs(qv[i] * scale - vd[i]))), 6) AS max_err
       |FROM q ORDER BY vec_id""".stripMargin

  /** §2.27e — ANN index-quality evaluation: recall@3 of the LSH
    * bucketed search against the exact brute-force top-3 on the
    * 10-vector query panel. The measurement a pipeline runs before
    * trusting an approximate index for retrieval dedup. The eval
    * itself is a tiny (q_id, neighbor_id) join over ≤ 3·|panel| rows
    * per side; the expensive sides reuse the existing plans — the
    * q_id panel predicate pushes below the LSH window (it is the
    * partition key), so the bucketed join only ranks the panel's
    * buckets, and the brute side broadcasts the panel as usual. */
  def qsRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val brute = Knn.bruteForce(emb, emb.where(col("vec_id") < 10),
        "embedding", "vec_id", 3)
      .select(col("q_id"), col("neighbor_id"))
    val lsh = Knn.lshTopK(emb, "embedding", "vec_id", NumPlanes, Dims, 3)
      .where(col("q_id") < 10)
      .select(col("q_id"), col("neighbor_id"), lit(1).as("__hit"))
    brute.join(lsh, Seq("q_id", "neighbor_id"), "left_outer")
      .groupBy("q_id")
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("bigint").as("n_hit"))
      .select(col("q_id"), col("n_hit"),
        round(col("n_hit") / lit(3.0), 6).as("recall_at_3"))
      .orderBy("q_id")
  }

  val qsRecallSql: String =
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings
       |), lsh AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${cosineSql("a.embedding", "b.embedding")} DESC, b.vec_id) AS rank
       |    FROM bucketed a JOIN bucketed b
       |      ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 10) t
       |  WHERE rank <= 3
       |), brute AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 10) t
       |  WHERE rank <= 3
       |)
       |SELECT b.q_id, CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hit,
       |  round(COUNT(l.neighbor_id) / 3.0, 6) AS recall_at_3
       |FROM brute b LEFT JOIN lsh l
       |  ON b.q_id = l.q_id AND b.neighbor_id = l.neighbor_id
       |GROUP BY b.q_id
       |ORDER BY b.q_id""".stripMargin

  /** §2.27g — embedding-space QC: per-label centroid + distance
    * dispersion + outlier census — "does each label's embedding cloud
    * actually cohere, and which vectors don't belong?" (mislabeled or
    * corrupted embeddings are invisible to row-level QC). Exactness
    * discipline: cross-ROW float sums are accumulation-order-
    * dependent, so every cross-row reduction here is over INTEGER
    * micro-quantized values (floor(v·10⁶ + 0.5) — floor, not round:
    * identical halfway behavior in both engines): centroid per-dim
    * sums are exact bigints; each vector's distance² to the n-scaled
    * centroid is an exact left-fold over the dimension axis
    * ((qvᵢ·n − sᵢ)² summed into a DECIMAL(38,0) accumulator); RMS and
    * max distances take ONE sqrt at the end; the outlier test
    * (dist > 2·RMS) is the all-integer inequality dist²·n > 4·Σdist².
    * Plan shape: one posexplode shuffle on (label, dim), centroids
    * collapse to a |labels| broadcast frame, one more grouped pass —
    * no pair joins, scales as corpus × dims. */
  def qsCentroids(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.load(spark, dir, "embeddings")
      .select(col("label"), col("vec_id"),
        expr("transform(cast(embedding as array<double>), " +
          "v -> cast(floor(v * 1000000.0 + 0.5) as bigint))").as("qv"))
    val cent = q.select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(sum("v").as("s"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("cs"))
    val counts = q.groupBy("label").agg(count(lit(1)).as("n"))
    val d = q.join(broadcast(cent), "label").join(broadcast(counts), "label")
      .select(col("label"), col("n"),
        aggregate(
          zip_with(col("qv"), col("cs"),
            (a, b) => (a * col("n") - b) * (a * col("n") - b)),
          lit(0).cast("decimal(38,0)"),
          (acc, x) => acc + x.cast("decimal(38,0)")).as("dist2"))
    d.withColumn("sd", sum(col("dist2")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("label")))
      .groupBy("label")
      .agg(max(col("n")).cast("bigint").as("n_vectors"),
        round(sqrt(max(col("sd")).cast("double") / max(col("n")))
          / (max(col("n")) * lit(1000000.0)), 6).as("rms_dist"),
        round(sqrt(max(col("dist2")).cast("double"))
          / (max(col("n")) * lit(1000000.0)), 6).as("max_dist"),
        sum(when(col("dist2") * col("n") > lit(4) * col("sd"), 1L)
          .otherwise(0L)).cast("bigint").as("n_outliers"))
      .orderBy("label")
  }

  val qsCentroidsSql: String =
    s"""WITH q AS (
       |  SELECT label, vec_id,
       |    list_transform(embedding,
       |      v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
       |      AS qv
       |  FROM embeddings
       |), flat AS (
       |  SELECT label, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos
       |  FROM q
       |), c AS (
       |  SELECT label, pos, SUM(v) AS s FROM flat GROUP BY label, pos
       |), cl AS (
       |  SELECT label, list(s ORDER BY pos) AS cs FROM c GROUP BY label
       |), nn AS (
       |  SELECT label, COUNT(*) AS n FROM q GROUP BY label
       |), d AS (
       |  SELECT q.label, q.vec_id, nn.n,
       |    list_reduce(list_transform(range(1, ${Dims + 1}),
       |      i -> CAST((q.qv[i] * nn.n - cl.cs[i])
       |             * (q.qv[i] * nn.n - cl.cs[i]) AS HUGEINT)),
       |      (x, y) -> x + y) AS dist2
       |  FROM q JOIN cl ON q.label = cl.label JOIN nn ON q.label = nn.label
       |), dd AS (
       |  SELECT *, SUM(dist2) OVER (PARTITION BY label) AS sd FROM d
       |)
       |SELECT label, CAST(MAX(n) AS BIGINT) AS n_vectors,
       |  round(sqrt(CAST(MAX(sd) AS DOUBLE) / MAX(n))
       |    / (MAX(n) * 1000000.0), 6) AS rms_dist,
       |  round(sqrt(CAST(MAX(dist2) AS DOUBLE))
       |    / (MAX(n) * 1000000.0), 6) AS max_dist,
       |  CAST(SUM(CASE WHEN dist2 * n > 4 * sd THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers
       |FROM dd GROUP BY label
       |ORDER BY label""".stripMargin

  /** §2.27h — LSH index-health histogram ([[Knn.lshBucketStats]]): the
    * pre-flight read on the ANN index BEFORE the search join runs —
    * per bucket-size class, bucket count, vectors held, and the
    * C(size,2) in-bucket candidate pairs the search would generate
    * (fat head = too few hyperplanes, degenerating toward all-pairs;
    * size-1 tail = vectors with zero recall). Same measurement role as
    * [qd_band_stats] plays for MinHash-LSH. */
  def qsLshStats(spark: SparkSession, dir: String): DataFrame =
    Knn.lshBucketStats(Tables.load(spark, dir, "embeddings"),
      "embedding", "vec_id", NumPlanes, Dims)
      .orderBy("bucket_size")

  val qsLshStatsSql: String =
    s"""WITH bucketed AS (
       |  SELECT vec_id, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings
       |), bs AS (
       |  SELECT bucket, COUNT(*) AS sz FROM bucketed GROUP BY bucket
       |)
       |SELECT sz AS bucket_size, COUNT(*) AS n_buckets,
       |  sz * COUNT(*) AS n_vectors,
       |  COUNT(*) * (sz * (sz - 1) // 2) AS n_candidate_pairs
       |FROM bs GROUP BY sz
       |ORDER BY bucket_size""".stripMargin

  /** §2.27i — quantization-impact evaluation: recall@3 of the int8-
    * reconstructed ranking against the exact float top-3 on the query
    * panel — the eval gate that says whether [qs_quantize]'s 16×
    * compression is rank-safe BEFORE an index stores only codes (same
    * eval-layer pattern as [qs_recall] for LSH). Queries stay float,
    * the corpus is dequantized (ADC-style); both rankings reuse the
    * brute-force plan, and the eval join is ≤ 3·|panel| rows. */
  def qsQuantizeRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.asDoubles
    val emb = Tables.load(spark, dir, "embeddings")
    val recon = emb
      .select(col("vec_id"), asDoubles(col("embedding")).as("vd"))
      .withColumn("scale",
        array_max(transform(col("vd"), x => abs(x))) / lit(127.0))
      .select(col("vec_id"),
        transform(col("vd"), x => round(x / col("scale")) * col("scale"))
          .as("embedding"))
    val panel = emb.where(col("vec_id") < 10)
    val exact = Knn.bruteForce(emb, panel, "embedding", "vec_id", 3)
      .select(col("q_id"), col("neighbor_id"))
    val approx = Knn.bruteForce(recon, panel, "embedding", "vec_id", 3)
      .select(col("q_id"), col("neighbor_id"))
    exact.join(approx, Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(3.0), 6).as("recall_at_3"))
      .orderBy("q_id")
  }

  val qsQuantizeRecallSql: String = {
    def topk(corpus: String): String =
      s"""SELECT q_id, neighbor_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosineSql("q.embedding", "c.rv")} DESC, c.vec_id) AS rnk
         |    FROM embeddings q JOIN $corpus c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id < 10
         |  ) t WHERE rnk <= 3""".stripMargin
    s"""WITH s AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
       |  FROM embeddings
       |), floatc AS (
       |  SELECT vec_id, vd AS rv FROM s
       |), reconc AS (
       |  SELECT vec_id, list_transform(vd, x -> round(x / scale, 0) * scale) AS rv
       |  FROM s
       |), ex AS (
       |  ${topk("floatc")}
       |), ap AS (
       |  ${topk("reconc")}
       |)
       |SELECT ex.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       |  round(CAST(COUNT(*) AS DOUBLE) / 3.0, 6) AS recall_at_3
       |FROM ex SEMI JOIN ap ON ex.q_id = ap.q_id AND ex.neighbor_id = ap.neighbor_id
       |GROUP BY ex.q_id
       |ORDER BY ex.q_id""".stripMargin
  }

  /** §2.27j — kNN label-classification accuracy: each panel vector is
    * classified by the majority label of its exact 3 nearest neighbors
    * (count-desc, label-asc deterministic vote) and scored against its
    * OWN ground-truth label — the end-task eval of embedding quality
    * itself (recall evals ask "does the index find the neighbors";
    * this asks "are the neighbors the right ones"). 50-vector panel
    * through the brute plan, label votes and accuracy rollup over
    * ≤ 3·|panel| rows. */
  def qsKnnClassify(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val labels = emb.select(col("vec_id"), col("label"))
    val nn = Knn.bruteForce(emb, emb.where(col("vec_id") < 50),
      "embedding", "vec_id", 3)
      .select(col("q_id"), col("neighbor_id"))
      .join(broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")),
        "neighbor_id")
    val vote = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("__votes").desc, col("label"))
    val predicted = nn.groupBy("q_id", "label")
      .agg(count(lit(1)).as("__votes"))
      .withColumn("__rk", row_number().over(vote))
      .where(col("__rk") === 1)
      .select(col("q_id"), col("label").as("predicted"))
    predicted
      .join(broadcast(labels.withColumnRenamed("vec_id", "q_id")), "q_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("predicted") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_queries").cast("double"), 6))
      .orderBy("label")
  }

  val qsKnnClassifySql: String =
    s"""WITH nn AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC,
       |                 c.vec_id) AS rnk
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 50
       |  ) t WHERE rnk <= 3
       |), votes AS (
       |  SELECT nn.q_id, e.label, COUNT(*) AS v
       |  FROM nn JOIN embeddings e ON nn.neighbor_id = e.vec_id
       |  GROUP BY nn.q_id, e.label
       |), pred AS (
       |  SELECT q_id, label AS predicted FROM (
       |    SELECT q_id, label,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY v DESC, label) AS rk
       |    FROM votes
       |  ) WHERE rk = 1
       |)
       |SELECT e.label,
       |  CAST(COUNT(*) AS BIGINT) AS n_queries,
       |  CAST(SUM(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  round(CAST(SUM(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
       |FROM pred p JOIN embeddings e ON p.q_id = e.vec_id
       |GROUP BY e.label
       |ORDER BY e.label""".stripMargin

  /** §2.26e — embedding QC census per label: mean ‖v‖ and σ(‖v‖)
    * (an un-normalized or exploded encoder batch shows up here first —
    * cosine silently hides magnitude bugs), plus a per-label outlier
    * count on the coordinate SUM Σᵢvᵢ, i.e. the dot with the all-ones
    * direction: for a healthy encoder the activation sum is centered
    * per label, and a > 2σ vector flags systematic bias drift in a
    * batch. The coordinate sum — not the norm — carries the z-test
    * because on unit-normalized corpora (this one) norm variance is
    * ulp-scale noise and any threshold on it is numerically
    * meaningless. Both statistics round to DECIMAL(18,9) per row before
    * the moment sums, so per-label aggregation is accumulation-order-
    * exact; one grouped pass builds the moments, the ≤ |labels| frame
    * broadcasts back for the outlier count — two scans, zero wide
    * shuffles of the vector column. */
  def qsEmbedQc(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.{asDoubles, dot}
    val ones = typedLit(Seq.fill(Dims)(1.0))
    val perRow = Tables.load(spark, dir, "embeddings")
      .select(col("label"), col("vec_id"),
        round(sqrt(dot(asDoubles(col("embedding")), asDoubles(col("embedding")))), 9)
          .cast("decimal(18,9)").as("nrm"),
        round(dot(asDoubles(col("embedding")), ones), 9)
          .cast("decimal(18,9)").as("csum"))
    val moments = perRow.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("nrm")).as("n1"),
        sum((col("nrm") * col("nrm")).cast("decimal(38,18)")).as("n2"),
        sum(col("csum")).as("c1"),
        sum((col("csum") * col("csum")).cast("decimal(38,18)")).as("c2"))
      .select(col("label"), col("n_vecs"),
        (col("n1").cast("double") / col("n_vecs")).as("mean_norm"),
        sqrt(col("n2").cast("double") / col("n_vecs") -
          (col("n1").cast("double") / col("n_vecs")) *
          (col("n1").cast("double") / col("n_vecs"))).as("std_norm"),
        (col("c1").cast("double") / col("n_vecs")).as("mean_csum"),
        sqrt(col("c2").cast("double") / col("n_vecs") -
          (col("c1").cast("double") / col("n_vecs")) *
          (col("c1").cast("double") / col("n_vecs"))).as("std_csum"))
    perRow.join(broadcast(moments), "label")
      .groupBy(col("label"))
      .agg(first(col("n_vecs")).as("n_vecs"),
        round(first(col("mean_norm")), 6).as("mean_norm"),
        round(first(col("std_norm")), 6).as("std_norm"),
        round(first(col("mean_csum")), 6).as("mean_csum"),
        round(first(col("std_csum")), 6).as("std_csum"),
        sum(when(abs(col("csum").cast("double") - col("mean_csum")) >
          lit(2.0) * col("std_csum"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("label")
  }

  val qsEmbedQcSql: String = {
    val onesDot =
      s"""list_reduce(list_transform(range(1, ${Dims + 1}),
         | i -> CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y)"""
        .stripMargin.replace("\n", "")
    s"""WITH pr AS (
       |  SELECT label, vec_id,
       |    CAST(round(sqrt(${dotSql("embedding", "embedding")}), 9)
       |      AS DECIMAL(18,9)) AS nrm,
       |    CAST(round($onesDot, 9) AS DECIMAL(18,9)) AS csum
       |  FROM embeddings
       |), mo AS (
       |  SELECT label, COUNT(*) AS n_vecs,
       |    CAST(SUM(nrm) AS DOUBLE) / COUNT(*) AS mean_norm,
       |    sqrt(CAST(SUM(CAST(nrm * nrm AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
       |      - (CAST(SUM(nrm) AS DOUBLE) / COUNT(*))
       |        * (CAST(SUM(nrm) AS DOUBLE) / COUNT(*))) AS std_norm,
       |    CAST(SUM(csum) AS DOUBLE) / COUNT(*) AS mean_csum,
       |    sqrt(CAST(SUM(CAST(csum * csum AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
       |      - (CAST(SUM(csum) AS DOUBLE) / COUNT(*))
       |        * (CAST(SUM(csum) AS DOUBLE) / COUNT(*))) AS std_csum
       |  FROM pr GROUP BY label
       |)
       |SELECT p.label, MIN(m.n_vecs) AS n_vecs,
       |  round(MIN(m.mean_norm), 6) AS mean_norm,
       |  round(MIN(m.std_norm), 6) AS std_norm,
       |  round(MIN(m.mean_csum), 6) AS mean_csum,
       |  round(MIN(m.std_csum), 6) AS std_csum,
       |  CAST(SUM(CASE WHEN abs(CAST(p.csum AS DOUBLE) - m.mean_csum)
       |    > 2.0 * m.std_csum THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM pr p JOIN mo m ON p.label = m.label
       |GROUP BY p.label
       |ORDER BY p.label""".stripMargin
  }

  /** §2.27k — mutual-kNN graph over the LSH index: directed top-3
    * neighbor lists from [[Knn.lshTopK]] (each vertex ranks only its
    * own bucket — the billion-scale candidate discipline), an edge kept
    * iff BOTH endpoints rank each other. Mutuality is the standard
    * symmetric sparsifier between raw kNN lists and clustering
    * (spectral / community detection): hub vertices lose their
    * one-sided fans, so cluster boundaries stop bleeding through
    * popular neighbors. The mutual check is a self-join of the ≤ 3n
    * directed-edge frame on the reversed key — never touches vectors
    * again. */
  def qsKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val topk = Knn.lshTopK(Tables.load(spark, dir, "embeddings"),
      "embedding", "vec_id", NumPlanes, Dims, 3)
      .select(col("q_id"), col("neighbor_id"), col("cosine"))
    val fwd = topk.toDF("a_id", "b_id", "cosine")
    val rev = topk.select(col("neighbor_id").as("a_id"), col("q_id").as("b_id"))
    fwd.where(col("a_id") < col("b_id"))
      .join(rev.where(col("a_id") < col("b_id")), Seq("a_id", "b_id"), "left_semi")
      .orderBy("a_id", "b_id")
  }

  val qsKnnGraphSql: String =
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings
       |), ranked AS (
       |  SELECT q_id, neighbor_id, cosine FROM (
       |    SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
       |      ${cosineSql("a.embedding", "b.embedding")} AS cosine,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${cosineSql("a.embedding", "b.embedding")} DESC, b.vec_id) AS rank
       |    FROM bucketed a JOIN bucketed b
       |      ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  ) t WHERE rank <= 3
       |)
       |SELECT f.q_id AS a_id, f.neighbor_id AS b_id, f.cosine
       |FROM ranked f
       |WHERE f.q_id < f.neighbor_id
       |  AND EXISTS (SELECT 1 FROM ranked r
       |    WHERE r.q_id = f.neighbor_id AND r.neighbor_id = f.q_id)
       |ORDER BY a_id, b_id""".stripMargin

  /** §2.27l — incremental embedding ingest against the standing LSH
    * index (the embedding analog of qd_incremental's band probe): an
    * arriving batch (the deterministic 10% slice vec_id % 10 = 7, so
    * the query exercises real matches at every SF) is bucketed by the SAME
    * hyperplanes as the standing corpus and probes only its own
    * bucket — per new vector, the best standing match above the
    * near-dup threshold decides attach-to-existing vs new-content,
    * without recomparing the corpus against itself. This is the
    * steady-state shape of a continuously-fed ANN/dedup index: work is
    * linear in the batch, the standing side is touched only through
    * the bucket join, and the decision column is what a downstream
    * writer consumes. */
  def qsIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.{asDoubles, dot}
    import org.apache.spark.sql.expressions.Window
    val planes = Knn.planes(NumPlanes, Dims)
    val all = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .withColumn("bucket", Knn.bucketId(col("v"), planes))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val batch = all.where(col("vec_id") % 10 === 7)
      .select(col("vec_id").as("new_id"), col("v").as("v_n"),
        col("bucket"), col("norm").as("norm_n"))
    val standing = all.where(col("vec_id") % 10 =!= 7)
      .select(col("vec_id").as("old_id"), col("v").as("v_o"),
        col("bucket"), col("norm").as("norm_o"))
    val w = Window.partitionBy("new_id")
      .orderBy(col("cosine").desc, col("old_id"))
    val best = batch.join(standing, "bucket")
      .select(col("new_id"), col("old_id"),
        round(dot(col("v_n"), col("v_o")) / (col("norm_n") * col("norm_o")), 6)
          .as("cosine"))
      .where(col("cosine") >= 0.3)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("new_id"), col("old_id").as("match_id"), col("cosine"))
    batch.select(col("new_id"))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), col("match_id"), col("cosine"),
        col("match_id").isNotNull.as("is_near_dup"))
      .orderBy("new_id")
  }

  val qsIncrementalSql: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings
       |), best AS (
       |  SELECT new_id, match_id, cosine FROM (
       |    SELECT n.vec_id AS new_id, o.vec_id AS match_id,
       |      ${cosineSql("n.embedding", "o.embedding")} AS cosine,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${cosineSql("n.embedding", "o.embedding")} DESC, o.vec_id)
       |        AS rk
       |    FROM b n JOIN b o
       |      ON n.bucket = o.bucket AND n.vec_id % 10 = 7 AND o.vec_id % 10 <> 7
       |    WHERE ${cosineSql("n.embedding", "o.embedding")} >= 0.3
       |  ) t WHERE rk = 1
       |)
       |SELECT n.vec_id AS new_id, x.match_id, x.cosine,
       |  (x.match_id IS NOT NULL) AS is_near_dup
       |FROM embeddings n LEFT JOIN best x ON x.new_id = n.vec_id
       |WHERE n.vec_id % 10 = 7
       |ORDER BY new_id""".stripMargin

  /** §2.27o — MMR (maximal marginal relevance) diversity re-rank:
    * for each query (vec_id < 8), greedily select 5 of its top-20
    * cosine candidates maximizing λ·relevance − (1−λ)·max-similarity-
    * to-already-selected (λ=0.7) — the standard redundancy-aware
    * re-rank (Carbonell & Goldstein '98): plain top-k returns 5
    * near-copies when the corpus has duplicate clusters, MMR forces
    * coverage; for RAG-style retrieval over a deduplicated-but-still-
    * redundant corpus this is the step between ANN and the prompt.
    * Scale shape: ANN (here the exact scorer; LSH/IVF at size)
    * produces the BOUNDED candidate panel, so everything after — the
    * 20×20-per-query pair-sim frame and the 5 greedy rounds (driver
    * loop over localCheckpointed bounded frames, one argmax window
    * each) — is O(queries · k·c) regardless of corpus size. The
    * greedy argmax compares scores computed from 6-rounded rel/sim in
    * both engines with an id tie-break, so selection is bit-stable. */
  def qsMmr(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.{asDoubles, dot}
    // 0.3 as a literal, NOT 1-lam: 1.0-0.7 == 0.30000000000000004 in
    // IEEE-754 and the oracle's 0.3 would diverge in the 17th digit.
    val lam = 0.7
    val oneMinusLam = 0.3
    val emb = Tables.load(spark, dir, "embeddings")
    val cand = Knn.bruteForce(emb, emb.where(col("vec_id") < 8),
        "embedding", "vec_id", 20)
      .select(col("q_id"), col("neighbor_id").as("id"),
        col("cosine").as("rel"))
      .localCheckpoint()
    // Candidate-pruned vector panel (r15, guide §3.2/§6): ca and cb
    // below are INNER joins on candidate ids, so only panel vectors
    // (≤ queries·k rows) can survive — yet the un-pruned `vecs`
    // subplan inlined into both joins re-scanned and re-decoded
    // (asDoubles + norm) the FULL corpus twice per run. The broadcast
    // semi-join prunes the scan to panel rows BEFORE the per-row
    // decode (at 100 TB this is the difference between two corpus
    // passes and two index probes), and the pruned panel materializes
    // once for both consumers. Values are unchanged: rows outside the
    // candidate set never survived the inner joins.
    val ids = cand.select(col("id").as("vec_id")).distinct()
    val vecs = graft.operators.Materialize.once(
      emb.join(broadcast(ids), Seq("vec_id"), "left_semi")
        .select(col("vec_id").as("id"), asDoubles(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v")))))
    val ca = cand.select(col("q_id"), col("id").as("id_a"))
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("id_a"))
    val cb = cand.select(col("q_id"), col("id").as("id_b"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
    val pairs = ca.join(cb, Seq("q_id"))
      .where(col("id_a") =!= col("id_b"))
      .select(col("q_id"), col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("sim"))
    // The 5 greedy rounds run IN-ROW over the bounded panel (r15):
    // the former driver loop (per-round anti-join + max-sim join +
    // argmax window + union + localCheckpoint) planned ~40 AQE stage
    // jobs over ≤ q·k-row frames — stage-profiled at 4.5 s warm of
    // which only 2.7 s was job wall and the brute-force scorer 0.3 s;
    // the rest was driver latency between 54 tiny jobs. Per query the
    // candidate panel (k=20) and its pair-sim matrix (k·(k−1) rows)
    // collect into one row, and the greedy argmax folds over
    // sequence(1,5) with the exact same arithmetic: rel/sim enter
    // 6-rounded, score = 0.7·rel − 0.3·max-sim-to-selected (round 1:
    // literal 0.0), argmax by (score desc, id asc) via the sorted
    // struct (score, −id) — bit-identical selection, oracle-verified
    // at sf0.01 + sf0.001. Scale shape unchanged: the panel is
    // bounded, so the fold is O(rounds·k²) per query row.
    val candArr = cand.groupBy("q_id")
      .agg(collect_list(struct(col("id"), col("rel"))).as("cs"))
    val pairArr = pairs.groupBy("q_id")
      .agg(collect_list(struct(col("id_a"), col("id_b"), col("sim")))
        .as("ps"))
    val sel = expr("""
      aggregate(
        sequence(1, 5),
        cast(array() as array<struct<id:bigint,rel:double,score:double,rank:int>>),
        (acc, r) -> concat(acc, transform(
          slice(array_sort(transform(
            filter(cs, c -> !exists(acc, s -> s.id = c.id)),
            c -> named_struct(
              'score', 0.7d * c.rel - 0.3d * coalesce(array_max(transform(
                filter(ps, p -> p.id_a = c.id
                  and exists(acc, s -> s.id = p.id_b)),
                p -> p.sim)), 0.0d),
              'ni', -c.id,
              'id', c.id,
              'rel', c.rel))), -1, 1),
          b -> named_struct('id', b.id, 'rel', b.rel,
            'score', b.score, 'rank', r))))""")
    candArr
      // left join + empty-array default: a query whose panel has a
      // single candidate produces NO pair row; it must still select
      // its rank-1 candidate (the driver-loop shape did).
      .join(pairArr, Seq("q_id"), "left")
      .withColumn("ps", coalesce(col("ps"),
        expr("cast(array() as array<struct<id_a:bigint,id_b:bigint,sim:double>>)")))
      .select(col("q_id"), explode(sel).as("s"))
      // round to SEVEN digits: score = 0.7·rel − 0.3·ms over 6-rounded
      // inputs is an exact multiple of 1e-7, so round(·,6) sits ON the
      // half boundary whenever digit 7 is 5 and the engines' half-up
      // vs float-trick rounding split; at 7 digits no boundary exists.
      .select(col("q_id"), col("s.rank").as("sel_rank"),
        col("s.id").as("neighbor_id"), col("s.rel").as("relevance"),
        round(col("s.score"), 7).as("mmr_score"))
      .orderBy("q_id", "sel_rank")
  }

  val qsMmrSql: String = {
    val rounds = (2 to 5).map { r =>
      s"""rem$r AS (
         |  SELECT c.* FROM cand c
         |  LEFT JOIN sel${r - 1} s ON c.q_id = s.q_id AND c.id = s.id
         |  WHERE s.id IS NULL
         |), ms$r AS (
         |  SELECT m.q_id, m.id_a AS id, MAX(m.sim) AS ms
         |  FROM pairs m
         |  JOIN sel${r - 1} s ON s.q_id = m.q_id AND s.id = m.id_b
         |  GROUP BY m.q_id, m.id_a
         |), s$r AS (
         |  SELECT q_id, id, rel, score, CAST($r AS INTEGER) AS sel_rank
         |  FROM (
         |    SELECT c.q_id, c.id, c.rel,
         |      0.7e0 * c.rel - 0.3e0 * m.ms AS score,
         |      ROW_NUMBER() OVER (PARTITION BY c.q_id
         |        ORDER BY 0.7e0 * c.rel - 0.3e0 * m.ms DESC, c.id) AS rn
         |    FROM rem$r c JOIN ms$r m ON c.q_id = m.q_id AND c.id = m.id
         |  ) t WHERE rn = 1
         |), sel$r AS (
         |  SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH cand AS (
       |  SELECT q_id, id, rel FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS id,
       |      round(${cosineSql("q.embedding", "c.embedding")}, 6) AS rel,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${cosineSql("q.embedding", "c.embedding")}, 6)
       |          DESC, c.vec_id) AS rk
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 8
       |  ) t WHERE rk <= 20
       |), pairs AS (
       |  SELECT a.q_id, a.id AS id_a, b.id AS id_b,
       |    round(${cosineSql("ea.embedding", "eb.embedding")}, 6) AS sim
       |  FROM cand a
       |  JOIN cand b ON a.q_id = b.q_id AND a.id <> b.id
       |  JOIN embeddings ea ON ea.vec_id = a.id
       |  JOIN embeddings eb ON eb.vec_id = b.id
       |), sel1 AS (
       |  SELECT q_id, id, rel, score, CAST(1 AS INTEGER) AS sel_rank
       |  FROM (
       |    SELECT q_id, id, rel, 0.7e0 * rel - 0.3e0 * 0.0e0 AS score,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY 0.7e0 * rel - 0.3e0 * 0.0e0 DESC, id) AS rn
       |    FROM cand
       |  ) t WHERE rn = 1
       |), $rounds
       |SELECT q_id, sel_rank, id AS neighbor_id, rel AS relevance,
       |  round(score, 7) AS mmr_score
       |FROM sel5
       |ORDER BY q_id, sel_rank""".stripMargin
  }

  /** §2.27p — hard-negative / hard-positive triplet mining for the
    * contrastive-training data pipeline: per anchor (the standard
    * vec_id < 10 panel), the HARDEST NEGATIVE (highest-cosine vector
    * with a different label — the pair a contrastive loss learns most
    * from) and the HARDEST POSITIVE (lowest-cosine same-label vector —
    * the in-class outlier), plus the triplet margin and a violation
    * flag (negative closer than positive = the anchor's neighborhood
    * is mislabeled or the embedding is undertrained; the batch-level
    * violation rate is the curriculum signal). Ranking compares the
    * ROUNDED cosine in both engines so rank order cannot flip on a
    * last-bit double. Scale: anchors broadcast against the corpus scan
    * exactly like 26's brute panel; at fleet scale the candidate set
    * comes from the IVF/LSH index (27b/27f) instead of the full scan —
    * the mining logic downstream of candidates is unchanged. */
  def qsHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.{asDoubles, dot}
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        asDoubles(col("embedding")).as("__v"))
      .withColumn("__n", sqrt(dot(col("__v"), col("__v"))))
    val anchors = base.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("__v").as("__qv"), col("__n").as("__qn"))
    val scored = base.join(broadcast(anchors), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        round(dot(col("__qv"), col("__v")) / (col("__qn") * col("__n")), 6)
          .as("cosine"))
    val neg = scored.where(col("label") =!= col("q_label"))
      .withColumn("__r", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("vec_id"))))
      .where(col("__r") === 1)
      .select(col("q_id"), col("q_label"),
        col("vec_id").as("hard_neg_id"), col("cosine").as("neg_cosine"))
    val pos = scored.where(col("label") === col("q_label"))
      .withColumn("__r", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("cosine").asc, col("vec_id"))))
      .where(col("__r") === 1)
      .select(col("q_id"), col("vec_id").as("hard_pos_id"),
        col("cosine").as("pos_cosine"))
    neg.join(pos, "q_id")
      .select(col("q_id"), col("q_label"),
        col("hard_pos_id"), col("pos_cosine"),
        col("hard_neg_id"), col("neg_cosine"),
        round(col("pos_cosine") - col("neg_cosine"), 6).as("margin"),
        when(col("neg_cosine") > col("pos_cosine"), 1).otherwise(0)
          .as("violated"))
      .orderBy("q_id")
  }

  val qsHardNegativesSql: String =
    s"""WITH s AS (
       |  SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id, c.label,
       |    round(${cosineSql("q.embedding", "c.embedding")}, 6) AS cosine
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 10
       |), neg AS (
       |  SELECT q_id, q_label, vec_id AS hard_neg_id, cosine AS neg_cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS r
       |  FROM s WHERE label <> q_label
       |), pos AS (
       |  SELECT q_id, vec_id AS hard_pos_id, cosine AS pos_cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine ASC, vec_id) AS r
       |  FROM s WHERE label = q_label
       |)
       |SELECT n.q_id, n.q_label, p.hard_pos_id, p.pos_cosine,
       |  n.hard_neg_id, n.neg_cosine,
       |  round(p.pos_cosine - n.neg_cosine, 6) AS margin,
       |  CASE WHEN n.neg_cosine > p.pos_cosine THEN 1 ELSE 0 END AS violated
       |FROM neg n JOIN pos p ON n.q_id = p.q_id
       |WHERE n.r = 1 AND p.r = 1
       |ORDER BY n.q_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qs_hard_negatives" -> (qsHardNegatives _),
    "qs_mmr" -> (qsMmr _),
    "qs_incremental" -> (qsIncremental _),
    "qs_embed_qc" -> (qsEmbedQc _),
    "qs_knn_graph" -> (qsKnnGraph _),
    "qs_lsh_stats" -> (qsLshStats _),
    "qs_knn_classify" -> (qsKnnClassify _),
    "qs_quantize_recall" -> (qsQuantizeRecall _),
    "qs_centroids" -> (qsCentroids _),
    "qd_semantic" -> (qdSemantic _),
    "qs_quantize" -> (qsQuantize _),
    "qs_knn_brute" -> (qsKnnBrute _),
    "qs_radius" -> (qsRadius _),
    "qs_knn_filtered" -> (qsKnnFiltered _),
    "qs_knn_lsh" -> (qsKnnLsh _),
    "qs_knn_multiprobe" -> (qsKnnMultiprobe _),
    "qs_probe_sweep" -> (qsProbeSweep _),
    "qs_embedding_drift" -> (qsEmbeddingDrift _),
    "qs_knn_ivf" -> (qsKnnIvf _),
    "qs_recall" -> (qsRecall _))

  val oracles: Map[String, String] = Map(
    "qs_hard_negatives" -> qsHardNegativesSql,
    "qs_mmr" -> qsMmrSql,
    "qs_incremental" -> qsIncrementalSql,
    "qs_embed_qc" -> qsEmbedQcSql,
    "qs_knn_graph" -> qsKnnGraphSql,
    "qs_lsh_stats" -> qsLshStatsSql,
    "qs_quantize_recall" -> qsQuantizeRecallSql,
    "qs_knn_classify" -> qsKnnClassifySql,
    "qs_centroids" -> qsCentroidsSql,
    "qd_semantic" -> qdSemanticSql,
    "qs_quantize" -> qsQuantizeSql,
    "qs_knn_brute" -> qsKnnBruteSql,
    "qs_radius" -> qsRadiusSql,
    "qs_knn_filtered" -> qsKnnFilteredSql,
    "qs_knn_lsh" -> qsKnnLshSql,
    "qs_knn_multiprobe" -> qsKnnMultiprobeSql,
    "qs_probe_sweep" -> qsProbeSweepSql,
    "qs_embedding_drift" -> qsEmbeddingDriftSql,
    // Full-probe IVF == exact top-k, so it shares the brute-force oracle.
    "qs_knn_ivf" -> qsKnnBruteSql,
    "qs_recall" -> qsRecallSql)
}
