package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder data generator: expands the driver's sf0.1 drop by an
  * integer multiplier so the heavy operators can be MEASURED (not just
  * plan-audited) beyond the 17 MB the sandbox ships. `sf1` = ×10,
  * `sf4` = ×40 of sf0.1 — the output keeps the driver's exact schemas,
  * so every `SparkEntry.queries` entry runs against it unchanged.
  *
  * Scaling semantics per table (what "10× more data" means for each):
  *
  *  - `region`/`nation`: TPC-H dimension tables — constant at every SF
  *    (the spec never scales them; broadcast-side stays broadcast-side).
  *  - `customer`/`supplier`/`part`/`orders`/`lineitem`: each copy `c`
  *    shifts every key by `c × stride(keyDomain)` where the stride is
  *    the domain's observed key span (max−min+1) — FK joins stay consistent
  *    (copy-c orders reference copy-c customers), key cardinality grows
  *    ×k, and per-key fan-in (lineitems per order) stays constant, the
  *    way a bigger TPC-H SF behaves. Dates/values are untouched: more
  *    rows in the SAME calendar range is what a larger corpus over the
  *    same time window looks like, so calendar-bounded windows see ×k
  *    rows per frame, not ×k frames.
  *  - `events`: `event_id`/`user_id` shift per copy — ×k users with the
  *    SAME per-user session/event profile (sessionization, RFM, LTV all
  *    scale by user count, their per-key state constant).
  *  - `documents`: doc_id shifts; copy c>0 applies a PER-COPY VOCABULARY
  *    SUBSTITUTION — token t rewrites to `t~c` iff `hash(c, t)` selects
  *    it (~40% of the vocabulary per copy). The map is injective and
  *    position-independent, so within a copy EVERY pairwise Jaccard —
  *    token-set and word-shingle alike — is exactly the original
  *    corpus's (bijective renaming preserves set intersections): the
  *    near-dup cluster COUNT scales ×k with cluster sizes unchanged.
  *    Across copies ~60% shared vocabulary → Jaccard ≈ 0.43, below
  *    every shipped near-dup threshold, so copies never merge. (An
  *    earlier per-(doc,copy,position) mutation broke within-copy
  *    structure — near-dup docs mutated independently drop to ~0.36×
  *    their original similarity, and the measured sf1 candidate-pair
  *    count grew only 1.1× instead of ×10.) n_chars is recomputed
  *    from the rewritten text.
  *  - `embeddings`: vec_id shifts; each dimension gets deterministic
  *    hash-noise (±0.025) per copy so vectors spread instead of
  *    stacking k-deep on identical points (which would make every kNN
  *    list a tie-fest and LSH buckets k× hot).
  *
  * Everything derives from `hash(...)` over (id, copy, position): the
  * output is bit-deterministic across runs and partitionings. Output
  * is written with row-group-sane parallelism (32 files for fat
  * tables), so scans parallelize like a real multi-file drop.
  *
  * Skew mode (4th arg `zipf=<s>`, e.g. `zipf=1.1`): the uniform key
  * shift above keeps every join/group key's fan-in flat — which means
  * the salted-join/skew machinery had never been measured against data
  * that actually needs it. With `zipf=s`, the FK-SIDE keys are redrawn
  * from a truncated power law over the GLOBAL scaled key domain
  * (P(rank k) ∝ k^-s over all mult×span keys, inverse-CDF of the
  * continuous truncation — rank 0 = the domain-min key is THE hot
  * key): `events.user_id`, `orders.o_custkey`, `lineitem.l_partkey`,
  * `lineitem.l_suppkey`. PK sides stay uniform (every drawn FK still
  * resolves — referential integrity holds); documents/embeddings are
  * untouched (their hot spots come from content, not generator keys).
  * GLOBAL, not per-copy, deliberately: a first cut drew one Zipf head
  * per copy and the ×40 run produced ZERO stragglers — 40 heads
  * hash-spread across 32 reduce partitions is self-balancing at
  * partition granularity. One global head is the shape salting exists
  * for: at s=1.1 over the ×40 supplier domain the top supplier takes
  * ~10% of ALL 24 M lineitem rows, so the unsplittable reduce
  * partition carries ~4× the median — the measured straggler.
  *
  * Run: `sbt "runMain graft.ScaleGen <srcDir> <outDir> <multiplier> [zipf=<s>]"`.
  */
object ScaleGen {
  /* Vocab-skew mode (4th arg `vocabzipf=<s>`): the join-key zipf mode
   * above stresses the SHUFFLE-KEY path; the dedup/text family
   * (posting lists, band buckets, df-ordered prefixes) is stressed by
   * a Zipfian VOCABULARY instead — qd_prefix_join's "head elements
   * sort last" ordering claim and the band-bucket guards had only been
   * measured against the generator's roughly uniform token
   * distribution. With `vocabzipf=s`, every token occurrence (after
   * the per-copy substitution) is rewritten to `z<r>` where r is a
   * truncated-power-law rank over a 65 536-token synthetic vocabulary,
   * drawn from hash(token, position) — doc-independent, so replicated
   * near-dup copies (which share token AND position at every
   * unsubstituted slot) rewrite identically and stay near-dup, while
   * the substituted slots rewrite differently and keep carrying the
   * mutation distance. The seed must include the position: the driver
   * corpus holds only 31 distinct tokens at every SF (measured), so a
   * token-only map is a pushforward of 31 lumpy atoms — no power law
   * can emerge, and the modal output rank is whichever bucket a heavy
   * atom happens to hash into. With position in the seed the atom
   * count is 31 × max-doc-length (thousands), the realized vocabulary
   * is thousands of z-tokens with Zipfian df, and at s=1.1 the head
   * token z0 takes ~10% of ALL occurrences (F(2) of the truncated
   * zeta) and appears in ~every document (P ≈ 1−0.9^len): df-ordered
   * prefixes must push it out of posting lists, and minhash band
   * buckets must not melt. This corpus is for SKEW MEASUREMENT
   * (task-time ratios), not oracle comparison — the rewrite changes
   * pair counts by design. */
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleGen <srcDir> <outDir> <multiplier> [zipf=<s>]")
    val src = args(0); val out = args(1)
    val mult = args(2).toInt
    val (zipfS, vocabZipfS) =
      if (args.length == 4) {
        require(args(3).startsWith("zipf=") || args(3).startsWith("vocabzipf="),
          s"bad 4th arg: ${args(3)}")
        if (args(3).startsWith("vocabzipf="))
          (0.0, args(3).stripPrefix("vocabzipf=").toDouble)
        else (args(3).stripPrefix("zipf=").toDouble, 0.0)
      } else (0.0, 0.0)
    require(mult >= 1, s"multiplier must be >= 1, got $mult")
    val spark = Harness.session(Seq("spark.sql.shuffle.partitions" -> "32"))
    generate(spark, src, out, mult, zipfS, vocabZipfS)
    spark.stop()
  }

  /** Inverse CDF of the continuous power law p(k) ∝ k^-s truncated to
    * [1, n], evaluated at a deterministic uniform draw hashed from
    * `seedCols`: F⁻¹(u) = (1 + u·(n^(1-s) − 1))^(1/(1-s)). Returns the
    * 0-based rank (floor − 1, clamped), so callers add it to the
    * domain's min key. s must be > 0 and ≠ 1 (s≈1.1 is the measured
    * web/tenant shape). */
  private[graft] def zipfRank(n: Long, s: Double,
      seedCols: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column = {
    require(s > 0 && s != 1.0, s"zipf s must be > 0 and != 1, got $s")
    val u = (pmod(hash(seedCols: _*), lit(1000000)).cast("double") + 0.5) /
      1000000.0
    val oneMinusS = 1.0 - s
    val rank = floor(pow(
      lit(1.0) + u * (pow(lit(n.toDouble), oneMinusS) - 1.0),
      1.0 / oneMinusS))
    least(greatest(rank.cast("long") - 1L, lit(0L)), lit(n - 1))
  }

  def generate(spark: SparkSession, src: String, out: String, mult: Int,
      zipfS: Double = 0.0, vocabZipfS: Double = 0.0): Unit = {
    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    // Copy index frame: cross-joining a k-row local relation replicates
    // without any shuffle — the scan side stays partition-parallel and
    // the copies multiply inside the scan's own tasks.
    val copies = spark.range(mult).toDF("__copy")
    def replicate(df: DataFrame): DataFrame = df.crossJoin(broadcast(copies))

    // Key domains: observed (min, span) per key domain (one cheap agg
    // per table). Span is max−min+1, NOT max: the driver's keys are
    // 0-based, and a max-stride would make copy c's minimum key collide
    // with copy c−1's maximum — caught by ScaleGenSpec's uniqueness pin.
    def domainOf(df: DataFrame, c: String): (Long, Long) = {
      val r = df.agg(min(col(c)), max(col(c))).head()
      (r.getLong(0), r.getLong(1) - r.getLong(0) + 1)
    }
    def strideOf(df: DataFrame, c: String): Long = domainOf(df, c)._2
    val (custMin, custStride) = domainOf(read("customer"), "c_custkey")
    val ordStride = strideOf(read("orders"), "o_orderkey")
    val (partMin, partStride) = domainOf(read("part"), "p_partkey")
    val (suppMin, suppStride) = domainOf(read("supplier"), "s_suppkey")

    def shifted(c: String, stride: Long) =
      (col(c) + col("__copy") * stride).as(c)

    // Skew mode: an FK column is REDRAWN from the GLOBAL scaled key
    // domain via the truncated power law instead of carrying its
    // original value — rank 0 (the global domain min) becomes THE hot
    // key. Seeded by the row's own identity (+ __copy, + a per-column
    // tag) so draws are independent across columns/copies and
    // deterministic across runs.
    def zipfKey(minKey: Long, stride: Long, name: String, tag: String,
        seeds: org.apache.spark.sql.Column*) =
      (lit(minKey) +
        zipfRank(stride * mult, zipfS, seeds :+ lit(tag): _*)).as(name)

    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.drop("__copy")
        .repartition(files)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] wrote $name x$mult -> $out/$name.parquet ($files files)")
    }

    // Dimensions: constant across SFs.
    read("region").write.mode("overwrite").parquet(s"$out/region.parquet")
    read("nation").write.mode("overwrite").parquet(s"$out/nation.parquet")

    // Entity NAMES stay 1:1 with their keys across copies (suffix on
    // copy > 0), the way real TPC-H derives names from keys. Found by
    // the first sf1 oracle sweep (r14): q21's paired texts group by
    // s_name (oracle) vs s_suppkey+join (engine) — equivalent exactly
    // when the name↔key bijection holds, which copied names broke (10
    // suppliers sharing one name merged to numwait 220 on one side vs
    // ten rows of 22 on the other, with BOTH engines right per their
    // own text). Suffix at the END so prefix predicates (p_name LIKE
    // 'red%') keep matching the copies.
    def copyName(c: String) = when(col("__copy") === 0, col(c))
      .otherwise(concat(col(c), lit("#x"), col("__copy"))).as(c)

    write(replicate(read("customer")).select(
      shifted("c_custkey", custStride), copyName("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"), col("__copy")), "customer", 8)

    write(replicate(read("supplier")).select(
      shifted("s_suppkey", suppStride), copyName("s_name"), col("s_nationkey"),
      col("s_acctbal"), col("__copy")), "supplier", 4)

    write(replicate(read("part")).select(
      shifted("p_partkey", partStride), copyName("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice"), col("__copy")),
      "part", 8)

    val oCust =
      if (zipfS > 0)
        zipfKey(custMin, custStride, "o_custkey", "cust", col("o_orderkey"),
          col("__copy"))
      else shifted("o_custkey", custStride)
    write(replicate(read("orders")).select(
      shifted("o_orderkey", ordStride), oCust,
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"), col("__copy")), "orders", 16)

    val lPart =
      if (zipfS > 0)
        zipfKey(partMin, partStride, "l_partkey", "part", col("l_orderkey"),
          col("l_linenumber"), col("__copy"))
      else shifted("l_partkey", partStride)
    val lSupp =
      if (zipfS > 0)
        zipfKey(suppMin, suppStride, "l_suppkey", "supp", col("l_orderkey"),
          col("l_linenumber"), col("__copy"))
      else shifted("l_suppkey", suppStride)
    write(replicate(read("lineitem")).select(
      shifted("l_orderkey", ordStride), lPart,
      lSupp, col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"),
      col("__copy")), "lineitem", 32)

    val ev = read("events")
    val evStride = strideOf(ev, "event_id")
    val (userMin, userStride) = domainOf(ev, "user_id")
    val evUser =
      if (zipfS > 0)
        zipfKey(userMin, userStride, "user_id", "user", col("event_id"),
          col("__copy"))
      else shifted("user_id", userStride)
    write(replicate(ev).select(
      shifted("event_id", evStride), col("ts"), evUser,
      col("event_type"), col("value"), col("props"), col("__copy")),
      "events", 32)

    val docs = read("documents")
    val docStride = strideOf(docs, "doc_id")
    // Per-copy vocabulary substitution: selection depends ONLY on
    // (copy, token), never doc or position, so the rewrite is one
    // injective map per copy and within-copy similarity structure is
    // bit-preserved. Copy 0 is the verbatim original, so sfX strictly
    // contains sf0.1's corpus.
    val mutated = expr(
      """array_join(
           transform(split(text, ' '),
                     t -> CASE
                       WHEN __copy > 0 AND pmod(hash(__copy, t), 10) < 4
                       THEN concat(t, '~', __copy)
                       ELSE t END),
           ' ')""")
    // Vocab-skew rewrite (see the header): occurrence → `z<rank>` where
    // rank is the truncated-power-law inverse CDF over a 65 536-token
    // vocabulary, seeded by hash(token, position) — position included
    // because the driver corpus has only 31 distinct tokens (a
    // token-only pushforward is 31 lumpy atoms, no power law). Applied
    // AFTER the per-copy substitution so the ×k cluster structure
    // feeds the map.
    val vocabSkewed: org.apache.spark.sql.Column = {
      val v = 65536L
      val oneMinusS = 1.0 - vocabZipfS
      expr(
        s"""array_join(
             transform(split(text, ' '),
               (t, i) -> concat('z', CAST(least(greatest(
                 CAST(floor(power(
                   1.0D + ((CAST(pmod(hash(t, i), 1000000) AS DOUBLE) + 0.5D)
                             / 1000000.0D)
                        * (power(CAST($v AS DOUBLE), ${oneMinusS}D) - 1.0D),
                   ${1.0 / oneMinusS}D)) AS BIGINT) - 1L,
                 0L), ${v - 1}L) AS STRING))),
             ' ')""")
    }
    val docText =
      if (vocabZipfS > 0) {
        require(vocabZipfS != 1.0, s"vocabzipf s must be != 1, got $vocabZipfS")
        vocabSkewed.as("text")
      } else mutated.as("text")
    val docBase =
      if (vocabZipfS > 0)
        replicate(docs).select(shifted("doc_id", docStride),
          mutated.as("text"), col("lang"), col("source"), col("__copy"))
      else replicate(docs).select(shifted("doc_id", docStride),
        col("text"), col("lang"), col("source"), col("__copy"))
    write(docBase.select(
      col("doc_id"), docText, col("lang"),
      col("source"), col("__copy"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars", "__copy"),
      "documents", 32)

    val embs = read("embeddings")
    val vecStride = strideOf(embs, "vec_id")
    val noised = expr(
      """zip_with(embedding,
                  sequence(0, size(embedding) - 1),
                  (x, i) -> CAST(x + IF(__copy = 0, 0.0D,
                    (pmod(hash(vec_id, __copy, i), 1001) / 1000.0D - 0.5D)
                      * 0.05D) AS FLOAT))""")
    write(replicate(embs).select(
      shifted("vec_id", vecStride), noised.as("embedding"), col("label"),
      col("__copy")), "embeddings", 16)
  }
}
