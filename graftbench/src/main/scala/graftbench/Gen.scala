package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the benchmark's input tables.
  *
  * Writes the ten tables `graft.Tables.names` reads, with the schemas,
  * key domains and value ranges of the TPC-H-like sf0.1 drop graft's
  * queries are written against: 600 k lineitem, 150 k orders, 15 k
  * customers, 20 k parts, 1 k suppliers, 100 k events, 5 k documents
  * (5 % of them a copy of another document plus the token `dup`) and
  * 2 k unit-norm 64-dimensional embeddings clustered by label.
  * `scale` multiplies every row count except region and nation.
  *
  * Every cell derives from `xxhash64(seed, tag, id)`, so the output is
  * identical for identical (seed, scale) whatever the partitioning.
  */
object Gen {
  private val Vocab = Seq("spark", "line", "small", "fast", "group",
    "customer", "part", "column", "order", "scan", "a", "slow", "agg",
    "key", "window", "table", "merge", "vector", "join", "query", "row",
    "stream", "the", "batch", "sort", "value", "hash", "filter", "big",
    "data")

  def generate(spark: SparkSession, out: String, seed: Long,
      scale: Double): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * scale))
    def h(tag: String, c: Column = col("id")): Column =
      xxhash64(lit(seed), lit(tag), c)
    /** Uniform integer in [lo, hi]. */
    def uni(tag: String, lo: Long, hi: Long, c: Column = col("id")): Column =
      pmod(h(tag, c), lit(hi - lo + 1)) + lit(lo)
    /** Uniform value in [lo, hi] with two decimals. */
    def money(tag: String, lo: Double, hi: Double): Column =
      (uni(tag, math.round(lo * 100), math.round(hi * 100)) / 100.0)
        .cast("double")
    def pick(tag: String, values: Seq[String], c: Column = col("id")): Column =
      element_at(array(values.map(lit): _*),
        (uni(tag, 0, values.size - 1, c) + 1).cast("int"))
    def day(tag: String, from: String, days: Long): Column =
      timestamp_seconds(unix_timestamp(lit(from + " 00:00:00")) +
        uni(tag, 0, days - 1) * 86400L)
    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files).sortWithinPartitions(df.columns.head)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrd = n(150000); val nLine = n(600000); val nEv = n(100000)
    val nDoc = n(5000); val nEmb = n(2000)

    write(spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
      "MIDDLE EAST").zipWithIndex.map { case (r, i) => (i, r) })
      .toDF("r_regionkey", "r_name"), "region", 1)
    write(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation", 1)
    write(spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uni("c_nation", 0, 24).cast("int").as("c_nationkey"),
      money("c_acctbal", -999.99, 9999.99).as("c_acctbal"),
      pick("c_seg", Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
        "FURNITURE")).as("c_mktsegment")), "customer", 1)
    write(spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uni("s_nation", 0, 24).cast("int").as("s_nationkey"),
      money("s_acctbal", -999.99, 9999.99).as("s_acctbal")), "supplier", 1)
    write(spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick("p_adj", Seq("large", "hot", "blue", "old", "cold", "small",
          "red", "new")),
        pick("p_noun", Seq("ring", "bolt", "plate", "gear", "widget", "nut",
          "screw", "valve"))).as("p_name"),
      concat(lit("Brand#"), uni("p_brand", 1, 25)).as("p_brand"),
      pick("p_type", Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
        "PROMO")).as("p_type"),
      uni("p_size", 1, 50).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")),
      "part", 1)
    write(spark.range(nOrd).select(col("id").as("o_orderkey"),
      uni("o_cust", 0, nCust - 1).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_total", 1000.0, 500000.0).as("o_totalprice"),
      day("o_date", "1995-01-01", 2404).as("o_orderdate"),
      pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), "orders", 2)
    write(spark.range(nLine).select(
      uni("l_order", 0, nOrd - 1).as("l_orderkey"),
      uni("l_part", 0, nPart - 1).as("l_partkey"),
      uni("l_supp", 0, nSupp - 1).as("l_suppkey"),
      uni("l_line", 1, 7).cast("int").as("l_linenumber"),
      uni("l_qty", 1, 50).cast("double").as("l_quantity"),
      money("l_price", 900.0, 105000.0).as("l_extendedprice"),
      (uni("l_disc", 0, 10) / 100.0).as("l_discount"),
      (uni("l_tax", 0, 8) / 100.0).as("l_tax"),
      pick("l_rf", Seq("N", "A", "R")).as("l_returnflag"),
      pick("l_ls", Seq("O", "F")).as("l_linestatus"),
      day("l_ship", "1995-01-02", 2498).as("l_shipdate")), "lineitem", 4)
    // Event times advance with event_id across January 2024, 26 s apart
    // on average at the base scale.
    val evSpan = 30L * 86400L * 1000000L
    write(spark.range(nEv).select(col("id").as("event_id"),
      timestamp_micros(unix_micros(lit("2024-01-01 00:00:00").cast("timestamp")) +
        col("id") * (evSpan / nEv) + uni("ev_jit", 0, evSpan / nEv - 1))
        .as("ts"),
      uni("ev_user", 0, n(1500) - 1).as("user_id"),
      pick("ev_type", Seq("signup", "click", "error", "view", "purchase"))
        .as("event_type"),
      money("ev_value", 0.0, 560.0).as("value"),
      format_string("{\"k\": %d}", uni("ev_k", 0, 99)).as("props")),
      "events", 2)
    // A document is 10-100 vocabulary tokens; 5 % of documents repeat an
    // earlier document's text with " dup" appended (near-duplicates).
    val tokens = transform(sequence(lit(1), uni("d_len", 10, 100).cast("int")),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit("d_tok"), col("id"), i),
          lit(Vocab.size.toLong)) + 1).cast("int")))
    val base = spark.range(nDoc).select(col("id"),
      array_join(tokens, " ").as("own"),
      (pmod(h("d_isdup"), lit(20L)) === 0).as("is_dup"),
      uni("d_src", 0, nDoc - 1).as("src_id"))
    val texts = base.select(col("id").as("src_id"), col("own").as("src_text"))
    val docs = base.join(texts, Seq("src_id"), "left")
      .select(col("id").as("doc_id"),
        when(col("is_dup") && col("src_id") =!= col("id"),
          concat(col("src_text"), lit(" dup"))).otherwise(col("own"))
          .as("text"),
        col("id"))
    write(docs.select(col("doc_id"), col("text"),
      pick("d_lang", Seq("en", "en", "en", "zh", "de", "fr", "es"))
        .as("lang"),
      concat(lit("src"), uni("d_source", 0, 19)).as("source"),
      length(col("text")).cast("long").as("n_chars")), "documents", 2)
    // Unit vectors around ten label centroids.
    val dims = 64
    val raw = transform(sequence(lit(0), lit(dims - 1)), d =>
      (pmod(xxhash64(lit(seed), lit("e_c"), col("label"), d), lit(2001L)) -
        1000L) / 1000.0 +
        (pmod(xxhash64(lit(seed), lit("e_n"), col("id"), d), lit(2001L)) -
          1000L) / 1500.0)
    val norm = sqrt(aggregate(col("raw"), lit(0.0),
      (acc, x) => acc + x * x))
    write(spark.range(nEmb)
      .select(col("id"), uni("e_label", 0, 9).cast("int").as("label"))
      .select(col("id"), col("label"), raw.as("raw"))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / norm).cast("float")).as("embedding"),
        col("label")), "embeddings", 1)
  }
}
