package graft

/** Empirical scale ladder: run the heavy operators against a sequence
  * of scale-factor directories (driver sf0.1 plus ScaleGen's sf1/sf4)
  * and record wall time + measured shuffle/spill per (query, SF). The
  * output is the evidence SCALING.md summarizes — time-vs-rows growth
  * measured, not inferred from plan shape.
  *
  * Method notes:
  *  - each (query, SF) runs `iterations` times, min taken — same noise
  *    discipline as Bench (shared host, ±35%% ambient swings measured);
  *    a failed iteration never discards a successful one.
  *  - one SparkSession serves the whole ladder so JVM/codegen warmup
  *    amortizes identically across SFs; queries run in name order
  *    within each SF, SFs smallest-first (warm → the LARGE runs, which
  *    decide the verdict, are the best-measured ones).
  *  - stage metrics attribute via [[StageCollector]]; the recorded
  *    metrics come from the LAST successful iteration so
  *    cached-relation warmup jobs from iteration 1 don't inflate them.
  *
  * Run: `sbt "runMain graft.ScaleLadder sf0.1=/root/testdata/sf0.1 \
  *   sf1=target/scaledata/sf1 sf4=target/scaledata/sf4"`.
  * Env: SPARK_GRAFT_LADDER_QUERIES (comma list) overrides the default
  * heavy set; SPARK_GRAFT_LADDER_OUT (default SCALING_RAW.jsonl).
  */
object ScaleLadder {
  /** Heaviest operators by r10 bench + one representative per family
    * whose cost is dominated by a distinct plan shape. */
  val DefaultQueries: Seq[String] = Seq(
    // dedup family: tf-idf rerank, manifest (iterative components),
    // PageRank power iteration, prefix-filter join, minhash-band pairs,
    // k-core peel, simhash Hamming banding, sorted-neighborhood blocking
    "qd_tfidf_pairs", "qd_manifest", "qd_pagerank", "qd_pagerank_auto",
    "qd_prefix_join",
    "qd_minhash_pairs", "qd_kcore", "qd_kcore_auto", "qd_simhash_pairs",
    "qd_sorted_neighbors",
    // pipeline: leakage-safe split, DSIR eval, contamination n-grams,
    // sequence packing
    "qp_split", "qp_dsir_eval", "qp_contamination", "qp_pack",
    // text: DistributedRank consumer, bigram LM, BM25 inverted scoring
    "qt_zipf", "qt_bigram_lm", "qt_bm25",
    // events: bootstrap resampling, RFM/heavytail/LTV (DistributedRank),
    // sessionization, ordered funnel
    "qe_bootstrap", "qe_rfm", "qe_heavytail", "qe_ltv_deciles",
    "qe_sessions", "qe_sessions_stitched", "qe_funnel",
    // multimodal: banded dHash clustering
    "qm_phash_clusters",
    // similarity: MMR diversification, exhaustive-scan kNN baseline,
    // IVF cell-probed kNN (the scale path)
    "qs_mmr", "qs_knn_brute", "qs_knn_ivf",
    // profiling: full-column profile (wide single-pass aggregation)
    "qc_profile",
    // analytics: EB shrinkage (TakeOrdered path), TPC-H Q21 heavy join
    "q_eb_shrinkage", "q21_waiting",
    // operators: TopKPerKey whole-operator, salted skew join
    "qo_topk", "qo_skew_join")

  def main(args: Array[String]): Unit = {
    val ladder = Harness.labelDirs(args.toSeq, "ScaleLadder <label>=<dir> ...")
    val names = sys.env.get("SPARK_GRAFT_LADDER_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val iterations =
      sys.env.getOrElse("SPARK_GRAFT_LADDER_ITERS", "2").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_LADDER_OUT",
      "SCALING_RAW.jsonl")

    val spark = Harness.session()
    // Per-TASK run times ride alongside the per-stage totals: the skew
    // rung's verdict is a straggler question (other cores hide one
    // straggler in a local run; a real cluster's stage does not).
    val collector = new StageCollector(spark.sparkContext)

    def ms(v: Double): String = JsonFmt.ms(v)
    def mb(b: Long): String = ms(b / 1048576.0)
    Harness.appendJsonl(outPath) { emit =>
      for ((label, dir) <- ladder; name <- names.sorted) {
        val fn = SparkEntry.queries(name)
        val cell = Harness.minOfN(iterations) {
          val w = collector.window(Force.rows(fn(spark, dir)))
          (w.sec, w)
        }
        emit(cell match {
          case Left(e) =>
            // "force":"full" on the error line too: scaling_table.py
            // filters raw records on that field, and an error line
            // without it would be dropped BEFORE last-wins — letting
            // an older success mask the newest run's crash.
            s"""{"sf":"$label","query":"$name","error":"${JsonFmt.err(e)}","force":"full"}"""
          case Right((best, w)) =>
            val (maxTask, medTask) = w.maxMedianTaskMs
            s"""{"sf":"$label","query":"$name","sec":${ms(best)},"rows":${w.value},"input_mb":${mb(w.total(_.inputBytes))},"shuffle_write_mb":${mb(w.total(_.shuffleWriteBytes))},"shuffle_read_mb":${mb(w.total(_.shuffleReadBytes))},"spill_mb":${mb(w.total(_.spillBytes))},"task_ms":${w.total(_.runMs)},"n_tasks":${w.taskRunMs.size},"max_task_ms":$maxTask,"med_task_ms":$medTask,"force":"full"}"""
        })
      }
    }
    spark.stop()
  }
}
