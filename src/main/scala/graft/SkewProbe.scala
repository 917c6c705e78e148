package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Straggler probe: the before/after-salting evidence on genuinely
  * Zipfian keys (ScaleGen `zipf=s` dirs).
  *
  * The skew ladder's first honest finding is that at sf4zipf NONE of
  * the production queries straggle: every skewed-key join broadcasts
  * its dimension side (hot keys never cross a shuffle) and every
  * skewed-key aggregation partial-aggregates map-side (the hot key
  * collapses to one row per task before the exchange) — max/med task
  * ratios stay ~uniform. Skew only bites the shape Spark CANNOT
  * absorb: a shuffle join whose build side is too big to broadcast,
  * where every row of the hot key lands on ONE reduce task. This main
  * isolates exactly that shape — lineitem⋈supplier on the Zipf-hot
  * suppkey with broadcast disabled — and measures four legs:
  *
  *  1. smj_plain:   sort-merge, AQE skew-split OFF — the naive plan, the
  *                  straggler baseline (hot task carries ~13.5% of the
  *                  fact table at s=1.1).
  *  2. smj_aqe:     sort-merge, AQE skewJoin ON at DEFAULT thresholds —
  *                  Spark's runtime defense as shipped. Measured: it
  *                  never fires here (the hot partition is ~40 MB,
  *                  far under skewedPartitionThresholdInBytes=256 MB,
  *                  yet an 8-12× TIME straggler — compute-skew is
  *                  invisible to the byte heuristic).
  *  2b. smj_aqe_tuned: same, thresholds tuned to the data
  *                  (threshold+advisory 8 MB) — proves the heuristic
  *                  CAN split this partition once told what "big"
  *                  means here; the tuning an operator would apply on
  *                  a known-skewed corpus.
  *  3. shj_plain:   shuffle-hash, AQE skew-split OFF (AQE's skewJoin
  *                  handles SMJ only) — shows SHJ inherits the same
  *                  reduce-side hot partition.
  *  4. salted:      [[graft.operators.SkewJoin.saltedJoin]] — the
  *                  engine's own rewrite, hot key scattered over
  *                  saltFactor sub-keys; works for ANY join strategy
  *                  and for the agg-feeding case AQE cannot touch.
  *
  * Each leg records wall sec + n_tasks/max_task_ms/med_task_ms to
  * SKEW_RAW.jsonl (query=skewprobe_<leg>), same row shape as
  * ScaleLadder so the SCALING.md skew section reads from one file.
  * All legs run the identical logical aggregate and must agree on the
  * result hash — a leg that "wins" by computing something else is a
  * bug, not a win.
  *
  * Run: `sbt "runMain graft.SkewProbe sf4zipf=target/scaledata/sf4zipf"`.
  */
object SkewProbe {

  def main(args: Array[String]): Unit = {
    val ladder = Harness.labelDirs(args.toSeq, "SkewProbe <label>=<dir> ...")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_LADDER_OUT",
      "SKEW_RAW.jsonl")
    val iterations = sys.env.getOrElse("SPARK_GRAFT_LADDER_ITERS", "2").toInt
    val spark = Harness.session()
    val collector = new StageCollector(spark.sparkContext)

    // The identical logical query of qo_skew_join/qo_skew_join_plain:
    // per-nation item count + price sum over lineitem⋈supplier.
    def big(dir: String) = Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
    def small(dir: String) = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    def aggregate(joined: DataFrame): DataFrame = joined
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("decimal(38,4)").cast("double").as("sum_price"))
      .orderBy("s_nationkey")

    def legs(dir: String): Seq[(String, () => DataFrame)] = Seq(
      "smj_plain" -> (() =>
        aggregate(big(dir).hint("merge").join(small(dir), Seq("suppkey")))),
      "smj_aqe" -> (() =>
        aggregate(big(dir).hint("merge").join(small(dir), Seq("suppkey")))),
      "smj_aqe_tuned" -> (() =>
        aggregate(big(dir).hint("merge").join(small(dir), Seq("suppkey")))),
      // Build side = the DIMENSION (hint on small): per-partition build
      // stays tiny and the hot fact partition streams. The first cut
      // hinted the fact side — its hot partition's hash relation blew
      // the 256 MB page limit and the task DIED
      // ("Can't acquire 268435456 bytes memory to build hash relation",
      // SKEW_RAW sf16zipf row kept): SHJ builds cannot spill, the
      // measured form of the constraint the SNM/tfidf per-partition
      // build gates (MemGate) exist for.
      "shj_plain" -> (() =>
        aggregate(big(dir)
          .join(small(dir).hint("shuffle_hash"), Seq("suppkey")))),
      "salted" -> (() => aggregate(graft.operators.SkewJoin
        .saltedJoin(big(dir), small(dir), "suppkey", saltFactor = 8))))

    Harness.appendJsonl(outPath) { emit =>
      for ((label, dir) <- ladder) {
        var referenceHash: Option[String] = None
        for ((leg, mk) <- legs(dir)) {
          // Broadcast killed for every leg (the probe exists for the
          // regime where the dimension CANNOT broadcast); AQE skew
          // split on only for the leg that measures it.
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
            (leg == "smj_aqe" || leg == "smj_aqe_tuned").toString)
          if (leg == "smj_aqe_tuned") {
            spark.conf.set(
              "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
              "8m")
            spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
              "8m")
          } else {
            spark.conf.unset(
              "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
            spark.conf.unset(
              "spark.sql.adaptive.advisoryPartitionSizeInBytes")
          }
          val cell = Harness.minOfN(iterations) {
            val w = collector.window(mk().collect())
            val ints: Array[Int] = w.value.map(_.toString.hashCode)
            (w.sec, (java.util.Arrays.hashCode(ints).toHexString, w))
          }
          cell match {
            case Left(e) =>
              emit(s"""{"sf":"$label","query":"skewprobe_$leg","error":"${JsonFmt.err(e)}","force":"full"}""")
            case Right((best, (hash, w))) =>
              referenceHash match {
                case None => referenceHash = Some(hash)
                case Some(h) => require(h == hash,
                  s"leg $leg result hash $hash != reference $h — a leg computed something else")
              }
              val (maxT, medT) = w.maxMedianTaskMs
              emit(s"""{"sf":"$label","query":"skewprobe_$leg","sec":${JsonFmt.ms(best)},"n_tasks":${w.taskRunMs.size},"max_task_ms":$maxT,"med_task_ms":$medT,"result_hash":"$hash","force":"full"}""")
          }
        }
      }
    }
    spark.stop()
  }
}
