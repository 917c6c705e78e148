package graft

import org.apache.spark.sql.functions._

/** Pins the measurement-forcing contract behind every Bench /
  * ScaleLadder / `StageProfile --summary` number: [[Force.rows]]
  * executes the frame's FULL physical plan. The round-11 incident it guards: `count()`
  * re-optimizes the counting plan, and outer-join elimination over
  * distinct keys let qc_profile's count answer from its 6-row skeleton
  * without running the scan + aggregation at all (0 input bytes
  * recorded for a 6 M-row profile).
  */
class ForceSpec extends SparkSpec {

  test("Force.rows returns the frame's row count") {
    val df = spark.range(100).selectExpr("id", "id % 7 AS k")
      .groupBy("k").count()
    assert(Force.rows(df) === df.count())
  }

  test("Force.rows executes work that count() is free to eliminate") {
    val s = spark
    import s.implicits._
    val acc = spark.sparkContext.longAccumulator("force-spec")
    val touch = udf { (x: Long) => acc.add(1L); x }
    // The qc_profile shape: an aggregate (distinct by construction on
    // the groupBy key) right-joined onto a tiny skeleton. The counting
    // plan can prove its answer from the skeleton alone; the FULL plan
    // cannot skip the aggregate, whose input the accumulator tallies.
    val agg = spark.range(50).select(touch(col("id")).as("id"))
      .withColumn("k", col("id") % 5)
      .groupBy("k").agg(sum("id").as("s"))
    val skeleton = Seq(0L, 1L, 2L, 3L, 4L).toDF("k")
    val joined = agg.join(broadcast(skeleton), Seq("k"), "right")
      .select(col("k"), coalesce(col("s"), lit(0L)).as("s"))
    acc.reset()
    val n = Force.rows(joined)
    assert(n === 5L)
    // ≥, not ==: CollapseProject may duplicate the deterministic UDF
    // (it feeds both output columns); what matters is that the
    // aggregate side ran at all — under count() it is eliminated and
    // the accumulator stays at 0.
    assert(acc.value >= 50L,
      "the full plan must evaluate the aggregate side")
  }
}
