package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Pins the tool harness: the session contract read from an env map
  * (never the process environment) and the stage collector's window. */
class HarnessSpec extends SparkSpec {

  test("defaults: host cores, shuffle = cores, local[cores], UTC, UI off") {
    val n = Runtime.getRuntime.availableProcessors
    val confs = Harness.confs(Map.empty).toMap
    assert(confs("spark.master") === s"local[$n]")
    assert(confs("spark.sql.shuffle.partitions") === n.toString)
    assert(confs("spark.sql.session.timeZone") === "UTC")
    assert(confs("spark.ui.enabled") === "false")
    val set = Harness.confs(
      Map("SPARK_GRAFT_CPUS" -> "3", "SPARK_GRAFT_SHUFFLE" -> "5")).toMap
    assert(set("spark.master") === "local[3]")
    assert(set("spark.sql.shuffle.partitions") === "5")
    // SPARK_GRAFT_MASTER beats a tool's default master.
    assert(Harness.master(Map.empty, Some("local-cluster[2,8,4096]")) ===
      "local-cluster[2,8,4096]")
    assert(Harness.master(Map("SPARK_GRAFT_MASTER" -> "local[2]"),
      Some("local-cluster[2,8,4096]")) === "local[2]")
  }

  test("SPARK_GRAFT_EXTRA_CONF wins over a harness default and a tool pin") {
    val env = Map("SPARK_GRAFT_EXTRA_CONF" ->
      "spark.sql.shuffle.partitions=7;;spark.graft.materialize=true")
    val pins = Seq("spark.graft.materialize" -> "false",
      "spark.sql.shuffle.partitions" -> "32")
    // The builder applies confs in order, so the last value of a key wins.
    val confs = Harness.confs(env, pins).toMap
    assert(confs("spark.sql.shuffle.partitions") === "7")
    assert(confs("spark.graft.materialize") === "true")
    val pinned = Harness.confs(Map.empty, pins).toMap
    assert(pinned("spark.graft.materialize") === "false")
  }

  test("malformed EXTRA_CONF entries and label=dir args name the entry") {
    val conf = intercept[IllegalArgumentException](Harness.confs(
      Map("SPARK_GRAFT_EXTRA_CONF" -> "spark.a=1;oops")))
    assert(conf.getMessage.contains("'oops'"))
    val arg = intercept[IllegalArgumentException](
      Harness.labelDirs(Seq("sf1=/data/sf1", "sf4"), "usage"))
    assert(arg.getMessage.contains("'sf4'"))
    assert(Harness.labelDirs(Seq("sf1=/d=x"), "usage") === Seq("sf1" -> "/d=x"))
  }

  test("minOfN keeps a good run when another run fails") {
    var i = 0
    val r = Harness.minOfN(3) {
      i += 1
      if (i == 2) throw new RuntimeException("transient")
      (i.toDouble, i)
    }
    assert(r === Right((1.0, 3)))
    assert(Harness.minOfN(2)(throw new RuntimeException("always")).isLeft)
  }

  test("a collector window excludes a job run before it") {
    // A slow listener registered ahead of the collector holds the
    // earlier job's last stage event in the queue after its action
    // returns.
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Thread.sleep(300)
    }
    spark.sparkContext.addSparkListener(slow)
    val collector = new StageCollector(spark.sparkContext)
    try {
      spark.range(0, 10000, 1, 4).groupBy((col("id") % 10).as("k")).count()
        .collect()
      val w = collector.window(42)
      assert(w.value === 42)
      assert(w.stages.isEmpty)
      assert(w.taskRunMs.isEmpty)
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("a groupBy window reports shuffle write and one time per task") {
    val collector = new StageCollector(spark.sparkContext)
    val w = collector.window(spark.range(0, 10000, 1, 4)
      .groupBy((col("id") % 10).as("k")).count().collect())
    assert(w.value.length === 10)
    assert(w.stages.map(_.shuffleWriteBytes).sum > 0)
    assert(w.stages.nonEmpty)
    assert(w.taskRunMs.size === w.stages.map(_.tasks).sum)
    assert(w.stages.forall(s => w.jobDescriptions.contains(s.jobId)))
  }
}
