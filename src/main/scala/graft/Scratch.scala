package graft

/** Ad-hoc plan/perf inspection main (not part of the driver contract):
  * `sbt "runMain graft.Scratch <queryName>"` prints three timed runs
  * (run 1 ≈ cold codegen, runs 2-3 ≈ steady state) at
  * SPARK_GRAFT_SF_DIR (default sf0.1). SPARK_GRAFT_EXPLAIN=1 prints the
  * formatted physical plan first; SPARK_GRAFT_EXPLAIN=executed prints
  * the plan after execution instead.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_pricing")
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN")
    for (name <- names) {
      // In-session conf toggle ("conf:key=value" / "unset:key" tokens):
      // lets an A/B of two plan shapes run INTERLEAVED in one JVM — the
      // host's ambient bursts swing same-code timings up to ~1.7×
      // across sessions, so cross-session comparisons are unusable.
      if (name.startsWith("conf:")) {
        val kv = name.stripPrefix("conf:")
        if (!kv.contains("=")) {
          println(s"[scratch] bad conf token '$name' (want conf:key=value) — skipped")
        } else {
          val Array(k, v) = kv.split("=", 2)
          spark.conf.set(k, v); println(s"[scratch] set $k=$v")
        }
      } else if (name.startsWith("unset:")) {
        spark.conf.unset(name.stripPrefix("unset:"))
        println(s"[scratch] unset ${name.stripPrefix("unset:")}")
      } else {
      if (explain.contains("1"))
        SparkEntry.queries(name)(spark, dir).explain("formatted")
      // Post-execution plan: AQE finalizes reuse/broadcast decisions at
      // runtime, so ReusedExchange/ReusedSubquery only show here.
      if (explain.contains("executed")) {
        val df = SparkEntry.queries(name)(spark, dir)
        // collect(), not count(): count() wraps a NEW QueryExecution,
        // leaving df's own adaptive plan unexecuted (isFinalPlan=false).
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      }
      // Construct INSIDE the timed region (as Bench does): iterative
      // operators (connectedComponents) run their jobs at construction.
      for (i <- 1 to 3) {
        val (sec, n) =
          Harness.timed(Force.rows(SparkEntry.queries(name)(spark, dir)))
        println(f"[scratch] $name run $i: $sec%.3fs rows=$n")
      }
      }
    }
    spark.stop()
  }
}
