package graft

/** Per-stage breakdown of contract queries (not part of the driver
  * contract) — the measurement tool behind the r14 optimization round:
  * for each named query, runs it once cold and once profiled, and
  * prints every stage of the profiled run with its wall time, summed
  * task time, shuffle read/write bytes and record counts, grouped by
  * job. This is the "which exchange is the money going to" view the
  * Spark UI would give if it were enabled.
  *
  * `--summary` is the runtime cost sweep: one run per query and one
  * line per query (sorted by shuffle write, descending) with MEASURED
  * input, shuffle volume, spill and task time, plus totals — the
  * numbers that decide whether a plan survives a 100× scale-up
  * (PlanAudit checks plan SHAPE; this checks what the shapes actually
  * move). A query whose shuffle write exceeds its input scan is
  * repartitioning more than it reads. Any memory/disk spill exits 1,
  * because spill at sf0.1 means certain spill at sf100.
  *
  * Run: `sbt "runMain graft.StageProfile [--summary] [query...]"`; no
  * query names means every contract query. SPARK_GRAFT_SF_DIR selects
  * the data (default sf0.1).
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val summary = args.contains("--summary")
    val named = args.filterNot(_ == "--summary").toSeq
    val names =
      if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val collector = new StageCollector(spark.sparkContext)
    def profiled(name: String) =
      collector.window(Force.rows(SparkEntry.queries(name)(spark, dir)))
    val spilled =
      if (summary) costSummary(names.map(name => name -> profiled(name)))
      else {
        for (name <- names) {
          // Cold run: codegen + JIT, unprofiled.
          val (cold, _) =
            Harness.timed(Force.rows(SparkEntry.queries(name)(spark, dir)))
          // Profiled steady-state run.
          val w = profiled(name)
          println(f"%n==== $name: cold=$cold%.2fs warm=${w.sec}%.2fs rows=${w.value} ====")
          printStages(w)
        }
        0
      }
    spark.stop()
    if (spilled > 0) sys.exit(1)
  }

  private def printStages(w: StageWindow[_]): Unit = {
    def mb(b: Long): Double = b / 1e6
    for ((jid, ss) <- w.stages.groupBy(_.jobId).toSeq.sortBy(_._1)) {
      val desc = w.jobDescriptions.getOrElse(jid, "")
      println(f"-- job $jid%3d  wall=${ss.map(_.wallMs).sum}%6d ms  " +
        f"task=${ss.map(_.runMs).sum}%7d ms  $desc")
      for (s <- ss.sortBy(-_.runMs)) {
        println(f"   stage ${s.stageId}%4d task=${s.runMs}%7d ms " +
          f"gc=${s.gcMs}%6d ms " +
          f"wall=${s.wallMs}%6d ms sr=${mb(s.shuffleReadBytes)}%8.1fMB " +
          f"sw=${mb(s.shuffleWriteBytes)}%8.1fMB in=${mb(s.inputBytes)}%7.1fMB " +
          f"rIn=${s.recordsIn}%9d rOut=${s.recordsOut}%9d t=${s.tasks}%3d  " +
          s.name.take(90))
      }
    }
  }

  /** Prints the `--summary` table; returns the number of queries that
    * spilled. */
  private def costSummary(runs: Seq[(String, StageWindow[Long])]): Int = {
    def mb(b: Long): String = f"${b / 1048576.0}%9.1f"
    println(f"${"query"}%-22s ${"rows"}%9s ${"input MB"}%9s ${"shufW MB"}%9s ${"shufR MB"}%9s ${"spill MB"}%9s ${"task ms"}%9s")
    runs.sortBy(-_._2.total(_.shuffleWriteBytes)).foreach { case (name, w) =>
      val spill = w.total(_.spillBytes)
      val mark = if (spill > 0) "  <-- SPILL" else ""
      println(f"$name%-22s ${w.value}%9d ${mb(w.total(_.inputBytes))} ${mb(w.total(_.shuffleWriteBytes))} ${mb(w.total(_.shuffleReadBytes))} ${mb(spill)} ${w.total(_.runMs)}%9d$mark")
    }
    val totShufW = runs.map(_._2.total(_.shuffleWriteBytes)).sum
    val totInput = runs.map(_._2.total(_.inputBytes)).sum
    val spilled = runs.count(_._2.total(_.spillBytes) > 0)
    println(f"TOTAL input ${totInput / 1048576.0}%.1f MB, shuffle write ${totShufW / 1048576.0}%.1f MB " +
      f"(amplification ${totShufW.toDouble / math.max(totInput, 1)}%.3f), $spilled queries spilled")
    spilled
  }
}
