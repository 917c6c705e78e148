package graft

import org.apache.spark.sql.SparkSession

/** Real-executor smoke: everything else in this repo measures in local
  * mode — one JVM, no serialization boundary, no executor loss.
  * This main runs the heavy ladder operators on `local-cluster[2,8,4096]`
  * (Spark's pseudo-cluster: real Worker-launched executor JVMs, real
  * RPC/serialization between driver and executors, real block
  * replication domains), then DEMONSTRATES the Materialize reliability
  * contract by killing an executor process mid-session:
  *
  *  - `localCheckpoint` path (the single-box default): blocks are
  *    executor-local and non-replicated, lineage is truncated — after
  *    the loss, re-reading the materialized frame must FAIL. Expected,
  *    documented, recorded.
  *  - `spark.graft.checkpointDir` path: reliable `checkpoint` files
  *    survive any executor loss — the same re-read must RECOVER with
  *    identical rows.
  *
  * This converts Materialize's reliability knob (Materialize.scala)
  * from written claim to shown behavior. The executor kill is an
  * OS-level `destroyForcibly` of a CoarseGrainedExecutorBackend
  * process — an honest crash, not a cooperative decommission.
  *
  * Part 3 then moves the failure INTO the job: qd_tfidf_pairs on its
  * shuffle-hash fallback (the suite's widest exchange) loses an
  * executor mid-stage — once by hard kill (stage/task retry must
  * finish with identical rows) and once by SIGPWR with
  * spark.decommission.enabled (the cloud-preemption analog: blocks
  * migrate to the survivor instead of dying with the executor).
  *
  * Run: `sbt "runMain graft.ClusterSmoke sf1=target/scaledata/sf1"`.
  * Env: SPARK_GRAFT_MASTER (default local-cluster[2,8,4096]),
  * SPARK_GRAFT_CLUSTER_QUERIES (comma list), SPARK_GRAFT_CLUSTER_OUT
  * (default CLUSTER_RAW.jsonl). Output: one JSON line per query
  * (`{"mode":…,"query":…,"sec":…,"rows":…}`) and per recovery leg
  * (`{"mode":…,"recovery":…,"outcome":…}`).
  */
object ClusterSmoke {

  /** The heavy ladder set, minus nothing: real-executor execution is
    * the point, not fresh timings — wall clocks here include executor
    * launch and cross-process shuffle and are NOT comparable to the
    * local-mode ladder. */
  val DefaultQueries: Seq[String] = Seq(
    "qd_tfidf_pairs", "qd_manifest", "qd_pagerank", "qd_prefix_join",
    "qd_minhash_pairs", "qd_kcore", "qd_kcore_auto", "qd_simhash_pairs",
    "qd_sorted_neighbors", "qe_bootstrap", "qc_profile", "qe_sessions")

  private def executorPids(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => p.info().commandLine().map[Boolean](
        _.contains("CoarseGrainedExecutorBackend")).orElse(false))
      .map(_.pid()).toSeq.sorted
  }

  private def liveExecutors(spark: SparkSession): Int =
    // memoryStatus lists the driver's BlockManager too; executors only.
    spark.sparkContext.getExecutorMemoryStatus.size - 1

  /** Kill one executor JVM and wait until the scheduler sees the loss
    * (or a replacement arrives — either way the KILLED executor's
    * blocks are gone, which is what the demonstration needs). */
  private def killOneExecutor(spark: SparkSession): Long = {
    val before = executorPids()
    require(before.nonEmpty, "no executor processes found to kill")
    val victim = before.head
    ProcessHandle.of(victim).ifPresent(p => p.destroyForcibly())
    val deadline = System.nanoTime() + 60e9.toLong
    while (executorPids().contains(victim) && System.nanoTime() < deadline)
      Thread.sleep(200)
    // Give the driver a moment to register the RPC disconnect before
    // the next job schedules onto a dead block manager.
    Thread.sleep(3000)
    victim
  }

  def main(args: Array[String]): Unit = {
    val Seq((label, dir)) =
      Harness.labelDirs(args.toSeq.take(1), "ClusterSmoke <label>=<dir>")
    val master = Harness.master(sys.env, Some("local-cluster[2,8,4096]"))
    val names = sys.env.get("SPARK_GRAFT_CLUSTER_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_CLUSTER_OUT",
      "CLUSTER_RAW.jsonl")

    // Surface the executor heap from the local-cluster spec as
    // spark.executor.memory: the MemGate broadcast defaults read it —
    // without this the driver-side gate would size broadcasts against
    // the DRIVER's heap while 4–10 g executors hold the relations.
    val executorMem = "local-cluster\\[\\d+,\\d+,(\\d+)\\]".r
      .findFirstMatchIn(master)
      .map(m => "spark.executor.memory" -> s"${m.group(1)}m")
    val spark = Harness.session(executorMem.toSeq ++ Seq(
      // Decommission machinery armed but inert until a SIGPWR arrives
      // (part 3b sends one): the cloud-preemption analog — the executor
      // drains and MIGRATES its shuffle/RDD blocks to the survivor
      // instead of dying with them. Static confs, so set at build time.
      "spark.decommission.enabled" -> "true",
      "spark.storage.decommission.enabled" -> "true",
      "spark.storage.decommission.shuffleBlocks.enabled" -> "true",
      "spark.storage.decommission.rddBlocks.enabled" -> "true",
      // The recovery demo needs failures to surface, not retry away:
      // with lineage truncated there is nothing a retry can recompute,
      // but Spark would still burn 4 task attempts × stage retries
      // before admitting it. For spill-stress runs where an executor
      // MAY legitimately die and be replaced, raise it to the
      // production default with
      // SPARK_GRAFT_EXTRA_CONF=spark.task.maxFailures=4.
      "spark.task.maxFailures" -> "2"), defaultMaster = Some(master))

    Harness.appendJsonl(outPath) { emit =>
      // Wait for both executors before measuring anything.
      val deadline = System.nanoTime() + 120e9.toLong
      while (liveExecutors(spark) < 2 && System.nanoTime() < deadline)
        Thread.sleep(500)
      emit(s"""{"mode":"$master","executors":${liveExecutors(spark)},"executor_pids":${executorPids().size}}""")

      // ---- Part 1: heavy operators under real executor JVMs ----
      for (name <- names) {
        SparkEntry.queries.get(name) match {
          case None => emit(s"""{"mode":"$master","query":"$name","error":"unknown query"}""")
          case Some(fn) =>
            val t0 = System.nanoTime()
            try {
              val rows = Force.rows(fn(spark, dir))
              val sec = (System.nanoTime() - t0) / 1e9
              emit(s"""{"mode":"$master","sf":"$label","query":"$name","sec":${JsonFmt.ms(sec)},"rows":$rows}""")
            } catch { case e: Throwable =>
              emit(s"""{"mode":"$master","sf":"$label","query":"$name","error":"${JsonFmt.err(e)}"}""")
            }
        }
      }

      // ---- Part 2: executor-loss recovery demonstration ----
      import org.apache.spark.sql.functions._
      def buildFrame() = Tables.load(spark, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))

      // Leg A: localCheckpoint (the default). Blocks are executor-local
      // and non-replicated; losing one executor after materialization
      // must make the re-read fail (lineage truncated, no recompute).
      {
        val mat = graft.operators.Materialize.once(buildFrame())
        val rows1 = Force.rows(mat)
        val victim = killOneExecutor(spark)
        val outcome =
          try {
            val rows2 = Force.rows(mat)
            // All blocks happened to land on the survivor — the demo is
            // inconclusive, record it as such rather than as recovery.
            s""""outcome":"survived_unexpectedly","rows":$rows2"""
          } catch { case e: Throwable =>
            s""""outcome":"failed_as_expected","error":"${JsonFmt.err(e)}""""
          }
        emit(s"""{"mode":"$master","recovery":"localCheckpoint","rows_before":$rows1,"killed_pid":$victim,$outcome}""")
      }

      // Wait for the standalone master to relaunch the executor so leg
      // B starts from two executors again.
      val d2 = System.nanoTime() + 120e9.toLong
      while (liveExecutors(spark) < 2 && System.nanoTime() < d2)
        Thread.sleep(500)

      // Leg B: reliable checkpoint via spark.graft.checkpointDir. The
      // checkpoint files live on the shared filesystem; the same
      // re-read after the same kill must recover with identical rows.
      {
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_cluster_ckpt").toString
        spark.conf.set("spark.graft.checkpointDir", ckpt)
        val mat = graft.operators.Materialize.once(buildFrame())
        val rows1 = Force.rows(mat)
        val victim = killOneExecutor(spark)
        val outcome =
          try {
            val rows2 = Force.rows(mat)
            if (rows2 == rows1) s""""outcome":"recovered","rows":$rows2"""
            else s""""outcome":"row_mismatch","rows_before":$rows1,"rows_after":$rows2"""
          } catch { case e: Throwable =>
            s""""outcome":"failed","error":"${JsonFmt.err(e)}""""
          }
        emit(s"""{"mode":"$master","recovery":"reliableCheckpoint","rows_before":$rows1,"killed_pid":$victim,$outcome}""")
        spark.conf.unset("spark.graft.checkpointDir")
      }

      // ---- Part 3: executor loss DURING the shuffle, not after it ----
      // Parts 1-2 lose an executor between jobs; a 1000-executor run
      // loses them mid-stage. Target: qd_tfidf_pairs forced onto its
      // shuffle-hash fallback — the widest exchange in the suite. A
      // watcher thread waits until a stage is genuinely mid-flight
      // (active stage with completed tasks), then takes one executor:
      //  3a: destroyForcibly — stage/task retry must recompute the lost
      //      map outputs and finish with rows identical to undisturbed;
      //  3b: SIGPWR with the decommission machinery armed — the
      //      cloud-preemption analog; blocks migrate and the job
      //      finishes, identically, ideally without recompute.
      // Order-insensitive distributed content hash: per-row xxhash64
      // over the canonical JSON rendering, summed as DECIMAL(38,0) so
      // ANSI mode can't overflow. Doubles are rounded to 9 places
      // first — a task retry re-sums float partials in a different
      // order, and an ULP-level drift must not read as corruption.
      def hashAndCount(df: org.apache.spark.sql.DataFrame): (Long, String) = {
        val canon = df.schema.fields.map { f =>
          f.dataType match {
            case org.apache.spark.sql.types.DoubleType |
                 org.apache.spark.sql.types.FloatType =>
              round(col(f.name), 9).as(f.name)
            case _ => col(f.name)
          }
        }
        val r = df.select(canon.toIndexedSeq: _*)
          .select(
            sum(xxhash64(to_json(struct(col("*"))))
              .cast("decimal(38,0)")).as("h"),
            count(lit(1)).as("n")).head()
        val hex =
          if (r.isNullAt(0)) "empty"
          else r.getDecimal(0).toBigInteger.toString(16)
        (r.getLong(1), hex)
      }
      def midFlightDisrupt(tag: String, disrupt: Long => Unit): Unit = {
        val d3 = System.nanoTime() + 120e9.toLong
        while (liveExecutors(spark) < 2 && System.nanoTime() < d3)
          Thread.sleep(500)
        spark.conf.set("spark.graft.tfidf.maxBroadcastBytes", "0")
        val fn = SparkEntry.queries("qd_tfidf_pairs")
        val (baseline, baselineHash) = hashAndCount(fn(spark, dir))
        val tracker = spark.sparkContext.statusTracker
        @volatile var disruptedPid = -1L
        @volatile var watcherNote = "never_fired"
        val watcher = new Thread(() => {
          val deadline = System.nanoTime() + 180e9.toLong
          var fired = false
          while (!fired && System.nanoTime() < deadline) {
            val midFlight = tracker.getActiveStageIds.exists { sid =>
              tracker.getStageInfo(sid).exists(si =>
                si.numCompletedTasks > 0 && si.numActiveTasks > 0)
            }
            if (midFlight) {
              val pids = executorPids()
              if (pids.nonEmpty) {
                disruptedPid = pids.head
                disrupt(disruptedPid)
                watcherNote = "fired_mid_stage"
                fired = true
              }
            }
            if (!fired) Thread.sleep(50)
          }
        }, s"executor-disruptor-$tag")
        val t0 = System.nanoTime()
        val outcome =
          try {
            watcher.start()
            // The disrupted job is the hash pass itself, so the retry
            // recomputes CONTENT, not just cardinality — a retry that
            // produced different rows with the same count would
            // previously still have read as "identical".
            val (rows, hash) = hashAndCount(fn(spark, dir))
            val sec = (System.nanoTime() - t0) / 1e9
            if (rows == baseline && hash == baselineHash)
              s""""outcome":"completed_identical","rows":$rows,"hash":"$hash","sec":${JsonFmt.ms(sec)}"""
            else if (rows == baseline)
              s""""outcome":"completed_same_count_content_drift","rows":$rows,"hash_before":"$baselineHash","hash_after":"$hash","sec":${JsonFmt.ms(sec)}"""
            else
              s""""outcome":"row_mismatch","rows_before":$baseline,"rows_after":$rows"""
          } catch { case e: Throwable =>
            s""""outcome":"failed","error":"${JsonFmt.err(e)}""""
          } finally watcher.join(5000)
        emit(s"""{"mode":"$master","recovery":"$tag","watcher":"$watcherNote","disrupted_pid":$disruptedPid,"rows_baseline":$baseline,"hash_baseline":"$baselineHash",$outcome}""")
        spark.conf.unset("spark.graft.tfidf.maxBroadcastBytes")
      }

      midFlightDisrupt("kill_mid_shuffle",
        pid => ProcessHandle.of(pid).ifPresent(_.destroyForcibly()))
      midFlightDisrupt("decommission_mid_shuffle", pid =>
        new ProcessBuilder("kill", "-PWR", pid.toString).start().waitFor())
    }
    spark.stop()
  }
}
