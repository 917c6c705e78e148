package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import Stats.Interval

/** The graft benchmark's JVM side.
  *
  *   graftbench.Main gen --work DIR
  *   graftbench.Main run   --work DIR --bench DIR --workload W --seed N
  *                         --seconds S --trace 0|1 [--expect F]
  *
  * `gen` writes the input tables; `run` prints READY once its session is
  * built and has run one trivial job, then measures one workload in that
  * session with a single client submitting one operation at a time. See
  * `run.py` for the command that drives these. */
object Main {
  /** Seed of the generated tables. The benchmark seed never changes the
    * data, so that every seed's results are checked against the same
    * pinned row counts and fingerprints. */
  val DataSeed = 42L
  /** Generated data sets by scale; scale 1 has the row counts of the
    * TPC-H-like sf0.1 tables (600 k lineitem, 5 k documents). */
  val Datasets: Map[String, Double] = Map("s01" -> 0.1, "s1" -> 1.0)

  /** A workload: its operations, the data set and tables they read, and
    * the nominal length of one pass, which sets how many passes fit in
    * the measured seconds. ops_pipeline measures two passes: a single run
    * of one of its operations varies by 15-30 % between runs on a shared
    * 4-core host, and an operation's latency is the median of its runs. */
  case class Workload(name: String, dataset: String, tables: Seq[String],
      ops: Seq[String], nominalPassS: Double)

  // A run pays about 7 s of set-up and a 25-30 s warm-up pass before it
  // measures anything; the operation lists are the subsets of
  // graft's queries, heavy operators and shipped plans whose runs fit 48
  // of them into the benchmark's time budget. The pipeline list holds one
  // operator of each training-data family and one TPC-H and one quality
  // query, so that every query family is timed.
  val Pipeline: Seq[String] = Seq("qd_tfidf_pairs", "qm_phash_clusters",
    "qs_mmr", "qt_bigram_lm", "qp_split", "q18_large_orders", "qc_diff")
  val Plans: Seq[String] = Seq("orders_qc", "corpus_refresh")

  val Workloads: Map[String, Workload] = Seq(
    Workload("ops_pipeline", "s01", Seq("customer", "orders", "lineitem",
      "documents", "embeddings"), Pipeline, 5.0),
    Workload("plan_qc", "s1", Seq("orders", "lineitem", "documents"),
      Plans, 12.0)).map(w => w.name -> w).toMap

  /** Module family of a query, from its name. */
  def family(q: String): String =
    if (q.matches("q\\d+_.*")) "analytics"
    else q.takeWhile(_ != '_') match {
      case "qc" => "rules"
      case "qd" => "dedup"
      case "qs" => "similarity"
      case "qt" => "text"
      case "qm" => "multimodal"
      case "qp" => "pipeline"
      case _ => "other"
    }

  /** Plan variables of a seed: the modulus that splits the refresh plan's
    * corpus into existing and incoming documents. Four variants, each
    * with pinned results. */
  def planVars(seed: Long): (Int, Map[String, String]) = {
    val v = java.lang.Math.floorMod(seed, 4L).toInt
    v -> Map("refresh_mod" -> (3 + v).toString)
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fixed work that runs no graft and no Spark code: SHA-256 over 192 MB. */
  def cpuProbe(): Double = {
    val buf = Array.tabulate[Byte](8 << 20)(i => (i * 31).toByte)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    var i = 0
    while (i < 24) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }

  /** Order-independent fingerprints of frames, all in one job, as
    * `rows:sum:xor` of 64-bit row hashes by key. Doubles are rounded to 6
    * significant digits after rounding away anything below 1e-6, and
    * arrays and maps are compared as sorted multisets, so that a
    * different summation or collection order never changes a result. */
  def fingerprints(frames: Seq[(String, DataFrame)]): Map[String, String] = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType =>
        format_string("%.6g", round(c.cast("double"), 6) + lit(0.0))
      case ArrayType(et, _) =>
        val inner = transform(c, x => norm(x, et))
        if (et.isInstanceOf[MapType]) inner else array_sort(inner)
      case MapType(kt, vt, _) =>
        array_sort(transform(map_entries(c), e =>
          struct(norm(e.getField("key"), kt).as("k"),
            norm(e.getField("value"), vt).as("v"))))
      case StructType(fs) =>
        struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => c
    }
    def hashed(key: String, df: DataFrame): DataFrame = df.select(
      lit(key).as("k"),
      (if (df.schema.isEmpty) lit(0L) else xxhash64(df.schema.fields.map(f =>
        norm(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)).as("h"))
    val found = frames.map { case (k, df) => hashed(k, df) }.reduce(_ union _)
      .groupBy("k")
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .collect().map(r => r.getString(0) -> s"${r.getLong(1)}:${r.get(2)}:${r.get(3)}")
      .toMap
    frames.map { case (k, _) => k -> found.getOrElse(k, "0:0:0") }.toMap
  }

  /** Row counts and fingerprints of every generated table, written next
    * to the data once it is generated and checked by every run against
    * the pinned values before anything is timed. */
  def inputObservations(spark: SparkSession, work: String): Map[String, String] =
    Datasets.keys.toSeq.sorted.flatMap { ds =>
      fingerprints(graft.Tables.names.map(t =>
        s"input/$ds/$t" -> spark.read.parquet(s"$work/data/$ds/$t.parquet")))
    }.toMap

  private def args2map(args: Seq[String]): Map[String, String] =
    args.sliding(2, 1).collect {
      case Seq(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** Deletes a file or a directory tree, if it exists. */
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val opts = args2map(args.toSeq.drop(1))
    val work = opts("work")
    args(0) match {
      case "gen" =>
        val spark = session(work)
        Datasets.foreach { case (ds, scale) =>
          val dir = s"$work/data/$ds"
          Gen.generate(spark, dir + ".tmp", DataSeed, scale)
          Files.move(Paths.get(dir + ".tmp"), Paths.get(dir))
        }
        Expect.save(new File(s"$work/data/inputs.json"),
          inputObservations(spark, work))
        spark.stop()
      case "run" =>
        val code = new Run(opts).execute()
        sys.exit(code)
    }
  }
}

/** One measured run of one workload. */
class Run(opts: Map[String, String]) {
  import Main._

  private val work = opts("work")
  private val bench = opts("bench")
  private val w = Workloads(opts("workload"))
  private val seed = opts("seed").toLong
  private val seconds = opts("seconds").toDouble
  private val traced = opts("trace") == "1"
  private val expectFile = new File(opts.getOrElse("expect", s"$bench/expected.json"))
  private val expected = Expect.load(expectFile)
  private val dataDir = s"$work/data/${w.dataset}"
  private val (variant, vars) = planVars(seed)

  private lazy val spark = session(work)
  private val observed = mutable.ArrayBuffer.empty[(String, String)]
  private val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failedOps = 0

  /** Record observations of one operation; returns false when one differs
    * from its pin or a pinned key under one of `required` is missing. */
  private def check(obs: Seq[(String, String)],
      required: Seq[String] = Nil): Boolean = {
    observed ++= obs
    val bad = Expect.mismatches(expected, obs) ++
      Expect.missing(expected, required, obs)
    problems ++= bad
    bad.isEmpty
  }

  /** Key prefixes under which every pinned key must be observed after an
    * operation: all of them on the warm-up pass, and on a timed pass the
    * row count, or a plan's exit code and rule results. */
  private def required(name: String, warm: Boolean): Seq[String] =
    if (w.name == "plan_qc") {
      val prefix = planPrefix(name)
      if (warm) Seq(s"$prefix/") else Seq(s"$prefix/exit", s"$prefix/rule/")
    } else if (warm) Seq(s"${w.name}/$name/")
    else Seq(s"${w.name}/$name/rows")

  private def say(s: String): Unit = { println(s); System.out.flush() }

  // ---- operations -------------------------------------------------------

  /** Runs a query and forces it. On the warm-up pass the query is forced
    * through its fingerprint instead, which executes it once and yields
    * both the row count and the result fingerprint. */
  private def runQuery(ss: SparkSession, name: String, tracer: Option[Tracer],
      warm: Boolean): Seq[(String, String)] = {
    val build = graft.SparkEntry.queries(name)
    def span[T](n: String)(b: => T): T = tracer.fold(b)(_.span(n)(b))
    val df = span("queries.build") { build(ss, dataDir) }
    if (warm) {
      val fp = fingerprints(Seq(name -> df))(name)
      Seq(s"${w.name}/$name/rows" -> fp.takeWhile(_ != ':'),
        s"${w.name}/$name/fp" -> fp)
    } else {
      val rows = span("queries.force") { graft.Force.rows(df) }
      // Forcing runs no action, so the query listener never sees this
      // frame: hand its Catalyst phases to the trace directly.
      if (tracer.isDefined) log.queries.add(EventLog.phases(df.queryExecution))
      Seq(s"${w.name}/$name/rows" -> rows.toString)
    }
  }

  private def planPath(plan: String): String = s"$bench/plans/$plan.json"
  private def planPrefix(plan: String): String = s"${w.name}/v$variant/$plan"
  private val outRoot = s"$work/out"
  private val reportDir = s"$work/reports"

  /** Deletes what an earlier run of a plan wrote, so that an output the
    * plan fails to write is missing instead of left over. Runs before the
    * operation's timing starts. */
  private def clearOutputs(name: String): Unit =
    if (w.name == "plan_qc") Seq(s"$outRoot/$name", s"$reportDir/$name.json",
      s"$outRoot/replay/$name", s"$reportDir/replay/$name.json")
      .foreach(p => deleteTree(new File(p)))

  private def reportRules(file: File): Seq[(String, String)] = {
    val root = new ObjectMapper().readTree(file)
    root.get("assertionGroups").elements().asScala.toSeq.flatMap { g =>
      val key = g.get("outputKey").asText()
      g.get("assertionReports").elements().asScala.toSeq.zipWithIndex.flatMap {
        case (r, i) => Seq("failed", "totalRows", "numInvalid").map(f =>
          s"$key/$i/$f" -> r.get(f).asText())
      }
    }
  }

  /** Runs a plan; on the warm-up pass its written outputs are also
    * fingerprinted. */
  private def runPlan(ss: SparkSession, plan: String, tracer: Option[Tracer],
      warm: Boolean): Seq[(String, String)] = {
    val cfg = graft.RunPlan.Config(planPath(plan), vars + ("sfdir" -> dataDir) +
      ("out" -> outRoot), plan, Some(reportDir))
    val code = tracer.fold(graft.RunPlan.run(ss, cfg))(
      _.span("engine.run")(graft.RunPlan.run(ss, cfg)))
    val replayCode = tracer.map(t => t.span("replay") {
      new Replay(ss, t, s"$outRoot/replay/$plan").run(planPath(plan),
        cfg.variables, s"$reportDir/replay", plan)
    })
    val prefix = planPrefix(plan)
    val obs = Seq(s"$prefix/exit" -> code.toString) ++
      replayCode.map(c => s"$prefix/exit" -> c.toString) ++
      reportRules(new File(s"$reportDir/$plan.json")).map { case (k, v) =>
        s"$prefix/rule/$k" -> v }
    val outs = if (!warm) Nil else fingerprints(
      Option(new File(s"$outRoot/$plan").listFiles()).toSeq.flatten
        .filter(_.isDirectory).sortBy(_.getName)
        .map(d => s"$prefix/out/${d.getName}" -> ss.read.parquet(d.getPath)))
    obs ++ outs
  }

  private def runOp(name: String, tracer: Option[Tracer],
      ss: SparkSession = spark, warm: Boolean = false): Seq[(String, String)] =
    if (w.name == "plan_qc") runPlan(ss, name, tracer, warm)
    else runQuery(ss, name, tracer, warm)

  /** Work the benchmark does after an operation, outside its timing. */
  private def afterOp(): Unit = spark.catalog.clearCache()

  // ---- trace accounting -------------------------------------------------

  private val log = new EventLog
  private val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val opWalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var skewMax = 0.0
  private var gcPeakMb = 0.0
  private var peakMemMb = 0.0

  private def account(tracer: Tracer, opId: Int, name: String): Unit = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val (jobs, stages, tasks, queries) = log.take()
    val root = tracer.spans.find(s => s.op == opId && s.parent == -1).get
    val opPhases = queries.flatMap(_.toSeq).filter { case (_, iv) =>
      iv.start >= root.start && iv.start < root.end }
    opPhases.foreach { case (p, iv) =>
      layer(s"catalyst.${p}_ms") += (iv.end - iv.start) / 1e6 }
    val jobIvs = jobs.map(j => Interval(j.start, j.end))
    val builds = tracer.spans.filter(s => s.op == opId && s.name == "queries.build")
      .map(_.interval).toSeq
    layer("driver.build_jobs") +=
      Stats.attribute(jobs.map(_.start), builds).count(_.isDefined)
    layer("driver.outside_jobs_ms") += (root.length - Stats.unionLength(
      jobIvs.map(iv => Interval(math.max(iv.start, root.start),
        math.min(iv.end, root.end))))) / 1e6
    layer("sched.jobs") += jobs.size
    layer("sched.stages") += stages.size
    val jobStages = jobs.flatMap(_.stages).toSet
    layer("sched.stages_skipped") += (jobStages -- stages.map(_.id)).size
    layer("sched.tasks") += tasks.size
    val mb = 1024.0 * 1024.0
    tasks.foreach { t =>
      val m = t.m
      layer("sched.delay_ms") += math.max(0L, t.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      layer("sched.deser_ms") += m.executorDeserializeTime
      layer("exec.run_ms") += m.executorRunTime
      layer("exec.cpu_ms") += m.executorCpuTime / 1e6
      layer("exec.gc_ms") += m.jvmGCTime
      layer("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / mb
      layer("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / mb
      layer("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      layer("spill.mb") += m.memoryBytesSpilled / mb
      layer("io.input_mb") += m.inputMetrics.bytesRead / mb
      layer("io.input_rows") += m.inputMetrics.recordsRead
      layer("io.output_mb") += m.outputMetrics.bytesWritten / mb
      layer("io.output_rows") += m.outputMetrics.recordsWritten
      peakMemMb = math.max(peakMemMb, m.peakExecutionMemory / mb)
    }
    stages.filter(_.durations.size >= 2).foreach { s =>
      val med = Stats.median(s.durations.map(_.toDouble))
      if (med > 0) skewMax = math.max(skewMax, s.durations.max / med)
    }
    tracer.attach(opId, jobIvs.map("spark.job" -> _) ++
      opPhases.map { case (p, iv) => s"catalyst.$p" -> iv })
    val self = tracer.selfTimes(opId)
    val selfSum = self.values.sum
    if (selfSum != root.length) throw new IllegalStateException(
      s"self times of $name sum to $selfSum ns, its wall is ${root.length} ns")
    opWalls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += root.length / 1e6
  }

  // ---- the run ----------------------------------------------------------

  def execute(): Int = {
    spark.sparkContext.parallelize(Seq(1), 1).count()
    say("READY")
    val cores = Runtime.getRuntime.availableProcessors()
    val ramMb = scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong / 1024)
      .getOrElse(-1L)
    val conf = Seq("workload" -> w.name, "seed" -> seed.toString,
      "nproc" -> cores.toString, "ram_mb" -> ramMb.toString,
      "jvm_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "dataset" -> s"${w.dataset} (scale ${Datasets(w.dataset)})",
      "plan_variant" -> (if (w.name == "plan_qc") variant.toString else "-"),
      "traced" -> traced.toString)
    say("config " + conf.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val probeStart = cpuProbe()

    // Pinned inputs, checked as one operation: every table the workload
    // reads, as fingerprinted when the data was generated.
    val inputs = Expect.load(new File(s"$work/data/inputs.json"))
    attempted += 1
    if (!check(w.tables.map { t =>
      val k = s"input/${w.dataset}/$t"
      k -> inputs.getOrElse(k, "missing")
    })) failedOps += 1

    def order(pass: Int): Seq[String] =
      new Random(seed * 1000 + pass).shuffle(w.ops)

    // Warm-up pass, untimed: row counts and result fingerprints. Its
    // operations run side by side, each in a session of its own (temp
    // views and SQL settings are per session; code caches and the JIT
    // are shared), to spend less of the run warming up.
    val tWarm = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(w.ops.size)
    val warm = order(-1).map { name =>
      name -> pool.submit(() => scala.util.Try {
        clearOutputs(name)
        val t0 = System.nanoTime()
        val obs = runOp(name, None, spark.newSession(), warm = true)
        (obs, (System.nanoTime() - t0) / 1e9)
      })
    }
    val warmTimes = warm.map { case (name, f) =>
      attempted += 1
      val r = f.get()
      val ok = r.fold(e => { problems += s"$name: $e"; false },
        r => check(r._1, required(name, warm = true)))
      if (!ok) failedOps += 1
      name -> r.map(_._2).getOrElse(0.0)
    }
    pool.shutdown()
    afterOp()
    spark.sql("SELECT 1").collect()
    // Start the timed passes from a collected heap.
    System.gc()
    val heap = new HeapWatch

    val tTimed = System.nanoTime()
    val passes = math.max(1, math.round(seconds / w.nominalPassS).toInt)
    val tracer = new Tracer
    if (traced) {
      spark.sparkContext.addSparkListener(log)
      spark.listenerManager.register(log)
    }
    var opId = 0
    val opSamples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    // heap_after_gc_mb: the peak over operations of the heap left after a
    // full collection at the end of each one, before its cached data is
    // dropped. The GC watch also keeps the peak after-GC heap of the
    // collections that happen while operations run (heap.gc_peak_mb).
    var opEndHeapMb = 0.0
    /** One pass over the operations; each runs once per mode (traced or
      * not), back to back. Returns the pass's wall per mode. */
    def pass(p: Int, modes: Seq[Boolean]): Map[Boolean, Double] = {
      val wall = mutable.Map.empty[Boolean, Double].withDefaultValue(0.0)
      for ((name, i) <- order(p).zipWithIndex;
           trace <- if (i % 2 == 0) modes else modes.reverse) {
        attempted += 1
        clearOutputs(name)
        if (trace) {
          org.apache.spark.graftbench.BusDrain(spark.sparkContext)
          log.take()
        }
        val t0 = System.nanoTime()
        val ok = try {
          check(if (trace) tracer.op(opId, s"op:$name")(runOp(name, Some(tracer)))
            else runOp(name, None), required(name, warm = false))
        } catch { case e: Exception => problems += s"$name: $e"; false }
        val s = (System.nanoTime() - t0) / 1e9
        if (!ok) failedOps += 1
        if (trace) account(tracer, opId, name)
        else opSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
        wall(trace) += s
        opId += 1
        opEndHeapMb = math.max(opEndHeapMb, heap.afterFullGcMb())
        afterOp()
      }
      wall.toMap
    }
    heap.start()
    val tracedPasses = 1
    if (traced) {
      // Each operation runs untraced and traced back to back, the order
      // alternating between operations, so that the trace overhead is
      // taken against an equally warm untraced run.
      val walls = pass(1, Seq(false, true))
      // A plan's replay is extra work of the traced run, not overhead.
      val replayS = tracer.spans.filter(_.name == "replay").map(_.length / 1e9).sum
      passWalls += walls(true)
      layer("trace.overhead_s") = walls(true) - replayS - walls(false)
    } else (1 to passes).foreach(p => passWalls += pass(p, Seq(false))(false))
    val tEnd = System.nanoTime()
    heap.stop()
    heap.close()
    gcPeakMb = heap.peakMb
    val probeEnd = cpuProbe()
    say(f"phases warmup_s=${(tTimed - tWarm) / 1e9}%.2f measured_s=${(tEnd - tTimed) / 1e9}%.2f " +
      f"passes=${if (traced) 1 else passes} gcs=${heap.collections} pass_walls_s=" +
      passWalls.map(x => f"$x%.3f").mkString(","))
    say("warm-up op times (s): " + warmTimes.sortBy(_._1).map { case (n, t) =>
      f"$n=$t%.3f" }.mkString(" "))
    say("op times (s): " + opSamples.toSeq.sortBy(_._1).map { case (n, xs) =>
      s"$n=" + xs.map(x => f"$x%.3f").mkString(",") }.mkString(" "))
    spark.listenerManager.unregister(log)

    // What this run observed, next to its result, to compare against the
    // pins by hand.
    val obsDir = new File(s"$work/observed")
    obsDir.mkdirs()
    Expect.save(new File(obsDir, s"${w.name}-seed$seed-trace${if (traced) 1 else 0}.json"),
      observed.toMap)
    val failedFrac = failedOps.toDouble / attempted
    problems.take(20).foreach(p => say(s"MISMATCH $p"))
    say(f"host.cpu_probe_s start=$probeStart%.4f end=$probeEnd%.4f")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        // An operation's latency is the median of its runs in the
        // measured passes.
        val opLatencies = opSamples.values.map(xs => Stats.median(xs.toSeq)).toSeq
        val tail = Stats.tail(opLatencies)
        say(f"op_tail_s is p${tail.percentile}%.1f of ${tail.n} samples " +
          s"(${tail.beyond} beyond it)")
        say(f"failed_frac=$failedFrac%.4f ($failedOps of $attempted)")
        Seq(("wall_s", Stats.median(passWalls.toSeq), "s"),
          ("op_p50_s", Stats.median(opLatencies), "s"),
          ("op_tail_s", tail.value, "s"),
          ("heap_after_gc_mb", opEndHeapMb, "MB"))
      } else {
        summarize(tracer)
        layerMetrics(tracedPasses, cores, probeStart, probeEnd)
      }
    if (traced) writeTrace(tracer)
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    say(s"""RESULT {"correct": ${failedOps == 0}, "attempted": $attempted, """ +
      s""""failed": $failedOps, "metrics": {$json}}""")
    spark.stop()
    if (failedOps == 0) 0 else 1
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private var spanTotals = Map.empty[String, Double]

  private def layerMetrics(passes: Int, cores: Int, probeStart: Double,
      probeEnd: Double): Seq[(String, Double, String)] = {
    val per = passes.toDouble
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def add(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))
    val ms = Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
      "catalyst.planning_ms", "driver.outside_jobs_ms", "sched.delay_ms",
      "sched.deser_ms", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
      "shuffle.fetch_wait_ms")
    ms.foreach(k => add(k, layer(k) / per, "ms"))
    Seq("driver.build_jobs", "sched.jobs", "sched.stages", "sched.stages_skipped",
      "sched.tasks", "io.input_rows", "io.output_rows")
      .foreach(k => add(k, layer(k) / per, "count"))
    Seq("shuffle.write_mb", "shuffle.read_mb", "spill.mb", "io.input_mb",
      "io.output_mb").foreach(k => add(k, layer(k) / per, "MB"))
    add("exec.cpu_util", layer("exec.cpu_ms") / per /
      (familyTotals.values.sum / per * cores), "ratio")
    add("exec.skew_max", skewMax, "ratio")
    add("exec.peak_mem_mb", peakMemMb, "MB")
    add("heap.gc_peak_mb", gcPeakMb, "MB")
    add("host.cpu_probe_s", (probeStart + probeEnd) / 2, "s")
    add("trace.overhead_s", layer("trace.overhead_s"), "s")
    // Span totals per pass.
    def total(name: String): Double =
      spanTotals.getOrElse(name, 0.0) / per
    Seq("queries.build", "queries.force", "engine.parse", "engine.run",
      "rules.reports", "rules.invalid", "rules.profile", "rules.checksum",
      "dedup.plan", "operators.sample", "report.write",
      "io.write").foreach(n => add(s"${n}_ms", total(n), "ms"))
    add("diff.ms", total("diff"), "ms")
    add("views.ms", total("views"), "ms")
    val replayed = Seq("engine.parse", "rules.reports", "rules.invalid",
      "rules.profile", "rules.checksum", "diff", "views",
      "dedup.plan", "operators.sample", "report.write", "io.write")
    add("engine.self_ms", total("engine.run") - replayed.map(total).sum, "ms")
    Seq("analytics", "rules", "dedup", "similarity", "text", "multimodal",
      "pipeline").foreach { f =>
      add(s"$f.op_s", familyTotals.getOrElse(f, 0.0) / per / 1000, "s")
    }
    Main.Pipeline.foreach { q =>
      add(s"op.$q.wall_ms", opWalls.get(q).filter(_ => w.name == "ops_pipeline")
        .map(ws => Stats.median(ws.toSeq)).getOrElse(0.0), "ms")
    }
    out.toSeq
  }

  private var familyTotals = Map.empty[String, Double]

  /** Span totals by span name and by query family, in ms over all passes. */
  private def summarize(tracer: Tracer): Unit = {
    val spans = tracer.spans.toSeq
    spanTotals = spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(_.length / 1e6).sum }
    familyTotals = spans.filter(_.parent == -1).groupBy(s =>
      family(s.name.stripPrefix("op:"))).map { case (f, ss) =>
      f -> ss.map(_.length / 1e6).sum }
  }

  /** Write every span, with self times and per-layer self-time totals. */
  private def writeTrace(tracer: Tracer): Unit = {
    val spans = tracer.spans.toSeq
    val self = spans.map(_.op).distinct.flatMap(tracer.selfTimes).toMap
    val selfByLayer = spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id) / 1e6).sum }
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("workload", w.name)
    root.put("seed", seed)
    val arr = root.putArray("spans")
    spans.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("start_ns", s.start)
      o.put("end_ns", s.end); o.put("parent", s.parent); o.put("op", s.op)
      o.put("self_ns", self(s.id))
    }
    val lay = root.putObject("self_ms_by_layer")
    selfByLayer.toSeq.sortBy(-_._2).foreach { case (n, v) => lay.put(n, v) }
    val dir = new File(s"$work/trace")
    dir.mkdirs()
    val f = new File(dir, s"${w.name}-seed$seed.json")
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
    say(s"trace written to ${f.getPath} (${spans.size} spans)")
    say("self ms by layer: " + selfByLayer.toSeq.sortBy(-_._2).take(12)
      .map { case (n, v) => f"$n=$v%.0f" }.mkString(" "))
  }
}
