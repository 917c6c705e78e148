package graft

import java.io.{FileWriter, PrintWriter}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Shared harness of the diagnostic mains (Bench, Verify, StageProfile,
  * the ladders, ...): one session builder that reads the environment
  * once, plus the helpers the ladder tools share. The production entry
  * point [[RunPlan]] does not use it.
  *
  * Session environment:
  *  - `SPARK_GRAFT_CPUS`: local cores (default: available processors);
  *  - `SPARK_GRAFT_SHUFFLE`: `spark.sql.shuffle.partitions` (default:
  *    the core count);
  *  - `SPARK_GRAFT_MASTER`: the master (default: the tool's own, else
  *    `local[<cpus>]`);
  *  - `SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"`: applied last on the builder,
  *    so it wins over every default and tool pin and can set static
  *    confs.
  */
object Harness {
  type Env = Map[String, String]

  private def cpus(env: Env): Int = env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def master(env: Env, default: Option[String] = None): String =
    env.get("SPARK_GRAFT_MASTER").orElse(default)
      .getOrElse(s"local[${cpus(env)}]")

  def extraConf(env: Env): Seq[(String, String)] =
    env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(";"))
      .filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => k -> v
          case _ => throw new IllegalArgumentException(
            s"bad SPARK_GRAFT_EXTRA_CONF entry (expected k=v): '$kv'")
        }
      }

  /** Builder confs in the order they apply, later ones winning: harness
    * defaults, then the tool's `pins`, then `SPARK_GRAFT_EXTRA_CONF`. */
  def confs(env: Env, pins: Seq[(String, String)] = Nil,
      defaultMaster: Option[String] = None): Seq[(String, String)] = {
    val m = master(env, defaultMaster)
    // Worker-launched executor JVMs know Spark's jars but not this
    // build's classes; without them every closure fails to deserialize.
    val executorClasses =
      if (!m.startsWith("local-cluster")) Nil
      else Seq("spark.executor.extraClassPath" ->
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
    Seq("spark.master" -> m,
      "spark.sql.shuffle.partitions" ->
        env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus(env).toString),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++
      executorClasses ++ pins ++ extraConf(env)
  }

  def session(pins: Seq[(String, String)] = Nil,
      defaultMaster: Option[String] = None,
      env: Env = sys.env): SparkSession = {
    val spark = confs(env, pins, defaultMaster)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the scheduler and codegen so a tool's first timed job
    // measures the job, not JVM start-up.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** The `label=dir` arguments of the ladder tools, in order. */
  def labelDirs(args: Seq[String], usage: String): Seq[(String, String)] = {
    require(args.nonEmpty, s"usage: $usage")
    args.map { a =>
      a.split("=", 2) match {
        case Array(label, dir) if label.nonEmpty && dir.nonEmpty =>
          (label, dir)
        case _ => throw new IllegalArgumentException(
          s"bad arg (expected label=dir): '$a'")
      }
    }
  }

  def timed[A](thunk: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val value = thunk
    ((System.nanoTime() - t0) / 1e9, value)
  }

  /** Runs `run` (which returns its own wall seconds) `n` times and
    * returns the fastest time with the value of the last run that
    * succeeded. The error is returned only when no run succeeded, so a
    * transient failure (an ambient OOM on a shared host) never discards
    * a good measurement. Between runs, outside the timed region, a GC
    * drops the previous run's dead localCheckpoint blocks:
    * ContextCleaner frees them only after the driver collects the
    * owning RDDs, and without it a spill-heavy query inherits the
    * block-manager pressure of whatever ran before it (measured: +90%
    * wall on qd_tfidf_pairs at sf1 purely from queue position). */
  def minOfN[A](n: Int)(run: => (Double, A)): Either[Throwable, (Double, A)] = {
    require(n >= 1, s"iterations must be >= 1, got $n")
    var best = Double.MaxValue
    var last = Option.empty[A]
    var error: Throwable = null
    for (_ <- 1 to n) {
      try {
        val (sec, value) = run
        best = math.min(best, sec)
        last = Some(value)
      } catch { case e: Throwable => error = e }
      System.gc()
    }
    last.map(v => Right((best, v))).getOrElse(Left(error))
  }

  /** Runs `body` with an emitter that prints each line and appends it,
    * flushed, to the JSONL file at `path`. */
  def appendJsonl(path: String)(body: (String => Unit) => Unit): Unit = {
    val out = new PrintWriter(new FileWriter(path, true))
    try body { line => println(line); out.println(line); out.flush() }
    finally out.close()
  }
}

/** One completed stage of a [[StageCollector]] window. Byte counts are
  * raw; records in are file-scan or shuffle-read rows, whichever feeds
  * the stage, records out are sink or shuffle-write rows; spill is
  * memory plus disk. */
final case class StageRow(jobId: Int, stageId: Int, name: String,
    wallMs: Long, runMs: Long, gcMs: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, inputBytes: Long, recordsIn: Long,
    recordsOut: Long, spillBytes: Long, tasks: Int)

/** What a [[StageCollector.window]] saw: the thunk's value and wall
  * seconds, its stages, the run time of each of its tasks, and the
  * description of each of its jobs. */
final case class StageWindow[A](value: A, sec: Double,
    stages: Seq[StageRow], taskRunMs: Seq[Long],
    jobDescriptions: Map[Int, String]) {
  def total(metric: StageRow => Long): Long = stages.map(metric).sum

  /** Max and median task run time (0 without tasks): a hot key shows
    * up as max ≫ median long before it shows up in wall time. */
  def maxMedianTaskMs: (Long, Long) = {
    val sorted = taskRunMs.sorted
    if (sorted.isEmpty) (0L, 0L) else (sorted.last, sorted(sorted.size / 2))
  }
}

/** The tools' one SparkListener: attributes stage and task metrics to
  * the thunk of a [[window]]. Windows must not overlap. */
final class StageCollector(sc: SparkContext) {
  @volatile private var open = false
  private val lock = new Object
  private val stages = mutable.ArrayBuffer.empty[StageRow]
  private val taskRunMs = mutable.ArrayBuffer.empty[Long]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val jobDescriptions = mutable.Map.empty[Int, String]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (open) lock.synchronized {
        js.stageIds.foreach(sid => jobOfStage(sid) = js.jobId)
        jobDescriptions(js.jobId) = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (open && m != null) lock.synchronized {
        stages += StageRow(jobOfStage.getOrElse(si.stageId, -1), si.stageId,
          si.name.linesIterator.nextOption().getOrElse(""),
          (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
            .getOrElse(-1L),
          m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead max m.shuffleReadMetrics.recordsRead,
          m.outputMetrics.recordsWritten max
            m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, si.numTasks)
      }
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (open && m != null) lock.synchronized(taskRunMs += m.executorRunTime)
    }
  })

  /** Runs `thunk` and returns what it ran. The listener bus is drained
    * before the window opens, so earlier jobs stay out, and before it
    * closes, so the thunk's last events are in; the wall time excludes
    * both drains. */
  def window[A](thunk: => A): StageWindow[A] = {
    ListenerBusAccess.drain(sc)
    lock.synchronized {
      stages.clear(); taskRunMs.clear()
      jobOfStage.clear(); jobDescriptions.clear()
    }
    open = true
    val (sec, value) =
      try Harness.timed(thunk)
      finally { ListenerBusAccess.drain(sc); open = false }
    lock.synchronized(StageWindow(value, sec, stages.toList,
      taskRunMs.toList, jobDescriptions.toMap))
  }
}
