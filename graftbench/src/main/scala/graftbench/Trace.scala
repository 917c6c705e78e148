package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import Stats.Interval

/** Wall clock in epoch nanoseconds: a monotonic clock anchored once to
  * the epoch, so benchmark spans (nanoTime) and Spark's event times
  * (epoch milliseconds) share one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def ofMs(ms: Long): Long = ms * 1000000L
}

/** A span: a timed call into one layer. `op` ties the spans of one
  * operation together; `parent` is -1 for an operation's root span. */
case class Span(id: Int, name: String, start: Long, end: Long, parent: Int,
    op: Int) {
  def interval: Interval = Interval(start, end)
  def length: Long = end - start
}

/** Records nested spans on the benchmark thread. */
class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var currentOp = -1

  def op[T](opId: Int, name: String)(body: => T): T = {
    currentOp = opId
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, Clock.now(), -1L, parent, currentOp)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = Clock.now())
    }
  }

  /** Attach externally observed intervals (Spark jobs, Catalyst phases)
    * of operation `opId` under the deepest recorded span in which each
    * starts, clipped to end before that span's next recorded child and
    * trimmed against each other, so that every span's children stay
    * disjoint and the self times of an operation's spans add up to its
    * wall time. Intervals starting outside the operation are dropped. */
  def attach(opId: Int, external: Seq[(String, Interval)]): Unit = {
    val own = spans.filter(_.op == opId).toVector
    if (own.isEmpty) return
    val children = own.groupBy(_.parent)
    def deepest(t: Long): Option[Span] = {
      var at = own.find(s => s.parent == -1 && t >= s.start && t < s.end)
      var next = at
      while (next.isDefined) {
        at = next
        next = children.getOrElse(at.get.id, Vector.empty)
          .find(c => t >= c.start && t < c.end)
      }
      at
    }
    val placed = external.flatMap { case (name, iv) =>
      deepest(iv.start).map { p =>
        val nextChild = children.getOrElse(p.id, Vector.empty)
          .filter(_.start > iv.start).map(_.start)
        val end = (nextChild :+ p.end).min
        (p, name, Interval(iv.start, math.min(iv.end, end)))
      }
    }
    placed.groupBy(_._1.id).foreach { case (_, group) =>
      val parent = group.head._1
      Stats.disjoint(group.map(_._3), parent.interval).zip(group).foreach {
        case (Some(iv), (_, name, _)) =>
          spans += Span(spans.size, name, iv.start, iv.end, parent.id, opId)
        case _ =>
      }
    }
  }

  /** Self time of every span of one operation, by span id. */
  def selfTimes(opId: Int): Map[Int, Long] = {
    val own = spans.filter(_.op == opId)
    val kids = own.groupBy(_.parent)
    own.map(s => s.id -> Stats.selfTime(s.interval,
      kids.getOrElse(s.id, Nil).map(_.interval).toSeq)).toMap
  }
}

/** Job, stage, task and query-execution events of one session. */
class EventLog extends SparkListener with QueryExecutionListener {
  case class Job(start: Long, end: Long, stages: Seq[Int])
  case class Stage(id: Int, durations: Seq[Long])
  case class Task(m: org.apache.spark.executor.TaskMetrics, duration: Long)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  /** Catalyst phases of every executed frame. */
  val queries = new ConcurrentLinkedQueue[Map[String, Interval]]()
  private val stageTaskTimes =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (Clock.ofMs(e.time), e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (start, st) =>
      jobs.add(Job(start, Clock.ofMs(e.time), st))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      tasks.add(Task(e.taskMetrics, e.taskInfo.duration))
      stageTaskTimes.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new ConcurrentLinkedQueue[Long]()).add(e.taskInfo.duration)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val ds = Option(stageTaskTimes.remove(key)).map(_.asScala.toSeq)
      .getOrElse(Nil)
    stages.add(Stage(key._1, ds))
  }

  private def record(qe: QueryExecution): Unit =
    queries.add(EventLog.phases(qe))
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  /** Drain every queue into a snapshot and clear them. */
  def take(): (Seq[Job], Seq[Stage], Seq[Task], Seq[Map[String, Interval]]) = {
    def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val out = mutable.ArrayBuffer.empty[T]
      var x = q.poll()
      while (x != null) { out += x; x = q.poll() }
      out.toSeq
    }
    (drain(jobs), drain(stages), drain(tasks), drain(queries))
  }
}

object EventLog {
  /** Catalyst phases a frame went through, on the epoch-nanosecond axis. */
  def phases(qe: QueryExecution): Map[String, Interval] =
    qe.tracker.phases.map { case (name, p) =>
      name -> Interval(Clock.ofMs(p.startTimeMs), Clock.ofMs(p.endTimeMs))
    }
}
