package graftbench

import graft.dedup.Dedup
import graft.diff.DatasetDiff
import graft.engine._
import graft.rules.{Fingerprint, Profiler, RuleReport, RuleRunner}
import graft.views.ViewCreator
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import scala.collection.mutable

/** Replays a parsed plan command by command with one span around each
  * call into a graft module, the way `PlanRunner` dispatches them, and
  * writes every output under `outDir`. Used by the traced run to split a
  * plan's time between the engine and the modules it calls.
  *
  * Returns the exit code the plan would have (3 when a gate failed). */
class Replay(spark: SparkSession, tracer: Tracer, outDir: String) {
  private val lookup = mutable.Map.empty[String, DataFrame]
  private val reports = mutable.Buffer.empty[(String, Seq[RuleReport])]

  def run(planPath: String, vars: Map[String, String], reportDir: String,
      reportKey: String): Int = {
    val plan = tracer.span("engine.parse") {
      PlanParser.validateFile(planPath, vars)
    } match {
      case Right(p) => p
      case Left(errs) => throw new IllegalStateException(
        s"plan $planPath does not parse: ${errs.map(_.message).mkString("; ")}")
    }
    val failed = commands(plan.commands)
    tracer.span("report.write") {
      new FsReportWriter(spark, reportDir).write(reportKey, reports.toSeq)
    }
    if (failed > 0) 3 else 0
  }

  private def resolve(in: InputRef): DataFrame =
    if (in.onDisk) spark.read.parquet(in.ref) else lookup(in.ref)

  private def store(df: DataFrame, c: Command): Unit = {
    val out = if (c.cache) df.cache() else df
    lookup(c.outputKey) = out
    tracer.span("io.write") {
      out.write.mode(SaveMode.Overwrite).parquet(s"$outDir/${c.outputKey}")
    }
  }

  private def gate(key: String, report: RuleReport): Int = {
    reports.append(key -> Seq(report))
    if (report.failed) 1 else 0
  }

  private def commands(cmds: Seq[Command]): Int = cmds.map {
    case c: AssertionCommand =>
      val input = resolve(c.input)
      val rs = tracer.span("rules.reports") {
        RuleRunner.reports(input, c.rules, collectSamples = true)
      }
      reports.append(c.outputKey -> rs)
      store(tracer.span("rules.invalid") { RuleRunner.invalidRows(input, c.rules) }, c)
      rs.count(_.failed)
    case c: DiffCommand =>
      store(tracer.span("diff") {
        DatasetDiff.diff(resolve(c.input1), resolve(c.input2), c.diffConfig)
      }, c)
      0
    case c: ViewCommand =>
      store(tracer.span("views") {
        ViewCreator.createView(spark, c.tableAliases.zip(c.inputs.map(resolve)),
          c.query)
      }, c)
      0
    case c: DriftCommand =>
      val (bins, total, n) = tracer.span("rules.profile") {
        val bins = Profiler.driftOuter(resolve(c.baseline), resolve(c.input),
          c.valueCol, c.binWidth)
        val agg = bins.agg(sum("psi"), count(lit(1))).head()
        (bins, if (agg.isNullAt(0)) 0.0 else agg.getDouble(0), agg.getLong(1))
      }
      store(bins, c)
      val failed = c.maxPsi.exists(total > _)
      gate(c.outputKey, RuleReport(s"psi(${c.valueCol})", "drift",
        c.maxPsi.getOrElse(-1.0), n, if (failed) 1 else 0,
        if (failed) 1.0 else 0.0, failed, Map("psi_total" -> total)))
    case c: ChecksumCommand =>
      val (fp, checksum, n) = tracer.span("rules.checksum") {
        val fp = Fingerprint.of(resolve(c.input), c.columns)
        val row = fp.head()
        (fp, row.getAs[String]("checksum"), row.getAs[Long]("n_rows"))
      }
      store(fp, c)
      val failed = c.expected.exists(_ != checksum)
      gate(c.outputKey, RuleReport(s"checksum(${c.columns.mkString(", ")})",
        "fingerprint", 0.0, n, if (failed) 1 else 0, if (failed) 1.0 else 0.0,
        failed, Map("checksum" -> checksum)))
    case c: DedupCommand =>
      val input = resolve(c.input)
      store(tracer.span("dedup.plan") {
        if (c.keepDuplicatesReport) Dedup.exactGroups(input, c.textCol, c.idCol)
        else Dedup.canonicalRows(input, c.textCol, c.idCol)
      }, c)
      0
    case c: TopNCommand =>
      store(tracer.span("operators.sample") {
        val ord = if (c.descending) col(c.orderCol).desc else col(c.orderCol).asc
        org.apache.spark.sql.graft.TopK.perKey(resolve(c.input), c.keyCols,
          Seq(ord, col(c.tiebreakCol).asc), c.k)
      }, c)
      0
    case c => throw new IllegalArgumentException(
      s"the benchmark's plans use no ${c.getClass.getSimpleName}")
  }.sum
}
