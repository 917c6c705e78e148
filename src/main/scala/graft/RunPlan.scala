package graft

import graft.engine._
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** CLI entrypoint: run a JSON plan end-to-end, as the reference's
  * spark-submit main does (reference: tnengine/TnEngine.scala:29-53).
  *
  * Usage (via spark-submit or `sbt runMain`):
  * {{{
  *   graft.RunPlan <plan.json | http(s)://config-server/plan.json>
  *     [--var key=value ...]          # \${key} substitution in the plan
  *     [--report-key name]            # report document name (default: plan)
  *     [--report-dest dir|url]        # write <dir>/<key>.json, or HTTP PUT
  *                                    # <url>/<key> when the dest is
  *                                    # http(s):// (default: console)
  *     [--validate-only]              # parse + whole-plan validation, run nothing
  * }}}
  * Exit codes match the reference: 0 success, 3 when any assertion
  * failed its threshold, 2 for invalid arguments (including a plan
  * that fails --validate-only).
  *
  * An `http(s)://` plan path reads the plan — and every document it
  * references — from a REST config server ([[RestPlanSource]],
  * reference `TnRESTReader`); an `http(s)://` report dest ships the
  * report via [[RestReportWriter]] (reference `TnRESTWriter`, which
  * selects transports the same way via its `rest` conf string).
  */
object RunPlan {

  case class Config(planPath: String, variables: Map[String, String],
    reportKey: String, reportDest: Option[String],
    validateOnly: Boolean = false)

  /** Pure argument parser: Left(error) or Right(config). */
  def parseArgs(args: Seq[String]): Either[String, Config] = {
    if (args.isEmpty) return Left("missing <plan.json> argument")
    var vars = Map.empty[String, String]
    var reportKey = "plan"
    var reportDest = Option.empty[String]
    var validateOnly = false
    var rest = args.tail
    while (rest.nonEmpty) rest = rest match {
      case "--var" +: kv +: tail =>
        kv.split("=", 2) match {
          case Array(k, v) => vars += (k -> v); tail
          case _ => return Left(s"--var expects key=value, got '$kv'")
        }
      case "--report-key" +: k +: tail => reportKey = k; tail
      case "--report-dest" +: d +: tail => reportDest = Some(d); tail
      case "--validate-only" +: tail => validateOnly = true; tail
      case other +: _ => return Left(s"unknown argument '$other'")
    }
    Right(Config(args.head, vars, reportKey, reportDest, validateOnly))
  }

  /** Run a parsed config against a session; returns the process exit
    * code (separated from main so tests don't System.exit). The whole
    * plan is pre-validated before anything executes (reference:
    * tnengine/TnEngine.scala:113-143, `haltIfPotentialErrors`): every
    * config error is reported at once and nothing runs — never a
    * half-executed plan that dies at command 17's typo. */
  private def isHttp(s: String): Boolean =
    s.startsWith("http://") || s.startsWith("https://")

  /** Split an http(s) plan path into (serverBase, documentPath) so
    * sibling documents resolve against the plan's own URL prefix. */
  private[graft] def splitUrl(url: String): (String, String) = {
    val cut = url.lastIndexOf('/')
    (url.substring(0, cut), url.substring(cut + 1))
  }

  def run(spark: SparkSession, config: Config): Int = {
    val validated =
      if (isHttp(config.planPath)) {
        val (base, doc) = splitUrl(config.planPath)
        RestPlanSource.validate(base, doc, config.variables)
      } else PlanParser.validateFile(config.planPath, config.variables)
    validated match {
      case Left(errors) =>
        errors.foreach { e =>
          val at = if (e.path.isEmpty) "" else s" at ${e.path}"
          System.err.println(s"graft.RunPlan: invalid plan$at: ${e.message}")
        }
        2
      case Right(plan) =>
        // CI gate / pre-deploy check: every command validated, nothing
        // executed, no data touched.
        if (config.validateOnly) {
          println(s"graft.RunPlan: plan ok (${plan.commands.size} commands)")
          return 0
        }
        // Destination precedence: CLI --report-dest > the plan's own
        // `io.dest` > console. The plan-level dest matches the
        // reference, whose writer choice lives in the plan document
        // (tnengine/TnEngine.scala:268-280) — without the fallback a
        // migrated plan carrying `io` would silently print to the
        // console instead of writing its report.
        val writer = config.reportDest.orElse(plan.reportDest)
          .map {
            case url if isHttp(url) => new RestReportWriter(url)
            case dir                => new FsReportWriter(spark, dir)
          }
          .getOrElse(new ConsoleReportWriter)
        new PlanRunner(spark, Some(writer)).run(plan, config.reportKey).exitCode
    }
  }

  /** The master to set on the builder: none when `spark.master` is
    * already configured (spark-submit's `--master`, `-Dspark.master`),
    * since a builder master would override it; otherwise `local[*]`, so
    * `sbt runMain` works out of the box. */
  private[graft] def defaultMaster(conf: SparkConf): Option[String] =
    if (conf.contains("spark.master")) None else Some("local[*]")

  def main(args: Array[String]): Unit =
    parseArgs(args.toSeq) match {
      case Left(err) =>
        System.err.println(s"graft.RunPlan: $err")
        sys.exit(2)
      case Right(config) =>
        val builder = SparkSession.builder()
          .appName("graft")
          .config("spark.ui.enabled", "false")
        val spark = defaultMaster(new SparkConf())
          .fold(builder)(builder.master).getOrCreate()
        System.err.println(
          s"graft.RunPlan: master ${spark.sparkContext.master}")
        // sys.exit halts the JVM before a finally around it could run —
        // compute the code first, stop the session, THEN exit.
        val code = try run(spark, config) finally spark.stop()
        sys.exit(code)
    }
}
