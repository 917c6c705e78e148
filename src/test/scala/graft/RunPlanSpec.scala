package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkConf

class RunPlanSpec extends SparkSpec {

  private val planJson =
    """{
      |  "commands": [
      |    {
      |      "command": "assertion",
      |      "input": {"ref": "${dir}/region.parquet", "onDisk": true},
      |      "params": {
      |        "assertions": [
      |          {"query": "r_regionkey < ${maxKey}", "description": "key bound", "threshold": 0.0}
      |        ]
      |      },
      |      "outputKey": "regionCheck"
      |    }
      |  ]
      |}""".stripMargin

  private def writePlan(): String = {
    val p = Files.createTempFile("graft_plan", ".json")
    Files.write(p, planJson.getBytes("UTF-8"))
    p.toString
  }

  test("argument parsing: variables, report options, and errors") {
    val parsed = RunPlan.parseArgs(Seq("p.json", "--var", "a=1", "--var",
      "b=x=y", "--report-key", "r", "--report-dest", "/tmp/out"))
    assert(parsed === Right(RunPlan.Config("p.json",
      Map("a" -> "1", "b" -> "x=y"), "r", Some("/tmp/out"))))
    assert(RunPlan.parseArgs(Seq.empty).isLeft)
    assert(RunPlan.parseArgs(Seq("p.json", "--var", "novalue")).isLeft)
    assert(RunPlan.parseArgs(Seq("p.json", "--bogus")).isLeft)
  }

  test("the builder master defers to a configured spark.master") {
    // spark-submit --master and -Dspark.master both arrive as the
    // spark.master property; a builder master would override them.
    assert(RunPlan.defaultMaster(
      new SparkConf(false).set("spark.master", "yarn")) === None)
    assert(RunPlan.defaultMaster(new SparkConf(false)) === Some("local[*]"))
  }

  test("--validate-only checks the whole plan and executes nothing") {
    assert(RunPlan.parseArgs(Seq("p.json", "--validate-only"))
      .exists(_.validateOnly))
    // Data dir does not exist: a real run would fail reading it, so
    // exit 0 here proves validation never touched the inputs.
    val ok = RunPlan.run(spark, RunPlan.Config(writePlan(),
      Map("dir" -> "/nonexistent/never/read", "maxKey" -> "99"),
      "regions", None, validateOnly = true))
    assert(ok === 0)
    // A structurally bad plan still reports 2 in validate-only mode.
    val bad = Files.createTempFile("graft_bad_plan", ".json")
    Files.write(bad,
      """{"commands": [{"command": "assertion", "params": {}}]}"""
        .getBytes("UTF-8"))
    val code = RunPlan.run(spark, RunPlan.Config(bad.toString,
      Map.empty, "r", None, validateOnly = true))
    assert(code === 2)
  }

  test("plan run exits 0 when assertions pass, 3 when they fail") {
    val plan = writePlan()
    val dest = Files.createTempDirectory("graft_report").toString
    // All region keys are < 99 → pass.
    val pass = RunPlan.run(spark, RunPlan.Config(plan,
      Map("dir" -> "/root/testdata/sf0.001", "maxKey" -> "99"),
      "regions", Some(dest)))
    assert(pass === 0)
    // No region key is < 0 → every row invalid → threshold 0 exceeded.
    val fail = RunPlan.run(spark, RunPlan.Config(plan,
      Map("dir" -> "/root/testdata/sf0.001", "maxKey" -> "0"),
      "regions", Some(dest)))
    assert(fail === 3)
    val report = new String(
      Files.readAllBytes(Paths.get(dest, "regions.json")), "UTF-8")
    assert(report.contains("key bound"))
    assert(report.contains("sampleInvalidData"))
    assert(report.contains("r_regionkey")) // referenced-column sample
  }

  test("plan-level io.dest is honored when no --report-dest is given") {
    // The reference selects its writer from the plan document
    // (tnengine/TnEngine.scala:268-280); a migrated plan carrying `io`
    // must write its report without any CLI flag.
    val dest = Files.createTempDirectory("graft_iodest").toString
    val p = Files.createTempFile("graft_plan_io", ".json")
    Files.write(p, planJson.replaceFirst("\\{",
      s"""{"io": {"dest": "$dest"},""").getBytes("UTF-8"))
    val code = RunPlan.run(spark, RunPlan.Config(p.toString,
      Map("dir" -> "/root/testdata/sf0.001", "maxKey" -> "99"),
      "iorun", None))
    assert(code === 0)
    val report = new String(
      Files.readAllBytes(Paths.get(dest, "iorun.json")), "UTF-8")
    assert(report.contains("key bound"))
    // CLI flag still wins over the plan's dest.
    val cliDest = Files.createTempDirectory("graft_iodest_cli").toString
    assert(RunPlan.run(spark, RunPlan.Config(p.toString,
      Map("dir" -> "/root/testdata/sf0.001", "maxKey" -> "99"),
      "iorun2", Some(cliDest))) === 0)
    assert(Files.exists(Paths.get(cliDest, "iorun2.json")))
    assert(!Files.exists(Paths.get(dest, "iorun2.json")))
  }

  test("end-to-end REST: plan fetched over HTTP, report PUT back over HTTP") {
    // The reference's rest-reader + rest-writer workflow
    // (TnRESTReader/TnRESTWriter) on a single local config server:
    // GET the plan from it, run, PUT the report to it.
    val putBodies = scala.collection.mutable.Map.empty[String, String]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { ex =>
      val path = ex.getRequestURI.getPath
      (ex.getRequestMethod, path) match {
        case ("GET", "/conf/plan.json") =>
          val b = planJson.getBytes("UTF-8")
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b)
        case ("PUT", p) if p.startsWith("/reports/") =>
          putBodies(p.stripPrefix("/reports/")) =
            new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          ex.sendResponseHeaders(200, -1)
        case _ => ex.sendResponseHeaders(404, -1)
      }
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val code = RunPlan.run(spark, RunPlan.Config(
        s"$base/conf/plan.json",
        Map("dir" -> "/root/testdata/sf0.001", "maxKey" -> "99"),
        "restRun", Some(s"$base/reports")))
      assert(code === 0)
      assert(putBodies.keySet === Set("restRun"))
      assert(putBodies("restRun").contains("key bound"))
    } finally server.stop(0)
  }
}
