package graft.api

import graft.SparkTestBase
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

class ControlPlaneSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val p = Paths.get("target", "test-tmp", "api", name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  private val abSchema =
    """{ "fields": [
      |  { "name": "a", "data_type": "string" },
      |  { "name": "b", "data_type": "string" } ] }""".stripMargin

  private def jobJson(in: String, out: String) =
    s"""{ "name": "apijob", "components": [
       |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
       |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
       |    "out_port_schemas": { "out": $abSchema } },
       |  { "name": "w", "comp_type": "write_csv", "filepath": "$out",
       |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin

  test("registry: create validates deeply, execute records success/failure") {
    import spark.implicits._
    val reg = new ControlPlane.JobRegistry(spark)
    // invalid config rejected at create time (deep validation)
    intercept[IllegalArgumentException] {
      reg.createJob("""{ "name": "bad", "components": [
        | { "name": "r", "comp_type": "read_csv", "filepath": "x",
        |   "routes": { "out": [ { "to": "ghost", "in_port": "in" } ] },
        |   "out_port_schemas": { "out": { "fields": [
        |     { "name": "a", "data_type": "string" } ] } } } ] }""".stripMargin)
    }
    val in = tmp("in_ok")
    graft.io.CsvIO.write(Seq(("1", "x")).toDF("a", "b"), in, singleFile = true)
    val job = reg.createJob(jobJson(in, tmp("out_ok")))
    assert(reg.listJobs().map(_.id) === Seq(job.id))
    val ok = reg.execute(job.id)
    assert(ok.status === "SUCCESS")
    val bad = reg.createJob(jobJson(tmp("nope_missing"), tmp("out_bad")))
    val fail = reg.execute(bad.id)
    assert(fail.status === "FAILED")
    assert(fail.error.isDefined)
    // per-attempt records: the failed run logs every attempt, all FAILED
    assert(fail.attemptRecords.nonEmpty)
    assert(fail.attemptRecords.map(_.index) === (1 to fail.attemptRecords.size))
    assert(fail.attemptRecords.forall(_.status === "FAILED"))
    assert(fail.attemptRecords.forall(_.error.isDefined))
    assert(ok.attemptRecords.map(_.status) === Seq("SUCCESS"))
    // observe()-collected metrics land on the record
    assert(ok.linesForwarded.values.sum > 0)
    assert(ok.throughputRowsPerSec > 0)
    // listing with filter/sort/paging
    assert(reg.listExecutions(status = Some("SUCCESS")).map(_.id) === Seq(ok.id))
    assert(reg.listExecutions(jobId = Some(bad.id)).map(_.id) === Seq(fail.id))
    assert(reg.listExecutions(sortDesc = false).head.id === ok.id)
    assert(reg.listExecutions(limit = 1).size === 1)
  }

  test("persistence: create → restart → list → update(revalidated) → execute") {
    import spark.implicits._
    val store = Files.createDirectories(
      Paths.get("target", "test-tmp", "api", s"store-${System.nanoTime()}"))
    val in = tmp("persist_in")
    graft.io.CsvIO.write(Seq(("1", "x")).toDF("a", "b"), in, singleFile = true)

    val reg1 = new ControlPlane.JobRegistry(spark, Some(store))
    val job = reg1.createJob(jobJson(in, tmp("persist_out")))
    val exec1 = reg1.execute(job.id)
    assert(exec1.status === "SUCCESS")

    // a NEW registry over the same store sees the job and the execution
    val reg2 = new ControlPlane.JobRegistry(spark, Some(store))
    assert(reg2.listJobs().map(_.id) === Seq(job.id))
    assert(reg2.getJob(job.id).get.configJson === jobJson(in, tmp("persist_out")))
    assert(reg2.listExecutions(jobId = Some(job.id)).map(_.id) === Seq(exec1.id))
    assert(reg2.getExecution(exec1.id).get.status === "SUCCESS")
    // attempt detail and metrics survive the restart too
    assert(reg2.getExecution(exec1.id).get.attemptRecords.map(_.status) === Seq("SUCCESS"))
    assert(reg2.getExecution(exec1.id).get.linesForwarded === exec1.linesForwarded)

    // update revalidates: a broken replacement is rejected and the job is untouched
    intercept[IllegalArgumentException] {
      reg2.updateJob(job.id, """{ "name": "broken", "components": [
        | { "name": "r", "comp_type": "read_csv", "filepath": "x",
        |   "routes": { "out": [ { "to": "ghost", "in_port": "in" } ] },
        |   "out_port_schemas": { "out": { "fields": [
        |     { "name": "a", "data_type": "string" } ] } } } ] }""".stripMargin)
    }
    // a valid replacement lands, keeps the id, and survives another restart
    val in2 = tmp("persist_in2")
    graft.io.CsvIO.write(Seq(("2", "y")).toDF("a", "b"), in2, singleFile = true)
    val updated = reg2.updateJob(job.id, jobJson(in2, tmp("persist_out2")))
    assert(updated.id === job.id)
    intercept[NoSuchElementException] { reg2.updateJob("ghost", jobJson(in2, "z")) }

    val reg3 = new ControlPlane.JobRegistry(spark, Some(store))
    assert(reg3.getJob(job.id).get.configJson.contains("persist_in2"))
    assert(reg3.execute(job.id).status === "SUCCESS")
    // id sequence continued: the new execution id is distinct from exec1
    assert(reg3.listExecutions(jobId = Some(job.id)).map(_.id).distinct.size === 2)

    // delete removes the file: yet another restart no longer sees it
    assert(reg3.deleteJob(job.id))
    val reg4 = new ControlPlane.JobRegistry(spark, Some(store))
    assert(reg4.listJobs().isEmpty)
  }

  test("execution window: eviction, log-backed get/list, fast restart over a 10k log") {
    import spark.implicits._
    val store = Files.createDirectories(
      Paths.get("target", "test-tmp", "api", s"win-${System.nanoTime()}"))
    val in = tmp("win_in")
    graft.io.CsvIO.write(Seq(("1", "x")).toDF("a", "b"), in, singleFile = true)

    val reg1 = new ControlPlane.JobRegistry(spark, Some(store), execWindow = 3)
    val job = reg1.createJob(jobJson(in, tmp("win_out")))
    val execs = (1 to 5).map(_ => reg1.execute(job.id))
    // only the newest 3 are resident, but evicted ones still resolve (log)
    assert(reg1.getExecution(execs.head.id).map(_.id) === Some(execs.head.id))
    assert(reg1.getExecution(execs.head.id).get.status === "SUCCESS")
    // a full newest-first list reaches past the window into the log
    assert(reg1.listExecutions(limit = 10).map(_.id) === execs.map(_.id).reverse)
    // a page inside the window is served from memory (same answer)
    assert(reg1.listExecutions(limit = 2).map(_.id) === execs.map(_.id).reverse.take(2))
    assert(reg1.listExecutions(sortDesc = false, limit = 10).map(_.id) === execs.map(_.id))

    // restart: tail-only parse, but older records stay reachable
    val reg2 = new ControlPlane.JobRegistry(spark, Some(store), execWindow = 3)
    assert(reg2.getExecution(execs.head.id).map(_.id) === Some(execs.head.id))
    assert(reg2.listExecutions(limit = 10).size === 5)

    // a synthetic 10k-line history: restart stays fast (tail-only parse)
    // and both get and list still see beyond the window
    val log = store.resolve("executions.jsonl")
    val lines = (1 to 10000).map { i =>
      s"""{"id":"exec-$i","job_id":"job-synth","started_at_ms":${1000000L + i},""" +
        s""""wall_ms":1,"status":"SUCCESS","attempts":1,"lines_forwarded":{},""" +
        s""""throughput_rows_per_sec":0.0,"attempt_list":[]}"""
    }
    Files.writeString(log, lines.mkString("", "\n", "\n"))
    val t0 = System.nanoTime()
    val reg3 = new ControlPlane.JobRegistry(spark, Some(store), execWindow = 100)
    val buildMs = (System.nanoTime() - t0) / 1e6
    assert(buildMs < 5000, s"10k-log restart took ${buildMs}ms")
    assert(reg3.getExecution("exec-1").map(_.startedAtMs) === Some(1000001L))
    assert(reg3.listExecutions(jobId = Some("job-synth"), limit = 10, offset = 9000)
      .map(_.id).head === "exec-1000")
    // id sequence continued past the full history, not just the window
    assert(reg3.execute(job.id).id === "exec-10001")

    // a MEMORY-ONLY registry has no log to fall back to: the window must
    // not apply, or history would be silently destroyed
    val regMem = new ControlPlane.JobRegistry(spark, None, execWindow = 3)
    val jobM = regMem.createJob(jobJson(in, tmp("win_out_mem")))
    val memExecs = (1 to 5).map(_ => regMem.execute(jobM.id))
    assert(regMem.getExecution(memExecs.head.id).isDefined)
    assert(regMem.listExecutions(limit = 10).size === 5)
  }

  test("/schedules REST: lifecycle with pause/resume/run-now/update") {
    import spark.implicits._
    val reg = new ControlPlane.JobRegistry(spark)
    val sched = new Scheduler(reg)
    val server = ControlPlane.serve(reg, 0, Some(sched))
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val client = HttpClient.newHttpClient()
    def send(r: HttpRequest): HttpResponse[String] =
      client.send(r, HttpResponse.BodyHandlers.ofString())
    def post(url: String, body: String = ""): HttpResponse[String] =
      send(HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build())
    try {
      val in = tmp("sched_rest_in")
      graft.io.CsvIO.write(Seq(("1", "x")).toDF("a", "b"), in, singleFile = true)
      val job = reg.createJob(jobJson(in, tmp("sched_rest_out")))

      val created = post(s"$base/schedules",
        s"""{"job_id":"${job.id}","kind":"interval","arg":"3600000"}""")
      assert(created.statusCode() === 201 && created.body().contains("\"paused\":false"))
      val sid = """"id":"([^"]+)"""".r.findFirstMatchIn(created.body()).get.group(1)

      assert(send(HttpRequest.newBuilder(URI.create(s"$base/schedules")).GET().build())
        .body().contains(sid))
      assert(post(s"$base/schedules/$sid/pause").body().contains("\"paused\":true"))
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/schedules/$sid")).GET().build())
        .body().contains("\"paused\":true"))
      assert(post(s"$base/schedules/$sid/resume").body().contains("\"paused\":false"))

      // run-now fires an execution through the registry
      assert(post(s"$base/schedules/$sid/run-now").statusCode() === 200)
      val deadline = System.currentTimeMillis() + 20000
      while (reg.listExecutions(jobId = Some(job.id)).isEmpty &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(reg.listExecutions(jobId = Some(job.id)).nonEmpty)

      val put = send(HttpRequest.newBuilder(URI.create(s"$base/schedules/$sid"))
        .PUT(HttpRequest.BodyPublishers.ofString("""{"kind":"cron","arg":"0 3 * * *"}""")).build())
      assert(put.statusCode() === 200 && put.body().contains("\"kind\":\"cron\""))

      // errors: unknown id 404, bad kind 400, missing fields 400
      assert(post(s"$base/schedules/sched-ghost/pause").statusCode() === 404)
      assert(post(s"$base/schedules", s"""{"job_id":"${job.id}","kind":"warp","arg":"1"}""")
        .statusCode() === 400)
      assert(post(s"$base/schedules", """{"kind":"interval"}""").statusCode() === 400)

      assert(send(HttpRequest.newBuilder(URI.create(s"$base/schedules/$sid"))
        .DELETE().build()).statusCode() === 204)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/schedules/$sid")).GET().build())
        .statusCode() === 404)
    } finally { ControlPlane.stop(server); sched.shutdown() }
  }

  test("explain: per-sink formatted plans, pushdown visible, nothing executed") {
    import spark.implicits._
    val reg = new ControlPlane.JobRegistry(spark)
    val in = tmp("explain_in")
    Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("id", "s", "v")
      .write.mode("overwrite").parquet(in)
    val schema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "s", "data_type": "string" },
        |  { "name": "v", "data_type": "integer" } ] }""".stripMargin
    val outPath = tmp("explain_out_never_written")
    val job = reg.createJob(
      s"""{ "name": "explainjob", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $schema } },
         |  { "name": "f", "comp_type": "filter",
         |    "rule": { "column": "v", "operator": ">", "value": 15 },
         |    "in_port_schemas": { "in": $schema },
         |    "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "pass": $schema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$outPath",
         |    "in_port_schemas": { "in": $schema } } ] }""".stripMargin)
    val plans = reg.explain(job.id)
    assert(plans.map(_._1) === Seq("w"))
    val plan = plans.head._2
    // the whole point: the pre-flight shows the filter reached the scan
    assert(plan.contains("PushedFilters") && plan.contains("v"), plan)
    assert(plan.contains("Physical Plan"), plan)
    assert(!Files.exists(Paths.get(outPath)), "explain must not run the sink")
    intercept[NoSuchElementException] { reg.explain("ghost") }
    // CLI face: same plans, human-readable framing
    val sb = new StringBuilder
    val rc = Cli.run(Seq("jobs", "explain", job.id), reg,
      sys.error("scheduler must not be touched"), s => { sb.append(s); () })
    assert(rc === 0)
    assert(sb.toString.contains("== sink: w ==") &&
      sb.toString.contains("PushedFilters"))
    assert(Cli.run(Seq("jobs", "explain", "ghost"), reg,
      sys.error("scheduler must not be touched"), _ => ()) === 1)
  }

  test("REST: POST /jobs with a streaming-only comp_type is a 400, not a failed run") {
    val reg = new ControlPlane.JobRegistry(spark)
    val server = ControlPlane.serve(reg)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val nSchema = """{ "fields": [ { "name": "n", "data_type": "integer" } ] }"""
    val job =
      s"""{ "name": "streamonly", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "${tmp("so_in")}",
         |    "routes": { "out": [ { "to": "sa", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "sa", "comp_type": "streaming_aggregation",
         |    "time_column": "a", "watermark": "1 hour", "window": "1 hour",
         |    "aggregations": [ { "src": "*", "op": "count", "dest": "n" } ],
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $nSchema } },
         |  { "name": "w", "comp_type": "write_csv", "filepath": "${tmp("so_out")}",
         |    "in_port_schemas": { "in": $nSchema } } ] }""".stripMargin
    try {
      val res = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"$base/jobs"))
          .POST(HttpRequest.BodyPublishers.ofString(job)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() === 400)
      assert(res.body().contains("streaming_aggregation"))
      assert(reg.listJobs().isEmpty)
    } finally ControlPlane.stop(server)
  }

  test("REST surface: POST/GET/DELETE /jobs, POST /execution, GET /executions") {
    import spark.implicits._
    val reg = new ControlPlane.JobRegistry(spark)
    val server = ControlPlane.serve(reg)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val client = HttpClient.newHttpClient()
    def send(r: HttpRequest): HttpResponse[String] =
      client.send(r, HttpResponse.BodyHandlers.ofString())
    try {
      val in = tmp("rest_in")
      graft.io.CsvIO.write(Seq(("1", "x")).toDF("a", "b"), in, singleFile = true)
      val post = send(HttpRequest.newBuilder(URI.create(s"$base/jobs"))
        .POST(HttpRequest.BodyPublishers.ofString(jobJson(in, tmp("rest_out")))).build())
      assert(post.statusCode() === 201)
      val jobId = """"id":"([^"]+)"""".r.findFirstMatchIn(post.body()).get.group(1)

      assert(send(HttpRequest.newBuilder(URI.create(s"$base/jobs")).GET().build())
        .body().contains(jobId))
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/jobs/$jobId")).GET().build())
        .body().contains("apijob"))

      val exec = send(HttpRequest.newBuilder(URI.create(s"$base/execution/$jobId"))
        .POST(HttpRequest.BodyPublishers.noBody()).build())
      assert(exec.statusCode() === 201)
      assert(exec.body().contains("\"status\":\"SUCCESS\""))

      val list = send(HttpRequest.newBuilder(
        URI.create(s"$base/execution?job_id=$jobId&status=SUCCESS")).GET().build())
      assert(list.statusCode() === 200 && list.body().contains(jobId))

      // bad config → 400; unknown job → 404
      val bad = send(HttpRequest.newBuilder(URI.create(s"$base/jobs"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"name":"x"}""")).build())
      assert(bad.statusCode() === 400)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/execution/ghost"))
        .POST(HttpRequest.BodyPublishers.noBody()).build()).statusCode() === 404)

      // PUT update-with-revalidation: bad body 400, good body 200 same id
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/jobs/$jobId"))
        .PUT(HttpRequest.BodyPublishers.ofString("""{"name":"x"}""")).build())
        .statusCode() === 400)
      val put = send(HttpRequest.newBuilder(URI.create(s"$base/jobs/$jobId"))
        .PUT(HttpRequest.BodyPublishers.ofString(jobJson(in, tmp("rest_out2")))).build())
      assert(put.statusCode() === 200 && put.body().contains(jobId))

      // dry-run explain: JSON with one formatted plan per sink
      val explain = send(HttpRequest.newBuilder(
        URI.create(s"$base/jobs/$jobId/explain")).GET().build())
      assert(explain.statusCode() === 200)
      assert(explain.body().contains(""""job_id"""") &&
        explain.body().contains("Physical Plan"), explain.body().take(300))
      assert(send(HttpRequest.newBuilder(
        URI.create(s"$base/jobs/ghost/explain")).GET().build())
        .statusCode() === 404)

      // contexts surface: credentials → mapping → list/get → delete
      graft.runtime.Contexts.reset()
      val mkCred = send(HttpRequest.newBuilder(URI.create(s"$base/contexts/credentials"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"id":"rest-cred","user":"u","host":"h","port":1,
            |"database":"d","password":"sssh"}""".stripMargin)).build())
      assert(mkCred.statusCode() === 201 && mkCred.body().contains("rest-cred"))
      // mapping referencing an unknown id → 400 (reference parity)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/contexts/mapping"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name":"m","credentials_ids":{"DEV":"ghost"}}""")).build())
        .statusCode() === 400)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/contexts/mapping"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name":"rest-ctx","credentials_ids":{"DEV":"rest-cred"}}""")).build())
        .statusCode() === 201)
      val provList = send(HttpRequest.newBuilder(URI.create(s"$base/contexts")).GET().build())
      assert(provList.body().contains("rest-ctx") && provList.body().contains("rest-cred"))
      val getCred = send(HttpRequest.newBuilder(
        URI.create(s"$base/contexts/rest-cred")).GET().build())
      assert(getCred.statusCode() === 200 && !getCred.body().contains("sssh"))
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/contexts/rest-ctx"))
        .DELETE().build()).statusCode() === 204)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/contexts/rest-ctx"))
        .GET().build()).statusCode() === 404)
      graft.runtime.Contexts.reset()

      // schemas discovery
      val schemas = send(HttpRequest.newBuilder(URI.create(s"$base/schemas")).GET().build())
      assert(schemas.statusCode() === 200)
      ComponentSchemas.compTypes.foreach(t => assert(schemas.body().contains(t)))
      val one = send(HttpRequest.newBuilder(URI.create(s"$base/schemas/filter")).GET().build())
      assert(one.statusCode() === 200 && one.body().contains("\"rule\""))
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/schemas/nope")).GET().build())
        .statusCode() === 404)
      // reference discovery routes (schemas.py:362-479): job schema with
      // $defs, bare type list, per-type form/full/hidden views
      val jobSchema = send(HttpRequest.newBuilder(URI.create(s"$base/schemas/job")).GET().build())
      assert(jobSchema.statusCode() === 200 && jobSchema.body().contains("$defs"))
      val types = send(HttpRequest.newBuilder(
        URI.create(s"$base/schemas/component_types")).GET().build())
      assert(types.statusCode() === 200 && types.body().contains("\"filter\""))
      assert(send(HttpRequest.newBuilder(
        URI.create(s"$base/schemas/filter/form")).GET().build()).body().contains("\"rule\""))
      val fullV = send(HttpRequest.newBuilder(
        URI.create(s"$base/schemas/filter/full")).GET().build())
      assert(fullV.body().contains("\"ports\"") && fullV.body().contains("\"routes\""))
      val hiddenV = send(HttpRequest.newBuilder(
        URI.create(s"$base/schemas/filter/hidden")).GET().build())
      assert(hiddenV.body().contains("\"routes\"") && !hiddenV.body().contains("\"rule\""))
      assert(send(HttpRequest.newBuilder(
        URI.create(s"$base/schemas/nope/full")).GET().build()).statusCode() === 404)

      // GUI setup key check (setup.py:15-31)
      assert(send(HttpRequest.newBuilder(
        URI.create(s"$base/setup?key=VALID_KEY")).GET().build()).body() === "true")
      assert(send(HttpRequest.newBuilder(
        URI.create(s"$base/setup?key=wrong")).GET().build()).body() === "false")
      assert(send(HttpRequest.newBuilder(
        URI.create(s"$base/setup")).GET().build()).body() === "false")

      // plain context provider (contexts.py:106-154): secure values are
      // stored but never echoed; list/get show kind/name/environment
      graft.runtime.Contexts.reset()
      val mkCtx = send(HttpRequest.newBuilder(URI.create(s"$base/contexts/context"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"id":"rest-plain","name":"api-ctx","environment":"TEST",
            |"parameters":[{"key":"endpoint","value":"https://x","is_secure":false},
            |{"key":"api_key","value":"sssh-key","is_secure":true}]}""".stripMargin)).build())
      assert(mkCtx.statusCode() === 201 &&
        mkCtx.body().contains("\"parameters_registered\":1") &&
        !mkCtx.body().contains("sssh-key"))
      // dict-form parameters are accepted too (context.py:36-57)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/contexts/context"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name":"dict-ctx","environment":"DEV",
            |"parameters":{"k":{"value":"v"}}}""".stripMargin)).build())
        .statusCode() === 201)
      val ctxList = send(HttpRequest.newBuilder(URI.create(s"$base/contexts")).GET().build())
      assert(ctxList.body().contains("rest-plain") &&
        ctxList.body().contains("\"environment\":\"TEST\""))
      val getCtx = send(HttpRequest.newBuilder(
        URI.create(s"$base/contexts/rest-plain")).GET().build())
      assert(getCtx.statusCode() === 200 && getCtx.body().contains("https://x") &&
        getCtx.body().contains("api_key") && !getCtx.body().contains("sssh-key"))
      // reference route name for the mapping context is accepted
      assert(send(HttpRequest.newBuilder(
        URI.create(s"$base/contexts/credentials-mapping-context"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name":"m2","credentials_ids":{}}""")).build()).statusCode() === 201)
      // provider ids are one namespace: re-POSTing an existing id (or an
      // id colliding with a mapping context) is rejected, not overwritten
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/contexts/context"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"id":"rest-plain","name":"dupe","environment":"DEV"}""")).build())
        .statusCode() === 400)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/contexts/context"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"id":"m2","name":"shadow","environment":"DEV"}""")).build())
        .statusCode() === 400)
      // ... in BOTH remaining directions: credentials and mapping creates
      // must also refuse an id already held by a plain context (otherwise
      // the plain context is shadowed on GET and co-deleted on DELETE)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/contexts/credentials"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"id":"rest-plain","user":"u","host":"h","port":1,"database":"d"}"""))
        .build()).statusCode() === 400)
      assert(send(HttpRequest.newBuilder(
        URI.create(s"$base/contexts/credentials-mapping-context"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name":"rest-plain","credentials_ids":{}}""")).build())
        .statusCode() === 400)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/contexts/rest-plain"))
        .DELETE().build()).statusCode() === 204)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/contexts/rest-plain"))
        .GET().build()).statusCode() === 404)
      graft.runtime.Contexts.reset()

      assert(send(HttpRequest.newBuilder(URI.create(s"$base/jobs/$jobId"))
        .DELETE().build()).statusCode() === 204)
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/jobs/$jobId")).GET().build())
        .statusCode() === 404)
    } finally ControlPlane.stop(server)
  }

  test("new training-data components execute through the registry end-to-end") {
    import spark.implicits._
    val reg = new ControlPlane.JobRegistry(spark)
    val in = tmp("td_docs")
    Seq((1L, "alpha beta gamma delta", "en", 22L),
        (2L, "alpha beta gamma", "en", 16L),
        (3L, "zeta eta theta iota", "de", 19L),
        (4L, "alpha beta gamma delta epsilon", "de", 29L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(in)
    val docSchema =
      """{ "fields": [
        |  { "name": "doc_id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" },
        |  { "name": "lang", "data_type": "string" },
        |  { "name": "n_chars", "data_type": "integer" } ] }""".stripMargin
    val out = tmp("td_out")
    // read → split corpus/benchmark → decontaminate(clean) →
    // budget_sample per lang → write: the full curation chain as ONE
    // REST-registered job
    val cfg =
      s"""{ "name": "curation", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "corp", "in_port": "in" },
         |                         { "to": "bench", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "corp", "comp_type": "sql",
         |    "query": "SELECT * FROM corp_in WHERE doc_id <> 1",
         |    "in_port_schemas": { "in": $docSchema },
         |    "routes": { "out": [ { "to": "dc", "in_port": "corpus" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "bench", "comp_type": "sql",
         |    "query": "SELECT * FROM bench_in WHERE doc_id = 1",
         |    "in_port_schemas": { "in": $docSchema },
         |    "routes": { "out": [ { "to": "dc", "in_port": "benchmark" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "dc", "comp_type": "decontaminate", "emit": "clean",
         |    "ngram_n": 3, "min_overlap": 1,
         |    "in_port_schemas": { "corpus": $docSchema,
         |                         "benchmark": $docSchema },
         |    "routes": { "out": [ { "to": "bs", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "bs", "comp_type": "budget_sample", "id_column": "doc_id",
         |    "cost_column": "n_chars", "budget": 1000, "by": ["lang"],
         |    "in_port_schemas": { "in": $docSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $docSchema } } ] }""".stripMargin
    val job = reg.createJob(cfg)
    assert(reg.execute(job.id).status === "SUCCESS")
    // docs 2 and 4 share >= 1 trigram with bench doc 1 → dropped;
    // doc 3 is clean and fits the budget
    val ids = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(3L))
  }

  test("POST /execution: 503 at saturation; stop() shuts the request pool down") {
    import spark.implicits._
    val reg = new ControlPlane.JobRegistry(spark)
    val in = tmp("sat_in")
    graft.io.CsvIO.write(Seq(("1", "x")).toDF("a", "b"), in, singleFile = true)
    val job = reg.createJob(jobJson(in, tmp("sat_out")))
    // zero execution permits = a permanently saturated gate, so the 503
    // contract is pinned deterministically instead of racing real jobs
    val server = ControlPlane.serve(reg, 0, None, maxConcurrentExecutions = 0)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val client = HttpClient.newHttpClient()
    def send(r: HttpRequest): HttpResponse[String] =
      client.send(r, HttpResponse.BodyHandlers.ofString())
    try {
      val r = send(HttpRequest.newBuilder(URI.create(s"$base/execution/${job.id}"))
        .POST(HttpRequest.BodyPublishers.ofString("")).build())
      assert(r.statusCode() === 503)
      assert(r.body().contains("saturated"))
      // no execution record was minted for the rejected request
      assert(reg.listExecutions(jobId = Some(job.id)).isEmpty)
      // metadata routes keep answering while the execution gate is full
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/jobs")).GET().build())
        .statusCode() === 200)
    } finally ControlPlane.stop(server)
    // the fix under test: HttpServer.stop alone leaks the pool threads
    assert(server.getExecutor
      .asInstanceOf[java.util.concurrent.ExecutorService].isShutdown)
  }
}
