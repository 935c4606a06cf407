package graft.api

import graft.SparkTestBase
import java.nio.file.{Files, Paths}

/** Drives Cli.run the way the reference's tests/api/cli suite drives the
  * Typer app: in-process, asserting output text and exit codes. */
class CliSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val p = Paths.get("target", "test-tmp", "cli", name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  private def jobFile(name: String, in: String, out: String): String = {
    val cfg =
      s"""{ "name": "clijob", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": { "fields": [
         |      { "name": "a", "data_type": "string" } ] } } },
         |  { "name": "w", "comp_type": "write_csv", "filepath": "$out",
         |    "in_port_schemas": { "in": { "fields": [
         |      { "name": "a", "data_type": "string" } ] } } } ] }""".stripMargin
    val p = tmp(name)
    Files.writeString(Paths.get(p), cfg)
    p
  }

  test("jobs/execution/schedules/schemas command flow with reference exit codes") {
    import spark.implicits._
    val reg = new ControlPlane.JobRegistry(spark)
    val sched = new Scheduler(reg)
    val out = collection.mutable.Buffer[String]()
    def run(args: String*): Int = { out.clear(); Cli.run(args, reg, sched, out += _) }
    def output: String = out.mkString("\n")

    try {
      val in = tmp("data_in")
      graft.io.CsvIO.write(Seq("1").toDF("a"), in, singleFile = true)
      val cfgPath = jobFile("job.json", in, tmp("data_out"))

      assert(run("jobs", "create", cfgPath) === 0)
      assert(output.startsWith("Created job "))
      val jobId = output.stripPrefix("Created job ").trim

      assert(run("jobs", "list") === 0 && output.contains(jobId))
      assert(run("jobs", "get", jobId) === 0 && output.contains("clijob"))
      assert(run("jobs", "get", "ghost") === 1)

      val cfg2 = jobFile("job2.json", in, tmp("data_out2"))
      assert(run("jobs", "update", jobId, cfg2) === 0 && output === s"Updated job $jobId")
      assert(run("jobs", "update", "ghost", cfg2) === 1)

      assert(run("execution", "start", jobId) === 0)
      assert(output.contains("\"status\":\"SUCCESS\""))
      val execId = """"id":"([^"]+)"""".r.findFirstMatchIn(output).get.group(1)
      assert(run("execution", "start", jobId, "--environment", "TEST") === 0)
      assert(output.contains("\"environment\":\"TEST\"")) // recorded on the execution
      assert(run("execution", "start", jobId, "--environment", "WARP") === 2) // bad env name
      assert(run("execution", "start", jobId, "--environment") === 2) // flag without value
      assert(output.contains("needs a value"))
      assert(run("execution", "get", execId) === 0 && output.contains(jobId))
      assert(output.contains("\"attempts\":[{\"index\":1")) // reference get shape
      assert(output.contains("\"metrics_complete\":true"))
      assert(run("execution", "attempts", execId) === 0)
      assert(output.contains("\"status\":\"SUCCESS\"") && output.startsWith("["))
      assert(run("execution", "get", "ghost") === 1)
      assert(run("execution", "list", "--job-id", jobId) === 0)
      assert(output.startsWith("""{"data":[""") && output.contains(execId))
      assert(run("execution", "start", "ghost") === 1)

      assert(run("schedules", "create", "--job", jobId,
        "--trigger", "cron", "--arg", "0 3 * * *") === 0)
      val schedId = output.trim
      assert(run("schedules", "list") === 0 && output.contains(schedId))
      assert(run("schedules", "cancel", schedId) === 0)
      assert(run("schedules", "cancel", schedId) === 1)
      assert(run("schedules", "create", "--job", jobId,
        "--trigger", "warp", "--arg", "1") === 2)

      graft.runtime.Contexts.reset()
      val credPath = tmp("creds.json")
      Files.writeString(Paths.get(credPath),
        """{"id":"cli-cred","user":"u","host":"h","port":1,
          |"database":"d","password_env":"CLI_PW"}""".stripMargin)
      assert(run("contexts", "create-credentials", credPath) === 0)
      assert(output.contains("cli-cred") && output.contains("credentials"))
      val mapPath = tmp("mapping.json")
      Files.writeString(Paths.get(mapPath),
        """{"name":"cli-ctx","credentials_ids":{"DEV":"cli-cred"},"default_env":"DEV"}""")
      assert(run("contexts", "create-context-mapping", mapPath) === 0)
      assert(run("contexts", "list") === 0 &&
        output.contains("cli-ctx") && output.contains("cli-cred"))
      assert(run("contexts", "get", "cli-ctx") === 0 && output.contains("DEV"))
      assert(run("contexts", "get", "cli-cred") === 0 && !output.contains("password\""))
      assert(run("contexts", "get", "nope") === 1)
      assert(run("contexts", "delete", "cli-ctx") === 0)
      assert(run("contexts", "delete", "cli-ctx") === 1)
      // plain context provider (docs/cli.md:77-79 create-context): secure
      // value registered but never echoed
      val ctxPath = tmp("plainctx.json")
      Files.writeString(Paths.get(ctxPath),
        """{"id":"cli-plain","name":"cli-plain-ctx","environment":"PROD",
          |"parameters":[{"key":"token","value":"hushhush","is_secure":true},
          |{"key":"url","value":"https://api","is_secure":false}]}""".stripMargin)
      assert(run("contexts", "create-context", ctxPath) === 0)
      assert(output.contains("\"parameters_registered\":1") &&
        !output.contains("hushhush"))
      assert(run("contexts", "get", "cli-plain") === 0 &&
        output.contains("https://api") && !output.contains("hushhush"))
      assert(run("contexts", "delete", "cli-plain") === 0)
      graft.runtime.Contexts.reset()

      assert(run("schemas", "list") === 0 && output.contains("read_mongodb"))
      assert(run("schemas", "get", "dedup") === 0 && output.contains("minhash"))
      assert(run("schemas", "get", "nope") === 1)

      assert(run("jobs", "delete", jobId) === 0)
      assert(run("jobs", "delete", jobId) === 1)

      assert(run("bogus") === 2 && output.contains("usage:"))
    } finally sched.shutdown()
  }
}
