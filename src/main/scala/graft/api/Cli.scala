package graft.api

import org.apache.spark.sql.SparkSession
import graft.util.JsonStr.quote
import java.nio.file.{Files, Paths}

/**
 * Command-line surface over the control plane, mirroring the reference's
 * `etl` CLI (reference: docs/cli.md:1-140, src/etl_core/api/cli/cli_app.py,
 * commands/{jobs,execution,schedules}.py):
 *
 *   graft jobs create PATH | get ID | update ID PATH | delete ID | list
 *   graft execution start JOB_ID | get EXEC_ID |
 *         list [--job-id X] [--status S] [--order asc|desc]
 *              [--limit N] [--offset N]
 *   graft schedules create --job JOB_ID --trigger interval|date|cron
 *         --arg MILLIS_OR_CRON_EXPR | list | cancel ID
 *   graft schemas list | get COMP_TYPE
 *   graft serve [--port N]
 *
 * State lives under GRAFT_HOME (default ./.graft): jobs as JSON files,
 * executions and schedules as JSONL — so separate CLI invocations (and a
 * later `serve`) see the same jobs, like the reference's DB-backed CLI.
 * Exit codes follow the reference: 1 = resource not found, 2 = usage.
 *
 * The dispatch core is `run(...)`, side-effect-free except through the
 * passed registry/scheduler — specs drive it exactly like the reference's
 * tests/api/cli suite drives the Typer app.
 */
object Cli {

  private val usage: String =
    """usage: graft <group> <command> [args]
      |  jobs create PATH | get ID | update ID PATH | delete ID | list | explain ID
      |  execution start JOB_ID [--environment ENV] | get EXEC_ID | attempts EXEC_ID
      |            | list [--job-id X] [--status S]
      |            [--order asc|desc] [--limit N] [--offset N]
      |  schedules create --job JOB_ID --trigger interval|date|cron --arg VALUE
      |            | list | pause ID | resume ID | run-now ID | cancel ID
      |  contexts create-context PATH | create-credentials PATH
      |           | create-context-mapping PATH | list | get ID | delete ID
      |  schemas list | get COMP_TYPE
      |  serve [--port N]""".stripMargin

  /** Strict --flag VALUE parser: a flag without a value or a stray
    * positional token is a usage error (IllegalArgumentException → exit
    * 2), never a silently-dropped option. */
  private def flags(args: Seq[String]): Map[String, String] = {
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case k :: v :: tail if k.startsWith("--") && !v.startsWith("--") =>
          go(tail, acc + (k.stripPrefix("--") -> v))
        case k :: _ if k.startsWith("--") =>
          throw new IllegalArgumentException(s"flag $k needs a value")
        case other :: _ =>
          throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    go(args.toList, Map.empty)
  }

  private def jobJson(j: ControlPlane.JobRecord): String =
    s"""{"id":${quote(j.id)},"name":${quote(j.name)}}"""
  /** Dispatch one command; returns the process exit code and prints
    * through `out` (stdout seam for specs). */
  def run(args: Seq[String], registry: ControlPlane.JobRegistry,
          scheduler: => Scheduler, out: String => Unit): Int =
    try args.toList match {
      case "jobs" :: "create" :: path :: Nil =>
        val rec = registry.createJob(Files.readString(Paths.get(path)))
        out(s"Created job ${rec.id}"); 0
      case "jobs" :: "get" :: id :: Nil =>
        registry.getJob(id) match {
          case Some(j) =>
            out(s"""{"id":${quote(j.id)},"name":${quote(j.name)},"config":${j.configJson}}"""); 0
          case None => out(s"Job $id not found"); 1
        }
      case "jobs" :: "update" :: id :: path :: Nil =>
        registry.updateJob(id, Files.readString(Paths.get(path)))
        out(s"Updated job $id"); 0
      case "jobs" :: "delete" :: id :: Nil =>
        if (registry.deleteJob(id)) { out(s"Deleted job $id"); 0 }
        else { out(s"Job $id not found"); 1 }
      case "jobs" :: "list" :: Nil =>
        out(registry.listJobs().map(jobJson).mkString("[", ",", "]")); 0
      // dry-run pre-flight: per-sink formatted physical plans, nothing
      // executed (human-readable here; the REST face returns JSON)
      case "jobs" :: "explain" :: id :: Nil =>
        registry.getJob(id) match {
          case Some(_) =>
            registry.explain(id).foreach { case (sink, plan) =>
              out(s"== sink: $sink ==\n$plan")
            }; 0
          case None => out(s"Job $id not found"); 1
        }

      case "execution" :: "start" :: jobId :: rest =>
        out(ControlPlane.execJson(
          registry.execute(jobId, flags(rest).get("environment")))); 0
      case "execution" :: "get" :: execId :: Nil =>
        registry.getExecution(execId) match {
          case Some(e) => out(s"""{"execution":${ControlPlane.execJson(e)},""" +
            s""""attempts":${ControlPlane.attemptsJson(e)},""" +
            s""""metrics":${ControlPlane.metricsJson(e)}}"""); 0
          case None    => out(s"Execution $execId not found"); 1
        }
      case "execution" :: "attempts" :: execId :: Nil =>
        registry.getExecution(execId) match {
          case Some(e) => out(ControlPlane.attemptsJson(e)); 0
          case None    => out(s"Execution $execId not found"); 1
        }
      case "execution" :: "list" :: rest =>
        val f = flags(rest)
        val xs = registry.listExecutions(
          jobId = f.get("job-id"), status = f.get("status"),
          sortDesc = !f.get("order").contains("asc"),
          offset = f.get("offset").map(_.toInt).getOrElse(0),
          limit = f.get("limit").map(_.toInt).getOrElse(50))
        out(xs.map(ControlPlane.execJson).mkString("""{"data":[""", ",", "]}")); 0

      case "schedules" :: "create" :: rest =>
        val f = flags(rest)
        val jobId = f.getOrElse("job", { out("--job is required"); return 2 })
        val arg = f.getOrElse("arg", { out("--arg is required"); return 2 })
        val s = f.getOrElse("trigger", "interval") match {
          case "interval" => scheduler.scheduleInterval(jobId, arg.toLong)
          case "date"     => scheduler.scheduleOnce(jobId, arg.toLong)
          case "cron"     => scheduler.scheduleCron(jobId, arg)
          case other      => out(s"unknown trigger: $other"); return 2
        }
        out(s.id); 0
      case "schedules" :: "list" :: Nil =>
        scheduler.list().foreach(s =>
          out(s"${s.id}\t${s.jobId}\t${s.kind}\t${s.arg}" +
            (if (s.paused) "\tPAUSED" else ""))); 0
      case "schedules" :: "pause" :: id :: Nil =>
        if (scheduler.pause(id)) { out(s"Paused $id"); 0 }
        else { out(s"Schedule $id not found"); 1 }
      case "schedules" :: "resume" :: id :: Nil =>
        if (scheduler.resume(id)) { out(s"Resumed $id"); 0 }
        else { out(s"Schedule $id not found"); 1 }
      case "schedules" :: "run-now" :: id :: Nil =>
        if (scheduler.runNow(id)) { out(s"Fired $id"); 0 }
        else { out(s"Schedule $id not found"); 1 }
      case "schedules" :: "cancel" :: id :: Nil =>
        if (scheduler.cancel(id)) { out(s"Cancelled $id"); 0 }
        else { out(s"Schedule $id not found"); 1 }

      case "contexts" :: "create-context" :: path :: Nil =>
        out(ContextsApi.createContext(Files.readString(Paths.get(path)))); 0
      case "contexts" :: "create-credentials" :: path :: Nil =>
        out(ContextsApi.createCredentials(Files.readString(Paths.get(path)))); 0
      case "contexts" :: "create-context-mapping" :: path :: Nil =>
        out(ContextsApi.createMapping(Files.readString(Paths.get(path)))); 0
      case "contexts" :: "list" :: Nil =>
        out(ContextsApi.listJson); 0
      case "contexts" :: "get" :: id :: Nil =>
        ContextsApi.getJson(id) match {
          case Some(j) => out(j); 0
          case None    => out(s"Provider $id not found"); 1
        }
      case "contexts" :: "delete" :: id :: Nil =>
        if (ContextsApi.delete(id)) { out(s"Deleted $id"); 0 }
        else { out(s"Provider $id not found"); 1 }

      case "schemas" :: "list" :: Nil =>
        out(ComponentSchemas.listJson); 0
      case "schemas" :: "get" :: tpe :: Nil =>
        ComponentSchemas.schemaJson(tpe) match {
          case Some(j) => out(j); 0
          case None    => out(s"Unknown comp_type $tpe"); 1
        }

      case _ => out(usage); 2
    } catch {
      case e: NoSuchElementException => out(String.valueOf(e.getMessage)); 1
      case e: Exception => out(s"error: ${e.getClass.getSimpleName}: ${e.getMessage}"); 2
    }

  def main(args: Array[String]): Unit = {
    val home = Paths.get(sys.env.getOrElse("GRAFT_HOME", ".graft"))
    Files.createDirectories(home)
    graft.runtime.Contexts.bind(home) // replay + write-through credentials
    // Spark is by-name into the registry: only execute/serve force it
    def spark: SparkSession = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft").getOrCreate()
    val registry = new ControlPlane.JobRegistry(spark, Some(home))
    lazy val scheduler = new Scheduler(registry, Some(home))

    args.toList match {
      case "serve" :: rest =>
        val port = flags(rest).get("port").map(_.toInt).getOrElse(8080)
        val server = ControlPlane.serve(registry, port, Some(scheduler))
        scheduler // force: re-arms persisted schedules alongside the API
        println(s"graft API listening on 127.0.0.1:${server.getAddress.getPort} (ctrl-c to stop)")
        Thread.currentThread().join()
      case other =>
        val code = run(other, registry, scheduler, println)
        // a scheduled trigger only outlives the process via `serve`; plain
        // CLI exits after mutating the persisted schedule log
        sys.exit(code)
    }
  }
}
