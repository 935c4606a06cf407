package graft.runtime

import graft.SparkTestBase
import graft.config.JobConfig
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

class JobRunnerSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val p = Paths.get("target", "test-tmp", "runner", name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  private val abSchema =
    """{ "fields": [
      |  { "name": "a", "data_type": "string" },
      |  { "name": "b", "data_type": "string" } ] }""".stripMargin

  private def jobJson(in: String, out: String, retries: Int = 0) =
    s"""{
       |  "name": "t", "num_of_retries": $retries,
       |  "components": [
       |    { "name": "r", "comp_type": "read_csv", "filepath": "$in",
       |      "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
       |      "out_port_schemas": { "out": $abSchema } },
       |    { "name": "f", "comp_type": "filter",
       |      "rule": { "column": "b", "operator": "!=", "value": "drop" },
       |      "in_port_schemas": { "in": $abSchema },
       |      "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
       |      "out_port_schemas": { "pass": $abSchema } },
       |    { "name": "w", "comp_type": "write_csv", "filepath": "$out",
       |      "in_port_schemas": { "in": $abSchema } }
       |  ]
       |}""".stripMargin

  test("run succeeds and reports per-component lines_forwarded + throughput") {
    import spark.implicits._
    val in = tmp("in_ok")
    graft.io.CsvIO.write(
      Seq(("1", "x"), ("2", "drop"), ("3", "y")).toDF("a", "b"), in, singleFile = true)
    val res = JobRunner.run(spark, JobConfig.parse(jobJson(in, tmp("out_ok"))))
    assert(res.succeeded)
    assert(res.attempts === 1)
    assert(res.linesForwarded.get("r.out") === Some(3L))
    assert(res.linesForwarded.get("f.pass") === Some(2L))
    assert(res.throughputRowsPerSec > 0)
    // metrics parity (component_metrics.py): received on every consumed
    // edge, filter's dismissed = received - pass (fail port unrouted here),
    // and the three reconcile
    assert(res.linesReceived.get("f.in") === Some(3L))
    assert(res.linesReceived.get("w.in") === Some(2L))
    assert(res.linesDismissed.get("f") === Some(1L))
    assert(res.linesReceived("f.in") ===
      res.linesForwarded("f.pass") + res.linesDismissed("f"))
  }

  test("concurrent runs on the shared session do not cross-contaminate metrics") {
    // both jobs use the SAME component names (r/f/w) — the listener bus
    // is session-global, so without the per-run observe tag each run's
    // listener would absorb the other's counts (merge via max + foreign
    // keys), inflating both records
    import spark.implicits._
    val inA = tmp("in_conc_a"); val inB = tmp("in_conc_b")
    graft.io.CsvIO.write(
      Seq(("1", "x"), ("2", "drop"), ("3", "y")).toDF("a", "b"), inA, singleFile = true)
    graft.io.CsvIO.write(
      (1 to 9).map(i => (i.toString, "keep")).toDF("a", "b"), inB, singleFile = true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() =>
        JobRunner.run(spark, JobConfig.parse(jobJson(inA, tmp("out_conc_a")))))
      val fb = pool.submit(() =>
        JobRunner.run(spark, JobConfig.parse(jobJson(inB, tmp("out_conc_b")))))
      val (ra, rb) = (fa.get(), fb.get())
      assert(ra.succeeded && rb.succeeded)
      assert(ra.linesForwarded.get("r.out") === Some(3L))
      assert(ra.linesForwarded.get("f.pass") === Some(2L))
      assert(rb.linesForwarded.get("r.out") === Some(9L))
      assert(rb.linesForwarded.get("f.pass") === Some(9L))
      assert(ra.linesReceived.get("f.in") === Some(3L))
      assert(rb.linesReceived.get("f.in") === Some(9L))
    } finally pool.shutdown()
  }

  /** read → filter with both ports routed to their own csv sink, over 3
    * rows of which 2 fail the rule: two sink actions per run. */
  private def twoSinkJob(key: String): JobConfig.JobSpec = {
    import spark.implicits._
    val in = tmp(s"in_$key")
    graft.io.CsvIO.write(
      Seq(("1", "x"), ("2", "drop"), ("3", "drop")).toDF("a", "b"), in, singleFile = true)
    JobConfig.parse(
      s"""{ "name": "t2", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "f", "comp_type": "filter",
         |    "rule": { "column": "b", "operator": "!=", "value": "drop" },
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "pass": [ { "to": "w", "in_port": "in" } ],
         |                "fail": [ { "to": "wf", "in_port": "in" } ] },
         |    "out_port_schemas": { "pass": $abSchema, "fail": $abSchema } },
         |  { "name": "w", "comp_type": "write_csv",
         |    "filepath": "${tmp(s"out_pass_$key")}",
         |    "in_port_schemas": { "in": $abSchema } },
         |  { "name": "wf", "comp_type": "write_csv",
         |    "filepath": "${tmp(s"out_fail_rows_$key")}",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin)
  }

  test("dismissed uses the measured fail-port count when that branch runs") {
    val res = JobRunner.run(spark, twoSinkJob("fail_port"))
    assert(res.succeeded)
    assert(res.linesDismissed.get("f") === Some(2L))
    assert(res.linesReceived.get("f.in") === Some(3L))
    assert(res.linesForwarded.get("f.fail") === Some(2L))
  }

  /** Adds `l` to the session's shared listener queue — the queue that
    * also carries the QueryExecutionListener's events — for `body`. */
  private def withSharedQueueListener[A](l: SparkListener)(body: => A): A = {
    spark.sparkContext.addSparkListener(l)
    try body finally spark.sparkContext.removeSparkListener(l)
  }

  test("a slow listener on the shared queue delays no count out of the record") {
    // 300 ms per SQL execution end holds the second sink's end event on
    // the queue well after the sink has returned: a harvest that waits a
    // fixed time instead of for the queue misses that sink's counts
    val slow = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case _: SparkListenerSQLExecutionEnd => Thread.sleep(300)
        case _ => ()
      }
    }
    val res = withSharedQueueListener(slow)(JobRunner.run(spark, twoSinkJob("slow_queue")))
    assert(res.succeeded && res.metricsComplete)
    assert(res.linesForwarded.get("f.fail") === Some(2L))
    assert(res.linesForwarded.get("f.pass") === Some(1L))
    assert(res.linesReceived.get("w.in") === Some(1L))
    assert(res.linesReceived.get("wf.in") === Some(2L))
  }

  test("metrics are marked incomplete when the queue misses the 5 s deadline") {
    // the listener holds the shared queue until run has returned, so the
    // end-of-run marker cannot be delivered in time
    val release = new CountDownLatch(1)
    val blocking = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case _: SparkListenerSQLExecutionEnd => release.await(60, TimeUnit.SECONDS)
        case _ => ()
      }
    }
    val res = withSharedQueueListener(blocking) {
      try JobRunner.run(spark, twoSinkJob("blocked_queue"))
      finally release.countDown()
    }
    assert(res.succeeded)
    assert(!res.metricsComplete)
  }

  test("retry loop: missing input exhausts attempts, reports last error") {
    val res = JobRunner.run(spark,
      JobConfig.parse(jobJson(tmp("missing_dir_nowhere"), tmp("out_fail"), retries = 2)),
      backoff = JobRunner.Constant(1))
    assert(!res.succeeded)
    assert(res.attempts === 3) // 1 + 2 retries
    assert(res.lastError.isDefined)
  }

  test("backoff schedules grow exponentially") {
    val b = JobRunner.Exponential(100, 2.0)
    assert(Seq(0, 1, 2, 3).map(b.delayMs) === Seq(100L, 200L, 400L, 800L))
    assert(JobRunner.Constant(250).delayMs(5) === 250L)
  }
}
