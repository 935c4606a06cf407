package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import graft.config.JobConfig
import graft.graph.JobGraph
import graft.runtime.JobRunner

/** Direct layer calls of one execution: parse, validate, build, each
  * sink action, close. */
object Drive {
  /** The calls, each inside its span; returns the wall time in ms. */
  def traced(spark: SparkSession, tracer: Tracer, exec: Long, json: String): Double = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    tracer.span(sc, "job", exec) {
      val spec = tracer.span(sc, "config.parse", exec)(JobConfig.parse(json))
      tracer.span(sc, "graph.validate", exec)(JobGraph.validate(spec))
      // the observe() counters JobRunner attaches, so the plans match its runs
      val built = tracer.span(sc, "graph.build", exec)(
        JobGraph.build(spark, spec, instrumentTag = Some(s"perfbench$exec")))
      try built.sinks.foreach { case (name, action) =>
        tracer.span(sc, s"sink.$name", exec)(action()) }
      finally tracer.span(sc, "graph.close", exec)(built.close())
    }
    (System.nanoTime() - t0) / 1e6
  }

  /** The same calls without spans: the base of the tracing overhead. */
  def plain(spark: SparkSession, exec: Long, json: String): Double = {
    val t0 = System.nanoTime()
    val spec = JobConfig.parse(json)
    JobGraph.validate(spec)
    val built = JobGraph.build(spark, spec, instrumentTag = Some(s"perfbench$exec"))
    try built.sinks.foreach { case (_, action) => action() }
    finally built.close()
    (System.nanoTime() - t0) / 1e6
  }

  /** Both arms of one execution, the traced one first on even `exec` and
    * second on odd, so neither always finds the other's caches warm.
    * Returns (traced ms, plain ms). */
  def both(spark: SparkSession, tracer: Tracer, exec: Long, json: String): (Double, Double) =
    if (exec % 2 == 0) {
      val t = traced(spark, tracer, exec, json)
      (t, plain(spark, exec, json))
    } else {
      val p = plain(spark, exec, json)
      (traced(spark, tracer, exec, json), p)
    }

  def attemptMs(res: JobRunner.RunResult): Double = res.attemptRecords.map(_.wallMs).sum.toDouble
}

/** Counts check shared by every workload: each expected key is reported
  * with the expected value, and every filter's pass + fail equals what
  * it received. */
object Lines {
  def check(what: String, forwarded: Map[String, Long], received: Map[String, Long],
            dismissed: Map[String, Long], expFwd: Map[String, Long],
            expRecv: Map[String, Long]): Seq[String] = {
    def cmp(kind: String, got: Map[String, Long], exp: Map[String, Long]) =
      exp.toSeq.sorted.collect { case (k, v) if !got.get(k).contains(v) =>
        s"$what: $kind[$k] = ${got.get(k).map(_.toString).getOrElse("missing")}, expected $v" }
    val filters = dismissed.keys.toSeq.sorted.flatMap { f =>
      val pass = forwarded.getOrElse(s"$f.pass", 0L)
      val fail = forwarded.getOrElse(s"$f.fail", dismissed(f))
      val recv = received.get(s"$f.in")
      if (recv.contains(pass + fail)) Nil
      else Seq(s"$what: filter $f pass $pass + fail $fail != received ${recv.getOrElse("missing")}")
    }
    cmp("lines_forwarded", forwarded, expFwd) ++ cmp("lines_received", received, expRecv) ++ filters
  }
}

/** A workload of one client running one job back to back through
  * JobRunner.run. */
abstract class RunnerWorkload(root: Path) extends Workload {
  val MinExecutions = 3
  protected val in: Path = root.resolve("in")
  protected val out: Path = root.resolve("out")
  def json: String
  /** Per-execution checks on the runtime's counts. */
  def checkRun(res: JobRunner.RunResult): Seq[String]

  /** Parse + JobRunner.run: (their wall time in s, JobRunner.run's own in
    * ms, the result). */
  private def runOnce(spark: SparkSession): (Double, Double, JobRunner.RunResult) = {
    val t0 = System.nanoTime()
    val spec = JobConfig.parse(json)
    val t1 = System.nanoTime()
    val res = JobRunner.run(spark, spec)
    val t2 = System.nanoTime()
    ((t2 - t0) / 1e9, (t2 - t1) / 1e6, res)
  }

  private def record(s: Samples, res: JobRunner.RunResult): Unit = {
    s.attempted += 1
    s.rows += rowsPerExecution
    if (!res.succeeded) {
      s.failed += 1
      s.errors += s"execution failed: ${res.lastError.map(_.toString).getOrElse("?")}"
    } else s.errors ++= checkRun(res)
  }

  def setup(spark: SparkSession): Unit = {
    val (_, _, res) = runOnce(spark)
    require(res.succeeded, s"warm-up execution failed: ${res.lastError}")
  }
  def teardown(): Unit = ()

  def measure(spark: SparkSession, seconds: Double): Samples = {
    val s = new Samples
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (elapsed < seconds || s.jobS.size < MinExecutions) {
      val (dt, _, res) = runOnce(spark)
      s.jobS += dt
      record(s, res)
      s.windowS = elapsed
    }
    s
  }

  /** Each iteration drives the job by direct layer calls, traced and
    * plain (Drive.both), then runs it through JobRunner.run, which gives
    * the harvest and attempt figures and the output counts. */
  def measureTraced(spark: SparkSession, seconds: Double, tracer: Tracer,
                    census: Census): Samples = {
    val s = new Samples
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var exec = 0L
    while (elapsed < seconds || s.jobS.size < MinExecutions) {
      exec += 1
      val (tracedMs, plainMs) = Drive.both(spark, tracer, exec, json)
      s.jobS += tracedMs / 1000
      s.plainS += plainMs
      s.attempted += 2
      s.rows += rowsPerExecution
      s.execRows(exec) = rowsPerExecution
      val (_, runMs, res) = runOnce(spark)
      record(s, res)
      s.add("runtime.harvest_ms", runMs - Drive.attemptMs(res))
      s.add("runtime.attempts_per_job", res.attempts.toDouble)
      s.windowS = elapsed
    }
    s
  }
}

/** curation: documents with a seeded share of exact and near copies
  * through read_parquet -> text_normalize -> gopher_filter -> dedup
  * (minhash, transitive clusters) -> write_parquet. */
final class Curation(root: Path) extends RunnerWorkload(root) {
  val BaseDocs = 2000
  val ExactShare = 0.10
  val NearShare = 0.10
  private var facts: Gen.Curation = _
  def generate(staging: Path, seed: Long): Seq[Gen.FileFact] = {
    facts = Gen.curation(staging, seed, BaseDocs, ExactShare, NearShare)
    facts.files
  }
  def materialize(staging: Path, in: Path): Unit =
    InputFormats.ndjsonToParquet(staging.resolve("documents.jsonl"), in.resolve("documents.parquet"),
      Seq("doc_id" -> "long", "text" -> "string"), files = 4)
  def rowsPerExecution: Long = facts.docs
  val json: String = Jobs.curation(in.toString, out.toString)

  def checkRun(res: JobRunner.RunResult): Seq[String] =
    Lines.check("curation", res.linesForwarded, res.linesReceived, res.linesDismissed,
      Map("rd.out" -> facts.docs, "tn.out" -> facts.docs), Map("tn.in" -> facts.docs))

  /** Every injected exact copy is gone, and the output equals a direct
    * Scala-API call of the same operators on the same input. */
  def check(spark: SparkSession): Seq[String] = {
    import graft.scale.{Dedup, OpCaches, TextAnalysis}
    val got = spark.read.parquet(out.resolve("curated").toString)
    val docs = spark.read.parquet(in.resolve("documents.parquet").toString)
    val kept = TextAnalysis.gopherFilter(TextAnalysis.normalizeText(docs, "text"), "text")
    val expected = Dedup.clusterDedup(kept, "doc_id",
      Dedup.minhashNearDups(kept, "text", "doc_id", 5, 32, 16, 0.6), maxIter = 25)
    val copies = spark.createDataFrame(facts.exactCopyIds.map(Tuple1(_))).toDF("doc_id")
    val leaked = got.join(copies, "doc_id").count()
    val (g, e) = (Main.fingerprint(got, Seq("doc_id", "text")),
      Main.fingerprint(expected, Seq("doc_id", "text")))
    OpCaches.drain()
    println(s"[check] curation: ${facts.docs} docs in (${facts.exactCopyIds.size} exact " +
      s"copies, ${facts.nearCopies} near copies, ${facts.shortDocs} short), ${g._1} kept")
    (if (leaked == 0) Nil else Seq(s"curation: $leaked injected exact copies survived")) ++
      (if (g == e) Nil else Seq(s"curation output fingerprint $g, direct API call gives $e"))
  }
}

/** small_jobs: `clients` closed-loop clients against ControlPlane.serve on
  * loopback, each running its own instance of eight small job shapes,
  * dealt from a deck that holds each shape once, shuffled per seed; a
  * window runs whole decks. The uniform mix is synthetic: no traffic
  * traces exist to weight the shapes by. An iteration is POST
  * /execution/{id} then GET /execution/{id}/metrics; one in ten first
  * does PUT /jobs/{id}. */
final class SmallJobs(root: Path, clients: Int) extends Workload {
  import graft.api.ControlPlane
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  val Shapes: Seq[String] = Seq("csv_filter", "join_agg", "split_merge", "xml_agg",
    "excel_agg", "ndjson_tc", "window", "jdbc_upsert")
  val JdbcUrl = "jdbc:derby:memory:perfbench;create=true"
  /** Input size factor over Gen.small's base sizes: 500 to 15k rows a job. */
  val Scale = 0.25
  private val in = root.resolve("in")
  private var facts: Gen.Small = _
  private var seed = 0L
  private var server: com.sun.net.httpserver.HttpServer = _
  private var base = ""
  private var ids = Map.empty[(Int, String), String]
  private val http = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
  private var setups = 0

  private def config(client: Int, shape: String): String =
    Jobs.small(shape, in.toString, root.resolve(s"out/c$client").toString, JdbcUrl,
      s"kv_c$client")

  def generate(staging: Path, seed: Long): Seq[Gen.FileFact] = {
    this.seed = seed
    facts = Gen.small(staging, seed, Scale)
    facts.files
  }

  def materialize(staging: Path, in: Path): Unit = {
    for (f <- Seq("csv_filter.csv", "split_merge.csv", "records.xml", "ndjson_tc.jsonl"))
      Files.move(staging.resolve(f), in.resolve(f), StandardCopyOption.REPLACE_EXISTING)
    for ((f, schema) <- Seq(
      "customers" -> Seq("c_custkey" -> "long", "c_segment" -> "string"),
      "orders" -> Seq("o_orderkey" -> "long", "o_custkey" -> "long", "o_totalcents" -> "long"),
      "events" -> Seq("user_id" -> "long", "ts" -> "long", "value" -> "long"),
      "kv" -> Seq("k" -> "string", "v" -> "string")))
      InputFormats.ndjsonToParquet(staging.resolve(s"$f.jsonl"), in.resolve(s"$f.parquet"), schema, 1)
    InputFormats.csvToXlsx(staging.resolve("excel_customers.csv"), in.resolve("customers.xlsx"),
      "customers")
    val conn = java.sql.DriverManager.getConnection(JdbcUrl)
    try for (c <- 0 until clients) conn.createStatement().execute(
      s"""CREATE TABLE kv_c$c ("k" VARCHAR(20) PRIMARY KEY, "v" VARCHAR(40))""")
    finally conn.close()
  }

  def rowsPerExecution: Long = Shapes.map(facts.expect(_).rows).sum / Shapes.size

  // ------------------------------------------------------------ http

  private def call(method: String, path: String, body: String = ""): SmallJobs.Resp = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
      .method(method,
        if (body.isEmpty) java.net.http.HttpRequest.BodyPublishers.noBody()
        else java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val t0 = System.nanoTime()
    val r = http.send(b, java.net.http.HttpResponse.BodyHandlers.ofString())
    SmallJobs.Resp(r.statusCode(), r.body(), (System.nanoTime() - t0) / 1e6)
  }
  private def json(s: String): JValue = JsonMethods.parse(s)
  private def str(j: JValue, k: String): String = (j \ k) match {
    case JString(v) => v
    case other => throw new IllegalStateException(s"response has no string '$k': $other")
  }
  private def long(j: JValue, k: String): Long = (j \ k) match {
    case JInt(v) => v.toLong
    case JLong(v) => v
    case other => throw new IllegalStateException(s"response has no integer '$k': $other")
  }
  private def counts(j: JValue, k: String): Map[String, Long] = (j \ k) match {
    case JObject(fs) => fs.collect {
      case (n, JInt(v)) => n -> v.toLong
      case (n, JLong(v)) => n -> v
    }.toMap
    case _ => Map.empty
  }

  // ----------------------------------------------------------- setup

  def setup(spark: SparkSession): Unit = {
    setups += 1
    // a fresh file-backed store per set-up, so each one starts alike
    val registry = new ControlPlane.JobRegistry(spark,
      Some(root.resolve(s"store-$setups")))
    server = ControlPlane.serve(registry, 0)
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
    ids = (for (c <- 0 until clients; shape <- Shapes) yield {
      val r = call("POST", "/jobs", config(c, shape))
      require(r.code == 201, s"create $shape failed: ${r.code} ${r.body}")
      (c, shape) -> str(json(r.body), "id")
    }).toMap
    // every shape once, dealt over the clients as the measured loop runs them
    val warm = Shapes.zipWithIndex.groupBy(_._2 % clients).toSeq.map {
      case (c, shapes) => new Thread(() => for ((shape, _) <- shapes) {
        try {
          val r = call("POST", s"/execution/${ids((c, shape))}")
          if (r.code != 201 || str(json(r.body), "status") != "SUCCESS")
            warmFailures.add(s"warm-up of $shape: ${r.code} ${r.body}")
        } catch { case e: Exception => warmFailures.add(s"warm-up of $shape: $e") }
      })
    }
    warm.foreach(_.start())
    warm.foreach(_.join())
    require(warmFailures.isEmpty, warmFailures.toString)
  }
  private val warmFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def teardown(): Unit = if (server != null) { ControlPlane.stop(server); server = null }

  // --------------------------------------------------------- measure

  /** One client's iteration over the HTTP surface. Returns the client
    * latency of the execution POST, or None when it was not a success. */
  private def iterate(c: Int, shape: String, i: Int, s: Samples, traced: Boolean): Option[Double] = {
    val id = ids((c, shape))
    if (i % 10 == 0) {
      val r = call("PUT", s"/jobs/$id", config(c, shape))
      if (r.code != 200) s.errors += s"PUT /jobs/$id: ${r.code} ${r.body}"
      else if (traced) s.add("api.update_ms", r.ms)
    }
    val r = call("POST", s"/execution/$id")
    s.attempted += 1
    s.rows += facts.expect(shape).rows
    if (r.code != 201) {
      s.failed += 1
      if (r.code == 503) s.rejected += 1
      s.errors += s"POST /execution/$id ($shape): ${r.code} ${r.body}"
      return None
    }
    val exec = json(r.body)
    val execId = str(exec, "id")
    val wallMs = long(exec, "wall_ms")
    if (str(exec, "status") != "SUCCESS") {
      s.failed += 1
      s.errors += s"execution $execId ($shape): ${r.body}"
      return None
    }
    val m = call("GET", s"/execution/$execId/metrics")
    if (m.code != 200) s.errors += s"GET metrics $execId: ${m.code}"
    else {
      val mj = json(m.body)
      val e = facts.expect(shape)
      s.errors ++= Lines.check(s"small_jobs $shape", counts(mj, "lines_forwarded"),
        counts(mj, "lines_received"), counts(mj, "lines_dismissed"), e.forwarded, e.received)
    }
    if (traced) {
      s.add("api.overhead_ms", r.ms - wallMs)
      s.add("api.metrics_read_ms", m.ms)
      val a = call("GET", s"/execution/$execId/attempts")
      val attempts = json(a.body) match {
        case JArray(xs) => xs.map(x => long(x, "wall_ms"))
        case other => throw new IllegalStateException(s"attempts: $other")
      }
      s.add("runtime.harvest_ms", (wallMs - attempts.sum).toDouble)
      s.add("runtime.attempts_per_job", attempts.size.toDouble)
    }
    Some(r.ms / 1000)
  }

  private def loop(seconds: Double, body: (Int, String, Int, Samples) => Unit): Samples = {
    val total = new Samples
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    @volatile var last = start
    val threads = (0 until clients).map { c =>
      val part = new Samples
      val t = new Thread(() => {
        val rng = new scala.util.Random(seed * 31 + c)
        var deck = rng.shuffle(Shapes)
        var i = 0
        // whole decks only, so every run measures the same shape mix
        try while (System.nanoTime() < deadline || i % deck.size != 0) {
          if (i > 0 && i % deck.size == 0)
            deck = rng.shuffle(Shapes)
          body(c, deck(i % deck.size), i, part)
          i += 1
          last = math.max(last, System.nanoTime())
        } catch {
          case e: Throwable => part.errors += s"client $c: $e"
        }
      }, s"perfbench-client-$c")
      t.start()
      (t, part)
    }
    threads.foreach { case (t, part) => t.join(); total.merge(part) }
    total.windowS = (last - start) / 1e9
    total
  }

  def measure(spark: SparkSession, seconds: Double): Samples =
    loop(seconds, (c, shape, i, s) => iterate(c, shape, i, s, traced = false).foreach(s.jobS += _))

  /** Each iteration is the HTTP iteration, then the same shape driven by
    * direct layer calls, traced and plain (Drive.both). */
  def measureTraced(spark: SparkSession, seconds: Double, tracer: Tracer,
                    census: Census): Samples = {
    val execs = new java.util.concurrent.atomic.AtomicLong(0)
    loop(seconds, (c, shape, i, s) => {
      iterate(c, shape, i, s, traced = true)
      val exec = execs.incrementAndGet()
      val (tracedMs, plainMs) = Drive.both(spark, tracer, exec, config(c, shape))
      s.jobS += tracedMs / 1000
      s.plainS += plainMs
      s.attempted += 2
      s.execRows(exec) = facts.expect(shape).rows
    })
  }

  def check(spark: SparkSession): Seq[String] = Nil
}

object SmallJobs {
  final case class Resp(code: Int, body: String, ms: Double)
}
