package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/**
 * Job-level benchmark program. One invocation runs one workload:
 *
 *  1. generate the seeded inputs (not timed) and check their digest
 *     against the one recorded for the same seed;
 *  2. set the system up once, in the JVM's cold state: SparkSession,
 *     registry and server where the workload has them, jobs created, one
 *     warm-up execution of every job shape;
 *  3. time a fixed, IO-free calibration computation;
 *  4. run the workload for at least `--seconds`, untraced (`--trace 0`,
 *     the end-to-end metrics) or traced (`--trace 1`, the per-layer
 *     metrics);
 *  5. check the outputs, print a report and, as the last line, the
 *     result object.
 *
 * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
 *        [--results DIR]
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, results: Path)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = Paths.get(req("work")).toAbsolutePath
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      work, m.get("results").map(Paths.get(_).toAbsolutePath).getOrElse(work.resolve("results")))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parseArgs(args))
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    System.out.flush()
    // Spark and the HTTP server leave non-daemon threads behind
    Runtime.getRuntime.halt(code)
  }

  // ----------------------------------------------------------- session

  /** The session `Cli serve` builds: local[cores], shuffle partitions =
    * cores, UTC, UI off. Scratch directories stay inside the work dir. */
  def newSession(cores: Int, root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ------------------------------------------------------------- stats

  /** Linear-interpolated quantile of unsorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Order-insensitive fingerprint of a frame's rows over `cols`, every
    * value compared as its string form: (rows, low-word sum, high-word
    * sum) of a per-row 64-bit hash. */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long, Long) = {
    val h = xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Fixed, seeded, IO-free Spark computation; median of three timings in
    * seconds. Recorded beside the metrics to tell a between-boot swing
    * from a code change. */
  def calibrate(spark: SparkSession, cores: Int): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 4000000L, 1L, cores)
      .select((col("id") % 1009).as("k"), xxhash64(col("id"), lit(20261017)).as("v"))
      .groupBy("k").agg(sum(col("v") % 1000).as("s"))
      .agg(sum("s")).head()
    (System.nanoTime() - t0) / 1e9
  })

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).round(new java.math.MathContext(10)).toString

  // --------------------------------------------------------------- run

  def run(a: Args): Int = {
    // JVM start to here: boot and class loading a user's process pays too
    val bootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tStart = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val root = a.work.resolve(s"${a.workload}-${a.seed}-t${if (a.trace) 1 else 0}")
    deleteTree(root)
    Seq("staging", "in", "out", "spark-local").foreach(d => Files.createDirectories(root.resolve(d)))
    System.setProperty("derby.stream.error.file", root.resolve("derby.log").toString)
    val w: Workload = a.workload match {
      case "small_jobs" => new SmallJobs(root, clients = math.min(2, cores))
      case "curation"   => new Curation(root)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (small_jobs|curation)")
    }
    val heap = new HeapPeak
    def since(t: Long) = (System.nanoTime() - t) / 1e9

    // 1. inputs: generated as text and digested, then moved or converted
    // to the format the job reads
    val files = w.generate(root.resolve("staging"), a.seed)
    val digest = Gen.digest(files)
    val manifest = a.work.resolve("manifests").resolve(s"${a.workload}-${a.seed}.sha256")
    Files.createDirectories(manifest.getParent)
    if (Files.exists(manifest) && Files.readString(manifest).trim != digest) {
      System.err.println(s"perfbench: seed ${a.seed} generated different bytes than " +
        s"recorded in $manifest -- the generator is not deterministic")
      return 3
    }
    Files.writeString(manifest, digest + "\n")
    w.materialize(root.resolve("staging"), root.resolve("in"))
    val tInputs = System.nanoTime()
    for (f <- files)
      println(f"[inputs] ${f.name}%-22s rows=${f.rows}%9d bytes=${f.bytes}%11d sha256=${f.sha256.take(16)}")
    println(s"[inputs] ${a.workload} seed=${a.seed} digest=$digest rows_per_execution=${w.rowsPerExecution}")

    // 2. set-up, once: setup_s is JVM start to ready, less the input phase
    val spark = newSession(cores, root)
    w.setup(spark)
    val tSetup = System.nanoTime()
    val setupS = bootS + (tSetup - tInputs) / 1e9
    println(f"[setup] jvm_boot_s=$bootS%.3f setup_s=$setupS%.3f")

    // 3. calibration
    val calibrationS = calibrate(spark, cores)
    println(s"""{"calibration_s":${num(calibrationS)}}""")

    // 4. measured window
    val tracer = new Tracer
    val census = new Census
    if (a.trace) spark.sparkContext.addSparkListener(census)
    heap.reset()
    val r = if (a.trace) w.measureTraced(spark, a.seconds, tracer, census)
            else w.measure(spark, a.seconds)
    val heapPeakMb = heap.peakBytes / 1048576.0
    if (a.trace) census.drain(spark.sparkContext)
    val tWindow = System.nanoTime()

    // 5. checks, then teardown
    val errors = r.errors.toSeq ++ w.check(spark)
    w.teardown()
    stopSession(spark)
    errors.take(20).foreach(e => println(s"[check] FAILED: $e"))
    if (errors.size > 20) println(s"[check] ... ${errors.size - 20} more failures")
    if (errors.isEmpty) println("[check] all output checks passed")
    println(f"[phases] inputs_s=${(tInputs - tStart) / 1e9}%.2f setup_s=${(tSetup - tInputs) / 1e9}%.2f " +
      f"calibration_and_window_s=${(tWindow - tSetup) / 1e9}%.2f checks_s=${since(tWindow)}%.2f")

    val n = r.jobS.size
    println(f"[run] executions=$n attempted=${r.attempted} failed=${r.failed} " +
      f"window_s=${r.windowS}%.3f rows=${r.rows}")
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        require(n > 0, "no execution completed in the measured window")
        Seq(
          ("setup_s", setupS, "s"),
          ("job_s.p50", median(r.jobS.toSeq), "s"),
          ("jobs_per_s", n / r.windowS, "1/s"),
          ("rows_per_s", r.rows / r.windowS, "rows/s"),
          ("heap_live_peak_mb", heapPeakMb, "MB"))
      } else Layers.metrics(r, tracer, census, cores, w.rowsPerExecution, calibrationS)
    val failedShare = if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted
    println(f"[metric] failed_share = $failedShare%.4f ratio (${r.failed} of ${r.attempted} attempted)")
    println(s"[metric] job_s samples = $n")
    for ((k, v, u) <- metrics) println(s"[metric] $k = ${num(v)} $u")
    if (a.trace) {
      Layers.report(tracer, census).foreach(println)
      Files.createDirectories(a.work.resolve("spans"))
      tracer.write(a.work.resolve("spans").resolve(s"${a.workload}-${a.seed}.jsonl"))
    }
    deleteTree(root) // inputs and outputs; the checks are done

    val metricsJson = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val traceBases = if (a.trace) Layers.bases(tracer, census, cores) else Nil
    val bases = (Seq("rows" -> r.rows.toDouble, "window_s" -> r.windowS, "executions" -> n.toDouble,
      "rows_per_execution" -> w.rowsPerExecution.toDouble) ++ traceBases)
      .map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    Files.createDirectories(a.results)
    Files.writeString(a.results.resolve(
      s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      s"""{"workload":"${a.workload}","seed":${a.seed},"trace":${if (a.trace) 1 else 0},""" +
        s""""correct":${errors.isEmpty},"attempted":${r.attempted},"failed":${r.failed},""" +
        s""""calibration_s":${num(calibrationS)},""" +
        s""""inputs_digest":"$digest","bases":$bases,"metrics":$metricsJson}""" + "\n")
    println(s"""{"correct":${errors.isEmpty},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":$metricsJson}""")
    if (errors.isEmpty) 0 else 1
  }
}

/** What one measured window yields. */
final class Samples {
  val jobS = mutable.ArrayBuffer.empty[Double]
  var attempted, failed, rows = 0L
  var windowS = 0.0
  val errors = mutable.ArrayBuffer.empty[String]
  /** Per-layer samples the traced run takes from outside the spans
    * (harvest, attempts, HTTP latencies), by metric name. */
  val extra = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Times (ms) of the plain arm in the traced run (Drive.plain): the
    * traced calls without their spans, in the order of `jobS`. */
  val plainS = mutable.ArrayBuffer.empty[Double]
  /** Generated input rows of each traced execution, by execution id. */
  val execRows = mutable.HashMap.empty[Long, Long]
  var rejected = 0L
  def add(name: String, v: Double): Unit = synchronized {
    extra.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def merge(o: Samples): Unit = synchronized {
    jobS ++= o.jobS; attempted += o.attempted; failed += o.failed; rows += o.rows
    errors ++= o.errors; plainS ++= o.plainS; rejected += o.rejected; execRows ++= o.execRows
    for ((k, vs) <- o.extra) extra.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= vs
  }
}

trait Workload {
  /** Write the seeded inputs as text into `staging`; returns their facts. */
  def generate(staging: Path, seed: Long): Seq[Gen.FileFact]
  /** Place the inputs the jobs read into `in` (copy or convert). */
  def materialize(staging: Path, in: Path): Unit
  /** Generated input rows one execution consumes (mean over shapes). */
  def rowsPerExecution: Long
  def setup(spark: SparkSession): Unit
  def teardown(): Unit
  def measure(spark: SparkSession, seconds: Double): Samples
  def measureTraced(spark: SparkSession, seconds: Double, tracer: Tracer, census: Census): Samples
  /** Output checks after the window; returns failures. */
  def check(spark: SparkSession): Seq[String]
}
