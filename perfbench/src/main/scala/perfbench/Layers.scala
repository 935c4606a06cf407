package perfbench

import Main.{median, quantile}

/**
 * Per-layer figures of a traced run. Spans come from the benchmark's own
 * calls (Drive.traced): `job` with children `config.parse`,
 * `graph.validate`, `graph.build`, one `sink.<component>` per sink
 * action and `graph.close`. Spark counts come from the Census, by span.
 * Every figure is a median over traced executions unless a comment below
 * says otherwise; a figure a workload has no path for reads 0.
 */
object Layers {

  private final case class Exec(job: Tracer.Span, children: Seq[Tracer.Span]) {
    def ms(name: String): Double = children.filter(_.name == name).map(_.ms).sum
    def sinkMs: Double = children.filter(_.name.startsWith("sink.")).map(_.ms).sum
    def selfMs: Double = job.ms - children.map(_.ms).sum
    def spanIds: Seq[Long] = job.id +: children.map(_.id)
  }

  private def execs(tracer: Tracer): Seq[Exec] = {
    val spans = tracer.spans
    val byParent = spans.groupBy(_.parent)
    spans.filter(_.name == "job").sortBy(_.exec)
      .map(j => Exec(j, byParent.getOrElse(j.id, Nil)))
  }

  def metrics(r: Samples, tracer: Tracer, census: Census, cores: Int,
              rowsPerExecution: Long, calibrationS: Double): Seq[(String, Double, String)] = {
    val es = execs(tracer)
    require(es.nonEmpty, "no traced execution completed")
    def med(f: Exec => Double): Double = median(es.map(f))
    def extra(k: String): Double = r.extra.get(k).map(xs => median(xs.toSeq)).getOrElse(0.0)
    val counts = es.map(e => e -> census.of(e.spanIds)).toMap
    def cmed(f: Census#Counts => Double): Double = med(e => f(counts(e)))
    val all = census.of(es.flatMap(_.spanIds))
    val traced = med(_.job.ms)
    def mean(k: String): Double = r.extra.get(k).map(xs => xs.sum / xs.size).getOrElse(0.0)
    Seq(
      ("config.parse_ms", med(_.ms("config.parse")), "ms"),
      ("graph.validate_ms", med(_.ms("graph.validate")), "ms"),
      ("graph.build_ms", med(_.ms("graph.build")), "ms"),
      ("graph.build_spark_jobs", med(e => census.of(
        e.children.filter(_.name == "graph.build").map(_.id)).jobs.toDouble), "count"),
      ("graph.close_ms", med(_.ms("graph.close")), "ms"),
      ("sink.run_ms", med(_.sinkMs), "ms"),
      // a mean: the settle poll sleeps in 100 ms steps, and the mean shows
      // how often a run needs another step where a median would not
      ("runtime.harvest_ms", mean("runtime.harvest_ms"), "ms"),
      ("runtime.attempts_per_job", mean("runtime.attempts_per_job"), "count"),
      ("api.overhead_ms", extra("api.overhead_ms"), "ms"),
      ("api.update_ms", extra("api.update_ms"), "ms"),
      ("api.metrics_read_ms", extra("api.metrics_read_ms"), "ms"),
      ("api.rejected", r.rejected.toDouble, "count"),
      ("spark.jobs", cmed(_.jobs.toDouble), "count"),
      ("spark.stages", cmed(_.stages.toDouble), "count"),
      ("spark.tasks", cmed(_.tasks.toDouble), "count"),
      ("spark.job_ms", if (all.jobs == 0) 0.0 else all.jobWallMs.toDouble / all.jobs, "ms"),
      ("spark.stages_skipped_share",
        if (all.stagesInJobs == 0) 0.0 else all.stagesSkipped.toDouble / all.stagesInJobs, "ratio"),
      ("spark.busy_share", med(e => counts(e).runMs / (e.job.ms * cores)), "ratio"),
      ("gc.ms", cmed(_.gcMs.toDouble), "ms"),
      ("io.input_bytes", cmed(_.inBytes.toDouble), "bytes"),
      ("io.input_records", cmed(_.inRecords.toDouble), "count"),
      ("io.output_bytes", cmed(_.outBytes.toDouble), "bytes"),
      ("io.output_records", cmed(_.outRecords.toDouble), "count"),
      ("io.scan_amplification", med(e => counts(e).inRecords.toDouble /
        r.execRows.getOrElse(e.job.exec, rowsPerExecution)), "ratio"),
      ("shuffle.write_bytes", cmed(_.shuffleWrite.toDouble), "bytes"),
      ("shuffle.read_bytes", cmed(_.shuffleRead.toDouble), "bytes"),
      ("spill.bytes", cmed(_.spill.toDouble), "bytes"),
      ("cache.peak_bytes", census.cachePeakBytes.toDouble, "bytes"),
      ("trace.job_ms", traced, "ms"),
      ("trace.unattributed_ms", med(_.selfMs), "ms"),
      // per execution, the traced arm minus the plain arm (the same calls
      // without spans) of the same job; the median of those differences
      ("trace.overhead_ms", median(r.jobS.zip(r.plainS).map { case (t, p) => t * 1000 - p }.toSeq),
        "ms"),
      ("calibration_s", calibrationS, "s"))
  }

  /** The bases of the traced run's ratios, for the comparator. */
  def bases(tracer: Tracer, census: Census, cores: Int): Seq[(String, Double)] = {
    val es = execs(tracer)
    val all = census.of(es.flatMap(_.spanIds))
    Seq("stages_in_jobs" -> all.stagesInJobs.toDouble,
      "stages_skipped" -> all.stagesSkipped.toDouble,
      "executor_run_ms" -> (if (es.isEmpty) 0.0 else median(es.map(e => census.of(e.spanIds).runMs.toDouble))),
      "cores" -> cores.toDouble)
  }

  /** The census table: self time and count per layer, per sink, and the
    * check that the layers account for the traced job time. */
  def report(tracer: Tracer, census: Census): Seq[String] = {
    val es = execs(tracer)
    if (es.isEmpty) return Nil
    val layers = es.flatMap(_.children).groupBy(_.name).toSeq.sortBy(_._1)
    val rows = layers.map { case (name, ss) =>
      val c = census.of(ss.map(_.id))
      f"[layers] $name%-26s count=${ss.size}%5d self_p50_ms=${median(ss.map(_.ms))}%10.2f " +
        f"self_total_ms=${ss.map(_.ms).sum}%11.1f spark_jobs=${c.jobs}%5d stages=${c.stages}%5d tasks=${c.tasks}%6d"
    }
    val jobP50 = median(es.map(_.job.ms))
    val layerP50s = es.flatMap(_.children).groupBy(e => if (e.name.startsWith("sink.")) "sink" else e.name)
      .map { case (_, ss) => ss.map(_.ms).sum / es.size }.sum
    rows ++ Seq(
      f"[layers] job (traced)               count=${es.size}%5d p50_ms=${jobP50}%10.2f " +
        f"p90_ms=${quantile(es.map(_.job.ms), 0.9)}%10.2f",
      f"[layers] blocking path: mean per execution, layers ${layerP50s}%.2f ms + unattributed " +
        f"${es.map(_.selfMs).sum / es.size}%.2f ms = job ${es.map(_.job.ms).sum / es.size}%.2f ms")
  }
}
