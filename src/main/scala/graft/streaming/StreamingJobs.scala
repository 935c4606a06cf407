package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.config.JobConfig._
import graft.graph.{Components, JobGraph}
import graft.graph.Components.{NotStreamable, Streamable, StreamsWith}
import graft.schema.SchemaValidator

/**
 * Incremental execution of a declarative job config: the SAME JobSpec the
 * batch engine folds into DataFrames (graph/JobGraph.scala) runs as a
 * Structured Streaming pipeline — sources become `readStream` over their
 * directories, the transform vocabulary compiles to the identical Column
 * expressions (FilterOp / TypeConversionOp / SchemaMappingOp /
 * TextAnalysis are expression-only, so they apply to streaming frames
 * unchanged), and each sink runs as its own StreamingQuery with an
 * exactly-once checkpoint.
 *
 * This is the Spark-first mapping of the reference's `row` strategy
 * (SURVEY.md §1.4: record-at-a-time push streaming,
 * src/etl_core/strategies/row_strategy.py:17-25): where the reference
 * pipelines dicts through asyncio queues and asserts cross-strategy result
 * equality in its e2e suite, the Spark engine gets incremental execution
 * from the SAME operator implementations — StreamingJobsSpec asserts
 * batch/streaming parity per config, which is the reference's own
 * cross-strategy contract.
 *
 * Scale/runtime notes:
 *  - No persist/cache is inserted (illegal on streaming frames). A config
 *    whose DAG fans out feeds several sink queries; each maintains its own
 *    incremental scan of the shared lineage — the streaming-native way to
 *    express a tee, with per-sink exactly-once instead of a shared
 *    materialization.
 *  - `Trigger.AvailableNow` (the `runOnce` entry point) drains available
 *    input then stops, giving deterministic "process the backlog" runs —
 *    the closest incremental analogue of one batch job execution; pass a
 *    processing-time trigger to `start` for continuous tailing.
 *  - State: the transforms that stream through their batch face are
 *    stateless (narrow maps/filters + unions), so there is no state store
 *    to size; batch dedup/aggregation need watermark semantics their JSON
 *    surface does not declare — they are rejected here, and the
 *    watermark-bounded `streaming_*` comp_types carry the state.
 *
 * Sources read ONLY with a declared schema (streaming refuses inference):
 * read_csv consumes its all-string declared schema, read_json (NDJSON
 * layouts) and read_parquet their declared port schema.
 */
object StreamingJobs {

  final case class SinkPlan(component: String, df: DataFrame, format: String,
                            path: String, options: Map[String, String])

  /** Fold the spec into per-sink streaming plans (no query started yet).
    * Each component runs its def's streaming face (graph/Components.scala):
    * the batch face itself for the stateless transforms, or a
    * streaming-only body (readStream sources, file sinks, `streaming_*`).
    * Batch `aggregation`/`dedup` have no streaming face (their JSON
    * surfaces declare no watermark, so their state would be unbounded);
    * `streaming_aggregation` and `streaming_dedup` are the
    * watermark-bounded twins reachable from JSON. */
  def plan(spark: SparkSession, spec0: JobSpec): Seq[SinkPlan] = {
    val spec = JobGraph.deriveSchemas(spec0)
    JobGraph.validateWiring(spec)
    for (c <- spec.components) Components(c.compType).stream match {
      case NotStreamable =>
        val streamable = Components.all.filter(_.stream != NotStreamable).map(_.compType)
        throw new IllegalArgumentException(
          s"streaming job ${spec.name}: comp_type '${c.compType}' (${c.name}) is not " +
            s"streamable — supported: ${streamable.sorted.mkString(", ")}; " +
            "aggregation/dedup need watermark semantics (see streaming/Streaming.scala)")
      case face: Streamable => face.refuse(c).foreach(why =>
        throw new IllegalArgumentException(s"streaming job ${spec.name}: $why"))
    }

    val frames = scala.collection.mutable.Map.empty[(String, String), DataFrame]
    val inbound: Map[(String, String), Seq[(String, String)]] = {
      val m = scala.collection.mutable.Map.empty[(String, String), Vector[(String, String)]]
        .withDefaultValue(Vector.empty)
      for (c <- spec.components; (port, dsts) <- c.routes; d <- dsts)
        m((d.to, d.inPort)) = m((d.to, d.inPort)) :+ ((c.name, port))
      m.toMap
    }

    val sinks = scala.collection.mutable.ListBuffer.empty[SinkPlan]

    for (c <- JobGraph.topoOrder(spec)) {
      val d = Components(c.compType)
      val in = d.in.of(c).map(p => p.name ->
        inbound.getOrElse((c.name, p.name), Nil).map(frames(_))).filter(_._2.nonEmpty).toMap
      val call = new Components.Call(spark, c, in, spec.components)
      val (outs, sink) = d.stream match {
        case StreamsWith(f, _) => f(call)
        case _ => (d.batch.get(call)._1, None)
      }
      sink.foreach(sinks += _)
      JobGraph.requireProduced(c, outs)
      // same structural contract as the batch fold, per produced port
      for ((port, df) <- outs) {
        val checked = c.outPortSchemas.get(port) match {
          case Some(expected) if c.routes.getOrElse(port, Nil).nonEmpty =>
            SchemaValidator.enforce(df, expected, structuralOnly = true)
          case _ => df
        }
        frames((c.name, port)) = checked
      }
    }
    sinks.toSeq
  }

  /** Start every sink query. Checkpoints live under
    * `checkpointRoot/<sinkComponentName>` — stable across restarts, which
    * is what makes each sink exactly-once on re-run. */
  def start(spark: SparkSession, spec: JobSpec, checkpointRoot: String,
            trigger: Trigger = Trigger.AvailableNow()): Seq[StreamingQuery] =
    plan(spark, spec).map { s =>
      s.df.writeStream
        .format(s.format)
        .options(s.options)
        .option("path", s.path)
        .option("checkpointLocation", s"$checkpointRoot/${s.component}")
        .trigger(trigger)
        .start()
    }

  /** Drain all currently-available input through every sink, then stop —
    * one incremental "execution" of the job (AvailableNow). */
  def runOnce(spark: SparkSession, spec: JobSpec, checkpointRoot: String): Unit =
    start(spark, spec, checkpointRoot).foreach(_.awaitTermination())
}
