package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/**
 * Spans recorded by the benchmark around its own calls into each layer.
 * Kept in memory and written out when the run ends. Each driving thread
 * runs one call at a time; the open span's id rides on the thread's Spark
 * local property, so every Spark job the call submits carries it and the
 * [[Census]] attributes job, stage and task events to that span.
 */
final class Tracer {
  import Tracer.Span

  private val ids = new AtomicLong(0)
  private val done = java.util.Collections.synchronizedList(new java.util.ArrayList[Span]())
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](sc: SparkContext, name: String, exec: Long)(f: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    open.set(id :: stack)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      done.add(Span(id, stack.headOption.getOrElse(0L), name, exec, t0, t1))
      open.set(stack)
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }

  def spans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    done.synchronized(done.asScala.toList)
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","exec":${s.exec},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, exec: Long,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  val SpanKey = "perfbench.span"
  val MarkerKey = "perfbench.marker"
}

/** Spark event counts per span (span 0 = events no span caused). */
final class Census extends SparkListener {
  final class Counts {
    var jobs, jobWallMs, stagesInJobs, stagesSkipped, stages, tasks = 0L
    var runMs, gcMs, inBytes, inRecords, outBytes, outRecords = 0L
    var shuffleWrite, shuffleRead, spill = 0L
  }

  private val counts = mutable.HashMap.empty[Long, Counts]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  // stages of each running job, and which of them were submitted during it
  private val jobStages = mutable.HashMap.empty[Int, Set[Int]]
  private val jobSubmitted = mutable.HashMap.empty[Int, mutable.Set[Int]]
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cacheBytes, cachePeak = 0L
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  private val markerJobs = new ConcurrentHashMap[Int, CountDownLatch]()

  private def c(span: Long): Counts = counts.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    props.flatMap(p => Option(p.getProperty(Tracer.MarkerKey))).flatMap(m => Option(markers.get(m)))
      .foreach(latch => markerJobs.put(e.jobId, latch))
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    jobStages(e.jobId) = e.stageIds.toSet
    jobSubmitted(e.jobId) = mutable.Set.empty
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    val k = c(span); k.jobs += 1; k.stagesInJobs += e.stageIds.size
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo.stageId
    for ((job, stages) <- jobStages if stages.contains(s)) jobSubmitted(job) += s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized {
      val span = jobSpan.remove(e.jobId).getOrElse(0L)
      val k = c(span)
      jobStart.remove(e.jobId).foreach(t0 => k.jobWallMs += e.time - t0)
      val stages = jobStages.remove(e.jobId).getOrElse(Set.empty)
      k.stagesSkipped += (stages -- jobSubmitted.remove(e.jobId).getOrElse(Set.empty)).size
    }
    // a marker job ending means every earlier event has been delivered
    Option(markerJobs.remove(e.jobId)).foreach(_.countDown())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageSpan.getOrDefault(e.stageId, 0L))
    k.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      k.runMs += m.executorRunTime
      k.gcMs += m.jvmGCTime
      k.inBytes += m.inputMetrics.bytesRead
      k.inRecords += m.inputMetrics.recordsRead
      k.outBytes += m.outputMetrics.bytesWritten
      k.outRecords += m.outputMetrics.recordsWritten
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cacheBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0) blocks.remove(key) else blocks(key) = size
      cachePeak = math.max(cachePeak, cacheBytes)
    }
  }

  /** Block until every event posted before this call has been delivered:
    * run a one-task marker job and wait for its end event. */
  def drain(sc: SparkContext): Unit = {
    val id = java.util.UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    markers.put(id, latch)
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, null)
    sc.setLocalProperty(Tracer.MarkerKey, id)
    try {
      sc.parallelize(Seq(1), 1).count()
      require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain within 60 s")
    } finally {
      markers.remove(id)
      sc.setLocalProperty(Tracer.MarkerKey, null)
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  def of(spans: Iterable[Long]): Counts = synchronized {
    val t = new Counts
    for (s <- spans; k <- counts.get(s)) {
      t.jobs += k.jobs; t.jobWallMs += k.jobWallMs; t.stagesInJobs += k.stagesInJobs
      t.stagesSkipped += k.stagesSkipped; t.stages += k.stages; t.tasks += k.tasks
      t.runMs += k.runMs; t.gcMs += k.gcMs; t.inBytes += k.inBytes
      t.inRecords += k.inRecords; t.outBytes += k.outBytes; t.outRecords += k.outRecords
      t.shuffleWrite += k.shuffleWrite; t.shuffleRead += k.shuffleRead; t.spill += k.spill
    }
    t
  }

  def cachePeakBytes: Long = synchronized(cachePeak)
}

/** Peak post-GC live heap, from the collection notifications every heap
  * collector posts with its after-collection pool usage. */
final class HeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.NotificationEmitter
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener((n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (live > peak) peak = live }
        }, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakBytes: Long = synchronized(peak)
}
