package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Trace {
  /** SparkContext's local-property keys for the job group and description. */
  val JobGroupKey = "spark.jobGroup.id"
  val JobDescKey = "spark.job.description"
}

/** A traced interval: `group` is the Spark job group its jobs ran under. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
    endMs: Long, group: String) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Engine counters for the jobs of one job group. */
final class Agg {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleWrite, shuffleRead, spill, inputBytes, inputRecords,
    outputBytes, outputRecords = 0L
  private def add(o: Agg, k: Long): Unit = o.synchronized {
    jobs += k * o.jobs; stages += k * o.stages; tasks += k * o.tasks
    runMs += k * o.runMs; cpuNs += k * o.cpuNs
    shuffleWrite += k * o.shuffleWrite; shuffleRead += k * o.shuffleRead
    spill += k * o.spill; inputBytes += k * o.inputBytes
    inputRecords += k * o.inputRecords; outputBytes += k * o.outputBytes
    outputRecords += k * o.outputRecords
  }
  def +=(o: Agg): Unit = add(o, 1)
  def -=(o: Agg): Unit = add(o, -1)
}

/** SparkListener that attributes jobs, stages and task metrics to the job
  * group (`spark.jobGroup.id`) each job was submitted under.
  */
final class EngineListener extends SparkListener {
  import Trace.JobGroupKey
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val aggs = new ConcurrentHashMap[String, Agg]()
  /** (group, start ms, end ms) of every finished job. */
  val jobTimes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  val started = new AtomicLong
  val ended = new AtomicLong

  private def agg(g: String): Agg = aggs.computeIfAbsent(g, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobGroupKey))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart.put(e.jobId, (g, e.time))
    val a = agg(g)
    a.synchronized { a.jobs += 1 }
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      jobTimes.add((g, t0, e.time))
    }
    ended.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = agg(stageGroup.getOrDefault(e.stageId, ""))
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }
}

/** Keeps every streaming progress event the benchmark's queries post: the
  * batch timings behind freshness and the stream layer metrics.
  */
final class StreamListener extends StreamingQueryListener {
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  def of(runId: String): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.runId.toString == runId).toSeq.sortBy(_.batchId)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Peak retained heap during the measured phases: the heap in use right
  * after each garbage collection inside a [[watch]], the largest kept. The
  * collectors report every collection (young ones too) with its pools'
  * usage after it; eden is left out, as it is empty after a pause that
  * collects it and still filling after a concurrent-cycle pause. So a
  * merge's or a read's working set counts whenever a collection lands
  * inside it, and a reading taken before collection (mostly collector
  * timing) never does.
  */
final class HeapWatch {
  @volatile private var watching = false
  private val peak = new AtomicLong
  private var forcedMs = 0L
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))
    .map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if pools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Runs `body` with collections counted, after a full collection that
    * leaves only what the run retains going in.
    */
  def watch[T](body: => T): T = {
    val t0 = System.currentTimeMillis()
    System.gc()
    forcedMs += System.currentTimeMillis() - t0
    watching = true
    try body finally watching = false
  }

  def peakMb: Double = peak.get / 1048576.0

  /** Cumulative GC time of every collector, less the forced collections. */
  def gcSeconds: Double = (ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum - forcedMs) / 1000.0
}

/** Spans around the benchmark's calls into each layer. Off: `span` just
  * runs its body. On: each span runs its jobs under its own job group, so
  * the [[EngineListener]] can attribute engine work to it; spans stay in
  * memory until [[write]].
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var current = -1
  val engine = new EngineListener

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    nextId += 1
    val id = nextId
    val parent = current
    val group = s"span-$id"
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    val prevDesc = sc.getLocalProperty(JobDescKey)
    sc.setJobGroup(group, name)
    current = id
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(id, name, parent, t0, System.currentTimeMillis(), group)
      current = parent
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  /** Records an interval measured elsewhere (a stream batch, whose jobs run
    * under the query's own job group).
    */
  def external(name: String, startMs: Long, endMs: Long, group: String): Unit =
    if (enabled) {
      nextId += 1
      spans += Span(nextId, name, current, startMs, endMs, group)
    }

  /** Blocks until every started job has ended and the listener bus has
    * been quiet for a moment (events are delivered asynchronously).
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (System.currentTimeMillis() < deadline && {
      val n = engine.ended.get
      val busy = n != last || engine.started.get != n
      last = n
      busy
    }) Thread.sleep(200)
  }

  /** A copy of one job group's engine counters. */
  def groupAgg(group: String): Agg = {
    val out = new Agg
    Option(engine.aggs.get(group)).foreach(out += _)
    out
  }

  /** Engine counters summed over the groups of the spans `pred` picks. */
  def aggOf(pred: Span => Boolean): Agg = {
    val out = new Agg
    spans.filter(pred).map(_.group).distinct
      .foreach(g => Option(engine.aggs.get(g)).foreach(out += _))
    out
  }

  def total: Agg = {
    val out = new Agg
    engine.aggs.values.asScala.foreach(out += _)
    out
  }

  /** Wall time of `s` not covered by any job of its group (or of a child
    * span's group): driver-side planning, listing, commit and waiting.
    */
  def driverGapMs(s: Span): Long = {
    val groups = mutable.Set(s.group)
    var grew = true
    while (grew) {
      val more = spans.filter(c => groups.contains(s"span-${c.parent}"))
        .map(_.group).filterNot(groups.contains)
      grew = more.nonEmpty
      groups ++= more
    }
    val ivs = engine.jobTimes.asScala.toSeq
      .collect { case (g, a, b) if groups(g) =>
        (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0L, (s.endMs - s.startMs) - covered)
  }

  /** Spans as JSON lines (name, start, end, parent). */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start":${s.startMs},"end":${s.endMs},"parent":${s.parent}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}
