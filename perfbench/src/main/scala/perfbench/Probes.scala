package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The `engine` layer as the scheduler reports it: jobs, stages, tasks and
  * their metrics, accumulated from the listener bus. Counters only grow;
  * a phase's numbers are the difference of two [[snap]]s. */
final class EngineListener extends SparkListener {
  import EngineListener.Snap

  private var jobs, jobsFailed, stages, tasks, runMs, cpuNs = 0L
  private var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  private val jobStart = mutable.HashMap.empty[Int, Long]
  /** (start ms, end ms) of every finished job. */
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTasks = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  /** (completion ms, max/median task duration) per stage with ≥ 2 tasks. */
  private val skews = mutable.ArrayBuffer.empty[(Long, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    e.jobResult match {
      case JobSucceeded =>
      case _ => jobsFailed += 1
    }
    jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageTasks.remove(key).foreach { ds =>
      if (ds.size >= 2) {
        val med = Stats.median(ds.map(_.toDouble))
        if (med > 0) skews += ((System.currentTimeMillis(), ds.max / med))
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snap(): Snap = synchronized {
    Snap(jobs, jobsFailed, stages, tasks, runMs, cpuNs, shuffleWrite,
      shuffleRead, fetchWaitMs, spill)
  }

  /** Wall time in [fromMs, toMs] that no job covers. */
  def driverGapMs(fromMs: Long, toMs: Long): Long = synchronized {
    val spans = jobSpans.iterator
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (toMs - fromMs) - covered
  }

  def skewP50(fromMs: Long, toMs: Long): Double = synchronized {
    Stats.median(skews.collect { case (t, s) if t >= fromMs && t <= toMs + 1000 => s })
  }
}

object EngineListener {
  final case class Snap(jobs: Long, jobsFailed: Long, stages: Long, tasks: Long,
                        runMs: Long, cpuNs: Long, shuffleWrite: Long,
                        shuffleRead: Long, fetchWaitMs: Long, spill: Long)

  /** JVM-wide GC seconds so far (local mode: executors share the JVM, so
    * per-task GC times would count one pause once per running task). */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}

/** A measured window of engine activity: the per-layer `engine.*` metrics
  * of everything the scheduler ran between [[EngineWindow.open]] and
  * [[close]]. */
final class EngineWindow private (spark: SparkSession, l: EngineListener) {
  private val a = { Bus.drain(spark); l.snap() }
  private val wallA = System.currentTimeMillis()
  private val gcA = EngineListener.gcSeconds()

  def close(): Map[String, Double] = {
    Bus.drain(spark)
    val b = l.snap()
    val wallB = System.currentTimeMillis()
    val wallS = math.max(1L, wallB - wallA) / 1000.0
    val runS = (b.runMs - a.runMs) / 1000.0
    Map(
      "engine.jobs" -> (b.jobs - a.jobs).toDouble,
      "engine.stages" -> (b.stages - a.stages).toDouble,
      "engine.tasks" -> (b.tasks - a.tasks).toDouble,
      "engine.driver_gap_s" -> l.driverGapMs(wallA, wallB) / 1000.0,
      "engine.executor_run_s" -> runS,
      "engine.executor_cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
      "engine.cores_busy" -> runS / wallS,
      "engine.task_skew_p50" -> l.skewP50(wallA, wallB),
      "engine.shuffle_write_mb" -> (b.shuffleWrite - a.shuffleWrite) / 1048576.0,
      "engine.shuffle_read_mb" -> (b.shuffleRead - a.shuffleRead) / 1048576.0,
      "engine.shuffle_fetch_wait_s" -> (b.fetchWaitMs - a.fetchWaitMs) / 1000.0,
      "engine.spill_mb" -> (b.spill - a.spill) / 1048576.0,
      "engine.gc_s" -> (EngineListener.gcSeconds() - gcA))
  }
}

object EngineWindow {
  def open(spark: SparkSession, l: EngineListener): EngineWindow =
    new EngineWindow(spark, l)
}

/** The benchmark's own `StreamingQueryListener`: every progress report of
  * every query, in arrival order. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val rows = mutable.HashMap.empty[java.util.UUID, Long]
  @volatile private var terminatedWithError: Option[String] = None
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      buf += e.progress
      rows(e.progress.id) = rows.getOrElse(e.progress.id, 0L) + e.progress.numInputRows
    }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => terminatedWithError = Some(x))
  def size: Int = synchronized(buf.size)
  /** Input rows of all finished batches of one query. */
  def inputRows(id: java.util.UUID): Long = synchronized(rows.getOrElse(id, 0L))
  def since(i: Int): Seq[StreamingQueryProgress] = synchronized(buf.drop(i).toSeq)
  def error: Option[String] = terminatedWithError
}

/** Peak old-generation occupancy after GC. Full collections are forced at
  * each [[sample]] point (outside timed regions) so the pool's collection
  * usage is the live set there, not the garbage a young pause left. */
object Heap {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  @volatile private var peak = 0L

  def sample(): Unit = {
    // the second collection takes what Spark's ContextCleaner released
    // in reaction to the first (unreferenced RDD and checkpoint blocks)
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = oldPools.map { p =>
      val cu = p.getCollectionUsage
      if (cu != null && cu.getUsed > 0) cu.getUsed else p.getUsage.getUsed
    }.sum
    if (used > peak) peak = used
  }
  def peakMb: Double = peak / 1048576.0
  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}

/** In-memory span recorder for the traced run: name, start, end, parent
  * and the shared id of the batch or job a span belongs to. Disabled, it
  * only runs the body. */
object Trace {
  final case class Span(id: Long, parent: Long, group: String, name: String,
                        startNs: Long, endNs: Long)
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val origin = System.nanoTime()

  def span[T](name: String, group: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, group, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def count: Int = spans.size

  def dump(path: String): Unit =
    Json.writeFile(path, spans.asScala.toSeq.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "group" -> s.group, "name" -> s.name,
      "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6)))
}

/** Wall-clock timing of a block, in seconds. */
object Clock {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The open-loop generator: events [from, until) fall due at
  * `wall0 + (i − from)·stepNs`, whatever the system does. Due events queue
  * at the generator (a broker's role) and go to the source in one hand-off
  * whenever the batch that took the previous hand-off has finished, so a
  * micro-batch reads everything queued at its start, as from a Kafka
  * partition. Latency is timed from the due time, so queueing counts. */
final class OpenLoop(from: Int, until: Int, stepNs: Long,
                     push: (Int, Int) => Unit, consumed: () => Boolean,
                     backlog: () => Long) {
  val TickNs = 5000000L
  val wall0: Long = System.nanoTime() + 50000000L
  def due(i: Int): Long = wall0 + (i - from).toLong * stepNs
  /** How late the generator itself ran past a due time, at worst (ms). */
  var lateMsMax = 0.0
  /** Events sent but not in a finished batch, every 100 ms. */
  val backlogs = mutable.ArrayBuffer.empty[Long]

  def run(): this.type = {
    var queued = from   // due and taken from the schedule
    var pushed = from   // handed to the source
    var nextSample = wall0
    while (pushed < until) {
      val nextDue = if (queued < until) due(queued) else Long.MaxValue
      val wait = math.min(nextDue, System.nanoTime() + TickNs) - System.nanoTime()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      val now = System.nanoTime()
      val nowDue = math.min(until.toLong, from + (now - wall0) / stepNs + 1).toInt
      if (nowDue > queued) {
        lateMsMax = math.max(lateMsMax, (now - due(queued)) / 1e6)
        queued = nowDue
      }
      if (queued > pushed && consumed()) {
        push(pushed, queued)
        pushed = queued
      }
      if (now >= nextSample) {
        backlogs += backlog()
        nextSample = now + 100000000L
      }
    }
    this
  }

  /** The backlog grew: its peak in the second half of the phase exceeds
    * twice the first half's (or one second of traffic). */
  def backlogGrew(perSecond: Long): Boolean = backlogs.size >= 4 && {
    val h = backlogs.size / 2
    backlogs.drop(h).max > 2 * math.max(backlogs.take(h).max, perSecond)
  }
  def backlogMax: Long = if (backlogs.isEmpty) 0L else backlogs.max
  /** Valid: the generator kept its schedule and the backlog did not grow. */
  def valid(perSecond: Long): Boolean = lateMsMax < 100.0 && !backlogGrew(perSecond)
}

object OpenLoop {
  /** The MemoryStream offset the query's last finished batch ended at (−1
    * before any batch); hand-off k becomes offset k. */
  def endOffset(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
}
