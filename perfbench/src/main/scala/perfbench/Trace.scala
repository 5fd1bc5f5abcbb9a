package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the System.nanoTime clock. `parent` is -1 for a
  * root span; spans derived from engine events get their parent from
  * interval containment (see [[SelfTime]]).
  */
final case class Span(id: Int, parent: Int, layer: String, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Conversions from epoch milliseconds (Spark and JMX events) to nanoTime. */
object Clock {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  def fromEpochMs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L
  def fromJvmMs(ms: Long): Long = fromEpochMs(jvmStartMs + ms)
}

/** JVM-wide counters, read directly from the platform MXBeans. GC pauses
  * and the heap in use right after each collection arrive through JMX
  * notifications, which cost nothing when no collection happens.
  */
object Jvm {
  /** One collection: its interval and the heap in use right after it. */
  final case class Gc(start: Long, end: Long, heapAfter: Long)

  val gcs = new ConcurrentLinkedQueue[Gc]()

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
            val heapAfter = info.getMemoryUsageAfterGc.asScala.collect {
              case (pool, use) if heapPools(pool) => use.getUsed
            }.sum
            gcs.add(Gc(Clock.fromJvmMs(info.getStartTime), Clock.fromJvmMs(info.getEndTime), heapAfter))
          }
      }, null, null)
    case _ =>
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
  /** Classes Spark's code generator has compiled with Janino (cache misses). */
  def codegenCompiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  /** Highest heap in use right after a collection that ended in [start, end); 0 if none did. */
  def peakHeapAfterGc(start: Long, end: Long): Long =
    gcs.asScala.filter(g => g.end >= start && g.end < end).map(_.heapAfter).maxOption.getOrElse(0L)
  def gcsBetween(start: Long, end: Long): Seq[Gc] = gcs.asScala.filter(g => g.start >= start && g.start < end).toSeq
}

/** Engine events of a traced pass: jobs, stages and tasks from a
  * SparkListener, the planning phases of every query from its
  * QueryPlanningTracker, and streaming micro-batches from a
  * StreamingQueryListener. Attached only around traced passes.
  */
final class EngineRecorder(spark: SparkSession) {
  import EngineRecorder._

  val jobStarts = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  val jobEnds = new ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  private def stage(id: Int): Stage = stages.computeIfAbsent(id, _ => new Stage)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (Clock.fromEpochMs(e.time), e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, Clock.fromEpochMs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stage(e.stageInfo.stageId).completed = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val s = stage(e.stageId)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          val info = e.taskInfo
          if (info != null && info.finishTime > 0)
            s.schedDelayMs += math.max(0L, info.finishTime - info.launchTime - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }
  }

  private def recordPlanning(qe: QueryExecution): Unit = {
    val t = qe.tracker
    if (seen.synchronized(seen.add(t)))
      t.phases.foreach { case (name, p) =>
        phases.add(Phase(name, Clock.fromEpochMs(p.startTimeMs), Clock.fromEpochMs(p.endTimeMs)))
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = recordPlanning(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = recordPlanning(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val dur = Option(p.batchDuration).getOrElse(0L) * 1000000L
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      batches.add(Batch(p.runId.toString, start, start + dur,
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Drains the bus, so every event of the pass is in, then detaches. */
  def detach(): Unit = {
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def jobs: Seq[Job] = jobStarts.asScala.toSeq.map { case (id, (start, st)) =>
    Job(id, start, math.max(start, Option(jobEnds.get(id)).getOrElse(start)), st)
  }.sortBy(_.start)

  def clear(): Unit = {
    jobStarts.clear(); jobEnds.clear(); stages.clear(); phases.clear(); batches.clear()
    seen.synchronized(seen.clear())
  }
}

object EngineRecorder {
  final case class Job(id: Int, start: Long, end: Long, stages: Seq[Int])
  final class Stage {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
    var schedDelayMs = 0L; var completed = false
  }
  final case class Phase(name: String, start: Long, end: Long)
  final case class Batch(runId: String, start: Long, end: Long, stateRows: Long, commitMs: Long)
}

/** Self time of a span: its duration minus the part of it that its child
  * spans cover. Engine-event spans have no recorded parent; each takes as
  * parent the shortest other span that contains its interval.
  */
object SelfTime {
  def withParents(spans: Seq[Span]): Seq[Span] = spans.map { s =>
    if (s.parent >= 0) s
    else {
      val cands = spans.filter(p => p.id != s.id && p.start <= s.start && s.end <= p.end &&
        (p.dur > s.dur || (p.dur == s.dur && p.id < s.id)))
      if (cands.isEmpty) s else s.copy(parent = cands.minBy(p => (p.dur, p.id)).id)
    }
  }

  def covered(parent: Span, kids: Seq[Span]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.map(k => (math.max(k.start, parent.start), math.min(k.end, parent.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self nanoseconds per layer over spans already linked to parents. */
  def byLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.dur - covered(s, kids.getOrElse(s.id, Nil))).sum
    }
  }
}
