package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a call the benchmark made into one module. */
final case class Span(id: Long, parent: Long, name: String, req: String,
                      startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into the engine's modules.
  *
  * Disabled, `span` only runs its body. Enabled, it records name,
  * start, end, parent span and request id in memory, and tags the
  * calling thread's Spark jobs with the span name and request id (as
  * local properties) so [[SparkCounters]] can attribute task counters
  * to the same boundaries. Spans are written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  /** Recording switch; a traced run turns it off for its untraced
    * comparison phase. */
  @volatile var on: Boolean = enabled
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)

  def span[T](sc: SparkContext, name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val outer = stack.get()
      val id = ids.incrementAndGet()
      stack.set((id, name) :: outer)
      sc.setLocalProperty(Tracer.SpanKey, name)
      sc.setLocalProperty(Tracer.ReqKey, req)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), name, req,
          t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanKey, outer.headOption.map(_._2).orNull)
        if (outer.isEmpty) sc.setLocalProperty(Tracer.ReqKey, null)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanKey = "perfbench.span"
  val ReqKey = "perfbench.req"
}

/** Task-level Spark counters, summed per tag (span name or request
  * id). Jobs and stages are tagged from the local properties
  * the submitting thread set; tasks inherit their stage's tags. */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill, records = 0L
    def toMap: Map[String, Double] = Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "task_s" -> taskMs / 1000.0, "shuffle_read_bytes" -> shuffleRead.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.toDouble, "spill_bytes" -> spill.toDouble,
      "input_records" -> records.toDouble)
  }
  private val lock = new Object
  val bySpan = mutable.Map.empty[String, Acc]
  val byReq = mutable.Map.empty[String, Acc]
  private val stageTags = mutable.Map.empty[Int, (Option[String], Option[String])]
  @volatile var events = 0L

  private def accs(tags: (Option[String], Option[String])): Seq[Acc] =
    tags._1.map(bySpan.getOrElseUpdate(_, new Acc)).toSeq ++
      tags._2.map(byReq.getOrElseUpdate(_, new Acc)).toSeq

  private def tagsOf(p: java.util.Properties): (Option[String], Option[String]) =
    if (p == null) (None, None)
    else (Option(p.getProperty(Tracer.SpanKey)), Option(p.getProperty(Tracer.ReqKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    events += 1
    val tags = tagsOf(e.properties)
    accs(tags).foreach(_.jobs += 1)
    e.stageIds.foreach(s => stageTags(s) = tags)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    events += 1
    val tags = tagsOf(e.properties)
    stageTags(e.stageInfo.stageId) = tags
    accs(tags).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    events += 1
    val m = e.taskMetrics
    accs(stageTags.getOrElse(e.stageId, (None, None))).foreach { a =>
      a.tasks += 1
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.records += m.inputMetrics.recordsRead
      }
    }
  }

  /** The listener bus delivers asynchronously: wait until no event has
    * arrived for `quietMs` before the counters are read. */
  def settle(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (events != last && System.currentTimeMillis() < deadline) {
      last = events
      Thread.sleep(quietMs)
    }
  }
}

/** Highest heap in use right after a garbage collection (the live
  * set plus what survived), over the collections that end between
  * `start` and `collectAndStop`, read from the JVM's GC notifications,
  * and the one `collectAndStop` makes. */
final class HeapSampler {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  @volatile private var running = false
  @volatile var peakBytes = 0L
  @volatile var collections = 0L
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (running && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        synchronized {
          peakBytes = math.max(peakBytes, after)
          collections += 1
        }
      }
  }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def start(): Unit = running = true
  /** Collects, folds the live heap after it into the peak and stops. */
  def collectAndStop(): Unit = {
    running = false
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { peakBytes = math.max(peakBytes, used) }
  }
}

object HeapSampler {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
