package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call: `parent` 0 is a root; `op` groups the spans of one
  * workload operation. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, endNs: Long)

/** Spans around the calls the benchmark makes into the engine. A disabled
  * tracer runs the body and records nothing. Single client thread: the
  * open-span stack is a plain field. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 1
  private var opId = 0
  /** Adds `nanoTime` to get epoch nanoseconds, for matching Spark's
    * epoch-millisecond job and task times. */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def spans: Seq[Span] = done.toSeq

  /** A root span: one workload operation. */
  def op[T](name: String)(body: => T): T = {
    opId += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, System.nanoTime()) :: stack
      try body
      finally {
        val end = System.nanoTime()
        val start = stack.head._2
        stack = stack.tail
        done += Span(id, stack.headOption.fold(0)(_._1), name, opId, start, end)
      }
    }
}

object Tracer {
  /** Name of the spans that mark time taken off the phase clock. */
  val Pause = "harness.pause"
}

/** Spark jobs and task metrics, kept as flat rows until the phase ends.
  * Jobs are matched to spans afterwards by submission time. */
final class StageCapture extends SparkListener {
  // jobId, submit epoch ms, end epoch ms, stage ids
  val jobs = new ConcurrentLinkedQueue[(Int, Long, Long, Seq[Int])]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  // stageId, launch ms, finish ms, cpu ns, run ms, gc ms, shuffle write B,
  // shuffle read B, spill B, peak exec mem B, input B, input records
  val tasks = new ConcurrentLinkedQueue[Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    open.put(e.jobId, (e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (t0, stages) =>
      jobs.add((e.jobId, t0, e.time, stages))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Array(
      e.stageId.toLong, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
  }
}

/** Process-level counters over one or more phases: CPU, GC time and the
  * peak heap left after any collection (from the JVM's GC notifications). */
final class JvmMonitor {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  @volatile private var peakAfterGc = 0L
  @volatile private var counting = false
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (counting && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        if (used > peakAfterGc) peakAfterGc = used
      }
  }
  gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  private var cpu0, gc0, wall0 = 0L
  private var cpuNs, gcMsSum, wallNs = 0L
  private var load0 = Double.NaN

  private def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum

  def start(): Unit = {
    counting = true
    if (load0.isNaN) load0 = os.getSystemLoadAverage
    cpu0 = os.getProcessCpuTime; gc0 = gcMs; wall0 = System.nanoTime()
  }

  def stop(): Unit = {
    counting = false
    cpuNs += os.getProcessCpuTime - cpu0
    gcMsSum += gcMs - gc0
    wallNs += System.nanoTime() - wall0
  }

  /** The figures over every start .. stop so far. */
  def report: Map[String, Double] = {
    // no collection while counting: fall back to the heap in use now
    val peak = if (peakAfterGc > 0) peakAfterGc
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Map("cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMsSum / 1e3, "wall_s" -> wallNs / 1e9,
      "cpu_per_wall" -> cpuNs.toDouble / wallNs, "heap_peak_mb" -> peak / 1048576.0,
      "loadavg_start" -> load0, "loadavg_end" -> os.getSystemLoadAverage)
  }

  def close(): Unit = gcs.foreach {
    case e: NotificationEmitter => e.removeNotificationListener(listener)
    case _ => ()
  }
}

object StageCapture {
  /** Capture the jobs and tasks of `body`, complete once it returns. */
  def around(sc: SparkContext)(body: => Unit): StageCapture = {
    val cap = new StageCapture
    sc.addSparkListener(cap)
    try {
      body
      org.apache.spark.perfbench.ListenerDrain.drain(sc)
      cap
    } finally sc.removeSparkListener(cap)
  }
}
