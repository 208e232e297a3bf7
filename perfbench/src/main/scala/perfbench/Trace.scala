package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One timed call. A root span (parent 0) is one benchmark op; its children
  * are the calls into the library's public functions made for that op. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def json(layer: String, selfMs: Double): String =
    s"""{"id":$id,"parent":$parent,"op":$op,"name":"$name","start_ns":$startNs,"end_ns":$endNs,""" +
      s""""layer":"$layer","self_ms":$selfMs}"""
}

/** Spans, per-layer counts and per-op Spark job attribution. Disabled (the
  * end-to-end runs), `span` only runs its body and `note` drops its value,
  * so the measured code path is the same in both modes. Spans stay in
  * memory until the run ends. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val notes = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  // (span id, op id) of the open spans on this thread, innermost first
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  val jobs: Option[JobListener] =
    if (!enabled) None
    else {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val (parent, op) = stack.get match {
        case (p, o) :: _ => (p, o)
        case Nil => (0L, id)
      }
      val sc = spark.sparkContext
      // Spark jobs carry the thread's job group, which ties each job to the
      // innermost open span
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      stack.set((id, op) :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, op, name, t0, t1))
        if (parent == 0L) sc.clearJobGroup()
        else sc.setJobGroup(s"span-$parent", name, interruptOnCancel = false)
      }
    }

  def note(name: String, v: Double): Unit =
    if (enabled) notes.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  def noted(name: String): Seq[Double] =
    Option(notes.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

/** Spark job, task, shuffle, spill and GC counts per span, keyed by the job
  * group [[Tracer.span]] sets on its thread (span 0 = jobs run outside any
  * span). Jobs a library call starts from its own worker threads carry
  * whatever group those threads inherited, so attribution is per call on
  * the calling thread and approximate elsewhere. */
final class JobListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var listingJobs = 0L; var tasks = 0L; var runMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var peakMem = 0L
  }
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val bySpan = new ConcurrentHashMap[Long, Acc]()
  private def acc(span: Long): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.drop(5).toLong).getOrElse(0L)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val listing = desc.startsWith("Listing leaf files") ||
      e.stageInfos.exists(_.name.startsWith("Listing leaf files"))
    e.stageIds.foreach(stageSpan.put(_, span))
    val a = acc(span)
    a.synchronized {
      a.jobs += 1
      if (listing) a.listingJobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, 0L))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }
}

/** Process-wide JVM readings. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Heap in use right after a full collection: the live set. The second
    * collection runs after Spark's cleaner thread has released what the
    * first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Watches every collection from `start` on and keeps the highest old-gen
    * usage any of them left behind, so memory an op holds across a
    * collection counts even when it is freed before the window ends. */
  final class OldGenPeak extends NotificationListener {
    @volatile private var on = false
    private val peak = new AtomicLong(0L)
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e
    }
    beans.foreach(_.addNotificationListener(this, null, null))

    def start(): Unit = on = true

    def stopMb(): Double = {
      on = false
      beans.foreach(_.removeNotificationListener(this))
      peak.get / 1048576.0
    }

    override def handleNotification(n: Notification, handback: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val old = after.collect {
          case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed
        }.sum
        peak.accumulateAndGet(old, (a, b) => math.max(a, b))
      }
  }
}

/** The host's CPU time split, from the first line of /proc/stat (Linux). */
object HostCpu {
  /** (all ticks, steal ticks); steal is time the hypervisor ran something
    * else while this machine's CPUs wanted to run. (0, 0) off Linux. */
  def ticks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  /** Steal as a share of all CPU time between two readings. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val all = to._1 - from._1
    if (all <= 0) 0.0 else (to._2 - from._2).toDouble / all
  }
}

object Stats {
  /** Linear-interpolated quantile (the same definition as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
