package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.operators.Http

/** One timed call into a layer. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for calls made on the driver thread. While
  * a span is open its name is the Spark local property
  * [[Tracer.SpanProp]], so [[SparkStats]] attributes the jobs it
  * starts to it. Disabled, `apply` only runs the body.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = Tracer.nextId.getAndIncrement()
      val parent = stack.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }

  def recorded: Seq[Span] = spans.toSeq
  def clear(): Unit = spans.clear()
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val nextId = new AtomicInteger

  /** Length of the union of half-open intervals. */
  def coverNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its
    * interval that its direct children cover (children clipped to the
    * parent, overlaps counted once).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durNs - coverNs(kids))
    }.toMap
  }

  /** Total duration and total self time per span name, seconds. */
  def byName(spans: Seq[Span]): Map[String, (Double, Double)] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(_.durNs).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9)
    }
  }
}

/** Client-side counters of the Http operator's transport calls. The
  * transport is serialized into tasks, so the counters live in this
  * JVM-wide object, not in the transport instance.
  */
object HttpStats {
  val requests = new AtomicLong
  val inFlightMax = new AtomicInteger
  private val urls = ConcurrentHashMap.newKeySet[String]()
  private var inFlight = 0
  private var busySince = 0L
  private var busyNs = 0L

  def reset(): Unit = synchronized {
    requests.set(0); inFlightMax.set(0); urls.clear(); inFlight = 0; busyNs = 0L
  }
  def distinctUrls: Int = urls.size
  /** Wall seconds with at least one request in flight. */
  def busySeconds: Double = synchronized(busyNs / 1e9)

  def begin(url: String): Unit = {
    requests.incrementAndGet(); urls.add(url)
    synchronized {
      if (inFlight == 0) busySince = System.nanoTime()
      inFlight += 1
      inFlightMax.accumulateAndGet(inFlight, math.max)
    }
  }
  def end(): Unit = synchronized {
    inFlight -= 1
    if (inFlight == 0) busyNs += System.nanoTime() - busySince
  }
}

/** The production JDK transport with [[HttpStats]] counting around it. */
object TimingTransport extends Http.Transport {
  override def get(url: String, headers: Seq[(String, String)], timeoutMs: Int): Http.Exchange = {
    HttpStats.begin(url)
    try Http.JdkTransport.get(url, headers, timeoutMs)
    finally HttpStats.end()
  }
}

/** Spark task totals, overall and per enclosing span (by the
  * [[Tracer.SpanProp]] local property of the job that ran them).
  */
final class SparkStats extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val inputBytes = new AtomicLong
  }
  val total = new Acc
  private val bySpan = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()

  def span(name: String): Acc = bySpan.computeIfAbsent(name, _ => new Acc)

  def reset(): Unit = {
    Seq(total.jobs, total.tasks, total.runMs, total.cpuNs, total.gcMs, total.shuffleWriteBytes,
      total.spillBytes, total.inputBytes).foreach(_.set(0))
    bySpan.clear(); stageSpan.clear(); stageTaskMs.clear()
  }

  /** Mean over stages with several tasks of (slowest task / mean task). */
  def taskSkew: Double = {
    val ratios = stageTaskMs.values.asScala.map(_.asScala.toSeq).filter(_.size > 1).map { ts =>
      val mean = ts.sum.toDouble / ts.size
      if (mean <= 0) 1.0 else ts.max / mean
    }.toSeq
    if (ratios.isEmpty) 1.0 else ratios.sum / ratios.size
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).getOrElse("-")
    total.jobs.incrementAndGet(); span(name).jobs.incrementAndGet()
    e.stageIds.foreach(stageSpan.put(_, name))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val accs = Seq(total, span(stageSpan.getOrDefault(e.stageId, "-")))
      accs.foreach { a =>
        a.tasks.incrementAndGet()
        a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
      stageTaskMs.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long])
        .add(m.executorRunTime)
    }
  }
}

/** Largest heap in use right after any collection while armed, from
  * the JVM's GC notifications.
  */
object HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData

  @volatile var armed = false
  val peakBytes = new AtomicLong
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener((n: Notification, _: AnyRef) => {
        if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakBytes.accumulateAndGet(used, math.max)
        }
      }, null, null)
    case _ =>
  }
}
