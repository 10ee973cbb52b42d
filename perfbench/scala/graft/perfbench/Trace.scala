package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `name` is `<layer>.<call>`; spans of one
  * traced operation share `trace`, and `parent` is the span that was open on
  * the same thread when this one started (0 for a root).
  */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are only collected here and written out
  * once, when the benchmark ends.
  */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  // (trace, span id) of the spans open on this thread, innermost first
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def newTrace(): Long = ids.incrementAndGet()

  /** Times `body` as a root span of `trace`. */
  def root[A](trace: Long, name: String)(body: => A): A =
    timed(trace, 0L, name, body)

  /** Times `body` as a child of the span open on this thread. */
  def span[A](name: String)(body: => A): A = {
    val (trace, parent) = open.get.headOption.getOrElse((0L, 0L))
    timed(trace, parent, name, body)
  }

  private def timed[A](trace: Long, parent: Long, name: String, body: => A): A = {
    val id = ids.incrementAndGet()
    open.set((trace, id) :: open.get)
    val start = System.nanoTime()
    try body
    finally {
      spans.add(Span(trace, id, parent, name, start, System.nanoTime()))
      open.set(open.get.tail)
    }
  }

  def of(trace: Long): Seq[Span] = spans.asScala.filter(_.trace == trace).toSeq

  /** Seconds each layer spent in its own spans, net of child spans. */
  def selfSeconds(trace: Long): Map[String, Double] = {
    val ss = of(trace)
    val childTime = ss.groupMapReduce(_.parent)(_.seconds)(_ + _)
    ss.groupMapReduce(_.layer)(s => s.seconds - childTime.getOrElse(s.id, 0.0))(_ + _)
  }

  def write(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"trace": ${s.trace}, "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }
    Files.write(Paths.get(path), lines.asJava)
  }
}

/** Task totals from a `SparkListener` plus GC time and after-GC heap from
  * the JVM's management beans. `snapshot()` differences give one window.
  */
final class SparkJvmProbe extends SparkListener {
  private val tasks = new AtomicLong
  private val runNs = new AtomicLong
  private val deserNs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val spill = new AtomicLong
  private val stageTaskNs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val heapAfterGc = new AtomicReference[Long](0L)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ => ()
  }

  private object gcListener extends NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit = n.getUserData match {
      case cd: javax.management.openmbean.CompositeData =>
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
        val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        heapAfterGc.accumulateAndGet(after, (a, b) => math.max(a, b))
      case _ => ()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      runNs.addAndGet(m.executorRunTime * 1000000L)
      deserNs.addAndGet(m.executorDeserializeTime * 1000000L)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      stageTaskNs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration * 1000000L)
    }
  }

  /** Forgets the heap peak so the next window reports its own. */
  def resetHeapPeak(): Unit = heapAfterGc.set(0L)

  def snapshot(): Map[String, Double] = {
    val skews = stageTaskNs.values.asScala.map(_.asScala.toSeq.sorted).collect {
      case ts if ts.length >= 2 && Stats.median(ts.map(_.toDouble)) > 0 =>
        ts.last / Stats.median(ts.map(_.toDouble))
    }
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val heap = math.max(heapAfterGc.get,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    Map(
      "spark.tasks" -> tasks.get.toDouble,
      "spark.task_s" -> runNs.get / 1e9,
      "spark.task_deser_s" -> deserNs.get / 1e9,
      "spark.shuffle_write_mb" -> shuffleWrite.get / 1e6,
      "spark.shuffle_read_mb" -> shuffleRead.get / 1e6,
      "spark.spill_mb" -> spill.get / 1e6,
      "spark.skew_sum" -> skews.sum,
      "spark.skew_stages" -> skews.size.toDouble,
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.heap_peak_mb" -> heap / 1e6)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Per-key median over the operations that reported the key. */
  def medians(samples: Seq[collection.Map[String, Double]]): Map[String, Double] =
    samples.flatMap(_.keys).distinct.map { k =>
      k -> median(samples.flatMap(_.get(k)))
    }.toMap

  def add(m: mutable.Map[String, Double], k: String, v: Double): Unit =
    m(k) = m.getOrElse(k, 0.0) + v
}
