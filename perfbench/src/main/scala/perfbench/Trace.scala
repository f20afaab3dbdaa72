package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval around a call into a layer. `parent` is the id of
  * the enclosing span (0 at the top), `request` the id every span of one
  * request or batch shares.
  */
final case class Span(id: Int, parent: Int, request: String, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, it only runs the timed body. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val context = ThreadLocal.withInitial[(Int, String)](() => (0, ""))

  /** Run `f` with every span it records tagged with `request`. */
  def request[A](request: String)(f: => A): A = {
    val saved = context.get
    context.set((0, request))
    try f finally context.set(saved)
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val (parent, req) = context.get
      val id = ids.incrementAndGet()
      context.set((id, req))
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
        context.set((parent, req))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Span duration minus the part of it that its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var upTo = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, upTo); val hi = math.min(b, s.endNs)
      if (hi > lo) { covered += hi - lo; upTo = hi }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = new PrintWriter(path.toFile, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"request":"${s.request}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark jobs, tasks and input bytes per job group — the traced run tags
  * each direct route call with its own group.
  */
final class JobGroupListener extends SparkListener {
  final class Counts { var jobs = 0; var tasks = 0; var bytesRead = 0L }
  private val stageGroup = mutable.Map.empty[Int, String]
  private val counts = mutable.Map.empty[String, Counts]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        counts.getOrElseUpdate(g, new Counts).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counts.getOrElseUpdate(g, new Counts)
      c.tasks += 1
      if (e.taskMetrics != null) c.bytesRead += e.taskMetrics.inputMetrics.bytesRead
    }
  }

  /** Counts for `group`, once every event posted so far is delivered. */
  def take(sc: org.apache.spark.SparkContext, group: String): Counts = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    synchronized { counts.remove(group).getOrElse(new Counts) }
  }
}

/** Collector time and peak heap over a phase, from the JVM's own beans. */
final class JvmMeter {
  private def collectorMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  var gcMs = 0.0
  var heapPeakMb = 0.0

  def start(): Unit = { heapPools.foreach(_.resetPeakUsage()); gc0 = collectorMs }
  def stop(): Unit = {
    gcMs = (collectorMs - gc0).toDouble
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
