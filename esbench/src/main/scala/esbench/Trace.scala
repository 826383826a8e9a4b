package esbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its calls into each layer. They
  * stay in memory and are written out when the run ends. With tracing off
  * a span is just the call. */
final case class Span(id: Int, layer: String, name: String, parent: Int,
    startNs: Long, endNs: Long)

final class Tracer(val on: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def apply[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.synchronized(spans += Span(id, layer, name, outer.headOption.getOrElse(0), t0, t1))
      }
    }

  private def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer: each span's duration minus the part its child
    * spans cover (children run on the parent's thread, so they nest and
    * do not overlap). */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6).sum
    }
  }

  def writeJsonl(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Counters a label accumulates: jobs, stages and tasks plus task metrics. */
final class LabelCounters {
  val jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleBytes, spillBytes = new AtomicLong
}

/** The benchmark's readers of Spark's public listener APIs. Every job is
  * attributed to the `esbench.label` local property of the thread that
  * submitted it, which the benchmark sets around each call. */
final class SparkProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val Label = "esbench.label"
  private val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LabelCounters]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start ms, end ms) of every finished job, for driver-gap accounting. */
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val catalystNs = new AtomicLong
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def of(label: String): LabelCounters = counters.computeIfAbsent(label, _ => new LabelCounters)
  def label(l: String): LabelCounters = of(l)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  /** Forget everything counted so far (after the bus has drained). */
  def reset(): Unit = {
    drain()
    counters.clear(); catalystNs.set(0L)
    jobSpans.synchronized(jobSpans.clear())
    progress.synchronized(progress.clear())
  }

  def drain(): Unit = org.apache.spark.esbench.Bus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val l = Option(e.properties).flatMap(p => Option(p.getProperty(Label))).getOrElse("other")
    e.stageIds.foreach(stageLabel.put(_, l))
    jobStart.put(e.jobId, e.time)
    of(l).jobs.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t0 => jobSpans.synchronized(jobSpans += ((t0, e.time))))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageLabel.getOrDefault(e.stageInfo.stageId, "other")).stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageLabel.getOrDefault(e.stageId, "other"))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.runMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    catalystNs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Wall time in [t0, t1] (epoch ms) during which no job was running. */
  def gapMs(t0: Long, t1: Long): Long = {
    val spans = jobSpans.synchronized(jobSpans.toList)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = t0
    spans.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0) - covered
  }

  def sum(labels: Iterable[String])(f: LabelCounters => AtomicLong): Long =
    labels.map(l => f(of(l)).get).sum
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A `_tail` metric. A run has fewer than twenty samples of each timed
    * operation, so no percentile below the maximum has ten samples beyond
    * it: the tail is the maximum (esbench/README.md). */
  def tail(xs: Seq[Double]): Double = quantile(xs, 1.0)

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }
}
