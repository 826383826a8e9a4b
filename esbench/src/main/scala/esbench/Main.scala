package esbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run measured and checked; printed as one marked JSON line that
  * run.py turns into the benchmark's output. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Query name -> directory holding its result, for the DuckDB oracle. */
  val oracle = mutable.LinkedHashMap.empty[String, String]
  var oracleData: String = ""
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** One correctness check: counts as attempted, and as failed when false. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (problems.size < 20) problems += what }
  }

  /** One operation of the workload; a throw counts as a failure. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Exception =>
        failed += 1
        if (problems.size < 20) problems += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  import Report.str
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json: String = {
    val ms = metrics.map { case (n, (v, u)) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
    val or = oracle.map { case (q, d) => s"${str(q)}:${str(d)}" }
    s"""{"attempted":$attempted,"failed":$failed,"problems":[${problems.map(str).mkString(",")}],""" +
      s""""metrics":{${ms.mkString(",")}},"oracle":{${or.mkString(",")}},"oracle_data":${str(oracleData)}}"""
  }
}

object Report {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val dataDir: String, val workDir: String, val outDir: String,
    val tracer: Tracer, val probe: Option[SparkProbe], val report: Report) {
  def traced: Boolean = tracer.on

  /** Run `f` with its Spark jobs attributed to `label`. */
  def labeled[T](label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("esbench.label")
    sc.setLocalProperty("esbench.label", label)
    try f finally sc.setLocalProperty("esbench.label", prev)
  }

  def timedMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Driver and executor metrics of the jobs under `labels`, over a window
    * of `wallMs` that began at epoch ms `t0`. */
  def sparkLayerMetrics(labels: Set[String], t0: Long, wallMs: Double): Unit = probe.foreach { p =>
    p.drain()
    val r = report
    r.metric("driver.jobs", p.sum(labels)(_.jobs).toDouble, "count")
    r.metric("driver.stages", p.sum(labels)(_.stages).toDouble, "count")
    r.metric("driver.tasks", p.sum(labels)(_.tasks).toDouble, "count")
    r.metric("driver.catalyst_ms", p.catalystNs.get / 1e6, "ms")
    r.metric("driver.gap_ms", p.gapMs(t0, t0 + wallMs.toLong).toDouble, "ms")
    r.metric("executor.task_cpu_ms", p.sum(labels)(_.cpuNs) / 1e6, "ms")
    r.metric("executor.gc_ms", p.sum(labels)(_.gcMs).toDouble, "ms")
    r.metric("executor.shuffle_bytes", p.sum(labels)(_.shuffleBytes).toDouble, "B")
    r.metric("executor.spill_bytes", p.sum(labels)(_.spillBytes).toDouble, "B")
    val cores = spark.sparkContext.defaultParallelism
    r.metric("executor.core_util", p.sum(labels)(_.runMs) / math.max(1.0, wallMs * cores), "ratio")
  }
}

/** The benchmark JVM. run.py generates the inputs, starts this main and
  * checks query results against the DuckDB oracle.
  *
  * Usage: esbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> */
object Main {
  val Marker = "@@ESBENCH "

  /** Progress on stderr, in seconds since the JVM started. */
  def phase(what: String): Unit = System.err.println(f"[esbench] ${
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s: $what")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val work = s"$runDir/work"
    val report = new Report
    val spark = graft.GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Main.phase("session ready")
    val probe = if (trace) { val p = new SparkProbe(spark); p.install(); Some(p) } else None
    val tracer = new Tracer(trace, s"$workload-$seed")
    val ctx = new Ctx(spark, seed, secondsS.toInt, s"$runDir/data", work, s"$runDir/out",
      tracer, probe, report)
    try {
      workload match {
        case "store_live" => StoreLive.run(ctx)
        case "registry_queries" => QueryWorkloads.registryQueries(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (report.oracle.nonEmpty) writeOracleSql(report, s"$runDir/out/oracle_sql.json")
      if (trace) {
        tracer.selfMs.foreach { case (layer, ms) => report.metric(s"$layer.self_ms", ms, "ms") }
        tracer.writeJsonl(new java.io.File(s"$runDir/spans.jsonl"))
      }
    } catch {
      case e: Exception =>
        report.failed += 1; report.attempted += 1
        report.problems += s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      phase("workload done")
      spark.stop()
      phase("session stopped")
      report.metric("peak_rss_mb", Stats.peakRssMb(), "MB")
      println(Marker + report.json)
    }
  }

  private def writeOracleSql(report: Report, file: String): Unit = {
    val sql = report.oracle.keys.map(q => q -> graft.SparkEntry.oracleSql(q))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
      sql.map { case (q, s) => s"${Report.str(q)}:${Report.str(s)}" }.mkString("{", ",", "}"))
  }
}

object Dirs {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (files, bytes) under a directory. */
  def usage(f: java.io.File, suffix: String = ""): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File])
      .map(usage(_, suffix)).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.getName.endsWith(suffix)) (1L, f.length) else (0L, 0L)
}
