package graft.tools

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Subscriptions

/** Million-stream state-store soak (SURVEY §7's last unmeasured 100 TB
  * hard part: "foreachStream over millions of streams in streaming mode:
  * state-store sizing").
  *
  * Synthesizes a log with N DISTINCT streams (default 1M; pass 5000000
  * for the 5M point), runs the continuous projection fold
  * (`FoldBuilder.statesStream`, flatMapGroupsWithState) and the
  * JS engine's `statesStream` over it on the RocksDB state store
  * ([[graft.GraftSession]] largeStreamingState config), and measures the
  * three numbers that size a production deployment:
  *
  *  - BUILD: wall time + per-batch latency to fold the whole corpus into
  *    N state-store entries, and the resulting checkpoint state size on
  *    disk (what the object store holds);
  *  - TAIL: latency of an incremental micro-batch touching a small
  *    fraction of streams against the full store (steady-state serving);
  *  - RECOVERY: restart-from-checkpoint time for that tail batch — the
  *    provider must reload/open N keys of state before the first batch
  *    commits (what a failover actually costs).
  *
  * Results land in BASELINE.md ("million-stream state store");
  * StreamingSpec pins the recovery contract at a reduced stream count.
  *
  * Usage: StateStoreProbe [streams] [eventsPerStream] [tailStreams] */
object StateStoreProbe {

  private def dirSize(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** N streams × k events in envelope-log shape, written as `files`
    * parquet files so maxFilesPerTrigger yields several micro-batches. */
  private def writeLog(spark: SparkSession, dir: String, streams: Long, k: Long,
      files: Int, posBase: Long, idBase: Long): Unit =
    spark.range(streams * k).select(
      concat(lit("s-"), pmod(col("id"), lit(streams))).as("stream_id"),
      expr(s"id div $streams").as("event_number"),
      concat(lit("e"), col("id") + idBase).as("event_id"),
      lit("E").as("event_type"),
      to_timestamp(lit("2024-01-01 00:00:00")).as("timestamp"),
      (col("id") + posBase).as("log_position"),
      lit(null).cast("string").as("correlation_id"),
      lit(true).as("is_json"),
      concat(lit("""{"v":"""), pmod(col("id"), lit(97)), lit("}")).as("data"),
      lit(null).cast("string").as("metadata"),
      pmod(col("id"), lit(97)).cast("double").as("value"))
      .repartition(files)
      .write.mode("append").parquet(dir)

  def main(args: Array[String]): Unit = {
    val streams = if (args.length > 0) args(0).toLong else 1000000L
    val k = if (args.length > 1) args(1).toLong else 3L
    val tailStreams = if (args.length > 2) args(2).toLong else 100000L

    val spark = graft.GraftSession
      .builder(master = "local[32]", shufflePartitions = 32,
        largeStreamingState = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = Files.createTempDirectory("graft_statestore").toString
    val logDir = s"$root/log"
    val ckScala = s"$root/ck_scala"
    val ckJs = s"$root/ck_js"
    val ckStep = s"$root/ck_step"

    println(s"== synthesizing $streams streams x $k events")
    writeLog(spark, logDir, streams, k, files = 8, posBase = 0L, idBase = 0L)

    def events = Subscriptions.subscribeAll(spark, logDir)

    final case class Run(wallSec: Double, batches: Int, maxBatchSec: Double,
        stateRows: Long, ckStateBytes: Long)

    def runPass(checkpoint: String, queryName: String,
        maxFilesPerTrigger: Int)(mk: DataFrame => org.apache.spark.sql.Dataset[_]): Run = {
      val src = spark.readStream
        .schema(Subscriptions.logSchema(spark, logDir))
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .parquet(logDir)
      val t0 = System.nanoTime()
      val q = mk(src)
        .writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.toSeq
      val batchSecs = progs.map(_.batchDuration / 1000.0)
      val stateRows = progs.reverseIterator
        .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
        .toSeq.headOption.getOrElse(-1L)
      Run(wall, progs.size, if (batchSecs.isEmpty) 0.0 else batchSecs.max,
        stateRows, dirSize(Paths.get(checkpoint, "state")))
    }

    def scalaFold(src: DataFrame) =
      graft.projections.Projections.fromAll().foreachStream().init(0L)
        .whenAny((n, e) => n + math.round(e.value)).statesStream(src)

    val jsSource = """
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0, v: 0 }; },
        $any: function(s, e) { s.n += 1; s.v += Math.round(e.value); return s; }
    })"""
    def jsFold(src: DataFrame) =
      graft.projections.js.JsProjection.compile(jsSource).statesStream(src)

    // the TYPED STEPPER path (r14/r15): a pre-state read forces the
    // flatMapGroupsWithState fold whose per-key state is the
    // Java-serialized FieldState array — the serde axis this probe
    // sizes at millions of keys (the r7 numbers above measured the
    // JSON interpreter and native-agg paths only)
    val jsStepperSource = """
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0, first: 0 }; },
        $any: function(s, e) {
            if (s.n === 0) { s.first += e.sequenceNumber + 1; }
            s.n += 1;
            return s;
        }
    })"""
    val jsStepperProj = graft.projections.js.JsProjection.compile(jsStepperSource)
    def jsStepperFold(src: DataFrame) = {
      val plan = jsStepperProj.fastStatesStream(src)
      require(plan.isDefined, "probe source must take the typed stepper path")
      plan.get
    }

    // ---- BUILD: the full corpus into the state store, several batches
    val build = runPass(ckScala, "scala_build", maxFilesPerTrigger = 2)(scalaFold)
    println(f"scala build : ${build.wallSec}%8.1f s  batches=${build.batches} " +
      f"maxBatch=${build.maxBatchSec}%.1f s  stateRows=${build.stateRows} " +
      f"ckStateMB=${build.ckStateBytes / 1e6}%.0f")

    val jsBuild = runPass(ckJs, "js_build", maxFilesPerTrigger = 2)(jsFold)
    println(f"js build    : ${jsBuild.wallSec}%8.1f s  batches=${jsBuild.batches} " +
      f"maxBatch=${jsBuild.maxBatchSec}%.1f s  stateRows=${jsBuild.stateRows} " +
      f"ckStateMB=${jsBuild.ckStateBytes / 1e6}%.0f")

    val stepBuild = runPass(ckStep, "js_stepper_build", maxFilesPerTrigger = 2)(jsStepperFold)
    println(f"stepper bld : ${stepBuild.wallSec}%8.1f s  batches=${stepBuild.batches} " +
      f"maxBatch=${stepBuild.maxBatchSec}%.1f s  stateRows=${stepBuild.stateRows} " +
      f"ckStateMB=${stepBuild.ckStateBytes / 1e6}%.0f")

    // ---- TAIL + RECOVERY: append a small tail, restart from checkpoint.
    // Wall time = state reload for every partition + one small batch —
    // the failover cost a deployment plans around.
    writeLog(spark, logDir, tailStreams, 1L, files = 2,
      posBase = streams * k, idBase = streams * k)
    val tail = runPass(ckScala, "scala_tail", maxFilesPerTrigger = 4)(scalaFold)
    println(f"scala tail  : ${tail.wallSec}%8.1f s  (recovery+${tailStreams} streams) " +
      f"stateRows=${tail.stateRows}  ckStateMB=${tail.ckStateBytes / 1e6}%.0f")

    val jsTail = runPass(ckJs, "js_tail", maxFilesPerTrigger = 4)(jsFold)
    println(f"js tail     : ${jsTail.wallSec}%8.1f s  stateRows=${jsTail.stateRows} " +
      f"ckStateMB=${jsTail.ckStateBytes / 1e6}%.0f")

    val stepTail = runPass(ckStep, "js_stepper_tail", maxFilesPerTrigger = 4)(jsStepperFold)
    println(f"stepper tail: ${stepTail.wallSec}%8.1f s  stateRows=${stepTail.stateRows} " +
      f"ckStateMB=${stepTail.ckStateBytes / 1e6}%.0f")

    println(
      s"""{"probe":"statestore","streams":$streams,"eventsPerStream":$k,""" +
        s""""tailStreams":$tailStreams,""" +
        s""""scala":{"buildSec":${build.wallSec},"buildBatches":${build.batches},""" +
        s""""maxBatchSec":${build.maxBatchSec},"stateRows":${build.stateRows},""" +
        s""""ckStateBytes":${build.ckStateBytes},"tailRecoverySec":${tail.wallSec}},""" +
        s""""js":{"buildSec":${jsBuild.wallSec},"buildBatches":${jsBuild.batches},""" +
        s""""maxBatchSec":${jsBuild.maxBatchSec},"stateRows":${jsBuild.stateRows},""" +
        s""""ckStateBytes":${jsBuild.ckStateBytes},"tailRecoverySec":${jsTail.wallSec}},""" +
        s""""stepper":{"buildSec":${stepBuild.wallSec},"buildBatches":${stepBuild.batches},""" +
        s""""maxBatchSec":${stepBuild.maxBatchSec},"stateRows":${stepBuild.stateRows},""" +
        s""""ckStateBytes":${stepBuild.ckStateBytes},"tailRecoverySec":${stepTail.wallSec}}}""")
    spark.stop()
  }
}
