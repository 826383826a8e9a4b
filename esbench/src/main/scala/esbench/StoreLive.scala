package esbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.{EventLogStore, PendingEvent}
import graft.streaming.Subscriptions
import graft.projections.js.JsProjection

/** `store_live`: the event-store surface, the only workload that writes.
  *
  *  a. closed loop, one client: append 1-5 events to a Zipf-chosen stream
  *     (half with an exact expected version), read the stream back, ask its
  *     state; the three calls are one operation; one cold, then TimedOps;
  *  b. catch-up: a JS foreachStream projection over subscribeAll from an
  *     empty checkpoint with Trigger.AvailableNow;
  *  c. live, open loop, for half the run's seconds: the same query resumes
  *     from its checkpoint with a 500 ms processing-time trigger while a
  *     generator appends a fixed batch on a fixed schedule; each event
  *     carries its due time;
  *  d. maintenance: maxCount metadata on the hottest streams, tombstones,
  *     scavengeIncremental and compact.
  */
object StoreLive extends AdaptiveSparkPlanHelper {
  val Buckets = 16
  /** Live generator: one append of this many events per interval. */
  val LiveBatch = 3
  val LiveIntervalMs = 1600L
  val MaxCount = 1L
  /** Point operations timed after the cold one; each is about 2.5 s. */
  val TimedOps = 2

  /** The projection: per stream, how many events it saw and the newest
    * due time a live event carried. */
  val Projection: String = """
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { count: 0, stamp: 0 } },
        $any: function(s, e) {
            s.count += 1;
            if (e.body && e.body.due > s.stamp) { s.stamp = e.body.due; }
            return s;
        }
    })"""

  private val CountRe = "\"count\"\\s*:\\s*(\\d+)".r

  /** The base log from the generated events: `<type>-<user>` streams. */
  private def pending(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.parquet(s"$dataDir/events.parquet").select(
      concat_ws("-", col("event_type"), col("user_id").cast("string")).as("stream_id"),
      concat(lit("e"), col("event_id").cast("string")).as("event_id"),
      col("event_type"),
      col("props").as("data"),
      lit(null).cast("string").as("metadata"),
      lit(null).cast("string").as("correlation_id"),
      col("ts").as("timestamp"))

  /** Rows the scans of an executed plan produced, summed over every scan. */
  private def scannedRows(plan: SparkPlan): Long =
    collect(plan) { case p if p.children.isEmpty && p.metrics.contains("numOutputRows") =>
      p.metrics("numOutputRows").value
    }.sum

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val rnd = new scala.util.Random(ctx.seed)
    val work = ctx.workDir

    // ---- set-up: bulk-load the base log into a fresh store, three times
    val base = pending(spark, ctx.dataDir).cache()
    val lastByStream = mutable.Map.empty[String, Long] ++
      base.groupBy("stream_id").count().collect().map(row => row.getString(0) -> (row.getLong(1) - 1))
    val dirs = (0 until 3).map(i => s"$work/store_$i")
    val bulkMs = dirs.map { d =>
      ctx.timedMs(ctx.labeled("setup")(ctx.tracer("sources", "append_bulk")(
        new EventLogStore(spark, d, Buckets).appendBulk(base))))._2
    }
    base.unpersist()
    dirs.init.foreach(d => Dirs.deleteTree(new java.io.File(d)))
    r.metric("setup_s", Stats.median(bulkMs) / 1000.0, "s")
    r.metric("sources.append_bulk_s", Stats.median(bulkMs) / 1000.0, "s")
    val path = dirs.last
    val store = new EventLogStore(spark, path)
    val logDir = s"$path/log"
    val payloadBytes = new java.util.concurrent.atomic.AtomicLong(
      spark.read.parquet(s"${ctx.dataDir}/events.parquet")
        .agg(sum(length(col("props")))).first().getLong(0))

    Main.phase("base loaded, store set up")
    // ---- a. closed-loop point operations
    val streams = rnd.shuffle(lastByStream.keys.toSeq.sorted).toIndexedSeq
    val zipfCdf = {
      val w = streams.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def zipfStream(): String = {
      val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      streams(math.min(if (i >= 0) i else -i - 1, streams.size - 1))
    }
    val appendMs, readMs, stateMs, opMs, scanRatio = mutable.ArrayBuffer.empty[Double]
    val touched = mutable.Set.empty[String]
    var nOp = 0
    def pointOp(record: Boolean): Unit = {
      val s = zipfStream()
      val k = 1 + rnd.nextInt(5)
      val exact = rnd.nextBoolean()
      val events = (0 until k).map { j =>
        val body = s"""{"op":$nOp,"j":$j}"""
        payloadBytes.addAndGet(body.length)
        PendingEvent(s, s"${ctx.seed}-op$nOp-$j", s.takeWhile(_ != '-'), body)
      }
      nOp += 1
      val expected = if (exact) Map(s -> lastByStream(s)) else Map.empty[String, Long]
      val t0 = System.nanoTime()
      val appended = r.op(s"append $s")(ctx.timedMs(ctx.labeled("append")(
        ctx.tracer("sources", "append")(store.append(events, expected)))))
      appended.foreach { case (n, ms) =>
        r.check(n == k, s"append to $s returned $n of $k")
        lastByStream(s) += n
        touched += s
        if (record) appendMs += ms
      }
      val df = store.readStreamEvents(s).select("event_number", "log_position")
      r.op(s"read $s")(ctx.timedMs(ctx.labeled("read_stream")(
        ctx.tracer("sources", "read_stream")(df.collect())))).foreach { case (rows, ms) =>
        val sorted = rows.map(row => (row.getLong(0), row.getLong(1))).sortBy(_._1)
        val last = lastByStream(s)
        r.check(sorted.map(_._1).toSeq == (0L to last),
          s"read $s: event numbers not 0..$last")
        r.check(sorted.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
          s"read $s: log positions not increasing")
        if (record) {
          readMs += ms
          if (ctx.traced) scanRatio += scannedRows(df.queryExecution.executedPlan).toDouble / math.max(1, rows.length)
        }
      }
      r.op(s"state $s")(ctx.timedMs(ctx.labeled("stream_state")(
        ctx.tracer("sources", "stream_state")(store.streamState(s))))).foreach { case (st, ms) =>
        r.check(st == EventLogStore.StreamOk(lastByStream(s)), s"state $s: $st")
        if (record) stateMs += ms
      }
      if (record) opMs += (System.nanoTime() - t0) / 1e6
    }
    val (_, coldMs) = ctx.timedMs(ctx.tracer("bench", "cold_op")(pointOp(false)))
    r.metric("cold_s", coldMs / 1000.0, "s")
    ctx.probe.foreach(_.reset())
    val tA = System.currentTimeMillis()
    (0 until TimedOps).foreach(_ => ctx.tracer("bench", "op")(pointOp(true)))
    val opsWall = System.currentTimeMillis() - tA
    r.metric("op_ms_p50", Stats.median(opMs.toSeq), "ms")
    r.metric("op_ms_tail", Stats.tail(opMs.toSeq), "ms")
    r.metric("ops", opMs.size.toDouble, "count")
    r.metric("append_ms_p50", Stats.median(appendMs.toSeq), "ms")
    r.metric("append_ms_tail", Stats.tail(appendMs.toSeq), "ms")
    r.metric("read_stream_ms_p50", Stats.median(readMs.toSeq), "ms")
    r.metric("read_stream_ms_tail", Stats.tail(readMs.toSeq), "ms")
    r.metric("sources.stream_state.ms", Stats.median(stateMs.toSeq), "ms")
    ctx.probe.foreach { p =>
      p.drain()
      def per(l: String, n: Int)(f: LabelCounters => java.util.concurrent.atomic.AtomicLong) =
        f(p.label(l)).get.toDouble / math.max(1, n)
      r.metric("sources.append.jobs", per("append", appendMs.size)(_.jobs), "count")
      r.metric("sources.append.tasks", per("append", appendMs.size)(_.tasks), "count")
      r.metric("sources.read_stream.jobs", per("read_stream", readMs.size)(_.jobs), "count")
      r.metric("sources.stream_state.jobs", per("stream_state", stateMs.size)(_.jobs), "count")
      r.metric("sources.read_stream.rows_scanned_per_row", Stats.median(scanRatio.toSeq), "ratio")
    }
    ctx.sparkLayerMetrics(Set("append", "read_stream", "stream_state"), tA, opsWall.toDouble)

    Main.phase("point operations done")
    // ---- b. catch-up
    val ckpt = s"$work/checkpoint"
    val (proj, compileMs) = ctx.timedMs(ctx.tracer("js", "compile") {
      val p = JsProjection.compile(Projection); p.compilesToColumns; p
    })
    r.metric("projections.js.compile_ms", compileMs, "ms")
    r.metric("projections.js.compiled", if (proj.compilesToColumns) 1.0 else 0.0, "count")
    val seen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val live = new LiveLedger
    def start(trigger: Trigger): StreamingQuery = {
      val states = proj.statesStream(Subscriptions.subscribeAll(spark, logDir))
      ctx.labeled("streaming")(states.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt).trigger(trigger)
        .foreachBatch((ds: Dataset[(String, String)], _: Long) => {
          val rows = ds.collect()
          rows.foreach { case (s, st) =>
            CountRe.findFirstMatchIn(st).foreach(m => seen.put(s, m.group(1).toLong))
          }
          live.delivered(rows.map(_._1), seen, System.currentTimeMillis())
        }).start())
    }
    val storeEvents = lastByStream.values.map(_ + 1).sum
    val (_, catchupMs) = ctx.timedMs(ctx.tracer("streaming", "catchup") {
      val q = start(Trigger.AvailableNow())
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    })
    r.check(seen.size == lastByStream.size, s"catch-up saw ${seen.size} of ${lastByStream.size} streams")
    r.metric("catchup_events_per_s", storeEvents / (catchupMs / 1000.0), "1/s")
    ctx.probe.foreach { p =>
      p.drain()
      val ps = p.progress.synchronized(p.progress.toList).map(_.progress)
      def dur(k: String) = ps.map(x => Option(x.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
      r.metric("streaming.catchup.get_batch_ms", dur("getBatch"), "ms")
      r.metric("streaming.catchup.latest_offset_ms", dur("latestOffset"), "ms")
      r.metric("streaming.catchup.query_planning_ms", dur("queryPlanning"), "ms")
      r.metric("streaming.catchup.add_batch_ms", dur("addBatch"), "ms")
      p.reset()
    }

    Main.phase("catch-up done")
    // ---- c. live, open loop
    val liveStreams = streams.take(200)
    val q = start(Trigger.ProcessingTime(500))
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val tLive = System.currentTimeMillis()
    val liveEnd = tLive + ctx.seconds * 500L
    var due = tLive + 200
    var seq = 0
    val (_, liveMs) = ctx.timedMs(ctx.tracer("streaming", "live") {
      while (due < liveEnd) {
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMs += (System.currentTimeMillis() - due).toDouble
        val batch = (0 until LiveBatch).map { j =>
          val s = liveStreams(rnd.nextInt(liveStreams.size))
          val body = s"""{"due":$due,"seq":$seq}"""
          payloadBytes.addAndGet(body.length)
          seq += 1
          (PendingEvent(s, s"${ctx.seed}-live$seq-$j", s.takeWhile(_ != '-'), body), due)
        }
        // the ledger learns the target counts before the sink can see them
        batch.foreach { case (e, d) =>
          lastByStream(e.stream_id) += 1
          touched += e.stream_id
          live.expect(e.stream_id, lastByStream(e.stream_id) + 1, d)
        }
        r.op("live append")(ctx.labeled("append")(ctx.tracer("sources", "append")(
          store.append(batch.map(_._1))))).foreach(n => r.check(n == LiveBatch, s"live append returned $n"))
        due += LiveIntervalMs
      }
      q.processAllAvailable()
    })
    q.stop()
    q.exception.foreach(e => r.check(false, s"live query failed: ${e.getMessage}"))
    val lags = live.lags
    r.check(live.pending == 0, s"${live.pending} live events never reached the projection")
    r.metric("live_lag_ms_p50", Stats.median(lags), "ms")
    r.metric("live_lag_ms_tail", Stats.tail(lags), "ms")
    r.metric("streaming.live.gen_late_ms", if (lateMs.isEmpty) 0.0 else lateMs.max, "ms")
    // exactly once: the projection's count per stream equals the store's
    val perStreamBucket = store.read().where(!col("stream_id").startsWith("$$"))
      .groupBy("stream_id", "p_bucket").count().collect()
      .map(row => (row.getString(0), row.getInt(1), row.getLong(2)))
    val storeCounts = perStreamBucket.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
    val off = storeCounts.count { case (s, n) => Option(seen.get(s)).map(_.longValue) != Some(n) }
    r.check(off == 0, s"$off streams where the projection count differs from the log")
    ctx.probe.foreach { p =>
      p.drain()
      val ps = p.progress.synchronized(p.progress.toList).map(_.progress).filter(_.numInputRows > 0)
      def p50(k: String) = Stats.median(ps.map(x => Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      r.metric("streaming.live.trigger_ms_p50", p50("triggerExecution"), "ms")
      r.metric("streaming.live.get_batch_ms_p50", p50("getBatch"), "ms")
      r.metric("streaming.live.add_batch_ms_p50", p50("addBatch"), "ms")
      r.metric("streaming.live.batches", ps.size.toDouble, "count")
      val st = ps.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
      r.metric("streaming.state.rows", st.map(_.numRowsTotal).sum.toDouble, "count")
      r.metric("streaming.state.bytes", st.map(_.memoryUsedBytes).sum.toDouble, "B")
      r.metric("streaming.state.commit_ms", ps.flatMap(_.stateOperators.toSeq).map(_.commitTimeMs).sum.toDouble, "ms")
    }

    Main.phase("live done")
    // layout of the log before maintenance
    val (logFiles, logBytes) = Dirs.usage(new java.io.File(logDir), ".parquet")
    r.metric("sources.log_files", logFiles.toDouble, "count")
    r.metric("sources.log_dirs", leafDirs(new java.io.File(logDir)).toDouble, "count")
    r.metric("sources.write_amp", logBytes.toDouble / payloadBytes.get, "ratio")

    Main.phase("layout measured")
    // ---- d. maintenance, on two streams this run never appended to, in one
    // bucket: the scavenge always rewrites exactly one partition
    val bucketOf = perStreamBucket.map(x => x._1 -> x._2).toMap
    val untouched = streams.filterNot(touched)
    val hot = untouched.find(s => storeCounts(s) > MaxCount).toSeq
    val doomed = untouched.find(s => !hot.contains(s) && hot.exists(h => bucketOf(h) == bucketOf(s))).toSeq
    r.check(hot.size == 1 && doomed.size == 1, "no maintenance targets")
    hot.foreach(s => r.op(s"setMetadata $s")(store.setMetadata(s, maxCount = Some(MaxCount))))
    doomed.foreach(s => r.op(s"tombstone $s")(store.tombstone(s)))
    val (rewritten, scavMs) = ctx.timedMs(ctx.labeled("scavenge")(ctx.tracer("sources", "scavenge")(
      r.op("scavenge")(store.scavengeIncremental()).getOrElse(Nil))))
    val (_, compactMs) = ctx.timedMs(ctx.labeled("compact")(ctx.tracer("sources", "compact")(
      r.op("compact")(store.compact()))))
    r.metric("scavenge_s", (scavMs + compactMs) / 1000.0, "s")
    r.metric("sources.compact_s", compactMs / 1000.0, "s")
    r.metric("sources.scavenge.partitions_rewritten", rewritten.size.toDouble, "count")
    r.metric("sources.scavenge.bytes_rewritten",
      rewritten.map(sfx => Dirs.usage(new java.io.File(s"$logDir/$sfx"), ".parquet")._2).sum.toDouble, "B")
    hot.foreach { s =>
      val n = store.read().where(col("stream_id") === s).count()
      r.check(n <= MaxCount, s"after scavenge $s keeps $n events > maxCount $MaxCount")
    }
    doomed.foreach { s =>
      r.check(store.streamState(s) == EventLogStore.StreamDeleted, s"tombstoned $s does not read as deleted")
    }
    r.metric("batch_s", (opMs.sum + catchupMs + scavMs + compactMs) / 1000.0, "s")
    r.metric("work_s", (coldMs + opMs.sum + catchupMs + liveMs + scavMs + compactMs) / 1000.0, "s")
    Main.phase("maintenance checked")

    Dirs.deleteTree(new java.io.File(path))
    Dirs.deleteTree(new java.io.File(ckpt))
  }

  private def leafDirs(f: java.io.File): Int = {
    val subs = Option(f.listFiles).getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
    if (subs.isEmpty) 1 else subs.map(leafDirs).sum
  }
}

/** Live events waiting for the projection, and the lag of those delivered:
  * from an event's due time to the commit of the micro-batch in which the
  * projection's count for its stream first reached the event. */
final class LiveLedger {
  private val waiting = mutable.Map.empty[String, mutable.Queue[(Long, Long)]]
  private val done = mutable.ArrayBuffer.empty[Double]

  def expect(stream: String, count: Long, dueMs: Long): Unit = synchronized {
    waiting.getOrElseUpdate(stream, mutable.Queue.empty) += ((count, dueMs))
  }

  def delivered(streams: Seq[String], seen: java.util.Map[String, java.lang.Long], nowMs: Long): Unit =
    synchronized {
      streams.foreach { s =>
        waiting.get(s).foreach { q =>
          val c = Option(seen.get(s)).map(_.longValue).getOrElse(0L)
          while (q.nonEmpty && q.head._1 <= c) done += (nowMs - q.dequeue()._2).toDouble
        }
      }
    }

  def lags: Seq[Double] = synchronized(done.toList)
  def pending: Int = synchronized(waiting.values.map(_.size).sum)
}
