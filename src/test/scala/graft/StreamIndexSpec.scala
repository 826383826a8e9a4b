package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.{EventLogStore, PendingEvent, WrongExpectedVersionException}

/** The driver-side stream index behind EventLogStore's point operations:
  * its answers equal the stats table and retained reads, it stays coherent
  * through every write path and across store instances, and the point
  * operations launch a pinned number of Spark jobs. */
class StreamIndexSpec extends SparkTestBase {

  private def dir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def pe(stream: String, id: String, at: String = "2024-06-01 09:00:00"): PendingEvent =
    PendingEvent(stream, id, "E", s"""{"id":"$id"}""", timestamp = ts(at))

  private def pending(rows: Seq[(String, String)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.map { case (sid, eid) =>
      (sid, eid, "E", "{}", null: String, null: String, ts("2024-06-02 08:00:00"))
    }.toDF("stream_id", "event_id", "event_type", "data", "metadata",
      "correlation_id", "timestamp")
  }

  /** streamState as the stats table answers it: the latest stats row, plus
    * the latest `$tb` of the metastream read from the log. */
  private def stateFromStatsTable(store: EventLogStore, s: String): EventLogStore.StreamState =
    store.statsLatest().where(col("stream_id") === s).collect().headOption match {
      case None => EventLogStore.NoStream
      case Some(r) if r.getAs[Boolean]("tombstoned") => EventLogStore.StreamDeleted
      case Some(r) =>
        val last = r.getAs[Long]("last_event_number")
        val tb = store.read().where(col("stream_id") === "$$" + s)
          .orderBy(col("event_number").desc)
          .select(get_json_object(col("data"), "$.$tb").cast("long"))
          .limit(1).collect().headOption.filterNot(_.isNullAt(0)).map(_.getLong(0))
        if (tb.exists(_ > last)) EventLogStore.NoStream else EventLogStore.StreamOk(last)
    }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(r => r(df.columns.indexOf("event_number")).asInstanceOf[Long])

  test("readStreamEvents equals readRetained per stream; streamState equals the stats table") {
    val store = new EventLogStore(spark, dir("graftindex"), requestedBuckets = 4)
    store.append((0 until 3).map(i => pe("plain-1", s"p$i")))
    store.append((0 until 6).map(i => pe("mc-1", s"m$i")))
    store.setMetadata("mc-1", maxCount = Some(2L))
    store.append(Seq(pe("age-1", "a0", "2024-06-01 10:00:00"),
      pe("age-1", "a1", "2024-06-01 11:30:00"), pe("age-1", "a2", "2024-06-01 11:45:00")))
    store.setMetadata("age-1", maxAgeSec = Some(3600L))
    store.append((0 until 5).map(i => pe("both-1", s"b$i")))
    store.setMetadata("both-1", maxCount = Some(3L), truncateBefore = Some(3L))
    store.append(Seq(pe("sd-1", "s0"), pe("sd-1", "s1"), pe("sd-2", "t0"), pe("sd-2", "t1")))
    store.softDelete("sd-1")
    store.softDelete("sd-2")
    store.append(Seq(pe("sd-1", "s2"))) // recreation continues past $tb
    store.append(Seq(pe("tbmax-1", "x0")))
    store.setMetadata("tbmax-1", truncateBefore = Some(graft.operators.Retention.DeletedStream))
    store.append(Seq(pe("tomb-1", "d0"), pe("tomb-1", "d1")))
    store.tombstone("tomb-1")
    store.append(Seq(pe("red-1", "r0"), pe("red-1", "r1"), pe("tmp-1", "k0"), pe("流-1", "u0")))
    assert(store.redact("red-1", 0L) == 1L)
    store.setMetadata("tmp-1", temp = Some(true))

    val asOf: Column = lit(ts("2024-06-01 12:00:00"))
    val streams = store.read().select("stream_id").distinct().collect().map(_.getString(0)).toSeq ++
      Seq("unknown-1", "$$unknown-1")
    assert(streams.contains("$$mc-1"))
    streams.foreach { s =>
      val got = store.readStreamEvents(s, asOf)
      val want = store.readRetained(asOf).where(col("stream_id") === s)
      assert(got.columns.toSeq == want.columns.toSeq, s)
      assert(sortedRows(got) == sortedRows(want), s"stream $s")
      assert(store.streamState(s) == stateFromStatsTable(store, s), s"stream $s")
    }
    def numbers(s: String): Seq[Long] =
      store.readStreamEvents(s, asOf).select("event_number").collect().map(_.getLong(0)).sorted.toSeq
    // the fixture exercises every bound
    assert(numbers("mc-1") == Seq(4L, 5L))
    assert(numbers("age-1") == Seq(1L, 2L))
    assert(numbers("both-1") == Seq(3L, 4L))
    assert(numbers("sd-1") == Seq(2L))
    assert(Seq("sd-2", "tbmax-1", "tomb-1", "$$mc-1", "unknown-1").forall(numbers(_).isEmpty))
    assert(store.readStreamEvents("red-1", asOf).where(col("event_number") === 0L)
      .select("data").first().getString(0) == "")
    assert(store.streamState("sd-1") == EventLogStore.StreamOk(2L))
    assert(store.streamState("sd-2") == EventLogStore.NoStream)
    assert(store.streamState("tomb-1") == EventLogStore.StreamDeleted)
    assert(store.streamState("unknown-1") == EventLogStore.NoStream)
  }

  test("bucketFor equals the written p_bucket for 10,000 ids, unicode and empty included") {
    val store = new EventLogStore(spark, dir("graftbucket"), requestedBuckets = 16)
    val rnd = new scala.util.Random(11)
    val ranges = Seq((0x20, 0x7e), (0xa0, 0x24f), (0x4e00, 0x9fff), (0x1f300, 0x1f6ff))
    def randomId(): String = {
      val sb = new java.lang.StringBuilder
      (0 until rnd.nextInt(12)).foreach { _ =>
        val (lo, hi) = ranges(rnd.nextInt(ranges.size))
        sb.appendCodePoint(lo + rnd.nextInt(hi - lo + 1))
      }
      sb.toString
    }
    val fixed = Seq("", " ", "流-1", "é", "$$x", "😀")
    val ids = (fixed.iterator ++ Iterator.continually(randomId())).distinct.take(10000).toVector
    assert(store.appendBulk(pending(ids.zipWithIndex.map { case (s, i) => (s, s"b$i") })) == 10000L)
    val written = store.read().select("stream_id", "p_bucket").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(written.keySet == ids.toSet)
    val wrong = ids.filter(s => store.bucketFor(s) != written(s))
    assert(wrong.isEmpty, s"${wrong.size} ids bucketed differently, e.g. ${wrong.take(3)}")
  }

  test("a second store instance sees the first instance's appends on its next call") {
    val d = dir("graftshared")
    val a = new EventLogStore(spark, d, requestedBuckets = 4)
    a.append(Seq(pe("x-1", "e0"), pe("x-1", "e1"), pe("y-1", "f0")))
    // opened after the first write, so it reads the bucketed layout marker
    val b = new EventLogStore(spark, d)
    assert(b.streamState("x-1") == EventLogStore.StreamOk(1L)) // b loads its index
    a.append(Seq(pe("x-1", "e2")))
    assert(b.streamState("x-1") == EventLogStore.StreamOk(2L)) // b folds a's delta
    assert(b.readStreamEvents("x-1").select("event_number").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    a.setMetadata("x-1", maxCount = Some(2L))
    assert(b.readStreamEvents("x-1").count() == 2)
    assert(b.append(Seq(pe("x-1", "e3")), Map("x-1" -> 2L)) == 1L)
    intercept[WrongExpectedVersionException] {
      a.append(Seq(pe("x-1", "e4")), Map("x-1" -> 2L))
    }
    assert(a.append(Seq(pe("x-1", "e4")), Map("x-1" -> 3L)) == 1L)
    a.tombstone("y-1")
    assert(b.streamState("y-1") == EventLogStore.StreamDeleted)
    intercept[WrongExpectedVersionException] { b.append(Seq(pe("y-1", "f1"))) }
    b.softDelete("x-1")
    assert(a.streamState("x-1") == EventLogStore.NoStream)
    assert(a.append(Seq(pe("z-1", "g0")), Map("x-1" -> 4L)) == 1L)
  }

  test("the stream index equals the stats table through every write path and a crash recovery") {
    val d = dir("graftcoherent")
    val store = new EventLogStore(spark, d, requestedBuckets = 4)
    def assertCoherent(s: EventLogStore, after: String): Unit = {
      val idx = s.streamIndex()
      val table = s.statsLatest().collect().map(r =>
        r.getAs[String]("stream_id") ->
          (r.getAs[Long]("last_event_number"), r.getAs[Boolean]("tombstoned"))).toMap
      assert(idx.streams.map { case (k, v) => k -> (v.last, v.tombstoned) } == table,
        s"index differs from the stats table after $after")
      val maxPos = spark.read.parquet(s"$d/stats").agg(max("max_log_position")).first().getLong(0)
      assert(idx.maxPos == maxPos, s"max position after $after")
    }
    store.append(Seq(pe("a-1", "e0"), pe("a-1", "e1"), pe("b-1", "f0")))
    store.append(Seq(pe("c-1", "g0", "2024-05-01 10:00:00")))
    assertCoherent(store, "append")
    assert(store.appendBulk(pending(Seq("a-1" -> "n0", "d-1" -> "n1", "d-1" -> "n2"))) == 3L)
    assertCoherent(store, "appendBulk")
    store.setMetadata("a-1", maxCount = Some(1L))
    store.tombstone("b-1")
    store.setMetadata("c-1", temp = Some(true))
    assert(store.scavengeIncremental().nonEmpty)
    assertCoherent(store, "scavengeIncremental")
    store.softDelete("d-1")
    store.scavenge()
    assertCoherent(store, "scavenge")
    store.append(Seq(pe("d-1", "n3"))) // recreation after a scavenged soft delete
    assert(store.streamState("d-1") == EventLogStore.StreamOk(2L))
    (0 until 3).foreach(i => store.append(Seq(pe("e-1", s"h$i"))))
    assert(store.compact(maxFilesPerPartition = 1).nonEmpty)
    assertCoherent(store, "compact")
    assert(store.redact("e-1", 1L) == 1L)
    assertCoherent(store, "redact")

    // crash between an append's log and stats writes: stale stats restored
    // next to the newer log, commit marker armed
    def copyDir(src: Path, dst: Path): Unit = Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    def rmDir(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmDir); f.delete()
    }
    val statsPath = Paths.get(s"$d/stats")
    val saved = Files.createTempDirectory("graftstatscopy")
    copyDir(statsPath, saved)
    store.append(Seq(pe("e-1", "h3"), pe("f-1", "k0")))
    rmDir(statsPath.toFile)
    copyDir(saved, statsPath)
    rmDir(saved.toFile)
    Files.write(Paths.get(s"$d/append_pending"), Array.emptyByteArray)
    val reopened = new EventLogStore(spark, d) // recovery runs here
    assertCoherent(reopened, "a recovered crash")
    assertCoherent(store, "a recovered crash, seen by the instance open before it")
    assert(store.streamState("f-1") == EventLogStore.StreamOk(0L))
    assert(reopened.streamState("e-1") == EventLogStore.StreamOk(3L))
  }

  test("point operations launch pinned job counts") {
    val store = new EventLogStore(spark, dir("graftjobs"), requestedBuckets = 4)
    store.append((0 until 4).map(i => pe(s"s-${i % 2}", s"e$i")))
    store.setMetadata("s-1", maxCount = Some(1L))
    assert(store.streamState("s-0") == EventLogStore.StreamOk(1L)) // index loaded
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def jobsOf(f: => Any): Int = {
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      f
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsOf(store.streamState("s-0")) == 0)
      assert(jobsOf(store.bucketFor("s-0")) == 0)
      assert(jobsOf(store.readStreamEvents("s-0").collect()) == 1)
      val appendJobs = jobsOf(store.append(Seq(pe("s-0", "e9")), Map("s-0" -> 1L)))
      assert(appendJobs <= 5, s"append launched $appendJobs jobs")
      // the append folded its own delta: no job to see it
      assert(jobsOf(assert(store.streamState("s-0") == EventLogStore.StreamOk(2L))) == 0)
      assert(jobsOf(store.readStreamEvents("s-0").collect()) == 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
