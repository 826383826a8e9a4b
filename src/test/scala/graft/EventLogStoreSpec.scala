package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model.ExpectedVersion
import graft.sources.{EventLogStore, PendingEvent, WrongExpectedVersionException}

/** S1 append semantics: positions, idempotency, optimistic concurrency,
  * deletes, scavenge (FIXTURES.md corpus 7). */
class EventLogStoreSpec extends SparkTestBase {

  private def freshStore(): EventLogStore =
    new EventLogStore(spark, TempDirs.create("graftlog"))

  private def pe(stream: String, id: String, tpe: String = "E"): PendingEvent =
    PendingEvent(stream, id, tpe, s"""{"id":"$id"}""")

  test("append assigns contiguous event numbers and monotone positions") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1"), pe("b-1", "e2"), pe("a-1", "e3")))
    store.append(Seq(pe("a-1", "e4")))
    val rows = store.read().orderBy("log_position")
      .select("stream_id", "event_number", "log_position").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a-1", 0L), ("b-1", 0L), ("a-1", 1L), ("a-1", 2L)))
    assert(rows.map(_.getLong(2)).toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("append is idempotent by event_id (EventRecord.cs EventId)") {
    val store = freshStore()
    assert(store.append(Seq(pe("a-1", "e1"), pe("a-1", "e1"))) == 1L)
    assert(store.append(Seq(pe("a-1", "e1"), pe("a-1", "e2"))) == 1L)
    assert(store.read().count() == 2)
  }

  test("expected-version semantics (ExpectedVersion.cs:6-13)") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1")), Map("a-1" -> ExpectedVersion.NoStream))
    intercept[WrongExpectedVersionException] {
      store.append(Seq(pe("a-1", "e2")), Map("a-1" -> ExpectedVersion.NoStream))
    }
    intercept[WrongExpectedVersionException] {
      store.append(Seq(pe("b-1", "e3")), Map("b-1" -> ExpectedVersion.StreamExists))
    }
    intercept[WrongExpectedVersionException] {
      store.append(Seq(pe("a-1", "e4")), Map("a-1" -> 5L))
    }
    store.append(Seq(pe("a-1", "e5")), Map("a-1" -> 0L)) // exact match ok
    assert(store.read().where(col("stream_id") === "a-1").count() == 2)
  }

  test("expected version of a stream outside the batch is checked against its real last") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1")))
    // a-1 is not in the batch but exists at version 0
    assert(store.append(Seq(pe("b-1", "e2")), Map("a-1" -> 0L)) == 1L)
    assert(store.append(Seq(pe("b-1", "e3")), Map("a-1" -> ExpectedVersion.StreamExists)) == 1L)
    intercept[WrongExpectedVersionException] {
      store.append(Seq(pe("b-1", "e4")), Map("a-1" -> ExpectedVersion.NoStream))
    }
    intercept[WrongExpectedVersionException] {
      store.append(Seq(pe("b-1", "e5")), Map("c-1" -> 0L))
    }
    assert(store.read().where(col("stream_id") === "b-1").count() == 2)
  }

  test("tombstoned stream forbids further appends; reads StreamDeleted") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1")))
    store.tombstone("a-1")
    intercept[WrongExpectedVersionException] { store.append(Seq(pe("a-1", "e2"))) }
    assert(store.readRetained().where(col("stream_id") === "a-1").count() == 0)
  }

  test("soft delete hides events; stream is recreatable (streams.md:65-120)") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1"), pe("a-1", "e2")))
    store.softDelete("a-1")
    assert(store.readRetained().where(col("stream_id") === "a-1").count() == 0)
    store.append(Seq(pe("a-1", "e3"))) // recreate
    val nums = store.readRetained().where(col("stream_id") === "a-1")
      .select("event_number").collect().map(_.getLong(0)).toSeq
    assert(nums == Seq(2L)) // numbering continues past the truncate point
  }

  test("maxCount metadata trims retained reads; scavenge makes it physical") {
    val store = freshStore()
    store.append((1 to 6).map(i => pe("a-1", s"e$i")))
    store.setMetadata("a-1", maxCount = Some(2L))
    val nums = store.readRetained().where(col("stream_id") === "a-1")
      .select("event_number").collect().map(_.getLong(0)).sorted.toSeq
    assert(nums == Seq(4L, 5L))
    val before = store.read().where(col("stream_id") === "a-1").count()
    store.scavenge()
    val after = store.read().where(col("stream_id") === "a-1").count()
    assert(before == 6 && after == 2)
    // retained view unchanged by scavenge
    assert(store.readRetained().where(col("stream_id") === "a-1").count() == 2)
  }

  test("scavenge preserves tombstones: hard-deleted streams stay unrecreatable") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1")))
    store.tombstone("a-1")
    store.scavenge()
    // the tombstone row physically survives the rewrite (reference parity)
    assert(store.read().where(col("event_type") === "$streamDeleted").count() == 1)
    intercept[WrongExpectedVersionException] { store.append(Seq(pe("a-1", "e2"))) }
  }

  test("soft-deleted stream numbering survives scavenge (stats table)") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1"), pe("a-1", "e2")))
    store.softDelete("a-1")
    store.scavenge() // removes every a-1 data row from the log
    assert(store.read().where(col("stream_id") === "a-1").count() == 0)
    store.append(Seq(pe("a-1", "e3"))) // recreate: numbering must continue
    val nums = store.readRetained().where(col("stream_id") === "a-1")
      .select("event_number").collect().map(_.getLong(0)).toSeq
    assert(nums == Seq(2L))
  }

  test("retrying a fully-committed batch with its exact expected version is idempotent") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1")), Map("a-1" -> ExpectedVersion.NoStream))
    // reference idempotent-write path: identical retry succeeds with 0 new events
    assert(store.append(Seq(pe("a-1", "e1")), Map("a-1" -> ExpectedVersion.NoStream)) == 0L)
    store.append(Seq(pe("a-1", "e2")), Map("a-1" -> 0L))
    assert(store.append(Seq(pe("a-1", "e2")), Map("a-1" -> 0L)) == 0L)
    assert(store.read().where(col("stream_id") === "a-1").count() == 2)
  }

  test("appendBulk counts written rows once even when pending reads this log") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1"), pe("a-1", "e2")))
    val s = spark; import s.implicits._
    // mimic EmittedSink: pending lineage anti-joins against store.read()
    val candidates = Seq(
      ("a-1", "e1", "E", """{}""", null: String, null: String, ts("2024-01-01 00:00:00")),
      ("a-1", "n1", "E", """{}""", null: String, null: String, ts("2024-01-02 00:00:00")),
      ("b-1", "n2", "E", """{}""", null: String, null: String, ts("2024-01-03 00:00:00"))
    ).toDF("stream_id", "event_id", "event_type", "data", "metadata",
      "correlation_id", "timestamp")
    val pending = candidates.join(
      store.read().select(col("event_id").as("_eid")),
      col("event_id") === col("_eid"), "left_anti")
    assert(store.appendBulk(pending) == 2L)
    assert(store.read().count() == 4)
  }

  test("appendBulk refuses tombstoned streams") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1")))
    store.tombstone("a-1")
    val s = spark; import s.implicits._
    val pending = Seq(
      ("a-1", "n1", "E", """{}""", null: String, null: String, ts("2024-01-01 00:00:00"))
    ).toDF("stream_id", "event_id", "event_type", "data", "metadata",
      "correlation_id", "timestamp")
    intercept[WrongExpectedVersionException] { store.appendBulk(pending) }
  }

  test("appendBulk refuses an event over 16 MiB, naming it, and writes nothing") {
    val dir = TempDirs.create("graftbig")
    val store = new EventLogStore(spark, dir)
    store.append(Seq(pe("a-1", "e1")))
    val big = "x" * (EventLogStore.MaxRecordSizeBytes.toInt + 1)
    val s = spark; import s.implicits._
    val pending = Seq(
      ("a-1", "n1", "E", "{}", null: String, null: String, ts("2024-01-01 00:00:00")),
      ("b-1", "big-1", "E", big, null: String, null: String, ts("2024-01-02 00:00:00"))
    ).toDF("stream_id", "event_id", "event_type", "data", "metadata",
      "correlation_id", "timestamp")
    val e = intercept[graft.sources.MaxAppendSizeExceededException](store.appendBulk(pending))
    assert(e.getMessage.contains("big-1"), e.getMessage)
    assert(store.read().select("event_id").collect().map(_.getString(0)).toSeq == Seq("e1"))
    assert(store.streamState("a-1") == EventLogStore.StreamOk(0L))
    assert(store.streamState("b-1") == EventLogStore.NoStream)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/append_pending")))
  }

  test("interrupted scavenge (log moved aside) is repaired on next open") {
    val dir = TempDirs.create("graftlog")
    val store = new EventLogStore(spark, dir)
    store.append(Seq(pe("a-1", "e1"), pe("b-1", "e2")))
    // simulate a crash after `log -> log_old` but before the new log landed
    Files.move(java.nio.file.Paths.get(s"$dir/log"),
      java.nio.file.Paths.get(s"$dir/log_old"))
    val reopened = new EventLogStore(spark, dir)
    assert(reopened.read().count() == 2)
    reopened.append(Seq(pe("a-1", "e3")))
    assert(reopened.read().count() == 3)
  }

  test("incremental scavenge rewrites only affected date partitions") {
    val dir = TempDirs.create("graftlog")
    val store = new EventLogStore(spark, dir)
    // 6 events for a-1 across 3 dates (2 per day), plus b-1 untouched
    val evs = (1 to 6).map { i =>
      PendingEvent("a-1", s"e$i", "E", s"""{"i":$i}""",
        timestamp = ts(f"2024-01-0${(i - 1) / 2 + 1}%d 12:00:0$i"))
    } :+ PendingEvent("b-1", "b1", "E", "{}", timestamp = ts("2024-01-03 08:00:00"))
    store.append(evs)
    store.setMetadata("a-1", maxCount = Some(2L)) // keep events 4,5 (0-based)
    val retainedBefore = store.readRetained()
      .where(!col("stream_id").startsWith("$"))
      .select("stream_id", "event_number").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSet
    val affected = store.scavengeIncremental()
    // metadata lives on the setMetadata day (today) — untouched; the two
    // a-1 days holding dropped events are rewritten
    assert(affected == Seq("p_date=2024-01-01", "p_date=2024-01-02"))
    // 01-01 held only dropped rows -> partition deleted outright
    assert(!new java.io.File(s"$dir/log/p_date=2024-01-01").exists())
    val after = store.readRetained()
      .where(!col("stream_id").startsWith("$"))
      .select("stream_id", "event_number").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSet
    assert(after == retainedBefore)
    assert(store.read().where(col("stream_id") === "a-1").count() == 2)
    assert(store.read().where(col("stream_id") === "b-1").count() == 1)
  }

  test("interrupted incremental scavenge (marker + moved-aside partition) recovers") {
    val dir = TempDirs.create("graftlog")
    val store = new EventLogStore(spark, dir)
    store.append(Seq(
      PendingEvent("a-1", "e1", "E", "{}", timestamp = ts("2024-02-01 10:00:00")),
      PendingEvent("a-1", "e2", "E", "{}", timestamp = ts("2024-02-02 10:00:00"))))
    // simulate crash mid-swap: partition moved aside, marker present
    Files.move(java.nio.file.Paths.get(s"$dir/log/p_date=2024-02-01"),
      java.nio.file.Paths.get(s"$dir/scavenge_part_old"))
    Files.write(java.nio.file.Paths.get(s"$dir/scavenge_part_marker"),
      "p_date=2024-02-01".getBytes)
    val reopened = new EventLogStore(spark, dir)
    assert(reopened.read().count() == 2)
  }

  test("events after a tombstone in the same batch are rejected") {
    val store = freshStore()
    intercept[WrongExpectedVersionException] {
      store.append(Seq(
        pe("a-1", "e1"),
        PendingEvent("a-1", "e2", "$streamDeleted", null),
        pe("a-1", "e3"))) // append after in-batch tombstone
    }
    assert(store.read().count() == 0) // whole batch rejected, nothing committed
    // tombstone LAST in the batch is fine (delete-after-write)
    store.append(Seq(pe("a-1", "e1"),
      PendingEvent("a-1", "e2", "$streamDeleted", null)))
    assert(store.streamState("a-1") == EventLogStore.StreamDeleted)
  }

  test("streamState classifies NoStream / StreamDeleted / Ok(last) from stats") {
    val store = freshStore()
    assert(store.streamState("a-1") == EventLogStore.NoStream)
    store.append(Seq(pe("a-1", "e1"), pe("a-1", "e2")))
    assert(store.streamState("a-1") == EventLogStore.StreamOk(1L))
    store.tombstone("a-1")
    assert(store.streamState("a-1") == EventLogStore.StreamDeleted)
    // soft delete is NOT StreamDeleted: it reads as NoStream ($tb > last,
    // IndexReader.cs:226-306) until a recreation append, after which the
    // stream is Ok and numbering continued past the truncate point
    store.append(Seq(pe("b-1", "e3")))
    store.softDelete("b-1")
    assert(store.streamState("b-1") == EventLogStore.NoStream)
    store.append(Seq(pe("b-1", "e4")))
    assert(store.streamState("b-1") == EventLogStore.StreamOk(1L))
  }

  test("compact merges small files, preserves every row, numbering intact") {
    val dir = TempDirs.create("graftcompact")
    val store = new EventLogStore(spark, dir)
    (0 until 12).foreach(i => store.append(Seq(pe("a-1", s"e$i"), pe("b-1", s"f$i"))))
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$dir/log"))
    }
    val before = store.read().orderBy("log_position").collect().map(_.toSeq).toSeq
    assert(parquetFiles() >= 12)
    val rewritten = store.compact(maxFilesPerPartition = 4)
    assert(rewritten.nonEmpty)
    assert(parquetFiles() <= 2, s"still ${parquetFiles()} files")
    val after = store.read().orderBy("log_position").collect().map(_.toSeq).toSeq
    assert(after == before)
    // appends continue normally after compaction (positions keep advancing)
    store.append(Seq(pe("a-1", "post")))
    assert(store.read().agg(org.apache.spark.sql.functions.max("log_position"))
      .collect()(0).getLong(0) == 24L)
    // below-threshold partitions are untouched on a second pass
    assert(store.compact(maxFilesPerPartition = 4).isEmpty)
  }

  test("getMetadata reads back the latest stream metadata + tombstone state") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "e1")))
    assert(store.getMetadata("a-1") == graft.model.StreamMeta("a-1", None, None, None, false))
    store.setMetadata("a-1", maxCount = Some(10L), maxAgeSec = Some(3600L))
    store.setMetadata("a-1", maxCount = Some(5L)) // latest wins; maxAge not carried
    assert(store.getMetadata("a-1") ==
      graft.model.StreamMeta("a-1", Some(5L), None, None, false))
    // $cacheControl round-trips (a serving-cache hint — parsed, never
    // applied by reads)
    store.setMetadata("a-1", maxCount = Some(5L), cacheControlSec = Some(120L))
    assert(store.getMetadata("a-1") ==
      graft.model.StreamMeta("a-1", Some(5L), None, None, false, Some(120L)))
    store.append(Seq(pe("b-1", "e2")))
    store.softDelete("b-1")
    assert(store.getMetadata("b-1").truncate_before == Some(1L))
    store.tombstone("c-1")
    assert(store.getMetadata("c-1").tombstoned)
    // the stats-table bounds fast path equals the full-log derivation
    // (fold in everything above: maxCount metadata, soft delete's $tb,
    // a tombstone, plus a multi-event stream)
    store.append(Seq(pe("a-1", "e5"), pe("a-1", "e6"), pe("a-1", "e7")))
    val asOf = org.apache.spark.sql.functions
      .lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
    val log = store.read()
    val fromLog = graft.operators.Retention.bounds(
        log.where(!org.apache.spark.sql.functions.col("stream_id").startsWith("$$")),
        graft.operators.Retention.metadataFromLog(log), asOf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(3))).toSet
    val fromStats = store.retentionBounds(asOf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(3))).toSet
    assert(fromStats == fromLog,
      s"stats bounds $fromStats must equal log bounds $fromLog")
  }

  test("append crash between log and stats writes is reconciled on reopen") {
    val dir = TempDirs.create("graftcrash")
    val store = new EventLogStore(spark, dir)
    store.append(Seq(pe("a-1", "e1"), pe("a-1", "e2")))
    // snapshot the stats table, append more, then restore the stale stats
    // with the commit marker still armed — byte-for-byte the on-disk state
    // of a crash between an append's log write and its stats write
    def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    }
    def rmDir(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmDir); f.delete()
    }
    val statsPath = java.nio.file.Paths.get(s"$dir/stats")
    val saved = java.nio.file.Paths.get(TempDirs.create("statscopy"))
    copyDir(statsPath, saved)
    store.append(Seq(pe("a-1", "e3"), pe("b-1", "e4"))) // positions 2, 3
    rmDir(statsPath.toFile)
    Files.createDirectories(statsPath)
    copyDir(saved, statsPath)
    Files.write(java.nio.file.Paths.get(s"$dir/append_pending"), Array.emptyByteArray)
    spark.catalog.refreshByPath(s"$dir/stats")

    val reopened = new EventLogStore(spark, dir) // recovery runs here
    reopened.append(Seq(pe("c-1", "e5")))
    val positions = reopened.read().select("log_position")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(positions == Seq(0L, 1L, 2L, 3L, 4L), s"positions=$positions")
    assert(reopened.streamState("b-1") == EventLogStore.StreamOk(0L))

    // the same crash in the driver-side writer: the log file renamed into
    // place, the stats delta written but never renamed into stats/
    reopened.failPoint = step => if (step == "stats.rename") throw new RuntimeException("crash")
    intercept[RuntimeException](reopened.append(Seq(pe("d-1", "e6"), pe("a-1", "e7")))) // 5, 6
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/append_pending")))
    val again = new EventLogStore(spark, dir)
    assert(Option(new java.io.File(s"$dir/append_tmp").list()).forall(_.isEmpty))
    assert(again.streamState("d-1") == EventLogStore.StreamOk(0L))
    assert(again.streamState("a-1") == EventLogStore.StreamOk(3L))
    again.append(Seq(pe("c-1", "e8")))
    assert(again.read().select("log_position").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 7L))

    // the same crash in appendBulk: the log written, the stats delta
    // written on the driver but never renamed into stats/
    again.failPoint = step => if (step == "stats.rename") throw new RuntimeException("crash")
    intercept[RuntimeException](again.appendBulk(pendingOf("a-1" -> "b1", "e-1" -> "b2"))) // 8, 9
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/append_pending")))
    val afterBulk = new EventLogStore(spark, dir)
    assert(Option(new java.io.File(s"$dir/append_tmp").list()).forall(_.isEmpty))
    assert(afterBulk.streamState("a-1") == EventLogStore.StreamOk(4L))
    assert(afterBulk.streamState("e-1") == EventLogStore.StreamOk(0L))
    afterBulk.append(Seq(pe("c-1", "e9")))
    assert(afterBulk.read().select("log_position").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 10L))
    assert(afterBulk.streamState("c-1") == EventLogStore.StreamOk(2L))
    val idx = afterBulk.streamIndex()
    assert(idx.streams.map { case (k, v) => k -> (v.last, v.tombstoned) } ==
      StreamIndexSpec.statsTable(spark, dir))
    assert(idx.maxPos == 10L)
  }

  test("append crash before the log file's rename: nothing visible, no temp file, " +
    "no position reused") {
    val dir = TempDirs.create("graftcrashtmp")
    val tmpFiles = () => Option(new java.io.File(s"$dir/append_tmp").list()).toSeq.flatten
    val crash: String => Unit = step =>
      if (step == "log.rename") throw new RuntimeException("crash")
    val store = new EventLogStore(spark, dir, requestedBuckets = 4)
    store.failPoint = crash
    intercept[RuntimeException](store.append(Seq(pe("a-1", "e1"), pe("b-1", "e2"))))
    assert(tmpFiles().exists(_.endsWith(".parquet")), "the crash left its temp file")
    val reopened = new EventLogStore(spark, dir) // recovery runs here
    assert(reopened.read().count() == 0)
    assert(tmpFiles().isEmpty)
    assert(reopened.streamState("a-1") == EventLogStore.NoStream)
    // the crashed batch was never acknowledged: its ids append normally
    assert(reopened.append(Seq(pe("a-1", "e1"))) == 1L) // position 0
    reopened.failPoint = crash
    intercept[RuntimeException](reopened.append(Seq(pe("a-1", "e3"), pe("b-1", "e4"))))
    val again = new EventLogStore(spark, dir)
    assert(tmpFiles().isEmpty)
    assert(again.append(Seq(pe("b-1", "e5"))) == 1L)
    val rows = again.read().orderBy("log_position")
      .select("event_id", "log_position", "event_number").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("e1", 0L, 0L), ("e5", 1L, 0L)))
    assert(again.streamState("a-1") == EventLogStore.StreamOk(0L))
    assert(again.streamState("b-1") == EventLogStore.StreamOk(0L))
  }

  test("a driver-written append equals a Spark write of the same rows") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.StructType
    val dir = TempDirs.create("graftdiff")
    val store = new EventLogStore(spark, dir, requestedBuckets = 4)
    // two dates, several buckets, a null event type, a non-ASCII stream id
    val events = (0 until 12).map(i => PendingEvent(
      if (i % 6 == 5) "流-1" else s"s-${i % 4}", s"e$i", if (i == 3) null else "E",
      s"""{"i":$i}""", correlation_id = if (i % 2 == 0) "c" else null,
      timestamp = ts(if (i < 6) "2024-06-01 23:30:00" else "2024-06-02 00:30:00")))
    assert(store.append(events) == 12L)

    // the same rows through a one-task Spark write, partitioned by the
    // write path's expressions
    val schema = StructType(graft.model.EventEnvelope.schema.map(_.copy(nullable = true)))
    val written = store.read().orderBy("log_position").select(schema.fieldNames.map(col): _*)
    val sparkDir = TempDirs.create("graftdiffspark")
    spark.createDataFrame(written.collect().toSeq.asJava, schema)
      .withColumn("p_date", to_date(col("timestamp")))
      .withColumn("p_bucket", pmod(xxhash64(col("stream_id")), lit(4L)).cast("int"))
      .coalesce(1)
      .sortWithinPartitions("p_date", "p_bucket", "stream_id", "event_number")
      .write.options(Seq("stream_id", "event_id").flatMap(c => Seq(
        s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> "12")).toMap)
      .partitionBy("p_date", "p_bucket").parquet(s"$sparkDir/log")

    def filesByDir(root: String): Map[String, java.io.File] = {
      val base = java.nio.file.Paths.get(root, "log")
      Files.walk(base).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .groupBy(f => base.relativize(f.getParentFile.toPath).toString)
        .map { case (d, fs) => assert(fs.size == 1, s"$d holds ${fs.size} files"); d -> fs.head }
    }
    val mine = filesByDir(dir)
    val theirs = filesByDir(sparkDir)
    assert(mine.keySet == theirs.keySet)
    assert(mine.size > 2)
    // each rename moved the file's checksum sidecar and left no temp file
    assert(mine.values.forall(f => new java.io.File(f.getParentFile, s".${f.getName}.crc").isFile))
    assert(Option(new java.io.File(s"$dir/append_tmp").list()).forall(_.isEmpty))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy("log_position").collect().map(_.toSeq).toSeq
    assert(rows(store.read()) == rows(new EventLogStore(spark, sparkDir, 4).read()))
    val conf = spark.sparkContext.hadoopConfiguration
    def footer(f: java.io.File) = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try reader.getFooter finally reader.close()
    }
    mine.keys.foreach { d =>
      val (a, b) = (footer(mine(d)), footer(theirs(d)))
      assert(a.getFileMetaData.getSchema == b.getFileMetaData.getSchema, d)
      val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
      assert(a.getFileMetaData.getKeyValueMetaData.get(rowMeta) != null, d)
      assert(a.getFileMetaData.getKeyValueMetaData == b.getFileMetaData.getKeyValueMetaData, d)
      def chunks(m: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
        m.getBlocks.asScala.flatMap(_.getColumns.asScala).map(c => c.getPath.toDotString -> c).toMap
      val (ca, cb) = (chunks(a), chunks(b))
      cb.foreach { case (c, chunk) =>
        assert(ca(c).getCodec == chunk.getCodec, s"$d $c codec")
        if (chunk.getBloomFilterOffset > 0)
          assert(ca(c).getBloomFilterOffset > 0, s"$d $c: the Spark file has a bloom filter")
      }
      // same rows in the same order in each file
      def fileRows(f: java.io.File) = spark.read.parquet(f.getAbsolutePath).collect().toSeq
      assert(fileRows(mine(d)) == fileRows(theirs(d)), d)
    }

    // a checkpointed subscription delivers the driver-written rows once
    val ck = TempDirs.create("graftdiffck")
    val out = TempDirs.create("graftdiffout") + "/out"
    def drain(): Unit = graft.streaming.Subscriptions.subscribeAll(spark, s"$dir/log")
      .writeStream.format("parquet").option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination(60000): Unit
    drain()
    store.append(Seq(pe("s-0", "e12"), pe("s-9", "e13")))
    drain()
    drain()
    val delivered = spark.read.parquet(out).select("event_id").collect().map(_.getString(0)).toSeq
    assert(delivered.sorted == (0 until 14).map(i => s"e$i").sorted)
  }

  test("compaction under concurrent appends keeps every acknowledged append") {
    val dir = TempDirs.create("graftrace")
    val store = new EventLogStore(spark, dir)
    (0 until 12).foreach(i => store.append(Seq(pe("s-1", s"a$i"))))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val acked = new java.util.concurrent.atomic.AtomicLong(0L)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() =>
      try while (!stop.get) {
        if (store.append(Seq(pe("s-2", s"w${acked.get}"))) == 1L) acked.incrementAndGet()
        Thread.sleep(1) // the append lock is not fair: let the main thread in
      } catch { case t: Throwable => failure.set(t) })
    writer.start()
    try (0 until 6).foreach { r =>
      (0 until 10).foreach(i => store.append(Seq(pe("s-1", s"r$r-$i"))))
      store.compact(maxFilesPerPartition = 8)
    } finally { stop.set(true); writer.join(120000) }
    assert(failure.get == null, s"the writer thread failed: ${failure.get}")
    val n = acked.get
    assert(n > 0)
    def numbers(s: EventLogStore, stream: String): Seq[Long] =
      s.read().where(col("stream_id") === stream).select("event_number")
        .collect().map(_.getLong(0)).sorted.toSeq
    val reopened = new EventLogStore(spark, dir)
    Seq(store, reopened).foreach { s =>
      assert(numbers(s, "s-2") == (0L until n), "an acknowledged append is missing")
      assert(numbers(s, "s-1") == (0L until 72L))
      assert(s.streamState("s-2") == EventLogStore.StreamOk(n - 1))
      assert(s.streamState("s-1") == EventLogStore.StreamOk(71L))
    }
    assert(store.read().select("log_position").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 72L + n))
  }

  test("$tmp temp streams: readable until scavenge, then physically removed") {
    val store = freshStore()
    store.append(Seq(pe("tmp-1", "t1"), pe("tmp-1", "t2"), pe("keep-1", "k1")))
    store.setMetadata("tmp-1", temp = Some(true))
    // readable before scavenge (temp is a scavenge-time flag)
    assert(store.readRetained().where(col("stream_id") === "tmp-1").count() == 2)
    store.scavenge()
    assert(store.read().where(col("stream_id") === "tmp-1").count() == 0)
    assert(store.read().where(col("stream_id") === "keep-1").count() == 1)
    // numbering continues if the name is reused (stats survived)
    store.append(Seq(pe("tmp-1", "t3")))
    val nums = store.read().where(col("stream_id") === "tmp-1")
      .select("event_number").collect().map(_.getLong(0)).toSeq
    assert(nums == Seq(2L))
  }

  test("$tmp temp streams are removed by incremental scavenge too") {
    val store = freshStore()
    store.append(Seq(
      PendingEvent("tmp-1", "t1", "E", "{}", timestamp = ts("2024-04-01 10:00:00")),
      PendingEvent("keep-1", "k1", "E", "{}", timestamp = ts("2024-04-01 11:00:00"))))
    store.setMetadata("tmp-1", temp = Some(true))
    val affected = store.scavengeIncremental()
    assert(affected == Seq("p_date=2024-04-01"))
    assert(store.read().where(col("stream_id") === "tmp-1").count() == 0)
    assert(store.read().where(col("stream_id") === "keep-1").count() == 1)
  }

  test("readAt is positional time travel; log files carry bloom filters") {
    val dir = TempDirs.create("graftlog")
    val store = new EventLogStore(spark, dir)
    store.append(Seq(pe("a-1", "e1"), pe("a-1", "e2")))
    store.append(Seq(pe("a-1", "e3")))
    assert(store.readAt(1L).count() == 2) // head at position 1
    assert(store.readAt(Long.MaxValue).count() == 3)
    // bloom filters present in the written footers
    import org.apache.hadoop.fs.Path
    val part = new java.io.File(s"$dir/log").listFiles.filter(_.isDirectory).head
      .listFiles.find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(part.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val cols = rg.getColumns
      val hasBloom = (0 until cols.size()).exists { i =>
        val c = cols.get(i)
        (c.getPath.toDotString == "stream_id" || c.getPath.toDotString == "event_id") &&
          c.getBloomFilterOffset > 0
      }
      assert(hasBloom, "no bloom filter offsets in the parquet footer")
    } finally reader.close()
  }

  test("a one-event append writes a data file under 64 KiB (blooms sized to the rows)") {
    val dir = TempDirs.create("graftlog")
    new EventLogStore(spark, dir).append(Seq(pe("a-1", "e1")))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "log")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files.size == 1)
    assert(files.head.length < 64L * 1024, s"${files.head.length} bytes")
  }

  test("append enforces the reference 1 MiB batch / 16 MiB record limits") {
    val store = freshStore()
    val big = "x" * (1024 * 1024 + 1)
    intercept[graft.sources.MaxAppendSizeExceededException] {
      store.append(Seq(PendingEvent("a-1", "e1", "E", big)))
    }
    // many small events exceeding 1 MiB combined also rejected
    val evs = (1 to 20).map(i => PendingEvent("a-1", s"e$i", "E", "y" * 60000))
    intercept[graft.sources.MaxAppendSizeExceededException] { store.append(evs) }
    assert(store.append(evs.take(10)) == 10L) // under the cap: fine
  }

  test("bucketed layout: p_bucket dirs, pruned single-stream reads, persistent marker") {
    val dir = TempDirs.create("graftlog")
    val store = new EventLogStore(spark, dir, requestedBuckets = 4)
    store.append((1 to 12).map(i => pe(s"s-${i % 6}", s"e$i")))
    // physical layout has bucket subdirectories
    val dateDirs = new java.io.File(s"$dir/log").listFiles.filter(_.isDirectory)
    assert(dateDirs.nonEmpty &&
      dateDirs.head.listFiles.exists(_.getName.startsWith("p_bucket=")))
    // pruned read returns exactly the stream's rows
    val rows = store.readStreamEvents("s-1")
      .select("event_number").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(0L, 1L))
    // the bucket predicate reaches the scan as a partition filter
    val plan = store.readStreamEvents("s-1").queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*p_bucket".r.findFirstIn(plan).isDefined,
      s"no bucket partition filter in plan:\n$plan")
    // reopening without the constructor arg picks the layout marker up
    val reopened = new EventLogStore(spark, dir)
    assert(reopened.numBuckets == 4)
    assert(reopened.readStreamEvents("s-1").count() == 2)
    // scavenge keeps the bucketed layout intact
    reopened.setMetadata("s-1", maxCount = Some(1L))
    reopened.scavenge()
    assert(reopened.readStreamEvents("s-1")
      .select("event_number").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(new java.io.File(s"$dir/log").listFiles.filter(_.isDirectory)
      .head.listFiles.exists(_.getName.startsWith("p_bucket=")))
  }

  test("bucketed incremental scavenge rewrites only the affected bucket dirs") {
    val dir = TempDirs.create("graftlog")
    val store = new EventLogStore(spark, dir, requestedBuckets = 4)
    store.append((1 to 8).map(i =>
      PendingEvent(s"s-${i % 4}", s"e$i", "E", "{}",
        timestamp = ts("2024-03-01 10:00:00"))))
    store.setMetadata("s-1", maxCount = Some(1L))
    val affected = store.scavengeIncremental()
    assert(affected.size == 1 &&
      affected.head == s"p_date=2024-03-01/p_bucket=${store.bucketFor("s-1")}")
    assert(store.readRetained().where(col("stream_id") === "s-1").count() == 1)
    assert(store.read().where(!col("stream_id").startsWith("$")).count() == 7)
  }

  test("two instances opened on an empty directory agree on the bucket layout") {
    val dir = TempDirs.create("graftlog")
    val a = new EventLogStore(spark, dir, requestedBuckets = 16)
    val b = new EventLogStore(spark, dir) // opened before the first write
    a.append(Seq(pe("a-1", "e1")))
    b.append(Seq(pe("b-1", "e2")))
    assert(a.numBuckets == 16 && b.numBuckets == 16)
    assert(b.read().count() == 2)
    assert(a.readStreamEvents("b-1").count() == 1)
  }

  // scavenge removes exactly what no reader can see: after every pass the
  // log's data rows are readRetained's rows (less the $tmp stream's), for
  // both entry points, on a bucketed store spanning two dates
  Seq[(String, (EventLogStore, org.apache.spark.sql.Column) => Unit)](
    "scavenge" -> (_.scavenge(_)),
    "scavengeIncremental" -> (_.scavengeIncremental(_): Unit)
  ).foreach { case (name, scavenge) =>
    test(s"$name leaves exactly the rows readRetained returns") {
      val store = new EventLogStore(spark, TempDirs.create("graftlog"), requestedBuckets = 4)
      val asOf = lit(ts("2024-06-02 12:00:00"))
      def at(s: String, id: String, when: String): PendingEvent =
        PendingEvent(s, id, "E", "{}", timestamp = ts(when))
      val (day1, day2) = ("2024-06-01 10:00:00", "2024-06-02 10:00:00")
      store.append(Seq(at("a-1", "a0", day1), at("a-1", "a1", "2024-06-02 09:00:00"),
        at("a-1", "a2", day2), at("a-1", "a3", "2024-06-02 11:00:00")))
      store.append(Seq(at("plain-1", "p0", day1), at("plain-1", "p1", day1),
        at("plain-1", "p2", day2)))
      store.append(Seq(at("tomb-1", "t0", day1), at("tomb-1", "t1", day2)))
      store.tombstone("tomb-1")
      store.append(Seq(at("tmp-1", "k0", day1), at("tmp-1", "k1", day2)))
      store.setMetadata("tmp-1", temp = Some(true))
      store.append(Seq(at("sd-1", "s0", day1), at("sd-1", "s1", day1)))
      store.softDelete("sd-1")
      store.append(Seq(at("sd-1", "s2", day2))) // recreation continues past $tb
      store.append(Seq(at("age-1", "g0", day1), at("age-1", "g1", "2024-06-02 11:00:00")))
      store.setMetadata("age-1", maxAgeSec = Some(3600L))
      store.setMetadata("ghost-1", maxCount = Some(1L)) // no events of its own
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
        df.where(!col("stream_id").startsWith("$$") && col("event_type") =!= "$streamDeleted")
          .select("stream_id", "event_number").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
      def numbers(s: String): Seq[Long] = store.read().where(col("stream_id") === s)
        .select("event_number").collect().map(_.getLong(0)).sorted.toSeq
      for (maxCount <- Seq(2L, 1L)) {
        store.setMetadata("a-1", maxCount = Some(maxCount), maxAgeSec = Some(86400L))
        val want = rows(store.readRetained(asOf)).filterNot(_._1 == "tmp-1")
        scavenge(store, asOf)
        assert(rows(store.read()) == want, s"maxCount=$maxCount")
        assert(rows(store.readRetained(asOf)) == want, s"maxCount=$maxCount")
      }
      assert(numbers("a-1") == Seq(3L))
      assert(numbers("plain-1") == Seq(0L, 1L, 2L))
      assert(numbers("tomb-1") == Seq(2L)) // the tombstone stays
      assert(numbers("tmp-1").isEmpty)
      assert(numbers("age-1") == Seq(1L))
      assert(numbers("sd-1") == Seq(2L))
      store.append(Seq(at("sd-1", "s3", day2)))
      assert(numbers("sd-1") == Seq(2L, 3L))
      assert(store.streamState("sd-1") == EventLogStore.StreamOk(3L))
    }
  }

  /** Pending rows (stream_id, event_id) in appendBulk's input schema. */
  private def pendingOf(rows: (String, String)*): org.apache.spark.sql.DataFrame = {
    val s = spark; import s.implicits._
    rows.map { case (sid, eid) =>
      (sid, eid, "E", "{}", null: String, null: String, ts("2024-01-02 00:00:00"))
    }.toDF("stream_id", "event_id", "event_type", "data", "metadata",
      "correlation_id", "timestamp")
  }

  private def bucketedStore(): EventLogStore =
    new EventLogStore(spark, TempDirs.create("graftidem"), requestedBuckets = 4)

  test("appendIdempotent: a replayed batch writes no rows") {
    val store = bucketedStore()
    val batch = pendingOf("a-1" -> "x1", "a-1" -> "x2", "b-1" -> "x3")
    assert(store.appendIdempotent(batch, Seq("event_id")) == 3L)
    assert(store.appendIdempotent(batch, Seq("event_id")) == 0L)
    assert(store.read().count() == 3L)
    assert(store.streamState("a-1") == EventLogStore.StreamOk(1L))
  }

  test("appendIdempotent: ids repeated inside one batch are written once") {
    val store = bucketedStore()
    store.append(Seq(pe("a-1", "x1")))
    assert(store.appendIdempotent(
      pendingOf("a-1" -> "x1", "a-1" -> "x2", "a-1" -> "x2", "b-1" -> "x3", "b-1" -> "x3"),
      Seq("event_id")) == 2L)
    assert(store.read().select("event_id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("x1", "x2", "x3"))
    assert(store.streamState("a-1") == EventLogStore.StreamOk(1L))
  }

  test("appendIdempotent: an id present only outside the batch's target streams is written") {
    val store = bucketedStore()
    store.append(Seq(pe("other-1", "x1")))
    assert(store.appendIdempotent(pendingOf("a-1" -> "x1"), Seq("event_id")) == 1L)
    assert(store.read().where(col("event_id") === "x1")
      .select("stream_id").collect().map(_.getString(0)).sorted.toSeq == Seq("a-1", "other-1"))
  }

  test("appendIdempotent refuses a tombstoned target stream") {
    val store = bucketedStore()
    store.append(Seq(pe("a-1", "x1")))
    store.tombstone("a-1")
    intercept[WrongExpectedVersionException] {
      store.appendIdempotent(pendingOf("a-1" -> "x2"), Seq("event_id"))
    }
    assert(store.read().where(col("event_id") === "x2").count() == 0L)
  }

  test("appendIdempotent of an empty batch returns 0 and writes nothing") {
    val store = bucketedStore()
    assert(store.appendIdempotent(pendingOf(), Seq("event_id")) == 0L)
    assert(!store.exists)
  }

  test("appendBulk assigns order-respecting positions and per-stream numbers") {
    val store = freshStore()
    store.append(Seq(pe("a-1", "seed")))
    val s = spark; import s.implicits._
    val pending = Seq(
      ("a-1", "b1", "E", """{}""", null: String, null: String, ts("2024-01-02 00:00:00")),
      ("c-1", "b2", "E", """{}""", null: String, null: String, ts("2024-01-01 00:00:00")),
      ("a-1", "b3", "E", """{}""", null: String, null: String, ts("2024-01-03 00:00:00"))
    ).toDF("stream_id", "event_id", "event_type", "data", "metadata",
      "correlation_id", "timestamp")
    assert(store.appendBulk(pending) == 3L)
    val rows = store.read().orderBy("log_position")
      .select("stream_id", "event_number", "event_id", "log_position").collect()
    // bulk rows ordered by timestamp: c-1/b2 (01-01), a-1/b1 (01-02), a-1/b3 (01-03)
    assert(rows.map(_.getString(2)).toSeq == Seq("seed", "b2", "b1", "b3"))
    assert(rows.map(_.getLong(3)).toSeq == Seq(0L, 1L, 2L, 3L))
    val a1 = rows.filter(_.getString(0) == "a-1")
    assert(a1.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
  }

  test("concurrent appends with the same stale expected version: one winner, " +
    "one WrongExpectedVersion, never interleaved positions") {
    val dir = TempDirs.create("contend")
    val storeA = new EventLogStore(spark, dir)
    val storeB = new EventLogStore(spark, dir) // second writer, same log
    storeA.append(Seq(pe("acct-1", "seed")))

    // both writers observed version 0 and race to append "the next" event
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
    def racer(name: String, store: EventLogStore, id: String): Thread = {
      val t = new Thread(() => {
        start.await()
        results.put(name,
          try Right(store.append(Seq(pe("acct-1", id)),
            expected = Map("acct-1" -> 0L)))
          catch { case e: Throwable => Left(e) })
      })
      t.start(); t
    }
    val ts = Seq(racer("a", storeA, "c-a"), racer("b", storeB, "c-b"))
    start.countDown()
    ts.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    val (wins, losses) = results.values().asScala.toSeq.partition(_.isRight)
    assert(wins == Seq(Right(1L)), s"exactly one append must win, got $results")
    assert(losses.size == 1)
    losses.head.left.toOption.get match {
      case e: WrongExpectedVersionException =>
        assert(e.getMessage.contains("expected version 0"))
      case other => fail(s"loser must fail with WrongExpectedVersion, got $other")
    }
    // the log holds seed + exactly one contender: contiguous numbers,
    // distinct monotone positions, no duplicated event_number
    val rows = storeA.read().orderBy("log_position")
      .select("event_number", "log_position").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(rows.map(_.getLong(1)).distinct.length == 2)

    // ExpectedVersion.Any contenders all land, serialized: distinct
    // contiguous positions and stream numbers, nothing lost or doubled
    val more = (1 to 6).map { i =>
      val t = new Thread(() => {
        (if (i % 2 == 0) storeA else storeB)
          .append(Seq(pe("acct-1", s"any-$i"))): Unit
      })
      t.start(); t
    }
    more.foreach(_.join(120000))
    val all = storeA.read().orderBy("log_position")
      .select("event_number", "log_position", "event_id").collect()
    assert(all.length == 8)
    assert(all.map(_.getLong(0)).toSeq == (0L to 7L))
    assert(all.map(_.getLong(1)).toSeq == (0L to 7L))
    assert(all.map(_.getString(2)).distinct.length == 8)
  }
}
