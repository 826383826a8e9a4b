package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model.ExpectedVersion
import graft.sources.{EventLogStore, PendingEvent, WrongExpectedVersionException}

/** S1 append semantics: positions, idempotency, optimistic concurrency,
  * deletes, scavenge (FIXTURES.md corpus 7). */
class EventLogStoreSpec extends SparkTestBase {

  private def freshStore(): EventLogStore =
    new EventLogStore(spark, Files.createTempDirectory("graftlog").toString)

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

  test("interrupted scavenge (log moved aside) is repaired on next open") {
    val dir = Files.createTempDirectory("graftlog").toString
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
    val dir = Files.createTempDirectory("graftlog").toString
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
    val dir = Files.createTempDirectory("graftlog").toString
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
    val dir = Files.createTempDirectory("graftcompact").toString
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
    val dir = Files.createTempDirectory("graftcrash").toString
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
    val saved = Files.createTempDirectory("statscopy")
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
    val dir = Files.createTempDirectory("graftlog").toString
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
    val dir = Files.createTempDirectory("graftlog").toString
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
    val dir = Files.createTempDirectory("graftlog").toString
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
  // log's data rows are readRetained's rows, for both entry points
  Seq[(String, EventLogStore => Unit)](
    "scavenge" -> (_.scavenge()),
    "scavengeIncremental" -> (_.scavengeIncremental(): Unit)
  ).foreach { case (name, scavenge) =>
    test(s"$name leaves exactly the rows readRetained returns") {
      val store = new EventLogStore(spark, TempDirs.create("graftlog"))
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      store.append((0 to 2).map(i => PendingEvent("a-1", s"e$i", "E", "{}", timestamp = now)) :+
        PendingEvent("a-1", "e3", "E", "{}", timestamp = ts("2020-01-01 00:00:00")))
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
        df.where(!col("stream_id").startsWith("$$") && col("event_type") =!= "$streamDeleted")
          .select("stream_id", "event_number").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
      for (maxCount <- Seq(2L, 1L)) {
        store.setMetadata("a-1", maxCount = Some(maxCount), maxAgeSec = Some(86400L))
        scavenge(store)
        assert(rows(store.read()) == rows(store.readRetained()), s"maxCount=$maxCount")
      }
    }
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
    val dir = Files.createTempDirectory("contend").toString
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
