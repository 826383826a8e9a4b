package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.model.{EventEnvelope, ExpectedVersion, StreamMeta}

/** Append-only event-log storage (SURVEY.md §2.1 S1, §7 step 1).
  *
  * Layout: parquet under `{path}/log`, partitioned by `p_date` (UTC date of
  * the event timestamp) with rows sorted by (stream_id, event_number) inside
  * files. At 100 TB this gives: time-range partition pruning for $all /
  * maxAge reads, and parquet row-group min/max stats on stream_id for
  * single-stream reads (the moral equivalent of the reference's PTable
  * index — SURVEY.md §4).
  *
  * A side table `{path}/stats` holds per-stream (last_event_number,
  * tombstoned) plus the global max log_position, written LSM-style: each
  * append adds delta rows for the streams it touched, readers take the
  * latest row per stream, and scavenge compacts to one row per stream
  * (mirroring the reference's memtable -> PTable merge).
  *
  * Each store instance folds the stats table into a driver-resident stream
  * index: per stream (metastreams included) the latest (last_event_number,
  * tombstoned), the global max log_position, and the set of stats files
  * folded in. It loads with one Spark job; the instance's own appends fold
  * their delta in directly, and before every use a plain listing of
  * `stats/` (no job) folds files written by anyone else — a vanished file
  * (scavenge swap, crash recovery) forces a reload. The point operations —
  * append's version/tombstone checks and position assignment,
  * [[streamState]], [[softDelete]] and [[readStreamEvents]]' retention
  * bounds — read the index instead of the stats table, the analog of the
  * reference's cached last-event-number and stream-info lookups
  * (IndexReader.cs:226-306, `StreamInfoCacheCapacity`). The one remaining
  * log touch per append is the event_id idempotency probe, bounded to the
  * target streams; parquet row-group stats prune it and log files are
  * written with bloom filters on (stream_id, event_id) — the analog of the
  * reference's per-PTable blooms (PTable.cs:73-95).
  *
  * The stats table is also what preserves stream numbering across scavenge:
  * a soft-deleted stream's rows are all physically removed, but its
  * last_event_number row survives compaction, so a recreated stream
  * continues numbering past the truncate point exactly like the reference
  * (IndexReader reads the number from the index, not the chunk data).
  *
  * Semantics mirrored from the reference:
  *  - optimistic concurrency on append with expected version
  *    {Any, NoStream, StreamExists, exact} (ExpectedVersion.cs:6-13;
  *    Streams.Append.cs) — violations raise WrongExpectedVersionException;
  *  - idempotency by event_id: duplicates are dropped BEFORE version
  *    checks, so retrying an already-committed batch (same ids, same
  *    expected version) is an idempotent success, not a version error —
  *    the reference's idempotent-write path;
  *  - log_position: monotone global order assigned at commit
  *    (collapsed TFPos — TFPos.cs:41-47);
  *  - soft delete = `$tb` metadata, hard delete = `$streamDeleted`
  *    tombstone event (PrepareLogRecord.cs:23, docs/streams.md:65-120);
  *  - scavenge preserves tombstone events (the reference scavenger never
  *    drops a tombstone), so hard-deleted streams stay unrecreatable.
  *
  * Single-writer discipline: one ingest job owns a log directory (the
  * reference is equally single-writer per log). Readers are unlimited.
  */
final case class PendingEvent(
    stream_id: String,
    event_id: String,
    event_type: String,
    data: String,
    metadata: String = null,
    correlation_id: String = null,
    timestamp: java.sql.Timestamp = null)

final class WrongExpectedVersionException(msg: String) extends RuntimeException(msg)
final class MaxAppendSizeExceededException(msg: String) extends RuntimeException(msg)

object EventLogStore {
  /** Reference limits: max gRPC append payload 1 MiB
    * (ClusterVNodeOptions.cs:156), max log record 16 MiB (TFConsts.cs:9). */
  val DefaultMaxAppendSizeBytes: Long = 1L * 1024 * 1024
  val MaxRecordSizeBytes: Long = 16L * 1024 * 1024

  /** Read-result classification — the reference's ReadStreamResult
    * {NoStream, StreamDeleted, Success} (IndexReader.cs:226-306). */
  sealed trait StreamState
  case object NoStream extends StreamState
  case object StreamDeleted extends StreamState
  final case class StreamOk(lastEventNumber: Long) extends StreamState

  /** Canonical per-directory append mutex. The ingest contract is a
    * single WRITER JOB (SURVEY S1) — but "fails loudly" must not depend
    * on everyone honoring it: two interleaved appends in one JVM (two
    * threads, or two store instances over the same directory) serialize
    * here, so the loser re-reads the winner's stats and its stale
    * expected version throws WrongExpectedVersionException — one winner,
    * one clean refusal, never interleaved log_positions. This mirrors the
    * reference's storage-writer queue, which serializes all prepares
    * through one writer and turns stale expected versions into
    * WrongExpectedVersion at commit time. Cross-PROCESS exclusion remains
    * the deployment's single-ingest-job contract; a crash mid-append is
    * what the commit marker + recoverInterruptedAppend handle. */
  private val appendLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def appendLockFor(dir: String): Object =
    appendLocks.computeIfAbsent(
      java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString,
      _ => new Object)

  /** The bucket count recorded in a store directory's layout marker
    * (`layout.json`), or None while the directory has no marker. */
  private[graft] def layoutBuckets(storeDir: String): Option[Int] = {
    val layout = Paths.get(storeDir, "layout.json")
    if (!Files.exists(layout)) None
    else Some("\"num_buckets\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(layout),
        java.nio.charset.StandardCharsets.UTF_8))
      .fold(0)(_.group(1).toInt))
  }

  /** One stream's latest stats row. Deltas are ordered by
    * (max_log_position, last_event_number), the order `statsLatest` takes
    * the latest row by; a full tie keeps the tombstone. */
  private[graft] final case class StreamStats(last: Long, tombstoned: Boolean, pos: Long) {
    def supersedes(o: StreamStats): Boolean =
      pos > o.pos || pos == o.pos && (last > o.last || last == o.last && tombstoned)
  }

  /** The stats table folded on the driver: each stream's latest row
    * (metastreams included), the global max log_position, and the names of
    * the stats files folded in. Folding keeps a per-stream maximum, so
    * folding a row twice changes nothing. */
  private[graft] final case class StreamIndex(streams: Map[String, StreamStats],
      maxPos: Long, files: Set[String]) {
    def fold(rows: Seq[(String, StreamStats)], more: Set[String]): StreamIndex =
      StreamIndex(
        rows.foldLeft(streams) { case (m, (s, st)) =>
          if (m.get(s).forall(st.supersedes)) m.updated(s, st) else m },
        rows.foldLeft(maxPos)((p, r) => math.max(p, r._2.pos)),
        files ++ more)
  }
}

class EventLogStore(spark: SparkSession, path: String, requestedBuckets: Int = 0) {
  import spark.implicits._
  import EventLogStore.{StreamIndex, StreamStats}

  private def logDir = s"$path/log"
  private def statsDir = s"$path/stats"
  private def statsExists: Boolean = new java.io.File(statsDir).exists()

  /** Stream-hash bucket count (0 = unbucketed). Bucketing partitions the
    * log by (p_date, p_bucket = hash(stream_id) mod N), so a single-stream
    * read prunes to 1/N of the files — the partition-layout replacement
    * for the reference's PTable stream index (SURVEY.md §4). Fixed by the
    * first write, which persists it in a layout marker; from then on every
    * instance over the directory uses the marker's count, whatever its
    * constructor argument. Until the marker exists each use re-checks it,
    * so two instances opened on an empty directory agree once either
    * writes. */
  @volatile private var layoutBuckets: Option[Int] = None
  def numBuckets: Int = layoutBuckets.getOrElse {
    layoutBuckets = EventLogStore.layoutBuckets(path)
    layoutBuckets.getOrElse(requestedBuckets)
  }
  private def bucketed: Boolean = numBuckets > 0
  private def partitionCols: Seq[String] =
    if (bucketed) Seq("p_date", "p_bucket") else Seq("p_date")

  /** Write the layout marker if there is none yet, atomically (a reader
    * never sees a half-written one). Writers call this before they derive
    * partition columns, so their layout is the marker's. */
  private def writeLayoutMarker(): Unit = {
    val layout = Paths.get(s"$path/layout.json")
    if (!Files.exists(layout)) {
      Files.createDirectories(Paths.get(path))
      val tmp = Files.createTempFile(Paths.get(path), "layout", ".tmp")
      Files.write(tmp, s"""{"num_buckets":$numBuckets}""".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      moveAtomic(tmp.toString, layout.toString)
    }
  }

  /** p_bucket expression for a stream-id column. */
  private def bucketExpr(streamId: Column): Column =
    pmod(xxhash64(streamId), lit(numBuckets.toLong)).cast("int")

  /** Bucket of one stream id: the Catalyst expressions of [[bucketExpr]]
    * evaluated on the driver, so the value matches the write path without
    * a Spark job. */
  def bucketFor(streamId: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    Pmod(new XxHash64(Seq(Literal(streamId))), Literal(numBuckets.toLong))
      .eval().asInstanceOf[Long].toInt
  }

  /** The log's declared schema: the envelope plus the partition columns.
    * Reads declare it, so no schema-inference job runs. */
  private def logSchema: org.apache.spark.sql.types.StructType = {
    val base = EventEnvelope.schema.add("p_date", "date")
    if (bucketed) base.add("p_bucket", "int") else base
  }

  /** Add the partition-layout columns to envelope rows. */
  private def withPartitionCols(df: DataFrame): DataFrame = {
    val dated = df.withColumn("p_date", to_date(col("timestamp")))
    if (bucketed) dated.withColumn("p_bucket", bucketExpr(col("stream_id"))) else dated
  }

  def exists: Boolean = new java.io.File(logDir).exists()

  /** The whole log in envelope form, redaction-scrubbed: flagged events
    * read with empty `data` no matter what is on disk — the analog of the
    * reference scrubbing at the prepare-record layer
    * (PrepareLogRecord.cs:65), so EVERY downstream reader (retained
    * reads, subscriptions, projections, scavenge) inherits the contract.
    * Logs written before the flag existed read as `is_redacted = false`. */
  def read(): DataFrame =
    if (!exists)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logSchema)
    else {
      val flag = graft.operators.Redaction.Flag
      // files of a legacy log (written before the flag existed) read the
      // flag as NULL — it means "never redacted"
      graft.operators.Redaction.scrub(spark.read.schema(logSchema).parquet(logDir)
        .withColumn(flag, coalesce(col(flag), lit(false))))
    }

  /** One stream's slice of the log, bucket-pruned on a bucketed log. */
  private def streamSlice(streamId: String): DataFrame = {
    val base = read().where(col("stream_id") === streamId)
    if (bucketed) base.where(col("p_bucket") === bucketFor(streamId)) else base
  }

  /** Single-stream positional read with retention applied AND bucket
    * partition pruning: on a bucketed log the scan touches only the
    * stream's bucket directories (1/numBuckets of the files) — the moral
    * equivalent of the reference's PTable point lookup. The stream's
    * retention bounds come from the stream index and its metastream (read
    * only when the index has one) and reach the scan as literal
    * predicates; the rows equal [[readRetained]] filtered to the stream. */
  def readStreamEvents(streamId: String,
      asOf: Column = current_timestamp()): DataFrame = {
    val slice = streamSlice(streamId)
    // retained reads never return metastream rows
    if (streamId.startsWith(EventEnvelope.MetastreamPrefix)) return slice.where(lit(false))
    val idx = streamIndex()
    idx.streams.get(streamId) match {
      // no stats row, no bounds: readRetained's left join keeps every row
      case None => slice
      case Some(st) =>
        // Retention.boundsFromLasts for one stream
        val meta = metadataOf(streamId, idx)
        if (st.tombstoned || meta.truncate_before.contains(graft.operators.Retention.DeletedStream))
          slice.where(lit(false))
        else {
          val minEvent = (Seq(0L) ++ meta.max_count.map(st.last - _ + 1L) ++
            meta.truncate_before).max
          val kept = slice.where(col("event_number") >= minEvent)
          meta.max_age_sec.fold(kept)(age => kept.where(col("timestamp") >=
            asOf - make_dt_interval(lit(0), lit(0), lit(0), lit(age).cast("double"))))
        }
    }
  }

  /** Positional time travel: the log as it stood when `position` was the
    * head (the reference's "read up to a TFPos" — every read RPC carries
    * one). Pure predicate — pushes to the scan. */
  def readAt(position: Long): DataFrame =
    read().where(col("log_position") <= position)

  /** Classify a stream read the way the reference does (NoStream /
    * StreamDeleted / Success-with-last-number), answered from the stats
    * table plus a point lookup of the stream's metastream: a fully
    * truncated stream ($tb > last, which is what softDelete writes) reads
    * as NoStream until a recreation append moves `last` past the truncate
    * point — IndexReader.cs:226-306 TruncateBefore handling. */
  def streamState(streamId: String): EventLogStore.StreamState = {
    val idx = streamIndex()
    idx.streams.get(streamId) match {
      case Some(st) if st.tombstoned => EventLogStore.StreamDeleted
      case Some(st) if metadataOf(streamId, idx).truncate_before.exists(_ > st.last) =>
        EventLogStore.NoStream
      case Some(st) => EventLogStore.StreamOk(st.last)
      case None => EventLogStore.NoStream
    }
  }

  /** A stream's effective metadata: the latest `$metadata` event of its
    * metastream plus its tombstone state. The metastream is read — one
    * point-lookup job, stream/bucket pruned — only when the index has a
    * row for it. */
  private def metadataOf(streamId: String, idx: StreamIndex): StreamMeta = {
    val metaStream = EventEnvelope.MetastreamPrefix + streamId
    val tombstoned = idx.streams.get(streamId).exists(_.tombstoned)
    val row = if (!idx.streams.contains(metaStream)) None
      else streamSlice(metaStream).orderBy(col("event_number").desc)
        .select(
          get_json_object(col("data"), "$.$maxCount").cast("long"),
          get_json_object(col("data"), "$.$maxAge").cast("long"),
          get_json_object(col("data"), "$.$tb").cast("long"),
          get_json_object(col("data"), "$.$cacheControl").cast("long"))
        .limit(1).collect().headOption
    row match {
      case None => StreamMeta(streamId, None, None, None, tombstoned)
      case Some(r) =>
        def opt(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
        StreamMeta(streamId, opt(0), opt(1), opt(2), tombstoned, opt(3))
    }
  }

  /** Parquet options for log data writes: bloom filters on the point-
    * lookup columns — the analog of the reference's per-PTable blooms
    * (PTable.cs:73-95) and the backing for the append path's event_id
    * idempotency probe at scale. */
  private def logWriteOptions: Map[String, String] = Map(
    "parquet.bloom.filter.enabled#stream_id" -> "true",
    "parquet.bloom.filter.enabled#event_id" -> "true")

  /** The log with read-time retention applied (metastreams + tombstones
    * honored) — what a reference reader sees. Bounds come from
    * [[retentionBounds]] — the stats fast path — not a log aggregation. */
  def readRetained(asOf: Column = current_timestamp()): DataFrame =
    graft.operators.Retention.applyBounds(
      read().where(!col("stream_id").startsWith(EventEnvelope.MetastreamPrefix)),
      retentionBounds(asOf))

  /** Per-stream retention bounds from the INCREMENTAL stats table — the
    * read/subscription fast path: one point table (last event numbers +
    * tombstone flags, maintained transactionally at append) joined with
    * the metastream rows (a `$$`-prefix scan that pushes down), so the
    * event log is never aggregated to learn its own bounds. */
  def retentionBounds(asOf: Column = current_timestamp()): DataFrame = {
    ensureStats()
    // the stats table also carries metastream rows ($$x appends maintain
    // them like any stream) — bounds are for DATA streams only
    val lasts = statsLatest()
      .where(!col("stream_id").startsWith(EventEnvelope.MetastreamPrefix))
      .select(col("stream_id"),
        col("last_event_number").as("_last"), col("tombstoned").as("_tombstoned"))
    graft.operators.Retention.boundsFromLasts(lasts,
      graft.operators.Retention.metadataFromMetastreams(
        if (exists) read() else lasts.limit(0)
          .select(col("stream_id"), lit(0L).as("event_number"),
            lit(null).cast("string").as("data"))), asOf)
  }

  /** SUB2 + R1 from this store: retained `$all` subscription whose bounds
    * come from [[retentionBounds]] (the stats fast path) instead of
    * Subscriptions' standalone full-log derivation. */
  def subscribeAllRetained(filter: Column = lit(true), fromPosition: Long = -1L,
      asOf: Column = current_timestamp()): DataFrame =
    graft.streaming.Subscriptions.subscribeAllRetained(spark, logDir, filter,
      fromPosition, asOf, boundsOverride = Some(retentionBounds(asOf)))

  // ---------------------------------------------------------------- stats

  private val statsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "stream_id string, last_event_number long, tombstoned boolean, max_log_position long")

  /** Bootstrap the stats table from the log for directories written before
    * the stats table existed (one full scan, once). */
  private def ensureStats(): Unit = {
    if (!exists || statsExists) return
    statsOf(read(), maxOf(read(), "log_position"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(statsDir)
  }

  /** Stats rows for a set of log rows: per stream the max event number and
    * whether a tombstone is among them, stamped with `maxPos`. */
  private def statsOf(rows: DataFrame, maxPos: Long): DataFrame =
    rows.groupBy(col("stream_id"))
      .agg(
        max(col("event_number")).as("last_event_number"),
        max(col("event_type") === EventEnvelope.StreamDeletedEventType).as("tombstoned"))
      .withColumn("max_log_position", lit(maxPos))

  /** The max of a long column, or -1 when there are no rows. */
  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(c)).collect()(0) match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }

  /** Latest stats row per stream (LSM read path: last delta wins).
    *
    * Shape at scale: a per-stream window over the STATS table only — one
    * shuffle of d·N delta rows (d = deltas since last compaction, N =
    * streams), never the log. `tools/RetentionBoundsProbe` measured this
    * at 1M/5M streams against both the full-log aggregation it replaces
    * and a struct-max aggregation alternative; the window form ties or
    * wins (per-group sort of d≈3 rows is trivial, and the struct-max's
    * partial combine buys nothing when a stream's deltas are scattered
    * across input files). Numbers in BASELINE.md. */
  private[graft] def statsLatest(): DataFrame = {
    if (!statsExists)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], statsSchema)
    spark.read.schema(statsSchema).parquet(statsDir)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("stream_id"))
          .orderBy(col("max_log_position").desc, col("last_event_number").desc)))
      .where(col("_rn") === 1).drop("_rn")
  }

  // --------------------------------------------------------- stream index

  private val indexLock = new Object
  @volatile private var loadedIndex: StreamIndex = null

  /** Stats data files on disk — a plain listing, no Spark job. Spark names
    * every file it writes uniquely, so a name identifies its rows. */
  private def statsFiles(): Set[String] =
    Option(new java.io.File(statsDir).list()).fold(Set.empty[String])(
      _.iterator.filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet)

  /** The rows of the given stats files, in one job. Rows of files written
    * after the caller's listing are left for the next refresh. */
  private def readStatsRows(files: Set[String]): Seq[(String, StreamStats)] =
    if (files.isEmpty) Nil
    else spark.read.schema(statsSchema).parquet(statsDir)
      .where(col("_metadata.file_name").isin(files.toSeq: _*))
      .select("stream_id", "last_event_number", "tombstoned", "max_log_position")
      .collect().toSeq
      .map(r => r.getString(0) -> StreamStats(r.getLong(1), r.getBoolean(2), r.getLong(3)))

  /** The stream index, current with the stats directory: loaded once (one
    * job); afterwards each call lists `stats/` and reads only the files it
    * has not folded yet. A folded file that has gone (scavenge swap, crash
    * recovery) forces a reload. */
  private[graft] def streamIndex(): StreamIndex = indexLock.synchronized {
    ensureStats()
    val listed = statsFiles()
    val cur = loadedIndex
    val next =
      if (cur == null || !cur.files.subsetOf(listed))
        StreamIndex(Map.empty, -1L, Set.empty).fold(readStatsRows(listed), listed)
      else if (cur.files.size == listed.size) cur
      else {
        val added = listed -- cur.files
        cur.fold(readStatsRows(added), added)
      }
    loadedIndex = next
    next
  }

  /** Write one stats delta and fold it into the index without reading it
    * back. The single file the write adds is this delta; if the listing
    * shows anything else new, the next refresh reads it all instead. */
  private def writeStatsDelta(rows: Seq[(String, StreamStats)]): Unit = {
    val before = statsFiles()
    rows.map { case (s, st) => (s, st.last, st.tombstoned, st.pos) }
      .toDF("stream_id", "last_event_number", "tombstoned", "max_log_position")
      .coalesce(1).write.mode(SaveMode.Append).parquet(statsDir)
    indexLock.synchronized {
      val added = statsFiles() -- before
      if (loadedIndex != null && added.size == 1)
        loadedIndex = loadedIndex.fold(rows, added)
    }
  }

  // --------------------------------------------- append crash-consistency

  private def appendMarker = Paths.get(s"$path/append_pending")

  /** Arm the commit marker before the log write of an append; disarmed only
    * after the matching stats write lands. A crash in between leaves the
    * marker, and [[recoverInterruptedAppend]] reconciles on next open —
    * without it, stats' max_log_position lags the log and the next append
    * would re-issue already-used log_positions (the durability analog of
    * the scavenge markers; the reference's log is commit-record-atomic). */
  private def armAppendMarker(): Unit = {
    Files.createDirectories(Paths.get(path))
    if (!Files.exists(appendMarker)) Files.write(appendMarker, Array.emptyByteArray)
  }
  private def disarmAppendMarker(): Unit = Files.deleteIfExists(appendMarker)

  /** Repair a crash between an append's log write and its stats write:
    * marker present → compare stats' recorded max position against the
    * log's actual max (one scan, paid only after a crash) and append
    * catch-up stats deltas for the tail the stats table missed. */
  private def recoverInterruptedAppend(): Unit = {
    if (!Files.exists(appendMarker)) return
    if (exists && statsExists) {
      val statsMax = maxOf(spark.read.schema(statsSchema).parquet(statsDir), "max_log_position")
      val logMax = maxOf(read(), "log_position")
      if (logMax > statsMax) {
        statsOf(read().where(col("log_position") > statsMax), logMax)
          .coalesce(1).write.mode(SaveMode.Append).parquet(statsDir)
        refreshListings()
      }
    }
    disarmAppendMarker()
  }

  // --------------------------------------------------------------- append

  /** The append path's idempotency probe: which of `batchIds` already exist
    * in the target streams' slice of the log. A distributed left-semi join
    * (batch ids broadcast); the log side is stream- and bucket-pruned and
    * bloom-filtered on event_id. At most |batchIds| rows ever leave the
    * executors. Exposed for PlanSpec, which pins the no-driver-collect
    * shape. */
  private[graft] def duplicateIdProbe(batchIds: Seq[String],
      targetStreams: Seq[String]): DataFrame = {
    val ids = batchIds.toDF("event_id")
    val slice0 = read().where(col("stream_id").isin(targetStreams: _*))
    val slice = if (bucketed)
      slice0.where(col("p_bucket").isin(targetStreams.map(bucketFor).distinct: _*))
    else slice0
    slice.join(broadcast(ids), Seq("event_id"), "left_semi").select("event_id")
  }

  /** Append a batch of events. `expected` maps stream -> expected version
    * (ExpectedVersion.Any if absent). Returns count actually appended
    * (idempotent duplicates are dropped). */
  def append(events: Seq[PendingEvent],
      expected: Map[String, Long] = Map.empty): Long = {
    if (events.isEmpty) return 0L
    // reference size limits (Streams.Append.cs MaxAppendSize handling)
    def sz(e: PendingEvent): Long =
      Option(e.data).map(_.length.toLong).getOrElse(0L) +
        Option(e.metadata).map(_.length.toLong).getOrElse(0L)
    events.find(e => sz(e) > EventLogStore.MaxRecordSizeBytes).foreach { e =>
      throw new MaxAppendSizeExceededException(
        s"event ${e.event_id} exceeds the 16 MiB record limit")
    }
    val batchBytes = events.map(sz).sum
    if (batchBytes > EventLogStore.DefaultMaxAppendSizeBytes)
      throw new MaxAppendSizeExceededException(
        s"append batch is $batchBytes bytes > 1 MiB; split it or use appendBulk " +
          "(the bulk-ingest path, which has no RPC-payload analog)")
    val targetStreams = events.map(_.stream_id).distinct
    // critical section: index refresh → version checks → log write →
    // stats write must not interleave with another writer (object doc)
    EventLogStore.appendLockFor(path).synchronized {
    val idx = streamIndex()
    val maxPos = idx.maxPos
    def lastOf(s: String): Option[Long] = idx.streams.get(s).map(_.last)

    // Idempotency FIRST: drop events whose event_id already exists, then
    // in-batch dedup. A batch that is entirely already-committed is an
    // idempotent success — version checks are skipped, mirroring the
    // reference's idempotent-write path. The duplicate check is a
    // DISTRIBUTED semi-join of the log slice (stream + bucket pruned,
    // bloom-filtered on event_id) against the broadcast batch ids; only the
    // ids found to be duplicates come back to the driver, so driver memory
    // is bounded by the 1 MiB batch — never by stream length.
    val dupIds: Set[String] = if (exists)
      duplicateIdProbe(events.map(_.event_id).distinct, targetStreams)
        .as[String].collect().toSet
    else Set.empty
    val fresh = events.filterNot(e => dupIds.contains(e.event_id))
      .distinctBy(_.event_id)
    if (fresh.isEmpty) return 0L

    // Expected-version checks (IndexWriter/Streams.Append semantics)
    // (against the index, so a stream outside the batch is checked too)
    expected.foreach { case (sid, ev) =>
      val last = lastOf(sid).getOrElse(ExpectedVersion.NoStream)
      ev match {
        case ExpectedVersion.Any => ()
        case ExpectedVersion.NoStream =>
          if (last != ExpectedVersion.NoStream) throw new WrongExpectedVersionException(
            s"stream $sid: expected NoStream but last event is $last")
        case ExpectedVersion.StreamExists =>
          if (last == ExpectedVersion.NoStream) throw new WrongExpectedVersionException(
            s"stream $sid: expected StreamExists but stream is absent")
        case exact =>
          if (last != exact) throw new WrongExpectedVersionException(
            s"stream $sid: expected version $exact but last event is $last")
      }
    }

    // Tombstone check: appends to hard-deleted streams are forbidden —
    // including events that FOLLOW a tombstone inside this same batch
    fresh.find(e => idx.streams.get(e.stream_id).exists(_.tombstoned)).foreach { e =>
      throw new WrongExpectedVersionException(s"stream ${e.stream_id} is deleted")
    }
    val seenTomb = scala.collection.mutable.Set[String]()
    fresh.foreach { e =>
      if (seenTomb.contains(e.stream_id))
        throw new WrongExpectedVersionException(
          s"stream ${e.stream_id} is deleted earlier in this batch")
      if (e.event_type == EventEnvelope.StreamDeletedEventType) seenTomb += e.stream_id
    }

    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val numbered = fresh.zipWithIndex.map { case (e, i) =>
      (e, maxPos + 1 + i)
    }
    val perStream = scala.collection.mutable.Map[String, Long]()
    val nowTomb = scala.collection.mutable.Set[String]()
    val rows = numbered.map { case (e, pos) =>
      val next = perStream.getOrElse(e.stream_id, lastOf(e.stream_id).getOrElse(-1L)) + 1
      perStream(e.stream_id) = next
      if (e.event_type == EventEnvelope.StreamDeletedEventType) nowTomb += e.stream_id
      (e.stream_id, next, e.event_id, e.event_type,
        Option(e.timestamp).getOrElse(now), pos, e.correlation_id,
        true, e.data, e.metadata, false)
    }
    writeLayoutMarker()
    val df = withPartitionCols(
      rows.toDF("stream_id", "event_number", "event_id", "event_type",
        "timestamp", "log_position", "correlation_id", "is_json", "data",
        "metadata", "is_redacted"))
    armAppendMarker()
    // the batch is at most 1 MiB: one task writes one file per partition
    // dir, sorted by (stream_id, event_number) behind the partition columns
    // (the order the writer needs, so it adds no sort of its own)
    df.coalesce(1)
      .sortWithinPartitions((partitionCols ++ Seq("stream_id", "event_number")).map(col): _*)
      .write.mode(SaveMode.Append).options(logWriteOptions)
      .partitionBy(partitionCols: _*).parquet(logDir)
    writeStatsDelta(fresh.map(_.stream_id).distinct.map(s =>
      s -> StreamStats(perStream(s), nowTomb.contains(s), maxPos + fresh.size)))
    disarmAppendMarker()
    fresh.size.toLong
    }
  }

  /** Distributed append for large DataFrames of pending events (ingest
    * path): assigns positions via sorted zipWithIndex — no single-partition
    * window, scales to arbitrary batch sizes. Skips per-event expected
    * version (bulk ingest is ExpectedVersion.Any by definition) but still
    * refuses tombstoned streams. Returns the number of rows written,
    * counted from the persisted output — the pending lineage (which may
    * itself read this log, e.g. EmittedSink's anti-join) runs once. */
  def appendBulk(pending: DataFrame, orderBy: Seq[String] = Seq("timestamp", "event_id")): Long = {
    // same writer serialization as append() (EventLogStore object doc)
    EventLogStore.appendLockFor(path).synchronized {
    val maxPos = streamIndex().maxPos
    val stats = statsLatest()
    val lasts = stats.select(col("stream_id").as("_sid"), col("last_event_number").as("_last"))
    val sorted = pending.orderBy(orderBy.map(col): _*)
    val schema = sorted.schema
    val withPos = spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (maxPos + 1 + i)) },
      schema.add("log_position", "long"))
    val wStream = Window.partitionBy(col("stream_id")).orderBy(col("log_position"))
    val out = withPos
      .join(lasts, col("stream_id") === col("_sid"), "left")
      .withColumn("event_number",
        coalesce(col("_last"), lit(-1L)) + row_number().over(wStream))
      .drop("_sid", "_last")
      .withColumn("timestamp", coalesce(col("timestamp"), current_timestamp()))
      .withColumn("is_json", lit(true))
      .withColumn("is_redacted", lit(false))
      .select("stream_id", "event_number", "event_id", "event_type", "timestamp",
        "log_position", "correlation_id", "is_json", "data", "metadata",
        "is_redacted")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = out.count()
      if (n == 0L) return 0L
      val tomb = stats.where(col("tombstoned")).select(col("stream_id").as("_tsid"))
      val bad = out.join(broadcast(tomb), col("stream_id") === col("_tsid"), "left_semi")
        .select("stream_id").limit(1).collect()
      bad.headOption.foreach { r =>
        throw new WrongExpectedVersionException(s"stream ${r.getString(0)} is deleted")
      }
      // the 16 MiB record ceiling applies to the bulk path too (cheap
      // filter over the persisted output)
      val oversize = out.where(
        coalesce(length(col("data")), lit(0)).cast("long") +
          coalesce(length(col("metadata")), lit(0)).cast("long") >
          EventLogStore.MaxRecordSizeBytes)
        .select("event_id").limit(1).collect()
      oversize.headOption.foreach { r =>
        throw new MaxAppendSizeExceededException(
          s"event ${r.getString(0)} exceeds the 16 MiB record limit")
      }
      writeLayoutMarker()
      armAppendMarker()
      withPartitionCols(out).write.mode(SaveMode.Append).options(logWriteOptions)
        .partitionBy(partitionCols: _*).parquet(logDir)
      statsOf(out, maxPos + n).coalesce(1).write.mode(SaveMode.Append).parquet(statsDir)
      disarmAppendMarker()
      n
    } finally out.unpersist()
    }
  }

  /** Set stream metadata: appends a `$metadata` event to `$$<stream>`.
    * `temp` marks the stream temporary ($tmp — StreamMetadata.TempStream):
    * readable until the next scavenge physically removes it. */
  def setMetadata(streamId: String, maxCount: Option[Long] = None,
      maxAgeSec: Option[Long] = None, truncateBefore: Option[Long] = None,
      temp: Option[Boolean] = None, cacheControlSec: Option[Long] = None): Unit = {
    val body = Seq(
      maxCount.map(v => s""""$$maxCount":$v"""),
      maxAgeSec.map(v => s""""$$maxAge":$v"""),
      truncateBefore.map(v => s""""$$tb":$v"""),
      temp.map(v => s""""$$tmp":$v"""),
      cacheControlSec.map(v => s""""$$cacheControl":$v""")
    ).flatten.mkString("{", ",", "}")
    append(Seq(PendingEvent(
      EventEnvelope.MetastreamPrefix + streamId,
      java.util.UUID.randomUUID().toString, "$metadata", body)))
  }

  /** Read a stream's effective metadata back (reference GetStreamMetadata:
    * latest `$metadata` event of `$$<stream>` + tombstone state). A point
    * lookup — stream/bucket pruned, never a log scan. */
  def getMetadata(streamId: String): StreamMeta = metadataOf(streamId, streamIndex())

  /** Soft delete: truncate the whole stream ($tb = last + 1 — streams.md). */
  def softDelete(streamId: String): Unit = {
    val last = streamIndex().streams.get(streamId).fold(-1L)(_.last)
    setMetadata(streamId, truncateBefore = Some(last + 1))
  }

  /** Hard delete: append a tombstone; the stream can never be recreated. */
  def tombstone(streamId: String): Unit =
    append(Seq(PendingEvent(streamId, java.util.UUID.randomUUID().toString,
      EventEnvelope.StreamDeletedEventType, null)))

  // ------------------------------------------------------------- scavenge

  /** Scavenge (§2.7): [[scavengeIncremental]], then stats compaction. The
    * stats table is compacted to its latest row per stream (not rebuilt
    * from the log), so per-stream last event numbers survive even when
    * every data row of a stream was removed.
    *
    * Crash-safe swap: the compacted table is fully written to
    * `stats_scavenged`, the live table atomically moved aside to
    * `stats_old`, the new one moved into place, and only then is the old
    * one deleted. Every move is `Files.move(ATOMIC_MOVE)` and throws on
    * failure; an interrupted swap is repaired by
    * recoverInterruptedScavenge() on next open (stats deltas are
    * order-insensitive per stream, so restoring pre-compaction stats next
    * to a scavenged log is still correct). */
  def scavenge(asOf: Column = current_timestamp()): Unit = {
    if (!exists) return
    scavengeIncremental(asOf)
    val tmpStats = s"$path/stats_scavenged"
    statsLatest().coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmpStats)
    moveAtomic(statsDir, s"$path/stats_old")
    moveAtomic(tmpStats, statsDir)
    deleteRecursively(new java.io.File(s"$path/stats_old"))
    refreshListings()
  }

  /** Spark caches file listings per path; directories swapped in behind a
    * cached listing read as FILE_NOT_EXIST without this. */
  private def refreshListings(): Unit = {
    spark.catalog.refreshByPath(logDir)
    spark.catalog.refreshByPath(statsDir)
  }

  /** Incremental scavenge — mirroring the reference's chunk-by-chunk
    * staged scavenge (TransactionLog/Scavenging/Stages): removes exactly
    * the rows [[readRetained]] no longer returns, plus the rows of `$tmp`
    * streams. The bounds are [[retentionBounds]] — the stats table and the
    * metastreams, the same bounds every retained read applies — with `$tmp`
    * streams marked deleted. One detection scan finds the partitions that
    * hold removable rows, and only those are rewritten, one at a time with
    * an on-disk marker making each step restartable. Tombstones and
    * metastreams are always kept. Returns the rewritten partition values. */
  def scavengeIncremental(asOf: Column = current_timestamp()): Seq[String] = {
    if (!exists) return Seq.empty
    import graft.operators.Retention
    // $tmp streams go at scavenge (their metastream row is kept, so the
    // flag and the stats row survive and numbering stays monotone)
    val temp = Retention.metadataFromMetastreams(read()).where(col("temp"))
      .select(col("stream_id"), col("temp").as("_temp"))
    // materialized once: each partition swap refreshes the log's listing,
    // which must neither recompute the bounds from a half-scavenged log nor
    // leave them reading files that are gone
    val bounds = retentionBounds(asOf).join(broadcast(temp), Seq("stream_id"), "left")
      .withColumn("_deleted", col("_deleted") || coalesce(col("_temp"), lit(false)))
      .drop("_temp").localCheckpoint(true)
    val isData = !col("stream_id").startsWith(EventEnvelope.MetastreamPrefix) &&
      col("event_type") =!= EventEnvelope.StreamDeletedEventType
    try {
      val affected = read().where(isData).join(broadcast(bounds), Seq("stream_id"), "left")
        .where(!Retention.keepCondition).select(partitionSuffix)
        .distinct().as[String].collect().sorted.toSeq
      affected.foreach { suffix =>
        val slice = read().where(partitionPredicate(suffix))
        rewritePartition(suffix, Retention.applyBounds(slice.where(isData), bounds)
          .unionByName(slice.where(!isData)))
      }
      affected
    } finally org.apache.spark.sql.graftbridge.Bridge.dropLocalCheckpoint(bounds)
  }

  /** Compact small files (§2.7 maintenance): every `append` commits at
    * least one parquet file, so an append-heavy log accumulates thousands
    * of tiny files per partition — the classic small-file problem that
    * throttles scan parallelism bookkeeping at 100 TB. Rewrites each
    * partition holding more than `maxFilesPerPartition` data files into
    * ~`targetFileBytes` files (ALL rows kept — compaction is IO-layout
    * maintenance, not scavenge), using the same crash-safe marker+swap as
    * incremental scavenge. The reference's analog is chunk merging during
    * scavenge (TFChunk merge); here layout and data lifetime are separate
    * concerns. Returns the rewritten partition suffixes. */
  def compact(maxFilesPerPartition: Int = 8,
      targetFileBytes: Long = 256L * 1024 * 1024): Seq[String] = {
    if (!exists) return Seq.empty
    val root = Paths.get(logDir)
    val partitions = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long)]
    def walk(dir: java.nio.file.Path): Unit = {
      val children = dir.toFile.listFiles()
      if (children == null) return
      val subdirs = children.filter(_.isDirectory)
      val files = children.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      if (files.nonEmpty)
        partitions += ((root.relativize(dir).toString, files.length, files.map(_.length).sum))
      subdirs.foreach(d => walk(d.toPath))
    }
    walk(root)
    val affected = partitions.filter(_._2 > maxFilesPerPartition).toSeq.sortBy(_._1)
    affected.foreach { case (suffix, _, bytes) =>
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      rewritePartition(suffix, read().where(partitionPredicate(suffix)).coalesce(nFiles))
    }
    affected.map(_._1)
  }

  /** Each row's partition dir as a path suffix (`p_date=…[/p_bucket=…]`). */
  private def partitionSuffix: Column =
    concat_ws("/", partitionCols.map(c => concat(lit(s"$c="), col(c).cast("string"))): _*)

  /** Typed predicate selecting one partition dir by its path suffix
    * (`p_date=…[/p_bucket=…]`) — typed so partition pruning applies at
    * the scan. */
  private def partitionPredicate(suffix: String): Column =
    suffix.split("/").map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k match {
        case "p_date" => col(k) === to_date(lit(v))
        case "p_bucket" => col(k) === v.toInt
        case _ => col(k).cast("string") === v
      }
    }.reduce(_ && _)

  /** Redact one event in place (PrepareFlags.IsRedacted — SURVEY.md §2.1):
    * sets the `is_redacted` flag AND physically blanks the payload bytes,
    * rewriting only the partition dir(s) holding the event through the
    * same crash-safe marker+swap machinery as incremental scavenge. The
    * reference performs this as an out-of-band chunk switch
    * (Services/RedactionService.cs:150-210 SwitchChunk +
    * Services/Transport/Grpc/Redaction.SwitchChunks.cs) — payload gone at
    * rest, flag set, envelope intact; readers additionally honor the flag
    * defensively at read (PrepareLogRecord.cs:65; [[read]] here).
    *
    * The envelope (event type, metadata, correlation id, positions)
    * survives — a GDPR-style erasure removes the payload, not history.
    * Returns the number of redacted rows (0 = no such event). */
  def redact(streamId: String, eventNumber: Long): Long = {
    if (!exists) return 0L
    EventLogStore.appendLockFor(path).synchronized {
      val target = col("stream_id") === streamId &&
        col("event_number") === eventNumber
      val hit = streamSlice(streamId).where(col("event_number") === eventNumber)
      // one point-lookup job answers both WHERE (partition dirs) and HOW
      // MANY (the return value): stream + bucket pruned, stats bound it
      val hitParts = hit.groupBy(partitionSuffix).count().collect()
      if (hitParts.isEmpty) return 0L
      val n = hitParts.map(_.getLong(1)).sum
      // legacy logs (written before the flag existed) get a ONE-TIME
      // whole-log schema upgrade: rewriting only the hit partitions
      // would mix flagged and flagless files, and non-merged parquet
      // schema inference could then sample a flagless footer and read
      // the redaction back as false
      val suffixes =
        if (spark.read.parquet(logDir).columns.contains(graft.operators.Redaction.Flag))
          hitParts.map(_.getString(0)).sorted.toSeq
        else read().select(partitionSuffix).distinct().as[String].collect().sorted.toSeq
      suffixes.foreach { suffix =>
        rewritePartition(suffix, read().where(partitionPredicate(suffix))
          .withColumn("is_redacted",
            when(target, lit(true)).otherwise(col("is_redacted")))
          .withColumn("data",
            when(target, lit("")).otherwise(col("data"))))
      }
      n
    }
  }

  /** Rewrite one partition dir crash-safely: write the kept rows to a
    * scratch dir, record a marker, swap, clean up. A crash at any point is
    * repaired by recoverInterruptedScavenge() using the marker. */
  private def rewritePartition(suffix: String, keepRows: DataFrame): Unit = {
    val partDir = s"$logDir/$suffix"
    if (keepRows.isEmpty) {
      // nothing survives: drop the partition dir outright
      deleteRecursively(new java.io.File(partDir))
      refreshListings()
      return
    }
    val tmp = s"$path/scavenge_part_tmp"
    val aside = s"$path/scavenge_part_old"
    keepRows.drop(partitionCols: _*)
      .sortWithinPartitions(col("stream_id"), col("event_number"))
      .write.mode(SaveMode.Overwrite).options(logWriteOptions).parquet(tmp)
    // marker carries the partition being swapped, for crash recovery
    Files.write(Paths.get(s"$path/scavenge_part_marker"),
      suffix.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    moveAtomic(partDir, aside)
    moveAtomic(tmp, partDir)
    deleteRecursively(new java.io.File(aside))
    Files.deleteIfExists(Paths.get(s"$path/scavenge_part_marker"))
    // keep only data files in the partition dir
    Files.deleteIfExists(Paths.get(s"$partDir/_SUCCESS"))
    refreshListings()
  }

  /** Repair state left by a scavenge that crashed mid-swap. Idempotent;
    * runs at store construction. The `log_old`/`log_scavenged` branches
    * serve directories left by builds whose scavenge swapped the whole
    * log; nothing writes those dirs now. */
  private def recoverInterruptedScavenge(): Unit = {
    val log = Paths.get(logDir); val logOld = Paths.get(s"$path/log_old")
    val stats = Paths.get(statsDir); val statsOld = Paths.get(s"$path/stats_old")
    if (Files.exists(logOld) && !Files.exists(log)) moveAtomic(logOld.toString, logDir)
    if (Files.exists(statsOld) && !Files.exists(stats)) moveAtomic(statsOld.toString, statsDir)
    // incremental per-partition swap: the marker names the partition that
    // was mid-swap; restore its moved-aside dir if the swap didn't finish
    val marker = Paths.get(s"$path/scavenge_part_marker")
    if (Files.exists(marker)) {
      val suffix = new String(Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val partDir = Paths.get(s"$logDir/$suffix")
      val aside = Paths.get(s"$path/scavenge_part_old")
      if (Files.exists(aside) && !Files.exists(partDir))
        moveAtomic(aside.toString, partDir.toString)
      Files.delete(marker)
    }
    Seq(s"$path/log_old", s"$path/stats_old", s"$path/log_scavenged",
        s"$path/stats_scavenged", s"$path/scavenge_part_tmp", s"$path/scavenge_part_old")
      .foreach(p => deleteRecursively(new java.io.File(p)))
    refreshListings()
  }

  private def moveAtomic(src: String, dst: String): Unit =
    Files.move(Paths.get(src), Paths.get(dst), StandardCopyOption.ATOMIC_MOVE)

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteRecursively)
    f.delete()
  }

  // last in the constructor: recovery reads through the fields above
  recoverInterruptedScavenge()
  recoverInterruptedAppend()
}
