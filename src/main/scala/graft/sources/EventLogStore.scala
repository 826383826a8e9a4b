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
  * write adds one delta file for the streams it touched, and scavenge
  * compacts it to one row per stream (mirroring the reference's memtable
  * -> PTable merge).
  *
  * Each store instance folds the stats table into a driver-resident stream
  * index: per stream (metastreams included) the latest (last_event_number,
  * tombstoned), the global max log_position, and the set of stats files
  * folded in. The index is the only code that reads or writes `stats/`:
  * it loads with one Spark job, every write of this instance writes its
  * delta on the driver and folds it in directly, and before every use a
  * plain listing of `stats/` (no job) folds files written by anyone else —
  * a vanished file (scavenge swap, crash recovery) forces a reload. Every
  * retention bound and point operation — append's version/tombstone
  * checks and position assignment, [[appendBulk]]'s numbering,
  * [[streamState]], [[softDelete]], [[readStreamEvents]],
  * [[retentionBounds]] and scavenge — reads the index, the analog of the
  * reference's cached last-event-number and stream-info lookups
  * (IndexReader.cs:226-306, `StreamInfoCacheCapacity`).
  *
  * [[append]] runs no Spark job when the batch's ids are fresh, like the
  * reference's single storage writer (no distributed job per write). Its
  * idempotency check opens the target streams' bucket files on the driver
  * and drops every row group parquet-mr's statistics, dictionary and bloom
  * filters rule out for (stream_id, event_id); only the files left go to
  * the exact Spark probe. A column chunk whose pages are all
  * dictionary-encoded carries no bloom filter (parquet-mr writes none) and
  * its dictionary answers exactly; a chunk that fell back to plain encoding
  * carries one, sized to its file's rows — the analog of the reference's
  * per-PTable blooms (PTable.cs:73-95). The batch and its stats delta are
  * then written on the driver by Spark's own parquet writer, one file per
  * partition dir, each renamed into place whole.
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
  * Inside one JVM, appends, scavenge, compaction and redaction serialize
  * on the directory's append lock, so a partition rewrite never moves
  * aside a file an append renamed in after the rewrite read the partition.
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

  /** Target size of a log data file written by a partition rewrite. */
  val TargetFileBytes: Long = 256L * 1024 * 1024

  /** One data stream's retention bounds, the row [[graft.operators.Retention.bounds]]
    * computes for it from the raw log: events below `minEvent` and, with
    * `maxAgeSec`, events older than that before "now" are gone; `deleted`
    * hides every event. */
  private[graft] final case class RetentionBounds(minEvent: Long, maxAgeSec: Option[Long],
      deleted: Boolean)

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
    * (max_log_position, last_event_number), and a full tie keeps the
    * tombstone: the store's one rule for a stream's latest row. */
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

  /** The data columns of a driver-written log file: the envelope, every
    * column optional, since a pending event may leave any string null. */
  private val appendFileSchema = org.apache.spark.sql.types.StructType(
    EventEnvelope.schema.map(_.copy(nullable = true)))

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

  /** The given streams' slice of the log, bucket-pruned on a bucketed log. */
  private def streamSlice(streamIds: Seq[String]): DataFrame = {
    val base = read().where(col("stream_id").isin(streamIds: _*))
    if (bucketed) base.where(col("p_bucket").isin(streamIds.map(bucketFor).distinct: _*))
    else base
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
    val slice = streamSlice(Seq(streamId))
    // retained reads never return metastream rows
    if (streamId.startsWith(EventEnvelope.MetastreamPrefix)) return slice.where(lit(false))
    val idx = streamIndex()
    idx.streams.get(streamId) match {
      // no stats row, no bounds: readRetained's left join keeps every row
      case None => slice
      case Some(st) =>
        val b = boundsOf(st, metadataOf(streamId, idx))
        if (b.deleted) slice.where(lit(false))
        else {
          val kept = slice.where(col("event_number") >= b.minEvent)
          b.maxAgeSec.fold(kept)(age =>
            kept.where(col("timestamp") >= graft.operators.Retention.cutoff(asOf, lit(age))))
        }
    }
  }

  /** Retention.bounds' row for one data stream, from its index row and its
    * metadata. */
  private def boundsOf(st: StreamStats, meta: StreamMeta): EventLogStore.RetentionBounds =
    EventLogStore.RetentionBounds(
      (Seq(0L) ++ meta.max_count.map(st.last - _ + 1L) ++ meta.truncate_before).max,
      meta.max_age_sec,
      st.tombstoned || meta.truncate_before.contains(graft.operators.Retention.DeletedStream))

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

  /** Each stream's effective metadata — the latest `$metadata` event of its
    * metastream plus its tombstone state — with its `$tmp` flag. The
    * metastreams the index has a row for are read in one point-lookup job,
    * stream/bucket pruned, and each one's latest event is taken on the
    * driver; with none, no job runs. */
  private def metadataOf(streamIds: Seq[String],
      idx: StreamIndex): Map[String, (StreamMeta, Boolean)] = {
    val prefix = EventEnvelope.MetastreamPrefix
    val metaStreams = streamIds.map(prefix + _).filter(idx.streams.contains)
    val latest = if (metaStreams.isEmpty) Map.empty[String, Row]
      else streamSlice(metaStreams)
        .select(col("stream_id"), col("event_number"),
          get_json_object(col("data"), "$.$maxCount").cast("long"),
          get_json_object(col("data"), "$.$maxAge").cast("long"),
          get_json_object(col("data"), "$.$tb").cast("long"),
          get_json_object(col("data"), "$.$cacheControl").cast("long"),
          coalesce(get_json_object(col("data"), "$.$tmp").cast("boolean"), lit(false)))
        .collect().groupBy(_.getString(0))
        .map { case (m, rows) => m.drop(prefix.length) -> rows.maxBy(_.getLong(1)) }
    streamIds.map { s =>
      val tombstoned = idx.streams.get(s).exists(_.tombstoned)
      s -> (latest.get(s) match {
        case None => (StreamMeta(s, None, None, None, tombstoned), false)
        case Some(r) =>
          def opt(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
          (StreamMeta(s, opt(2), opt(3), opt(4), tombstoned, opt(5)), r.getBoolean(6))
      })
    }.toMap
  }

  /** One stream's effective metadata (see above). */
  private def metadataOf(streamId: String, idx: StreamIndex): StreamMeta =
    metadataOf(Seq(streamId), idx)(streamId)._1

  /** Every data stream in the index with its retention bounds — the ones
    * [[readStreamEvents]] applies — and its `$tmp` flag. Only metastreams
    * the index has a row for are read, in one bucket-pruned job; with none,
    * no job runs. */
  private def dataStreamBounds(
      idx: StreamIndex): Seq[(String, EventLogStore.RetentionBounds, Boolean)] = {
    val streams = idx.streams.keys.filterNot(_.startsWith(EventEnvelope.MetastreamPrefix)).toSeq
    val metas = metadataOf(streams, idx)
    streams.map { s =>
      val (meta, temp) = metas(s)
      (s, boundsOf(idx.streams(s), meta), temp)
    }
  }

  /** Parquet options for a log data write of `rows` rows: bloom filters on
    * the point-lookup columns — the analog of the reference's per-PTable
    * blooms (PTable.cs:73-95) and the backing for the append path's
    * event_id idempotency probe at scale — sized to the rows written, as
    * the reference sizes each PTable's bloom to its entry count. Without
    * an expected count parquet-mr gives every file its cap
    * (`parquet.bloom.filter.max.bytes`, 1 MiB) per column; the cap still
    * bounds a large file's filters. */
  private def logWriteOptions(rows: Long): Map[String, String] = {
    val ndv = math.max(rows, 1L).toString
    Map(
      "parquet.bloom.filter.enabled#stream_id" -> "true",
      "parquet.bloom.filter.enabled#event_id" -> "true",
      "parquet.bloom.filter.expected.ndv#stream_id" -> ndv,
      "parquet.bloom.filter.expected.ndv#event_id" -> ndv)
  }

  /** The log with read-time retention applied (metastreams + tombstones
    * honored) — what a reference reader sees. Bounds come from
    * [[retentionBounds]] — the stream index — not a log aggregation. */
  def readRetained(asOf: Column = current_timestamp()): DataFrame =
    graft.operators.Retention.applyBounds(
      read().where(!col("stream_id").startsWith(EventEnvelope.MetastreamPrefix)),
      retentionBounds(asOf))

  /** The [[graft.operators.Retention.bounds]] table of every data stream in
    * the stream index, built on the driver: one row per stream
    * (`stream_id`, `_min_event_number`, `_cutoff_ts`, `_deleted`), the
    * bounds [[readStreamEvents]] applies, so the event log is never
    * aggregated to learn its own bounds. The rows are computed when this is
    * called: besides the index's own refresh, one bucket-pruned job reads
    * the metastreams the index has a row for (none: no job). `asOf` stays
    * a Column, evaluated where the table is used. */
  def retentionBounds(asOf: Column = current_timestamp()): DataFrame =
    dataStreamBounds(streamIndex())
      .map { case (s, b, _) => (s, b.minEvent, b.maxAgeSec, b.deleted) }
      .toDF("stream_id", "_min_event_number", "_max_age_sec", "_deleted")
      .select(col("stream_id"), col("_min_event_number"),
        graft.operators.Retention.cutoff(asOf, col("_max_age_sec")).as("_cutoff_ts"),
        col("_deleted"))

  /** SUB2 + R1 from this store: retained `$all` subscription whose bounds
    * come from [[retentionBounds]] (the stream index) instead of
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
    writeStatsDelta(statsOf(perStream(read())))
  }

  /** Per stream of a set of log rows, in one job: (stream_id, row count,
    * max event number, whether a tombstone is among them, max
    * log_position, the largest record's size and its event_id). */
  private def perStream(rows: DataFrame): Seq[Row] = {
    val size = coalesce(length(col("data")), lit(0)).cast("long") +
      coalesce(length(col("metadata")), lit(0)).cast("long")
    rows.groupBy(col("stream_id"))
      .agg(count(lit(1)), max(col("event_number")),
        max(col("event_type") <=> EventEnvelope.StreamDeletedEventType),
        max(col("log_position")), max(size), max_by(col("event_id"), size))
      .collect().toSeq
  }

  /** The stats delta of a [[perStream]] aggregate: each stream's last event
    * number and tombstone, stamped with the rows' max log_position. */
  private def statsOf(agg: Seq[Row]): Seq[(String, StreamStats)] = {
    val maxPos = agg.map(_.getLong(4)).maxOption.getOrElse(-1L)
    agg.map(r => r.getString(0) -> StreamStats(r.getLong(2), r.getBoolean(3), maxPos))
  }

  // --------------------------------------------------------- stream index

  private val indexLock = new Object
  @volatile private var loadedIndex: StreamIndex = null

  /** Stats data files on disk — a plain listing, no Spark job. Every stats
    * file is named uniquely ([[writeFile]]), so a name identifies its rows. */
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

  /** Write stats rows as one file into `dir` on the driver; returns its
    * name. */
  private def writeStatsFile(dir: String, rows: Seq[(String, StreamStats)]): String =
    writeFile(dir, statsSchema,
      rows.map { case (s, st) => Row(s, st.last, st.tombstoned, st.pos) }, Map.empty,
      "stats.rename")

  /** Write one stats delta on the driver and fold it into the index under
    * its file name, without reading it back. */
  private def writeStatsDelta(rows: Seq[(String, StreamStats)]): Unit = {
    val name = writeStatsFile(statsDir, rows)
    indexLock.synchronized {
      if (loadedIndex != null) loadedIndex = loadedIndex.fold(rows, Set(name))
    }
  }

  // ------------------------------------------------- driver-side writes

  /** Where a driver-side write puts its file before renaming it into place. */
  private def appendTmpDir = s"$path/append_tmp"

  /** Called with a step's name ("log.rename", "stats.rename") before each
    * rename of a driver-side write. A crash test sets it to throw, which
    * leaves the directory as a crash at that step would. */
  @volatile private[graft] var failPoint: String => Unit = _ => ()

  /** Write `rows` as one parquet file into `dir` on the driver, through
    * Spark's own parquet writer (ParquetUtils.prepareWrite, then the
    * ParquetOutputWriter it returns) under the session's conf plus
    * `options` — what one task of a Spark write does, so codec, timestamp
    * type, footer row metadata and bloom filters match a Spark-written
    * file. The file is written in `append_tmp/` and renamed into `dir` by
    * the FileSystem that wrote it, so its `.crc` sidecar moves with it and
    * a concurrent listing of `dir` sees the whole file or none. `step`
    * names the rename for [[failPoint]]. Returns the file's name. */
  private def writeFile(dir: String, schema: org.apache.spark.sql.types.StructType,
      rows: Seq[Row], options: Map[String, String], step: String): String = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    import org.apache.spark.sql.graftbridge.{Bridge, RowExec}
    val sqlConf = Bridge.sqlConf(spark)
    val job = Job.getInstance(Bridge.hadoopConfWithOptions(spark, options))
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(options, sqlConf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID)
    val name = s"part-00000-${java.util.UUID.randomUUID}.c000${factory.getFileExtension(ctx)}"
    val tmp = new Path(appendTmpDir, name)
    val toInternal = RowExec.toInternal(schema)
    val writer = factory.newInstance(tmp.toString, schema, ctx)
    try rows.foreach(r => writer.write(toInternal(r))) finally writer.close()
    failPoint(step)
    val fs = tmp.getFileSystem(job.getConfiguration)
    if (!fs.mkdirs(new Path(dir)) || !fs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"could not move $tmp into $dir")
    name
  }

  /** The partition dir (`p_date=…[/p_bucket=…]`) of a row with this
    * timestamp and stream: the write path's Catalyst expressions
    * (`to_date` is a cast under the session time zone, [[bucketFor]]) and
    * Spark's partition-path formatting, evaluated on the driver. */
  private def partitionDirOf(ts: java.sql.Timestamp, streamId: String): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.{DateType, IntegerType, StringType}
    val tz = Option(org.apache.spark.sql.graftbridge.Bridge.sqlConf(spark).sessionLocalTimeZone)
    def dir(name: String, value: Literal): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString(
        name, Cast(value, StringType, tz).eval().toString)
    val day = Cast(Literal(ts), DateType, tz).eval()
    (dir("p_date", Literal(day, DateType)) +:
      (if (bucketed) Seq(dir("p_bucket", Literal(bucketFor(streamId), IntegerType))) else Nil))
      .mkString("/")
  }

  /** The log data files of the target streams' bucket dirs (every
    * partition dir on an unbucketed log): the files [[streamSlice]] scans
    * for them. A plain listing, no Spark job. */
  private def sliceFiles(targetStreams: Seq[String]): Seq[java.io.File] = {
    val buckets = if (bucketed) targetStreams.map(s => s"p_bucket=${bucketFor(s)}").toSet
      else Set.empty[String]
    def walk(dir: java.io.File): Seq[java.io.File] =
      dataFiles(dir) ++ Option(dir.listFiles()).toSeq.flatten.filter { d =>
        d.isDirectory && !d.getName.startsWith("_") && !d.getName.startsWith(".") &&
          (!bucketed || !d.getName.startsWith("p_bucket=") || buckets.contains(d.getName))
      }.flatMap(walk)
    walk(new java.io.File(logDir))
  }

  /** The files of the target streams' slice that may hold one of
    * `batchIds` in one of `targetStreams`, decided on the driver: each
    * file's row groups go through parquet-mr's row-group filter with
    * `stream_id IN targets AND event_id IN ids` at the statistics,
    * dictionary and bloom-filter levels, and a file whose row groups all
    * drop holds no duplicate. Neither level alone answers every file: a
    * chunk whose pages are all dictionary-encoded (every append file, and
    * small bulk files) carries no bloom filter, but its dictionary answers
    * exactly; a chunk that fell back to plain encoding has no usable
    * dictionary, but carries a bloom filter. */
  private[graft] def maybeDuplicateFiles(batchIds: Seq[String],
      targetStreams: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    def in(c: String, values: Seq[String]) =
      FilterApi.in(FilterApi.binaryColumn(c), values.map(Binary.fromString).toSet.asJava)
    val conf = spark.sparkContext.hadoopConfiguration
    val options = org.apache.parquet.HadoopReadOptions.builder(conf)
      .withRecordFilter(org.apache.parquet.filter2.compat.FilterCompat.get(
        FilterApi.and(in("stream_id", targetStreams), in("event_id", batchIds))))
      .useStatsFilter(true).useDictionaryFilter(true).useBloomFilter(true)
      .build()
    sliceFiles(targetStreams).map(_.getAbsolutePath).filter { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf), options)
      try !reader.getRowGroups.isEmpty finally reader.close()
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
    * marker present → aggregate the log rows past the stream index's max
    * position (one scan, paid only after a crash) and write their stats
    * delta, the tail the stats table missed. Files a crashed driver-side
    * write left unrenamed in `append_tmp/` are deleted (their rows were
    * never visible). */
  private def recoverInterruptedAppend(): Unit = EventLogStore.appendLockFor(path).synchronized {
    deleteRecursively(new java.io.File(appendTmpDir))
    if (!Files.exists(appendMarker)) return
    if (exists) {
      val tail = perStream(read().where(col("log_position") > streamIndex().maxPos))
      if (tail.nonEmpty) writeStatsDelta(statsOf(tail))
    }
    disarmAppendMarker()
  }

  // --------------------------------------------------------------- append

  /** The append path's exact idempotency probe: which of `batchIds` exist
    * in the target streams' rows of the given log data files — the files
    * [[maybeDuplicateFiles]] could not rule out. A plain filter, `stream_id
    * IN targets AND event_id IN batchIds`, pushed into the scan of those
    * files: one job, and at most |batchIds| rows leave the executors. The
    * 1 MiB append batch bounds the id list. Exposed for PlanSpec, which
    * pins the pushed-filter shape. */
  private[graft] def duplicateIdProbe(batchIds: Seq[String],
      targetStreams: Seq[String], files: Seq[String]): DataFrame =
    spark.read.schema(logSchema).option("basePath", logDir).parquet(files: _*)
      .where(col("stream_id").isin(targetStreams: _*) && col("event_id").isin(batchIds: _*))
      .select("event_id")

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
    // reference's idempotent-write path. The row-group filter rules out
    // files on the driver; the files it cannot rule out go to the exact
    // probe, a filtered scan whose output is at most the batch ids, so
    // driver memory is bounded by the 1 MiB batch — never by stream
    // length. Fresh ids run no Spark job.
    val batchIds = events.map(_.event_id).distinct
    val dupIds: Set[String] = maybeDuplicateFiles(batchIds, targetStreams) match {
      case Nil => Set.empty
      case files => duplicateIdProbe(batchIds, targetStreams, files).as[String].collect().toSet
    }
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
    val perStream = scala.collection.mutable.Map[String, Long]()
    val nowTomb = scala.collection.mutable.Set[String]()
    val rows = fresh.zipWithIndex.map { case (e, i) =>
      val next = perStream.getOrElse(e.stream_id, lastOf(e.stream_id).getOrElse(-1L)) + 1
      perStream(e.stream_id) = next
      if (e.event_type == EventEnvelope.StreamDeletedEventType) nowTomb += e.stream_id
      Row(e.stream_id, next, e.event_id, e.event_type, Option(e.timestamp).getOrElse(now),
        maxPos + 1 + i, e.correlation_id, true, e.data, e.metadata, false)
    }
    writeLayoutMarker()
    armAppendMarker()
    // durability order: marker, log files, stats delta, disarm. One file per
    // partition dir, sorted by (stream_id, event_number) — in Spark's string
    // order, UTF-8 bytes — as a Spark write of the batch would sort it
    val byStream = Ordering.by[Row, (org.apache.spark.unsafe.types.UTF8String, Long)](r =>
      (org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)), r.getLong(1)))
    rows.groupBy(r => partitionDirOf(r.getTimestamp(4), r.getString(0))).toSeq.sortBy(_._1)
      .foreach { case (dir, part) =>
        writeFile(s"$logDir/$dir", appendFileSchema, part.sorted(byStream),
          logWriteOptions(part.size), "log.rename")
      }
    writeStatsDelta(fresh.map(_.stream_id).distinct.map(s =>
      s -> StreamStats(perStream(s), nowTomb.contains(s), maxPos + fresh.size)))
    disarmAppendMarker()
    refreshListings() // as a Spark write would: cached reads see the new files
    fresh.size.toLong
    }
  }

  /** Idempotent distributed append: [[append]]'s rule for a DataFrame of
    * pending events, the store's one idempotent write for batches that can
    * replay (emitted events, checkpoints, parked links, reset truncations).
    * An event whose `event_id` is already in one of the batch's target
    * streams, or earlier in the batch, is dropped; the rest go to
    * [[appendBulk]] ordered by `orderBy`. Under the append lock, `pending`
    * is persisted once, so a lineage that reads this log runs once, before
    * the write. The dedup reads only the target streams' bucket-pruned
    * slice. Returns the number of rows written (0 for a pure replay or an
    * empty batch). */
  def appendIdempotent(pending: DataFrame, orderBy: Seq[String]): Long =
    EventLogStore.appendLockFor(path).synchronized {
      val rows = pending.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // a per-partition distinct, finished on the driver: no shuffle
        val targets = rows.select("stream_id").as[String]
          .mapPartitions(_.toSet.iterator).collect().distinct.toSeq
        if (targets.isEmpty) 0L
        else appendBulk(
          rows.join(streamSlice(targets).select(col("event_id").as("_eid")),
              col("event_id") === col("_eid"), "left_anti")
            .dropDuplicates("event_id"),
          orderBy)
      } finally rows.unpersist()
    }

  /** Distributed append for large DataFrames of pending events (ingest
    * path): assigns positions via sorted zipWithIndex — no single-partition
    * window, scales to arbitrary batch sizes — and numbers each stream on
    * from its last event number in the stream index, shipped as one
    * broadcast map. No idempotency check; use [[appendIdempotent]] for
    * writes that can replay. Skips per-event expected version (bulk ingest
    * is ExpectedVersion.Any by definition) but still refuses streams the
    * index marks tombstoned, and records over 16 MiB. One per-stream
    * aggregate over the persisted output answers both checks, counts the
    * rows written — the pending lineage (which may itself read this log)
    * runs once — and is the stats delta, written on the driver after the
    * log and folded into the index. Returns the number of rows written. */
  def appendBulk(pending: DataFrame, orderBy: Seq[String] = Seq("timestamp", "event_id")): Long = {
    // same writer serialization as append() (EventLogStore object doc)
    EventLogStore.appendLockFor(path).synchronized {
    val idx = streamIndex()
    val maxPos = idx.maxPos
    val sorted = pending.orderBy(orderBy.map(col): _*)
    val schema = sorted.schema
    val withPos = spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (maxPos + 1 + i)) },
      schema.add("log_position", "long"))
    val shipped = spark.sparkContext.broadcast(idx.streams)
    val lastOf = udf((s: String) => shipped.value.get(s).fold(-1L)(_.last))
    val wStream = Window.partitionBy(col("stream_id")).orderBy(col("log_position"))
    val out = withPos
      .withColumn("event_number", lastOf(col("stream_id")) + row_number().over(wStream))
      .withColumn("timestamp", coalesce(col("timestamp"), current_timestamp()))
      .withColumn("is_json", lit(true))
      .withColumn("is_redacted", lit(false))
      .select("stream_id", "event_number", "event_id", "event_type", "timestamp",
        "log_position", "correlation_id", "is_json", "data", "metadata",
        "is_redacted")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val agg = perStream(out)
      val n = agg.map(_.getLong(1)).sum
      if (n == 0L) return 0L
      agg.find(r => idx.streams.get(r.getString(0)).exists(_.tombstoned)).foreach { r =>
        throw new WrongExpectedVersionException(s"stream ${r.getString(0)} is deleted")
      }
      // the 16 MiB record ceiling applies to the bulk path too
      agg.find(_.getLong(5) > EventLogStore.MaxRecordSizeBytes).foreach { r =>
        throw new MaxAppendSizeExceededException(
          s"event ${r.getString(6)} exceeds the 16 MiB record limit")
      }
      writeLayoutMarker()
      armAppendMarker()
      // durability order: marker, log files, stats delta, disarm
      withPartitionCols(out).write.mode(SaveMode.Append).options(logWriteOptions(n))
        .partitionBy(partitionCols: _*).parquet(logDir)
      writeStatsDelta(statsOf(agg))
      disarmAppendMarker()
      n
    } finally {
      out.unpersist()
      shipped.destroy()
    }
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
    * stats table is compacted to the stream index's rows, one per stream
    * (not rebuilt from the log), so per-stream last event numbers survive
    * even when every data row of a stream was removed.
    *
    * Crash-safe swap: the index's rows are written on the driver as one
    * file in `stats_scavenged`, the live table atomically moved aside to
    * `stats_old`, the new one moved into place, and only then is the old
    * one deleted; the index then records the one file as folded, so it
    * reads nothing back. Every move is `Files.move(ATOMIC_MOVE)` and throws
    * on failure; an interrupted swap is repaired by
    * recoverInterruptedScavenge() on next open (stats deltas are
    * order-insensitive per stream, so restoring pre-compaction stats next
    * to a scavenged log is still correct). */
  def scavenge(asOf: Column = current_timestamp()): Unit = {
    if (!exists) return
    // under the append lock: an append's stats delta landing between the
    // compaction's read and its swap would be deleted with the old table
    EventLogStore.appendLockFor(path).synchronized {
      scavengeIncremental(asOf)
      val idx = streamIndex()
      val tmpStats = s"$path/stats_scavenged"
      deleteRecursively(new java.io.File(tmpStats))
      val name = writeStatsFile(tmpStats, idx.streams.toSeq)
      moveAtomic(statsDir, s"$path/stats_old")
      moveAtomic(tmpStats, statsDir)
      deleteRecursively(new java.io.File(s"$path/stats_old"))
      indexLock.synchronized { loadedIndex = idx.copy(files = Set(name)) }
    }
  }

  /** Spark caches file listings per path; directories swapped in behind a
    * cached listing read as FILE_NOT_EXIST without this. (`stats/` is read
    * only by [[readStatsRows]], a fresh listing each time.) */
  private def refreshListings(): Unit = spark.catalog.refreshByPath(logDir)

  /** Incremental scavenge — mirroring the reference's chunk-by-chunk
    * staged scavenge (TransactionLog/Scavenging/Stages), which calculates
    * discard points only for streams that carry metadata or a tombstone:
    * removes exactly the rows [[readRetained]] no longer returns, plus the
    * rows of `$tmp` streams. The bounds are [[retentionBounds]]' (the
    * stream index plus one bucket-pruned read of the metastreams it holds),
    * with `$tmp` streams marked deleted. Only a data stream the index marks
    * tombstoned or holds a `$$` metastream row for can lose rows (any other
    * stream's bounds keep everything), so those are the candidates; with
    * none, no Spark job runs. Their bounds reach the scans as one broadcast
    * map. `asOf` is evaluated once, so detection and
    * rewrite apply the same maxAge cutoff. One detection scan over the
    * candidates' buckets counts each partition's removable and surviving
    * rows; a partition with removable rows is rewritten by one scan and one
    * write, with an on-disk marker making each swap restartable, and one
    * with no survivors is deleted. Tombstones and metastreams are always
    * kept. Returns the rewritten partition values.
    *
    * A [[graft.streaming.Subscriptions.subscribeAll]] query resumed from its
    * checkpoint re-delivers every surviving row of a rewritten partition:
    * its file source tracks files by name, and a rewrite writes new ones. */
  def scavengeIncremental(asOf: Column = current_timestamp()): Seq[String] = {
    if (!exists) return Seq.empty
    // under the append lock, like every partition rewrite: a file an append
    // renames into a partition between the rewrite's read and its swap
    // would be moved aside and deleted with the old files
    EventLogStore.appendLockFor(path).synchronized {
    import graft.operators.Retention
    val prefix = EventEnvelope.MetastreamPrefix
    // $tmp streams go at scavenge (their metastream row is kept, so the
    // flag and the stats row survive and numbering stays monotone)
    val bounds = dataStreamBounds(streamIndex()).map { case (s, b, temp) =>
      s -> b.copy(deleted = b.deleted || temp)
    }.filter { case (_, b) => b.deleted || b.minEvent > 0 || b.maxAgeSec.isDefined }.toMap
    if (bounds.isEmpty) return Nil
    // "now" from a one-row local relation: no Spark job
    val now = lit(Seq(0).toDF("_").select(asOf).collect()(0).get(0))
    val isData = !col("stream_id").startsWith(prefix) &&
      !(col("event_type") <=> EventEnvelope.StreamDeletedEventType)
    val shipped = spark.sparkContext.broadcast(bounds)
    try {
      val b = udf((s: String) => shipped.value.get(s)).apply(col("stream_id"))
      // Retention.keepCondition over each row's looked-up bounds
      val keep = !isData || Retention.keepCondition(b("minEvent"),
        Retention.cutoff(now, b("maxAgeSec")), b("deleted"))
      val scan = if (!bucketed) read()
        else read().where(col("p_bucket").isin(bounds.keys.map(bucketFor).toSeq.distinct: _*))
      // per task (partition suffix -> removable, surviving rows), summed on
      // the driver: one job, no shuffle
      val affected = scan.select(partitionSuffix, keep).as[(String, Boolean)]
        .mapPartitions { rows =>
          val n = scala.collection.mutable.HashMap.empty[String, Array[Long]]
          rows.foreach { case (part, k) => n.getOrElseUpdate(part, Array(0L, 0L))(if (k) 1 else 0) += 1 }
          n.iterator.map { case (part, c) => (part, c(0), c(1)) }
        }.collect().toSeq
        .groupMapReduce(_._1)(c => (c._2, c._3))((x, y) => (x._1 + y._1, x._2 + y._2))
        .collect { case (part, (removed, kept)) if removed > 0 => (part, kept) }
        .toSeq.sortBy(_._1)
      affected.foreach {
        case (suffix, 0L) =>
          deleteRecursively(new java.io.File(s"$logDir/$suffix"))
          refreshListings()
        case (suffix, kept) =>
          rewritePartition(suffix, read().where(partitionPredicate(suffix)).where(keep), kept)
      }
      affected.map(_._1)
    } finally shipped.destroy()
    }
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
    * concerns. Returns the rewritten partition suffixes.
    *
    * A [[graft.streaming.Subscriptions.subscribeAll]] query resumed from its
    * checkpoint re-delivers every row of a compacted partition: its file
    * source tracks files by name, and a rewrite writes new ones. */
  def compact(maxFilesPerPartition: Int = 8,
      targetFileBytes: Long = EventLogStore.TargetFileBytes): Seq[String] = {
    if (!exists) return Seq.empty
    // under the append lock (see scavengeIncremental)
    EventLogStore.appendLockFor(path).synchronized {
    val root = Paths.get(logDir)
    val partitions = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[java.io.File])]
    def walk(dir: java.io.File): Unit = {
      val files = dataFiles(dir)
      if (files.nonEmpty) partitions += ((root.relativize(dir.toPath).toString, files))
      Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory).foreach(walk)
    }
    walk(root.toFile)
    val affected = partitions.filter(_._2.size > maxFilesPerPartition).toSeq.sortBy(_._1)
    affected.foreach { case (suffix, files) =>
      rewritePartition(suffix, read().where(partitionPredicate(suffix)), footerRows(files),
        targetFileBytes)
    }
    affected.map(_._1)
    }
  }

  /** The parquet data files directly in a directory. */
  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Rows in parquet files, summed from their footers on the driver (no
    * Spark job). */
  private def footerRows(files: Seq[java.io.File]): Long = files.map { f =>
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), spark.sparkContext.hadoopConfiguration))
    try reader.getRecordCount finally reader.close()
  }.sum

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
      val hit = streamSlice(Seq(streamId)).where(col("event_number") === eventNumber)
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
            when(target, lit("")).otherwise(col("data"))),
          footerRows(dataFiles(new java.io.File(s"$logDir/$suffix"))))
      }
      n
    }
  }

  /** Rewrite one partition dir crash-safely: write its `rows` kept rows to
    * a scratch dir in files of about `targetFileBytes` (sized from the
    * partition's bytes on disk), record a marker, swap, clean up. A crash
    * at any point is repaired by recoverInterruptedScavenge() using the
    * marker. */
  private def rewritePartition(suffix: String, keepRows: DataFrame, rows: Long,
      targetFileBytes: Long = EventLogStore.TargetFileBytes): Unit = {
    val partDir = s"$logDir/$suffix"
    val bytes = dataFiles(new java.io.File(partDir)).map(_.length).sum
    val tmp = s"$path/scavenge_part_tmp"
    val aside = s"$path/scavenge_part_old"
    keepRows.drop(partitionCols: _*)
      .coalesce(math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt))
      .sortWithinPartitions(col("stream_id"), col("event_number"))
      .write.mode(SaveMode.Overwrite).options(logWriteOptions(rows)).parquet(tmp)
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
