package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Read-time retention semantics (SURVEY.md §2.2 R1, §2.1 S5).
  *
  * Reference: IndexReader.ReadStreamEventsForwardInternal
  * (src/EventStore.Core/Services/Storage/ReaderIndex/IndexReader.cs:226-306):
  *   - tombstoned stream (last == EventNumber.DeletedStream) → StreamDeleted
  *   - metadata.TruncateBefore == long.MaxValue → NoStream (soft delete)
  *   - minEventNumber = max(0, last - maxCount + 1, truncateBefore)
  *   - maxAge: only events with timestamp >= asOf - maxAge are returned
  *     (IndexReader.cs:277-283 ForStreamWithMaxAge)
  *
  * Spark-first: the per-stream lower bound is computed once into a small
  * `bounds` table (stream_id, min_event_number, cutoff_ts, deleted) and
  * broadcast-joined into the scan, so retention costs one broadcast hash
  * join — no shuffle of the event log itself. At 100 TB the bounds table is
  * one row per retained stream (≪ events) and is maintained incrementally
  * at ingest alongside the last-event-number stats table.
  */
object Retention {

  /** Sentinel: a truncate-before of Long.MaxValue means soft-deleted
    * (EventNumber.DeletedStream — src/EventStore.Core/Data/EventNumber.cs:7). */
  val DeletedStream: Long = Long.MaxValue

  /** Metadata DataFrame schema: stream_id, max_count (long, null), max_age_sec
    * (long, null), truncate_before (long, null), tombstoned (bool).
    *
    * `asOf` fixes "now" for maxAge so results are deterministic/replayable.
    */
  def applyRetention(log: DataFrame, meta: DataFrame, asOf: Column): DataFrame =
    applyBounds(log, bounds(log, meta, asOf))

  /** The per-stream retention bounds table — computed once from the FULL
    * log (last event numbers are global state), then applicable to any
    * slice of it. For standalone readers of a raw log directory; a store
    * derives the same table from its stats instead ([[boundsFromLasts]]). */
  def bounds(log: DataFrame, meta: DataFrame, asOf: Column): DataFrame =
    boundsFromLasts(
      log.groupBy(col("stream_id")).agg(max(col("event_number")).as("_last")),
      meta, asOf)

  /** [[bounds]] over a PRECOMPUTED per-stream last-event-number table
    * `(stream_id, _last[, _tombstoned])` — the incremental-stats fast
    * path: EventLogStore maintains exactly this table at append time, so
    * its retained reads, subscriptions and scavenge derive their bounds
    * from one small point table plus the metastream rows
    * (EventLogStore.retentionBounds), never aggregating the event log
    * itself. An optional `_tombstoned` column ORs into the deleted flag
    * alongside the metadata-derived one. */
  def boundsFromLasts(lasts: DataFrame, meta: DataFrame, asOf: Column): DataFrame = {
    val withTomb =
      if (lasts.columns.contains("_tombstoned")) lasts
      else lasts.withColumn("_tombstoned", lit(false))
    // metadataFromMetastreams carries no tombstoned column (that is the
    // point — its callers bring tombstones via `_tombstoned`)
    val metaTomb: Column =
      if (meta.columns.contains("tombstoned"))
        coalesce(col("tombstoned"), lit(false))
      else lit(false)
    withTomb.join(meta, Seq("stream_id"), "left")
      .select(
        col("stream_id"),
        greatest(
          lit(0L),
          when(col("max_count").isNotNull, col("_last") - col("max_count") + 1L).otherwise(lit(0L)),
          coalesce(col("truncate_before"), lit(0L))
        ).as("_min_event_number"),
        when(col("max_age_sec").isNotNull,
          asOf - make_dt_interval(lit(0), lit(0), lit(0), col("max_age_sec").cast("double"))
        ).as("_cutoff_ts"),
        (metaTomb ||
          coalesce(col("_tombstoned"), lit(false)) ||
          coalesce(col("truncate_before"), lit(0L)) === DeletedStream).as("_deleted"))
  }

  /** The row-level keep predicate of [[bounds]], as a Column over a log
    * slice joined to the bounds table. */
  def keepCondition: Column =
    !coalesce(col("_deleted"), lit(false)) &&
      col("event_number") >= coalesce(col("_min_event_number"), lit(0L)) &&
      (col("_cutoff_ts").isNull || col("timestamp") >= col("_cutoff_ts"))

  /** Apply a precomputed bounds table to a log slice (redaction-scrubbed:
    * retained reads are reads — PrepareLogRecord.cs:65). */
  def applyBounds(slice: DataFrame, bounds: DataFrame): DataFrame =
    Redaction.scrub(slice).join(broadcast(bounds), Seq("stream_id"), "left")
      .where(keepCondition)
      .drop("_min_event_number", "_cutoff_ts", "_deleted")

  /** Parse stream metadata out of metastream rows (`$$<stream>`), JSON body
    * keys `$maxCount`/`$maxAge`/`$tb` (StreamMetadata.cs:17-52). The latest
    * metadata event per metastream wins. Tombstones come from
    * `$streamDeleted` events in the base stream. */
  def metadataFromLog(log: DataFrame): DataFrame = {
    val metaRows = metadataFromMetastreams(log)
    val tombstones = log
      .where(col("event_type") === graft.model.EventEnvelope.StreamDeletedEventType)
      .select(col("stream_id")).distinct()
      .withColumn("tombstoned", lit(true))
    metaRows.join(tombstones, Seq("stream_id"), "full")
      .select(col("stream_id"), col("max_count"), col("max_age_sec"),
        col("truncate_before"), coalesce(col("tombstoned"), lit(false)).as("tombstoned"),
        // $tmp (StreamMetadata.TempStream): stream is readable until the
        // next scavenge physically removes it — a scavenge-time flag, NOT
        // a read-time one, so applyRetention/bounds ignore it
        coalesce(col("temp"), lit(false)).as("temp"))
  }

  /** The metastream-derived half of [[metadataFromLog]] — WITHOUT the
    * tombstone scan over the base log (tombstoned = false throughout).
    * Callers that already know tombstone state from a stats table
    * (EventLogStore.retentionBounds) pair this with
    * [[boundsFromLasts]]' `_tombstoned` column, and the `$$`-prefix
    * filter pushes to the parquet scan as a StringStartsWith. */
  def metadataFromMetastreams(log: DataFrame): DataFrame =
    log.where(col("stream_id").startsWith("$$"))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("stream_id")).orderBy(col("event_number").desc)))
      .where(col("_rn") === 1)
      .select(
        expr("substring(stream_id, 3)").as("stream_id"),
        get_json_object(col("data"), "$.$maxCount").cast("long").as("max_count"),
        get_json_object(col("data"), "$.$maxAge").cast("long").as("max_age_sec"),
        get_json_object(col("data"), "$.$tb").cast("long").as("truncate_before"),
        coalesce(get_json_object(col("data"), "$.$tmp").cast("boolean"), lit(false)).as("temp"))
}
