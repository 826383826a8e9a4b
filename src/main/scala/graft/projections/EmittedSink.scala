package graft.projections

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.EventLogStore

/** P21: exactly-once emitted streams (SURVEY §2.3).
  *
  * The reference's EmittedStream (722 LoC) writes emitted events with
  * expected-version tracking so projection replays don't duplicate. The
  * Spark shape: every emitted event gets a DETERMINISTIC event_id
  * `{projection}:{partition}:{causedByPosition}:{emitSeq}` — a pure
  * function of its cause — and the store's one idempotent write,
  * [[EventLogStore.appendIdempotent]], drops every id already in its
  * target stream. Re-running the projection (full or resumed) re-derives
  * identical ids, so replays are no-ops. */
object EmittedSink {

  /** Deterministic idempotency key for an emitted event. The projection
    * tag carries the epoch after a reset (`name@2`) so post-reset re-runs
    * produce FRESH ids — pre-reset events stay in the raw log (truncated,
    * invisible) without swallowing the re-emit (ManagedProjection's
    * epoch-on-Reset semantics). */
  def eventId(projectionTag: String): org.apache.spark.sql.Column =
    concat_ws(":", lit(projectionTag), col("partition"),
      col("caused_by_position"), col("emit_seq"))

  /** Append emitted events into `store`'s log idempotently. Returns the
    * number of NEW events written (0 on a pure replay). Also maintains
    * the `$projections-{name}-emittedstreams` registry (reference
    * ProjectionNamesBuilder.GetEmittedStreamsName) that
    * [[ProjectionLifecycle.reset]] uses to find and truncate emitted
    * streams.
    *
    * The dedup scope is the batch's target streams, the per-stream rule of
    * [[EventLogStore.append]] and the reference's EmittedStream: an
    * emitted id is a function of its cause, so it always lands in the
    * same stream. */
  def appendIdempotent(store: EventLogStore, projection: String,
      emitted: Dataset[Emitted]): Long = {
    val (epoch, resetPending, runState) =
      ProjectionLifecycle.statusFull(store, projection)
    if (resetPending)
      throw new IllegalStateException(
        s"projection $projection has a half-applied reset (crash between " +
          "truncation and the control append); re-run ProjectionLifecycle.reset " +
          "before emitting — emits now would dedup against truncated ids")
    // durable disable/fault gate — covers streamTo too (it lands here
    // every micro-batch), so flipping the flag stops a running stream at
    // its next batch boundary
    ProjectionLifecycle.requireEnabled(projection, runState)
    val tag = if (epoch == 0) projection else s"$projection@$epoch"
    val registry = ProjectionLifecycle.emittedStreamsStream(projection)
    // engine provenance fields + the handler's ExtraMetaData keys (the
    // reference merges ExtraMetaData into the emitted event's metadata
    // JSON the same way — EmittedDataEvent)
    val pending = emitted.toDF()
      .withColumn("event_id", eventId(tag))
      .withColumn("correlation_id", lit(null).cast("string"))
      .withColumn("metadata",
        concat(lit("""{"$causedBy":"""), col("caused_by_position"),
          lit(""","$projection":""""), lit(projection), lit("\""),
          when(col("metadata").isNotNull && length(col("metadata")) > 2,
            concat(lit(","), expr("substring(metadata, 2, length(metadata) - 2)")))
            .otherwise(lit("")),
          lit("}")))
      .withColumn("timestamp", lit(null).cast("timestamp"))
      .select("stream_id", "event_id", "event_type", "data", "metadata",
        "correlation_id", "timestamp", "caused_by_position")
      // one materialization of the projection lineage (which may be the
      // serial JS fold): the registry pass and the append both read the
      // cached rows, not two re-executions
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // registry first: a crash between the two commits leaves a stream
      // registered but empty (harmless); the reverse order could leave
      // emitted events invisible to a later reset
      registerEmittedStreams(store, registry, tag, pending)
      // positions assigned in cause order → emitted streams replay stably
      store.appendIdempotent(pending, orderBy = Seq("caused_by_position", "event_id"))
    } finally pending.unpersist()
  }

  /** Record the distinct target streams of this batch into the
    * projection's emittedstreams registry, idempotently per (epoch,
    * stream): one row per NEW stream. */
  private def registerEmittedStreams(store: EventLogStore, registry: String,
      tag: String, pendingEvents: DataFrame): Unit = {
    val pending = pendingEvents
      .select(col("stream_id").as("data")).distinct()
      .select(
        lit(registry).as("stream_id"),
        concat_ws(":", lit(tag), lit("es"), col("data")).as("event_id"),
        lit("$StreamTracked").as("event_type"),
        col("data"),
        lit(null).cast("string").as("metadata"),
        lit(null).cast("string").as("correlation_id"),
        lit(null).cast("timestamp").as("timestamp"))
    store.appendIdempotent(pending, orderBy = Seq("event_id")): Unit
  }

  /** Continuous emission: run a streaming Dataset[Emitted] (from
    * [[FoldBuilder.emittedStream]] / JsProjection.emittedStream) into the
    * store via foreachBatch, exactly-once. Emitted ids are deterministic
    * per (tag, partition, causedBy, seq), so a micro-batch replayed after
    * a crash re-derives the same ids and the idempotent append drops
    * them — the streaming face of the reference's EmittedStream
    * checkpointing (Processing/Emitting/EmittedStream.cs). */
  def streamTo(store: EventLogStore, projection: String,
      emitted: Dataset[Emitted], checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    emitted.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Emitted], _: Long) =>
        appendIdempotent(store, projection, batch): Unit
      }
      .trigger(trigger)
      .start()
}
