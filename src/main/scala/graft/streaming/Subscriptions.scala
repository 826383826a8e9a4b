package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.model.EventEnvelope
import graft.projections.{LogEvent, Projections}

/** Reorder-buffer state for P17 (Subscriptions.reorderedStream). */
final case class ReorderBuffer(pending: Seq[LogEvent], highWater: Long)

/** State-store record for P16 continuous bi-state folds: the shared state
  * plus every partition's state, in one entry (the fold is one serial
  * group — see Subscriptions.biProjectionStream). */
final case class BiStreamState[S](shared: S, parts: Map[String, S])

/** Subscriptions as Structured Streaming queries (SURVEY.md §2.5).
  *
  * Reference semantics:
  *  - SUB1 catch-up → live stream subscription
  *    (Enumerator.StreamSubscription.cs:155-223): read history then switch
  *    to live. In Spark the micro-batch file source *is* that unification —
  *    the first batches replay history, subsequent batches are the tail.
  *  - SUB2 filtered $all subscription (Enumerator.AllSubscriptionFiltered.cs)
  *    = the same stream with a server-side filter Column; streaming offsets
  *    play the role of the periodic checkpoint messages.
  *  - SUB3 persistent-subscription capabilities that are Spark workloads:
  *    group cursor = the query's checkpointLocation; parking = dead-letter
  *    sink via foreachBatch try/catch; replay-parked = batch re-union of the
  *    parked table (competing-consumer dispatch itself is OLTP serving,
  *    out of scope per BASELINE.json).
  *  - P20 continuous projections: flatMapGroupsWithState carries partition
  *    state across micro-batches; the state store + offset log replace
  *    CheckpointTag (Processing/Checkpointing/).
  */
object Subscriptions {

  /** Streaming read schema for a log dir: taken from the files already on
    * disk when any exist (so a bucketed log's `p_bucket` partition column
    * comes through), else from the store's layout marker, else the
    * unbucketed default. */
  private[graft] def logSchema(spark: SparkSession,
      logDir: String): org.apache.spark.sql.types.StructType = {
    val dir = new java.io.File(logDir)
    if (dir.exists())
      try return spark.read.parquet(logDir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    val base = EventEnvelope.schema.add("p_date", "date")
    if (graft.sources.EventLogStore.layoutBuckets(dir.getAbsoluteFile.getParent).exists(_ > 0))
      base.add("p_bucket", "int")
    else base
  }

  /** SUB2: subscribe to $all with an optional server-side filter and an
    * explicit start position — the reference's filtered $all subscription
    * takes a start TFPos (Enumerator.AllSubscriptionFiltered.cs); events at
    * or before `fromPosition` are excluded (new subscriber starting at P,
    * distinct from checkpoint-restart which streaming offsets cover). */
  def subscribeAll(spark: SparkSession, logDir: String,
      filter: Column = lit(true), fromPosition: Long = -1L): DataFrame =
    // scrub BEFORE the caller's filter — a data-referencing predicate
    // must see what a reader sees (empty payload for redacted events),
    // matching the batch readers' order (Reads.readAllForwards)
    graft.operators.Redaction.scrub(spark.readStream
      .schema(logSchema(spark, logDir))
      .parquet(logDir))
      .where(filter && col("log_position") > fromPosition)

  /** SUB1: subscribe to one stream from a given event number. */
  def subscribeStream(spark: SparkSession, logDir: String, streamId: String,
      from: Long = 0L): DataFrame =
    subscribeAll(spark, logDir,
      col("stream_id") === streamId && col("event_number") >= from)

  /** SUB1 + R1: subscribe to one stream honoring read-time retention
    * (maxCount/maxAge/$tb metadata, tombstones) — the reference applies
    * retention at EVERY read (IndexReader.ReadStreamEventsForwardInternal),
    * so a catch-up subscription must not replay already-retired history.
    *
    * The bounds are resolved ONCE at subscription creation from the
    * on-disk log — a driver-side point lookup, not a stream-stream join.
    * That is sufficient: min_event_number only ever rises and the age
    * cutoff only moves forward, so a start-time bound never re-admits
    * retired catch-up history, and live-tail events are always newer than
    * any fixed cutoff (they can never be over-trimmed). A tombstoned
    * stream yields no rows, like the reference's StreamDeleted outcome. */
  /** Batch view of the on-disk log, or None when there is no history yet
    * (missing dir, or an existing dir with no parquet segments — schema
    * inference throws on those; same guard as [[logSchema]]). */
  private def historyOpt(spark: SparkSession, logDir: String): Option[DataFrame] =
    if (!new java.io.File(logDir).exists()) None
    else
      try Some(spark.read.parquet(logDir))
      catch { case _: org.apache.spark.sql.AnalysisException => None }

  def subscribeStreamRetained(spark: SparkSession, logDir: String,
      streamId: String, from: Long = 0L,
      asOf: Column = current_timestamp()): DataFrame = {
    val (minEvt, cutoff, deleted) = historyOpt(spark, logDir) match {
      case None => (0L, Option.empty[java.sql.Timestamp], false)
      case Some(history) =>
        val metaStream = EventEnvelope.MetastreamPrefix + streamId
        val slice = history
          .where(col("stream_id").isin(streamId, metaStream))
        val meta = graft.operators.Retention.metadataFromLog(slice)
        graft.operators.Retention
          .bounds(slice.where(col("stream_id") === streamId), meta, asOf)
          .collect().headOption match {
          case Some(r) => (
            r.getLong(r.fieldIndex("_min_event_number")),
            Option(r.getAs[java.sql.Timestamp]("_cutoff_ts")),
            r.getBoolean(r.fieldIndex("_deleted")))
          case None => (0L, None, false) // no history yet — nothing to clamp
        }
    }
    if (deleted) subscribeAll(spark, logDir, lit(false))
    else {
      val ageOk = cutoff.map(ts => col("timestamp") >= lit(ts))
        .getOrElse(lit(true))
      subscribeAll(spark, logDir,
        col("stream_id") === streamId &&
          col("event_number") >= math.max(from, minEvt) && ageOk)
    }
  }

  /** SUB2 + R1: filtered `$all` subscription honoring read-time retention
    * for EVERY stream — a stream-static join against the per-stream
    * [[graft.operators.Retention.bounds]] table, broadcast (one small row
    * per stream, never a shuffle of the event stream). Like
    * [[subscribeStreamRetained]], the bounds are FIXED at subscription
    * creation: the batch read's file listing snapshots then (stream-static
    * joins re-execute the static plan per micro-batch but never re-list
    * files), and that is sound in the same direction — per-stream bounds
    * only rise over time, so a creation-time clamp never re-admits
    * already-retired history; events retired AFTER creation keep flowing
    * until the next (re)subscription, exactly the catch-up/live split.
    * Re-subscribe (new call, same checkpoint) to pick up newer bounds,
    * and do so after a scavenge in any case — the frozen listing would
    * otherwise reference physically deleted files. Metastreams are
    * excluded (a `$all` reader sees data streams; the reference surfaces
    * metadata through its own `$$` reads).
    *
    * Scale note: bounds() recomputes per-stream last-event-numbers from
    * the log; at very large stream counts feed it the incrementally
    * maintained stats table instead (EventLogStore keeps one:
    * store.subscribeAllRetained passes its retentionBounds,
    * the bounds its retained reads and scavenge apply). */
  def subscribeAllRetained(spark: SparkSession, logDir: String,
      filter: Column = lit(true), fromPosition: Long = -1L,
      asOf: Column = current_timestamp(),
      boundsOverride: Option[DataFrame] = None): DataFrame = {
    val noMeta = !col("stream_id").startsWith(EventEnvelope.MetastreamPrefix)
    val base = subscribeAll(spark, logDir, filter && noMeta, fromPosition)
    val bounds = boundsOverride.orElse(historyOpt(spark, logDir).map { log =>
      // standalone derivation from the raw log; an EventLogStore caller
      // passes its stats-table bounds instead (store.subscribeAllRetained)
      graft.operators.Retention.bounds(
        log.where(noMeta), graft.operators.Retention.metadataFromLog(log), asOf)
    })
    bounds match {
      case None => base
      case Some(b) =>
        base.join(broadcast(b), Seq("stream_id"), "left")
          .where(graft.operators.Retention.keepCondition)
          .drop("_min_event_number", "_cutoff_ts", "_deleted")
    }
  }

  /** P20: run a projection fold as a continuous streaming query. State per
    * partition key lives in the state store and survives restarts via the
    * checkpoint dir. Emits (partition, state) after every update
    * (OutputMode.Update semantics — outputState after each event batch).
    *
    * Events inside a micro-batch are folded in log_position order; across
    * batches the file source preserves append order. */
  def projectionStream[S](events: DataFrame,
      partitionFn: LogEvent => Option[String],
      init: () => S,
      step: (S, LogEvent) => S,
      // Update by default; Append when chained after another stateful
      // operator (Spark requires all-append in that case) — either way
      // one (key, state) row is emitted per touched key per micro-batch
      outputMode: OutputMode = OutputMode.Update)(implicit encS: Encoder[S],
      encOut: Encoder[(String, S)],
      encKV: Encoder[(String, LogEvent)]): Dataset[(String, S)] = {
    val ds = Projections.toLogEvents(events)
    ds.flatMap(e => partitionFn(e).map(k => (k, e)))(encKV)
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[S, (String, S)](
        outputMode, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, LogEvent)], state: GroupState[S]) =>
          val sorted = rows.map(_._2).toSeq.sortBy(_.log_position)
          var s = state.getOption.getOrElse(init())
          sorted.foreach(e => s = step(s, e))
          state.update(s)
          Iterator.single((key, s))
      }
  }

  /** P16 continuous mode: the EXACT interleaved bi-state fold as a
    * streaming query. Each step sees its partition's state AND the shared
    * state as they stood after the previous event in log order — the
    * reference's `[partitionState, sharedState]` interleaving fed through
    * one serial projection pump (JintProjectionStateHandler.cs:97-133).
    *
    * Serial BY DESIGN, exactly like the batch exact mode
    * ([[graft.projections.BiStateFold.states]]' repartition(1)) and like
    * the reference's pump: ONE group key, so the state store holds one
    * entry of O(partitions) size and every micro-batch folds in one task.
    * For shared folds that are commutative+associative, prefer the
    * two-level scale-out shape (ProjectionQueries.p16BiState) batch-side.
    * Emits (partition, state) for every partition TOUCHED in the batch,
    * plus the ("$shared", state) row, per micro-batch (Update mode). */
  def biProjectionStream[S](events: DataFrame,
      partitionFn: LogEvent => Option[String],
      initP: () => S,
      initShared: () => S,
      step: (S, S, LogEvent) => (S, S),
      withMeta: Boolean = false)(implicit
      encOut: Encoder[(String, S)],
      encKV: Encoder[(String, LogEvent)]): Dataset[(String, S)] = {
    implicit val encState: Encoder[BiStreamState[S]] =
      org.apache.spark.sql.Encoders.javaSerialization(classOf[BiStreamState[S]])
    val ds = Projections.toLogEvents(events, withMeta)
    ds.map(e => ("", e))(encKV)
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[BiStreamState[S], (String, S)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, LogEvent)],
            state: GroupState[BiStreamState[S]]) =>
          val st = state.getOption.getOrElse(
            BiStreamState(initShared(), Map.empty[String, S]))
          var shared = st.shared
          var parts = st.parts
          val touched = scala.collection.mutable.LinkedHashSet.empty[String]
          rows.map(_._2).toSeq.sortBy(_.log_position).foreach { e =>
            partitionFn(e).foreach { k =>
              val s = parts.getOrElse(k, initP())
              val (ns, nsh) = step(s, shared, e)
              parts = parts.updated(k, ns)
              shared = nsh
              touched += k
            }
          }
          state.update(BiStreamState(shared, parts))
          touched.iterator.map(k => (k, parts(k))) ++
            Iterator((graft.projections.BiStateFold.SharedKey, shared))
      }
  }

  /** Streaming windows + watermarks — a capability the reference lacks
    * (SURVEY §2.6: ordering there is total, late data impossible; Spark
    * adds real event-time windows). Tumbling-window count/sum per
    * event_type with bounded state: the watermark closes windows older
    * than `delay`, so the state store stays O(open windows), not O(log). */
  def windowedAgg(events: DataFrame, windowDuration: String,
      delay: String, valueCol: String = "value"): DataFrame =
    events.withWatermark("timestamp", delay)
      .groupBy(window(col("timestamp"), windowDuration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total"))

  /** Streaming SESSION windows (native `session_window`, Spark 3.2+):
    * per-stream activity sessions closed by `gap` of event-time
    * inactivity. Append-mode semantics: a session row is emitted exactly
    * once, when the watermark passes its end — so state is O(open
    * sessions) and downstream sees only finalized sessions. Batch parity:
    * the same `session_window` groupBy over the full log yields the same
    * rows (the streaming run withholds only sessions the watermark has
    * not yet closed). */
  def sessionWindowedAgg(events: DataFrame, gap: String, delay: String): DataFrame =
    events.withWatermark("timestamp", delay)
      .groupBy(session_window(col("timestamp"), gap).as("w"), col("stream_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("stream_id"), col("n"))

  /** P17 reorderEvents + processingLag: a stateful reorder buffer for
    * multi-stream sources whose events can arrive across micro-batch
    * boundaries out of global-position order. Events are buffered in the
    * state store and released IN log_position ORDER once the high-water
    * mark has advanced `lagPositions` past them (the reference buffers by
    * prepare position with a processingLag time slack —
    * docs/projections/custom.md:46-47; MultiStream reader).
    *
    * Keyed by a constant: total-order reordering is inherently serial
    * (the reference's projection core is too — one ordered pump per
    * projection); the buffer holds only the lag window, not the log.
    * Returns (released events as LogEvent rows) in release order. */
  def reorderedStream(events: DataFrame, lagPositions: Long)(
      implicit encS: Encoder[ReorderBuffer],
      encOut: Encoder[LogEvent],
      encKV: Encoder[(String, LogEvent)]): Dataset[LogEvent] = {
    val ds = Projections.toLogEvents(events)
    ds.map(e => ("", e))(encKV)
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[ReorderBuffer, LogEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, LogEvent)], state: GroupState[ReorderBuffer]) =>
          val buf = state.getOption.getOrElse(ReorderBuffer(Seq.empty, Long.MinValue))
          val incoming = rows.map(_._2).toSeq
          val all = (buf.pending ++ incoming).sortBy(_.log_position)
          val highWater = (buf.highWater +: incoming.map(_.log_position)).max
          val (release, hold) = all.partition(_.log_position <= highWater - lagPositions)
          state.update(ReorderBuffer(hold, highWater))
          release.iterator
      }
  }

  /** P17 with the reference's actual lag unit: MILLISECONDS of event time
    * (processingLag — docs/server/features/projections/custom.md:46-47
    * buffers by prepare-position timestamp with a time slack). Events are
    * buffered until the maximum timestamp seen has advanced `lagMillis`
    * past them, then released in log_position order. Same serial shape as
    * [[reorderedStream]] (the reference's pump is serial too). */
  def reorderedStreamByTime(events: DataFrame, lagMillis: Long)(
      implicit encS: Encoder[ReorderBuffer],
      encOut: Encoder[LogEvent],
      encKV: Encoder[(String, LogEvent)]): Dataset[LogEvent] = {
    val ds = Projections.toLogEvents(events)
    ds.map(e => ("", e))(encKV)
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[ReorderBuffer, LogEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, LogEvent)], state: GroupState[ReorderBuffer]) =>
          val buf = state.getOption.getOrElse(ReorderBuffer(Seq.empty, Long.MinValue))
          val incoming = rows.map(_._2).toSeq
          val all = (buf.pending ++ incoming).sortBy(_.log_position)
          // highWater carries the max TIMESTAMP (millis) seen so far
          val highWater = (buf.highWater +: incoming.map(_.timestamp.getTime)).max
          val (release, hold) =
            all.partition(_.timestamp.getTime <= highWater - lagMillis)
          state.update(ReorderBuffer(hold, highWater))
          release.iterator
      }
  }

  /** Flush a reorder buffer at end-of-input: returns everything still held,
    * in order (batch-mode tail; streaming would flush via timeout). */
  def reorderedFlush(buf: ReorderBuffer): Seq[LogEvent] =
    buf.pending.sortBy(_.log_position)

  /** Streaming exact dedup: keep the first arrival per fingerprint across
    * micro-batches. `dropDuplicatesWithinWatermark` ties state eviction to
    * the watermark on `tsCol` (plain `dropDuplicates("_fp")` would never
    * evict — the event-time column isn't in the key set — and state would
    * grow without bound on continuous ingestion). Duplicates arriving
    * within the watermark delay of the first sighting are dropped; bounded
    * state is the contract — the streaming face of `Dedup.exact`. */
  def dedupStream(docs: DataFrame, fingerprintCol: Column, tsCol: String,
      delay: String): DataFrame =
    docs.withColumn("_fp", fingerprintCol)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** SUB3 parking: write each micro-batch with a dead-letter path. Rows the
    * handler rejects are appended to the parked sink instead of failing the
    * query (PersistentSubscription.cs NakAction.Park). Returns the running
    * query. `handler` throws to nack a batch row-set. */
  def withDeadLetter(events: DataFrame, checkpoint: String,
      process: DataFrame => Unit, parkedDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        try process(batch)
        catch {
          case _: Throwable =>
            batch.write.mode("append").parquet(parkedDir)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** SUB3 replay-parked: union the parked table back into a batch read. */
  def replayParked(spark: SparkSession, parkedDir: String): DataFrame =
    spark.read.parquet(parkedDir)
}
