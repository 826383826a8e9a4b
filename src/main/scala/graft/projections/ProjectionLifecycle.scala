package graft.projections

import org.apache.spark.sql.functions._
import graft.model.EventEnvelope
import graft.sources.{EventLogStore, PendingEvent}

/** Projection lifecycle management — the reset/update half of the
  * reference's ManagedProjection state machine
  * (EventStore.Projections.Core/Services/Management/ManagedProjection.cs:
  * Reset/SetState discard checkpoints, bump the projection epoch, and
  * delete the projection's emitted streams so an updated definition
  * re-runs from a blank slate).
  *
  * The Spark shape:
  *  - a control stream `$projections-{name}-control` records one
  *    `$ProjectionReset` event per reset; the projection EPOCH is the
  *    count of those events (reference: ManagedProjection's Epoch/Version
  *    persisted in `$projections-{name}` prepared records).
  *  - emitted-event and checkpoint idempotency keys incorporate the epoch
  *    ([[EmittedSink.eventId]], [[ProjectionCheckpoints]]), so a
  *    post-reset re-run re-emits fresh events instead of being swallowed
  *    by the exactly-once dedup against pre-reset ids.
  *  - reset soft-deletes (truncates via `$tb`) every visible
  *    `$projections-{name}-*` stream AND every stream the projection ever
  *    emitted into — the reference deletes emitted streams on reset the
  *    same way (emitted streams are projection-owned), using its
  *    `$projections-{name}-emittedstreams` registry, which
  *    [[EmittedSink.appendIdempotent]] maintains here too.
  *
  * Everything is driver-light: the only collect()s are point lookups on
  * the control stream; the stream inventory + truncation-point math runs
  * as one distributed plan appended in one bulk commit.
  */
object ProjectionLifecycle {

  def controlStream(name: String): String = s"$$projections-$name-control"
  def emittedStreamsStream(name: String): String =
    s"$$projections-$name-emittedstreams"

  /** Durable run state — the enable/disable/fault half of the reference's
    * ManagedProjection state machine (the ManagedProjectionStates
    * directory: Stopped/Running carry an Enabled flag persisted in the
    * projection record; Faulted carries the fault reason). In a library+job-runner
    * design "stop the job" covers the transient states; what must survive
    * the job is the DURABLE flag a continuous deployment checks, so a
    * disabled or faulted projection cannot write no matter which worker
    * picks it up. The LAST run-state marker in the control stream wins;
    * a projection with no markers is enabled. */
  sealed trait RunState extends Serializable
  object RunState {
    case object Enabled extends RunState
    case object Disabled extends RunState
    final case class Faulted(reason: String) extends RunState
  }

  val EnabledEventType = "$ProjectionEnabled"
  val DisabledEventType = "$ProjectionDisabled"
  val FaultedEventType = "$ProjectionFaulted"

  /** Current epoch of a projection: 0 until the first reset. A point
    * lookup on the control stream (stream + bucket pruned). */
  def epoch(store: EventLogStore, name: String): Int = status(store, name)._1

  /** True when a reset started (its `$ProjectionResetStarted` marker is in
    * the control stream) but never completed — a crash landed between the
    * truncation commit and the `$ProjectionReset` control append. In that
    * state outputs are (partially) truncated while the epoch is unbumped,
    * so emit/checkpoint ids would dedup against truncated raw-log rows and
    * silently write nothing; [[EmittedSink]]/[[ProjectionCheckpoints]]
    * refuse to run until [[reset]] is re-invoked (it is safely
    * re-runnable: truncation math recomputes from current visibility). */
  def resetPending(store: EventLogStore, name: String): Boolean =
    status(store, name)._2

  /** (epoch, resetPending) in ONE control-stream point lookup. */
  private[projections] def status(store: EventLogStore, name: String): (Int, Boolean) = {
    val s = statusFull(store, name)
    (s._1, s._2)
  }

  /** (epoch, resetPending, runState) in ONE control-stream point lookup
    * (plus one more only when the projection is actually faulted, to
    * fetch the recorded reason). */
  private[projections] def statusFull(
      store: EventLogStore, name: String): (Int, Boolean, RunState) = {
    if (!store.exists) return (0, false, RunState.Enabled)
    val ctrl = store.readStreamEvents(controlStream(name))
    val row = ctrl
      .agg(
        sum(when(col("event_type") === "$ProjectionReset", 1L).otherwise(0L)),
        sum(when(col("event_type") === "$ProjectionResetStarted", 1L).otherwise(0L)),
        max(when(col("event_type") === EnabledEventType, col("event_number"))),
        max(when(col("event_type") === DisabledEventType, col("event_number"))),
        max(when(col("event_type") === FaultedEventType, col("event_number"))))
      .collect()(0)
    def long(i: Int, dflt: Long): Long = if (row.isNullAt(i)) dflt else row.getLong(i)
    val completed = long(0, 0L)
    val started = long(1, 0L)
    val (en, dis, fau) = (long(2, -1L), long(3, -1L), long(4, -1L))
    val runState =
      if (dis > en && dis > fau) RunState.Disabled
      else if (fau > en && fau > dis) {
        val reason = ctrl
          .where(col("event_type") === FaultedEventType &&
            col("event_number") === fau)
          .select(get_json_object(col("data"), "$.reason"))
          .collect().headOption.flatMap(r => Option(r.getString(0))).getOrElse("")
        RunState.Faulted(reason)
      } else RunState.Enabled
    (completed.toInt, started > completed, runState)
  }

  /** The projection's durable run state. */
  def runState(store: EventLogStore, name: String): RunState =
    statusFull(store, name)._3

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def appendRunState(store: EventLogStore, name: String,
      eventType: String, data: String): Unit = {
    // sequence the marker id off the current marker count so repeated
    // transitions append distinct events (appends dedup by event_id)
    val k =
      if (!store.exists) 0L
      else store.readStreamEvents(controlStream(name))
        .where(col("event_type").isin(EnabledEventType, DisabledEventType,
          FaultedEventType))
        .count()
    store.append(Seq(PendingEvent(
      controlStream(name), s"$name:runstate:$k", eventType, data)))
  }

  /** Durably disable the projection: [[EmittedSink]] and
    * [[ProjectionCheckpoints]] refuse every write (batch and per
    * micro-batch via EmittedSink.streamTo) until [[enable]]. Reads and
    * state inspection stay available, like the reference's stopped
    * projections. */
  def disable(store: EventLogStore, name: String): Unit =
    appendRunState(store, name, DisabledEventType, """{"enabled":false}""")

  /** Re-enable a disabled or faulted projection. The epoch is untouched,
    * so the next run resumes from its checkpoint and emit dedup continues
    * where it stopped — enable/disable is a pause, reset is the do-over. */
  def enable(store: EventLogStore, name: String): Unit =
    appendRunState(store, name, EnabledEventType, """{"enabled":true}""")

  /** Durably mark the projection faulted (the reference's Faulted state
    * with its persisted fault reason): writers refuse with the reason
    * until [[enable]] (after the operator fixes the cause) or [[reset]]
    * plus enable for a clean re-run. */
  def fault(store: EventLogStore, name: String, reason: String): Unit =
    appendRunState(store, name, FaultedEventType,
      s"""{"reason":${jsonStr(reason)}}""")

  /** Writer-side gate: throws unless the run state is Enabled.
    * [[EmittedSink.appendIdempotent]] and [[ProjectionCheckpoints.save]]
    * call this with the statusFull result they already fetched. */
  private[projections] def requireEnabled(name: String, state: RunState): Unit =
    state match {
      case RunState.Enabled => ()
      case RunState.Disabled => throw new IllegalStateException(
        s"projection $name is disabled ($DisabledEventType in its control " +
          "stream); ProjectionLifecycle.enable to resume")
      case RunState.Faulted(reason) => throw new IllegalStateException(
        s"projection $name is faulted: $reason — fix the cause and " +
          "ProjectionLifecycle.enable (or reset) to run again")
    }

  /** Read back a projection's materialized RESULT for a partition — the
    * library face of the reference's `GET /projection/{name}/state
    * ?partition=` management read (EventStore.Projections.Core/Services/
    * Http/ProjectionsController.cs:90-92): the latest event's data on the
    * partition's result stream ([[graft.projections]] outputState naming,
    * ProjectionNamesBuilder.cs:40-75; `resultStreamPattern` for P11
    * overrides, `{0}` = partition). None when nothing materialized, or
    * the result stream was truncated/deleted (retention applies — a reset
    * projection reads as empty until it re-runs). One bucket-pruned point
    * lookup. */
  def resultFor(store: EventLogStore, name: String, partition: String = "",
      resultStreamPattern: Option[String] = None): Option[String] = {
    val stream = resultStreamPattern match {
      case Some(p) => p.replace("{0}", partition)
      case None if partition.isEmpty => s"$$projections-$name-result"
      case None => s"$$projections-$name-$partition-result"
    }
    if (!store.exists) return None
    graft.operators.Reads.readStreamBackwards(
        store.readStreamEvents(stream), stream, maxCount = 1L)
      .select(col("data")).collect().headOption.map(_.getString(0))
  }

  /** Reset a projection: truncate its result/checkpoint/registry streams
    * and every stream it emitted into, then bump the epoch so the next
    * run re-checkpoints and re-emits from scratch. Safe to call on a
    * projection that never ran (no-op + epoch bump). */
  def reset(store: EventLogStore, name: String): Unit = {
    val next = status(store, name)._1 + 1
    // start marker BEFORE the truncation commit: a crash mid-reset leaves
    // started > completed, which resetPending surfaces and the writers
    // refuse, instead of silently deduping against truncated ids. The
    // marker append is idempotent per epoch (deterministic event_id), so
    // re-running a crashed reset does not double-count.
    store.append(Seq(PendingEvent(
      controlStream(name), s"$name:reset-started:$next", "$ProjectionResetStarted",
      s"""{"epoch":$next}""")))
    if (store.exists) {
      val log = store.readRetained()
      val prefix = s"$$projections-$name-"
      // streams the projection owns by name (results, checkpoint,
      // emittedstreams registry — NOT the control stream, which survives
      // resets because it carries the epoch)
      val owned = log
        .where(col("stream_id").startsWith(prefix) &&
          col("stream_id") =!= controlStream(name))
        .select(col("stream_id"), col("event_number"))
      // streams the projection emitted into, from the registry
      val targetIds = log
        .where(col("stream_id") === emittedStreamsStream(name))
        .select(col("data").as("_target")).distinct()
      val targeted = log
        .join(targetIds, log("stream_id") === col("_target"), "left_semi")
        .select(col("stream_id"), col("event_number"))
      // one $metadata truncate event per stream, built distributively:
      // $tb = last visible event number + 1 (what softDelete writes)
      val lasts = owned.unionByName(targeted)
        .groupBy("stream_id").agg(max("event_number").as("_last"))
      val metaEvents = lasts.select(
        concat(lit(EventEnvelope.MetastreamPrefix), col("stream_id")).as("stream_id"),
        concat_ws(":", lit("$reset"), lit(name), col("stream_id"),
          (col("_last") + 1).cast("string")).as("event_id"),
        lit("$metadata").as("event_type"),
        concat(lit("{\"$tb\":"), (col("_last") + 1).cast("string"), lit("}")).as("data"),
        lit(null).cast("string").as("metadata"),
        lit(null).cast("string").as("correlation_id"),
        lit(null).cast("timestamp").as("timestamp"))
      store.appendIdempotent(metaEvents, orderBy = Seq("stream_id"))
    }
    store.append(Seq(PendingEvent(
      controlStream(name), s"$name:reset:$next", "$ProjectionReset",
      s"""{"epoch":$next}""")))
  }
}
