package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.EventEnvelope
import graft.projections.{LogEvent, Projections}
import graft.sources.EventLogStore

/** Per-event consumer outcome — the reference's ack/nack surface
  * (persistent.proto Ack/Nack; NakAction.cs:6-12: Unknown/Park/Retry/Skip/
  * Stop). */
sealed trait Outcome extends Serializable
object Outcome {
  /** Processing succeeded; the group cursor advances past this event. */
  case object Ack extends Outcome
  /** Dead-letter immediately to the parked stream. */
  case object Park extends Outcome
  /** Re-deliver on a later run; parks after maxRetryCount failed tries
    * (PersistentSubscription.cs:322-452 retry-then-park). */
  case object Retry extends Outcome
  /** Drop without processing; cursor advances. */
  case object Skip extends Outcome
  /** Halt this run before the event; it and everything after stay pending. */
  case object Stop extends Outcome
}

final case class GroupRunStats(
    acked: Long, retried: Long, parked: Long, skipped: Long, stopped: Boolean)

/** SUB3: persistent-subscription semantics as a Spark workload (SURVEY.md
  * §2.5). The competing-consumer DISPATCH is OLTP serving and out of scope
  * (BASELINE.json); what this ports is everything else the reference group
  * maintains server-side:
  *
  *  - a durable group cursor, checkpointed as events in
  *    `$persistentsubscription-{src}::{grp}-checkpoint` (reference naming,
  *    persistent.proto / PersistentSubscriptionParams.cs);
  *  - per-event ack/nack with NakAction Park/Retry/Skip/Stop;
  *  - a retry ledger: nacked-for-retry events are re-delivered on
  *    subsequent runs with their failed-delivery count, and park after
  *    `maxRetryCount` failed deliveries;
  *  - parking as `$>` link events into
  *    `$persistentsubscription-{src}::{grp}-parked` (dead-letter queue),
  *    idempotent by deterministic event id;
  *  - replay-parked: re-deliver parked messages, truncate the parked
  *    stream, re-park the still-failing ones.
  *
  * Each `run(handler)` is one delivery pass over (new events beyond the
  * cursor) ∪ (due retries) — the batch analog of a catch-up dispatch
  * cycle. The handler runs distributed (Dataset.map); bookkeeping joins
  * touch only small side tables (the ledger is broadcast). The handler
  * receives the event and its failed-delivery count (0 on first delivery).
  */
class PersistentGroup(
    spark: SparkSession,
    store: EventLogStore,
    srcName: String,
    group: String,
    sourceFilter: Column,
    maxRetryCount: Int,
    stateDir: String) {
  import spark.implicits._

  val baseName = s"$$persistentsubscription-$srcName::$group"
  val parkedStream = s"$baseName-parked"
  val checkpointStream = s"$baseName-checkpoint"
  private def ledgerDir = s"$stateDir/retry_ledger"

  /** Current group cursor: highest log_position covered by a checkpoint
    * event (reference: checkpoint events carry the group position). */
  def cursor(): Long = {
    val rows = store.read()
      .where(col("stream_id") === checkpointStream)
      .agg(max(get_json_object(col("data"), "$.position").cast("long")))
      .collect()
    if (rows.isEmpty || rows(0).isNullAt(0)) -1L else rows(0).getLong(0)
  }

  /** Retry ledger: (log_position, retry_count) of events awaiting
    * re-delivery. */
  def retryLedger(): DataFrame =
    if (new java.io.File(ledgerDir).exists()) spark.read.parquet(ledgerDir)
    else Seq.empty[(Long, Int)].toDF("log_position", "retry_count")

  private def writeLedger(df: DataFrame): Unit = {
    val tmp = s"$stateDir/retry_ledger_next"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val old = Paths.get(ledgerDir)
    if (Files.exists(old)) {
      val aside = Paths.get(s"$stateDir/retry_ledger_old")
      Files.move(old, aside, StandardCopyOption.ATOMIC_MOVE)
      Files.move(Paths.get(tmp), old, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(aside.toFile)
    } else Files.move(Paths.get(tmp), old, StandardCopyOption.ATOMIC_MOVE)
    // Spark caches file listings per path; files swapped in behind a cached
    // listing read as FILE_NOT_EXIST without this.
    spark.catalog.refreshByPath(ledgerDir)
  }

  /** Envelope rows (+ a `retry_count` column) → typed (event, count) pairs. */
  private def toEventsWithRc(df: DataFrame): Dataset[(LogEvent, Int)] = {
    val withValue =
      if (df.columns.contains("value")) df else df.withColumn("value", lit(0.0))
    withValue.select(col("stream_id"), col("event_number"), col("event_type"),
        col("log_position"), col("timestamp"), col("correlation_id"), col("data"),
        col("value"), col("retry_count"))
      .as[(String, Long, String, Long, java.sql.Timestamp, String, String, Double, Int)]
      .map { case (s, n, t, p, ts, c, d, v, rc) => (LogEvent(s, n, t, p, ts, c, d, v), rc) }
  }

  /** One delivery pass. `handler(event, failedDeliveries)` returns the
    * outcome; see class doc for semantics. */
  def run(handler: (LogEvent, Int) => Outcome): GroupRunStats = {
    val cur = cursor()
    val visible = store.readRetained()
      .where(sourceFilter && !col("stream_id").startsWith("$"))
    // Any position in the retry ledger is delivered ONLY via the ledger
    // join (with its failed-delivery count) — the anti-join below makes a
    // crash between the ledger swap and the checkpoint append safe: on the
    // next pass a ledgered event beyond the stale cursor would otherwise
    // ALSO arrive through `fresh` with retry_count 0 and be double-
    // delivered (and double-parked under a new generation id).
    val ledger = retryLedger()
    val fresh = toEventsWithRc(
      visible.where(col("log_position") > cur)
        .join(broadcast(ledger.select(col("log_position"))), Seq("log_position"), "left_anti")
        .withColumn("retry_count", lit(0)))
    val retries = toEventsWithRc(
      visible.join(broadcast(ledger), Seq("log_position")))
    val input = fresh.union(retries)

    // Eagerly materialize and SEVER LINEAGE before any mutation: parking,
    // the ledger swap, and the checkpoint append all invalidate cached
    // plans that read the log/ledger paths, which would silently
    // re-evaluate `statuses` (and re-run the handler) against post-
    // mutation state. A localCheckpoint is immune.
    val statuses = input.map { case (e, rc) =>
      (e.log_position, e.stream_id, e.event_number, e.timestamp,
        handler(e, rc).toString, rc)
    }.toDF("pos", "src_stream", "src_number", "ts", "outcome", "retry_count")
      .localCheckpoint(true)

    val stopRow = statuses.where(col("outcome") === "Stop").agg(min(col("pos"))).collect()
    val stopPos = if (stopRow(0).isNullAt(0)) Long.MaxValue else stopRow(0).getLong(0)
    val effective = statuses.where(col("pos") < stopPos)

    // park: explicit Park, or Retry that exhausted maxRetryCount
    val toPark = effective.where(col("outcome") === "Park" ||
      (col("outcome") === "Retry" && col("retry_count") + 1 > maxRetryCount))
    val toRetry = effective.where(
      col("outcome") === "Retry" && col("retry_count") + 1 <= maxRetryCount)
    val retriedN = toRetry.count()
    def n(o: String) = effective.where(col("outcome") === o).count()
    val ackedN = n("Ack"); val skippedN = n("Skip")
    val maxRow = effective.agg(max(col("pos"))).collect()
    val newCursor = if (maxRow(0).isNullAt(0)) cur else math.max(cur, maxRow(0).getLong(0))

    val parked = park(toPark)

    // ledger: every delivered entry leaves; surviving retries re-enter +1
    val nextLedger = retryLedger()
      .join(effective.select(col("pos")), col("log_position") === col("pos"), "left_anti")
      .select(col("log_position"), col("retry_count"))
      .unionByName(toRetry.select(col("pos").as("log_position"),
        (col("retry_count") + 1).as("retry_count")))
    writeLedger(nextLedger)

    if (newCursor > cur)
      store.append(Seq(graft.sources.PendingEvent(
        checkpointStream, s"$baseName:ckpt:$newCursor", "$checkpoint",
        s"""{"position":$newCursor}""")))

    GroupRunStats(ackedN, retriedN, parked, skippedN, stopPos != Long.MaxValue)
  }

  /** Park events as `$>` links (the reference parks messages into the
    * parked stream; link form preserves provenance). Event ids embed the
    * parked stream's next event number as a generation, so ids are stable
    * for crash-retries of one pass but distinct across replay truncations.
    * Returns the number parked. */
  private def park(rows: DataFrame): Long = {
    // the index's raw last event number: unlike streamState, a truncated
    // parked stream still counts, so a replay's re-park gets a new generation
    val gen = store.streamIndex().streams.get(parkedStream).fold(0L)(_.last + 1)
    val pending = rows.select(
      lit(parkedStream).as("stream_id"),
      concat(lit(s"$baseName:parked:g$gen:"),
        lpad(col("pos").cast("string"), 12, "0")).as("event_id"),
      lit(EventEnvelope.LinkEventType).as("event_type"),
      concat(col("src_number").cast("string"), lit("@"), col("src_stream")).as("data"),
      lit(null).cast("string").as("metadata"),
      lit(null).cast("string").as("correlation_id"),
      col("ts").as("timestamp"))
    store.appendIdempotent(pending, orderBy = Seq("event_id"))
  }

  /** Replay parked messages (reference: ReplayParkedMessages): resolve the
    * parked links, re-deliver each (failed-delivery count resets), truncate
    * the parked stream, and re-park the still-failing ones. */
  def replayParked(handler: (LogEvent, Int) => Outcome): GroupRunStats = {
    val links = store.readRetained().where(col("stream_id") === parkedStream)
    val resolved = graft.operators.Links.resolve(links, store.read())
    val events = resolved.select(
      col("resolved_stream_id").as("stream_id"),
      col("resolved_event_number").as("event_number"),
      col("resolved_event_type").as("event_type"),
      col("resolved_log_position").as("log_position"),
      col("timestamp"), col("correlation_id"),
      col("resolved_data").as("data"))
    // sever lineage before mutating (see run()): the soft delete and the
    // re-park both write to the log the statuses plan reads
    val statuses = toEventsWithRc(events.withColumn("retry_count", lit(0)))
      .map { case (e, rc) =>
        (e.log_position, e.stream_id, e.event_number, e.timestamp,
          handler(e, rc).toString, rc)
      }.toDF("pos", "src_stream", "src_number", "ts", "outcome", "retry_count")
      .localCheckpoint(true)
    if (statuses.isEmpty) return GroupRunStats(0, 0, 0, 0, stopped = false)
    // truncate the parked stream, then re-park survivors (new generation)
    store.softDelete(parkedStream)
    val toRePark = statuses.where(col("outcome") =!= "Ack" && col("outcome") =!= "Skip")
    val reParked = park(toRePark)
    def n(o: String) = statuses.where(col("outcome") === o).count()
    GroupRunStats(n("Ack"), 0, reParked, n("Skip"), stopped = false)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteRecursively)
    f.delete()
  }
}
