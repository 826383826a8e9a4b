package graft

import org.apache.spark.sql.functions._
import graft.projections.LogEvent
import graft.sources.{EventLogStore, PendingEvent}
import graft.streaming.{Outcome, PersistentGroup}

/** SUB3: persistent-subscription group semantics — ack/nack actions, retry
  * ledger with park-after-max-retries, checkpoint stream, parked replay
  * (PersistentSubscription.cs:322-452, NakAction.cs:6-12). */
class PersistentGroupSpec extends SparkTestBase {

  private def freshStore(): (EventLogStore, String) = {
    val dir = TempDirs.create("graftpsub")
    (new EventLogStore(spark, dir), dir)
  }

  private def group(store: EventLogStore, dir: String, maxRetry: Int = 2) =
    new PersistentGroup(spark, store, "$all", "grp", lit(true), maxRetry,
      s"$dir/groups/grp")

  private def pe(stream: String, id: String, tpe: String): PendingEvent =
    PendingEvent(stream, id, tpe, s"""{"id":"$id"}""")

  private val ackAll = (_: LogEvent, _: Int) => Outcome.Ack
  private val poisonRetry = (e: LogEvent, _: Int) =>
    if (e.event_type == "Poison") Outcome.Retry else Outcome.Ack

  test("poison event retries maxRetryCount times, then parks as a $> link") {
    val (store, dir) = freshStore()
    store.append(Seq(pe("a-1", "e1", "Good"), pe("b-1", "e2", "Poison"),
      pe("a-1", "e3", "Good")))
    val g = group(store, dir, maxRetry = 2)

    val r1 = g.run(poisonRetry)
    assert(r1.acked == 2 && r1.retried == 1 && r1.parked == 0)
    assert(g.cursor() == 2) // cursor covers all delivered, retries via ledger
    val r2 = g.run(poisonRetry)
    assert(r2.acked == 0 && r2.retried == 1 && r2.parked == 0)
    val r3 = g.run(poisonRetry)
    assert(r3.retried == 0 && r3.parked == 1) // 2 failed deliveries + 1 > max
    // parked as a link event pointing at the original
    val parked = store.read().where(col("stream_id") === g.parkedStream).collect()
    assert(parked.length == 1)
    assert(parked(0).getAs[String]("event_type") == "$>")
    assert(parked(0).getAs[String]("data") == "0@b-1")
    // ledger drained; a further run does nothing
    val r4 = g.run(poisonRetry)
    assert(r4 == graft.streaming.GroupRunStats(0, 0, 0, 0, false))
  }

  test("transient failure: nack-retry then ack on redelivery clears the ledger") {
    val (store, dir) = freshStore()
    store.append(Seq(pe("a-1", "e1", "Poison")))
    val g = group(store, dir)
    val flaky = (e: LogEvent, rc: Int) =>
      if (e.event_type == "Poison" && rc == 0) Outcome.Retry else Outcome.Ack
    assert(g.run(flaky).retried == 1)
    val r2 = g.run(flaky)
    assert(r2.acked == 1 && r2.retried == 0)
    assert(g.retryLedger().count() == 0)
    assert(g.run(flaky) == graft.streaming.GroupRunStats(0, 0, 0, 0, false))
  }

  test("skip drops, explicit park dead-letters immediately") {
    val (store, dir) = freshStore()
    store.append(Seq(pe("a-1", "e1", "Skippable"), pe("a-1", "e2", "Bad"),
      pe("a-1", "e3", "Good")))
    val g = group(store, dir)
    val handler = (e: LogEvent, _: Int) => e.event_type match {
      case "Skippable" => Outcome.Skip
      case "Bad" => Outcome.Park
      case _ => Outcome.Ack
    }
    val r = g.run(handler)
    assert(r.acked == 1 && r.skipped == 1 && r.parked == 1 && r.retried == 0)
    assert(g.cursor() == 2)
  }

  test("stop halts the pass; a later run resumes from the stop point") {
    val (store, dir) = freshStore()
    store.append((1 to 5).map(i => pe("a-1", s"e$i", if (i == 3) "Halt" else "Good")))
    val g = group(store, dir)
    val stopAtHalt = (e: LogEvent, _: Int) =>
      if (e.event_type == "Halt") Outcome.Stop else Outcome.Ack
    val r1 = g.run(stopAtHalt)
    assert(r1.acked == 2 && r1.stopped)
    assert(g.cursor() == 1) // events 3..5 undelivered
    val r2 = g.run(ackAll)
    assert(r2.acked == 3 && !r2.stopped)
    assert(g.cursor() == 4)
  }

  test("replayParked re-delivers parked events, truncates, re-parks failures") {
    val (store, dir) = freshStore()
    store.append(Seq(pe("a-1", "e1", "Poison"), pe("b-1", "e2", "Poison2")))
    val g = group(store, dir, maxRetry = 0) // park on first nack
    val r1 = g.run((e, _) =>
      if (e.event_type.startsWith("Poison")) Outcome.Retry else Outcome.Ack)
    assert(r1.parked == 2)
    // replay: Poison now succeeds, Poison2 still fails
    val r = g.replayParked((e, _) =>
      if (e.event_type == "Poison2") Outcome.Park else Outcome.Ack)
    assert(r.acked == 1 && r.parked == 1)
    val live = store.readRetained().where(col("stream_id") === g.parkedStream).collect()
    assert(live.length == 1 && live(0).getAs[String]("data") == "0@b-1")
    // acked one stays truncated even after another replay of the survivor
    val r2 = g.replayParked(ackAll)
    assert(r2.acked == 1 && r2.parked == 0)
    assert(store.readRetained().where(col("stream_id") === g.parkedStream).count() == 0)
  }
}
