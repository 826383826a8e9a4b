package graft

import graft.projections._

/** Projections engine over the FIXTURES.md chat corpus — mirrors the
  * reference scenario test
  * (Projections.Core.Tests/Services/Jint/Scenarios/
  *  when_recategorizing_chat_events_by_users.cs:16-75). */
class ProjectionSpec extends SparkTestBase {

  // chat-1: 3 ChatMessages, chat-2: 2 — interleaved in log order, with an
  // unrelated stream and an unhandled event type mixed in.
  private lazy val chat = envelope(Seq(
    ev("chat-1", 0, "ChatMessage", 0, data = """{"sender":"alice","message":"hi"}"""),
    ev("chat-2", 0, "ChatMessage", 1, data = """{"sender":"bob","message":"yo"}"""),
    ev("chat-1", 1, "ChatMessage", 2, data = """{"sender":"carol","message":"hey"}"""),
    ev("chat-1", 2, "ChatMessage", 3, data = """{"sender":"alice","message":"bye"}"""),
    ev("chat-2", 1, "ChatMessage", 4, data = """{"sender":"bob","message":"cya"}"""),
    ev("chat-1", 3, "SystemNotice", 5, data = """{}"""),
    ev("other-1", 0, "ChatMessage", 6, data = """{"sender":"mallory"}""")
  ))

  test("fromCategory + foreachStream + when: count per stream (chat-1=3, chat-2=2)") {
    val s = spark; import s.implicits._
    val states = Projections.fromCategory("chat")
      .foreachStream()
      .init(0L)
      .when("ChatMessage")((n, _) => n + 1)
      .states(chat)
      .collect().toMap
    assert(states == Map("chat-1" -> 3L, "chat-2" -> 2L))
  }

  test("unhandled event types keep prior state; typed handler beats whenAny") {
    val s = spark; import s.implicits._
    val states = Projections.fromCategory("chat")
      .foreachStream()
      .init("")
      .when("ChatMessage")((st, _) => st + "C")
      .whenAny((st, _) => st + "X") // only fires for non-ChatMessage
      .states(chat)
      .collect().toMap
    assert(states("chat-1") == "CCCX") // SystemNotice hits whenAny
    assert(states("chat-2") == "CC")
  }

  test("fold sees events in log_position order even from shuffled input") {
    val s = spark; import s.implicits._
    val shuffled = chat.orderBy(org.apache.spark.sql.functions.rand(7))
    val states = Projections.fromCategory("chat")
      .foreachStream()
      .init(Vector.empty[Long])
      .whenAny((v, e) => v :+ e.log_position)
      .states(shuffled)
      .collect().toMap
    assert(states("chat-1") == Vector(0L, 2L, 3L, 5L))
    assert(states("chat-2") == Vector(1L, 4L))
  }

  test("$created fires once per partition on its first event, before its handler") {
    val s = spark; import s.implicits._
    val states = Projections.fromCategory("chat")
      .foreachStream()
      .init("")
      .whenCreated((st, e) => st + s"created@${e.log_position};")
      .whenAny((st, e) => st + e.log_position + ";")
      .states(chat)
      .collect().toMap
    assert(states("chat-1") == "created@0;0;2;3;5;")
    assert(states("chat-2") == "created@1;1;4;")
  }

  test("$created does not re-fire for checkpointed partitions on resume") {
    val s = spark; import s.implicits._
    def proj = Projections.fromCategory("chat")
      .foreachStream()
      .init("")
      .whenCreated((st, e) => st + s"C@${e.log_position};")
      .whenAny((st, e) => st + e.log_position + ";")
    val full = proj.states(chat).collect().toMap
    val upTo = proj.states(chat.where(org.apache.spark.sql.functions.col("log_position") <= 2))
    val resumed = proj.statesFrom(chat, upTo, fromPosExclusive = 2L,
      serialize = identity, deserialize = identity).collect().toMap
    assert(resumed == full) // chat-1 resumed without a second C@; chat-2 same
    assert(resumed("chat-1") == "C@0;0;2;3;5;")
  }

  test("P20 batch resume: checkpoint at a position + statesFrom == full replay (order-dependent fold)") {
    val s = spark; import s.implicits._
    def proj = Projections.fromCategory("chat")
      .foreachStream()
      .init("")
      .whenAny((st, e) => st + e.log_position + ";") // order-dependent
    val full = proj.states(chat).collect().toMap
    // checkpoint after position 2, resume on the rest
    val upTo = proj.states(chat.where(org.apache.spark.sql.functions.col("log_position") <= 2))
    val resumed = proj.statesFrom(chat, upTo, fromPosExclusive = 2L,
      serialize = identity, deserialize = identity).collect().toMap
    assert(resumed == full)
    // a key first seen AFTER the checkpoint starts from init
    assert(full.contains("chat-1") && resumed("chat-2") == full("chat-2"))
  }

  test("P20 checkpoint round-trip: save to $projections-{name}-checkpoint, load, resume == full") {
    val s = spark; import s.implicits._
    val store = new graft.sources.EventLogStore(spark,
      TempDirs.create("ckpt"))
    def proj = Projections.fromCategory("chat")
      .foreachStream()
      .init("")
      .whenAny((st, e) => st + e.log_position + ";")
    val full = proj.states(chat).collect().toMap
    val half = proj.states(chat.where(org.apache.spark.sql.functions.col("log_position") <= 2))
    assert(ProjectionCheckpoints.save(store, "chatlog", 2L, half, identity[String]) == 2L)
    // saving the same checkpoint again is a no-op
    assert(ProjectionCheckpoints.save(store, "chatlog", 2L, half, identity[String]) == 0L)
    val Some((pos, loaded)) =
      ProjectionCheckpoints.loadLatest[String](store, "chatlog", identity)
    assert(pos == 2L)
    val resumed = proj.statesFrom(chat, loaded, pos, identity, identity).collect().toMap
    assert(resumed == full)
  }

  test("resultFor: management read-back of a partition's materialized result") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val store = new graft.sources.EventLogStore(spark,
      TempDirs.create("resfor"))
    // nothing materialized yet — and a store with no log at all
    assert(ProjectionLifecycle.resultFor(store, "counts", "chat-1").isEmpty)
    val results = Projections.fromCategory("chat")
      .foreachStream()
      .init(0L)
      .whenAny((n, _) => n + 1)
      .outputState(chat, "counts", n => s"""{"count":$n}""")
      .withColumn("event_id", concat(lit("res:"), col("stream_id")))
      .withColumn("metadata", lit(null).cast("string"))
      .withColumn("correlation_id", lit(null).cast("string"))
      .withColumn("timestamp", lit(null).cast("timestamp"))
      .drop("partition")
    store.appendBulk(results, orderBy = Seq("stream_id"))
    // whenAny counts every event in the category stream: chat-1 has 3
    // ChatMessages + 1 SystemNotice
    assert(ProjectionLifecycle.resultFor(store, "counts", "chat-1")
      == Some("""{"count":4}"""))
    assert(ProjectionLifecycle.resultFor(store, "counts", "chat-2")
      == Some("""{"count":2}"""))
    assert(ProjectionLifecycle.resultFor(store, "counts", "absent").isEmpty)
    assert(ProjectionLifecycle.resultFor(store, "other").isEmpty)
  }

  test("P21: emitted-stream writes are exactly-once across projection replays") {
    val s = spark; import s.implicits._
    val store = new graft.sources.EventLogStore(spark,
      TempDirs.create("emit"))
    def emittedRun = Projections.fromCategory("chat")
      .foreachStream()
      .init(0L)
      .whenEmit("ChatMessage") { (n, e, em) =>
        em.emit("digest-" + e.stream_id, "Digested", s"""{"pos":${e.log_position}}""")
        n + 1
      }
      .emitted(chat)
    val first = EmittedSink.appendIdempotent(store, "digests", emittedRun)
    val second = EmittedSink.appendIdempotent(store, "digests", emittedRun)
    assert(first == 5L) // 3 from chat-1 + 2 from chat-2
    assert(second == 0L)
    val emittedRows = store.read()
      .where(!org.apache.spark.sql.functions.col("stream_id").startsWith("$projections-"))
    assert(emittedRows.count() == 5L)
    // emitted event ids are the deterministic (projection, cause) keys
    val ids = emittedRows.select("event_id").collect().map(_.getString(0)).toSet
    assert(ids.contains("digests:chat-1:0:0"))
    // the emittedstreams registry tracked both target streams, once each
    val registry = store.read()
      .where(org.apache.spark.sql.functions.col("stream_id") ===
        ProjectionLifecycle.emittedStreamsStream("digests"))
      .select("data").collect().map(_.getString(0)).toSet
    assert(registry == Set("digest-chat-1", "digest-chat-2"))
  }

  test("reset lifecycle: truncate outputs, bump epoch, updated definition re-runs fresh") {
    val s = spark; import s.implicits._
    val store = new graft.sources.EventLogStore(spark,
      TempDirs.create("reset"))
    // version N of the projection: emits one `tag` event per ChatMessage
    def run(tag: String) = Projections.fromCategory("chat")
      .foreachStream()
      .init(0L)
      .whenEmit("ChatMessage") { (n, e, em) =>
        em.emit("digest-" + e.stream_id, tag, s"""{"pos":${e.log_position}}""")
        n + 1
      }
      .emitted(chat)
    // v1 runs: emits 5 events, checkpoints
    assert(EmittedSink.appendIdempotent(store, "digests", run("V1")) == 5L)
    val half = Seq(("chat-1", "v1state")).toDS()
    ProjectionCheckpoints.save(store, "digests", 2L, half, identity[String])
    assert(ProjectionCheckpoints.loadLatest[String](store, "digests", identity).isDefined)
    // the definition is updated (v2 emits a different event type) but
    // WITHOUT a reset the replay is swallowed by exactly-once dedup —
    // same (partition, cause, seq) keys
    assert(EmittedSink.appendIdempotent(store, "digests", run("V2")) == 0L)
    // reset: ManagedProjection.Reset analog
    ProjectionLifecycle.reset(store, "digests")
    assert(ProjectionLifecycle.epoch(store, "digests") == 1)
    // stale emitted rows invisible; checkpoint gone
    assert(store.readRetained()
      .where(org.apache.spark.sql.functions.col("stream_id").startsWith("digest-"))
      .count() == 0L)
    assert(ProjectionCheckpoints.loadLatest[String](store, "digests", identity).isEmpty)
    // v2 re-runs from scratch and its output IS visible == a fresh run
    assert(EmittedSink.appendIdempotent(store, "digests", run("V2")) == 5L)
    val visible = store.readRetained()
      .where(org.apache.spark.sql.functions.col("stream_id").startsWith("digest-"))
    assert(visible.count() == 5L)
    assert(visible.select("event_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("V2"))
    // post-reset checkpoints save and load under the new epoch
    ProjectionCheckpoints.save(store, "digests", 4L, half, identity[String])
    val Some((pos, _)) =
      ProjectionCheckpoints.loadLatest[String](store, "digests", identity)
    assert(pos == 4L)
    // second reset clears again and bumps to epoch 2
    ProjectionLifecycle.reset(store, "digests")
    assert(ProjectionLifecycle.epoch(store, "digests") == 2)
    assert(store.readRetained()
      .where(org.apache.spark.sql.functions.col("stream_id").startsWith("digest-"))
      .count() == 0L)
  }

  test("half-applied reset is detected and refused, then recoverable by re-running reset") {
    val s = spark; import s.implicits._
    val store = new graft.sources.EventLogStore(spark,
      TempDirs.create("resetcrash"))
    def run() = Projections.fromCategory("chat")
      .foreachStream().init(0L)
      .whenEmit("ChatMessage") { (n, e, em) =>
        em.emit("digest-" + e.stream_id, "D", s"""{"pos":${e.log_position}}""")
        n + 1
      }
      .emitted(chat)
    assert(EmittedSink.appendIdempotent(store, "digests", run()) == 5L)
    // simulate a crash mid-reset: the start marker landed but neither the
    // truncation nor the completion did (worst case — any later partial
    // state is also covered since detection only needs the marker)
    store.append(Seq(graft.sources.PendingEvent(
      ProjectionLifecycle.controlStream("digests"),
      "digests:reset-started:1", "$ProjectionResetStarted", """{"epoch":1}""")))
    assert(ProjectionLifecycle.resetPending(store, "digests"))
    assert(ProjectionLifecycle.epoch(store, "digests") == 0) // NOT bumped
    // writers refuse instead of silently deduping against stale ids
    intercept[IllegalStateException] {
      EmittedSink.appendIdempotent(store, "digests", run())
    }
    intercept[IllegalStateException] {
      ProjectionCheckpoints.save(store, "digests", 2L,
        Seq(("chat-1", "x")).toDS(), identity[String])
    }
    // recovery: re-run reset (its start marker append is idempotent per
    // epoch, so this completes the crashed attempt rather than stacking)
    ProjectionLifecycle.reset(store, "digests")
    assert(!ProjectionLifecycle.resetPending(store, "digests"))
    assert(ProjectionLifecycle.epoch(store, "digests") == 1)
    assert(EmittedSink.appendIdempotent(store, "digests", run()) == 5L)
  }

  test("partitionBy custom key from JSON body; None partitions are skipped") {
    val s = spark; import s.implicits._
    val states = Projections.fromCategory("chat")
      .partitionBy { e =>
        val m = """"sender":"(\w+)"""".r.findFirstMatchIn(e.data)
        m.map(_.group(1)).filter(_ != "carol") // drop carol events
      }
      .init(0L)
      .when("ChatMessage")((n, _) => n + 1)
      .states(chat)
      .collect().toMap
    assert(states == Map("alice" -> 2L, "bob" -> 2L))
  }

  test("whenEmit emits with caused_by_position; linkTo formats n@stream") {
    val s = spark; import s.implicits._
    val emitted = Projections.fromCategory("chat")
      .foreachStream()
      .init(0L)
      .whenEmit("ChatMessage") { (n, e, em) =>
        if (e.data.contains("alice")) {
          em.emit("alice-feed", "Copied", e.data)
          em.linkTo("alice-links", e)
        }
        n + 1
      }
      .emitted(chat)
      .collect()
    val feeds = emitted.filter(_.stream_id == "alice-feed")
    val links = emitted.filter(_.stream_id == "alice-links")
    assert(feeds.map(_.caused_by_position).sorted.toSeq == Seq(0L, 3L))
    assert(links.map(_.data).toSet == Set("0@chat-1", "2@chat-1"))
    assert(links.forall(_.event_type == "$>"))
  }

  test("P15 linkStreamTo emits a $@ stream-reference link once per stream") {
    val s = spark; import s.implicits._
    val emitted = Projections.fromCategory("chat")
      .foreachStream()
      .init(false)
      .whenAnyEmit { (seen, e, em) =>
        if (!seen) em.linkStreamTo("chat-index", e.stream_id)
        true
      }
      .emitted(chat)
      .collect()
    val refs = emitted.filter(_.stream_id == "chat-index")
    assert(refs.map(_.data).toSet == Set("chat-1", "chat-2"))
    assert(refs.forall(_.event_type == "$@"))
  }

  test("P8/P11 outputState uses reference result-stream naming and patterns") {
    val s = spark; import s.implicits._
    val base = Projections.fromCategory("chat").foreachStream().init(0L)
      .when("ChatMessage")((n, _) => n + 1)
    val named = base.outputState(chat, "counts", _.toString)
      .select("stream_id").collect().map(_.getString(0)).toSet
    assert(named == Set("$projections-counts-chat-1-result", "$projections-counts-chat-2-result"))
    val single = Projections.fromStream("chat-1").single().init(0L)
      .whenAny((n, _) => n + 1)
      .outputState(chat, "one", _.toString)
      .select("stream_id").collect().map(_.getString(0)).toSet
    assert(single == Set("$projections-one-result"))
    val patterned = base.outputState(chat, "counts", _.toString,
        resultStreamPattern = Some("out-{0}"))
      .select("stream_id").collect().map(_.getString(0)).toSet
    assert(patterned == Set("out-chat-1", "out-chat-2"))
  }

  test("single(): one global fold over fromStreams in position order") {
    val s = spark; import s.implicits._
    val states = Projections.fromStreams("chat-1", "chat-2")
      .single()
      .init(List.empty[Long])
      .whenAny((l, e) => e.log_position :: l)
      .states(chat)
      .collect().toMap
    assert(states("") == List(5L, 4L, 3L, 2L, 1L, 0L))
  }

  // One hot stream (2000 events) among tiny ones — the shape statesMonoid
  // exists for. The state is an ordered segment aggregate
  // (first, last, rises, n) over (log_position % 7): non-commutative
  // combine, so a block-order mistake or a lost block boundary flips it.
  private lazy val skewed = envelope {
    val hot = (0 until 2000).map(i => ev("hot-1", i, "E", i * 3L))
    val cold = Seq(ev("hot-2", 0, "E", 1L), ev("hot-3", 0, "E", 2L),
      ev("hot-3", 1, "E", 5L))
    hot ++ cold
  }

  test("statesMonoid == serial states for an order-dependent monoid on a skewed log") {
    val s = spark; import s.implicits._
    def builder = Projections.fromCategory("hot")
      .foreachStream()
      .init((-1L, -1L, 0L, 0L)) // (firstMod, lastMod, rises, n)
      .whenAny { (st, e) =>
        val m = e.log_position % 7
        val (f, l, r, n) = st
        if (n == 0L) (m, m, 0L, 1L)
        else (f, m, r + (if (m > l) 1L else 0L), n + 1L)
      }
    val serial = builder.states(chat.unionAll(skewed)).collect().toMap
    val monoid = builder.statesMonoid(chat.unionAll(skewed),
      (a, b) =>
        if (b._4 == 0L) a
        else if (a._4 == 0L) b
        else (a._1, b._2, a._3 + b._3 + (if (b._1 > a._2) 1L else 0L), a._4 + b._4),
      blockSize = 64).collect().toMap
    assert(monoid == serial)
    assert(serial("hot-1")._4 == 2000L)
  }

  test("statesMonoid refuses order-global features ($created, emit)") {
    val s = spark; import s.implicits._
    val withCreated = Projections.fromCategory("chat").foreachStream()
      .init(0L).whenCreated((n, _) => n).when("ChatMessage")((n, _) => n + 1)
    intercept[IllegalArgumentException] {
      withCreated.statesMonoid(chat, _ + _)
    }
    val withEmit = Projections.fromCategory("chat").foreachStream()
      .init(0L).whenEmit("ChatMessage")((n, _, _) => n + 1)
    intercept[IllegalArgumentException] {
      withEmit.statesMonoid(chat, _ + _)
    }
  }

  // ----------------------------- durable run state (disable/fault/enable)

  private def emittedRun(store: graft.sources.EventLogStore) = {
    val s = spark; import s.implicits._
    Projections.fromCategory("chat")
      .foreachStream()
      .init(0L)
      .whenEmit("ChatMessage") { (n, e, em) =>
        em.emit("digest-" + e.stream_id, "Digested", s"""{"pos":${e.log_position}}""")
        n + 1
      }
      .emitted(chat)
  }

  test("disabled projection writes nothing anywhere; enable resumes and emits") {
    val s = spark; import s.implicits._
    val store = new graft.sources.EventLogStore(spark,
      TempDirs.create("disable"))
    assert(ProjectionLifecycle.runState(store, "digests") ==
      ProjectionLifecycle.RunState.Enabled)
    ProjectionLifecycle.disable(store, "digests")
    assert(ProjectionLifecycle.runState(store, "digests") ==
      ProjectionLifecycle.RunState.Disabled)
    // emit refuses
    val e1 = intercept[IllegalStateException] {
      EmittedSink.appendIdempotent(store, "digests", emittedRun(store))
    }
    assert(e1.getMessage.contains("disabled"))
    // checkpoint refuses
    val half = Projections.fromCategory("chat").foreachStream().init("")
      .whenAny((st, e) => st + e.log_position + ";")
      .states(chat.where(org.apache.spark.sql.functions.col("log_position") <= 2))
    val e2 = intercept[IllegalStateException] {
      ProjectionCheckpoints.save(store, "digests", 2L, half, identity[String])
    }
    assert(e2.getMessage.contains("disabled"))
    // nothing was written while disabled (only the control stream exists)
    assert(store.read()
      .where(!org.apache.spark.sql.functions.col("stream_id")
        .startsWith("$projections-digests-control")).count() == 0L)
    // enable resumes: same run now writes, exactly-once dedup intact
    ProjectionLifecycle.enable(store, "digests")
    assert(ProjectionLifecycle.runState(store, "digests") ==
      ProjectionLifecycle.RunState.Enabled)
    assert(EmittedSink.appendIdempotent(store, "digests", emittedRun(store)) == 5L)
    assert(EmittedSink.appendIdempotent(store, "digests", emittedRun(store)) == 0L)
    assert(ProjectionCheckpoints.save(store, "digests", 2L, half, identity[String]) == 2L)
  }

  test("re-enable resumes from the checkpoint (epoch untouched, dedup continues)") {
    val s = spark; import s.implicits._
    val store = new graft.sources.EventLogStore(spark,
      TempDirs.create("reenable"))
    def proj = Projections.fromCategory("chat").foreachStream().init("")
      .whenAny((st, e) => st + e.log_position + ";")
    val full = proj.states(chat).collect().toMap
    val half = proj.states(
      chat.where(org.apache.spark.sql.functions.col("log_position") <= 2))
    ProjectionCheckpoints.save(store, "chatlog", 2L, half, identity[String])
    ProjectionLifecycle.disable(store, "chatlog")
    ProjectionLifecycle.enable(store, "chatlog")
    // pause/resume, not a do-over: the pre-disable checkpoint is still the
    // latest of the SAME epoch and resuming from it equals a full replay
    assert(ProjectionLifecycle.epoch(store, "chatlog") == 0)
    val Some((pos, loaded)) =
      ProjectionCheckpoints.loadLatest[String](store, "chatlog", identity)
    assert(pos == 2L)
    val resumed = proj.statesFrom(chat, loaded, pos, identity, identity).collect().toMap
    assert(resumed == full)
  }

  test("faulted projection surfaces the recorded reason; enable clears it") {
    val s = spark; import s.implicits._
    val store = new graft.sources.EventLogStore(spark,
      TempDirs.create("fault"))
    ProjectionLifecycle.fault(store, "digests", """handler threw: cannot read "k"""")
    ProjectionLifecycle.runState(store, "digests") match {
      case ProjectionLifecycle.RunState.Faulted(reason) =>
        assert(reason == """handler threw: cannot read "k"""")
      case other => fail(s"expected Faulted, got $other")
    }
    val e = intercept[IllegalStateException] {
      EmittedSink.appendIdempotent(store, "digests", emittedRun(store))
    }
    assert(e.getMessage.contains("faulted") &&
      e.getMessage.contains("""cannot read "k""""))
    // last marker wins: fault → disable → enable lands enabled
    ProjectionLifecycle.disable(store, "digests")
    ProjectionLifecycle.enable(store, "digests")
    assert(ProjectionLifecycle.runState(store, "digests") ==
      ProjectionLifecycle.RunState.Enabled)
    assert(EmittedSink.appendIdempotent(store, "digests", emittedRun(store)) == 5L)
  }
}
