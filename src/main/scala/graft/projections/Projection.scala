package graft.projections

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** Input event type for projection folds: the envelope plus the testdata's
  * first-class `value` column (payload fields in general live in `data` as
  * JSON and are parsed by handlers on demand, mirroring the reference's
  * lazy body parse — JintProjectionStateHandler.cs:868-880).
  *
  * `event_id`/`metadata`/`link_metadata` ride along only when the builder
  * opted in via [[ProjectionBuilder0.withMetadata]] (the reference's
  * envelope exposes eventId/metadataRaw/linkMetadataRaw —
  * JintProjectionStateHandler.cs:827-838); otherwise they are null
  * literals and cost no scan IO. `link_metadata` is the link event's own
  * metadata when reading through a resolved `$>` link
  * (ResolvedEvent.PositionMetadata). */
final case class LogEvent(
    stream_id: String,
    event_number: Long,
    event_type: String,
    log_position: Long,
    timestamp: java.sql.Timestamp,
    correlation_id: String,
    data: String,
    value: Double,
    event_id: String = null,
    metadata: String = null,
    link_metadata: String = null,
    /** Resolved-link identity (`$includeLinks` reads): the TARGET event's
      * stream/number, while `stream_id`/`event_number` stay the LINK's —
      * filtering and foreachStream partition by the stream being READ,
      * the envelope shows the resolved event, exactly the reference's
      * ResolvedEvent split (original vs resolved identity). */
    resolved_stream_id: String = null,
    resolved_event_number: Long = -1L)

/** An event emitted from inside a handler (P13 emit / P14 linkTo).
  * `(caused_by_position, emit_seq)` is the idempotency key for
  * exactly-once emission (SURVEY.md §2.3 P21: (projection, causedBy)
  * dedup): emit_seq disambiguates multiple emissions from one source
  * event. See [[EmittedSink.appendIdempotent]]. */
final case class Emitted(
    stream_id: String,
    event_type: String,
    data: String,
    partition: String,
    caused_by_position: Long,
    emit_seq: Int,
    metadata: String = null)

/** Collector handed to emitting handlers. `metadata` is the reference's
  * ExtraMetaData — a JSON object of caller-supplied keys attached to the
  * emitted event (JintProjectionStateHandler.cs Emit/LinkTo 4th/3rd
  * parameter); null when the handler passed none. */
final class Emitter private[projections] () {
  private[projections] val buf = new ArrayBuffer[(String, String, String, String)]
  /** P13: append a new event to `stream` (JintProjectionStateHandler.cs:239-267). */
  def emit(stream: String, eventType: String, body: String,
      metadata: String = null): Unit =
    buf += ((stream, eventType, body, metadata))
  /** P14: append a link event (`$>`, body "n@stream" —
    * JintProjectionStateHandler.cs:301-327). Linking an event read
    * through a resolved link points at the TARGET (chains collapse),
    * like the reference's envelope-derived n@stream. */
  def linkTo(stream: String, e: LogEvent, metadata: String = null): Unit = {
    val (s, n) = if (e.resolved_stream_id != null)
      (e.resolved_stream_id, e.resolved_event_number)
    else (e.stream_id, e.event_number)
    buf += ((stream, graft.model.EventEnvelope.LinkEventType, s"$n@$s", metadata))
  }
  /** P15: append a stream-reference link (`$@`, body = referenced stream —
    * JintProjectionStateHandler.cs:329-352; copyTo is a no-op stub in the
    * reference and is omitted). */
  def linkStreamTo(stream: String, referencedStream: String,
      metadata: String = null): Unit =
    buf += ((stream, graft.model.EventEnvelope.StreamLinkEventType,
      referencedStream, metadata))
}

/** Source selectors (P1–P4): which slice of the log feeds the fold.
  * Mirrors fromStream/fromStreams/fromCategory/fromAll
  * (JintProjectionStateHandler.cs:518-543, 754-776). */
object Projections {
  def fromStream(s: String): ProjectionBuilder0 =
    new ProjectionBuilder0(col("stream_id") === s)
  def fromStreams(ss: String*): ProjectionBuilder0 =
    new ProjectionBuilder0(col("stream_id").isin(ss: _*))
  def fromCategory(c: String, sep: String = "-"): ProjectionBuilder0 =
    new ProjectionBuilder0(
      graft.operators.SystemProjections.categoryFirst(col("stream_id"), sep) === c)
  def fromCategories(cs: Seq[String], sep: String = "-"): ProjectionBuilder0 =
    new ProjectionBuilder0(
      graft.operators.SystemProjections.categoryFirst(col("stream_id"), sep).isin(cs: _*))
  def fromAll(): ProjectionBuilder0 = new ProjectionBuilder0(lit(true))
  /** A filtered fromAll over an arbitrary stream predicate column (the
    * fromStreamsMatching selector). */
  def fromFilter(pred: Column): ProjectionBuilder0 = new ProjectionBuilder0(pred)

  /** Adapt an envelope DataFrame (Tables.eventLog or EventLogStore.read) to
    * the typed fold input. Missing `value` column defaults to 0.
    * `withMeta=false` (the default) keeps the scan narrow: event_id/
    * metadata/link_metadata become null literals instead of parquet
    * columns, so folds that never look at them pay no IO for them. */
  def toLogEvents(log: DataFrame, withMeta: Boolean = false): Dataset[LogEvent] = {
    import log.sparkSession.implicits._
    // projections are readers: redacted events fold with empty data
    // (PrepareLogRecord.cs:65; graft.operators.Redaction)
    val scrubbed = graft.operators.Redaction.scrub(log)
    val withValue =
      if (scrubbed.columns.contains("value")) scrubbed
      else scrubbed.withColumn("value", lit(0.0))
    def optCol(name: String): Column =
      if (withMeta && withValue.columns.contains(name)) col(name)
      else lit(null).cast("string")
    withValue.select(
      col("stream_id"), col("event_number"), col("event_type"),
      col("log_position"), col("timestamp"), col("correlation_id"),
      col("data"), col("value"),
      optCol("event_id").as("event_id"),
      optCol("metadata").as("metadata"),
      optCol("link_metadata").as("link_metadata"),
      optCol("resolved_stream_id").as("resolved_stream_id"),
      (if (withMeta && withValue.columns.contains("resolved_event_number"))
        col("resolved_event_number") else lit(-1L)).as("resolved_event_number")
    ).as[LogEvent]
  }
}

/** Builder stage 0: choose partitioning (P6/P7) and init state. */
final class ProjectionBuilder0 private[projections] (
    sourceFilter: Column, meta: Boolean = false) {
  /** Opt in to the rich envelope: folds built from here see event_id/
    * metadata/link_metadata (at the cost of scanning those columns). */
  def withMetadata(): ProjectionBuilder0 =
    new ProjectionBuilder0(sourceFilter, meta = true)
  /** P7 foreachStream(): partition = source stream id. */
  def foreachStream(): PartitionedBuilder =
    new PartitionedBuilder(sourceFilter, e => Option(e.stream_id), meta)
  /** P6 partitionBy(fn): custom key; None/null → event skipped
    * (JintProjectionStateHandler.cs:571-582, 793-797). */
  def partitionBy(f: LogEvent => Option[String]): PartitionedBuilder =
    new PartitionedBuilder(sourceFilter, f, meta)
  /** Single-partition projection (plain fromStream().when(...)). */
  def single(): PartitionedBuilder =
    new PartitionedBuilder(sourceFilter, _ => Some(""), meta)
}

final class PartitionedBuilder private[projections] (
    sourceFilter: Column, partitionFn: LogEvent => Option[String],
    meta: Boolean = false) {
  /** $init: initial state per partition (P5). */
  def init[S](f: => S): FoldBuilder[S] =
    new FoldBuilder[S](sourceFilter, partitionFn, () => f, Map.empty, None, Map.empty, None,
      withMeta = meta)

  /** P16 `$initShared` bi-state, EXACT semantics: one ordered pass over
    * the selected events, each step seeing its partition's state AND the
    * shared state as they stood after the previous event in log order —
    * the reference's interleaving (JintProjectionStateHandler.cs:97-133,
    * where state is the JS array [partitionState, sharedState] fed through
    * one serial projection pump). Inherently serial, exactly like that
    * pump: the fold runs as ONE task holding O(partitions) state — the
    * same bound the reference's in-memory partition-state cache carries.
    * For shared folds that are commutative+associative, prefer the
    * two-level `ProjectionQueries.p16BiState` shape, which scales out. */
  def initBi[S](f: => S, shared: => S)(step: (S, S, LogEvent) => (S, S)): BiStateFold[S] =
    new BiStateFold[S](sourceFilter, partitionFn, () => f, () => shared, step, meta)
}

/** Execution for [[PartitionedBuilder.initBi]]. */
final class BiStateFold[S] private[projections] (
    sourceFilter: Column,
    partitionFn: LogEvent => Option[String],
    initP: () => S,
    initShared: () => S,
    step: (S, S, LogEvent) => (S, S),
    withMeta: Boolean = false) {

  /** Final state per partition plus one `("$shared", state)` row. */
  def states(log: DataFrame)(implicit enc: Encoder[(String, S)]): Dataset[(String, S)] = {
    val events = Projections.toLogEvents(log.where(sourceFilter), withMeta)
    val pf = partitionFn
    val ip = initP
    val is = initShared
    val st = step
    events
      .repartition(1)
      .sortWithinPartitions(col("log_position"))
      .mapPartitions { it =>
        val states = scala.collection.mutable.LinkedHashMap.empty[String, S]
        var shared = is()
        it.foreach { e =>
          pf(e).foreach { k =>
            val s = states.getOrElseUpdate(k, ip())
            val (ns, nsh) = st(s, shared, e)
            states(k) = ns
            shared = nsh
          }
        }
        states.iterator ++ Iterator((BiStateFold.SharedKey, shared))
      }
  }

  /** Continuous form of [[states]]: the same exact interleaved semantics
    * as a streaming query (one serial group in the state store — see
    * [[graft.streaming.Subscriptions.biProjectionStream]] for the
    * serial-by-design rationale). Stream == batch on the same log. */
  def statesStream(events: DataFrame)(implicit
      encOut: Encoder[(String, S)],
      encKV: Encoder[(String, LogEvent)]): Dataset[(String, S)] =
    graft.streaming.Subscriptions.biProjectionStream[S](
      events.where(sourceFilter), partitionFn, initP, initShared, step, withMeta)
}

object BiStateFold {
  /** Key under which the shared state is returned alongside partitions. */
  val SharedKey = "$shared"
}

/** The fold surface (P5 when / P9 transformBy / P10 filterBy / P13 emit).
  *
  * Execution is Spark-first and scale-safe: events are hash-partitioned by
  * partition key, sorted *within* partitions by (key, log_position), and
  * folded by a single streaming pass per Spark partition — no per-group
  * collect, spill-friendly, identical plan shape at 100 TB
  * (SURVEY.md §7 "ordered-fold-per-partition at scale").
  */
final class FoldBuilder[S] private[projections] (
    sourceFilter: Column,
    partitionFn: LogEvent => Option[String],
    initFn: () => S,
    handlers: Map[String, (S, LogEvent) => S],
    anyHandler: Option[(S, LogEvent) => S],
    emitHandlers: Map[String, (S, LogEvent, Emitter) => S],
    anyEmitHandler: Option[(S, LogEvent, Emitter) => S],
    createdHandler: Option[(S, LogEvent) => S] = None,
    withMeta: Boolean = false) {

  private def copyWith(
      h: Map[String, (S, LogEvent) => S] = handlers,
      any: Option[(S, LogEvent) => S] = anyHandler,
      eh: Map[String, (S, LogEvent, Emitter) => S] = emitHandlers,
      anyE: Option[(S, LogEvent, Emitter) => S] = anyEmitHandler,
      created: Option[(S, LogEvent) => S] = createdHandler) =
    new FoldBuilder[S](sourceFilter, partitionFn, initFn, h, any, eh, anyE, created,
      withMeta)

  /** P5: register a typed handler; unhandled types keep prior state. */
  def when(eventType: String)(f: (S, LogEvent) => S): FoldBuilder[S] =
    copyWith(h = handlers + (eventType -> f))

  /** P5 $any: catch-all handler. */
  def whenAny(f: (S, LogEvent) => S): FoldBuilder[S] = copyWith(any = Some(f))

  /** P5 $created: fires once per partition, on its first event, BEFORE that
    * event's own handler (JintProjectionStateHandler.cs:677-684 registers it
    * alongside the typed handlers; the reference delivers it when the
    * source stream is first seen). Resumed folds (statesFrom, and the
    * streaming folds across micro-batches) do not re-fire it for
    * partitions that already have state (see [[KeyFold]]). */
  def whenCreated(f: (S, LogEvent) => S): FoldBuilder[S] = copyWith(created = Some(f))

  /** P5 + P13: handler that can also emit events. */
  def whenEmit(eventType: String)(f: (S, LogEvent, Emitter) => S): FoldBuilder[S] =
    copyWith(eh = emitHandlers + (eventType -> f))

  def whenAnyEmit(f: (S, LogEvent, Emitter) => S): FoldBuilder[S] =
    copyWith(anyE = Some(f))

  // ---- execution ----

  /** Build the per-event step function without capturing `this` (the
    * builder holds a Catalyst Column, which must not leak into closures). */
  private def mkStep: (S, LogEvent, Emitter) => S = {
    val hs = handlers; val ehs = emitHandlers
    val anyH = anyHandler; val anyEH = anyEmitHandler
    (state: S, e: LogEvent, em: Emitter) =>
      hs.get(e.event_type) match {
        case Some(h) => h(state, e)
        case None => ehs.get(e.event_type) match {
          case Some(h) => h(state, e, em)
          case None => anyH.map(_(state, e))
            .orElse(anyEH.map(_(state, e, em)))
            .getOrElse(state)
        }
      }
  }

  /** The per-key fold over this builder's handlers, built without
    * capturing `this`. */
  private def kernel: KeyFold[S] = new KeyFold[S](initFn, createdHandler, mkStep)

  /** The selected events, keyed by partition; keyless events are skipped. */
  private def keyed(log: DataFrame): Dataset[(String, LogEvent)] = {
    import log.sparkSession.implicits._
    val pf = partitionFn
    Projections.toLogEvents(log.where(sourceFilter), withMeta)
      .flatMap(e => pf(e).map(k => (k, e)))
  }

  /** The batch shape every batch fold shares: shuffle by key, sort each
    * Spark partition by (key, log_position), then one streaming pass that
    * hands `f` the partition's key groups in order. */
  private def foldByKey[O: Encoder](rows: Dataset[(String, LogEvent)])(
      f: Iterator[(String, Iterator[LogEvent])] => Iterator[O]): Dataset[O] =
    rows
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2.log_position"))
      .mapPartitions { it =>
        f(KeyFold.groupAdjacent(it)(_._1).map { case (k, g) => (k, g.map(_._2)) })
      }

  /** Run the fold; produce one row per partition key with its final state
    * (P19 query mode / P8 outputState). */
  def states(log: DataFrame)(implicit enc: Encoder[(String, S)]): Dataset[(String, S)] = {
    val fold = kernel
    foldByKey(keyed(log))(_.map { case (k, es) => (k, fold.run(k, None, es).state) })
  }

  /** Opt-in two-level fold for SKEWED partitions. The serial [[states]]
    * pass folds each partition key in one task — the same bound as the
    * reference's single projection pump, and the right default for
    * arbitrary order-dependent handlers. But one pathological key
    * (a stream with billions of events) then serializes a whole task.
    * When the fold is a monoid homomorphism — folding any contiguous
    * sub-sequence from `init` and merging the partials with an
    * ASSOCIATIVE `combine` (in event order) equals the serial fold —
    * Spark can do better: chunk each key into contiguous log-order
    * blocks, fold the blocks in parallel, then merge per key in block
    * order. `combine` need NOT be commutative: blocks are contiguous
    * log_position ranges and are merged sorted by block, so ordered
    * monoids (first/last trackers, concatenations) stay exact.
    *
    * Scale shape: level 1 shuffles on (key, block) — the hot key's
    * events spread over ~logSpan/blockSize blocks across the cluster;
    * level 2 shuffles only the per-block partials (one row per
    * non-empty block). Worst case (a key touching every block) costs
    * one extra shuffle of partials vs [[states]]; the skewed case turns
    * a single serial task into cluster-wide parallelism.
    *
    * Not supported here (use [[states]]): `$created` (fires on the
    * partition's first event, which no block-local fold can know it
    * holds) and emitting handlers (emission order would interleave
    * across blocks). Both `require`d away loudly. */
  def statesMonoid(log: DataFrame, combine: (S, S) => S,
      blockSize: Long = 1L << 16)(implicit encS: Encoder[S],
      enc: Encoder[(String, S)]): Dataset[(String, S)] = {
    require(createdHandler.isEmpty,
      "statesMonoid: whenCreated is order-global; use states()")
    require(emitHandlers.isEmpty && anyEmitHandler.isEmpty,
      "statesMonoid: emitting handlers are order-global; use states()/emitted()")
    require(blockSize > 0, s"statesMonoid: blockSize must be positive, got $blockSize")
    val spark = log.sparkSession
    import spark.implicits._
    val fold = kernel
    val comb = combine
    val bs = blockSize
    implicit val encKBE: Encoder[(String, Long, LogEvent)] =
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, implicitly[Encoder[LogEvent]])
    implicit val encKBS: Encoder[(String, Long, S)] =
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, encS)
    // level 1: fold each contiguous (key, log-range block) from init
    val partials: Dataset[(String, Long, S)] = keyed(log)
      .map { case (k, e) => (k, e.log_position / bs, e) }
      .repartition(col("_1"), col("_2"))
      .sortWithinPartitions(col("_1"), col("_2"), col("_3.log_position"))
      .mapPartitions { it =>
        KeyFold.groupAdjacent(it)(r => (r._1, r._2)).map { case ((k, block), g) =>
          (k, block, fold.run(k, None, g.map(_._3)).state)
        }
      }
    // level 2: merge each key's partials in block (= log) order
    partials
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"))
      .mapPartitions { it =>
        KeyFold.groupAdjacent(it)(_._1).map { case (k, g) => (k, g.map(_._3).reduce(comb)) }
      }
  }

  /** P20 (batch form): resume the fold from checkpointed per-partition
    * states, folding only events with log_position > fromPosExclusive.
    * Equivalent to the reference persisting state JSON to
    * `$projections-{name}-checkpoint` and continuing from the CheckpointTag
    * (DefaultCheckpointManager): full replay == checkpoint + resume, which
    * `ProjectionSpec` asserts for an order-dependent fold.
    *
    * Scale shape: prior states are injected as synthetic rows that sort
    * BEFORE the new events of their key (log_position = Long.MinValue) and
    * shuffle with them — state never gathers on the driver and is never
    * broadcast, so millions of partitions work. */
  def statesFrom(log: DataFrame, priorStates: Dataset[(String, S)],
      fromPosExclusive: Long, serialize: S => String, deserialize: String => S)(
      implicit enc: Encoder[(String, S)]): Dataset[(String, S)] = {
    val spark = log.sparkSession
    import spark.implicits._
    val fold = kernel
    val ser = serialize
    val deser = deserialize
    val stateType = StateEventType // local copy: the closure must not capture `this`
    val stateRows: Dataset[(String, LogEvent)] = priorStates.map { case (k, s) =>
      (k, LogEvent(k, -1L, stateType, Long.MinValue,
        new java.sql.Timestamp(0L), null, ser(s), 0.0))
    }
    foldByKey(keyed(log.where(col("log_position") > fromPosExclusive)).unionAll(stateRows))(
      _.map { case (k, es) =>
        // a checkpointed key's state row sorts first: it is the prior state
        val in = es.buffered
        var prior = Option.empty[S]
        while (in.hasNext && in.head.event_type == stateType) prior = Some(deser(in.next().data))
        (k, fold.run(k, prior, in).state)
      })
  }

  private val StateEventType = "$graft-checkpoint-state"

  /** P8 outputState + P11 outputTo: materialize final states as result
    * events using the reference's naming convention
    * (ProjectionNamesBuilder.cs:40-75): `$projections-{name}-result` for
    * single-partition projections, `$projections-{name}-{partition}-result`
    * per partition; `resultStreamName`/`pattern` override it (P11).
    * `{0}` in the pattern substitutes the partition key. */
  def outputState(log: DataFrame, name: String, serialize: S => String,
      resultStreamPattern: Option[String] = None)(
      implicit enc: Encoder[(String, S)]): DataFrame = {
    val spark = log.sparkSession
    import spark.implicits._
    states(log).map { case (partition, s) =>
      val stream = resultStreamPattern match {
        case Some(p) => p.replace("{0}", partition)
        case None if partition.isEmpty => s"$$projections-$name-result"
        case None => s"$$projections-$name-$partition-result"
      }
      (stream, "Result", serialize(s), partition)
    }.toDF("stream_id", "event_type", "data", "partition")
  }

  /** Run the fold; produce the emitted-event rows (P13/P14). Replays are
    * idempotent downstream via (stream_id, caused_by_position) keys (P21). */
  def emitted(log: DataFrame)(implicit enc: Encoder[Emitted]): Dataset[Emitted] = {
    val fold = kernel
    foldByKey(keyed(log))(_.flatMap { case (k, es) => fold.run(k, None, es) })
  }

  /** P20 continuous mode: the fold as a Structured Streaming query that
    * outputs one (partition, state) row per key touched in a micro-batch
    * (outputState after each batch). State lives in the state store in
    * `codec`'s storage form, survives restarts via the checkpoint dir,
    * and the rows carry that form: stream == batch [[states]] over the
    * same prefix of the log, `$created` included. `outputMode` is Update
    * for a plain subscription; Append when chained after another stateful
    * operator (Spark requires all-Append then). `render` turns a key's
    * final state (and its stored form) into the row's state, or drops the
    * row with None; the state store keeps the fold state either way. */
  def statesStream[T](events: DataFrame, codec: StateCodec[S, T],
      outputMode: OutputMode, render: (S, T) => Option[T])(implicit encT: Encoder[T],
      encOut: Encoder[(String, T)]): Dataset[(String, T)] =
    foldStream(events, codec, outputMode)((k, s, t, _) => render(s, t).iterator.map((k, _)))

  /** [[statesStream]] in Update mode, with the state stored and output as is. */
  def statesStream(events: DataFrame)(implicit encS: Encoder[S],
      encOut: Encoder[(String, S)]): Dataset[(String, S)] =
    statesStream(events, StateCodec.identity[S], OutputMode.Update, (_, t: S) => Some(t))

  /** P13/P14 continuous mode: the fold as a Structured Streaming query
    * that outputs the EMITTED events (not states), in OutputMode.Append —
    * emitted events are immutable facts. State is kept as in
    * [[statesStream]]. Emitted rows are identical to the batch [[emitted]]
    * rows for the same events, so [[EmittedSink.appendIdempotent]]'s
    * deterministic ids dedup replays across restarts and foreachBatch
    * retries — the reference's continuous-projection EmittedStream
    * semantics (Processing/Emitting/EmittedStream.cs). */
  def emittedStream[T](events: DataFrame, codec: StateCodec[S, T])(implicit
      encT: Encoder[T], encOut: Encoder[Emitted]): Dataset[Emitted] =
    foldStream(events, codec, OutputMode.Append)((_, _, _, emitted) => emitted.iterator)

  /** [[emittedStream]] with the state stored as is. */
  def emittedStream(events: DataFrame)(implicit encS: Encoder[S],
      encOut: Encoder[Emitted]): Dataset[Emitted] =
    emittedStream(events, StateCodec.identity[S])

  /** The one flatMapGroupsWithState behind [[statesStream]] and
    * [[emittedStream]]: each micro-batch folds a key's new events in
    * log_position order on top of its decoded state, stores the encoded
    * final state, and hands `out` the key, the final state, its encoded
    * form and the key's emitted rows. */
  private def foldStream[T, O](events: DataFrame, codec: StateCodec[S, T],
      outputMode: OutputMode)(out: (String, S, T, Seq[Emitted]) => Iterator[O])(
      implicit encT: Encoder[T], encOut: Encoder[O]): Dataset[O] = {
    val fold = kernel
    val encode = codec.encode
    val decode = codec.decode
    keyed(events)
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[T, O](outputMode, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, LogEvent)], state: GroupState[T]) =>
          val sorted = rows.map(_._2).toArray.sortBy(_.log_position)
          val run = fold.run(key, state.getOption.map(decode), sorted.iterator)
          val emitted = run.toVector
          val t = encode(run.state)
          state.update(t)
          out(key, run.state, t, emitted)
      }
  }
}
