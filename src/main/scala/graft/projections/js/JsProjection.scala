package graft.projections.js

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.OutputMode
import graft.projections.{BiStateFold, Emitted, Emitter, FoldBuilder, LogEvent, PartitionedBuilder,
  ProjectionBuilder0, Projections, StateCodec}

/** JS projection definitions — the reference's actual query language
  * (JintProjectionStateHandler.cs:55-75; grammar registered at :449-466:
  * fromStream/fromAll/fromStreams/fromCategory × when/partitionBy/
  * foreachStream/outputState/transformBy/filterBy/outputTo/options).
  *
  * A definition like
  * {{{
  * fromCategory("chat").foreachStream().when({
  *   $init: function() { return { count: 0 } },
  *   ChatMessage: function(state, event) { state.count += 1; return state; }
  * })
  * }}}
  * compiles onto the existing Scala [[FoldBuilder]]: the chain calls are
  * host natives that record a declarative spec (selector, partitioning,
  * output options) while the handler bodies stay JS, interpreted per event
  * by [[JsInterp]].
  *
  * Scale shape: the SOURCE STRING is the unit shipped to executors; each
  * task thread parses + evaluates the definition once
  * ([[CompiledJsProjection.get]] per-thread cache — interpreter instances
  * are not shared across threads, so no locks on the hot path) and then
  * folds its partition's events through the in-memory handler functions.
  * State lives as [[JsVal]] trees between events — JSON (de)serialization
  * happens only at output, not per event.
  *
  * Envelope properties mirror the reference's CreateEnvelope
  * (JintProjectionStateHandler.cs:827-838): streamId, sequenceNumber,
  * eventType, body/data (lazily parsed JSON), bodyRaw, metadataRaw,
  * isJson, category, partition, plus engine extensions logPosition and
  * value (the testdata's first-class numeric column).
  *
  * Honest gaps (each throws or is documented, never silently wrong):
  * `$initShared` bi-state (P16 — same two-level restriction as the Scala
  * DSL) is rejected at compile; `$deleted` maps to `$streamDeleted`
  * tombstone events. `fromStreamsMatching(fn)` is supported as a filtered
  * fromAll: the predicate compiles to a Catalyst filter when its body is
  * in the expression subset, else it runs per row via the interpreter
  * (streamMetadata, the optional second parameter, is undefined — stream
  * metadata carries no selector semantics in the batch engine).
  */
final class JsProjection(val source: String) extends Serializable {

  // Driver-side compile: validates the definition and yields the
  // declarative spec the Spark plan needs. Executor threads re-compile
  // from source via the same cache.
  @transient private lazy val spec: JsProjectionSpec =
    CompiledJsProjection.get(source).spec

  // Widen the scan to event_id/metadata/link_metadata only when a handler
  // can actually observe them — an AST walk scoped to each handler's
  // envelope parameter ([[JsMetaProbe]]); errs only toward widening.
  private def needsMeta: Boolean =
    CompiledJsProjection.get(source).needsEnvelopeMeta

  /** Whether this definition's plan reads the metadata columns (AST probe
    * result ∨ $includeLinks) — observable for plan-shape tests. */
  def scansMetadata: Boolean = needsMeta || spec.includeLinks

  private def builder0: ProjectionBuilder0 = {
    val b = spec.selector match {
      case JsSelector.Stream(id) => Projections.fromStream(id)
      case JsSelector.Streams(ids) => Projections.fromStreams(ids: _*)
      case JsSelector.Category(c) => Projections.fromCategory(c)
      case JsSelector.Categories(cs) => Projections.fromCategories(cs)
      case JsSelector.All => Projections.fromAll()
      case JsSelector.StreamsMatching =>
        // prefer the compiled Catalyst predicate (regex/startsWith/…);
        // fall back to the interpreter via a deterministic UDF that
        // re-derives the predicate from `source` per executor
        val src = source
        val filterCol = JsColumnCompiler.compileStreamFilter(
          CompiledJsProjection.get(src)).getOrElse {
          val pred = udf((sid: String) =>
            CompiledJsProjection.get(src).streamMatches(sid))
          pred(col("stream_id"))
        }
        Projections.fromFilter(filterCol)
    }
    // includeLinks also widens: the envelope must see the resolved
    // identity and the link's metadata that resolveInline attaches
    if (needsMeta || spec.includeLinks) b.withMetadata() else b
  }

  private def partBuilder: PartitionedBuilder = {
    val src = source // ship the string, not `this`
    if (spec.foreachStream) builder0.foreachStream()
    else if (spec.hasPartitionBy)
      builder0.partitionBy(e => CompiledJsProjection.get(src).partitionKey(e))
    else builder0.single()
  }

  /** options({$includeLinks: true}): read through `$>` links — handlers
    * see the TARGET events (with the link's metadata as linkMetadata) in
    * link-stream order. Applied before every execution path. */
  private def prepared(log: DataFrame): DataFrame = {
    // JS projections are readers: redacted events fold with empty data
    // (PrepareLogRecord.cs:65; graft.operators.Redaction). The compiled
    // fast paths consume this frame directly, so scrub here — the
    // interpreter path re-scrubs in toLogEvents (idempotent)
    val scrubbed = graft.operators.Redaction.scrub(log)
    if (spec.includeLinks) graft.operators.Links.resolveInline(scrubbed)
    else scrubbed
  }

  /** The fold, compiled onto the Scala DSL. */
  def foldBuilder: FoldBuilder[JsVal] = {
    val src = source
    val base = partBuilder.init[JsVal](CompiledJsProjection.get(src).initState())
      .whenAnyEmit((s, e, em) => CompiledJsProjection.get(src).step(s, e, em))
    if (spec.hasCreated)
      base.whenCreated((s, e) => CompiledJsProjection.get(src).created(s, e))
    else base
  }

  /** The exact interleaved bi-state fold of a `$initShared` definition
    * (see PartitionedBuilder.initBi). */
  private def biFold: BiStateFold[JsVal] = {
    val src = source
    partBuilder.initBi[JsVal](
      CompiledJsProjection.get(src).initState(),
      CompiledJsProjection.get(src).initSharedState())(
      (s, sh, e) => CompiledJsProjection.get(src).biStep(s, sh, e))
  }

  /** Final states as (partition, state JSON), transformBy/filterBy applied
    * (JintProjectionStateHandler TransformStateToResult); a bi-state
    * fold's "$shared" row passes through untransformed, like the
    * reference's separate shared-state slot. */
  private def renderStates(folded: Dataset[(String, JsVal)]): Dataset[(String, String)] = {
    import folded.sparkSession.implicits._
    val src = source
    folded.mapPartitions { it =>
      val c = CompiledJsProjection.get(src)
      it.flatMap { case (k, s) =>
        val out = if (k == BiStateFold.SharedKey) Some(s) else c.applyTransforms(s)
        out.map(v => (k, JsProjection.JsonState.encode(v)))
      }
    }
  }

  /** The definition's options({...}) that map outside the fold. */
  def options: JsProjectionOptions =
    JsProjectionOptions(spec.includeLinks, spec.reorderEvents, spec.processingLagMs)

  private def jsValEncoder: Encoder[(String, JsVal)] =
    Encoders.tuple(Encoders.STRING, Encoders.javaSerialization(classOf[JsVal]))

  /** `spark.graft.js.columnCompile` (default true): false forces the
    * interpreter on every path, the reference the fast paths must match. */
  private def columnCompile(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.js.columnCompile").forall(_.toBoolean)

  /** `spark.graft.js.streamStepper` (default true): false sends pre-state
    * streaming definitions to the interpreter state-store fold. */
  private def streamStepper(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.js.streamStepper").forall(_.toBoolean)

  /** P19 query mode: final state per partition, as (partition, state JSON)
    * — transformBy/filterBy applied (JintProjectionStateHandler
    * TransformStateToResult). When the definition's handler subset is
    * expressible as Catalyst Columns ([[JsColumnCompiler]]), the fold runs
    * as a codegen'd groupBy-aggregate with NO interpreter in the plan —
    * same results (the compiler refuses anything it cannot match exactly),
    * measured multiples faster. `spark.graft.js.columnCompile=false`
    * forces the interpreter path. */
  def states(log: DataFrame): DataFrame =
    fastStates(log).getOrElse(statesInterpreted(log))

  /** Whether this definition compiled to the Column fast path. */
  def compilesToColumns: Boolean =
    CompiledJsProjection.get(source).fastPlan.isDefined

  /** Whether `frame` carries every column a compiled plan requires
    * (optional envelope metas are defaulted by the build) and, when the
    * plan does Date math, a true TimestampType `timestamp`. The single
    * eligibility rule every fast path shares. */
  private def columnsCompatible(p: JsColumnCompiler.Plan,
      frame: DataFrame): Boolean = {
    val optional = Set("event_id", "metadata", "link_metadata",
      "resolved_stream_id", "resolved_event_number", "value")
    val have = frame.columns.toSet
    p.requiredCols.forall(c => have(c) || optional(c)) &&
      (!p.usesTimestamp || (have("timestamp") &&
        frame.schema("timestamp").dataType ==
          org.apache.spark.sql.types.TimestampType))
  }

  /** The Column-compiled states() plan, when the definition is
    * expressible, the session allows it, and the input log carries the
    * referenced columns (TimestampType `timestamp` when Date math is
    * used). Public for plan-shape tests. */
  def fastStates(log: DataFrame): Option[DataFrame] = {
    if (!columnCompile(log.sparkSession)) None
    else CompiledJsProjection.get(source).fastPlan.flatMap { p =>
      if (columnsCompatible(p, log))
        Some(p.build(prepared(log).where(p.selector)))
      else None
    }
  }

  /** The interpreter execution of states() — the reference semantics the
    * fast path must match (equivalence suite in JsEngineSpec). */
  def statesInterpreted(log: DataFrame): DataFrame = {
    val folded =
      if (spec.isBiState) biFold.states(prepared(log))(jsValEncoder)
      else foldBuilder.states(prepared(log))(jsValEncoder)
    renderStates(folded).toDF("partition", "state")
  }

  /** P20 batch resume: fold only events past `fromPosExclusive` on top of
    * checkpointed states (storage form: state JSON per partition, as
    * `ProjectionCheckpoints` persists them). Full replay == checkpoint +
    * resume, same as the Scala DSL. */
  def statesFrom(log: DataFrame, priorStates: Dataset[(String, String)],
      fromPosExclusive: Long): DataFrame = {
    if (spec.isBiState)
      throw new JsError("statesFrom is not available for bi-state projections")
    val json = JsProjection.JsonState
    val prior = priorStates.map { case (k, j) => (k, json.decode(j)) }(jsValEncoder)
    renderStates(foldBuilder.statesFrom(prepared(log), prior, fromPosExclusive,
      json.encode, json.decode)(jsValEncoder))
      .toDF("partition", "state")
  }

  /** P20 continuous mode: the fold as a Structured Streaming query — state
    * per partition lives in the state store (JSON between micro-batches,
    * live JS values within one), surviving restarts via the checkpoint
    * dir. Emits (partition, state JSON) for every key a micro-batch
    * touches, like outputState-after-each-batch: stream == batch states()
    * over the same log, `$created` included. Every path applies the
    * definition's selector, as batch states() does, and its
    * transformBy/filterBy chain to each emitted row (the state store keeps
    * the raw fold state). `options($includeLinks)` is rejected, as in
    * [[emittedStream]].
    *
    * The interpreter path is [[FoldBuilder.statesStream]] over
    * [[foldBuilder]]. Bi-state ($initShared) definitions run through the
    * serial [[BiStateFold.statesStream]] — exact interleaved semantics,
    * one group in the state store, the streaming twin of the batch exact
    * mode. $deleted handlers fire on `$streamDeleted` events on both
    * paths (routing lives in
    * [[CompiledJsProjection.step]]/[[CompiledJsProjection.biStep]]). */
  def statesStream(events: DataFrame): Dataset[(String, String)] = {
    val spark = events.sparkSession
    import spark.implicits._
    if (spec.isBiState && spec.reorderEvents)
      throw new JsError(
        "options(reorderEvents) with $initShared is not supported in " +
          "streaming: Spark requires chained stateful operators to all be " +
          "Append, and the bi-state fold emits in Update mode")
    if (spec.includeLinks)
      throw new JsError(
        "options($includeLinks) is not supported for streaming states " +
          "(link resolution is a batch self-join); resolve links batch-side")
    val ordered = reordered(events)
    if (spec.isBiState)
      renderStates(biFold.statesStream(ordered)(jsValEncoder, implicitly))
    else fastStatesStream(ordered).getOrElse {
      val src = source
      val transformed = CompiledJsProjection.get(src).transformsList.nonEmpty
      foldBuilder.statesStream(ordered, JsProjection.JsonState,
        // chained after the reorder buffer (itself stateful, Append), Spark
        // requires every stateful operator in the query to be Append
        if (spec.reorderEvents) OutputMode.Append else OutputMode.Update,
        (s: JsVal, json: String) =>
          if (!transformed) Some(json)
          else CompiledJsProjection.get(src).applyTransforms(s)
            .map(JsProjection.JsonState.encode))
    }
  }

  /** options({reorderEvents: true, processingLag: ms}): buffer arrivals
    * through the time-lag reorder before the fold, as the reference's
    * multi-stream reader does ahead of the projection pump. */
  private def reordered(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    if (spec.reorderEvents)
      graft.streaming.Subscriptions.reorderedStreamByTime(
        events, spec.processingLagMs.getOrElse(500L)).toDF()
    else events
  }

  /** Column-compiled continuous mode: the same Plan that powers the batch
    * fast path runs as a NATIVE streaming aggregation — partial sums and
    * extrema live in the state store as typed longs/doubles instead of
    * per-key JSON blobs folded by the interpreter, codegen'd end to end.
    * Emits one (partition, state JSON) row per touched key per
    * micro-batch (Update), exactly the flatMapGroupsWithState contract.
    * Applies the definition's selector, like the interpreter path.
    * reorderEvents definitions stay interpreted (the reorder
    * buffer forces all-Append chains; an aggregation after it cannot
    * run in Update mode). */
  def fastStatesStream(events: DataFrame): Option[Dataset[(String, String)]] = {
    val spark = events.sparkSession
    import spark.implicits._
    // the compiled plans fold without the transformBy/filterBy chain;
    // such definitions stream through the interpreter fold, which applies
    // it to each emitted row
    if (!columnCompile(spark) || spec.reorderEvents || spec.includeLinks ||
      CompiledJsProjection.get(source).transformsList.nonEmpty) None
    else CompiledJsProjection.get(source).fastPlan.flatMap { p =>
      val ok = columnsCompatible(p, events)
      // streaming projections are readers too: redacted events fold with
      // empty data on the compiled paths exactly as the interpreter
      // fallback does through toLogEvents (PrepareLogRecord.cs:65); the
      // selector applies here as the interpreter's sourceFilter does
      val scrubbed = graft.operators.Redaction.scrub(events).where(p.selector)
      if (!ok) None
      else if (!p.usesPreState)
        Some(p.build(scrubbed)
          .select(col("partition").as("_1"), col("state").as("_2"))
          .as[(String, String)])
      else
        // pre-state reads compile to per-batch window columns — a window
        // neither runs in a streaming aggregation nor sees earlier
        // micro-batches' state. JsStreamStepper serves them streaming-
        // native instead: the per-key running values those windows
        // reconstruct live as TYPED flatMapGroupsWithState state, stepped
        // per event by the same compiled expressions — no interpreter
        // node, no window. spark.graft.js.streamStepper=false forces the
        // interpreter state-store path.
        p.stepSpec.filter(_ => streamStepper(spark))
          .map(ss => JsStreamStepper.stream(ss, scrubbed))
    }
  }

  /** P13/P14: events emitted by handlers (emit/linkTo/linkStreamTo).
    * Emissions with state-free arguments compile to a pure select
    * ([[JsColumnCompiler.compileEmitted]]) — same rows, no serial fold,
    * no interpreter; anything else runs the interpreter fold. */
  def emitted(log: DataFrame): Dataset[Emitted] = {
    if (spec.isBiState)
      throw new JsError("emit/linkTo are not available in bi-state ($initShared) projections")
    val spark = log.sparkSession
    import spark.implicits._
    fastEmitted(log).getOrElse(foldBuilder.emitted(prepared(log)))
  }

  /** Whether the emitted() path compiled to Columns. */
  def emitsToColumns: Boolean =
    CompiledJsProjection.get(source).fastEmitPlan.isDefined

  /** The Column-compiled emitted() plan, when expressible and enabled —
    * public for plan-shape tests. */
  def fastEmitted(log: DataFrame): Option[Dataset[Emitted]] = {
    val spark = log.sparkSession
    import spark.implicits._
    if (!columnCompile(spark)) None
    else CompiledJsProjection.get(source).fastEmitPlan.flatMap { p =>
      if (columnsCompatible(p, log))
        Some(p.build(prepared(log).where(p.selector)).as[Emitted])
      else None
    }
  }

  /** P13/P14/P21 continuous mode: emitted events as a Structured Streaming
    * Dataset — the reference's most common production shape, a continuous
    * projection feeding derived streams
    * (Processing/Emitting/EmittedStream.cs; scenario
    * when_recategorizing_chat_events_by_users.cs). Fold state rides the
    * state store as JSON; emitted rows are bit-identical to the batch
    * [[emitted]] rows, so running them through
    * [[graft.projections.EmittedSink.streamTo]] gives exactly-once append
    * across restarts and retries. `options($includeLinks)` is rejected
    * here: link resolution is a log self-join, a batch shape. */
  def emittedStream(events: DataFrame): Dataset[Emitted] = {
    if (spec.isBiState)
      throw new JsError("emit/linkTo are not available in bi-state ($initShared) projections")
    if (spec.includeLinks)
      throw new JsError(
        "options($includeLinks) is not supported for streaming emit " +
          "(link resolution is a batch self-join); resolve links batch-side")
    val spark = events.sparkSession
    import spark.implicits._
    fastEmittedStream(events).orElse(stepperEmittedStream(events)).getOrElse(
      foldBuilder.emittedStream(reordered(events), JsProjection.JsonState))
  }

  /** Column-compiled continuous emit: a definition whose emissions are
    * state-free streams as a pure STATELESS select — Append mode, no
    * state store, no per-key fold — while producing rows bit-identical
    * to the batch [[emitted]] (same emit_seq, same rendering), so
    * [[graft.projections.EmittedSink.streamTo]] dedup keys line up
    * across engines. The definition's selector applies here exactly as
    * the interpreter path's `events.where(sourceFilter)` does.
    * reorderEvents stays interpreted: its reorder buffer's watermark can
    * drop very-late events, which a stateless select would still emit. */
  def fastEmittedStream(events: DataFrame): Option[Dataset[Emitted]] = {
    val spark = events.sparkSession
    import spark.implicits._
    if (!columnCompile(spark) || spec.reorderEvents || spec.includeLinks) None
    else CompiledJsProjection.get(source).fastEmitPlan
      // the STATEFUL emit variant reconstructs state with window
      // columns — not streamable as a select; such definitions serve
      // continuous mode through the interpreter state-store fold (or
      // the stepper once it carries emit sites)
      .filterNot(_.usesPreState)
      .flatMap { p =>
      if (columnsCompatible(p, events))
        Some(p.build(graft.operators.Redaction.scrub(events)
          .where(p.selector)).as[Emitted])
      else None
    }
  }

  /** Continuous STATEFUL emit through the typed stepper (r15): a
    * definition whose emissions read accumulated state serves streaming
    * natively — the same per-key recurrences [[JsStreamStepper]] folds
    * for states, with the compiled emissions array evaluated per event
    * after the update applies. Rows are bit-identical to the batch
    * [[emitted]] (same emit_seq, same rendering). Falls back to the
    * interpreter state-store fold when the emit step spec is absent
    * (transform chains, post-reads inside update inputs) or the stepper
    * is disabled. */
  def stepperEmittedStream(events: DataFrame): Option[Dataset[Emitted]] = {
    val spark = events.sparkSession
    if (!columnCompile(spark) || !streamStepper(spark) || spec.reorderEvents ||
      spec.includeLinks) None
    else for {
      p <- CompiledJsProjection.get(source).fastEmitPlan
      ss <- p.stepSpec
      if ss.emitArr.isDefined && columnsCompatible(p, events)
    } yield JsStreamStepper.streamEmits(ss,
      graft.operators.Redaction.scrub(events).where(p.selector))
  }

  /** P8/P11 outputState: result events with the reference naming
    * (ProjectionNamesBuilder.cs:40-75), honoring outputTo/options
    * overrides from the definition itself. */
  def outputState(log: DataFrame, name: String): DataFrame = {
    val resultStream = spec.resultStream.getOrElse(s"$$projections-$name-result")
    val pattern = spec.partitionResultPattern
    val single = !spec.foreachStream && !spec.hasPartitionBy
    states(log).select(
      (if (single) org.apache.spark.sql.functions.lit(resultStream)
       else pattern match {
         case Some(p) if p.contains("{0}") =>
           org.apache.spark.sql.functions.expr(
             s"replace('${p.replace("'", "''")}', '{0}', partition)")
         case _ =>
           org.apache.spark.sql.functions.concat(
             org.apache.spark.sql.functions.lit(s"$$projections-$name-"),
             col("partition"),
             org.apache.spark.sql.functions.lit("-result"))
       }).as("stream_id"),
      org.apache.spark.sql.functions.lit("Result").as("event_type"),
      col("state").as("data"),
      col("partition"))
  }
}

object JsProjection {
  /** Storage form of JS fold state between micro-batches and in
    * checkpoints: the state's JSON. */
  private[js] val JsonState: StateCodec[JsVal, String] =
    StateCodec(s => JsVal.stringify(s).getOrElse("null"), JsVal.parseJson)

  /** Compile a definition (throws JsParseError/JsError on invalid source —
    * the reference's "compilation" step, JintProjectionStateHandler ctor). */
  def compile(source: String): JsProjection = {
    val p = new JsProjection(source)
    CompiledJsProjection.get(source) // force driver-side validation
    p
  }
}

/** Public view of a compiled definition's options for callers wiring the
  * out-of-fold features (link resolution, reorder buffer). */
final case class JsProjectionOptions(
    includeLinks: Boolean, reorderEvents: Boolean, processingLagMs: Option[Long])

/** Source selector recorded by the definition chain (P1–P4). */
sealed trait JsSelector extends Serializable
object JsSelector {
  final case class Stream(id: String) extends JsSelector
  final case class Streams(ids: Seq[String]) extends JsSelector
  final case class Category(c: String) extends JsSelector
  final case class Categories(cs: Seq[String]) extends JsSelector
  case object All extends JsSelector
  /** fromStreamsMatching(fn): streams whose ID satisfies a JS predicate.
    * The predicate function itself lives on the CompiledJsProjection
    * (re-derived from `source` on executors), not here — this is the
    * serializable marker. */
  case object StreamsMatching extends JsSelector
}

/** Declarative facts extracted from evaluating a definition. */
final class JsProjectionSpec extends Serializable {
  var selector: JsSelector = JsSelector.All
  var selectorSet = false
  var foreachStream = false
  var hasPartitionBy = false
  var hasCreated = false
  var outputStateRequested = false
  /** `$initShared` present: state is the array [partitionState, shared]. */
  var isBiState = false
  /** options({...}) keys that map to engine features outside the fold:
    * includeLinks → Links.resolve pre-step; reorderEvents+processingLag →
    * Subscriptions.reorderedStreamByTime(lag ms) ahead of statesStream. */
  var includeLinks = false
  var reorderEvents = false
  var processingLagMs: Option[Long] = None
  var resultStream: Option[String] = None
  var partitionResultPattern: Option[String] = None
  /** Event types with a typed handler (diagnostics / filter hints). */
  var handledTypes: Set[String] = Set.empty
  var hasAny = false
}

/** A definition evaluated into callable handler functions, bound to one
  * thread. Obtain via [[CompiledJsProjection.get]]. */
final class CompiledJsProjection private (source: String) {
  val interp = new JsInterp
  val spec = new JsProjectionSpec

  private var handlers = Map.empty[String, JsVal] // typed handlers
  private var initFn: Option[JsVal] = None
  private var initSharedFn: Option[JsVal] = None
  private var anyFn: Option[JsVal] = None
  private var createdFn: Option[JsVal] = None
  private var deletedFn: Option[JsVal] = None
  private var partitionFn: Option[JsVal] = None
  private var streamFilterFn: Option[JsVal] = None // fromStreamsMatching
  private var transforms = List.empty[(String, JsVal)] // ("transform"|"filter", fn)

  // read-only views for the column compiler (JsColumnCompiler)
  private[js] def handlersMap: Map[String, JsVal] = handlers
  private[js] def anyFnOpt: Option[JsVal] = anyFn
  private[js] def partitionFnOpt: Option[JsVal] = partitionFn
  private[js] def streamFilterFnOpt: Option[JsVal] = streamFilterFn
  private[js] def deletedFnOpt: Option[JsVal] = deletedFn
  private[js] def transformsList: List[(String, JsVal)] = transforms

  /** The whole-definition Column compilation, when the handler subset is
    * expressible (JsColumnCompiler doc); computed once per instance. */
  private[js] lazy val fastPlan: Option[JsColumnCompiler.Plan] =
    JsColumnCompiler.compile(this)

  /** Column compilation of the emitted() path: state-free emissions as
    * a pure select + posexplode (JsColumnCompiler.compileEmitted), else
    * the STATEFUL variant riding the states() plan's per-row frame
    * (emit args/guards reading accumulated state resolve to the pre/
    * post window columns — r15). */
  private[js] lazy val fastEmitPlan: Option[JsColumnCompiler.Plan] =
    JsColumnCompiler.compileEmitted(this)
      .orElse(fastPlan.flatMap(_.emitVariant))

  // bound per step() call, read by the emit/linkTo natives
  private var currentEmitter: Emitter = null
  private var currentEvent: LogEvent = null

  /** Chain-grammar enforcement, mirroring the reference's
    * `_availableProperties` table verbatim
    * (JintProjectionStateHandler.cs:460-473): each stage names the only
    * methods callable next — e.g. `fromStreams` has no `foreachStream`,
    * `partitionBy` admits only `when`, nothing follows `outputTo`.
    * (Declared before the compileDefinition() call below — constructor
    * statements run in declaration order.) */
  private var allowedNext: Set[String] = Set(
    "fromStream", "fromAll", "fromStreams", "fromCategory", "fromCategories",
    "fromStreamsMatching")

  compileDefinition()

  // ------------------------------------------------------------ builders

  private def enter(stage: String): Unit = {
    if (!allowedNext.contains(stage))
      throw new JsError(s"'$stage' is not available at this point in the " +
        s"definition chain (allowed here: ${allowedNext.toSeq.sorted.mkString(", ")})")
    allowedNext = CompiledJsProjection.grammar(stage)
  }

  /** Shared handler registration for `when({...})` entries and the
    * standalone `on_event`/`on_any` definition functions (reference
    * AddHandler, JintProjectionStateHandler.cs:614-641, including its
    * bi-state `$deleted` rejection). */
  private def addHandler(name: String, f: JsVal): Unit = name match {
    case "$init" => initFn = Some(f)
    case "$initShared" => initSharedFn = Some(f); spec.isBiState = true
    case "$any" => anyFn = Some(f); spec.hasAny = true
    case "$created" => createdFn = Some(f); spec.hasCreated = true
    case "$deleted" if spec.isBiState =>
      throw new JsError("Cannot handle deletes in bi-state projections")
    case "$deleted" => deletedFn = Some(f)
    case tpe =>
      handlers += (tpe -> f)
      spec.handledTypes += tpe
  }

  private def compileDefinition(): Unit = {
    val g = interp.globals

    def builderObj: JsObj = {
      lazy val self: JsObj = JsObj.of(
        "when" -> JsNative("when", 1, { args =>
          enter("when")
          args.headOption match {
            case Some(JsObj(hs)) =>
              hs.foreach { case (n, f) => addHandler(n, f) }
              self
            case _ => throw new JsError("when() expects a handler object")
          }
        }),
        // chain marker after when (reference grammar row :465): declares
        // the definition produces a state transform — implies outputState
        "$defines_state_transform" ->
          JsNative("$defines_state_transform", 0, { _ =>
            enter("$defines_state_transform")
            spec.outputStateRequested = true
            self
          }),
        "foreachStream" -> JsNative("foreachStream", 0, { _ =>
          enter("foreachStream")
          spec.foreachStream = true; self
        }),
        "partitionBy" -> JsNative("partitionBy", 1, { args =>
          enter("partitionBy")
          partitionFn = Some(args.headOption.getOrElse(
            throw new JsError("partitionBy() expects a function")))
          spec.hasPartitionBy = true
          self
        }),
        "outputState" -> JsNative("outputState", 0, { _ =>
          enter("outputState")
          spec.outputStateRequested = true; self
        }),
        "transformBy" -> JsNative("transformBy", 1, { args =>
          enter("transformBy")
          transforms = transforms :+ ("transform" -> args.head); self
        }),
        "filterBy" -> JsNative("filterBy", 1, { args =>
          enter("filterBy")
          transforms = transforms :+ ("filter" -> args.head); self
        }),
        "outputTo" -> JsNative("outputTo", 2, { args =>
          enter("outputTo")
          spec.resultStream = args.headOption.map(JsVal.toStr)
          spec.partitionResultPattern = args.lift(1).map(JsVal.toStr)
          self
        }),
        "options" -> JsNative("options", 1, { args =>
          applyOptions(args)
          self
        }))
      self
    }

    // the reference's options() is a definition-level function callable
    // standalone before the chain (AddDefinitionFunction("options", ...),
    // JintProjectionStateHandler.cs:494) — outside the chain grammar
    def applyOptions(args: Seq[JsVal]): Unit = args.headOption match {
      case Some(JsObj(opts)) =>
        opts.get("resultStreamName").foreach(v => spec.resultStream = Some(JsVal.toStr(v)))
        opts.get("partitionResultStreamNamePattern")
          .foreach(v => spec.partitionResultPattern = Some(JsVal.toStr(v)))
        opts.get("$includeLinks").foreach(v => spec.includeLinks = JsVal.bool(v))
        opts.get("reorderEvents").foreach(v => spec.reorderEvents = JsVal.bool(v))
        opts.get("processingLag").foreach(v =>
          spec.processingLagMs = Some(JsVal.num(v).toLong))
        // reference _setters row (JintProjectionStateHandler.cs:482):
        // bi-state can be declared as an option as well as via $initShared
        opts.get("biState").foreach(v => spec.isBiState = JsVal.bool(v))
      case _ => ()
    }

    def selectorNative(name: String)(f: Seq[JsVal] => JsSelector): Unit =
      g.define(name, JsNative(name, 1, { args =>
        enter(name)
        spec.selector = f(args)
        spec.selectorSet = true
        builderObj
      }))

    selectorNative("fromStream")(a => JsSelector.Stream(JsVal.toStr(a.head)))
    selectorNative("fromStreams") { a =>
      val ids = a match {
        case Seq(JsArr(items)) => items.map(JsVal.toStr).toSeq
        case many => many.map(JsVal.toStr)
      }
      JsSelector.Streams(ids)
    }
    selectorNative("fromCategory")(a => JsSelector.Category(JsVal.toStr(a.head)))
    selectorNative("fromCategories") { a =>
      val cs = a match {
        case Seq(JsArr(items)) => items.map(JsVal.toStr).toSeq
        case many => many.map(JsVal.toStr)
      }
      JsSelector.Categories(cs)
    }
    selectorNative("fromAll")(_ => JsSelector.All)
    g.define("options", JsNative("options", 1, { args =>
      applyOptions(args); JsUndef
    }))
    // standalone handler registration (reference on_event/on_any,
    // JintProjectionStateHandler.cs:500-501, 642-663): the pre-chain way
    // to attach handlers — `fromAll(); on_event('T', fn); on_any(fn);`
    g.define("on_event", JsNative("on_event", 2, { args =>
      (args.headOption, args.lift(1)) match {
        case (Some(n @ JsStr(_)), Some(f @ JsFunc(_, _, _))) =>
          addHandler(JsVal.toStr(n), f)
        case _ =>
          throw new JsError("on_event(eventName, handler) expects a string and a function")
      }
      JsUndef
    }))
    g.define("on_any", JsNative("on_any", 1, { args =>
      args.headOption match {
        case Some(f @ JsFunc(_, _, _)) => addHandler("$any", f)
        case _ => throw new JsError("on_any(handler) expects a function")
      }
      JsUndef
    }))
    // fromStreamsMatching(fn): the stream-set predicate selector — a
    // filtered fromAll where fn(streamId) gates each stream. The
    // predicate compiles to a Catalyst filter column when its body is in
    // the expression subset (regex tests, startsWith, …); otherwise it
    // evaluates per row through the interpreter.
    g.define("fromStreamsMatching", JsNative("fromStreamsMatching", 1, { args =>
      enter("fromStreamsMatching")
      args.headOption match {
        case Some(f @ JsFunc(_, _, _)) => streamFilterFn = Some(f)
        case _ =>
          throw new JsError("fromStreamsMatching: a filter function is required")
      }
      spec.selector = JsSelector.StreamsMatching
      spec.selectorSet = true
      builderObj
    }))

    // emit surface (JintProjectionStateHandler.cs:239-267, 301-352).
    // The optional trailing metadata object becomes the emitted event's
    // ExtraMetaData: a JSON object whose values are serialized fragments.
    // emit() JSON-serializes each property and SKIPS undefined ones
    // (Emit, :254-259); linkTo/linkStreamTo use the raw-format string
    // conversion where null/undefined become JSON null (AsString
    // formatForRaw, :292-300).
    g.define("emit", JsNative("emit", 4, { args =>
      requireEmitter("emit")
      val stream = JsVal.toStr(args.headOption.getOrElse(
        throw new JsError("emit: streamId required")))
      val tpe = JsVal.toStr(args.lift(1).getOrElse(throw new JsError("emit: eventType required")))
      val body = args.lift(2).getOrElse(JsObj.empty)
      currentEmitter.emit(stream, tpe, JsVal.stringify(body).getOrElse("null"),
        metaJson(args.lift(3), skipUndefined = true, "emit"))
      JsUndef
    }))
    g.define("linkTo", JsNative("linkTo", 3, { args =>
      requireEmitter("linkTo")
      val stream = JsVal.toStr(args.headOption.getOrElse(
        throw new JsError("linkTo: streamId required")))
      // the reference reads sequenceNumber/streamId off the passed event
      // object (JintProjectionStateHandler.cs:301-327)
      val (srcStream, srcNumber) = args.lift(1) match {
        case Some(JsObj(f)) if f.contains("streamId") && f.contains("sequenceNumber") =>
          (JsVal.toStr(f("streamId")), JsVal.num(f("sequenceNumber")).toLong)
        case _ => (currentEvent.stream_id, currentEvent.event_number)
      }
      currentEmitter.linkTo(stream,
        currentEvent.copy(stream_id = srcStream, event_number = srcNumber),
        metaJson(args.lift(2), skipUndefined = false, "linkTo"))
      JsUndef
    }))
    g.define("linkStreamTo", JsNative("linkStreamTo", 3, { args =>
      requireEmitter("linkStreamTo")
      val stream = JsVal.toStr(args.headOption.getOrElse(
        throw new JsError("linkStreamTo: streamId required")))
      val referenced = JsVal.toStr(args.lift(1).getOrElse(JsStr(currentEvent.stream_id)))
      currentEmitter.linkStreamTo(stream, referenced,
        metaJson(args.lift(2), skipUndefined = false, "linkStreamTo"))
      JsUndef
    }))
    // copyTo is registered but a no-op in the reference
    // (JintProjectionStateHandler.cs CopyTo, :355-357)
    g.define("copyTo", JsNative("copyTo", 3, { _ => JsUndef }))

    interp.resetBudget()
    interp.run(JsParser.program(source))
    if (!spec.selectorSet)
      throw new JsError("projection definition must start with fromStream/" +
        "fromStreams/fromCategory/fromCategories/fromAll")
  }

  /** Every handler invocation rearms the step budget (the reference
    * resets its Jint constraints around each call the same way). */
  private def invoke(f: JsVal, args: Seq[JsVal]): JsVal = {
    interp.resetBudget()
    interp.callFunction(f, args)
  }

  private def requireEmitter(fn: String): Unit =
    if (currentEmitter == null)
      throw new JsError(s"$fn() called outside an event handler")

  /** The optional metadata argument of emit/linkTo/linkStreamTo as a JSON
    * object string (the reference's ExtraMetaData dictionary — each value
    * a serialized JSON fragment). None/undefined/null → no metadata; a
    * non-object argument is an error ("object expected"), mirroring
    * EnsureNonNullObjectValue. `skipUndefined` selects emit's Serialize
    * behavior (undefined properties dropped) vs linkTo's formatForRaw one
    * (undefined/null become JSON null). */
  private def metaJson(arg: Option[JsVal], skipUndefined: Boolean,
      fn: String): String = arg match {
    case None | Some(JsUndef) | Some(JsNull) => null
    case Some(JsObj(fields)) =>
      val sb = new StringBuilder("{")
      var first = true
      fields.foreach { case (k, v) =>
        val frag: Option[String] = v match {
          case JsUndef | _: JsFunc | _: JsNative =>
            if (skipUndefined) None else Some("null")
          case other => JsVal.stringify(other).orElse(Some("null"))
        }
        frag.foreach { f =>
          if (!first) sb.append(',')
          first = false
          JsVal.stringify(JsStr(k)).foreach(sb.append)
          sb.append(':').append(f)
        }
      }
      sb.append('}').toString
    case Some(_) => throw new JsError(s"$fn: metadata must be an object")
  }

  // ------------------------------------------------------------ execution

  /** Fresh initial state for one partition ($init, else {}). */
  def initState(): JsVal = initFn match {
    case Some(f) =>
      invoke(f, Nil) match {
        case JsUndef => JsObj.empty
        case v => v
      }
    case None => JsObj.empty
  }

  /** partitionBy key for an event; None/null/undefined skips the event
    * (JintProjectionStateHandler.cs:151-155). The envelope passed to the
    * partition function has partition "" — the reference's GetPartition
    * also runs before the partition exists. */
  def partitionKey(e: LogEvent): Option[String] = partitionFn.flatMap { f =>
    invoke(f, Seq(envelope(e, ""))) match {
      case JsUndef | JsNull => None
      case JsNum(d) => Some(JsVal.numToStr(d))
      case JsStr(s) => Some(s)
      case _ => None
    }
  }

  /** fromStreamsMatching predicate over one stream id (interpreter path;
    * the second streamMetadata parameter is passed as undefined — stream
    * metadata carries no selector semantics in the batch engine). */
  def streamMatches(sid: String): Boolean = streamFilterFn match {
    case Some(f) => JsVal.bool(invoke(f, Seq(JsStr(sid), JsUndef)))
    case None => true
  }

  private def partitionOf(e: LogEvent): String =
    if (spec.foreachStream) e.stream_id
    else if (spec.hasPartitionBy) partitionKey(e).getOrElse("")
    else ""

  /** One event through the handler table. Undefined return keeps the
    * (possibly mutated-in-place) current state — Jint behavior. */
  def step(state: JsVal, e: LogEvent, em: Emitter): JsVal = {
    val handler =
      if (e.event_type == graft.model.EventEnvelope.StreamDeletedEventType)
        deletedFn.orElse(handlers.get(e.event_type)).orElse(anyFn)
      else handlers.get(e.event_type).orElse(anyFn)
    handler match {
      case None => state
      case Some(f) =>
        currentEmitter = em
        currentEvent = e
        val part = if (needsPartitionField) partitionOf(e) else ""
        try invoke(f, Seq(state, envelope(e, part))) match {
          case JsUndef => state
          case v => v
        } finally {
          currentEmitter = null
          currentEvent = null
        }
    }
  }

  /** Fresh shared state ($initShared, else {}). */
  def initSharedState(): JsVal = initSharedFn match {
    case Some(f) =>
      invoke(f, Nil) match {
        case JsUndef => JsObj.empty
        case v => v
      }
    case None => JsObj.empty
  }

  /** Bi-state step: the handler receives the reference's state array
    * [partitionState, sharedState] (JintProjectionStateHandler.cs:97-133)
    * and may mutate it in place or return a replacement array. emit/linkTo
    * are not available in bi-state handlers (no Emitter on this path —
    * calls throw, never silently drop). */
  def biStep(s: JsVal, sh: JsVal, e: LogEvent): (JsVal, JsVal) = {
    val handler =
      if (e.event_type == graft.model.EventEnvelope.StreamDeletedEventType)
        deletedFn.orElse(handlers.get(e.event_type)).orElse(anyFn)
      else handlers.get(e.event_type).orElse(anyFn)
    handler match {
      case None => (s, sh)
      case Some(f) =>
        val arr = JsArr(scala.collection.mutable.ArrayBuffer(s, sh))
        currentEvent = e
        val part = if (needsPartitionField) partitionOf(e) else ""
        try invoke(f, Seq(arr, envelope(e, part))) match {
          case JsArr(items) if items.length >= 2 => (items(0), items(1))
          case JsUndef => (arr.items(0), arr.items(1))
          case v => (v, arr.items(1))
        } finally currentEvent = null
    }
  }

  /** $created (fires before the first event's own handler). */
  def created(state: JsVal, e: LogEvent): JsVal = createdFn match {
    case None => state
    case Some(f) =>
      val part = if (needsPartitionField) partitionOf(e) else ""
      invoke(f, Seq(state, envelope(e, part))) match {
        case JsUndef => state
        case v => v
      }
  }

  /** AST probe over the registered handler functions: can any of them
    * observe the envelope's metadata surface? The envelope is parameter 1
    * of event handlers ((state, event)) and parameter 0 of partitionBy.
    * $init/$initShared/transformBy/filterBy never see an envelope. */
  def needsEnvelopeMeta: Boolean = probeEnvelope(JsMetaProbe.observes)

  private def probeEnvelope(p: (String, Seq[Stmt]) => Boolean): Boolean = {
    def eventHandler(v: JsVal): Boolean = v match {
      case JsFunc(params, body, _) if params.length > 1 => p(params(1), body)
      case _ => false
    }
    (handlers.valuesIterator ++ anyFn.iterator ++ createdFn.iterator ++
      deletedFn.iterator).exists(eventHandler) ||
      partitionFn.exists {
        case JsFunc(params, body, _) if params.nonEmpty => p(params.head, body)
        case _ => false
      }
  }

  /** Compile-time envelope shaping (per projection, decided once; the
    * probes err only in the widening direction): the set of envelope
    * fields some handler can observe, or None when the envelope escapes
    * whole (passed/returned/for-in/computed key) — then every field is
    * built. Typical folds touch 2–4 of the 16 fields; building only those
    * cuts the per-event map-construction cost, and when none of
    * body/data/isJson is observed the per-event JSON parse of `data` is
    * skipped entirely — the batch analog of the reference's LAZY body
    * parse (JintProjectionStateHandler.cs:868-880). `needsPartitionField`
    * additionally gates step()'s re-derivation of the partition key (a
    * second envelope + JS call for partitionBy projections). */
  private lazy val envelopeFields: Option[Set[String]] =
    if (probeEnvelope(JsMetaProbe.observesAny(_, _, Set.empty))) None
    else Some(CompiledJsProjection.envelopeFieldNames.filter(p =>
      probeEnvelope(JsMetaProbe.observesAny(_, _, Set(p)))).toSet)
  private lazy val needsBody: Boolean = envelopeFields match {
    case None => true
    case Some(fs) => fs.exists(JsMetaProbe.bodyProps)
  }
  private lazy val needsPartitionField: Boolean =
    envelopeFields.forall(_.contains("partition"))

  /** transformBy/filterBy chain over a final state; None = filtered out. */
  def applyTransforms(state: JsVal): Option[JsVal] =
    transforms.foldLeft(Option(state)) {
      case (None, _) => None
      case (Some(s), ("filter", f)) =>
        if (JsVal.bool(invoke(f, Seq(s)))) Some(s) else None
      case (Some(s), (_, f)) =>
        invoke(f, Seq(s)) match {
          case JsUndef => Some(s)
          case v => Some(v)
        }
    }

  /** The JS event envelope (JintProjectionStateHandler.cs:827-838).
    * metadataRaw/linkMetadataRaw surface the event's own metadata and —
    * when reading through a resolved `$>` link — the link event's metadata
    * (ResolvedEvent.PositionMetadata); `metadata`/`linkMetadata` are their
    * parsed forms, like the reference envelope's lazy JSON properties.
    * Parsing only happens for events that carry metadata, so the common
    * null-metadata path costs nothing. */
  private def envelope(e: LogEvent, partition: String): JsObj = {
    // per-projection compile-time shaping: only fields some handler can
    // observe are built (None = envelope escapes → all, canonical order)
    val want = envelopeFields
    @inline def has(f: String): Boolean = want match {
      case None => true
      case Some(fs) => fs.contains(f)
    }
    val body: JsVal =
      if (!needsBody || e.data == null) JsUndef
      else try JsVal.parseJson(e.data) catch { case _: JsError => JsUndef }
    def parsed(raw: String): JsVal =
      if (raw == null) JsUndef
      else try JsVal.parseJson(raw) catch { case _: JsError => JsUndef }
    // resolved-link reads: the envelope shows the TARGET event's identity
    // (ResolvedEvent semantics) while partitioning/filtering upstream used
    // the link's stream
    val m = scala.collection.mutable.LinkedHashMap.empty[String, JsVal]
    if (has("streamId")) m("streamId") = JsStr(
      if (e.resolved_stream_id != null) e.resolved_stream_id else e.stream_id)
    if (has("sequenceNumber")) m("sequenceNumber") = JsNum(
      (if (e.resolved_stream_id != null) e.resolved_event_number
       else e.event_number).toDouble)
    if (has("eventType")) m("eventType") = JsStr(e.event_type)
    if (has("eventId")) m("eventId") =
      (if (e.event_id == null) JsNull else JsStr(e.event_id))
    if (has("body")) m("body") = body
    if (has("data")) m("data") = body
    if (has("bodyRaw")) m("bodyRaw") =
      (if (e.data == null) JsNull else JsStr(e.data))
    if (has("metadataRaw")) m("metadataRaw") =
      (if (e.metadata == null) JsNull else JsStr(e.metadata))
    if (has("metadata")) m("metadata") = parsed(e.metadata)
    if (has("linkMetadataRaw")) m("linkMetadataRaw") =
      (if (e.link_metadata == null) JsNull else JsStr(e.link_metadata))
    if (has("linkMetadata")) m("linkMetadata") = parsed(e.link_metadata)
    if (has("isJson")) m("isJson") = JsBool(body != JsUndef)
    if (has("category")) m("category") =
      (if (e.stream_id.contains("-"))
        JsStr(e.stream_id.substring(0, e.stream_id.indexOf("-"))) else JsNull)
    if (has("partition")) m("partition") = JsStr(partition)
    // engine extensions (documented in the class doc)
    if (has("logPosition")) m("logPosition") = JsNum(e.log_position.toDouble)
    if (has("value")) m("value") = JsNum(e.value)
    // epoch milliseconds, the natural `new Date(e.timestamp)` feed for
    // time-bucketing handlers (JsDateOps)
    if (has("timestamp")) m("timestamp") =
      (if (e.timestamp == null) JsNull else JsNum(e.timestamp.getTime.toDouble))
    JsObj(m)
  }
}

object CompiledJsProjection {
  /** Every field `envelope()` can expose, in canonical order (used by the
    * per-projection observed-fields probe). */
  private[js] val envelopeFieldNames: Seq[String] = Seq(
    "streamId", "sequenceNumber", "eventType", "eventId", "body", "data",
    "bodyRaw", "metadataRaw", "metadata", "linkMetadataRaw", "linkMetadata",
    "isJson", "category", "partition", "logPosition", "value", "timestamp")

  /** The reference's `_availableProperties`
    * (JintProjectionStateHandler.cs:460-473); `fromCategories` follows
    * `fromStreams` (no foreachStream over an explicit list), `options` is
    * a definition-level function outside the chain grammar. */
  private[js] val grammar: Map[String, Set[String]] = Map(
    "fromStream" -> Set("when", "partitionBy", "outputState"),
    "fromAll" -> Set("when", "partitionBy", "outputState", "foreachStream"),
    "fromStreams" -> Set("when", "partitionBy", "outputState"),
    "fromCategory" -> Set("when", "partitionBy", "outputState", "foreachStream"),
    "fromCategories" -> Set("when", "partitionBy", "outputState"),
    "fromStreamsMatching" -> Set("when", "partitionBy", "outputState", "foreachStream"),
    "when" -> Set("transformBy", "filterBy", "outputState", "outputTo",
      "$defines_state_transform"),
    "$defines_state_transform" -> Set.empty,
    "foreachStream" -> Set("when"),
    "outputState" -> Set("transformBy", "filterBy", "outputTo"),
    "partitionBy" -> Set("when"),
    "transformBy" -> Set("transformBy", "filterBy", "outputState", "outputTo"),
    "filterBy" -> Set("transformBy", "filterBy", "outputState", "outputTo"),
    "outputTo" -> Set.empty)

  // One compiled instance per (thread, source): interpreter state is
  // mutable, so instances must not cross task threads. Compilation is a
  // sub-millisecond parse+eval of a <10 KB string — negligible per task.
  private val tl: ThreadLocal[mutable.HashMap[String, CompiledJsProjection]] =
    ThreadLocal.withInitial(() => mutable.HashMap.empty[String, CompiledJsProjection])

  def get(source: String): CompiledJsProjection =
    tl.get().getOrElseUpdate(source, new CompiledJsProjection(source))
}
