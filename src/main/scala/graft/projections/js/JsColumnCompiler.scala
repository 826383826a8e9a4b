package graft.projections.js

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType, TimestampType}
import graft.functions.JsNumberString

/** Compiles the EXPRESSIBLE subset of JS projection definitions straight
  * to Catalyst Columns — `states()` becomes a plain
  * `filter → withColumn(key) → groupBy(key).agg(sum…) → concat(json)`
  * plan with NO interpreter anywhere: whole-stage codegen'd, map-side
  * partial aggregation, shuffle on the partition key only. The
  * interpreter path folds events one at a time per partition key through
  * a tree-walking evaluator; for handlers that are sums of pure
  * per-event expressions that serial pump is pure overhead (measured
  * 3–6× vs the equivalent Scala fold at sf0.1).
  *
  * Compilable shape (anything outside returns None → the interpreter
  * path runs, so results NEVER silently change):
  *  - selector: any (fromStream/fromStreams/fromCategory/fromCategories/
  *    fromAll), with foreachStream/partitionBy/single partitioning;
  *  - `$init` returning an object literal of constants (evaluated once
  *    through the real interpreter — any deterministic expression works);
  *  - handlers whose bodies are a prefix of `var` locals followed by
  *    `s.field += expr` / `s.field -= expr` statements, optionally inside
  *    (nested) `if`/`else`, ending in `return s` (or no return — state is
  *    mutated in place either way); every assigned field must exist in
  *    `$init` with an integral number value (a `+=` onto a missing field
  *    is NaN in JS — not a sum);
  *  - every delta expression must be PROVABLY integer-valued (counts,
  *    `Math.round/floor`, date fields, integral constants): integral
  *    doubles sum exactly and associatively as longs, so a distributed
  *    partial aggregate is bit-equal to the interpreter's ordered fold.
  *    Non-integral deltas (e.g. `s.x += e.value`) stay on the
  *    interpreter, whose in-order IEEE accumulation is order-sensitive
  *    and cannot be reproduced by a commutative aggregate;
  *  - partitionBy functions returning any expressible string/number/
  *    null-producing expression (JS null/undefined skip the event).
  *
  * Exactness contract, enforced type-by-type below: every compiled
  * Column matches `JsInterp` on EVERY input value, not just the test
  * corpus — dynamic JSON values ride Spark VARIANT with per-row type
  * dispatch (string vs number vs bool vs null vs undefined), number
  * formatting goes through [[JsNumberString]] (the exact
  * `JsVal.numToStr` ES algorithm), NaN comparison semantics are guarded
  * (Spark orders NaN, JS comparisons are false), JS `x/0 → ±Infinity`
  * is rebuilt under ANSI mode, and `Date` period getters are integer
  * arithmetic on epoch ms (timezone-free, exact at any magnitude).
  * Documented divergences, all loud or astronomically out of range:
  * a final state field reaching |2^53| raises instead of losing
  * precision (the interpreter's double would drift silently); a
  * NaN/Infinity delta raises (ANSI long cast) where the interpreter
  * poisons the sum to NaN; dividing by NEGATIVE zero yields +sign
  * Infinity (Catalyst cannot see the zero's sign); string positions
  * (`slice`/`indexOf`) compile only for provably-ASCII receivers
  * (JS counts UTF-16 units, SQL counts codepoints).
  *
  * Scale shape: one hash shuffle on the partition key (same keying as
  * the interpreter path, minus its sort), partial aggregation map-side,
  * `try_parse_json` only when a handler actually reads `e.body`. At
  * 100 TB this is the plan a hand-written Scala aggregation would get.
  *
  * Reference: the subset mirrors what Jint-era handler corpora actually
  * do (JintProjectionStateHandler.cs:55-75 — count/sum folds over
  * envelope fields and body properties, time bucketing, key routing). */
private[js] object JsColumnCompiler {

  /** Working name of the partition-key column inside the compiled plan. */
  private[js] val KeyCol = "__graft_js_k"
  /** Pre-state column suffixes for ARRAY (push-field) reads — one field
    * can carry BOTH a length window and a membership window. The
    * \u0001 separator keeps a sibling field literally named `f + "len"`
    * from aliasing the column (the [[PathSep]] encoding trick). */
  private[js] val ArrLenSfx = "\u0001len"
  private[js] val ArrHasSfx = "\u0001has"
  /** Prefix of the per-field PRE-EVENT state columns (running sum over
    * the fold-order-preceding rows of the partition) that compiled
    * state reads resolve to; the build adds one per read field. */
  private[js] val PreColPrefix = "__graft_jspre_"
  /** Suffix of the per-field POST-EVENT state columns: the value the
    * field holds AFTER this event's same-handler mutations — an
    * INCLUSIVE window (unboundedPreceding..currentRow) over the same
    * routed per-event contributions the pre window aggregates
    * exclusively. Resolved by state reads that occur after a
    * same-handler mutation of the field (the running-aggregate-
    * notification emit idiom: `s.total += x; emit(..., s.total)`),
    * valid only when NO later statement mutates the field again. Shares
    * [[PreColPrefix]] so the let-taint machinery covers both channels;
    * the \u0001 separator keeps a field literally named `f + "post"`
    * from aliasing (the [[ArrLenSfx]] trick). */
  private[js] val PostSfx = "\u0001post"
  /** 2^53 — beyond it integral doubles lose exactness; the compiled
    * render raises rather than silently diverging from ES. */
  private val MaxExact = 9007199254740992L
  /** ES TimeClip bound: |time value| <= 8.64e15 ms. */
  private val MaxTime = 8.64e15
  /** Epoch-ms range rendering as 4-digit years 1..9999 (what
    * date_format/timestamp_millis can format identically to
    * JsDateOps.toIso — outside it toIso switches to ±expanded years). */
  private val FmtMinMs = -62135596800000L
  private val FmtMaxMs = 253402300799999L

  /** A compiled states() plan. `requiredCols` must exist on the input
    * (the optional meta/resolved columns are defaulted by `build`, like
    * Projections.toLogEvents does); `usesTimestamp` additionally demands
    * a TimestampType `timestamp` column. */
  final case class Plan(
      requiredCols: Set[String],
      usesTimestamp: Boolean,
      /** The definition's source-selector predicate. NOT applied by
        * `build`: every batch and streaming path filters with it before
        * the build, mirroring the Scala DSL's sourceFilter. */
      selector: Column,
      build: DataFrame => DataFrame,
      /** True when the build adds pre-state running-sum WINDOW columns
        * (compiled `if (s.count === 0)`-style reads): windows neither
        * run on streaming DataFrames nor see prior micro-batches'
        * state. Streaming serves such plans through [[stepSpec]] (the
        * typed per-key stepper) instead of the native aggregation. */
      usesPreState: Boolean = false,
      /** Streaming-native serving of pre-state plans: the per-field
        * recurrences the batch windows reconstruct, packaged for
        * [[JsStreamStepper]] to run as typed per-key running values in
        * flatMapGroupsWithState — same compiled Column expressions, no
        * interpreter, no window. Present iff usesPreState and the
        * definition has no transform chain. */
      stepSpec: Option[StepSpec] = None,
      /** STATEFUL emitted() compilation (r15): the emit/linkTo sites of
        * a compilable states() definition, selected over the same
        * per-row frame the states build constructs (lets + key + pre/
        * post window columns) — so emissions whose arguments or guards
        * read accumulated state (`s.total += x; emit(..., s.total)`)
        * run interpreter-free. Only on the STATES plan of a definition
        * with emit sites; [[compileEmitted]]'s window-free pure select
        * stays the fast path for state-free emissions. */
      emitVariant: Option[Plan] = None)

  /** Field update kinds, shared between the batch aggregation and the
    * streaming stepper (values are compileOnce's historical constants). */
  private[js] object StepKinds {
    val Sum = 0; val Max = 1; val Min = 2; val Last = 3; val Push = 4
    val MapSum = 5; val MapLast = 6; val Concat = 7; val Prepend = 8
    val GMax = 9; val GMin = 10
  }

  /** One assigned state field, as the streaming stepper folds it:
    * `inputs` are the batch aggregation's per-event CHILD expressions
    * (everything under the agg function), `preInputs` the pre-state
    * window's per-event inputs ([[preWindowInputs]] order) when the
    * field is read. All Columns may reference the pre columns, which the
    * stepper binds from its typed state before evaluating. */
  private[js] final case class StepField(
      name: String,
      kind: Int,
      inputs: Seq[Column],
      preInputs: Seq[Column],
      read: Boolean,
      initNum: Double,
      initIsNum: Boolean,
      initFrag: Option[String],
      /** Raw $init string of a string-initialized overwrite field (the
        * pre read's coalesce fallback). */
      initStr: String,
      arrLen: Boolean,
      arrHas: Boolean,
      /** MapLast fields: string-claimed raws (MapStrRetry) — selects the
        * `s` vs `d` branch of the pre read, like the window's getField. */
      mapStr: Boolean = false)

  /** Everything [[JsStreamStepper]] needs to run a pre-state definition
    * as a streaming-native stateful fold (driver-side recipe; the
    * stepper resolves and binds the Columns at query start). */
  private[js] final case class StepSpec(
      required: Set[String],
      keyCol: Column,
      keyNullable: Boolean,
      letsPre: Seq[(String, Column)],
      letsPost: Seq[(String, Column)],
      fields: Seq[StepField],
      raiseCol: Option[Column],
      aggCols: Seq[Column],
      mapKeyCols: Seq[(String, Column)],
      level2Cols: Seq[Column],
      render: Column,
      /** Emit-mode extensions (r15 stateful emitted() streaming): the
        * fields whose POST value (after this event's update) binds into
        * an ext slot before [[emitArr]] evaluates, the lets that read
        * those post slots (staged last), and the per-event emissions
        * array column — [[emitArrCol]]'s output, evaluated per row by
        * [[JsStreamStepper.streamEmits]] after the update applies. */
      postFields: Set[String] = Set.empty,
      letsPostTainted: Seq[(String, Column)] = Nil,
      emitArr: Option[Column] = None)

  // ------------------------------------------------- typed column model

  private sealed trait NullAs
  private case object NoNull extends NullAs
  private case object NullIsJsNull extends NullAs
  private case object NullIsUndef extends NullAs

  private sealed trait JTy
  /** Double column. `integral`: provably integer-valued wherever finite
    * (so the long cast at the aggregate is exact — NaN/Inf trip ANSI,
    * loudly). `boundedMs`: provably inside the formattable year range
    * when read as epoch ms (true for the envelope timestamp — the
    * adapter asserts years 1990–2100 at read, Tables.assertSaneTimestamps). */
  private final case class TNum(integral: Boolean, boundedMs: Boolean = false) extends JTy
  /** String column. `ascii`: provably ASCII-only (ISO timestamps,
    * number strings, ASCII literals) — required for positional ops. */
  private final case class TStr(ascii: Boolean) extends JTy
  /** Array-of-strings column (match/split results): elements may be SQL
    * NULL = JS undefined (unmatched capture groups). `ascii`: elements
    * provably ASCII; `digits`: elements provably digits-only-or-empty
    * (a digits-only regex pattern), so ToNumber of an element is
    * integer-valued wherever finite. */
  private final case class TStrArr(ascii: Boolean, digits: Boolean) extends JTy
  private case object TBool extends JTy
  private case object TNull extends JTy
  private case object TUndef extends JTy
  /** Long epoch-ms column; SQL NULL = Invalid Date (NaN time value). */
  private final case class TDate(bounded: Boolean) extends JTy
  /** Variant column; SQL NULL = undefined, variant-null = JS null. */
  private case object TDyn extends JTy
  /** A pre-rendered JSON.stringify fragment (overwrite fields crossing
    * into a transform-chain env); SQL NULL = absent key. Reading one in
    * an expression does not compile — only the state render consumes it. */
  private case object TFrag extends JTy

  /** `jsonSrc`: for TDyn values reachable by a member path from a raw
    * JSON text column (the body/metadata parse roots), the (text, path)
    * provenance — what lets JSON.stringify of the value render from the
    * TEXT ([[graft.functions.JsJsonPath]]) with exact key order, which
    * the variant encoding loses (it sorts object keys).
    *
    * `err`: the CATCHABLE-error channel. When defined, a string column
    * whose non-NULL value is the message of the handler-level error JS
    * would throw evaluating this expression (member access on
    * null/undefined, Invalid-Date toISOString); the value column is then
    * raise-free garbage on those rows. Consumers either [[seal]] (embed
    * `raise_error` — the interpreter's uncaught-fault parity) or, inside
    * a compiled `try`, route the condition to the catch clause. The err
    * column itself never raises, so evaluating it eagerly is safe; its
    * WHEN-structure mirrors the expression's lazy evaluation order. */
  private final case class TC(col: Column, ty: JTy, nullAs: NullAs,
      jsonSrc: Option[(Column, List[String])] = None,
      err: Option[Column] = None,
      /** For TStr values: provably digits-only-or-empty (an element of a
        * digits-only match), so ToNumber is integral wherever finite —
        * what lets `s.n += Number(m[0])` join the long-sum fold. */
      intStr: Boolean = false,
      /** For TDyn values: the MEMOIZED `schema_of_variant` column. The
        * type-dispatch consumers (truthy/ToNumber/ToString/key/equality)
        * each read the schema several times and the guard/err plumbing
        * re-embeds their CaseWhen chains — without interning, a
        * partition-key read of `e.body.k` evaluated the RECURSIVE
        * whole-object schema build ~24× per row (measured 3.6 s vs
        * 0.4 s at 10× sf0.1 on js_partition_by). */
      dynSchema: Option[Column] = None)

  /** The variant schema of a TDyn value — the interned let-column when
    * the TC carries one, else computed in place. */
  private def dynT(tc: TC): Column =
    tc.dynSchema.getOrElse(graft.functions.JsVariantKind(tc.col))

  /** A TDyn TC whose value AND variant schema are let-bound — every
    * creation site with a Ctx routes here so consumers share one parse
    * and one schema build per row. */
  private def dynTC(ctx: Ctx, v: Column,
      jsonSrc: Option[(Column, List[String])] = None,
      err: Option[Column] = None): TC = {
    val bound = memo(ctx, v)
    TC(bound, TDyn, NoNull, jsonSrc = jsonSrc, err = err,
      dynSchema = Some(memo(ctx, graft.functions.JsVariantKind(bound))))
  }

  /** First-error-wins union of error channels, in evaluation order. */
  private def errJoin(es: Option[Column]*): Option[Column] = {
    val defined = es.flatten.toSeq
    if (defined.isEmpty) None
    else if (defined.sizeIs == 1) Some(defined.head)
    else Some(coalesce(defined: _*))
  }

  /** Error channel of a value evaluated only under `c` (true branch) /
    * `!c` (false branch) — the lazy-structure merge for ternaries and
    * short-circuit operators. */
  private def errWhen(c: Column, a: Option[Column], b: Option[Column]): Option[Column] =
    if (a.isEmpty && b.isEmpty) None
    else Some(when(c, a.map(x => x: Column).getOrElse(nullStr))
      .otherwise(b.getOrElse(nullStr)))

  /** Embed the error channel back into the value column as a loud
    * `raise_error` — the non-`try` consumption boundary (an uncaught JS
    * handler error faults the projection in the interpreter; the
    * compiled plan fails the query with the same message). */
  private def sealCol(tc: TC): Column = tc.err match {
    case None => tc.col
    case Some(e) =>
      val raised: Column = tc.ty match {
        case TNum(_, _) => raise_error(e).cast(DoubleType)
        case TBool => raise_error(e).cast(BooleanType)
        case TDate(_) => raise_error(e).cast(LongType)
        case TDyn => parse_json(raise_error(e).cast(StringType))
        case TStrArr(_, _) => raise_error(e).cast("array<string>")
        case _ => raise_error(e).cast(StringType)
      }
      when(e.isNotNull, raised).otherwise(tc.col)
  }
  private def seal(tc: TC): TC =
    if (tc.err.isEmpty) tc else tc.copy(col = sealCol(tc), err = None)
  /** Seal a derived column (a fragment/key/condition computed FROM a
    * TC's value) against that TC's error channel. */
  private def sealDerived(c: Column, err: Option[Column], asType: org.apache.spark.sql.types.DataType = StringType): Column =
    err match {
      case None => c
      case Some(e) => when(e.isNotNull, raise_error(e).cast(asType)).otherwise(c)
    }

  private def nullStr: Column = lit(null).cast(StringType)
  private def tNull: TC = TC(nullStr, TNull, NullIsJsNull)
  private def tUndef: TC = TC(nullStr, TUndef, NullIsUndef)
  private def numLitTC(d: Double): TC = TC(lit(d), TNum(
    integral = !d.isNaN && !d.isInfinite && d == math.rint(d),
    boundedMs = !d.isNaN && !d.isInfinite && d == math.rint(d) &&
      d >= FmtMinMs && d <= FmtMaxMs), NoNull)
  private def strLitTC(s: String): TC = TC(lit(s), TStr(s.forall(_ < 128)), NoNull)

  /** Compilation context: the compiled definition (for `$init`/globals),
    * the envelope column the `partition` field resolves to in this
    * position, the accumulating set of input columns referenced, and —
    * for transformBy/filterBy compilation — the post-aggregation state
    * field environment the state parameter's member reads resolve to. */
  private final class Ctx(
      val cp: CompiledJsProjection,
      val partitionCol: Column,
      val refs: mutable.Set[String],
      val envParam: Option[String],
      val stateParam: Option[String],
      val stateEnv: Map[String, TC] = null,
      val lets: mutable.LinkedHashMap[String, Column] =
        mutable.LinkedHashMap.empty,
      /** Non-null ONLY while compiling states()-fold handlers: fields the
        * handler READS from pre-event state (`if (s.count === 0) …`),
        * compiled to running-sum window columns the build adds. null
        * everywhere else (transform chains resolve state via stateEnv;
        * the emitted() compile must stay state-free). */
      val foldStateReads: mutable.Set[String] = null,
      /** Top-level `$init` fields, for typing fold pre-state reads at
        * the read site (the field's KIND is only known post-walk, so the
        * read claims the $init value's type and compile() verifies the
        * claim against the actual kind — exact-or-fallback). Empty
        * outside states()-fold compilation. */
      val initFields: Map[String, JsVal] = Map.empty,
      /** Fields whose pre-state reads must claim integral=false even
        * under an integral $init — set by compile()'s retry pass when
        * the first walk's claim turned out unsupported by the field's
        * actual contributions (e.g. `peak: 0` updated with fractional
        * values). */
      val preReadNonIntegral: Set[String] = Set.empty,
      /** Map fields whose dynamic-key pre-state reads claim STRING —
        * set by the MapStrRetry pass when every site of the overwrite
        * map carries a string raw. */
      val preReadMapStr: Set[String] = Set.empty,
      /** Non-null alongside foldStateReads: accumulates fields read via
        * the POST-state channel (a scalar read AFTER a same-handler
        * mutation — the emit-running-total idiom), compiled to INCLUSIVE
        * window columns. null disables the channel (such reads refuse,
        * the pre-r15 behavior). */
      val statePostReads: mutable.Set[String] = null) {
    /** Fields a statement already mutated EARLIER in this handler walk:
      * a pre-state read compiled after a same-handler mutation of the
      * same field resolves through the POST channel instead (value
      * after ALL of this handler's mutations — valid only if no LATER
      * statement mutates the field again; the addX helpers enforce that
      * by refusing a mutation of any field in [[foldPostReads]]).
      * Statement order is exactly walk order (conditions compile before
      * bodies, so `if (s.count === 0) { s.count += 1 }` reads legally). */
    val foldMutated: mutable.Set[String] = mutable.Set.empty
    /** Fields THIS handler read through the post channel (see
      * [[statePostReads]]); a later mutation of one refuses. */
    val foldPostReads: mutable.Set[String] = mutable.Set.empty
    /** Dynamic-key MAP pre-state reads compiled in THIS handler:
      * field → (the read's key Expr, its unguarded ES-ToString column).
      * The window that reconstructs `s.f[K]` partitions by ONE per-row
      * key, so every read of f in a handler — and that handler's write
      * site, if any — must use a STRUCTURALLY identical key expression
      * (the canonical read-then-update guard idiom); a second key shape
      * refuses. Per-handler by construction (one Ctx per handler). */
    val foldMapReads: mutable.Map[String, (Expr, Column)] = mutable.Map.empty
    /** ARRAY (push-field) pre-state MEMBERSHIP reads compiled in THIS
      * handler: field → (the probe Expr, its raw string column). The
      * membership window partitions by ONE per-row value column, so
      * every membership read of f in a handler — and the handler's push
      * site elements, if any — must use a STRUCTURALLY identical value
      * expression (the foldMapReads one-key rule); a second probe shape
      * refuses. */
    val foldArrHas: mutable.Map[String, (Expr, Column)] = mutable.Map.empty
    /** ARRAY pre-state LENGTH reads compiled in THIS handler. */
    val foldArrLen: mutable.Set[String] = mutable.Set.empty
    /** Set while compiling the body of a `try` — expression forms whose
      * runtime errors CANNOT ride the err channel (regex budget guards
      * throw from inside codegen'd statics, uncatchably) must refuse to
      * compile there, or a JS-catchable error would become a task
      * failure. */
    var inTry: Boolean = false
  }

  private def in(c: Ctx, name: String): Column = { c.refs += name; col(name) }

  /** Let-bind an expensive NON-THROWING row expression (the JSON parse
    * roots) as a named intermediate column the plan computes once per
    * row. The compiled key/delta expressions reference a JSON document
    * many times (type dispatch + value extraction + null guards), and
    * Catalyst's subexpression elimination does not reach inside CaseWhen
    * branches — without this, `try_parse_json` ran per REFERENCE
    * (measured 3.6× on js_partition_by). CollapseProject keeps the
    * two-project split because the bound column is non-cheap and
    * multiply-referenced. Throwing expressions must NOT be bound here
    * (hoisting would defeat the lazy-guard semantics). */
  private def memo(ctx: Ctx, c: Column): Column = {
    val key = memoKey(c)
    if (!ctx.lets.contains(key)) ctx.lets(key) = c
    col(s"__graft_let_${ctx.lets.keysIterator.indexOf(key)}")
  }

  /** Collision-proof intern key: the canonicalized underlying Expression
    * tree. `Column.toString` is NOT usable — every Bridge-wrapped custom
    * expression prints `…(columnnodeexpression())` regardless of its
    * children, so distinct kind-columns interned to the same let (the r7
    * regression: every body-member type tag resolved to the first kind
    * bound — the whole-body "OBJECT" — and member dispatch fell through
    * to NULL, silently dropping all rows). The canonicalized tree prints
    * its full children; hashCode is appended as a structural tiebreak.
    * A FALSE key mismatch for equal trees would only add a redundant
    * let (correctness-neutral); a false match is what must not happen. */
  private def memoKey(c: Column): String = {
    val e = org.apache.spark.sql.graftbridge.Bridge.expression(c).canonicalized
    s"$e#${e.hashCode}"
  }

  /** The bound lets, in definition order, as (name, expr). */
  private def letBindings(lets: mutable.LinkedHashMap[String, Column]): Seq[(String, Column)] =
    lets.values.toSeq.zipWithIndex.map { case (c, i) => s"__graft_let_$i" -> c }

  /** Whether a column may be evaluated EAGERLY (outside its lazy guard
    * structure) with identical behavior: no embedded `raise_error` (the
    * documented loud-divergence raises must stay behind their guards)
    * and no regex expression (whose backtracking budget guard throws
    * from the codegen'd static — eager evaluation could trip it on rows
    * whose guards JS would have short-circuited). */
  private def eagerSafe(c: Column): Boolean =
    !org.apache.spark.sql.graftbridge.Bridge.expression(c).exists {
      case _: org.apache.spark.sql.catalyst.expressions.RaiseError => true
      case _: JsRegexTest | _: JsRegexMatch | _: JsRegexReplace |
          _: JsRegexSplit | _: JsRegexSearch => true
      case _ => false
    }

  /** Intern a large eager-safe column as a let — conditions, guards and
    * error channels are referenced several times by the seal/guard
    * plumbing, and without interning the repeated CaseWhen chains
    * dominated per-row cost (measured 5.6× vs the hand-written twin on
    * a partitionBy key read). Small columns stay inline. */
  private def intern(ctx: Ctx, c: Column): Column =
    if (eagerSafe(c) && memoKey(c).length > 80) memo(ctx, c) else c

  // --------------------------------------------------------- conversions

  /** JS ToNumber as a non-null double column (NaN encodes itself). */
  private def numOf(tc: TC): Option[Column] = tc.ty match {
    case TNum(_, _) => Some(tc.nullAs match {
      case NoNull => tc.col
      case NullIsJsNull => when(tc.col.isNull, lit(0.0)).otherwise(tc.col)
      case NullIsUndef => when(tc.col.isNull, lit(Double.NaN)).otherwise(tc.col)
    })
    case TBool =>
      val b = when(tc.col, lit(1.0)).otherwise(lit(0.0))
      Some(tc.nullAs match {
        case NoNull => b
        case NullIsJsNull => when(tc.col.isNull, lit(0.0)).otherwise(b)
        case NullIsUndef => when(tc.col.isNull, lit(Double.NaN)).otherwise(b)
      })
    case TNull => Some(lit(0.0))
    case TUndef => Some(lit(Double.NaN))
    case TDate(_) =>
      Some(when(tc.col.isNull, lit(Double.NaN)).otherwise(tc.col.cast(DoubleType)))
    case TStr(_) =>
      // exact ES ToNumber via the interpreter's own strToNum
      // ([[graft.functions.JsStringNumber]]); "abc" → NaN is a value
      val p = graft.functions.JsStringNumber(tc.col)
      Some(tc.nullAs match {
        case NoNull => p
        case NullIsJsNull => when(tc.col.isNull, lit(0.0)).otherwise(p)
        case NullIsUndef => when(tc.col.isNull, lit(Double.NaN)).otherwise(p)
      })
    case TDyn =>
      // ToNumber dispatches on the RUNTIME type: numbers pass through,
      // strings take the exact strToNum parse, true/false → 1/0, null →
      // 0, undefined → NaN, objects → NaN ("[object Object]" never
      // parses). An ARRAY's ToPrimitive is the recursive comma join —
      // exact from the TEXT when provenance is known ([1] == 1 in ES!);
      // without provenance those rows raise loudly instead of diverging
      // (same policy as strOf).
      val v = tc.col
      val t = dynT(tc)
      val arrCase: Column = tc.jsonSrc match {
        case Some((txt, ss)) =>
          graft.functions.JsStringNumber(graft.functions.JsPathToString(txt, ss))
        case None =>
          raise_error(lit("js column compile: ToNumber of a JSON array " +
            "value — disable spark.graft.js.columnCompile for this " +
            "definition")).cast(DoubleType)
      }
      Some(when(v.isNull, lit(Double.NaN))
        .when(is_variant_null(v), lit(0.0))
        .when(t === "BIGINT" || t === "DOUBLE" || t.startsWith("DECIMAL"),
          try_variant_get(v, "$", "double"))
        .when(t === "STRING",
          graft.functions.JsStringNumber(try_variant_get(v, "$", "string")))
        .when(t === "BOOLEAN",
          when(try_variant_get(v, "$", "boolean"), lit(1.0)).otherwise(lit(0.0)))
        .when(t.startsWith("OBJECT"), lit(Double.NaN))
        .otherwise(arrCase))
    case _ => None // fragments stay render-only
  }

  /** Whether `numOf` of this value is provably integer-valued. */
  private def integralClaim(tc: TC): Boolean = tc.ty match {
    case TNum(i, _) => i
    case TBool | TNull | TUndef => true // 0/1/0/NaN (NaN trips the cast, loudly)
    case TDate(_) => true
    case _: TStr => tc.intStr // digits-only match elements parse integral
    case _ => false
  }

  private def boundedMsClaim(tc: TC): Boolean = tc.ty match {
    case TNum(_, b) => b
    case TNull => true // ToNumber(null) = 0, comfortably in range
    case _ => false
  }

  /** JS ToBoolean as a non-null boolean column. */
  private def truthyOf(tc: TC): Option[Column] = tc.ty match {
    case TNum(_, _) =>
      val t = !isnan(tc.col) && tc.col =!= lit(0.0)
      Some(if (tc.nullAs == NoNull) t else when(tc.col.isNull, lit(false)).otherwise(t))
    case TStr(_) =>
      val t = length(tc.col) > 0
      Some(if (tc.nullAs == NoNull) t else when(tc.col.isNull, lit(false)).otherwise(t))
    case TBool =>
      Some(if (tc.nullAs == NoNull) tc.col
      else when(tc.col.isNull, lit(false)).otherwise(tc.col))
    case TNull | TUndef => Some(lit(false))
    case TDate(_) => Some(lit(true)) // Date objects are truthy, even invalid ones
    case TStrArr(_, _) => // arrays are objects: truthy even when empty
      Some(if (tc.nullAs == NoNull) lit(true) else tc.col.isNotNull)
    case TFrag => None // render-only; reads refuse upstream
    case TDyn =>
      val v = tc.col
      val t = dynT(tc)
      Some(when(v.isNull || is_variant_null(v), lit(false))
        .when(t === "STRING", length(try_variant_get(v, "$", "string")) > 0)
        .when(t === "BOOLEAN", try_variant_get(v, "$", "boolean"))
        .when(t === "BIGINT" || t === "DOUBLE" || t.startsWith("DECIMAL"),
          try_variant_get(v, "$", "double") =!= lit(0.0))
        .otherwise(lit(true))) // objects and arrays
  }

  /** JS ToString for concatenation (exact for every supported type). */
  private def strOf(tc: TC): Option[(Column, Boolean)] = tc.ty match {
    case TStr(a) => Some(tc.nullAs match {
      case NoNull => (tc.col, a)
      case NullIsJsNull => (when(tc.col.isNull, lit("null")).otherwise(tc.col), a)
      case NullIsUndef => (when(tc.col.isNull, lit("undefined")).otherwise(tc.col), a)
    })
    case TNum(_, _) =>
      val s = JsNumberString(tc.col) // numToStr output is always ASCII
      Some(tc.nullAs match {
        case NoNull => (s, true)
        case NullIsJsNull => (when(tc.col.isNull, lit("null")).otherwise(s), true)
        case NullIsUndef => (when(tc.col.isNull, lit("undefined")).otherwise(s), true)
      })
    case TBool =>
      val s = when(tc.col, lit("true")).otherwise(lit("false"))
      Some(tc.nullAs match {
        case NoNull => (s, true)
        case NullIsJsNull => (when(tc.col.isNull, lit("null")).otherwise(s), true)
        case NullIsUndef => (when(tc.col.isNull, lit("undefined")).otherwise(s), true)
      })
    case TNull => Some((lit("null"), true))
    case TUndef => Some((lit("undefined"), true))
    case TDate(true) =>
      Some((when(tc.col.isNull, lit("Invalid Date")).otherwise(isoOf(tc.col)), true))
    case TDyn =>
      // dispatch on the MEMOIZED variant for every scalar (one JSON
      // parse per row, shared with key/delta reads); only an ARRAY's ES
      // ToString — the recursive comma join, which variant dispatch
      // cannot express — walks the raw TEXT (JsPathToString re-parses),
      // and without text provenance those rows raise loudly instead of
      // diverging. Measured: the old render-everything-from-text form
      // made a compiled linkTo 2.4× SLOWER than the interpreter at 10×
      // volume (two full parses per row).
      val v = tc.col
      val t = dynT(tc)
      val arrCase: Column = tc.jsonSrc match {
        case Some((txt, ss)) => graft.functions.JsPathToString(txt, ss)
        case None =>
          raise_error(lit("js column compile: ToString of a JSON " +
            "array value — disable spark.graft.js.columnCompile for this " +
            "definition")).cast(StringType)
      }
      Some((when(v.isNull, lit("undefined"))
        .when(is_variant_null(v), lit("null"))
        .when(t === "STRING", try_variant_get(v, "$", "string"))
        .when(t === "BIGINT" || t === "DOUBLE" || t.startsWith("DECIMAL"),
          JsNumberString(try_variant_get(v, "$", "double")))
        .when(t === "BOOLEAN",
          when(try_variant_get(v, "$", "boolean"), lit("true")).otherwise(lit("false")))
        .when(t.startsWith("OBJECT"), lit("[object Object]"))
        .otherwise(arrCase), false))
    case _ => None
  }

  /** JSON.stringify fragment of a value, as a string column where SQL
    * NULL means JS undefined (the enclosing stringify skips the key).
    * Numbers render via [[JsNumberString]] (NaN/±Infinity → null, like
    * writeJson); strings escape via [[graft.functions.JsJsonString]];
    * dates via toJSON (ISO string; Invalid Date → null). Dynamics stay
    * interpreted: an exact recursive render of nested JSON isn't
    * expressible without another codegen expression. */
  private def fragOf(tc: TC): Option[Column] = {
    def withNull(body: Column): Column = tc.nullAs match {
      case NoNull => body
      case NullIsJsNull => when(tc.col.isNull, lit("null")).otherwise(body)
      case NullIsUndef => when(tc.col.isNull, nullStr).otherwise(body)
    }
    tc.ty match {
      case TNum(_, _) => Some(withNull(
        when(isnan(tc.col) || abs(tc.col) === lit(Double.PositiveInfinity),
          lit("null")).otherwise(JsNumberString(tc.col))))
      case TStr(_) => Some(withNull(graft.functions.JsJsonString(tc.col)))
      case TBool => Some(withNull(
        when(tc.col, lit("true")).otherwise(lit("false"))))
      case TNull => Some(lit("null"))
      case TUndef => Some(nullStr)
      case TDate(true) => // SQL NULL = Invalid Date; toJSON → JSON null
        Some(when(tc.col.isNull, lit("null"))
          .otherwise(concat(lit("\""), isoOf(tc.col), lit("\""))))
      // dynamic scalars stringify from the MEMOIZED variant (no second
      // parse); only objects and arrays need the raw TEXT — exact key
      // order and ES number re-rendering ([[graft.functions.JsJsonPath]];
      // the variant encoding sorts keys and keeps decimal spellings). A
      // dynamic without provenance (merged branches) stays interpreted.
      case TDyn => tc.jsonSrc.map { case (txt, ss) =>
        val v = tc.col
        val t = dynT(tc)
        when(v.isNull, nullStr)
          .when(is_variant_null(v), lit("null"))
          .when(t === "STRING",
            graft.functions.JsJsonString(try_variant_get(v, "$", "string")))
          .when(t === "BIGINT" || t === "DOUBLE" || t.startsWith("DECIMAL"),
            JsNumberString(try_variant_get(v, "$", "double")))
          .when(t === "BOOLEAN",
            when(try_variant_get(v, "$", "boolean"), lit("true"))
              .otherwise(lit("false")))
          .otherwise(graft.functions.JsJsonPath(txt, ss))
      }
      case _ => None // Invalid-range dates, match arrays, fragments
    }
  }

  /** The partition-key conversion (JintProjectionStateHandler.cs:151-155
    * via CompiledJsProjection.partitionKey): numbers → numToStr, strings
    * verbatim, everything else (null/undefined/bool/object/date) → SQL
    * NULL = event skipped. */
  private def keyOf(tc: TC): Option[Column] = tc.ty match {
    case TStr(_) => Some(tc.col) // both null meanings skip — plain NULL is right
    case TNum(_, _) =>
      val s = JsNumberString(tc.col) // NaN → "NaN", a real key, like numToStr
      Some(if (tc.nullAs == NoNull) s else when(tc.col.isNull, nullStr).otherwise(s))
    case TBool | TNull | TUndef | TDate(_) => Some(nullStr)
    case TDyn =>
      val v = tc.col
      val t = dynT(tc)
      Some(when(v.isNull || is_variant_null(v), nullStr)
        .when(t === "STRING", try_variant_get(v, "$", "string"))
        .when(t === "BIGINT" || t === "DOUBLE" || t.startsWith("DECIMAL"),
          JsNumberString(try_variant_get(v, "$", "double")))
        .otherwise(nullStr))
    case _ => Some(nullStr) // arrays/objects are skipped, like other objects
  }

  private def isNullOrUndef(tc: TC): Column = tc.ty match {
    case TNull | TUndef => lit(true)
    case TDyn => tc.col.isNull || is_variant_null(tc.col)
    case TDate(_) => lit(false)
    case _ => if (tc.nullAs == NoNull) lit(false) else tc.col.isNull
  }

  private def isJsNull(tc: TC): Column = tc.ty match {
    case TNull => lit(true)
    case TDyn => is_variant_null(tc.col)
    case _ => if (tc.nullAs == NullIsJsNull) tc.col.isNull else lit(false)
  }

  private def isUndef(tc: TC): Column = tc.ty match {
    case TUndef => lit(true)
    case TDyn => tc.col.isNull
    case _ => if (tc.nullAs == NullIsUndef) tc.col.isNull else lit(false)
  }

  // ------------------------------------------------------------ date ops

  private def isoOf(ms: Column): Column =
    concat(date_format(timestamp_millis(ms), "yyyy-MM-dd'T'HH:mm:ss.SSS"), lit("Z"))

  /** Exact floor division of a long column by a positive constant. The
    * numerator after subtracting pmod is exactly divisible and, at ES
    * time-value magnitudes (≤8.64e15 over divisors ≥1000), the double
    * quotient is < 2^53 — exact. */
  private def floorDiv(a: Column, d: Long): Column =
    ((a - pmod(a, lit(d))) / lit(d)).cast(LongType)

  /** Period-based UTC getter: pure integer arithmetic on epoch ms —
    * timezone-free and exact at any clipped time value (JsDateOps.field
    * computes the same values through LocalDateTime). */
  private def periodField(ms: Column, div: Long, mod: Long): Column =
    pmod(floorDiv(ms, div) + (if (div == 86400000L) lit(4L) else lit(0L)),
      lit(mod))

  // -------------------------------------------------------- expressions

  private def compileExpr(e: Expr, ctx: Ctx, locals: Map[String, TC]): Option[TC] = e match {
    case NumLit(d) => Some(numLitTC(d))
    case StrLit(s) => Some(strLitTC(s))
    case BoolLit(b) => Some(TC(lit(b), TBool, NoNull))
    case NullLit => Some(tNull)
    case UndefLit => Some(tUndef)

    case Ident(n) =>
      locals.get(n).orElse {
        if (ctx.envParam.contains(n) || ctx.stateParam.contains(n)) None
        else ctx.cp.interp.globals.lookup(n).flatMap(constTC)
      }

    // ARRAY-state LENGTH pre-state read `s.xs.length` inside a states()-
    // fold handler (`if (s.xs.length >= 3) …`): the value the
    // interpreter's array holds as this event's handler starts is the
    // count of fold-order-PRECEDING executed pushed elements (push
    // fields start from [] — enforced at compile()) — a running-sum
    // window over the same partition key every other pre-state read
    // uses, so it shares their exchange. Always integral. The guard
    // pins the init to an EMPTY ARRAY so `.length` of string/other
    // state fields still flows to the generic member path below.
    case Member(m: Member, "length") if ctx.foldStateReads != null &&
        statePathOf(m, ctx, locals).exists(f => ctx.initFields.get(f).exists {
          case JsArr(items) => items.isEmpty
          case _ => false
        }) =>
      val f = statePathOf(m, ctx, locals).get
      if (ctx.foldMutated.contains(f)) None
      else {
        ctx.foldArrLen += f
        ctx.foldStateReads += f
        ctx.refs += "log_position"
        Some(TC(col(PreColPrefix + f + ArrLenSfx), TNum(integral = true), NoNull))
      }

    case Member(o, p) => o match {
      case Ident(n) if ctx.envParam.contains(n) && !locals.contains(n) =>
        envField(p, ctx)
      case Ident(n) if ctx.stateParam.contains(n) && !locals.contains(n) &&
          ctx.stateEnv != null =>
        // transformBy/filterBy state reads; a missing field is undefined;
        // fragment-typed fields (overwrites) are render-only — a chain
        // that actually reads one stays interpreted
        ctx.stateEnv.get(p) match {
          case Some(tc) if tc.ty == TFrag => None
          case Some(tc) => Some(tc)
          case None => Some(tUndef)
        }
      case Ident(n) if ctx.stateParam.contains(n) && !locals.contains(n) &&
          ctx.foldStateReads != null =>
        // FOLD-handler PRE-STATE read (`if (s.count === 0) …`,
        // `if (e.v > s.peak) …`, `if (s.last === e.type) …`): compiles to
        // a per-partition window over the fold-order-PRECEDING rows —
        // exactly the value the interpreter's state holds when this
        // event's handler starts. The window form depends on the field's
        // update KIND (running sum for sums, running extremum for
        // max/min, latest preceding assignment for overwrites), which is
        // only known post-walk — so the read claims the $init value's
        // TYPE here (numbers read as TNum whose integral claim follows
        // the init; strings as TStr with no ascii claim) and compile()
        // verifies the claim against the actual kind and every site's
        // provable type, falling the whole definition back on any
        // mismatch. A read AFTER a same-handler mutation of the field
        // resolves through the POST channel (INCLUSIVE window — the
        // value after ALL of this handler's mutations of the field; the
        // addX helpers refuse any LATER mutation, keeping it exact —
        // the emit-running-total idiom). With the channel disabled
        // (statePostReads null) such reads refuse as before.
        // Exactness: sums are integral longs under the 2^53 contract;
        // extrema/overwrites keep exact doubles / raw strings.
        if (ctx.foldMutated.contains(p)) {
          if (ctx.statePostReads == null) None
          else ctx.initFields.get(p) match {
            case Some(JsNum(d)) if !d.isNaN =>
              ctx.statePostReads += p
              ctx.foldPostReads += p
              ctx.refs += "log_position"
              Some(TC(col(PreColPrefix + p + PostSfx),
                TNum(integral = !d.isInfinite && d == math.rint(d) &&
                  !ctx.preReadNonIntegral(p)), NoNull))
            case Some(JsStr(_)) =>
              ctx.statePostReads += p
              ctx.foldPostReads += p
              ctx.refs += "log_position"
              Some(TC(col(PreColPrefix + p + PostSfx),
                TStr(ascii = false), NoNull))
            case _ => None
          }
        }
        else ctx.initFields.get(p) match {
          // ±Infinity init (the canonical extremum seed) reads with NO
          // integral claim — the pre value is whatever candidate beat
          // the seed, integral only if every candidate is, which the
          // claim-verification can then skip checking
          case Some(JsNum(d)) if !d.isNaN =>
            ctx.foldStateReads += p
            ctx.refs += "log_position"
            Some(TC(col(PreColPrefix + p),
              TNum(integral = !d.isInfinite && d == math.rint(d) &&
                !ctx.preReadNonIntegral(p)), NoNull))
          case Some(JsStr(_)) =>
            ctx.foldStateReads += p
            ctx.refs += "log_position"
            Some(TC(col(PreColPrefix + p), TStr(ascii = false), NoNull))
          case _ => None
        }
      case _ => compileExpr(o, ctx, locals).flatMap { tc =>
        (tc.ty, p) match {
          case (TDyn, "length") =>
            // `.length` of a dynamic dispatches on the RUNTIME type in
            // JS: string → UTF-16 length, array → element count, object
            // → its "length" property, other scalars → undefined. A
            // plain `$.length` path read would silently answer
            // undefined for strings and arrays (found by a probe — the
            // truthy form `if (e.body.k.length)` compiles).
            val base = tc.col
            val bad = base.isNull || is_variant_null(base)
            val msg = concat(lit("cannot read property 'length' of "),
              when(base.isNull, lit("undefined")).otherwise(lit("null")))
            val t = dynT(tc)
            val asNum = (n: Column) => parse_json(n.cast(StringType))
            val len =
              when(t === "STRING", asNum(graft.functions.JsUtf16Length(
                try_variant_get(base, "$", "string"))))
              .when(t.startsWith("ARRAY"), asNum(size(
                try_variant_get(base, "$", "array<variant>"))))
              .otherwise(try_variant_get(base, "$.length", "variant"))
            // no text provenance: the derived number has no JSON path
            Some(dynTC(ctx, len,
              err = Some(memo(ctx,
                errJoin(tc.err, Some(when(bad, msg))).get))))
          case (TDyn, prop) if prop.nonEmpty &&
              prop.forall(ch => ch.isLetterOrDigit || ch == '_' || ch == '$') &&
              !prop.head.isDigit =>
            // JS throws reading a property of null/undefined — the
            // interpreter raises the handler-level TypeError, which a JS
            // `try` can CATCH, so the condition rides the err channel
            // (sealed to a raise at any non-try boundary). Scalars/
            // arrays/objects-without-the-key give undefined in both.
            val base = tc.col
            val bad = base.isNull || is_variant_null(base)
            val msg = concat(lit(s"cannot read property '$prop' of "),
              when(base.isNull, lit("undefined")).otherwise(lit("null")))
            // the access itself is raise-free (err channel carries the
            // throw condition), so it is safe — and load-bearing for
            // codegen size — to let-bind it (and its variant schema):
            // every consumer of this member (value, err condition,
            // deeper accesses, type dispatch) then reads ONE per-row
            // column instead of repeating the variant walk
            Some(dynTC(ctx, try_variant_get(base, "$." + prop, "variant"),
              jsonSrc = tc.jsonSrc.map { case (t, ss) => (t, ss :+ prop) },
              // the joined err is raise-free too — memoized so sealing
              // (which references it twice) and deeper accesses stay
              // codegen-small however deep the member chain gets
              err = Some(memo(ctx,
                errJoin(tc.err, Some(when(bad, msg))).get))))
          case (TStr(ascii), "length") if tc.nullAs == NoNull =>
            // JS counts UTF-16 units: SQL length (codepoints) is exact
            // for ASCII receivers; otherwise JsUtf16Length counts units
            // straight off the UTF-8 bytes
            val len =
              if (ascii) length(tc.col).cast(DoubleType)
              else graft.functions.JsUtf16Length(tc.col).cast(DoubleType)
            Some(TC(len, TNum(integral = true), NoNull, err = tc.err))
          case (TStrArr(_, _), "length") =>
            // reading .length of a null match result throws in JS —
            // the condition rides the err channel like TDyn accesses
            val len = when(tc.col.isNull, lit(0.0))
              .otherwise(size(tc.col).cast(DoubleType))
            val nullErr =
              if (tc.nullAs == NoNull) None
              else Some(when(tc.col.isNull,
                lit("cannot read property 'length' of null")))
            Some(TC(len, TNum(integral = true), NoNull,
              err = errJoin(tc.err, nullErr)))
          case _ => None
        }
      }
    }

    case Index(o, StrLit(p)) => compileExpr(Member(o, p), ctx, locals)

    // Dynamic-key MAP pre-state read `s.f[K]` inside a states()-fold
    // handler (`if (s.seen[e.k])` membership, `if ((s.seen[e.k]||0) > t)`
    // threshold guards): compiles to a window over the fold-order-
    // PRECEDING rows of (partition, ToString(K)) — the same two-level
    // key the map-write aggregation groups by — reconstructing exactly
    // the value the interpreter's LinkedHashMap holds for K as this
    // event's handler starts. SQL NULL = key never written = undefined
    // (`|| 0` coalesces it; truthiness reads it falsy — both exact).
    // The read claims NUMBER (counter fields are integral longs by
    // construction; overwrite-map values verify their sites' raw
    // numeric claims post-walk like LastTerm reads, demoting integral
    // via the one-shot retry). String-valued map reads fall back. K is
    // evaluated BEFORE the member read in JS, so its error channel is
    // the read's. A read after a same-handler write of f refuses
    // (foldMutated), like every pre-state read.
    case Index(m: Member, kExpr) if ctx.foldStateReads != null &&
        statePathOf(m, ctx, locals).isDefined =>
      val f = statePathOf(m, ctx, locals).get
      if (ctx.foldMutated.contains(f)) None
      else ctx.initFields.get(f) match {
        case Some(JsObj(fields)) if fields.isEmpty =>
          compileExpr(kExpr, ctx, locals).flatMap { kTC =>
            strOf(kTC).flatMap { case (kCol, _) =>
              ctx.foldMapReads.get(f) match {
                case Some((e0, _)) if e0 != kExpr => None // two key shapes
                case _ =>
                  ctx.foldMapReads.getOrElseUpdate(f, (kExpr, kCol))
                  ctx.foldStateReads += f
                  ctx.refs += "log_position"
                  Some(
                    if (ctx.preReadMapStr(f))
                      TC(col(PreColPrefix + f), TStr(ascii = false), NullIsUndef,
                        err = kTC.err)
                    else TC(col(PreColPrefix + f),
                      TNum(integral = !ctx.preReadNonIntegral(f)), NullIsUndef,
                      err = kTC.err))
              }
            }
          }
        case _ => None
      }

    // `arr[i]` on a match/split result with a constant index. Out-of-range
    // and unmatched-group elements are SQL NULL = JS undefined
    // (try_element_at: ANSI's plain subscript would raise out-of-range);
    // indexing a null match result throws in JS → err channel.
    case Index(o, NumLit(d)) if d == math.rint(d) && d >= 0 && d <= 1e6 =>
      compileExpr(o, ctx, locals).flatMap { tc =>
        tc.ty match {
          case TStrArr(ascii, digits) =>
            val nullErr =
              if (tc.nullAs == NoNull) None
              else Some(when(tc.col.isNull,
                lit(s"cannot read property '${d.toLong}' of null")))
            Some(TC(try_element_at(tc.col, lit(d.toInt + 1)),
              TStr(ascii || digits), NullIsUndef,
              err = errJoin(tc.err, nullErr), intStr = digits))
          case _ => None
        }
      }

    case Cond(c, t, f) =>
      for {
        cc <- truthyExpr(c, ctx, locals)
        tt <- compileExpr(t, ctx, locals)
        ff <- compileExpr(f, ctx, locals)
        cv = intern(ctx, cc.col)
        m <- mergeTC(cv, tt, ff)
      } yield m.copy(err = errJoin(cc.err, errWhen(cv, tt.err, ff.err)))

    case Logical(op, l, r) =>
      for {
        lt <- compileExpr(l, ctx, locals)
        rt <- compileExpr(r, ctx, locals)
        c <- truthyOf(lt)
        m <- if (op == "&&") mergeTC(c, rt, lt) else mergeTC(c, lt, rt)
      } yield m.copy(err = errJoin(lt.err,
        if (op == "&&") errWhen(c, rt.err, None) else errWhen(c, None, rt.err)))

    case Binary(op, l, r) => binary(op, l, r, ctx, locals)
    case Unary(op, x) => unary(op, x, ctx, locals)
    case Call(callee, args) => call(callee, args, ctx, locals)
    case _ => None
  }

  /** Program-level constant (a top-level `var` the definition evaluated
    * at compile, like `var epoch = Date.parse(...)`). */
  private def constTC(v: JsVal): Option[TC] = v match {
    case JsNum(d) => Some(numLitTC(d))
    case JsStr(s) => Some(strLitTC(s))
    case JsBool(b) => Some(TC(lit(b), TBool, NoNull))
    case JsNull => Some(tNull)
    case JsUndef => Some(tUndef)
    case d: JsDate =>
      Some(TC(
        if (d.ms.isNaN) lit(null).cast(LongType) else lit(d.ms.toLong),
        TDate(bounded = !d.ms.isNaN && d.ms >= FmtMinMs && d.ms <= FmtMaxMs),
        NoNull))
    case _ => None // functions / objects / stdlib natives
  }

  /** Envelope fields as typed columns — one-to-one with
    * CompiledJsProjection.envelope(), same null conventions. */
  private def envField(p: String, ctx: Ctx): Option[TC] = p match {
    case "streamId" =>
      Some(TC(coalesce(in(ctx, "resolved_stream_id"), in(ctx, "stream_id")),
        TStr(ascii = false), NoNull))
    case "sequenceNumber" =>
      Some(TC(when(in(ctx, "resolved_stream_id").isNotNull,
        in(ctx, "resolved_event_number")).otherwise(in(ctx, "event_number"))
        .cast(DoubleType), TNum(integral = true), NoNull))
    case "eventType" => Some(TC(in(ctx, "event_type"), TStr(ascii = false), NoNull))
    case "eventId" => Some(TC(in(ctx, "event_id"), TStr(ascii = false), NullIsJsNull))
    case "body" | "data" => Some(dynTC(ctx, try_parse_json(in(ctx, "data")),
      jsonSrc = Some((in(ctx, "data"), Nil))))
    case "bodyRaw" => Some(TC(in(ctx, "data"), TStr(ascii = false), NullIsJsNull))
    case "metadataRaw" => Some(TC(in(ctx, "metadata"), TStr(ascii = false), NullIsJsNull))
    case "metadata" => Some(dynTC(ctx, try_parse_json(in(ctx, "metadata")),
      jsonSrc = Some((in(ctx, "metadata"), Nil))))
    case "linkMetadataRaw" =>
      Some(TC(in(ctx, "link_metadata"), TStr(ascii = false), NullIsJsNull))
    case "linkMetadata" =>
      Some(dynTC(ctx, try_parse_json(in(ctx, "link_metadata")),
        jsonSrc = Some((in(ctx, "link_metadata"), Nil))))
    case "isJson" =>
      Some(TC(memo(ctx, try_parse_json(in(ctx, "data"))).isNotNull, TBool, NoNull))
    case "category" =>
      val sid = in(ctx, "stream_id")
      Some(TC(when(instr(sid, "-") > 0, sid.substr(lit(1), instr(sid, "-") - 1))
        .otherwise(nullStr), TStr(ascii = false), NullIsJsNull))
    case "partition" => Some(TC(ctx.partitionCol, TStr(ascii = false), NoNull))
    case "logPosition" =>
      Some(TC(in(ctx, "log_position").cast(DoubleType), TNum(integral = true), NoNull))
    case "value" => Some(TC(in(ctx, "value").cast(DoubleType), TNum(integral = false), NoNull))
    case "timestamp" =>
      // epoch ms; the adapter's year-range assertion (1990–2100)
      // bounds this safely inside the formattable window
      Some(TC(unix_millis(in(ctx, "timestamp")).cast(DoubleType),
        TNum(integral = true, boundedMs = true), NullIsJsNull))
    case _ => None
  }

  /** Merge two typed values behind a boolean column (ternary/logical
    * value positions). Null-constant branches promote into the other
    * side's type with the matching null encoding. */
  private def mergeTC(cond: Column, a: TC, b: TC): Option[TC] = {
    def promote(x: TC, like: TC): Option[TC] = (x.ty, like.ty) match {
      case (TNull, TNum(_, _) | TStr(_) | TBool) =>
        Some(TC(lit(null).cast(colType(like.ty)), like.ty, NullIsJsNull))
      case (TUndef, TNum(_, _) | TStr(_) | TBool) =>
        Some(TC(lit(null).cast(colType(like.ty)), like.ty, NullIsUndef))
      case _ => None
    }
    def colType(t: JTy) = t match {
      case TNum(_, _) => DoubleType
      case _: TStr => StringType
      case _ => org.apache.spark.sql.types.BooleanType
    }
    val (a2, b2) =
      (promote(a, b).getOrElse(a), promote(b, a).getOrElse(b))
    val nullAs: Option[NullAs] = (a2.nullAs, b2.nullAs) match {
      case (x, y) if x == y => Some(x)
      case (NoNull, y) => Some(y)
      case (x, NoNull) => Some(x)
      case _ => None // one branch's NULL means null, the other undefined
    }
    val ty: Option[JTy] = (a2.ty, b2.ty) match {
      case (TNum(i1, b1), TNum(i2, bm2)) => Some(TNum(i1 && i2, b1 && bm2))
      case (TStr(x), TStr(y)) => Some(TStr(x && y))
      case (TBool, TBool) => Some(TBool)
      case (TDyn, TDyn) => Some(TDyn)
      case (TNull, TNull) => Some(TNull)
      case (TUndef, TUndef) => Some(TUndef)
      case (TDate(x), TDate(y)) => Some(TDate(x && y))
      case _ => None
    }
    for (t <- ty; n <- nullAs) yield TC(when(cond, a2.col).otherwise(b2.col), t, n)
  }

  /** Truthiness of an expression as a TBool TC (condition column + err
    * channel), with short-circuit structure compiled structurally.
    * `&&`/`||` compile to CaseWhen — NOT Spark's And/Or: CaseWhen
    * branches evaluate lazily and never reorder, which carries JS's
    * short-circuit guarantee (`e.body && e.body.k` must not touch `.k`,
    * which THROWS for a null/undefined body, when the left side already
    * failed; Catalyst is free to reorder And conjuncts). */
  private def truthyExpr(e: Expr, ctx: Ctx, locals: Map[String, TC]): Option[TC] =
    e match {
      case Logical("&&", l, r) =>
        for (a <- truthyExpr(l, ctx, locals); b <- truthyExpr(r, ctx, locals))
          yield {
            val av = intern(ctx, a.col)
            TC(when(av, b.col).otherwise(lit(false)), TBool, NoNull,
              err = errJoin(a.err, errWhen(av, b.err, None)))
          }
      case Logical("||", l, r) =>
        for (a <- truthyExpr(l, ctx, locals); b <- truthyExpr(r, ctx, locals))
          yield {
            val av = intern(ctx, a.col)
            TC(when(av, lit(true)).otherwise(b.col), TBool, NoNull,
              err = errJoin(a.err, errWhen(av, None, b.err)))
          }
      case Unary("!", x) => truthyExpr(x, ctx, locals).map(tc =>
        TC(!tc.col, TBool, NoNull, err = tc.err))
      case Cond(c, t, f) =>
        for {
          cc <- truthyExpr(c, ctx, locals)
          tt <- truthyExpr(t, ctx, locals)
          ff <- truthyExpr(f, ctx, locals)
        } yield {
          val cv = intern(ctx, cc.col)
          TC(when(cv, tt.col).otherwise(ff.col), TBool, NoNull,
            err = errJoin(cc.err, errWhen(cv, tt.err, ff.err)))
        }
      case _ => compileExpr(e, ctx, locals).flatMap(tc =>
        truthyOf(tc).map(c => TC(c, TBool, NoNull, err = tc.err)))
    }

  /** ToNumber of an expression (delta right-hand sides), with ternary /
    * logical value selection compiled at the numeric level. */
  private def numExpr(e: Expr, ctx: Ctx, locals: Map[String, TC]): Option[TC] =
    e match {
      case Cond(c, t, f) =>
        for {
          cc <- truthyExpr(c, ctx, locals)
          tt <- numExpr(t, ctx, locals)
          ff <- numExpr(f, ctx, locals)
        } yield {
          val cv = intern(ctx, cc.col)
          TC(when(cv, tt.col).otherwise(ff.col),
            TNum(integralClaim(tt) && integralClaim(ff),
              boundedMsClaim(tt) && boundedMsClaim(ff)), NoNull,
            err = errJoin(cc.err, errWhen(cv, tt.err, ff.err)))
        }
      case Logical(op, l, r) =>
        // JS value semantics: `a && b` yields b when a is truthy, else a
        // — then the numeric context applies ToNumber to whichever won
        for {
          lt <- compileExpr(l, ctx, locals)
          c <- truthyOf(lt)
          ln <- numOf(lt)
          rn <- numExpr(r, ctx, locals)
        } yield TC(
          if (op == "&&") when(c, rn.col).otherwise(ln)
          else when(c, ln).otherwise(rn.col),
          TNum(integralClaim(lt) && integralClaim(rn)), NoNull,
          err = errJoin(lt.err,
            if (op == "&&") errWhen(c, rn.err, None) else errWhen(c, None, rn.err)))
      case _ =>
        compileExpr(e, ctx, locals).flatMap { tc =>
          numOf(tc).map(c => TC(c, TNum(integralClaim(tc), boundedMsClaim(tc)),
            NoNull, err = tc.err))
        }
    }

  /** Partition-key value of an expression (string-or-skip), compiled at
    * the key level so mixed-type ternaries/logicals stay expressible.
    * Returns the key column plus its error channel (a throwing
    * partitionBy fn faults the projection — sealed by compileKey). */
  private def keyExpr(e: Expr, ctx: Ctx,
      locals: Map[String, TC]): Option[(Column, Option[Column])] =
    e match {
      case Cond(c, t, f) =>
        for {
          cc <- truthyExpr(c, ctx, locals)
          (tt, te) <- keyExpr(t, ctx, locals)
          (ff, fe) <- keyExpr(f, ctx, locals)
        } yield {
          val cv = intern(ctx, cc.col)
          (when(cv, tt).otherwise(ff), errJoin(cc.err, errWhen(cv, te, fe)))
        }
      case Logical(op, l, r) =>
        for {
          lt <- truthyExpr(l, ctx, locals)
          (lk, _) <- keyExpr(l, ctx, locals)
          (rk, re) <- keyExpr(r, ctx, locals)
        } yield {
          val lv = intern(ctx, lt.col)
          (if (op == "&&") when(lv, rk).otherwise(lk)
          else when(lv, lk).otherwise(rk),
            // lt's err covers l's evaluation (keyExpr(l) shares it)
            errJoin(lt.err,
              if (op == "&&") errWhen(lv, re, None)
              else errWhen(lv, None, re)))
        }
      case _ => compileExpr(e, ctx, locals).flatMap(tc =>
        keyOf(tc).map(k => (k, tc.err)))
    }

  // ------------------------------------------------------ operators

  private def binary(op: String, l: Expr, r: Expr, ctx: Ctx,
      locals: Map[String, TC]): Option[TC] = {
    def num2(f: (Column, Column) => Column, integral: (Boolean, Boolean) => Boolean) =
      for {
        lt <- compileExpr(l, ctx, locals)
        rt <- compileExpr(r, ctx, locals)
        ln <- numOf(lt)
        rn <- numOf(rt)
      } yield TC(f(ln, rn),
        TNum(integral(integralClaim(lt), integralClaim(rt))), NoNull,
        err = errJoin(lt.err, rt.err))

    op match {
      case "+" =>
        for {
          lt <- compileExpr(l, ctx, locals)
          rt <- compileExpr(r, ctx, locals)
          out <- (lt.ty, rt.ty) match {
            case (_: TStr, _) | (_, _: TStr) =>
              for ((ls, la) <- strOf(lt); (rs, ra) <- strOf(rt))
                yield TC(concat(ls, rs), TStr(la && ra), NoNull,
                  err = errJoin(lt.err, rt.err))
            case (TDyn, _) | (_, TDyn) | (TDate(_), _) | (_, TDate(_)) =>
              // Date/object ToPrimitive in `+` can go stringward — out of
              // the compiled subset (use getTime()/toISOString explicitly)
              None
            case _ =>
              for (ln <- numOf(lt); rn <- numOf(rt))
                yield TC(ln + rn, TNum(integralClaim(lt) && integralClaim(rt)),
                  NoNull, err = errJoin(lt.err, rt.err))
          }
        } yield out
      case "-" => num2(_ - _, _ && _)
      case "*" => num2(_ * _, _ && _)
      case "/" =>
        // JS x/0 → ±Infinity, 0/0 and NaN anywhere → NaN; ANSI Spark would
        // raise, so route the zero-divisor rows around the division. (A
        // NEGATIVE-zero divisor flips the sign in ES; Catalyst cannot
        // observe the zero's sign — documented divergence.)
        num2((ln, rn) =>
          when(isnan(ln) || isnan(rn), lit(Double.NaN))
            .when(rn === lit(0.0),
              when(ln === lit(0.0), lit(Double.NaN))
                .when(ln > lit(0.0), lit(Double.PositiveInfinity))
                .otherwise(lit(Double.NegativeInfinity)))
            .otherwise(ln / rn),
          (_, _) => false)
      case "%" =>
        // JS % is IEEE remainder-with-dividend-sign (Java %); x % 0 → NaN
        num2((ln, rn) =>
          when(isnan(ln) || isnan(rn) || rn === lit(0.0), lit(Double.NaN))
            .otherwise(ln % rn),
          _ && _)
      case "<" | ">" | "<=" | ">=" =>
        // the array-state `indexOf(V) >= 0` membership idiom compiles
        // FIRST (the indexOf value alone never compiles, so the generic
        // relational form below cannot claim it)
        arrIndexOfRel(op, l, r, ctx, locals).orElse {
        // ES relational: ToPrimitive both sides; only when BOTH come out
        // strings is it code-unit string order (which SQL binary order
        // does not match beyond the BMP) — so compile the NUMERIC form
        // whenever at most one side can be a string at runtime
        // ("5" < 10 and e.body.n > 3 are numeric; s1 < s2 stays out)
        def stringy(t: JTy) = t.isInstanceOf[TStr] || t == TDyn
        for {
          lt <- compileExpr(l, ctx, locals)
          rt <- compileExpr(r, ctx, locals)
          if !(stringy(lt.ty) && stringy(rt.ty))
          ln <- numOf(lt)
          rn <- numOf(rt)
        } yield {
          val cmp = op match {
            case "<" => ln < rn
            case ">" => ln > rn
            case "<=" => ln <= rn
            case ">=" => ln >= rn
          }
          // Spark orders NaN; every JS comparison with NaN is false
          TC(when(isnan(ln) || isnan(rn), lit(false)).otherwise(cmp), TBool,
            NoNull, err = errJoin(lt.err, rt.err))
        }
        }
      case "==" | "!=" | "===" | "!==" =>
        arrIndexOfEq(op, l, r, ctx, locals)
          .orElse(equality(op, l, r, ctx, locals))
      case _ => None
    }
  }

  private def equality(op: String, l: Expr, r: Expr, ctx: Ctx,
      locals: Map[String, TC]): Option[TC] = {
    val strict = op == "===" || op == "!=="
    val negate = op.startsWith("!")
    for {
      lt <- compileExpr(l, ctx, locals)
      rt <- compileExpr(r, ctx, locals)
      base <- eqBase(lt, rt, strict)
    } yield TC(if (negate) !base else base, TBool, NoNull,
      err = errJoin(lt.err, rt.err))
  }

  /** The ==/=== comparison of two compiled values (switch-case matching
    * reuses the strict form against the discriminant). */
  private def eqBase(lt: TC, rt: TC, strict: Boolean): Option[Column] =
    (lt.ty, rt.ty) match {
        // null / undefined comparisons — the dominant guard idiom
        case (TNull, _) =>
          Some(if (strict) isJsNull(rt) else isNullOrUndef(rt))
        case (_, TNull) =>
          Some(if (strict) isJsNull(lt) else isNullOrUndef(lt))
        case (TUndef, _) =>
          Some(if (strict) isUndef(rt) else isNullOrUndef(rt))
        case (_, TUndef) =>
          Some(if (strict) isUndef(lt) else isNullOrUndef(lt))
        case (TNum(_, _), TNum(_, _)) =>
          val (ln, rn) = (lt.col, rt.col)
          val nullCase: Column =
            if (strict)
              if (lt.nullAs == rt.nullAs) ln.isNull && rn.isNull else lit(false)
            else ln.isNull && rn.isNull
          val anyNull =
            (if (lt.nullAs == NoNull) lit(false) else ln.isNull) ||
              (if (rt.nullAs == NoNull) lit(false) else rn.isNull)
          Some(when(anyNull, nullCase)
            .otherwise(when(isnan(ln) || isnan(rn), lit(false)).otherwise(ln === rn)))
        case (TStr(_), TStr(_)) =>
          val nullCase: Column =
            if (strict)
              if (lt.nullAs == rt.nullAs) lt.col.isNull && rt.col.isNull else lit(false)
            else lt.col.isNull && rt.col.isNull
          val anyNull =
            (if (lt.nullAs == NoNull) lit(false) else lt.col.isNull) ||
              (if (rt.nullAs == NoNull) lit(false) else rt.col.isNull)
          Some(when(anyNull, nullCase).otherwise(lt.col === rt.col))
        case (TBool, TBool) =>
          Some(when(isNullOrUndef(lt) || isNullOrUndef(rt),
            if (strict && lt.nullAs != rt.nullAs) lit(false)
            else isNullOrUndef(lt) && isNullOrUndef(rt) &&
              (if (strict) lit(lt.nullAs == rt.nullAs) else lit(true)))
            .otherwise(lt.col === rt.col))
        case (TNum(_, _), TStr(_)) | (TStr(_), TNum(_, _)) if strict => Some(lit(false))
        case (TBool, TNum(_, _)) | (TNum(_, _), TBool) if strict => Some(lit(false))

        // equality of a dynamic against a typed value dispatches on the
        // runtime variant type (`e.body.status === 'active'`, the
        // dominant routing guard). Strict: only the matching type
        // compares by value. Loose adds the ES cross-type coercions:
        // number==ToNumber(string), booleans coerce numberward first,
        // and an object/array ToPrimitive goes STRINGWARD against a
        // string but numberward against a number — the array join
        // renders exactly from the JSON text when provenance is known
        // and raises loudly otherwise. The typed side's SQL NULL is a
        // JS null/undefined VALUE per its convention: strictly equal
        // only to the matching dynamic null-ness, loosely equal to
        // either.
        case (TDyn, _) | (_, TDyn) if (lt.ty == TDyn) != (rt.ty == TDyn) =>
          val (dyn, typed) = if (lt.ty == TDyn) (lt, rt) else (rt, lt)
          val v = dyn.col
          val t = dynT(dyn)
          val dynNullish = v.isNull || is_variant_null(v)
          def nullSide: Column =
            if (!strict) dynNullish
            else typed.nullAs match {
              case NullIsJsNull => is_variant_null(v)
              case NullIsUndef => v.isNull
              case NoNull => lit(false)
            }
          val typedNull =
            if (typed.nullAs == NoNull) lit(false) else typed.col.isNull
          val isNumT = t === "BIGINT" || t === "DOUBLE" || t.startsWith("DECIMAL")
          def arrStr: Column = dyn.jsonSrc match {
            case Some((txt, ss)) => graft.functions.JsPathToString(txt, ss)
            case None => raise_error(lit("js column compile: ToPrimitive " +
              "of a JSON array value — disable spark.graft.js.columnCompile " +
              "for this definition")).cast(StringType)
          }
          typed.ty match {
            case TStr(_) if strict => Some(when(typedNull, nullSide)
              .when(v.isNull, lit(false))
              .otherwise(t === "STRING" &&
                try_variant_get(v, "$", "string") === typed.col))
            case TNum(_, _) if strict => Some(when(typedNull, nullSide)
              .when(v.isNull || isnan(typed.col), lit(false))
              .otherwise(isNumT &&
                try_variant_get(v, "$", "double") === typed.col))
            case TBool if strict => Some(when(typedNull, nullSide)
              .when(v.isNull, lit(false))
              .otherwise(t === "BOOLEAN" &&
                try_variant_get(v, "$", "boolean") === typed.col))
            case TStr(_) => // loose vs string
              val sv = typed.col
              val sNum = graft.functions.JsStringNumber(sv)
              Some(when(typedNull, nullSide)
                .when(dynNullish, lit(false))
                .when(t === "STRING", try_variant_get(v, "$", "string") === sv)
                .when(isNumT, try_variant_get(v, "$", "double") === sNum)
                .when(t === "BOOLEAN",
                  when(try_variant_get(v, "$", "boolean"), lit(1.0))
                    .otherwise(lit(0.0)) === sNum)
                .when(t.startsWith("OBJECT"), lit("[object Object]") === sv)
                .otherwise(arrStr === sv))
            case TNum(_, _) => // loose vs number
              val nv = typed.col
              Some(when(typedNull, nullSide)
                .when(isnan(nv) || dynNullish, lit(false))
                .when(t === "STRING",
                  graft.functions.JsStringNumber(
                    try_variant_get(v, "$", "string")) === nv)
                .when(isNumT, try_variant_get(v, "$", "double") === nv)
                .when(t === "BOOLEAN",
                  when(try_variant_get(v, "$", "boolean"), lit(1.0))
                    .otherwise(lit(0.0)) === nv)
                .when(t.startsWith("OBJECT"), lit(false))
                .otherwise(graft.functions.JsStringNumber(arrStr) === nv))
            case TBool => // loose vs boolean: the boolean coerces to 0/1
              val bn = when(typed.col, lit(1.0)).otherwise(lit(0.0))
              Some(when(typedNull, nullSide)
                .when(dynNullish, lit(false))
                .when(t === "STRING",
                  graft.functions.JsStringNumber(
                    try_variant_get(v, "$", "string")) === bn)
                .when(isNumT, try_variant_get(v, "$", "double") === bn)
                .when(t === "BOOLEAN",
                  try_variant_get(v, "$", "boolean") === typed.col)
                .when(t.startsWith("OBJECT"), lit(false))
                .otherwise(graft.functions.JsStringNumber(arrStr) === bn))
            case TNull => Some(is_variant_null(v)) // strict (loose matched earlier)
            case TUndef => Some(v.isNull)
            case _ => None // dates compare by reference
          }
        case _ => None
      }

  private def unary(op: String, x: Expr, ctx: Ctx,
      locals: Map[String, TC]): Option[TC] = op match {
    case "!" => truthyExpr(x, ctx, locals).map(tc =>
      TC(!tc.col, TBool, NoNull, err = tc.err))
    case "-" =>
      numExpr(x, ctx, locals).map(tc =>
        TC(-tc.col, TNum(integralClaim(tc)), NoNull, err = tc.err))
    case "+" => numExpr(x, ctx, locals)
    case "typeof" =>
      compileExpr(x, ctx, locals).map { tc =>
        val s = tc.ty match {
          case TNum(_, _) => withNull(tc, lit("number"))
          case TStr(_) => withNull(tc, lit("string"))
          case TBool => withNull(tc, lit("boolean"))
          case TNull => lit("object")
          case TUndef => lit("undefined")
          case TDate(_) => lit("object")
          case TStrArr(_, _) | TFrag => lit("object") // typeof null is "object" too
          case TDyn =>
            val v = tc.col
            val t = dynT(tc)
            when(v.isNull, lit("undefined"))
              .when(is_variant_null(v), lit("object"))
              .when(t === "STRING", lit("string"))
              .when(t === "BOOLEAN", lit("boolean"))
              .when(t === "BIGINT" || t === "DOUBLE" || t.startsWith("DECIMAL"),
                lit("number"))
              .otherwise(lit("object"))
        }
        TC(s, TStr(ascii = true), NoNull, err = tc.err)
      }
    case _ => None
  }

  /** typeof helper: SQL NULL in a nullable column is a JS null or
    * undefined VALUE, so typeof must answer for it. */
  private def withNull(tc: TC, base: Column): Column = tc.nullAs match {
    case NoNull => base
    case NullIsJsNull => when(tc.col.isNull, lit("object")).otherwise(base)
    case NullIsUndef => when(tc.col.isNull, lit("undefined")).otherwise(base)
  }

  // ----------------------------------------------------------- calls

  // ------------------------------------------ array-state pre-state reads

  /** `s.f` receiver of an array-state read, when f is a push-shaped
    * field ($init: []) and fold pre-state reads are enabled. */
  private def arrStateReceiver(m: Member, ctx: Ctx,
      locals: Map[String, TC]): Option[String] =
    if (ctx.foldStateReads == null) None
    else statePathOf(m, ctx, locals).filter(f => ctx.initFields.get(f).exists {
      case JsArr(items) => items.isEmpty
      case _ => false
    })

  /** The `s.f.indexOf(V)` shape. The index VALUE itself is not
    * compilable — the membership window cannot reconstruct a first-match
    * position — so only its sign tests compile ([[arrIndexOfRel]] /
    * [[arrIndexOfEq]]); any other use falls back whole-definition. */
  private def arrIndexOfShape(e: Expr, ctx: Ctx,
      locals: Map[String, TC]): Option[(Member, Expr)] = e match {
    case Call(Member(m: Member, "indexOf"), Seq(v))
        if arrStateReceiver(m, ctx, locals).isDefined => Some((m, v))
    case _ => None
  }

  /** A possibly-negated numeric literal (the parser renders `-1` as
    * unary minus over `1`). */
  private def numConst(e: Expr): Option[Double] = e match {
    case NumLit(d) => Some(d)
    case Unary("-", NumLit(d)) => Some(-d)
    case _ => None
  }

  /** Compile an array-state MEMBERSHIP pre-state read — "is V in s.f as
    * this event's handler starts": a count-of-preceding-executed-pushes
    * window over (partition, V) — rows carrying the same probe/pushed
    * value share a window partition, so the count is exactly "some
    * preceding event pushed THIS value" (the foldMapReads construction
    * with the pushed element as the dynamic key). Exactness requires
    * value equality to BE JS strict equality, so the probe must be a
    * provably-plain string (NoNull, err-free — the column doubles as the
    * raise-free window partition key) and compile() verifies every push
    * site's element likewise carries a raw string; numbers (NaN and
    * ±Infinity collapse in any rendering) and dynamics refuse. One
    * structural probe per field per handler, matching the handler's push
    * element (the foldMapReads one-key rule; addPush enforces its side). */
  private def arrMembershipRead(m: Member, vExpr: Expr, ctx: Ctx,
      locals: Map[String, TC]): Option[TC] = {
    val f = arrStateReceiver(m, ctx, locals) match {
      case Some(p) => p
      case None => return None
    }
    if (ctx.foldMutated.contains(f)) return None
    if (ctx.foldArrHas.get(f).exists(_._1 != vExpr)) return None // two probe shapes
    compileExpr(vExpr, ctx, locals).flatMap { vTC =>
      vTC.ty match {
        case TStr(_) if vTC.nullAs == NoNull && vTC.err.isEmpty =>
          ctx.foldArrHas.getOrElseUpdate(f, (vExpr, vTC.col))
          ctx.foldStateReads += f
          ctx.refs += "log_position"
          Some(TC(col(PreColPrefix + f + ArrHasSfx), TBool, NoNull))
        case _ => None
      }
    }
  }

  /** `s.f.indexOf(V) <cmp> 0/-1` membership idiom, relational forms
    * (either operand order). */
  private def arrIndexOfRel(op: String, l: Expr, r: Expr, ctx: Ctx,
      locals: Map[String, TC]): Option[TC] = {
    def mk(m: Member, v: Expr, negated: Boolean): Option[TC] =
      arrMembershipRead(m, v, ctx, locals).map(tc =>
        if (negated) tc.copy(col = !tc.col) else tc)
    (arrIndexOfShape(l, ctx, locals), numConst(r)) match {
      case (Some((m, v)), Some(d)) =>
        if ((op == ">=" && d == 0) || (op == ">" && d == -1)) mk(m, v, negated = false)
        else if ((op == "<" && d == 0) || (op == "<=" && d == -1)) mk(m, v, negated = true)
        else None
      case _ => (numConst(l), arrIndexOfShape(r, ctx, locals)) match {
        case (Some(d), Some((m, v))) =>
          if ((op == "<=" && d == 0) || (op == "<" && d == -1)) mk(m, v, negated = false)
          else if ((op == ">" && d == 0) || (op == ">=" && d == -1)) mk(m, v, negated = true)
          else None
        case _ => None
      }
    }
  }

  /** Negated-membership conjuncts of an if condition, each paired with
    * the condition REBUILT with that conjunct replaced by `true` — the
    * OFFER guard of a self-deduplicating push in the then branch (see
    * PushTerm.offer). Fields with two such conjuncts are skipped (every
    * rebuild would keep a membership column and the circularity gate
    * rejects it anyway) — this recognition only widens compilability,
    * never correctness. */
  private def arrDedupRebuilds(c: Expr, ctx: Ctx,
      locals: Map[String, TC]): Seq[(String, Expr)] = {
    def negShape(e: Expr): Option[String] = e match {
      case Unary("!", Call(Member(m: Member, "includes"), Seq(_))) =>
        arrStateReceiver(m, ctx, locals)
      case Binary(op, l, r) =>
        (arrIndexOfShape(l, ctx, locals), numConst(r)) match {
          case (Some((m, _)), Some(d))
              if (op == "<" && d == 0) || (op == "<=" && d == -1) ||
                ((op == "===" || op == "==") && d == -1) =>
            arrStateReceiver(m, ctx, locals)
          case _ => (numConst(l), arrIndexOfShape(r, ctx, locals)) match {
            case (Some(d), Some((m, _)))
                if (op == ">" && d == 0) || (op == ">=" && d == -1) ||
                  ((op == "===" || op == "==") && d == -1) =>
              arrStateReceiver(m, ctx, locals)
            case _ => None
          }
        }
      case _ => None
    }
    def conjuncts(e: Expr): List[Expr] = e match {
      case Logical("&&", a, b) => conjuncts(a) ::: conjuncts(b)
      case x => List(x)
    }
    conjuncts(c).flatMap(cj => negShape(cj).map(f => (f, cj)))
      .groupBy(_._1).toSeq.collect { case (f, Seq((_, target))) =>
        def rebuild(e: Expr): Expr = e match {
          case Logical("&&", a, b) => Logical("&&", rebuild(a), rebuild(b))
          case x if x eq target => BoolLit(true)
          case x => x
        }
        (f, rebuild(c))
      }
  }

  /** `s.f.indexOf(V) ===/==/!==/!= -1` membership idiom. */
  private def arrIndexOfEq(op: String, l: Expr, r: Expr, ctx: Ctx,
      locals: Map[String, TC]): Option[TC] = {
    val shape = arrIndexOfShape(l, ctx, locals)
      .filter(_ => numConst(r).contains(-1.0))
      .orElse(arrIndexOfShape(r, ctx, locals).filter(_ => numConst(l).contains(-1.0)))
    shape.flatMap { case (m, v) =>
      arrMembershipRead(m, v, ctx, locals).map { tc =>
        val absent = !tc.col
        tc.copy(col = if (op.startsWith("!")) !absent else absent)
      }
    }
  }

  private def call(callee: Expr, args: Seq[Expr], ctx: Ctx,
      locals: Map[String, TC]): Option[TC] = callee match {
    case Ident("Date") if unshadowedNative(ctx, locals, "Date") => dateCtor(args, ctx, locals)
    case Member(Ident("Date"), "parse") if unshadowedNative(ctx, locals, "Date") =>
      args match {
        case Seq(StrLit(s)) => Some(numLitTC(JsDateOps.parse(s)))
        case _ => None
      }
    case Member(Ident("Math"), m) if unshadowedMath(ctx, locals) =>
      mathCall(m, args, ctx, locals)
    case Ident("Number") if unshadowedNative(ctx, locals, "Number") =>
      args match { case Seq(a) => numExpr(a, ctx, locals); case _ => None }
    case Ident("String") if unshadowedNative(ctx, locals, "String") =>
      args match {
        case Seq(a) => compileExpr(a, ctx, locals).flatMap(tc => strOf(tc)
          .map { case (c, ascii) => TC(c, TStr(ascii), NoNull, err = tc.err) })
        case _ => None
      }
    case Ident("Boolean") if unshadowedNative(ctx, locals, "Boolean") =>
      args match {
        case Seq(a) => truthyExpr(a, ctx, locals)
        case _ => None
      }
    case Ident("isNaN") if unshadowedNative(ctx, locals, "isNaN") =>
      args match {
        case Seq(a) => numExpr(a, ctx, locals).map(tc =>
          TC(isnan(tc.col), TBool, NoNull, err = tc.err))
        case _ => None
      }
    case Ident("isFinite") if unshadowedNative(ctx, locals, "isFinite") =>
      args match {
        case Seq(a) => numExpr(a, ctx, locals).map(tc =>
          TC(!isnan(tc.col) && abs(tc.col) =!= lit(Double.PositiveInfinity),
            TBool, NoNull, err = tc.err))
        case _ => None
      }
    case Ident("parseInt") if unshadowedNative(ctx, locals, "parseInt") =>
      // radix must be a literal (0 → 10, the native's own defaulting);
      // the digit-prefix parse is always integer-valued where finite
      val radix: Option[Int] = args match {
        case Seq(_) => Some(10)
        case Seq(_, NumLit(d)) => Some(if (d.toInt == 0) 10 else d.toInt)
        case _ => None
      }
      for {
        r <- radix
        a <- compileExpr(args.head, ctx, locals)
        (sc, _) <- strOf(a)
      } yield TC(graft.functions.JsParseInt(sc, r), TNum(integral = true),
        NoNull, err = a.err)
    case Ident("parseFloat") if unshadowedNative(ctx, locals, "parseFloat") =>
      args match {
        case Seq(a0) => for {
          a <- compileExpr(a0, ctx, locals)
          (sc, _) <- strOf(a)
        } yield TC(graft.functions.JsParseFloat(sc), TNum(integral = false),
          NoNull, err = a.err)
        case _ => None
      }
    // JSON.stringify of any compiled value rides the fragment renderer
    // (the exact writeJson semantics fragOf already guarantees);
    // stringify(undefined) is undefined → NullIsUndef
    case Member(Ident("JSON"), "stringify") if unshadowedJson(ctx, locals) =>
      args match {
        case Seq(a0) => compileExpr(a0, ctx, locals).flatMap { a =>
          fragOf(a).map(frag =>
            TC(frag, TStr(ascii = false), NullIsUndef, err = a.err))
        }
        case _ => None
      }
    // `/re/.test(s)` — a regex literal evaluates to a fresh regex per
    // event (lastIndex 0), exactly the column op's fresh-per-call shape.
    // The shared backtracking budget guard throws UNCATCHABLY from the
    // codegen'd static, so regex ops refuse to compile inside `try`
    // (a JS-catchable error must never become a task failure). `exec`
    // compiles only without `g` (where it equals match's first-match
    // form; a global exec advances lastIndex across CALLS — stateful).
    case Member(RegexLit(p, f), mName @ ("test" | "exec")) if !ctx.inTry &&
        (mName == "test" || !f.contains('g')) =>
      args match {
        case Seq(a) => compileExpr(a, ctx, locals).flatMap { at =>
          strOf(at).map { case (s, ascii) =>
            if (mName == "test")
              TC(JsRegexColumns.test(s, p, f), TBool, NoNull, err = at.err)
            else {
              val digits = digitsOnlyPattern(p, f)
              TC(JsRegexColumns.matches(s, p, f),
                TStrArr(ascii || digits, digits), NullIsJsNull, err = at.err)
            }
          }
        }
        case _ => None
      }
    // array-state membership read `s.f.includes(V)` — SameValueZero is
    // strict equality on the provably-string values the compile is
    // limited to. The receiver guard pins f's $init to []; string-state
    // `.includes` flows to the generic member dispatch below.
    case Member(m: Member, "includes")
        if arrStateReceiver(m, ctx, locals).isDefined =>
      args match {
        case Seq(v) => arrMembershipRead(m, v, ctx, locals)
        case _ => None
      }
    case Member(obj, m) =>
      compileExpr(obj, ctx, locals).flatMap { tc =>
        tc.ty match {
          case TDate(_) => dateMethod(tc, m, args)
          case TStr(_) => strMethod(tc, m, args, ctx, locals)
          case TDyn if StringOnlyMethods(m) =>
            // string method on a dynamic: JS dispatches on the RUNTIME
            // type — a string applies String.prototype; every other type
            // throws the matching catchable error (callProp's shapes:
            // cannot-call of null/undefined, not-a-function for objects,
            // no-method for other primitives/arrays) → err channel. The
            // name set is STRING-ONLY methods, so a non-string receiver
            // is an error in the interpreter too — names shared with
            // Array.prototype (indexOf/includes/slice/concat/…) must NOT
            // compile here, their array rows would wrongly raise.
            val v = tc.col
            val t = dynT(tc)
            val errC =
              when(v.isNull, lit(s"cannot call '$m' of undefined"))
                .when(is_variant_null(v), lit(s"cannot call '$m' of null"))
                .when(t === "STRING", nullStr)
                .when(t === "BOOLEAN", lit(s"no method '$m' on boolean"))
                .when(t === "BIGINT" || t === "DOUBLE" ||
                  t.startsWith("DECIMAL"), lit(s"no method '$m' on number"))
                .when(t.startsWith("OBJECT"),
                  lit(s"$m is not a function (undefined)"))
                .otherwise(lit(s"no method '$m' on object")) // arrays
            val recv = TC(memo(ctx, try_variant_get(v, "$", "string")),
              TStr(ascii = false), NoNull,
              err = Some(memo(ctx, errJoin(tc.err, Some(errC)).get)))
            strMethod(recv, m, args, ctx, locals)
          case _ => None
        }
      }
    case _ => None
  }

  /** Methods of String.prototype that exist on NO other receiver type
    * in the interpreter's dispatch (JsInterp.callProp) — the set a
    * dynamic receiver may compile against: a non-string value would
    * throw there too, never silently bind an Array/Number method. */
  private val StringOnlyMethods = Set(
    "charAt", "charCodeAt", "startsWith", "endsWith", "toLowerCase",
    "toUpperCase", "trim", "substring", "substr", "split", "replace",
    "match", "search", "repeat")

  /** Every char this pattern can CONSUME is provably [0-9] (only `\d`
    * escapes, literal digits, and zero-width/structural tokens appear),
    * so any match or capture is a digits-only-or-empty string — whose ES
    * ToNumber is integer-valued wherever finite. The conservative gate
    * that lets `s.n += Number(m[0])` compile into the long-sum fold.
    * The `u` flag widens `\d` to Unicode digits in the java.util.regex
    * mapping (JsRegexOps flavor notes) — no claim there. */
  private def digitsOnlyPattern(p: String, flags: String): Boolean = {
    if (flags.contains('u')) return false
    var i = 0
    var brace = false
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\\') {
        if (i + 1 >= p.length || p.charAt(i + 1) != 'd') return false
        i += 2
      } else {
        if (c == '{') brace = true else if (c == '}') brace = false
        val ok = c.isDigit || "(){}+*?|^$".indexOf(c.toInt) >= 0 ||
          (brace && c == ',')
        if (!ok) return false
        i += 1
      }
    }
    true
  }

  /** The global still resolves to the stdlib native (the program did not
    * shadow it with its own binding). */
  private def unshadowedNative(ctx: Ctx, locals: Map[String, TC], n: String): Boolean =
    !locals.contains(n) && !ctx.envParam.contains(n) && !ctx.stateParam.contains(n) &&
      (ctx.cp.interp.globals.lookup(n) match {
        case Some(JsNative(`n`, _, _)) => true
        case _ => false
      })

  private def unshadowedMath(ctx: Ctx, locals: Map[String, TC]): Boolean =
    !locals.contains("Math") && !ctx.envParam.contains("Math") &&
      (ctx.cp.interp.globals.lookup("Math") match {
        case Some(_: JsObj) => true
        case _ => false
      })

  private def unshadowedJson(ctx: Ctx, locals: Map[String, TC]): Boolean =
    !locals.contains("JSON") && !ctx.envParam.contains("JSON") &&
      (ctx.cp.interp.globals.lookup("JSON") match {
        case Some(_: JsObj) => true
        case _ => false
      })

  private def mathCall(m: String, args: Seq[Expr], ctx: Ctx,
      locals: Map[String, TC]): Option[TC] = {
    def one(f: Column => Column, integral: Boolean => Boolean) = args match {
      case Seq(a) => numExpr(a, ctx, locals).map(tc =>
        TC(f(tc.col), TNum(integral(integralClaim(tc))), NoNull, err = tc.err))
      case _ => None
    }
    // floor/ceil return BIGINT in Spark and silently zero NaN — guard the
    // non-finite cases to the JS identity (NaN→NaN, ±Inf→±Inf)
    def guarded(f: Column => Column)(c: Column): Column =
      when(isnan(c) || abs(c) === lit(Double.PositiveInfinity), c)
        .otherwise(f(c).cast(DoubleType))
    m match {
      case "floor" => one(guarded(floor), _ => true)
      case "ceil" => one(guarded(ceil), _ => true)
      // ES Math.round is floor(x + 0.5) — half-up toward +Infinity, unlike
      // SQL round's half-away-from-zero (differs on negative halves)
      case "round" => one(guarded(c => floor(c + lit(0.5))), _ => true)
      case "trunc" =>
        // mirrors the interpreter's Double.toLong semantics: NaN→0,
        // ±Inf→±Long.Max/Min (JsInterp.scala "trunc")
        one(c => when(isnan(c), lit(0.0))
          .when(c === lit(Double.PositiveInfinity), lit(Long.MaxValue.toDouble))
          .when(c === lit(Double.NegativeInfinity), lit(Long.MinValue.toDouble))
          .when(abs(c) >= lit(9.223372036854776e18),
            when(c > 0, lit(Long.MaxValue.toDouble)).otherwise(lit(Long.MinValue.toDouble)))
          .otherwise(c.cast(LongType).cast(DoubleType)), _ => true)
      case "abs" => one(abs, i => i)
      case "min" | "max" => args match {
        case Seq(a, b) =>
          for (at <- numExpr(a, ctx, locals); bt <- numExpr(b, ctx, locals)) yield {
            val f = if (m == "min") least(at.col, bt.col) else greatest(at.col, bt.col)
            // Spark least/greatest order NaN as largest; JS propagates NaN
            TC(when(isnan(at.col) || isnan(bt.col), lit(Double.NaN)).otherwise(f),
              TNum(integralClaim(at) && integralClaim(bt)), NoNull,
              err = errJoin(at.err, bt.err))
          }
        case _ => None
      }
      case "sqrt" => one(sqrt, _ => false)
      case "pow" => None // ES pow edge table is long; stay interpreted
      case _ => None
    }
  }

  private def dateCtor(args: Seq[Expr], ctx: Ctx,
      locals: Map[String, TC]): Option[TC] = args match {
    case Seq(a) =>
      compileExpr(a, ctx, locals).flatMap { tc =>
        tc.ty match {
          case TDate(b) => Some(TC(tc.col, TDate(b), NoNull, err = tc.err))
          case _: TStr => a match {
            case StrLit(s) =>
              val ms = JsDateOps.parse(s)
              Some(TC(if (ms.isNaN) lit(null).cast(LongType) else lit(ms.toLong),
                TDate(bounded = !ms.isNaN && ms >= FmtMinMs && ms <= FmtMaxMs), NoNull))
            case _ => None // dynamic ISO parsing stays interpreted
          }
          case TDyn => None // a runtime string takes the DATE-STRING parse,
          // not ToNumber — the dispatch stays interpreted
          case _ => numOf(tc).map { n =>
            // ES TimeClip: NaN / |t|>8.64e15 → Invalid Date; else truncate
            // toward zero (exactly what the in-range ANSI long cast does)
            val ms = when(isnan(n) || abs(n) > lit(MaxTime), lit(null).cast(LongType))
              .otherwise(n.cast(LongType))
            TC(ms, TDate(bounded = boundedMsClaim(tc)), NoNull, err = tc.err)
          }
        }
      }
    case _ => None // multi-arg calendar ctor: stay interpreted
  }

  private def dateMethod(tc: TC, m: String, args: Seq[Expr]): Option[TC] = {
    if (args.nonEmpty) return None
    val ms = tc.col
    val bounded = tc.ty match { case TDate(b) => b; case _ => false }
    def num(c: Column, boundedOut: Boolean = false): Option[TC] =
      Some(TC(when(ms.isNull, lit(Double.NaN)).otherwise(c.cast(DoubleType)),
        TNum(integral = true, boundedMs = boundedOut), NoNull, err = tc.err))
    m match {
      case "getTime" | "valueOf" => num(ms, boundedOut = bounded)
      case "getTimezoneOffset" => num(lit(0L))
      case "getUTCDay" | "getDay" => num(periodField(ms, 86400000L, 7L))
      case "getUTCHours" | "getHours" => num(periodField(ms, 3600000L, 24L))
      case "getUTCMinutes" | "getMinutes" => num(periodField(ms, 60000L, 60L))
      case "getUTCSeconds" | "getSeconds" => num(periodField(ms, 1000L, 60L))
      case "getUTCMilliseconds" | "getMilliseconds" => num(pmod(ms, lit(1000L)))
      case "getUTCFullYear" | "getFullYear" if bounded =>
        num(year(timestamp_millis(ms)))
      case "getUTCMonth" | "getMonth" if bounded =>
        num(month(timestamp_millis(ms)) - lit(1))
      case "getUTCDate" | "getDate" if bounded =>
        num(dayofmonth(timestamp_millis(ms)))
      case "toISOString" if bounded =>
        // invalid date throws the ES RangeError in the interpreter —
        // CATCHABLE, so it rides the err channel (sealed to the same
        // loud raise at any non-try boundary)
        Some(TC(when(ms.isNull, nullStr).otherwise(isoOf(ms)),
          TStr(ascii = true), NoNull,
          err = errJoin(tc.err,
            Some(when(ms.isNull, lit("RangeError: Invalid time value"))))))
      case "toJSON" if bounded =>
        Some(TC(when(ms.isNull, nullStr).otherwise(isoOf(ms)),
          TStr(ascii = true), NullIsJsNull, err = tc.err))
      case _ => None
    }
  }

  private def strMethod(tc: TC, m: String, args: Seq[Expr], ctx: Ctx,
      locals: Map[String, TC]): Option[TC] = {
    // method call on a JS null/undefined throws in the interpreter; only
    // non-null receivers compile
    if (tc.nullAs != NoNull) return None
    val ascii = tc.ty match { case TStr(a) => a; case _ => false }
    def intLit(e: Expr): Option[Int] = e match {
      case NumLit(d) if d == math.rint(d) && d >= 0 && d <= Int.MaxValue =>
        Some(d.toInt)
      case _ => None
    }
    m match {
      // positional ops count UTF-16 units in JS but codepoints in SQL —
      // exact only for provably-ASCII receivers (ISO strings, number
      // strings, ASCII literals)
      case "slice" if ascii => args match {
        case Seq(a) => intLit(a).map(s =>
          TC(tc.col.substr(lit(s + 1), lit(Int.MaxValue)), TStr(true), NoNull,
            err = tc.err))
        case Seq(a, b) =>
          for (s <- intLit(a); e <- intLit(b); if e >= s)
            yield TC(tc.col.substr(lit(s + 1), lit(e - s)), TStr(true), NoNull,
              err = tc.err)
        case _ => None
      }
      case "charAt" if ascii => args match {
        case Seq(a) => intLit(a).map(i =>
          TC(tc.col.substr(lit(i + 1), lit(1)), TStr(true), NoNull,
            err = tc.err))
        case _ => None
      }
      case "indexOf" if ascii => args match {
        case Seq(StrLit(s)) if s.forall(_ < 128) =>
          Some(TC((instr(tc.col, s) - lit(1)).cast(DoubleType),
            TNum(integral = true), NoNull, err = tc.err))
        case _ => None
      }
      case "toLowerCase" => Some(TC(lower(tc.col), TStr(ascii), NoNull, err = tc.err))
      case "toUpperCase" => Some(TC(upper(tc.col), TStr(ascii), NoNull, err = tc.err))
      // the interpreter's .trim is Java String.trim — every char
      // ≤ U+0020, not just the space SQL trim strips
      case "trim" => Some(TC(
        regexp_replace(tc.col, "^[\\u0000-\\u0020]+|[\\u0000-\\u0020]+$", ""),
        TStr(ascii), NoNull, err = tc.err))
      // content predicates — substring containment needs no unit
      // counting, so ANY receiver is exact (no ASCII restriction)
      case "startsWith" | "endsWith" | "includes" => args match {
        case Seq(a) => compileExpr(a, ctx, locals).flatMap { at =>
          strOf(at).map { case (ac, _) =>
            val c = m match {
              case "startsWith" => tc.col.startsWith(ac)
              case "endsWith" => tc.col.endsWith(ac)
              case _ => tc.col.contains(ac)
            }
            TC(c, TBool, NoNull, err = errJoin(tc.err, at.err))
          }
        }
        case _ => None
      }
      case "concat" =>
        args.foldLeft(Option((tc.col, ascii, tc.err))) { (acc, a) =>
          for {
            (c, ca, ce) <- acc
            at <- compileExpr(a, ctx, locals)
            (ac, aa) <- strOf(at)
          } yield (concat(c, ac), ca && aa, errJoin(ce, at.err))
        }.map { case (c, a, e) => TC(c, TStr(a), NoNull, err = e) }

      // regex methods with a LITERAL regex argument — native codegen'd
      // expressions over the interpreter's own JsRegexOps algorithms
      // (same pattern cache, same ES match/replace/split semantics), so
      // compiled == interpreted for every pattern, flag, and subject.
      // The backtracking budget guard throws uncatchably from the
      // codegen'd static → refuse inside `try` (ctx.inTry).
      case "match" if !ctx.inTry => args match {
        case Seq(RegexLit(p, f)) =>
          val digits = digitsOnlyPattern(p, f)
          // no match → JS null; elements: full match + captures, with
          // unmatched groups as SQL NULL = undefined
          Some(TC(JsRegexColumns.matches(tc.col, p, f),
            TStrArr(ascii || digits, digits), NullIsJsNull, err = tc.err))
        case _ => None
      }
      case "replace" if !ctx.inTry => args match {
        case Seq(RegexLit(p, f), rep) =>
          compileExpr(rep, ctx, locals).flatMap { rt =>
            strOf(rt).map { case (rc, ra) =>
              // output chars come from the receiver (via $-substitution)
              // and the replacement only — pattern chars are consumed
              TC(JsRegexColumns.replace(tc.col, rc, p, f), TStr(ascii && ra),
                NoNull, err = errJoin(tc.err, rt.err))
            }
          }
        case _ => None
      }
      case "split" => args match {
        // literal-string separator: ES splits on the LITERAL (quoted for
        // Spark's regex split); limit -1 keeps trailing empty fields
        case Seq(StrLit(sep)) if sep.nonEmpty =>
          Some(TC(
            split(tc.col, java.util.regex.Pattern.quote(sep), -1),
            TStrArr(ascii && sep.forall(_ < 128), digits = false), NoNull,
            err = tc.err))
        case Seq(RegexLit(p, f)) if !ctx.inTry =>
          Some(TC(JsRegexColumns.split(tc.col, p, f, None),
            TStrArr(ascii, digits = false), NoNull, err = tc.err))
        case Seq(RegexLit(p, f), lim) if !ctx.inTry =>
          intLit(lim).map(n =>
            TC(JsRegexColumns.split(tc.col, p, f, Some(n.toDouble)),
              TStrArr(ascii, digits = false), NoNull, err = tc.err))
        case _ => None
      }
      case "search" if !ctx.inTry => args match {
        case Seq(RegexLit(p, f)) =>
          Some(TC(JsRegexColumns.search(tc.col, p, f),
            TNum(integral = true), NoNull, err = tc.err))
        case _ => None
      }
      case _ => None
    }
  }

  // ------------------------------------------------------ handler folds

  /** One state-field update a handler performs per event. `Sum` carries
    * the guarded integral delta (0 when unguarded rows pass); `MaxOf` /
    * `MinOf` carry the guarded candidate value (NULL when the guard
    * fails — max/min aggregates skip nulls). A field must use ONE kind
    * across every handler and branch, or the definition falls back. */
  private sealed trait FieldOp
  private final case class SumTerm(col: Column) extends FieldOp
  /** `integral`: whether the candidate carried an integral claim — what
    * lets a pre-state READ of the field keep the integral type claim it
    * made from an integral $init (non-integral candidates + integral
    * claim → fallback). */
  private final case class MaxTerm(col: Column, integral: Boolean) extends FieldOp
  private final case class MinTerm(col: Column, integral: Boolean) extends FieldOp
  /** Running-extremum RECURRENCE `if (X > s.f) s.f = X` (and the
    * mirrored / min forms, strict comparisons only): equivalent to
    * "argmax over (init, candidates), FIRST occurrence wins ties, NaN
    * candidates skipped" — unlike [[MaxTerm]]'s Math.max, which
    * poisons to NaN. `cand` is the guarded candidate (NULL when the
    * enclosing guard failed); the fold aggregates
    * struct(+0.0-normalized value, tie-break position, RAW value), so
    * -0/+0 never flips a comparison yet the state keeps the exact bit
    * pattern the interpreter holds. */
  private final case class GuardMaxTerm(cand: Column, integral: Boolean) extends FieldOp
  private final case class GuardMinTerm(cand: Column, integral: Boolean) extends FieldOp
  /** Plain overwrite `s.f = <state-free expr>`: last assignment wins, so
    * the fold is max-by-log-position over executed sites — commutative,
    * hence batch/streaming safe. `exec` is the site's guard (whether the
    * statement ran for this event); `frag` the value's JSON.stringify
    * fragment, SQL NULL = JS undefined (stringify skips the key).
    * `rawNum`/`rawStr` carry the site's RAW value column when it is
    * provably a plain number / string (NoNull, no error channel) — what
    * a pre-state READ of the field reconstructs via a latest-preceding-
    * site window; sites without a raw in the init's class refuse such
    * reads. */
  private final case class LastTerm(exec: Column, frag: Column,
      rawNum: Option[Column] = None, rawNumIntegral: Boolean = false,
      rawStr: Option[Column] = None) extends FieldOp
  /** Ordered append `s.f.push(v, …)` with state-free element values: the
    * fold collect_lists each executed site's rendered elements tagged
    * with the event's log position and array_sorts at finalization —
    * the aggregate itself is commutative (sorting restores event order),
    * hence batch/streaming/merge safe. `frags` are the site's element
    * fragments in argument order, already coalesced to "null"
    * (JSON.stringify renders undefined array ELEMENTS as null, unlike
    * object values, which drop the key). */
  private final case class PushTerm(exec: Column, frags: Seq[Column],
      /** Per-element RAW value column when provably a plain string
        * (NoNull, err-free) — what membership pre-state reads of the
        * field compare; siteless elements refuse such reads. */
      rawStrs: Seq[Option[Column]] = Seq.empty,
      /** Self-dedup OFFER guard: set when the push is guarded by the
        * negated membership of ITS OWN field (`if (!s.f.includes(V))
        * s.f.push(V)`) — the guard with that conjunct replaced by true.
        * The membership window counts OFFERS, not executions: exact,
        * because the FIRST offered occurrence of a value always executes
        * the push (no earlier execution exists to have made it a
        * member), so "some preceding offer of V" ⟺ "V is a member as
        * this row's handler starts". Without the offer the window input
        * would reference the window's own output — the circularity gate
        * falls the definition back. */
      offer: Option[Column] = None) extends FieldOp
  /** String accumulator `s.f += <state-free STATICALLY-STRING expr>` (a
    * string rhs makes JS += concatenation whatever the accumulator
    * currently holds): each executed site's appended fragment is
    * collect_listed tagged with the event's log position and joined at
    * finalization in sorted order — the PushTerm scheme, flattened to
    * one string. $init must be a string. */
  private final case class ConcatTerm(exec: Column, frag: Column) extends FieldOp
  /** String PREPEND accumulator `s.f = <state-free STATICALLY-STRING
    * expr> + s.f`: the mirror of [[ConcatTerm]] — fragments are
    * collect_listed tagged with log position and joined in REVERSE
    * position order at finalization, with $init as the SUFFIX (each
    * prepend pushes in front of everything before it). Within one
    * event, later sites prepend in front of earlier ones, so the
    * per-event contribution joins sites in reverse program order. */
  private final case class PrependTerm(exec: Column, frag: Column) extends FieldOp
  /** Dynamic-key counter object `s.f[K] = (s.f[K] || 0) + delta` (either
    * operand order) with a state-free key K and a state-free integral
    * delta — the count-by-<property> shape (the reference's canonical
    * per-type/per-user tallies). Compiles to a TWO-LEVEL aggregation:
    * level 1 groups by (partition, ToString(K)) and partial-sums deltas
    * map-side; level 2 reassembles the object with `map` entries sorted
    * by each key's FIRST execution position — exactly the interpreter's
    * LinkedHashMap insertion order (JsInterp setProp). `exec` is the
    * site guard; `key` the ES ToString of K (evaluated only under
    * `exec`); `delta` the per-event numeric contribution. */
  private final case class MapSumTerm(exec: Column, key: Column, delta: Column) extends FieldOp
  /** Dynamic-key overwrite `s.f[K] = <state-free expr>` — last-write-wins
    * per key (last-seen-value-per-user etc). Same two-level plan as
    * [[MapSumTerm]]: level 1 keeps max-by-position (latest) value struct
    * per (partition, key) plus the key's first execution position; level
    * 2 reassembles in insertion order, dropping keys whose FINAL value is
    * undefined (JSON.stringify omits them, but their insertion slot —
    * consumed by the first write — is preserved for reinserted keys,
    * matching the interpreter's LinkedHashMap). */
  private final case class MapLastTerm(exec: Column, key: Column, frag: Column,
      /** The site's RAW value when provably a plain number / string
        * (NoNull, no error channel) — what a dynamic-key pre-state READ
        * of the field reconstructs via a latest-preceding-site window
        * over (partition, key); sites without a raw in the claimed class
        * refuse such reads (all-string sites flip the claim through the
        * MapStrRetry pass). */
      rawNum: Option[Column] = None, rawNumIntegral: Boolean = false,
      rawStr: Option[Column] = None) extends FieldOp

  /** Guarded per-event contribution terms per state field. */
  private type FieldTerms = List[(String, FieldOp)]

  /** Recognize the running-extremum recurrence statement shape:
    * `if (X > s.f) s.f = X` / `if (s.f < X) s.f = X` → (f, X, isMax=true);
    * `if (X < s.f) s.f = X` / `if (s.f > X) s.f = X` → (f, X, isMax=false).
    * STRICT comparisons only (>= / <= assign on ties — last-wins, a
    * different tie-break; rare, falls back), no else branch, the branch
    * body exactly one assignment, and the condition's candidate
    * STRUCTURALLY identical to the assigned value (JS evaluates X twice;
    * expressions here are pure, so one compile is exact). A candidate
    * that itself mentions s.f is rejected here when it IS s.f, and by
    * the post-walk circularity gate when it merely contains a read. */
  /** Matches `if (x OP s.f) { s.f = x; <rest…> }` — the running-extremum
    * recurrence, optionally followed by trailing statements (the
    * new-record-notification idiom: `{ s.peak = x; emit(…, s.peak) }`).
    * Returns (field, candidate, isMax, rest). */
  private def extremumIdiom(c: Expr, tb: Seq[Stmt], ctx: Ctx,
      locals: Map[String, TC]): Option[(String, Expr, Boolean, Seq[Stmt])] = tb match {
    case ExprStmt(Assign("=", tgt: Member, value)) +: rest =>
      statePathOf(tgt, ctx, locals).flatMap { f =>
        def self(e: Expr): Boolean = e match {
          case m: Member => statePathOf(m, ctx, locals).contains(f)
          case _ => false
        }
        c match {
          case Binary(">", x, s) if self(s) && !self(x) && x == value =>
            Some((f, x, true, rest))
          case Binary("<", s, x) if self(s) && !self(x) && x == value =>
            Some((f, x, true, rest))
          case Binary("<", x, s) if self(s) && !self(x) && x == value =>
            Some((f, x, false, rest))
          case Binary(">", s, x) if self(s) && !self(x) && x == value =>
            Some((f, x, false, rest))
          case _ => None
        }
      }
    case _ => None
  }

  /** One emit/linkTo/linkStreamTo call site: the guard under which it
    * executes plus the four STRING columns of the emitted row. All are
    * state-free by construction (state reads don't compile in handler
    * position), so emissions depend only on the event — which is what
    * makes the whole emitted() path a pure select. */
  private final case class EmitSite(guard: Option[Column], stream: Column,
      tpe: Column, data: Column, meta: Column)

  /** Sequentially-accumulated error state of an enclosing compiled `try`
    * block: `err` is a string column, NULL = no statement so far threw
    * for this row. Each statement inside the try snapshots it (its
    * effective guard adds `err IS NULL` at its position — a row stops
    * executing the block at its first error) and appends its own guarded
    * error conditions; the catch clause runs under the final non-NULL
    * condition. */
  private final class TryAcc { var err: Column = nullStr }

  /** Whether a statement references an identifier (no shadowing
    * analysis — conservative). Used to reject catch bodies that READ the
    * caught error value, which the compiled plan does not model. */
  /** Encoded separator for NESTED state-field paths: `s.a.n` folds under
    * the flat key "a\\u0001n". U+0001 cannot appear in a JS identifier, so
    * member-access paths can never collide with a flat field, and
    * `functions.col` never misparses it (unlike a dot). */
  private[js] val PathSep = "\u0001"

  /** The state-field PATH a member chain addresses: Some("f") for `s.f`,
    * Some("a\\u0001b") for `s.a.b`, None when the base is not the
    * (unshadowed) state parameter. */
  private def statePathOf(e: Expr, ctx: Ctx,
      locals: Map[String, TC]): Option[String] = e match {
    case Member(Ident(s), f)
        if ctx.stateParam.contains(s) && !locals.contains(s) => Some(f)
    case Member(inner: Member, f) =>
      statePathOf(inner, ctx, locals).map(_ + PathSep + f)
    case _ => None
  }

  private def mentionsName(st: Stmt, n: String): Boolean = {
    def inS(s: Stmt): Boolean = s match {
      case VarDecl(ds) => ds.exists(_._2.exists(inE))
      case ExprStmt(e) => inE(e)
      case If(c, t, e) => inE(c) || t.exists(inS) || e.exists(_.exists(inS))
      case While(c, b) => inE(c) || b.exists(inS)
      case DoWhile(c, b) => inE(c) || b.exists(inS)
      case For(i, c, u, b) =>
        i.exists(inS) || c.exists(inE) || u.exists(inE) || b.exists(inS)
      case ForIn(v, o, b) => v == n || inE(o) || b.exists(inS)
      case Return(e) => e.exists(inE)
      case Throw(e) => inE(e)
      case TryStmt(b, _, cb, fb) =>
        b.exists(inS) || cb.exists(_.exists(inS)) || fb.exists(_.exists(inS))
      case Switch(d, cs) => inE(d) || cs.exists { case (t, b) =>
        t.exists(inE) || b.exists(inS) }
      case FuncDecl(_, _, b) => b.exists(inS)
      case BreakStmt | ContinueStmt => false
    }
    def inE(e: Expr): Boolean = e match {
      case Ident(x) => x == n
      case Member(o, _) => inE(o)
      case Index(o, ix) => inE(o) || inE(ix)
      case Call(c, as) => inE(c) || as.exists(inE)
      case Unary(_, x) => inE(x)
      case Update(_, t, _) => inE(t)
      case Binary(_, l, r) => inE(l) || inE(r)
      case Logical(_, l, r) => inE(l) || inE(r)
      case Cond(c, t, f) => inE(c) || inE(t) || inE(f)
      case Assign(_, t, v) => inE(t) || inE(v)
      case ObjLit(fs) => fs.exists(f => inE(f._2))
      case ArrLit(is) => is.exists(inE)
      case FuncLit(_, b) => b.exists(inS)
      case _ => false // literals, regex
    }
    inS(st)
  }

  /** State-field paths a statement may ASSIGN, anywhere inside it —
    * branches, loops, try bodies included. A static overapproximation
    * (state-param shadowing by nested locals is ignored; assignment
    * shapes that would refuse to compile still mark), used only to order
    * pre-state READS before same-handler mutations — an overmark can
    * only cause a conservative fallback, never a wrong compile. Scans
    * statement-position assignment shapes, the only ones the compiled
    * subset accepts. */
  private def mutatedPathsOf(st: Stmt, ctx: Ctx): Set[String] = {
    val out = mutable.Set.empty[String]
    def pathOf(e: Expr): Option[String] = e match {
      case Member(Ident(s), f) if ctx.stateParam.contains(s) => Some(f)
      case Member(inner: Member, f) => pathOf(inner).map(_ + PathSep + f)
      case _ => None
    }
    def inE(e: Expr): Unit = e match {
      case Assign(_, m: Member, _) => pathOf(m).foreach(out += _)
      case Assign(_, Index(m: Member, _), _) => pathOf(m).foreach(out += _)
      case Update(_, m: Member, _) => pathOf(m).foreach(out += _)
      case Call(Member(m: Member, "push"), _) => pathOf(m).foreach(out += _)
      case _ => ()
    }
    def inS(s: Stmt): Unit = s match {
      case ExprStmt(e) => inE(e)
      case If(_, t, e) => t.foreach(inS); e.foreach(_.foreach(inS))
      case While(_, b) => b.foreach(inS)
      case DoWhile(_, b) => b.foreach(inS)
      case For(i, _, _, b) => i.foreach(inS); b.foreach(inS)
      case ForIn(_, _, b) => b.foreach(inS)
      case TryStmt(b, _, cb, fb) =>
        b.foreach(inS); cb.foreach(_.foreach(inS)); fb.foreach(_.foreach(inS))
      case Switch(_, cs) => cs.foreach(_._2.foreach(inS))
      case FuncDecl(_, _, b) => b.foreach(inS)
      case _ => ()
    }
    inS(st)
    out.toSet
  }

  /** `raises`: one nullable string column per top-level `throw` site —
    * non-NULL is the message of the uncaught error this event would
    * throw (already guarded; first site in program order wins via
    * coalesce). The interpreter faults the whole projection on an
    * uncaught handler throw, so the compiled plan `raise_error`s on the
    * first contributing row. */
  private final case class HandlerFold(fields: FieldTerms, emits: List[EmitSite],
      raises: List[Column],
      /** Per map-read field, THIS handler's unguarded read-key column —
        * the per-row partition key of the pre-state window for rows this
        * handler processes (raise-free: errors ride the read's err
        * channel). Handlers that only WRITE the field route their
        * guarded site key instead; see mapPreKey. */
      mapReadKeys: Map[String, Column] = Map.empty,
      /** Per array-membership-read field, THIS handler's unguarded probe
        * value column — the per-row partition value of the membership
        * window (mapReadKeys' mirror; see arrPreVal). */
      arrHasVals: Map[String, Column] = Map.empty,
      /** Array fields THIS handler length-reads. */
      arrLenReads: Set[String] = Set.empty)

  private def compileHandler(fn: JsVal, cp: CompiledJsProjection,
      partitionCol: Column, refs: mutable.Set[String],
      lets: mutable.LinkedHashMap[String, Column],
      stateReads: mutable.Set[String] = null,
      initFields: Map[String, JsVal] = Map.empty,
      preReadNonIntegral: Set[String] = Set.empty,
      preReadMapStr: Set[String] = Set.empty,
      statePostReads: mutable.Set[String] = null): Option[HandlerFold] =
    fn match {
      case JsFunc(params, body, _) =>
        val ctx = new Ctx(cp, partitionCol, refs,
          envParam = params.lift(1), stateParam = params.headOption,
          lets = lets, foldStateReads = stateReads, initFields = initFields,
          preReadNonIntegral = preReadNonIntegral, preReadMapStr = preReadMapStr,
          statePostReads = statePostReads)
        walkStmts(body, None, Map.empty, topLevel = true, ctx)
          .map { case (_, fields, emits, raises) =>
            HandlerFold(fields, emits, raises,
              ctx.foldMapReads.view.mapValues(_._2).toMap,
              ctx.foldArrHas.view.mapValues(_._2).toMap,
              ctx.foldArrLen.toSet) }
      case _ => None
    }

  /** Walk a handler body: a prefix of `var` locals, then guarded
    * `s.f += / -= expr` statements (also their spelled-out
    * `s.f = s.f + expr` forms and `s.f++`/`s.f--`), self-referential
    * `s.f = Math.max/min(s.f, expr)` running extrema, plain state-free
    * overwrites `s.f = expr` (last-assignment-wins), emit/linkTo/
    * linkStreamTo calls with state-free arguments, and nested `if`s,
    * then an optional final `return s`. Anything else → None. */
  private def walkStmts(stmts: Seq[Stmt], guard: Option[Column],
      locals0: Map[String, TC], topLevel: Boolean, ctx: Ctx,
      tryAcc: Option[TryAcc] = None,
      /** Per-field self-dedup OFFER guards for pushes at THIS level —
        * set by the enclosing If whose condition carried the field's
        * negated-membership conjunct (see PushTerm.offer). Never
        * propagated into nested walks: a deeper push runs under extra
        * conditions the offer would not carry. */
      arrOffer: Map[String, Column] = Map.empty): Option[(Map[String, TC], FieldTerms, List[EmitSite], List[Column])] = {
    var locals = locals0
    val acc = List.newBuilder[(String, FieldOp)]
    val emitAcc = List.newBuilder[EmitSite]
    val raiseAcc = List.newBuilder[Column]
    val last = stmts.length - 1

    // "no earlier top-level `return s` fired" — accumulated by the
    // early-return cases below; an early return guards every SUBSEQUENT
    // statement with its negated condition (exactly the statements the
    // interpreter would skip)
    var retGuard: Option[Column] = None

    // guard of the CURRENT statement: the enclosing guard plus, inside a
    // try, "no earlier statement threw", plus "no earlier early return
    // fired" — snapshotted per statement
    def effGuard: Option[Column] = {
      val base: Option[Column] = (guard, tryAcc.map(_.err.isNull)) match {
        case (Some(g), Some(ok)) => Some(g && ok)
        case (Some(g), None) => Some(g)
        case (None, ok) => ok
      }
      (base, retGuard) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, None) => a
        case (None, b) => b
      }
    }
    // route a statement-level error: inside a try → the catch clause's
    // condition; outside → an uncaught-fault raise site
    def registerErr(e: Column, g: Option[Column]): Unit = {
      val scoped = g.map(gg => when(gg, e)).getOrElse(e)
      tryAcc match {
        case Some(a) => a.err = coalesce(a.err, scoped)
        case None => raiseAcc += scoped
      }
    }
    // consume an expression-level err channel at a statement boundary:
    // outside a try → seal (raise embedded at the evaluation point);
    // inside → register it + return the unsealed TC and the ok condition
    def consume(tc: TC, g: Option[Column]): (TC, Option[Column]) =
      (tryAcc, tc.err) match {
        case (Some(_), Some(e)) =>
          registerErr(e, g)
          (tc.copy(err = None), Some(e.isNull))
        case _ =>
          // the seal references the err twice (condition + raise payload)
          // — intern it so the wrapper stays a let reference
          (seal(tc.copy(err = tc.err.map(intern(ctx, _)))), None)
      }
    def andOk(g: Option[Column], ok: Option[Column]): Option[Column] = (g, ok) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (Some(a), None) => Some(a)
      case (None, b) => b
    }

    def addSum(f: String, rhs: Expr, negate: Boolean, g0: Option[Column],
        selfOnRight: Boolean = false): Boolean = {
      val (tc, ok) = numExpr(rhs, ctx, locals) match {
        case Some(v) if integralClaim(v) => consume(v, g0)
        // `s.f += <statically-string expr>` is CONCATENATION in JS —
        // an ordered-append fold, not a sum (never for -=, which
        // coerces numerically). When the self-field was the RIGHT
        // operand (`s.f = expr + s.f`) a string expr PREPENDS — the
        // commutative shortcut only holds for numbers. Non-integral
        // numeric sums stay order-sensitive and fall back.
        case _ =>
          return !negate &&
            (if (selfOnRight) addPrepend(f, rhs, g0) else addConcat(f, rhs, g0))
      }
      val g = andOk(g0, ok)
      val delta = if (negate) -tc.col else tc.col
      acc += f -> SumTerm(
        g.map(gg => when(gg, delta).otherwise(lit(0.0))).getOrElse(delta))
      true
    }
    def addConcat(f: String, rhs: Expr, g0: Option[Column]): Boolean = {
      val sTC0 = compileExpr(rhs, ctx, locals) match {
        case Some(v) if v.ty.isInstanceOf[TStr] => v
        case _ => return false
      }
      val (sTC, ok) = consume(sTC0, g0)
      val g = andOk(g0, ok)
      val frag = strOf(sTC) match {
        case Some((c, _)) => c
        case None => return false
      }
      acc += f -> ConcatTerm(g.getOrElse(lit(true)), frag)
      true
    }
    def addPrepend(f: String, lhs: Expr, g0: Option[Column]): Boolean = {
      val sTC0 = compileExpr(lhs, ctx, locals) match {
        case Some(v) if v.ty.isInstanceOf[TStr] => v
        case _ => return false
      }
      val (sTC, ok) = consume(sTC0, g0)
      val g = andOk(g0, ok)
      val frag = strOf(sTC) match {
        case Some((c, _)) => c
        case None => return false
      }
      acc += f -> PrependTerm(g.getOrElse(lit(true)), frag)
      true
    }
    // running extrema are selection ops: no integrality needed (the fold
    // keeps exact input doubles), and max/min are commutative+associative
    def addExtremum(f: String, rhs: Expr, isMax: Boolean,
        g0: Option[Column]): Boolean = {
      val (tc, ok) = numExpr(rhs, ctx, locals) match {
        case Some(v) => consume(v, g0)
        case None => return false
      }
      val g = andOk(g0, ok)
      val c = g.map(gg => when(gg, tc.col)).getOrElse(tc.col)
      acc += f -> (if (isMax) MaxTerm(c, integralClaim(tc))
        else MinTerm(c, integralClaim(tc)))
      true
    }
    // running-extremum recurrence `if (X > s.f) s.f = X` — see
    // [[GuardMaxTerm]]; X must be provably numeric (a coercible string
    // would compare numerically but ASSIGN the raw string) and not
    // mutated-before-read in this handler
    def addGuardExtremum(f: String, x: Expr, isMax: Boolean,
        g0: Option[Column]): Boolean = {
      if (ctx.foldMutated.contains(f)) return false
      val tc0 = compileExpr(x, ctx, locals) match {
        case Some(v) if v.ty.isInstanceOf[TNum] && v.nullAs == NoNull => v
        case _ => return false
      }
      val (tc, ok) = consume(tc0, g0)
      val g = andOk(g0, ok)
      val cand = g.map(gg => when(gg, tc.col)).getOrElse(tc.col)
      acc += f -> (if (isMax) GuardMaxTerm(cand, integralClaim(tc))
        else GuardMinTerm(cand, integralClaim(tc)))
      true
    }
    def isSelfField(e: Expr, ctx: Ctx, f: String): Boolean = e match {
      case m: Member => statePathOf(m, ctx, locals).contains(f)
      case _ => false
    }
    // `s.f = expr` with a state-free rhs: JSON-render the value per event;
    // the aggregate keeps the latest executed site (max by log position)
    def addLast(f: String, rhs: Expr, g0: Option[Column]): Boolean = {
      val tc = compileExpr(rhs, ctx, locals) match {
        case Some(v) => v
        case None => return false
      }
      val frag0 = fragOf(tc) match {
        case Some(c) => c
        case None => return false
      }
      val (frag, ok) = (tryAcc, tc.err) match {
        case (Some(_), Some(e)) => registerErr(e, g0); (frag0, Some(e.isNull))
        case _ => (sealDerived(frag0, tc.err), None)
      }
      // raw typed value, for pre-state reads of this field: only when
      // the site's value is provably a plain number/string with no
      // error channel (an erroring site's raw can't be sealed)
      val (rawNum, rawStr) = tc.ty match {
        case _: TNum if tc.nullAs == NoNull && tc.err.isEmpty =>
          (Some(tc.col), None)
        case _: TStr if tc.nullAs == NoNull && tc.err.isEmpty =>
          (None, Some(tc.col))
        case _ => (None, None)
      }
      acc += f -> LastTerm(andOk(g0, ok).getOrElse(lit(true)), frag,
        rawNum, integralClaim(tc), rawStr)
      true
    }
    // `s.f[K] = (s.f[K] || 0) + delta`: dynamic-key counter. The rhs
    // re-evaluates K (pure by construction, so once is enough); its
    // error fires before delta's, like the interpreter's rhs-first
    // evaluation. The key is ES-ToString'd (JsInterp setProp does
    // JsVal.toStr on the property key).
    def addMapSum(f: String, kExpr: Expr, rhs: Expr, g0: Option[Column]): Boolean = {
      def selfRead(e: Expr): Boolean = e match {
        case Logical("||", Index(m2: Member, k2), NumLit(z)) =>
          statePathOf(m2, ctx, locals).contains(f) && k2 == kExpr && z == 0.0
        case _ => false
      }
      val deltaE = rhs match {
        case Binary("+", l, r) if selfRead(l) => r
        case Binary("+", l, r) if selfRead(r) => l
        case _ => return addMapLast(f, kExpr, rhs, g0)
      }
      // a pre-state read of f in this handler pins the window key — the
      // write site must use the same key expression or the window's
      // per-row partition key is ill-defined
      if (ctx.foldMapReads.get(f).exists(_._1 != kExpr)) return false
      val kTC0 = compileExpr(kExpr, ctx, locals) match {
        case Some(v) => v
        case None => return false
      }
      val (kTC, kOk) = consume(kTC0, g0)
      val g1 = andOk(g0, kOk)
      val (dTC, dOk) = numExpr(deltaE, ctx, locals) match {
        case Some(v) if integralClaim(v) => consume(v, g1)
        case _ => return false // non-integral counters lose exactness
      }
      val g = andOk(g1, dOk)
      val kCol = strOf(kTC) match {
        case Some((c, _)) => c
        case None => return false
      }
      acc += f -> MapSumTerm(g.getOrElse(lit(true)), kCol, dTC.col)
      true
    }
    // `s.f[K] = <state-free expr>`: last-write-wins per dynamic key. The
    // value renders as its JSON.stringify fragment (SQL NULL = undefined,
    // which drops the key from output while consuming its insertion slot).
    def addMapLast(f: String, kExpr: Expr, rhs: Expr, g0: Option[Column]): Boolean = {
      if (ctx.foldMapReads.get(f).exists(_._1 != kExpr)) return false // see addMapSum
      val kTC0 = compileExpr(kExpr, ctx, locals) match {
        case Some(v) => v
        case None => return false
      }
      val (kTC, kOk) = consume(kTC0, g0)
      val g1 = andOk(g0, kOk)
      val vTC = compileExpr(rhs, ctx, locals) match {
        case Some(v) => v
        case None => return false
      }
      val frag0 = fragOf(vTC) match {
        case Some(c) => c
        case None => return false
      }
      val (frag, vOk) = (tryAcc, vTC.err) match {
        case (Some(_), Some(e)) => registerErr(e, g1); (frag0, Some(e.isNull))
        case _ => (sealDerived(frag0, vTC.err), None)
      }
      val g = andOk(g1, vOk)
      val kCol = strOf(kTC) match {
        case Some((c, _)) => c
        case None => return false
      }
      // raw typed value for dynamic-key pre-state reads of this field
      // (the LastTerm contract, per key)
      val rawNum = vTC.ty match {
        case _: TNum if vTC.nullAs == NoNull && vTC.err.isEmpty => Some(vTC.col)
        case _ => None
      }
      val rawStr = vTC.ty match {
        case _: TStr if vTC.nullAs == NoNull && vTC.err.isEmpty => Some(vTC.col)
        case _ => None
      }
      acc += f -> MapLastTerm(g.getOrElse(lit(true)), kCol, frag,
        rawNum, integralClaim(vTC), rawStr)
      true
    }
    // `s.f.push(e, …)` in statement position (result unused): one site,
    // all elements state-free. JS evaluates every argument BEFORE the
    // push runs, so a throwing later argument suppresses the whole
    // site's append — one combined exec guard is exact.
    def addPush(f: String, args: Seq[Expr], g0: Option[Column],
        offer: Option[Column] = None): Boolean = {
      // one-shared-value rule: a handler that membership-READS f must
      // push the structurally identical expression — the membership
      // window partitions by ONE per-row value column (see addMapSum)
      if (ctx.foldArrHas.contains(f) &&
          (args.size != 1 || ctx.foldArrHas(f)._1 != args.head)) return false
      var g = g0
      val rawStrs = Seq.newBuilder[Option[Column]]
      val frags = args.map { a =>
        val tc = compileExpr(a, ctx, locals) match {
          case Some(v) => v
          case None => return false
        }
        rawStrs += (tc.ty match {
          case TStr(_) if tc.nullAs == NoNull && tc.err.isEmpty => Some(tc.col)
          case _ => None
        })
        val frag0 = fragOf(tc) match {
          case Some(c) => c
          case None => return false
        }
        val (frag, ok) = (tryAcc, tc.err) match {
          case (Some(_), Some(e)) => registerErr(e, g0); (frag0, Some(e.isNull))
          case _ => (sealDerived(frag0, tc.err), None)
        }
        g = andOk(g, ok)
        coalesce(frag, lit("null")) // undefined element renders as null
      }
      acc += f -> PushTerm(g.getOrElse(lit(true)), frags, rawStrs.result(), offer)
      true
    }

    for ((st, i) <- stmts.zipWithIndex) {
      // POST-read ordering: a post-channel read is the value after ALL
      // of this handler's mutations of the field, so a mutation in any
      // LATER statement would diverge — refuse to the interpreter. The
      // snapshot is taken before the statement compiles: a read
      // registered INSIDE this statement (mutate-then-emit in one `if`
      // body) does not indict the statement's own mutations.
      val postBefore: Set[String] =
        if (ctx.statePostReads == null || ctx.foldPostReads.isEmpty) Set.empty
        else ctx.foldPostReads.toSet
      st match {
      // top-level var decls bind at their statement position (later
      // statements see the value; earlier references fall back on the
      // unknown-ident path). Branch-local vars stay interpreted: their
      // binding would be conditional.
      case VarDecl(decls) if topLevel =>
        val g0 = effGuard
        for ((n, init) <- decls) {
          val tc = init match {
            case Some(e) => compileExpr(e, ctx, locals) match {
              case Some(v) =>
                // a throwing initializer throws AT THE DECLARATION, like
                // the interpreter — registered even if the var is unused
                v.err.foreach(registerErr(_, g0))
                v.copy(err = None)
              case None => return None
            }
            case None => tUndef
          }
          locals += (n -> tc)
        }
      // state-field update targets resolve through statePathOf: a flat
      // `s.f` OR a nested member chain `s.a.b.c` (path-encoded key) —
      // the downstream fold machinery is path-agnostic, and compile()
      // flattens $init / rebuilds the nested JSON at the boundary
      case ExprStmt(Assign(op @ ("+=" | "-="), tgt: Member, rhs))
          if statePathOf(tgt, ctx, locals).isDefined =>
        val f = statePathOf(tgt, ctx, locals).get
        if (!addSum(f, rhs, negate = op == "-=", effGuard)) return None
      case ExprStmt(Assign("=", tgt: Member, rhs))
          if statePathOf(tgt, ctx, locals).isDefined =>
        val f = statePathOf(tgt, ctx, locals).get
        val g0 = effGuard
        // the left spine of a `+` chain: `s.f + e1 + e2` parses
        // left-assoc as `(s.f + e1) + e2`, so the accumulator sits at
        // the HEAD of the flattened spine
        def plusChain(e: Expr): List[Expr] = e match {
          case Binary("+", l, r) => plusChain(l) :+ r
          case other => List(other)
        }
        val ok = rhs match {
          // `s.f = s.f + e1 + e2 + …` is the spelled-out accumulation
          // chain: each tail part contributes its own term in program
          // order (a string part appends, integral parts sum — mixed
          // kinds on one field are refused downstream, matching JS's
          // type-dependent `+`). Covers the 2-element `s.f = s.f + e`.
          // Inside a try, a MULTI-part chain is refused: JS evaluates
          // the whole rhs before assigning, so one throwing part must
          // suppress EVERY part's contribution — but each addSum call
          // guards its term only by its own part's ok-condition, which
          // would let the error-free parts land (outside a try the seal
          // faults the projection at evaluation, so the per-part guards
          // are equivalent there).
          case Binary("+", _, _)
              if plusChain(rhs).headOption.exists(isSelfField(_, ctx, f)) &&
                !plusChain(rhs).tail.exists(isSelfField(_, ctx, f)) &&
                (plusChain(rhs).sizeIs <= 2 || tryAcc.isEmpty) =>
            plusChain(rhs).tail.forall(p => addSum(f, p, negate = false, g0))
          // `s.f = e + s.f`: commutative for a NUMERIC e; a statically
          // string e is a PREPEND (addSum routes it to addPrepend)
          case Binary("+", l, r) if isSelfField(r, ctx, f) =>
            addSum(f, l, negate = false, g0, selfOnRight = true)
          case Binary("-", l, r) if isSelfField(l, ctx, f) => addSum(f, r, negate = true, g0)
          case Call(Member(Ident("Math"), m @ ("max" | "min")), Seq(a, b))
              if unshadowedMath(ctx, locals) &&
                (isSelfField(a, ctx, f) ^ isSelfField(b, ctx, f)) =>
            addExtremum(f, if (isSelfField(a, ctx, f)) b else a, isMax = m == "max", g0)
          case _ => addLast(f, rhs, g0)
        }
        if (!ok) return None
      case ExprStmt(Update(op, tgt: Member, _))
          if statePathOf(tgt, ctx, locals).isDefined =>
        // statement-position s.f++ / ++s.f: the result value is unused,
        // so both fixities are the same ±1 sum contribution
        val f = statePathOf(tgt, ctx, locals).get
        if (!addSum(f, NumLit(1), negate = op == "--", effGuard)) return None
      case ExprStmt(Assign("=", Index(tgt: Member, kExpr), rhs))
          if statePathOf(tgt, ctx, locals).isDefined =>
        if (!addMapSum(statePathOf(tgt, ctx, locals).get, kExpr, rhs, effGuard))
          return None
      case ExprStmt(Call(Member(tgt: Member, "push"), args))
          if statePathOf(tgt, ctx, locals).isDefined && args.nonEmpty =>
        val f = statePathOf(tgt, ctx, locals).get
        // the offer is valid only while this level's guard is still
        // exactly the body-entry guard — an earlier early-return added a
        // conjunct the offer would not carry
        val off = if (retGuard.isEmpty) arrOffer.get(f) else None
        if (!addPush(f, args, effGuard, off))
          return None
      case ExprStmt(Call(Ident(fn @ ("emit" | "linkTo" | "linkStreamTo")), args))
          if unshadowedNative(ctx, locals, fn) =>
        compileEmitArgs(fn, args, ctx, locals) match {
          case Some((stream, tpe, data, meta, argErr)) =>
            val g0 = effGuard
            // a throwing argument skips the emission and throws (caught
            // by an enclosing try, else faulting the projection)
            argErr.foreach(registerErr(_, g0))
            emitAcc += EmitSite(andOk(g0, argErr.map(_.isNull)),
              stream, tpe, data, meta)
          case None => return None
        }
      // early return: `if (cond) return s;` — optionally with statements
      // before the return, optionally an else branch, and the return may
      // sit in EITHER branch (or both) — at handler top level, the
      // ubiquitous in-handler event filter. A branch that ends in
      // `return s` runs (minus the return) under its condition, and
      // every SUBSEQUENT top-level statement runs under the negation of
      // "a returning branch was taken", via retGuard; when both branches
      // return, everything after the if is dead code. Refused inside try
      // (a return there would also have to skip the rest of the try body
      // through the error channel); returns NESTED deeper than a branch
      // tail stay refused (the nested walk rejects them).
      case If(c, tb, eb) if topLevel && tryAcc.isEmpty && {
          def endsRet(ss: Seq[Stmt]) = ss.lastOption.exists {
            case Return(Some(Ident(s))) =>
              ctx.stateParam.contains(s) && !locals.contains(s)
            case _ => false
          }
          endsRet(tb) || eb.exists(endsRet)
        } =>
        def endsRet(ss: Seq[Stmt]) = ss.lastOption.exists {
          case Return(Some(Ident(s))) =>
            ctx.stateParam.contains(s) && !locals.contains(s)
          case _ => false
        }
        val tRet = endsRet(tb)
        val eRet = eb.exists(endsRet)
        val g0 = effGuard
        val cc0 = truthyExpr(c, ctx, locals) match {
          case Some(v) => v.copy(col = intern(ctx, v.col),
            err = v.err.map(intern(ctx, _)))
          case None => return None
        }
        // outside a try the seal embeds the raise at the evaluation
        // point: a throwing condition faults, like the interpreter
        val cc = sealCol(cc0)
        val taken = g0
          .map(g => intern(ctx, when(g, cc).otherwise(lit(false))))
          .getOrElse(intern(ctx, cc))
        walkStmts(if (tRet) tb.dropRight(1) else tb, Some(taken), locals,
            topLevel = false, ctx, tryAcc) match {
          case Some((_, ts, es2, rs2)) => acc ++= ts; emitAcc ++= es2; raiseAcc ++= rs2
          case None => return None
        }
        // the else body runs exactly when the if executed AND the
        // condition failed (false when the enclosing guard failed — the
        // if never ran)
        val elseTaken = g0
          .map(g => intern(ctx, when(g, !cc).otherwise(lit(false))))
          .getOrElse(intern(ctx, !cc))
        eb.foreach { es =>
          walkStmts(if (eRet) es.dropRight(1) else es, Some(elseTaken),
              locals, topLevel = false, ctx, tryAcc) match {
            case Some((_, ts, es2, rs2)) =>
              acc ++= ts; emitAcc ++= es2; raiseAcc ++= rs2
            case None => return None
          }
        }
        // retGuard factors are TRUE when the enclosing guard failed: the
        // skip semantics only apply when this if actually executed (and
        // the guard is lazy — the condition must not evaluate when the
        // enclosing guard already failed; it may contain a throwing
        // member access)
        val cont: Option[Column] = (tRet, eRet) match {
          case (true, true) => None // both branches return — dead after
          case (true, false) => Some(g0
            .map(g => intern(ctx, when(g, !cc).otherwise(lit(true))))
            .getOrElse(intern(ctx, !cc)))
          case (false, true) => Some(g0
            .map(g => intern(ctx, when(g, cc).otherwise(lit(true))))
            .getOrElse(intern(ctx, cc)))
          case (false, false) => Some(lit(true)) // unreachable by the case guard
        }
        retGuard = cont match {
          case None => Some(lit(false))
          case Some(k) => Some(retGuard.map(_ && k).getOrElse(k))
        }

      // unconditional mid-block `return s`: nothing after it ever runs
      case Return(Some(Ident(s))) if topLevel && i < last &&
          ctx.stateParam.contains(s) && !locals.contains(s) =>
        retGuard = Some(lit(false))

      // running-extremum recurrence (see [[extremumIdiom]]): the guard
      // READS s.f, but the fold it defines is a pure selection over the
      // candidates — compiled WITHOUT the read, so no window is needed
      // unless some OTHER statement reads the field. Only inside
      // states()-fold handlers (the only consumer with the GMax/GMin
      // aggregate machinery).
      case If(c, tb, None) if ctx.foldStateReads != null &&
          extremumIdiom(c, tb, ctx, locals).isDefined =>
        val (f, x, isMax, rest) = extremumIdiom(c, tb, ctx, locals).get
        if (!addGuardExtremum(f, x, isMax, effGuard)) return None
        if (rest.nonEmpty) {
          // trailing statements (the new-record-notification idiom) run
          // under the recurrence's condition, compiled as an ordinary
          // guard: its read of s.f is a normal PRE-state read (the
          // recurrence itself stayed read-free above), and reads of f
          // INSIDE the trailing statements see the just-assigned value
          // (post channel — foldMutated marked before the walk). A
          // trailing re-assignment of f would break the recurrence →
          // generic-If handling would refuse anyway; refuse here.
          if (rest.exists(st => mutatedPathsOf(st, ctx).contains(f)))
            return None
          val g0 = effGuard
          // the condition compiles BEFORE the mutation mark: the
          // interpreter evaluates it before the assignment, so its read
          // of s.f is a PRE-state read
          val cc0 = truthyExpr(c, ctx, locals) match {
            case Some(v) => v.copy(col = intern(ctx, v.col),
              err = v.err.map(intern(ctx, _)))
            case None => return None
          }
          ctx.foldMutated += f
          val (cc, ok) = (tryAcc, cc0.err) match {
            case (Some(_), Some(er)) =>
              registerErr(er, g0); (cc0.col, Some(er.isNull))
            case _ => (sealCol(cc0), None)
          }
          val base = andOk(g0, ok)
          val nested = base
            .map(g => intern(ctx, when(g, cc).otherwise(lit(false))))
            .getOrElse(cc)
          walkStmts(rest, Some(nested), locals, topLevel = false, ctx, tryAcc) match {
            case Some((_, ts, es2, rs2)) =>
              acc ++= ts; emitAcc ++= es2; raiseAcc ++= rs2
            case None => return None
          }
        }

      case If(c, t, e) =>
        val g0 = effGuard
        val cc0 = truthyExpr(c, ctx, locals) match {
          // guards are referenced by every statement they cover — intern
          // the raise-free pieces so nesting compounds let REFERENCES,
          // not repeated CaseWhen chains
          case Some(v) => v.copy(col = intern(ctx, v.col),
            err = v.err.map(intern(ctx, _)))
          case None => return None
        }
        val (cc, ok) = (tryAcc, cc0.err) match {
          case (Some(_), Some(er)) => registerErr(er, g0); (cc0.col, Some(er.isNull))
          case _ => (sealCol(cc0), None)
        }
        val base = andOk(g0, ok)
        // lazy guard nesting (CaseWhen): the inner condition must not
        // evaluate when the outer guard already failed — it may contain a
        // throwing member access the outer `if` protects in JS
        def nest(cond: Column): Column =
          base.map(g => intern(ctx, when(g, cond).otherwise(lit(false))))
            .getOrElse(cond)
        // self-deduplicating list append: a negated-membership conjunct
        // of field f makes a then-branch push of f execution-guarded by
        // f's OWN pre-state window — circular. The membership window
        // instead counts OFFERS: the condition with that conjunct
        // replaced by `true` (see PushTerm.offer). Built only when the
        // rebuilt condition is err-free (the offer column is a window
        // input — it must be raise-free on every row) and outside try.
        val arrOffers: Map[String, Column] =
          if (tryAcc.nonEmpty || ctx.foldStateReads == null) Map.empty
          else arrDedupRebuilds(c, ctx, locals).flatMap { case (f, rebuilt) =>
            truthyExpr(rebuilt, ctx, locals) match {
              case Some(oc) if oc.err.isEmpty => Some(f -> nest(oc.col))
              case _ => None
            }
          }.toMap
        walkStmts(t, Some(nest(cc)), locals, topLevel = false, ctx, tryAcc,
            arrOffers) match {
          case Some((_, ts, es2, rs2)) => acc ++= ts; emitAcc ++= es2; raiseAcc ++= rs2
          case None => return None
        }
        e.foreach { es =>
          walkStmts(es, Some(nest(!cc)), locals, topLevel = false, ctx, tryAcc) match {
            case Some((_, ts, es2, rs2)) => acc ++= ts; emitAcc ++= es2; raiseAcc ++= rs2
            case None => return None
          }
        }

      // try/catch: the try body's statements chain through a TryAcc (a
      // row stops executing the block at its first error); the catch
      // body runs under the accumulated error condition. The caught
      // VALUE is not modeled — catch params must be unreferenced — and
      // expression forms whose errors cannot ride the channel refuse to
      // compile inside try (ctx.inTry).
      case TryStmt(body, catchParam, catchBody, finallyBody) =>
        val g0 = effGuard
        catchParam.foreach { p =>
          if (catchBody.exists(_.exists(mentionsName(_, p)))) return None
        }
        val inner = new TryAcc
        val saveInTry = ctx.inTry
        ctx.inTry = true
        val bodyOut = walkStmts(body, g0, locals, topLevel = false, ctx, Some(inner))
        ctx.inTry = saveInTry
        bodyOut match {
          case Some((_, ts, es2, rs2)) => acc ++= ts; emitAcc ++= es2; raiseAcc ++= rs2
          case None => return None
        }
        catchBody match {
          case Some(cb) =>
            // entries in inner.err were registered under their own full
            // guards, so the condition is already scope-correct
            walkStmts(cb, Some(inner.err.isNotNull), locals,
              topLevel = false, ctx, tryAcc) match {
              case Some((_, ts, es2, rs2)) => acc ++= ts; emitAcc ++= es2; raiseAcc ++= rs2
              case None => return None
            }
          case None =>
            // try/finally with no catch: the error propagates outward
            registerErr(inner.err, None)
        }
        finallyBody.foreach { fb =>
          walkStmts(fb, g0, locals, topLevel = false, ctx, tryAcc) match {
            case Some((_, ts, es2, rs2)) => acc ++= ts; emitAcc ++= es2; raiseAcc ++= rs2
            case None => return None
          }
        }

      // `switch` compiles to the matched-clause INDEX (a lazy first-match
      // CaseWhen over the case tests — ES evaluates tests in order until
      // the first strict match, skipping the default clause) plus one
      // "execution enters this clause" guard per clause: the first-match
      // start, or fallthrough from the previous clause (a clause falls
      // unless its body ends in `break`/`throw`; `default` enters on
      // no-match wherever it sits, like the interpreter). `break`
      // anywhere but a clause tail (and any `continue`) falls back.
      case Switch(disc, cases) =>
        val g0 = effGuard
        val dTC = compileExpr(disc, ctx, locals) match {
          // inside a try, a throwing discriminant would need its error
          // rerouted through every clause guard — fall back instead
          case Some(v) if tryAcc.isDefined && v.err.isDefined => return None
          case Some(v) => seal(v)
          case None => return None
        }
        // breaks nested under ifs/trys would break out of our switch
        // mid-clause — unsupported; a NESTED switch owns its breaks and
        // is handled by its own walk, so the scan does not descend there
        def badBreak(ss: Seq[Stmt]): Boolean = ss.exists {
          case BreakStmt | ContinueStmt => true
          case If(_, t, e) => badBreak(t) || e.exists(badBreak)
          case TryStmt(b, _, cb, fb) =>
            badBreak(b) || cb.exists(badBreak) || fb.exists(badBreak)
          case _ => false
        }
        val tests: Seq[(Int, Column)] = {
          val b = Vector.newBuilder[(Int, Column)]
          for (((t, _), i) <- cases.zipWithIndex; te <- t) {
            val tTC = compileExpr(te, ctx, locals) match {
              case Some(v) if tryAcc.isDefined && v.err.isDefined => return None
              case Some(v) => seal(v)
              case None => return None
            }
            val m = eqBase(dTC, tTC, strict = true) match {
              case Some(c) => c
              case None => return None
            }
            b += ((i, m))
          }
          b.result()
        }
        // matched-clause index, evaluated only under the enclosing guard
        val idxRaw: Column =
          if (tests.isEmpty) lit(-1)
          else tests.foldLeft(Option.empty[Column]) { case (w, (i, m)) =>
            Some(w match {
              case None => when(m, lit(i))
              case Some(c) => c.when(m, lit(i))
            })
          }.get.otherwise(lit(-1))
        val idx: Column =
          g0.map(g => when(g, idxRaw).otherwise(lit(-1))).getOrElse(idxRaw)
        val noMatch = g0.map(g => g && idx === lit(-1))
          .getOrElse(idx === lit(-1))
        var prevFalls: Column = lit(false)
        for (((testOpt, body0), i) <- cases.zipWithIndex) {
          val start: Column = testOpt match {
            case Some(_) => idx === lit(i)
            case None => noMatch
          }
          val entered = start || prevFalls
          val (body, endsBreak) = body0.lastOption match {
            case Some(BreakStmt) => (body0.dropRight(1), true)
            case _ => (body0, false)
          }
          if (badBreak(body)) return None
          walkStmts(body, Some(entered), locals, topLevel = false, ctx, tryAcc) match {
            case Some((_, ts, es2, rs2)) =>
              acc ++= ts; emitAcc ++= es2; raiseAcc ++= rs2
            case None => return None
          }
          val endsThrow = body.lastOption.exists(_.isInstanceOf[Throw])
          prevFalls = if (endsBreak || endsThrow) lit(false) else entered
        }

      // a top-level throw: inside a try it reaches the catch clause (the
      // caught value is unread — catch params must be unreferenced, so a
      // static marker suffices); uncaught it faults the projection on the
      // first event that reaches it, with a message mirroring JsThrown's
      // ("Name: msg") best-effort
      case Throw(e) =>
        val g0 = effGuard
        tryAcc match {
          case Some(_) => registerErr(lit("thrown"), g0)
          case None =>
            def errMsg(ex: Expr): Column = ex match {
              case Call(Ident(n @ ("Error" | "TypeError" | "RangeError" |
                  "SyntaxError")), as) if unshadowedNative(ctx, locals, n) =>
                as.headOption.flatMap(compileExpr(_, ctx, locals)).map(seal)
                  .flatMap(tc => strOf(tc).map(_._1)) match {
                  case Some(m) => concat(lit(n + ": "), m)
                  case None => lit(n)
                }
              case StrLit(s) => lit(s)
              case _ => lit("js handler throw")
            }
            raiseAcc += (g0 match {
              case Some(g) => when(g, errMsg(e))
              case None => errMsg(e)
            })
        }

      case Return(None) if topLevel && i == last => ()
      case Return(Some(Ident(s))) if topLevel && i == last &&
          ctx.stateParam.contains(s) && !locals.contains(s) => ()
      case _ => return None
    }
    // pre-state read ordering: fields this statement may have assigned
    // (anywhere inside it — branches included) are marked so that any
    // LATER read of them in this handler routes via the post channel.
    // Nested walks mark their statements through the same ctx as they
    // recurse, so the order is exactly interpreter statement order.
    if (ctx.foldStateReads != null) {
      val muts = mutatedPathsOf(st, ctx)
      // post-read ordering (see the snapshot above)
      if (postBefore.nonEmpty && muts.exists(postBefore)) return None
      ctx.foldMutated ++= muts
    }
    }
    Some((locals, acc.result(), emitAcc.result(), raiseAcc.result()))
  }

  /** Per-event uncaught-throw message, CASE-routed across the typed
    * handlers with $any as the default — the same handler routing as
    * step(). None when no handler contains a throw site. */
  private def raiseRouted(typedHandlers: Seq[(String, HandlerFold)],
      anyHandler: Option[HandlerFold]): Option[Column] = {
    def one(h: HandlerFold): Option[Column] =
      if (h.raises.isEmpty) None
      else if (h.raises.sizeIs == 1) Some(h.raises.head)
      else Some(coalesce(h.raises: _*)) // first site in program order wins
    val anyR = anyHandler.flatMap(one)
    val typedR = typedHandlers.map { case (t, h) => t -> one(h) }
    if (anyR.isEmpty && typedR.forall(_._2.isEmpty)) None
    else {
      val dflt = anyR.getOrElse(nullStr)
      Some(
        if (typedR.isEmpty) dflt
        else typedR.foldLeft(Option.empty[Column]) { case (acc, (t, r)) =>
          val c = r.getOrElse(nullStr)
          Some(acc match {
            case None => when(col("event_type") === t, c)
            case Some(w) => w.when(col("event_type") === t, c)
          })
        }.get.otherwise(dflt))
    }
  }

  /** One emit/linkTo/linkStreamTo call with state-free arguments →
    * the four string columns of the emitted row plus the joined error
    * channel of the arguments (in evaluation order), mirroring the
    * natives in CompiledJsProjection (emit JSON-serializes the body,
    * undefined → "null"; linkTo reads the RESOLVED identity off the
    * envelope, formatting `n@stream`; linkStreamTo references a stream
    * by name). Values are UNSEALED — the caller guards the site with
    * err-IS-NULL and registers the error (a throwing argument skips the
    * emission and throws). Extra-metadata arguments stay interpreted
    * (None). */
  private def compileEmitArgs(fn: String, args: Seq[Expr], ctx: Ctx,
      locals: Map[String, TC]): Option[(Column, Column, Column, Column, Option[Column])] = {
    var argErr: Option[Column] = None
    def str(e: Expr): Option[Column] =
      compileExpr(e, ctx, locals).flatMap { tc =>
        argErr = errJoin(argErr, tc.err)
        strOf(tc).map(_._1)
      }
    def stringifyArg(e: Expr): Option[Column] = e match {
      case ObjLit(fields) =>
        val env = mutable.LinkedHashMap.empty[String, TC]
        for ((k, fe) <- fields) compileExpr(fe, ctx, locals) match {
          case Some(tc) =>
            argErr = errJoin(argErr, tc.err)
            env(k) = tc.copy(err = None)
          case None => return None
        }
        renderStateJson(env.toSeq)
      // stringify(x).getOrElse("null"): the emit native substitutes
      // "null" where stringify yields no document (undefined)
      case other => compileExpr(other, ctx, locals).flatMap { tc =>
        argErr = errJoin(argErr, tc.err)
        fragOf(tc).map(frag => coalesce(frag, lit("null")))
      }
    }
    fn match {
      case "emit" if args.length >= 2 && args.length <= 3 =>
        for {
          stream <- str(args(0))
          tpe <- str(args(1))
          data <- args.lift(2) match {
            case Some(b) => stringifyArg(b)
            case None => Some(lit("{}")) // default body JsObj.empty
          }
        } yield (stream, tpe, data, nullStr, argErr)
      case "linkTo" if args.length == 1 ||
          (args.length == 2 && (args(1) match {
            case Ident(n) => ctx.envParam.contains(n) && !locals.contains(n)
            case _ => false
          })) =>
        // the envelope's streamId/sequenceNumber are the RESOLVED identity
        for {
          stream <- str(args(0))
          sid <- envField("streamId", ctx)
          num <- envField("sequenceNumber", ctx)
        } yield (stream, lit(graft.model.EventEnvelope.LinkEventType),
          concat(num.col.cast(LongType).cast(StringType), lit("@"), sid.col),
          nullStr, argErr)
      case "linkStreamTo" if args.length <= 2 =>
        for {
          stream <- str(args(0))
          referenced <- args.lift(1) match {
            case Some(e) => str(e)
            case None => Some(in(ctx, "stream_id")) // the LINK-side stream
          }
        } yield (stream, lit(graft.model.EventEnvelope.StreamLinkEventType),
          referenced, nullStr, argErr)
      case _ => None
    }
  }

  // ------------------------------------------- transformBy / filterBy

  /** Compile the transformBy/filterBy chain over the aggregated state
    * field environment. Each fn must be `function(s) { return <expr>; }`
    * — filters yield a where-condition against their stage's env,
    * transforms an object literal rebuilding the env. All conditions are
    * conjunctive (transforms are row-wise pure, so evaluation order
    * collapses), exactly applyTransforms' short-circuit semantics. */
  private def compileTransformChain(cp: CompiledJsProjection,
      refs: mutable.Set[String], env0: Seq[(String, TC)],
      transforms: List[(String, JsVal)],
      lets: mutable.LinkedHashMap[String, Column]): Option[(Seq[Column], Seq[(String, TC)])] = {
    var env = env0
    val conds = Vector.newBuilder[Column]
    for ((kind, fn) <- transforms) fn match {
      case JsFunc(params, body, _) if params.nonEmpty =>
        val ctx = new Ctx(cp, lit(""), refs, envParam = None,
          stateParam = Some(params.head), stateEnv = env.toMap, lets = lets)
        body match {
          case Seq(Return(Some(e))) =>
            if (kind == "filter") truthyExpr(e, ctx, Map.empty) match {
              case Some(c) => conds += sealCol(c)
              case None => return None
            } else e match {
              case ObjLit(fields) =>
                // ES object literal: duplicate keys keep the first
                // position, last value
                val out = mutable.LinkedHashMap.empty[String, TC]
                for ((k, fe) <- fields) compileExpr(fe, ctx, Map.empty) match {
                  case Some(tc) => out(k) = seal(tc)
                  case None => return None
                }
                env = out.toSeq
              case _ => return None // non-object-literal transform result
            }
          case _ => return None
        }
      case _ => return None
    }
    Some((conds.result(), env))
  }

  /** Render a dynamic field env as its JSON.stringify form: each part is
    * the nullable `"key":value` fragment from [[fragOf]] (SQL NULL =
    * undefined-valued → key skipped for that row, exactly stringify's
    * property elision), joined by concat_ws. None = a field the fragment
    * renderer cannot express → whole definition falls back. */
  private def renderStateJson(env: Seq[(String, TC)]): Option[Column] = {
    val parts = Vector.newBuilder[Column]
    for ((k, tc) <- env) {
      val keyJson = JsVal.stringify(JsStr(k)).get + ":"
      val v: Column = tc.ty match {
        case TFrag => tc.col // pre-rendered; NULL = key absent this row
        case _ => fragOf(tc) match {
          case Some(frag) => frag
          case None => return None
        }
      }
      parts += concat(lit(keyJson), v) // a NULL fragment nulls the part
    }
    val ps = parts.result()
    Some(
      if (ps.isEmpty) lit("{}")
      else concat(lit("{"), concat_ws(",", ps: _*), lit("}")))
  }

  // --------------------------------------------------------- top level

  /** Try to compile the whole definition to a Column plan. None = use
    * the interpreter (never an error — unsupported is a fallback). */
  /** Partition-key column (+ whether null keys must be filtered) for the
    * definition: foreachStream = the stream id, partitionBy = the
    * compiled key fn, single = "". */
  private def compileKey(cp: CompiledJsProjection,
      refs: mutable.Set[String],
      lets: mutable.LinkedHashMap[String, Column]): Option[(Column, Boolean)] = {
    val spec = cp.spec
    if (spec.foreachStream) Some((col("stream_id"), false))
    else if (spec.hasPartitionBy) cp.partitionFnOpt match {
      case Some(JsFunc(params, body, _)) =>
        val ctx = new Ctx(cp, lit(""), refs, envParam = params.headOption,
          stateParam = None, lets = lets)
        // body: optional var prefix + a single return expression
        var locals = Map.empty[String, TC]
        var key: Option[Column] = None
        for ((st, i) <- body.zipWithIndex) st match {
          case VarDecl(decls) if key.isEmpty =>
            for ((n, ie) <- decls) {
              val tc = ie match {
                case Some(e) => compileExpr(e, ctx, locals) match {
                  case Some(v) => seal(v)
                  case None => return None
                }
                case None => tUndef
              }
              locals += (n -> tc)
            }
          case Return(Some(e)) if i == body.length - 1 =>
            key = keyExpr(e, ctx, locals) match {
              case Some((k, ke)) => Some(sealDerived(k, ke))
              case None => return None
            }
          case _ => return None
        }
        Some((key.getOrElse(nullStr), true)) // no return → undefined → skip all
      case _ => None
    }
    else Some((lit(""), false))
  }

  private def selectorCol(cp: CompiledJsProjection): Option[Column] =
    cp.spec.selector match {
      // same expressions as graft.projections.Projections.from* builders
      case JsSelector.Stream(id) => Some(col("stream_id") === id)
      case JsSelector.Streams(ids) => Some(col("stream_id").isin(ids: _*))
      case JsSelector.Category(c) =>
        Some(graft.operators.SystemProjections.categoryFirst(col("stream_id"), "-") === c)
      case JsSelector.Categories(cs) =>
        Some(graft.operators.SystemProjections
          .categoryFirst(col("stream_id"), "-").isin(cs: _*))
      case JsSelector.All => Some(lit(true))
      // the whole-plan fast path requires the PREDICATE to compile too —
      // a per-row interpreter UDF inside an otherwise pure-Catalyst plan
      // would defeat the point; refusal falls the definition back
      case JsSelector.StreamsMatching => compileStreamFilter(cp)
    }

  /** Compile a fromStreamsMatching predicate to a boolean Column over
    * `stream_id`: the function body must be a var-prefix + single-return
    * expression in the compiled subset, with the first parameter bound to
    * the stream id STRING (not the event envelope) and the optional
    * second (streamMetadata) parameter bound to undefined — mirroring
    * [[CompiledJsProjection.streamMatches]]. */
  private[js] def compileStreamFilter(cp: CompiledJsProjection): Option[Column] =
    cp.streamFilterFnOpt match {
      case Some(JsFunc(params, body, _)) =>
        val lets = mutable.LinkedHashMap.empty[String, Column]
        val ctx = new Ctx(cp, lit(""), mutable.Set.empty[String],
          envParam = None, stateParam = None, lets = lets)
        var locals: Map[String, TC] =
          params.headOption.map(_ -> TC(col("stream_id"),
            TStr(ascii = false), NoNull)).toMap ++
            params.lift(1).map(_ -> tUndef).toMap
        var res: Option[Column] = None
        for ((st, i) <- body.zipWithIndex) st match {
          case VarDecl(decls) if res.isEmpty =>
            for ((n, ie) <- decls) {
              val tc = ie match {
                case Some(e) => compileExpr(e, ctx, locals) match {
                  case Some(v) => seal(v)
                  case None => return None
                }
                case None => tUndef
              }
              locals += (n -> tc)
            }
          case Return(Some(e)) if i == body.length - 1 =>
            res = truthyExpr(e, ctx, locals) match {
              case Some(v) => Some(sealCol(v))
              case None => return None
            }
          case _ => return None
        }
        // the selector column must be let-free (it's applied as a bare
        // where() ahead of the let-bound projects) — refuse if the body
        // pulled in a let binding or an envelope column
        if (lets.nonEmpty) return None
        res.orElse(Some(lit(false))) // no return → undefined → no stream
      case _ => None
    }

  /** Default the optional meta/resolved columns exactly like
    * Projections.toLogEvents does for withMeta=false inputs. */
  private[js] def withDefaults(log: DataFrame, required: Set[String]): DataFrame = {
    var df = log
    if (!df.columns.contains("value") && required.contains("value"))
      df = df.withColumn("value", lit(0.0))
    for (c <- Seq("event_id", "metadata", "link_metadata", "resolved_stream_id"))
      if (required.contains(c) && !df.columns.contains(c))
        df = df.withColumn(c, nullStr)
    if (required.contains("resolved_event_number") &&
      !df.columns.contains("resolved_event_number"))
      df = df.withColumn("resolved_event_number", lit(-1L))
    df
  }

  /** Control-flow signal from the pre-read claim gate: the first walk
    * claimed integral reads (from an integral $init) that the field's
    * actual contributions cannot support — recompile with those reads
    * demoted to integral=false. Monotone set, so one retry gathers all. */
  private final case class NonIntegralRetry(fields: Set[String])
    extends Exception with scala.util.control.NoStackTrace
  /** Sibling signal for dynamic-key map reads: the walk claimed NUMBER
    * (the only claim available from a `{}` init) but every site of the
    * overwrite map carries a provable STRING raw — recompile with those
    * reads claiming string. Monotone like the integral demotion. */
  private final case class MapStrRetry(fields: Set[String])
    extends Exception with scala.util.control.NoStackTrace

  def compile(cp: CompiledJsProjection): Option[Plan] = {
    var force = Set.empty[String]
    var forceStr = Set.empty[String]
    var attempts = 0
    while (attempts < 4) {
      try return compileOnce(cp, force, forceStr)
      catch {
        case NonIntegralRetry(fs) => force ++= fs; attempts += 1
        case MapStrRetry(fs) => forceStr ++= fs; attempts += 1
      }
    }
    None
  }

  private def compileOnce(cp: CompiledJsProjection,
      forceNonIntegral: Set[String],
      forceMapStr: Set[String] = Set.empty): Option[Plan] = {
    val spec = cp.spec
    if (spec.isBiState || spec.hasCreated || cp.deletedFnOpt.isDefined) return None

    val init: mutable.LinkedHashMap[String, JsVal] =
      (try cp.initState() catch { case _: JsError => return None }) match {
        case JsObj(fields) => fields
        case _ => return None
      }

    val refs = mutable.Set.empty[String]
    refs ++= Seq("stream_id", "event_type")
    val lets = mutable.LinkedHashMap.empty[String, Column]

    val (keyCol, keyNullable) = compileKey(cp, refs, lets) match {
      case Some(kv) => kv
      case None => return None
    }

    // handlers → per-field contribution terms (emit sites are collected
    // too but do not affect state — compileEmitted consumes those).
    // stateReadsAcc collects pre-state reads across all handlers; the
    // states() plan is the ONLY consumer that can honor them (the build
    // adds the running-sum window columns), so only these calls enable
    // them — compileEmitted keeps the default null and refuses.
    val handlerCtx = col(KeyCol)
    val stateReadsAcc = mutable.Set.empty[String]
    val statePostAcc = mutable.Set.empty[String]
    val initTop: Map[String, JsVal] = init.toMap
    val typedHandlers: Seq[(String, HandlerFold)] =
      cp.handlersMap.toSeq.map { case (t, fn) =>
        compileHandler(fn, cp, handlerCtx, refs, lets, stateReadsAcc,
            initTop, forceNonIntegral, forceMapStr, statePostAcc) match {
          case Some(h) => t -> h
          case None => return None
        }
      }
    val anyHandler: Option[HandlerFold] = cp.anyFnOpt match {
      case Some(fn) => compileHandler(fn, cp, handlerCtx, refs, lets,
          stateReadsAcc, initTop, forceNonIntegral, forceMapStr,
          statePostAcc) match {
        case Some(h) => Some(h)
        case None => return None
      }
      case None => None
    }
    val typedFolds: Seq[(String, FieldTerms)] =
      typedHandlers.map { case (t, h) => t -> h.fields }
    val anyFold: Option[FieldTerms] = anyHandler.map(_.fields)
    // which array pre-read flavors were compiled, per field (a push field
    // can carry BOTH a length and a membership window)
    val allHandlerFolds: Seq[HandlerFold] = typedHandlers.map(_._2) ++ anyHandler.toList
    val arrLenFields: Set[String] = allHandlerFolds.flatMap(_.arrLenReads).toSet
    val arrHasFields: Set[String] = allHandlerFolds.flatMap(_.arrHasVals.keys).toSet
    val rowRaise: Option[Column] = raiseRouted(typedHandlers, anyHandler)

    // assigned fields must exist in $init (JS += onto a missing field is
    // NaN, not a sum; extrema of a missing field likewise) and use ONE
    // update kind across all handlers
    val allOps: Seq[(String, FieldOp)] =
      typedFolds.flatMap(_._2) ++ anyFold.toList.flatten
    val assignedPaths = allOps.map(_._1).toSet

    // NESTED state: flatten $init along the paths the handlers assign —
    // an object node expands into path-encoded leaves ONLY when some
    // assigned path descends into it (untouched subtrees stay whole and
    // render from their static stringify). The fold machinery below is
    // path-agnostic; only this flattening and the JSON renderer know
    // about nesting.
    def descends(prefix: String): Boolean =
      assignedPaths.exists(_.startsWith(prefix + PathSep))
    val flatInit = mutable.LinkedHashMap.empty[String, JsVal]
    def flattenInto(prefix: String, fields: Seq[(String, JsVal)]): Unit =
      fields.foreach { case (k, v) =>
        val pk = if (prefix.isEmpty) k else prefix + PathSep + k
        v match {
          case JsObj(sub) if descends(pk) => flattenInto(pk, sub.toSeq)
          case _ => flatInit += pk -> v
        }
      }
    flattenInto("", init.toSeq)
    // overlapping targets (whole `s.a` AND leaf `s.a.n`) mix update
    // kinds across one subtree — fall back
    if (assignedPaths.exists(a =>
      assignedPaths.exists(_.startsWith(a + PathSep)))) return None

    val assigned: Seq[String] =
      flatInit.keys.filter(assignedPaths).toSeq // in flattened $init order
    val assignedSet = assigned.toSet
    if (allOps.exists(o => !flatInit.contains(o._1))) return None
    import StepKinds.{Sum => SumK, Max => MaxK, Min => MinK, Last => LastK,
      Push => PushK, MapSum => MapSumK, MapLast => MapLastK,
      Concat => ConcatK, Prepend => PrependK, GMax => GMaxK, GMin => GMinK}
    def kindOf(op: FieldOp): Int = op match {
      case _: SumTerm => SumK
      case _: MaxTerm => MaxK
      case _: MinTerm => MinK
      case _: GuardMaxTerm => GMaxK
      case _: GuardMinTerm => GMinK
      case _: LastTerm => LastK
      case _: PushTerm => PushK
      case _: MapSumTerm => MapSumK
      case _: MapLastTerm => MapLastK
      case _: ConcatTerm => ConcatK
      case _: PrependTerm => PrependK
    }
    def isMapK(k: Int): Boolean = k == MapSumK || k == MapLastK
    val fieldKind: Map[String, Int] = assigned.map { f =>
      allOps.collect { case (`f`, op) => kindOf(op) }.distinct match {
        case Seq(k) => f -> k
        case _ => return None // mixed sum/max/min/overwrite updates on one field
      }
    }.toMap
    // init values: sums need exactly-representable integrals (the long
    // accumulator), extrema any number (selection keeps exact doubles);
    // overwrites keep the init's static stringify fragment (any value)
    // push fields must start from [] — a non-empty init array would need
    // its elements prefixed ahead of every append; rare, so fall back
    if (assigned.exists(f => fieldKind(f) == PushK && (flatInit(f) match {
      case JsArr(items) => items.nonEmpty
      case _ => true
    }))) return None
    // concat/prepend accumulators must start from a string (JS 0 += "x"
    // would be "0x" only after a first numeric render — rare; fall back)
    val initStr: Map[String, String] = assigned.collect {
      case f if fieldKind(f) == ConcatK || fieldKind(f) == PrependK =>
        flatInit(f) match {
          case JsStr(s0) => f -> s0
          case _ => return None
        }
    }.toMap
    // map fields must start from {} (pre-seeded keys would need their
    // init values and insertion slots merged in; rare → fall back), and
    // the two-level grouping carries ONE key column — one map field, one
    // site per handler (one event → one key contribution)
    val mapFields = assigned.filter(f => isMapK(fieldKind(f)))
    if (mapFields.nonEmpty) {
      if (mapFields.size > 1) return None
      val mf = mapFields.head
      if (flatInit(mf) match {
        case JsObj(fields) => fields.nonEmpty
        case _ => true
      }) return None
      def sites(terms: FieldTerms) = terms.count {
        case (`mf`, _: MapSumTerm) | (`mf`, _: MapLastTerm) => true
        case _ => false
      }
      if (typedFolds.exists(t => sites(t._2) > 1) || anyFold.exists(sites(_) > 1))
        return None
    }
    val initNum: Map[String, Double] = assigned.flatMap { f =>
      if (fieldKind(f) == LastK || fieldKind(f) == PushK ||
        fieldKind(f) == ConcatK || fieldKind(f) == PrependK ||
        isMapK(fieldKind(f))) None
      else flatInit(f) match {
        case JsNum(d) =>
          if (fieldKind(f) == SumK &&
            !(d == math.rint(d) && !d.isInfinite && !d.isNaN &&
              math.abs(d) < MaxExact)) return None
          Some(f -> d)
        case _ => return None
      }
    }.toMap
    // undefined init (stringify None) → key absent until first assignment
    val initFrag: Map[String, Option[String]] = assigned.collect {
      case f if fieldKind(f) == LastK => f -> JsVal.stringify(flatInit(f))
    }.toMap
    if (fieldKind.valuesIterator.exists(k =>
      k == LastK || k == PushK || k == ConcatK || k == PrependK ||
        k == GMaxK || k == GMinK || isMapK(k)))
      refs += "log_position"
    // pre-state reads: verify the TYPE CLAIM each read made from $init
    // against the field's actual kind and its sites. Readable kinds and
    // their window reconstructions:
    //  - SumK    → $init + running sum of preceding contributions;
    //  - MaxK/MinK (Math.max/min) and GMaxK/GMinK (guard recurrences)
    //             → running extremum of preceding candidates vs $init;
    //  - LastK   → the latest PRECEDING executed site's raw value, $init
    //             before any — requiring every site to carry a raw in
    //             the init's class (all-numeric or all-string).
    // An integral claim (integral $init) additionally requires every
    // candidate/raw integral-claimed — a fractional candidate under an
    // integral claim falls back. Everything else (push/concat/map
    // fields, fields $init lacks, object/bool inits) falls back.
    val preReads: Seq[String] = stateReadsAcc.toSeq.sorted
    // POST-channel reads (value after this event's same-handler
    // mutations — the emit-running-total idiom): the same claims apply
    // — the inclusive window aggregates the same contributions — but
    // only the SCALAR kinds reconstruct (a post map/array/concat read
    // cannot arise: those reads route through paths that refuse on
    // foldMutated, and concat's JsStr init is refused below by the
    // kind check, since ConcatK is not a readable kind).
    val postReads: Seq[String] = statePostAcc.toSeq.sorted
    if (postReads.exists(f => fieldKind.get(f).exists(k =>
      k == PushK || isMapK(k)))) return None
    // claims that turned out unsupported by the actual contributions:
    // gathered in full, then ONE recompile with those reads demoted
    // (integral → non-integral) or re-claimed (map number → string)
    val demote = Set.newBuilder[String]
    val strClaim = Set.newBuilder[String]
    for (f <- (stateReadsAcc ++ statePostAcc).toSeq.sorted) {
      if (!assignedSet(f)) return None
      val claimIntegral = (flatInit.get(f) match {
        case Some(JsNum(d)) => d == math.rint(d) && !d.isNaN && !d.isInfinite
        case _ => false
      }) && !forceNonIntegral(f)
      fieldKind(f) match {
        case SumK => // integral init + long deltas enforced by initNum
        case MaxK | MinK | GMaxK | GMinK =>
          if (!flatInit.get(f).exists(_.isInstanceOf[JsNum])) return None
          if (claimIntegral && allOps.exists {
            case (`f`, MaxTerm(_, i)) => !i
            case (`f`, MinTerm(_, i)) => !i
            case (`f`, GuardMaxTerm(_, i)) => !i
            case (`f`, GuardMinTerm(_, i)) => !i
            case _ => false
          }) demote += f
        case LastK =>
          val sites = allOps.collect { case (`f`, l: LastTerm) => l }
          flatInit.get(f) match {
            case Some(JsNum(d)) if !d.isNaN =>
              if (sites.exists(_.rawNum.isEmpty)) return None
              if (claimIntegral && sites.exists(!_.rawNumIntegral)) demote += f
            case Some(JsStr(_)) =>
              if (sites.exists(_.rawStr.isEmpty)) return None
            case _ => return None
          }
        // dynamic-key map reads claim NUMBER with integral unless a
        // retry pass re-claimed (the {} init carries no value type to
        // claim from): counter maps are integral longs by construction;
        // overwrite maps verify their sites' raws like LastTerm —
        // all-numeric sites keep the number claim (demoting integral if
        // needed), all-STRING sites flip the claim via MapStrRetry,
        // mixed or rawless sites fall back
        case MapSumK => ()
        case MapLastK =>
          val sites = allOps.collect { case (`f`, m: MapLastTerm) => m }
          if (forceMapStr(f)) {
            if (sites.exists(_.rawStr.isEmpty)) return None
          } else if (sites.forall(_.rawNum.isDefined)) {
            if (!forceNonIntegral(f) && sites.exists(!_.rawNumIntegral)) demote += f
          } else if (sites.nonEmpty && sites.forall(_.rawStr.isDefined))
            strClaim += f
          else return None
        // array reads. Length: exact for any push field (init [] is
        // enforced above — the pre length is the count of preceding
        // executed pushed elements). Membership: every site must push
        // exactly ONE provably-string element (raw string equality IS
        // JS strict equality; the walk enforced the shared structural
        // value within each reading handler).
        case PushK =>
          if (!arrLenFields(f) && !arrHasFields(f)) return None
          if (arrHasFields(f) && allOps.exists {
            case (`f`, p: PushTerm) =>
              p.frags.size != 1 || p.rawStrs.headOption.flatten.isEmpty
            case _ => false
          }) return None
          // membership window: at most ONE push site per HANDLER —
          // arrPreVal carries a single per-row value column (the first
          // site's), so a second site in the same handler would
          // contribute its execution to the count window under the
          // first site's partition value (or NULL when only it runs),
          // silently diverging from the interpreter. The one-shared-
          // value rule (addPush) only covers handlers that also READ f;
          // write-only handlers land here. Refuse to the interpreter.
          if (arrHasFields(f) && allHandlerFolds.exists(h =>
            h.fields.count {
              case (ff, _: PushTerm) => ff == f
              case _ => false
            } > 1)) return None
        case _ => return None
      }
    }
    val strClaimed = strClaim.result()
    if (strClaimed.nonEmpty) throw MapStrRetry(strClaimed)
    val demoted = demote.result()
    if (demoted.nonEmpty) throw NonIntegralRetry(demoted)
    if (preReads.nonEmpty) refs += "log_position"
    // final fragment of an overwrite field: the latest executed site's
    // rendered value, else the $init fragment (NULL = key absent)
    def lastFinalFrag(f: String): Column = {
      val last = col(s"__graft_last_$f")
      when(last.isNotNull, last.getField("v"))
        .otherwise(initFrag(f).map(lit(_): Column).getOrElse(nullStr))
    }
    // final array fragment of a push field: events sorted back into log
    // order, each event's elements already in program order
    def pushFinalFrag(f: String): Column = {
      val sorted = array_sort(col(s"__graft_push_$f"))
      concat(lit("["),
        concat_ws(",", flatten(transform(sorted, x => x.getField("a")))),
        lit("]"))
    }
    // final RAW string of a concat accumulator: $init prefix + appended
    // fragments in log order (each event's sites already joined)
    def concatRawStr(f: String): Column =
      concat(lit(initStr(f)),
        concat_ws("", transform(array_sort(col(s"__graft_cat_$f")),
          x => x.getField("s"))))
    // final RAW string of a prepend accumulator: fragments in REVERSE
    // log order (latest event prepended in front), $init as the suffix
    def prependRawStr(f: String): Column =
      concat(
        concat_ws("", reverse(transform(array_sort(col(s"__graft_pre_$f")),
          x => x.getField("s")))),
        lit(initStr(f)))

    val nullD = lit(null).cast(DoubleType)

    // per-field per-event contribution, routed CASE-over-event_type
    // across the typed handlers with $any as the default — the same
    // handler routing as step()
    def sumContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, SumTerm(c)) => c } match {
        case Nil => lit(0.0)
        case one :: Nil => one
        case many => many.reduce(_ + _)
      }
    def maxContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, MaxTerm(c, _)) => c } match {
        case Nil => nullD
        case one :: Nil => one
        case many => greatest(many: _*)
      }
    // min candidates strip NaN (Spark orders NaN largest, so a NaN would
    // silently lose; JS Math.min poisons to NaN — tracked by the flag)
    def minContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, MinTerm(c, _)) => c }
        .map(c => when(coalesce(isnan(c), lit(false)), nullD).otherwise(c)) match {
        case Nil => nullD
        case one :: Nil => one
        case many => least(many: _*)
      }
    def nanContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, MinTerm(c, _)) => coalesce(isnan(c), lit(false)) } match {
        case Nil => lit(false)
        case some => some.reduce(_ || _)
      }
    // guard-recurrence extremum candidates: struct(+0.0-normalized sort
    // key, tie-break position, RAW value). NaN candidates drop (NaN
    // never wins a strict comparison — unlike Math.max's poisoning);
    // ties keep the EARLIEST occurrence (the interpreter never
    // reassigns on ==), via -position under max / +position under min.
    // The normalization makes -0 and +0 compare equal (JS `>`)
    // while `raw` preserves the exact bit pattern the state holds.
    // NB isnan(NULL) is FALSE in Spark (IsNaN is a null-handling
    // predicate), so the null-candidate case (site guard failed) needs
    // its own disjunct — a struct with a NULL sort key would otherwise
    // slip through and win min() (nulls order FIRST inside structs)
    val nullGm = lit(null).cast("struct<v:double,p:bigint,raw:double>")
    def gmaxContrib(terms: FieldTerms, f: String): Column =
      terms.collectFirst { case (`f`, t: GuardMaxTerm) => t.cand } match {
        case None => nullGm
        case Some(c) => when(c.isNull || isnan(c), nullGm)
          .otherwise(struct((c + lit(0.0)).as("v"),
            (-col("log_position")).as("p"), c.as("raw")))
      }
    def gminContrib(terms: FieldTerms, f: String): Column =
      terms.collectFirst { case (`f`, t: GuardMinTerm) => t.cand } match {
        case None => nullGm
        case Some(c) => when(c.isNull || isnan(c), nullGm)
          .otherwise(struct((c + lit(0.0)).as("v"),
            col("log_position").as("p"), c.as("raw")))
      }
    // latest-preceding-site window inputs for pre-state reads of an
    // overwrite field: the site's RAW number/string under its exec
    // guard (null struct = site didn't run; last(ignoreNulls) skips)
    val nullGn = lit(null).cast("struct<d:double>")
    val nullGs = lit(null).cast("struct<s:string>")
    def preLastNumContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, l: LastTerm) => l } match {
        case Nil => nullGn
        case one :: Nil =>
          when(one.exec, struct(one.rawNum.get.cast(DoubleType).as("d")))
            .otherwise(nullGn)
        case many => coalesce(many.reverse.map(s =>
          when(s.exec, struct(s.rawNum.get.cast(DoubleType).as("d")))): _*)
      }
    def preLastStrContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, l: LastTerm) => l } match {
        case Nil => nullGs
        case one :: Nil =>
          when(one.exec, struct(one.rawStr.get.as("s"))).otherwise(nullGs)
        case many => coalesce(many.reverse.map(s =>
          when(s.exec, struct(s.rawStr.get.as("s")))): _*)
      }
    // per-event overwrite outcome: the LAST executed site wins, so probe
    // sites in reverse program order; the struct wrapper distinguishes
    // "site ran, assigned undefined" (struct with null v) from "no site
    // ran" (null struct). coalesce is sequential and when() lazy, so a
    // site's frag only evaluates under its own guard (throwing accesses
    // stay protected).
    // per-event append contribution: each executed site's elements in
    // program order; sites that didn't run contribute an empty slice
    val nullStrArr = lit(null).cast("array<string>")
    def pushContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, p: PushTerm) => p } match {
        case Nil => nullStrArr
        case one :: Nil =>
          when(one.exec, array(one.frags: _*)).otherwise(nullStrArr)
        case many => flatten(array(many.map(s =>
          when(s.exec, array(s.frags: _*))
            .otherwise(array().cast("array<string>"))): _*))
      }
    // per-event appended string of a concat field: executed sites join in
    // program order (a non-executed site contributes ""); NULL = no site
    // ran, so the event collects nothing
    def concatContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, c: ConcatTerm) => c } match {
        case Nil => nullStr
        case one :: Nil => when(one.exec, one.frag).otherwise(nullStr)
        case many =>
          when(many.map(_.exec).reduce(_ || _),
            concat(many.map(c => when(c.exec, c.frag).otherwise(lit(""))): _*))
            .otherwise(nullStr)
      }
    // per-event prepended string: within one event, LATER sites prepend
    // in front of earlier ones, so sites join in reverse program order
    def prependContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, c: PrependTerm) => c } match {
        case Nil => nullStr
        case one :: Nil => when(one.exec, one.frag).otherwise(nullStr)
        case many =>
          when(many.map(_.exec).reduce(_ || _),
            concat(many.reverse.map(c =>
              when(c.exec, c.frag).otherwise(lit(""))): _*))
            .otherwise(nullStr)
      }
    val nullSite = lit(null).cast("struct<v:string>")
    def lastContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, l: LastTerm) => l } match {
        case Nil => nullSite
        case one :: Nil => when(one.exec, struct(one.frag.as("v"))).otherwise(nullSite)
        case many => coalesce(many.reverse.map(s =>
          when(s.exec, struct(s.frag.as("v")))): _*)
      }
    // map-field per-event contributions: whether the site ran, its key
    // (only evaluated under the guard — it may contain a protected
    // throwing access), and its delta
    def mapSite(terms: FieldTerms, f: String): Option[(Column, Column)] =
      terms.collectFirst {
        case (`f`, m: MapSumTerm) => (m.exec, m.key)
        case (`f`, m: MapLastTerm) => (m.exec, m.key)
      }
    def mapExecContrib(terms: FieldTerms, f: String): Column =
      mapSite(terms, f).map(_._1).getOrElse(lit(false))
    def mapKeyContrib(terms: FieldTerms, f: String): Column =
      mapSite(terms, f) match {
        case None => nullStr
        case Some((exec, key)) => when(exec, key).otherwise(nullStr)
      }
    def mapDeltaContrib(terms: FieldTerms, f: String): Column =
      terms.collectFirst { case (`f`, m: MapSumTerm) => m } match {
        case None => lit(0.0)
        case Some(m) => when(m.exec, m.delta).otherwise(lit(0.0))
      }
    val nullMapSite = lit(null).cast("struct<v:string>")
    def mapLastContrib(terms: FieldTerms, f: String): Column =
      terms.collectFirst { case (`f`, m: MapLastTerm) => m } match {
        case None => nullMapSite
        case Some(m) => when(m.exec, struct(m.frag.as("v"))).otherwise(nullMapSite)
      }
    // latest-preceding-site window input for dynamic-key pre-state reads
    // of an overwrite map: the site's RAW number/string under its exec
    // guard — the preLastNumContrib contract, per (partition, key). Only
    // built for read fields, whose sites all verified a raw in the
    // claimed class.
    def preMapLastNumContrib(terms: FieldTerms, f: String): Column =
      terms.collectFirst { case (`f`, m: MapLastTerm) => m } match {
        case None => nullGn
        case Some(m) => when(m.exec,
          struct(m.rawNum.get.cast(DoubleType).as("d"))).otherwise(nullGn)
      }
    def preMapLastStrContrib(terms: FieldTerms, f: String): Column =
      terms.collectFirst { case (`f`, m: MapLastTerm) => m } match {
        case None => nullGs
        case Some(m) => when(m.exec,
          struct(m.rawStr.get.as("s"))).otherwise(nullGs)
      }
    def routed(f: String, mk: (FieldTerms, String) => Column, dflt: Column): Column = {
      val fallback = anyFold.map(mk(_, f)).getOrElse(dflt)
      if (typedFolds.isEmpty) fallback
      else typedFolds.foldLeft(Option.empty[Column]) { case (acc, (t, terms)) =>
        val c = mk(terms, f)
        Some(acc match {
          case None => when(col("event_type") === t, c)
          case Some(w) => w.when(col("event_type") === t, c)
        })
      }.get.otherwise(fallback)
    }
    // Per-row partition key of a map-read field's pre-state window,
    // routed CASE-over-event_type like every other contribution: a
    // handler that READS f supplies its unguarded read key (reader rows
    // must land in their key's partition even when their own write site
    // does not execute — the key column is raise-free, errors ride the
    // read's err channel); a handler that only WRITES supplies its
    // guarded site key (non-executing rows contribute nothing, so any
    // partition holds them, and the guarded form keeps protected
    // throwing key accesses lazy); handlers touching f not at all route
    // NULL — an inert partition. Within a handler, read and write keys
    // are structurally identical (enforced at the walk), so every row
    // that matters lands in exactly its key's partition.
    def mapPreKey(f: String): Column = {
      def keyOf(h: HandlerFold): Column =
        h.mapReadKeys.get(f).getOrElse(
          h.fields.collectFirst {
            case (`f`, m: MapSumTerm) => when(m.exec, m.key)
            case (`f`, m: MapLastTerm) => when(m.exec, m.key)
          }.getOrElse(nullStr))
      val fallback = anyHandler.map(keyOf).getOrElse(nullStr)
      if (typedHandlers.isEmpty) fallback
      else typedHandlers.foldLeft(Option.empty[Column]) { case (acc, (t, h)) =>
        val c = keyOf(h)
        Some(acc match {
          case None => when(col("event_type") === t, c)
          case Some(w) => w.when(col("event_type") === t, c)
        })
      }.get.otherwise(fallback)
    }
    // array-field pre-read window inputs: the per-event executed
    // pushed-element count (length window), whether any site OFFERED —
    // or, outside the self-dedup idiom, executed — a push (membership
    // window; see PushTerm.offer), and the per-row membership value
    // column (mapPreKey's mirror: readers route their unguarded probe,
    // write-only handlers their offer/exec-guarded element raw)
    def arrCntContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, p: PushTerm) => p } match {
        case Nil => lit(0.0)
        case sites => sites.map(p =>
          when(p.exec, lit(p.frags.size.toDouble)).otherwise(lit(0.0)))
          .reduce(_ + _)
      }
    def arrHasOfferContrib(terms: FieldTerms, f: String): Column =
      terms.collect { case (`f`, p: PushTerm) => p } match {
        case Nil => lit(false)
        case sites => sites.map(p => p.offer.getOrElse(p.exec)).reduce(_ || _)
      }
    def arrPreVal(f: String): Column = {
      def valOf(h: HandlerFold): Column =
        h.arrHasVals.getOrElse(f,
          h.fields.collectFirst {
            case (`f`, p: PushTerm) if p.rawStrs.headOption.flatten.isDefined =>
              when(p.offer.getOrElse(p.exec), p.rawStrs.head.get)
          }.getOrElse(nullStr))
      val fallback = anyHandler.map(valOf).getOrElse(nullStr)
      if (typedHandlers.isEmpty) fallback
      else typedHandlers.foldLeft(Option.empty[Column]) { case (acc, (t, h)) =>
        val c = valOf(h)
        Some(acc match {
          case None => when(col("event_type") === t, c)
          case Some(w) => w.when(col("event_type") === t, c)
        })
      }.get.otherwise(fallback)
    }

    // a NULL partition key skips the event — the handler never runs, so
    // its statements must neither contribute nor raise. The skip is
    // applied HERE, inside the aggregate inputs, never as a row filter
    // on the computed key: Catalyst pushes such a filter below the
    // let-bound Projects, substituting the ENTIRE key expression (JSON
    // parse included) into the Filter with zero sharing — measured 4×
    // on a body-keyed partitionBy at 10× sf0.1.
    val keep: Option[Column] = if (keyNullable) Some(col(KeyCol).isNotNull) else None
    def kept(c: Column, skipped: Column): Column =
      keep.map(k => when(k, c).otherwise(skipped)).getOrElse(c)
    val aggExprs: Seq[Column] = assigned.flatMap { f =>
      fieldKind(f) match {
        case SumK => Seq(
          sum(kept(routed(f, sumContrib, lit(0.0)), lit(0.0)).cast(LongType))
            .as(s"__graft_sum_$f"))
        case MaxK => Seq(
          max(kept(routed(f, maxContrib, nullD), nullD)).as(s"__graft_max_$f"))
        case MinK => Seq(
          min(kept(routed(f, minContrib, nullD), nullD)).as(s"__graft_min_$f"),
          max(kept(routed(f, nanContrib, lit(false)), lit(false)))
            .as(s"__graft_nan_$f"))
        case GMaxK => Seq(
          max(kept(routed(f, gmaxContrib, nullGm), nullGm)).as(s"__graft_gmax_$f"))
        case GMinK => Seq(
          min(kept(routed(f, gminContrib, nullGm), nullGm)).as(s"__graft_gmin_$f"))
        case LastK =>
          val site = kept(routed(f, lastContrib, nullSite), nullSite)
          Seq(max(when(site.isNotNull,
            struct(col("log_position").as("p"), site.getField("v").as("v"))))
            .as(s"__graft_last_$f"))
        case PushK =>
          // collect_list skips NULL inputs, so events that append
          // nothing cost nothing; order is restored by the finalizer's
          // array_sort on (p, …) — log positions are unique, so the
          // struct ordering is total and deterministic
          val ev = kept(routed(f, pushContrib, nullStrArr), nullStrArr)
          Seq(collect_list(when(coalesce(size(ev), lit(0)) > 0,
            struct(col("log_position").as("p"), ev.as("a"))))
            .as(s"__graft_push_$f"))
        case ConcatK =>
          val ev = kept(routed(f, concatContrib, nullStr), nullStr)
          Seq(collect_list(when(ev.isNotNull,
            struct(col("log_position").as("p"), ev.as("s"))))
            .as(s"__graft_cat_$f"))
        case PrependK =>
          val ev = kept(routed(f, prependContrib, nullStr), nullStr)
          Seq(collect_list(when(ev.isNotNull,
            struct(col("log_position").as("p"), ev.as("s"))))
            .as(s"__graft_pre_$f"))
        case MapSumK =>
          // level-1 aggs, grouped by (partition, __graft_mk_f): the
          // per-key partial sum, whether any site ran (a 0-delta site
          // still CREATES the key), and the key's first execution
          // position (the interpreter's insertion slot)
          val execC = kept(routed(f, mapExecContrib, lit(false)), lit(false))
          Seq(
            sum(when(execC, routed(f, mapDeltaContrib, lit(0.0)))
              .otherwise(lit(0.0)).cast(LongType)).as(s"__graft_mv_$f"),
            max(execC).as(s"__graft_mx_$f"),
            min(when(execC, col("log_position"))).as(s"__graft_mp_$f"))
        case MapLastK =>
          // per-key latest value (max by position), creation flag, and
          // first-execution position, same grouping as MapSumK
          val execC = kept(routed(f, mapExecContrib, lit(false)), lit(false))
          val site = kept(routed(f, mapLastContrib, nullMapSite), nullMapSite)
          Seq(
            max(when(execC && site.isNotNull,
              struct(col("log_position").as("p"), site.getField("v").as("v"))))
              .as(s"__graft_mlv_$f"),
            max(execC).as(s"__graft_mx_$f"),
            min(when(execC, col("log_position"))).as(s"__graft_mp_$f"))
      }
    }
    // the level-1 grouping key of each map field (evaluated lazily under
    // the site guard; non-executing events land in a junk NULL-key group
    // that level 2 drops via __graft_mx)
    val mapKeyCols: Seq[(String, Column)] = mapFields.map { f =>
      val execC = kept(routed(f, mapExecContrib, lit(false)), lit(false))
      s"__graft_mk_$f" -> (
        if (stateReadsAcc.contains(f))
          // a READ map field aligns the level-1 grouping key with the
          // pre-state window's partition key, so the groupBy reuses the
          // window's (fold key, raw key) exchange — one shuffle saved.
          // Value-identical: every level-1 aggregate is exec-guarded, so
          // non-executing rows land in junk groups whose mx=false drops
          // them at level 2, and for executing rows the raw key equals
          // the guarded site key by the per-handler key-equality rule.
          mapPreKey(f)
        else when(execC, routed(f, mapKeyContrib, nullStr)).otherwise(nullStr))
    }

    def overflowMsg(k: String) =
      s"js column fold: |$k| reached 2^53 — IEEE doubles lose integer " +
        "exactness here; run with spark.graft.js.columnCompile=false"

    /** Final numeric value of an assigned field, as the double the JS
      * state holds. Sum fields guard the 2^53 exactness boundary; max
      * keeps Spark's NaN-largest ordering (== JS Math.max poisoning);
      * min re-injects the tracked NaN poisoning. */
    def finalDouble(f: String): Column = fieldKind(f) match {
      case SumK =>
        val tot = lit(initNum(f).toLong) + col(s"__graft_sum_$f")
        when(abs(tot) >= lit(MaxExact),
          raise_error(lit(overflowMsg(f))).cast(DoubleType))
          .otherwise(tot.cast(DoubleType))
      case MaxK => greatest(lit(initNum(f)), col(s"__graft_max_$f"))
      case MinK =>
        if (initNum(f).isNaN) lit(Double.NaN)
        else when(col(s"__graft_nan_$f"), lit(Double.NaN))
          .otherwise(least(lit(initNum(f)), col(s"__graft_min_$f")))
      // guard recurrences: the best candidate only DETHRONES the init
      // under the strict comparison (init wins ties, NaN init never
      // loses — x > NaN is false in both JS and Spark's NaN-greatest
      // ordering for the > side; the < side guards NaN init explicitly)
      case GMaxK =>
        val m = col(s"__graft_gmax_$f")
        when(m.isNull || !(m.getField("v") > lit(initNum(f) + 0.0)),
          lit(initNum(f))).otherwise(m.getField("raw"))
      case GMinK =>
        val m = col(s"__graft_gmin_$f")
        if (initNum(f).isNaN) lit(Double.NaN)
        else when(m.isNull || !(m.getField("v") < lit(initNum(f) + 0.0)),
          lit(initNum(f))).otherwise(m.getField("raw"))
    }
    def doubleJson(c: Column): Column =
      when(isnan(c) || abs(c) === lit(Double.PositiveInfinity), lit("null"))
        .otherwise(JsNumberString(c))

    /** Final JSON fragment of a map field: level-2 entries sorted by
      * first-execution position = LinkedHashMap insertion order; keys
      * JSON-escaped. Counter values render as exact longs behind the 2^53
      * guard; overwrite values as their stringify fragments, dropping
      * keys whose final value is undefined (NULL fragment) AFTER sorting,
      * so dropped keys still consume their insertion slot. */
    def mapFinalFrag(f: String): Column = {
      val sorted = array_sort(col(s"__graft_map_$f"))
      val parts =
        if (fieldKind(f) == MapSumK)
          transform(sorted, e =>
            concat(graft.functions.JsJsonString(e.getField("k")), lit(":"),
              when(abs(e.getField("v")) >= lit(MaxExact),
                raise_error(lit(overflowMsg(f))).cast(StringType))
                .otherwise(e.getField("v").cast(StringType))))
        else
          transform(
            filter(sorted, e => e.getField("v").isNotNull),
            e => concat(graft.functions.JsJsonString(e.getField("k")),
              lit(":"), e.getField("v")))
      concat(lit("{"), concat_ws(",", parts), lit("}"))
    }

    // final state JSON, in $init field order; unassigned fields are
    // compile-time fragments (undefined-valued ones are skipped, like
    // JSON.stringify). Parts are nullable "key":value fragments — a SQL
    // NULL part means the key is absent for THIS row (an overwrite field
    // currently holding undefined), which concat_ws skips per row.
    // Nested subtrees with assigned leaves rebuild recursively, mixing
    // aggregated leaf fragments with the untouched siblings' statics.
    val plainStateJson: Column = {
      def renderedAssigned(k: String): Column =
        if (fieldKind(k) == SumK) {
          // exact long rendering (numToStr == decimal digits here)
          val tot = lit(initNum(k).toLong) + col(s"__graft_sum_$k")
          when(abs(tot) >= lit(MaxExact),
            raise_error(lit(overflowMsg(k))).cast(StringType))
            .otherwise(tot.cast(StringType))
        } else if (fieldKind(k) == LastK) lastFinalFrag(k)
        else if (fieldKind(k) == PushK) pushFinalFrag(k)
        else if (fieldKind(k) == ConcatK)
          graft.functions.JsJsonString(concatRawStr(k))
        else if (fieldKind(k) == PrependK)
          graft.functions.JsJsonString(prependRawStr(k))
        else if (isMapK(fieldKind(k))) mapFinalFrag(k)
        else doubleJson(finalDouble(k))
      def renderFields(prefix: String, fields: Seq[(String, JsVal)]): Seq[Column] =
        fields.flatMap { case (k, v) =>
          val pk = if (prefix.isEmpty) k else prefix + PathSep + k
          def keyJson = JsVal.stringify(JsStr(k)).get + ":"
          if (assignedSet(pk))
            Some(concat(lit(keyJson), renderedAssigned(pk))) // null → absent
          else v match {
            case JsObj(sub) if descends(pk) =>
              val inner = renderFields(pk, sub.toSeq)
              Some(if (inner.isEmpty) lit(keyJson + "{}")
                else concat(lit(keyJson + "{"),
                  concat_ws(",", inner: _*), lit("}")))
            case _ => JsVal.stringify(v).map(frag => lit(keyJson + frag))
          }
        }
      val parts = renderFields("", init.toSeq)
      if (parts.isEmpty) lit("{}")
      else concat(lit("{"), concat_ws(",", parts: _*), lit("}"))
    }

    // transformBy/filterBy chains compile over the AGGREGATED state
    // columns: filters become where-conditions, transforms rebuild the
    // field environment, and the final JSON renders from whatever the
    // chain produced. Runs on #partitions rows, but compiling it keeps
    // the whole plan interpreter-free.
    val transformed: Option[(Seq[Column], Seq[(String, TC)])] =
      if (cp.transformsList.isEmpty) Some((Nil, Nil))
      // nested assigned leaves don't cross into the transform env (the
      // chain would read the PARENT object's stale init) — fall back
      else if (assigned.exists(_.contains(PathSep))) return None
      else {
        val base: Option[Seq[(String, TC)]] =
          init.toSeq.foldLeft(Option(Vector.empty[(String, TC)])) {
            case (None, _) => None
            case (Some(acc), (k, v)) =>
              if (assignedSet(k))
                // overwrite fields cross as render-only fragments: chains
                // may pass over them, but reading one falls back
                if (fieldKind(k) == LastK)
                  Some(acc :+ (k -> TC(lastFinalFrag(k), TFrag, NoNull)))
                else if (fieldKind(k) == PushK)
                  Some(acc :+ (k -> TC(pushFinalFrag(k), TFrag, NoNull)))
                // a concat/prepend accumulator IS a string — chains can
                // read it
                else if (fieldKind(k) == ConcatK)
                  Some(acc :+ (k -> TC(concatRawStr(k), TStr(ascii = false), NoNull)))
                else if (fieldKind(k) == PrependK)
                  Some(acc :+ (k -> TC(prependRawStr(k), TStr(ascii = false), NoNull)))
                else if (isMapK(fieldKind(k)))
                  Some(acc :+ (k -> TC(mapFinalFrag(k), TFrag, NoNull)))
                else Some(acc :+ (k -> TC(finalDouble(k),
                  TNum(integral = fieldKind(k) == SumK), NoNull)))
              else constTC(v).map(tc => acc :+ (k -> tc))
          }
        base.flatMap(env0 =>
          compileTransformChain(cp, refs, env0, cp.transformsList, lets))
      }
    if (transformed.isEmpty) return None
    val (filterConds, finalEnv) = transformed.get
    val stateJsonCol: Column =
      if (cp.transformsList.isEmpty) plainStateJson
      else renderStateJson(finalEnv) match {
        case Some(c) => c
        case None => return None
      }

    val selector = selectorCol(cp) match {
      case Some(c) => c
      case None => return None // uncompilable fromStreamsMatching predicate
    }
    val required = refs.toSet
    val usesTs = required.contains("timestamp")

    // uncaught top-level throws: the raise fires DURING partial
    // aggregation on the first contributing row — before any group
    // filtering can drop the partition — matching the interpreter, which
    // faults mid-fold regardless of what the transform chain would later
    // keep. The agg output is all-NULL whenever the query survives; the
    // state wrapper below only exists to keep the column referenced
    // (column pruning would otherwise remove the raise with it).
    val raiseAgg: Seq[Column] = rowRaise.toSeq.map { r0 =>
      val r = kept(r0, nullStr) // skipped events never run the handler
      max(when(r.isNotNull, raise_error(r).cast(StringType))
        .otherwise(nullStr)).as("__graft_raise")
    }
    // the null-key GROUP is dropped after aggregation. The condition
    // must reference an aggregate output (`first` is nullable, so the
    // disjunct cannot be constant-folded away) or Catalyst would push
    // the filter below the aggregate and back into the inlining trap
    // this whole arrangement avoids.
    val keepAgg: Seq[Column] =
      if (keyNullable) Seq(first(lit(1)).as("__graft_keep")) else Nil
    val allAggs = aggExprs ++ raiseAgg ++ keepAgg
    val stateOut: Column =
      if (rowRaise.isEmpty) stateJsonCol
      else when(col("__graft_raise").isNotNull, col("__graft_raise"))
        .otherwise(stateJsonCol)

    // level-2 re-aggregation over the level-1 outputs (two-level path
    // only): sums of sums, maxes of maxes, appended lists flattened, and
    // each map field's (first-position, key, count) entries collected
    val level2Aggs: Seq[Column] = assigned.flatMap { f =>
      fieldKind(f) match {
        case SumK => Seq(sum(col(s"__graft_sum_$f")).as(s"__graft_sum_$f"))
        case MaxK => Seq(max(col(s"__graft_max_$f")).as(s"__graft_max_$f"))
        case MinK => Seq(
          min(col(s"__graft_min_$f")).as(s"__graft_min_$f"),
          max(col(s"__graft_nan_$f")).as(s"__graft_nan_$f"))
        case GMaxK => Seq(max(col(s"__graft_gmax_$f")).as(s"__graft_gmax_$f"))
        case GMinK => Seq(min(col(s"__graft_gmin_$f")).as(s"__graft_gmin_$f"))
        case LastK => Seq(max(col(s"__graft_last_$f")).as(s"__graft_last_$f"))
        case PushK => Seq(flatten(collect_list(col(s"__graft_push_$f")))
          .as(s"__graft_push_$f"))
        case ConcatK => Seq(flatten(collect_list(col(s"__graft_cat_$f")))
          .as(s"__graft_cat_$f"))
        case PrependK => Seq(flatten(collect_list(col(s"__graft_pre_$f")))
          .as(s"__graft_pre_$f"))
        case MapSumK => Seq(collect_list(
          when(col(s"__graft_mx_$f") && col(s"__graft_mk_$f").isNotNull,
            struct(col(s"__graft_mp_$f").as("p"), col(s"__graft_mk_$f").as("k"),
              col(s"__graft_mv_$f").as("v")))).as(s"__graft_map_$f"))
        case MapLastK => Seq(collect_list(
          when(col(s"__graft_mx_$f") && col(s"__graft_mk_$f").isNotNull,
            struct(col(s"__graft_mp_$f").as("p"), col(s"__graft_mk_$f").as("k"),
              col(s"__graft_mlv_$f").getField("v").as("v"))))
          .as(s"__graft_map_$f"))
      }
    } ++
      rowRaise.toSeq.map(_ => max(col("__graft_raise")).as("__graft_raise")) ++
      (if (keyNullable) Seq(first(col("__graft_keep")).as("__graft_keep")) else Nil)

    val letSeq = letBindings(lets)

    // Pre-state-read plumbing. `taintedLets`: interned lets that
    // reference a pre-state column, directly or through another let
    // (fixpoint) — those must be bound AFTER the window columns in the
    // build, while everything else stays ahead of the key (the key and
    // the window inputs may reference pre-free lets only).
    // Column references, extracted from the CANONICALIZED tree's print:
    // a Column's expression is a single ColumnNodeExpression leaf whose
    // children are sql.internal ColumnNodes, invisible to a catalyst
    // collect — but the canonical form prints the node tree in full
    // (the memoKey invariant), so the `UnresolvedAttribute(List(name`
    // occurrences are exactly the referenced column names. Our working
    // names (__graft_let_N / __graft_jspre_F) are single-part and
    // bracket-free, so the regex extraction is lossless for them.
    val attrRe = "UnresolvedAttribute\\(List\\(([^),]+)[),]".r
    def attrRefs(c: Column): Set[String] =
      attrRe.findAllMatchIn(
        org.apache.spark.sql.graftbridge.Bridge.expression(c)
          .canonicalized.toString)
        .map(_.group(1)).toSet
    // lets transitively referencing a pre-state column, with `allowed`
    // pre columns treated as clean (the PushK length/membership DAG
    // exemption below)
    def taintedWith(allowed: Set[String]): Set[String] = {
      var tainted = Set.empty[String]
      var grown = true
      while (grown) {
        grown = false
        for ((n, c) <- letSeq if !tainted(n)) {
          val rs = attrRefs(c)
          if (rs.exists(r => (r.startsWith(PreColPrefix) && !allowed(r)) ||
              tainted(r))) {
            tainted += n; grown = true
          }
        }
      }
      tainted
    }
    val taintedLets: Set[String] =
      if (preReads.isEmpty && postReads.isEmpty) Set.empty
      else taintedWith(Set.empty)
    // lets transitively referencing a POST column — these bind only
    // after the post windows (everything pre-tainted-only binds between
    // the pre and post folds, so post-window INPUTS may reference them)
    def isPostCol(r: String): Boolean =
      r.startsWith(PreColPrefix) && r.endsWith(PostSfx)
    val taintedPostLets: Set[String] =
      if (postReads.isEmpty) Set.empty
      else {
        var tainted = Set.empty[String]
        var grown = true
        while (grown) {
          grown = false
          for ((n, c) <- letSeq if !tainted(n)) {
            val rs = attrRefs(c)
            if (rs.exists(r => isPostCol(r) || tainted(r))) {
              tainted += n; grown = true
            }
          }
        }
        tainted
      }
    // Per-read-field window inputs — the kind-appropriate per-event
    // contribution columns the pre-state window aggregates (shared by
    // the circularity gate below and the build's window binder)
    def preWindowInputs(f: String): Seq[Column] = fieldKind(f) match {
      case SumK => Seq(kept(routed(f, sumContrib, lit(0.0)), lit(0.0)))
      case MaxK => Seq(kept(routed(f, maxContrib, nullD), nullD))
      case MinK => Seq(kept(routed(f, minContrib, nullD), nullD),
        kept(routed(f, nanContrib, lit(false)), lit(false)))
      case GMaxK => Seq(kept(routed(f, gmaxContrib, nullGm), nullGm))
      case GMinK => Seq(kept(routed(f, gminContrib, nullGm), nullGm))
      case LastK => flatInit(f) match {
        case JsNum(_) => Seq(kept(routed(f, preLastNumContrib, nullGn), nullGn))
        case _ => Seq(kept(routed(f, preLastStrContrib, nullGs), nullGs))
      }
      // map kinds carry the per-row window key LAST (the build peels it
      // off as the extra partition expression)
      case MapSumK => Seq(
        kept(routed(f, mapExecContrib, lit(false)), lit(false)),
        kept(routed(f, mapDeltaContrib, lit(0.0)), lit(0.0)),
        mapPreKey(f))
      case MapLastK =>
        if (forceMapStr(f))
          Seq(kept(routed(f, preMapLastStrContrib, nullGs), nullGs), mapPreKey(f))
        else
          Seq(kept(routed(f, preMapLastNumContrib, nullGn), nullGn), mapPreKey(f))
      // array reads: up to TWO windows' inputs (length count; membership
      // offer flag + per-row value). A push whose own exec references
      // the field's pre column without an offer (a length-bounded push,
      // or a self-dedup shape the idiom recognition missed) is exactly
      // what the circularity gate below rejects.
      case PushK =>
        (if (arrLenFields(f))
          Seq(kept(routed(f, arrCntContrib, lit(0.0)), lit(0.0)))
        else Seq.empty) ++
        (if (arrHasFields(f))
          Seq(kept(routed(f, arrHasOfferContrib, lit(false)), lit(false)),
            arrPreVal(f))
        else Seq.empty)
    }
    // Circularity gate: a READ field's own per-row contribution must
    // never itself depend on a window column the build has not yet
    // bound when that field's window binds. PRE windows bind first (in
    // preReads order) with strictly pre-free inputs; POST windows bind
    // after ALL pre windows and the pre-tainted lets, so a POST-only
    // read field's inputs MAY reference any pre column (the canonical
    // guard-recurrence `if (x > s.peak) { s.peak = x; emit(.., s.peak) }`
    // has exactly that shape: the exec guard reads pre(peak), the
    // inclusive window reconstructs post(peak) — well-founded, row r's
    // input depends on rows < r) — but never a post column. Other
    // (unread) fields MAY reference pre columns freely: those
    // references live in agg inputs computed after the windows.
    val preReadSet = preReads.toSet
    if (preReads.nonEmpty || postReads.nonEmpty) {
      for (f <- (preReads ++ postReads).distinct) {
        val ins = preWindowInputs(f)
        // PushK DAG exemption: the LENGTH window's input may reference
        // the SAME field's membership pre column (a distinct-type list's
        // push is guarded by its own membership — offer-compiled, so the
        // membership input below stays strictly pre-free, and the build
        // adds the membership column before the length column). Every
        // other window input must be strictly pre-free.
        val (relaxedIns, strictIns) = fieldKind(f) match {
          case PushK => ins.splitAt(if (arrLenFields(f)) 1 else 0)
          case _ => (Seq.empty, ins)
        }
        for (c <- strictIns) {
          val rs = attrRefs(c)
          if (preReadSet(f)) {
            if (rs.exists(r => r.startsWith(PreColPrefix) || taintedLets(r)))
              return None
          } else {
            // post-only read: pre columns (and lets tainted only by
            // them) are bound before this window — refuse only post
            // columns and post-tainted lets
            if (rs.exists(r => isPostCol(r) || taintedPostLets(r)))
              return None
          }
        }
        if (relaxedIns.nonEmpty) {
          val allowed = Set(PreColPrefix + f + ArrHasSfx)
          val relaxedTaint = taintedWith(allowed)
          for (c <- relaxedIns) {
            val rs = attrRefs(c)
            if (rs.exists(r => (r.startsWith(PreColPrefix) && !allowed(r)) ||
                relaxedTaint(r))) return None
          }
        }
      }
      // the partition key itself must be pre-free (it compiles before
      // any handler walk, so this can only trip on pathological reuse)
      if (attrRefs(keyCol).exists(r => r.startsWith(PreColPrefix) ||
          taintedLets(r))) return None
    }

    // Streaming stepper recipe (pre-state plans only): the per-event
    // CHILD expressions of every batch aggregate, the pre-window inputs,
    // and the final JSON render — JsStreamStepper folds these as typed
    // per-key running values in flatMapGroupsWithState, evaluating the
    // SAME compiled Columns the batch plan aggregates (pre columns bound
    // from state instead of a window). Transform chains stay refused:
    // the interpreter streaming path emits raw fold state, so must we.
    val stepPieces: Option[(Seq[StepField], Option[Column], Seq[Column])] =
      if ((preReads.isEmpty && postReads.isEmpty) || cp.transformsList.nonEmpty)
        None
      else {
        // post-only-read fields keep read=true: the stepper maintains
        // their raw pre channels, and their POST value is the same
        // recurrence read off the post-update state
        val readSet = (preReads ++ postReads).toSet
        def stepInputs(f: String): Seq[Column] = fieldKind(f) match {
          case SumK =>
            Seq(kept(routed(f, sumContrib, lit(0.0)), lit(0.0)).cast(LongType))
          case MaxK => Seq(kept(routed(f, maxContrib, nullD), nullD))
          case MinK => Seq(kept(routed(f, minContrib, nullD), nullD),
            kept(routed(f, nanContrib, lit(false)), lit(false)))
          case GMaxK => Seq(kept(routed(f, gmaxContrib, nullGm), nullGm))
          case GMinK => Seq(kept(routed(f, gminContrib, nullGm), nullGm))
          case LastK =>
            val site = kept(routed(f, lastContrib, nullSite), nullSite)
            Seq(when(site.isNotNull,
              struct(col("log_position").as("p"), site.getField("v").as("v"))))
          case PushK =>
            val ev = kept(routed(f, pushContrib, nullStrArr), nullStrArr)
            Seq(when(coalesce(size(ev), lit(0)) > 0,
              struct(col("log_position").as("p"), ev.as("a"))))
          case ConcatK =>
            val ev = kept(routed(f, concatContrib, nullStr), nullStr)
            Seq(when(ev.isNotNull,
              struct(col("log_position").as("p"), ev.as("s"))))
          case PrependK =>
            val ev = kept(routed(f, prependContrib, nullStr), nullStr)
            Seq(when(ev.isNotNull,
              struct(col("log_position").as("p"), ev.as("s"))))
          case MapSumK =>
            val execC = kept(routed(f, mapExecContrib, lit(false)), lit(false))
            val keyC =
              if (readSet(f)) mapPreKey(f)
              else when(execC, routed(f, mapKeyContrib, nullStr)).otherwise(nullStr)
            Seq(execC, keyC,
              when(execC, routed(f, mapDeltaContrib, lit(0.0)))
                .otherwise(lit(0.0)).cast(LongType))
          case MapLastK =>
            val execC = kept(routed(f, mapExecContrib, lit(false)), lit(false))
            val keyC =
              if (readSet(f)) mapPreKey(f)
              else when(execC, routed(f, mapKeyContrib, nullStr)).otherwise(nullStr)
            val site = kept(routed(f, mapLastContrib, nullMapSite), nullMapSite)
            Seq(execC, keyC,
              when(execC && site.isNotNull, struct(site.getField("v").as("v"))))
        }
        val sFields = assigned.map { f =>
          StepField(f, fieldKind(f), stepInputs(f),
            if (readSet(f)) preWindowInputs(f) else Nil,
            readSet(f),
            flatInit.get(f) match {
              case Some(JsNum(d)) => d
              case _ => initNum.getOrElse(f, 0.0)
            },
            flatInit.get(f).exists(_.isInstanceOf[JsNum]),
            initFrag.getOrElse(f, None),
            flatInit.get(f) match {
              case Some(JsStr(s)) => s
              case _ => null
            },
            arrLenFields(f), arrHasFields(f),
            mapStr = forceMapStr(f))
        }
        val raiseC = rowRaise.map { r0 =>
          val r = kept(r0, nullStr)
          when(r.isNotNull, raise_error(r).cast(StringType)).otherwise(nullStr)
        }
        val fieldL2 =
          level2Aggs.dropRight(rowRaise.size + (if (keyNullable) 1 else 0))
        Some((sFields, raiseC, fieldL2))
      }
    // state-mode stepper: pre-state plans only. Post-channel reads
    // inside UPDATE inputs would need field-by-field sequencing in the
    // stepper's one-shot update projection; such plans serve streaming
    // states through the interpreter state store.
    val stepSpec: Option[StepSpec] = stepPieces.flatMap {
      case (sFields, raiseC, fieldL2) =>
        if (postReads.nonEmpty) None
        else {
          val (letsPreS, letsPostS) =
            letSeq.partition { case (n, _) => !taintedLets(n) }
          Some(StepSpec(required, keyCol, keyNullable, letsPreS, letsPostS,
            sFields, raiseC, aggExprs, mapKeyCols, fieldL2, plainStateJson))
        }
    }

    // The shared PER-ROW FRAME: defaults + pre-free lets + partition
    // key + pre/post window columns + state-tainted lets — everything a
    // per-row consumer (the states aggregation below, the stateful emit
    // select) needs bound. `req` differs between the two consumers
    // (the emit plan additionally requires log_position).
    def perRowFrame(log: DataFrame, req: Set[String]): DataFrame = {
      val (letsPre, letsPost) = letSeq.partition { case (n, _) => !taintedLets(n) }
      val df = letsPre.foldLeft(withDefaults(log, req)) {
        case (d, (n, c)) => d.withColumn(n, c)
      }
      val keyed0 = df.withColumn(KeyCol, keyCol)
      // pre-state columns: field value the interpreter's state holds as
      // this event's handler STARTS, reconstructed over the fold-order-
      // PRECEDING rows of the partition — $init + running sum for sums,
      // running extremum vs $init for max/min (Math.* and guard
      // recurrences alike), latest preceding executed site for
      // overwrites. One window shuffle on the partition key; the agg
      // below reuses that partitioning (no second exchange) — the price
      // is map-side partial aggregation, the same trade the interpreter
      // path's per-key sort already makes. Sums are integral longs
      // rendered as doubles (exact below 2^53, like the aggregate);
      // extrema/overwrites carry exact doubles / raw strings.
      val (keyedPre, boundMid) = preReads
          .foldLeft((keyed0, Set.empty[String])) { case ((d, bound), f) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(KeyCol)).orderBy(col("log_position"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        if (fieldKind(f) == PushK) {
          // array reads get up to TWO pre columns: the membership
          // offer-count over (partition, value) — non-null boolean:
          // count over an empty preceding frame is 0 = absent — added
          // FIRST because the length input may reference it (the
          // distinct-list shape's gate exemption), then the length
          // running count over the shared partition-key exchange
          val d1 =
            if (!arrHasFields(f)) d
            else {
              val w2 = org.apache.spark.sql.expressions.Window
                .partitionBy(col(KeyCol), arrPreVal(f))
                .orderBy(col("log_position"))
                .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
              d.withColumn(PreColPrefix + f + ArrHasSfx,
                count(when(kept(routed(f, arrHasOfferContrib, lit(false)),
                  lit(false)), lit(1))).over(w2) > 0)
            }
          // mid-fold let binding (the gate exemption's other half): the
          // length input typically references the push guard — a let
          // tainted ONLY through this field's membership column, which
          // now exists — so such lets bind here, before the length window
          val (d2, bound2) =
            if (!arrLenFields(f) || !arrHasFields(f)) (d1, bound)
            else {
              val mid = taintedWith(Set(PreColPrefix + f + ArrHasSfx))
              letsPost.filter { case (n, _) => !mid(n) && !bound(n) }
                .foldLeft((d1, bound)) { case ((dd, bb), (n, c)) =>
                  (dd.withColumn(n, c), bb + n)
                }
            }
          val d3 =
            if (!arrLenFields(f)) d2
            else d2.withColumn(PreColPrefix + f + ArrLenSfx,
              coalesce(sum(kept(routed(f, arrCntContrib, lit(0.0)), lit(0.0))
                .cast(LongType)).over(w), lit(0L)).cast(DoubleType))
          (d3, bound2)
        } else {
        val ins = preWindowInputs(f)
        val pre: Column = fieldKind(f) match {
          case SumK =>
            (lit(initNum(f).toLong) +
              coalesce(sum(ins.head.cast(LongType)).over(w), lit(0L)))
              .cast(DoubleType)
          case MaxK => greatest(lit(initNum(f)), max(ins.head).over(w))
          case MinK =>
            if (initNum(f).isNaN) lit(Double.NaN)
            else when(coalesce(max(ins(1).cast("int")).over(w), lit(0)) > 0,
              lit(Double.NaN))
              .otherwise(least(lit(initNum(f)), min(ins.head).over(w)))
          case GMaxK =>
            val m = max(ins.head).over(w)
            when(m.isNull || !(m.getField("v") > lit(initNum(f) + 0.0)),
              lit(initNum(f))).otherwise(m.getField("raw"))
          case GMinK =>
            val m = min(ins.head).over(w)
            if (initNum(f).isNaN) lit(Double.NaN)
            else when(m.isNull || !(m.getField("v") < lit(initNum(f) + 0.0)),
              lit(initNum(f))).otherwise(m.getField("raw"))
          case LastK =>
            val site = last(ins.head, ignoreNulls = true).over(w)
            flatInit(f) match {
              case JsNum(d0) =>
                coalesce(site.getField("d"), lit(d0))
              case JsStr(s0) =>
                coalesce(site.getField("s"), lit(s0))
              case _ => lit(null) // unreachable: gate validated the init
            }
          // dynamic-key map reads window over (partition, key) — the
          // same two-level key the map aggregation groups by — with SQL
          // NULL = key never written = undefined. Counter maps are the
          // running sum of preceding exec-guarded deltas ONCE any
          // preceding site executed (a key written only by 0-deltas
          // reads 0, not undefined — the interpreter creates the key);
          // overwrite maps the latest preceding executed site's raw.
          case MapSumK =>
            val w2 = org.apache.spark.sql.expressions.Window
              .partitionBy(col(KeyCol), ins(2)).orderBy(col("log_position"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
            when(count(when(ins(0), lit(1))).over(w2) > 0,
              coalesce(sum(ins(1).cast(LongType)).over(w2), lit(0L))
                .cast(DoubleType))
          case MapLastK =>
            val w2 = org.apache.spark.sql.expressions.Window
              .partitionBy(col(KeyCol), ins(1)).orderBy(col("log_position"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
            last(ins.head, ignoreNulls = true).over(w2)
              .getField(if (forceMapStr(f)) "s" else "d")
        }
        (d.withColumn(PreColPrefix + f, pre), bound)
        }
      }
      // lets tainted only through PRE columns bind now: post-window
      // inputs may reference them (the gate admits pre references for
      // post-only read fields)
      val preLetsBound = letsPost.foldLeft(keyedPre) {
        case (d, (n, c)) =>
          if (boundMid(n) || taintedPostLets(n)) d else d.withColumn(n, c)
      }
      // POST-state columns: the field value AFTER this event's
      // same-handler mutations — the SAME routed inputs, INCLUSIVE
      // frame (…, currentRow). Scalar kinds only (gated at the read).
      val keyedPost = postReads.foldLeft(preLetsBound) { case (d, f) =>
        val wi = org.apache.spark.sql.expressions.Window
          .partitionBy(col(KeyCol)).orderBy(col("log_position"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val ins = preWindowInputs(f)
        val post: Column = fieldKind(f) match {
          case SumK =>
            (lit(initNum(f).toLong) +
              coalesce(sum(ins.head.cast(LongType)).over(wi), lit(0L)))
              .cast(DoubleType)
          case MaxK => greatest(lit(initNum(f)), max(ins.head).over(wi))
          case MinK =>
            if (initNum(f).isNaN) lit(Double.NaN)
            else when(coalesce(max(ins(1).cast("int")).over(wi), lit(0)) > 0,
              lit(Double.NaN))
              .otherwise(least(lit(initNum(f)), min(ins.head).over(wi)))
          case GMaxK =>
            val m = max(ins.head).over(wi)
            when(m.isNull || !(m.getField("v") > lit(initNum(f) + 0.0)),
              lit(initNum(f))).otherwise(m.getField("raw"))
          case GMinK =>
            val m = min(ins.head).over(wi)
            if (initNum(f).isNaN) lit(Double.NaN)
            else when(m.isNull || !(m.getField("v") < lit(initNum(f) + 0.0)),
              lit(initNum(f))).otherwise(m.getField("raw"))
          case LastK =>
            val site = last(ins.head, ignoreNulls = true).over(wi)
            flatInit(f) match {
              case JsNum(d0) => coalesce(site.getField("d"), lit(d0))
              case JsStr(s0) => coalesce(site.getField("s"), lit(s0))
              case _ => lit(null) // unreachable: gate validated the init
            }
          case _ => lit(null) // unreachable: postReads gated to scalars
        }
        d.withColumn(PreColPrefix + f + PostSfx, post)
      }
      // lets that READ post-state bind only now, after the post windows
      letsPost.foldLeft(keyedPost) {
        case (d, (n, c)) =>
          if (boundMid(n) || !taintedPostLets(n)) d else d.withColumn(n, c)
      }
    }

    // STATEFUL emitted() variant: the emit sites selected over the same
    // per-row frame (emit args/guards may read the pre/post window
    // columns). compileEmitted's window-free select stays the fast path
    // for state-free emissions; this variant is its fallback, and the
    // interpreter remains the fallback for both. Batch-only whenever
    // windows are involved (usesPreState gates the streaming path).
    val emitVariant: Option[Plan] = {
      val hasEmits = typedHandlers.exists(_._2.emits.nonEmpty) ||
        anyHandler.exists(_.emits.nonEmpty)
      if (!hasEmits) None
      else {
        val arrCol = emitArrCol(typedHandlers, anyHandler, keyNullable)
        val req = required + "log_position"
        // emit-mode stepper (streaming): the same per-field recurrences
        // plus the emissions array evaluated AFTER the update applies,
        // with post slots bound from the just-updated state. Demands
        // post-free update/pre inputs and raise (they evaluate before
        // the update): a post reference there would need sequencing.
        val emitStepSpec: Option[StepSpec] = stepPieces.flatMap {
          case (sFields, raiseC, fieldL2) =>
            def postFree(c: Column): Boolean =
              attrRefs(c).forall(r => !isPostCol(r) && !taintedPostLets(r))
            val ok = sFields.forall(f =>
              (f.inputs ++ f.preInputs).forall(postFree)) &&
              raiseC.forall(postFree)
            if (!ok) None
            else {
              val letsPreS = letSeq.filter { case (n, _) => !taintedLets(n) }
              val letsMidS = letSeq.filter { case (n, _) =>
                taintedLets(n) && !taintedPostLets(n) }
              val letsPostT = letSeq.filter { case (n, _) => taintedPostLets(n) }
              Some(StepSpec(req, keyCol, keyNullable, letsPreS, letsMidS,
                sFields, raiseC, aggExprs, mapKeyCols, fieldL2,
                plainStateJson, postFields = postReads.toSet,
                letsPostTainted = letsPostT, emitArr = Some(arrCol)))
            }
        }
        Some(Plan(req, usesTs, selector,
          (log: DataFrame) => emitSelect(perRowFrame(log, req), arrCol),
          usesPreState = preReads.nonEmpty || postReads.nonEmpty,
          stepSpec = emitStepSpec))
      }
    }

    Some(Plan(required, usesTs, selector, (log: DataFrame) => {
      val keyed = perRowFrame(log, required)
      val grouped =
        if (mapFields.nonEmpty) {
          // two-level: level 1 shuffles by (partition, map key) — the
          // per-key sums collapse map-side exactly like a plain groupBy
          // count — level 2 by partition alone (row count = #distinct
          // keys, not #events). Better skew behavior than one level: a
          // hot partition's keys spread over the first shuffle.
          val l1in = mapKeyCols.foldLeft(keyed) {
            case (d, (n, c)) => d.withColumn(n, c)
          }
          val l1keys = col(KeyCol) +: mapKeyCols.map(kc => col(kc._1))
          val l1 = l1in.groupBy(l1keys: _*).agg(allAggs.head, allAggs.tail: _*)
          l1.groupBy(col(KeyCol)).agg(level2Aggs.head, level2Aggs.tail: _*)
        } else if (allAggs.nonEmpty)
          keyed.groupBy(col(KeyCol)).agg(allAggs.head, allAggs.tail: _*)
        else keyed.groupBy(col(KeyCol)).agg(count(lit(1)).as("__graft_cnt"))
      val dropNullKey =
        if (keyNullable)
          grouped.where(col(KeyCol).isNotNull || col("__graft_keep").isNull)
        else grouped
      val filtered =
        if (filterConds.isEmpty) dropNullKey
        else dropNullKey.where(filterConds.reduce(_ && _))
      filtered.select(col(KeyCol).as("partition"), stateOut.as("state"))
    }, usesPreState = preReads.nonEmpty || postReads.nonEmpty,
      stepSpec = stepSpec, emitVariant = emitVariant))
  }

  /** The per-event emissions ARRAY column: one struct per emit/linkTo
    * site of the routed handler (CASE over event_type, $any default),
    * guarded sites collapsing to NULL and filtered out; an uncaught
    * top-level throw raises before this event's emissions are
    * considered; a NULL partition key skips the event (empty array —
    * never a row filter on the computed key, which Catalyst would push
    * below the let Projects; see compile()'s trap note). Shared by the
    * state-free emitted() compile and compile()'s stateful emit
    * variant. */
  private def emitArrCol(typedHandlers: Seq[(String, HandlerFold)],
      anyHandler: Option[HandlerFold], keyNullable: Boolean): Column = {
    def siteStruct(s: EmitSite): Column = {
      val st = struct(s.stream.as("s"), s.tpe.as("t"), s.data.as("d"),
        s.meta.as("m"))
      s.guard match {
        case Some(g) => when(g, st)
        case None => st
      }
    }
    val emptyArr =
      array().cast("array<struct<s:string,t:string,d:string,m:string>>")
    def handlerArr(h: HandlerFold): Column =
      if (h.emits.isEmpty) emptyArr
      else filter(array(h.emits.map(siteStruct): _*), x => x.isNotNull)
    val dflt = anyHandler.map(handlerArr).getOrElse(emptyArr)
    val arrCol0 =
      if (typedHandlers.isEmpty) dflt
      else typedHandlers.foldLeft(Option.empty[Column]) { case (acc, (t, h)) =>
        val c = handlerArr(h)
        Some(acc match {
          case None => when(col("event_type") === t, c)
          case Some(w) => w.when(col("event_type") === t, c)
        })
      }.get.otherwise(dflt)
    val arrCol1 = raiseRouted(typedHandlers, anyHandler) match {
      case Some(r) => when(r.isNotNull, raise_error(r)
        .cast("array<struct<s:string,t:string,d:string,m:string>>"))
        .otherwise(arrCol0)
      case None => arrCol0
    }
    if (keyNullable) when(col(KeyCol).isNotNull, arrCol1).otherwise(emptyArr)
    else arrCol1
  }

  /** The emitted-row select over a keyed per-row frame: posexplode of
    * [[emitArrCol]] with the interpreter's within-event emit_seq. */
  private def emitSelect(keyed: DataFrame, arrCol: Column): DataFrame =
    keyed
      .select(col(KeyCol).as("partition"),
        col("log_position").as("caused_by_position"),
        posexplode(arrCol).as(Seq("emit_seq", "__e")))
      .select(
        col("__e.s").as("stream_id"),
        col("__e.t").as("event_type"),
        col("__e.d").as("data"),
        col("partition"),
        col("caused_by_position"),
        col("emit_seq").cast("int").as("emit_seq"),
        col("__e.m").as("metadata"))

  /** Compile the emitted() path: every emit/linkTo call site becomes a
    * struct in a per-event array (CASE-routed by event type, exactly
    * step()'s handler routing), guarded sites collapse to NULL and are
    * filtered out, and `posexplode` yields one row per actual emission
    * with its within-event `emit_seq` — the interpreter's per-event
    * buffer index. One scan, one narrow select, no shuffle at all:
    * emissions depend only on the event (state-free by construction), so
    * the serial fold adds nothing but cost. */
  def compileEmitted(cp: CompiledJsProjection): Option[Plan] = {
    val spec = cp.spec
    if (spec.isBiState || spec.hasCreated || cp.deletedFnOpt.isDefined) return None
    // $init must still evaluate (it runs in the interp path); its shape
    // is irrelevant here but a throwing $init must not hit the fast path
    try cp.initState() catch { case _: JsError => return None }

    val refs = mutable.Set.empty[String]
    refs ++= Seq("stream_id", "event_type", "log_position")
    val lets = mutable.LinkedHashMap.empty[String, Column]

    val (keyCol, keyNullable) = compileKey(cp, refs, lets) match {
      case Some(kv) => kv
      case None => return None
    }

    val handlerCtx = col(KeyCol)
    val typedHandlers: Seq[(String, HandlerFold)] =
      cp.handlersMap.toSeq.map { case (t, fn) =>
        compileHandler(fn, cp, handlerCtx, refs, lets) match {
          case Some(h) => t -> h
          case None => return None
        }
      }
    val anyHandler: Option[HandlerFold] = cp.anyFnOpt match {
      case Some(fn) => compileHandler(fn, cp, handlerCtx, refs, lets) match {
        case Some(h) => Some(h)
        case None => return None
      }
      case None => None
    }
    if (typedHandlers.forall(_._2.emits.isEmpty) &&
      anyHandler.forall(_.emits.isEmpty)) return None // nothing ever emits

    val arrCol = emitArrCol(typedHandlers, anyHandler, keyNullable)

    val selector = selectorCol(cp) match {
      case Some(c) => c
      case None => return None // uncompilable fromStreamsMatching predicate
    }
    val required = refs.toSet
    val usesTs = required.contains("timestamp")

    val letSeq = letBindings(lets)
    Some(Plan(required, usesTs, selector, (log: DataFrame) => {
      val df = letSeq.foldLeft(withDefaults(log, required)) {
        case (d, (n, c)) => d.withColumn(n, c)
      }
      emitSelect(df.withColumn(KeyCol, keyCol), arrCol)
    }))
  }
}
