package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.projections.js._
import graft.sources.{EventLogStore, PendingEvent}

/** JS projection definitions end-to-end, mirroring the reference's Jint
  * scenario tests (EventStore.Projections.Core.Tests/Services/Jint/
  * Scenarios/when_recategorizing_chat_events_by_users.cs:16-75) plus
  * interpreter unit coverage. */
class JsEngineSpec extends SparkTestBase {

  // ----------------------------------------------------- interpreter unit

  private def evalJs(src: String): JsVal = {
    val in = new JsInterp
    in.run(JsParser.program(src))
  }

  test("interpreter: arithmetic, strings, ternary, compound assignment") {
    assert(evalJs("1 + 2 * 3") == JsNum(7))
    assert(evalJs("'a' + 1 + 2") == JsStr("a12"))
    assert(evalJs("1 + 2 + 'a'") == JsStr("3a"))
    assert(evalJs("var x = 5; x += 2; x *= 3; x") == JsNum(21))
    assert(evalJs("var x = 3; x > 2 ? 'big' : 'small'") == JsStr("big"))
    assert(evalJs("'b' < 'a'") == JsBool(false))
    assert(evalJs("10 % 3") == JsNum(1))
    assert(evalJs("var n = 0; n++; n++; ++n; n") == JsNum(3))
  }

  test("interpreter: equality and truthiness follow JS rules") {
    assert(evalJs("1 == '1'") == JsBool(true))
    assert(evalJs("1 === '1'") == JsBool(false))
    assert(evalJs("null == undefined") == JsBool(true))
    assert(evalJs("null === undefined") == JsBool(false))
    assert(evalJs("!''") == JsBool(true))
    assert(evalJs("!0") == JsBool(true))
    assert(evalJs("!{}") == JsBool(false))
    assert(evalJs("NaN == NaN") == JsBool(false))
  }

  test("interpreter: objects, arrays, for loops, functions, closures") {
    assert(evalJs("var o = {a: 1, b: {c: 2}}; o.b.c + o['a']") == JsNum(3))
    assert(evalJs("var a = [1,2,3]; a.push(4); a.length") == JsNum(4))
    assert(evalJs("var s = 0; for (var i = 0; i < 5; i++) { s += i; } s") == JsNum(10))
    assert(evalJs("var o = {x:1,y:2}; var ks = []; for (var k in o) ks.push(k); ks.join(',')")
      == JsStr("x,y"))
    assert(evalJs("function add(a,b){ return a+b; } add(2,3)") == JsNum(5))
    assert(evalJs(
      "function mk(){ var n = 0; return function(){ n += 1; return n; }; } " +
        "var c = mk(); c(); c(); c()") == JsNum(3))
    assert(evalJs("[3,1,2].sort(function(a,b){return a-b;}).join('')") == JsStr("123"))
    assert(evalJs("[1,2,3].map(function(x){return x*2;}).join(',')") == JsStr("2,4,6"))
    assert(evalJs("[1,2,3,4].filter(function(x){return x%2===0;}).length") == JsNum(2))
    assert(evalJs("[1,2,3].reduce(function(a,b){return a+b;}, 10)") == JsNum(16))
    assert(evalJs("var n = 0; do { n += 1; } while (n < 4); n") == JsNum(4))
    assert(evalJs("var n = 9; do { n += 1; } while (n < 4); n") == JsNum(10)) // body runs once
    assert(evalJs("var n = 0; do { n += 1; if (n > 2) break; } while (true); n") == JsNum(3))
  }

  test("interpreter: JSON round-trips with JS number formatting") {
    assert(evalJs("""JSON.stringify({count: 3, name: "x", ok: true})""")
      == JsStr("""{"count":3,"name":"x","ok":true}"""))
    assert(evalJs("""JSON.parse('{"a":[1,2.5,null]}').a[1]""") == JsNum(2.5))
    assert(evalJs("JSON.stringify({n: 1 + 2})") == JsStr("""{"n":3}"""))
    // integral doubles print without '.0' (Jint behavior the oracle sees)
    assert(evalJs("'' + 42") == JsStr("42"))
    assert(evalJs("'' + 1.5") == JsStr("1.5"))
    assert(evalJs("JSON.stringify({})") == JsStr("{}"))
  }

  test("interpreter: try/catch/finally") {
    // user throw with Error object; e.message visible in catch
    assert(evalJs("var r; try { throw new Error('boom'); } catch (e) { r = e.message; } r")
      == JsStr("boom"))
    // the canonical real-world shape: try/catch around JSON.parse
    assert(evalJs(
      "var r; try { r = JSON.parse('not json'); } catch (e) { r = 'bad'; } r")
      == JsStr("bad"))
    // engine errors (property of undefined) surface as Error-shaped values
    assert(evalJs("var n; try { undefined.x; } catch (e) { n = e.name; } n")
      == JsStr("Error"))
    // finally runs on the normal path and after catch
    assert(evalJs(
      "var log = ''; try { log += 'a'; } finally { log += 'f'; } log") == JsStr("af"))
    assert(evalJs(
      "var log = ''; try { throw 1; } catch (e) { log += 'c'; } finally { log += 'f'; } log")
      == JsStr("cf"))
    // finally runs even when the function returns out of try
    assert(evalJs(
      "var log = ''; function f() { try { return 'r'; } finally { log = 'fin'; } } f() + log")
      == JsStr("rfin"))
    // ES2019 optional catch binding
    assert(evalJs("var r = 0; try { throw 1; } catch { r = 9; } r") == JsNum(9))
    // uncaught throw escapes with the JS-level message
    val err = intercept[JsThrown] {
      evalJs("try { throw new TypeError('deep') } finally { }")
    }
    assert(err.getMessage == "TypeError: deep")
    // nested: inner catch rethrows, outer catches
    assert(evalJs(
      """var r; try { try { throw new Error('x'); } catch (e) { throw e; } }
        |catch (e2) { r = e2.message; } r""".stripMargin) == JsStr("x"))
  }

  test("interpreter: switch with fall-through, default, strict matching") {
    assert(evalJs(
      """function f(x) { switch (x) {
        |  case 1: return 'one';
        |  case 2: case 3: return 'few';
        |  default: return 'many';
        |} }
        |f(1) + '-' + f(2) + '-' + f(3) + '-' + f(9)""".stripMargin)
      == JsStr("one-few-few-many"))
    // fall-through accumulates until break
    assert(evalJs(
      "var s = ''; switch (2) { case 1: s += 'a'; case 2: s += 'b'; " +
        "case 3: s += 'c'; break; case 4: s += 'd'; } s") == JsStr("bc"))
    // matching is strict (no '1' == 1 coercion), so default fires
    assert(evalJs(
      "var s; switch ('1') { case 1: s = 'num'; break; default: s = 'def'; } s")
      == JsStr("def"))
    // default in the middle: falls through into following cases
    assert(evalJs(
      "var s = ''; switch (9) { case 1: s += 'a'; default: s += 'd'; " +
        "case 2: s += 'b'; } s") == JsStr("db"))
    // switch on strings (the event-type dispatch shape)
    assert(evalJs(
      "function g(t) { var r = ''; switch (t) { case 'add': r = '+'; break; " +
        "case 'sub': r = '-'; break; } return r; } g('add') + g('sub') + g('mul')")
      == JsStr("+-"))
  }

  test("interpreter: execution budget is not catchable by user try/catch") {
    val in = new JsInterp(stepBudget = 50000)
    intercept[JsBudgetExceeded] {
      in.run(JsParser.program(
        "while (true) { try { var x = 1; } catch (e) { } }"))
    }
  }

  test("interpreter: string methods used by projection code") {
    assert(evalJs("'user-greg'.split('-')[1]") == JsStr("greg"))
    assert(evalJs("'abcdef'.substring(2, 4)") == JsStr("cd"))
    assert(evalJs("'abc'.indexOf('b')") == JsNum(1))
    assert(evalJs("'Chat-1'.toLowerCase()") == JsStr("chat-1"))
    assert(evalJs("parseInt('42x')") == JsNum(42))
    assert(evalJs("Math.round(1.505 * 100) / 100") == JsNum(1.51))
  }

  // ------------------------------------------------- scenario: chat/users

  private def chatStore(): EventLogStore = {
    val s = new EventLogStore(spark, Files.createTempDirectory("jschat").toString)
    def msg(stream: String, id: String, sender: String, text: String) =
      PendingEvent(stream, id, "ChatMessage", s"""{"sender":"$sender","message":"$text"}""")
    s.append(Seq(
      msg("chat-1", "c1", "Greg", "Hi"),
      msg("chat-1", "c2", "Ronan", "starbucks"),
      msg("chat-1", "c3", "James", "herpherp"),
      msg("chat-2", "c4", "Rob", "starbucks"),
      msg("chat-2", "c5", "Ronan", "put the moose in the chocolate")))
    s
  }

  /** query1 of the reference scenario: per-chat-stream message counts. */
  test("JS fold: fromCategory.foreachStream.when counts per stream") {
    val p = JsProjection.compile("""
fromCategory("chat")
    .foreachStream()
    .when({
        $init: function() {
            return { count: 0 }
        },
        ChatMessage: function(state, event) {
            state.count += 1;
            return state;
        }
    });
""")
    val states = p.states(chatStore().read()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(states == Map(
      "chat-1" -> """{"count":3}""",
      "chat-2" -> """{"count":2}"""))
  }

  /** The recategorizing projection: linkTo into per-user streams, then the
    * user-side fold — the full scenario loop. */
  test("JS linkTo: recategorize chat events by user, fold the user streams") {
    val store = chatStore()
    val linker = JsProjection.compile("""
fromCategory("chat")
.when({
    ChatMessage: function(state, event) {
        var userStream = "user-" + event.body.sender;
        linkTo(userStream, event);
    }
})""")
    val links = linker.emitted(store.read()).collect()
    assert(links.length == 5)
    assert(links.forall(_.event_type == "$>"))
    val byUser = links.groupBy(_.stream_id).view.mapValues(_.length).toMap
    assert(byUser == Map("user-Greg" -> 1, "user-Ronan" -> 2,
      "user-James" -> 1, "user-Rob" -> 1))
    // link bodies are "n@stream" (JintProjectionStateHandler.cs:301-327)
    assert(links.filter(_.stream_id == "user-Greg").head.data == "0@chat-1")

    // materialize the links, then run query2 over the user category —
    // ChatMessage handlers fire on the RESOLVED type, so resolve first
    import spark.implicits._
    val linkRows = links.toSeq.toDF()
      .select(col("stream_id"), lit(null).cast("string").as("event_id"),
        lit("$>").as("event_type"), col("data"),
        lit(null).cast("string").as("metadata"),
        lit(null).cast("string").as("correlation_id"),
        lit(null).cast("timestamp").as("timestamp"))
      .withColumn("event_id", concat(col("stream_id"), lit(":"), col("data")))
    store.appendBulk(linkRows, orderBy = Seq("data"))
    val resolved = graft.operators.Links.resolve(
      store.read().where(col("event_type") === "$>"), store.read())
      .select(col("stream_id"), col("event_number"),
        col("resolved_event_type").as("event_type"),
        col("resolved_log_position").as("log_position"),
        col("timestamp"), col("correlation_id"),
        col("resolved_data").as("data"))
    val query2 = JsProjection.compile("""
fromCategory("user")
    .foreachStream()
    .when({
        $init: function() { return { count: 0 } },
        ChatMessage: function(state, event) {
            state.count += 1;
            return state;
        }
    });
""")
    val states = query2.states(resolved).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(states == Map(
      "user-Greg" -> """{"count":1}""",
      "user-Ronan" -> """{"count":2}""",
      "user-James" -> """{"count":1}""",
      "user-Rob" -> """{"count":1}"""))
  }

  test("JS partitionBy: body-derived key, null skips the event") {
    val p = JsProjection.compile("""
fromCategory("chat")
    .partitionBy(function(e) {
        return e.body.sender === "Greg" ? null : e.body.sender;
    })
    .when({
        $init: function() { return { n: 0 } },
        $any: function(s, e) { s.n += 1; return s; }
    })""")
    val states = p.states(chatStore().read()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(states == Map(
      "Ronan" -> """{"n":2}""",
      "James" -> """{"n":1}""",
      "Rob" -> """{"n":1}"""))
  }

  test("JS transformBy/filterBy chain over final states") {
    val p = JsProjection.compile("""
fromCategory("chat")
    .foreachStream()
    .when({
        $init: function() { return { count: 0 } },
        ChatMessage: function(state, event) { state.count += 1; return state; }
    })
    .filterBy(function(state) { return state.count >= 3; })
    .transformBy(function(state) { return { big: true, n: state.count }; })
""")
    val states = p.states(chatStore().read()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(states == Map("chat-1" -> """{"big":true,"n":3}"""))
  }

  test("JS emit with object body; outputState naming; $created") {
    val store = chatStore()
    val p = JsProjection.compile("""
fromCategory("chat")
    .foreachStream()
    .when({
        $init: function() { return { count: 0, first: null } },
        $created: function(s, e) { s.first = e.streamId; return s; },
        ChatMessage: function(s, e) {
            s.count += 1;
            if (e.body.message.indexOf("starbucks") >= 0)
                emit("coffee-" + e.body.sender, "CoffeeMentioned",
                     { by: e.body.sender, at: e.sequenceNumber });
            return s;
        }
    })""")
    val emitted = p.emitted(store.read()).collect()
    assert(emitted.map(e => (e.stream_id, e.data)).toSet == Set(
      ("coffee-Ronan", """{"by":"Ronan","at":1}"""),
      ("coffee-Rob", """{"by":"Rob","at":0}""")))
    val out = p.outputState(store.read(), "chatcount").collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(out == Map(
      "$projections-chatcount-chat-1-result" -> """{"count":3,"first":"chat-1"}""",
      "$projections-chatcount-chat-2-result" -> """{"count":2,"first":"chat-2"}"""))
  }

  test("runaway handler hits the execution budget instead of hanging") {
    val p = JsProjection.compile("""
fromCategory("chat")
    .when({
        ChatMessage: function(s, e) { while (true) { var x = 1; } }
    })""")
    val err = intercept[org.apache.spark.SparkException] {
      p.states(chatStore().read()).collect()
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) t.getMessage else rootMsg(t.getCause)
    assert(rootMsg(err).contains("execution budget exceeded"))
    // the interpreter remains usable after a budget trip (budget rearms)
    val ok = JsProjection.compile("""
fromCategory("chat").foreachStream().when({
  $init: function() { return { n: 0 } },
  ChatMessage: function(s, e) { s.n += 1; return s; }
})""")
    assert(ok.states(chatStore().read()).count() == 2)
  }

  test("uncaught handler throw fails the projection with the JS message") {
    // Jint parity: JintProjectionStateHandler surfaces the JavaScript
    // exception message when a handler throws and nothing catches it
    val p = JsProjection.compile("""
fromCategory("chat")
    .when({
        ChatMessage: function(s, e) {
            if (e.body.sender === 'Ronan') throw new Error('no moose talk');
        }
    })""")
    // the compiled path (the === guard compiles since r7) surfaces it as
    // a raise_error SparkRuntimeException; the interpreter path wraps a
    // JsError in a SparkException — both fault with the JS message
    val err = intercept[Exception] {
      p.states(chatStore().read()).collect()
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) t.getMessage else rootMsg(t.getCause)
    assert(rootMsg(err).contains("Error: no moose talk"))
    spark.conf.set("spark.graft.js.columnCompile", "false")
    try {
      val ierr = intercept[Exception] {
        p.states(chatStore().read()).collect()
      }
      assert(rootMsg(ierr).contains("Error: no moose talk"))
    } finally spark.conf.set("spark.graft.js.columnCompile", "true")
  }

  test("switch + try/catch in a real handler: per-stream type dispatch") {
    val p = JsProjection.compile("""
fromCategory("chat")
    .foreachStream()
    .when({
        $init: function() { return { greg: 0, other: 0, short_msgs: 0 }; },
        ChatMessage: function(s, e) {
            switch (e.body.sender) {
                case 'Greg':
                    s.greg += 1;
                    break;
                default:
                    s.other += 1;
            }
            try {
                if (e.body.message.length < 10) s.short_msgs += 1;
            } catch (err) { /* malformed body: skip */ }
            return s;
        }
    })""")
    val out = p.states(chatStore().read()).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(out == Map(
      "chat-1" -> """{"greg":1,"other":2,"short_msgs":3}""",
      "chat-2" -> """{"greg":0,"other":2,"short_msgs":1}"""))
  }

  test("JS definition validation: bad sources are rejected at compile") {
    intercept[JsError] { JsProjection.compile("var x = 1;") } // no selector
    intercept[JsParseError] { JsProjection.compile("fromAll().when({") }
    // fromStreamsMatching requires a FUNCTION argument
    intercept[JsError] { JsProjection.compile("fromStreamsMatching('a.*')") }
  }

  test("fromStreamsMatching: predicate stream selector — compiled filter " +
    "== interpreter; exotic predicates run through the interpreter UDF") {
    val log = hostileLog
    // regex predicate: compiles to a Catalyst rlike filter
    assert(fastEqualsInterp("""
fromStreamsMatching(function(sid) { return /^purchase-/.test(sid); })
    .foreachStream()
    .when({
        $init: function() { return { n: 0 }; },
        $any: function(s, e) { s.n += 1; return s; } })""", log))
    // startsWith + var prefix in the predicate body
    assert(fastEqualsInterp("""
fromStreamsMatching(function(sid) { var p = 'click'; return sid.startsWith(p); })
    .foreachStream()
    .when({
        $init: function() { return { n: 0 }; },
        $any: function(s, e) { s.n += 1; return s; } })""", log))
    // a loop-bearing predicate refuses the column path but the
    // interpreter-UDF fallback still selects the right streams
    val p = JsProjection.compile("""
fromStreamsMatching(function(sid) {
    var dashes = 0;
    for (var i = 0; i < sid.length; i++) { if (sid[i] === '-') dashes++; }
    return dashes === 1;
})
    .foreachStream()
    .when({
        $init: function() { return { n: 0 }; },
        $any: function(s, e) { s.n += 1; return s; } })""")
    assert(!p.compilesToColumns)
    val parts = p.states(log).collect().map(_.getString(0)).toSet
    assert(parts == Set("purchase-1", "purchase-2", "purchase-3", "click-9",
      "error-3"))
    // grammar: the selector admits foreachStream/partitionBy/when like
    // fromAll, and is itself only valid at the chain start
    intercept[JsError] {
      JsProjection.compile(
        "fromAll().fromStreamsMatching(function(s) { return true; })")
    }
  }

  test("on_event/on_any standalone handler registration == when({...}); " +
    "$defines_state_transform chains after when; options({biState})") {
    val log = hostileLog
    // the pre-chain registration style: same handlers, same results
    val viaOn = JsProjection.compile("""
fromAll().foreachStream();
on_event('purchase', function(s, e) { s.cents += Math.round(e.value * 100); return s; });
on_any(function(s, e) { s.n += 1; return s; });
on_event('$init', function() { return { n: 0, cents: 0 }; });
""")
    val viaWhen = JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { n: 0, cents: 0 }; },
    purchase: function(s, e) { s.cents += Math.round(e.value * 100); return s; },
    $any: function(s, e) { s.n += 1; return s; }
})""")
    val a = viaOn.states(log).orderBy("partition").collect().toSeq
    val b = viaWhen.states(log).orderBy("partition").collect().toSeq
    assert(a == b, "on_event/on_any must register the same handlers as when")
    // bad arguments are rejected like the reference's ArgumentException
    intercept[JsError] { JsProjection.compile("fromAll(); on_event('t');") }
    intercept[JsError] { JsProjection.compile("fromAll(); on_any('not a fn');") }
    // $defines_state_transform: valid after when, terminal, implies
    // outputState; not valid at the chain start
    val dst = JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { n: 0 }; },
    $any: function(s, e) { s.n += 1; return s; }
}).$defines_state_transform()""")
    assert(dst.states(log).count() > 0)
    intercept[JsError] {
      JsProjection.compile("fromAll().$defines_state_transform()")
    }
    // options({biState: true}) without $initShared: shared state = {}
    val bi = JsProjection.compile("""
options({ biState: true });
fromAll().foreachStream().when({
    $init: function() { return { n: 0 }; },
    $any: function(s, e) { s[0].n += 1; return s; }
})""")
    assert(bi.states(log).count() > 0)
  }

  test("chain grammar matches the reference's availability table") {
    def bad(src: String): String =
      intercept[JsError] { JsProjection.compile(src) }.getMessage
    // fromStreams has no foreachStream (JintProjectionStateHandler.cs:463)
    assert(bad("fromStreams('a','b').foreachStream()").contains("foreachStream"))
    // partitionBy admits only when
    assert(bad("fromAll().partitionBy(function(e){return 'x';}).partitionBy(function(e){return 'y';})")
      .contains("partitionBy"))
    // transforms require a when first
    assert(bad("fromAll().transformBy(function(s){return s;})").contains("transformBy"))
    // nothing follows outputTo
    assert(bad("fromAll().when({}).outputTo('out').filterBy(function(s){return true;})")
      .contains("filterBy"))
    // a second selector mid-chain is rejected
    assert(bad("fromAll().when({}); fromStream('a')").contains("fromStream"))
    // standalone options() before the chain, as real projections write it
    val p = JsProjection.compile("""
options({ resultStreamName: "my-result" });
fromCategory("chat").when({
  $init: function() { return { n: 0 } },
  $any: function(s, e) { s.n += 1; return s; }
})""")
    val out = p.outputState(chatStore().read(), "ignored").collect()
    assert(out.map(_.getString(0)).toSet == Set("my-result"))
    // reorder/link options are parsed and surfaced for the caller to wire
    val q = JsProjection.compile("""
options({ reorderEvents: true, processingLag: 500, $includeLinks: false });
fromAll().when({ $any: function(s, e) { return s; } })""")
    assert(q.options == JsProjectionOptions(false, true, Some(500L)))
  }

  test("JS $initShared bi-state: exact interleaving of shared and partition state") {
    // per-partition state snapshots the SHARED counter at its last event —
    // order-dependent across partitions, which the two-level commutative
    // fold cannot express; the single-pass variant must get it exactly
    val p = JsProjection.compile("""
fromCategory("chat")
    .foreachStream()
    .when({
        $init: function() { return { n: 0, sharedAtLast: 0 } },
        $initShared: function() { return { total: 0 } },
        ChatMessage: function(state, event) {
            var s = state[0], sh = state[1];
            sh.total += 1;
            s.n += 1;
            s.sharedAtLast = sh.total;
            return state;
        }
    })""")
    val states = p.states(chatStore().read()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // log order: chat-1 at global counts 1,2,3; chat-2 at 4,5
    assert(states == Map(
      "chat-1" -> """{"n":3,"sharedAtLast":3}""",
      "chat-2" -> """{"n":2,"sharedAtLast":5}""",
      "$shared" -> """{"total":5}"""))
    intercept[JsError] { p.emitted(chatStore().read()) }
  }

  test("Scala initBi: single-pass bi-state equals a driver-side reference fold") {
    val store = chatStore()
    val s = spark; import s.implicits._
    val folded = graft.projections.Projections.fromCategory("chat")
      .foreachStream()
      .initBi((0L, 0L), (0L, 0L)) { case ((n, atLast), (total, _), e) =>
        val t = total + 1
        ((n + 1, t), (t, 0L))
      }
      .states(store.read())
      .collect().toMap
    // driver-side reference fold over the same events in log order
    val events = store.read().where(col("stream_id").startsWith("chat-"))
      .select("stream_id", "log_position").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    var total = 0L
    val expected = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    events.foreach { case (sid, _) =>
      total += 1
      val (n, _) = expected.getOrElse(sid, (0L, 0L))
      expected(sid) = (n + 1, total)
    }
    expected.foreach { case (sid, st) => assert(folded(sid) == st, sid) }
    assert(folded(graft.projections.BiStateFold.SharedKey)._1 == total)
  }

  test("JS P21: emitted events land exactly-once through EmittedSink on replay") {
    val store = chatStore()
    val p = JsProjection.compile("""
fromCategory("chat")
    .foreachStream()
    .when({
        ChatMessage: function(s, e) {
            emit("mentions-" + e.body.sender, "Mentioned", { at: e.sequenceNumber });
        }
    })""")
    val first = graft.projections.EmittedSink.appendIdempotent(
      store, "jsmentions", p.emitted(store.read()))
    assert(first == 5L)
    // replay: same JS source re-derives identical idempotency keys → no-op
    val replay = graft.projections.EmittedSink.appendIdempotent(
      store, "jsmentions", p.emitted(store.read()))
    assert(replay == 0L)
    assert(store.read().where(col("stream_id").startsWith("mentions-")).count() == 5L)
  }

  test("JS P20: checkpoint + resume equals full replay") {
    val store = chatStore()
    val s = spark; import s.implicits._
    val p = JsProjection.compile("""
fromCategory("chat")
    .foreachStream()
    .when({
        $init: function() { return { count: 0, last: -1 } },
        ChatMessage: function(st, e) {
            st.count += 1;
            st.last = e.sequenceNumber;
            return st;
        }
    })""")
    val full = p.states(store.read()).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    // checkpoint covering positions <= 2, resume over the tail
    val prior = p.states(store.readAt(2L)).as[(String, String)]
    val resumed = p.statesFrom(store.read(), prior, 2L).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(resumed == full)
    assert(full.keySet == Set("chat-1", "chat-2"))
  }

  test("JS fold equals the Scala DSL fold on the driver testdata") {
    val log = graft.sources.Tables.eventLog(spark, "/root/testdata/sf0.001")
    val js = JsProjection.compile("""
fromCategory("purchase")
    .foreachStream()
    .when({
        $init: function() { return { n: 0, cents: 0 } },
        purchase: function(s, e) {
            s.n += 1;
            s.cents += Math.round(e.value * 100);
            return s;
        }
    })""")
    val jsStates = js.states(log)
      .select(col("partition"),
        get_json_object(col("state"), "$.n").cast("long").as("n"),
        get_json_object(col("state"), "$.cents").cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val s = spark; import s.implicits._
    val scalaStates = graft.projections.Projections.fromCategory("purchase")
      .foreachStream()
      .init((0L, 0L))
      .when("purchase")((st, e) => (st._1 + 1, st._2 + math.round(e.value * 100)))
      .states(log)
      .collect().map { case (k, (n, c)) => (k, n, c) }.toSet
    assert(jsStates == scalaStates)
    assert(jsStates.nonEmpty)
  }

  // ------------------------------------------- scenario: metadata surface

  /** Mirrors when_running_a_js_projection_emitting_metadata.cs: the 4th
    * emit argument becomes the emitted event's ExtraMetaData (each value a
    * serialized JSON fragment; undefined properties skipped). */
  test("JS emit: 4th argument becomes emitted metadata") {
    val store = chatStore()
    val p = JsProjection.compile("""
fromCategory("chat").when({
    ChatMessage: function(state, event) {
        emit("output-" + event.sequenceNumber, "emitted-" + event.sequenceNumber,
             { sender: event.body.sender }, { m1: 1, m2: "2", gone: undefined });
        return {};
    }
})""")
    val rows = p.emitted(store.read()).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.metadata == """{"m1":1,"m2":"2"}"""))
    // and EmittedSink merges ExtraMetaData into the written log metadata
    graft.projections.EmittedSink.appendIdempotent(store, "meta", p.emitted(store.read()))
    val written = store.read().where(col("stream_id").startsWith("output-"))
      .select("metadata").collect().map(_.getString(0))
    assert(written.length == 5)
    written.foreach { m =>
      assert(m.contains(""""$projection":"meta""""), m)
      assert(m.contains(""""m1":1""") && m.contains(""""m2":"2""""), m)
      assert(!m.contains("gone"), m)
    }
  }

  /** Mirrors when_specifying_meta_data_for_linked_event.cs: linkTo's 3rd
    * argument rides on the `$>` link event ({'meta': 'data'} →
    * {"meta":"data"}, the formatForRaw conversion). */
  test("JS linkTo: 3rd argument becomes link metadata") {
    val store = chatStore()
    val p = JsProjection.compile("""
fromCategory("chat").when({
    $any: function(state, event) {
        linkTo("output-stream", event, { meta: "data", n: 1, ok: true });
        return {};
    }
})""")
    val rows = p.emitted(store.read()).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.event_type == "$>"))
    assert(rows.forall(_.metadata == """{"meta":"data","n":1,"ok":true}"""))
  }

  /** Mirrors with_return_link_metadata.cs + when_running_a_query_using_
    * link_metadata.cs: reading through resolved `$>` links exposes the
    * LINK's metadata as e.linkMetadata while body/streamId come from the
    * target event. */
  test("JS $includeLinks: handlers see target events with the link's metadata") {
    val s = new EventLogStore(spark, Files.createTempDirectory("jslinkmeta").toString)
    s.append(Seq(
      PendingEvent("account-01", "a1", "test", """{"a":1}"""),
      PendingEvent("account-01", "a2", "test", """{"a":2}"""),
      PendingEvent("account-02", "a3", "test", """{"a":10}""")))
    // link stream: body n@stream, link metadata mirrors the target body
    // (the reference scenario's setup)
    s.append(Seq(
      PendingEvent("stream", "l1", "$>", "0@account-01", metadata = """{"a":1}"""),
      PendingEvent("stream", "l2", "$>", "1@account-01", metadata = """{"a":2}"""),
      PendingEvent("stream", "l3", "$>", "0@account-02", metadata = """{"a":10}""")))
    val p = JsProjection.compile("""
options({ $includeLinks: true })
fromStream("stream").when({
    $any: function(st, e) {
        if (JSON.stringify(e.body) != JSON.stringify(e.linkMetadata))
            throw "invalid link metadata " + JSON.stringify(e.linkMetadata);
        return e.linkMetadata;
    }
})""")
    val states = p.states(s.read()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // final state = last link's metadata, in link-stream order
    assert(states == Map("" -> """{"a":10}"""))
  }

  /** The envelope's own-metadata properties (metadataRaw/metadata/eventId),
    * only scanned when the source mentions them. */
  test("JS envelope exposes event metadata and eventId when referenced") {
    val s = new EventLogStore(spark, Files.createTempDirectory("jsmeta").toString)
    s.append(Seq(
      PendingEvent("m-1", "id-a", "T", """{"v":1}""", metadata = """{"who":"ops"}"""),
      PendingEvent("m-1", "id-b", "T", """{"v":2}""")))
    val p = JsProjection.compile("""
fromStream("m-1").when({
    $init: function() { return { who: [], ids: [] } },
    T: function(st, e) {
        st.who.push(e.metadata ? e.metadata.who : e.metadataRaw);
        st.ids.push(e.eventId);
        return st;
    }
})""")
    val states = p.states(s.read()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(states == Map("" -> """{"who":["ops",null],"ids":["id-a","id-b"]}"""))
  }

  /** The AST probe (JsMetaProbe) decides the scan width — not the source
    * TEXT. A fold that never touches envelope metadata keeps the narrow
    * scan even when the word "metadata" appears in a string literal or a
    * state field; envelope meta accesses, computed keys, and whole-envelope
    * escapes widen. */
  test("metadata scan decided by AST walk, not source text") {
    def scans(handlers: String): Boolean =
      JsProjection.compile(s"""fromCategory("chat").when({$handlers})""").scansMetadata
    // "metadata" only inside a string literal / state field → narrow
    assert(!scans("""
      $init: function() { return { note: 'metadata counts', metadata: 0 } },
      ChatMessage: function(st, e) { st.metadata += e.value; return st; }"""))
    // e.body.metadata is a DATA key, not the envelope's → narrow
    assert(!scans(
      "$any: function(st, e) { return { m: e.body.metadata, t: e.eventType } }"))
    // literal envelope meta accesses → wide
    assert(scans("$any: function(st, e) { return { m: e.metadata } }"))
    assert(scans("$any: function(st, e) { return { i: e['eventId'] } }"))
    assert(scans("$any: function(st, e) { return { l: e.linkMetadataRaw } }"))
    // computed key on the envelope → unknowable → wide
    assert(scans(
      "$any: function(st, e) { var k = st.k; return { v: e[k] } }"))
    // envelope escapes whole (helper call / for-in) → wide
    assert(scans(
      "$any: function(st, e) { return JSON.stringify(e) }"))
    assert(scans(
      "$any: function(st, e) { for (var k in e) { st[k] = 1; } return st; }"))
    // partitionBy's envelope is parameter 0
    val pb = JsProjection.compile("""
fromCategory("chat").partitionBy(function(e) { return e.metadata ? e.metadata.who : 'x'; }).when({
    $any: function(st, e) { return st; }
})""")
    assert(pb.scansMetadata)
    // and the narrow-scan fold still computes correctly end-to-end
    val store = chatStore()
    val p = JsProjection.compile("""
fromCategory("chat").foreachStream().when({
    $init: function() { return { note: 'metadata', n: 0 } },
    ChatMessage: function(st, e) { st.n += 1; return st; }
})""")
    assert(!p.scansMetadata)
    val states = p.states(store.read()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(states("chat-1").contains("\"n\":3"))
  }

  /** copyTo is registered and a no-op, like the reference
    * (JintProjectionStateHandler.cs CopyTo). */
  test("JS copyTo compiles and emits nothing") {
    val store = chatStore()
    val p = JsProjection.compile("""
fromCategory("chat").when({
    $any: function(st, e) { copyTo("elsewhere", e); return { seen: true }; }
})""")
    assert(p.emitted(store.read()).collect().isEmpty)
  }

  test("stdlib: Array.isArray/some/every/find, Object.assign, Math transcendentals, String statics") {
    assert(evalJs("Array.isArray([1,2])") == JsBool(true))
    assert(evalJs("Array.isArray({})") == JsBool(false))
    assert(evalJs("[1,2,3].some(function(x){ return x > 2; })") == JsBool(true))
    assert(evalJs("[1,2,3].every(function(x){ return x > 0; })") == JsBool(true))
    assert(evalJs("[1,2,3].find(function(x){ return x > 1; })") == JsNum(2))
    assert(evalJs("[1,2,3].findIndex(function(x){ return x > 2; })") == JsNum(2))
    assert(evalJs("[1,2,1].lastIndexOf(1)") == JsNum(2))
    assert(evalJs("var t = {a:1}; Object.assign(t, {b:2}, {a:3}); JSON.stringify(t)")
      == JsStr("""{"a":3,"b":2}"""))
    assert(evalJs("Math.round(Math.exp(Math.log(42)))") == JsNum(42))
    assert(evalJs("Math.sign(-5)") == JsNum(-1))
    assert(evalJs("Math.atan2(0, 1)") == JsNum(0))
    assert(evalJs("Math.cos(0) + Math.sin(0)") == JsNum(1))
    assert(evalJs("String.fromCharCode(104, 105)") == JsStr("hi"))
    assert(evalJs("'ab'.repeat(3)") == JsStr("ababab"))
    // ES RangeError contract: Infinity/huge counts are a CATCHABLE error,
    // not a ~2GB allocation OOM that kills the executor
    assert(evalJs("var r; try { 'x'.repeat(Infinity); } catch (e) { r = 'caught'; } r")
      == JsStr("caught"))
    intercept[JsError] { evalJs("'ab'.repeat(1e9)") }
    intercept[JsError] { evalJs("'x'.repeat(-1)") }
    assert(evalJs("''.repeat(7)") == JsStr(""))
    // ECMA number formatting where Java E-notation would diverge
    assert(evalJs("'' + 1e16") == JsStr("10000000000000000"))
    assert(evalJs("'' + 1e21") == JsStr("1e+21"))
    assert(evalJs("'' + 0.0000001") == JsStr("1e-7"))
    assert(evalJs("JSON.stringify({x: 12345678.9})") == JsStr("""{"x":12345678.9}"""))
  }

  // -------------------------------------------------------------- Date
  // Argument-constructed Date is a pure function of its inputs, so the
  // replay-determinism ban does not apply; only wall-clock forms stay
  // banned (JsDateOps doc).

  test("Date: argument-constructed forms, UTC getters, ISO round-trip") {
    assert(evalJs("new Date(0).toISOString()") == JsStr("1970-01-01T00:00:00.000Z"))
    assert(evalJs("new Date('2020-03-01T04:03:45.678Z').getTime()")
      == JsNum(1583035425678.0))
    assert(evalJs("new Date(1583035425678).toISOString()")
      == JsStr("2020-03-01T04:03:45.678Z"))
    assert(evalJs("new Date(1583035425678).getUTCHours()") == JsNum(4))
    assert(evalJs("new Date(1583035425678).getUTCDay()") == JsNum(0)) // Sunday
    assert(evalJs("new Date(1583035425678).getUTCFullYear()") == JsNum(2020))
    assert(evalJs("new Date(1583035425678).getUTCMonth()") == JsNum(2)) // 0-based
    assert(evalJs("new Date(1583035425678).getUTCDate()") == JsNum(1))
    assert(evalJs("new Date(1583035425678).getUTCMinutes()") == JsNum(3))
    assert(evalJs("new Date(1583035425678).getUTCSeconds()") == JsNum(45))
    assert(evalJs("new Date(1583035425678).getUTCMilliseconds()") == JsNum(678))
    // UTC-pinned engine: local getters alias UTC, offset is 0
    assert(evalJs("new Date(1583035425678).getHours()") == JsNum(4))
    assert(evalJs("new Date(1583035425678).getTimezoneOffset()") == JsNum(0))
    // date-only ISO is UTC midnight; explicit offsets are honored
    assert(evalJs("new Date('2020-03-01').getTime()") == JsNum(1583020800000.0))
    assert(evalJs("new Date('2020-03-01T05:03:45+01:00').getTime()")
      == JsNum(1583035425000.0))
    assert(evalJs("Date.parse('2020-03-01T04:03:45.678Z')") == JsNum(1583035425678.0))
    assert(evalJs("Date.UTC(2020, 2, 1, 4, 3, 45, 678)") == JsNum(1583035425678.0))
    // ES month rollover and the legacy 0-99 constructor-year mapping —
    // which must NOT apply to ISO parsing
    assert(evalJs("new Date(2019, 14, 1).toISOString()")
      == JsStr("2020-03-01T00:00:00.000Z"))
    assert(evalJs("new Date(99, 0, 1).getUTCFullYear()") == JsNum(1999))
    assert(evalJs("new Date('0050-01-01').getUTCFullYear()") == JsNum(50))
    // date arithmetic via valueOf
    assert(evalJs("new Date(2000) - new Date(500)") == JsNum(1500))
    assert(evalJs("typeof new Date(0)") == JsStr("object"))
    // toJSON contract in state JSON
    assert(evalJs("JSON.stringify({d: new Date(0)})")
      == JsStr("""{"d":"1970-01-01T00:00:00.000Z"}"""))
  }

  test("Date: invalid dates are NaN-valued; wall-clock forms stay banned") {
    assert(evalJs("isNaN(new Date('not a date').getTime())") == JsBool(true))
    assert(evalJs("isNaN(new Date('2020-13-01').getTime())") == JsBool(true))
    // calendar-invalid day-of-month must be Invalid Date, not roll over
    // (ES 21.4.3.2: out-of-bounds ISO fields do not wrap in Date.parse)
    assert(evalJs("isNaN(Date.parse('2019-02-30'))") == JsBool(true))
    assert(evalJs("isNaN(Date.parse('2020-04-31T00:00:00Z'))") == JsBool(true))
    assert(evalJs("isNaN(new Date('2021-02-29').getTime())") == JsBool(true))
    // ...while genuinely-valid leap/zonal edges still parse
    assert(evalJs("isNaN(Date.parse('2020-02-29'))") == JsBool(false))
    assert(evalJs("new Date('2019-02-28T23:59:59Z').getUTCDate()") == JsNum(28))
    assert(evalJs("JSON.stringify({d: new Date('nope')})") == JsStr("""{"d":null}"""))
    // Invalid Date toISOString: catchable ES RangeError
    assert(evalJs(
      "var r; try { new Date(NaN).toISOString(); } catch (e) { r = e.message; }" +
        "r.indexOf('RangeError') === 0") == JsBool(true))
    val e1 = intercept[JsError] { evalJs("new Date()") }
    assert(e1.getMessage.contains("banned"))
    val e2 = intercept[JsError] { evalJs("Date.now()") }
    assert(e2.getMessage.contains("banned"))
  }

  // ------------------------------------------------------------- regex
  // Regexes are deterministic, so the Date/random replay ban does not
  // apply; Jint ships full ES regex and real handlers use these forms.

  test("regex: literals, test/exec, lastIndex with g flag") {
    assert(evalJs("/ab+c/.test('xabbc')") == JsBool(true))
    assert(evalJs("/ab+c/.test('xac')") == JsBool(false))
    assert(evalJs("/a(b)(c)?/.exec('xab')[1]") == JsStr("b"))
    assert(evalJs("/a(b)(c)?/.exec('xab')[2]") == JsUndef)
    assert(evalJs("/zz/.exec('abc')") == JsNull)
    // g: exec starts at lastIndex, advances it, resets to 0 when done
    assert(evalJs(
      "var r = /\\d+/g; var a = []; var m;" +
        "while ((m = r.exec('a1b22c')) !== null) a.push(m[0]);" +
        "a.join(',') + ':' + r.lastIndex") == JsStr("1,22:0"))
    assert(evalJs("var r = /a/g; r.exec('aa'); r.lastIndex") == JsNum(1))
    // division still lexes as division
    assert(evalJs("var a = 10; var b = 2; a / b / 1") == JsNum(5))
    assert(evalJs("(4+2) / 3") == JsNum(2))
    // a regex directly after an if/while/for header close-paren is a
    // regex literal, not division (statement-position `)`)
    assert(evalJs("var r = 'no'; if (1 < 2) /\\d/.test('a1') ? r = 'yes' : 0; r")
      == JsStr("yes"))
    assert(evalJs("var n = 0; while (n < 3) /a/.test('a') ? n += 1 : n += 9; n")
      == JsNum(3))
    // expression-position `)` still means division
    assert(evalJs("var x = (4) / 2; x") == JsNum(2))
  }

  test("regex: string match with and without g; non-matching gives null") {
    assert(evalJs("'a1b22'.match(/\\d+/)[0]") == JsStr("1"))
    assert(evalJs("'a1b22'.match(/\\d+/g).join(',')") == JsStr("1,22"))
    assert(evalJs("'abc'.match(/\\d/)") == JsNull)
    assert(evalJs("'abc'.match(/\\d/g)") == JsNull)
    assert(evalJs("'A-b'.match(/[a-z]/i)[0]") == JsStr("A"))
    assert(evalJs("'x\\ny'.match(/^y/m)[0]") == JsStr("y"))
    assert(evalJs("'a1'.search(/\\d/)") == JsNum(1))
    assert(evalJs("'ab'.search(/\\d/)") == JsNum(-1))
  }

  test("regex: replace with strings, groups, $-substitution and functions") {
    assert(evalJs("'a1b2'.replace(/\\d/, 'X')") == JsStr("aXb2"))
    assert(evalJs("'a1b2'.replace(/\\d/g, 'X')") == JsStr("aXbX"))
    assert(evalJs("'john smith'.replace(/(\\w+) (\\w+)/, '$2, $1')")
      == JsStr("smith, john"))
    assert(evalJs("'ab'.replace(/b/, '[$&]')") == JsStr("a[b]"))
    assert(evalJs("'price: 5'.replace(/\\d+/, function(m) { return m * 2; })")
      == JsStr("price: 10"))
    assert(evalJs("'a1b22'.replace(/\\d+/g, function(m, off) { return '<' + m + '>'; })")
      == JsStr("a<1>b<22>"))
    // string-pattern replace keeps first-occurrence semantics, with $&
    assert(evalJs("'aba'.replace('a', '($&)')") == JsStr("(a)ba"))
    assert(evalJs("'100$'.replace(/\\$/, ' dollars')") == JsStr("100 dollars"))
  }

  test("regex: split with captures, limits, RegExp constructor, flags") {
    assert(evalJs("'a1b22c'.split(/\\d+/).join('|')") == JsStr("a|b|c"))
    // ES splices capture groups into the output — Java's split drops them
    assert(evalJs("'a1b'.split(/(\\d)/).join('|')") == JsStr("a|1|b"))
    assert(evalJs("'a,b,c'.split(',', 2).join('|')") == JsStr("a|b"))
    assert(evalJs("'1a2'.split(/[a-z]/).join('|')") == JsStr("1|2"))
    assert(evalJs("new RegExp('a.c').test('abc')") == JsBool(true))
    assert(evalJs("new RegExp('ABC', 'i').test('abc')") == JsBool(true))
    assert(evalJs("var r = new RegExp('x', 'g'); r.global && r.source === 'x'")
      == JsBool(true))
    assert(evalJs("/a/.source + ':' + /a/gi.flags") == JsStr("a:gi"))
    // a regex serializes as {} in state JSON, exactly like ES
    assert(evalJs("JSON.stringify({r: /a/g})") == JsStr("{\"r\":{}}"))
    // bad dynamic pattern: catchable SyntaxError-shaped error
    assert(evalJs(
      "var msg = ''; try { new RegExp('('); } catch (e) { msg = e.message; }" +
        "msg.indexOf('SyntaxError') === 0") == JsBool(true))
    // unsupported sticky flag rejected with a clear error
    assert(evalJs(
      "var ok = false; try { new RegExp('a', 'y'); } catch (e) { ok = true; } ok")
      == JsBool(true))
  }

  test("regex: pathological backtracking trips the read budget, catchably and fast") {
    // JDK 17 memoizes the classic (a+)+ ReDoS shape, but .*.*.*…x$ still
    // backtracks polynomially — unguarded, ~3k chars costs billions of
    // internal steps inside ONE interpreter step. The guarded matcher
    // must throw a catchable error within the bounded read count.
    val t0 = System.nanoTime()
    assert(evalJs(
      """var msg = '';
        |var s = '';
        |for (var i = 0; i < 3000; i++) s += 'a';
        |try { /.*.*.*.*.*x$/.test(s); } catch (e) { msg = e.message; }
        |msg.indexOf('regex execution budget') >= 0""".stripMargin) == JsBool(true))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 20.0, s"guard must trip quickly, took $sec s")
    // ...while legitimate heavy-but-linear regex work stays under budget
    assert(evalJs(
      """var s = '';
        |for (var i = 0; i < 2000; i++) s += 'word' + i + ' ';
        |s.match(/\w+/g).length""".stripMargin) == JsNum(2000.0))
  }

  test("runaway recursion: catchable RangeError at the ES call-depth cap, not a JVM stack death") {
    assert(evalJs(
      """var msg = '';
        |function f() { return f(); }
        |try { f(); } catch (e) { msg = e.message; }
        |msg.indexOf('Maximum call stack') >= 0""".stripMargin) == JsBool(true))
    // legitimate deep-but-bounded recursion still works
    assert(evalJs("function g(n){ return n <= 0 ? 0 : 1 + g(n - 1); } g(200)")
      == JsNum(200.0))
  }

  test("bounded recursion to depth 200 and the depth cap hold on a 256 KiB thread stack") {
    var got: Either[Throwable, (JsVal, JsVal)] = null
    val t = new Thread(null, () => got =
      try Right((
        evalJs("function g(n){ return n <= 0 ? 0 : 1 + g(n - 1); } g(200)"),
        evalJs("""var msg = '';
          |function f() { return f(); }
          |try { f(); } catch (e) { msg = e.message; }
          |msg.indexOf('Maximum call stack') >= 0""".stripMargin)))
      catch { case e: Throwable => Left(e) }, "small-stack", 256L << 10)
    t.start()
    t.join()
    assert(got == Right((JsNum(200.0), JsBool(true))))
  }

  test("hostile nesting fails the parse loudly instead of overflowing the compile stack") {
    val deep = "(" * 2000 + "1" + ")" * 2000
    val err = intercept[graft.projections.js.JsParseError] {
      graft.projections.js.JsParser.program(deep)
    }
    assert(err.getMessage.contains("nesting too deep"))
  }

  test("regex: deep-recursion patterns convert StackOverflowError to a catchable error") {
    // (ab?)+c$ recurses once per char in java.util.regex — a few thousand
    // chars overflow the JVM stack; an Error would kill the executor
    // thread. The guard converts it to the same catchable budget error.
    assert(evalJs(
      """var msg = '';
        |var s = '';
        |for (var i = 0; i < 4000; i++) s += 'ab';
        |try { /(ab?)+c$/.test(s); } catch (e) { msg = e.message; }
        |msg.indexOf('regex execution budget') >= 0""".stripMargin) == JsBool(true))
  }

  test("$includeLinks: a dangling link (scavenged/deleted target) reaches " +
    "the handler AS the link event, not silently dropped") {
    val store = new EventLogStore(spark,
      Files.createTempDirectory("jslinkgone").toString)
    store.append(Seq(
      PendingEvent("src-1", "s0", "Ev", """{"v":0}"""),
      PendingEvent("idx-1", "l0", "$>", "0@src-1"),
      PendingEvent("idx-1", "l1", "$>", "0@gone-1")))
    val p = JsProjection.compile("""
options({ $includeLinks: true });
fromCategory("idx")
    .foreachStream()
    .when({
        $init: function() { return { resolved: 0, dangling: 0 }; },
        $any: function(s, e) {
            if (e.eventType === '$>') s.dangling += 1; else s.resolved += 1;
            return s;
        }
    })""")
    val states = p.states(store.readRetained()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // l0 resolves (handler sees "Ev"); l1's target never existed — the
    // handler sees the unresolved link itself, reference ForFailedResolvedLink
    assert(states == Map("idx-1" -> """{"resolved":1,"dangling":1}"""))
  }

  // -------------------------------------------- column-compiled fast path

  /** Hostile envelope rows exercising every dynamic-typing edge the
    * column compiler must match: body.k as string/int/decimal/bool/json-
    * null/object/array/empty-string/-0.0, missing keys, malformed JSON,
    * null data, null/epoch/negative/far-future timestamps, dash-less
    * stream ids. */
  private def hostileLog = {
    val s = spark
    import s.implicits._
    Seq(
      ("purchase-1", 0L, "purchase", 1L, Some(1583035425678L), """{"k":"alpha"}""", 10.5),
      ("purchase-1", 1L, "purchase", 2L, Some(0L), """{"k":12}""", 151.2),
      ("purchase-2", 0L, "purchase", 3L, Some(-86400001L), """{"k":1.50}""", 7.77),
      ("purchase-2", 1L, "refund", 4L, Some(4102444800000L), """{"k":true}""", 3.2),
      ("click-9", 0L, "click", 5L, None, """{"k":null}""", 0.0),
      ("click-9", 1L, "click", 6L, Some(999L), """{"k":{"x":1}}""", -5.5),
      ("noDashStream", 0L, "purchase", 7L, Some(1L), """{"k":[1,2]}""", 2.25),
      ("error-3", 0L, "error", 8L, Some(123456789L), """{}""", 1e9),
      ("error-3", 1L, "error", 9L, Some(123L), "not json", 0.015),
      ("error-3", 2L, "error", 10L, Some(456L), null, 99.99),
      ("purchase-3", 0L, "purchase", 11L, Some(1700000000123L), """{"k":""}""", 42.0),
      ("purchase-3", 1L, "purchase", 12L, Some(1700000001123L), """{"k":-0.0}""", 0.49),
      ("purchase-3", 2L, "purchase", 13L, Some(1700000002123L), """{"k":1e21}""", 1.01))
      .toDF("stream_id", "event_number", "event_type", "log_position",
        "ts_ms", "data", "value")
      .withColumn("timestamp", expr("timestamp_millis(ts_ms)")).drop("ts_ms")
      .withColumn("correlation_id", lit(null).cast("string"))
  }

  /** Both execution paths of states() on the same log must agree row for
    * row; returns whether the definition took the fast path. */
  private def fastEqualsInterp(src: String, log: org.apache.spark.sql.DataFrame): Boolean = {
    val p = JsProjection.compile(src)
    if (!p.compilesToColumns) return false
    assert(p.fastStates(log).isDefined, "fast path must engage on this log")
    val fast = p.states(log).orderBy("partition", "state").collect().toSeq
    spark.conf.set("spark.graft.js.columnCompile", "false")
    try {
      assert(p.fastStates(log).isEmpty, "conf must force the interpreter")
      val interp = p.states(log).orderBy("partition", "state").collect().toSeq
      assert(fast == interp, s"fast != interpreter for:\n$src")
    } finally spark.conf.set("spark.graft.js.columnCompile", "true")
    true
  }

  test("column fast path: full handler corpus, fast == interpreter, " +
    "with the expected compile/fallback split") {
    val log = graft.sources.Tables.eventLog(spark, "/root/testdata/sf0.001")
    val compiled = JsProjectionQueries.handlerCorpus.map { case (name, src) =>
      name -> fastEqualsInterp(src, log)
    }.toMap
    // sums of pure per-event expressions compile — including the
    // transformBy/filterBy chain (post-aggregation where/select), the
    // emit/linkTo definitions (state-free emissions don't touch state, so
    // their states() is the bare-init fold), switch/try-catch control
    // flow (clause guards + the err channel), and regex match/test/
    // replace/split over the native JsRegexColumns expressions
    assert(compiled == Map(
      "js_string_accum" -> true,
      "js_branch_fold" -> true,
      "js_streams_matching" -> true,
      "js_first_event" -> true,
      "js_high_water" -> true,
      "js_nested_state" -> true,
      "js_early_return" -> true,
      "js_array_collect" -> true,
      "js_count_by_type" -> true,
      "js_last_by_type" -> true,
      "js_map_guard" -> true,
      "js_map_last_guard" -> true,
      "js_array_guard" -> true,
      "js_minmax" -> true,
      "js_last_value" -> true,
      "js_date_bucket" -> true,
      "js_fold_count_sum" -> true,
      "js_try_switch" -> true,
      "js_regex_extract" -> true,
      "js_string_ops" -> true,
      "js_partition_by" -> true,
      "js_emit" -> true,
      "js_emit_stateful" -> true,
      "js_linkto" -> true,
      "js_transform_filter" -> true,
      "js_output_state" -> true))
  }

  test("column fast path: hostile dynamic-typed data, fast == interpreter") {
    val log = hostileLog
    for ((_, src) <- JsProjectionQueries.handlerCorpus
        if JsProjection.compile(src).compilesToColumns)
      fastEqualsInterp(src, log)
    // body-prop partition keys across every JSON type: strings verbatim,
    // numbers in ES formatting ("1.5" not "1.50", "1e+21"), bool/object/
    // array/null/missing skipped
    val keys = JsProjection.compile("""
fromAll()
    .partitionBy(function(e) {
        return e.body && e.body.k != null ? e.body.k : null;
    })
    .when({ $init: function() { return { n: 0 }; },
            $any: function(s, e) { s.n += 1; return s; } })""")
      .states(log).collect().map(_.getString(0)).toSet
    assert(keys == Set("alpha", "12", "1.5", "", "0", "1e+21"))
  }

  test("column fast path: pre-state read guards — first-event checks and " +
    "value-position reads compile; order/kind/circularity violations fall back") {
    val log = hostileLog
    // the canonical first-event guard (r9 verdict item 8): reads of
    // s.count BEFORE its increment compile to a fold-order running-sum
    // window; both branches and the unconditional tail stay exact
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { count: 0, first: 0, later: 0 }; },
    $any: function(s, e) {
        if (s.count === 0) { s.first += e.sequenceNumber + 7; }
        else { s.later += 1; }
        s.count += 1;
        return s;
    } })""", log))
    // value-position read: acc accumulates the PRE-event count (0+1+…)
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { count: 0, acc: 0 }; },
    $any: function(s, e) {
        s.acc += s.count;
        s.count += 1;
        return s;
    } })""", log))
    // composed with a row predicate: only a first event that is a
    // purchase sets the flag
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { count: 0, firstIsPurchase: 0 }; },
    $any: function(s, e) {
        if (s.count === 0 && e.eventType === 'purchase') { s.firstIsPurchase += 1; }
        s.count += 1;
        return s;
    } })""", log))
    // a read AFTER a same-handler mutation resolves through the POST
    // channel since r15 (INCLUSIVE window — the just-mutated value),
    // provided no later statement mutates the field again: compiles
    // and stays exact
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { count: 0, first: 0 }; },
    $any: function(s, e) {
        s.count += 1;
        if (s.count === 1) { s.first += 1; }
        return s;
    } })""", log))
    // ...but a post-read FOLLOWED by another mutation of the same field
    // is mid-handler live state neither window frame holds — falls back
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { count: 0, first: 0 }; },
    $any: function(s, e) {
        s.count += 1;
        if (s.count === 1) { s.first += 1; }
        s.count += 1;
        return s;
    } })""").compilesToColumns)
    // reads of numeric overwrite fields COMPILE since r11 (latest
    // preceding site via a last-ignoreNulls window) and stay exact
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { last: 0, n: 0 }; },
    $any: function(s, e) {
        if (s.last === 0) { s.n += 1; }
        s.last = e.sequenceNumber;
        return s;
    } })""", log))
    // …but an overwrite site whose value is not provably a plain
    // number/string in the $init's class (dynamic body read) refuses
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { last: 0, n: 0 }; },
    $any: function(s, e) {
        if (s.last === 0) { s.n += 1; }
        if (e.body) { s.last = e.body.k; }
        return s;
    } })""").compilesToColumns)
    // a field whose own delta reads itself is circular — fall back
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { count: 1 }; },
    $any: function(s, e) {
        s.count += s.count;
        return s;
    } })""").compilesToColumns)
    // streaming: the window neither runs on a stream nor sees earlier
    // batches — the fast streaming path serves pre-state plans through
    // the typed stepper (r14), refusing only when it is disabled
    val pre = JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { count: 0, first: 0 }; },
    $any: function(s, e) {
        if (s.count === 0) { s.first += 1; }
        s.count += 1;
        return s;
    } })""")
    assert(pre.compilesToColumns)
    assert(pre.fastStatesStream(log).isDefined,
      "pre-state plans must take the typed stepper streaming path")
    spark.conf.set("spark.graft.js.streamStepper", "false")
    try assert(pre.fastStatesStream(log).isEmpty,
      "disabling the stepper must fall back to the interpreter store")
    finally spark.conf.unset("spark.graft.js.streamStepper")
    val plain = JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { n: 0 }; },
    $any: function(s, e) { s.n += 1; return s; } })""")
    assert(plain.fastStatesStream(log).isDefined)
  }

  test("column fast path: dynamic-key map pre-state reads — guards, " +
    "undefined-before-first-write, refusal edges, streaming stepper") {
    val log = hostileLog
    // the canonical read-then-update threshold guard compiles and
    // matches the interpreter (including first-occurrence undefined:
    // `s.m[k]` is falsy and `(s.m[k]||0)` is 0 before any write)
    assert(fastEqualsInterp(
      JsProjectionQueries.handlerCorpus.toMap.apply("js_map_guard"), log))
    // overwrite-map read: undefined compares false (NaN-compare), later
    // reads see the latest preceding per-key value
    assert(fastEqualsInterp(
      JsProjectionQueries.handlerCorpus.toMap.apply("js_map_last_guard"), log))
    // a read keyed DIFFERENTLY from the same handler's write site cannot
    // share the window partition key — fall back
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { m: {}, n: 0 }; },
    $any: function(s, e) {
        if (s.m[e.eventType]) { s.n += 1; }
        s.m[e.streamId] = (s.m[e.streamId] || 0) + 1;
        return s;
    } })""").compilesToColumns)
    // a read AFTER the same-handler write sees the mutated value in the
    // interpreter — fall back
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { m: {}, n: 0 }; },
    $any: function(s, e) {
        s.m[e.eventType] = (s.m[e.eventType] || 0) + 1;
        if (s.m[e.eventType]) { s.n += 1; }
        return s;
    } })""").compilesToColumns)
    // a string-valued overwrite map compiles through the string-claim
    // retry: membership truthiness ("" falsy like JS), and strict
    // equality against the latest preceding per-key string
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { m: {}, n: 0 }; },
    $any: function(s, e) {
        if (s.m[e.eventType]) { s.n += 1; }
        s.m[e.eventType] = e.streamId;
        return s;
    } })""", log))
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { last: {}, rep: 0 }; },
    $any: function(s, e) {
        if (s.last[e.eventType] === e.streamId) { s.rep += 1; }
        s.last[e.eventType] = e.streamId;
        return s;
    } })""", log))
    // MIXED number/string site values have no single raw class — fall back
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { m: {}, n: 0 }; },
    $any: function(s, e) {
        if (s.m[e.eventType]) { s.n += 1; }
        s.m[e.eventType] = e.value > 50 ? e.streamId : 7;
        return s;
    } })""").compilesToColumns)
    // map pre-state plans stream through the typed stepper (r14)
    val pre = JsProjection.compile(
      JsProjectionQueries.handlerCorpus.toMap.apply("js_map_guard"))
    assert(pre.compilesToColumns)
    assert(pre.fastStatesStream(log).isDefined,
      "map pre-state plans must take the typed stepper streaming path")
  }

  test("column fast path: array pre-state reads — membership/length " +
    "guards, self-dedup push idiom, refusal edges, streaming stepper") {
    val log = hostileLog
    // the registered oracle shape: includes + length guards + the
    // self-dedup indexOf push — compiles and matches the interpreter
    assert(fastEqualsInterp(
      JsProjectionQueries.handlerCorpus.toMap.apply("js_array_guard"), log))
    // membership guarding another field over an UNCONDITIONAL push
    // (duplicates accumulate; membership still = "offered before")
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { xs: [], rep: 0 }; },
    $any: function(s, e) {
        if (s.xs.indexOf(e.eventType) >= 0) { s.rep += 1; }
        s.xs.push(e.eventType);
        return s;
    } })""", log))
    // length guard over an unconditional push (plain running count)
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { xs: [], deep: 0 }; },
    $any: function(s, e) {
        if (s.xs.length >= 3) { s.deep += 1; }
        s.xs.push(e.eventType);
        return s;
    } })""", log))
    // !includes spelling of the self-dedup idiom, with an extra conjunct
    // (the offer strips ONLY the membership conjunct)
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { xs: [], n: 0 }; },
    $any: function(s, e) {
        if (!s.xs.includes(e.eventType) && e.value > 50) { s.xs.push(e.eventType); s.n += 1; }
        return s;
    } })""", log))
    // a read AFTER the same-handler push sees live state the window
    // cannot reconstruct — fall back
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { xs: [], n: 0 }; },
    $any: function(s, e) {
        s.xs.push(e.eventType);
        if (s.xs.includes(e.eventType)) { s.n += 1; }
        return s;
    } })""").compilesToColumns)
    // a probe structurally different from the push element cannot share
    // the window's per-row value column — fall back
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { xs: [], n: 0 }; },
    $any: function(s, e) {
        if (s.xs.includes(e.eventType)) { s.n += 1; }
        s.xs.push(e.streamId);
        return s;
    } })""").compilesToColumns)
    // a NUMERIC probe has no exact raw-equality class (NaN/±Infinity
    // collapse in any rendering) — fall back
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { xs: [], n: 0 }; },
    $any: function(s, e) {
        if (s.xs.includes(e.value)) { s.n += 1; }
        s.xs.push(e.value);
        return s;
    } })""").compilesToColumns)
    // TWO push sites in one handler with a membership read elsewhere:
    // arrPreVal carries a single per-row value column, so the second
    // site's value could never partition the window — fall back (the
    // one-shared-value rule only covers handlers that also READ)
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { xs: [], n: 0 }; },
    t1: function(s, e) {
        s.xs.push(e.eventType);
        s.xs.push(e.streamId);
        return s;
    },
    $any: function(s, e) {
        if (s.xs.includes(e.streamId)) { s.n += 1; }
        return s;
    } })""").compilesToColumns)
    // ... while a LENGTH-only read tolerates multiple sites per handler
    // (the count window sums every site's executed element count)
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { xs: [], deep: 0 }; },
    t1: function(s, e) {
        s.xs.push(e.eventType);
        s.xs.push(e.streamId);
        return s;
    },
    $any: function(s, e) {
        if (s.xs.length >= 4) { s.deep += 1; }
        return s;
    } })""", log))
    // a length-BOUNDED push is execution-guarded by its own length
    // window — genuinely sequential; the circularity gate falls back
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { xs: [] }; },
    $any: function(s, e) {
        if (s.xs.length < 3) { s.xs.push(e.eventType); }
        return s;
    } })""").compilesToColumns)
    // the indexOf VALUE (not a sign test) would need a first-match
    // position the window cannot reconstruct — fall back
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { xs: [], n: 0 }; },
    $any: function(s, e) {
        s.n += s.xs.indexOf(e.eventType);
        if (s.xs.indexOf(e.eventType) === -1) { s.xs.push(e.eventType); }
        return s;
    } })""").compilesToColumns)
    // array pre-state plans stream through the typed stepper (r14)
    val pre2 = JsProjection.compile(
      JsProjectionQueries.handlerCorpus.toMap.apply("js_array_guard"))
    assert(pre2.compilesToColumns)
    assert(pre2.fastStatesStream(log).isDefined,
      "array pre-state plans must take the typed stepper streaming path")
  }

  test("column fast path: early returns — filter idiom, pre-return " +
    "statements, stacked returns, fast == interpreter on hostile data") {
    val log = hostileLog
    // the filter idiom: skip non-purchases entirely
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { n: 0, cents: 0 }; },
    $any: function(s, e) {
        if (e.eventType !== 'purchase') return s;
        s.n += 1;
        s.cents += Math.round(e.value * 100);
        return s;
    } })""", log))
    // statements BEFORE the return run under the condition; stacked
    // early returns compound (second condition only evaluated when the
    // first did not fire)
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { skipped: 0, weird: 0, n: 0 }; },
    $any: function(s, e) {
        if (e.eventType === 'click') { s.skipped += 1; return s; }
        if (e.body && e.body.k === true) { s.weird += 1; return s; }
        s.n += 1;
        return s;
    } })""", log))
    // unconditional mid-block return: trailing statements never run
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { n: 0, never: 0 }; },
    $any: function(s, e) { s.n += 1; return s; s.never += 1; return s; } })""", log))
    // if/else where the then-branch returns: the else body is just more
    // not-taken code
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { clicks: 0, cents: 0 }; },
    $any: function(s, e) {
        if (e.eventType === 'click') { s.clicks += 1; return s; }
        else { s.cents += Math.round(e.value * 100); }
        return s;
    } })""", log))
    // BOTH branches return: mutations route per branch, trailing code is
    // dead for every event
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { clicks: 0, cents: 0, never: 0 }; },
    $any: function(s, e) {
        if (e.eventType === 'click') { s.clicks += 1; return s; }
        else { s.cents += Math.round(e.value * 100); return s; }
        s.never += 1;
        return s;
    } })""", log))
    // return in the ELSE branch only: subsequent statements run exactly
    // when the condition held
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { clicks: 0, after: 0 }; },
    $any: function(s, e) {
        if (e.eventType === 'click') { s.clicks += 1; }
        else { return s; }
        s.after += 1;
        return s;
    } })""", log))
    // both-return if/else mixing extrema and concat across branches
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { hi: -1e308, trail: '' }; },
    $any: function(s, e) {
        if (e.value > 0) { s.hi = Math.max(s.hi, e.value); return s; }
        else { s.trail += e.eventType + ','; return s; }
    } })""", log))
  }

  test("column fast path: string concat accumulators — += in log order, " +
    "multiple guarded sites, init prefix, escaping, fast == interpreter") {
    val log = hostileLog
    // the audit-trail idiom: append per event, order = log order
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { seq: '' }; },
    $any: function(s, e) { s.seq += e.eventType + ';'; return s; } })""", log))
    // guarded sites pick per event; a non-empty init stays a prefix; two
    // appends in one handler land in program order; quotes/backslashes
    // must JSON-escape exactly like the interpreter's stringify
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { log: 'start:', q: '' }; },
    $any: function(s, e) {
        if (e.value > 5) s.log += 'big,'; else s.log += 'small,';
        s.log += '|';
        s.q += '"\n\\';
        return s;
    } })""", log))
    // spelled-out form s.f = s.f + x compiles; string -= never does
    def compiles(src: String): Boolean = JsProjection.compile(src).compilesToColumns
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { seq: '' }; },
      $any: function(s, e) { s.seq = s.seq + e.streamId; return s; } })"""))
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { seq: '' }; },
      $any: function(s, e) { s.seq -= e.streamId; return s; } })"""))
    // numeric init with a string append stays interpreted (first render
    // would be numeric)
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { seq: 0 }; },
      $any: function(s, e) { s.seq += e.eventType; return s; } })"""))
  }

  test("column fast path: string PREPEND accumulators and left-assoc " +
    "append chains, fast == interpreter") {
    val log = hostileLog
    def compiles(src: String): Boolean = JsProjection.compile(src).compilesToColumns
    // `s.f = x + s.f` with a string x PREPENDS — latest event in front,
    // $init at the tail (this was silently compiled as an APPEND before)
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { seq: 'I' }; },
    $any: function(s, e) { s.seq = e.eventType + '|' + s.seq; return s; } })""", log))
    // two prepend sites in one handler: the later statement lands in
    // front of the earlier one's fragment
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { seq: '' }; },
    $any: function(s, e) {
        s.seq = e.eventType + s.seq;
        if (e.value > 5) { s.seq = '!' + s.seq; }
        return s;
    } })""", log))
    // left-assoc chain `s.f = s.f + a + b` parses as `(s.f + a) + b`:
    // each tail part appends in program order (the seed-5 shape)
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { b: '' }; },
    $any: function(s, e) {
        s.b += e.streamId.replace(/\d/g, '*') + '|';
        s.b = s.b + e.eventType + ';';
        return s;
    } })""", log))
    // numeric chain: `s.n = s.n + 1 + 2` sums both tail parts
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { n: 0 }; },
    $any: function(s, e) { s.n = s.n + 1 + 2; return s; } })""", log))
    // numeric `s.n = x + s.n` stays the commutative sum
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { n: 0 }; },
    $any: function(s, e) { s.n = 2 + s.n; return s; } })""", log))
    // mixing prepend and append sites on one field is order-interleaved
    // per event — stays interpreted, parity via the fallback
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { seq: '' }; },
      $any: function(s, e) {
          s.seq += e.eventType;
          s.seq = e.streamId + s.seq;
          return s; } })"""))
    // self-field in the MIDDLE of a chain stays interpreted
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { seq: '' }; },
      $any: function(s, e) { s.seq = e.eventType + s.seq + ';'; return s; } })"""))
    // a MULTI-part chain inside try stays interpreted: one throwing part
    // must suppress every part (JS evaluates the whole rhs before
    // assigning), which the per-part term guards cannot express
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) {
          try { s.n = s.n + Math.round(e.body.a) + 1; } catch (x) {}
          return s; } })"""))
    // the 2-element spelled-out form still compiles inside try (single
    // part: its own ok-guard IS the whole-assignment guard)
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) {
          try { s.n = s.n + Math.round(e.value); } catch (x) {}
          return s; } })"""))
  }

  test("column fast path: compile-coverage pins for the idioms bisected " +
    "in past rounds (each must stay on the fast path)") {
    def compiles(src: String): Boolean = JsProjection.compile(src).compilesToColumns
    // negated-regex early return (the in-handler filter idiom)
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { a: 0 }; },
      $any: function(s, e) {
        if (!(/2/.test(e.streamId))) { return s; }
        s.a += 1; return s; } })"""))
    // two concat sites on one field across two statements (r8's seed 5)
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { b: '' }; },
      $any: function(s, e) {
        s.b += e.streamId.replace(/\d/g, '*') + '|';
        s.b = s.b + e.eventType + ';'; return s; } })"""))
    // regex replace inside a concat fragment
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { b: '' }; },
      $any: function(s, e) { s.b += e.streamId.replace(/\d/g, '*') + '|'; return s; } })"""))
    // Date local + getTime under a date-bucket partition key
    assert(compiles("""fromAll().partitionBy(function(e) {
        return new Date(e.timestamp).toISOString().slice(0, 10);
      }).when({
      $init: function() { return { a: 100 }; },
      $any: function(s, e) {
        var d = new Date(e.timestamp);
        s.a = Math.min(s.a, d.getTime()); return s; } })"""))
    // typed handler with an early return beside an unguarded $any
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { a: 100 }; },
      t2: function(s, e) {
        if (!(/2/.test(e.streamId))) { return s; }
        s.a = Math.min(s.a, (e.value * 1.25)); return s; },
      $any: function(s, e) { s.a = Math.min(s.a, e.value); return s; } })"""))
  }

  test("column fast path: nested state — every update kind through a " +
    "path, untouched siblings verbatim, fast == interpreter") {
    val log = hostileLog
    // one nested subtree per update kind + untouched siblings at both
    // levels; key order must match the interpreter's
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { tag: 'x', c: { n: 0, hi: 0, note: 'keep' },
                                 deep: { a: { b: 0 } }, last: { v: 0 } }; },
    $any: function(s, e) {
        s.c.n += 1;
        s.c.hi = Math.max(s.c.hi, Math.round(e.value * 100));
        s.deep.a.b += 2;
        s.last.v = e.eventType;
        return s;
    } })""", log))
    // nested push + nested dynamic-key counter map
    assert(fastEqualsInterp("""
fromAll().foreachStream().when({
    $init: function() { return { bag: { xs: [] }, m: { byType: {} } }; },
    $any: function(s, e) {
        s.bag.xs.push(Math.round(e.value * 100));
        s.m.byType[e.eventType] = (s.m.byType[e.eventType] || 0) + 1;
        return s;
    } })""", log))

    def compiles(src: String): Boolean = JsProjection.compile(src).compilesToColumns
    // leaf missing from the $init subtree: JS would NaN — fall back
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { a: {} }; },
      $any: function(s, e) { s.a.n += 1; return s; } })"""))
    // parent is not an object in $init — fall back
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { a: 0 }; },
      $any: function(s, e) { s.a.n += 1; return s; } })"""))
    // whole-object overwrite AND a leaf update on the same subtree
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { a: { n: 0 } }; },
      $any: function(s, e) { s.a.n += 1; s.a = 1; return s; } })"""))
    // transformBy over nested assigned leaves stays interpreted
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { a: { n: 0 } }; },
      $any: function(s, e) { s.a.n += 1; return s; } })
      .transformBy(function(s) { return s; })"""))
  }

  test("column fast path: plan is pure Catalyst — no interpreter node, " +
    "hash aggregation, partial aggregation present") {
    val log = graft.sources.Tables.eventLog(spark, "/root/testdata/sf0.001")
    for ((name, src) <- JsProjectionQueries.handlerCorpus
        if Set("js_date_bucket", "js_partition_by", "js_fold_count_sum")(name)) {
      val plan = JsProjection.compile(src).fastStates(log).get
        .queryExecution.executedPlan.toString
      assert(!plan.contains("MapPartitions"), s"$name plan has an interpreter node")
      assert(!plan.contains("DeserializeToObject"), s"$name plan leaves codegen")
      assert(plan.contains("HashAggregate"), s"$name plan is not a hash aggregate")
    }
  }

  test("column fast path: fallback boundary — unsupported constructs " +
    "compile to None, never to a wrong plan") {
    def compiles(src: String): Boolean = JsProjection.compile(src).compilesToColumns
    // non-integral delta: IEEE accumulation is order-sensitive
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { x: 0 }; },
      $any: function(s, e) { s.x += e.value; return s; } })"""))
    // plain assignment IS compilable since r7 — as last-write-wins
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { x: 0 }; },
      $any: function(s, e) { s.x = 1; return s; } })"""))
    // ...including dynamically-typed rhs (rendered from the JSON text),
    // but not when the rhs reads state, or when a dynamic has lost its
    // member-path provenance (merged branches → no exact text render)
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { x: 0 }; },
      $any: function(s, e) { s.x = e.body.k; return s; } })"""))
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { x: 0, y: 0 }; },
      $any: function(s, e) { s.x = s.y; return s; } })"""))
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { x: 0 }; },
      $any: function(s, e) { s.x = (e.value > 0 ? e.body.k : e.body.j); return s; } })"""))
    // mixed update kinds on one field stay interpreted
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { x: 0 }; },
      $any: function(s, e) { s.x = e.value; s.x += 1; return s; } })"""))
    // arrays-in-state compile when init is [] and elements are state-free
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { xs: [] }; },
      $any: function(s, e) { s.xs.push(e.value); return s; } })"""))
    // ...but not from a non-empty init array (elements would need
    // prefixing), a state-valued element, or mixed with another kind
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { xs: [1] }; },
      $any: function(s, e) { s.xs.push(e.value); return s; } })"""))
    // a pushed element reading the just-updated counter compiles via
    // the r15 post channel (the element is the inclusive running n) —
    // and must stay exact
    assert(fastEqualsInterp("""fromAll().foreachStream().when({
      $init: function() { return { n: 0, xs: [] }; },
      $any: function(s, e) { s.n += 1; s.xs.push(s.n); return s; } })""",
      graft.sources.Tables.eventLog(spark, "/root/testdata/sf0.001")))
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { xs: [] }; },
      $any: function(s, e) { s.xs.push(e.value); s.xs = 1; return s; } })"""))
    // assigned field missing from $init: JS would produce NaN
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return {}; },
      $any: function(s, e) { s.x += 1; return s; } })"""))
    // loops / state reads stay interpreted (early returns on STATE
    // conditions included — the condition itself reads state)
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { x: 0 }; },
      $any: function(s, e) { while (s.x < 3) s.x += 1; return s; } })"""))
    // early return on a POST-state condition (x just incremented)
    // compiles since r15 — the retGuard takes the negated inclusive-
    // window read — and must stay exact
    assert(fastEqualsInterp("""fromAll().foreachStream().when({
      $init: function() { return { x: 0, y: 0 }; },
      $any: function(s, e) { s.x += 1; if (s.x > 2) return s; s.y += 1; return s; } })""",
      graft.sources.Tables.eventLog(spark, "/root/testdata/sf0.001")))
    // ...but early returns on EVENT conditions compile (r8): the
    // in-handler filter idiom — subsequent statements take the negated
    // condition as a guard
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) {
        if (e.eventType !== 'purchase') return s; s.n += 1; return s; } })"""))
    // inside try: refused (the return would have to skip the rest of the
    // try body through the error channel)
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) {
        try { if (e.value > 0) return s; s.n += 1; } catch (ig) {}
        return s; } })"""))
    // $created, $deleted, bi-state, transforms: out of the subset
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { x: 0 }; },
      $created: function(s, e) { return s; },
      $any: function(s, e) { s.x += 1; return s; } })"""))
    // but the matching supported twins DO compile
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { x: 0 }; },
      $any: function(s, e) { s.x += Math.round(e.value); return s; } })"""))
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { x: 0, y: 0 }; },
      $any: function(s, e) { if (e.value > 2) s.x += 1; else s.y -= 2; return s; } })"""))
  }

  test("column fast path: regex edge cases — unmatched captures, global " +
    "match arrays, search, split limits, $-substitution, null guards") {
    val log = hostileLog
    assert(fastEqualsInterp("""
fromCategory('purchase')
    .foreachStream()
    .when({
        $init: function() { return { id: 0, digits: 0, pos: 0, parts1: 0,
                                     word: '', opt: '', sub: '', tested: 0 }; },
        $any: function(s, e) {
            var m = e.streamId.match(/(\d+)/);
            if (m !== null) s.id += Number(m[0]);
            var g = e.streamId.match(/\d/g);
            if (g) s.digits += g.length;
            var w = e.streamId.match(/(q)?([a-z]+)/);
            if (w) {
                s.word = w[2];
                s.opt = w[1] === undefined ? 'unmatched' : w[1];
            }
            s.pos += e.streamId.search(/-/);
            s.parts1 += e.streamId.split(/-/, 1).length;
            s.sub = e.streamId.replace(/(\d)/g, '[$1]');
            if (/^[a-z]+-\d+$/.test(e.streamId)) s.tested += 1;
            return s;
        }
    })""", log))
    // out-of-range match index reads undefined (ANSI subscript must not
    // raise), and an out-of-range split index likewise
    assert(fastEqualsInterp("""
fromCategory('purchase')
    .foreachStream()
    .when({
        $init: function() { return { far: '', farSplit: '' }; },
        $any: function(s, e) {
            var m = e.streamId.match(/(\d+)/);
            if (m !== null && m[7] === undefined) s.far = 'oob';
            s.farSplit = e.streamId.split('-')[9] === undefined ? 'oob' : 'hit';
            return s;
        }
    })""", log))

    def compiles(src: String): Boolean = JsProjection.compile(src).compilesToColumns
    // regex ops refuse to compile inside try: the backtracking budget
    // guard throws uncatchably from the codegen'd static, so a
    // JS-catchable error must stay on the interpreter
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) {
        try { if (/x/.test(e.streamId)) s.n += 1; } catch (ig) {}
        return s; } })"""))
    // global exec is stateful across calls (lastIndex) — interpreter only
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) {
        var m = /(\d+)/g.exec(e.streamId);
        if (m !== null) s.n += Number(m[0]);
        return s; } })"""))
    // non-g exec equals first-match match() and DOES compile
    assert(compiles("""fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) {
        var m = /(\d+)/.exec(e.streamId);
        if (m !== null) s.n += Number(m[0]);
        return s; } })"""))
    // the u flag widens \d beyond [0-9] in the java.util.regex mapping —
    // no digits-only claim, so the Number() sum stays interpreted
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) {
        var m = e.streamId.match(/(\d+)/u);
        if (m !== null) s.n += Number(m[0]);
        return s; } })"""))
    // a non-digits pattern gives no integral claim either
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) {
        var m = e.streamId.match(/([a-z]+)/);
        if (m !== null) s.n += Number(m[0]);
        return s; } })"""))
  }

  test("column fast path: string methods on dynamics, parseInt/parseFloat, " +
    "JSON.stringify, content predicates, Java-trim parity") {
    val s = spark
    import s.implicits._
    val log = Seq(
      ("purchase-1", 0L, "purchase", 1L, """{"k":"alpha"}"""),
      ("purchase-1", 1L, "purchase", 2L, """{"k":12}"""),
      ("purchase-2", 0L, "purchase", 3L, """{"k":"  Beta42\t"}"""),
      ("purchase-2", 1L, "purchase", 4L, """{"k":true}"""),
      ("purchase-2", 2L, "purchase", 5L, """{"k":null}"""),
      ("purchase-3", 0L, "purchase", 6L, """{"k":{"x":1}}"""),
      ("purchase-3", 1L, "purchase", 7L, """{"k":[1,2]}"""),
      ("purchase-3", 2L, "purchase", 8L, """{"k":1.50}"""),
      ("purchase-3", 3L, "purchase", 9L, """{}"""),
      ("purchase-4", 0L, "purchase", 10L, "not json"),
      ("purchase-4", 1L, "purchase", 11L, """{"k":"99999999999999999999999"}"""))
      .toDF("stream_id", "event_number", "event_type", "log_position", "data")
      .withColumn("value", lit(0.0))
      .withColumn("timestamp", expr("timestamp_millis(1583035425678)"))
      .withColumn("correlation_id", lit(null).cast("string"))
    // string methods dispatch on the RUNTIME type of a dynamic; non-
    // string receivers throw catchably; parseInt's BigInt accumulation
    // reads the 23-digit string as 1e23 (the old Long parse crashed)
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { sw: 0, low: '', kid: 0, caught: 0,
                                     pi: 0, pf: 0, j: '', n1: 0, n2: 0,
                                     n3: 0, t: '' }; },
        $any: function(s, e) {
            try {
                if (e.body.k.startsWith('al')) s.sw += 1;
                s.low = e.body.k.toLowerCase();
            } catch (ig) { s.caught += 1; }
            if (e.body && typeof e.body.k === 'string' &&
                e.body.k.search(/\d/) >= 0)
                s.kid += (Number(e.body.k.match(/(\d+)/)[0]) < 1e20
                    ? Number(e.body.k.match(/(\d+)/)[0]) : 0);
            var v = e.body ? parseInt(e.body.k) : undefined;
            var f = e.body ? parseFloat(e.body.k) : undefined;
            if (!isNaN(v) && v < 1e20) s.pi += v;
            if (!isNaN(f) && f < 1e20) s.pf += Math.round(f * 100);
            if (e.body) s.j = JSON.stringify(e.body.k);
            if (e.streamId.startsWith('purchase-')) s.n1 += 1;
            if (e.eventType.endsWith('ase')) s.n2 += 1;
            if (e.streamId.includes('-1')) s.n3 += 1;
            s.t = (' \t' + e.eventType + '\n ').trim();
            return s;
        }
    })""", log))
    // the huge-digit parseInt value itself (1e23 exactly, both paths)
    val out = JsProjection.compile("""
fromStream('purchase-4').when({
        $init: function() { return { big: 0 }; },
        $any: function(s, e) {
            if (e.body) s.big = s.big + parseInt(e.body.k) / 1e23;
            return s;
        } })""")
    assert(!out.compilesToColumns) // division is non-integral: interp path
    assert(out.states(log).collect().map(_.getString(1)).toSeq
      == Seq("""{"big":1}"""))
  }

  test("column fast path: strict equality and ToNumber on dynamics — " +
    "runtime type dispatch, numeric relationals, string-number compare") {
    val log = hostileLog
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { sEq: 0, nEq: 0, bEq: 0, ne: 0,
                                     gt: 0, cents: 0, strNum: 0 }; },
        $any: function(s, e) {
            if (e.body) {
                if (e.body.k === 'alpha') s.sEq += 1;
                if (e.body.k === 12) s.nEq += 1;
                if (e.body.k === true) s.bEq += 1;
                if (e.body.k !== 'alpha') s.ne += 1;
                if (e.body.k > 1) s.gt += 1;
                if (typeof e.body.k === 'number' && e.body.k < 1e20)
                    s.cents += Math.round(e.body.k * 100);
            }
            if (e.streamId < 5) s.strNum += 1;
            if ('50' > e.value) s.strNum += 1;
            return s;
        }
    })""", log))
    // loose == adds the cross-type coercions: "12"==12 via ToNumber,
    // true==1, object ToPrimitive goes stringward vs a string, array
    // join vs a number ([1,2]=="1,2"); null/undefined loosely equal
    // only each other
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { ln: 0, ls: 0, lb: 0, lo: 0,
                                     la: 0, lnul: 0 }; },
        $any: function(s, e) {
            if (e.body) {
                if (e.body.k == 12) s.ln += 1;
                if (e.body.k == 'alpha') s.ls += 1;
                if (e.body.k == true) s.lb += 1;
                if (e.body.k == '[object Object]') s.lo += 1;
                if (e.body.k == '1,2') s.la += 1;
                if (e.body.k == null) s.lnul += 1;
                if (e.body.k != 1.5) s.lnul += 1;
            }
            return s;
        }
    })""", log))
    // new Date(dynamic) stays interpreted: a runtime string takes the
    // DATE-STRING parse, not ToNumber
    assert(!JsProjection.compile("""fromAll().foreachStream().when({
      $init: function() { return { t: 0 }; },
      $any: function(s, e) {
        if (e.body && typeof e.body.k === 'number')
            s.t += new Date(e.body.k).getUTCHours();
        return s; } })""").compilesToColumns)
  }

  test("column fast path: .length of a dynamic dispatches on runtime " +
    "type — string UTF-16 units, array count, object property, scalar " +
    "undefined, null throws catchably") {
    val s = spark
    import s.implicits._
    // found as a live divergence: the variant `$.length` path read
    // answered undefined for strings and arrays where JS reads a number
    val log = Seq(
      ("a-1", 0L, "t1", 1L, """{"k":"alpha"}"""),          // 5
      ("a-1", 1L, "t1", 2L, """{"k":""}"""),               // 0 → falsy
      ("a-1", 2L, "t1", 3L, """{"k":"𝒳!"}"""),  // astral: 3 UTF-16 units
      ("a-1", 3L, "t1", 4L, """{"k":{"length":3}}"""),     // property read: 3
      ("a-1", 4L, "t1", 5L, """{"k":{"x":1}}"""),          // undefined → falsy
      ("a-1", 5L, "t1", 6L, """{"k":[1,2]}"""),            // 2
      ("a-1", 6L, "t1", 7L, """{"k":[]}"""),               // 0 → falsy
      ("a-1", 7L, "t1", 8L, """{"k":5}"""),                // undefined → falsy
      ("a-1", 8L, "t1", 9L, """{"k":null}"""),             // throws → caught
      ("a-1", 9L, "t1", 10L, """{}"""))                    // throws → caught
      .toDF("stream_id", "event_number", "event_type", "log_position", "data")
      .withColumn("value", lit(0.0))
      .withColumn("timestamp", expr("timestamp_millis(1583035425678)"))
      .withColumn("correlation_id", lit(null).cast("string"))
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { truthy: 0, caught: 0 }; },
        $any: function(s, e) {
            try { if (e.body.k.length) s.truthy += 1; }
            catch (ig) { s.caught += 1; }
            return s;
        }
    })""", log))
    // and the exact values, so the dispatch itself is pinned (not just
    // fast==interp agreeing on something else)
    val out = JsProjection.compile("""
fromAll().foreachStream().when({
        $init: function() { return { truthy: 0, caught: 0 }; },
        $any: function(s, e) {
            try { if (e.body.k.length) s.truthy += 1; }
            catch (ig) { s.caught += 1; }
            return s;
        } })""").states(log).collect()
    assert(out.map(_.getString(1)).toSeq == Seq("""{"truthy":4,"caught":2}"""))
  }

  test("column fast path: last-write overwrites — typed routing, guarded " +
    "site ordering, undefined key omission, init fallback, s.n++/--") {
    val log = hostileLog
    // every overwrite shape at once: string/number/bool/date values,
    // multiple sites where the LAST executed one wins, a field whose
    // $init value is undefined (key absent until first assignment),
    // statement-position increments, typed + $any handler routing
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0, last: null, tag: "none",
                                     seen: false, at: undefined }; },
        purchase: function(s, e) {
            s.n++;
            s.tag = "p:" + e.streamId;
            if (e.value > 1) { s.tag = "big"; }
            s.seen = true;
            return s;
        },
        $any: function(s, e) {
            s.n--;
            var d = new Date(e.timestamp);
            s.at = d;
            s.last = e.value;
            return s;
        }
    })""", log))
    // partitionBy + overwrite, and an if/else whose branches assign the
    // SAME field different types (string vs number) — per-event rendering
    // keeps each site's own stringify form
    assert(fastEqualsInterp("""
fromAll()
    .partitionBy(function(e) { return e.eventType; })
    .when({
        $init: function() { return { v: 0, hi: -1 }; },
        $any: function(s, e) {
            if (e.value > 0) { s.v = e.streamId; } else { s.v = e.value; }
            s.hi = Math.max(s.hi, e.sequenceNumber);
            return s;
        }
    })""", log))
  }

  test("column fast path: dynamic overwrites + dynamic emit bodies render " +
    "from the JSON text — key order, nested values, ES number re-rendering") {
    val s = spark; import s.implicits._
    // multi-key docs in NON-sorted order are the point: the variant
    // encoding sorts object keys, so only text-driven rendering
    // (JsJsonPath) can match the interpreter byte-for-byte
    val log = Seq(
      ("a-1", 0L, "t1", 0L, Some(1700000000000L),
        """{"b":1.50,"a":"x","c":[1,2.0,{"z":true,"y":null}]}""", 1.0),
      ("a-1", 1L, "t1", 1L, Some(1700000001000L), """{"k":1e21,"neg":-0.0}""", 2.0),
      ("a-2", 0L, "t2", 2L, Some(1700000002000L), "not json", 3.0),
      ("a-2", 1L, "t2", 3L, None, null, 4.0),
      ("a-3", 0L, "t1", 4L, Some(1700000003000L), """{"k":null}""", -1.0),
      ("a-3", 1L, "t2", 5L, Some(1700000004000L),
        """{"k":{"bb":2,"aa":[true,"s"]}}""", 0.0))
      .toDF("stream_id", "event_number", "event_type", "log_position",
        "ts_ms", "data", "value")
      .withColumn("timestamp", expr("timestamp_millis(ts_ms)")).drop("ts_ms")
      .withColumn("correlation_id", lit(null).cast("string"))
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { snap: undefined, k: "none" }; },
        $any: function(s, e) {
            s.snap = e.body;
            if (e.body && e.body.k !== undefined) { s.k = e.body.k; }
            return s;
        }
    })""", log))
    emittedEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $any: function(s, e) {
            if (e.body) { emit("out-" + e.streamId, "Snap", e.body); }
            if (e.body && e.body.k !== undefined) {
                emit("k-" + e.streamId, "K", { k: e.body.k, n: 1 });
            }
        }
    })""", log)
  }

  test("column fast path: emitted() under early returns — an emit after " +
    "`return` never fires, one before it always does") {
    emittedEqualsInterp("""
fromCategory("purchase")
    .foreachStream()
    .when({
        $any: function(s, e) {
            if (e.value <= 100) { emit("small-" + e.streamId, "Small", { v: e.value }); return s; }
            emit("big-" + e.streamId, "Big", { v: e.value });
            return s;
        }
    })""", hostileLog)
  }

  private def emittedEqualsInterp(src: String,
      log: org.apache.spark.sql.DataFrame): Unit = {
    val p = JsProjection.compile(src)
    assert(p.emitsToColumns, s"emitted() must compile for:\n$src")
    def sorted(rows: Seq[graft.projections.Emitted]) =
      rows.sortBy(e => (e.caused_by_position, e.emit_seq, e.stream_id))
    val fast = sorted(p.emitted(log).collect().toSeq)
    spark.conf.set("spark.graft.js.columnCompile", "false")
    try {
      val interp = sorted(p.emitted(log).collect().toSeq)
      assert(fast == interp, s"fast emitted != interpreter for:\n$src")
    } finally spark.conf.set("spark.graft.js.columnCompile", "true")
  }

  test("column fast path: emitted() compiles to a pure select — emit, " +
    "linkTo, guards, multi-emit seq numbers, JSON bodies") {
    val log = graft.sources.Tables.eventLog(spark, "/root/testdata/sf0.001")
    // the registry corpus emit + linkTo definitions
    for ((name, src) <- JsProjectionQueries.handlerCorpus
        if name == "js_emit" || name == "js_linkto")
      emittedEqualsInterp(src, log)
    // multi-emit with interleaved guards: emit_seq must number EXECUTED
    // calls per event, exactly the interpreter's buffer index
    emittedEqualsInterp("""
fromCategory("purchase")
    .foreachStream()
    .when({
        purchase: function(s, e) {
            if (e.value > 100) emit("big-" + e.streamId, "Big", { v: e.value });
            emit("all-" + e.streamId, "Seen", { n: Math.round(e.value * 100), at: e.timestamp });
            if (e.value <= 100) linkTo("small-stream", e);
        }
    })""", hostileLog)
    // the emitted plan has no interpreter node and no shuffle
    val p = JsProjection.compile("""
fromAll().when({ $any: function(s, e) { emit("out", "E", { v: 1 }); } })""")
    assert(p.emitsToColumns)
    // plan check against a local log (the eventLog adapter's numbering
    // window owns an Exchange of its own): pure project + explode
    val plan = p.fastEmitted(hostileLog).get.queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions") && !plan.contains("Exchange"),
      "emitted fast path must be a shuffle-free select")
    // state-DEPENDENT emission arguments compile through the states
    // plan's per-row frame (post-state windows — r15), exact vs the
    // interpreter on hostile data
    emittedEqualsInterp("""
fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) { s.n += 1; emit("out", "E", { n: s.n }); } })""",
      hostileLog)
    // ...but state sums ALONGSIDE state-free emissions compile both ways
    val both = JsProjection.compile("""
fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) { s.n += 1; emit("out-" + e.streamId, "E", { v: e.value }); } })""")
    assert(both.compilesToColumns && both.emitsToColumns)
    emittedEqualsInterp("""
fromAll().foreachStream().when({
      $init: function() { return { n: 0 }; },
      $any: function(s, e) { s.n += 1; emit("out-" + e.streamId, "E", { v: e.value }); } })""",
      hostileLog)
  }

  test("column fast path: STATEFUL emitted() — post-state reads in emit " +
    "args and guards, fast == interpreter on sf0.001 and hostile data") {
    val log = graft.sources.Tables.eventLog(spark, "/root/testdata/sf0.001")
    // the registry query: fold then emit running totals under a
    // state-derived guard (the milestone-notification idiom)
    val milestone = JsProjectionQueries.handlerCorpus.toMap.apply("js_emit_stateful")
    emittedEqualsInterp(milestone, log)
    emittedEqualsInterp(milestone, hostileLog)
    // the emitted plan runs interpreter-free: windows mean an exchange
    // on the fold key is expected, but NO object-fold node may appear
    val plan = JsProjection.compile(milestone)
      .fastEmitted(hostileLog).get.queryExecution.executedPlan.toString
    assert(!plan.contains("MapGroups") && !plan.contains("mapPartitions"),
      "stateful emitted fast path must not fold through the interpreter")
    // PRE-read emit (before the mutation) alongside a POST-read emit
    // after it: the two reads resolve to different window frames
    emittedEqualsInterp("""
fromCategory("purchase").foreachStream().when({
      $init: function() { return { cents: 0 }; },
      purchase: function(s, e) {
          emit("pre-" + e.streamId, "Before", { had: s.cents });
          s.cents += Math.round(e.value * 100);
          emit("post-" + e.streamId, "After", { has: s.cents });
      } })""", hostileLog)
    // post-read of a running extremum (guard-recurrence kind)
    emittedEqualsInterp("""
fromCategory("purchase").foreachStream().when({
      $init: function() { return { peak: 0 }; },
      purchase: function(s, e) {
          var cents = Math.round(e.value * 100);
          if (cents > s.peak) { s.peak = cents; emit("rec-" + e.streamId, "Record", { peak: s.peak }); }
      } })""", hostileLog)
    // post-read of an overwrite field (LastK): emit the latest value
    emittedEqualsInterp("""
fromCategory("purchase").foreachStream().when({
      $init: function() { return { last: "" }; },
      purchase: function(s, e) {
          s.last = e.eventType;
          emit("seen-" + e.streamId, "Last", { t: s.last });
      } })""", hostileLog)
    // mutate-emit-mutate: the post value at the emit is NOT the final
    // value — must fall back to the interpreter and still match it
    val reMutate = JsProjection.compile("""
fromCategory("purchase").foreachStream().when({
      $init: function() { return { n: 0 }; },
      purchase: function(s, e) {
          s.n += 1;
          emit("mid-" + e.streamId, "Mid", { n: s.n });
          s.n += 1;
      } })""")
    assert(!reMutate.emitsToColumns,
      "a mutation after a post-read must refuse to the interpreter")
    // guard-only post-read (body state-free)
    emittedEqualsInterp("""
fromCategory("purchase").foreachStream().when({
      $init: function() { return { n: 0 }; },
      purchase: function(s, e) {
          s.n += 1;
          if (s.n === 3) emit("third-" + e.streamId, "Third", { v: e.value });
      } })""", hostileLog)
    // the STATES output of a stateful-emit definition is untouched by
    // the emit machinery: fast == interpreter on the same source
    fastEqualsInterp(milestone, log)
  }

  test("column fast path: running extrema and spelled-out sums compile — " +
    "s.f = Math.max(s.f, e), s.f = s.f + e") {
    val log = hostileLog
    // max/min need no integrality (selection keeps exact doubles); the
    // spelled-out sum form is the += twin; mixing in guards and both
    // argument orders
    fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0, hi: -1e308, lo: 1e308, hiCents: 0 }; },
        $any: function(s, e) {
            s.n = s.n + 1;
            s.hi = Math.max(s.hi, e.value);
            s.lo = Math.min(e.value, s.lo);
            if (e.eventType === 'purchase')
                s.hiCents = Math.max(s.hiCents, Math.round(e.value * 100));
            return s;
        }
    })""", log)
    // extrema feed transforms like any other field
    fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { hi: 0 }; },
        $any: function(s, e) { s.hi = Math.max(s.hi, e.value); return s; }
    })
    .transformBy(function(s) { return { peak: s.hi * 2.0 }; })""", log)
    // a field mixing sum and max updates cannot be one aggregate
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
      $init: function() { return { x: 0 }; },
      purchase: function(s, e) { s.x += 1; return s; },
      $any: function(s, e) { s.x = Math.max(s.x, e.value); return s; } })""")
      .compilesToColumns)
    // self-reference of a DIFFERENT field is not a running extremum
    assert(!JsProjection.compile("""
fromAll().foreachStream().when({
      $init: function() { return { x: 0, y: 0 }; },
      $any: function(s, e) { s.x = Math.max(s.y, e.value); return s; } })""")
      .compilesToColumns)
  }

  test("column fast path: transformBy/filterBy compile post-aggregation — " +
    "filters drop rows, transforms reshape state, rendering stays exact") {
    val log = hostileLog
    // filter + transform with a computed double (numToStr rendering),
    // a renamed field, a constant, and a dropped field
    fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0, cents: 0 }; },
        $any: function(s, e) {
            s.n += 1;
            s.cents += Math.round(e.value * 100);
            return s;
        }
    })
    .filterBy(function(s) { return s.n >= 2; })
    .transformBy(function(s) {
        return { kept: s.n, avg: s.cents / 100.0 / s.n, tag: 'x' };
    })""", log)
    // chain order matters: a filter AFTER a transform reads the new shape
    fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0 }; },
        $any: function(s, e) { s.n += 1; return s; }
    })
    .transformBy(function(s) { return { doubled: s.n * 2 }; })
    .filterBy(function(s) { return s.doubled > 2; })""", log)
    // a transform whose result shape the renderer cannot express falls
    // back (reading a field that never existed renders undefined → skip
    // is static, so THIS one compiles; a Date-valued field would not)
    val p = JsProjection.compile("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0 }; },
        $any: function(s, e) { s.n += 1; return s; }
    })
    .transformBy(function(s) { return { n: s.n, ghost: s.nope }; })""")
    assert(p.compilesToColumns)
    fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0 }; },
        $any: function(s, e) { s.n += 1; return s; }
    })
    .transformBy(function(s) { return { n: s.n, ghost: s.nope }; })""", log)
  }

  test("column fast path: typed handlers route by event type like step(), " +
    "$any catches the rest, unhandled types still create partitions") {
    val log = hostileLog
    fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { p: 0, r: 0, other: 0 }; },
        purchase: function(s, e) { s.p += 1; return s; },
        refund: function(s, e) { s.r += 1; return s; },
        $any: function(s, e) { s.other += 1; return s; }
    })""", log)
    // without $any: streams whose events are ALL unhandled still appear
    // with the bare $init state (the fold creates the group either way)
    val p = JsProjection.compile("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { p: 0 }; },
        purchase: function(s, e) { s.p += 1; return s; }
    })""")
    assert(p.compilesToColumns)
    val states = p.states(log).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(states("error-3") == """{"p":0}""")
    assert(states("purchase-1") == """{"p":2}""")
    fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { p: 0 }; },
        purchase: function(s, e) { s.p += 1; return s; }
    })""", log)
  }

  test("column fast path: s.xs.push — order, guards, undefined elements, " +
    "multi-arg, multi-site, fast == interpreter") {
    val log = hostileLog
    // guarded push + unconditional push of a dynamic body member (missing
    // key → undefined → renders as null INSIDE the array, per stringify)
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0, xs: [] }; },
        $any: function(s, e) {
            s.n += 1;
            if (e.value > 1.0) s.xs.push(e.value);
            return s;
        }
    })""", log))
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { ks: [] }; },
        purchase: function(s, e) { s.ks.push(e.body.k, e.value); return s; }
    })""", log))
    // two sites in one handler: program order within the event
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { xs: [] }; },
        $any: function(s, e) {
            s.xs.push(e.value);
            if (e.value > 100.0) s.xs.push("big");
            return s;
        }
    })""", log))
    // concrete order check: pushes land in log-position order
    val states = JsProjection.compile("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { xs: [] }; },
        purchase: function(s, e) { s.xs.push(e.value); return s; }
    })""").states(log).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(states("purchase-1") == """{"xs":[10.5,151.2]}""")
    assert(states("purchase-3") == """{"xs":[42,0.49,1.01]}""")
    assert(states("click-9") == """{"xs":[]}""")
  }

  test("column fast path: dynamic-key counters s.m[K] = (s.m[K]||0)+d — " +
    "two-level agg, insertion order, guards, mixed fields, fallbacks") {
    val log = hostileLog
    // count-by-type with a scalar sum riding along (level-2 re-agg)
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0, by_type: {} }; },
        $any: function(s, e) {
            s.n += 1;
            s.by_type[e.eventType] = (s.by_type[e.eventType] || 0) + 1;
            return s;
        }
    })""", log))
    // dynamic body-member keys: every JS type ToString'd like setProp
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { m: {} }; },
        purchase: function(s, e) {
            s.m[e.body.k] = (s.m[e.body.k] || 0) + 1;
            return s;
        }
    })""", log))
    // guarded site + integral delta expression + commuted operand order;
    // every scalar kind rides along through the level-2 re-aggregation
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0, hi: 0, lo: 0, last: 0, xs: [], m: {} }; },
        $any: function(s, e) {
            s.n += 1;
            s.hi = Math.max(s.hi, e.value);
            s.lo = Math.min(s.lo, e.value);
            s.last = e.value;
            s.xs.push(e.eventType);
            if (e.value > 1.0)
                s.m[e.eventType] = Math.round(e.value * 100) + (s.m[e.eventType] || 0);
            return s;
        }
    })""", log))
    // zero-delta still CREATES the key (JS assignment inserts it)
    val zero = JsProjection.compile("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { m: {} }; },
        refund: function(s, e) { s.m[e.eventType] = (s.m[e.eventType] || 0) + 0; return s; }
    })""")
    assert(zero.compilesToColumns)
    val zrow = zero.states(log).where(col("partition") === "purchase-2")
      .select("state").head().getString(0)
    assert(zrow == """{"m":{"refund":0}}""")
    // insertion order = first-write order, not alphabetical / count order
    val ordered = JsProjection.compile("""
fromAll()
    .partitionBy(function(e) { return "all"; })
    .when({
        $init: function() { return { m: {} }; },
        $any: function(s, e) {
            s.m[e.eventType] = (s.m[e.eventType] || 0) + 1;
            return s;
        }
    })""")
    assert(ordered.compilesToColumns)
    val orow = ordered.states(log).select("state").head().getString(0)
    assert(orow == """{"m":{"purchase":7,"refund":1,"click":2,"error":3}}""")
    // fallback boundary: map shapes the two-level plan cannot express
    def compiles(src: String): Boolean = JsProjection.compile(src).compilesToColumns
    // two map fields → one grouping key column can't carry both
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { a: {}, b: {} }; },
      $any: function(s, e) {
        s.a[e.eventType] = (s.a[e.eventType] || 0) + 1;
        s.b[e.streamId] = (s.b[e.streamId] || 0) + 1;
        return s; } })"""))
    // pre-seeded init keys would need merged insertion slots
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { m: { seed: 1 } }; },
      $any: function(s, e) { s.m[e.eventType] = (s.m[e.eventType] || 0) + 1; return s; } })"""))
    // `+=` on a possibly-missing key is NaN in JS, not a count
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { m: {} }; },
      $any: function(s, e) { s.m[e.eventType] += 1; return s; } })"""))
    // two sites on one field in one handler: one event, one key only
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { m: {} }; },
      $any: function(s, e) {
        s.m[e.eventType] = (s.m[e.eventType] || 0) + 1;
        s.m[e.streamId] = (s.m[e.streamId] || 0) + 1;
        return s; } })"""))
    // non-integral delta: order-sensitive IEEE accumulation
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { m: {} }; },
      $any: function(s, e) { s.m[e.eventType] = (s.m[e.eventType] || 0) + e.value; return s; } })"""))
    // mismatched read key compiles as map-OVERWRITE only when the rhs is
    // state-free — reading s.m[...] is state, so this falls back
    assert(!compiles("""fromAll().foreachStream().when({
      $init: function() { return { m: {} }; },
      $any: function(s, e) { s.m[e.eventType] = (s.m[e.streamId] || 0) + 1; return s; } })"""))
  }

  test("column fast path: dynamic-key overwrites s.m[K] = v — last-write-" +
    "wins per key, undefined drops the key but keeps its slot") {
    val log = hostileLog
    // last value per type, dynamic values, mixed with a counter field
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0, last: {} }; },
        $any: function(s, e) {
            s.n += 1;
            s.last[e.eventType] = Math.round(e.value * 100);
            return s;
        }
    })""", log))
    // dynamic body values (strings/numbers/objects render as stringify)
    assert(fastEqualsInterp("""
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { last: {} }; },
        purchase: function(s, e) { s.last[e.streamId] = e.body.k; return s; }
    })""", log))
    // concrete: last write wins; undefined FINAL value drops the key; a
    // key rewritten after an undefined write keeps its FIRST slot (one
    // site per handler — typed routing picks the key per event)
    val src = """
fromAll()
    .partitionBy(function(e) { return "all"; })
    .when({
        $init: function() { return { m: {} }; },
        refund: function(s, e) { s.m["a"] = undefined; return s; },
        click: function(s, e) { s.m["a"] = 7; return s; },
        $any: function(s, e) { s.m[e.eventType] = e.value; return s; }
    })"""
    assert(fastEqualsInterp(src, log))
    val row = JsProjection.compile(src).states(log).select("state").head().getString(0)
    // refund (pos 4) inserts "a" as undefined — slot between purchase (1)
    // and error (8); clicks (5,6) rewrite it to 7 in that slot
    assert(row == """{"m":{"purchase":1.01,"a":7,"error":99.99}}""")
    // two sites on one field in ONE handler still fall back (an if/else
    // pair is one key column short of expressible)
    def compilesL(s2: String): Boolean = JsProjection.compile(s2).compilesToColumns
    assert(!compilesL("""fromAll().foreachStream().when({
      $init: function() { return { m: {} }; },
      $any: function(s, e) {
        if (e.value > 0) s.m["a"] = 1; else s.m["b"] = 2;
        return s; } })"""))
    // mixed counter + overwrite updates on ONE field fall back
    assert(!compilesL("""fromAll().foreachStream().when({
      $init: function() { return { m: {} }; },
      purchase: function(s, e) { s.m[e.eventType] = (s.m[e.eventType] || 0) + 1; return s; },
      refund: function(s, e) { s.m[e.eventType] = e.value; return s; } })"""))
  }

  test("memo keys: Bridge-wrapped kind columns do not collide (r7 regression)") {
    import org.apache.spark.sql.graftbridge.Bridge
    val a = graft.functions.JsVariantKind(col("aaa"))
    val b = graft.functions.JsVariantKind(col("bbb"))
    // Column.toString prints every Bridge-wrapped custom expression as
    // "…(columnnodeexpression())" — distinct kind columns interned to
    // one let slot, so every member's type tag resolved to the parent
    // object's and dispatch fell through to NULL (silent 0-row states).
    // The compiler's memo must key on something that distinguishes them.
    assert(Bridge.expression(a).canonicalized.toString !=
      Bridge.expression(b).canonicalized.toString)
  }

  test("compiled fast path row-counts match the interpreter on every corpus definition") {
    // Cheap whole-corpus invariant: silent row loss in the compiled path
    // (the r7 failure mode) turns into an instant red here, even for
    // definitions whose full-value equivalence is only checked by the
    // oracle gate.
    val dir = "/root/testdata/sf0.001"
    for ((name, fn) <- graft.projections.js.JsProjectionQueries.queries) {
      val compiled = fn(spark, dir).count()
      spark.conf.set("spark.graft.js.columnCompile", "false")
      val interpreted =
        try fn(spark, dir).count()
        finally spark.conf.set("spark.graft.js.columnCompile", "true")
      assert(compiled == interpreted,
        s"$name: compiled rows=$compiled, interpreted rows=$interpreted")
      assert(compiled > 0, s"$name: zero rows from both paths at sf0.001")
    }
  }

  test("streaming stepper == batch plan on hostile data, every pre-state " +
    "definition (batch flatMapGroupsWithState run)") {
    // The stepper's per-event transition and render evaluate the SAME
    // compiled expressions as the batch windows/aggregates — this sweeps
    // that identity over the hostile fixture (nulls, NaN, -0, non-JSON
    // bodies, 1e21 keys) for every pre-state definition in the corpus.
    // fastStatesStream on a batch frame runs flatMapGroupsWithState in
    // batch mode, so the comparison needs no streaming query.
    val defs = JsProjectionQueries.handlerCorpus.toMap
    val log = hostileLog
    for (name <- Seq("js_first_event", "js_high_water", "js_map_guard",
        "js_map_last_guard", "js_array_guard")) {
      val p = JsProjection.compile(defs(name))
      assert(p.compilesToColumns, name)
      // statesStream and batch states() both apply the definition's
      // selector; the pre-slice mirrors a subscription that carries it
      val sliced =
        if (defs(name).contains("fromCategory(\"purchase\")"))
          log.where(col("stream_id").startsWith("purchase-"))
        else log
      val steppedDs = p.fastStatesStream(sliced)
      assert(steppedDs.isDefined, s"$name must take the stepper path")
      val stepped = steppedDs.get.collect().toMap
      val batch = p.states(log).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(stepped == batch, s"$name: stepper != batch plan")
    }
  }
}
