package graft.projections.js

import scala.collection.mutable

/** Tree-walking evaluator for the projection JS subset (see JsValue.scala
  * for why this exists). One instance per thread per compiled source —
  * instances hold no cross-call state beyond the global environment, and
  * all values they produce are plain serializable data.
  *
  * Deliberate restrictions (all absent from reference projection code):
  * no `this` semantics (identifier `this` resolves like a normal binding),
  * no prototypes, no wall clock, no random — handlers must stay
  * deterministic for replay, exactly as the reference demands of
  * projections. Regexes ARE supported (literals and RegExp): they are
  * deterministic, and real Jint-era handlers use match/replace/split/test
  * routinely (see JsRegexOps for the java.util.regex mapping). Date is
  * supported in its ARGUMENT-constructed forms only (`new Date(ms)`,
  * `new Date(iso)`, UTC getters, toISOString — pure functions; see
  * JsDateOps); `Date.now()` and no-arg `new Date()` raise the
  * determinism error. */
final class JsInterp(stepBudget: Long = JsInterp.DefaultStepBudget) {

  private final class BreakEx extends RuntimeException
  private final class ContinueEx extends RuntimeException
  private final class ReturnEx(val value: JsVal) extends RuntimeException

  // Execution budget — the analog of the reference's Jint TimeConstraint
  // (JintProjectionStateHandler.cs:57-66 arms compilation/execution
  // timeouts around every handler call): a runaway user handler
  // (`while(true)`) must fail the projection, never hang an executor
  // thread. Deterministic step counting instead of wall clock, so replays
  // fail identically. Callers reset per handler invocation.
  private var steps: Long = 0L

  /** Rearm the budget (call before each top-level run/handler call). */
  def resetBudget(): Unit = steps = 0L

  @inline private def tick(): Unit = {
    steps += 1
    if (steps > stepBudget)
      throw new JsBudgetExceeded(
        s"execution budget exceeded ($stepBudget steps) — infinite loop in handler?")
  }

  val globals: Env = new Env(None)
  installStdlib(globals)

  // ------------------------------------------------------------- driving

  def run(program: Seq[Stmt], env: Env = globals): JsVal = {
    var last: JsVal = JsUndef
    program.foreach { s => last = execStmt(s, env) }
    last
  }

  // Call depth cap: the interpreter evaluates JS calls with JVM recursion,
  // and the step budget cannot fire before a runaway-recursive handler
  // (`function f(){return f()}`) overflows the JVM stack — a
  // StackOverflowError Error that would kill the executor thread. ES
  // specifies the catchable answer: "RangeError: Maximum call stack size
  // exceeded". Each JS frame costs ~25 JVM frames in this tree-walker:
  // 256 JS frames ≈ 6–7k JVM frames, an order of magnitude past any real
  // projection handler. The caller's thread may not have that much stack
  // left (a 1 MiB default thread stack overflowed at about 200 JS frames),
  // so a call that reaches HopDepth runs its subtree on a thread with a
  // known stack, where the cap, not the stack, stops a runaway recursion.
  private var callDepth = 0
  private val MaxCallDepth = 256
  private val HopDepth = 32
  private val DeepStackBytes = 16L << 20

  def callFunction(f: JsVal, args: Seq[JsVal]): JsVal = f match {
    case _: JsFunc if callDepth == HopDepth => onDeepStack(callFunction0(f, args))
    case _ => callFunction0(f, args)
  }

  /** Run `body` on a fresh thread with a [[DeepStackBytes]] stack and wait
    * for it; its result or exception comes back to the calling thread. */
  private def onDeepStack(body: => JsVal): JsVal = {
    var result: Either[Throwable, JsVal] = null
    val t = new Thread(null, () => result =
      try Right(body) catch { case e: Throwable => Left(e) }, "js-deep-call", DeepStackBytes)
    t.setDaemon(true)
    t.start()
    t.join()
    result.fold(e => throw e, v => v)
  }

  private def callFunction0(f: JsVal, args: Seq[JsVal]): JsVal = f match {
    case JsNative(_, _, fn) => fn(args)
    case JsFunc(params, body, closure) =>
      if (callDepth >= MaxCallDepth)
        throw new JsError("RangeError: Maximum call stack size exceeded")
      val env = new Env(Some(closure))
      params.zipWithIndex.foreach { case (name, i) =>
        env.define(name, if (i < args.length) args(i) else JsUndef)
      }
      // `arguments` is materialized only for bodies that mention it
      // (cached per body AST) — handlers virtually never do, and the
      // per-call array allocation shows up at millions of events
      if (usesArguments(body))
        env.define("arguments", JsArr(mutable.ArrayBuffer(args: _*)))
      callDepth += 1
      try { run(body, env); JsUndef }
      catch {
        case r: ReturnEx => r.value
        // a shallow JVM thread can overflow BEFORE the ES depth cap
        // (each ES frame costs dozens of JVM frames, and the headroom
        // depends on where in the host stack the handler was entered) —
        // convert to the same catchable answer the cap gives, exactly
        // like the regex engine's deep-recursion conversion. State is
        // safe: callDepth unwinds via the finally chain.
        case _: StackOverflowError =>
          throw new JsError("RangeError: Maximum call stack size exceeded")
      }
      finally callDepth -= 1
    case other => throw new JsError(s"${JsVal.toStr(other)} is not a function")
  }

  // body-AST → "mentions the identifier `arguments` anywhere" (conservative:
  // any mention in any nested scope counts, shadowing ignored)
  private val argsUseCache = new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]
  private def usesArguments(body: Seq[Stmt]): Boolean = {
    val cached = argsUseCache.get(body)
    if (cached != null) cached.booleanValue()
    else {
      val r = body.exists(mentionsIdent(_, "arguments"))
      argsUseCache.put(body, java.lang.Boolean.valueOf(r))
      r
    }
  }

  private def mentionsIdent(s: Stmt, name: String): Boolean = s match {
    case ExprStmt(e) => mentionsIdentE(e, name)
    case VarDecl(ds) => ds.exists(_._2.exists(mentionsIdentE(_, name)))
    case If(c, t, el) => mentionsIdentE(c, name) ||
      t.exists(mentionsIdent(_, name)) || el.exists(_.exists(mentionsIdent(_, name)))
    case While(c, b) => mentionsIdentE(c, name) || b.exists(mentionsIdent(_, name))
    case DoWhile(c, b) => mentionsIdentE(c, name) || b.exists(mentionsIdent(_, name))
    case For(i, c, u, b) => i.exists(mentionsIdent(_, name)) ||
      c.exists(mentionsIdentE(_, name)) || u.exists(mentionsIdentE(_, name)) ||
      b.exists(mentionsIdent(_, name))
    case ForIn(_, o, b) => mentionsIdentE(o, name) || b.exists(mentionsIdent(_, name))
    case Return(e) => e.exists(mentionsIdentE(_, name))
    case Throw(e) => mentionsIdentE(e, name)
    case FuncDecl(_, _, b) => b.exists(mentionsIdent(_, name))
    case TryStmt(b, _, cb, fb) => b.exists(mentionsIdent(_, name)) ||
      cb.exists(_.exists(mentionsIdent(_, name))) ||
      fb.exists(_.exists(mentionsIdent(_, name)))
    case Switch(d, cs) => mentionsIdentE(d, name) || cs.exists { case (t, b) =>
      t.exists(mentionsIdentE(_, name)) || b.exists(mentionsIdent(_, name)) }
    case BreakStmt | ContinueStmt => false
  }

  private def mentionsIdentE(e: Expr, name: String): Boolean = e match {
    case Ident(n) => n == name
    case Member(o, _) => mentionsIdentE(o, name)
    case Index(o, i) => mentionsIdentE(o, name) || mentionsIdentE(i, name)
    case Call(c, as) => mentionsIdentE(c, name) || as.exists(mentionsIdentE(_, name))
    case Unary(_, x) => mentionsIdentE(x, name)
    case Update(_, t, _) => mentionsIdentE(t, name)
    case Binary(_, l, r) => mentionsIdentE(l, name) || mentionsIdentE(r, name)
    case Logical(_, l, r) => mentionsIdentE(l, name) || mentionsIdentE(r, name)
    case Cond(c, t, f) => mentionsIdentE(c, name) ||
      mentionsIdentE(t, name) || mentionsIdentE(f, name)
    case Assign(_, t, v) => mentionsIdentE(t, name) || mentionsIdentE(v, name)
    case ObjLit(fs) => fs.exists { case (_, v) => mentionsIdentE(v, name) }
    case ArrLit(is) => is.exists(mentionsIdentE(_, name))
    case FuncLit(_, b) => b.exists(mentionsIdent(_, name))
    case _ => false
  }

  // ---------------------------------------------------------- statements

  private def execStmt(s: Stmt, env: Env): JsVal = { tick(); execStmt0(s, env) }

  private def execStmt0(s: Stmt, env: Env): JsVal = s match {
    case ExprStmt(e) => eval(e, env)
    case VarDecl(decls) =>
      decls.foreach { case (name, init) =>
        env.define(name, init.map(eval(_, env)).getOrElse(JsUndef))
      }
      JsUndef
    case FuncDecl(name, params, body) =>
      env.define(name, JsFunc(params, body, env)); JsUndef
    case Return(e) => throw new ReturnEx(e.map(eval(_, env)).getOrElse(JsUndef))
    case Throw(e) => throw new JsThrown(eval(e, env))
    case BreakStmt => throw new BreakEx
    case ContinueStmt => throw new ContinueEx
    case If(cond, thenS, elseS) =>
      if (JsVal.bool(eval(cond, env))) runBlock(thenS, env)
      else elseS.foreach(runBlock(_, env))
      JsUndef
    case While(cond, body) =>
      while (JsVal.bool(eval(cond, env))) {
        try runBlock(body, env)
        catch {
          case _: ContinueEx => ()
          case _: BreakEx => return JsUndef
        }
      }
      JsUndef
    case DoWhile(cond, body) =>
      var continue = true
      while (continue) {
        try runBlock(body, env)
        catch {
          case _: ContinueEx => ()
          case _: BreakEx => return JsUndef
        }
        continue = JsVal.bool(eval(cond, env))
      }
      JsUndef
    case For(init, cond, update, body) =>
      val scope = new Env(Some(env))
      init.foreach(execStmt(_, scope))
      while (cond.forall(c => JsVal.bool(eval(c, scope)))) {
        try runBlock(body, scope)
        catch {
          case _: ContinueEx => ()
          case _: BreakEx => return JsUndef
        }
        update.foreach(eval(_, scope))
      }
      JsUndef
    case ForIn(name, objE, body) =>
      val scope = new Env(Some(env))
      scope.define(name, JsUndef)
      val keys: Seq[String] = eval(objE, scope) match {
        case JsObj(fields) => fields.keys.toSeq
        case JsArr(items) => items.indices.map(_.toString)
        case _ => Seq.empty
      }
      keys.foreach { k =>
        scope.define(name, JsStr(k))
        try runBlock(body, scope)
        catch {
          case _: ContinueEx => ()
          case _: BreakEx => return JsUndef
        }
      }
      JsUndef
    case TryStmt(body, catchParam, catchBody, finallyBody) =>
      // Scala try/finally gives the right interplay with Return/Break/
      // Continue control exceptions: finally runs, the control flow
      // continues outward. JsBudgetExceeded is intentionally not caught.
      try {
        try runBlock(body, env)
        catch {
          case t: JsThrown if catchBody.isDefined =>
            runCatch(catchParam, catchBody.get, t.value, env)
          case e: JsError if catchBody.isDefined =>
            // engine errors surface to JS catch as Error-shaped objects,
            // as Jint does for its JavaScriptExceptions
            runCatch(catchParam, catchBody.get,
              JsObj.of("name" -> JsStr("Error"), "message" -> JsStr(e.getMessage)), env)
        }
      } finally finallyBody.foreach(runBlock(_, env))
      JsUndef
    case Switch(disc, cases) =>
      val d = eval(disc, env)
      val scope = new Env(Some(env))
      // case tests evaluate in order until the first strict match;
      // no match → the default clause (wherever it sits); then fall
      // through source order until break.
      var matched = cases.indexWhere {
        case (Some(test), _) => JsVal.strictEq(eval(test, scope), d)
        case _ => false
      }
      if (matched < 0) matched = cases.indexWhere(_._1.isEmpty)
      if (matched >= 0) {
        try cases.drop(matched).foreach { case (_, stmts) =>
          stmts.foreach(execStmt(_, scope))
        }
        catch { case _: BreakEx => () }
      }
      JsUndef
  }

  private def runCatch(param: Option[String], body: Seq[Stmt], thrown: JsVal,
      env: Env): Unit = {
    val scope = new Env(Some(env))
    param.foreach(scope.define(_, thrown))
    body.foreach(execStmt(_, scope))
  }

  private def runBlock(body: Seq[Stmt], env: Env): Unit = {
    // a block introduces bindings only via var/function declarations;
    // declaration-free blocks (most loop/if bodies) run in the enclosing
    // scope, skipping an Env+HashMap allocation per entry
    val scope =
      if (body.exists(s => s.isInstanceOf[VarDecl] || s.isInstanceOf[FuncDecl]))
        new Env(Some(env))
      else env
    body.foreach(execStmt(_, scope))
  }

  // --------------------------------------------------------- expressions

  def eval(e: Expr, env: Env): JsVal = { tick(); eval0(e, env) }

  private def eval0(e: Expr, env: Env): JsVal = e match {
    case NumLit(d) => JsNum(d)
    case StrLit(s) => JsStr(s)
    // fresh object per evaluation (ES semantics; Pattern cached globally)
    case RegexLit(p, f) => new JsRegex(p, f)
    case BoolLit(b) => JsBool(b)
    case NullLit => JsNull
    case UndefLit => JsUndef
    case Ident(name) =>
      env.lookup(name).getOrElse(throw new JsError(s"$name is not defined"))
    case FuncLit(params, body) => JsFunc(params, body, env)
    case ObjLit(fields) =>
      val m = mutable.LinkedHashMap.empty[String, JsVal]
      fields.foreach { case (k, v) => m(k) = eval(v, env) }
      JsObj(m)
    case ArrLit(items) => JsArr(mutable.ArrayBuffer(items.map(eval(_, env)): _*))
    case Member(objE, prop) => getProp(eval(objE, env), JsStr(prop), objE)
    case Index(objE, idxE) => getProp(eval(objE, env), eval(idxE, env), objE)
    case Cond(c, t, f) => if (JsVal.bool(eval(c, env))) eval(t, env) else eval(f, env)
    case Logical("&&", l, r) =>
      val lv = eval(l, env)
      if (JsVal.bool(lv)) eval(r, env) else lv
    case Logical("||", l, r) =>
      val lv = eval(l, env)
      if (JsVal.bool(lv)) lv else eval(r, env)
    case Logical(op, _, _) => throw new JsError(s"bad logical op $op")
    case Unary(op, operand) => op match {
      case "!" => JsBool(!JsVal.bool(eval(operand, env)))
      case "-" => JsNum(-JsVal.num(eval(operand, env)))
      case "+" => JsNum(JsVal.num(eval(operand, env)))
      case "typeof" =>
        val v = operand match {
          case Ident(name) => env.lookup(name).getOrElse(JsUndef)
          case other => eval(other, env)
        }
        JsStr(JsVal.typeOf(v))
      case "delete" => operand match {
        case Member(objE, prop) =>
          eval(objE, env) match {
            case JsObj(fields) => JsBool(fields.remove(prop).isDefined)
            case _ => JsBool(true)
          }
        case Index(objE, idxE) =>
          (eval(objE, env), eval(idxE, env)) match {
            case (JsObj(fields), key) => JsBool(fields.remove(JsVal.toStr(key)).isDefined)
            case _ => JsBool(true)
          }
        case _ => JsBool(true)
      }
      case other => throw new JsError(s"bad unary op $other")
    }
    case Update(op, target, prefix) =>
      val old = JsVal.num(evalTarget(target, env))
      val neu = if (op == "++") old + 1 else old - 1
      assignTo(target, JsNum(neu), env)
      JsNum(if (prefix) neu else old)
    case Binary(op, l, r) => binary(op, eval(l, env), eval(r, env))
    case Assign("=", target, valueE) =>
      val v = eval(valueE, env)
      assignTo(target, v, env)
      v
    case Assign(op, target, valueE) =>
      val cur = evalTarget(target, env)
      val rhs = eval(valueE, env)
      val v = binary(op.substring(0, 1), cur, rhs)
      assignTo(target, v, env)
      v
    case Call(callee, argEs) =>
      val args = argEs.map(eval(_, env))
      callee match {
        case Member(objE, prop) =>
          val recv = eval(objE, env)
          callProp(recv, prop, args)
        case Index(objE, idxE) =>
          val recv = eval(objE, env)
          callProp(recv, JsVal.toStr(eval(idxE, env)), args)
        case _ => callFunction(eval(callee, env), args)
      }
  }

  private def evalTarget(target: Expr, env: Env): JsVal = target match {
    case Ident(name) => env.lookup(name).getOrElse(JsUndef)
    case other => eval(other, env)
  }

  private def assignTo(target: Expr, v: JsVal, env: Env): Unit = target match {
    case Ident(name) =>
      if (!env.assign(name, v)) globals.define(name, v) // sloppy-mode global
    case Member(objE, prop) => setProp(eval(objE, env), JsStr(prop), v)
    case Index(objE, idxE) => setProp(eval(objE, env), eval(idxE, env), v)
    case _ => throw new JsError("invalid assignment target")
  }

  private def binary(op: String, a: JsVal, b: JsVal): JsVal = op match {
    case "+" => (a, b) match {
      case (JsStr(_), _) | (_, JsStr(_)) | (_: JsObj, _) | (_, _: JsObj) |
           (_: JsArr, _) | (_, _: JsArr) =>
        JsStr(JsVal.toStr(a) + JsVal.toStr(b))
      case _ => JsNum(JsVal.num(a) + JsVal.num(b))
    }
    case "-" => JsNum(JsVal.num(a) - JsVal.num(b))
    case "*" => JsNum(JsVal.num(a) * JsVal.num(b))
    case "/" => JsNum(JsVal.num(a) / JsVal.num(b))
    case "%" => JsNum(JsVal.num(a) % JsVal.num(b))
    case "==" => JsBool(JsVal.looseEq(a, b))
    case "!=" => JsBool(!JsVal.looseEq(a, b))
    case "===" => JsBool(JsVal.strictEq(a, b))
    case "!==" => JsBool(!JsVal.strictEq(a, b))
    case "<" | ">" | "<=" | ">=" =>
      val r = (a, b) match {
        case (JsStr(x), JsStr(y)) => x.compareTo(y).toDouble
        case _ =>
          val (x, y) = (JsVal.num(a), JsVal.num(b))
          if (x.isNaN || y.isNaN) Double.NaN else (x - y)
      }
      if (r.isNaN) JsBool(false)
      else JsBool(op match {
        case "<" => r < 0; case ">" => r > 0
        case "<=" => r <= 0; case _ => r >= 0
      })
    case "in" => (a, b) match {
      case (key, JsObj(fields)) => JsBool(fields.contains(JsVal.toStr(key)))
      case (key, JsArr(items)) =>
        val i = JsVal.num(key)
        JsBool(i >= 0 && i < items.length)
      case _ => JsBool(false)
    }
    case other => throw new JsError(s"bad binary op $other")
  }

  // ----------------------------------------------------------- properties

  private def getProp(recv: JsVal, key: JsVal, src: Expr): JsVal = recv match {
    case JsObj(fields) => fields.getOrElse(JsVal.toStr(key), JsUndef)
    case JsArr(items) => key match {
      case JsStr("length") => JsNum(items.length)
      case _ =>
        val d = JsVal.num(key)
        if (!d.isNaN && d == math.rint(d) && d >= 0 && d < items.length) items(d.toInt)
        else JsUndef
    }
    case JsStr(s) => key match {
      case JsStr("length") => JsNum(s.length)
      case _ =>
        val d = JsVal.num(key)
        if (!d.isNaN && d == math.rint(d) && d >= 0 && d < s.length)
          JsStr(s.charAt(d.toInt).toString)
        else JsUndef
    }
    case r: JsRegex => JsVal.toStr(key) match {
      case "source" => JsStr(r.pattern)
      case "flags" => JsStr(r.flags)
      case "global" => JsBool(r.global)
      case "ignoreCase" => JsBool(r.flags.indexOf('i') >= 0)
      case "multiline" => JsBool(r.flags.indexOf('m') >= 0)
      case "lastIndex" => JsNum(r.lastIndex.toDouble)
      case _ => JsUndef
    }
    case JsUndef | JsNull =>
      throw new JsError(
        s"cannot read property '${JsVal.toStr(key)}' of ${JsVal.toStr(recv)} (reading ${describe(src)})")
    case _ => JsUndef
  }

  private def describe(e: Expr): String = e match {
    case Ident(n) => n
    case Member(o, p) => s"${describe(o)}.$p"
    case Index(o, _) => s"${describe(o)}[...]"
    case _ => "expression"
  }

  private def setProp(recv: JsVal, key: JsVal, v: JsVal): Unit = recv match {
    case JsObj(m) => m(JsVal.toStr(key)) = v
    case JsArr(items) =>
      key match {
        case JsStr("length") =>
          val n = JsVal.num(v).toInt
          if (n < items.length) items.remove(n, items.length - n)
          else while (items.length < n) items += JsUndef
        case _ =>
          val d = JsVal.num(key)
          if (d.isNaN || d != math.rint(d) || d < 0)
            throw new JsError(s"bad array index ${JsVal.toStr(key)}")
          val i = d.toInt
          while (items.length <= i) items += JsUndef
          items(i) = v
      }
    case r: JsRegex =>
      if (JsVal.toStr(key) == "lastIndex") r.lastIndex = JsVal.num(v).toInt
    case JsUndef | JsNull =>
      throw new JsError(s"cannot set property '${JsVal.toStr(key)}' of ${JsVal.toStr(recv)}")
    case _ => () // primitives silently ignore property writes (sloppy mode)
  }

  /** Method dispatch: built-in string/array/object methods first, then a
    * function-valued property of the receiver. */
  private def callProp(recv: JsVal, name: String, args: Seq[JsVal]): JsVal =
    (recv, name) match {
      // ---- string methods
      case (JsStr(s), "charAt") =>
        val i = JsVal.num(args.headOption.getOrElse(JsNum(0))).toInt
        JsStr(if (i >= 0 && i < s.length) s.charAt(i).toString else "")
      case (JsStr(s), "charCodeAt") =>
        val i = JsVal.num(args.headOption.getOrElse(JsNum(0))).toInt
        if (i >= 0 && i < s.length) JsNum(s.charAt(i).toDouble) else JsNum(Double.NaN)
      case (JsStr(s), "indexOf") => JsNum(s.indexOf(str(args, 0)).toDouble)
      case (JsStr(s), "lastIndexOf") => JsNum(s.lastIndexOf(str(args, 0)).toDouble)
      case (JsStr(s), "includes") => JsBool(s.contains(str(args, 0)))
      case (JsStr(s), "startsWith") => JsBool(s.startsWith(str(args, 0)))
      case (JsStr(s), "endsWith") => JsBool(s.endsWith(str(args, 0)))
      case (JsStr(s), "toLowerCase") => JsStr(s.toLowerCase)
      case (JsStr(s), "toUpperCase") => JsStr(s.toUpperCase)
      case (JsStr(s), "trim") => JsStr(s.trim)
      case (JsStr(s), "substring") =>
        val a = clamp(JsVal.num(args.headOption.getOrElse(JsNum(0))), s.length)
        val b = clamp(args.lift(1).map(JsVal.num).getOrElse(s.length.toDouble), s.length)
        JsStr(s.substring(math.min(a, b), math.max(a, b)))
      case (JsStr(s), "substr") =>
        val start0 = JsVal.num(args.headOption.getOrElse(JsNum(0))).toInt
        val start = if (start0 < 0) math.max(0, s.length + start0) else math.min(start0, s.length)
        val len = args.lift(1).map(JsVal.num(_).toInt).getOrElse(s.length - start)
        JsStr(s.substring(start, math.min(s.length, start + math.max(0, len))))
      case (JsStr(s), "slice") =>
        val a = sliceIdx(args.headOption.map(JsVal.num).getOrElse(0.0), s.length)
        val b = sliceIdx(args.lift(1).map(JsVal.num).getOrElse(s.length.toDouble), s.length)
        JsStr(if (a < b) s.substring(a, b) else "")
      case (JsStr(s), "split") =>
        val limit: Option[Double] =
          args.lift(1).filter(_ != JsUndef).map(JsVal.num)
        args.headOption match {
          case None | Some(JsUndef) =>
            if (limit.contains(0.0)) JsArr.empty
            else JsArr(mutable.ArrayBuffer(JsStr(s)))
          case Some(re: JsRegex) => JsArr(JsRegexOps.split(s, re, limit))
          case Some(sep) =>
            val sp = JsVal.toStr(sep)
            val parts: Seq[String] =
              if (sp.isEmpty) s.map(_.toString)
              else splitLiteral(s, sp)
            val limited = limit match {
              case Some(d) if d.isNaN || d.isInfinite => Seq.empty
              case Some(d) => parts.take((d.toLong & 0xFFFFFFFFL).min(Int.MaxValue).toInt)
              case None => parts
            }
            JsArr(mutable.ArrayBuffer(limited.map(JsStr(_)): _*))
        }
      case (JsStr(s), "replace") =>
        val repl = args.lift(1).getOrElse(JsUndef)
        def callRepl(cbArgs: Seq[JsVal]): JsVal = callFunction(repl, cbArgs)
        (args.headOption.getOrElse(JsUndef), repl) match {
          case (re: JsRegex, _: JsFunc | _: JsNative) =>
            JsStr(JsRegexOps.replaceFn(s, re, callRepl))
          case (re: JsRegex, r) =>
            JsStr(JsRegexOps.replaceStr(s, re, JsVal.toStr(r)))
          case (p, _: JsFunc | _: JsNative) =>
            // string pattern + function: first occurrence only (ES)
            val pat = JsVal.toStr(p)
            val i = s.indexOf(pat)
            JsStr(
              if (i < 0) s
              else s.substring(0, i) +
                JsVal.toStr(callRepl(Seq(JsStr(pat), JsNum(i), JsStr(s)))) +
                s.substring(i + pat.length))
          case (p, r) =>
            // string pattern + string replacement: first occurrence, with
            // GetSubstitution ($$ and $& — no groups for string patterns)
            val pat = JsVal.toStr(p)
            val i = s.indexOf(pat)
            JsStr(
              if (i < 0) s
              else s.substring(0, i) +
                JsRegexOps.substitution(JsVal.toStr(r), pat, i, s, IndexedSeq.empty) +
                s.substring(i + pat.length))
        }
      case (JsStr(s), "match") =>
        JsRegexOps.matchStr(s, toRegexArg(args.headOption.getOrElse(JsUndef)))
      case (JsStr(s), "search") =>
        JsNum(JsRegexOps.search(s, toRegexArg(args.headOption.getOrElse(JsUndef))))
      case (JsStr(s), "concat") => JsStr(s + args.map(JsVal.toStr).mkString)
      case (JsStr(s), "repeat") =>
        val d = JsVal.num(args.headOption.getOrElse(JsNum(0)))
        if (d < 0 || d.isNaN)
          throw new JsError("RangeError: Invalid count value: " + JsVal.numToStr(d))
        // ES throws a catchable RangeError when the result would exceed the
        // max string size; without this, Infinity/huge counts become an
        // uncatchable ~2GB allocation OOM that the step budget can't bound.
        val maxLen = 1 << 24 // 16M chars — far above any sane handler string
        if (d.isInfinity || (s.nonEmpty && d * s.length > maxLen))
          throw new JsError("RangeError: Invalid string length")
        JsStr(s * d.toInt)
      case (JsStr(s), "toString") => JsStr(s)
      // String.fromCharCode — the String GLOBAL is a native function
      // (callable as String(x)), so its static method dispatches here
      case (JsNative("String", _, _), "fromCharCode") =>
        JsStr(args.map(a => JsVal.num(a).toInt.toChar).mkString)

      // ---- Date statics and instance methods (deterministic subset;
      // JsDateOps doc). The engine is UTC-pinned, so local getters alias
      // UTC and getTimezoneOffset is 0.
      case (JsNative("Date", _, _), "now") =>
        throw new JsError(
          "Date.now() reads the wall clock and is banned in projections " +
            "(nondeterministic under replay); use event timestamps instead")
      case (JsNative("Date", _, _), "parse") =>
        JsNum(JsDateOps.parse(str(args, 0)))
      case (JsNative("Date", _, _), "UTC") =>
        def arg(i: Int, dflt: Double): Double =
          args.lift(i).map(JsVal.num).getOrElse(dflt)
        JsNum(JsDateOps.partsToMs(
          JsDateOps.legacyYear(arg(0, Double.NaN)), arg(1, 0.0), arg(2, 1.0),
          arg(3, 0.0), arg(4, 0.0), arg(5, 0.0), arg(6, 0.0)))
      case (d: JsDate, "getTime" | "valueOf") => JsNum(d.ms)
      case (d: JsDate, "toISOString") => JsStr(JsDateOps.toIso(d.ms))
      case (d: JsDate, "toJSON") =>
        if (d.ms.isNaN) JsNull else JsStr(JsDateOps.toIso(d.ms))
      case (d: JsDate, "toString") => JsStr(JsVal.toStr(d))
      case (d: JsDate, "getTimezoneOffset") =>
        JsNum(if (d.ms.isNaN) Double.NaN else 0.0)
      case (d: JsDate, "getUTCFullYear" | "getFullYear") =>
        JsNum(JsDateOps.field(d.ms, "year"))
      case (d: JsDate, "getUTCMonth" | "getMonth") =>
        JsNum(JsDateOps.field(d.ms, "month"))
      case (d: JsDate, "getUTCDate" | "getDate") =>
        JsNum(JsDateOps.field(d.ms, "date"))
      case (d: JsDate, "getUTCDay" | "getDay") =>
        JsNum(JsDateOps.field(d.ms, "day"))
      case (d: JsDate, "getUTCHours" | "getHours") =>
        JsNum(JsDateOps.field(d.ms, "hours"))
      case (d: JsDate, "getUTCMinutes" | "getMinutes") =>
        JsNum(JsDateOps.field(d.ms, "minutes"))
      case (d: JsDate, "getUTCSeconds" | "getSeconds") =>
        JsNum(JsDateOps.field(d.ms, "seconds"))
      case (d: JsDate, "getUTCMilliseconds" | "getMilliseconds") =>
        JsNum(JsDateOps.field(d.ms, "milliseconds"))

      // ---- regex methods
      case (r: JsRegex, "test") => JsBool(JsRegexOps.test(r, str(args, 0)))
      case (r: JsRegex, "exec") => JsRegexOps.exec(r, str(args, 0))
      case (r: JsRegex, "toString") => JsStr(JsVal.toStr(r))

      // ---- array methods
      case (JsArr(items), "push") =>
        items ++= args; JsNum(items.length)
      case (JsArr(items), "pop") =>
        if (items.isEmpty) JsUndef else items.remove(items.length - 1)
      case (JsArr(items), "shift") =>
        if (items.isEmpty) JsUndef else items.remove(0)
      case (JsArr(items), "unshift") =>
        items.insertAll(0, args); JsNum(items.length)
      case (JsArr(items), "indexOf") =>
        JsNum(items.indexWhere(JsVal.strictEq(_, args.headOption.getOrElse(JsUndef))).toDouble)
      case (JsArr(items), "includes") =>
        JsBool(items.exists(JsVal.strictEq(_, args.headOption.getOrElse(JsUndef))))
      case (JsArr(items), "join") =>
        val sep = args.headOption.map(JsVal.toStr).getOrElse(",")
        JsStr(items.map {
          case JsUndef | JsNull => ""
          case x => JsVal.toStr(x)
        }.mkString(sep))
      case (JsArr(items), "slice") =>
        val a = sliceIdx(args.headOption.map(JsVal.num).getOrElse(0.0), items.length)
        val b = sliceIdx(args.lift(1).map(JsVal.num).getOrElse(items.length.toDouble), items.length)
        JsArr(mutable.ArrayBuffer((if (a < b) items.slice(a, b) else Nil).toSeq: _*))
      case (JsArr(items), "concat") =>
        val out = mutable.ArrayBuffer(items.toSeq: _*)
        args.foreach {
          case JsArr(more) => out ++= more
          case v => out += v
        }
        JsArr(out)
      case (JsArr(items), "map") =>
        val f = args.head
        JsArr(items.zipWithIndex.map { case (v, i) =>
          callFunction(f, Seq(v, JsNum(i))) }.to(mutable.ArrayBuffer))
      case (JsArr(items), "filter") =>
        val f = args.head
        JsArr(items.zipWithIndex.collect {
          case (v, i) if JsVal.bool(callFunction(f, Seq(v, JsNum(i)))) => v
        }.to(mutable.ArrayBuffer))
      case (JsArr(items), "forEach") =>
        val f = args.head
        items.zipWithIndex.foreach { case (v, i) => callFunction(f, Seq(v, JsNum(i))) }
        JsUndef
      case (JsArr(items), "some") =>
        val f = args.head
        JsBool(items.zipWithIndex.exists { case (v, i) =>
          JsVal.bool(callFunction(f, Seq(v, JsNum(i)))) })
      case (JsArr(items), "every") =>
        val f = args.head
        JsBool(items.zipWithIndex.forall { case (v, i) =>
          JsVal.bool(callFunction(f, Seq(v, JsNum(i)))) })
      case (JsArr(items), "find") =>
        val f = args.head
        items.zipWithIndex.collectFirst {
          case (v, i) if JsVal.bool(callFunction(f, Seq(v, JsNum(i)))) => v
        }.getOrElse(JsUndef)
      case (JsArr(items), "findIndex") =>
        val f = args.head
        JsNum(items.zipWithIndex.collectFirst {
          case (v, i) if JsVal.bool(callFunction(f, Seq(v, JsNum(i)))) => i.toDouble
        }.getOrElse(-1.0))
      case (JsArr(items), "lastIndexOf") =>
        JsNum(items.lastIndexWhere(
          JsVal.strictEq(_, args.headOption.getOrElse(JsUndef))).toDouble)
      case (JsArr(items), "reduce") =>
        val f = args.head
        var acc = args.lift(1).getOrElse {
          if (items.isEmpty) throw new JsError("reduce of empty array with no initial value")
          items.head
        }
        val start = if (args.length > 1) 0 else 1
        (start until items.length).foreach { i =>
          acc = callFunction(f, Seq(acc, items(i), JsNum(i)))
        }
        acc
      case (JsArr(items), "sort") =>
        val sorted = args.headOption match {
          case Some(cmp) if cmp != JsUndef =>
            items.sortWith((x, y) => JsVal.num(callFunction(cmp, Seq(x, y))) < 0)
          case _ => items.sortBy(JsVal.toStr)
        }
        items.clear(); items ++= sorted
        JsArr(items)
      case (JsArr(items), "reverse") =>
        val rev = items.reverse
        items.clear(); items ++= rev
        JsArr(items)
      case (JsArr(items), "toString") => JsStr(JsVal.toStr(JsArr(items)))

      // ---- object methods
      case (JsObj(m), "hasOwnProperty") => JsBool(m.contains(str(args, 0)))
      case (o: JsObj, "toString") =>
        o.fields.get("toString") match {
          case Some(f: JsFunc) => callFunction(f, Nil)
          case Some(n: JsNative) => callFunction(n, Nil)
          case _ => JsStr(JsVal.toStr(o))
        }
      case (JsObj(m), _) => m.get(name) match {
        case Some(f: JsFunc) => callFunction(f, args)
        case Some(n: JsNative) => callFunction(n, args)
        case Some(other) => throw new JsError(s"$name is not a function (${JsVal.typeOf(other)})")
        case None => throw new JsError(s"$name is not a function (undefined)")
      }

      case (JsNum(d), "toString") => JsStr(JsVal.numToStr(d))
      case (JsNum(d), "toFixed") =>
        val digits = args.headOption.map(JsVal.num(_).toInt).getOrElse(0)
        JsStr(String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(d)))
      case (JsBool(b), "toString") => JsStr(b.toString)

      case (JsUndef | JsNull, _) =>
        throw new JsError(s"cannot call '$name' of ${JsVal.toStr(recv)}")
      case _ => throw new JsError(s"no method '$name' on ${JsVal.typeOf(recv)}")
    }

  private def splitLiteral(s: String, sep: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var from = 0
    var i = s.indexOf(sep)
    while (i >= 0) {
      out += s.substring(from, i)
      from = i + sep.length
      i = s.indexOf(sep, from)
    }
    out += s.substring(from)
    out.toSeq
  }

  private def str(args: Seq[JsVal], i: Int): String =
    JsVal.toStr(args.lift(i).getOrElse(JsUndef))
  /** String.prototype.match/search coerce a non-regex argument to a regex
    * (ES: RegExp(arg)); `match()` with no argument matches the empty
    * regex. */
  private def toRegexArg(v: JsVal): JsRegex = v match {
    case r: JsRegex => r
    case JsUndef => JsRegexOps.make("", "")
    case other => JsRegexOps.make(JsVal.toStr(other), "")
  }
  private def clamp(d: Double, len: Int): Int =
    if (d.isNaN || d < 0) 0 else math.min(d.toInt, len)
  private def sliceIdx(d: Double, len: Int): Int =
    if (d < 0) math.max(0, len + d.toInt) else math.min(len, d.toInt)

  // -------------------------------------------------------------- stdlib

  private def native(name: String, arity: Int)(f: Seq[JsVal] => JsVal): JsNative =
    JsNative(name, arity, f)

  private def installStdlib(g: Env): Unit = {
    g.define("undefined", JsUndef)
    g.define("NaN", JsNum(Double.NaN))
    g.define("Infinity", JsNum(Double.PositiveInfinity))
    g.define("JSON", JsObj.of(
      "parse" -> native("parse", 1) { args =>
        JsVal.parseJson(JsVal.toStr(args.headOption.getOrElse(JsUndef)))
      },
      "stringify" -> native("stringify", 1) { args =>
        JsVal.stringify(args.headOption.getOrElse(JsUndef))
          .map(JsStr(_)).getOrElse(JsUndef)
      }))
    g.define("Math", JsObj.of(
      "floor" -> native("floor", 1)(a => JsNum(math.floor(JsVal.num(a.head)))),
      "ceil" -> native("ceil", 1)(a => JsNum(math.ceil(JsVal.num(a.head)))),
      "round" -> native("round", 1)(a => JsNum(math.floor(JsVal.num(a.head) + 0.5))),
      "abs" -> native("abs", 1)(a => JsNum(math.abs(JsVal.num(a.head)))),
      "sqrt" -> native("sqrt", 1)(a => JsNum(math.sqrt(JsVal.num(a.head)))),
      "pow" -> native("pow", 2)(a => JsNum(math.pow(JsVal.num(a.head), JsVal.num(a(1))))),
      "min" -> native("min", 2)(a =>
        JsNum(if (a.isEmpty) Double.PositiveInfinity else a.map(JsVal.num).min)),
      "max" -> native("max", 2)(a =>
        JsNum(if (a.isEmpty) Double.NegativeInfinity else a.map(JsVal.num).max)),
      "trunc" -> native("trunc", 1)(a => JsNum(JsVal.num(a.head).toLong.toDouble)),
      // transcendentals on StrictMath: bit-identical across JVMs/CPUs,
      // so replays stay deterministic (java.lang.Math may use platform
      // intrinsics that differ)
      "log" -> native("log", 1)(a => JsNum(StrictMath.log(JsVal.num(a.head)))),
      "log10" -> native("log10", 1)(a => JsNum(StrictMath.log10(JsVal.num(a.head)))),
      "exp" -> native("exp", 1)(a => JsNum(StrictMath.exp(JsVal.num(a.head)))),
      "sin" -> native("sin", 1)(a => JsNum(StrictMath.sin(JsVal.num(a.head)))),
      "cos" -> native("cos", 1)(a => JsNum(StrictMath.cos(JsVal.num(a.head)))),
      "tan" -> native("tan", 1)(a => JsNum(StrictMath.tan(JsVal.num(a.head)))),
      "asin" -> native("asin", 1)(a => JsNum(StrictMath.asin(JsVal.num(a.head)))),
      "acos" -> native("acos", 1)(a => JsNum(StrictMath.acos(JsVal.num(a.head)))),
      "atan" -> native("atan", 1)(a => JsNum(StrictMath.atan(JsVal.num(a.head)))),
      "atan2" -> native("atan2", 2)(a =>
        JsNum(StrictMath.atan2(JsVal.num(a.head), JsVal.num(a(1))))),
      "sign" -> native("sign", 1)(a => JsNum(math.signum(JsVal.num(a.head)))),
      "E" -> JsNum(StrictMath.E),
      "PI" -> JsNum(StrictMath.PI),
      "LN2" -> JsNum(0.6931471805599453),
      "LN10" -> JsNum(2.302585092994046)))
    g.define("Array", JsObj.of(
      "isArray" -> native("isArray", 1)(a =>
        JsBool(a.headOption.exists(_.isInstanceOf[JsArr])))))
    g.define("Object", JsObj.of(
      "keys" -> native("keys", 1) {
        case Seq(JsObj(m), _*) =>
          JsArr(m.keys.map(JsStr(_)).to(mutable.ArrayBuffer))
        case Seq(JsArr(items), _*) =>
          JsArr(items.indices.map(i => JsStr(i.toString)).to(mutable.ArrayBuffer))
        case _ => JsArr.empty
      },
      "values" -> native("values", 1) {
        case Seq(JsObj(m), _*) => JsArr(m.values.to(mutable.ArrayBuffer))
        case Seq(JsArr(items), _*) => JsArr(items.clone())
        case _ => JsArr.empty
      },
      "assign" -> native("assign", 2) { args =>
        args.headOption.getOrElse(JsUndef) match {
          case target: JsObj =>
            args.drop(1).foreach {
              case JsObj(src) => src.foreach { case (k, v) => target.fields(k) = v }
              case _ => ()
            }
            target
          case other => other
        }
      }))
    // shared with the column compiler's JsParseInt/JsParseFloat — same
    // statics, so compiled == interpreted on every input (JsVal has the
    // semantics notes; BigInt fixes the former Long-overflow crash on
    // huge digit strings, which ES reads as a rounded number)
    g.define("parseInt", native("parseInt", 1) { args =>
      val s = JsVal.toStr(args.headOption.getOrElse(JsUndef))
      val radix = args.lift(1).map(JsVal.num(_).toInt).filter(_ != 0).getOrElse(10)
      JsNum(JsVal.parseIntStr(s, radix))
    })
    g.define("parseFloat", native("parseFloat", 1) { args =>
      JsNum(JsVal.parseFloatStr(JsVal.toStr(args.headOption.getOrElse(JsUndef))))
    })
    // RegExp constructor (`new X(...)` parses as a plain call). Eagerly
    // validated: a bad dynamic pattern throws a catchable SyntaxError-
    // shaped JsError at construction, like ES.
    g.define("RegExp", native("RegExp", 2) { a =>
      a.headOption.getOrElse(JsUndef) match {
        case re: JsRegex =>
          val flags = a.lift(1).filter(_ != JsUndef).map(JsVal.toStr).getOrElse(re.flags)
          JsRegexOps.make(re.pattern, flags)
        case JsUndef => JsRegexOps.make("", "")
        case v =>
          val flags = a.lift(1).filter(_ != JsUndef).map(JsVal.toStr).getOrElse("")
          JsRegexOps.make(JsVal.toStr(v), flags)
      }
    })
    // Date constructor — ARGUMENT-constructed only (deterministic; see
    // JsDateOps doc). `new X(...)` parses as a plain call, like RegExp.
    g.define("Date", native("Date", 7) { a =>
      if (a.isEmpty)
        throw new JsError(
          "Date() without arguments reads the wall clock and is banned in " +
            "projections (nondeterministic under replay); construct from " +
            "event data instead, e.g. new Date(e.timestamp)")
      else if (a.length == 1) a.head match {
        case d: JsDate => new JsDate(d.ms)
        case JsStr(s) => new JsDate(JsDateOps.parse(s))
        case v => new JsDate(JsDateOps.timeClip(JsVal.num(v)))
      } else {
        def arg(i: Int, dflt: Double): Double =
          a.lift(i).map(JsVal.num).getOrElse(dflt)
        new JsDate(JsDateOps.partsToMs(
          JsDateOps.legacyYear(arg(0, Double.NaN)), arg(1, 0.0), arg(2, 1.0),
          arg(3, 0.0), arg(4, 0.0), arg(5, 0.0), arg(6, 0.0)))
      }
    })
    g.define("Number", native("Number", 1)(a => JsNum(JsVal.num(a.headOption.getOrElse(JsUndef)))))
    g.define("String", native("String", 1)(a => JsStr(JsVal.toStr(a.headOption.getOrElse(JsUndef)))))
    g.define("Boolean", native("Boolean", 1)(a => JsBool(JsVal.bool(a.headOption.getOrElse(JsUndef)))))
    g.define("isNaN", native("isNaN", 1)(a => JsBool(JsVal.num(a.headOption.getOrElse(JsUndef)).isNaN)))
    g.define("isFinite", native("isFinite", 1) { a =>
      val d = JsVal.num(a.headOption.getOrElse(JsUndef))
      JsBool(!d.isNaN && !d.isInfinite)
    })
    // Error constructors: `new X(...)` parses as a plain call, so these
    // natives return Error-shaped plain objects ({name, message}) —
    // enough for throw/catch/e.message, no prototype chain needed.
    Seq("Error", "TypeError", "RangeError", "SyntaxError").foreach { errName =>
      g.define(errName, native(errName, 1) { a =>
        JsObj.of(
          "name" -> JsStr(errName),
          "message" -> JsStr(a.headOption.map(JsVal.toStr).getOrElse("")))
      })
    }
    // the reference's debug `log` global (JintProjectionStateHandler.cs:62)
    g.define("log", native("log", 1) { a =>
      System.err.println("[js-projection] " + a.map(JsVal.toStr).mkString(" "))
      JsUndef
    })
  }
}

object JsInterp {
  /** Default per-invocation step budget. A typical handler runs in tens
    * of steps; 10M steps ≈ tens of ms — far beyond any legitimate handler,
    * far short of hanging a task. */
  val DefaultStepBudget: Long = 10_000_000L
}
