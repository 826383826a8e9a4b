package graft.projections.js

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JoinedRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RowExec
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Streaming-native execution of compiled PRE-STATE definitions
  * (SURVEY.md §2.4 P20): the running value each batch window
  * reconstructs over fold-order-preceding rows IS a per-key stateful
  * accumulator, so continuous mode folds it directly — typed state in
  * flatMapGroupsWithState, one entry per partition, exactly the shape
  * the interpreter state store uses, but with NO interpreter: the
  * per-event transition evaluates the SAME compiled Catalyst
  * expressions the batch plan aggregates ([[JsColumnCompiler.StepSpec]]
  * carries them), with the pre-state columns bound from the typed state
  * instead of a window frame, and the final per-key JSON render
  * evaluates the batch plan's own render expression over the
  * accumulator row — bit-identical output by construction.
  *
  * Scale shape: state per key is the fold's own accumulator set
  * (longs/doubles/insertion-ordered maps), not per-key JSON blobs;
  * per-event expressions run through SafeProjection (codegen with
  * interpreted fallback), built once per executor. The reference analog
  * is the projection pump folding its in-memory partition state
  * (Processing/ProjectionProcessingPhase); Spark's state store supplies
  * the durability the pump's checkpoints provide. */
object JsStreamStepper {
  import JsColumnCompiler.{StepField, StepSpec, StepKinds => K}

  // ---------------------------------------------------------- state

  /** Per-field accumulator — the streaming mirror of the batch plan's
    * aggregation buffer for that field (plus the pre-read channels the
    * batch reconstructs with windows). Java-serialized into the state
    * store; strings held as java Strings (UTF8String is not
    * serialization-stable across copies). */
  private final class FieldState extends Serializable {
    var sum: Long = 0L
    var num: java.lang.Double = _ // max/min accumulator (null = none)
    var nan: Boolean = false
    var gSet: Boolean = false // guard-extremum candidate present
    var gV: Double = 0.0; var gP: Long = 0L; var gRaw: Double = 0.0
    var lastP: java.lang.Long = _ // LastK: latest executed site position
    var lastV: String = _ //        … and its rendered fragment (nullable)
    var preLast: AnyRef = _ // LastK raw pre channel (jl.Double | String)
    var list: mutable.ArrayBuffer[(Long, Array[String])] = _ // PushK
    var strList: mutable.ArrayBuffer[(Long, String)] = _ // Concat/Prepend
    var pushLen: Long = 0L
    var offers: mutable.HashSet[String] = _ // PushK membership values
    var nullOffer: Boolean = false
    var map: java.util.LinkedHashMap[String, MapEntry] = _ // Map kinds
    var nullKeyEntry: MapEntry = _ // NULL-key sites: pre-visible, never rendered
  }
  private final class MapEntry(val firstP: Long) extends Serializable {
    var sum: Long = 0L
    var lastFrag: String = _
    var preRaw: AnyRef = _ // jl.Double | String (latest raw site value)
  }

  private def newStates(fields: Seq[FieldMeta]): Array[FieldState] =
    fields.map { f =>
      val st = new FieldState
      f.kind match {
        case K.Push =>
          st.list = mutable.ArrayBuffer.empty
          st.offers = mutable.HashSet.empty
        case K.Concat | K.Prepend => st.strList = mutable.ArrayBuffer.empty
        case K.MapSum | K.MapLast =>
          st.map = new java.util.LinkedHashMap[String, MapEntry]()
        case _ => ()
      }
      st
    }.toArray

  private def serialize(sts: Array[FieldState]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(sts); oos.close()
    bos.toByteArray
  }
  private def deserialize(b: Array[Byte]): Array[FieldState] = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
    try ois.readObject().asInstanceOf[Array[FieldState]] finally ois.close()
  }

  // ------------------------------------------- bounded per-key sort

  /** Log-position-ordered iteration over one key's micro-batch slice
    * with BOUNDED executor memory (r16; VERDICT r15 #2). The fold is
    * order-sensitive and flatMapGroupsWithState orders its child by the
    * grouping key only, so a per-key sort is unavoidable — but the old
    * `rows.toArray.sortBy` materialized the key's WHOLE slice: a hot
    * stream in a large trigger held all its rows on the heap, unlike
    * the incremental fold the state itself supports. Now: up to
    * `maxBuffer` rows sort in memory (the common case — one key's share
    * of one trigger); past it, sorted runs spill to the executor's temp
    * dir (Java serialization, the same codec the state store uses for
    * these rows' state) and a loser-tree-free k-way merge streams them
    * back in position order. Ties (impossible for real log positions,
    * which are unique) break toward the earlier-arrived run, matching
    * the old stable sortBy. Spill files delete on consumption, with a
    * task-completion hook covering abandoned merges; the writer resets
    * the object stream every [[SpillResetEvery]] rows so neither side's
    * serialization handle table re-accumulates the slice on the heap. */
  /** Handle-table flush cadence for spill-run object streams: the writer
    * calls oos.reset() every this many rows. Java serialization's handle
    * table otherwise strongly retains EVERY object written/read on the
    * stream until close — on the read side that re-accumulated the whole
    * key slice on the heap during the k-way merge, defeating the bounded-
    * memory purpose exactly when it spilled (r16 ADVICE). The TC_RESET
    * token also clears the READER's table, so merge-phase memory is
    * O(maxBuffer + runs × ResetEvery). Kept well above 1 so shared
    * metadata (row schemas) is still back-referenced within a block
    * instead of re-serialized per row. */
  private[graft] val SpillResetEvery = 512

  private[graft] def sortedByPos(rows: Iterator[Row], posIdx: Int,
      maxBuffer: Int): Iterator[Row] = {
    val ord = Ordering.by[Row, Long](_.getLong(posIdx))
    val buf = mutable.ArrayBuffer.empty[Row]
    var spills = Vector.empty[java.io.File]
    def spill(): Unit = {
      val arr = buf.toArray
      java.util.Arrays.sort(arr, ord)
      val f = java.io.File.createTempFile("graft-stepper-sort", ".bin")
      val oos = new java.io.ObjectOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(f)))
      try {
        oos.writeInt(arr.length)
        var i = 0
        while (i < arr.length) {
          oos.writeObject(arr(i)); i += 1
          if (i % SpillResetEvery == 0) oos.reset()
        }
      } finally oos.close()
      spills :+= f
      buf.clear()
    }
    rows.foreach { r =>
      buf += r
      if (buf.length >= maxBuffer) spill()
    }
    if (spills.isEmpty) {
      val arr = buf.toArray
      java.util.Arrays.sort(arr, ord)
      arr.iterator
    } else {
      if (buf.nonEmpty) spill()
      final class Run(f: java.io.File, val idx: Int) {
        private val ois = new java.io.ObjectInputStream(
          new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
        private var remaining = ois.readInt()
        var head: Row = _
        advance()
        def advance(): Unit =
          if (remaining > 0) { head = ois.readObject().asInstanceOf[Row]; remaining -= 1 }
          else { head = null; close() }
        def close(): Unit = { try ois.close() catch { case _: Throwable => () }; f.delete() }
      }
      val runs = spills.zipWithIndex.map { case (f, i) => new Run(f, i) }
      // An iterator abandoned mid-merge (downstream exception / early
      // termination) must not leak open handles + spill files until JVM
      // exit (the former deleteOnExit also pinned one registry entry per
      // file for the JVM lifetime — r16 ADVICE): a task-completion hook
      // closes/deletes whatever the merge has not consumed. Outside a
      // task (unit tests) the consumed-path delete in advance() covers
      // the normal case and abandonment is test-process-scoped.
      Option(org.apache.spark.TaskContext.get()).foreach(tc =>
        tc.addTaskCompletionListener[Unit](_ =>
          runs.foreach(r => if (r.head != null) r.close())))
      // (pos, run index): earlier run wins ties — the stable-sort order
      val pq = new java.util.PriorityQueue[Run](runs.size,
        Ordering.by[Run, (Long, Int)](r => (r.head.getLong(posIdx), r.idx)))
      runs.filter(_.head != null).foreach(pq.add)
      new Iterator[Row] {
        def hasNext: Boolean = !pq.isEmpty
        def next(): Row = {
          val r = pq.poll()
          val out = r.head
          r.advance()
          if (r.head != null) pq.add(r)
          out
        }
      }
    }
  }

  /** In-memory rows per key before the per-key fold spills sorted runs
    * (~a few hundred bytes/row ⇒ tens of MB). */
  private[graft] val MaxSortBuffer = 1 << 16

  // ------------------------------------------------- bound runtime

  /** One bound per-row expression with its result type. */
  private final case class Slot(expr: Expression, dt: DataType)

  /** Everything the executor-side fold needs; all members serializable
    * (bound Expressions ship in task closures like any plan fragment). */
  /** Serializable per-field metadata (StepField minus its Columns —
    * Columns do not serialize; they are bound into expressions before
    * the Runtime ships to executors). */
  private final case class FieldMeta(name: String, kind: Int, read: Boolean,
      initNum: Double, initIsNum: Boolean, initStr: String,
      arrLen: Boolean, arrHas: Boolean, mapStr: Boolean)
  private def metaOf(f: StepField): FieldMeta =
    FieldMeta(f.name, f.kind, f.read, f.initNum, f.initIsNum, f.initStr,
      f.arrLen, f.arrHas, f.mapStr)

  private final class Runtime(
      val fields: Array[FieldMeta],
      val preSlots: Array[Int], // ext slot of each field's pre column (-1)
      val preHasSlots: Array[Int], // PushK membership slot (-1)
      val preLenSlots: Array[Int], // PushK length slot (-1)
      val extSize: Int,
      val letStages: Array[(Int, Slot)], // (ext slot, bound let)
      val preRowFns: Array[(Int, RowExec.RowFn)], // field idx -> key/value row fn
      val updateFn: RowExec.RowFn, // all update inputs, one projection
      // (the raise channel rides at the end of updateFn's output —
      // EVALUATING it throws like the batch agg's raise_error child)
      val updOffsets: Array[Int], // per-field offset into updateFn output
      val renderFn: RowExec.RowFn,
      val aggIdx: Map[String, Int], // agg column name -> render-row slot
      val aggDts: Array[DataType],
      val posIdx: Int,
      val toInternal: Row => InternalRow,
      // --- emit mode (stateful emitted() streaming, r15) ------------
      val postSlots: Array[Int] = Array.empty, // POST-value slot (-1)
      val letStagesPost: Array[(Int, Slot)] = Array.empty,
      val emitFn: RowExec.RowFn = null // the emissions-array expression
    ) extends Serializable {

    // --- pre values from state (the window reconstructions) ---------

    /** Spark double max (NaN largest, the ordering max() uses). */
    private def dMax(a: Double, b: Double): Double =
      if (java.lang.Double.compare(a, b) >= 0) a else b
    private def dMin(a: Double, b: Double): Double =
      if (java.lang.Double.compare(a, b) <= 0) a else b

    private def preOf(i: Int, st: FieldState, preKey: String): Any = {
      val f = fields(i)
      f.kind match {
        case K.Sum => (f.initNum.toLong + st.sum).toDouble
        case K.Max =>
          if (st.num == null) f.initNum else dMax(f.initNum, st.num)
        case K.Min =>
          if (f.initNum.isNaN || st.nan) Double.NaN
          else if (st.num == null) f.initNum else dMin(f.initNum, st.num)
        case K.GMax =>
          if (!st.gSet || !(st.gV > f.initNum + 0.0)) f.initNum else st.gRaw
        case K.GMin =>
          if (f.initNum.isNaN) Double.NaN
          else if (!st.gSet || !(st.gV < f.initNum + 0.0)) f.initNum
          else st.gRaw
        case K.Last =>
          if (st.preLast != null) {
            st.preLast match {
              case s: String => UTF8String.fromString(s)
              case d => d // java.lang.Double
            }
          } else if (f.initIsNum) f.initNum
          else UTF8String.fromString(f.initStr)
        case K.MapSum =>
          val e = entryOf(st, preKey, create = false)
          if (e == null) null else e.sum.toDouble
        case K.MapLast =>
          val e = entryOf(st, preKey, create = false)
          if (e == null || e.preRaw == null) null
          else e.preRaw match {
            case s: String => UTF8String.fromString(s)
            case d => d
          }
        case _ => null // PushK handled via has/len slots
      }
    }

    private def entryOf(st: FieldState, key: String, create: Boolean,
        pos: Long = 0L): MapEntry = {
      if (key == null) {
        if (st.nullKeyEntry == null && create) st.nullKeyEntry = new MapEntry(pos)
        st.nullKeyEntry
      } else {
        var e = st.map.get(key)
        if (e == null && create) { e = new MapEntry(pos); st.map.put(key, e) }
        e
      }
    }

    // --- the fold ----------------------------------------------------

    def step(key: String, rows: Iterator[Row],
        state: GroupState[Array[Byte]]): Iterator[(String, String)] = {
      val sts = state.getOption.map(deserialize)
        .getOrElse(newStates(fields.toIndexedSeq))
      // the per-key SORT is unavoidable: flatMapGroupsWithState orders
      // its child by the GROUPING KEY only (no sorted-groups variant
      // exists for it; a plan-level sortWithinPartitions is rejected on
      // streaming frames), and the fold is order-sensitive. The BUFFER
      // is bounded (r16): sortedByPos holds at most MaxSortBuffer rows
      // on the heap and spills sorted runs past it, so a hot key in a
      // large trigger costs flat memory, not its per-batch arrival rate.
      val sorted = sortedByPos(rows, posIdx, MaxSortBuffer)
      val ext = new GenericInternalRow(extSize)
      val joined = new JoinedRow()
      sorted.foreach { row =>
        val ir = toInternal(row)
        joined(ir, ext)
        // phase 1: per-row pre KEYS (map read keys / membership values)
        //          — strictly pre-free, safe before the slots are set
        val preKeys = new Array[String](fields.length)
        preRowFns.foreach { case (i, fn) =>
          val out = fn(joined)
          preKeys(i) = if (out.isNullAt(0)) null else out.getUTF8String(0).toString
        }
        // phase 2: pre slots from state — the value the interpreter's
        //          state holds as this event's handler starts
        var i = 0
        while (i < fields.length) {
          val f = fields(i)
          if (f.read) {
            if (f.kind == K.Push) {
              val st = sts(i)
              if (preHasSlots(i) >= 0)
                ext.update(preHasSlots(i),
                  if (preKeys(i) == null) st.nullOffer
                  else st.offers.contains(preKeys(i)))
              if (preLenSlots(i) >= 0)
                ext.update(preLenSlots(i), st.pushLen.toDouble)
            } else ext.update(preSlots(i), preOf(i, sts(i), preKeys(i)))
          }
          i += 1
        }
        // phase 3: tainted lets, in program order
        letStages.foreach { case (slot, s) =>
          ext.update(slot, evalSlot(s, joined))
        }
        // phase 4: every field's update inputs (+ the raise channel —
        //          evaluating it THROWS like the batch agg's raise_error)
        val upd = updateFn(joined)
        // phase 5: apply the recurrences, pre-event snapshot semantics
        i = 0
        while (i < fields.length) {
          applyUpdate(i, sts(i), upd, row.getLong(posIdx), preKeys(i))
          i += 1
        }
      }
      state.update(serialize(sts))
      Iterator.single((key, render(sts)))
    }

    /** Emit-mode fold: the same per-event recurrence as [[step]], but
      * after each row's update the POST slots are bound from the
      * just-updated state and the emissions-array expression evaluates —
      * one [[graft.projections.Emitted]] per executed emit/linkTo site,
      * in log order with the interpreter's within-event emit_seq. */
    def stepEmits(key: String, rows: Iterator[Row],
        state: GroupState[Array[Byte]]): Iterator[graft.projections.Emitted] = {
      val sts = state.getOption.map(deserialize)
        .getOrElse(newStates(fields.toIndexedSeq))
      val sorted = sortedByPos(rows, posIdx, MaxSortBuffer) // bounded (r16)
      val ext = new GenericInternalRow(extSize)
      val joined = new JoinedRow()
      val out = mutable.ArrayBuffer.empty[graft.projections.Emitted]
      sorted.foreach { row =>
        val ir = toInternal(row)
        joined(ir, ext)
        val preKeys = new Array[String](fields.length)
        preRowFns.foreach { case (i, fn) =>
          val o = fn(joined)
          preKeys(i) = if (o.isNullAt(0)) null else o.getUTF8String(0).toString
        }
        var i = 0
        while (i < fields.length) {
          val f = fields(i)
          if (f.read) {
            if (f.kind == K.Push) {
              val st = sts(i)
              if (preHasSlots(i) >= 0)
                ext.update(preHasSlots(i),
                  if (preKeys(i) == null) st.nullOffer
                  else st.offers.contains(preKeys(i)))
              if (preLenSlots(i) >= 0)
                ext.update(preLenSlots(i), st.pushLen.toDouble)
            } else ext.update(preSlots(i), preOf(i, sts(i), preKeys(i)))
          }
          i += 1
        }
        letStages.foreach { case (slot, s) =>
          ext.update(slot, evalSlot(s, joined))
        }
        val upd = updateFn(joined)
        val pos = row.getLong(posIdx)
        i = 0
        while (i < fields.length) {
          applyUpdate(i, sts(i), upd, pos, preKeys(i))
          i += 1
        }
        // POST slots: the recurrence read off the just-updated state IS
        // the value after this event's mutations (the batch plan's
        // inclusive window)
        i = 0
        while (i < fields.length) {
          if (postSlots(i) >= 0)
            ext.update(postSlots(i), preOf(i, sts(i), preKeys(i)))
          i += 1
        }
        letStagesPost.foreach { case (slot, s) =>
          ext.update(slot, evalSlot(s, joined))
        }
        // evaluating the array THROWS on a routed top-level fault, like
        // the batch plan's raise_error
        val res = emitFn(joined)
        if (!res.isNullAt(0)) {
          val arr = res.getArray(0)
          var j = 0
          while (j < arr.numElements()) {
            val st = arr.getStruct(j, 4)
            def s(k: Int): String =
              if (st.isNullAt(k)) null else st.getUTF8String(k).toString
            out += graft.projections.Emitted(s(0), s(1), s(2), key, pos, j, s(3))
            j += 1
          }
        }
      }
      state.update(serialize(sts))
      out.iterator
    }

    private def evalSlot(s: Slot, row: InternalRow): Any = {
      val out = oneProj(s)(row)
      if (out.isNullAt(0)) null else out.get(0, s.dt)
    }
    // per-let single-expression projections, built lazily per executor
    @transient private lazy val oneProjCache =
      new java.util.IdentityHashMap[Slot, RowExec.RowFn]()
    private def oneProj(s: Slot): RowExec.RowFn = {
      var fn = oneProjCache.get(s)
      if (fn == null) { fn = new RowExec.RowFn(Seq(s.expr)); oneProjCache.put(s, fn) }
      fn
    }

    private def applyUpdate(i: Int, st: FieldState, upd: InternalRow,
        pos: Long, preKey: String): Unit = {
      val f = fields(i)
      val o = updOffsets(i)
      f.kind match {
        case K.Sum => st.sum += upd.getLong(o)
        case K.Max => if (!upd.isNullAt(o)) {
          val v = upd.getDouble(o)
          st.num = if (st.num == null) v else dMax(st.num, v)
        }
        case K.Min =>
          if (!upd.isNullAt(o)) {
            val v = upd.getDouble(o)
            st.num = if (st.num == null) v else dMin(st.num, v)
          }
          if (!upd.isNullAt(o + 1)) st.nan ||= upd.getBoolean(o + 1)
        case K.GMax => if (!upd.isNullAt(o)) {
          val s = upd.getStruct(o, 3)
          val (v, p) = (s.getDouble(0), s.getLong(1))
          val c = java.lang.Double.compare(v, st.gV)
          if (!st.gSet || c > 0 || (c == 0 && p > st.gP)) {
            st.gSet = true; st.gV = v; st.gP = p; st.gRaw = s.getDouble(2)
          }
        }
        case K.GMin => if (!upd.isNullAt(o)) {
          val s = upd.getStruct(o, 3)
          val (v, p) = (s.getDouble(0), s.getLong(1))
          val c = java.lang.Double.compare(v, st.gV)
          if (!st.gSet || c < 0 || (c == 0 && p < st.gP)) {
            st.gSet = true; st.gV = v; st.gP = p; st.gRaw = s.getDouble(2)
          }
        }
        case K.Last =>
          if (!upd.isNullAt(o)) {
            val s = upd.getStruct(o, 2)
            st.lastP = s.getLong(0)
            st.lastV = if (s.isNullAt(1)) null else s.getUTF8String(1).toString
          }
          if (f.read && !upd.isNullAt(o + 1)) {
            val s = upd.getStruct(o + 1, 1)
            st.preLast =
              if (s.isNullAt(0)) null
              else if (f.initIsNum) java.lang.Double.valueOf(s.getDouble(0))
              else s.getUTF8String(0).toString
          }
        case K.Push =>
          if (!upd.isNullAt(o)) {
            val s = upd.getStruct(o, 2)
            val arr = s.getArray(1)
            val frags = new Array[String](arr.numElements())
            var j = 0
            while (j < frags.length) {
              frags(j) = if (arr.isNullAt(j)) null
                else arr.getUTF8String(j).toString
              j += 1
            }
            st.list += ((s.getLong(0), frags))
          }
          var k = o + 1
          if (f.arrLen) { st.pushLen += upd.getLong(k); k += 1 }
          if (f.arrHas && !upd.isNullAt(k) && upd.getBoolean(k)) {
            // the VALUE slot follows the offer flag (arrPreVal)
            if (upd.isNullAt(k + 1)) st.nullOffer = true
            else st.offers += upd.getUTF8String(k + 1).toString
          }
        case K.Concat | K.Prepend => if (!upd.isNullAt(o)) {
          val s = upd.getStruct(o, 2)
          st.strList += ((s.getLong(0),
            if (s.isNullAt(1)) null else s.getUTF8String(1).toString))
        }
        case K.MapSum => if (!upd.isNullAt(o) && upd.getBoolean(o)) {
          val key = if (upd.isNullAt(o + 1)) null
            else upd.getUTF8String(o + 1).toString
          entryOf(st, key, create = true, pos).sum += upd.getLong(o + 2)
        }
        case K.MapLast => if (!upd.isNullAt(o) && upd.getBoolean(o)) {
          val key = if (upd.isNullAt(o + 1)) null
            else upd.getUTF8String(o + 1).toString
          val e = entryOf(st, key, create = true, pos)
          if (!upd.isNullAt(o + 2)) {
            val s = upd.getStruct(o + 2, 1)
            e.lastFrag = if (s.isNullAt(0)) null else s.getUTF8String(0).toString
          }
          if (f.read && !upd.isNullAt(o + 3)) {
            val s = upd.getStruct(o + 3, 1)
            e.preRaw =
              if (s.isNullAt(0)) null
              else if (f.mapStr) s.getUTF8String(0).toString
              else java.lang.Double.valueOf(s.getDouble(0))
          }
        }
      }
    }

    // --- render: evaluate the batch plan's own JSON expression over
    //     the accumulator row --------------------------------------

    private def render(sts: Array[FieldState]): String = {
      val vals = new Array[Any](aggDts.length)
      var i = 0
      while (i < fields.length) {
        val f = fields(i); val st = sts(i)
        f.kind match {
          case K.Sum => put(vals, s"__graft_sum_${f.name}", st.sum)
          case K.Max => put(vals, s"__graft_max_${f.name}", st.num)
          case K.Min =>
            put(vals, s"__graft_min_${f.name}", st.num)
            put(vals, s"__graft_nan_${f.name}", st.nan)
          case K.GMax => put(vals, s"__graft_gmax_${f.name}",
            if (!st.gSet) null
            else new GenericInternalRow(Array[Any](st.gV, st.gP, st.gRaw)))
          case K.GMin => put(vals, s"__graft_gmin_${f.name}",
            if (!st.gSet) null
            else new GenericInternalRow(Array[Any](st.gV, st.gP, st.gRaw)))
          case K.Last => put(vals, s"__graft_last_${f.name}",
            if (st.lastP == null) null
            else new GenericInternalRow(Array[Any](st.lastP.longValue(),
              if (st.lastV == null) null else UTF8String.fromString(st.lastV))))
          case K.Push => put(vals, s"__graft_push_${f.name}",
            new GenericArrayData(st.list.map { case (p, frags) =>
              new GenericInternalRow(Array[Any](p, new GenericArrayData(
                frags.map(s => if (s == null) null
                  else UTF8String.fromString(s)): Array[Any])))
            }.toArray[Any]))
          case K.Concat => put(vals, s"__graft_cat_${f.name}", strListData(st))
          case K.Prepend => put(vals, s"__graft_pre_${f.name}", strListData(st))
          case K.MapSum | K.MapLast =>
            // level-2 entries in insertion order; NULL-key sites are
            // pre-visible but never rendered (the batch drops them at
            // level 2 via mk IS NOT NULL)
            val out = mutable.ArrayBuffer.empty[Any]
            st.map.forEach { (k, e) =>
              out += new GenericInternalRow(Array[Any](e.firstP,
                UTF8String.fromString(k),
                if (f.kind == K.MapSum) e.sum
                else if (e.lastFrag == null) null
                else UTF8String.fromString(e.lastFrag)))
            }
            put(vals, s"__graft_map_${f.name}", new GenericArrayData(out.toArray))
        }
        i += 1
      }
      val out = renderFn(new GenericInternalRow(vals))
      out.getUTF8String(0).toString
    }
    private def strListData(st: FieldState): GenericArrayData =
      new GenericArrayData(st.strList.map { case (p, s) =>
        new GenericInternalRow(Array[Any](p,
          if (s == null) null else UTF8String.fromString(s)))
      }.toArray[Any])
    private def put(vals: Array[Any], name: String, v: Any): Unit =
      vals(aggIdx(name)) = v
  }

  // ----------------------------------------------------- plan build

  /** Wire a [[StepSpec]] onto a (streaming) events frame. Mirrors the
    * interpreter streaming path's shape — flatMap to keyed rows,
    * groupByKey, flatMapGroupsWithState in Update mode, rows folded in
    * log-position order per micro-batch — with the typed stepper in
    * place of the JSON interpreter. */
  def stream(spec: StepSpec, events: DataFrame): Dataset[(String, String)] = {
    val (prep, rt, keyIdx) = build(spec, events)
    implicit val strEnc = Encoders.STRING
    implicit val binEnc = Encoders.BINARY
    implicit val outEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    prep
      // null partition key = the handler never runs for this event
      // (typed filter: no Catalyst pushdown can inline the key expr)
      .filter((r: Row) => !r.isNullAt(keyIdx))
      .groupByKey((r: Row) => r.getString(keyIdx))
      .flatMapGroupsWithState[Array[Byte], (String, String)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Row], gs: GroupState[Array[Byte]]) =>
          rt.step(key, rows, gs)
      }
  }

  /** Emit-mode wiring (r15): stateful emitted() as a streaming Dataset —
    * the same typed per-key fold, emissions evaluated per event after
    * the update applies. Rows are bit-identical to the batch emitted()
    * (same emit_seq, same rendering), so EmittedSink dedup keys line up
    * across engines. Requires spec.emitArr. */
  def streamEmits(spec: StepSpec,
      events: DataFrame): Dataset[graft.projections.Emitted] = {
    require(spec.emitArr.isDefined, "streamEmits needs an emit-mode spec")
    val (prep, rt, keyIdx) = build(spec, events)
    implicit val binEnc = Encoders.BINARY
    implicit val outEnc = Encoders.product[graft.projections.Emitted]
    prep
      .filter((r: Row) => !r.isNullAt(keyIdx))
      .groupByKey((r: Row) => r.getString(keyIdx))(Encoders.STRING)
      // Append, like the interpreter emit fold: emitted rows are
      // append-only facts (EmittedSink.streamTo runs append queries)
      .flatMapGroupsWithState[Array[Byte], graft.projections.Emitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Row], gs: GroupState[Array[Byte]]) =>
          rt.stepEmits(key, rows, gs)
      }
  }

  private def build(spec: StepSpec, events: DataFrame): (DataFrame, Runtime, Int) = {
    val spark = events.sparkSession
    val Key = JsColumnCompiler.KeyCol
    var prep = JsColumnCompiler.withDefaults(events, spec.required)
    spec.letsPre.foreach { case (n, c) => prep = prep.withColumn(n, c) }
    prep = prep.withColumn(Key, spec.keyCol)
    val prepSchema = prep.schema

    // ext slot layout: [pre columns, field order] ++ [tainted lets]
    val fields = spec.fields.toArray
    val preSlots = Array.fill(fields.length)(-1)
    val preHasSlots = Array.fill(fields.length)(-1)
    val preLenSlots = Array.fill(fields.length)(-1)
    val preFields = mutable.ArrayBuffer.empty[StructField]
    val Pre = JsColumnCompiler.PreColPrefix
    fields.zipWithIndex.foreach { case (f, i) =>
      if (f.read) f.kind match {
        case K.Push =>
          if (f.arrHas) {
            preHasSlots(i) = preFields.length
            preFields += StructField(Pre + f.name + JsColumnCompiler.ArrHasSfx,
              BooleanType, nullable = false)
          }
          if (f.arrLen) {
            preLenSlots(i) = preFields.length
            preFields += StructField(Pre + f.name + JsColumnCompiler.ArrLenSfx,
              DoubleType, nullable = false)
          }
        case K.Last =>
          preSlots(i) = preFields.length
          preFields += StructField(Pre + f.name,
            if (f.initIsNum) DoubleType else StringType, nullable = true)
        case K.MapSum =>
          preSlots(i) = preFields.length
          preFields += StructField(Pre + f.name, DoubleType, nullable = true)
        case K.MapLast =>
          preSlots(i) = preFields.length
          preFields += StructField(Pre + f.name,
            if (f.mapStr) StringType else DoubleType, nullable = true)
        case _ =>
          preSlots(i) = preFields.length
          preFields += StructField(Pre + f.name, DoubleType, nullable = false)
      }
    }

    // stage the tainted lets: each resolves against the schema grown so
    // far (its slot value is visible to every later expression)
    var schema = StructType(prepSchema.fields ++ preFields)
    val letStages = mutable.ArrayBuffer.empty[(Int, Slot)]
    var slot = preFields.length
    spec.letsPost.foreach { case (n, c) =>
      val bound = RowExec.bind(spark, schema, Seq(c)).head
      letStages += ((slot, Slot(bound, bound.dataType)))
      schema = StructType(schema.fields :+ StructField(n, bound.dataType, true))
      slot += 1
    }
    // emit mode: POST-value slots (the inclusive-window reconstruction,
    // bound from the just-updated state) + the lets that read them
    val postSlots = Array.fill(fields.length)(-1)
    fields.zipWithIndex.foreach { case (f, i) =>
      if (spec.postFields.contains(f.name)) {
        postSlots(i) = slot
        schema = StructType(schema.fields :+ StructField(
          Pre + f.name + JsColumnCompiler.PostSfx,
          if (f.kind == K.Last && !f.initIsNum) StringType else DoubleType,
          nullable = true))
        slot += 1
      }
    }
    val letStagesPost = mutable.ArrayBuffer.empty[(Int, Slot)]
    spec.letsPostTainted.foreach { case (n, c) =>
      val bound = RowExec.bind(spark, schema, Seq(c)).head
      letStagesPost += ((slot, Slot(bound, bound.dataType)))
      schema = StructType(schema.fields :+ StructField(n, bound.dataType, true))
      slot += 1
    }
    val extSize = slot

    // phase-1 row functions: the pre window's per-row partition key
    // (map read key / membership value) — strictly pre-free by the
    // compiler's circularity gate
    val preRowFns = mutable.ArrayBuffer.empty[(Int, RowExec.RowFn)]
    fields.zipWithIndex.foreach { case (f, i) =>
      if (f.read) {
        val keyColOpt = f.kind match {
          case K.MapSum => Some(f.preInputs(2))
          case K.MapLast => Some(f.preInputs(1))
          case K.Push if f.arrHas => Some(f.preInputs.last)
          case _ => None
        }
        keyColOpt.foreach { c =>
          preRowFns += ((i, new RowExec.RowFn(RowExec.bind(spark, schema, Seq(c)))))
        }
      }
    }

    // phase-4 update inputs: per-field agg children (+ pre channels),
    // flattened into ONE projection; the raise channel rides along
    val updCols = mutable.ArrayBuffer.empty[Column]
    val updOffsets = new Array[Int](fields.length)
    fields.zipWithIndex.foreach { case (f, i) =>
      updOffsets(i) = updCols.length
      updCols ++= f.inputs
      f.kind match {
        case K.Last if f.read => updCols += f.preInputs.head
        case K.Push =>
          if (f.arrLen) {
            // the batch length window sums this cast to LONG
            val cntIdx = 0
            updCols += f.preInputs(cntIdx).cast(LongType)
          }
          if (f.arrHas) {
            val offerIdx = if (f.arrLen) 1 else 0
            updCols += f.preInputs(offerIdx)
            updCols += f.preInputs(offerIdx + 1)
          }
        case K.MapLast if f.read => updCols += f.preInputs.head
        case _ => ()
      }
    }
    spec.raiseCol.foreach(updCols += _)
    val updBound = RowExec.bind(spark, schema, updCols.toSeq)
    val updateFn = new RowExec.RowFn(updBound)

    // render: the batch aggregation's OUTPUT schema, derived by running
    // the same agg expressions over an empty frame of the full input
    // schema, then the plan's own state-JSON expression bound to it
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val keyedEmpty = classic.createDataFrame(
      classic.sparkContext.emptyRDD[Row], schema)
    val grouped =
      if (spec.mapKeyCols.nonEmpty) {
        val l1in = spec.mapKeyCols.foldLeft(keyedEmpty: DataFrame) {
          case (d, (n, c)) => d.withColumn(n, c)
        }
        val l1keys = col(Key) +: spec.mapKeyCols.map(kc => col(kc._1))
        l1in.groupBy(l1keys: _*).agg(spec.aggCols.head, spec.aggCols.tail: _*)
          .groupBy(col(Key)).agg(spec.level2Cols.head, spec.level2Cols.tail: _*)
      } else
        keyedEmpty.groupBy(col(Key)).agg(spec.aggCols.head, spec.aggCols.tail: _*)
    val aggSchema = StructType(grouped.schema.filterNot(_.name == Key))
    val renderFn = new RowExec.RowFn(
      RowExec.bind(spark, aggSchema, Seq(spec.render)))
    val aggIdx = aggSchema.fieldNames.zipWithIndex.toMap

    val emitFn = spec.emitArr
      .map(c => new RowExec.RowFn(RowExec.bind(spark, schema, Seq(c))))
      .orNull

    val rt = new Runtime(fields.map(metaOf), preSlots, preHasSlots, preLenSlots, extSize,
      letStages.toArray, preRowFns.toArray, updateFn, updOffsets,
      renderFn, aggIdx, aggSchema.map(_.dataType).toArray,
      prepSchema.fieldIndex("log_position"), RowExec.toInternal(prepSchema),
      postSlots = postSlots, letStagesPost = letStagesPost.toArray,
      emitFn = emitFn)

    (prep, rt, prepSchema.fieldIndex(Key))
  }

}
