package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's private[sql] Column <-> Expression conversions
  * (org.apache.spark.sql.classic.ExpressionUtils). Lives under
  * org.apache.spark.sql so the access modifier admits it — the standard
  * pattern for Catalyst extensions built outside the Spark tree. */
object Bridge {
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Column → fully CONVERTED Catalyst expression via the active
    * session's converter. [[expression]] wraps the column's node tree
    * lazily (fine inside Dataset APIs, which convert the whole tree
    * later); an expression handed straight to the analyzer — e.g.
    * returned from a FunctionRegistry builder — must be converted NOW,
    * or it stays an opaque Unevaluable wrapper. */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.SparkSession.active.expression(c)

  /** Register a SQL function into an EXISTING session's function
    * registry (the notebook/REPL path; `SparkSessionExtensions` is the
    * config-driven path for new sessions). `sessionState` is
    * private[sql] — hence this bridge. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** The session's SQL conf (`sessionState` is private[sql]). */
  def sqlConf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** The Hadoop conf a file-source write of the session runs under: the
    * context's conf, the session's SQL conf and the write's `options`. */
  def hadoopConfWithOptions(spark: org.apache.spark.sql.SparkSession,
      options: Map[String, String]): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConfWithOptions(options)

  /** Release the storage blocks of an EAGER `localCheckpoint(true)`
    * result. A local checkpoint persists its data as a plain RDD (NOT a
    * CacheManager entry), strongly registered in the context until the
    * ContextCleaner notices the RDD became garbage after a driver GC —
    * in a long-lived session that is "whenever", so per-batch/per-query
    * checkpoints accumulate in executor storage for minutes (measured:
    * 167 MB of dead ingest checkpoints held through ~70 bench queries at
    * sf0.1 until a GC at `pipeline_training_data` collected them —
    * BASELINE.md "bench run hygiene"). DESTRUCTIVE: the checkpoint
    * truncated the lineage, so the Dataset cannot be re-executed after
    * this — only call once fully consumed. Releases ONLY when the plan
    * itself IS the checkpoint root (a bare LogicalRDD): a composite plan
    * embedding someone else's checkpoint as one input must not have that
    * input's blocks ripped out from under its owner (a checkpoint has no
    * lineage to recompute from — unlike CacheManager persists, releasing
    * a live one means block-not-found job failures), so this is a no-op
    * for any non-root plan. */
  def dropLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Build a NEW session over an existing SparkContext with the given
    * extensions applied — what `spark.sql.extensions` does at session
    * construction, callable in-process (tests exercise the REAL
    * extension path without tearing down the shared context). */
  def sessionWithExtensions(sc: org.apache.spark.SparkContext,
      configure: org.apache.spark.sql.SparkSessionExtensions => Unit)
      : org.apache.spark.sql.SparkSession = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    configure(ext)
    // the full constructor is Scala-private but bytecode-public (the
    // same signature Builder.getOrCreate invokes); resolve it by the
    // FULL parameter-type signature so a Spark upgrade that reshuffles
    // overloads fails loudly here instead of binding the wrong one
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructor(
        classOf[org.apache.spark.SparkContext],
        classOf[Option[_]], classOf[Option[_]],
        classOf[org.apache.spark.sql.SparkSessionExtensions],
        classOf[scala.collection.immutable.Map[_, _]],
        classOf[scala.collection.immutable.Map[_, _]])
    ctor.newInstance(sc, None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[org.apache.spark.sql.SparkSession]
  }
}

/** Per-row evaluation of compiled Columns OUTSIDE a plan — the streaming
  * pre-state stepper's engine (graft.projections.js.JsStreamStepper): the
  * same Catalyst expressions the batch plan aggregates are resolved once
  * against an explicit input schema, bound by ordinal, and evaluated per
  * event with the pre-state slots filled from typed stream state. Lives
  * in the bridge package for the private[sql] resolution surfaces. */
object RowExec {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences}
  import org.apache.spark.sql.catalyst.plans.logical.Project
  import org.apache.spark.sql.types.StructType

  /** Resolve `cols` against `schema` (no data touched) and bind them by
    * ordinal to rows of that schema. Resolution runs the full analyzer +
    * optimizer over a Project on an RDD-backed empty frame — the
    * optimizer pass matters: it rewrites RuntimeReplaceable functions
    * into their evaluable forms (an analyzed-only tree can carry
    * placeholders `eval` refuses). The LogicalRDD relation is opaque to
    * PropagateEmptyRelation, so the Project survives. Returns
    * (bound expressions, their data types). */
  def bind(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      cols: Seq[Column]): Seq[Expression] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val empty = classic.createDataFrame(
      classic.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val plan = empty.select(cols.zipWithIndex.map {
      case (c, i) => c.as(s"__graft_rowexec_$i")
    }: _*).queryExecution.optimizedPlan
    val (exprs, input) = plan match {
      case p: Project => (p.projectList.map {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case e => e
      }, p.child.output)
      case other =>
        // fully pruned (constant-only projection collapsed differently):
        // fall back to the analyzed tree
        val a = empty.select(cols.zipWithIndex.map {
          case (c, i) => c.as(s"__graft_rowexec_$i")
        }: _*).queryExecution.analyzed.asInstanceOf[Project]
        (a.projectList.map {
          case al: org.apache.spark.sql.catalyst.expressions.Alias => al.child
          case e => e
        }, a.child.output)
    }
    exprs.map(e => BindReferences.bindReference(e, input.asInstanceOf[Seq[Attribute]]))
  }

  /** A serializable row function over bound expressions: the projection
    * is built lazily ON THE EXECUTOR (codegen with interpreted
    * fallback — SafeProjection — so custom expressions without an
    * interpreted eval still run compiled). Output values are COPIED out
    * of the projection's reused buffer. */
  final class RowFn(exprs: Seq[Expression]) extends Serializable {
    @transient private lazy val proj =
      org.apache.spark.sql.catalyst.expressions.SafeProjection.create(exprs)
    def apply(row: InternalRow): InternalRow = proj(row).copy()
  }

  /** Converter: external Row (fMGWS input) → InternalRow. */
  def toInternal(schema: StructType): org.apache.spark.sql.Row => InternalRow = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    (r: org.apache.spark.sql.Row) => conv(r).asInstanceOf[InternalRow]
  }
}
