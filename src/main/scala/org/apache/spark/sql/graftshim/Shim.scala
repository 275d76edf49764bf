package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ⇄ Expression converters — the
  * supported way to lift a custom Catalyst `Expression` into the public
  * `Column` API in Spark 4 (the old `new Column(expr)` constructor is
  * gone). Lives under `org.apache.spark.sql` for package-private access;
  * everything else in this project stays in `graft`.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → Expression conversion (r19): [[expression]] wraps a
    * non-trivial ColumnNode lazily, and a lazy wrapper returned from a
    * registered FUNCTION BUILDER reports no dataType during resolution
    * — `fn(x).field` extraction then fails with a confusing
    * "VOID is not a struct" error. Builders that COMPOSE functions-API
    * columns (the r19 gate functions) convert through the ColumnNode
    * converter instead, yielding a real Catalyst tree the analyzer can
    * type immediately.
    */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a Catalyst expression builder as a session SQL function, so
    * `spark.sql("SELECT my_fn(...)")` resolves it (the FunctionRegistry is
    * `private[sql]`, hence this shim).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Build an [[org.apache.spark.sql.AnalysisException]] with a plain
    * message (its message constructors are non-public in Spark 4 —
    * analysis-time argument errors from registered functions should
    * surface as analysis errors, not opaque NPE/cast failures). A plain
    * message, NOT an error class: hijacking e.g. INTERNAL_ERROR would
    * render a user mistake as "a bug in Spark, please report it".
    */
  def analysisException(msg: String): org.apache.spark.sql.AnalysisException =
    new PlainAnalysisException(msg)

  /** `element_at`'s ANSI out-of-bounds error (1-based `index`), for native
    * expressions that replace an `element_at` lookup and must fail as it
    * does.
    */
  def elementAtIndexError(index: Int, numElements: Int): Throwable =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .invalidElementAtIndexError(index, numElements, null)

  /** `d` at DECIMAL(`precision`, `scale`), rounded HALF_UP, as Spark's
    * cast to that type: null on overflow, or with `failOnError` (ANSI)
    * the cast's overflow error.
    */
  def toPrecision(d: org.apache.spark.sql.types.Decimal, precision: Int, scale: Int,
      failOnError: Boolean): org.apache.spark.sql.types.Decimal =
    d.toPrecision(precision, scale, org.apache.spark.sql.types.Decimal.ROUND_HALF_UP,
      !failOnError, null)

  /** Spark's type equality up to nullability (`DataType.sameType`). */
  def sameType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)

  /** Materialize a logical plan as a DataFrame (test support for optimizer
    * rules; `Dataset.ofRows` is `private[sql]`).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Subclass bridge to AnalysisException's protected message-primary
  * constructor (the error-class constructors require a REGISTERED error
  * class; user-facing argument errors want the message verbatim).
  */
private[graftshim] class PlainAnalysisException(msg: String)
  extends org.apache.spark.sql.AnalysisException(
    message = msg, line = None, startPosition = None, cause = None,
    errorClass = None, messageParameters = Map.empty,
    context = Array.empty)
