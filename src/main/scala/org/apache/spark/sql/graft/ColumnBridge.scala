package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Bridge into Spark's `private[sql]` Column factory so graft's native
  * Catalyst expressions compose as ordinary `Column`s without a
  * FunctionRegistry round-trip. Standard extension-library pattern (cf.
  * public Spark extensions that open org.apache.spark.sql for the same
  * purpose); no Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (possibly custom) logical plan; and the analyzed
    * plan behind a DataFrame — the two hooks a whole-operator extension
    * needs (cf. public Spark extension libraries exposing Dataset.ofRows
    * the same way). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Catalyst predicate → data-source Filter — the exact translation a
    * scan's pushdown receives (`DataSourceStrategy.translateFilter` is
    * `protected[sql]`; this bridges it for the lake DML's
    * predicate-pruned reads). */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** DataFrame over an InternalRow RDD with the streaming bit set — what
    * a V1 streaming Source's getBatch must return (MicroBatchExecution
    * asserts isStreaming on the returned frame; cf. FileStreamSource,
    * which builds its batches through the same internal factory). */
  def streamingDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** Batch DataFrame over an InternalRow RDD — the inverse direction a
    * V1 streaming Sink needs: `addBatch`'s incoming frame is bound to
    * the micro-batch's IncrementalExecution and cannot be re-planned by
    * ordinary writers; rebinding its materialized rows to a plain batch
    * frame is the sanctioned escape (cf. the built-in console/foreach
    * sinks doing the same collect-or-rebind). */
  def batchDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** EAGER Column → catalyst Expression conversion. `expression(c)` above
    * returns a lazy ColumnNodeExpression placeholder that only standard
    * Dataset operators convert during construction; expressions embedded
    * in CUSTOM logical nodes must be converted up front or they reach
    * execution unevaluable. */
  def eagerExpression(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** `c` typed nullable at every level — the column itself, array
    * elements, map values and struct fields — with its values passed
    * through untouched. A cast cannot do this: the optimizer drops an
    * `array<t>`/`map<k, v>` cast that only widens `containsNull`, so the
    * written schema would fall back to the input's nullability. */
  def asNullable(c: Column): Column = column(AsNullable(expression(c)))

  /** `a` and `b` are one type once every nullability flag is ignored, at
    * every level (`DataType.equalsIgnoreNullability` is `private[sql]`). */
  def sameIgnoringNullability(a: DataType, b: DataType): Boolean =
    DataType.equalsIgnoreNullability(a, b)

  /** `t` with every nullability flag set, at every level. */
  def nullableType(t: DataType): DataType = t.asNullable
}

/** Pass-through whose type is `child`'s with every nullability flag set
  * ([[ColumnBridge.asNullable]]). Nullability never changes a value's
  * physical representation, so eval and codegen are the child's. */
case class AsNullable(child: Expression) extends UnaryExpression {
  override lazy val dataType: DataType = child.dataType.asNullable
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): AsNullable =
    copy(child = newChild)
}
