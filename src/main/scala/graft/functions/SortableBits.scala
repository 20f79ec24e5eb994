package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Order-preserving integer rendering of a double: the IEEE-754 bit
  * pattern with the standard sortable transform (negative values get
  * their magnitude bits flipped), so SIGNED long comparison of the
  * outputs agrees with double comparison of the inputs — including
  * -0.0 < +0.0 and NaN above +Infinity (matching Spark's NaN-greatest
  * ordering).
  *
  * This is the keystone of the quantile family's ONE-JOB planning pass
  * ([[graft.operators.Stats]]): `sortable >> (64 - fineBits)` is a
  * DATA-INDEPENDENT monotone bucketing of the value line, so one hash
  * aggregation over the fine cells yields boundaries AND exact offsets
  * together — where a sampled approxQuantile boundary pass plus a
  * separate bucket-totals fold used to cost two jobs. Native codegen
  * (one static call per row), not a UDF.
  */
case class SortableDoubleBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sortable_double_bits"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sortable_double_bits needs double, got ${other.catalogString}")
    }

  protected override def nullSafeEval(input: Any): Any =
    SortableDoubleBits.compute(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SortableDoubleBits.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SortableDoubleBits =
    copy(child = newChild)
}

object SortableDoubleBits {

  /** doubleToLongBits (canonical NaN), then flip a negative's
    * magnitude bits: positives keep their (non-negative) bits,
    * negatives map to negative longs with reversed magnitude order. */
  def compute(v: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(v)
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }

  def sortable(spark: SparkSession, v: Column): Column =
    column(SortableDoubleBits(expression(v)))
}
