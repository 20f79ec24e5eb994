package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Z-order (Morton) interleave of two dimension keys — the multi-column
  * clustering key for data-skipping layouts: sort/range-partition a
  * table by z-value and every file's min/max footer stats become tight
  * on BOTH dimensions at once, so scans filtering on either column
  * prune files (plain sort gives this for the leading column only).
  *
  * Inputs are dimension BUCKET ordinals (dictionary ranks, histogram
  * buckets), constrained to [0, 2^16) so the interleave fits 32 bits
  * and the SQL replay never shifts into the sign bit. Native codegen
  * expression — one bit-spread per row, inside whole-stage codegen.
  */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder2"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"zorder2 requires two bigint bucket ordinals, got ${left.dataType}, ${right.dataType}")

  protected override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder2.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrder2.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2 =
    copy(left = newLeft, right = newRight)
}

object ZOrder2 {

  /** Morton-interleave the low 16 bits of each ordinal: a's bit i goes
    * to position 2i, b's to 2i+1. Throws on out-of-range input (ANSI
    * spirit: silent truncation would silently break the layout). */
  def interleave(a: Long, b: Long): Long = {
    if (a < 0 || a > 0xffffL || b < 0 || b > 0xffffL)
      throw new IllegalArgumentException(
        s"zorder2 ordinals must be in [0, 65536): got ($a, $b)")
    spread(a) | (spread(b) << 1)
  }

  /** Spread the low 16 bits of v to the even bit positions. */
  private def spread(v0: Long): Long = {
    var v = v0 & 0xffffL
    v = (v | (v << 8)) & 0x00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0fL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }

  def zorder(a: Column, b: Column): Column =
    column(ZOrder2(expression(a), expression(b)))
}
