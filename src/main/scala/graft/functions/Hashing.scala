package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64-bit hash as a native Catalyst expression.
  *
  * Used by the document-fingerprint and SimHash operators
  * (graft.operators.TextAnalysis / Dedup): both need a cheap, stable,
  * well-mixed 64-bit hash evaluated per token at 100 TB scale, so it is
  * implemented with `doGenCode` (stays inside whole-stage codegen; no
  * UDF serialization, no boxing in the hot loop).
  *
  * The reference engine has no hashing surface — this supports the
  * mandated dedup/fingerprint extensions (SURVEY §2.B X15–X18).
  */
case class Fnv1a64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fnv64 requires a string argument, got ${child.dataType}")
  override def prettyName: String = "fnv64"

  protected override def nullSafeEval(input: Any): Any =
    Fnv1a64.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv1a64.hashBytes($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64 =
    copy(child = newChild)
}

object Fnv1a64 {
  /** Standard FNV-1a 64-bit over raw bytes (public-domain constants). */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def fnv64(c: Column): Column =
    column(Fnv1a64(expression(c)))
}
