package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Cosine similarity over ARRAY(FLOAT)/ARRAY(DOUBLE) as a native
  * expression (the optimization SURVEY §4 reserves for exactly this
  * case — replacing the higher-order-function form of X17 where
  * profiling justifies it).
  *
  * Float-determinism contract: accumulation is sequential
  * left-to-right per accumulator (dot, |a|², |b|²), double precision,
  * result = dot / (sqrt(|a|²) * sqrt(|b|²)) — bit-identical to both
  * the HOF formulation (aggregate over zip_with) and DuckDB's
  * list_cosine_similarity over DOUBLE[], so oracle-checked queries can
  * switch freely between the forms.
  */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"cosine_similarity needs array<float|double>, got $other")
  }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(a.asInstanceOf[ArrayData], isFloat(left),
      b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (fa, fb) = (isFloat(left), isFloat(right))
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CosineSimilarity.compute($a, $fa, $b, $fb)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  def compute(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
}
