package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Integer quantization of a vector in one codegen'd pass:
  * `floor(v[i] · scale)` per element, emitted as ARRAY(DOUBLE) whose
  * values are exact integers. This is the determinism keystone for
  * clustering ([[graft.operators.Clustering]]): sums of the quantized
  * values are exact in any accumulation order, so per-cluster means
  * survive Spark's nondeterministic partial aggregation AND replay
  * bit-for-bit in an oracle engine. Native (not a `transform` lambda)
  * because per-element HOF lambdas are interpreted — the same 10-1000×
  * cliff that motivated ShingleHashes/CosineSimilarity.
  */
case class QuantizeVec(child: Expression, scale: Int) extends UnaryExpression {
  require(scale > 0, "scale must be positive")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "quantize_vec"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_vec needs array<float|double>, got ${other.catalogString}")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  protected override def nullSafeEval(input: Any): Any =
    QuantizeVec.compute(input.asInstanceOf[ArrayData], isFloat, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = isFloat
    defineCodeGen(ctx, ev, c => s"graft.functions.QuantizeVec.compute($c, $f, $scale)")
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

object QuantizeVec {

  def compute(v: ArrayData, isFloat: Boolean, scale: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      out(i) = math.floor(x * scale)
      i += 1
    }
    new GenericArrayData(out)
  }

  def quantize(vec: Column, scale: Int): Column =
    column(QuantizeVec(expression(vec), scale))
}
