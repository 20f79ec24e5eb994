package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Int8 scalar-quantization statistics for one embedding in a single
  * JVM pass: `STRUCT(scale DOUBLE, qsum BIGINT, qmin BIGINT, qmax
  * BIGINT)` where scale = max |x| (floored at 1e-30 for the zero
  * vector) and q_i = floor(x_i / scale * 127).
  *
  * Why custom (SURVEY §4 "custom Expression only for perf"): the
  * higher-order-function form — an `aggregate` for the scale, a
  * `transform` for the quantized array, two more reductions for the
  * summaries — is interpreted per element (CodegenFallback), three
  * passes per row. This expression is one codegen'd pass.
  *
  * Float-determinism contract, matching both the HOF form and the
  * DuckDB oracle exactly: the scale is an order-independent max; each
  * quantized value is floor((widen(x) / scale) * 127) with that literal
  * association — floor, not round/cast, because it is the one primitive
  * bit-identical between Spark ANSI and DuckDB. An empty array yields
  * NULL (no statistics to report).
  */
case class QuantStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = QuantStats.schema
  override def nullable: Boolean = true
  override def prettyName: String = "quant_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quant_stats needs array<float|double>, got ${other.catalogString}")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  protected override def nullSafeEval(input: Any): Any =
    QuantStats.compute(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = isFloat
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.QuantStats.compute($c, $f);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): QuantStats =
    copy(child = newChild)
}

object QuantStats {

  val schema: StructType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("qsum", LongType, nullable = false),
    StructField("qmin", LongType, nullable = false),
    StructField("qmax", LongType, nullable = false)))

  /** One pass: max-abs scale, then floor-quantized sum/min/max. Returns
    * null for an empty array. */
  def compute(vec: ArrayData, isFloat: Boolean): InternalRow = {
    val n = vec.numElements()
    if (n == 0) return null
    def at(i: Int): Double =
      if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
    var scale = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(at(i))
      if (a > scale) scale = a
      i += 1
    }
    if (scale < 1e-30) scale = 1e-30
    var qsum = 0L
    var qmin = Long.MaxValue
    var qmax = Long.MinValue
    i = 0
    while (i < n) {
      val q = math.floor(at(i) / scale * 127).toLong
      qsum += q
      if (q < qmin) qmin = q
      if (q > qmax) qmax = q
      i += 1
    }
    new GenericInternalRow(Array[Any](scale, qsum, qmin, qmax))
  }

  def stats(vec: Column): Column =
    column(QuantStats(expression(vec)))
}
