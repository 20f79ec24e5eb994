package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}

/** HyperLogLog register coordinates `[bucket, rho]` of a 64-bit key,
  * as a native codegen expression.
  *
  * The key is finalized through the same splitmix64 step the MinHash
  * permutation family uses (`MinHashSignature.mix64`, i.e.
  * mix(h + gamma)), then split: the low `p` bits pick the register
  * (`bucket`, so an unsigned SQL `% 2^p` replays it exactly), and the
  * remaining `64-p` high bits give `rho` = position of the leftmost
  * 1-bit = `(65-p) - bit_length(h >>> p)`, with the all-zero suffix
  * mapping to the maximum `65-p`. Everything downstream of this
  * expression is plain relational algebra: a register TABLE is
  * `GROUP BY bucket → MAX(rho)`, two register tables merge by
  * re-maxing their union, and the cardinality estimate is one
  * aggregate over at most `2^p` rows per group — which is what makes
  * the sketch the right distinct-count structure at 100 TB (the
  * shuffle carries ≤ |groups|·2^p register rows no matter how many
  * input rows there are, where exact COUNT(DISTINCT) shuffles every
  * distinct key).
  *
  * Deterministic and replayable in portable SQL (the oracle replays
  * the splitmix chain in HUGEINT and `bit_length` via `bin()`), unlike
  * Spark's built-in datasketches `hll_sketch_agg` whose binary sketch
  * no other engine can check value-level.
  */
case class HllRegister(child: Expression, p: Int) extends UnaryExpression {
  require(p >= 4 && p <= 16, s"hll precision p=$p outside [4, 16]")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hll_register"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hll_register requires a bigint key, got ${child.dataType}")

  protected override def nullSafeEval(input: Any): Any =
    HllRegister.compute(input.asInstanceOf[Long], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HllRegister.compute($c, $p)")

  override protected def withNewChildInternal(newChild: Expression): HllRegister =
    copy(child = newChild)
}

object HllRegister {

  def compute(h: Long, p: Int): ArrayData = {
    val u = MinHashSignature.mix64(h)
    val bucket = (u & ((1L << p) - 1)).toInt
    val w = u >>> p
    // bit_length(w) = 64 - nlz(w) for w != 0; rho = (65 - p) - bit_length
    val rho =
      if (w == 0L) 65 - p
      else 65 - p - (64 - java.lang.Long.numberOfLeadingZeros(w))
    new GenericArrayData(Array(bucket, rho))
  }

  def registerCoords(spark: SparkSession, key: Column, p: Int): Column =
    column(HllRegister(expression(key), p))
}
