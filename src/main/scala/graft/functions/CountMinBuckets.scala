package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}

/** The d count-min-sketch bucket indices of a 64-bit key, as a native
  * codegen expression: bucket_j = splitmix64(h ^ seed_j) & (w-1),
  * seed_j the same splitmix stream the MinHash permutation family uses
  * (MinHashSignature.mix64) — deterministic, no RNG state, and
  * replayable in portable SQL because w is constrained to a power of
  * two (an unsigned `% w` then equals the JVM's masked low bits, no
  * signed-mod divergence).
  *
  * One tight JVM loop per row, inside whole-stage codegen — the same
  * rationale as MinHashSignature (SURVEY §4: custom Expression only
  * for perf).
  */
case class CountMinBuckets(child: Expression, d: Int, w: Int)
    extends UnaryExpression {
  require(d > 0 && d <= 16, s"unreasonable depth d=$d")
  require(w > 1 && (w & (w - 1)) == 0,
    s"width w=$w must be a power of two (keeps the SQL replay unsigned-mod-safe)")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "countmin_buckets"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"countmin_buckets requires a bigint key, got ${child.dataType}")

  protected override def nullSafeEval(input: Any): Any =
    CountMinBuckets.compute(input.asInstanceOf[Long], d, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CountMinBuckets.compute($c, $d, $w)")

  override protected def withNewChildInternal(newChild: Expression): CountMinBuckets =
    copy(child = newChild)
}

object CountMinBuckets {

  def compute(h: Long, d: Int, w: Int): ArrayData = {
    val out = new Array[Int](d)
    val mask = w - 1
    var j = 0
    while (j < d) {
      val seed = MinHashSignature.mix64(j.toLong)
      out(j) = (MinHashSignature.mix64(h ^ seed) & mask).toInt
      j += 1
    }
    new GenericArrayData(out)
  }

  def buckets(spark: SparkSession, key: Column, d: Int, w: Int): Column =
    column(CountMinBuckets(expression(key), d, w))
}
