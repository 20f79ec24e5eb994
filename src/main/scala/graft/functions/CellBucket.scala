package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Coarse-bucket id of a fine cell: `count of boundaries <= cell` for
  * an ASCENDING boundary array — the quantile family's bucket
  * assignment ([[graft.operators.Stats]]), as ONE binary search over a
  * referenced `long[]` instead of a `boundaries`-term chained-when
  * sum. The chained form's generated code grows linearly with the
  * boundary count: ~1k terms crosses the JVM 64 KB method limit, the
  * whole stage fails to compile, and Spark silently drops the stage to
  * interpreted eval (round-11 verdict item 2 — CodegenGuardSpec now
  * drives this path at 1024 buckets). Here the boundary array rides as
  * a codegen reference object, the generated call is O(1) in size and
  * O(log buckets) per row, and bucket count stops being a perf-cliff
  * parameter.
  *
  * Like the chained-when form it replaces, the expression captures NO
  * outer attribute (the array is a plan-time constant), so the Spark
  * 4.1 lambda-binding bug that forbids the `aggregate()` HOF shape
  * here (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND under AQE when the frame
  * feeds a join) cannot reach it.
  */
case class CellBucket(child: Expression, bounds: Seq[Long])
  extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_cell_bucket"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_cell_bucket needs a bigint cell id, got ${other.catalogString}")
    }

  @transient private lazy val arr: Array[Long] = bounds.toArray

  protected override def nullSafeEval(input: Any): Any =
    CellBucket.compute(arr, input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellBounds", arr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.CellBucket.compute($ref, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CellBucket =
    copy(child = newChild)
}

object CellBucket {

  /** Upper-bound binary search: index of the first boundary > cell ==
    * count of boundaries <= cell == the coarse bucket id. `bounds`
    * must be ascending (coarseBoundaries' construction). */
  def compute(bounds: Array[Long], cell: Long): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= cell) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Column form: bucket id (int) of the long `cell` under ascending
    * `bounds`. The boundary array is expression state, never
    * per-element expression children. */
  def bucket(spark: SparkSession, cell: Column, bounds: Array[Long]): Column =
    column(CellBucket(expression(cell), bounds.toSeq))
}
