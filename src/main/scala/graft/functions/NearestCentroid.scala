package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Nearest-centroid assignment as a native expression: the argmax of
  * cosine similarity between one row's vector and a (small, broadcast)
  * centroid table carried as an `ARRAY(STRUCT(cid BIGINT, cv
  * ARRAY(FLOAT|DOUBLE)))` column.
  *
  * Why custom (SURVEY §4, round-2 verdict "What's wrong #2"): the
  * aggregation formulation (`crossJoin(centroids).groupBy(id, vec)
  * .agg(max_by(cid, cosine))`) implements a PER-ROW computation with a
  * grouping, so its final-aggregate exchange shuffles every embedding
  * (hundreds of floats/row) across the network — at 100 TB the entire
  * corpus moves for what is a narrow map. This expression folds over
  * the centroid array inside whole-stage codegen: the corpus stays
  * where it is, zero exchanges.
  *
  * Determinism: centroids are scanned in array order with a strict
  * `>` improvement test, so ties keep the FIRST entry — sort the array
  * (e.g. `array_sort` on the struct, which orders by cid) for an
  * engine-independent result. Cosine accumulation is the same
  * sequential double-precision pass as [[CosineSimilarity]].
  * Empty/NULL-element centroid arrays yield NULL (no centroid to
  * assign).
  */
case class NearestCentroid(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _),
          ArrayType(StructType(Array(
            StructField(_, LongType, _, _),
            StructField(_, ArrayType(FloatType | DoubleType, _), _, _))), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        "nearest_centroid needs (array<float|double>, array<struct<cid bigint, cv array<float|double>>>), " +
          s"got (${l.catalogString}, ${r.catalogString})")
  }

  private def vecIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def centIsFloat: Boolean = right.dataType match {
    case ArrayType(StructType(fields), _) => fields(1).dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    case _ => false
  }

  protected override def nullSafeEval(v: Any, cs: Any): Any = {
    val cents = cs.asInstanceOf[ArrayData]
    val i = NearestCentroid.bestIndex(
      v.asInstanceOf[ArrayData], vecIsFloat, cents, centIsFloat)
    if (i < 0) null else cents.getStruct(i, 2).getLong(0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (vf, cf) = (vecIsFloat, centIsFloat)
    nullSafeCodeGen(ctx, ev, (v, cs) => {
      // argmax returns the winning INDEX (-1 = no usable centroid), so
      // every long — including Long.MinValue — is a legal centroid id
      // (review: a value sentinel conflated a real id with "none")
      val idx = ctx.freshName("centIdx")
      s"""
         |final int $idx = graft.functions.NearestCentroid.bestIndex($v, $vf, $cs, $cf);
         |if ($idx < 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $cs.getStruct($idx, 2).getLong(0);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {

  /** Index of the argmax-cosine centroid in the array, or -1 when no
    * usable centroid exists (empty array / all-null entries) — the
    * caller maps -1 to SQL NULL. */
  def bestIndex(vec: ArrayData, vecFloat: Boolean,
                cents: ArrayData, centFloat: Boolean): Int = {
    val n = cents.numElements()
    var bestIdx = -1
    var bestCos = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      if (!cents.isNullAt(i)) {
        val s = cents.getStruct(i, 2)
        if (!s.isNullAt(0) && !s.isNullAt(1)) {
          val cos = CosineSimilarity.compute(vec, vecFloat, s.getArray(1), centFloat)
          // strict > keeps the first (lowest-index) winner on ties; a
          // NaN cosine (zero-norm vector) never beats the initial
          // -infinity, matching "no meaningful similarity"
          if (cos > bestCos) { bestCos = cos; bestIdx = i }
        }
      }
      i += 1
    }
    bestIdx
  }

  def nearest(vec: Column, cents: Column): Column =
    column(NearestCentroid(expression(vec), expression(cents)))
}
