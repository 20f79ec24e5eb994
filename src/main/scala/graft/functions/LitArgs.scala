package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** Shared validation for the [[SqlFunctions]] builders whose
  * non-column arguments must be literals (shingle width, minhash k,
  * LSH planes…).
  *
  * Guarding on `foldable` BEFORE `eval()` turns "obscure Catalyst
  * unbound-reference error mid-analysis" into a clean
  * 'n must be a literal int' message when a user passes a column
  * (round-2 advice).
  */
private[graft] object LitArgs {

  def litLong(e: Expression, what: String): Long = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a literal int, got non-foldable expression ${e.sql}")
    e.eval() match {
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"$what must be a literal int, got $other")
    }
  }

  def litInt(e: Expression, what: String): Int = {
    val v = litLong(e, what)
    // explicit range check: a silent toInt wrap would turn e.g.
    // k = 2^32 + 16 into a plausible-but-wrong width 16 (review)
    if (v < Int.MinValue || v > Int.MaxValue) throw new IllegalArgumentException(
      s"$what must fit in an int, got $v")
    v.toInt
  }

  /** Literal `array('a', …)` argument (the merge-table convention of
    * [[BpeEncodeVocab]] — a vocab is a plan constant, not data). */
  def litStrings(e: Expression, what: String): Seq[String] = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a literal array of strings, got ${e.sql}")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(org.apache.spark.sql.types.StringType).toSeq.map {
          case null => throw new IllegalArgumentException(
            s"$what may not contain NULL symbols")
          case s => s.toString
        }
      case other => throw new IllegalArgumentException(
        s"$what must be a literal array of strings, got $other")
    }
  }

  /** Literal `array(10L, …)` argument (the [[CellBucket]] boundary
    * array). */
  def litLongs(e: Expression, what: String): Seq[Long] = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a literal array of bigints, got ${e.sql}")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toLongArray().toSeq
      case other => throw new IllegalArgumentException(
        s"$what must be a literal array of bigints, got $other")
    }
  }

  /** Literal `array(0.5D, …)` argument (the quantile-list convention of
    * the KLL family). */
  def litDoubles(e: Expression, what: String): Seq[Double] = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a literal array of doubles, got ${e.sql}")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toDoubleArray().toSeq
      case other => throw new IllegalArgumentException(
        s"$what must be a literal array of doubles, got $other")
    }
  }
}
