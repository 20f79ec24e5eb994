package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Deterministic Poisson-bootstrap resample weights of a row — the
  * scale form of the bootstrap: instead of materializing B resampled
  * copies of the corpus, each row carries an `array<int>` of B
  * independent Poisson(1) multiplicities (the Poisson approximation to
  * multinomial resampling, exact as n → ∞ and standard practice for
  * bootstrap CIs over data too large to resample by index). Replayable
  * cross-engine: draw j for key k is
  * `u = mix64(k ^ mix64(j)) >>> 11 / 2^53` (the minhash permutation
  * chain — [[MinHashSignature.mix64]]) pushed through the Poisson(1)
  * inverse CDF, whose cumulative thresholds are SHARED double literals
  * ([[BootstrapWeights.Cdf]]) so the DuckDB oracle compares the
  * identical doubles.
  *
  * Index 0 is the IDENTITY resample (weight 1 always): the full-sample
  * aggregate rides the same explode + shuffle as the B resamples, so
  * the whole bootstrap is ONE pass. Draws for resamples 1..B use seeds
  * mix64(1)..mix64(B).
  */
case class BootstrapWeights(child: Expression, b: Int) extends UnaryExpression {
  require(b >= 10 && b <= 10_000,
    s"graft_bootstrap_weights: resamples must be in [10, 10000], got $b")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_bootstrap_weights"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bootstrap_weights needs a bigint row key, got " +
        s"${child.dataType.catalogString}")

  @transient private lazy val seeds: Array[Long] =
    BootstrapWeights.seedsFor(b)

  protected override def nullSafeEval(input: Any): Any =
    BootstrapWeights.compute(input.asInstanceOf[Long], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bootSeeds", seeds, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BootstrapWeights.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BootstrapWeights =
    copy(child = newChild)
}

object BootstrapWeights {

  /** Poisson(1) cumulative thresholds t_k = e⁻¹·Σ_{i≤k} 1/i! for
    * k = 0..16 (t_16 ≈ 1 − 4e-15; a u beyond every threshold gets
    * weight 17 — probability ~1e-15, kept for totality). PUBLIC and
    * rendered into the oracle SQL verbatim (Double.toString round-trips
    * through DuckDB's literal parser), so both engines compare the
    * same doubles. */
  val Cdf: Array[Double] = {
    val out = new Array[Double](17)
    var p = math.exp(-1.0)
    var acc = p
    out(0) = acc
    var k = 1
    while (k < 17) {
      p = p / k.toDouble
      acc = acc + p
      out(k) = acc
      k += 1
    }
    out
  }

  /** seed_0 = identity sentinel (unused — index 0 is weight 1);
    * seed_j = mix64(j) for j = 1..b, the minhash permutation-seed
    * convention. */
  def seedsFor(b: Int): Array[Long] =
    Array.tabulate(b + 1)(j => MinHashSignature.mix64(j.toLong))

  def compute(key: Long, seeds: Array[Long]): GenericArrayData = {
    val out = new Array[Int](seeds.length)
    out(0) = 1 // the identity resample
    var j = 1
    while (j < seeds.length) {
      val z = MinHashSignature.mix64(key ^ seeds(j))
      val u = (z >>> 11).toDouble / 9007199254740992.0 // exact /2^53
      var w = 0
      while (w < Cdf.length && u >= Cdf(w)) w += 1
      out(j) = w
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Column form: array of b+1 multiplicities (index 0 = identity). */
  def weights(key: Column, b: Int): Column =
    column(BootstrapWeights(expression(key), b))
}
