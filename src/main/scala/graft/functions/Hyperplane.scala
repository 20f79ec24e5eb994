package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Random-hyperplane LSH signature as a native Catalyst expression:
  * the sign bits of `planes` dot products against deterministic
  * pseudo-random hyperplanes, packed into one long (cosine LSH,
  * Charikar SimHash over dense vectors).
  *
  * Why custom (SURVEY §4 "custom Expression only for perf"): the
  * Column formulation expanded to a dim × planes literal expression
  * tree — 768 terms at dim 64, ~37 000 at a realistic embedding width
  * of 3072 — which blows the 64 KB JVM method limit and silently falls
  * back to interpreted evaluation. This expression is one tight JVM
  * loop regardless of dimensionality and stays inside whole-stage
  * codegen via a static helper call.
  *
  * Hyperplane family: H_p[d] = splitmix64(seed·K1 + p·K2 + d) mapped to
  * a uniform weight in [-1, 1) via the top 53 bits (÷ 2⁵³ → [0,1),
  * ×2−1 → [-1,1)). Deterministic across runs and machines; no RNG
  * state, no driver-side randomness. (The earlier Column version
  * divided the 53-bit value by 2⁵² — weights in [-1, 3), positively
  * biased, which collapsed most vectors into the proj ≥ 0 bucket and
  * degraded the per-bucket join toward all-pairs.)
  */
case class HyperplaneSignature(child: Expression, planes: Int, seed: Long)
    extends UnaryExpression {
  require(planes > 0 && planes <= 63, "signature packs into one long")
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_signature"

  // fail at analysis time with a clean error, not mid-job on an executor
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_signature needs array<float|double>, got ${other.catalogString}")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  protected override def nullSafeEval(input: Any): Any =
    HyperplaneSignature.compute(input.asInstanceOf[ArrayData], isFloat, planes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = isFloat
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneSignature.compute($c, $f, $planes, ${seed}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignature =
    copy(child = newChild)
}

object HyperplaneSignature {

  private def mix64(zIn: Long): Long = {
    var z = zIn + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform hyperplane weight in [-1, 1) for (seed, plane, dim). */
  def weight(seed: Long, plane: Int, d: Int): Double = {
    val h = mix64(seed * 0x9e3779b97f4a7c15L + plane * 0xbf58476d1ce4e5b9L + d)
    (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /** The weight table depends only on (seed, planes, dim) — it is
    * row-invariant, so it is materialized once per JVM per key instead
    * of re-mixing splitmix64 dim × planes times for every row (at
    * dim 3072 / 24 planes that would be ~74k hashes per row, tripling
    * the cost of the actual dot products). Laid out plane-major so the
    * inner loop is a sequential scan. A handful of (seed, planes, dim)
    * keys exist per workload; the cache is effectively bounded. */
  private val weightCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Double]]
  private val MaxCachedTables = 64 // bound against ragged-dim input minting unbounded entries

  private def weightTable(seed: Long, planes: Int, dim: Int): Array[Double] = {
    // fast path first: steady-state rows never pay the bound check.
    // The bound is enforced only on the MISS path (round-2 advice: a
    // per-row `if (size > bound) clear()` meant that with >bound live
    // keys — ragged-dim/mixed-model corpora — EVERY row wiped the cache
    // and rebuilt a planes×dim table, a per-row perf cliff instead of a
    // graceful degradation). Clearing before computeIfAbsent keeps the
    // map mutation outside the mapping function (ConcurrentHashMap
    // forbids mutating the map inside computeIfAbsent).
    val k = (seed, planes, dim)
    val hit = weightCache.get(k)
    if (hit != null) return hit
    if (weightCache.size >= MaxCachedTables) weightCache.clear()
    weightCache.computeIfAbsent(k, { key =>
      val (s, p, d) = key
      val arr = new Array[Double](p * d)
      var pl = 0
      while (pl < p) {
        var i = 0
        while (i < d) { arr(pl * d + i) = weight(s, pl, i); i += 1 }
        pl += 1
      }
      arr
    })
  }

  /** One pass per plane over the vector; summation order is ascending
    * dimension index (deterministic). */
  def compute(vec: ArrayData, isFloat: Boolean, planes: Int, seed: Long): Long = {
    val n = vec.numElements()
    val w = weightTable(seed, planes, n)
    var sig = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      val base = p * n
      var d = 0
      while (d < n) {
        val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
        proj += x * w(base + d)
        d += 1
      }
      if (proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  def signature(spark: SparkSession, vec: Column, planes: Int, seed: Long): Column =
    column(HyperplaneSignature(expression(vec), planes, seed))

  /** Raw projections (not just their signs) against the same weight
    * family — the Johnson–Lindenstrauss dimensionality reduction the
    * sign path truncates: `out[p] = Σ_d v[d]·w(seed,p,d)`, ascending-d
    * fold per plane (deterministic, replayable as a sequential SQL
    * fold). Shares [[weightTable]], so an LSH index and a JL sketch
    * built from the same seed see the same hyperplanes. */
  def projectVec(vec: ArrayData, isFloat: Boolean, planes: Int, seed: Long)
      : ArrayData = {
    val n = vec.numElements()
    val w = weightTable(seed, planes, n)
    val out = new Array[Any](planes)
    var p = 0
    while (p < planes) {
      var proj = 0.0
      val base = p * n
      var d = 0
      while (d < n) {
        val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
        proj += x * w(base + d)
        d += 1
      }
      out(p) = proj
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Johnson–Lindenstrauss random projection as a native expression:
  * dense `ArrayType(DoubleType)` of `planes` dot products against the
  * [[HyperplaneSignature]] hyperplane family (same splitmix64 weights —
  * [[HyperplaneSignature.weight]]). One tight JVM loop per row inside
  * whole-stage codegen, NARROW (no shuffle, no state): the standard
  * pre-ANN dimensionality reduction — project 3072-dim embeddings to a
  * few dozen dims, run candidate search there, re-rank survivors in
  * the original space.
  */
case class RandomProjection(child: Expression, planes: Int, seed: Long)
    extends UnaryExpression {
  require(planes > 0, "planes must be positive")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "random_projection"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"random_projection needs array<float|double>, got ${other.catalogString}")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  protected override def nullSafeEval(input: Any): Any =
    HyperplaneSignature.projectVec(
      input.asInstanceOf[ArrayData], isFloat, planes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = isFloat
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneSignature.projectVec($c, $f, $planes, ${seed}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): RandomProjection =
    copy(child = newChild)
}

object RandomProjection {
  def project(spark: SparkSession, vec: Column, planes: Int, seed: Long): Column =
    column(RandomProjection(expression(vec), planes, seed))
}
