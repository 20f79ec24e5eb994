package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over ArrayType(FloatType/DoubleType) columns, built
  * entirely from codegen'd higher-order functions — no UDFs, so the
  * whole similarity pipeline stays inside whole-stage codegen and
  * works identically on a 1000-executor cluster.
  *
  * Determinism note (oracle parity): `aggregate` folds left-to-right
  * sequentially within one row, so the double summation order is fixed
  * — IEEE-identical with DuckDB's list_* functions on the same values
  * (SURVEY §2.C Q18).
  */
object VectorFunctions {

  /** Σ a[i]*b[i] in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Random-hyperplane signature (LSH for cosine): sign bits of dot
    * products with `planes` deterministic pseudo-random hyperplanes,
    * packed into a long. Used to bucket near-duplicate candidates so
    * the pair join is per-bucket instead of all-pairs.
    *
    * Delegates to the native [[HyperplaneSignature]] expression — the
    * earlier Column formulation built a dim × planes literal tree that
    * broke whole-stage codegen past dim ≈ 500 and carried a weight-
    * scaling bug ([-1, 3) instead of [-1, 1)) that collapsed buckets.
    */
  def hyperplaneSignature(vec: Column, planes: Int, seed: Long): Column =
    HyperplaneSignature.signature(vec, planes, seed)
}
