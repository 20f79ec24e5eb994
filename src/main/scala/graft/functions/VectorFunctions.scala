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
}
