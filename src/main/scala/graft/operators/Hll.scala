package graft.operators

import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.HllRegister

/** HyperLogLog distinct-count sketches in ROW form: a sketch is a
  * plain DataFrame of `(groupCols…, bucket, rho)` register rows —
  * at most `2^p` per group — instead of an opaque binary blob.
  *
  * Why rows and not `hll_sketch_agg` binaries: the register table IS
  * relational state. Building it is one partially-aggregated hash
  * aggregate whose map side collapses every partition to ≤ |groups|·2^p
  * rows (the distinct-count shuffle becomes CONSTANT-size in the corpus
  * — exact COUNT(DISTINCT) shuffles every distinct key); merging
  * shards/days is `union → re-max` (associative, commutative, works
  * across any number of pre-aggregated snapshots with plain SQL);
  * and the estimate replays value-exactly in any engine, so the whole
  * path is DuckDB-oracled where a datasketches blob could only be
  * rows-only checked.
  *
  * Standard HLL (Flajolet et al. 2007): estimate = alpha_m * m^2 /
  * sum_j 2^-rho_j (absent registers count 2^0), with the small-range
  * linear-counting correction E <= 2.5m. The register sum is computed
  * EXACTLY: each 2^-rho_j is scaled by 2^(65-p) to an integer
  * (rho in [1, 65-p]), summed as DECIMAL(38,0) — at p=9 the worst case
  * is 512·2^56 = 2^65 << 10^38 — so both engines divide the same
  * integer and float-summation order cannot flip the oracle hash; the
  * one final division and ln() ulp are absorbed by round(…, 4).
  */
object Hll {

  /** Register table of `key` (a 64-bit hash column) per group:
    * `(groupCols…, bucket, rho)` with `rho = MAX` over the group's
    * keys landing in that bucket. ≤ 2^p rows per group. */
  def registers(df: DataFrame, groupCols: Seq[String], key: Column,
                p: Int): DataFrame = {
    val coords = HllRegister.registerCoords(key, p)
    val g = groupCols.map(col)
    df.select(g :+ coords.as("__c"): _*)
      .select(g :+ element_at(col("__c"), 1).as("bucket")
                :+ element_at(col("__c"), 2).as("rho"): _*)
      .groupBy(g :+ col("bucket"): _*)
      .agg(max("rho").as("rho"))
  }

  /** Merge two register tables (shards, days, snapshots): union +
    * re-max. Associative and commutative, so any merge tree works. */
  def merge(a: DataFrame, b: DataFrame, groupCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max("rho").as("rho"))

  /** alpha_m bias constant (Flajolet et al. 2007, fig. 3). */
  def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Scaled-integer numerator alpha·m²·2^(65-p) — public so the oracle
    * SQL embeds the IDENTICAL double literal. */
  def numerator(p: Int): Double = {
    val m = 1 << p
    alpha(m) * m * m * math.pow(2.0, 65 - p)
  }

  /** Cardinality estimate per group from a register table:
    * `(groupCols…, est_distinct)` with est rounded to 4 decimals. */
  def estimate(regs: DataFrame, groupCols: Seq[String], p: Int): DataFrame = {
    val m = 1 << p
    val g = groupCols.map(col)
    // exact integer register sum: 2^-rho scaled by 2^(65-p)
    val term = pow(lit(2.0), lit(65 - p) - col("rho")).cast(DecimalType(38, 0))
    val missing = lit(new java.math.BigDecimal(
      java.math.BigInteger.ONE.shiftLeft(65 - p)))
    val agg = regs.groupBy(g: _*).agg(
      count(lit(1)).as("__cnt"), sum(term).as("__sreg"))
    val zeros = lit(m) - col("__cnt")
    val denom = (col("__sreg") + zeros.cast(DecimalType(38, 0)) * missing)
      .cast("double")
    val raw = lit(numerator(p)) / denom
    val est = when(raw <= lit(2.5 * m) && zeros > lit(0),
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .otherwise(raw)
    agg.select(g :+ round(est, 4).as("est_distinct"): _*)
  }

  /** One-shot convenience: distinct-count estimate of `key` per group. */
  def estimateDistinct(df: DataFrame, groupCols: Seq[String], key: Column,
                       p: Int = 9): DataFrame =
    estimate(registers(df, groupCols, key, p), groupCols, p)
}
