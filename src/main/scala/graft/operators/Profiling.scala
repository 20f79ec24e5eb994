package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NumericType, StringType}

/** One-pass column-profile report — the "data quality summary" every
  * ingest pipeline runs before trusting a new drop: per column, row
  * count, null count, exact distinct count, numeric min/max, string
  * min/max and mean length.
  *
  * The reference pipeline has no profiling surface; this supports the
  * training-data extension set (a 100 TB corpus drop is profiled before
  * any dedup/mixing decision is made on it).
  *
  * Shape: ONE aggregation pass over the input produces a single wide
  * row (all per-column aggregates partial-aggregate map-side), then a
  * `stack` generator pivots it to one row per column — the pivot runs
  * on one row, so the report costs exactly one scan + one 1-row
  * shuffle regardless of column count.
  *
  * The one scale caveat is exact COUNT(DISTINCT): Spark plans k
  * distinct aggregates as a k-way Expand of the scan (each row
  * replicated once per profiled column) before the partial aggregate.
  * That is the price of exactness; [[profileApprox]] swaps in
  * HyperLogLog++ (`approx_count_distinct`) which keeps the plan
  * Expand-free — the right default at 100 TB, spec-checked against the
  * exact path. The exact form is the oracle-checked one
  * (`x_profile`).
  */
object Profiling {

  /** Exact profile. `columns` empty = all columns. */
  def profile(df: DataFrame, columns: Seq[String] = Nil): DataFrame =
    build(df, columns, exact = true)

  /** HLL++ distinct counts (relative error `rsd`), no Expand in the
    * plan — the 100 TB form. Otherwise identical to [[profile]]. */
  def profileApprox(df: DataFrame, columns: Seq[String] = Nil,
                    rsd: Double = 0.05): DataFrame =
    build(df, columns, exact = false, rsd)

  private def isNum(dt: DataType): Boolean = dt.isInstanceOf[NumericType]

  private def build(df: DataFrame, columns: Seq[String], exact: Boolean,
                    rsd: Double = 0.05): DataFrame = {
    val fields = {
      val all = df.schema.fields.toSeq
      if (columns.isEmpty) all else all.filter(f => columns.contains(f.name))
    }
    require(fields.nonEmpty, "profile: no columns selected")
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val nd =
        if (exact) count_distinct(c) else approx_count_distinct(c, rsd)
      Seq(count(c).as(s"__nn_${f.name}"), nd.as(s"__nd_${f.name}")) ++
        (if (isNum(f.dataType))
          Seq(min(c).cast("double").as(s"__mn_${f.name}"),
            max(c).cast("double").as(s"__mx_${f.name}"))
        else
          // non-numeric (string/date/bool): min/max in the native
          // order, rendered as strings; mean length only for strings
          Seq(min(c).cast("string").as(s"__ms_${f.name}"),
            max(c).cast("string").as(s"__xs_${f.name}")) ++
            (if (f.dataType == StringType)
              Seq(round(avg(length(c)), 4).as(s"__al_${f.name}"))
            else Nil))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = fields.map { f =>
      val n = f.name
      if (isNum(f.dataType))
        s"'$n', __n - __nn_$n, __nd_$n, __mn_$n, __mx_$n, " +
          "CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS DOUBLE)"
      else {
        val al = if (f.dataType == StringType) s"__al_$n" else "CAST(NULL AS DOUBLE)"
        s"'$n', __n - __nn_$n, __nd_$n, CAST(NULL AS DOUBLE), " +
          s"CAST(NULL AS DOUBLE), __ms_$n, __xs_$n, $al"
      }
    }.mkString(", ")
    wide.selectExpr("__n AS n_rows",
        s"stack(${fields.size}, $stackArgs) AS " +
          "(col_name, n_null, n_distinct, min_num, max_num, min_str, max_str, avg_len)")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_num"), col("max_num"),
        col("min_str"), col("max_str"), col("avg_len"))
  }

  /** Robust outlier report per group: median, MAD (median absolute
    * deviation), and how many values sit outside
    * `median ± cut · 1.4826 · MAD` (1.4826 scales MAD to σ under
    * normality — the standard robust z-score). Unlike mean/stddev
    * outlier rules, one huge corrupt value cannot drag the threshold.
    *
    * Shape: the corpus is scanned ONCE — into the per-(group, distinct
    * value) counts frame the quantile family shares. The median reads
    * off that frame's CDF ([[Stats.groupedInterpolatedQuantiles]]
    * machinery — bit-identical to the `percentile` aggregate it
    * replaces, but bounded memory at any group size: the aggregate
    * buffered the hottest group's every value in ONE buffer); the
    * DEVIATION distribution is then DERIVED from the same counts frame
    * (|v − med| per distinct value, multiplicity-weighted — never a
    * second corpus scan; round-10 verdict item 2's "reuse the raw-pass
    * CDF"), its median via [[Stats.groupedInterpolatedQuantilesWeighted]],
    * and the final flag counts are conditional sums of the SAME counts
    * frame. Everything after the first scan is |distinct values|-sized.
    * The group key is carried as its STRING rendering (the grouped-
    * quantile-family contract); eager-materialization contract applies
    * (Stats object scaladoc): planning jobs run at call time.
    */
  def madOutliers(df: DataFrame, groupCol: String, valCol: String,
                  cut: Double = 3.0, buckets: Int = 32,
                  maxFoldRows: Long = 1_000_000L): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // THE corpus scan: per-(group, distinct value) multiplicities
    val counts = df
      .filter(col(valCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("g"),
        col(valCol).cast("double").as("v"))
      .agg(count(lit(1)).as("c"))
      .persist(lvl)
    val med = Stats.groupedInterpolatedQuantilesWeighted(
        counts, "g", "v", "c", Seq(0.5), buckets, maxFoldRows)
      .select(col("g"), col("value").as("med"))
    // the deviation DISTRIBUTION from the cached counts — same
    // multiset as per-row |v − med|, weighted by multiplicity
    val dev = counts.join(broadcast(med), Seq("g"))
      .select(col("g"), abs(col("v") - col("med")).as("adev"), col("c"))
    val mad = Stats.groupedInterpolatedQuantilesWeighted(
        dev, "g", "adev", "c", Seq(0.5), buckets, maxFoldRows)
      .select(col("g"), col("value").as("mad"))
    val out = counts
      .join(broadcast(med), Seq("g"))
      .join(broadcast(mad), Seq("g"))
      .groupBy(col("g").as(groupCol))
      .agg(
        round(first(col("med")), 4).as("med"),
        round(first(col("mad")), 4).as("mad"),
        sum(when(abs(col("v") - col("med")) > lit(cut) * lit(1.4826) * col("mad"),
          col("c")).otherwise(0L)).as("n_outliers"),
        sum(col("c")).as("n"))
      .withColumn("outlier_rate", round(col("n_outliers") / col("n"), 4))
      // |groups|-row result: materialize eagerly (the x_bigram_nll
      // contract) so the counts cache can be released here instead of
      // leaking past the return
      .localCheckpoint(true)
    counts.unpersist()
    out
  }

  /** Sketch-backed [[madOutliers]] — the beyond-`maxFoldRows` scale
    * path: where the exact operator's counts frame is |group, distinct
    * value|-sized (corpus-sized on high-cardinality values — the fold
    * guard's trip condition), this runs THREE bounded-state corpus
    * passes with O(k·log n) per group and NO driver fold at any group
    * count or cardinality:
    *
    *   1. per-group KLL sketch → interpolated median;
    *   2. medians joined back (AQE broadcasts the |groups|-row frame),
    *      per-group sketch of the DEVIATIONS |v − med| → MAD;
    *   3. med+MAD joined back, one conditional counting pass for the
    *      outlier flags — the counts are EXACT given (med, mad).
    *
    * Only med/MAD carry the sketch's ≈1/k rank error; SketchScaleSpec
    * pins the ε vs [[madOutliers]] at sf0.1. Same output schema
    * `(groupCol, med, mad, n_outliers, n, outlier_rate)`, but the
    * result STAYS DISTRIBUTED (no localCheckpoint — nothing is cached
    * that must release). Keep the exact operator for oracle surfaces.
    */
  def madOutliersSketch(df: DataFrame, groupCol: String, valCol: String,
                        cut: Double = 3.0, k: Int = 4096): DataFrame = {
    val base = df.filter(col(valCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valCol).cast("double").as("v"))
    def p50(sk: org.apache.spark.sql.Column) = element_at(
      graft.functions.KllQuantiles.kllValuesInterp(sk, Seq(0.5)), 1)
    val med = base.groupBy(col("g"))
      .agg(graft.functions.KllQuantiles.kllSketch(col("v"), k).as("__sk"))
      .select(col("g"), p50(col("__sk")).as("med"))
    val mad = base.join(med, Seq("g"))
      .groupBy(col("g"))
      .agg(first(col("med")).as("med"),
        graft.functions.KllQuantiles
          .kllSketch(abs(col("v") - col("med")), k).as("__dk"))
      .select(col("g"), col("med"), p50(col("__dk")).as("mad"))
    base.join(mad, Seq("g"))
      .groupBy(col("g").as(groupCol))
      .agg(
        round(first(col("med")), 4).as("med"),
        round(first(col("mad")), 4).as("mad"),
        sum(when(abs(col("v") - col("med")) > lit(cut) * lit(1.4826) * col("mad"),
          1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n"))
      .withColumn("outlier_rate", round(col("n_outliers") / col("n"), 4))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns: the statistic Σ (observed − expected)² / expected over
    * the contingency table, plus degrees of freedom. The cell counts
    * are one partial-aggregated hash agg over the data; marginals and
    * the statistic derive from the |cells|-sized table (broadcast-back
    * joins), so the data is scanned exactly once at any scale.
    */
  def chiSquare(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).cast("double").as("c"))
    val rowM = cells.groupBy("a").agg(sum(col("c")).as("ra"))
    val colM = cells.groupBy("b").agg(sum(col("c")).as("cb"))
    val tot = cells.agg(sum(col("c")).as("t"))
    cells.join(rowM, "a").join(colM, "b").crossJoin(tot)
      .select((col("ra") * col("cb") / col("t")).as("e"), col("c"))
      .agg(round(sum((col("c") - col("e")) * (col("c") - col("e")) / col("e")), 4)
        .as("chi2"))
      .crossJoin(rowM.agg(count(lit(1)).as("nr"))
        .crossJoin(colM.agg(count(lit(1)).as("nc")))
        .select(((col("nr") - 1) * (col("nc") - 1)).as("dof")))
      .select(col("chi2"), col("dof"))
  }

  /** Benford first-digit audit over a positive numeric column — the
    * fabricated-data / unit-mixing smell test (naturally occurring
    * multiplicative quantities follow P(d) = log10(1 + 1/d); keyed-in
    * or unit-mangled values don't). Rows with value < 1 are excluded
    * (their leading digit is scale-dependent).
    *
    * The digit is read from the DECIMAL(18,4) string rendering, NOT
    * from floor(v / 10^floor(log10 v)): libm log10 is not guaranteed
    * exact at powers of ten, and one ulp under 3.0 silently yields
    * "digit 10" — the decimal rendering is engine-portable and exact.
    * One partial-agged count by digit + a broadcast total; expected
    * shares are constants.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val d = df.filter(col(valueCol) >= 1)
      .select(substring(col(valueCol).cast("decimal(18,4)").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
    val tot = broadcast(d.agg(sum(col("cnt")).as("t")))
    d.crossJoin(tot)
      .select(col("digit"), col("cnt"),
        (col("cnt").cast("double") / col("t")).as("share"),
        log10(lit(1.0) + lit(1.0) / col("digit")).as("expected"))
  }
}
