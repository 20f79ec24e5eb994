package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The exact-moment kernel of the experimentation family — the ONE
  * place that knows the 6-dp decimal contract behind the engine's exact
  * CUPED / delta-method algebra (Deng et al., KDD 2013 and 2018):
  *
  *   - every metric value is read as `decimal(18,6)` ([[exact]]). Sums
  *     of those (`decimal(28,6)`) and of their pairwise products
  *     (`decimal(37,12)` summed into `decimal(38,12)`) are EXACT in any
  *     aggregation order, so the moments — and the pinned double
  *     algebra the `*Chain` functions run on them — are the same on
  *     every partitioning, in the stream as in the batch;
  *   - a value that needs MORE than 6 decimal places would be rounded
  *     silently by that cast ([[offGrid]] flags it). The batch pass
  *     counts such rows in the same scan and fails LOUD; the streaming
  *     twins apply the identical rule per value ([[onGrid]]);
  *   - NULL, NaN and ±Infinity are excluded from the counts AND the
  *     sums alike ([[finite]]).
  *
  * [[pass]] is the grouped moment scan every two-sample, multi-arm,
  * segmented, sequential and CUPED readout feeds its driver algebra
  * from. Operators that take WEIGHTED sums (the Poisson bootstrap,
  * Theil) keep their own passes and use [[exact]] / [[offGrid]].
  */
private[graft] object Moments {

  /** The 6-dp exact read of a metric value. */
  def exact(c: Column): Column = c.cast("decimal(18,6)")

  /** True where the value is off the 6-dp grid — where [[exact]] would
    * round it. Spark's double `round` is `BigDecimal.valueOf(v)
    * .setScale(6, HALF_UP)`, the same arithmetic as [[onGrid]]. */
  def offGrid(c: Column): Column =
    c.cast("double") =!= round(c.cast("double"), 6)

  /** Finite-metric row gate: NULL, NaN and ±Infinity are ALL excluded.
    * Non-finite doubles cast to decimal(18,6) as NULL (even under ANSI —
    * verified on Spark 4.1; range overflow still fails loud), so a bare
    * `isNotNull` filter would keep such rows in the counts while the
    * decimal sums silently skipped them — a biased mean with no sentinel
    * firing. One explicit gate keeps n and the sums over the SAME rows
    * and matches the streaming twins' `isFinite` skip. */
  def finite(c: Column): Column =
    c.isNotNull && !isnan(c.cast("double")) &&
      abs(c.cast("double")) =!= lit(Double.PositiveInfinity)

  /** One key's exact moments: `n` rows, `s(i)` = Σvᵢ per value column,
    * and Σvᵢvⱼ for every requested pair (`q(i, j)`, either order). */
  final case class Cell(n: Long, sums: IndexedSeq[BigDecimal],
                        cross: Map[(Int, Int), BigDecimal]) {
    def s(i: Int): BigDecimal = sums(i)
    def q(i: Int, j: Int): BigDecimal = cross.getOrElse((i, j), cross((j, i)))
    /** (n, Σv₀, Σv₀²) — the one-column triple the Welch chains take. */
    def nsq: (Long, BigDecimal, BigDecimal) = (n, s(0), q(0, 0))
  }

  /** The bound on a pass's collect: at most `cells` keys, else the pass
    * fails naming `noun` (e.g. "64 arms"). */
  final case class Cap(cells: Long, noun: String)

  /** ONE partial-aggregated scan of `df`, grouped by `keys`: per key
    * the row count, Σvᵢ for every column of `values`, and Σvᵢvⱼ for
    * every `crossPairs` entry (indices into `values`), all in exact
    * decimals. Rows with a NULL key or a non-finite value in ANY column
    * are dropped first. Fails loud (prefixed with `op`) when any kept
    * value is off the 6-dp grid, and when there are more than
    * `cap.cells` keys (the collect is bounded by `limit`). An empty
    * input gives an empty map: the caller's arm-count guard names it.
    * `key` reads the key columns off the head of each result row.
    */
  def pass[K](df: DataFrame, keys: Seq[Column], values: Seq[Column],
              crossPairs: Seq[(Int, Int)], op: String, cap: Cap)
             (key: Row => K): Map[K, Cell] = {
    val m = values.size
    val offGridAny = values.tail
      .foldLeft(when(offGrid(values.head), 1L))((w, v) => w.when(offGrid(v), 1L))
      .otherwise(0L)
    val aggs = Seq(count(lit(1)).as("__n")) ++
      values.map(v => sum(exact(v))) ++
      crossPairs.map { case (i, j) => sum(exact(values(i)) * exact(values(j))) } :+
      sum(offGridAny)
    val kept = (keys.map(_.isNotNull) ++ values.map(finite)).reduce(_ && _)
    val rows = df.filter(kept)
      .groupBy(keys.zipWithIndex.map { case (k, i) => k.as(s"__k$i") }: _*)
      .agg(aggs.head, aggs.tail: _*)
      .limit(math.min(cap.cells + 1L, Int.MaxValue.toLong).toInt)
      .collect()
    require(rows.length <= cap.cells,
      s"$op: more than ${cap.noun} — the driver fold would not be " +
        "planning-sized; coarsen the key or raise the cap deliberately")
    val nk = keys.size
    requireOnGrid(rows.map(_.getLong(nk + 1 + m + crossPairs.size)).sum, op)
    rows.map { r =>
      def dec(i: Int) = BigDecimal(r.getDecimal(i))
      key(r) -> Cell(r.getLong(nk),
        IndexedSeq.tabulate(m)(i => dec(nk + 1 + i)),
        crossPairs.zipWithIndex.map { case (p, i) => p -> dec(nk + 1 + m + i) }.toMap)
    }.toMap
  }

  /** The batch sentinel's verdict: fails loud (prefixed with `op`)
    * when `nf` values were counted [[offGrid]]. */
  def requireOnGrid(nf: Long, op: String): Unit =
    require(nf == 0L,
      s"$op: $nf value(s) need more than 6 decimal places — the " +
        "decimal(18,6) moments would round them silently; rescale to the " +
        "6-dp grid first")

  /** The streaming face of the contract: the exact 6-dp decimal of a
    * finite `v`, or a loud failure (prefixed with `op`, naming `what`)
    * when `v` is off the grid — the same acceptance as [[offGrid]]. */
  def onGrid(v: Double, op: String, what: => String): BigDecimal = {
    val d = BigDecimal(java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP))
    require(d.toDouble == v,
      s"$op: $what needs more than 6 decimal places — rescale to the " +
        "6-dp grid first (the batch sentinel's streaming face)")
    d
  }
}
