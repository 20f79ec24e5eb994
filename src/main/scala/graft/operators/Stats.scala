package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Moments.{exact, finite, offGrid}

/** Statistical analysis operators: per-group OLS regression, pairwise
  * correlation matrices, and a two-sample Kolmogorov-Smirnov test —
  * the model-the-data half of a profiling suite (distribution drift,
  * linear trend extraction, feature redundancy checks before a
  * training run).
  *
  * Scale notes:
  *   - [[olsByGroup]] and [[corrMatrix]] are single hash-aggregation
  *     passes built from Spark's declarative regr_* / corr aggregates —
  *     map-side partials, no second scan, no windows.
  *   - [[ksTest]] needs a GLOBAL cumulative distribution, which the
  *     naive `Window.orderBy(value)` form serializes through ONE task.
  *     Here the CDF is computed with a bucketed prefix sum: fine-cell
  *     boundaries split the value line into ~`buckets` contiguous
  *     ranges, each bucket cumsums locally (shuffle keyed on bucket
  *     id), and the exact strictly-earlier-bucket offsets come out of
  *     the ONE fine-cell histogram job (see the one-job planning-pass
  *     note below) and broadcast back as a literal frame. Exact
  *     results (bucket imbalance only skews task sizes, never sums),
  *     no single-task scan of the data.
  *
  * EAGER-MATERIALIZATION CONTRACT (bucketed prefix-sum family: ksTest /
  * mannWhitneyU / psi / paretoCurve / equiDepthBins / ntileLead and the
  * quantile probes): these methods run Spark jobs AT CALL TIME (the
  * fine-cell histogram collect, and for the small-output statistics
  * the result itself), and a returned corpus-sized DataFrame re-scans
  * the input at action time. The input must therefore be STABLE
  * between the call and the action — true for the immutable parquet
  * snapshots this engine reads; for a mutable or churning source,
  * `localCheckpoint()` the input first so the frozen offsets and the
  * re-scan see identical data.
  *
  * NULL POLICY: KS / Mann-Whitney / PSI are statistics of OBSERVED
  * values — rows whose value column is NULL are excluded up front
  * (also keeps both engines agnostic to NULLS FIRST/LAST ordering,
  * which differs between Spark and DuckDB).
  */
object Stats {

  /** Per-group simple linear regression y = a·x + b via Spark's
    * declarative regression aggregates (one codegen hash-agg pass):
    * slope, intercept, Pearson r², and the point count per group.
    * Rows where either side is null are excluded (regr_* semantics).
    */
  def olsByGroup(df: DataFrame, groupCol: String, yCol: String,
                 xCol: String): DataFrame = {
    val y = col(yCol).cast("double")
    val x = col(xCol).cast("double")
    df.groupBy(col(groupCol))
      .agg(
        regr_count(y, x).as("n"),
        regr_slope(y, x).as("slope"),
        regr_intercept(y, x).as("intercept"),
        regr_r2(y, x).as("r2"))
  }

  /** Pairwise Pearson correlations for every unordered column pair, in
    * long form `(col_a, col_b, r)` with col_a < col_b. ONE aggregation
    * pass computes all C(n,2) coefficients as separate agg columns;
    * the unpivot to long form runs over the single result row.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix: need at least two columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      corr(col(a).cast("double"), col(b).cast("double")).as(s"${a}__$b")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }
      .mkString(", ")
    wide.selectExpr(
      s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, r)")
  }

  // ---- ONE-JOB planning pass (round 11) -------------------------------
  //
  // The boundary sample and the bucket-totals fold used to be TWO
  // planning jobs (sampled approxQuantile, then a per-bucket collect) —
  // and they were inherently unfusable, because balanced RANGE buckets
  // need a stats pass before totals can be keyed by bucket. The fine-
  // CELL scheme breaks the circularity: `sortable_double_bits(v) >>
  // (64 − CellBits)` is a DATA-INDEPENDENT monotone bucketing of the
  // value line, so ONE hash-aggregation job over the fine cells yields,
  // in a single planning-sized collect (≤ 2^CellBits rows, in practice
  // ≤ occupied cells): the total count, balanced coarse-bucket
  // boundaries (contiguous cell groups), AND each bucket's EXACT
  // offset. Balance degrades only when the data crowds into few cells
  // (values within a ±1.6% relative range share a cell at 18 bits) —
  // task sizing only, never correctness, the approxBounds contract.

  /** Fine-cell granularity: sign + 11 exponent bits + 6 mantissa bits —
    * 64 cells per octave, ≤ 262 144 occupied cells over the full double
    * line (the collect stays planning-sized by construction). */
  private[operators] val CellBits = 18

  /** Fine-cell id of a double column: top [[CellBits]] of the
    * order-preserving bit rendering — monotone in v, so a tie block
    * never straddles cells. Narrow codegen, no shuffle. */
  private[operators] def cellOf(
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftright(graft.functions.SortableDoubleBits.sortable(v), 64 - CellBits)

  /** Greedy coarse-bucket boundaries over the (cell, weight) histogram
    * (sorted by cell): close a bucket once it holds ≥ total/buckets of
    * the weight. A boundary is the first cell OF a bucket, so bucket id
    * = count of boundaries ≤ cell. Empty for degenerate inputs → one
    * bucket (still correct). */
  private[operators] def coarseBoundaries(cells: Array[(Long, Long)],
                                          buckets: Int): Array[Long] = {
    val total = cells.map(_._2).sum
    if (cells.length <= 1 || buckets <= 1 || total <= 0) return Array.empty
    val target = math.max(1L, (total + buckets - 1) / buckets)
    val bs = Array.newBuilder[Long]
    var acc = 0L
    var nB = 1
    cells.foreach { case (cell, w) =>
      if (acc >= target && nB < buckets) { bs += cell; nB += 1; acc = 0L }
      acc += w
    }
    bs.result()
  }

  /** Coarse bucket id of a fine cell: count of boundaries ≤ cell, as
    * ONE native binary search over a referenced `long[]`
    * ([[graft.functions.CellBucket]]). The round-9/10 chained-when sum
    * grew the generated code linearly with the boundary count — ~1k
    * terms crossed the JVM 64 KB method limit and the whole stage
    * SILENTLY fell back to interpreted eval (round-11 verdict item 2;
    * CodegenGuardSpec drives a 1024-bucket plan to pin the fix) — and
    * its left-deep Add chain overflowed the driver stack during
    * Column-to-Expression conversion before codegen even ran. The
    * native form is O(1) generated code at any bucket count. NOT the
    * `aggregate()` higher-order form: a lambda capturing an outer
    * attribute trips a Spark 4.1 binding bug
    * (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) when the bucketed frame
    * feeds a join under certain AQE partition counts — CellBucket
    * captures nothing (the array is a plan-time reference object). */
  private[operators] def bucketOfCell(bounds: Array[Long],
      cellC: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (bounds.isEmpty) lit(0)
    else graft.functions.CellBucket.bucket(cellC, bounds)

  /** Task count for the in-bucket window's explicit-N pin, derived
    * from the histogram's own distinct-value total (scale-adaptive —
    * guide §2.2): enough tasks for ~4k distinct values each, capped at
    * the session's shuffle partitions. A tiny counts frame (e.g. 50
    * distinct integer quantities) keeps 1 task instead of paying 32
    * empty-task launches; a corpus-sized one gets the full width. */
  private def cumPinParts(session: org.apache.spark.sql.SparkSession,
                          ndTotal: Long): Int = {
    val n = session.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(n.toLong, (ndTotal + 4095L) / 4096L)).toInt
  }

  /** The PERSISTED per-distinct-value pair-counts frame `(v, na, nb)`
    * the two-sample family shares (collapses ties BEFORE any ordering,
    * so tie handling is exact and the cumsum input is |distinct
    * values|; NULL values excluded — object scaladoc policy). ONE
    * corpus scan; the caller unpersists. */
  private def pairCounts(df: DataFrame, valueCol: String,
      sampleACond: org.apache.spark.sql.Column): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("v"))
      .agg(sum(when(sampleACond, 1L).otherwise(0L)).as("na"),
        sum(when(sampleACond, 0L).otherwise(1L)).as("nb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Exact global CDF of both samples at every distinct value, via the
    * bucketed prefix sum described in the object scaladoc, over an
    * already-persisted [[pairCounts]] frame. ONE planning job (the
    * fine-cell histogram — fills the cache; boundaries, exact offsets
    * and both sample totals come out of its single collect). Returns
    * (cdf `(v, na, nb, ca, cb)`, n_a, n_b).
    */
  private def pairCdf(counts: DataFrame, buckets: Int)
      : (DataFrame, Long, Long) = {
    val session = counts.sparkSession
    import session.implicits._
    val cc = cellOf(col("v"))
    val hist = counts.groupBy(cc.as("cell"))
      .agg(count(lit(1)).as("nd"), sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val nA = hist.map(_._3).sum
    val nB = hist.map(_._4).sum
    val bounds = coarseBoundaries(hist.map(h => (h._1, h._2)), buckets)
    // explicit-N pin on the window's own bucket clustering — replaces
    // the advisory exchange AQE coalesces to a handful of tasks on this
    // small-byte CPU-heavy frame (guide §2.4/§2.5); N derives from the
    // fold's own distinct-value total (scale-adaptive, 1 task when the
    // frame is tiny); per-bucket cumsums are byte-identical under any
    // partitioning
    val withB = counts.withColumn("b", bucketOfCell(bounds, cc))
      .repartition(cumPinParts(session, hist.map(_._2).sum), col("b"))
    val inBucket = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withB
      .withColumn("la", sum(col("na")).over(inBucket))
      .withColumn("lb", sum(col("nb")).over(inBucket))
    val perBucket = hist.groupBy(h => bounds.count(_ <= h._1))
      .view.mapValues(rs => (rs.map(_._3).sum, rs.map(_._4).sum)).toMap
    var accA = 0L; var accB = 0L
    val offRows = (0 to bounds.length).map { b =>
      val row = (b, accA, accB)
      val (ta, tb) = perBucket.getOrElse(b, (0L, 0L))
      accA += ta; accB += tb
      row
    }
    val cdf = local.join(broadcast(offRows.toDF("b", "oa", "ob")), Seq("b"))
      .select(col("v"), col("na"), col("nb"),
        (col("la") + col("oa")).as("ca"), (col("lb") + col("ob")).as("cb"))
    (cdf, nA, nB)
  }

  /** Two-sample Kolmogorov-Smirnov statistic between the rows where
    * `sampleACond` holds and the rest: D = sup_x |F_A(x) - F_B(x)|,
    * evaluated at every distinct value (where the sup is attained).
    * One row out: (n_a, n_b, d) — a LITERAL frame (the statistic is
    * collected here; two jobs total: histogram + the sup aggregation).
    * The caller rounds for cross-engine comparison; D is a ratio of
    * exact integer counts, and the per-value division shapes match the
    * oracle's exactly.
    */
  def ksTest(df: DataFrame, valueCol: String,
             sampleACond: org.apache.spark.sql.Column,
             buckets: Int = 32): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val counts = pairCounts(df, valueCol, sampleACond)
    val (cdf, nA, nB) = pairCdf(counts, buckets)
    if (nA == 0L && nB == 0L) {
      counts.unpersist()
      return Seq.empty[(Long, Long, Double)].toDF("n_a", "n_b", "d")
    }
    // same division shapes as before the fold fusion: long/long is
    // double TRUE division in Spark — n_a/n_b now ride as literals
    val d = cdf
      .select(abs(col("ca") / lit(nA) - col("cb") / lit(nB)).as("diff"))
      .agg(max(col("diff")).as("d"))
      .head().getDouble(0)
    counts.unpersist()
    Seq((nA, nB, d)).toDF("n_a", "n_b", "d")
  }

  /** Exact type-1 (order-statistic) quantiles with BOUNDED memory —
    * the 100 TB-safe counterpart of Spark's `percentile`, which
    * buffers every group value in one aggregation buffer and cannot
    * survive a hot group. Rank k(p) = ⌈p·n⌉ (IEEE double product on
    * both engines, so the index is deterministic cross-engine even at
    * a representation boundary) and the quantile is the smallest
    * distinct value whose exact cumulative count reaches k — read off
    * the bucketed prefix sum ([[globalCum]]): per-distinct-value
    * counts (one partial-agged shuffle, PERSISTED so the boundary
    * sample, the bucket-total fold, and the rank probe pay ONE corpus
    * scan between them), local cumsums per bucket, planning-sized
    * driver fold of ≤ `buckets` bucket totals. The rank probe
    * broadcasts the |ps|-row rank frame against the distinct-value CDF
    * (one narrow pass, partial-agged MIN) — nothing corpus-sized is
    * ever sorted, buffered, or collected. Returns a LITERAL frame
    * `(p, k, n, value)` (|ps| rows — planning-sized by construction,
    * collected at call time so consumers embed it as a broadcast
    * literal instead of re-deriving the CDF per action); the
    * eager-materialization contract (object scaladoc) applies. NULLs
    * are excluded (observed values only, the [[bucketedCdf]] policy);
    * `ps` must lie in (0, 1]; empty input → empty frame.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
                     buckets: Int = 32): DataFrame = {
    require(ps.nonEmpty, "exactQuantiles: need at least one quantile")
    require(ps.forall(p => p > 0.0 && p <= 1.0),
      s"exactQuantiles: quantiles must be in (0, 1], got $ps")
    val session = df.sparkSession
    import session.implicits._
    val (cum, n, cached) = globalCum(df, valueCol, buckets)
    if (n == 0L) {
      cached.unpersist()
      return Seq.empty[(Double, Long, Long, Double)].toDF("p", "k", "n", "value")
    }
    // rank frame on the driver from the fold's total: k = ⌈p·n⌉ as an
    // IEEE double product — the oracle's expression
    val ranks = ps.map(p =>
      (p, math.max(1L, math.ceil(p * n.toDouble).toLong), n)).toDF("p", "k", "n")
    // rank probe: broadcast-nested-loop against the cached CDF,
    // partial-agged min — linear in |distinct values|, no sort
    val rows = cum.join(broadcast(ranks), col("cum") >= col("k"))
      .groupBy(col("p"), col("k"), col("n"))
      .agg(min(col("v")).as("value"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    cached.unpersist()
    rows.sortBy(_._1).toSeq.toDF("p", "k", "n", "value")
  }

  /** Shared global machinery of the quantile family ([[groupedCum]]'s
    * ungrouped sibling): exact cumulative counts per distinct value.
    * The per-distinct-value counts frame is PERSISTED (MEMORY_AND_DISK
    * — it is |distinct values|-sized, the legitimate intermediate) and
    * returned as the third element for the CALLER to unpersist after
    * its probe action. ONE planning job (the fine-cell histogram —
    * fills the cache, and its single collect yields boundaries, exact
    * per-bucket offsets AND the total count together; see the one-job
    * planning-pass note above), so a whole quantile call is two jobs:
    * histogram + probe. Returns (cum frame `(v double, cum long)`,
    * total observed count, cached counts handle).
    */
  private def globalCum(df: DataFrame, valueCol: String,
                        buckets: Int): (DataFrame, Long, DataFrame) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val session = df.sparkSession
    import session.implicits._
    val v = col(valueCol).cast("double")
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(v.as("v")).agg(count(lit(1)).as("c"))
      .persist(lvl)
    val cc = cellOf(col("v"))
    // THE one planning job: per-cell distinct-value and row totals
    val hist = counts.groupBy(cc.as("cell"))
      .agg(count(lit(1)).as("nd"), sum(col("c")).as("tc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val n = hist.map(_._3).sum
    // boundaries balanced by DISTINCT-value count (the in-bucket window
    // iterates distinct values); offsets folded from the SAME rows
    val bounds = coarseBoundaries(hist.map(h => (h._1, h._2)), buckets)
    // explicit-N pin on the window's bucket clustering (see [[pairCdf]])
    val withB = counts.withColumn("b", bucketOfCell(bounds, cc))
      .repartition(cumPinParts(session, hist.map(_._2).sum), col("b"))
    val inBucket = Window.partitionBy(col("b")).orderBy(col("v"))
    val local = withB.withColumn("lc", sum(col("c")).over(inBucket))
    val perBucket = hist.groupBy(h => bounds.count(_ <= h._1))
      .view.mapValues(_.map(_._3).sum).toMap
    var acc = 0L
    val offRows = (0 to bounds.length).map { b =>
      val row = (b, acc); acc += perBucket.getOrElse(b, 0L); row
    }
    val cum = local.join(broadcast(offRows.toDF("b", "off")), Seq("b"))
      .select(col("v"), (col("lc") + col("off")).as("cum"))
    (cum, n, counts)
  }

  /** Per-group [[exactQuantiles]] — the scale-safe replacement for
    * `percentile(...) GROUP BY g`, whose aggregation buffer holds
    * every value of the hottest group (the 100 TB cliff winsorizedStats
    * documents). Same machinery, partitioned by group: per-(group,
    * distinct value) counts, per-(group, bucket) local cumsums, then a
    * DRIVER fold of the (group, bucket) totals — planning-sized for
    * real grouping keys (languages, sources, flags) and guarded by
    * `maxFoldRows` (fail loud, never a silent giant collect). Rank
    * k = ⌈p·n_g⌉ per group under the same IEEE double product as the
    * oracle. Returns `(groupCol, p, k, n, value)` — the group key is
    * carried as its STRING rendering (the driver fold and the literal
    * rank frame need one concrete type; cast back at the call site if
    * a numeric key must round-trip). NULL values and NULL group keys
    * are both excluded (observed-values policy; cross-engine
    * null-group semantics differ).
    */
  def groupedExactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                            ps: Seq[Double], buckets: Int = 32,
                            maxFoldRows: Long = 1_000_000L): DataFrame = {
    require(ps.nonEmpty, "groupedExactQuantiles: need at least one quantile")
    require(ps.forall(p => p > 0.0 && p <= 1.0),
      s"groupedExactQuantiles: quantiles must be in (0, 1], got $ps")
    val session = df.sparkSession
    import session.implicits._
    val (cum, nByGroup, cached) =
      groupedCum(df, groupCol, valueCol, buckets, maxFoldRows,
        "groupedExactQuantiles")
    if (nByGroup.isEmpty) {
      cached.unpersist()
      return Seq.empty[(String, Double, Long, Long, Double)]
        .toDF(groupCol, "p", "k", "n", "value")
    }
    // per-group rank frame, built on the driver from the same fold:
    // k = ⌈p·n_g⌉ as an IEEE double product — the oracle's expression
    val rankRows = for {
      (g, n) <- nByGroup.toSeq
      p <- ps
    } yield (g, p, math.max(1L, math.ceil(p * n.toDouble).toLong), n)
    val ranks = rankRows.toDF("g", "p", "k", "n")
    val rows = cum.join(broadcast(ranks), Seq("g"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("g"), col("p"), col("k"), col("n"))
      .agg(min(col("v")).as("value"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    cached.unpersist()
    rows.sortBy(r => (r._1, r._2)).toSeq
      .toDF(groupCol, "p", "k", "n", "value")
  }

  /** Shared machinery of the per-group quantile family: exact
    * cumulative counts per (group, distinct value) via the bucketed
    * prefix sum — per-(group, distinct value) counts (one partial-agged
    * shuffle), local cumsums per (group, bucket), and a DRIVER fold of
    * the (group, bucket) totals (planning-sized for real grouping keys,
    * guarded by `maxFoldRows` — fail loud, never a silent giant
    * collect). Returns the cumulative frame `(g string, v double,
    * cum long)` plus each group's total observed count from the SAME
    * fold (no second pass). Group keys carry as their STRING rendering
    * (the fold and the literal rank frames need one concrete type);
    * NULL values and NULL group keys are excluded (observed-values
    * policy; cross-engine null-group semantics differ). The counts
    * frame is PERSISTED ([[globalCum]]'s contract — the boundary
    * sample fills the cache, so the fold and the caller's probe pay
    * ONE corpus scan between them) and returned third for the CALLER
    * to unpersist after its probe action.
    */
  private def groupedCum(df: DataFrame, groupCol: String, valueCol: String,
                         buckets: Int, maxFoldRows: Long, caller: String)
      : (DataFrame, Map[String, Long], DataFrame) = {
    val counts = groupedCounts(df, groupCol, valueCol)
    val (cum, nByGroup) = groupedCumCore(counts, buckets, maxFoldRows, caller)
    (cum, nByGroup, counts)
  }

  /** The PERSISTED unique-(g, v, c) counts frame every grouped-quantile
    * path shares — ONE corpus scan; the caller unpersists. */
  private def groupedCounts(df: DataFrame, groupCol: String,
                            valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[groupedCum]] over an ALREADY-BUILT counts frame `(g string,
    * v double, c long)` with unique (g, v) keys — the seam that lets a
    * derived distribution (e.g. [[Profiling.madOutliers]]'s absolute
    * deviations) reuse the raw pass's |distinct|-sized counts instead
    * of re-scanning the corpus. ONE planning job: the per-(g, cell)
    * histogram collect yields global boundaries (from the cell
    * marginals — one boundary set serves every group, the old
    * approxBounds convention), exact per-(g, bucket) offsets, AND each
    * group's total, guarded by `maxFoldRows` (fail loud, never a
    * silent giant collect).
    */
  private def groupedCumCore(counts: DataFrame, buckets: Int,
                             maxFoldRows: Long, caller: String)
      : (DataFrame, Map[String, Long]) = {
    val session = counts.sparkSession
    import session.implicits._
    val cc = cellOf(col("v"))
    val hist = counts.groupBy(col("g"), cc.as("cell"))
      .agg(count(lit(1)).as("nd"), sum(col("c")).as("tc"))
      .collect()
    require(hist.length <= maxFoldRows,
      s"$caller: ${hist.length} (group, cell) totals exceed " +
        s"maxFoldRows=$maxFoldRows — the grouping key is too fine for the " +
        "driver fold; raise maxFoldRows deliberately, pre-aggregate the " +
        "key, or switch to the mergeable-sketch scale path — " +
        "groupedQuantilesSketch / groupedQuantilesSketchWeighted for " +
        "quantiles, winsorizedStatsSketch / Profiling.madOutliersSketch / " +
        "groupedGiniSketch for the derived statistics — no driver fold " +
        "at any group count, ~1/k rank error")
    val rows = hist.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val marginal = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum)
      .toArray.sortBy(_._1)
    val bounds = coarseBoundaries(marginal, buckets)
    // explicit-N pin on the window's own (g, b) clustering — same
    // rationale as [[globalCum]]: replaces the advisory exchange AQE
    // coalesces to a handful of tasks, parallelizing the in-bucket
    // cumsum and the rank probe that rides it (guide §2.4/§2.5); N
    // derives from the fold's distinct-value total (scale-adaptive)
    val withB = counts.withColumn("b", bucketOfCell(bounds, cc))
      .repartition(cumPinParts(session, rows.map(_._3).sum),
        col("g"), col("b"))
    val inBucket = Window.partitionBy(col("g"), col("b")).orderBy(col("v"))
    val local = withB.withColumn("lc", sum(col("c")).over(inBucket))
    val byGroup = rows.groupBy(_._1)
    val offRows = byGroup.iterator.flatMap { case (g, rs) =>
      val byBucket = rs.groupBy(r => bounds.count(_ <= r._2))
        .view.mapValues(_.map(_._4).sum).toSeq.sortBy(_._1)
      var acc = 0L
      byBucket.map { case (b, tc) => val row = (g, b, acc); acc += tc; row }
    }.toSeq
    val nByGroup = byGroup.map { case (g, rs) => g -> rs.map(_._4).sum }
    val cum =
      if (offRows.isEmpty) local.select(col("g"), col("v"), col("lc").as("cum"))
      else local.join(broadcast(offRows.toDF("g", "b", "off")), Seq("g", "b"))
        .select(col("g"), col("v"), (col("lc") + col("off")).as("cum"))
    (cum, nByGroup.toMap)
  }

  /** Exact INTERPOLATED quantiles with bounded memory — bit-identical
    * to Spark's `percentile` (and therefore to DuckDB `quantile_cont`,
    * the parity x_percentiles pins) WITHOUT its scale cliff: Spark's
    * aggregate buffers every value of the column in ONE aggregation
    * buffer, this form reads TWO order statistics per requested p off
    * the same bucketed prefix-sum CDF as [[exactQuantiles]] and lerps.
    * Replicates the `percentile` arithmetic exactly: 0-based position
    * pos = (n−1)·p (IEEE product), bracketing 1-based ranks
    * k_lo = ⌊pos⌋+1 and k_hi = ⌈pos⌉+1, and the lerp in Spark's own
    * operand order `(higher−pos)·v_lo + (pos−lower)·v_hi` (NOT the
    * algebraically-equal `v_lo + frac·(v_hi−v_lo)`, which can differ
    * in the last ulp). Both ranks probe the CDF in ONE broadcast pass
    * (2·|ps| probe rows, partial-agged MIN) — nothing corpus-sized is
    * sorted, buffered, or collected. Returns a LITERAL frame
    * `(p, n, value)` (|ps| rows, collected at call time — the
    * [[exactQuantiles]] contract: consumers embed the result as a
    * broadcast literal instead of re-deriving the CDF per action, and
    * the persisted counts frame caps the whole call at ONE corpus
    * scan); `ps` in [0, 1]; NULLs excluded (observed-values policy);
    * empty input → empty frame.
    */
  def interpolatedQuantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
                            buckets: Int = 32): DataFrame = {
    require(ps.nonEmpty, "interpolatedQuantiles: need at least one quantile")
    require(ps.forall(p => p >= 0.0 && p <= 1.0),
      s"interpolatedQuantiles: quantiles must be in [0, 1], got $ps")
    val session = df.sparkSession
    import session.implicits._
    val (cum, n, cached) = globalCum(df, valueCol, buckets)
    if (n == 0L) {
      cached.unpersist()
      return Seq.empty[(Double, Long, Double)].toDF("p", "n", "value")
    }
    // bracketing ranks on the driver, in the aggregate's own
    // arithmetic: pos = (n−1)·p as an IEEE product
    val rankRows = ps.map { p =>
      val pos = (n - 1).toDouble * p
      (p, n, pos, math.floor(pos).toLong + 1L, math.ceil(pos).toLong + 1L)
    }
    val probes = rankRows.toDF("p", "n", "pos", "k_lo", "k_hi")
      .select(col("p"), col("n"), col("pos"), col("k_lo"), col("k_hi"),
        explode(array(col("k_lo"), col("k_hi"))).as("k"))
    // rank probe: broadcast-nested-loop against the cached CDF,
    // partial-agged min — linear in |distinct values|, no sort
    val rows = cum.join(broadcast(probes), col("cum") >= col("k"))
      .groupBy(col("p"), col("n"), col("pos"),
        col("k_lo"), col("k_hi"), col("k"))
      .agg(min(col("v")).as("vv"))
      .groupBy(col("p"), col("n"), col("pos"), col("k_lo"), col("k_hi"))
      .agg(min(when(col("k") === col("k_lo"), col("vv"))).as("v_lo"),
        min(when(col("k") === col("k_hi"), col("vv"))).as("v_hi"))
      .select(col("p"), col("n"), interpLerp.as("value"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
    cached.unpersist()
    rows.sortBy(_._1).toSeq.toDF("p", "n", "value")
  }

  /** Spark `percentile`'s exact lerp over the probed bracketing order
    * statistics: `(higher − pos)·v_lo + (pos − lower)·v_hi`, with the
    * integral-position branch returning v_lo directly (matching the
    * aggregate's `higher == lower` branch, which never multiplies). */
  private def interpLerp: org.apache.spark.sql.Column =
    when(col("k_lo") === col("k_hi"), col("v_lo"))
      .otherwise(
        ((col("k_hi") - 1).cast("double") - col("pos")) * col("v_lo") +
          (col("pos") - (col("k_lo") - 1).cast("double")) * col("v_hi"))

  /** Per-group [[interpolatedQuantiles]] — the scale-safe replacement
    * for `percentile(...) GROUP BY g` at its interpolated call sites
    * (winsorize bounds, MAD medians, length-trim percentiles), whose
    * aggregation buffer holds every value of the hottest group. Same
    * machinery as [[groupedExactQuantiles]] (shared [[groupedCum]]):
    * the bracketing ranks come from the driver fold's per-group counts
    * under the SAME IEEE arithmetic as Spark's `percentile`
    * (pos = (n_g−1)·p, lerp in the aggregate's operand order — see
    * [[interpolatedQuantiles]]), and both ranks probe the per-group CDF
    * in one broadcast pass. Returns `(groupCol, p, n, value)` with the
    * group key STRING-rendered (cast back at the call site if a
    * numeric key must round-trip). EAGER-MATERIALIZATION CONTRACT
    * applies (object scaladoc): the driver fold runs at call time.
    */
  def groupedInterpolatedQuantiles(df: DataFrame, groupCol: String,
                                   valueCol: String, ps: Seq[Double],
                                   buckets: Int = 32,
                                   maxFoldRows: Long = 1_000_000L): DataFrame = {
    require(ps.nonEmpty, "groupedInterpolatedQuantiles: need at least one quantile")
    require(ps.forall(p => p >= 0.0 && p <= 1.0),
      s"groupedInterpolatedQuantiles: quantiles must be in [0, 1], got $ps")
    val (cum, nByGroup, cached) =
      groupedCum(df, groupCol, valueCol, buckets, maxFoldRows,
        "groupedInterpolatedQuantiles")
    val out = groupedInterpProbe(cum, nByGroup, ps, groupCol)
    cached.unpersist()
    out
  }

  /** The weighted family's integrality sentinel: the weight column is
    * an integer MULTIPLICITY, and a bare `cast("long")` on a fractional
    * value truncates silently (1.7 → 1 — plausible-but-wrong quantiles,
    * the class the propZTest sentinel eliminated). This checked cast
    * rides the operator's own pass: `w != floor(w)` raises, everything
    * else casts exactly. Distributed and codegen'd (`raise_error`
    * inside a when branch), so it costs one comparison per row and
    * fails loud on the FIRST offending row at any scale.
    */
  private def integralWeight(weightCol: String, op: String): org.apache.spark.sql.Column = {
    val wd = col(weightCol).cast("double")
    when(wd =!= floor(wd),
      raise_error(concat(
        lit(s"$op: fractional weight "), wd.cast("string"),
        lit(" — the long cast would truncate it silently; weights are " +
          "integer multiplicities, pre-round explicitly if that is meant"))))
      .otherwise(col(weightCol))
      .cast("long")
  }

  /** [[groupedInterpolatedQuantiles]] over a PRE-COUNTED frame: rows
    * are `(groupCol, valueCol, weightCol)` where the weight is the
    * positive integer multiplicity of that value in the underlying
    * distribution — the seam that lets a distribution DERIVED from an
    * existing |distinct|-sized counts frame (e.g. absolute deviations
    * from a per-group median) get its exact interpolated quantiles
    * without ever re-scanning the corpus ([[Profiling.madOutliers]]'s
    * shape). Identical arithmetic to the unweighted form on the
    * expanded multiset; NULL values/groups excluded; (group, value)
    * need not be unique (re-aggregated here, a |rows|-sized hash agg).
    * A fractional weight fails loud in the same pass (the integrality
    * sentinel — a bare long cast would truncate it silently).
    */
  def groupedInterpolatedQuantilesWeighted(weighted: DataFrame,
                                           groupCol: String, valueCol: String,
                                           weightCol: String, ps: Seq[Double],
                                           buckets: Int = 32,
                                           maxFoldRows: Long = 1_000_000L): DataFrame = {
    require(ps.nonEmpty,
      "groupedInterpolatedQuantilesWeighted: need at least one quantile")
    require(ps.forall(p => p >= 0.0 && p <= 1.0),
      s"groupedInterpolatedQuantilesWeighted: quantiles must be in [0, 1], got $ps")
    val counts = weighted
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
      .agg(sum(integralWeight(weightCol,
        "groupedInterpolatedQuantilesWeighted")).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cum, nByGroup) = groupedCumCore(counts, buckets, maxFoldRows,
      "groupedInterpolatedQuantilesWeighted")
    val out = groupedInterpProbe(cum, nByGroup, ps, groupCol)
    counts.unpersist()
    out
  }

  /** Per-group quantiles via a MERGEABLE KLL sketch — the beyond-
    * `maxFoldRows` scale path of the grouped-quantile family. The exact
    * operators ([[groupedExactQuantiles]] / [[groupedInterpolatedQuantiles]])
    * fold per-(group, cell) totals on the driver, which is planning-
    * sized only while |groups|·|occupied cells| fits their loud guard;
    * this form is ONE partial-aggregated hash-agg shuffle whose
    * per-group state is an O(k·log n) [[graft.functions.KllBuffer]] —
    * no driver fold, no collect, any number of groups, and the OUTPUT
    * STAYS DISTRIBUTED (|groups|·|ps| rows), so it composes into
    * downstream joins without a driver round-trip.
    *
    * Approximate: rank error ≈ 1/k (QuantileSketchSpec measures it
    * against [[groupedExactQuantiles]] on the sf-series data and pins
    * ε); merge order across shuffle partitions is not fixed, so results
    * are ε-reproducible, not byte-stable — keep the exact operators for
    * oracle surfaces and use this when the fold guard trips. Quantile
    * semantics are the exact-rank form (value at the smallest sketched
    * cumulative weight ≥ ⌈p·n⌉), matching [[groupedExactQuantiles]],
    * not the interpolated lerp. NULL values/groups excluded (observed-
    * values policy). Returns `(groupCol, p, n, value)`.
    */
  def groupedQuantilesSketch(df: DataFrame, groupCol: String,
                             valueCol: String, ps: Seq[Double],
                             k: Int = 256): DataFrame = {
    require(ps.nonEmpty, "groupedQuantilesSketch: need at least one quantile")
    require(ps.forall(p => p > 0.0 && p <= 1.0),
      s"groupedQuantilesSketch: quantiles must be in (0, 1], got $ps")
    val sketch = graft.functions.KllQuantiles.kllQuantiles(col(valueCol), ps, k)
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as(groupCol))
      .agg(count(col(valueCol)).as("n"), sketch.as("__qs"))
      .select(col(groupCol), col("n"),
        posexplode(col("__qs")).as(Seq("__i", "value")))
      // p from the literal ps by position — no float re-derivation
      .withColumn("p",
        element_at(array(ps.map(lit): _*), col("__i").cast("int") + 1))
      .select(col(groupCol), col("p"), col("n"), col("value"))
  }

  /** WEIGHTED [[groupedQuantilesSketch]] — the beyond-`maxFoldRows`
    * scale path of the PRE-COUNTED quantile family: where
    * [[groupedInterpolatedQuantilesWeighted]] (and its dependents
    * winsorizedStats / [[Profiling.madOutliers]] / grouped Gini) folds
    * per-(group, cell) totals on the driver under a loud guard, this is
    * ONE partial-aggregated hash-agg shuffle whose per-group state is an
    * O(k·log W) [[graft.functions.KllBuffer]] — a weight-w row costs
    * popcount(w) ≤ 64 buffer appends
    * ([[graft.functions.KllBuffer.addWeighted]]), never an expansion,
    * so billion-weight rows are fine at any group count.
    *
    * Approximate: rank error ≈ 1/k measured in WEIGHT
    * (QuantileSketchSpec measures it against the expanded multiset's
    * exact ranks on the sf-series data); quantile semantics are the
    * exact-rank form over the expanded multiset (value at the smallest
    * cumulative weight ≥ ⌈p·W⌉) — matching [[groupedExactQuantiles]] on
    * the expansion, not the interpolated lerp, so keep
    * [[groupedInterpolatedQuantilesWeighted]] for oracle surfaces and
    * use this when its fold guard trips. NULL values/groups/weights
    * excluded; negative weights fail loud inside the aggregate, and a
    * FRACTIONAL weight fails loud in the same pass (the integrality
    * sentinel — a bare long cast would truncate 1.7 to 1 and yield
    * plausible-but-wrong quantiles, the [[gini]] silent-truncation
    * hazard class). Returns
    * `(groupCol, p, n, value)` with n = Σ weight (the expanded count).
    */
  def groupedQuantilesSketchWeighted(weighted: DataFrame, groupCol: String,
                                     valueCol: String, weightCol: String,
                                     ps: Seq[Double], k: Int = 256): DataFrame = {
    require(ps.nonEmpty,
      "groupedQuantilesSketchWeighted: need at least one quantile")
    require(ps.forall(p => p > 0.0 && p <= 1.0),
      s"groupedQuantilesSketchWeighted: quantiles must be in (0, 1], got $ps")
    val w = integralWeight(weightCol, "groupedQuantilesSketchWeighted")
    val sketch = graft.functions.KllQuantiles.kllQuantilesWeighted(
      col(valueCol), w, ps, k)
    weighted
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull &&
        w.isNotNull)
      .groupBy(col(groupCol).cast("string").as(groupCol))
      .agg(sum(w).as("n"), sketch.as("__qs"))
      .select(col(groupCol), col("n"),
        posexplode(col("__qs")).as(Seq("__i", "value")))
      .withColumn("p",
        element_at(array(ps.map(lit): _*), col("__i").cast("int") + 1))
      .select(col(groupCol), col("p"), col("n"), col("value"))
  }

  /** The shared rank-bracket probe of the grouped interpolated family:
    * bracketing ranks from the fold's per-group counts (pos = (n−1)·p,
    * the aggregate's IEEE arithmetic), one broadcast probe pass,
    * Spark's own lerp operand order. Returns the collected literal
    * frame `(outGroupName, p, n, value)`. */
  private def groupedInterpProbe(cum: DataFrame, nByGroup: Map[String, Long],
                                 ps: Seq[Double], outGroupName: String): DataFrame = {
    val session = cum.sparkSession
    import session.implicits._
    if (nByGroup.isEmpty)
      return Seq.empty[(String, Double, Long, Double)]
        .toDF(outGroupName, "p", "n", "value")
    // bracketing ranks on the driver from the same fold, in the
    // aggregate's own arithmetic: pos = (n−1)·p as an IEEE product
    val rankRows = for {
      (g, n) <- nByGroup.toSeq
      p <- ps
    } yield {
      val pos = (n - 1).toDouble * p
      (g, p, n, pos, math.floor(pos).toLong + 1L, math.ceil(pos).toLong + 1L)
    }
    val probes = rankRows.toDF("g", "p", "n", "pos", "k_lo", "k_hi")
      .select(col("g"), col("p"), col("n"), col("pos"),
        col("k_lo"), col("k_hi"),
        explode(array(col("k_lo"), col("k_hi"))).as("k"))
    val rows = cum.join(broadcast(probes), Seq("g"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("g"), col("p"), col("n"), col("pos"),
        col("k_lo"), col("k_hi"), col("k"))
      .agg(min(col("v")).as("vv"))
      .groupBy(col("g"), col("p"), col("n"), col("pos"),
        col("k_lo"), col("k_hi"))
      .agg(min(when(col("k") === col("k_lo"), col("vv"))).as("v_lo"),
        min(when(col("k") === col("k_hi"), col("vv"))).as("v_hi"))
      .select(col("g"), col("p"), col("n"), interpLerp.as("value"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
    rows.sortBy(r => (r._1, r._2)).toSeq
      .toDF(outGroupName, "p", "n", "value")
  }

  /** Population Stability Index between the rows where `sampleACond`
    * holds (reference) and the rest (current) — the drift score model
    * monitoring pages on (rule of thumb: <0.1 stable, >0.25 shifted).
    * PSI = Σ_bins (pA − pB)·ln(pA/pB) over `bins` equal-width bins of
    * the pooled [min, max]; Laplace-smoothed bin shares
    * ((c+1)/(n+bins)) keep empty bins finite. One aggregation pass for
    * the bounds, one for the bin counts (both partial-agged); the PSI
    * sum runs over ≤ bins rows. Equal-width (not quantile) bins keep
    * the bin function an exact closed form of (min, max) — replayable
    * bit-for-bit cross-engine, where approx-quantile edges would not
    * be.
    */
  def psi(df: DataFrame, valueCol: String,
          sampleACond: org.apache.spark.sql.Column, bins: Int = 10): DataFrame = {
    require(bins >= 2, "psi: need at least two bins")
    val v = col(valueCol).cast("double")
    // observed values only: floor(null)=null and least(null, bins-1)
    // skips nulls, so an unfiltered NULL would silently land in the top
    // bin and count as an extreme-high value
    val pts = df.filter(col(valueCol).isNotNull).select(v.as("v"),
      when(sampleACond, 1L).otherwise(0L).as("ia"))
      // both the bounds branch and the binning branch read pts: persist
      // so the single collect below scans the corpus once, not twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = broadcast(pts.agg(min(col("v")).as("mn"), max(col("v")).as("mx")))
    val binned = pts.crossJoin(bounds)
      .withColumn("bin",
        when(col("mx") === col("mn"), lit(0)) // degenerate range: one bin
          .otherwise(least(
            floor((col("v") - col("mn")) / ((col("mx") - col("mn")) / bins)),
            lit(bins - 1))).cast("int"))
      .groupBy(col("bin"))
      .agg(sum(col("ia")).as("ca"), sum(lit(1L) - col("ia")).as("cb"))
    // the binned table is ≤ bins rows: collect it once and finish the
    // statistic on the driver (planning-sized, like the prefix-sum
    // offsets) — re-deriving totals as a second Spark aggregation
    // would recompute the whole binning subtree
    val rows = binned.collect()
    pts.unpersist()
    val nA = rows.map(_.getLong(1)).sum
    val nB = rows.map(_.getLong(2)).sum
    // fixed bin order so the float sum is reproducible
    val psiVal = rows.sortBy(_.getInt(0)).map { r =>
      val pa = (r.getLong(1) + 1).toDouble / (nA + bins)
      val pb = (r.getLong(2) + 1).toDouble / (nB + bins)
      (pa - pb) * math.log(pa / pb)
    }.sum
    val session = df.sparkSession
    import session.implicits._
    Seq((nA, nB, psiVal)).toDF("n_a", "n_b", "psi")
  }

  /** Exact Gini coefficient WITHOUT a global sort — the single-number
    * inequality companion of [[pareto]] (corpus length inequality,
    * revenue concentration, per-source dominance). Standard rank form
    * G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over ascending-sorted values —
    * but the rank sum is read off the SAME bucketed prefix-sum CDF as
    * [[exactQuantiles]]: a distinct value v with count c and exclusive
    * prefix p occupies ranks p+1..p+c, so Σ i·x over its tie block is
    * v·c·(2p+c+1)/2 regardless of within-tie order (ties make
    * ROW_NUMBER replays order-independent). Everything integer runs in
    * decimal(38,0) (ANSI: overflow fails LOUD, never wraps); the only
    * float ops are the two final divisions and one subtraction, in a
    * pinned order both engines replay bit-for-bit. One row out:
    * `(n, total, gini)`, gini rounded to 6.
    *
    * Scale shape: one partial-agged per-distinct-value count shuffle
    * (persisted — [[globalCum]]), per-bucket local cumsums, ≤ buckets
    * driver-folded offsets, then ONE |distinct|-sized equi-join +
    * decimal agg. Nothing corpus-sized is sorted, windowed globally,
    * or collected. Values must be non-negative INTEGERS with a
    * positive total (the Lorenz-curve domain the decimal(38,0) rank
    * algebra assumes) — non-negativity, integrality, AND the positive
    * total are all checked in the SAME aggregation pass and fail LOUD:
    * a fractional column (a price, a ratio) would otherwise be
    * silently rounded to decimal(38,0) per value and produce a
    * plausible-but-wrong Gini. For fractional data, rescale to an
    * integer grid first (e.g. `round(col * 100)` for cents) — the
    * Gini of a uniformly rescaled column is identical.
    */
  def gini(df: DataFrame, valueCol: String, buckets: Int = 32): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val (cum, n, cached) = globalCum(df, valueCol, buckets)
    if (n == 0L) {
      cached.unpersist()
      return Seq.empty[(Long, Long, Double)].toDF("n", "total", "gini")
    }
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // cached = (v, c) per distinct value; cum = (v, cum) off the same
    // persisted frame — the join is |distinct|⋈|distinct| on the key
    val row = cum.join(cached, Seq("v"))
      .agg(
        min(col("v")).as("mn"),
        sum(dec(col("v")) * dec(col("c"))).as("t"),
        // Σ v·c·(2p + c + 1) = 2·Σ i·x — kept doubled so the decimal
        // path never divides (decimal division reshapes scale)
        sum(dec(col("v")) * dec(col("c")) *
          (dec(col("cum") - col("c")) * 2 + dec(col("c")) + 1)).as("s2"),
        // integrality sentinel, same pass: the decimal(38,0) casts
        // above ROUND each value — fine on the integer Lorenz domain,
        // a silent wrong answer on fractional data
        sum(when(col("v") =!= floor(col("v")), 1L).otherwise(0L)).as("n_frac"))
      .collect()(0)
    cached.unpersist()
    require(row.getLong(3) == 0L,
      s"gini: ${row.getLong(3)} fractional values in '$valueCol' — the " +
        "decimal(38,0) rank algebra is exact only on integers; rescale to an " +
        "integer grid first (e.g. round(col * 100) for cents — Gini is " +
        "invariant under uniform rescaling)")
    require(row.getDouble(0) >= 0.0,
      s"gini: negative values break the Lorenz domain (min=${row.getDouble(0)})")
    val t = BigInt(row.getDecimal(1).toBigInteger)
    val s2 = BigInt(row.getDecimal(2).toBigInteger)
    require(t > 0, "gini: total must be positive")
    require(t.isValidLong,
      s"gini: total $t exceeds the BIGINT output contract — rescale the value column")
    val nd = n.toDouble
    val g = s2.toDouble / (nd * t.toDouble) - (nd + 1.0) / nd
    Seq((n, t.toLong, BigDecimal(g).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble)).toDF("n", "total", "gini")
  }

  /** Per-group exact Gini — [[gini]]'s grouped sibling (per-source
    * length inequality, per-domain token concentration): the same
    * tie-block rank-sum algebra, with the per-(group, distinct value)
    * cumulative counts coming from [[groupedCumCore]]'s bucketed
    * prefix sum — no per-group sort, no global window, ONE corpus
    * scan. Per group: the decimal(38,0) Lorenz algebra with the same
    * loud guards as the global form (non-negative INTEGER values,
    * positive total — fractional data must be rescaled to an integer
    * grid first). The group key is carried as its STRING rendering
    * (the [[groupedCounts]] contract). Output: one row per group
    * `(groupCol, n, total, gini)`, gini rounded to 6, sorted by group
    * — a collected literal frame, so no cache outlives the call.
    */
  def groupedGini(df: DataFrame, groupCol: String, valueCol: String,
                  buckets: Int = 32, maxFoldRows: Long = 1_000_000L): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val counts = groupedCounts(df, groupCol, valueCol)
    val (cum, nByGroup) = groupedCumCore(counts, buckets, maxFoldRows, "groupedGini")
    if (nByGroup.isEmpty) {
      counts.unpersist()
      return Seq.empty[(String, Long, Long, Double)]
        .toDF(groupCol, "n", "total", "gini")
    }
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // counts = (g, v, c); cum = (g, v, cum) off the same persisted
    // frame — the join is |distinct|⋈|distinct| on (g, v)
    val rows = cum.join(counts, Seq("g", "v"))
      .groupBy(col("g"))
      .agg(
        min(col("v")).as("mn"),
        sum(dec(col("v")) * dec(col("c"))).as("t"),
        // Σ v·c·(2p + c + 1) = 2·Σ i·x (gini's doubled form — the
        // decimal path never divides)
        sum(dec(col("v")) * dec(col("c")) *
          (dec(col("cum") - col("c")) * 2 + dec(col("c")) + 1)).as("s2"),
        // integrality sentinel, same pass (gini's fractional guard)
        sum(when(col("v") =!= floor(col("v")), 1L).otherwise(0L)).as("n_frac"))
      .collect()
    counts.unpersist()
    val out = rows.map { r =>
      val g = r.getString(0)
      require(r.getLong(4) == 0L,
        s"groupedGini: ${r.getLong(4)} fractional values in '$valueCol' " +
          s"(group '$g') — the decimal(38,0) rank algebra is exact only on " +
          "integers; rescale to an integer grid first (e.g. round(col * 100))")
      require(r.getDouble(1) >= 0.0,
        s"groupedGini: negative values break the Lorenz domain " +
          s"(group '$g', min=${r.getDouble(1)})")
      val t = BigInt(r.getDecimal(2).toBigInteger)
      val s2 = BigInt(r.getDecimal(3).toBigInteger)
      require(t > 0, s"groupedGini: total must be positive (group '$g')")
      require(t.isValidLong,
        s"groupedGini: total $t (group '$g') exceeds the BIGINT output " +
          "contract — rescale the value column")
      val n = nByGroup(g)
      val nd = n.toDouble
      // the SAME pinned IEEE order as gini: double(s2)/(n·t) − (n+1)/n
      val gv = s2.toDouble / (nd * t.toDouble) - (nd + 1.0) / nd
      (g, n, t.toLong,
        BigDecimal(gv).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1).toSeq
    out.toDF(groupCol, "n", "total", "gini")
  }

  /** Sketch-backed [[groupedGini]] — the beyond-`maxFoldRows` scale
    * path: ONE corpus pass builds a per-group KLL sketch (plus n, Σv,
    * min in the SAME hash agg), then the Gini reads off the sketch's
    * quantile function by midpoint quadrature of the Lorenz identity
    *
    *   G = 2·∫₀¹ Q(p)·p dp / ∫₀¹ Q(p) dp − 1
    *
    * over a `grid`-point INTERPOLATED read (p_i = (i−½)/grid — the
    * continuous form of the exact operator's rank-sum algebra; for the
    * uniform distribution both give exactly 1/3). Error is
    * O(1/grid + 1/k) — SketchScaleSpec pins the ε vs [[groupedGini]]
    * at sf0.1. No driver fold at any group count, no integrality
    * requirement (the quantile path never needs the decimal(38,0) rank
    * algebra), and the output STAYS DISTRIBUTED. Lorenz-domain guards
    * stay loud but DISTRIBUTED (`raise_error` on a negative min or
    * non-positive total — the exact operator's guards without its
    * collect). `total` is the exact decimal Σv as a double (the exact
    * operator's long contract needs the integer grid this path drops).
    * Keep [[groupedGini]] for oracle surfaces.
    */
  def groupedGiniSketch(df: DataFrame, groupCol: String, valueCol: String,
                        k: Int = 4096, grid: Int = 1024): DataFrame = {
    require(grid >= 16, s"groupedGiniSketch: grid must be >= 16, got $grid")
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
    val agg = base.groupBy(col("g"))
      .agg(graft.functions.KllQuantiles.kllSketch(col("v"), k).as("__sk"),
        count(lit(1)).as("n"),
        min(col("v")).as("__mn"),
        sum(col("v").cast("decimal(38,6)")).as("__t"))
    val ps = (1 to grid).map(i => (i - 0.5) / grid)
    agg
      .select(col("g"), col("n"), col("__mn"), col("__t"),
        posexplode(graft.functions.KllQuantiles
          .kllValuesInterp(col("__sk"), ps)).as(Seq("__i", "__q")))
      .withColumn("__p", (col("__i").cast("double") + 0.5) / grid)
      .groupBy(col("g").as(groupCol))
      .agg(first(col("n")).as("n"),
        first(col("__t")).cast("double").as("total"),
        first(col("__mn")).as("__mn"),
        sum(col("__q") * col("__p")).as("__num"),
        sum(col("__q")).as("__den"))
      .select(col(groupCol), col("n"), col("total"),
        when(col("__mn") < 0, raise_error(concat(
          lit("groupedGiniSketch: negative values break the Lorenz domain " +
            "(group '"), col(groupCol), lit("', min "), col("__mn").cast("string"),
          lit(")"))))
          .when(col("__den") <= 0, raise_error(concat(
            lit("groupedGiniSketch: total must be positive (group '"),
            col(groupCol), lit("')"))))
          .otherwise(round(lit(2.0) * col("__num") / col("__den") - 1.0, 6))
          .as("gini"))
  }

  /** Spearman rank correlation between two numeric columns — Pearson
    * correlation of the MIDRANKS (tie groups ranked at the average of
    * their span, the convention [[mannWhitneyU]] uses), which Spark
    * has no distributed form of: the textbook formulation ranks each
    * column with `RANK() OVER (ORDER BY v)` — two single-task global
    * windows over the corpus.
    *
    * Scale shape: each column's midrank table is |distinct values|-
    * sized, built from the bucketed prefix-sum CDF ([[globalCum]] —
    * one fine-cell planning job per column); the corpus then equi-joins
    * each rank table ON THE VALUE (AQE broadcasts them when small) and
    * one codegen co-moment aggregate finishes (the Pearson division
    * runs on the driver — ANSI-safe). Three column-pruned scans
    * of the 2-column projection, shuffles keyed on values only,
    * nothing corpus-sized cached, collected, or globally windowed.
    * Rows with a NULL in either column are excluded (observed-pairs
    * policy). One row out: `(n, rho)`; rho is NaN for degenerate
    * inputs (n < 2 or a constant column), matching `corr`.
    *
    * Determinism: midranks are exact multiples of 0.5 (tie block of
    * count c at inclusive cum ranks at cum − (c−1)/2), so the
    * co-moments Σr_a·r_b, Σr_a², Σr_b², Σr_a, Σr_b are EXACT decimal
    * sums — order-independent under any shuffle-fetch order, unlike
    * `covar_pop`/`var_pop` whose online partial-state merges are
    * fetch-order-dependent at the last ulp (the one-ulp CI coin-flip
    * this replaced; the [[welchT]]/[[cuped]] moment doctrine). The
    * driver finishes in a pinned double chain on the centered exact
    * integers n·Σab − Σa·Σb etc., so rho is bit-deterministic — and
    * exactly ±1.0 for perfect (anti)monotone inputs, because
    * n·Σab − Σa·Σb = ∓(n·Σa² − (Σa)²) holds exactly in decimal and
    * IEEE sqrt(x·x) == |x|.
    */
  def spearman(df: DataFrame, colA: String, colB: String,
               buckets: Int = 32): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val obs = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .select(col(colA).cast("double").as("a"), col(colB).cast("double").as("b"))
    val (cumA, nA, cachedA) = globalCum(obs, "a", buckets)
    if (nA == 0L) {
      cachedA.unpersist()
      return Seq.empty[(Long, Double)].toDF("n", "rho")
    }
    val (cumB, _, cachedB) = globalCum(obs, "b", buckets)
    // midrank of a tie block (count c, inclusive cum): cum − (c−1)/2 —
    // exact multiples of 0.5, so the rank tables are engine-stable
    def rankTable(cum: DataFrame, counts: DataFrame, out: String) =
      cum.join(counts, Seq("v"))
        .select(col("v").as(out),
          (col("cum").cast("double") - (col("c").cast("double") - 1.0) / 2.0)
            .as(s"r_$out"))
    // EXACT decimal co-moments, divided on the DRIVER: midranks are
    // multiples of 0.5 ≤ n, so decimal(18,1) casts are exact, products
    // are decimal(37,2), and the sums are order-independent integers —
    // bit-deterministic where covar_pop/var_pop's online merges are
    // shuffle-fetch-ordered. A zero variance yields NaN (the documented
    // degenerate contract; corr would raise DIVIDE_BY_ZERO under ANSI).
    def d1(c: org.apache.spark.sql.Column) = c.cast("decimal(18,1)")
    val row = obs
      .join(rankTable(cumA, cachedA, "a"), Seq("a"))
      .join(rankTable(cumB, cachedB, "b"), Seq("b"))
      .agg(sum(d1(col("r_a")) * d1(col("r_b"))).as("sab"),
        sum(d1(col("r_a")) * d1(col("r_a"))).as("saa"),
        sum(d1(col("r_b")) * d1(col("r_b"))).as("sbb"),
        sum(d1(col("r_a"))).as("sa"), sum(d1(col("r_b"))).as("sb"))
      .head()
    cachedA.unpersist(); cachedB.unpersist()
    val rho = {
      val nBig = BigDecimal(nA)
      val sab = BigDecimal(row.getDecimal(0)); val saa = BigDecimal(row.getDecimal(1))
      val sbb = BigDecimal(row.getDecimal(2)); val sa = BigDecimal(row.getDecimal(3))
      val sb = BigDecimal(row.getDecimal(4))
      // centered co-moments as EXACT decimals; only the final divide
      // and sqrt are float — a pinned chain, identical on every run
      val numCov = nBig * sab - sa * sb
      val numVa = nBig * saa - sa * sa
      val numVb = nBig * sbb - sb * sb
      if (numVa.signum == 0 || numVb.signum == 0) Double.NaN
      else numCov.toDouble / math.sqrt(numVa.toDouble * numVb.toDouble)
    }
    Seq((nA, rho)).toDF("n", "rho")
  }

  /** Exact CUME_DIST — the rank/quantile-normalization transform
    * (map every value to its cumulative-distribution position, the
    * feature-scaling and histogram-equalization primitive) WITHOUT the
    * single-task `CUME_DIST() OVER (ORDER BY v)` global window.
    *
    * cume_dist(v) = (# rows ≤ v) / n, read off the same bucketed
    * prefix-sum CDF as [[ksTest]]: per-distinct-value counts, one
    * fine-cell planning job (boundaries + exact offsets + n in a
    * single collect), per-bucket PARTITIONED cumsum windows, then the
    * |distinct|-sized CDF equi-joins back on the value. Returns every
    * input column plus `outCol` (double); rows with a NULL value are
    * excluded (observed-values policy — they have no rank).
    *
    * NOT persisted anywhere: the output is corpus-sized (per-row), so
    * an eager release point does not exist ([[ntileLead]]'s
    * convention) — the histogram job and the caller's action each pay
    * one column-pruned source scan. Eager-materialization contract
    * (object scaladoc) applies.
    */
  def cumeDist(df: DataFrame, valueCol: String, outCol: String = "cume_dist",
               buckets: Int = 32): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val obs = df.filter(col(valueCol).isNotNull)
    val counts = obs.groupBy(col(valueCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cc = cellOf(col("__v"))
    // THE one planning job: per-cell distinct-value and row totals
    val hist = counts.groupBy(cc.as("cell"))
      .agg(count(lit(1)).as("nd"), sum(col("__c")).as("tc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val n = hist.map(_._3).sum
    if (n == 0L) return obs.withColumn(outCol, lit(0.0)).filter(lit(false))
    // boundaries balanced by DISTINCT-value count (the in-bucket
    // window iterates distinct values)
    val bounds = coarseBoundaries(hist.map(h => (h._1, h._2)), buckets)
    val withB = counts.withColumn("__b", bucketOfCell(bounds, cc))
    val inBucket = Window.partitionBy(col("__b")).orderBy(col("__v"))
    val local = withB.withColumn("__lc", sum(col("__c")).over(inBucket))
    val perBucket = hist.groupBy(h => bounds.count(_ <= h._1))
      .view.mapValues(_.map(_._3).sum).toMap
    var acc = 0L
    val offRows = (0 to bounds.length).map { b =>
      val row = (b, acc); acc += perBucket.getOrElse(b, 0L); row
    }
    val cdf = local.join(broadcast(offRows.toDF("__b", "__off")), Seq("__b"))
      .select(col("__v"),
        ((col("__lc") + col("__off")).cast("double") / lit(n.toDouble)).as(outCol))
    obs.join(cdf, obs(valueCol).cast("double") === cdf("__v")).drop("__v")
  }

  /** One-way ANOVA F statistic — does `valueCol`'s mean differ across
    * the levels of `groupCol`? The variance decomposition runs on
    * EXACT per-group moments — ONE [[Moments.pass]] grouped by the
    * group's string rendering (count, Σv, Σv²; at most
    * [[anovaMaxGroups]] groups, fail loud) — and the |groups|-row
    * driver fold finishes the double algebra in a pinned group-sorted
    * order. One row out: `(k, n, ss_between, ss_within, f)`; NULL
    * groups and NULL/NaN/±Inf values excluded. Requires ≥2 groups and
    * n > k (a positive within-group degrees-of-freedom), fail loud.
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val rows = Moments.pass(df, Seq(col(groupCol).cast("string")),
        Seq(col(valueCol)), Seq((0, 0)), "anovaF",
        Moments.Cap(anovaMaxGroups, s"$anovaMaxGroups groups"))(_.getString(0))
      .toSeq.sortBy(_._1)
    val k = rows.length
    val n = rows.map(_._2.n).sum
    require(k >= 2, s"anovaF: need >= 2 groups, got $k")
    require(n > k, s"anovaF: need n > k for within-group df (n=$n, k=$k)")
    val s = rows.map(_._2.s(0)).sum // exact grand sums
    val q = rows.map(_._2.q(0, 0)).sum
    // pinned group-sorted fold — the only float summation in the op
    val sumSg2 = rows.foldLeft(0.0) { case (a, (_, m)) =>
      a + m.s(0).toDouble * m.s(0).toDouble / m.n.toDouble
    }
    val ssb = sumSg2 - s.toDouble * s.toDouble / n.toDouble
    val ssw = q.toDouble - sumSg2
    val f = (ssb / (k - 1).toDouble) / (ssw / (n - k).toDouble)
    Seq((k.toLong, n, ssb, ssw, f)).toDF("k", "n", "ss_between", "ss_within", "f")
  }

  /** [[anovaF]]'s bound on the groups its driver fold collects (the
    * `maxFoldRows` default of the grouped family). */
  private val anovaMaxGroups = 1_000_000L

  /** The two-sample moment pass shared by the welchT family
    * ([[welchT]], [[powerMde]], [[msprt]], [[msprtCI]]): per sample
    * (n, Σv, Σv²) from ONE [[Moments.pass]] grouped by the 0/1
    * indicator. A NULL condition row is sample B (the pairCounts
    * convention). Fails loud (prefixed with `op`) on an arm under 2
    * rows — an empty input included. */
  private def twoSampleMoments(df: DataFrame, valueCol: String,
      sampleACond: org.apache.spark.sql.Column, op: String)
      : (Long, BigDecimal, BigDecimal, Long, BigDecimal, BigDecimal) = {
    val arms = Moments.pass(df, Seq(when(sampleACond, 1L).otherwise(0L)),
      Seq(col(valueCol)), Seq((0, 0)), op, Moments.Cap(2, "2 arms"))(_.getLong(0))
    val none = (0L, BigDecimal(0), BigDecimal(0))
    val (na, sa, qa) = arms.get(1L).fold(none)(_.nsq)
    val (nb, sb, qb) = arms.get(0L).fold(none)(_.nsq)
    require(na >= 2 && nb >= 2,
      s"$op: both samples need >= 2 rows for a variance (n_a=$na, n_b=$nb)")
    (na, sa, qa, nb, sb, qb)
  }

  /** Welch's two-sample t statistic (unequal variances) between the
    * rows where `sampleACond` holds and the rest — the "did the mean
    * move" companion of [[mannWhitneyU]] (U sees location shift
    * nonparametrically, t sees it in means with a variance model) for
    * A/B metric reads and corpus-slice comparisons. Includes Cohen's d
    * (pooled-SD effect size) so significance and magnitude travel
    * together.
    *
    * Scale shape: ONE [[Moments.pass]] grouped by the sample
    * indicator yields each sample's count, Σv and Σv² in exact
    * decimals, and the driver finishes the double algebra in a pinned
    * order: t = (m_A − m_B)/√(s²_A/n_A + s²_B/n_B), Welch–Satterthwaite
    * df. One row out: `(n_a, n_b, mean_a, mean_b, t, df, cohen_d)` — raw
    * doubles (callers round; both engines replay the identical decimal
    * totals, so the algebra matches to the last ulp). NULL and
    * non-finite values excluded; each sample needs ≥2 rows (a
    * variance), fail loud.
    */
  def welchT(df: DataFrame, valueCol: String,
             sampleACond: org.apache.spark.sql.Column): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val (na, sa, qa, nb, sb, qb) =
      twoSampleMoments(df, valueCol, sampleACond, "welchT")
    val (mA, mB, t, dfW, d) = welchChain(na, sa, qa, nb, sb, qb)
    Seq((na, nb, mA, mB, t, dfW, d))
      .toDF("n_a", "n_b", "mean_a", "mean_b", "t", "df", "cohen_d")
  }

  /** The Welch t double chain — [[welchT]]'s pinned algebra verbatim,
    * factored out (the [[msprtChain]] pattern) so [[welchT]], the
    * multi-arm readout ([[multiArm]]) and the group-sequential monitor
    * ([[groupSequential]]) run ONE implementation: the k = 2 multi-arm
    * case and every sequential look then EQUAL the two-sample test on
    * the same rows bit-for-bit (OperatorsSpec pins the k = 2 case).
    * Returns (mean_a, mean_b, t, df, cohen_d); callers gate n ≥ 2 per
    * arm and non-degenerate variance. */
  private[graft] def welchChain(na: Long, sa: BigDecimal, qa: BigDecimal,
                                nb: Long, sb: BigDecimal, qb: BigDecimal)
      : (Double, Double, Double, Double, Double) = {
    // pinned double algebra — the only float ops in the statistic
    val mA = sa.toDouble / na.toDouble
    val mB = sb.toDouble / nb.toDouble
    val varA = (qa.toDouble - sa.toDouble * sa.toDouble / na.toDouble) / (na - 1).toDouble
    val varB = (qb.toDouble - sb.toDouble * sb.toDouble / nb.toDouble) / (nb - 1).toDouble
    val seA = varA / na.toDouble
    val seB = varB / nb.toDouble
    val t = (mA - mB) / math.sqrt(seA + seB)
    val dfW = (seA + seB) * (seA + seB) /
      (seA * seA / (na - 1).toDouble + seB * seB / (nb - 1).toDouble)
    val sPooled = math.sqrt(
      ((na - 1).toDouble * varA + (nb - 1).toDouble * varB) / (na + nb - 2).toDouble)
    val d = (mA - mB) / sPooled
    (mA, mB, t, dfW, d)
  }

  /** Standard normal upper-tail two-sided p from a z statistic via the
    * Abramowitz–Stegun 7.1.26 erf polynomial (|ε| < 1.5e-7 — far below
    * the 6-dp grid every oracled output rounds to): p = erfc(|z|/√2),
    * Horner-evaluated in a FIXED operation order so the DuckDB oracle
    * replays the identical arithmetic (`exp` may differ in the last
    * ulp across engines — the round(6) output absorbs it, the
    * [[Stats.msprt]] precedent). The normal approximation to the
    * Welch t is the standard experimentation-platform reading at
    * platform sample sizes (df in the thousands); an exact t CDF needs
    * the incomplete beta — outside the pinned-algebra contract.
    */
  private[graft] def zPvalue2(z: Double): Double = {
    val x = math.abs(z) / math.sqrt(2.0)
    val t = 1.0 / (1.0 + 0.3275911 * x)
    val poly = ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t
    poly * math.exp(-x * x)
  }

  /** Multi-arm (A/B/n) experiment readout — the [[welchT]] family
    * generalized past its hard-coded boolean `sampleACond`: one arm
    * column, one designated control, a Welch test per treatment arm
    * against the control, and the Benjamini–Hochberg step-up rule
    * across the k−1 comparisons (the [[bhFdr]] procedure on the
    * planning-sized comparison set — one rule, restated on the driver
    * where m ≤ maxArms−1 makes a distributed CDF a job for nothing).
    *
    * Scale shape: ONE [[Moments.pass]] grouped by arm — per arm
    * (n, Σv, Σv²), ≤ maxArms cells behind a loud bound — then pinned
    * driver algebra: per treatment arm the
    * [[welchChain]] (ONE implementation — the k = 2 case is bit-equal
    * to [[welchT]], OperatorsSpec pins it), two-sided p via
    * [[zPvalue2]] (normal approximation, documented there), BH at
    * level q. One row per treatment arm, ordered by arm label:
    * `(arm, n_c, n_t, mean_c, mean_t, diff, t, df, p, significant)` —
    * diff = mean_t − mean_c; `significant` = BH-rejected at q. NULL
    * and non-finite values excluded ([[Moments.finite]]); NULL arms
    * excluded; every arm (control included) needs ≥ `minN` rows, fail loud.
    *
    * NORMAL-APPROXIMATION VALIDITY (ADVICE r16): [[zPvalue2]] reads
    * the Welch t against the NORMAL CDF — exact only as df → ∞. At
    * platform sample sizes (df in the thousands) the error is
    * negligible; below df ≈ 30 the normal p can be off by orders of
    * magnitude and BH rejections inherit the error. The per-arm `df`
    * column is emitted precisely so callers can see when p is
    * approximation-dominated (treat df < 30 as a warning threshold);
    * `minN` (default 2 — the bare variance-exists bound, kept for
    * back-compat) is the overridable guard to raise (e.g. to 30) when
    * thin arms must fail loud instead.
    */
  def multiArm(df: DataFrame, valueCol: String, armCol: String,
               controlArm: String, q: Double = 0.05,
               maxArms: Int = 64, minN: Long = 2L): DataFrame = {
    require(q > 0.0 && q < 1.0, s"multiArm: q must be in (0, 1), got $q")
    require(maxArms >= 2, s"multiArm: maxArms must be >= 2, got $maxArms")
    require(minN >= 2L, s"multiArm: minN must be >= 2 (a variance needs " +
      s"two rows), got $minN")
    val session = df.sparkSession
    import session.implicits._
    val byArm = Moments.pass(df, Seq(col(armCol).cast("string")),
        Seq(col(valueCol)), Seq((0, 0)), "multiArm",
        Moments.Cap(maxArms, s"$maxArms arms"))(_.getString(0))
      .map { case (arm, m) => arm -> m.nsq }
    require(byArm.nonEmpty, "multiArm: no rows with a non-NULL finite " +
      "value and a non-NULL arm")
    multiArmChain(byArm, controlArm, q, minN) match {
      case Left(msg) =>
        throw new IllegalArgumentException(s"requirement failed: multiArm: $msg")
      case Right(rows) =>
        rows.toDF("arm", "n_c", "n_t", "mean_c", "mean_t", "diff", "t",
          "df", "p", "significant")
    }
  }

  /** The BH step-up threshold ([[bhFdr]]'s rule on a planning-sized
    * driver list — largest i with p_(i) ≤ q·i/m; a tie block is
    * governed by its largest index, exactly as the CDF form resolves
    * it): ONE implementation shared by [[multiArm]],
    * [[welchTByGroup]], [[bootstrapQuantileDiffBySegment]] and the
    * streaming monitor ([[graft.streaming.TwsMultiArm]]). Returns the
    * rejection threshold (None when nothing rejects); reject every
    * p ≤ threshold. */
  private[graft] def bhThreshold(ps: Seq[Double], q: Double): Option[Double] = {
    val m = ps.length
    ps.sorted.zipWithIndex
      .filter { case (p, i) => p <= q * (i + 1).toDouble / m.toDouble }
      .map(_._1).lastOption
  }

  /** [[multiArm]]'s driver algebra factored out (the msprtChain /
    * postStratChain pattern) so the batch readout and the streaming
    * monitor ([[graft.streaming.TwsMultiArm]]) run ONE implementation
    * and the stream after any prefix EQUALS the batch on the same
    * rows bit-for-bit. Input: exact decimal (n, Σv, Σv²) per arm.
    * Left = the states the batch operator fails loud on and a stream
    * mid-fill treats as silence (missing/thin control, no treatment
    * arms, a thin arm, degenerate variance). Right = one tuple per
    * treatment arm, sorted by arm label:
    * (arm, n_c, n_t, mean_c, mean_t, diff, t, df, p, significant). */
  private[graft] def multiArmChain(
      byArm: Map[String, (Long, BigDecimal, BigDecimal)],
      controlArm: String, q: Double, minN: Long)
      : Either[String, Seq[(String, Long, Long, Double, Double, Double,
        Double, Double, Double, Boolean)]] = {
    if (!byArm.contains(controlArm))
      return Left(s"control arm '$controlArm' has no rows (arms present: " +
        s"${byArm.keys.toSeq.sorted.mkString(", ")})")
    val (nc, sc, qc) = byArm(controlArm)
    if (nc < minN) return Left(s"control arm needs >= $minN rows (n=$nc)")
    val treats = byArm.keys.filter(_ != controlArm).toSeq.sorted
    if (treats.isEmpty)
      return Left("need at least one treatment arm besides the control")
    val tested = Seq.newBuilder[(String, Long, Double, Double, Double,
      Double, Double)]
    for (arm <- treats) {
      val (nt, st, qt) = byArm(arm)
      if (nt < minN) return Left(s"arm '$arm' needs >= $minN rows (n=$nt)")
      // sample A = treatment, sample B = control (diff = m_t − m_c,
      // the welchT A-minus-B convention with the control as B)
      val (mT, mC, t, dfW, _) = welchChain(nt, st, qt, nc, sc, qc)
      if (t.isNaN || t.isInfinite)
        return Left(s"degenerate variance for arm '$arm' vs control — " +
          "the Welch statistic is undefined (constant metric)")
      tested += ((arm, nt, mT, mC, t, dfW, zPvalue2(t)))
    }
    val rows = tested.result()
    val thr = bhThreshold(rows.map(_._7), q)
    Right(rows.map { case (arm, nt, mT, mC, t, dfW, p) =>
      (arm, nc, nt, mC, mT, mT - mC, t, dfW, p, thr.exists(p <= _))
    })
  }

  /** Per-segment treatment effects — the "WHICH segments moved?"
    * readout (heterogeneous-effect slicing: country, platform, cohort):
    * a Welch test per segment against the SAME A/B condition, with the
    * Benjamini–Hochberg step-up across the |segments| comparisons —
    * exactly the one-test-per-slice regime [[bhFdr]]'s scaladoc warns
    * about, packaged so the multiplicity correction cannot be
    * forgotten. The [[multiArm]] shape rotated 90°: there the arms
    * vary and the metric is one test, here the condition is fixed and
    * every segment is one test.
    *
    * Scale shape: ONE [[Moments.pass]] grouped by (segment, arm)
    * (≤ 2·maxGroups cells behind a loud bound), then pinned
    * driver algebra per segment: [[welchChain]] (ONE implementation —
    * each segment's row is bit-equal to [[welchT]] on that slice,
    * spec-pinned), two-sided normal-approximation p ([[zPvalue2]]),
    * BH at level q across the segments. One row per segment, ordered
    * by segment label:
    * `(grp, n_a, n_b, mean_a, mean_b, diff, t, df, p, significant)` —
    * diff = mean_a − mean_b (the [[welchT]] A-minus-B convention).
    * NULL/non-finite values and NULL segments excluded ([[Moments.finite]]);
    * a segment with an arm under `minN` rows fails LOUD naming it (a
    * thin slice is a design problem — coarsen the segmentation, don't
    * let it vanish silently).
    *
    * NORMAL-APPROXIMATION VALIDITY (ADVICE r16): p is the normal read
    * of the Welch t ([[zPvalue2]] — see [[multiArm]]'s note); each
    * segment's `df` column is emitted so callers can see when p is
    * approximation-dominated (df < 30 is the warning threshold), and
    * `minN` (default 2) is the overridable thin-slice guard to raise.
    */
  def welchTByGroup(df: DataFrame, valueCol: String, groupCol: String,
                    sampleACond: org.apache.spark.sql.Column,
                    q: Double = 0.05,
                    maxGroups: Int = 10_000, minN: Long = 2L): DataFrame = {
    require(q > 0.0 && q < 1.0, s"welchTByGroup: q must be in (0, 1), got $q")
    require(maxGroups >= 1,
      s"welchTByGroup: maxGroups must be positive, got $maxGroups")
    require(minN >= 2L, s"welchTByGroup: minN must be >= 2 (a variance " +
      s"needs two rows), got $minN")
    val session = df.sparkSession
    import session.implicits._
    val byCell = Moments.pass(df,
        Seq(col(groupCol).cast("string"), when(sampleACond, 1L).otherwise(0L)),
        Seq(col(valueCol)), Seq((0, 0)), "welchTByGroup",
        Moments.Cap(maxGroups * 2L, s"$maxGroups segments"))(
        r => (r.getString(0), r.getLong(1)))
      .map { case (cell, m) => cell -> m.nsq }
    require(byCell.nonEmpty,
      "welchTByGroup: no rows with a non-NULL finite value and a " +
        "non-NULL segment")
    welchSegmentsChain(byCell, q, minN) match {
      case Left(msg) =>
        throw new IllegalArgumentException(
          s"requirement failed: welchTByGroup: $msg")
      case Right(rows) =>
        rows.toDF("grp", "n_a", "n_b", "mean_a", "mean_b", "diff", "t",
          "df", "p", "significant")
    }
  }

  /** [[welchTByGroup]]'s driver algebra factored out (the
    * multiArmChain pattern) so the batch readout and the streaming
    * monitor ([[graft.streaming.TwsWelchSegments]]) run ONE
    * implementation. Input: exact decimal (n, Σv, Σv²) per
    * (segment, arm-indicator) cell. Left = the states the batch fails
    * loud on and a stream mid-fill treats as silence (a segment with a
    * thin or missing arm, degenerate variance). Right = one tuple per
    * segment, sorted by label:
    * (grp, n_a, n_b, mean_a, mean_b, diff, t, df, p, significant). */
  private[graft] def welchSegmentsChain(
      byCell: Map[(String, Long), (Long, BigDecimal, BigDecimal)],
      q: Double, minN: Long)
      : Either[String, Seq[(String, Long, Long, Double, Double, Double,
        Double, Double, Double, Boolean)]] = {
    val groups = byCell.keysIterator.map(_._1).toSeq.distinct.sorted
    val tested = Seq.newBuilder[(String, Long, Long, Double, Double,
      Double, Double, Double)]
    for (g <- groups) {
      val a = byCell.get((g, 1L))
      val b = byCell.get((g, 0L))
      if (!(a.exists(_._1 >= minN) && b.exists(_._1 >= minN)))
        return Left(s"segment '$g' needs >= $minN rows in EACH arm " +
          s"(n_a=${a.map(_._1).getOrElse(0L)}, " +
          s"n_b=${b.map(_._1).getOrElse(0L)}) — a per-segment Welch " +
          "test is undefined on a thin slice; coarsen the segment key")
      val (na, sa, qa) = a.get
      val (nb, sb, qb) = b.get
      val (mA, mB, t, dfW, _) = welchChain(na, sa, qa, nb, sb, qb)
      if (t.isNaN || t.isInfinite)
        return Left(s"degenerate variance in segment '$g' — the Welch " +
          "statistic is undefined (constant metric)")
      tested += ((g, na, nb, mA, mB, t, dfW, zPvalue2(t)))
    }
    val rows = tested.result()
    // the BH step-up rule across the segments ([[bhThreshold]] — ONE
    // implementation with multiArm / the quantile-segment readout)
    val thr = bhThreshold(rows.map(_._8), q)
    Right(rows.map { case (g, na, nb, mA, mB, t, dfW, p) =>
      (g, na, nb, mA, mB, mA - mB, t, dfW, p, thr.exists(p <= _))
    })
  }

  /** Group-sequential A/B monitoring — the SCHEDULED-looks discipline
    * beside [[msprt]]'s always-valid one (the two industry-standard
    * ways to read an experiment early; Lan & DeMets 1983, O'Brien &
    * Fleming 1979, Pocock 1977): K pre-registered looks, at each look
    * the cumulative Welch z against a spending boundary, stop at the
    * first crossing. Where the mSPRT prices EVERY peek into a mixture
    * martingale, the group-sequential form spends a fixed α across a
    * known schedule — tighter final boundaries when the schedule is
    * actually fixed.
    *
    * Boundary shapes (the caller supplies the base quantile — the
    * [[powerMde]] convention: the engine pins arithmetic, never a
    * normal-CDF inversion):
    *   - `"obf"`: b_k = zAlpha2 / √t_k — the O'Brien–Fleming shape
    *     (hard to cross early, ≈ zAlpha2 at the final look), the
    *     closed-form boundary the Lan–DeMets OBF-like spending
    *     function α*(t) = 2(1 − Φ(z_{α/2}/√t)) tracks; for exact
    *     K-look constants the caller substitutes the published value
    *     for zAlpha2.
    *   - `"pocock"`: b_k = zAlpha2 flat — the Pocock shape; the caller
    *     supplies the K-look Pocock constant (e.g. 2.413 for K = 5,
    *     α = 0.05) in place of the plain quantile.
    *
    * t_k is the pooled-count information fraction n_k / N (the
    * standard practical surrogate when per-unit variance is stable),
    * where N is `plannedTotal` when supplied and the OBSERVED count at
    * the last look otherwise. For LIVE monitoring (a schedule not yet
    * complete) do BOTH: truncate `cutoffs` to the looks that have
    * elapsed — the strict-increase guard below refuses an empty look
    * regardless of plannedTotal, exactly as [[TwsGroupSeq]] folds only
    * its populated look prefix (ADVICE r17) — AND supply
    * `plannedTotal`: without it the default N = n_K makes the latest
    * look read info_frac = 1, and re-running as later looks fill would
    * re-test unchanged data at progressively lower OBF boundaries —
    * anti-conservative (ADVICE r16). The default form is therefore a
    * RETROSPECTIVE read over a complete
    * schedule, enforced by a strict per-look cumulative-count increase
    * (which also catches non-ascending cutoffs, otherwise masked by
    * the first-match bucketing).
    *
    * Scale shape: ONE [[Moments.pass]], grouped by
    * (first-look-containing-the-row, arm) — ≤ 2K cells — then
    * pinned driver algebra: cumulative decimal moments per look (exact
    * — decimal addition is associative), [[welchChain]] per look (ONE
    * implementation with [[welchT]]), boundary, crossing, first-stop.
    * Rows after the last cutoff are EXCLUDED (not yet observed at any
    * look). One row per look:
    * `(look, n_a, n_b, info_frac, z, boundary, crossed, stop_look)` —
    * `stop_look` (the first crossed look, NULL while none) repeats on
    * every row so a single-row read answers "has it stopped?". NULL
    * and non-finite values excluded ([[Moments.finite]]); every look needs ≥ 2
    * cumulative rows per arm, fail loud (a schedule that looks before
    * the test exists is a design error, not a quiet NULL row).
    */
  def groupSequential(df: DataFrame, valueCol: String,
                      sampleACond: org.apache.spark.sql.Column,
                      timeCol: String,
                      cutoffs: Seq[org.apache.spark.sql.Column],
                      zAlpha2: Double = 1.959963984540054,
                      shape: String = "obf",
                      plannedTotal: Option[Long] = None): DataFrame = {
    require(cutoffs.nonEmpty, "groupSequential: need at least one look")
    require(cutoffs.size <= 32,
      s"groupSequential: ${cutoffs.size} looks — the schedule is a " +
        "design constant, not data; 32 is already far past practice")
    require(shape == "obf" || shape == "pocock",
      s"groupSequential: shape must be \"obf\" or \"pocock\", got \"$shape\"")
    require(zAlpha2 > 0.0, s"groupSequential: zAlpha2 must be positive")
    require(plannedTotal.forall(_ >= 4L),
      "groupSequential: plannedTotal must cover >= 2 rows per arm")
    val session = df.sparkSession
    import session.implicits._
    val ts = col(timeCol)
    // first look whose cutoff covers the row (cutoffs ascending — a
    // caller contract; a later-look row can never rejoin an earlier
    // look, so the chained first-match when() IS the bucketing); a NULL
    // time or a row after the last cutoff gets a NULL look and is dropped
    val bucket = cutoffs.zipWithIndex
      .foldLeft(when(lit(false), lit(0))) { case (w, (c, i)) =>
        w.when(ts <= c, lit(i + 1))
      }
    val byCell = Moments.pass(df,
        Seq(bucket, when(sampleACond, 1L).otherwise(0L)),
        Seq(col(valueCol)), Seq((0, 0)), "groupSequential",
        Moments.Cap(2L * cutoffs.size, s"${cutoffs.size} looks"))(
        r => (r.getInt(0), r.getLong(1)))
      .map { case (cell, m) => cell -> m.nsq }
    require(byCell.nonEmpty, "groupSequential: no rows at or before the " +
      "last cutoff with a non-NULL finite value")
    groupSeqChain(byCell, cutoffs.size, zAlpha2, shape, plannedTotal) match {
      case Left(msg) =>
        throw new IllegalArgumentException(
          s"requirement failed: groupSequential: $msg")
      case Right(looks) =>
        looks.toDF("look", "n_a", "n_b", "info_frac", "z", "boundary",
          "crossed", "stop_look")
    }
  }

  /** [[groupSequential]]'s driver algebra factored out (the
    * multiArmChain pattern) so the batch readout and the streaming
    * monitor ([[graft.streaming.TwsGroupSeq]]) run ONE implementation.
    * Input: exact decimal (n, Σv, Σv²) per (look-bucket, arm) cell,
    * the look count to fold, boundary parameters, and the optional
    * planned total. Left = the states the batch operator fails loud on
    * and a stream mid-fill treats as silence (a thin look, an empty
    * look — schedule outran the data or non-ascending cutoffs —
    * degenerate variance, an outrun plan). Right = one tuple per look:
    * (look, n_a, n_b, info_frac, z, boundary, crossed, stop_look). */
  private[graft] def groupSeqChain(
      byCell: Map[(Int, Long), (Long, BigDecimal, BigDecimal)],
      k: Int, zAlpha2: Double, shape: String, plannedTotal: Option[Long])
      : Either[String, Seq[(Int, Long, Long, Double, Double, Double,
        Boolean, Option[Int])]] = {
    // cumulative exact-decimal moments per look, in look order
    var na = 0L; var sa = BigDecimal(0); var qa = BigDecimal(0)
    var nb = 0L; var sb = BigDecimal(0); var qb = BigDecimal(0)
    var prevCum = 0L
    val perLook = Seq.newBuilder[(Int, Long, BigDecimal, BigDecimal,
      Long, BigDecimal, BigDecimal)]
    for (lk <- 1 to k) {
      byCell.get((lk, 1L)).foreach { case (n, s, qd) =>
        na += n; sa += s; qa += qd }
      byCell.get((lk, 0L)).foreach { case (n, s, qd) =>
        nb += n; sb += s; qb += qd }
      if (na < 2 || nb < 2)
        return Left(s"look $lk has n_a=$na, n_b=$nb — every look needs " +
          ">= 2 cumulative rows per arm for a variance; schedule the " +
          "first look after the test exists")
      // per-look cumulative counts must STRICTLY increase (ADVICE r16):
      // an empty look means the schedule has outrun the data — without
      // a planned total, the latest populated look would read
      // info_frac = 1 and the SAME data would be re-tested at
      // progressively lower OBF boundaries across the empty looks
      // (anti-conservative); a non-increase also catches non-ascending
      // cutoffs, which the bucketing CASE otherwise masks silently.
      if (na + nb <= prevCum)
        return Left(s"look $lk added no rows (cumulative n ${na + nb} " +
          s"after ${prevCum}) — either the schedule looks past the " +
          "observed data (for live monitoring, truncate the cutoffs to " +
          "the elapsed looks AND pass plannedTotal to anchor the " +
          "information fraction) or the cutoffs are not ascending")
      prevCum = na + nb
      perLook += ((lk, na, sa, qa, nb, sb, qb))
    }
    val folded = perLook.result()
    // information denominator: the PLANNED final pooled count when
    // supplied (live monitoring — info_frac stays honest before the
    // schedule completes), else the observed count at the last look
    // (retrospective read over a COMPLETE schedule; the strict-increase
    // guard above refuses the anti-conservative in-between state)
    val observedTotal = folded.last._2 + folded.last._5
    plannedTotal.foreach { p =>
      if (p < observedTotal)
        return Left(s"plannedTotal $p < observed pooled count " +
          s"$observedTotal — the schedule has outrun its plan; re-plan " +
          "the looks rather than let info_frac exceed 1")
    }
    val nTotal = plannedTotal.getOrElse(observedTotal).toDouble
    val looks = folded.map { case (lk, la, lsa, lqa, lb, lsb, lqb) =>
      val (_, _, z, _, _) = welchChain(la, lsa, lqa, lb, lsb, lqb)
      if (z.isNaN || z.isInfinite)
        return Left(s"degenerate variance at look $lk — the Welch " +
          "statistic is undefined (constant metric)")
      val frac = (la + lb).toDouble / nTotal
      val boundary =
        if (shape == "obf") zAlpha2 / math.sqrt(frac) else zAlpha2
      (lk, la, lb, frac, z, boundary, math.abs(z) >= boundary)
    }
    val stop = looks.find(_._7).map(_._1)
    Right(looks.map { case (lk, la, lb, frac, z, b, crossed) =>
      (lk, la, lb, frac, z, b, crossed, stop)
    })
  }

  /** Power analysis / minimum-detectable-effect readout — the question
    * every experiment review asks BEFORE arguing about a p-value: "what
    * effect size could this test even see, and how many units does the
    * target effect need?" (standard two-sample normal-approximation
    * power algebra, e.g. Kohavi, Tang & Xu 2020 §17). Two numbers:
    *
    *   MDE_abs   = (z_α + z_β) · √(s²_A/n_A + s²_B/n_B)   — the
    *     smallest absolute lift detectable at the CURRENT sample sizes
    *     (z_α the two-sided significance quantile, z_β the power
    *     quantile — caller-supplied literals, the [[deltaRatioCI]]
    *     convention: the engine pins arithmetic, not a normal-CDF);
    *   n_per_arm = ⌈2·s²_pooled·(z_α + z_β)² / (targetRel·m_B)²⌉ — the
    *     per-arm size the TARGET relative effect needs (m_B = the
    *     control mean, sample B = the [[welchT]] NULL-condition arm).
    *
    * Scale shape: [[welchT]]'s — one [[Moments.pass]], pinned double
    * algebra on the driver. A zero control mean fails loud
    * (the relative target is undefined), as do <2-row arms and zero
    * pooled variance. One row out:
    * `(n_a, n_b, mean_b, mde_abs, mde_rel, n_per_arm)` — raw doubles
    * plus the ceiled long, callers round.
    */
  def powerMde(df: DataFrame, valueCol: String,
               sampleACond: org.apache.spark.sql.Column,
               targetRel: Double = 0.01,
               zAlpha: Double = 1.959963984540054,
               zPower: Double = 0.8416212335729143): DataFrame = {
    require(targetRel > 0.0, s"powerMde: targetRel must be positive, got $targetRel")
    require(zAlpha > 0.0, s"powerMde: zAlpha must be positive, got $zAlpha")
    require(zPower >= 0.0, s"powerMde: zPower must be >= 0, got $zPower")
    val session = df.sparkSession
    import session.implicits._
    val (na, sa, qa, nb, sb, qb) =
      twoSampleMoments(df, valueCol, sampleACond, "powerMde")
    // the welchT double chains verbatim
    val mB = sb.toDouble / nb.toDouble
    val varA = (qa.toDouble - sa.toDouble * sa.toDouble / na.toDouble) / (na - 1).toDouble
    val varB = (qb.toDouble - sb.toDouble * sb.toDouble / nb.toDouble) / (nb - 1).toDouble
    val varP = ((na - 1).toDouble * varA + (nb - 1).toDouble * varB) /
      (na + nb - 2).toDouble
    require(varP > 0.0,
      "powerMde: zero pooled variance — a constant metric has no " +
        "detectable effect size")
    require(mB != 0.0,
      "powerMde: control mean is zero — the relative target (and " +
        "mde_rel) are undefined; use an absolute-effect plan instead")
    val zSum = zAlpha + zPower
    val mdeAbs = zSum * math.sqrt(varA / na.toDouble + varB / nb.toDouble)
    val mdeRel = mdeAbs / mB
    val delta = targetRel * mB
    val nPerArm = math.ceil(2.0 * varP * zSum * zSum / (delta * delta)).toLong
    Seq((na, nb, mB, mdeAbs, mdeRel, nPerArm))
      .toDF("n_a", "n_b", "mean_b", "mde_abs", "mde_rel", "n_per_arm")
  }

  /** Mixture-SPRT always-valid p-value (Johari, Koomen, Pekelis &
    * Walsh, KDD 2017 — "Peeking at A/B Tests: Why it matters, and what
    * to do about it"): the sequential-testing companion of [[welchT]].
    * A fixed-horizon t-test is only valid when read ONCE at a
    * pre-registered n; dashboards are read continuously, and repeated
    * peeking inflates the false-positive rate without bound. The mSPRT
    * wraps the running mean difference in a mixture likelihood ratio
    *
    *   Λ = √(V/(V+τ²)) · exp(θ̂²·τ² / (2·V·(V+τ²)))
    *
    * (normal approximation, mixing variance τ²) whose reciprocal is a
    * p-value valid at EVERY n simultaneously — stop whenever
    * p = min(1, 1/Λ) < α and the type-I error is still controlled.
    *
    * Scale shape: [[welchT]]'s — one [[Moments.pass]] (per sample n,
    * Σv, Σv²), pinned double algebra on the driver: θ̂ = m_A − m_B,
    * V = s²_A/n_A + s²_B/n_B (the Welch variance), then the Λ chain. τ² is the analyst's prior scale on
    * the effect (their platform constant); it tunes power, not
    * validity. One row out:
    * `(n_a, n_b, diff, v, lambda, p, significant)` — raw doubles,
    * callers round; `significant` = p < alpha.
    */
  def msprt(df: DataFrame, valueCol: String,
            sampleACond: org.apache.spark.sql.Column,
            tau2: Double = 1.0, alpha: Double = 0.05): DataFrame = {
    require(tau2 > 0.0, s"msprt: tau2 must be positive, got $tau2")
    require(alpha > 0.0 && alpha < 1.0,
      s"msprt: alpha must be in (0, 1), got $alpha")
    val session = df.sparkSession
    import session.implicits._
    val (na, sa, qa, nb, sb, qb) =
      twoSampleMoments(df, valueCol, sampleACond, "msprt")
    val (diff, vn, lambda, p) = msprtChain(na, sa, qa, nb, sb, qb, tau2)
    require(vn > 0.0,
      "msprt: zero variance in both samples — the normal approximation " +
        "is undefined (constant metric)")
    Seq((na, nb, diff, vn, lambda, p, p < alpha))
      .toDF("n_a", "n_b", "diff", "v", "lambda", "p", "significant")
  }

  /** Always-valid confidence interval — the CI companion of [[msprt]]
    * (Johari, Koomen, Pekelis & Walsh, KDD 2017 §4: the interval is
    * the mSPRT's acceptance region, so it covers θ at level 1−α at
    * EVERY n simultaneously — a dashboard can display it continuously
    * without the fixed-horizon interval's peeking inflation). Closed
    * form by inverting Λ(θ₀) < 1/α:
    *
    *   radius = √( (V·(V+τ²)/τ²) · ln( (V+τ²)/(α²·V) ) )
    *
    * with V the Welch variance of the mean difference. The interval is
    * WIDER than the fixed-horizon z-interval by construction — that is
    * the price of validity under continuous monitoring, and it shrinks
    * toward it as τ² is tuned to the effect scale.
    *
    * Scale shape: [[msprt]]'s exactly — the ONE [[twoSampleMoments]]
    * pass, then pinned driver algebra reusing [[msprtChain]] for the
    * always-valid p (ONE implementation; `significant` = p < alpha ⇔
    * 0 outside the interval, the same test family). One row out:
    * `(n_a, n_b, diff, v, radius, lo, hi, p, significant)` — raw
    * doubles, callers round (ln/exp last-ulp divergence is absorbed by
    * the callers' round(6), the [[msprt]] oracle precedent).
    */
  def msprtCI(df: DataFrame, valueCol: String,
              sampleACond: org.apache.spark.sql.Column,
              tau2: Double = 1.0, alpha: Double = 0.05): DataFrame = {
    require(tau2 > 0.0, s"msprtCI: tau2 must be positive, got $tau2")
    require(alpha > 0.0 && alpha < 1.0,
      s"msprtCI: alpha must be in (0, 1), got $alpha")
    val session = df.sparkSession
    import session.implicits._
    val (na, sa, qa, nb, sb, qb) =
      twoSampleMoments(df, valueCol, sampleACond, "msprtCI")
    val (diff, vn, _, p) = msprtChain(na, sa, qa, nb, sb, qb, tau2)
    require(vn > 0.0,
      "msprtCI: zero variance in both samples — the normal " +
        "approximation is undefined (constant metric)")
    val radius = math.sqrt(vn * (vn + tau2) / tau2 *
      math.log((vn + tau2) / (alpha * alpha * vn)))
    Seq((na, nb, diff, vn, radius, diff - radius, diff + radius, p,
      p < alpha))
      .toDF("n_a", "n_b", "diff", "v", "radius", "lo", "hi", "p",
        "significant")
  }

  /** Multi-arm sample-ratio-mismatch guard — [[srmCheck]] generalized
    * past two arms (the [[multiArm]] companion tripwire): the χ²
    * goodness-of-fit of the observed arm counts against the DESIGN
    * shares, k−1 degrees of freedom. An arm observed in the data but
    * absent from the design fails LOUD (that is a routing bug, not a
    * ratio question); a designed arm with zero rows contributes its
    * full expected count to χ² (exactly the alarm it should be).
    *
    * Scale shape: ONE (arm)-grouped integer-count pass (≤ |design|
    * cells after the loud unknown-arm gate), pinned driver algebra.
    * The alarm threshold is the caller's χ²_{k−1} quantile literal —
    * the [[powerMde]] convention: the engine pins arithmetic, never a
    * CDF inversion. One row per DESIGNED arm, ordered by arm label:
    * `(arm, n, expected, term, chi2, srm)` — `term` the arm's
    * (o−e)²/e contribution; `chi2`/`srm` repeat on every row so a
    * single-row read answers "is the split broken?".
    */
  def srmCheckMulti(df: DataFrame, armCol: String,
                    design: Map[String, Double],
                    threshold: Double): DataFrame = {
    require(design.size >= 2,
      s"srmCheckMulti: need >= 2 designed arms, got ${design.size}")
    require(design.valuesIterator.forall(_ > 0.0),
      "srmCheckMulti: every design share must be positive")
    val shareSum = design.valuesIterator.sum
    require(math.abs(shareSum - 1.0) < 1e-9,
      s"srmCheckMulti: design shares must sum to 1, got $shareSum")
    require(threshold > 0.0, "srmCheckMulti: threshold must be positive")
    val session = df.sparkSession
    import session.implicits._
    // the limit bounds the collect at |design|+2 rows; if the data has
    // MORE arms than that, ANY |design|+2 of them contain >= 2 arms
    // outside the design (pigeonhole), so the unknown-arm gate below
    // still fires — counts are only read on the path where nothing
    // was dropped
    val rows = df.filter(col(armCol).isNotNull)
      .groupBy(col(armCol).cast("string").as("arm"))
      .agg(count(lit(1)).as("n"))
      .limit(design.size + 2)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val unknown = rows.map(_._1).filterNot(design.contains)
    require(unknown.isEmpty,
      s"srmCheckMulti: arm(s) ${unknown.sorted.mkString(", ")} observed " +
        "in the data but absent from the design — that is an assignment " +
        "routing bug, not a ratio mismatch; fix the design map or the " +
        "logging path")
    val byArm = rows.toMap
    val n = byArm.valuesIterator.sum
    require(n > 0L, "srmCheckMulti: no rows with a non-NULL arm")
    val arms = design.keys.toSeq.sorted
    val terms = arms.map { a =>
      val o = byArm.getOrElse(a, 0L).toDouble
      val e = design(a) * n.toDouble
      (a, byArm.getOrElse(a, 0L), e, (o - e) * (o - e) / e)
    }
    // fold in sorted-arm order — the pinned order the oracle replays
    var chi2 = 0.0
    terms.foreach { t => chi2 += t._4 }
    val srm = chi2 > threshold
    terms.map { case (a, o, e, term) => (a, o, e, term, chi2, srm) }
      .toDF("arm", "n", "expected", "term", "chi2", "srm")
  }

  /** The mSPRT Λ/p double chain — the welchT chain verbatim up to V,
    * then the mixture likelihood-ratio algebra — factored out so the
    * batch [[msprt]] and the streaming monitor
    * ([[graft.streaming.TwsMsprt]]) run ONE implementation: the
    * stream's final readout then EQUALS the batch test on the same
    * rows bit-for-bit (exact decimal moments are order-independent;
    * StreamingSpec pins the equality). Returns (diff, v, lambda, p);
    * lambda/p are NaN when v ≤ 0 (degenerate — callers gate or skip).
    */
  private[graft] def msprtChain(na: Long, sa: BigDecimal, qa: BigDecimal,
                                nb: Long, sb: BigDecimal, qb: BigDecimal,
                                tau2: Double): (Double, Double, Double, Double) = {
    val mA = sa.toDouble / na.toDouble
    val mB = sb.toDouble / nb.toDouble
    val varA = (qa.toDouble - sa.toDouble * sa.toDouble / na.toDouble) / (na - 1).toDouble
    val varB = (qb.toDouble - sb.toDouble * sb.toDouble / nb.toDouble) / (nb - 1).toDouble
    val vn = varA / na.toDouble + varB / nb.toDouble
    val diff = mA - mB
    if (vn <= 0.0) (diff, vn, Double.NaN, Double.NaN)
    else {
      val lambda = math.sqrt(vn / (vn + tau2)) *
        math.exp(diff * diff * tau2 / (2.0 * vn * (vn + tau2)))
      val p = math.min(1.0, 1.0 / lambda)
      (diff, vn, lambda, p)
    }
  }

  /** CUPED variance reduction (Deng et al., WSDM 2013 — "Improving the
    * Sensitivity of Online Controlled Experiments by Utilizing
    * Pre-Experiment Data"): adjust metric Y by a correlated covariate X
    * (classically the same metric pre-experiment), Ŷ = Y − θ(X − X̄)
    * with θ = cov(X,Y)/var(X) estimated on the POOLED samples, then
    * read the A−B difference on Ŷ — same expectation as the raw
    * difference (θ(X̄_A − X̄_B) has mean 0 under randomization), but
    * variance shrunk by the factor ρ²(X,Y). The standard sensitivity
    * lever an experimentation platform applies before [[welchT]] calls
    * a metric flat.
    *
    * Scale shape: one [[Moments.pass]] over (Y, X) grouped by the
    * sample indicator — per sample n, ΣY, ΣX, ΣY², ΣX², ΣXY — then
    * pinned double algebra on the driver. One row out:
    * `(n_a, n_b, theta, rho2, diff_raw, diff_adj, t_adj)` — raw
    * doubles, callers round; rho2 is the fraction of metric variance
    * the covariate removes (the how-much-sensitivity-did-we-buy
    * number), t_adj is Welch's t on the adjusted metric (per-sample
    * adjusted variances var(Y) − 2θcov + θ²var(X)). NULL Y or X
    * excludes the row; a NULL condition row is sample B (the
    * [[welchT]] convention); degenerate var(X) = 0 or var(Y) = 0
    * fails loud (θ / ρ² undefined), as do samples with < 2 rows.
    */
  def cuped(df: DataFrame, metricCol: String, covariateCol: String,
            sampleACond: org.apache.spark.sql.Column): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    // one pass grouped by the 0/1 indicator over (Y, X): each decimal
    // product is evaluated ONCE per row (12 conditional aggregates ran
    // ~2x slower at sf0.1); decimal sums are order-independent
    val arms = Moments.pass(df, Seq(when(sampleACond, 1L).otherwise(0L)),
      Seq(col(metricCol), col(covariateCol)), Seq((0, 0), (1, 1), (1, 0)),
      "cuped", Moments.Cap(2, "2 arms"))(_.getLong(0))
    val zero = BigDecimal(0)
    def side(ia: Long) = arms.get(ia).fold((0L, zero, zero, zero, zero, zero))(
      m => (m.n, m.s(0), m.s(1), m.q(0, 0), m.q(1, 1), m.q(1, 0)))
    val (na, sya, sxa, qya, qxa, pa) = side(1L)
    val (nb, syb, sxb, qyb, qxb, pb) = side(0L)
    val (theta, rho2, diffRaw, diffAdj, tAdj) =
      cupedChain(na, sya, sxa, qya, qxa, pa,
        nb, syb, sxb, qyb, qxb, pb) match {
        case Left(msg) => throw new IllegalArgumentException(
          s"requirement failed: cuped: $msg")
        case Right(r) => r
      }
    Seq((na, nb, theta, rho2, diffRaw, diffAdj, tAdj))
      .toDF("n_a", "n_b", "theta", "rho2", "diff_raw", "diff_adj", "t_adj")
  }

  /** The CUPED double chain shared by the batch [[cuped]] and the
    * streaming snapshot ([[graft.streaming.TwsCuped]]) — ONE
    * implementation (the [[msprtChain]] pattern): pooled exact decimal
    * totals, pinned double algebra, so the stream's readout after any
    * prefix EQUALS the batch operator on the same rows bit-for-bit.
    * `Left(reason)` marks the undefined states (an arm under 2 rows,
    * zero pooled covariate/metric variance) — the batch caller fails
    * LOUD with the reason, the streaming caller stays silent (the
    * [[graft.streaming.TwsMsprt]] policy). Right:
    * (theta, rho2, diff_raw, diff_adj, t_adj). */
  private[graft] def cupedChain(
      na: Long, sya: BigDecimal, sxa: BigDecimal, qya: BigDecimal,
      qxa: BigDecimal, pa: BigDecimal,
      nb: Long, syb: BigDecimal, sxb: BigDecimal, qyb: BigDecimal,
      qxb: BigDecimal, pb: BigDecimal)
      : Either[String, (Double, Double, Double, Double, Double)] = {
    if (na < 2 || nb < 2)
      return Left(s"both samples need >= 2 rows (n_a=$na, n_b=$nb)")
    // pooled exact totals (decimal addition is exact), then pinned
    // double algebra — the ratio shapes the oracle replays verbatim
    val n = na + nb
    val sy = (sya + syb).toDouble; val sx = (sxa + sxb).toDouble
    val qy = (qya + qyb).toDouble; val qx = (qxa + qxb).toDouble
    val pxy = (pa + pb).toDouble
    val nD = n.toDouble
    val covP = (pxy - sx * sy / nD) / (n - 1).toDouble
    val varXP = (qx - sx * sx / nD) / (n - 1).toDouble
    val varYP = (qy - sy * sy / nD) / (n - 1).toDouble
    if (!(varXP > 0.0))
      return Left("covariate has zero pooled variance — theta is " +
        "undefined (a constant covariate cannot reduce anything)")
    if (!(varYP > 0.0))
      return Left("metric has zero pooled variance — rho2 is undefined")
    val theta = covP / varXP
    // rho2 in the θ-form (θ·cov/varY — mathematically covP²/(varXP·varYP),
    // same value class): the chain [[cupedMulti]]'s k=1 case reduces to
    // bit-for-bit, so the two operators agree exactly, not just to an ulp
    val rho2 = theta * covP / varYP
    val mYA = sya.toDouble / na.toDouble; val mYB = syb.toDouble / nb.toDouble
    val mXA = sxa.toDouble / na.toDouble; val mXB = sxb.toDouble / nb.toDouble
    val diffRaw = mYA - mYB
    val diffAdj = diffRaw - theta * (mXA - mXB)
    // per-sample adjusted variances: var(Y − θX) = varY − 2θcov + θ²varX
    def adjVar(nS: Long, syS: BigDecimal, sxS: BigDecimal, qyS: BigDecimal,
               qxS: BigDecimal, pS: BigDecimal): Double = {
      val nd = nS.toDouble
      val covS = (pS.toDouble - sxS.toDouble * syS.toDouble / nd) / (nS - 1).toDouble
      val vxS = (qxS.toDouble - sxS.toDouble * sxS.toDouble / nd) / (nS - 1).toDouble
      val vyS = (qyS.toDouble - syS.toDouble * syS.toDouble / nd) / (nS - 1).toDouble
      vyS - 2.0 * theta * covS + theta * theta * vxS
    }
    val vA = adjVar(na, sya, sxa, qya, qxa, pa)
    val vB = adjVar(nb, syb, sxb, qyb, qxb, pb)
    val tAdj = diffAdj / math.sqrt(vA / na.toDouble + vB / nb.toDouble)
    Right((theta, rho2, diffRaw, diffAdj, tAdj))
  }

  /** Post-stratified A/B difference (Xie & Aurisset, KDD 2016 —
    * "Improving the Sensitivity of Online Controlled Experiments" —
    * §4.2's post-stratification): the CATEGORICAL sibling of [[cuped]].
    * Each arm's mean is re-weighted to the POOLED stratum shares,
    * Ŷ = Σ_s w_s·m_s(arm) with w_s = (n_sA + n_sB)/n — removing the
    * between-stratum component of the randomization noise (country,
    * platform, signup cohort), with Var(Ŷ) = Σ_s w_s²·s²_s/n_s per
    * arm. Same expectation as the raw difference under randomization;
    * variance shrunk by the stratum-explained share.
    *
    * Scale shape: one [[Moments.pass]] over (stratum, arm) cells — n,
    * Σv, Σv² — then a planning-sized driver fold over the ≤ 2·`maxStrata`
    * cells, guarded LOUD at the collect. The fold runs in SORTED stratum
    * order (deterministic); the ≤|strata| double sums are the
    * only float folds (the [[anovaF]] precedent — callers' round(6)
    * absorbs their ordering noise vs an oracle's unordered SUM). Every
    * stratum needs ≥ 2 rows in EACH arm (fails loud naming the
    * stratum — a one-armed stratum has no within-stratum variance and
    * post-stratification is undefined for it; pre-coarsen such
    * strata). Stratum keys carried as their STRING rendering (the
    * grouped-family contract). One row out:
    * `(n_a, n_b, n_strata, diff_raw, diff_strat, se_strat, t_strat)`
    * — raw doubles, callers round.
    */
  def postStratifiedDiff(df: DataFrame, metricCol: String,
                         stratumCol: String,
                         sampleACond: org.apache.spark.sql.Column,
                         maxStrata: Long = 10_000L): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val byCell = Moments.pass(df,
        Seq(col(stratumCol).cast("string"), when(sampleACond, 1L).otherwise(0L)),
        Seq(col(metricCol)), Seq((0, 0)), "postStratifiedDiff",
        Moments.Cap(maxStrata * 2L, s"$maxStrata strata"))(
        r => (r.getString(0), r.getLong(1)))
      .map { case (cell, m) => cell -> m.nsq }
    require(byCell.nonEmpty, "postStratifiedDiff: no rows after the NULL filter")
    val (naTot, nbTot, nStrata, diffRaw, diffStrat, se, tStrat) =
      postStratChain(byCell) match {
        case Left(msg) => throw new IllegalArgumentException(
          s"requirement failed: postStratifiedDiff: $msg")
        case Right(r) => r
      }
    Seq((naTot, nbTot, nStrata, diffRaw, diffStrat, se, tStrat))
      .toDF("n_a", "n_b", "n_strata", "diff_raw", "diff_strat",
        "se_strat", "t_strat")
  }

  /** The post-stratification double chain shared by the batch
    * [[postStratifiedDiff]] and the streaming snapshot
    * ([[graft.streaming.TwsPostStrat]]) — ONE implementation (the
    * [[msprtChain]] pattern), so the stream's readout after any prefix
    * EQUALS the batch operator on the same rows bit-for-bit: the fold
    * runs in SORTED stratum order whatever order the cells arrive in,
    * and the inputs are exact decimal moments. `Left(reason)` marks
    * the undefined states (an arm under 2 rows, a one-armed or
    * thin stratum, zero stratified variance) — the batch caller fails
    * LOUD with the reason, the streaming caller stays silent until the
    * readout is defined (the [[graft.streaming.TwsMsprt]] policy).
    * Right: (n_a, n_b, n_strata, diff_raw, diff_strat, se, t). */
  private[graft] def postStratChain(
      byCell: Map[(String, Long), (Long, BigDecimal, BigDecimal)])
      : Either[String, (Long, Long, Long, Double, Double, Double, Double)] = {
    val strata = byCell.keysIterator.map(_._1).toSeq.distinct.sorted
    // raw (unstratified) means from the exact decimal grand totals
    var naTot = 0L; var nbTot = 0L
    var saTot = BigDecimal(0); var sbTot = BigDecimal(0)
    strata.foreach { s =>
      byCell.get((s, 1L)).foreach { case (n, sv, _) => naTot += n; saTot += sv }
      byCell.get((s, 0L)).foreach { case (n, sv, _) => nbTot += n; sbTot += sv }
    }
    if (naTot < 2 || nbTot < 2)
      return Left(s"both arms need >= 2 rows (n_a=$naTot, n_b=$nbTot)")
    val diffRaw = saTot.toDouble / naTot.toDouble - sbTot.toDouble / nbTot.toDouble
    val nTot = (naTot + nbTot).toDouble
    var yA = 0.0; var yB = 0.0; var vA = 0.0; var vB = 0.0
    val it = strata.iterator
    while (it.hasNext) {
      val s = it.next()
      val a = byCell.get((s, 1L))
      val b = byCell.get((s, 0L))
      if (!(a.exists(_._1 >= 2L) && b.exists(_._1 >= 2L)))
        return Left(s"stratum '$s' needs >= 2 rows in EACH arm " +
          s"(n_a=${a.map(_._1).getOrElse(0L)}, " +
          s"n_b=${b.map(_._1).getOrElse(0L)}) — post-stratification is " +
          "undefined on a one-armed stratum; coarsen the stratum key")
      val (nsa, sva, qva) = a.get
      val (nsb, svb, qvb) = b.get
      val w = (nsa + nsb).toDouble / nTot
      val mA = sva.toDouble / nsa.toDouble
      val mB = svb.toDouble / nsb.toDouble
      val varA = (qva.toDouble - sva.toDouble * sva.toDouble / nsa.toDouble) /
        (nsa - 1).toDouble
      val varB = (qvb.toDouble - svb.toDouble * svb.toDouble / nsb.toDouble) /
        (nsb - 1).toDouble
      yA += w * mA
      yB += w * mB
      vA += w * w * (varA / nsa.toDouble)
      vB += w * w * (varB / nsb.toDouble)
    }
    val diffStrat = yA - yB
    val se = math.sqrt(vA + vB)
    if (!(se > 0.0))
      return Left("zero stratified variance — a constant metric " +
        "within every stratum has no test to run")
    Right((naTot, nbTot, strata.size.toLong, diffRaw, diffStrat, se,
      diffStrat / se))
  }

  /** Multi-covariate CUPED (the CUPAC shape — Deng et al. 2013 §3.2's
    * vector extension, the industry form where the covariate is a
    * pre-experiment feature VECTOR or a model prediction's feature
    * set): Ŷ = Y − θᵀ(X − X̄) with θ solving the k×k pooled
    * normal equations Var(X)·θ = Cov(X, Y) — the variance-optimal
    * linear adjustment; ρ² = θᵀCov(X,Y)/Var(Y) is the variance
    * fraction the vector removes.
    *
    * Scale shape: [[cuped]]'s — one [[Moments.pass]] grouped by the 0/1
    * sample indicator carrying ALL cross moments (n, ΣY, ΣY², and per
    * covariate ΣXᵢ, ΣXᵢY, plus the upper triangle ΣXᵢXⱼ — 3 + 2k +
    * k(k+1)/2 aggregate columns), then pinned double algebra on the
    * driver. The solve is Gaussian elimination WITHOUT pivoting in
    * covariate-declaration order — a
    * fixed deterministic operation sequence an oracle can replay
    * term-for-term (k ≤ 8 keeps it planning-sized AND numerically
    * honest; partial pivoting would be data-dependent and
    * unreplayable). A zero (or negative — Var(X) is SPD when
    * nondegenerate) pivot fails loud naming the covariate: a constant
    * or collinear covariate has no unique θ. With ONE covariate the
    * whole chain — θ = cov/var, ρ², diff_adj, per-sample adjusted
    * variances, t — reduces BIT-FOR-BIT to [[cuped]] (CupedSpec pins
    * the equality). One row per covariate (scalars repeated —
    * SQL-friendly long form, no array columns):
    * `(covariate, theta, n_a, n_b, rho2, diff_raw, diff_adj, t_adj)`.
    */
  def cupedMulti(df: DataFrame, metricCol: String,
                 covariateCols: Seq[String],
                 sampleACond: org.apache.spark.sql.Column): DataFrame = {
    val k = covariateCols.size
    require(k >= 1 && k <= 8,
      s"cupedMulti: need 1..8 covariates (got $k) — the k x k driver " +
        "solve is planning-sized by construction, and unpivoted " +
        "elimination past ~8 columns stops being numerically honest")
    require(covariateCols.distinct.size == k,
      s"cupedMulti: duplicate covariate columns in $covariateCols — a " +
        "repeated column makes the normal equations exactly singular")
    val session = df.sparkSession
    import session.implicits._
    val y = col(metricCol)
    val xs = covariateCols.map(col)
    // spread the moment pass: the k(k+3)/2-column decimal partial agg
    // is the query's whole cost and otherwise runs at the scan's split
    // count (measured 3 tasks × ~860 ms CPU at sf0.1 — guide §2.5);
    // project to the consumed columns first so the exchange carries
    // only (metric, covariates, arm flag). Decimal sums and counts are
    // partition-order-independent, so the moments are byte-identical.
    val pre = graft.core.Tables.spread(df
      .filter(xs.foldLeft(finite(y))((acc, x) => acc && finite(x)))
      .select((metricCol +: covariateCols).distinct.map(col) :+
        when(sampleACond, 1L).otherwise(0L).as("__ia"): _*))
    // value 0 is Y and value i + 1 is Xᵢ: Σ Y², the upper triangle of
    // Σ XᵢXⱼ and Σ XᵢY — 3 + 2k + k(k+1)/2 aggregates in one pass
    val pairs = (0, 0) +: ((for (i <- 1 to k; j <- i to k) yield (i, j)) ++
      (1 to k).map(i => (i, 0)))
    val rows = Moments.pass(pre, Seq(col("__ia")), y +: xs, pairs,
      "cupedMulti", Moments.Cap(2, "2 arms"))(_.getLong(0))
    require(rows.contains(1L) && rows.contains(0L),
      "cupedMulti: both samples need rows after the NULL filter")
    val ma = rows(1L)
    val mb = rows(0L)
    require(ma.n >= 2 && mb.n >= 2,
      s"cupedMulti: both samples need >= 2 rows (n_a=${ma.n}, n_b=${mb.n})")
    // pooled exact totals, then the cuped double chains entry-by-entry
    val n = ma.n + mb.n
    val nD = n.toDouble
    val nm1 = (n - 1).toDouble
    val sy = (ma.s(0) + mb.s(0)).toDouble
    val qy = (ma.q(0, 0) + mb.q(0, 0)).toDouble
    val sx = Array.tabulate(k)(i => (ma.s(i + 1) + mb.s(i + 1)).toDouble)
    val varYP = (qy - sy * sy / nD) / nm1
    require(varYP > 0.0,
      "cupedMulti: metric has zero pooled variance — rho2 is undefined")
    val sxy = Array.tabulate(k) { i =>
      ((ma.q(i + 1, 0) + mb.q(i + 1, 0)).toDouble - sx(i) * sy / nD) / nm1
    }
    val sxx = Array.tabulate(k, k) { (i, j) =>
      ((ma.q(i + 1, j + 1) + mb.q(i + 1, j + 1)).toDouble - sx(i) * sx(j) / nD) / nm1
    }
    // Gaussian elimination, natural order, no pivoting (see scaladoc)
    val a = Array.tabulate(k, k)((i, j) => sxx(i)(j))
    val rhs = sxy.clone()
    for (c <- 0 until k) {
      require(a(c)(c) > 0.0,
        s"cupedMulti: non-positive pivot at covariate " +
          s"'${covariateCols(c)}' — a constant or collinear covariate " +
          "makes the normal equations singular; drop or reorder it")
      for (r <- c + 1 until k) {
        val m = a(r)(c) / a(c)(c)
        for (j <- c until k) a(r)(j) = a(r)(j) - m * a(c)(j)
        rhs(r) = rhs(r) - m * rhs(c)
      }
    }
    val theta = new Array[Double](k)
    for (c <- k - 1 to 0 by -1) {
      var acc = rhs(c)
      for (j <- c + 1 until k) acc = acc - a(c)(j) * theta(j)
      theta(c) = acc / a(c)(c)
    }
    var dot = 0.0
    for (i <- 0 until k) dot += theta(i) * sxy(i)
    val rho2 = dot / varYP
    val mYA = ma.s(0).toDouble / ma.n.toDouble
    val mYB = mb.s(0).toDouble / mb.n.toDouble
    val diffRaw = mYA - mYB
    var adj = 0.0
    for (i <- 0 until k)
      adj += theta(i) * (ma.s(i + 1).toDouble / ma.n.toDouble
        - mb.s(i + 1).toDouble / mb.n.toDouble)
    val diffAdj = diffRaw - adj
    // per-sample var(Y − θᵀX) = varY − 2θᵀcov + θᵀVar(X)θ, each
    // entry in [[cuped]].adjVar's exact chain
    def adjVarOf(s: Moments.Cell): Double = {
      val nd = s.n.toDouble
      val nm = (s.n - 1).toDouble
      val covS = Array.tabulate(k) { i =>
        (s.q(i + 1, 0).toDouble - s.s(i + 1).toDouble * s.s(0).toDouble / nd) / nm
      }
      val vxS = Array.tabulate(k, k) { (i, j) =>
        (s.q(i + 1, j + 1).toDouble - s.s(i + 1).toDouble * s.s(j + 1).toDouble / nd) / nm
      }
      val vyS = (s.q(0, 0).toDouble - s.s(0).toDouble * s.s(0).toDouble / nd) / nm
      var dc = 0.0
      for (i <- 0 until k) dc += theta(i) * covS(i)
      var quad = 0.0
      for (i <- 0 until k; j <- 0 until k)
        quad += theta(i) * theta(j) * vxS(i)(j)
      vyS - 2.0 * dc + quad
    }
    val vA = adjVarOf(ma)
    val vB = adjVarOf(mb)
    val tAdj = diffAdj / math.sqrt(vA / ma.n.toDouble + vB / mb.n.toDouble)
    covariateCols.zipWithIndex.map { case (c, i) =>
      (c, theta(i), ma.n, mb.n, rho2, diffRaw, diffAdj, tAdj)
    }.toDF("covariate", "theta", "n_a", "n_b", "rho2", "diff_raw",
      "diff_adj", "t_adj")
  }

  /** Delta-method CI for a RATIO-metric difference (Deng, Knoblich &
    * Lu, KDD 2018 — "Applying the Delta Method in Metric Analytics"):
    * the A/B readout for metrics like revenue-per-session or
    * clicks-per-view where each ROW is one randomization unit carrying
    * a (numerator y, denominator x) pair and the metric is the ratio
    * of TOTALS R = Σy/Σx — NOT mean(y/x), and not a mean at all, so
    * [[welchT]]'s per-row variance is wrong for it: y and x are
    * correlated within a unit, and the delta method gives
    *
    *   Var(R) ≈ (var(y) − 2R·cov(x,y) + R²·var(x)) / (n·x̄²).
    *
    * Scale shape: [[cuped]]'s — one [[Moments.pass]] grouped by the 0/1
    * sample indicator, per sample n / Σy / Σx / Σy² / Σx² / Σxy,
    * pinned double algebra on the driver. `z` is the normal quantile
    * for the CI half-width, SUPPLIED by the caller (default the two-sided-95% 1.959963984…)
    * — the engine pins arithmetic, not a normal-CDF implementation.
    * NULL condition rows are sample B (the [[welchT]] convention); a
    * zero denominator total fails loud (the ratio is undefined). One
    * row out: `(n_a, n_b, ratio_a, ratio_b, diff, se, ci_lo, ci_hi)`
    * — raw doubles, callers round.
    */
  def deltaRatioCI(df: DataFrame, numCol: String, denCol: String,
                   sampleACond: org.apache.spark.sql.Column,
                   z: Double = 1.959963984540054): DataFrame = {
    require(z > 0.0, s"deltaRatioCI: z must be positive, got $z")
    val session = df.sparkSession
    import session.implicits._
    val rows = Moments.pass(df, Seq(when(sampleACond, 1L).otherwise(0L)),
      Seq(col(numCol), col(denCol)), Seq((0, 0), (1, 1), (1, 0)),
      "deltaRatioCI", Moments.Cap(2, "2 arms"))(_.getLong(0))
    require(rows.contains(1L) && rows.contains(0L),
      "deltaRatioCI: both samples need rows " +
        s"(present: ${rows.keys.toSeq.sorted.mkString(", ")})")
    // per-sample delta-method variance of R = Σy/Σx, pinned chain
    def side(s: Long): (Long, Double, Double) = {
      val m = rows(s)
      val (n, sy, sx, qy, qx, pxy) =
        (m.n, m.s(0), m.s(1), m.q(0, 0), m.q(1, 1), m.q(1, 0))
      require(n >= 2, s"deltaRatioCI: sample ${if (s == 1L) "A" else "B"} " +
        s"needs >= 2 units, got $n")
      require(sx.signum != 0, s"deltaRatioCI: sample " +
        s"${if (s == 1L) "A" else "B"}'s denominator total is zero — " +
        "the ratio metric is undefined")
      val nd = n.toDouble
      val r = sy.toDouble / sx.toDouble
      val mx = sx.toDouble / nd
      val covS = (pxy.toDouble - sx.toDouble * sy.toDouble / nd) / (n - 1).toDouble
      val vx = (qx.toDouble - sx.toDouble * sx.toDouble / nd) / (n - 1).toDouble
      val vy = (qy.toDouble - sy.toDouble * sy.toDouble / nd) / (n - 1).toDouble
      val varR = (vy - 2.0 * r * covS + r * r * vx) / (nd * mx * mx)
      (n, r, varR)
    }
    val (na, ra, va) = side(1L)
    val (nb, rb, vb) = side(0L)
    val diff = ra - rb
    val se = math.sqrt(va + vb)
    Seq((na, nb, ra, rb, diff, se, diff - z * se, diff + z * se))
      .toDF("n_a", "n_b", "ratio_a", "ratio_b", "diff", "se", "ci_lo", "ci_hi")
  }

  /** CUPED for RATIO metrics (Deng, Knoblich & Lu, KDD 2018 §4 — the
    * composition of [[deltaRatioCI]] and [[cuped]]): variance-reduce
    * the ratio-of-totals difference R_A − R_B by a PRE-period
    * (numerator, denominator) covariate pair. Everything runs on the
    * delta-method LINEARIZATIONs — affine maps of the raw columns:
    *
    *   L_i = (y_i − R_p·x_i)/x̄_p,   C_i = (yc_i − Rc_p·xc_i)/x̄c_p
    *
    * with POOLED constants (R_p, x̄_p, Rc_p, x̄c_p — the pre-period is
    * unaffected by treatment, and pooled constants keep θ symmetric);
    * θ = cov(L, C)/var(C) pooled, the adjusted readout is
    * diff_adj = (R_A − R_B) − θ·(C̄_A − C̄_B), and each arm's variance
    * is Var_S(l_S − θC)/n_S where l_S uses the ARM's own (R_S, x̄_S)
    * — the [[deltaRatioCI]] variance with the covariate term removed.
    * Because L and C are affine in the four raw columns, EVERY
    * covariance above expands in raw cross moments — so the whole
    * statistic is one [[Moments.pass]] grouped by the 0/1 indicator
    * carrying the 10 pairwise products of (y, x, yc, xc) plus the four
    * sums and n, then pinned double algebra on the driver.
    *
    * `z` is the caller-supplied normal quantile ([[deltaRatioCI]]'s
    * convention). NULL in ANY of the four columns excludes the row
    * (CUPED needs the covariate on every unit — pre-filter or impute
    * upstream); NULL condition rows are sample B. Zero denominator
    * totals (per arm or pooled, metric or covariate), var(C) = 0 and
    * var(L) = 0 fail loud. One row out:
    * `(n_a, n_b, ratio_a, ratio_b, diff, theta, rho2, diff_adj,
    * se_adj, ci_lo, ci_hi)` — rho2 = θ·cov(L,C)/var(L), the variance
    * fraction the covariate removes from the linearized metric.
    */
  def cupedRatio(df: DataFrame, numCol: String, denCol: String,
                 covNumCol: String, covDenCol: String,
                 sampleACond: org.apache.spark.sql.Column,
                 z: Double = 1.959963984540054): DataFrame = {
    require(z > 0.0, s"cupedRatio: z must be positive, got $z")
    val session = df.sparkSession
    import session.implicits._
    // the four columns' indices in the pass: all 10 pairwise products
    val (y, x, yc, xc) = (0, 1, 2, 3)
    val rows = Moments.pass(df, Seq(when(sampleACond, 1L).otherwise(0L)),
      Seq(numCol, denCol, covNumCol, covDenCol).map(col),
      for (i <- 0 until 4; j <- i until 4) yield (i, j),
      "cupedRatio", Moments.Cap(2, "2 arms"))(_.getLong(0))
    require(rows.contains(1L) && rows.contains(0L),
      "cupedRatio: both samples need rows after the NULL filter")
    val ma = rows(1L)
    val mb = rows(0L)
    require(ma.n >= 2 && mb.n >= 2,
      s"cupedRatio: both samples need >= 2 rows (n_a=${ma.n}, n_b=${mb.n})")
    // pooled exact totals → pooled constants
    val n = ma.n + mb.n
    val nD = n.toDouble
    val nm1 = (n - 1).toDouble
    def sPool(i: Int) = (ma.s(i) + mb.s(i)).toDouble
    def pPool(i: Int, j: Int) = (ma.q(i, j) + mb.q(i, j)).toDouble
    val sxP = sPool(x); val sxcP = sPool(xc)
    require(sxP != 0.0 && sxcP != 0.0,
      "cupedRatio: zero pooled denominator total — the ratio (or its " +
        "covariate) is undefined")
    val rP = sPool(y) / sxP
    val rcP = sPool(yc) / sxcP
    val mxP = sxP / nD
    val mxcP = sxcP / nD
    // pooled covariance of any two of the four columns (n−1 form)
    def covP(i: Int, j: Int): Double =
      (pPool(i, j) - sPool(i) * sPool(j) / nD) / nm1
    // linearization coefficients: L = aL·y + bL·x, C = aC·yc + bC·xc
    val aL = 1.0 / mxP
    val bL = -(rP / mxP)
    val aC = 1.0 / mxcP
    val bC = -(rcP / mxcP)
    val covLC = aL * aC * covP(y, yc) + aL * bC * covP(y, xc) +
      bL * aC * covP(x, yc) + bL * bC * covP(x, xc)
    val varC = aC * aC * covP(yc, yc) + 2.0 * aC * bC * covP(yc, xc) +
      bC * bC * covP(xc, xc)
    val varL = aL * aL * covP(y, y) + 2.0 * aL * bL * covP(y, x) +
      bL * bL * covP(x, x)
    require(varC > 0.0,
      "cupedRatio: covariate linearization has zero pooled variance — " +
        "theta is undefined (a constant covariate cannot reduce anything)")
    require(varL > 0.0,
      "cupedRatio: metric linearization has zero pooled variance — " +
        "rho2 is undefined")
    val theta = covLC / varC
    val rho2 = theta * covLC / varL
    // per-arm readouts
    def arm(m: Moments.Cell): (Double, Double, Double) = {
      val nd = m.n.toDouble
      val nm = (m.n - 1).toDouble
      val sxS = m.s(x).toDouble
      require(sxS != 0.0,
        "cupedRatio: zero denominator total in one arm — the arm ratio " +
          "is undefined")
      val rS = m.s(y).toDouble / sxS
      val mxS = sxS / nd
      def covS(i: Int, j: Int): Double =
        (m.q(i, j).toDouble - m.s(i).toDouble * m.s(j).toDouble / nd) / nm
      val aS = 1.0 / mxS
      val bS = -(rS / mxS)
      val varLS = aS * aS * covS(y, y) + 2.0 * aS * bS * covS(y, x) +
        bS * bS * covS(x, x)
      val covLCS = aS * aC * covS(y, yc) + aS * bC * covS(y, xc) +
        bS * aC * covS(x, yc) + bS * bC * covS(x, xc)
      val varCS = aC * aC * covS(yc, yc) + 2.0 * aC * bC * covS(yc, xc) +
        bC * bC * covS(xc, xc)
      val vS = (varLS - 2.0 * theta * covLCS + theta * theta * varCS) / nd
      // the arm's covariate-linearization mean, with pooled constants
      val cBar = aC * (m.s(yc).toDouble / nd) + bC * (m.s(xc).toDouble / nd)
      (rS, vS, cBar)
    }
    val (ra, va, cA) = arm(ma)
    val (rb, vb, cB) = arm(mb)
    val diff = ra - rb
    val diffAdj = diff - theta * (cA - cB)
    val se = math.sqrt(va + vb)
    Seq((ma.n, mb.n, ra, rb, diff, theta, rho2, diffAdj, se,
      diffAdj - z * se, diffAdj + z * se))
      .toDF("n_a", "n_b", "ratio_a", "ratio_b", "diff", "theta", "rho2",
        "diff_adj", "se_adj", "ci_lo", "ci_hi")
  }

  /** Sample-ratio-mismatch (SRM) guard — the experimentation
    * platform's data-quality tripwire: if units were assigned to A
    * with probability `ratioA` but the OBSERVED split deviates more
    * than chance allows, the experiment's data pipeline is broken
    * (bot filtering, logging loss, redirect bias) and every downstream
    * readout ([[welchT]], [[cuped]], the bootstrap CIs) is invalid.
    * The test is the one-degree-of-freedom chi-square against the
    * expected split, alarmed at p < 0.001 — the industry-standard SRM
    * threshold (χ²₁ 0.999 quantile = 10.827566170662733, a pinned
    * literal: the engine ships arithmetic, not a chi-square CDF).
    *
    * Scale shape: the whole statistic is TWO integer counts from ONE
    * partial-agged pass ([[propZTest]]'s shape), then pinned double
    * algebra on the driver. NULL condition rows are sample B. One row
    * out: `(n_a, n_b, expected_a, expected_b, chi2, srm)` with `srm`
    * the boolean alarm — raw doubles, callers round.
    */
  def srmCheck(df: DataFrame, sampleACond: org.apache.spark.sql.Column,
               ratioA: Double = 0.5,
               threshold: Double = 10.827566170662733): DataFrame = {
    require(ratioA > 0.0 && ratioA < 1.0,
      s"srmCheck: ratioA must be in (0, 1), got $ratioA")
    require(threshold > 0.0, s"srmCheck: threshold must be positive")
    val session = df.sparkSession
    import session.implicits._
    val ia = when(sampleACond, 1L).otherwise(0L)
    val r0 = df.agg(sum(ia).as("na"), sum(lit(1L) - ia).as("nb")).head()
    require(!r0.isNullAt(0), "srmCheck: no rows")
    val na = r0.getLong(0); val nb = r0.getLong(1)
    require(na > 0 && nb > 0,
      s"srmCheck: both arms need rows (n_a=$na, n_b=$nb) — a one-armed " +
        "split is a routing failure, not a ratio mismatch")
    val (ea, eb, chi2) = srmChain(na, nb, ratioA)
    Seq((na, nb, ea, eb, chi2, chi2 > threshold))
      .toDF("n_a", "n_b", "expected_a", "expected_b", "chi2", "srm")
  }

  /** The SRM chi-square chain shared by the batch [[srmCheck]] and the
    * streaming guard ([[graft.streaming.TwsSrm]]) — ONE implementation
    * so the streaming readout EQUALS the batch check on the same rows
    * bit-for-bit. Returns (expected_a, expected_b, chi2); callers gate
    * on both arms being non-empty. */
  private[graft] def srmChain(na: Long, nb: Long,
                              ratioA: Double): (Double, Double, Double) = {
    val n = na + nb
    val ea = ratioA * n.toDouble
    val eb = (1.0 - ratioA) * n.toDouble
    val chi2 = (na.toDouble - ea) * (na.toDouble - ea) / ea +
      (nb.toDouble - eb) * (nb.toDouble - eb) / eb
    (ea, eb, chi2)
  }

  /** The bootstrap family's key-uniqueness sentinel FUSED into the
    * fan-out shuffle: the Poisson weights are a pure hash of `__k`, so
    * duplicate keys share a weight vector and always resample together
    * — an invalid (typically too-narrow) CI with no visible symptom.
    * Instead of a separate countDistinct pre-pass (round 14: a second
    * scan + a distinct-agg action, +55% in-sweep on x_bootstrap) or a
    * persisted frame (a corpus-sized cache at 100 TB), hash-aggregate
    * the filtered frame by `__k` — the SAME corpus shuffle the (B+1)×
    * explode needs to spread its expansion across the cluster,
    * replacing the old round-robin repartition — and fail LOUD in-plan
    * (`raise_error` naming an offending key, the [[groupedGiniSketch]]
    * distributed-guard pattern) when any key holds more than one row.
    * With unique keys min() picks THE row's value, so the output is
    * exactly the input re-hashed by key: one job, one shuffle, no
    * separate sentinel action, no cache. Keys are perfectly uniform by
    * construction (they are unique), so the shuffle cannot skew.
    *
    * Why the shuffle is UNCONDITIONAL (reviewed): on a many-split
    * source one could skip the repartition and sentinel via a separate
    * countDistinct pre-pass — but exact countDistinct shuffles the
    * distinct keys themselves, which for a (by contract) unique key
    * column is the SAME key volume this exchange carries, PLUS a whole
    * second scan of the source for the real pass. The fused form ships
    * the metric value (8–16 bytes/row) alongside keys it must shuffle
    * either way and reads the source once — strictly fewer bytes end
    * to end at any scale, and the explicit width pin protects the
    * (B+1)× explode from AQE's small-exchange collapse regardless of
    * the source's own split count.
    */
  private[graft] def uniqueKeyedFanout(base: DataFrame, op: String): DataFrame = {
    val others = base.columns.filter(_ != "__k").toSeq
    val aggs = count(lit(1)).as("__c") +: others.map(c => min(col(c)).as(c))
    // EXPLICIT hash repartition by key, then the aggregation runs
    // partition-local on top of it (HashPartitioning(__k) satisfies the
    // agg's distribution, so Catalyst adds no second exchange). A bare
    // groupBy's own exchange is AQE-coalescible — the narrow keyed rows
    // are a few MB, AQE folds them to ONE partition, and the (B+1)x
    // explode downstream runs single-task (measured 4x wall on the
    // sf0.1 sweep). An explicit repartition pins the fan-out width.
    val par = base.sparkSession.sparkContext.defaultParallelism
    // NULL __k never reaches the weights: the callers filter NULL keys,
    // but the long CAST can itself produce NULL (non-ANSI sessions; a
    // non-numeric string key), and a NULL key would sail past the
    // __c>1 guard as a singleton group, then BootstrapWeights'
    // nullSafeEval returns a NULL array and posexplode silently DROPS
    // the row — n and the CI quietly wrong. Fail loud in-plan instead
    // (same narrow pre-shuffle projection, no extra pass).
    val nullGuarded = base.withColumn(others.head,
      when(col("__k").isNull, raise_error(lit(
        s"$op: the key column cast to NULL long for at least one row " +
          "(non-numeric or non-castable key) — a NULL key gets a NULL " +
          "weight vector and its row silently vanishes from every " +
          "resample. Supply a key that casts cleanly to long.")))
        .otherwise(col(others.head)))
    val keyed = nullGuarded.repartition(par, col("__k"))
      .groupBy(col("__k")).agg(aggs.head, aggs.tail: _*)
    val guard = when(col("__c") > 1, raise_error(concat(
      lit(s"$op: the key column must uniquely identify rows (after the " +
        "long cast) — key "),
      // a NULL-group key would NULL the whole concat and erase the
      // diagnostic; coalesce keeps the message printable
      coalesce(col("__k").cast("string"), lit("NULL")),
      lit(" holds multiple rows; duplicates share a Poisson weight " +
        "vector, correlating draws and invalidating the CI. Supply a " +
        "unique row id."))))
    keyed.select(guard.otherwise(col(others.head)).as(others.head) +:
      others.tail.map(col) :+ col("__k"): _*)
  }

  /** Poisson-bootstrap confidence interval for a mean — the bootstrap
    * at corpus scale: instead of materializing B index-resampled
    * copies (impossible at 100 TB), every row carries B independent
    * Poisson(1) multiplicities ([[graft.functions.BootstrapWeights]] —
    * deterministic, hash-derived, cross-engine replayable), each
    * resample's mean is a weighted aggregate, and the CI is the
    * [α/2, 1−α/2] order statistics of the B resample means. ONE corpus
    * scan and ONE corpus shuffle (the key-hashed sentinel fan-out,
    * [[uniqueKeyedFanout]]): the weights array then explodes to
    * (resample, weight) pairs that partial-aggregate map-side to
    * ≤ B+1 groups per partition, so the final shuffle carries
    * O(partitions·B) tiny rows no matter the corpus size; index 0 is
    * the identity resample, so the full-sample mean rides the same
    * shuffle (no second scan). Exact-decimal weighted sums (the
    * [[Moments]] 6-dp contract, sentinel in the same pass); the only
    * doubles are the B+1 mean divisions and the rank picks.
    *
    * Resamples whose total weight is 0 (probability e⁻ⁿ per resample —
    * real only for tiny n) are dropped; `b_eff` reports the count that
    * survived. One row out:
    * `(b_eff, n, mean, ci_lo, ci_hi)` — raw doubles, callers round.
    *
    * PRECONDITION: `keyCol` must uniquely identify rows (after the
    * long cast) — the Poisson weights are a pure hash of the key, so
    * duplicate keys share a weight vector and always resample
    * TOGETHER, correlating draws and silently narrowing the CI. The
    * sentinel is FUSED into the fan-out shuffle ([[uniqueKeyedFanout]]):
    * the frame is hash-aggregated by key — the same corpus shuffle the
    * explode needs to spread its expansion — and a duplicate key fails
    * LOUD in-plan via `raise_error`, costing no separate action, scan,
    * or cache.
    */
  def bootstrapMeanCI(df: DataFrame, valueCol: String, keyCol: String,
                      b: Int = 200, alpha: Double = 0.05): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"bootstrapMeanCI: alpha must be in (0, 1), got $alpha")
    val session = df.sparkSession
    import session.implicits._
    val v = col(valueCol)
    val base = df.filter(finite(v) && col(keyCol).isNotNull)
      .select(exact(v).as("v"), when(offGrid(v), 1L).otherwise(0L).as("nf"),
        col(keyCol).cast("long").as("__k"))
    // the explode multiplies rows (b+1)x AFTER the sentinel's key
    // shuffle ([[uniqueKeyedFanout]]): the expansion runs across all
    // shuffle partitions however few input splits the source has —
    // the fan-out the old round-robin repartition bought, plus the
    // duplicate-key guard, in the same single shuffle
    val src = uniqueKeyedFanout(base, "bootstrapMeanCI")
    val wArr = graft.functions.BootstrapWeights.weights(col("__k"), b)
    val rows = src
      .select(col("v"), col("nf"), posexplode(wArr).as(Seq("j", "w")))
      .groupBy(col("j"))
      .agg(sum(col("v") * col("w")).as("s"),
        sum(col("w").cast("long")).as("n"),
        sum(col("nf")).as("nfs"))
      .collect()
      .map(r => r.getInt(0) ->
        ((BigDecimal(r.getDecimal(1)), r.getLong(2), r.getLong(3))))
      .toMap
    require(rows.contains(0), "bootstrapMeanCI: no rows after the NULL filter")
    val (s0, n0, nf0) = rows(0)
    Moments.requireOnGrid(nf0, "bootstrapMeanCI")
    require(n0 >= 2, s"bootstrapMeanCI: need >= 2 rows, got $n0")
    val mean = s0.toDouble / n0.toDouble
    val means = rows.toSeq.collect {
      case (j, (s, n, _)) if j >= 1 && n > 0L => s.toDouble / n.toDouble
    }.sorted
    val bEff = means.length.toLong
    require(bEff >= 10L,
      s"bootstrapMeanCI: only $bEff non-empty resamples survived — " +
        "raise b or supply more rows")
    // rank arithmetic in the SAME double chain the oracle replays
    // (alpha/2 then 1 - alpha/2 — NOT a separate 0.975-style literal,
    // whose last ulp could flip a ceil at an integer boundary)
    val aLo = alpha / 2.0
    val aHi = 1.0 - aLo
    val rLo = math.max(1L, math.ceil(aLo * bEff.toDouble).toLong)
    val rHi = math.ceil(aHi * bEff.toDouble).toLong
    Seq((bEff, n0, mean, means((rLo - 1).toInt), means((rHi - 1).toInt)))
      .toDF("b_eff", "n", "mean", "ci_lo", "ci_hi")
  }

  /** Poisson-bootstrap confidence intervals for QUANTILES — the
    * [[bootstrapMeanCI]] machinery composed with the weighted KLL
    * sketch: per resample j, every row feeds (value, w_j) into
    * [[graft.functions.KllQuantilesWeighted]], so each of the B+1
    * resample quantile sets is ONE weighted sketch and the whole
    * statistic is ONE corpus scan — explode to (resample, weight)
    * pairs (zero weights dropped: a w=0 row has no mass), partial-agg
    * map-side to ≤ B+1 sketch groups, so the shuffle carries
    * O(partitions·B) sketches of O(k·log W) regardless of corpus size;
    * a weight-w row costs popcount(w) ≤ 64 appends, never an
    * expansion. Index 0 is the identity resample — the point estimate
    * rides the same shuffle. The CI per p is the [α/2, 1−α/2] order
    * statistics of the B resample quantiles (the [[bootstrapMeanCI]]
    * rank chain) — the distribution-free uncertainty readout for p50
    * latency / p99 tokens where the mean CI misses the tails entirely.
    *
    * Quantile semantics are the exact-rank form over the weighted
    * multiset (value at the smallest cumulative weight ≥ ⌈p·W⌉ —
    * [[groupedQuantilesSketchWeighted]]'s contract): EXACT in the
    * no-compaction regime (every per-level item count < k — the
    * x_sketch_weighted oracle trick), ≈1/k rank error beyond it, so
    * size k to the regime you need. [[bootstrapMeanCI]]'s
    * key-uniqueness precondition and sentinel apply. One row per p:
    * `(p, b_eff, n, q, ci_lo, ci_hi)` — raw doubles, callers round.
    */
  def bootstrapQuantileCI(df: DataFrame, valueCol: String, keyCol: String,
                          ps: Seq[Double] = Seq(0.5, 0.9), b: Int = 200,
                          alpha: Double = 0.05, k: Int = 256): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"bootstrapQuantileCI: alpha must be in (0, 1), got $alpha")
    require(ps.nonEmpty, "bootstrapQuantileCI: need at least one quantile")
    require(ps.forall(p => p > 0.0 && p <= 1.0),
      s"bootstrapQuantileCI: quantiles must be in (0, 1], got $ps")
    val session = df.sparkSession
    import session.implicits._
    val v = col(valueCol)
    val base = df.filter(finite(v) && col(keyCol).isNotNull)
      .select(v.cast("double").as("v"), col(keyCol).cast("long").as("__k"))
    val src = uniqueKeyedFanout(base, "bootstrapQuantileCI")
    val wArr = graft.functions.BootstrapWeights.weights(col("__k"), b)
    val sketch = graft.functions.KllQuantiles.kllQuantilesWeighted(
      col("v"), col("w"), ps, k)
    val rows = src
      .select(col("v"), posexplode(wArr).as(Seq("j", "w")))
      .filter(col("w") > 0)
      .groupBy(col("j"))
      .agg(sketch.as("qs"), sum(col("w").cast("long")).as("n"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getSeq[Double](1), r.getLong(2))))
      .toMap
    require(rows.contains(0), "bootstrapQuantileCI: no rows after the NULL filter")
    val (q0, n0) = rows(0)
    require(n0 >= 2, s"bootstrapQuantileCI: need >= 2 rows, got $n0")
    // a resample is live when any weight was positive (its group
    // exists); every live sketch answers every p, so b_eff is shared
    val live = (1 to b).flatMap(j => rows.get(j).map(_._1))
    val bEff = live.length.toLong
    require(bEff >= 10L,
      s"bootstrapQuantileCI: only $bEff non-empty resamples survived — " +
        "raise b or supply more rows")
    val aLo = alpha / 2.0
    val aHi = 1.0 - aLo
    val rLo = math.max(1L, math.ceil(aLo * bEff.toDouble).toLong)
    val rHi = math.ceil(aHi * bEff.toDouble).toLong
    val out = ps.zipWithIndex.map { case (p, i) =>
      val qs = live.map(_(i)).sorted
      (p, bEff, n0, q0(i), qs((rLo - 1).toInt), qs((rHi - 1).toInt))
    }
    out.toDF("p", "b_eff", "n", "q", "ci_lo", "ci_hi")
  }

  /** Per-GROUP Poisson-bootstrap mean CIs — [[bootstrapMeanCI]] with a
    * segment key (per-country revenue CI, per-source quality-score CI):
    * the same ONE-scan shape with (group, resample) cells, so the
    * shuffle partial-aggregates map-side to ≤ |groups|·(B+1) tiny rows
    * and a segment breakdown costs the SAME single corpus scan as the
    * global readout — not |groups| separate jobs. Identity resample
    * (j = 0) rides along per group; the CI assembly is a
    * planning-sized driver fold over the cells, guarded loud by
    * `maxGroups` (the [[groupedCumCore]] convention — never a silent
    * giant collect). Group keys carried as their STRING rendering (the
    * grouped-family contract); groups sorted in the output. The
    * key-uniqueness precondition and sentinel apply ([[bootstrapMeanCI]]);
    * per-group n ≥ 2 and b_eff ≥ 10 fail loud naming the group. One
    * row per group: `(groupCol, b_eff, n, mean, ci_lo, ci_hi)`.
    */
  def bootstrapMeanCIByGroup(df: DataFrame, groupCol: String, valueCol: String,
                             keyCol: String, b: Int = 200,
                             alpha: Double = 0.05,
                             maxGroups: Long = 10_000L): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"bootstrapMeanCIByGroup: alpha must be in (0, 1), got $alpha")
    val session = df.sparkSession
    import session.implicits._
    val v = col(valueCol)
    val base = df.filter(finite(v) && col(keyCol).isNotNull &&
        col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"), exact(v).as("v"),
        when(offGrid(v), 1L).otherwise(0L).as("nf"),
        col(keyCol).cast("long").as("__k"))
    val src = uniqueKeyedFanout(base, "bootstrapMeanCIByGroup")
    val wArr = graft.functions.BootstrapWeights.weights(col("__k"), b)
    val cells = src
      .select(col("g"), col("v"), col("nf"), posexplode(wArr).as(Seq("j", "w")))
      .groupBy(col("g"), col("j"))
      .agg(sum(col("v") * col("w")).as("s"),
        sum(col("w").cast("long")).as("n"),
        sum(col("nf")).as("nfs"))
    // loud planning-size guard BEFORE the collect: |groups|·(B+1) cells.
    // Clamp the limit to Int.MaxValue — a huge caller-supplied maxGroups
    // (or b) must degrade to the loudest guard we can plan, not overflow
    // to a negative limit and fail as a confusing runtime error
    val cellCap = math.min(maxGroups * (b + 1L) + 1L, Int.MaxValue.toLong).toInt
    val cellRows = cells.limit(cellCap).collect()
    require(cellRows.length <= maxGroups * (b + 1),
      s"bootstrapMeanCIByGroup: more than $maxGroups groups — the CI " +
        "assembly fold would not be planning-sized; raise maxGroups " +
        "deliberately or pre-aggregate the group key")
    val byCell = cellRows.map(r => (r.getString(0), r.getInt(1)) ->
      ((BigDecimal(r.getDecimal(2)), r.getLong(3), r.getLong(4)))).toMap
    require(byCell.nonEmpty, "bootstrapMeanCIByGroup: no rows with a " +
      "non-NULL finite value, key and group")
    // each source row's nf flag lands in ALL b+1 of its (group, resample)
    // cells — divide the cell total back down so the message reports the
    // offending ROW count, not (b+1)x it (the trigger is unchanged:
    // the sum is zero iff no row is fractional)
    Moments.requireOnGrid(byCell.valuesIterator.map(_._3).sum / (b + 1L),
      "bootstrapMeanCIByGroup")
    val groups = byCell.keysIterator.map(_._1).toSeq.distinct.sorted
    val aLo = alpha / 2.0
    val aHi = 1.0 - aLo
    val out = groups.map { g =>
      val (s0, n0, _) = byCell.getOrElse((g, 0),
        (BigDecimal(0), 0L, 0L))
      require(n0 >= 2,
        s"bootstrapMeanCIByGroup: group '$g' needs >= 2 rows, got $n0")
      val mean = s0.toDouble / n0.toDouble
      val means = (1 to b).flatMap { j =>
        byCell.get((g, j)).collect { case (s, n, _) if n > 0L =>
          s.toDouble / n.toDouble }
      }.sorted
      val bEff = means.length.toLong
      require(bEff >= 10L,
        s"bootstrapMeanCIByGroup: group '$g' kept only $bEff non-empty " +
          "resamples — raise b or supply more rows")
      val rLo = math.max(1L, math.ceil(aLo * bEff.toDouble).toLong)
      val rHi = math.ceil(aHi * bEff.toDouble).toLong
      (g, bEff, n0, mean, means((rLo - 1).toInt), means((rHi - 1).toInt))
    }
    out.toDF(groupCol, "b_eff", "n", "mean", "ci_lo", "ci_hi")
  }

  /** Poisson-bootstrap CI for a DIFFERENCE in means — the A/B form of
    * [[bootstrapMeanCI]] and the distribution-free companion of
    * [[welchT]]: each resample draws BOTH samples (per-row Poisson
    * weights are sample-agnostic), the statistic is
    * mean_A(j) − mean_B(j), and the CI is the [α/2, 1−α/2] order
    * statistics over the B resampled diffs — no normality assumption,
    * so it stays honest on the skewed heavy-tailed metrics (revenue,
    * tokens, latency) where the t-interval lies. Same ONE-scan shape:
    * groupBy((resample, sample)) partial-aggregates map-side to
    * ≤ 2(B+1) groups; index 0 is the identity resample. Resamples
    * where either side has zero total weight are dropped (`b_eff`).
    * NULL condition rows are sample B (the [[welchT]] convention).
    * [[bootstrapMeanCI]]'s key-uniqueness precondition and sentinel
    * apply. One row out: `(b_eff, n_a, n_b, diff, ci_lo, ci_hi)`. */
  def bootstrapDiffCI(df: DataFrame, valueCol: String, keyCol: String,
                      sampleACond: org.apache.spark.sql.Column,
                      b: Int = 200, alpha: Double = 0.05): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"bootstrapDiffCI: alpha must be in (0, 1), got $alpha")
    val session = df.sparkSession
    import session.implicits._
    val v = col(valueCol)
    val base = df.filter(finite(v) && col(keyCol).isNotNull)
      .select(exact(v).as("v"),
        when(sampleACond, 1L).otherwise(0L).as("ia"),
        when(offGrid(v), 1L).otherwise(0L).as("nf"),
        col(keyCol).cast("long").as("__k"))
    val src = uniqueKeyedFanout(base, "bootstrapDiffCI")
    val wArr = graft.functions.BootstrapWeights.weights(col("__k"), b)
    val cells = src
      .select(col("v"), col("ia"), col("nf"),
        posexplode(wArr).as(Seq("j", "w")))
      .groupBy(col("j"), col("ia"))
      .agg(sum(col("v") * col("w")).as("s"),
        sum(col("w").cast("long")).as("n"),
        sum(col("nf")).as("nfs"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        ((BigDecimal(r.getDecimal(2)), r.getLong(3), r.getLong(4))))
      .toMap
    def cell(j: Int, ia: Long) =
      cells.getOrElse((j, ia), (BigDecimal(0), 0L, 0L))
    val (sa0, na0, nfa0) = cell(0, 1L)
    val (sb0, nb0, nfb0) = cell(0, 0L)
    Moments.requireOnGrid(nfa0 + nfb0, "bootstrapDiffCI")
    require(na0 >= 2 && nb0 >= 2,
      s"bootstrapDiffCI: both samples need >= 2 rows (n_a=$na0, n_b=$nb0)")
    val diff = sa0.toDouble / na0.toDouble - sb0.toDouble / nb0.toDouble
    val diffs = (1 to b).iterator.flatMap { j =>
      val (sa, na, _) = cell(j, 1L)
      val (sb, nb, _) = cell(j, 0L)
      if (na > 0L && nb > 0L)
        Some(sa.toDouble / na.toDouble - sb.toDouble / nb.toDouble)
      else None
    }.toArray.sorted
    val bEff = diffs.length.toLong
    require(bEff >= 10L,
      s"bootstrapDiffCI: only $bEff resamples had both samples non-empty — " +
        "raise b or supply more rows")
    val aLo = alpha / 2.0
    val aHi = 1.0 - aLo
    val rLo = math.max(1L, math.ceil(aLo * bEff.toDouble).toLong)
    val rHi = math.ceil(aHi * bEff.toDouble).toLong
    Seq((bEff, na0, nb0, diff, diffs((rLo - 1).toInt), diffs((rHi - 1).toInt)))
      .toDF("b_eff", "n_a", "n_b", "diff", "ci_lo", "ci_hi")
  }

  /** Poisson-bootstrap CI for a DIFFERENCE in QUANTILES (A/B) — the
    * composition of [[bootstrapQuantileCI]] and [[bootstrapDiffCI]]:
    * did p50/p99 latency (tokens, revenue) MOVE between the rows where
    * `sampleACond` holds and the rest, with a distribution-free CI —
    * the readout the mean-diff CI misses entirely on heavy-tailed
    * metrics whose treatment effect lives in the tail. Per resample j
    * each ARM is one weighted KLL sketch over the SHARED per-row
    * Poisson(1) weights (both arms of a resample draw the same weight
    * vector — the paired-resample form), the statistic is
    * q_A(j, p) − q_B(j, p), and the CI is the [α/2, 1−α/2] order
    * statistics of the B resampled diffs. ONE corpus scan: explode to
    * (resample, weight) pairs (zero weights dropped), partial-agg
    * map-side to ≤ 2(B+1) sketch groups, so the final shuffle carries
    * O(partitions·B) sketches of O(k·log W) regardless of corpus size.
    * Index 0 is the identity resample — the point estimate rides the
    * same shuffle. Quantile semantics (exact ⌈p·W⌉-rank over the
    * weighted multiset, EXACT in the no-compaction regime, ≈1/k rank
    * error beyond) and the key-uniqueness precondition + fused
    * sentinel are [[bootstrapQuantileCI]]'s; NULL condition rows are
    * sample B (the [[welchT]] convention).
    * Resamples where either arm kept zero total weight are dropped
    * (`b_eff`). One row per p:
    * `(p, b_eff, n_a, n_b, diff, ci_lo, ci_hi)` — raw doubles, callers
    * round.
    */
  def bootstrapQuantileDiffCI(df: DataFrame, valueCol: String, keyCol: String,
                              sampleACond: org.apache.spark.sql.Column,
                              ps: Seq[Double] = Seq(0.5, 0.9), b: Int = 200,
                              alpha: Double = 0.05, k: Int = 256): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"bootstrapQuantileDiffCI: alpha must be in (0, 1), got $alpha")
    require(ps.nonEmpty, "bootstrapQuantileDiffCI: need at least one quantile")
    require(ps.forall(p => p > 0.0 && p <= 1.0),
      s"bootstrapQuantileDiffCI: quantiles must be in (0, 1], got $ps")
    val session = df.sparkSession
    import session.implicits._
    val v = col(valueCol)
    val base = df.filter(finite(v) && col(keyCol).isNotNull)
      .select(v.cast("double").as("v"),
        when(sampleACond, 1L).otherwise(0L).as("ia"),
        col(keyCol).cast("long").as("__k"))
    val src = uniqueKeyedFanout(base, "bootstrapQuantileDiffCI")
    val wArr = graft.functions.BootstrapWeights.weights(col("__k"), b)
    val sketch = graft.functions.KllQuantiles.kllQuantilesWeighted(
      col("v"), col("w"), ps, k)
    val rows = src
      .select(col("v"), col("ia"), posexplode(wArr).as(Seq("j", "w")))
      .filter(col("w") > 0)
      .groupBy(col("j"), col("ia"))
      .agg(sketch.as("qs"), sum(col("w").cast("long")).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        ((r.getSeq[Double](2), r.getLong(3))))
      .toMap
    require(rows.contains((0, 1L)) && rows.contains((0, 0L)),
      "bootstrapQuantileDiffCI: both samples need rows after the NULL filter")
    val (qa0, na0) = rows((0, 1L))
    val (qb0, nb0) = rows((0, 0L))
    require(na0 >= 2 && nb0 >= 2,
      s"bootstrapQuantileDiffCI: both samples need >= 2 rows " +
        s"(n_a=$na0, n_b=$nb0)")
    // a resample is live when BOTH arms kept positive weight (either
    // sketch group missing means that arm drew all-zero weights)
    val live = (1 to b).flatMap { j =>
      for (a <- rows.get((j, 1L)); bb <- rows.get((j, 0L)))
        yield (a._1, bb._1)
    }
    val bEff = live.length.toLong
    require(bEff >= 10L,
      s"bootstrapQuantileDiffCI: only $bEff resamples had both samples " +
        "non-empty — raise b or supply more rows")
    val aLo = alpha / 2.0
    val aHi = 1.0 - aLo
    val rLo = math.max(1L, math.ceil(aLo * bEff.toDouble).toLong)
    val rHi = math.ceil(aHi * bEff.toDouble).toLong
    val out = ps.zipWithIndex.map { case (p, i) =>
      val ds = live.map { case (qa, qb) => qa(i) - qb(i) }.sorted
      (p, bEff, na0, nb0, qa0(i) - qb0(i),
        ds((rLo - 1).toInt), ds((rHi - 1).toInt))
    }
    out.toDF("p", "b_eff", "n_a", "n_b", "diff", "ci_lo", "ci_hi")
  }

  /** Per-SEGMENT quantile treatment effects — the composition the
    * readout matrix was missing (round-16 verdict item 5): means have
    * per-segment slicing ([[welchTByGroup]]) and quantiles have an
    * overall diff CI ([[bootstrapQuantileDiffCI]]), but a ramp
    * decision reads "did p50/p90 move, and in WHICH segment" — this is
    * [[bootstrapQuantileDiffCI]] per segment from ONE corpus scan,
    * with Benjamini–Hochberg across the segments so the per-slice
    * multiplicity cannot be forgotten (the [[welchTByGroup]]
    * discipline).
    *
    * Scale shape: the diff-CI pipeline with the segment carried
    * through — explode to (resample, weight), partial-agg map-side to
    * ≤ |segments|·2(B+1) weighted-sketch cells behind a loud
    * `maxGroups` bound (the [[postStratifiedDiff]] bounded-collect
    * discipline), then the EXACT [[bootstrapQuantileDiffCI]] driver
    * algebra per segment: same paired-resample weights (they derive
    * from the row key alone), same live-resample rule, same rank
    * picks — each segment's (b_eff, n_a, n_b, diff, ci_lo, ci_hi) row
    * is BIT-EQUAL to running the single-segment operator on that
    * slice (spec-pinned).
    *
    * The per-test p-value is the percentile-bootstrap SIGN p:
    * p = min(1, 2·min(#{d* ≤ 0}, #{d* ≥ 0})/b_eff) over the resampled
    * diffs — distribution-free, deterministic given the replayable
    * weights (ties at 0 count on both sides; granularity is 2/b_eff,
    * so size B to the q you test at). BH runs at level `q` across the
    * SEGMENTS within each quantile level (each p is its own family —
    * the [[multiArm]] step-up restated per level). One row per
    * (segment, p):
    * `(grp, p, b_eff, n_a, n_b, diff, ci_lo, ci_hi, p_boot,
    * significant)`, ordered by (grp, p). NULL values/keys/segments
    * excluded; [[bootstrapQuantileCI]]'s key-uniqueness precondition
    * (across the WHOLE frame) and exact-regime quantile semantics
    * apply; a segment with a thin arm or under 10 live resamples
    * fails LOUD naming it (coarsen the segmentation).
    */
  def bootstrapQuantileDiffBySegment(df: DataFrame, valueCol: String,
      keyCol: String, segmentCol: String,
      sampleACond: org.apache.spark.sql.Column,
      ps: Seq[Double] = Seq(0.5, 0.9), b: Int = 200,
      alpha: Double = 0.05, k: Int = 256, q: Double = 0.05,
      maxGroups: Int = 64): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"bootstrapQuantileDiffBySegment: alpha must be in (0, 1), got $alpha")
    require(q > 0.0 && q < 1.0,
      s"bootstrapQuantileDiffBySegment: q must be in (0, 1), got $q")
    require(ps.nonEmpty,
      "bootstrapQuantileDiffBySegment: need at least one quantile")
    require(ps.forall(p => p > 0.0 && p <= 1.0),
      s"bootstrapQuantileDiffBySegment: quantiles must be in (0, 1], got $ps")
    require(maxGroups >= 1,
      s"bootstrapQuantileDiffBySegment: maxGroups must be positive, got $maxGroups")
    val session = df.sparkSession
    import session.implicits._
    val v = col(valueCol)
    val base = df.filter(finite(v) && col(keyCol).isNotNull &&
        col(segmentCol).isNotNull)
      .select(col(segmentCol).cast("string").as("g"),
        v.cast("double").as("v"),
        when(sampleACond, 1L).otherwise(0L).as("ia"),
        col(keyCol).cast("long").as("__k"))
    val src = uniqueKeyedFanout(base, "bootstrapQuantileDiffBySegment")
    val wArr = graft.functions.BootstrapWeights.weights(col("__k"), b)
    val sketch = graft.functions.KllQuantiles.kllQuantilesWeighted(
      col("v"), col("w"), ps, k)
    // the pigeonhole bound: a segment key with more than maxGroups
    // distinct values would overflow the planning-sized driver fold;
    // |cells| ≤ |segments|·2·(B+1), so cap the collect one past it and
    // fail loud (the srmCheckMulti discipline)
    val cellCap = maxGroups.toLong * 2L * (b.toLong + 1L) + 1L
    val rows = src
      .select(col("g"), col("v"), col("ia"), posexplode(wArr).as(Seq("j", "w")))
      .filter(col("w") > 0)
      .groupBy(col("g"), col("j"), col("ia"))
      .agg(sketch.as("qs"), sum(col("w").cast("long")).as("n"))
      .limit(math.min(cellCap, Int.MaxValue.toLong).toInt)
      .collect()
    require(rows.length < cellCap,
      s"bootstrapQuantileDiffBySegment: more than $maxGroups segments — " +
        "the driver fold would not be planning-sized; coarsen the " +
        "segment key or raise maxGroups deliberately")
    require(rows.nonEmpty,
      "bootstrapQuantileDiffBySegment: no rows with a non-NULL finite " +
        "value, key and segment")
    val byCell = rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2)) ->
      ((r.getSeq[Double](3), r.getLong(4)))).toMap
    quantileSegmentsChain(byCell, ps, b, alpha, q) match {
      case Left(msg) =>
        throw new IllegalArgumentException(
          s"requirement failed: bootstrapQuantileDiffBySegment: $msg")
      case Right(out) =>
        out.toDF("grp", "p", "b_eff", "n_a", "n_b", "diff", "ci_lo",
          "ci_hi", "p_boot", "significant")
    }
  }

  /** [[bootstrapQuantileDiffBySegment]]'s driver algebra factored out
    * (the multiArmChain/welchSegmentsChain pattern — r17 verdict item 4)
    * so the batch readout and the streaming monitor
    * ([[graft.streaming.TwsQuantileSegments]]) run ONE implementation.
    * Input: per (segment, resample j ∈ 0..B, arm-indicator) cell, the
    * quantiles already read at `ps` plus the cell's weighted count —
    * the batch reads them from the partial-agged weighted KLL sketches,
    * the stream from its per-cell sketch state (same [[graft.functions.KllBuffer]]
    * kernel, so the reads agree wherever the sketch is exact). Left =
    * the states the batch fails loud on and a stream mid-fill treats as
    * silence (a one-armed or thin segment, too few live resamples).
    * Right = one tuple per (segment, quantile level), sorted:
    * (grp, p, b_eff, n_a, n_b, diff, ci_lo, ci_hi, p_boot, significant),
    * with BH across segments independently per level. */
  private[graft] def quantileSegmentsChain(
      byCell: Map[(String, Int, Long), (Seq[Double], Long)],
      ps: Seq[Double], b: Int, alpha: Double, q: Double)
    : Either[String, Seq[(String, Double, Long, Long, Long, Double,
        Double, Double, Double, Boolean)]] = {
    val groups = byCell.keysIterator.map(_._1).toSeq.distinct.sorted
    if (groups.isEmpty) return Left("no populated segments")
    // per segment: the bootstrapQuantileDiffCI driver algebra verbatim
    val perSeg = groups.map { g =>
      if (!(byCell.contains((g, 0, 1L)) && byCell.contains((g, 0, 0L))))
        return Left(s"segment '$g' is missing an arm " +
          "after the NULL filter — a per-segment quantile diff is " +
          "undefined on a one-armed slice; coarsen the segment key")
      val (qa0, na0) = byCell((g, 0, 1L))
      val (qb0, nb0) = byCell((g, 0, 0L))
      if (!(na0 >= 2 && nb0 >= 2))
        return Left(s"segment '$g' needs >= 2 rows " +
          s"per arm (n_a=$na0, n_b=$nb0)")
      val live = (1 to b).flatMap { j =>
        for (a <- byCell.get((g, j, 1L)); bb <- byCell.get((g, j, 0L)))
          yield (a._1, bb._1)
      }
      val bEff = live.length.toLong
      if (bEff < 10L)
        return Left(s"segment '$g' kept only $bEff " +
          "resamples with both arms non-empty — raise b or supply more rows")
      val aLo = alpha / 2.0
      val rLo = math.max(1L, math.ceil(aLo * bEff.toDouble).toLong)
      val rHi = math.ceil((1.0 - aLo) * bEff.toDouble).toLong
      val perP = ps.zipWithIndex.map { case (p, i) =>
        val ds = live.map { case (qa, qb) => qa(i) - qb(i) }.sorted
        // percentile-bootstrap sign p: ties at 0 count on BOTH sides
        val nLe = ds.count(_ <= 0.0).toLong
        val nGe = ds.count(_ >= 0.0).toLong
        val pb = math.min(1.0,
          2.0 * math.min(nLe, nGe).toDouble / bEff.toDouble)
        (g, p, bEff, na0, nb0, qa0(i) - qb0(i),
          ds((rLo - 1).toInt), ds((rHi - 1).toInt), pb)
      }
      perP
    }
    // BH step-up across SEGMENTS, independently per quantile level
    // ([[bhThreshold]] — the multiArm rule, one implementation)
    val all = perSeg.flatten
    Right(ps.flatMap { p =>
      val fam = all.filter(_._2 == p)
      val thr = bhThreshold(fam.map(_._9), q)
      fam.map { case (g, pp, bEff, na0, nb0, d, lo, hi, pb) =>
        (g, pp, bEff, na0, nb0, d, lo, hi, pb, thr.exists(pb <= _))
      }
    }.sortBy(t => (t._1, t._2)))
  }

  /** Two-proportion z-test — did a RATE move between the rows where
    * `sampleACond` holds and the rest (conversion share per variant,
    * success rate per cohort)? z = (p̂_A − p̂_B)/√(p̂(1−p̂)(1/n_A+1/n_B))
    * with p̂ the pooled share; the categorical sibling of [[welchT]]
    * (means of a 0/1 indicator ARE proportions, but the pooled-variance
    * null is the textbook form for rates).
    *
    * Scale shape: the whole statistic is FOUR integer counts from ONE
    * partial-agged pass (successes/trials per sample — exact longs, no
    * decimal machinery needed), then pinned double algebra on the
    * driver. A NULL success indicator excludes the row (observed-values
    * policy); a NULL condition row counts as sample B (the
    * [[welchT]]/pairCounts convention). One row out:
    * `(n_a, n_b, rate_a, rate_b, z)` — raw doubles, callers round.
    * Both samples need ≥1 trial and the pooled rate must not be 0 or 1
    * (zero null variance), fail loud.
    */
  def propZTest(df: DataFrame, successCol: String,
                sampleACond: org.apache.spark.sql.Column): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val s = col(successCol)
    val ia = when(sampleACond, 1L).otherwise(0L)
    // the indicator must be 0/1: anything else silently biases the
    // rate, so the domain sentinel rides the same pass
    val r0 = df.filter(s.isNotNull)
      .agg(
        sum(ia).as("na"),
        sum(when(ia === 1L, s.cast("long")).otherwise(0L)).as("ka"),
        sum(lit(1L) - ia).as("nb"),
        sum(when(ia === 0L, s.cast("long")).otherwise(0L)).as("kb"),
        // sentinel runs on the ORIGINAL numeric value: a long cast
        // would truncate 0.7 to 0 and silently count it as a failure
        sum(when(s.cast("double") =!= 0.0 && s.cast("double") =!= 1.0, 1L)
          .otherwise(0L)).as("bad"))
      .head()
    require(!r0.isNullAt(0),
      "propZTest: no non-NULL success indicators")
    require(r0.getLong(4) == 0L,
      s"propZTest: ${r0.getLong(4)} value(s) in '$successCol' are not 0/1 — " +
        "a non-indicator column would silently bias the rates")
    val (na, ka, nb, kb) =
      (r0.getLong(0), r0.getLong(1), r0.getLong(2), r0.getLong(3))
    require(na >= 1 && nb >= 1,
      s"propZTest: both samples need >= 1 trial (n_a=$na, n_b=$nb)")
    val pA = ka.toDouble / na.toDouble
    val pB = kb.toDouble / nb.toDouble
    val pPool = (ka + kb).toDouble / (na + nb).toDouble
    require(pPool > 0.0 && pPool < 1.0,
      s"propZTest: pooled rate $pPool has zero variance under the null " +
        "(all successes or all failures) — z is undefined")
    val z = (pA - pB) /
      math.sqrt(pPool * (1.0 - pPool) * (1.0 / na.toDouble + 1.0 / nb.toDouble))
    Seq((na, nb, pA, pB, z)).toDF("n_a", "n_b", "rate_a", "rate_b", "z")
  }

  /** Benjamini–Hochberg FDR threshold over a column of p-values — the
    * multiple-testing gate a metrics pipeline needs the moment it runs
    * one test per slice (thousands of per-segment KS/t/χ² reads):
    * sort the m p-values ascending, find the largest i with
    * p₍ᵢ₎ ≤ q·i/m, reject everything at or below that p. The rank
    * i of each distinct p is its cumulative count off the SAME bucketed
    * prefix-sum CDF as [[exactQuantiles]] — no global sort, no
    * single-task window; for a tie block the cumulative count IS the
    * block's largest index, which is exactly the most lenient (and
    * correct) BH candidate. ONE corpus scan (the persisted counts
    * frame), the step-up test and the rejection count run on the
    * |distinct|-sized CDF. One row out:
    * `(m, q, threshold, n_rejected)` — threshold is the largest
    * rejected p-value (NULL when nothing rejects), a raw data double.
    * p-values outside [0, 1] fail LOUD (same-frame sentinel); NULLs
    * excluded (observed-values policy).
    */
  def bhFdr(df: DataFrame, pCol: String, q: Double = 0.05,
            buckets: Int = 32): DataFrame = {
    require(q > 0.0 && q < 1.0, s"bhFdr: q must be in (0, 1), got $q")
    val session = df.sparkSession
    import session.implicits._
    val (cum, m, cached) = globalCum(df, pCol, buckets)
    if (m == 0L) {
      cached.unpersist()
      return Seq.empty[(Long, Double, Option[Double], Long)]
        .toDF("m", "q", "threshold", "n_rejected")
    }
    // domain sentinel on the cached |distinct|-sized frame (no extra
    // corpus scan): a p-value outside [0,1] is a caller bug that would
    // silently shift every rank below it
    val bad = cached.filter(col("v") < 0.0 || col("v") > 1.0).count()
    require(bad == 0L,
      s"bhFdr: $bad distinct value(s) outside [0, 1] — '$pCol' is not a " +
        "p-value column")
    // the step-up test on the CDF: i = cum(p) (a tie block's largest
    // index); reject-threshold = max p with p <= q*i/m
    val row = cum
      .filter(col("v") <= lit(q) * col("cum").cast("double") / lit(m.toDouble))
      .agg(max(col("v")).as("thr"), max(col("cum")).as("nrej"))
      .head()
    cached.unpersist()
    val (thr, nrej) =
      if (row.isNullAt(0)) (None: Option[Double], 0L)
      else (Some(row.getDouble(0)), row.getLong(1))
    Seq((m, q, thr, nrej)).toDF("m", "q", "threshold", "n_rejected")
  }

  /** Mutual information (and normalized MI) between two CATEGORICAL
    * columns — the feature-association / corpus-mix diagnostic (how
    * much does knowing the source tell you about the language?):
    * MI = Σ_xy p(x,y)·ln(p(x,y) / (p(x)·p(y))), NMI = 2·MI/(H_x+H_y).
    *
    * Scale shape: ONE corpus scan into the |X|·|Y|-cell contingency
    * frame (persisted — the legitimate intermediate; the marginals and
    * every term re-read it, the corpus is never touched again); the
    * marginals equi-join back onto the cells and three tiny aggs
    * finish. Exact integer counts throughout — doubles only in the
    * final p·ln terms. NULL in either column excludes the row. One row
    * out: `(n, mi, nmi)`; NMI is NaN when both columns are constant.
    */
  def mutualInfo(df: DataFrame, colX: String, colY: String): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val cells = df.filter(col(colX).isNotNull && col(colY).isNotNull)
      .groupBy(col(colX).cast("string").as("x"), col(colY).cast("string").as("y"))
      .agg(count(lit(1)).as("nxy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = broadcast(cells.agg(sum(col("nxy")).as("n")))
    val nx = cells.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val ny = cells.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    val miRow = cells.join(nx, Seq("x")).join(ny, Seq("y")).crossJoin(tot)
      .agg(sum((dd(col("nxy")) / dd(col("n"))) *
        log(dd(col("nxy")) * dd(col("n")) / (dd(col("nx")) * dd(col("ny"))))).as("mi"))
      .head()
    def entropy(marg: DataFrame, cnt: String): Double =
      marg.crossJoin(tot)
        .agg(sum((dd(col(cnt)) / dd(col("n"))) * log(dd(col("n")) / dd(col(cnt)))).as("h"))
        .head() match {
        case r if r.isNullAt(0) => 0.0
        case r => r.getDouble(0)
      }
    val hx = entropy(nx, "nx")
    val hy = entropy(ny, "ny")
    val nTotal = cells.agg(sum(col("nxy"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    cells.unpersist()
    if (nTotal == 0L) return Seq.empty[(Long, Double, Double)].toDF("n", "mi", "nmi")
    val mi = if (miRow.isNullAt(0)) 0.0 else miRow.getDouble(0)
    val nmi = if (hx + hy == 0.0) Double.NaN else 2.0 * mi / (hx + hy)
    Seq((nTotal, mi, nmi)).toDF("n", "mi", "nmi")
  }

  /** Pearson chi-square test of independence between two CATEGORICAL
    * columns, with Cramér's V as the [0,1] effect size — the
    * significance-flavored sibling of [[mutualInfo]] (is the
    * source × language association bigger than chance, and how big?).
    * Uses the zero-cell-free identity
    * χ² = N · Σ_observed n_xy² / (n_x·n_y) − N, so cells with zero
    * observed count (which still contribute to the textbook
    * Σ (O−E)²/E through their expectation) need never be enumerated —
    * the |X|·|Y| dense cross product is never built.
    *
    * Scale shape: identical to [[mutualInfo]] — ONE corpus scan into
    * the observed-cell contingency frame (persisted; marginals and the
    * final term agg re-read it, the corpus is never touched again),
    * marginals equi-join back, one tiny agg. Exact integer counts;
    * doubles only in the final ratio terms. NULL in either column
    * excludes the row. One row out:
    * `(n, r, c, dof, chi2, cramers_v)`; needs ≥2 distinct values on
    * BOTH sides (dof would be 0 — fail loud).
    */
  def chiSquare(df: DataFrame, colX: String, colY: String): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val cells = df.filter(col(colX).isNotNull && col(colY).isNotNull)
      .groupBy(col(colX).cast("string").as("x"), col(colY).cast("string").as("y"))
      .agg(count(lit(1)).as("nxy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nx = cells.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val ny = cells.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    // one pass over the joined cells: the ratio-term sum, the grand
    // total, and both cardinalities (distinct-agg on the tiny frame)
    val r0 = cells.join(nx, Seq("x")).join(ny, Seq("y"))
      .agg(sum(dd(col("nxy")) * dd(col("nxy")) / (dd(col("nx")) * dd(col("ny")))).as("t"),
        sum(col("nxy")).as("n"),
        countDistinct(col("x")).as("r"),
        countDistinct(col("y")).as("c"))
      .head()
    cells.unpersist()
    if (r0.isNullAt(1))
      return Seq.empty[(Long, Long, Long, Long, Double, Double)]
        .toDF("n", "r", "c", "dof", "chi2", "cramers_v")
    val n = r0.getLong(1); val r = r0.getLong(2); val c = r0.getLong(3)
    require(r >= 2 && c >= 2,
      s"chiSquare: need >= 2 distinct values on both sides (r=$r, c=$c)")
    val chi2 = n.toDouble * r0.getDouble(0) - n.toDouble
    val v = math.sqrt(math.max(chi2, 0.0) / (n.toDouble * (math.min(r, c) - 1).toDouble))
    Seq((n, r, c, (r - 1) * (c - 1), chi2, v))
      .toDF("n", "r", "c", "dof", "chi2", "cramers_v")
  }

  /** Cohen's kappa — chance-corrected agreement between two
    * CATEGORICAL labelings of the same rows (two heuristic quality
    * labelers, a model vs a gold column): κ = (p_o − p_e)/(1 − p_e)
    * with p_o the observed diagonal share and
    * p_e = Σ_k (n_Ak/N)·(n_Bk/N) the chance-agreement share.
    *
    * Scale shape: the [[mutualInfo]] contingency pattern — ONE corpus
    * scan into observed cells (persisted), the diagonal share read off
    * cells where x = y, p_e from the marginal equi-join on the label
    * value. Exact integer counts; doubles only in the final shares.
    * NULL in either column excludes the row. One row out:
    * `(n, po, pe, kappa)`; κ is undefined when p_e = 1 (both labelers
    * constant on the same label) — fail loud.
    */
  def cohenKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val cells = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("string").as("x"), col(colB).cast("string").as("y"))
      .agg(count(lit(1)).as("nxy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = cells.agg(sum(col("nxy")).as("n"),
      sum(when(col("x") === col("y"), col("nxy")).otherwise(0L)).as("diag")).head()
    if (tot.isNullAt(0)) {
      cells.unpersist()
      return Seq.empty[(Long, Double, Double, Double)].toDF("n", "po", "pe", "kappa")
    }
    val n = tot.getLong(0); val diag = tot.getLong(1)
    // chance agreement: marginals joined on the LABEL value — a label
    // used by only one rater contributes 0, exactly as the formula says
    val na = cells.groupBy(col("x").as("k")).agg(sum(col("nxy")).as("na"))
    val nb = cells.groupBy(col("y").as("k")).agg(sum(col("nxy")).as("nb"))
    val peRow = na.join(nb, Seq("k"))
      .agg(sum(col("na").cast("double") * col("nb").cast("double")).as("s")).head()
    cells.unpersist()
    val pe = (if (peRow.isNullAt(0)) 0.0 else peRow.getDouble(0)) /
      (n.toDouble * n.toDouble)
    val po = diag.toDouble / n.toDouble
    require(pe < 1.0,
      s"cohenKappa: chance agreement p_e = 1 (both labelings constant on " +
        "the same label) — kappa is undefined")
    Seq((n, po, pe, (po - pe) / (1.0 - pe))).toDF("n", "po", "pe", "kappa")
  }

  /** Jensen-Shannon divergence between the distributions of a
    * CATEGORICAL column in two cohorts — the bounded, symmetric
    * distribution-drift measure (language mix of source A vs source B;
    * [[psi]]'s categorical sibling that never blows up on empty bins):
    * JSD = ½·KL(p‖m) + ½·KL(q‖m) with m = (p+q)/2, in nats,
    * bounded by ln 2. Cohorts are arbitrary boolean conditions and may
    * overlap; a category absent from one cohort contributes only the
    * other cohort's half-term (finite, unlike KL or PSI).
    *
    * Scale shape: ONE corpus scan into the per-category
    * (count_A, count_B) frame via conditional aggregation — no join
    * between the cohorts and no second scan; totals broadcast back and
    * one tiny agg folds the ≤|categories| terms. Exact integer counts,
    * doubles only in the final p·ln terms. NULL categories are
    * excluded. One row out: `(n_a, n_b, k, jsd)`; both cohorts must be
    * non-empty (the divergence is undefined otherwise — fail loud).
    */
  def jensenShannon(df: DataFrame, catCol: String,
                    condA: org.apache.spark.sql.Column,
                    condB: org.apache.spark.sql.Column): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val cells = df.filter(col(catCol).isNotNull && (condA || condB))
      .groupBy(col(catCol).cast("string").as("cat"))
      .agg(sum(when(condA, 1L).otherwise(0L)).as("na"),
        sum(when(condB, 1L).otherwise(0L)).as("nb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = broadcast(cells.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb")))
    val totRow = tot.head()
    if (totRow.isNullAt(0) && totRow.isNullAt(1)) {
      cells.unpersist()
      return Seq.empty[(Long, Long, Long, Double)].toDF("n_a", "n_b", "k", "jsd")
    }
    val ta = totRow.getLong(0); val tb = totRow.getLong(1)
    require(ta > 0 && tb > 0,
      s"jensenShannon: both cohorts must be non-empty (n_a=$ta, n_b=$tb)")
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    // per-category halves: p·ln(p/m) only where the count is positive
    // (0·ln 0 = 0 by continuity); m > 0 on every retained category
    val r = cells.crossJoin(tot)
      .select((dd(col("na")) / dd(col("ta"))).as("p"),
        (dd(col("nb")) / dd(col("tb"))).as("q"))
      .withColumn("m", (col("p") + col("q")) / 2.0)
      .agg(sum(when(col("p") > 0.0, col("p") * log(col("p") / col("m")))
          .otherwise(0.0) * 0.5 +
        when(col("q") > 0.0, col("q") * log(col("q") / col("m")))
          .otherwise(0.0) * 0.5).as("jsd"),
        count(lit(1)).as("k"))
      .head()
    cells.unpersist()
    Seq((ta, tb, r.getLong(1), r.getDouble(0))).toDF("n_a", "n_b", "k", "jsd")
  }

  /** Theil T inequality index with its exact between/within-group
    * decomposition — [[gini]]'s information-theoretic sibling, and the
    * one inequality measure that decomposes ADDITIVELY by a grouping
    * (how much of the corpus's length inequality is across sources vs
    * inside them): T = Σ (x/X)·ln(x·N/X), and
    * T = T_between + T_within with
    * T_between = Σ_g (X_g/X)·ln((X_g/X)/(n_g/N)),
    * T_within  = Σ_g (X_g/X)·T_g.
    *
    * Scale shape: ONE corpus scan into the per-(group, distinct value)
    * counts frame ([[groupedCounts]]); per-group totals are exact
    * (counts as longs, value sums in decimal under the [[Moments]]
    * 6-dp contract), the per-group ln-moment Σ c·v·ln(v) is the one
    * distributed double sum, and the |groups|-row driver fold finishes
    * in pinned group-sorted order. Values must be STRICTLY POSITIVE
    * (ln domain), fail loud. One row out:
    * `(n, k, theil_total, theil_between, theil_within)`.
    */
  def theilDecomposition(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val counts = groupedCounts(df, groupCol, valueCol)
    val rows = counts.groupBy(col("g"))
      .agg(min(col("v")).as("mn"),
        sum(col("c")).as("n"),
        // (18,6)·(14,0) = decimal(33,6): exact product, exact sum
        // (ANSI: a per-value multiplicity past 1e14 overflows LOUD)
        sum(exact(col("v")) * col("c").cast("decimal(14,0)")).as("x"),
        // ln guarded on the positive branch so a domain violation
        // reaches the loud `require` below (ANSI log(≤0) would throw a
        // bare SparkRuntimeException mid-aggregation instead)
        sum(when(col("v") > 0,
          col("c").cast("double") * col("v") * log(col("v")))
          .otherwise(lit(0.0))).as("m"),
        // the 6-dp sentinel: loud, never silently rounded
        sum(when(offGrid(col("v")), 1L).otherwise(0L)).as("nf"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        BigDecimal(r.getDecimal(3)), r.getDouble(4), r.getLong(5)))
      .sortBy(_._1)
    counts.unpersist()
    if (rows.isEmpty)
      return Seq.empty[(Long, Long, Double, Double, Double)]
        .toDF("n", "k", "theil_total", "theil_between", "theil_within")
    rows.foreach { case (g, mn, _, _, _, nf) =>
      require(mn > 0.0,
        s"theilDecomposition: values must be strictly positive (group '$g', min=$mn)")
      Moments.requireOnGrid(nf, s"theilDecomposition (group '$g')")
    }
    val nTot = rows.map(_._3).sum
    val xTot = rows.map(_._4).sum // exact decimal grand total
    val xD = xTot.toDouble
    // pinned group-sorted folds; per-group terms use the same ratio
    // shapes the oracle replays
    val mAll = rows.foldLeft(0.0) { case (a, r) => a + r._5 }
    val total = mAll / xD - math.log(xD / nTot.toDouble)
    val between = rows.foldLeft(0.0) { case (a, (_, _, ng, xg, _, _)) =>
      val share = xg.toDouble / xD
      a + share * math.log(share / (ng.toDouble / nTot.toDouble))
    }
    val within = rows.foldLeft(0.0) { case (a, (_, _, ng, xg, mg, _)) =>
      val share = xg.toDouble / xD
      a + share * (mg / xg.toDouble - math.log(xg.toDouble / ng.toDouble))
    }
    Seq((nTot, rows.length.toLong, total, between, within))
      .toDF("n", "k", "theil_total", "theil_between", "theil_within")
  }

  /** ROC AUC of a score column against a binary condition — the
    * probability that a random positive outscores a random negative
    * (ties count half), which is EXACTLY the Mann-Whitney U statistic
    * normalized: AUC = U_A / (n_pos · n_neg). Rides entirely on
    * [[mannWhitneyU]]'s bucketed prefix-sum midranks — the classifier-
    * evaluation primitive at any scale, where the textbook
    * trapezoid-over-sorted-scores form needs a global sort. One row
    * out: `(n_pos, n_neg, auc)`; requires at least one positive AND
    * one negative (AUC is undefined otherwise — fail loud), empty
    * observed input → empty frame.
    */
  def auc(df: DataFrame, scoreCol: String,
          positiveCond: org.apache.spark.sql.Column,
          buckets: Int = 32): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val mw = mannWhitneyU(df, scoreCol, positiveCond, buckets).collect()
    if (mw.isEmpty) return Seq.empty[(Long, Long, Double)].toDF("n_pos", "n_neg", "auc")
    val r = mw(0)
    val nPos = r.getLong(0); val nNeg = r.getLong(1)
    require(nPos > 0 && nNeg > 0,
      s"auc: need at least one positive and one negative (n_pos=$nPos, n_neg=$nNeg)")
    val a = r.getDouble(3) / (nPos.toDouble * nNeg.toDouble)
    Seq((nPos, nNeg, a)).toDF("n_pos", "n_neg", "auc")
  }

  /** Calibration / reliability report of a score column against a
    * binary outcome: `bins` equal-width score bins over the observed
    * [min, max] (the SAME closed-form bin rule as [[psi]] — exactly
    * replayable, unlike quantile edges), and per bin the count, the
    * mean score, and the positive rate. A well-calibrated scorer has
    * mean_score ≈ pos_rate per bin.
    *
    * Scale shape: one persisted 2-column projection, a broadcast
    * min/max probe, then ONE partial-agged hash aggregation to ≤ bins
    * rows (eagerly collected — no cache outlives the call). Mean
    * scores sum in decimal(28,6), exact in any order for ≤6-dp
    * scores (deeper fractions trip the same-pass [[Moments.offGrid]]
    * sentinel); positive counts are exact longs; the
    * only doubles are the two final per-bin divisions. NULL scores
    * are excluded (observed-values policy).
    */
  def calibration(df: DataFrame, scoreCol: String,
                  positiveCond: org.apache.spark.sql.Column,
                  bins: Int = 10): DataFrame = {
    require(bins >= 1, "calibration: bins must be >= 1")
    val session = df.sparkSession
    import session.implicits._
    val v = col(scoreCol).cast("double")
    val pts = df.filter(col(scoreCol).isNotNull)
      .select(v.as("v"), when(positiveCond, 1L).otherwise(0L).as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = broadcast(pts.agg(min(col("v")).as("mn"), max(col("v")).as("mx")))
    val rows = pts.crossJoin(bounds)
      .withColumn("bin",
        when(col("mx") === col("mn"), lit(0))
          .otherwise(least(floor((col("v") - col("mn")) /
            ((col("mx") - col("mn")) / bins)), lit(bins - 1)))
          .cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(28,6)")).as("s"),
        sum(col("pos")).as("np"),
        sum(when(offGrid(col("v")), 1L).otherwise(0L)).as("nf"))
      .collect()
    pts.unpersist()
    val nFrac = rows.map(_.getLong(4)).sum
    require(nFrac == 0L,
      s"calibration: $nFrac scores need more than 6 decimal places — the " +
        "decimal(28,6) bin sums would round them silently; rescale first")
    val out = rows.map { r =>
      (r.getInt(0), r.getLong(1),
        BigDecimal(r.getDecimal(2)).toDouble / r.getLong(1).toDouble,
        r.getLong(3).toDouble / r.getLong(1).toDouble)
    }.sortBy(_._1).toSeq
    out.toDF("bin", "n", "mean_score", "pos_rate")
  }

  /** Pareto concentration curve — "the top X% of keys hold Y% of the
    * value" (revenue concentration, corpus-source dominance, hot-key
    * share). Keys are ranked by DESCENDING per-key value and cut into
    * `bins` equal-count bins (NTILE semantics); each bin reports its
    * key count and the CUMULATIVE value share through that bin.
    *
    * Scale shape: the per-key totals come from one partial-agged hash
    * agg (DECIMAL sums — exact in any order); the global descending
    * cumulative sum then runs on the same bucketed prefix-sum pattern
    * as [[ksTest]] — approx boundaries split the value line, buckets
    * cumsum locally, per-bucket totals cascade through a tiny window
    * and broadcast back. No single-task window over the key table at
    * any size. Bucket assignment casts the decimal to double ONLY for
    * boundary comparison (monotone, and ties stay inside one bucket),
    * so the sums themselves remain exact.
    */
  def paretoCurve(df: DataFrame, keyCol: String, valueCol: String,
                  bins: Int = 10, buckets: Int = 32): DataFrame = {
    require(bins >= 1, "paretoCurve: bins must be >= 1")
    val session = df.sparkSession
    import session.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persisted: the fine-cell histogram fills the cache, the ranking
    // pass re-reads it — ONE corpus scan for the whole curve (the
    // pre-fusion form re-derived the per-key aggregation four times)
    // observed-values policy: a key whose values are ALL NULL would
    // yield rev = NULL → NULL fine cell → bare NPE in the histogram
    // collect; filtering NULL values up front drops such keys loud-and-
    // documented instead (they contribute no revenue by definition)
    val perKey = df.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol).as("k"))
      .agg(sum(col(valueCol).cast("decimal(18,2)")).as("rev"))
      // descending rank = ascending rank of the NEGATED value (exact
      // for decimals); key breaks ties deterministically
      .withColumn("ord", expr("-rev"))
      .persist(lvl)
    val cc = cellOf(col("ord").cast("double"))
    // THE one planning job: per-cell key counts and exact decimal
    // revenue totals — boundaries, offsets, n AND the grand total come
    // out of its single collect
    val hist = perKey.groupBy(cc.as("cell"))
      .agg(count(lit(1)).as("tc"), sum(col("rev")).as("trev"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2)))
      .sortBy(_._1)
    val n = hist.map(_._2).sum
    if (n == 0L) {
      perKey.unpersist()
      return Seq.empty[(Int, Long, Double)].toDF("bin", "n_keys", "cum_share")
    }
    val totRevD = hist.map(h => BigDecimal(h._3)).sum.toDouble
    val bounds = coarseBoundaries(hist.map(h => (h._1, h._2)), buckets)
    val withB = perKey.withColumn("b", bucketOfCell(bounds, cc))
    val inB = Window.partitionBy(col("b")).orderBy(col("ord"), col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withB
      .withColumn("lr", row_number().over(
        Window.partitionBy(col("b")).orderBy(col("ord"), col("k"))).cast("long"))
      .withColumn("lrev", sum(col("rev")).over(inB))
    // offsets from the SAME collected histogram — exact decimals
    // through java.math.BigDecimal
    val perBucket = hist.groupBy(h => bounds.count(_ <= h._1))
      .view.mapValues { rs =>
        (rs.map(_._2).sum,
          rs.map(_._3).foldLeft(java.math.BigDecimal.ZERO)(_.add(_)))
      }.toMap
    var accN = 0L
    var accRev = java.math.BigDecimal.ZERO
    val offRows = (0 to bounds.length).map { b =>
      val row = (b, accN, accRev)
      val (tc, trev) = perBucket.getOrElse(b, (0L, java.math.BigDecimal.ZERO))
      accN += tc; accRev = accRev.add(trev)
      row
    }
    val offsets = offRows.toDF("b", "offN", "offRev")
      .select(col("b"), col("offN"), col("offRev").cast("decimal(38,2)").as("offRev"))
    val out = local.join(broadcast(offsets), Seq("b"))
      .withColumn("rn", col("offN") + col("lr"))
      .withColumn("cumRev", col("offRev") + col("lrev"))
      // NTILE bin of rank rn over n keys in `bins` bins — n is a fold
      // literal now, so no broadcast branch re-reads the key table
      .withColumn("base", lit(n / bins))
      .withColumn("rem", lit(n % bins))
      .withColumn("cut", col("rem") * (col("base") + 1))
      .withColumn("bin",
        (when(col("rn") <= col("cut"), expr("(rn - 1) div (base + 1)"))
          .otherwise(col("rem") + expr("(rn - cut - 1) div base")) + 1).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_keys"),
        max(struct(col("rn"), col("cumRev"))).getField("cumRev").as("binCum"))
      .select(col("bin"), col("n_keys"),
        (col("binCum").cast("double") / lit(totRevD)).as("cum_share"))
      // ≤ bins rows: materialize eagerly so the cache releases here
      .localCheckpoint(true)
    perKey.unpersist()
    out
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between the rows where
    * `sampleACond` holds and the rest — the nonparametric "did the
    * distribution shift" test that pairs with [[ksTest]] (KS sees
    * shape, U sees location). Midranks handle ties exactly: a tie
    * group's rank is the average of the positions it spans, derived
    * from the same bucketed CDF — cumulative count at the value gives
    * the group's END position, the group size its extent, so
    * midrank = end - (size-1)/2 with no global window anywhere.
    * Output: n_a, n_b, u_a (U statistic of sample A), r_a (A's
    * rank-sum), and the normal-approximation z with tie correction.
    */
  def mannWhitneyU(df: DataFrame, valueCol: String,
                   sampleACond: org.apache.spark.sql.Column,
                   buckets: Int = 32): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val counts = pairCounts(df, valueCol, sampleACond)
    val (cdf, nA, nB) = pairCdf(counts, buckets)
    if (nA == 0L && nB == 0L) {
      counts.unpersist()
      return Seq.empty[(Long, Long, Double, Double, Double)]
        .toDF("n_a", "n_b", "r_a", "u_a", "z")
    }
    // tie sizes ride ON the CDF frame now (pairCdf keeps na/nb per
    // value) — the round-9 form re-aggregated the corpus a second time
    // for them; the rank-sum and the tie-correction term come out of
    // ONE |distinct|-sized aggregation over the cached counts
    val row = cdf
      .withColumn("sz", col("na") + col("nb"))
      .withColumn("midrank",
        (col("ca") + col("cb")).cast("double") - (col("sz") - 1).cast("double") / 2.0)
      .agg(sum(col("midrank") * col("na")).as("r_a"),
        sum(col("sz") * col("sz") * col("sz") - col("sz")).as("tie3"))
      .head()
    counts.unpersist()
    val rA = row.getDouble(0)
    val tie3 = row.getLong(1)
    // the SAME IEEE expression shapes as the pre-fusion column algebra
    // (left-associated products, n as a long sum cast per term) — the
    // totals are identical longs, so every double matches bit-for-bit
    val n = nA + nB
    val mu = nA.toDouble * nB.toDouble / 2.0
    val tieAdj = 1.0 - tie3.toDouble /
      (n.toDouble * (n - 1).toDouble * (n + 1).toDouble)
    val sigma = math.sqrt(nA.toDouble * nB.toDouble
      * (n + 1).toDouble / 12.0 * tieAdj)
    val uA = rA - nA.toDouble * (nA + 1).toDouble / 2.0
    val z = (uA - mu) / sigma
    Seq((nA, nB, rA, uA, z)).toDF("n_a", "n_b", "r_a", "u_a", "z")
  }

  /** Per-group winsorized and trimmed means — the outlier-robust
    * aggregates a metrics/feature pipeline uses where a plain mean is
    * hostage to a single fat-finger value: winsorizing CLIPS values to
    * the group's exact [lo, hi] percentiles, trimming DROPS values
    * outside them.
    *
    * The exact interpolated percentile bounds come from the
    * [[groupedInterpolatedQuantiles]] machinery (bit-identical to
    * Spark's `percentile` == DuckDB `quantile_cont`, parity pinned by
    * x_percentiles) — bounded memory at any group size, where the
    * `percentile` aggregate buffers the hottest group's every value in
    * ONE buffer (the round-8 verdict's last 100 TB cliff). The corpus
    * is scanned ONCE: the per-(group, distinct value) counts frame
    * feeds the quantile probe AND the clipped/trimmed aggregation
    * (each value weighted by its multiplicity — c copies of an exact
    * DECIMAL(28,6) summed equals the decimal times c, so the sums are
    * value-identical to the per-row form and exact in any aggregation
    * order; the final double divisions are the only float ops). NULL
    * values and NULL group keys are excluded (observed-values policy).
    * The group key is carried as its STRING rendering (the
    * [[groupedCum]] contract — cast back at the call site if a numeric
    * key must round-trip); the output is a collected-eagerly
    * |groups|-row frame, so no cache outlives the call.
    */
  def winsorizedStats(df: DataFrame, groupCol: String, valCol: String,
                      lo: Double = 0.05, hi: Double = 0.95,
                      buckets: Int = 32,
                      maxFoldRows: Long = 1_000_000L): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"winsorizedStats: bad bounds [$lo, $hi]")
    val counts = groupedCounts(df, groupCol, valCol)
    val (cum, nByGroup) =
      groupedCumCore(counts, buckets, maxFoldRows, "winsorizedStats")
    // bounds rounded to 6 dp BEFORE clipping: the decimal cast of a
    // clipped-to-bound value is then exact on both engines (no
    // double->decimal midpoint rule in play for the bound values)
    val bounds = groupedInterpProbe(cum, nByGroup, Seq(lo, hi), "g")
      .groupBy(col("g"))
      .agg(round(min(when(col("p") === lo, col("value"))), 6).as("p_lo"),
        round(min(when(col("p") === hi, col("value"))), 6).as("p_hi"))
    val clipped = least(greatest(col("v"), col("p_lo")), col("p_hi"))
    val inBand = col("v") >= col("p_lo") && col("v") <= col("p_hi")
    val out = counts
      .join(broadcast(bounds), Seq("g"))
      .groupBy(col("g").as(groupCol))
      .agg(sum(col("c")).as("n"),
        first(col("p_lo")).as("p_lo"),
        first(col("p_hi")).as("p_hi"),
        (sum(clipped.cast("decimal(28,6)") * col("c")).cast("double") /
          sum(col("c"))).as("winsor_mean"),
        (sum(when(inBand, col("v").cast("decimal(28,6)") * col("c"))).cast("double") /
          sum(when(inBand, col("c")))).as("trimmed_mean"))
      // |groups|-row result: materialize eagerly so the counts cache
      // releases here instead of leaking past the return
      .localCheckpoint(true)
    counts.unpersist()
    out
  }

  /** Sketch-backed [[winsorizedStats]] — the beyond-`maxFoldRows` scale
    * path: where the exact operator folds per-(group, cell) totals on
    * the driver under a loud guard, this is TWO corpus passes with
    * O(k·log n) state per group and NO driver fold at any group count
    * or value cardinality:
    *
    *   1. one KLL-sketch hash agg per group reads the INTERPOLATED
    *      [lo, hi] clip bounds ([[graft.functions.KllBuffer.interpolated]]
    *      — `percentile` lerp semantics, rounded to 6 dp exactly as the
    *      exact operator rounds its bounds);
    *   2. one clipped/conditional exact-decimal moment pass with the
    *      |groups|-row bounds frame joined back (AQE broadcasts it when
    *      small; at extreme group counts it stays a keyed equi-join).
    *
    * The means are EXACT GIVEN THE BOUNDS (same decimal(28,6) sums and
    * double divisions as the exact operator); only the bounds carry the
    * sketch's ≈1/k rank error — so the result converges to
    * [[winsorizedStats]] as k grows, and SketchScaleSpec pins the ε at
    * sf0.1. The output STAYS DISTRIBUTED (|groups| rows, same schema),
    * composing into downstream joins without a driver round-trip. Keep
    * the exact operator for oracle surfaces.
    */
  def winsorizedStatsSketch(df: DataFrame, groupCol: String, valCol: String,
                            lo: Double = 0.05, hi: Double = 0.95,
                            k: Int = 4096): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi,
      s"winsorizedStatsSketch: bad bounds [$lo, $hi]")
    // spread the two per-row passes (sketch updates, then the clipped
    // decimal sums): both otherwise run at the scan's task count, and a
    // single-row-group source serializes them through one core;
    // Tables.spread no-ops on a many-split corpus (guide §2.5)
    val base = graft.core.Tables.spread(
      df.filter(col(valCol).isNotNull && col(groupCol).isNotNull)
        .select(col(groupCol).cast("string").as("g"),
          col(valCol).cast("double").as("v")))
    val bounds = base.groupBy(col("g"))
      .agg(graft.functions.KllQuantiles.kllSketch(col("v"), k).as("__sk"))
      .select(col("g"),
        graft.functions.KllQuantiles
          .kllValuesInterp(col("__sk"), Seq(lo, hi)).as("__b"))
      // 6-dp bound rounding: the decimal cast of a clipped-to-bound
      // value is then exact (the exact operator's convention)
      .select(col("g"), round(element_at(col("__b"), 1), 6).as("p_lo"),
        round(element_at(col("__b"), 2), 6).as("p_hi"))
    val clipped = least(greatest(col("v"), col("p_lo")), col("p_hi"))
    val inBand = col("v") >= col("p_lo") && col("v") <= col("p_hi")
    base.join(bounds, Seq("g"))
      .groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        first(col("p_lo")).as("p_lo"),
        first(col("p_hi")).as("p_hi"),
        (sum(clipped.cast("decimal(28,6)")).cast("double") /
          count(lit(1))).as("winsor_mean"),
        (sum(when(inBand, col("v").cast("decimal(28,6)"))).cast("double") /
          sum(when(inBand, 1L))).as("trimmed_mean"))
  }

  /** Per-row NTILE(bins) + LEAD(value) over a GLOBAL (value, tie)
    * order WITHOUT a single-partition window — the scale-safe form of
    * the classic `NTILE(n) OVER (ORDER BY v)` / `LEAD(v) OVER (ORDER
    * BY v)` pair, which moves the ENTIRE table through one task (the
    * textbook driver-side-equivalent bottleneck the rest of this
    * object exists to avoid).
    *
    * Machinery ([[equiDepthBins]]'s, plus a boundary-row exchange for
    * the lead): the bucket id is a monotone function of `valueCol`
    * alone (so a tie block never straddles buckets and the in-bucket
    * order can use the ORIGINAL column), each bucket ranks and leads
    * locally under a PARTITIONED window, and ONE planning-sized
    * driver fold over the ≤ `buckets` per-bucket summaries yields (a)
    * exact rank offsets, (b) the global row count the NTILE cut
    * needs, and (c) each bucket's FIRST row's value — broadcast back
    * so a bucket's LAST row takes its successor bucket's first value
    * as the lead (the boundary-row exchange; the global last row
    * keeps NULL, as LEAD defines). NTILE is the exact SQL row-count
    * form (first n mod bins bins take one extra row, integral div
    * throughout).
    *
    * Ordering is (`valueCol` ASC or DESC per `descending`, `tieCol`
    * ASC); (value, tie) must be unique (the usual NTILE determinism
    * requirement) and NULL values are excluded up front
    * (observed-values policy — pre-filter or coalesce if NULLs must
    * rank). Returns every input column plus `ntile` (int) and
    * `next_value` (valueCol's type). Eager-materialization contract
    * (object scaladoc) applies: the fold runs at call time.
    */
  def ntileLead(df: DataFrame, valueCol: String, tieCol: String,
                bins: Int, descending: Boolean = false,
                buckets: Int = 32): DataFrame = {
    require(bins >= 1, "ntileLead: bins must be >= 1")
    val session = df.sparkSession
    import session.implicits._
    // NOT persisted: the output is corpus-sized (per-row), so an eager
    // release point does not exist and a cache would leak past the
    // return — the histogram job and the caller's action each pay one
    // (filter-pushed, column-pruned) source scan instead
    val obs = df.filter(col(valueCol).isNotNull)
    // monotone double rendering of the ORDER position: negation flips
    // the bucket order for DESC; equal doubles from distinct values
    // only merge buckets (in-bucket order uses the original column)
    val ord = if (descending) -col(valueCol).cast("double")
      else col(valueCol).cast("double")
    // exact in-bucket sort key: __ord is a double rendering, so
    // distinct integral/decimal values beyond 2^53 can COLLIDE in it —
    // the original column (negated for DESC; exact for every numeric
    // type) breaks those collisions, keeping (ntile, next_value) on
    // exact SQL NTILE/LEAD semantics even past double precision
    val vKey = if (descending) -col(valueCol) else col(valueCol)
    val cc = cellOf(col("__ord"))
    // THE one planning job: per-cell row count + first row's value
    // (min struct over the unique (ord, vKey, tie) order carries the
    // value as payload) — boundaries, exact rank offsets, n, and the
    // boundary-exchange values all come out of its single collect
    val hist = obs.withColumn("__ord", ord)
      .groupBy(cc.as("cell"))
      .agg(count(lit(1)).as("__tc"),
        min(struct(col("__ord"), vKey.as("__vk"), col(tieCol), col(valueCol)))
          .getField(valueCol).as("__first"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2)))
      .sortBy(_._1)
    val n = hist.map(_._2).sum
    val bounds = coarseBoundaries(hist.map(h => (h._1, h._2)), buckets)
    val withB = obs.withColumn("__ord", ord)
      .withColumn("__b", bucketOfCell(bounds, cc))
    val inB = Window.partitionBy(col("__b"))
      .orderBy(col("__ord"), vKey, col(tieCol))
    val local = withB
      .withColumn("__lr", row_number().over(inB).cast("long"))
      .withColumn("__lead", lead(col(valueCol), 1).over(inB))
    if (n == 0L) {
      // empty in, empty out — with the output schema intact
      return local.filter(lit(false))
        .withColumn("ntile", lit(1).cast("int"))
        .withColumn("next_value", col("__lead"))
        .drop("__ord", "__b", "__lr", "__lead")
    }
    // fold cells into per-bucket (offset, count, first value): a
    // bucket's first value is its first nonempty cell's (cells are
    // value-ordered)
    val byBucket = hist.groupBy(h => bounds.count(_ <= h._1)).toSeq.sortBy(_._1)
      .map { case (b, cells) => (b, cells.map(_._2).sum, cells.head._3) }
    var acc = 0L
    val vType = df.schema(df.schema.fieldIndex(valueCol)).dataType
    val meta = byBucket.zipWithIndex.map { case ((b, tc, _), i) =>
      val nextFirst = if (i + 1 < byBucket.length) byBucket(i + 1)._3 else null
      val row = (b, acc, tc, nextFirst)
      acc += tc
      row
    }
    val metaDf = meta.map { case (b, off, tc, nf) => (b, off, tc) }
      .toDF("__b", "__off", "__btc")
    // the boundary values ride as a typed literal column (per-bucket
    // CASE over ≤ buckets branches), cast back to the input type so
    // the when/otherwise below unifies without widening the schema
    val nextFirstCol = meta
      .foldLeft(lit(null).cast(vType)) { case (acc0, (b, _, _, nf)) =>
        when(col("__b") === b, lit(nf).cast(vType)).otherwise(acc0)
      }
    val out = local.join(broadcast(metaDf), Seq("__b"))
      .withColumn("__rn", col("__off") + col("__lr"))
      // NTILE row-count form over the driver-folded n (equiDepthBins)
      .withColumn("__base", lit(n / bins))
      .withColumn("__rem", lit(n % bins))
      .withColumn("__cut", col("__rem") * (col("__base") + 1))
      .withColumn("ntile",
        (when(col("__rn") <= col("__cut"),
          expr("(__rn - 1) div (__base + 1)"))
          .otherwise(col("__rem") + expr("(__rn - __cut - 1) div __base"))
          + 1).cast("int"))
      .withColumn("next_value",
        when(col("__lr") < col("__btc"), col("__lead"))
          .otherwise(nextFirstCol))
    out.drop("__ord", "__b", "__lr", "__lead", "__off", "__btc",
      "__rn", "__base", "__rem", "__cut")
  }

  /** Equi-depth binning (NTILE semantics, but no single-task global
    * window): every row's global rank ordered by (`valueCol`,
    * `tieCol`) comes from the same bucketed prefix sum as [[ksTest]],
    * and bin k of `bins` gets the NTILE row counts (the first
    * n mod bins bins take one extra row). Returns per-bin count, min
    * and max of `valueCol`. `tieCol` must make (value, tie) unique.
    */
  def equiDepthBins(df: DataFrame, valueCol: String, tieCol: String,
                    bins: Int, buckets: Int = 32): DataFrame = {
    require(bins >= 1, "equiDepthBins: bins must be >= 1")
    val session = df.sparkSession
    import session.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // global rank without a global window, in ONE bucketed pass:
    // bucket id is a function of v alone (so a tie group never
    // straddles buckets), per-bucket row_number over (v, tie) after
    // one shuffle on the bucket id, with exact offsets and the global
    // row count folded from the SINGLE fine-cell histogram job (which
    // also fills the cache — the ranking pass re-reads it)
    // observed-values policy (ntileLead/cumeDist/globalCum convention):
    // a NULL value would produce a NULL fine cell and crash the
    // histogram collect with a bare NPE instead of ranking anywhere
    val keyed = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"), col(tieCol).as("t"))
      .persist(lvl)
    val cc = cellOf(col("v"))
    val hist = keyed.groupBy(cc.as("cell")).agg(count(lit(1)).as("tc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val n = hist.map(_._2).sum
    if (n == 0L) {
      keyed.unpersist()
      return Seq.empty[(Int, Long, Double, Double)].toDF("bin", "cnt", "lo", "hi")
    }
    // boundaries balanced by ROW count (the in-bucket window iterates
    // rows here, not distinct values)
    val bounds = coarseBoundaries(hist, buckets)
    val withB = keyed.withColumn("b", bucketOfCell(bounds, cc))
    val inB = Window.partitionBy(col("b")).orderBy(col("v"), col("t"))
    val local = withB.withColumn("lr", row_number().over(inB).cast("long"))
    val perBucket = hist.groupBy(h => bounds.count(_ <= h._1))
      .view.mapValues(_.map(_._2).sum).toMap
    var acc = 0L
    val offRows = (0 to bounds.length).map { b =>
      val row = (b, acc); acc += perBucket.getOrElse(b, 0L); row
    }
    val withRank = local.join(broadcast(offRows.toDF("b", "off")), Seq("b"))
      .withColumn("rn", col("off") + col("lr"))
    // NTILE semantics: first (n mod bins) bins take base+1 rows.
    // Integral div throughout — `/` on longs is double division in
    // Spark SQL and mangles ranks past 2^53. n is a fold literal, so
    // no broadcast branch re-reads the data.
    val out = withRank
      .withColumn("base", lit(n / bins))
      .withColumn("rem", lit(n % bins))
      .withColumn("cut", col("rem") * (col("base") + 1))
      .withColumn("bin",
        when(col("rn") <= col("cut"), expr("(rn - 1) div (base + 1)"))
          .otherwise(col("rem") + expr("(rn - cut - 1) div base")))
      .groupBy((col("bin") + 1).cast("int").as("bin"))
      .agg(count(lit(1)).as("cnt"), min(col("v")).as("lo"), max(col("v")).as("hi"))
      // ≤ bins rows: materialize eagerly so the cache releases here
      .localCheckpoint(true)
    keyed.unpersist()
    out
  }
}
