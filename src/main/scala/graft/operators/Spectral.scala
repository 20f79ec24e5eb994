package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.core.Parallelism

/** Top principal component of an embedding column — the spectral
  * primitive behind PCA-whitening before ANN indexing, anisotropy
  * diagnostics of an embedding space, and "is there a dominant
  * direction" drift checks on a corpus's representation.
  *
  * Scale shape (MLlib RowMatrix.computePrincipalComponents re-expressed
  * for determinism): the only pass over the data is a NARROW
  * `mapPartitions` that folds each partition into one local
  * (count, Σq, qᵀq) moment block — d²+d+1 numbers per partition,
  * independent of row count — and the collected partials (one row per
  * partition, the planning-sized-collect pattern) combine on the
  * driver, where the d×d eigen problem is solved by fixed-order power
  * iteration. Nothing about the corpus size reaches the driver; a
  * 100 TB run ships numPartitions moment blocks, same as sf0.01.
  *
  * Determinism (what makes a value-level DuckDB oracle possible):
  * vectors are integer-quantized up front (`floor(v·scale)`, the
  * [[graft.functions.QuantizeVec]] keystone), so every moment is a sum
  * of integers — exact in any accumulation order. Partition partials
  * accumulate in Long with `addExact`/`multiplyExact` (overflow fails
  * LOUD, never wraps — the width-guard discipline), and the driver
  * combine runs in BigInt, so the covariance numerator
  * n·G_ij − S_i·S_j is EXACT at any scale. Only then does arithmetic
  * go floating-point, and both engines divide the same exact integer
  * by the same expression — the power iteration that follows runs on
  * bit-identical matrices, and a fixed iteration count (convergence or
  * not, the result is a pure function of (C, iters)) replays as an
  * unrolled CTE chain. Sign is canonicalized so the largest-|loading|
  * dimension (smallest index on ties) is positive.
  */
object Spectral {

  /** `(dim, loading, eigval, explained)` — one row per dimension
    * (1-based, matching SQL's generate_series), the unit top
    * eigenvector of the covariance matrix after `iters` power-iteration
    * rounds, the associated eigenvalue estimate (‖C·v‖ of the last
    * round), and its share of total variance (eigval / trace C).
    * Rows with a NULL vector are excluded; a vector of the wrong
    * length fails loud.
    */
  def topComponent(df: DataFrame, vecCol: String, dims: Int,
                   iters: Int = 12, scale: Int = 10000): DataFrame =
    topComponents(df, vecCol, dims, k = 1, iters, scale)
      .drop("component")

  /** Top-`k` principal components by repeated power iteration with
    * Hotelling deflation: after each component converges, its rank-1
    * contribution λ·v·vᵀ is subtracted (sign-invariant, so deflation
    * uses the RAW iterate, before sign canonicalization) and the next
    * component is extracted from the residual matrix — all on the
    * driver's d×d copy; the corpus is still touched exactly once.
    * Returns `(component, dim, loading, eigval, explained)`, components
    * 1-based in decreasing-eigenvalue order.
    *
    * `explainedTarget` < the default caps the spend: extraction stops
    * after the component whose CUMULATIVE (unrounded) variance share
    * reaches the target — a FREE driver-side decision (the corpus pass
    * already happened; each skipped component saves only driver d×d
    * work, but a rank-deficient space also stops emitting
    * numerically-meaningless residue components). The emitted
    * components are bit-identical to an uncapped run's prefix.
    */
  def topComponents(df: DataFrame, vecCol: String, dims: Int, k: Int,
                    iters: Int = 12, scale: Int = 10000,
                    explainedTarget: Double = Double.MaxValue): DataFrame = {
    require(dims >= 2, "topComponents: need at least 2 dimensions")
    require(k >= 1 && k < dims, s"topComponents: k=$k outside [1, dims)")
    require(iters >= 1, "topComponents: iters must be >= 1")
    require(scale > 0, "topComponents: scale must be positive")
    val spark = df.sparkSession
    val d = dims

    // one narrow pass: per-partition exact integer moments.
    // checked arithmetic: a partition hot enough to overflow a Long
    // (|q|·rows beyond 2^63) must fail loud, not wrap into a silently
    // wrong covariance.
    val partials: Array[(Long, Array[Long], Array[Long])] = df
      .select(col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .queryExecution.toRdd.mapPartitions { rows =>
        val sums = new Array[Long](d)
        val gram = new Array[Long](d * (d + 1) / 2) // upper triangle j >= i
        val q = new Array[Long](d)
        var n = 0L
        rows.foreach { r =>
          val arr = r.getArray(0)
          require(arr.numElements() == d,
            s"topComponent: vector of length ${arr.numElements()}, expected $d")
          var i = 0
          while (i < d) {
            val x = arr.getDouble(i)
            // non-finite input fails LOUD (the addExact discipline):
            // floor(NaN·scale).toLong is silently 0 and ±Infinity
            // saturates to Long.Max/Min — either would dilute the
            // covariance instead of flagging the corrupt row
            require(!x.isNaN && !x.isInfinite,
              s"topComponent: non-finite value $x at dim ${i + 1} — " +
                "NaN/Infinity cannot be quantized")
            q(i) = math.floor(x * scale).toLong
            sums(i) = Math.addExact(sums(i), q(i))
            i += 1
          }
          i = 0
          var t = 0
          while (i < d) {
            var j = i
            while (j < d) {
              gram(t) = Math.addExact(gram(t), Math.multiplyExact(q(i), q(j)))
              j += 1; t += 1
            }
            i += 1
          }
          n += 1
        }
        if (n == 0) Iterator.empty
        else Iterator.single((n, sums.clone(), gram.clone()))
      }.collect()

    val n = partials.iterator.map(_._1).sum
    require(n >= 2, s"topComponent: need at least 2 rows, got $n")
    // BigInt combine: exact past Long range no matter how many
    // partitions contribute
    val s = Array.fill(d)(BigInt(0))
    val g = Array.fill(d * (d + 1) / 2)(BigInt(0))
    partials.foreach { case (_, ps, pg) =>
      var i = 0
      while (i < d) { s(i) += ps(i); i += 1 }
      i = 0
      while (i < g.length) { g(i) += pg(i); i += 1 }
    }
    // C_ij = (n·G_ij − S_i·S_j) / (n·scale)² — numerator exact, one
    // double division with the same expression shape as the oracle
    val bn = BigInt(n)
    val denom = (n.toDouble * scale) * (n.toDouble * scale)
    val c = Array.ofDim[Double](d, d)
    var i = 0
    var t = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = (bn * g(t) - s(i) * s(j)).toDouble / denom
        c(i)(j) = v; c(j)(i) = v
        j += 1; t += 1
      }
      i += 1
    }

    // trace of the ORIGINAL covariance — explained shares of every
    // component are against total variance
    var trace = 0.0
    i = 0
    while (i < d) { trace += c(i)(i); i += 1 }

    // per component: fixed-order power iteration (ascending-j dot
    // products, ascending-i norm — the shapes the unrolled oracle CTEs
    // replay), then Hotelling deflation with the RAW iterate.
    // START VECTOR is the index ramp (1, 2, …, d), NOT uniform: a
    // uniform start is orthogonal to any zero-sum eigenvector, and on
    // the deflated matrix that turns the first product into pure
    // cancellation residue — deterministic, but catastrophically
    // cancelled, so engine-vs-oracle ulp differences blow up
    // relatively. The ramp has a nonzero projection on generic
    // eigenvectors; the first normalization absorbs its scale.
    val out = Seq.newBuilder[(Int, Int, Double, Double, Double)]
    var cumExplained = 0.0
    var comp = 1
    var stop = false
    while (comp <= k && !stop) {
      var v = Array.tabulate(d)(i => (i + 1).toDouble)
      var nrm = 0.0
      for (_ <- 1 to iters) {
        val w = new Array[Double](d)
        var a = 0
        while (a < d) {
          var acc = 0.0
          var b = 0
          while (b < d) { acc += c(a)(b) * v(b); b += 1 }
          w(a) = acc; a += 1
        }
        var sq = 0.0
        a = 0
        while (a < d) { sq += w(a) * w(a); a += 1 }
        nrm = math.sqrt(sq)
        a = 0
        while (a < d) { w(a) = w(a) / nrm; a += 1 }
        v = w
      }
      // sign canonicalization: strict > keeps the smallest index on
      // ties — applied to the OUTPUT only (deflation is sign-invariant)
      var best = 0
      i = 1
      while (i < d) { if (math.abs(v(i)) > math.abs(v(best))) best = i; i += 1 }
      val sign = if (v(best) < 0) -1.0 else 1.0
      var dim = 0
      while (dim < d) {
        out += ((comp, dim + 1, v(dim) * sign, nrm, nrm / trace))
        dim += 1
      }
      // variance-explained early termination: a driver-side decision
      // on the UNROUNDED cumulative share — emitted components are an
      // uncapped run's exact prefix, later deflations simply never run
      cumExplained += nrm / trace
      stop = cumExplained >= explainedTarget
      if (comp < k && !stop) {
        i = 0
        while (i < d) {
          var j = 0
          while (j < d) { c(i)(j) = c(i)(j) - nrm * v(i) * v(j); j += 1 }
          i += 1
        }
      }
      comp += 1
    }

    import spark.implicits._
    // + 0.0 after the round: a loading that rounds to zero from below
    // is -0.0, whose bit pattern would hash-mismatch the oracle's +0.0
    out.result().toDF("component", "dim", "loading", "eigval", "explained")
      .select(col("component"), col("dim"),
        (round(col("loading"), 5) + lit(0.0)).as("loading"),
        round(col("eigval"), 6).as("eigval"),
        round(col("explained"), 6).as("explained"))
  }

  /** Spectral outlier score: distance of each vector from the span of
    * the top-`k` principal components — the "doesn't look like the
    * corpus's dominant structure" anomaly signal (mislabeled modality,
    * encoder glitches, adversarial rows) that pairs with [[Dedup]]'s
    * semantic dedup on the SAME embedding column. Returns the `topN`
    * most-distant rows `(idCol, resid)`, residual rounded to 6 dp.
    *
    * Scale shape: the component extraction is [[topComponents]] (one
    * corpus pass + driver eigen); scoring is a second NARROW pass —
    * the k×d loading table rides into the row expression as a literal,
    * projections and the residual are sequential per-row folds, and
    * the top-N plans as TakeOrdered (no global sort). The contract
    * uses the ROUNDED loadings (the operator's own output), which
    * makes the scoring replayable: both engines fold the same 5-dp
    * component values, so the only divergence is the final rounding.
    */
  def subspaceOutliers(df: DataFrame, idCol: String, vecCol: String,
                       dims: Int, k: Int = 2, topN: Int = 20,
                       iters: Int = 12, scale: Int = 10000): DataFrame = {
    require(topN >= 1, "subspaceOutliers: topN must be >= 1")
    val comps: Array[Array[Double]] = topComponents(df, vecCol, dims, k, iters, scale)
      .orderBy("component", "dim").collect()
      .grouped(dims).map(_.map(_.getDouble(2))).toArray
    val e = col(vecCol).cast("array<double>")
    // per-component projection p_c = Σ_i e_i·v_c_i, ascending-i fold
    val projections = comps.zipWithIndex.map { case (v, c) =>
      aggregate(zip_with(e, typedLit(v.toSeq), (x, w) => x * w),
        lit(0.0), (a, x) => a + x).as(s"__p$c")
    }
    // spread the scoring pass: the per-row HOF folds (k projections +
    // residual square-sum over `dims`-wide arrays) are the query's
    // whole post-planning cost and otherwise run at the scan's split
    // count (measured 1 task × ~1.7 s CPU at sf0.1 — guide §2.5);
    // per-row arithmetic and the (resid, id) TakeOrdered are
    // partition-independent, so the top-N is byte-identical
    val withP = Parallelism.spreadIfNarrow(df.filter(col(vecCol).isNotNull))
      .select(col(idCol) +: e.as("__e") +: projections.toIndexedSeq: _*)
    // residual r_i = e_i − Σ_c p_c·v_c_i (left-assoc per component),
    // resid = sqrt of the ascending square-sum fold
    val r = comps.zipWithIndex.foldLeft(col("__e")) { case (acc, (v, c)) =>
      zip_with(acc, typedLit(v.toSeq), (x, w) => x - col(s"__p$c") * w)
    }
    val resid2 = aggregate(r, lit(0.0), (a, x) => a + x * x)
    withP.select(col(idCol), round(sqrt(resid2), 6).as("resid"))
      .orderBy(col("resid").desc, col(idCol))
      .limit(topN)
  }
}
