package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** PageRank over an edge DataFrame — the graph-centrality quality
  * signal web-corpus pipelines weight documents by (a page linked from
  * many well-linked pages is likelier to be worth training on).
  *
  * Pregel-in-DataFrame: ranks and contributions are plain relational
  * state, one hash-join + one partially-aggregated SUM per iteration —
  * no vertex-program framework needed. Per iteration:
  *
  *   r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)/outdeg(u)  +  D/N )
  *
  * where D is the total rank mass sitting on dangling nodes (no
  * out-edges), redistributed uniformly (the standard dangling-node
  * fix). D is NOT a separate pass: the contribution aggregation runs
  * as ROLLUP(dst), whose grand-total row gives Σc, and D = 1 − Σc by
  * the Σr = 1 loop invariant — one aggregation job per iteration.
  *
  * Scale shape: each iteration shuffles |E| contribution rows keyed on
  * dst plus |V| rank rows — never materializing anything quadratic.
  * Rounds run on [[FixedPoint]]: the rank frame appears in several
  * places in the next round's plan, so every round is cut.
  */
object PageRank {

  /** Ranks after `iters` rounds: `(node, r)` with Σ r = 1. Multi-edges
    * count multiplicity (dedup edges first for simple-graph behavior);
    * `srcCol`/`dstCol` must be the same type.
    *
    * Vertex-state joins are broadcast when the graph is small enough:
    * checkpointed frames carry NO size statistics (LogicalRDD defaults
    * to "huge"), so without the explicit hint every iteration
    * sort-merge-joins |E| edge rows against a |V|-row rank frame —
    * measured 4 s/iteration on a 16k-node graph that broadcasts in
    * well under 1 s. |V| is counted ONCE (the count doubles as the N
    * constant, which the rank formula needs anyway) and the hint
    * applies below `maxBroadcastNodes`; above it the joins stay
    * shuffled, which is the correct plan for a web-scale graph. */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iters: Int = 5, damping: Double = 0.85,
            maxBroadcastNodes: Long = 10_000_000L): DataFrame =
    ranksWithN(edges, srcCol, dstCol, iters, damping, maxBroadcastNodes)._1

  /** [[ranks]] plus |V| — the N the loop already counted, so callers
    * scaling by the node count ([[relativeRanks]]) don't pay a second
    * count job over the result frame. */
  private def ranksWithN(edges: DataFrame, srcCol: String, dstCol: String,
                         iters: Int, damping: Double,
                         maxBroadcastNodes: Long): (DataFrame, Long) = {
    require(iters >= 1, "pageRank: iters must be >= 1")
    require(damping > 0 && damping < 1, s"pageRank: damping $damping outside (0,1)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(lvl)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist(lvl)
    val nNodes = nodes.count() // one action: N constant + broadcast decision
    val r = propagate(e, nodes, lit(1.0 / nNodes), iters,
      nNodes <= maxBroadcastNodes, inputs = Seq(e, nodes))(dm =>
      lit((1.0 - damping) / nNodes) +
        lit(damping) * (coalesce(col("c"), lit(0.0)) + lit(dm / nNodes)))
    (r, nNodes)
  }

  /** Personalized PageRank with a SEED restart distribution — the
    * TrustRank shape web-corpus curation uses: trust mass restarts at
    * hand-vetted seed nodes instead of uniformly, so the score is
    * "how reachable from the trusted set", not raw centrality (Gyöngyi
    * et al. 2004). The update replaces [[ranks]]'s uniform 1/N with
    * p(v) = 1/|S| on seeds and 0 elsewhere:
    *
    *   r'(v) = (1-d)·p(v) + d·( Σ_{u→v} r(u)/outdeg(u) + D·p(v) )
    *
    * with the dangling mass D restarting into the seed distribution
    * (the PPR-standard fix — Σr = 1 is preserved because Σp = 1).
    * Seeds not present in the graph are ignored; at least one seed
    * must touch the graph (fail loud — an empty restart vector has no
    * stationary distribution). r0 = p, so unreachable components score
    * exactly (1-d)·0 + … = 0 at every round: the score IS the trust
    * reachability.
    *
    * Same round loop as [[ranks]] (one |E|-join + one partial-agged
    * ROLLUP aggregation job per round; vertex joins broadcast below
    * `maxBroadcastNodes`); only the rank-update column differs, since
    * the uniform path's float constants ((1-d)/N precomputed on the
    * driver) are oracle-pinned and must not change form.
    */
  def trustRanks(edges: DataFrame, srcCol: String, dstCol: String,
                 seeds: DataFrame, seedCol: String,
                 iters: Int = 5, damping: Double = 0.85,
                 maxBroadcastNodes: Long = 10_000_000L): DataFrame =
    trustRanksWithN(edges, srcCol, dstCol, seeds, seedCol, iters, damping,
      maxBroadcastNodes)._1

  private def trustRanksWithN(edges: DataFrame, srcCol: String, dstCol: String,
                              seeds: DataFrame, seedCol: String,
                              iters: Int, damping: Double,
                              maxBroadcastNodes: Long): (DataFrame, Long) = {
    require(iters >= 1, "trustRanks: iters must be >= 1")
    require(damping > 0 && damping < 1, s"trustRanks: damping $damping outside (0,1)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(lvl)
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
    val flagged = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(seedSet.select(col("node"), lit(1).as("__s")), Seq("node"), "left")
      .persist(lvl)
    // ONE action: |V| (broadcast decision) and the seed count (the p
    // mass) from the same aggregation — mirrors ranks' nNodes fold
    val stats = flagged.agg(count(lit(1)).as("n"), sum(col("__s")).as("s")).head()
    val nNodes = stats.getLong(0)
    val nSeeds = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    if (nSeeds == 0) { e.unpersist(); flagged.unpersist() }
    require(nSeeds > 0,
      "trustRanks: no seed node appears in the graph — empty restart vector")
    val nodesP = flagged
      .select(col("node"),
        when(col("__s").isNotNull, lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("p"))
      .persist(lvl)
    val r = propagate(e, nodesP, col("p"), iters, nNodes <= maxBroadcastNodes,
      inputs = Seq(e, flagged, nodesP))(dm =>
      lit(1.0 - damping) * col("p") +
        lit(damping) * (coalesce(col("c"), lit(0.0)) + lit(dm) * col("p")))
    (r, nNodes)
  }

  /** The loop [[ranks]] and [[trustRanks]] share: `iters` rounds over
    * `vertices` (`node` plus whatever `update` reads) from rank `r0`.
    * `update(dm)` is the rank column given the round's dangling mass
    * `dm`; each caller keeps its own oracle-pinned float form.
    *
    * Σ_{u→v} r(u)/outdeg(u) is keyed on dst, partial-agged map-side;
    * rank and degree frames are |V|-sized → broadcast when `small`.
    * ROLLUP(dst) fuses the dangling-mass reduction into this same
    * aggregation: the grand-total row (dst NULL — edge dsts are never
    * null) carries Σc = the rank mass on NON-dangling nodes, so
    * D = Σr − Σc = 1 − Σc (the loop invariant Σr = 1 holds to float
    * residue, which this identity actively re-normalizes instead of
    * letting it drift). The Expand doubling |E| rows is
    * map-side-combined before any shuffle. The one-row dangling mass is
    * folded into a literal on the driver (the Stats offsets pattern),
    * so the rank update carries no broadcast subquery; that `head()` is
    * the round's single job. */
  private def propagate(e: DataFrame, vertices: DataFrame, r0: Column,
                        iters: Int, small: Boolean, inputs: Seq[DataFrame])(
                        update: Double => Column): DataFrame = {
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val deg = e.groupBy("src").agg(count(lit(1)).cast("double").as("od"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    FixedPoint.run[DataFrame](e.sparkSession, iters, earlyStop = false,
      init = round => round.cut(vertices.select(col("node"), r0.as("r"))),
      step = (round, r) => {
        val cAll = round.cache(e
          .join(hint(r.select(col("node").as("src"), col("r"))), Seq("src"))
          .join(hint(deg), Seq("src"))
          .rollup(col("dst"))
          .agg(sum(col("r") / col("od")).as("c")))
        val dm = 1.0 - cAll.filter(col("dst").isNull)
          .select(coalesce(col("c"), lit(0.0))).head().getDouble(0)
        round.cut(vertices
          .join(hint(cAll.filter(col("dst").isNotNull)
            .select(col("dst").as("node"), col("c"))), Seq("node"), "left")
          .select(col("node"), update(dm).as("r")))
      },
      finish = identity,
      inputs = inputs :+ deg)._1
  }

  /** [[trustRanks]] scaled like [[relativeRanks]] (rank·N, so 1.0 =
    * the uniform-rank level): the joinable trust score. */
  def relativeTrustRanks(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String,
                         iters: Int = 5, damping: Double = 0.85): DataFrame = {
    val (r, n) = trustRanksWithN(edges, srcCol, dstCol, seeds, seedCol,
      iters, damping, 10_000_000L)
    r.select(col("node"), (col("r") * n.toDouble).as("trust"))
  }

  /** Ranks scaled so 1.0 = the uniform rank (rank·N): the relative
    * centrality score a corpus-weighting pipeline joins back on.
    * N = the |V| the loop already counted (one row per node by
    * construction) — no second count over the result frame, and still
    * no second distinct-union pass over the edges. */
  def relativeRanks(edges: DataFrame, srcCol: String, dstCol: String,
                    iters: Int = 5, damping: Double = 0.85): DataFrame = {
    val (r, n) = ranksWithN(edges, srcCol, dstCol, iters, damping, 10_000_000L)
    r.select(col("node"), (col("r") * n.toDouble).as("rel_rank"))
  }
}
