package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling — the graph-density
  * filter corpus and interaction graphs use to separate a well-
  * connected core from peripheral noise (spam accounts, one-off
  * crawl artifacts, weakly-attested entities): repeatedly delete
  * every node whose CURRENT degree is below k; what survives is the
  * k-core, the maximal subgraph where every node keeps ≥ k
  * neighbours. Deleting a node lowers its neighbours' degrees, so
  * peeling CASCADES — a node can look well-connected and still fall
  * in a later round because its support was itself peripheral.
  *
  * Pregel-in-DataFrame like [[PageRank]]/[[LabelPropagation]]: the
  * graph is symmetrized once (k-core is an undirected notion), and
  * each round is ONE partial-agged degree aggregation plus two
  * semi-joins that drop edges touching a peeled endpoint — |E|-keyed
  * joins, no driver-side graph state. The survivor frame is |V|-sized
  * and broadcasts below `maxBroadcastNodes` (the [[PageRank.ranks]]
  * size-statistics rationale). Rounds run on [[FixedPoint]]. A fixed
  * `rounds` cap keeps the result an exact closed form of (edges, k,
  * rounds) — replayable by an unrolled oracle — with an optional
  * early-stop certificate in the
  * [[LabelPropagation.communitiesConverged]] style.
  */
object KCore {

  /** Surviving `(node, degree)` after `rounds` peel rounds at
    * threshold `k`, degrees measured in the CURRENT residual graph
    * (so a row with degree < k is one the NEXT round would peel —
    * rounds was too small for a fixpoint; raise it or use
    * [[kCoreConverged]]). Input edges are treated as undirected
    * simple edges (symmetrized, duplicates collapsed, self-loops
    * dropped — a self-loop would let a node support itself).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int,
            maxBroadcastNodes: Long = 10_000_000L): DataFrame =
    kCoreConverged(edges, srcCol, dstCol, k, rounds, earlyStop = false,
      maxBroadcastNodes)._1

  /** [[kCore]] plus the convergence certificate `(result, roundsRun,
    * converged)`: with `earlyStop` each round pays one extra tiny
    * count (peeled == 0 → the fixpoint is PROVEN and remaining rounds
    * are skipped); the check runs on the final round too, so a
    * fixpoint reached exactly at the cap certifies (the
    * [[LabelPropagation.communitiesConverged]] contract). */
  def kCoreConverged(edges: DataFrame, srcCol: String, dstCol: String,
                     k: Int, rounds: Int, earlyStop: Boolean = false,
                     maxBroadcastNodes: Long = 10_000_000L)
      : (DataFrame, Int, Boolean) = {
    require(k >= 1, "kCore: k must be >= 1")
    require(rounds >= 1, "kCore: rounds must be >= 1")
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    // persisted: the |V| sizing count below would otherwise re-run the
    // union+distinct shuffle a second time when the round-0 checkpoint
    // materializes (review — the GraphStats/PageRank discipline)
    val sym = raw.unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one action: |V| of the symmetrized graph for the hint decision
    val small = sym.select(col("src")).distinct().count() <= maxBroadcastNodes
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df

    // a peeled node always owned >= 1 residual edge, so "no node peeled"
    // is EXACTLY "edge count unchanged": with earlyStop, one count per
    // round
    FixedPoint.run[FixedPoint.Counted](edges.sparkSession, rounds, earlyStop,
      init = round => new FixedPoint.Counted(round.cut(sym)),
      step = (round, s) => {
        // symmetric edges: out-degree on src IS the undirected degree
        val e = s.df
        val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src").as("node"))
        new FixedPoint.Counted(round.cut(e
          .join(hint(keep.select(col("node").as("src"))), Seq("src"), "left_semi")
          .join(hint(keep.select(col("node").as("dst"))), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))))
      },
      certificate = Option.when(earlyStop)((prev, next) => prev.rows == next.rows),
      finish = s => s.df.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree")),
      inputs = Seq(sym))
  }
}
