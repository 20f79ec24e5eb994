package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999) — the link-analysis
  * signal [[PageRank]] cannot express on DIRECTED bipartite-ish
  * graphs: an authority is a node good sources point AT, a hub is a
  * node that points at good authorities, and the two scores reinforce
  * mutually (a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v)). On a
  * buyer→supplier or query→document graph the split is exactly the
  * two roles PageRank conflates.
  *
  * Normalization is BY THE MAXIMUM each half-round (scores land in
  * [0, 1] with the top hub/authority pinned at exactly 1.0) rather
  * than the textbook L2 norm: the max of a column is deterministic
  * where a parallel sum-of-squares is one more float-order surface,
  * and either choice converges to the same principal-eigenvector
  * DIRECTION — the quantity HITS ranks by.
  *
  * Pregel-in-DataFrame like the rest of the link-analysis family:
  * each half-round is one |E|-keyed join + one partial-agged SUM, and
  * the 1-row max rides as a BROADCAST aggregate (crossJoin) rather
  * than a per-round driver fold. Each round ends with ONE tiny driver
  * action — a |V|-keyed join of the new and previous hub frames
  * aggregated to max|Δh| — the [[FixedPoint]] CONVERGENCE CERTIFICATE:
  * [[scoresConverged]] with `earlyStop` skips the remaining rounds
  * once max|Δh| ≤ `tol` (default 0.0 — a PROVEN fixpoint, so skipped
  * rounds are exact no-ops and the output is identical to running
  * them). Vertex frames broadcast below `maxBroadcastNodes`; at most
  * the current round's two raw half-round frames are cached. Nodes
  * nothing points at hold authority 0; pure sinks hold hub 0 — both
  * kept (left join, coalesce), since "this node has no hub role" is
  * signal, not absence. Returns `(node, hub, auth)` unrounded; callers round for
  * cross-engine comparison (only per-sum float order differs).
  */
object Hits {

  def scores(edges: DataFrame, srcCol: String, dstCol: String,
             iters: Int = 3,
             maxBroadcastNodes: Long = 10_000_000L): DataFrame =
    scoresConverged(edges, srcCol, dstCol, iters, earlyStop = false,
      maxBroadcastNodes = maxBroadcastNodes)._1

  /** [[scores]] plus the convergence certificate `(result, roundsRun,
    * converged)`: the per-round max|Δh| aggregate every round already
    * pays is compared against `tol` (the [[FixedPoint]] certificate
    * contract). At the default `tol = 0.0` the fixpoint is
    * exact, so early-stopped output is bit-identical to the uncapped
    * run. */
  def scoresConverged(edges: DataFrame, srcCol: String, dstCol: String,
                      iters: Int = 3, earlyStop: Boolean = false,
                      tol: Double = 0.0,
                      maxBroadcastNodes: Long = 10_000_000L)
      : (DataFrame, Int, Boolean) = {
    require(iters >= 1, "hits: iters must be >= 1")
    require(tol >= 0.0, "hits: tol must be >= 0")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().persist(lvl)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist(lvl)
    val nNodes = nodes.count() // one action: emptiness + broadcast decision
    if (nNodes == 0) { e.unpersist(); nodes.unpersist() }
    require(nNodes > 0, "hits: empty edge set — no scores to compute")
    val small = nNodes <= maxBroadcastNodes
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df

    // one half-round: score `out` of each node = Σ `score` of `prev` over
    // the edges reaching it `from` the other end, normalized by the
    // broadcast 1-row max. The raw frame feeds both the per-node join and
    // the max, so it is cached and populated first: both consumers ride
    // in as BROADCAST builds that run concurrently ahead of the main
    // stages, and against an unpopulated cache each would recompute the
    // |E|-keyed join
    def half(round: FixedPoint.Round, prev: DataFrame, score: String,
             from: String, to: String, out: String): DataFrame = {
      val raw = round.cache(e
        .join(hint(prev.select(col("node").as(from), col(score))), Seq(from))
        .groupBy(col(to).as("node")).agg(sum(col(score)).as("raw")))
      raw.count()
      round.cut(nodes
        .join(hint(raw), Seq("node"), "left")
        .crossJoin(broadcast(raw.agg(max(col("raw")).as("mx"))))
        .select(col("node"), coalesce(col("raw") / col("mx"), lit(0.0)).as(out)))
    }

    // state (h, a); a has no value before the first round
    FixedPoint.run[(DataFrame, DataFrame)](edges.sparkSession, iters, earlyStop,
      init = round => (round.cut(nodes.select(col("node"), lit(1.0).as("h"))),
        nodes.select(col("node"), lit(0.0).as("a"))),
      // authority a(v) = Σ h(u) over in-edges, then hub h(u) = Σ a(v)
      // over out-edges
      step = { case (round, (h, _)) =>
        val a = half(round, h, "h", from = "src", to = "dst", out = "a")
        (half(round, a, "a", from = "dst", to = "src", out = "h"), a)
      },
      // max|Δh| over a |V|-keyed join of two cut frames: the round's one
      // driver action
      certificate = Some { case ((hPrev, _), (h, _)) =>
        h.join(hPrev.select(col("node"), col("h").as("__h0")), Seq("node"))
          .agg(max(abs(col("h") - col("__h0"))).as("dh"))
          .head().getDouble(0) <= tol
      },
      finish = { case (h, a) =>
        h.join(a, Seq("node"))
          .select(col("node"), col("h").as("hub"), col("a").as("auth"))
      },
      inputs = Seq(e, nodes))
  }
}
