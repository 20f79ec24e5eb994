package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (LPA) community detection over an
  * edge DataFrame — the cheap community signal corpus pipelines use to
  * group near-duplicate *sites* (not just pages): domains that copy
  * each other end up in one community, and per-community caps bound
  * how much of the training mix any one content farm supplies.
  *
  * Pregel-in-DataFrame like [[PageRank]] / [[GraphTraversal]]: labels
  * are a plain `(node, lbl)` frame. Per round every node adopts the
  * most frequent label among its neighbors (deterministic tie-break:
  * smallest label), computed as
  *
  *   votes:  edges ⋈ labels on src, hash-agg per (dst, lbl) → cnt
  *   adopt:  hash-agg per dst, `min_by(lbl, (-cnt, lbl))`
  *
  * — two aggregations, both with map-side partial aggregation, so the
  * shuffle carries at most |E| vote rows (combined to |V|·avg-distinct-
  * neighbor-labels) and |V| adoption rows. SYNCHRONOUS updates (all
  * nodes flip on the round boundary) keep the result a pure function
  * of (graph, iters) — asynchronous LPA is order-dependent and could
  * not be value-oracled. All label arithmetic is on integers: the
  * result is exact, no float anywhere.
  *
  * Scale shape: nothing quadratic — per round one |E|-row equi-join
  * keyed on src plus two hash aggs. Vertex-state joins broadcast below
  * `maxBroadcastNodes` (checkpointed frames carry no size statistics —
  * the [[PageRank]] lesson); above it they stay shuffled, correct for
  * web-scale graphs. Rounds run on [[FixedPoint]]: the label frame
  * re-enters the next round's plan, so each round is cut.
  */
object LabelPropagation {

  /** Final labels after `iters` synchronous rounds: `(node, community)`
    * — one row per node, `community` = the adopted label (a node id;
    * labels start as each node's own id, so communities are named by
    * one of their members). `directed = false` (default) symmetrizes
    * the edges; multi-edges are deduplicated (simple-graph votes).
    * Node/label type: any integral column (cast to long internally).
    * `earlyStop = true` adds a convergence check per round (see
    * [[communitiesConverged]]) and stops once no label flips.
    */
  def communities(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int = 3, directed: Boolean = false,
                  maxBroadcastNodes: Long = 10_000_000L,
                  earlyStop: Boolean = false): DataFrame =
    communitiesConverged(edges, srcCol, dstCol, iters, directed,
      maxBroadcastNodes, earlyStop)._1

  /** [[communities]] with a CONVERGENCE CERTIFICATE: returns
    * `(labels, roundsRun, converged)`. With `earlyStop` each round pays
    * one extra |V|-row equi-join + count (the PageRank dangling-mass
    * fold pattern — a small per-round action) comparing the new label
    * frame to the previous one; synchronous LPA is a pure function of
    * the label frame, so ZERO flips in a round proves every later
    * round is a no-op — deep graphs stop paying unneeded rounds, and
    * `converged = true` certifies the fixpoint (`roundsRun` < `iters`
    * tells a shallow graph it finished early). With `earlyStop = false`
    * no round runs a job of its own and `converged = false` is reported
    * uninspected.
    */
  def communitiesConverged(edges: DataFrame, srcCol: String, dstCol: String,
                           iters: Int = 3, directed: Boolean = false,
                           maxBroadcastNodes: Long = 10_000_000L,
                           earlyStop: Boolean = false): (DataFrame, Int, Boolean) = {
    require(iters >= 1, "labelPropagation: iters must be >= 1")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val fwd = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val adj = (if (directed) fwd
               else fwd.unionByName(
                 edges.select(col(dstCol).cast("long").as("src"),
                   col(srcCol).cast("long").as("dst"))))
      .distinct().persist(lvl)
    // undirected: symmetrization already puts every endpoint in src;
    // directed: a pure sink appears only as a dst, so union both ends
    val nodes = (if (directed)
        adj.select(col("src").as("node"))
          .unionByName(adj.select(col("dst").as("node")))
      else adj.select(col("src").as("node")))
      .distinct().persist(lvl)
    // one action: |V| for the broadcast decision
    val small = nodes.count() <= maxBroadcastNodes
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df

    FixedPoint.run[DataFrame](edges.sparkSession, iters, earlyStop,
      init = round => round.cut(nodes.select(col("node"), col("node").as("lbl"))),
      step = (round, lab) => {
        val votes = adj
          .join(hint(lab.select(col("node").as("src"), col("lbl"))), Seq("src"))
          .groupBy(col("dst").as("node"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
        // most frequent neighbor label, smallest label on ties: min_by
        // over the (-cnt, lbl) pair — one hash agg, no window sort.
        // (-cnt is safe: cnt ≤ |V| can never approach Long.MinValue.)
        val adopt = votes.groupBy("node")
          .agg(min_by(col("lbl"),
            struct((lit(0L) - col("cnt")).as("nc"), col("lbl"))).as("lbl"))
        // undirected: the symmetric adjacency gives every node ≥1 vote,
        // so `adopt` IS the next label frame — no carry-forward join.
        // Directed: a node with no in-edges gets no votes and must keep
        // its previous label (coalesce through a left join).
        round.cut(
          if (directed)
            lab.select(col("node"), col("lbl").as("prev"))
              .join(adopt, Seq("node"), "left")
              .select(col("node"), coalesce(col("lbl"), col("prev")).as("lbl"))
          else adopt)
      },
      // |V|-row equi-join on the node key + one count over two cut frames
      certificate = Option.when(earlyStop)((lab, next) =>
        next.join(lab.select(col("node"), col("lbl").as("prev")), Seq("node"))
          .filter(col("lbl") =!= col("prev")).count() == 0L),
      finish = _.select(col("node"), col("lbl").as("community")),
      inputs = Seq(adj, nodes))
  }
}
