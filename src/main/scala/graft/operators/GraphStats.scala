package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Parallelism

/** Whole-graph summary statistics — the shape numbers a graph pipeline
  * reads before choosing algorithms and partitioning (is this graph
  * assortative like a citation network or disassortative like a
  * web/bipartite crawl? how heavy is the degree tail the skew
  * protocol must expect?).
  */
object GraphStats {

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * the degrees at the two ends of an edge, over the symmetrized
    * simple graph. r > 0 — hubs prefer hubs (social/citation);
    * r < 0 — hubs attach to leaves (web graphs, and structurally
    * forced for bipartite buyer↔supplier shapes). One row out:
    * `(n_nodes, n_edges, r)` with n_edges counting undirected edges
    * once.
    *
    * Scale shape: degree table = one partial-agged hash agg over the
    * symmetrized |E| frame; both endpoint joins key on the node id
    * (AQE broadcasts the |V|-row degree side when small); the Pearson
    * r comes from EXACT DECIMAL raw moments (degrees are integers, so
    * every Σ is order-independent — no co-moment merge-order ulp
    * surface, and no ANSI divide-by-zero inside the `corr` aggregate:
    * a degree-regular graph has zero variance and yields r = NULL by
    * the guard, not an error) — one aggregation pass, two IEEE sqrt
    * and one division at the very end, rounded to 4.
    */
  /** Adamic-Adar link prediction (Adamic & Adar 2003): score every
    * NON-adjacent node pair by Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) — common
    * neighbours count, but a common neighbour that connects to
    * everything certifies almost nothing (the inverse-log damping).
    * The entity-resolution / recommendation shape: "these two records
    * share several RARE associates — probably the same thing / a
    * likely future edge".
    *
    * Scale shape: wedge enumeration exactly as the triangle counter —
    * neighbour lists self-join on the CENTER node (an item-keyed
    * equi-join, never all-pairs), each wedge carries its center's
    * 1/ln(deg) term (deg ≥ 2 whenever a wedge exists, so the log is
    * never zero), pairs aggregate partial-agged, existing edges drop
    * via one anti-join against the |E| frame, and the cut is
    * TakeOrdered top-k. A hub center contributes deg² wedges — the
    * quadratic wedge cost every common-neighbour method pays —
    * so `maxWedgeDegree` SKIPS centers above the cap. The DEFAULT is
    * 10 000 — a REAL bound (a 10⁵-degree hub at the old effectively-
    * uncapped default would emit 10¹⁰ wedges from one center and sink
    * the stage), so on graphs whose max degree exceeds it the default
    * output is a DOCUMENTED APPROXIMATION: the standard practical cut,
    * biased the right way (a skipped center's AA term 1/ln(deg) is the
    * smallest in the graph — high-degree centers are exactly the ones
    * that certify least). Raise the cap DELIBERATELY, with the deg²
    * wedge bill in mind, when exact scores over hubs are required.
    * Returns `(u, v, common, aa)` with
    * u < v, aa rounded to 4 (the wedge-sum order is the only float
    * surface), ordered by (aa DESC, u, v), cut to `topK`.
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 topK: Int, maxWedgeDegree: Int = 10000): DataFrame = {
    require(topK >= 1, "adamicAdar: topK must be >= 1")
    require(maxWedgeDegree >= 2, "adamicAdar: maxWedgeDegree must be >= 2")
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = raw
      .unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // populate the cache before the wedge plan runs: the degree table
    // rides into the neighbour join as a BROADCAST build, and broadcast
    // subtrees execute as separate jobs ahead of the main stages — an
    // unpopulated cache makes each one recompute the whole symmetrized
    // edge construction (here the caller's join+distinct). One count()
    // is the single pass the main job pays anyway (guide §5).
    sym.count()
    val deg = sym.groupBy(col("src").as("w")).agg(count(lit(1)).as("degw"))
    // pin the wedge join's parallelism (Parallelism): AQE
    // ran the per-center pair expansion in ONE task at sf0.1 (measured:
    // a 1-task 2.2 s-CPU stage inside a 4 s query). The center-keyed
    // exchange IS the self-join's required partitioning, so at scale it
    // replaces the join's own shuffle instead of adding one.
    val nbrs = Parallelism.keyed(
      sym.select(col("src").as("w"), col("dst").as("x"))
        .join(deg.filter(col("degw") <= maxWedgeDegree), Seq("w")), col("w"))
    // pin the wedge-count aggregation too: wedge pairs are near-unique
    // (partial aggregation barely reduces them), so AQE's byte-sized
    // coalescing ran the final hash agg over ~1M wedge rows in one
    // task. The pair-keyed exchange satisfies the agg's required
    // distribution, so the agg runs complete, in parallel, at the same
    // single-shuffle cost.
    val pairs = Parallelism.keyed(
      nbrs.select(col("w"), col("x").as("u"), col("degw"))
        .join(nbrs.select(col("w"), col("x").as("v")), Seq("w"))
        .filter(col("u") < col("v")), col("u"), col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"),
        round(sum(lit(1.0) / log(col("degw").cast("double"))), 4).as("aa"))
    val out = pairs
      .join(sym.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa").desc, col("u"), col("v"))
      .limit(topK)
      .localCheckpoint(true)
    sym.unpersist()
    out
  }

  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = raw
      .unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same broadcast-subtree discipline as [[adamicAdar]]: both degree
    // joins broadcast-build off this frame before the main stages run
    sym.count()
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val da = col("da").cast("decimal(18,0)")
    val db = col("db").cast("decimal(18,0)")
    val moments = sym
      .join(deg.select(col("node").as("src"), col("deg").as("da")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("db")), Seq("dst"))
      .agg(
        count_distinct(col("src")).as("n_nodes"),
        count(lit(1)).cast("decimal(18,0)").as("cnt"),
        sum(da).as("sa"), sum(db).as("sb"),
        sum(da * db).as("sab"),
        sum(da * da).as("saa"),
        sum(db * db).as("sbb"))
    val num = col("cnt") * col("sab") - col("sa") * col("sb")
    val dena = col("cnt") * col("saa") - col("sa") * col("sa")
    val denb = col("cnt") * col("sbb") - col("sb") * col("sb")
    val out = moments.select(
        col("n_nodes"),
        (col("cnt") / 2).cast("long").as("n_edges"),
        when(dena > 0 && denb > 0,
          round(num.cast("double") /
            (sqrt(dena.cast("double")) * sqrt(denb.cast("double"))), 4))
          .as("r"))
      .localCheckpoint(true)
    sym.unpersist()
    out
  }
}
