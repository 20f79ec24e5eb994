package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Parallelism

/** Basket co-occurrence and triangle counting (SURVEY §2.B graph
  * family, alongside PageRank/connected components): market-basket pair
  * mining and the degree-oriented triangle count every graph-analytics
  * engine ships.
  */
object CoOccurrence {

  /** Distinct unordered item pairs per basket, counted across baskets —
    * the market-basket co-occurrence table (and the edge builder for
    * [[triangleStats]]).
    *
    * Shape at scale: ONE shuffle groups items by basket (collect_set
    * dedups in the partial aggregate), then pair expansion is a narrow
    * higher-order transform over each basket's sorted item array — the
    * quadratic blowup is bounded by basket size (single-digit for order
    * lines), never by table size — and the pair counts partial-agg
    * before their shuffle. The naive self-join form shuffles the full
    * item table twice and re-materializes every basket as join output.
    */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String): DataFrame = {
    // explicit-N pin on the basket key (Parallelism): the
    // post-shuffle stage (set merge + the quadratic pair expansion +
    // the pair partial agg) is CPU-heavy per byte, so AQE's byte-sized
    // coalescing serialized it to 4 tasks (measured 2.7-3.7 s CPU at
    // sf0.1 inside x_copurchase/x_assoc_rules). The key is the agg's
    // own required clustering, so this REPLACES its exchange; the
    // map-side partial collect_set it forgoes dedups almost nothing
    // anyway (a basket's rows are scattered across input partitions).
    // Per-basket arrays are sorted after the merge, so pairs and
    // counts are byte-identical under any partitioning.
    val baskets = Parallelism.keyed(df, col(basketCol))
      .groupBy(col(basketCol).as("b"))
      .agg(sort_array(collect_set(col(itemCol))).as("items"))
    // (items[i], items[j]) for i < j; sorted, so u < v canonically
    val pairs = flatten(transform(col("items"), (x: Column, i: Column) =>
      transform(slice(col("items"), i + 2, size(col("items"))),
        (y: Column) => struct(x.as("u"), y.as("v")))))
    baskets.select(explode(pairs).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Association rules A → B over baskets (the market-basket trio of
    * support / confidence / lift for single-item antecedents): rule
    * quality from nothing but the pair counts [[basketPairs]] already
    * produces, per-item basket counts, and the basket total —
    *
    *   support(A→B)    = |A∧B| / N
    *   confidence(A→B) = |A∧B| / |A|
    *   lift(A→B)       = confidence / (|B| / N)
    *
    * Both directions of each unordered pair are emitted (confidence and
    * lift are asymmetric). All three metrics are ratios of exact
    * integer counts — replayable bit-for-bit cross-engine.
    *
    * Shape at scale: pair counts via the basket-bounded HOF expansion
    * (one shuffle, no self-join of the item table); per-item counts are
    * a second aggregate over the SAME deduped (basket, item) rows; the
    * final joins attach |items|-sized tables to the pair table (AQE
    * broadcasts them when small); the basket total is a 1-row cross
    * join. `minPairCount` prunes the long tail BEFORE the metric math.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minPairCount: Long = 1L): DataFrame = {
    val bi = df.select(col(basketCol).as("b"), col(itemCol).as("i")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = basketPairs(bi, "b", "i").filter(col("cnt") >= minPairCount)
    val itemCnt = bi.groupBy(col("i")).agg(count(lit(1)).as("ic"))
    val nBaskets = broadcast(bi.select(col("b")).distinct()
      .agg(count(lit(1)).as("nb")))
    val directed = pairs.select(col("u").as("ante"), col("v").as("cons"), col("cnt"))
      .unionByName(pairs.select(col("v").as("ante"), col("u").as("cons"), col("cnt")))
    val out = directed
      .join(itemCnt.select(col("i").as("ante"), col("ic").as("ca")), Seq("ante"))
      .join(itemCnt.select(col("i").as("cons"), col("ic").as("cc")), Seq("cons"))
      .crossJoin(nBaskets)
      .select(col("ante"), col("cons"), col("cnt"),
        round(col("cnt").cast("double") / col("nb"), 6).as("support"),
        round(col("cnt").cast("double") / col("ca"), 6).as("confidence"),
        round(col("cnt").cast("double") * col("nb") /
          (col("ca") * col("cc")), 6).as("lift"))
    val materialized = out.localCheckpoint(true)
    bi.unpersist()
    materialized
  }

  /** Triangle count + global clustering coefficient over an undirected
    * edge list (`u < v` canonical, distinct).
    *
    * Algorithm: node-iterator with degree orientation — each edge is
    * oriented from its lower-(degree, id) endpoint to the higher, wedges
    * are built by joining oriented edges on their source, and a wedge
    * closes iff its (b, c) endpoints are themselves an oriented edge.
    * Each triangle has exactly one vertex with two outgoing oriented
    * edges, so it is counted exactly once, and the oriented out-degree
    * is O(sqrt(m)) — the classic bound that keeps the wedge join from
    * exploding on high-degree hubs at scale. Two shuffle joins on node
    * keys, no cartesian anywhere.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val deg = edges.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val byU = edges.join(deg.select(col("n").as("u"), col("d").as("du")), "u")
    val withDeg = byU.join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    // orient low-(deg, id) -> high; rank carried as an orderable struct
    val ru = struct(col("du").as("d"), col("u").as("n"))
    val rv = struct(col("dv").as("d"), col("v").as("n"))
    // pin the wedge self-join's parallelism (Parallelism):
    // the per-source wedge expansion is quadratic CPU over small-byte
    // pairs; the source-keyed exchange is the join's own required
    // partitioning, so nothing extra appears at scale.
    val o = Parallelism.keyed(withDeg.select(
      when(ru < rv, col("u")).otherwise(col("v")).as("a"),
      when(ru < rv, rv).otherwise(ru).as("rb"))
      .select(col("a"), col("rb.n").as("b"), col("rb")), col("a"))
    val wedges = o.select(col("a"), col("b").as("w1"), col("rb").as("r1"))
      .join(o.select(col("a"), col("b").as("w2"), col("rb").as("r2")), "a")
      .filter(col("r1") < col("r2"))
      .select(col("w1").as("a"), col("w2").as("b"))
    val triangles = wedges.join(o.select(col("a"), col("b")), Seq("a", "b"))
      .agg(count(lit(1)).as("triangles"))
    val totals = edges.agg(count(lit(1)).as("edges"))
      .crossJoin(deg.agg(sum(col("d") * (col("d") - 1) / 2).cast("long").as("wedges")))
    totals.crossJoin(triangles)
      .select(col("edges"), col("triangles"),
        round(lit(3.0) * col("triangles") / col("wedges"), 4).as("clustering"))
  }

  /** Local clustering coefficient (Watts & Strogatz 1998) per node:
    * lcc(n) = 2·tri(n) / (deg(n)·(deg(n)−1)) — how close a node's
    * neighbourhood is to a clique. The per-node sibling of
    * `triangleStats`' single global number: the degree-oriented wedge
    * join runs once, but each closed triangle credits ALL THREE of its
    * vertices (the orientation guarantees it is FOUND exactly once, at
    * its lowest-rank vertex). Nodes with degree < 2 are excluded — the
    * denominator is undefined, and 0/0 rows would only pad the output.
    *
    * Input contract matches `triangleStats`: canonical undirected edge
    * list `(u, v)` with `u < v`, distinct. Output `(node, degree,
    * triangles, lcc)` ordered by (lcc DESC, node), cut to `topK` —
    * the cut is deterministic because the order is total, and the lcc
    * double is bit-identical to any replay: integer numerator and
    * denominator (exact in double far beyond any real degree), ONE
    * IEEE division, round(4).
    *
    * Scale shape: same two node-keyed shuffle joins as triangleStats
    * (oriented out-degree is O(√m), so no hub explosion), ONE extra
    * |triangles|·3 explode + partial-agged hash agg for the per-node
    * credit, a left join of the |V|-row degree frame against the
    * |V|-bounded triangle counts, TakeOrderedAndProject cut. No
    * cartesian, no global sort of anything corpus-sized.
    */
  def localClustering(edges: DataFrame, topK: Int): DataFrame = {
    require(topK >= 1, "localClustering: topK must be >= 1")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col("u"), col("v")).persist(lvl)
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .persist(lvl)
    val byU = e.join(deg.select(col("n").as("u"), col("d").as("du")), "u")
    val withDeg = byU.join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val ru = struct(col("du").as("d"), col("u").as("n"))
    val rv = struct(col("dv").as("d"), col("v").as("n"))
    // same wedge-parallelism pin as triangleStats: the cached frame
    // would otherwise hand its byte-coalesced (near-single-task) layout
    // to the quadratic wedge expansion
    val o = Parallelism.keyed(withDeg.select(
      when(ru < rv, col("u")).otherwise(col("v")).as("a"),
      when(ru < rv, rv).otherwise(ru).as("rb"))
      .select(col("a"), col("rb.n").as("b"), col("rb")), col("a"))
      .persist(lvl)
    // keep the wedge CENTER (c0) that triangleStats drops: the closing
    // join proves {c0, w1, w2} is a triangle, and all three get credit
    val wedges = o.select(col("a").as("c0"), col("b").as("w1"), col("rb").as("r1"))
      .join(o.select(col("a").as("c0"), col("b").as("w2"), col("rb").as("r2")),
        Seq("c0"))
      .filter(col("r1") < col("r2"))
      .select(col("c0"), col("w1").as("a"), col("w2").as("b"))
    val triPerNode = wedges
      .join(o.select(col("a"), col("b")), Seq("a", "b"))
      .select(explode(array(col("c0"), col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri"))
    val out = deg.filter(col("d") >= 2)
      .join(triPerNode, Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("tri"), lit(0L)).as("triangles"),
        round(lit(2.0) * coalesce(col("tri"), lit(0L)) /
          (col("d") * (col("d") - lit(1))), 4).as("lcc"))
      .orderBy(col("lcc").desc, col("node"))
      .limit(topK)
      .localCheckpoint(true)
    o.unpersist(); deg.unpersist(); e.unpersist()
    out
  }
}
