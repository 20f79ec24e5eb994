package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}

import graft.core.Tables

/** Coverage queries for operator-inventory rows not exercised by the
  * numbered set (SURVEY §2.B X3/X4/X5/X7/X19/X20/X24): EXCEPT, ntile +
  * lead, CUBE + grouping_id, posexplode (built-in generator), and
  * map-typed JSON access.
  */
object Extras {
  private type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val defs: Map[String, Q] = Map(
    "x_zone_map" -> ((s, dir) => {
      // Z-order layout AUDIT (operators/Layout — the quantize/re-layout
      // layer above the native ZOrder2 bit kernel x_zorder oracles):
      // orders clustered on (o_custkey, o_totalprice) at 4 bits/dim,
      // zone maps of the 16 deterministic z-prefix "files". Every
      // file's span shrinks in BOTH dimensions (~1/4 of each range) —
      // the property that lets min/max pruning serve predicates on
      // either column, where a single-column sort layout prunes only
      // its leading column. The z-value is a closed IEEE/bit form of
      // the global (min, max) bounds, so the whole audit replays
      // cross-engine.
      graft.operators.Layout.zoneMap(t(s, dir, "orders"),
          Seq("o_custkey", "o_totalprice"), bits = 4, filesLog2 = 4)
        .orderBy("file_id")
    }),

    "x_except" -> ((s, dir) => {
      // customers with no 'F'-status order: 5/71/511 rows at
      // sf0.001/0.01/0.1 — non-vacuous at every SF (every customer has
      // SOME order in this dataset, so the unfiltered EXCEPT was empty).
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .except(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_custkey")))
        .orderBy("k")
    }),

    "x_unpivot" -> ((s, dir) => {
      // wide→long melt (the inverse of x_pivot): numeric part attributes
      // unpivoted to (attr, val) rows via the native Unpivot node — a
      // narrow 1→N expansion, no shuffle.
      t(s, dir, "part")
        .select(col("p_partkey"),
          col("p_size").cast("double").as("p_size"),
          col("p_retailprice").cast("double").as("p_retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")), "attr", "val")
        .orderBy("p_partkey", "attr")
    }),

    "x_stat_aggs" -> ((s, dir) => {
      // statistical aggregates (X1-adjacent): stddev/variance/corr/covar
      // per market segment. Both engines use numerically-stable one-pass
      // merges; round(4) absorbs the ~1e-6 summation-order noise at
      // these magnitudes. Partial aggregation applies as usual — one
      // keyed shuffle of 5 groups at any scale.
      t(s, dir, "customer").groupBy(col("c_mktsegment"))
        .agg(
          round(stddev_samp(col("c_acctbal")), 4).as("sd_bal"),
          round(var_samp(col("c_acctbal")), 4).as("var_bal"),
          round(corr(col("c_acctbal"), col("c_nationkey").cast("double")), 4).as("corr_bal_nat"),
          round(covar_samp(col("c_acctbal"), col("c_nationkey").cast("double")), 4).as("covar_bal_nat"))
        .orderBy("c_mktsegment")
    }),

    "x_ntile_lead" -> ((s, dir) =>
      // global NTILE(4) + LEAD without the single-partition window the
      // naive form pays (round-10 verdict's last corpus-sized
      // single-task plan): Stats.ntileLead ranks/leads inside value
      // buckets under PARTITIONED windows and stitches bucket
      // boundaries from one planning-sized fold — exact SQL NTILE/LEAD
      // semantics, locked by PlanSpec's no-unpartitioned-window guard
      graft.operators.Stats.ntileLead(
          t(s, dir, "supplier").select(col("s_suppkey"), col("s_acctbal")),
          "s_acctbal", "s_suppkey", bins = 4, descending = true)
        .select(col("s_suppkey"), col("ntile").as("quartile"),
          col("next_value").as("next_bal"))
        .orderBy("s_suppkey")),

    "x_cube" -> ((s, dir) => {
      t(s, dir, "customer")
        .cube(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"), grouping_id().cast("int").as("gid"))
        .orderBy(asc_nulls_first("c_mktsegment"), asc_nulls_first("c_nationkey"), col("gid"))
    }),

    "x_posexplode" -> ((s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .orderBy("doc_id", "pos")
    }),

    "x_string_funcs" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 10)).as("name10"),
        regexp_replace(col("p_type"), " ", "_").as("typ_u"),
        length(trim(col("p_name"))).as("len_name"),
        col("p_brand").like("Brand#1%").as("b1"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("first_word"))
        .orderBy("p_partkey")
    }),

    "x_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).as("days_since"))
        .orderBy("o_orderkey")
    }),

    "x_null_funcs" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(bldg)")).as("seg"),
        greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
        least(col("c_acctbal"), lit(1000.0)).as("bal_cap"))
        .orderBy("c_custkey")
    }),

    "x_theta_join" -> ((s, dir) => {
      // non-equi (theta) self join: same-region nation pairs — compiles
      // to a broadcast join on the equi part with the inequality as a
      // post-condition (no cartesian product)
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("k1"),
        col("n_name").as("name1"), col("n_regionkey").as("r1"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("k2"),
        col("n_name").as("name2"), col("n_regionkey").as("r2"))
      n1.join(n2, col("r1") === col("r2") && col("k1") < col("k2"))
        .select(col("name1"), col("name2"))
        .orderBy("name1", "name2")
    }),

    "x_pivot" -> ((s, dir) => {
      // pivot with an explicit value list → deterministic output schema
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))
        .agg(count(lit(1)))
        .select(col("o_orderstatus"),
          coalesce(col("1-URGENT"), lit(0L)).as("p_urgent"),
          coalesce(col("2-HIGH"), lit(0L)).as("p_high"),
          coalesce(col("3-MEDIUM"), lit(0L)).as("p_medium"))
        .orderBy("o_orderstatus")
    }),

    "x_percentiles" -> ((s, dir) => {
      // exact interpolated percentiles (the deterministic counterpart of
      // the sketch path; approx_percentile is spec-tested instead) —
      // read off the bucketed prefix-sum CDF (Stats.
      // groupedInterpolatedQuantiles, bit-identical to the `percentile`
      // aggregate it replaced, whose buffer held the hottest group's
      // every value — the round-8 verdict's last 100 TB cliff)
      graft.operators.Stats.groupedInterpolatedQuantiles(
          t(s, dir, "lineitem"), "l_returnflag", "l_quantity",
          ps = Seq(0.5, 0.9))
        .groupBy(col("l_returnflag"))
        .agg(
          min(when(col("p") === 0.5, col("value"))).as("med_qty"),
          min(when(col("p") === 0.9, col("value"))).as("p90_qty"))
        .orderBy("l_returnflag")
    }),

    "x_range_frame" -> ((s, dir) => {
      // RANGE frame over a double order key needs the SQL window form
      // (the Scala rangeBetween API only takes Long row offsets)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        expr("""count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)""").as("n_within_10k"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "x_full_outer" -> ((s, dir) => {
      // FULL OUTER equi-join with unmatched rows on BOTH sides (the
      // filters guarantee each side has keys the other lacks); output
      // carries the nulls through a total-order sort
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("ck"), col("c_acctbal"))
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 500000)
        .select(col("o_custkey").as("ok"), col("o_orderkey"))
      c.join(o, col("ck") === col("ok"), "full_outer")
        .select(coalesce(col("ck"), col("ok")).as("k"),
          col("c_acctbal"), col("o_orderkey"))
        .orderBy(col("k"), asc_nulls_first("o_orderkey"))
    }),

    "x_histogram" -> ((s, dir) => {
      // fixed-width histogram by pure floor arithmetic (portable across
      // engines, unlike width_bucket which DuckDB lacks): 1000-unit
      // buckets over account balance — one partial+final hash agg
      t(s, dir, "customer")
        .select(floor((col("c_acctbal") + 1000.0) / 1000.0).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")
    }),

    "x_bucketed_join" -> ((s, dir) => {
      // co-located fact-fact join under the oracle: both sides written
      // bucketed on the order key once per session (the permanent
      // layout for repeatedly-joined 100 TB facts), so the join itself
      // runs with zero exchanges — the only shuffles left are the
      // 5-group aggregation and the output sort (PlanSpec locks this).
      val (ot, lt) = graft.operators.ScaleJoins.bucketedOrderTables(s, dir)
      s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    "x_dpp_join" -> ((s, dir) => {
      // dynamic partition pruning end-to-end (round-2 verdict item 7):
      // lineitem rewritten as a ship-month-partitioned directory (the
      // permanent layout a 100 TB fact would have), joined on the
      // partition column against a filtered dimension — the months in
      // which any urgent order was placed in one quarter. The dim side
      // broadcasts and Spark injects a dynamicpruning subquery into the
      // fact scan's partition filters, so only ~3 of ~83 month
      // directories are read at all (PlanSpec locks the plan shape).
      val fact = graft.operators.ScaleJoins.partitionedByMonth(
        s, dir, "lineitem", "l_shipdate", "ship_ym")
      val dim = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate").between("1995-02-01", "1995-04-30"))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_ym"))
        .distinct()
      fact.join(dim, Seq("ship_ym"))
        .groupBy("ship_ym")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("ship_ym")
    }),

    "x_json_keys" -> ((s, dir) => {
      t(s, dir, "events")
        .select(explode(map_keys(from_json(col("props"), MapType(StringType, IntegerType))))
          .as("key"))
        .groupBy("key").agg(count(lit(1)).as("cnt"))
        .orderBy("key")
    }),

    "x_profile" -> ((s, dir) => {
      // one-pass column-profile report (operators/Profiling): the
      // exact form — count-distinct plans as a k-way Expand, which is
      // the oracle-checkable shape; the 100 TB HLL++ variant
      // (profileApprox, Expand-free) is spec-checked against this one
      graft.operators.Profiling.profile(t(s, dir, "customer"))
        .orderBy("col_name")
    }),

    "x_cdc_merge" -> ((s, dir) => {
      // CDC merge (operators/MergeUpsert): a deterministic change
      // batch derived from orders itself — deletes (%10==0), two
      // competing updates per %10==5 key (latest seq wins; the seq-2
      // row also flips the status so a wrong winner changes values,
      // not just provenance), and inserts on shifted keys (%13==0).
      // Doubles move by +1000/+2000/×0.5 — all IEEE-exact.
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val del = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
          lit("D").as("op"), lit(1L).as("seq"))
      val up1 = base.filter(col("o_orderkey") % 10 === 5)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          col("o_orderstatus"), lit("U").as("op"), lit(1L).as("seq"))
      val up2 = base.filter(col("o_orderkey") % 10 === 5)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 2000.0).as("o_totalprice"),
          lit("P").as("o_orderstatus"), lit("U").as("op"), lit(2L).as("seq"))
      val ins = base.filter(col("o_orderkey") % 13 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          (col("o_totalprice") * 0.5).as("o_totalprice"),
          lit("N").as("o_orderstatus"), lit("I").as("op"), lit(1L).as("seq"))
      val changes = del.unionByName(up1).unionByName(up2).unionByName(ins)
      graft.operators.MergeUpsert.applyCdc(base, changes, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    "x_range_join" -> ((s, dir) => {
      // point-in-range join at scale (operators/RangeJoin): customers
      // matched to OVERLAPPING balance bands (each point can hit 2-3
      // bands, so containment is non-trivial) through the chunked
      // equi-join — never a nested-loop theta join. The oracle is the
      // plain theta join: bucketing changes the plan, not the result.
      val bands = s.range(40).select(col("id").as("band"),
        (lit(-1000.0) + col("id") * 300.0).as("lo"),
        (lit(-1000.0) + col("id") * 300.0 + 700.0).as("hi"))
      val pts = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
      graft.operators.RangeJoin.pointInRange(pts, "c_acctbal",
          bands, "lo", "hi", bucketWidth = 700.0)
        .groupBy("band").agg(count(lit(1)).as("n_cust"))
        .orderBy("band")
    }),

    "x_zorder" -> ((s, dir) => {
      // Z-order (Morton) clustering key through the native codegen
      // expression (functions/ZOrder2): nation ordinal × balance
      // bucket interleaved bit-by-bit — the layout key that makes
      // parquet min/max footers tight on BOTH dims (the layout spec
      // proves the skipping win; this query oracles the bit math).
      val a = col("c_nationkey").cast("long")
      val b = floor((col("c_acctbal") + 1000.0) / 100.0).cast("long")
      t(s, dir, "customer").select(col("c_custkey"), a.as("a"), b.as("b"),
          graft.functions.ZOrder2.zorder(a, b).as("z"))
        .orderBy("c_custkey")
    }),

    "x_scd2" -> ((s, dir) => {
      // SCD Type-2 history build (operators/MergeUpsert.scd2History):
      // orders as a per-customer change log (seq = orderkey as the CDC
      // LSN, state = status+priority). Repeated states collapse — the
      // no-op-drop lag path is live because priorities repeat heavily
      // per customer. One key shuffle, both windows share the sort.
      val changes = t(s, dir, "orders")
        .filter(col("o_custkey") <= 300)
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("seq"),
          col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"))
      graft.operators.MergeUpsert.scd2History(
          changes, Seq("custkey"), "seq", Seq("status", "priority"))
        .orderBy("custkey", "valid_from_seq")
    }),

    "x_scd2_asof" -> ((s, dir) => {
      // point-in-time (time-travel) read over the SCD2 history built
      // by x_scd2's operator: each customer's state AS OF order-seq
      // 15000 — one interval predicate on the history (pushes to its
      // scan when the history is a stored table). The oracle derives
      // the same answer INDEPENDENTLY from the raw change log
      // (latest change at-or-before the seq point), so equality
      // proves the interval semantics, not just replays the build.
      val changes = t(s, dir, "orders")
        .filter(col("o_custkey") <= 300)
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("seq"),
          col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"))
      val hist = graft.operators.MergeUpsert.scd2History(
        changes, Seq("custkey"), "seq", Seq("status", "priority"))
      graft.operators.MergeUpsert.scd2AsOf(hist, atSeq = 15000L)
        .orderBy("custkey")
    }),

    "x_copurchase" -> ((s, dir) => {
      // market-basket co-occurrence (operators/CoOccurrence
      // .basketPairs): top-20 part pairs by shared-order count. One
      // basket shuffle + narrow HOF pair expansion + partial-agged pair
      // counts; top-k is TakeOrdered, never a global sort.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      graft.operators.CoOccurrence.basketPairs(li, "basket", "item")
        .orderBy(col("cnt").desc, col("u"), col("v"))
        .limit(20)
    }),

    "x_assoc_rules" -> ((s, dir) => {
      // association rules over order baskets of part BRANDS
      // (operators/CoOccurrence.associationRules): support/confidence/
      // lift from one basket-bounded pair expansion + per-item counts —
      // ratios of exact integer counts, no float accumulation. Top 30
      // by lift (rounded sort key, deterministic tie-break).
      val items = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      graft.operators.CoOccurrence.associationRules(items, "basket", "item",
        minPairCount = 5L)
        .orderBy(col("lift").desc, col("ante"), col("cons"))
        .limit(30)
    }),

    "x_triangles" -> ((s, dir) => {
      // triangle count + clustering coefficient (CoOccurrence
      // .triangleStats) on the part co-purchase graph (pairs sharing
      // >= 2 orders): degree-oriented wedge join, each triangle counted
      // once at its lowest-rank vertex, no cartesian anywhere
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      val edges = graft.operators.CoOccurrence.basketPairs(li, "basket", "item")
        .filter(col("cnt") >= 2).select(col("u"), col("v"))
      graft.operators.CoOccurrence.triangleStats(edges)
    }),

    "x_local_clustering" -> ((s, dir) => {
      // per-node clustering coefficient (CoOccurrence.localClustering,
      // Watts & Strogatz 1998) on the same part co-purchase graph as
      // x_triangles: one degree-oriented wedge join, each closed
      // triangle credits all three vertices, lcc = 2·tri/(d·(d−1)),
      // deterministic (lcc DESC, node) top-100 cut
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      val edges = graft.operators.CoOccurrence.basketPairs(li, "basket", "item")
        .filter(col("cnt") >= 2).select(col("u"), col("v"))
      graft.operators.CoOccurrence.localClustering(edges, topK = 100)
    }),

    "x_editdist_join" -> ((s, dir) =>
      // edit-distance<=1 self-join over customer names (operators/
      // StringSimJoin): SymSpell deletion-neighborhood blocking — the
      // shared "Customer#" prefix makes q-gram blocking a cross join,
      // deletion keys stay alphabet-bounded — then exact levenshtein
      // verify. The oracle is the brute-force quadratic join; equality
      // proves the blocking lossless.
      graft.operators.StringSimJoin.editDistance1Join(
          t(s, dir, "customer"), "c_custkey", "c_name")
        .select(col("id_a"), col("id_b"), col("s_a").as("name_a"),
          col("s_b").as("name_b"), col("dist"))
        .orderBy("id_a", "id_b")),

    "x_chisq" -> ((s, dir) =>
      // chi-square independence test (Profiling.chiSquare) between
      // order status and priority: one partial-agged cell count over
      // the data, marginals/statistic on the |cells| table only
      graft.operators.Profiling.chiSquare(
        t(s, dir, "orders"), "o_orderstatus", "o_orderpriority")),

    "x_pagerank" -> ((s, dir) => {
      // PageRank centrality (operators/PageRank) over the
      // who-buys-from-whom graph: customer -> supplier edges from
      // orders×lineitem. Suppliers never buy, so every supplier is a
      // dangling node and the dangling-mass redistribution path is
      // live in the oracle comparison. 3 rounds, each one hash join +
      // one partial-agged contribution sum, rounds cut by checkpoints.
      // Node ids stay NUMERIC (even=customer, odd=supplier) through
      // every shuffle — the oracle's display strings are attached to
      // the |V|-row result only, never to the |E|-row edge traffic.
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.PageRank.relativeRanks(edges, "src", "dst", iters = 3)
        .select(
          concat(when(col("node") % 2 === 0, "c").otherwise("s"),
            expr("node div 2")).as("node"),
          round(col("rel_rank"), 6).as("rel_rank"))
        .orderBy("node")
    }),

    "x_adamic_adar" -> ((s, dir) => {
      // Adamic-Adar link prediction (operators/GraphStats) over a
      // customer-slice of the buyer↔supplier graph (every 10th
      // customer — wedge cost is quadratic in center degree, and the
      // slice keeps the oracle's identical wedge enumeration tractable
      // at every SF): top-30 non-adjacent pairs by inverse-log common-
      // neighbour mass. Wedge equi-join on the center node only,
      // anti-join drops existing edges, TakeOrdered cut.
      val edges = t(s, dir, "orders")
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // the top-30 cut ties on NUMERIC (aa, u, v) inside the operator;
      // the display frame re-sorts on the string ids so both engines
      // emit one well-defined row order
      graft.operators.GraphStats.adamicAdar(edges, "src", "dst", topK = 30)
        .select(
          concat(when(col("u") % 2 === 0, "c").otherwise("s"),
            expr("u div 2")).as("u"),
          concat(when(col("v") % 2 === 0, "c").otherwise("s"),
            expr("v div 2")).as("v"),
          col("common"), col("aa"))
        .orderBy("u", "v")
    }),

    "x_assortativity" -> ((s, dir) => {
      // degree assortativity (operators/GraphStats, Newman 2002) of the
      // symmetrized buyer↔supplier graph — structurally DISassortative
      // (bipartite: high-degree suppliers attach to low-degree
      // customers), the shape number that tells the skew protocol what
      // degree tail to expect. One degree agg + two node-keyed joins +
      // one declarative corr aggregate; exact integer degrees, round(4)
      // on the single float output (the x_autocorr convention).
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.GraphStats.degreeAssortativity(edges, "src", "dst")
    }),

    "x_hits" -> ((s, dir) => {
      // HITS hubs/authorities (operators/Hits) over the DIRECTED
      // buyer->supplier graph: customers are pure hubs, suppliers pure
      // authorities — the two roles PageRank conflates. 3 mutual-
      // reinforcement rounds, max-normalized (top hub/authority pinned
      // at exactly 1.0); numeric ids in the loop, display strings on
      // the |V|-row result only; round(6) absorbs per-sum float order.
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.Hits.scores(edges, "src", "dst", iters = 3)
        .select(
          concat(when(col("node") % 2 === 0, "c").otherwise("s"),
            expr("node div 2")).as("node"),
          round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy("node")
    }),

    "x_kcore" -> ((s, dir) => {
      // k-core peel (operators/KCore) of the symmetrized buyer↔supplier
      // graph at k=30, 3 rounds: low-degree customers peel, supplier
      // degrees shrink accordingly — the density filter that separates
      // the well-connected core from peripheral noise. Each round is
      // one partial-agged degree agg + two |E|-keyed semi-joins;
      // iters-pinned so the unrolled oracle replays exactly. Numeric
      // ids in the loop, display strings on the |V|-row result only.
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.KCore.kCore(edges, "src", "dst", k = 30, rounds = 3)
        .select(
          concat(when(col("node") % 2 === 0, "c").otherwise("s"),
            expr("node div 2")).as("node"),
          col("degree"))
        .orderBy("node")
    }),

    "x_trustrank" -> ((s, dir) => {
      // personalized PageRank / TrustRank (operators/PageRank
      // .trustRanks): trust restarts at the high-balance customers
      // (c_acctbal >= 9000) instead of uniformly, so the score is
      // seed-reachability, not raw centrality — the corpus-curation
      // signal ("how close to the vetted set") over the same
      // buyer->supplier graph as x_pagerank. 3 rounds, identical
      // rollup-fused dangling job; dangling mass restarts into the
      // seed distribution. Numeric ids in the loop, display strings
      // attached to the |V|-row result only.
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val seeds = t(s, dir, "customer").filter(col("c_acctbal") >= 9000)
        .select((col("c_custkey") * 2).as("node"))
      graft.operators.PageRank.relativeTrustRanks(
          edges, "src", "dst", seeds, "node", iters = 3)
        .select(
          concat(when(col("node") % 2 === 0, "c").otherwise("s"),
            expr("node div 2")).as("node"),
          round(col("trust"), 6).as("trust"))
        .orderBy("node")
    }),

    "x_ivm" -> ((s, dir) => {
      // incremental view maintenance (operators/IncrementalAgg): the
      // standing per-priority totals of orders before 1995-06-01 are
      // UPDATED with a delta batch — inserts (the later orders) and
      // retractions (every fifth early order) — and must equal the
      // full recompute, which is what the oracle runs. Sums maintained
      // in DECIMAL so the re-associated IVM arithmetic is exact.
      val ord = t(s, dir, "orders")
      val price = col("o_totalprice").cast("decimal(18,2)")
      val baseFacts = ord.filter(col("o_orderdate") < "1995-06-01")
      val baseAgg = baseFacts.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), sum(price).as("sum_price"))
      val inserts = ord.filter(col("o_orderdate") >= "1995-06-01")
        .select(col("o_orderpriority"), price.as("sum_price"), lit(1).as("sign"))
      val retracts = baseFacts.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderpriority"), price.as("sum_price"), lit(-1).as("sign"))
      graft.operators.IncrementalAgg.applyDelta(
        baseAgg, inserts.unionByName(retracts),
        Seq("o_orderpriority"), "cnt", Seq("sum_price"))
        .select(col("o_orderpriority"), col("cnt"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    "x_snapshot_diff" -> ((s, dir) => {
      // delta between two catalog snapshots (the push-pattern consumer
      // shape — see operators/SnapshotDiff): previous = orders with
      // key % 10 != 0, current = key % 7 != 0 with every % 3 == 0
      // price doubled. All four classes (insert/delete/update/same)
      // are non-vacuous by construction; doubling a double (x + x) is
      // IEEE-exact so the update classification is deterministic.
      val ord = t(s, dir, "orders")
      val prev = ord.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val cur = ord.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0,
            col("o_totalprice") + col("o_totalprice"))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.operators.SnapshotDiff.diff(prev, cur,
        Seq("o_orderkey"), Seq("o_totalprice"))
        .groupBy("change_type").agg(count(lit(1)).as("cnt"))
        .orderBy("change_type")
    })
  )

  val oracle: Map[String, String] = Map(
    "x_zone_map" -> {
      // bit-interleave replay: per-dim equi-width cells over the global
      // (min, max), LSB-first interleave (custkey bit k → z-bit 2k,
      // totalprice bit k → z-bit 2k+1), file = top 4 z-bits
      val q1 = "CASE WHEN mn1 = mx1 THEN 0 ELSE LEAST(CAST(FLOOR(" +
        "(CAST(o_custkey AS DOUBLE) - mn1) / (mx1 - mn1) * 16) AS INT), 15) END"
      // DOUBLE arithmetic throughout, mirroring Layout.cell exactly:
      // the engine quantizes on double-cast bounds, so a DECIMAL bounds
      // CTE here could flip a one-ulp cell boundary at other scale
      // factors even though the values agree at sf0.01 (round-10 advice)
      val q2 = "CASE WHEN mn2 = mx2 THEN 0 ELSE LEAST(CAST(FLOOR(" +
        "(CAST(o_totalprice AS DOUBLE) - mn2) / (mx2 - mn2) * 16) AS INT), 15) END"
      val inter = (0 until 4).flatMap(k =>
        Seq(s"(((q1 >> $k) & 1) << ${2 * k})",
          s"(((q2 >> $k) & 1) << ${2 * k + 1})")).mkString(" + ")
      s"""WITH b AS (
         |  SELECT MIN(CAST(o_custkey AS DOUBLE)) AS mn1,
         |         MAX(CAST(o_custkey AS DOUBLE)) AS mx1,
         |         MIN(CAST(o_totalprice AS DOUBLE)) AS mn2,
         |         MAX(CAST(o_totalprice AS DOUBLE)) AS mx2
         |  FROM orders
         |), q AS (
         |  SELECT o_custkey, o_totalprice, $q1 AS q1, $q2 AS q2
         |  FROM orders CROSS JOIN b
         |), z AS (
         |  SELECT o_custkey, o_totalprice, $inter AS z FROM q
         |)
         |SELECT CAST(z >> 4 AS INT) AS file_id, CAST(COUNT(*) AS BIGINT) AS cnt,
         |  MIN(o_custkey) AS min_o_custkey, MAX(o_custkey) AS max_o_custkey,
         |  MIN(o_totalprice) AS min_o_totalprice, MAX(o_totalprice) AS max_o_totalprice
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "x_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_num, CAST(MAX($c) AS DOUBLE) AS max_num,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
           |  CAST(NULL AS DOUBLE) AS avg_len FROM customer""".stripMargin
      def str(c: String) =
        s"""SELECT '$c', COUNT(*), COUNT(*) - COUNT($c), COUNT(DISTINCT $c),
           |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           |  MIN($c), MAX($c), ROUND(AVG(length($c)), 4) FROM customer""".stripMargin
      Seq(num("c_custkey"), str("c_name"), num("c_nationkey"),
        num("c_acctbal"), str("c_mktsegment"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) p ORDER BY col_name")
    },
    "x_cdc_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |ch AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus, 'D' AS op, 1 AS seq
        |  FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 1000.0, o_orderstatus, 'U', 1
        |  FROM base WHERE o_orderkey % 10 = 5
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 2000.0, 'P', 'U', 2
        |  FROM base WHERE o_orderkey % 10 = 5
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice * 0.5, 'N', 'I', 1
        |  FROM base WHERE o_orderkey % 13 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT ch.*, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM ch) t WHERE rn = 1)
        |SELECT o_orderkey, o_totalprice, o_orderstatus FROM base
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus FROM latest WHERE op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    "x_range_join" ->
      """WITH bands AS (
        |  SELECT b, -1000.0 + b * 300.0 AS lo, -1000.0 + b * 300.0 + 700.0 AS hi
        |  FROM (SELECT unnest(range(40)) AS b))
        |SELECT b AS band, CAST(COUNT(*) AS BIGINT) AS n_cust
        |FROM customer JOIN bands
        |  ON c_acctbal >= lo AND c_acctbal < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_zorder" ->
      // bit-exact Morton replay: a's bit i -> position 2i, b's -> 2i+1;
      // ordinals are < 2^16 so no shift reaches the sign bit
      """SELECT c_custkey,
        |  CAST(c_nationkey AS BIGINT) AS a,
        |  CAST(floor((c_acctbal + 1000.0) / 100.0) AS BIGINT) AS b,
        |  CAST(
        |    list_sum(list_transform(range(16),
        |      i -> ((CAST(c_nationkey AS BIGINT) >> i) & 1) << (2 * i)))
        |    + list_sum(list_transform(range(16),
        |      i -> ((CAST(floor((c_acctbal + 1000.0) / 100.0) AS BIGINT) >> i) & 1) << (2 * i + 1)))
        |    AS BIGINT) AS z
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "x_scd2_asof" ->
      // independent derivation: the state AS OF seq 15000 is the
      // latest change at-or-before it, per key — no SCD2 interval
      // machinery on the oracle side
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |         o_orderstatus AS status, o_orderpriority AS priority
        |  FROM orders WHERE o_custkey <= 300),
        |latest AS (
        |  SELECT custkey, status, priority,
        |         ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY seq DESC) AS rn
        |  FROM ch WHERE seq <= 15000)
        |SELECT custkey, status, priority FROM latest
        |WHERE rn = 1 ORDER BY custkey""".stripMargin,
    "x_scd2" ->
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |         o_orderstatus AS status, o_orderpriority AS priority
        |  FROM orders WHERE o_custkey <= 300),
        |eff AS (
        |  SELECT custkey, seq, status, priority FROM (
        |    SELECT custkey, seq, status, priority,
        |           lag(status) OVER w AS ps, lag(priority) OVER w AS pp,
        |           (lag(seq) OVER w IS NULL) AS first
        |    FROM ch WINDOW w AS (PARTITION BY custkey ORDER BY seq))
        |  WHERE first OR status IS DISTINCT FROM ps OR priority IS DISTINCT FROM pp)
        |SELECT custkey, status, priority, seq AS valid_from_seq,
        |       lead(seq) OVER w AS valid_to_seq,
        |       (lead(seq) OVER w IS NULL) AS is_current
        |FROM eff WINDOW w AS (PARTITION BY custkey ORDER BY seq)
        |ORDER BY custkey, valid_from_seq""".stripMargin,
    "x_copurchase" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |p AS (
        |  SELECT a.i AS u, b.i AS v, COUNT(*) AS cnt
        |  FROM li a JOIN li b ON a.b = b.b AND a.i < b.i
        |  GROUP BY 1, 2)
        |SELECT u, v, cnt FROM p
        |ORDER BY cnt DESC, u, v LIMIT 20""".stripMargin,
    "x_assoc_rules" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS b, p_brand AS i
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |p AS (
        |  SELECT a.i AS u, b.i AS v, COUNT(*) AS cnt
        |  FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |ic AS (SELECT i, COUNT(*) AS ic FROM bi GROUP BY 1),
        |nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM bi),
        |d AS (
        |  SELECT u AS ante, v AS cons, cnt FROM p
        |  UNION ALL
        |  SELECT v, u, cnt FROM p)
        |SELECT d.ante, d.cons, d.cnt,
        |  ROUND(CAST(d.cnt AS DOUBLE) / nb.nb, 6) AS support,
        |  ROUND(CAST(d.cnt AS DOUBLE) / ca.ic, 6) AS confidence,
        |  ROUND(CAST(d.cnt AS DOUBLE) * nb.nb / (ca.ic * cc.ic), 6) AS lift
        |FROM d
        |JOIN ic ca ON ca.i = d.ante
        |JOIN ic cc ON cc.i = d.cons
        |CROSS JOIN nb
        |ORDER BY lift DESC, ante, cons LIMIT 30""".stripMargin,
    // undirected-canonical triple join (x < y < z) counts each triangle
    // once, same as the operator's single-orientation count
    "x_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e AS (
        |  SELECT a.i AS u, b.i AS v
        |  FROM li a JOIN li b ON a.b = b.b AND a.i < b.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT n, COUNT(*) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |tri AS (
        |  SELECT COUNT(*) AS triangles
        |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        |       JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT (SELECT COUNT(*) FROM e) AS edges, tri.triangles,
        |  ROUND(CAST(3.0 * tri.triangles AS DOUBLE) /
        |    CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS DOUBLE), 4) AS clustering
        |FROM tri""".stripMargin,
    // per-node replay: the canonical triple join finds each triangle
    // once as (x < y < z); UNION ALL credits all three vertices. The
    // lcc double is bit-identical on both sides — integer numerator /
    // denominator, one IEEE division — so the (lcc DESC, node) cut is
    // the same total order
    "x_local_clustering" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e AS (
        |  SELECT a.i AS u, b.i AS v
        |  FROM li a JOIN li b ON a.b = b.b AND a.i < b.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT n, COUNT(*) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |tri AS (
        |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        |       JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
        |tn AS (
        |  SELECT n, COUNT(*) AS tri
        |  FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        |        UNION ALL SELECT z FROM tri) GROUP BY 1)
        |SELECT deg.n AS node, deg.d AS degree,
        |  CAST(COALESCE(tn.tri, 0) AS BIGINT) AS triangles,
        |  ROUND(CAST(2.0 * COALESCE(tn.tri, 0) AS DOUBLE) /
        |    CAST(deg.d * (deg.d - 1) AS DOUBLE), 4) AS lcc
        |FROM deg LEFT JOIN tn ON tn.n = deg.n
        |WHERE deg.d >= 2
        |ORDER BY lcc DESC, node LIMIT 100""".stripMargin,
    "x_editdist_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  a.c_name AS name_a, b.c_name AS name_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND abs(length(a.c_name) - length(b.c_name)) <= 1
        | AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // all counts go through DOUBLE before any arithmetic on both sides
    // (exact for contingency counts), so only the final 15-addend sum
    // is order-sensitive — absorbed by ROUND(4)
    "x_chisq" ->
      """WITH o AS (
        |  SELECT o_orderstatus AS s, o_orderpriority AS p,
        |    CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT s, SUM(c) AS ra FROM o GROUP BY 1),
        |ct AS (SELECT p, SUM(c) AS cb FROM o GROUP BY 1),
        |tot AS (SELECT SUM(c) AS t FROM o)
        |SELECT
        |  ROUND(SUM((o.c - rt.ra * ct.cb / tot.t) * (o.c - rt.ra * ct.cb / tot.t)
        |    / (rt.ra * ct.cb / tot.t)), 4) AS chi2,
        |  CAST((SELECT COUNT(DISTINCT s) - 1 FROM o)
        |     * (SELECT COUNT(DISTINCT p) - 1 FROM o) AS BIGINT) AS dof
        |FROM o JOIN rt USING (s) JOIN ct USING (p) CROSS JOIN tot""".stripMargin,
    "x_pagerank" -> {
      // unrolled 3-iteration replay; float constants are interpolated
      // from the SAME Scala doubles the operator uses (DuckDB's
      // "1.0 - 0.85" is exact decimal, Scala's is 0.15000000000000002
      // — the e0 suffix forces double literals), and every formula has
      // the operator's exact shape so only summation order differs,
      // absorbed by round(6).
      val iters = 3
      val d = 0.85
      val iterCtes = (1 to iters).map { k =>
        // dangling mass via the operator's fused identity D = 1 − Σc
        // (rollup grand total): only summation order differs from the
        // engine's edge-row fold, absorbed by round(6)
        s"""contrib$k AS (SELECT e.dst AS node, SUM(p.r / deg.od) AS c
           |  FROM edges e JOIN r${k - 1} p ON e.src = p.node
           |  JOIN deg ON e.src = deg.src GROUP BY 1),
           |dang$k AS (SELECT 1.0e0 - COALESCE((SELECT SUM(c) FROM contrib$k), 0.0e0) AS dm),
           |r$k AS (SELECT n.node,
           |    ${1.0 - d}e0 / (SELECT n FROM nn) + ${d}e0 * (COALESCE(c.c, 0.0e0) +
           |      (SELECT dm FROM dang$k) / (SELECT n FROM nn)) AS r
           |  FROM nodes n LEFT JOIN contrib$k c ON n.node = c.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         |deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS od FROM edges GROUP BY 1),
         |r0 AS (SELECT node, 1.0e0 / (SELECT n FROM nn) AS r FROM nodes),
         |$iterCtes
         |SELECT node, round(r * (SELECT n FROM nn), 6) AS rel_rank
         |FROM r$iters ORDER BY node""".stripMargin
    },
    "x_adamic_adar" ->
      // numeric-id wedge replay (even=customer, odd=supplier); the
      // top-30 cut ties on numeric (aa, u, v), display strings and the
      // final (u, v) string sort are applied outside the cut
      """WITH raw AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_custkey % 10 = 0),
        |sym AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
        |deg AS (SELECT src AS w, COUNT(*) AS degw FROM sym GROUP BY 1),
        |nbrs AS (SELECT s.src AS w, s.dst AS x, d.degw
        |         FROM sym s JOIN deg d ON s.src = d.w),
        |pairs AS (
        |  SELECT a.x AS u, b.x AS v, CAST(COUNT(*) AS BIGINT) AS common,
        |    ROUND(SUM(1.0e0 / ln(CAST(a.degw AS DOUBLE))), 4) AS aa
        |  FROM nbrs a JOIN nbrs b ON a.w = b.w AND a.x < b.x
        |  GROUP BY 1, 2),
        |cut AS (
        |  SELECT p.* FROM pairs p
        |  WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = p.u AND e.dst = p.v)
        |  ORDER BY aa DESC, u, v LIMIT 30)
        |SELECT
        |  CASE WHEN u % 2 = 0 THEN 'c' || (u // 2) ELSE 's' || (u // 2) END AS u,
        |  CASE WHEN v % 2 = 0 THEN 'c' || (v // 2) ELSE 's' || (v // 2) END AS v,
        |  common, aa
        |FROM cut ORDER BY u, v""".stripMargin,
    "x_assortativity" ->
      // symmetric edge list (each undirected edge contributes both
      // orientations — Newman's definition, and what makes r
      // symmetric); COUNT(*)/2 is exact (the count is always even).
      // Pearson r from exact integer raw moments in the engine's own
      // form: num / (sqrt(dena) * sqrt(denb)), zero-variance -> NULL
      """WITH raw AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |sym AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
        |deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
        |m AS (
        |  SELECT COUNT(DISTINCT e.src) AS nn, COUNT(*) AS cnt,
        |    SUM(a.deg) AS sa, SUM(b.deg) AS sb,
        |    SUM(a.deg * b.deg) AS sab,
        |    SUM(a.deg * a.deg) AS saa,
        |    SUM(b.deg * b.deg) AS sbb
        |  FROM sym e JOIN deg a ON e.src = a.node
        |  JOIN deg b ON e.dst = b.node
        |)
        |SELECT CAST(nn AS BIGINT) AS n_nodes,
        |  CAST(cnt / 2 AS BIGINT) AS n_edges,
        |  CASE WHEN cnt * saa - sa * sa > 0 AND cnt * sbb - sb * sb > 0
        |       THEN ROUND(CAST(cnt * sab - sa * sb AS DOUBLE) /
        |         (sqrt(CAST(cnt * saa - sa * sa AS DOUBLE)) *
        |          sqrt(CAST(cnt * sbb - sb * sb AS DOUBLE))), 4)
        |       ELSE NULL END AS r
        |FROM m""".stripMargin,
    "x_hits" -> {
      // unrolled 3-round mutual-reinforcement replay, max-normalized
      // each half-round exactly as the engine (a/MAX(a), h/MAX(h),
      // COALESCE 0 for the missing role); only summation order
      // differs, absorbed by round(6)
      val iterCtes = (1 to 3).map { k =>
        s"""ar$k AS (SELECT e.dst AS node, SUM(p.h) AS ar
           |  FROM edges e JOIN h${k - 1} p ON e.src = p.node GROUP BY 1),
           |a$k AS (SELECT n.node,
           |    COALESCE(ar.ar / (SELECT MAX(ar) FROM ar$k), 0.0e0) AS a
           |  FROM nodes n LEFT JOIN ar$k ar ON n.node = ar.node),
           |hr$k AS (SELECT e.src AS node, SUM(q.a) AS hr
           |  FROM edges e JOIN a$k q ON e.dst = q.node GROUP BY 1),
           |h$k AS (SELECT n.node,
           |    COALESCE(hr.hr / (SELECT MAX(hr) FROM hr$k), 0.0e0) AS h
           |  FROM nodes n LEFT JOIN hr$k hr ON n.node = hr.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |h0 AS (SELECT node, 1.0e0 AS h FROM nodes),
         |$iterCtes
         |SELECT h.node, ROUND(h.h, 6) AS hub, ROUND(a.a, 6) AS auth
         |FROM h3 h JOIN a3 a ON h.node = a.node ORDER BY h.node""".stripMargin
    },
    "x_kcore" -> {
      // unrolled 3-round peel replay: degrees over the residual edge
      // set, HAVING >= k keeps, two-sided semi filter — counts only,
      // no float surface at all
      val k = 30
      val iterCtes = (1 to 3).map { i =>
        s"""keep$i AS (SELECT src AS node FROM e${i - 1}
           |  GROUP BY src HAVING COUNT(*) >= $k),
           |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
           |  JOIN keep$i a ON e.src = a.node
           |  JOIN keep$i b ON e.dst = b.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e0 AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
         |$iterCtes
         |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
         |FROM e3 GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "x_trustrank" -> {
      // x_pagerank's unrolled replay with the restart vector p in
      // place of 1/N: p = 1/|seeds in graph| on seeds, 0 elsewhere;
      // r0 = p; dangling mass restarts into p. Float constants
      // interpolated from the SAME Scala doubles the operator uses;
      // only summation order differs, absorbed by round(6).
      val iters = 3
      val d = 0.85
      val iterCtes = (1 to iters).map { k =>
        s"""contrib$k AS (SELECT e.dst AS node, SUM(p.r / deg.od) AS c
           |  FROM edges e JOIN r${k - 1} p ON e.src = p.node
           |  JOIN deg ON e.src = deg.src GROUP BY 1),
           |dang$k AS (SELECT 1.0e0 - COALESCE((SELECT SUM(c) FROM contrib$k), 0.0e0) AS dm),
           |r$k AS (SELECT n.node,
           |    ${1.0 - d}e0 * n.p + ${d}e0 * (COALESCE(c.c, 0.0e0) +
           |      (SELECT dm FROM dang$k) * n.p) AS r
           |  FROM nodesp n LEFT JOIN contrib$k c ON n.node = c.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         |seeds AS (SELECT DISTINCT 'c' || c_custkey AS node FROM customer
         |          WHERE c_acctbal >= 9000),
         |ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM nodes JOIN seeds USING (node)),
         |nodesp AS (SELECT n.node,
         |    CASE WHEN s.node IS NOT NULL THEN 1.0e0 / (SELECT k FROM ns)
         |         ELSE 0.0e0 END AS p
         |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
         |deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS od FROM edges GROUP BY 1),
         |r0 AS (SELECT node, p AS r FROM nodesp),
         |$iterCtes
         |SELECT node, round(r * (SELECT n FROM nn), 6) AS trust
         |FROM r$iters ORDER BY node""".stripMargin
    },
    "x_ivm" ->
      // the IVM correctness statement IS "equals the recompute": the
      // maintained view covers all orders except the retracted slice
      """WITH kept AS (
        |  SELECT o_orderpriority, o_totalprice FROM orders
        |  WHERE NOT (o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
        |             AND o_orderkey % 5 = 0))
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_snapshot_diff" ->
      """WITH prev AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0),
        |cur AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + o_totalprice
        |         ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |d AS (
        |  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |              WHEN n.o_orderkey IS NULL THEN 'delete'
        |              WHEN o.o_totalprice IS DISTINCT FROM n.p THEN 'update'
        |              ELSE 'same' END AS change_type
        |  FROM prev o FULL OUTER JOIN cur n ON o.o_orderkey = n.o_orderkey)
        |SELECT change_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_except" ->
      """SELECT k FROM (SELECT c_custkey AS k FROM customer
        |  EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t
        |ORDER BY k""".stripMargin,
    "x_ntile_lead" ->
      """SELECT s_suppkey,
        |  CAST(NTILE(4) OVER (ORDER BY s_acctbal DESC, s_suppkey) AS INT) AS quartile,
        |  LEAD(s_acctbal, 1) OVER (ORDER BY s_acctbal DESC, s_suppkey) AS next_bal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "x_unpivot" ->
      """SELECT p_partkey, attr, val FROM (
        |  SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE) FROM part
        |) t ORDER BY p_partkey, attr""".stripMargin,
    "x_stat_aggs" ->
      """SELECT c_mktsegment,
        |  ROUND(stddev_samp(c_acctbal), 4) AS sd_bal,
        |  ROUND(var_samp(c_acctbal), 4) AS var_bal,
        |  ROUND(corr(c_acctbal, CAST(c_nationkey AS DOUBLE)), 4) AS corr_bal_nat,
        |  ROUND(covar_samp(c_acctbal, CAST(c_nationkey AS DOUBLE)), 4) AS covar_bal_nat
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "x_cube" ->
      """SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
        |  CAST(GROUPING(c_mktsegment, c_nationkey) AS INT) AS gid
        |FROM customer GROUP BY CUBE(c_mktsegment, c_nationkey)
        |ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST, gid""".stripMargin,
    "x_posexplode" ->
      """SELECT doc_id, CAST(i AS INT) AS pos, w[i+1] AS word
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |      WHERE doc_id < 20) d, unnest(range(len(w))) t(i)
        |ORDER BY doc_id, pos""".stripMargin,
    "x_full_outer" ->
      """SELECT COALESCE(c.ck, o.ok) AS k, c.c_acctbal, o.o_orderkey
        |FROM (SELECT c_custkey AS ck, c_acctbal FROM customer WHERE c_acctbal > 9000) c
        |FULL OUTER JOIN
        |     (SELECT o_custkey AS ok, o_orderkey FROM orders WHERE o_totalprice > 500000) o
        |  ON c.ck = o.ok
        |ORDER BY k, o_orderkey NULLS FIRST""".stripMargin,
    "x_histogram" ->
      """SELECT CAST(floor((c_acctbal + 1000.0) / 1000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS cnt
        |FROM customer GROUP BY 1 ORDER BY bucket""".stripMargin,
    "x_bucketed_join" ->
      // replay over the flat tables: bucketing changes the storage
      // layout and the plan, never the result
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x_dpp_join" ->
      // replay over the flat table: the month derivation is identical,
      // only the storage layout (partition dirs vs flat parquet) differs
      """WITH dim AS (
        |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_ym FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND o_orderdate BETWEEN TIMESTAMP '1995-02-01 00:00:00'
        |                        AND TIMESTAMP '1995-04-30 00:00:00'
        |)
        |SELECT ship_ym, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_ym, l_quantity
        |      FROM lineitem) l
        |JOIN dim USING (ship_ym)
        |GROUP BY ship_ym ORDER BY ship_ym""".stripMargin,
    "x_json_keys" ->
      """SELECT key, COUNT(*) AS cnt FROM (
        |  SELECT unnest(json_keys(props)) AS key FROM events) t
        |GROUP BY key ORDER BY key""".stripMargin,
    "x_string_funcs" ->
      """SELECT p_partkey, upper(substring(p_name, 1, 10)) AS name10,
        |  regexp_replace(p_type, ' ', '_', 'g') AS typ_u,
        |  CAST(length(trim(p_name)) AS INT) AS len_name,
        |  p_brand LIKE 'Brand#1%' AS b1,
        |  regexp_extract(p_type, '^(\w+)', 1) AS first_word
        |FROM part ORDER BY p_partkey""".stripMargin,
    "x_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS d,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "x_null_funcs" ->
      """SELECT c_custkey,
        |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(bldg)') AS seg,
        |  GREATEST(c_acctbal, 0.0) AS bal_floor,
        |  LEAST(c_acctbal, 1000.0) AS bal_cap
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "x_theta_join" ->
      """SELECT n1.n_name AS name1, n2.n_name AS name2
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
        |ORDER BY name1, name2""".stripMargin,
    "x_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p_urgent,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p_high,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p_medium
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "x_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS med_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin
  )
}
