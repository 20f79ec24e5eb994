package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Scratch, Tables}
import graft.operators.{EventAnalytics, GraphTraversal, Stats, StringSimJoin}

/** Statistical-modeling and graph-traversal coverage queries (round 7):
  * per-group OLS regression, correlation matrix, two-sample KS test,
  * equi-depth binning, Markov transition matrix, bounded-depth BFS,
  * and sorted-neighborhood blocking. Each pairs a Spark-first operator
  * (operators/Stats, GraphTraversal, EventAnalytics, StringSimJoin)
  * with a value-exact DuckDB oracle.
  */
object StatsQ {
  private type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** The x_sketch_* family's EXACT-REGIME guard: those oracles are
    * valid only while no KLL compactor ever fires — the sketch value
    * is then the exact order statistic the DuckDB replay computes. The
    * binding bound is the FINAL (post-merge) group's per-level item
    * count, which every member bounds by its rows-per-group (merge
    * concatenates levels; a weighted insert puts ≤ the group's rows on
    * each level). At the driver SFs max(rows per group) « k = 65536;
    * at a larger SF this guard turns what would be an opaque ~1/k-rank
    * hash mismatch into a named failure that says to raise k or
    * re-oracle in the approximate regime. One tiny count-groupBy job.
    */
  private def requireExactSketchRegime(df: DataFrame, k: Int, q: String,
                                       groupCols: org.apache.spark.sql.Column*): Unit = {
    val r = df.groupBy(groupCols: _*).agg(count(lit(1)).as("__c"))
      .agg(max(col("__c"))).head()
    val m = if (r.isNullAt(0)) 0L else r.getLong(0)
    require(m < k,
      s"$q: exact-regime oracle broken — max per-group item count $m >= " +
        s"k=$k, so the KLL compactor fires and the sketch carries ~1/k " +
        "rank error; raise k or move this oracle to the approximate regime")
  }

  /** BENCH-ONLY queries (SparkEntry.benchOnly): timed by Bench.scala
    * every sweep, deliberately EXCLUDED from Verify.scala and the
    * driver's oracle compare — each entry names why a value oracle
    * would be a flake, not a check. Keeping them out of the
    * correctness artifact (round-16 verdict item 1: x_winsorize_
    * sketch_prod read as `err: no_oracle` two rounds running) lets
    * CORRECTNESS read all-green while the bench still tracks the
    * production-configuration cost. */
  val benchOnlyDefs: Map[String, Q] = Map(
    "x_winsorize_sketch_prod" -> ((s, dir) =>
      // the winsorize sketch path at its PRODUCTION size (k = 256,
      // ~1/256 rank error on the clip bounds — the 100 TB
      // configuration): deliberately NON-ORACLED (a compacting sketch's
      // bound selection is partition-order-dependent), it exists so the
      // bench tracks the cost of the path users actually run —
      // x_winsorize_sketch's k = 2^19 exact-regime form is the
      // correctness pin, ~5x dearer per sweep, and stays as is.
      Stats.winsorizedStatsSketch(t(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", k = 256)
        .select(col("l_returnflag"), col("n"), col("p_lo"), col("p_hi"),
          round(col("winsor_mean"), 6).as("winsor_mean"),
          round(col("trimmed_mean"), 6).as("trimmed_mean"))
        .orderBy("l_returnflag")))

  val defs: Map[String, Q] = Map(
    "x_ols" -> ((s, dir) =>
      // per-returnflag OLS of extended price on quantity: Spark's
      // declarative regr_* aggregates — one codegen hash-agg pass,
      // map-side partials, no second scan
      Stats.olsByGroup(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice", "l_quantity")
        .select(col("l_returnflag"), col("n"),
          round(col("slope"), 4).as("slope"),
          round(col("intercept"), 4).as("intercept"),
          round(col("r2"), 6).as("r2"))
        .orderBy("l_returnflag")),

    "x_corr_matrix" -> ((s, dir) =>
      // pairwise Pearson matrix in ONE aggregation pass (all C(4,2)
      // coefficients as agg columns, long form via stack over 1 row)
      Stats.corrMatrix(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("col_a"), col("col_b"), round(col("r"), 6).as("r"))
        .orderBy("col_a", "col_b")),

    "x_ks_test" -> ((s, dir) =>
      // two-sample Kolmogorov-Smirnov over the value distributions of
      // view vs purchase events; the global CDF runs on the bucketed
      // prefix sum (Stats.ksTest fine-cell machinery) — no single-task global window
      Stats.ksTest(
          t(s, dir, "events").filter(col("event_type").isin("view", "purchase")),
          "value", col("event_type") === "view")
        .select(col("n_a"), col("n_b"), round(col("d"), 6).as("d"))),

    "x_mannwhitney" -> ((s, dir) =>
      // Mann-Whitney U with exact midranks (tie groups ranked at the
      // average of their span) from the same bucketed prefix sum as
      // x_ks_test — rank-sum terms are exact multiples of 0.5, so the
      // double aggregation is order-independent-exact
      Stats.mannWhitneyU(
          t(s, dir, "events").filter(col("event_type").isin("view", "purchase")),
          "value", col("event_type") === "view")
        .select(col("n_a"), col("n_b"), col("r_a"), col("u_a"),
          round(col("z"), 6).as("z"))),

    "x_benford" -> ((s, dir) =>
      // Benford first-digit audit of order totals: digit from the
      // decimal rendering (libm-proof), one count pass + broadcast
      // total; the uniform-ish TPC-H prices WON'T follow Benford —
      // the report showing that divergence is the point
      graft.operators.Profiling.benford(t(s, dir, "orders"), "o_totalprice")
        .select(col("digit"), col("cnt"), round(col("share"), 6).as("share"),
          round(col("expected"), 6).as("expected"))
        .orderBy("digit")),

    "x_eqdepth" -> ((s, dir) =>
      // equi-depth deciles of order totals with exact NTILE semantics,
      // rank from the same bucketed prefix sum — scale-safe binning
      Stats.equiDepthBins(t(s, dir, "orders"),
          "o_totalprice", "o_orderkey", bins = 10)
        .orderBy("bin")),

    "x_markov" -> ((s, dir) =>
      // first-order event-type transition matrix per user: one shuffle
      // on user_id (lag window), then partial-agged pair counts with a
      // broadcast normalizer
      EventAnalytics.transitionMatrix(t(s, dir, "events"),
          "user_id", "event_type", "ts", "event_id")
        .select(col("from_type"), col("to_type"), col("cnt"),
          round(col("p"), 6).as("prob"))
        .orderBy("from_type", "to_type")),

    "x_bfs_hops" -> ((s, dir) => {
      // hop distance from one nation's customers over the undirected
      // customer—supplier trade graph (the PageRank edge set): BFS
      // layering via per-hop join + anti-join, checkpoint-cut rounds.
      // Numeric node ids (even=customer, odd=supplier) through every
      // shuffle; the oracle's display strings attach to the |V|-row
      // result only.
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val seeds = t(s, dir, "customer").filter(col("c_nationkey") === 7)
        .select((col("c_custkey") * 2).as("node"))
      GraphTraversal.bfsHops(edges, "src", "dst", seeds, "node", maxHops = 3)
        .select(
          concat(when(col("node") % 2 === 0, "c").otherwise("s"),
            expr("node div 2")).as("node"),
          col("hops"))
        .orderBy("node")
    }),

    "x_psi" -> ((s, dir) =>
      // population-stability drift score between view and purchase
      // value distributions: equal-width bins over the pooled range
      // (closed-form bin function — exactly replayable, unlike
      // quantile edges), Laplace-smoothed shares, ≤10-term sum
      Stats.psi(
          t(s, dir, "events").filter(col("event_type").isin("view", "purchase")),
          "value", col("event_type") === "view")
        .select(col("n_a"), col("n_b"), round(col("psi"), 6).as("psi"))),

    "x_pareto" -> ((s, dir) =>
      // revenue concentration: customers ranked by total order value
      // DESC into deciles, cumulative revenue share per decile — the
      // global descending cumsum runs on the bucketed prefix sum
      // (decimal-exact), never a single-task window over the key table
      Stats.paretoCurve(t(s, dir, "orders"), "o_custkey", "o_totalprice",
          bins = 10)
        .select(col("bin"), col("n_keys"),
          round(col("cum_share"), 6).as("cum_share"))
        .orderBy("bin")),

    "x_join_profile" -> ((s, dir) =>
      // pre-join cardinality diagnostic for customer⋈orders: exact
      // join output size and per-side fanout from the |keys|-sized
      // count tables — never from the join itself
      graft.operators.ScaleJoins.joinProfile(
        t(s, dir, "customer"), "c_custkey",
        t(s, dir, "orders"), "o_custkey")),

    "x_dq_rules" -> ((s, dir) => {
      // declarative data-quality gate (operators/QualityRules): four
      // row predicates in ONE agg pass, two uniqueness checks, one FK
      // anti-join — a mixed pass/fail report (the price bound and the
      // custkey-uniqueness rule fail by design, proving the failure
      // path is live)
      import graft.operators.QualityRules._
      val o = t(s, dir, "orders")
      report(
        rowRules(o, Seq(
          "totalprice_positive" -> (col("o_totalprice") > 0),
          "orderdate_not_null" -> col("o_orderdate").isNotNull,
          "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P"),
          "totalprice_below_400k" -> (col("o_totalprice") <= 400000))),
        uniqueRule(o, "orderkey_unique", Seq("o_orderkey")),
        uniqueRule(o, "custkey_unique", Seq("o_custkey")),
        fkRule(o, "custkey_fk", Seq("o_custkey"),
          t(s, dir, "customer"), Seq("c_custkey")))
        .orderBy("rule")
    }),

    "x_linkage" -> ((s, dir) => {
      // record-linkage scoring (Fellegi-Sunter-style linear weights)
      // over sorted-neighborhood blocking: candidates from the blocked
      // sort (never corpus²), then a composite agreement score — name
      // edit similarity, nation and segment agreement — with the
      // top-50 as TakeOrdered. Ordering is fully deterministic
      // (score, then ids), so the LIMIT cutoff is engine-stable.
      val c = t(s, dir, "customer")
      val cand = StringSimJoin.sortedNeighborhood(c, "c_custkey", "c_name",
        window = 2)
      val attrs = c.select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"))
      val scored = cand
        .join(attrs.select(col("c_custkey").as("id_a"),
          col("c_nationkey").as("nat_a"), col("c_mktsegment").as("seg_a")), Seq("id_a"))
        .join(attrs.select(col("c_custkey").as("id_b"),
          col("c_nationkey").as("nat_b"), col("c_mktsegment").as("seg_b")), Seq("id_b"))
        .withColumn("score",
          lit(3.0) * (lit(1.0) - levenshtein(col("s_a"), col("s_b")).cast("double")
            / greatest(length(col("s_a")), length(col("s_b"))).cast("double"))
            + when(col("nat_a") === col("nat_b"), 1.0).otherwise(0.0)
            + when(col("seg_a") === col("seg_b"), 0.5).otherwise(0.0))
      scored
        .orderBy(col("score").desc, col("id_a"), col("id_b"))
        .limit(50)
        .select(col("id_a"), col("id_b"), round(col("score"), 4).as("score"))
    }),

    "x_sorted_neighborhood" -> ((s, dir) =>
      // sorted-neighborhood blocking on part names (window 3, blocked
      // by first letter): per-block sort + lead — one shuffle on the
      // block key, no global rank, no self-join on data
      StringSimJoin.sortedNeighborhood(t(s, dir, "part"),
          "p_partkey", "p_name", window = 3)
        .orderBy("id_a", "id_b")),

    "x_rolling_z" -> ((s, dir) =>
      // rolling z-score anomaly peak per event type
      // (EventAnalytics.rollingAnomaly): hourly decimal-exact bucket
      // sums, each bucket scored against its trailing-24h mean/stddev
      // (current excluded), peak-|z| bucket per key — threshold-free,
      // so no boundary sensitivity; one raw-event pass, windows over
      // the tiny series table only
      graft.operators.EventAnalytics.rollingAnomaly(
          t(s, dir, "events"), "event_type", "ts", "value", lookback = 24)
        .select(col("k").as("event_type"), col("bucket_ts"),
          col("z"), col("n_scored"))
        .orderBy("event_type")),

    "x_winsorize" -> ((s, dir) =>
      // outlier-robust group means (Stats.winsorizedStats): exact
      // p05/p95 clip + trim of l_quantity per return flag; decimal
      // sums → order-independent, percentile parity pinned by
      // x_percentiles
      Stats.winsorizedStats(t(s, dir, "lineitem"), "l_returnflag",
          "l_quantity")
        .select(col("l_returnflag"), col("n"), col("p_lo"), col("p_hi"),
          round(col("winsor_mean"), 6).as("winsor_mean"),
          round(col("trimmed_mean"), 6).as("trimmed_mean"))
        .orderBy("l_returnflag")),

    "x_label_prop" -> ((s, dir) => {
      // community detection (operators/LabelPropagation) over the
      // undirected customer—supplier trade graph (the PageRank edge
      // set): 3 synchronous LPA rounds, most-frequent neighbor label
      // with min-label tie-break — all-integer arithmetic, so the
      // replayed oracle matches exactly. Numeric node ids (even=
      // customer, odd=supplier) through every shuffle; display strings
      // attach to the community-count rollup only.
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.LabelPropagation.communities(edges, "src", "dst", iters = 3)
        .groupBy("community")
        .agg(count(lit(1)).as("members"))
        .select(
          concat(when(col("community") % 2 === 0, "c").otherwise("s"),
            expr("community div 2")).as("community"),
          col("members"))
        .orderBy("community")
    }),

    "x_exact_quantiles" -> ((s, dir) =>
      // exact p50/p90/p99 of l_extendedprice (Stats.exactQuantiles):
      // k-th order statistic off the bucketed prefix sum — bounded
      // memory at any scale, where Spark's own `percentile` buffers
      // the whole column per aggregation buffer. The value is a RAW
      // double from the data (no interpolation), so equality with the
      // oracle's ROW_NUMBER probe is exact with no rounding.
      graft.operators.Stats.exactQuantiles(
          t(s, dir, "lineitem"), "l_extendedprice",
          ps = Seq(0.5, 0.9, 0.99))
        .orderBy("p")),

    "x_grouped_quantiles" -> ((s, dir) =>
      // per-group exact order-statistic quantiles
      // (Stats.groupedExactQuantiles): the scale-safe replacement for
      // `percentile(..) GROUP BY` — per-(group, bucket) prefix sums,
      // planning-sized driver fold (guarded), raw-double values so
      // the per-group ROW_NUMBER oracle matches with no rounding
      graft.operators.Stats.groupedExactQuantiles(
          t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
          ps = Seq(0.5, 0.95))
        .orderBy("l_returnflag", "p")),

    "x_sketch_quantiles" -> ((s, dir) =>
      // mergeable KLL quantile sketch (Stats.groupedQuantilesSketch —
      // the beyond-maxFoldRows scale path: one hash-agg shuffle, no
      // driver fold at any group count). ORACLED IN ITS EXACT REGIME:
      // k = 65536 exceeds every group's size at the driver SFs, so no
      // compactor ever fires and the sketch quantile IS the exact
      // k-th order statistic (the documented exact-below-compaction
      // property; QuantileSketchSpec pins the ε-regime at sf0.1
      // against the exact operator). Raw-double values — the
      // per-group ROW_NUMBER oracle matches with no rounding.
      // requireExactSketchRegime: a regime break fails LOUD here, not
      // as an opaque hash mismatch.
      {
        requireExactSketchRegime(
          t(s, dir, "orders").filter(col("o_totalprice").isNotNull),
          65536, "x_sketch_quantiles", col("o_orderpriority"))
        Stats.groupedQuantilesSketch(
            t(s, dir, "orders"), "o_orderpriority", "o_totalprice",
            ps = Seq(0.5, 0.9), k = 65536)
          .orderBy("o_orderpriority", "p")
      }),

    "x_sketch_merge" -> ((s, dir) => {
      // the sketch ROLL-UP contract (x_hll_merge's pattern for
      // quantiles): per-(priority, shard) serialized sketch rows — the
      // persistable daily artifact — folded with graft_kll_merge, read
      // with graft_kll_values; the oracle replays the SINGLE-PASS
      // exact quantiles over all shards, so the hash match PROVES the
      // merge is lossless end-to-end (exact no-compaction regime:
      // k = 65536 exceeds every merged group's size at the driver SFs)
      val ps = Seq(0.5, 0.9)
      val o = t(s, dir, "orders").filter(col("o_totalprice").isNotNull)
      // merge CONCATENATES the shard sketches' levels, so the binding
      // regime bound is the merged (per-priority) count, not per-shard
      requireExactSketchRegime(o, 65536, "x_sketch_merge",
        col("o_orderpriority"))
      val shards = o
        .groupBy(col("o_orderpriority"), (col("o_orderkey") % 2).as("__shard"))
        .agg(graft.functions.KllQuantiles
            .kllSketch(col("o_totalprice"), 65536).as("__sk"),
          count(lit(1)).as("__n"))
      shards.groupBy(col("o_orderpriority"))
        .agg(graft.functions.KllQuantiles.kllMerge(col("__sk")).as("__m"),
          sum(col("__n")).as("n"))
        .select(col("o_orderpriority"), col("n"),
          posexplode(graft.functions.KllQuantiles.kllValues(col("__m"), ps))
            .as(Seq("__i", "value")))
        .withColumn("p",
          element_at(array(ps.map(lit): _*), col("__i").cast("int") + 1))
        .select(col("o_orderpriority"), col("p"), col("n"), col("value"))
        .orderBy("o_orderpriority", "p")
    }),

    "x_sketch_weighted" -> ((s, dir) =>
      // WEIGHTED mergeable KLL sketch (Stats.groupedQuantilesSketchWeighted
      // — the beyond-maxFoldRows scale path of the pre-counted quantile
      // family: one hash-agg shuffle, popcount(w) appends per row, no
      // multiset expansion, no driver fold). ORACLED IN ITS EXACT
      // REGIME: weights are o_orderkey % 7 + 1 (≤ 3 set bits), so each
      // ladder level receives at most |group| items — far under
      // k = 65536 at the driver SFs, no compactor ever fires, and the
      // sketch quantile IS the exact ⌈p·W⌉-th order statistic of the
      // EXPANDED multiset, which the oracle replays via range(w).
      // requireExactSketchRegime: each level receives at most the
      // group's ROW count (rows with that weight-bit set), so the
      // rows-per-priority guard bounds every level.
      {
        requireExactSketchRegime(
          t(s, dir, "orders").filter(col("o_totalprice").isNotNull),
          65536, "x_sketch_weighted", col("o_orderpriority"))
        Stats.groupedQuantilesSketchWeighted(
            t(s, dir, "orders")
              .withColumn("w", col("o_orderkey") % 7 + lit(1)),
            "o_orderpriority", "o_totalprice", "w",
            ps = Seq(0.5, 0.9), k = 65536)
          .orderBy("o_orderpriority", "p")
      }),

    "x_sketch_rollup" -> ((s, dir) => {
      // the PERSISTED day-partitioned sketch roll-up — x_sketch_merge's
      // pattern taken through an actual parquet round trip: one
      // KllSketchAgg row per (priority, month) written to a
      // month-partitioned table (the daily-artifact shape; month keeps
      // the driver-SF file counts sane — the mechanics are identical),
      // then an arbitrary horizon (calendar 1995) folded with
      // graft_kll_merge + read with graft_kll_values. Partition pruning
      // on the horizon filter is PlanSpec-locked: the merge job reads
      // ONLY the 12 selected month partitions — history is never
      // rescanned. Exact no-compaction regime (k = 65536 exceeds every
      // merged group's size at the driver SFs), so the single-pass
      // exact oracle hash-matches.
      val ps = Seq(0.5, 0.9)
      val store = Scratch.dir(s"sketch_rollup_${Integer.toHexString(dir.hashCode)}")
      // the horizon fold merges a priority's 12 month-sketches — the
      // binding regime bound is the merged per-priority count (the
      // unfiltered count bounds any horizon)
      requireExactSketchRegime(
        t(s, dir, "orders").filter(col("o_totalprice").isNotNull),
        65536, "x_sketch_rollup", col("o_orderpriority"))
      t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull && col("o_orderdate").isNotNull &&
          col("o_orderpriority").isNotNull)
        .groupBy(col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
        .agg(graft.functions.KllQuantiles
            .kllSketch(col("o_totalprice"), 65536).as("sk"),
          count(lit(1)).as("cnt"))
        // co-locate each month's (few) sketch rows in one task before
        // the partitioned write: without this every shuffle partition
        // holding a month's rows opens its own file in that month's
        // dir (~4 tiny files per partition at local[32]) — one file
        // per month is the shape a daily-artifact store wants. The N is
        // EXPLICIT: the keyed no-N form is advisory and AQE coalesced
        // the whole write to one task (measured 1-task ~2 s stage); with
        // N, each task writes its own months — still one file per month
        .repartition(s.sessionState.conf.numShufflePartitions, col("mon"))
        .write.mode("overwrite").partitionBy("mon")
        .parquet(store.getAbsolutePath)
      s.read.parquet(store.getAbsolutePath)
        .filter(col("mon") >= "1995-01" && col("mon") <= "1995-12")
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.KllQuantiles.kllMerge(col("sk")).as("m"),
          sum(col("cnt")).as("n"))
        .select(col("o_orderpriority"), col("n"),
          posexplode(graft.functions.KllQuantiles.kllValues(col("m"), ps))
            .as(Seq("__i", "value")))
        .withColumn("p",
          element_at(array(ps.map(lit): _*), col("__i").cast("int") + 1))
        .select(col("o_orderpriority"), col("p"), col("n"), col("value"))
        .orderBy("o_orderpriority", "p")
    }),

    "x_bootstrap" -> ((s, dir) =>
      // Poisson-bootstrap CI for the mean order price
      // (Stats.bootstrapMeanCI): 200 deterministic hash-derived
      // Poisson(1) resamples ride ONE corpus scan (explode -> map-side
      // partial agg to <= 201 groups); the oracle replays the full
      // splitmix chain (HashReplay CTEs), the SHARED Poisson CDF
      // thresholds, the exact decimal weighted sums, and the identical
      // rank arithmetic — a value-level oracle for a resampling method
      Stats.bootstrapMeanCI(t(s, dir, "orders"), "o_totalprice",
          "o_orderkey", b = 200, alpha = 0.05)
        .select(col("b_eff"), col("n"), round(col("mean"), 6).as("mean"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))),

    "x_winsorize_sketch" -> ((s, dir) => {
      // the sketch-backed winsorize scale path (Stats.winsorizedStatsSketch
      // — no driver fold at any group count) ORACLED IN ITS EXACT
      // REGIME: k = 2^19 exceeds every return flag's row count at the
      // driver SFs (guarded), so the interpolated sketch bounds ARE the
      // exact p05/p95 — and on the INTEGER l_quantity domain the two
      // lerp operand orders coincide exactly (tie blocks make v_lo =
      // v_hi or the fraction lands on halves), so the whole output
      // matches the exact operator's oracle hash-for-hash
      val li = t(s, dir, "lineitem")
      requireExactSketchRegime(li.filter(col("l_quantity").isNotNull),
        1 << 19, "x_winsorize_sketch", col("l_returnflag"))
      Stats.winsorizedStatsSketch(li, "l_returnflag", "l_quantity",
          k = 1 << 19)
        .select(col("l_returnflag"), col("n"), col("p_lo"), col("p_hi"),
          round(col("winsor_mean"), 6).as("winsor_mean"),
          round(col("trimmed_mean"), 6).as("trimmed_mean"))
        .orderBy("l_returnflag")
    }),

    "x_msprt" -> ((s, dir) =>
      // always-valid sequential p-value (Stats.msprt, the mSPRT of
      // Johari et al. 2017): the anti-peeking wrapper around the Welch
      // mean difference — ONE conditional decimal-moment pass (the
      // welch_t shape), then the mixture likelihood-ratio chain; the
      // oracle replays the identical decimal totals through the
      // identical double chain incl. the same tau^2 literal
      Stats.msprt(t(s, dir, "lineitem"), "l_extendedprice",
          col("l_returnflag") === "R", tau2 = 10000.0)
        .select(col("n_a"), col("n_b"),
          round(col("diff"), 6).as("diff"),
          round(col("v"), 6).as("v"),
          round(col("lambda"), 6).as("lambda"),
          round(col("p"), 6).as("p"),
          col("significant").cast("long").as("significant"))),

    "x_cuped_ratio" -> ((s, dir) => {
      // CUPED for RATIO metrics (Stats.cupedRatio — deltaRatioCI x
      // cuped): revenue-per-order with the CUSTOMER as the
      // randomization unit, variance-reduced by the customer's
      // PRE-period (1995) revenue/order pair (metric period: 1996 — the synthetic order dates start at 1995); units are customers
      // active in BOTH periods (CUPED needs the covariate on every
      // unit). One cross-moment decimal pass over (y, x, yc, xc),
      // pinned linearization algebra; the oracle replays every chain
      // term-for-term
      val o = t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull && col("o_custkey").isNotNull &&
          col("o_orderdate").isNotNull &&
          year(col("o_orderdate")).isin(1995, 1996))
      val units = o.groupBy(col("o_custkey"))
        .agg(
          sum(when(year(col("o_orderdate")) === 1996,
            col("o_totalprice").cast("decimal(18,2)"))).as("y"),
          sum(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L))
            .cast("double").as("x"),
          sum(when(year(col("o_orderdate")) === 1995,
            col("o_totalprice").cast("decimal(18,2)"))).as("yc"),
          sum(when(year(col("o_orderdate")) === 1995, 1L).otherwise(0L))
            .cast("double").as("xc"))
        .filter(col("x") > 0 && col("xc") > 0)
      Stats.cupedRatio(units, "y", "x", "yc", "xc",
          col("o_custkey") % 2 === 0)
        .select(col("n_a"), col("n_b"),
          round(col("ratio_a"), 6).as("ratio_a"),
          round(col("ratio_b"), 6).as("ratio_b"),
          round(col("diff"), 6).as("diff"),
          round(col("theta"), 6).as("theta"),
          round(col("rho2"), 6).as("rho2"),
          round(col("diff_adj"), 6).as("diff_adj"),
          round(col("se_adj"), 6).as("se_adj"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
    }),

    "x_poststrat" -> ((s, dir) =>
      // post-stratified A/B difference (Stats.postStratifiedDiff —
      // the categorical CUPED sibling): order totals re-weighted to
      // pooled priority-stratum shares between even- and odd-customer
      // arms; ONE (stratum, arm)-cell decimal pass + a sorted
      // planning-sized driver fold; round(6) absorbs the <=|strata|
      // double-fold ordering vs the oracle's unordered SUM (the
      // x_anova precedent)
      Stats.postStratifiedDiff(t(s, dir, "orders"), "o_totalprice",
          "o_orderpriority", col("o_custkey") % 2 === 0)
        .select(col("n_a"), col("n_b"), col("n_strata"),
          round(col("diff_raw"), 6).as("diff_raw"),
          round(col("diff_strat"), 6).as("diff_strat"),
          round(col("se_strat"), 6).as("se_strat"),
          round(col("t_strat"), 6).as("t_strat"))),

    "x_power_mde" -> ((s, dir) =>
      // power / minimum-detectable-effect readout (Stats.powerMde):
      // the pre-test sizing answer — smallest lift visible at the
      // CURRENT arm sizes and the per-arm n a 1% relative lift needs;
      // ONE welch-shaped decimal-moment pass, pinned driver algebra
      // with caller-supplied normal quantile literals that the oracle
      // replays verbatim
      Stats.powerMde(t(s, dir, "lineitem"), "l_extendedprice",
          col("l_returnflag") === "R", targetRel = 0.01)
        .select(col("n_a"), col("n_b"),
          round(col("mean_b"), 6).as("mean_b"),
          round(col("mde_abs"), 6).as("mde_abs"),
          round(col("mde_rel"), 6).as("mde_rel"),
          col("n_per_arm"))),

    "x_welch_segments" -> ((s, dir) =>
      // per-segment treatment effects (Stats.welchTByGroup): a Welch
      // test per event type for the even/odd-user split, BH across the
      // five slices — ONE (segment, arm)-cell decimal pass, welchChain
      // per segment (each row bit-equal to welchT on that slice),
      // the A&S erfc p, step-up at q = 0.05
      Stats.welchTByGroup(t(s, dir, "events"), "value", "event_type",
          col("user_id") % 2 === 0, q = 0.05)
        .select(col("grp"), col("n_a"), col("n_b"),
          round(col("mean_a"), 6).as("mean_a"),
          round(col("mean_b"), 6).as("mean_b"),
          round(col("diff"), 6).as("diff"),
          round(col("t"), 6).as("t"),
          round(col("df"), 4).as("df"),
          round(col("p"), 6).as("p"),
          col("significant").cast("long").as("significant"))),

    "x_multi_arm" -> ((s, dir) =>
      // multi-arm A/B/n readout (Stats.multiArm): every event type vs
      // the 'view' control in ONE (arm)-grouped decimal-moment pass —
      // per-arm Welch t (the welchChain, bit-equal to x_welch_t at
      // k = 2), normal-approximation p, BH step-up across the 4
      // comparisons; round(6/4) pins last-ulp exp() divergence
      Stats.multiArm(t(s, dir, "events"), "value", "event_type",
          controlArm = "view", q = 0.05)
        .select(col("arm"), col("n_c"), col("n_t"),
          round(col("mean_c"), 6).as("mean_c"),
          round(col("mean_t"), 6).as("mean_t"),
          round(col("diff"), 6).as("diff"),
          round(col("t"), 6).as("t"),
          round(col("df"), 4).as("df"),
          round(col("p"), 6).as("p"),
          col("significant"))),

    "x_group_seq" -> ((s, dir) =>
      // group-sequential monitor (Stats.groupSequential): four
      // pre-registered looks over the order timeline, cumulative Welch
      // z per look against the O'Brien-Fleming-shaped boundary
      // z_alpha2/sqrt(info_frac) — ONE (look-bucket, arm)-cell decimal
      // pass, pinned driver cumulative algebra; the scheduled-looks
      // dual of x_msprt's always-valid monitoring
      Stats.groupSequential(t(s, dir, "orders"), "o_totalprice",
          col("o_custkey") % 2 === 0, "o_orderdate",
          cutoffs = Seq(lit("1996-06-30"), lit("1998-06-30"),
            lit("2000-06-30"), lit("2001-08-01")).map(_.cast("date")))
        .select(col("look").cast("long").as("look"),
          col("n_a"), col("n_b"),
          round(col("info_frac"), 6).as("info_frac"),
          round(col("z"), 6).as("z"),
          round(col("boundary"), 6).as("boundary"),
          col("crossed"),
          col("stop_look").cast("long").as("stop_look"))),

    "x_group_seq_live" -> ((s, dir) => {
      // the LIVE-monitoring face of x_group_seq (ADVICE r16 /
      // Stats.groupSequential plannedTotal): the same four looks read
      // mid-experiment against a PLANNED final pooled count of twice
      // the observed rows — info_frac halves, the OBF boundary
      // stiffens by sqrt(2), and the crossing pattern is re-decided
      // under the honest denominator. plannedTotal is derived from
      // one count (2x observed) so the query is SF-portable; the
      // oracle replays the identical doubling.
      val o = t(s, dir, "orders")
      // the SAME finiteness predicate as the engine's eligible-row gate
      // (Stats.finite: NULL, NaN AND ±Inf excluded — ADVICE r17): an
      // Inf row must not inflate plannedTotal relative to the rows the
      // moment pass actually folds
      val obs = o.filter(col("o_totalprice").isNotNull &&
          col("o_orderdate").isNotNull &&
          !isnan(col("o_totalprice").cast("double")) &&
          abs(col("o_totalprice").cast("double")) =!=
            lit(Double.PositiveInfinity)).count()
      Stats.groupSequential(o, "o_totalprice",
          col("o_custkey") % 2 === 0, "o_orderdate",
          cutoffs = Seq(lit("1996-06-30"), lit("1998-06-30"),
            lit("2000-06-30"), lit("2001-08-01")).map(_.cast("date")),
          plannedTotal = Some(2L * obs))
        .select(col("look").cast("long").as("look"),
          col("n_a"), col("n_b"),
          round(col("info_frac"), 6).as("info_frac"),
          round(col("z"), 6).as("z"),
          round(col("boundary"), 6).as("boundary"),
          col("crossed"),
          col("stop_look").cast("long").as("stop_look"))
    }),

    "x_bootstrap_group" -> ((s, dir) =>
      // per-SEGMENT bootstrap mean CIs (Stats.bootstrapMeanCIByGroup):
      // the x_bootstrap machinery with (group, resample) cells — a
      // five-priority revenue-CI breakdown from the SAME single corpus
      // scan, <= |groups|*(B+1) partial-agged cells; the oracle is the
      // x_bootstrap replay with the group carried through every CTE
      Stats.bootstrapMeanCIByGroup(t(s, dir, "orders"),
          "o_orderpriority", "o_totalprice", "o_orderkey",
          b = 200, alpha = 0.05)
        .select(col("o_orderpriority"), col("b_eff"), col("n"),
          round(col("mean"), 6).as("mean"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
        .orderBy("o_orderpriority")),

    "x_delta_ratio" -> ((s, dir) => {
      // delta-method CI for a RATIO metric (Stats.deltaRatioCI):
      // revenue-per-order with the CUSTOMER as the randomization unit
      // — R = Σrevenue/Σorders per arm; the naive per-row variance is
      // wrong because a unit's numerator and denominator are
      // correlated, the delta method is the standard correction. Unit
      // rows are one groupBy over orders, then ONE conditional
      // decimal-moment pass; the oracle replays the identical decimal
      // totals through the identical double chain
      // prices are doubles on the 2-dp grid: sum on the EXACT decimal
      // grid (a double sum accumulates binary residue finer than 6 dp
      // and trips the operator's integrality sentinel — correctly)
      val units = t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull && col("o_custkey").isNotNull)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("y"),
          count(lit(1)).cast("double").as("x"))
      Stats.deltaRatioCI(units, "y", "x", col("o_custkey") % 2 === 0)
        .select(col("n_a"), col("n_b"),
          round(col("ratio_a"), 6).as("ratio_a"),
          round(col("ratio_b"), 6).as("ratio_b"),
          round(col("diff"), 6).as("diff"),
          round(col("se"), 6).as("se"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
    }),

    "x_msprt_ci" -> ((s, dir) =>
      // always-valid confidence interval (Stats.msprtCI): the mSPRT's
      // acceptance region as a dashboard interval — valid at EVERY n
      // simultaneously; the x_msprt moment pass + the closed-form
      // radius sqrt((V(V+tau^2)/tau^2) ln((V+tau^2)/(alpha^2 V))),
      // identical tau^2/alpha literals replayed by the oracle
      Stats.msprtCI(t(s, dir, "lineitem"), "l_extendedprice",
          col("l_returnflag") === "R", tau2 = 10000.0)
        .select(col("n_a"), col("n_b"),
          round(col("diff"), 6).as("diff"),
          round(col("v"), 6).as("v"),
          round(col("radius"), 6).as("radius"),
          round(col("lo"), 6).as("lo"),
          round(col("hi"), 6).as("hi"),
          round(col("p"), 6).as("p"),
          col("significant").cast("long").as("significant"))),

    "x_srm_multi" -> ((s, dir) =>
      // multi-arm SRM guard (Stats.srmCheckMulti): chi-square goodness
      // of fit of the five event-type counts against a uniform design,
      // df = 4 — ONE (arm)-grouped count pass, sorted-arm driver fold,
      // alarm at the chi2_4 p < 0.001 quantile literal (caller-pinned,
      // the powerMde convention)
      Stats.srmCheckMulti(t(s, dir, "events"), "event_type",
          design = Map("click" -> 0.2, "error" -> 0.2, "purchase" -> 0.2,
            "signup" -> 0.2, "view" -> 0.2),
          threshold = 18.466826952903)
        .select(col("arm"), col("n"),
          round(col("expected"), 6).as("expected"),
          round(col("term"), 6).as("term"),
          round(col("chi2"), 6).as("chi2"),
          col("srm").cast("long").as("srm"))),

    "x_srm" -> ((s, dir) =>
      // sample-ratio-mismatch guard (Stats.srmCheck): the chi-square
      // tripwire every A/B readout should gate on — two integer counts
      // from ONE partial-agged pass, pinned driver algebra, alarm at
      // the standard p < 0.001 threshold (a pinned chi-square-quantile
      // literal, replayed verbatim by the oracle)
      Stats.srmCheck(t(s, dir, "events"), col("user_id") % 2 === 0,
          ratioA = 0.5)
        .select(col("n_a"), col("n_b"),
          round(col("expected_a"), 6).as("expected_a"),
          round(col("expected_b"), 6).as("expected_b"),
          round(col("chi2"), 6).as("chi2"),
          col("srm").cast("long").as("srm"))),

    "x_bootstrap_quantiles" -> ((s, dir) => {
      // Poisson-bootstrap CIs for the p50/p90 of 1995 order prices
      // (Stats.bootstrapQuantileCI): the bootstrap weight machinery
      // COMPOSED with the weighted KLL sketch — each of the B+1
      // resamples is one weighted sketch, all built in ONE corpus scan
      // (explode -> map-side partial agg to <= B+1 sketch groups).
      // ORACLED IN ITS EXACT REGIME: the 1995 horizon keeps every
      // per-level item count (rows with that weight-bit set <= n)
      // under k = 65536 at the driver SFs (guarded below), so each
      // resample quantile IS the exact ceil(p*W)-th weighted order
      // statistic — the oracle replays it with cumulative weights over
      // the replayed splitmix chain, never an expansion
      val o95 = t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull && col("o_orderkey").isNotNull &&
          col("o_orderdate").isNotNull && year(col("o_orderdate")) === 1995)
      requireExactSketchRegime(o95, 65536, "x_bootstrap_quantiles")
      Stats.bootstrapQuantileCI(o95, "o_totalprice", "o_orderkey",
          ps = Seq(0.5, 0.9), b = 200, alpha = 0.05, k = 65536)
        .select(col("p"), col("b_eff"), col("n"),
          round(col("q"), 6).as("q"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
        .orderBy("p")
    }),

    "x_bootstrap_diff" -> ((s, dir) =>
      // the A/B readout: bootstrap CI for the urgent-vs-rest mean
      // price difference (Stats.bootstrapDiffCI) — distribution-free,
      // same one-scan shape as x_bootstrap with (resample, sample)
      // groups; the oracle replays the identical chain with the
      // sample indicator carried through
      Stats.bootstrapDiffCI(t(s, dir, "orders"), "o_totalprice",
          "o_orderkey", col("o_orderpriority") === "1-URGENT",
          b = 200, alpha = 0.05)
        .select(col("b_eff"), col("n_a"), col("n_b"),
          round(col("diff"), 6).as("diff"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))),

    "x_cuped" -> ((s, dir) =>
      // CUPED variance reduction (Stats.cuped — the experimentation
      // platform's sensitivity lever): adjust the price metric by the
      // strongly-correlated quantity covariate, read the R-vs-rest
      // difference on the adjusted metric. ONE conditional decimal-
      // moment pass + pinned driver algebra; the oracle replays the
      // identical decimal totals through the identical ratio shapes
      Stats.cuped(t(s, dir, "lineitem"), "l_extendedprice", "l_quantity",
          col("l_returnflag") === "R")
        .select(col("n_a"), col("n_b"),
          round(col("theta"), 6).as("theta"),
          round(col("rho2"), 6).as("rho2"),
          round(col("diff_raw"), 6).as("diff_raw"),
          round(col("diff_adj"), 6).as("diff_adj"),
          round(col("t_adj"), 6).as("t_adj"))),

    "x_cuped_multi" -> ((s, dir) =>
      // multi-covariate CUPED / CUPAC (Stats.cupedMulti): adjust the
      // price metric by the (quantity, discount) covariate VECTOR —
      // theta solves the 2x2 pooled normal equations by fixed-order
      // unpivoted Gaussian elimination on the driver, a deterministic
      // operation sequence the oracle replays term-for-term; ONE
      // cross-moment decimal pass (the x_cuped shape, 12 aggregate
      // columns). CupedSpec pins the k=1 case bit-equal to Stats.cuped
      Stats.cupedMulti(t(s, dir, "lineitem"), "l_extendedprice",
          Seq("l_quantity", "l_discount"), col("l_returnflag") === "R")
        .select(col("covariate"), round(col("theta"), 6).as("theta"),
          col("n_a"), col("n_b"),
          round(col("rho2"), 6).as("rho2"),
          round(col("diff_raw"), 6).as("diff_raw"),
          round(col("diff_adj"), 6).as("diff_adj"),
          round(col("t_adj"), 6).as("t_adj"))
        .orderBy("covariate")),

    "x_bootstrap_quantile_diff" -> ((s, dir) => {
      // the A/B QUANTILE readout: bootstrap CI for the urgent-vs-rest
      // p50/p90 price difference (Stats.bootstrapQuantileDiffCI) — the
      // x_bootstrap_quantiles machinery with (resample, sample) sketch
      // groups; per resample both arms share the row's Poisson weight
      // vector and the statistic is q_A - q_B. ORACLED IN ITS EXACT
      // REGIME (the x_bootstrap_quantiles argument: the 1995 horizon
      // keeps every per-level count under k = 65536, guarded below, so
      // each arm's quantile IS the exact ceil(p*W)-th weighted order
      // statistic and the oracle replays both arms' cumulative-weight
      // probes over the replayed splitmix chain)
      val o95 = t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull && col("o_orderkey").isNotNull &&
          col("o_orderdate").isNotNull && year(col("o_orderdate")) === 1995)
      requireExactSketchRegime(o95, 65536, "x_bootstrap_quantile_diff")
      Stats.bootstrapQuantileDiffCI(o95, "o_totalprice", "o_orderkey",
          col("o_orderpriority") === "1-URGENT",
          ps = Seq(0.5, 0.9), b = 200, alpha = 0.05, k = 65536)
        .select(col("p"), col("b_eff"), col("n_a"), col("n_b"),
          round(col("diff"), 6).as("diff"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
        .orderBy("p")
    }),

    "x_quantile_segments" -> ((s, dir) => {
      // quantile treatment effects PER SEGMENT (round-16 verdict item
      // 5, Stats.bootstrapQuantileDiffBySegment): the
      // x_bootstrap_quantile_diff machinery with the order status
      // carried through every cell — p50/p90 urgent-vs-rest price
      // diffs per status from ONE scan, percentile-bootstrap sign p
      // per (segment, level), BH across the three segments within each
      // level. Exact regime: every (status, arm, resample) sketch
      // group stays far under k = 65536 (guarded), so each segment's
      // row is the exact weighted order statistic and bit-equal to the
      // single-segment operator on that slice (spec-pinned).
      val o95 = t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull && col("o_orderkey").isNotNull &&
          col("o_orderstatus").isNotNull &&
          col("o_orderdate").isNotNull && year(col("o_orderdate")) === 1995)
      requireExactSketchRegime(o95, 65536, "x_quantile_segments",
        col("o_orderstatus"))
      Stats.bootstrapQuantileDiffBySegment(o95, "o_totalprice", "o_orderkey",
          "o_orderstatus", col("o_orderpriority") === "1-URGENT",
          ps = Seq(0.5, 0.9), b = 200, alpha = 0.05, k = 65536, q = 0.05)
        .select(col("grp"), col("p"), col("b_eff"), col("n_a"), col("n_b"),
          round(col("diff"), 6).as("diff"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"),
          round(col("p_boot"), 6).as("p_boot"),
          col("significant").cast("long").as("significant"))
        .orderBy("grp", "p")
    }),

    "x_sketch_interp" -> ((s, dir) => {
      // the INTERPOLATED sketch read + the WEIGHTED sketch STATE in one
      // oracled round trip: a pre-counted (value, weight) frame builds
      // persistable sketch state with graft_kll_sketch_w (binary-
      // decomposition insert — no multiset expansion), and
      // graft_kll_values_interp reads it back with percentile/
      // quantile_cont lerp semantics (pos = (W−1)·p, bracket order
      // statistics, operand-order lerp). Exact no-compaction regime
      // (the x_sketch_weighted argument: ≤3 set bits per weight, each
      // level ≤ |group| items « k = 65536 at the driver SFs), so the
      // value IS DuckDB's quantile_cont over the expanded multiset.
      val ps = Seq(0.5, 0.9)
      requireExactSketchRegime(
        t(s, dir, "orders").filter(col("o_totalprice").isNotNull),
        65536, "x_sketch_interp", col("o_orderpriority"))
      t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull && col("o_orderpriority").isNotNull)
        .withColumn("w", col("o_orderkey") % 7 + lit(1))
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.KllQuantiles
            .kllSketchWeighted(col("o_totalprice"), col("w"), 65536).as("sk"),
          sum(col("w").cast("long")).as("n"))
        .select(col("o_orderpriority"), col("n"),
          posexplode(graft.functions.KllQuantiles
            .kllValuesInterp(col("sk"), ps)).as(Seq("__i", "value")))
        .withColumn("p",
          element_at(array(ps.map(lit): _*), col("__i").cast("int") + 1))
        .select(col("o_orderpriority"), col("p"), col("n"),
          round(col("value"), 6).as("value"))
        .orderBy("o_orderpriority", "p")
    }),

    "x_weighted_quantiles" -> ((s, dir) =>
      // multiplicity-WEIGHTED interpolated quantiles
      // (Stats.groupedInterpolatedQuantilesWeighted — the seam
      // madOutliers' deviation pass reuses, promoted to a first-class
      // oracled op): value-weighted price percentiles per return flag,
      // l_quantity as the integer multiplicity. Semantics: exactly the
      // quantiles of the EXPANDED multiset (each row repeated weight
      // times) — the oracle expands via range() and runs DuckDB's own
      // quantile_cont, an independent implementation
      Stats.groupedInterpolatedQuantilesWeighted(
          t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
          "l_quantity", ps = Seq(0.5, 0.9))
        .select(col("l_returnflag"), col("p"), col("n"),
          round(col("value"), 6).as("value"))
        .orderBy("l_returnflag", "p")),

    "x_auc" -> ((s, dir) =>
      // ROC AUC: does the event value discriminate purchases from
      // views — U/(n_pos·n_neg) off the same bucketed-midrank
      // machinery as x_mannwhitney (ties count half); no global sort
      // of the score column at any scale
      Stats.auc(
          t(s, dir, "events").filter(col("event_type").isin("view", "purchase")),
          "value", col("event_type") === "purchase")
        .select(col("n_pos"), col("n_neg"), round(col("auc"), 6).as("auc"))),

    "x_calibration" -> ((s, dir) =>
      // reliability report: 10 equal-width value bins (the psi
      // closed-form bin rule), per-bin mean score vs purchase rate —
      // exact decimal sums, doubles only in the final divisions
      Stats.calibration(
          t(s, dir, "events").filter(col("event_type").isin("view", "purchase")),
          "value", col("event_type") === "purchase")
        .select(col("bin"), col("n"),
          round(col("mean_score"), 6).as("mean_score"),
          round(col("pos_rate"), 6).as("pos_rate"))
        .orderBy("bin")),

    "x_anova" -> ((s, dir) =>
      // one-way ANOVA of quantity across return flags
      // (Stats.anovaF): exact decimal per-group moments in ONE hash
      // pass, double algebra only on the |groups|-row driver fold
      Stats.anovaF(t(s, dir, "lineitem"), "l_returnflag", "l_quantity")
        .select(col("k"), col("n"),
          round(col("ss_between"), 4).as("ss_between"),
          round(col("ss_within"), 4).as("ss_within"),
          round(col("f"), 6).as("f"))),

    "x_welch_t" -> ((s, dir) =>
      // Welch two-sample t + Cohen's d: did the purchase/view value
      // means move, and by how many pooled SDs (Stats.welchT) — exact
      // decimal conditional moments in ONE hash pass, pinned double
      // algebra on the driver; same input slice as x_mannwhitney so
      // the parametric and nonparametric reads pair up
      Stats.welchT(
          t(s, dir, "events").filter(col("event_type").isin("view", "purchase")),
          "value", col("event_type") === "view")
        .select(col("n_a"), col("n_b"),
          round(col("mean_a"), 6).as("mean_a"),
          round(col("mean_b"), 6).as("mean_b"),
          round(col("t"), 6).as("t"),
          round(col("df"), 4).as("df"),
          round(col("cohen_d"), 6).as("cohen_d"))),

    "x_bh_fdr" -> ((s, dir) =>
      // Benjamini-Hochberg FDR gate (Stats.bhFdr): the multiple-
      // testing threshold over m per-document p-values — ranks off the
      // bucketed prefix-sum CDF, no global sort/window. The synthetic
      // p-values (cube of a deterministic uniform) concentrate near 0
      // so the step-up test actually rejects a nontrivial prefix
      Stats.bhFdr(
        t(s, dir, "documents").select({
          val u = (col("n_chars") % 997).cast("double") / 996.0
          (u * u * u).as("p")
        }), "p", q = 0.05)),

    "x_prop_ztest" -> ((s, dir) =>
      // two-proportion z-test (Stats.propZTest): did the purchase RATE
      // move between even- and odd-id users — four exact integer
      // counts from ONE pass, pooled-variance null, pinned algebra
      Stats.propZTest(
          t(s, dir, "events")
            .filter(col("event_type").isin("view", "purchase"))
            .withColumn("is_purchase",
              (col("event_type") === "purchase").cast("long")),
          "is_purchase", col("user_id") % 2 === 0)
        .select(col("n_a"), col("n_b"),
          round(col("rate_a"), 6).as("rate_a"),
          round(col("rate_b"), 6).as("rate_b"),
          round(col("z"), 6).as("z"))),

    "x_spearman" -> ((s, dir) =>
      // Spearman rank correlation of quantity vs extended price
      // (Stats.spearman): midranks off the bucketed prefix-sum CDF —
      // no RANK() global window over the corpus at any scale; the
      // final Pearson-of-ranks is one codegen corr aggregate
      Stats.spearman(t(s, dir, "lineitem"), "l_quantity", "l_extendedprice")
        .select(col("n"), round(col("rho"), 6).as("rho"))),

    "x_cume_dist" -> ((s, dir) =>
      // per-row CUME_DIST of order totals (Stats.cumeDist): the
      // quantile-normalization transform without the single-task
      // CUME_DIST() OVER (ORDER BY v) window — CDF equi-joined back
      // on the value, corpus-sized output, partitioned windows only
      Stats.cumeDist(t(s, dir, "orders"), "o_totalprice")
        .select(col("o_orderkey"), round(col("cume_dist"), 6).as("cd"))
        .orderBy("o_orderkey")),

    "x_interp_quantiles" -> ((s, dir) =>
      // exact INTERPOLATED quantiles off the bucketed prefix-sum CDF
      // (Stats.interpolatedQuantiles) — the round-9 replacement for
      // the buffer-everything `percentile` aggregate, pinned here
      // directly against DuckDB's independent quantile_cont on
      // genuinely fractional positions (l_extendedprice is
      // near-unique, so v_lo ≠ v_hi and the lerp actually runs);
      // round(6) absorbs last-ulp formula noise at 1e5 magnitudes
      Stats.interpolatedQuantiles(
          t(s, dir, "lineitem"), "l_extendedprice", ps = Seq(0.25, 0.5, 0.9))
        .select(col("p"), col("n"), round(col("value"), 6).as("value"))
        .orderBy("p"))
  )

  // Experimentation-family replays mirror the engine's finite() gate
  // with `isfinite(metric)` in their WHERE clauses (ADVICE r16): the
  // engine excludes NaN/±Inf rows (a non-finite double casts to
  // decimal(18,6) as NULL, which would desync n from the moment sums),
  // and a bare IS NOT NULL replica would silently diverge on any
  // off-bench input containing them. The bench tables hold no
  // non-finite values, so the added clause is a no-op on the driver's
  // compare — it exists so the replica stays faithful off-bench.
  val oracle: Map[String, String] = Map(
    "x_ols" ->
      """SELECT l_returnflag,
        |  CAST(regr_count(CAST(l_extendedprice AS DOUBLE),
        |                  CAST(l_quantity AS DOUBLE)) AS BIGINT) AS n,
        |  ROUND(regr_slope(CAST(l_extendedprice AS DOUBLE),
        |                   CAST(l_quantity AS DOUBLE)), 4) AS slope,
        |  ROUND(regr_intercept(CAST(l_extendedprice AS DOUBLE),
        |                       CAST(l_quantity AS DOUBLE)), 4) AS intercept,
        |  ROUND(regr_r2(CAST(l_extendedprice AS DOUBLE),
        |                CAST(l_quantity AS DOUBLE)), 6) AS r2
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_corr_matrix" ->
      """WITH pairs(col_a, col_b) AS (VALUES
        |  ('l_quantity', 'l_extendedprice'), ('l_quantity', 'l_discount'),
        |  ('l_quantity', 'l_tax'), ('l_extendedprice', 'l_discount'),
        |  ('l_extendedprice', 'l_tax'), ('l_discount', 'l_tax')),
        |c AS (SELECT
        |  corr(CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE)) AS qe,
        |  corr(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE)) AS qd,
        |  corr(CAST(l_quantity AS DOUBLE), CAST(l_tax AS DOUBLE)) AS qt,
        |  corr(CAST(l_extendedprice AS DOUBLE), CAST(l_discount AS DOUBLE)) AS ed,
        |  corr(CAST(l_extendedprice AS DOUBLE), CAST(l_tax AS DOUBLE)) AS et,
        |  corr(CAST(l_discount AS DOUBLE), CAST(l_tax AS DOUBLE)) AS dt
        |  FROM lineitem)
        |SELECT p.col_a, p.col_b, ROUND(CASE
        |    WHEN p.col_a = 'l_quantity' AND p.col_b = 'l_extendedprice' THEN c.qe
        |    WHEN p.col_a = 'l_quantity' AND p.col_b = 'l_discount' THEN c.qd
        |    WHEN p.col_a = 'l_quantity' AND p.col_b = 'l_tax' THEN c.qt
        |    WHEN p.col_a = 'l_extendedprice' AND p.col_b = 'l_discount' THEN c.ed
        |    WHEN p.col_a = 'l_extendedprice' AND p.col_b = 'l_tax' THEN c.et
        |    ELSE c.dt END, 6) AS r
        |FROM pairs p CROSS JOIN c ORDER BY col_a, col_b""".stripMargin,
    "x_ks_test" ->
      """WITH pts AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |    AND value IS NOT NULL),
        |c AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS na,
        |             CAST(SUM(1 - ia) AS BIGINT) AS nb FROM pts GROUP BY 1),
        |cum AS (SELECT v,
        |  SUM(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
        |  SUM(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb FROM c),
        |tot AS (SELECT CAST(MAX(ca) AS BIGINT) AS n_a,
        |               CAST(MAX(cb) AS BIGINT) AS n_b FROM cum)
        |SELECT t.n_a, t.n_b,
        |  ROUND(MAX(ABS(CAST(ca AS DOUBLE) / t.n_a
        |            - CAST(cb AS DOUBLE) / t.n_b)), 6) AS d
        |FROM cum CROSS JOIN tot t GROUP BY 1, 2""".stripMargin,
    "x_mannwhitney" ->
      """WITH pts AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |    AND value IS NOT NULL),
        |g AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS gna,
        |             CAST(SUM(1 - ia) AS BIGINT) AS gnb FROM pts GROUP BY 1),
        |cum AS (SELECT v, gna, gnb,
        |  SUM(gna) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
        |  SUM(gnb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb FROM g),
        |r AS (SELECT v, gna, gnb, ca, cb, gna + gnb AS sz,
        |  CAST(ca + cb AS DOUBLE) - CAST(gna + gnb - 1 AS DOUBLE) / 2.0 AS midrank
        |  FROM cum),
        |tot AS (SELECT CAST(MAX(ca) AS BIGINT) AS n_a,
        |               CAST(MAX(cb) AS BIGINT) AS n_b,
        |               CAST(SUM(sz * sz * sz - sz) AS BIGINT) AS tie3 FROM r),
        |s AS (SELECT t.n_a, t.n_b, t.tie3,
        |        SUM(r.midrank * r.gna) AS r_a
        |      FROM r CROSS JOIN tot t GROUP BY 1, 2, 3)
        |SELECT n_a, n_b, r_a,
        |  r_a - CAST(n_a AS DOUBLE) * CAST(n_a + 1 AS DOUBLE) / 2.0 AS u_a,
        |  ROUND(((r_a - CAST(n_a AS DOUBLE) * CAST(n_a + 1 AS DOUBLE) / 2.0)
        |          - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
        |    / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |           * CAST(n_a + n_b + 1 AS DOUBLE) / 12.0
        |           * (1.0 - CAST(tie3 AS DOUBLE)
        |              / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE)
        |                 * CAST(n_a + n_b + 1 AS DOUBLE)))), 6) AS z
        |FROM s""".stripMargin,
    "x_benford" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR), 1, 1)
        |           AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, COUNT(*) AS cnt FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM c)
        |SELECT digit, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / t.t, 6) AS share,
        |  ROUND(log10(1.0 + 1.0 / digit), 6) AS expected
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,
    "x_eqdepth" ->
      """WITH r AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v,
        |    NTILE(10) OVER (ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey)
        |      AS bin
        |  FROM orders)
        |SELECT CAST(bin AS INT) AS bin, COUNT(*) AS cnt,
        |  MIN(v) AS lo, MAX(v) AS hi
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_markov" ->
      """WITH seq AS (
        |  SELECT event_type AS to_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS from_type
        |  FROM events),
        |p AS (SELECT from_type, to_type, COUNT(*) AS cnt FROM seq
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(cnt) AS BIGINT) AS tot FROM p GROUP BY 1)
        |SELECT p.from_type, p.to_type, p.cnt,
        |  ROUND(CAST(p.cnt AS DOUBLE) / t.tot, 6) AS prob
        |FROM p JOIN t USING (from_type) ORDER BY from_type, to_type""".stripMargin,
    "x_bfs_hops" ->
      """WITH RECURSIVE fwd AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |adj AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd),
        |walk(node, d) AS (
        |  SELECT 'c' || c_custkey, 0 FROM customer WHERE c_nationkey = 7
        |  UNION
        |  SELECT a.dst, w.d + 1 FROM walk w JOIN adj a ON a.src = w.node
        |  WHERE w.d < 3)
        |SELECT node, CAST(MIN(d) AS INT) AS hops
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_psi" ->
      """WITH pts AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |    AND value IS NOT NULL),
        |bd AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM pts),
        |b AS (
        |  SELECT CAST(CASE WHEN bd.mx = bd.mn THEN 0
        |    ELSE LEAST(FLOOR((v - bd.mn) / ((bd.mx - bd.mn) / 10)), 9)
        |    END AS INT) AS bin, ia
        |  FROM pts CROSS JOIN bd),
        |c AS (SELECT bin, CAST(SUM(ia) AS BIGINT) AS ca,
        |             CAST(SUM(1 - ia) AS BIGINT) AS cb FROM b GROUP BY 1),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |             CAST(SUM(cb) AS BIGINT) AS n_b FROM c)
        |SELECT t.n_a, t.n_b,
        |  ROUND(SUM((CAST(ca + 1 AS DOUBLE) / CAST(t.n_a + 10 AS DOUBLE)
        |           - CAST(cb + 1 AS DOUBLE) / CAST(t.n_b + 10 AS DOUBLE))
        |    * ln((CAST(ca + 1 AS DOUBLE) / CAST(t.n_a + 10 AS DOUBLE))
        |       / (CAST(cb + 1 AS DOUBLE) / CAST(t.n_b + 10 AS DOUBLE)))), 6) AS psi
        |FROM c CROSS JOIN t GROUP BY 1, 2""".stripMargin,
    "x_pareto" ->
      """WITH rev AS (
        |  SELECT o_custkey AS k, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT k, rev,
        |    NTILE(10) OVER (ORDER BY rev DESC, k) AS bin,
        |    SUM(rev) OVER (ORDER BY rev DESC, k ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM rev),
        |t AS (SELECT SUM(rev) AS tot FROM rev)
        |SELECT CAST(bin AS INT) AS bin, COUNT(*) AS n_keys,
        |  ROUND(CAST(MAX(cum) AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS cum_share
        |FROM r CROSS JOIN t GROUP BY 1, t.tot ORDER BY 1""".stripMargin,
    "x_join_profile" ->
      """WITH lc AS (SELECT c_custkey AS k, COUNT(*) AS cl FROM customer GROUP BY 1),
        |rc AS (SELECT o_custkey AS k, COUNT(*) AS cr FROM orders GROUP BY 1),
        |j AS (SELECT lc.cl, rc.cr FROM lc FULL OUTER JOIN rc USING (k))
        |SELECT
        |  CAST(COALESCE(SUM(cl), 0) AS BIGINT) AS l_rows,
        |  CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS r_rows,
        |  CAST(SUM(CASE WHEN cl IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_keys,
        |  CAST(SUM(CASE WHEN cr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS r_keys,
        |  CAST(SUM(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS matched_keys,
        |  CAST(SUM(CASE WHEN cl IS NOT NULL AND cr IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS l_only_keys,
        |  CAST(SUM(CASE WHEN cl IS NULL AND cr IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS r_only_keys,
        |  CAST(COALESCE(MAX(cl), 0) AS BIGINT) AS max_l_fanout,
        |  CAST(COALESCE(MAX(cr), 0) AS BIGINT) AS max_r_fanout,
        |  CAST(COALESCE(SUM(cl * cr), 0) AS BIGINT) AS join_rows
        |FROM j""".stripMargin,
    "x_dq_rules" ->
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM orders),
        |rows_f AS (
        |  SELECT * FROM (VALUES
        |    ('totalprice_positive',
        |      (SELECT COUNT(*) FROM orders
        |       WHERE NOT COALESCE(o_totalprice > 0, FALSE))),
        |    ('orderdate_not_null',
        |      (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL)),
        |    ('status_in_domain',
        |      (SELECT COUNT(*) FROM orders
        |       WHERE NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE))),
        |    ('totalprice_below_400k',
        |      (SELECT COUNT(*) FROM orders
        |       WHERE NOT COALESCE(o_totalprice <= 400000, FALSE)))) v(rule, n_fail)),
        |uniq AS (
        |  SELECT 'orderkey_unique' AS rule,
        |    (SELECT COALESCE(SUM(c), 0) FROM (
        |       SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey
        |       HAVING COUNT(*) > 1) t) AS n_fail
        |  UNION ALL
        |  SELECT 'custkey_unique',
        |    (SELECT COALESCE(SUM(c), 0) FROM (
        |       SELECT COUNT(*) AS c FROM orders GROUP BY o_custkey
        |       HAVING COUNT(*) > 1) t)),
        |fk AS (
        |  SELECT 'custkey_fk' AS rule,
        |    (SELECT COUNT(*) FROM orders o
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = o.o_custkey)) AS n_fail),
        |allr AS (SELECT rule, n_fail FROM rows_f
        |         UNION ALL SELECT rule, n_fail FROM uniq
        |         UNION ALL SELECT rule, n_fail FROM fk)
        |SELECT rule, n.n_rows, CAST(n_fail AS BIGINT) AS n_fail,
        |  n_fail = 0 AS pass
        |FROM allr CROSS JOIN n ORDER BY rule""".stripMargin,
    "x_linkage" ->
      """WITH rk AS (
        |  SELECT c_custkey AS id, c_name AS s, c_nationkey AS nat,
        |    c_mktsegment AS seg,
        |    upper(substring(c_name, 1, 1)) AS blk,
        |    ROW_NUMBER() OVER (PARTITION BY upper(substring(c_name, 1, 1))
        |                       ORDER BY c_name, c_custkey) AS rn
        |  FROM customer),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
        |    a.nat AS nat_a, b.nat AS nat_b, a.seg AS seg_a, b.seg AS seg_b
        |  FROM rk a JOIN rk b
        |    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 2),
        |scored AS (
        |  SELECT id_a, id_b,
        |    3.0 * (1.0 - CAST(levenshtein(s_a, s_b) AS DOUBLE)
        |           / CAST(greatest(length(s_a), length(s_b)) AS DOUBLE))
        |    + CASE WHEN nat_a = nat_b THEN 1.0 ELSE 0.0 END
        |    + CASE WHEN seg_a = seg_b THEN 0.5 ELSE 0.0 END AS score
        |  FROM cand)
        |SELECT id_a, id_b, ROUND(score, 4) AS score
        |FROM scored ORDER BY score DESC, id_a, id_b LIMIT 50""".stripMargin,
    "x_sorted_neighborhood" ->
      """WITH rk AS (
        |  SELECT p_partkey AS id, p_name AS s,
        |    upper(substring(p_name, 1, 1)) AS blk,
        |    ROW_NUMBER() OVER (PARTITION BY upper(substring(p_name, 1, 1))
        |                       ORDER BY p_name, p_partkey) AS rn
        |  FROM part)
        |SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
        |  CAST(b.rn - a.rn AS INT) AS gap
        |FROM rk a JOIN rk b
        |  ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 3
        |ORDER BY id_a, id_b""".stripMargin,
    "x_rolling_z" ->
      """WITH series AS (
        |  SELECT event_type AS k, date_trunc('hour', ts) AS h,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT k, h, x,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY h) AS rn,
        |    AVG(x) OVER (PARTITION BY k ORDER BY h
        |                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS mu,
        |    STDDEV_SAMP(x) OVER (PARTITION BY k ORDER BY h
        |                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS sd
        |  FROM series),
        |scored AS (
        |  SELECT k, h, (x - mu) / sd AS z FROM w WHERE rn > 24 AND sd > 0),
        |n AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_scored FROM scored GROUP BY 1),
        |best AS (
        |  SELECT k, h, z,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY ABS(z) DESC, h) AS pick
        |  FROM scored)
        |SELECT b.k AS event_type, b.h AS bucket_ts, ROUND(b.z, 4) AS z, n.n_scored
        |FROM best b JOIN n USING (k)
        |WHERE pick = 1 ORDER BY event_type""".stripMargin,
    "x_winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag AS g,
        |    ROUND(quantile_cont(l_quantity, 0.05), 6) AS p_lo,
        |    ROUND(quantile_cont(l_quantity, 0.95), 6) AS p_hi
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v, p_lo, p_hi
        |  FROM lineitem JOIN b ON l_returnflag = b.g)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  ANY_VALUE(p_lo) AS p_lo, ANY_VALUE(p_hi) AS p_hi,
        |  ROUND(CAST(SUM(CAST(LEAST(GREATEST(v, p_lo), p_hi)
        |      AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS winsor_mean,
        |  ROUND(CAST(SUM(CASE WHEN v >= p_lo AND v <= p_hi
        |      THEN CAST(v AS DECIMAL(28,6)) END) AS DOUBLE)
        |    / SUM(CASE WHEN v >= p_lo AND v <= p_hi THEN 1 ELSE 0 END), 6)
        |    AS trimmed_mean
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_label_prop" -> {
      // unrolled 3-round synchronous LPA replay: per round, vote
      // counts per (node, neighbor label) then the (cnt DESC, lbl)
      // argmin — all-integer, so equality is exact, no rounding
      val iters = 3
      val rounds = (1 to iters).map { k =>
        s"""v$k AS (SELECT a.dst AS node, l.lbl, COUNT(*) AS cnt
           |  FROM adj a JOIN l${k - 1} l ON a.src = l.node GROUP BY 1, 2),
           |b$k AS (SELECT node, lbl FROM (
           |    SELECT node, lbl,
           |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
           |    FROM v$k) t WHERE rn = 1),
           |l$k AS (SELECT n.node, COALESCE(b.lbl, p.lbl) AS lbl
           |  FROM nodes n JOIN l${k - 1} p ON p.node = n.node
           |  LEFT JOIN b$k b ON b.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH fwd AS (
         |  SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |adj AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd),
         |nodes AS (SELECT DISTINCT src AS node FROM adj),
         |l0 AS (SELECT node, node AS lbl FROM nodes),
         |$rounds
         |SELECT CASE WHEN lbl % 2 = 0 THEN 'c' || (lbl // 2)
         |            ELSE 's' || (lbl // 2) END AS community,
         |  CAST(COUNT(*) AS BIGINT) AS members
         |FROM l$iters GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "x_exact_quantiles" ->
      // rank k = ceil(p·n) under the SAME IEEE double product as the
      // engine (deterministic cross-engine even at a representation
      // boundary); the k-th order statistic is tie-order-independent
      """WITH vals AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
        |ps AS (SELECT unnest([0.5, 0.9, 0.99]) AS p),
        |ks AS (SELECT p, (SELECT n FROM n) AS n,
        |  GREATEST(1, CAST(ceil(p * (SELECT n FROM n)) AS BIGINT)) AS k FROM ps),
        |ord AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM vals)
        |SELECT k.p, k.k, k.n,
        |  (SELECT v FROM ord WHERE rn = k.k) AS value
        |FROM ks k ORDER BY p""".stripMargin,
    "x_grouped_quantiles" ->
      // per-group rank k = ceil(p·n_g) under the same IEEE double
      // product as the engine's driver fold; order statistics are
      // tie-order-independent, so the per-group ROW_NUMBER probe is
      // exact with no rounding
      """WITH vals AS (
        |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        |n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM vals GROUP BY 1),
        |ps AS (SELECT unnest([0.5, 0.95]) AS p),
        |ks AS (SELECT n.g, p.p, n.n,
        |  GREATEST(1, CAST(ceil(p.p * n.n) AS BIGINT)) AS k
        |  FROM n CROSS JOIN ps p),
        |ord AS (SELECT g, v,
        |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn FROM vals)
        |SELECT k.g AS l_returnflag, k.p, k.k, k.n, o.v AS value
        |FROM ks k JOIN ord o ON o.g = k.g AND o.rn = k.k
        |ORDER BY l_returnflag, p""".stripMargin,
    "x_sketch_quantiles" ->
      // the exact-regime contract: with k above every group size the
      // sketch returns the k = ceil(p·n_g) order statistic exactly —
      // the same ROW_NUMBER probe as x_grouped_quantiles, on orders
      """WITH vals AS (
        |  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
        |n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM vals GROUP BY 1),
        |ps AS (SELECT unnest([0.5, 0.9]) AS p),
        |ks AS (SELECT n.g, p.p, n.n,
        |  GREATEST(1, CAST(ceil(p.p * n.n) AS BIGINT)) AS k
        |  FROM n CROSS JOIN ps p),
        |ord AS (SELECT g, v,
        |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn FROM vals)
        |SELECT k.g AS o_orderpriority, k.p, k.n, o.v AS value
        |FROM ks k JOIN ord o ON o.g = k.g AND o.rn = k.k
        |ORDER BY o_orderpriority, p""".stripMargin,
    "x_sketch_merge" ->
      // the single-pass exact replay over ALL shards: if the merge
      // lost or duplicated anything, the ranks shift and the hash breaks
      """WITH vals AS (
        |  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
        |n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM vals GROUP BY 1),
        |ps AS (SELECT unnest([0.5, 0.9]) AS p),
        |ks AS (SELECT n.g, p.p, n.n,
        |  GREATEST(1, CAST(ceil(p.p * n.n) AS BIGINT)) AS k
        |  FROM n CROSS JOIN ps p),
        |ord AS (SELECT g, v,
        |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn FROM vals)
        |SELECT k.g AS o_orderpriority, k.p, k.n, o.v AS value
        |FROM ks k JOIN ord o ON o.g = k.g AND o.rn = k.k
        |ORDER BY o_orderpriority, p""".stripMargin,
    "x_sketch_weighted" ->
      // the exact-regime contract for the WEIGHTED sketch: no level
      // ever fills at k = 65536, so the sketch returns the
      // k = ceil(p·W) order statistic of the EXPANDED multiset exactly
      // — replayed by repeating each row weight times via range(w)
      """WITH vals AS (
        |  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v,
        |    CAST(o_orderkey % 7 + 1 AS BIGINT) AS w
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
        |ex AS (SELECT g, v FROM vals, unnest(range(w))),
        |n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1),
        |ps AS (SELECT unnest([0.5, 0.9]) AS p),
        |ks AS (SELECT n.g, p.p, n.n,
        |  GREATEST(1, CAST(ceil(p.p * n.n) AS BIGINT)) AS k
        |  FROM n CROSS JOIN ps p),
        |ord AS (SELECT g, v,
        |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn FROM ex)
        |SELECT k.g AS o_orderpriority, k.p, k.n, o.v AS value
        |FROM ks k JOIN ord o ON o.g = k.g AND o.rn = k.k
        |ORDER BY o_orderpriority, p""".stripMargin,
    "x_sketch_rollup" ->
      // the single-pass exact replay over the SAME calendar-1995
      // horizon the roll-up folds from its month-partitioned store: if
      // the parquet round trip, the partition-pruned horizon read, or
      // the merge lost/duplicated anything, the ranks shift and the
      // hash breaks
      """WITH vals AS (
        |  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
        |    AND o_orderdate IS NOT NULL
        |    AND strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-12'),
        |n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM vals GROUP BY 1),
        |ps AS (SELECT unnest([0.5, 0.9]) AS p),
        |ks AS (SELECT n.g, p.p, n.n,
        |  GREATEST(1, CAST(ceil(p.p * n.n) AS BIGINT)) AS k
        |  FROM n CROSS JOIN ps p),
        |ord AS (SELECT g, v,
        |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn FROM vals)
        |SELECT k.g AS o_orderpriority, k.p, k.n, o.v AS value
        |FROM ks k JOIN ord o ON o.g = k.g AND o.rn = k.k
        |ORDER BY o_orderpriority, p""".stripMargin,
    "x_bootstrap" -> {
      import graft.queries.HashReplay
      val gamma = HashReplay.SplitmixGamma
      val mask = HashReplay.Mask
      // the SHARED Poisson(1) CDF thresholds, rendered verbatim —
      // Double.toString round-trips through DuckDB's literal parser,
      // so both engines compare the identical doubles
      val caseSum = graft.functions.BootstrapWeights.Cdf
        .map(t => s"(CASE WHEN u >= CAST($t AS DOUBLE) THEN 1 ELSE 0 END)")
        .mkString("\n|      + ")
      s"""WITH src AS MATERIALIZED (
         |  SELECT CAST(o_orderkey AS HUGEINT) AS key,
         |    CAST(o_totalprice AS DECIMAL(18,6)) AS v
         |  FROM orders
         |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL AND isfinite(o_totalprice)),
         |js AS (SELECT unnest(range(1, 201)) AS j),
         |sz AS (SELECT j, (CAST(j AS HUGEINT) + $gamma) & $mask AS z FROM js),
         |${HashReplay.mixCtesSql("seed", "sz", "j")},
         |pz AS (SELECT s.key, s.v, d.j, (xor(s.key, d.z) + $gamma) & $mask AS z
         |       FROM src s CROSS JOIN seed d),
         |${HashReplay.mixCtesSql("vals", "pz", "key, v, j")},
         |uu AS MATERIALIZED (SELECT v, j,
         |  CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 AS u FROM vals),
         |w AS (SELECT v, j, $caseSum AS w FROM uu),
         |wall AS (SELECT v, j, w FROM w
         |  UNION ALL SELECT v, 0 AS j, 1 AS w FROM src),
         |sums AS MATERIALIZED (
         |  SELECT j, SUM(v * w) AS s, CAST(SUM(w) AS BIGINT) AS n
         |  FROM wall GROUP BY j),
         |fullm AS (SELECT CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, n
         |  FROM sums WHERE j = 0),
         |means AS (SELECT CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mn
         |  FROM sums WHERE j >= 1 AND n > 0),
         |eff AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_eff FROM means),
         |ord AS (SELECT mn, ROW_NUMBER() OVER (ORDER BY mn) AS rn FROM means)
         |SELECT e.b_eff, f.n, ROUND(f.mean, 6) AS mean,
         |  ROUND((SELECT mn FROM ord WHERE rn = GREATEST(1,
         |    CAST(ceil((CAST(0.05 AS DOUBLE) / 2) * e.b_eff) AS BIGINT))), 6)
         |    AS ci_lo,
         |  ROUND((SELECT mn FROM ord WHERE rn =
         |    CAST(ceil((1.0 - CAST(0.05 AS DOUBLE) / 2) * e.b_eff) AS BIGINT)), 6)
         |    AS ci_hi
         |FROM eff e CROSS JOIN fullm f""".stripMargin
    },
    "x_winsorize_sketch" ->
      // the x_winsorize oracle verbatim: in the guarded exact regime
      // the sketch path's bounds and clipped decimal sums are
      // value-identical to the exact operator's
      """WITH b AS (
        |  SELECT l_returnflag AS g,
        |    ROUND(quantile_cont(l_quantity, 0.05), 6) AS p_lo,
        |    ROUND(quantile_cont(l_quantity, 0.95), 6) AS p_hi
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v, p_lo, p_hi
        |  FROM lineitem JOIN b ON l_returnflag = b.g)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  ANY_VALUE(p_lo) AS p_lo, ANY_VALUE(p_hi) AS p_hi,
        |  ROUND(CAST(SUM(CAST(LEAST(GREATEST(v, p_lo), p_hi)
        |      AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS winsor_mean,
        |  ROUND(CAST(SUM(CASE WHEN v >= p_lo AND v <= p_hi
        |      THEN CAST(v AS DECIMAL(28,6)) END) AS DOUBLE)
        |    / SUM(CASE WHEN v >= p_lo AND v <= p_hi THEN 1 ELSE 0 END), 6)
        |    AS trimmed_mean
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_msprt" ->
      // the welch_t replay up to V, then the mixture-LR chain with the
      // identical tau^2 literal; sqrt/exp ulps absorbed by round(6)
      """WITH pts AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(19,6)) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)),
        |m AS (
        |  SELECT CAST(SUM(ia) AS BIGINT) AS na,
        |    SUM(CASE WHEN ia = 1 THEN v END) AS sa,
        |    SUM(CASE WHEN ia = 1 THEN v * v END) AS qa,
        |    CAST(SUM(1 - ia) AS BIGINT) AS nb,
        |    SUM(CASE WHEN ia = 0 THEN v END) AS sb,
        |    SUM(CASE WHEN ia = 0 THEN v * v END) AS qb
        |  FROM pts),
        |alg AS (
        |  SELECT na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS diff,
        |    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE)
        |      / CAST(na AS DOUBLE)
        |    + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)
        |      / CAST(nb AS DOUBLE) AS vn
        |  FROM m),
        |lr AS (
        |  SELECT na, nb, diff, vn,
        |    sqrt(vn / (vn + CAST(10000.0 AS DOUBLE)))
        |      * exp(diff * diff * CAST(10000.0 AS DOUBLE)
        |        / (2 * vn * (vn + CAST(10000.0 AS DOUBLE)))) AS lambda
        |  FROM alg)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(diff, 6) AS diff, ROUND(vn, 6) AS v,
        |  ROUND(lambda, 6) AS lambda,
        |  ROUND(LEAST(1.0, 1.0 / lambda), 6) AS p,
        |  CAST(LEAST(1.0, 1.0 / lambda) < CAST(0.05 AS DOUBLE) AS BIGINT)
        |    AS significant
        |FROM lr""".stripMargin,
    "x_msprt_ci" ->
      // the x_msprt replay plus the closed-form acceptance-region
      // radius — identical tau^2/alpha literals, ln/sqrt/exp ulps
      // absorbed by round(6)
      """WITH pts AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(19,6)) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)),
        |m AS (
        |  SELECT CAST(SUM(ia) AS BIGINT) AS na,
        |    SUM(CASE WHEN ia = 1 THEN v END) AS sa,
        |    SUM(CASE WHEN ia = 1 THEN v * v END) AS qa,
        |    CAST(SUM(1 - ia) AS BIGINT) AS nb,
        |    SUM(CASE WHEN ia = 0 THEN v END) AS sb,
        |    SUM(CASE WHEN ia = 0 THEN v * v END) AS qb
        |  FROM pts),
        |alg AS (
        |  SELECT na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS diff,
        |    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE)
        |      / CAST(na AS DOUBLE)
        |    + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)
        |      / CAST(nb AS DOUBLE) AS vn
        |  FROM m),
        |lr AS (
        |  SELECT na, nb, diff, vn,
        |    sqrt(vn / (vn + CAST(10000.0 AS DOUBLE)))
        |      * exp(diff * diff * CAST(10000.0 AS DOUBLE)
        |        / (2 * vn * (vn + CAST(10000.0 AS DOUBLE)))) AS lambda,
        |    sqrt(vn * (vn + CAST(10000.0 AS DOUBLE))
        |        / CAST(10000.0 AS DOUBLE)
        |      * ln((vn + CAST(10000.0 AS DOUBLE))
        |        / (CAST(0.05 AS DOUBLE) * CAST(0.05 AS DOUBLE) * vn)))
        |      AS radius
        |  FROM alg)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(diff, 6) AS diff, ROUND(vn, 6) AS v,
        |  ROUND(radius, 6) AS radius,
        |  ROUND(diff - radius, 6) AS lo, ROUND(diff + radius, 6) AS hi,
        |  ROUND(LEAST(1.0, 1.0 / lambda), 6) AS p,
        |  CAST(LEAST(1.0, 1.0 / lambda) < CAST(0.05 AS DOUBLE) AS BIGINT)
        |    AS significant
        |FROM lr""".stripMargin,
    "x_srm_multi" ->
      // per-arm integer counts vs the uniform design; the <= k-term
      // chi2 SUM is the only unordered float fold (round(6) absorbs —
      // the x_anova precedent); same threshold literal
      """WITH c AS (
        |  SELECT event_type AS arm, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IS NOT NULL GROUP BY event_type),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM c),
        |d AS (SELECT * FROM (VALUES ('click', 0.2), ('error', 0.2),
        |  ('purchase', 0.2), ('signup', 0.2), ('view', 0.2))
        |  AS t(arm, share)),
        |terms AS (
        |  SELECT d.arm, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
        |    d.share * CAST(tot.nt AS DOUBLE) AS e
        |  FROM d LEFT JOIN c ON c.arm = d.arm, tot),
        |t2 AS (SELECT arm, n, e,
        |  (CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e AS term
        |  FROM terms)
        |SELECT arm, n, ROUND(e, 6) AS expected, ROUND(term, 6) AS term,
        |  ROUND(SUM(term) OVER (), 6) AS chi2,
        |  CAST(SUM(term) OVER () > CAST(18.466826952903 AS DOUBLE)
        |    AS BIGINT) AS srm
        |FROM t2 ORDER BY arm""".stripMargin,
    "x_bootstrap_group" -> {
      import graft.queries.HashReplay
      val gamma = HashReplay.SplitmixGamma
      val mask = HashReplay.Mask
      val caseSum = graft.functions.BootstrapWeights.Cdf
        .map(t => s"(CASE WHEN u >= CAST($t AS DOUBLE) THEN 1 ELSE 0 END)")
        .mkString("\n|      + ")
      s"""WITH src AS MATERIALIZED (
         |  SELECT CAST(o_orderkey AS HUGEINT) AS key,
         |    o_orderpriority AS g,
         |    CAST(o_totalprice AS DECIMAL(18,6)) AS v
         |  FROM orders
         |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
         |    AND o_orderpriority IS NOT NULL AND isfinite(o_totalprice)),
         |js AS (SELECT unnest(range(1, 201)) AS j),
         |sz AS (SELECT j, (CAST(j AS HUGEINT) + $gamma) & $mask AS z FROM js),
         |${HashReplay.mixCtesSql("seed", "sz", "j")},
         |pz AS (SELECT s.key, s.g, s.v, d.j, (xor(s.key, d.z) + $gamma) & $mask AS z
         |       FROM src s CROSS JOIN seed d),
         |${HashReplay.mixCtesSql("vals", "pz", "key, g, v, j")},
         |uu AS MATERIALIZED (SELECT g, v, j,
         |  CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 AS u FROM vals),
         |w AS (SELECT g, v, j, $caseSum AS w FROM uu),
         |wall AS (SELECT g, v, j, w FROM w
         |  UNION ALL SELECT g, v, 0 AS j, 1 AS w FROM src),
         |sums AS MATERIALIZED (
         |  SELECT g, j, SUM(v * w) AS s, CAST(SUM(w) AS BIGINT) AS n
         |  FROM wall GROUP BY g, j),
         |fullm AS (SELECT g, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, n
         |  FROM sums WHERE j = 0),
         |means AS (SELECT g, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mn
         |  FROM sums WHERE j >= 1 AND n > 0),
         |eff AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS b_eff FROM means GROUP BY g),
         |ord AS (SELECT g, mn,
         |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY mn) AS rn FROM means),
         |rk AS (SELECT g, b_eff,
         |  GREATEST(1, CAST(ceil((CAST(0.05 AS DOUBLE) / 2) * b_eff) AS BIGINT))
         |    AS rlo,
         |  CAST(ceil((1.0 - CAST(0.05 AS DOUBLE) / 2) * b_eff) AS BIGINT) AS rhi
         |  FROM eff)
         |SELECT r.g AS o_orderpriority, r.b_eff, f.n,
         |  ROUND(f.mean, 6) AS mean,
         |  ROUND(lo.mn, 6) AS ci_lo, ROUND(hi.mn, 6) AS ci_hi
         |FROM rk r
         |JOIN fullm f ON f.g = r.g
         |JOIN ord lo ON lo.g = r.g AND lo.rn = r.rlo
         |JOIN ord hi ON hi.g = r.g AND hi.rn = r.rhi
         |ORDER BY o_orderpriority""".stripMargin
    },
    "x_delta_ratio" ->
      // the cuped oracle pattern for the ratio-metric delta method:
      // identical DECIMAL(19,6) unit totals (19 forces DuckDB's int128
      // lane — squares of ~1e6-scale customer revenues overflow the
      // int64-backed 18-width), identical double chain; round(6) pins
      """WITH units AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,6)) AS y,
        |    CAST(COUNT(*) AS DECIMAL(19,6)) AS x,
        |    CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS ia
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL
        |  GROUP BY o_custkey),
        |m AS (
        |  SELECT CAST(SUM(ia) AS BIGINT) AS na,
        |    SUM(CASE WHEN ia = 1 THEN y END) AS sya,
        |    SUM(CASE WHEN ia = 1 THEN x END) AS sxa,
        |    SUM(CASE WHEN ia = 1 THEN y * y END) AS qya,
        |    SUM(CASE WHEN ia = 1 THEN x * x END) AS qxa,
        |    SUM(CASE WHEN ia = 1 THEN x * y END) AS pa,
        |    CAST(SUM(1 - ia) AS BIGINT) AS nb,
        |    SUM(CASE WHEN ia = 0 THEN y END) AS syb,
        |    SUM(CASE WHEN ia = 0 THEN x END) AS sxb,
        |    SUM(CASE WHEN ia = 0 THEN y * y END) AS qyb,
        |    SUM(CASE WHEN ia = 0 THEN x * x END) AS qxb,
        |    SUM(CASE WHEN ia = 0 THEN x * y END) AS pb
        |  FROM units),
        |alg AS (
        |  SELECT na, nb,
        |    CAST(sya AS DOUBLE) / CAST(sxa AS DOUBLE) AS ra,
        |    CAST(syb AS DOUBLE) / CAST(sxb AS DOUBLE) AS rb,
        |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS mxa,
        |    CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mxb,
        |    (CAST(pa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sya AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS cova,
        |    (CAST(qxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS vxa,
        |    (CAST(qya AS DOUBLE) - CAST(sya AS DOUBLE) * CAST(sya AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS vya,
        |    (CAST(pb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(syb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS covb,
        |    (CAST(qxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vxb,
        |    (CAST(qyb AS DOUBLE) - CAST(syb AS DOUBLE) * CAST(syb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vyb
        |  FROM m),
        |vr AS (
        |  SELECT na, nb, ra, rb,
        |    (vya - 2 * ra * cova + ra * ra * vxa)
        |      / (CAST(na AS DOUBLE) * mxa * mxa) AS va,
        |    (vyb - 2 * rb * covb + rb * rb * vxb)
        |      / (CAST(nb AS DOUBLE) * mxb * mxb) AS vb
        |  FROM alg),
        |fin AS (
        |  SELECT na, nb, ra, rb, ra - rb AS diff, sqrt(va + vb) AS se
        |  FROM vr)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(ra, 6) AS ratio_a, ROUND(rb, 6) AS ratio_b,
        |  ROUND(diff, 6) AS diff, ROUND(se, 6) AS se,
        |  ROUND(diff - CAST(1.959963984540054 AS DOUBLE) * se, 6) AS ci_lo,
        |  ROUND(diff + CAST(1.959963984540054 AS DOUBLE) * se, 6) AS ci_hi
        |FROM fin""".stripMargin,
    "x_srm" ->
      // two integer counts + the identical pinned double chain; the
      // alarm threshold literal round-trips through both parsers
      """WITH m AS (
        |  SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS nb
        |  FROM events),
        |e AS (
        |  SELECT na, nb,
        |    CAST(0.5 AS DOUBLE) * CAST(na + nb AS DOUBLE) AS ea,
        |    (1.0 - CAST(0.5 AS DOUBLE)) * CAST(na + nb AS DOUBLE) AS eb
        |  FROM m),
        |c AS (
        |  SELECT na, nb, ea, eb,
        |    (CAST(na AS DOUBLE) - ea) * (CAST(na AS DOUBLE) - ea) / ea
        |      + (CAST(nb AS DOUBLE) - eb) * (CAST(nb AS DOUBLE) - eb) / eb
        |      AS chi2
        |  FROM e)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(ea, 6) AS expected_a, ROUND(eb, 6) AS expected_b,
        |  ROUND(chi2, 6) AS chi2,
        |  CAST(chi2 > CAST(10.827566170662733 AS DOUBLE) AS BIGINT) AS srm
        |FROM c""".stripMargin,
    "x_cuped_ratio" ->
      // the cupedRatio chains replayed term-for-term: DECIMAL(19,6)
      // unit totals (int128 lane), the 15 cross moments per arm, the
      // pooled linearization constants, theta, and the per-arm
      // delta-method variances — every sum left-associated in the
      // engine's accumulation order, round(6) pinning the outputs
      """WITH units0 AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CASE WHEN year(o_orderdate) = 1996
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |      AS DECIMAL(19,6)) AS y,
        |    CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)
        |      AS DECIMAL(19,6)) AS x,
        |    CAST(SUM(CASE WHEN year(o_orderdate) = 1995
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |      AS DECIMAL(19,6)) AS yc,
        |    CAST(SUM(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END)
        |      AS DECIMAL(19,6)) AS xc,
        |    CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS ia
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL
        |    AND o_orderdate IS NOT NULL AND year(o_orderdate) IN (1995, 1996)
        |  GROUP BY o_custkey),
        |units AS (SELECT * FROM units0 WHERE x > 0 AND xc > 0),
        |m AS (
        |  SELECT
        |    CAST(SUM(ia) AS BIGINT) AS na,
        |    SUM(CASE WHEN ia = 1 THEN y END) AS s_y_a,
        |    SUM(CASE WHEN ia = 1 THEN x END) AS s_x_a,
        |    SUM(CASE WHEN ia = 1 THEN yc END) AS s_yc_a,
        |    SUM(CASE WHEN ia = 1 THEN xc END) AS s_xc_a,
        |    SUM(CASE WHEN ia = 1 THEN y * y END) AS p_y_y_a,
        |    SUM(CASE WHEN ia = 1 THEN y * x END) AS p_y_x_a,
        |    SUM(CASE WHEN ia = 1 THEN y * yc END) AS p_y_yc_a,
        |    SUM(CASE WHEN ia = 1 THEN y * xc END) AS p_y_xc_a,
        |    SUM(CASE WHEN ia = 1 THEN x * x END) AS p_x_x_a,
        |    SUM(CASE WHEN ia = 1 THEN x * yc END) AS p_x_yc_a,
        |    SUM(CASE WHEN ia = 1 THEN x * xc END) AS p_x_xc_a,
        |    SUM(CASE WHEN ia = 1 THEN yc * yc END) AS p_yc_yc_a,
        |    SUM(CASE WHEN ia = 1 THEN yc * xc END) AS p_yc_xc_a,
        |    SUM(CASE WHEN ia = 1 THEN xc * xc END) AS p_xc_xc_a,
        |    CAST(SUM(1 - ia) AS BIGINT) AS nb,
        |    SUM(CASE WHEN ia = 0 THEN y END) AS s_y_b,
        |    SUM(CASE WHEN ia = 0 THEN x END) AS s_x_b,
        |    SUM(CASE WHEN ia = 0 THEN yc END) AS s_yc_b,
        |    SUM(CASE WHEN ia = 0 THEN xc END) AS s_xc_b,
        |    SUM(CASE WHEN ia = 0 THEN y * y END) AS p_y_y_b,
        |    SUM(CASE WHEN ia = 0 THEN y * x END) AS p_y_x_b,
        |    SUM(CASE WHEN ia = 0 THEN y * yc END) AS p_y_yc_b,
        |    SUM(CASE WHEN ia = 0 THEN y * xc END) AS p_y_xc_b,
        |    SUM(CASE WHEN ia = 0 THEN x * x END) AS p_x_x_b,
        |    SUM(CASE WHEN ia = 0 THEN x * yc END) AS p_x_yc_b,
        |    SUM(CASE WHEN ia = 0 THEN x * xc END) AS p_x_xc_b,
        |    SUM(CASE WHEN ia = 0 THEN yc * yc END) AS p_yc_yc_b,
        |    SUM(CASE WHEN ia = 0 THEN yc * xc END) AS p_yc_xc_b,
        |    SUM(CASE WHEN ia = 0 THEN xc * xc END) AS p_xc_xc_b
        |  FROM units),
        |pool AS MATERIALIZED (
        |  SELECT m.*,
        |    CAST(na + nb AS DOUBLE) AS nd,
        |    CAST(na + nb - 1 AS DOUBLE) AS nm1,
        |    CAST(s_y_a + s_y_b AS DOUBLE) AS sy,
        |    CAST(s_x_a + s_x_b AS DOUBLE) AS sx,
        |    CAST(s_yc_a + s_yc_b AS DOUBLE) AS syc,
        |    CAST(s_xc_a + s_xc_b AS DOUBLE) AS sxc
        |  FROM m),
        |konst AS MATERIALIZED (
        |  SELECT pool.*,
        |    sy / sx AS rp,
        |    syc / sxc AS rcp,
        |    sx / nd AS mxp,
        |    sxc / nd AS mxcp,
        |    (CAST(p_y_yc_a + p_y_yc_b AS DOUBLE) - sy * syc / nd) / nm1
        |      AS c_y_yc,
        |    (CAST(p_y_xc_a + p_y_xc_b AS DOUBLE) - sy * sxc / nd) / nm1
        |      AS c_y_xc,
        |    (CAST(p_x_yc_a + p_x_yc_b AS DOUBLE) - sx * syc / nd) / nm1
        |      AS c_x_yc,
        |    (CAST(p_x_xc_a + p_x_xc_b AS DOUBLE) - sx * sxc / nd) / nm1
        |      AS c_x_xc,
        |    (CAST(p_y_y_a + p_y_y_b AS DOUBLE) - sy * sy / nd) / nm1
        |      AS c_y_y,
        |    (CAST(p_y_x_a + p_y_x_b AS DOUBLE) - sy * sx / nd) / nm1
        |      AS c_y_x,
        |    (CAST(p_x_x_a + p_x_x_b AS DOUBLE) - sx * sx / nd) / nm1
        |      AS c_x_x,
        |    (CAST(p_yc_yc_a + p_yc_yc_b AS DOUBLE) - syc * syc / nd) / nm1
        |      AS c_yc_yc,
        |    (CAST(p_yc_xc_a + p_yc_xc_b AS DOUBLE) - syc * sxc / nd) / nm1
        |      AS c_yc_xc,
        |    (CAST(p_xc_xc_a + p_xc_xc_b AS DOUBLE) - sxc * sxc / nd) / nm1
        |      AS c_xc_xc
        |  FROM pool),
        |lin AS MATERIALIZED (
        |  SELECT konst.*,
        |    1.0 / mxp AS al,
        |    -(rp / mxp) AS bl,
        |    1.0 / mxcp AS ac,
        |    -(rcp / mxcp) AS bc
        |  FROM konst),
        |tcte AS MATERIALIZED (
        |  SELECT lin.*,
        |    al * ac * c_y_yc + al * bc * c_y_xc + bl * ac * c_x_yc
        |      + bl * bc * c_x_xc AS covlc,
        |    ac * ac * c_yc_yc + 2 * ac * bc * c_yc_xc + bc * bc * c_xc_xc
        |      AS varc,
        |    al * al * c_y_y + 2 * al * bl * c_y_x + bl * bl * c_x_x
        |      AS varl
        |  FROM lin),
        |th AS MATERIALIZED (SELECT tcte.*, covlc / varc AS theta FROM tcte),
        |arms AS MATERIALIZED (
        |  SELECT th.*,
        |    CAST(s_y_a AS DOUBLE) / CAST(s_x_a AS DOUBLE) AS ra,
        |    CAST(s_y_b AS DOUBLE) / CAST(s_x_b AS DOUBLE) AS rb,
        |    CAST(s_x_a AS DOUBLE) / CAST(na AS DOUBLE) AS mxa,
        |    CAST(s_x_b AS DOUBLE) / CAST(nb AS DOUBLE) AS mxb,
        |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
        |    CAST(na - 1 AS DOUBLE) AS nam, CAST(nb - 1 AS DOUBLE) AS nbm
        |  FROM th),
        |armc AS MATERIALIZED (
        |  SELECT arms.*,
        |    1.0 / mxa AS aa, -(ra / mxa) AS ba,
        |    1.0 / mxb AS ab, -(rb / mxb) AS bb,
        |    (CAST(p_y_y_a AS DOUBLE) - CAST(s_y_a AS DOUBLE)
        |      * CAST(s_y_a AS DOUBLE) / nad) / nam AS cs_y_y_a,
        |    (CAST(p_y_x_a AS DOUBLE) - CAST(s_y_a AS DOUBLE)
        |      * CAST(s_x_a AS DOUBLE) / nad) / nam AS cs_y_x_a,
        |    (CAST(p_x_x_a AS DOUBLE) - CAST(s_x_a AS DOUBLE)
        |      * CAST(s_x_a AS DOUBLE) / nad) / nam AS cs_x_x_a,
        |    (CAST(p_y_yc_a AS DOUBLE) - CAST(s_y_a AS DOUBLE)
        |      * CAST(s_yc_a AS DOUBLE) / nad) / nam AS cs_y_yc_a,
        |    (CAST(p_y_xc_a AS DOUBLE) - CAST(s_y_a AS DOUBLE)
        |      * CAST(s_xc_a AS DOUBLE) / nad) / nam AS cs_y_xc_a,
        |    (CAST(p_x_yc_a AS DOUBLE) - CAST(s_x_a AS DOUBLE)
        |      * CAST(s_yc_a AS DOUBLE) / nad) / nam AS cs_x_yc_a,
        |    (CAST(p_x_xc_a AS DOUBLE) - CAST(s_x_a AS DOUBLE)
        |      * CAST(s_xc_a AS DOUBLE) / nad) / nam AS cs_x_xc_a,
        |    (CAST(p_yc_yc_a AS DOUBLE) - CAST(s_yc_a AS DOUBLE)
        |      * CAST(s_yc_a AS DOUBLE) / nad) / nam AS cs_yc_yc_a,
        |    (CAST(p_yc_xc_a AS DOUBLE) - CAST(s_yc_a AS DOUBLE)
        |      * CAST(s_xc_a AS DOUBLE) / nad) / nam AS cs_yc_xc_a,
        |    (CAST(p_xc_xc_a AS DOUBLE) - CAST(s_xc_a AS DOUBLE)
        |      * CAST(s_xc_a AS DOUBLE) / nad) / nam AS cs_xc_xc_a,
        |    (CAST(p_y_y_b AS DOUBLE) - CAST(s_y_b AS DOUBLE)
        |      * CAST(s_y_b AS DOUBLE) / nbd) / nbm AS cs_y_y_b,
        |    (CAST(p_y_x_b AS DOUBLE) - CAST(s_y_b AS DOUBLE)
        |      * CAST(s_x_b AS DOUBLE) / nbd) / nbm AS cs_y_x_b,
        |    (CAST(p_x_x_b AS DOUBLE) - CAST(s_x_b AS DOUBLE)
        |      * CAST(s_x_b AS DOUBLE) / nbd) / nbm AS cs_x_x_b,
        |    (CAST(p_y_yc_b AS DOUBLE) - CAST(s_y_b AS DOUBLE)
        |      * CAST(s_yc_b AS DOUBLE) / nbd) / nbm AS cs_y_yc_b,
        |    (CAST(p_y_xc_b AS DOUBLE) - CAST(s_y_b AS DOUBLE)
        |      * CAST(s_xc_b AS DOUBLE) / nbd) / nbm AS cs_y_xc_b,
        |    (CAST(p_x_yc_b AS DOUBLE) - CAST(s_x_b AS DOUBLE)
        |      * CAST(s_yc_b AS DOUBLE) / nbd) / nbm AS cs_x_yc_b,
        |    (CAST(p_x_xc_b AS DOUBLE) - CAST(s_x_b AS DOUBLE)
        |      * CAST(s_xc_b AS DOUBLE) / nbd) / nbm AS cs_x_xc_b,
        |    (CAST(p_yc_yc_b AS DOUBLE) - CAST(s_yc_b AS DOUBLE)
        |      * CAST(s_yc_b AS DOUBLE) / nbd) / nbm AS cs_yc_yc_b,
        |    (CAST(p_yc_xc_b AS DOUBLE) - CAST(s_yc_b AS DOUBLE)
        |      * CAST(s_xc_b AS DOUBLE) / nbd) / nbm AS cs_yc_xc_b,
        |    (CAST(p_xc_xc_b AS DOUBLE) - CAST(s_xc_b AS DOUBLE)
        |      * CAST(s_xc_b AS DOUBLE) / nbd) / nbm AS cs_xc_xc_b
        |  FROM arms),
        |fin AS MATERIALIZED (
        |  SELECT armc.*,
        |    (aa * aa * cs_y_y_a + 2 * aa * ba * cs_y_x_a
        |      + ba * ba * cs_x_x_a
        |      - 2 * theta * (aa * ac * cs_y_yc_a + aa * bc * cs_y_xc_a
        |        + ba * ac * cs_x_yc_a + ba * bc * cs_x_xc_a)
        |      + theta * theta * (ac * ac * cs_yc_yc_a
        |        + 2 * ac * bc * cs_yc_xc_a + bc * bc * cs_xc_xc_a)) / nad
        |      AS va,
        |    (ab * ab * cs_y_y_b + 2 * ab * bb * cs_y_x_b
        |      + bb * bb * cs_x_x_b
        |      - 2 * theta * (ab * ac * cs_y_yc_b + ab * bc * cs_y_xc_b
        |        + bb * ac * cs_x_yc_b + bb * bc * cs_x_xc_b)
        |      + theta * theta * (ac * ac * cs_yc_yc_b
        |        + 2 * ac * bc * cs_yc_xc_b + bc * bc * cs_xc_xc_b)) / nbd
        |      AS vb,
        |    ra - rb
        |      - theta * ((ac * (CAST(s_yc_a AS DOUBLE) / nad)
        |          + bc * (CAST(s_xc_a AS DOUBLE) / nad))
        |        - (ac * (CAST(s_yc_b AS DOUBLE) / nbd)
        |          + bc * (CAST(s_xc_b AS DOUBLE) / nbd))) AS diff_adj
        |  FROM armc)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(ra, 6) AS ratio_a, ROUND(rb, 6) AS ratio_b,
        |  ROUND(ra - rb, 6) AS diff,
        |  ROUND(theta, 6) AS theta,
        |  ROUND(theta * covlc / varl, 6) AS rho2,
        |  ROUND(diff_adj, 6) AS diff_adj,
        |  ROUND(sqrt(va + vb), 6) AS se_adj,
        |  ROUND(diff_adj - CAST(1.959963984540054 AS DOUBLE)
        |    * sqrt(va + vb), 6) AS ci_lo,
        |  ROUND(diff_adj + CAST(1.959963984540054 AS DOUBLE)
        |    * sqrt(va + vb), 6) AS ci_hi
        |FROM fin""".stripMargin,
    "x_poststrat" ->
      // per-(stratum, arm) DECIMAL(19,6) cells (int128 lane — price
      // squares overflow the int64 18-width), then the identical
      // per-stratum double chains; the <=|strata| SUMs are the only
      // unordered float folds and round(6) absorbs them (x_anova).
      // KNOWN divergence (ADVICE r15, accepted): the a.ia=1 x b.ia=0
      // inner join silently DROPS a stratum present in only one arm,
      // where the engine fails loud naming it — on TPC-H priorities
      // every stratum is two-armed at every SF, so the replica is
      // faithful on this data; if the bench input ever grows a
      // one-armed stratum the ENGINE side errors first and the
      // mismatch surfaces as a verify failure, not a silent pass
      """WITH pts AS (
        |  SELECT o_orderpriority AS s,
        |    CAST(o_totalprice AS DECIMAL(19,6)) AS v,
        |    CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS ia
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL AND isfinite(o_totalprice)),
        |cells AS (
        |  SELECT s, ia, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(v) AS sv, SUM(v * v) AS qv
        |  FROM pts GROUP BY s, ia),
        |tot AS (
        |  SELECT CAST(SUM(CASE WHEN ia = 1 THEN n END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN ia = 0 THEN n END) AS BIGINT) AS nb,
        |    SUM(CASE WHEN ia = 1 THEN sv END) AS sa,
        |    SUM(CASE WHEN ia = 0 THEN sv END) AS sb
        |  FROM cells),
        |st AS (
        |  SELECT a.s,
        |    CAST(a.n + b.n AS DOUBLE) / CAST(t.na + t.nb AS DOUBLE) AS w,
        |    CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE) AS ma,
        |    CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE) AS mb,
        |    (CAST(a.qv AS DOUBLE) - CAST(a.sv AS DOUBLE) * CAST(a.sv AS DOUBLE)
        |      / CAST(a.n AS DOUBLE)) / CAST(a.n - 1 AS DOUBLE) AS va,
        |    (CAST(b.qv AS DOUBLE) - CAST(b.sv AS DOUBLE) * CAST(b.sv AS DOUBLE)
        |      / CAST(b.n AS DOUBLE)) / CAST(b.n - 1 AS DOUBLE) AS vb,
        |    CAST(a.n AS DOUBLE) AS nad, CAST(b.n AS DOUBLE) AS nbd
        |  FROM cells a
        |  JOIN cells b ON a.s = b.s AND a.ia = 1 AND b.ia = 0
        |  CROSS JOIN tot t),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    SUM(w * ma) AS ya, SUM(w * mb) AS yb,
        |    SUM(w * w * (va / nad)) AS vva,
        |    SUM(w * w * (vb / nbd)) AS vvb
        |  FROM st),
        |fin AS (
        |  SELECT t.na, t.nb, agg.k,
        |    CAST(t.sa AS DOUBLE) / CAST(t.na AS DOUBLE)
        |      - CAST(t.sb AS DOUBLE) / CAST(t.nb AS DOUBLE) AS diff_raw,
        |    ya - yb AS diff_strat,
        |    sqrt(vva + vvb) AS se
        |  FROM agg CROSS JOIN tot t)
        |SELECT na AS n_a, nb AS n_b, k AS n_strata,
        |  ROUND(diff_raw, 6) AS diff_raw,
        |  ROUND(diff_strat, 6) AS diff_strat,
        |  ROUND(se, 6) AS se_strat,
        |  ROUND(diff_strat / se, 6) AS t_strat
        |FROM fin""".stripMargin,
    "x_power_mde" ->
      // the welch_t moment CTEs, then the power algebra in the same
      // operation order (zsum added once, the 2·varp·zsum·zsum chain
      // left-associated, ceil-then-truncate for n_per_arm).
      // DECIMAL(19,6) forces DuckDB's int128 lane — squares of
      // ~1e5-scale prices overflow the int64-backed 18-width (the
      // x_cuped convention; the VALUES are identical either way)
      """WITH pts AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(19,6)) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)),
        |m AS (
        |  SELECT CAST(SUM(ia) AS BIGINT) AS na,
        |    SUM(CASE WHEN ia = 1 THEN v END) AS sa,
        |    SUM(CASE WHEN ia = 1 THEN v * v END) AS qa,
        |    CAST(SUM(1 - ia) AS BIGINT) AS nb,
        |    SUM(CASE WHEN ia = 0 THEN v END) AS sb,
        |    SUM(CASE WHEN ia = 0 THEN v * v END) AS qb
        |  FROM pts),
        |alg AS (
        |  SELECT na, nb,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
        |    (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
        |  FROM m),
        |p2 AS (
        |  SELECT na, nb, mb, va, vb,
        |    (CAST(na - 1 AS DOUBLE) * va + CAST(nb - 1 AS DOUBLE) * vb)
        |      / CAST(na + nb - 2 AS DOUBLE) AS varp,
        |    CAST(1.959963984540054 AS DOUBLE)
        |      + CAST(0.8416212335729143 AS DOUBLE) AS zsum
        |  FROM alg),
        |fin AS (
        |  SELECT na, nb, mb, varp, zsum,
        |    zsum * sqrt(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
        |      AS mde_abs,
        |    CAST(0.01 AS DOUBLE) * mb AS delta
        |  FROM p2)
        |SELECT na AS n_a, nb AS n_b, ROUND(mb, 6) AS mean_b,
        |  ROUND(mde_abs, 6) AS mde_abs,
        |  ROUND(mde_abs / mb, 6) AS mde_rel,
        |  CAST(ceil(2 * varp * zsum * zsum / (delta * delta)) AS BIGINT)
        |    AS n_per_arm
        |FROM fin""".stripMargin,
    "x_welch_segments" ->
      // per-(segment, arm) welch_t moment CTEs, the same ratio shapes
      // as welchChain per segment, the A&S 7.1.26 erfc polynomial in
      // the same Horner order, ROW_NUMBER BH across the segments
      """WITH pts AS (
        |  SELECT event_type AS g, CAST(value AS DECIMAL(18,6)) AS v,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ia
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL AND isfinite(value)),
        |m AS (
        |  SELECT g,
        |    CAST(SUM(ia) AS BIGINT) AS na,
        |    SUM(CASE WHEN ia = 1 THEN v END) AS sa,
        |    SUM(CASE WHEN ia = 1 THEN v * v END) AS qa,
        |    CAST(SUM(1 - ia) AS BIGINT) AS nb,
        |    SUM(CASE WHEN ia = 0 THEN v END) AS sb,
        |    SUM(CASE WHEN ia = 0 THEN v * v END) AS qb
        |  FROM pts GROUP BY g),
        |alg AS (
        |  SELECT g, na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
        |    (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
        |  FROM m),
        |se AS (SELECT g, na, nb, ma, mb,
        |  va / CAST(na AS DOUBLE) AS sea, vb / CAST(nb AS DOUBLE) AS seb
        |  FROM alg),
        |tt AS (SELECT g, na, nb, ma, mb,
        |  (ma - mb) / sqrt(sea + seb) AS t,
        |  (sea + seb) * (sea + seb) / (sea * sea
        |    / CAST(na - 1 AS DOUBLE) + seb * seb / CAST(nb - 1 AS DOUBLE))
        |    AS dfw
        |  FROM se),
        |px AS (SELECT g, na, nb, ma, mb, t, dfw,
        |  abs(t) / sqrt(2.0) AS x FROM tt),
        |pu AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS u FROM px),
        |pv AS (SELECT g, na, nb, ma, mb, t, dfw,
        |  ((((1.061405429 * u - 1.453152027) * u + 1.421413741) * u
        |    - 0.284496736) * u + 0.254829592) * u * exp(-x * x) AS p
        |  FROM pu),
        |bh AS (SELECT *, ROW_NUMBER() OVER (ORDER BY p, g) AS rn,
        |  CAST(COUNT(*) OVER () AS DOUBLE) AS mm FROM pv),
        |thr AS (SELECT MAX(CASE WHEN p <= 0.05 * CAST(rn AS DOUBLE) / mm
        |  THEN p END) AS thr FROM bh)
        |SELECT g AS grp, na AS n_a, nb AS n_b, ROUND(ma, 6) AS mean_a,
        |  ROUND(mb, 6) AS mean_b, ROUND(ma - mb, 6) AS diff,
        |  ROUND(t, 6) AS t, ROUND(dfw, 4) AS df, ROUND(p, 6) AS p,
        |  CAST(COALESCE(p <= thr.thr, FALSE) AS BIGINT) AS significant
        |FROM bh, thr ORDER BY grp""".stripMargin,
    "x_multi_arm" ->
      // per-arm welch_t moment CTEs (control = 'view' as sample B),
      // the SAME ratio shapes and operation order as welchChain, the
      // A&S 7.1.26 erfc polynomial for the two-sided normal p (Horner
      // order matches Stats.zPvalue2; round(6) absorbs cross-engine
      // exp() last-ulp), then the BH step-up over the 4 comparisons
      // (ROW_NUMBER ranks — a tie block's largest index wins MAX,
      // matching the engine's sorted-index rule)
      """WITH pts AS (
        |  SELECT CAST(value AS DECIMAL(18,6)) AS v, event_type AS arm
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL AND isfinite(value)),
        |m AS (
        |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(v) AS s, SUM(v * v) AS q
        |  FROM pts GROUP BY arm),
        |ctl AS (SELECT n AS ncc, s AS sc, q AS qc FROM m WHERE arm = 'view'),
        |alg AS (
        |  SELECT m.arm, ctl.ncc, m.n AS nt,
        |    CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE) AS mt,
        |    CAST(ctl.sc AS DOUBLE) / CAST(ctl.ncc AS DOUBLE) AS mc,
        |    (CAST(m.q AS DOUBLE) - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE)
        |      / CAST(m.n AS DOUBLE)) / CAST(m.n - 1 AS DOUBLE) AS vt,
        |    (CAST(ctl.qc AS DOUBLE) - CAST(ctl.sc AS DOUBLE)
        |      * CAST(ctl.sc AS DOUBLE) / CAST(ctl.ncc AS DOUBLE))
        |      / CAST(ctl.ncc - 1 AS DOUBLE) AS vc
        |  FROM m, ctl WHERE m.arm <> 'view'),
        |se AS (SELECT arm, ncc, nt, mc, mt,
        |  vt / CAST(nt AS DOUBLE) AS set_, vc / CAST(ncc AS DOUBLE) AS sec
        |  FROM alg),
        |tt AS (SELECT arm, ncc, nt, mc, mt,
        |  (mt - mc) / sqrt(set_ + sec) AS t,
        |  (set_ + sec) * (set_ + sec) / (set_ * set_
        |    / CAST(nt - 1 AS DOUBLE) + sec * sec / CAST(ncc - 1 AS DOUBLE))
        |    AS dfw
        |  FROM se),
        |px AS (SELECT arm, ncc, nt, mc, mt, t, dfw,
        |  abs(t) / sqrt(2.0) AS x FROM tt),
        |pu AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS u FROM px),
        |pv AS (SELECT arm, ncc, nt, mc, mt, t, dfw,
        |  ((((1.061405429 * u - 1.453152027) * u + 1.421413741) * u
        |    - 0.284496736) * u + 0.254829592) * u * exp(-x * x) AS p
        |  FROM pu),
        |bh AS (SELECT *, ROW_NUMBER() OVER (ORDER BY p, arm) AS rn,
        |  CAST(COUNT(*) OVER () AS DOUBLE) AS mm FROM pv),
        |thr AS (SELECT MAX(CASE WHEN p <= 0.05 * CAST(rn AS DOUBLE) / mm
        |  THEN p END) AS thr FROM bh)
        |SELECT arm, ncc AS n_c, nt AS n_t, ROUND(mc, 6) AS mean_c,
        |  ROUND(mt, 6) AS mean_t, ROUND(mt - mc, 6) AS diff,
        |  ROUND(t, 6) AS t, ROUND(dfw, 4) AS df, ROUND(p, 6) AS p,
        |  COALESCE(p <= thr.thr, FALSE) AS significant
        |FROM bh, thr ORDER BY arm""".stripMargin,
    "x_group_seq" ->
      // look-bucket CASE (first cutoff containing the row), per-(look,
      // arm) decimal cells, CUMULATIVE moments via the c.k <= look
      // join (exact decimal addition — order-free), then the welch
      // chain per look and the OBF-shaped boundary; stop_look is the
      // window MIN over crossed looks. DECIMAL(19,6) forces the int128
      // lane (the x_power_mde convention on ~1e5-scale prices)
      """WITH pts AS (
        |  SELECT CAST(o_totalprice AS DECIMAL(19,6)) AS v,
        |    CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN o_orderdate <= DATE '1996-06-30' THEN 1
        |         WHEN o_orderdate <= DATE '1998-06-30' THEN 2
        |         WHEN o_orderdate <= DATE '2000-06-30' THEN 3
        |         WHEN o_orderdate <= DATE '2001-08-01' THEN 4 END AS k
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL AND isfinite(o_totalprice)),
        |cells AS (
        |  SELECT k, ia, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(v) AS s, SUM(v * v) AS q
        |  FROM pts WHERE k IS NOT NULL GROUP BY k, ia),
        |looks AS (SELECT CAST(range AS INTEGER) AS look FROM range(1, 5)),
        |cum AS (
        |  SELECT l.look,
        |    CAST(SUM(CASE WHEN c.ia = 1 THEN c.n ELSE 0 END) AS BIGINT) AS na,
        |    SUM(CASE WHEN c.ia = 1 THEN c.s END) AS sa,
        |    SUM(CASE WHEN c.ia = 1 THEN c.q END) AS qa,
        |    CAST(SUM(CASE WHEN c.ia = 0 THEN c.n ELSE 0 END) AS BIGINT) AS nb,
        |    SUM(CASE WHEN c.ia = 0 THEN c.s END) AS sb,
        |    SUM(CASE WHEN c.ia = 0 THEN c.q END) AS qb
        |  FROM looks l JOIN cells c ON c.k <= l.look GROUP BY l.look),
        |tot AS (SELECT CAST(na + nb AS DOUBLE) AS ntot FROM cum
        |  WHERE look = 4),
        |alg AS (
        |  SELECT look, na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
        |    (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
        |  FROM cum),
        |se AS (SELECT look, na, nb, ma, mb, va / CAST(na AS DOUBLE) AS sea,
        |  vb / CAST(nb AS DOUBLE) AS seb FROM alg),
        |zz AS (SELECT look, na, nb,
        |  (ma - mb) / sqrt(sea + seb) AS z,
        |  CAST(na + nb AS DOUBLE) / (SELECT ntot FROM tot) AS frac
        |  FROM se),
        |cr AS (SELECT look, na, nb, frac, z,
        |  1.959963984540054 / sqrt(frac) AS boundary,
        |  abs(z) >= 1.959963984540054 / sqrt(frac) AS crossed FROM zz)
        |SELECT CAST(look AS BIGINT) AS look, na AS n_a, nb AS n_b,
        |  ROUND(frac, 6) AS info_frac, ROUND(z, 6) AS z,
        |  ROUND(boundary, 6) AS boundary, crossed,
        |  CAST(MIN(CASE WHEN crossed THEN look END) OVER () AS BIGINT)
        |    AS stop_look
        |FROM cr ORDER BY look""".stripMargin,
    "x_group_seq_live" ->
      // the x_group_seq replay with the PLANNED information
      // denominator: ntot = 2 x the observed eligible rows (the same
      // count the engine's plannedTotal derivation runs), so
      // info_frac halves and the OBF boundary stiffens by sqrt(2)
      """WITH pts AS (
        |  SELECT CAST(o_totalprice AS DECIMAL(19,6)) AS v,
        |    CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN o_orderdate <= DATE '1996-06-30' THEN 1
        |         WHEN o_orderdate <= DATE '1998-06-30' THEN 2
        |         WHEN o_orderdate <= DATE '2000-06-30' THEN 3
        |         WHEN o_orderdate <= DATE '2001-08-01' THEN 4 END AS k
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND isfinite(o_totalprice)),
        |cells AS (
        |  SELECT k, ia, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(v) AS s, SUM(v * v) AS q
        |  FROM pts WHERE k IS NOT NULL GROUP BY k, ia),
        |looks AS (SELECT CAST(range AS INTEGER) AS look FROM range(1, 5)),
        |cum AS (
        |  SELECT l.look,
        |    CAST(SUM(CASE WHEN c.ia = 1 THEN c.n ELSE 0 END) AS BIGINT) AS na,
        |    SUM(CASE WHEN c.ia = 1 THEN c.s END) AS sa,
        |    SUM(CASE WHEN c.ia = 1 THEN c.q END) AS qa,
        |    CAST(SUM(CASE WHEN c.ia = 0 THEN c.n ELSE 0 END) AS BIGINT) AS nb,
        |    SUM(CASE WHEN c.ia = 0 THEN c.s END) AS sb,
        |    SUM(CASE WHEN c.ia = 0 THEN c.q END) AS qb
        |  FROM looks l JOIN cells c ON c.k <= l.look GROUP BY l.look),
        |tot AS (SELECT CAST(2 * COUNT(*) AS DOUBLE) AS ntot FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND isfinite(o_totalprice)),
        |alg AS (
        |  SELECT look, na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
        |    (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
        |  FROM cum),
        |se AS (SELECT look, na, nb, ma, mb, va / CAST(na AS DOUBLE) AS sea,
        |  vb / CAST(nb AS DOUBLE) AS seb FROM alg),
        |zz AS (SELECT look, na, nb,
        |  (ma - mb) / sqrt(sea + seb) AS z,
        |  CAST(na + nb AS DOUBLE) / (SELECT ntot FROM tot) AS frac
        |  FROM se),
        |cr AS (SELECT look, na, nb, frac, z,
        |  1.959963984540054 / sqrt(frac) AS boundary,
        |  abs(z) >= 1.959963984540054 / sqrt(frac) AS crossed FROM zz)
        |SELECT CAST(look AS BIGINT) AS look, na AS n_a, nb AS n_b,
        |  ROUND(frac, 6) AS info_frac, ROUND(z, 6) AS z,
        |  ROUND(boundary, 6) AS boundary, crossed,
        |  CAST(MIN(CASE WHEN crossed THEN look END) OVER () AS BIGINT)
        |    AS stop_look
        |FROM cr ORDER BY look""".stripMargin,
    "x_bootstrap_quantiles" -> {
      import graft.queries.HashReplay
      val gamma = HashReplay.SplitmixGamma
      val mask = HashReplay.Mask
      val caseSum = graft.functions.BootstrapWeights.Cdf
        .map(t => s"(CASE WHEN u >= CAST($t AS DOUBLE) THEN 1 ELSE 0 END)")
        .mkString("\n|      + ")
      // replay the identical splitmix chain + Poisson CDF, then each
      // resample's exact-rank weighted quantile via CUMULATIVE weights
      // (the x_weighted pattern — no range(w) expansion), and the same
      // rank-pick chain as x_bootstrap for the CI. MATERIALIZED on the
      // uniform draws and the per-(j, v) weights is load-bearing:
      // DuckDB flattens chained CTE projections into per-REFERENCE
      // expressions without CSE, so every CDF CASE branch (and every
      // downstream reference) would re-run the full HUGEINT splitmix
      // chain — an hour-class blowup at sf0.1 measured at 30x+
      s"""WITH src AS MATERIALIZED (
         |  SELECT CAST(o_orderkey AS HUGEINT) AS key,
         |    CAST(o_totalprice AS DOUBLE) AS v
         |  FROM orders
         |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
         |    AND o_orderdate IS NOT NULL AND year(o_orderdate) = 1995 AND isfinite(o_totalprice)),
         |js AS (SELECT unnest(range(1, 201)) AS j),
         |sz AS (SELECT j, (CAST(j AS HUGEINT) + $gamma) & $mask AS z FROM js),
         |${HashReplay.mixCtesSql("seed", "sz", "j")},
         |pz AS (SELECT s.key, s.v, d.j, (xor(s.key, d.z) + $gamma) & $mask AS z
         |       FROM src s CROSS JOIN seed d),
         |${HashReplay.mixCtesSql("vals", "pz", "key, v, j")},
         |uu AS MATERIALIZED (SELECT v, j,
         |  CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 AS u FROM vals),
         |w AS (SELECT v, j, $caseSum AS w FROM uu),
         |wall AS (SELECT v, j, w FROM w WHERE w > 0
         |  UNION ALL SELECT v, 0 AS j, 1 AS w FROM src),
         |gv AS MATERIALIZED (SELECT j, v, SUM(w) AS wv FROM wall GROUP BY j, v),
         |wt AS MATERIALIZED (
         |  SELECT j, CAST(SUM(wv) AS BIGINT) AS wtot FROM gv GROUP BY j),
         |qps AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS p),
         |tg AS (SELECT j, p,
         |    GREATEST(1, CAST(ceil(p * CAST(wtot AS DOUBLE)) AS BIGINT)) AS tgt
         |  FROM wt CROSS JOIN qps),
         |cm AS (SELECT j, v,
         |  SUM(wv) OVER (PARTITION BY j ORDER BY v) AS cum FROM gv),
         |qp AS MATERIALIZED (SELECT t.j, t.p, MIN(c.v) AS q
         |  FROM tg t JOIN cm c ON c.j = t.j AND c.cum >= t.tgt
         |  GROUP BY t.j, t.p),
         |pt AS (SELECT p, q FROM qp WHERE j = 0),
         |n0 AS (SELECT wtot AS n FROM wt WHERE j = 0),
         |eff AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_eff FROM wt WHERE j >= 1),
         |rk AS (SELECT p, b_eff,
         |  GREATEST(1, CAST(ceil((CAST(0.05 AS DOUBLE) / 2) * b_eff) AS BIGINT))
         |    AS rlo,
         |  CAST(ceil((1.0 - CAST(0.05 AS DOUBLE) / 2) * b_eff) AS BIGINT) AS rhi
         |  FROM pt CROSS JOIN eff),
         |rs AS (SELECT p, q,
         |  ROW_NUMBER() OVER (PARTITION BY p ORDER BY q) AS rn
         |  FROM qp WHERE j >= 1)
         |SELECT r.p, r.b_eff, n0.n, ROUND(pt.q, 6) AS q,
         |  ROUND(lo.q, 6) AS ci_lo, ROUND(hi.q, 6) AS ci_hi
         |FROM rk r
         |JOIN pt ON pt.p = r.p
         |JOIN rs lo ON lo.p = r.p AND lo.rn = r.rlo
         |JOIN rs hi ON hi.p = r.p AND hi.rn = r.rhi
         |CROSS JOIN n0
         |ORDER BY r.p""".stripMargin
    },
    "x_bootstrap_diff" -> {
      import graft.queries.HashReplay
      val gamma = HashReplay.SplitmixGamma
      val mask = HashReplay.Mask
      val caseSum = graft.functions.BootstrapWeights.Cdf
        .map(t => s"(CASE WHEN u >= CAST($t AS DOUBLE) THEN 1 ELSE 0 END)")
        .mkString("\n|      + ")
      s"""WITH src AS MATERIALIZED (
         |  SELECT CAST(o_orderkey AS HUGEINT) AS key,
         |    CAST(o_totalprice AS DECIMAL(18,6)) AS v,
         |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia
         |  FROM orders
         |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL AND isfinite(o_totalprice)),
         |js AS (SELECT unnest(range(1, 201)) AS j),
         |sz AS (SELECT j, (CAST(j AS HUGEINT) + $gamma) & $mask AS z FROM js),
         |${HashReplay.mixCtesSql("seed", "sz", "j")},
         |pz AS (SELECT s.key, s.v, s.ia, d.j,
         |         (xor(s.key, d.z) + $gamma) & $mask AS z
         |       FROM src s CROSS JOIN seed d),
         |${HashReplay.mixCtesSql("vals", "pz", "key, v, ia, j")},
         |uu AS MATERIALIZED (SELECT v, ia, j,
         |  CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 AS u FROM vals),
         |w AS (SELECT v, ia, j, $caseSum AS w FROM uu),
         |wall AS (SELECT v, ia, j, w FROM w
         |  UNION ALL SELECT v, ia, 0 AS j, 1 AS w FROM src),
         |sums AS MATERIALIZED (
         |  SELECT j, ia, SUM(v * w) AS s, CAST(SUM(w) AS BIGINT) AS n
         |  FROM wall GROUP BY j, ia),
         |pv AS (SELECT a.j, a.n AS na, bb.n AS nb,
         |    CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
         |      - CAST(bb.s AS DOUBLE) / CAST(bb.n AS DOUBLE) AS d
         |  FROM sums a JOIN sums bb ON a.j = bb.j AND a.ia = 1 AND bb.ia = 0
         |  WHERE a.n > 0 AND bb.n > 0),
         |fullr AS (SELECT d AS diff, na, nb FROM pv WHERE j = 0),
         |ds AS (SELECT d FROM pv WHERE j >= 1),
         |eff AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_eff FROM ds),
         |ord AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM ds)
         |SELECT e.b_eff, f.na AS n_a, f.nb AS n_b, ROUND(f.diff, 6) AS diff,
         |  ROUND((SELECT d FROM ord WHERE rn = GREATEST(1,
         |    CAST(ceil((CAST(0.05 AS DOUBLE) / 2) * e.b_eff) AS BIGINT))), 6)
         |    AS ci_lo,
         |  ROUND((SELECT d FROM ord WHERE rn =
         |    CAST(ceil((1.0 - CAST(0.05 AS DOUBLE) / 2) * e.b_eff) AS BIGINT)), 6)
         |    AS ci_hi
         |FROM eff e CROSS JOIN fullr f""".stripMargin
    },
    "x_cuped" ->
      // the welch_t pattern extended to (Y, X) cross moments: identical
      // exact-decimal conditional totals, identical ratio shapes, so
      // theta/rho2/diffs/t match to the last ulp; round(6) pins them.
      // DECIMAL(19,6) (not 18) forces DuckDB's int128 lane — the
      // int64-backed 18-width overflows squaring ~1e5-scale prices;
      // the VALUES are identical either way (both widths exact)
      """WITH pts AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(19,6)) AS y,
        |    CAST(l_quantity AS DECIMAL(19,6)) AS x,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND isfinite(l_extendedprice) AND isfinite(l_quantity)),
        |m AS (
        |  SELECT CAST(SUM(ia) AS BIGINT) AS na,
        |    SUM(CASE WHEN ia = 1 THEN y END) AS sya,
        |    SUM(CASE WHEN ia = 1 THEN x END) AS sxa,
        |    SUM(CASE WHEN ia = 1 THEN y * y END) AS qya,
        |    SUM(CASE WHEN ia = 1 THEN x * x END) AS qxa,
        |    SUM(CASE WHEN ia = 1 THEN x * y END) AS pa,
        |    CAST(SUM(1 - ia) AS BIGINT) AS nb,
        |    SUM(CASE WHEN ia = 0 THEN y END) AS syb,
        |    SUM(CASE WHEN ia = 0 THEN x END) AS sxb,
        |    SUM(CASE WHEN ia = 0 THEN y * y END) AS qyb,
        |    SUM(CASE WHEN ia = 0 THEN x * x END) AS qxb,
        |    SUM(CASE WHEN ia = 0 THEN x * y END) AS pb
        |  FROM pts),
        |pool AS (
        |  SELECT na, nb, sya, sxa, qya, qxa, pa, syb, sxb, qyb, qxb, pb,
        |    CAST(na + nb AS DOUBLE) AS nd,
        |    CAST(na + nb - 1 AS DOUBLE) AS nm1,
        |    CAST(sya + syb AS DOUBLE) AS sy, CAST(sxa + sxb AS DOUBLE) AS sx,
        |    CAST(qya + qyb AS DOUBLE) AS qy, CAST(qxa + qxb AS DOUBLE) AS qx,
        |    CAST(pa + pb AS DOUBLE) AS pxy
        |  FROM m),
        |alg AS (
        |  SELECT na, nb,
        |    (pxy - sx * sy / nd) / nm1 AS covp,
        |    (qx - sx * sx / nd) / nm1 AS varxp,
        |    (qy - sy * sy / nd) / nm1 AS varyp,
        |    CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS mya,
        |    CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) AS myb,
        |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS mxa,
        |    CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mxb,
        |    (CAST(pa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sya AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS cova,
        |    (CAST(qxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS vxa,
        |    (CAST(qya AS DOUBLE) - CAST(sya AS DOUBLE) * CAST(sya AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS vya,
        |    (CAST(pb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(syb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS covb,
        |    (CAST(qxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vxb,
        |    (CAST(qyb AS DOUBLE) - CAST(syb AS DOUBLE) * CAST(syb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vyb
        |  FROM pool),
        |th AS (
        |  SELECT na, nb, mya, myb, mxa, mxb, cova, vxa, vya, covb, vxb, vyb,
        |    covp / varxp AS theta,
        |    covp / varxp * covp / varyp AS rho2
        |  FROM alg),
        |fin AS (
        |  SELECT na, nb, theta, rho2,
        |    mya - myb AS diff_raw,
        |    (mya - myb) - theta * (mxa - mxb) AS diff_adj,
        |    vya - 2 * theta * cova + theta * theta * vxa AS va,
        |    vyb - 2 * theta * covb + theta * theta * vxb AS vb
        |  FROM th)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(theta, 6) AS theta, ROUND(rho2, 6) AS rho2,
        |  ROUND(diff_raw, 6) AS diff_raw, ROUND(diff_adj, 6) AS diff_adj,
        |  ROUND(diff_adj / sqrt(va / CAST(na AS DOUBLE)
        |    + vb / CAST(nb AS DOUBLE)), 6) AS t_adj
        |FROM fin""".stripMargin,
    "x_cuped_multi" ->
      // the x_cuped oracle extended to the (x1, x2) covariate vector:
      // identical DECIMAL(19,6) cross-moment totals, then the engine's
      // fixed-order unpivoted Gaussian elimination replayed TERM-FOR-
      // TERM (m21 = v12/v11, th2 = (c2 - m21*c1)/(v22 - m21*v12),
      // th1 = (c1 - v12*th2)/v11 — the exact double chain the driver
      // solve runs); every sum below is left-associated in the
      // engine's accumulation order
      """WITH pts AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(19,6)) AS y,
        |    CAST(l_quantity AS DECIMAL(19,6)) AS x1,
        |    CAST(l_discount AS DECIMAL(19,6)) AS x2,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_discount IS NOT NULL AND isfinite(l_extendedprice) AND isfinite(l_quantity) AND isfinite(l_discount)),
        |m AS (
        |  SELECT CAST(SUM(ia) AS BIGINT) AS na,
        |    SUM(CASE WHEN ia = 1 THEN y END) AS sya,
        |    SUM(CASE WHEN ia = 1 THEN x1 END) AS sx1a,
        |    SUM(CASE WHEN ia = 1 THEN x2 END) AS sx2a,
        |    SUM(CASE WHEN ia = 1 THEN y * y END) AS qya,
        |    SUM(CASE WHEN ia = 1 THEN x1 * x1 END) AS q11a,
        |    SUM(CASE WHEN ia = 1 THEN x1 * x2 END) AS q12a,
        |    SUM(CASE WHEN ia = 1 THEN x2 * x2 END) AS q22a,
        |    SUM(CASE WHEN ia = 1 THEN x1 * y END) AS p1a,
        |    SUM(CASE WHEN ia = 1 THEN x2 * y END) AS p2a,
        |    CAST(SUM(1 - ia) AS BIGINT) AS nb,
        |    SUM(CASE WHEN ia = 0 THEN y END) AS syb,
        |    SUM(CASE WHEN ia = 0 THEN x1 END) AS sx1b,
        |    SUM(CASE WHEN ia = 0 THEN x2 END) AS sx2b,
        |    SUM(CASE WHEN ia = 0 THEN y * y END) AS qyb,
        |    SUM(CASE WHEN ia = 0 THEN x1 * x1 END) AS q11b,
        |    SUM(CASE WHEN ia = 0 THEN x1 * x2 END) AS q12b,
        |    SUM(CASE WHEN ia = 0 THEN x2 * x2 END) AS q22b,
        |    SUM(CASE WHEN ia = 0 THEN x1 * y END) AS p1b,
        |    SUM(CASE WHEN ia = 0 THEN x2 * y END) AS p2b
        |  FROM pts),
        |pool AS (
        |  SELECT na, nb, sya, syb, sx1a, sx1b, sx2a, sx2b, qya, qyb,
        |    q11a, q11b, q12a, q12b, q22a, q22b, p1a, p1b, p2a, p2b,
        |    CAST(na + nb AS DOUBLE) AS nd,
        |    CAST(na + nb - 1 AS DOUBLE) AS nm1,
        |    CAST(sya + syb AS DOUBLE) AS sy,
        |    CAST(sx1a + sx1b AS DOUBLE) AS sx1,
        |    CAST(sx2a + sx2b AS DOUBLE) AS sx2,
        |    CAST(qya + qyb AS DOUBLE) AS qy,
        |    CAST(q11a + q11b AS DOUBLE) AS q11,
        |    CAST(q12a + q12b AS DOUBLE) AS q12,
        |    CAST(q22a + q22b AS DOUBLE) AS q22,
        |    CAST(p1a + p1b AS DOUBLE) AS p1,
        |    CAST(p2a + p2b AS DOUBLE) AS p2
        |  FROM m),
        |alg AS (
        |  SELECT na, nb, sya, syb, sx1a, sx1b, sx2a, sx2b, qya, qyb,
        |    q11a, q11b, q12a, q12b, q22a, q22b, p1a, p1b, p2a, p2b,
        |    (qy - sy * sy / nd) / nm1 AS varyp,
        |    (p1 - sx1 * sy / nd) / nm1 AS c1,
        |    (p2 - sx2 * sy / nd) / nm1 AS c2,
        |    (q11 - sx1 * sx1 / nd) / nm1 AS v11,
        |    (q12 - sx1 * sx2 / nd) / nm1 AS v12,
        |    (q22 - sx2 * sx2 / nd) / nm1 AS v22
        |  FROM pool),
        |el AS (SELECT *, v12 / v11 AS m21 FROM alg),
        |t2 AS (SELECT *, (c2 - m21 * c1) / (v22 - m21 * v12) AS th2 FROM el),
        |t1 AS (SELECT *, (c1 - v12 * th2) / v11 AS th1 FROM t2),
        |sam AS (
        |  SELECT *,
        |    CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS mya,
        |    CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) AS myb,
        |    CAST(sx1a AS DOUBLE) / CAST(na AS DOUBLE) AS mx1a,
        |    CAST(sx1b AS DOUBLE) / CAST(nb AS DOUBLE) AS mx1b,
        |    CAST(sx2a AS DOUBLE) / CAST(na AS DOUBLE) AS mx2a,
        |    CAST(sx2b AS DOUBLE) / CAST(nb AS DOUBLE) AS mx2b,
        |    (CAST(p1a AS DOUBLE) - CAST(sx1a AS DOUBLE) * CAST(sya AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS c1a,
        |    (CAST(p2a AS DOUBLE) - CAST(sx2a AS DOUBLE) * CAST(sya AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS c2a,
        |    (CAST(q11a AS DOUBLE) - CAST(sx1a AS DOUBLE) * CAST(sx1a AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS v11a,
        |    (CAST(q12a AS DOUBLE) - CAST(sx1a AS DOUBLE) * CAST(sx2a AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS v12a,
        |    (CAST(q22a AS DOUBLE) - CAST(sx2a AS DOUBLE) * CAST(sx2a AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS v22a,
        |    (CAST(qya AS DOUBLE) - CAST(sya AS DOUBLE) * CAST(sya AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS vya,
        |    (CAST(p1b AS DOUBLE) - CAST(sx1b AS DOUBLE) * CAST(syb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS c1b,
        |    (CAST(p2b AS DOUBLE) - CAST(sx2b AS DOUBLE) * CAST(syb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS c2b,
        |    (CAST(q11b AS DOUBLE) - CAST(sx1b AS DOUBLE) * CAST(sx1b AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS v11b,
        |    (CAST(q12b AS DOUBLE) - CAST(sx1b AS DOUBLE) * CAST(sx2b AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS v12b,
        |    (CAST(q22b AS DOUBLE) - CAST(sx2b AS DOUBLE) * CAST(sx2b AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS v22b,
        |    (CAST(qyb AS DOUBLE) - CAST(syb AS DOUBLE) * CAST(syb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vyb
        |  FROM t1),
        |fin AS (
        |  SELECT na, nb, th1, th2,
        |    (th1 * c1 + th2 * c2) / varyp AS rho2,
        |    mya - myb AS diff_raw,
        |    (mya - myb) - (th1 * (mx1a - mx1b) + th2 * (mx2a - mx2b))
        |      AS diff_adj,
        |    vya - 2 * (th1 * c1a + th2 * c2a)
        |      + (th1 * th1 * v11a + th1 * th2 * v12a + th2 * th1 * v12a
        |         + th2 * th2 * v22a) AS va,
        |    vyb - 2 * (th1 * c1b + th2 * c2b)
        |      + (th1 * th1 * v11b + th1 * th2 * v12b + th2 * th1 * v12b
        |         + th2 * th2 * v22b) AS vb
        |  FROM sam)
        |SELECT * FROM (
        |  SELECT 'l_quantity' AS covariate, ROUND(th1, 6) AS theta,
        |    na AS n_a, nb AS n_b, ROUND(rho2, 6) AS rho2,
        |    ROUND(diff_raw, 6) AS diff_raw, ROUND(diff_adj, 6) AS diff_adj,
        |    ROUND(diff_adj / sqrt(va / CAST(na AS DOUBLE)
        |      + vb / CAST(nb AS DOUBLE)), 6) AS t_adj
        |  FROM fin
        |  UNION ALL
        |  SELECT 'l_discount', ROUND(th2, 6), na, nb, ROUND(rho2, 6),
        |    ROUND(diff_raw, 6), ROUND(diff_adj, 6),
        |    ROUND(diff_adj / sqrt(va / CAST(na AS DOUBLE)
        |      + vb / CAST(nb AS DOUBLE)), 6)
        |  FROM fin
        |) t ORDER BY covariate""".stripMargin,
    "x_bootstrap_quantile_diff" -> {
      import graft.queries.HashReplay
      val gamma = HashReplay.SplitmixGamma
      val mask = HashReplay.Mask
      val caseSum = graft.functions.BootstrapWeights.Cdf
        .map(t => s"(CASE WHEN u >= CAST($t AS DOUBLE) THEN 1 ELSE 0 END)")
        .mkString("\n|      + ")
      // the x_bootstrap_quantiles replay with the sample indicator
      // carried through every CTE: per (resample, arm) cumulative-
      // weight quantile probes, arm difference per resample, then the
      // x_bootstrap_diff rank-pick chain per p
      s"""WITH src AS MATERIALIZED (
         |  SELECT CAST(o_orderkey AS HUGEINT) AS key,
         |    CAST(o_totalprice AS DOUBLE) AS v,
         |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia
         |  FROM orders
         |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
         |    AND o_orderdate IS NOT NULL AND year(o_orderdate) = 1995 AND isfinite(o_totalprice)),
         |js AS (SELECT unnest(range(1, 201)) AS j),
         |sz AS (SELECT j, (CAST(j AS HUGEINT) + $gamma) & $mask AS z FROM js),
         |${HashReplay.mixCtesSql("seed", "sz", "j")},
         |pz AS (SELECT s.key, s.v, s.ia, d.j,
         |         (xor(s.key, d.z) + $gamma) & $mask AS z
         |       FROM src s CROSS JOIN seed d),
         |${HashReplay.mixCtesSql("vals", "pz", "key, v, ia, j")},
         |uu AS MATERIALIZED (SELECT v, ia, j,
         |  CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 AS u FROM vals),
         |w AS (SELECT v, ia, j, $caseSum AS w FROM uu),
         |wall AS (SELECT v, ia, j, w FROM w WHERE w > 0
         |  UNION ALL SELECT v, ia, 0 AS j, 1 AS w FROM src),
         |gv AS MATERIALIZED (
         |  SELECT j, ia, v, SUM(w) AS wv FROM wall GROUP BY j, ia, v),
         |wt AS MATERIALIZED (
         |  SELECT j, ia, CAST(SUM(wv) AS BIGINT) AS wtot FROM gv
         |  GROUP BY j, ia),
         |qps AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS p),
         |tg AS (SELECT j, ia, p,
         |    GREATEST(1, CAST(ceil(p * CAST(wtot AS DOUBLE)) AS BIGINT)) AS tgt
         |  FROM wt CROSS JOIN qps),
         |cm AS (SELECT j, ia, v,
         |  SUM(wv) OVER (PARTITION BY j, ia ORDER BY v) AS cum FROM gv),
         |qp AS MATERIALIZED (SELECT t.j, t.ia, t.p, MIN(c.v) AS q
         |  FROM tg t JOIN cm c ON c.j = t.j AND c.ia = t.ia
         |    AND c.cum >= t.tgt
         |  GROUP BY t.j, t.ia, t.p),
         |dq AS (SELECT a.j, a.p, a.q - b.q AS d
         |  FROM qp a JOIN qp b ON a.j = b.j AND a.p = b.p
         |    AND a.ia = 1 AND b.ia = 0),
         |pt AS (SELECT p, d FROM dq WHERE j = 0),
         |ns AS (SELECT
         |    (SELECT wtot FROM wt WHERE j = 0 AND ia = 1) AS n_a,
         |    (SELECT wtot FROM wt WHERE j = 0 AND ia = 0) AS n_b),
         |eff AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS b_eff
         |  FROM dq WHERE j >= 1 GROUP BY p),
         |rk AS (SELECT p, b_eff,
         |  GREATEST(1, CAST(ceil((CAST(0.05 AS DOUBLE) / 2) * b_eff) AS BIGINT))
         |    AS rlo,
         |  CAST(ceil((1.0 - CAST(0.05 AS DOUBLE) / 2) * b_eff) AS BIGINT) AS rhi
         |  FROM eff),
         |rs AS (SELECT p, d,
         |  ROW_NUMBER() OVER (PARTITION BY p ORDER BY d) AS rn
         |  FROM dq WHERE j >= 1)
         |SELECT r.p, r.b_eff, ns.n_a, ns.n_b, ROUND(pt.d, 6) AS diff,
         |  ROUND(lo.d, 6) AS ci_lo, ROUND(hi.d, 6) AS ci_hi
         |FROM rk r
         |JOIN pt ON pt.p = r.p
         |JOIN rs lo ON lo.p = r.p AND lo.rn = r.rlo
         |JOIN rs hi ON hi.p = r.p AND hi.rn = r.rhi
         |CROSS JOIN ns
         |ORDER BY r.p""".stripMargin
    },
    "x_quantile_segments" -> {
      import graft.queries.HashReplay
      val gamma = HashReplay.SplitmixGamma
      val mask = HashReplay.Mask
      val caseSum = graft.functions.BootstrapWeights.Cdf
        .map(t => s"(CASE WHEN u >= CAST($t AS DOUBLE) THEN 1 ELSE 0 END)")
        .mkString("\n|      + ")
      // the x_bootstrap_quantile_diff replay with the SEGMENT carried
      // through every CTE (weights still derive from the key alone, so
      // each segment's rows draw the identical Poisson vectors), plus
      // the sign-p and the per-level BH step-up across segments
      // (ROW_NUMBER ranks — the x_welch_segments convention)
      s"""WITH src AS MATERIALIZED (
         |  SELECT o_orderstatus AS g, CAST(o_orderkey AS HUGEINT) AS key,
         |    CAST(o_totalprice AS DOUBLE) AS v,
         |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia
         |  FROM orders
         |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
         |    AND o_orderstatus IS NOT NULL
         |    AND o_orderdate IS NOT NULL AND year(o_orderdate) = 1995
         |    AND isfinite(o_totalprice)),
         |js AS (SELECT unnest(range(1, 201)) AS j),
         |sz AS (SELECT j, (CAST(j AS HUGEINT) + $gamma) & $mask AS z FROM js),
         |${HashReplay.mixCtesSql("seed", "sz", "j")},
         |pz AS (SELECT s.g, s.key, s.v, s.ia, d.j,
         |         (xor(s.key, d.z) + $gamma) & $mask AS z
         |       FROM src s CROSS JOIN seed d),
         |${HashReplay.mixCtesSql("vals", "pz", "g, key, v, ia, j")},
         |uu AS MATERIALIZED (SELECT g, v, ia, j,
         |  CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 AS u FROM vals),
         |w AS (SELECT g, v, ia, j, $caseSum AS w FROM uu),
         |wall AS (SELECT g, v, ia, j, w FROM w WHERE w > 0
         |  UNION ALL SELECT g, v, ia, 0 AS j, 1 AS w FROM src),
         |gv AS MATERIALIZED (
         |  SELECT g, j, ia, v, SUM(w) AS wv FROM wall GROUP BY g, j, ia, v),
         |wt AS MATERIALIZED (
         |  SELECT g, j, ia, CAST(SUM(wv) AS BIGINT) AS wtot FROM gv
         |  GROUP BY g, j, ia),
         |qps AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS p),
         |tg AS (SELECT g, j, ia, p,
         |    GREATEST(1, CAST(ceil(p * CAST(wtot AS DOUBLE)) AS BIGINT)) AS tgt
         |  FROM wt CROSS JOIN qps),
         |cm AS (SELECT g, j, ia, v,
         |  SUM(wv) OVER (PARTITION BY g, j, ia ORDER BY v) AS cum FROM gv),
         |qp AS MATERIALIZED (SELECT t.g, t.j, t.ia, t.p, MIN(c.v) AS q
         |  FROM tg t JOIN cm c ON c.g = t.g AND c.j = t.j AND c.ia = t.ia
         |    AND c.cum >= t.tgt
         |  GROUP BY t.g, t.j, t.ia, t.p),
         |dq AS MATERIALIZED (SELECT a.g, a.j, a.p, a.q - b.q AS d
         |  FROM qp a JOIN qp b ON a.g = b.g AND a.j = b.j AND a.p = b.p
         |    AND a.ia = 1 AND b.ia = 0),
         |pt AS (SELECT g, p, d FROM dq WHERE j = 0),
         |ns AS (SELECT g,
         |    MAX(CASE WHEN ia = 1 THEN wtot END) AS n_a,
         |    MAX(CASE WHEN ia = 0 THEN wtot END) AS n_b
         |  FROM wt WHERE j = 0 GROUP BY g),
         |eff AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS b_eff,
         |    CAST(SUM(CASE WHEN d <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nle,
         |    CAST(SUM(CASE WHEN d >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nge
         |  FROM dq WHERE j >= 1 GROUP BY g, p),
         |rk AS (SELECT g, p, b_eff, nle, nge,
         |  GREATEST(1, CAST(ceil((CAST(0.05 AS DOUBLE) / 2) * b_eff) AS BIGINT))
         |    AS rlo,
         |  CAST(ceil((1.0 - CAST(0.05 AS DOUBLE) / 2) * b_eff) AS BIGINT) AS rhi,
         |  LEAST(CAST(1 AS DOUBLE),
         |    2.0 * CAST(LEAST(nle, nge) AS DOUBLE) / CAST(b_eff AS DOUBLE))
         |    AS pb
         |  FROM eff),
         |rs AS (SELECT g, p, d,
         |  ROW_NUMBER() OVER (PARTITION BY g, p ORDER BY d) AS rn
         |  FROM dq WHERE j >= 1),
         |bh AS (SELECT g, p, b_eff, rlo, rhi, pb,
         |  ROW_NUMBER() OVER (PARTITION BY p ORDER BY pb, g) AS rn,
         |  CAST(COUNT(*) OVER (PARTITION BY p) AS DOUBLE) AS mm
         |  FROM rk),
         |thr AS (SELECT p, MAX(CASE WHEN pb <= 0.05 * CAST(rn AS DOUBLE) / mm
         |  THEN pb END) AS thr FROM bh GROUP BY p)
         |SELECT b.g AS grp, b.p AS p, b.b_eff, ns.n_a, ns.n_b,
         |  ROUND(pt.d, 6) AS diff,
         |  ROUND(lo.d, 6) AS ci_lo, ROUND(hi.d, 6) AS ci_hi,
         |  ROUND(b.pb, 6) AS p_boot,
         |  CAST(COALESCE(b.pb <= thr.thr, FALSE) AS BIGINT) AS significant
         |FROM bh b
         |JOIN pt ON pt.g = b.g AND pt.p = b.p
         |JOIN ns ON ns.g = b.g
         |JOIN rs lo ON lo.g = b.g AND lo.p = b.p AND lo.rn = b.rlo
         |JOIN rs hi ON hi.g = b.g AND hi.p = b.p AND hi.rn = b.rhi
         |LEFT JOIN thr ON thr.p = b.p
         |ORDER BY b.g, b.p""".stripMargin
    },
    "x_sketch_interp" ->
      // quantile_cont over the range(w) expansion — DuckDB's own lerp
      // as the independent implementation of the interpolated sketch
      // read (constant p per branch, the x_weighted_quantiles pattern)
      """WITH vals AS (
        |  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v,
        |    CAST(o_orderkey % 7 + 1 AS BIGINT) AS w
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
        |ex AS (SELECT g, v FROM vals, unnest(range(w)))
        |SELECT * FROM (
        |  SELECT g AS o_orderpriority, CAST(0.5 AS DOUBLE) AS p,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    ROUND(quantile_cont(v, 0.5), 6) AS value FROM ex GROUP BY g
        |  UNION ALL
        |  SELECT g, CAST(0.9 AS DOUBLE), CAST(COUNT(*) AS BIGINT),
        |    ROUND(quantile_cont(v, 0.9), 6) FROM ex GROUP BY g
        |) t ORDER BY o_orderpriority, p""".stripMargin,
    "x_weighted_quantiles" ->
      // the expanded-multiset definition, with DuckDB's own
      // quantile_cont as the independent implementation (constant p
      // per branch, the x_interp_quantiles convention); range(w)
      // repeats each row weight times
      """WITH ex AS (
        |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem, unnest(range(CAST(l_quantity AS BIGINT)))
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL)
        |SELECT * FROM (
        |  SELECT g AS l_returnflag, CAST(0.5 AS DOUBLE) AS p,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    ROUND(quantile_cont(v, 0.5), 6) AS value FROM ex GROUP BY g
        |  UNION ALL
        |  SELECT g, CAST(0.9 AS DOUBLE), CAST(COUNT(*) AS BIGINT),
        |    ROUND(quantile_cont(v, 0.9), 6) FROM ex GROUP BY g
        |) t ORDER BY l_returnflag, p""".stripMargin,
    // x_mannwhitney's midrank CTEs with purchase as sample A, then
    // AUC = U_A/(n_a·n_b) in the same ratio shape
    "x_auc" ->
      """WITH pts AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |    AND value IS NOT NULL),
        |g AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS gna,
        |             CAST(SUM(1 - ia) AS BIGINT) AS gnb FROM pts GROUP BY 1),
        |cum AS (SELECT v, gna, gnb,
        |  SUM(gna) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
        |  SUM(gnb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb FROM g),
        |r AS (SELECT gna, gnb, ca, cb,
        |  CAST(ca + cb AS DOUBLE) - CAST(gna + gnb - 1 AS DOUBLE) / 2.0 AS midrank
        |  FROM cum),
        |s AS (SELECT CAST(MAX(ca) AS BIGINT) AS n_a,
        |             CAST(MAX(cb) AS BIGINT) AS n_b,
        |             SUM(midrank * gna) AS r_a FROM r)
        |SELECT n_a AS n_pos, n_b AS n_neg,
        |  ROUND((r_a - CAST(n_a AS DOUBLE) * CAST(n_a + 1 AS DOUBLE) / 2.0)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS auc
        |FROM s""".stripMargin,
    // x_psi's closed-form equal-width bin rule, exact decimal score
    // sums and integer positive counts, the same two final divisions
    "x_calibration" ->
      """WITH pts AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |    AND value IS NOT NULL),
        |bd AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM pts),
        |b AS (
        |  SELECT CAST(CASE WHEN bd.mx = bd.mn THEN 0
        |    ELSE LEAST(FLOOR((v - bd.mn) / ((bd.mx - bd.mn) / 10)), 9)
        |    END AS INT) AS bin, v, pos
        |  FROM pts CROSS JOIN bd)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_score,
        |  ROUND(CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS pos_rate
        |FROM b GROUP BY 1 ORDER BY bin""".stripMargin,
    "x_welch_t" ->
      // the same exact-decimal conditional moments, then the Welch
      // algebra in the same ratio shapes — identical doubles from
      // identical decimal totals; round(6/4) pins the last ulp
      """WITH pts AS (
        |  SELECT CAST(value AS DECIMAL(18,6)) AS v,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |    AND value IS NOT NULL AND isfinite(value)),
        |m AS (
        |  SELECT CAST(SUM(ia) AS BIGINT) AS na,
        |    SUM(CASE WHEN ia = 1 THEN v END) AS sa,
        |    SUM(CASE WHEN ia = 1 THEN v * v END) AS qa,
        |    CAST(SUM(1 - ia) AS BIGINT) AS nb,
        |    SUM(CASE WHEN ia = 0 THEN v END) AS sb,
        |    SUM(CASE WHEN ia = 0 THEN v * v END) AS qb
        |  FROM pts),
        |alg AS (
        |  SELECT na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
        |    (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
        |  FROM m),
        |se AS (SELECT na, nb, ma, mb, va, vb,
        |  va / CAST(na AS DOUBLE) AS sea, vb / CAST(nb AS DOUBLE) AS seb
        |  FROM alg)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
        |  ROUND((ma - mb) / sqrt(sea + seb), 6) AS t,
        |  ROUND((sea + seb) * (sea + seb) /
        |    (sea * sea / CAST(na - 1 AS DOUBLE)
        |      + seb * seb / CAST(nb - 1 AS DOUBLE)), 4) AS df,
        |  ROUND((ma - mb) / sqrt((CAST(na - 1 AS DOUBLE) * va
        |      + CAST(nb - 1 AS DOUBLE) * vb)
        |    / CAST(na + nb - 2 AS DOUBLE)), 6) AS cohen_d
        |FROM se""".stripMargin,
    "x_bh_fdr" ->
      // independent implementation: ROW_NUMBER ranks (a tie block's
      // largest index wins MAX(p), matching the engine's cumulative-
      // count form), the step-up filter, rejected = count <= threshold
      """WITH us AS (
        |  SELECT CAST(n_chars % 997 AS DOUBLE) / 996.0 AS u
        |  FROM documents WHERE n_chars IS NOT NULL),
        |vals AS (SELECT u * u * u AS p FROM us),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM vals),
        |ord AS (SELECT p, ROW_NUMBER() OVER (ORDER BY p) AS rn FROM vals),
        |sel AS (SELECT MAX(p) AS thr FROM ord, mm
        |  WHERE p <= 0.05 * CAST(rn AS DOUBLE) / CAST(m AS DOUBLE))
        |SELECT mm.m AS m, CAST(0.05 AS DOUBLE) AS q, sel.thr AS threshold,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM vals, sel
        |     WHERE p <= sel.thr) AS n_rejected
        |FROM mm, sel""".stripMargin,
    "x_prop_ztest" ->
      // four exact integer counts + the same pooled-variance ratio
      // shapes — identical doubles from identical longs
      """WITH pts AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS sx,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ia
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |m AS (
        |  SELECT CAST(SUM(ia) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN ia = 1 THEN sx ELSE 0 END) AS BIGINT) AS ka,
        |    CAST(SUM(1 - ia) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN ia = 0 THEN sx ELSE 0 END) AS BIGINT) AS kb
        |  FROM pts),
        |alg AS (
        |  SELECT na, nb,
        |    CAST(ka AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
        |    CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb,
        |    CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE) AS pp
        |  FROM m)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(pa, 6) AS rate_a, ROUND(pb, 6) AS rate_b,
        |  ROUND((pa - pb) / sqrt(pp * (1 - pp)
        |    * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))), 6) AS z
        |FROM alg""".stripMargin,
    "x_anova" ->
      // the same exact-decimal group moments (DuckDB (18,6)·(18,6)
      // products are exact like Spark's), then the F algebra in the
      // same ratio shapes; the ≤|groups| double sums are the only
      // float folds and round(4/6) absorbs their ordering noise
      """WITH g AS (
        |  SELECT l_returnflag AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(18,6))) AS s,
        |    SUM(CAST(l_quantity AS DECIMAL(18,6))
        |        * CAST(l_quantity AS DECIMAL(18,6))) AS q
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
        |  GROUP BY 1),
        |t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |    SUM(s) AS ss, SUM(q) AS qq,
        |    SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS sg2
        |  FROM g)
        |SELECT k, n,
        |  ROUND(sg2 - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |    / CAST(n AS DOUBLE), 4) AS ss_between,
        |  ROUND(CAST(qq AS DOUBLE) - sg2, 4) AS ss_within,
        |  ROUND(((sg2 - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
        |    / ((CAST(qq AS DOUBLE) - sg2) / CAST(n - k AS DOUBLE)), 6) AS f
        |FROM t""".stripMargin,
    "x_spearman" ->
      // midrank replay (x_mannwhitney's CTE shape, one per column),
      // then DuckDB's own corr over the rank pairs — an independent
      // Pearson implementation; round(6) absorbs co-moment float noise
      """WITH pts AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS a,
        |         CAST(l_extendedprice AS DOUBLE) AS b
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |ga AS (SELECT a AS v, COUNT(*) AS c FROM pts GROUP BY 1),
        |ca AS (SELECT v, c,
        |  SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM ga),
        |rka AS (SELECT v,
        |  CAST(cum AS DOUBLE) - (CAST(c AS DOUBLE) - 1.0) / 2.0 AS r FROM ca),
        |gb AS (SELECT b AS v, COUNT(*) AS c FROM pts GROUP BY 1),
        |cb AS (SELECT v, c,
        |  SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM gb),
        |rkb AS (SELECT v,
        |  CAST(cum AS DOUBLE) - (CAST(c AS DOUBLE) - 1.0) / 2.0 AS r FROM cb),
        |j AS (SELECT rka.r AS ra, rkb.r AS rb
        |      FROM pts JOIN rka ON pts.a = rka.v JOIN rkb ON pts.b = rkb.v)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pts) AS n,
        |  ROUND(corr(ra, rb), 6) AS rho FROM j""".stripMargin,
    "x_cume_dist" ->
      // DuckDB's own cume_dist window — an independent implementation
      // of the same (# rows ≤ v) / n definition; both engines divide
      // exact longs as doubles, round(6) absorbs nothing real
      """SELECT o_orderkey,
        |  ROUND(cume_dist() OVER (ORDER BY CAST(o_totalprice AS DOUBLE)), 6)
        |    AS cd
        |FROM orders WHERE o_totalprice IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    "x_interp_quantiles" ->
      // DuckDB's own quantile_cont (constant p per branch — DuckDB
      // requires a constant quantile argument) vs the engine's CDF
      // read-off: an INDEPENDENT implementation of the interpolated
      // percentile, not a replay of the engine's lerp
      """WITH vals AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals)
        |SELECT 0.25 AS p, (SELECT n FROM n) AS n,
        |  ROUND(quantile_cont(v, 0.25), 6) AS value FROM vals
        |UNION ALL
        |SELECT 0.5 AS p, (SELECT n FROM n) AS n,
        |  ROUND(quantile_cont(v, 0.5), 6) AS value FROM vals
        |UNION ALL
        |SELECT 0.9 AS p, (SELECT n FROM n) AS n,
        |  ROUND(quantile_cont(v, 0.9), 6) AS value FROM vals
        |ORDER BY p""".stripMargin
  )
}
