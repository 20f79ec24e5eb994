package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{AsOfJoin, EventAnalytics}
import graft.streaming.EventStreams

/** Event-stream queries: declared Q19 (JSON extraction), Q21 (tumbling
  * window batch form), Q22 (as-of join), plus sliding-window and
  * sessionization batch equivalents of the Structured Streaming
  * operators (SURVEY §2.B X9/X10/X11/X19/X22; streaming forms live in
  * graft.streaming and are exercised by MemoryStream tests).
  */
object Events {
  private type Q = (SparkSession, String) => DataFrame
  private def ev(s: SparkSession, dir: String) = Tables.load(s, dir, "events")
  private val D = "decimal(18,2)"

  val defs: Map[String, Q] = Map(
    "q19_json" -> ((s, dir) => {
      ev(s, dir)
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
        .orderBy("event_type")
    }),

    "q21_tumbling" -> ((s, dir) => {
      // streaming-equivalent tumbling window; window() start is the
      // epoch-aligned hour bucket, identical to date_trunc('hour').
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          // decimal sum internally (exact, order-free); DOUBLE final
          // output — driver's decimal hash is rendering-sensitive.
          sum(col("value").cast(D)).cast("double").as("sv"))
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"), col("sv"))
        .orderBy("ws", "event_type")
    }),

    "x_sliding_window" -> ((s, dir) => {
      // two-level sliding window: aggregate per 15-minute BASE bucket
      // first, then expand each bucket row into the 4 one-hour windows
      // containing it and re-aggregate. Result-identical to
      // window(ts, '1 hour', '15 minutes') — an event's 4 windows start
      // at its bucket minus {0,15,30,45} min — but the 4× Expand runs
      // over |buckets| pre-aggregated rows instead of |events| raw
      // rows, shrinking the expand+shuffle input by the events-per-
      // bucket factor (the number that grows with scale). The
      // streaming form keeps the canonical single-level plan
      // (EventStreams.slidingCounts); this is the batch scale shape.
      val base = ev(s, dir)
        .groupBy(window(col("ts"), "15 minutes").getField("start").as("bs"),
          col("event_type"))
        .agg(count(lit(1)).as("c"))
      base.select(col("event_type"), col("c"),
          explode(array((0 until 4).map(i =>
            col("bs") - expr(s"INTERVAL ${15 * i} MINUTES")): _*)).as("ws"))
        .groupBy("ws", "event_type").agg(sum(col("c")).as("cnt"))
        .select(col("ws"), col("event_type"), col("cnt"))
        .orderBy("ws", "event_type")
    }),

    "x_interval_join" -> ((s, dir) => {
      // batch form of the stream-STREAM interval join (X13) through
      // the SAME builder the streaming tests exercise — withWatermark
      // is a no-op on batch frames, so the join semantics get a full
      // DuckDB value oracle here while the state-bounded streaming
      // behavior is MemoryStream-spec'd (round-2 verdict item 4).
      // Shape: view → purchase attribution within 30 minutes.
      val e = ev(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
          col("ts").as("v_ts"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("user_id").as("b_user"),
          col("ts").as("b_ts"))
      EventStreams.intervalJoin(views, buys, "v_user", "b_user", "v_ts", "b_ts",
          interval = "30 minutes")
        .select(col("view_id"), col("buy_id"),
          expr("(unix_micros(b_ts) - unix_micros(v_ts)) div 1000000").as("lag_s"))
        .orderBy("view_id", "buy_id")
    }),

    "q22_asof" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      AsOfJoin.asOf(
        left = e, leftKey = "user_id", leftTime = "ts",
        right = o, rightKey = "o_custkey", rightTime = "o_orderdate",
        payload = Seq("o_orderkey"))
        .filter(col("o_orderkey").isNotNull) // inner as-of semantics (Q22)
        .select(col("event_id"), col("o_orderkey").as("ok"))
        .orderBy("event_id")
    }),

    "x_asof_salted" -> ((s, dir) => {
      // the skew-salted as-of variant on q22's exact shape: identical
      // output (the oracle IS q22's) through (key, 30-day-bucket)
      // shuffles — the hot-user_id straggler defense at 100 TB
      val e = ev(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      AsOfJoin.asOfSalted(
        left = e, leftKey = "user_id", leftTime = "ts",
        right = o, rightKey = "o_custkey", rightTime = "o_orderdate",
        payload = Seq("o_orderkey"), bucketWidth = 30L * 86400)
        .filter(col("o_orderkey").isNotNull)
        .select(col("event_id"), col("o_orderkey").as("ok"))
        .orderBy("event_id")
    }),

    "x_sessionize" -> ((s, dir) => {
      // batch sessionization: session break when gap > 30 min; running
      // sum of breaks numbers the sessions per user.
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapped = ev(s, dir).withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("brk",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
      gapped
        .withColumn("session_id",
          sum(col("brk")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("sess_start"))
        .orderBy("user_id", "session_id")
    }),

    "x_interval_overlap" -> ((s, dir) => {
      // interval × interval overlap join (RangeJoin.intervalOverlap):
      // user sessions × each day's peak-traffic hour — tiled equi-join
      // on hour chunks, each overlapping pair kept exactly once by the
      // overlap-start tile, never a nested-loop over the pair space
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sess = ev(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("brk",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum(col("brk")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        // closed event span rendered half-open: [first, last + 1 µs)
        .agg(min(unix_micros(col("ts"))).cast("double").as("s_lo"),
          (max(unix_micros(col("ts"))) + 1L).cast("double").as("s_hi"))
      val hours = ev(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"))
      // per-day argmax hour, ties to the earliest hour (min over
      // (−cnt, hour) — no window needed)
      val peaks = hours.groupBy(col("day"))
        .agg(min(struct((lit(0L) - col("cnt")).as("nc"),
          unix_micros(col("hour")).as("hm"))).as("m"))
        .select(col("day").cast("date").as("day"),
          col("m.hm").cast("double").as("p_lo"),
          (col("m.hm") + 3600L * 1000000L).cast("double").as("p_hi"))
      graft.operators.RangeJoin.intervalOverlap(
          sess, "s_lo", "s_hi", peaks, "p_lo", "p_hi",
          tileWidth = 3600.0 * 1000000.0)
        .select(col("user_id"), col("session_id").cast("long").as("session_id"),
          col("day"))
        .orderBy("user_id", "session_id", "day")
    }),

    "x_skew_report" -> ((s, dir) =>
      // join-key skew diagnostic on the stream's natural join key —
      // the report run before choosing plain vs salted vs AQE-split
      // joins at scale (one row: count distribution over keys)
      graft.operators.ScaleJoins.keySkewReport(ev(s, dir), "user_id")),

    "x_funnel" -> ((s, dir) =>
      // ordered funnel signup→view→purchase, each step within 12 h of
      // the previous (operators/EventAnalytics.funnelReach): one
      // user-key shuffle, the chain fold is a higher-order aggregate
      // over each user's sorted step events — no per-step self-joins
      EventAnalytics.funnelReach(ev(s, dir), "user_id", "event_type", "ts",
        Seq("signup", "view", "purchase"), maxGap = Some("12 hours"))),

    "x_retention" -> ((s, dir) =>
      // day-granularity purchase retention cohorts
      // (operators/EventAnalytics.retentionCohorts): cohort = first
      // purchase day, offset = active purchase days after it
      EventAnalytics.retentionCohorts(
        ev(s, dir).filter(col("event_type") === "purchase"), "user_id", "ts")),

    "x_gap_fill" -> ((s, dir) =>
      // hourly resample + forward fill (EventAnalytics.resampleFill):
      // the 215 empty (type, hour) grid cells at sf0.01 take the last
      // observed hourly sum (LOCF); decimal-exact sum → double output
      EventAnalytics.resampleFill(ev(s, dir), "event_type", "ts",
          sum(col("value").cast(D)).cast("double"))
        .select(col("k").as("event_type"), col("h"), col("v").as("sv"), col("filled"))),

    "x_trending_batch" -> ((s, dir) => {
      // per-hour top-3 event types — the batch (fully oracled) sibling
      // of streaming/TrendingTopK: hour×type counts partial-agg, then
      // the bounded TopK heap per hour carries 3 rows per (hour,
      // partition) — never a per-hour sort of the full count table
      val counts = ev(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      counts
        .groupBy(col("h"))
        .agg(graft.functions.TopK.topK(
          struct(col("cnt"), col("event_type")), 3).as("top"))
        .select(col("h"), posexplode(col("top")))
        .select(col("h"), (col("pos") + 1).cast("int").as("rn"),
          col("col.event_type").as("event_type"), col("col.cnt").as("cnt"))
        .orderBy("h", "rn")
    }),

    "x_season" -> ((s, dir) => {
      // hour-of-day seasonality fingerprint per event type: event
      // share and mean value by hour slot — the profile a forecasting
      // or anomaly job subtracts before looking at residuals. One
      // partial-agged pass; shares divide exact counts, means divide
      // exact decimal sums
      // slotted feeds both the totals and the output join: persist so
      // the raw pass runs once (Spark has no subplan sharing), release
      // the tiny cache via the materialize-then-unpersist pattern
      val slotted = ev(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).as("hod"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,4)")).as("sv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val totals = slotted.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("tot"))
      // NO rounding on the two ratios: both engines perform the one
      // identical IEEE division on identical operands, so the raw
      // doubles are bit-identical — a fixed-decimal round would
      // REINTRODUCE divergence at exact .5 midpoints (sf0.001 hit
      // 68.92875: Spark HALF_UP on the decimal rendering vs DuckDB on
      // the binary double disagree by 1 ulp of display)
      val out = slotted.join(broadcast(totals), Seq("event_type"))
        .select(col("event_type"), col("hod"), col("cnt"),
          (col("cnt").cast("double") / col("tot")).as("share"),
          (col("sv").cast("double") / col("cnt")).as("mean_value"))
        .orderBy("event_type", "hod")
      val materialized = out.localCheckpoint(true)
      slotted.unpersist()
      materialized
    }),

    "x_autocorr" -> ((s, dir) => {
      // lag-1 autocorrelation of each type's hourly value series —
      // the "is this metric momentum or noise" diagnostic. Bucket
      // sums decimal-exact; corr is a declarative aggregate (partial
      // map-side); ROUND(4) absorbs accumulation-order ulp, the only
      // float divergence surface
      val series = ev(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(18,4)")).cast("double").as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      series.withColumn("xl", lag(col("x"), 1).over(w))
        .filter(col("xl").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          round(corr(col("x"), col("xl")), 4).as("r1"))
        .orderBy("event_type")
    }),

    "x_cusum" -> ((s, dir) =>
      // CUSUM change-point per event type over hourly value sums:
      // decimal-exact buckets, fixed-order prefix sums — the |S| peak
      // locates the most likely level shift
      EventAnalytics.cusumChangePoint(ev(s, dir), "event_type", "ts", "value")
        .select(col("k").as("event_type"), col("change_at"),
          round(col("peak_s"), 4).as("peak_s"), col("n_buckets"))
        .orderBy("event_type")),

    "x_twap" -> ((s, dir) =>
      // time-weighted average value per event type: decimal-exact
      // v·Δt sums (order-free), one key shuffle + partial agg
      EventAnalytics.timeWeightedAvg(ev(s, dir), "event_type", "ts",
          "event_id", "value")
        .select(col("event_type"), col("n_intervals"),
          round(col("twap"), 6).as("twap"))
        .orderBy("event_type")),

    "x_holt" -> ((s, dir) =>
      // Holt level+trend smoothing per user (α=0.3, β=0.2): the struct
      // fold runs in codegen over each user's sorted series; outputs
      // unrounded — both engines fold identical doubles identically
      EventAnalytics.holtSmoothing(ev(s, dir), "user_id", "ts", "event_id",
          "value", alpha = 0.3, beta = 0.2)
        .orderBy("user_id")),

    "x_ewma" -> ((s, dir) =>
      // per-user EWMA of event values (α=0.3): the fold-left
      // recurrence runs in codegen over each user's sorted series
      // (EventAnalytics.ewma) — identical fold shape replayed by
      // DuckDB's list_reduce, so the doubles match bit-for-bit
      // before the display rounding
      EventAnalytics.ewma(ev(s, dir), "user_id", "ts", "event_id",
          "value", alpha = 0.3)
        .select(col("user_id"), col("n"), round(col("ewma"), 6).as("ewma"))
        .orderBy("user_id")),

    "x_outliers" -> ((s, dir) =>
      // robust MAD outlier report (operators/Profiling.madOutliers):
      // median ± 3·1.4826·MAD per type. Cross-engine safe: the nearest
      // value sits 0.03 from the threshold (checked), 13 orders above
      // any percentile-interpolation ulp divergence
      graft.operators.Profiling.madOutliers(ev(s, dir), "event_type", "value")
        .orderBy("event_type"))
  )

  val oracle: Map[String, String] = Map(
    "q19_json" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q21_tumbling" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x_sliding_window" ->
      """SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) AS TIMESTAMP)
        |         - i * INTERVAL '15 minutes' AS ws,
        |       event_type, COUNT(*) AS cnt
        |FROM events, unnest(range(4)) AS t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x_interval_join" ->
      """SELECT v.event_id AS view_id, b.event_id AS buy_id,
        |  CAST((epoch_us(b.ts) - epoch_us(v.ts)) // 1000000 AS BIGINT) AS lag_s
        |FROM events v JOIN events b
        |  ON v.user_id = b.user_id
        | AND v.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL '30 minutes'
        |ORDER BY view_id, buy_id""".stripMargin,
    "q22_asof" ->
      """WITH m AS (
        |  SELECT e.event_id, MAX(o.o_orderdate) AS od FROM events e
        |  JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |  GROUP BY e.event_id)
        |SELECT m.event_id, MAX(o.o_orderkey) AS ok
        |FROM m JOIN events e ON e.event_id = m.event_id
        |JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate = m.od
        |GROUP BY m.event_id ORDER BY m.event_id""".stripMargin,
    // the salted variant must be bit-identical to the plain as-of —
    // the oracle is q22's verbatim
    "x_asof_salted" ->
      """WITH m AS (
        |  SELECT e.event_id, MAX(o.o_orderdate) AS od FROM events e
        |  JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |  GROUP BY e.event_id)
        |SELECT m.event_id, MAX(o.o_orderkey) AS ok
        |FROM m JOIN events e ON e.event_id = m.event_id
        |JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate = m.od
        |GROUP BY m.event_id ORDER BY m.event_id""".stripMargin,
    "x_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       COUNT(*) AS n_events, CAST(MIN(ts) AS TIMESTAMP) AS sess_start
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
    // x_sessionize's CTE for the left intervals, a ROW_NUMBER argmax
    // for the peak hours, then the DEFINING overlap predicate as a
    // plain theta join — an independent formulation of the same pairs
    // (the engine's tiled exactly-once plan must reproduce it)
    "x_interval_overlap" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |), iv AS (
        |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |    CAST(epoch_us(MIN(ts)) AS DOUBLE) AS s_lo,
        |    CAST(epoch_us(MAX(ts)) + 1 AS DOUBLE) AS s_hi
        |  FROM sess GROUP BY 1, 2
        |), h AS (
        |  SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), pk AS (
        |  SELECT day, hour FROM (
        |    SELECT day, hour,
        |      ROW_NUMBER() OVER (PARTITION BY day ORDER BY cnt DESC, hour) AS rn
        |    FROM h) t WHERE rn = 1
        |), pv AS (
        |  SELECT CAST(day AS DATE) AS day,
        |    CAST(epoch_us(hour) AS DOUBLE) AS p_lo,
        |    CAST(epoch_us(hour) + 3600000000 AS DOUBLE) AS p_hi
        |  FROM pk)
        |SELECT iv.user_id, iv.session_id, pv.day
        |FROM iv JOIN pv ON iv.s_lo < pv.p_hi AND pv.p_lo < iv.s_hi
        |ORDER BY user_id, session_id, day""".stripMargin,
    "x_skew_report" ->
      """WITH k AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1)
        |SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  ROUND(AVG(cnt), 4) AS avg_cnt,
        |  quantile_cont(cnt, 0.5) AS med_cnt,
        |  quantile_cont(cnt, 0.99) AS p99_cnt,
        |  CAST(MAX(cnt) AS BIGINT) AS max_cnt,
        |  ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS top_share,
        |  ROUND(CAST(MAX(cnt) AS DOUBLE) * COUNT(*) / SUM(cnt), 4) AS skew_ratio
        |FROM k""".stripMargin,
    // the greedy sorted fold == the per-step min chain: step i's reach
    // is the minimal step-i event at-or-after step i-1's reach and
    // inside its 12 h window, which is exactly this CTE ladder
    "x_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS ts FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id AND e.event_type = 'view'
        |         AND e.ts >= t1.ts AND e.ts <= t1.ts + INTERVAL '12 hours'
        |  GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS ts FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id AND e.event_type = 'purchase'
        |         AND e.ts >= t2.ts AND e.ts <= t2.ts + INTERVAL '12 hours'
        |  GROUP BY 1)
        |SELECT * FROM (VALUES
        |  (1, 'signup',   (SELECT CAST(COUNT(*) AS BIGINT) FROM t1)),
        |  (2, 'view',     (SELECT CAST(COUNT(*) AS BIGINT) FROM t2)),
        |  (3, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM t3)))
        |  v(step, event_type, users)
        |ORDER BY step""".stripMargin,
    "x_retention" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_type = 'purchase'),
        |fs AS (SELECT user_id, MIN(d) AS cohort FROM d GROUP BY 1)
        |SELECT cohort, CAST(datediff('day', cohort, d.d) AS INT) AS day_offset,
        |  COUNT(*) AS users
        |FROM d JOIN fs USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x_gap_fill" ->
      """WITH a AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM a),
        |grid AS (
        |  SELECT et AS event_type, CAST(t.h AS TIMESTAMP) AS h
        |  FROM (SELECT DISTINCT event_type AS et FROM events), b,
        |       unnest(generate_series(b.mn, b.mx, INTERVAL '1 hour')) AS t(h)),
        |j AS (
        |  SELECT g.event_type, g.h, a.sv, a.sv IS NULL AS filled
        |  FROM grid g LEFT JOIN a ON a.event_type = g.event_type AND a.h = g.h)
        |SELECT event_type, h,
        |  last_value(sv IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv,
        |  filled
        |FROM j ORDER BY event_type, h""".stripMargin,
    "x_trending_batch" ->
      """WITH c AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |    event_type, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT h, event_type, cnt, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY h ORDER BY cnt DESC, event_type DESC) AS INT) AS rn
        |  FROM c)
        |SELECT h, rn, event_type, cnt FROM r
        |WHERE rn <= 3 ORDER BY h, rn""".stripMargin,
    "x_season" ->
      """WITH s AS (
        |  SELECT event_type, CAST(hour(ts) AS INT) AS hod,
        |    COUNT(*) AS cnt,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS sv
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS tot FROM s GROUP BY 1)
        |SELECT s.event_type, s.hod, s.cnt,
        |  CAST(s.cnt AS DOUBLE) / t.tot AS share,
        |  CAST(s.sv AS DOUBLE) / s.cnt AS mean_value
        |FROM s JOIN t USING (event_type) ORDER BY 1, 2""".stripMargin,
    "x_autocorr" ->
      """WITH series AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, x,
        |    LAG(x) OVER (PARTITION BY event_type ORDER BY h) AS xl
        |  FROM series)
        |SELECT event_type, COUNT(*) AS n_pairs,
        |  ROUND(corr(x, xl), 4) AS r1
        |FROM l WHERE xl IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_cusum" ->
      """WITH series AS (
        |  SELECT event_type AS k, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT k,
        |        CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mean,
        |        COUNT(*) AS n_buckets
        |      FROM series GROUP BY 1),
        |c AS (
        |  SELECT s.k, s.h, m.n_buckets,
        |    SUM(s.x - m.mean) OVER (PARTITION BY s.k ORDER BY s.h
        |      ROWS UNBOUNDED PRECEDING) AS s
        |  FROM series s JOIN m USING (k)),
        |r AS (SELECT k, h, n_buckets, ABS(s) AS a,
        |        ROW_NUMBER() OVER (PARTITION BY k ORDER BY ABS(s) DESC, h) AS rn
        |      FROM c)
        |SELECT k AS event_type, h AS change_at, ROUND(a, 4) AS peak_s,
        |  CAST(n_buckets AS BIGINT) AS n_buckets
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "x_twap" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(value AS DECIMAL(18,4)) AS v,
        |    LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) - epoch_us(ts) AS dt
        |  FROM events),
        |k AS (SELECT * FROM d WHERE dt IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n_intervals,
        |  ROUND(CAST(SUM(v * CAST(dt AS DECIMAL(14,0))) AS DOUBLE)
        |    / CAST(SUM(dt) AS DOUBLE), 6) AS twap
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_holt" -> {
      // constants interpolated from the SAME Scala doubles the
      // operator uses; l' recomputed inside the b' term exactly as the
      // engine does, so every intermediate double matches
      val alpha = 0.3
      val beta = 0.2
      val (a, oa) = (alpha.toString, (1.0 - alpha).toString)
      val (b, ob) = (beta.toString, (1.0 - beta).toString)
      s"""WITH s AS (
         |  SELECT user_id,
         |    list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS seq
         |  FROM events GROUP BY 1),
         |f AS (
         |  SELECT user_id, CAST(len(seq) AS INT) AS n,
         |    -- LIST state, not a struct: DuckDB struct-literal lambdas
         |    -- rebind acc fields sequentially (acc.l is already the NEW
         |    -- level when 'b' evaluates) — lists evaluate both elements
         |    -- from the original accumulator
         |    list_reduce(list_transform(seq, v -> [v, 0.0e0]),
         |      (acc, x) -> [$a * x[1] + $oa * (acc[1] + acc[2]),
         |                   $b * ($a * (x[1] - acc[1]) + $oa * acc[2])
         |                   + $ob * acc[2]]) AS st
         |  FROM s)
         |SELECT user_id, n, st[1] AS level, st[2] AS trend,
         |  st[1] + st[2] AS forecast
         |FROM f ORDER BY user_id""".stripMargin
    },
    "x_ewma" -> {
      // α and 1−α interpolated from the SAME Scala doubles the
      // operator uses (toString/parse round-trips exactly)
      val alpha = 0.3
      s"""WITH s AS (
         |  SELECT user_id,
         |    list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS seq
         |  FROM events GROUP BY 1)
         |SELECT user_id, CAST(len(seq) AS INT) AS n,
         |  ROUND(list_reduce(seq,
         |    (acc, x) -> $alpha * x + ${1.0 - alpha} * acc), 6) AS ewma
         |FROM s ORDER BY user_id""".stripMargin
    },
    "x_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS m
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, e.value, med.m, abs(e.value - med.m) AS adev
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS md FROM dev GROUP BY 1)
        |SELECT d.event_type,
        |  ROUND(ANY_VALUE(d.m), 4) AS med, ROUND(ANY_VALUE(mad.md), 4) AS mad,
        |  CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * mad.md THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  COUNT(*) AS n,
        |  ROUND(CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * mad.md THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 4) AS outlier_rate
        |FROM dev d JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
