package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join strategies for the 100 TB cases Catalyst's defaults don't
  * cover (SURVEY §2.A J1/J2 scale notes, §4 partitioning row):
  * bucketed co-located joins (no shuffle at read time) and salted
  * joins for pathological key skew.
  */
object ScaleJoins {

  /** Write a frame as a bucketed table: co-locates future equi-joins /
    * aggregations on `bucketCols` — both sides bucketed the same way
    * join with ZERO exchange, the single biggest shuffle saver for
    * repeatedly-joined 100 TB fact tables. Uses the session catalog
    * (parquet bucketed files + bucket spec in the table metadata).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    // the session catalog is in-memory but the warehouse DIRECTORY
    // persists across JVMs — a fresh session neither knows the table
    // nor may create a managed table over the stale location
    // (LOCATION_ALREADY_EXISTS). Drop both before writing. The
    // location comes from the catalog's own path derivation (current
    // database + identifier normalization), not a hand-built
    // warehouse/<name> guess (review).
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Salted inner equi-join for skewed keys: the skewed (large) side
    * gets a deterministic salt in [0, saltFactor) derived from its
    * whole row hash; the small-but-hot side is replicated across all
    * salt values. Row multiplicity is preserved exactly — the salt is
    * only a partitioning refinement, both sides join on
    * (key, salt). AQE's skew-join handles moderate skew on its own;
    * this is for the "one key is 30% of the table" case where even a
    * split shuffle block overwhelms a task.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    val salted = large.withColumn("__salt",
      pmod(xxhash64(large.columns.map(col): _*), lit(saltFactor)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Range-partitioned write: totally orders output files by `cols` so
    * downstream range predicates prune whole files (min/max stats). */
  def writeRangePartitioned(df: DataFrame, path: String, partitions: Int,
                            cols: Seq[Column]): Unit =
    df.repartitionByRange(partitions, cols: _*)
      .write.mode("overwrite").parquet(path)

  /** Collision-free, catalog-safe name tag for a source dir: the full
    * path sanitized, not a hash — two dirs can never silently share a
    * table/path (review: String.hashCode collisions would have
    * redirected one dir's query to the other's data). */
  private def dirTag(sourceDir: String): String =
    sourceDir.replaceAll("[^A-Za-z0-9]", "_")

  // one bucketed copy pair per (session, source dir); keyed on the
  // session UUID because the table lives in the SESSION catalog —
  // a JVM-global memo would hand a fresh session names it never wrote,
  // and identityHashCode can collide or be reused after GC (advice r3)
  private val bucketedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, String)]

  /** Bucketed copies of orders+lineitem co-bucketed on the order key,
    * memoized per (session, source dir): the permanent layout a
    * repeatedly-joined 100 TB fact pair would have. Returns the
    * (orders, lineitem) table names; a join between them needs ZERO
    * exchanges (PlanSpec). Only the columns the bucketed-join query
    * consumes are materialized. */
  def bucketedOrderTables(spark: SparkSession, sourceDir: String,
                          buckets: Int = 8): (String, String) =
    bucketedCache.computeIfAbsent((graft.core.Sessions.uuid(spark), sourceDir), { _ =>
      val tag = dirTag(sourceDir)
      val (ot, lt) = (s"gb_orders_$tag", s"gb_lineitem_$tag")
      writeBucketed(graft.core.Tables.load(spark, sourceDir, "orders")
        .select("o_orderkey", "o_orderpriority"), ot, buckets, Seq("o_orderkey"))
      writeBucketed(graft.core.Tables.load(spark, sourceDir, "lineitem")
        .select("l_orderkey", "l_quantity"), lt, buckets, Seq("l_orderkey"))
      (ot, lt)
    })

  // one partitioned copy per (source dir, table, month column) per JVM
  private val partitionedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Hive-style month-partitioned copy of a test table, memoized per
    * JVM: the substrate for dynamic partition pruning (SURVEY §4
    * "partition pruning"). At 100 TB the fact table lives permanently
    * partitioned like this — `spark.read` on the directory restores
    * `monthCol` as a partition column, so a join against a filtered
    * dimension on that column lets Spark prune whole partition
    * directories AT RUNTIME from the dim side's values (DPP), the
    * single biggest scan-killer on partitioned facts. Derived from the
    * flat test parquet once; rewrites only on a fresh JVM. */
  def partitionedByMonth(spark: SparkSession, sourceDir: String, table: String,
                         dateCol: String, monthCol: String): DataFrame = {
    val path = partitionedCache.computeIfAbsent(s"$sourceDir/$table/$monthCol", { _ =>
      val out = graft.core.Scratch.dir(
        s"part_${table}_${monthCol}_${dirTag(sourceDir)}").getAbsolutePath
      graft.core.Tables.load(spark, sourceDir, table)
        .withColumn(monthCol, date_format(col(dateCol), "yyyy-MM"))
        .write.mode("overwrite").partitionBy(monthCol).parquet(out)
      out
    })
    spark.read.parquet(path)
  }

  /** Join-key skew diagnostic — the report run BEFORE choosing between
    * a plain shuffle join, [[saltedJoin]], or an AQE skew split. One
    * row: total rows, distinct keys, mean/median/p99/max per-key
    * counts, the hottest key's share of all rows, and the max/mean
    * skew ratio (≈1 uniform; ≥10 means the hot key serializes a
    * shuffle partition and wants salting). The per-key-count quantiles
    * run over one row per KEY, not per input row — and even that frame
    * is |distinct keys|-sized at 100 TB, so they read off the bucketed
    * prefix-sum CDF ([[Stats.interpolatedQuantiles]], bit-identical to
    * the `percentile` aggregate it replaced) instead of buffering
    * every count in one aggregation buffer. The quantile family's
    * eager-materialization contract applies (Stats object scaladoc).
    */
  def keySkewReport(df: DataFrame, keyCol: String): DataFrame = {
    // per-key counts feed TWO consumers (the quantile CDF and the
    // totals agg) — persist so the raw-data aggregation runs once; the
    // quantile result is a collected literal, the totals row
    // materializes below, so the cache is released before returning
    val perKey = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qs = broadcast(
      Stats.interpolatedQuantiles(perKey, "cnt", Seq(0.5, 0.99))
        .agg(min(when(col("p") === 0.5, col("value"))).as("med_cnt"),
          min(when(col("p") === 0.99, col("value"))).as("p99_cnt")))
    val out = perKey
      .agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        round(avg(col("cnt")), 4).as("avg_cnt"),
        max(col("cnt")).as("max_cnt"))
      .crossJoin(qs)
      .select(col("n_rows"), col("n_keys"), col("avg_cnt"),
        col("med_cnt"), col("p99_cnt"), col("max_cnt"),
        round(col("max_cnt").cast("double") / col("n_rows"), 4).as("top_share"),
        // max/mean from exact integers (not the rounded avg_cnt) —
        // double-rounding is a cross-engine parity trap
        round(col("max_cnt").cast("double") * col("n_keys") / col("n_rows"), 4)
          .as("skew_ratio"))
      // ONE-row result: materialize eagerly so the perKey cache can be
      // released here (the x_bigram_nll contract)
      .localCheckpoint(true)
    perKey.unpersist()
    out
  }

  /** The EXECUTABLE skew decision rule (round-6 verdict: "the decision
    * rule is executable, not tribal") — maps a [[keySkewReport]] row +
    * the operation class to a strategy:
    *
    *  - `skew_ratio < ratioThreshold` → `"plain"`: no defense needed.
    *  - skewed + the consumer is a WINDOW-partitioned operator (as-of
    *    join, per-key running aggregates) → `"asof-salted"`: AQE's skew
    *    handling (`OptimizeSkewedJoin`) rewrites JOIN shuffle reads
    *    only — a window's `partitionBy(key)` requires every row of the
    *    key in ONE task, so AQE structurally cannot split it (locked by
    *    the AQE-asymmetry spec) and the salt must be in the keys
    *    ([[graft.operators.AsOfJoin]] asOfSalted).
    *  - skewed equi-join, hottest key < `topShareThreshold` of all
    *    rows → `"aqe-skew-join"`: Spark's own runtime split of
    *    oversized shuffle partitions suffices; no code change.
    *  - skewed equi-join, one key ≥ `topShareThreshold` of the table →
    *    `"salted-join"` ([[saltedJoin]]): AQE splits at shuffle-block
    *    granularity after the map side already wrote one giant
    *    partition; pre-salting spreads the hot key across the map-side
    *    write itself.
    */
  def skewStrategy(df: DataFrame, keyCol: String, windowed: Boolean,
                   ratioThreshold: Double = 10.0,
                   topShareThreshold: Double = 0.3): String = {
    val r = keySkewReport(df, keyCol).head()
    skewStrategyFromReport(r.getAs[Double]("skew_ratio"),
      r.getAs[Double]("top_share"), windowed, ratioThreshold, topShareThreshold)
  }

  /** Pure-function core of [[skewStrategy]], unit-testable without a
    * report action. */
  def skewStrategyFromReport(skewRatio: Double, topShare: Double,
                             windowed: Boolean,
                             ratioThreshold: Double = 10.0,
                             topShareThreshold: Double = 0.3): String =
    if (skewRatio < ratioThreshold) "plain"
    else if (windowed) "asof-salted"
    else if (topShare >= topShareThreshold) "salted-join"
    else "aqe-skew-join"

  /** Pre-join cardinality profile — the diagnostic run BEFORE a big
    * join ships: per-side row/key counts, key overlap, the worst
    * per-key fanout on each side, and the EXACT join output size
    * (Σ over matched keys of cl·cr) — the number that says "this join
    * explodes 40×" while it is still one tiny report row instead of a
    * 3-hour stage. Cost: one partial-agged count per side (shuffles
    * carry (key, count) rows), a full-outer join of the two KEY-COUNT
    * tables (|keys|-sized, tiny next to the data), one final agg.
    */
  def joinProfile(left: DataFrame, leftKey: String,
                  right: DataFrame, rightKey: String): DataFrame = {
    val lc = left.groupBy(col(leftKey).as("k")).agg(count(lit(1)).as("cl"))
    val rc = right.groupBy(col(rightKey).as("k")).agg(count(lit(1)).as("cr"))
    lc.join(rc, Seq("k"), "full_outer")
      .agg(
        coalesce(sum(col("cl")), lit(0L)).as("l_rows"),
        coalesce(sum(col("cr")), lit(0L)).as("r_rows"),
        sum(when(col("cl").isNotNull, 1L).otherwise(0L)).as("l_keys"),
        sum(when(col("cr").isNotNull, 1L).otherwise(0L)).as("r_keys"),
        sum(when(col("cl").isNotNull && col("cr").isNotNull, 1L).otherwise(0L))
          .as("matched_keys"),
        sum(when(col("cl").isNotNull && col("cr").isNull, 1L).otherwise(0L))
          .as("l_only_keys"),
        sum(when(col("cl").isNull && col("cr").isNotNull, 1L).otherwise(0L))
          .as("r_only_keys"),
        coalesce(max(col("cl")), lit(0L)).as("max_l_fanout"),
        coalesce(max(col("cr")), lit(0L)).as("max_r_fanout"),
        coalesce(sum(col("cl") * col("cr")), lit(0L)).as("join_rows"))
  }
}
