package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — SURVEY §2.B X9 / declared query Q22.
  *
  * Spark has no native ASOF join; the classic scalable encoding is the
  * union + running-max trick used here:
  *
  *   1. union the right rows (tagged 0) and left rows (tagged 1) into
  *      one stream keyed by the join key;
  *   2. window PARTITION BY key ORDER BY (time, tag): a running `max`
  *      over struct(rightTime, tieBreak…, payload…) gives, at each left
  *      row, the latest right row with rightTime ≤ leftTime — struct
  *      comparison is lexicographic, so ties on rightTime resolve to
  *      the greatest tie-break, matching the Q22 contract;
  *   3. keep the left rows, unpack the matched struct.
  *
  * Cost: ONE shuffle on the key + a per-partition sort — no range
  * cross-join blowup, no per-key collect. At 100 TB this is the same
  * shape as a sort-merge join; sorting spills, so a heavy key degrades
  * gracefully rather than OOMing — but it still serializes one key's
  * whole timeline through one task. For a pathologically hot key
  * (detect with [[ScaleJoins.keySkewReport]]: a large max_cnt /
  * skew_ratio on the join key), use [[asOfSalted]], which spreads each
  * key over time buckets.
  */
object AsOfJoin {

  /** For each left row, attach `payload` columns of the right row with
    * the greatest `rightTime <= leftTime` for the same key (ties on
    * rightTime → greatest payload tuple). Rows with no match get null.
    *
    * @param payload right-side columns carried to the output; their
    *                order is also the tie-break order after rightTime.
    */
  def asOf(left: DataFrame, leftKey: String, leftTime: String,
           right: DataFrame, rightKey: String, rightTime: String,
           payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val matchType = struct(col(rightTime) +: payload.map(col): _*)

    val r = right.select(
      col(rightKey).as("__k"), col(rightTime).as("__t"), lit(0).as("__tag"),
      matchType.as("__m"),
      lit(null).cast(left.schema).as("__l"))
    val l = left.select(
      col(leftKey).as("__k"), col(leftTime).as("__t"), lit(1).as("__tag"),
      lit(null).cast(r.schema("__m").dataType).as("__m"),
      struct(leftCols.map(col): _*).as("__l"))

    // right rows sort before left rows at equal time → `<=` semantics.
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    r.unionByName(l)
      .withColumn("__best", max(col("__m")).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(c => col(s"__l.$c")) ++
        (rightTime +: payload).map(c => col(s"__best.$c")): _*)
  }

  /** Skew-resistant [[asOf]]: identical semantics and output, but every
    * wide operation keys on (key, time-bucket) instead of the bare key,
    * so one hot key's timeline spreads over ~timeline/bucketWidth tasks
    * instead of serializing through one ([[ScaleJoins.keySkewReport]]
    * on the join key is the strategy picker: reach for this variant
    * when max_cnt is a straggler-sized share of the table).
    *
    * Mechanics — time-bucket salting preserves as-of semantics because
    * a bucket only ever needs history from strictly-earlier buckets:
    *   1. in-bucket: the same union + running-max trick as [[asOf]],
    *      windowed by (key, bucket) — the salted shuffle. A second
    *      whole-partition max over the SAME (key, bucket) partitioning
    *      emits each bucket's right-side max in the same pass (both
    *      window branches share one exchange via reuse, and left rows
    *      contribute their null match, so every left bucket owns a
    *      summary row even where the right side is silent);
    *   2. carry-in: those per-(key, bucket) summaries — one row per
    *      bucket after an exchange-free aggregation (the data is
    *      already (key, bucket)-partitioned), tiny next to the data —
    *      running-max'd over strictly-earlier buckets and left-joined
    *      back on (key, bucket);
    *   3. best = greatest(in-bucket, carry-in): struct order compares
    *      rightTime first, and carry-in times are strictly older than
    *      any in-bucket match, so the lexicographic max is exactly
    *      [[asOf]]'s answer (greatest also skips nulls — a left row
    *      with neither match stays unmatched).
    *
    * `bucketWidth` is in units of the time line's integral form
    * (seconds for timestamps, days for dates, the raw value for
    * numeric times). Pick it so a hot
    * key's per-bucket row count fits one task comfortably — buckets
    * only spread work, they never change the result.
    */
  def asOfSalted(left: DataFrame, leftKey: String, leftTime: String,
                 right: DataFrame, rightKey: String, rightTime: String,
                 payload: Seq[String], bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val leftCols = left.columns.toSeq
    val matchType = struct(col(rightTime) +: payload.map(col): _*)

    val r = right.select(
      col(rightKey).as("__k"), col(rightTime).as("__t"), lit(0).as("__tag"),
      matchType.as("__m"),
      lit(null).cast(left.schema).as("__l"))
    val l = left.select(
      col(leftKey).as("__k"), col(leftTime).as("__t"), lit(1).as("__tag"),
      lit(null).cast(r.schema("__m").dataType).as("__m"),
      struct(leftCols.map(col): _*).as("__l"))
    // DIV truncates toward zero — a monotone non-decreasing map of the
    // time line, which is all bucket assignment needs (bucket 0 spans
    // (-width, width) for mixed-sign times; only spread is affected).
    // Integral DIV, not floor(a/b): double division mangles longs past
    // 2^53 (nanosecond epochs qualify).
    val u = r.unionByName(l)
    val tLong = u.schema("__t").dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_seconds(col("__t"))
      // NTZ first re-reads as an instant (session tz is UTC under
      // Sessions.configure, so the wall clock IS the epoch reading) —
      // a direct NTZ→long cast is not a valid Spark cast.
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_seconds(col("__t").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.DateType =>
        datediff(col("__t"), lit("1970-01-01").cast("date")).cast("long")
      case _ => col("__t").cast("long")
    }
    val bucketed = u.withColumn("__tl", tLong)
      .withColumn("__b", expr(s"__tl DIV $bucketWidth")).drop("__tl")

    val w = Window.partitionBy(col("__k"), col("__b"))
      .orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBucket = Window.partitionBy(col("__k"), col("__b"))
    val winned = bucketed
      .withColumn("__best0", max(col("__m")).over(w))
      .withColumn("__bm", max(col("__m")).over(wBucket))
    val inBucket = winned.filter(col("__tag") === 1)

    val summ = winned.select(col("__k"), col("__b"), col("__bm"))
      .groupBy(col("__k"), col("__b")).agg(max(col("__bm")).as("__bm"))
    val wc = Window.partitionBy(col("__k")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = summ
      .withColumn("__carry", max(col("__bm")).over(wc))
      .select(col("__k"), col("__b"), col("__carry"))

    inBucket.join(carry, Seq("__k", "__b"), "left")
      .withColumn("__best", greatest(col("__best0"), col("__carry")))
      .select(leftCols.map(c => col(s"__l.$c")) ++
        (rightTime +: payload).map(c => col(s"__best.$c")): _*)
  }
}
