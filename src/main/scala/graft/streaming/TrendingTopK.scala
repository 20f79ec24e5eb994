package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming trending-top-k: running per-key counts maintained by the
  * streaming aggregation state, with the current k leaders published
  * per trigger — the "trending domains / event types right now" report
  * a live ingest dashboard reads.
  *
  * Shape: a complete-mode streaming count (state = one row per key —
  * the BOUNDED-cardinality trending case: event types, domains,
  * languages; unbounded keys belong in [[windowedBoards]], the
  * watermarked per-window form whose state the watermark expires)
  * feeding `foreachBatch`, where the bounded-buffer
  * [[graft.functions.TopK]] aggregate reduces the full count table to
  * k rows (map-side heaps, so even a wide count table never shuffles
  * more than k rows per partition) and publishes them as a
  * replaceable temp view. Only k rows ever reach the driver.
  */
object TrendingTopK {

  def start(events: DataFrame, keyCol: String, k: Int,
            trendingView: String): StreamingQuery = {
    val spark = events.sparkSession
    events.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // the micro-batch runs on a CLONED session: register the TopK
        // function there (where the batch plan is analyzed), publish
        // the view on the ORIGINAL session (where readers look)
        val top = batch
          .agg(graft.functions.TopK.topK(struct(col("cnt"), col(keyCol)), k).as("top"))
          .select(posexplode(col("top")).as(Seq("__r", "__c")))
          .select((col("__r") + 1).as("rank"),
            col(s"__c.$keyCol").as(keyCol), col("__c.cnt").as("cnt"))
        // k rows — materialize and swap the published view atomically
        spark.createDataFrame(
          java.util.Arrays.asList(top.collect(): _*), top.schema)
          .createOrReplaceTempView(trendingView)
        ()
      }
      .start()
  }

  /** Watermark-bounded per-window leaderboard — the UNBOUNDED-key-space
    * form of the trending pattern ([[start]] keeps one state row per
    * key forever, which only works for bounded cardinalities like event
    * types; domains/URLs/users at 100 TB need state that expires).
    *
    * Shape: tumbling-window counts chained into a per-window
    * [[graft.functions.TopK]] reduction — BOTH aggregations are
    * streaming-stateful (Spark's chained windowed aggregation,
    * SPARK-40925) and the output mode is APPEND: a window's board is
    * emitted exactly once, when the watermark passes its end, and every
    * state row (count AND heap) for windows older than the watermark is
    * evicted. State is bounded by (keys active within the watermark
    * horizon) + (one k-heap per open window), regardless of total key
    * cardinality; late rows past the watermark are dropped by the first
    * aggregation and can never reopen a published board.
    *
    * Returns the unstarted transform (caller picks the sink), emitting
    * (win_start, win_end, rank, keyCol, cnt) with rank 1..k per window.
    */
  def windowedBoards(events: DataFrame, tsCol: String, keyCol: String, k: Int,
                     windowDuration: String, delayThreshold: String): DataFrame = {
    events.withWatermark(tsCol, delayThreshold)
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("window"))
      .agg(graft.functions.TopK.topK(struct(col("cnt"), col(keyCol)), k).as("__top"))
      .select(col("window"), posexplode(col("__top")).as(Seq("__r", "__c")))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        (col("__r") + 1).as("rank"),
        col(s"__c.$keyCol").as(keyCol), col("__c.cnt").as("cnt"))
  }
}
