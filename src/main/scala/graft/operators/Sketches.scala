package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{CountMinBuckets, Fnv1a64}

/** Count-min sketch — the mergeable frequency summary for streams and
  * federated corpora: d hash rows × w buckets of counters; the
  * estimate for a key is the MIN over its d counters, an upper bound
  * on the true count (never under).
  *
  * Built from the word HISTOGRAM, not the token stream: the corpus
  * pays exactly one partial-aggregated word-count shuffle (the same
  * one every frequency query pays), and the sketch math then runs on
  * vocabulary-sized data — (|V| × d) rows into a (d × w)-group
  * aggregate. At 100 TB the counter table is d·w longs regardless of
  * corpus size, and counter tables from shards/days merge by plain
  * addition (countersOf output unions + re-aggregates).
  */
object Sketches {

  /** Counter table (j, bucket, cnt) of a (word, count) histogram. */
  def countMinCounters(wordCounts: DataFrame, wordCol: String,
                       countCol: String, d: Int, w: Int): DataFrame = {
    wordCounts
      .select(col(countCol).as("__c"),
        posexplode(CountMinBuckets.buckets(Fnv1a64.fnv64(col(wordCol)), d, w))
          .as(Seq("j", "bucket")))
      .groupBy("j", "bucket").agg(sum(col("__c")).as("cnt"))
  }

  /** Exact top-k heavy hitters with their count-min estimate alongside
    * the true count (est_c >= true_c always; equal when the key's d
    * buckets are all collision-free). The report shape used to size
    * w: widen until est/true converges on the head of the
    * distribution. */
  def countMinHeavyHitters(df: DataFrame, textCol: String,
                           d: Int = 4, w: Int = 512, k: Int = 20): DataFrame = {
    val wc = df
      .select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("true_c"))
    val hb = wc.select(col("word"), col("true_c"),
      posexplode(CountMinBuckets.buckets(Fnv1a64.fnv64(col("word")), d, w))
        .as(Seq("j", "bucket")))
    val counters = hb.groupBy("j", "bucket").agg(sum(col("true_c")).as("cnt"))
    hb.join(counters, Seq("j", "bucket"))
      .groupBy("word")
      .agg(max(col("true_c")).as("true_c"), min(col("cnt")).as("est_c"))
      .orderBy(col("true_c").desc, col("word"))
      .limit(k)
  }
}
