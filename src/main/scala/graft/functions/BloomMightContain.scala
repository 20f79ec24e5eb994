package graft.functions

import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Column (and SQL `graft_bloom_might_contain`) front end for Spark's
  * own `BloomFilterMightContain` predicate — the codegen'd membership
  * probe Catalyst itself injects for runtime bloom-filter joins.
  * Exposed here so an EXPLICIT Bloom constant (built once from a small
  * blocklist via the public `df.stat.bloomFilter`, serialized with
  * `BloomFilter.writeTo`) can prefilter a 100 TB scan as a narrow
  * predicate: the filter bytes are a foldable literal, so the probe
  * constant-folds into whole-stage codegen with zero shuffle and no
  * per-row deserialization.
  *
  * The value side must be the RAW long key (not a rehash):
  * `stat.bloomFilter` inserts integral columns with `putLong`, and
  * `BloomFilterMightContain` probes with `mightContainLong` — same
  * hash path on both sides.
  */
object BloomMightContain {

  /** `bloomBytes` must be a BINARY literal (constant), `value` a LONG. */
  def mightContain(spark: SparkSession, bloomBytes: Column, value: Column): Column =
    column(BloomFilterMightContain(expression(bloomBytes), expression(value)))
}
