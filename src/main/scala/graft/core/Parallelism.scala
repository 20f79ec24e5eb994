package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one partition-count policy for the operators' explicit pins.
  *
  * AQE sizes post-shuffle partitions by bytes, so a stage that is small
  * in bytes but heavy in CPU (regex chains, shingle/signature hashing,
  * quadratic pair expansion, per-row vector folds) gets coalesced to a
  * handful of tasks, often one; a small or single-row-group parquet
  * file likewise plans as one scan task, and every narrow expression
  * after it runs on one core. An operator that knows its stage is
  * CPU-heavy pins the task count here instead of leaving it to AQE
  * (guide §2.4/§2.5).
  *
  * Every pin takes its width from [[width]], N = the session's core
  * count (`defaultParallelism`), so an operator that both pins and
  * sizes by the width (a salt, a fan-out) agrees with its own pins.
  * N does not follow `spark.sql.shuffle.partitions` above the cores:
  * on 4 cores with 32 shuffle partitions at sf0.1, N = 32 made
  * `CorpusCleanJob.clean` ~40% and x_hard_negatives_ivf ~22% slower
  * (more tiny tasks per pinned stage). Holding the keyed pins to the
  * cores there cost x_setsim_join ~20% and saved 7-24% on seven other
  * keyed queries (3 pairs of runs).
  *
  * The pin shapes:
  *  - [[spread]]: round-robin to N, before a heavy narrow stage;
  *  - [[spreadIfNarrow]]: the same, but only when the frame plans
  *    narrower than N, so an already many-split source passes through
  *    with no exchange (planning-time only, no job runs);
  *  - [[keyed]]: hash on the stage's own keys to N. The key is the
  *    downstream aggregate's or join's required clustering, so the pin
  *    replaces that exchange instead of adding one;
  *  - [[capped]]: keyed, to min(N, ⌈nd/4096⌉) for a frame whose
  *    distinct-value total `nd` is known: enough tasks for ~4k distinct
  *    values each, so a tiny frame keeps 1 task instead of N empty ones.
  */
private[graft] object Parallelism {

  /** N, the task count of every pinned stage of `spark`. */
  def width(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Round-robin repartition of `df` to N. */
  def spread(df: DataFrame): DataFrame = df.repartition(width(df.sparkSession))

  /** [[spread]] when `df` plans fewer than N partitions, else `df`. */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    val n = width(df.sparkSession)
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** Hash repartition of `df` on `keys` to N. */
  def keyed(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(width(df.sparkSession), keys: _*)

  /** Hash repartition of `df` on `keys` to min(N, ⌈nd/4096⌉), at least 1. */
  def capped(df: DataFrame, nd: Long, keys: Column*): DataFrame =
    df.repartition(
      math.max(1L, math.min(width(df.sparkSession).toLong, (nd + 4095L) / 4096L)).toInt,
      keys: _*)
}
