package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / split assignment for training-data
  * pipelines (SURVEY §2.B X18-adjacent): `df.sample` is rng-seeded per
  * partition, so its output changes with partitioning, cluster size,
  * and engine — useless for a reproducible train/test split at 100 TB.
  * Hash-bucket assignment is the scale-correct alternative: the split
  * of a row depends only on its id, so it is stable across runs,
  * engines, repartitions, and incremental re-ingestion (a re-ingested
  * document lands in the same split it was in last month).
  *
  * The bucket is the first hex nibble of md5(id) — 16 buckets, portable
  * to any engine with md5 (DuckDB's is identical), no custom hash
  * needed. Narrow, codegen'd, shuffle-free.
  */
object Sampling {

  /** 16-bucket id hash: first hex character of md5(id as string). */
  def hashBucket(id: Column): Column =
    substring(md5(id.cast("string")), 1, 1)

  /** "test" for ids whose bucket falls below `testBuckets` (of 16),
    * "train" otherwise — e.g. testBuckets = 2 → 1/8 test split.
    * Lexicographic compare is safe: md5 hex is lowercase and digits
    * sort below letters in ASCII. */
  def splitColumn(id: Column, testBuckets: Int = 2): Column = {
    require(testBuckets > 0 && testBuckets < 16, "testBuckets in 1..15")
    when(hashBucket(id) < lit(f"$testBuckets%x"), "test").otherwise("train")
  }

  /** Keep ~(buckets/16) of rows, deterministically by id. */
  def sampleByHash(df: DataFrame, idCol: String, buckets: Int): DataFrame = {
    require(buckets > 0 && buckets < 16, "buckets in 1..15")
    df.filter(hashBucket(col(idCol)) < lit(f"$buckets%x"))
  }

  /** Stratified deterministic sampling: per-stratum keep rates, each
    * expressed in 16ths via the md5 bucket of the id — the domain-mixing
    * move every pretraining pipeline makes (downsample the
    * overrepresented source, keep the rare one whole) while staying a
    * pure function of (id, stratum): stable across engines,
    * partitioning, and re-ingestion, and still a narrow codegen'd
    * filter (no shuffle, no RNG).
    */
  def stratifiedKeep(df: DataFrame, idCol: String, strataCol: String,
                     buckets: Map[String, Int], defaultBuckets: Int): DataFrame = {
    (buckets.values ++ Seq(defaultBuckets)).foreach(b =>
      require(b > 0 && b <= 16, "per-stratum buckets in 1..16"))
    // 16 = keep-all; its threshold 'g' sorts above every md5 hex char
    def hex(b: Int) = if (b == 16) "g" else f"$b%x"
    val threshold = buckets.foldLeft(lit(hex(defaultBuckets))) {
      case (acc, (stratum, b)) =>
        when(col(strataCol) === stratum, lit(hex(b))).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < threshold)
  }

  /** Declarative domain-mixing filter: compute per-stratum keep rates
    * toward a UNIFORM weight share (rate_s = min(1,
    * (total/nstrata)/weight_s), quantized to 16ths) and apply them via
    * the md5-bucket rule — [[stratifiedKeep]] with the rate table
    * derived IN-PLAN from the data instead of passed in from the
    * driver. Overrepresented strata are downsampled, rare ones kept
    * whole; the rate table is one row per stratum and broadcast, so
    * the corpus sees two hash aggs + a narrow filter and never an
    * extra wide shuffle. Deterministic: keep/drop is a pure function
    * of (id, stratum, corpus weights).
    *
    * NULL strata do not vanish (an inner join on a null key never
    * matches): the stratum is coalesced to a reserved sentinel, so
    * null-stratum rows form their own stratum and are weighted and
    * balanced like any other — the in-plan analogue of
    * [[stratifiedKeep]]'s null → default fall-through. Strata compare
    * by their string rendering; a real stratum equal to the sentinel
    * (a NUL-prefixed marker) would merge with the nulls.
    */
  def mixtureKeep(df: DataFrame, idCol: String, strataCol: String,
                  weightCol: String): DataFrame = {
    val skey = coalesce(col(strataCol).cast("string"), lit(NullStratum))
    val byStratum = df.groupBy(skey.as("__sk"))
      .agg(sum(col(weightCol)).as("__w"))
    val tot = byStratum.agg(sum(col("__w")).as("__total"),
      count(lit(1)).as("__nstrata"))
    // 16 → 'g' keeps every md5 hex bucket (the stratifiedKeep rule)
    val buckets = byStratum.crossJoin(broadcast(tot))
      .select(col("__sk"),
        floor(least(lit(1.0),
          (col("__total").cast("double") / col("__nstrata")) / col("__w")) * 16)
          .cast("int").as("__bkt"))
      .withColumn("__thresh",
        expr("substr('0123456789abcdefg', __bkt + 1, 1)"))
      .select(col("__sk"), col("__thresh"))
    df.withColumn("__sk", skey).join(broadcast(buckets), Seq("__sk"))
      .filter(hashBucket(col(idCol)) < col("__thresh"))
      .drop("__sk", "__thresh")
  }

  /** Sentinel stratum for NULL values in [[mixtureKeep]] — NUL-prefixed
    * so no real-world label collides with it. */
  private[operators] val NullStratum = "\u0000<null-stratum>"

  /** Per-group document cap (the Common-Crawl "at most n pages per
    * domain" rule): keep the `n` rows of each group whose ids hash
    * lowest — a deterministic pseudo-random choice, stable across
    * engines, partitioning, and re-ingestion, like every sampler here.
    *
    * Rank = (first 15 hex nibbles of md5(id) as a 60-bit integer, id).
    * Hex-char order equals nibble-value order, so any engine can replay
    * the rank as a plain string compare on substr(md5, 1, 15); the id
    * tiebreak makes the choice total even on a rank collision.
    *
    * Scale shape: the obvious window formulation
    * (`row_number() over (partition by group order by rank)`) sorts
    * EVERY row of every group through one exchange. This instead feeds
    * the bounded-buffer [[graft.functions.TopK]] aggregate — map-side
    * combine caps the shuffle at n rows per (group, partition) — and
    * recovers the surviving rows with a semi-join on the (bounded,
    * n×|groups|-row) keeper set, which AQE turns into a broadcast when
    * it is small. TopK keeps the LARGEST k, so both rank fields ride
    * negated. Requires an integral, per-row-unique id column.
    */
  def capPerGroup(df: DataFrame, idCol: String, groupCol: String, n: Int): DataFrame = {
    require(n >= 1 && n <= (1 << 20), "n in 1..2^20")
    val rank = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val kept = df
      .select(col(groupCol).as("__g"),
        struct((-rank).as("r"), (-col(idCol).cast("long")).as("i")).as("__key"))
      .groupBy(col("__g"))
      .agg(graft.functions.TopK.topK(col("__key"), n).as("__top"))
      .select(explode(col("__top")).as("__k"))
      .select((-col("__k.i")).as("__kept_id"))
    df.join(kept, col(idCol).cast("long") === col("__kept_id"), "left_semi")
  }

  /** Temperature-flattened stratum mixing (the `p_s ∝ n_s^α` rule every
    * multilingual / multi-source pretraining mix applies, UniMax /
    * mT5-style): keep rate_s = (n_min / n_s)^α so the rarest stratum is
    * kept whole and a stratum 4× bigger keeps 4^-α of itself. α is
    * restricted to 2^-sqrtApplications (0.5, 0.25, …) so the rate is a
    * chain of IEEE-correctly-rounded sqrt/division ops — bit-identical
    * on any engine, unlike a general pow(). The rate is quantized to
    * 16ths (floored, but never below 1/16 — a cap never silently drops
    * a stratum entirely) and applied through the same md5-bucket rule
    * as [[stratifiedKeep]]: keep/drop is a pure function of
    * (id, stratum, corpus counts).
    *
    * Scale shape: one partial-aggregated count per stratum, a broadcast
    * one-row min, a broadcast rate table, then a narrow filter — the
    * corpus itself never shuffles. NULL strata are sentinel-coalesced
    * like [[mixtureKeep]].
    */
  def temperatureKeep(df: DataFrame, idCol: String, strataCol: String,
                      sqrtApplications: Int = 1): DataFrame = {
    require(sqrtApplications >= 1 && sqrtApplications <= 4,
      "sqrtApplications in 1..4 (α = 0.5 … 0.0625)")
    val skey = coalesce(col(strataCol).cast("string"), lit(NullStratum))
    val byStratum = df.groupBy(skey.as("__sk")).agg(count(lit(1)).as("__n"))
    val mn = byStratum.agg(min(col("__n")).as("__mn"))
    val rate = (1 to sqrtApplications).foldLeft(
      col("__mn").cast("double") / col("__n").cast("double"))((c, _) => sqrt(c))
    val buckets = byStratum.crossJoin(broadcast(mn))
      .select(col("__sk"),
        greatest(lit(1L), floor(rate * 16)).cast("int").as("__bkt"))
      .withColumn("__thresh",
        expr("substr('0123456789abcdefg', __bkt + 1, 1)"))
      .select(col("__sk"), col("__thresh"))
    df.withColumn("__sk", skey).join(broadcast(buckets), Seq("__sk"))
      .filter(hashBucket(col(idCol)) < col("__thresh"))
      .drop("__sk", "__thresh")
  }

  /** Deterministic output shard id in [0, nShards): the first eight hex
    * nibbles of md5(id) — 2^32 base buckets — folded mod nShards. The
    * export-side counterpart of [[hashBucket]]: a training-data writer
    * partitions its output by this column, and because the shard is a
    * pure function of the id it is stable across engines, partitioning,
    * and re-export (an incremental re-run appends each doc to the same
    * shard it was in last time). Narrow and codegen'd; the write's
    * `partitionBy("shard")` does the only data movement.
    *
    * 2^32 base buckets (not one byte): with B base buckets the
    * folded-mod skew between shards is ceil(B/n)/floor(B/n) — at B=256
    * and n=96 that is a 50% size imbalance; at B=2^32 it is negligible
    * for any permitted n.
    */
  def shardId(id: Column, nShards: Int): Column = {
    require(nShards > 0 && nShards <= 65536, "nShards in 1..65536")
    (conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")
      % nShards).cast("int")
  }

  /** Leakage-safe train/val/test split: the split is a pure function
    * of the GROUP key (source, domain, author…), so every row of a
    * group lands in the same split by construction — the grouped-split
    * discipline that stops eval contamination when near-identical rows
    * cluster inside a group (same crawl domain, same paper's sections).
    * Buckets come from [[shardId]] over the group key: deterministic
    * across engines/partitioning/re-runs, no RNG state. `valBuckets` /
    * `testBuckets` of `nBuckets` pick the split shares (e.g. 1 and 1 of
    * 10 ≈ 80/10/10 in expectation over groups). Narrow — one hash
    * expression per row, no shuffle. */
  def groupSplit(df: DataFrame, groupCol: String, nBuckets: Int,
                 valBuckets: Set[Int], testBuckets: Set[Int]): DataFrame = {
    require(valBuckets.intersect(testBuckets).isEmpty,
      "groupSplit: val and test buckets overlap")
    require((valBuckets ++ testBuckets).forall(b => b >= 0 && b < nBuckets),
      "groupSplit: bucket ids outside 0..nBuckets-1")
    val b = shardId(col(groupCol), nBuckets)
    df.withColumn("split",
      when(b.isInCollection(valBuckets), "val")
        .when(b.isInCollection(testBuckets), "test")
        .otherwise("train"))
  }

  /** Sequence-packing bin assignment (training-batch construction):
    * rows are packed in `orderCol` order into fixed token-budget bins
    * via a running token total — `bin = floor(tokens-before-this-row /
    * budget)`, the streaming-friendly approximation of greedy bin
    * packing. With `shardCols` empty the order (and the window) is
    * GLOBAL — deterministic and cross-engine replayable, but a
    * single-partition sort; that is the oracle form. At 100 TB pass the
    * shard key (date, language, source file): packing then runs
    * independently inside each shard partition and the window
    * parallelizes like any keyed aggregation — bins are
    * (shard, bin)-scoped, which is exactly what a sharded training-data
    * writer wants. */
  def packBins(df: DataFrame, orderCol: String, tokensCol: String,
               budget: Int, shardCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(!df.columns.contains("bin"),
      "packBins writes a 'bin' column; the input already has one")
    val base =
      if (shardCols.isEmpty) org.apache.spark.sql.expressions.Window.orderBy(orderCol)
      else org.apache.spark.sql.expressions.Window
        .partitionBy(shardCols.map(col): _*).orderBy(orderCol)
    val w = base.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    // collision-checked temp name + backtick-quoted identifiers in the
    // interpolated expr: a raw `$tokensCol` breaks (or silently
    // mis-parses) for names needing quoting (advice r3). `div` keeps
    // the exact integer semantics of the original.
    val cum = Iterator.from(0).map(i => s"__graft_cum$i")
      .filterNot(df.columns.contains).next()
    def quoted(name: String) = "`" + name.replace("`", "``") + "`"
    df.withColumn(cum, sum(col(tokensCol)).over(w))
      .withColumn("bin", expr(s"(${quoted(cum)} - ${quoted(tokensCol)}) div $budget"))
      .drop(cum)
  }

  /** Weight-proportional sample without replacement of size k —
    * sequential Poisson sampling (Ohlsson 1998; the πps estimator
    * statistical offices use, also known as priority sampling): each
    * row gets priority u/w where u is uniform and w its weight, and the
    * k SMALLEST priorities win — heavier rows draw smaller priorities,
    * so inclusion probability is ≈ proportional to weight. The
    * importance-weighted corpus subsample (by length, quality score,
    * domain weight…) in one pass.
    *
    * Deterministic and engine-portable by construction: u = first 13
    * md5 hex nibbles of the id — a 52-bit integer, exact in a double —
    * and IEEE division is correctly rounded, so any engine computes
    * bit-identical priorities (no RNG state, stable under
    * re-partitioning and re-runs). Top-k by (priority, id) plans as
    * TakeOrdered: O(k) per partition carried to the driver, never a
    * global sort.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k > 0, "weightedSample: k must be positive")
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("double")
    df.withColumn("priority", u / col(weightCol).cast("double"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** Token-budget corpus selection: the greedy quality-first cut —
    * order rows by (`scoreCol` DESC, `idCol` ASC) and keep the maximal
    * prefix whose cumulative `costCol` stays within `budget` (the
    * "best N tokens" selection every budgeted training run makes:
    * score = quality/centrality/recency, cost = token count). Returns
    * the selected rows with their cumulative cost (`cum`).
    *
    * Exact WITHOUT a global sort: the cumulative cost comes from the
    * [[Stats]] bucketed prefix sum, bucketed on the SCORE axis —
    * fine-cell boundaries (task balance only, one histogram job),
    * per-bucket windows ordered (score DESC, id), per-bucket cost
    * totals folded to offsets on the driver in descending-bucket
    * order (planning-sized). A score tie group never straddles buckets (the bucket is a
    * function of score alone), so the tie-break by id is exact. Costs
    * accumulate as longs — exact in any order. NULL scores or costs
    * are excluded (observed-values policy).
    */
  def budgetSelect(df: DataFrame, idCol: String, scoreCol: String,
                   costCol: String, budget: Long,
                   buckets: Int = 32): DataFrame = {
    require(budget > 0, "budgetSelect: budget must be positive")
    val s = col(scoreCol).cast("double")
    val session = df.sparkSession
    import session.implicits._
    val obs = df.filter(col(scoreCol).isNotNull && col(costCol).isNotNull)
      .withColumn("__s", s).withColumn("__c", col(costCol).cast("long"))
    // ONE planning job (the Stats fine-cell scheme): per-cell row and
    // cost totals — boundaries AND exact better-bucket cost offsets
    // from a single collect, where the sampled-boundary pass plus the
    // bucket-totals fold used to cost two
    val cc = Stats.cellOf(col("__s"))
    val hist = obs.groupBy(cc.as("cell"))
      .agg(count(lit(1)).as("nr"), sum(col("__c")).as("tc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val bounds = Stats.coarseBoundaries(hist.map(h => (h._1, h._2)), buckets)
    val withB = obs.withColumn("b", Stats.bucketOfCell(bounds, cc))
    val inBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("__s").desc, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val local = withB.withColumn("lc", sum(col("__c")).over(inBucket))
    // offsets = total cost of all STRICTLY BETTER buckets: fold the
    // per-bucket cost totals in DESCENDING bucket order
    val perBucket = hist.groupBy(h => bounds.count(_ <= h._1))
      .view.mapValues(_.map(_._3).sum).toMap
    var acc = 0L
    val offRows = (bounds.length to 0 by -1).map { b =>
      val row = (b, acc); acc += perBucket.getOrElse(b, 0L); row
    }
    val offsets = offRows.toDF("b", "off")
    local.join(broadcast(offsets), Seq("b"))
      .withColumn("cum", col("off") + col("lc"))
      .filter(col("cum") <= budget)
      .drop("b", "__s", "__c", "lc", "off")
  }

  /** Data Selection via Importance Resampling weights (the DSIR shape,
    * Xie et al. 2023): score every raw document by how much more
    * likely its HASHED-BIGRAM features are under the target domain's
    * feature distribution than under the raw corpus's —
    *
    *   w(doc) = Σ_features n_b · ln(p_target(b) / p_raw(b))
    *
    * with word bigrams hashed into `buckets` feature ids (the native
    * FNV-1a 64 expression mod buckets — hashing makes the feature
    * space fixed-size regardless of vocabulary) and Laplace-smoothed
    * bucket shares ((c+1)/(N+buckets)) keeping unseen target buckets
    * finite. `targetCond` marks the target-domain rows INSIDE the raw
    * corpus (the usual setup: a trusted high-quality slice steers the
    * selection over everything else); a NULL condition is false. The
    * high-weight prefix is the DSIR selection — feed the result to
    * [[budgetSelect]] / top-k for the actual cut.
    *
    * Returns `(idCol, n_bigrams, weight)` with weight rounded to 4 dp
    * (the per-doc float sum is the only order-sensitive op — every
    * p ratio is a closed form of exact integer counts). Documents
    * with <2 tokens have no features and are absent.
    *
    * Scale shape (100 TB): a narrow bigram expansion off the scan (no
    * token shuffle — bigramFrames zips the split array with its own
    * tail), one (doc, bucket) partial-agged hash agg;
    * the feature model is ≤ `buckets` rows (aggregated from the
    * per-doc counts — the corpus never re-scans) and BROADCASTS back
    * with its 1-row totals. Nothing vocabulary-sized shuffles; the
    * model join is a broadcast hash join against a planning-sized
    * table.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetCond: Column, buckets: Int = 1024): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"dsirWeights: buckets must be a power of two (unsigned/signed mod " +
        s"agreement for the hash replay), got $buckets")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // perDocB below reads `bigrams` exactly once and is itself
    // persisted — neither substrate frame needs a cache here
    val (toks, bigrams) =
      TextAnalysis.bigramFrames(docs, idCol, textCol,
        persistToks = false, persistBigrams = false)
    // per-(doc, feature) counts: the ONLY corpus-sized aggregation;
    // persisted because both the model build and the scoring read it
    val perDocB = bigrams
      .select(col("__id"),
        pmod(graft.functions.Fnv1a64.fnv64(
          concat(col("__prev"), lit(" "), col("__w"))), lit(buckets.toLong))
          .as("__b"))
      .groupBy(col("__id"), col("__b")).agg(count(lit(1)).as("__n"))
      .persist(lvl)
    val flags = docs.select(col(idCol).as("__id"),
      when(targetCond, lit(true)).otherwise(lit(false)).as("__t"))
    // feature model: ≤ buckets rows, built from the per-doc counts
    val model = perDocB.join(flags, Seq("__id"))
      .groupBy(col("__b"))
      .agg(sum(when(col("__t"), col("__n")).otherwise(0L)).as("__ct"),
        sum(col("__n")).as("__cr"))
    val totals = model.agg(sum(col("__ct")).as("__nt"), sum(col("__cr")).as("__nr"))
    // log-likelihood ratio of Laplace-smoothed shares, in one fixed
    // IEEE form both engines evaluate identically
    val llr = log(
      ((col("__ct").cast("double") + 1.0) / (col("__nt") + buckets)) /
        ((col("__cr").cast("double") + 1.0) / (col("__nr") + buckets)))
    val out = perDocB
      .join(broadcast(model), Seq("__b"))
      .crossJoin(broadcast(totals))
      .groupBy(col("__id"))
      .agg(sum(col("__n")).as("n_bigrams"),
        round(sum(col("__n") * llr), 4).as("weight"))
      .select(col("__id").as(idCol), col("n_bigrams"), col("weight"))
      .localCheckpoint(true)
    perDocB.unpersist(); bigrams.unpersist(); toks.unpersist()
    out
  }
}
