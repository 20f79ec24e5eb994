package graft.operators

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ShingleHashes, SimHash64}

/** Deduplication operators for the training-data pipeline (SURVEY §2.B
  * X15/X16): exact, n-gram Jaccard (shingle-bucketed), SimHash, and
  * MinHash+LSH.
  *
  * Scale design: every variant avoids the all-pairs O(n²) comparison by
  * generating candidates through a shared key (content hash, shingle,
  * LSH band) and joining on it — the 100 TB-safe shape. Skew guard for
  * the shingle join: shingles whose document frequency exceeds
  * `maxShingleDf` are dropped from candidate generation (a standard
  * frequency cap; hot shingles carry no discriminating signal anyway).
  */
object Dedup {

  /** Exact dedup on selected columns: keep the row with the smallest
    * tie-break key per duplicate group. Deterministic (unlike
    * dropDuplicates, which keeps an arbitrary row); one hash-agg
    * shuffle on the dedup key.
    */
  def exact(df: DataFrame, keyCols: Seq[String], tieBreak: String): DataFrame = {
    val others = df.columns.filterNot(keyCols.contains).toSeq
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(others.map(col): _*), col(tieBreak)).as("__rest"))
      .select(keyCols.map(col) ++ others.map(c => col(s"__rest.$c")): _*)
  }

  /** Distinct word n-gram shingles as an array column (short docs fall
    * back to one whole-doc shingle so they still get a key). */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, "\\s+")
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** Near-duplicate pairs by exact n-gram Jaccard with shingle-bucket
    * candidate generation: explode distinct shingles → self-join on the
    * shingle → count shared shingles per pair → Jaccard =
    * |A∩B| / (|A|+|B|−|A∩B|). Only pairs sharing ≥1 (non-hot) shingle
    * are ever materialized; output is (ida, idb, jaccard) with ida<idb.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, n: Int = 3,
                        maxShingleDf: Long = 1000L): DataFrame = {
    // Shingling runs in the native ShingleHashes expression and the
    // join is keyed on the 64-bit shingle hash, not the string —
    // smaller shuffle, no interpreted HOFs (a hash collision merging
    // two distinct shingles is ~2^-64 per pair, far below float noise).
    // Spread (scale-adaptive): parallelize the heavy narrow stage when
    // the input plans narrower than the session — an already-wide input
    // (e.g. Curation's repartitioned-and-cached quality frame) passes
    // through with NO second exchange. Persist: the frame feeds
    // doc-counts, hot-shingle detection AND both join branches (Spark
    // has no subplan sharing across self-joins).
    val sh = graft.core.Tables.spread(docs)
      .select(col(idCol).as("id"),
        explode(ShingleHashes.shingleHashes(col(textCol), n)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // populate the cache BEFORE the pair plan below runs: the two
    // doc-count branches and the hot-shingle filter ride in as
    // BROADCAST exchanges, and broadcast subtrees execute as separate
    // jobs AHEAD of the main stages — against a merely-persisted
    // (unpopulated) frame each one recomputes the whole upstream
    // gate+shingle pass (measured 3× ~25 core-seconds at sf0.1 inside
    // x_curation_funnel). This count() is the single pass the main job
    // would pay anyway; every broadcast build then reads cached rows
    // (guide §5 caching, §1.1 empirical loop).
    sh.count()
    // per-doc shingle totals feed BOTH pair sides (ida and idb) under
    // different aliases, so the two broadcast builds cannot share one
    // exchange — uncached, each re-aggregates the whole |shingles|
    // frame (measured ~5 core-s + as much blocked time per build at
    // sf0.1). The frame is |docs| rows (planning-sized next to the
    // shingle frame at any scale); persist + materialize so both
    // builds read it back instead (guide §2.4: two operations keyed
    // the same way share one pass).
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("nsh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts.count()
    val hot = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select("sh")
    val pruned = sh.join(hot, Seq("sh"), "left_anti")
    val shared = pruned.select(col("sh"), col("id").as("ida"))
      .join(pruned.select(col("sh"), col("id").as("idb")), Seq("sh"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
    val out = shared
      .join(counts.select(col("id").as("ida"), col("nsh").as("na")), Seq("ida"))
      .join(counts.select(col("id").as("idb"), col("nsh").as("nb")), Seq("idb"))
      .withColumn("__j", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("__j") >= threshold) // filter BEFORE rounding (oracle parity)
      .select(col("ida"), col("idb"), round(col("__j"), 4).as("jaccard"))
    // Materialize the verified-pairs frame (orders of magnitude smaller
    // than the shingle frame) so the heavy cache is dropped NOW instead
    // of leaking for the session's lifetime — round-2 advice on
    // minhashPairs, and the measured cause of cache churn when many
    // dedup queries run in one harness: each un-released MEMORY_AND_DISK
    // shingle frame evicts/spills the next query's working set.
    val materialized = out.localCheckpoint(true)
    counts.unpersist()
    sh.unpersist()
    materialized
  }

  /** 64-bit SimHash over word 3-gram shingles: per-shingle FNV-1a
    * hash, per-bit ±1 majority vote, packed into a long — both steps
    * native one-pass expressions (ShingleHashes → SimHash64). Shingles
    * (not unigrams) keep the signature discriminating even on a tiny
    * vocabulary, where every document's token SET is near-identical.
    */
  def simhash(text: Column): Column =
    SimHash64.simhash64(ShingleHashes.shingleHashes(text))

  /** SimHash near-duplicate candidate pairs: band the 64-bit signature
    * into four 16-bit bands and join on (band index, band value) — two
    * signatures within Hamming distance 3 are guaranteed to collide in
    * ≥1 band. Pairs are then verified with an exact popcount bound.
    */
  def simhashPairs(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // Heavy narrow transform: spread across cores even when the scan
    // has few input splits.
    val sigs = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("bval"))
      }: _*)).as("bd"))
      .select(col("id"), col("sig"), col("bd.band"), col("bd.bval"))
    val cand = banded.select(col("band"), col("bval"), col("id").as("ida"), col("sig").as("siga"))
      .join(banded.select(col("band"), col("bval"), col("id").as("idb"), col("sig").as("sigb")),
        Seq("band", "bval"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb", "siga", "sigb").distinct()
    cand
      .withColumn("hamming", bit_count(col("siga").bitwiseXOR(col("sigb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("ida"), col("idb"), col("hamming"))
  }

  /** Native MinHash+LSH near-duplicate pairs, the classic
    * shingle → minhash → band → bucket-join shape, built entirely from
    * codegen'd engine primitives:
    *
    *  - shingle hashes: FNV-1a per distinct word 3-gram;
    *  - k minhash values: one-pass native MinHashSignature expression
    *    (splitmix64 permutation family; the HOF formulation was ~1000×
    *    slower interpreted — see functions/MinHash.scala);
    *  - bands of r consecutive minhashes joined by value: two docs
    *    collide in a band iff all r minhashes agree (P = jaccard^r per
    *    band — tune bands/rows for the target similarity);
    *  - candidates verified with the minhash Jaccard ESTIMATE
    *    (agreement fraction over all k values), filtered at
    *    `minJaccard`.
    *
    * Deterministic across runs (hash-based, no RNG). At scale this is
    * one narrow hashing pass + a join keyed on tiny band values — the
    * all-pairs product never materializes.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double, numHashes: Int = 16,
                   bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // persist: both band-join branches (and the estimate stage) read
    // this — without it the whole shingle→minhash pipeline runs once
    // per consumer (3× the hashing cost at any scale)
    val mh = minhashSignatures(docs, idCol, textCol, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandKeys(mh, numHashes, bands)
    val cand = banded.select(col("band"), col("bval"), col("id").as("ida"), col("mh").as("mha"))
      .join(banded.select(col("band"), col("bval"), col("id").as("idb"), col("mh").as("mhb")),
        Seq("band", "bval"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb", "mha", "mhb").distinct()
    val out = cand
      .withColumn("est_jaccard",
        round(size(filter(zip_with(col("mha"), col("mhb"), (x, y) => x === y),
          b => b)).cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("ida"), col("idb"), col("est_jaccard"))
    // materialize the small verified-pairs result so the signature
    // cache is released before returning (round-2 advice: repeated
    // calls in a long-lived session accumulated dead cache entries)
    val materialized = out.localCheckpoint(true)
    mh.unpersist()
    materialized
  }

  /** LSH calibration report: for every minhash candidate pair at or
    * above `minEst`, the minhash ESTIMATE next to the EXACT shingle
    * Jaccard and their absolute error — the tuning loop for
    * bands/rows/numHashes (an estimator whose error is biased high at
    * the threshold silently over-deletes; this is the query that shows
    * it before a production dedup run does).
    *
    * Cost discipline at scale: the exact Jaccard — the expensive half —
    * is computed ONLY for candidate docs (shingle table semi-joined to
    * the candidate id set) and only candidate pairs are kept, so the
    * exact pass costs O(candidate neighborhood), never O(corpus²).
    */
  def lshCalibration(docs: DataFrame, idCol: String, textCol: String,
                     minEst: Double, numHashes: Int = 16,
                     bands: Int = 8): DataFrame = {
    val cands = minhashPairs(docs, idCol, textCol, minEst, numHashes, bands)
    val ids = cands.select(col("ida").as("id"))
      .unionByName(cands.select(col("idb").as("id"))).distinct()
    val sh = docs
      .select(col(idCol).as("id"),
        explode(ShingleHashes.shingleHashes(col(textCol))).as("sh"))
      .join(ids, Seq("id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("nsh"))
    val inter = sh.select(col("sh"), col("id").as("ida"))
      .join(sh.select(col("sh"), col("id").as("idb")), Seq("sh"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
    val out = cands
      .join(inter, Seq("ida", "idb"), "left")
      .join(counts.select(col("id").as("ida"), col("nsh").as("na")), Seq("ida"))
      .join(counts.select(col("id").as("idb"), col("nsh").as("nb")), Seq("idb"))
      .withColumn("__i", coalesce(col("inter"), lit(0L)))
      .withColumn("__x", col("__i").cast("double") /
        (col("na") + col("nb") - col("__i")).cast("double"))
      .select(col("ida"), col("idb"), col("est_jaccard"),
        round(col("__x"), 4).as("exact_jaccard"),
        // err from the PRE-rounded exact value: both engines compute
        // the identical IEEE ratio, so the rounded difference matches
        round(abs(col("est_jaccard") - col("__x")), 4).as("abs_err"))
    val materialized = out.localCheckpoint(true)
    sh.unpersist()
    materialized
  }

  /** MinHash signature table for a corpus: (id, mh ARRAY(LONG)). At
    * 100 TB this is the PERSISTED dedup index — computed once per
    * corpus snapshot, stored (bucketed by band keys) so incremental
    * batches never rescan historical text. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    docs.repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        ShingleHashes.shingleHashes(col(textCol)).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("id"),
        graft.functions.MinHashSignature.signature(col("hs"), numHashes).as("mh"))
  }

  private def bandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(col("id"), col("mh"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          struct((0 until rows).map(r => element_at(col("mh"), b * rows + r + 1)
            .as(s"v$r")): _*).as("bval"))
      }: _*)).as("bk"))
      .select(col("id"), col("mh"), col("bk.band").as("band"), col("bk.bval").as("bval"))
  }

  /** Incremental near-dup: which NEW docs duplicate an EXISTING corpus
    * (the daily-ingest shape). `index` is a [[minhashSignatures]] table
    * of the historical corpus; only the new batch is shingled/hashed,
    * then band-joined against the index — per-increment cost is
    * O(|batch|) plus a keyed join against the (bucketed) index, never a
    * rescan of history. Returns (new_id, dup_of, est_jaccard).
    *
    * Width guard: a fast-fail check reads ONE index row before any job
    * launches, and a per-row validation inside the scan catches mixed-
    * width (corrupt / partially rebuilt) indexes the sample misses —
    * both raise a message naming the fix instead of the opaque
    * element_at out-of-bounds the band join would otherwise throw under
    * ANSI mode (round-2 advice). */
  def incrementalNearDups(newDocs: DataFrame, idCol: String, textCol: String,
                          index: DataFrame, minJaccard: Double,
                          numHashes: Int = 16, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // fail fast with a clear message: take(1) reads one row (limit pushdown)
    index.select(size(col("mh")).as("w")).take(1).foreach { r =>
      require(r.getInt(0) == numHashes,
        s"index signature width ${r.getInt(0)} != numHashes $numHashes — " +
          "rebuild the index or pass the width it was built with")
    }
    // per-row completeness: one size() comparison per index row
    val checkedIndex = index.withColumn("mh",
      when(size(col("mh")) === numHashes, col("mh")).otherwise(raise_error(
        concat(lit("minhash index row (id "), col("id").cast("string"),
          lit(") has signature width "), size(col("mh")).cast("string"),
          lit(s", expected $numHashes — rebuild the index")))))
    // no persist: the batch signatures feed exactly one band join
    val fresh = minhashSignatures(newDocs, idCol, textCol, numHashes)
    val cand = bandKeys(fresh, numHashes, bands)
      .select(col("band"), col("bval"), col("id").as("new_id"), col("mh").as("mhn"))
      .join(bandKeys(checkedIndex, numHashes, bands)
        .select(col("band"), col("bval"), col("id").as("dup_of"), col("mh").as("mhi")),
        Seq("band", "bval"))
      .select("new_id", "dup_of", "mhn", "mhi").distinct()
    cand
      .withColumn("est_jaccard",
        round(size(filter(zip_with(col("mhn"), col("mhi"), (x, y) => x === y),
          b => b)).cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("new_id"), col("dup_of"), col("est_jaccard"))
  }

  /** QUALITY-AWARE incremental dedup — the "keep best, not first"
    * policy for a corpus refresh ([[dropNearDuplicatesBy]]'s survivor
    * rule wired into the daily-ingest path, which previously could
    * only report matches and keep first-seen). For every row of
    * `newDocs`, one decision row `(new_id, action, dup_of,
    * est_jaccard)`:
    *
    *   - `admit`   — no history match ≥ `minJaccard`: the doc is new.
    *   - `replace` — matched, and the new doc's `priorityCol` STRICTLY
    *                 exceeds the matched history doc's: the refresh
    *                 should swap the old copy out.
    *   - `drop`    — matched at equal-or-lower priority (ties keep
    *                 history: first-seen wins only when quality ties,
    *                 keeping decisions deterministic and idempotent).
    *
    * `dup_of` is the BEST history match (highest `est_jaccard`, ties →
    * smallest id — one `min_by` hash agg, no window sort); NULL for
    * admitted docs. `historyPriority` is an `(idCol, priorityCol)`
    * frame for the indexed corpus — history TEXT is never rescanned,
    * only its id→priority table joins in (broadcastable next to the
    * band join's shuffle at any corpus size). NULL priorities rank
    * below every real priority on BOTH sides (`ORDER BY priority DESC
    * NULLS LAST` semantics, the [[dropNearDuplicatesBy]] policy).
    */
  def incrementalBest(newDocs: DataFrame, idCol: String, textCol: String,
                      priorityCol: String, index: DataFrame,
                      historyPriority: DataFrame, minJaccard: Double,
                      numHashes: Int = 16, bands: Int = 8): DataFrame = {
    val matches = incrementalNearDups(newDocs, idCol, textCol, index,
      minJaccard, numHashes, bands)
    val best = matches.groupBy(col("new_id"))
      .agg(min_by(struct(col("dup_of"), col("est_jaccard")),
        struct((lit(0.0) - col("est_jaccard")).as("nj"), col("dup_of"))).as("m"))
      .select(col("new_id"), col("m.dup_of").as("dup_of"),
        col("m.est_jaccard").as("est_jaccard"))
    val hist = historyPriority.select(col(idCol).as("dup_of"),
      coalesce(col(priorityCol).cast("double"),
        lit(Double.NegativeInfinity)).as("__hp"))
    newDocs
      .select(col(idCol).as("new_id"),
        coalesce(col(priorityCol).cast("double"),
          lit(Double.NegativeInfinity)).as("__np"))
      .join(best, Seq("new_id"), "left")
      .join(hist, Seq("dup_of"), "left")
      .select(col("new_id"),
        when(col("dup_of").isNull, lit("admit"))
          // a matched doc MISSING from historyPriority (stale/filtered
          // priority table) leaves __hp NULL after the left join —
          // coalesce it to -Inf here so the NULLS-LAST policy applies
          // to the missing-row case too (a bare `__np > NULL` would
          // silently fall through to "drop" and discard the better copy)
          .when(col("__np") >
            coalesce(col("__hp"), lit(Double.NegativeInfinity)), lit("replace"))
          .otherwise(lit("drop")).as("action"),
        col("dup_of"), col("est_jaccard"))
  }

  /** Drop near-duplicates given candidate pairs: treat (ida, idb) as
    * edges, find connected components with iterative min-label
    * propagation, keep only the minimum id of each component.
    *
    * The min label travels one hop per round, and one more round
    * observes that nothing changed, so `iterations` rounds resolve
    * components of diameter < iterations — near-dup clusters are tight
    * in practice (diameter 1-3), so the default of 8 is generous; a
    * wider component throws [[ComponentsNotConverged]]. Each round is
    * two hash joins on ids; no driver-side graph state, so it scales
    * with the cluster like any join (this is the standard large-scale
    * alternative to driver-resident union-find).
    */
  def dropNearDuplicates(docs: DataFrame, idCol: String,
                         pairs: DataFrame, iterations: Int = 8): DataFrame = {
    val labels = ccLabels(docs, idCol, pairs, iterations)
    val keep = labels.filter(col("a") === col("lbl")).select(col("a").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** [[dropNearDuplicates]] with a QUALITY-AWARE survivor: per
    * near-duplicate cluster, keep the row with the highest
    * `priorityCol` (ties → smallest id) instead of the smallest id —
    * the policy real pipelines want ("keep the longest / highest-
    * quality copy", not "keep whichever crawled first"). Same
    * join-based connected components; survivor selection is ONE extra
    * hash agg over the |V|-row label frame (`min_by` on
    * (−priority, id) — no window sort), nothing touches the corpus
    * besides the final semi-join. Isolated rows are their own cluster
    * and always survive. NULL-priority policy: NULL ranks BELOW every
    * real priority (`ORDER BY priority DESC NULLS LAST` semantics —
    * the coalesce to −∞ below; without it the struct key (np=null, id)
    * would sort FIRST in min_by and a NULL-priority row would beat its
    * whole cluster, round-8 advice); an all-NULL cluster falls back to
    * the smallest id.
    */
  def dropNearDuplicatesBy(docs: DataFrame, idCol: String,
                           priorityCol: String, pairs: DataFrame,
                           iterations: Int = 8): DataFrame = {
    val labels = ccLabels(docs, idCol, pairs, iterations)
    val pri = docs.select(col(idCol).as("a"),
      coalesce(col(priorityCol).cast("double"),
        lit(Double.NegativeInfinity)).as("__pri"))
    val keep = labels.join(pri, Seq("a"))
      .groupBy(col("lbl"))
      .agg(min_by(col("a"),
        struct((lit(0.0) - col("__pri")).as("np"), col("a"))).as("__keep"))
      .select(col("__keep").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Connected-component labels `(a, lbl)` for every id in `docs`,
    * lbl = the component's minimum id — the shared core of the two
    * survivor policies above. A round carries a per-row "label changed"
    * flag, so its convergence check is one aggregate over the cut frame;
    * a component whose diameter needs more than `iterations` rounds
    * fails with [[ComponentsNotConverged]] rather than keeping extra
    * survivors. */
  private def ccLabels(docs: DataFrame, idCol: String,
                       pairs: DataFrame, iterations: Int): DataFrame = {
    val edges = pairs.select(col("ida").as("a"), col("idb").as("b"))
      .union(pairs.select(col("idb").as("a"), col("ida").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (components, _, converged) = FixedPoint.run[DataFrame](docs.sparkSession,
      iterations, earlyStop = true,
      init = round => round.cut(docs.select(col(idCol).as("a"), col(idCol).as("lbl"))),
      step = (round, prev) => {
        val labels = prev.select("a", "lbl")
        val neighbourLbl = edges
          .join(labels.select(col("a").as("b"), col("lbl")), Seq("b"))
          .select(col("a"), col("lbl"))
        val next = labels.union(neighbourLbl)
          .groupBy("a").agg(min(col("lbl")).as("lbl"))
        round.cut(next.join(labels.withColumnRenamed("lbl", "prev"), Seq("a"))
          .select(col("a"), col("lbl"), (col("lbl") =!= col("prev")).as("chg")))
      },
      certificate = Some((_, next) =>
        !next.agg(coalesce(max(col("chg")), lit(false))).head.getBoolean(0)),
      finish = _.select("a", "lbl"),
      inputs = Seq(edges))
    if (!converged) throw ComponentsNotConverged(iterations)
    components
  }

  /** [[dropNearDuplicates]] / [[dropNearDuplicatesBy]] ran out of rounds
    * before every component's minimum id reached all its members. */
  final case class ComponentsNotConverged(iterations: Int) extends RuntimeException(
    s"near-duplicate components did not converge within iterations = $iterations " +
      "(a component's diameter needs more rounds); raise `iterations`")

  /** Benchmark-contamination report: for each document in the `test`
    * split, how many of its distinct n-gram shingles appear in ANY
    * `train` document — the decontamination check run before an
    * evaluation set is trusted. Shingling is the native ShingleHashes
    * expression and both sides join on the 64-bit shingle hash, so the
    * shuffle carries longs, not n-gram strings; the train side is
    * reduced to distinct hashes first (partial aggregation shrinks it
    * map-side). Output: (idCol, n_shingles, n_contaminated, rate).
    */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
                          splitCol: Column, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val sh = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol), splitCol.as("__split"),
        explode(ShingleHashes.shingleHashes(col(textCol), n)).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trainSh = sh.filter(col("__split") === "train").select("__sh").distinct()
    val out = sh.filter(col("__split") === "test")
      .join(trainSh.withColumn("__hit", lit(1L)), Seq("__sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_contaminated"))
      .select(col(idCol), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_shingles"), 4).as("rate"))
      .localCheckpoint(true)
    sh.unpersist()
    out
  }

  /** Blocklist subtraction with a Bloom prefilter: remove every row of
    * `df` whose key appears in `blocklist`, exactly. The blocklist
    * (a takedown list, a test-set id list) is folded into a Bloom
    * filter CONSTANT, so the bulk of a 100 TB scan is decided by a
    * codegen'd `might_contain` with zero shuffle: rows the filter
    * rejects are provably clean and bypass the join entirely; only the
    * ~fpp false-positive sliver plus true hits anti-join against the
    * real blocklist for exactness.
    *
    * When the blocklist fits a broadcast, a plain broadcast anti-join
    * is already narrow and reads the corpus once — use that. This
    * operator is for the blocklist TOO LARGE to broadcast (billions of
    * ids): the anti-join degrades to a shuffle join, and two narrow
    * scans (clean branch + candidate sliver) are far cheaper than
    * shuffling the whole corpus. Building the filter is one aggregation
    * over the blocklist side only.
    *
    * Key contract: INTEGRAL keys only (enforced) — `stat.bloomFilter`
    * inserts integral columns via putLong and the probe replays
    * mightContainLong; a string key would hash differently on the two
    * sides and silently retain blocked rows (review). NULL keys cannot
    * be blocked (SQL join semantics) and are kept.
    */
  def blocklistSubtract(df: DataFrame, keyCol: String,
                        blocklist: DataFrame, blockKeyCol: String,
                        expectedItems: Long = 1000000L,
                        fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq(df.schema(keyCol).dataType -> keyCol,
        blocklist.schema(blockKeyCol).dataType -> blockKeyCol).foreach {
      case (t, c) => require(
        t == LongType || t == IntegerType || t == ShortType || t == ByteType,
        s"blocklistSubtract needs an integral key; '$c' is $t — putLong/" +
          "mightContainLong only agree for integral columns")
    }
    val bf = blocklist.stat.bloomFilter(blockKeyCol, expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    // NULL key → might_contain is NULL → coalesce keeps the row on the
    // clean branch, matching the plain anti-join (NULL never matches)
    val mc = coalesce(graft.functions.BloomMightContain.mightContain(
      lit(bos.toByteArray), col(keyCol).cast("long")), lit(false))
    val clean = df.filter(!mc)
    val candidates = df.filter(mc)
      .join(blocklist, df(keyCol) === blocklist(blockKeyCol), "left_anti")
    clean.unionByName(candidates)
  }

  /** Fixed-width token chunks of each document as (id, ck, chunk) —
    * the sub-document grain for CCNet-style line/paragraph dedup. The
    * synthetic corpus has no line structure, so "lines" are consecutive
    * `width`-token windows; on real data pass pre-split lines through
    * the same downstream ops. Chunking is a NARROW per-row transform —
    * one compiled pass ([[graft.functions.ChunkStrings]]; the
    * composable transform(sequence, slice+array_join) formulation ran
    * interpreted inside HOFs and dominated the chunk benchmarks) —
    * nothing shuffles until a consumer aggregates.
    */
  def docChunks(docs: DataFrame, idCol: String, textCol: String,
                width: Int = 8): DataFrame = {
    require(width > 0, "chunk width must be positive")
    val spark = docs.sparkSession
    docs.repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        posexplode(graft.functions.ChunkStrings.chunkStrings(
          col(textCol), width)).as(Seq("ck", "chunk")))
  }

  /** Hash-only sibling of [[docChunks]]: (id, ck, __h) where __h is the
    * FNV-1a 64 of the chunk text ([[graft.functions.ChunkHashes]] —
    * element-wise equal to fnv64 over [[docChunks]]'s chunk column, but
    * the string is never materialized). The counting side of the chunk
    * family reads this, so no chunk text is even DECODED for the
    * duplicate-detection pass.
    */
  private def docChunkHashes(docs: DataFrame, idCol: String, textCol: String,
                             width: Int): DataFrame = {
    val spark = docs.sparkSession
    docs.repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        posexplode(graft.functions.ChunkHashes.chunkHashes(
          col(textCol), width)).as(Seq("ck", "__h")))
  }

  /** Cross-document duplicate chunks (boilerplate report): chunk texts
    * appearing in at least `minDocs` DISTINCT documents, with document
    * and occurrence counts — the "top boilerplate" diagnostic run
    * before chunk-level scrubbing.
    *
    * Scale shape: every counting shuffle is keyed on the 64-bit FNV
    * hash of the chunk, never the chunk text — the count exchanges
    * carry only longs, so their payload grows with chunk COUNT, not
    * text volume (a false merge is ~2^-64 per chunk pair, the same
    * contract as [[scrubDuplicateChunks]]). ndocs comes from a
    * two-level agg ((hash, doc) then hash) instead of
    * COUNT(DISTINCT) — no Expand, both levels partial-aggregated. The
    * display exemplar string is recovered AFTER the ≥minDocs filter:
    * the surviving hash set (the report itself — small by
    * construction) broadcasts back onto the chunk stream and a
    * map-side-combined min() moves at most one exemplar string per
    * (hash, input partition) — the minimum text traffic any
    * string-keyed report can do.
    */
  def duplicateChunks(docs: DataFrame, idCol: String, textCol: String,
                      width: Int = 8, minDocs: Int = 2,
                      broadcastDupSet: Boolean = true): DataFrame = {
    val stats = docChunkHashes(docs, idCol, textCol, width)
      .groupBy(col("__h"), col("id"))
      .agg(count(lit(1)).as("__occ"))
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("ndocs"), sum(col("__occ")).as("nocc"))
      .filter(col("ndocs") >= minDocs)
    val ch = docChunks(docs, idCol, textCol, width)
      .withColumn("__h", graft.functions.Fnv1a64.fnv64(col("chunk")))
    if (broadcastDupSet) {
      // counts ride along through the exemplar agg (they are constant
      // per hash), so the corpus is read exactly twice: once to count
      // (hashes only), once to pick exemplars for the surviving hashes
      ch.join(broadcast(stats), Seq("__h"))
        .groupBy(col("__h"), col("ndocs"), col("nocc"))
        .agg(min(col("chunk")).as("chunk"))
        .select(col("chunk"), col("ndocs"), col("nocc"))
    } else {
      // heavy-duplication fallback (the report set no longer fits a
      // broadcast): pick the exemplar per hash FIRST — the partial
      // (map-side) min caps the shuffle at one exemplar string per
      // (hash, partition) — then shuffle-join survivors on the long key
      ch.groupBy(col("__h")).agg(min(col("chunk")).as("chunk"))
        .join(stats, Seq("__h"))
        .select(col("chunk"), col("ndocs"), col("nocc"))
    }
  }

  /** Chunk-level dedup (CCNet-style line scrubbing): drop every chunk
    * whose text appears in ≥ `minDocs` distinct documents, then rebuild
    * each document from its surviving chunks in order. Returns
    * (idCol, clean_text, n_kept, n_dropped) for EVERY input document —
    * a document that was pure boilerplate comes back with an empty
    * clean_text, so downstream length filters can drop it explicitly.
    *
    * Scale shape: the duplicate-chunk set is keyed on the 64-bit FNV
    * hash of the chunk, not the string — its shuffles carry longs (a
    * false merge is ~2^-64 per chunk pair) — and by default broadcasts
    * back onto the chunk stream as a keep/drop flag. That default is a
    * fast path, not an enforced bound: on a heavily duplicated corpus
    * the dup set grows with the data, so callers facing one pass
    * `broadcastDupSet = false` (the asOf/asOfSalted pattern) to get a
    * shuffle formulation whose exchanges stay long-keyed.
    * Kept text, kept count, and total count
    * all come out of ONE per-doc aggregation over the flagged stream
    * (collect_list skips the null-when-duplicate structs), so the only
    * text-carrying exchange is the per-doc rebuild itself — inherent
    * to a text→text transform. No persist / checkpoint: the two
    * consumers of the chunk stream share its repartition exchange via
    * Catalyst's ReuseExchange, and everything past it is narrow.
    */
  def scrubDuplicateChunks(docs: DataFrame, idCol: String, textCol: String,
                           width: Int = 8, minDocs: Int = 2,
                           broadcastDupSet: Boolean = true): DataFrame = {
    val dup = docChunkHashes(docs, idCol, textCol, width)
      .select(col("__h"), col("id")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"), lit(true).as("__dup"))
    val ch = docChunks(docs, idCol, textCol, width)
      .withColumn("__h", graft.functions.Fnv1a64.fnv64(col("chunk")))
    if (broadcastDupSet) {
      ch.join(broadcast(dup), Seq("__h"), "left")
        .groupBy(col("id"))
        .agg(
          array_join(transform(array_sort(collect_list(
            when(col("__dup").isNull, struct(col("ck"), col("chunk"))))),
            c => c.getField("chunk")), " ").as("clean_text"),
          count(when(col("__dup").isNull, lit(1))).as("n_kept"),
          count(lit(1)).as("__n_chunks"))
        .select(col("id").as(idCol), col("clean_text"), col("n_kept"),
          (col("__n_chunks") - col("n_kept")).as("n_dropped"))
    } else {
      // heavy-duplication fallback (the dup-hash set no longer fits a
      // broadcast): flag drops on the HASH stream (long-only shuffle
      // join on __h), fold each doc's dropped positions into one array
      // (long shuffle on id), and apply them inside the per-doc rebuild
      // — the chunk text still crosses exactly one exchange (the
      // rebuild's groupBy(id), inherent to a text→text transform)
      val drops = docChunkHashes(docs, idCol, textCol, width)
        .join(dup.select("__h"), Seq("__h"))
        .groupBy(col("id")).agg(collect_set(col("ck")).as("__drops"))
      val empty = typedlit(Seq.empty[Int])
      ch.groupBy(col("id"))
        .agg(array_sort(collect_list(struct(col("ck"), col("chunk")))).as("__cs"),
          count(lit(1)).as("__n_chunks"))
        .join(drops, Seq("id"), "left")
        .withColumn("__d", coalesce(col("__drops"), empty))
        .select(col("id").as(idCol),
          array_join(transform(filter(col("__cs"),
            c => !array_contains(col("__d"), c.getField("ck"))),
            c => c.getField("chunk")), " ").as("clean_text"),
          (col("__n_chunks") - size(col("__d"))).as("n_kept"),
          size(col("__d")).cast("long").as("n_dropped"))
    }
  }

  /** Exact substring-span dedup (Lee et al. 2022, arXiv:2107.06499):
    * duplicate training text repeats VERBATIM at arbitrary token
    * offsets, so the detection grain is every stride-1 `width`-token
    * window, not disjoint chunks. Finds each window whose text appears
    * in ≥ `minDocs` distinct documents, merges each document's
    * overlapping duplicate windows into maximal [start, end) token
    * spans, and rebuilds the document without the spanned tokens.
    * Returns (idCol, clean_text, n_kept, n_dropped) for every document
    * with ≥1 token. Unlike the paper's keep-one-copy rule this scrubs
    * the span from EVERY document (the [[scrubDuplicateChunks]]
    * family contract); documents shorter than `width` have no full
    * window and are never scrubbed.
    *
    * Scale shape: window hashing is one compiled narrow pass
    * ([[graft.functions.RollingHashes]] — the array index IS the token
    * position); duplicate detection shuffles only (hash, id) longs and
    * broadcasts the surviving hash set back; span merge is a per-doc
    * window over HIT positions only (duplicate-dense docs, not the
    * corpus); the rebuild joins tokens to spans on the doc id (spans
    * are disjoint after the merge, so the left join stays 1:≤1) and
    * aggregates once per doc — the only text-carrying exchanges are
    * the token rebuild itself.
    */
  def scrubDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                          width: Int = 8, minDocs: Int = 2,
                          broadcastDupSet: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val win = docs.repartition(par)
      .select(col(idCol).as("id"),
        posexplode(graft.functions.RollingHashes.rollingHashes(
          col(textCol), width)).as(Seq("pos", "__h")))
    val dup = win.select(col("__h"), col("id")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__h")
    // duplicate window starts per doc → maximal merged spans: a window
    // opens a new span iff it starts past every earlier window's end.
    // broadcastDupSet=false is the heavy-duplication fallback: the hit
    // join shuffles instead — both sides of that join carry only longs
    // (id, pos, hash), so the fallback costs one long-keyed exchange,
    // never text.
    val byId = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val dupSide = if (broadcastDupSet) broadcast(dup) else dup
    val hits = win.join(dupSide, Seq("__h")).select(col("id"), col("pos"))
    val spans = hits
      .withColumn("__prevEnd", max(col("pos") + width).over(
        byId.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("__prevEnd").isNull || col("pos") > col("__prevEnd"), 1L).otherwise(0L))
      .withColumn("__span", sum(col("__brk")).over(byId.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("id"), col("__span"))
      .agg(min(col("pos")).as("__s"), (max(col("pos")) + width).as("__e"))
      .select(col("id").as("__sid"), col("__s"), col("__e"))
    // tokens with positions (width-1 chunks ARE the tokens), flagged by
    // span coverage; spans are disjoint so the left join is 1:≤1 and
    // one aggregation yields text + kept/total counts
    val toks = docs.repartition(par)
      .select(col(idCol).as("id"),
        posexplode(graft.functions.ChunkStrings.chunkStrings(
          col(textCol), 1)).as(Seq("pos", "tok")))
    toks.join(spans,
        toks("id") === col("__sid") &&
          toks("pos") >= col("__s") && toks("pos") < col("__e"),
        "left")
      .groupBy(col("id"))
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("__s").isNull, struct(col("pos"), col("tok"))))),
          c => c.getField("tok")), " ").as("clean_text"),
        count(when(col("__s").isNull, lit(1))).as("n_kept"),
        count(lit(1)).as("__n"))
      .select(col("id").as(idCol), col("clean_text"), col("n_kept"),
        (col("__n") - col("n_kept")).as("n_dropped"))
  }

  /** SemDeDup-style semantic deduplication over an embedding column
    * (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus with
    * k-means ([[Clustering.kmeansAssign]]), compare vectors only WITHIN
    * a cluster, and keep each row that has no lower-id same-cluster
    * neighbor with cosine ≥ `minCosine`. Returns the surviving
    * (idCol, cluster) rows.
    *
    * Survivor rule, precisely: a row is dropped when ANY lower-id
    * near neighbor exists — including neighbors that were themselves
    * dropped. On a similarity chain (a~b, b~c, a≁c) both b and c are
    * dropped, which over-prunes relative to SemDeDup's
    * keep-one-representative-per-group greedy scan (that scan would
    * keep c). This one-join rule is what the DuckDB oracle encodes, so
    * the query is consistent as tested; when chain-aware survivor
    * selection matters, use [[semanticDedupGreedy]] (the paper's greedy
    * scan) or resolve groups with the connected-components path
    * ([[dedupCorpus]]) over the near-pair list.
    *
    * Scale shape: the cluster id is the candidate-generation key — the
    * pair join is a keyed self-join on `cluster`, O(Σ|cluster|²)
    * instead of O(n²). `k` is the blocking knob: a real 100 TB run
    * sizes k ≈ n/⟨target cluster size⟩ (thousands+), keeping each
    * cluster's pair block bounded; assignment itself never shuffles a
    * vector (broadcast-centroid codegen argmax). The no-lower-id-
    * neighbor rule needs only the pair list, not an iterative
    * component resolution, so the prune is one join + one anti-join.
    *
    * Determinism: assignment is the fully-replayable quantized k-means;
    * the cosine prune compares raw doubles with the same left-to-right
    * fold as the DuckDB oracle — every step value-oracle-able.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, minCosine: Double): DataFrame = {
    val asn = Clustering.kmeansAssign(df, idCol, vecCol, k, iters)
      .filter(col("cluster").isNotNull)
    // one keyed join re-attaches the vector; persisted because it feeds
    // both sides of the pair join AND the final anti-join
    val withVec = df.select(col(idCol), col(vecCol)).join(asn, Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = withVec.select(col("cluster"), col(idCol).as("__ida"), col(vecCol).as("__va"))
    val b = withVec.select(col("cluster"), col(idCol).as("__idb"), col(vecCol).as("__vb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("__ida") < col("__idb"))
      .filter(graft.functions.CosineSimilarity.cosine(col("__va"), col("__vb"))
        >= minCosine)
      .select(col("__idb").as(idCol)).distinct()
    val out = withVec.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
      .localCheckpoint(true)
    withVec.unpersist()
    out
  }

  /** Chain-aware SemDeDup survivor selection — the paper's greedy
    * keep-one-representative scan, for callers who want it instead of
    * [[semanticDedup]]'s one-join rule: within each cluster, visit rows
    * in ascending id order and KEEP a row iff no already-KEPT row is
    * within `minCosine`. On the chain a~b, b~c, a≁c the one-join rule
    * drops both b and c (b's dropped-ness doesn't rescue c); the greedy
    * scan keeps c because its only near neighbor b was itself dropped.
    * Survivors are therefore always a SUPERSET of [[semanticDedup]]'s.
    * [[semanticDedup]] stays the oracled default (its rule is what the
    * DuckDB oracle replays); this variant is the documented option for
    * over-drop-sensitive corpora.
    *
    * Scale shape: identical blocking to [[semanticDedup]] — the cluster
    * id is the candidate key, and the greedy scan is inherently
    * sequential WITHIN a cluster, so it runs as one `flatMapGroups`
    * pass holding one cluster's vectors (the O(Σ|cluster|²) compare and
    * O(|cluster|) memory the blocking knob `k` already bounds). Cosine
    * here replays [[graft.functions.CosineSimilarity]]'s exact fold
    * (sequential left-to-right, double accumulators).
    */
  def semanticDedupGreedy(df: DataFrame, idCol: String, vecCol: String,
                          k: Int, iters: Int, minCosine: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val asn = Clustering.kmeansAssign(df, idCol, vecCol, k, iters)
      .filter(col("cluster").isNotNull)
    val withVec = df.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .join(asn.withColumnRenamed(idCol, "__id"), Seq("__id"))
      .select(col("cluster"), col("__id"), col("__v"))
      .as[(Long, Long, Array[Float])]
    withVec.groupByKey(_._1)
      .flatMapGroups { (cluster, it) =>
        val rows = it.toArray.sortBy(_._2)
        val keptIds = scala.collection.mutable.ArrayBuffer[Long]()
        val keptVecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
        rows.iterator.foreach { case (_, id, v) =>
          if (!keptVecs.exists(kv => greedyCosine(kv, v) >= minCosine)) {
            keptIds += id
            keptVecs += v
          }
        }
        keptIds.map(id => (id, cluster))
      }
      .toDF(idCol, "cluster")
  }

  // CosineSimilarity.compute's fold, replayed on plain arrays so the
  // greedy scan ranks pairs identically to the oracled one-join rule
  private def greedyCosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** spark.ml MinHashLSH variant of [[minhashPairs]] (kept for parity
    * with the ml pipeline API; same shingle feature space). */
  def minhashPairsML(docs: DataFrame, idCol: String, textCol: String,
                     jaccardDistanceThreshold: Double,
                     numHashTables: Int = 8, seed: Long = 42L): DataFrame = {
    val sh = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__sh", shingles(col(textCol)))
    val tf = new HashingTF().setInputCol("__sh").setOutputCol("__features")
      .setNumFeatures(1 << 18).setBinary(true)
    val featured = tf.transform(sh)
    val lsh = new MinHashLSH().setInputCol("__features").setOutputCol("__hashes")
      .setNumHashTables(numHashTables).setSeed(seed)
    val model = lsh.fit(featured)
    model.approxSimilarityJoin(featured, featured, jaccardDistanceThreshold, "dist")
      .select(col(s"datasetA.$idCol").as("ida"), col(s"datasetB.$idCol").as("idb"),
        round(col("dist"), 4).as("jaccard_dist"))
      .filter(col("ida") < col("idb"))
  }
}
