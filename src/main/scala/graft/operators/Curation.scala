package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The curation pipeline COMPOSED as a library call — the operators a
  * training-data run chains every time (quality gate → keep-best
  * near-dup dedup → leakage-safe grouped split → sequence packing),
  * wired in their canonical order so a user gets the whole flow from
  * one entry point instead of re-deriving the composition. Each stage
  * is the existing audited operator ([[TextAnalysis.qualityScore]],
  * [[Dedup.ngramJaccardPairs]] + [[Dedup.dropNearDuplicatesBy]],
  * [[Sampling.groupSplit]], [[Sampling.packBins]]); this object adds
  * NO new semantics, only the composition — which is exactly what the
  * x_curation_funnel oracle value-checks end to end.
  *
  * Scale shape: every stage keeps its own audited plan (the dedup
  * stage's banded candidate generation, the split's pure-hash
  * assignment, packing's bucketed prefix sum in the sharded form).
  * The returned frames are lazy — a caller materializing more than one
  * should persist `quality` first, since each stage's plan builds on
  * the previous one's.
  */
object Curation {

  /** The four stage frames, lazy and plan-shared: `quality` (gated
    * docs), `deduped` (near-dup survivors, best copy kept), `train`
    * (the train-split rows — `val`/`test` are the dropped buckets),
    * `packed` ((orderCol, toks, bin) under the token budget).
    *
    * `quality` is PERSISTED by [[curate]] (every other frame — and the
    * dedup machinery's own eager passes — reads it, so the gate's
    * regex pass over the corpus runs once instead of once per
    * consumer); call [[Stages.release]] when done with the frames.
    * [[funnelReport]] releases it itself. */
  case class Stages(quality: DataFrame, deduped: DataFrame,
                    train: DataFrame, packed: DataFrame) {
    /** Drop the cached quality frame — call after the last action over
      * any stage frame (a no-op if already released). */
    def release(): Unit = quality.unpersist()
  }

  /** Run the pipeline over `docs`. `idCol` uniquely identifies a doc,
    * `textCol` is the text, `priorityCol` ranks near-dup cluster
    * members (highest kept), `groupCol` is the leakage unit the split
    * hashes (source/domain/author). `minQuality` gates on
    * [[TextAnalysis.qualityScore]]; `minJaccard` is the near-dup
    * threshold; `valBuckets`/`testBuckets` of `nBuckets` go to
    * val/test; `tokenBudget` caps a packed sequence. Token counts use
    * whitespace tokens ([[TextAnalysis.tokenCount]]) — swap in a BPE
    * count by packing the returned `train` frame yourself when exact
    * subword budgeting matters (x_seq_pack_bpe's shape). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             priorityCol: String, groupCol: String,
             minQuality: Double = 0.8, minJaccard: Double = 0.5,
             nBuckets: Int = 10, valBuckets: Set[Int] = Set(0),
             testBuckets: Set[Int] = Set(1),
             tokenBudget: Int = 512): Stages = {
    require(minQuality >= 0.0 && minQuality <= 1.0,
      s"Curation: minQuality must be in [0, 1], got $minQuality")
    // spread the gate: the quality regexes are CPU-heavy per byte and a
    // small corpus often arrives as one input split — and every later
    // stage (and the funnel report) builds on this frame, so the
    // exchange is shared by reuse while the parallelism survives into
    // each consumer (the Dedup repartition discipline).
    // PERSISTED: the dedup stage below runs two EAGER passes at
    // construction time (the pair checkpoint and the CC-label seed),
    // and every returned frame plus the funnel report reads this frame
    // again — uncached, the gate's regex pass over the whole corpus ran
    // once per consumer (measured 8-10 recomputes ≈ 25-30 core-seconds
    // each at sf0.1, the whole cost of the funnel query). The first
    // eager pass populates the cache; callers release via
    // [[Stages.release]] (guide §5: cache only what is re-read).
    val quality = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .filter(TextAnalysis.qualityScore(col(textCol)) >= minQuality)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.ngramJaccardPairs(quality, idCol, textCol,
      threshold = minJaccard)
    val deduped = quality.join(
      Dedup.dropNearDuplicatesBy(
        quality.select(col(idCol), col(priorityCol)),
        idCol, priorityCol, pairs).select(idCol),
      Seq(idCol))
    val train = Sampling.groupSplit(deduped, groupCol, nBuckets,
        valBuckets, testBuckets)
      .filter(col("split") === "train")
    val packed = Sampling.packBins(
      train.select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("toks")),
      idCol, "toks", tokenBudget)
    Stages(quality, deduped, train, packed)
  }

  /** The per-stage (docs, tokens) funnel every curation run reports —
    * one row per stage in pipeline order (`a_all` … `e_packed`; the
    * packed row's `docs` is the BIN count). This is the
    * x_curation_funnel readout.
    *
    * ONE lazy five-branch union job: [[curate]]'s construction-time
    * eager passes already populated the persisted `quality` cache, so
    * every branch reads it instead of re-running the gate, and the
    * dedup survivor set rides in as one reused broadcast (its own
    * inputs — the CC labels and the priority projection — are a
    * checkpoint and the cache respectively). The earlier sequential
    * persist-and-count formulation (3 extra actions + 2 extra caches
    * over frames that are cheap joins off the quality cache) measured
    * 2× SLOWER at sf0.1 (10.4 s vs 5.2) — re-materializing cheap
    * derivations is not worth one action each (guide §1.2: algorithm
    * before caching). The collect is bounded at exactly five rows by
    * construction; the quality cache is released before returning
    * unless `release = false` (pass false when you still plan to
    * materialize the returned Stages — the cache is then yours to drop
    * via [[Stages.release]]). */
  def funnelReport(docs: DataFrame, textCol: String,
                   stages: Stages, release: Boolean = true): DataFrame = {
    // Populate the quality cache BEFORE the five-branch union runs
    // (ADVICE r18): the single lazy union is only cheap because every
    // branch reads the cached gate — if the cache is set but unpopulated
    // (funnelReport on hand-built Stages, cached blocks lost, or a
    // second call after release) the concurrent branches race to
    // recompute the regex pass up to 4x. One count() reads cached rows
    // when warm (~tens of ms) and is the single gate pass the union
    // would pay anyway when cold.
    if (stages.quality.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      stages.quality.count()
    def stage(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("docs"),
          coalesce(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")),
            lit(0L)).as("tokens"))
        .select(lit(name).as("stage"), col("docs"), col("tokens"))
    val report =
      stage("a_all",
          docs.repartition(docs.sparkSession.sparkContext.defaultParallelism))
        .unionAll(stage("b_quality", stages.quality))
        .unionAll(stage("c_dedup", stages.deduped))
        .unionAll(stage("d_train", stages.train))
        .unionAll(stages.packed
          .agg(countDistinct(col("bin")).as("docs"),
            coalesce(sum(col("toks")), lit(0L)).as("tokens"))
          .select(lit("e_packed").as("stage"), col("docs"), col("tokens")))
        .orderBy("stage")
    val rows = report.collect() // five rows by construction — see scaladoc
    // `release = false` keeps the quality cache for callers that go on
    // to materialize train/packed after reading the report (ADVICE r18:
    // the unconditional unpersist made every later action on the
    // returned Stages silently re-run the full gate); the default
    // releases, matching the one-shot report-only call shape.
    if (release) stages.release()
    docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), report.schema)
  }
}
