package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact set-similarity join via PREFIX FILTERING (the AllPairs /
  * PPJoin family, Bayardo et al. WWW'07; also the blocking behind many
  * entity-resolution engines): all unordered pairs of sets whose
  * Jaccard similarity meets a threshold, WITHOUT the all-pairs join.
  *
  * Principle: order every set by one GLOBAL total order (rarest item
  * first); if J(A,B) >= t, the two sets must share at least one item
  * inside their first |s| - ceil(t*|s|) + 1 items under that order —
  * so an equi-join on PREFIX items finds every qualifying pair, and
  * rarest-first ordering makes those prefix items the least frequent
  * ones, keeping the candidate join's key fan-out minimal. Candidates
  * are then verified exactly.
  *
  * Scale shape: one shuffle builds the per-set sorted arrays (reused by
  * the prefix pass AND verification), the candidate join is keyed on
  * prefix items (never a cartesian), a size-compatibility filter
  * (t*|A| <= |B| <= |A|/t) prunes before dedup, and verification is a
  * narrow array_intersect over the two bounded arrays. Like MinHash
  * banding this never materializes all pairs — unlike MinHash it is
  * EXACT (no estimation error), the right tool when the threshold is a
  * contract rather than a heuristic.
  */
object SetSimJoin {

  /** Float-boundary guard for the candidate-stage bounds: every prune
    * compares an IEEE double product t·n against an integer while the
    * verify stage compares its OWN double ratio, so the prunes must be
    * at least as permissive as the verify at threshold boundaries. The
    * worst-case absolute product error is t·n·2⁻⁵² ≤ 2³¹·2⁻⁵² < 5·10⁻⁷
    * (set sizes are Int-bounded), so subtracting 10⁻⁶ dominates it —
    * and widens a bound only when t·n sits within 10⁻⁶ of an integer,
    * where the algebraic cut is ambiguous anyway. */
  private val UlpSlack = 1e-6

  /** All pairs with Jaccard >= `minJaccard` over the sets formed by
    * grouping `itemCol` by `idCol` (duplicates collapse). Output
    * `(id_a, id_b, n_a, n_b, inter, jaccard)` with id_a < id_b,
    * jaccard rounded to 6 (a ratio of exact integer counts).
    *
    * `maxSetSize`: a set lives in ONE aggregation-buffer row for the
    * verify pass — the same enforced fail-fast bound as the sequence
    * folds (EventAnalytics.boundedSeries): a hot id fails loud with
    * the fix named instead of OOMing a task.
    */
  def jaccardJoin(df: DataFrame, idCol: String, itemCol: String,
                  minJaccard: Double, maxSetSize: Int = 1000000): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"jaccardJoin: minJaccard $minJaccard outside (0,1]")
    require(maxSetSize > 0, s"jaccardJoin: maxSetSize must be positive")
    // items ride as their 64-bit FNV-1a hashes from here on (the
    // ngramJaccardPairs convention): the candidate equi-join keys,
    // the per-set sorted arrays and the exact-verify intersection all
    // carry 8-byte longs instead of token strings — smaller shuffles
    // (guide §2.2), cheaper sorts, and array_intersect hashes longs
    // instead of re-hashing UTF-8 per candidate (§4). A collision
    // merging two distinct items within one set is ~n²·2⁻⁶⁴ — far
    // below any float-noise threshold the join itself tolerates. The
    // global rarest-first order tie-breaks by hash instead of item
    // text; the prefix bound only needs ONE fixed total order shared
    // by every set, so candidates stay complete and the exact verify
    // yields byte-identical pairs/counts.
    val s = df.select(col(idCol).as("id"),
        graft.functions.Fnv1a64.fnv64(col(itemCol).cast("string")).as("item"))
      .distinct()
    // global item frequency — the total order (f asc, item asc) every
    // set is sorted by; rarest-first puts the most selective items in
    // the prefixes. Plain join: AQE broadcasts the frequency side when
    // it is small, and at vocabulary scale a shuffle join is correct.
    val freq = s.groupBy(col("item")).agg(count(lit(1)).as("f"))
    val sets = s.join(freq, Seq("item"))
      // pin the set-building aggregation's parallelism: the per-group
      // sort_array(collect_list) is CPU-heavy per byte, so AQE's
      // size-based coalescing under-parallelizes it; the explicit-N
      // id-keyed exchange IS the aggregation's required partitioning
      // (N = shuffle.partitions), so no second shuffle appears at any
      // scale — only the partition count stops being byte-derived
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("id"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("f"), col("item")))).as("fi"))
      .select(col("id"),
        when(size(col("fi")) <= maxSetSize,
          transform(col("fi"), x => x.getField("item")))
          .otherwise(raise_error(concat(
            lit("jaccardJoin: set for id "), col("id").cast("string"),
            lit(" has "), size(col("fi")).cast("string"),
            lit(s" items, exceeding maxSetSize=$maxSetSize — raise the bound " +
              "or pre-filter the hot id")))).as("items"),
        size(col("fi")).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // populate before the candidate plan runs: the two verify-side
    // projections ride in as BROADCAST builds and the prefix self-join
    // reads the frame through two differently-aliased exchanges — all
    // of them execute against the cache, but only if it is populated
    // FIRST; otherwise each consumer recomputes the whole
    // distinct+frequency+sort_array chain (the Dedup/GraphStats
    // broadcast-subtree discipline, guide §5)
    sets.count()
    // prefix length |s| - ceil(t*|s|) + 1 (Jaccard prefix bound). The
    // bound is computed in IEEE doubles while the verify compares its
    // OWN double ratio, so a one-ulp UPWARD rounding of t*|s| at an
    // integer boundary could push ceil one past the algebraic value
    // and shorten the prefix past losslessness; ceil(x − ε) with
    // ε = [[UlpSlack]] restores it — prune stages must never be
    // stricter than the verify (review). Slack only admits candidates
    // (and only when t·|s| sits within ε of an integer); the exact
    // verify still decides.
    val plen = (col("n") -
      ceil(lit(minJaccard) * col("n") - UlpSlack) + 1).cast("int")
    val prefixes = sets.select(col("id"), col("n"),
      explode(slice(col("items"), lit(1), plen)).as("item"))
    val cand = prefixes.select(col("item"), col("id").as("id_a"), col("n").as("na"))
      .join(prefixes.select(col("item"), col("id").as("id_b"), col("n").as("nb")),
        Seq("item"))
      .filter(col("id_a") < col("id_b"))
      // J >= t forces t*|A| <= |B| and t*|B| <= |A|, with the same ε
      // guard on the double products at threshold boundaries
      .filter(col("na") >= lit(minJaccard) * col("nb") - UlpSlack &&
        col("nb") >= lit(minJaccard) * col("na") - UlpSlack)
      .select(col("id_a"), col("id_b")).distinct()
      // the exact verify below is the heavy per-row stage (an
      // array_intersect over two full sets per candidate) and runs in
      // THESE partitions when the set side broadcasts — spread it over
      // the cores regardless of how far AQE coalesced the tiny
      // (id_a, id_b) exchange (the Dedup repartition discipline;
      // measured ~free on a many-split source, BASELINE.md §14)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val out = cand
      .join(sets.select(col("id").as("id_a"), col("items").as("ia"),
        col("n").as("n_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("items").as("ib"),
        col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("ia"), col("ib"))).cast("long"))
      // threshold on the UNROUNDED ratio (identical int-division doubles
      // on any engine); round only for display
      .withColumn("jac", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jac") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"), col("inter"),
        round(col("jac"), 6).as("jaccard"))
    // small verified output materializes; the heavy set cache releases
    // on return (the minhashPairs lifecycle pattern)
    val materialized = out.localCheckpoint(true)
    sets.unpersist()
    materialized
  }

  /** Exact CONTAINMENT join: all DIRECTED pairs (A from `probe`, B
    * from `index`) where at least `minContainment` of A's items also
    * appear in B — c(A,B) = |A∩B|/|A| ≥ t. The asymmetric case
    * [[jaccardJoin]] misses by construction: a template/eval item
    * fully inside a much larger document scores J = |A|/|B| ≈ 0
    * however perfect the overlap, while c(A,B) = 1. This is the
    * near-SUBSET duplicate detector (license blocks, navigation
    * chrome, quoted-in-full sources) and the set form of contamination
    * screening — probe = the eval/benchmark items, index = the
    * training corpus, "which corpus docs contain this eval item".
    * Pass the same frame twice for the self-join form (id_a ≠ id_b is
    * always enforced).
    *
    * Prefix bound (asymmetric): c(A,B) ≥ t forces A and B to share an
    * item within A's first |A| − ⌈t·|A|⌉ + 1 items under a fixed
    * global order — but the shared item can sit ANYWHERE in B, so
    * only the PROBE side prunes to a prefix; the index side keys on
    * all items (the probe-prefix scheme of the containment-join
    * literature). The order is rarest-first by INDEX-side frequency
    * (the bound holds for ANY fixed total order; index frequency makes
    * prefix items maximally selective, and probe items absent from the
    * index sort LAST — they can never join, so the prefix spends its
    * length on joinable items). Size filter: |B| ≥ t·|A| (the
    * intersection cannot exceed |B|); no upper bound on |B| exists —
    * that is the point. Still an item-keyed equi-join, never a
    * cartesian. Output `(id_a, id_b, n_a, n_b, inter, containment)`;
    * threshold applies to the unrounded integer-count ratio, rounded
    * to 6 for display. Same `maxSetSize` fail-fast contract as
    * [[jaccardJoin]], on both sides.
    */
  def containmentJoin(probe: DataFrame, index: DataFrame,
                      idCol: String, itemCol: String,
                      minContainment: Double,
                      maxSetSize: Int = 1000000): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      s"containmentJoin: minContainment $minContainment outside (0,1]")
    require(maxSetSize > 0, s"containmentJoin: maxSetSize must be positive")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // items as 64-bit FNV-1a hashes throughout (the jaccardJoin
    // rationale: long join keys / arrays / intersections instead of
    // token strings; collisions ~n²·2⁻⁶⁴, candidates stay complete
    // under any one fixed global order)
    def hashed(side: DataFrame) = side.select(col(idCol).as("id"),
        graft.functions.Fnv1a64.fnv64(col(itemCol).cast("string")).as("item"))
      .distinct()
    val pr = hashed(probe)
    // persisted: the index token frame feeds the frequency aggregation
    // AND its own toSets scan; freq joins into BOTH toSets scans — an
    // unpersisted chain would re-run the distinct and the vocabulary
    // aggregation per consumer (review)
    val ix = hashed(index).persist(lvl)
    // populate each persisted frame before its consumers' broadcast
    // builds run (the jaccardJoin discipline): freq feeds BOTH toSets
    // scans, and the two set frames feed both the candidate explodes
    // and the verify joins' broadcast builds
    ix.count()
    // the global order: index-side item frequency; probe-only items
    // coalesce to Long.Max and sort last (they cannot join)
    val freq = ix.groupBy(col("item")).agg(count(lit(1)).as("f")).persist(lvl)
    freq.count()
    def toSets(side: DataFrame, who: String): DataFrame = side
      .join(freq, Seq("item"), "left")
      // the jaccardJoin parallelism pin: CPU-heavy per-group sort, so
      // the explicit-N id-keyed exchange replaces (not adds to) the
      // aggregation's own shuffle
      .repartition(side.sparkSession.sessionState.conf.numShufflePartitions,
        col("id"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(
        coalesce(col("f"), lit(Long.MaxValue)).as("f"), col("item")))).as("fi"))
      .select(col("id"),
        when(size(col("fi")) <= maxSetSize,
          transform(col("fi"), x => x.getField("item")))
          .otherwise(raise_error(concat(
            lit(s"containmentJoin: $who set for id "), col("id").cast("string"),
            lit(" has "), size(col("fi")).cast("string"),
            lit(s" items, exceeding maxSetSize=$maxSetSize — raise the bound " +
              "or pre-filter the hot id")))).as("items"),
        size(col("fi")).as("n"))
    val pSets = toSets(pr, "probe").persist(lvl)
    val iSets = toSets(ix, "index").persist(lvl)
    // populate BOTH set frames with one action (ADVICE r18): they are
    // independent, so a single union-count materializes them in one job
    // — their partitions run concurrently instead of as two serialized
    // driver round-trips. ix and freq are already warm above, so the
    // two branches read caches, not racing recomputes.
    pSets.select(col("id")).unionAll(iSets.select(col("id"))).count()
    // probe side: A's containment prefix |A| - ceil(t*|A|) + 1, with
    // the [[UlpSlack]] guard on the double ceil (the jaccardJoin
    // float-boundary rationale: prune stages must never be stricter
    // than the verify's own float compare)
    val plen = (col("n") -
      ceil(lit(minContainment) * col("n") - UlpSlack) + 1).cast("int")
    val probeX = pSets.select(col("id").as("id_a"), col("n").as("na"),
      explode(slice(col("items"), lit(1), plen)).as("item"))
    // index side: ALL items (a matching item sits anywhere in B)
    val indexX = iSets.select(col("id").as("id_b"), col("n").as("nb"),
      explode(col("items")).as("item"))
    val cand = probeX.join(indexX, Seq("item"))
      .filter(col("id_a") =!= col("id_b"))
      // |B| >= t|A| with the same ε guard at threshold boundaries
      .filter(col("nb") >= lit(minContainment) * col("na") - UlpSlack)
      .select(col("id_a"), col("id_b")).distinct()
      // spread the exact verify (array_intersect per candidate) — the
      // jaccardJoin rationale
      .repartition(probe.sparkSession.sparkContext.defaultParallelism)
    val out = cand
      .join(pSets.select(col("id").as("id_a"), col("items").as("ia"),
        col("n").as("n_a")), Seq("id_a"))
      .join(iSets.select(col("id").as("id_b"), col("items").as("ib"),
        col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("ia"), col("ib"))).cast("long"))
      .withColumn("cont", col("inter").cast("double") / col("n_a").cast("double"))
      .filter(col("cont") >= minContainment)
      .select(col("id_a"), col("id_b"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"), col("inter"),
        round(col("cont"), 6).as("containment"))
    val materialized = out.localCheckpoint(true)
    pSets.unpersist(); iSets.unpersist(); freq.unpersist(); ix.unpersist()
    materialized
  }
}
