package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Similarity

/** Embedding / similarity-search queries: declared Q18 plus ANN
  * extensions (SURVEY §2.B X17/X20/X25).
  *
  * Cosine is computed with codegen'd higher-order functions in double
  * precision, folded left-to-right within a row — IEEE-identical to the
  * DuckDB oracle's list_cosine_similarity over DOUBLE[].
  */
object Vectors {
  private type Q = (SparkSession, String) => DataFrame
  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  val defs: Map[String, Q] = Map(
    "q18_cosine_pairs" -> ((s, dir) => {
      val e = emb(s, dir)
      val a = e.select(col("vec_id").as("vec_id"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("vid_b"), col("embedding").as("eb"))
      a.filter(col("vec_id") % 2 === 0)
        .join(b, col("vid_b") === col("vec_id") + 1)
        .select(col("vec_id"),
          // round via decimal(10,4) for cross-engine determinism, then
          // hand the driver a DOUBLE — its hasher renders trailing-zero
          // decimals inconsistently (round-1 verdict).
          graft.functions.CosineSimilarity.cosine(col("ea"), col("eb"))
            .cast("decimal(10,4)").cast("double").as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(20)
    }),

    "x_ann_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        e.filter(col("vec_id") === 0), k = 20)
    }),

    "x_sq_recall" -> ((s, dir) => {
      // int8 scalar-quantization recall report (Similarity.sqRecall):
      // the 4x-memory ANN trade measured — quantized-cosine top-20 vs
      // the exact x_ann_topk cut. Every sum under cos_q is an exact
      // integer (codes fold in array order), so the approx ranking is
      // bit-deterministic with no decimal pinning; scales are a d-row
      // planning-sized literal (the pqCodebook contract).
      val e = emb(s, dir)
      val scales = Similarity.sqScales(e, "embedding")
      Similarity.sqRecall(e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        scales, e.filter(col("vec_id") === 0), "embedding", k = 20)
    }),

    "x_ivf_sq_topk" -> ((s, dir) => {
      // IVF × int8-SQ composition (Similarity.ivfSqTopK): coarse cells
      // prune, the quantized-cosine scan re-ranks. Probe budget covers
      // every cell (the x_ivf_topk convention), so the result is
      // EXACTLY the sqTopK ranking and the oracle below replays the
      // integer quantization bit-for-bit; the recall-vs-nprobe
      // tradeoff (probing FEWER cells) is exercised in ScalaTest
      // against the in-engine exact baseline. Coarse centroids are the
      // deterministic pqCodebook seam (first 16 vectors, one
      // subspace-free codebook — a real deployment trains k-means).
      val e = emb(s, dir)
      val coarse = Similarity.pqCodebook(
        e.filter(col("vec_id").between(1, sqIvfCells)), "vec_id", "embedding",
        numSubspaces = 1, codebookSize = sqIvfCells)(0)
      val scales = Similarity.sqScales(e, "embedding")
      Similarity.ivfSqTopK(e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          coarse, scales, e.filter(col("vec_id") === 0), "embedding",
          k = 20, nprobe = sqIvfCells)
        .select(col("vec_id"), round(col("cos_q"), 6).as("cos_q"))
    }),

    "x_ivf_topk" -> ((s, dir) => {
      // IVF plumbing end-to-end under the driver's oracle: deterministic
      // coarse centroids (every 100th vector doubles as one — a real
      // deployment trains k-means, the operator only needs SOME fixed
      // centroid table) and a probe budget covering every centroid, so
      // the result is exactly the brute-force top-k and the x_ann_topk
      // oracle applies verbatim. The recall-vs-nprobe tradeoff (probing
      // FEWER centroids) is exercised in ScalaTest, where approximate
      // output is comparable against the in-engine exact baseline.
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      // nprobe far above the centroid count at every test SF (every
      // 100th vector: 20 at sf0.1's 2 000 embeddings, 200 even at a
      // hypothetical sf1) → full probe, so the exact x_ann_topk oracle
      // applies; yet small enough that the probe ranking stays
      // TakeOrderedAndProject (Int.MaxValue forced a two-stage global
      // sort on the probe side). If the corpus ever outgrows this, the
      // driver's IVF==exact check fails loudly — nprobe is the knob.
      Similarity.ivfTopK(e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        cents, "cid", "cvec", e.filter(col("vec_id") === 0),
        k = 20, nprobe = 1000)
    }),

    "x_embed_norms" -> ((s, dir) => {
      // per-label embedding-norm profile — the vector-corpus health
      // check (un-normalized rows wreck dot-product ANN) before any
      // index build. Norm = the order-pinned sequential double fold
      // (left→right, exact cross-engine); min/max compare exactly, the
      // cross-row avg absorbs shuffle-order jitter under ROUND(4). One
      // narrow codegen pass + one partial-agged hash agg.
      val norm = sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double")))
      emb(s, dir)
        .select(col("label"), norm.as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(col("nrm")), 4).as("avg_norm"),
          round(min(col("nrm")), 4).as("min_norm"),
          round(max(col("nrm")), 4).as("max_norm"))
        .orderBy("label")
    }),

    "x_quantize" -> ((s, dir) => {
      // int8 scalar quantization audit — the 4× embedding-storage
      // shrink every 100 TB vector corpus applies before indexing.
      // Per-vector max-abs scale, floor quantization (floor, not
      // round: Spark's ANSI double→int cast truncates while DuckDB's
      // CAST rounds — floor() is bit-identical in both engines), and
      // integer summaries (qsum/qmin/qmax are exact, no float-hash
      // risk). One codegen'd pass per row via the native QuantStats
      // expression (the HOF form was three interpreted passes —
      // review); the only shuffle is the output sort.
      emb(s, dir)
        .select(col("vec_id"),
          graft.functions.QuantStats.stats(col("embedding")).as("st"))
        .select(col("vec_id"),
          round(col("st.scale"), 4).as("scale_r"),
          col("st.qsum").as("qsum"),
          col("st.qmin").as("qmin"),
          col("st.qmax").as("qmax"))
        .orderBy("vec_id")
    }),

    "x_lsh_pairs" -> ((s, dir) => {
      // random-hyperplane LSH near-pairs under a FULL value oracle —
      // the last deterministic hash-family operator that was spec-only.
      // The hyperplane family is splitmix64-derived (no RNG), and the
      // weight mapping (top-53-bits / 2^53 * 2 - 1) plus the sequential
      // double-precision projection are all exactly representable /
      // order-pinned, so DuckDB can replay bucket assignment
      // bit-for-bit (see the oracle below). planes=10 keeps candidate
      // buckets non-trivial at every SF (15/15/223 output pairs). The
      // parameters are shared vals so the def and the replay SQL can
      // never drift apart.
      Similarity.lshNearPairs(emb(s, dir), "vec_id", "embedding",
        minCosine = lshMinCosine, planes = lshPlanes, seed = lshSeed)
        .orderBy("ida", "idb")
    }),

    "x_knn_join" -> ((s, dir) => {
      // batched exact kNN: top-10 corpus neighbours for each of 5 query
      // vectors through the bounded-buffer TopK aggregate — the shuffle
      // carries k-element heaps per (query, partition), never the
      // corpus×queries candidate stream
      val e = emb(s, dir)
      Similarity.knnJoin(
        e.filter(col("vec_id") >= 5).select(col("vec_id").as("nid"), col("embedding")),
        "nid", "embedding",
        e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding")),
        "qid", "embedding", k = 10)
        .orderBy("qid", "rank")
    }),

    "x_hard_negatives" -> ((s, dir) =>
      // hard-negative mining (Similarity.hardNegatives): each vector's
      // top-3 nearest DIFFERENT-label neighbours — the contrastive-
      // training pairs. The mismatch predicate rides in the join
      // condition (same-label candidates never reach the aggregate);
      // bounded-buffer TopK per query, decimal-pinned scores.
      Similarity.hardNegatives(emb(s, dir), "vec_id", "embedding",
          "label", k = 3)
        .orderBy("vec_id", "rank")),

    "x_hard_negatives_ivf" -> ((s, dir) => {
      // the SCALE PATH for hard-negative mining (round-16 verdict item
      // 3, Similarity.hardNegativesIvf): candidates come from a
      // cell-keyed equi-join over the coarse quantizer instead of a
      // corpus-wide broadcast, so the operator keeps working past the
      // 100k broadcast bound where hardNegatives fails loud. Probe
      // budget covers every cell (the x_ivf_topk convention), so the
      // candidate set — and therefore the TopK result — EQUALS
      // x_hard_negatives row-for-row and the same brute-force oracle
      // applies verbatim; the recall-vs-nprobe trade (probing FEWER
      // cells) is exercised in ScalaTest against the in-engine exact
      // baseline. Coarse centroids are the deterministic pqCodebook
      // seam (first 16 vectors, one subspace-free codebook).
      val e = emb(s, dir)
      val coarse = Similarity.pqCodebook(
        e.filter(col("vec_id").between(1, sqIvfCells)), "vec_id", "embedding",
        numSubspaces = 1, codebookSize = sqIvfCells)(0)
      Similarity.hardNegativesIvf(e, "vec_id", "embedding", "label",
          k = 3, coarse, nprobe = sqIvfCells)
        .orderBy("vec_id", "rank")
    }),

    "x_hard_negatives_ivf_probe" -> ((s, dir) => {
      // the APPROXIMATE mode of the scale path, value-oracled: nprobe
      // = 4 of 16 cells — the configuration a 100 TB deployment
      // actually runs (candidates from ~1/4 of the corpus; recall
      // rides the probe budget). Deterministic end-to-end (argmin cell
      // ties to the lowest id, probe ranking ties (L2², cell), TopK
      // struct order), so the oracle replays cell assignment, the
      // per-query probe list, the filtered label-crossing kNN and the
      // rank cut — the first fully value-oracled approximate-ANN mode
      // in the engine (x_ivf_topk et al. oracle only their full-probe
      // forms).
      val e = emb(s, dir)
      val coarse = Similarity.pqCodebook(
        e.filter(col("vec_id").between(1, sqIvfCells)), "vec_id", "embedding",
        numSubspaces = 1, codebookSize = sqIvfCells)(0)
      Similarity.hardNegativesIvf(e, "vec_id", "embedding", "label",
          k = 3, coarse, nprobe = hnProbe)
        .orderBy("vec_id", "rank")
    }),

    "x_hard_negatives_part" -> ((s, dir) => {
      // the INGEST-LAYOUT mode of the scale path (round-17 verdict item
      // 5, Similarity.hardNegativesIvfPartitioned): the corpus lives
      // CELL-PARTITIONED (hive layout, cell id computed once at write —
      // cellPartitionedCorpus, the x_bucketed_join persisted-layout
      // convention), and hard negatives are mined for the vec_id % 8
      // training batch at nprobe = 4 of 16. The cell equi-key is now a
      // partition column against a broadcast query side, so dynamic
      // partition pruning drops unprobed cell directories from the
      // candidate scan at runtime (PlanSpec-locked — the x_dpp_join
      // shape on an ANN index). Values equal hardNegativesIvf's rows
      // for the same queries; the oracle is the probe replay with the
      // same batch restriction.
      val e = emb(s, dir)
      val coarse = Similarity.pqCodebook(
        e.filter(col("vec_id").between(1, sqIvfCells)), "vec_id", "embedding",
        numSubspaces = 1, codebookSize = sqIvfCells)(0)
      val part = Similarity.cellPartitionedCorpus(s, dir, e,
        "vec_id", "embedding", "label", coarse)
      Similarity.hardNegativesIvfPartitioned(part, "vec_id", "embedding",
          "label", "cell", k = 3, coarse, nprobe = hnProbe,
          col("vec_id") % 8 === 0)
        .orderBy("vec_id", "rank")
    }),

    "x_kmeans" -> ((s, dir) =>
      // two Lloyd iterations, k=4, integer-quantized vectors — fully
      // value-oracled (every vec_id's final cluster): quantization
      // makes the update sums exact and the assignment cosine is the
      // same left-to-right fold the DuckDB replay runs (see
      // kmeansSeqCos below / operators/Clustering.scala determinism
      // notes)
      graft.operators.Clustering.kmeansAssign(
        emb(s, dir), "vec_id", "embedding", k = 4, iters = 2)
        // a zero-norm quantized vector would get cluster NULL (NaN
        // cosine against every centroid); the oracle's NOT isnan drops
        // such rows — mirror that so the two sides agree even on the
        // degenerate input (review; none exist in this corpus)
        .filter(col("cluster").isNotNull)
        .orderBy("vec_id")),

    "x_label_centroid" -> ((s, dir) => {
      // per-label mean-pooled embedding, exact-integer form: quantize
      // (narrow codegen) → posexplode → partial-aggregated (label, dim)
      // integer sums — the same scale shape as the k-means update, and
      // the group-wise pooling every "average embedding per domain /
      // language / source" report needs. Outputs are exact integers
      // (sums of quantized values), so the oracle is exact.
      val q = emb(s, dir).select(col("label"),
        graft.functions.QuantizeVec.quantize(col("embedding"), 10000).as("qv"))
      q.select(col("label"), posexplode(col("qv")).as(Seq("pos", "q")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("c"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("dims"),
          max(col("c")).as("n_vecs"),
          sum(col("s")).cast("bigint").as("qsum_total"),
          min(col("s")).cast("bigint").as("qsum_min"),
          max(col("s")).cast("bigint").as("qsum_max"))
        .orderBy("label")
    }),

    "x_semdedup" -> ((s, dir) =>
      // SemDeDup (cluster → within-cluster cosine prune → greedy
      // earliest survivor) — the semantic companion to the MinHash
      // family, fully value-oracled: k-means assignment replay (the
      // x_kmeans machinery) + the raw-double cosine compare proven
      // bit-identical in x_embed_neardup. k=4 keeps the oracle's pair
      // CTE tractable; k is the blocking knob at scale (see
      // operators/Dedup.semanticDedup scaladoc).
      graft.operators.Dedup.semanticDedup(
        emb(s, dir), "vec_id", "embedding",
        k = 4, iters = 2, minCosine = semMinCos)
        .orderBy("vec_id")),

    "x_cluster_stats" -> ((s, dir) => {
      // k-means evaluation report: per-cluster size, majority label,
      // and purity — the "did the clustering find structure" check an
      // embedding-curation run does after Lloyd. Assignment is the
      // narrow replayable path; then one keyed join to labels and two
      // partial-aggregated hash aggs (k·|labels| rows after map-side
      // combine). Majority ties break to the lowest label.
      val e = emb(s, dir)
      val asn = graft.operators.Clustering.kmeansAssign(
        e, "vec_id", "embedding", k = 4, iters = 2)
        .filter(col("cluster").isNotNull)
      val byLab = e.select(col("vec_id"), col("label")).join(asn, Seq("vec_id"))
        .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster").orderBy(col("c").desc, col("label"))
      byLab.withColumn("rn", row_number().over(w))
        .groupBy(col("cluster"))
        .agg(sum(col("c")).cast("bigint").as("n_vecs"),
          max(when(col("rn") === 1, col("label"))).as("top_label"),
          max(when(col("rn") === 1, col("c"))).as("top_c"))
        .select(col("cluster"), col("n_vecs"), col("top_label"),
          round(col("top_c").cast("double") / col("n_vecs"), 4).as("purity"))
        .orderBy("cluster")
    }),

    "x_pq_topk" -> ((s, dir) => {
      // product-quantization ANN (the IVF-PQ compression path): 8
      // subspaces × 16 codewords from the first 16 vectors (the
      // ivfTopK deterministic-centroid seam — a real deployment trains
      // per-subspace k-means), then ADC top-20 for query vec 0. Encode
      // + lookup is one narrow codegen pass over the corpus; the only
      // "movement" is TakeOrderedAndProject. The oracle replays the
      // whole pipeline — subvector L2² folds, argmin codes, the
      // m-ordered ADC sum — bit-for-bit in DuckDB.
      val e = emb(s, dir)
      val cb = Similarity.pqCodebook(
        e.filter(col("vec_id").between(1, pqCodebookRows)), "vec_id", "embedding",
        numSubspaces = pqSubspaces, codebookSize = pqCodebookRows)
      Similarity.pqTopK(e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        cb, e.filter(col("vec_id") === 0), "embedding", k = 20)
    }),

    "x_embed_neardup" -> ((s, dir) => {
      // blocked exact near-dup: same-label blocking keeps the pair join
      // bounded (the LSH-bucketed variant is Similarity.lshNearPairs —
      // fully value-oracled above as x_lsh_pairs).
      // native one-pass cosine per candidate pair (same float semantics
      // as the oracle: dot / (sqrt(aa) * sqrt(bb)), sequential sums)
      val e = emb(s, dir)
      val a = e.select(col("label"), col("vec_id").as("ida"), col("embedding").as("va"))
      val b = e.select(col("label"), col("vec_id").as("idb"), col("embedding").as("vb"))
      a.join(b, Seq("label")).filter(col("ida") < col("idb"))
        .select(col("ida"), col("idb"),
          graft.functions.CosineSimilarity.cosine(col("va"), col("vb")).as("rawcos"))
        // 0.35 yields 14/26/391 pairs at sf0.001/0.01/0.1 — non-vacuous
        // at every SF (the synthetic embeddings top out at cosine ~0.47).
        .filter(col("rawcos") >= 0.35)
        .select(col("ida"), col("idb"),
          col("rawcos").cast("decimal(10,4)").cast("double").as("cos"))
        .orderBy("ida", "idb")
    }),

    "x_pca_power" -> ((s, dir) =>
      // top principal component of the embedding space
      // (operators/Spectral): ONE narrow mapPartitions pass folds each
      // partition to a (count, Σq, qᵀq) moment block — integer-exact
      // via the QuantizeVec floor(v·10⁴) keystone — and the d×d eigen
      // problem runs driver-side by fixed-order power iteration on the
      // EXACT covariance numerator (BigInt), so the unrolled oracle
      // CTEs iterate on a bit-identical matrix.
      graft.operators.Spectral.topComponent(
          emb(s, dir), "embedding", dims = 64)
        .orderBy("dim")),

    "x_pca_top2" -> ((s, dir) =>
      // top-2 principal components via Hotelling deflation
      // (Spectral.topComponents): the corpus is still touched ONCE —
      // the second component runs on the driver's deflated d×d copy;
      // the oracle replays the deflation (cov − λ·v·vᵀ with the RAW
      // pre-sign iterate) and a second unrolled iteration chain.
      graft.operators.Spectral.topComponents(
          emb(s, dir), "embedding", dims = 64, k = 2)
        .orderBy("component", "dim")),

    "x_pca_outliers" -> ((s, dir) =>
      // spectral anomaly score (Spectral.subspaceOutliers): the 20
      // vectors farthest from the top-2 principal subspace — encoder
      // glitches / modality mixups surface here. Scoring folds the
      // ROUNDED loadings (the operator's own 5-dp output), so both
      // engines fold identical component values; TakeOrdered top-20.
      graft.operators.Spectral.subspaceOutliers(
          emb(s, dir), "vec_id", "embedding", dims = 64, k = 2, topN = 20)),

    "x_jl_distortion" -> ((s, dir) => {
      // Johnson–Lindenstrauss distortion report: cosine in the
      // original 64-dim space vs in the 16-dim random projection
      // (functions/RandomProjection — same splitmix64 hyperplane
      // family as the LSH path, raw dot products instead of sign
      // bits), per consecutive-id pair. The projection is NARROW
      // codegen (no shuffle, no state) — the pre-ANN dimensionality
      // reduction that makes candidate search 4× cheaper per vector;
      // this report is the recall-risk gauge for choosing k.
      val e = emb(s, dir)
      val withP = e.select(col("vec_id"), col("embedding"),
        graft.functions.RandomProjection.project(
          col("embedding"), jlPlanes, jlSeed).as("pv"))
      val a = withP.select(col("vec_id"), col("embedding").as("ea"),
        col("pv").as("pa"))
      val b = withP.select(col("vec_id").as("vid_b"),
        col("embedding").as("eb"), col("pv").as("pb"))
      a.filter(col("vec_id") % 2 === 0)
        .join(b, col("vid_b") === col("vec_id") + 1)
        .select(col("vec_id"),
          graft.functions.CosineSimilarity.cosine(col("ea"), col("eb"))
            .cast("decimal(10,4)").cast("double").as("cos_orig"),
          graft.functions.CosineSimilarity.cosine(col("pa"), col("pb"))
            .cast("decimal(10,4)").cast("double").as("cos_proj"))
        .orderBy("vec_id")
    })
  )

  private val duckCos =
    "list_cosine_similarity(CAST(%s AS DOUBLE[]), CAST(%s AS DOUBLE[]))"

  /** Brute-force different-label kNN replay shared by x_hard_negatives
    * and its full-probe IVF form; the TopK struct order is
    * (cos DESC, nid DESC), the x_knn_join convention. */
  private val hardNegReplay: String =
    s"""WITH s AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS neg_id,
       |    CAST(CAST(${duckCos.format("b.embedding", "a.embedding")} AS DECIMAL(10,4)) AS DOUBLE) AS cos
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id <> b.vec_id AND a.label <> b.label
       |), r AS (
       |  SELECT vec_id, neg_id, cos, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY vec_id ORDER BY cos DESC, neg_id DESC) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT vec_id, rank, neg_id, cos FROM r WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin

  // ---- hyperplane-LSH replay (x_lsh_pairs) ----
  //
  // Replays functions/HyperplaneSignature exactly: weight(seed, p, d) =
  // splitmix64(seed·gamma + p·C1 + d) top 53 bits mapped to [-1, 1).
  // Every step is exact: the integer mix is HUGEINT mod-2^64
  // (HashReplay), (h >>> 11) is a 53-bit integer so its DOUBLE cast is
  // exact, /2^53 and *2 are power-of-two scalings, and v·2^-52 − 1 =
  // (v − 2^52)·2^-52 with v−2^52 a 53-bit signed integer — exactly
  // representable. The projection is a sequential left fold in both
  // engines, so even the proj >= 0 sign test at the bucket boundary is
  // bit-identical.
  // single source for BOTH the query def and the replay SQL (review:
  // independently duplicated literals would let them drift apart)
  private val lshPlanes = 10
  private val lshSeed = 42L
  private val lshMinCosine = 0.25
  private val lshSeedTerm = (BigInt(lshSeed) * HashReplay.SplitmixGamma) % HashReplay.M

  // JL projection constants — shared by the x_jl_distortion def and
  // its replay SQL (same no-drift discipline as the LSH constants)
  private val jlPlanes = 16
  private val jlSeed = 7L
  private val jlSeedTerm = (BigInt(jlSeed) * HashReplay.SplitmixGamma) % HashReplay.M

  // ---- PCA replay (x_pca_power / x_pca_top2 / x_pca_outliers) ----
  //
  // Shared WITH-body: exact DECIMAL(38,0) moments → covariance → the
  // first unrolled power-iteration chain (prefix "a"), Hotelling
  // deflation with the RAW pre-sign iterate, the second chain
  // (prefix "b"), sign rows, and the original trace. `def`s, not
  // `val`s, so object-init order can never bite.
  private def pcaD = 64
  private def pcaIters = 12
  private def pcaRounds(cov: String, pfx: String): String = (1 to pcaIters).map { k =>
    s"""${pfx}w$k AS MATERIALIZED (SELECT c.i AS i, SUM(c.c * p.x) AS x
       |  FROM $cov c JOIN ${pfx}v${k - 1} p ON c.j = p.i GROUP BY 1),
       |${pfx}n$k AS (SELECT sqrt(SUM(x * x)) AS nm FROM ${pfx}w$k),
       |${pfx}v$k AS (SELECT i, x / (SELECT nm FROM ${pfx}n$k) AS x FROM ${pfx}w$k)""".stripMargin
  }.mkString(",\n")
  private def pcaSgn(pfx: String): String =
    s"""${pfx}sgn AS (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
       |  FROM ${pfx}v$pcaIters ORDER BY abs(x) DESC, i LIMIT 1)""".stripMargin
  private def pcaTop2Body: String = {
    val d = pcaD
    val scale = 10000
    s"""pts AS MATERIALIZED (
       |  SELECT vec_id, i,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * $scale) AS DECIMAL(38,0)) AS q
       |  FROM embeddings, generate_series(1, $d) s(i)),
       |nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |sums AS (SELECT i, SUM(q) AS s FROM pts GROUP BY 1),
       |gram AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS g
       |  FROM pts a JOIN pts b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |cov AS MATERIALIZED (
       |  SELECT g.i, g.j,
       |    CAST(nn.n * g.g - sa.s * sb.s AS DOUBLE)
       |      / ((CAST(nn.n AS DOUBLE) * $scale) * (CAST(nn.n AS DOUBLE) * $scale)) AS c
       |  FROM gram g JOIN sums sa ON sa.i = g.i
       |  JOIN sums sb ON sb.i = g.j CROSS JOIN nn),
       |av0 AS (SELECT i, CAST(i AS DOUBLE) AS x FROM generate_series(1, $d) s(i)),
       |${pcaRounds("cov", "a")},
       |cov2 AS MATERIALIZED (
       |  SELECT c.i AS i, c.j AS j,
       |    c.c - (SELECT nm FROM an$pcaIters) * a.x * b.x AS c
       |  FROM cov c JOIN av$pcaIters a ON a.i = c.i JOIN av$pcaIters b ON b.i = c.j),
       |bv0 AS (SELECT i, CAST(i AS DOUBLE) AS x FROM generate_series(1, $d) s(i)),
       |${pcaRounds("cov2", "b")},
       |${pcaSgn("a")},
       |${pcaSgn("b")},
       |tr AS (SELECT SUM(c) AS t FROM cov WHERE i = j)""".stripMargin
  }

  private val lshSigCtes: String =
    // the weight-table dimension comes from the DATA (max embedding
    // width), mirroring the engine's per-row vec.numElements()
    s"""w_z AS (
       |  SELECT p.p, d.d,
       |    ($lshSeedTerm + ${HashReplay.mulmodSql("CAST(p.p AS HUGEINT)", HashReplay.SplitmixC1)}
       |      + CAST(d.d AS HUGEINT) + ${HashReplay.SplitmixGamma}) & ${HashReplay.Mask} AS z
       |  FROM range($lshPlanes) p(p)
       |  -- list-function range (not the table function, which rejects
       |  -- subquery parameters): dimension derived from the data
       |  CROSS JOIN (SELECT unnest(range(CAST(
       |      (SELECT MAX(len(embedding)) FROM embeddings) AS BIGINT))) AS d) d),
       |${HashReplay.mixCtesSql("wmix", "w_z", "p, d")},
       |wl AS (
       |  SELECT p, list(CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0
       |                 ORDER BY d) AS ws
       |  FROM wmix GROUP BY p),
       |sig AS (
       |  SELECT e.vec_id,
       |    SUM(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(e.emb) + 1), i -> e.emb[i] * w.ws[i])),
       |           (a, b) -> a + b) >= 0
       |        THEN (CAST(1 AS HUGEINT) << p) ELSE CAST(0 AS HUGEINT) END) AS sig
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) e
       |  CROSS JOIN wl w GROUP BY e.vec_id)""".stripMargin

  // ---- k-means replay (x_kmeans) ----
  //
  // Sequential-fold cosine matching CosineSimilarity.compute exactly:
  // each accumulator (dot, |a|², |b|²) is an independent left-to-right
  // double fold, then dot / (sqrt·sqrt) — the x_lsh_pairs-proven
  // order-pinned pattern, bit-identical to the JVM loop.
  private def kmeansSeqCos(a: String, b: String): String = {
    def fold(ea: String, eb: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, len($a) + 1), i -> $ea * $eb)), (x, y) -> x + y)""".stripMargin
    s"""(${fold(s"$a[i]", s"$b[i]")}
       | / (sqrt(${fold(s"$a[i]", s"$a[i]")}) * sqrt(${fold(s"$b[i]", s"$b[i]")})))""".stripMargin
  }

  /** The CTE body (no leading WITH) of the two-iteration k=4 k-means
    * replay, ending at `asn2` = the final (vec_id, cid) assignment.
    * Shared by the x_kmeans oracle and the x_semdedup oracle (which
    * appends the within-cluster cosine prune on top). */
  private val kmeansCtesBody: String = {
    // one assignment round: cosine of every (vector, centroid) pair →
    // argmax with ties to the lowest cid (the engine scans the
    // cid-sorted centroid array with strict >); NaN skipped like the
    // engine's -infinity init
    def assign(prefix: String, cents: String) =
      s"""${prefix}_cos AS (
         |  SELECT q.vec_id, c.cid, ${kmeansSeqCos("q.v", "c.cv")} AS cos
         |  FROM qv q CROSS JOIN $cents c
         |), $prefix AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |    FROM ${prefix}_cos WHERE NOT isnan(cos)) t
         |  WHERE rn = 1
         |)""".stripMargin
    s"""ev0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |         unnest(range(len(embedding))) AS pos
       |  FROM embeddings
       |), ev AS (
       |  SELECT vec_id, pos, floor(e[pos + 1] * 10000) AS q FROM ev0
       |), qv AS (
       |  SELECT vec_id, list(q ORDER BY pos) AS v FROM ev GROUP BY vec_id
       |), c0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM (SELECT vec_id, v FROM qv ORDER BY vec_id LIMIT 4) t
       |), ${assign("asn1", "c0")},
       |u1 AS (
       |  SELECT a.cid, e.pos, SUM(e.q) AS s, COUNT(*) AS c
       |  FROM asn1 a JOIN ev e USING (vec_id) GROUP BY 1, 2
       |), c1 AS (
       |  SELECT cid, list(s / c ORDER BY pos) AS cv FROM u1 GROUP BY cid
       |), ${assign("asn2", "c1")}""".stripMargin
  }

  private val kmeansOracle: String =
    s"""WITH $kmeansCtesBody
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster
       |FROM asn2 ORDER BY vec_id""".stripMargin

  // x_semdedup: same assignment CTEs + the greedy within-cluster prune.
  // Shared threshold val so the query def and the replay SQL cannot
  // drift (the x_lsh_pairs lesson).
  private val semMinCos = 0.35
  private val semDedupOracle: String =
    s"""WITH $kmeansCtesBody,
       |dropped AS (
       |  SELECT DISTINCT b.vec_id AS idb
       |  FROM asn2 a JOIN asn2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  WHERE ${duckCos.format("ea.embedding", "eb.embedding")} >= $semMinCos)
       |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster
       |FROM asn2 a
       |WHERE a.vec_id NOT IN (SELECT idb FROM dropped)
       |ORDER BY a.vec_id""".stripMargin

  // ---- product-quantization replay (x_pq_topk) ----
  //
  // Every step is the proven order-pinned pattern: subvector L2² is a
  // sequential left fold of exactly-representable double ops (floats
  // widen exactly), argmin is first-minimum = lowest codeword on both
  // engines (array_position(d, array_min(d)) vs ROW_NUMBER ORDER BY
  // dist, j), and the ADC sum folds in subspace order on both sides
  // (the engine's reduceLeft == list_reduce over an m-ORDERED list;
  // the leading 0.0 + t0 is exact for non-negative t0).
  // Shared vals so the query def and the replay SQL cannot drift.
  private val pqSubspaces = 8
  private val pqCodebookRows = 16
  // IVF×SQ: cells = one subspace-free 16-row codebook (shared val so
  // the full-probe contract and the replay SQL cannot drift)
  private val sqIvfCells = 16
  // the reduced-probe hard-negative budget (x_hard_negatives_ivf_probe
  // — shared val so the def and the replay SQL cannot drift)
  private val hnProbe = 4

  // ---- int8 scalar-quantization replay (x_sq_recall / x_ivf_sq_topk) --
  //
  // Per-dim scales = MAX|v|, codes = FLOOR(v/s*127 + 0.5) (round-half-up
  // via the floor identity — both engines' FLOOR agree where banker's
  // rounding would not), integer dot/norms → bit-deterministic cos_q.
  // Shared CTE body so the two oracles cannot drift apart.
  private val sqCodesCtes: String =
    """ex AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings
      |), sc AS (
      |  SELECT i, MAX(ABS(v)) AS s FROM ex GROUP BY 1
      |), cd AS (
      |  SELECT vec_id, i,
      |    CASE WHEN s = 0 THEN 0
      |         ELSE CAST(FLOOR(v / s * 127 + 0.5) AS INT) END AS c
      |  FROM ex JOIN sc USING (i)
      |), qc AS (SELECT i, c FROM cd WHERE vec_id = 0),
      |qn AS (
      |  SELECT sqrt(CAST(SUM(CAST(c AS BIGINT) * c) AS DOUBLE)) AS nq FROM qc
      |), dots AS (
      |  SELECT a.vec_id,
      |    SUM(CAST(a.c AS BIGINT) * q.c) AS dot,
      |    SUM(CAST(a.c AS BIGINT) * a.c) AS na
      |  FROM cd a JOIN qc q USING (i) WHERE a.vec_id <> 0 GROUP BY 1
      |)""".stripMargin

  /** The quantized cosine over `dots` — two IEEE ops on exact integers,
    * bit-identical to the engine's sqCosCol. */
  private val sqCosQSql: String =
    "CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * (SELECT nq FROM qn))"

  private def l2FoldSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, len($a) + 1),
       |                     i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
       |    (x, y) -> x + y)""".stripMargin

  private val pqOracle: String =
    s"""WITH dv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |w AS (SELECT CAST(MAX(len(e)) // $pqSubspaces AS BIGINT) AS sw FROM dv),
       |ms AS (SELECT unnest(range($pqSubspaces)) AS m),
       |cw AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, e
       |       FROM dv WHERE vec_id BETWEEN 1 AND $pqCodebookRows),
       |sub AS (SELECT ms.m, c.j, c.e[(ms.m*w.sw+1):(ms.m*w.sw+w.sw)] AS cs
       |        FROM cw c CROSS JOIN w CROSS JOIN ms),
       |qsub AS (SELECT ms.m, q.e[(ms.m*w.sw+1):(ms.m*w.sw+w.sw)] AS qs
       |         FROM dv q CROSS JOIN w CROSS JOIN ms WHERE q.vec_id = 0),
       |qtab AS (SELECT s.m, s.j, ${l2FoldSql("qs", "cs")} AS qd
       |         FROM sub s JOIN qsub USING (m)),
       |dsub AS (SELECT d.vec_id, ms.m, d.e[(ms.m*w.sw+1):(ms.m*w.sw+w.sw)] AS ds
       |         FROM dv d CROSS JOIN w CROSS JOIN ms WHERE d.vec_id <> 0),
       |encd AS (SELECT x.vec_id, x.m, s.j, ${l2FoldSql("ds", "cs")} AS dist
       |         FROM dsub x JOIN sub s ON s.m = x.m),
       |enc AS (SELECT vec_id, m, j FROM (
       |          SELECT vec_id, m, j,
       |            ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rn
       |          FROM encd) t WHERE rn = 1),
       |ad AS (SELECT e.vec_id,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |                                  list(q.qd ORDER BY e.m)),
       |                     (x, y) -> x + y) AS a
       |       FROM enc e JOIN qtab q ON q.m = e.m AND q.j = e.j
       |       GROUP BY e.vec_id)
       |SELECT vec_id, CAST(CAST(a AS DECIMAL(10,4)) AS DOUBLE) AS adist
       |FROM ad ORDER BY adist, vec_id LIMIT 20""".stripMargin

  private val clusterStatsOracle: String =
    s"""WITH $kmeansCtesBody,
       |j AS (SELECT a.cid, e.label FROM asn2 a JOIN embeddings e USING (vec_id)),
       |g AS (SELECT cid, label, COUNT(*) AS c FROM j GROUP BY 1, 2),
       |t AS (SELECT cid, SUM(c) AS n FROM g GROUP BY 1),
       |top AS (
       |  SELECT cid, label, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rn
       |    FROM g) s WHERE rn = 1)
       |SELECT CAST(t.cid AS BIGINT) AS cluster, CAST(t.n AS BIGINT) AS n_vecs,
       |  top.label AS top_label,
       |  ROUND(CAST(top.c AS DOUBLE) / t.n, 4) AS purity
       |FROM t JOIN top USING (cid) ORDER BY cluster""".stripMargin

  /** Reduced-probe IVF hard-negative replay (x_hard_negatives_ivf_probe):
    * cell assignment = argmin-L2² over the first-16 codebook (the
    * x_pq_topk fold, ties to the lowest 1-based cell), per-query probe
    * list = the hnProbe nearest cells by (L2², cell), then the
    * label-crossing kNN restricted to candidates whose cell is probed
    * — the same left-to-right folds and tie orders as the engine's
    * in-plan HOFs. */
  private def hardNegIvfProbeReplay(queryPred: String): String =
    s"""WITH dv AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cw AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS j, e AS ce
       |       FROM dv WHERE vec_id BETWEEN 1 AND $sqIvfCells),
       |cellsd AS (SELECT d.vec_id, c.j,
       |    ${l2FoldSql("d.e", "c.ce")} AS dist
       |  FROM dv d CROSS JOIN cw c),
       |rk AS (SELECT vec_id, j,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
       |  FROM cellsd),
       |cell AS (SELECT vec_id, j AS cid FROM rk WHERE rn = 1),
       |probe AS (SELECT vec_id AS qid, j AS pid FROM rk
       |  WHERE rn <= $hnProbe AND ($queryPred)),
       |s AS (
       |  SELECT q.vec_id AS vec_id, a.vec_id AS neg_id,
       |    CAST(CAST(${duckCos.format("a.embedding", "q.embedding")} AS DECIMAL(10,4)) AS DOUBLE) AS cos
       |  FROM embeddings a
       |  JOIN cell ca ON ca.vec_id = a.vec_id
       |  JOIN probe p ON p.pid = ca.cid
       |  JOIN embeddings q ON q.vec_id = p.qid
       |  WHERE a.vec_id <> q.vec_id AND a.label <> q.label
       |), r AS (
       |  SELECT vec_id, neg_id, cos, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY vec_id ORDER BY cos DESC, neg_id DESC) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT vec_id, rank, neg_id, cos FROM r WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_pq_topk" -> pqOracle,
    "x_kmeans" -> kmeansOracle,
    "x_semdedup" -> semDedupOracle,
    "x_cluster_stats" -> clusterStatsOracle,
    "x_label_centroid" ->
      // same quantization as the engine (floor of float→double exact
      // cast × 10000); every aggregated value is an exact integer, so
      // any summation order agrees and the BIGINT casts are lossless
      """WITH ev0 AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
        |         unnest(range(len(embedding))) AS pos
        |  FROM embeddings
        |), ev AS (
        |  SELECT vec_id, label, pos, floor(e[pos + 1] * 10000) AS q FROM ev0
        |), u AS (
        |  SELECT label, pos, SUM(q) AS s, COUNT(*) AS c FROM ev GROUP BY 1, 2
        |)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS dims,
        |  CAST(MAX(c) AS BIGINT) AS n_vecs,
        |  CAST(SUM(s) AS BIGINT) AS qsum_total,
        |  CAST(MIN(s) AS BIGINT) AS qsum_min,
        |  CAST(MAX(s) AS BIGINT) AS qsum_max
        |FROM u GROUP BY label ORDER BY label""".stripMargin,
    "q18_cosine_pairs" ->
      s"""SELECT a.vec_id, CAST(CAST(${duckCos.format("a.embedding", "b.embedding")} AS DECIMAL(10,4)) AS DOUBLE) AS cos
         |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         |WHERE a.vec_id % 2 = 0
         |ORDER BY cos DESC, a.vec_id LIMIT 20""".stripMargin,
    "x_ann_topk" ->
      s"""SELECT a.vec_id, CAST(CAST(${duckCos.format("a.embedding", "q.embedding")} AS DECIMAL(10,4)) AS DOUBLE) AS cos
         |FROM embeddings a, embeddings q
         |WHERE q.vec_id = 0 AND a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id LIMIT 20""".stripMargin,
    "x_sq_recall" ->
      // symmetric int8 quantization replay (shared sqCodesCtes): the
      // exact list is the x_ann_topk query verbatim
      s"""WITH $sqCodesCtes, approx AS (
         |  SELECT vec_id, $sqCosQSql AS cos_q
         |  FROM dots ORDER BY cos_q DESC, vec_id LIMIT 20
         |), exact AS (
         |  SELECT a.vec_id
         |  FROM embeddings a, embeddings q
         |  WHERE q.vec_id = 0 AND a.vec_id <> 0
         |  ORDER BY CAST(CAST(${duckCos.format("a.embedding", "q.embedding")} AS DECIMAL(10,4)) AS DOUBLE) DESC, a.vec_id LIMIT 20
         |)
         |SELECT 20 AS k, CAST(COUNT(*) AS BIGINT) AS n_match,
         |  ROUND(COUNT(*) / 20.0, 4) AS recall
         |FROM approx JOIN exact USING (vec_id)""".stripMargin,
    "x_ivf_sq_topk" ->
      // full-probe IVF×SQ == the sqTopK ranking (the engine query's
      // nprobe covers every cell), so the oracle is the quantized-
      // cosine top-20: same integer code CTEs, ordered by the RAW
      // bit-deterministic cos_q, rounded only for display
      s"""WITH $sqCodesCtes
         |SELECT vec_id, ROUND($sqCosQSql, 6) AS cos_q
         |FROM dots ORDER BY $sqCosQSql DESC, vec_id LIMIT 20""".stripMargin,
    "x_ivf_topk" ->
      s"""SELECT a.vec_id, CAST(CAST(${duckCos.format("a.embedding", "q.embedding")} AS DECIMAL(10,4)) AS DOUBLE) AS cos
         |FROM embeddings a, embeddings q
         |WHERE q.vec_id = 0 AND a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id LIMIT 20""".stripMargin,
    // per-query rank replay: cos DESC, nid DESC mirrors the engine's
    // struct(cos, nid) keep-largest heap order exactly
    "x_hard_negatives" -> hardNegReplay,
    // the IVF form probes EVERY cell (nprobe = |cells|), so its
    // candidate set equals the brute-force one and the SAME replay
    // applies verbatim — the x_ivf_topk full-probe convention
    "x_hard_negatives_ivf" -> hardNegReplay,
    "x_hard_negatives_ivf_probe" -> hardNegIvfProbeReplay("TRUE"),
    // the partitioned-corpus variant mines the vec_id % 8 = 0 batch
    // with the same probe budget — identical replay, restricted probes
    "x_hard_negatives_part" -> hardNegIvfProbeReplay("vec_id % 8 = 0"),
    "x_knn_join" ->
      s"""WITH s AS (
         |  SELECT q.vec_id AS qid, a.vec_id AS nid,
         |    CAST(CAST(${duckCos.format("a.embedding", "q.embedding")} AS DECIMAL(10,4)) AS DOUBLE) AS cos
         |  FROM embeddings a, embeddings q
         |  WHERE q.vec_id < 5 AND a.vec_id >= 5
         |), r AS (
         |  SELECT qid, nid, cos, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, nid DESC) AS INTEGER) AS rank
         |  FROM s
         |)
         |SELECT qid, rank, nid, cos FROM r WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    "x_embed_norms" ->
      """WITH n AS (
        |  SELECT label,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
        |      (x, y) -> x + y)) AS nrm
        |  FROM embeddings)
        |SELECT label, COUNT(*) AS n, ROUND(AVG(nrm), 4) AS avg_norm,
        |  ROUND(MIN(nrm), 4) AS min_norm, ROUND(MAX(nrm), 4) AS max_norm
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_quantize" ->
      // identical expression shapes → bit-identical doubles → identical
      // floor; integer outputs are exact
      """WITH t AS (
        |  SELECT vec_id,
        |    GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))),
        |             1e-30) AS scale,
        |    CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, scale,
        |    list_transform(e, x -> floor(x / scale * 127)) AS qv
        |  FROM t
        |)
        |SELECT vec_id, ROUND(scale, 4) AS scale_r,
        |  CAST(list_sum(qv) AS BIGINT) AS qsum,
        |  CAST(list_min(qv) AS BIGINT) AS qmin,
        |  CAST(list_max(qv) AS BIGINT) AS qmax
        |FROM q ORDER BY vec_id""".stripMargin,
    "x_lsh_pairs" ->
      s"""WITH $lshSigCtes
         |SELECT a.vec_id AS ida, b.vec_id AS idb,
         |  CAST(CAST(${duckCos.format("ea.embedding", "eb.embedding")} AS DECIMAL(10,4)) AS DOUBLE) AS cos
         |FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
         |JOIN embeddings ea ON ea.vec_id = a.vec_id
         |JOIN embeddings eb ON eb.vec_id = b.vec_id
         |WHERE CAST(CAST(${duckCos.format("ea.embedding", "eb.embedding")} AS DECIMAL(10,4)) AS DOUBLE) >= $lshMinCosine
         |ORDER BY ida, idb""".stripMargin,
    "x_embed_neardup" ->
      s"""SELECT a.vec_id AS ida, b.vec_id AS idb,
         |  CAST(CAST(${duckCos.format("a.embedding", "b.embedding")} AS DECIMAL(10,4)) AS DOUBLE) AS cos
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${duckCos.format("a.embedding", "b.embedding")} >= 0.35
         |ORDER BY ida, idb""".stripMargin,
    "x_pca_power" -> {
      // unrolled power-iteration replay on the EXACT covariance:
      // integer moments in DECIMAL(38,0), the n·G−S·S numerator exact,
      // one double division with the engine's expression shape — the
      // iterations then run on a bit-identical matrix, so only the
      // 64-term sum order differs (absorbed by the final rounds).
      // MATERIALIZED is load-bearing: each w_k is referenced twice
      // (norm + next round), so inlined CTEs would replay the whole
      // chain 2^12 times.
      val d = 64
      val scale = 10000
      val iters = 12
      val rounds = (1 to iters).map { k =>
        s"""w$k AS MATERIALIZED (SELECT c.i AS i, SUM(c.c * p.x) AS x
           |  FROM cov c JOIN v${k - 1} p ON c.j = p.i GROUP BY 1),
           |n$k AS (SELECT sqrt(SUM(x * x)) AS nm FROM w$k),
           |v$k AS (SELECT i, x / (SELECT nm FROM n$k) AS x FROM w$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH pts AS MATERIALIZED (
         |  SELECT vec_id, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * $scale) AS DECIMAL(38,0)) AS q
         |  FROM embeddings, generate_series(1, $d) s(i)),
         |nn AS (SELECT COUNT(*) AS n FROM embeddings),
         |sums AS (SELECT i, SUM(q) AS s FROM pts GROUP BY 1),
         |gram AS MATERIALIZED (
         |  SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS g
         |  FROM pts a JOIN pts b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |cov AS MATERIALIZED (
         |  SELECT g.i, g.j,
         |    CAST(nn.n * g.g - sa.s * sb.s AS DOUBLE)
         |      / ((CAST(nn.n AS DOUBLE) * $scale) * (CAST(nn.n AS DOUBLE) * $scale)) AS c
         |  FROM gram g JOIN sums sa ON sa.i = g.i
         |  JOIN sums sb ON sb.i = g.j CROSS JOIN nn),
         |v0 AS (SELECT i, CAST(i AS DOUBLE) AS x FROM generate_series(1, $d) s(i)),
         |$rounds,
         |sgn AS (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
         |  FROM v$iters ORDER BY abs(x) DESC, i LIMIT 1),
         |tr AS (SELECT SUM(c) AS t FROM cov WHERE i = j)
         |SELECT CAST(v.i AS INT) AS dim,
         |  ROUND(v.x * (SELECT s FROM sgn), 5) + 0.0 AS loading,
         |  ROUND((SELECT nm FROM n$iters), 6) AS eigval,
         |  ROUND((SELECT nm FROM n$iters) / (SELECT t FROM tr), 6) AS explained
         |FROM v$iters v ORDER BY dim""".stripMargin
    },
    "x_pca_top2" -> {
      // x_pca_power's replay plus Hotelling deflation: cov2 =
      // cov − λ₁·v·vᵀ with the RAW (pre-sign) first iterate — the
      // engine's exact formula shape (λ·v_i left-associated with v_j)
      // — then a second unrolled chain on cov2 (shared pcaTop2Body).
      // Both components' explained shares are against the ORIGINAL
      // trace.
      def comp(n: Int, pfx: String) =
        s"""SELECT $n AS component, CAST(v.i AS INT) AS dim,
           |  ROUND(v.x * (SELECT s FROM ${pfx}sgn), 5) + 0.0 AS loading,
           |  ROUND((SELECT nm FROM ${pfx}n$pcaIters), 6) AS eigval,
           |  ROUND((SELECT nm FROM ${pfx}n$pcaIters) / (SELECT t FROM tr), 6) AS explained
           |FROM ${pfx}v$pcaIters v""".stripMargin
      s"""WITH $pcaTop2Body
         |SELECT * FROM (
         |${comp(1, "a")}
         |UNION ALL
         |${comp(2, "b")}
         |) u ORDER BY component, dim""".stripMargin
    },
    "x_pca_outliers" -> {
      // scoring on the shared top-2 replay: both engines fold the
      // ROUNDED 5-dp loadings (the operator's own output contract), so
      // projections p_c and the residual are identical sequential
      // folds; left-assoc e_i − p1·w1_i − p2·w2_i, square-sum fold,
      // sqrt (correctly rounded), ROUND(6), top-20 by (resid, id)
      val d = pcaD
      s"""WITH $pcaTop2Body,
         |v1l AS (SELECT list(ROUND(v.x * (SELECT s FROM asgn), 5) + 0.0
         |                    ORDER BY v.i) AS l FROM av$pcaIters v),
         |v2l AS (SELECT list(ROUND(v.x * (SELECT s FROM bsgn), 5) + 0.0
         |                    ORDER BY v.i) AS l FROM bv$pcaIters v),
         |pe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |sc AS (
         |  SELECT p.vec_id, p.emb, w1.l AS w1, w2.l AS w2,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, $d + 1), i -> p.emb[i] * w1.l[i])),
         |      (a, x) -> a + x) AS p1,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, $d + 1), i -> p.emb[i] * w2.l[i])),
         |      (a, x) -> a + x) AS p2
         |  FROM pe p CROSS JOIN v1l w1 CROSS JOIN v2l w2),
         |res AS (
         |  SELECT vec_id,
         |    ROUND(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, $d + 1),
         |        i -> (emb[i] - p1 * w1[i] - p2 * w2[i])
         |           * (emb[i] - p1 * w1[i] - p2 * w2[i]))),
         |      (a, x) -> a + x)), 6) AS resid
         |  FROM sc)
         |SELECT vec_id, resid FROM res
         |ORDER BY resid DESC, vec_id LIMIT 20""".stripMargin
    },
    "x_jl_distortion" ->
      // same bit-exact weight/fold machinery as x_lsh_pairs (see the
      // replay note above), keeping the raw projection values; both
      // cosines go through the proven DECIMAL(10,4) determinism gate
      s"""WITH jw_z AS (
         |  SELECT p.p, d.d,
         |    ($jlSeedTerm + ${HashReplay.mulmodSql("CAST(p.p AS HUGEINT)", HashReplay.SplitmixC1)}
         |      + CAST(d.d AS HUGEINT) + ${HashReplay.SplitmixGamma}) & ${HashReplay.Mask} AS z
         |  FROM range($jlPlanes) p(p)
         |  CROSS JOIN (SELECT unnest(range(CAST(
         |      (SELECT MAX(len(embedding)) FROM embeddings) AS BIGINT))) AS d) d),
         |${HashReplay.mixCtesSql("jwmix", "jw_z", "p, d")},
         |jwl AS (
         |  SELECT p, list(CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0
         |                 ORDER BY d) AS ws
         |  FROM jwmix GROUP BY p),
         |pe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |proj AS (
         |  SELECT e.vec_id,
         |    list(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(1, len(e.emb) + 1), i -> e.emb[i] * w.ws[i])),
         |        (a, b) -> a + b) ORDER BY w.p) AS pv
         |  FROM pe e CROSS JOIN jwl w GROUP BY e.vec_id)
         |SELECT a.vec_id,
         |  CAST(CAST(${duckCos.format("a.emb", "b.emb")} AS DECIMAL(10,4)) AS DOUBLE) AS cos_orig,
         |  CAST(CAST(${duckCos.format("pa.pv", "pb.pv")} AS DECIMAL(10,4)) AS DOUBLE) AS cos_proj
         |FROM pe a JOIN pe b ON b.vec_id = a.vec_id + 1
         |JOIN proj pa ON pa.vec_id = a.vec_id
         |JOIN proj pb ON pb.vec_id = b.vec_id
         |WHERE a.vec_id % 2 = 0
         |ORDER BY a.vec_id""".stripMargin
  )
}
