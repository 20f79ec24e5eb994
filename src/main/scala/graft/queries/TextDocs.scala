package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Scratch, Tables}
import graft.operators.{Dedup, Hll, Multimodal, Retrieval, Sampling, Sketches, TextAnalysis}

/** Declared document/text queries Q15–Q17 plus the mandated
  * training-data extension operators over `documents` (SURVEY §2.B
  * X15/X16/X18/X21): quality scoring, token counts, n-gram Jaccard
  * near-dup, SimHash, MinHash LSH, language ID, fingerprinting.
  *
  * Oracle coverage: EVERY query here has a DuckDB oracle — including
  * the hash-family ops (SimHash/MinHash), whose FNV-1a + splitmix64
  * pipeline is replayed in portable SQL via HUGEINT arithmetic
  * mod 2^64 (see the hash-family oracle machinery below). Nothing in
  * this module is rows-only checked.
  */
object TextDocs {
  private type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** Literal merge table for x_bpe_merges, in RANK ORDER — shared by
    * the query def and the DuckDB replay so the two cannot drift. The
    * chains are deliberate: (t,h) → (" ",th) → (" th",e) builds " the"
    * only if ranks apply in order, and (o,r) → (or,t) → (s,ort) →
    * (" ",sort) builds " sort" four deep; (th,e) last covers the
    * document-initial unprefixed "the". A real vocab comes from a BPE
    * trainer; the operator contract only needs SOME fixed table (the
    * Similarity.pqCodebook convention). */
  private[graft] val bpeMergeTable: Seq[(String, String)] = Seq(
    ("t", "h"), (" ", "th"), (" th", "e"),
    ("i", "n"), ("e", "r"),
    ("o", "r"), ("or", "t"), ("s", "ort"), (" ", "sort"),
    ("a", "t"), ("c", "h"), ("at", "ch"),
    ("th", "e"))

  /** DuckDB replay of TextAnalysis.bpeMergeTokens over `documents` on
    * the shared merge table — the CTE fragment both x_bpe_merges and
    * x_seq_pack_bpe ride: identical sentinel wrapping (chr(1) sym
    * chr(2) per char), identical rank-ordered replace chain (both
    * engines' replace is left-to-right non-overlapping, resuming after
    * the replacement — one pass per rank is a fixpoint, see the
    * operator scaladoc), identical split/strip/filter read-back.
    * Sentinels are built with chr() concatenation so the SQL text
    * itself carries no control bytes. Ends with
    * `m(doc_id, pre, toks)`. */
  private val bpeMergeCtes: String = {
    def w(s: String) = "chr(1)||'" + s.replace("'", "''") + "'||chr(2)"
    val chain = bpeMergeTable.foldLeft(
      "regexp_replace(s0, '(.)', chr(1)||'\\1'||chr(2), 'g')") {
      case (acc, (x, y)) => s"replace($acc, ${w(x)}||${w(y)}, ${w(x + y)})"
    }
    s"""sc AS (
       |  SELECT doc_id,
       |    replace(replace(text, chr(1), ''), chr(2), '') AS tx
       |  FROM documents),
       |t AS (SELECT doc_id,
       |    regexp_extract_all(tx, '${TextAnalysis.BpePattern}') AS pre
       |  FROM sc),
       |m AS (SELECT doc_id, pre,
       |  flatten(list_transform(pre, s0 ->
       |    list_filter(
       |      list_transform(string_split($chain, chr(2)||chr(1)),
       |        v -> replace(replace(v, chr(1), ''), chr(2), '')),
       |      v -> length(v) > 0))) AS toks FROM t)""".stripMargin
  }

  /** PRODUCTION-SHAPE merge vocabulary for x_bpe_merges_vocab (round-17
    * verdict item 2), shared by the query def and the DuckDB replay —
    * a deterministic ~2.2 k-rank table built the way a trainer's table
    * is SHAPED: per word, the left-to-right prefix chain
    * (w₀,w₁), (w₀w₁,w₂), … then the space-prefix merge (" ", w).
    * The corpus's 31 real words lead (their chains actually fire);
    * a consonant-vowel-consonant pseudo-word product pads the tail
    * (a real vocab is mostly merges any given document never uses).
    * First occurrence of a pair keeps the lowest rank (trainer
    * convention); the machine-checked LEARNED-LIKE invariant — every
    * multi-character constituent is the output of a STRICTLY EARLIER
    * rank — is exactly the property under which the classic
    * lowest-rank-first loop ([[graft.functions.BpeEncodeVocab]], the
    * engine side) and the rank-ascending one-pass-per-rank schedule
    * (the recursive-CTE oracle replay) produce identical tokens
    * (see bpeMergeTokens' semantics note). */
  private[graft] val bpeVocabTable: Seq[(String, String)] = {
    val real = Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window")
    val cons = "bcdfghklmnprst".map(_.toString)
    val vowels = "aeiou".map(_.toString)
    val padding = for { c1 <- cons; v <- vowels; c2 <- cons }
      yield s"$c1$v$c2"
    def chains(w: String): Seq[(String, String)] =
      (2 to w.length).map(i =>
        (w.substring(0, i - 1), w.substring(i - 1, i))) :+ (" " -> w)
    val seen = scala.collection.mutable.LinkedHashSet[(String, String)]()
    (real ++ padding).foreach(w => chains(w).foreach(seen += _))
    val out = seen.toSeq
    // the learned-like invariant, machine-checked at class init
    val produced = scala.collection.mutable.HashSet[String]()
    out.foreach { case (x, y) =>
      require((x.length == 1 || produced(x)) &&
        (y.length == 1 || produced(y)),
        s"bpeVocabTable: constituent of ($x, $y) not produced by an " +
          "earlier rank — the table is not learned-like, so the classic " +
          "loop and the rank-pass oracle replay could diverge")
      produced += (x + y)
    }
    out
  }

  /** The vocab rendered as DuckDB VALUES rows `(rank, x, y)`, rank
    * 1-based to drive the recursive replay's `r = st.r + 1` join. */
  private val bpeVocabValues: String = {
    def esc(s: String) = s.replace("'", "''")
    bpeVocabTable.zipWithIndex
      .map { case ((x, y), i) => s"(${i + 1},'${esc(x)}','${esc(y)}')" }
      .grouped(6).map(_.mkString(",")).mkString(",\n|    ")
  }

  /** Rank-by-rank merge application over the corpus's DISTINCT
    * pre-tokens — the recursive-CTE replay body shared by
    * x_bpe_merges_vocab (literal table) and x_bpe_train_encode
    * (trained table): expects a CTE `mg(r, x, y)` already in scope,
    * applies ranks ascending via one sentinel-string replace each, and
    * rebuilds the per-document counts by position-ordered rejoin.
    * The recursion terminal is COUNT(*) FROM mg, so a table shorter
    * than planned (training ran dry) still replays exactly. Split as
    * CTE body + final select so x_bpe_train_ids can ride the same body
    * with an id-lookup readout instead. */
  private val bpeRankApplyCtes: String =
    s"""sc AS (SELECT doc_id,
       |    replace(replace(text, chr(1), ''), chr(2), '') AS tx
       |  FROM documents),
       |t AS (SELECT doc_id,
       |    regexp_extract_all(tx, '${TextAnalysis.BpePattern}') AS pre
       |  FROM sc),
       |d AS (SELECT DISTINCT unnest(pre) AS tok FROM t),
       |steps(tok, r, s) AS (
       |  SELECT tok, 0,
       |    regexp_replace(tok, '(.)', chr(1)||'\\1'||chr(2), 'g')
       |  FROM d
       |  UNION ALL
       |  SELECT st.tok, st.r + 1,
       |    replace(st.s, chr(1)||m.x||chr(2)||chr(1)||m.y||chr(2),
       |      chr(1)||m.x||m.y||chr(2))
       |  FROM steps st JOIN mg m ON m.r = st.r + 1),
       |fin AS (
       |  SELECT tok,
       |    list_filter(list_transform(string_split(s, chr(2)||chr(1)),
       |        v -> replace(replace(v, chr(1), ''), chr(2), '')),
       |      v -> length(v) > 0) AS toks
       |  FROM steps WHERE r = (SELECT COUNT(*) FROM mg)),
       |ex AS (SELECT doc_id, unnest(pre) AS tok,
       |    unnest(range(1, len(pre) + 1)) AS i FROM t),
       |ag AS (SELECT e.doc_id, COUNT(*) AS n_pre,
       |    SUM(length(e.tok)) AS n_chars,
       |    flatten(list(f.toks ORDER BY e.i)) AS toks
       |  FROM ex e JOIN fin f ON f.tok = e.tok GROUP BY e.doc_id)""".stripMargin

  private val bpeRankApplySql: String =
    s"""$bpeRankApplyCtes
       |SELECT t.doc_id, CAST(COALESCE(a.n_pre, 0) AS INT) AS n_pre,
       |  CAST(COALESCE(a.n_chars, 0) AS INT) AS n_chars,
       |  CAST(COALESCE(len(a.toks), 0) AS INT) AS n_tokens,
       |  CAST(COALESCE(len(list_distinct(a.toks)), 0) AS INT) AS n_types
       |FROM t LEFT JOIN ag a ON a.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Vocab-id readout over the rank-apply body (x_bpe_train_ids): the
    * oracle's own id assignment — alphabet = distinct code points of
    * the distinct pre-tokens (`(?s).` so newlines count; binary ORDER
    * BY = the engine's UTF-8-byte sort), ids 0..A-1, then production
    * x||y at A + r - 1, collisions keep MIN(id) — joined against every
    * token position and rolled up per document. */
  private val bpeVocabIdsSql: String =
    s"""al AS (
       |  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY tok) - 1 AS INT) AS id
       |  FROM (SELECT DISTINCT unnest(regexp_extract_all(tok, '(?s).')) AS tok
       |        FROM d)),
       |vocab AS (
       |  SELECT tok, MIN(id) AS id FROM (
       |    SELECT tok, id FROM al
       |    UNION ALL
       |    SELECT x || y AS tok,
       |      CAST((SELECT COUNT(*) FROM al) + r - 1 AS INT) AS id
       |    FROM mg) GROUP BY tok),
       |tk AS (SELECT doc_id, unnest(toks) AS tok,
       |    unnest(range(1, len(toks) + 1)) AS j FROM ag),
       |rd AS (
       |  SELECT k.doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
       |    CAST(SUM(v.id) AS BIGINT) AS sum_ids,
       |    MIN(v.id) AS min_id, MAX(v.id) AS max_id,
       |    arg_min(v.id, k.j) AS first_id, arg_max(v.id, k.j) AS last_id
       |  FROM tk k JOIN vocab v ON v.tok = k.tok GROUP BY k.doc_id)
       |SELECT t.doc_id, CAST(COALESCE(r.n_tokens, 0) AS INT) AS n_tokens,
       |  CAST(COALESCE(r.sum_ids, 0) AS BIGINT) AS sum_ids,
       |  r.min_id, r.max_id, r.first_id, r.last_id
       |FROM t LEFT JOIN rd r ON r.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Number of merges x_bpe_train / x_bpe_train_encode learn — shared
    * by the defs and the replay SQL so the two cannot drift. The
    * corpus's 31-word vocabulary supports ~290 merges, so 32 always
    * completes. */
  private val bpeTrainMerges = 32

  /** Chained-CTE replay of [[TextAnalysis.bpeTrain]]'s pinned
    * semantics, one (pair-count, argmax, replace) step per rank —
    * fixed depth `n`, ending with `mg(r, x, y)` = the learned table.
    * MATERIALIZED is load-bearing on every state CTE: each step
    * references its predecessor twice (pair counts + the rewrite), so
    * inlining would re-derive st_0 a combinatorial number of times
    * (the x_bootstrap_quantiles lesson — DuckDB flattens chained CTE
    * references without CSE). Pair counts come from zipped slice
    * unnests (ALL adjacent positions, overlapping — the trainer's
    * counting rule), the winner is ORDER BY c DESC, x, y LIMIT 1, and
    * the rewrite is the same sentinel-string replace the apply replay
    * uses. A step with no pairs left yields an empty bs/st and every
    * later step stays empty — mg simply ends early, matching the
    * trainer's early stop. */
  private def bpeTrainCtes(n: Int): String = {
    val b = new StringBuilder
    b ++= s"""st_0 AS MATERIALIZED (
       |  SELECT w, f, regexp_replace(w, '(.)', chr(1)||'\\1'||chr(2), 'g') AS s
       |  FROM (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(regexp_extract_all(
       |      replace(replace(text, chr(1), ''), chr(2), ''),
       |      '${TextAnalysis.BpePattern}')) AS tok
       |    FROM documents) GROUP BY tok))""".stripMargin
    for (r <- 1 to n) {
      val p = r - 1
      b ++= s""",
       |pr_$r AS (
       |  SELECT x, y, SUM(f) AS c FROM (
       |    SELECT f, unnest(a[1:len(a)-1]) AS x, unnest(a[2:len(a)]) AS y
       |    FROM (SELECT f, list_transform(string_split(s, chr(2)||chr(1)),
       |            v -> replace(replace(v, chr(1), ''), chr(2), '')) AS a
       |          FROM st_$p)) GROUP BY x, y),
       |bs_$r AS MATERIALIZED (
       |  SELECT x, y FROM pr_$r ORDER BY c DESC, x, y LIMIT 1),
       |st_$r AS MATERIALIZED (
       |  SELECT w, f, replace(s, chr(1)||b.x||chr(2)||chr(1)||b.y||chr(2),
       |    chr(1)||b.x||b.y||chr(2)) AS s
       |  FROM st_$p, bs_$r b)""".stripMargin
    }
    val union = (1 to n)
      .map(r => s"SELECT $r AS r, x, y FROM bs_$r")
      .mkString("\n|  UNION ALL ")
    b ++= s""",
       |mg AS MATERIALIZED (
       |  $union)""".stripMargin
    b.toString
  }

  /** The round-trip queries' scratch dir, one per prefix and input dir. */
  private def scratchDir(prefix: String, dir: String): java.io.File =
    Scratch.dir(s"${prefix}_${Integer.toHexString(dir.hashCode)}")

  val defs: Map[String, Q] = Map(
    "q15_dup_lengths" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(length(col("text")).as("text_len"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
        .orderBy("text_len")
    }),

    "q16_wordcount" -> ((s, dir) => {
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 4)
        .groupBy("word").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("word"))
        .limit(20)
    }),

    "q17_lang_stats" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("lang")
    }),

    "x_exact_dedup" -> ((s, dir) => {
      // exact near-dup removal: canonical survivor (min doc_id) per text
      Dedup.exact(docs(s, dir).select(col("doc_id"), col("text")), Seq("text"), "doc_id")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    "x_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy("ida", "idb")
    }),

    "x_setsim_join" -> ((s, dir) => {
      // EXACT set-similarity self-join via prefix filtering
      // (operators/SetSimJoin — the AllPairs/PPJoin family): documents
      // whose TOKEN SETS overlap >= 0.95. Complements x_ngram_jaccard
      // (shingle multisets, hash-bucket counting) with the
      // threshold-as-contract algorithm: a global rarest-first item
      // order, length-law prefixes, candidate equi-join on prefix
      // tokens only, exact array_intersect verify — never all pairs,
      // no estimation error.
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
      graft.operators.SetSimJoin.jaccardJoin(toks, "doc_id", "tok", minJaccard = 0.95)
        .orderBy("id_a", "id_b")
    }),

    "x_containment" -> ((s, dir) => {
      // exact DIRECTED containment screen (SetSimJoin.containmentJoin):
      // every 50th document plays the eval/benchmark item (probe), the
      // rest are the training corpus (index); a hit = >= 80% of the
      // probe's token set inside a corpus doc — the near-SUBSET overlap
      // Jaccard structurally misses (a small item inside a big doc
      // scores J ~ |A|/|B| however perfect the overlap). Probe-prefix
      // filtering: only the probe prunes to its length-law prefix
      // (rarest-first by INDEX frequency), the corpus keys on all
      // items; |B| >= t|A| size filter; exact array_intersect verify.
      // Never all pairs.
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
      graft.operators.SetSimJoin.containmentJoin(
          toks.filter(col("doc_id") % 50 === 0),
          toks.filter(col("doc_id") % 50 =!= 0),
          "doc_id", "tok", minContainment = 0.8)
        .orderBy("id_a", "id_b")
    }),

    "x_text_quality" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_words"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    "x_quality_by_source" -> ((s, dir) => {
      // per-source corpus-health report: doc count, exact quality mass,
      // mean quality, word volume. Per-row quality is 4-decimal-pinned,
      // so summing it as DECIMAL(10,4) is exact in any aggregation
      // order (the decimal-before-sum rule); one partial-aggregated
      // hash agg, no extra shuffle.
      val q = docs(s, dir).select(col("source"),
        TextAnalysis.qualityScore(col("text")).cast("decimal(10,4)").as("q"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("nw"))
      q.groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("q")).cast("double").as("sum_quality"),
          round(sum(col("q")).cast("double") / count(lit(1)), 4).as("mean_quality"),
          sum(col("nw")).as("sum_words"))
        .orderBy("source")
    }),

    "x_token_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        round(length(col("text")).cast("double") /
          TextAnalysis.tokenCount(col("text")).cast("double"), 4).as("chars_per_token"))
        .orderBy("doc_id")
    }),

    "x_gini" -> ((s, dir) =>
      // exact Gini coefficient of per-document length (Stats.gini):
      // corpus length inequality WITHOUT a global sort — tie-block rank
      // sums read off the bucketed prefix-sum CDF, integer math in
      // decimal(38,0), two final IEEE divisions
      graft.operators.Stats.gini(docs(s, dir), "n_chars")),

    "x_grouped_gini" -> ((s, dir) =>
      // per-source length inequality (Stats.groupedGini): the same
      // tie-block rank-sum algebra as x_gini, per group, off the
      // grouped bucketed prefix sum — one corpus scan, no per-group
      // sort, no global window
      graft.operators.Stats.groupedGini(docs(s, dir), "source", "n_chars")),

    "x_mutual_info" -> ((s, dir) =>
      // source↔language association (Stats.mutualInfo): how much does
      // knowing the source tell you about the language — exact integer
      // contingency cells, marginals equi-joined back, doubles only in
      // the final p·ln terms
      graft.operators.Stats.mutualInfo(docs(s, dir), "source", "lang")
        .select(col("n"), round(col("mi"), 6).as("mi"),
          round(col("nmi"), 6).as("nmi"))),

    "x_theil" -> ((s, dir) =>
      // Theil T of document length with the additive between/within
      // source decomposition (Stats.theilDecomposition) — x_gini and
      // x_grouped_gini's information-theoretic completion: the same
      // one-scan counts frame, exact totals, pinned driver fold
      graft.operators.Stats.theilDecomposition(docs(s, dir), "source", "n_chars")
        .select(col("n"), col("k"),
          round(col("theil_total"), 6).as("theil_total"),
          round(col("theil_between"), 6).as("theil_between"),
          round(col("theil_within"), 6).as("theil_within"))),

    "x_chi2" -> ((s, dir) =>
      // source↔language independence test (Stats.chiSquare):
      // x_mutual_info's significance-flavored sibling — the same exact
      // integer contingency cells, χ² via the zero-cell-free
      // N·Σ n²/(nx·ny) − N identity, Cramér's V effect size
      graft.operators.Stats.chiSquare(docs(s, dir), "source", "lang")
        .select(col("n"), col("r"), col("c"), col("dof"),
          round(col("chi2"), 6).as("chi2"),
          round(col("cramers_v"), 6).as("cramers_v"))),

    "x_kappa" -> ((s, dir) => {
      // chance-corrected agreement (Stats.cohenKappa) between two
      // heuristic length labelers with offset thresholds — the
      // label-QA primitive (do two noisy quality raters agree beyond
      // chance?); disagreements live in the 200–220 / 330–350 bands
      val d = docs(s, dir).filter(col("n_chars").isNotNull)
        .withColumn("rater_a", when(col("n_chars") < 200, "short")
          .when(col("n_chars") < 350, "med").otherwise("long"))
        .withColumn("rater_b", when(col("n_chars") < 220, "short")
          .when(col("n_chars") < 330, "med").otherwise("long"))
      graft.operators.Stats.cohenKappa(d, "rater_a", "rater_b")
        .select(col("n"), round(col("po"), 6).as("po"),
          round(col("pe"), 6).as("pe"), round(col("kappa"), 6).as("kappa"))
    }),

    "x_jsd" -> ((s, dir) =>
      // language-mix drift between short and long documents
      // (Stats.jensenShannon): the bounded symmetric divergence —
      // finite even where one cohort misses a language entirely,
      // unlike KL/PSI; one conditional-agg scan, no cohort join
      graft.operators.Stats.jensenShannon(docs(s, dir), "lang",
          col("n_chars") < 300, col("n_chars") >= 300)
        .select(col("n_a"), col("n_b"), col("k"),
          round(col("jsd"), 6).as("jsd"))),

    "x_ndcg" -> ((s, dir) => {
      // graded ranking quality (Retrieval.ndcgAtK): languages as
      // queries, the per-language length-ranked top-20 as the run,
      // source-derived graded judgments (src0–4 → rel 2, src5–9 →
      // rel 1, rest unjudged) — every window partitioned by the query
      // key, judgments equi-joined, per-query DCG/IDCG hash aggs
      val d = docs(s, dir).filter(col("lang").isNotNull)
      val srcNum = substring(col("source"), 4, 6).cast("int")
      val run = d.withColumn("rank", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), col("rank"))
      val qrels = d.select(col("lang"), col("doc_id"),
        when(srcNum < 5, 2).when(srcNum < 10, 1).otherwise(0).as("rel"))
      Retrieval.ndcgAtK(run, qrels, "lang", "doc_id", "rank", "rel", k = 20)
        .select(col("lang"), round(col("dcg"), 6).as("dcg"),
          round(col("idcg"), 6).as("idcg"), round(col("ndcg"), 6).as("ndcg"))
        .orderBy("lang")
    }),

    "x_bpe_tokens" -> ((s, dir) => {
      // BPE-ish pre-tokenizer counts (the "token counting: whitespace +
      // BPE-ish regex" extension): token total, distinct types, average
      // token length (leading-space prefix included, as a byte-pair
      // pre-split would). Tokens materialized once per row, then three
      // narrow aggregates over the array — no shuffle.
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.bpeTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_subwords"),
          size(array_distinct(col("toks"))).as("n_types"),
          round(length(array_join(col("toks"), "")).cast("double") /
            greatest(size(col("toks")), lit(1)), 4).as("avg_len"))
        .orderBy("doc_id")
    }),

    "x_bpe_merges" -> ((s, dir) => {
      // TRUE BPE merge application (round-16 verdict item 4,
      // TextAnalysis.bpeMergeTokens): the x_bpe_tokens pre-split, then
      // the literal 12-rank merge table applied per pre-token — one
      // greedy left-to-right replace pass per rank, chains three deep
      // (" the", " sort") so rank ORDER is exercised, not just
      // membership. Token counts under the vocab are exact, the
      // upgrade x_budget_select's pre-token counts approximate. All
      // narrow codegen built-ins (regexp + a replace chain), no
      // shuffle; the oracle replays the identical rewrites on the
      // identical sentinel-delimited literals.
      val tx = translate(col("text"), "\u0001\u0002", "")
      // spread the merge chain: the regex pre-split + one replace pass
      // per rank is CPU-heavy per row and otherwise rides the scan's
      // task count (Tables.spread no-ops on a many-split source)
      Tables.spread(docs(s, dir))
        .select(col("doc_id"), TextAnalysis.bpeTokens(tx).as("pre"))
        .select(col("doc_id"), col("pre"),
          flatten(transform(col("pre"),
            t => TextAnalysis.bpeMergeTokens(t, bpeMergeTable))).as("toks"))
        .select(col("doc_id"),
          size(col("pre")).as("n_pre"),
          length(array_join(col("pre"), "")).as("n_chars"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_types"))
        .orderBy("doc_id")
    }),

    "x_bpe_merges_vocab" -> ((s, dir) => {
      // PRODUCTION-VOCAB BPE application (round-17 verdict item 2,
      // graft.functions.BpeEncodeVocab): x_bpe_merges past the 4096-
      // merge replace-chain cap — the ~2.2k-rank learned-like table
      // applied by ONE classic-merge-loop expression call per document
      // (vocab = expression state, not plan nodes). Same narrow
      // no-shuffle shape and readout as x_bpe_merges; the oracle
      // replays the identical table rank-by-rank via a recursive CTE
      // over the corpus's DISTINCT pre-tokens (equality with the
      // classic loop holds by the table's machine-checked learned-like
      // invariant — see bpeVocabTable).
      val tx = translate(col("text"), "\u0001\u0002", "")
      // spread the classic merge loop (the x_bpe_merges rationale)
      Tables.spread(docs(s, dir))
        .select(col("doc_id"), TextAnalysis.bpeTokens(tx).as("pre"))
        .select(col("doc_id"), col("pre"),
          graft.functions.BpeEncodeVocab.encode(col("pre"),
            bpeVocabTable).as("toks"))
        .select(col("doc_id"),
          size(col("pre")).as("n_pre"),
          length(array_join(col("pre"), "")).as("n_chars"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_types"))
        .orderBy("doc_id")
    }),

    "x_bpe_train" -> ((s, dir) => {
      // BPE TRAINING on the corpus itself (TextAnalysis.bpeTrain — the
      // round-18 completion of the tokenization lifecycle): one
      // distributed pre-token frequency pass, then the loud-bounded
      // driver merge loop; the learned table IS the query result, so
      // the oracle value-checks every rank of the training run (pair
      // counts over all adjacent positions, (c DESC, x, y) winner,
      // greedy rewrite — the chained-CTE replay in bpeTrainCtes).
      val table = TextAnalysis.bpeTrain(docs(s, dir), "text", bpeTrainMerges)
      val sp = s
      import sp.implicits._
      table.zipWithIndex
        .map { case ((x, y), i) => (i + 1, x, y) }
        .toDF("rank", "x", "y")
        .orderBy("rank")
    }),

    "x_bpe_train_encode" -> ((s, dir) => {
      // train -> tokenize END-TO-END: the table learned by x_bpe_train
      // applied by the classic-loop expression (BpeEncodeVocab; a
      // trained table is learned-like by construction, so the classic
      // loop equals the oracle's rank-ascending replay — the
      // bpeVocabTable argument, spec-pinned on this table too). Same
      // per-document readout as x_bpe_merges_vocab.
      val table = TextAnalysis.bpeTrain(docs(s, dir), "text", bpeTrainMerges)
      val tx = translate(col("text"), "\u0001\u0002", "")
      // spread the classic merge loop (the x_bpe_merges rationale)
      Tables.spread(docs(s, dir))
        .select(col("doc_id"), TextAnalysis.bpeTokens(tx).as("pre"))
        .select(col("doc_id"), col("pre"),
          graft.functions.BpeEncodeVocab.encode(col("pre"), table).as("toks"))
        .select(col("doc_id"),
          size(col("pre")).as("n_pre"),
          length(array_join(col("pre"), "")).as("n_chars"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_types"))
        .orderBy("doc_id")
    }),

    "x_bpe_train_ids" -> ((s, dir) => {
      // the vocab-file step a real tokenizer ships (train -> assign
      // token IDS -> encode to array<int>): bpeVocabIds gives the
      // alphabet ids 0..A-1 in UTF-8-byte order then production x+y at
      // A+rank-1, bpeEncodeIds rides the plan as ONE broadcast map
      // literal (narrow, no shuffle). Order-sensitive readout
      // (first/last id) so the oracle checks the SEQUENCE, not a bag.
      val d = docs(s, dir)
      val table = TextAnalysis.bpeTrain(d, "text", bpeTrainMerges)
      val vocab = TextAnalysis.bpeVocabIds(d, "text", table)
      val ids = TextAnalysis.bpeEncodeIds(col("text"), table, vocab)
      // spread the encode (the x_bpe_merges rationale)
      Tables.spread(d).select(col("doc_id"), ids.as("ids"))
        .select(col("doc_id"),
          size(col("ids")).as("n_tokens"),
          aggregate(col("ids"), lit(0L), (acc, x) => acc + x).as("sum_ids"),
          array_min(col("ids")).as("min_id"),
          array_max(col("ids")).as("max_id"),
          get(col("ids"), lit(0)).as("first_id"),
          get(col("ids"), size(col("ids")) - 1).as("last_id"))
        .orderBy("doc_id")
    }),

    "x_dedup_corpus" -> ((s, dir) => {
      // the full dedup pipeline: candidate pairs (exact n-gram jaccard
      // >= 0.5) -> connected components -> keep min doc_id per cluster
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", threshold = 0.5)
      Dedup.dropNearDuplicates(d.select("doc_id"), "doc_id", pairs)
        .orderBy("doc_id")
    }),

    "x_dedup_best" -> ((s, dir) => {
      // same components, QUALITY-AWARE survivor
      // (Dedup.dropNearDuplicatesBy): keep the LONGEST copy per
      // near-dup cluster (ties → smallest id) — the keep-the-best-copy
      // policy, vs x_dedup_corpus's keep-first. One extra hash agg
      // over the label frame; integer priority, so survivor choice is
      // exact.
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", threshold = 0.5)
      Dedup.dropNearDuplicatesBy(d.select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", pairs)
        .orderBy("doc_id")
    }),

    "x_curation_funnel" -> ((s, dir) => {
      // THE WHOLE CURATION PIPELINE AS ONE DECLARATIVE PLAN — the
      // composition the individual operators exist for: quality gate
      // (qualityScore >= 0.8) -> near-dup dedup keeping the best copy
      // (ngramJaccardPairs + dropNearDuplicatesBy, the x_dedup_best
      // machinery over the gated subset) -> leakage-safe grouped
      // train split (groupSplit on source) -> 512-token sequence
      // packing (packBins). Readout = the per-stage funnel (docs,
      // whitespace tokens) every curation run reports; the packed row
      // carries the bin count. Every stage is the already-oracled
      // operator applied to the previous stage's survivors, so the
      // replay is the same fragments chained — one engine plan, one
      // DuckDB query, value-checked end to end.
      val d = docs(s, dir)
      graft.operators.Curation.funnelReport(d, "text",
        graft.operators.Curation.curate(d, "doc_id", "text",
          priorityCol = "n_chars", groupCol = "source"))
    }),

    "x_langid" -> ((s, dir) =>
      TextAnalysis.langId(s, docs(s, dir), "doc_id", "text").orderBy("doc_id")),

    "x_scrub" -> ((s, dir) => {
      // PII redaction (training-data scrubbing). The synthetic corpus
      // carries no emails/phones, so the PII-ish contact string is
      // synthesized deterministically from customer fields INSIDE the
      // query (both engines build the identical string) — every row
      // then exercises both redaction classes, so the pass is
      // non-vacuous by construction.
      val raw = concat(col("c_name"), lit(" contact "), lower(col("c_name")),
        lit("@example.com tel 555"), col("c_custkey").cast("string"))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), raw.as("raw"))
        .select(col("c_custkey"),
          TextAnalysis.scrubPii(col("raw")).as("scrubbed"),
          TextAnalysis.piiSpanCount(col("raw")).as("n_redacted"))
        .orderBy("c_custkey")
    }),

    "x_fingerprint" -> ((s, dir) => {
      // md5 variant so DuckDB can oracle-check the full normalization +
      // digest path; the FNV-1a rolling hash (TextAnalysis.fingerprint)
      // is golden-tested in ScalaTest instead (engine-specific hash).
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    "x_tfidf" -> ((s, dir) => {
      // classic tf-idf term weighting: tf per (doc, word), df across
      // docs, idf = ln(N/df). N rides along as a broadcast 1-row agg
      // (no driver-side count action); two hash aggs + one broadcast
      // join. round(4) absorbs cross-engine ln() ulp differences.
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
      val tf = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      tf.join(df, Seq("word")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 4).as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("word"))
        .limit(20)
    }),

    "x_bm25" -> ((s, dir) => {
      // BM25 ranked keyword retrieval (operators/Retrieval): top-20
      // docs for a 4-term query. The term filter compiles into the
      // scan, df/stats broadcast, and the only corpus-sized work is
      // the doc-length agg (precomputable via Retrieval.docLengths).
      // round(4) + id tie-break make the cut engine-deterministic.
      Retrieval.bm25(docs(s, dir), "doc_id", "text",
        Seq("vector", "stream", "merge", "window"), k = 20)
    }),

    "x_dsir_select" -> ((s, dir) => {
      // DSIR data selection (Sampling.dsirWeights — Xie et al. 2023):
      // hashed-bigram importance weights of every document against the
      // English slice as the target domain, top-50 by weight. Feature
      // hashing through the native FNV-1a expression mod 1024 (power
      // of two: signed pmod == unsigned mod, the HUGEINT replay
      // identity); Laplace-smoothed shares, llr in one fixed IEEE
      // form, per-doc sum round(4).
      graft.operators.Sampling.dsirWeights(docs(s, dir), "doc_id", "text",
          col("lang") === "en", buckets = 1024)
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(50)
    }),

    "x_rrf_fusion" -> ((s, dir) => {
      // hybrid retrieval via reciprocal-rank fusion (Retrieval.rrfFuse):
      // the BM25 lexical top-50 and the dense cosine top-50 (query
      // vec_id=0, ids aligned with doc ids) merge by RANK — no score
      // calibration. Both producers pin scores (round(4) /
      // decimal(10,4)), so ranks and therefore the fused cut are
      // engine-deterministic; the fusion itself runs over two
      // planning-sized lists.
      val lex = Retrieval.bm25(docs(s, dir), "doc_id", "text",
        Seq("vector", "stream", "merge", "window"), k = 50)
      val emb = Tables.load(s, dir, "embeddings")
      val sem = graft.operators.Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), 50)
        .withColumnRenamed("vec_id", "doc_id")
      Retrieval.rrfFuse(lex, sem, "doc_id", k = 20)
    }),

    "x_inverted" -> ((s, dir) => {
      // inverted-index build (operators/Retrieval): term -> sorted
      // postings, df-capped. The oracle checks a digest (md5 of the
      // space-joined posting list) so the full posting ORDER and
      // CONTENT are hash-verified without shipping arrays through the
      // compare.
      Retrieval.invertedIndex(docs(s, dir), "doc_id", "text")
        .select(col("term"), col("df"),
          md5(array_join(transform(col("postings"),
            x => x.cast("string")), " ")).as("postings_md5"))
        .orderBy(col("df").desc, col("term"))
        .limit(20)
    }),

    "x_ngram_freq" -> ((s, dir) => {
      // corpus n-gram document frequency (contamination / memorization
      // analysis shape): how many documents contain each trigram.
      // Native ShingleStrings shares ShingleHashes' exact tokenization
      // (whitespace runs, zero-token drop) so the oracle semantics
      // match the hash pipeline's, and the per-row shingling stays out
      // of interpreted HOFs; repartition spreads the single-file scan.
      docs(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(graft.functions.ShingleStrings.shingleStrings(
            col("text"))).as("shingle"))
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("shingle"))
        .limit(20)
    }),

    "x_sample" -> ((s, dir) => {
      // deterministic train/test split + stratification audit: per-lang
      // row counts per split. The split is a pure function of doc_id
      // (md5 bucket), so the same doc lands in the same split on any
      // engine, partitioning, or re-run — the reproducibility property
      // df.sample cannot give.
      docs(s, dir)
        .select(col("lang"), Sampling.splitColumn(col("doc_id"), testBuckets = 2).as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "split")
    }),

    "x_media_meta" -> ((s, dir) => {
      // multimodal decode path under the oracle: binary payload
      // (utf-8 bytes of text — the tables carry no real media) through
      // the batched mapPartitions decode. The stub decoder is pure
      // arithmetic on the byte length, so DuckDB can replay it and
      // hash-check the ENTIRE distributed plumbing: payload attach,
      // per-partition decode, typed metadata append.
      val withBin = Multimodal.withBinaryPayload(
        docs(s, dir).select(col("doc_id"), col("text")), "text")
      Multimodal.decodeMedia(withBin, "media")
        .select(col("doc_id"), col("format"), col("width"), col("height"), col("n_bytes"))
        .orderBy("doc_id")
    }),

    "x_frames" -> ((s, dir) => {
      // frame sampling under the oracle (round-2 verdict item 3 — the
      // last spec-only operator): every 2nd 64-byte chunk of the binary
      // payload becomes a frame row. The frame bytes themselves are
      // checked via md5 (the proven portable cross-engine hash) plus
      // the byte length, so the binary substr chunk arithmetic — byte
      // vs char semantics being exactly the cross-engine edge the
      // oracle exists to catch — is value-verified end to end
      // (documents are ASCII, so DuckDB's char-based substr over the
      // text equals the engine's byte-based substr over its utf-8).
      val withBin = Multimodal.withBinaryPayload(
        docs(s, dir).select(col("doc_id"), col("text")), "text")
      Multimodal.sampleFrames(withBin, "media", chunkBytes = 64, everyK = 2)
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).as("frame_bytes"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    }),

    "x_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(s, docs(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy("ida", "idb")),

    "x_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(docs(s, dir), "doc_id", "text", minJaccard = 0.5)
        .orderBy("ida", "idb")),

    "x_lsh_calibration" -> ((s, dir) =>
      // estimate-vs-exact error per minhash candidate pair — the
      // bands/rows tuning report; the exact half runs only on the
      // candidate neighborhood (semi-joined shingles), never corpus²
      Dedup.lshCalibration(docs(s, dir), "doc_id", "text", minEst = 0.25)
        .orderBy("ida", "idb")),

    "x_group_split" -> ((s, dir) =>
      // leakage-safe grouped train/val/test: split is a pure md5
      // function of SOURCE, so a group can never straddle splits;
      // report proves both the assignment and the no-straddle property
      // (n_sources sums to the distinct source count)
      graft.operators.Sampling.groupSplit(docs(s, dir), "source",
          nBuckets = 10, valBuckets = Set(0), testBuckets = Set(1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("split")),

    "x_incremental_dedup" -> ((s, dir) => {
      // the daily-ingest dedup path under the oracle (round-2 verdict
      // listed it spec-only): even doc_ids play the INDEXED history
      // (minhashSignatures — at scale a persisted, band-bucketed
      // table), odd doc_ids the incoming batch. Only the batch side is
      // shingled by incrementalNearDups; the index is consumed as-is
      // and history text is never rescanned (spec asserts that).
      val d = docs(s, dir)
      val index = Dedup.minhashSignatures(
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      Dedup.incrementalNearDups(
        d.filter(col("doc_id") % 2 =!= 0), "doc_id", "text",
        index, minJaccard = 0.5)
        .orderBy("new_id", "dup_of")
    }),

    "x_incremental_best" -> ((s, dir) => {
      // quality-aware refresh decisions (Dedup.incrementalBest — the
      // dropNearDuplicatesBy survivor policy wired into the daily-
      // ingest path, round-8 verdict item 6): batch = odd ids against
      // the even-id index, priority = n_chars. Per batch doc: admit
      // (no match ≥ 0.5), replace (strictly longer than its best
      // match), or drop (ties keep history). Best match = one min_by
      // hash agg on (est_jaccard DESC, dup_of); history text is never
      // rescanned — only its id→n_chars table joins in.
      val d = docs(s, dir)
      val hist = d.filter(col("doc_id") % 2 === 0)
      val index = Dedup.minhashSignatures(hist, "doc_id", "text")
      Dedup.incrementalBest(
        d.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", "n_chars",
        index, hist.select(col("doc_id"), col("n_chars")),
        minJaccard = 0.5)
        .orderBy("new_id")
    }),

    "x_fingerprint_fnv" -> ((s, dir) => {
      // the engine's own FNV-1a rolling-hash fingerprint under the
      // oracle (was golden-spec only): the HUGEINT mod-2^64 machinery
      // replays the byte-level fold, and the unsigned replay value maps
      // back to the JVM's signed long for the compare.
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    "x_seq_pack" -> ((s, dir) => {
      // sequence packing through Sampling.packBins, global-order form —
      // deterministic, so this is the ORACLE form; the per-shard scale
      // form (packBins with a shard key → parallel keyed windows, no
      // single-partition sort) is spec-checked in OperatorsSpec.
      Sampling.packBins(
        docs(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("toks")),
        "doc_id", "toks", budget = 512)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"))
        .orderBy("bin")
    }),

    "x_seq_pack_bpe" -> ((s, dir) => {
      // x_seq_pack's bin walk over EXACT token counts under the
      // x_bpe_merges vocab (TextAnalysis.bpeEncode — round-16 verdict
      // item 4's motivation realized: budgeting/packing decisions ride
      // true merge-table counts, not pre-token approximations). The
      // count column is one narrow codegen pass; packing is unchanged.
      Sampling.packBins(
        // spread the exact-count pass (the x_bpe_merges rationale)
        Tables.spread(docs(s, dir)).select(col("doc_id"),
          size(TextAnalysis.bpeEncode(col("text"), bpeMergeTable))
            .cast("long").as("toks")),
        "doc_id", "toks", budget = 512)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"))
        .orderBy("bin")
    }),

    "x_budget_select" -> ((s, dir) => {
      // token-budget corpus cut (Sampling.budgetSelect): keep the
      // best-scored prefix whose cumulative cost fits 25% of the
      // corpus — here score = cost = n_chars (longest-first length
      // curriculum); the cumulative cost comes from the bucketed
      // prefix sum on the score axis, never a global sort. Budget =
      // integer quarter of the total, same integer div in the oracle.
      val d = docs(s, dir)
      val total = d.agg(sum(col("n_chars"))).head().getLong(0)
      graft.operators.Sampling.budgetSelect(
          d.select(col("doc_id"), col("source"), col("n_chars")),
          "doc_id", "n_chars", "n_chars", budget = total / 4)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sel_chars"))
        .orderBy("source")
    }),

    "x_bigram_nll" -> ((s, dir) =>
      // interpolated bigram-LM score (TextAnalysis.bigramNll) — the
      // CCNet-style perplexity filter one notch above the unigram
      // proxy below: p(w|v) = 0.75·c(v,w)/c(v,·) + 0.25·c(w)/N, all
      // counts exact integers, λ binary-exact, per-doc mean round(4)
      graft.operators.TextAnalysis.bigramNll(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "x_kn_bigram" -> ((s, dir) =>
      // interpolated Kneser-Ney bigram score (TextAnalysis.knBigramNll)
      // — the Chen & Goodman smoothing: discounted bigram mass backs
      // off to the CONTINUATION distribution (distinct-context counts),
      // not raw unigram frequency. D=0.75 binary-exact, all model
      // factors ratios of exact integer counts, per-doc mean round(4)
      graft.operators.TextAnalysis.knBigramNll(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "x_unigram_logprob" -> ((s, dir) => {
      // LM-style quality score: mean negative log-probability of each
      // document's words under the corpus unigram distribution — the
      // classic cheap proxy for "does this text look like the corpus"
      // used in training-data quality filtering. The tokenized frame
      // feeds THREE consumers (word counts, corpus total, the per-doc
      // probe) and Spark shares no subplans across branches, so it is
      // persisted for the query's duration and released once the small
      // per-doc result is materialized (review: the naive form ran the
      // scan+explode three times). The corpus total rides along as a
      // broadcast 1-row agg (no driver-side action). round(4) absorbs
      // summation-order ulp noise in the per-doc mean.
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wc = toks.groupBy("word").agg(count(lit(1)).as("wc"))
      val total = toks.agg(count(lit(1)).as("tot"))
      // checkpoint BEFORE the output sort so ordering is applied last
      val out = toks.join(wc, Seq("word")).crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(round(avg(-log(col("wc").cast("double") / col("tot"))), 4).as("nll"))
        .localCheckpoint(true)
      toks.unpersist()
      out.orderBy("doc_id")
    }),

    "x_repetition" -> ((s, dir) =>
      // within-document repetition / boilerplate profile (template-spam
      // filter): exact-integer counts → deterministic ratios
      TextAnalysis.repetitionStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "x_pmi" -> ((s, dir) => {
      // bigram PMI collocations (phrase mining / tokenizer-merge
      // analysis): bigrams are built NARROWLY inside each row —
      // adjacent pairs of the filtered token array, occurrence
      // multiplicity preserved (which the per-doc-deduping native
      // shingler can't give) — so the only wide ops are the count
      // aggregations. The earlier positional-self-join formulation
      // shuffled the entire token stream through a (doc, pos) join
      // twice; this one never joins at all (round-6 perf pass, same
      // oracle). The array frame feeds four consumers, so it is
      // persisted and released after the small top-k materializes.
      // Counts are exact integers; round(4) absorbs cross-engine ln()
      // ulp noise (x_tfidf proved the pattern).
      val arr = docs(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          filter(split(col("text"), "\\s+"), t => length(t) > 0).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val uni = arr.select(explode(col("w")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      val tuni = arr.agg(sum(size(col("w"))).as("tu"))
      val bi = arr.filter(size(col("w")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      val tbi = bi.agg(sum(col("cab")).as("tb"))
      val out = bi.filter(col("cab") >= 5)
        .join(uni.select(col("word").as("w1"), col("c").as("ca")), Seq("w1"))
        .join(uni.select(col("word").as("w2"), col("c").as("cb")), Seq("w2"))
        .crossJoin(broadcast(tbi)).crossJoin(broadcast(tuni))
        .select(col("w1"), col("w2"), col("cab"),
          round(log((col("cab").cast("double") / col("tb")) /
            ((col("ca").cast("double") / col("tu")) *
             (col("cb").cast("double") / col("tu")))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
        .localCheckpoint(true)
      arr.unpersist()
      out
    }),

    "x_stratified_sample" -> ((s, dir) =>
      // domain-mixing sampler: downsample overrepresented English to
      // 2/16, keep Chinese whole, 4/16 for the rest — a pure function
      // of (doc_id, lang), reproducible on any engine/partitioning
      Sampling.stratifiedKeep(docs(s, dir).select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 2, "zh" -> 16), defaultBuckets = 4)
        .orderBy("doc_id")),

    "x_contamination" -> ((s, dir) =>
      // benchmark decontamination: per TEST doc, the fraction of its
      // distinct trigram shingles that any TRAIN doc contains; the
      // md5-bucket split keeps membership engine-independent
      Dedup.contaminationReport(docs(s, dir), "doc_id", "text",
        Sampling.splitColumn(col("doc_id"), testBuckets = 2))
        .orderBy("doc_id")),

    "x_blocklist" -> ((s, dir) => {
      // exact blocklist subtraction behind a Bloom-constant prefilter
      // (takedown / test-set-id removal): the oracle is the plain
      // subtraction — the bloom path must be EXACTLY equivalent
      val d = docs(s, dir).select(col("doc_id"), col("lang"))
      val bl = docs(s, dir).filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("blocked_id"))
      Dedup.blocklistSubtract(d, "doc_id", bl, "blocked_id",
        expectedItems = 100000L, fpp = 0.01)
        .orderBy("doc_id")
    }),

    "x_boilerplate" -> ((s, dir) =>
      // cross-document boilerplate report (CCNet-style line dedup at
      // the 8-token-chunk grain): chunk texts shared by ≥2 distinct
      // docs, hottest first — the diagnostic run before chunk scrubbing
      Dedup.duplicateChunks(docs(s, dir), "doc_id", "text")
        .orderBy(col("ndocs").desc, col("chunk"))
        .limit(20)),

    "x_chunk_scrub" -> ((s, dir) =>
      // chunk-level dedup: every cross-document duplicate chunk removed
      // and each doc rebuilt from its surviving chunks in order; docs
      // that were pure boilerplate come back empty (n_kept = 0), one
      // row per input doc either way
      Dedup.scrubDuplicateChunks(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "x_rag_chunks" -> ((s, dir) =>
      // retrieval-index chunk export: 64-token chunks stepping by 48
      // (16-token overlap so boundary-straddling facts land whole in
      // one chunk), tail clipped — the grain an embedding indexer
      // consumes, emitted as (doc, chunk-index, text, token count)
      TextAnalysis.ragChunks(docs(s, dir), "doc_id", "text",
        width = 64, stride = 48)
        .orderBy("doc_id", "ck")),

    "x_span_scrub" -> ((s, dir) =>
      // exact substring-span dedup (Lee et al. 2022): duplicate text
      // repeats at ARBITRARY offsets, so detection runs at every
      // stride-1 8-token window; per-doc overlapping duplicate windows
      // merge into maximal spans that are cut out of the rebuilt text.
      // The sliding grain catches offset-shifted copies the disjoint
      // chunk grain (x_chunk_scrub) provably misses.
      Dedup.scrubDuplicateSpans(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "x_source_kl" -> ((s, dir) => {
      // corpus drift / domain-mix monitoring: per-source unigram KL
      // divergence from the whole-corpus distribution,
      // KL(P_s ‖ P) = Σ_w p_s(w)·ln(p_s(w)/p(w)) — the number watched
      // when a new crawl slice shifts the token mix. All counts are
      // exact integers (three partially-aggregated hash aggs + one
      // broadcast 1-row total); doubles appear only in the final
      // per-word contribution, and round(4) absorbs summation-order
      // ulp noise (same pattern as x_tfidf / x_unigram_logprob).
      //
      // The word string never reaches the output (per-source rows
      // only), so every group/join key is the 64-bit FNV hash of the
      // word — the sw/wt shuffles and the three-way join carry longs
      // instead of token text (round-4 verdict item 3). The oracle
      // replays the identical hash (HashReplay.fnvFoldSql), so even a
      // collision would merge the same words on both sides.
      val toks = docs(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("source"), explode(split(col("text"), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .select(col("source"),
          graft.functions.Fnv1a64.fnv64(col("word")).as("wh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sw = toks.groupBy("source", "wh").agg(count(lit(1)).as("csw"))
      val st = toks.groupBy("source").agg(count(lit(1)).as("cs"))
      val wt = toks.groupBy("wh").agg(count(lit(1)).as("cw"))
      val tot = toks.agg(count(lit(1)).as("ct"))
      val out = sw.join(st, Seq("source")).join(wt, Seq("wh"))
        .crossJoin(broadcast(tot))
        .withColumn("contrib",
          (col("csw").cast("double") / col("cs")) *
            log((col("csw").cast("double") * col("ct")) /
              (col("cs").cast("double") * col("cw"))))
        .groupBy(col("source"))
        .agg(max(col("cs")).as("n_tokens"), round(sum(col("contrib")), 4).as("kl"))
        .orderBy("source")
        .localCheckpoint(true)
      toks.unpersist()
      out
    }),

    "x_compaction" -> ((s, dir) => {
      // small-files compaction round-trip: fragment the corpus into 64
      // tiny parquet files (the shape a streaming ingester leaves
      // behind), compact to ~1 MB targets, read the compacted copy
      // back and aggregate — equality with the oracle (which reads the
      // ORIGINAL parquet) proves the rewrite lossless; the file-count
      // shrink itself is asserted in ScalaTest
      val d = docs(s, dir)
      val frag = scratchDir("frag", dir)
      val comp = scratchDir("compact", dir)
      d.repartition(64).write.mode("overwrite").parquet(frag.getAbsolutePath)
      graft.sources.Compaction.compactParquet(
        s, frag.getAbsolutePath, comp.getAbsolutePath, targetBytes = 1L << 20)
      graft.sources.Compaction.read(s, comp.getAbsolutePath)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_len"))
        .orderBy("lang")
    }),

    "x_compact_partitioned" -> ((s, dir) => {
      // partition-PRESERVING compaction: fragment the corpus into a
      // lang-partitioned dir (the hive layout a partitioned ingester
      // leaves behind, many tiny files per partition), compact with
      // layout auto-detect, then read the compacted copy back THROUGH
      // a partition predicate — equality with the oracle (original
      // parquet + same predicate) proves the rewrite lossless AND that
      // `lang` survived as a real partition column the scan can prune
      // on (the pruning itself is PlanSpec-locked)
      val d = docs(s, dir)
      val frag = scratchDir("fragpart", dir)
      val comp = scratchDir("comppart", dir)
      d.repartition(16).write.mode("overwrite")
        .partitionBy("lang").parquet(frag.getAbsolutePath)
      graft.sources.Compaction.compactParquet(
        s, frag.getAbsolutePath, comp.getAbsolutePath, targetBytes = 1L << 20)
      graft.sources.Compaction.read(s, comp.getAbsolutePath)
        .filter(col("lang").isin("en", "de"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_len"))
        .orderBy("lang")
    }),

    "x_zone_scan" -> ((s, dir) => {
      // zone-map data skipping (sources/ZoneMaps): cluster the corpus
      // into doc_id-bucketed files, build the min/max-per-file stats
      // table in one pass, then answer a range scan opening ONLY files
      // the zone map can't rule out. Equality with the oracle (plain
      // range filter on the ORIGINAL parquet) proves pruning lossless;
      // the file-count shrink itself is asserted in ScalaTest.
      val d = docs(s, dir)
      val dirF = scratchDir("zones", dir)
      d.withColumn("bucket", floor(col("doc_id") / 64).cast("int"))
        // cluster by the partition column BEFORE the write (guide §6):
        // the single-split source otherwise writes every bucket
        // directory from one task (measured a 1-task ~1 s write stage);
        // the bucket-keyed exchange parallelizes the write and keeps
        // the one-file-per-bucket layout the zone-map stats are built on
        .repartition(s.sessionState.conf.numShufflePartitions, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(dirF.getAbsolutePath)
      val clustered = s.read.parquet(dirF.getAbsolutePath)
      val stats = graft.sources.ZoneMaps.fileStats(clustered, Seq("doc_id"))
      graft.sources.ZoneMaps.skipScan(
          s, dirF.getAbsolutePath, stats, "doc_id", 100L, 199L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    "x_source_overlap" -> ((s, dir) => {
      // cross-source contamination matrix: the minhash-LSH near-dup
      // pairs rolled up by (source, source) — which corpus sources copy
      // from each other, and how close. est_jaccard values are exact
      // 16ths (binary-exact doubles), so the cross-row avg is exact in
      // any order. Reuses the persisted-signature band join; the rollup
      // adds two joins against the tiny (doc_id, source) projection.
      val d = docs(s, dir)
      val pairs = Dedup.minhashPairs(d, "doc_id", "text", minJaccard = 0.5)
      val src = d.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("ida"), col("source").as("sa")), "ida")
        .join(src.select(col("doc_id").as("idb"), col("source").as("sb")), "idb")
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("pairs"),
          round(avg(col("est_jaccard")), 4).as("avg_sim"))
        .orderBy("source_a", "source_b")
    }),

    "x_weighted_sample" -> ((s, dir) =>
      // length-weighted corpus sample (Sampling.weightedSample):
      // sequential Poisson — priority u/n_chars, u = 52-bit md5 int
      // (exact in a double, so priorities are bit-identical on any
      // engine), 500 smallest win via TakeOrdered. The importance-
      // weighted subsample shape (by quality/domain weight) at 100 TB.
      Sampling.weightedSample(
          docs(s, dir).select("doc_id", "source", "n_chars"),
          "doc_id", "n_chars", k = 500)
        .orderBy("doc_id")),

    "x_evolve_read" -> ((s, dir) => {
      // schema-evolution read: v1-era files lack `source` (early
      // ingest), v2 files carry it; option("mergeSchema") unions the
      // footers and null-pads v1 rows — the corpus-grows-a-column
      // scenario every long-lived ingest directory hits. coalesce keeps
      // the group key non-null (engines disagree on null sort order).
      val d = docs(s, dir)
      val v1 = scratchDir("evo1", dir)
      val v2 = scratchDir("evo2", dir)
      d.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(v1.getAbsolutePath)
      d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"))
        .write.mode("overwrite").parquet(v2.getAbsolutePath)
      s.read.option("mergeSchema", "true")
        .parquet(v1.getAbsolutePath, v2.getAbsolutePath)
        .groupBy(col("lang"), coalesce(col("source"), lit("<v1>")).as("source_v"))
        .agg(count(lit(1)).as("docs"))
        .orderBy("lang", "source_v")
    }),

    "x_jsonl_roundtrip" -> ((s, dir) => {
      // JSONL ingest (the LLM-corpus interchange format): write the
      // corpus as line-delimited JSON, read it back with an explicit
      // schema, and aggregate — equality with the oracle (which reads
      // the original parquet) proves the round trip lossless. The temp
      // dir is pid-scoped (two concurrent JVMs must not race one
      // overwrite) and removed on JVM exit.
      val d = docs(s, dir)
      val tmp = scratchDir("jsonl", dir)
      graft.sources.JsonlCorpus.write(d, tmp.getAbsolutePath)
      graft.sources.JsonlCorpus.read(s, tmp.getAbsolutePath, d.schema)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_len"))
        .orderBy("source")
    }),

    "x_orc_roundtrip" -> ((s, dir) => {
      // ORC ingest/export, hive-partitioned on lang: write the corpus
      // as lang-partitioned zstd ORC, read it back through partition
      // discovery, and aggregate BY THE PARTITION COLUMN — equality
      // with the parquet-reading oracle proves both the column data
      // and the reconstructed partition values lossless. Same
      // pid-scoped temp-dir discipline as x_jsonl_roundtrip.
      val d = docs(s, dir)
      val tmp = scratchDir("orc", dir)
      graft.sources.OrcCorpus.write(d, tmp.getAbsolutePath, partitionBy = Seq("lang"))
      graft.sources.OrcCorpus.read(s, tmp.getAbsolutePath)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          countDistinct(col("source")).as("sources"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_len"))
        .orderBy("lang")
    }),

    "x_shard_export" -> ((s, dir) => {
      // deterministic sharded export (the training-data writer shape):
      // shard = pure function of doc_id (Sampling.shardId), output
      // written shard-partitioned, read back through partition
      // discovery, and summarized per shard. The oracle replays the
      // md5-nibble arithmetic on the original parquet, so equality
      // proves BOTH the shard assignment and the partitioned layout
      // lossless. Narrow assignment — the write's partitionBy is the
      // only movement, exactly what a 100 TB export does.
      val d = docs(s, dir)
        .withColumn("shard", graft.operators.Sampling.shardId(col("doc_id"), 8))
      val tmp = scratchDir("shard", dir)
      d.write.mode("overwrite").partitionBy("shard").parquet(tmp.getAbsolutePath)
      s.read.parquet(tmp.getAbsolutePath)
        .groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("docs"),
          countDistinct(col("lang")).as("langs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("shard")
    }),

    "x_mixture_plan" -> ((s, dir) => {
      // domain-mixing planner: per-source char budgets → deterministic
      // keep rates toward a UNIFORM share target, emitted in the
      // 16ths Sampling.stratifiedKeep consumes. rate_s = min(1,
      // (total/nsrc)/chars_s): overrepresented sources are
      // downsampled, rare ones kept whole — the plan every pretraining
      // mixture job computes before its stratified filter. Two hash
      // aggs + a broadcast 1-row totals join; no driver action.
      val bySrc = docs(s, dir).groupBy(col("source"))
        .agg(sum(col("n_chars")).as("chars"))
      val tot = bySrc.agg(sum(col("chars")).as("total"),
        count(lit(1)).as("nsrc"))
      val rate = least(lit(1.0),
        (col("total").cast("double") / col("nsrc")) / col("chars"))
      bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("chars").cast("bigint").as("chars"),
          round(col("chars").cast("double") / col("total"), 4).as("share"),
          round(rate, 4).as("rate"),
          floor(rate * 16).cast("int").as("buckets"))
        .orderBy("source")
    }),

    "x_length_trim" -> ((s, dir) => {
      // robust length-outlier trim (quality filtering): per-language
      // exact p05/p95 of n_chars, keep only in-range docs. The bounds
      // frame is tiny (one row per lang) and broadcast, so the corpus
      // never shuffles: scan → broadcast-join → narrow filter → one
      // small agg. The bounds are the exact interpolated percentiles
      // whose cross-engine value equality x_percentiles already pins —
      // read off the bucketed prefix-sum CDF (Stats.
      // groupedInterpolatedQuantiles), not the buffer-everything
      // `percentile` aggregate.
      val d = docs(s, dir)
      val bounds = graft.operators.Stats
        .groupedInterpolatedQuantiles(d, "lang", "n_chars", Seq(0.05, 0.95))
        .groupBy(col("lang"))
        .agg(min(when(col("p") === 0.05, col("value"))).as("lo"),
          min(when(col("p") === 0.95, col("value"))).as("hi"))
      d.join(broadcast(bounds), Seq("lang"))
        .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    "x_source_cap" -> ((s, dir) =>
      // per-source document cap (the Common-Crawl "≤ n pages per
      // domain" rule): keep the 10 lowest-md5-ranked docs of each
      // source through the bounded-buffer TopK heap — the shuffle
      // carries ≤ n rows per (source, partition), never a full
      // per-group sort (see Sampling.capPerGroup scale notes)
      Sampling.capPerGroup(docs(s, dir).select("doc_id", "source"),
        "doc_id", "source", n = 10)
        .orderBy("doc_id")),

    "x_temperature_mix" -> ((s, dir) =>
      // temperature-flattened language mixing (p_l ∝ n_l^0.5): the
      // rarest language keeps everything, a 4×-bigger one keeps half —
      // rate table derived in-plan, applied via the md5-bucket rule, a
      // pure function of (doc_id, lang, corpus counts)
      Sampling.temperatureKeep(docs(s, dir).select("doc_id", "lang"),
        "doc_id", "lang", sqrtApplications = 1)
        .orderBy("doc_id")),

    "x_vocab_coverage" -> ((s, dir) =>
      // tokenizer-vocab audit: top-200 corpus vocabulary, then
      // per-source token volume and out-of-vocabulary rate
      TextAnalysis.vocabCoverage(docs(s, dir), "text", "source",
        vocabSize = 200)
        .orderBy("source")),

    "x_word_entropy" -> ((s, dir) => {
      // per-document word-distribution Shannon entropy (the gibberish /
      // diversity quality signal): H = ln(n) − (Σ c·ln c)/n over the
      // doc's word counts — exact integer counts through two
      // partial-aggregated hash aggs, doubles only in the final ln
      // terms, round(4) absorbing summation-order ulp noise (the
      // x_unigram_logprob pattern)
      val pw = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      pw.groupBy("doc_id")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("types"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
        .select(col("doc_id"),
          col("n").cast("bigint").as("n_words"),
          col("types").cast("bigint").as("n_types"),
          round(log(col("n").cast("double")) - col("clc") / col("n"), 4)
            .as("entropy"))
        .orderBy("doc_id")
    }),

    "x_pad_waste" -> ((s, dir) => {
      // sequence-length bucketing / padding-waste audit (dynamic
      // batching design): docs binned to power-of-two length buckets
      // via an integer CASE chain (no log2 float boundary risk —
      // identical on any engine), then per-bucket doc count, real
      // token volume, padded volume (docs × bucket) and the waste
      // fraction a pad-to-bucket batcher would eat. All integers
      // except the final exact-input round(4).
      val n = TextAnalysis.tokenCount(col("text")).cast("long")
      val bucket = when(n <= 16, 16L).when(n <= 32, 32L)
        .when(n <= 64, 64L).when(n <= 128, 128L).when(n <= 256, 256L)
        .when(n <= 512, 512L).otherwise(1024L)
      docs(s, dir).select(bucket.as("bucket"), n.as("n"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("sum_tokens"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          (col("n_docs") * col("bucket")).as("padded_tokens"),
          round(lit(1.0) - col("sum_tokens").cast("double") /
            (col("n_docs") * col("bucket")), 4).as("waste_rate"))
        .orderBy("bucket")
    }),

    "x_nfc_normalize" -> ((s, dir) => {
      // Unicode NFC normalization through the native codegen
      // expression (functions/UnicodeNormalize): the corpus is ASCII,
      // so a decomposed accent (e + U+0301 combining acute) is
      // appended in-plan to make composition non-vacuous — NFC fuses
      // it to U+00E9 and the code-point length drops by one. DuckDB
      // replays with its utf8proc nfc_normalize.
      val raw = concat(substring(col("text"), 1, 24), lit("e\u0301"))
      docs(s, dir).select(col("doc_id"),
          length(raw).cast("int").as("len_raw"),
          graft.functions.UnicodeNormalize.nfc(raw).as("norm"))
        .withColumn("len_norm", length(col("norm")).cast("int"))
        .orderBy("doc_id")
    }),

    "x_zipf" -> ((s, dir) => {
      // corpus-scaling law report per source: Zipf slope (log-log
      // regression of frequency on rank over the top 100 words —
      // deterministic rank tiebreak by word) and the Heaps exponent
      // ln(V)/ln(N). The window runs over the aggregated vocabulary
      // (|V| rows per source), never the corpus; the corpus itself
      // contributes one partial-aggregated word-count shuffle.
      val words = docs(s, dir)
        .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val wc = words.groupBy("source", "w").agg(count(lit(1)).as("c"))
      val tot = wc.groupBy("source")
        .agg(sum("c").cast("bigint").as("n_tokens"),
          count(lit(1)).cast("bigint").as("vocab_size"))
      val ranked = wc.withColumn("rnk",
        row_number().over(Window.partitionBy("source")
          .orderBy(col("c").desc, col("w"))))
      val slope = ranked.filter(col("rnk") <= 100)
        .groupBy("source")
        .agg(round(regr_slope(log(col("c").cast("double")),
          log(col("rnk").cast("double"))), 4).as("zipf_slope"))
      tot.join(slope, "source")
        .select(col("source"), col("n_tokens"), col("vocab_size"),
          col("zipf_slope"),
          round(log(col("vocab_size").cast("double")) /
            log(col("n_tokens").cast("double")), 4).as("heaps_beta"))
        .orderBy("source")
    }),

    "x_countmin" -> ((s, dir) =>
      // count-min sketch heavy hitters (operators/Sketches): exact
      // top-20 words with the d=4 × w=512 sketch estimate alongside —
      // est_c >= true_c by construction, equal when collision-free.
      // The full splitmix64 bucket derivation is replayed in the
      // oracle through the HashReplay HUGEINT machinery.
      Sketches.countMinHeavyHitters(docs(s, dir), "text", d = 4, w = 512, k = 20)),

    "x_hll_merge" -> ((s, dir) => {
      // the sketch property that matters operationally: MERGEABILITY.
      // Registers built from two disjoint corpus halves (odd/even
      // doc_id — "yesterday's snapshot" + "today's batch") merge by
      // union+re-max and estimate IDENTICALLY to a single pass over
      // the whole corpus — the oracle is the single-pass replay, so a
      // hash match PROVES merge associativity end-to-end. Daily
      // register tables (≤ |groups|·512 rows) roll up to any horizon
      // without ever rescanning history.
      val toks = docs(s, dir)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val key = graft.functions.Fnv1a64.fnv64(col("w"))
      val day1 = Hll.registers(toks.filter(col("doc_id") % 2 === 0),
        Seq("source"), key, p = 9)
      val day2 = Hll.registers(toks.filter(col("doc_id") % 2 =!= 0),
        Seq("source"), key, p = 9)
      Hll.estimate(Hll.merge(day1, day2, Seq("source")), Seq("source"), p = 9)
        .orderBy("source")
    }),

    "x_hll" -> ((s, dir) => {
      // HyperLogLog distinct words per source (operators/Hll, p=9 →
      // 512 registers): the register table builds straight off the
      // token stream — map-side partial max collapses every partition
      // to ≤ |sources|·512 rows, so the distinct-count shuffle is
      // CONSTANT-size in the corpus (exact COUNT DISTINCT, computed
      // alongside for comparison, shuffles the whole vocabulary). The
      // register sum is exact scaled-integer DECIMAL math, so the
      // whole estimate replays bit-level in the oracle.
      val toks = docs(s, dir)
        .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val est = Hll.estimateDistinct(toks, Seq("source"),
        graft.functions.Fnv1a64.fnv64(col("w")), p = 9)
      val exact = toks.groupBy("source")
        .agg(countDistinct(col("w")).as("exact_distinct"))
      est.join(exact, Seq("source")).orderBy("source")
    })
  )

  /** The x_text_quality per-row quality expression (4-decimal-rounded),
    * shared by the x_text_quality and x_quality_by_source oracles so
    * the two replays cannot drift. (def, not val: referenced from the
    * `oracle` val above.) */
  private def qualityExprSql: String =
    """ROUND(
      |    LEAST(len(string_split_regex(text, '\s+')) / 50.0, 1.0) * 0.5 +
      |    CASE WHEN length(text) * 1.0 / GREATEST(len(string_split_regex(text, '\s+')), 1)
      |              BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END * 0.3 +
      |    CASE WHEN len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) * 1.0
      |              / GREATEST(length(text), 1) <= 0.2 THEN 1.0 ELSE 0.5 END * 0.2,
      |  4)""".stripMargin

  /** The langId oracle shares the Scala lexicon — single source of
    * truth for the stopword table on both engines. */
  private val lexiconValues: String =
    TextAnalysis.stopwordLexicon
      .map { case (lang, word) => s"('$lang', '$word')" }
      .mkString(", ")

  // ---- hash-family oracle machinery (x_minhash_pairs / x_simhash_pairs) ----
  //
  // The engine's FNV-1a / splitmix64 hash family is replayed in DuckDB
  // SQL with HUGEINT arithmetic mod 2^64, so even the "hash-family"
  // dedup operators get full value-level oracles. Constants and the
  // 32-bit-split multiply decomposition come from [[HashReplay]] — the
  // same object whose BigInt model is property-checked against the JVM
  // kernels (GraftProperties), so the formulas here cannot silently
  // drift. One extra equivalence this module relies on: documents are
  // ASCII, so ord(char) == utf-8 byte.
  private val M = HashReplay.MSql

  /** splitmix64 finalizer as chained CTEs over column `z` of `src`. */
  private def mixCtes(prefix: String, src: String, keys: String): String =
    HashReplay.mixCtesSql(prefix, src, keys)

  /** Shared front end: distinct 3-gram shingles → FNV-1a 64 per
    * shingle, mirroring ShingleHashes exactly: tokens are whitespace
    * RUNS (regex split + empty filter, not single-space split — space
    * runs/tabs tokenize identically to the engine), and zero-token
    * documents produce NO shingles (the engine emits an empty hash
    * array for them; the single RE2-vs-JVM \s divergence left is the
    * vertical tab \x0B, absent from this corpus). */
  private val shingleFnvCtes: String =
    s"""toks AS (SELECT doc_id,
       |           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
       |         FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, unnest(
       |    CASE WHEN len(w) >= 3
       |         THEN list_distinct(list_transform(range(len(w) - 2),
       |              i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
       |         ELSE [array_to_string(w, ' ')] END) AS shingle
       |  FROM toks WHERE len(w) > 0),
       |fnv AS (
       |  SELECT doc_id, ${HashReplay.fnvFoldSql("shingle")} AS h
       |  FROM sh)""".stripMargin

  /** Shared minhash replay: shingle FNV → 16 splitmix permutation
    * minima (signed-order-bijected) → 8 bands of 2 — everything up to
    * the `sig` and `bands` CTEs that the pair/incremental oracles
    * consume. */
  private val minhashSigCtes: String =
    s"""$shingleFnvCtes,
       |seeds_z AS (SELECT j, (CAST(j AS HUGEINT) + ${HashReplay.SplitmixGamma}) % $M AS z
       |            FROM range(16) t(j)),
       |${mixCtes("seeds", "seeds_z", "j")},
       |mx_z AS (SELECT f.doc_id, s.j,
       |           (xor(f.h, s.z) + ${HashReplay.SplitmixGamma}) % $M AS z
       |         FROM fnv f CROSS JOIN seeds s),
       |${mixCtes("mx", "mx_z", "doc_id, j")},
       |-- xor 2^63: signed→unsigned order bijection (JVM long min)
       |sig AS (SELECT doc_id, j,
       |          MIN(xor(z, CAST(${HashReplay.SignBit} AS HUGEINT))) AS m
       |        FROM mx GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, j // 2 AS band,
       |    MAX(CASE WHEN j % 2 = 0 THEN m END) AS v0,
       |    MAX(CASE WHEN j % 2 = 1 THEN m END) AS v1
       |  FROM sig GROUP BY 1, 2)""".stripMargin

  /** Shared CTE body (after WITH RECURSIVE) of the n-gram-jaccard →
    * connected-components dedup replay, through `walk(a, lbl)` — used
    * by both survivor policies (x_dedup_corpus min-id, x_dedup_best
    * max-quality) and, over a FILTERED source relation, by the
    * x_curation_funnel stage chain. A `def`, so object-init order can
    * never bite. */
  private def dedupCcCtes: String = dedupCcCtesOver("documents")

  private def dedupCcCtesOver(src: String): String =
    s"""toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
      |  FROM $src
      |), sh AS (
      |  SELECT DISTINCT doc_id, unnest(
      |    CASE WHEN len(w) >= 3
      |         THEN list_distinct(list_transform(range(len(w) - 2),
      |              i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
      |         ELSE [array_to_string(w, ' ')] END) AS shingle
      |  FROM toks WHERE len(w) > 0
      |), counts AS (
      |  SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id
      |), keep AS (
      |  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 1000
      |), pruned AS (
      |  SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
      |), shared AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
      |  FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT ida, idb FROM shared
      |  JOIN counts ca ON ca.doc_id = ida
      |  JOIN counts cb ON cb.doc_id = idb
      |  WHERE CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter) >= 0.5
      |), edges AS (
      |  SELECT ida AS a, idb AS b FROM pairs
      |  UNION SELECT idb, ida FROM pairs
      |), walk(a, lbl) AS (
      |  SELECT doc_id, doc_id FROM $src
      |  UNION
      |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.a = e.b
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_source_cap" ->
      // the heap path's rank = (first 15 md5 nibbles as a 60-bit int,
      // id); hex-char order == nibble-value order, so a plain string
      // compare on substr(md5, 1, 15) replays it exactly
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "x_temperature_mix" ->
      // rate_l = sqrt(n_min/n_l) floored to 16ths (never below 1);
      // sqrt and / are IEEE-correctly-rounded in both engines, *16 is
      // a power-of-two scaling — bit-identical buckets, then the same
      // md5-bucket keep rule as x_stratified_sample ('g' keeps all)
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |mn AS (SELECT MIN(n) AS mn FROM c),
        |b AS (SELECT lang,
        |        GREATEST(1, FLOOR(SQRT(CAST(mn AS DOUBLE) / n) * 16)) AS bkt
        |      FROM c CROSS JOIN mn)
        |SELECT d.doc_id, d.lang FROM documents d JOIN b ON d.lang = b.lang
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
        |      < substr('0123456789abcdefg', CAST(b.bkt AS INT) + 1, 1)
        |ORDER BY d.doc_id""".stripMargin,
    "x_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS w
        |  FROM documents
        |), vocab AS (
        |  SELECT w FROM (
        |    SELECT w, COUNT(*) AS c FROM toks GROUP BY 1
        |    ORDER BY c DESC, w LIMIT 200) t
        |)
        |SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  ROUND(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*), 4) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.w = v.w
        |GROUP BY t.source ORDER BY t.source""".stripMargin,
    "x_word_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS word
        |  FROM documents
        |), pw AS (
        |  SELECT doc_id, word, COUNT(*) AS c FROM toks GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  ROUND(LN(CAST(SUM(c) AS DOUBLE))
        |        - SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))) / SUM(c), 4)
        |    AS entropy
        |FROM pw GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // ROW_NUMBER rank-sum replay: ties make Σ i·x order-independent
    // (a tie block's rank sum is fixed), so the window replay equals
    // the engine's CDF tie-block form exactly; s is exact HUGEINT,
    // 2.0·double(s) ≡ double(2s) (×2 is exact and commutes with
    // round-to-nearest), and the division/subtraction order is pinned
    // to the engine's
    "x_gini" ->
      """WITH r AS (
        |  SELECT n_chars AS x,
        |    ROW_NUMBER() OVER (ORDER BY n_chars) AS i
        |  FROM documents WHERE n_chars IS NOT NULL),
        |m AS (
        |  SELECT COUNT(*) AS n, SUM(x) AS t,
        |    SUM(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS s
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS total,
        |  ROUND(2.0 * CAST(s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
        |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
        |FROM m""".stripMargin,
    // exact contingency cells + marginals, the same p·ln term shapes;
    // round(6) absorbs the unordered double-sum noise over the ≤
    // |sources|·|langs| cells
    "x_mutual_info" ->
      """WITH cell AS (
        |  SELECT source AS x, lang AS y, CAST(COUNT(*) AS BIGINT) AS nxy
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM cell GROUP BY 1),
        |my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM cell GROUP BY 1),
        |t AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM cell),
        |mi AS (
        |  SELECT SUM((CAST(nxy AS DOUBLE) / t.n)
        |    * ln(CAST(nxy AS DOUBLE) * t.n
        |         / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))) AS mi
        |  FROM cell JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t),
        |hx AS (SELECT SUM((CAST(nx AS DOUBLE) / t.n)
        |         * ln(CAST(t.n AS DOUBLE) / nx)) AS h FROM mx CROSS JOIN t),
        |hy AS (SELECT SUM((CAST(ny AS DOUBLE) / t.n)
        |         * ln(CAST(t.n AS DOUBLE) / ny)) AS h FROM my CROSS JOIN t)
        |SELECT t.n, ROUND(mi.mi, 6) AS mi,
        |  ROUND(2.0 * mi.mi / (hx.h + hy.h), 6) AS nmi
        |FROM t CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy""".stripMargin,
    // the same exact group totals (decimal value sums, bigint counts)
    // and the same ratio shapes per term; the ≤|groups| double folds
    // and the one distributed Σ c·v·ln(v) land inside round(6)
    "x_theil" ->
      """WITH c AS (
        |  SELECT source AS g, CAST(n_chars AS DOUBLE) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |g AS (
        |  SELECT g, CAST(SUM(c) AS BIGINT) AS n,
        |    SUM(CAST(v AS DECIMAL(18,6)) * CAST(c AS DECIMAL(14,0))) AS x,
        |    SUM(CAST(c AS DOUBLE) * v * ln(v)) AS m
        |  FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
        |             CAST(COUNT(*) AS BIGINT) AS k,
        |             SUM(x) AS xx, SUM(m) AS mm FROM g)
        |SELECT t.n, t.k,
        |  ROUND(t.mm / CAST(t.xx AS DOUBLE)
        |    - ln(CAST(t.xx AS DOUBLE) / t.n), 6) AS theil_total,
        |  ROUND((SELECT SUM((CAST(x AS DOUBLE) / CAST(t.xx AS DOUBLE))
        |      * ln((CAST(x AS DOUBLE) / CAST(t.xx AS DOUBLE))
        |           / (CAST(n AS DOUBLE) / t.n))) FROM g), 6) AS theil_between,
        |  ROUND((SELECT SUM((CAST(x AS DOUBLE) / CAST(t.xx AS DOUBLE))
        |      * (m / CAST(x AS DOUBLE)
        |         - ln(CAST(x AS DOUBLE) / n))) FROM g), 6) AS theil_within
        |FROM t""".stripMargin,
    // x_mutual_info's cells/marginals, then the zero-cell-free
    // χ² = N·Σ n²/(nx·ny) − N identity and the same clamped-sqrt V
    "x_chi2" ->
      """WITH cell AS (
        |  SELECT source AS x, lang AS y, CAST(COUNT(*) AS BIGINT) AS nxy
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM cell GROUP BY 1),
        |my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM cell GROUP BY 1),
        |t AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n,
        |             CAST(COUNT(DISTINCT x) AS BIGINT) AS r,
        |             CAST(COUNT(DISTINCT y) AS BIGINT) AS c FROM cell),
        |s AS (
        |  SELECT SUM(CAST(nxy AS DOUBLE) * CAST(nxy AS DOUBLE)
        |    / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))) AS st
        |  FROM cell JOIN mx USING (x) JOIN my USING (y))
        |SELECT t.n, t.r, t.c, (t.r - 1) * (t.c - 1) AS dof,
        |  ROUND(CAST(t.n AS DOUBLE) * s.st - CAST(t.n AS DOUBLE), 6) AS chi2,
        |  ROUND(SQRT(GREATEST(CAST(t.n AS DOUBLE) * s.st
        |      - CAST(t.n AS DOUBLE), 0.0)
        |    / (CAST(t.n AS DOUBLE)
        |       * CAST(LEAST(t.r, t.c) - 1 AS DOUBLE))), 6) AS cramers_v
        |FROM t CROSS JOIN s""".stripMargin,
    // the same offset-threshold labelers, diagonal share, and
    // marginal-product chance agreement — shares divide as doubles in
    // the same order
    "x_kappa" ->
      """WITH l AS (
        |  SELECT CASE WHEN n_chars < 200 THEN 'short'
        |    WHEN n_chars < 350 THEN 'med' ELSE 'long' END AS a,
        |  CASE WHEN n_chars < 220 THEN 'short'
        |    WHEN n_chars < 330 THEN 'med' ELSE 'long' END AS b
        |  FROM documents WHERE n_chars IS NOT NULL),
        |cell AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nxy
        |         FROM l GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN a = b THEN nxy ELSE 0 END) AS BIGINT) AS diag
        |  FROM cell),
        |ma AS (SELECT a AS k, CAST(SUM(nxy) AS BIGINT) AS na
        |       FROM cell GROUP BY 1),
        |mb AS (SELECT b AS k, CAST(SUM(nxy) AS BIGINT) AS nb
        |       FROM cell GROUP BY 1),
        |ch AS (SELECT SUM(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS s
        |       FROM ma JOIN mb USING (k))
        |SELECT t.n,
        |  ROUND(CAST(t.diag AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS po,
        |  ROUND(ch.s / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)), 6) AS pe,
        |  ROUND((CAST(t.diag AS DOUBLE) / CAST(t.n AS DOUBLE)
        |      - ch.s / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)))
        |    / (1.0 - ch.s / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE))),
        |    6) AS kappa
        |FROM t CROSS JOIN ch""".stripMargin,
    // per-language conditional counts for the two cohorts, then the
    // same ½·p·ln(p/m) + ½·q·ln(q/m) halves (0 on the absent side)
    "x_jsd" ->
      """WITH cell AS (
        |  SELECT lang AS cat,
        |    CAST(SUM(CASE WHEN n_chars < 300 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
        |             CAST(SUM(nb) AS BIGINT) AS tb FROM cell),
        |terms AS (
        |  SELECT CAST(na AS DOUBLE) / CAST(t.ta AS DOUBLE) AS p,
        |         CAST(nb AS DOUBLE) / CAST(t.tb AS DOUBLE) AS q
        |  FROM cell CROSS JOIN t),
        |j AS (
        |  SELECT SUM(
        |      CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0))
        |        ELSE 0.0 END * 0.5
        |    + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0))
        |        ELSE 0.0 END * 0.5) AS jsd,
        |    CAST(COUNT(*) AS BIGINT) AS k FROM terms)
        |SELECT t.ta AS n_a, t.tb AS n_b, j.k, ROUND(j.jsd, 6) AS jsd
        |FROM t CROSS JOIN j""".stripMargin,
    // the same run (per-language length-ranked top-20), judgments, and
    // (2^rel − 1)/log2(pos+1) gains; IDCG-0 queries drop via the
    // inner join exactly as the operator contract says
    "x_ndcg" ->
      """WITH d AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(SUBSTR(source, 4) AS INT) AS sn
        |  FROM documents WHERE lang IS NOT NULL),
        |run AS (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS pos
        |  FROM d QUALIFY pos <= 20),
        |rels AS (
        |  SELECT lang, doc_id,
        |    CASE WHEN sn < 5 THEN 2.0 WHEN sn < 10 THEN 1.0
        |      ELSE 0.0 END AS rel
        |  FROM d),
        |dcg AS (
        |  SELECT r.lang,
        |    SUM((POWER(2.0, COALESCE(q.rel, 0.0)) - 1.0)
        |      / (ln(r.pos + 1.0) / ln(2.0))) AS dcg
        |  FROM run r LEFT JOIN rels q
        |    ON r.lang = q.lang AND r.doc_id = q.doc_id
        |  GROUP BY 1),
        |ideal AS (
        |  SELECT lang, rel,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY rel DESC, doc_id) AS pos
        |  FROM rels WHERE rel > 0 QUALIFY pos <= 20),
        |idcg AS (
        |  SELECT lang, SUM((POWER(2.0, rel) - 1.0)
        |    / (ln(pos + 1.0) / ln(2.0))) AS idcg
        |  FROM ideal GROUP BY 1)
        |SELECT g.lang, ROUND(g.dcg, 6) AS dcg, ROUND(i.idcg, 6) AS idcg,
        |  ROUND(g.dcg / i.idcg, 6) AS ndcg
        |FROM dcg g JOIN idcg i USING (lang) ORDER BY lang""".stripMargin,
    // x_gini's PARTITIONED replay: per-source ROW_NUMBER rank sums
    // (tie blocks make Σ i·x order-independent within each group),
    // exact HUGEINT s, the same pinned division/subtraction order
    "x_grouped_gini" ->
      """WITH r AS (
        |  SELECT source AS g, n_chars AS x,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS i
        |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |m AS (
        |  SELECT g, COUNT(*) AS n, SUM(x) AS t,
        |    SUM(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS s
        |  FROM r GROUP BY 1)
        |SELECT g AS source, CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS total,
        |  ROUND(2.0 * CAST(s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
        |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
        |FROM m ORDER BY source""".stripMargin,
    "x_pad_waste" ->
      // the engine's tokenCount counts ALL \s+ split pieces (no empty
      // filter) — mirror len(string_split_regex) exactly, like
      // x_token_stats
      """WITH t AS (
        |  SELECT CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n
        |  FROM documents
        |), b AS (
        |  SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
        |              WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
        |              WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
        |              ELSE 1024 END AS bucket, n
        |  FROM t
        |)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
        |  CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
        |  ROUND(1.0 - CAST(SUM(n) AS DOUBLE) / (COUNT(*) * bucket), 4)
        |    AS waste_rate
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "x_nfc_normalize" ->
      // chr(769) = U+0301 combining acute: the same decomposed accent
      // the Spark plan appends; utf8proc NFC == ICU/JDK NFC here
      """WITH r AS (
        |  SELECT doc_id, substr(text, 1, 24) || 'e' || chr(769) AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(length(raw) AS INT) AS len_raw,
        |  nfc_normalize(raw) AS norm,
        |  CAST(length(nfc_normalize(raw)) AS INT) AS len_norm
        |FROM r ORDER BY doc_id""".stripMargin,
    "x_zipf" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS w
        |  FROM documents
        |), wc AS (
        |  SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
        |), tot AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS vocab_size
        |  FROM wc GROUP BY 1
        |), ranked AS (
        |  SELECT source, c,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w) AS rnk
        |  FROM wc
        |), slope AS (
        |  SELECT source,
        |    ROUND(regr_slope(LN(CAST(c AS DOUBLE)), LN(CAST(rnk AS DOUBLE))), 4)
        |      AS zipf_slope
        |  FROM ranked WHERE rnk <= 100 GROUP BY 1
        |)
        |SELECT t.source, n_tokens, vocab_size, zipf_slope,
        |  ROUND(LN(CAST(vocab_size AS DOUBLE)) / LN(CAST(n_tokens AS DOUBLE)), 4)
        |    AS heaps_beta
        |FROM tot t JOIN slope s ON t.source = s.source
        |ORDER BY t.source""".stripMargin,
    "x_countmin" ->
      // count-min replay: per distinct word, FNV-1a 64 then the d=4
      // splitmix bucket family (seed_j = mix(j + gamma), bucket =
      // mix((h ^ seed_j) + gamma) % 512 — w is a power of two, so the
      // unsigned mod equals the JVM's masked low bits); counters sum
      // the true counts landing in each (j, bucket), estimate = MIN
      // over the word's d counters.
      s"""WITH toks AS (
         |  SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS word
         |  FROM documents),
         |wc AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY 1),
         |wh AS (SELECT word, c, ${HashReplay.fnvFoldSql("word")} AS h FROM wc),
         |seeds_z AS (SELECT j, (CAST(j AS HUGEINT) + ${HashReplay.SplitmixGamma}) % $M AS z
         |            FROM range(4) t(j)),
         |${mixCtes("seeds", "seeds_z", "j")},
         |hb_z AS (SELECT w.word, w.c, s.j, (xor(w.h, s.z) + ${HashReplay.SplitmixGamma}) % $M AS z
         |         FROM wh w CROSS JOIN seeds s),
         |${mixCtes("hb", "hb_z", "word, c, j")},
         |hbk AS (SELECT word, c, j, CAST(z % 512 AS INT) AS bucket FROM hb),
         |counters AS (SELECT j, bucket, SUM(c) AS cnt FROM hbk GROUP BY 1, 2),
         |est AS (SELECT k.word, MAX(k.c) AS true_c, MIN(ct.cnt) AS est_c
         |        FROM hbk k JOIN counters ct ON k.j = ct.j AND k.bucket = ct.bucket
         |        GROUP BY k.word)
         |SELECT word, CAST(true_c AS BIGINT) AS true_c, CAST(est_c AS BIGINT) AS est_c
         |FROM est ORDER BY true_c DESC, word LIMIT 20""".stripMargin,
    "x_hll" ->
      // HyperLogLog replay: FNV-1a 64 per distinct (source, word), one
      // splitmix64 step (gamma add + finalizer, the same HUGEINT chain
      // as x_countmin), bucket = low 9 bits (unsigned % 512), rho =
      // 56 - bit_length(high 55 bits) via bin() — integer-exact. The
      // register sum is scaled by 2^56 to DECIMAL(38,0), so both
      // engines divide the same integer; ln() ulp in the small-range
      // branch is absorbed by round(4).
      s"""WITH toks AS (
         |  SELECT source,
         |    unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS w
         |  FROM documents),
         |dw AS (SELECT DISTINCT source, w FROM toks),
         |wh AS (SELECT source, ${HashReplay.fnvFoldSql("w")} AS h FROM dw),
         |u_z AS (SELECT source, (h + ${HashReplay.SplitmixGamma}) % $M AS z FROM wh),
         |${mixCtes("u", "u_z", "source")},
         |regs AS (SELECT source, CAST(z % 512 AS INT) AS bucket,
         |           MAX(CASE WHEN z // 512 = 0 THEN 56
         |                    ELSE 56 - length(bin(z // 512)) END) AS rho
         |         FROM u GROUP BY 1, 2),
         |agg AS (SELECT source, COUNT(*) AS cnt,
         |          SUM(CAST(pow(2, 56 - rho) AS DECIMAL(38,0))) AS sreg
         |        FROM regs GROUP BY 1),
         |est AS (SELECT source, cnt,
         |          ${Hll.numerator(9)} / CAST(sreg +
         |            (512 - cnt) * CAST(72057594037927936 AS DECIMAL(38,0)) AS DOUBLE) AS raw
         |        FROM agg),
         |fin AS (SELECT source,
         |          CASE WHEN raw <= 1280.0 AND cnt < 512
         |               THEN 512.0 * ln(512.0 / (512 - cnt)) ELSE raw END AS e
         |        FROM est),
         |ex AS (SELECT source, COUNT(DISTINCT w) AS exact_distinct FROM toks GROUP BY 1)
         |SELECT f.source, round(f.e, 4) AS est_distinct, ex.exact_distinct
         |FROM fin f JOIN ex USING (source) ORDER BY 1""".stripMargin,
    "x_hll_merge" ->
      // SINGLE-PASS replay (identical to x_hll's estimate chain): the
      // engine computes the estimate from a union+re-max MERGE of two
      // half-corpus register tables — a hash match against this
      // single-pass oracle proves merge associativity end-to-end
      s"""WITH toks AS (
         |  SELECT source,
         |    unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS w
         |  FROM documents),
         |dw AS (SELECT DISTINCT source, w FROM toks),
         |wh AS (SELECT source, ${HashReplay.fnvFoldSql("w")} AS h FROM dw),
         |u_z AS (SELECT source, (h + ${HashReplay.SplitmixGamma}) % $M AS z FROM wh),
         |${mixCtes("u", "u_z", "source")},
         |regs AS (SELECT source, CAST(z % 512 AS INT) AS bucket,
         |           MAX(CASE WHEN z // 512 = 0 THEN 56
         |                    ELSE 56 - length(bin(z // 512)) END) AS rho
         |         FROM u GROUP BY 1, 2),
         |agg AS (SELECT source, COUNT(*) AS cnt,
         |          SUM(CAST(pow(2, 56 - rho) AS DECIMAL(38,0))) AS sreg
         |        FROM regs GROUP BY 1),
         |est AS (SELECT source, cnt,
         |          ${Hll.numerator(9)} / CAST(sreg +
         |            (512 - cnt) * CAST(72057594037927936 AS DECIMAL(38,0)) AS DOUBLE) AS raw
         |        FROM agg),
         |fin AS (SELECT source,
         |          CASE WHEN raw <= 1280.0 AND cnt < 512
         |               THEN 512.0 * ln(512.0 / (512 - cnt)) ELSE raw END AS e
         |        FROM est)
         |SELECT source, round(e, 4) AS est_distinct
         |FROM fin ORDER BY 1""".stripMargin,
    "x_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_fingerprint_fnv" ->
      // FNV-1a 64 replay over the normalized text (documents are ASCII
      // so ord(char) == utf-8 byte); the final CASE maps the unsigned
      // HUGEINT back to the JVM's signed BIGINT bit pattern
      s"""WITH n AS (
         |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, ${HashReplay.fnvFoldSql("t")} AS h
         |  FROM n
         |)
         |SELECT doc_id,
         |  CAST(CASE WHEN h >= ${HashReplay.SignBit} THEN h - $M ELSE h END AS BIGINT) AS fp
         |FROM h ORDER BY doc_id""".stripMargin,
    "x_langid" ->
      s"""WITH toks AS (
         |  -- regex whitespace split, matching the Spark tokenizer
         |  -- (split on \\s+) — single-space split diverges on tabs /
         |  -- newlines / space runs (round-2 advice).
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
         |), lex(cand_lang, stopword) AS (
         |  SELECT * FROM (VALUES $lexiconValues) v
         |), votes AS (
         |  SELECT doc_id, cand_lang, COUNT(*) AS hits
         |  FROM toks JOIN lex ON tok = stopword GROUP BY 1, 2
         |), best AS (
         |  SELECT doc_id, cand_lang,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id
         |                            ORDER BY hits DESC, cand_lang) AS rn
         |  FROM votes
         |)
         |SELECT d.doc_id, COALESCE(b.cand_lang, 'und') AS pred_lang
         |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
         |ORDER BY d.doc_id""".stripMargin,
    "q15_dup_lengths" ->
      """SELECT text_len, cnt FROM (
        |  SELECT CAST(length(text) AS INT) AS text_len, COUNT(*) AS cnt
        |  FROM documents GROUP BY 1
        |) t WHERE cnt > 1 ORDER BY text_len""".stripMargin,
    "q16_wordcount" ->
      """SELECT word, COUNT(*) AS c FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE length(word) >= 4 GROUP BY word ORDER BY c DESC, word LIMIT 20""".stripMargin,
    "q17_lang_stats" ->
      """SELECT lang, COUNT(*) AS docs, ROUND(AVG(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "x_exact_dedup" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM documents
        |GROUP BY text ORDER BY doc_id""".stripMargin,
    "x_ngram_jaccard" ->
      """WITH toks AS (
        |  -- whitespace-RUN tokens + empty-doc drop, mirroring ShingleHashes
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, unnest(
        |    CASE WHEN len(w) >= 3
        |         THEN list_distinct(list_transform(range(len(w) - 2),
        |              i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
        |         ELSE [array_to_string(w, ' ')] END) AS shingle
        |  FROM toks WHERE len(w) > 0
        |), counts AS (
        |  SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id
        |), keep AS (
        |  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 1000
        |), pruned AS (
        |  SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
        |), shared AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
        |  FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT ida, idb,
        |       ROUND(CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter), 4) AS jaccard
        |FROM shared
        |JOIN counts ca ON ca.doc_id = ida
        |JOIN counts cb ON cb.doc_id = idb
        |WHERE CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter) >= 0.5
        |ORDER BY ida, idb""".stripMargin,
    "x_setsim_join" ->
      // the oracle is the DEFINITION (exact all-pairs token-set
      // Jaccard >= 0.95) — prefix filtering must reproduce it exactly;
      // the unrounded-ratio threshold mirrors the engine
      """WITH s AS (
        |  SELECT DISTINCT doc_id AS id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS tok
        |  FROM documents
        |), sz AS (
        |  SELECT id, COUNT(*) AS n FROM s GROUP BY 1
        |), inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        |  FROM s a JOIN s b ON a.tok = b.tok AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
        |  CAST(inter AS BIGINT) AS inter,
        |  ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 6) AS jaccard
        |FROM inter
        |JOIN sz na ON na.id = id_a
        |JOIN sz nb ON nb.id = id_b
        |WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    "x_containment" ->
      // the oracle is the DEFINITION (exact directed probe-vs-corpus
      // token-set containment |A∩B|/|A| >= 0.8) — probe-prefix
      // filtering must reproduce it exactly; unrounded-ratio threshold
      // as the engine
      """WITH s AS (
        |  SELECT DISTINCT doc_id AS id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS tok
        |  FROM documents
        |), pr AS (SELECT * FROM s WHERE id % 50 = 0),
        |ix AS (SELECT * FROM s WHERE id % 50 <> 0),
        |sza AS (SELECT id, COUNT(*) AS n FROM pr GROUP BY 1),
        |szb AS (SELECT id, COUNT(*) AS n FROM ix GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        |  FROM pr a JOIN ix b ON a.tok = b.tok
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
        |  CAST(inter AS BIGINT) AS inter,
        |  ROUND(CAST(inter AS DOUBLE) / na.n, 6) AS containment
        |FROM inter
        |JOIN sza na ON na.id = id_a
        |JOIN szb nb ON nb.id = id_b
        |WHERE CAST(inter AS DOUBLE) / na.n >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "x_dedup_corpus" ->
      s"""WITH RECURSIVE $dedupCcCtes
         |SELECT a AS doc_id FROM (SELECT a, MIN(lbl) AS m FROM walk GROUP BY a) t
         |WHERE a = m ORDER BY doc_id""".stripMargin,
    "x_dedup_best" ->
      // same recursive components; survivor = max n_chars, tie min id
      s"""WITH RECURSIVE $dedupCcCtes,
         |comp AS (SELECT a AS doc_id, MIN(lbl) AS comp FROM walk GROUP BY a),
         |best AS (
         |  SELECT doc_id, n_chars FROM (
         |    SELECT c.comp, c.doc_id, d.n_chars,
         |      ROW_NUMBER() OVER (PARTITION BY c.comp
         |                         ORDER BY d.n_chars DESC, c.doc_id) AS rn
         |    FROM comp c JOIN documents d USING (doc_id)) t
         |  WHERE rn = 1)
         |SELECT doc_id, n_chars FROM best ORDER BY doc_id""".stripMargin,
    "x_text_quality" ->
      s"""SELECT doc_id, CAST(len(string_split_regex(text, '\\s+')) AS INT) AS n_words,
         |  $qualityExprSql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_curation_funnel" -> {
      // the stage chain replayed end to end: the quality gate is the
      // x_text_quality expression, the dedup stage is the x_dedup_best
      // CC/survivor replay over the GATED subset (dedupCcCtesOver),
      // the split is the x_group_split md5-nibble shard, the packing
      // is the x_seq_pack cumulative-sum bin walk — chained, with one
      // (docs, tokens) readout per stage
      val nibbleSum = (1 to 8).map { i =>
        val mult = BigInt(16).pow(8 - i)
        s"(strpos('0123456789abcdef', substr(md5(source), $i, 1)) - 1) * $mult"
      }.mkString("\n        + ")
      s"""WITH RECURSIVE docs_q AS (
         |  SELECT * FROM documents WHERE $qualityExprSql >= 0.8),
         |${dedupCcCtesOver("docs_q")},
         |comp AS (SELECT a AS doc_id, MIN(lbl) AS comp FROM walk GROUP BY a),
         |best AS (
         |  SELECT doc_id FROM (
         |    SELECT c.comp, c.doc_id,
         |      ROW_NUMBER() OVER (PARTITION BY c.comp
         |                         ORDER BY d.n_chars DESC, c.doc_id) AS rn
         |    FROM comp c JOIN docs_q d USING (doc_id)) t
         |  WHERE rn = 1),
         |dedup AS (SELECT d.* FROM docs_q d JOIN best USING (doc_id)),
         |train AS (
         |  SELECT * FROM (
         |    SELECT *, CAST(($nibbleSum) % 10 AS INTEGER) AS bucket
         |    FROM dedup) b
         |  WHERE bucket NOT IN (0, 1)),
         |pk AS (
         |  SELECT doc_id, toks,
         |    SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM (SELECT doc_id,
         |          CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS toks
         |        FROM train) t),
         |st AS (
         |  SELECT 'a_all' AS stage, COUNT(*) AS docs,
         |    COALESCE(SUM(len(string_split_regex(text, '\\s+'))), 0) AS tokens
         |  FROM documents
         |  UNION ALL
         |  SELECT 'b_quality', COUNT(*),
         |    COALESCE(SUM(len(string_split_regex(text, '\\s+'))), 0) FROM docs_q
         |  UNION ALL
         |  SELECT 'c_dedup', COUNT(*),
         |    COALESCE(SUM(len(string_split_regex(text, '\\s+'))), 0) FROM dedup
         |  UNION ALL
         |  SELECT 'd_train', COUNT(*),
         |    COALESCE(SUM(len(string_split_regex(text, '\\s+'))), 0) FROM train
         |  UNION ALL
         |  SELECT 'e_packed', COUNT(DISTINCT (cum - toks) // 512),
         |    COALESCE(SUM(toks), 0) FROM pk)
         |SELECT stage, CAST(docs AS BIGINT) AS docs,
         |  CAST(tokens AS BIGINT) AS tokens
         |FROM st ORDER BY stage""".stripMargin
    },
    "x_quality_by_source" ->
      // per-row quality is pinned to 4 decimals (the x_text_quality
      // contract), so summing it as DECIMAL(10,4) is exact in any
      // order — the corpus-health mean is then one deterministic
      // division
      s"""WITH q AS (
         |  SELECT source, CAST($qualityExprSql AS DECIMAL(10,4)) AS q,
         |         len(string_split_regex(text, '\\s+')) AS nw
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
         |  CAST(SUM(q) AS DOUBLE) AS sum_quality,
         |  ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*), 4) AS mean_quality,
         |  CAST(SUM(nw) AS BIGINT) AS sum_words
         |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "x_token_stats" ->
      """SELECT doc_id, CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
        |  ROUND(CAST(length(text) AS DOUBLE) / len(string_split_regex(text, '\s+')), 4)
        |    AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_frames" ->
      // replay of sampleFrames(chunkBytes=64, everyK=2): frame indexes
      // are 0, 2, … up to the last FULL chunk (short docs get one
      // partial frame at index 0 — mirror of the engine's
      // greatest(len/chunk - 1, 0) bound); range() is end-exclusive
      // where Spark's sequence() is inclusive, hence the +1.
      """WITH f AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, GREATEST(octet_length(encode(text)) // 64 - 1, 0) + 1, 2))
        |      AS frame_idx
        |  FROM documents
        |)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(octet_length(encode(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64))) AS INT)
        |    AS frame_bytes,
        |  md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "x_media_meta" ->
      """SELECT doc_id,
        |  CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(octet_length(encode(text)) % 1024 + 1 AS INT) AS width,
        |  CAST((octet_length(encode(text)) // 7) % 768 + 1 AS INT) AS height,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS word
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.word,
        |  ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf
        |FROM tf JOIN df USING (word) CROSS JOIN n
        |ORDER BY tfidf DESC, tf.doc_id, tf.word LIMIT 20""".stripMargin,
    "x_bm25" ->
      // mirror of Retrieval.bm25's exact formula shape (Lucene idf,
      // k1=1.2 b=0.75); only per-doc summation order differs between
      // engines, absorbed by round(4)
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
        |), stats AS (
        |  SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n,
        |         (SELECT CAST(COUNT(*) AS DOUBLE) FROM toks) /
        |           (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS avgdl
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('vector', 'stream', 'merge', 'window') GROUP BY 1, 2
        |), df AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
        |)
        |SELECT tf.doc_id,
        |  ROUND(SUM(ln(1.0e0 + (s.n - df.df + 0.5e0) / (df.df + 0.5e0)) *
        |    (tf.tf * (1.2e0 + 1.0e0) /
        |      (tf.tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl.dl / s.avgdl)))), 4) AS score
        |FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats s
        |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "x_dsir_select" ->
      // hashed-bigram DSIR replay: FNV-1a fold of "prev word" mod 1024
      // (HUGEINT unsigned == JVM signed pmod for a power-of-two
      // modulus), Laplace-smoothed target/raw shares, fixed-form llr
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
         |        FROM documents) d
         |), bg AS (
         |  SELECT doc_id, LAG(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
         |         word
         |  FROM toks
         |), bg2 AS (SELECT * FROM bg WHERE prev IS NOT NULL),
         |fb AS (
         |  SELECT doc_id,
         |    CAST(${HashReplay.fnvFoldSql("prev || ' ' || word")} % 1024 AS BIGINT) AS b
         |  FROM bg2
         |), pdb AS (
         |  SELECT doc_id, b, COUNT(*) AS n FROM fb GROUP BY 1, 2
         |), model AS (
         |  SELECT b, SUM(CASE WHEN d.lang = 'en' THEN n ELSE 0 END) AS ct,
         |         SUM(n) AS cr
         |  FROM pdb JOIN documents d USING (doc_id) GROUP BY 1
         |), tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM model)
         |SELECT pdb.doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
         |  ROUND(SUM(n * ln(((CAST(ct AS DOUBLE) + 1.0) / (nt + 1024)) /
         |                   ((CAST(cr AS DOUBLE) + 1.0) / (nr + 1024)))), 4) AS weight
         |FROM pdb JOIN model USING (b) CROSS JOIN tot
         |GROUP BY 1 ORDER BY weight DESC, doc_id LIMIT 50""".stripMargin,

    "x_rrf_fusion" ->
      // the x_bm25 pipeline at k=50 fused with the x_ann_topk cosine
      // list at k=50 by reciprocal rank: rrf = 1/(60+rank_a) +
      // 1/(60+rank_b), fixed operand order, round(6); INT rank casts
      // match Spark's row_number type
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
        |), stats AS (
        |  SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n,
        |         (SELECT CAST(COUNT(*) AS DOUBLE) FROM toks) /
        |           (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS avgdl
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('vector', 'stream', 'merge', 'window') GROUP BY 1, 2
        |), df AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
        |), lex AS (
        |  SELECT tf.doc_id,
        |    ROUND(SUM(ln(1.0e0 + (s.n - df.df + 0.5e0) / (df.df + 0.5e0)) *
        |      (tf.tf * (1.2e0 + 1.0e0) /
        |        (tf.tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl.dl / s.avgdl)))), 4) AS score
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats s
        |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 50
        |), sem AS (
        |  SELECT a.vec_id AS doc_id,
        |    CAST(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(q.embedding AS DOUBLE[])) AS DECIMAL(10,4)) AS DOUBLE) AS cos
        |  FROM embeddings a, embeddings q
        |  WHERE q.vec_id = 0 AND a.vec_id <> 0
        |  ORDER BY cos DESC, a.vec_id LIMIT 50
        |), ra AS (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_a FROM lex
        |), rb AS (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT) AS rank_b FROM sem
        |)
        |SELECT doc_id, rank_a, rank_b,
        |  ROUND(COALESCE(1.0e0 / (60 + rank_a), 0) +
        |        COALESCE(1.0e0 / (60 + rank_b), 0), 6) AS rrf
        |FROM ra FULL OUTER JOIN rb USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    "x_source_overlap" ->
      s"""WITH $minhashSigCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1 AND a.doc_id < b.doc_id),
         |est AS (
         |  SELECT c.ida, c.idb,
         |    ROUND(CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / 16, 4)
         |      AS est_jaccard
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.ida
         |  JOIN sig sb ON sb.doc_id = c.idb AND sb.j = sa.j
         |  GROUP BY 1, 2),
         |p AS (SELECT * FROM est WHERE est_jaccard >= 0.5)
         |SELECT LEAST(da.source, db.source) AS source_a,
         |  GREATEST(da.source, db.source) AS source_b,
         |  COUNT(*) AS pairs, ROUND(AVG(est_jaccard), 4) AS avg_sim
         |FROM p JOIN documents da ON da.doc_id = p.ida
         |       JOIN documents db ON db.doc_id = p.idb
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x_weighted_sample" -> {
      // replay of Sampling.weightedSample: first THIRTEEN md5 nibbles
      // (2^52 — exact in a double) via the strpos positional sum, then
      // the same correctly-rounded double division. Priorities are
      // bit-identical, so the top-500 set and the raw priority column
      // both hash-match.
      val nibbleSum = (1 to 13).map { i =>
        val mult = BigInt(16).pow(13 - i)
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * $mult"
      }.mkString("\n        + ")
      s"""WITH p AS (
         |  SELECT doc_id, source, n_chars,
         |    CAST(($nibbleSum) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority
         |  FROM documents),
         |top AS (SELECT * FROM p ORDER BY priority, doc_id LIMIT 500)
         |SELECT doc_id, source, n_chars, priority
         |FROM top ORDER BY doc_id""".stripMargin
    },
    "x_evolve_read" ->
      """SELECT lang,
        |  CASE WHEN doc_id % 2 = 1 THEN source ELSE '<v1>' END AS source_v,
        |  COUNT(*) AS docs
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x_zone_scan" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id BETWEEN 100 AND 199
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "x_inverted" ->
      """WITH posting AS (
        |  SELECT DISTINCT term, doc_id FROM (
        |    SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
        |    FROM documents)
        |), df AS (
        |  SELECT term, COUNT(*) AS df FROM posting GROUP BY 1
        |  HAVING COUNT(*) <= 1000000
        |)
        |SELECT p.term, df.df,
        |  md5(array_to_string(list(p.doc_id ORDER BY p.doc_id), ' ')) AS postings_md5
        |FROM posting p JOIN df USING (term)
        |GROUP BY p.term, df.df ORDER BY df.df DESC, p.term LIMIT 20""".stripMargin,
    "x_ngram_freq" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, unnest(
        |    CASE WHEN len(w) >= 3
        |         THEN list_distinct(list_transform(range(len(w) - 2),
        |              i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
        |         ELSE [array_to_string(w, ' ')] END) AS shingle
        |  FROM toks WHERE len(w) > 0
        |)
        |SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh
        |GROUP BY shingle ORDER BY df DESC, shingle LIMIT 20""".stripMargin,
    "x_minhash_pairs" ->
      s"""WITH $minhashSigCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1 AND a.doc_id < b.doc_id),
         |est AS (
         |  SELECT c.ida, c.idb,
         |    ROUND(CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / 16, 4)
         |      AS est_jaccard
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.ida
         |  JOIN sig sb ON sb.doc_id = c.idb AND sb.j = sa.j
         |  GROUP BY 1, 2)
         |SELECT ida, idb, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5 ORDER BY ida, idb""".stripMargin,
    "x_lsh_calibration" ->
      // the same signature/band replay as x_minhash_pairs at a lower
      // threshold, joined with the EXACT shingle Jaccard from the fnv
      // CTE (distinct 64-bit shingle hashes per doc — the engine's
      // intersection key); err is computed from the pre-rounded exact
      // ratio, mirroring the operator
      s"""WITH $minhashSigCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1 AND a.doc_id < b.doc_id),
         |est AS (
         |  SELECT c.ida, c.idb,
         |    ROUND(CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / 16, 4)
         |      AS est_jaccard
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.ida
         |  JOIN sig sb ON sb.doc_id = c.idb AND sb.j = sa.j
         |  GROUP BY 1, 2),
         |kept AS (SELECT * FROM est WHERE est_jaccard >= 0.25),
         |szs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nsh FROM fnv GROUP BY 1),
         |ints AS (
         |  SELECT k.ida, k.idb, CAST(COUNT(*) AS BIGINT) AS i
         |  FROM kept k
         |  JOIN fnv fa ON fa.doc_id = k.ida
         |  JOIN fnv fb ON fb.doc_id = k.idb AND fb.h = fa.h
         |  GROUP BY 1, 2),
         |x AS (
         |  SELECT k.ida, k.idb, k.est_jaccard,
         |    CAST(COALESCE(i.i, 0) AS DOUBLE)
         |      / CAST(sa.nsh + sb.nsh - COALESCE(i.i, 0) AS DOUBLE) AS xr
         |  FROM kept k
         |  LEFT JOIN ints i ON i.ida = k.ida AND i.idb = k.idb
         |  JOIN szs sa ON sa.doc_id = k.ida
         |  JOIN szs sb ON sb.doc_id = k.idb)
         |SELECT ida, idb, est_jaccard, ROUND(xr, 4) AS exact_jaccard,
         |  ROUND(ABS(est_jaccard - xr), 4) AS abs_err
         |FROM x ORDER BY ida, idb""".stripMargin,
    "x_group_split" -> {
      // Sampling.shardId replay on the SOURCE string (md5 of a string
      // column is the identity cast in both engines), buckets 0/1/rest
      // → val/test/train
      val nibbleSum = (1 to 8).map { i =>
        val mult = BigInt(16).pow(8 - i)
        s"(strpos('0123456789abcdef', substr(md5(source), $i, 1)) - 1) * $mult"
      }.mkString("\n        + ")
      s"""WITH b AS (
         |  SELECT *, CAST(($nibbleSum) % 10 AS INTEGER) AS bucket
         |  FROM documents),
         |s AS (SELECT *, CASE WHEN bucket = 0 THEN 'val'
         |                     WHEN bucket = 1 THEN 'test'
         |                     ELSE 'train' END AS split FROM b)
         |SELECT split, COUNT(*) AS n_docs,
         |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "x_incremental_dedup" ->
      // the same signature/band machinery, but candidates pair a BATCH
      // doc (odd id) with an INDEX doc (even id) only — the daily-
      // ingest shape incrementalNearDups implements
      s"""WITH $minhashSigCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS dup_of
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |est AS (
         |  SELECT c.new_id, c.dup_of,
         |    ROUND(CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / 16, 4)
         |      AS est_jaccard
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.new_id
         |  JOIN sig sb ON sb.doc_id = c.dup_of AND sb.j = sa.j
         |  GROUP BY 1, 2)
         |SELECT new_id, dup_of, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5 ORDER BY new_id, dup_of""".stripMargin,
    "x_incremental_best" ->
      // x_incremental_dedup's match machinery + the survivor layer:
      // best match per batch doc by (est_jaccard DESC, dup_of), then
      // the admit / replace / drop rule on n_chars priority (strict >
      // replaces; ties keep history)
      s"""WITH $minhashSigCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS dup_of
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |est AS (
         |  SELECT c.new_id, c.dup_of,
         |    ROUND(CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / 16, 4)
         |      AS est_jaccard
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.new_id
         |  JOIN sig sb ON sb.doc_id = c.dup_of AND sb.j = sa.j
         |  GROUP BY 1, 2),
         |best AS (
         |  SELECT new_id, dup_of, est_jaccard,
         |    ROW_NUMBER() OVER (PARTITION BY new_id
         |                       ORDER BY est_jaccard DESC, dup_of) AS rn
         |  FROM est WHERE est_jaccard >= 0.5)
         |SELECT d.doc_id AS new_id,
         |  CASE WHEN b.new_id IS NULL THEN 'admit'
         |       WHEN d.n_chars > h.n_chars THEN 'replace'
         |       ELSE 'drop' END AS action,
         |  b.dup_of, b.est_jaccard
         |FROM documents d
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = d.doc_id
         |LEFT JOIN documents h ON h.doc_id = b.dup_of
         |WHERE d.doc_id % 2 = 1
         |ORDER BY new_id""".stripMargin,
    "x_simhash_pairs" ->
      s"""WITH $shingleFnvCtes,
         |votes AS (
         |  SELECT doc_id, b.b,
         |    SUM(CASE WHEN (f.h >> b.b) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM fnv f CROSS JOIN range(64) b(b) GROUP BY 1, 2),
         |sig AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN v > 0 THEN (CAST(1 AS HUGEINT) << b)
         |             ELSE CAST(0 AS HUGEINT) END) AS sig
         |  FROM votes GROUP BY doc_id
         |  -- zero-token docs: engine simhash of an empty hash array is 0
         |  UNION ALL SELECT doc_id, CAST(0 AS HUGEINT) FROM toks WHERE len(w) = 0),
         |bands AS (
         |  SELECT doc_id, sig, b.b AS band, (sig >> (16 * b.b)) % 65536 AS bval
         |  FROM sig CROSS JOIN range(4) b(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb, a.sig AS siga, b.sig AS sigb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |-- 64-bit popcount of xor, split into 32-bit halves for BIGINT bit_count
         |SELECT ida, idb,
         |  CAST(bit_count(CAST(xor(siga, sigb) % 4294967296 AS BIGINT))
         |     + bit_count(CAST(xor(siga, sigb) // 4294967296 AS BIGINT)) AS INT) AS hamming
         |FROM cand
         |WHERE bit_count(CAST(xor(siga, sigb) % 4294967296 AS BIGINT))
         |    + bit_count(CAST(xor(siga, sigb) // 4294967296 AS BIGINT)) <= 3
         |ORDER BY ida, idb""".stripMargin,
    "x_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split_regex(text, '\s+')) AS toks FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |    SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT CAST((cum - toks) // 512 AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS total_tokens
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin,
    "x_budget_select" ->
      // the oracle IS the naive global-sort definition: the bucketed
      // prefix sum must equal it exactly (costs are integers)
      """WITH tot AS (SELECT SUM(n_chars) // 4 AS b FROM documents),
        |r AS (SELECT doc_id, source, n_chars,
        |  SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sel_chars
        |FROM r CROSS JOIN tot WHERE cum <= tot.b
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_bigram_nll" ->
      // zipped unnest/generate_subscripts keeps positions over the
      // FILTERED token list, matching the engine's posexplode-after-
      // filter adjacency (split artifacts never break a bigram)
      """WITH toks AS (
        |  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |        FROM documents) d
        |), bg AS (
        |  SELECT doc_id, LAG(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
        |         word
        |  FROM toks
        |), bg2 AS (SELECT * FROM bg WHERE prev IS NOT NULL),
        |big AS (SELECT prev, word, COUNT(*) AS c2 FROM bg2 GROUP BY 1, 2),
        |ctx AS (SELECT prev, COUNT(*) AS c1 FROM bg2 GROUP BY 1),
        |uni AS (SELECT word, COUNT(*) AS u FROM toks GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS tot FROM toks)
        |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(-ln(0.75 * (CAST(c2 AS DOUBLE) / c1)
        |             + 0.25 * (CAST(u AS DOUBLE) / tot))), 4) AS nll
        |FROM bg2 b JOIN big USING (prev, word) JOIN ctx USING (prev)
        |JOIN uni USING (word) CROSS JOIN tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_kn_bigram" ->
      // interpolated Kneser-Ney: discounted bigram term + continuation
      // back-off. ctx carries both the context total c1 and the
      // distinct-follower count n1fwd (one CTE, the engine's single-agg
      // shape); cont counts distinct contexts per word; types is the
      // corpus distinct-bigram count
      """WITH toks AS (
        |  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |        FROM documents) d
        |), bg AS (
        |  SELECT doc_id, LAG(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
        |         word
        |  FROM toks
        |), bg2 AS (SELECT * FROM bg WHERE prev IS NOT NULL),
        |big AS (SELECT prev, word, COUNT(*) AS c2 FROM bg2 GROUP BY 1, 2),
        |ctx AS (SELECT prev, COUNT(*) AS c1,
        |               COUNT(DISTINCT word) AS n1fwd FROM bg2 GROUP BY 1),
        |cont AS (SELECT word, COUNT(DISTINCT prev) AS n1bwd FROM bg2 GROUP BY 1),
        |types AS (SELECT COUNT(*) AS nt FROM big)
        |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(-ln(
        |    greatest(CAST(c2 AS DOUBLE) - 0.75, 0) / c1
        |    + (0.75 * n1fwd / c1) * (CAST(n1bwd AS DOUBLE) / nt))), 4) AS kn_nll
        |FROM bg2 b JOIN big USING (prev, word) JOIN ctx USING (prev)
        |JOIN cont USING (word) CROSS JOIN types
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS word
        |  FROM documents
        |), wc AS (
        |  SELECT word, COUNT(*) AS wc FROM toks GROUP BY 1
        |), tot AS (SELECT COUNT(*) AS tot FROM toks)
        |SELECT doc_id, ROUND(AVG(-ln(CAST(wc AS DOUBLE) / tot)), 4) AS nll
        |FROM toks JOIN wc USING (word) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_sample" ->
      """SELECT lang,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
        |       THEN 'test' ELSE 'train' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "x_scrub" ->
      s"""WITH t AS (
         |  SELECT c_custkey,
         |         c_name || ' contact ' || lower(c_name) || '@example.com tel 555'
         |           || CAST(c_custkey AS VARCHAR) AS raw
         |  FROM customer
         |)
         |SELECT c_custkey,
         |  regexp_replace(regexp_replace(raw, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
         |                 '${TextAnalysis.DigitRunPattern}', '<NUM>', 'g') AS scrubbed,
         |  CAST(len(regexp_extract_all(raw, '${TextAnalysis.EmailPattern}'))
         |       + len(regexp_extract_all(
         |           regexp_replace(raw, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
         |           '${TextAnalysis.DigitRunPattern}')) AS INT) AS n_redacted
         |FROM t ORDER BY c_custkey""".stripMargin,
    "x_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS word
        |  FROM documents
        |), pw AS (
        |  SELECT doc_id, word, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT), 4) AS rep_ratio,
        |  ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT), 4) AS top_share
        |FROM pw GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_pmi" ->
      // parallel unnests zip positionally, so (w1, w2) pairs carry full
      // occurrence multiplicity — mirroring the engine's positional
      // self-join exactly (the dedup'd shingler would undercount)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
        |  FROM documents
        |), uni AS (
        |  SELECT unnest(w) AS word FROM toks
        |), ucnt AS (SELECT word, COUNT(*) AS c FROM uni GROUP BY 1),
        |tuni AS (SELECT COUNT(*) AS tu FROM uni),
        |bg AS (
        |  SELECT unnest(list_transform(range(len(w) - 1), i -> w[i+1])) AS w1,
        |         unnest(list_transform(range(len(w) - 1), i -> w[i+2])) AS w2
        |  FROM toks WHERE len(w) >= 2
        |), bcnt AS (
        |  SELECT w1, w2, COUNT(*) AS cab FROM bg GROUP BY 1, 2
        |), tbi AS (SELECT CAST(SUM(cab) AS BIGINT) AS tb FROM bcnt)
        |SELECT w1, w2, cab,
        |  ROUND(LN((CAST(cab AS DOUBLE) / tb) /
        |           ((CAST(a.c AS DOUBLE) / tu) * (CAST(b.c AS DOUBLE) / tu))), 4) AS pmi
        |FROM bcnt
        |JOIN ucnt a ON a.word = w1
        |JOIN ucnt b ON b.word = w2
        |CROSS JOIN tbi CROSS JOIN tuni
        |WHERE cab >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    "x_stratified_sample" ->
      // md5-bucket thresholds: en 2/16, zh all ('g' sorts above every
      // hex char), default 4/16 — same pure function as the engine
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        |  CASE lang WHEN 'en' THEN '2' WHEN 'zh' THEN 'g' ELSE '4' END
        |ORDER BY doc_id""".stripMargin,
    "x_contamination" ->
      // distinct-by-HASH per doc (the engine joins on the 64-bit
      // shingle hash), md5-bucket split, then per-test-doc hit counting
      s"""WITH $shingleFnvCtes,
         |dh AS (SELECT DISTINCT doc_id, h FROM fnv),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
         |         THEN 'test' ELSE 'train' END AS s
         |  FROM documents
         |), train_h AS (
         |  SELECT DISTINCT h FROM dh JOIN sp USING (doc_id) WHERE s = 'train'
         |), test_h AS (
         |  SELECT dh.doc_id, dh.h FROM dh JOIN sp USING (doc_id) WHERE s = 'test'
         |)
         |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminated,
         |  ROUND(CAST(SUM(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / COUNT(*), 4) AS rate
         |FROM test_h t LEFT JOIN train_h tr ON t.h = tr.h
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
    "x_blocklist" ->
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id % 7 <> 0 ORDER BY doc_id""".stripMargin,
    "x_bpe_tokens" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         regexp_extract_all(text, '${TextAnalysis.BpePattern}') AS toks
         |  FROM documents
         |)
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_subwords,
         |  CAST(len(list_distinct(toks)) AS INT) AS n_types,
         |  ROUND(CAST(length(array_to_string(toks, '')) AS DOUBLE)
         |        / GREATEST(len(toks), 1), 4) AS avg_len
         |FROM t ORDER BY doc_id""".stripMargin,
    "x_bpe_merges" ->
      // replay of TextAnalysis.bpeMergeTokens on the shared literal
      // table (bpeMergeCtes — the fragment x_seq_pack_bpe also rides)
      s"""WITH $bpeMergeCtes
         |SELECT doc_id, CAST(len(pre) AS INT) AS n_pre,
         |  CAST(length(array_to_string(pre, '')) AS INT) AS n_chars,
         |  CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS INT) AS n_types
         |FROM m ORDER BY doc_id""".stripMargin,
    "x_bpe_merges_vocab" ->
      // rank-by-rank recursive-CTE replay of the shared ~2.2k-merge
      // vocab (bpeVocabTable — learned-like, so the pass schedule here
      // equals the engine's classic merge loop): one sentinel-wrapped
      // replace per rank over the corpus's DISTINCT pre-tokens (the
      // vocab is ~35x the pre-token count, so dedup-then-rejoin is the
      // only sane replay shape), identical wrap/split/strip read-back
      // as x_bpe_merges, then the per-document counts rebuilt by
      // position-ordered rejoin (bpeRankApplySql — the fragment
      // x_bpe_train_encode also rides)
      s"""WITH RECURSIVE mg(r, x, y) AS (
         |  SELECT * FROM (VALUES $bpeVocabValues) v(r, x, y)),
         |$bpeRankApplySql""".stripMargin,
    "x_bpe_train" ->
      // the trainer replay: one (pair-count, argmax, rewrite) step per
      // rank at fixed depth (bpeTrainCtes), reading the learned table
      // back out — counts over ALL adjacent positions, winner
      // (c DESC, x, y), greedy replace rewrite, exactly the pinned
      // TextAnalysis.bpeTrain semantics
      s"""WITH ${bpeTrainCtes(bpeTrainMerges)}
         |SELECT CAST(r AS INT) AS rank, x, y FROM mg ORDER BY rank""".stripMargin,
    "x_bpe_train_encode" ->
      // end-to-end train -> tokenize: the trainer chain's mg feeds the
      // SAME rank-apply replay the literal-vocab oracle uses — the
      // whole tokenizer lifecycle value-checked in one query
      s"""WITH RECURSIVE ${bpeTrainCtes(bpeTrainMerges)},
         |$bpeRankApplySql""".stripMargin,
    "x_bpe_train_ids" ->
      // train -> assign ids -> encode, all replayed: trainer chain
      // (bpeTrainCtes) + the rank-apply body + the id assignment /
      // per-position join readout (bpeVocabIdsSql)
      s"""WITH RECURSIVE ${bpeTrainCtes(bpeTrainMerges)},
         |$bpeRankApplyCtes,
         |$bpeVocabIdsSql""".stripMargin,
    "x_seq_pack_bpe" ->
      // the x_seq_pack bin walk over EXACT BPE token counts — the
      // bpeMergeCtes replay feeding the same cumulative-sum bin id
      s"""WITH $bpeMergeCtes,
         |t2 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS toks FROM m),
         |c AS (
         |  SELECT doc_id, toks,
         |    SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t2
         |)
         |SELECT CAST((cum - toks) // 512 AS BIGINT) AS bin,
         |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS total_tokens
         |FROM c GROUP BY 1 ORDER BY bin""".stripMargin,
    // ---- chunk-level (CCNet-style line) dedup: fixed 8-token chunks
    // rebuilt via 1-based inclusive list slicing — same windows as the
    // engine's sequence+slice
    "x_boilerplate" ->
      s"""WITH $chunkCtes
         |SELECT chunk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs,
         |  CAST(COUNT(*) AS BIGINT) AS nocc
         |FROM ch GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 2
         |ORDER BY ndocs DESC, chunk LIMIT 20""".stripMargin,
    "x_chunk_scrub" ->
      s"""WITH $chunkCtes,
         |dup AS (
         |  SELECT chunk FROM ch GROUP BY chunk
         |  HAVING COUNT(DISTINCT doc_id) >= 2
         |), kept AS (
         |  SELECT doc_id, ck, chunk FROM ch
         |  WHERE chunk NOT IN (SELECT chunk FROM dup)
         |), reb AS (
         |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY ck) AS clean_text,
         |         CAST(COUNT(*) AS BIGINT) AS n_kept
         |  FROM kept GROUP BY doc_id
         |), tot AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
         |  FROM ch GROUP BY doc_id
         |)
         |SELECT tot.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
         |  COALESCE(reb.n_kept, 0) AS n_kept,
         |  tot.n_chunks - COALESCE(reb.n_kept, 0) AS n_dropped
         |FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
         |ORDER BY tot.doc_id""".stripMargin,
    // overlap-chunk replay: same window starts (k·stride), same clip,
    // same count rule (≤width tokens → one whole-doc chunk)
    "x_rag_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, w, unnest(range(
        |    CASE WHEN len(w) = 0 THEN 0
        |         WHEN len(w) <= 64 THEN 1
        |         ELSE CAST(ceil((len(w) - 64) / 48.0) AS BIGINT) + 1 END)) AS ck
        |  FROM t
        |)
        |SELECT doc_id, CAST(ck AS INTEGER) AS ck,
        |  array_to_string(
        |    w[ck * 48 + 1 : LEAST(ck * 48 + 64, CAST(len(w) AS BIGINT))], ' ') AS chunk,
        |  CAST(LEAST(ck * 48 + 64, CAST(len(w) AS BIGINT)) - ck * 48 AS BIGINT) AS n_toks
        |FROM idx ORDER BY doc_id, ck""".stripMargin,
    // ---- substring-span dedup: every stride-1 8-token window FNV-
    // replayed, cross-doc dup windows merged into maximal per-doc
    // spans (same window-open rule as the engine: a window starts a
    // new span iff it begins past every earlier window's end), spanned
    // tokens cut from the rebuild
    "x_span_scrub" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
         |  FROM documents
         |), wpos AS (
         |  SELECT doc_id, w,
         |         unnest(range(GREATEST(CAST(len(w) AS BIGINT) - 7, 0))) AS pos
         |  FROM t
         |), winh AS (
         |  SELECT doc_id, pos,
         |    ${HashReplay.fnvFoldSql("array_to_string(w[CAST(pos AS BIGINT) + 1 : CAST(pos AS BIGINT) + 8], ' ')")} AS h
         |  FROM wpos
         |), dup AS (
         |  SELECT h FROM winh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
         |), hits AS (
         |  SELECT doc_id, pos FROM winh WHERE h IN (SELECT h FROM dup)
         |), mk AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN MAX(pos + 8) OVER prevw IS NULL
         |           OR pos > MAX(pos + 8) OVER prevw THEN 1 ELSE 0 END AS brk
         |  FROM hits
         |  WINDOW prevw AS (PARTITION BY doc_id ORDER BY pos
         |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |), sp AS (
         |  SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
         |  FROM mk
         |), spans AS (
         |  SELECT doc_id, span, MIN(pos) AS s, MAX(pos) + 8 AS e
         |  FROM sp GROUP BY 1, 2
         |), tpos AS (
         |  SELECT doc_id, w, unnest(range(CAST(len(w) AS BIGINT))) AS pos FROM t
         |), tok AS (
         |  SELECT doc_id, pos, w[CAST(pos AS BIGINT) + 1] AS tok FROM tpos
         |), kept AS (
         |  SELECT tk.doc_id, tk.pos, tk.tok,
         |    EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = tk.doc_id
         |            AND tk.pos >= s.s AND tk.pos < s.e) AS cov
         |  FROM tok tk
         |)
         |SELECT doc_id,
         |  COALESCE(string_agg(CASE WHEN NOT cov THEN tok END, ' ' ORDER BY pos), '')
         |    AS clean_text,
         |  CAST(COUNT(CASE WHEN NOT cov THEN 1 END) AS BIGINT) AS n_kept,
         |  CAST(COUNT(*) - COUNT(CASE WHEN NOT cov THEN 1 END) AS BIGINT) AS n_dropped
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_source_kl" ->
      // th replays the engine's per-word FNV-1a 64 (the engine groups
      // and joins on the hash so its shuffles carry longs, not token
      // text); grouping by the replayed hash keeps even a collision
      // bit-identical across engines
      s"""WITH toks AS (
         |  SELECT source,
         |    unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS word
         |  FROM documents
         |), th AS (
         |  SELECT source, ${HashReplay.fnvFoldSql("word")} AS wh FROM toks
         |), sw AS (SELECT source, wh, COUNT(*) AS csw FROM th GROUP BY 1, 2),
         |st AS (SELECT source, COUNT(*) AS cs FROM th GROUP BY 1),
         |wt AS (SELECT wh, COUNT(*) AS cw FROM th GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS ct FROM th)
         |SELECT source, CAST(MAX(cs) AS BIGINT) AS n_tokens,
         |  ROUND(SUM((CAST(csw AS DOUBLE) / cs)
         |            * LN((CAST(csw AS DOUBLE) * ct)
         |                 / (CAST(cs AS DOUBLE) * cw))), 4) AS kl
         |FROM sw JOIN st USING (source) JOIN wt USING (wh) CROSS JOIN tot
         |GROUP BY source ORDER BY source""".stripMargin,
    "x_jsonl_roundtrip" ->
      // the oracle reads the ORIGINAL parquet — equality proves the
      // engine's JSONL write→read round trip lossless
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x_compaction" ->
      // oracle reads the ORIGINAL parquet — equality proves the
      // fragment→compact→read rewrite lossless
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "x_compact_partitioned" ->
      // oracle reads the ORIGINAL parquet with the same predicate —
      // equality proves the partitionBy-preserving rewrite lossless
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "x_orc_roundtrip" ->
      // oracle reads the ORIGINAL parquet — equality proves the ORC
      // write→partition-discovery-read round trip lossless
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS sources,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "x_shard_export" -> {
      // replay of Sampling.shardId: first EIGHT md5 hex nibbles (2^32
      // base buckets) folded mod 8, via strpos into the hex alphabet
      // (DuckDB has no base-16 conv); md5 of the decimal-rendered id
      // is identical in both engines. The positional sum fits BIGINT.
      val nibbleSum = (1 to 8).map { i =>
        val mult = BigInt(16).pow(8 - i)
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * $mult"
      }.mkString("\n        + ")
      s"""WITH s AS (
         |  SELECT *, CAST(($nibbleSum) % 8 AS INTEGER) AS shard
         |  FROM documents)
         |SELECT shard, CAST(COUNT(*) AS BIGINT) AS docs,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS langs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM s GROUP BY shard ORDER BY shard""".stripMargin
    },
    "x_mixture_plan" ->
      // identical expression shapes (double casts before each
      // division, LEAST against a double 1.0) → bit-identical rates →
      // identical floor; chars/total/buckets are exact
      """WITH b AS (SELECT source, SUM(n_chars) AS chars
        |           FROM documents GROUP BY source),
        |t AS (SELECT SUM(chars) AS total, COUNT(*) AS nsrc FROM b)
        |SELECT b.source, CAST(b.chars AS BIGINT) AS chars,
        |  ROUND(CAST(b.chars AS DOUBLE) / t.total, 4) AS share,
        |  ROUND(LEAST(CAST(1.0 AS DOUBLE),
        |        (CAST(t.total AS DOUBLE) / t.nsrc) / b.chars), 4) AS rate,
        |  CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE),
        |        (CAST(t.total AS DOUBLE) / t.nsrc) / b.chars) * 16) AS INTEGER) AS buckets
        |FROM b CROSS JOIN t ORDER BY source""".stripMargin,
    "x_length_trim" ->
      // quantile_cont == Spark's exact interpolated percentile()
      // (x_percentiles pins the value-level equality); integer bounds
      // comparisons then agree exactly
      """WITH b AS (
        |  SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
        |         quantile_cont(n_chars, 0.95) AS hi
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS kept,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN b USING (lang)
        |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  )

  /** Shared CTEs for the chunk-dedup oracles: tokens → fixed 8-token
    * chunks via 1-based inclusive list slices (w[a:b]), chunk index
    * 0-based to match the engine's sequence().
    * (def, not val: referenced from the `oracle` val above — a val
    * declared below it would still be null during object init.) */
  private def chunkCtes: String =
    """toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
      |  FROM documents
      |), ckidx AS (
      |  SELECT doc_id, w,
      |         unnest(range(CAST(ceil(len(w) / 8.0) AS BIGINT))) AS ck
      |  FROM toks WHERE len(w) > 0
      |), ch AS (
      |  SELECT doc_id, ck,
      |         array_to_string(
      |           w[ck * 8 + 1 : LEAST((ck + 1) * 8, CAST(len(w) AS BIGINT))],
      |           ' ') AS chunk
      |  FROM ckidx
      |)""".stripMargin
}
