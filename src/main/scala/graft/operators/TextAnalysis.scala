package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fnv1a64

/** Text-analysis operators for the training-data pipeline (mandated
  * extensions, SURVEY §2.B X18/X21): token counting, quality scoring,
  * language ID, document fingerprinting.
  *
  * All are narrow, per-row transforms (no shuffle) built from codegen'd
  * built-ins + the native Fnv1a64 expression — they scale linearly and
  * stay inside whole-stage codegen.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alphanumeric runs plus standalone
    * punctuation, approximating a byte-pair tokenizer's pre-split. */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"), c => length(c) > 0))

  /** GPT-2-style pre-tokenizer pattern, restricted to constructs both
    * Java regex (Spark) and RE2 (DuckDB) evaluate identically — no
    * lookarounds, no \p classes: an optional leading space glued to a
    * letter run, digit run, or punctuation run. Whitespace that isn't
    * absorbed as a token prefix is dropped, like a BPE pre-split. */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  /** Cross-engine BPE-ish pre-tokenization (the portable counterpart of
    * [[subwordCount]]'s lookaround split): `regexp_extract_all` with
    * [[BpePattern]], oracle-checkable because DuckDB's
    * regexp_extract_all(text, pattern) yields the same leftmost-first
    * match list. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Symbol-boundary sentinels for [[bpeMergeTokens]]: every symbol in
    * a pre-token is carried as `SOH sym STX`, so an adjacent pair
    * (x, y) is the literal substring `SOH x STX SOH y STX` and ONE
    * non-overlapping left-to-right `replace` pass merges every
    * occurrence greedily — the merged symbol's sentinels are fresh, so
    * a pass can never re-match its own output (xy ≠ x because y is
    * non-empty), making one pass per rank a fixpoint for that rank.
    * Control characters deliberately outside every token vocabulary;
    * [[bpeEncode]] scrubs them from the input first so a hostile
    * document cannot forge a boundary. */
  private val MergeL = "\u0001"
  private val MergeR = "\u0002"

  private def wrapSym(s: String): String = MergeL + s + MergeR

  /** TRUE byte-pair-merge application over one pre-token (round-16
    * verdict item 4 — the step [[bpeTokens]] stops short of): the
    * pre-token splits into single-character symbols, then each merge
    * `(x, y)` of the literal table is applied IN RANK ORDER as one
    * left-to-right greedy pass that rewrites every adjacent (x, y)
    * pair into the symbol `xy`. Deterministic and cross-engine
    * replayable by construction: the symbol sequence rides as a
    * sentinel-delimited string and each rank is a plain `replace`
    * (both engines scan left-to-right, non-overlapping, resuming after
    * the replacement), so the DuckDB oracle replays the identical
    * rewrites on the identical literals.
    *
    * SEMANTICS (pinned): one greedy pass per rank, ranks ascending,
    * no re-visits — the classic reference implementation's
    * lowest-rank-first loop restated as a fixed pass schedule. For
    * merge tables actually learned by BPE the two agree (an earlier
    * rank's pair cannot reappear after a later rank fires, because the
    * later merge's output symbol is not in the earlier pair's
    * alphabet); for an arbitrary hand-written table this pass schedule
    * IS the engine's contract, and the spec pins it on adversarial
    * cases (self-pair runs, rank-order inversions).
    *
    * Whole-stage-codegen built-ins only (regexp_replace + a replace
    * chain + split) — a narrow map, no shuffle, no UDF; the merge
    * table is a plan-time literal (the [[graft.operators.Similarity]]
    * pqCodebook convention: a vocab is a constant, not data).
    */
  def bpeMergeTokens(preToken: Column, merges: Seq[(String, String)]): Column = {
    require(merges.size <= 4096,
      s"bpeMergeTokens: ${merges.size} merges — each rank is one replace " +
        "in the generated plan; for a production-size vocab use " +
        "bpeEncodeVocab (graft.functions.BpeEncodeVocab — the classic " +
        "merge loop with the vocab as expression state, no plan-size cap)")
    merges.foreach { case (x, y) =>
      require(x.nonEmpty && y.nonEmpty,
        s"bpeMergeTokens: empty symbol in merge ($x, $y)")
      require(!(x + y).exists(c => c == '\u0001' || c == '\u0002'),
        "bpeMergeTokens: merge symbols may not contain the U+0001/U+0002 " +
          "sentinels")
    }
    // one sentinel-wrapped symbol per character
    val wrapped = regexp_replace(preToken, "(.)", MergeL + "$1" + MergeR)
    val mergedStr = merges.foldLeft(wrapped) { case (c, (x, y)) =>
      org.apache.spark.sql.functions.replace(c,
        lit(wrapSym(x) + wrapSym(y)), lit(wrapSym(x + y)))
    }
    // SOH t1 STX SOH t2 STX … → tokens; the residual sentinels on the
    // first/last element are stripped per element (empty pre-tokens
    // cannot arise — BpePattern matches need >= 1 char)
    filter(
      transform(split(mergedStr, MergeR + MergeL),
        s => translate(s, MergeL + MergeR, "")),
      s => length(s) > 0)
  }

  /** Document-level BPE encode: [[bpeTokens]] pre-split, then
    * [[bpeMergeTokens]] per pre-token, flattened in order. The U+0001/
    * U+0002 sentinel characters are scrubbed from the text FIRST so
    * they can never alias a symbol boundary (they are in no real
    * vocabulary; the scrub is replayed by the oracle). Exact token
    * counts under the supplied vocab — the upgrade that turns
    * x_budget_select / x_seq_pack-style token budgeting from
    * approximate (pre-token counts) to exact. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(
      bpeTokens(translate(text, MergeL + MergeR, "")),
      t => bpeMergeTokens(t, merges)))

  /** Document-level BPE encode at PRODUCTION-VOCAB size (round-17
    * verdict item 2 — [[bpeEncode]] past [[bpeMergeTokens]]' 4096-merge
    * plan-size cap): [[bpeTokens]] pre-split, then ONE
    * [[graft.functions.BpeEncodeVocab]] call per document running the
    * classic lowest-rank-first merge loop with the whole vocab held as
    * expression state — a 50 k-merge GPT-class table costs one
    * reference object per plan, not 50 k plan nodes. Same narrow
    * no-shuffle shape; the U+0001/U+0002 scrub is kept for parity with
    * [[bpeEncode]] (the classic loop itself needs no sentinels, but the
    * cross-engine oracle replay does, and the two paths must tokenize
    * the same text). For a BPE-LEARNED table (every multi-character
    * constituent produced at a strictly earlier rank) this equals
    * [[bpeEncode]] token-for-token (spec-pinned). */
  def bpeEncodeVocab(spark: SparkSession, text: Column,
                     merges: Seq[(String, String)]): Column =
    graft.functions.BpeEncodeVocab.encode(spark,
      bpeTokens(translate(text, MergeL + MergeR, "")), merges)

  /** BPE TRAINER — the step every tokenizer workflow starts with and
    * the completion of the round-17/18 tokenization push (train →
    * [[bpeEncodeVocab]] encode → exact-token budgeting/packing, all in
    * one engine): learn `numMerges` merges from a corpus by the
    * classic frequency algorithm. Returns the table in RANK ORDER,
    * directly consumable by [[bpeMergeTokens]]/[[bpeEncodeVocab]];
    * learned-like BY CONSTRUCTION (each merge joins two symbols of the
    * current alphabet), so the classic loop and the rank-ascending
    * pass schedule agree on it (the [[graft.functions.BpeEncodeVocab]]
    * semantics note).
    *
    * Scale shape (how production trainers actually run): ONE
    * distributed pass builds the pre-token frequency table
    * ([[bpeTokens]] pre-split → hash-agg counts — the corpus is read
    * once, however large), then the merge loop runs on the DRIVER over
    * that vocabulary — O(numMerges × Σ|word|) on ≤ `maxWords` rows, a
    * planning-sized fold behind a LOUD bound (a corpus with more
    * distinct pre-tokens than `maxWords` fails naming the cap rather
    * than silently truncating the distribution; raise it deliberately
    * — real web-scale vocabularies run low millions and fit fine).
    *
    * PINNED SEMANTICS (replayed verbatim by the x_bpe_train oracle):
    * pair counts sum word frequencies over ALL adjacent symbol
    * positions (overlapping — "aaa" counts (a,a) twice); the winner is
    * (count DESC, left ASC, right ASC); each merge applies as one
    * greedy left-to-right non-overlapping pass over every word.
    * Training stops early if no adjacent pair remains (fewer than
    * `numMerges` rows back). U+0001/U+0002 are scrubbed first (the
    * [[bpeEncode]] sentinel policy — they are in no real corpus and
    * the oracle replay rides sentinel strings). */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int,
               maxWords: Int = 100_000): Seq[(String, String)] = {
    require(numMerges >= 1 && numMerges <= 65536,
      s"bpeTrain: numMerges must be in [1, 65536], got $numMerges")
    require(maxWords >= 1, s"bpeTrain: maxWords must be positive")
    val wf = graft.core.Tables.spread(docs)
      .select(explode(bpeTokens(
        translate(col(textCol), MergeL + MergeR, ""))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .limit(maxWords + 1)
      .collect()
    require(wf.length <= maxWords,
      s"bpeTrain: more than $maxWords distinct pre-tokens — the driver " +
        "merge loop would not be planning-sized; raise maxWords " +
        "deliberately (real trainers hold the full word-frequency table)")
    require(wf.nonEmpty, "bpeTrain: empty corpus — nothing to train on")
    // driver merge loop over (symbols, frequency) words
    var state: Array[(Array[String], Long)] = wf.map { r =>
      val w = r.getString(0)
      val syms = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        syms += w.substring(i, i + n); i += n
      }
      (syms.toArray, r.getLong(1))
    }
    val out = Seq.newBuilder[(String, String)]
    var r = 0
    var done = false
    while (r < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      state.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // (count DESC, left ASC, right ASC) — the oracle's ORDER BY
        val (bx, by) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }._1
        out += ((bx, by))
        state = state.map { case (syms, f) =>
          val nb = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == bx && syms(i + 1) == by) {
              nb += bx + by; i += 2
            } else { nb += syms(i); i += 1 }
          }
          (nb.toArray, f)
        }
        r += 1
      }
    }
    out.result()
  }

  /** UTF-8-byte lexicographic order — DuckDB's binary collation, used
    * for the alphabet id assignment so the Scala sort and the oracle's
    * ORDER BY agree on EVERY input (Java's String.compareTo is UTF-16
    * code-unit order, which diverges from byte order for non-BMP
    * code points vs U+E000–U+FFFF). */
  private val Utf8ByteOrder: Ordering[String] = (a: String, b: String) => {
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(ab.length, bb.length)
    var r = 0
    while (r == 0 && i < n) {
      r = (ab(i) & 0xff) - (bb(i) & 0xff); i += 1
    }
    if (r != 0) r else ab.length - bb.length
  }

  /** Token-id assignment over a merge table — the vocab file a real
    * tokenizer ships: the corpus alphabet (every distinct code point
    * appearing in any pre-token) takes ids `0..A-1` in UTF-8-byte
    * order, then each merge's production `x+y` takes id `A + rank - 1`.
    * A production colliding with an existing token (possible only on
    * HAND-WRITTEN tables — e.g. (a,bc) and (ab,c) both producing "abc";
    * a trained table reaching the pair first would have rewritten it)
    * keeps its FIRST (lowest) id and the later id slot goes unused, so
    * the returned token list is distinct and directly usable as an
    * [[bpeEncodeIds]] lookup. Returned ordered by id.
    *
    * Same scale shape as [[bpeTrain]]: one distributed distinct-
    * pre-token pass behind the same loud `maxWords` bound, then a
    * planning-sized driver fold. */
  def bpeVocabIds(docs: DataFrame, textCol: String,
                  merges: Seq[(String, String)],
                  maxWords: Int = 100_000): Seq[(String, Int)] = {
    require(merges.nonEmpty, "bpeVocabIds: empty merge table")
    val toks = docs
      .select(explode(bpeTokens(
        translate(col(textCol), MergeL + MergeR, ""))).as("w"))
      .distinct()
      .limit(maxWords + 1)
      .collect()
    require(toks.length <= maxWords,
      s"bpeVocabIds: more than $maxWords distinct pre-tokens — raise " +
        "maxWords deliberately (the id table must be planning-sized)")
    val alphabet = scala.collection.mutable.SortedSet.empty[String](Utf8ByteOrder)
    toks.foreach { r =>
      val w = r.getString(0)
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        alphabet += w.substring(i, i + n); i += n
      }
    }
    val out = scala.collection.mutable.LinkedHashMap[String, Int]()
    alphabet.iterator.zipWithIndex.foreach { case (s, i) => out(s) = i }
    val a = alphabet.size
    merges.iterator.zipWithIndex.foreach { case ((x, y), i) =>
      val tok = x + y
      if (!out.contains(tok)) out(tok) = a + i
    }
    out.toSeq
  }

  /** Document-level BPE encode to TOKEN IDS — the training-run-facing
    * readout ([[bpeEncodeVocab]] composed with a [[bpeVocabIds]]-style
    * lookup): `array<int>` in document order, unknown tokens → `-1`
    * (cannot arise when the vocab was built over the same corpus and
    * merge table; a spec pins the sentinel for foreign text). The
    * lookup rides the plan as ONE broadcast-sized map literal — narrow,
    * no shuffle, whole-stage codegen (a 50 k-entry vocab is ~1 MB of
    * expression state, the [[graft.functions.BpeEncodeVocab]]
    * precedent). */
  def bpeEncodeIds(spark: SparkSession, text: Column,
                   merges: Seq[(String, String)],
                   vocab: Seq[(String, Int)]): Column = {
    require(vocab.nonEmpty, "bpeEncodeIds: empty vocab")
    require(vocab.map(_._1).distinct.size == vocab.size,
      "bpeEncodeIds: duplicate tokens in vocab — pass bpeVocabIds output")
    val lut = typedLit(vocab.toMap)
    transform(bpeEncodeVocab(spark, text, merges),
      t => coalesce(element_at(lut, t), lit(-1)))
  }

  /** Within-document repetition / boilerplate profile — the standard
    * cheap filter for template spam and degenerate generations in a
    * pretraining corpus: total tokens, distinct types, the duplicate
    * ratio (1 − types/tokens) and the share of the single most frequent
    * token. Two hash aggregations keyed on (doc, word) then doc — all
    * counts exact integers, so the derived ratios are cross-engine
    * deterministic; partial (map-side) aggregation keeps the shuffle
    * proportional to the vocabulary per doc, not the token stream.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perWord = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("cnt"))
    perWord.groupBy(col(idCol)).agg(
        sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_types"),
        max(col("cnt")).as("max_cnt"))
      .select(col(idCol),
        col("n_words"), col("n_types"),
        round(lit(1.0) - col("n_types").cast("double") / col("n_words"), 4)
          .as("rep_ratio"),
        round(col("max_cnt").cast("double") / col("n_words"), 4).as("top_share"))
  }

  /** Heuristic quality score in [0,1]: length sweet-spot, average word
    * length sanity, punctuation density penalty (the usual cheap
    * pretraining filters). Pure arithmetic → portable + deterministic.
    */
  def qualityScore(text: Column): Column = {
    val nWords = tokenCount(text).cast("double")
    val nChars = length(text).cast("double")
    val avgWordLen = nChars / greatest(nWords, lit(1.0))
    val punct = (length(text) - length(regexp_replace(text, "[!-/:-@\\[-`{-~]", ""))).cast("double")
    val punctRatio = punct / greatest(nChars, lit(1.0))
    val lenScore = least(nWords / lit(50.0), lit(1.0))
    val wordLenScore = when(avgWordLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    val punctScore = when(punctRatio <= 0.2, 1.0).otherwise(0.5)
    round(lenScore * 0.5 + wordLenScore * 0.3 + punctScore * 0.2, 4)
  }

  /** Tiny per-language stopword lexicon for the n-gram/stopword
    * language-ID heuristic. Deterministic; intentionally minimal (the
    * real lexicon would be a broadcast table, which is exactly how this
    * is implemented — the mechanism is the point, see langId).
    */
  val stopwordLexicon: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "and", "en" -> "of", "en" -> "to", "en" -> "in",
    "de" -> "der", "de" -> "und", "de" -> "das", "de" -> "ist", "de" -> "nicht",
    "fr" -> "le", "fr" -> "la", "fr" -> "et", "fr" -> "les", "fr" -> "des",
    "es" -> "el", "es" -> "los", "es" -> "que", "es" -> "y", "es" -> "en",
    "zh" -> "的", "zh" -> "是", "zh" -> "了", "zh" -> "在", "zh" -> "我")

  /** Language ID: explode tokens, broadcast-join the stopword lexicon,
    * majority vote per document (max hits, ties broken alphabetically),
    * default "und" when no stopword matches. One broadcast join + one
    * hash agg — no skew risk, scales to any corpus size.
    */
  def langId(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    val lexicon = stopwordLexicon.toDF("cand_lang", "stopword")
    val toks = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("tok"))
    val votes = toks
      .join(broadcast(lexicon), $"tok" === $"stopword")
      .groupBy(col(idCol), $"cand_lang").agg(count(lit(1)).as("hits"))
    val best = votes
      .groupBy(col(idCol))
      // most hits, ties → alphabetically first language (min over (-hits, lang))
      .agg(min_by($"cand_lang", struct((-$"hits").as("nh"), $"cand_lang")).as("pred_lang"))
    docs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .withColumn("pred_lang", coalesce($"pred_lang", lit("und")))
  }

  /** Order-sensitive 64-bit document fingerprint: FNV-1a over the
    * whitespace-normalized, lower-cased text. The byte-level rolling
    * hash lives inside the native Fnv1a64 expression (JVM long
    * arithmetic wraps, which is the hashing semantic — Spark-level
    * arithmetic would throw under ANSI mode).
    */
  def fingerprint(spark: SparkSession, text: Column): Column =
    Fnv1a64.fnv64(spark, regexp_replace(lower(trim(text)), "\\s+", " "))

  /** PII-redaction patterns (training-data scrubbing): lookaround-free
    * so Java regex and RE2 agree character-for-character. Email first —
    * replacing it also removes its digits — then any ≥4-digit run
    * (phone/account/ssn-ish). */
  val EmailPattern = "[A-Za-z0-9#._-]+@[A-Za-z0-9.-]+"
  val DigitRunPattern = "[0-9]{4,}"

  /** Scrub PII-ish spans: emails → `<EMAIL>`, long digit runs →
    * `<NUM>`. Two codegen'd regexp_replace passes, narrow and
    * shuffle-free — at 100 TB this is a pure map stage. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      DigitRunPattern, "<NUM>")

  /** How many spans [[scrubPii]] would redact (audit metric). */
  def piiSpanCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(regexp_replace(text, EmailPattern, "<EMAIL>"),
        lit(DigitRunPattern), lit(0)))

  /** Cross-engine document fingerprint: md5 of the whitespace-normalized,
    * lower-cased text. Same normalization as [[fingerprint]], but the
    * digest is portable (DuckDB ships an identical md5()), so this
    * variant is oracle-checkable; the FNV-1a variant stays as the
    * cheaper rolling hash for engine-internal bucketing.
    */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** RAG / retrieval-index chunk export: overlapping `width`-token
    * chunks stepping by `stride` (overlap = width − stride), tail
    * clipped so every token is covered — the grain an embedding
    * indexer consumes. One compiled narrow pass
    * ([[graft.functions.OverlapChunkStrings]]); the write's
    * partitioning is the only data movement. Returns
    * (idCol, ck, chunk, n_toks) with ck dense from 0 per document.
    */
  def ragChunks(docs: DataFrame, idCol: String, textCol: String,
                width: Int, stride: Int): DataFrame = {
    val spark = docs.sparkSession
    docs.repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol),
        posexplode(graft.functions.OverlapChunkStrings.overlapChunks(
          spark, col(textCol), width, stride)).as(Seq("ck", "chunk")))
      .withColumn("n_toks",
        size(split(col("chunk"), " ")).cast("long"))
  }

  /** Per-group vocabulary coverage / out-of-vocabulary rate: build the
    * top-`vocabSize` corpus vocabulary (by frequency, ties to the
    * lexicographically smaller word) and report, per `groupCol`, the
    * token volume and the fraction of tokens outside that vocabulary —
    * the "will my tokenizer's merges cover this source" audit a
    * tokenizer-training run does before committing a vocab.
    *
    * Scale shape: the token frame feeds two consumers (vocab counts and
    * the coverage probe), so it is persisted for the query's duration
    * and released once the small per-group result materializes. The
    * vocabulary is TakeOrdered'd (no global sort) and rides into the
    * probe as a broadcast; the probe itself is one partial-aggregated
    * hash agg — the corpus shuffles only word-count partials, never
    * token rows.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, groupCol: String,
                    vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be positive")
    val toks = docs
      .select(col(groupCol).as("__grp"),
        explode(split(col(textCol), "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = toks.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w")).limit(vocabSize)
      .select(col("__w"), lit(1).as("__in_vocab"))
    val out = toks.join(broadcast(vocab), Seq("__w"), "left")
      .groupBy(col("__grp"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("__grp").as(groupCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 4).as("oov_rate"))
      .localCheckpoint(true)
    toks.unpersist()
    out
  }

  /** Bigram language-model score per document — the CCNet/Wiki-LM
    * perplexity-filter shape: mean negative log-probability of each
    * consecutive token pair under an interpolated bigram model trained
    * on the corpus itself,
    *
    *   p(w|v) = λ·c(v,w)/c(v,·) + (1−λ)·c(w)/N
    *
    * (λ and 1−λ binary-exact by default, so the per-token probability
    * is a deterministic function of exact integer counts — replayable;
    * only the per-doc mean is order-sensitive, absorbed by round(4)).
    * Low nll ≈ "reads like the corpus"; the high-nll tail is the
    * gibberish/boilerplate-mix the filter drops. Returns
    * `(idCol, n_bigrams, nll)`; documents with fewer than two tokens
    * have no bigrams and are absent.
    *
    * Scale shape: tokens shuffle ONCE on the doc key (the lag window);
    * the count model is three partial-agged hash aggs off the shared
    * persisted frames; scoring re-joins counts keyed on the bigram —
    * |tokens|-row joins, nothing quadratic, no vocabulary collected.
    */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
                lambda: Double = 0.75): DataFrame = {
    require(lambda > 0 && lambda < 1, s"bigramNll: lambda $lambda outside (0,1)")
    val (toks, bigrams) = bigramFrames(docs, idCol, textCol)
    val big = bigrams.groupBy(col("__prev"), col("__w"))
      .agg(count(lit(1)).as("__c2"))
    val ctx = bigrams.groupBy(col("__prev")).agg(count(lit(1)).as("__c1"))
    val uni = toks.groupBy(col("__w")).agg(count(lit(1)).as("__u"))
    val tot = toks.agg(count(lit(1)).as("__tot"))
    val p = lit(lambda) * (col("__c2").cast("double") / col("__c1")) +
      lit(1.0 - lambda) * (col("__u").cast("double") / col("__tot"))
    val out = bigrams
      .join(big, Seq("__prev", "__w"))
      .join(ctx, Seq("__prev"))
      .join(uni, Seq("__w"))
      .crossJoin(broadcast(tot))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(p)), 4).as("nll"))
      .select(col("__id").as(idCol), col("n_bigrams"), col("nll"))
      .localCheckpoint(true)
    bigrams.unpersist(); toks.unpersist()
    out
  }

  /** Shared substrate of the bigram-LM scorers: the per-document
    * token frame `(__id, __pos, __w)` and PERSISTED consecutive
    * bigram frame `(__id, __prev, __w)`. Positions are assigned AFTER
    * dropping empty split fragments, so a bigram is a pair of
    * consecutive non-empty tokens (split artifacts never break
    * adjacency); the filter lambda runs on the small per-row split
    * array. Both frames are NARROW (array zip/explode off the scan —
    * no shuffle, no per-doc sort; r19 removed the lag window that
    * previously shuffled the tokens on the doc key).
    *
    * `persistToks` / `persistBigrams`: only a caller that RE-READS a
    * frame should pay for caching it — both frames are |corpus
    * tokens|-sized, and an unconditional persist pins dead memory at
    * exactly the scale the scaladocs target. bigramNll re-reads both
    * (unigram/total aggs off toks; three model aggs plus scoring off
    * bigrams); knBigramNll re-reads only bigrams; dsirWeights reads
    * bigrams ONCE into its own persisted per-(doc, bucket) frame and
    * caches neither. CALLERS unpersist both returned frames after
    * materializing their result (unpersist on an unpersisted frame is
    * a no-op).
    */
  private[operators] def bigramFrames(docs: DataFrame, idCol: String,
                                      textCol: String,
                                      persistToks: Boolean = true,
                                      persistBigrams: Boolean = true)
      : (DataFrame, DataFrame) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val arr = filter(split(col(textCol), "\\s+"), w => length(w) > 0)
    // spread the source once for both frames: the narrow zip-with build
    // below removed the lag window's doc-keyed exchange, which also
    // removed the parallelism it incidentally bought — the split +
    // explode + downstream hashing otherwise run at the scan's split
    // count (measured 2 tasks through the whole x_dsir_select pipeline;
    // guide §2.5). The produced multisets and every count-based
    // consumer are partition-independent.
    val src = graft.core.Tables.spread(docs)
    val toks0 = src
      .select(col(idCol).as("__id"),
        posexplode(arr).as(Seq("__pos", "__w")))
    val toks = if (persistToks) toks0.persist(lvl) else toks0
    // consecutive pairs NARROWLY, from the same filtered split array a
    // lag window would scan: zip the array with its own tail (guide
    // §2.4 — remove shuffles outright). The earlier window+lag form
    // paid one doc-keyed exchange plus a per-doc sort for adjacency the
    // split array already has; the produced (__id, __prev, __w) multiset
    // is identical (positions were assigned after the empty-fragment
    // filter, so adjacency is adjacency in this same array).
    val bigrams0 = src
      .select(col(idCol).as("__id"),
        explode(zip_with(
          slice(arr, lit(1), greatest(size(arr) - 1, lit(0))),
          slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
          (p, w) => struct(p.as("__prev"), w.as("__w")))).as("__bg"))
      .select(col("__id"), col("__bg.__prev").as("__prev"),
        col("__bg.__w").as("__w"))
    val bigrams = if (persistBigrams) bigrams0.persist(lvl) else bigrams0
    (toks, bigrams)
  }

  /** Interpolated Kneser-Ney bigram score per document — the smoothing
    * the n-gram-LM literature actually ships (Chen & Goodman 1999)
    * and the quality notch above [[bigramNll]]'s count interpolation:
    * instead of backing off to RAW unigram frequency (which overrates
    * words that are frequent only inside one collocation), the
    * continuation distribution asks "in how many distinct contexts
    * does this word appear?"
    *
    *   p_KN(w|v) = max(c(v,w) − D, 0)/c(v,·)
    *             + D·N1+(v,·)/c(v,·) · N1+(·,w)/|bigram types|
    *
    * with absolute discount D (default 0.75, binary-exact), context
    * total c(v,·), N1+(v,·) = distinct words following v, N1+(·,w) =
    * distinct contexts preceding w, and |bigram types| the corpus
    * distinct-bigram count. Every factor is a ratio of exact integer
    * counts, so the per-token probability replays bit-for-bit
    * cross-engine; only the per-doc mean is order-sensitive, absorbed
    * by round(4). Scored bigrams were observed in training (the model
    * scores its own corpus, the perplexity-filter shape), so both the
    * discounted term's denominator and the continuation count are
    * positive — no zero-probability branch. Returns
    * `(idCol, n_bigrams, kn_nll)`; documents with fewer than two
    * tokens have no bigrams and are absent.
    *
    * Scale shape: identical to [[bigramNll]] — one token shuffle on
    * the doc key, then count-distinct/count hash aggs off the shared
    * persisted frames (each partial-agged, keyed on bigram parts);
    * scoring re-joins the |vocab|- and |bigram-type|-sized model
    * tables keyed on the bigram. Nothing quadratic, no vocabulary
    * collected, the type total rides along as a broadcast 1-row agg.
    */
  def knBigramNll(docs: DataFrame, idCol: String, textCol: String,
                  discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"knBigramNll: discount $discount outside (0,1)")
    // every model table below reads `bigrams` only — no toks cache
    val (toks, bigrams) = bigramFrames(docs, idCol, textCol, persistToks = false)
    // model tables, all exact integer counts: c(v,w); per-context
    // total c(v,·) with its distinct-follower count N1+(v,·) from the
    // SAME aggregation; per-word distinct-context count N1+(·,w);
    // corpus bigram-type total
    val big = bigrams.groupBy(col("__prev"), col("__w"))
      .agg(count(lit(1)).as("__c2"))
    val ctx = bigrams.groupBy(col("__prev"))
      .agg(count(lit(1)).as("__c1"),
        count_distinct(col("__w")).as("__n1fwd"))
    val cont = bigrams.groupBy(col("__w"))
      .agg(count_distinct(col("__prev")).as("__n1bwd"))
    val types = bigrams.select(col("__prev"), col("__w")).distinct()
      .agg(count(lit(1)).as("__types"))
    val pKn =
      greatest(col("__c2").cast("double") - discount, lit(0.0)) / col("__c1") +
        (lit(discount) * col("__n1fwd") / col("__c1")) *
          (col("__n1bwd").cast("double") / col("__types"))
    val out = bigrams
      .join(big, Seq("__prev", "__w"))
      .join(ctx, Seq("__prev"))
      .join(cont, Seq("__w"))
      .crossJoin(broadcast(types))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(pKn)), 4).as("kn_nll"))
      .select(col("__id").as(idCol), col("n_bigrams"), col("kn_nll"))
      .localCheckpoint(true)
    bigrams.unpersist(); toks.unpersist()
    out
  }
}
