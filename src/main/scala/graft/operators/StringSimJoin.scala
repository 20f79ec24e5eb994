package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Parallelism

/** String-similarity self-join under edit distance (SURVEY §2.B dedup
  * family sibling): find all pairs within Levenshtein distance 1 via
  * deletion-neighborhood blocking (the SymSpell scheme), then verify
  * exactly.
  *
  * Why not q-gram blocking: on key-like corpora sharing a long common
  * prefix (ids, urls, near-identical records — the realistic dedup
  * input) every string shares every prefix q-gram, so q-gram buckets
  * degenerate to a cross join. Deletion neighborhoods don't: two
  * strings are within edit distance 1 **iff** their {self} ∪
  * {1-deletions} key sets intersect (substitution at i → both delete i;
  * insertion → the longer string deletes the inserted char; equality →
  * self key), so the bucket join is lossless by construction and bucket
  * size is bounded by the alphabet, not the corpus.
  */
object StringSimJoin {

  /** All pairs (id_a < id_b) whose strings are within Levenshtein
    * distance 1.
    *
    * Shape at scale: each string emits len+1 keys in one narrow
    * higher-order pass (no UDF), candidates meet in an equi-join on the
    * key — never a cartesian — duplicate candidates collapse in one
    * hash aggregate, and the codegen'd `levenshtein` verifies. Empty
    * strings are excluded (an empty string's only key is itself).
    */
  def editDistance1Join(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    // Repartition before the heavy narrow stage (key explosion, hash,
    // join probe + per-candidate levenshtein all run in the scan tasks):
    // a key-like corpus often arrives as one input split, which would
    // serialize every candidate verification through one core. Shuffles
    // only (id, s) rows; measured ~free on a many-split source
    // (BASELINE.md §14 — the Dedup discipline).
    val base = Parallelism.spread(
      df.select(col(idCol).as("id"), col(strCol).as("s"))
        .filter(length(col("s")) >= 1))
    // keys: the string itself + every single-character deletion,
    // deduped per string (repeated chars give identical deletions),
    // then HASHED to 64 bits — the join shuffles longs instead of
    // near-full-length string keys (on an 18-char key corpus that
    // halves the exchange). A hash collision only ever creates a
    // FALSE candidate, which the exact levenshtein verify removes;
    // equal strings always share the hash, so no pair is lost.
    val delKeys = transform(sequence(lit(1), length(col("s"))), (i: Column) =>
      concat(col("s").substr(lit(1), i - 1),
        col("s").substr(i + 1, length(col("s")) - i)))
    val keyed = base.select(col("id"), col("s"),
      explode(array_union(array(col("s")), delKeys)).as("keyStr"))
      .select(col("id"), col("s"), xxhash64(col("keyStr")).as("key"))
    keyed.as("a").join(keyed.as("b"), Seq("key"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"))
      .agg(count(lit(1)).as("_k")).drop("_k")
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("int"))
      .filter(col("dist") <= 1)
  }

  /** Sorted-neighborhood candidate generation — the classic entity-
    * resolution blocking scheme (Hernández & Stolfo): sort records by a
    * key, emit every pair within `window` sort positions. Used when the
    * match signal is "nearby after sorting" (names, addresses, near-
    * identical records) rather than a fixed token overlap.
    *
    * This is the BLOCKED form: records are partitioned by `blockExpr`
    * (default: first character of the key) and neighborhoods only span
    * one block — the standard scale variant, because a global sort rank
    * serializes through one task while per-block windows shuffle once
    * on the block key. Pairs crossing a block boundary are the scheme's
    * documented recall trade-off (multi-pass with a second blocking key
    * is the standard mitigation, composable by a second call).
    *
    * One shuffle on the block key; each record then pairs with its next
    * `window` successors via `lead` — narrow, no self-join on data.
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, strCol: String,
                         window: Int,
                         blockExpr: Column = null): DataFrame = {
    require(window >= 1, "sortedNeighborhood: window must be >= 1")
    val blk = Option(blockExpr).getOrElse(upper(substring(col(strCol), 1, 1)))
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"), blk.as("blk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk")).orderBy(col("s"), col("id"))
    val withNext = base.select(col("blk"), col("id"), col("s"),
      array((1 to window).map(i =>
        struct(lead(col("id"), i).over(w).as("id"),
          lead(col("s"), i).over(w).as("s"),
          lit(i).as("gap"))): _*).as("nbrs"))
    withNext
      .select(col("id").as("id_a"), col("s").as("s_a"),
        explode(col("nbrs")).as("nb"))
      .filter(col("nb.id").isNotNull)
      .select(col("id_a"), col("nb.id").as("id_b"),
        col("s_a"), col("nb.s").as("s_b"), col("nb.gap").cast("int").as("gap"))
  }
}
