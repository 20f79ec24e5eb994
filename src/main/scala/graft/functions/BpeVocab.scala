package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

/** PRODUCTION-VOCAB BPE application as one native Catalyst expression
  * (round-17 verdict item 2): the classic lowest-rank-first merge loop
  * over a merge table held as expression state — the design that lifts
  * [[graft.operators.TextAnalysis.bpeMergeTokens]]' 4096-merge cap.
  *
  * Why custom (SURVEY §4 "custom Expression only where built-ins can't
  * express it"): the built-in formulation chains one `replace` per
  * rank into the generated code, so a real 50 k-merge GPT-class vocab
  * cannot compile — the vocab must be EXPRESSION STATE (a constant
  * object the generated code calls into, the
  * [[MinHashSignature]]/[[BootstrapWeights]] precedent), not 50 k plan
  * nodes. One narrow whole-stage-codegen map per row via a static-shape
  * helper call; no shuffle, no UDF, the merge table serialized once per
  * plan (a broadcast-sized reference object, never per-row).
  *
  * SEMANTICS (the classic reference algorithm): each pre-token splits
  * into single-CODE-POINT symbols; repeatedly find the LOWEST-RANK
  * adjacent pair present anywhere in the symbol sequence and merge all
  * its occurrences in one left-to-right non-overlapping pass; stop
  * when no adjacent pair is in the table. For merge tables actually
  * learned by BPE — every non-single-character constituent is itself
  * the output of a strictly earlier rank — this is equivalent to
  * [[graft.operators.TextAnalysis.bpeMergeTokens]]' one-greedy-pass-
  * per-rank-ascending schedule (an earlier rank's pair cannot reappear
  * after a later rank fires; spec-pinned on the shared 13-rank table),
  * which is what the DuckDB oracle replays rank-by-rank. On an
  * arbitrary hand-written table the classic loop is THE contract here
  * (it can differ from the pass schedule when a later rank manufactures
  * an earlier rank's constituent — the spec pins one such case).
  *
  * Input: `array<string>` of pre-tokens ([[graft.operators.TextAnalysis.bpeTokens]]'
  * output — one call per DOCUMENT, not per pre-token, so the JVM
  * boundary is crossed once per row). Output: the flattened
  * `array<string>` of merged tokens in document order. NULL array →
  * NULL; NULL elements skipped (cannot arise from bpeTokens —
  * containsNull = false).
  */
case class BpeEncodeVocab(child: Expression, xs: Seq[String], ys: Seq[String])
    extends UnaryExpression {
  require(xs.nonEmpty, "graft_bpe_encode: empty merge table")
  require(xs.size == ys.size,
    s"graft_bpe_encode: ${xs.size} left symbols vs ${ys.size} right")
  require(xs.size <= 1_000_000,
    s"graft_bpe_encode: ${xs.size} merges — a production vocab is ~50k; " +
      "past a million this is almost certainly data passed as a literal")
  // symbol validation is EAGER (construction = the SQL builder call or
  // the Column helper), so a bad table fails at plan time with this
  // message, never mid-job from the lazily built lookup
  xs.zip(ys).foreach { case (x, y) =>
    require(x.nonEmpty && y.nonEmpty,
      s"graft_bpe_encode: empty symbol in merge ($x, $y)")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_encode needs array<string> pre-tokens, got " +
        s"${other.catalogString}")
  }

  @transient private lazy val table = new BpeMergeTable(xs.toArray, ys.toArray)

  protected override def nullSafeEval(input: Any): Any =
    table.encodeAll(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeVocab", table,
      classOf[BpeMergeTable].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encodeAll($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeVocab =
    copy(child = newChild)
}

/** The vocab state [[BpeEncodeVocab]] carries into generated code: an
  * O(1) pair→rank lookup rebuilt lazily after deserialization (the
  * arrays ship, the hash map does not). Later duplicates of a pair are
  * IGNORED — first (lowest) rank wins, the convention of published
  * merge tables (a trainer never emits a pair twice). */
final class BpeMergeTable(xs: Array[String], ys: Array[String])
    extends Serializable {

  // pair key = left length + the concatenation: unambiguous for ANY
  // symbol contents (symbols may contain spaces — " th" — so a
  // separator character could collide; the length prefix cannot)
  private def keyOf(x: String, y: String): String =
    x.length.toString + ":" + x + y

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](xs.length * 2)
    var i = 0
    while (i < xs.length) {
      m.putIfAbsent(keyOf(xs(i), ys(i)), Integer.valueOf(i))
      i += 1
    }
    m
  }

  private def rankOf(x: String, y: String): Int = {
    val r = ranks.get(keyOf(x, y))
    if (r eq null) Int.MaxValue else r.intValue()
  }

  /** Classic BPE over one pre-token's code-point symbols. */
  private def encodePre(pre: String,
                        out: scala.collection.mutable.ArrayBuffer[UTF8String]): Unit = {
    if (pre.isEmpty) return
    // split into code-point symbols (the "(.)" wrap of the replace-chain
    // sibling matches one code point too)
    var syms = {
      val b = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < pre.length) {
        val cp = pre.codePointAt(i)
        val n = Character.charCount(cp)
        b += pre.substring(i, i + n)
        i += n
      }
      b.toArray
    }
    var done = false
    while (!done && syms.length > 1) {
      // lowest-rank adjacent pair present anywhere in the sequence
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rankOf(syms(i), syms(i + 1))
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val x = xs(best)
        val y = ys(best)
        val xy = x + y
        // merge every occurrence of exactly (x, y), one left-to-right
        // non-overlapping pass
        val nb = scala.collection.mutable.ArrayBuffer[String]()
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == x && syms(j + 1) == y) {
            nb += xy; j += 2
          } else {
            nb += syms(j); j += 1
          }
        }
        syms = nb.toArray
      }
    }
    syms.foreach(s => out += UTF8String.fromString(s))
  }

  /** One call per document: every pre-token through the classic loop,
    * flattened in order. */
  def encodeAll(pres: ArrayData): ArrayData = {
    val n = pres.numElements()
    val out = scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    while (i < n) {
      if (!pres.isNullAt(i)) encodePre(pres.getUTF8String(i).toString, out)
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

object BpeEncodeVocab {
  /** Column form: pre-token array → merged token array under the
    * literal `merges` table (rank = position). */
  def encode(preTokens: Column, merges: Seq[(String, String)]): Column =
    column(BpeEncodeVocab(expression(preTokens), merges.map(_._1), merges.map(_._2)))
}
