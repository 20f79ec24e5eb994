package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

/** Consecutive fixed-width token chunks of a text column
  * (ARRAY(STRING), in document order, duplicates preserved) — the
  * sub-document grain of the CCNet-style chunk-dedup family
  * (graft.operators.Dedup.docChunks). Unlike [[ShingleStrings]] the
  * windows are DISJOINT (token k belongs to chunk k/width), nothing is
  * deduplicated (per-doc occurrence counts are part of the boilerplate
  * report), and the last chunk may be short.
  *
  * Native expression for the same reason as [[ShingleHashes]]: the
  * composable formulation (split → transform(sequence(...),
  * slice+array_join)) runs interpreted inside higher-order functions
  * and was the dominant cost of the chunk-dedup benchmarks (~8 µs per
  * chunk at sf0.1). Tokenization and chunk assembly here are one
  * compiled JVM pass; `posexplode` over the result yields the
  * (chunk-index, chunk) pairs downstream operators key on.
  *
  * Tokenization matches the rest of the text family: whitespace-run
  * separators (the ASCII set of java.util.regex \s), empty tokens
  * impossible, zero-token docs → empty array.
  */
case class ChunkStrings(child: Expression, width: Int) extends UnaryExpression {
  require(width >= 1 && width <= (1 << 20), s"unreasonable chunk width $width")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "chunk_strings"

  protected override def nullSafeEval(input: Any): Any =
    ChunkStrings.compute(input.asInstanceOf[UTF8String], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ChunkStrings.compute($c, $width)")

  override protected def withNewChildInternal(newChild: Expression): ChunkStrings =
    copy(child = newChild)
}

object ChunkStrings {

  def compute(text: UTF8String, width: Int): ArrayData = {
    val s = text.toString
    val toks = new java.util.ArrayList[String]()
    var i = 0
    while (i < s.length) {
      while (i < s.length && isSpace(s.charAt(i))) i += 1
      if (i < s.length) {
        val start = i
        while (i < s.length && !isSpace(s.charAt(i))) i += 1
        toks.add(s.substring(start, i))
      }
    }
    val m = toks.size()
    val count = (m + width - 1) / width
    val out = new Array[Any](count)
    var c = 0
    while (c < count) {
      val sb = new java.lang.StringBuilder()
      var t = c * width
      val end = math.min(t + width, m)
      while (t < end) {
        if (t > c * width) sb.append(' ')
        sb.append(toks.get(t))
        t += 1
      }
      out(c) = UTF8String.fromString(sb.toString)
      c += 1
    }
    new GenericArrayData(out)
  }

  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 0x0b

  def chunkStrings(spark: SparkSession, text: Column, width: Int): Column =
    column(ChunkStrings(expression(text), width))
}

/** FNV-1a 64 hashes of the same chunks as [[ChunkStrings]]
  * (ARRAY(LONG), same order, duplicates preserved): element k equals
  * Fnv1a64(chunkStrings(text)[k]) — tokens are hashed incrementally
  * with single-space separators, so the chunk string is never built.
  * This is the counting side of the chunk-dedup family: duplicate
  * detection groups on these longs and the chunk text stays out of
  * every shuffle.
  */
case class ChunkHashes(child: Expression, width: Int) extends UnaryExpression {
  require(width >= 1 && width <= (1 << 20), s"unreasonable chunk width $width")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "chunk_hashes"

  protected override def nullSafeEval(input: Any): Any =
    ChunkHashes.compute(input.asInstanceOf[UTF8String], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ChunkHashes.compute($c, $width)")

  override protected def withNewChildInternal(newChild: Expression): ChunkHashes =
    copy(child = newChild)
}

object ChunkHashes {

  def compute(text: UTF8String, width: Int): ArrayData = {
    compute(text, width, width)
  }

  /** Shared kernel with [[RollingHashes]]: window start steps by
    * `stride`; `stride == width` gives disjoint chunks (ragged last
    * window kept), `stride == 1` gives every full-width window (short
    * docs produce none). */
  private[functions] def compute(text: UTF8String, width: Int, stride: Int): ArrayData = {
    val bytes = text.getBytes
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isSpace(bytes(i))) i += 1
      if (i < bytes.length) {
        starts.add(i)
        while (i < bytes.length && !isSpace(bytes(i))) i += 1
        ends.add(i)
      }
    }
    val m = starts.size()
    val count =
      if (stride == width) (m + width - 1) / width     // ragged tail kept
      else if (m >= width) (m - width) / stride + 1    // full windows only
      else 0
    val out = new Array[Long](count)
    var c = 0
    while (c < count) {
      var h = 0xcbf29ce484222325L
      val s0 = c * stride
      var t = s0
      val end = math.min(s0 + width, m)
      while (t < end) {
        if (t > s0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        var b = starts.get(t)
        val e = ends.get(t)
        while (b < e) {
          h ^= (bytes(b) & 0xffL)
          h *= 0x100000001b3L
          b += 1
        }
        t += 1
      }
      out(c) = h
      c += 1
    }
    new GenericArrayData(out)
  }

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  def chunkHashes(spark: SparkSession, text: Column, width: Int): Column =
    column(ChunkHashes(expression(text), width))
}

/** Overlapping `width`-token chunks stepping by `stride` tokens
  * (ARRAY(STRING)) — the RAG / retrieval-index chunking grain: every
  * token is covered, consecutive chunks overlap by `width - stride`
  * tokens so a fact straddling a boundary still lands whole in one
  * chunk, and the final chunk is clipped to the document end rather
  * than dropped. A document of ≤ `width` tokens is one whole-doc
  * chunk; an empty document produces no chunks. Contrast
  * [[ChunkStrings]] (disjoint, dedup grain) and [[RollingHashes]]
  * (stride-1 full windows, substring-dup grain).
  */
case class OverlapChunkStrings(child: Expression, width: Int, stride: Int)
  extends UnaryExpression {
  require(width >= 1 && width <= (1 << 20), s"unreasonable chunk width $width")
  require(stride >= 1 && stride <= width,
    s"stride $stride must be in [1, width] — stride > width would drop tokens")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "overlap_chunk_strings"

  protected override def nullSafeEval(input: Any): Any =
    OverlapChunkStrings.compute(input.asInstanceOf[UTF8String], width, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.OverlapChunkStrings.compute($c, $width, $stride)")

  override protected def withNewChildInternal(newChild: Expression): OverlapChunkStrings =
    copy(child = newChild)
}

object OverlapChunkStrings {

  def compute(text: UTF8String, width: Int, stride: Int): ArrayData = {
    val s = text.toString
    val toks = new java.util.ArrayList[String]()
    var i = 0
    while (i < s.length) {
      while (i < s.length && isSpace(s.charAt(i))) i += 1
      if (i < s.length) {
        val start = i
        while (i < s.length && !isSpace(s.charAt(i))) i += 1
        toks.add(s.substring(start, i))
      }
    }
    val m = toks.size()
    val count =
      if (m == 0) 0
      else if (m <= width) 1
      else (m - width + stride - 1) / stride + 1
    val out = new Array[Any](count)
    var c = 0
    while (c < count) {
      val sb = new java.lang.StringBuilder()
      var t = c * stride
      val end = math.min(t + width, m)
      while (t < end) {
        if (t > c * stride) sb.append(' ')
        sb.append(toks.get(t))
        t += 1
      }
      out(c) = UTF8String.fromString(sb.toString)
      c += 1
    }
    new GenericArrayData(out)
  }

  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 0x0b

  def overlapChunks(spark: SparkSession, text: Column, width: Int, stride: Int): Column =
    column(OverlapChunkStrings(expression(text), width, stride))
}

/** FNV-1a 64 hashes of every stride-1 `width`-token window
  * (ARRAY(LONG), element k = hash of tokens [k, k+width)) — the
  * sliding-window sibling of [[ChunkHashes]] and the substrate of
  * exact substring-span dedup (Lee et al. 2022, arXiv:2107.06499:
  * duplicate TRAINING SPANS repeat verbatim at arbitrary offsets, so
  * the detection grain must be every window, not disjoint chunks).
  * Unlike [[ShingleHashes]] nothing is deduplicated — the array index
  * IS the token position, which the span-merge pass needs. Docs
  * shorter than `width` produce an empty array (no full window exists
  * to match; contrast ShingleHashes' whole-doc fallback shingle).
  */
case class RollingHashes(child: Expression, width: Int) extends UnaryExpression {
  require(width >= 1 && width <= (1 << 20), s"unreasonable window width $width")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_hashes"

  protected override def nullSafeEval(input: Any): Any =
    ChunkHashes.compute(input.asInstanceOf[UTF8String], width, 1)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashes.compute($c, $width)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashes =
    copy(child = newChild)
}

object RollingHashes {

  /** Codegen entry point (kernel shared with [[ChunkHashes]]). */
  def compute(text: UTF8String, width: Int): ArrayData =
    ChunkHashes.compute(text, width, 1)

  def rollingHashes(spark: SparkSession, text: Column, width: Int): Column =
    column(RollingHashes(expression(text), width))
}
