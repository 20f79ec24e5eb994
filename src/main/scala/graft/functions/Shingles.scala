package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a text column, emitted directly as
  * FNV-1a 64 hashes (ARRAY(LONG)) — the common front end of the
  * near-duplicate family (Jaccard / MinHash / SimHash operators join
  * and sign on the hash, never on the shingle string).
  *
  * Native expression for the same reason as MinHashSignature: the
  * composable formulation (split → transform(sequence) → concat_ws →
  * array_distinct → fnv per shingle) runs interpreted inside
  * higher-order functions and dominated the dedup benchmarks. Here
  * tokenization, rolling n-gram hashing (tokens joined by single
  * spaces, hashed incrementally — the shingle string is never built),
  * and dedup happen in one JVM pass.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 16, s"unreasonable shingle width $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  protected override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashes.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  /** Tokenize on whitespace runs; hash each n-gram incrementally
    * (FNV-1a over token bytes with single-space separators); dedup.
    * Short docs (< n tokens) produce one whole-doc shingle.
    */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    // token boundaries
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
    val width = math.min(n, math.max(m, 1))
    val count = math.max(m - width + 1, if (m == 0) 0 else 1)
    val seen = new java.util.HashSet[java.lang.Long](count * 2)
    val out = new java.util.ArrayList[java.lang.Long](count)
    var s = 0
    while (s < count) {
      var h = 0xcbf29ce484222325L
      var t = 0
      while (t < width) {
        if (t > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        var b = starts.get(s + t)
        val e = ends.get(s + t)
        while (b < e) {
          h ^= (bytes(b) & 0xffL)
          h *= 0x100000001b3L
          b += 1
        }
        t += 1
      }
      if (seen.add(h)) out.add(h)
      s += 1
    }
    val arr = new Array[Long](out.size())
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    new GenericArrayData(arr)
  }

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  def shingleHashes(spark: SparkSession, text: Column, n: Int = 3): Column =
    column(ShingleHashes(expression(text), n))
}

/** Distinct word n-gram shingles as STRINGS (ARRAY(STRING)) — the
  * string-emitting sibling of [[ShingleHashes]], sharing its exact
  * tokenization (whitespace-run tokens, zero-token docs → empty array,
  * short docs → one whole-doc shingle, first-occurrence dedup). Used
  * where the shingle text itself is the output (n-gram frequency /
  * contamination analysis), so the oracle-checked semantics match the
  * hash pipeline's and the per-row loop stays out of interpreted HOFs.
  */
case class ShingleStrings(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 16, s"unreasonable shingle width $n")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"

  protected override def nullSafeEval(input: Any): Any =
    ShingleStrings.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleStrings.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

object ShingleStrings {

  def compute(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    // token boundaries on the same whitespace set as ShingleHashes
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
    val width = math.min(n, math.max(m, 1))
    val count = math.max(m - width + 1, if (m == 0) 0 else 1)
    val seen = new java.util.LinkedHashSet[String](count * 2)
    var k = 0
    while (k < count) {
      val sb = new java.lang.StringBuilder()
      var t = 0
      while (t < width) {
        if (t > 0) sb.append(' ')
        sb.append(toks.get(k + t))
        t += 1
      }
      seen.add(sb.toString)
      k += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 0x0b

  def shingleStrings(spark: SparkSession, text: Column, n: Int = 3): Column =
    column(ShingleStrings(expression(text), n))
}

/** 64-bit SimHash of an ARRAY(LONG) hash column: per-bit ±1 majority
  * vote packed into a long, one JVM pass (native counterpart of the
  * 64-HOF-filter formulation, which was interpreted per bit).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  protected override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  def compute(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def simhash64(spark: SparkSession, hashes: Column): Column =
    column(SimHash64(expression(hashes)))
}
