package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a native Catalyst
  * expression — the first text-cleaning step of any multilingual corpus
  * pipeline (composed vs decomposed accents, ligatures, fullwidth
  * forms all hash differently until normalized, so dedup and
  * fingerprinting run on normalized text).
  *
  * Spark has no built-in for this; a native `doGenCode` expression
  * keeps it inside whole-stage codegen (no UDF serialization per row).
  * The form is a plan-time constant, so codegen burns the enum lookup
  * into the generated call site.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {
  require(UnicodeNormalize.Forms.contains(form),
    s"unicode_normalize: unknown form '$form' (expected one of ${UnicodeNormalize.Forms.mkString("/")})")

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unicode_normalize requires a string argument, got ${child.dataType}")

  protected override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.normalize(input.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""graft.functions.UnicodeNormalize.normalize($c, "$form")""")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {
  val Forms: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD")

  /** Fast path: Normalizer.isNormalized is a cheap scan that is true
    * for the overwhelmingly-common already-normalized (ASCII) case, so
    * most rows never allocate the normalized copy. */
  def normalize(s: UTF8String, form: String): UTF8String = {
    val f = Normalizer.Form.valueOf(form)
    val str = s.toString
    if (Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(Normalizer.normalize(str, f))
  }

  /** Column form of NFC, the form DuckDB can replay (SQL: `graft_nfc`). */
  def nfc(spark: SparkSession, c: Column): Column = normalized(spark, c, "NFC")

  /** Column form for any normalization form; an unknown `form` (the
    * names are case-sensitive) throws here, at the call. */
  def normalized(spark: SparkSession, c: Column, form: String): Column =
    column(UnicodeNormalize(expression(c), form))
}
