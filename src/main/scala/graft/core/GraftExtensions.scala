package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.{CosineSimilarity, SqlFunctions}

/** Session extension wiring (SURVEY §7: register via
  * SparkSessionExtensions): injects every row of the
  * [[graft.functions.SqlFunctions]] table, so each graft native
  * expression is callable from plain SQL on any session built
  * `.withExtensions(new GraftExtensions)`, and injects the engine's
  * optimizer rules.
  *
  * Usage:
  *   SparkSession.builder().withExtensions(new GraftExtensions). …
  *   spark.sql("SELECT graft_cosine(a.embedding, b.embedding) …")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    for (f <- SqlFunctions.all)
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.builder))
    e.injectOptimizerRule(_ => SelfCosineRule)
  }
}

/** Micro optimizer rule: cosine(x, x) folds to 1.0 instead of
  * computing two identical norms and a dot product per row.
  *
  * Null safety (round-1 advice): a blanket Literal(1.0) would silently
  * turn NULL vectors into 1.0 for SQL users of the extension. The fold
  * therefore preserves the expression's null-in/null-out contract —
  * non-nullable inputs fold to the literal, nullable inputs to
  * `IF(x IS NULL, NULL, 1.0)` (still no per-row norms/dot products).
  *
  * Declared convention: self-similarity of an ALL-ZERO vector is
  * defined as 1.0 under this rule, while the unoptimized expression
  * yields NaN (0/0). This is deliberate — "how similar is x to
  * itself" has one defensible answer — and documented here because the
  * optimized and unoptimized plans differ on that degenerate input.
  */
object SelfCosineRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case CosineSimilarity(a, b) if a.deterministic && a.semanticEquals(b) =>
      if (a.nullable) If(IsNull(a), Literal(null, DoubleType), Literal(1.0))
      else Literal(1.0)
  }
}
