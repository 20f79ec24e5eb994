package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The generated-class cache holds the short-query working set: once
  * the 17 Relational and 4 SqlPath queries have run, another round of
  * them compiles nothing. One round compiles ~190 classes, so at Spark's
  * default cap of 100 entries every round recompiles most of them. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val names = Seq(
    "q01_scan", "q02_filter", "q03_left_join", "q04_join_chain",
    "q05_sort_limit", "q06_group_concat", "q07_agg", "q08_distinct",
    "q09_rollup", "q10_rank", "q11_moving_sum", "q12_topk_group",
    "q13_intersect", "q14_anti_join", "q23_corr_subquery",
    "q24_union_agg", "x_headline_revenue",
    "x_sql_exists", "x_sql_cte", "x_sql_grouping_sets", "x_sql_lateral")
  private val dir = s"${TestSpark.dataRoot}/sf0.001"

  /** Run every query once; the queries that compiled classes, with counts. */
  private def round(): Seq[(String, Long)] = names.flatMap { n =>
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    if (compiled > 0) Some(n -> compiled) else None
  }

  test("a steady round of the short queries compiles no generated class") {
    assume(new java.io.File(dir).isDirectory, s"$dir not found")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    // two unmeasured rounds: after other suites have run in this JVM,
    // q08_distinct's second run compiled 6 classes once (same physical
    // plan), and every run after that compiled none
    round()
    round()
    val compiled = round()
    assert(compiled.isEmpty, s"the third round compiled classes: ${compiled.mkString(", ")}")
  }
}
