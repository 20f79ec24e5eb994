package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestSparkAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, RepartitionByExpression}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Parallelism
import graft.operators.{Dedup, Stats}

/** One partition-count policy: every explicit pin in `src/main` takes
  * its width from [[Parallelism]], N = the core count. A source guard
  * keeps the policy in one file; planning checks build the pinned
  * operators on the shared `local[4]` session with shuffle partitions
  * raised to 64 and lowered to 2 and read the partition count at each
  * pin: N = 4 at both. */
class ParallelismSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = s"${TestSpark.dataRoot}/sf0.001"

  /** Explicit partition counts of the shuffling repartitions in `plan`,
    * looking through cached frames into the plan that filled them. */
  private def pins(plan: LogicalPlan): Seq[Int] = plan.flatMap {
    case r: Repartition if r.shuffle => Seq(r.numPartitions)
    case r: RepartitionByExpression => r.optNumPartitions.toSeq
    case m: InMemoryRelation => pins(m.cacheBuilder.logicalPlan)
    case _ => Nil
  }

  /** Builds `op` with `spark.sql.shuffle.partitions` at `nsp` (restored
    * afterwards) and returns the partition count of every pin in the
    * returned plan or in any action run while building it (a count, a
    * collect, a checkpoint or a write). Nothing runs the returned frame. */
  private def pinsAt(nsp: Int)(op: => DataFrame): Seq[Int] = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    val ran = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ran.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.conf.set(key, nsp.toString)
      val out = op
      GraftTestSparkAccess.waitListenerBus(spark.sparkContext)
      (out.queryExecution.analyzed +: ran.asScala.toSeq.map(_.analyzed)).flatMap(pins)
    } finally {
      spark.listenerManager.unregister(listener)
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Asserts that every named build plans at least one pin and only
    * pins of width `want` at both settings. */
  private def assertWidths(builds: Seq[(String, () => DataFrame)],
                           want: Map[Int, Int]): Unit = {
    val bad = for {
      (nsp, n) <- want.toSeq
      (name, build) <- builds
      got = pinsAt(nsp)(build())
      if got.isEmpty || got.exists(_ != n)
    } yield s"$name at shuffle partitions $nsp: pins $got, want all $n"
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** A single-split corpus: every conditional spread fires. */
  private def corpus: DataFrame = (1 to 40).map { i =>
    (i.toLong, s"w${i % 7} w${i % 5} w${i % 3} shared tail text w${i % 11}",
      if (i % 4 == 0) "test" else "train")
  }.toDF("id", "text", "split").coalesce(1)

  test("the width is the core count at any shuffle-partition setting and every pin shape plans it") {
    val df = corpus
    val shapes: Seq[DataFrame => DataFrame] = Seq(Parallelism.spread,
      Parallelism.spreadIfNarrow, Parallelism.keyed(_, col("id")))
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(shapes.flatMap(s => pinsAt(64)(s(df))) == Seq(4, 4, 4))
    assert(shapes.flatMap(s => pinsAt(2)(s(df))) == Seq(4, 4, 4))
    // already as wide as N: the conditional spread adds no exchange
    assert(pinsAt(2) {
      val wide = Parallelism.spread(df)
      assert(Parallelism.spreadIfNarrow(wide) eq wide)
      wide
    }.distinct == Seq(4))
    // the data-derived cap: min(N, ⌈nd/4096⌉), at least 1
    for ((nd, at64, at2) <- Seq((0L, 1, 1), (10L, 1, 1), (10000L, 3, 3), (1L << 30, 4, 4)))
      assert(pinsAt(64)(Parallelism.capped(df, nd, col("id"))) == Seq(at64) &&
        pinsAt(2)(Parallelism.capped(df, nd, col("id"))) == Seq(at2), s"nd = $nd")
  }

  test("pinned queries plan N at every pin") {
    // one query per pin site at least: together they reach every pin
    // in src/main except the exact-CDF caps (next test) and
    // minhashPairsML, which no query calls
    val queries = Seq("x_adamic_adar", "x_bigram_nll", "x_boilerplate", "x_bootstrap",
      "x_bpe_merges", "x_bpe_merges_vocab", "x_bpe_train_encode", "x_bpe_train_ids",
      "x_containment", "x_contamination", "x_cuped_multi", "x_curation_funnel",
      "x_editdist_join", "x_hard_negatives", "x_hard_negatives_ivf", "x_kmeans",
      "x_local_clustering", "x_minhash_pairs", "x_ngram_freq", "x_pca_outliers", "x_pmi",
      "x_rag_chunks", "x_seq_pack_bpe", "x_setsim_join", "x_simhash_pairs",
      "x_sketch_rollup", "x_source_kl", "x_span_scrub", "x_triangles",
      "x_winsorize_sketch", "x_zone_scan")
    val builds = queries.map(q => q -> (() => SparkEntry.queries(q)(spark, sfDir))) :+
      ("Dedup.minhashPairsML" -> (() => Dedup.minhashPairsML(corpus, "id", "text", 0.6)))
    assertWidths(builds, Map(64 -> 4, 2 -> 4))
  }

  test("the exact-CDF family's pins are capped by the distinct-value total") {
    // 10,000 distinct values in two groups: ⌈10000/4096⌉ = 3 tasks,
    // fewer than N = 4, at either shuffle-partition setting
    val values = spark.range(10000).select((col("id") % 2).as("g"),
      (col("id") * 0.5).as("v"))
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "ksTest" -> (() => Stats.ksTest(values, "v", col("g") === 0)),
      "exactQuantiles" -> (() => Stats.exactQuantiles(values, "v", Seq(0.5))),
      "groupedExactQuantiles" -> (() =>
        Stats.groupedExactQuantiles(values, "g", "v", Seq(0.5))))
    assertWidths(builds, Map(64 -> 3, 2 -> 3))
  }

  test("the partition-count sources are read only in Parallelism.scala") {
    // .repartition( calls that set an output FILE count, not a stage's
    // parallelism: they keep their literal or computed counts
    val fileCounts = Map(
      "Compaction.scala" -> 2, // compactParquet's target file count, per table and per partition dir
      "TextDocs.scala" -> 2) // the x_compaction / x_compact_partitioned fragment writes
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.exists(_.getName == "Parallelism.scala"),
      "src/main/scala/**/Parallelism.scala not found")
    val hits = files.filter(_.getName != "Parallelism.scala").flatMap { f =>
      val text = { val s = scala.io.Source.fromFile(f, "UTF-8"); try s.mkString finally s.close() }
      val sources = Seq("defaultParallelism", "numShufflePartitions")
        .filter(text.contains).map(t => s"${f.getPath}: $t")
      val repartitions = raw"\.repartition\(".r.findAllIn(text).size
      val allowed = fileCounts.getOrElse(f.getName, 0)
      sources ++ (if (repartitions != allowed)
        Seq(s"${f.getPath}: $repartitions .repartition( calls, $allowed allowed") else Nil)
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
