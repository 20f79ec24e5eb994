package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestSparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, GraphTraversal, Hits, KCore, LabelPropagation, PageRank}

/** The seven iterative graph entry points share one round driver: their
  * jobs per call stay pinned, no explicit cache outlives a call, the
  * reliable-checkpoint path gives the local path's answer (a rejected
  * input leaves no cache either), and Dedup's connected components fail
  * loudly when the round cap is too small. */
class FixedPointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Path 1-2-3 with chord 1-3, triangle 4-5-6 off 3, island 9-10. */
  private def graph: DataFrame = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (5L, 6L), (6L, 4L), (1L, 3L), (9L, 10L)).toDF("s", "d")
  private def seeds: DataFrame = Seq(1L).toDF("n")

  /** Run `body` with a reliable checkpoint dir set, then restore the
    * shared session to local checkpoints and delete the dir. */
  private def reliably[A](body: => A): A = {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_fixedpoint_ckpt")
    sc.setCheckpointDir(dir.toString)
    try body
    finally {
      GraftTestSparkAccess.clearCheckpointDir(sc)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit
    }
  }

  // (entry point, reliable checkpoints, jobs per call at the commit
  // before the shared driver, the call); a call's jobs include
  // collecting its result
  private val pinned: Seq[(String, Boolean, Int, () => DataFrame)] = Seq(
    ("Hits.scoresConverged", false, 54,
      () => Hits.scoresConverged(graph, "s", "d", iters = 3)._1),
    ("Hits.scoresConverged earlyStop", false, 84,
      () => Hits.scoresConverged(graph, "s", "d", iters = 5, earlyStop = true)._1),
    ("KCore.kCoreConverged", false, 17,
      () => KCore.kCoreConverged(graph, "s", "d", k = 2, rounds = 3)._1),
    ("KCore.kCoreConverged earlyStop", false, 20,
      () => KCore.kCoreConverged(graph, "s", "d", k = 2, rounds = 10, earlyStop = true)._1),
    ("LabelPropagation.communitiesConverged", false, 17,
      () => LabelPropagation.communitiesConverged(graph, "s", "d", iters = 3)._1),
    ("LabelPropagation.communitiesConverged directed earlyStop", false, 49,
      () => LabelPropagation.communitiesConverged(graph, "s", "d", iters = 5,
        directed = true, earlyStop = true)._1),
    ("PageRank.ranks", false, 28,
      () => PageRank.ranks(graph, "s", "d", iters = 3)),
    ("PageRank.trustRanks", false, 30,
      () => PageRank.trustRanks(graph, "s", "d", seeds, "n", iters = 3)),
    ("GraphTraversal.bfsHops", false, 19,
      () => GraphTraversal.bfsHops(graph, "s", "d", seeds, "n", maxHops = 3)),
    ("GraphTraversal.bfsHops reliable", true, 23,
      () => GraphTraversal.bfsHops(graph, "s", "d", seeds, "n", maxHops = 3)),
    ("Dedup.dropNearDuplicates", false, 22,
      () => Dedup.dropNearDuplicates((1L to 12L).toDF("doc_id"), "doc_id",
        Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L)).toDF("ida", "idb"))))

  test("jobs per call stay at or below the pinned counts; no cache outlives a call") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val failures = pinned.flatMap { case (name, reliable, maxJobs, call) =>
      def measure(): (Int, Int) = {
        GraftTestSparkAccess.waitListenerBus(sc)
        val baseline = GraftTestSparkAccess.explicitPersistCount(sc)
        jobs.set(0)
        sc.addSparkListener(listener)
        try {
          val out = call()
          val leaked = GraftTestSparkAccess.explicitPersistCount(sc) - baseline
          out.collect()
          GraftTestSparkAccess.waitListenerBus(sc)
          (jobs.get, leaked)
        } finally sc.removeSparkListener(listener)
      }
      val (n, leaked) = if (reliable) reliably(measure()) else measure()
      info(s"$name: $n jobs (pinned $maxJobs)")
      (if (n > maxJobs) Seq(s"$name: $n jobs > $maxJobs") else Nil) ++
        (if (leaked != 0) Seq(s"$name: $leaked explicit caches left after return") else Nil)
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("a rejected input releases the frames persisted before the check") {
    val sc = spark.sparkContext
    val calls: Seq[(String, () => Any)] = Seq(
      "Hits.scoresConverged on an empty edge set" -> (() =>
        Hits.scoresConverged(graph.limit(0), "s", "d", iters = 3)),
      "PageRank.trustRanks with no seed in the graph" -> (() =>
        PageRank.trustRanks(graph, "s", "d", Seq(99L).toDF("n"), "n", iters = 3)))
    calls.foreach { case (name, call) =>
      val baseline = GraftTestSparkAccess.explicitPersistCount(sc)
      intercept[IllegalArgumentException](call())
      val leaked = GraftTestSparkAccess.explicitPersistCount(sc) - baseline
      assert(leaked == 0, s"$name: $leaked explicit caches left after the error")
    }
  }

  test("reliable-checkpoint path equals the local path") {
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    // (result rows, (roundsRun, converged) where the entry point reports it)
    val calls: Seq[(String, () => (Seq[Row], Any))] = Seq(
      "Hits.scoresConverged" -> (() => {
        val (df, r, c) = Hits.scoresConverged(graph, "s", "d", iters = 4, earlyStop = true)
        (rows(df), (r, c))
      }),
      "KCore.kCoreConverged earlyStop" -> (() => {
        val (df, r, c) = KCore.kCoreConverged(graph, "s", "d", k = 2, rounds = 10,
          earlyStop = true)
        (rows(df), (r, c))
      }),
      "LabelPropagation.communitiesConverged directed earlyStop" -> (() => {
        val (df, r, c) = LabelPropagation.communitiesConverged(graph, "s", "d",
          iters = 6, directed = true, earlyStop = true)
        (rows(df), (r, c))
      }),
      "PageRank.trustRanks" -> (() =>
        (rows(PageRank.trustRanks(graph, "s", "d", seeds, "n", iters = 3)), ())),
      "GraphTraversal.bfsHops" -> (() =>
        (rows(GraphTraversal.bfsHops(graph, "s", "d", seeds, "n", maxHops = 4)), ())))
    calls.foreach { case (name, call) =>
      val local = call()
      assert(local._1.nonEmpty, s"$name: empty local result")
      val rel = reliably(call())
      assert(rel == local, s"$name: reliable $rel != local $local")
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("dropNearDuplicates fails loudly when a component outgrows the round cap") {
    // chain 1-20-21-...-28-2: ten hops from the minimum id 1 to doc 2
    val chain = 1L +: (20L to 28L) :+ 2L
    val docs = chain.sorted.toDF("doc_id")
    val pairs = chain.zip(chain.tail).toDF("ida", "idb")
    val err = intercept[Dedup.ComponentsNotConverged] {
      Dedup.dropNearDuplicates(docs, "doc_id", pairs)
    }
    assert(err.iterations == 8 && err.getMessage.contains("raise `iterations`"))
    assert(Dedup.dropNearDuplicates(docs, "doc_id", pairs, iterations = 12)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }
}
