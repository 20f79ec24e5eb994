package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestSparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.core.ScopedConf
import graft.jobs.MetadataJob
import graft.queries.GraphQ
import graft.sources.{CsvGraphStage, SqsPublisher}

/** One `MetadataJob.launch` expands the catalog once, leaves no cached
  * or checkpointed block behind, and reads its stage back with the
  * header it wrote. */
class MetadataJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def conf(dir: String, relationDir: String, chunked: Boolean = true) = ScopedConf(
    "extractor.csv.path" -> GraphQ.fixturePath,
    "loader.csv.node_dir" -> s"$dir/nodes",
    "loader.csv.relation_dir" -> relationDir,
    "publisher.awssqs.queue_url" -> "q://test",
    "publisher.awssqs.chunked" -> chunked.toString)

  // jobs of one chunked launch on the fixture at the commit before the
  // expansion was shared and the stage read back without inference
  private val ParentLaunchJobs = 11

  test("a launch fires at least 3 fewer jobs than before: expand once, no header inference") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val counts = (1 to 2).map { _ =>
      val dir = Files.createTempDirectory("graft_launch_jobs").toString
      val t = new SqsPublisher.Recording
      GraftTestSparkAccess.waitListenerBus(sc)
      jobs.set(0)
      sc.addSparkListener(listener)
      try new MetadataJob(spark, conf(dir, s"$dir/relationships"), t).launch()
      finally {
        GraftTestSparkAccess.waitListenerBus(sc)
        sc.removeSparkListener(listener)
      }
      assert(t.sent.nonEmpty)
      jobs.get
    }
    info(s"jobs per launch: ${counts.mkString(", ")} (before: $ParentLaunchJobs)")
    assert(counts.forall(_ <= ParentLaunchJobs - 3), counts)
  }

  /** Run `launch`, then check that no RDD it created is still persisted
    * or holds a block (the expansion's `localCheckpoint` included). */
  private def assertReleased(launch: => Unit): Unit = {
    val sc = spark.sparkContext
    val before = sc.emptyRDD[Int].id
    launch
    assert(sc.getPersistentRDDs.keys.forall(_ <= before),
      s"persisted after the launch: ${sc.getPersistentRDDs.keys.filter(_ > before)}")
    eventually(timeout(10.seconds), interval(50.millis)) {
      val blocks = GraftTestSparkAccess.rddBlocksAfter(sc, before)
      assert(blocks.isEmpty, s"blocks left after the launch: $blocks")
    }
  }

  test("no cache or checkpointed block outlives a launch, also when the relation write fails") {
    val dir = Files.createTempDirectory("graft_launch_release").toString
    assertReleased(new MetadataJob(spark, conf(dir, s"$dir/relationships"),
      new SqsPublisher.Recording).launch())

    // a relation dir under a regular file cannot be created: the node
    // write succeeds (and stores the cut), the relation write throws
    val blocker = Files.writeString(Path.of(dir, "blocker"), "")
    val t = new SqsPublisher.Recording
    val job = new MetadataJob(spark, conf(dir, s"$blocker/relationships"), t)
    assertReleased {
      intercept[Exception](job.launch())
    }
    assert(job.failed == 1 && t.sent.isEmpty)
    assert(Files.isDirectory(Path.of(dir, "nodes")))
  }

  test("a staged dir whose header differs from the written one fails the read; nothing is published") {
    val dir = Files.createTempDirectory("graft_stage_header").toString
    def write(rel: String, text: String): Unit = {
      val p = Path.of(dir, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text): Unit
    }
    write("nodes/LABEL=Table/part-00000.csv", "name,KEY\norders,mysql://main.shop/orders\n")
    write("relationships/TYPE=TABLE/part-00000.csv",
      "START_KEY,START_LABEL,END_KEY,END_LABEL,REVERSE_TYPE\n" +
        "mysql://main.shop,Schema,mysql://main.shop/orders,Table,TABLE_OF\n")
    def headerMismatch(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
        .exists(c => String.valueOf(c.getMessage).contains("CSV header does not conform to the schema"))

    for (chunked <- Seq(true, false)) {
      val t = new SqsPublisher.Recording
      val e = intercept[Exception] {
        new MetadataJob(spark, conf(dir, s"$dir/relationships", chunked), t).publishStaged()
      }
      assert(headerMismatch(e), e)
      assert(t.sent.isEmpty, s"chunked=$chunked published ${t.sent.size} messages")
    }
    val e = intercept[Exception](CsvGraphStage.readNodes(spark, s"$dir/nodes").collect())
    assert(headerMismatch(e), e)
    // the relation dir carries the written header and reads back
    assert(CsvGraphStage.readRelations(spark, s"$dir/relationships").collect().length == 1)
  }
}
