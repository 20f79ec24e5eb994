package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestSparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.core.ScopedConf
import graft.jobs.MetadataJob
import graft.queries.GraphQ
import graft.sources.{CsvGraphStage, SqsPublisher}

/** One `MetadataJob.launch` expands the catalog once, runs its two
  * stage writes at the same time under the caller's job group, leaves no
  * cached or checkpointed block or running job behind, and reads its
  * stage back with the header it wrote. */
class MetadataJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def conf(dir: String, relationDir: String, chunked: Boolean = true,
                   nodeDir: Option[String] = None) = ScopedConf(
    "extractor.csv.path" -> GraphQ.fixturePath,
    "loader.csv.node_dir" -> nodeDir.getOrElse(s"$dir/nodes"),
    "loader.csv.relation_dir" -> relationDir,
    "publisher.awssqs.queue_url" -> "q://test",
    "publisher.awssqs.chunked" -> chunked.toString)

  // jobs of one chunked launch on the fixture at the commit before the
  // expansion was shared and the stage read back without inference
  private val ParentLaunchJobs = 11

  /** The job-start events `body` fires, `body`'s own listener-bus
    * backlog drained before and after. */
  private def jobStarts(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e): Unit
    }
    GraftTestSparkAccess.waitListenerBus(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      GraftTestSparkAccess.waitListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    starts.asScala.toSeq
  }

  test("a launch fires at least 3 fewer jobs than before: expand once, no header inference") {
    val counts = (1 to 2).map { _ =>
      val dir = Files.createTempDirectory("graft_launch_jobs").toString
      val t = new SqsPublisher.Recording
      val jobs = jobStarts(new MetadataJob(spark, conf(dir, s"$dir/relationships"), t).launch())
      assert(t.sent.nonEmpty)
      jobs.size
    }
    info(s"jobs per launch: ${counts.mkString(", ")} (before: $ParentLaunchJobs)")
    assert(counts.forall(_ <= ParentLaunchJobs - 3), counts)
  }

  test("every job of a launch, either stage write's included, carries the caller's job group") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft_launch_group").toString
    val t = new SqsPublisher.Recording
    sc.setJobGroup("g", "metadata push")
    val jobs =
      try jobStarts(new MetadataJob(spark, conf(dir, s"$dir/relationships"), t).launch())
      finally sc.clearJobGroup()
    assert(t.sent.nonEmpty && jobs.nonEmpty)
    val groups = jobs.map(e => Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    assert(groups.forall(_ == "g"), groups)
  }

  /** Run `launch`, then check that none of its jobs is still running and
    * no RDD it created is still persisted or holds a block (the
    * expansion's `localCheckpoint` included). */
  private def assertReleased(launch: => Unit): Unit = {
    val sc = spark.sparkContext
    val before = sc.emptyRDD[Int].id
    launch
    // a job still running has posted its start but not its end
    GraftTestSparkAccess.waitListenerBus(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"jobs running after the launch: ${sc.statusTracker.getActiveJobIds.toSeq}")
    assert(sc.getPersistentRDDs.keys.forall(_ <= before),
      s"persisted after the launch: ${sc.getPersistentRDDs.keys.filter(_ > before)}")
    eventually(timeout(10.seconds), interval(50.millis)) {
      val blocks = GraftTestSparkAccess.rddBlocksAfter(sc, before)
      assert(blocks.isEmpty, s"blocks left after the launch: $blocks")
    }
  }

  // also when the node write fails, and no job of the launch is left running
  test("no cache or checkpointed block outlives a launch, also when the relation write fails") {
    val dir = Files.createTempDirectory("graft_launch_release").toString
    assertReleased(new MetadataJob(spark, conf(dir, s"$dir/relationships"),
      new SqsPublisher.Recording).launch())

    // a dir under a regular file cannot be created: that write throws,
    // the other one succeeds (and stores or reads the cut)
    val blocker = Files.writeString(Path.of(dir, "blocker"), "")
    // (the failing write, its conf, the other write's dir)
    val failing = Seq(
      ("relation", conf(dir, s"$blocker/relationships", nodeDir = Some(s"$dir/nodes2")), "nodes2"),
      ("node", conf(dir, s"$dir/relationships2", nodeDir = Some(s"$blocker/nodes")), "relationships2"))
    for ((write, c, other) <- failing) {
      val t = new SqsPublisher.Recording
      val job = new MetadataJob(spark, c, t)
      assertReleased {
        intercept[Exception](job.launch())
      }
      assert(job.failed == 1 && job.succeeded == 0 && t.sent.isEmpty, s"$write write failing")
      // the other write had committed before the launch returned
      assert(Files.exists(Path.of(dir, other, "_SUCCESS")), s"$write write failing")
    }
  }

  test("a node dir equal to, inside or around the relation dir fails the launch before any job") {
    val dir = Files.createTempDirectory("graft_launch_overlap").toString
    val overlapping = Seq(
      s"$dir/stage" -> s"$dir/stage",
      s"$dir/stage" -> s"$dir/stage/",
      s"$dir/stage/nodes" -> s"$dir/stage",
      s"$dir/stage" -> s"file:$dir/stage/x/../relations")
    for ((nodeDir, relationDir) <- overlapping) {
      val t = new SqsPublisher.Recording
      val job = new MetadataJob(spark, conf(dir, relationDir, nodeDir = Some(nodeDir)), t)
      val jobs = jobStarts {
        val e = intercept[IllegalArgumentException](job.launch())
        assert(e.getMessage.contains("loader.csv.node_dir") &&
          e.getMessage.contains("loader.csv.relation_dir"), e.getMessage)
      }
      assert(jobs.isEmpty, s"$nodeDir / $relationDir: ${jobs.size} jobs")
      assert(job.failed == 1 && job.succeeded == 0 && t.sent.isEmpty)
      assert(!Files.exists(Path.of(dir, "stage")))
    }
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
