package graft.jobs

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.core.ScopedConf
import graft.operators.GraphExpansion
import graft.sources.{CsvGraphStage, MetadataSource, SqsPublisher}

/** Job orchestration (SURVEY §2.A rows C1-C3, §3): the reference's
  * extract → group → expand → stage-CSV → publish lifecycle
  * (job/sample_mysql_aws_sqs_job.py:38-82, customized_job.py:53-92)
  * as one Spark plan cut once after expansion, two stage writes that
  * run at the same time, and the publish.
  *
  * Config contract (dotted scopes, mirroring the reference's):
  *   extractor.jdbc.url / extractor.jdbc.query   — or —
  *   extractor.csv.path                          (pre-extracted rows)
  *   loader.csv.node_dir / loader.csv.relation_dir (disjoint: neither
  *                                                  is in the other)
  *   publisher.awssqs.queue_url
  *   publisher.awssqs.message_group_id (default "metadata")
  *   publisher.awssqs.chunked          (default false = parity mode)
  *
  * Publisher-only mode (the reference's task=None path,
  * customized_job.py:33,66-71): call `publishStaged` to publish an
  * already-staged CSV dir pair without re-extracting.
  */
final class MetadataJob(spark: SparkSession, conf: ScopedConf,
                        transport: SqsPublisher.Transport,
                        metrics: MetricsSink = MetricsSink.Noop) {

  /** Metric hook (C2's statsd success/fail counters): incremented
    * counts readable by tests; the pluggable [[MetricsSink]] carries
    * the same events to an external system under the reference's
    * naming (customized_job.py:39-44,83-89). */
  @volatile var succeeded: Int = 0
  @volatile var failed: Int = 0

  /** `amundsen.databuilder.job.{identifier}` when job.is_statsd_enabled
    * is true (reference gating + prefix, customized_job.py:39-44).
    * Resolved lazily but emitted through [[emit]], which never throws:
    * metrics must not change job semantics — a statsd transport error
    * (or a missing identifier key) must neither fail a published job
    * nor mask the original ETL exception in the failure path. */
  private def metricPrefix: Option[String] = {
    val job = conf.scoped("job")
    if (job.getBoolean("is_statsd_enabled")) Some(s"amundsen.databuilder.job.${job("identifier")}")
    else None
  }

  private def emit(suffix: String): Unit =
    try metricPrefix.foreach(p => metrics.incr(s"$p.$suffix"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[metadata-job] metrics emission failed: ${e.getMessage}")
    }

  def extract(): DataFrame = {
    val ex = conf.scoped("extractor")
    (ex.get("jdbc.url"), ex.get("csv.path")) match {
      case (Some(url), _) => MetadataSource.jdbc(spark, url, ex("jdbc.query"))
      case (_, Some(path)) => MetadataSource.csvDir(spark, path)
      case _ => throw new IllegalArgumentException(
        "config needs extractor.jdbc.url or extractor.csv.path")
    }
  }

  /** Full lifecycle: extract → expand → stage → publish. The expanded
    * tables are cut once with a lazy `localCheckpoint`; the node and the
    * relation write then run at the same time, one on a thread `launch`
    * starts (it inherits the caller's Spark local properties — job
    * group, job tags, scheduler pool — and active session) and one on
    * the calling thread. Whichever reaches a cut partition first
    * computes and stores it; the other reads it back, so the catalog is
    * scanned and aggregated once.
    *
    * Failure contract: a node dir equal to, inside or containing the
    * relation dir is rejected before any job runs. Otherwise `launch`
    * waits for both writes whatever happens, then releases the cut; if
    * either failed it rethrows the first failure (the other one
    * suppressed) and publishes nothing. Every failure counts once in
    * `failed` and `emit("fail")`. */
  def launch(): Unit =
    try {
      val loader = conf.scoped("loader.csv")
      val (nodeDir, relationDir) = (loader("node_dir"), loader("relation_dir"))
      requireDisjoint(nodeDir, relationDir)
      val tables = GraphExpansion.tableMetadata(spark, extract()).localCheckpoint(false)
      try concurrently(
        CsvGraphStage.writeNodes(GraphExpansion.nodes(spark, tables), nodeDir),
        CsvGraphStage.writeRelations(GraphExpansion.relations(spark, tables), relationDir))
      finally release(tables)
      publishStaged()
      succeeded += 1
      emit("success")
    } catch {
      case e: Throwable =>
        failed += 1
        emit("fail")
        throw e
    }

  /** Both stage writes `overwrite` their dir while the other runs, so
    * the dirs (qualified as the writers qualify them) must not overlap. */
  private def requireDisjoint(nodeDir: String, relationDir: String): Unit = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    def qualified(dir: String) = { val p = new Path(dir); p.getFileSystem(hadoop).makeQualified(p) }
    def within(p: Path, ancestor: Path) =
      Iterator.iterate(p)(_.getParent).takeWhile(_ != null).contains(ancestor)
    val (n, r) = (qualified(nodeDir), qualified(relationDir))
    require(!within(n, r) && !within(r, n),
      s"loader.csv.node_dir ($n) and loader.csv.relation_dir ($r) must be disjoint " +
        "dirs, neither inside the other: the two stage writes overwrite them at the same time")
  }

  /** Run `a` on a thread started here and `b` on this one, and return
    * when both have ended. A thread created here inherits this thread's
    * Spark local properties and active session; a pool thread would
    * carry its creator's. The first failure is rethrown, the other one
    * added to it as suppressed. */
  private def concurrently(a: => Unit, b: => Unit): Unit = {
    val failures = new ConcurrentLinkedQueue[Throwable]
    def attempt(body: => Unit): Unit = try body catch { case e: Throwable => failures.add(e): Unit }
    val thread = new Thread(() => attempt(a), "metadata-job-stage")
    thread.setDaemon(true)
    thread.start()
    attempt(b)
    var interrupted = false
    while (thread.isAlive)
      try thread.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread.interrupt()
    failures.asScala.toList match {
      case Nil =>
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
    }
  }

  /** Drop the blocks a `localCheckpoint` stored: the cut's RDD, found
    * under the Dataset's plan. */
  private def release(cut: Dataset[_]): Unit =
    cut.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Publisher-only mode: read staged CSVs and publish. The raw CSV
    * frames go to the publisher (not the typed model) so JSON keys are
    * the staged headers verbatim — KEY/LABEL/START_KEY/… — matching
    * the reference's pandas row-dict serialization. */
  def publishStaged(): Unit = {
    val loader = conf.scoped("loader.csv")
    val pub = conf.scoped("publisher.awssqs")
    val nodes = CsvGraphStage.readStagedNodes(spark, loader("node_dir"))
    val rels = CsvGraphStage.readStagedRelations(spark, loader("relation_dir"))
    val queue = pub("queue_url")
    val gid = pub.getOrElse("message_group_id", SqsPublisher.DefaultGroupId)
    if (pub.getBoolean("chunked")) SqsPublisher.publishChunked(nodes, rels, transport, queue, gid)
    else SqsPublisher.publishParity(nodes, rels, transport, queue, gid)
  }
}

object MetadataJob {
  /** Job registry (C4's (dbType, queueType) → job dispatch,
    * config/docker.conf:3-14) — resolved from the same scoped conf. */
  def resolveJobKind(conf: ScopedConf, dbType: String, queueType: String): Option[String] =
    conf.get(s"database.$dbType.job.$queueType")
}
