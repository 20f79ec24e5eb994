package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.core.ScopedConf
import graft.operators.GraphExpansion
import graft.sources.{CsvGraphStage, MetadataSource, SqsPublisher}

/** Job orchestration (SURVEY §2.A rows C1-C3, §3): the reference's
  * extract → group → expand → stage-CSV → publish lifecycle
  * (job/sample_mysql_aws_sqs_job.py:38-82, customized_job.py:53-92)
  * as one Spark plan cut once after expansion, with two stage writes
  * and the publish.
  *
  * Config contract (dotted scopes, mirroring the reference's):
  *   extractor.jdbc.url / extractor.jdbc.query   — or —
  *   extractor.csv.path                          (pre-extracted rows)
  *   loader.csv.node_dir / loader.csv.relation_dir
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
    * tables are cut once with a lazy `localCheckpoint`: the node write
    * stores them and the relation write reads them back instead of
    * re-scanning and re-aggregating the catalog. The cut is released
    * after the relation write, also when a write fails. */
  def launch(): Unit =
    try {
      val loader = conf.scoped("loader.csv")
      val tables = GraphExpansion.tableMetadata(spark, extract()).localCheckpoint(false)
      try {
        CsvGraphStage.writeNodes(GraphExpansion.nodes(spark, tables), loader("node_dir"))
        CsvGraphStage.writeRelations(GraphExpansion.relations(spark, tables), loader("relation_dir"))
      } finally release(tables)
      publishStaged()
      succeeded += 1
      emit("success")
    } catch {
      case e: Throwable =>
        failed += 1
        emit("fail")
        throw e
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
