package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.{ScopedConf, Sessions, Tables}
import graft.jobs.MetadataJob
import graft.operators.GraphExpansion
import graft.sources.CsvGraphStage

/** One workload's operations, run one at a time by the closed loop. */
trait Workload {
  /** Untimed reads that warm file handles and footers before the warm pass. */
  def touch(): Unit
  /** The operations of one pass, in run order. */
  def pass(rng: Random): Seq[String]
  def run(op: String, opId: Int, t: Tracer): Unit
  /** Output checks after a pass: named facts, and the failures among them. */
  def check(): (Map[String, Any], Seq[String]) = (Map.empty, Nil)
}

/** Query operations: build the DataFrame through the public query entry
  * point, then execute the whole plan with a noop write (as graft.Bench
  * does, so no projection or sort is pruned away). */
final class Queries(spark: SparkSession, dir: String, names: Seq[String]) extends Workload {
  private val defs = SparkEntry.queries
  require(names.forall(defs.contains), s"unknown query in ${names.mkString(",")}")

  def touch(): Unit = Tables.names.foreach(n => Tables.load(spark, dir, n).count())
  def pass(rng: Random): Seq[String] = rng.shuffle(names)

  def run(op: String, opId: Int, t: Tracer): Unit = {
    val df = t.layer("construct", opId)(defs(op)(spark, dir))
    t.layer("execute", opId)(df.write.format("noop").mode("overwrite").save())
  }
}

/** The paper's job: one operation is one `MetadataJob.launch` over the
  * generated catalog, publishing in chunked mode into a counting
  * transport. `expected` holds the generator's node and relation counts. */
final class MetadataPush(spark: SparkSession, catalog: String, stage: String,
                         expected: (Long, Long)) extends Workload {
  private val nodeDir = s"$stage/nodes"
  private val relationDir = s"$stage/relations"
  private val conf = ScopedConf(
    "extractor.csv.path" -> catalog,
    "loader.csv.node_dir" -> nodeDir,
    "loader.csv.relation_dir" -> relationDir,
    "publisher.awssqs.queue_url" -> "perfbench://metadata",
    "publisher.awssqs.chunked" -> "true")
  private var transport: CountingTransport = _
  private var firstDigest: Option[Long] = None

  def touch(): Unit = ()
  def pass(rng: Random): Seq[String] = Seq("launch")

  def run(op: String, opId: Int, t: Tracer): Unit = {
    transport = new CountingTransport
    val job = new MetadataJob(spark, conf, transport)
    if (!t.layers) job.launch()
    else {
      // the steps of MetadataJob.launch, one span each
      val rows = t.layer("extract", opId)(job.extract())
      val tables = t.layer("expand", opId)(GraphExpansion.tableMetadata(spark, rows))
      t.layer("stage", opId) {
        CsvGraphStage.writeNodes(GraphExpansion.nodes(spark, tables), nodeDir)
        CsvGraphStage.writeRelations(GraphExpansion.relations(spark, tables), relationDir)
      }
      t.layer("publish", opId)(job.publishStaged())
    }
  }

  /** Data rows in the staged CSV files (every file repeats the header). */
  private def staged(dir: String): (Long, Long) = {
    val walk = Files.walk(Paths.get(dir))
    val files =
      try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      finally walk.close()
    val rows = files.map { p =>
      val lines = Files.lines(p)
      try math.max(0L, lines.count() - 1) finally lines.close()
    }.sum
    (rows, files.map(Files.size).sum)
  }

  override def check(): (Map[String, Any], Seq[String]) = {
    val c = transport.counters
    transport.close()
    val (nodes, nodeBytes) = staged(nodeDir)
    val (relations, relationBytes) = staged(relationDir)
    val digest = c.digest.get
    if (firstDigest.isEmpty) firstDigest = Some(digest)
    val facts = Map[String, Any](
      "messages" -> c.messages.get, "message_bytes" -> c.bytes.get,
      "max_message_bytes" -> c.maxBytes.get, "oversize_messages" -> c.oversize.get,
      "published_nodes" -> c.nodeRows.get, "published_relations" -> c.relationRows.get,
      "staged_nodes" -> nodes, "staged_relations" -> relations,
      "stage_bytes" -> (nodeBytes + relationBytes), "digest" -> digest.toHexString)
    val failures = Seq(
      "a message exceeds 250 KiB" -> (c.oversize.get > 0),
      s"published nodes ${c.nodeRows.get} != staged $nodes" -> (c.nodeRows.get != nodes),
      s"published relations ${c.relationRows.get} != staged $relations" -> (c.relationRows.get != relations),
      s"staged nodes $nodes != generated ${expected._1}" -> (nodes != expected._1),
      s"staged relations $relations != generated ${expected._2}" -> (relations != expected._2),
      "row digest differs from the first pass" -> !firstDigest.contains(digest)
    ).collect { case (msg, true) => msg }
    (facts, failures)
  }
}

/** Benchmark run: set up (build the session, touch the inputs, run the
  * untimed warm passes), then run passes in a closed loop until `seconds`
  * have elapsed. With trace=1, untraced and traced passes alternate so
  * the traced run also reports its own overhead. Writes a JSON artifact
  * with every pass, operation, span, job and stage.
  *
  * Arguments are key=value: workload, seed, seconds, trace, cores, out,
  * warm (the number of untimed passes in the session), and data + names +
  * verify (query workloads: tables, queries, and where graft.Verify writes
  * its outputs) or catalog + stage + nodes + relations (metadata_push).
  */
object Harness {
  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val cores = opt("cores").toInt
    // A query workload's first warm pass is graft.Verify over its
    // queries: it builds the engine's session, writes each query's output
    // for the oracle compare, and stops the session. The JVM stays warm
    // (JIT, generated-code cache) for the session the timed passes use.
    opt.get("verify").foreach(out => graft.Verify.main(Array(opt("data"), out, opt("names"))))
    val spark = Sessions.configure(SparkSession.builder().master(s"local[$cores]"),
      shufflePartitions = cores, appName = "perfbench").getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val workload: Workload = opt("workload") match {
      case "metadata_push" => new MetadataPush(spark, opt("catalog"), opt("stage"),
        (opt("nodes").toLong, opt("relations").toLong))
      case _ => new Queries(spark, opt("data"), opt("names").split(",").toSeq)
    }
    val tracer = new Tracer(sc)
    val probe = new Probe
    val rng = new Random(opt("seed").toLong)
    var nextOp = 0
    val passes = ArrayBuffer.empty[Map[String, Any]]

    def runPass(kind: String): Unit = {
      val traced = kind == "traced"
      if (traced) {
        probe.clear()
        sc.addSparkListener(probe)
        spark.listenerManager.register(probe)
        tracer.layers = true
      }
      val ops = ArrayBuffer.empty[Map[String, Any]]
      val cpu0 = cpuBean.getProcessCpuTime
      val start = Clock.now()
      tracer.span("pass") {
        workload.pass(rng).foreach { name =>
          val id = nextOp
          nextOp += 1
          val t0 = Clock.now()
          val error =
            try { tracer.span(name, id)(workload.run(name, id, tracer)); None }
            catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
          ops += Map("id" -> id, "name" -> name, "start" -> t0, "end" -> Clock.now(), "error" -> error)
        }
      }
      val end = Clock.now()
      val cpu = cpuBean.getProcessCpuTime - cpu0
      if (traced) {
        tracer.layers = false
        PerfbenchAccess.drainListenerBus(sc)
        sc.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
      }
      // live heap: what survives a full collection after the pass. The
      // first collection lets Spark's ContextCleaner drop the blocks of
      // unreachable broadcasts and shuffles; the second frees them.
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val (facts, failures) = workload.check()
      val observed = if (!traced) Map.empty[String, Any] else probe.synchronized(Map(
        "jobs" -> probe.jobs.values.map(j => Map("id" -> j.id, "span" -> j.span,
          "start" -> j.start, "end" -> j.end, "name" -> j.name)).toList,
        "stages" -> probe.stages.values.map { s =>
          val ms = s.taskMs.sorted
          Map("id" -> s.id, "job" -> s.job, "name" -> s.name, "start" -> s.start,
            "end" -> s.end, "tasks" -> ms.size,
            "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
            "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
            "task_max_ms" -> ms.lastOption.getOrElse(0L),
            "task_median_ms" -> (if (ms.isEmpty) 0L else ms(ms.size / 2)))
        }.toList,
        "plans" -> probe.plans.map(p => Map("func" -> p.func,
          "optimization_ms" -> p.optimizationMs, "planning_ms" -> p.planningMs)).toList))
      passes += Map("kind" -> kind, "start" -> start, "end" -> end, "cpu_ns" -> cpu,
        "heap_bytes" -> heap, "ops" -> ops.toList, "facts" -> facts,
        "check_failures" -> failures) ++ observed
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val sessionNs = Clock.now() - jvmStart
    workload.touch()
    val touchedNs = Clock.now() - jvmStart
    (1 to opt("warm").toInt).foreach(_ => runPass("warm"))
    val setupNs = Clock.now() - jvmStart

    val seconds = opt("seconds").toDouble
    val timedStart = Clock.now()
    def elapsed = (Clock.now() - timedStart) / 1e9
    // at least two timed passes: with one, a pass that takes about
    // `seconds` would make the pass count, and so wall_s, flip between runs.
    // A traced run brackets every traced pass with untraced ones; the
    // first untraced pass absorbs the tail of the warm-up.
    if (opt("trace") == "1") {
      runPass("timed")
      do { runPass("traced"); runPass("timed") } while (elapsed < seconds)
    } else {
      do runPass("timed") while (elapsed < seconds || passes.count(_("kind") == "timed") < 2)
    }

    val conf = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    spark.stop()

    val artifact = Map(
      "setup_ns" -> setupNs,
      "session_ns" -> sessionNs,
      "touched_ns" -> touchedNs,
      "cores" -> cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_conf" -> conf,
      "passes" -> passes.toList,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start" -> s.start, "end" -> s.end)).toList)
    Files.writeString(Paths.get(opt("out")), Json(artifact))
  }
}
