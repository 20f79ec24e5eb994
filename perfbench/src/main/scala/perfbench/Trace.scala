package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with nanoTime resolution, so harness
  * spans and Spark's millisecond event times share one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
}

final class Span(val id: Int, val parent: Int, val name: String, val op: Int,
                 val start: Long, var end: Long = 0L)

/** Spans kept in memory for the whole run and written out at exit.
  *
  * Pass and operation spans are recorded on every pass: they are the
  * end-to-end measurement itself. Layer spans (construct, execute, the
  * metadata job's steps) are recorded only while `layers` is on, and the
  * innermost open span's id is published as a Spark local property so
  * the listener can attach each job to the span that submitted it.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  var layers = false
  private var open: List[Span] = Nil

  def span[T](name: String, op: Int = -1)(body: => T): T = {
    val s = new Span(spans.size, open.headOption.fold(-1)(_.id), name, op, Clock.now())
    spans += s
    open = s :: open
    if (layers) sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    finally {
      s.end = Clock.now()
      open = open.tail
      if (layers) sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** A layer span when tracing is on, the bare call otherwise. */
  def layer[T](name: String, op: Int)(body: => T): T =
    if (layers) span(name, op)(body) else body
}

object Tracer {
  val SpanKey = "perfbench.span"
}

final case class JobRec(id: Int, span: Int, start: Long, var end: Long, name: String)

final class StageRec(val id: Int, val job: Int) {
  var name = ""
  var start, end = 0L
  val taskMs = ArrayBuffer.empty[Long]
  var runMs, cpuNs, gcMs, shuffleBytes, spillBytes = 0L
}

final case class PlanRec(func: String, optimizationMs: Long, planningMs: Long)

/** Observes Spark from outside: jobs, stages and tasks through the
  * scheduler's listener bus, Catalyst phase times through the session's
  * query execution listener. Registered only for traced passes. */
final class Probe extends SparkListener with QueryExecutionListener {
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageRec]
  val plans = ArrayBuffer.empty[PlanRec]
  private val jobOf = scala.collection.mutable.Map.empty[Int, Int]
  private val sqlCallSite = scala.collection.mutable.Map.empty[String, String]

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); plans.clear(); jobOf.clear(); sqlCallSite.clear()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlCallSite(s.executionId.toString) = s.description
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanKey).fold(-1)(_.toInt)
    // A job's call site ("count at Hits.scala:40") is its SQL execution's
    // description; AQE submits a query's stages from a pool thread, whose
    // own call site names no engine file. Outside SQL it is the result
    // stage's name, and the result stage has the job's highest stage id.
    val name = prop("spark.sql.execution.id").flatMap(sqlCallSite.get)
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, span, e.time * 1000000L, 0L, name)
    e.stageIds.foreach(jobOf(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  private def stage(id: Int): StageRec =
    stages.getOrElseUpdate(id, new StageRec(id, jobOf.getOrElse(id, -1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stage(e.stageId).taskMs += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stage(si.stageId)
    s.name = si.name
    s.start = si.submissionTime.getOrElse(0L) * 1000000L
    s.end = si.completionTime.getOrElse(0L) * 1000000L
    val m = si.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  private def record(func: String, qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).fold(0L)(s => s.endTimeMs - s.startTimeMs)
    plans += PlanRec(func, ms("optimization"), ms("planning"))
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, error: Exception): Unit = record(func, qe)
}

/** Minimal JSON writer for the run artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
