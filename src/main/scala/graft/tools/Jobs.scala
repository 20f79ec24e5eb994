package graft.tools

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.core.{Sessions, Tables}
import graft.SparkEntry

/** Dev tool: run one declared query with a job/stage listener so the
  * per-job wall time inside a multi-job (iterative) query is visible —
  * the measurement §1 of the optimization guide asks for when the SQL
  * UI is disabled. Usage: runMain graft.tools.Jobs [-sf dir] name [...]
  */
object Jobs {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = args.toSeq match {
      case Seq("-sf", d, rest @ _*) => (d, rest)
      case rest                     => ("/root/testdata/sf0.1", rest)
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus, appName = "graft-jobs").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
    val stageCpu = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(), js.stageInfos.size))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stageTasks.put(si.stageId, (si.numTasks,
          si.taskMetrics.executorRunTime))
        // run vs cpu separates real compute from blocked/contended time
        stageCpu.put(si.stageId, si.taskMetrics.executorCpuTime / 1000000L)
        stageNames.put(si.stageId, si.name.take(90))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, nStages) =>
          val ms = (System.nanoTime() - t0) / 1e6
          lines.add(f"  job ${je.jobId}%3d  ${ms}%8.1f ms  ($nStages stages)")
        }
      }
    })

    names.foreach { n =>
      (1 to 2).foreach { pass =>
        // drain before clearing and after the pass: otherwise a pass's
        // last job can land in the next pass's count
        GraftListenerBus.drain(spark.sparkContext)
        lines.clear(); stageTasks.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries.getOrElse(n, SparkEntry.benchOnly(n))(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e9
        GraftListenerBus.drain(spark.sparkContext)
        println(f"== $n pass $pass: $total%.2f s, ${lines.size} jobs")
        lines.forEach(println(_))
        val byStage = stageTasks.values().toArray.toSeq
          .collect { case (t: Int, r: Long) => (t, r) }
        println(s"  stages: ${stageTasks.size}, tasks: ${byStage.map(_._1).sum}, " +
          s"executorRunTime sum: ${byStage.map(_._2).sum} ms")
        import scala.jdk.CollectionConverters._
        stageTasks.asScala.toSeq.sortBy(-_._2._2).take(12).foreach {
          case (sid, (nt, rt)) =>
            println(f"  stage $sid%4d run $rt%7d ms cpu ${stageCpu.getOrDefault(sid, -1L)}%7d ms tasks $nt%3d  ${stageNames.getOrDefault(sid, "?")}")
        }
      }
    }
    spark.stop()
  }
}
