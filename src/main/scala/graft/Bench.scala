package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Sessions, Tables}

/** Benchmark main: times every declared query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and writes the per-query map to
  * SPARK_GRAFT_BENCH_OUT (default bench_out.json).
  *
  * Protocol: touch every table once (page cache and `Tables.load`'s
  * schema cache warm), run one throwaway `SparkEntry.entry` query, then
  * run [[Rounds]] rounds. Each round visits every timed entry once, in
  * its own fixed-seed shuffled order. A sample is one `noop`-format
  * write, so the whole plan executes (`count()` would let Catalyst prune
  * projections and skip sorts); it records wall seconds and process CPU
  * seconds. The number of record is the minimum wall sample: the plan is
  * the same in every round, only first-execution cost and interference
  * vary. A failure on any sample records -1 and lists the entry under
  * `failed`, so a broken query can't pass for a fast one.
  *
  * Usage: runMain graft.Bench [name ...] — names restrict the sweep to
  * those entries; an unknown name fails the run.
  */
object Bench {
  val Rounds = 3

  type Query = (SparkSession, String) => DataFrame

  /** One entry's samples, in round order; -1 marks a failed sample. */
  final case class Result(name: String, wall: Seq[Double], cpu: Seq[Double]) {
    def failed: Boolean = wall.exists(_ < 0)
    def value: Double = if (failed) -1.0 else wall.min
  }

  /** The file artifact and the last two stdout lines. */
  final case class Report(artifact: String, heaviest: String, summary: String)

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Warm up, then time `entries` over [[Rounds]] shuffled rounds.
    * Results come back sorted by name. */
  def sweep(spark: SparkSession, sfDir: String, entries: Seq[(String, Query)]): Seq[Result] = {
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    def sample(name: String, fn: Query): (Double, Double) = {
      val (t0, c0) = (System.nanoTime(), cpuBean.getProcessCpuTime)
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, (cpuBean.getProcessCpuTime - c0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          (-1.0, -1.0)
      }
    }
    val sorted = entries.sortBy(_._1)
    val rng = new scala.util.Random(0x9E3779B97F4A7C15L)
    val rounds = (1 to Rounds).map(_ => rng.shuffle(sorted).map { case (n, fn) => n -> sample(n, fn) }.toMap)
    sorted.map { case (name, _) =>
      val r = Result(name, rounds.map(_(name)._1), rounds.map(_(name)._2))
      System.err.println(f"[bench] $name%-28s ${r.value}%8.3f s  wall ${fmt(r.wall, "/")}  cpu ${fmt(r.cpu, "/")}")
      r
    }
  }

  private def fmt(xs: Seq[Double], sep: String): String = xs.map(x => f"$x%.3f").mkString(sep)

  private def quoted(s: String): String = "\"" + s + "\""

  /** Render `results` as the artifact line, the `heaviest_s` line (the
    * 20 heaviest entries in at most 600 chars, the lightest dropped
    * first if names run long) and the compact summary line, whose
    * `cpu_s` sums each good entry's min CPU sample. */
  def render(results: Seq[Result], sfDir: String, outPath: String): Report = {
    val good = results.filterNot(_.failed)
    val total = good.map(_.value).sum
    val cpuTotal = good.map(_.cpu.min).sum
    val failed = results.filter(_.failed).map(r => quoted(r.name))
    def obj(key: String, f: Result => String): String =
      results.map(r => quoted(r.name) + ":" + f(r)).mkString(s""""$key":{""", ",", "}")
    val failedJson = if (failed.isEmpty) "" else failed.mkString(""","failed":[""", ",", "]")
    val artifact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",${obj("queries", r => f"${r.value}%.3f")}$failedJson,""" +
        s"""${obj("samples", r => "[" + fmt(r.wall, ",") + "]")},""" +
        s"""${obj("cpu_s", r => "[" + fmt(r.cpu, ",") + "]")},"sf":"$sfDir"}"""
    val heaviest = Iterator.iterate(good.sortBy(-_.value).take(20))(_.init)
      .map(_.map(r => quoted(r.name) + f":${r.value}%.2f").mkString("""{"heaviest_s":{""", ",", "}}"))
      .find(_.length <= 600).get
    val summary =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_queries":${results.size},""" +
        f""""n_failed":${failed.size},"cpu_s":$cpuTotal%.3f,"detail":"$outPath"}"""
    Report(artifact, heaviest, summary)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val timed = SparkEntry.queries ++ SparkEntry.benchOnly
    val unknown = args.filterNot(timed.contains)
    require(unknown.isEmpty, s"unknown bench entries: ${unknown.mkString(", ")}")
    val entries = if (args.isEmpty) timed.toSeq else args.toSeq.distinct.map(n => n -> timed(n))
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus, appName = "graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val report = render(sweep(spark, sfDir, entries), sfDir, outPath)
    // the file is authoritative: a reader that keeps only a 2000-char
    // tail of stdout cannot see the per-query map
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (report.artifact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    // stop Spark BEFORE printing: anything it writes to stdout while
    // shutting down would land after the summary, which must be the
    // last stdout line
    spark.stop()
    println(report.heaviest)
    println(report.summary)
    System.out.flush()
  }
}
