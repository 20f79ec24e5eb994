package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestSparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Stats

/** The experimentation family reads its exact moments through one
  * kernel (`graft.operators.Moments`): degenerate inputs fail with the
  * operator's own guard, non-finite values never reach the moments,
  * no rewritten operator fires more jobs than before the kernel, and
  * the 6-dp contract is spelled out nowhere else in `src/main`. */
class MomentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 40 rows: arm A on odd i, three segments, look time t = i, three
    * arms for the multi-arm readout, strictly positive 6-dp values. */
  private def fixture: DataFrame = (1 to 40).map { i =>
    (s"s${i % 3}", Seq("c", "t1", "t2")(i % 3), i.toLong, i,
      (i * 37 % 23) + 0.5, (i * 13 % 17) + 1.25, (i * 7 % 11) + 2.0,
      (i * 5 % 13) + 1.125)
  }.toDF("g", "arm", "k", "t", "v", "x", "y2", "x2")
  private val armA = col("k") % 2 === 1

  /** Every operator whose moments the kernel reads or whose empty-input
    * message it reworded, called on `df` and collected. */
  private def members(df: DataFrame): Seq[(String, () => Any)] = Seq(
    "anovaF" -> (() => Stats.anovaF(df, "g", "v").collect()),
    "welchT" -> (() => Stats.welchT(df, "v", armA).collect()),
    "powerMde" -> (() => Stats.powerMde(df, "v", armA).collect()),
    "msprt" -> (() => Stats.msprt(df, "v", armA).collect()),
    "msprtCI" -> (() => Stats.msprtCI(df, "v", armA).collect()),
    "multiArm" -> (() => Stats.multiArm(df, "v", "arm", "c").collect()),
    "welchTByGroup" -> (() => Stats.welchTByGroup(df, "v", "g", armA).collect()),
    "groupSequential" -> (() => Stats.groupSequential(df, "v", armA, "t",
      Seq(lit(20), lit(40))).collect()),
    "cuped" -> (() => Stats.cuped(df, "v", "x", armA).collect()),
    "postStratifiedDiff" -> (() => Stats.postStratifiedDiff(df, "v", "g", armA).collect()),
    "cupedMulti" -> (() => Stats.cupedMulti(df, "v", Seq("x", "y2"), armA).collect()),
    "deltaRatioCI" -> (() => Stats.deltaRatioCI(df, "v", "x", armA).collect()),
    "cupedRatio" -> (() => Stats.cupedRatio(df, "v", "x", "y2", "x2", armA).collect()),
    "bootstrapMeanCIByGroup" -> (() =>
      Stats.bootstrapMeanCIByGroup(df, "g", "v", "k", b = 20).collect()))

  test("empty and all-NULL inputs fail with the operator's own guard, not the 6-dp message") {
    val empty = fixture.limit(0)
    val allNull = fixture.select(Seq("g", "arm", "k", "t").map(col) ++
      Seq("v", "x", "y2", "x2").map(c => lit(null).cast("double").as(c)): _*)
    val failures = Seq("empty" -> empty, "all-NULL" -> allNull).flatMap {
      case (what, df) => members(df).flatMap { case (op, call) =>
        try { call(); Seq(s"$op on $what input returned") }
        catch {
          case e: IllegalArgumentException =>
            val msg = e.getMessage
            if (!msg.contains(op) || msg.contains("6 decimal"))
              Seq(s"$op on $what input: $msg") else Nil
          case e: Throwable => Seq(s"$op on $what input threw ${e.getClass.getName}: " +
            e.getMessage)
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("anovaF: NaN and ±Inf rows leave the result bit-equal to the clean rows alone") {
    val clean = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++ Seq(2.0, 4.5, 4.0).map(("b", _)) ++
      Seq(4.0, 5.25, 6.0).map(("c", _))).toDF("g", "x")
    val dirty = clean.union(Seq(("a", Double.NaN), ("b", Double.PositiveInfinity),
      ("c", Double.NegativeInfinity)).toDF("g", "x"))
    val want = Stats.anovaF(clean, "g", "x").head()
    val got = Stats.anovaF(dirty, "g", "x").head()
    assert(got == want, s"$got != $want")
  }

  // jobs per call (result collected) on `fixture` at the commit before
  // the kernel
  private val jobsBefore: Map[String, Int] = Map(
    "anovaF" -> 2, "welchT" -> 2, "powerMde" -> 2, "msprt" -> 2, "msprtCI" -> 2,
    "multiArm" -> 2, "welchTByGroup" -> 2, "groupSequential" -> 2, "cuped" -> 2,
    "postStratifiedDiff" -> 2, "cupedMulti" -> 2, "deltaRatioCI" -> 2,
    "cupedRatio" -> 2, "bootstrapMeanCIByGroup" -> 3)

  test("no member fires more jobs per call than before the kernel") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val over = members(fixture).flatMap { case (op, call) =>
      call() // warm: the first call of a plan shape may compile classes
      GraftTestSparkAccess.waitListenerBus(sc)
      jobs.set(0)
      sc.addSparkListener(listener)
      try {
        call()
        GraftTestSparkAccess.waitListenerBus(sc)
      } finally sc.removeSparkListener(listener)
      info(s"$op: ${jobs.get} jobs (before the kernel ${jobsBefore(op)})")
      if (jobs.get > jobsBefore(op)) Seq(s"$op: ${jobs.get} > ${jobsBefore(op)}") else Nil
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("the 6-dp contract is spelled out only in Moments.scala") {
    val forbidden = Seq(
      "the decimal(18,6) cast" -> raw"""cast\(\s*"decimal\(18,\s*6\)"\s*\)""".r,
      "the =!= round(…, 6) sentinel" -> raw"=!=\s*round\(".r,
      "the streaming setScale(6, HALF_UP) grid" ->
        raw"setScale\(\s*6\s*,\s*java\.math\.RoundingMode\.HALF_UP".r)
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.exists(_.getName == "Moments.scala"), "src/main/scala/**/Moments.scala not found")
    val hits = for {
      f <- files if f.getName != "Moments.scala"
      text = { val s = scala.io.Source.fromFile(f, "UTF-8"); try s.mkString finally s.close() }
      (what, re) <- forbidden if re.findFirstIn(text).nonEmpty
    } yield s"${f.getPath}: $what"
    assert(hits.isEmpty, hits.mkString("; "))
  }
}
