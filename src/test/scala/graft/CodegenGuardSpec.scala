package graft

import java.sql.Timestamp

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StatefulSessions, TwsSessions}

/** Codegen-fallback regression net (round-9 verdict item 4): Spark
  * DEGRADES GRACEFULLY when generated code fails to compile — the
  * query still answers, through the interpreted path, with only a
  * WARN in the log. Nothing in the result-checking suites can catch
  * that: the round-8 incident (a `private` nested case class used as
  * a transformWithState state encoder made Janino reject the
  * generated projection — TwsSessions.TimerAt's scaladoc) cost an
  * order of magnitude on the state hot path while every assertion
  * stayed green. This suite runs the code paths that regressed under
  * a log capture and fails on ANY codegen-fallback event, so the next
  * `private` (or other Janino-hostile shape) on an encoder/expression
  * fails a TEST, not a benchmark three rounds later.
  */
class CodegenGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Capture WARN+ events whose message marks a codegen bailout. The
    * match set covers both fallback families: per-expression
    * interpreter fallback ("Expr codegen error ... falling back") and
    * whole-stage codegen bailout ("Whole-stage codegen disabled"). */
  private final class FallbackCapture extends AbstractAppender(
      "graft-codegen-guard", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m.contains("codegen error") || m.contains("falling back") ||
          m.contains("Whole-stage codegen disabled") ||
          m.contains("Failed to compile"))
        hits.add(s"${e.getLoggerName}: $m")
    }
  }

  private def withCapture[A](body: => A): Seq[String] = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootCfg = ctx.getConfiguration.getRootLogger
    val app = new FallbackCapture
    app.start()
    rootCfg.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try { body; () } finally {
      rootCfg.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    app.hits.toArray(Array.empty[String]).toSeq
  }

  test("state-encoder and streaming hot paths compile — zero interpreter fallbacks") {
    val hits = withCapture {
      // (1) the exact round-8 regression surface: the TimerAt product
      // encoder's generated projection (a re-`private`d TimerAt makes
      // Janino reject the generated accessor and this logs a fallback)
      Seq(TwsSessions.TimerAt(1L), TwsSessions.TimerAt(2L)).toDS()
        .map(t => t.atMs + 1).collect()
      // (2) the transformWithState session pipeline end-to-end on the
      // RocksDB store — the path whose state encoders regressed
      implicit val sqlCtx = spark.sqlContext
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val in = MemoryStream[StatefulSessions.Event]
      def sev(id: Long, minute: Int) = StatefulSessions.Event(
        id, Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
        1L, "a", 1.0)
      val withWm = in.toDS().withWatermark("ts", "10 minutes")
        .as[StatefulSessions.Event]
      val q = TwsSessions.closedSessions(withWm, gapMinutes = 30)
        .writeStream.format("memory").queryName("codegen_guard_out")
        .outputMode("append").start()
      try {
        in.addData(sev(1, 10), sev(2, 12))
        q.processAllAvailable()
        in.addData(sev(3, 50))
        q.processAllAvailable()
        assert(spark.table("codegen_guard_out").count() >= 1)
      } finally {
        q.stop()
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
    assert(hits.isEmpty,
      s"codegen fell back to the interpreted path:\n${hits.mkString("\n")}")
  }

  test("streaming experiment monitors' state encoders compile — zero interpreter fallbacks") {
    // the round-15 incident shape, now netted: TwsMsprt.MomentState and
    // TwsSrm.ArmCounts were `private case class`es, so Spark's generated
    // state (de)serializer could not reach their members and every state
    // read/write fell back to interpreted projection — 8 WARNs in the
    // test log, correctness untouched, invisible to every result
    // assertion. This runs both monitors end-to-end on the RocksDB
    // store under the capture and fails on ANY fallback event.
    import graft.streaming.{TwsCuped, TwsGroupSeq, TwsMsprt, TwsMultiArm, TwsPostStrat, TwsQuantileSegments, TwsSrm, TwsWelchSegments}
    val hits = withCapture {
      implicit val sqlCtx = spark.sqlContext
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val inM = MemoryStream[TwsMsprt.MetricObs]
      val inS = MemoryStream[TwsMsprt.MetricObs]
      val inP = MemoryStream[TwsPostStrat.StratumObs]
      val inC = MemoryStream[TwsCuped.CovariateObs]
      val inA = MemoryStream[TwsMultiArm.ArmObs]
      val inG = MemoryStream[TwsGroupSeq.LookObs]
      val inW = MemoryStream[TwsWelchSegments.SegObs]
      val inQ = MemoryStream[TwsQuantileSegments.QSegObs]
      val qM = TwsMsprt.monitor(inM.toDS(), tau2 = 4.0, alpha = 0.05)
        .writeStream.format("memory").queryName("codegen_guard_msprt")
        .outputMode("update").start()
      val qS = TwsSrm.monitor(inS.toDS())
        .writeStream.format("memory").queryName("codegen_guard_srm")
        .outputMode("update").start()
      val qP = TwsPostStrat.monitor(inP.toDS())
        .writeStream.format("memory").queryName("codegen_guard_poststrat")
        .outputMode("update").start()
      val qC = TwsCuped.monitor(inC.toDS())
        .writeStream.format("memory").queryName("codegen_guard_cuped")
        .outputMode("update").start()
      val qA = TwsMultiArm.monitor(inA.toDS(), controlArm = "c")
        .writeStream.format("memory").queryName("codegen_guard_multiarm")
        .outputMode("update").start()
      val qG = TwsGroupSeq.monitor(inG.toDS(), k = 2, plannedTotal = 48L)
        .writeStream.format("memory").queryName("codegen_guard_groupseq")
        .outputMode("update").start()
      val qW = TwsWelchSegments.monitor(inW.toDS())
        .writeStream.format("memory").queryName("codegen_guard_welchseg")
        .outputMode("update").start()
      val qQ = TwsQuantileSegments.monitor(inQ.toDS(), b = 20)
        .writeStream.format("memory").queryName("codegen_guard_qseg")
        .outputMode("update").start()
      try {
        val rows = (1 to 12).map(i => TwsMsprt.MetricObs(
          "m", (i % 5).toDouble + (if (i % 2 == 0) 1.5 else 0.0), i % 2 == 0))
        val srows = (1 to 12).map(i => TwsPostStrat.StratumObs(
          "m", if (i % 4 < 2) "x" else "y", (i % 5).toDouble, i % 2 == 0))
        inM.addData(rows: _*); qM.processAllAvailable()
        inM.addData(rows: _*); qM.processAllAvailable()
        inS.addData(rows: _*); qS.processAllAvailable()
        inS.addData(rows: _*); qS.processAllAvailable()
        inP.addData(srows: _*); qP.processAllAvailable()
        inP.addData(srows: _*); qP.processAllAvailable()
        val crows = (1 to 12).map(i => TwsCuped.CovariateObs(
          "m", (i % 5).toDouble, (i % 4).toDouble, i % 2 == 0))
        inC.addData(crows: _*); qC.processAllAvailable()
        inC.addData(crows: _*); qC.processAllAvailable()
        assert(spark.table("codegen_guard_msprt").count() >= 1)
        assert(spark.table("codegen_guard_srm").count() >= 1)
        assert(spark.table("codegen_guard_poststrat").count() >= 1)
        assert(spark.table("codegen_guard_cuped").count() >= 1)
        val arows = (1 to 12).map(i => TwsMultiArm.ArmObs(
          "m", (i % 5).toDouble, if (i % 2 == 0) "c" else "t"))
        inA.addData(arows: _*); qA.processAllAvailable()
        inA.addData(arows: _*); qA.processAllAvailable()
        assert(spark.table("codegen_guard_multiarm").count() >= 1)
        val grows = (1 to 12).map(i => TwsGroupSeq.LookObs(
          "m", if (i <= 6) 1 else 2, (i % 5).toDouble, i % 2 == 0))
        inG.addData(grows: _*); qG.processAllAvailable()
        inG.addData(grows: _*); qG.processAllAvailable()
        assert(spark.table("codegen_guard_groupseq").count() >= 1)
        val wrows = (1 to 12).map(i => TwsWelchSegments.SegObs(
          "m", if (i % 4 < 2) "x" else "y", (i % 5).toDouble, i % 2 == 0))
        inW.addData(wrows: _*); qW.processAllAvailable()
        inW.addData(wrows: _*); qW.processAllAvailable()
        assert(spark.table("codegen_guard_welchseg").count() >= 1)
        val qrows = (1 to 24).map(i => TwsQuantileSegments.QSegObs(
          "m", if (i % 4 < 2) "x" else "y", i.toLong, (i % 5).toDouble, i % 2 == 0))
        inQ.addData(qrows: _*); qQ.processAllAvailable()
        val qrows2 = (25 to 48).map(i => TwsQuantileSegments.QSegObs(
          "m", if (i % 4 < 2) "x" else "y", i.toLong, (i % 5).toDouble, i % 2 == 0))
        inQ.addData(qrows2: _*); qQ.processAllAvailable()
        assert(spark.table("codegen_guard_qseg").count() >= 1)
      } finally {
        qM.stop(); qS.stop(); qP.stop(); qC.stop(); qA.stop(); qG.stop(); qW.stop()
        qQ.stop()
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
    assert(hits.isEmpty,
      s"a monitor state encoder fell back to the interpreted path:\n${hits.mkString("\n")}")
  }

  test("native expression registry compiles under codegen — zero fallbacks") {
    // every graft native Expression in one sweep: a bad doGenCode (or a
    // compute helper made non-public) degrades to the interpreted path
    // with only a WARN — correct answers, 10-1000× slower, invisible to
    // the oracle gate. Split into a few narrow selects so the sweep
    // itself never trips the whole-stage 64KB method bailout.
    import org.apache.spark.sql.functions.{col, expr, struct}
    import graft.functions._
    val hits = withCapture {
      val df = Seq((1L, "the quick brown fox jumps", Array(0.5f, -0.25f, 0.125f),
          0.75, 3, 7))
        .toDF("id", "text", "vec", "d", "xi", "yi")
      val sh = ShingleHashes.shingleHashes(col("text"), 3)
      df.select(
        Fnv1a64.fnv64(col("text")).as("a1"),
        sh.as("a2"),
        ShingleStrings.shingleStrings(col("text"), 3).as("a3"),
        SimHash64.simhash64(sh).as("a4"),
        MinHashSignature.signature(sh, 8).as("a5"),
        UnicodeNormalize.nfc(col("text")).as("a6")).collect()
      df.select(
        CosineSimilarity.cosine(col("vec"), col("vec")).as("b1"),
        VectorFunctions.hyperplaneSignature(col("vec"), 4, 42L).as("b2"),
        RandomProjection.project(col("vec"), 4, 7L).as("b3"),
        QuantStats.stats(col("vec")).as("b4"),
        QuantizeVec.quantize(col("vec"), 1000).as("b5"),
        NearestCentroid.nearest(col("vec"), expr(
          "array(named_struct('cid', CAST(1 AS BIGINT), " +
            "'cv', array(CAST(0.1 AS FLOAT), CAST(0.2 AS FLOAT), CAST(0.3 AS FLOAT))))"))
          .as("b6")).collect()
      df.select(
        SortableDoubleBits.sortable(col("d")).as("c1"),
        ZOrder2.zorder(col("xi").cast("long"), col("yi").cast("long")).as("c2"),
        ChunkStrings.chunkStrings(col("text"), 5).as("c3"),
        ChunkHashes.chunkHashes(col("text"), 5).as("c4"),
        OverlapChunkStrings.overlapChunks(col("text"), 5, 3).as("c5"),
        RollingHashes.rollingHashes(col("text"), 4).as("c6"),
        HllRegister.registerCoords(col("id"), 9).as("c7"),
        CountMinBuckets.buckets(col("id"), 3, 64).as("c8")).collect()
      df.groupBy(col("id"))
        .agg(TopK.topK(struct(col("d"), col("id")), 2).as("t")).collect()
    }
    assert(hits.isEmpty,
      s"a native expression fell back to the interpreted path:\n${hits.mkString("\n")}")
  }

  test("operator surface at NON-DEFAULT parameters — zero fallbacks") {
    // the declared-queries sweep above runs every family at its query
    // defaults; this axis re-runs one representative per family at
    // aggressive parameters, because fallbacks can be PARAMETER-
    // dependent: an expression that codegens fine at width 3 can cross
    // the 64 KB generated-method limit at width 64 and silently drop to
    // interpreted mode (round-11 verdict item 2)
    import org.apache.spark.sql.functions.col
    import graft.functions._
    import graft.operators.Stats
    val hits = withCapture {
      // (1) the known depth hazard: the quantile family's bucket id
      // was a chained-when with one term per coarse boundary — ~1k
      // terms crossed the 64 KB method limit and the stage fell back
      // to interpreted eval (this test CAUGHT that live). Now a native
      // binary-search expression (CellBucket); 65536 values spread over
      // ~20 octaves occupy ~1.3k fine cells, so buckets=1024 drives
      // ~1k boundaries through it — zero fallbacks required
      val wide = (0 until 65536).map(i => (math.pow(2.0, i / 3276.8), i))
        .toDF("v", "t")
      Stats.equiDepthBins(wide, "v", "t", bins = 16, buckets = 1024)
        .collect()
      // (2) one representative per native-expression family, params
      // pushed well past the query defaults
      val df = Seq((1L, "the quick brown fox jumps over the lazy dog",
          Array.tabulate(64)(i => (i - 32) / 32.0f), 0.75))
        .toDF("id", "text", "vec", "d")
      val sh9 = ShingleHashes.shingleHashes(col("text"), 9)
      df.select(
        sh9.as("a1"),
        ShingleStrings.shingleStrings(col("text"), 2).as("a2"),
        MinHashSignature.signature(sh9, 128).as("a3"),
        SimHash64.simhash64(sh9).as("a4"),
        ChunkStrings.chunkStrings(col("text"), 64).as("a5"),
        ChunkHashes.chunkHashes(col("text"), 64).as("a6"),
        OverlapChunkStrings.overlapChunks(col("text"), 64, 16).as("a7"),
        RollingHashes.rollingHashes(col("text"), 12).as("a8")).collect()
      df.select(
        VectorFunctions.hyperplaneSignature(col("vec"), 32, 99L).as("b1"),
        RandomProjection.project(col("vec"), 16, 99L).as("b2"),
        QuantizeVec.quantize(col("vec"), 65535).as("b3"),
        HllRegister.registerCoords(col("id"), 14).as("b4"),
        CountMinBuckets.buckets(col("id"), 5, 4096).as("b5"),
        BootstrapWeights.weights(col("id"), 2000).as("b6")).collect()
      df.groupBy(col("id"))
        .agg(TopK.topK(col("d"), 1 << 10).as("t1"),
          KllQuantiles.kllQuantiles(col("d"),
            Seq(0.1, 0.5, 0.9), 1024).as("t2"),
          KllQuantiles.kllQuantilesWeighted(col("d"), col("id"),
            Seq(0.1, 0.5, 0.9), 1024).as("t3")).collect()
      // (3) the sketch READERS at a 99-point quantile grid: both read
      // modes are one static call over a referenced double[], so the
      // generated code must stay flat no matter how many ps ride along
      val manyPs = (1 to 99).map(_ / 100.0)
      df.groupBy(col("id"))
        .agg(KllQuantiles.kllSketch(col("d"), 1024).as("sk"))
        .select(
          KllQuantiles.kllValues(col("sk"), manyPs).as("r1"),
          KllQuantiles.kllValuesInterp(col("sk"), manyPs).as("r2"))
        .collect()
    }
    assert(hits.isEmpty,
      s"a non-default parameterization fell back to interpreted:\n${hits.mkString("\n")}")
  }

  test("the guard itself sees fallbacks (not vacuously green)") {
    // the EXACT round-8 incident shape, planted on purpose: a private
    // nested case class as a product encoder — the generated projection
    // cannot access it, Janino rejects, Spark falls back and WARNs —
    // proving the capture plumbing actually observes these events
    val hits = withCapture {
      spark.createDataset(Seq(CodegenGuardSpec.Hidden(1L)))(
        org.apache.spark.sql.Encoders.product[CodegenGuardSpec.Hidden]).collect()
    }
    assert(hits.exists(h => h.contains("falling back") || h.contains("codegen error")),
      s"expected the planted private-class encoder to trip the capture, saw: $hits")
  }
}

object CodegenGuardSpec {
  /** Deliberately `private`: the Janino-hostile shape the guard must
    * be able to see (TwsSessions.TimerAt's scaladoc documents why the
    * real encoder classes must NOT look like this). */
  private case class Hidden(x: Long)
}
