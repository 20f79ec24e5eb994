package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** Streaming experiment monitor — the mSPRT (Johari, Pekelis & Walsh
  * 2017, "Always Valid Inference") as `transformWithState` state, per
  * metric: the always-valid p-value exists PRECISELY for continuous
  * monitoring, so the natural deployment is a stream that re-reads the
  * test after every micro-batch of observations instead of a batch job
  * someone remembers to re-run (and whose repeated peeks the mSPRT is
  * built to keep honest).
  *
  * Per-key state is the SIX exact decimal moments of the two arms —
  * (n_a, ΣA, ΣA², n_b, ΣB, ΣB²) — carried as java.math.BigDecimal
  * strings (exact, self-describing, a few dozen bytes per metric at
  * any stream length); each micro-batch folds its rows in and emits
  * one `(metric, n_a, n_b, diff, v, lambda, p, significant)` snapshot
  * per metric that received rows. The Λ/p algebra is the batch
  * operator's own chain ([[graft.operators.Stats.msprtChain]] — ONE
  * implementation, not a copy), and decimal addition is
  * order-independent, so the stream's readout after any prefix EQUALS
  * [[graft.operators.Stats.msprt]] run on the same rows — the
  * TwsHllDistinct equality pattern, pinned by StreamingSpec.
  *
  * Degenerate prefixes (an arm under 2 rows, or zero variance in both
  * arms) emit nothing rather than a NaN row: the monitor stays silent
  * until the test is defined. Values finer than the 6-dp grid fail
  * LOUD (the batch sentinel's streaming face — a silent decimal(18,6)
  * round would diverge from the batch answer); non-finite values
  * (NaN/±Inf) are skipped — the typed-Dataset face of the batch
  * operator's [[graft.operators.Stats]] finite gate. No timers,
  * no watermark (TimeMode.None): state is O(1) per metric by
  * construction, never time-bounded.
  */
object TwsMsprt {

  /** One observation: a metric name, the measured value, and the arm
    * (`armA = true` ⇔ the batch operator's `sampleACond` holds). */
  case class MetricObs(metric: String, value: Double, armA: Boolean)

  /** Exact decimal moments, serialized as plain decimal strings.
    * PUBLIC on purpose (the TwsSessions.scala:37–42 convention: state
    * layout is declared, not smuggled) — Spark's generated state
    * (de)serializer cannot reach private members, so a `private` here
    * silently drops every state read/write to interpreted projection. */
  case class MomentState(na: Long, sa: String, qa: String,
                         nb: Long, sb: String, qb: String)

  /** One always-valid readout per (micro-batch, metric-with-rows). */
  case class MsprtSnapshot(metric: String, n_a: Long, n_b: Long,
                           diff: Double, v: Double, lambda: Double,
                           p: Double, significant: Boolean)

  private class MsprtProcessor(tau2: Double, alpha: Double)
      extends StatefulProcessor[String, MetricObs, MsprtSnapshot] {
    @transient private var moments: org.apache.spark.sql.streaming.ValueState[MomentState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      moments = getHandle.getValueState[MomentState](
        "moments", Encoders.product[MomentState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[MetricObs],
                                 timerValues: TimerValues): Iterator[MsprtSnapshot] = {
      val st =
        if (moments.exists()) moments.get()
        else MomentState(0L, "0", "0", 0L, "0", "0")
      var na = st.na; var nb = st.nb
      var sa = BigDecimal(st.sa); var qa = BigDecimal(st.qa)
      var sb = BigDecimal(st.sb); var qb = BigDecimal(st.qb)
      var absorbed = false
      rows.foreach { o =>
        // NaN AND ±Infinity are skipped: the batch operator casts to
        // decimal(18,6), where both become NULL and are filtered out.
        // (BigDecimal.valueOf(±Inf) would throw, crashing the stream —
        // a hole in the stream-equals-batch contract if only NaN gated.)
        if (java.lang.Double.isFinite(o.value)) {
          val d = graft.operators.Moments.onGrid(o.value, "TwsMsprt",
            s"value ${o.value} for metric '$key'")
          if (o.armA) { na += 1L; sa += d; qa += d * d }
          else { nb += 1L; sb += d; qb += d * d }
          absorbed = true
        }
      }
      if (!absorbed) Iterator.empty
      else {
        moments.update(MomentState(na, sa.bigDecimal.toPlainString,
          qa.bigDecimal.toPlainString, nb, sb.bigDecimal.toPlainString,
          qb.bigDecimal.toPlainString))
        if (na < 2L || nb < 2L) Iterator.empty
        else {
          val (diff, vn, lambda, p) =
            graft.operators.Stats.msprtChain(na, sa, qa, nb, sb, qb, tau2)
          if (vn <= 0.0) Iterator.empty
          else Iterator.single(
            MsprtSnapshot(key, na, nb, diff, vn, lambda, p, p < alpha))
        }
      }
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[MsprtSnapshot] =
      Iterator.empty // no timers — state is O(1) per metric, not time-bounded
  }

  /** Continuous mSPRT monitoring of `obs`, keyed by metric name.
    * Update-mode output (a metric's snapshot supersedes its previous
    * one). `tau2`/`alpha` are the batch operator's parameters. */
  def monitor(obs: Dataset[MetricObs], tau2: Double = 1.0,
              alpha: Double = 0.05): Dataset[MsprtSnapshot] = {
    require(tau2 > 0.0, s"TwsMsprt: tau2 must be positive, got $tau2")
    require(alpha > 0.0 && alpha < 1.0,
      s"TwsMsprt: alpha must be in (0, 1), got $alpha")
    implicit val outEnc = Encoders.product[MsprtSnapshot]
    implicit val strEnc = Encoders.STRING
    obs
      .groupByKey(_.metric)
      .transformWithState(new MsprtProcessor(tau2, alpha),
        TimeMode.None(), OutputMode.Update())
  }
}
