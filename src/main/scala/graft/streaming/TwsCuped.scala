package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** Streaming CUPED snapshot — the covariate half of the streaming
  * variance-reduction tier (Deng et al., WSDM 2013; the categorical
  * half is [[TwsPostStrat]]): the covariate-adjusted A−B difference
  * Ŷ = Y − θ(X − X̄) re-read after every micro-batch of observations,
  * per metric/experiment key — live sensitivity (ρ²) and the adjusted
  * t on a dashboard cadence instead of a batch job someone re-runs.
  *
  * Per-key state is the TWELVE exact decimal cross moments of the two
  * arms — per arm (n, ΣY, ΣX, ΣY², ΣX², ΣXY) — carried as plain
  * decimal strings (O(1) bytes per metric at any stream length); each
  * micro-batch folds its rows in and emits one
  * `(metric, n_a, n_b, theta, rho2, diff_raw, diff_adj, t_adj)`
  * snapshot per metric that received rows. The θ/ρ²/t algebra is the
  * batch operator's own chain ([[graft.operators.Stats.cupedChain]] —
  * ONE implementation, not a copy), and decimal addition is
  * order-independent, so the stream's readout after any prefix EQUALS
  * [[graft.operators.Stats.cuped]] on the same rows bit-for-bit
  * (StreamingSpec pins it, the [[TwsMsprt]] equality pattern).
  *
  * Degenerate prefixes (an arm under 2 rows, zero pooled covariate or
  * metric variance — the chain's Left states, exactly what the batch
  * operator fails loud on) emit NOTHING: mid-fill they are normal, not
  * errors. Values finer than the 6-dp grid fail LOUD on EITHER column
  * (the batch sentinel covers both Y and X); rows where either value
  * is non-finite are skipped — the batch finite-gate policy applies to
  * the PAIR, matching `filter(finite(y) && finite(x))`. No timers, no
  * watermark (TimeMode.None): state is O(1) per metric by
  * construction.
  */
object TwsCuped {

  /** One observation: metric name, the metric value Y, the covariate
    * X (classically the same metric pre-experiment), and the arm
    * (`armA = true` ⇔ the batch `sampleACond` holds). */
  case class CovariateObs(metric: String, y: Double, x: Double,
                          armA: Boolean)

  /** Both arms' exact decimal cross moments, serialized as plain
    * decimal strings. PUBLIC on purpose (TwsSessions.scala:37–42
    * convention — a `private` state case class drops every state
    * access to interpreted projection; CodegenGuardSpec-netted). */
  case class CrossMoments(na: Long, sya: String, sxa: String, qya: String,
                          qxa: String, pa: String,
                          nb: Long, syb: String, sxb: String, qyb: String,
                          qxb: String, pb: String)

  /** One CUPED readout per (micro-batch, metric-with-rows). */
  case class CupedSnapshot(metric: String, n_a: Long, n_b: Long,
                           theta: Double, rho2: Double, diff_raw: Double,
                           diff_adj: Double, t_adj: Double)

  private class CupedProcessor
      extends StatefulProcessor[String, CovariateObs, CupedSnapshot] {
    @transient private var moments:
      org.apache.spark.sql.streaming.ValueState[CrossMoments] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      moments = getHandle.getValueState[CrossMoments](
        "moments", Encoders.product[CrossMoments], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[CovariateObs],
                                 timerValues: TimerValues): Iterator[CupedSnapshot] = {
      val st =
        if (moments.exists()) moments.get()
        else CrossMoments(0L, "0", "0", "0", "0", "0",
          0L, "0", "0", "0", "0", "0")
      var na = st.na; var nb = st.nb
      var sya = BigDecimal(st.sya); var sxa = BigDecimal(st.sxa)
      var qya = BigDecimal(st.qya); var qxa = BigDecimal(st.qxa)
      var pa = BigDecimal(st.pa)
      var syb = BigDecimal(st.syb); var sxb = BigDecimal(st.sxb)
      var qyb = BigDecimal(st.qyb); var qxb = BigDecimal(st.qxb)
      var pb = BigDecimal(st.pb)
      var absorbed = false
      rows.foreach { o =>
        // the batch gate is finite(y) && finite(x): a non-finite value
        // in EITHER column drops the pair
        if (java.lang.Double.isFinite(o.y) && java.lang.Double.isFinite(o.x)) {
          val dy = graft.operators.Moments.onGrid(o.y, "TwsCuped",
            s"metric value ${o.y} for metric '$key'")
          val dx = graft.operators.Moments.onGrid(o.x, "TwsCuped",
            s"covariate value ${o.x} for metric '$key'")
          if (o.armA) {
            na += 1L; sya += dy; sxa += dx
            qya += dy * dy; qxa += dx * dx; pa += dx * dy
          } else {
            nb += 1L; syb += dy; sxb += dx
            qyb += dy * dy; qxb += dx * dx; pb += dx * dy
          }
          absorbed = true
        }
      }
      if (!absorbed) Iterator.empty
      else {
        def s(d: BigDecimal) = d.bigDecimal.toPlainString
        moments.update(CrossMoments(na, s(sya), s(sxa), s(qya), s(qxa),
          s(pa), nb, s(syb), s(sxb), s(qyb), s(qxb), s(pb)))
        graft.operators.Stats.cupedChain(na, sya, sxa, qya, qxa, pa,
          nb, syb, sxb, qyb, qxb, pb) match {
          case Left(_) => Iterator.empty // undefined mid-fill: silence
          case Right((theta, rho2, dRaw, dAdj, tAdj)) =>
            Iterator.single(
              CupedSnapshot(key, na, nb, theta, rho2, dRaw, dAdj, tAdj))
        }
      }
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[CupedSnapshot] =
      Iterator.empty // no timers — state is O(1) per metric
  }

  /** Continuous CUPED monitoring of `obs`, keyed by metric name.
    * Update-mode output (a metric's snapshot supersedes its previous
    * one). */
  def monitor(obs: Dataset[CovariateObs]): Dataset[CupedSnapshot] = {
    implicit val outEnc = Encoders.product[CupedSnapshot]
    implicit val strEnc = Encoders.STRING
    obs
      .groupByKey(_.metric)
      .transformWithState(new CupedProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}
