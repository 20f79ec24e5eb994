package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** Streaming multi-arm (A/B/n) experiment monitor — the k-arm face of
  * [[TwsMsprt]]'s two-arm monitoring (round-16 verdict item 6): the
  * per-treatment-arm Welch readout with Benjamini–Hochberg across the
  * arms, re-read after every micro-batch of observations, per
  * metric/experiment key.
  *
  * Per-key state is a MAP arm → that arm's three exact decimal moments
  * (n, Σv, Σv²) carried as plain decimal strings — O(|arms|) entries
  * per metric, each a few dozen bytes, never time-bounded
  * (TimeMode.None, no timers). The readout algebra is the batch
  * operator's own chain ([[graft.operators.Stats.multiArmChain]] —
  * ONE implementation: welchChain per arm, the A&S normal p, the
  * shared bhThreshold step-up), and decimal addition is
  * order-independent, so the stream's snapshot set after any prefix
  * EQUALS [[graft.operators.Stats.multiArm]] on the same rows
  * bit-for-bit (StreamingSpec pins it, the [[TwsPostStrat]] equality
  * pattern). Each absorbing micro-batch emits one snapshot per
  * treatment arm (update mode — an arm's row supersedes its previous
  * one; BH is recomputed over ALL arms each time, so a previously
  * significant arm can correctly lose significance as competitors
  * accumulate evidence).
  *
  * Degenerate prefixes — a missing or thin control, no treatment arm
  * yet, any arm under `minN` rows, degenerate variance — emit NOTHING
  * rather than a NaN row or a crash: exactly the states the batch
  * operator fails loud on, which for a stream mid-fill are normal (the
  * chain's Left states). Values finer than the 6-dp grid fail LOUD
  * (the batch sentinel's streaming face); non-finite values (NaN/±Inf)
  * are skipped — the [[graft.operators.Stats]] finite-gate policy.
  * NULL-ish arms cannot arise (the arm rides a non-null case-class
  * field). Arm cardinality is bounded by `maxArms`, fail loud: an
  * unbounded arm column would grow per-key state without limit (the
  * batch operator's bounded-collect discipline, streamed).
  */
object TwsMultiArm {

  /** One observation: metric name, measured value, arm label. */
  case class ArmObs(metric: String, value: Double, arm: String)

  /** One arm's exact decimal moments, serialized as plain decimal
    * strings. PUBLIC on purpose (TwsSessions.scala:37–42 convention):
    * a `private` state case class breaks Spark's encoder codegen and
    * drops every state access to interpreted projection (the round-15
    * TwsMsprt/TwsSrm lesson, CodegenGuardSpec-netted). */
  case class ArmMoments(n: Long, s: String, q: String)

  /** One per-treatment-arm readout per absorbing micro-batch. */
  case class MultiArmSnapshot(metric: String, arm: String, n_c: Long,
                              n_t: Long, mean_c: Double, mean_t: Double,
                              diff: Double, t: Double, df: Double,
                              p: Double, significant: Boolean)

  private class MultiArmProcessor(controlArm: String, q: Double,
                                  maxArms: Int, minN: Long)
      extends StatefulProcessor[String, ArmObs, MultiArmSnapshot] {
    @transient private var arms:
      org.apache.spark.sql.streaming.MapState[String, ArmMoments] = _
    @transient private var nArms:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      arms = getHandle.getMapState[String, ArmMoments](
        "arms", Encoders.STRING, Encoders.product[ArmMoments],
        TTLConfig.NONE)
      nArms = getHandle.getValueState[Long](
        "nArms", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[ArmObs],
                                 timerValues: TimerValues): Iterator[MultiArmSnapshot] = {
      var absorbed = false
      rows.foreach { o =>
        // NaN and ±Infinity skip: the batch finite() gate's streaming
        // face (BigDecimal.valueOf(±Inf) would crash the stream)
        if (java.lang.Double.isFinite(o.value)) {
          val d = graft.operators.Moments.onGrid(o.value, "TwsMultiArm",
            s"value ${o.value} for metric '$key'")
          val st =
            if (arms.containsKey(o.arm)) arms.getValue(o.arm)
            else ArmMoments(0L, "0", "0")
          if (st.n == 0L) {
            // a NEW arm: bound the per-key state BEFORE growing it
            // (an O(1) counter, the TwsPostStrat pattern)
            val k = if (nArms.exists()) nArms.get() else 0L
            require(k < maxArms,
              s"TwsMultiArm: metric '$key' exceeded maxArms=$maxArms " +
                "arms — an unbounded arm label grows state without " +
                "limit; raise maxArms only if the cardinality is a " +
                "design constant")
            nArms.update(k + 1L)
          }
          arms.updateValue(o.arm, ArmMoments(st.n + 1L,
            (BigDecimal(st.s) + d).bigDecimal.toPlainString,
            (BigDecimal(st.q) + d * d).bigDecimal.toPlainString))
          absorbed = true
        }
      }
      if (!absorbed) Iterator.empty
      else {
        val byArm = arms.iterator().map { case (a, m) =>
          a -> ((m.n, BigDecimal(m.s), BigDecimal(m.q)))
        }.toMap
        graft.operators.Stats.multiArmChain(byArm, controlArm, q, minN) match {
          case Left(_) => Iterator.empty // undefined mid-fill: silence
          case Right(rows) => rows.iterator.map {
            case (arm, nc, nt, mC, mT, diff, t, dfW, p, sig) =>
              MultiArmSnapshot(key, arm, nc, nt, mC, mT, diff, t, dfW, p, sig)
          }
        }
      }
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[MultiArmSnapshot] =
      Iterator.empty // no timers — state is O(|arms|) per metric
  }

  /** Continuous multi-arm monitoring of `obs`, keyed by metric name.
    * Update-mode output; `controlArm`/`q`/`maxArms`/`minN` are the
    * batch operator's parameters. */
  def monitor(obs: Dataset[ArmObs], controlArm: String,
              q: Double = 0.05, maxArms: Int = 64,
              minN: Long = 2L): Dataset[MultiArmSnapshot] = {
    require(q > 0.0 && q < 1.0, s"TwsMultiArm: q must be in (0, 1), got $q")
    require(maxArms >= 2, s"TwsMultiArm: maxArms must be >= 2, got $maxArms")
    require(minN >= 2L,
      s"TwsMultiArm: minN must be >= 2 (a variance needs two rows), got $minN")
    implicit val outEnc = Encoders.product[MultiArmSnapshot]
    implicit val strEnc = Encoders.STRING
    obs
      .groupByKey(_.metric)
      .transformWithState(new MultiArmProcessor(controlArm, q, maxArms, minN),
        TimeMode.None(), OutputMode.Update())
  }
}
