package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** Streaming group-sequential (alpha-spending) monitor — the
  * SCHEDULED-looks member of the streaming monitoring tier
  * ([[TwsMsprt]] always-valid, [[TwsMultiArm]] k-arm, this one
  * Lan–DeMets): K pre-registered looks, the cumulative Welch z of
  * every populated look re-read against its OBF/Pocock boundary after
  * each micro-batch of observations, per metric/experiment key.
  * `plannedTotal` is REQUIRED here — a live monitor that anchored the
  * information fraction to the observed count would re-test unchanged
  * data at ever-lower OBF boundaries as looks fill (the ADVICE r16
  * anti-conservative state the batch operator refuses); the planned
  * final pooled count is exactly the design constant a scheduled
  * experiment has.
  *
  * Rows arrive with their look id already assigned (1-based — the
  * batch operator's first-cutoff-containing-the-row bucketing is a
  * plan-side `when` chain; do it in the select feeding this monitor).
  * Per-key state is a MAP look → the six exact decimal moments of that
  * look's two arms — O(K) entries, K ≤ 32 by design, never
  * time-bounded (TimeMode.None, no timers). The readout algebra is
  * the batch operator's own chain
  * ([[graft.operators.Stats.groupSeqChain]] — ONE implementation:
  * cumulative decimal fold, welchChain per look, boundary, first
  * crossing), folded over the POPULATED look prefix, so each emission
  * EQUALS [[graft.operators.Stats.groupSequential]] run on the same
  * rows with the schedule truncated to those looks and the same
  * plannedTotal (StreamingSpec pins it bit-for-bit).
  *
  * Degenerate prefixes — a look under 2 cumulative rows per arm, an
  * empty look inside the populated prefix (out-of-order fill),
  * degenerate variance, data past the plan — emit NOTHING rather than
  * a NaN row (the chain's Left states, the family convention).
  * Values finer than the 6-dp grid fail LOUD; non-finite values are
  * skipped (the finite-gate policy); look ids outside 1..K fail LOUD
  * (a routing bug, not late data).
  */
object TwsGroupSeq {

  /** One observation: metric, 1-based look bucket, value, arm. */
  case class LookObs(metric: String, look: Int, value: Double, armA: Boolean)

  /** One look's exact decimal moments for both arms, as plain decimal
    * strings. PUBLIC on purpose (TwsSessions.scala:37–42 convention):
    * a `private` state case class breaks Spark's encoder codegen and
    * drops every state access to interpreted projection. */
  case class LookMoments(na: Long, sa: String, qa: String,
                         nb: Long, sb: String, qb: String)

  /** One per-look readout per absorbing micro-batch (update mode — a
    * (metric, look) row supersedes its previous emission; stop_look is
    * the first crossed look over the populated prefix, NULL while
    * none). */
  case class GroupSeqSnapshot(metric: String, look: Int, n_a: Long,
                              n_b: Long, info_frac: Double, z: Double,
                              boundary: Double, crossed: Boolean,
                              stop_look: Option[Int])

  private class GroupSeqProcessor(k: Int, plannedTotal: Long,
                                  zAlpha2: Double, shape: String)
      extends StatefulProcessor[String, LookObs, GroupSeqSnapshot] {
    @transient private var looks:
      org.apache.spark.sql.streaming.MapState[Int, LookMoments] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      looks = getHandle.getMapState[Int, LookMoments](
        "looks", Encoders.scalaInt, Encoders.product[LookMoments],
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[LookObs],
                                 timerValues: TimerValues): Iterator[GroupSeqSnapshot] = {
      var absorbed = false
      rows.foreach { o =>
        require(o.look >= 1 && o.look <= k,
          s"TwsGroupSeq: look ${o.look} for metric '$key' outside the " +
            s"1..$k schedule — the look bucketing upstream is broken " +
            "(a row after the last cutoff must be dropped there, not here)")
        // NaN and ±Infinity skip: the batch finite() gate's streaming
        // face (BigDecimal.valueOf(±Inf) would crash the stream)
        if (java.lang.Double.isFinite(o.value)) {
          val d = graft.operators.Moments.onGrid(o.value, "TwsGroupSeq",
            s"value ${o.value} for metric '$key'")
          val st =
            if (looks.containsKey(o.look)) looks.getValue(o.look)
            else LookMoments(0L, "0", "0", 0L, "0", "0")
          val next =
            if (o.armA) st.copy(na = st.na + 1L,
              sa = (BigDecimal(st.sa) + d).bigDecimal.toPlainString,
              qa = (BigDecimal(st.qa) + d * d).bigDecimal.toPlainString)
            else st.copy(nb = st.nb + 1L,
              sb = (BigDecimal(st.sb) + d).bigDecimal.toPlainString,
              qb = (BigDecimal(st.qb) + d * d).bigDecimal.toPlainString)
          looks.updateValue(o.look, next)
          absorbed = true
        }
      }
      if (!absorbed) Iterator.empty
      else {
        var kPop = 0
        val byCell = scala.collection.mutable.Map
          .empty[(Int, Long), (Long, BigDecimal, BigDecimal)]
        looks.iterator().foreach { case (lk, m) =>
          if (lk > kPop) kPop = lk
          if (m.na > 0L)
            byCell((lk, 1L)) = (m.na, BigDecimal(m.sa), BigDecimal(m.qa))
          if (m.nb > 0L)
            byCell((lk, 0L)) = (m.nb, BigDecimal(m.sb), BigDecimal(m.qb))
        }
        // fold over the POPULATED prefix — the truncated-schedule read
        // the batch operator runs on the same rows (spec-pinned)
        graft.operators.Stats.groupSeqChain(byCell.toMap, kPop, zAlpha2,
            shape, Some(plannedTotal)) match {
          case Left(_) => Iterator.empty // undefined mid-fill: silence
          case Right(rows) => rows.iterator.map {
            case (lk, la, lb, frac, z, b, crossed, stop) =>
              GroupSeqSnapshot(key, lk, la, lb, frac, z, b, crossed, stop)
          }
        }
      }
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[GroupSeqSnapshot] =
      Iterator.empty // no timers — state is O(K) per metric, K <= 32
  }

  /** Continuous group-sequential monitoring of `obs`, keyed by metric
    * name. Update-mode output; `k`/`zAlpha2`/`shape` are the batch
    * operator's parameters and `plannedTotal` its live-monitoring
    * anchor (REQUIRED here — see the object scaladoc). */
  def monitor(obs: Dataset[LookObs], k: Int, plannedTotal: Long,
              zAlpha2: Double = 1.959963984540054,
              shape: String = "obf"): Dataset[GroupSeqSnapshot] = {
    require(k >= 1 && k <= 32,
      s"TwsGroupSeq: k must be in 1..32 (a schedule is a design " +
        s"constant), got $k")
    require(plannedTotal >= 4L,
      "TwsGroupSeq: plannedTotal must cover >= 2 rows per arm")
    require(shape == "obf" || shape == "pocock",
      s"TwsGroupSeq: shape must be \"obf\" or \"pocock\", got \"$shape\"")
    require(zAlpha2 > 0.0, "TwsGroupSeq: zAlpha2 must be positive")
    implicit val outEnc = Encoders.product[GroupSeqSnapshot]
    implicit val strEnc = Encoders.STRING
    obs
      .groupByKey(_.metric)
      .transformWithState(new GroupSeqProcessor(k, plannedTotal, zAlpha2, shape),
        TimeMode.None(), OutputMode.Update())
  }
}
