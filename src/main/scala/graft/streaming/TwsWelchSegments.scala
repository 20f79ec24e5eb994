package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** Streaming per-segment treatment effects — the heterogeneous-effect
  * readout ([[graft.operators.Stats.welchTByGroup]]: WHICH segments
  * moved, with BH across the slices) re-read after every micro-batch
  * of observations, per metric/experiment key. Completes the
  * streaming experimentation tier: every batch member now has a
  * `transformWithState` twin sharing its chain (monitoring —
  * [[TwsMsprt]]/[[TwsMultiArm]]/[[TwsGroupSeq]]; guards — [[TwsSrm]];
  * variance reduction — [[TwsCuped]]/[[TwsPostStrat]]; slicing —
  * this).
  *
  * Per-key state is a MAP segment → the six exact decimal moments of
  * that segment's two arms (the [[TwsPostStrat]] layout) — O(|segments|)
  * entries, `maxSegments`-bounded via the O(1) counter pattern, never
  * time-bounded (TimeMode.None, no timers). The readout algebra is
  * the batch operator's own chain
  * ([[graft.operators.Stats.welchSegmentsChain]] — factored so batch
  * and stream run ONE implementation: welchChain per segment, the A&S
  * normal p, the shared bhThreshold step-up across segments), and
  * decimal addition is order-independent, so the stream's snapshot set
  * after any prefix EQUALS [[graft.operators.Stats.welchTByGroup]] on
  * the same rows bit-for-bit (StreamingSpec pins it). Each absorbing
  * micro-batch emits one snapshot per segment (update mode; BH is
  * recomputed over ALL segments each time, so a slice can correctly
  * lose significance as other slices accumulate evidence).
  *
  * Degenerate prefixes — ANY segment with a thin or missing arm,
  * degenerate variance — emit NOTHING (the chain's Left states: the
  * batch operator fails loud on a thin slice because a silent drop
  * would hide the slice, and a stream mid-fill treats the same state
  * as not-yet-defined). A PERSISTENTLY thin segment therefore keeps
  * its metric silent — exactly the batch message's remedy applies:
  * coarsen the segment key. Values finer than the 6-dp grid fail
  * LOUD; non-finite values are skipped (the finite-gate policy).
  */
object TwsWelchSegments {

  /** One observation: metric, segment label, value, arm
    * (`armA = true` ⇔ the batch `sampleACond` holds). */
  case class SegObs(metric: String, segment: String, value: Double,
                    armA: Boolean)

  /** One per-segment readout per absorbing micro-batch. */
  case class SegSnapshot(metric: String, grp: String, n_a: Long,
                         n_b: Long, mean_a: Double, mean_b: Double,
                         diff: Double, t: Double, df: Double,
                         p: Double, significant: Boolean)

  private class SegProcessor(q: Double, maxSegments: Int, minN: Long)
      extends StatefulProcessor[String, SegObs, SegSnapshot] {
    @transient private var cells:
      org.apache.spark.sql.streaming.MapState[String, TwsPostStrat.StratumMoments] = _
    @transient private var nSegs:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cells = getHandle.getMapState[String, TwsPostStrat.StratumMoments](
        "cells", Encoders.STRING,
        Encoders.product[TwsPostStrat.StratumMoments], TTLConfig.NONE)
      nSegs = getHandle.getValueState[Long](
        "nSegs", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[SegObs],
                                 timerValues: TimerValues): Iterator[SegSnapshot] = {
      var absorbed = false
      rows.foreach { o =>
        // NaN and ±Infinity skip: the batch finite() gate's streaming
        // face (BigDecimal.valueOf(±Inf) would crash the stream)
        if (java.lang.Double.isFinite(o.value)) {
          val d = graft.operators.Moments.onGrid(o.value, "TwsWelchSegments",
            s"value ${o.value} for metric '$key'")
          val st =
            if (cells.containsKey(o.segment)) cells.getValue(o.segment)
            else TwsPostStrat.StratumMoments(0L, "0", "0", 0L, "0", "0")
          if (st.na + st.nb == 0L) {
            // a NEW segment: bound the per-key state BEFORE growing it
            val k = if (nSegs.exists()) nSegs.get() else 0L
            require(k < maxSegments,
              s"TwsWelchSegments: metric '$key' exceeded maxSegments=" +
                s"$maxSegments — an unbounded segment key grows state " +
                "without limit; coarsen the segment key")
            nSegs.update(k + 1L)
          }
          val next =
            if (o.armA) st.copy(na = st.na + 1L,
              sa = (BigDecimal(st.sa) + d).bigDecimal.toPlainString,
              qa = (BigDecimal(st.qa) + d * d).bigDecimal.toPlainString)
            else st.copy(nb = st.nb + 1L,
              sb = (BigDecimal(st.sb) + d).bigDecimal.toPlainString,
              qb = (BigDecimal(st.qb) + d * d).bigDecimal.toPlainString)
          cells.updateValue(o.segment, next)
          absorbed = true
        }
      }
      if (!absorbed) Iterator.empty
      else {
        val byCell = cells.iterator().flatMap { case (g, m) =>
          Seq((g, 1L) -> ((m.na, BigDecimal(m.sa), BigDecimal(m.qa))),
            (g, 0L) -> ((m.nb, BigDecimal(m.sb), BigDecimal(m.qb))))
        }.filter(_._2._1 > 0L).toMap
        graft.operators.Stats.welchSegmentsChain(byCell, q, minN) match {
          case Left(_) => Iterator.empty // undefined mid-fill: silence
          case Right(rows) => rows.iterator.map {
            case (g, na, nb, mA, mB, diff, t, dfW, p, sig) =>
              SegSnapshot(key, g, na, nb, mA, mB, diff, t, dfW, p, sig)
          }
        }
      }
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[SegSnapshot] =
      Iterator.empty // no timers — state is O(|segments|) per metric
  }

  /** Continuous per-segment effect monitoring of `obs`, keyed by
    * metric name. Update-mode output; `q`/`minN` are the batch
    * operator's parameters, `maxSegments` bounds per-key state. */
  def monitor(obs: Dataset[SegObs], q: Double = 0.05,
              maxSegments: Int = 10_000, minN: Long = 2L): Dataset[SegSnapshot] = {
    require(q > 0.0 && q < 1.0,
      s"TwsWelchSegments: q must be in (0, 1), got $q")
    require(maxSegments >= 1,
      s"TwsWelchSegments: maxSegments must be positive, got $maxSegments")
    require(minN >= 2L,
      s"TwsWelchSegments: minN must be >= 2 (a variance needs two rows), got $minN")
    implicit val outEnc = Encoders.product[SegSnapshot]
    implicit val strEnc = Encoders.STRING
    obs
      .groupByKey(_.metric)
      .transformWithState(new SegProcessor(q, maxSegments, minN),
        TimeMode.None(), OutputMode.Update())
  }
}
