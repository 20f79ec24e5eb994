package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** Streaming post-stratified A/B snapshot — the VARIANCE-REDUCTION
  * tier of the streaming experimentation story beside the monitoring
  * tier ([[TwsMsprt]] always-valid p, [[TwsSrm]] ratio guard): the
  * post-stratified difference (Xie & Aurisset, KDD 2016 — each arm's
  * mean re-weighted to the POOLED stratum shares) re-read after every
  * micro-batch of observations, per metric/experiment key.
  *
  * Per-key state is a MAP stratum → the six exact decimal moments of
  * that stratum's two arms (n_a, ΣA, ΣA², n_b, ΣB, ΣB²) carried as
  * plain decimal strings — O(|strata|) entries per metric, each a few
  * dozen bytes, never time-bounded (TimeMode.None, no timers). The
  * readout algebra is the batch operator's own chain
  * ([[graft.operators.Stats.postStratChain]] — ONE implementation,
  * sorted-stratum fold, not a copy), and decimal addition is
  * order-independent, so the stream's snapshot after any prefix
  * EQUALS [[graft.operators.Stats.postStratifiedDiff]] on the same
  * rows bit-for-bit (StreamingSpec pins it, the [[TwsMsprt]] equality
  * pattern).
  *
  * Degenerate prefixes — an arm under 2 rows, a still-one-armed or
  * thin stratum, zero stratified variance — emit NOTHING rather than
  * a NaN row or a crash: exactly the states the batch operator fails
  * loud on, which for a stream mid-fill are normal, not errors (the
  * chain's Left states). Values finer than the 6-dp grid fail LOUD
  * (the batch sentinel's streaming face); non-finite values (NaN/±Inf)
  * are skipped — the [[graft.operators.Stats]] finite-gate policy.
  * The stratum cardinality is bounded by `maxStrata`, fail loud: an
  * unbounded stratum key would grow per-key state without limit.
  */
object TwsPostStrat {

  /** One observation: metric name, stratum label, measured value, and
    * the arm (`armA = true` ⇔ the batch `sampleACond` holds). */
  case class StratumObs(metric: String, stratum: String, value: Double,
                        armA: Boolean)

  /** One stratum's exact decimal moments for both arms, serialized as
    * plain decimal strings. PUBLIC on purpose (TwsSessions.scala:37–42
    * convention): a `private` state case class breaks Spark's encoder
    * codegen and drops every state access to interpreted projection
    * (the round-15 TwsMsprt/TwsSrm lesson, CodegenGuardSpec-netted). */
  case class StratumMoments(na: Long, sa: String, qa: String,
                            nb: Long, sb: String, qb: String)

  /** One post-stratified readout per (micro-batch, metric-with-rows). */
  case class PostStratSnapshot(metric: String, n_a: Long, n_b: Long,
                               n_strata: Long, diff_raw: Double,
                               diff_strat: Double, se_strat: Double,
                               t_strat: Double)

  private class PostStratProcessor(maxStrata: Int)
      extends StatefulProcessor[String, StratumObs, PostStratSnapshot] {
    @transient private var cells:
      org.apache.spark.sql.streaming.MapState[String, StratumMoments] = _
    @transient private var nStrata:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cells = getHandle.getMapState[String, StratumMoments](
        "cells", Encoders.STRING, Encoders.product[StratumMoments],
        TTLConfig.NONE)
      nStrata = getHandle.getValueState[Long](
        "nStrata", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[StratumObs],
                                 timerValues: TimerValues): Iterator[PostStratSnapshot] = {
      var absorbed = false
      rows.foreach { o =>
        // NaN and ±Infinity skip: the batch finite() gate's streaming
        // face (BigDecimal.valueOf(±Inf) would crash the stream)
        if (java.lang.Double.isFinite(o.value)) {
          val d = graft.operators.Moments.onGrid(o.value, "TwsPostStrat",
            s"value ${o.value} for metric '$key'")
          val st =
            if (cells.containsKey(o.stratum)) cells.getValue(o.stratum)
            else StratumMoments(0L, "0", "0", 0L, "0", "0")
          val next =
            if (o.armA) st.copy(na = st.na + 1L,
              sa = (BigDecimal(st.sa) + d).bigDecimal.toPlainString,
              qa = (BigDecimal(st.qa) + d * d).bigDecimal.toPlainString)
            else st.copy(nb = st.nb + 1L,
              sb = (BigDecimal(st.sb) + d).bigDecimal.toPlainString,
              qb = (BigDecimal(st.qb) + d * d).bigDecimal.toPlainString)
          if (st.na + st.nb == 0L) {
            // a NEW stratum: bound the per-key state BEFORE growing it
            // (an O(1) counter state, not a key scan — the scan would
            // be O(|strata|²) across a metric's lifetime)
            val k = if (nStrata.exists()) nStrata.get() else 0L
            require(k < maxStrata,
              s"TwsPostStrat: metric '$key' exceeded maxStrata=" +
                s"$maxStrata strata — an unbounded stratum key grows " +
                "state without limit; coarsen the stratum key")
            nStrata.update(k + 1L)
          }
          cells.updateValue(o.stratum, next)
          absorbed = true
        }
      }
      if (!absorbed) Iterator.empty
      else {
        val byCell = cells.iterator().flatMap { case (s, m) =>
          Seq((s, 1L) -> ((m.na, BigDecimal(m.sa), BigDecimal(m.qa))),
            (s, 0L) -> ((m.nb, BigDecimal(m.sb), BigDecimal(m.qb))))
        }.filter(_._2._1 > 0L).toMap
        graft.operators.Stats.postStratChain(byCell) match {
          case Left(_) => Iterator.empty // undefined mid-fill: silence
          case Right((na, nb, ns, dRaw, dStrat, se, t)) =>
            Iterator.single(
              PostStratSnapshot(key, na, nb, ns, dRaw, dStrat, se, t))
        }
      }
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[PostStratSnapshot] =
      Iterator.empty // no timers — state is O(|strata|) per metric
  }

  /** Continuous post-stratified monitoring of `obs`, keyed by metric
    * name. Update-mode output (a metric's snapshot supersedes its
    * previous one); `maxStrata` bounds per-key state, fail loud. */
  def monitor(obs: Dataset[StratumObs],
              maxStrata: Int = 10_000): Dataset[PostStratSnapshot] = {
    require(maxStrata >= 1,
      s"TwsPostStrat: maxStrata must be positive, got $maxStrata")
    implicit val outEnc = Encoders.product[PostStratSnapshot]
    implicit val strEnc = Encoders.STRING
    obs
      .groupByKey(_.metric)
      .transformWithState(new PostStratProcessor(maxStrata),
        TimeMode.None(), OutputMode.Update())
  }
}
