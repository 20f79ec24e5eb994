package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Rolling per-key distinct count on `transformWithState` — "how many
  * DISTINCT event types did this user produce in the last hour",
  * continuously. The query no built-in windowed aggregate answers:
  * distinct-over-a-sliding-horizon needs per-value last-seen state,
  * which is exactly what the v2 API's [[MapState]] slot is for (one
  * state ROW per (key, value) in RocksDB — iterating one key's map
  * never loads other keys, and a hot key's map spills to disk instead
  * of blowing the heap like a flatMapGroupsWithState case-class blob
  * would).
  *
  * Mechanics per key:
  *   - MapState value → last-seen event-time ms; inputs update it
  *     (monotone max per value);
  *   - values whose last-seen has fallen behind watermark − horizon
  *     are pruned on every visit (input batch or timer), so state per
  *     key is bounded by the distinct values ACTIVE within the
  *     horizon — the watermark is the GC;
  *   - one event-time timer per key re-fires at the earliest pending
  *     expiry, emitting the post-prune count (and clearing all state
  *     when the map empties) — downstream sees counts DECREASE without
  *     new input, which per-batch emission alone cannot do.
  */
object TwsRollingDistinct {
  import StatefulSessions.Event

  case class DistinctCount(user_id: Long, at_ms: Long, n_distinct: Int)

  private class Processor(horizonMs: Long)
      extends StatefulProcessor[Long, Event, DistinctCount] {
    @transient private var lastSeen: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getMapState[String, Long](
        "lastSeen", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    /** Drop values expired at `wmMs`; return (size, earliest last-seen). */
    private def prune(wmMs: Long): (Int, Option[Long]) = {
      val cutoff = wmMs - horizonMs
      var n = 0
      var earliest = Option.empty[Long]
      val dead = Seq.newBuilder[String]
      lastSeen.iterator().foreach { case (v, ts) =>
        if (ts < cutoff) dead += v
        else { n += 1; if (earliest.forall(ts < _)) earliest = Some(ts) }
      }
      dead.result().foreach(lastSeen.removeKey)
      (n, earliest)
    }

    private def rearm(earliest: Option[Long]): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      earliest.foreach(ts => getHandle.registerTimer(ts + horizonMs))
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[DistinctCount] = {
      var maxTs = Long.MinValue
      rows.foreach { e =>
        val t = e.ts.getTime
        maxTs = math.max(maxTs, t)
        val prev = if (lastSeen.containsKey(e.event_type))
          lastSeen.getValue(e.event_type) else Long.MinValue
        if (t > prev) lastSeen.updateValue(e.event_type, t)
      }
      val (n, earliest) = prune(timerValues.getCurrentWatermarkInMs())
      rearm(earliest)
      if (n == 0) { lastSeen.clear(); Iterator.empty }
      else Iterator.single(DistinctCount(userId, maxTs, n))
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[DistinctCount] = {
      val (n, earliest) = prune(timerValues.getCurrentWatermarkInMs())
      rearm(earliest)
      if (n == 0) { lastSeen.clear(); Iterator.empty }
      else Iterator.single(DistinctCount(userId, expiredTimerInfo.getExpiryTimeInMs(), n))
    }
  }

  /** events must carry a watermark on `ts` (event-time timers and the
    * horizon GC both key off it). */
  def distinctTypes(events: Dataset[Event], horizonMinutes: Int): Dataset[DistinctCount] = {
    implicit val outEnc = Encoders.product[DistinctCount]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .transformWithState(new Processor(horizonMinutes * 60L * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
