package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import StatefulDedup.EventRow

/** Gap sessionization on transformWithState EVENT-TIME TIMERS — the
  * third and last piece of the arbitrary-state API surface (q159
  * ValueState, q163 ListState, timers here): an open session closes
  * when the WATERMARK passes its last event + gap, via an explicitly
  * registered per-key timer, not a state-timeout flag.
  *
  * Three independent sessionization implementations now share one
  * oracle-checked contract: the batch gaps-and-islands form (q69), the
  * native `session_window` (q129), and this one (q164) — same
  * `gap > threshold` split rule, same (start, last, count) outputs.
  *
  * 100 TB shape: one open-session record + one registered timer per
  * live key in RocksDB; timers are the engine's own watermark-ordered
  * queue (no per-batch full-key scan, unlike GroupStateTimeout's
  * timeout sweep); closed sessions leave state immediately.
  */
object StatefulSession {

  final case class SessionRow(user_id: Long, start_us: Long, last_us: Long,
                              n_events: Long)

  /** Open-session state: event-time micros bounds + count + the expiry
    * of the currently registered timer (so it can be deleted on update —
    * stale timers would re-fire on already-closed sessions). */
  final case class OpenSession(n: Long, startUs: Long, lastUs: Long,
                               timerMs: Long)

  class TimerSessionProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, EventRow, SessionRow] {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    private val gapUs = gapSeconds * 1000000L
    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)

    private def close(key: Long, s: OpenSession): SessionRow =
      SessionRow(key, s.startUs, s.lastUs, s.n)

    override def handleInputRows(key: Long, rows: Iterator[EventRow],
                                 timerValues: TimerValues): Iterator[SessionRow] = {
      // batch slices are unordered; the per-key slice is bounded by the
      // batch, not history
      val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var cur = if (open.exists()) Some(open.get()) else None
      var closed = List.empty[SessionRow]
      evs.foreach { e =>
        val us = e.ts.getTime * 1000L +
          (e.ts.getNanos / 1000L) % 1000L // full micros from the Timestamp
        cur match {
          case Some(s) if us - s.lastUs <= gapUs =>
            cur = Some(s.copy(n = s.n + 1, lastUs = math.max(s.lastUs, us)))
          case Some(s) =>
            closed ::= close(key, s)
            cur = Some(OpenSession(1L, us, us, s.timerMs))
          case None =>
            cur = Some(OpenSession(1L, us, us, 0L))
        }
      }
      cur.foreach { s =>
        val expiry = s.lastUs / 1000L + gapSeconds * 1000L
        if (s.timerMs != expiry) {
          if (s.timerMs > 0L) getHandle.deleteTimer(s.timerMs)
          getHandle.registerTimer(expiry)
        }
        open.update(s.copy(timerMs = expiry))
      }
      closed.reverseIterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionRow] = {
      // a stale timer (session extended since registration) is deleted on
      // update, but guard anyway: only close when THIS timer is current
      if (open.exists() && open.get().timerMs == expiredTimerInfo.getExpiryTimeInMs()) {
        val out = close(key, open.get())
        open.clear()
        Iterator.single(out)
      } else Iterator.empty
    }
  }

  /** The session stream: watermarked events keyed by user through
    * [[TimerSessionProcessor]] (TimeMode.EventTime — timers fire when
    * the watermark passes last + gap). A bounded run flushes every real
    * session only when its staging carries a far-future sentinel row, so
    * the final watermark passes every session's expiry. */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800,
                 watermarkDelay: String = "1 minute"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }
}
