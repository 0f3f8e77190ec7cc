package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** First-seen streaming dedup on the `transformWithState` ARBITRARY-STATE
  * API (Spark 4.x's successor to mapGroupsWithState): one explicit
  * boolean ValueState per key, optional wall-clock TTL, RocksDB-backed —
  * the third dedup shape in §2.9 next to `dropDuplicates`+watermark
  * (q50) and the batch hash-dedup family (q24).
  *
  * Why it earns its place: `dropDuplicates` ties state retention to the
  * EVENT-TIME watermark; this processor owns its state directly, so keys
  * can outlive any watermark (exactly-once first-occurrence semantics
  * across restarts via the checkpoint) and expire on a wall-clock TTL
  * instead — the "suppress re-sends for 24 h" contract of an event
  * gateway, which watermark dedup cannot express.
  *
  * 100 TB shape: state is ONE boolean per live key in RocksDB (spillable
  * far past executor memory), TTL bounds the key space over time, and
  * the operator composes with the same bounded run + progress-log
  * observability as every other streaming op here
  * ([[StreamIngest.runBounded]], which pins the RocksDB provider).
  */
object StatefulDedup {

  final case class EventRow(event_id: Long, user_id: Long, event_type: String,
                            value: Double, ts: Timestamp)

  private val repOrd: Ordering[(Long, String, Double, Long)] =
    Ordering.Tuple4(Ordering.Long, Ordering.String, Ordering.Double.TotalOrdering,
      Ordering.Long)

  /** Emits each key's first-ever row; duplicates (same batch or any later
    * batch while the state lives) are swallowed. The within-batch
    * representative is deterministic: min by (ts, event_type, value,
    * user_id), never iterator arrival order.
    */
  class FirstSeenProcessor(ttl: Option[Duration])
      extends StatefulProcessor[Long, EventRow, EventRow] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean,
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: Long, rows: Iterator[EventRow],
                                 timerValues: TimerValues): Iterator[EventRow] = {
      if (seen.exists()) Iterator.empty
      else {
        val first = rows.reduce { (a, b) =>
          if (repOrd.lteq((a.ts.getTime, a.event_type, a.value, a.user_id),
            (b.ts.getTime, b.event_type, b.value, b.user_id))) a else b
        }
        seen.update(true)
        Iterator.single(first)
      }
    }
  }

  /** The dedup stream: events keyed by `event_id` through
    * [[FirstSeenProcessor]]. TimeMode.None without TTL (pure
    * first-occurrence, fully deterministic); ProcessingTime when a TTL
    * is set (TTL is wall-clock by definition, and
    * [[StreamIngest.runBounded]] then stops the run once its data batch
    * has committed).
    */
  def firstSeen(events: DataFrame, ttl: Option[Duration] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val mode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    events.as[EventRow]
      .groupByKey(_.event_id)
      .transformWithState(new FirstSeenProcessor(ttl), mode, OutputMode.Append())
      .toDF()
  }
}
