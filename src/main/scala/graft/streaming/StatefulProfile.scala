package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

import StatefulDedup.EventRow

/** Per-key categorical profile on transformWithState MAP state — with
  * q159 (ValueState), q163 (ListState), and q164 (timers) this covers
  * every state primitive of the Spark 4.x arbitrary-state API. State is
  * a map event_type → (count, cents) per user: the online per-user
  * behavior profile (how many clicks vs purchases, spend so far) a
  * serving layer reads without replaying history.
  *
  * Why MapState and not a ValueState[Map]: the engine stores each map
  * entry as its own RocksDB key, so updating one category touches one
  * entry — a ValueState[Map] would deserialize, copy, and rewrite the
  * whole profile per event (the 100 TB difference between O(1) and
  * O(categories) amplification per update).
  *
  * Emission: one row per (user, category) per touched batch, carrying
  * the updated running totals (Update-style over an append sink — the
  * digest row is immutable once emitted). Cents are HALF_UP integers,
  * the engine-shared rounding.
  */
object StatefulProfile {

  final case class CatCount(n: Long, cents: Long)
  final case class ProfileRow(user_id: Long, event_type: String, n: Long,
                              cents: Long)

  class CategoryProfileProcessor
      extends StatefulProcessor[Long, EventRow, ProfileRow] {
    @transient private var cats: MapState[String, CatCount] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cats = getHandle.getMapState[String, CatCount]("cats",
        Encoders.STRING, Encoders.product[CatCount], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EventRow],
                                 timerValues: TimerValues): Iterator[ProfileRow] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val prev = if (cats.containsKey(e.event_type)) cats.getValue(e.event_type)
                   else CatCount(0L, 0L)
        val c = BigDecimal(e.value * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        cats.updateValue(e.event_type, CatCount(prev.n + 1, prev.cents + c))
        touched += e.event_type
      }
      // deterministic emission order; only categories touched this batch
      touched.toSeq.sorted.iterator.map { t =>
        val c = cats.getValue(t)
        ProfileRow(key, t, c.n, c.cents)
      }
    }
  }

  /** The profile stream: events keyed by user through
    * [[CategoryProfileProcessor]]. */
  def categoryProfile(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(new CategoryProfileProcessor, TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }
}
