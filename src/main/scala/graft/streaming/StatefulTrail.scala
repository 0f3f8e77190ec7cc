package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

import StatefulDedup.EventRow

/** Per-key trailing-k digest on transformWithState LIST state — the
  * second arbitrary-state primitive (q159 exercises ValueState): each
  * user's state is their k most recent events, merged on every batch,
  * surviving restarts through the checkpoint. This is the feature-store
  * "last N interactions per user" serving shape, which neither windowed
  * aggregation (fixed time, unbounded count) nor dropDuplicates can
  * express.
  *
  * Determinism: recency is the total order (ts desc, event_id desc) —
  * never iterator arrival order — and the digest sum is integer
  * ten-thousandths (HALF_UP, the engine-shared rounding), so any engine
  * replays the emitted digest exactly.
  *
  * 100 TB shape: RocksDB holds exactly k rows per live key regardless of
  * history length; each batch touches only the keys present in it; the
  * merge is O(k + batch-slice) per key.
  */
object StatefulTrail {

  final case class TrailOut(user_id: Long, n_trail: Int, last_event_id: Long,
                            trail_cents: Long)

  class TrailingKProcessor(k: Int)
      extends StatefulProcessor[Long, EventRow, TrailOut] {
    require(k >= 1, s"trailing k must be >= 1, got $k")
    @transient private var trail: ListState[EventRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      trail = getHandle.getListState[EventRow]("trail",
        Encoders.product[EventRow], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EventRow],
                                 timerValues: TimerValues): Iterator[TrailOut] = {
      val merged = (trail.get().toSeq ++ rows.toSeq)
        .sortBy(e => (-e.ts.getTime, -e.event_id)).take(k)
      trail.put(merged.toArray)
      val cents = merged.map(e =>
        BigDecimal(e.value * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum
      Iterator.single(TrailOut(key, merged.size, merged.head.event_id, cents))
    }
  }

  /** The digest stream: events keyed by user through
    * [[TrailingKProcessor]]; one TrailOut per touched key per batch. */
  def trailingK(events: DataFrame, k: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(new TrailingKProcessor(k), TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Bounded run (AvailableNow + RocksDB pin, [[StatefulDedup.runBounded]]),
    * returning the accumulated sink. */
  def runTrailingKToCompletion(spark: SparkSession, inPath: String,
                               outPath: String, checkpointPath: String,
                               k: Int = 3,
                               statePartitions: Option[Int] = None): DataFrame = {
    runBoundedTrail(spark, inPath, outPath, checkpointPath, k, statePartitions)
    StreamIngest.readSink(spark, outPath,
      org.apache.spark.sql.types.StructType.fromDDL(
        "user_id LONG, n_trail INT, last_event_id LONG, trail_cents LONG"))
  }

  private def runBoundedTrail(spark: SparkSession, inPath: String,
                              outPath: String, checkpointPath: String,
                              k: Int, statePartitions: Option[Int]): Unit =
    StatefulDedup.runBounded(spark,
      trailingK(StatefulDedup.eventSource(spark, inPath), k),
      outPath, checkpointPath, statePartitions, wallClockMode = false)
}
