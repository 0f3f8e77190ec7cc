package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.StructType

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
  * the operator composes with the same AvailableNow bounded-run +
  * progress-log observability as every other streaming op here
  * ([[StreamAgg.runDedupIncremental]]).
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

  /** The dedup stream: json events keyed by `event_id` through
    * [[FirstSeenProcessor]]. TimeMode.None without TTL (pure
    * first-occurrence, fully deterministic); ProcessingTime when a TTL
    * is set (TTL is wall-clock by definition).
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

  /** The shared json event source in [[EventRow]] column order. */
  private[streaming] def eventSource(spark: SparkSession, inPath: String): DataFrame =
    spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, ts_us LONG, value DOUBLE")
      .json(inPath)
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))

  /** Bounded run to a parquet sink (AvailableNow), returning the sink
    * contents; transformWithState requires the RocksDB state store
    * provider, pinned here for the query's lifetime and restored after.
    */
  def runFirstSeenToCompletion(spark: SparkSession, inPath: String,
                               outPath: String, checkpointPath: String,
                               ttl: Option[Duration] = None,
                               statePartitions: Option[Int] = None): DataFrame = {
    runBounded(spark, firstSeen(eventSource(spark, inPath), ttl), outPath,
      checkpointPath, statePartitions, wallClockMode = ttl.isDefined)
    StreamIngest.readSink(spark, outPath, StructType.fromDDL(
      "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP"))
  }

  /** Bounded run of a transformWithState stream to a parquet sink with
    * the RocksDB provider pinned for the query's lifetime.
    *
    * `wallClockMode = false` (TimeMode.None): AvailableNow drains and
    * terminates. `wallClockMode = true` (TimeMode.ProcessingTime, e.g.
    * TTL state): AvailableNow NEVER terminates and processAllAvailable
    * never settles — the engine keeps scheduling maintenance
    * micro-batches forever (both measured: batches kept committing
    * until killed) — so the run is bounded explicitly: the staging
    * contract is one json file = one data batch; stop once a committed
    * batch has consumed input rows.
    */
  private[streaming] def runBounded(spark: SparkSession, stream: DataFrame,
                                    outPath: String, checkpointPath: String,
                                    statePartitions: Option[Int],
                                    wallClockMode: Boolean): Unit = {
    val parts = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prevParts = spark.conf.get(parts)
    val prevProvider = spark.conf.getOption(provider)
    statePartitions.foreach(n => spark.conf.set(parts, n.toString))
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val writer = stream.writeStream
        .format("parquet")
        .outputMode("append")
        .option("checkpointLocation", checkpointPath)
        .option("path", outPath)
      if (!wallClockMode) {
        val q = writer.trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } else {
        val q = writer.start()
        val deadline = System.nanoTime() + 120L * 1000000000L
        var drained = false
        while (!drained && System.nanoTime() < deadline) {
          drained = q.recentProgress.exists(_.numInputRows > 0)
          if (!drained) Thread.sleep(100)
        }
        q.stop()
        q.awaitTermination()
        if (!drained) throw new IllegalStateException(
          "runBounded: no data micro-batch committed within the 120 s " +
            "wall-clock-mode deadline")
      }
    } finally {
      spark.conf.set(parts, prevParts)
      prevProvider match {
        case Some(p) => spark.conf.set(provider, p)
        case None => spark.conf.unset(provider)
      }
    }
  }
}
