package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.ingest.Versioned

/** Stateful streaming operators beyond the reference's stateless
  * parse-and-persist job: event-time tumbling-window aggregation with a
  * watermark, and gap-based sessionization via flatMapGroupsWithState.
  * The reference needs neither (its stream is pure ETL, §2.9) — these are
  * the beyond-reference streaming surface a real event pipeline adds
  * first.
  *
  * Scale posture: both operators keep state bounded. The watermark evicts
  * closed windows from the state store; session state holds one small
  * record per open (user) key and times out on the event-time watermark —
  * no unbounded key accumulation.
  */
object StreamAgg {

  /** Event shape shared by the windowed and sessionized paths. */
  final case class Event(user_id: Long, event_type: String, ts: Timestamp, value: Double)

  final case class SessionOut(user_id: Long, n_events: Long, start_ts: Timestamp,
                              end_ts: Timestamp, sum_value: Double)

  /** Open-session state: epoch-millis bounds + running aggregates. */
  final case class SessionState(n: Long, start: Long, last: Long, sum: Double)

  /** Tumbling event-time window counts with a watermark: the streaming
    * form of the batch 7-day range filter (§2.2 P4). Append mode — a
    * window emits exactly once, when the watermark passes its end.
    */
  def windowedCounts(events: DataFrame, windowLength: String = "1 hour",
                     watermarkDelay: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based sessionization: consecutive events of a user belong to one
    * session while gaps stay under `gapSeconds`. State per key is one
    * open-session record; event-time timeout closes idle sessions when
    * the watermark passes start + gap.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
                 watermarkDelay: String = "1 minute"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val S = SessionState

    def close(uid: Long, s: SessionState): SessionOut =
      SessionOut(uid, s.n, new Timestamp(s.start), new Timestamp(s.last), s.sum)

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(uid, _)).toList
            state.remove()
            out.iterator
          } else {
            // events within a micro-batch are not ordered — sort this
            // key's slice (bounded by per-key batch volume, not history)
            val evs = it.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            evs.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapSeconds * 1000 =>
                  cur = Some(S(s.n + 1, s.start, math.max(s.last, t), s.sum + e.value))
                case Some(s) =>
                  closed ::= close(uid, s)
                  cur = Some(S(1L, t, t, e.value))
                case None =>
                  cur = Some(S(1L, t, t, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapSeconds * 1000)
            }
            closed.reverseIterator
          }
      }
  }

  final case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)

  /** Running per-user totals via mapGroupsWithState (the one-output-per-
    * key-per-batch sibling of [[sessionize]]): state is a single
    * (count, sum) pair per user, emitted in Update mode after every
    * micro-batch.
    *
    * `idleTimeoutMs` (opt-in) evicts keys idle that long, bounding the
    * state store on an unbounded key space. It uses processing-time
    * timeouts, which make the trigger schedule timeout-check batches
    * even with no data — leave it off for bounded test runs
    * (`processAllAvailable` never settles under continuous batches).
    */
  def runningTotals(events: Dataset[Event],
                    idleTimeoutMs: Option[Long] = None): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    val conf = if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
               else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](conf) {
        (uid: Long, it: Iterator[Event], state: GroupState[UserTotals]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0d))
            val cur = it.foldLeft(prev)((acc, e) =>
              UserTotals(uid, acc.n_events + 1, acc.sum_value + e.value))
            state.update(cur)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            cur
          }
      }
  }

  /** Streaming deduplication on a key, state bounded by the watermark:
    * `dropDuplicatesWithinWatermark` keeps one row per `keyCol` and
    * evicts a key's state once the watermark passes its event time plus
    * the delay — the streaming form of exact dedup (§2.1 of the dedup
    * family), and the op every at-least-once ingest pipeline needs in
    * front of its sink. Without the watermark bound the key state would
    * grow with the stream forever.
    */
  def dedupedEvents(events: DataFrame, keyCol: String = "event_id",
                    watermarkDelay: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Shared bounded-run plumbing for the three `run*ToCompletion`
    * drivers: the epoch-µs JSON event source (timestamps travel as longs
    * — JSON timestamp parsing is millisecond-bounded and would shift
    * µs-precision boundary events) and the checkpointed parquet
    * AvailableNow sink, with the state-store sizing conf scoped around
    * query start (the running query keeps the value it started with;
    * the count is pinned into the checkpoint).
    */
  private def jsonEventSource(spark: SparkSession, inPath: String,
                              schema: String,
                              maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    // source-side backpressure: AvailableNow honors the file source's
    // rate limit, so a large backlog drains as bounded micro-batches
    // instead of one giant batch (the incremental-progress contract
    // runDedupIncremental exposes)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(inPath)
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
  }

  private def runToParquet(spark: SparkSession, df: DataFrame, outPath: String,
                           checkpointPath: String,
                           statePartitions: Option[Int])
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    statePartitions.foreach(n => spark.conf.set(key, n.toString))
    val q = try {
      df.writeStream
        .format("parquet")
        .outputMode("append")
        .option("checkpointLocation", checkpointPath)
        .option("path", outPath)
        .trigger(Trigger.AvailableNow())
        .start()
    } finally spark.conf.set(key, prev)
    q.awaitTermination()
    // the per-batch progress log (state rows, eviction counts, input
    // rates) — the observability surface the bounded-run drivers return
    // to callers that monitor state growth
    q.recentProgress.toSeq
  }

  private val EventWithIdSchema =
    "event_id LONG, user_id LONG, event_type STRING, ts_us LONG, value DOUBLE"

  /** Run [[dedupedEvents]] over a bounded file source to completion and
    * return the deduplicated rows read back from the sink. Same
    * epoch-µs-long timestamp transport and state-sizing contract as
    * [[runWindowedToCompletion]].
    */
  def runDedupToCompletion(spark: SparkSession, inPath: String, outPath: String,
                           checkpointPath: String, keyCol: String = "event_id",
                           watermarkDelay: String = "1 minute",
                           statePartitions: Option[Int] = None): DataFrame = {
    val src = jsonEventSource(spark, inPath, EventWithIdSchema)
    runToParquet(spark, dedupedEvents(src, keyCol, watermarkDelay),
      outPath, checkpointPath, statePartitions)
    StreamIngest.readSink(spark, outPath, org.apache.spark.sql.types.StructType.fromDDL(
      "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP"))
  }

  /** [[runDedupToCompletion]] with source-side backpressure and the
    * per-batch progress log returned alongside the sink: the backlog
    * drains `maxFilesPerTrigger` files per micro-batch (AvailableNow
    * honors the source rate limit) instead of one giant batch.
    *
    * This is the observability surface for THE 100 TB streaming failure
    * mode — state growth: each `StreamingQueryProgress.stateOperators`
    * entry reports `numRowsTotal` / `numRowsRemoved` after its batch,
    * so a caller (or StreamBackpressureSpec) can assert that watermark
    * eviction keeps state bounded while the backlog drains, rather than
    * trusting the state layout alone. A production deploy feeds the
    * same progress objects to its metrics sink via a
    * StreamingQueryListener; the bounded-run driver returns them
    * directly because the query is finite.
    */
  def runDedupIncremental(spark: SparkSession, inPath: String, outPath: String,
                          checkpointPath: String, keyCol: String = "event_id",
                          watermarkDelay: String = "1 minute",
                          statePartitions: Option[Int] = None,
                          maxFilesPerTrigger: Int = 1)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val src = jsonEventSource(spark, inPath, EventWithIdSchema,
      maxFilesPerTrigger = Some(maxFilesPerTrigger))
    val progress = runToParquet(spark, dedupedEvents(src, keyCol, watermarkDelay),
      outPath, checkpointPath, statePartitions)
    (StreamIngest.readSink(spark, outPath, org.apache.spark.sql.types.StructType.fromDDL(
      "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP")),
      progress)
  }

  /** Stream-static enrichment: join a streaming fact against a static
    * dimension frame — stateless (no watermark, no state store; the dim
    * is re-planned per micro-batch, so a dim refresh between batches is
    * picked up). The broadcast hint keeps each micro-batch a map-side
    * join; at 100 TB of stream the dim side is the ONLY thing that must
    * fit in executor memory.
    */
  def enrichedEvents(events: DataFrame, dim: DataFrame,
                     joinKey: String): DataFrame =
    events.join(broadcast(dim), Seq(joinKey))

  /** Run [[enrichedEvents]] over a bounded file source to completion and
    * return the enriched rows read back from the sink (stateless — no
    * state store, so no statePartitions knob). */
  def runEnrichToCompletion(spark: SparkSession, inPath: String, dim: DataFrame,
                            joinKey: String, outPath: String,
                            checkpointPath: String): DataFrame = {
    val src = jsonEventSource(spark, inPath, EventWithIdSchema)
    val joined = enrichedEvents(src, dim, joinKey)
    runToParquet(spark, joined, outPath, checkpointPath, statePartitions = None)
    // explicit schema from the streaming plan: an all-miss join writes
    // zero files and schema inference on the bare sink would throw
    StreamIngest.readSink(spark, outPath, joined.schema)
  }

  /** Streaming upsert sink into a VERSIONED table — the Delta-MERGE
    * landing of the reference (process_recommendation_events.py's sink
    * lineage) on the table format's log. Each micro-batch first
    * collapses to one row per key, latest `ts` wins
    * ([[graft.operators.Merge.upsert]] over an empty base — at-least-once
    * sources and doubled payloads deliver a key more than once), then
    * lands as one [[Versioned.upsert]] commit (the first batch, on an
    * empty path, as the creating [[Versioned.overwrite]]); a later batch
    * replaces the rows of the keys it carries. Every batch is a claimed
    * commit over immutable files, so a crash mid-write leaves the
    * previous version whole, and a batch replayed after checkpoint
    * recovery re-applies the same rows — a content no-op. Returns the
    * table at its head. */
  def runVersionedUpsert(spark: SparkSession, inPath: String,
                         tablePath: String, checkpointPath: String,
                         keyCol: String = "event_id"): DataFrame = {
    val src = jsonEventSource(spark, inPath, EventWithIdSchema)
    val q = StreamIngest.startForeachBatchSink(src, checkpointPath) { (batch, _) =>
      val s = batch.sparkSession
      val latest = graft.operators.Merge.upsert(batch.limit(0), batch,
        Seq(keyCol), Seq("ts"))
      if (Versioned.latestVersion(s, tablePath) == 0L)
        Versioned.overwrite(latest, tablePath)
      else Versioned.upsert(s, tablePath, latest, Seq(keyCol))
      ()
    }
    q.awaitTermination()
    Versioned.read(spark, tablePath)
  }

  /** Stream-stream interval join: views attributed to the click they
    * preceded within `intervalSeconds`, per user — the event-attribution
    * join every analytics pipeline runs. Both sides carry watermarks and
    * the join condition carries the event-time range, so each side's
    * buffered state is evicted once the watermark passes the interval:
    * state is bounded by (delay + interval) of stream time, never the
    * stream's history.
    */
  def intervalJoined(clicks: DataFrame, views: DataFrame,
                     intervalSeconds: Long = 3600,
                     watermarkDelay: String = "1 minute"): DataFrame =
    clicks
      .withWatermark("click_ts", watermarkDelay)
      .join(views.withWatermark("view_ts", watermarkDelay),
        col("user_id") === col("v_user_id") &&
          col("view_ts") >= col("click_ts") - expr(s"INTERVAL $intervalSeconds SECONDS") &&
          col("view_ts") <= col("click_ts"))

  /** LEFT OUTER stream-stream interval join: like [[intervalJoined]],
    * but clicks with no attributable view are ALSO emitted, null-padded —
    * once the watermark proves no qualifying view can still arrive (the
    * click's join window has closed on event time). Unmatched-row emission
    * rides the no-data micro-batch Spark runs after a watermark advance;
    * rows younger than the final watermark stay in state unemitted, which
    * is why the oracle-gated query stages a far-future sentinel on BOTH
    * streams (the global watermark is the MIN across inputs).
    */
  def intervalJoinedOuter(clicks: DataFrame, views: DataFrame,
                          intervalSeconds: Long = 3600,
                          watermarkDelay: String = "1 minute"): DataFrame =
    clicks
      .withWatermark("click_ts", watermarkDelay)
      .join(views.withWatermark("view_ts", watermarkDelay),
        col("user_id") === col("v_user_id") &&
          col("view_ts") >= col("click_ts") - expr(s"INTERVAL $intervalSeconds SECONDS") &&
          col("view_ts") <= col("click_ts"),
        "leftOuter")

  private def intervalSides(spark: SparkSession, inPath: String):
      (DataFrame, DataFrame) = {
    def side(eventType: String) =
      jsonEventSource(spark, inPath, EventWithIdSchema)
        .filter(col("event_type") === eventType)
    (side("click")
       .select(col("event_id").as("click_id"), col("user_id"),
         col("ts").as("click_ts")),
     side("view")
       .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
         col("ts").as("view_ts")))
  }

  /** Run [[intervalJoined]] over a bounded file source to completion:
    * the event file is read as TWO streams (clicks and views) from the
    * same source, joined, persisted, and read back. */
  def runIntervalJoinToCompletion(spark: SparkSession, inPath: String,
                                  outPath: String, checkpointPath: String,
                                  intervalSeconds: Long = 3600,
                                  statePartitions: Option[Int] = None): DataFrame = {
    val (clicks, views) = intervalSides(spark, inPath)
    val joined = intervalJoined(clicks, views, intervalSeconds)
    runToParquet(spark, joined, outPath, checkpointPath, statePartitions)
    // explicit schema: a no-match interval join writes zero files and
    // schema inference on the bare sink would throw
    StreamIngest.readSink(spark, outPath, joined.schema)
  }

  /** [[runIntervalJoinToCompletion]]'s left-outer sibling. */
  def runOuterIntervalJoinToCompletion(spark: SparkSession, inPath: String,
                                       outPath: String, checkpointPath: String,
                                       intervalSeconds: Long = 3600,
                                       statePartitions: Option[Int] = None): DataFrame = {
    val (clicks, views) = intervalSides(spark, inPath)
    val joined = intervalJoinedOuter(clicks, views, intervalSeconds)
    runToParquet(spark, joined, outPath, checkpointPath, statePartitions)
    StreamIngest.readSink(spark, outPath, joined.schema)
  }

  /** Run a windowed aggregation over a bounded file source to completion
    * and return the emitted (closed) windows read back from the sink.
    *
    * `statePartitions` sizes the state store (a per-stream deploy
    * decision: the partition count is PINNED into the checkpoint at first
    * start, and every micro-batch commits one store file per partition —
    * size it to key cardinality, not to the batch shuffle default). The
    * session conf is set only for the duration of query start and
    * restored after; the running query keeps the value it started with.
    */
  def runWindowedToCompletion(spark: SparkSession, inPath: String, outPath: String,
                              checkpointPath: String, windowLength: String = "1 hour",
                              watermarkDelay: String = "1 minute",
                              statePartitions: Option[Int] = None): DataFrame = {
    val src = jsonEventSource(spark, inPath,
      "user_id LONG, event_type STRING, ts_us LONG, value DOUBLE")
    runToParquet(spark, windowedCounts(src, windowLength, watermarkDelay),
      outPath, checkpointPath, statePartitions)
    StreamIngest.readSink(spark, outPath, org.apache.spark.sql.types.StructType.fromDDL(
      "window_start TIMESTAMP, event_type STRING, n LONG, sum_value DOUBLE"))
  }

  /** Per-window fixed-width value histogram — the streaming input of a
    * drift monitor ([[graft.analytics.Drift.psiVsFirstWindow]] consumes
    * the sink): tumbling event-time windows, append mode, one (window,
    * bin, count) row per closed window. State per window is
    * bin-cardinality, evicted by the watermark — the same bounded-state
    * contract as [[windowedCounts]].
    */
  def windowedHistogram(events: DataFrame, windowLength: String = "1 day",
                        watermarkDelay: String = "1 minute",
                        binWidth: Double = 25.0): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    events
      .filter(col("value").isNotNull && !isnan(col("value")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength),
        floor(col("value") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("bin"), col("n"))
  }

  /** Per-window Misra–Gries heavy-hitter summary IN streaming state —
    * the mergeable-summary property is exactly what makes a sketch
    * legal here: micro-batch partials merge into the window's state
    * buffer through any partial-aggregation tree (Agarwal et al., PODS
    * 2012), and the summary's hard guarantees (est ≤ true, deficit ≤
    * n/(k+1), every item above n/(k+1) present) survive every merge.
    * State per window is ≤ k counters + a count, watermark-evicted.
    * Output per closed window: (window_start, mg map, n).
    */
  def windowedHeavyHitters(events: DataFrame, itemCol: String, k: Int,
                           windowLength: String = "1 day",
                           watermarkDelay: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength))
      .agg(graft.functions.misra_gries(col(itemCol), k).as("mg"),
        count(col(itemCol)).as("n"))
      .select(col("window.start").as("window_start"), col("mg"), col("n"))

  /** Per-window distinct-count HLL sketch in streaming state — same
    * licence as [[windowedHeavyHitters]]: register max is associative/
    * commutative/IDEMPOTENT, so micro-batch partials merge through the
    * window's state buffer and (unlike a count) even replayed rows
    * cannot double-count. State per window is 2^p bytes, watermark-
    * evicted. Output per closed window: (window_start, sk, n_rows).
    */
  def windowedDistinctSketch(events: DataFrame, keyCol: String, p: Int = 12,
                             windowLength: String = "1 day",
                             watermarkDelay: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength))
      .agg(graft.functions.hll_sketch(col(keyCol), p).as("sk"),
        count(col(keyCol)).as("n_rows"))
      .select(col("window.start").as("window_start"), col("sk"), col("n_rows"))

  /** Per-window dataset content fingerprint in streaming state
    * ([[graft.ingest.Fingerprint]]'s additive 32-bit digest sum over
    * (user_id, event_type, event-time µs)). The deliberate CONTRAST to
    * [[windowedDistinctSketch]]: a SUM is not idempotent — any replayed
    * or dropped row moves the digest — so per-day equality between the
    * stream-written fingerprints and a batch recompute certifies the
    * checkpointed exactly-once sink path end to end, where the HLL
    * gate (register max absorbs replays) could not distinguish
    * at-least-once from exactly-once. State per window: two longs.
    */
  def windowedFingerprint(events: DataFrame, windowLength: String = "1 day",
                          watermarkDelay: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength))
      .agg(sum(graft.ingest.Fingerprint.rowDigest(Seq(
          col("user_id").cast("string"), col("event_type"),
          unix_micros(col("ts")).cast("string")))).as("fp"),
        count(lit(1)).as("n_rows"))
      .select(col("window.start").as("window_start"), col("fp"), col("n_rows"))

  /** Bounded run of [[windowedFingerprint]] over staged JSON events →
    * checkpointed parquet sink, read back. */
  def runFingerprintToCompletion(spark: SparkSession, inPath: String,
                                 outPath: String, checkpointPath: String,
                                 windowLength: String = "1 day",
                                 watermarkDelay: String = "1 minute",
                                 statePartitions: Option[Int] = None): DataFrame = {
    val src = jsonEventSource(spark, inPath,
      "user_id LONG, event_type STRING, ts_us LONG, value DOUBLE")
    runToParquet(spark,
      windowedFingerprint(src, windowLength, watermarkDelay),
      outPath, checkpointPath, statePartitions)
    StreamIngest.readSink(spark, outPath, org.apache.spark.sql.types.StructType.fromDDL(
      "window_start TIMESTAMP, fp BIGINT, n_rows BIGINT"))
  }

  /** Bounded run of [[windowedDistinctSketch]] over staged JSON events →
    * checkpointed parquet sink, read back. */
  def runDistinctSketchToCompletion(spark: SparkSession, inPath: String,
                                    outPath: String, checkpointPath: String,
                                    keyCol: String, p: Int = 12,
                                    windowLength: String = "1 day",
                                    watermarkDelay: String = "1 minute",
                                    statePartitions: Option[Int] = None): DataFrame = {
    val src = jsonEventSource(spark, inPath,
      "user_id LONG, event_type STRING, ts_us LONG, value DOUBLE")
    runToParquet(spark,
      windowedDistinctSketch(src, keyCol, p, windowLength, watermarkDelay),
      outPath, checkpointPath, statePartitions)
    StreamIngest.readSink(spark, outPath, org.apache.spark.sql.types.StructType.fromDDL(
      "window_start TIMESTAMP, sk BINARY, n_rows BIGINT"))
  }

  /** Bounded run of [[windowedHeavyHitters]] over staged JSON events →
    * checkpointed parquet sink, read back. */
  def runHeavyHittersToCompletion(spark: SparkSession, inPath: String,
                                  outPath: String, checkpointPath: String,
                                  itemCol: String, k: Int,
                                  windowLength: String = "1 day",
                                  watermarkDelay: String = "1 minute",
                                  statePartitions: Option[Int] = None): DataFrame = {
    val src = jsonEventSource(spark, inPath,
      "user_id LONG, event_type STRING, ts_us LONG, value DOUBLE")
    runToParquet(spark,
      windowedHeavyHitters(src, itemCol, k, windowLength, watermarkDelay),
      outPath, checkpointPath, statePartitions)
    StreamIngest.readSink(spark, outPath, org.apache.spark.sql.types.StructType.fromDDL(
      "window_start TIMESTAMP, mg MAP<STRING, BIGINT>, n BIGINT"))
  }

  /** Bounded run of [[windowedHistogram]] over staged JSON events →
    * checkpointed parquet sink, read back (the q32 harness shape). */
  def runHistogramToCompletion(spark: SparkSession, inPath: String, outPath: String,
                               checkpointPath: String, windowLength: String = "1 day",
                               watermarkDelay: String = "1 minute",
                               binWidth: Double = 25.0,
                               statePartitions: Option[Int] = None): DataFrame = {
    val src = jsonEventSource(spark, inPath,
      "user_id LONG, event_type STRING, ts_us LONG, value DOUBLE")
    runToParquet(spark,
      windowedHistogram(src, windowLength, watermarkDelay, binWidth),
      outPath, checkpointPath, statePartitions)
    StreamIngest.readSink(spark, outPath, org.apache.spark.sql.types.StructType.fromDDL(
      "window_start TIMESTAMP, bin LONG, n LONG"))
  }
}
