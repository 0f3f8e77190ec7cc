package graft

import java.time.Duration

import graft.streaming.{StatefulDedup, StreamIngest}

class StatefulDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def stage(base: String, rows: Seq[(Long, Long, String, Long, Double)]): String = {
    rows.map { case (id, uid, et, sec, v) => (id, uid, et, sec * 1000000L, v) }
      .toDF("event_id", "user_id", "event_type", "ts_us", "value")
      .toJSON.coalesce(1).write.mode("overwrite").text(s"$base/in")
    s"$base/in"
  }

  private def collectIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("event_id").as[Long].collect().toSeq.sorted

  test("within-batch duplicates collapse to one deterministic representative") {
    val base = tmp("twsdedup")
    val in = stage(base, Seq(
      (1L, 10L, "view", 200L, 9.9),   // later ts — must NOT be the representative
      (1L, 11L, "click", 100L, 1.5),  // min (ts, type, value, uid) → survives
      (1L, 12L, "click", 100L, 2.5),
      (2L, 20L, "view", 300L, 2.0)))
    val out = StreamIngest.runBounded(
      StatefulDedup.firstSeen(StreamIngest.events(spark, in)),
      s"$base/out", s"$base/ckpt", statePartitions = Some(4)).sink
    val rows = out.select("event_id", "user_id", "event_type", "value")
      .as[(Long, Long, String, Double)].collect().toSeq.sortBy(_._1)
    assert(rows == Seq((1L, 11L, "click", 1.5), (2L, 20L, "view", 2.0)))
  }

  test("state survives a checkpointed restart: re-sent keys stay suppressed without TTL") {
    val base = tmp("twsrestart")
    val in = stage(base, Seq((1L, 10L, "click", 100L, 1.0)))
    val first = StreamIngest.runBounded(
      StatefulDedup.firstSeen(StreamIngest.events(spark, in)),
      s"$base/out", s"$base/ckpt").sink
    assert(collectIds(first) == Seq(1L))
    // second delivery of key 1 plus a genuinely new key, NEW input file
    stage(base, Seq((1L, 10L, "click", 500L, 9.0), (7L, 70L, "view", 600L, 2.0)))
    val second = StreamIngest.runBounded(
      StatefulDedup.firstSeen(StreamIngest.events(spark, in)),
      s"$base/out", s"$base/ckpt").sink
    // sink accumulates; key 1 emitted exactly once across both runs
    assert(collectIds(second) == Seq(1L, 7L))
  }

  test("a wall-clock TTL re-admits a key after expiry across restarts") {
    val base = tmp("twsttl")
    val ttl = Some(Duration.ofMillis(200))
    val in = stage(base, Seq((5L, 10L, "click", 100L, 1.0)))
    val first = StreamIngest.runBounded(
      StatefulDedup.firstSeen(StreamIngest.events(spark, in), ttl = ttl),
      s"$base/out", s"$base/ckpt").sink
    assert(collectIds(first) == Seq(5L))
    Thread.sleep(2000) // comfortably past the TTL
    stage(base, Seq((5L, 10L, "click", 900L, 3.0)))
    val second = StreamIngest.runBounded(
      StatefulDedup.firstSeen(StreamIngest.events(spark, in), ttl = ttl),
      s"$base/out", s"$base/ckpt").sink
    // expired state no longer suppresses: key 5 appears twice in the sink
    assert(collectIds(second) == Seq(5L, 5L))
  }

  test("an empty source yields an empty typed frame, not a missing-path error") {
    val base = tmp("twsempty")
    stage(base, Seq.empty)
    val out = StreamIngest.runBounded(
      StatefulDedup.firstSeen(StreamIngest.events(spark, s"$base/in")),
      s"$base/out", s"$base/ckpt").sink
    assert(out.collect().isEmpty)
  }
}
