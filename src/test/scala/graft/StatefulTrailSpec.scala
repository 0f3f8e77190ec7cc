package graft

import graft.streaming.{StatefulTrail, StreamIngest}

class StatefulTrailSpec extends SparkTestBase {
  import spark.implicits._

  private def stage(base: String, rows: Seq[(Long, Long, String, Long, Double)]): String = {
    rows.map { case (id, uid, et, sec, v) => (id, uid, et, sec * 1000000L, v) }
      .toDF("event_id", "user_id", "event_type", "ts_us", "value")
      .toJSON.coalesce(1).write.mode("overwrite").text(s"$base/in")
    s"$base/in"
  }

  private def digests(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Long)] =
    df.as[(Long, Int, Long, Long)].collect().toSeq.sorted

  test("keeps the k most recent events per user by (ts, event_id) recency") {
    val base = tmp("trail")
    val in = stage(base, Seq(
      (1L, 10L, "a", 100L, 1.0), (2L, 10L, "b", 300L, 2.0),
      (3L, 10L, "c", 200L, 4.0), (4L, 10L, "d", 400L, 8.0),
      (5L, 20L, "e", 50L, 0.5)))
    val out = StreamIngest.runBounded(
      StatefulTrail.trailingK(StreamIngest.events(spark, in), k = 3),
      s"$base/out", s"$base/ckpt", statePartitions = Some(4)).sink
    // user 10: recency order 4(400) > 2(300) > 3(200); event 1 evicted
    assert(digests(out) == Seq(
      (10L, 3, 4L, 140000L), // 8.0 + 2.0 + 4.0 in ten-thousandths
      (20L, 1, 5L, 5000L)))
  }

  test("ties on ts break by event_id; trailing set survives a checkpointed restart") {
    val base = tmp("trail2")
    val in = stage(base, Seq(
      (1L, 7L, "a", 100L, 1.0), (2L, 7L, "b", 100L, 2.0), (3L, 7L, "c", 100L, 3.0)))
    val first = StreamIngest.runBounded(
      StatefulTrail.trailingK(StreamIngest.events(spark, in), k = 2),
      s"$base/out", s"$base/ckpt").sink
    // tie at ts=100 → ids 3, 2 kept
    assert(digests(first) == Seq((7L, 2, 3L, 50000L)))
    // batch 2: one OLDER event (ts 50) must not displace, one newer must
    stage(base, Seq((9L, 7L, "d", 50L, 9.0), (10L, 7L, "e", 200L, 0.5)))
    val second = StreamIngest.runBounded(
      StatefulTrail.trailingK(StreamIngest.events(spark, in), k = 2),
      s"$base/out", s"$base/ckpt").sink
    // sink accumulates batch 1 digest + batch 2 digest: trailing 2 is
    // now {10 (ts 200), 3 (ts 100)} → 0.5 + 3.0
    assert(digests(second) == Seq((7L, 2, 3L, 50000L), (7L, 2, 10L, 35000L)))
  }

  test("only keys touched in a batch re-emit") {
    val base = tmp("trail3")
    val in = stage(base, Seq((1L, 1L, "a", 10L, 1.0), (2L, 2L, "b", 10L, 2.0)))
    StreamIngest.runBounded(
      StatefulTrail.trailingK(StreamIngest.events(spark, in), k = 3),
      s"$base/out", s"$base/ckpt")
    stage(base, Seq((3L, 1L, "c", 20L, 3.0))) // only user 1
    val out = StreamIngest.runBounded(
      StatefulTrail.trailingK(StreamIngest.events(spark, in), k = 3),
      s"$base/out", s"$base/ckpt").sink
    val user2Rows = digests(out).filter(_._1 == 2L)
    assert(user2Rows.size == 1, "untouched key must not re-emit")
    assert(digests(out).filter(_._1 == 1L).map(_._3).toSet == Set(1L, 3L))
  }
}
