package graft

import graft.streaming.{StatefulSession, StreamIngest}

class StatefulSessionSpec extends SparkTestBase {
  import spark.implicits._

  /** Stage events + a far-future sentinel (user −1) that pushes the
    * watermark past every real session's expiry. */
  private def stage(base: String, rows: Seq[(Long, Long, Long)]): String = {
    val far = (rows.map(_._3).maxOption.getOrElse(0L) + 86400L)
    (rows.map { case (id, uid, sec) => (id, uid, "e", sec * 1000000L, 0.0) } :+
      ((-1L, -1L, "e", far * 1000000L, 0.0)))
      .toDF("event_id", "user_id", "event_type", "ts_us", "value")
      .toJSON.coalesce(1).write.mode("overwrite").text(s"$base/in")
    s"$base/in"
  }

  private def sessions(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.where("user_id >= 0").as[(Long, Long, Long, Long)].collect().toSeq.sorted

  test("gap split rule: exactly-gap pause stays joined, over-gap splits; timers flush open sessions") {
    val base = tmp("tses")
    val gap = 100L
    val in = stage(base, Seq(
      (1L, 10L, 1000L), (2L, 10L, 1100L),  // exactly gap apart -> one session
      (3L, 10L, 1201L),                    // 101 > gap -> new session
      (4L, 20L, 5000L)))
    val out = StreamIngest.runBounded(
      StatefulSession.sessionize(StreamIngest.events(spark, in), gapSeconds = gap),
      s"$base/out", s"$base/ckpt", statePartitions = Some(4)).sink
    assert(sessions(out) == Seq(
      (10L, 1000000000L, 1100000000L, 2L),
      (10L, 1201000000L, 1201000000L, 1L),
      (20L, 5000000000L, 5000000000L, 1L)))
  }

  test("matches the batch gaps-and-islands sessionizer on the same events") {
    val base = tmp("tses2")
    val evs = (1 to 60).map { i =>
      (i.toLong, (i % 4).toLong + 1, (i * 700 + (i % 7) * 1300).toLong)
    }
    val in = stage(base, evs)
    val got = sessions(StreamIngest.runBounded(
      StatefulSession.sessionize(StreamIngest.events(spark, in), gapSeconds = 1800),
      s"$base/out", s"$base/ckpt").sink)
    val want = rows(graft.operators.Sessionize.stats(
      evs.map { case (id, uid, sec) => (uid, id, sec * 1000000L) }
        .toDF("user_id", "event_id", "us"),
      "user_id", "us", "event_id", gapUs = 1800L * 1000000L)
      .select("user_id", "start_us", "end_us", "n_events"))
    assert(got.map(t => Seq[Any](t._1, t._2, t._3, t._4)).sortBy(_.mkString("|")) == want)
  }

  test("an open session carried across a checkpointed restart merges with later events") {
    val base = tmp("tses3")
    // batch 1: no sentinel far enough to close user 5's session? stage()
    // always sentinels — use a gap so large the session stays open
    val in = stage(base, Seq((1L, 5L, 1000L)))
    val first = StreamIngest.runBounded(
      StatefulSession.sessionize(StreamIngest.events(spark, in), gapSeconds = 1000000L),
      s"$base/out", s"$base/ckpt").sink
    assert(sessions(first).isEmpty, "session must still be open after batch 1")
    // batch 2: a second event within the gap, then nothing — still open
    stage(base, Seq((2L, 5L, 500000L)))
    val second = StreamIngest.runBounded(
      StatefulSession.sessionize(StreamIngest.events(spark, in), gapSeconds = 1000000L),
      s"$base/out", s"$base/ckpt").sink
    assert(sessions(second).isEmpty)
    // batch 3: an event far past the gap closes the merged 2-event session
    stage(base, Seq((3L, 5L, 2000000L)))
    val third = StreamIngest.runBounded(
      StatefulSession.sessionize(StreamIngest.events(spark, in), gapSeconds = 1000000L),
      s"$base/out", s"$base/ckpt").sink
    assert(sessions(third).contains((5L, 1000000000L, 500000000000L, 2L)))
  }
}
