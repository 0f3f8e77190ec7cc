package graft

import graft.streaming.{StatefulProfile, StreamIngest}

class StatefulProfileSpec extends SparkTestBase {
  import spark.implicits._

  private def stage(base: String, rows: Seq[(Long, Long, String, Long, Double)]): String = {
    rows.map { case (id, uid, et, sec, v) => (id, uid, et, sec * 1000000L, v) }
      .toDF("event_id", "user_id", "event_type", "ts_us", "value")
      .toJSON.coalesce(1).write.mode("overwrite").text(s"$base/in")
    s"$base/in"
  }

  private def profile(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long, Long)] =
    df.as[(Long, String, Long, Long)].collect().toSeq.sorted

  test("per-(user, category) running counts and cent-exact sums within a batch") {
    val base = tmp("prof")
    val in = stage(base, Seq(
      (1L, 10L, "click", 100L, 1.25), (2L, 10L, "click", 200L, 2.50),
      (3L, 10L, "view", 300L, 0.10), (4L, 20L, "click", 400L, 9.99)))
    val out = StreamIngest.runBounded(
      StatefulProfile.categoryProfile(StreamIngest.events(spark, in)),
      s"$base/out", s"$base/ckpt", statePartitions = Some(4)).sink
    assert(profile(out) == Seq(
      (10L, "click", 2L, 375L), (10L, "view", 1L, 10L),
      (20L, "click", 1L, 999L)))
  }

  test("map entries accumulate across checkpointed restarts; untouched categories stay silent") {
    val base = tmp("prof2")
    val in = stage(base, Seq(
      (1L, 5L, "click", 100L, 1.00), (2L, 5L, "view", 100L, 2.00)))
    val first = StreamIngest.runBounded(
      StatefulProfile.categoryProfile(StreamIngest.events(spark, in)),
      s"$base/out", s"$base/ckpt").sink
    assert(profile(first) == Seq((5L, "click", 1L, 100L), (5L, "view", 1L, 200L)))
    stage(base, Seq((3L, 5L, "click", 200L, 0.50))) // only click touched
    val second = StreamIngest.runBounded(
      StatefulProfile.categoryProfile(StreamIngest.events(spark, in)),
      s"$base/out", s"$base/ckpt").sink
    // batch-2 emission: click advanced to (2, 150); view NOT re-emitted
    assert(profile(second) == Seq(
      (5L, "click", 1L, 100L), (5L, "click", 2L, 150L), (5L, "view", 1L, 200L)))
  }
}
