package graft

import org.apache.spark.sql.functions._

import graft.streaming.{StreamAgg, StreamIngest}

class StreamHeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  test("Misra-Gries guarantees hold in streaming window state") {
    val base = tmp("shh")
    // day 1: heavy item 'a' (6 of 9 = 2/3 > 1/(k+1)); day 2: all distinct
    val evs =
      (1 to 6).map(i => (i.toLong, "a", s"2024-01-01 0$i:00:00", 1.0)) ++
      Seq((7L, "b", "2024-01-01 07:00:00", 1.0),
        (8L, "b", "2024-01-01 08:00:00", 1.0),
        (9L, "c", "2024-01-01 09:00:00", 1.0),
        (10L, "d", "2024-01-02 01:00:00", 1.0),
        (11L, "e", "2024-01-02 02:00:00", 1.0),
        (0L, "__sentinel", "2024-03-01 00:00:00", 0.0))
    evs.toDF("user_id", "event_type", "tss", "value")
      .select(to_json(struct(col("user_id"), col("event_type"),
        (unix_timestamp(col("tss"), "yyyy-MM-dd HH:mm:ss") * 1000000L).as("ts_us"),
        col("value"))).as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$base/in")
    val k = 2
    val sink = StreamIngest.runBounded(
      StreamAgg.windowedHeavyHitters(StreamIngest.events(spark, s"$base/in"),
        itemCol = "event_type", k = k,
        windowLength = "1 day", watermarkDelay = "1 minute"),
      s"$base/sink", s"$base/ckpt").sink
    val day1 = sink.filter(date_format(col("window_start"), "yyyy-MM-dd") === "2024-01-01")
      .select(col("n"), col("mg")).head()
    val n1 = day1.getLong(0)
    val mg1 = day1.getMap[String, Long](1)
    assert(n1 == 9L)
    assert(mg1.size <= k)
    // presence guarantee: 'a' (6 > 9/3) MUST be in the summary
    assert(mg1.contains("a"), s"mg=$mg1")
    // hard bounds vs true counts
    val truth = Map("a" -> 6L, "b" -> 2L, "c" -> 1L)
    mg1.foreach { case (item, est) =>
      val t = truth(item)
      assert(est <= t && (t - est) * (k + 1) <= n1, s"item=$item est=$est")
    }
    // day 2: k=2 summary over 2 distinct singletons is exact
    val day2 = sink.filter(date_format(col("window_start"), "yyyy-MM-dd") === "2024-01-02")
      .select(col("mg")).head().getMap[String, Long](0)
    assert(day2 == Map("d" -> 1L, "e" -> 1L))
  }
}
