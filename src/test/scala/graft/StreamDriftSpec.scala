package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Drift
import graft.streaming.{StreamAgg, StreamIngest}

class StreamDriftSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(day: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-${day}%02d 00:00:00")

  private def hist(rows: (Int, Long, Long)*): DataFrame =
    rows.map { case (d, b, n) => (ts(d), b, n) }
      .toDF("window_start", "bin", "n")

  test("identical window vs baseline scores (near) zero drift") {
    val h = hist((1, 0L, 50L), (1, 1L, 50L), (2, 0L, 50L), (2, 1L, 50L))
    val got = Drift.psiVsFirstWindow(h).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) == 100L && r.getLong(2) == 100L && r.getLong(3) == 2L)
    assert(r.getLong(4) == 0L, s"identical distributions must score 0: $r")
  }

  test("a shifted window scores large positive drift; bins union per pair") {
    // day 1 all in bin 0; day 2 all in bin 5 — disjoint supports
    val h = hist((1, 0L, 100L), (2, 5L, 100L))
    val got = Drift.psiVsFirstWindow(h).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(3) == 2L, "bins = union of both sides")
    // PSI for fully swapped mass ≈ 2 · (99/101) · ln(201/1) ≈ 10.4 nats
    assert(r.getLong(4) > 5_000_000_000L, s"disjoint supports must alarm: $r")
  }

  test("multiple windows each score independently against the baseline") {
    val h = hist((1, 0L, 80L), (1, 1L, 20L),
      (2, 0L, 80L), (2, 1L, 20L), // same as baseline
      (3, 0L, 20L), (3, 1L, 80L)) // inverted
    val got = Drift.psiVsFirstWindow(h).orderBy("window_start").collect()
    assert(got.length == 2)
    assert(got(0).getLong(4) == 0L)
    assert(got(1).getLong(4) > got(0).getLong(4))
  }

  test("empty histogram fails loudly") {
    val e = intercept[Exception] {
      Drift.psiVsFirstWindow(hist()).collect()
    }
    assert(messages(e).exists(m => m != null && m.contains("no baseline window")))
  }

  test("windowedHistogram bins and windows a bounded stream end-to-end") {
    val base = tmp("sdrift")
    val evs = Seq(
      (1L, "a", "2024-01-01 01:00:00", 10.0), // day1 bin0
      (2L, "a", "2024-01-01 02:00:00", 30.0), // day1 bin1
      (3L, "a", "2024-01-02 01:00:00", 10.0), // day2 bin0
      (4L, "a", "2024-01-02 02:00:00", 60.0), // day2 bin2
      // sentinel far in the future flushes both real windows
      (0L, "__sentinel", "2024-03-01 00:00:00", 0.0))
    evs.toDF("user_id", "event_type", "tss", "value")
      .select(to_json(struct(col("user_id"), col("event_type"),
        (unix_timestamp(col("tss"), "yyyy-MM-dd HH:mm:ss") * 1000000L).as("ts_us"),
        col("value"))).as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$base/in")
    val sink = StreamIngest.runBounded(
      StreamAgg.windowedHistogram(StreamIngest.events(spark, s"$base/in"),
        windowLength = "1 day", watermarkDelay = "1 minute", binWidth = 25.0),
      s"$base/sink", s"$base/ckpt").sink
    val got = sink.select(date_format(col("window_start"), "yyyy-MM-dd"),
      col("bin"), col("n")).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L),
      ("2024-01-02", 0L, 1L), ("2024-01-02", 2L, 1L)))
  }
}
