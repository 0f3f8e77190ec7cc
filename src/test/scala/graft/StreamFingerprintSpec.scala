package graft

import org.apache.spark.sql.functions._

import graft.streaming.{StreamAgg, StreamIngest}

class StreamFingerprintSpec extends SparkTestBase {
  import spark.implicits._

  private def digest(fields: Seq[String]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val enc = fields.map(f => s"${f.codePointCount(0, f.length)}:$f")
    val hex = d.digest(enc.mkString("").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16)
  }

  private def usOf(tss: String): Long =
    java.sql.Timestamp.valueOf(tss).getTime * 1000L

  test("windowed fingerprints equal the driver digest replay per day") {
    val base = tmp("sfp")
    val evs = Seq(
      (1L, "play", "2024-01-01 01:00:00", 1.0),
      (2L, "like", "2024-01-01 02:00:00", 1.0),
      (3L, "play", "2024-01-02 01:00:00", 1.0),
      // sentinel far in the future flushes both real windows
      (0L, "__sentinel", "2024-03-01 00:00:00", 0.0))
    evs.toDF("user_id", "event_type", "tss", "value")
      .select(to_json(struct(col("user_id"), col("event_type"),
        (unix_timestamp(col("tss"), "yyyy-MM-dd HH:mm:ss") * 1000000L).as("ts_us"),
        col("value"))).as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$base/in")
    val sink = StreamIngest.runBounded(
      StreamAgg.windowedFingerprint(StreamIngest.events(spark, s"$base/in"),
        windowLength = "1 day", watermarkDelay = "1 minute"),
      s"$base/sink", s"$base/ckpt").sink
    val got = sink.select(date_format(col("window_start"), "yyyy-MM-dd"),
      col("fp"), col("n_rows")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def h(uid: Long, et: String, tss: String) =
      digest(Seq(uid.toString, et, usOf(tss).toString))
    assert(got == Set(
      ("2024-01-01", h(1L, "play", "2024-01-01 01:00:00")
        + h(2L, "like", "2024-01-01 02:00:00"), 2L),
      ("2024-01-02", h(3L, "play", "2024-01-02 01:00:00"), 1L)))
  }

  test("a duplicated source row moves the day fingerprint (sums don't absorb replays)") {
    def runWith(dup: Boolean): (Long, Long) = {
      val base = tmp("sfp2")
      val rows = Seq((1L, "play", "2024-01-01 01:00:00", 1.0)) ++
        (if (dup) Seq((1L, "play", "2024-01-01 01:00:00", 1.0)) else Nil) ++
        Seq((0L, "__sentinel", "2024-03-01 00:00:00", 0.0))
      rows.toDF("user_id", "event_type", "tss", "value")
        .select(to_json(struct(col("user_id"), col("event_type"),
          (unix_timestamp(col("tss"), "yyyy-MM-dd HH:mm:ss") * 1000000L).as("ts_us"),
          col("value"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$base/in")
      val r = StreamIngest.runBounded(
        StreamAgg.windowedFingerprint(StreamIngest.events(spark, s"$base/in"),
          windowLength = "1 day", watermarkDelay = "1 minute"),
        s"$base/sink", s"$base/ckpt").sink
        .collect().head
      (r.getAs[Long]("fp"), r.getAs[Long]("n_rows"))
    }
    val (fp1, n1) = runWith(dup = false)
    val (fp2, n2) = runWith(dup = true)
    assert(n1 == 1L && n2 == 2L)
    assert(fp2 == 2 * fp1 && fp2 != fp1)
  }
}
