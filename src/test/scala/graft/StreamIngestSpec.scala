package graft

import java.nio.file.{Files, Paths}
import graft.streaming.StreamIngest

class StreamIngestSpec extends SparkTestBase {

  private def writeLines(dir: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/part-0.json"), lines.mkString("\n"))
  }

  test("file-source stream parses Kafka-shaped payloads into flat rows") {
    val base = tmp("ingest")
    writeLines(s"$base/in", Seq(
      """{"requestedUserId": 7, "recommendations": [1, 2, 3], "timestamp": "2024-05-01T10:00:00.000001"}""",
      """{"requestedUserId": 9, "recommendations": [], "timestamp": "2024-05-02T11:30:00.999999"}"""))
    val out = StreamIngest.runToCompletion(spark,
      StreamIngest.EventSource.Files(s"$base/in"), s"$base/sink", s"$base/ckpt")
    val got = out.collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (7L, Seq(1, 2, 3), "2024-05-01T10:00:00.000001", "2024-05-01"),
      (9L, Seq(), "2024-05-02T11:30:00.999999", "2024-05-02")))
  }

  test("malformed JSON yields null fields, not a crashed stream") {
    val base = tmp("ingest")
    writeLines(s"$base/in", Seq("""not json at all"""))
    val out = StreamIngest.runToCompletion(spark,
      StreamIngest.EventSource.Files(s"$base/in"), s"$base/sink", s"$base/ckpt")
    val got = out.collect()
    assert(got.length == 1 && got.head.isNullAt(0))
  }

  test("checkpoint makes re-runs exactly-once: no duplicate rows on restart") {
    val base = tmp("ingest")
    writeLines(s"$base/in", Seq(
      """{"requestedUserId": 1, "recommendations": [5], "timestamp": "2024-01-01T00:00:00.000000"}"""))
    StreamIngest.runToCompletion(spark,
      StreamIngest.EventSource.Files(s"$base/in"), s"$base/sink", s"$base/ckpt")
    // second run with the SAME checkpoint: source offset already committed
    val out = StreamIngest.runToCompletion(spark,
      StreamIngest.EventSource.Files(s"$base/in"), s"$base/sink", s"$base/ckpt")
    assert(out.count() == 1)
  }

  test("console tap + sink run concurrently to completion (multi-query await)") {
    val base = tmp("ingest")
    writeLines(s"$base/in", Seq(
      """{"requestedUserId": 2, "recommendations": [8, 9], "timestamp": "2024-02-02T00:00:00.000000"}"""))
    val out = StreamIngest.runToCompletion(spark,
      StreamIngest.EventSource.Files(s"$base/in"), s"$base/sink", s"$base/ckpt",
      consoleTap = true)
    assert(out.count() == 1)
  }

  test("foreachBatch sink receives each batch once with its id") {
    val base = tmp("ingest")
    writeLines(s"$base/in", Seq(
      """{"requestedUserId": 3, "recommendations": [1], "timestamp": "2024-03-03T00:00:00.000000"}"""))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val parsed = StreamIngest.parse(
      StreamIngest.EventSource.Files(s"$base/in").load(TestSpark.spark))
    val q = StreamIngest.startForeachBatchSink(parsed, s"$base/ckpt") {
      (batch, id) => seen.add((id, batch.count()))
    }
    q.awaitTermination()
    assert(seen.size == 1 && seen.peek()._2 == 1L)
    // re-run against the same checkpoint: batch already committed → no redelivery
    val q2 = StreamIngest.startForeachBatchSink(parsed, s"$base/ckpt") {
      (batch, id) => seen.add((id, batch.count()))
    }
    q2.awaitTermination()
    assert(seen.size == 1)
  }

  test("the Kafka-shaped source constructs without a broker (compile-level path)") {
    val k = StreamIngest.EventSource.Kafka("broker:9092", "music_recommendations")
    assert(k.topic == "music_recommendations")
  }
}
