package graft

import java.nio.file.{Files, Paths}
import java.time.Duration

import org.apache.spark.sql.DataFrame

import graft.streaming.{StatefulDedup, StatefulProfile, StatefulSession, StatefulTrail, StreamAgg, StreamIngest}

/** Every streaming operator family through the one bounded run
  * ([[StreamIngest.runBounded]]): a run over an empty input reads back
  * zero rows typed by the stream's own schema, and a run over staged
  * events leaves the session confs it scopes (shuffle partitions, the
  * state-store provider) as it found them. */
class StreamBoundedRunSpec extends SparkTestBase {
  import spark.implicits._

  private val Parts = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"

  private def op(name: String)(f: DataFrame => DataFrame) = name -> f

  private val operators = Seq(
    op("windowed counts")(StreamAgg.windowedCounts(_)),
    op("watermark dedup")(StreamAgg.dedupedEvents(_)),
    op("stream-static enrich")(StreamAgg.enrichedEvents(_,
      Seq((10L, "alice"), (11L, "bob")).toDF("user_id", "name"), "user_id")),
    op("interval join") { ev =>
      val (clicks, views) = StreamAgg.intervalSides(ev)
      StreamAgg.intervalJoined(clicks, views)
    },
    op("outer interval join") { ev =>
      val (clicks, views) = StreamAgg.intervalSides(ev)
      StreamAgg.intervalJoinedOuter(clicks, views)
    },
    op("histogram")(StreamAgg.windowedHistogram(_)),
    op("heavy hitters")(StreamAgg.windowedHeavyHitters(_, "event_type", k = 2)),
    op("HLL sketch")(StreamAgg.windowedDistinctSketch(_, "user_id")),
    op("fingerprint")(StreamAgg.windowedFingerprint(_)),
    op("first-seen dedup")(StatefulDedup.firstSeen(_)),
    op("category profile")(StatefulProfile.categoryProfile(_)),
    op("timer sessions")(StatefulSession.sessionize(_)),
    op("trailing-k digest")(StatefulTrail.trailingK(_, k = 2)))

  /** One JSON file of clicks and views for two users, plus far-future
    * sentinels of both types (user −1) that close every real window. */
  private def stage(in: String): Unit =
    Seq((1L, 10L, "click", 5000L, 1.0), (2L, 10L, "view", 4000L, 2.0),
        (3L, 11L, "click", 5000L, 3.0), (4L, 11L, "click", 90000L, 4.0),
        (-1L, -1L, "click", 10000000L, 0.0), (-2L, -1L, "view", 10000000L, 0.0))
      .map { case (id, uid, et, sec, v) => (id, uid, et, sec * 1000000L, v) }
      .toDF("event_id", "user_id", "event_type", "ts_us", "value")
      .toJSON.coalesce(1).write.mode("overwrite").text(in)

  private def confs = (spark.conf.get(Parts), spark.conf.getOption(Provider))

  operators.foreach { case (name, operator) =>
    test(s"$name: an empty input reads back zero rows under the stream's schema") {
      val base = tmp("empty")
      Files.createDirectories(Paths.get(s"$base/in"))
      val stream = operator(StreamIngest.events(spark, s"$base/in"))
      val run = StreamIngest.runBounded(stream, s"$base/sink", s"$base/ckpt")
      assert(run.sink.collect().isEmpty)
      assert(run.sink.schema == stream.schema)
    }

    test(s"$name: a run restores the shuffle-partition and state-store confs") {
      val base = tmp("staged")
      stage(s"$base/in")
      val before = confs
      val stream = operator(StreamIngest.events(spark, s"$base/in"))
      val run = StreamIngest.runBounded(stream, s"$base/sink", s"$base/ckpt",
        statePartitions = Some(3))
      assert(confs == before)
      assert(run.progress.exists(_.numInputRows > 0))
      assert(run.sink.schema.map(f => f.name -> f.dataType) ==
        stream.schema.map(f => f.name -> f.dataType))
    }
  }

  test("a processing-time (TTL) first-seen run stops after its data batch and restores both confs") {
    val base = tmp("ttl")
    stage(s"$base/in")
    val before = confs
    val run = StreamIngest.runBounded(
      StatefulDedup.firstSeen(StreamIngest.events(spark, s"$base/in"),
        ttl = Some(Duration.ofHours(1))),
      s"$base/sink", s"$base/ckpt", statePartitions = Some(3))
    assert(confs == before)
    assert(run.sink.count() == 6L)
  }
}
