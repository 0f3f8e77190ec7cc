package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ingest.Versioned
import graft.streaming.StreamAgg
import graft.streaming.StreamAgg.Event

class StreamAggSpec extends SparkTestBase {

  test("streaming upsert: doubled delivery collapses; checkpointed re-run re-merges nothing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_upsert_spec").toString
    Seq((1L, 10L, "click", 100L, 1.5), (1L, 10L, "click", 100L, 1.5), // same event twice
        (2L, 11L, "view", 200L, 2.5))
      .toDF("event_id", "user_id", "event_type", "ts_us", "value")
      .toJSON.coalesce(1).write.mode("overwrite").text(s"$base/in")
    val t1 = StreamAgg.runVersionedUpsert(spark, s"$base/in", s"$base/t", s"$base/ckpt")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
    assert(t1 == Set((1L, 1.5), (2L, 2.5)), s"got $t1")
    val head = Versioned.latestVersion(spark, s"$base/t")
    // re-run against the SAME checkpoint: the batch is already committed,
    // so foreachBatch must not fire again and the table stays identical
    val t2 = StreamAgg.runVersionedUpsert(spark, s"$base/in", s"$base/t", s"$base/ckpt")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
    assert(t2 == t1)
    assert(Versioned.latestVersion(spark, s"$base/t") == head)
    // a later batch replaces the rows of the keys it carries
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/in/late.json"),
      Seq((2L, 11L, "view", 300L, 9.5), (3L, 12L, "click", 300L, 3.5))
        .toDF("event_id", "user_id", "event_type", "ts_us", "value")
        .toJSON.collect().mkString("\n"))
    val t3 = StreamAgg.runVersionedUpsert(spark, s"$base/in", s"$base/t", s"$base/ckpt")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
    assert(t3 == Set((1L, 1.5), (2L, 9.5), (3L, 3.5)), s"got $t3")
    assert(Versioned.latestVersion(spark, s"$base/t") == head + 1L)
  }

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  /** Stage (event_id, user_id, event_type, ts-seconds, value) rows as the
    * one-file JSON transport the bounded runners consume. */
  private def stageEvents(base: String, rows: Seq[(Long, Long, String, Long, Double)]): String = {
    import spark.implicits._
    rows.map { case (id, uid, et, sec, v) => (id, uid, et, sec * 1000000L, v) }
      .toDF("event_id", "user_id", "event_type", "ts_us", "value")
      .toJSON.coalesce(1).write.mode("overwrite").text(s"$base/in")
    s"$base/in"
  }

  test("stream-static enrichment joins the broadcast dim and drops misses") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_enrich_spec").toString
    val in = stageEvents(base, Seq(
      (1L, 10L, "click", 1000L, 1.0), (2L, 11L, "view", 1001L, 2.0),
      (3L, 99L, "click", 1002L, 3.0))) // user 99 not in dim → dropped
    val dim = Seq((10L, "alice"), (11L, "bob")).toDF("user_id", "name")
    val out = StreamAgg.runEnrichToCompletion(spark, in, dim, "user_id",
        s"$base/out", s"$base/ckpt")
      .select("event_id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "alice"), (2L, "bob")))
  }

  test("inner interval join attributes a view only within its click's window") {
    val base = java.nio.file.Files.createTempDirectory("graft_ijoin_spec").toString
    val in = stageEvents(base, Seq(
      (1L, 1L, "click", 5000L, 0.0),
      (2L, 1L, "view", 4000L, 0.0),   // 1000s before the click → attributed
      (3L, 1L, "view", 6000L, 0.0),   // after the click → no
      (4L, 2L, "view", 4900L, 0.0))) // other user → no
    val out = StreamAgg.runIntervalJoinToCompletion(spark, in,
        s"$base/out", s"$base/ckpt", intervalSeconds = 3600)
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)))
  }

  test("outer interval join null-pads a viewless click once its window closes") {
    val base = java.nio.file.Files.createTempDirectory("graft_ojoin_spec").toString
    // far-future sentinels on BOTH event types: the global watermark is
    // the min across inputs, and only its advance flushes unmatched state
    val in = stageEvents(base, Seq(
      (1L, 1L, "click", 5000L, 0.0),
      (2L, 1L, "view", 4000L, 0.0),
      (3L, 3L, "click", 5000L, 0.0),  // no view for user 3 → null-padded
      (-1L, -1L, "click", 10000000L, 0.0),
      (-2L, -1L, "view", 10000000L, 0.0)))
    val out = StreamAgg.runOuterIntervalJoinToCompletion(spark, in,
        s"$base/out", s"$base/ckpt", intervalSeconds = 3600)
      .filter("user_id >= 0")
      .collect().map(r => (r.getAs[Long]("click_id"),
        Option(r.getAs[java.lang.Long]("view_id")).map(_.toLong))).toSet
    assert(out == Set((1L, Some(2L)), (3L, None)))
  }

  test("sessionize closes a session when the gap is exceeded") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val name = s"sessions_${System.nanoTime()}"
    val q = StreamAgg.sessionize(ms.toDS(), gapSeconds = 60, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // keep timestamps well above the initial watermark (epoch 0):
      // events at ts <= watermark are dropped as late before reaching state
      ms.addData(Event(1L, "click", ts(1000), 1.0), Event(1L, "click", ts(1030), 2.0))
      q.processAllAvailable()
      // gap of 300s > 60s closes the first session
      ms.addData(Event(1L, "click", ts(1330), 5.0))
      q.processAllAvailable()
      val out = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
      assert(out.contains((1L, 2L, 3.0)), s"got ${out.toSeq}")
    } finally q.stop()
  }

  test("sessionize emits separate sessions per user") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val name = s"sessions_${System.nanoTime()}"
    val q = StreamAgg.sessionize(ms.toDS(), gapSeconds = 10, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      ms.addData(Event(1L, "a", ts(1000), 1.0), Event(2L, "b", ts(1005), 2.0))
      q.processAllAvailable()
      ms.addData(Event(1L, "a", ts(1100), 1.0), Event(2L, "b", ts(1100), 1.0))
      q.processAllAvailable()
      val out = spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.toSet.contains((1L, 1L)) && out.toSet.contains((2L, 1L)))
    } finally q.stop()
  }

  test("runningTotals accumulates per-user state across micro-batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val name = s"totals_${System.nanoTime()}"
    val q = StreamAgg.runningTotals(ms.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      ms.addData(Event(1L, "a", ts(1000), 1.0), Event(1L, "a", ts(1001), 2.0))
      q.processAllAvailable()
      ms.addData(Event(1L, "a", ts(1002), 4.0))
      q.processAllAvailable()
      val byBatch = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // batch 1 emitted (1, 2, 3.0); batch 2 carried state → (1, 3, 7.0)
      assert(byBatch.contains((1L, 2L, 3.0)) && byBatch.contains((1L, 3L, 7.0)))
    } finally q.stop()
  }

  test("streaming dedup keeps one copy per key, including across micro-batches") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_streamdd").toString
    def line(id: Long, us: Long, v: Double) =
      s"""{"event_id": $id, "user_id": 1, "event_type": "click", "ts_us": $us, "value": $v}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    // duplicate of id=1 within the same file AND a cross-file duplicate of
    // id=2 (files may land in distinct micro-batches — state must carry)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/in/a.json"),
      Seq(line(1, 1000000000L, 1.0), line(1, 1000000000L, 1.0),
        line(2, 1001000000L, 2.0)).mkString("\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/in/b.json"),
      Seq(line(2, 1001000000L, 2.0), line(3, 1002000000L, 4.0)).mkString("\n"))
    val out = StreamAgg.runDedupToCompletion(spark, s"$base/in", s"$base/sink",
      s"$base/ckpt", watermarkDelay = "10 minutes")
    val got = rows(out.select(col("event_id"), col("value")).orderBy(col("event_id")))
    assert(got == Seq(Seq(1L, 1.0), Seq(2L, 2.0), Seq(3L, 4.0)), s"got $got")
  }

  test("streaming dedup runs unchanged on the RocksDB state-store provider") {
    // the 100 TB state backend: local[32] state fits the default in-memory
    // HashMap provider, but at scale keyed state must spill to RocksDB —
    // this pins that our stateful operators don't depend on provider
    // internals, and that the provider actually engaged (state layout)
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_streamdd_rdb").toString
    def line(id: Long, us: Long, v: Double) =
      s"""{"event_id": $id, "user_id": 1, "event_type": "click", "ts_us": $us, "value": $v}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/in/a.json"),
      Seq(line(1, 1000000000L, 1.0), line(1, 1000000000L, 1.0),
        line(2, 1001000000L, 2.0)).mkString("\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/in/b.json"),
      Seq(line(2, 1001000000L, 2.0), line(3, 1002000000L, 4.0)).mkString("\n"))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = StreamAgg.runDedupToCompletion(spark, s"$base/in", s"$base/sink",
        s"$base/ckpt", watermarkDelay = "10 minutes")
      val got = rows(out.select(col("event_id"), col("value")).orderBy(col("event_id")))
      assert(got == Seq(Seq(1L, 1.0), Seq(2L, 2.0), Seq(3L, 4.0)), s"got $got")
      // provider engaged: RocksDB checkpoints upload .zip/.changelog
      // artifacts; the HashMap provider writes plain N.delta files
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/ckpt/state"))
      val sawRocks =
        try {
          val it = walk.iterator()
          var found = false
          while (it.hasNext && !found) {
            val n = it.next().getFileName.toString
            found = n.endsWith(".zip") || n.endsWith(".changelog")
          }
          found
        } finally walk.close()
      assert(sawRocks, "no RocksDB snapshot artifacts under the state dir")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("windowed counts emit exactly the closed windows (sentinel advances watermark)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_streamagg").toString
    val lines = Seq(
      """{"user_id": 1, "event_type": "click", "ts_us": 0, "value": 1.0}""",
      """{"user_id": 2, "event_type": "click", "ts_us": 1800000000, "value": 2.0}""",
      """{"user_id": 3, "event_type": "view", "ts_us": 4000000000, "value": 4.0}""",
      """{"user_id": 0, "event_type": "__sentinel", "ts_us": 999999000000, "value": 0.0}""")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/in/a.json"),
      lines.mkString("\n"))
    val out = StreamAgg.runWindowedToCompletion(spark, s"$base/in", s"$base/sink",
      s"$base/ckpt", windowLength = "1 hour", watermarkDelay = "1 minute")
    val got = rows(out.select(col("event_type"), col("n"), col("sum_value")))
    // hour 0: two clicks (v=3.0); hour 1: one view (v=4.0); sentinel window unclosed
    assert(got == Seq(Seq("click", 2L, 3.0), Seq("view", 1L, 4.0)))
  }
}
