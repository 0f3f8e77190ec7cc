package graft

import org.apache.spark.sql.streaming.Trigger

import graft.ingest.Versioned

/** Admission control on the graft-versioned streaming source:
  * maxVersionsPerTrigger / maxFilesPerTrigger / maxBytesPerTrigger
  * bound each micro-batch's version window so a long backlog (or a
  * recovery after downtime) drains in rate-limited batches instead of
  * one giant one — while still delivering every row exactly once. */
class VersionedAdmissionSpec extends SparkTestBase {
  import spark.implicits._

  private val Fmt = "graft.sources.VersionedSource"

  private def df(rows: (Long, String)*) = rows.toDF("id", "t")

  private def runOnce(tbl: String, ckpt: String, out: String,
                      opts: Map[String, String]): Unit = {
    var src = spark.readStream.format(Fmt)
    opts.foreach { case (k, v) => src = src.option(k, v) }
    val q = src.load(tbl).writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Committed micro-batch count = entries in the checkpoint's offset
    * log (numeric file names only). */
  private def nBatches(ckpt: String): Int =
    new java.io.File(s"$ckpt/offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))

  private def backlog(tbl: String, n: Int): Unit =
    (1 to n).foreach(i => Versioned.append(df(i.toLong -> s"r$i"), tbl))

  test("maxVersionsPerTrigger drains a backlog in capped windows") {
    val base = tmp("vcap")
    val tbl = s"$base/tbl"
    backlog(tbl, 6)
    runOnce(tbl, s"$base/ckpt", s"$base/out",
      Map("maxVersionsPerTrigger" -> "2"))
    assert(rowSet(spark.read.parquet(s"$base/out")) ==
      (1 to 6).map(i => Seq(i.toLong, s"r$i")).toSet)
    assert(nBatches(s"$base/ckpt") == 3, "6 versions / 2 per trigger")
  }

  test("maxFilesPerTrigger: one single-file commit per batch; a fat commit still admits alone") {
    val base = tmp("fcap")
    val tbl = s"$base/tbl"
    backlog(tbl, 3) // one file each
    // v4: a 3-file commit — exceeds the cap on its own, must still flow
    Versioned.append(df((4L to 6L).map(i => i -> s"r$i"): _*).repartition(3), tbl)
    runOnce(tbl, s"$base/ckpt", s"$base/out",
      Map("maxFilesPerTrigger" -> "1"))
    assert(spark.read.parquet(s"$base/out").count() == 6L)
    assert(nBatches(s"$base/ckpt") == 4, "3 single-file windows + the fat commit")
  }

  test("maxBytesPerTrigger: progress guaranteed at one version per trigger") {
    val base = tmp("bcap")
    val tbl = s"$base/tbl"
    backlog(tbl, 4)
    runOnce(tbl, s"$base/ckpt", s"$base/out",
      Map("maxBytesPerTrigger" -> "1")) // below any parquet footer
    assert(spark.read.parquet(s"$base/out").count() == 4L)
    assert(nBatches(s"$base/ckpt") == 4, "1 byte admits exactly one version each")
  }

  test("restart under limits: no duplicates, no regression, only new commits") {
    val base = tmp("restart")
    val tbl = s"$base/tbl"
    backlog(tbl, 5)
    val opts = Map("maxVersionsPerTrigger" -> "2")
    runOnce(tbl, s"$base/ckpt", s"$base/out", opts)
    val afterFirst = spark.read.parquet(s"$base/out").count()
    assert(afterFirst == 5L)
    // v6, v7 land while the stream is down (content distinct from v1–v5)
    (6 to 7).foreach(i => Versioned.append(df(i.toLong -> s"r$i"), tbl))
    runOnce(tbl, s"$base/ckpt", s"$base/out", opts)
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 7L, "exactly the new rows, exactly once")
    assert(rowSet(out).size == 7)
    // caught up: a third run moves nothing
    runOnce(tbl, s"$base/ckpt", s"$base/out", opts)
    assert(spark.read.parquet(s"$base/out").count() == 7L)
  }

  test("CDF mode honors the version cap") {
    val base = tmp("cdf")
    val tbl = s"$base/tbl"
    backlog(tbl, 4)
    Versioned.deleteWhere(spark, tbl, org.apache.spark.sql.functions.col("id") === 2L)
    runOnce(tbl, s"$base/ckpt", s"$base/out",
      Map("readChangeFeed" -> "true", "maxVersionsPerTrigger" -> "1"))
    val out = spark.read.parquet(s"$base/out")
    assert(nBatches(s"$base/ckpt") == 5, "one version per window")
    assert(out.filter("_change_type = 'insert'").count() == 4L)
    assert(out.filter("_change_type = 'delete'").count() == 1L)
  }

  test("maxRowsPerTrigger admits by archived row counts (no file I/O)") {
    val base = tmp("rcap")
    val tbl = s"$base/tbl"
    // v1: 1 row, v2: 2 rows, v3: 1 row, v4: 3 rows
    Versioned.append(df(1L -> "a"), tbl)
    Versioned.append(df(2L -> "b", 3L -> "c"), tbl)
    Versioned.append(df(4L -> "d"), tbl)
    Versioned.append(df((5L to 7L).map(i => i -> s"r$i"): _*), tbl)
    runOnce(tbl, s"$base/ckpt", s"$base/out",
      Map("maxRowsPerTrigger" -> "3"))
    assert(spark.read.parquet(s"$base/out").count() == 7L)
    // windows: (v1+v2)=3 rows, (v3)=1+3>3 stops after v3? v3+v4 = 4 > 3
    // → v3 alone, then v4 (fat, admits alone) = 3 batches
    assert(nBatches(s"$base/ckpt") == 3)
  }

  test("startingTimestamp streams only commits at or after the moment") {
    val base = tmp("startts")
    val tbl = s"$base/tbl"
    backlog(tbl, 2)
    val t3cut = Versioned.commitTimestamp(spark, tbl, 2L) + 1L
    (3 to 4).foreach(i => Versioned.append(df(i.toLong -> s"r$i"), tbl))
    runOnce(tbl, s"$base/ckpt", s"$base/out",
      Map("startingTimestamp" -> t3cut.toString))
    assert(rowSet(spark.read.parquet(s"$base/out")) ==
      Set(Seq(3L, "r3"), Seq(4L, "r4")), "v1/v2 predate the moment")
    intercept[IllegalArgumentException] {
      spark.readStream.format(Fmt)
        .option("startingVersion", "1")
        .option("startingTimestamp", "0").load(tbl)
    }
  }

  test("continuous trigger path (no AvailableNow cap) rate-limits too") {
    val base = tmp("cont")
    val tbl = s"$base/tbl"
    backlog(tbl, 4)
    val q = spark.readStream.format(Fmt)
      .option("maxVersionsPerTrigger", "1").load(tbl)
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime(10L))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(s"$base/out").count() == 4L)
    assert(nBatches(s"$base/ckpt") >= 4, "at most one version per batch")
  }
}
