package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.Versioned

/** The graft-versioned Structured Streaming source: version-window
  * offsets, exactly-once through a checkpointed file sink, restart
  * after a failed batch, the checkpoint-ahead refusal, append-only
  * refusals, ignoreChanges re-delivery, CDF mode, and the mid-stream
  * evolution guard. */
class VersionedSourceSpec extends SparkTestBase {
  import spark.implicits._

  private val Fmt = "graft.sources.VersionedSource"

  private def df(rows: (Long, String)*) = rows.toDF("id", "t")

  private def runOnce(tbl: String, ckpt: String, out: String,
                      opts: Map[String, String] = Map.empty): Unit = {
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

  /** One AvailableNow run of the change-feed stream into `sink`, which
    * sees each micro-batch with its id. */
  private def runFeed(tbl: String, ckpt: String, maxVersions: Int = Int.MaxValue)
                     (sink: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.format(Fmt)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", maxVersions.toLong)
      .load(tbl).writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(b, id) }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** (rows, min _version, max _version) of a change-feed batch. */
  private def window(b: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val r = b.agg(count(lit(1)), min("_version"), max("_version")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The change-feed windows materialized under a consumer checkpoint. */
  private def cdfWindows(ckpt: String): Seq[String] =
    Option(new java.io.File(s"$ckpt/sources/0").list()).toSeq.flatten
      .filter(_.startsWith("cdf-")).sorted

  test("change-feed stream tails only new versions per run; the checkpoint resumes it") {
    val base = tmp("tail")
    val tbl = s"$base/tbl"
    val ckpt = s"$base/ckpt"
    Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl) // v1
    Versioned.append(df(3L -> "c"), tbl)               // v2
    var seen = Vector.empty[(Long, Long, Long)]
    runFeed(tbl, ckpt, maxVersions = 1)((b, _) => seen :+= window(b))
    assert(seen == Vector((2L, 1L, 1L), (1L, 2L, 2L)), seen)
    assert(committedOffset(ckpt).contains("2"))
    // the committed window (0, 1] is reclaimed; only the newest stays
    assert(cdfWindows(ckpt) == Seq("cdf-1-2"), cdfWindows(ckpt))
    // caught up: no batch fires
    runFeed(tbl, ckpt)((_, _) => fail("no new versions — must not fire"))
    assert(cdfWindows(ckpt) == Seq("cdf-1-2"), cdfWindows(ckpt))
    // new commits resume from the checkpoint, not from zero
    Versioned.upsert(spark, tbl, df(1L -> "A"), Seq("id"))  // v3
    seen = Vector.empty
    runFeed(tbl, ckpt)((b, _) => seen :+= window(b))
    // the upsert window carries the delete+insert pair for id=1
    assert(seen == Vector((2L, 3L, 3L)), seen)
    assert(committedOffset(ckpt).contains("3"))
    assert(cdfWindows(ckpt) == Seq("cdf-2-3"), cdfWindows(ckpt))
  }

  test("a failed change-feed batch does not advance the offset; a restart re-delivers it") {
    val base = tmp("crash")
    val tbl = s"$base/tbl"
    val ckpt = s"$base/ckpt"
    Versioned.overwrite(df(1L -> "a"), tbl)
    val e = intercept[Exception] {
      runFeed(tbl, ckpt)((_, _) => throw new RuntimeException("sink down"))
    }
    assert(messages(e).exists(_.contains("sink down")))
    assert(committedOffset(ckpt).isEmpty)
    var seen = Vector.empty[(Long, Long, Long)]
    runFeed(tbl, ckpt)((b, _) => seen :+= window(b))
    assert(seen == Vector((1L, 1L, 1L)), seen)
    assert(committedOffset(ckpt).contains("1"))
  }

  test("a checkpoint ahead of the table fails loudly") {
    val base = tmp("ahead")
    val tbl = s"$base/tbl"
    Versioned.append(df(1L -> "a"), tbl)
    val other = s"$base/other"
    Versioned.append(df(1L -> "a"), other)
    Versioned.append(df(2L -> "b"), other)
    runOnce(other, s"$base/ckpt", s"$base/out")
    assert(committedOffset(s"$base/ckpt").contains("2"))
    val e = intercept[Exception] {
      runOnce(tbl, s"$base/ckpt", s"$base/out")
    }
    assert(messages(e).exists(_.contains("ahead of the table")), messages(e))
  }

  test("append-only stream: incremental batches, exactly-once across restarts") {
    val base = tmp("inc")
    val tbl = s"$base/tbl"
    Versioned.append(df(1L -> "a", 2L -> "b"), tbl) // v1 (append on empty)
    Versioned.append(df(3L -> "c"), tbl)            // v2
    runOnce(tbl, s"$base/ckpt", s"$base/out")
    assert(rowSet(spark.read.parquet(s"$base/out")) ==
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    // nothing new: the SAME checkpoint emits nothing
    runOnce(tbl, s"$base/ckpt", s"$base/out")
    assert(spark.read.parquet(s"$base/out").count() == 3L)
    // two more commits: only their rows stream through
    Versioned.append(df(4L -> "d"), tbl)
    Versioned.append(df(5L -> "e"), tbl)
    runOnce(tbl, s"$base/ckpt", s"$base/out")
    assert(rowSet(spark.read.parquet(s"$base/out")).size == 5)
  }

  test("startingVersion skips history; alter commits are empty") {
    val base = tmp("start")
    val tbl = s"$base/tbl"
    Versioned.append(df(1L -> "a"), tbl)                      // v1
    Versioned.addConstraint(spark, tbl, "pos", "id > 0")      // v2 (alter)
    Versioned.append(df(2L -> "b"), tbl)                      // v3
    runOnce(tbl, s"$base/ckpt", s"$base/out",
      Map("startingVersion" -> "1"))
    assert(rowSet(spark.read.parquet(s"$base/out")) == Set(Seq(2L, "b")))
  }

  test("a rewrite refuses the append-only stream; ignoreChanges re-delivers") {
    val base = tmp("rw")
    val tbl = s"$base/tbl"
    Versioned.append(df(1L -> "a", 2L -> "b"), tbl)
    Versioned.upsert(spark, tbl, df(1L -> "A"), Seq("id"))
    val e = intercept[Exception] {
      runOnce(tbl, s"$base/ckpt1", s"$base/out1")
    }
    assert(messages(e).exists(_.contains("append-only")))
    // opt-in: the rewrite's ADDED files stream (carried-over rows
    // re-delivered — the documented at-least-once trade)
    runOnce(tbl, s"$base/ckpt2", s"$base/out2",
      Map("ignoreChanges" -> "true"))
    val got = rowSet(spark.read.parquet(s"$base/out2"))
    assert(got.contains(Seq(1L, "A")) && got.contains(Seq(2L, "b")))
  }

  test("readChangeFeed streams exact delete+insert pairs, never refuses") {
    val base = tmp("cdf")
    val tbl = s"$base/tbl"
    Versioned.append(df(1L -> "a", 2L -> "b"), tbl)      // v1
    Versioned.upsert(spark, tbl, df(1L -> "A"), Seq("id")) // v2
    Versioned.deleteWhere(spark, tbl, col("id") === 2L)    // v3
    runOnce(tbl, s"$base/ckpt", s"$base/out",
      Map("readChangeFeed" -> "true"))
    val got = spark.read.parquet(s"$base/out")
      .select("id", "t", "_change_type", "_version")
      .collect().map(_.toSeq).toSet
    assert(got == Set(
      Seq(1L, "a", "insert", 1L), Seq(2L, "b", "insert", 1L),
      Seq(1L, "a", "delete", 2L), Seq(1L, "A", "insert", 2L),
      Seq(2L, "b", "delete", 3L)))
    assert(cdfWindows(s"$base/ckpt") == Seq("cdf-0-3"), cdfWindows(s"$base/ckpt"))
  }

  test("mid-stream schema evolution fails loudly instead of widening") {
    val base = tmp("evo")
    val tbl = s"$base/tbl"
    Versioned.append(df(1L -> "a"), tbl)
    runOnce(tbl, s"$base/ckpt", s"$base/out") // pins the 2-col schema
    Versioned.appendEvolve(df(2L -> "b").withColumn("x", lit(7L)), tbl)
    val e = intercept[Exception] {
      runOnce(tbl, s"$base/ckpt", s"$base/out")
    }
    assert(messages(e).exists(_.contains("evolved mid-stream")))
  }

  test("optimize(where=...) compacts only matching partitions") {
    val tbl = tmp("ow") + "/tbl"
    val in = Seq((1L, 2024L, "a"), (2L, 2024L, "b"), (3L, 2025L, "c"),
      (4L, 2025L, "d")).toDF("id", "yr", "t").repartition(4)
    Versioned.overwrite(in, tbl, partitionBy = Seq("yr"))
    val before = Versioned.read(spark, tbl)
    val c = Versioned.optimize(spark, tbl, numFiles = 1,
      where = Some(v => v("yr").contains("2024"))).get
    // only 2024's files were touched
    assert(c.remove.forall(_.contains("yr=2024")), c.remove)
    assert(c.add.forall(_.contains("yr=2024")), c.add)
    assert(rowSet(Versioned.read(spark, tbl)) == rowSet(before))
    // content certification held (the commit exists at all proves it);
    // 2025 files shared with v1 untouched
    val (_, _, pcols) = (0, 0, 0)
    val e = intercept[Exception] {
      val flat = tmp("ow2") + "/flat"
      Versioned.overwrite(df(1L -> "x"), flat)
      Versioned.optimize(spark, flat, 1, where = Some(_ => true))
    }
    assert(messages(e).exists(_.contains("needs a partitioned table")))
  }

  test("where option: per-commit file skipping, row-identical to a filtered stream") {
    val base = tmp("where")
    val tbl = s"$base/tbl"
    // three commits with disjoint id bands: 1-10, 11-20, 21-30
    (0 to 2).foreach { b =>
      Versioned.append(
        (1 to 10).map(i => (b * 10L + i, s"b$b-r$i")).toDF("id", "t")
          .coalesce(1), tbl)
    }
    val k0 = Versioned.streamFilesKept.get()
    val t0 = Versioned.streamFilesTotal.get()
    runOnce(tbl, s"$base/ckpt", s"$base/out", Map("where" -> "id > 20"))
    assert(Versioned.streamFilesTotal.get() - t0 == 3L,
      "the batch must have considered all three commits' files")
    assert(Versioned.streamFilesKept.get() - k0 == 1L,
      "id > 20 must prune to the third commit's file")
    assert(rowSet(spark.read.parquet(s"$base/out")) ==
      (21L to 30L).map(i => Seq[Any](i, s"b2-r${i - 20}")).toSet,
      "the pruned stream must be row-identical to a filtered stream")
    // later commits keep pruning incrementally (only new versions);
    // a restarted stream may plan the window more than once, so the
    // counters are asserted as a per-pass ratio
    Versioned.append(df(5L -> "low"), tbl)   // prunable
    Versioned.append(df(99L -> "high"), tbl) // kept
    val k1 = Versioned.streamFilesKept.get()
    val t1 = Versioned.streamFilesTotal.get()
    runOnce(tbl, s"$base/ckpt", s"$base/out", Map("where" -> "id > 20"))
    // (restart recovery may also re-plan the previous window; every
    // pass must still prune — kept stays strictly under total)
    val (kd, td) = (Versioned.streamFilesKept.get() - k1,
      Versioned.streamFilesTotal.get() - t1)
    assert(kd >= 1 && kd < td,
      s"the new window must prune its low-id file ($kd/$td)")
    val outRows = rowSet(spark.read.parquet(s"$base/out"))
    assert(outRows.contains(Seq[Any](99L, "high")) &&
      !outRows.exists(_.head == 5L))
    // CDF mode: `where` row-filters the change feed (no file pruning)
    val cdfOut = s"$base/cdfout"
    runOnce(tbl, s"$base/cdfckpt", cdfOut,
      Map("readChangeFeed" -> "true", "where" -> "id > 20"))
    val cdf = spark.read.parquet(cdfOut)
    assert(cdf.filter(col("id") <= 20L).count() == 0L)
    assert(cdf.filter(col("id") === 99L).count() == 1L)
  }
}
