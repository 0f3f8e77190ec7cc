package graft

import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Versioned}

/** Merge-on-read deletes (position deletion vectors): write-cheap
  * row deletes, certified totals, and their interplay with COW
  * rewrites, OPTIMIZE, restore, checkpoints, CDF and vacuum. */
class VersionedMorSpec extends SparkTestBase {
  import spark.implicits._

  private def df(rows: (Long, String)*) = rows.toDF("id", "t")

  private def certified(tbl: String, v: Long): Boolean = {
    val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
    val asOf = Versioned.readAsOf(spark, tbl, v)
    val r = asOf.agg(count(lit(1)),
      coalesce(sum(Fingerprint.rowDigest(
        asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
    (r.getLong(0), r.getLong(1)) == ((n, fp))
  }

  private def dataDirs(tbl: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(tbl)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("d-")).toSet
  }

  test("MoR delete removes rows without rewriting any data file") {
    val tbl = tmp("basic") + "/tbl"
    Versioned.overwrite(df((1L to 8L).map(i => (i, s"v$i")): _*), tbl)
    Versioned.append(df(9L -> "v9"), tbl)
    val dirsBefore = dataDirs(tbl)
    val c = Versioned.deleteWhereMoR(spark, tbl, col("id") % 3 === 0).get
    assert(c.action == "delete_mor" && c.add.isEmpty && c.dv.nonEmpty)
    assert(dataDirs(tbl) == dirsBefore, "no data file may be rewritten")
    assert(rowSet(Versioned.read(spark, tbl)).map(_.head) ==
      (1L to 9L).filterNot(_ % 3 == 0).toSet.map((x: Long) => x: Any))
    // time travel: pre-delete version still sees everything
    assert(Versioned.readAsOf(spark, tbl, 2L).count() == 9L)
    (1L to 3L).foreach(v => assert(certified(tbl, v), s"v$v"))
    // a second MoR delete ACCUMULATES
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 1L)
    assert(rowSet(Versioned.read(spark, tbl)).map(_.head) ==
      Set[Any](2L, 4L, 5L, 7L, 8L))
    assert(certified(tbl, 4L))
    // no match -> no commit
    assert(Versioned.deleteWhereMoR(spark, tbl, col("id") === 999L).isEmpty)
  }

  test("COW rewrites over a MoR table never resurrect deleted rows") {
    val tbl = tmp("cow") + "/tbl"
    Versioned.overwrite(df((1L to 6L).map(i => (i, s"v$i")): _*).coalesce(1), tbl)
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L)
    // upsert touches the (only) file holding id=2's position
    Versioned.upsert(spark, tbl, df(3L -> "UP"), Seq("id"))
    val ids = rowSet(Versioned.read(spark, tbl)).map(_.head)
    assert(ids == Set[Any](1L, 3L, 4L, 5L, 6L), ids.toString)
    assert(rowSet(Versioned.read(spark, tbl)).contains(Seq(3L, "UP")))
    (1L to 3L).foreach(v => assert(certified(tbl, v), s"v$v"))
  }

  test("OPTIMIZE purges deletion vectors into clean files, content preserved") {
    val tbl = tmp("opt") + "/tbl"
    Versioned.overwrite(df((1L to 8L).map(i => (i, s"v$i")): _*), tbl)
    Versioned.deleteWhereMoR(spark, tbl, col("id") > 6L)
    val c = Versioned.optimize(spark, tbl, numFiles = 1).get
    // the certified-content rewrite: live rows only
    assert((c.snapshotRows: Long) == 6L)
    assert(rowSet(Versioned.read(spark, tbl)).map(_.head) ==
      (1L to 6L).toSet.map((x: Long) => x: Any))
    assert(certified(tbl, c.version))
  }

  test("CDF: the MoR window emits exactly the deleted rows as deletes") {
    val tbl = tmp("cdf") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b", 3L -> "c"), tbl) // v1
    Versioned.deleteWhereMoR(spark, tbl, col("id") <= 2L)          // v2
    val ch = Versioned.changesBetween(spark, tbl, 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch == Set((1L, "a", "delete"), (2L, "b", "delete")))
    // a later COW rewrite does not re-delete the MoR-deleted positions
    Versioned.upsert(spark, tbl, df(3L -> "C"), Seq("id"))         // v3
    val ch2 = Versioned.changesBetween(spark, tbl, 2L, 3L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch2 == Set((3L, "c", "delete"), (3L, "C", "insert")), ch2.toString)
  }

  test("restore spans MoR deletes in both directions") {
    val tbl = tmp("restore") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)   // v1
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 1L) // v2
    Versioned.append(df(3L -> "c"), tbl)                  // v3
    // back to BEFORE the delete: the row returns (files still present)
    Versioned.restore(spark, tbl, 1L)                     // v4
    assert(rowSet(Versioned.readAsOf(spark, tbl, 4L)).map(_.head) ==
      Set[Any](1L, 2L))
    // forward again to the deleted state: the restore record carries v2's
    // deletion vectors, so the delete stays applied
    Versioned.restore(spark, tbl, 2L)                     // v5
    assert(rowSet(Versioned.readAsOf(spark, tbl, 5L)).map(_.head) ==
      Set[Any](2L))
    (1L to 5L).foreach(v => assert(certified(tbl, v), s"v$v"))
  }

  test("checkpoints carry the accumulated deletion vectors") {
    val tbl = tmp("ckpt") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b", 3L -> "c"), tbl)
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L)
    Versioned.checkpoint(spark, tbl)
    Versioned.append(df(4L -> "d"), tbl)
    // the read at head replays FROM the checkpoint — DVs must survive it
    assert(rowSet(Versioned.read(spark, tbl)).map(_.head) ==
      Set[Any](1L, 3L, 4L))
    assert(certified(tbl, 3L))
  }

  test("streaming: append-only refuses a MoR delete; CDF streams it") {
    val base = tmp("src")
    val tbl = s"$base/tbl"
    Versioned.append(df(1L -> "a", 2L -> "b"), tbl)
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 1L)
    import org.apache.spark.sql.streaming.Trigger
    def run(out: String, ckpt: String, opts: Map[String, String]): Unit = {
      var src = spark.readStream.format("graft.sources.VersionedSource")
      opts.foreach { case (k, v) => src = src.option(k, v) }
      val q = src.load(tbl).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val e = intercept[Exception] { run(s"$base/o1", s"$base/c1", Map.empty) }
    assert(messages(e).exists(_.contains("append-only")))
    run(s"$base/o2", s"$base/c2", Map("readChangeFeed" -> "true"))
    val got = spark.read.parquet(s"$base/o2")
      .select("id", "t", "_change_type", "_version")
      .collect().map(_.toSeq).toSet
    assert(got == Set(Seq(1L, "a", "insert", 1L), Seq(2L, "b", "insert", 1L),
      Seq(1L, "a", "delete", 2L)))
  }

  test("MoR upsert tombstones matched rows and appends updates in one commit") {
    val tbl = tmp("ups") + "/tbl"
    Versioned.overwrite(df((1L to 6L).map(i => (i, s"v$i")): _*).coalesce(2), tbl)
    val dirsBefore = dataDirs(tbl)
    val c = Versioned.upsertMoR(spark, tbl,
      df(2L -> "UP", 9L -> "NEW"), Seq("id"))
    assert(c.action == "upsert_mor" && c.add.nonEmpty && c.dv.nonEmpty)
    // exactly one NEW data dir (the updates), no existing dir rewritten
    assert(dataDirs(tbl).intersect(dirsBefore) == dirsBefore)
    assert((dataDirs(tbl) -- dirsBefore).size == 1)
    val got = rowSet(Versioned.read(spark, tbl))
    assert(got.contains(Seq(2L, "UP")) && got.contains(Seq(9L, "NEW")) &&
      !got.contains(Seq(2L, "v2")) && got.size == 7)
    (1L to 2L).foreach(v => assert(certified(tbl, v), s"v$v"))
    // CDF window: the matched old row out, both update rows in
    val ch = Versioned.changesBetween(spark, tbl, 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch == Set((2L, "v2", "delete"), (2L, "UP", "insert"),
      (9L, "NEW", "insert")), ch.toString)
    // pure insert: no tombstones, still one commit
    val c2 = Versioned.upsertMoR(spark, tbl, df(10L -> "X"), Seq("id"))
    assert(c2.dv.isEmpty && c2.add.nonEmpty)
    assert(certified(tbl, c2.version))
    // a later MoR DELETE of an upserted-then-matched key composes
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L)
    assert(!rowSet(Versioned.read(spark, tbl)).exists(_.head == 2L))
    assert(certified(tbl, 4L))
  }

  test("vacuum reclaims orphan dv dirs; retention keeps in-force dvs") {
    val tbl = tmp("vac") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 1L)
    // fake a crashed MoR writer: an unreferenced dv dir
    val orphan = java.nio.file.Paths.get(tbl, "dv-deadbeef")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-x.parquet"), Array[Byte](1))
    val removed = Versioned.vacuum(spark, tbl)
    assert(removed == Seq("dv-deadbeef"), removed.toString)
    // retention vacuum: the in-force dv survives, reads stay correct
    Versioned.append(df(3L -> "c"), tbl)
    Versioned.vacuumVersions(spark, tbl, retainLast = 2)
    assert(rowSet(Versioned.read(spark, tbl)).map(_.head) == Set[Any](2L, 3L))
    assert(certified(tbl, 3L))
  }
}
