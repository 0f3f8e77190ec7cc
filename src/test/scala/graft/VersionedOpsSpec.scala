package graft

import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Versioned}

/** Round-10 batch-2 table operations: RESTORE, CHECK constraints,
  * retention vacuum (time-travel horizon), shallow clone. */
class VersionedOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def df(rows: (Long, String)*) = rows.toDF("id", "t")

  private def certified(tbl: String, v: Long, cols: Seq[String]): Boolean = {
    val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
    val r = Versioned.readAsOf(spark, tbl, v).agg(count(lit(1)),
      coalesce(sum(Fingerprint.rowDigest(cols.map(col))), lit(0L))).head()
    (r.getLong(0), r.getLong(1)) == ((n, fp))
  }

  test("restore rolls back content metadata-only; history and CDF stay honest") {
    val tbl = tmp("restore") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)          // v1
    Versioned.append(df(3L -> "c"), tbl)                        // v2
    Versioned.upsert(spark, tbl, df(1L -> "A"), Seq("id"))      // v3
    val dataDirsBefore = java.nio.file.Files.list(
      java.nio.file.Paths.get(tbl)).count()
    val c = Versioned.restore(spark, tbl, 2L)                   // v4
    assert(c.version == 4L && c.action == "overwrite")
    // metadata-only: no new data directory was written
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(tbl)).count() == dataDirsBefore)
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    // the bad version is still readable for forensics
    assert(rowSet(Versioned.readAsOf(spark, tbl, 3L))
      .contains(Seq(1L, "A")))
    (1L to 4L).foreach(v => assert(certified(tbl, v, Seq("id", "t")), s"v$v"))
    // CDF across the restore: (1,"A") out, (1,"a") back
    val ch = Versioned.changesBetween(spark, tbl, 3L, 4L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch == Set((1L, "A", "delete"), (1L, "a", "insert")))
    // restore composes with zone maps: the re-referenced files' stats
    // still prune (archived by their ORIGINAL commits)
    val (_, scanned, total) = Versioned.readAsOfPruned(spark, tbl, 4L,
      "id", 100L, 200L)
    assert(total > 0 && scanned == 0,
      s"restored files' archived stats must still prune: $scanned/$total")
  }

  test("check constraints gate every write path before data is visible") {
    val tbl = tmp("cons") + "/tbl"
    Versioned.overwrite(df(1L -> "a"), tbl)
    Versioned.addConstraint(spark, tbl, "pos_id", "id > 0")
    assert(Versioned.constraints(spark, tbl) == Seq("pos_id" -> "id > 0"))
    // conforming writes proceed
    Versioned.append(df(2L -> "b"), tbl)
    // violating append refused, staging cleaned, table unchanged
    val headBefore = Versioned.latestVersion(spark, tbl)
    val e = intercept[Exception] { Versioned.append(df(-5L -> "x"), tbl) }
    assert(messages(e).exists(_.contains("pos_id")))
    assert(Versioned.latestVersion(spark, tbl) == headBefore)
    assert(Versioned.vacuum(spark, tbl).isEmpty,
      "failed staging must have been deleted, not left for vacuum")
    // violating upsert refused too (rides rewriteCommit's digest scan)
    val e2 = intercept[Exception] {
      Versioned.upsert(spark, tbl, df(-7L -> "y"), Seq("id"))
    }
    assert(messages(e2).exists(_.contains("pos_id")))
    // NULL passes (SQL-standard CHECK semantics)
    Versioned.append(Seq((Option.empty[Long], "n")).toDF("id", "t"), tbl)
    // adding a constraint the current content violates is refused
    val e3 = intercept[Exception] {
      Versioned.addConstraint(spark, tbl, "short_t", "length(t) > 5")
    }
    assert(messages(e3).exists(_.contains("existing rows violate")))
    // drop, then the formerly-violating row lands
    Versioned.dropConstraint(spark, tbl, "pos_id")
    Versioned.append(df(-5L -> "x"), tbl)
    assert(Versioned.read(spark, tbl).count() == 4L)
    // restore cannot bypass a constraint added since: old content
    // violates, current content satisfies, rollback refused
    val tbl2 = tmp("cons2") + "/tbl"
    Versioned.overwrite(df(-5L -> "x"), tbl2)
    Versioned.overwrite(df(2L -> "b"), tbl2)
    Versioned.addConstraint(spark, tbl2, "pos_id2", "id > 0")
    val e4 = intercept[Exception] { Versioned.restore(spark, tbl2, 1L) }
    assert(messages(e4).exists(_.contains("pos_id2")))
  }

  test("generated columns: omitted values computed, provided values validated") {
    val tbl = tmp("gen") + "/tbl"
    Versioned.overwrite(
      Seq((10L, 1L, "a"), (25L, 2L, "b")).toDF("cents", "band", "t"), tbl)
    // declare band generated; existing content must satisfy it
    val bad = intercept[Exception] {
      Versioned.addGeneratedColumn(spark, tbl, "band", "cents div 100")
    }
    assert(messages(bad).exists(_.contains("do not equal")))
    Versioned.addGeneratedColumn(spark, tbl, "band", "cents div 10")
    assert(Versioned.generatedColumns(spark, tbl) ==
      Seq("band" -> "cents div 10"))
    // append OMITTING band: computed automatically (and reordered)
    Versioned.append(Seq((37L, "c")).toDF("cents", "t"), tbl)
    assert(rowSet(Versioned.read(spark, tbl)).contains(Seq(37L, 3L, "c")))
    // append PROVIDING a correct value: fine
    Versioned.append(Seq((41L, 4L, "d")).toDF("cents", "band", "t"), tbl)
    // providing a WRONG value: refused before visibility, staging cleaned
    val head = Versioned.latestVersion(spark, tbl)
    val e = intercept[Exception] {
      Versioned.append(Seq((55L, 9L, "x")).toDF("cents", "band", "t"), tbl)
    }
    assert(messages(e).exists(_.contains("generated_band")))
    assert(Versioned.latestVersion(spark, tbl) == head)
    assert(Versioned.vacuum(spark, tbl).isEmpty)
    // an upsert with a wrong generated value is refused too
    val e2 = intercept[Exception] {
      Versioned.upsert(spark, tbl,
        Seq((10L, 7L, "A")).toDF("cents", "band", "t"), Seq("cents"))
    }
    assert(messages(e2).exists(_.contains("generated_band")))
    // drop: the definition goes away, writers provide the column again
    Versioned.dropGeneratedColumn(spark, tbl, "band")
    Versioned.append(Seq((55L, 9L, "x")).toDF("cents", "band", "t"), tbl)
    // every version stays certified
    (1L to Versioned.latestVersion(spark, tbl)).foreach { v =>
      val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
      val asOf = Versioned.readAsOf(spark, tbl, v)
      val r = asOf.agg(count(lit(1)), coalesce(sum(Fingerprint.rowDigest(
        asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
      assert((r.getLong(0), r.getLong(1)) == ((n, fp)), s"v$v")
    }
  }

  test("retention vacuum reclaims old files and sets a loud horizon") {
    val tbl = tmp("vac") + "/tbl"
    Versioned.overwrite(df(1L -> "a"), tbl)                      // v1
    Versioned.overwrite(df(2L -> "b"), tbl)                      // v2 (v1 file dead)
    Versioned.append(df(3L -> "c"), tbl)                         // v3
    Versioned.upsert(spark, tbl, df(2L -> "B"), Seq("id"))       // v4 (v2 file dead)
    val (deleted, horizon) = Versioned.vacuumVersions(spark, tbl, retainLast = 2)
    assert(horizon == 3L)
    // ONLY v1's file is reclaimable: v2's original file is still active
    // at retained v3 (the rewrite replaced it only from v4 on)
    assert(deleted == 1L, s"deleted $deleted")
    assert(rowSet(Versioned.readAsOf(spark, tbl, 3L)) ==
      Set(Seq(2L, "b"), Seq(3L, "c")))
    assert(certified(tbl, 4L, Seq("id", "t")))
    // below the horizon: loud refusal, not a missing-file crash
    val e = intercept[Exception] { Versioned.readAsOf(spark, tbl, 1L) }
    assert(messages(e).exists(_.contains("retention-vacuumed")))
    val e2 = intercept[Exception] {
      Versioned.changesBetween(spark, tbl, 1L, 4L) }
    assert(messages(e2).exists(_.contains("horizon")))
    // history metadata survives the vacuum
    assert(Versioned.history(spark, tbl).count() == 4L)
    // idempotent / monotone: re-vacuum with a larger window keeps horizon
    val (_, h2) = Versioned.vacuumVersions(spark, tbl, retainLast = 10)
    assert(h2 == 3L)
  }

  test("shallow clone is zero-copy, certified, and diverges independently") {
    val base = tmp("clone")
    val src = s"$base/src"
    val dst = s"$base/dst"
    val orders = (1L to 64L).map(i => (i, s"v$i")).toDF("id", "t")
    Versioned.overwrite(orders.filter(col("id") <= 32L).coalesce(1), src)
    Versioned.append(orders.filter(col("id") > 32L).coalesce(1), src)
    val c = Versioned.cloneShallow(spark, src, dst)
    assert(c.add.forall(_.startsWith("/")), "clone refs must be absolute")
    // zero-copy: the clone root holds no data dirs
    locally {
      import scala.jdk.CollectionConverters._
      assert(!java.nio.file.Files.list(java.nio.file.Paths.get(dst))
        .iterator().asScala.exists(_.getFileName.toString.startsWith("d-")))
    }
    assert(rowSet(Versioned.read(spark, dst)) ==
      rowSet(Versioned.read(spark, src)))
    assert(certified(dst, 1L, Seq("id", "t")))
    // carried-over zone maps prune on the clone
    val (_, scanned, total) = Versioned.readAsOfPruned(spark, dst, 1L,
      "id", 1L, 10L)
    assert(total == 2 && scanned == 1)
    // divergence: clone-side upsert rewrites ONLY the clone's reference
    Versioned.upsert(spark, dst, df(1L -> "CLONE"), Seq("id"))
    assert(rowSet(Versioned.read(spark, src)).contains(Seq(1L, "v1")))
    assert(rowSet(Versioned.read(spark, dst)).contains(Seq(1L, "CLONE")))
    assert(certified(dst, 2L, Seq("id", "t")))
    // source-side append does not leak into the clone
    Versioned.append(df(999L -> "src-only"), src)
    assert(!rowSet(Versioned.read(spark, dst)).contains(Seq(999L, "src-only")))
    // the clone's COW remove matched the absolute entry exactly: the
    // replaced reference is gone from its active set, not duplicated
    assert(Versioned.read(spark, dst).filter(col("id") === 1L).count() == 1L)
  }

}
