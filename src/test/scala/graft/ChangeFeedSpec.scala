package graft

import org.apache.spark.sql.functions._

import graft.ingest.{ChangeFeed, Fingerprint, Versioned}

/** The exactly-once change-feed mirror: one idempotent tagged append
  * per source version, absorbed under total re-delivery and under a
  * different trigger width. The stream source it runs on (offsets,
  * restart, refusals) is covered by [[VersionedSourceSpec]]. */
class ChangeFeedSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_cf_$name").toString

  private def df(rows: (Long, String)*) = rows.toDF("id", "t")

  test("mirrorTo is exactly-once under total re-delivery from a fresh checkpoint") {
    val base = tmp("mirror")
    val tbl = s"$base/tbl"
    val down = s"$base/down"
    Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)            // v1
    Versioned.append(df(3L -> "c"), tbl)                          // v2
    Versioned.upsert(spark, tbl, df(2L -> "B"), Seq("id"))        // v3
    Versioned.deleteWhere(spark, tbl, col("id") === 3L)           // v4
    ChangeFeed.mirrorTo(spark, tbl, down, s"$base/ckpt1", "cf",
      maxVersionsPerTrigger = 1)
    val once = rows(Versioned.read(spark, down))
    // expected CDF multiset: v1 inserts a,b; v2 inserts c; v3 pairs
    // delete(2,b)+insert(2,B); v4 deletes (3,c) — 6 change rows
    assert(once.size == 6, once.toString)
    val downCommits = Versioned.latestVersion(spark, down)
    // FRESH checkpoint: the whole feed re-delivers; every window is
    // already tagged downstream -> absorbed, nothing duplicated
    ChangeFeed.mirrorTo(spark, tbl, down, s"$base/ckpt2", "cf",
      maxVersionsPerTrigger = 1)
    assert(rows(Versioned.read(spark, down)) == once)
    assert(Versioned.latestVersion(spark, down) == downCommits)
    // and the mirror itself is certified like any versioned table
    val (n, fp) = Versioned.archivedFingerprint(spark, down, downCommits)
    val r = Versioned.read(spark, down).agg(count(lit(1)),
      sum(Fingerprint.rowDigest(Seq(col("id"), col("t"),
        col("_change_type"), col("_version"))))).head()
    assert((r.getLong(0), r.getLong(1)) == ((n, fp)))
  }

  test("re-delivery with a DIFFERENT trigger width is absorbed (per-version keys)") {
    val base = tmp("rewin")
    val tbl = s"$base/tbl"
    val down = s"$base/down"
    Versioned.overwrite(df(1L -> "a"), tbl)       // v1
    Versioned.append(df(2L -> "b"), tbl)          // v2
    Versioned.append(df(3L -> "c"), tbl)          // v3
    Versioned.append(df(4L -> "d"), tbl)          // v4
    // first run windows (0,2], (2,4]; a window-keyed idempotence would
    // tag batches 2 and 4
    ChangeFeed.mirrorTo(spark, tbl, down, s"$base/ckpt1", "cf",
      maxVersionsPerTrigger = 2)
    val once = rows(Versioned.read(spark, down))
    assert(once.size == 4)
    val downCommits = Versioned.latestVersion(spark, down)
    // fresh checkpoint, width 1: windows (0,1], (1,2], (2,3], (3,4] —
    // upper versions 1 and 3 were never window keys, but the
    // PER-SOURCE-VERSION tags absorb every row regardless of windowing
    ChangeFeed.mirrorTo(spark, tbl, down, s"$base/ckpt2", "cf",
      maxVersionsPerTrigger = 1)
    assert(rows(Versioned.read(spark, down)) == once)
    assert(Versioned.latestVersion(spark, down) == downCommits)
  }

  test("an OPTIMIZE in the feed window mirrors as zero rows, no empty commit") {
    val base = tmp("opt")
    val tbl = s"$base/tbl"
    val down = s"$base/down"
    Versioned.overwrite(df(1L -> "a"), tbl)
    Versioned.append(df(2L -> "b"), tbl)
    Versioned.optimize(spark, tbl, numFiles = 1)
    val downHead = ChangeFeed.mirrorTo(spark, tbl, down, s"$base/ckpt", "cf",
      maxVersionsPerTrigger = 1)
    // v1+v2 mirrored; v3 (optimize) produced an empty window -> skipped
    assert(downHead == 2L)
    assert(committedOffset(s"$base/ckpt").contains("3"))
    assert(Versioned.read(spark, down).count() == 2L)
  }
}
