package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.{Fingerprint, Versioned}
import graft.ingest.Versioned._

/** Round-12 storage-layer work: automatic checkpoint cadence,
  * n-dimensional Z-order, stamped shallow clones, small-file
  * compaction, the change feed across widening epochs, in-place
  * conversion and the timestamp walk. (Its merge-planning and schema-
  * evolution cases live in VersionedMergeSpec.) */
class VersionedR12Spec extends SparkTestBase {
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

  private def recordJson(tbl: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$tbl/_graft_log", f"v$v%08d.json").toPath))

  // ------------------------------------------------- stamped shallow clone

  test("shallow clone claims its v1 through the stamped funnel") {
    val base = tmp("clonestamp")
    val src = s"$base/src"
    val dst = s"$base/dst"
    Versioned.overwrite(df((1L to 6L).map(i => (i, s"v$i")): _*), src)
    Versioned.deleteWhereMoR(spark, src, col("id") % 2 === 0)
    val c = Versioned.cloneShallow(spark, src, dst)
    // monotonic commit timestamp from birth: TIMESTAMP AS OF and
    // age-based retention accept the clone instead of refusing it as
    // a legacy unstamped record (ADVICE r11 medium)
    assert(c.ts > 0L, "clone v1 must be timestamp-stamped")
    assert(Versioned.versionAsOfTimestamp(spark, dst,
      System.currentTimeMillis() + 60000L) == 1L)
    assert(Versioned.vacuumOlderThan(spark, dst, 86400000L) == ((0L, 1L)))
    // reader features stamped from the clone's own content: the carried
    // deletion vectors would silently resurrect rows under an old
    // reader, so the record must refuse one
    assert(c.features == Seq("deletion-vectors"),
      s"clone carrying DVs must claim the dv reader feature, got ${c.features}")
    assert(recordJson(dst, 1L).contains("deletion-vectors"))
    assert(certified(dst, 1L))
  }

  test("clone of a column-mapped table composes with clone-side COW") {
    val base = tmp("clonecolmap")
    val src = s"$base/src"
    val dst = s"$base/dst"
    Versioned.overwrite(df(1L -> "a", 2L -> "b", 3L -> "c").coalesce(1), src)
    Versioned.renameColumn(spark, src, "t", "label") // colMap epoch
    val c = Versioned.cloneShallow(spark, src, dst)
    assert(c.features == Seq("column-mapping"))
    assert(Versioned.read(spark, dst).columns.toSeq == Seq("id", "label"))
    // clone-side COW upsert rewrites a foreign file under the clone's
    // own mapping epoch; the source is untouched
    Versioned.upsert(spark, dst,
      Seq((2L, "UP")).toDF("id", "label"), Seq("id"))
    assert(rowSet(Versioned.read(spark, dst)) ==
      Set(Seq[Any](1L, "a"), Seq[Any](2L, "UP"), Seq[Any](3L, "c")))
    assert(certified(dst, 2L))
    assert(rowSet(Versioned.read(spark, src)) ==
      Set(Seq[Any](1L, "a"), Seq[Any](2L, "b"), Seq[Any](3L, "c")))
  }

  // ------------------------------------------------ automatic checkpoints

  test("commits auto-checkpoint every N versions and reads are O(tail)") {
    val tbl = tmp("autockpt")
    val saved = Versioned.autoCheckpointInterval
    try {
      Versioned.autoCheckpointInterval = 10
      Versioned.overwrite(df(0L -> "seed").coalesce(1), tbl)
      (1L to 24L).foreach(i =>
        Versioned.append(df(i -> s"v$i").coalesce(1), tbl))
      assert(Versioned.checkpoints(spark, tbl) == Seq(10L, 20L),
        "the cadence lands checkpoints at v10 and v20 with no manual call")
      val head = Versioned.latestVersion(spark, tbl)
      assert(head == 25L)
      val want = rowSet(Versioned.read(spark, tbl))
      // O(tail) PROOF: physically delete every record below the newest
      // checkpoint — a replay that still works cannot have read them
      val log = new java.io.File(s"$tbl/_graft_log")
      (1L to 19L).foreach { v =>
        val f = new java.io.File(log, f"v$v%08d.json")
        assert(f.delete(), s"test setup: could not delete $f")
      }
      assert(rowSet(Versioned.read(spark, tbl)) == want,
        "head replay must fold from the v20 checkpoint + 5 tail records")
      assert(certified(tbl, head))
      // pre-checkpoint versions ARE gone — that is the price the test
      // paid for the proof, not engine behavior (records are never
      // deleted by the engine itself)
    } finally Versioned.autoCheckpointInterval = saved
  }

  test("incremental checkpoints carry the feature union forward") {
    val tbl = tmp("ckptfeat")
    val saved = Versioned.autoCheckpointInterval
    try {
      Versioned.autoCheckpointInterval = 3
      Versioned.overwrite(df(1L -> "a", 2L -> "b", 3L -> "c").coalesce(1), tbl)
      Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L) // dv feature, v2
      Versioned.append(df(4L -> "d").coalesce(1), tbl)       // v3 -> ckpt
      (5L to 7L).foreach(i =>
        Versioned.append(df(i -> s"v$i").coalesce(1), tbl))  // v6 -> ckpt
      assert(Versioned.checkpoints(spark, tbl) == Seq(3L, 6L))
      // the v6 checkpoint folded INCREMENTALLY from v3's — the dv
      // feature must survive the fold even though no record in (3, 6]
      // carries it (q243's union rule, incremental form)
      val ck = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(s"$tbl/_graft_log", "ckpt-00000006.json").toPath))
      assert(ck.contains("deletion-vectors"),
        s"v6 checkpoint lost the carried feature union: $ck")
      assert(rowSet(Versioned.read(spark, tbl)).map(_.head.asInstanceOf[Long])
        == Set(1L, 3L, 4L, 5L, 6L, 7L))
    } finally Versioned.autoCheckpointInterval = saved
  }

  // ---------------------------------------------------- n-dim Z-order

  test("z_value_n(2) is bit-identical to z_value") {
    val d = (0L to 255L).map(i => (i % 16L, (i / 16L) % 16L)).toDF("x", "y")
    val mism = d.filter(graft.functions.z_value(col("x"), col("y"), 8) =!=
      graft.functions.z_value_n(Seq(col("x"), col("y")), 8)).count()
    assert(mism == 0L)
    // null propagates
    val n = Seq((Some(1L), None: Option[Long])).toDF("x", "y")
      .select(graft.functions.z_value_n(Seq(col("x"), col("y")), 8).as("z"))
    assert(n.head().isNullAt(0))
  }

  test("3-dimensional z-order prunes on every dimension") {
    val tbl = tmp("zorder3")
    val rows = (0L until 4096L).map { i =>
      (i, i % 16L, (i * 7L) % 16L, (i * 13L) % 16L)
    }.toDF("id", "a", "b", "c")
    Versioned.overwrite(rows, tbl)
    val c = Versioned.optimize(spark, tbl, numFiles = 8,
      zorderBy = Seq("a", "b", "c"), zBits = 4).get
    // content identity is certified at commit time (the additive
    // fingerprint aborts a corrupting rewrite) — and replays green
    assert(certified(tbl, c.version))
    // with 8 output files over 12-bit codes, each file pins the top
    // bit of EVERY dimension: a half-range filter on any of the three
    // prunes about half the files — the n-dim win a 1-d sort cannot give
    Seq("a", "b", "c").foreach { dim =>
      val (_, scanned, total) =
        Versioned.readAsOfPruned(spark, tbl, c.version, dim, 0L, 7L)
      assert(scanned < total,
        s"zone-map pruning on `$dim` must skip files: $scanned/$total")
    }
    val e = intercept[IllegalArgumentException] {
      Versioned.optimize(spark, tbl, 4, zorderBy = Seq("a"))
    }
    assert(e.getMessage.contains(">= 2"))
    val e2 = intercept[IllegalArgumentException] {
      Versioned.optimize(spark, tbl, 4,
        zorderBy = Seq("a", "b", "c"), zBits = 30)
    }
    assert(e2.getMessage.contains("n*bits"))
  }

  // -------------------------------------------- small-file auto-compaction

  test("compactSmallFiles rewrites only the under-threshold files") {
    val tbl = tmp("compact")
    Versioned.overwrite(df((1L to 400L).map(i => (i, s"v$i" * 8)): _*)
      .coalesce(1), tbl) // one big file
    (1L to 3L).foreach(i =>
      Versioned.append(df((400L + i) -> "tiny").coalesce(1), tbl))
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 401L) // live DV
    val big = Versioned.commitsBetween(spark, tbl, 0L, 1L).head.add.head
    val bigBytes = new java.io.File(s"$tbl/$big").length
    val preRows = rowSet(Versioned.read(spark, tbl))
    val c = Versioned.compactSmallFiles(spark, tbl, bigBytes).get
    assert(c.remove.size == 3 && !c.remove.contains(big),
      s"only the three tiny files compact, got ${c.remove}")
    assert(c.add.size == 1)
    // live-content compaction: the tombstoned row does NOT resurface
    assert(rowSet(Versioned.read(spark, tbl)) == preRows)
    assert(certified(tbl, c.version))
    // the change feed over the compaction cancels to zero rows
    assert(Versioned.changesBetween(spark, tbl, c.version - 1L,
      c.version).count() == 0L)
    // no-churn guard: nothing small left -> None, and a 1-file set
    // never compacts (minInputFiles)
    assert(Versioned.compactSmallFiles(spark, tbl, 2L).isEmpty)
  }

  // ------------------------------------------- CDF across widening epochs

  test("change feed aligns widening epochs by lossless promotion") {
    val tbl = tmp("cdfwiden")
    val narrow = Seq((1L, 10), (2L, 20), (3L, 30)).toDF("id", "n")
    Versioned.overwrite(narrow.coalesce(1), tbl) // v1: int
    // v2: widening MERGE (retype only, no new column)
    Versioned.merge(spark, tbl,
      Seq((2L, 3000000000L)).toDF("id", "n"), Seq("id"),
      Seq(WhenMatchedUpdate(Map("n" -> srcCol("n")))), evolveSchema = true)
    val cdf = Versioned.changesBetween(spark, tbl, 1L, 2L)
    val got = rowSet(cdf.select(col("_change_type"), col("id"), col("n")))
    assert(got == Set(
      Seq[Any]("delete", 2L, 20L), // narrow value promoted, not re-parsed
      Seq[Any]("insert", 2L, 3000000000L)), got.toString)
    // unchanged rows cancelled; the feed spans the epoch end to end
    assert(Versioned.changesBetween(spark, tbl, 0L, 2L)
      .filter(col("_change_type") === "insert" && col("_version") === 1L)
      .count() == 3L)
    // a widening OVERWRITE aligns the same way (overwrite branch)
    val tbl2 = tmp("cdfwideow")
    Versioned.overwrite(narrow.coalesce(1), tbl2)
    Versioned.overwrite(Seq((1L, 10L), (2L, 9999999999L))
      .toDF("id", "n").coalesce(1), tbl2)
    val ow = rowSet(Versioned.changesBetween(spark, tbl2, 1L, 2L)
      .select(col("_change_type"), col("id"), col("n")))
    assert(ow == Set(
      Seq[Any]("delete", 2L, 20L), Seq[Any]("delete", 3L, 30L),
      Seq[Any]("insert", 2L, 9999999999L)), ow.toString)
    // a LOSSY retype still refuses loudly
    val tbl3 = tmp("cdflossy")
    Versioned.overwrite(Seq((1L, 10L)).toDF("id", "n").coalesce(1), tbl3)
    Versioned.overwrite(Seq((1L, 1.5)).toDF("id", "n").coalesce(1), tbl3)
    val e = intercept[IllegalStateException] {
      Versioned.changesBetween(spark, tbl3, 1L, 2L).count()
    }
    assert(e.getMessage.contains("not a lossless widening"))
  }

  // ------------------------------------------------- convert in place

  test("convertInPlace adopts a plain parquet dir with zero copies") {
    val base = tmp("convert")
    val dir = s"$base/plain"
    df(1L -> "a", 2L -> "b", 3L -> "c").coalesce(2).write.parquet(dir)
    val preFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val c = Versioned.convertInPlace(spark, dir)
    assert(c.version == 1L && c.add.toSet == preFiles,
      s"v1 must reference exactly the pre-existing files: ${c.add}")
    assert(c.ts > 0L, "conversion claims through the stamped funnel")
    assert(rowSet(Versioned.read(spark, dir)) ==
      Set(Seq[Any](1L, "a"), Seq[Any](2L, "b"), Seq[Any](3L, "c")))
    assert(certified(dir, 1L), "certified from birth by the one digest scan")
    // the whole surface composes post-conversion
    Versioned.upsert(spark, dir, df(2L -> "B", 4L -> "D"), Seq("id"))
    assert(rowSet(Versioned.read(spark, dir)) ==
      Set(Seq[Any](1L, "a"), Seq[Any](2L, "B"), Seq[Any](3L, "c"),
        Seq[Any](4L, "D")))
    assert(certified(dir, 2L))
    // re-conversion refuses: the log exists
    val e = intercept[IllegalArgumentException] {
      Versioned.convertInPlace(spark, dir)
    }
    assert(e.getMessage.contains("already has a commit log"))
    // an empty dir refuses
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/empty2"))
    val e2 = intercept[IllegalArgumentException] {
      Versioned.convertInPlace(spark, s"$base/empty2")
    }
    assert(e2.getMessage.contains("no parquet files"))
  }

  // ------------------------------------------------ startingTimestamp walk

  test("versionFloorBefore resolves in one walk and refuses unstamped") {
    val tbl = tmp("floor")
    Versioned.append(df(1L -> "a").coalesce(1), tbl)
    Versioned.append(df(2L -> "b").coalesce(1), tbl)
    Versioned.append(df(3L -> "c").coalesce(1), tbl)
    val ts2 = Versioned.commitTimestamp(spark, tbl, 2L)
    assert(Versioned.versionFloorBefore(spark, tbl, ts2) == 1L)
    assert(Versioned.versionFloorBefore(spark, tbl, ts2 + 1L) == 2L)
    assert(Versioned.versionFloorBefore(spark, tbl,
      Versioned.commitTimestamp(spark, tbl, 1L)) == 0L,
      "nothing strictly before the first commit's stamp")
    // strip v1's timestamp (and its write nonce — a true pre-timestamp
    // record predates nonces too, and an unchanged nonce would serve
    // the cached stamped parse) -> a walk that must pass it refuses
    // loudly instead of treating the record as infinitely old
    val f = new java.io.File(s"$tbl/_graft_log", "v00000001.json")
    val stripped = new String(java.nio.file.Files.readAllBytes(f.toPath))
      .replaceAll(""","ts":\d+""", "")
      .replaceAll(""""nonce":"[0-9a-f]{32}",""", "")
    assert(stripped.length < f.length(), "test setup: ts field not found")
    java.nio.file.Files.write(f.toPath, stripped.getBytes)
    val e = intercept[IllegalArgumentException] {
      Versioned.versionFloorBefore(spark, tbl, ts2)
    }
    assert(e.getMessage.contains("no commit timestamp"))
    // a floor the walk finds ABOVE the unstamped record still resolves
    assert(Versioned.versionFloorBefore(spark, tbl,
      Versioned.commitTimestamp(spark, tbl, 3L)) == 2L)
  }
}
