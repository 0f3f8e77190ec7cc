package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Versioned}

class VersionedSpec extends SparkTestBase {
  import spark.implicits._

  private def df(rows: (Long, String)*) = rows.toDF("id", "t")

  test("overwrite + appends replay to each version; head read sees all") {
    val tbl = tmp("tbl") + "/tbl"
    val c1 = Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)
    val c2 = Versioned.append(df(3L -> "c"), tbl)
    val c3 = Versioned.append(df(4L -> "d", 5L -> "e"), tbl)
    assert((c1.version, c2.version, c3.version) == (1L, 2L, 3L))
    assert(Versioned.latestVersion(spark, tbl) == 3L)
    assert(rowSet(Versioned.readAsOf(spark, tbl, 1)) ==
      Set(Seq(1L, "a"), Seq(2L, "b")))
    assert(rowSet(Versioned.readAsOf(spark, tbl, 2)) ==
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    assert(rowSet(Versioned.read(spark, tbl)).size == 5)
    // an overwrite resets the active set but old versions stay readable
    val c4 = Versioned.overwrite(df(9L -> "z"), tbl)
    assert(c4.version == 4L)
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(9L, "z")))
    assert(rowSet(Versioned.readAsOf(spark, tbl, 2)).size == 3)
  }

  test("archived snapshot fingerprints certify every readAsOf replay") {
    val tbl = tmp("tbl") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)
    Versioned.append(df(3L -> "c"), tbl)
    Versioned.overwrite(df(7L -> "q", 8L -> "r"), tbl)
    (1L to 3L).foreach { v =>
      val (archRows, archFp) = Versioned.archivedFingerprint(spark, tbl, v)
      val replay = Versioned.readAsOf(spark, tbl, v)
        .agg(count(lit(1)), coalesce(sum(
          Fingerprint.rowDigest(Seq(col("id"), col("t")))), lit(0L))).head()
      assert((replay.getLong(0), replay.getLong(1)) == ((archRows, archFp)),
        s"version $v replay does not hash to its archived fingerprint")
    }
    // history carries the additive rollup: v2 snapshot = v1 + v2 add
    val h = Versioned.history(spark, tbl).orderBy("version")
      .select("version", "n_rows", "add_fp", "snapshot_rows", "snapshot_fp")
      .collect()
    assert(h(1).getLong(3) == h(0).getLong(1) + h(1).getLong(1))
    assert(h(1).getLong(4) == h(0).getLong(2) + h(1).getLong(2))
  }

  test("append schema drift is refused loudly") {
    val tbl = tmp("tbl") + "/tbl"
    Versioned.overwrite(df(1L -> "a"), tbl)
    val bad = Seq((1L, 2.5)).toDF("id", "t") // t: string -> double
    val e = intercept[IllegalStateException](Versioned.append(bad, tbl))
    assert(e.getMessage.contains("schema mismatch"))
    assert(Versioned.latestVersion(spark, tbl) == 1L)
  }

  test("two concurrent appends both land; versions serialize") {
    val tbl = tmp("tbl") + "/tbl"
    Versioned.overwrite(df(0L -> "seed"), tbl)
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    try {
      val futs = Seq("A", "B").map { tag =>
        pool.submit(new java.util.concurrent.Callable[Versioned.Commit] {
          def call(): Versioned.Commit = {
            val d = (1L to 5L).map(i => (i, tag)).toDF("id", "t")
            gate.await(30, TimeUnit.SECONDS)
            Versioned.append(d, tbl)
          }
        })
      }
      gate.countDown()
      val commits = futs.map(_.get(120, TimeUnit.SECONDS))
      // both writers won SOME version, and the two versions are distinct
      assert(commits.map(_.version).toSet == Set(2L, 3L))
      // every row from both batches survives
      val got = Versioned.read(spark, tbl)
      assert(got.count() == 11)
      assert(rowSet(got.groupBy("t").count()
        .filter(col("t") =!= "seed")) == Set(Seq("A", 5L), Seq("B", 5L)))
      // the head snapshot totals reflect both, whatever the order
      val (n, fp) = Versioned.archivedFingerprint(spark, tbl, 3L)
      val replay = got.agg(count(lit(1)),
        sum(Fingerprint.rowDigest(Seq(col("id"), col("t"))))).head()
      assert((replay.getLong(0), replay.getLong(1)) == ((n, fp)))
    } finally pool.shutdownNow()
  }

  test("a claimed version file can never be claimed again") {
    // direct protocol check: 16 threads race 4 commits each — every
    // version number is won exactly once and the log is gapless
    val tbl = tmp("tbl") + "/tbl"
    Versioned.overwrite(df(0L -> "seed"), tbl)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = Versioned.append(df(i.toLong -> s"w$i"), tbl).version
        })
      }
      val versions = futs.map(_.get(180, TimeUnit.SECONDS))
      assert(versions.sorted == (2L to 9L))
      assert(Versioned.read(spark, tbl).count() == 9)
    } finally pool.shutdownNow()
  }

  // ---------------------------------------------- the one claim loop

  /** A table at v1 and its state, plus rows staged (invisible) under a
    * fresh data dir, and a `build` that appends the staged files on top
    * of any head. */
  private def staged(rows: (Long, String)*) = {
    val tbl = tmp("tbl") + "/tbl"
    val head = Some(Versioned.overwrite(df(1L -> "a"), tbl))
    val log = graft.ingest.TableLog(spark, tbl)
    val fs = log.fs
    val dir = new org.apache.hadoop.fs.Path(log.root, "d-claimspec")
    val frame = df(rows: _*)
    val (sized, n, fp, stats) =
      Versioned.stageAndDigest(frame, log, dir, frame.schema, Nil)
    def build(b: Option[Versioned.Commit],
              st: graft.ingest.TableLog.CkptState): Versioned.Commit = {
      val h = b.get
      Versioned.Commit(h.version + 1L, "append", sized.map(_._1),
        frame.schema.json, n, fp, h.snapshotRows + n, h.snapshotFp + fp,
        stats = stats, addSizes = sized.map(_._2))
    }
    (tbl, log, fs, dir, head, log.stateAt(1L), build _)
  }

  test("claim loop: a build pinned to a claimed version exhausts and drops its staging") {
    val (tbl, log, fs, dir, head, st, build) = staged(2L -> "b")
    val e = intercept[IllegalStateException](
      log.claimCommit(s"pinned commit to $tbl", head, st, Seq(dir),
        conflicts = None)((_, _) => build(head, st).copy(version = 1L)))
    assert(e.getMessage.endsWith(
      s"lost the version race ${Versioned.MaxClaimAttempts} times"), e.getMessage)
    assert(Versioned.MaxClaimAttempts == 20)
    assert(!fs.exists(dir), "exhaustion must delete the staged dir")
    assert(Versioned.latestVersion(spark, tbl) == 1L)
  }

  test("claim loop: a conflicting intervening commit aborts and drops its staging") {
    val (tbl, log, fs, dir, head, st, build) = staged(2L -> "b")
    Versioned.append(df(3L -> "c"), tbl) // lands v2 after `head` was read
    intercept[java.util.ConcurrentModificationException](
      log.claimCommit(s"test commit to $tbl", head, st, Seq(dir),
        Some(_.action == "append"))(build))
    assert(!fs.exists(dir), "a conflict must delete the staged dir")
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(1L, "a"), Seq(3L, "c")))
  }

  test("claim loop: a throwing build rethrows the same exception and drops its staging") {
    val (_, log, fs, dir, head, st, _) = staged(2L -> "b")
    val boom = new java.io.IOException("record read failed")
    val e = intercept[java.io.IOException](
      log.claimCommit("failing commit", head, st, Seq(dir),
        conflicts = None)((_, _) => throw boom))
    assert(e eq boom)
    assert(!fs.exists(dir), "a throwing build must delete the staged dir")
  }

  test("claim loop: a winning claim keeps its staged files readable") {
    val (tbl, log, fs, dir, head, st, build) = staged(2L -> "b", 3L -> "c")
    Versioned.append(df(4L -> "d"), tbl) // non-conflicting: lose once, rebase
    val c = log.claimCommit(s"test commit to $tbl", head, st,
      Seq(dir), Some(_ => false))(build)
    assert(c.version == 3L)
    assert(fs.exists(dir))
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c"), Seq(4L, "d")))
    val (n, fp) = Versioned.archivedFingerprint(spark, tbl, 3L)
    val r = Versioned.read(spark, tbl).agg(count(lit(1)),
      sum(Fingerprint.rowDigest(Seq(col("id"), col("t"))))).head()
    assert((r.getLong(0), r.getLong(1)) == ((n, fp)))
  }

  test("vacuum removes only unreferenced (crashed-writer) data dirs") {
    val tbl = tmp("tbl") + "/tbl"
    Versioned.overwrite(df(1L -> "a"), tbl)
    Versioned.append(df(2L -> "b"), tbl)
    // simulate a crash: data staged, claim never made
    df(99L -> "orphan").write.parquet(s"$tbl/d-deadbeef")
    val removed = Versioned.vacuum(spark, tbl)
    assert(removed == Seq("d-deadbeef"))
    // table content untouched
    assert(Versioned.read(spark, tbl).count() == 2)
    assert(rowSet(Versioned.readAsOf(spark, tbl, 1)) == Set(Seq(1L, "a")))
  }

  test("log checkpoints compact replay without changing any read") {
    val tbl = tmp("tbl") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)
    Versioned.append(df(3L -> "c"), tbl)
    val before = (1L to 2L).map(v => rowSet(Versioned.readAsOf(spark, tbl, v)))
    assert(Versioned.checkpoint(spark, tbl) == 2L)
    // reads at and before the checkpoint are unchanged
    (1L to 2L).foreach(v =>
      assert(rowSet(Versioned.readAsOf(spark, tbl, v)) == before((v - 1).toInt)))
    // commits after the checkpoint fold on top of it
    Versioned.append(df(4L -> "d"), tbl)
    assert(rowSet(Versioned.read(spark, tbl)).size == 4)
    Versioned.overwrite(df(9L -> "z"), tbl)
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(9L, "z")))
    // a later checkpoint at the overwrite head also replays clean
    assert(Versioned.checkpoint(spark, tbl) == 4L)
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(9L, "z")))
    assert(rowSet(Versioned.readAsOf(spark, tbl, 3)).size == 4)
    // checkpointing an empty table is a no-op
    assert(Versioned.checkpoint(spark, tmp("tbl") + "/tbl") == 0L)
  }

  test("copy-on-write delete rewrites ONLY the affected files") {
    val tbl = tmp("tbl") + "/tbl"
    val c1 = Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl) // dir A
    val c2 = Versioned.append(df(7L -> "x", 8L -> "y"), tbl)    // dir B
    val c3 = Versioned.deleteWhere(spark, tbl, col("id") === 7L).get
    assert(c3.action == "rewrite" && c3.version == 3L)
    // only the commit-2 file(s) actually HOLDING id 7 were rewritten —
    // file-granular pruning: commit 1's files (and commit 2's file
    // holding only id 8, when the two rows split files) stay shared
    assert(c3.remove.nonEmpty && c3.remove.toSet.subsetOf(c2.add.toSet))
    assert(c3.remove.toSet.intersect(c1.add.toSet).isEmpty)
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(8L, "y")))
    // older versions still see the deleted row; head stays certified
    assert(rowSet(Versioned.readAsOf(spark, tbl, 2)).size == 4)
    val (n, fp) = Versioned.archivedFingerprint(spark, tbl, 3L)
    val r = Versioned.read(spark, tbl).agg(count(lit(1)),
      sum(Fingerprint.rowDigest(Seq(col("id"), col("t"))))).head()
    assert((r.getLong(0), r.getLong(1)) == ((n, fp)))
    // no match -> no commit
    assert(Versioned.deleteWhere(spark, tbl, col("id") === 999L).isEmpty)
    assert(Versioned.latestVersion(spark, tbl) == 3L)
  }

  test("upsert replaces matched keys, inserts the rest, prunes untouched files") {
    val tbl = tmp("tbl") + "/tbl"
    val c1 = Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)
    val c2 = Versioned.append(df(3L -> "c"), tbl)
    val up = df(3L -> "C2", 9L -> "new")
    val c3 = Versioned.upsert(spark, tbl, up, Seq("id"))
    assert(c3.remove.toSet == c2.add.toSet, "only the file holding id 3 rewrites")
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "C2"), Seq(9L, "new")))
    assert(rowSet(Versioned.readAsOf(spark, tbl, 2)) ==
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    // pure insert (no key matches): nothing removed
    val c4 = Versioned.upsert(spark, tbl, df(50L -> "ins"), Seq("id"))
    assert(c4.remove.isEmpty && Versioned.read(spark, tbl).count() == 5)
    // schema drift refused
    val bad = Seq((1L, 1.5)).toDF("id", "t")
    intercept[IllegalArgumentException](Versioned.upsert(spark, tbl, bad, Seq("id")))
    // certification still holds through the whole rewrite history
    (1L to 4L).foreach { v =>
      val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
      val r = Versioned.readAsOf(spark, tbl, v).agg(count(lit(1)),
        coalesce(sum(Fingerprint.rowDigest(Seq(col("id"), col("t")))), lit(0L))).head()
      assert((r.getLong(0), r.getLong(1)) == ((n, fp)), s"v$v drifted")
    }
  }

  test("rewrites racing other commits never corrupt the table") {
    val tbl = tmp("tbl") + "/tbl"
    Versioned.overwrite(df((1L to 8L).map(i => (i, s"v$i")): _*), tbl)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val del = pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean =
          try { Versioned.deleteWhere(spark, tbl, col("id") === 2L); true }
          catch { case _: java.util.ConcurrentModificationException => false }
      })
      val app = pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = { Versioned.append(df(100L -> "app"), tbl); true }
      })
      val (delOk, appOk) = (del.get(120, TimeUnit.SECONDS), app.get(120, TimeUnit.SECONDS))
      assert(appOk, "appends retry and always land")
      // whatever interleaving happened, the head is exactly certified
      val head = Versioned.latestVersion(spark, tbl)
      val (n, fp) = Versioned.archivedFingerprint(spark, tbl, head)
      val r = Versioned.read(spark, tbl).agg(count(lit(1)),
        sum(Fingerprint.rowDigest(Seq(col("id"), col("t"))))).head()
      assert((r.getLong(0), r.getLong(1)) == ((n, fp)))
      // and content is one of the two legal serializations
      val ids = Versioned.read(spark, tbl).select("id").as[Long].collect().toSet
      if (delOk) assert(ids == (1L to 8L).toSet - 2L + 100L)
      else assert(ids == (1L to 8L).toSet + 100L)
    } finally pool.shutdownNow()
  }

  test("change feed: appends insert, updates pair up, carried-over rows cancel") {
    val tbl = tmp("tbl") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)          // v1
    Versioned.append(df(3L -> "c"), tbl)                        // v2
    Versioned.upsert(spark, tbl, df(2L -> "B2"), Seq("id"))     // v3
    Versioned.deleteWhere(spark, tbl, col("id") === 1L)         // v4
    def feed(a: Long, b: Long): Set[(Long, String, Long, String)] =
      Versioned.changesBetween(spark, tbl, a, b)
        .select(col("_version"), col("_change_type"), col("id"), col("t"))
        .as[(Long, String, Long, String)].collect().toSet
    assert(feed(0L, 4L) == Set(
      (1L, "insert", 1L, "a"), (1L, "insert", 2L, "b"),
      (2L, "insert", 3L, "c"),
      (3L, "delete", 2L, "b"), (3L, "insert", 2L, "B2"),
      (4L, "delete", 1L, "a")))
    // a sub-range sees only its own commits
    assert(feed(2L, 3L) == Set((3L, "delete", 2L, "b"), (3L, "insert", 2L, "B2")))
    // overwrite mid-history: unchanged rows cancel in the diff
    Versioned.overwrite(df(3L -> "c", 9L -> "z"), tbl)          // v5
    assert(feed(4L, 5L) == Set(
      (5L, "delete", 2L, "B2"), (5L, "insert", 9L, "z")))
    intercept[IllegalArgumentException](Versioned.changesBetween(spark, tbl, 3L, 3L))
  }

  test("idempotent txn appends: a re-delivered batch is absorbed") {
    val tbl = tmp("tbl") + "/tbl"
    assert(Versioned.idempotentAppend(df(1L -> "a"), tbl, "app", 0L).isDefined)
    assert(Versioned.idempotentAppend(df(1L -> "a"), tbl, "app", 0L).isEmpty)
    // a different batch id, and a different app with the same id, land
    assert(Versioned.idempotentAppend(df(2L -> "b"), tbl, "app", 1L).isDefined)
    assert(Versioned.idempotentAppend(df(3L -> "c"), tbl, "other", 0L).isDefined)
    assert(Versioned.read(spark, tbl).count() == 3)
    assert(Versioned.latestVersion(spark, tbl) == 3L)
  }

  test("streaming sink survives a full re-delivery exactly once") {
    val base = tmp("vstream")
    val tbl = s"$base/tbl"
    (1 to 3).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$base/in$i.json"),
        s"""{"id": $i, "t": "v$i"}\n""")
    }
    def src = spark.readStream.schema("id LONG, t STRING")
      .option("maxFilesPerTrigger", 1).json(s"$base/in*.json")
    val n1 = Versioned.runStreamAppend(spark, src, tbl, s"$base/c1", "app")
    assert(n1 == 3L && Versioned.read(spark, tbl).count() == 3)
    // fresh checkpoint = the whole stream re-delivered; all absorbed
    val n2 = Versioned.runStreamAppend(spark, src, tbl, s"$base/c2", "app")
    assert(n2 == 3L && Versioned.read(spark, tbl).count() == 3)
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, "v1"), Seq(2L, "v2"), Seq(3L, "v3")))
  }

  test("zone-map skipping: excluded files never open; results match the full scan") {
    val tbl = tmp("tbl") + "/tbl"
    def band(rows: (Long, String)*) = rows.toDF("id", "t").coalesce(1)
    Versioned.overwrite(band(1L -> "a", 5L -> "b"), tbl)      // ids [1, 5]
    Versioned.append(band(10L -> "c", 19L -> "d"), tbl)       // ids [10, 19]
    Versioned.append(band(100L -> "e"), tbl)                  // ids [100, 100]
    val (df, scanned, total) = Versioned.readAsOfPruned(spark, tbl, 3L, "id", 8L, 50L)
    assert((scanned, total) == ((1, 3)), "only the [10, 19] file overlaps")
    assert(rowSet(df.filter(col("id").between(8L, 50L))) ==
      Set(Seq(10L, "c"), Seq(19L, "d")))
    // a probe outside every band scans nothing
    val (_, s2, _) = Versioned.readAsOfPruned(spark, tbl, 3L, "id", 40L, 60L)
    assert(s2 == 0)
    // stats survive a COW rewrite: delete id 19 -> rewritten file's
    // archived range tightens to [10, 10]
    Versioned.deleteWhere(spark, tbl, col("id") === 19L)
    val (_, s3, t3) = Versioned.readAsOfPruned(spark, tbl, 4L, "id", 15L, 50L)
    assert((s3, t3) == ((0, 3)), "the tightened file prunes where [10, 19] could not")
    // a column with no archived stats scans conservatively
    val (_, s4, t4) = Versioned.readAsOfPruned(spark, tbl, 4L, "nope", 0L, 1L)
    assert(s4 == t4)
  }

  test("schema evolution: new columns land, old rows read null, certification holds") {
    val tbl = tmp("tbl") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)
    val wide = Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "t", "extra")
    val c2 = Versioned.appendEvolve(wide, tbl)
    assert(c2.version == 2L)
    val head = Versioned.read(spark, tbl)
    assert(head.columns.toSeq == Seq("id", "t", "extra"))
    assert(rowSet(head) == Set(Seq(1L, "a", null), Seq(2L, "b", null),
      Seq(3L, "c", 30L), Seq(4L, "d", 40L)))
    // v1 still reads under its own 2-column schema
    assert(Versioned.readAsOf(spark, tbl, 1L).columns.toSeq == Seq("id", "t"))
    // the epoch recompute keeps certification exact at the evolved head
    val (n, fp) = Versioned.archivedFingerprint(spark, tbl, 2L)
    val r = head.agg(count(lit(1)), sum(Fingerprint.rowDigest(
      Seq(col("id"), col("t"), col("extra"))))).head()
    assert((r.getLong(0), r.getLong(1)) == ((n, fp)))
    // post-evolution pinned appends are additive again
    val c3 = Versioned.append(Seq((5L, "e", 50L)).toDF("id", "t", "extra"), tbl)
    assert(c3.snapshotRows == 5L)
    // dropping an existing column, or changing its type, is refused
    intercept[IllegalStateException](
      Versioned.appendEvolve(Seq(9L -> "x").toDF("id", "extra2"), tbl))
    intercept[IllegalArgumentException](
      Versioned.appendEvolve(
        Seq((9L, 1.5, 9L)).toDF("id", "t", "extra"), tbl))
    // with no new columns appendEvolve IS the pinned append
    val c4 = Versioned.appendEvolve(Seq((6L, "f", 60L)).toDF("id", "t", "extra"), tbl)
    assert(c4.action == "append" && c4.snapshotRows == 6L)
  }

  test("empty-table edge: overwrite with zero rows is a real version") {
    val tbl = tmp("tbl") + "/tbl"
    Versioned.overwrite(df(1L -> "a"), tbl)
    Versioned.overwrite(df().filter(lit(false)), tbl)
    assert(Versioned.read(spark, tbl).count() == 0)
    assert(Versioned.archivedFingerprint(spark, tbl, 2L) == ((0L, 0L)))
    assert(rowSet(Versioned.readAsOf(spark, tbl, 1)) == Set(Seq(1L, "a")))
  }
}
