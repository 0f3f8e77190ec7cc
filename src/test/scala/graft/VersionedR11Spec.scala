package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Versioned}

/** Round-11 storage-layer hardening: shallow clones of MoR tables
  * (deletion vectors re-keyed, never resurrected), DV purging by
  * rewrites, disjoint-coverage MoR concurrency, the authority-aware
  * foreign-path fallback. */
class VersionedR11Spec extends SparkTestBase {
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

  // ---------------------------------------------------------- clone + DV

  test("shallow clone of a table with in-force deletion vectors keeps them applied") {
    val base = tmp("clonedv")
    val src = s"$base/src"
    val dst = s"$base/dst"
    Versioned.overwrite(df((1L to 8L).map(i => (i, s"v$i")): _*), src)
    Versioned.deleteWhereMoR(spark, src, col("id") % 3 === 0).get
    val srcRows = rowSet(Versioned.read(spark, src))
    assert(srcRows.map(_.head) == (1L to 8L).filterNot(_ % 3 == 0)
      .toSet.map((x: Long) => x: Any))
    val c = Versioned.cloneShallow(spark, src, dst)
    // the clone must see exactly the source's LIVE content — the
    // r10-ADVICE bug resurrected every MoR-deleted row because the dv
    // parquet keyed source-relative paths the clone reads as absolute
    assert(rowSet(Versioned.read(spark, dst)) == srcRows)
    assert(certified(dst, 1L), "clone certified from birth through its vectors")
    // the clone's dv files live under ITS root (rewritten, re-keyed)
    assert(c.dv.nonEmpty && c.dv.forall(!_.startsWith("/")),
      s"clone dv files must be clone-root-relative, got ${c.dv}")
    assert(c.dvCovered.nonEmpty && c.dvCovered.forall(_.startsWith("/")),
      "clone dv coverage keys the foreign (absolute) data files")
    // divergence: a further MoR delete on the clone leaves the source alone
    Versioned.deleteWhereMoR(spark, dst, col("id") === 2L)
    assert(rowSet(Versioned.read(spark, src)) == srcRows)
    assert(rowSet(Versioned.read(spark, dst)).map(_.head) ==
      srcRows.map(_.head) - 2L)
    assert(certified(dst, 2L))
  }

  test("upsert on a clone with DVs neither resurrects nor duplicates") {
    val base = tmp("cloneup")
    val src = s"$base/src"
    val dst = s"$base/dst"
    Versioned.overwrite(df((1L to 6L).map(i => (i, s"v$i")): _*).coalesce(1), src)
    Versioned.deleteWhereMoR(spark, src, col("id") === 4L)
    Versioned.cloneShallow(spark, src, dst)
    // COW upsert on the clone: rewrites the FOREIGN file's survivors
    // under the clone root; the source file reference is dropped by
    // __rel string equality (authority-less absolute path)
    Versioned.upsert(spark, dst, df(1L -> "UP"), Seq("id"))
    val got = rowSet(Versioned.read(spark, dst))
    assert(got == Set(Seq[Any](1L, "UP"), Seq[Any](2L, "v2"),
      Seq[Any](3L, "v3"), Seq[Any](5L, "v5"), Seq[Any](6L, "v6")), got.toString)
    assert(certified(dst, 2L))
    // source untouched
    assert(Versioned.read(spark, src).count() == 5L)
  }

  // ---------------------------------------------------------- DV purge

  test("OPTIMIZE purges stranded deletion vectors; retention then reclaims them") {
    val tbl = tmp("purge") + "/tbl"
    Versioned.overwrite(df((1L to 8L).map(i => (i, s"v$i")): _*), tbl)
    val cd = Versioned.deleteWhereMoR(spark, tbl, col("id") % 2 === 0L).get
    val dvFile = cd.dv.head
    val copt = Versioned.optimize(spark, tbl, numFiles = 1).get
    // the rewrite strands the vector (all covered files rewritten
    // clean) and must record the purge
    assert(copt.dvRemove.contains(dvFile),
      s"optimize must purge the stranded dv, got dvRemove=${copt.dvRemove}")
    // old versions still replay THROUGH the vector (records retained)
    assert(Versioned.readAsOf(spark, tbl, 2L).count() == 4L)
    assert(certified(tbl, 2L) && certified(tbl, 3L))
    // retention: with the purge in the fold the dv file is no longer
    // needed by any retained version and is physically reclaimed —
    // before the fix it was retained forever
    val p = new org.apache.hadoop.fs.Path(tbl, dvFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p))
    Versioned.vacuumVersions(spark, tbl, retainLast = 1)
    assert(!fs.exists(p), "stranded dv file must be reclaimed by retention")
    assert(Versioned.read(spark, tbl).count() == 4L)
  }

  test("a partial rewrite keeps vectors that still cover active files") {
    val tbl = tmp("partial") + "/tbl"
    // two files; one MoR delete covering BOTH
    Versioned.overwrite(df(1L -> "a", 2L -> "b").coalesce(1), tbl)
    Versioned.append(df(3L -> "c", 4L -> "d").coalesce(1), tbl)
    val cd = Versioned.deleteWhereMoR(spark, tbl,
      col("id") === 1L || col("id") === 3L).get
    assert(cd.dvCovered.size == 2)
    // COW-delete a row of ONE covered file: that file is rewritten,
    // the other still needs the vector -> no purge
    val cc = Versioned.deleteWhere(spark, tbl, col("id") === 4L).get
    assert(cc.dvRemove.isEmpty,
      s"vector still covers an active file, got dvRemove=${cc.dvRemove}")
    assert(rowSet(Versioned.read(spark, tbl)).map(_.head) == Set[Any](2L))
    (1L to cc.version).foreach(v => assert(certified(tbl, v), s"v$v"))
  }

  // ------------------------------------------------- MoR concurrency

  test("two MoR deletes on DISJOINT files race: both land") {
    val tbl = tmp("disjoint") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b").coalesce(1), tbl)
    Versioned.append(df(11L -> "c", 12L -> "d").coalesce(1), tbl)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futs = Seq(1L, 11L).map { id =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            start.await()
            Versioned.deleteWhereMoR(spark, tbl, col("id") === id).get.version
          }
        })
      }
      start.countDown()
      val vs = futs.map(_.get(120, TimeUnit.SECONDS))
      // the old rule aborted ANY concurrent MoR commit; with archived
      // dvCovered the loser retries through the disjoint one
      assert(vs.toSet.size == 2, s"both must land, got versions $vs")
    } finally pool.shutdownNow()
    assert(rowSet(Versioned.read(spark, tbl)).map(_.head) == Set[Any](2L, 12L))
    val headV = Versioned.latestVersion(spark, tbl)
    (1L to headV).foreach(v => assert(certified(tbl, v), s"v$v"))
  }

  test("two MoR deletes touching the SAME file serialize or abort, never corrupt") {
    val tbl = tmp("overlap") + "/tbl"
    Versioned.overwrite(df(1L -> "a", 2L -> "b", 3L -> "c").coalesce(1), tbl)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futs = Seq(1L, 2L).map { id =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            try { Versioned.deleteWhereMoR(spark, tbl, col("id") === id); "ok" }
            catch { case _: java.util.ConcurrentModificationException => "abort" }
          }
        })
      }
      start.countDown()
      val outcomes = futs.map(_.get(120, TimeUnit.SECONDS))
      assert(outcomes.count(_ == "ok") >= 1, outcomes.toString)
    } finally pool.shutdownNow()
    // whatever interleaving happened, the head replays certified
    val headV = Versioned.latestVersion(spark, tbl)
    assert(certified(tbl, headV))
    val live = rowSet(Versioned.read(spark, tbl)).map(_.head)
    assert(live.contains(3L) && live.size >= 1 && live.size <= 2)
  }

  // ------------------------------------------------- foreign __rel

  test("foreignRel strips scheme AND authority (hdfs://nn:8020, s3a://bucket)") {
    val cases = Seq(
      "hdfs://nn:8020/warehouse/t/d-1/f.parquet" -> "/warehouse/t/d-1/f.parquet",
      "s3a://bucket/key/d-2/g.parquet" -> "/key/d-2/g.parquet",
      "file:///root/x/d-3/h.parquet" -> "/root/x/d-3/h.parquet",
      "file:/root/x/d-4/i.parquet" -> "/root/x/d-4/i.parquet")
    val got = cases.map(_._1).toDF("p")
      .select(Versioned.foreignRel(col("p"))).as[String].collect().toSeq
    assert(got == cases.map(_._2), got.toString)
  }
}
