package graft

import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Versioned}

/** Round-15 optimization gates: the nonce-validated COMMIT-record parse
  * memo (VERDICT r14 "next round" #1 — the stage-time fold, claim-loop
  * re-validation, parent-ts read and auto-checkpoint fold all re-parsed
  * the same immutable records every commit), and the bounded overlapped
  * footer-read wait (ADVICE r14 — Await(Inf) on the shared pool could
  * hang a commit forever; now a timeout falls back to serial reads), and
  * the single log listing behind a head read.
  */
class VersionedR15Spec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_r15_$name").toString

  private def df(rows: (Long, String)*) = rows.toDF("id", "t")

  private def certified(tbl: String, v: Long): Boolean = {
    val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
    val asOf = Versioned.readAsOf(spark, tbl, v)
    val r = asOf.agg(count(lit(1)),
      coalesce(sum(Fingerprint.rowDigest(
        asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
    (r.getLong(0), r.getLong(1)) == ((n, fp))
  }

  private def rmrf(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles().foreach(rmrf)
    p.delete()
  }

  // ------------------------------------ commit-record parse memo

  test("warm log folds parse no commit records; a wiped-recreated table misses") {
    val tbl = tmp("cmemo") + "/tbl"
    Versioned.overwrite(df((1L, "a"), (2L, "b")), tbl)
    for (i <- 2 to 5) Versioned.append(df((10L + i, s"r$i")), tbl)
    Versioned.clearCommitCache()
    val p0 = Versioned.commitRecordParses.get()
    assert(Versioned.read(spark, tbl).count() == 6L) // cold: parses the tail
    val p1 = Versioned.commitRecordParses.get()
    assert(p1 > p0, "a cold fold must parse commit records")
    assert(Versioned.read(spark, tbl).count() == 6L)
    assert(Versioned.commitRecordParses.get() == p1,
      "a warm fold over unchanged nonces must hit the memo")
    // wipe and recreate at the SAME path and versions: the fold must
    // serve the NEW table's state, never the stale cached commits (the
    // staleness mode worse than parsing twice). The recreate's own
    // claims re-seed the memo with the new records, so no extra parse
    // is expected — the CONTENT is what must be new.
    rmrf(new java.io.File(tbl))
    Versioned.overwrite(df((7L, "z")), tbl)
    Versioned.append(df((8L, "y")), tbl)
    assert(Versioned.read(spark, tbl).count() == 2L,
      "a recreated table must never be read through stale cached commits")
    assert(certified(tbl, Versioned.latestVersion(spark, tbl)))
    // a FOREIGN writer (another process — nothing seeds this JVM's
    // memo) rewriting a record in place at the same length: rotate v2's
    // nonce on disk; the next fold must detect the mismatch and re-parse
    val recFile = new java.io.File(tbl, f"_graft_log/v${2L}%08d.json")
    val s = new String(java.nio.file.Files.readAllBytes(recFile.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val m = """"nonce":"([0-9a-f]{32})"""".r.findFirstMatchIn(s).get
    val rotated = m.group(1).map {
      case c if c.isDigit => (((c - '0') + 1) % 10 + '0').toChar
      case c => (((c - 'a') + 1) % 6 + 'a').toChar
    }
    java.nio.file.Files.write(recFile.toPath,
      s.replace(m.group(1), rotated)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new java.io.File(recFile.getParentFile, s".${recFile.getName}.crc").delete()
    val p2 = Versioned.commitRecordParses.get()
    assert(Versioned.read(spark, tbl).count() == 2L)
    assert(Versioned.commitRecordParses.get() > p2,
      "a record whose on-disk nonce changed must miss the memo and re-parse")
  }

  test("a head read lists the log once, over a checkpoint and its tail") {
    val tbl = tmp("listing") + "/tbl"
    Versioned.overwrite(df((1L, "a")), tbl)
    Versioned.append(df((2L, "b")), tbl)
    Versioned.checkpoint(spark, tbl)
    Versioned.append(df((3L, "c")), tbl)
    val l0 = Versioned.logListings.get()
    val head = Versioned.read(spark, tbl)
    assert(Versioned.logListings.get() - l0 == 1L,
      s"expected one log listing, saw ${Versioned.logListings.get() - l0}")
    assert(rowSet(head) == Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
  }

  test("a cache hit is indistinguishable from a re-parse across the state surface") {
    val tbl = tmp("cparity") + "/tbl"
    // exercise the normalized fields: colMap (rename), constraints,
    // txn watermarks, dv — then compare every warm-derived state against
    // a cleared-cache re-derivation
    Versioned.overwrite(df((1L, "a"), (2L, "b"), (3L, "c")), tbl)
    Versioned.addConstraint(spark, tbl, "id_pos", "id > 0")
    Versioned.renameColumn(spark, tbl, "t", "label")
    Versioned.idempotentAppend(Seq((4L, "d")).toDF("id", "label"), tbl, "app", 1L)
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L)
    def surface() = (
      Versioned.latestVersion(spark, tbl),
      Versioned.constraints(spark, tbl),
      Versioned.read(spark, tbl).collect().map(_.toString).sorted.toSeq,
      Versioned.archivedFingerprint(spark, tbl,
        Versioned.latestVersion(spark, tbl)))
    val warm = surface() // served through seeded + memoized entries
    Versioned.clearCommitCache()
    Versioned.clearCheckpointCache()
    val cold = surface() // everything re-parsed from bytes
    assert(warm == cold,
      s"memoized state diverged from re-parsed state:\n$warm\nvs\n$cold")
  }

  test("the winning claim seeds the memo: the follow-on fold re-parses nothing") {
    val tbl = tmp("cseed") + "/tbl"
    Versioned.overwrite(df((1L, "a")), tbl)
    for (i <- 2 to 4) Versioned.append(df((i.toLong, s"r$i")), tbl)
    // warm the fold once so the tail is cached
    assert(Versioned.read(spark, tbl).count() == 4L)
    val p0 = Versioned.commitRecordParses.get()
    Versioned.append(df((9L, "z")), tbl) // v5: winner seeds its own record
    assert(Versioned.read(spark, tbl).count() == 5L)
    assert(Versioned.commitRecordParses.get() == p0,
      "commit + follow-on read over a warm log must parse zero records " +
        "(stage fold, claim loop, parent-ts read and the new head all memoized)")
  }

  // ------------------------------------------- certify from the log

  test("a full-set rewrite certifies against archived totals, not a second read") {
    val tbl = tmp("certlog") + "/tbl"
    Versioned.overwrite(df((1L, "a"), (2L, "b"), (3L, "c")).coalesce(1), tbl)
    (4L to 6L).foreach(i => Versioned.append(df((i, s"r$i")).coalesce(1), tbl))
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L) // live DVs in force
    val d0 = Versioned.digestScans.get()
    val c = Versioned.optimize(spark, tbl, numFiles = 2, sortBy = Seq("id")).get
    assert(Versioned.digestScans.get() == d0,
      "a rewrite of the ENTIRE active set must take its removed-side " +
        "(rows, fp) from the archived snapshot totals — zero digest scans")
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, "a"), Seq(3L, "c"), Seq(4L, "r4"), Seq(5L, "r5"), Seq(6L, "r6")))
    assert(certified(tbl, c.version))
    // partial rewrites still digest exactly their removed subset (q253's
    // shape: the big seed is excluded, only the small files rewrite)
    val tbl2 = tmp("certlogpart") + "/tbl"
    Versioned.overwrite(df((1L to 50L).map(i => (i, s"v$i")): _*).coalesce(1), tbl2)
    Versioned.append(df((101L, "s1")).coalesce(1), tbl2)
    Versioned.append(df((102L, "s2")).coalesce(1), tbl2)
    val bigFile = Versioned.commitsBetween(spark, tbl2, 0L, 1L).head.add.head
    val bigBytes = new java.io.File(s"$tbl2/$bigFile").length
    val d1 = Versioned.digestScans.get()
    assert(Versioned.compactSmallFiles(spark, tbl2, maxFileBytes = bigBytes,
      targetNumFiles = 1).nonEmpty)
    assert(Versioned.digestScans.get() == d1 + 1,
      "a partial rewrite digests its removed subset (O(removed), not O(table))")
    // and the certification still fails LOUDLY when the log's totals
    // disagree with the staged content (the check is live, not skipped)
    val head = Versioned.latestVersion(spark, tbl)
    val recFile = new java.io.File(tbl, f"_graft_log/v$head%08d.json")
    val s = new String(java.nio.file.Files.readAllBytes(recFile.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val m = """"snapshotFp":(-?\d+)""".r.findFirstMatchIn(s).get
    java.nio.file.Files.write(recFile.toPath,
      s.replace(m.matched, s""""snapshotFp":${m.group(1).toLong + 1L}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Versioned.clearCommitCache()
    Versioned.clearCheckpointCache()
    val e = intercept[IllegalStateException](
      Versioned.optimize(spark, tbl, numFiles = 1, sortBy = Seq("id")))
    assert(e.getMessage.contains("NOT content-identical"))
  }

  // ------------------------------- bounded overlapped footer reads

  test("a footer-read timeout falls back to serial reads, commit intact") {
    val tbl = tmp("ftimeout") + "/tbl"
    val saved = Versioned.footerReadTimeoutSec
    Versioned.footerReadTimeoutSec = -1L // every multi-file wait "times out"
    try {
      val t0 = Versioned.footerReadTimeouts.get()
      // partitioned overwrite stages >2 files -> takes the overlapped path
      Versioned.overwrite(
        Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "z", 30L))
          .toDF("id", "t", "g").repartition(col("g")),
        tbl, partitionBy = Seq("g"))
      assert(Versioned.footerReadTimeouts.get() > t0,
        "the bounded wait must have fired and fallen back")
      assert(Versioned.read(spark, tbl).count() == 3L)
      // zone-map stats from the serial fallback are identical: pruning
      // by partition value still sees every file
      assert(certified(tbl, Versioned.latestVersion(spark, tbl)))
    } finally Versioned.footerReadTimeoutSec = saved
  }
}
