package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Versioned}

/** Round-10 storage-layer composition: hive-partitioned versioned
  * tables, log-metadata partition pruning, OPTIMIZE/Z-order as
  * content-certified rewrite commits, the disjoint-file conflict retry,
  * column-permuted append alignment, and change feeds across an
  * overwrite that changed the schema. */
class VersionedLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_vlayout").toString + "/tbl"

  private def orders(rows: (Long, Long, Long, String)*) =
    rows.toDF("id", "yr", "mo", "t")

  private def fp2(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(Fingerprint.rowDigest(cols.map(col))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("partitioned overwrite+append: hive layout, reconstruction, time travel") {
    val tbl = tmp()
    val c1 = Versioned.overwrite(
      orders((1L, 2024L, 1L, "a"), (2L, 2024L, 2L, "b"), (3L, 2025L, 1L, "c")),
      tbl, partitionBy = Seq("yr", "mo"))
    assert(c1.partitionCols == Seq("yr", "mo"))
    // layout on disk is hive-style under the commit's data dir
    assert(c1.add.nonEmpty && c1.add.forall(f =>
      f.matches("""d-[0-9a-f]{8}/yr=\d+/mo=\d+/.*\.parquet""")), c1.add)
    // append INHERITS the layout — no partitionBy argument
    val c2 = Versioned.append(orders((4L, 2025L, 2L, "d")), tbl)
    assert(c2.partitionCols == Seq("yr", "mo"))
    assert(c2.add.forall(_.contains("yr=2025/mo=2")), c2.add)
    // reconstruction: partition columns come back typed, in schema order
    val head = Versioned.read(spark, tbl)
    assert(head.schema.fieldNames.toSeq == Seq("id", "yr", "mo", "t"))
    assert(rowSet(head) == Set(Seq(1L, 2024L, 1L, "a"), Seq(2L, 2024L, 2L, "b"),
      Seq(3L, 2025L, 1L, "c"), Seq(4L, 2025L, 2L, "d")))
    // time travel on the partitioned table
    assert(rowSet(Versioned.readAsOf(spark, tbl, 1)).size == 3)
    // certification: replay hashes to the archived totals at both versions
    (1L to 2L).foreach { v =>
      val (aRows, aFp) = Versioned.archivedFingerprint(spark, tbl, v)
      assert(fp2(Versioned.readAsOf(spark, tbl, v),
        Seq("id", "yr", "mo", "t")) == ((aRows, aFp)), s"v$v")
    }
  }

  test("partition pruning from log metadata: excluded files never open") {
    val tbl = tmp()
    Versioned.overwrite(
      orders((1L, 2024L, 1L, "a"), (2L, 2024L, 2L, "b"),
        (3L, 2025L, 1L, "c"), (4L, 2025L, 2L, "d")).coalesce(1),
      tbl, partitionBy = Seq("yr"))
    val (df, kept, total) = Versioned.readAsOfPartitions(spark, tbl, 1L) {
      vals => vals("yr").contains("2025")
    }
    assert(total == 2 && kept == 1, s"kept $kept of $total")
    assert(rowSet(df) == Set(Seq(3L, 2025L, 1L, "c"), Seq(4L, 2025L, 2L, "d")))
    // the surviving scan reads ONLY yr=2025 paths
    val scanned = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("yr=2025")), scanned)
    // unpartitioned table refuses partition reads loudly
    val flat = tmp()
    Versioned.overwrite(orders((1L, 1L, 1L, "x")), flat)
    val e = intercept[IllegalArgumentException] {
      Versioned.readAsOfPartitions(spark, flat, 1L)(_ => true)
    }
    assert(messages(e).exists(_.contains("not partitioned")))
  }

  test("null partition values round-trip through the hive default sentinel") {
    val tbl = tmp()
    val in = Seq((1L, Some("us"), "a"), (2L, None, "b"))
      .toDF("id", "region", "t")
    Versioned.overwrite(in, tbl, partitionBy = Seq("region"))
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, "us", "a"), Seq(2L, null, "t").updated(2, "b")))
    val (aRows, aFp) = Versioned.archivedFingerprint(spark, tbl, 1L)
    assert(fp2(Versioned.read(spark, tbl), Seq("id", "region", "t")) ==
      ((aRows, aFp)))
  }

  test("partition layout survives COW upsert/delete and schema evolution") {
    val tbl = tmp()
    Versioned.overwrite(
      orders((1L, 2024L, 1L, "a"), (2L, 2024L, 2L, "b"), (3L, 2025L, 1L, "c")),
      tbl, partitionBy = Seq("yr"))
    Versioned.upsert(spark, tbl,
      orders((2L, 2024L, 2L, "B"), (9L, 2025L, 3L, "i")), Seq("id"))
    Versioned.deleteWhere(spark, tbl, col("id") === 3L)
    val evolved = orders((10L, 2026L, 1L, "j")).withColumn("extra", lit(7L))
    Versioned.appendEvolve(evolved, tbl)
    val head = Versioned.read(spark, tbl)
    assert(head.schema.fieldNames.toSeq == Seq("id", "yr", "mo", "t", "extra"))
    assert(rowSet(head) == Set(
      Seq(1L, 2024L, 1L, "a", null), Seq(2L, 2024L, 2L, "B", null),
      Seq(9L, 2025L, 3L, "i", null), Seq(10L, 2026L, 1L, "j", 7L)))
    // every commit kept the layout and every version stays certified
    val hv = Versioned.latestVersion(spark, tbl)
    (1L to hv).foreach { v =>
      val asOf = Versioned.readAsOf(spark, tbl, v)
      val (aRows, aFp) = Versioned.archivedFingerprint(spark, tbl, v)
      assert(fp2(asOf, asOf.schema.fieldNames.toSeq) == ((aRows, aFp)), s"v$v")
    }
  }

  test("column-permuted append is aligned to the head order, digest stable") {
    val tbl = tmp()
    Versioned.overwrite(orders((1L, 2024L, 1L, "a")), tbl)
    // same columns, permuted — accepted and REORDERED before digesting
    val permuted = orders((2L, 2025L, 2L, "b"))
      .select(col("t"), col("mo"), col("id"), col("yr"))
    val c2 = Versioned.append(permuted, tbl)
    assert(org.apache.spark.sql.types.DataType.fromJson(c2.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("id", "yr", "mo", "t"))
    val (aRows, aFp) = Versioned.archivedFingerprint(spark, tbl, 2L)
    assert(fp2(Versioned.read(spark, tbl), Seq("id", "yr", "mo", "t")) ==
      ((aRows, aFp)))
    // a truly different column SET still fails loudly
    val e = intercept[IllegalStateException] {
      Versioned.append(Seq((3L, 1L)).toDF("id", "yr"), tbl)
    }
    assert(messages(e).exists(_.contains("schema mismatch")))
  }

  test("optimize compacts as a certified rewrite: content identical, travel intact") {
    val tbl = tmp()
    Versioned.overwrite(orders((1L, 2024L, 1L, "a"), (2L, 2024L, 2L, "b")), tbl)
    Versioned.append(orders((3L, 2025L, 1L, "c")), tbl)
    Versioned.append(orders((4L, 2025L, 2L, "d")), tbl)
    val preHead = Versioned.latestVersion(spark, tbl)
    val (preRows, preFp) = Versioned.archivedFingerprint(spark, tbl, preHead)
    val nFilesBefore = Versioned.history(spark, tbl)
      .agg(sum("n_files")).head().getLong(0)
    val c = Versioned.optimize(spark, tbl, numFiles = 1).get
    assert(c.action == "rewrite" && c.add.size == 1 &&
      c.remove.size == nFilesBefore)
    // totals unchanged — the commit-time content certification held
    assert((c.snapshotRows, c.snapshotFp) == ((preRows, preFp)))
    assert(rowSet(Versioned.read(spark, tbl)) ==
      rowSet(Versioned.readAsOf(spark, tbl, preHead)))
    // pre-optimize versions still read their original files
    assert(rowSet(Versioned.readAsOf(spark, tbl, 1L)).size == 2)
    // OPTIMIZE emits ZERO change-feed rows: the rewrite diff cancels
    assert(Versioned.changesBetween(spark, tbl, preHead, c.version).count() == 0)
  }

  test("optimize zorderBy tightens zone maps; sortBy gives 1-d clustering") {
    val tbl = tmp()
    val wide = (0L until 256L).map(i => (i, i % 16L, i / 16L, s"r$i"))
    // interleaved arrival: every file spans the whole x/y domain
    Versioned.overwrite(wide.filter(_._1 % 2 == 0).toDF("id", "x", "y", "t")
      .repartition(4), tbl)
    Versioned.append(wide.filter(_._1 % 2 == 1).toDF("id", "x", "y", "t")
      .repartition(4), tbl)
    val v0 = Versioned.latestVersion(spark, tbl)
    val (_, scanned0, total0) =
      Versioned.readAsOfPruned(spark, tbl, v0, "x", 0L, 3L)
    assert(scanned0 == total0, "arrival order: zone maps prune nothing")
    val c = Versioned.optimize(spark, tbl, numFiles = 4,
      zorderBy = Some(("x", "y")), zBits = 8).get
    val (pruned, scanned1, total1) =
      Versioned.readAsOfPruned(spark, tbl, c.version, "x", 0L, 3L)
    assert(total1 == 4 && scanned1 < total1,
      s"z-order must tighten x zone maps: scanned $scanned1 of $total1")
    assert(pruned.filter(col("x").between(0L, 3L)).count() ==
      wide.count(r => r._2 <= 3L))
    // sortBy variant: 1-d layout prunes on the sorted column
    val c2 = Versioned.optimize(spark, tbl, numFiles = 4,
      sortBy = Seq("id")).get
    val (_, scanned2, total2) =
      Versioned.readAsOfPruned(spark, tbl, c2.version, "id", 0L, 63L)
    assert(scanned2 < total2, s"sorted layout: scanned $scanned2 of $total2")
  }

  test("z-order optimize refuses more files than its probe bound, before any job") {
    val tbl = tmp()
    Versioned.overwrite(Seq((1L, 2L, 3L, "a")).toDF("id", "x", "y", "t"), tbl)
    val head = Versioned.latestVersion(spark, tbl)
    val (err, jobs) = org.apache.spark.sql.graftshim.JobProbe.jobsStarted(spark) {
      intercept[IllegalArgumentException](Versioned.optimize(spark, tbl,
        numFiles = Versioned.MaxZOrderFiles + 1, zorderBy = Some(("x", "y"))))
    }
    assert(err.getMessage.contains(s"${Versioned.MaxZOrderFiles}-file bound"),
      err.getMessage)
    assert(jobs == 0, s"the bound must fire before any Spark job, saw $jobs")
    assert(Versioned.latestVersion(spark, tbl) == head)
  }

  test("disjoint-file retry: upserts absorb concurrent appends, never abort") {
    val tbl = tmp()
    Versioned.overwrite(df16(tbl), tbl)
    (1 to 3).foreach { round =>
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val ups = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            start.await()
            Versioned.upsert(spark, tbl,
              Seq((1L, s"u$round")).toDF("id", "t"), Seq("id")).version
          }
        })
        val app = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            start.await()
            Versioned.append(Seq((1000L + round, "app")).toDF("id", "t"), tbl)
              .version
          }
        })
        start.countDown()
        // the new contract: a concurrent APPEND is disjoint by
        // construction — the upsert must retry and land, never throw
        val (uv, av) = (ups.get(120, TimeUnit.SECONDS),
          app.get(120, TimeUnit.SECONDS))
        assert(uv != av)
      } finally pool.shutdownNow()
    }
    val headV = Versioned.latestVersion(spark, tbl)
    val (n, fpv) = Versioned.archivedFingerprint(spark, tbl, headV)
    assert(fp2(Versioned.read(spark, tbl), Seq("id", "t")) == ((n, fpv)))
    assert(Versioned.read(spark, tbl).filter(col("id") === 1L)
      .select("t").as[String].collect().toSeq == Seq("u3"))
  }

  private def df16(tbl: String) =
    (1L to 16L).map(i => (i, s"v$i")).toDF("id", "t")

  test("overlapping rewrites still abort: one of two same-file upserts loses") {
    val tbl = tmp()
    Versioned.overwrite(Seq((1L, "a")).toDF("id", "t").coalesce(1), tbl)
    // deterministic overlap: both plan against v1's single file; the
    // loser's disjoint-file recheck sees its file in the winner's
    // remove set and must abort, not retry
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futs = Seq("x", "y").map { tag =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            try { Versioned.upsert(spark, tbl,
              Seq((1L, tag)).toDF("id", "t"), Seq("id")); "ok" }
            catch { case _: java.util.ConcurrentModificationException => "abort" }
          }
        })
      }
      start.countDown()
      val outcomes = futs.map(_.get(120, TimeUnit.SECONDS))
      assert(outcomes.count(_ == "ok") >= 1)
      // either they serialized (both ok, second planned after first) or
      // the overlapped one aborted — never two conflicting blind wins
      val headV = Versioned.latestVersion(spark, tbl)
      val (n, fpv) = Versioned.archivedFingerprint(spark, tbl, headV)
      assert(fp2(Versioned.read(spark, tbl), Seq("id", "t")) == ((n, fpv)))
      assert(Versioned.read(spark, tbl).count() == 1L)
    } finally pool.shutdownNow()
  }

  test("change feed spans an overwrite that changed the schema (by-name align)") {
    val tbl = tmp()
    Versioned.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "t"), tbl)
    // arity + order change: drops nothing, adds `x`, reorders
    Versioned.overwrite(Seq(("b", 2L, 9L), ("c", 3L, 8L)).toDF("t", "id", "x"),
      tbl)
    val ch = Versioned.changesBetween(spark, tbl, 1L, 2L)
    val byType = ch.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // row (2,"b") gains x=9 -> surfaces as delete+insert; (1,"a") deleted;
    // (3,"c") inserted
    assert(byType == Map("insert" -> 2L, "delete" -> 2L), byType.toString)
    assert(ch.columns.contains("x"))
    val ins = ch.filter(col("_change_type") === "insert")
      .select("id", "t", "x").collect().map(_.toSeq).toSet
    assert(ins == Set(Seq(2L, "b", 9L), Seq(3L, "c", 8L)))
    // a same-name RETYPE cannot be aligned — explicit refusal
    val tbl2 = tmp()
    Versioned.overwrite(Seq((1L, "a")).toDF("id", "t"), tbl2)
    Versioned.overwrite(Seq((1L, 2.5)).toDF("id", "t"), tbl2)
    val e = intercept[Exception] {
      Versioned.changesBetween(spark, tbl2, 1L, 2L).collect()
    }
    assert(messages(e).exists(_.contains("cannot span")))
  }
}
