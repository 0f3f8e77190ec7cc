package graft

import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Rewrite, Versioned}
import graft.ingest.Versioned._

/** Round-13 storage-layer work: the checkpoint carries the COMPLETE
  * table state (file sizes, zone-map stats, dv coverage, constraints,
  * generated columns, txn watermarks), so every planning/maintenance
  * fold is O(checkpoint interval) instead of an O(history) log replay;
  * commit records archive per-file sizes (zero-RPC compaction planning
  * and stream byte admission); multi-part checkpoints; checkpoint
  * hygiene under retention vacuum; corrupt-checkpoint fallback; the
  * merge-planning estimator short-circuit; and the convertInPlace
  * fail-loud fixes (hive-layout auto-inference, non-parquet refusal). */
class VersionedR13Spec extends SparkTestBase {
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

  private def reads[A](body: => A): (A, Long) = {
    val before = Versioned.commitRecordReads.get()
    val r = body
    (r, Versioned.commitRecordReads.get() - before)
  }

  private def probes[A](body: => A): (A, Long) = {
    val before = Versioned.fileStatusProbes.get()
    val r = body
    (r, Versioned.fileStatusProbes.get() - before)
  }

  // ----------------------------------------- O(interval) planning folds

  test("rewrite planning reads O(checkpoint interval) records, flat in history") {
    val tbl = tmp("ointerval") + "/tbl"
    Versioned.overwrite(df((1L, "a"), (2L, "b"), (3L, "c")), tbl)
    for (i <- 2 to 20)
      Versioned.append(df((100L + i, s"r$i")), tbl) // v2..v20 (ckpts 10, 20)
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L) // v21: dv in force
    // planning = the head record + ONE checkpoint+tail fold of the head
    // state (every planner and the claim read it) + the claim's parent
    val (_, r0) = reads(Versioned.optimize(spark, tbl, numFiles = 2)) // v22
    for (i <- 23 to 42)
      Versioned.append(df((200L + i, s"s$i")), tbl) // v23..v42: history doubles
    val (_, r1) = reads(Versioned.optimize(spark, tbl, numFiles = 2)) // v43
    // the naive replay would read ~4 folds x 40+ records; the
    // checkpointed fold must stay near-constant as history grows
    assert(r1 <= r0 + 10,
      s"planning reads grew with history: $r0 -> $r1 (must be ~flat)")
    assert(r0 <= 45, s"first optimize read $r0 records — not O(interval)")
    assert(certified(tbl, Versioned.latestVersion(spark, tbl)))
  }

  test("constraint and dv-coverage folds resolve from checkpoint state") {
    val tbl = tmp("ckstate") + "/tbl"
    Versioned.overwrite(
      Seq((1L, "a", 2L), (2L, "b", 4L)).toDF("id", "t", "id2"), tbl)
    Versioned.addConstraint(spark, tbl, "id_pos", "id > 0") // v2
    Versioned.addGeneratedColumn(spark, tbl, "id2", "id * 2") // v3
    for (i <- 4 to 12) Versioned.append(
      Seq((10L + i, s"r$i", (10L + i) * 2)).toDF("id", "t", "id2"), tbl)
    // v12 > 10: a checkpoint exists and carries the rule set — an
    // append planned purely from ckpt+tail must still enforce both
    assert(Versioned.checkpoints(spark, tbl).nonEmpty)
    val e = intercept[Exception] {
      Versioned.append(Seq((-5L, "bad", -10L)).toDF("id", "t", "id2"), tbl)
    }
    assert(e.getMessage != null)
    val e2 = intercept[Exception] {
      Versioned.append(Seq((99L, "bad", 5L)).toDF("id", "t", "id2"), tbl)
    }
    assert(e2.getMessage != null)
    assert(Versioned.read(spark, tbl).filter(col("id") === -5L).count() == 0L)
  }

  test("idempotent sink dedup uses the checkpointed txn watermark") {
    val tbl = tmp("txnwm") + "/tbl"
    Versioned.overwrite(df((1L, "seed")), tbl)
    for (b <- 0L to 11L) // 12 tagged batches → past the ckpt cadence
      assert(Versioned.idempotentAppend(df((100L + b, s"b$b")), tbl,
        "appA", b).nonEmpty, s"batch $b must commit")
    // re-delivery of the LAST batch (foreachBatch's only retry shape)
    // and of an older one: both no-ops, resolved from ckpt + tail
    val ((r1, r2), n) = reads((
      Versioned.idempotentAppend(df((999L, "dup")), tbl, "appA", 11L),
      Versioned.idempotentAppend(df((999L, "dup")), tbl, "appA", 3L)))
    assert(r1.isEmpty && r2.isEmpty, "re-delivered batches must be no-ops")
    assert(n <= 10, s"txn dedup read $n records — must be ckpt + tail")
    assert(Versioned.idempotentAppend(df((112L, "b12")), tbl,
      "appA", 12L).nonEmpty)
    assert(Versioned.read(spark, tbl).filter(col("t") === "dup").count() == 0L)
  }

  // ------------------------------------------------ archived file sizes

  test("commit records archive per-file sizes matching the filesystem") {
    val tbl = tmp("sizes") + "/tbl"
    val c = Versioned.overwrite(
      df((1L to 40L).map(i => (i, s"v$i")): _*).repartition(3), tbl)
    assert(c.addSizes.size == c.add.size && c.add.nonEmpty)
    c.add.zip(c.addSizes).foreach { case (f, len) =>
      assert(new java.io.File(tbl, f).length() == len,
        s"archived size of $f must equal the on-disk length")
    }
  }

  test("compaction plans from log sizes — zero filesystem stat RPCs") {
    val tbl = tmp("zerostat") + "/tbl"
    Versioned.overwrite(
      df((1L to 400L).map(i => (i, "x" * 50)): _*).coalesce(1), tbl)
    for (i <- 1 to 3) Versioned.append(df((1000L + i, s"drip$i")), tbl)
    val before = Versioned.read(spark, tbl)
      .orderBy("id").collect().toSeq
    val (done, n) = probes(
      Versioned.compactSmallFiles(spark, tbl, maxFileBytes = 2048L))
    assert(done.nonEmpty, "the three drip files must compact")
    assert(n == 0L,
      s"compaction planning paid $n getFileStatus RPCs — sizes are in the log")
    assert(Versioned.read(spark, tbl).orderBy("id").collect().toSeq == before)
  }

  test("stream byte admission reads sizes from the records — zero stat RPCs") {
    val tbl = tmp("bytecap") + "/tbl"
    Versioned.overwrite(df((1L, "seed")), tbl)
    for (i <- 2 to 6)
      Versioned.append(df((i.toLong, "y" * 200)), tbl)
    val ckpt = tmp("bytecap_ck")
    val (counts, n) = probes {
      val acc = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graft.sources.VersionedSource")
        .option("maxBytesPerTrigger", "1500")
        .option("startingVersion", "1") // past the seeding overwrite
        .load(tbl)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) => acc += b.count(); () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      acc.toSeq
    }
    assert(counts.sum == 5L, s"all five appends must stream, got $counts")
    assert(counts.size > 1, "the byte cap must split the backlog")
    assert(n == 0L, s"byte admission paid $n getFileStatus RPCs")
  }

  test("restore carries sizes and stats so later folds stay log-only") {
    val tbl = tmp("restorecarry") + "/tbl"
    Versioned.overwrite(df((1L to 60L).map(i => (i, s"v$i")): _*)
      .repartitionByRange(3, col("id")), tbl)
    Versioned.append(df((100L, "extra")), tbl) // v2
    Versioned.restore(spark, tbl, 1L) // v3 re-references v1's files
    // zone maps survived the restore: a pruned point read keeps < all
    val (_, kept, total) =
      Versioned.readAsOfPruned(spark, tbl, 3L, "id", 1L, 2L)
    assert(kept < total, s"stats lost in restore: kept $kept of $total")
    val (_, n) = probes(
      Versioned.compactSmallFiles(spark, tbl, maxFileBytes = 1L << 20))
    assert(n == 0L, s"post-restore compaction paid $n stat RPCs — the " +
      "restore record must carry the re-referenced files' sizes")
  }

  // --------------------------------------------- multi-part checkpoints

  test("multi-part checkpoint shards the file payload and replays certified") {
    val tbl = tmp("multipart") + "/tbl"
    val old = Versioned.ckptPartFiles
    Versioned.ckptPartFiles = 7
    try {
      Versioned.overwrite(
        df((1L to 120L).map(i => (i, s"v$i")): _*).repartition(24), tbl)
      Versioned.append(df((200L, "tail")), tbl)
      val v = Versioned.checkpoint(spark, tbl)
      assert(v == 2L)
      val log = new java.io.File(tbl, "_graft_log")
      val parts = log.listFiles().map(_.getName)
        .filter(_.startsWith(f"ckptp-$v%08d-")).sorted
      assert(parts.length >= 4, s"expected >=4 part records, got ${parts.toSeq}")
      val manifest = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(log, f"ckpt-$v%08d.json").toPath))
      assert(manifest.contains("multipart-checkpoint"),
        "the manifest must claim the layout reader feature")
      assert(manifest.contains("\"numParts\""))
      assert(!manifest.contains("\"active\""),
        "a multi-part manifest carries no inline file payload")
      // the replay resolves through the sharded checkpoint: delete the
      // summarized v1 record (nio-written → no .crc sidecar; the head
      // record stays — version discovery is listing-based) and prove
      // the 120-file state comes from the parts
      assert(new java.io.File(log, f"v${1L}%08d.json").delete())
      Versioned.append(df((300L, "after")), tbl)
      assert(Versioned.read(spark, tbl).count() == 122L)
      assert(certified(tbl, 3L))
      // a later small checkpoint is single-part again and does NOT
      // inherit the layout feature (it describes a record's shape,
      // not commit content)
      Versioned.ckptPartFiles = old
      val v2 = Versioned.checkpoint(spark, tbl)
      val m2 = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(log, f"ckpt-$v2%08d.json").toPath))
      assert(!m2.contains("multipart-checkpoint"),
        "the layout feature must not leak into later checkpoint unions")
    } finally Versioned.ckptPartFiles = old
  }

  test("a 10k-file table checkpoints multi-part and replays certified") {
    val tbl = tmp("tenk") + "/tbl"
    val old = Versioned.ckptPartFiles
    Versioned.ckptPartFiles = 4096
    try {
      // range partitioning: every one of the 2500 ranges holds >= 1 of
      // the contiguous ids, so each commit lands exactly ~2500 files
      val slice = df((1L to 2500L).map(i => (i, s"v$i")): _*)
      Versioned.overwrite(slice.repartitionByRange(2500, col("id")), tbl)
      for (i <- 1 to 3)
        Versioned.append(slice
          .withColumn("id", col("id") + lit(i * 2500L))
          .repartitionByRange(2500, col("id")), tbl) // v4: ~10k active files
      val v = Versioned.checkpoint(spark, tbl)
      assert(v == 4L)
      val log = new java.io.File(tbl, "_graft_log")
      val nParts = log.listFiles()
        .count(_.getName.startsWith(f"ckptp-$v%08d-"))
      assert(nParts >= 3, s"10k files over 4096/part must shard, got $nParts")
      // replay resolves through the sharded checkpoint alone: delete
      // every summarized record below the head
      (1L to 3L).foreach { dv =>
        assert(new java.io.File(log, f"v$dv%08d.json").delete())
      }
      assert(Versioned.read(spark, tbl).count() == 10000L)
      assert(certified(tbl, 4L))
    } finally Versioned.ckptPartFiles = old
  }

  // ------------------------------------------- vacuum checkpoint hygiene

  test("retention vacuum deletes below-horizon checkpoints, re-checkpoints head") {
    val tbl = tmp("ckvacuum") + "/tbl"
    Versioned.overwrite(df((1L, "a")), tbl)
    for (i <- 2 to 25) Versioned.append(df((i.toLong, s"r$i")), tbl)
    assert(Versioned.checkpoints(spark, tbl) == Seq(10L, 20L))
    val (_, horizon) = Versioned.vacuumVersions(spark, tbl, retainLast = 3)
    assert(horizon == 23L)
    val cks = Versioned.checkpoints(spark, tbl)
    assert(cks.forall(_ >= horizon),
      s"checkpoints below the horizon must be deleted, have $cks")
    assert(cks.contains(25L),
      s"vacuum must re-checkpoint the head so replays stay O(tail), have $cks")
    // the oldest retained version still replays certified (records are
    // all present; the fold just no longer routes through a stale ckpt)
    assert(certified(tbl, 23L))
    assert(Versioned.read(spark, tbl).count() == 25L)
  }

  // --------------------------------- corrupt checkpoints and the cadence

  test("a corrupt checkpoint falls back to older state instead of bricking") {
    val tbl = tmp("ckcorrupt") + "/tbl"
    Versioned.overwrite(df((1L, "a")), tbl)
    for (i <- 2 to 12) Versioned.append(df((i.toLong, s"r$i")), tbl)
    val log = new java.io.File(tbl, "_graft_log")
    java.nio.file.Files.write(
      new java.io.File(log, f"ckpt-${10L}%08d.json").toPath,
      "{not json".getBytes)
    // reads, commits and maintenance all still work off the raw log
    assert(Versioned.read(spark, tbl).count() == 12L)
    Versioned.append(df((99L, "after")), tbl)
    assert(certified(tbl, 13L))
    assert(Versioned.optimize(spark, tbl, numFiles = 1).nonEmpty)
  }

  test("auto-checkpoint failures are counted and logged, never fail the commit") {
    val tbl = tmp("ckfail") + "/tbl"
    val old = Versioned.ckptPartFiles
    Versioned.ckptPartFiles = 3 // v10's checkpoint will need part records
    try {
      Versioned.overwrite(
        df((1L to 20L).map(i => (i, s"v$i")): _*).repartition(5), tbl)
      for (i <- 2 to 9) Versioned.append(df((100L + i, s"r$i")), tbl)
      // occupy the upcoming cadence's first PART path with a DIRECTORY:
      // writeCheckpoint cannot create the record, so the hook must fail
      // — observably, while the commit itself is untouched
      val log = new java.io.File(tbl, "_graft_log")
      assert(new java.io.File(log, f"ckptp-${10L}%08d-${0}%05d.json").mkdir())
      val before = Versioned.autoCheckpointFailures.get()
      val c = Versioned.append(df((999L, "cadence")), tbl) // v10: cadence hit
      assert(c.version == 10L, "the commit itself must land")
      assert(Versioned.autoCheckpointFailures.get() == before + 1,
        "a failed auto-checkpoint must be counted, not swallowed silently")
      assert(Versioned.read(spark, tbl).count() == 29L)
    } finally Versioned.ckptPartFiles = old
  }

  // ------------------------------------- merge estimator short-circuit

  test("merge planning skips the optimizer estimate for in-memory sources") {
    val tbl = tmp("bcshort") + "/tbl"
    Versioned.overwrite(
      Seq((1L, "open", 10L), (2L, "open", 20L)).toDF("id", "status", "amount"),
      tbl)
    val src = Seq((1L, "open", 11L), (3L, "new", 30L))
      .toDF("id", "status", "amount")
    val before = Rewrite.broadcastEstimatorPasses.get()
    Versioned.merge(spark, tbl, src, Seq("id"), Seq(
      WhenMatchedUpdate(Map("amount" -> srcCol("amount"))),
      WhenNotMatchedInsert()))
    assert(Rewrite.broadcastEstimatorPasses.get() == before,
      "a LocalRelation-rooted CDC source must not pay the optimizer pass")
    assert(Versioned.read(spark, tbl).count() == 3L)
    // a small scan-rooted source short-circuits on the file index's
    // own byte size — still no optimizer pass
    val ext = tmp("bcshort_src") + "/p"
    Seq((2L, "open", 99L)).toDF("id", "status", "amount")
      .write.parquet(ext)
    Versioned.merge(spark, tbl, spark.read.parquet(ext), Seq("id"),
      Seq(WhenMatchedUpdate(Map("amount" -> srcCol("amount")))))
    assert(Rewrite.broadcastEstimatorPasses.get() == before,
      "a under-threshold scan-rooted source must skip the estimator too")
    assert(Versioned.read(spark, tbl).filter(col("id") === 2L)
      .head().getLong(2) == 99L)
    // leaves ABOVE the threshold cannot be bounded structurally: the
    // guarded estimate still runs (the r11 OOM guard is intact) and,
    // refusing the hint, the merge stays correct unhinted
    val oldT = Rewrite.broadcastKeyBytesThreshold
    Rewrite.broadcastKeyBytesThreshold = 1L
    try {
      Versioned.merge(spark, tbl, spark.read.parquet(ext), Seq("id"),
        Seq(WhenMatchedUpdate(Map("amount" -> lit(77L)))))
      assert(Rewrite.broadcastEstimatorPasses.get() > before,
        "an over-threshold source must still pay the guarded size estimate")
      assert(Versioned.read(spark, tbl).filter(col("id") === 2L)
        .head().getLong(2) == 77L)
    } finally Rewrite.broadcastKeyBytesThreshold = oldT
  }

  // ----------------------------------------------- automatic data skipping

  test("readAsOfWhere prunes from zone maps + partition values, result exact") {
    val tbl = tmp("skipwhere") + "/tbl"
    def rows(lo: Long, hi: Long, g: String) =
      (lo until hi).map(i => (i, i * 10L, g)).toDF("id", "cents", "g")
    Versioned.overwrite(
      rows(0L, 50L, "a").unionByName(rows(0L, 50L, "b")).coalesce(1), tbl,
      partitionBy = Seq("g")) // 2 files: one per partition, cents 0..490
    Versioned.append(
      rows(100L, 150L, "a").unionByName(rows(100L, 150L, "b")).coalesce(1),
      tbl) // 2 more files, cents 1000..1490
    val full = Versioned.read(spark, tbl)
    def exact(pred: org.apache.spark.sql.Column): (Int, Int) = {
      val (df, kept, total) =
        Versioned.readAsOfWhere(spark, tbl, 2L, pred)
      assert(df.orderBy("id", "g").collect().toSeq ==
        full.filter(pred).orderBy("id", "g").collect().toSeq,
        s"pruned result diverged for $pred")
      (kept, total)
    }
    // zone maps: the high-cents conjunct eliminates both v1 files
    val (k1, t1) = exact(col("cents") >= 1000L)
    assert(k1 == 2 && t1 == 4, s"zone maps must keep 2 of 4, got $k1/$t1")
    // partition values: string equality halves the survivors
    val (k2, _) = exact(col("cents") >= 1000L && col("g") === "b")
    assert(k2 == 1, s"partition equality must keep 1 file, got $k2")
    // mirrored literal normalizes to the same bound
    val (k3, _) = exact(lit(1000L) <= col("cents") && col("g") === "b")
    assert(k3 == 1, s"mirrored comparison must prune identically, got $k3")
    // an OR prunes files refuted by EVERY branch (r14 disjunction
    // skipping): the low-cents g=b file fails both sides, the other
    // three each satisfy one branch — result still exact
    val (k4, t4) = exact(col("cents") >= 1000L || col("g") === "a")
    assert(k4 == 3 && t4 == 4,
      s"disjunction must prune the both-branch-refuted file, got $k4/$t4")
    // a predicate no file satisfies prunes everything
    val (k5, _) = exact(col("cents") > 100000L)
    assert(k5 == 0, s"unsatisfiable range must prune all files, got $k5")
    // isin = OR of equalities on ONE column: still a prunable conjunct
    val (k6, _) = exact(col("g").isin("b", "zzz") && col("cents") >= 1000L)
    assert(k6 == 1, s"isin on the partition column must keep 1 file, got $k6")
    val (k7, _) = exact(col("cents").isin(0L, 40L)) // zone-map isin
    assert(k7 == 2, s"isin inside v1's cents range must keep 2 files, got $k7")
  }

  // ------------------------------------------ convertInPlace fail-loud

  test("convertInPlace auto-infers hive partition columns (no silent nulls)") {
    val dir = tmp("cvauto") + "/t"
    df((1L, "a"), (2L, "b"), (3L, "a")).withColumn("g", col("t"))
      .write.partitionBy("g").parquet(dir)
    val c = Versioned.convertInPlace(spark, dir) // partitionCols omitted
    assert(c.partitionCols == Seq("g"),
      s"layout columns must be inferred, got ${c.partitionCols}")
    val out = Versioned.read(spark, dir)
    assert(out.filter(col("g").isNull).count() == 0L,
      "partition values must come from the path, never null")
    assert(out.filter(col("g") === "a").count() == 2L)
    assert(certified(dir, 1L))
  }

  test("convertInPlace refuses partitionCols that contradict the layout") {
    val flat = tmp("cvflat") + "/t"
    df((1L, "a")).write.parquet(flat)
    val e = intercept[IllegalArgumentException](
      Versioned.convertInPlace(spark, flat, partitionCols = Seq("t")))
    assert(e.getMessage.contains("hive layout"))
    val part = tmp("cvpart") + "/t"
    df((1L, "a")).withColumn("g", col("t"))
      .write.partitionBy("g").parquet(part)
    val e2 = intercept[IllegalArgumentException](
      Versioned.convertInPlace(spark, part, partitionCols = Seq("other")))
    assert(e2.getMessage.contains("hive layout"))
  }

  test("convertInPlace refuses visible non-parquet files") {
    val dir = tmp("cvforeign") + "/t"
    df((1L, "a"), (2L, "b")).write.parquet(dir)
    java.nio.file.Files.write(
      new java.io.File(dir, "data.orc").toPath, Array[Byte](1, 2, 3))
    val e = intercept[IllegalArgumentException](
      Versioned.convertInPlace(spark, dir))
    assert(e.getMessage.contains("non-.parquet"))
  }
}
