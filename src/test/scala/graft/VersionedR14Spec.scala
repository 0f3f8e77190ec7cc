package graft

import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Versioned}

/** Round-14 storage-layer hardening (the three r13 ADVICE closes plus
  * the checkpoint-cache nonce): legacy (pre-complete-state)
  * checkpoints are rejected by the reader and the fold falls back to
  * the raw log instead of silently dropping constraints / generated
  * columns / txn watermarks; convertInPlace
  * never parses a file NAME's `=` as a hive layout segment; and the
  * checkpoint parse memo validates on a random write nonce, closing
  * the same-length-same-mtime staleness window. */
class VersionedR14Spec extends SparkTestBase {
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

  // -------------------------- legacy checkpoints (ADVICE r13, high)

  test("a pre-complete-state checkpoint falls back to the raw log, rules intact") {
    val tbl = tmp("legacyck") + "/tbl"
    Versioned.overwrite(df((1L, "a"), (2L, "b")), tbl)
    Versioned.addConstraint(spark, tbl, "id_pos", "id > 0") // v2
    Versioned.idempotentAppend(df((3L, "c")), tbl, "app", 7L) // v3
    for (i <- 4 to 10) Versioned.append(df((10L + i, s"r$i")), tbl) // ckpt @10
    assert(Versioned.checkpoints(spark, tbl) == Seq(10L))
    // simulate a checkpoint written BEFORE the complete-state
    // extension: strip the marker and every extended-state field,
    // keeping active/schema/dv/features — exactly what the old layout
    // archived
    val ckFile = new java.io.File(tbl, f"_graft_log/ckpt-${10L}%08d.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val t = mapper.readTree(java.nio.file.Files.readAllBytes(ckFile.toPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    Seq("nonce", "stateV", "constraints", "generated", "txns",
      "dvCoverage", "sizes", "stats").foreach(t.remove)
    java.nio.file.Files.write(ckFile.toPath, mapper.writeValueAsBytes(t))
    // drop the fs checksum sidecar so the read exercises the stateV
    // rejection, not a ChecksumException
    new java.io.File(ckFile.getParentFile, s".${ckFile.getName}.crc").delete()
    Versioned.clearCheckpointCache()
    // the constraint must still be enforced (raw-log fold, not the
    // checkpoint's silently-empty rule set)
    assert(Versioned.constraints(spark, tbl) == Seq(("id_pos", "id > 0")),
      "constraints must survive a legacy checkpoint via raw-log replay")
    val e = intercept[Exception](Versioned.append(df((-1L, "bad")), tbl))
    assert(messages(e).exists(_.contains("id_pos")),
      s"CHECK must stay enforced, got: ${messages(e)}")
    // the txn watermark must still dedup a re-delivered batch
    val before = Versioned.read(spark, tbl).count()
    Versioned.idempotentAppend(df((3L, "c")), tbl, "app", 7L)
    assert(Versioned.read(spark, tbl).count() == before,
      "a re-delivered batch below the txn watermark must not double-commit")
    // the next checkpoint rewrites the head complete — and is used
    Versioned.append(df((99L, "z")), tbl)
    val v2 = Versioned.checkpoint(spark, tbl)
    val fresh = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(tbl, f"_graft_log/ckpt-$v2%08d.json").toPath))
    assert(fresh.contains("\"stateV\"") && fresh.contains("\"constraints\""))
    assert(certified(tbl, Versioned.latestVersion(spark, tbl)))
  }

  // --------------------- file names with '=' (ADVICE r13, low)

  test("convertInPlace ignores '=' in file NAMES for layout inference") {
    val dir = tmp("cveq") + "/t"
    df((1L, "a"), (2L, "b")).write.parquet(dir)
    // a foreign writer's basename containing '=': must neither infer a
    // bogus partition column nor refuse an 'inconsistent layout'
    val d = new java.io.File(dir)
    val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
    val renamed = new java.io.File(d, "part-x=3.parquet")
    assert(part.renameTo(renamed))
    d.listFiles().filter(_.getName.startsWith("."))
      .filter(_.getName.contains(part.getName)).foreach(_.delete())
    val c = Versioned.convertInPlace(spark, dir)
    assert(c.partitionCols.isEmpty,
      s"flat layout must infer NO partition columns, got ${c.partitionCols}")
    assert(Versioned.read(spark, dir).count() == 2L)
    assert(certified(dir, 1L))
  }

  test("partitionValuesOf never parses the basename as a partition segment") {
    val v = Versioned.partitionValuesOf("d0001/g=a/part-x=3.parquet", Seq("g"))
    assert(v == Map("g" -> Some("a")))
    val e = intercept[IllegalStateException](
      Versioned.partitionValuesOf("d0001/part-g=3.parquet", Seq("g")))
    assert(e.getMessage.contains("no `g=` partition segment"))
  }

  // ------------------------------ checkpoint-cache nonce validation

  test("ckpt cache misses on a same-length in-place rewrite (nonce, not mtime)") {
    val tbl = tmp("cknonce") + "/tbl"
    Versioned.overwrite(df((1L, "a")), tbl)
    for (i <- 2 to 10) Versioned.append(df((i.toLong, s"r$i")), tbl)
    val ckFile = new java.io.File(tbl, f"_graft_log/ckpt-${10L}%08d.json")
    Versioned.clearCheckpointCache()
    val p0 = Versioned.checkpointParses.get()
    assert(Versioned.read(spark, tbl).count() == 10L) // populates the memo
    val p1 = Versioned.checkpointParses.get()
    assert(p1 > p0, "a cold read must parse the checkpoint")
    assert(Versioned.read(spark, tbl).count() == 10L)
    assert(Versioned.checkpointParses.get() == p1,
      "a warm read with an unchanged nonce must hit the memo")
    // rewrite IN PLACE at the same byte length with a different nonce
    // (rotate its hex chars) and force the mtime back — the exact
    // window (length, mtime) validation could not see
    val bytes = java.nio.file.Files.readAllBytes(ckFile.toPath)
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val m = """"nonce":"([0-9a-f]{32})"""".r.findFirstMatchIn(s).get
    val rotated = m.group(1).map {
      case c if c.isDigit => (((c - '0') + 1) % 10 + '0').toChar
      case c => (((c - 'a') + 1) % 6 + 'a').toChar
    }
    val mtime = ckFile.lastModified()
    java.nio.file.Files.write(ckFile.toPath,
      s.replace(m.group(1), rotated)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the fs-written record has a .crc sidecar the nio rewrite
    // invalidates — drop it (LocalFileSystem then skips verification)
    new java.io.File(ckFile.getParentFile, s".${ckFile.getName}.crc").delete()
    assert(ckFile.setLastModified(mtime))
    assert(ckFile.length() == bytes.length, "rewrite must keep the length")
    assert(Versioned.read(spark, tbl).count() == 10L)
    assert(Versioned.checkpointParses.get() == p1 + 1,
      "a changed nonce at identical (length, mtime) must miss the memo")
  }
}
