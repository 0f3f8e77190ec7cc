package graft

import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Versioned}

/** Column mapping (Versioned.renameColumn / dropColumn): metadata-only
  * renames and drops through a logical->physical name map — no file
  * rewrites, every version reads under its own schema's names, the
  * additive fingerprint survives a rename with no recompute, and a
  * re-added logical name never resurrects dropped physical values. */
class VersionedColMapSpec extends SparkTestBase {
  import spark.implicits._

  private def certified(tbl: String, v: Long): Boolean = {
    val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
    val asOf = Versioned.readAsOf(spark, tbl, v)
    val r = asOf.agg(count(lit(1)),
      coalesce(sum(Fingerprint.rowDigest(
        asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
    r.getLong(0) == n && r.getLong(1) == fp
  }

  test("rename is metadata-only; every version reads under its own names") {
    val tbl = tmp("ren") + "/tbl"
    Versioned.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "amt"), tbl)
    val v1fp = Versioned.archivedFingerprint(spark, tbl, 1L)
    val c = Versioned.renameColumn(spark, tbl, "amt", "amount")
    assert(c.add.isEmpty && c.remove.isEmpty, "no file is touched")
    assert((c.snapshotRows, c.snapshotFp) == v1fp,
      "value-only fingerprint is rename-invariant: no epoch recompute")
    assert(Versioned.read(spark, tbl).columns.toSeq == Seq("id", "amount"))
    assert(Versioned.readAsOf(spark, tbl, 1L).columns.toSeq == Seq("id", "amt"))
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(1L, 10L), Seq(2L, 20L)))
    // appends keep working against the NEW logical schema
    Versioned.append(Seq((3L, 30L)).toDF("id", "amount"), tbl)
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, 10L), Seq(2L, 20L), Seq(3L, 30L)))
    (1L to 3L).foreach(v => assert(certified(tbl, v), s"v$v certified"))
  }

  test("rename chains compose; a rename back to the original name works") {
    val tbl = tmp("chain") + "/tbl"
    Versioned.overwrite(Seq((1L, 10L)).toDF("id", "amt"), tbl)
    Versioned.renameColumn(spark, tbl, "amt", "x")
    Versioned.renameColumn(spark, tbl, "x", "amt")
    assert(Versioned.read(spark, tbl).columns.toSeq == Seq("id", "amt"))
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(1L, 10L)))
    Versioned.append(Seq((2L, 20L)).toDF("id", "amt"), tbl)
    assert(Versioned.read(spark, tbl).count() == 2L)
    (1L to 4L).foreach(v => assert(certified(tbl, v), s"v$v certified"))
  }

  test("drop is metadata-only; old versions keep the column; totals recompute") {
    val tbl = tmp("drop") + "/tbl"
    Versioned.overwrite(Seq((1L, 10L, "a"), (2L, 20L, "b"))
      .toDF("id", "amt", "tag"), tbl)
    val c = Versioned.dropColumn(spark, tbl, "amt")
    assert(c.add.isEmpty && c.remove.isEmpty, "no file is touched")
    assert(Versioned.read(spark, tbl).columns.toSeq == Seq("id", "tag"))
    assert(rowSet(Versioned.readAsOf(spark, tbl, 1L)) ==
      Set(Seq(1L, 10L, "a"), Seq(2L, 20L, "b")), "time travel keeps the column")
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(1L, "a"), Seq(2L, "b")))
    (1L to 2L).foreach(v => assert(certified(tbl, v), s"v$v certified"))
  }

  test("re-adding a dropped logical name never resurrects stale values") {
    val tbl = tmp("readd") + "/tbl"
    Versioned.overwrite(Seq((1L, 999L), (2L, 888L)).toDF("id", "amt"), tbl)
    Versioned.dropColumn(spark, tbl, "amt")
    // re-add the SAME logical name via schema evolution with new rows
    Versioned.appendEvolve(Seq((3L, 30L)).toDF("id", "amt"), tbl)
    val head = Versioned.read(spark, tbl)
    assert(head.columns.toSeq == Seq("id", "amt"))
    assert(rowSet(head) == Set(Seq(1L, null), Seq(2L, null), Seq(3L, 30L)),
      "old files read NULL for the re-added column, not the dropped 999/888")
    (1L to 3L).foreach(v => assert(certified(tbl, v), s"v$v certified"))
  }

  test("rename/drop refuse partition, generated, referenced and last columns") {
    val tbl = tmp("refuse") + "/tbl"
    Versioned.overwrite(Seq((1L, 10L, 0L)).toDF("id", "amt", "p")
      .repartition(col("p")), tbl, partitionBy = Seq("p"))
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, tbl, "p", "q")
    }
    intercept[IllegalArgumentException] {
      Versioned.dropColumn(spark, tbl, "p")
    }
    Versioned.addConstraint(spark, tbl, "amt_pos", "amt > 0")
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, tbl, "amt", "amount")
    }
    intercept[IllegalArgumentException] { Versioned.dropColumn(spark, tbl, "amt") }
    val tbl2 = tmp("last") + "/tbl"
    Versioned.overwrite(Seq(Tuple1(1L)).toDF("id"), tbl2)
    intercept[IllegalArgumentException] { Versioned.dropColumn(spark, tbl2, "id") }
  }

  test("merge and CoW paths work across a rename epoch") {
    val tbl = tmp("cowren") + "/tbl"
    Versioned.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "amt"), tbl)
    Versioned.renameColumn(spark, tbl, "amt", "amount")
    Versioned.upsert(spark, tbl,
      Seq((2L, 21L), (3L, 30L)).toDF("id", "amount"), Seq("id"))
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, 10L), Seq(2L, 21L), Seq(3L, 30L)))
    (1L to 3L).foreach(v => assert(certified(tbl, v), s"v$v certified"))
  }

  test("mergeMoR works across a rename epoch (tombstones + appends map names)") {
    import graft.ingest.Versioned._
    val tbl = tmp("morren") + "/tbl"
    Versioned.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "amt"), tbl)
    Versioned.renameColumn(spark, tbl, "amt", "amount")
    val src = Seq((2L, 21L), (3L, 30L)).toDF("id", "amount")
    val c = Versioned.mergeMoR(spark, tbl, src, Seq("id"), Seq(
      WhenMatchedUpdate(Map("amount" -> srcCol("amount"))),
      WhenNotMatchedInsert()))
    assert(c.remove.isEmpty && c.dv.nonEmpty)
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, 10L), Seq(2L, 21L), Seq(3L, 30L)))
    (1L to 3L).foreach(v => assert(certified(tbl, v), s"v$v certified"))
  }
}
