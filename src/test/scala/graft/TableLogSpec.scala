package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.FaultFs

import graft.ingest.Versioned
import graft.ingest.Versioned._

/** The table log's storage seam, measured on the counting filesystem
  * (`graftshim/FaultFs`): the metadata I/O an uncontended operation
  * pays under `_graft_log`, and a time-travel horizon that survives a
  * failed publish. */
class TableLogSpec extends SparkTestBase {
  import spark.implicits._

  FaultFs.install(spark)

  private def table(name: String): (String, java.io.File) = {
    val local = tmp(name) + "/t"
    (FaultFs.path(local), new java.io.File(local))
  }

  private def df(rows: (Long, String)*): DataFrame =
    rows.toDF("id", "t").coalesce(1)

  /** A copy of the table at local dir `from`, as a fresh table path. */
  private def copied(from: java.io.File, name: String): String = {
    val (tbl, to) = table(name)
    val walk = java.nio.file.Files.walk(from.toPath)
    try walk.forEach(p => java.nio.file.Files.copy(p,
      to.toPath.resolve(from.toPath.relativize(p))))
    finally walk.close()
    tbl
  }

  /** Every public operation the budget covers, run once on a table whose
    * head is `v`: each resolves its state from one log listing. */
  private def operations(v: Long): Seq[(String, String => Any)] = {
    val clauses = Seq(WhenMatchedUpdate(Map("t" -> srcCol("t"))),
      WhenNotMatchedInsert())
    Seq(
      "compactSmallFiles" -> (t => compactSmallFiles(spark, t, 1L << 20)),
      "deleteWhere" -> (t => deleteWhere(spark, t, col("id") === 1L)),
      "upsert" -> (t => upsert(spark, t, df(1L -> "u", 99L -> "n"), Seq("id"))),
      "merge" -> (t => merge(spark, t, df(1L -> "m", 98L -> "n"), Seq("id"), clauses)),
      "optimize" -> (t => optimize(spark, t, numFiles = 1)),
      "dropColumn" -> (t => dropColumn(spark, t, "t")),
      "renameColumn" -> (t => renameColumn(spark, t, "t", "u")),
      "restore" -> (t => restore(spark, t, v - 2L)),
      "upsertMoR" -> (t => upsertMoR(spark, t, df(1L -> "u"), Seq("id"))),
      "mergeMoR" -> (t => mergeMoR(spark, t, df(1L -> "m", 98L -> "n"), Seq("id"),
        clauses)),
      "addConstraint" -> (t => addConstraint(spark, t, "pos", "id > 0")),
      "checkpoint" -> (t => Versioned.checkpoint(spark, t)),
      "deleteWhereMoR" -> (t => deleteWhereMoR(spark, t, col("id") === 1L)),
      "readAsOfWhere" -> (t => readAsOfWhere(spark, t, v, col("id") > 1L)._1.collect()),
      "readAsOfPruned" -> (t => readAsOfPruned(spark, t, v, "id", 1L, 2L)._1.collect()),
      "read" -> (t => read(spark, t).collect()),
      "append" -> (t => append(df(97L -> "a"), t)),
      "changesBetween over appends" ->
        (t => changesBetween(spark, t, v - 3L, v).collect()))
  }

  /** (list, open, create, rename) calls `body` makes under `_graft_log`. */
  private def logIo(body: => Any): (Int, Int, Int, Int) = {
    val (_, calls) = FaultFs.recorded(body)
    val log = calls.filter(_.path.toString.contains("/_graft_log"))
    def n(op: String) = log.count(_.op == op)
    (n("list"), n("open"), n("create"), n("rename"))
  }

  test("uncontended append, overwrite, idempotentAppend and read stay in their metadata-I/O budget") {
    val (tbl, _) = table("budget")
    Versioned.overwrite(df(1L -> "a"), tbl)
    Versioned.append(df(2L -> "b"), tbl)
    val append = logIo(Versioned.append(df(3L -> "c"), tbl))
    val overwrite = logIo(Versioned.overwrite(df(4L -> "d"), tbl))
    val tagged = logIo(Versioned.idempotentAppend(df(5L -> "e"), tbl, "app", 1L))
    val replay = logIo(Versioned.idempotentAppend(df(5L -> "e"), tbl, "app", 1L))
    val read = logIo(Versioned.read(spark, tbl).collect())
    // v3..v5: no auto-checkpoint cadence hit adds its own I/O
    assert((3L to 5L).forall(_ % Versioned.autoCheckpointInterval != 0L))
    assert(Versioned.latestVersion(spark, tbl) == 5L)
    // no checkpoint yet, so a commit at head vH pays: one listing; one
    // nonce-prefix read (memo hit) per record of the vH-record fold,
    // whose last read is the head record the claim builds against and
    // stamps its ts from; one temp-record create and one publishing
    // rename
    assert(append == ((1, 2, 1, 1)), s"append at v2 $append")
    assert(overwrite == ((1, 3, 1, 1)), s"overwrite at v3 $overwrite")
    assert(tagged == ((1, 4, 1, 1)), s"idempotentAppend at v4 $tagged")
    // a replayed batch stops at the watermark: no stage, no claim
    assert(replay == ((1, 5, 0, 0)), s"replayed idempotentAppend $replay")
    // a read folds the v5 state: no head read, no claim
    assert(read == ((1, 5, 0, 0)), s"read $read")

    // every other public operation resolves its state from ONE listing
    // too, with no checkpoint (head v4) and over a checkpoint plus its
    // tail (head v13, checkpoint v10); each runs on its own copy
    val budgets = Seq(4L, 13L).flatMap { head =>
      val (tmpl, dir) = table(s"tmpl$head")
      Versioned.overwrite(df(1L -> "a"), tmpl)
      (2L to head).foreach(i => Versioned.append(df(i -> s"r$i"), tmpl))
      assert(Versioned.checkpoints(spark, tmpl) ==
        (if (head >= 10L) Seq(10L) else Nil))
      operations(head).map { case (op, run) =>
        val tbl = copied(dir, s"${op.takeWhile(_ != ' ')}$head")
        val (list, open, _, _) = logIo(run(tbl))
        (s"$op at v$head", list, open)
      }
    }
    budgets.foreach { case (op, list, open) => info(s"$op: $list listing(s), $open open(s)") }
    budgets.foreach { case (op, list, _) =>
      assert(list == 1, s"$op listed _graft_log $list times")
    }
    // each row-level writer opens its head's fold and nothing more: the
    // four records at v4, the v10 checkpoint plus three records at v13;
    // a restore opens its target's fold and the records after it
    val writers = Set("deleteWhere", "upsert", "merge", "deleteWhereMoR",
      "upsertMoR", "mergeMoR", "restore")
    budgets.foreach { case (op, _, open) =>
      if (writers(op.takeWhile(_ != ' ')))
        assert(open == 4, s"$op opened $open _graft_log files")
    }
  }

  test("the txn watermark check shares the commit's single state fold") {
    val (tbl, _) = table("fold")
    Versioned.overwrite(df(1L -> "a"), tbl)
    Versioned.append(df(2L -> "b"), tbl)
    Versioned.append(df(3L -> "c"), tbl)
    val r0 = Versioned.commitRecordReads.get()
    Versioned.idempotentAppend(df(4L -> "d"), tbl, "app", 1L)
    // the three-record fold, whose last read is the head; the claim
    // reads no parent
    assert(Versioned.commitRecordReads.get() - r0 == 3L)
  }

  test("a failed horizon publish keeps the old horizon and every unswept file") {
    val (tbl, root) = table("horizon")
    (1L to 6L).foreach(i => Versioned.overwrite(df(i -> s"r$i"), tbl))
    assert(Versioned.vacuumVersions(spark, tbl, retainLast = 4)._2 == 3L)
    // the second sweep's publish fails: the rename of its temp horizon
    val (fired, thrown) = FaultFs.failing(c =>
      c.op == "rename" && c.path.getName.startsWith(".tmp-horizon"))(
      Versioned.vacuumVersions(spark, tbl, retainLast = 1))
    assert(fired && thrown.isDefined)
    // the failed publish leaves no temp record behind
    val logDir = new java.io.File(root, Versioned.LogDir)
    assert(!logDir.list().exists(_.startsWith(".tmp-")),
      s"leaked temp records: ${logDir.list().filter(_.startsWith(".tmp-")).toSeq}")
    // below the old horizon: still the loud refusal, never a missing file
    val e = intercept[IllegalArgumentException](Versioned.readAsOf(spark, tbl, 2L))
    assert(e.getMessage.contains("horizon is 3"), e.getMessage)
    // at and above it: whole, because nothing is deleted before the publish
    (3L to 6L).foreach(v =>
      assert(rowSet(Versioned.readAsOf(spark, tbl, v)) == Set(Seq(v, s"r$v"))))
    // the retried sweep publishes and reclaims
    assert(Versioned.vacuumVersions(spark, tbl, retainLast = 1)._2 == 6L)
    intercept[IllegalArgumentException](Versioned.readAsOf(spark, tbl, 5L))
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(6L, "r6")))
  }

  test("horizons are published as names, and a legacy horizon file is still honoured") {
    val (tbl, root) = table("names")
    (1L to 4L).foreach(i => Versioned.overwrite(df(i -> s"r$i"), tbl))
    Versioned.vacuumVersions(spark, tbl, retainLast = 3)
    Versioned.vacuumVersions(spark, tbl, retainLast = 2)
    val log = new java.io.File(root, Versioned.LogDir)
    assert(log.list().filter(_.startsWith("horizon-")).toSeq ==
      Seq("horizon-00000003.json"), "one name per table: superseded ones go")
    // a table vacuumed by an engine that wrote only the legacy file
    val (legacy, lroot) = table("legacy")
    (1L to 3L).foreach(i => Versioned.overwrite(df(i -> s"r$i"), legacy))
    java.nio.file.Files.write(
      new java.io.File(new java.io.File(lroot, Versioned.LogDir), "horizon").toPath,
      """{"horizon":3}""".getBytes)
    val e = intercept[IllegalArgumentException](Versioned.readAsOf(spark, legacy, 2L))
    assert(e.getMessage.contains("horizon is 3"), e.getMessage)
  }
}
