package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.FaultFs

import graft.ingest.Versioned
import graft.ingest.Versioned._

/** Every writer that stages data leaves no `d-`/`dv-` dir behind when a
  * storage call fails between its first staged byte and its claim.
  * Each case arms one injected IOException (the test filesystem in
  * `graftshim/FaultFs`) at a call that only happens after the writer
  * has staged, lets the writer fail, and compares the table root's
  * staged dirs with those before the call: a leak would survive until
  * a manual `vacuum`. The table must still read its old head. */
class StagingCleanupSpec extends SparkTestBase {
  import spark.implicits._

  FaultFs.install(spark)

  private def table(name: String): (String, java.io.File) = {
    val local = tmp(name) + "/t"
    (FaultFs.path(local), new java.io.File(local))
  }

  private def df(rows: (Long, String)*): DataFrame =
    rows.toDF("id", "t").coalesce(1)

  private def stagedDirs(root: java.io.File): Set[String] =
    Option(root.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("d-") || n.startsWith("dv-")).toSet

  /** The first call under `_graft_log` once `write` has created a
    * staged dir — for these writers, the first log read after staging. */
  private def firstLogCallAfterStaging(root: java.io.File, before: Set[String])
      : FaultFs.Call => Boolean =
    c => c.path.toString.contains("/_graft_log") &&
      (stagedDirs(root) -- before).nonEmpty

  /** The listing of the staged deletion-vector dir (MoR writers). */
  private val vectorListing: FaultFs.Call => Boolean =
    c => c.op == "list" && c.path.getName.startsWith("dv-")

  /** Run `write` with one fault armed at `at`, and check the fault hit,
    * the writer failed, no staged dir leaked and the head is unchanged. */
  private def assertCleansUp(tbl: String, root: java.io.File)
                            (at: Set[String] => FaultFs.Call => Boolean)
                            (write: => Any): Unit = {
    val before = stagedDirs(root)
    val head = Versioned.latestVersion(spark, tbl)
    val rowsBefore = rowSet(Versioned.read(spark, tbl))
    val (fired, thrown) = FaultFs.failing(at(before))(write)
    assert(fired, "the injected fault never fired")
    assert(thrown.exists(e => messages(e).exists(_.contains("injected fault"))),
      s"the writer must fail with the injected fault, got $thrown")
    assert(stagedDirs(root) == before,
      s"leaked staging: ${stagedDirs(root) -- before}")
    assert(Versioned.latestVersion(spark, tbl) == head)
    assert(rowSet(Versioned.read(spark, tbl)) == rowsBefore)
  }

  private def seeded(name: String): (String, java.io.File) = {
    val (tbl, root) = table(name)
    Versioned.overwrite(df(1L -> "a", 2L -> "b"), tbl)
    Versioned.append(df(3L -> "c"), tbl)
    Versioned.append(df(4L -> "d"), tbl)
    (tbl, root)
  }

  test("append drops its staging when the claim's log read fails") {
    val (tbl, root) = seeded("append")
    assertCleansUp(tbl, root)(firstLogCallAfterStaging(root, _))(
      Versioned.append(df(5L -> "e"), tbl))
  }

  test("overwrite drops its staging when the claim's log read fails") {
    val (tbl, root) = seeded("overwrite")
    assertCleansUp(tbl, root)(firstLogCallAfterStaging(root, _))(
      Versioned.overwrite(df(9L -> "z"), tbl))
  }

  test("appendEvolve drops its staging when the epoch recompute's log read fails") {
    val (tbl, root) = seeded("evolve")
    assertCleansUp(tbl, root)(firstLogCallAfterStaging(root, _))(
      Versioned.appendEvolve(
        Seq((5L, "e", 1.5d)).toDF("id", "t", "score").coalesce(1), tbl))
  }

  test("optimize drops its staging when the post-stage state read fails") {
    val (tbl, root) = seeded("optimize")
    assertCleansUp(tbl, root)(firstLogCallAfterStaging(root, _))(
      Versioned.optimize(spark, tbl, numFiles = 1))
  }

  test("compactSmallFiles drops its staging when the post-stage state read fails") {
    val (tbl, root) = seeded("compact")
    assertCleansUp(tbl, root)(firstLogCallAfterStaging(root, _))(
      Versioned.compactSmallFiles(spark, tbl, maxFileBytes = 1L << 30))
  }

  test("a schema-evolving merge drops its staging when the claim's log read fails") {
    val (tbl, root) = seeded("evolvemerge")
    val src = Seq((2L, "B", 7L), (8L, "h", 8L)).toDF("id", "t", "w").coalesce(1)
    assertCleansUp(tbl, root)(firstLogCallAfterStaging(root, _))(
      Versioned.merge(spark, tbl, src, Seq("id"),
        Seq(WhenMatchedUpdate(Map("t" -> srcCol("t"), "w" -> srcCol("w"))),
          WhenNotMatchedInsert()), evolveSchema = true))
  }

  test("deleteWhereMoR drops its vector when listing it fails") {
    val (tbl, root) = seeded("delmor")
    assertCleansUp(tbl, root)(_ => vectorListing)(
      Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L))
  }

  test("upsertMoR drops its vector when listing it fails") {
    val (tbl, root) = seeded("upsmor")
    assertCleansUp(tbl, root)(_ => vectorListing)(
      Versioned.upsertMoR(spark, tbl, df(2L -> "B", 7L -> "g"), Seq("id")))
  }

  test("mergeMoR drops its vector when listing it fails") {
    val (tbl, root) = seeded("mergemor")
    val src = Seq((3L, "C"), (9L, "i")).toDF("id", "t").coalesce(1)
    assertCleansUp(tbl, root)(_ => vectorListing)(
      Versioned.mergeMoR(spark, tbl, src, Seq("id"),
        Seq(WhenMatchedUpdate(Map("t" -> srcCol("t"))), WhenNotMatchedInsert())))
  }
}
