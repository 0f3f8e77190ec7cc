package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.FaultFs

import graft.ingest.{Fingerprint, Versioned}

/** The lost-claim path of a rewrite, made deterministic: a concurrent
  * commit lands between a rewrite's planning and its claim (the
  * counting filesystem's one-shot callback fires just before the
  * rewrite creates its temp record), so the claim loses once, checks
  * the intervening record, folds its planned state forward over it and
  * claims the next version. Covered for `optimize`,
  * `compactSmallFiles` and `upsert`, each against a concurrent append
  * and against a concurrent merge-on-read delete of a file the rewrite
  * does not touch. */
class ClaimRetrySpec extends SparkTestBase {
  import spark.implicits._

  FaultFs.install(spark)

  private def frame(rows: Seq[(Long, String, Int)]): DataFrame =
    rows.toDF("id", "t", "p").coalesce(1)

  /** Content of a version equals the digest archived at its commit. */
  private def certified(tbl: String, v: Long): Boolean = {
    val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
    val asOf = Versioned.readAsOf(spark, tbl, v)
    val r = asOf.agg(count(lit(1)),
      coalesce(sum(Fingerprint.rowDigest(
        asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
    (r.getLong(0), r.getLong(1)) == ((n, fp))
  }

  /** A table partitioned by `p` at v3: one large file in p=2 (ids
    * 1000..2999), two small files in p=1 (ids 1, 2 and 3, 4) and a
    * deletion vector (v3) on id 1's file — stranded by any rewrite of
    * p=1. Returns the path and that vector's files. */
  private def table(name: String): (String, Seq[String]) = {
    val tbl = FaultFs.path(tmp(name) + "/t")
    Versioned.overwrite(frame((1000L to 2999L).map(i => (i, s"row-$i-" * 4, 2)) ++
      Seq((1L, "a", 1), (2L, "b", 1))), tbl, partitionBy = Seq("p"))
    Versioned.append(frame(Seq((3L, "c", 1), (4L, "d", 1))), tbl)
    val dv = Versioned.deleteWhereMoR(spark, tbl, col("id") === 1L).get
    (tbl, dv.dv)
  }

  private def isClaimTemp(c: FaultFs.Call): Boolean =
    c.op == "create" && c.path.getName.startsWith(".tmp-v")

  private val rewrites: Seq[(String, String => Versioned.Commit)] = Seq(
    "optimize" -> (tbl => Versioned.optimize(spark, tbl, numFiles = 1,
      where = Some(_("p").contains("1"))).get),
    "compactSmallFiles" -> (tbl =>
      Versioned.compactSmallFiles(spark, tbl, maxFileBytes = 4096L).get),
    "upsert" -> (tbl => Versioned.upsert(spark, tbl,
      frame(Seq((2L, "B", 1), (3L, "C", 1))), Seq("id"))))

  /** (name, its record's action, the commit, the ids it changes). */
  private val concurrent
      : Seq[(String, String, String => Unit, Set[Seq[Any]] => Set[Seq[Any]])] = Seq(
    ("append", "append",
      tbl => Versioned.append(frame(Seq((7L, "g", 2))), tbl), _ + Seq(7L)),
    ("MoR delete of an untouched file", "delete_mor",
      tbl => Versioned.deleteWhereMoR(spark, tbl, col("id") === 1500L),
      _ - Seq(1500L)))

  for ((op, rewrite) <- rewrites; (other, action, land, changed) <- concurrent)
    test(s"$op retries past a concurrent $other and lands on the folded state") {
      val saved = Versioned.autoCheckpointInterval
      // the retried commit is v5: its cadence checkpoint is written from
      // the state folded forward past v4, which stateParity then checks
      // against a from-scratch replay
      Versioned.autoCheckpointInterval = 5
      try {
        val (tbl, stranded) = table(s"${op}_${other.takeWhile(_ != ' ')}")
        val expected = rowSet(Versioned.read(spark, tbl).select("id"))
        val (c, ran) = FaultFs.before(isClaimTemp)(land(tbl))(rewrite(tbl))
        assert(ran, "the concurrent commit must land before the claim")
        assert(Versioned.commitsBetween(spark, tbl, 3L, 4L).map(_.action) ==
          Seq(action), "v4 is the concurrent commit")
        assert(c.version == 5L, s"the $op must retry onto v5, got v${c.version}")
        assert(Versioned.latestVersion(spark, tbl) == 5L)
        assert(certified(tbl, 5L) && certified(tbl, 4L))
        assert(c.dvRemove == stranded,
          s"only the vector on the rewritten file is purged: ${c.dvRemove}")
        assert(Versioned.checkpoints(spark, tbl).contains(5L))
        assert(Versioned.stateParity(spark, tbl))
        assert(rowSet(Versioned.read(spark, tbl).select("id")) == changed(expected))
      } finally Versioned.autoCheckpointInterval = saved
    }
}
