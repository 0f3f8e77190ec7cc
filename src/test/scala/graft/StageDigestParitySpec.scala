package graft

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.ingest.Versioned

/** r14 one-pass commit parity: [[Versioned.stageAndDigest]] (digest +
  * CHECK enforcement observed on the write job, zone maps from parquet
  * footers) must produce the SAME commit-record content as the
  * read-back [[Versioned.digestDir]] it replaced — same row count, same
  * additive fingerprint, and the same per-file stats map — across the
  * whole stat-type surface. The only licensed difference: footer stats
  * may OMIT entries they cannot prove (here: null counts of nested
  * columns), never alter one. */
class StageDigestParitySpec extends SparkTestBase {
  import spark.implicits._

  private def logOf(dir: String) = graft.ingest.TableLog(spark, dir)

  /** Stage with the one-pass path AND re-digest the same staged dir with
    * the legacy read-back; return ((rows, fp, stats), (rows, fp, stats)). */
  private def both(df: org.apache.spark.sql.DataFrame,
                   partitionCols: Seq[String] = Nil,
                   cons: Seq[(String, String)] = Nil) = {
    val log = logOf(tmp("t"))
    val dataDirName = "d-test0001"
    val dataDir = new Path(log.root, dataDirName)
    val (sized, n, fp, stats) = Versioned.stageAndDigest(
      df, log, dataDir, df.schema, partitionCols, cons)
    val (n2, fp2, stats2) = Versioned.digestDir(
      spark, log, dataDir, df.schema, partitionCols, cons)
    assert(sized.nonEmpty || n == 0L)
    ((n, fp, stats), (n2, fp2, stats2))
  }

  test("digest, fingerprint and stats are identical across the type surface") {
    val df = Seq(
      (1L, 10, 3.toShort, 1.toByte, Date.valueOf("2024-01-05"),
        Timestamp.valueOf("2024-03-01 10:30:00.123456"),
        LocalDateTime.parse("2024-03-01T07:00:00"),
        "apple", Option(5L), 0.5d, true, Seq(1L, 2L)),
      (2L, -7, 9.toShort, 2.toByte, Date.valueOf("2023-12-31"),
        Timestamp.valueOf("2024-03-02 00:00:00"),
        LocalDateTime.parse("2024-02-15T23:59:59"),
        "züge-" + ("x" * 300), None, -1.5d, false, Seq.empty[Long]),
      (3L, 0, -4.toShort, -3.toByte, Date.valueOf("2024-06-01"),
        Timestamp.valueOf("2023-11-11 11:11:11"),
        LocalDateTime.parse("2024-06-06T06:06:06"),
        "", Option(-2L), Double.NaN, true, Seq(7L))
    ).toDF("l", "i", "sh", "b", "dt", "ts", "ntz",
      "s", "maybe", "d", "flag", "arr")
      .withColumn("allnull", lit(null).cast("long"))
      .coalesce(2)
    val ((n1, fp1, st1), (n2, fp2, st2)) = both(df)
    assert(n1 == n2 && fp1 == fp2, s"($n1,$fp1) vs ($n2,$fp2)")
    // footer map == read-back map, minus the licensed nested-nulls omission
    val licensed = st2.map { case (f, m) =>
      f -> m.filterNot(_._1 == Versioned.nullsStatKey("arr"))
    }
    assert(st1 == licensed,
      s"stats diverged:\nfooter:   $st1\nreadback: $licensed")
    // and the read-back really did archive everything else: spot keys
    val anyFile = st2.keys.head
    assert(st2(anyFile).contains("l") && st2(anyFile).contains("ts") &&
      st2(anyFile).contains(Versioned.strStatKey("s")) &&
      st2(anyFile).contains(Versioned.nullsStatKey("maybe")))
  }

  test("partitioned staging: path-derived stats and digests match, null partition too") {
    val df = Seq(
      (1L, "us", 7, "x"),
      (2L, "us", 7, "y"),
      (3L, "eu", 9, "z"),
      (4L, null.asInstanceOf[String], 9, "w"),
      (5L, "", 9, "empty-renders-as-default") // hive: '' -> default partition -> null
    ).toDF("id", "region", "bucket", "t")
    val ((n1, fp1, st1), (n2, fp2, st2)) = both(df,
      partitionCols = Seq("region", "bucket"))
    assert(n1 == n2 && fp1 == fp2,
      s"partitioned digest diverged: ($n1,$fp1) vs ($n2,$fp2)")
    assert(st1 == st2, s"stats diverged:\nfooter:   $st1\nreadback: $st2")
  }

  test("CHECK constraints enforce during the write; staging is digest-refused") {
    val log = logOf(tmp("ck"))
    val dataDir = new Path(log.root, "d-ckfail01")
    val bad = Seq((1L, 5L), (2L, -1L)).toDF("k", "v")
    val e = intercept[Exception] {
      Versioned.stageAndDigest(bad, log, dataDir,
        bad.schema, Nil, constraints = Seq(("v_nonneg", "v >= 0")))
    }
    assert(messages(e).exists(_.contains("CHECK constraint `v_nonneg` violated")),
      messages(e).toString)
  }

  test("zero-row staging digests to (0, 0) with no stats entries") {
    val empty = Seq((1L, "x")).toDF("k", "t").filter(col("k") < 0L)
    val ((n1, fp1, st1), (n2, fp2, st2)) = both(empty)
    assert(n1 == 0L && fp1 == 0L && st1.isEmpty)
    assert(n1 == n2 && fp1 == fp2 && st1 == st2)
  }
}
