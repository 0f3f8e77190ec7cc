package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.Shards
import graft.text.Splits

class ShardsSpec extends SparkTestBase {
  import spark.implicits._

  private def sample(): DataFrame =
    (1 to 200).map(i => (i.toLong % 37, i.toLong)).toDF("user_id", "event_id")

  test("writeSharded: assignment is a pure function of the key — stable under input partitioning") {
    val d1 = tmp("shards"); val d2 = tmp("shards")
    Shards.writeSharded(sample(), d1, "user_id", nShards = 4, maxRecordsPerFile = 7)
    Shards.writeSharded(sample().repartition(13), d2, "user_id", nShards = 4, maxRecordsPerFile = 7)
    val a1 = rows(Shards.shardAudit(spark, d1, "user_id", 7))
    val a2 = rows(Shards.shardAudit(spark, d2, "user_id", 7))
    assert(a1 == a2 && a1.nonEmpty)
  }

  test("writeSharded: group cohesion — every key's rows land in exactly one shard") {
    val d = tmp("shards")
    Shards.writeSharded(sample(), d, "user_id", nShards = 4, maxRecordsPerFile = 1000)
    val straddlers = spark.read.parquet(d)
      .groupBy("user_id").agg(count_distinct(col("shard_id")).as("n"))
      .filter(col("n") > 1).count()
    assert(straddlers == 0)
    // and the shard on disk is the declared pure function of the key
    val mismatched = spark.read.parquet(d)
      .filter(col("shard_id") =!=
        (Splits.bucket(col("user_id")) % 4).cast("int")).count()
    assert(mismatched == 0)
  }

  test("writeSharded: per-shard file count is exactly ceil(rows / cap) and every file respects the cap") {
    val d = tmp("shards")
    Shards.writeSharded(sample(), d, "user_id", nShards = 3, maxRecordsPerFile = 9)
    val audit = Shards.shardAudit(spark, d, "user_id", 9)
    val got = audit.select("shard_id", "n_rows", "n_files", "files_capped")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.nonEmpty)
    got.foreach { case (sid, n, files, capped) =>
      assert(files == (n + 8) / 9, s"shard $sid: $n rows in $files files")
      assert(capped, s"shard $sid has an over-cap file")
    }
  }

  test("shardAudit: rows/keys/extents match a direct computation from the input") {
    val d = tmp("shards")
    val in = sample()
    Shards.writeSharded(in, d, "user_id", nShards = 5, maxRecordsPerFile = 1000)
    val expected = rows(
      in.withColumn("shard_id", Shards.shardId(col("user_id"), 5).cast("long"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_rows"), count_distinct(col("user_id")).as("n_keys"),
          min(col("user_id")).as("min_key"), max(col("user_id")).as("max_key")))
    val got = rows(Shards.shardAudit(spark, d, "user_id", 1000)
      .select("shard_id", "n_rows", "n_keys", "min_key", "max_key"))
    assert(got == expected)
  }

  test("property: audit matches brute-force sharding for random corpora, shard counts, and caps") {
    import org.scalacheck.Gen
    val gen = for {
      keys <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 50L))
      nShards <- Gen.chooseNum(1, 8)
      cap <- Gen.chooseNum(1L, 10L)
    } yield (keys, nShards, cap)
    samples(gen, n = 3, size = 40).foreach { case (keys, nShards, cap) =>
      val d = tmp("shards")
      val in = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("user_id", "event_id")
      Shards.writeSharded(in, d, "user_id", nShards, cap)
      // brute force: replicate the md5-bucket arithmetic in Scala
      def shard(k: Long): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(k.toString.getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16) % 10000 % nShards
      }
      val expected = keys.groupBy(shard).toSeq.map { case (sid, ks) =>
        Seq[Any](sid, ks.size.toLong, ks.distinct.size.toLong,
          ks.min, ks.max, (ks.size + cap - 1) / cap, true)
      }.sortBy(_.mkString("|"))
      val got = rows(Shards.shardAudit(spark, d, "user_id", cap))
      assert(got == expected, s"nShards=$nShards cap=$cap keys=$keys")
    }
  }

  test("writeSharded: rows inside every file are key-sorted (reproducible, range-sliced files)") {
    val d = tmp("shards")
    // scramble input order to prove the in-task sort, not luck, orders rows
    Shards.writeSharded(sample().orderBy(rand(7)), d, "user_id",
      nShards = 3, maxRecordsPerFile = 9)
    val files = spark.read.parquet(d)
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty)
    files.foreach { f =>
      val keys = spark.read.parquet(f).select("user_id")
        .collect().map(_.getLong(0)).toSeq
      assert(keys == keys.sorted, s"unsorted keys in $f")
    }
  }

  test("writeManifest: JSON manifest matches the audit and stays invisible to data reads") {
    val d = tmp("shards")
    Shards.writeSharded(sample(), d, "user_id", nShards = 3, maxRecordsPerFile = 9)
    Shards.writeManifest(spark, d, "user_id", maxRecordsPerFile = 9)
    val manifest = rows(spark.read.json(s"$d/_manifest")
      .select("shard_id", "n_rows", "n_keys", "min_key", "max_key",
        "n_files", "files_capped"))
    val audit = rows(Shards.shardAudit(spark, d, "user_id", 9))
    assert(manifest == audit && manifest.size == 3)
    // the _manifest directory must not leak into the export's data reads
    assert(spark.read.parquet(d).count() == sample().count())
  }

  test("writeSharded fails loudly on a null shard key instead of writing a default partition") {
    val withNull = Seq((java.lang.Long.valueOf(1L), 1L),
      (null.asInstanceOf[java.lang.Long], 2L)).toDF("user_id", "event_id")
    val ex = intercept[Exception] {
      Shards.writeSharded(withNull, tmp("shards"), "user_id", nShards = 4)
    }
    assert(messages(ex).exists(m => m != null && m.contains("null shard key")))
  }

  test("writeSharded rejects non-positive nShards and file caps") {
    intercept[IllegalArgumentException] {
      Shards.writeSharded(sample(), tmp("shards"), "user_id", nShards = 0)
    }
    intercept[IllegalArgumentException] {
      Shards.writeSharded(sample(), tmp("shards"), "user_id", nShards = 2, maxRecordsPerFile = 0)
    }
  }
}
