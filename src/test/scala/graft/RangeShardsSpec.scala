package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.ingest.Shards

class RangeShardsSpec extends SparkTestBase {
  import spark.implicits._

  /** Driver-side transcription: boundaries = ceil-bp order statistics,
    * shard = count of boundaries strictly below the key. */
  private def bruteShard(keys: Seq[Long], n: Int): Map[Long, Int] = {
    val sorted = keys.map(_.toDouble).sorted
    val cnt = sorted.size.toLong
    val bs = (1 until n).map(i => i * 10000 / n).distinct
      .map(bp => sorted(((bp * cnt + 9999) / 10000 - 1).toInt))
    keys.map(k => k -> bs.count(_ < k.toDouble)).toMap
  }

  test("read-back assignment matches the brute order-statistic rule; ranges are disjoint and ordered") {
    val gen = Gen.chooseNum(20, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L)))
    for (keys <- samples(gen, n = 4); n <- Seq(2, 5)) {
      val dir = tmp("shards")
      val df = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("row_id", "key")
      Shards.writeRangeSharded(df, dir, "key", n, maxRecordsPerFile = 17L)
      val back = spark.read.parquet(dir)
        .select(col("row_id"), col("key"), col("shard_id").cast("int"))
        .as[(Long, Long, Int)].collect()
      assert(back.length == keys.size)
      val want = bruteShard(keys, n)
      back.foreach { case (_, k, s) => assert(s == want(k), s"key=$k n=$n") }
      val audit = Shards.rangeShardAudit(spark, dir, "key", 17L)
      assert(audit.collect().forall(r =>
        r.getAs[Boolean]("files_capped") && r.getAs[Boolean]("range_disjoint")))
    }
  }

  test("ties sit low: every copy of a boundary value lands in the lower shard") {
    // 12 rows, 6 of them the same value; with N=2 the median IS that value
    val df = (Seq.fill(6)(5L) ++ Seq(1L, 2L, 3L, 7L, 8L, 9L))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("row_id", "key")
    val dir = tmp("shards")
    Shards.writeRangeSharded(df, dir, "key", 2)
    val byShard = spark.read.parquet(dir)
      .groupBy("shard_id").agg(collect_list("key"))
      .as[(Int, Seq[Long])].collect().toMap
    assert(byShard(0).sorted == Seq(1L, 2L, 3L, 5L, 5L, 5L, 5L, 5L, 5L))
    assert(byShard(1).sorted == Seq(7L, 8L, 9L))
  }

  test("per-shard file counts are exact ceil(rows / cap)") {
    val df = (1L to 100L).map(k => (k, k)).toDF("row_id", "key")
    val dir = tmp("shards")
    Shards.writeRangeSharded(df, dir, "key", 4, maxRecordsPerFile = 10L)
    val audit = Shards.rangeShardAudit(spark, dir, "key", 10L)
      .select("shard_id", "n_rows", "n_files").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    audit.foreach { case (_, rows, files) => assert(files == (rows + 9) / 10) }
    assert(audit.map(_._2).sum == 100L)
  }

  test("null keys fail loudly") {
    val df = Seq(Some(1L), None, Some(3L)).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("row_id", "key")
    val e = intercept[Exception](
      Shards.writeRangeSharded(df, tmp("shards"), "key", 2))
    assert(messages(e).exists(_.contains("null shard key")))
  }

  test("arguments are validated") {
    val df = Seq((1L, 1L)).toDF("row_id", "key")
    intercept[IllegalArgumentException](
      Shards.writeRangeSharded(df, tmp("shards"), "key", 1))
    intercept[IllegalArgumentException](
      Shards.writeRangeSharded(df, tmp("shards"), "key", 2, maxRecordsPerFile = 0L))
  }
}
