package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.ingest.{Catalog, Ingest}

/** The persisted-catalog surface ([[graft.ingest.Catalog]]): external
  * tables under an explicitly-located database, self-describing
  * descriptors, and `attach` recovering full definitions — bucket spec
  * included — in a catalog that lost its metadata. "Survives sessions"
  * is simulated honestly inside one JVM: DROP TABLE wipes exactly the
  * state an in-memory catalog loses at process exit (the metadata),
  * while the external files — the state that persists on object storage
  * — remain; attach must rebuild the former from the latter.
  */
class CatalogSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDb(): (String, String) = {
    val loc = tmp("catalog")
    val db = s"graft_cat_${System.nanoTime()}"
    Catalog.ensureDatabase(spark, db, loc)
    (db, loc)
  }

  private def dropDb(db: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")

  test("saveTable + spark.table roundtrip; files live under the explicit location only") {
    val (db, loc) = freshDb()
    try {
      val df = (1L to 50L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "v")
      val tableLoc = Catalog.saveTable(df, db, "t1")
      assert(tableLoc.stripPrefix("file:").startsWith(loc),
        s"table location $tableLoc escaped the database location $loc")
      assert(rows(spark.table(s"$db.t1")) == rows(df))
      // nothing may leak into the implicit default warehouse
      val defaultWh = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      assert(!Files.exists(Paths.get(defaultWh, "t1")) &&
        !Files.exists(Paths.get(defaultWh, s"$db.db")),
        s"saveTable leaked into the default warehouse $defaultWh")
    } finally dropDb(db)
  }

  test("attach recovers a dropped table's schema and values from the descriptor") {
    val (db, loc) = freshDb()
    try {
      val df = (1L to 40L).map(i => (i, i % 7, s"s$i")).toDF("id", "grp", "s")
      Catalog.saveTable(df, db, "t2")
      val schemaBefore = spark.table(s"$db.t2").schema
      spark.sql(s"DROP TABLE `$db`.t2") // metadata gone; external files stay
      assert(!spark.catalog.tableExists(s"$db.t2"))
      assert(Catalog.attach(spark, db, loc) == Seq("t2"))
      assert(spark.table(s"$db.t2").schema == schemaBefore)
      assert(rows(spark.table(s"$db.t2")) == rows(df))
      // idempotent: a second attach (metastore-backed deploy shape)
      assert(Catalog.attach(spark, db, loc).isEmpty)
    } finally dropDb(db)
  }

  test("re-attached co-bucketed tables still join with no shuffle exchange") {
    val (db, loc) = freshDb()
    try {
      val a = (1L to 200L).map(i => (i, s"a$i")).toDF("k", "va")
      val b = (1L to 200L).map(i => (i, i * 2.0)).toDF("k", "vb")
      Ingest.writeBucketed(a, db, "ba", "k", 4)
      Ingest.writeBucketed(b, db, "bb", "k", 4)
      spark.sql(s"DROP TABLE `$db`.ba")
      spark.sql(s"DROP TABLE `$db`.bb")
      assert(Catalog.attach(spark, db, loc).sorted == Seq("ba", "bb"))
      val joined = spark.table(s"$db.ba").join(spark.table(s"$db.bb"), "k")
      assert(joined.count() == 200)
      // the prize: the descriptor carried the bucket spec across the
      // metadata loss, so the join still plans exchange-free
      val shuffles = executedPlanNodes(joined).filter(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles.isEmpty,
        s"re-attached bucketed join should not shuffle: ${shuffles.size} exchanges")
    } finally dropDb(db)
  }

  test("re-attached partitioned table recovers partitions and prunes reads") {
    val (db, loc) = freshDb()
    try {
      val df = (1L to 60L).map(i => (i, s"p${i % 3}", i * 10.0)).toDF("id", "pt", "v")
      Catalog.saveTable(df, db, "t3", partitionBy = Seq("pt"))
      spark.sql(s"DROP TABLE `$db`.t3")
      assert(Catalog.attach(spark, db, loc) == Seq("t3"))
      val back = spark.table(s"$db.t3")
      assert(back.count() == 60)
      val pruned = back.filter(col("pt") === "p1")
      assert(pruned.count() == 20)
      // partition pruning must reach the file listing: a pruned read
      // touches only the matching partition directory
      val files = pruned.inputFiles
      assert(files.nonEmpty && files.forall(_.contains("pt=p1")),
        s"pruned read touched foreign partitions: ${files.filterNot(_.contains("pt=p1")).take(3).mkString(", ")}")
    } finally dropDb(db)
  }

  test("registerPersistent materializes the silver surface; attach restores it by name") {
    val (db, loc) = freshDb()
    try {
      val saved = Catalog.registerPersistent(spark, "/root/testdata/sf0.001", db, loc)
      assert(saved.toSet == Set("weekly_trending_tracks", "song_similarity_by_playlist",
        "song_collaborative_filtering", "user_likes", "graph_user_follows"))
      val likesBefore = rows(spark.table(s"$db.user_likes"))
      saved.foreach(t => spark.sql(s"DROP TABLE `$db`.`$t`"))
      assert(Catalog.attach(spark, db, loc).toSet == saved.toSet)
      assert(rows(spark.table(s"$db.user_likes")) == likesBefore)
      assert(spark.table(s"$db.weekly_trending_tracks").count() > 0)
    } finally dropDb(db)
  }
}
