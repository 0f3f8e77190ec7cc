package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Versioned}
import graft.recommend.Recommender
import graft.silver.Pipelines

/** The reference's product path over the engine's public functions:
  * bronze listens in a versioned table, silver tables rebuilt from the
  * bronze head and committed with `Versioned.overwrite`, and the hybrid
  * top-k served over `Versioned.read` of the silver heads.
  *
  * Bronze rows are listens (lineitem ⋈ orders):
  * (event_id, l_orderkey, l_partkey, o_custkey, l_shipdate).
  */
final class ProductPath(spark: SparkSession, tables: String, root: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$tables/$name.parquet")
  val bronze = s"$root/bronze"
  def silver(name: String): String = s"$root/silver_$name"
  val silverTables: Seq[String] = Seq("likes", "trending", "playlist_sim", "cf", "follows")
  def tableRoots: Seq[String] = bronze +: silverTables.map(silver)

  def listensFromStar(): DataFrame =
    table("lineitem").join(table("orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")), Seq("l_orderkey"))
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("event_id"),
        col("l_orderkey"), col("l_partkey"), col("o_custkey"), col("l_shipdate"))

  def commit(df: DataFrame, path: String): Versioned.Commit =
    Trace.span("ingest.commit")(Versioned.overwrite(df, path))
  def read(path: String): DataFrame =
    Trace.span("ingest.read")(Versioned.read(spark, path))

  def likesOf(listens: DataFrame): DataFrame =
    listens.select(col("o_custkey").as("user_id"), col("l_partkey").as("track_id")).distinct()
  def cfOf(likes: DataFrame): DataFrame =
    Pipelines.symmetrize(Pipelines.collaborativeFiltering(likes))

  /** Rebuilds the silver tables that depend on bronze from its head. */
  def rebuildSilver(): Unit = {
    val b = read(bronze)
    Trace.span("silver.likes")(commit(likesOf(b), silver("likes")))
    Trace.span("silver.trending")(commit(
      Pipelines.trending(b.select("l_partkey", "l_shipdate"), table("part"), 30),
      silver("trending")))
    Trace.span("silver.playlist_sim")(commit(Pipelines.symmetrize(
      Pipelines.playlistSimilarity(b.select("l_orderkey", "l_partkey"))),
      silver("playlist_sim")))
    Trace.span("silver.cf")(commit(cfOf(read(silver("likes"))), silver("cf")))
  }

  def buildFollows(): Unit =
    Trace.span("silver.follows")(commit(Pipelines.follows(table("customer")), silver("follows")))

  /** Top-k for one user over the silver heads, collected. */
  def serve(user: Long, k: Int = 5): Array[Row] = Trace.span("recommend.request") {
    val df = Recommender.recommendSym(read(silver("playlist_sim")), read(silver("cf")),
      read(silver("trending")), read(silver("follows")), read(silver("likes")), user, k)
    val rows = df.collect()
    if (Trace.active) ServeStats.record(df, rows.length)
    rows
  }

  /** The recommender's inputs recomputed from the raw star tables, each
    * materialized once for all probes. */
  def rawModels(): Seq[DataFrame] = {
    val li = table("lineitem")
    val likes = Pipelines.likes(table("orders"), li)
    Seq(Pipelines.playlistSimilarity(li), Pipelines.collaborativeFiltering(likes),
      Pipelines.trending(li, table("part"), 30), Pipelines.follows(table("customer")), likes)
      .map(_.localCheckpoint())
  }

  /** A request recomputed over `rawModels` with the canonical-pair
    * overload (the q15 semantics). */
  def expectedTopK(models: Seq[DataFrame], user: Long, k: Int = 5): Seq[(Long, Double)] = {
    val Seq(playlistSim, cf, trending, follows, likes) = models
    Recommender.recommend(playlistSim, cf, trending, follows, likes, user, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  def rows(path: String): Long = Versioned.archivedFingerprint(spark, path,
    Versioned.latestVersion(spark, path))._1
}

object ProductPath {
  /** (rows, additive content fingerprint) of a frame — order- and
    * layout-independent, and any added, dropped or changed row moves it. */
  def fingerprint(df: DataFrame): (Long, Long) =
    fingerprints(df.withColumn("__tag", lit(0))).getOrElse(0, (0L, 0L))

  /** [[fingerprint]] of each group of rows sharing a value of the integer
    * column `__tag`, in one job. */
  def fingerprints(df: DataFrame): Map[Int, (Long, Long)] = {
    val cols = df.columns.toSeq.filter(_ != "__tag").map(col)
    df.groupBy("__tag").agg(count(lit(1)), sum(Fingerprint.rowDigest(cols)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
  }
}

/** Per-request planning time and rows read, taken synchronously from the
  * collected query (so concurrent clients never mix their numbers). */
object ServeStats {
  private val planMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  private val readPerResult = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  def record(df: DataFrame, results: Int): Unit = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val qe = df.queryExecution
    planMs.add(qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    val helper = new AdaptiveSparkPlanHelper {}
    val read = helper.collectWithSubqueries(qe.executedPlan) {
      case p if p.children.isEmpty => p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    readPerResult.add(read.toDouble / math.max(1, results))
  }

  def planMsSamples: Seq[Double] = planMs.toArray.toSeq.map(_.asInstanceOf[java.lang.Double].doubleValue)
  def readSamples: Seq[Double] = readPerResult.toArray.toSeq.map(_.asInstanceOf[java.lang.Double].doubleValue)
}
