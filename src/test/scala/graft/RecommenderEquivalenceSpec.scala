package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.recommend.Recommender
import graft.silver.Pipelines

/** The four-aggregate / full-outer-merge formulation of the hybrid scorer,
  * kept as a reference: each source aggregated to (track, score) on its
  * own, merged with three full-outer joins on track_id, then the same
  * fixed-order weighted expression, anti-join and top-k.
  */
object FourWayMergeRecommender {
  def recommendSym(symPlaylistSim: DataFrame, symCfSim: DataFrame,
                   trendingDf: DataFrame, followsDf: DataFrame,
                   likesDf: DataFrame, userId: Long, k: Int,
                   w: Recommender.Weights = Recommender.Weights()): DataFrame = {
    val userLikes = likesDf.filter(col("user_id") === userId).select("track_id")
    def neighbors(symSim: DataFrame, name: String) =
      symSim.join(userLikes.select(col("track_id").as("track_id_1")), Seq("track_id_1"))
        .groupBy(col("track_id_2").as("track_id"))
        .agg(sum(col("score")).cast("double").as(name))
    val social = followsDf.filter(col("user_id_a") === userId)
      .join(likesDf, col("user_id_b") === col("user_id"))
      .groupBy("track_id")
      .agg(count(lit(1)).cast("double").as("social_score"))
    val trend = Pipelines.normalizedTrending(trendingDf)
      .select(col("track_id"), col("norm_score").as("trend_score"))
    neighbors(symPlaylistSim, "sim_score")
      .join(neighbors(symCfSim, "cf_score"), Seq("track_id"), "full_outer")
      .join(social, Seq("track_id"), "full_outer")
      .join(trend, Seq("track_id"), "full_outer")
      .select(col("track_id"),
        (coalesce(col("sim_score"), lit(0d)) * w.similarity
          + coalesce(col("cf_score"), lit(0d)) * w.cf
          + coalesce(col("social_score"), lit(0d)) * w.social
          + coalesce(col("trend_score"), lit(0d)) * w.trending).as("score"))
      .join(userLikes, Seq("track_id"), "left_anti")
      .orderBy(col("score").desc, col("track_id").asc)
      .limit(k)
  }
}

/** The one-aggregate scorer returns exactly the reference formulation's
  * `(track_id, score)` rows — same order, same IEEE bits — on random
  * inputs that honor the scorer's contract (non-null track ids, integral
  * similarity scores, trending keyed by track_id): duplicate like rows,
  * duplicate follow edges, likeless users, empty sources, score ties and
  * `k` beyond the candidate count.
  */
class RecommenderEquivalenceSpec extends SparkTestBase {
  import spark.implicits._
  import RecommenderEquivalenceSpec.Inputs

  // small id ranges and re-appended prefixes on purpose: repeated
  // (user, track) likes and (a, b) follows, and many equal scores
  private val track = Gen.choose(1L, 12L)
  private val user = Gen.choose(1L, 3L)
  private val sim = Gen.listOf(Gen.zip(track, track, Gen.choose(1L, 3L)))
  private val inputs: Gen[Inputs] = for {
    playlist <- sim
    cf <- sim
    trendRaw <- Gen.listOf(Gen.zip(track, Gen.choose(1L, 4L)))
    follows <- Gen.listOf(Gen.zip(user, user))
    likes <- Gen.listOf(Gen.zip(user, track))
    u <- Gen.frequency(5 -> user, 1 -> Gen.const(6L)) // user 6 never likes or follows
    k <- Gen.oneOf(1, 3, 5, 40)
  } yield Inputs(playlist, cf, trendRaw.toMap.toList, follows ++ follows.take(3),
    likes ++ likes.take(3), u, k)

  private def scored(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))

  private def check(in: Inputs): Unit = {
    val playlist = in.playlist.toDF("track_id_1", "track_id_2", "score")
    val cf = in.cf.toDF("track_id_1", "track_id_2", "score")
    val trending = in.trending.toDF("track_id", "play_count")
    val follows = in.follows.toDF("user_id_a", "user_id_b")
    val likes = in.likes.toDF("user_id", "track_id")
    val got = scored(Recommender.recommendSym(playlist, cf, trending, follows, likes,
      in.user, in.k))
    val want = scored(FourWayMergeRecommender.recommendSym(playlist, cf, trending,
      follows, likes, in.user, in.k))
    assert(got == want, s"inputs: $in")
  }

  test("one aggregate == four aggregates + full-outer merge, bit for bit") {
    samples(inputs, n = 16).foreach(check)
  }

  test("edge shapes: empty sources, only trending, k beyond every candidate, rounding") {
    val likes = List((1L, 3L), (1L, 3L), (2L, 4L), (2L, 5L))
    val follows = List((1L, 2L), (1L, 2L))
    check(Inputs(Nil, Nil, Nil, Nil, Nil, 1L, 5))
    check(Inputs(Nil, Nil, List((7L, 2L), (8L, 2L), (9L, 1L)), Nil, Nil, 1L, 2))
    check(Inputs(List((3L, 6L, 2L), (3L, 6L, 2L)), List((3L, 7L, 1L)),
      List((6L, 3L), (7L, 3L), (4L, 1L)), follows, likes, 1L, 100))
    check(Inputs(List((3L, 6L, 2L)), Nil, Nil, follows, likes, 9L, 100))
    // track 9: 0.6·(1+3+3) + 0.2·(1/3) = 4.266666666666667, while adding
    // the weighted rows one by one rounds to 4.266666666666666
    check(Inputs(List((1L, 9L, 1L), (2L, 9L, 3L), (3L, 9L, 3L)), Nil,
      List((9L, 1L), (5L, 3L)), Nil, List((1L, 1L), (1L, 2L), (1L, 3L)), 1L, 5))
  }
}

object RecommenderEquivalenceSpec {
  final case class Inputs(playlist: List[(Long, Long, Long)],
                          cf: List[(Long, Long, Long)],
                          trending: List[(Long, Long)],
                          follows: List[(Long, Long)],
                          likes: List[(Long, Long)],
                          user: Long, k: Int)
}
