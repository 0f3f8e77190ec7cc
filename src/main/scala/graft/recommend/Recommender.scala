package graft.recommend

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.silver.Pipelines

/** The reference's hybrid recommender (C# in-memory LINQ dataflow,
  * MusicRecommendationService/Services/RecommendationService.cs:20–102),
  * re-derived as one declarative DataFrame program (SURVEY.md §7.1 item 4):
  *
  *   union of four candidate sources (playlist similarity and CF probed by
  *   the user's likes J7, social 1-hop J8, trending J9) → one group-by
  *   track_id → one fixed-order weighted expression (A7) → anti-join liked
  *   (J6) → deterministic top-k (T4).
  *
  * Like the C# accumulator (`ApplyScores`, RecommendationService.cs:50–59),
  * every track is scored in ONE pass. The four sources are unioned as
  * `(track_id, sim, cf, social, pc)` rows — each row fills only its own
  * source's column — and a single aggregate per track takes `sum` of each
  * source column and `max(pc)`. The score is then
  *   `sim*0.6 + cf*1.5 + social*0.5 + (pc / max_pc)*0.2`
  * as ONE left-to-right expression, with `max_pc` the global trending max
  * attached as a broadcast one-row aggregate. The result is bit-identical
  * to merging four separately aggregated frames, whatever the partial-
  * aggregation order: each per-source sum is an exact integer held in its
  * own column (never a sum of weighted doubles), and trending contributes
  * a single division. Duplicate like rows and duplicate follow edges count
  * once per row, as in a plain join: the user's likes and followees are
  * joined as raw broadcast rows, never collected to the driver.
  *
  * Input contract (what every silver builder produces): track ids are
  * non-null, similarity scores are integral, and trending has one row per
  * `track_id`.
  *
  * Weights default to the reference's RecommendationSettings.cs:11–14
  * (Similarity 0.6 / Trending 0.2 / Social 0.5 / CF 1.5). Tie-breaking is
  * unspecified in the C# dictionary ordering — we define score desc,
  * track_id asc (SURVEY.md §7.5 item 1).
  *
  * Scale: one hash exchange (the per-track aggregate); the per-user like
  * set, followee set and trending max are broadcast, so no source is
  * sort-merge joined and nothing is materialized while the plan is built.
  * A request runs five Spark jobs: two broadcasts (one like set serves
  * both similarity probes and the anti-join), the trending max, the
  * aggregate's shuffle stage and the top-k.
  */
object Recommender {

  final case class Weights(similarity: Double = 0.6, trending: Double = 0.2,
                           social: Double = 0.5, cf: Double = 1.5)

  /** Full hybrid scorer for one user. All four model inputs arrive
    * pre-computed (they are silver tables in the reference architecture);
    * `likes` is the bronze-derived like set.
    *
    * Deliberate divergence from the reference surface: the C# endpoint
    * early-returns an EMPTY list when the user has no liked tracks
    * (RecommendationService.cs:43–47); this scorer still emits
    * trending/social-scored candidates for a likeless user. That is the
    * more useful cold-start behavior and is what the registered oracle
    * encodes — documented here rather than silently differing (ADVICE r1).
    */
  def recommend(playlistSim: DataFrame, cfSim: DataFrame, trendingDf: DataFrame,
                followsDf: DataFrame, likesDf: DataFrame, userId: Long,
                k: Int = 5, w: Weights = Weights()): DataFrame =
    recommendSym(Pipelines.symmetrize(playlistSim), Pipelines.symmetrize(cfSim),
      trendingDf, followsDf, likesDf, userId, k, w)

  /** [[recommend]] over ALREADY-SYMMETRIC similarity tables. The serving
    * path feeds this from [[Pipelines.cooccurrenceProbedSym]], whose output
    * is probe-anchored in one pass — calling the canonical-pair overload
    * there would symmetrize an uncached probed pipeline and execute it
    * twice (VERDICT r2 "what's wrong" #2).
    */
  def recommendSym(symPlaylistSim: DataFrame, symCfSim: DataFrame,
                   trendingDf: DataFrame, followsDf: DataFrame,
                   likesDf: DataFrame, userId: Long,
                   k: Int = 5, w: Weights = Weights()): DataFrame = {
    val userLikes = broadcast(likesDf.filter(col("user_id") === userId).select("track_id"))
    // neighbors of each liked track (RecommendationService.cs:63–65, :134–144);
    // renaming the probe side, not the like set, keeps one like-set broadcast
    def neighbors(symSim: DataFrame, source: String): DataFrame =
      symSim.withColumnRenamed("track_id_1", "track_id").join(userLikes, "track_id")
        .select(col("track_id_2").as("track_id"), col("score").as(source))
    // tracks liked by followed users (RecommendationService.cs:76–83)
    val followees = broadcast(followsDf.filter(col("user_id_a") === userId)
      .select(col("user_id_b").as("user_id")))
    val candidates = Seq(
        neighbors(symPlaylistSim, "sim"),
        neighbors(symCfSim, "cf"),
        likesDf.join(followees, "user_id").select(col("track_id"), lit(1L).as("social")),
        trendingDf.select(col("track_id"), col("play_count").as("pc")))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    // trending normalized by the global max (RecommendationService.cs:86–93);
    // trending has one row per track, so one task reads its play counts and
    // the request skips the shuffle stage a two-phase max would add
    val maxPc = broadcast(trendingDf.coalesce(1).agg(max(col("play_count")).as("max_pc")))
    def term(score: Column, weight: Double): Column = coalesce(score, lit(0d)) * weight

    candidates.groupBy("track_id")
      .agg(sum("sim").as("sim"), sum("cf").as("cf"), sum("social").as("social"),
        max("pc").as("pc"))
      .crossJoin(maxPc)
      .select(col("track_id"),
        (term(col("sim").cast("double"), w.similarity)
          + term(col("cf").cast("double"), w.cf)
          + term(col("social").cast("double"), w.social)
          + term(col("pc") / col("max_pc"), w.trending)).as("score"))
      .join(userLikes, Seq("track_id"), "left_anti")
      .orderBy(col("score").desc, col("track_id").asc)
      .limit(k)
  }
}
