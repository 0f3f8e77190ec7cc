package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.silver.Pipelines
import graft.recommend.{ContentBased, Recommender}
import graft.streaming.{StreamAgg, StreamIngest}
import graft.ingest.{Ingest, Shards, Snapshot}
import graft.quality.Quality
import graft.analytics.Incremental
import graft.text.{Dedup, TextStats}
import graft.vector.Similarity
import graft.multimodal.Multimodal

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Every operator family from SURVEY.md §2 is exposed as a named query with
  * a DuckDB-equivalent oracle in [[oracleSql]]. Determinism rules applied
  * throughout (SURVEY.md §5 item 1, §7.5 items 1–2):
  *   - time anchors derive from `max(time col)`, never `current_date()`;
  *   - every sort carries a unique tie-break key;
  *   - double aggregates are rounded at the output boundary;
  *   - additions whose operand order differs between engines are written as
  *     fixed-order expressions (see `q15_hybrid_recommend`);
  *   - integer-valued results are cast to BIGINT on both sides.
  */
object SparkEntry {

  /** Hybrid-recommender user probed by q15/q13-style single-user paths;
    * exists at every scale factor (custkey range starts at 0). */
  val DemoUser = 7L

  /** Track probed by the single-model endpoints (q33/q34); partkeys start
    * at 0, so it exists at every scale factor. */
  val DemoTrack = 1L

  /** Embedding width of the test fixture (TESTDATA.md). The operators
    * derive it at runtime (Similarity.vecDim); the q29 oracle needs it
    * STATICALLY to embed plane literals of the right length — one shared
    * constant instead of a magic 64 inside the SQL builder. */
  val EmbeddingDim = 64

  /** Shared staging for the streaming queries (q50/q58/q64): events as
    * JSON lines with timestamps as epoch-µs longs (JSON timestamp
    * parsing is millisecond-bounded and would shift µs-precision
    * boundary events). */
  private def stageEventsJson(s: SparkSession, dir: String, base: String,
                              doubled: Boolean = false,
                              sentinels: Boolean = false): Unit = {
    import s.implicits._
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value"))
    // far-future sentinel rows (user_id −1, filtered from results) on
    // BOTH streams of a two-stream consumer: the global watermark is the
    // MIN across inputs, and outer joins / final-state flushes only emit
    // rows the watermark has passed — the sentinels push it past every
    // real event so the bounded-run output is exactly the batch oracle's
    val withSentinels =
      if (!sentinels) ev
      else {
        // empty-source guard (ADVICE r4): max() over zero rows is NULL —
        // getLong would throw and turn "no events" into a staging error
        // instead of the empty aggregate the oracle returns. Any anchor
        // works for an empty stream (there is nothing to flush past).
        val maxRow = ev.agg(max(col("ts_us"))).head()
        val far = (if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)) + 86400000000L
        ev.unionByName(Seq(
          (-1L, -1L, "click", far, 0.0),
          (-2L, -1L, "view", far, 0.0))
          .toDF("event_id", "user_id", "event_type", "ts_us", "value"))
      }
    (if (doubled) withSentinels.unionByName(withSentinels) else withSentinels)
      .select(to_json(struct(col("event_id"), col("user_id"),
        col("event_type"), col("ts_us"), col("value"))).as("value"))
      // ONE staged file: the watermarked consumers (q50/q64) tolerate no
      // batch splits — if the file source ever put a late event's every
      // copy in a later micro-batch than one that advanced the watermark
      // past it, the row would be dropped and the oracle gate would fail.
      // One file ⇒ one AvailableNow batch ⇒ watermark advances only after
      // all data is in state. (Fixture-sized data; a production stream
      // sets the watermark delay from the real disorder bound instead.)
      .coalesce(1)
      .write.mode("overwrite").text(s"$base/in")
  }

  private def T(s: SparkSession, dir: String, name: String) = name match {
    case "events" => Tables.events(s, dir) // ns→µs ts normalization
    case _        => Tables.load(s, dir, name)
  }

  /** Per-query scratch dirs: one FIXED path per (JVM, name), wiped and
    * recreated per call (bench repeats overwrite instead of
    * accumulating), removed on JVM exit. Queries that write real files
    * (q124's jsonl roundtrip, q131's saved catalog tables) return
    * frames that read those files LAZILY, so the dir can't be deleted
    * inside the query — and a fresh createTempDirectory per call would
    * litter /tmp across bench repeats (VERDICT r6 nit).
    */
  private val scratchHooks =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def scratch(name: String): String = {
    val p = scratchHooks.getOrElseUpdate(name, {
      val path = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_scratch_$name")
      sys.addShutdownHook(deleteRecursively(path))
      path
    })
    deleteRecursively(p)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Exception-chain messages — fail-loud gates assert on the message
    * of whatever layer Spark wrapped the refusal in. */
  private def errorChain(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e =>
      Option(e.getMessage).toSeq ++ errorChain(e.getCause))

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q15_hybrid_recommend")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1-style multi-aggregate pricing summary (agg family §2.4)
    // Money columns are summed as exact integer cents (round(x*10^k) of a
    // k-decimal value is boundary-free) then scaled back — double sums
    // would differ between engines in the low bits and engine rounding
    // modes differ exactly at the .xx5 boundaries a decimal sum can hit.
    "q1_pricing_summary" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100, 0).cast("long")) / 100.0).as("sum_price"),
          (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000, 0)
            .cast("long")) / 10000.0).as("sum_disc_price"),
          // round() on BOTH sides before the BIGINT cast — Spark's bare
          // cast truncates while DuckDB's :: rounds, which diverges the
          // moment a fractional quantity appears (ADVICE r1).
          (round(sum(col("l_quantity"))).cast("long") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // P1–P3: projection + rename + derived column + equality/range filter
    "q2_filter_project" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") >= 30)
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          // raw product, NOT rounded: same operands in the same order give
          // bit-identical doubles in any IEEE-754 engine
          (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("net_price"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // J3: fact→dim join chain with broadcast dims
    "q3_fact_dim_join" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100, 0).cast("long")) / 100.0).as("revenue"))
        .orderBy(col("n_name"))
    }),

    // T1/T2: trending top-k with deterministic tie-break (flagship silver)
    "q4_topk_trending" -> ((s, dir) =>
      Pipelines.trending(T(s, dir, "lineitem"), T(s, dir, "part"), days = 30)
        .limit(10)),

    // P7: distinct like-pairs (the pre-join dedup the reference relies on)
    "q5_distinct_pairs" -> ((s, dir) =>
      Pipelines.likes(T(s, dir, "orders"), T(s, dir, "lineitem"))
        .orderBy(col("user_id"), col("track_id"))),

    // P4: range predicate anchored at max(ts), grouped event stats
    "q6_recent_window" -> ((s, dir) =>
      Pipelines.recentWindow(T(s, dir, "events"), "ts", days = 7)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))),

    // U1: union + distinct of both sides of the similarity pair table.
    // Plan note: a track appears in some canonical pair iff one of its
    // playlists holds ≥2 distinct tracks — so the membership answer needs
    // a playlist-size aggregate and a semi-join, never the quadratic pair
    // materialization the oracle SQL spells out. Same result set, linear
    // plan (the oracle keeps the literal union-of-pair-sides definition).
    "q7_union_distinct" -> ((s, dir) => {
      val plt = Pipelines.playlistTracks(T(s, dir, "lineitem"))
      val multi = plt.groupBy("playlist_id")
        .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
        .select("playlist_id")
      plt.join(multi, Seq("playlist_id"), "left_semi")
        .select(col("track_id")).distinct()
        .orderBy(col("track_id"))
    }),

    // J5 + P6: left outer join with null-fill (likes analysis)
    "q8_left_join_fill" -> ((s, dir) => {
      val likes = Pipelines.likes(T(s, dir, "orders"), T(s, dir, "lineitem"))
      val sim = Pipelines.playlistSimilarity(T(s, dir, "lineitem"))
        .filter(col("score") >= 2)
      Pipelines.likesAnalysis(likes, sim).orderBy(col("user_id"))
    }),

    // J6: anti-join — parts with no listen in the last 30 days
    "q9_anti_join" -> ((s, dir) => {
      val recent = Pipelines.recentWindow(T(s, dir, "lineitem"), "l_shipdate", 30)
        .select(col("l_partkey").as("p_partkey"))
      T(s, dir, "part").join(recent, Seq("p_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    }),

    // J4: semi-join — customers having at least one big order
    "q10_semi_join" -> ((s, dir) => {
      val big = T(s, dir, "orders").filter(col("o_totalprice") > 400)
        .select(col("o_custkey").as("c_custkey"))
      T(s, dir, "customer").join(big, Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // J1 + A2: playlist co-occurrence (canonical t1<t2 self-join)
    "q11_cooccurrence" -> ((s, dir) =>
      Pipelines.playlistSimilarity(T(s, dir, "lineitem"))
        .filter(col("score") >= 2)
        .orderBy(col("track_id_1"), col("track_id_2"))),

    // J2 + A2 + A5: collaborative-filtering pairs over distinct likes
    "q12_collab_pairs" -> ((s, dir) =>
      Pipelines.collaborativeFiltering(
        Pipelines.likes(T(s, dir, "orders"), T(s, dir, "lineitem")))
        .filter(col("score") >= 3)
        .orderBy(col("track_id_1"), col("track_id_2"))),

    // J8: social 1-hop — per-user count of distinct followee-liked tracks
    "q13_social_onehop" -> ((s, dir) => {
      val likes = Pipelines.likes(T(s, dir, "orders"), T(s, dir, "lineitem"))
      Pipelines.follows(T(s, dir, "customer"))
        .join(likes, col("user_id_b") === col("user_id"))
        .groupBy(col("user_id_a"))
        .agg(countDistinct(col("track_id")).as("n_social_tracks"))
        .orderBy(col("user_id_a"))
    }),

    // J9: normalized trending (global-max normalization via empty window)
    "q14_trending_normalized" -> ((s, dir) =>
      Pipelines.normalizedTrending(
        Pipelines.trending(T(s, dir, "lineitem"), T(s, dir, "part"), 30))
        .select(col("track_id"), col("play_count"), col("norm_score"))
        .orderBy(col("track_id"))),

    // Flagship: full hybrid recommender for DemoUser (§3.3 / §7.1 item 4).
    // `likes` feeds four consumers (cfSim, userLikes, social, anti-join) —
    // cached, mirroring the reference's reused-table cache (S13,
    // MinioService.cs:37–57). The similarity inputs use the PROBED pair
    // generator: only pairs touching the user's like-set can contribute to
    // the score join, so the full quadratic similarity tables are never
    // materialized for a single-user query (scores for surviving pairs are
    // identical — the oracle computes them from the full tables).
    "q15_hybrid_recommend" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      // localCheckpoint (not cache): materialized once for its four
      // consumers, GC'd with the query — no session-lifetime cache pin
      val likes = Pipelines.likes(T(s, dir, "orders"), li).localCheckpoint()
      val userLikes = likes.filter(col("user_id") === DemoUser).select("track_id")
      Recommender.recommendSym(
        symPlaylistSim = Pipelines.cooccurrenceProbedSym(
          Pipelines.playlistTracks(li), "playlist_id", "track_id", userLikes),
        symCfSim = Pipelines.cooccurrenceProbedSym(
          likes, "user_id", "track_id", userLikes),
        trendingDf = Pipelines.trending(li, T(s, dir, "part"), 30),
        followsDf = Pipelines.follows(T(s, dir, "customer")),
        likesDf = likes,
        userId = DemoUser, k = 5)
    }),

    // §2.5 extension: ranked window — top-3 tracks per brand by play_count
    "q16_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Pipelines.recentWindow(T(s, dir, "lineitem"), "l_shipdate", 30)
        .groupBy(col("l_partkey").as("track_id"))
        .agg(count(lit(1)).as("play_count"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("play_count").desc, col("track_id").asc)
      // projected dim, no broadcast hint: AQE is the size guard
      counts.join(T(s, dir, "part")
          .select(col("p_partkey").as("track_id"), col("p_brand")), Seq("track_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("rn"), col("track_id"), col("play_count"))
        .orderBy(col("p_brand"), col("rn"))
    }),

    // Rollup aggregate with grouping markers (no NULL sort keys)
    "q17_rollup" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          // grouping() is only legal inside the rollup's agg list
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
            .cast("long").as("grp"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("grp"), col("n"), col("sum_qty"))
        .orderBy(col("grp"), col("returnflag"), col("linestatus"))),

    // P2/§2.8: date-part derivation (year/month) + grouped revenue
    "q18_date_parts" -> ((s, dir) =>
      T(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"),
          col("o_totalprice"))
        .groupBy(col("o_year"), col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_year"), col("o_month"))),

    // §2.8: scalar string functions (upper/substr/length/concat)
    "q19_scalar_strings" -> ((s, dir) =>
      T(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_uc"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy(col("p_partkey"))),

    // S15: SQL-over-path surface (Thrift/Grafana shape, SURVEY §3.4)
    "q20_sql_surface" -> ((s, dir) =>
      s.sql(
        s"""SELECT l_returnflag, count(*) AS n
           |FROM parquet.`$dir/lineitem.parquet`
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // S6–S10: the streaming parse-and-persist job run end-to-end offline.
    // JSON lines shaped like the reference's Kafka payload are derived
    // deterministically from the events table, streamed through
    // from_json + flatten into a checkpointed parquet sink
    // (Trigger.AvailableNow), and the SINK is read back and aggregated —
    // so the oracle checks the full source→parse→persist path.
    "q21_stream_ingest" -> ((s, dir) => {
      val base = scratch("q21")
      Tables.events(s, dir).select(to_json(struct(
          col("user_id").as("requestedUserId"),
          array((col("event_id") % 100).cast("int"),
            (col("event_id") % 97).cast("int")).as("recommendations"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("timestamp")))
          .as("value"))
        .write.mode("overwrite").text(s"$base/in")
      val sink = StreamIngest.runToCompletion(s,
        StreamIngest.EventSource.Files(s"$base/in"),
        s"$base/sink", s"$base/ckpt")
      sink.groupBy(col("requestedUserId").as("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("aggregate(recommendations, 0L, (a, x) -> a + x)")).as("rec_sum"),
          max(col("timestamp")).as("last_ts"),
          // §2.8 to_timestamp: ISO-8601 string → timestamp → formatted
          date_format(min(to_timestamp(col("timestamp"))),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_ts"),
          countDistinct(col("event_date")).as("n_days"))
        .orderBy(col("user_id"))
    }),

    // S1+S3+S4: batch ingest round-trip — orders → landing CSV →
    // schema-enforced scan (FAILFAST, declared schema, assertSchema) →
    // partitioned versioned overwrite + pinned-schema append → read back
    // → partition-filtered aggregate. The oracle runs over the ORIGINAL
    // parquet, so any corruption in the CSV/partition round-trip fails
    // the gate.
    "q22_ingest_roundtrip" -> ((s, dir) => {
      val base = scratch("q22")
      Ingest.writeCsv(Tables.orders(s, dir), s"$base/landing")
      val raw = Tables.assertSchema(
        Ingest.readCsv(s, s"$base/landing", Tables.schemas("orders")), "orders")
      val loaded = raw
        .withColumn("o_date", to_date(col("o_orderdate"))) // §2.8 to_date
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("o_month", month(col("o_orderdate")))
      // deterministic initial/incremental split exercising both writers
      graft.ingest.Versioned.overwrite(loaded.filter(col("o_orderkey") % 10 =!= 0),
        s"$base/bronze", partitionBy = Seq("o_year", "o_month"))
      graft.ingest.Versioned.append(loaded.filter(col("o_orderkey") % 10 === 0),
        s"$base/bronze")
      graft.ingest.Versioned.read(s, s"$base/bronze")
        .filter(col("o_year") >= 1996)
        .groupBy(col("o_year").cast("long").as("o_year"),
          col("o_month").cast("long").as("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_date")).as("n_days"),
          (sum(round(col("o_totalprice") * 100, 0).cast("long")) / 100.0).as("revenue"))
        .orderBy(col("o_year"), col("o_month"))
    }),

    // Quality gate (§5 item 4): the corrected GE suite evaluated in one
    // aggregate pass over events; every check's violation count is
    // independently recomputed by the oracle.
    "q23_quality_gate" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Quality.run(ev, Quality.eventsSuite(ev))
    }),

    // Corpus-ingest gate: the documents suite (the checks an LLM data
    // pipeline runs before dedup/scoring touches a batch), one aggregate
    // pass; the oracle recomputes every violation count.
    "q49_documents_quality" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Quality.run(d, Quality.documentsSuite(d))
    }),

    // Embedding-cosine near-dup pairs (the fifth dedup tier) at the
    // PRODUCTION operating point (θ=0.95, 8 bands × 8 planes — bounded
    // buckets; a low threshold would force near-all-pairs buckets, which
    // is exactly what LSH exists to avoid). The corpus has no
    // near-identical vectors (max cosine ≈ 0.6), so near-dups are
    // PLANTED deterministically: docs 0–19 reappear with id+10⁶ and the
    // first component shifted +0.01 — cosine ≈ 0.9999, where an 8-plane
    // band agrees with probability 0.9955⁸ ≈ 0.96 and all 8 bands miss
    // with probability (1−0.96)⁸ ≈ 10⁻¹¹. The oracle replays the
    // planting (pure double arithmetic, identical on both engines) and
    // verifies with a brute-force cross join.
    "q48_embedding_neardup" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      val planted = base.filter(col("vec_id") < 20)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          expr("concat(array(embedding[0] + 0.01d), slice(embedding, 2, size(embedding) - 1))")
            .as("embedding"))
      Similarity.embeddingNearDup(base.unionByName(planted), threshold = 0.95)
        .orderBy(col("vec_id_1"), col("vec_id_2"))
    }),

    // ---- LLM-data-pipeline operators over documents / embeddings ----

    // Exact dedup: content-hash groupBy, deterministic keep-first.
    "q24_exact_dedup" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir))
        .orderBy(col("keep_doc_id"))),

    // Exact n-gram (3-shingle) Jaccard near-dup pairs via inverted index —
    // candidates only ever pair within a shingle bucket.
    "q25_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir), n = 3, threshold = 0.4)
        .orderBy(col("doc_id_1"), col("doc_id_2"))),

    // MinHash + banded LSH candidates, exact-Jaccard-verified. Shares the
    // exact oracle: with b=32/r=2 the detection probability at the
    // planted-duplicate Jaccard level (≥0.6 in this corpus; nothing lives
    // in [0.2, 0.6)) is 1 − (1 − J²)³² ≥ 1 − 10⁻⁶.
    "q26_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir), n = 3, bands = 32, rows = 2,
        threshold = 0.4)
        .orderBy(col("doc_id_1"), col("doc_id_2"))),

    // SimHash fingerprints + pigeonhole-banded Hamming pairs. The token
    // hash is the md5-derived 60-bit form (Dedup.SimhashBits) precisely
    // so the ORACLE can recompute every fingerprint — pigeonhole banding
    // is lossless, so the banded pair set must equal the oracle's
    // brute-force hamming ≤ 3 pair set bit-for-bit.
    "q27_simhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.simhashPairs(docs, maxHamming = 3)
        .orderBy(col("doc_id_1"), col("doc_id_2"))
    }),

    // Exact brute-force cosine top-k via the bounded-heap Aggregator —
    // the ANN correctness baseline.
    "q28_ann_cosine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopK(s, emb, emb.filter(col("vec_id") < 5), k = 10)
    }),

    // Sign-LSH bucketed ANN — the 100 TB path: deterministic hash-derived
    // hyperplanes, bucket-equi-join instead of cross product. The plane
    // components are interpolated into the oracle SQL as exact rational
    // literals (k/1000 − 1/2 — both engines perform the identical
    // correctly-rounded double ops), so the oracle rebuilds the SAME
    // buckets and the result is fully hash-checked.
    "q29_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(s, emb, emb.filter(col("vec_id") < 5), k = 10, nbits = 4)
    }),

    // Text profile: token counting, quality scoring, language-ID
    // heuristic, whitespace-canonical md5 fingerprint — one projection
    // pass, every value recomputed by the oracle.
    "q30_text_stats" -> ((s, dir) =>
      TextStats.profile(Tables.documents(s, dir))
        .orderBy(col("doc_id"))),

    // Multimodal plumbing: binary payload + typed metadata →
    // per-partition (stub) codec → fixed-width features → relational
    // profile. The oracle recomputes the byte-level checksums from the
    // source text.
    "q31_multimodal" -> ((s, dir) =>
      Multimodal.profileBySource(
        Multimodal.extractFeatures(
          Multimodal.toMedia(s, Tables.documents(s, dir))))),

    // Resize + frame-sample plumbing (the 1:1 and 1:N multimodal batch
    // shapes): payloads truncated to 64 bytes, 16-byte frames every 16
    // bytes, per-doc frame statistics. The corpus is pure ASCII (char ==
    // byte, asserted by the oracle matching), so DuckDB replays the byte
    // arithmetic with substr/ord.
    "q100_frame_sample" -> ((s, dir) => {
      val media = Multimodal.toMedia(s,
        Tables.documents(s, dir).filter(col("doc_id") < 50))
      Multimodal.sampleFrames(Multimodal.resizePayload(media, 64), 16, 16)
        .toDF()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("n_bytes")).as("total_bytes"),
          sum(col("head_byte")).as("head_sum"))
        .orderBy(col("doc_id"))
    }),

    // Set operators beyond the reference's union (§2.7 notes it has no
    // intersect/except): tracks listened in BOTH halves of the window vs
    // only the first half.
    "q44_set_ops" -> ((s, dir) => {
      val recent = Pipelines.recentWindow(T(s, dir, "lineitem"), "l_shipdate", 30)
      val older = Pipelines.recentWindow(T(s, dir, "lineitem"), "l_shipdate", 60)
        .exceptAll(recent).select(col("l_partkey"))
      val both = recent.select(col("l_partkey")).distinct()
        .intersect(older.distinct())
      val onlyRecent = recent.select(col("l_partkey")).distinct()
        .except(older.distinct())
      both.withColumn("category", lit("both"))
        .unionByName(onlyRecent.withColumn("category", lit("recent_only")))
        .select(col("category"), col("l_partkey").as("track_id"))
        .orderBy(col("category"), col("track_id"))
    }),

    // Pivot: event counts spread across type columns per user decile.
    "q45_pivot" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("user_decile", (col("user_id") % 10).cast("long"))
        .groupBy(col("user_decile"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
        .orderBy(col("user_decile"))),

    // Cube: all grouping-set combinations over two dimensions.
    "q46_cube" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
            .cast("long").as("grp"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("grp"), col("n"))
        .orderBy(col("grp"), col("returnflag"), col("linestatus"))),

    // Sketch aggregation: HyperLogLog distinct counts. The sketch is
    // order-independent (register-max merge), so the estimate is
    // deterministic; the oracle pins the EXACT count and asserts the
    // estimate lands within the envelope DERIVED from the rsd knob
    // (5σ·rsd — see operators/Sketches.scala, the envelope-oracle
    // pattern), checked per group.
    "q42_approx_distinct" -> ((s, dir) =>
      graft.operators.Sketches.distinctEnvelope(
          T(s, dir, "events"), "event_type", "user_id")
        .orderBy(col("event_type"))),

    // Exact interpolated percentiles per group — Spark's percentile and
    // the oracle's quantile_cont share linear-interpolation semantics.
    // SCALE NOTE: exact percentile buffers every group's values in the
    // aggregation buffer — fine for a bounded per-group cardinality,
    // an executor OOM at 100 TB. q47_approx_percentiles is the 100 TB
    // form (mergeable GK sketch, bounded memory); this exact variant
    // stays registered as the semantics pin.
    "q43_percentiles" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"),
          round(min(col("value")), 4).as("vmin"),
          round(max(col("value")), 4).as("vmax"))
        .orderBy(col("event_type"))),

    // Sketch percentiles: approx_percentile is a Greenwald–Khanna
    // quantile summary — constant memory per group, mergeable across
    // partials, so it scales where exact percentile (q43) cannot. Its
    // guarantee is on RANK error (≤ N/accuracy, here 0.1%) independent
    // of partial-merge order, so the oracle contract is the q42 envelope
    // pattern on ranks, with the band DERIVED from the accuracy knob
    // (±slackRanks/accuracy — operators/Sketches.scala): true for any
    // conforming sketch, regardless of value distribution, at any
    // accuracy setting. The exact columns exist to pin the oracle; a
    // production 100 TB run would emit only the sketch columns.
    "q47_approx_percentiles" -> ((s, dir) =>
      graft.operators.Sketches.percentileEnvelope(
          T(s, dir, "events"), "event_type", "value", qs = Seq(0.5, 0.95))
        .orderBy(col("event_type"))),

    // Capstone corpus pipeline: clean (PII redact + line dedup +
    // whitespace canonicalize) → profile → deterministic split →
    // per-(split, language) corpus statistics — the end-to-end
    // training-data flow as one declarative plan; the oracle replays
    // every stage. Quality scores aggregate as exact integer
    // ten-thousandths so partial-agg order can't wiggle low bits.
    "q41_corpus_pipeline" -> ((s, dir) => {
      val cleaned = graft.text.TextClean.clean(Tables.documents(s, dir))
      val prof = TextStats.profile(cleaned)
      val split = graft.text.Splits.assign(cleaned, "doc_id")
        .select(col("doc_id"), col("split"))
      prof.join(split, Seq("doc_id"))
        .groupBy(col("split"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(round(col("quality_score") * 10000).cast("long")) / 10000.0 /
            count(lit(1))).as("avg_quality"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("split"), col("lang_pred"))
    }),

    // Token-budget sequence packing (training-batch construction):
    // bucketed running-sum pack assignment, profiled per bucket. The
    // oracle replays the identical window arithmetic.
    "q40_budget_packing" -> ((s, dir) =>
      graft.text.Splits.packByBudget(Tables.documents(s, dir),
          idCol = "doc_id", weightCol = "n_chars", budget = 2000, buckets = 8)
        .groupBy(col("pack_bucket"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("pack_bucket"), col("pack_id"))),

    // Duplicate-cluster resolution: connected components over the exact
    // near-dup pair graph (iterative min-label propagation; the oracle
    // computes the same components with a recursive transitive closure).
    "q38_dedup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(
          Dedup.ngramJaccard(Tables.documents(s, dir), n = 3, threshold = 0.4))
        .orderBy(col("doc_id"))),

    // Stratified deterministic sampling by language — the training-
    // mixture construction op; every kept row is recomputed by the
    // oracle from the same md5-bucket rule.
    "q39_stratified_sample" -> ((s, dir) =>
      graft.text.Splits.sampleStratified(Tables.documents(s, dir),
          strataCol = "lang", keyCol = "doc_id",
          rates = Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.25, "zh" -> 0.25))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
        .orderBy(col("lang"))),

    // Temperature-rebalanced mixture (α = 0.5): rates derived from the
    // corpus's own language counts — sqrt is correctly rounded under
    // IEEE 754, so the rate and every keep/drop decision is bit-identical
    // to the oracle's recomputation. The largest language samples at 1.0;
    // low-resource languages are upweighted relative to proportional.
    "q56_temperature_mixture" -> ((s, dir) =>
      graft.text.Splits.sampleTemperatureHalf(Tables.documents(s, dir),
          strataCol = "lang", keyCol = "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_doc_id"))
        .orderBy(col("lang"))),

    // Deterministic train/val/test split over documents: md5-bucket
    // thresholds, a pure function of the row key — reproducible on any
    // cluster and stable as the corpus grows (unlike randomSplit). The
    // oracle recomputes every assignment.
    "q37_deterministic_split" -> ((s, dir) =>
      graft.text.Splits.assign(Tables.documents(s, dir), "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
        .orderBy(col("split"))),

    // §2.8 JSON functions over the events.props payload column:
    // get_json_object extraction + typed aggregation (the batch sibling
    // of the streaming from_json decode).
    "q36_json_props" -> ((s, dir) =>
      T(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"), col("k_bucket"))),

    // IVF ANN: deterministic centroid cells + nProbe probing, exact
    // scoring inside probed cells. The oracle replays the identical
    // algorithm (same centroids, same rounded-score tie-breaks), so this
    // checks the whole assignment → probe → score dataflow.
    "q35_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(s, emb, emb.filter(col("vec_id") < 5),
        k = 10, nCentroids = 16, nProbe = 4, trainIterations = 2)
    }),

    // Serving endpoint /recommendations/similar/{trackId}
    // (RecommendationService.cs:104–152): symmetrized playlist-similarity
    // lookup for one track, top-5. Uses the probed pair generator — for a
    // one-track probe the full similarity table never materializes.
    "q33_similar_tracks" -> ((s, dir) => {
      val probe = s.range(DemoTrack, DemoTrack + 1).select(col("id").as("track_id"))
      Pipelines.cooccurrenceProbedSym(
          Pipelines.playlistTracks(T(s, dir, "lineitem")), "playlist_id", "track_id", probe)
        .filter(col("track_id_1") === DemoTrack)
        .groupBy(col("track_id_2").as("track_id"))
        .agg(sum(col("score")).as("score"))
        .orderBy(col("score").desc, col("track_id").asc)
        .limit(5)
    }),

    // Serving endpoint /recommendations/collaborative/{trackId}
    // (RecommendationService.cs:175–223): same probe over the CF pairs.
    "q34_collab_similar" -> ((s, dir) => {
      val probe = s.range(DemoTrack, DemoTrack + 1).select(col("id").as("track_id"))
      val likes = Pipelines.likes(T(s, dir, "orders"), T(s, dir, "lineitem"))
      Pipelines.cooccurrenceProbedSym(likes, "user_id", "track_id", probe)
        .filter(col("track_id_1") === DemoTrack)
        .groupBy(col("track_id_2").as("track_id"))
        .agg(sum(col("score")).as("score"))
        .orderBy(col("score").desc, col("track_id").asc)
        .limit(5)
    }),

    // §2.9 beyond-reference: watermarked event-time tumbling-window
    // aggregation in append mode, run to completion over a bounded file
    // source. A sentinel event 30 days past max(ts) pushes the final
    // watermark beyond every real window, so exactly the real windows are
    // emitted — deterministic despite append-mode semantics. Timestamps
    // travel as epoch-µs longs to dodge JSON millisecond truncation.
    "q32_stream_window" -> ((s, dir) => {
      val base = scratch("q32")
      val ev = Tables.events(s, dir)
      val sentinel = ev.agg(max(col("ts")).as("mx"))
        .select(lit(0L).as("user_id"), lit("__sentinel").as("event_type"),
          (unix_micros(col("mx")) + lit(30L * 86400L * 1000000L)).as("ts_us"),
          lit(0.0).as("value"))
      ev.select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .unionByName(sentinel)
        .select(to_json(struct(col("user_id"), col("event_type"),
          col("ts_us"), col("value"))).as("value"))
        // one file ⇒ one micro-batch: the sentinel must not be processed
        // in an earlier batch than any real event, or the advanced
        // watermark drops them as late (see stageEventsJson)
        .coalesce(1)
        .write.mode("overwrite").text(s"$base/in")
      StreamIngest.runBounded(
          StreamAgg.windowedCounts(StreamIngest.events(s, s"$base/in"),
            windowLength = "1 day", watermarkDelay = "1 minute"),
          s"$base/sink", s"$base/ckpt",
          // ~600 (day, type) windows: 8 state stores, not the batch
          // shuffle default of 32 — each store commits files per batch
          statePartitions = Some(8)).sink
        .select(date_format(col("window_start"), "yyyy-MM-dd").as("window_day"),
          col("event_type"), col("n"), round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("window_day"), col("event_type"))
    }),

    // §2.9 beyond-reference: streaming deduplication. The event stream is
    // redelivered in full (every event TWICE — the at-least-once shape);
    // dropDuplicatesWithinWatermark keeps one row per event_id with state
    // bounded by the watermark. The read-back aggregate matches the
    // DISTINCT batch oracle, and n == n_distinct per group proves exactly
    // one copy survived. Money-style exact integer sums keep the value
    // aggregation order-independent.
    "q50_stream_dedup" -> ((s, dir) => {
      val base = scratch("q50")
      stageEventsJson(s, dir, base, doubled = true)
      StreamIngest.runBounded(StreamAgg.dedupedEvents(StreamIngest.events(s, s"$base/in")),
          s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_distinct"),
          (sum(round(col("value") * 10000, 0).cast("long")) / 10000.0).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // As-of (point-in-time) join: every event is enriched with the
    // user's most recent order state at the event's date — the
    // feature-store temporal-correctness primitive. Versions are
    // pre-aggregated to one row per (user, date) (the operator's
    // uniqueness contract); the oracle is DuckDB's NATIVE ASOF LEFT
    // JOIN, so two independent as-of implementations must agree row
    // count, match count, and matched-value sum per event type.
    "q52_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("ev_date"), col("event_type"))
      val vers = Tables.orders(s, dir)
        .select(col("o_custkey").as("user_id"),
          to_date(col("o_orderdate")).as("v_date"), col("o_totalprice"))
        .groupBy(col("user_id"), col("v_date"))
        .agg(max(round(col("o_totalprice") * 100, 0).cast("long")).as("price_cents"))
      graft.operators.AsOfJoin.backward(ev, vers, "user_id", "ev_date", "v_date")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("price_cents").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          (sum(coalesce(col("price_cents"), lit(0L))) / 100.0).as("matched_price"))
        .orderBy(col("event_type"))
    }),

    // Corpus statistics: exact top-k 3-gram document frequencies (the
    // heavy-hitters pass a training-data pipeline runs to find boilerplate
    // shingles worth stripping). One shuffle of the inverted shingle
    // index with map-side partial counts — hot shingles combine before
    // the wire — then TakeOrdered for the top-k; ties are totally ordered
    // by (count desc, shingle asc).
    "q51_top_ngrams" -> ((s, dir) =>
      Dedup.shingleIndex(Tables.documents(s, dir), n = 3)
        .groupBy(col("shingle"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("shingle").asc)
        .limit(20)),

    // BPE-ish token counting: the GPT-2 pretokenizer regex (contractions,
    // space-prefixed letter/digit/symbol runs, whitespace runs) without
    // the trailing-space lookahead — RE2 (the oracle's engine) supports
    // no lookarounds, and both engines share leftmost-first alternation.
    // Whitespace is the EXPLICIT class [ \t\n\r\f], not \s: Java's \s
    // includes vertical tab where RE2's does not, and the explicit class
    // is the same set in both engines, so counts agree on ANY input.
    // The whitespace count rides along as the cheap lower bound a
    // budgeter would sanity-check against.
    "q59_bpe_tokens" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("lang"),
          regexp_count(col("text"),
            lit("'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+|[ \\t\\n\\r\\f]+"))
            .cast("long").as("n_bpe"),
          size(split(col("text"), "[ \\t\\n\\r\\f]+")).cast("long").as("n_ws"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe")).as("total_bpe_tokens"),
          sum(col("n_ws")).as("total_ws_tokens"))
        .orderBy(col("lang"))),

    // §2.9 stream-static enrichment: the event stream joined against the
    // static customer dimension inside the stream (stateless, broadcast
    // per micro-batch), persisted, and aggregated per nation. The oracle
    // is the equivalent batch join — stream-static semantics ARE batch
    // semantics per micro-batch, which this checks end-to-end.
    "q58_stream_enrich" -> ((s, dir) => {
      val base = scratch("q58")
      stageEventsJson(s, dir, base)
      val dim = T(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      StreamIngest.runBounded(
          StreamAgg.enrichedEvents(StreamIngest.events(s, s"$base/in"), dim, "user_id"),
          s"$base/sink", s"$base/ckpt").sink
        .groupBy(col("c_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 10000, 0).cast("long")) / 10000.0).as("sum_value"))
        .orderBy(col("nation"))
    }),

    // Banded range join (§2.3 breadth): customer–supplier pairs whose
    // account balances sit within 5 cents. A raw |a−b| theta join plans
    // as a nested-loop cross product; the banded form explodes each left
    // row to 3 value buckets and hash-joins — linear plus true matches.
    // Balances scale to exact cents so the residual compare is integral.
    "q57_range_join" -> ((s, dir) => {
      val c = T(s, dir, "customer").select(col("c_custkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("c_cents"))
      val su = T(s, dir, "supplier").select(col("s_suppkey"),
        round(col("s_acctbal") * 100, 0).cast("long").as("s_cents"))
      graft.operators.RangeJoin.within(c, su, "c_cents", "s_cents", 5L)
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("c_custkey")).as("sum_custkey"),
          sum(col("s_suppkey")).as("sum_suppkey"),
          sum(abs(col("c_cents") - col("s_cents"))).as("sum_dist"))
    }),

    // §2.5 breadth: the analytic-window family beyond row_number —
    // rank/dense_rank (gap vs no-gap tie numbering), lag/lead (temporal
    // deltas), and a running frame sum. One window partition spec, so the
    // whole family shares a single exchange+sort per key.
    "q53_window_family" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val wRank = Window.partitionBy(col("user_id"))
        .orderBy(col("event_type"), col("event_id"))
      T(s, dir, "events")
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"),
          round(col("value"), 4).as("value"))
        .select(col("user_id"), col("event_id"),
          rank().over(wRank).cast("long").as("type_rank"),
          dense_rank().over(wRank).cast("long").as("type_dense_rank"),
          (col("us") - lag(col("us"), 1).over(w)).as("us_since_prev"),
          lead(col("event_id"), 1).over(w).as("next_event_id"),
          sum(round(col("value") * 10000, 0).cast("long"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("running_value_e4"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // §2.8 breadth: string-function family — regexp_extract, pad/trim,
    // translate, repeat/reverse, split+element access, instr — computed
    // in one projection pass (all codegen'd scalar expressions).
    "q54_string_family" -> ((s, dir) =>
      T(s, dir, "part")
        .filter(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
          lpad(col("p_brand"), 12, "_").as("brand_padded"),
          translate(col("p_type"), "aeiou", "AEIOU").as("type_vowels"),
          reverse(col("p_brand")).as("brand_rev"),
          repeat(lit("ab"), 3).as("repeated"),
          split(col("p_name"), " ").getItem(0).as("name_head"),
          instr(col("p_name"), "a").cast("long").as("first_a"),
          trim(lit("  x  ")).as("trimmed"))
        .orderBy(col("p_partkey"))),

    // §2.8 JSON round-trip fidelity: events serialized with to_json and
    // parsed back with from_json (the batch siblings of the streaming
    // S7 decode), then aggregated — the oracle computes the same
    // aggregates from the ORIGINAL columns, so any loss in the
    // serialize→parse cycle (double shortest-round-trip printing,
    // long/string fidelity) fails the gate.
    "q68_json_roundtrip" -> ((s, dir) => {
      val js = T(s, dir, "events")
        .select(to_json(struct(col("event_id"), col("user_id"),
          col("event_type"), col("value"))).as("j"))
      js.select(from_json(col("j"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_id LONG, user_id LONG, event_type STRING, value DOUBLE")).as("s"))
        .select(col("s.event_id").as("event_id"), col("s.event_type").as("event_type"),
          col("s.value").as("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
          (sum(round(col("value") * 10000, 0).cast("long")) / 10000.0).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // Count–min sketch heavy-hitter counts (completing the sketch family:
    // HLL q42, GK quantiles q47, CMS here). The sketch is built by the
    // codegen'd built-in aggregate (seeded → deterministic; counter adds
    // are merge-order independent), collected — it IS the aggregate, a
    // few KB — and probed driver-side. The oracle pins exact counts and
    // the CMS's defining envelope: estimates never undercount, and
    // overcount by at most ε·N (ε = 0.001).
    "q67_countmin" -> ((s, dir) => {
      import s.implicits._
      val ev = T(s, dir, "events")
      val bytes = ev.agg(count_min_sketch(col("user_id"),
          lit(0.001), lit(0.99), lit(42)).as("sk"))
        .head().getAs[Array[Byte]]("sk")
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      val total = ev.count()
      val est = (0L until 5L).map(u => (u, cms.estimateCount(u))).toDF("user_id", "est")
      ev.filter(col("user_id") < 5)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .join(broadcast(est), Seq("user_id"))
        .select(col("user_id"), col("n_exact"),
          (col("est") >= col("n_exact")).as("overcount_ok"),
          (col("est") <= col("n_exact") + lit((0.001 * total).toLong)).as("within_eps"))
        .orderBy(col("user_id"))
    }),

    // SQL surface depth: explicit GROUPING SETS (the general form rollup
    // and cube specialize) — exercised through spark.sql so the SQL
    // parser path is covered, with the grouping-id disambiguator.
    "q65_grouping_sets" -> ((s, dir) =>
      s.sql(
        s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           |  coalesce(l_linestatus, 'ALL') AS linestatus,
           |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS grp,
           |  count(*) AS n, CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty
           |FROM parquet.`$dir/lineitem.parquet`
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
           |ORDER BY grp, returnflag, linestatus""".stripMargin)),

    // SQL surface depth: correlated EXISTS / NOT EXISTS — Catalyst
    // decorrelates both into semi/anti joins (the .explain shows no
    // per-row subquery); the oracle runs the IDENTICAL SQL text.
    "q66_correlated_exists" -> ((s, dir) =>
      s.sql(
        s"""SELECT c.c_custkey, c.c_name
           |FROM parquet.`$dir/customer.parquet` c
           |WHERE EXISTS (SELECT 1 FROM parquet.`$dir/orders.parquet` o
           |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
           |  AND NOT EXISTS (SELECT 1 FROM parquet.`$dir/orders.parquet` o
           |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
           |                    AND o.o_totalprice < 50000)
           |ORDER BY c.c_custkey""".stripMargin)),

    // §2.9 stream-stream interval join (the attribution join): views
    // joined to the click they preceded within an hour, per user, with
    // watermarks bounding both sides' state. Inner interval joins emit
    // exactly the matched pairs, so the oracle is the equivalent batch
    // range join over the same µs timestamps.
    "q64_stream_interval_join" -> ((s, dir) => {
      val base = scratch("q64")
      stageEventsJson(s, dir, base)
      val (clicks, views) = StreamAgg.intervalSides(StreamIngest.events(s, s"$base/in"))
      StreamIngest.runBounded(
          StreamAgg.intervalJoined(clicks, views, intervalSeconds = 3600),
          s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("click_id")).as("sum_click_id"),
          sum(col("view_id")).as("sum_view_id"))
    }),

    // §2.9 LEFT OUTER stream-stream interval join: unattributed clicks
    // are emitted null-padded once the watermark closes their join
    // window. Sentinel rows (user −1, filtered here) push the final
    // watermark past every real click so the bounded run emits the
    // complete outer result the batch oracle computes.
    "q97_stream_outer_interval" -> ((s, dir) => {
      val base = scratch("q97")
      stageEventsJson(s, dir, base, sentinels = true)
      val (clicks, views) = StreamAgg.intervalSides(StreamIngest.events(s, s"$base/in"))
      StreamIngest.runBounded(
          StreamAgg.intervalJoinedOuter(clicks, views, intervalSeconds = 3600),
          s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink
        .filter(col("user_id") >= 0)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("view_id").isNull, 1L).otherwise(0L)).as("n_unmatched"),
          sum(col("click_id")).as("sum_click_id"),
          sum(coalesce(col("view_id"), lit(0L))).as("sum_view_id"))
    }),

    // §2.5 breadth: distribution-rank window functions. percent_rank and
    // cume_dist are exact small-integer ratios ((rank−1)/(n−1), n/m) —
    // double division of identical operands is deterministic across
    // engines; ntile's remainder distribution is SQL-standard in both.
    "q61_window_distribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      T(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 400)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_returnflag"), col("l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // §2.5 breadth: value-navigation window functions with an EXPLICIT
    // rows frame on both sides (default frames differ subtly between
    // engines; pinning ROWS removes the ambiguity).
    "q62_window_navigation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T(s, dir, "events")
        .filter(col("user_id") < 40)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .select(col("user_id"), col("event_id"),
          first(col("event_id")).over(w).as("first_event"),
          last(col("event_id")).over(w).as("last_event"),
          nth_value(col("event_id"), 2).over(w).as("second_event"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // §2.4 breadth: conditional/boolean aggregates — count_if-style
    // filtered counts, bool_and/bool_or, and exact-cent conditional sums.
    "q63_conditional_agg" -> ((s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") > 150000, 1L).otherwise(0L)).as("n_big"),
          (sum(when(col("o_orderpriority") === "1-URGENT",
            round(col("o_totalprice") * 100, 0).cast("long")).otherwise(0L)) / 100.0)
            .as("urgent_revenue"),
          bool_and(col("o_totalprice") > 0).as("all_positive"),
          bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"))
        .orderBy(col("o_orderstatus"))),

    // §2.8 breadth: array + conditional families — size/sort/distinct/
    // contains/element access over split arrays (joined back to strings
    // so the hash compare stays scalar; distinct is sorted because
    // first-occurrence order is engine-specific), and
    // greatest/least/nullif/coalesce over numerics.
    "q60_array_conditional" -> ((s, dir) =>
      T(s, dir, "part")
        .filter(col("p_partkey") <= 500)
        .select(col("p_partkey"), split(col("p_name"), " ").as("words"),
          col("p_size").cast("long").as("ps"))
        .select(col("p_partkey"),
          size(col("words")).cast("long").as("n_words"),
          array_join(sort_array(col("words")), ",").as("sorted_words"),
          array_join(array_sort(array_distinct(col("words"))), ",").as("distinct_words"),
          array_contains(col("words"), "green").as("has_green"),
          element_at(col("words"), 1).as("w1"),
          greatest(col("ps"), lit(25L)).as("size_hi"),
          least(col("ps"), lit(25L)).as("size_lo"),
          coalesce(nullif(col("ps"), lit(25L)), lit(-1L)).as("size_nn"))
        .orderBy(col("p_partkey"))),

    // §2.8 breadth: datetime family — date_trunc, quarter/dayofweek/
    // dayofyear, add_months, last_day, datediff against the max-anchor.
    "q55_datetime_family" -> ((s, dir) =>
      T(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"))
        .orderBy(col("o_orderkey"))),

    // Batch gap-based sessionization (islands): new session when the gap
    // to the user's previous event exceeds 30 min — the offline twin of
    // the streaming sessionizer, one user-keyed shuffle total.
    "q69_sessionize" -> ((s, dir) =>
      graft.operators.Sessionize.stats(
        T(s, dir, "events").select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us")),
        "user_id", "us", "event_id", gapUs = 30L * 60 * 1000000L)
        .orderBy(col("user_id"), col("session_no"))),

    // Spark's NATIVE session_window (batch mode) beside the hand-rolled
    // islands form (q69). Boundary semantics VERIFIED EMPIRICALLY, not
    // assumed: session merging treats windows as closed intervals
    // (merge when next.start <= current.end), so an exactly-gap-sized
    // pause stays joined — the SAME `gap > threshold` split rule as the
    // islands form; SessionizeSpec pins the boundary case.
    "q129_native_session_window" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          (unix_micros(col("w.end")) - 1800000000L).as("last_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_us"))),

    // Latest-wins keyed upsert (MERGE shape on bare tables): orders act
    // as a CDC change stream over the customer balance snapshot;
    // precedence = (order date, order key), base rows lose to any update.
    "q70_upsert_merge" -> ((s, dir) => {
      val base = T(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_acctbal").as("balance"),
          lit(0L).as("v_ts"), lit(0L).as("v_id"))
      val upd = T(s, dir, "orders")
        .select(col("o_custkey").as("user_id"), col("o_totalprice").as("balance"),
          date_format(col("o_orderdate"), "yyyyMMdd").cast("long").as("v_ts"),
          col("o_orderkey").as("v_id"))
      graft.operators.Merge.upsert(base, upd, Seq("user_id"), Seq("v_ts", "v_id"))
        .orderBy(col("user_id"))
    }),

    // SCD2 history build: order-status change log per customer collapsed
    // into validity intervals [valid_from, valid_to), open on current.
    "q71_scd2_history" -> ((s, dir) =>
      graft.operators.Merge.scd2(
        T(s, dir, "orders").select(col("o_custkey").as("user_id"),
          col("o_orderstatus").as("status"),
          date_format(col("o_orderdate"), "yyyyMMdd").cast("long").as("ts"),
          col("o_orderkey").as("tie")),
        Seq("user_id"), "ts", "tie", Seq("status"))
        .select(col("user_id"), col("status"), col("valid_from"),
          col("valid_to"), col("is_current"))
        // valid_to in the sort (nulls last, explicitly — engine defaults
        // differ): (user_id, valid_from, status) alone is NOT total when
        // same-date runs alternate statuses (F, P, F on one date yields
        // two (user, date, F) rows differing only in valid_to)
        .orderBy(col("user_id"), col("valid_from"), col("status"),
          col("valid_to").asc_nulls_last)),

    // TF-IDF top terms per document with the division-only rarity score
    // (tf·N)/df — engine-deterministic where ln(N/df) is not (see
    // Relevance scaladoc).
    "q72_tfidf_topterms" -> ((s, dir) =>
      graft.text.Relevance.tfidfTopTerms(T(s, dir, "documents"), k = 5)
        .orderBy(col("doc_id"), col("rn"))),

    // Bloom-filter runtime-prefiltered semi-join: high-balance suppliers'
    // lineitems — the bloom discards non-matching fact rows BEFORE the
    // exchange, the residual semi-join makes the result exact, so the
    // oracle is the plain semi-join.
    "q73_bloom_semi_join" -> ((s, dir) => {
      val dim = T(s, dir, "supplier").filter(col("s_acctbal") > 5000)
      graft.operators.BloomJoin.semiJoin(
          T(s, dir, "lineitem"), "l_suppkey", dim, "s_suppkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // Fixed-point integer PageRank (3 rounds) over the follows graph —
    // bit-reproducible ranks (see graph/PageRank scaladoc); the oracle
    // replays the same 3 rounds in unrolled integer SQL.
    "q74_pagerank" -> ((s, dir) =>
      graft.graph.PageRank.ranks(
          graft.silver.Pipelines.follows(T(s, dir, "customer")),
          "user_id_a", "user_id_b", iterations = 3)
        .orderBy(col("rank_fp").desc, col("id"))
        .limit(100)
        .select(col("id").as("user_id"), col("rank_fp"))),

    // Salted two-stage aggregation: results identical to the plain
    // groupBy count (the salt is an execution detail against hot keys),
    // which is exactly what the oracle checks.
    "q75_salted_count" -> ((s, dir) =>
      graft.silver.Pipelines.saltedCount(T(s, dir, "events"), "event_type")
        .orderBy(col("event_type"))),

    // Document chunking: overlapping 50-token windows every 40 tokens
    // (10-token overlap) — the example-prep step between cleaning and
    // packing; embarrassingly parallel, no shuffle.
    "q91_doc_chunks" -> ((s, dir) =>
      graft.text.Chunker.chunks(T(s, dir, "documents"), chunkSize = 50, stride = 40)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Gopher-style structural repetition filters: duplicate-line
    // fractions + top-bigram concentration per document — the quality
    // rules that catch boilerplate/templated text which token-level
    // ratios (q30) miss.
    "q92_repetition_quality" -> ((s, dir) =>
      TextStats.lineRepetition(T(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // Cross-document repeated-substring excision (Lee et al. 2022 style,
    // fixed 10-token windows): windows occurring more than once anywhere
    // in the corpus are cut except at their globally-first occurrence;
    // per-doc cut windows merge into maximal spans.
    "q95_substring_dedup" -> ((s, dir) =>
      Dedup.repeatedSpans(T(s, dir, "documents"), n = 10)
        .orderBy(col("doc_id"), col("span_start"))),

    // Applying q95: rebuild every document with its repeated windows cut
    // (keep-first), reporting before/after token counts + cleaned text.
    "q96_substring_excise" -> ((s, dir) =>
      Dedup.exciseRepeats(T(s, dir, "documents"), n = 10)
        .orderBy(col("doc_id"))),

    // Capstone v2 — the full preprocessing funnel a pretraining corpus
    // runs through, with per-stage survivor counts: raw → exact dedup
    // (keep-first) → structural repetition filter (q92 metrics) →
    // deterministic split → n-gram decontamination of the train split
    // (q93). Every stage is a semi/anti join on doc_id against a
    // filter-stage output, so document BODIES flow through exactly one
    // scan pipeline; the funnel report is six rows.
    "q94_preprocess_funnel" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val keep = Dedup.exact(docs).select(col("keep_doc_id").as("doc_id"))
      val deduped = docs.join(keep, Seq("doc_id"), "left_semi")
      val repOk = TextStats.lineRepetition(deduped)
        .filter(col("dup_line_fraction") <= 0.2 && col("top_bigram_fraction") <= 0.08)
        .select("doc_id")
      val quality = deduped.join(repOk, Seq("doc_id"), "left_semi")
      val assigned = graft.text.Splits.assign(quality, "doc_id")
      val train = assigned.filter(col("split") === "train")
      val contaminated = graft.text.Decontaminate.overlaps(
        train, assigned.filter(col("split") === "test"), n = 5).select("doc_id")
      def stage(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
          .select(lit(name).as("stage"), col("n_docs"), col("total_chars"))
      stage("0_raw", docs)
        .unionByName(stage("1_dedup", deduped))
        .unionByName(stage("2_quality", quality))
        .unionByName(stage("3_train", train.join(contaminated, Seq("doc_id"), "left_anti")))
        .unionByName(stage("3_val", assigned.filter(col("split") === "val")))
        .unionByName(stage("3_test", assigned.filter(col("split") === "test")))
        .orderBy(col("stage"))
    }),

    // Train/eval decontamination: training docs sharing any 5-gram with
    // the (deterministically split) test corpus — broadcast eval shingle
    // set, training side never shuffles.
    "q93_decontamination" -> ((s, dir) => {
      val assigned = graft.text.Splits.assign(T(s, dir, "documents"), "doc_id")
      graft.text.Decontaminate.overlaps(
          assigned.filter(col("split") === "train"),
          assigned.filter(col("split") === "test"), n = 5)
        .orderBy(col("doc_id"))
    }),

    // Semantic decontamination: train-split embedding vectors whose cosine
    // to any test-split vector clears 0.95 — the embedding-level analogue
    // of q93 (catches paraphrased eval leakage token shingles can't see).
    // The natural corpus has max cosine ≈ 0.6, so contamination is PLANTED
    // with the q48 recipe: test vectors with vec_id < 100 leak into the
    // train side (id+10⁶, first component +0.01 → cosine ≈ 0.9999, missed
    // by all 8 bands with probability ≈ 10⁻¹¹). The oracle replays the
    // deterministic split and the planting, then brute-forces the cross
    // join — LSH must therefore achieve exact recall to hash-match.
    "q99_semantic_decontam" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      val assigned = graft.text.Splits.assign(emb, "vec_id")
      val test = assigned.filter(col("split") === "test").drop("split")
      val train = assigned.filter(col("split") === "train").drop("split")
      val planted = test.filter(col("vec_id") < 100)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          expr("concat(array(embedding[0] + 0.01d), slice(embedding, 2, size(embedding) - 1))")
            .as("embedding"))
      Similarity.crossNearDup(train.unionByName(planted), test, threshold = 0.95)
        .orderBy(col("corpus_id"), col("probe_id"))
    }),

    // Ordered sequence assembly: each user's full event-type sequence in
    // strict event-time order — Spark has no ordered string_agg, so the
    // idiom is sort_array over collect_list of a (time, tie, payload)
    // struct (struct sort is lexicographic by field position, making the
    // order total and partition-independent). This is the assembly step
    // that turns an event log into sequence-model training examples.
    "q90_sequence_assembly" -> ((s, dir) =>
      T(s, dir, "events").filter(col("user_id") < 60)
        .select(col("user_id"), struct(unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type")).as("e"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("e"))).as("seq"))
        .select(col("user_id"),
          size(col("seq")).cast("long").as("n_events"),
          concat_ws(",", expr("transform(seq, x -> x.event_type)")).as("sequence"),
          col("seq").getItem(0).getField("event_type").as("first_type"))
        .orderBy(col("user_id"))),

    // Calendar dimension generation + zero-filled time series: a
    // sequence() generator spans [min, max] order dates, left-joined
    // with per-day counts — gap days surface as explicit zeros instead
    // of silently missing rows (the difference between a chart with
    // holes and a wrong chart). The generator runs on the one-row
    // bounds frame; the calendar is dimension-sized at any SF.
    "q89_calendar_fill" -> ((s, dir) => {
      val o = T(s, dir, "orders").select(to_date(col("o_orderdate")).as("d"))
      val cal = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
      cal.join(o.groupBy(col("d")).agg(count(lit(1)).as("n")), Seq("d"), "left")
        .na.fill(0L, Seq("n"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("n"))
        .orderBy(col("day"))
    }),

    // Equi-width histogram in exact integer arithmetic: min/max anchors
    // via broadcast (no global window), cent-scaled integer bucket math —
    // the width_bucket shape without its float boundary hazards.
    "q85_histogram" -> ((s, dir) => {
      val o = T(s, dir, "orders")
        .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      o.crossJoin(broadcast(o.agg(min(col("cents")).as("__lo"),
          max(col("cents")).as("__hi"))))
        .withColumn("bucket", expr("(cents - __lo) div (((__hi - __lo) div 20) + 1)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
        .orderBy(col("bucket"))
    }),

    // §2.5 breadth: RANGE window frame over event time — trailing 1-day
    // sum per user. RANGE includes ALL peers of the current order value,
    // so equal-timestamp ties need no tie-break to stay deterministic;
    // values are summed as exact 1e-4-unit integers.
    "q86_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-86400000000L, 0)
      T(s, dir, "events")
        .filter(col("user_id") < 40)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          round(col("value") * 10000, 0).cast("long").as("v4"))
        .withColumn("trailing_1d", sum(col("v4")).over(w))
        .select(col("user_id"), col("event_id"), col("us"), col("trailing_1d"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // §2.7 breadth: UNPIVOT via the stack generator — wide → long over
    // the part attributes (the inverse of q45's pivot).
    "q87_unpivot" -> ((s, dir) =>
      T(s, dir, "part").filter(col("p_partkey") <= 300)
        .selectExpr("p_partkey",
          "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice) AS (attr, val)")
        .orderBy(col("p_partkey"), col("attr"))),

    // §2.9: streaming upsert through foreachBatch into a versioned table
    // — the staged payload carries EVERY event twice (at-least-once
    // delivery); each batch collapses to one row per key (Merge.upsert)
    // and lands as a keyed Versioned.upsert, so the final table equals
    // the distinct batch table the oracle aggregates.
    "q88_stream_upsert" -> ((s, dir) => {
      val base = scratch("q88")
      stageEventsJson(s, dir, base, doubled = true)
      StreamAgg.runVersionedUpsert(s, s"$base/in", s"$base/table", s"$base/ckpt")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 10000, 0).cast("long")) / 10000.0).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // Bounded-hop BFS from a seed set over the follows graph: exact hop
    // distances, frontier-only expansion per round; the oracle replays
    // the same 3 unrolled rounds.
    "q82_bfs_hops" -> ((s, dir) =>
      graft.graph.Paths.bfs(
        graft.silver.Pipelines.follows(T(s, dir, "customer")),
        "user_id_a", "user_id_b",
        T(s, dir, "customer").filter(col("c_custkey") <= 5).select(col("c_custkey")),
        maxHops = 3)
        .select(col("id").as("user_id"), col("dist"))
        .orderBy(col("dist"), col("user_id"))),

    // Incremental landing-zone ingest (the Airflow-parity path, §3.2):
    // a CSV file stream over the landing zone lands each week's files
    // as one exactly-once versioned append, the stream checkpoint's file
    // log standing in for a processed-file manifest. Week 1 lands, a
    // REPLAYED run is a no-op (no new file, no commit), week 2 lands
    // from a second landing dir into the same table — the final table
    // must hold every customer exactly once, which is exactly what the
    // oracle aggregate checks.
    "q83_incremental_ingest" -> ((s, dir) => {
      import graft.ingest.Versioned
      val base = scratch("q83")
      val c = Tables.customer(s, dir)
      def land(): Long = Versioned.runStreamAppend(s,
        Ingest.readCsvStream(s, s"$base/landing/*", Tables.schemas("customer")),
        s"$base/t", s"$base/ckpt", "q83")
      Ingest.writeCsv(c.filter(col("c_custkey") % 3 =!= 0), s"$base/landing/week1")
      val week1 = land()
      require(land() == week1, "replayed landing committed again")
      Ingest.writeCsv(c.filter(col("c_custkey") % 3 === 0), s"$base/landing/week2")
      land()
      Versioned.read(s, s"$base/t")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("c_acctbal") * 100, 0).cast("long")) / 100.0).as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // The registered SQL-view surface (§3.4 parity): serving-style SQL
    // over the silver views — trending tracks joined with their
    // similarity-partner counts.
    "q84_views_sql" -> ((s, dir) => {
      graft.Views.register(s, dir)
      s.sql(
        """SELECT t.track_id, t.play_count,
          |  CAST(coalesce(s.n_sim, 0) AS BIGINT) AS n_sim
          |FROM weekly_trending_tracks t
          |LEFT JOIN (SELECT track_id_1 AS track_id, count(*) AS n_sim
          |           FROM song_similarity_by_playlist GROUP BY track_id_1) s
          |  ON s.track_id = t.track_id
          |ORDER BY t.play_count DESC, t.track_id LIMIT 20""".stripMargin)
    }),

    // Triangle count over the follows graph with degree-based edge
    // orientation (the hub-proof plan — see graph/Triangles scaladoc);
    // the oracle counts the same triangles with the id-ordered 3-way
    // self-join, which is fine at oracle scale.
    "q78_triangles" -> ((s, dir) =>
      graft.graph.Triangles.triangleCount(
        graft.silver.Pipelines.follows(T(s, dir, "customer")),
        "user_id_a", "user_id_b")),

    // Edit-distance ≤ 1 vocabulary pairs via FastSS deletion-neighborhood
    // banding + exact levenshtein verify; the oracle brute-forces the
    // vocab cross join, which the operator must match exactly — banding
    // loses nothing at distance ≤ 1. The synthetic corpus is built from a
    // closed template vocabulary with no natural distance-1 pairs, so a
    // deterministic single-insertion typo of every word is planted on
    // both sides (the q48 planted-fixture pattern) to exercise the
    // recall path.
    "q79_editdist_pairs" -> ((s, dir) => {
      val v = graft.text.Fuzzy.vocabulary(
        T(s, dir, "documents"), minLen = 4, maxLen = 12)
      val planted = v.select(concat(col("w"), lit("x")).as("w"))
      graft.text.Fuzzy.editDistancePairs(v.unionByName(planted).distinct())
        .orderBy(col("w1"), col("w2"))
    }),

    // Ordered funnel view → click → purchase: stage i counts users whose
    // first stage-i event strictly follows their first qualifying
    // stage-(i−1) event.
    "q80_funnel" -> ((s, dir) =>
      graft.analytics.Behavior.funnel(
        T(s, dir, "events").select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us")),
        "user_id", "event_type", "us", Seq("view", "click", "purchase"))
        .orderBy(col("stage_idx"))),

    // Cohort retention: users by first-activity day, distinct-counted at
    // each day offset ≤ 7.
    "q81_retention" -> ((s, dir) =>
      graft.analytics.Behavior.retention(
        T(s, dir, "events").select(col("user_id"), unix_micros(col("ts")).as("us")),
        "user_id", "us", maxOffsetDays = 7)
        .orderBy(col("cohort_day"), col("day_offset"))),

    // §2.4 breadth: statistical aggregates — mean / variance / stddev /
    // covariance / correlation. NOT the streaming built-ins: those merge
    // M2 partials in partition order and drift in the last ulps between
    // engines (and between runs). Instead: exact integer moment sums
    // (per-row products fit a long; sums are decimal38/HUGEINT — exact),
    // each cast to double ONCE, then the textbook formulas using only
    // correctly-rounded IEEE ops (+,-,*,/,sqrt) in an identical
    // expression tree — bit-equal on any engine at any parallelism.
    "q77_stats_family" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      T(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_quantity") * 100, 0).cast("long").as("x"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
          sum((col("x") * col("x")).cast(d38)).as("sxx"),
          sum((col("y") * col("y")).cast(d38)).as("syy"),
          sum((col("x") * col("y")).cast(d38)).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          col("n").cast("double").as("nd"),
          col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"),
          col("sxx").cast("double").as("sxxd"), col("syy").cast("double").as("syyd"),
          col("sxy").cast("double").as("sxyd"))
        .select(col("l_returnflag"), col("n"),
          (col("sxd") / col("nd")).as("mean_x"),
          ((col("nd") * col("sxxd") - col("sxd") * col("sxd"))
            / (col("nd") * (col("nd") - 1))).as("var_x"),
          sqrt((col("nd") * col("sxxd") - col("sxd") * col("sxd"))
            / (col("nd") * (col("nd") - 1))).as("std_x"),
          ((col("nd") * col("sxyd") - col("sxd") * col("syd"))
            / (col("nd") * (col("nd") - 1))).as("covar_xy"),
          ((col("nd") * col("sxyd") - col("sxd") * col("syd"))
            / sqrt((col("nd") * col("sxxd") - col("sxd") * col("sxd"))
              * (col("nd") * col("syyd") - col("syd") * col("syd")))).as("corr_xy"))
        .orderBy(col("l_returnflag"))
    }),

    // Z-order layout audit: Morton-interleave (l_partkey, l_suppkey) with
    // the custom fused-loop z_value expression, bucket by equal-width
    // z ranges (max-anchored, fully parallel — no global window), and
    // report each bucket's min/max on BOTH dims. Tight per-bucket ranges
    // on both columns at once is the property that makes z-ordered files
    // skippable for either filter — the oracle recomputes the interleave
    // with unrolled bit arithmetic. The WRITE path that lands this
    // layout is Ingest.writeZOrdered (range-partition + in-partition
    // sort on the z code); its per-file audit is Ingest.zOrderAudit,
    // asserted on real files in IngestSpec (sampled range boundaries
    // are engine-internal, so the file-level audit is unit-gated while
    // this query stays the deterministic oracle-gated form).
    "q76_zorder_layout" -> ((s, dir) => {
      val zt = T(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          graft.functions.z_value(col("l_partkey"), col("l_suppkey"), 16).as("z"))
      zt.crossJoin(broadcast(zt.agg(max(col("z")).as("__mz"))))
        .withColumn("z_bucket", expr("z div ((__mz div 64) + 1)"))
        .groupBy(col("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
        .orderBy(col("z_bucket"))
    }),

    // Z-ordered WRITE path, oracle-gated (the q76 complement: real files,
    // not in-memory buckets): events land range-partitioned + sorted on
    // z(user_id, floor(value)) via Ingest.writeZOrdered, then
    // Ingest.zOrderAudit reads the layout back per file. Spark's sampled
    // range boundaries are engine-internal, so the per-file frame itself
    // can't be oracle-hashed — instead the audit collapses to
    // engine-independent invariants: exact global counts/extents (the
    // oracle recomputes them from events) plus layout booleans pinned
    // literally TRUE — z-intervals pairwise disjoint (the write
    // contract), several files produced, and a low-corner 2-d box
    // ([0,64)²) leaves at least one file prunable on min/max stats alone
    // (the reason the layout exists). floor(), not cast: Spark's
    // double→long cast truncates while the oracle engine's rounds — floor
    // agrees on both.
    "q98_zorder_write" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = scratch("q98")
      val ev = Tables.events(s, dir).select(
        col("user_id").cast("long").as("user_id"),
        floor(col("value")).cast("long").as("val"))
      Ingest.writeZOrdered(ev, s"$base/z", "user_id", "val", numFiles = 8)
      Ingest.zOrderAudit(s, s"$base/z", "user_id", "val")
        .withColumn("prev_max_z",
          lag(col("max_z"), 1).over(Window.orderBy(col("min_z"))))
        .agg(sum(col("n")).as("n_rows"),
          min(col("min_x")).as("min_user"), max(col("max_x")).as("max_user"),
          min(col("min_y")).as("min_val"), max(col("max_y")).as("max_val"),
          (count(lit(1)) >= 2).as("multi_file"),
          coalesce(bool_and(col("prev_max_z").isNull ||
            col("min_z") > col("prev_max_z")), lit(true)).as("z_disjoint"),
          (count(when(col("min_x") > 63 || col("min_y") > 63, 1)) > 0)
            .as("box_prunes"))
    }),

    // Deterministic balanced shard export (ingest/Shards.scala): events
    // keyed on user_id leave as 8 group-cohesive md5-bucket shards with
    // a 500-row file cap, and the audit is computed from the files
    // actually written. Everything the oracle sees is engine-independent:
    // per-shard rows/keys/extents replay the md5 arithmetic in DuckDB,
    // n_files is exactly ceil(rows / cap) because each shard's rows are
    // routed into one task, and files_capped pins the per-file bound TRUE.
    "q101_shard_export" -> ((s, dir) => {
      val base = scratch("q101")
      val ev = Tables.events(s, dir).select(
        col("user_id").cast("long").as("user_id"), col("event_id"))
      Shards.writeSharded(ev, s"$base/shards", "user_id",
        nShards = 8, maxRecordsPerFile = 500L)
      Shards.shardAudit(s, s"$base/shards", "user_id", maxRecordsPerFile = 500L)
        .select(col("shard_id"), col("n_rows"), col("n_keys"),
          col("min_key").cast("long").as("min_user"),
          col("max_key").cast("long").as("max_user"),
          col("n_files"), col("files_capped"))
        .orderBy(col("shard_id"))
    }),

    // Corpus snapshot diff (ingest/Snapshot.scala): classify every doc as
    // added / removed / changed / unchanged between the current corpus
    // and a deterministically-derived previous snapshot (10% of docs
    // absent from prev → added; 10% text-modified → changed; 50 ghost
    // docs present only in prev → removed). The diff joins (key,
    // fingerprint) projections — the shuffle never carries document
    // bodies; the oracle replays the same delta by direct column
    // comparison (md5 equality == content equality absent collisions).
    "q102_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val bk = graft.text.Splits.bucket(col("doc_id")) % 10
      val prev = docs.filter(bk =!= 0)
        .withColumn("text",
          when(bk === 1, concat(col("text"), lit(" MODIFIED")))
            .otherwise(col("text")))
        .unionByName(s.range(1, 51).select(
          (col("id") + 1000000L).as("doc_id"),
          lit("ghost").as("text"), lit("synthetic").as("source")))
      Snapshot.diff(docs, prev, "doc_id", Seq("text", "source"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
        .orderBy(col("status"))
    }),

    // ORC format roundtrip (S5/S2 on the second native columnar format):
    // events written ORC partitioned by event_type, read back with a
    // partition-pruning filter (only the purchase directory is scanned)
    // plus a data predicate pushed into the ORC reader, aggregated. The
    // oracle recomputes from the parquet events table — format-neutral
    // values prove the ORC path loses nothing.
    "q103_orc_roundtrip" -> ((s, dir) => {
      val base = scratch("q103")
      val ev = Tables.events(s, dir).select(
        col("user_id").cast("long").as("user_id"), col("event_type"),
        round(col("value") * 10000).cast("long").as("v4"))
      Ingest.writeOrcPartitioned(ev, s"$base/orc", Seq("event_type"))
      s.read.orc(s"$base/orc")
        .filter(col("event_type") === "purchase" && col("user_id") < 100)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("v4")).as("sum_v4"))
        .orderBy(col("user_id"))
    }),

    // Raw landing-file audit over the text source (the last native
    // format): after the CSV landing write, `spark.read.text` counts
    // physical lines and files, and the parsed row count must equal
    // lines − one header per file — the writer-side loss/duplication
    // check schema-aware readers can't express. An embedded newline in
    // any value (CSV-quoted, so one row ≠ one line) flips the boolean
    // false and fails the gate loudly — the audit's exact job.
    "q104_landing_audit" -> ((s, dir) => {
      val base = scratch("q104")
      Ingest.writeCsv(Tables.orders(s, dir), s"$base/landing")
      val audit = Ingest.landingAudit(s, s"$base/landing",
        Tables.schemas("orders"))
      Ingest.readCsv(s, s"$base/landing", Tables.schemas("orders"))
        .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("sum_key"))
        .crossJoin(broadcast(audit.select(col("lines_match"))))
        .select(col("n_rows"), col("sum_key"), col("lines_match"))
    }),

    // CDC change-feed apply (the full MERGE triad on bare tables,
    // operators/Merge.applyChanges): a deterministic op-tagged feed
    // derived from orders — updates (key%10==1), delete tombstones
    // (key%10==2), inserts under shifted keys (key%10==3), plus TWO
    // conflicting updates per key%100==7 exercising sequence precedence —
    // lands on the orders snapshot through ONE union + ONE keyed window
    // (no join, no second pass; delete-then-reinsert collapses because
    // only the latest change per key is consulted). The oracle replays
    // the identical window ranking in SQL.
    "q105_cdc_apply" -> ((s, dir) => {
      val base = T(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"))
      val upd = base.filter(col("o_orderkey") % 10 === 1).select(
        col("o_orderkey"), col("o_custkey"), lit("X").as("o_orderstatus"),
        (col("total_cents") + 1).as("total_cents"),
        lit("U").as("op"), lit(2L).as("seq"))
      val del = base.filter(col("o_orderkey") % 10 === 2)
        .withColumn("op", lit("D")).withColumn("seq", lit(2L))
      val ins = base.filter(col("o_orderkey") % 10 === 3).select(
        (col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), lit(0L).as("total_cents"),
        lit("I").as("op"), lit(1L).as("seq"))
      val confl = Seq(("A", 3L), ("B", 4L)).map { case (st, sq) =>
        base.filter(col("o_orderkey") % 100 === 7).select(
          col("o_orderkey"), col("o_custkey"), lit(st).as("o_orderstatus"),
          col("total_cents"), lit("U").as("op"), lit(sq).as("seq"))
      }.reduce(_ unionByName _)
      val changes = upd.unionByName(del).unionByName(ins).unionByName(confl)
      graft.operators.Merge.applyChanges(
        base, changes, Seq("o_orderkey"), "op", Seq("seq"))
    }),

    // Per-column table profiler (quality/Profile.scala): row / null /
    // distinct counts and stringified min/max for six orders columns in
    // ONE aggregate over ONE scan (plan-asserted join-free in
    // ProfileSpec); the priority column is nullif-punched so the null
    // path is exercised on real data. Exact distincts ride Spark's
    // Expand-based multi-distinct — the oracle recomputes each column's
    // stats as a UNION ALL of plain aggregates.
    "q106_table_profile" -> ((s, dir) => {
      val t = T(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"),
        nullif(col("o_orderpriority"), lit("1-URGENT")).as("priority_nullable"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      graft.quality.Profile.profile(t, t.columns.toSeq)
        .orderBy(col("col_name"))
    }),

    // Keyed interval overlap join (operators/RangeJoin.intervalOverlap):
    // click sessions [ts, ts+2h] against purchase attribution windows
    // [ts, ts+6h] per user. The theta form would nested-loop per user;
    // the chunked plan explodes each interval to its 6-hour time chunks,
    // hash-joins on (user, chunk), and emits each pair exactly once in
    // its first shared chunk — no distinct pass (see RangeJoinSpec's
    // exactly-once property). The oracle IS the theta join.
    "q107_interval_overlap" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click").select(
        col("user_id"), col("event_id").as("l_id"),
        unix_micros(col("ts")).as("ls"),
        (unix_micros(col("ts")) + 7200L * 1000000L).as("le"))
      val buys = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("event_id").as("r_id"),
        unix_micros(col("ts")).as("rs"),
        (unix_micros(col("ts")) + 21600L * 1000000L).as("re"))
      graft.operators.RangeJoin.intervalOverlap(clicks, buys, Seq("user_id"),
          "ls", "le", "rs", "re", chunk = 21600L * 1000000L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("l_id") + col("r_id")).as("checksum"))
        .orderBy(col("user_id"))
    }),

    // BM25 document ranking with the rational (un-logged) idf and
    // integer micro-unit per-doc totals — deterministic where classic
    // ln-idf is not (see text/Search.scala object doc).
    "q108_bm25" -> ((s, dir) =>
      graft.text.Search.bm25TopDocs(T(s, dir, "documents"),
        terms = Seq("spark", "join"), k = 10)),

    // Market-basket association lift over per-user event-type sets: the
    // un-logged PMI (lift > 1 ⇔ positive association), exact-integer
    // counts with one final division.
    "q109_assoc_lift" -> ((s, dir) =>
      graft.analytics.Assoc.liftPairs(T(s, dir, "events"),
        "user_id", "event_type")),

    // Per-user Gini–Simpson diversity over event types — the polynomial
    // stand-in for Shannon entropy (no transcendental in the hash gate).
    "q110_simpson_diversity" -> ((s, dir) =>
      graft.analytics.Assoc.simpsonDiversity(T(s, dir, "events"),
        "user_id", "event_type")),

    // Conjunctive (all-terms) search: posting-list intersection as a
    // distinct-membership count over query-term postings only.
    "q111_conjunctive_search" -> ((s, dir) =>
      graft.text.Search.conjunctiveSearch(T(s, dir, "documents"),
        terms = Seq("spark", "merge", "window"))),

    // First-order event-type transition matrix per user (lead() over a
    // tie-broken per-user order), with conditional p = n / Σ_dst n.
    "q112_event_transitions" -> ((s, dir) =>
      graft.analytics.Assoc.transitions(T(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id")),

    // Vocabulary-growth curve via the two-pass distributed prefix sum —
    // the oracle's single-partition running-sum window recomputed with
    // bucketed offsets (identical exact-integer results).
    "q113_vocab_growth" -> ((s, dir) =>
      graft.text.Search.vocabGrowth(T(s, dir, "documents"), bucketWidth = 64)),

    // Two-sample KS drift between the value distributions of two event
    // populations — the empirical-CDF prefix sums ride the same two-pass
    // bucketed form as q113 (no single-partition window at corpus scale).
    "q114_ks_drift" -> ((s, dir) =>
      graft.analytics.Drift.ksStatistic(T(s, dir, "events"), "value",
        "event_type", lit("click"), lit("view"), bucketWidth = 100.0)),

    // Categorical total-variation drift between early/late halves of the
    // event stream: exact integer cross-products summed in decimal, one
    // double division at the end (order-independent at any parallelism).
    "q115_tv_drift" -> ((s, dir) =>
      graft.analytics.Drift.tvDistance(
        T(s, dir, "events").withColumn("__half", pmod(col("user_id"), lit(2L))),
        "event_type", "__half", lit(0L), lit(1L))),

    // Count-based bigram fluency score per document — the deterministic
    // stand-in for an LM perplexity filter (exact integer sums of corpus
    // bigram counts, one final division).
    "q116_bigram_fluency" -> ((s, dir) =>
      graft.text.LangModel.bigramFluency(T(s, dir, "documents"))),

    // Key-skew diagnostic before a shuffle/join on user_id: exact
    // integer inverse-CDF quantiles over the count-of-counts histogram
    // (no percentile buffer holding all keys), heaviest key, and the
    // max/mean skew ratio that predicts stragglers.
    "q117_skew_report" -> ((s, dir) =>
      graft.quality.Profile.skewReport(T(s, dir, "events"), Seq("user_id"))),

    // Exact dedup keeping the BEST duplicate (longest text, ties →
    // smallest id) — the curation variant of q24's keep-first; one
    // map-side-combinable max_by shuffle, no rank window.
    "q118_dedup_keep_best" -> ((s, dir) =>
      graft.text.Dedup.exactKeepBest(
        T(s, dir, "documents").withColumn("content_key", md5(col("text"))),
        "content_key", "n_chars")),

    // Vocab coverage of the deterministic test split against the train
    // split's vocabulary — the tokenizer-coverage number; vocabularies
    // shuffle, corpora never do.
    "q119_oov_rate" -> ((s, dir) => {
      val assigned = graft.text.Splits.assign(T(s, dir, "documents"), "doc_id")
      graft.text.LangModel.oovRate(
        assigned.filter(col("split") === "train"),
        assigned.filter(col("split") === "test"))
    }),

    // Source-concentration HHI over documents: Σ share² with the sum of
    // squares in exact decimal — "is this corpus quietly becoming one
    // source" as a single monitored number.
    "q120_source_concentration" -> ((s, dir) =>
      graft.quality.Profile.concentration(T(s, dir, "documents"), "source")),

    // Corpus distinct-n diversity for n=1..3 — one pass, one (n, gram)
    // shuffle; the generation-collapse monitoring number.
    "q121_distinct_ngrams" -> ((s, dir) =>
      graft.text.LangModel.distinctNgramRatio(T(s, dir, "documents"))),

    // Deterministic per-(lang, source) exemplar documents — the
    // inspect-a-sample surface; rank-<=k windows take the
    // WindowGroupLimit partial-top-k path at scale.
    "q122_group_exemplars" -> ((s, dir) =>
      graft.text.Splits.exemplars(
          T(s, dir, "documents").select("doc_id", "lang", "source"),
          Seq("lang", "source"), "doc_id", k = 2)
        .withColumn("exemplar_rank", col("exemplar_rank").cast("long"))
        .orderBy(col("lang"), col("source"), col("exemplar_rank"))),

    // Referential-integrity coverage of events.user_id against the
    // customer dimension — the cross-table audit the q23 suite can't
    // express; dimension collapses to distinct keys before the join.
    "q123_fk_coverage" -> ((s, dir) =>
      graft.quality.Quality.fkCoverage(
        T(s, dir, "events"), "user_id", T(s, dir, "customer"), "c_custkey")),

    // Corpus PII audit: per-pattern doc/match counts in ONE scan — the
    // monitoring row logged before any redaction pass.
    "q127_pii_audit" -> ((s, dir) =>
      graft.text.TextClean.piiAudit(T(s, dir, "documents"))),

    // Unicode NFC normalization audit via the codegen'd nfc_normalize
    // expression (Spark ships no normalizer; decomposed text leaks
    // duplicates past every byte-keyed dedup). DuckDB's built-in
    // nfc_normalize replays it — the corpus is ASCII so n_changed is 0,
    // but the gate proves both engines' normalizers agree on real text;
    // NfcNormalizeSpec plants decomposed Unicode for the semantics.
    "q130_nfc_audit" -> ((s, dir) =>
      T(s, dir, "documents")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(graft.functions.nfc_normalize(col("text")) =!= col("text"), 1L)
            .otherwise(0L)).as("n_changed"))),

    // Incremental near-dup: the test split checked against the train
    // corpus — batch-vs-corpus pairs only, never corpus×corpus; the
    // production (incremental) dedup shape.
    "q128_incremental_neardup" -> ((s, dir) => {
      val assigned = graft.text.Splits.assign(T(s, dir, "documents"), "doc_id")
      graft.text.Dedup.crossMinhashNearDup(
          assigned.filter(col("split") === "train"),
          assigned.filter(col("split") === "test"))
        .orderBy(col("corpus_doc_id"), col("batch_doc_id"))
    }),

    // Leakage-proof split: near-dup clusters (q38's components) never
    // straddle train/val/test — the split keys on the cluster
    // representative, so a test doc's near-dup cannot sit in train.
    "q126_leakproof_split" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val clusters = graft.text.Dedup.duplicateClusters(
        graft.text.Dedup.ngramJaccard(docs, n = 3, threshold = 0.4))
      graft.text.Splits.assignLeakProof(
          docs.select("doc_id"), "doc_id", clusters)
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Pretraining mixture rebalance: downsample sources to 50/30/20
    // shares, no upsampling — scale = min(count/weight), deterministic
    // md5-bucket selection; summary row per target source.
    "q125_mixture_rebalance" -> ((s, dir) => {
      val targets = Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
      val docs = T(s, dir, "documents")
      // the thresholds frame already holds the before-counts
      // (checkpointed) — no second corpus scan for the summary
      val thr = graft.text.Splits.mixtureThresholds(docs, "source", targets)
      val kept = graft.text.Splits.applyMixture(docs, "source", "doc_id", thr)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      thr.select(col("category").as("source"), col("n_before"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_before"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // JSON-lines write/scan roundtrip (third file format) — declared
    // schema, FAILFAST parse, same partition-pruning contract as
    // parquet/ORC; the oracle replays format-neutrally from events.
    // The scratch dir is a FIXED per-JVM path, recreated on each call
    // and removed on JVM exit: the returned frame reads it lazily, so
    // it cannot be deleted here, and a fresh createTempDirectory per
    // call would litter /tmp across bench repeats.
    "q124_jsonl_roundtrip" -> ((s, dir) => {
      val base = scratch("q124")
      val ev = Tables.events(s, dir).select(
        col("user_id").cast("long").as("user_id"), col("event_type"),
        round(col("value") * 10000).cast("long").as("v4"))
      graft.ingest.Ingest.writeJsonLines(ev, s"$base/json", Seq("event_type"))
      graft.ingest.Ingest.readJsonLines(s, s"$base/json",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("v4",
              org.apache.spark.sql.types.LongType))))
        .filter(col("event_type") === "signup" && col("user_id") < 100)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("v4")).as("sum_v4"))
        .orderBy(col("user_id"))
    }),

    // Persisted-catalog roundtrip (graft.ingest.Catalog): save a derived
    // table as EXTERNAL parquet under an explicitly-located database,
    // DROP it from the catalog (exactly the state an in-memory catalog
    // loses at process exit — the files survive, as on object storage),
    // re-ATTACH from the on-disk descriptor, and query it back via
    // spark.table. The oracle replays the same derivation from the
    // source tables, so a wrong schema/values recovery cannot hash-match.
    "q131_catalog_roundtrip" -> ((s, dir) => {
      val db = "graft_q131"
      val loc = scratch("q131")
      s.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE") // scratch() wiped the files
      graft.ingest.Catalog.ensureDatabase(s, db, loc)
      val nr = T(s, dir, "nation")
        .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
      graft.ingest.Catalog.saveTable(nr, db, "nation_region")
      s.sql(s"DROP TABLE `$db`.nation_region")
      graft.ingest.Catalog.attach(s, db, loc)
      s.table(s"`$db`.nation_region")
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
        .orderBy(col("r_name"))
    }),

    // Incremental materialized-aggregate maintenance
    // (analytics/Incremental): the per-(user, event_type) aggregate is
    // maintained as mergeable states — the base slice (all but the last
    // 7 anchored days) collapses to a states table persisted to parquet,
    // and the refresh merges ONLY the 7-day delta's states into it, never
    // rescanning base rows (the parquet write/read breaks the lineage, so
    // a silent fallback to recompute is impossible). The oracle is the
    // full recompute over all events: incremental and from-scratch must
    // agree exactly, which is why the measure is fixed-point (v4).
    "q132_incremental_agg" -> ((s, dir) => {
      val mvDir = scratch("q132")
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_type"), col("ts"),
        round(col("value") * 10000).cast("long").as("v4"))
      val anchored = Pipelines.withMaxAnchor(ev, "ts")
      val isDelta = col("ts") >= col("__anchor") - expr("INTERVAL 7 DAYS")
      val keys = Seq("user_id", "event_type")
      val meas = Seq("v4")
      Incremental.aggregateStates(
          anchored.filter(!isDelta).drop("__anchor", "ts"), keys, meas)
        .write.mode("overwrite").parquet(s"$mvDir/mv")
      val mv = s.read.parquet(s"$mvDir/mv")
      val deltaStates = Incremental.aggregateStates(
        anchored.filter(isDelta).drop("__anchor", "ts"), keys, meas)
      Incremental.refresh(mv, deltaStates, keys, meas)
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Small-file compaction roundtrip (Versioned.compactSmallFiles):
    // fragment the events table into up to 16 files per partition of a
    // versioned table, compact them as one claimed rewrite commit, and
    // read the head back through the compacted layout. The oracle
    // recomputes the same per-type summary from the source parquet —
    // compaction must be value-invisible; the file-count collapse is
    // asserted on the head's active files (fail-loud require).
    "q133_compact_roundtrip" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q133") + "/t"
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 10000).cast("long").as("v4"))
      Versioned.overwrite(ev.repartition(16), tbl, partitionBy = Seq("event_type"))
      Versioned.compactSmallFiles(s, tbl, maxFileBytes = 128L * 1024 * 1024)
      val head = Versioned.read(s, tbl)
      // 5 partitions × 16 files before; compaction must have collapsed them
      val nAfter = head.inputFiles.length
      require(nAfter <= 5, s"compaction left $nAfter files across 5 partitions")
      head
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("v4")).as("sum_v4"),
          sum(col("event_id")).as("sum_eid"),
          min(col("event_id")).as("min_eid"), max(col("event_id")).as("max_eid"),
          expr("bit_xor(event_id * 1000003 + v4)").as("xor_fp"))
        .orderBy(col("event_type"))
    }),

    // k-anonymity minimal generalization (quality/Anonymity): release
    // per-group counts over (nation, segment, balance-bucket) quasi-
    // identifiers, coarsening each record's encoding level-by-level until
    // its group reaches k=8; the residual under-k groups at the coarsest
    // level surface as suppressed=true rows. The oracle replays the
    // ladder in SQL, so level membership (which is computed over the
    // records still unreleased at each level, not over all records) is
    // fully checked.
    "q134_k_anonymity" -> ((s, dir) => {
      val ladder = Seq(
        Seq("nation" -> col("c_nationkey").cast("long"),
          "segment" -> col("c_mktsegment"),
          "bal_bucket" -> floor(col("c_acctbal") / 500).cast("long")),
        Seq("nation" -> col("c_nationkey").cast("long"),
          "segment" -> col("c_mktsegment"), "bal_bucket" -> lit("*")),
        Seq("nation" -> col("c_nationkey").cast("long"),
          "segment" -> lit("*"), "bal_bucket" -> lit("*")))
      graft.quality.Anonymity.generalizeToK(T(s, dir, "customer"), ladder, k = 8)
        .orderBy(col("level"), col("nation"), col("segment"), col("bal_bucket"))
    }),

    // Product-quantization ADC ANN (vector/Similarity.pqTopK): 4
    // subspaces × 16 codes, two deterministic fixed-point Lloyd's
    // rounds, corpus stored as code ids only, queries scored from the
    // per-query distance table. The oracle replays codebook training,
    // encoding, and the fixed-point ADC accumulation identically, so the
    // whole train → encode → score dataflow is hash-checked (the same
    // discipline as q35's IVF oracle).
    "q135_ann_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(s, emb, emb.filter(col("vec_id") < 5),
        k = 10, m = 4, codesPerSub = 16, trainIterations = 2)
    }),

    // Deterministic PPS systematic sampling (operators/Sampling):
    // 100 ticks over the documents laid out by n_chars mass — a
    // quality/size-weighted training subsample with honest multiplicity
    // (Σ copies = 100 exactly). All integer arithmetic, so the oracle
    // replays the identical tick test; no RNG anywhere.
    "q136_pps_sample" -> ((s, dir) => {
      graft.operators.Sampling.ppsSystematic(
          Tables.documents(s, dir), "doc_id", "n_chars", n = 100)
        .orderBy(col("id"))
    }),

    // Water-filling token-budget allocation (text/Splits.waterfill):
    // cap per-source character mass at the exact threshold that makes
    // the total fit 60% of the corpus — small sources keep everything,
    // the crawl-sized ones truncate to a common ceiling, and the
    // integer residual distributes deterministically so Σ alloc equals
    // the budget exactly.
    "q137_budget_waterfill" -> ((s, dir) => {
      val bySource = Tables.documents(s, dir)
        .groupBy(col("source")).agg(sum(col("n_chars")).as("chars"))
      graft.text.Splits.waterfill(bySource, "source", "chars",
          budget = expr("(tot * 6) div 10"))
        .orderBy(col("source"))
    }),

    // Distributed BPE vocabulary learning (text/Bpe): classic
    // word-dictionary BPE — corpus collapses once to (word, count),
    // then 6 greedy merge rounds over the vocab-sized symbol table
    // (islands + odd-parity selection = the reference implementation's
    // left-to-right pass, relationally). The oracle replays all 6
    // rounds including the argmax tie-breaks, so the learned merge
    // table is checked end-to-end.
    "q138_bpe_merges" -> ((s, dir) => {
      val dict = graft.text.Bpe.wordDict(
        Tables.documents(s, dir), wordPattern = "^[a-z]+$")
      graft.text.Bpe.learnMerges(s, dict, rounds = 6).orderBy(col("round"))
    }),

    // The encoder counterpart: learn the 6-round table, then segment
    // the dictionary with it. The oracle reads the same unrolled rounds
    // out as the final per-word segmentation, so learn→apply round-trip
    // consistency is hash-checked, not just the merge table.
    "q139_bpe_segment" -> ((s, dir) => {
      val dict = graft.text.Bpe.wordDict(
        Tables.documents(s, dir), wordPattern = "^[a-z]+$")
      val table = graft.text.Bpe.learnMerges(s, dict, rounds = 6)
      graft.text.Bpe.segment(s, dict, table)
        .select(col("word"), col("n"), concat_ws(" ", col("pieces")).as("pieces"))
        .orderBy(col("word"))
    }),

    // Blocked Jaro–Winkler record linkage over the corpus vocabulary —
    // the native codegen'd scorer (functions/JaroWinkler) gated against
    // the oracle's jaro_winkler_similarity on identical blocks, so the
    // byte-level algorithm (match window, floored transpositions,
    // 0.7-threshold prefix boost) is hash-checked pair by pair.
    "q140_jw_linkage" -> ((s, dir) => {
      val v = graft.text.Fuzzy.vocabulary(
        T(s, dir, "documents"), minLen = 4, maxLen = 12)
        .filter(col("w").rlike("^[a-z]+$"))
      // planted last-two-swap typos (q79's planted-'x' pattern): the
      // uniform synthetic vocabulary has few natural look-alikes, so the
      // gate would otherwise verify on a near-empty pair set
      val planted = v.select(expr(
        "concat(substring(w, 1, length(w)-2), substring(w, length(w), 1), " +
          "substring(w, length(w)-1, 1))").as("w"))
      graft.text.Fuzzy.jaroLinkage(v.unionByName(planted).distinct(),
          threshold = 0.9)
        .orderBy(col("w1"), col("w2"))
    }),

    // Jensen–Shannon vocabulary drift between the en and es slices of
    // the corpus — the third two-sample drift statistic (KS q114 for
    // numeric, TV q115 for categorical, JSD here for full token
    // distributions), in integer nano-nats per the fixed-point
    // determinism contract (analytics/Drift.jsDivergence).
    "q141_jsd_drift" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("lang"),
          explode(graft.text.Dedup.tokens(col("text"))).as("token"))
      graft.analytics.Drift.jsDivergence(
        toks, "token", "lang", lit("en"), lit("es"))
    }),

    // Exact phrase search over the positional inverted index — the
    // alignment-join plan (one shuffle on (doc, anchor), query-term
    // postings only) gated against the oracle's brute contiguous-window
    // scan, occurrence counts included.
    "q142_phrase_search" -> ((s, dir) =>
      graft.text.Search.phraseSearch(
        T(s, dir, "documents"), Seq("big", "order")))
,
    // Directed shingle-containment pairs — the asymmetric near-dup
    // measure (subset-duplicates that Jaccard q25 structurally misses),
    // exact over the inverted index.
    "q143_containment_dup" -> ((s, dir) =>
      graft.text.Dedup.containmentPairs(T(s, dir, "documents"), n = 3,
          threshold = 0.9)
        .orderBy(col("contained_id"), col("container_id"))),

    // Median/MAD robust outlier report per event type — the
    // breakdown-point-0.5 anomaly layer (analytics/Robust); exact
    // interpolating percentiles, 3·1.4826 cut.
    "q144_mad_outliers" -> ((s, dir) =>
      graft.analytics.Robust.madOutliers(
        T(s, dir, "events"), "value", "event_type")),

    // Benford first-digit audit of order totals — fabricated-data
    // screen; digit from exact integer cents via the decimal string
    // (quality/Profile.benfordAudit), proportions in integer ppm.
    "q145_benford" -> ((s, dir) =>
      graft.quality.Profile.benfordAudit(T(s, dir, "orders"), "o_totalprice")),

    // Trailing-64-day EWMA (α = ½) of daily order volume — exact
    // binary-power kernel, decimal-exact reductions, one float division
    // at the end (analytics/Smoothing.dailyEwma).
    "q146_ewma" -> ((s, dir) =>
      graft.analytics.Smoothing.dailyEwma(T(s, dir, "orders"), "o_orderdate")),

    // Model-based quality filter: logistic scorer over the profile
    // features with fixed reference coefficients
    // (quality/ModelFilter.logitQuality), micro-unit scores.
    "q147_quality_logit" -> ((s, dir) =>
      graft.quality.ModelFilter.logitQuality(T(s, dir, "documents"))),

    // Top adjacent-bigram collocations by pointwise lift ratio (e^PMI,
    // un-logged per the no-transcendentals discipline) — the
    // phrase-mining pass behind multiword tokenizer vocabularies
    // (text/LangModel.collocations).
    "q148_collocations" -> ((s, dir) =>
      graft.text.LangModel.collocations(
        T(s, dir, "documents"), minCount = 5, k = 20)),

    // Population stability index between click and view value
    // distributions — the fourth drift statistic (KS/TV/JSD/PSI), same
    // nano fixed-point contract, half-count smoothed bins.
    "q149_psi_drift" -> ((s, dir) =>
      graft.analytics.Drift.psi(T(s, dir, "events"), "value",
        "event_type", lit("click"), lit("view"), binWidth = 100.0)),

    // PPJoin-style prefix-filter similarity join — the third exact-
    // Jaccard plan (full inverted index q25, LSH-candidates q26, rarest-
    // prefix candidates here), all gated against the SAME exact oracle.
    "q150_prefix_join" -> ((s, dir) =>
      graft.text.Dedup.prefixFilterJaccard(T(s, dir, "documents"), n = 3,
          threshold = 0.4)
        .orderBy(col("doc_id_1"), col("doc_id_2"))),

    // Segment-level dedup with document rebuild — the "line dedup"
    // boilerplate-removal pass (corpus-wide keep-first at 10-token
    // block granularity, docs re-assembled from surviving blocks;
    // text/Dedup.blockDedup). Eager checkpoint: a bare count() would
    // prune the row-local rebuild expressions and bill only the
    // decision aggregates (the q96 honest-measurement lesson).
    "q151_block_dedup" -> ((s, dir) =>
      graft.text.Dedup.blockDedup(T(s, dir, "documents"), blockTokens = 10)
        .localCheckpoint()
        .orderBy(col("doc_id"))),

    // Exact order statistics with NO global sort — two bucketed
    // histogram-refinement rounds narrow each quantile to a 1/B² value
    // slice before anything is ranked; rank arithmetic is pure integer
    // basis points (analytics/Quantiles.exactQuantiles).
    "q152_exact_quantiles" -> ((s, dir) =>
      graft.analytics.Quantiles.exactQuantiles(
        T(s, dir, "lineitem"), "l_extendedprice",
        qBasisPoints = Seq(100, 2500, 5000, 7500, 9900))
        .orderBy(col("q_bp"))),

    // Range-sharded export: shard boundaries are EXACT key quantiles
    // (q152's machinery, not repartitionByRange's sampling), so layout
    // is a pure function of the data; audit read back from the actual
    // files, disjoint ordered ranges asserted (ingest/Shards).
    "q153_range_shards" -> ((s, dir) => {
      val base = scratch("q153")
      val ords = T(s, dir, "orders").select(col("o_orderkey"))
      Shards.writeRangeSharded(ords, s"$base/shards", "o_orderkey",
        nShards = 8, maxRecordsPerFile = 500L)
      Shards.rangeShardAudit(s, s"$base/shards", "o_orderkey",
          maxRecordsPerFile = 500L)
        .select(col("shard_id"), col("n_rows"), col("n_keys"),
          col("min_key").cast("long").as("min_key"),
          col("max_key").cast("long").as("max_key"),
          col("n_files"), col("files_capped"), col("range_disjoint"))
        .orderBy(col("shard_id"))
    }),

    // Misra–Gries heavy hitters with a DETERMINISTIC envelope (zero
    // false-alarm probability, unlike the HLL/GK bands): the exact
    // > n/(k+1) set must all be in the k=15 summary with bounded
    // deficit. Item stream is a zipf-like pure function of event_id
    // (the uniform testdata has no natural heavy hitter), so eviction
    // genuinely fires: ~63 distinct items against 15 counters.
    "q154_heavy_hitters" -> ((s, dir) => {
      val items = Tables.events(s, dir)
        .select(expr("1000 div (event_id % 1000 + 1)").as("item"))
      graft.operators.Sketches.heavyHittersEnvelope(items, "item", k = 15)
        .orderBy(col("item"))
    }),

    // Greedy k-center coreset — farthest-point-first diverse exemplar
    // selection over the embedding space (vector/Coreset.kCenterGreedy);
    // oracle unrolls the 6 greedy rounds with the same 3-dot float
    // recipe and (md desc, id) argmax.
    "q155_kcenter_coreset" -> ((s, dir) =>
      graft.vector.Coreset.kCenterGreedy(T(s, dir, "embeddings"), k = 6)
        .orderBy(col("round"))),

    // Keyword-in-context concordance — every 'vector' occurrence with 3
    // tokens of context, one shuffle-free projection pass
    // (text/Search.kwic).
    "q156_kwic" -> ((s, dir) =>
      graft.text.Search.kwic(T(s, dir, "documents"), "vector", width = 3)
        .orderBy(col("doc_id"), col("pos"))),

    // Soft dedup: 1/cluster-size micro-unit weights over the q38
    // near-dup clusters (keep every copy, down-weight boilerplate mass);
    // per-source effective corpus size (text/Dedup.softDedupWeights).
    "q157_soft_dedup" -> ((s, dir) => {
      val docsT = T(s, dir, "documents").select(col("doc_id"), col("source"))
      Dedup.softDedupWeights(docsT,
          Dedup.duplicateClusters(
            Dedup.ngramJaccard(T(s, dir, "documents"), n = 3, threshold = 0.4)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("cluster_id")).as("n_clusters"),
          sum(col("weight_micro")).as("eff_micro"))
        .orderBy(col("source"))
    }),

    // First-seen dedup on the transformWithState arbitrary-state API
    // (explicit RocksDB ValueState per key, checkpoint-durable, optional
    // wall-clock TTL) — the third §2.9 dedup shape; same doubled staging
    // and distinct-events oracle as q50 (streaming/StatefulDedup).
    "q159_stateful_dedup" -> ((s, dir) => {
      val base = scratch("q159")
      stageEventsJson(s, dir, base, doubled = true)
      StreamIngest.runBounded(
          graft.streaming.StatefulDedup.firstSeen(StreamIngest.events(s, s"$base/in")),
          s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_distinct"),
          (sum(round(col("value") * 10000, 0).cast("long")) / 10000.0).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // DSIR-style hashed-token importance: per-doc Σ ln(p_en/p_corpus)
    // over 4096 md5 buckets in nano-nats (one ln per bucket, integer
    // sums everywhere — text/Importance), rolled up per language.
    "q158_importance_weights" -> ((s, dir) =>
      graft.text.Importance.tokenImportanceNano(
          T(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
          col("lang") === "en")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"),
          sum(col("imp_nano")).as("imp_nano"))
        .orderBy(col("lang"))),

    // Exact ROC AUC (Mann–Whitney U, doubled-rank integers) of the q147
    // quality scorer against the is-English label — does the filter
    // favor the target language? (analytics/Eval.aucExact; rank prefix
    // via the bucketed two-pass pattern, ties collapse before ranking.)
    "q160_ranking_auc" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.analytics.Eval.aucExact(
        graft.quality.ModelFilter.logitQuality(docs)
          .join(docs.select(col("doc_id"), (col("lang") === "en").as("lbl")),
            Seq("doc_id")),
        "score_micro", "lbl")
    }),

    // Per-group exact order statistics — q152's machinery with every
    // histogram window partitioned by group (no single-partition stage
    // at any group count; analytics/Quantiles.exactQuantilesBy).
    "q161_grouped_quantiles" -> ((s, dir) =>
      graft.analytics.Quantiles.exactQuantilesBy(
        T(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        qBasisPoints = Seq(100, 5000, 9900))
        .orderBy(col("l_returnflag"), col("q_bp"))),

    // Winsorized summary: clip order totals at exact p1/p99 and report
    // the treatment (bounds, clipped counts, cent-exact clipped sum) —
    // the outlier-robust preprocessing companion to q144's MAD report.
    "q162_winsorized_stats" -> ((s, dir) =>
      graft.analytics.Quantiles.winsorizedStats(
        T(s, dir, "orders"), "o_totalprice", loBp = 100, hiBp = 9900)),

    // Per-user trailing-3 digest on transformWithState LIST state — the
    // feature-store "last N interactions" serving shape; recency is the
    // (ts, event_id) total order, digest sum in integer ten-thousandths
    // (streaming/StatefulTrail).
    "q163_trailing_digest" -> ((s, dir) => {
      val base = scratch("q163")
      stageEventsJson(s, dir, base)
      StreamIngest.runBounded(
          graft.streaming.StatefulTrail.trailingK(StreamIngest.events(s, s"$base/in"), k = 3),
          s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink
        .orderBy(col("user_id"))
    }),

    // Gap sessionization on transformWithState EVENT-TIME TIMERS — the
    // third sessionization implementation sharing the q69/q129
    // contract; far-future sentinels push the watermark so the timers
    // flush every real session (streaming/StatefulSession).
    "q164_timer_sessions" -> ((s, dir) => {
      val base = scratch("q164")
      stageEventsJson(s, dir, base, sentinels = true)
      StreamIngest.runBounded(
          graft.streaming.StatefulSession.sessionize(StreamIngest.events(s, s"$base/in"),
            gapSeconds = 1800),
          s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink
        .where(col("user_id") >= 0)
        .orderBy(col("user_id"), col("start_us"))
    }),

    // Per-user categorical profile on transformWithState MAP state —
    // event_type → (count, cents) per user, one RocksDB entry per
    // category (completes the Value/List/Map/Timer state quartet;
    // streaming/StatefulProfile).
    "q165_category_profile" -> ((s, dir) => {
      val base = scratch("q165")
      stageEventsJson(s, dir, base)
      StreamIngest.runBounded(
          graft.streaming.StatefulProfile.categoryProfile(StreamIngest.events(s, s"$base/in")),
          s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Dirty-ingestion quarantine: every 7th event line is deterministically
    // mangled at staging; PERMISSIVE from_json routes it to quarantine,
    // the clean side types fully, and the one-row audit pins the
    // conservation law (ingest/Quarantine).
    // Temporal train/test split with a leakage embargo: trailing 90
    // days = test, a 14-day excluded gap, max-anchored deterministic
    // boundaries (text/Splits.temporalEmbargoSplit over orders).
    "q171_embargo_split" -> ((s, dir) =>
      graft.text.Splits.temporalEmbargoSplit(
          T(s, dir, "orders"), "o_orderdate",
          holdoutDays = 90, embargoDays = 14)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_orders"),
          date_format(min(col("o_orderdate").cast("date")), "yyyy-MM-dd").as("min_date"),
          date_format(max(col("o_orderdate").cast("date")), "yyyy-MM-dd").as("max_date"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("revenue_cents"))
        .orderBy(col("split"))),

    // Avro producer leg (closes S14): RecommendationEvent rows built from
    // orders (custkey → first-3 orderkeys + last order date), encoded in
    // the Confluent wire frame exactly as the reference's Schema-Registry
    // serializer would (KafkaEventProducer.cs:27–36,
    // RecommendationEventSchema.cs:5–19), then decoded back. Gated on
    // BOTH directions: decoded fields must round-trip AND the encoded
    // byte length must equal the oracle's independent zigzag-varint
    // replay of the Avro binary spec — a wrong varint, missing array
    // terminator, or frame drift shifts avro_len and fails the hash.
    "q172_avro_roundtrip" -> ((s, dir) => {
      import graft.functions.{avro_decode, avro_encode}
      val sch = graft.streaming.StreamIngest.RecommendationEventAvroSchema
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          slice(sort_array(collect_list(col("o_orderkey"))), 1, 3)
            .as("recommendations"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd'T'HH:mm:ss")
            .as("timestamp"))
        .select(avro_encode(
          struct(col("o_custkey").as("requestedUserId"),
            col("recommendations"), col("timestamp")),
          sch, schemaId = 7).as("payload"))
        .select(length(col("payload")).cast("long").as("avro_len"),
          avro_decode(col("payload"), sch, schemaId = 7).as("d"))
        .select(col("d.requestedUserId").as("user_id"),
          size(col("d.recommendations")).cast("long").as("n_recs"),
          expr("aggregate(d.recommendations, 0L, (a, x) -> a + x)")
            .as("rec_sum"),
          col("d.timestamp").as("ts"),
          col("avro_len"))
        .orderBy(col("user_id"))
    }),

    // Cohen's kappa between the logistic quality model and a cheap
    // length-rule rater — the chance-corrected agreement check that a
    // heuristic can (or cannot) stand in for the model filter
    // (analytics/Eval.cohenKappa); pure-integer 2×2 arithmetic with
    // explicit floor semantics on the possibly-negative numerator.
    "q173_rater_kappa" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val rated = graft.quality.ModelFilter.logitQuality(docs)
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .select(col("keep").as("model_keep"),
          (col("n_chars") >= 100 && col("n_chars") <= 400).as("rule_keep"))
      graft.analytics.Eval.cohenKappa(rated, "model_keep", "rule_keep")
    }),

    // Reliability diagram + Brier score of the quality model's sigmoid
    // against the q160 language label — per-decile mean prediction vs
    // empirical rate, global Brier on every row via the broadcast
    // scalar frame (analytics/Eval.calibrationBins).
    "q174_calibration_bins" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scored = graft.quality.ModelFilter.logitQuality(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("score_micro"), (col("lang") === "en").as("is_en"))
      graft.analytics.Eval.calibrationBins(scored, "score_micro", "is_en")
    }),

    // Reciprocal-rank fusion of the q108 BM25 leg with a raw
    // length-normalized TF leg — hybrid retrieval without score
    // calibration; per-leg contributions are exact integer nano-units
    // (text/Search.rrfFusion, kFuse = 60).
    "q175_rrf_fusion" -> ((s, dir) =>
      graft.text.Search.rrfFusion(T(s, dir, "documents"),
        terms = Seq("spark", "join"), k = 10)),

    // Length-bucketed batching profile: power-of-two cap ladder,
    // truncation counted at the top cap, per-bucket padding efficiency
    // in micro-units (text/Splits.lengthBuckets).
    "q176_length_buckets" -> ((s, dir) =>
      graft.text.Splits.lengthBuckets(T(s, dir, "documents"))),

    // Distinct l-diversity audit over the events fact: groups keyed by
    // (cohort, day) that pass k-anonymity by size can still leak the
    // sensitive event_type when it is near-constant inside the group —
    // the homogeneity attack (quality/Anonymity.lDiversity, l = 3).
    "q177_l_diversity" -> ((s, dir) =>
      graft.quality.Anonymity.lDiversity(T(s, dir, "events"),
          quasi = Seq(
            "cohort" -> (col("user_id") % 20),
            "day" -> to_date(col("ts"))),
          sensitive = col("event_type"), l = 3)
        .orderBy(col("cohort"), col("day"))),

    // Exact nDCG@10 + MRR of the BM25 ranking against graded relevance
    // (2·is-English + is-substantial): position discounts are Scala-
    // computed literals on BOTH engines, so the log₂ never runs inside
    // either (analytics/Eval.rankedNdcgMrr; dcgWeightMicro).
    "q178_ranking_ndcg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = T(s, dir, "documents")
      val ranked = graft.text.Search.bm25TopDocs(docs, Seq("spark", "join"), k = 10)
        .select(col("doc_id"), row_number().over(
            Window.orderBy(col("bm25_micro").desc, col("doc_id").asc))
          .cast("long").as("rank"))
        .join(docs.select(col("doc_id"),
          ((col("lang") === "en").cast("long") * 2 +
            (col("n_chars") >= 150).cast("long")).as("rel")), Seq("doc_id"))
      graft.analytics.Eval.rankedNdcgMrr(ranked, "rank", "rel", k = 10)
    }),

    // Large-star/small-star connected components (Kiveris et al.,
    // KDD'14) over the SAME near-dup edge set as q38 — the O(log n)-
    // round plan for long duplicate chains where min-label propagation
    // needs diameter rounds; gated against the IDENTICAL recursive-
    // closure oracle (the multi-plan discipline of the three exact-
    // Jaccard joins). graph/ConnectedComponents.twoPhase.
    "q179_cc_twophase" -> ((s, dir) =>
      graft.graph.ConnectedComponents.twoPhase(
          Dedup.ngramJaccard(Tables.documents(s, dir), n = 3, threshold = 0.4))
        .orderBy(col("doc_id"))),

    // Deterministic negative sampling for contrastive training: ≤5
    // md5-drawn non-interacted items per user from 25 vectorized trials
    // (recommend/NegativeSampling); per-user sums pin every draw, and
    // the oracle replays the identical md5 arithmetic and rejection.
    "q180_negative_sampling" -> ((s, dir) => {
      val likes = Pipelines.likes(T(s, dir, "orders"), T(s, dir, "lineitem"))
      val nParts = T(s, dir, "part").count()
      // keyOffset = 1: part keys are 1-based (ADVICE r8 — a 0-based
      // draw could emit nonexistent item 0 and never draw key nParts)
      graft.recommend.NegativeSampling.sample(likes, nParts, k = 5, trials = 25,
          keyOffset = 1L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_neg"), sum(col("item_id")).as("neg_sum"),
          sum(col("trial")).as("trial_sum"))
        .orderBy(col("user_id"))
    }),

    // Pseudo-relevance-feedback expansion: terms of the top-3 BM25 hits
    // ranked by feedback-tf × rational idf, original query terms
    // excluded (text/Search.prfExpansion — Rocchio's positive half).
    "q181_prf_expansion" -> ((s, dir) =>
      graft.text.Search.prfExpansion(T(s, dir, "documents"),
        Seq("spark", "join"), feedbackDocs = 3, expansionK = 5)),

    // Deterministic epoch shuffle: dense global training order from the
    // bucketed two-pass enumeration (no single-partition window), the
    // per-decile position-weighted checksum pinning the ENTIRE order
    // (text/Splits.trainingOrder).
    "q182_training_order" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val total = docs.agg(count(lit(1)).as("__n"))
      graft.text.Splits.trainingOrder(docs, "doc_id")
        .crossJoin(broadcast(total))
        .select(expr("((pos - 1) * 10) div __n").as("decile"),
          col("pos"), col("doc_id"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"),
          sum(((col("pos") % 1000003L) * ((col("doc_id") % 1000003L) + 1L))
            % 1000000007L).as("ord_checksum"))
        .orderBy(col("decile"))
    }),

    // k-fold cross-validation assignment under the q126 leakage
    // contract: fold = md5-bucket(near-dup-cluster representative) % k,
    // so a duplicate cluster can never straddle folds and folds are a
    // pure replayable function of content keys (text/Splits.kFold).
    "q185_kfold_split" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val clusters = graft.text.Dedup.duplicateClusters(
        graft.text.Dedup.ngramJaccard(docs, n = 3, threshold = 0.4))
      graft.text.Splits.kFold(docs.select("doc_id"), "doc_id", clusters, k = 5)
        .select(col("doc_id"), col("split_key"), col("fold"))
        .orderBy(col("doc_id"))
    }),

    // Corpus clustering profile: deterministic fixed-point k-means
    // (8 cells, 2 Lloyd's rounds), every vector assigned to its
    // max-cosine cell, one report row per cluster — cardinality,
    // smallest member, summed member→centroid cosine in micro-units —
    // the topic-map / cluster-balanced-sampling input
    // (vector/Similarity.kmeansClusterProfile).
    "q186_cluster_profile" -> ((s, dir) =>
      graft.vector.Similarity.kmeansClusterProfile(
        T(s, dir, "embeddings"), nCentroids = 8, iterations = 2)),

    // Per-dimension embedding standardization audit: mean/std in
    // micro-units plus 3σ-outlier component counts, all off ONE
    // constant-buffer vector_moments pass (d + d(d+1)/2 doubles per
    // partition partial — never a rows×dims shuffle) and one broadcast
    // z-test re-scan in exact micro-unit arithmetic
    // (vector/Stats.standardizeAudit).
    "q187_embedding_standardize" -> ((s, dir) =>
      graft.vector.Stats.standardizeAudit(T(s, dir, "embeddings"))
        .orderBy(col("dim"))),

    // Top principal component, the textbook distributed split (MLlib
    // RowMatrix shape): covariance from the same vector_moments pass,
    // micro-rounded so engine and oracle power-iterate the SAME d×d
    // matrix; 3 driver-side rounds on 32 KB of metadata, iterates
    // re-pinned to micro-units each round so float summation-order
    // drift cannot compound (vector/Stats.pcaTopComponent).
    "q188_pca_power" -> ((s, dir) =>
      graft.vector.Stats.pcaTopComponent(T(s, dir, "embeddings"), iters = 3)
        .orderBy(col("dim"))),

    // Character-entropy quality gate (C4/Gopher rule family): Shannon
    // entropy of each doc's codepoint distribution in micro-bits via
    // the row-local char_entropy expression — one codegen'd pass, zero
    // shuffle, where the composable form explodes rows×chars through a
    // two-level aggregate (functions/CharEntropy.scala).
    "q189_char_entropy" -> ((s, dir) => {
      import graft.functions.char_entropy
      T(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("n"),
          char_entropy(col("text")).as("entropy_micro"))
        .withColumn("low_entropy", col("entropy_micro") < 2000000L)
        .orderBy(col("doc_id"))
    }),

    // SemDeDup (Abbas et al. 2023): within-k-means-cell cosine near-dup
    // groups, keep the member FARTHEST from its centroid per group (the
    // paper's diversity-preserving rule). Planted q48-style perturbed
    // copies give the gate real duplicate groups to adjudicate; the
    // oracle replays centroid training, assignment, pair scoring, the
    // component closure, and every keep decision
    // (vector/Similarity.semanticDedup).
    "q190_semantic_dedup" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      val planted = base.filter(col("vec_id") < 12)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          expr("concat(array(embedding[0] + 0.01d), slice(embedding, 2, size(embedding) - 1))")
            .as("embedding"))
      Similarity.semanticDedup(base.unionByName(planted),
          nCentroids = 8, iterations = 2, threshold = 0.92)
        .orderBy(col("vec_id"))
    }),

    // Streaming drift monitor: per-day value histograms aggregated IN
    // the stream (watermarked tumbling windows, checkpointed sink),
    // then every day scored against day-1's distribution with the PSI
    // fixed-point contract — the input-drift alarm a production
    // ingestion pipeline runs continuously
    // (streaming/StreamAgg.windowedHistogram +
    // analytics/Drift.psiVsFirstWindow).
    "q191_stream_drift" -> ((s, dir) => {
      val base = scratch("q191")
      val ev = Tables.events(s, dir)
      val sentinel = ev.agg(max(col("ts")).as("mx"))
        .select(lit(0L).as("user_id"), lit("__sentinel").as("event_type"),
          (unix_micros(col("mx")) + lit(30L * 86400L * 1000000L)).as("ts_us"),
          lit(0.0).as("value"))
      ev.select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .unionByName(sentinel)
        .select(to_json(struct(col("user_id"), col("event_type"),
          col("ts_us"), col("value"))).as("value"))
        // one file ⇒ one micro-batch (the q32 sentinel contract)
        .coalesce(1)
        .write.mode("overwrite").text(s"$base/in")
      graft.analytics.Drift.psiVsFirstWindow(
        StreamIngest.runBounded(
          StreamAgg.windowedHistogram(StreamIngest.events(s, s"$base/in"),
            windowLength = "1 day", watermarkDelay = "1 minute", binWidth = 25.0),
          s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink)
        .select(date_format(col("window_start"), "yyyy-MM-dd").as("window_day"),
          col("n_ref"), col("n_win"), col("n_bins"), col("psi_nano"))
        .orderBy(col("window_day"))
    }),

    // Persisted-sketch distinct counting: per-day HLL register blocks
    // written to a parquet sketch table, weekly uniques answered by
    // MERGING the stored sketches (no rescan of the fact). Gated on the
    // envelope discipline (q42) PLUS the union identity — the weekly
    // merge of daily sketches must be register-for-register IDENTICAL
    // to a sketch built directly over the week's rows, because max is
    // associative/commutative/idempotent (functions/HllSketch.scala).
    "q192_hll_sketch_column" -> ((s, dir) => {
      import graft.functions.{hll_count, hll_sketch, hll_union}
      val base = scratch("q192")
      val ev = Tables.events(s, dir)
        .select(weekofyear(to_date(col("ts"))).cast("long").as("week"),
          to_date(col("ts")).as("day"), col("user_id"))
      ev.groupBy(col("week"), col("day"))
        .agg(hll_sketch(col("user_id"), 12).as("sk"))
        .write.mode("overwrite").parquet(s"$base/sketches")
      val weeklyFromStored = s.read.parquet(s"$base/sketches")
        .groupBy(col("week"))
        .agg(hll_union(col("sk")).as("sk_merged"))
      val weeklyDirect = ev.groupBy(col("week"))
        .agg(hll_sketch(col("user_id"), 12).as("sk_direct"),
          countDistinct(col("user_id")).as("exact_users"))
      // 5σ of HLL's ~1.04/√m standard error at m = 2^12
      val band = 5.0 * 1.04 / math.sqrt(4096.0)
      weeklyFromStored.join(weeklyDirect, Seq("week"))
        .select(col("week"), col("exact_users"),
          (abs(hll_count(col("sk_merged")) - col("exact_users"))
            .cast("double") / col("exact_users").cast("double")
            <= band).as("within_env"),
          (col("sk_merged") === col("sk_direct")).as("merge_consistent"))
        .orderBy(col("week"))
    }),

    // The quantile sibling of q192's sketch table, composed entirely
    // from built-ins: per-day equi-width histogram arrays stored to
    // parquet, weekly rollups by zip_with integer addition (no fact
    // rescan), p50/p95 interpolated from exact integer cumulative
    // counts — so unlike GK/KLL the ESTIMATES themselves replay in the
    // oracle bit-for-bit, no envelope needed
    // (analytics/Quantiles.equiWidthSketch).
    "q193_hist_sketch_quantiles" -> ((s, dir) => {
      import graft.analytics.Quantiles
      val base = scratch("q193")
      val ev = Tables.events(s, dir)
        .select(weekofyear(to_date(col("ts"))).cast("long").as("week"),
          to_date(col("ts")).as("day"), col("value"))
      Quantiles.equiWidthSketch(ev, "value", Seq("week", "day"),
          lo = 0.0, hi = 500.0, bins = 100)
        .write.mode("overwrite").parquet(s"$base/sketches")
      val weekly = s.read.parquet(s"$base/sketches")
        .groupBy(col("week"))
        .agg(Quantiles.mergeSketches(col("sketch"), bins = 100).as("sk"))
      val direct = Quantiles.equiWidthSketch(ev, "value", Seq("week"),
          lo = 0.0, hi = 500.0, bins = 100)
        .withColumnRenamed("sketch", "sk_direct")
      weekly.join(direct, Seq("week"))
        .select(col("week"),
          aggregate(col("sk"), lit(0L), (a, x) => a + x).as("n"),
          round(Quantiles.quantileFromSketch(col("sk"), 0.5, 0.0, 500.0, 100)
            * 1e6).cast("long").as("p50_micro"),
          round(Quantiles.quantileFromSketch(col("sk"), 0.95, 0.0, 500.0, 100)
            * 1e6).cast("long").as("p95_micro"),
          (col("sk") === col("sk_direct")).as("merge_consistent"))
        .orderBy(col("week"))
    }),

    // Sketch algebra: pairwise audience overlap across event types via
    // inclusion–exclusion on per-segment HLL sketches — |A∩B| answered
    // from THREE register blocks (est A + est B − est A∪B, the union
    // one register-wise hll_merge2), no pairwise key join; the exact
    // overlap rides along only for the gate
    // (operators/Sketches.overlapEnvelope).
    "q194_sketch_overlap" -> ((s, dir) =>
      graft.operators.Sketches.overlapEnvelope(
          T(s, dir, "events"), "event_type", "user_id", p = 12)
        .orderBy(col("seg_a"), col("seg_b"))),

    // Heavy hitters IN streaming state: the mergeable Misra–Gries
    // summary (q154's aggregate) lives inside a watermarked window
    // aggregation — micro-batch/partition partials merge through the
    // state buffer and the sketch's HARD guarantees survive (presence
    // above n/(k+1), est ≤ true, bounded deficit), which is what the
    // gate asserts per closed window
    // (streaming/StreamAgg.windowedHeavyHitters).
    "q195_stream_heavy_hitters" -> ((s, dir) => {
      val base = scratch("q195")
      val ev = Tables.events(s, dir)
      val sentinel = ev.agg(max(col("ts")).as("mx"))
        .select(lit(0L).as("user_id"), lit("__sentinel").as("event_type"),
          (unix_micros(col("mx")) + lit(30L * 86400L * 1000000L)).as("ts_us"),
          lit(0.0).as("value"))
      ev.select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .unionByName(sentinel)
        .select(to_json(struct(col("user_id"), col("event_type"),
          col("ts_us"), col("value"))).as("value"))
        .coalesce(1)
        .write.mode("overwrite").text(s"$base/in")
      val k = 8
      val ests = StreamIngest.runBounded(
          StreamAgg.windowedHeavyHitters(StreamIngest.events(s, s"$base/in"),
            itemCol = "event_type", k = k,
            windowLength = "1 day", watermarkDelay = "1 minute"),
          s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink
        .select(date_format(col("window_start"), "yyyy-MM-dd").as("window_day"),
          col("n"), explode(col("mg")).as(Seq("item", "est")))
      val exact = ev.groupBy(
          date_format(col("ts"), "yyyy-MM-dd").as("window_day"),
          col("event_type").as("item"))
        .agg(count(lit(1)).as("true_count"))
      // guaranteed set from EXACT counts (deterministic); the sketch
      // side contributes only the pinned booleans
      exact.join(ests.select(col("window_day"), col("n")).distinct(),
          Seq("window_day"))
        .filter(col("true_count") * (k + 1) > col("n"))
        .join(ests.select(col("window_day"), col("item"), col("est")),
          Seq("window_day", "item"), "left")
        .select(col("window_day"), col("item"), col("true_count"),
          col("est").isNotNull.as("in_sketch"),
          (col("est") <= col("true_count") &&
            (col("true_count") - col("est")) * (k + 1) <= col("n"))
            .as("est_within_band"))
        .orderBy(col("window_day"), col("item"))
    }),

    // Embedding-store int8 quantization: per-dim affine codes from one
    // min/max pass, round-trip error hard-bounded by scale/2 per dim.
    // min/max are order-independent, so — unlike mean-based paths —
    // every code and error value is bit-deterministic and the gate
    // hashes them directly (vector/Stats.quantizeInt8).
    "q196_embedding_quantize" -> ((s, dir) =>
      graft.vector.Stats.quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
          col("max_err_micro"), col("within_bound"))
        .orderBy(col("vec_id"))),

    // Streaming distinct-count sketches: per-day HLL registers built IN
    // watermarked window state (idempotent max — replays can't double-
    // count), then (a) each day's estimate enveloped against the exact
    // batch distinct and (b) the month union of STREAM-written sketches
    // asserted register-identical to a BATCH-built month sketch — the
    // stream and batch paths must land the same bytes
    // (streaming/StreamAgg.windowedDistinctSketch).
    "q198_stream_distinct_sketch" -> ((s, dir) => {
      import graft.functions.{hll_count, hll_sketch, hll_union}
      val base = scratch("q198")
      val ev = Tables.events(s, dir)
      val sentinel = ev.agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("user_id"), lit("__sentinel").as("event_type"),
          (unix_micros(col("mx")) + lit(30L * 86400L * 1000000L)).as("ts_us"),
          lit(0.0).as("value"))
      ev.select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .unionByName(sentinel)
        .select(to_json(struct(col("user_id"), col("event_type"),
          col("ts_us"), col("value"))).as("value"))
        .coalesce(1)
        .write.mode("overwrite").text(s"$base/in")
      val sink = StreamIngest.runBounded(
        StreamAgg.windowedDistinctSketch(StreamIngest.events(s, s"$base/in"),
          keyCol = "user_id", p = 12,
          windowLength = "1 day", watermarkDelay = "1 minute"),
        s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink
      val exact = ev.groupBy(
          date_format(col("ts"), "yyyy-MM-dd").as("window_day"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      val band = 5.0 * 1.04 / math.sqrt(4096.0)
      val monthly = sink.agg(hll_union(col("sk")).as("msk"))
        .crossJoin(ev.agg(hll_sketch(col("user_id"), 12).as("bsk")))
        .select((col("msk") === col("bsk")).as("month_union_consistent"))
      sink.select(date_format(col("window_start"), "yyyy-MM-dd")
            .as("window_day"), col("sk"))
        .join(exact, Seq("window_day"))
        .crossJoin(broadcast(monthly))
        .select(col("window_day"), col("exact_users"),
          (abs(hll_count(col("sk")) - col("exact_users")).cast("double")
            / col("exact_users").cast("double") <= band).as("within_env"),
          col("month_union_consistent"))
        .orderBy(col("window_day"))
    }),

    // Theil–Sen robust trend per event type: the median of all pairwise
    // slopes of the daily value series — breakdown point 29%, so burst
    // corruption can't drag the drift rate the way OLS would. CUSUM
    // (q206) asks "did the level shift?"; this asks "what is the
    // underlying rate?". Each slope is one integer/integer double
    // division and the median is pure SELECTION (lower median), so the
    // oracle replays every value — full hash gate
    // (analytics/Robust.theilSenTrend).
    "q209_theilsen_trend" -> ((s, dir) =>
      graft.analytics.Robust.theilSenTrend(
        Tables.events(s, dir), "event_type", "ts", "value")),

    // The q201 payoff: per-language corpus totals estimated from the
    // 100-row priority sample alone — Σ_{kept∩lang} max(w, τ) is
    // unbiased for Σ_lang w by the DLT guarantee, so one tiny stored
    // sample answers every per-subset budget question with no corpus
    // rescan. Exact totals ride along for comparison; everything
    // (sample, estimates, counts) replays in SQL — full hash gate.
    "q208_sample_subset_sums" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val kept = graft.operators.Sampling.prioritySample(
          docs, "doc_id", "n_chars", k = 100)
        .select(col("id"), col("est_micro"))
      val exact = docs.groupBy(col("lang"))
        .agg(sum(col("n_chars")).as("exact_chars"))
      val est = kept
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy(col("lang"))
        .agg(sum(col("est_micro")).as("est_micro_sum"),
          count(lit(1)).as("n_sampled"))
      exact.join(est, Seq("lang"), "left")
        .na.fill(0L, Seq("est_micro_sum", "n_sampled"))
        .orderBy(col("lang"))
    }),

    // Sequence packing assignment (operators/Packing): shard-local
    // next-fit into 512-token context windows — the sequential unit is
    // a SHARD (64 parallel ordered passes via flatMapSortedGroups), not
    // the corpus, so packing scales with shard count while the whole
    // assignment stays a pure function of (shard, id order, lengths).
    // The oracle replays it as a per-shard recursive CTE: full hash
    // gate on every (doc → window) assignment.
    "q207_sequence_packing" -> ((s, dir) =>
      graft.operators.Packing.nextFitPack(
          T(s, dir, "documents").withColumn("tok", expr("n_chars div 4")),
          "doc_id", "tok", shards = 64, capacity = 512)
        .orderBy(col("shard"), col("doc_id"))),

    // CUSUM change-point monitor over the daily value mean: catches the
    // sustained small level shift that per-window drift scores
    // (q114/q141/q149/q191) smear out. The sequential recursion is
    // computed via its exact prefix-sum closed form
    // S⁺ = P − min(0, runmin P), so engine and oracle both use two
    // window functions in exact integer micro-units — full hash gate
    // (analytics/ChangePoint.cusumDaily).
    "q206_cusum_changepoint" -> ((s, dir) =>
      graft.analytics.ChangePoint.cusumDaily(
          Tables.events(s, dir), "ts", "value")
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("day"))),

    // Streaming dataset fingerprints: q203's additive digest sum
    // maintained per event-time day in watermarked window state. The
    // gate is the ANTI-q198: a sum is NOT idempotent, so per-day
    // stream-vs-batch fingerprint equality certifies the checkpointed
    // exactly-once path (at-least-once delivery would move the digest
    // where the HLL register max would absorb it)
    // (streaming/StreamAgg.windowedFingerprint).
    "q205_stream_fingerprint" -> ((s, dir) => {
      val base = scratch("q205")
      val ev = Tables.events(s, dir)
      val sentinel = ev.agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("user_id"), lit("__sentinel").as("event_type"),
          (unix_micros(col("mx")) + lit(30L * 86400L * 1000000L)).as("ts_us"),
          lit(0.0).as("value"))
      ev.select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .unionByName(sentinel)
        .select(to_json(struct(col("user_id"), col("event_type"),
          col("ts_us"), col("value"))).as("value"))
        .coalesce(1)
        .write.mode("overwrite").text(s"$base/in")
      val sink = StreamIngest.runBounded(
        StreamAgg.windowedFingerprint(StreamIngest.events(s, s"$base/in"),
          windowLength = "1 day", watermarkDelay = "1 minute"),
        s"$base/sink", s"$base/ckpt", statePartitions = Some(8)).sink
      val batch = ev.groupBy(
          date_format(col("ts"), "yyyy-MM-dd").as("window_day"))
        .agg(count(lit(1)).as("n_rows"),
          sum(graft.ingest.Fingerprint.rowDigest(Seq(
            col("user_id").cast("string"), col("event_type"),
            unix_micros(col("ts")).cast("string")))).as("fp"))
      sink.select(date_format(col("window_start"), "yyyy-MM-dd")
            .as("window_day"),
          col("fp").as("fp_stream"), col("n_rows").as("n_stream"))
        .join(batch, Seq("window_day"))
        .select(col("window_day"), col("n_rows"), col("fp"),
          (col("fp_stream") === col("fp") && col("n_stream") === col("n_rows"))
            .as("stream_matches_batch"))
        .orderBy(col("window_day"))
    }),

    // Join-size planning from key summaries: the CMS inner product
    // min_j Σ_w a[j][w]·b[j][w] estimates |A ⋈ B| from two stored
    // counter matrices WITHOUT running the join (Cormode &
    // Muthukrishnan 2005 §4.2) — a hard overestimate (collisions only
    // add), ε = e/width above truth w.p. 1−e^−depth; deterministic
    // here, so both bounds gate as literal TRUE
    // (functions/CmsSketch.scala).
    "q199_join_size_sketch" -> ((s, dir) => {
      import graft.functions.{cms_inner, cms_sketch}
      val eps = math.E / 2048.0
      val cases = Seq(
        ("customer_orders", T(s, dir, "customer"), "c_custkey",
          T(s, dir, "orders"), "o_custkey"),
        ("orders_lineitem", T(s, dir, "orders"), "o_orderkey",
          T(s, dir, "lineitem"), "l_orderkey"))
      cases.map { case (nm, a, ka, b, kb) =>
        val sa = a.agg(cms_sketch(col(ka), 5, 2048).as("ska"),
          count(col(ka)).as("na"))
        val sb = b.agg(cms_sketch(col(kb), 5, 2048).as("skb"),
          count(col(kb)).as("nb"))
        val ex = a.select(col(ka).as("k"))
          .join(b.select(col(kb).as("k")), Seq("k"))
          .agg(count(lit(1)).as("exact_join_size"))
        sa.crossJoin(sb).crossJoin(ex)
          .select(lit(nm).as("pair"), col("exact_join_size"),
            (cms_inner(col("ska"), col("skb")) >= col("exact_join_size"))
              .as("overcount_ok"),
            (cms_inner(col("ska"), col("skb")).cast("double")
              <= col("exact_join_size").cast("double")
                + lit(eps) * col("na").cast("double") * col("nb").cast("double"))
              .as("within_eps"))
      }.reduce(_ unionByName _).orderBy(col("pair"))
    }),

    // Set algebra on KMV / theta sketches: pairwise audience
    // intersection AND difference answered directly from stored
    // k-minimum-hash samples (q194's HLL can only inclusion–exclusion
    // the intersection, with error riding the union size). Three pinned
    // contracts: both estimates inside the σ·|A∪B|/√k sampling band,
    // and the bit-for-bit merge identity — the fold of per-segment
    // sketches equals one sketch over all rows
    // (operators/Sketches.kmvSetOpsEnvelope, functions/KmvSketch.scala).
    "q200_theta_setops" -> ((s, dir) =>
      graft.operators.Sketches.kmvSetOpsEnvelope(
          T(s, dir, "events"), "event_type", "user_id", k = 512)
        .orderBy(col("seg_a"), col("seg_b"))),

    // Priority sampling (Duffield–Lund–Thorup): a 100-doc
    // without-replacement weighted sample whose max(w, τ) estimates
    // make ANY downstream subset-sum unbiased — the one-scan answer to
    // budget questions about a corpus too big to rescan. The u draw is
    // md5-derived, so sample, τ, and every estimate replay EXACTLY in
    // the oracle — a full hash gate on a sampling operator, plus the
    // Var ≤ W²/(k−1) band on the realized total
    // (operators/Sampling.prioritySample).
    "q201_priority_sample" -> ((s, dir) =>
      graft.operators.Sampling.prioritySample(
          T(s, dir, "documents"), "doc_id", "n_chars", k = 100)
        .orderBy(col("id"))),

    // Johnson–Lindenstrauss 64→16 projection with deterministic
    // Rademacher signs (Achlioptas 2003): shrinks every downstream
    // ANN/dedup scan 4× while preserving geometry; micro fixed-point
    // integer multiply-accumulate makes the ENTIRE projection
    // hash-replayable (norms + position-weighted checksum), with the
    // E[‖p‖²] = d′·‖x‖² concentration band riding along
    // (vector/Project.jlSketch).
    "q202_jl_projection" -> ((s, dir) =>
      graft.vector.Project.jlSketch(
          T(s, dir, "embeddings"), "vec_id", "embedding",
          inDims = 64, outDims = 16)
        .orderBy(col("id"))),

    // Exact isotonic calibration of the quality model: PAV over 50
    // score bins — the L2-optimal monotone score→rate mapping
    // (Zadrozny–Elkan), where q174's reliability diagram only
    // DESCRIBES the miscalibration. Data-sized work is one 50-key
    // groupBy; PAV runs on the metadata-scale bin frame with exact
    // BigInt merge decisions. Hash-gated in FULL via the
    // max-min-window identity, no envelope
    // (analytics/Isotonic.isotonicCalibration).
    "q204_isotonic_calibration" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scored = graft.quality.ModelFilter.logitQuality(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("score_micro"), (col("lang") === "en").as("is_en"))
      graft.analytics.Isotonic.isotonicCalibration(
          scored, "score_micro", "is_en", binWidth = 20000L, maxBin = 49)
        .orderBy(col("bin"))
    }),

    // Dataset content fingerprint (ingest/Fingerprint): order- and
    // partitioning-invariant per-source digests that roll up additively
    // (Σ per-source fp == one global fp, gated as rollup_ok), plus a
    // tamper demo — one character appended to every doc_id%1000==7 text
    // moves every affected source's fingerprint (drift_detected), which
    // a count/sum audit would never see.
    "q203_dataset_fingerprint" -> ((s, dir) => {
      import graft.ingest.Fingerprint
      val docs = T(s, dir, "documents")
      def enc(text: org.apache.spark.sql.Column) =
        Seq(col("doc_id").cast("string"), col("lang"),
          col("n_chars").cast("string"), text)
      val base = Fingerprint.fingerprint(docs, "source", enc(col("text")))
      val mutated = docs.withColumn("text",
        when(col("doc_id") % 1000 === 7, concat(col("text"), lit("!")))
          .otherwise(col("text")))
      val mut = Fingerprint.fingerprint(mutated, "source", enc(col("text")))
        .select(col("slice"), col("fp").as("fp_mut"))
      val global = Fingerprint.fingerprint(
        docs.withColumn("__slice", lit("all")), "__slice", enc(col("text")))
      val rollup = base.agg(sum(col("fp")).as("fp_sum"))
        .crossJoin(broadcast(global.select(col("fp").as("fp_all"))))
        .select((col("fp_sum") === col("fp_all")).as("rollup_ok"))
      base.join(mut, Seq("slice"))
        .select(col("slice").as("source"), col("n_rows"), col("fp"),
          col("fp_mut"), (col("fp") =!= col("fp_mut")).as("drift_detected"))
        .crossJoin(broadcast(rollup))
        .orderBy(col("source"))
    }),

    // Serving over the quantized store: top-k by integer code dot
    // product — all-integer scores make ranks, ties, AND scores
    // exactly replayable (full hash gate, no rounded-score contract
    // needed); corpus crosses once against the broadcast coded queries
    // through the bounded heap (vector/Stats.int8TopK).
    "q197_ann_int8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.vector.Stats.int8TopK(emb, emb.filter(col("vec_id") < 5), k = 10)
    }),

    // Streaming Avro consumption — the reference's second producer topic
    // replayed offline: Confluent-framed Avro payloads staged as a
    // binary column, readStream → avro_decode → checkpointed parquet
    // sink (exactly-once, Trigger.AvailableNow), sink read back and
    // aggregated. The oracle is the q172 derivation minus the wire
    // column (decode ∘ encode is the identity over the frame), so the
    // gate covers the full stream-source→decode→persist path.
    "q184_stream_avro" -> ((s, dir) => {
      import graft.functions.{avro_decode, avro_encode}
      val base = scratch("q184")
      val sch = graft.streaming.StreamIngest.RecommendationEventAvroSchema
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(slice(sort_array(collect_list(col("o_orderkey"))), 1, 3)
            .as("recommendations"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd'T'HH:mm:ss")
            .as("timestamp"))
        .select(avro_encode(struct(col("o_custkey").as("requestedUserId"),
          col("recommendations"), col("timestamp")), sch, schemaId = 7)
          .as("payload"))
        .write.mode("overwrite").parquet(s"$base/in")
      val inSchema = new org.apache.spark.sql.types.StructType()
        .add("payload", org.apache.spark.sql.types.BinaryType)
      val q = s.readStream.schema(inSchema).parquet(s"$base/in")
        .select(avro_decode(col("payload"), sch, schemaId = 7).as("d"))
        .select(col("d.requestedUserId").as("user_id"),
          col("d.recommendations").as("recommendations"),
          col("d.timestamp").as("ts"))
        .writeStream.format("parquet")
        .option("path", s"$base/sink")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/sink")
        .select(col("user_id"),
          size(col("recommendations")).cast("long").as("n_recs"),
          expr("aggregate(recommendations, 0L, (a, x) -> a + x)")
            .as("rec_sum"),
          col("ts"))
        .orderBy(col("user_id"))
    }),

    // Perceptual-fingerprint near-dup over binary payloads: 256-bin
    // byte histograms (fixed-width; payloads never shuffle), candidates
    // via the LOSSLESS size band L1 ≥ |n_bytes₁ − n_bytes₂| riding the
    // banded RangeJoin, exact L1 ≤ 20 filter
    // (multimodal/Multimodal.histogramNearDup).
    "q183_payload_histdup" -> ((s, dir) =>
      graft.multimodal.Multimodal.histogramNearDup(
          graft.multimodal.Multimodal.toMedia(s, T(s, dir, "documents")),
          threshold = 20L)
        .orderBy(col("doc_id_1"), col("doc_id_2"))),

    // Equi-depth histogram of lineitem quantity — 10 exact-quantile
    // buckets over a heavily-tied integer-valued column (ties sit low,
    // buckets exactly defined though uneven;
    // analytics/Quantiles.equiDepthHistogram).
    "q170_equidepth_histogram" -> ((s, dir) =>
      graft.analytics.Quantiles.equiDepthHistogram(
        T(s, dir, "lineitem"), "l_quantity", nBuckets = 10)
        .orderBy(col("bucket"))),

    // Leave-one-source-out jackknife of the corpus quality mean — which
    // source drags the statistic, in exact integer micro-units
    // (analytics/Eval.leaveOneGroupOut over the q147 scorer).
    "q169_source_jackknife" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.analytics.Eval.leaveOneGroupOut(
        graft.quality.ModelFilter.logitQuality(docs)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "source", "score_micro")
        .orderBy(col("source"))
    }),

    // MMR diverse re-ranking: query = vec 0's embedding, pool = the
    // rest; λ=0.5 greedy relevance-vs-redundancy picks with the
    // incremental max-sim state (vector/Mmr.rerank; oracle unrolls the
    // 6 rounds with the identical float recipe).
    "q168_mmr_rerank" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val qRow = emb.where(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))")).head()
      graft.vector.Mmr.rerank(emb.where(col("vec_id") =!= 0),
          qRow.getSeq[Double](0), k = 6, lambdaMicro = 500000)
        .orderBy(col("round"))
    }),

    // Tokenizer fertility/compression report over the 6-round learned
    // BPE: pieces-per-word-occurrence and chars-per-piece in integer
    // micro-units — the "is this vocabulary any good" readout of a
    // tokenizer pipeline (composes q138/q139's learn + segment).
    "q167_bpe_fertility" -> ((s, dir) => {
      val dict = graft.text.Bpe.wordDict(
        Tables.documents(s, dir), wordPattern = "^[a-z]+$")
      val table = graft.text.Bpe.learnMerges(s, dict, rounds = 6)
      graft.text.Bpe.segment(s, dict, table)
        .agg(count(lit(1)).as("n_distinct_words"),
          sum(col("n")).as("n_words"),
          sum(col("n") * size(col("pieces"))).as("n_pieces"),
          sum(col("n") * length(col("word"))).as("n_chars"))
        .select(col("n_distinct_words"), col("n_words"), col("n_pieces"),
          col("n_chars"),
          expr("(n_pieces * 1000000) div n_words").as("fertility_micro"),
          expr("(n_chars * 1000000) div n_pieces").as("compression_micro"))
    }),

    "q166_ingest_quarantine" -> ((s, dir) => {
      val base = scratch("q166")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .select(when(col("event_id") % 7 === 0,
            concat(lit("CORRUPT|"), to_json(struct(col("event_id")))))
          .otherwise(to_json(struct(col("event_id"), col("user_id"),
            col("value")))).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$base/in")
      graft.ingest.Quarantine.auditJsonLines(s, s"$base/in",
        "event_id LONG, user_id LONG, value DOUBLE", "value")
    }),

    // Versioned table time travel (ingest/Versioned): overwrite v1,
    // append v2, then replay EACH version with readAsOf and certify it
    // against the fingerprint archived at commit time (the additive
    // q203 digest rolled forward per commit — never a table rescan).
    // The oracle recomputes both snapshots straight from orders, so the
    // gate covers the whole write→log→replay path; matches_archived is
    // computed (falsifiable), not asserted.
    "q210_time_travel" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      val tbl = scratch("q210") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0), tbl)
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1), tbl)
      versionedReport(s, tbl)
    }),

    // Optimistic concurrent commits (ingest/Versioned): two writers
    // append to one table AT THE SAME TIME from two threads; the atomic
    // version-claim protocol serializes them — both batches survive,
    // the log is gapless, and the head's archived snapshot fingerprint
    // matches a full replay whatever order the claims landed in (the
    // additive digest is commutative, so the output is deterministic
    // while the version assignment is not — exactly what the gate can
    // and should pin).
    "q211_concurrent_commit" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      val tbl = scratch("q211") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      def slice(m: Int, tag: String) =
        orders.filter(col("o_orderkey") % 4 === m).withColumn("writer", lit(tag))
      Versioned.overwrite(slice(0, "seed"), tbl)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futs = Seq((1, "w1"), (2, "w2")).map { case (m, tag) =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = Versioned.append(slice(m, tag), tbl).version
          })
        }
        val versions = futs.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
        require(versions.toSet == Set(2L, 3L),
          s"concurrent appends must win versions 2 and 3, got $versions")
      } finally pool.shutdownNow()
      import s.implicits._
      val (headRows, headFp) = Versioned.archivedFingerprint(s, tbl, 3L)
      val replay = Versioned.read(s, tbl)
        .agg(count(lit(1)).as("n"), sum(Fingerprint.rowDigest(Seq(
          col("o_orderkey"), col("o_custkey"), col("cents"), col("writer"))))
          .as("fp")).head()
      val invariants = broadcast(Seq((
        Versioned.history(s, tbl).count(),
        replay.getLong(0) == headRows && replay.getLong(1) == headFp))
        .toDF("n_commits", "head_matches_archived"))
      Versioned.read(s, tbl)
        .groupBy(col("writer"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(invariants)
        .orderBy(col("writer"))
    }),

    // Persisted ANN serving index (vector/ServingIndex): IVF centroids,
    // PQ codebooks and cell-partitioned codes trained/encoded ONCE and
    // written as parquet tables; top-k is then served from the STORED
    // index. The probe vectors arrive as collected literal rows, so the
    // serving plan provably contains no scan of the embeddings corpus
    // (PlanShapeSpec pins it: every file scan is under the index path,
    // and the codes scan carries cell partition filters). The oracle
    // replays the q35 centroid training + q135 codebook training and
    // restricts ADC to the probed cells.
    "q212_ann_serving" -> ((s, dir) => {
      import graft.vector.ServingIndex
      val emb = Tables.embeddings(s, dir)
      val idx = scratch("q212") + "/idx"
      ServingIndex.build(s, emb, idx, nCentroids = 16, m = 4,
        codesPerSub = 16, trainIterations = 2)
      import s.implicits._
      val probeRows = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .toSeq.toDF("vec_id", "embedding")
      ServingIndex.serve(s, idx, probeRows, k = 10, nProbe = 4)
    }),

    // In-engine training of the quality classifier (quality/LogitTrain):
    // 5 full-batch gradient steps over the q147 profile features on an
    // exact integer micro grid (rational fast-sigmoid link, floor
    // division throughout), label lang='en'. Each step is ONE map-side-
    // combined aggregate; the oracle unrolls every iterate and the
    // whole coefficient trajectory hash-matches.
    "q213_logit_train" -> ((s, dir) =>
      graft.quality.LogitTrain.train(Tables.documents(s, dir), steps = 5)),

    // EXACT repeated-substring spans via distributed suffix-rank prefix
    // doubling (text/SuffixDedup) — the exact form of q95's hash-window
    // approximation: true token equality (no hash budget), and ALL
    // occurrences reported (q95's keep-first cut never shows a repeat's
    // first occurrence). O(log L) group-representative rounds, no
    // global sort; the oracle recomputes coverage by literal window
    // strings, so the gate proves the rank construction end to end.
    "q214_exact_substring_dedup" -> ((s, dir) =>
      graft.text.SuffixDedup.maximalRepeatSpans(T(s, dir, "documents"),
          minLen = 10)
        .orderBy(col("doc_id"), col("span_start"))),

    // Incremental index growth (vector/ServingIndex.append): build the
    // IVF+PQ index on HALF the corpus, append the other half ENCODED BY
    // THE STORED TABLES (no retraining — the production steady-state),
    // then serve. Because assignment/codes are pure functions of
    // (vector, stored tables), the grown index serves identically to a
    // full encode against the half-trained tables — which is exactly
    // what the oracle replays.
    // Copy-on-write UPSERT on a versioned table (ingest/Versioned
    // .upsert): matched keys replaced, new keys inserted, only the
    // files holding a matched key rewritten (their survivors become
    // new files; untouched files stay shared with older versions);
    // snapshot totals roll forward by subtracting the removed files'
    // digests — every version stays certified against its archived
    // fingerprint.
    "q216_cow_upsert" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q216") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0), tbl)
      val updates = orders.filter(col("o_orderkey") % 9 === 0)
        .withColumn("cents", col("cents") + 100L)
        .unionByName(orders.filter(col("o_orderkey") % 3 === 1 &&
          col("o_orderkey") % 5 === 0))
      Versioned.upsert(s, tbl, updates, Seq("o_orderkey"))
      versionedReport(s, tbl)
    }),

    // Copy-on-write DELETE (ingest/Versioned.deleteWhere): matching
    // rows vanish from the new version, non-matching rows of affected
    // files are rewritten, older versions still read the full data —
    // the GDPR-delete shape at file-pruned cost.
    "q217_cow_delete" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q217") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0), tbl)
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1), tbl)
      Versioned.deleteWhere(s, tbl, col("cents") % 10 < 2)
      versionedReport(s, tbl)
    }),

    // Row-level change feed (ingest/Versioned.changesBetween): the CDC
    // read over a version range — appends emit their rows, rewrites
    // diff ONLY the rewritten files against their replacements
    // (multiset exceptAll: carried-over rows cancel, updates surface
    // as delete+insert pairs), overwrites diff full content. Grouped
    // per (version, change_type) with digested row sums, so the oracle
    // pins every change row.
    "q218_change_feed" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      val tbl = scratch("q218") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0), tbl)
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1 &&
        col("o_orderkey") % 7 === 0), tbl)
      Versioned.upsert(s, tbl, orders.filter(col("o_orderkey") % 9 === 0)
        .withColumn("cents", col("cents") + 100L), Seq("o_orderkey"))
      Versioned.deleteWhere(s, tbl, col("cents") % 10 < 2)
      Versioned.changesBetween(s, tbl, 0L, 4L)
        .groupBy(col("_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"),
          sum(Fingerprint.rowDigest(Seq(col("o_orderkey"), col("o_custkey"),
            col("cents")))).as("fp"))
        .orderBy(col("version"), col("change_type"))
    }),

    // Exactly-once streaming sink into a VERSIONED table
    // (ingest/Versioned.runStreamAppend): every micro-batch lands as
    // one txn-tagged idempotent append. The gate then re-runs the
    // WHOLE stream with a fresh checkpoint (total re-delivery, the
    // worst-case recovery) — every batch is absorbed as already
    // committed, so the table holds each event exactly once and the
    // log still shows exactly one commit per original batch.
    "q219_stream_versioned" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      val base = scratch("q219")
      val tbl = s"$base/tbl"
      val ev = Tables.events(s, dir)
      ev.select(to_json(struct(col("event_id"), col("user_id"),
          col("value"))).as("value"))
        .repartition(3)
        .write.mode("overwrite").text(s"$base/in")
      def src = s.readStream
        .schema("event_id LONG, user_id LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .json(s"$base/in")
      Versioned.runStreamAppend(s, src, tbl, s"$base/ckpt1", appId = "q219")
      // full re-delivery from a fresh checkpoint: must all be absorbed
      Versioned.runStreamAppend(s, src, tbl, s"$base/ckpt2", appId = "q219")
      val head = Versioned.latestVersion(s, tbl)
      val (archRows, archFp) = Versioned.archivedFingerprint(s, tbl, head)
      import s.implicits._
      val r = Versioned.read(s, tbl)
        .agg(count(lit(1)).as("n"),
          sum(Fingerprint.rowDigest(Seq(col("event_id"), col("user_id"),
            col("value").cast("string")))).as("fp"),
          sum(round(col("value") * 1e6).cast("long")).as("vs")).head()
      Seq((Versioned.history(s, tbl).count(), r.getLong(0),
          r.getLong(0) == archRows && r.getLong(1) == archFp, r.getLong(2)))
        .toDF("n_commits", "n_rows", "matches_archived", "value_micro_sum")
    }),

    // Zone-map file skipping from LOG METADATA (ingest/Versioned
    // .readAsOfPruned): every commit archives per-file min/max of the
    // integral columns (free — the digest scan already runs), and a
    // range read drops files whose archived stats exclude the range
    // BEFORE any storage I/O. Four band-partitioned commits; the
    // [1.5M, 2.5M] cents probe provably needs only the two middle
    // files, and the pruned result is compared against the full scan.
    "q220_stats_skipping" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q220") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val bands = Seq(
        col("cents") < 1000000L,
        col("cents") >= 1000000L && col("cents") < 2000000L,
        col("cents") >= 2000000L && col("cents") < 3000000L,
        col("cents") >= 3000000L)
      Versioned.overwrite(orders.filter(bands.head).coalesce(1), tbl)
      bands.tail.foreach(b => Versioned.append(orders.filter(b).coalesce(1), tbl))
      val (pruned, scanned, total) = Versioned.readAsOfPruned(s, tbl,
        Versioned.latestVersion(s, tbl), "cents", 1500000L, 2500000L)
      val sel = pruned.filter(col("cents").between(1500000L, 2500000L))
        .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("sc")).head()
      val full = Versioned.read(s, tbl)
        .filter(col("cents").between(1500000L, 2500000L))
        .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("sc")).head()
      import s.implicits._
      Seq((total.toLong, scanned.toLong, sel.getLong(0), sel.getLong(1),
          sel.getLong(0) == full.getLong(0) && sel.getLong(1) == full.getLong(1)))
        .toDF("n_files_total", "n_files_scanned", "n_rows", "cents_sum",
          "matches_full_scan")
    }),

    // Schema-evolving append (ingest/Versioned.appendEvolve — the
    // mergeSchema=true counterpart of the pinned append): v1 has two
    // columns, v2 appends a frame carrying a NEW cents column; later
    // reads fill old rows' cents with null (digested as the injective
    // 'N' sentinel), the evolving commit recomputes snapshot totals
    // under the new schema, and both versions replay certified.
    "q221_schema_evolution" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      val tbl = scratch("q221") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey")), tbl)
      Versioned.appendEvolve(orders.filter(col("o_orderkey") % 3 === 1), tbl)
      import s.implicits._
      val replayed = (1L to 2L).map { v =>
        val asOf = Versioned.readAsOf(s, tbl, v)
        val centsSum =
          if (asOf.columns.contains("cents"))
            coalesce(sum(col("cents")), lit(0L))
          else lit(0L)
        val r = asOf.agg(count(lit(1)).as("n"),
          coalesce(sum(Fingerprint.rowDigest(
            asOf.schema.fieldNames.toSeq.map(col))), lit(0L)).as("fp"),
          centsSum.as("sc")).head()
        (v, r.getLong(0), r.getLong(1), r.getLong(2))
      }.toDF("version", "replay_rows", "replay_fp", "sum_cents")
      Versioned.history(s, tbl)
        .select(col("version"), col("snapshot_rows"), col("snapshot_fp"))
        .join(replayed, Seq("version"))
        .select(col("version"), col("snapshot_rows"), col("snapshot_fp"),
          (col("snapshot_rows") === col("replay_rows") &&
            col("snapshot_fp") === col("replay_fp")).as("matches_archived"),
          col("sum_cents"))
        .orderBy(col("version"))
    }),

    // HIVE-PARTITIONED versioned table (ingest/Versioned partitionBy):
    // the reference's year/month fact-table layout
    // (process_historical_data.py:75–78) COMPOSED with time travel —
    // the combination VERDICT r9 flagged as the most likely first
    // real-user gap. Data lands under d-<uuid>/yr=Y/mo=M/ dirs, the
    // partition values are archived in the commit record (each
    // add-path carries them), appends inherit the layout, and
    // readAsOfPartitions prunes non-matching partitions from LOG
    // METADATA — pruned files are never listed, opened, or scanned
    // (exact pruning: a partition value is constant per file by
    // construction). File counts are deterministic (coalesce(1) per
    // commit = one file per partition value), so the oracle pins the
    // prune arithmetic, and both versions replay fingerprint-certified.
    "q222_partitioned_versioned" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q222") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      // repartition BY the partition columns: each (yr, mo) lands in
      // exactly one task -> exactly one file per partition value (the
      // deterministic count the oracle pins), but the write runs
      // PARALLEL across partitions instead of through one coalesced task
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0)
          .repartition(col("yr"), col("mo")),
        tbl, partitionBy = Seq("yr", "mo"))
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1)
        .repartition(col("yr"), col("mo")), tbl)
      val (pruned, kept, total) = Versioned.readAsOfPartitions(s, tbl, 2L) {
        vals => vals("yr").contains("1997")
      }
      val sel = pruned.filter(col("yr") === 1997L) // no-op: pruning is exact
        .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("sc"))
        .head()
      import s.implicits._
      val inv = broadcast(Seq((total.toLong, kept.toLong,
          sel.getLong(0), sel.getLong(1)))
        .toDF("n_files_total", "n_files_kept", "pruned_rows", "pruned_cents"))
      versionedReport(s, tbl).crossJoin(inv)
    }),

    // OPTIMIZE / Z-ORDER as a VERSIONED COMMIT (ingest/Versioned
    // .optimize): layout maintenance lands as an ordinary rewrite
    // record (add = compacted z-ordered files, remove = all previous
    // active files) whose content identity is CERTIFIED AT COMMIT TIME
    // by the additive fingerprint (staged digest must equal the
    // removed digest or the optimize aborts). The gate pins: totals
    // unchanged across the optimize, pre-optimize versions still
    // readable, ZERO change-feed rows from the rewrite (carried-over
    // rows cancel), and zone maps tightened (the z-probe scans fewer
    // files than the table holds — Spark-verified boolean, since range
    // boundaries come from a sampling partitioner).
    "q223_optimize_zorder" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q223") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("kmod", pmod(col("o_custkey"), lit(64L)))
        .withColumn("cmod", pmod(col("cents"), lit(64L)))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 4 === 0).coalesce(1), tbl)
      (1 to 3).foreach(m => Versioned.append(
        orders.filter(col("o_orderkey") % 4 === m).coalesce(1), tbl))
      val preHead = Versioned.latestVersion(s, tbl)
      val (preRows, preFp) = Versioned.archivedFingerprint(s, tbl, preHead)
      val c = Versioned.optimize(s, tbl, numFiles = 4,
        zorderBy = Seq("kmod", "cmod"), zBits = 6).get
      val (_, scanned, totalFiles) =
        Versioned.readAsOfPruned(s, tbl, c.version, "kmod", 0L, 15L)
      val band = Versioned.read(s, tbl).filter(col("kmod") <= 15L)
        .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("sc"))
        .head()
      import s.implicits._
      Seq((4L, // files before the optimize: one per commit
          (c.snapshotRows, c.snapshotFp) == ((preRows, preFp)),
          Versioned.readAsOf(s, tbl, 1L).count(),
          Versioned.changesBetween(s, tbl, preHead, c.version).count(),
          scanned < totalFiles,
          band.getLong(0), band.getLong(1)))
        .toDF("n_files_before", "content_identical", "v1_rows",
          "optimize_cdf_rows", "zmaps_tightened", "band_rows", "band_cents")
    }),

    // STREAMING change-feed consumption (ingest/ChangeFeed): the
    // read-side twin of q219's exactly-once sink. A readChangeFeed
    // stream over the table tails it in one-version triggers, its
    // offsets in the stream checkpoint, mirroring each source version
    // into a DOWNSTREAM versioned table as a txn-tagged idempotent
    // append keyed by that version. The gate then re-runs the whole
    // mirror from a FRESH checkpoint — total re-delivery — and every
    // version is absorbed at the downstream
    // commit log: same rows, same commit count. Output: the q218
    // change multiset read back FROM THE MIRROR, plus the absorption
    // invariants.
    "q224_change_feed_stream" -> ((s, dir) => {
      import graft.ingest.{ChangeFeed, Fingerprint, Versioned}
      val base = scratch("q224")
      val tbl = s"$base/tbl"
      val down = s"$base/down"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0), tbl)
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1 &&
        col("o_orderkey") % 7 === 0), tbl)
      Versioned.upsert(s, tbl, orders.filter(col("o_orderkey") % 9 === 0)
        .withColumn("cents", col("cents") + 100L), Seq("o_orderkey"))
      Versioned.deleteWhere(s, tbl, col("cents") % 10 < 2)
      val commits1 = ChangeFeed.mirrorTo(s, tbl, down, s"$base/ckpt1", "q224",
        maxVersionsPerTrigger = 1)
      // total re-delivery from a fresh checkpoint: absorbed, no growth
      val commits2 = ChangeFeed.mirrorTo(s, tbl, down, s"$base/ckpt2", "q224",
        maxVersionsPerTrigger = 1)
      import s.implicits._
      val inv = broadcast(Seq((commits1, commits2 == commits1))
        .toDF("n_down_commits", "redelivery_absorbed"))
      Versioned.read(s, down)
        .groupBy(col("_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"),
          sum(Fingerprint.rowDigest(Seq(col("o_orderkey"), col("o_custkey"),
            col("cents")))).as("fp"))
        .crossJoin(inv)
        .orderBy(col("version"), col("change_type"))
    }),

    // The checkpoint × schema-epoch × zone-map-pruning TRIPLE
    // (VERDICT r9 "what's wrong" #1): evolve the schema (appendEvolve
    // adds cents), CHECKPOINT at the epoch boundary, append two
    // cents-banded commits through the checkpoint, then prune-read a
    // cents range at the head. Pre-epoch files have NO cents stats and
    // must scan conservatively; the out-of-band post-epoch file is
    // skipped from log metadata — 3 of 4 files scanned, exact oracle
    // arithmetic. Every version (pre-epoch, epoch, post-checkpoint)
    // replays fingerprint-certified THROUGH the checkpointed log.
    "q225_ckpt_evolve_prune" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      val tbl = scratch("q225") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey")).coalesce(1), tbl)
      Versioned.appendEvolve(orders.filter(col("o_orderkey") % 3 === 1)
        .coalesce(1), tbl)
      require(Versioned.checkpoint(s, tbl) == 2L, "checkpoint must land at v2")
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 2 &&
        col("cents") < 1000000L).coalesce(1), tbl)
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 2 &&
        col("cents") >= 1000000L).coalesce(1), tbl)
      val (pruned, scanned, total) =
        Versioned.readAsOfPruned(s, tbl, 4L, "cents", 1500000L, 2500000L)
      val sel = pruned.filter(col("cents").between(1500000L, 2500000L))
        .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("sc"))
        .head()
      import s.implicits._
      val replayed = (1L to 4L).map { v =>
        val asOf = Versioned.readAsOf(s, tbl, v)
        val centsSum =
          if (asOf.columns.contains("cents")) coalesce(sum(col("cents")), lit(0L))
          else lit(0L)
        val r = asOf.agg(count(lit(1)).as("n"),
          coalesce(sum(Fingerprint.rowDigest(
            asOf.schema.fieldNames.toSeq.map(col))), lit(0L)).as("fp"),
          centsSum.as("sc")).head()
        (v, r.getLong(0), r.getLong(1), r.getLong(2))
      }.toDF("version", "replay_rows", "replay_fp", "sum_cents")
      val inv = broadcast(Seq((total.toLong, scanned.toLong,
          sel.getLong(0), sel.getLong(1)))
        .toDF("n_files_total", "n_files_scanned", "probe_rows", "probe_cents"))
      Versioned.history(s, tbl)
        .select(col("version"), col("snapshot_rows"), col("snapshot_fp"))
        .join(replayed, Seq("version"))
        .select(col("version"), col("snapshot_rows"), col("snapshot_fp"),
          (col("snapshot_rows") === col("replay_rows") &&
            col("snapshot_fp") === col("replay_fp")).as("matches_archived"),
          col("sum_cents"))
        .crossJoin(inv)
        .orderBy(col("version"))
    }),

    // SQL TIME TRAVEL (ingest/Versioned.registerViewAsOf): the q20
    // SQL-over-path surface extended to versioned tables — the
    // reference's dashboards speak ONLY SQL through a Thrift endpoint
    // (music_analytics.json:47), so historical versions must be
    // reachable as plain views. Registers views at an absolute version
    // (v1) and a head-relative one (-1 = the version before the
    // upsert), then answers one pure-SQL query comparing the two
    // snapshots per customer band.
    "q226_sql_time_travel" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q226") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0), tbl)
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1), tbl)
      Versioned.upsert(s, tbl, orders.filter(col("o_orderkey") % 9 === 0)
        .withColumn("cents", col("cents") + 100L), Seq("o_orderkey"))
      require(Versioned.registerViewAsOf(s, tbl, 1L, "graft_q226_v1") == 1L)
      require(Versioned.registerViewAsOf(s, tbl, -1L, "graft_q226_prev") == 2L)
      s.sql("""
        SELECT snap, cust_band, count(*) AS n_orders, sum(cents) AS cents_sum
        FROM (
          SELECT 'v1' AS snap, pmod(o_custkey, 10) AS cust_band, cents
          FROM graft_q226_v1
          UNION ALL
          SELECT 'prev' AS snap, pmod(o_custkey, 10) AS cust_band, cents
          FROM graft_q226_prev)
        GROUP BY snap, cust_band
        ORDER BY snap, cust_band""")
    }),

    // SEQUENCE-AWARE next-item recommendation (recommend/NextItem):
    // the reference roadmap's "predict the next song from the
    // listening sequence" (ROADMAP.md:90, Phase 4), as the exact
    // count-based order-2 Markov model with Laplace smoothing and
    // order-1 backoff — common-denominator INTEGER numerators rank the
    // candidates, so the whole ranked output (and the single-division
    // blend score) hash-matches the oracle's literal replay. Items are
    // the event props' track key; top-3 per user.
    "q227_next_track" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("item", get_json_object(col("props"), "$.k").cast("long"))
      graft.recommend.NextItem
        .nextItems(ev, "user_id", "item", "ts", "event_id", k = 3)
        .orderBy(col("user_id"), col("rank"))
    }),

    // RESTRICTED-CANDIDATE next-item (recommend/NextItem
    // restrictCandidates=true — the VERDICT r10 marketplace-vocabulary
    // scale path): candidates = the context's nonzero-count items plus
    // the k smallest-id unseen tail, U x (observed + k) instead of
    // U x V — gated against the SAME oracle as q227, because the two
    // plans are exactly equivalent (observed always outscores unseen;
    // unseen tie at the smoothed floor and rank by id).
    "q247_next_track_restricted" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("item", get_json_object(col("props"), "$.k").cast("long"))
      graft.recommend.NextItem
        .nextItems(ev, "user_id", "item", "ts", "event_id", k = 3,
          restrictCandidates = true)
        .orderBy(col("user_id"), col("rank"))
    }),

    // RESTORE as a metadata-only rollback commit (ingest/Versioned
    // .restore): the restore record is an overwrite whose add-list is
    // the target version's active file set — zero bytes written, old
    // files re-referenced, the bad version still readable, the change
    // feed across the restore = exactly the inverse of what the bad
    // commit did, and every version (including the restored head)
    // replays fingerprint-certified.
    "q228_restore" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q228") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0), tbl)
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1), tbl)
      // the "bad deploy": a corrupting upsert
      Versioned.upsert(s, tbl, orders.filter(col("o_orderkey") % 9 === 0)
        .withColumn("cents", col("cents") + 100L), Seq("o_orderkey"))
      Versioned.restore(s, tbl, 2L)
      versionedReport(s, tbl)
    }),

    // CHECK constraints as table metadata (ingest/Versioned
    // .addConstraint): the quality gate the reference expresses in
    // Great Expectations suites, enforced by the storage layer — a
    // violating append/upsert is refused INSIDE the commit's digest
    // scan (zero extra passes) before its data becomes visible;
    // current content is validated when the constraint lands; NULL
    // passes (SQL-standard). The gate appends a conforming slice,
    // proves the violating slice was refused (head unchanged, content
    // certified), and reports per-action tallies.
    "q229_check_constraint" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q229") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0), tbl)
      Versioned.addConstraint(s, tbl, "cents_pos", "cents >= 0")
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1), tbl)
      val refused =
        try { Versioned.append(orders.filter(col("o_orderkey") % 3 === 2)
          .withColumn("cents", col("cents") - 100000000L), tbl); false }
        catch { case e: Throwable =>
          errorChain(e).exists(_.contains("cents_pos")) }
      val head = Versioned.latestVersion(s, tbl)
      import s.implicits._
      val inv = broadcast(Seq((refused, head,
          Versioned.constraints(s, tbl).map(_._1).mkString(",")))
        .toDF("violation_refused", "head_version", "active_constraints"))
      Versioned.read(s, tbl)
        .groupBy(pmod(col("o_orderkey"), lit(3L)).as("slice"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("slice"))
    }),

    // RETENTION VACUUM with a persisted time-travel horizon
    // (ingest/Versioned.vacuumVersions): files needed only by versions
    // older than the retained window are physically deleted, reads
    // below the horizon refuse LOUDLY instead of crashing on missing
    // files, history metadata survives, and the retained versions
    // still replay certified. Deterministic file accounting via
    // coalesce(1) per commit.
    "q230_retention_vacuum" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      val tbl = scratch("q230") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 4 === 0).coalesce(1), tbl)
      Versioned.overwrite(orders.filter(col("o_orderkey") % 4 === 1).coalesce(1), tbl)
      Versioned.append(orders.filter(col("o_orderkey") % 4 === 2).coalesce(1), tbl)
      Versioned.append(orders.filter(col("o_orderkey") % 4 === 3).coalesce(1), tbl)
      val (deleted, horizon) = Versioned.vacuumVersions(s, tbl, retainLast = 3)
      val belowRefused =
        try { Versioned.readAsOf(s, tbl, 1L); false }
        catch { case e: Throwable =>
          errorChain(e).exists(_.contains("retention-vacuumed")) }
      import s.implicits._
      val certifiedAll = (horizon to 4L).forall { v =>
        val (n, fp) = Versioned.archivedFingerprint(s, tbl, v)
        val asOf = Versioned.readAsOf(s, tbl, v)
        val r = asOf.agg(count(lit(1)),
          coalesce(sum(Fingerprint.rowDigest(
            asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
        r.getLong(0) == n && r.getLong(1) == fp
      }
      val inv = broadcast(Seq((deleted, horizon, belowRefused, certifiedAll,
          Versioned.history(s, tbl).count()))
        .toDF("n_files_deleted", "horizon", "below_horizon_refused",
          "retained_certified", "n_history_rows"))
      Versioned.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
    }),

    // SHALLOW CLONE (ingest/Versioned.cloneShallow): a zero-copy table
    // whose v1 references the source head's files in place (absolute
    // add-paths, zone maps carried re-keyed, totals inherited —
    // certified from birth). The clone then DIVERGES: an upsert on the
    // clone rewrites only the clone's reference, the source keeps its
    // original rows, and a source-side append never leaks into the
    // clone. The experiment-branch move at O(1 log record) cost.
    "q231_shallow_clone" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      val base = scratch("q231")
      val src = s"$base/src"
      val dst = s"$base/dst"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0), src)
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1), src)
      Versioned.cloneShallow(s, src, dst)
      // divergence on both sides
      Versioned.upsert(s, dst, orders.filter(col("o_orderkey") % 9 === 0)
        .withColumn("cents", col("cents") + 100L), Seq("o_orderkey"))
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 2), src)
      import s.implicits._
      def tally(path: String, tag: String) = {
        val head = Versioned.latestVersion(s, path)
        val (n, fp) = Versioned.archivedFingerprint(s, path, head)
        val df = Versioned.read(s, path)
        val r = df.agg(count(lit(1)).as("n"),
          sum(Fingerprint.rowDigest(Seq(col("o_orderkey"), col("o_custkey"),
            col("cents")))).as("fp"), sum(col("cents")).as("sc")).head()
        (tag, r.getLong(0), r.getLong(2), r.getLong(0) == n && r.getLong(1) == fp)
      }
      Seq(tally(dst, "clone"), tally(src, "source"))
        .toDF("side", "n_rows", "cents_sum", "matches_archived")
        .orderBy(col("side"))
    }),

    // REAL Structured Streaming SOURCE over a versioned table
    // (sources/VersionedSource): `spark.readStream.format(...)` with
    // COMMIT VERSIONS as offsets — getBatch returns ordinary parquet
    // scans over exactly the window's files (vectorized reader +
    // codegen stay in the hot path; the deliberate V1-Source design),
    // and because the log is immutable a checkpointed window always
    // re-materializes identically, giving the file sink exactly-once.
    // The gate streams three append commits, appends a fourth, resumes
    // from the SAME checkpoint (only the new commit flows), and pins
    // the sink content + the exactly-once invariant.
    "q232_versioned_stream_source" -> ((s, dir) => {
      import graft.ingest.Versioned
      import org.apache.spark.sql.streaming.Trigger
      val base = scratch("q232")
      val tbl = s"$base/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      (0 to 2).foreach(m => Versioned.append(
        orders.filter(col("o_orderkey") % 4 === m), tbl))
      def runOnce(): Unit = {
        val q = s.readStream.format("graft.sources.VersionedSource").load(tbl)
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      Versioned.append(orders.filter(col("o_orderkey") % 4 === 3), tbl)
      runOnce() // resume: ONLY the new commit streams
      val sink = s.read.parquet(s"$base/out")
      import s.implicits._
      val inv = broadcast(Seq((sink.count() == Versioned.read(s, tbl).count()))
        .toDF("exactly_once"))
      sink.groupBy(pmod(col("o_orderkey"), lit(4L)).as("slice"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("slice"))
    }),

    // CDF MODE of the streaming source (readChangeFeed=true): exact
    // row-level delete+insert pairs stream through; each version
    // window is materialized once under the stream's metadata dir (the
    // lazily-computed equivalent of the reference format's CDC files)
    // so recovery re-delivers byte-identical rows and the streaming
    // plan stays a plain scan. A second run from the same checkpoint
    // emits nothing (pinned by the exactly-once boolean).
    "q233_cdf_stream_source" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      import org.apache.spark.sql.streaming.Trigger
      val base = scratch("q233")
      val tbl = s"$base/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 0), tbl)
      Versioned.upsert(s, tbl, orders.filter(col("o_orderkey") % 9 === 0)
        .withColumn("cents", col("cents") + 100L), Seq("o_orderkey"))
      Versioned.deleteWhere(s, tbl, col("cents") % 10 < 2)
      def runOnce(): Unit = {
        val q = s.readStream.format("graft.sources.VersionedSource")
          .option("readChangeFeed", "true").load(tbl)
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      val n1 = s.read.parquet(s"$base/out").count()
      runOnce() // caught up: nothing new may land
      val sink = s.read.parquet(s"$base/out")
      import s.implicits._
      val inv = broadcast(Seq((sink.count() == n1)).toDF("exactly_once"))
      sink.groupBy(col("_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"),
          sum(Fingerprint.rowDigest(Seq(col("o_orderkey"), col("o_custkey"),
            col("cents")))).as("fp"))
        .crossJoin(inv)
        .orderBy(col("version"), col("change_type"))
    }),

    // Partition-scoped OPTIMIZE (ingest/Versioned.optimize where=...):
    // compact ONE partition of a hive-partitioned versioned table —
    // only yr=1997's files are rewritten (2 in, from the two commits;
    // 1 out), every other file stays shared with every version, and
    // the content certification + time travel hold as in q223.
    "q234_optimize_where" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q234") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"),
        year(col("o_orderdate")).cast("long").as("yr"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0)
          .repartition(col("yr")),
        tbl, partitionBy = Seq("yr"))
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1)
        .repartition(col("yr")), tbl)
      val c = Versioned.optimize(s, tbl, numFiles = 1, sortBy = Seq("cents"),
        where = Some(v => v("yr").contains("1997"))).get
      import s.implicits._
      val inv = broadcast(Seq((c.remove.size.toLong, c.add.size.toLong,
          c.remove.forall(_.contains("yr=1997")) &&
            c.add.forall(_.contains("yr=1997"))))
        .toDF("n_files_removed", "n_files_added", "scoped_to_partition"))
      versionedReport(s, tbl).crossJoin(inv)
    }),

    // MERGE-ON-READ deletes via position deletion vectors
    // (ingest/Versioned.deleteWhereMoR): the write-cheap delete — the
    // matching rows' (file, position) pairs land in a dv file and
    // every reader anti-joins them in-scan; NO data file is rewritten
    // (pinned: both delete commits add zero files). Two deletes
    // accumulate, snapshot totals subtract the deleted digests (every
    // version replays certified THROUGH the vectors), and a final
    // OPTIMIZE purges the vectors into clean files with content
    // identity certified at commit time.
    "q235_mor_delete" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q235") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders, tbl)
      val c2 = Versioned.deleteWhereMoR(s, tbl, col("cents") % 10 < 2).get
      val c3 = Versioned.deleteWhereMoR(s, tbl, col("o_orderkey") % 7 === 0).get
      Versioned.optimize(s, tbl, numFiles = 4)
      import s.implicits._
      val inv = broadcast(Seq((c2.add.isEmpty && c3.add.isEmpty &&
          c2.dv.nonEmpty && c3.dv.nonEmpty))
        .toDF("mor_rewrote_nothing"))
      versionedReport(s, tbl).crossJoin(inv)
    }),

    // MERGE-ON-READ upsert (ingest/Versioned.upsertMoR) — the
    // steady-state CDC-apply path: matched keys are tombstoned by a
    // position-delete vector and every update row lands as appended
    // files, in ONE commit — O(updates + matched rows) whatever the
    // number of files the keys touch (a COW merge would rewrite every
    // hot file per batch). The gate pins the change multiset (matched
    // old rows out, all updates in), the no-rewrite invariant, and the
    // certification of both versions through the vectors.
    "q236_mor_upsert" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      val tbl = scratch("q236") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 <= 1), tbl)
      val updates = orders.filter(col("o_orderkey") % 9 === 0)
        .withColumn("cents", col("cents") + 100L)
        .unionByName(orders.filter(col("o_orderkey") % 3 === 2 &&
          col("o_orderkey") % 5 === 0))
      val c = Versioned.upsertMoR(s, tbl, updates, Seq("o_orderkey"))
      import s.implicits._
      def cert(v: Long): Boolean = {
        val (n, fp) = Versioned.archivedFingerprint(s, tbl, v)
        val r = Versioned.readAsOf(s, tbl, v).agg(count(lit(1)),
          sum(Fingerprint.rowDigest(Seq(col("o_orderkey"), col("o_custkey"),
            col("cents"))))).head()
        r.getLong(0) == n && r.getLong(1) == fp
      }
      val inv = broadcast(Seq((c.add.nonEmpty && c.dv.nonEmpty &&
          c.remove.isEmpty, cert(1L) && cert(2L)))
        .toDF("rewrote_nothing", "certified"))
      Versioned.changesBetween(s, tbl, 0L, 2L)
        .groupBy(col("_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"),
          sum(Fingerprint.rowDigest(Seq(col("o_orderkey"), col("o_custkey"),
            col("cents")))).as("fp"))
        .crossJoin(inv)
        .orderBy(col("version"), col("change_type"))
    }),

    // GENERATED COLUMNS (ingest/Versioned.addGeneratedColumn): declare
    // `band` = cents div 1000000; an append OMITTING the column gets it
    // computed on the write path, an append PROVIDING a wrong value is
    // refused inside the digest scan (like a CHECK constraint) before
    // its data is visible — the Delta generated-column contract, the
    // clean driver for derived partition keys. All versions (including
    // the alter) replay certified; the auto-computed epoch digests
    // identically to the oracle's literal computation.
    "q237_generated_column" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q237") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("band", expr("cents div 1000000")), tbl)
      Versioned.addGeneratedColumn(s, tbl, "band", "cents div 1000000")
      // the write-path convenience: no band column provided
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1), tbl)
      val headBefore = Versioned.latestVersion(s, tbl)
      val refused =
        try { Versioned.append(orders.filter(col("o_orderkey") % 3 === 2)
          .withColumn("band", lit(999L)), tbl); false }
        catch { case e: Throwable =>
          errorChain(e).exists(_.contains("generated_band")) }
      import s.implicits._
      val inv = broadcast(Seq((refused,
          Versioned.latestVersion(s, tbl) == headBefore,
          Versioned.generatedColumns(s, tbl).size.toLong))
        .toDF("violation_refused", "head_unchanged", "n_generated_defs"))
      versionedReport(s, tbl).crossJoin(inv)
    }),

    // STREAMING ADMISSION CONTROL (sources/VersionedSource via the
    // engine's SupportsAdmissionControl + SupportsTriggerAvailableNow
    // contracts — the FileStreamSource pattern): a stream starting
    // against a 6-commit backlog with maxVersionsPerTrigger=2 drains
    // it in exactly THREE rate-limited micro-batches instead of one
    // giant one (the cold-start/catch-up shape a long-running
    // reference stream hits first; its format's equivalent knobs are
    // maxFilesPerTrigger/maxBytesPerTrigger, both also supported).
    // Pinned: the batch count from the checkpoint's offset log, sink
    // content == table content (exactly once THROUGH the rate limit),
    // and a caught-up rerun emitting nothing.
    "q238_stream_admission" -> ((s, dir) => {
      import graft.ingest.Versioned
      import org.apache.spark.sql.streaming.Trigger
      val base = scratch("q238")
      val tbl = s"$base/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      (0 to 5).foreach(m => Versioned.append(
        orders.filter(col("o_orderkey") % 6 === m), tbl))
      def runOnce(): Unit = {
        val q = s.readStream.format("graft.sources.VersionedSource")
          .option("maxVersionsPerTrigger", "2").load(tbl)
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      val n1 = s.read.parquet(s"$base/out").count()
      runOnce() // caught up: nothing new may land
      val nBatches = new java.io.File(s"$base/ckpt/offsets").listFiles()
        .count(f => f.getName.forall(_.isDigit)).toLong
      val sink = s.read.parquet(s"$base/out")
      import s.implicits._
      val inv = broadcast(Seq((nBatches,
          sink.count() == Versioned.read(s, tbl).count(),
          sink.count() == n1))
        .toDF("n_batches", "exactly_once", "second_run_empty"))
      sink.groupBy(pmod(col("o_orderkey"), lit(6L)).as("slice"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("slice"))
    }),

    // FULL CONDITIONAL MERGE (ingest/Versioned.merge): the complete
    // Delta MERGE surface in one copy-on-write commit — WHEN MATCHED
    // AND <cond> THEN DELETE, WHEN MATCHED THEN UPDATE, conditional
    // WHEN NOT MATCHED INSERT, and both NOT MATCHED BY SOURCE forms
    // (update + delete), first-match-wins within each population.
    // upsert/applyChanges are the fixed-shape fast paths of this; the
    // gate certifies both versions' full content by fingerprint.
    "q239_merge_full" -> ((s, dir) => {
      import graft.ingest.Versioned
      import graft.ingest.Versioned._
      val tbl = scratch("q239") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 3 === 0), tbl)
      val src = o.filter(col("k") % 2 === 0)
        .withColumn("cents", col("cents") + 7L)
      Versioned.merge(s, tbl, src, Seq("k"), Seq(
        WhenMatchedDelete(Some(col("status") === "F")),
        WhenMatchedUpdate(Map("cents" -> srcCol("cents"))),
        WhenNotMatchedInsert(cond = Some(srcCol("cents") % 2 === 0)),
        WhenNotMatchedBySourceUpdate(Map("status" -> lit("Z")),
          Some(col("cents") % 10 < 5)),
        WhenNotMatchedBySourceDelete(Some(col("cents") % 10 >= 8))))
      versionedReport(s, tbl)
    }),

    // COLUMN MAPPING (ingest/Versioned.renameColumn / dropColumn):
    // rename and drop as METADATA-ONLY commits through a logical->
    // physical name map — no file rewrites (pinned), every version
    // reads under its own schema's names, the value-only additive
    // fingerprint survives the rename with NO epoch recompute, a drop
    // recomputes once (the documented epoch price), and a RE-ADDED
    // logical name maps to a fresh physical name so dropped values
    // never resurrect (old files read NULL). The gate fingerprints all
    // five versions' full content, including the null-backfilled
    // re-add epoch.
    "q240_column_mapping" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      val tbl = scratch("q240") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 3 === 0), tbl)          // v1
      val cRen = Versioned.renameColumn(s, tbl, "cents", "amount_cents") // v2
      Versioned.append(o.filter(col("k") % 3 === 1)
        .withColumnRenamed("cents", "amount_cents"), tbl)             // v3
      Versioned.dropColumn(s, tbl, "c")                               // v4
      Versioned.appendEvolve(o.filter(col("k") % 3 === 2)
        .select(col("k"), col("cents").as("amount_cents"), col("c")), tbl) // v5
      import s.implicits._
      val inv = broadcast(Seq((cRen.add.isEmpty && cRen.remove.isEmpty))
        .toDF("rename_metadata_only"))
      val rows = (1L to 5L).map { v =>
        val asOf = Versioned.readAsOf(s, tbl, v)
        val (an, afp) = Versioned.archivedFingerprint(s, tbl, v)
        val r = asOf.agg(count(lit(1)), coalesce(sum(Fingerprint.rowDigest(
          asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
        (v, r.getLong(0), r.getLong(1), asOf.columns.mkString(","),
          r.getLong(0) == an && r.getLong(1) == afp)
      }.toDF("version", "n_rows", "fp", "schema_cols", "matches_archived")
      rows.crossJoin(inv).orderBy(col("version"))
    }),

    // CONTENT-BASED FILTERING (recommend/ContentBased — reference
    // ROADMAP.md Phase 4.1 "shared attributes like artist and genre"):
    // the user's liked-attribute histograms score the catalog; exact
    // integer scores, broadcast-only joins after the pushed-down
    // single-user filter, TakeOrderedAndProject top-k.
    "q241_content_recommend" -> ((s, dir) =>
      ContentBased.recommend(
        likes = Pipelines.likes(T(s, dir, "orders"), T(s, dir, "lineitem")),
        tracks = T(s, dir, "part").select(col("p_partkey").as("track_id"),
          col("p_brand").as("artist"), col("p_type").as("genre")),
        userId = DemoUser, k = 10)),

    // TIMESTAMP AS OF time travel (ingest/TableLog.claimStamped, Versioned.
    // versionAsOfTimestamp / readAsOfTimestamp): every commit record
    // is stamped max(wall clock, parent ts + 1) — the Delta rule — so
    // version order and timestamp order always agree and wall-clock
    // resolution is unique even under writer clock skew. Pinned:
    // strict monotonicity, exact resolution at/between/after commit
    // moments, the pre-first-commit refusal, and the full content of
    // the timestamp-resolved read.
    "q242_timestamp_travel" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q242") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 3 === 0), tbl) // v1
      Versioned.append(orders.filter(col("o_orderkey") % 3 === 1), tbl)   // v2
      Versioned.deleteWhere(s, tbl, col("cents") % 10 < 3)                // v3
      val ts = (1L to 3L).map(v => Versioned.commitTimestamp(s, tbl, v))
      val mono = ts.forall(_ > 0L) && ts == ts.sorted && ts.distinct == ts
      val resolves =
        Versioned.versionAsOfTimestamp(s, tbl, ts(1)) == 2L &&
          Versioned.versionAsOfTimestamp(s, tbl, ts(2) - 1L) == 2L &&
          Versioned.versionAsOfTimestamp(s, tbl,
            System.currentTimeMillis() + 1000000L) == 3L
      val refused =
        try { Versioned.versionAsOfTimestamp(s, tbl, ts.head - 1L); false }
        catch { case _: IllegalArgumentException => true }
      import s.implicits._
      val inv = broadcast(Seq((mono, resolves, refused))
        .toDF("ts_monotonic", "resolves_exact", "pre_first_refused"))
      Versioned.readAsOfTimestamp(s, tbl, ts(1))
        .groupBy(pmod(col("o_orderkey"), lit(3L)).as("slice"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("slice"))
    }),

    // PROTOCOL READER-FEATURE FLAGS (ingest/Versioned
    // .SupportedReaderFeatures): each record is stamped with the
    // features its correct interpretation REQUIRES (deletion-vectors,
    // column-mapping — derived from the record's own content at claim
    // time), and a reader that does not understand one refuses the
    // WHOLE log loudly — an old engine ignoring a dv entry would
    // silently resurrect deleted rows, the worst table-format failure.
    // Pinned: per-record stamping, the loud refusal of an injected
    // future-feature record (read AND vacuum — no destructive decision
    // over a log the engine cannot interpret), and the head content
    // THROUGH both supported features.
    "q243_protocol_features" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q243") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(orders, tbl)                                  // v1
      Versioned.deleteWhereMoR(s, tbl, col("cents") % 10 < 2)           // v2
      Versioned.renameColumn(s, tbl, "o_custkey", "user_id")            // v3
      val feats = Versioned.commitsBetween(s, tbl, 0L, 3L).map(_.features)
      val stamped = feats(0).isEmpty &&
        feats(1) == Seq("deletion-vectors") &&
        feats(2) == Seq("column-mapping")
      // inject a record claiming a feature from the future
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val log = new java.io.File(s"$tbl/_graft_log")
      val node = m.readTree(new java.io.File(log, "v00000001.json"))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.put("version", 4L)
      node.putArray("features").add("future-zstd-v9")
      val v4 = new java.io.File(log, "v00000004.json")
      java.nio.file.Files.write(v4.toPath, m.writeValueAsBytes(node))
      val refused =
        (try { Versioned.read(s, tbl).count(); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("future-zstd-v9") }) &&
          (try { Versioned.vacuumVersions(s, tbl, 1); false }
          catch { case _: IllegalStateException => true })
      v4.delete() // un-poison: emit the head content through DV+colmap
      import s.implicits._
      val inv = broadcast(Seq((stamped, refused))
        .toDF("features_stamped", "unknown_refused"))
      Versioned.read(s, tbl)
        .groupBy(pmod(col("user_id"), lit(10L)).as("cust_band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("cust_band"))
    }),

    // CONDITIONAL MERGE, MERGE-ON-READ (ingest/Versioned.mergeMoR):
    // q239's clause semantics with ZERO rewrites — claimed matches are
    // tombstoned by a position-delete vector, updated versions +
    // conditional inserts land as appended files, matched rows NO
    // clause claims are untouched (no tombstone, no append), and
    // BY SOURCE clauses are refused (full-table shape — use the CoW
    // form). O(matched + inserted rows) written whatever the file
    // count; both versions replay certified through the vector.
    "q244_merge_mor" -> ((s, dir) => {
      import graft.ingest.Versioned
      import graft.ingest.Versioned._
      val tbl = scratch("q244") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 3 === 0), tbl)
      val src = o.filter(col("k") % 2 === 0)
        .withColumn("cents", col("cents") + 7L)
      val c = Versioned.mergeMoR(s, tbl, src, Seq("k"), Seq(
        WhenMatchedDelete(Some(col("status") === "F")),
        WhenMatchedUpdate(Map("cents" -> srcCol("cents"))),
        WhenNotMatchedInsert(cond = Some(srcCol("cents") % 2 === 0))))
      import s.implicits._
      val inv = broadcast(Seq((c.remove.isEmpty && c.dv.nonEmpty &&
          c.add.nonEmpty))
        .toDF("mor_rewrote_nothing"))
      versionedReport(s, tbl).crossJoin(inv)
    }),

    // AGE-BASED RETENTION VACUUM (ingest/Versioned.vacuumOlderThan):
    // the "keep N days of time travel" policy, driven by the monotonic
    // commit timestamps — retain every version in the trailing window
    // plus always the head; reads below the persisted horizon refuse
    // loudly. Pinned: a day-wide window reclaims nothing, a zero
    // window reclaims exactly the two dead pre-overwrite files and
    // moves the horizon to the head, the below-horizon refusal, and
    // the head content after the sweep.
    "q245_vacuum_by_age" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q245") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 3 === 0).coalesce(1), tbl) // v1
      Versioned.append(o.filter(col("k") % 3 === 1).coalesce(1), tbl)    // v2
      Versioned.overwrite(o.filter(col("k") % 3 === 2).coalesce(1), tbl) // v3
      val keepAll = Versioned.vacuumOlderThan(s, tbl, 86400000L)
      val headOnly = Versioned.vacuumOlderThan(s, tbl, 0L)
      val refused =
        try { Versioned.readAsOf(s, tbl, 1L).count(); false }
        catch { case _: IllegalArgumentException => true }
      import s.implicits._
      val inv = broadcast(Seq((keepAll == ((0L, 1L)),
          headOnly == ((2L, 3L)), refused))
        .toDF("recent_window_noop", "aged_out_reclaimed",
          "below_horizon_refused"))
      Versioned.read(s, tbl)
        .groupBy(pmod(col("c"), lit(10L)).as("cust_band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("cust_band"))
    }),

    // MERGE WITH SCHEMA EVOLUTION (ingest/Versioned.merge
    // evolveSchema=true — the Delta withSchemaEvolution counterpart of
    // appendEvolve): the source's extra `band` column evolves the
    // table inside the merge commit — matched rows take the source
    // values, untouched rows read NULL for it (the 'N' digest
    // sentinel), inserts carry it, the pre-evolution version keeps its
    // narrower schema, and BOTH epochs replay certified (the epoch
    // recompute priced in appendEvolve).
    "q246_merge_evolve" -> ((s, dir) => {
      import graft.ingest.Versioned
      import graft.ingest.Versioned._
      val tbl = scratch("q246") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 3 === 0), tbl)
      val src = o.filter(col("k") % 2 === 0)
        .withColumn("cents", col("cents") + 7L)
        .withColumn("band", col("cents") % 5L)
      Versioned.merge(s, tbl, src, Seq("k"), Seq(
        WhenMatchedUpdate(Map("cents" -> srcCol("cents"),
          "band" -> srcCol("band"))),
        WhenNotMatchedInsert(cond = Some(srcCol("cents") % 2 === 0))),
        evolveSchema = true)
      import s.implicits._
      val inv = broadcast(Seq((
          Versioned.read(s, tbl).columns.toSeq ==
            Seq("k", "status", "cents", "band"),
          Versioned.readAsOf(s, tbl, 1L).columns.toSeq ==
            Seq("k", "status", "cents")))
        .toDF("evolved_head", "narrow_history"))
      versionedReport(s, tbl).crossJoin(inv)
    }),

    // STREAMING CDF OVER A MERGE COMMIT, RATE-LIMITED — the
    // composition of q233 (CDF stream), q238 (admission control) and
    // q239 (conditional merge): the stream drains one version per
    // trigger, the merge's window surfaces as its EXACT add/remove
    // diff (unchanged rows cancel — a merge is rewrite-shaped, never a
    // full-snapshot diff), and a caught-up rerun emits nothing.
    "q248_merge_cdf_stream" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      import graft.ingest.Versioned._
      import org.apache.spark.sql.streaming.Trigger
      val base = scratch("q248")
      val tbl = s"$base/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 3 === 0), tbl)
      Versioned.merge(s, tbl,
        o.filter(col("k") % 2 === 0).withColumn("cents", col("cents") + 7L),
        Seq("k"), Seq(
          WhenMatchedDelete(Some(col("status") === "F")),
          WhenMatchedUpdate(Map("cents" -> srcCol("cents"))),
          WhenNotMatchedInsert(cond = Some(srcCol("cents") % 2 === 0))))
      def runOnce(): Unit = {
        val q = s.readStream.format("graft.sources.VersionedSource")
          .option("readChangeFeed", "true")
          .option("maxVersionsPerTrigger", "1").load(tbl)
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      val n1 = s.read.parquet(s"$base/out").count()
      runOnce() // caught up: nothing new may land
      val nBatches = new java.io.File(s"$base/ckpt/offsets").listFiles()
        .count(f => f.getName.forall(_.isDigit)).toLong
      val sink = s.read.parquet(s"$base/out")
      import s.implicits._
      val inv = broadcast(Seq((nBatches, sink.count() == n1))
        .toDF("n_batches", "exactly_once"))
      sink.groupBy(col("_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"),
          sum(Fingerprint.rowDigest(Seq(col("k"), col("status"),
            col("cents")))).as("fp"))
        .crossJoin(inv)
        .orderBy(col("version"), col("change_type"))
    }),

    // TYPE WIDENING (ingest/Versioned.appendEvolve, r12): the narrow
    // epoch stores cents as INT; the widening append arrives with LONG
    // values beyond the int range — old files keep their narrow
    // physical type and promote at scan time (no rewrite), the commit
    // pays the documented epoch recompute, is stamped with the
    // `type-widening` reader feature (old readers refuse rather than
    // misread), and BOTH epochs replay fingerprint-certified.
    "q249_type_widening" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q249") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 3 === 0)
        .withColumn("cents", col("cents").cast("int")), tbl) // v1: int epoch
      val c = Versioned.appendEvolve(o.filter(col("k") % 3 === 1)
        .withColumn("cents", col("cents") + 3000000000L), tbl) // v2: long
      import s.implicits._
      val inv = broadcast(Seq((
          Versioned.read(s, tbl).schema("cents").dataType.simpleString ==
            "bigint",
          Versioned.readAsOf(s, tbl, 1L).schema("cents")
            .dataType.simpleString == "int",
          c.widenedCols == Seq("cents") &&
            c.features.contains("type-widening")))
        .toDF("head_widened", "narrow_history", "widen_flagged"))
      versionedReport(s, tbl).crossJoin(inv)
    }),

    // N-DIMENSIONAL Z-ORDER (ingest/Versioned.optimize zorderBy, r12 —
    // Delta's `OPTIMIZE ZORDER BY (a, b, c)` shape, q223 generalized):
    // the 3-d Morton layout gives every dimension tight per-file zone
    // maps at once, so a half-range filter on ANY of the three prunes
    // files from log metadata — a 1-d sort can serve only one. Content
    // identity is certified at commit time by the additive fingerprint.
    "q250_zorder_ndim" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q250") + "/tbl"
      val orders = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("kmod", pmod(col("o_custkey"), lit(16L)))
        .withColumn("cmod", pmod(col("cents"), lit(16L)))
        .withColumn("dmod", pmod(col("o_orderkey"), lit(16L)))
      Versioned.overwrite(orders.filter(col("o_orderkey") % 4 === 0)
        .coalesce(1), tbl)
      (1 to 3).foreach(m => Versioned.append(
        orders.filter(col("o_orderkey") % 4 === m).coalesce(1), tbl))
      val preHead = Versioned.latestVersion(s, tbl)
      val (preRows, preFp) = Versioned.archivedFingerprint(s, tbl, preHead)
      val c = Versioned.optimize(s, tbl, numFiles = 8,
        zorderBy = Seq("kmod", "cmod", "dmod"), zBits = 4).get
      def pruned(dim: String): Boolean = {
        val (_, scanned, total) =
          Versioned.readAsOfPruned(s, tbl, c.version, dim, 0L, 7L)
        scanned < total
      }
      val band = Versioned.read(s, tbl)
        .filter(col("kmod") <= 7L && col("cmod") <= 7L && col("dmod") <= 7L)
        .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("sc"))
        .head()
      import s.implicits._
      Seq((4L, // one file per pre-optimize commit
          (c.snapshotRows, c.snapshotFp) == ((preRows, preFp)),
          Versioned.readAsOf(s, tbl, 1L).count(),
          Versioned.changesBetween(s, tbl, preHead, c.version).count(),
          pruned("kmod"), pruned("cmod"), pruned("dmod"),
          band.getLong(0), band.getLong(1)))
        .toDF("n_files_before", "content_identical", "v1_rows",
          "optimize_cdf_rows", "pruned_k", "pruned_c", "pruned_d",
          "band_rows", "band_cents")
    }),

    // SCHEMA EVOLUTION OVER LIVE DELETION VECTORS (r12): a MoR delete
    // leaves in-force DVs, then merge(evolveSchema=true) adds a column
    // WITHOUT the OPTIMIZE-first rewrite r11 demanded — the epoch
    // recompute digests each remaining file's LIVE contribution, so
    // the tombstoned rows stay dead across the epoch boundary and all
    // three versions replay certified.
    "q251_evolve_with_dvs" -> ((s, dir) => {
      import graft.ingest.Versioned
      import graft.ingest.Versioned._
      val tbl = scratch("q251") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 3 === 0), tbl)        // v1
      Versioned.deleteWhereMoR(s, tbl, col("cents") % 10 < 2)       // v2
      val src = o.filter(col("k") % 2 === 0)
        .withColumn("band", col("cents") % 5L)
      Versioned.merge(s, tbl, src, Seq("k"), Seq(                   // v3
        WhenMatchedUpdate(Map("cents" -> (srcCol("cents") + 1L),
          "band" -> srcCol("band"))),
        WhenNotMatchedInsert(cond = Some(srcCol("cents") % 2 === 0))),
        evolveSchema = true)
      import s.implicits._
      val head = Versioned.read(s, tbl)
      val inv = broadcast(Seq((
          head.columns.toSeq == Seq("k", "status", "cents", "band"),
          Versioned.commitsBetween(s, tbl, 1L, 2L).head.dv.nonEmpty,
          // target-only rows come from the LIVE v2 view: no tombstoned
          // row (cents%10<2, never merged) resurfaces after the epoch
          head.filter(col("k") % 2 === 1 && col("cents") % 10 < 2)
            .count() == 0L))
        .toDF("evolved_head", "dv_was_live", "deleted_stay_dead"))
      versionedReport(s, tbl).crossJoin(inv)
    }),

    // AUTOMATIC CHECKPOINT CADENCE (r12, Delta's every-10 rule): 25
    // commits land checkpoints at v10 and v20 with NO manual
    // checkpoint() call, and the proof the head replay is O(tail) is
    // PHYSICAL — the gate deletes every record below the newest
    // checkpoint and the head still replays (so the fold cannot have
    // read them), content-identical and certified.
    "q252_auto_checkpoint" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q252") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 25 === 0).coalesce(1), tbl)
      (1L to 24L).foreach(m => Versioned.append(
        o.filter(col("k") % 25 === m).coalesce(1), tbl))
      val ckpts = Versioned.checkpoints(s, tbl)
      val before = Versioned.read(s, tbl).count()
      val log = new java.io.File(s"$tbl/_graft_log")
      (1L to 19L).foreach { v =>
        val f = new java.io.File(log, f"v$v%08d.json")
        require(f.delete(), s"gate setup: could not delete $f")
      }
      val (aRows, aFp) = Versioned.archivedFingerprint(s, tbl, 25L)
      val head = Versioned.read(s, tbl)
      val r = head.agg(count(lit(1)),
        coalesce(sum(graft.ingest.Fingerprint.rowDigest(
          Seq(col("k"), col("c"), col("cents")))), lit(0L))).head()
      import s.implicits._
      val inv = broadcast(Seq((ckpts == Seq(10L, 20L),
          r.getLong(0) == before,
          (r.getLong(0), r.getLong(1)) == ((aRows, aFp))))
        .toDF("cadence_held", "tail_only_replay", "certified"))
      head.groupBy(pmod(col("c"), lit(10L)).as("cust_band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("cust_band"))
    }),

    // INCREMENTAL SMALL-FILE COMPACTION (r12, Delta's auto-compaction
    // shape): a streaming writer's drip of tiny commits compacts in
    // O(small files) — ONLY the under-threshold files rewrite (the big
    // seed file is untouched and stays shared with every version), the
    // rebuilt rows are the small files' LIVE content (the MoR delete's
    // tombstones drop out), content identity is certified at commit
    // time and the change feed sees ZERO rows.
    "q253_compact_small" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q253") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 8 < 4).coalesce(1), tbl) // big
      (4L to 7L).foreach(m => Versioned.append(
        o.filter(col("k") % 8 === m).coalesce(1), tbl)) // four small files
      Versioned.deleteWhereMoR(s, tbl, col("cents") % 10 < 1) // live DVs
      val preHead = Versioned.latestVersion(s, tbl)
      val bigFile = Versioned.commitsBetween(s, tbl, 0L, 1L).head.add.head
      val bigBytes = new java.io.File(s"$tbl/$bigFile").length
      val c = Versioned.compactSmallFiles(s, tbl, maxFileBytes = bigBytes,
        targetNumFiles = 1).get
      import s.implicits._
      val inv = broadcast(Seq((c.remove.size.toLong,
          !c.remove.contains(bigFile), c.add.size.toLong,
          Versioned.changesBetween(s, tbl, preHead, c.version).count() == 0L,
          Versioned.compactSmallFiles(s, tbl, 2L).isEmpty)) // nothing small
        .toDF("n_compacted", "big_file_untouched", "n_output_files",
          "cdf_cancels", "noop_below_min"))
      Versioned.read(s, tbl)
        .groupBy(pmod(col("c"), lit(10L)).as("cust_band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("cust_band"))
    }),

    // MERGE-ON-READ SCHEMA EVOLUTION (r12): mergeMoR(evolveSchema) —
    // the conditional CDC apply evolves the table (new `band` column,
    // cents WIDENED int->long with beyond-int source values) while
    // REWRITING NOTHING: matched rows tombstone+append, old files keep
    // their narrow physical type and promote at scan time, the epoch
    // recompute re-certifies the totals, and the commit carries the
    // type-widening + deletion-vectors reader features.
    "q254_merge_mor_evolve" -> ((s, dir) => {
      import graft.ingest.Versioned
      import graft.ingest.Versioned._
      val tbl = scratch("q254") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 3 === 0)
        .withColumn("cents", col("cents").cast("int")), tbl) // v1: int
      val src = o.filter(col("k") % 2 === 0)
        .withColumn("cents", col("cents") + 3000000000L)
        .withColumn("band", col("cents") % 5L)
      val c = Versioned.mergeMoR(s, tbl, src, Seq("k"), Seq(
        WhenMatchedUpdate(Map("cents" -> srcCol("cents"),
          "band" -> srcCol("band"))),
        WhenNotMatchedInsert(cond = Some(srcCol("cents") % 2 === 0))),
        evolveSchema = true)
      import s.implicits._
      val inv = broadcast(Seq((
          c.remove.isEmpty && c.dv.nonEmpty, // rewrote NOTHING, tombstoned
          c.widenedCols == Seq("cents") &&
            c.features.contains("type-widening"),
          Versioned.read(s, tbl).schema("cents").dataType.simpleString ==
            "bigint",
          Versioned.readAsOf(s, tbl, 1L).schema("cents")
            .dataType.simpleString == "int"))
        .toDF("rewrote_nothing", "widen_flagged", "head_widened",
          "narrow_history"))
      versionedReport(s, tbl).crossJoin(inv)
    }),

    // CHANGE FEED ACROSS A TYPE-WIDENING EPOCH (r12): a widening CoW
    // merge retypes `cents` int->long mid-log; the feed aligns the
    // before side by the SAME lossless promotion the scan applies
    // (cast up, never a re-parse), so the diff stays exact row-level —
    // updated rows surface as delete+insert pairs, unchanged rows
    // cancel, and the narrow epoch's inserts coerce losslessly in the
    // union.
    "q255_cdf_across_widening" -> ((s, dir) => {
      import graft.ingest.{Fingerprint, Versioned}
      import graft.ingest.Versioned._
      val tbl = scratch("q255") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 3 === 0)
        .withColumn("cents", col("cents").cast("int"))
        .coalesce(1), tbl) // v1: int epoch
      Versioned.merge(s, tbl,
        o.filter(col("k") % 2 === 0)
          .withColumn("cents", col("cents") + 3000000000L),
        Seq("k"),
        Seq(WhenMatchedUpdate(Map("cents" -> srcCol("cents")))),
        evolveSchema = true) // v2: widening merge
      Versioned.changesBetween(s, tbl, 0L, 2L)
        .groupBy(col("_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"),
          sum(Fingerprint.rowDigest(Seq(col("k"), col("status"),
            col("cents")))).as("fp"))
        .orderBy(col("version"), col("change_type"))
    }),

    // CONVERT TO VERSIONED IN PLACE (r12, Delta's CONVERT TO DELTA): a
    // pre-existing hive-partitioned plain-parquet dataset becomes a
    // versioned table with ZERO bytes copied — v1 references the files
    // where they are, certified by the one digest scan the conversion
    // pays — and the whole capability surface composes immediately: an
    // append inherits the layout, a COW delete rewrites only affected
    // files, time travel reaches the converted snapshot forever.
    "q256_convert_in_place" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q256") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("band", pmod(col("c"), lit(4L)))
      // a plain (pre-format) partitioned parquet dataset
      o.write.partitionBy("band").parquet(tbl)
      val preFiles = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(tbl))
          .filter(_.getName.endsWith(".parquet")).map(_.toString).toSet
      }
      val c1 = Versioned.convertInPlace(s, tbl, partitionCols = Seq("band"))
      // zero-copy proof: v1 references exactly the pre-existing files
      val zeroCopy = c1.add.map(f => s"$tbl/$f").toSet == preFiles
      Versioned.append( // the layout is inherited by later writes
        o.filter(col("k") % 97 === 0).withColumn("k", col("k") + 10000000L)
          .withColumn("band", col("band").cast("int")), // path-inferred type
        tbl)
      Versioned.deleteWhere(s, tbl, col("cents") % 10 === 3) // COW composes
      val (band2, kept, total) = Versioned.readAsOfPartitions(s, tbl, 1L)(
        m => m("band") == Some("2"))
      import s.implicits._
      val inv = broadcast(Seq((zeroCopy, band2.count(), kept < total))
        .toDF("zero_copy", "v1_band2_rows", "v1_partitions_pruned"))
      versionedReport(s, tbl).crossJoin(inv)
    }),

    // CHECKPOINT-STATE PLANNING (r13, VERDICT r12 #1–#2): the
    // checkpoint carries the COMPLETE table state — file sizes,
    // zone-map stats, dv coverage, constraints — so on a long-history
    // table EVERY maintenance plan (OPTIMIZE's dv-purge decision, the
    // constraint revalidation, compaction's size scan) reads
    // checkpoint + tail, never a v1 log replay, and compaction
    // planning pays ZERO filesystem stat RPCs (sizes ride the add
    // records). The gate builds 25 one-slice commits (auto-ckpts at
    // 10/20) plus a live MoR delete and a CHECK constraint, then
    // counts actual record reads and stat probes around the rewrites.
    "q257_ckpt_state_planning" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q257") + "/tbl"
      // localCheckpoint: 16 slice commits then filter pinned in-memory
      // partitions instead of re-scanning the parquet 16 times — the
      // gate measures PLANNING reads, not scan throughput, and this
      // fixture is paid on every bench run (VERDICT r13 #8: same
      // counters, same assertions, leaner history build; 16 slices of
      // k%16 cover exactly the rows the old 25 slices of k%25 did, so
      // the oracle is untouched)
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint()
      Versioned.overwrite(o.filter(col("k") % 16 === 0).coalesce(1), tbl)
      (1L to 15L).foreach(m => Versioned.append(
        o.filter(col("k") % 16 === m).coalesce(1), tbl)) // v16; ckpt 10
      Versioned.deleteWhereMoR(s, tbl, col("cents") % 100 === 7) // v17: live dv
      Versioned.addConstraint(s, tbl, "cents_nonneg", "cents >= 0") // v18
      val r0 = Versioned.commitRecordReads.get()
      Versioned.optimize(s, tbl, numFiles = 2).get // v19: purges the dv
      val planReads = Versioned.commitRecordReads.get() - r0
      val p0 = Versioned.fileStatusProbes.get()
      val cc = Versioned.compactSmallFiles(s, tbl, maxFileBytes = 1L << 26).get
      val statProbes = Versioned.fileStatusProbes.get() - p0
      val (aRows, aFp) = Versioned.archivedFingerprint(s, tbl, cc.version)
      val head = Versioned.read(s, tbl)
      val r = head.agg(count(lit(1)),
        coalesce(sum(graft.ingest.Fingerprint.rowDigest(
          Seq(col("k"), col("c"), col("cents")))), lit(0L))).head()
      import s.implicits._
      // naive v1-replay planning would read ~6 folds x 18 records
      // (~110); checkpoint+tail must stay far under the log length
      val inv = broadcast(Seq((planReads <= 50L, statProbes == 0L,
          (r.getLong(0), r.getLong(1)) == ((aRows, aFp))))
        .toDF("plan_reads_o_interval", "zero_stat_probes", "certified"))
      head.groupBy(pmod(col("c"), lit(10L)).as("cust_band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("cust_band"))
    }),

    // MULTI-PART CHECKPOINT (r13, VERDICT r12 #3 — Delta's multi-part
    // scheme): above a file-count threshold the checkpoint's per-file
    // payload shards into bounded part records written before a
    // manifest stamped with the multipart-checkpoint reader feature;
    // a million-file table checkpoints in bounded chunks instead of
    // one driver-choking record. Proof of replay-through-parts: the
    // v1 record is physically deleted and the 61-file state still
    // reassembles, certified against the archived fingerprint.
    "q258_multipart_ckpt" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q258") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val oldPart = Versioned.ckptPartFiles
      Versioned.ckptPartFiles = 16
      try {
        Versioned.overwrite(o.filter(col("k") % 25 =!= 0)
          .repartition(60), tbl) // v1: 60 files
        Versioned.append(o.filter(col("k") % 25 === 0).coalesce(1), tbl) // v2
        val v = Versioned.checkpoint(s, tbl)
        val log = new java.io.File(s"$tbl/_graft_log")
        val nParts = log.listFiles()
          .count(_.getName.startsWith(f"ckptp-$v%08d-"))
        val manifest = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(log, f"ckpt-$v%08d.json").toPath))
        val f1 = new java.io.File(log, f"v${1L}%08d.json")
        require(f1.delete(), s"gate setup: could not delete $f1")
        val (aRows, aFp) = Versioned.archivedFingerprint(s, tbl, v)
        val head = Versioned.read(s, tbl)
        val r = head.agg(count(lit(1)),
          coalesce(sum(graft.ingest.Fingerprint.rowDigest(
            Seq(col("k"), col("c"), col("cents")))), lit(0L))).head()
        import s.implicits._
        val inv = broadcast(Seq((nParts >= 4L,
            manifest.contains("multipart-checkpoint") &&
              !manifest.contains("\"active\""),
            (r.getLong(0), r.getLong(1)) == ((aRows, aFp))))
          .toDF("sharded_payload", "manifest_feature_no_inline",
            "parts_replay_certified"))
        head.groupBy(pmod(col("c"), lit(10L)).as("cust_band"))
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
          .crossJoin(inv)
          .orderBy(col("cust_band"))
      } finally Versioned.ckptPartFiles = oldPart
    }),

    // VACUUM CHECKPOINT HYGIENE (r13, VERDICT r12 #4): retention
    // vacuum deletes checkpoints below the new horizon (they summarize
    // state whose data files are gone) AND re-checkpoints the head, so
    // replays of every retained version stay O(tail) and can never
    // resolve through a record referencing reclaimed files. Reads
    // below the horizon keep refusing loudly.
    "q259_vacuum_ckpt_hygiene" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q259") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Versioned.overwrite(o.filter(col("k") % 24 === 0).coalesce(1), tbl)
      (1L to 11L).foreach(m => Versioned.append(
        o.filter(col("k") % 24 === 2 * m).coalesce(1), tbl)) // v12: evens
      Versioned.optimize(s, tbl, numFiles = 2) // v13: 12 slice files die
      Seq(Seq(1L, 3L, 5L, 7L), Seq(9L, 11L, 13L, 15L),
          Seq(17L, 19L, 21L, 23L)).foreach(g => Versioned.append(
        o.filter(pmod(col("k"), lit(24L)).isin(g: _*)).coalesce(1), tbl))
      // head v16 = the full orders projection; ckpt cadence hit at 10
      val (deleted, horizon) = Versioned.vacuumVersions(s, tbl, retainLast = 3)
      val cks = Versioned.checkpoints(s, tbl)
      val belowRefuses =
        try { Versioned.readAsOf(s, tbl, 13L); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("horizon") }
      val (aRows, aFp) = Versioned.archivedFingerprint(s, tbl, 14L)
      val asOf14 = Versioned.readAsOf(s, tbl, 14L)
      val r14 = asOf14.agg(count(lit(1)),
        coalesce(sum(graft.ingest.Fingerprint.rowDigest(
          Seq(col("k"), col("c"), col("cents")))), lit(0L))).head()
      import s.implicits._
      val inv = broadcast(Seq((deleted == 12L && horizon == 14L,
          cks.forall(_ >= horizon) && cks.contains(16L),
          belowRefuses,
          (r14.getLong(0), r14.getLong(1)) == ((aRows, aFp))))
        .toDF("reclaimed_to_horizon", "stale_ckpts_gone_head_recheckpointed",
          "below_horizon_refuses", "oldest_retained_certified"))
      Versioned.read(s, tbl)
        .groupBy(pmod(col("c"), lit(10L)).as("cust_band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("cust_band"))
    }),

    // CONVERT-IN-PLACE PARTITION AUTO-INFERENCE (r13, ADVICE r12): a
    // hive-partitioned plain-parquet dataset converts with its
    // partition columns INFERRED from the layout — previously an
    // omitted partitionCols stored partitionCols=Nil and every read
    // saw the path-encoded columns as null, with the birth digest
    // certifying the loss. Now the layout is detected, parse-checked
    // per file, and the v1 record archives both the columns and every
    // file's byte size.
    "q260_convert_autoinfer" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q260") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("band", pmod(col("c"), lit(4L)))
      o.write.partitionBy("band").parquet(tbl)
      val c1 = Versioned.convertInPlace(s, tbl) // partitionCols OMITTED
      val head = Versioned.read(s, tbl)
      val (bandDf, kept, total) = Versioned.readAsOfPartitions(s, tbl, 1L)(
        m => m("band") == Some("1"))
      import s.implicits._
      val inv = broadcast(Seq((c1.partitionCols == Seq("band"),
          c1.addSizes.size == c1.add.size && c1.add.nonEmpty,
          head.filter(col("band").isNull).count() == 0L,
          kept < total && bandDf.filter(col("band") =!= 1).count() == 0L))
        .toDF("layout_inferred", "sizes_archived", "no_silent_nulls",
          "v1_partitions_pruned"))
      head.groupBy(col("band").cast("long").as("band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("band"))
    }),

    // AUTOMATIC DATA SKIPPING (r13, the reading-side payoff of the
    // archived metadata): readAsOfWhere prunes files from the
    // predicate's simple conjuncts using ONLY the log — zone maps for
    // the cents range, path-encoded values for the band equality —
    // then applies the full predicate to the survivors, so the result
    // is provably the plain filtered read. The table stages two
    // disjoint cents ranges per partition, so BOTH pruning modes must
    // fire: of 8 files (4 bands × 2 ranges), exactly 1 survives.
    "q261_data_skipping" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q261") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("band", pmod(col("c"), lit(4L)))
      val split = 20000000L
      Versioned.overwrite(o.filter(col("cents") < split).coalesce(1), tbl,
        partitionBy = Seq("band"))
      Versioned.append(o.filter(col("cents") >= split).coalesce(1), tbl)
      val pred = col("cents") >= 30000000L && col("band") === 2L
      val (df, kept, total) =
        Versioned.readAsOfWhere(s, tbl, 2L, pred)
      import s.implicits._
      val inv = broadcast(Seq((kept == 1L && total == 8L,
          Versioned.read(s, tbl).filter(pred).count() == df.count()))
        .toDF("pruned_to_one_file", "equals_full_scan_filter"))
      df.groupBy(pmod(col("c"), lit(10L)).as("cust_band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .crossJoin(inv)
        .orderBy(col("cust_band"))
    }),

    // Timestamp zone-map skipping on an UNPARTITIONED table — the
    // reference's flagship predicate shape (the trailing window over
    // fact_listening_events.timestamp, process_silver_trending_tracks
    // .py:26-27): four ts-banded commits, a window probe that must
    // prune to the two overlapping files from log metadata alone, and
    // the q261 result-neutrality invariant against the plain filtered
    // scan.
    "q262_ts_skipping" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q262") + "/tbl"
      val ev = T(s, dir, "events").select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"))
      def I(x: String) = java.time.Instant.parse(x)
      val cuts = Seq(I("2024-01-09T00:00:00Z"), I("2024-01-17T00:00:00Z"),
        I("2024-01-25T00:00:00Z"))
      Versioned.overwrite(ev.filter(col("ts") < lit(cuts(0))).coalesce(1), tbl)
      Versioned.append(ev.filter(col("ts") >= lit(cuts(0)) &&
        col("ts") < lit(cuts(1))).coalesce(1), tbl)
      Versioned.append(ev.filter(col("ts") >= lit(cuts(1)) &&
        col("ts") < lit(cuts(2))).coalesce(1), tbl)
      Versioned.append(ev.filter(col("ts") >= lit(cuts(2))).coalesce(1), tbl)
      val pred = col("ts") >= lit(I("2024-01-24T00:00:00Z"))
      val (df, kept, total) = Versioned.readAsOfWhere(s, tbl, 4L, pred)
      import s.implicits._
      val inv = broadcast(Seq((kept == 2 && total == 4,
          Versioned.read(s, tbl).filter(pred).count() == df.count()))
        .toDF("pruned_to_two_files", "equals_full_scan_filter"))
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("user_id")).as("sum_user"))
        .crossJoin(inv)
        .orderBy(col("event_type"))
    }),

    // Null-count skipping: a no-null file and an all-null file for the
    // same column; IS NOT NULL must prune the all-null file, IS NULL
    // the no-null file — decided from the per-file null counts the
    // commits archived, result-neutral by the re-applied filter.
    "q263_null_skipping" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q263") + "/tbl"
      val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        when(pmod(col("o_orderkey"), lit(2L)) === 0L,
          col("o_orderpriority")).as("tag"))
      Versioned.overwrite(o.filter(pmod(col("k"), lit(2L)) === 0L)
        .coalesce(1), tbl)
      Versioned.append(o.filter(pmod(col("k"), lit(2L)) === 1L)
        .coalesce(1), tbl)
      val (nn, nnKept, nnTotal) =
        Versioned.readAsOfWhere(s, tbl, 2L, col("tag").isNotNull)
      val (isn, isnKept, _) =
        Versioned.readAsOfWhere(s, tbl, 2L, col("tag").isNull)
      import s.implicits._
      val inv = broadcast(Seq((nnKept == 1 && nnTotal == 2, isnKept == 1,
          isn.count() ==
            Versioned.read(s, tbl).filter(col("tag").isNull).count()))
        .toDF("pruned_notnull", "pruned_isnull", "isnull_result_neutral"))
      nn.groupBy(col("tag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sum_c"))
        .crossJoin(inv)
        .orderBy(col("tag"))
    }),

    // STREAMING data skipping: the versioned stream source's `where`
    // option prunes each micro-batch's files from the stats the commit
    // records archive (zero extra log reads per trigger) and applies
    // the full predicate to the surviving rows — "tail only the events
    // I care about" without scanning the rest. Gated: the one-window
    // AvailableNow run must keep exactly the two matching band files,
    // and the sink content must equal the batch filtered scan.
    "q266_stream_skipping" -> ((s, dir) => {
      import graft.ingest.Versioned
      val base = scratch("q266")
      val tbl = s"$base/tbl"
      val ev = T(s, dir, "events").select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"))
      def I(x: String) = java.time.Instant.parse(x)
      val cuts = Seq(I("2024-01-09T00:00:00Z"), I("2024-01-17T00:00:00Z"),
        I("2024-01-25T00:00:00Z"))
      // all four band commits are APPENDS (v1 appends onto the empty
      // table) — the append-only stream refuses overwrite actions
      Versioned.append(ev.filter(col("ts") < lit(cuts(0))).coalesce(1), tbl)
      Versioned.append(ev.filter(col("ts") >= lit(cuts(0)) &&
        col("ts") < lit(cuts(1))).coalesce(1), tbl)
      Versioned.append(ev.filter(col("ts") >= lit(cuts(1)) &&
        col("ts") < lit(cuts(2))).coalesce(1), tbl)
      Versioned.append(ev.filter(col("ts") >= lit(cuts(2))).coalesce(1), tbl)
      val k0 = Versioned.streamFilesKept.get()
      val t0 = Versioned.streamFilesTotal.get()
      val q = s.readStream.format("graft.sources.VersionedSource")
        .option("where", "ts >= TIMESTAMP '2024-01-24 00:00:00'")
        .load(tbl)
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val kept = Versioned.streamFilesKept.get() - k0
      val total = Versioned.streamFilesTotal.get() - t0
      val out = s.read.parquet(s"$base/out")
      import s.implicits._
      val pred = col("ts") >= lit(I("2024-01-24T00:00:00Z"))
      val inv = broadcast(Seq((total > 0 && kept * 2 == total,
          out.count() == Versioned.read(s, tbl).filter(pred).count()))
        .toDF("stream_pruned_half", "equals_batch_filter"))
      out.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .crossJoin(inv)
        .orderBy(col("event_type"))
    }),

    // String zone maps: every commit archives order-preserving 8-byte
    // UTF-8 prefixes of each string column's min/max, so equality and
    // prefix predicates — the dashboard's `event_type = 'purchase'`
    // shape — prune files from log metadata. The per-type commits
    // give each file a single-value range; both probes must prune to
    // one file and stay result-neutral vs the full filtered scan.
    "q265_string_skipping" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q265") + "/tbl"
      val ev = T(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"))
      val types = Seq("click", "error", "purchase", "signup", "view")
      Versioned.overwrite(ev.filter(col("event_type") === types.head)
        .coalesce(1), tbl)
      types.tail.foreach(t => Versioned.append(
        ev.filter(col("event_type") === t).coalesce(1), tbl))
      val (df, kept, total) =
        Versioned.readAsOfWhere(s, tbl, 5L, col("event_type") === "purchase")
      val (pf, pKept, _) =
        Versioned.readAsOfWhere(s, tbl, 5L, col("event_type").startsWith("s"))
      import s.implicits._
      val inv = broadcast(Seq((kept == 1 && total == 5, pKept == 1,
          pf.count() ==
            ev.filter(col("event_type").startsWith("s")).count(),
          df.count() ==
            ev.filter(col("event_type") === "purchase").count()))
        .toDF("eq_pruned_to_one", "prefix_pruned_to_one",
          "prefix_result_neutral", "eq_result_neutral"))
      df.groupBy(pmod(col("user_id"), lit(10L)).as("user_band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("sum_id"))
        .crossJoin(inv)
        .orderBy(col("user_band"))
    }),

    // The SQL persona's data skipping (VERDICT r13 #2): a view over
    // the V1 relation; a plain SQL WHERE pushes its conjuncts into the
    // relation scan, pruning files from log metadata with zero
    // Versioned-specific syntax in the query. The pruning is observed
    // through the relation counters and gated as a column.
    "q264_sql_skipping" -> ((s, dir) => {
      import graft.ingest.Versioned
      val tbl = scratch("q264") + "/tbl"
      val ev = T(s, dir, "events").select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"))
      def I(x: String) = java.time.Instant.parse(x)
      val cuts = Seq(I("2024-01-09T00:00:00Z"), I("2024-01-17T00:00:00Z"),
        I("2024-01-25T00:00:00Z"))
      Versioned.overwrite(ev.filter(col("ts") < lit(cuts(0))).coalesce(1), tbl)
      Versioned.append(ev.filter(col("ts") >= lit(cuts(0)) &&
        col("ts") < lit(cuts(1))).coalesce(1), tbl)
      Versioned.append(ev.filter(col("ts") >= lit(cuts(1)) &&
        col("ts") < lit(cuts(2))).coalesce(1), tbl)
      Versioned.append(ev.filter(col("ts") >= lit(cuts(2))).coalesce(1), tbl)
      Versioned.registerViewAsOfSkipping(s, tbl, 4L, "q264_events")
      val k0 = Versioned.relationFilesKept.get()
      val t0 = Versioned.relationFilesTotal.get()
      val got = s.sql(
        """SELECT event_type, count(*) AS n_rows, sum(user_id) AS sum_user
          |FROM q264_events
          |WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
          |GROUP BY event_type""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val kept = Versioned.relationFilesKept.get() - k0
      val total = Versioned.relationFilesTotal.get() - t0
      import s.implicits._
      got.toSeq.toDF("event_type", "n_rows", "sum_user")
        // ratio form: one pruning pass per action, but robust if the
        // planner ever consults the relation more than once
        .withColumn("sql_pruned_half", lit(total >= 4 && kept * 2 == total))
        .orderBy(col("event_type"))
    }),

    "q215_ann_index_append" -> ((s, dir) => {
      import graft.vector.ServingIndex
      val emb = Tables.embeddings(s, dir)
      val idx = scratch("q215") + "/idx"
      ServingIndex.build(s, emb.filter(col("vec_id") % 2 === 0), idx,
        nCentroids = 16, m = 4, codesPerSub = 16, trainIterations = 2)
      ServingIndex.append(s, idx, emb.filter(col("vec_id") % 2 === 1))
      import s.implicits._
      val probeRows = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .toSeq.toDF("vec_id", "embedding")
      ServingIndex.serve(s, idx, probeRows, k = 10, nProbe = 4)
    })
  )

  /** Shared by q227 (full U x V cross join) and q247 (restricted
    * candidates) — the two plans are exactly equivalent by the
    * monotonicity argument in recommend/NextItem. */
  private val nextTrackOracle: String =
    """WITH e AS (SELECT user_id AS u,
        |    json_extract_string(props, '$.k')::BIGINT AS i0, ts, event_id
        |  FROM events),
        |s AS (SELECT u, i0,
        |    lead(i0, 1) OVER (PARTITION BY u ORDER BY ts, event_id) AS i1,
        |    lead(i0, 2) OVER (PARTITION BY u ORDER BY ts, event_id) AS i2,
        |    row_number() OVER (PARTITION BY u ORDER BY ts DESC, event_id DESC)
        |      AS rnd
        |  FROM e),
        |tri AS (SELECT i0 AS a, i1 AS b, i2 AS x, count(*)::BIGINT AS c3
        |  FROM s WHERE i2 IS NOT NULL GROUP BY 1, 2, 3),
        |trip AS (SELECT i0 AS a, i1 AS b, count(*)::BIGINT AS c2pre
        |  FROM s WHERE i2 IS NOT NULL GROUP BY 1, 2),
        |bi AS (SELECT i0 AS b, i1 AS x, count(*)::BIGINT AS c2
        |  FROM s WHERE i1 IS NOT NULL GROUP BY 1, 2),
        |bip AS (SELECT i0 AS b, count(*)::BIGINT AS c1pre
        |  FROM s WHERE i1 IS NOT NULL GROUP BY 1),
        |voc AS (SELECT DISTINCT i0 AS x FROM e WHERE i0 IS NOT NULL),
        |vc AS (SELECT count(*)::BIGINT AS v FROM voc),
        |ctx AS (SELECT l.u, p.i0 AS prev2, l.i0 AS prev1
        |  FROM (SELECT u, i0 FROM s WHERE rnd = 1) l
        |  JOIN (SELECT u, i0 FROM s WHERE rnd = 2) p USING (u)),
        |cand AS (SELECT ctx.u, ctx.prev2, ctx.prev1, voc.x, vc.v
        |  FROM ctx CROSS JOIN voc CROSS JOIN vc),
        |sc AS (SELECT cand.u, cand.prev2, cand.prev1, cand.x,
        |    ((coalesce(tri.c3, 0) + 1) * (coalesce(bip.c1pre, 0) + cand.v)
        |     + (coalesce(bi.c2, 0) + 1) * (coalesce(trip.c2pre, 0) + cand.v)
        |    )::BIGINT AS score_num,
        |    ((coalesce(trip.c2pre, 0) + cand.v)
        |     * (coalesce(bip.c1pre, 0) + cand.v))::BIGINT AS den
        |  FROM cand
        |  LEFT JOIN tri ON tri.a = cand.prev2 AND tri.b = cand.prev1
        |    AND tri.x = cand.x
        |  LEFT JOIN trip ON trip.a = cand.prev2 AND trip.b = cand.prev1
        |  LEFT JOIN bi ON bi.b = cand.prev1 AND bi.x = cand.x
        |  LEFT JOIN bip ON bip.b = cand.prev1),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY u ORDER BY score_num DESC, x) AS rk FROM sc)
        |SELECT u AS user_id, prev2, prev1, rk::BIGINT AS rank, x AS next_item,
        |  score_num, score_num::DOUBLE / den AS score
        |FROM r WHERE rk <= 3 ORDER BY 1, 4""".stripMargin

  // ----------------------------------------------------------- oracle SQL

  /** Exact 3-gram-shingle Jaccard pairs at threshold 0.4 — shared by q25
    * (exact inverted-index plan) and q26 (LSH-candidates + exact verify).
    */
  private val ngramJaccardOracle: String =
    """WITH tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
      |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      |       FROM tok, LATERAL unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g(i)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |j AS (SELECT d1, d2, i::DOUBLE / (ca.n + cb.n - i) AS jac FROM inter
      |      JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2)
      |SELECT d1 AS doc_id_1, d2 AS doc_id_2, round(jac, 4) AS jaccard
      |FROM j WHERE jac >= 0.4 ORDER BY 1, 2""".stripMargin

  /** q74 oracle: the follows edge list plus `n` unrolled fixed-point
    * PageRank rounds (graph/PageRank.scala semantics — `//` floor and
    * Spark `div` truncation agree on the non-negative operands here).
    * Built programmatically so every round is literally identical.
    */
  /** q138 oracle: `n` unrolled BPE merge rounds over the word
    * dictionary — per round the pair argmax (count desc, then
    * lexicographic), greedy application via gaps-and-islands with
    * odd-parity selection, and position re-densification. Built
    * programmatically so every round is literally identical.
    */
  /** q155 oracle: `k` unrolled greedy k-center rounds. Seed = smallest
    * vec_id; each round computes every unselected vector's min squared
    * distance to the selected set with the IDENTICAL float sequence the
    * operator uses ((sq − 2·dot) + csq, sequential dots) and picks by
    * (distance desc, id asc). Built programmatically so every round is
    * literally identical; MATERIALIZED hints for the multiply-referenced
    * CTEs (the bpeOracle lesson).
    */
  /** Shared DuckDB replay of [[graft.quality.ModelFilter.logitQuality]]'s
    * score chain (the q147/q160 CTE pipeline), ending in
    * `sc(doc_id, score_micro)` — reused by the q173/q174 eval oracles so
    * the scorer replay lives in one place. */
  /** The q147 profile-feature derivation (t, b, f) — shared between the
    * exp-scorer CTEs below and the q213 training replay. */
  private val profileFeatureCtes: String =
    """t AS (SELECT doc_id, text,
      |    string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
      |b AS (SELECT doc_id,
      |    len(toks)::BIGINT AS n_tokens, length(text)::BIGINT AS n_chars,
      |    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS punct_chars,
      |    len(list_filter(toks, x -> x IN ('the','a','of','and','is')))::BIGINT AS h_en,
      |    len(list_distinct(toks))::BIGINT AS n_uniq
      |  FROM t),
      |f AS (SELECT doc_id,
      |    round(h_en::DOUBLE / greatest(n_tokens, 1), 4) AS stop_r,
      |    round(punct_chars::DOUBLE / greatest(n_chars, 1), 4) AS punct_r,
      |    round(n_uniq::DOUBLE / greatest(n_tokens, 1), 4) AS uniq_r,
      |    least(n_chars, 2000)::DOUBLE / 2000.0 AS len_norm
      |  FROM b)""".stripMargin

  private val logitScoreCtes: String = profileFeatureCtes + ",\n" +
    """z AS (SELECT doc_id,
      |    -2.0 + 6.0 * stop_r + -8.0 * punct_r + 3.0 * uniq_r + 2.0 * len_norm AS z
      |  FROM f),
      |sc AS (SELECT doc_id,
      |    round(1.0 / (1.0 + exp(-z)) * 1000000.0)::BIGINT AS score_micro FROM z)"""
      .stripMargin

  /** Certified per-version report shared by the versioned-table gates
    * (q210/q216/q217): every version's readAsOf replay digested over
    * ALL schema columns and compared against the totals ARCHIVED at
    * commit time — `matches_archived` is computed, never asserted.
    * Bounded driver loop: one aggregate per version. */
  private def versionedReport(s: SparkSession, tbl: String): DataFrame = {
    import graft.ingest.{Fingerprint, Versioned}
    import s.implicits._
    val vmax = Versioned.latestVersion(s, tbl)
    val replayed = (1L to vmax).map { v =>
      val asOf = Versioned.readAsOf(s, tbl, v)
      val r = asOf.agg(count(lit(1)).as("n"),
        coalesce(sum(Fingerprint.rowDigest(
          asOf.schema.fieldNames.toSeq.map(col))), lit(0L)).as("fp"),
        coalesce(sum(col("cents")), lit(0L)).as("sc")).head()
      (v, r.getLong(0), r.getLong(1), r.getLong(2))
    }.toDF("version", "replay_rows", "replay_fp", "sum_cents")
    Versioned.history(s, tbl)
      .select(col("version"), col("snapshot_rows"), col("snapshot_fp"))
      .join(replayed, Seq("version"))
      .select(col("version"), col("snapshot_rows"), col("snapshot_fp"),
        (col("snapshot_rows") === col("replay_rows") &&
          col("snapshot_fp") === col("replay_fp")).as("matches_archived"),
        col("sum_cents"))
      .orderBy(col("version"))
  }

  /** FLOOR division spelled for the oracle engine, whose integer `//`
    * TRUNCATES toward zero (verified: `(-7) // 2 = -3`) while the
    * engine's floor_div / Math.floorDiv floor: subtract the
    * floor-remainder `((a % b + b) % b)` first, after which truncation
    * IS floor. `b` must be positive (every divisor here is a literal
    * scale or a row count). */
  private def sqlFloorDiv(a: String, b: String): String =
    s"(($a - ((($a) % ($b) + ($b)) % ($b))) // ($b))"

  /** q213's replay: the same integer-micro feature grid, then `steps`
    * UNROLLED full-batch iterations — margin floor-div, rational
    * fast-sigmoid link, per-row floor-div gradient terms, and the
    * mean-then-scale weight update, every quotient an explicit FLOOR
    * ([[sqlFloorDiv]] — margins, gradients and weights go negative) to
    * match the engine's floor_div / Math.floorDiv chain exactly. */
  private def logitTrainOracle(steps: Int, lrMicro: Long): String = {
    val xs = Seq("x0", "x1", "x2", "x3", "x4")
    val iters = (1 to steps).map { s =>
      val zSum = xs.zipWithIndex
        .map { case (x, j) => s"fx.$x * w.w$j" }.mkString(" + ")
      val gs = xs.zipWithIndex
        .map { case (x, j) =>
          s"sum(${sqlFloorDiv(s"(p - y) * $x", "1000000")})::BIGINT AS g$j" }
        .mkString(", ")
      val upd = (0 until 5)
        .map { j =>
          val meanG = sqlFloorDiv(s"g.g$j", "g.n")
          s"w.w$j - ${sqlFloorDiv(s"$lrMicro * $meanG", "1000000")} AS w$j" }
        .mkString(", ")
      s"""it$s AS (SELECT fx.*, ${sqlFloorDiv(zSum, "1000000")} AS z FROM fx, w${s - 1} w),
         |pp$s AS (SELECT y, x0, x1, x2, x3, x4,
         |  500000 + ${sqlFloorDiv("z * 500000", "1000000 + abs(z)")} AS p FROM it$s),
         |gg$s AS (SELECT count(*)::BIGINT AS n,
         |  sum(CASE WHEN p >= 500000 THEN 1 ELSE 0 END)::BIGINT AS n_keep,
         |  $gs FROM pp$s),
         |w$s AS (SELECT $upd, g.n AS n, g.n_keep AS n_keep
         |  FROM w${s - 1} w, gg$s g)""".stripMargin
    }.mkString(",\n")
    val readout = (1 to steps).map { s =>
      s"""SELECT $s::BIGINT AS step, n, n_keep AS n_keep_pre,
         |  w0::BIGINT AS w_bias_micro, w1::BIGINT AS w_stop_micro,
         |  w2::BIGINT AS w_punct_micro, w3::BIGINT AS w_uniq_micro,
         |  w4::BIGINT AS w_len_micro FROM w$s""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $profileFeatureCtes,
       |fx AS (SELECT f.doc_id,
       |    CASE WHEN d.lang = 'en' THEN 1000000 ELSE 0 END::BIGINT AS y,
       |    1000000::BIGINT AS x0,
       |    round(stop_r * 1000000)::BIGINT AS x1,
       |    round(punct_r * 1000000)::BIGINT AS x2,
       |    round(uniq_r * 1000000)::BIGINT AS x3,
       |    (least(b.n_chars, 2000) * 500)::BIGINT AS x4
       |  FROM f JOIN b USING (doc_id) JOIN documents d USING (doc_id)),
       |w0 AS (SELECT 0::BIGINT AS w0, 0::BIGINT AS w1, 0::BIGINT AS w2,
       |       0::BIGINT AS w3, 0::BIGINT AS w4),
       |$iters
       |$readout
       |ORDER BY step""".stripMargin
  }

  /** Recursive-closure connected components over the q38 near-dup edge
    * set — ground truth for BOTH cc plans (q38 min-label propagation,
    * q179 large-star/small-star). */
  private val ccClusterOracle: String =
    """WITH RECURSIVE tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
      |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      |       FROM tok, LATERAL unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g(i)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT d1, d2 FROM inter
      |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
      |          WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.4),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |nodes AS (SELECT DISTINCT a AS doc_id FROM edges)
      |SELECT n.doc_id, least(n.doc_id, min(r.b)) AS cluster_id,
      |  least(n.doc_id, min(r.b)) = n.doc_id AS is_kept
      |FROM nodes n JOIN reach r ON r.a = n.doc_id
      |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin

  /** q178's DuckDB replay: BM25 chain + graded relevance + the SAME
    * Scala-computed position-discount literals the plan embeds. */
  private def ndcgOracle(k: Int): String = {
    val weights = (1 to k)
      .map(i => s"($i, ${graft.analytics.Eval.dcgWeightMicro(i)})")
      .mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+')) AS token
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
      |qt AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok
      |  WHERE token IN ('spark', 'join') GROUP BY 1, 2),
      |qdf AS (SELECT token, count(*)::BIGINT AS df FROM qt GROUP BY 1),
      |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |ad AS (SELECT avg(dl) AS avgdl FROM dl),
      |s AS (SELECT q.doc_id,
      |    round((q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * (dl.dl / ad.avgdl)))
      |      * ((nn.n - d.df + 0.5) / (d.df + 0.5)) * 1000000.0)::BIGINT AS score_micro
      |  FROM qt q JOIN qdf d USING (token) JOIN dl ON dl.doc_id = q.doc_id
      |  CROSS JOIN nn CROSS JOIN ad),
      |bm AS (SELECT doc_id, sum(score_micro)::BIGINT AS bm25_micro
      |  FROM s GROUP BY 1 ORDER BY bm25_micro DESC, doc_id ASC LIMIT $k),
      |bmr AS (SELECT doc_id, row_number() OVER
      |  (ORDER BY bm25_micro DESC, doc_id ASC)::BIGINT AS r FROM bm),
      |rel AS (SELECT b.r,
      |    (CASE WHEN d.lang = 'en' THEN 2 ELSE 0 END
      |     + CASE WHEN d.n_chars >= 150 THEN 1 ELSE 0 END)::BIGINT AS rel
      |  FROM bmr b JOIN documents d USING (doc_id)),
      |w(pos, wt) AS (VALUES $weights),
      |ideal AS (SELECT rel, r,
      |    row_number() OVER (ORDER BY rel DESC, r ASC)::BIGINT AS ir FROM rel),
      |agg AS (SELECT count(*)::BIGINT AS n_ranked,
      |    coalesce(sum(i.rel * wr.wt), 0)::BIGINT AS dcg_micro,
      |    coalesce(sum(i.rel * wi.wt), 0)::BIGINT AS idcg_micro,
      |    coalesce(min(CASE WHEN i.rel > 0 THEN i.r END), 0)::BIGINT AS first_rel_rank
      |  FROM ideal i JOIN w wr ON wr.pos = i.r JOIN w wi ON wi.pos = i.ir)
      |SELECT n_ranked, dcg_micro, idcg_micro,
      |  (CASE WHEN idcg_micro = 0 THEN 0
      |        ELSE (dcg_micro * 1000000) // idcg_micro END)::BIGINT AS ndcg_micro,
      |  first_rel_rank,
      |  (CASE WHEN first_rel_rank = 0 THEN 0
      |        ELSE 1000000000 // first_rel_rank END)::BIGINT AS mrr_nano
      |FROM agg""".stripMargin
  }

  private def kcenterOracle(k: Int): String = {
    val rounds = (1 until k).map { r =>
      s"""m$r AS MATERIALIZED (SELECT a.vec_id, a.vec, a.sq,
         |    min((a.sq - 2 * list_inner_product(a.vec, c.vec)) + c.sq) AS md
         |  FROM vv a JOIN s$r c ON true
         |  WHERE NOT EXISTS (SELECT 1 FROM s$r x WHERE x.vec_id = a.vec_id)
         |  GROUP BY a.vec_id, a.vec, a.sq),
         |c$r AS MATERIALIZED (SELECT vec_id, vec, sq, md FROM m$r
         |  ORDER BY md DESC, vec_id LIMIT 1),
         |s${r + 1} AS MATERIALIZED (SELECT vec_id, vec, sq FROM s$r
         |  UNION ALL SELECT vec_id, vec, sq FROM c$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings),
       |vv AS (SELECT vec_id, vec, list_inner_product(vec, vec) AS sq FROM v
       |       WHERE sqrt(list_inner_product(vec, vec)) > 0),
       |s1 AS MATERIALIZED (SELECT vec_id, vec, sq FROM vv ORDER BY vec_id LIMIT 1),
       |$rounds
       |SELECT 0 AS "round", vec_id, 0.0::DOUBLE AS dist_sq FROM s1
       |${(1 until k).map(r =>
          s"""UNION ALL SELECT $r AS "round", vec_id, round(md, 6) FROM c$r""")
         .mkString("\n")}
       |ORDER BY 1""".stripMargin
  }

  /** q168 oracle: k unrolled MMR rounds (the kcenterOracle discipline).
    * Query = vec 0; round-1 score uses the ms = −1 sentinel literally;
    * later rounds take max cosine to the selected set — each cosine the
    * same fused-dot float sequence, max order-independent. */
  private def mmrOracle(k: Int): String = {
    val score = "0.5 * rel - 0.5 * (1.0 + ms)"
    val rounds = (2 to k).map { r =>
      s"""m$r AS MATERIALIZED (SELECT a.vec_id, a.vec, a.nrm, a.rel,
         |    max(list_inner_product(a.vec, c.vec) / (a.nrm * c.nrm)) AS ms
         |  FROM base a JOIN s$r c ON true
         |  WHERE NOT EXISTS (SELECT 1 FROM s$r x WHERE x.vec_id = a.vec_id)
         |  GROUP BY a.vec_id, a.vec, a.nrm, a.rel),
         |c$r AS MATERIALIZED (SELECT vec_id, vec, nrm, $score AS mmr
         |  FROM m$r ORDER BY mmr DESC, vec_id LIMIT 1),
         |s${r + 1} AS MATERIALIZED (SELECT vec_id, vec, nrm FROM s$r
         |  UNION ALL SELECT vec_id, vec, nrm FROM c$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings),
       |n AS (SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS nrm FROM v
       |      WHERE sqrt(list_inner_product(vec, vec)) > 0),
       |q AS (SELECT vec, nrm FROM n WHERE vec_id = 0),
       |base AS (SELECT a.vec_id, a.vec, a.nrm,
       |    list_inner_product(a.vec, q.vec) / (a.nrm * q.nrm) AS rel
       |  FROM n a, q WHERE a.vec_id <> 0),
       |c1 AS MATERIALIZED (SELECT vec_id, vec, nrm,
       |    0.5 * rel - 0.5 * (1.0 + -1.0) AS mmr
       |  FROM base ORDER BY mmr DESC, vec_id LIMIT 1),
       |s2 AS MATERIALIZED (SELECT vec_id, vec, nrm FROM c1),
       |$rounds
       |${(1 to k).map(r =>
          s"""SELECT ${r - 1} AS "round", vec_id, round(mmr, 6) AS mmr_score FROM c$r""")
         .mkString("\nUNION ALL\n")}
       |ORDER BY 1""".stripMargin
  }

  private def bpeOracle(n: Int): String =
    s"""${bpeRoundsWith(n)}
       |${(1 to n)
          .map(k => s"SELECT $k AS round, l AS lhs, r AS rhs, cnt AS pair_count FROM b$k")
          .mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin

  /** q139 oracle: the same $n unrolled rounds, read out as the final
    * segmentation per word instead of the merge table. */
  private def bpeSegmentOracle(n: Int): String =
    s"""${bpeRoundsWith(n)}
       |SELECT word, n, string_agg(sym, ' ' ORDER BY pos) AS pieces
       |FROM s$n GROUP BY 1, 2 ORDER BY word""".stripMargin

  /** q167 oracle: the same rounds, collapsed to the corpus-level
    * fertility/compression readout in integer micro-units. */
  private def bpeFertilityOracle(n: Int): String =
    s"""${bpeRoundsWith(n)},
       |seg AS (SELECT word, n, count(*)::BIGINT AS pieces FROM s$n GROUP BY 1, 2),
       |t AS (SELECT count(*)::BIGINT AS n_distinct_words, sum(n)::BIGINT AS n_words,
       |    sum(n * pieces)::BIGINT AS n_pieces,
       |    sum(n * length(word))::BIGINT AS n_chars FROM seg)
       |SELECT n_distinct_words, n_words, n_pieces, n_chars,
       |  (n_pieces * 1000000) // n_words AS fertility_micro,
       |  (n_chars * 1000000) // n_pieces AS compression_micro
       |FROM t""".stripMargin

  private def bpeRoundsWith(n: Int): String = {
    val roundCtes = (1 to n).map { k =>
      s"""x$k AS MATERIALIZED (SELECT word, n, pos, sym,
         |    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s${k - 1}),
         |b$k AS MATERIALIZED (SELECT sym AS l, nxt AS r, sum(n)::BIGINT AS cnt FROM x$k
         |    WHERE nxt IS NOT NULL GROUP BY 1, 2
         |    ORDER BY cnt DESC, l, r LIMIT 1),
         |sel$k AS MATERIALIZED (SELECT word, pos FROM (
         |    SELECT word, pos, row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS rn
         |    FROM (SELECT m.word, m.pos,
         |            m.pos - row_number() OVER (PARTITION BY m.word ORDER BY m.pos) AS grp
         |          FROM x$k m, b$k b WHERE m.sym = b.l AND m.nxt = b.r))
         |  WHERE rn % 2 = 1),
         |s$k AS MATERIALIZED (SELECT word, n, row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
         |      CASE WHEN issel THEN l || r ELSE sym END AS sym
         |    FROM (SELECT m.word, m.n, m.pos, m.sym,
         |            (s.pos IS NOT NULL) AS issel,
         |            (d.pos IS NOT NULL) AS isdrop, b.l, b.r
         |          FROM x$k m
         |          CROSS JOIN b$k b
         |          LEFT JOIN sel$k s ON s.word = m.word AND s.pos = m.pos
         |          LEFT JOIN sel$k d ON d.word = m.word AND d.pos = m.pos - 1)
         |    WHERE NOT isdrop
         |    UNION ALL
         |    SELECT word, n, pos, sym FROM s${k - 1}
         |    WHERE NOT EXISTS (SELECT 1 FROM b$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH wd AS MATERIALIZED (SELECT word, count(*)::BIGINT AS n FROM (
       |    SELECT unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS word
       |    FROM documents) WHERE word <> '' AND regexp_matches(word, '^[a-z]+$$')
       |  GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT word, n, unnest(range(len(cs))) AS pos, unnest(cs) AS sym
       |    FROM (SELECT word, n, string_split(word, '') AS cs FROM wd)),
       |$roundCtes""".stripMargin
  }

  private def pagerankOracle(n: Int): String = {
    val rounds = (1 to n).map { i =>
      s"""c$i AS (SELECT e.dst AS id, sum((r.r * 85) // (100 * d.outdeg))::BIGINT AS cin
         |  FROM edges e JOIN deg d ON d.src = e.src JOIN r${i - 1} r ON r.id = e.src GROUP BY 1),
         |r$i AS (SELECT nd.id, 150000000::BIGINT + coalesce(c.cin, 0) AS r
         |  FROM nodes nd LEFT JOIN c$i c ON c.id = nd.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH cand AS (SELECT c_custkey AS src, c_nationkey AS nk,
       |    unnest([c_custkey - 2, c_custkey - 1, c_custkey + 1, c_custkey + 2]) AS dst
       |  FROM customer),
       |edges AS (SELECT cand.src, cand.dst FROM cand
       |  JOIN customer c2 ON c2.c_nationkey = cand.nk AND c2.c_custkey = cand.dst),
       |deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS id FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |r0 AS (SELECT id, 1000000000::BIGINT AS r FROM nodes),
       |$rounds
       |SELECT id AS user_id, r AS rank_fp FROM r$n
       |ORDER BY rank_fp DESC, id LIMIT 100""".stripMargin
  }

  /** q76 oracle: the Morton interleave recomputed with `bits` unrolled
    * shift-mask-or terms per dimension (functions/ZValue.scala semantics),
    * then the same max-anchored equal-width bucketing. */
  private def zorderOracle(bits: Int): String = {
    val zx = (0 until bits).map(i => s"(((l_partkey >> $i) & 1) << ${2 * i})").mkString(" | ")
    val zy = (0 until bits).map(i => s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})").mkString(" | ")
    s"""WITH zt AS (SELECT l_partkey, l_suppkey, ($zx) | ($zy) AS z FROM lineitem),
       |m AS (SELECT max(z) AS mz FROM zt)
       |SELECT z // ((m.mz // 64) + 1) AS z_bucket, count(*)::BIGINT AS n,
       |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
       |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
       |FROM zt CROSS JOIN m
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q82 oracle: `n` unrolled BFS rounds over the follows edges —
    * frontier from the previous round's dist=k−1 slice, min-merged into
    * the visited set (graph/Paths.scala semantics). */
  private def bfsOracle(n: Int): String = {
    val rounds = (1 to n).map { i =>
      s"""f$i AS (SELECT DISTINCT e.dst AS id FROM edges e
         |  JOIN v${i - 1} v ON v.id = e.src AND v.dist = ${i - 1}),
         |v$i AS (SELECT id, min(dist)::BIGINT AS dist FROM (
         |    SELECT id, dist FROM v${i - 1}
         |    UNION ALL SELECT id, $i AS dist FROM f$i) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH cand AS (SELECT c_custkey AS src, c_nationkey AS nk,
       |    unnest([c_custkey - 2, c_custkey - 1, c_custkey + 1, c_custkey + 2]) AS dst
       |  FROM customer),
       |edges AS (SELECT cand.src, cand.dst FROM cand
       |  JOIN customer c2 ON c2.c_nationkey = cand.nk AND c2.c_custkey = cand.dst),
       |v0 AS (SELECT c_custkey AS id, 0::BIGINT AS dist FROM customer WHERE c_custkey <= 5),
       |$rounds
       |SELECT id AS user_id, dist FROM v$n ORDER BY dist, user_id""".stripMargin
  }

  /** DuckDB-runnable ANSI SQL equivalents, table names = parquet basenames.
    * Column aliases match the Spark side exactly (driver sorts columns by
    * name before hashing). */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS sum_price,
        |  sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT) / 10000.0 AS sum_disc_price,
        |  round(sum(l_quantity))::BIGINT / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net_price,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 30
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q3_fact_dim_join" ->
      """SELECT n_name, count(*) AS n_orders,
        |  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q4_topk_trending" ->
      """WITH counts AS (
        |  SELECT l_partkey AS track_id, count(*) AS play_count
        |  FROM lineitem, (SELECT max(l_shipdate) AS mx FROM lineitem)
        |  WHERE l_shipdate >= mx - INTERVAL 30 DAY GROUP BY 1)
        |SELECT c.track_id, p.p_name AS track_name, c.play_count
        |FROM counts c JOIN part p ON p.p_partkey = c.track_id
        |ORDER BY play_count DESC, track_id ASC LIMIT 10""".stripMargin,

    "q5_distinct_pairs" ->
      """SELECT DISTINCT o_custkey AS user_id, l_partkey AS track_id
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY user_id, track_id""".stripMargin,

    // The Spark side floors the nanosecond parquet timestamps to µs
    // (Tables.events); compare at µs resolution here too, or an event
    // within <1µs of the 7-day boundary diverges the two sides (ADVICE r1).
    "q6_recent_window" ->
      """WITH e AS (SELECT event_type, value, epoch_ns(ts) // 1000 AS us FROM events)
        |SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM e, (SELECT max(us) AS mx FROM e)
        |WHERE us >= mx - 7::BIGINT * 86400 * 1000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q7_union_distinct" ->
      """WITH plt AS (SELECT DISTINCT l_orderkey AS playlist_id, l_partkey AS track_id FROM lineitem),
        |sim AS (
        |  SELECT a.track_id AS t1, b.track_id AS t2
        |  FROM plt a JOIN plt b ON a.playlist_id = b.playlist_id AND a.track_id < b.track_id
        |  GROUP BY 1, 2)
        |SELECT DISTINCT track_id FROM (SELECT t1 AS track_id FROM sim UNION ALL SELECT t2 FROM sim)
        |ORDER BY track_id""".stripMargin,

    "q8_left_join_fill" ->
      """WITH likes AS (
        |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS track_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |plt AS (SELECT DISTINCT l_orderkey AS playlist_id, l_partkey AS track_id FROM lineitem),
        |sim AS (
        |  SELECT a.track_id AS track_id_1, b.track_id AS track_id_2, count(*) AS score
        |  FROM plt a JOIN plt b ON a.playlist_id = b.playlist_id AND a.track_id < b.track_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |model_tracks AS (
        |  SELECT DISTINCT track_id FROM
        |    (SELECT track_id_1 AS track_id FROM sim UNION ALL SELECT track_id_2 FROM sim)),
        |total AS (SELECT user_id, count(*) AS total_likes_count FROM likes GROUP BY 1),
        |relevant AS (
        |  SELECT user_id, count(*) AS relevant_likes_count FROM likes
        |  WHERE track_id IN (SELECT track_id FROM model_tracks) GROUP BY 1)
        |SELECT t.user_id, t.total_likes_count,
        |  coalesce(r.relevant_likes_count, 0) AS relevant_likes_count
        |FROM total t LEFT JOIN relevant r ON t.user_id = r.user_id
        |ORDER BY t.user_id""".stripMargin,

    "q9_anti_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem, (SELECT max(l_shipdate) AS mx FROM lineitem)
        |  WHERE l_partkey = p_partkey AND l_shipdate >= mx - INTERVAL 30 DAY)
        |ORDER BY p_partkey""".stripMargin,

    "q10_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400)
        |ORDER BY c_custkey""".stripMargin,

    "q11_cooccurrence" ->
      """WITH plt AS (SELECT DISTINCT l_orderkey AS playlist_id, l_partkey AS track_id FROM lineitem)
        |SELECT a.track_id AS track_id_1, b.track_id AS track_id_2, count(*) AS score
        |FROM plt a JOIN plt b ON a.playlist_id = b.playlist_id AND a.track_id < b.track_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin,

    "q12_collab_pairs" ->
      """WITH likes AS (
        |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS track_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT a.track_id AS track_id_1, b.track_id AS track_id_2, count(*) AS score
        |FROM likes a JOIN likes b ON a.user_id = b.user_id AND a.track_id < b.track_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY 1, 2""".stripMargin,

    "q13_social_onehop" ->
      """WITH likes AS (
        |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS track_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |follows AS (
        |  SELECT a.c_custkey AS user_id_a, b.c_custkey AS user_id_b
        |  FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey
        |  WHERE a.c_custkey <> b.c_custkey AND abs(a.c_custkey - b.c_custkey) <= 2)
        |SELECT f.user_id_a, count(DISTINCT l.track_id) AS n_social_tracks
        |FROM follows f JOIN likes l ON f.user_id_b = l.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_trending_normalized" ->
      """WITH counts AS (
        |  SELECT l_partkey AS track_id, count(*) AS play_count
        |  FROM lineitem, (SELECT max(l_shipdate) AS mx FROM lineitem)
        |  WHERE l_shipdate >= mx - INTERVAL 30 DAY GROUP BY 1)
        |SELECT track_id, play_count,
        |  play_count / (SELECT max(play_count) FROM counts) AS norm_score
        |FROM counts ORDER BY track_id""".stripMargin,

    // DemoUser is interpolated so query and oracle can never desync.
    "q15_hybrid_recommend" ->
      s"""WITH likes AS (
        |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS track_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |plt AS (SELECT DISTINCT l_orderkey AS playlist_id, l_partkey AS track_id FROM lineitem),
        |playlist_sim AS (
        |  SELECT a.track_id AS track_id_1, b.track_id AS track_id_2, count(*) AS score
        |  FROM plt a JOIN plt b ON a.playlist_id = b.playlist_id AND a.track_id < b.track_id
        |  GROUP BY 1, 2),
        |cf_sim AS (
        |  SELECT a.track_id AS track_id_1, b.track_id AS track_id_2, count(*) AS score
        |  FROM likes a JOIN likes b ON a.user_id = b.user_id AND a.track_id < b.track_id
        |  GROUP BY 1, 2),
        |trending AS (
        |  SELECT l_partkey AS track_id, count(*) AS play_count
        |  FROM lineitem, (SELECT max(l_shipdate) AS mx FROM lineitem)
        |  WHERE l_shipdate >= mx - INTERVAL 30 DAY GROUP BY 1),
        |follows AS (
        |  SELECT a.c_custkey AS user_id_a, b.c_custkey AS user_id_b
        |  FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey
        |  WHERE a.c_custkey <> b.c_custkey AND abs(a.c_custkey - b.c_custkey) <= 2),
        |user_likes AS (SELECT track_id FROM likes WHERE user_id = $DemoUser),
        |sym_playlist AS (
        |  SELECT track_id_1, track_id_2, score FROM playlist_sim
        |  UNION ALL SELECT track_id_2, track_id_1, score FROM playlist_sim),
        |sym_cf AS (
        |  SELECT track_id_1, track_id_2, score FROM cf_sim
        |  UNION ALL SELECT track_id_2, track_id_1, score FROM cf_sim),
        |cand_sim AS (
        |  SELECT s.track_id_2 AS track_id, sum(s.score)::DOUBLE AS sim_score
        |  FROM sym_playlist s JOIN user_likes u ON s.track_id_1 = u.track_id GROUP BY 1),
        |cand_cf AS (
        |  SELECT s.track_id_2 AS track_id, sum(s.score)::DOUBLE AS cf_score
        |  FROM sym_cf s JOIN user_likes u ON s.track_id_1 = u.track_id GROUP BY 1),
        |cand_social AS (
        |  SELECT l.track_id, count(*)::DOUBLE AS social_score
        |  FROM follows f JOIN likes l ON f.user_id_b = l.user_id
        |  WHERE f.user_id_a = $DemoUser GROUP BY 1),
        |cand_trend AS (
        |  SELECT track_id,
        |    play_count::DOUBLE / (SELECT max(play_count) FROM trending) AS trend_score
        |  FROM trending),
        |scored AS (
        |  SELECT coalesce(s.track_id, c.track_id, o.track_id, t.track_id) AS track_id,
        |    coalesce(s.sim_score, 0) * 0.6 + coalesce(c.cf_score, 0) * 1.5
        |      + coalesce(o.social_score, 0) * 0.5 + coalesce(t.trend_score, 0) * 0.2 AS score
        |  FROM cand_sim s
        |  FULL OUTER JOIN cand_cf c ON s.track_id = c.track_id
        |  FULL OUTER JOIN cand_social o ON coalesce(s.track_id, c.track_id) = o.track_id
        |  FULL OUTER JOIN cand_trend t ON coalesce(s.track_id, c.track_id, o.track_id) = t.track_id),
        |top AS (
        |  SELECT track_id, score FROM scored
        |  WHERE track_id NOT IN (SELECT track_id FROM user_likes)
        |  ORDER BY score DESC, track_id ASC LIMIT 5)
        |SELECT track_id, score FROM top ORDER BY score DESC, track_id ASC""".stripMargin,

    "q16_window_rank" ->
      """WITH counts AS (
        |  SELECT l_partkey AS track_id, count(*) AS play_count
        |  FROM lineitem, (SELECT max(l_shipdate) AS mx FROM lineitem)
        |  WHERE l_shipdate >= mx - INTERVAL 30 DAY GROUP BY 1),
        |ranked AS (
        |  SELECT p.p_brand, c.track_id, c.play_count,
        |    row_number() OVER (PARTITION BY p.p_brand
        |      ORDER BY c.play_count DESC, c.track_id ASC)::BIGINT AS rn
        |  FROM counts c JOIN part p ON p.p_partkey = c.track_id)
        |SELECT p_brand, rn, track_id, play_count FROM ranked WHERE rn <= 3
        |ORDER BY p_brand, rn""".stripMargin,

    "q17_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  (grouping(l_returnflag) * 2 + grouping(l_linestatus))::BIGINT AS grp,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY grp, returnflag, linestatus""".stripMargin,

    "q18_date_parts" ->
      """SELECT year(o_orderdate)::BIGINT AS o_year, month(o_orderdate)::BIGINT AS o_month,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q19_scalar_strings" ->
      """SELECT p_partkey, upper(p_brand) AS brand_uc,
        |  substr(p_name, 1, 8) AS name_prefix,
        |  length(p_name)::BIGINT AS name_len,
        |  concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q20_sql_surface" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Recomputes the payload derivation + aggregate straight from events:
    // timestamps truncated to µs exactly like the Spark reader.
    "q21_stream_ingest" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    strftime(make_timestamp(epoch_ns(ts) // 1000), '%Y-%m-%dT%H:%M:%S.%f') AS tstr
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  sum(event_id % 100 + event_id % 97)::BIGINT AS rec_sum,
        |  max(tstr) AS last_ts,
        |  strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
        |  count(DISTINCT substr(tstr, 1, 10)) AS n_days
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "q22_ingest_roundtrip" ->
      """SELECT year(o_orderdate)::BIGINT AS o_year, month(o_orderdate)::BIGINT AS o_month,
        |  count(*) AS n_orders,
        |  count(DISTINCT o_orderdate::DATE) AS n_days,
        |  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS revenue
        |FROM orders WHERE year(o_orderdate) >= 1996
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q24_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin,

    "q25_ngram_jaccard" -> ngramJaccardOracle,

    // Same semantics as q25: LSH candidates are verified with the exact
    // Jaccard, and nothing in this corpus sits in the recall-risky band.
    "q26_minhash_lsh" -> ngramJaccardOracle,

    // third plan, same exact result: the prefix-filter recall guarantee
    // is checked by hash equality against the exhaustive oracle
    "q150_prefix_join" -> ngramJaccardOracle,

    "q28_ann_cosine" ->
      """WITH d AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM d) WHERE nrm > 0),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
        |s AS (SELECT query_id, vec_id, round(list_inner_product(v, qv) / (nrm * qnrm), 6) AS score
        |      FROM n, q WHERE vec_id <> query_id),
        |r AS (SELECT query_id, vec_id, score,
        |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        |      FROM s)
        |SELECT query_id, rank::BIGINT AS rank, vec_id, score FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "q30_text_stats" ->
      """WITH t AS (SELECT doc_id, text, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |b AS (SELECT doc_id, text, toks,
        |  len(toks)::BIGINT AS n_tokens, length(text)::BIGINT AS n_chars,
        |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS punct_chars,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','is')))::BIGINT AS h_en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist')))::BIGINT AS h_de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et','est')))::BIGINT AS h_fr,
        |  len(list_filter(toks, x -> x IN ('el','la','los','y','es')))::BIGINT AS h_es,
        |  len(list_filter(toks, x -> x IN ('de','shi','le','zai','he')))::BIGINT AS h_zh
        | FROM t),
        |g AS (SELECT *, greatest(h_de, h_en, h_es, h_fr, h_zh) AS mx FROM b)
        |SELECT doc_id, n_tokens, n_chars,
        |  round(n_chars::DOUBLE / greatest(n_tokens, 1), 4) AS avg_token_len,
        |  round(h_en::DOUBLE / greatest(n_tokens, 1), 4) AS stopword_ratio,
        |  round(punct_chars::DOUBLE / greatest(n_chars, 1), 4) AS punct_ratio,
        |  round(len(list_distinct(toks))::DOUBLE / greatest(n_tokens, 1), 4) AS unique_ratio,
        |  round(list_max(list_transform(list_distinct(toks),
        |    t -> len(list_filter(toks, x -> x = t))))::DOUBLE / greatest(n_tokens, 1), 4) AS top_token_ratio,
        |  round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
        |    1.0 - least(punct_chars::DOUBLE / greatest(n_chars, 1), 0.5)
        |        - CASE WHEN n_chars < 100 THEN 0.25 ELSE 0.0 END END, 4) AS quality_score,
        |  CASE WHEN h_de = mx AND mx > 0 THEN 'de'
        |       WHEN h_en = mx AND mx > 0 THEN 'en'
        |       WHEN h_es = mx AND mx > 0 THEN 'es'
        |       WHEN h_fr = mx AND mx > 0 THEN 'fr'
        |       WHEN h_zh = mx AND mx > 0 THEN 'zh'
        |       ELSE 'und' END AS lang_pred,
        |  md5(array_to_string(toks, ' ')) AS fingerprint,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000000000037) AS rolling_hash
        |FROM g ORDER BY doc_id""".stripMargin,

    "q31_multimodal" ->
      """WITH ch AS (
        |  SELECT doc_id, source, length(text)::BIGINT AS n_bytes,
        |    ascii(substr(text, 1, 1))::BIGINT AS head_byte,
        |    (SELECT coalesce(sum(ascii(c)), 0) FROM unnest(string_split(text, '')) AS u(c)) % 1000003 AS checksum
        |  FROM documents)
        |SELECT source, count(*) AS n_docs, sum(n_bytes)::BIGINT AS total_bytes,
        |  sum(checksum)::BIGINT AS checksum_sum, min(head_byte) AS min_head
        |FROM ch GROUP BY 1 ORDER BY 1""".stripMargin,

    // Replays the resize (substr to 64 chars) and frame sampling
    // (16-char blocks every 16) in character arithmetic — exact because
    // the corpus is pure ASCII (octet_length == length for every doc,
    // at every SF).
    "q100_frame_sample" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 64) AS p
        |  FROM documents WHERE doc_id < 50),
        |f AS (SELECT doc_id, unnest(range((length(p) + 15) // 16)) AS fi, p
        |  FROM t WHERE length(p) > 0),
        |b AS (SELECT doc_id, fi, substr(p, fi * 16 + 1, 16) AS frame FROM f)
        |SELECT doc_id, count(*) AS n_frames,
        |  sum(length(frame))::BIGINT AS total_bytes,
        |  sum(ascii(substr(frame, 1, 1)))::BIGINT AS head_sum
        |FROM b GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q44_set_ops" ->
      """WITH mx AS (SELECT max(l_shipdate) AS m FROM lineitem),
        |recent AS (SELECT DISTINCT l_partkey FROM lineitem, mx
        |           WHERE l_shipdate >= m - INTERVAL 30 DAY),
        |older AS (SELECT DISTINCT l_partkey FROM lineitem, mx
        |          WHERE l_shipdate >= m - INTERVAL 60 DAY
        |            AND l_shipdate < m - INTERVAL 30 DAY)
        |SELECT 'both' AS category, l_partkey AS track_id
        |FROM (SELECT l_partkey FROM recent INTERSECT SELECT l_partkey FROM older)
        |UNION ALL
        |SELECT 'recent_only', l_partkey
        |FROM (SELECT l_partkey FROM recent EXCEPT SELECT l_partkey FROM older)
        |ORDER BY 1, 2""".stripMargin,

    "q45_pivot" ->
      """SELECT user_id % 10 AS user_decile,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q46_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  (grouping(l_returnflag) * 2 + grouping(l_linestatus))::BIGINT AS grp,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY grp, returnflag, linestatus""".stripMargin,

    "q42_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
        |  true AS within_env
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q43_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95,
        |  round(min(value), 4) AS vmin,
        |  round(max(value), 4) AS vmax
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q47_approx_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50_exact,
        |  round(quantile_cont(value, 0.95), 4) AS p95_exact,
        |  true AS p50_in_env,
        |  true AS p95_in_env
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q41_corpus_pipeline" ->
      """WITH cleaned AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      array_to_string(list_distinct(string_split(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(text, '[0-9A-Za-z._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |            '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |          '\+?[0-9][0-9()\- \t\n\r\f]{7,}[0-9]', '<PHONE>', 'g'),
        |        chr(10))), chr(10)),
        |      '[ \t\n\r\f]+', ' ', 'g')) AS text
        |  FROM documents),
        |t AS (SELECT doc_id, text, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM cleaned),
        |b AS (SELECT doc_id,
        |  len(toks)::BIGINT AS n_tokens, length(text)::BIGINT AS n_chars,
        |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS punct_chars,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','is')))::BIGINT AS h_en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist')))::BIGINT AS h_de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et','est')))::BIGINT AS h_fr,
        |  len(list_filter(toks, x -> x IN ('el','la','los','y','es')))::BIGINT AS h_es,
        |  len(list_filter(toks, x -> x IN ('de','shi','le','zai','he')))::BIGINT AS h_zh
        | FROM t),
        |g AS (SELECT *, greatest(h_de, h_en, h_es, h_fr, h_zh) AS mx FROM b),
        |prof AS (
        |  SELECT doc_id, n_tokens,
        |    round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
        |      1.0 - least(punct_chars::DOUBLE / greatest(n_chars, 1), 0.5)
        |          - CASE WHEN n_chars < 100 THEN 0.25 ELSE 0.0 END END, 4) AS quality_score,
        |    CASE WHEN h_de = mx AND mx > 0 THEN 'de'
        |         WHEN h_en = mx AND mx > 0 THEN 'en'
        |         WHEN h_es = mx AND mx > 0 THEN 'es'
        |         WHEN h_fr = mx AND mx > 0 THEN 'fr'
        |         WHEN h_zh = mx AND mx > 0 THEN 'zh'
        |         ELSE 'und' END AS lang_pred
        |  FROM g),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 8000 THEN 'train'
        |         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 9000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT sp.split, prof.lang_pred, count(*) AS n_docs,
        |  sum(round(prof.quality_score * 10000)::BIGINT) / 10000.0 / count(*) AS avg_quality,
        |  sum(prof.n_tokens)::BIGINT AS total_tokens
        |FROM prof JOIN sp USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q40_budget_packing" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000) % 8 AS pack_bucket
        |  FROM documents),
        |p AS (
        |  SELECT pack_bucket, n_chars,
        |    floor(coalesce(sum(n_chars) OVER (PARTITION BY pack_bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000)::BIGINT AS pack_id
        |  FROM b)
        |SELECT pack_bucket, pack_id, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q38_dedup_clusters" -> ccClusterOracle,

    // the SAME oracle gates the large-star/small-star plan: two
    // different distributed CC algorithms, one ground truth
    "q179_cc_twophase" -> ccClusterOracle,

    "q39_stratified_sample" ->
      """WITH kept AS (
        |  SELECT lang, doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bk,
        |    round(CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5 WHEN 'fr' THEN 0.5
        |          WHEN 'es' THEN 0.25 WHEN 'zh' THEN 0.25 ELSE 0.0 END * 10000)::BIGINT AS thr
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, sum(doc_id)::BIGINT AS sum_doc_id
        |FROM kept WHERE bk < thr GROUP BY 1 ORDER BY 1""".stripMargin,

    "q56_temperature_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |r AS (SELECT lang, sqrt(n::DOUBLE / (SELECT max(n) FROM c)) AS rate FROM c),
        |kept AS (
        |  SELECT d.lang, d.doc_id
        |  FROM documents d JOIN r USING (lang)
        |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000
        |        < round(r.rate * 10000)::BIGINT)
        |SELECT lang, count(*) AS n_kept, sum(doc_id)::BIGINT AS sum_doc_id
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,

    "q37_deterministic_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bk
        |  FROM documents)
        |SELECT CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, sum(doc_id)::BIGINT AS sum_doc_id
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q36_json_props" ->
      """SELECT event_type, json_extract_string(props, '$.k')::BIGINT % 10 AS k_bucket,
        |  count(*) AS n, sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The oracle replays the two deterministic Lloyd's rounds: fixed-point
    // integer micro-sums make the element-wise means exact on both engines,
    // so the trained centroids — and every score derived from them —
    // hash-match bit-for-bit.
    "q35_ann_ivf" ->
      """WITH d AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM d) WHERE nrm > 0),
        |c0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 16),
        |a1 AS (
        |  SELECT vec_id, cent_id, v FROM (
        |    SELECT x.vec_id, c.cent_id, x.v,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM n x, c0 c) WHERE rn = 1),
        |e1 AS (SELECT cent_id, unnest(range(len(v))) AS j, unnest(v) AS x FROM a1),
        |g1 AS (SELECT cent_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |       FROM e1 GROUP BY 1, 2),
        |m1 AS (SELECT cent_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |       FROM g1 GROUP BY 1),
        |c1 AS (SELECT c0.cent_id, COALESCE(m1.cv, c0.cv) AS cv,
        |         sqrt(list_inner_product(COALESCE(m1.cv, c0.cv), COALESCE(m1.cv, c0.cv))) AS cnrm
        |       FROM c0 LEFT JOIN m1 USING (cent_id)),
        |a2 AS (
        |  SELECT vec_id, cent_id, v FROM (
        |    SELECT x.vec_id, c.cent_id, x.v,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM n x, c1 c) WHERE rn = 1),
        |e2 AS (SELECT cent_id, unnest(range(len(v))) AS j, unnest(v) AS x FROM a2),
        |g2 AS (SELECT cent_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |       FROM e2 GROUP BY 1, 2),
        |m2 AS (SELECT cent_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |       FROM g2 GROUP BY 1),
        |c AS (SELECT c1.cent_id, COALESCE(m2.cv, c1.cv) AS cv,
        |        sqrt(list_inner_product(COALESCE(m2.cv, c1.cv), COALESCE(m2.cv, c1.cv))) AS cnrm
        |      FROM c1 LEFT JOIN m2 USING (cent_id)),
        |asg AS (
        |  SELECT vec_id, cent_id, v, nrm FROM (
        |    SELECT x.vec_id, c.cent_id, x.v, x.nrm,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM n x, c) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
        |probes AS (
        |  SELECT query_id, cent_id, qv, qnrm FROM (
        |    SELECT q.query_id, c.cent_id, q.qv, q.qnrm,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_inner_product(q.qv, c.cv) / (q.qnrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM q, c) WHERE rn <= 4),
        |s AS (SELECT p.query_id, a.vec_id,
        |        round(list_inner_product(a.v, p.qv) / (a.nrm * p.qnrm), 6) AS score
        |      FROM asg a JOIN probes p USING (cent_id)
        |      WHERE a.vec_id <> p.query_id),
        |r AS (SELECT query_id, vec_id, score,
        |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank FROM s)
        |SELECT query_id, rank::BIGINT AS rank, vec_id, score FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "q33_similar_tracks" ->
      s"""WITH plt AS (SELECT DISTINCT l_orderkey AS playlist_id, l_partkey AS track_id FROM lineitem),
        |sim AS (
        |  SELECT a.track_id AS t1, b.track_id AS t2, count(*) AS score
        |  FROM plt a JOIN plt b ON a.playlist_id = b.playlist_id AND a.track_id < b.track_id
        |  GROUP BY 1, 2),
        |sym AS (SELECT t1, t2, score FROM sim UNION ALL SELECT t2, t1, score FROM sim)
        |SELECT t2 AS track_id, sum(score) ::BIGINT AS score
        |FROM sym WHERE t1 = $DemoTrack
        |GROUP BY 1 ORDER BY score DESC, track_id ASC LIMIT 5""".stripMargin,

    "q34_collab_similar" ->
      s"""WITH likes AS (
        |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS track_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |sim AS (
        |  SELECT a.track_id AS t1, b.track_id AS t2, count(*) AS score
        |  FROM likes a JOIN likes b ON a.user_id = b.user_id AND a.track_id < b.track_id
        |  GROUP BY 1, 2),
        |sym AS (SELECT t1, t2, score FROM sim UNION ALL SELECT t2, t1, score FROM sim)
        |SELECT t2 AS track_id, sum(score) ::BIGINT AS score
        |FROM sym WHERE t1 = $DemoTrack
        |GROUP BY 1 ORDER BY score DESC, track_id ASC LIMIT 5""".stripMargin,

    // Generated oracle: 60 per-bit sign sums over the md5-derived token
    // hash, then brute-force hamming ≤ 3 over all pairs (the banded
    // operator must equal it — pigeonhole banding is lossless).
    "q27_simhash" -> {
      val bitSums = (0 until graft.text.Dedup.SimhashBits).map(i =>
        s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
      val bits = (0 until graft.text.Dedup.SimhashBits).map(i =>
        s"(CASE WHEN b$i > 0 THEN 1::BIGINT << $i ELSE 0 END)").mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+')) AS token
         |  FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM tok),
         |sums AS (SELECT doc_id, $bitSums FROM h GROUP BY 1),
         |sh AS (SELECT doc_id, $bits AS simhash FROM sums),
         |p AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |        bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT doc_id_1, doc_id_2, hamming FROM p WHERE hamming <= 3
         |ORDER BY doc_id_1, doc_id_2""".stripMargin
    },

    // Generated oracle: the 4 hyperplanes embedded as exact rational
    // component lists; bucket = sign-bit pattern; then the same
    // bucket-join + top-k as the operator.
    "q29_ann_lsh" -> {
      val planes = (0 until 4).map(p =>
        Similarity.planeMicro(p, EmbeddingDim)
          .map(r => s"(${r}.0/1000.0 - 0.5)").mkString("[", ", ", "]"))
      val bucketExpr = planes.zipWithIndex.map { case (pl, i) =>
        s"(CASE WHEN list_inner_product(v, $pl) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH d AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM d) WHERE nrm > 0),
         |s AS (SELECT vec_id, v, nrm, $bucketExpr AS bucket FROM n),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket FROM s WHERE vec_id < 5),
         |sc AS (SELECT q.query_id, s.vec_id,
         |         round(list_inner_product(s.v, q.qv) / (s.nrm * q.qnrm), 6) AS score
         |       FROM s JOIN q USING (bucket) WHERE s.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id, score,
         |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |      FROM sc)
         |SELECT query_id, rank::BIGINT AS rank, vec_id, score FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    },

    "q59_bpe_tokens" ->
      """WITH t AS (
        |  SELECT lang,
        |    len(regexp_extract_all(text,
        |      '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\f\p{L}\p{N}]+|[ \t\n\r\f]+')) AS n_bpe,
        |    len(string_split_regex(text, '[ \t\n\r\f]+')) AS n_ws
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  sum(n_bpe)::BIGINT AS total_bpe_tokens,
        |  sum(n_ws)::BIGINT AS total_ws_tokens
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q58_stream_enrich" ->
      """SELECT c_nationkey::BIGINT AS nation, count(*) AS n,
        |  sum(round(value * 10000)::BIGINT)::BIGINT / 10000.0 AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q57_range_join" ->
      """WITH c AS (SELECT c_custkey, round(c_acctbal * 100)::BIGINT AS c_cents FROM customer),
        |s AS (SELECT s_suppkey, round(s_acctbal * 100)::BIGINT AS s_cents FROM supplier)
        |SELECT count(*) AS n_pairs,
        |  sum(c_custkey)::BIGINT AS sum_custkey,
        |  sum(s_suppkey)::BIGINT AS sum_suppkey,
        |  sum(abs(c_cents - s_cents))::BIGINT AS sum_dist
        |FROM c JOIN s ON abs(c_cents - s_cents) <= 5""".stripMargin,

    "q53_window_family" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us,
        |             round(value, 4) AS value FROM events WHERE user_id < 50)
        |SELECT user_id, event_id,
        |  rank() OVER (PARTITION BY user_id ORDER BY event_type, event_id)::BIGINT AS type_rank,
        |  dense_rank() OVER (PARTITION BY user_id ORDER BY event_type, event_id)::BIGINT AS type_dense_rank,
        |  us - lag(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS us_since_prev,
        |  lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_event_id,
        |  sum(round(value * 10000)::BIGINT) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS running_value_e4
        |FROM e ORDER BY user_id, event_id""".stripMargin,

    "q54_string_family" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  lpad(p_brand, 12, '_') AS brand_padded,
        |  translate(p_type, 'aeiou', 'AEIOU') AS type_vowels,
        |  reverse(p_brand) AS brand_rev,
        |  repeat('ab', 3) AS repeated,
        |  string_split(p_name, ' ')[1] AS name_head,
        |  instr(p_name, 'a')::BIGINT AS first_a,
        |  trim('  x  ') AS trimmed
        |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin,

    "q68_json_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  sum(event_id)::BIGINT AS sum_id,
        |  sum(round(value * 10000)::BIGINT)::BIGINT / 10000.0 AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q67_countmin" ->
      """SELECT user_id, count(*) AS n_exact,
        |  true AS overcount_ok, true AS within_eps
        |FROM events WHERE user_id < 5 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q65_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  (grouping(l_returnflag) * 2 + grouping(l_linestatus))::BIGINT AS grp,
        |  count(*) AS n, round(sum(l_quantity))::BIGINT AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY grp, returnflag, linestatus""".stripMargin,

    "q66_correlated_exists" ->
      """SELECT c.c_custkey, c.c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        |                    AND o.o_totalprice < 50000)
        |ORDER BY c.c_custkey""".stripMargin,

    "q97_stream_outer_interval" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |c AS (SELECT event_id AS click_id, user_id, us AS cus FROM e WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id, us AS vus FROM e WHERE event_type = 'view')
        |SELECT count(*) AS n_rows,
        |  sum(CASE WHEN view_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_unmatched,
        |  sum(click_id)::BIGINT AS sum_click_id,
        |  sum(coalesce(view_id, 0))::BIGINT AS sum_view_id
        |FROM c LEFT JOIN v ON c.user_id = v.user_id
        |  AND vus >= cus - 3600000000::BIGINT AND vus <= cus""".stripMargin,

    "q64_stream_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |c AS (SELECT event_id AS click_id, user_id, us AS cus FROM e WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id, us AS vus FROM e WHERE event_type = 'view')
        |SELECT count(*) AS n_pairs,
        |  sum(click_id)::BIGINT AS sum_click_id,
        |  sum(view_id)::BIGINT AS sum_view_id
        |FROM c JOIN v USING (user_id)
        |WHERE vus >= cus - 3600000000::BIGINT AND vus <= cus""".stripMargin,

    "q61_window_distribution" ->
      """WITH l AS (SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        |             l_returnflag, l_quantity
        |           FROM lineitem WHERE l_orderkey <= 400)
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  (ntile(4) OVER w)::BIGINT AS quartile
        |FROM l
        |WINDOW w AS (PARTITION BY l_returnflag
        |             ORDER BY l_quantity, l_orderkey, l_linenumber)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q62_window_navigation" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE user_id < 40)
        |SELECT user_id, event_id,
        |  first_value(event_id) OVER w AS first_event,
        |  last_value(event_id) OVER w AS last_event,
        |  nth_value(event_id, 2) OVER w AS second_event
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin,

    "q63_conditional_agg" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)::BIGINT AS n_big,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN round(o_totalprice * 100)::BIGINT ELSE 0 END)::BIGINT / 100.0
        |    AS urgent_revenue,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q60_array_conditional" ->
      """WITH w AS (SELECT p_partkey, p_size::BIGINT AS ps,
        |             string_split(p_name, ' ') AS words
        |           FROM part WHERE p_partkey <= 500)
        |SELECT p_partkey,
        |  len(words)::BIGINT AS n_words,
        |  array_to_string(list_sort(words), ',') AS sorted_words,
        |  array_to_string(list_sort(list_distinct(words)), ',') AS distinct_words,
        |  list_contains(words, 'green') AS has_green,
        |  words[1] AS w1,
        |  greatest(ps, 25) AS size_hi,
        |  least(ps, 25) AS size_lo,
        |  coalesce(nullif(ps, 25), -1) AS size_nn
        |FROM w ORDER BY p_partkey""".stripMargin,

    "q55_datetime_family" ->
      """SELECT o_orderkey,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  quarter(o_orderdate)::BIGINT AS q,
        |  (dayofweek(o_orderdate) + 1)::BIGINT AS dow,
        |  dayofyear(o_orderdate)::BIGINT AS doy,
        |  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        |  strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin,

    "q52_asof_join" ->
      """WITH e AS (SELECT user_id, make_timestamp(epoch_ns(ts) // 1000)::DATE AS ev_date,
        |             event_type FROM events),
        |v AS (SELECT o_custkey AS user_id, o_orderdate::DATE AS v_date,
        |        max(round(o_totalprice * 100)::BIGINT) AS price_cents
        |      FROM orders GROUP BY 1, 2),
        |j AS (SELECT e.event_type, v.price_cents
        |      FROM e ASOF LEFT JOIN v ON e.user_id = v.user_id AND e.ev_date >= v.v_date)
        |SELECT event_type, count(*) AS n,
        |  sum(CASE WHEN price_cents IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_matched,
        |  sum(COALESCE(price_cents, 0))::BIGINT / 100.0 AS matched_price
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q51_top_ngrams" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        |       FROM tok, LATERAL unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g(i))
        |SELECT shingle, count(*) AS n_docs FROM sh
        |GROUP BY 1 ORDER BY n_docs DESC, shingle ASC LIMIT 20""".stripMargin,

    "q50_stream_dedup" ->
      """WITH e AS (SELECT DISTINCT event_id, event_type, value FROM events)
        |SELECT event_type, count(*) AS n,
        |  count(DISTINCT event_id) AS n_distinct,
        |  sum(round(value * 10000)::BIGINT)::BIGINT / 10000.0 AS sum_value
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    // same distinct-events contract as q50 — two independent dedup
    // implementations (watermark dropDuplicates vs explicit
    // transformWithState state) must agree with the batch oracle
    "q159_stateful_dedup" ->
      """WITH e AS (SELECT DISTINCT event_id, event_type, value FROM events)
        |SELECT event_type, count(*) AS n,
        |  count(DISTINCT event_id) AS n_distinct,
        |  sum(round(value * 10000)::BIGINT)::BIGINT / 10000.0 AS sum_value
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "q32_stream_window" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us, value FROM events)
        |SELECT strftime(make_timestamp((us // 86400000000) * 86400000000), '%Y-%m-%d') AS window_day,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q23_quality_gate" ->
      """WITH m AS (
        |  SELECT count(*) AS n, count(DISTINCT event_id) AS de,
        |    sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS null_eid,
        |    sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_uid,
        |    sum(CASE WHEN event_type IS NULL OR event_type NOT IN
        |      ('click','view','purchase','signup','error') THEN 1 ELSE 0 END) AS bad_et
        |  FROM events)
        |SELECT check_name, violations, violations = 0 AS passed FROM (
        |  SELECT 'columns_ordered' AS check_name, 0::BIGINT AS violations FROM m
        |  UNION ALL SELECT 'non_empty', (CASE WHEN n = 0 THEN 1 ELSE 0 END)::BIGINT FROM m
        |  UNION ALL SELECT 'not_null_event_id', null_eid::BIGINT FROM m
        |  UNION ALL SELECT 'not_null_user_id', null_uid::BIGINT FROM m
        |  UNION ALL SELECT 'unique_event_id', (n - de)::BIGINT FROM m
        |  UNION ALL SELECT 'values_in_event_type', bad_et::BIGINT FROM m)
        |ORDER BY check_name""".stripMargin,

    "q49_documents_quality" ->
      """WITH m AS (
        |  SELECT count(*) AS n, count(DISTINCT doc_id) AS dd,
        |    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS null_did,
        |    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS null_text,
        |    sum(CASE WHEN lang IS NULL OR lang NOT IN
        |      ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS bad_lang,
        |    sum(CASE WHEN n_chars IS NULL OR n_chars < 1
        |      OR n_chars > 1000000000.0 THEN 1 ELSE 0 END) AS bad_nc
        |  FROM documents)
        |SELECT check_name, violations, violations = 0 AS passed FROM (
        |  SELECT 'between_n_chars' AS check_name, bad_nc::BIGINT AS violations FROM m
        |  UNION ALL SELECT 'columns_ordered', 0::BIGINT FROM m
        |  UNION ALL SELECT 'non_empty', (CASE WHEN n = 0 THEN 1 ELSE 0 END)::BIGINT FROM m
        |  UNION ALL SELECT 'not_null_doc_id', null_did::BIGINT FROM m
        |  UNION ALL SELECT 'not_null_text', null_text::BIGINT FROM m
        |  UNION ALL SELECT 'unique_doc_id', (n - dd)::BIGINT FROM m
        |  UNION ALL SELECT 'values_in_lang', bad_lang::BIGINT FROM m)
        |ORDER BY check_name""".stripMargin,

    "q48_embedding_neardup" ->
      """WITH b AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |d AS (
        |  SELECT vec_id, v FROM b
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_prepend(v[1] + 0.01, v[2:]) AS v
        |  FROM b WHERE vec_id < 20),
        |n AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM d) WHERE nrm > 0)
        |SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        |  round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.95
        |ORDER BY vec_id_1, vec_id_2""".stripMargin,

    "q69_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        |f AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS nb
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, us,
        |    sum(nb) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                  ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no
        |  FROM f)
        |SELECT user_id, session_no, count(*)::BIGINT AS n_events,
        |  min(us) AS start_us, max(us) AS end_us, max(us) - min(us) AS duration_us
        |FROM g GROUP BY 1, 2 ORDER BY user_id, session_no""".stripMargin,

    // the native rule equals the islands rule: new session only at
    // gap > 30 min (closed-interval window merging, pinned by test)
    "q129_native_session_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        |f AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS nb
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, us,
        |    sum(nb) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                  ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
        |  FROM f)
        |SELECT user_id, min(us) AS start_us, max(us) AS last_us,
        |  count(*)::BIGINT AS n_events
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,

    // identical islands replay as q129 — three sessionization
    // implementations (batch islands, native session_window, event-time
    // TIMERS) gated against one contract
    "q164_timer_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        |f AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS nb
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, us,
        |    sum(nb) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                  ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
        |  FROM f)
        |SELECT user_id, min(us) AS start_us, max(us) AS last_us,
        |  count(*)::BIGINT AS n_events
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,

    "q70_upsert_merge" ->
      """WITH base AS (SELECT c_custkey AS user_id, c_acctbal AS balance,
        |    0::BIGINT AS v_ts, 0::BIGINT AS v_id, 0 AS pri FROM customer),
        |upd AS (SELECT o_custkey, o_totalprice,
        |    strftime(o_orderdate, '%Y%m%d')::BIGINT, o_orderkey, 1 FROM orders),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |r AS (SELECT user_id, balance, v_ts, v_id, row_number() OVER (
        |    PARTITION BY user_id ORDER BY pri DESC, v_ts DESC, v_id DESC) AS rn
        |  FROM allr)
        |SELECT user_id, balance, v_ts, v_id FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "q71_scd2_history" ->
      """WITH c AS (SELECT o_custkey AS user_id, o_orderstatus AS status,
        |    strftime(o_orderdate, '%Y%m%d')::BIGINT AS ts, o_orderkey AS tie FROM orders),
        |f AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |      OR status IS DISTINCT FROM lag(status) OVER w THEN 1 ELSE 0 END AS nb
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, tie)),
        |g AS (SELECT *, sum(nb) OVER (PARTITION BY user_id ORDER BY ts, tie
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS run FROM f),
        |r AS (SELECT user_id, run, min(status) AS status, min(ts) AS valid_from
        |  FROM g GROUP BY 1, 2),
        |o AS (SELECT user_id, status, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to
        |  FROM r)
        |SELECT user_id, status, valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM o ORDER BY user_id, valid_from, status, valid_to ASC NULLS LAST""".stripMargin,

    "q72_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::BIGINT AS n FROM documents),
        |s AS (SELECT doc_id, token, tf, df, (tf * n.n)::DOUBLE / df AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, token ASC)::BIGINT AS rn FROM s)
        |SELECT doc_id, rn, token, tf, df, score FROM r WHERE rn <= 5
        |ORDER BY doc_id, rn""".stripMargin,

    // the bloom is a pre-filter with an exact residual verify, so the
    // oracle is the plain semi-join aggregate
    "q73_bloom_semi_join" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q74_pagerank" -> pagerankOracle(3),

    // salted aggregation is execution-equivalent to the plain groupBy
    "q75_salted_count" ->
      """SELECT event_type, count(*)::BIGINT AS n FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q76_zorder_layout" -> zorderOracle(16),

    // engine-independent half of the q98 audit: exact global count and
    // per-dimension extents recomputed from events, layout booleans
    // pinned literally TRUE (disjoint z-intervals, multiple files, 2-d
    // box prunability — the write path's contract)
    "q98_zorder_write" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  min(user_id)::BIGINT AS min_user, max(user_id)::BIGINT AS max_user,
        |  CAST(min(floor(value)) AS BIGINT) AS min_val,
        |  CAST(max(floor(value)) AS BIGINT) AS max_val,
        |  true AS multi_file, true AS z_disjoint, true AS box_prunes
        |FROM events""".stripMargin,

    "q82_bfs_hops" -> bfsOracle(3),

    "q85_histogram" ->
      """WITH o AS (SELECT round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |m AS (SELECT min(cents) AS lo, max(cents) AS hi FROM o)
        |SELECT (cents - lo) // (((hi - lo) // 20) + 1) AS bucket,
        |  count(*)::BIGINT AS n, min(cents) AS min_cents, max(cents) AS max_cents
        |FROM o CROSS JOIN m
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q86_range_frame" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    round(value * 10000)::BIGINT AS v4
        |  FROM events WHERE user_id < 40)
        |SELECT user_id, event_id, us,
        |  sum(v4) OVER (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)::BIGINT AS trailing_1d
        |FROM e ORDER BY user_id, event_id""".stripMargin,

    "q87_unpivot" ->
      """SELECT p_partkey, 'size' AS attr, p_size::DOUBLE AS val
        |FROM part WHERE p_partkey <= 300
        |UNION ALL
        |SELECT p_partkey, 'retailprice', p_retailprice FROM part WHERE p_partkey <= 300
        |ORDER BY p_partkey, attr""".stripMargin,

    "q96_substring_excise" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |g AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 9)) AS gpos
        |  FROM tok WHERE len(toks) >= 10),
        |wh AS (SELECT doc_id, (gpos - 1)::BIGINT AS pos,
        |    md5(array_to_string(toks[gpos : gpos + 9], ' ')) AS h FROM g),
        |r AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM wh),
        |c AS (SELECT doc_id, pos AS s, pos + 10 AS e FROM r WHERE rn > 1),
        |m AS (SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM c),
        |i AS (SELECT doc_id, s, e,
        |    sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY doc_id ORDER BY s
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m),
        |sp AS (SELECT doc_id, min(s) AS ss, max(e) AS se FROM i GROUP BY doc_id, island),
        |pos AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS gp FROM tok),
        |kept AS (SELECT p.doc_id, p.gp, p.toks[p.gp] AS tkn FROM pos p
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = p.doc_id AND p.gp - 1 >= sp.ss AND p.gp - 1 < sp.se)),
        |agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens_after,
        |    string_agg(tkn, ' ' ORDER BY gp) AS clean_text FROM kept GROUP BY 1)
        |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens_before,
        |  coalesce(a.n_tokens_after, 0)::BIGINT AS n_tokens_after,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM tok t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    "q95_substring_dedup" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |g AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 9)) AS gpos
        |  FROM tok WHERE len(toks) >= 10),
        |wh AS (SELECT doc_id, (gpos - 1)::BIGINT AS pos,
        |    md5(array_to_string(toks[gpos : gpos + 9], ' ')) AS h FROM g),
        |r AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM wh),
        |c AS (SELECT doc_id, pos AS s, pos + 10 AS e FROM r WHERE rn > 1),
        |m AS (SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM c),
        |i AS (SELECT doc_id, s, e,
        |    sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY doc_id ORDER BY s
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m)
        |SELECT doc_id, min(s)::BIGINT AS span_start, max(e)::BIGINT AS span_end,
        |  (max(e) - min(s))::BIGINT AS n_tokens
        |FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,

    "q94_preprocess_funnel" ->
      """WITH dd AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |d1 AS (SELECT d.doc_id, d.text, d.n_chars FROM documents d JOIN dd USING (doc_id)),
        |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d1),
        |lc AS (SELECT doc_id, line, count(*)::BIGINT AS cnt, length(line)::BIGINT AS len
        |  FROM l GROUP BY 1, 2),
        |la AS (SELECT doc_id, sum(cnt)::BIGINT AS n_lines,
        |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_lines
        |  FROM lc GROUP BY 1),
        |tk AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM d1),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      g -> toks[g] || ' ' || toks[g + 1])) AS bigram
        |  FROM tk WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, bigram, count(*)::BIGINT AS cnt FROM bg GROUP BY 1, 2),
        |ba AS (SELECT doc_id, max(cnt)::BIGINT AS top_cnt, sum(cnt)::BIGINT AS n_bigrams
        |  FROM bc GROUP BY 1),
        |rep AS (SELECT la.doc_id FROM la LEFT JOIN ba USING (doc_id)
        |  WHERE round(la.dup_lines::DOUBLE / la.n_lines, 4) <= 0.2
        |    AND round(coalesce(ba.top_cnt::DOUBLE / ba.n_bigrams, 0), 4) <= 0.08),
        |d2 AS (SELECT d1.doc_id, d1.text, d1.n_chars FROM d1 JOIN rep USING (doc_id)),
        |asn AS (SELECT doc_id, text, n_chars,
        |    CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id, text, n_chars,
        |      ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bk FROM d2)),
        |tok5 AS (SELECT doc_id, split,
        |    string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks
        |  FROM asn WHERE split IN ('train', 'test')),
        |sh AS (SELECT doc_id, split,
        |    unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
        |      g -> toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2] || ' ' ||
        |           toks[g+3] || ' ' || toks[g+4]))) AS shingle
        |  FROM tok5 WHERE len(toks) >= 5),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test'),
        |cont AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (shingle)
        |  WHERE s.split = 'train')
        |SELECT '0_raw' AS stage, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars FROM documents
        |UNION ALL SELECT '1_dedup', count(*)::BIGINT, sum(n_chars)::BIGINT FROM d1
        |UNION ALL SELECT '2_quality', count(*)::BIGINT, sum(n_chars)::BIGINT FROM d2
        |UNION ALL SELECT '3_train', count(*)::BIGINT, sum(n_chars)::BIGINT FROM asn
        |  WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM cont)
        |UNION ALL SELECT '3_val', count(*)::BIGINT, sum(n_chars)::BIGINT FROM asn
        |  WHERE split = 'val'
        |UNION ALL SELECT '3_test', count(*)::BIGINT, sum(n_chars)::BIGINT FROM asn
        |  WHERE split = 'test'
        |ORDER BY stage""".stripMargin,

    "q93_decontamination" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bk
        |  FROM documents),
        |a AS (SELECT doc_id, text,
        |    CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b WHERE bk < 8000 OR bk >= 9000),
        |tok AS (SELECT doc_id, split,
        |    string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM a),
        |sh AS (SELECT doc_id, split,
        |    unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
        |      g -> toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2] || ' ' ||
        |           toks[g+3] || ' ' || toks[g+4]))) AS shingle
        |  FROM tok WHERE len(toks) >= 5),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test')
        |SELECT s.doc_id, count(*)::BIGINT AS n_shared
        |FROM sh s JOIN ev USING (shingle)
        |WHERE s.split = 'train'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Replays the md5-bucket split and the planted leak, then brute-forces
    // the train×test cosine cross join (the LSH path must reach exact
    // recall on the planted near-identical pairs to hash-match — same
    // contract as q48).
    "q99_semantic_decontam" ->
      """WITH d AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |b AS (SELECT vec_id, v,
        |    ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bk
        |  FROM d),
        |test AS (SELECT vec_id, v FROM b WHERE bk >= 9000),
        |train AS (
        |  SELECT vec_id, v FROM b WHERE bk < 8000
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, list_prepend(v[1] + 0.01, v[2:]) AS v
        |  FROM test WHERE vec_id < 100),
        |tn AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM train) WHERE nrm > 0),
        |pn AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM test) WHERE nrm > 0)
        |SELECT t.vec_id AS corpus_id, p.vec_id AS probe_id,
        |  round(list_inner_product(t.v, p.v) / (t.nrm * p.nrm), 6) AS cosine
        |FROM tn t JOIN pn p ON true
        |WHERE round(list_inner_product(t.v, p.v) / (t.nrm * p.nrm), 6) >= 0.95
        |ORDER BY corpus_id, probe_id""".stripMargin,

    // engine-independent replay of the q101 audit: shard assignment is
    // the same md5-bucket arithmetic as q37's split, n_files is
    // ceil(rows / 500), and the per-file cap boolean is pinned TRUE
    // (the write contract the Spark side verifies file-by-file)
    "q101_shard_export" ->
      """WITH b AS (SELECT user_id,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 10000 % 8
        |      AS shard_id
        |  FROM events)
        |SELECT shard_id, count(*)::BIGINT AS n_rows,
        |  count(DISTINCT user_id)::BIGINT AS n_keys,
        |  min(user_id)::BIGINT AS min_user, max(user_id)::BIGINT AS max_user,
        |  ((count(*) + 499) // 500)::BIGINT AS n_files,
        |  true AS files_capped
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // engine-independent replay of the q102 delta: the previous snapshot
    // is re-derived from documents with the same md5-bucket arithmetic,
    // and status comes from direct null-safe column comparison (the
    // Spark side's md5 fingerprint equality is content equality)
    "q102_snapshot_diff" ->
      """WITH bk AS (SELECT doc_id, text, source,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 % 10 AS b
        |  FROM documents),
        |prev AS (
        |  SELECT doc_id,
        |    CASE WHEN b = 1 THEN text || ' MODIFIED' ELSE text END AS text,
        |    source
        |  FROM bk WHERE b <> 0
        |  UNION ALL
        |  SELECT (1000000 + g)::BIGINT AS doc_id, 'ghost' AS text,
        |    'synthetic' AS source
        |  FROM unnest(generate_series(1, 50)) AS t(g)),
        |d AS (SELECT coalesce(c.doc_id, p.doc_id) AS doc_id,
        |    CASE WHEN p.doc_id IS NULL THEN 'added'
        |         WHEN c.doc_id IS NULL THEN 'removed'
        |         WHEN c.text IS DISTINCT FROM p.text
        |           OR c.source IS DISTINCT FROM p.source THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM documents c FULL JOIN prev p ON c.doc_id = p.doc_id)
        |SELECT status, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_doc_id
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // format-neutral replay of the q103 ORC roundtrip from the parquet
    // events table (round-half-up ties match Spark's round, q86 precedent)
    "q103_orc_roundtrip" ->
      """SELECT user_id::BIGINT AS user_id, count(*)::BIGINT AS n,
        |  sum(round(value * 10000)::BIGINT)::BIGINT AS sum_v4
        |FROM events WHERE event_type = 'purchase' AND user_id < 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // engine-independent half of the q104 audit: exact parsed count and
    // checksum from orders; the line-arithmetic boolean is pinned TRUE
    // (the write contract the Spark side verifies against raw lines)
    "q104_landing_audit" ->
      """SELECT count(*)::BIGINT AS n_rows, sum(o_orderkey)::BIGINT AS sum_key,
        |  true AS lines_match
        |FROM orders""".stripMargin,

    // replay of the q105 CDC apply: same derived change feed, same
    // union + keyed-window ranking (base rows rank below all changes;
    // latest change wins; a winning tombstone removes the key)
    "q105_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    o_orderstatus AS st, round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |ch AS (
        |  SELECT k, c, 'X' AS st, cents + 1 AS cents, 'U' AS op,
        |      2::BIGINT AS seq FROM base WHERE k % 10 = 1
        |  UNION ALL SELECT k, c, st, cents, 'D', 2 FROM base WHERE k % 10 = 2
        |  UNION ALL SELECT k + 10000000, c, 'N', 0, 'I', 1 FROM base WHERE k % 10 = 3
        |  UNION ALL SELECT k, c, 'A', cents, 'U', 3 FROM base WHERE k % 100 = 7
        |  UNION ALL SELECT k, c, 'B', cents, 'U', 4 FROM base WHERE k % 100 = 7),
        |allr AS (
        |  SELECT k, c, st, cents, NULL AS op, NULL::BIGINT AS seq, 0 AS pri FROM base
        |  UNION ALL SELECT k, c, st, cents, op, seq, 1 FROM ch),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY k ORDER BY pri DESC, seq DESC) AS rn FROM allr)
        |SELECT k AS o_orderkey, c AS o_custkey, st AS o_orderstatus,
        |  cents AS total_cents
        |FROM r WHERE rn = 1 AND (op IS NULL OR op <> 'D')""".stripMargin,

    // per-column replay of the q106 profile: each output row recomputed
    // as a plain aggregate over the same projection
    "q106_table_profile" -> {
      val proj = """SELECT o_orderkey, o_custkey, o_orderstatus,
        |    round(o_totalprice * 100)::BIGINT AS total_cents,
        |    nullif(o_orderpriority, '1-URGENT') AS priority_nullable,
        |    strftime(o_orderdate, '%Y-%m-%d') AS order_date FROM orders""".stripMargin
      val branch = (c: String) =>
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
           |  (count(*) - count($c))::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s FROM t""".stripMargin
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "total_cents", "priority_nullable", "order_date")
      s"""WITH t AS ($proj)
         |SELECT * FROM (${cols.map(branch).mkString("\nUNION ALL ")})
         |ORDER BY col_name""".stripMargin
    },

    // the chunked overlap join is exact (first-shared-chunk emission is
    // exactly-once), so the oracle is the plain theta join
    "q107_interval_overlap" ->
      """WITH l AS (SELECT user_id, event_id AS l_id,
        |    epoch_ns(ts) // 1000 AS ls,
        |    epoch_ns(ts) // 1000 + 7200000000 AS le
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, event_id AS r_id,
        |    epoch_ns(ts) // 1000 AS rs,
        |    epoch_ns(ts) // 1000 + 21600000000 AS re
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*)::BIGINT AS n_pairs,
        |  sum(l_id + r_id)::BIGINT AS checksum
        |FROM l JOIN r USING (user_id) WHERE ls <= re AND rs <= le
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical expression tree to Search.bm25TopDocs (k1=1.2, b=0.75 →
    // the 2.2 / 1.2 / 0.25 / 0.75 literals) — every step is +,−,×,÷ on
    // doubles plus one round-to-micro, so the engines agree bitwise
    "q108_bm25" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
        |qtf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok
        |  WHERE token IN ('spark', 'join') GROUP BY 1, 2),
        |qdf AS (SELECT token, count(*)::BIGINT AS df FROM qtf GROUP BY 1),
        |sc AS (SELECT count(*)::BIGINT AS n FROM documents),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |s AS (SELECT q.doc_id,
        |    round((q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * (dl.dl / ad.avgdl)))
        |      * ((sc.n - d.df + 0.5) / (d.df + 0.5)) * 1000000.0)::BIGINT AS score_micro
        |  FROM qtf q JOIN qdf d USING (token) JOIN dl ON dl.doc_id = q.doc_id
        |  CROSS JOIN sc CROSS JOIN ad)
        |SELECT doc_id, count(*)::BIGINT AS n_terms_hit, sum(score_micro)::BIGINT AS bm25_micro
        |FROM s GROUP BY 1 ORDER BY bm25_micro DESC, doc_id ASC LIMIT 10""".stripMargin,

    "q109_assoc_lift" ->
      """WITH m AS (SELECT DISTINCT user_id AS g, event_type AS i FROM events),
        |tot AS (SELECT count(DISTINCT g)::BIGINT AS tot FROM m),
        |pi AS (SELECT i, count(*)::BIGINT AS n FROM m GROUP BY 1),
        |p AS (SELECT a.i AS item_1, b.i AS item_2, count(*)::BIGINT AS n_ab
        |  FROM m a JOIN m b ON a.g = b.g AND a.i < b.i GROUP BY 1, 2)
        |SELECT item_1, item_2, n_ab,
        |  (n_ab * tot)::DOUBLE / (n1.n * n2.n) AS lift
        |FROM p JOIN pi n1 ON n1.i = item_1 JOIN pi n2 ON n2.i = item_2
        |CROSS JOIN tot ORDER BY 1, 2""".stripMargin,

    "q110_simpson_diversity" ->
      """WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT user_id, sum(c)::BIGINT AS n_events,
        |    count(*)::BIGINT AS n_items, sum(c * c)::BIGINT AS sq
        |  FROM c GROUP BY 1)
        |SELECT user_id, n_events, n_items,
        |  1.0 - sq::DOUBLE / (n_events * n_events) AS simpson
        |FROM a ORDER BY user_id""".stripMargin,

    "q111_conjunctive_search" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
        |h AS (SELECT doc_id FROM (
        |    SELECT DISTINCT doc_id, token FROM tok
        |    WHERE token IN ('spark', 'merge', 'window'))
        |  GROUP BY doc_id HAVING count(*) = 3)
        |SELECT doc_id, dl FROM h JOIN dl USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q112_event_transitions" ->
      """WITH s AS (SELECT user_id, event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events),
        |t AS (SELECT src, dst, count(*)::BIGINT AS n FROM s
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |ps AS (SELECT src, sum(n)::BIGINT AS srcn FROM t GROUP BY 1)
        |SELECT src, dst, n, n::DOUBLE / srcn AS p
        |FROM t JOIN ps USING (src) ORDER BY 1, 2""".stripMargin,

    // the plain single-partition running-sum form — Search.vocabGrowth's
    // bucketed two-pass prefix sum must reproduce it exactly
    "q113_vocab_growth" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS token
        |  FROM documents),
        |f AS (SELECT token, min(doc_id) AS doc_id FROM tok GROUP BY 1),
        |nb AS (SELECT doc_id, count(*)::BIGINT AS new_tokens FROM f GROUP BY 1),
        |sp AS (SELECT d.doc_id, coalesce(nb.new_tokens, 0)::BIGINT AS new_tokens
        |  FROM documents d LEFT JOIN nb USING (doc_id))
        |SELECT doc_id, new_tokens,
        |  sum(new_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS vocab_size
        |FROM sp ORDER BY doc_id""".stripMargin,

    // the plain single-window empirical-CDF form — Drift.ksStatistic's
    // bucketed two-pass prefix sum must reproduce the same per-value
    // CDF gaps (identical double ops: two casts, two divisions, abs, max)
    "q114_ks_drift" ->
      """WITH e AS (SELECT value AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
        |  FROM events WHERE event_type IN ('click', 'view')
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |pv AS (SELECT v, sum(a)::BIGINT AS ca, sum(b)::BIGINT AS cb FROM e GROUP BY 1),
        |t AS (SELECT sum(a)::BIGINT AS n_a, sum(b)::BIGINT AS n_b FROM e),
        |c AS (SELECT
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumb
        |  FROM pv)
        |SELECT n_a, n_b,
        |  max(abs(cuma::DOUBLE / n_a::DOUBLE - cumb::DOUBLE / n_b::DOUBLE)) AS ks_d
        |FROM c, t GROUP BY 1, 2""".stripMargin,

    // ((x % 2) + 2) % 2 replays Spark's pmod for negative ids; the WHERE
    // mirrors tvDistance's exclusion of null categories AND null sides;
    // HUGEINT products so the oracle outlives BIGINT at replay scales
    "q115_tv_drift" ->
      """WITH e AS (SELECT event_type AS c,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN ((user_id % 2) + 2) % 2 = 1 THEN 1 ELSE 0 END AS b
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |pc AS (SELECT c, sum(a)::BIGINT AS ca, sum(b)::BIGINT AS cb FROM e GROUP BY 1),
        |t AS (SELECT sum(a)::BIGINT AS n_a, sum(b)::BIGINT AS n_b FROM e)
        |SELECT n_a, n_b, count(*)::BIGINT AS n_categories,
        |  sum(abs(ca::HUGEINT * n_b - cb::HUGEINT * n_a))::DOUBLE /
        |    (2.0 * n_a::DOUBLE * n_b::DOUBLE) AS tv
        |FROM pc, t GROUP BY 1, 2""".stripMargin,

    "q116_bigram_fluency" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
        |  FROM tok, LATERAL unnest(generate_series(1, greatest(len(toks)-1, 0))) AS g(i)),
        |cnt AS (SELECT bigram, count(*)::BIGINT AS c FROM bg GROUP BY 1),
        |per AS (SELECT b.doc_id, count(*)::BIGINT AS n_bigrams, sum(c.c)::BIGINT AS s
        |  FROM bg b JOIN cnt c USING (bigram) GROUP BY 1)
        |SELECT d.doc_id, coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams,
        |  CASE WHEN per.n_bigrams IS NULL THEN 0.0
        |       ELSE per.s::DOUBLE / per.n_bigrams END AS mean_freq
        |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,

    // quantiles via the same integer inverse-CDF rule skewReport uses
    // (smallest count with cumulative key-fraction >= p) — no
    // quantile_cont interpolation to match across engines
    "q117_skew_report" ->
      """WITH c AS (SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
        |s AS (SELECT sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
        |  max(cnt)::BIGINT AS max_count FROM c),
        |cc AS (SELECT cnt, count(*)::BIGINT AS freq FROM c GROUP BY 1),
        |cw AS (SELECT cnt, sum(freq) OVER (ORDER BY cnt
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum FROM cc),
        |p50 AS (SELECT min(cnt)::BIGINT AS p50_count FROM cw, s WHERE 2 * cum >= n_keys),
        |p99 AS (SELECT min(cnt)::BIGINT AS p99_count FROM cw, s WHERE 100 * cum >= 99 * n_keys),
        |tk AS (SELECT max(coalesce(user_id::VARCHAR, '␀')) AS top_key
        |  FROM c, s WHERE cnt = max_count)
        |SELECT n_rows, n_keys, max_count, p50_count, p99_count, top_key,
        |  max_count::DOUBLE * n_keys::DOUBLE / n_rows::DOUBLE AS skew_ratio
        |FROM s, p50, p99, tk""".stripMargin,

    // keep-best pick replayed as max-quality filter + min id (the
    // (quality, -id) struct max_by tie-break, spelled out relationally)
    "q118_dedup_keep_best" ->
      """WITH d AS (SELECT md5(text) AS content_key, doc_id, n_chars FROM documents),
        |m AS (SELECT content_key, max(n_chars)::BIGINT AS keep_quality,
        |  count(*)::BIGINT AS n_copies FROM d GROUP BY 1),
        |k AS (SELECT d.content_key, min(d.doc_id)::BIGINT AS keep_doc_id
        |  FROM d JOIN m ON d.content_key = m.content_key AND d.n_chars = m.keep_quality
        |  GROUP BY 1)
        |SELECT m.content_key, k.keep_doc_id, m.keep_quality, m.n_copies
        |FROM m JOIN k USING (content_key)""".stripMargin,

    "q119_oov_rate" ->
      """WITH b AS (SELECT doc_id, text,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bk
        |  FROM documents),
        |trv AS (SELECT DISTINCT unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS token
        |  FROM b WHERE bk < 8000),
        |evt AS (SELECT unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS token
        |  FROM b WHERE bk >= 9000),
        |evc AS (SELECT token, count(*)::BIGINT AS c FROM evt GROUP BY 1),
        |tot AS (SELECT coalesce(sum(c), 0)::BIGINT AS n_eval_tokens FROM evc),
        |oov AS (SELECT coalesce(sum(c), 0)::BIGINT AS n_oov_tokens FROM evc
        |  WHERE token NOT IN (SELECT token FROM trv)),
        |tv AS (SELECT count(*)::BIGINT AS n_train_vocab FROM trv)
        |SELECT n_eval_tokens, n_oov_tokens, n_train_vocab,
        |  CASE WHEN n_eval_tokens = 0 THEN 0.0
        |       ELSE n_oov_tokens::DOUBLE / n_eval_tokens::DOUBLE END AS oov_rate
        |FROM tot, oov, tv""".stripMargin,

    "q120_source_concentration" ->
      """WITH c AS (SELECT source AS g, count(*)::BIGINT AS cnt FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1),
        |s AS (SELECT sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_groups,
        |  max(cnt)::BIGINT AS top_count,
        |  sum(cnt::HUGEINT * cnt)::DOUBLE AS sumsq FROM c),
        |t AS (SELECT max(g) AS top_group FROM c, s WHERE cnt = top_count)
        |SELECT n_rows, n_groups, top_group, top_count,
        |  sumsq / (n_rows::DOUBLE * n_rows::DOUBLE) AS hhi
        |FROM s, t""".stripMargin,

    "q121_distinct_ngrams" ->
      """WITH tok AS (SELECT string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks
        |  FROM documents),
        |g AS (SELECT n, array_to_string(toks[i:i+n-1], ' ') AS gram
        |  FROM tok, (VALUES (1), (2), (3)) AS v(n),
        |    LATERAL unnest(generate_series(1, greatest(len(toks) - n + 1, 0))) AS s(i))
        |SELECT n::BIGINT AS n, count(*)::BIGINT AS n_total,
        |  count(DISTINCT gram)::BIGINT AS n_distinct,
        |  count(DISTINCT gram)::DOUBLE / count(*)::DOUBLE AS ratio
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    // same md5-bucket rank rule as the q37 split function
    "q122_group_exemplars" ->
      """WITH r AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000,
        |               doc_id) AS exemplar_rank
        |  FROM documents)
        |SELECT doc_id, lang, source, exemplar_rank::BIGINT AS exemplar_rank
        |FROM r WHERE exemplar_rank <= 2 ORDER BY lang, source, exemplar_rank""".stripMargin,

    "q130_nfc_audit" ->
      """SELECT count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END)::BIGINT AS n_changed
        |FROM documents""".stripMargin,

    // exact cross-split Jaccard (train side × test side, no ordering
    // constraint — a pair's orientation is fixed by its splits); the
    // q25/q26 recall argument carries over: cross pairs are a subset of
    // the pairs the bulk oracle already proves the LSH recalls
    "q128_incremental_neardup" ->
      """WITH b AS (SELECT doc_id, text,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bk
        |  FROM documents),
        |tokc AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks
        |  FROM b WHERE bk < 8000),
        |tokb AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks
        |  FROM b WHERE bk >= 9000),
        |shc AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        |  FROM tokc, LATERAL unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g(i)),
        |shb AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        |  FROM tokb, LATERAL unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g(i)),
        |cntc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
        |cntb AS (SELECT doc_id, count(*) AS n FROM shb GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM shc a JOIN shb b USING (shingle) GROUP BY 1, 2),
        |j AS (SELECT d1, d2, i::DOUBLE / (ca.n + cb.n - i) AS jac FROM inter
        |  JOIN cntc ca ON ca.doc_id = d1 JOIN cntb cb ON cb.doc_id = d2)
        |SELECT d1 AS corpus_doc_id, d2 AS batch_doc_id, round(jac, 4) AS jaccard
        |FROM j WHERE jac >= 0.4 ORDER BY 1, 2""".stripMargin,

    // the IDENTICAL RE2-compatible regexes (TextClean constants are
    // interpolated, not re-typed) replayed via string_split_regex —
    // both engines count matches as len(split) - 1
    "q127_pii_audit" -> {
      val (e, i, p) = (graft.text.TextClean.EmailRe,
        graft.text.TextClean.Ipv4Re, graft.text.TextClean.PhoneRe)
      s"""WITH h AS (SELECT
         |    len(string_split_regex(text, '$e')) - 1 AS he,
         |    len(string_split_regex(text, '$i')) - 1 AS hi,
         |    len(string_split_regex(text, '$p')) - 1 AS hp
         |  FROM documents)
         |SELECT 'email' AS pii_type, count(CASE WHEN he > 0 THEN 1 END)::BIGINT AS n_docs,
         |  coalesce(sum(he), 0)::BIGINT AS n_hits FROM h
         |UNION ALL SELECT 'ipv4', count(CASE WHEN hi > 0 THEN 1 END)::BIGINT,
         |  coalesce(sum(hi), 0)::BIGINT FROM h
         |UNION ALL SELECT 'phone', count(CASE WHEN hp > 0 THEN 1 END)::BIGINT,
         |  coalesce(sum(hp), 0)::BIGINT FROM h
         |ORDER BY 1""".stripMargin
    },

    // q38's recursive-CTE components + the q37 bucket rule, keyed on the
    // cluster representative (unclustered docs represent themselves)
    "q126_leakproof_split" ->
      """WITH RECURSIVE tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        |       FROM tok, LATERAL unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM inter
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.4),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |clus AS (SELECT r.a AS doc_id, least(r.a, min(r.b)) AS cluster_id
        |         FROM reach r GROUP BY 1),
        |rep AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_key
        |        FROM documents d LEFT JOIN clus c USING (doc_id)),
        |bk AS (SELECT doc_id, split_key,
        |    ('0x' || substr(md5(split_key::VARCHAR), 1, 8))::BIGINT % 10000 AS b
        |  FROM rep)
        |SELECT doc_id, split_key,
        |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
        |FROM bk ORDER BY doc_id""".stripMargin,

    // the threshold chain (divide, min, floor, round to bucket space)
    // replayed with the identical op order; kept rows re-selected by the
    // q37 md5-bucket rule
    "q125_mixture_rebalance" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
        |t AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) AS t(source, w)),
        |s AS (SELECT min(c.n::DOUBLE / t.w) AS scale FROM c JOIN t USING (source)),
        |thr AS (SELECT c.source, c.n,
        |    round(floor(s.scale * t.w) / c.n * 10000)::BIGINT AS thr
        |  FROM c JOIN t USING (source), s),
        |k AS (SELECT d.source, count(*)::BIGINT AS n_kept
        |  FROM documents d JOIN thr ON d.source = thr.source
        |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < thr.thr
        |  GROUP BY 1)
        |SELECT thr.source, thr.n AS n_before, coalesce(k.n_kept, 0)::BIGINT AS n_kept
        |FROM thr LEFT JOIN k USING (source) ORDER BY 1""".stripMargin,

    // format-neutral replay from events, same pattern as the ORC q103
    "q124_jsonl_roundtrip" ->
      """SELECT user_id::BIGINT AS user_id, count(*)::BIGINT AS n,
        |  sum(round(value * 10000)::BIGINT)::BIGINT AS sum_v4
        |FROM events WHERE event_type = 'signup' AND user_id < 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays the saved table's derivation from the sources — the
    // save/drop/attach/spark.table roundtrip must be value-invisible
    "q131_catalog_roundtrip" ->
      """SELECT r_name, count(*)::BIGINT AS n_nations, min(n_name) AS first_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // full recompute over all events — the incremental base+delta state
    // merge must agree with it exactly (fixed-point measures make the
    // sums order-independent)
    "q132_incremental_agg" ->
      """SELECT user_id, event_type, count(*)::BIGINT AS cnt,
        |  sum(round(value * 10000)::BIGINT)::BIGINT AS v4_sum,
        |  min(round(value * 10000)::BIGINT)::BIGINT AS v4_min,
        |  max(round(value * 10000)::BIGINT)::BIGINT AS v4_max
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // recomputed from the source table — the fragment/compact/read
    // roundtrip must be value-invisible down to the xor fingerprint
    "q133_compact_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS cnt,
        |  sum(round(value * 10000)::BIGINT)::BIGINT AS sum_v4,
        |  sum(event_id)::BIGINT AS sum_eid,
        |  min(event_id)::BIGINT AS min_eid, max(event_id)::BIGINT AS max_eid,
        |  bit_xor(event_id * 1000003 + round(value * 10000)::BIGINT)::BIGINT AS xor_fp
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // full PQ replay: per-subspace codebook training (2 fixed-point
    // Lloyd's rounds), corpus encoding, and fixed-point ADC scoring —
    // identical arithmetic to the Spark side, so ranks AND scores match
    "q135_ann_pq" ->
      """WITH d AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM d) WHERE nrm > 0),
        |subs AS (SELECT vec_id, g.s, v[g.s*16+1:(g.s+1)*16] AS sv
        |         FROM n, (SELECT unnest(range(4)) AS s) g),
        |seeds AS (SELECT vec_id FROM n ORDER BY vec_id LIMIT 16),
        |c0 AS (SELECT s, vec_id AS code_id, sv AS cv FROM subs
        |       WHERE vec_id IN (SELECT vec_id FROM seeds)),
        |a1 AS (SELECT vec_id, s, code_id, sv FROM (
        |    SELECT x.vec_id, x.s, c.code_id, x.sv,
        |      row_number() OVER (PARTITION BY x.vec_id, x.s
        |        ORDER BY round(list_inner_product(x.sv, x.sv) - 2*list_inner_product(x.sv, c.cv)
        |          + list_inner_product(c.cv, c.cv), 6), c.code_id) AS rn
        |    FROM subs x JOIN c0 c ON c.s = x.s) WHERE rn = 1),
        |e1 AS (SELECT s, code_id, unnest(range(len(sv))) AS j, unnest(sv) AS x FROM a1),
        |g1 AS (SELECT s, code_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |       FROM e1 GROUP BY 1, 2, 3),
        |m1 AS (SELECT s, code_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |       FROM g1 GROUP BY 1, 2),
        |c1 AS (SELECT c0.s, c0.code_id, COALESCE(m1.cv, c0.cv) AS cv
        |       FROM c0 LEFT JOIN m1 USING (s, code_id)),
        |a2 AS (SELECT vec_id, s, code_id, sv FROM (
        |    SELECT x.vec_id, x.s, c.code_id, x.sv,
        |      row_number() OVER (PARTITION BY x.vec_id, x.s
        |        ORDER BY round(list_inner_product(x.sv, x.sv) - 2*list_inner_product(x.sv, c.cv)
        |          + list_inner_product(c.cv, c.cv), 6), c.code_id) AS rn
        |    FROM subs x JOIN c1 c ON c.s = x.s) WHERE rn = 1),
        |e2 AS (SELECT s, code_id, unnest(range(len(sv))) AS j, unnest(sv) AS x FROM a2),
        |g2 AS (SELECT s, code_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |       FROM e2 GROUP BY 1, 2, 3),
        |m2 AS (SELECT s, code_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |       FROM g2 GROUP BY 1, 2),
        |c2 AS (SELECT c1.s, c1.code_id, COALESCE(m2.cv, c1.cv) AS cv
        |       FROM c1 LEFT JOIN m2 USING (s, code_id)),
        |enc AS (SELECT vec_id, s, code_id FROM (
        |    SELECT x.vec_id, x.s, c.code_id,
        |      row_number() OVER (PARTITION BY x.vec_id, x.s
        |        ORDER BY round(list_inner_product(x.sv, x.sv) - 2*list_inner_product(x.sv, c.cv)
        |          + list_inner_product(c.cv, c.cv), 6), c.code_id) AS rn
        |    FROM subs x JOIN c2 c ON c.s = x.s) WHERE rn = 1),
        |qs AS (SELECT vec_id AS query_id, s, sv FROM subs WHERE vec_id < 5),
        |dt AS (SELECT q.query_id, c.s, c.code_id,
        |         round(list_inner_product(q.sv, c.cv) * 1000000)::BIGINT AS pd
        |       FROM qs q JOIN c2 c ON c.s = q.s),
        |sc AS (SELECT dt.query_id, e.vec_id, sum(pd)::BIGINT AS sp
        |       FROM enc e JOIN dt ON dt.s = e.s AND dt.code_id = e.code_id
        |       WHERE e.vec_id != dt.query_id GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, sp::DOUBLE / 1000000.0 AS score,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sp DESC, vec_id) AS rn
        |      FROM sc)
        |SELECT query_id, rn::BIGINT AS rank, vec_id, score
        |FROM r WHERE rn <= 10 ORDER BY 1, 2""".stripMargin,

    // six unrolled merge rounds, argmax tie-breaks and greedy
    // application included — see bpeOracle
    "q138_bpe_merges" -> bpeOracle(6),

    // same rounds, read out as the final segmentation per word
    "q139_bpe_segment" -> bpeSegmentOracle(6),

    // same unrolled rounds, corpus-level micro-unit readout
    "q167_bpe_fertility" -> bpeFertilityOracle(6),

    // MMR rounds unrolled, identical float recipe and λ literal
    "q168_mmr_rerank" -> mmrOracle(6),

    // max-anchored boundaries replayed in date arithmetic
    "q171_embargo_split" ->
      """WITH a AS (SELECT max(o_orderdate::DATE) AS mx FROM orders),
        |l AS (SELECT o_orderdate::DATE AS d, o_totalprice,
        |    CASE WHEN o_orderdate::DATE > mx - 90 THEN 'test'
        |         WHEN o_orderdate::DATE <= mx - 104 THEN 'train'
        |         ELSE 'embargo' END AS split
        |  FROM orders, a)
        |SELECT split, count(*)::BIGINT AS n_orders,
        |  strftime(min(d), '%Y-%m-%d') AS min_date,
        |  strftime(max(d), '%Y-%m-%d') AS max_date,
        |  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_cents
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,

    // the decoded fields replay as plain SQL (roundtrip identity) and
    // avro_len replays the Avro 1.x binary spec independently:
    // 5-byte Confluent frame + zigzag-varint(uid) + one array block
    // (varint count, items, 0x00 terminator; every custkey has ≥1
    // order, so the count block is always present) + varint(strlen) +
    // the 19 UTF-8 chars of the ISO-second timestamp
    "q172_avro_roundtrip" ->
      """WITH r AS (
        |  SELECT o_custkey AS user_id,
        |         (array_agg(o_orderkey ORDER BY o_orderkey))[1:3] AS recs,
        |         strftime(max(o_orderdate), '%Y-%m-%dT%H:%M:%S') AS ts
        |  FROM orders GROUP BY 1)
        |SELECT user_id, len(recs)::BIGINT AS n_recs,
        |  list_sum(recs)::BIGINT AS rec_sum, ts,
        |  (5
        |   + CASE WHEN 2*user_id < 128 THEN 1 WHEN 2*user_id < 16384 THEN 2
        |          WHEN 2*user_id < 2097152 THEN 3
        |          WHEN 2*user_id < 268435456 THEN 4
        |          WHEN 2*user_id < 34359738368 THEN 5 ELSE 6 END
        |   + CASE WHEN 2*len(recs) < 128 THEN 1 ELSE 2 END
        |   + list_sum(list_transform(recs, x ->
        |          CASE WHEN 2*x < 128 THEN 1 WHEN 2*x < 16384 THEN 2
        |               WHEN 2*x < 2097152 THEN 3
        |               WHEN 2*x < 268435456 THEN 4
        |               WHEN 2*x < 34359738368 THEN 5 ELSE 6 END))
        |   + 1
        |   + 1 + len(ts))::BIGINT AS avro_len
        |FROM r ORDER BY 1""".stripMargin,

    // the q147 score chain + the 2×2 table; the kappa CASE spells floor
    // division with nonnegative `//`s exactly as the engine does
    "q173_rater_kappa" ->
      (s"""WITH $logitScoreCtes,
        |r AS (SELECT sc.doc_id, sc.score_micro >= 500000 AS ra,
        |        d.n_chars BETWEEN 100 AND 400 AS rb
        |      FROM sc JOIN documents d USING (doc_id)),
        |tt AS (SELECT
        |  (count(*) FILTER (WHERE ra AND rb))::BIGINT AS both_true,
        |  (count(*) FILTER (WHERE ra AND NOT rb))::BIGINT AS only_a,
        |  (count(*) FILTER (WHERE NOT ra AND rb))::BIGINT AS only_b,
        |  (count(*) FILTER (WHERE NOT ra AND NOT rb))::BIGINT AS neither
        |  FROM r),
        |k AS (SELECT both_true, only_a, only_b, neither,
        |  both_true + only_a + only_b + neither AS n,
        |  (both_true + only_a) * (both_true + only_b)
        |    + (only_b + neither) * (only_a + neither) AS s FROM tt)
        |SELECT both_true, only_a, only_b, neither, n::BIGINT AS n,
        |  (CASE WHEN (n * (both_true + neither) - s) >= 0
        |    THEN ((n * (both_true + neither) - s) * 1000000) // (n * n - s)
        |    ELSE -((-((n * (both_true + neither) - s) * 1000000)
        |            + (n * n - s) - 1) // (n * n - s))
        |  END)::BIGINT AS kappa_micro
        |FROM k""").stripMargin,

    // same score chain; deciles, per-bin integer means, global Brier
    "q174_calibration_bins" ->
      (s"""WITH $logitScoreCtes,
        |l AS (SELECT sc.score_micro AS p, (d.lang = 'en') AS y
        |      FROM sc JOIN documents d USING (doc_id)),
        |tb AS (SELECT least(p // 100000, 9) AS bin, p,
        |         CASE WHEN y THEN 1000000 ELSE 0 END AS ym FROM l),
        |bins AS (SELECT bin, count(*)::BIGINT AS n_rows, sum(p)::BIGINT AS sp,
        |         (count(*) FILTER (WHERE ym > 0))::BIGINT AS np
        |         FROM tb GROUP BY 1),
        |g AS (SELECT count(*)::BIGINT AS n,
        |      sum((p - ym) * (p - ym))::BIGINT AS se FROM tb)
        |SELECT bin::BIGINT AS bin, n_rows,
        |  (sp // n_rows)::BIGINT AS mean_p_micro,
        |  ((np * 1000000) // n_rows)::BIGINT AS pos_rate_micro,
        |  (se // (n * 1000000))::BIGINT AS brier_micro
        |FROM bins, g ORDER BY 1""").stripMargin,

    // both legs replayed (q108's BM25 chain + the TF leg), ranked with
    // the identical tie-break, fused in integer nano-units
    "q175_rrf_fusion" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
        |qt AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok
        |  WHERE token IN ('spark', 'join') GROUP BY 1, 2),
        |qdf AS (SELECT token, count(*)::BIGINT AS df FROM qt GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |s AS (SELECT q.doc_id,
        |    round((q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * (dl.dl / ad.avgdl)))
        |      * ((nn.n - d.df + 0.5) / (d.df + 0.5)) * 1000000.0)::BIGINT AS score_micro
        |  FROM qt q JOIN qdf d USING (token) JOIN dl ON dl.doc_id = q.doc_id
        |  CROSS JOIN nn CROSS JOIN ad),
        |bm AS (SELECT doc_id, sum(score_micro)::BIGINT AS bm25_micro
        |  FROM s GROUP BY 1 ORDER BY bm25_micro DESC, doc_id ASC LIMIT 10),
        |bmr AS (SELECT doc_id, row_number() OVER
        |  (ORDER BY bm25_micro DESC, doc_id ASC)::BIGINT AS bm25_rank FROM bm),
        |qtf AS (SELECT doc_id, sum(tf)::BIGINT AS qtf FROM qt GROUP BY 1),
        |tfl AS (SELECT q.doc_id, (q.qtf * 1000000) // dl.dl AS tf_micro
        |  FROM qtf q JOIN dl ON dl.doc_id = q.doc_id
        |  ORDER BY tf_micro DESC, q.doc_id ASC LIMIT 10),
        |tfr AS (SELECT doc_id, row_number() OVER
        |  (ORDER BY tf_micro DESC, doc_id ASC)::BIGINT AS tf_rank FROM tfl)
        |SELECT COALESCE(b.doc_id, t.doc_id) AS doc_id, b.bm25_rank, t.tf_rank,
        |  (COALESCE(1000000000 // (60 + b.bm25_rank), 0)
        |   + COALESCE(1000000000 // (60 + t.tf_rank), 0))::BIGINT AS rrf_nano
        |FROM bmr b FULL OUTER JOIN tfr t ON b.doc_id = t.doc_id
        |ORDER BY rrf_nano DESC, doc_id ASC LIMIT 10""".stripMargin,

    // cap ladder, truncation at the top cap, per-bucket efficiency
    "q176_length_buckets" ->
      """WITH t AS (SELECT len(string_split_regex(lower(text), '[ \t\n\r\f]+'))::BIGINT AS tokens
        |  FROM documents),
        |a AS (SELECT tokens,
        |  CASE WHEN tokens <= 16 THEN 16 WHEN tokens <= 32 THEN 32
        |       WHEN tokens <= 64 THEN 64 WHEN tokens <= 128 THEN 128
        |       WHEN tokens <= 256 THEN 256 WHEN tokens <= 512 THEN 512
        |       WHEN tokens <= 1024 THEN 1024 WHEN tokens <= 2048 THEN 2048
        |       ELSE 4096 END AS bucket_cap,
        |  least(tokens, 4096) AS kept FROM t)
        |SELECT bucket_cap::BIGINT AS bucket_cap, count(*)::BIGINT AS n_docs,
        |  (count(*) FILTER (WHERE tokens > 4096))::BIGINT AS n_truncated,
        |  sum(kept)::BIGINT AS kept_tokens,
        |  (count(*) * bucket_cap)::BIGINT AS padded_tokens,
        |  ((sum(kept) * 1000000) // (count(*) * bucket_cap))::BIGINT AS efficiency_micro
        |FROM a GROUP BY bucket_cap ORDER BY 1""".stripMargin,

    // straight replay: group, size, distinct sensitive, the l cut
    "q177_l_diversity" ->
      """WITH g AS (SELECT (user_id % 20)::VARCHAR AS cohort,
        |    strftime(ts::DATE, '%Y-%m-%d') AS day,
        |    count(*)::BIGINT AS cnt,
        |    count(DISTINCT event_type)::BIGINT AS n_sensitive
        |  FROM events GROUP BY 1, 2)
        |SELECT cohort, day, cnt, n_sensitive, n_sensitive < 3 AS at_risk
        |FROM g ORDER BY cohort, day""".stripMargin,

    // BM25 chain + graded relevance + Scala-literal position discounts
    "q178_ranking_ndcg" -> ndcgOracle(10),

    // every md5 draw, the anti-join rejection, and the keep-first-trial
    // dedup replayed verbatim
    "q180_negative_sampling" ->
      """WITH pos AS (SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |np AS (SELECT count(*)::BIGINT AS n FROM part),
        |u AS (SELECT DISTINCT user_id FROM pos),
        |c AS (SELECT u.user_id, t AS trial,
        |    1 + ('0x' || substr(md5(u.user_id::VARCHAR || '-' || t::VARCHAR), 1, 8))::BIGINT
        |      % np.n AS item_id
        |  FROM u CROSS JOIN np, LATERAL unnest(generate_series(0, 24)) AS g(t)),
        |nov AS (SELECT c.user_id, c.trial, c.item_id
        |        FROM c ANTI JOIN pos USING (user_id, item_id)),
        |ded AS (SELECT user_id, item_id, min(trial) AS trial
        |        FROM nov GROUP BY 1, 2),
        |rk AS (SELECT user_id, trial, item_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY trial) AS rk
        |  FROM ded)
        |SELECT user_id, count(*)::BIGINT AS n_neg,
        |  sum(item_id)::BIGINT AS neg_sum, sum(trial)::BIGINT AS trial_sum
        |FROM rk WHERE rk <= 5 GROUP BY 1 ORDER BY 1""".stripMargin,

    // bm25 chain → top-3 feedback docs → tf·idf term ranking, query
    // terms excluded, identical HALF_UP micro-rounding
    "q181_prf_expansion" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
        |qt AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok
        |  WHERE token IN ('spark', 'join') GROUP BY 1, 2),
        |qdf AS (SELECT token, count(*)::BIGINT AS df FROM qt GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |s AS (SELECT q.doc_id,
        |    round((q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * (dl.dl / ad.avgdl)))
        |      * ((nn.n - d.df + 0.5) / (d.df + 0.5)) * 1000000.0)::BIGINT AS score_micro
        |  FROM qt q JOIN qdf d USING (token) JOIN dl ON dl.doc_id = q.doc_id
        |  CROSS JOIN nn CROSS JOIN ad),
        |fb AS (SELECT doc_id FROM (
        |    SELECT doc_id, sum(score_micro)::BIGINT AS bm FROM s GROUP BY 1
        |    ORDER BY bm DESC, doc_id ASC LIMIT 3)),
        |fbtf AS (SELECT t.token, count(*)::BIGINT AS fb_tf FROM tok t
        |  SEMI JOIN fb ON fb.doc_id = t.doc_id
        |  WHERE t.token NOT IN ('spark', 'join') GROUP BY 1),
        |cdf AS (SELECT token, count(*)::BIGINT AS df FROM (
        |    SELECT DISTINCT t.doc_id, t.token FROM tok t
        |    SEMI JOIN fbtf f ON f.token = t.token) GROUP BY 1)
        |SELECT f.token AS term,
        |  round(f.fb_tf * (nn.n - c.df + 0.5) / (c.df + 0.5) * 1000000.0)::BIGINT
        |    AS score_micro
        |FROM fbtf f JOIN cdf c USING (token) CROSS JOIN nn
        |ORDER BY score_micro DESC, term ASC LIMIT 5""".stripMargin,

    // the identical md5-60-bit order replayed with one flat row_number
    // (the oracle may be single-partition; the engine may not)
    "q182_training_order" ->
      """WITH h AS (SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hh
        |  FROM documents),
        |p AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY hh, doc_id)::BIGINT AS pos FROM h),
        |n AS (SELECT count(*)::BIGINT AS n FROM documents)
        |SELECT (((pos - 1) * 10) // n.n)::BIGINT AS decile,
        |  count(*)::BIGINT AS n_rows,
        |  min(pos)::BIGINT AS min_pos, max(pos)::BIGINT AS max_pos,
        |  sum(((pos % 1000003) * ((doc_id % 1000003) + 1)) % 1000000007)::BIGINT
        |    AS ord_checksum
        |FROM p, n GROUP BY 1 ORDER BY 1""".stripMargin,

    // q126's recursive-CTE cluster replay, folded modulo k instead of
    // thresholded into train/val/test
    "q185_kfold_split" ->
      """WITH RECURSIVE tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        |       FROM tok, LATERAL unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM inter
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.4),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |clus AS (SELECT r.a AS doc_id, least(r.a, min(r.b)) AS cluster_id
        |         FROM reach r GROUP BY 1),
        |rep AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_key
        |        FROM documents d LEFT JOIN clus c USING (doc_id))
        |SELECT doc_id, split_key,
        |  (('0x' || substr(md5(split_key::VARCHAR), 1, 8))::BIGINT % 10000 % 5)::BIGINT AS fold
        |FROM rep ORDER BY doc_id""".stripMargin,

    // the q35 fixed-point Lloyd's replay (seed = 8 smallest ids, two
    // micro-unit mean rounds), then a full max-cosine assignment and
    // the per-cluster report
    "q186_cluster_profile" ->
      """WITH d AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM d) WHERE nrm > 0),
        |c0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, cent_id, v FROM (
        |    SELECT x.vec_id, c.cent_id, x.v,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM n x, c0 c) WHERE rn = 1),
        |e1 AS (SELECT cent_id, unnest(range(len(v))) AS j, unnest(v) AS x FROM a1),
        |g1 AS (SELECT cent_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |       FROM e1 GROUP BY 1, 2),
        |m1 AS (SELECT cent_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |       FROM g1 GROUP BY 1),
        |c1 AS (SELECT c0.cent_id, COALESCE(m1.cv, c0.cv) AS cv,
        |         sqrt(list_inner_product(COALESCE(m1.cv, c0.cv), COALESCE(m1.cv, c0.cv))) AS cnrm
        |       FROM c0 LEFT JOIN m1 USING (cent_id)),
        |a2 AS (
        |  SELECT vec_id, cent_id, v FROM (
        |    SELECT x.vec_id, c.cent_id, x.v,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM n x, c1 c) WHERE rn = 1),
        |e2 AS (SELECT cent_id, unnest(range(len(v))) AS j, unnest(v) AS x FROM a2),
        |g2 AS (SELECT cent_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |       FROM e2 GROUP BY 1, 2),
        |m2 AS (SELECT cent_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |       FROM g2 GROUP BY 1),
        |c AS (SELECT c1.cent_id, COALESCE(m2.cv, c1.cv) AS cv,
        |        sqrt(list_inner_product(COALESCE(m2.cv, c1.cv), COALESCE(m2.cv, c1.cv))) AS cnrm
        |      FROM c1 LEFT JOIN m2 USING (cent_id)),
        |asg AS (
        |  SELECT vec_id, cent_id, s FROM (
        |    SELECT x.vec_id, c.cent_id,
        |      round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) AS s,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM n x, c) WHERE rn = 1)
        |SELECT cent_id, count(*)::BIGINT AS n_vecs, min(vec_id)::BIGINT AS min_vec_id,
        |  sum(round(s * 1000000)::BIGINT)::BIGINT AS cohesion_micro
        |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin,

    // population mean/std per dimension, micro-rounded, then the 3σ
    // component count in the same exact micro-unit comparison the
    // engine uses (no float division at the boundary)
    "q187_embedding_standardize" ->
      """WITH d AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |             generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
        |st AS (SELECT i, avg(x) AS mu,
        |         sqrt(greatest(avg(x*x) - avg(x)*avg(x), 0)) AS sd
        |       FROM d GROUP BY 1),
        |sm AS (SELECT i, round(mu * 1e6)::BIGINT AS mean_micro,
        |         round(sd * 1e6)::BIGINT AS std_micro FROM st)
        |SELECT sm.i::BIGINT AS dim, sm.mean_micro, sm.std_micro,
        |  sum(CASE WHEN sm.std_micro > 0
        |        AND abs(d.x * 1e6 - sm.mean_micro) > 3 * sm.std_micro
        |      THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM d JOIN sm ON d.i = sm.i
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    // the engine's exact protocol replayed: micro-rounded population
    // covariance, v0 = 1/sqrt(d), three (C·v, normalize, micro-round)
    // rounds, Rayleigh eigenvalue on the final iterate
    "q188_pca_power" ->
      """WITH d AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |             generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
        |m AS (SELECT i, avg(x) AS mu FROM d GROUP BY 1),
        |g AS (SELECT a.i AS i, b.i AS j, avg(a.x * b.x) AS e2
        |      FROM d a JOIN d b USING (vec_id) GROUP BY 1, 2),
        |cm AS (SELECT g.i, g.j,
        |         round((g.e2 - ma.mu * mb.mu) * 1e6)::BIGINT AS c
        |       FROM g JOIN m ma ON g.i = ma.i JOIN m mb ON g.j = mb.i),
        |dd AS (SELECT count(*)::DOUBLE AS d FROM m),
        |v0 AS (SELECT i, 1.0 / sqrt(dd.d) AS v FROM m, dd),
        |w1 AS (SELECT cm.i, sum(cm.c / 1e6 * v0.v) AS w
        |       FROM cm JOIN v0 ON cm.j = v0.i GROUP BY 1),
        |v1 AS (SELECT i, round(w / (SELECT sqrt(sum(w*w)) FROM w1) * 1e6) / 1e6 AS v FROM w1),
        |w2 AS (SELECT cm.i, sum(cm.c / 1e6 * v1.v) AS w
        |       FROM cm JOIN v1 ON cm.j = v1.i GROUP BY 1),
        |v2 AS (SELECT i, round(w / (SELECT sqrt(sum(w*w)) FROM w2) * 1e6) / 1e6 AS v FROM w2),
        |w3 AS (SELECT cm.i, sum(cm.c / 1e6 * v2.v) AS w
        |       FROM cm JOIN v2 ON cm.j = v2.i GROUP BY 1),
        |v3 AS (SELECT i, round(w / (SELECT sqrt(sum(w*w)) FROM w3) * 1e6) / 1e6 AS v FROM w3),
        |lam AS (SELECT round(sum(va.v * (cm.c / 1e6) * vb.v) * 1e6)::BIGINT AS l
        |        FROM cm JOIN v3 va ON cm.i = va.i JOIN v3 vb ON cm.j = vb.i)
        |SELECT v3.i::BIGINT AS dim, round(v3.v * 1e6)::BIGINT AS loading_micro,
        |  lam.l AS eigval_micro
        |FROM v3, lam ORDER BY 1""".stripMargin,

    // per-doc codepoint histogram entropy in micro-bits; string_split
    // by '' is grapheme-level, equal to codepoints on this all-ASCII
    // corpus (the engine's Scaladoc records the contract)
    "q189_char_entropy" ->
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |h AS (SELECT doc_id, ch, count(*)::DOUBLE AS cnt FROM c GROUP BY 1, 2),
        |e AS (SELECT doc_id, sum(cnt)::DOUBLE AS n, sum(cnt * log2(cnt)) AS clc
        |      FROM h GROUP BY 1)
        |SELECT d.doc_id, length(d.text)::BIGINT AS n,
        |  CASE WHEN length(d.text) = 0 THEN 0
        |       ELSE round((log2(e.n) - e.clc / e.n) * 1e6)::BIGINT END AS entropy_micro,
        |  (CASE WHEN length(d.text) = 0 THEN 0
        |        ELSE round((log2(e.n) - e.clc / e.n) * 1e6)::BIGINT END
        |   < 2000000) AS low_entropy
        |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
        |ORDER BY 1""".stripMargin,

    // the q186 training/assignment chain over the planted union, then
    // within-cell pair scoring, recursive component closure, and the
    // (ccos_micro, vec_id)-argmin keep rule — every decision replayed
    "q190_semantic_dedup" ->
      """WITH RECURSIVE b AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |d AS (
        |  SELECT vec_id, v FROM b
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, list_prepend(v[1] + 0.01, v[2:]) AS v
        |  FROM b WHERE vec_id < 12),
        |n AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM d) WHERE nrm > 0),
        |c0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, cent_id, v FROM (
        |    SELECT x.vec_id, c.cent_id, x.v,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM n x, c0 c) WHERE rn = 1),
        |e1 AS (SELECT cent_id, unnest(range(len(v))) AS j, unnest(v) AS x FROM a1),
        |g1 AS (SELECT cent_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |       FROM e1 GROUP BY 1, 2),
        |m1 AS (SELECT cent_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |       FROM g1 GROUP BY 1),
        |c1 AS (SELECT c0.cent_id, COALESCE(m1.cv, c0.cv) AS cv,
        |         sqrt(list_inner_product(COALESCE(m1.cv, c0.cv), COALESCE(m1.cv, c0.cv))) AS cnrm
        |       FROM c0 LEFT JOIN m1 USING (cent_id)),
        |a2 AS (
        |  SELECT vec_id, cent_id, v FROM (
        |    SELECT x.vec_id, c.cent_id, x.v,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM n x, c1 c) WHERE rn = 1),
        |e2 AS (SELECT cent_id, unnest(range(len(v))) AS j, unnest(v) AS x FROM a2),
        |g2 AS (SELECT cent_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |       FROM e2 GROUP BY 1, 2),
        |m2 AS (SELECT cent_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |       FROM g2 GROUP BY 1),
        |cf AS (SELECT c1.cent_id, COALESCE(m2.cv, c1.cv) AS cv,
        |        sqrt(list_inner_product(COALESCE(m2.cv, c1.cv), COALESCE(m2.cv, c1.cv))) AS cnrm
        |      FROM c1 LEFT JOIN m2 USING (cent_id)),
        |asg AS (
        |  SELECT vec_id, cent_id, s FROM (
        |    SELECT x.vec_id, c.cent_id,
        |      round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) AS s,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM n x, cf c) WHERE rn = 1),
        |pairs AS (
        |  SELECT ax.vec_id AS d1, ay.vec_id AS d2
        |  FROM asg ax JOIN asg ay
        |    ON ax.cent_id = ay.cent_id AND ax.vec_id < ay.vec_id
        |  JOIN n x ON x.vec_id = ax.vec_id
        |  JOIN n y ON y.vec_id = ay.vec_id
        |  WHERE round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 6) >= 0.92),
        |edges AS (SELECT d1 AS a, d2 AS bb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, bb) AS (
        |  SELECT a, bb FROM edges
        |  UNION
        |  SELECT r.a, e.bb FROM reach r JOIN edges e ON r.bb = e.a),
        |grp AS (SELECT a AS vec_id, least(a, min(bb)) AS gid FROM reach GROUP BY 1),
        |g AS (SELECT asg.vec_id, asg.cent_id,
        |        round(asg.s * 1000000)::BIGINT AS ccos_micro,
        |        COALESCE(grp.gid, asg.vec_id) AS group_id
        |      FROM asg LEFT JOIN grp ON asg.vec_id = grp.vec_id),
        |rep AS (SELECT group_id, vec_id AS rep_id FROM (
        |          SELECT group_id, vec_id,
        |            row_number() OVER (PARTITION BY group_id
        |              ORDER BY ccos_micro, vec_id) AS rn FROM g) WHERE rn = 1)
        |SELECT g.vec_id, g.cent_id, g.ccos_micro, g.group_id,
        |  (g.vec_id = rep.rep_id) AS keep
        |FROM g JOIN rep USING (group_id) ORDER BY 1""".stripMargin,

    // per-day histogram replay, then the PSI fixed-point math per day
    // vs the first day over the union of both sides' bins
    "q191_stream_drift" ->
      """WITH h AS (
        |  SELECT (epoch_ns(ts) // 1000) // 86400000000 AS day,
        |    floor(value / 25.0)::BIGINT AS bin, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |w0 AS (SELECT min(day) AS d0 FROM h),
        |ref AS (SELECT bin, n AS cb FROM h, w0 WHERE day = d0),
        |wins AS (SELECT day, bin, n AS ca FROM h, w0 WHERE day <> d0),
        |grid AS (
        |  SELECT DISTINCT day, bin FROM (
        |    SELECT w.day, r.bin FROM (SELECT DISTINCT day FROM wins) w, ref r
        |    UNION ALL SELECT day, bin FROM wins)),
        |f AS (
        |  SELECT g.day, g.bin, COALESCE(wins.ca, 0) AS ca, COALESCE(ref.cb, 0) AS cb
        |  FROM grid g
        |  LEFT JOIN wins ON g.day = wins.day AND g.bin = wins.bin
        |  LEFT JOIN ref ON g.bin = ref.bin),
        |tot AS (SELECT day, sum(ca)::BIGINT AS n_win, count(*)::BIGINT AS n_bins
        |        FROM f GROUP BY 1),
        |rt AS (SELECT sum(cb)::BIGINT AS n_ref FROM ref),
        |terms AS (
        |  SELECT f.day, rt.n_ref, tot.n_win, tot.n_bins,
        |    round(((f.ca + 0.5) / (tot.n_win + 0.5 * tot.n_bins)
        |         - (f.cb + 0.5) / (rt.n_ref + 0.5 * tot.n_bins))
        |      * ln(((f.ca + 0.5) / (tot.n_win + 0.5 * tot.n_bins))
        |         / ((f.cb + 0.5) / (rt.n_ref + 0.5 * tot.n_bins)))
        |      * 1000000000)::BIGINT AS nano
        |  FROM f JOIN tot ON f.day = tot.day, rt)
        |SELECT strftime(make_timestamp(day * 86400000000), '%Y-%m-%d') AS window_day,
        |  n_ref, n_win, n_bins, sum(nano)::BIGINT AS psi_nano
        |FROM terms GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,

    // exact weekly uniques; the envelope and the union identity are
    // asserted literally TRUE (the q42/q154 sketch-gate discipline)
    "q192_hll_sketch_column" ->
      """SELECT weekofyear(ts::DATE)::BIGINT AS week,
        |  count(DISTINCT user_id)::BIGINT AS exact_users,
        |  true AS within_env, true AS merge_consistent
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the histogram is exact integers, so the whole estimator replays:
    // same bin rule, same continuous rank r = q(n−1), same fixed
    // double-op interpolation chain
    "q193_hist_sketch_quantiles" ->
      """WITH e AS (SELECT weekofyear(ts::DATE)::BIGINT AS week, value
        |           FROM events WHERE value IS NOT NULL),
        |b AS (SELECT week,
        |        CASE WHEN value < 0 THEN 0
        |             WHEN value >= 500 THEN 101
        |             ELSE floor(value / 5.0)::BIGINT + 1 END AS bin,
        |        count(*)::BIGINT AS c
        |      FROM e GROUP BY 1, 2),
        |nn AS (SELECT week, sum(c)::BIGINT AS n FROM b GROUP BY 1),
        |cm AS (SELECT week, bin, c,
        |         COALESCE(sum(c) OVER (PARTITION BY week ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |       FROM b),
        |p50 AS (
        |  SELECT cm.week,
        |    round((0.0 + 5.0 * ((cm.bin - 1)
        |      + (0.5 * (nn.n - 1) - cm.cum) / cm.c)) * 1e6)::BIGINT AS p50_micro
        |  FROM cm JOIN nn USING (week)
        |  WHERE cm.cum <= 0.5 * (nn.n - 1) AND 0.5 * (nn.n - 1) < cm.cum + cm.c),
        |p95 AS (
        |  SELECT cm.week,
        |    round((0.0 + 5.0 * ((cm.bin - 1)
        |      + (0.95 * (nn.n - 1) - cm.cum) / cm.c)) * 1e6)::BIGINT AS p95_micro
        |  FROM cm JOIN nn USING (week)
        |  WHERE cm.cum <= 0.95 * (nn.n - 1) AND 0.95 * (nn.n - 1) < cm.cum + cm.c)
        |SELECT nn.week, nn.n, p50.p50_micro, p95.p95_micro,
        |  true AS merge_consistent
        |FROM nn JOIN p50 USING (week) JOIN p95 USING (week)
        |ORDER BY 1""".stripMargin,

    // exact pairwise user overlap; the inclusion–exclusion estimate's
    // envelope is asserted literally TRUE
    "q194_sketch_overlap" ->
      """WITH s AS (SELECT DISTINCT event_type AS seg FROM events),
        |k AS (SELECT DISTINCT event_type AS seg, user_id AS u FROM events),
        |ov AS (SELECT a.seg AS sa, b.seg AS sb, count(*)::BIGINT AS c
        |       FROM k a JOIN k b ON a.u = b.u AND a.seg < b.seg GROUP BY 1, 2)
        |SELECT x.seg AS seg_a, y.seg AS seg_b,
        |  COALESCE(ov.c, 0)::BIGINT AS exact_overlap, true AS within_env
        |FROM s x JOIN s y ON x.seg < y.seg
        |LEFT JOIN ov ON ov.sa = x.seg AND ov.sb = y.seg
        |ORDER BY 1, 2""".stripMargin,

    // the guaranteed set from exact counts; the sketch booleans are
    // asserted literally TRUE (Misra–Gries' combinatorial bound has
    // zero false-alarm probability — q154's discipline, now streaming)
    "q195_stream_heavy_hitters" ->
      """WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS window_day,
        |             event_type AS item FROM events),
        |n AS (SELECT window_day, count(*)::BIGINT AS n FROM d GROUP BY 1),
        |c AS (SELECT window_day, item, count(*)::BIGINT AS true_count
        |      FROM d GROUP BY 1, 2)
        |SELECT c.window_day, c.item, c.true_count,
        |  true AS in_sketch, true AS est_within_band
        |FROM c JOIN n USING (window_day)
        |WHERE c.true_count * 9 > n.n ORDER BY 1, 2""".stripMargin,

    // same min/max params, same code/err chains — min/max are
    // order-independent so everything replays exactly
    "q196_embedding_quantize" ->
      """WITH d AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |             generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
        |p AS (SELECT i, min(x) AS lo, (max(x) - min(x)) / 255.0 AS s
        |      FROM d GROUP BY 1),
        |c AS (SELECT d.vec_id,
        |        CASE WHEN p.s = 0 THEN 0
        |             ELSE least(255.0, greatest(0.0, round((d.x - p.lo) / p.s)))::BIGINT
        |        END AS code,
        |        CASE WHEN p.s = 0 THEN abs(d.x - p.lo)
        |             ELSE abs((d.x - p.lo)
        |               - least(255.0, greatest(0.0, round((d.x - p.lo) / p.s))) * p.s)
        |        END AS err,
        |        p.s AS s
        |      FROM d JOIN p USING (i))
        |SELECT vec_id, sum(code)::BIGINT AS code_sum,
        |  round(max(err) * 1e6)::BIGINT AS max_err_micro,
        |  bool_and(err - s / 2 <= 1e-6) AS within_bound
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact join sizes; the hard overestimate and the ε bound are
    // asserted literally TRUE
    "q199_join_size_sketch" ->
      """SELECT 'customer_orders' AS pair,
        |  (SELECT count(*) FROM customer c JOIN orders o
        |     ON c.c_custkey = o.o_custkey)::BIGINT AS exact_join_size,
        |  true AS overcount_ok, true AS within_eps
        |UNION ALL
        |SELECT 'orders_lineitem',
        |  (SELECT count(*) FROM orders o JOIN lineitem l
        |     ON o.o_orderkey = l.l_orderkey)::BIGINT,
        |  true, true
        |ORDER BY 1""".stripMargin,

    // exact overlap and difference from distinct-pair joins; the two
    // sampling-band booleans and the bit-for-bit merge identity are
    // asserted literally TRUE
    "q200_theta_setops" ->
      """WITH s AS (SELECT DISTINCT event_type AS seg FROM events),
        |k AS (SELECT DISTINCT event_type AS seg, user_id AS u FROM events),
        |n AS (SELECT seg, count(*)::BIGINT AS n FROM k GROUP BY 1),
        |ov AS (SELECT a.seg AS sa, b.seg AS sb, count(*)::BIGINT AS c
        |       FROM k a JOIN k b ON a.u = b.u AND a.seg < b.seg GROUP BY 1, 2)
        |SELECT x.seg AS seg_a, y.seg AS seg_b,
        |  COALESCE(ov.c, 0)::BIGINT AS exact_overlap,
        |  (na.n - COALESCE(ov.c, 0))::BIGINT AS exact_only_a,
        |  true AS int_in_env, true AS diff_in_env, true AS merge_identity
        |FROM s x JOIN s y ON x.seg < y.seg
        |JOIN n na ON na.seg = x.seg
        |LEFT JOIN ov ON ov.sa = x.seg AND ov.sb = y.seg
        |ORDER BY 1, 2""".stripMargin,

    // full replay: the same md5 draw, priorities, τ and estimates come
    // out of SQL — every value hash-gated, band included
    "q201_priority_sample" ->
      """WITH r AS (SELECT doc_id AS id, n_chars::BIGINT AS w,
        |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 0.5)
        |      / 4294967296.0 AS u FROM documents),
        |p AS (SELECT id, w, w::DOUBLE / u AS pri FROM r),
        |o AS (SELECT id, w, pri,
        |        row_number() OVER (ORDER BY pri DESC, id) AS rk FROM p),
        |t AS (SELECT COALESCE(max(CASE WHEN rk = 101 THEN pri END), 0.0) AS tau FROM o),
        |kept AS (SELECT id, w,
        |           round(greatest(w::DOUBLE, t.tau) * 1e6)::BIGINT AS est_micro
        |         FROM o, t WHERE rk <= 100),
        |wt AS (SELECT sum(w)::BIGINT AS wtot FROM r),
        |b AS (SELECT (abs(sum(est_micro)::DOUBLE - wtot::DOUBLE * 1e6)
        |        <= 5e6 / sqrt(99.0) * wtot::DOUBLE) AS total_in_band
        |      FROM kept, wt GROUP BY wtot)
        |SELECT id, w, est_micro, total_in_band FROM kept, b ORDER BY id""".stripMargin,

    // full integer replay: same md5-parity signs, same micro
    // fixed-point MAC — norms, checksum and band all hash-gated
    "q202_jl_projection" ->
      """WITH d AS (SELECT vec_id, round(unnest(embedding)::DOUBLE * 1e6)::BIGINT AS xm,
        |             generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
        |s AS (SELECT i, j,
        |        CASE WHEN ('0x' || substr(md5(i::VARCHAR || '_' || j::VARCHAR), 1, 8))::BIGINT
        |               % 2 = 0 THEN 1::BIGINT ELSE (-1)::BIGINT END AS sgn
        |      FROM range(64) t(i), range(16) u(j)),
        |p AS (SELECT d.vec_id, s.j, sum(d.xm * s.sgn)::BIGINT AS pj
        |      FROM d JOIN s ON d.i = s.i GROUP BY 1, 2),
        |x AS (SELECT vec_id, sum(xm * xm)::BIGINT AS x_norm2 FROM d GROUP BY 1),
        |agg AS (SELECT vec_id, sum(pj * pj)::BIGINT AS p_norm2,
        |          sum((j + 1) * pj)::BIGINT AS p_checksum FROM p GROUP BY 1)
        |SELECT x.vec_id AS id, x.x_norm2, agg.p_norm2, agg.p_checksum,
        |  (abs(agg.p_norm2 - 16 * x.x_norm2)::DOUBLE
        |     <= 5.0 * sqrt(2.0 / 16.0) * 16.0 * x.x_norm2::DOUBLE) AS distortion_ok
        |FROM x JOIN agg USING (vec_id) ORDER BY 1""".stripMargin,

    // all pairwise slopes replayed, lower median selected by rank —
    // every value hash-gated
    "q209_theilsen_trend" ->
      (s"""WITH daily AS (SELECT event_type AS g, ts::DATE AS day,
        |        sum(round(value * 1e6)::BIGINT)::BIGINT AS sm,
        |        count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |x AS (SELECT g, ${sqlFloorDiv("sm", "cnt")} AS y,
        |        row_number() OVER (PARTITION BY g ORDER BY day) AS i FROM daily),
        |p AS (SELECT a.g, (b.y - a.y)::DOUBLE / (b.i - a.i)::DOUBLE AS slope
        |      FROM x a JOIN x b ON a.g = b.g AND a.i < b.i),
        |r AS (SELECT g, slope,
        |        row_number() OVER (PARTITION BY g ORDER BY slope) AS rk,
        |        count(*) OVER (PARTITION BY g) AS m FROM p),
        |nd AS (SELECT g, max(i)::BIGINT AS n_days FROM x GROUP BY 1)
        |SELECT r.g AS event_type, nd.n_days, r.m::BIGINT AS n_pairs,
        |  round(r.slope)::BIGINT AS slope_micro_per_day,
        |  (r.slope > 1000.0) AS rising, (r.slope < -1000.0) AS falling
        |FROM r JOIN nd USING (g) WHERE r.rk = (r.m + 1) // 2
        |ORDER BY 1""").stripMargin,

    // q201's sample replayed, then grouped by language — estimates,
    // counts and exact totals all hash-gated
    "q208_sample_subset_sums" ->
      """WITH r AS (SELECT doc_id AS id, n_chars::BIGINT AS w,
        |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 0.5)
        |      / 4294967296.0 AS u FROM documents),
        |p AS (SELECT id, w, w::DOUBLE / u AS pri FROM r),
        |o AS (SELECT id, w, pri,
        |        row_number() OVER (ORDER BY pri DESC, id) AS rk FROM p),
        |t AS (SELECT COALESCE(max(CASE WHEN rk = 101 THEN pri END), 0.0) AS tau FROM o),
        |kept AS (SELECT id, round(greatest(w::DOUBLE, t.tau) * 1e6)::BIGINT AS est_micro
        |         FROM o, t WHERE rk <= 100),
        |e AS (SELECT lang, sum(n_chars)::BIGINT AS exact_chars
        |      FROM documents GROUP BY 1),
        |se AS (SELECT d.lang, sum(k.est_micro)::BIGINT AS est_micro_sum,
        |         count(*)::BIGINT AS n_sampled
        |       FROM kept k JOIN documents d ON d.doc_id = k.id GROUP BY 1)
        |SELECT e.lang, e.exact_chars,
        |  COALESCE(se.est_micro_sum, 0)::BIGINT AS est_micro_sum,
        |  COALESCE(se.n_sampled, 0)::BIGINT AS n_sampled
        |FROM e LEFT JOIN se USING (lang) ORDER BY 1""".stripMargin,

    // the shard-parallel next-fit recursion replayed as a recursive CTE
    // advancing one doc per shard per step — every window assignment
    // hash-gated
    "q207_sequence_packing" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id % 64 AS shard, doc_id, n_chars // 4 AS tok,
        |    row_number() OVER (PARTITION BY doc_id % 64 ORDER BY doc_id) AS i
        |  FROM documents),
        |nf AS (
        |  SELECT shard, doc_id, tok, i, 1::BIGINT AS window_id, tok AS used
        |  FROM d WHERE i = 1
        |  UNION ALL
        |  SELECT x.shard, x.doc_id, x.tok, x.i,
        |    CASE WHEN nf.used + x.tok > 512 THEN nf.window_id + 1
        |         ELSE nf.window_id END,
        |    CASE WHEN nf.used + x.tok > 512 THEN x.tok
        |         ELSE nf.used + x.tok END
        |  FROM nf JOIN d x ON x.shard = nf.shard AND x.i = nf.i + 1)
        |SELECT shard::BIGINT AS shard, doc_id, tok::BIGINT AS tok,
        |  window_id::BIGINT AS window_id, used::BIGINT AS used_after,
        |  (tok > 512) AS oversize
        |FROM nf ORDER BY shard, doc_id""".stripMargin,

    // the same closed-form CUSUM in SQL window functions — prefix sums,
    // running min/max, integer micro-units throughout
    "q206_cusum_changepoint" ->
      (s"""WITH daily AS (SELECT ts::DATE AS day,
        |        sum(round(value * 1e6)::BIGINT)::BIGINT AS sm,
        |        count(*)::BIGINT AS n FROM events GROUP BY 1),
        |x AS (SELECT day, ${sqlFloorDiv("sm", "n")} AS x,
        |        row_number() OVER (ORDER BY day) AS i
        |      FROM daily),
        |prm0 AS (SELECT sum(x)::BIGINT AS sx, count(*)::BIGINT AS c
        |         FROM x WHERE i <= 7),
        |prm1 AS (SELECT ${sqlFloorDiv("sx", "c")}::BIGINT AS mu0 FROM prm0),
        |prm2 AS (SELECT mu0,
        |           ${sqlFloorDiv("mu0 * 5", "100")}::BIGINT AS delta FROM prm1),
        |prm AS (SELECT mu0, delta, (delta * 6)::BIGINT AS h FROM prm2),
        |c AS (SELECT day, x,
        |        sum(x - prm.mu0 - prm.delta) OVER (ORDER BY day)::BIGINT AS p,
        |        sum(x - prm.mu0 + prm.delta) OVER (ORDER BY day)::BIGINT AS q
        |      FROM x, prm),
        |s AS (SELECT day, x, q,
        |        (p - least(min(p) OVER (ORDER BY day), 0))::BIGINT AS s_pos,
        |        (greatest(max(q) OVER (ORDER BY day), 0) - q)::BIGINT AS s_neg
        |      FROM c)
        |SELECT strftime(s.day, '%Y-%m-%d') AS day, s.x AS x_micro,
        |  s.s_pos, s.s_neg,
        |  (s.s_pos > prm.h) AS alarm_up, (s.s_neg > prm.h) AS alarm_down
        |FROM s, prm ORDER BY 1""").stripMargin,

    // per-day digests replayed from the raw events; the exactly-once
    // identity boolean is asserted literally TRUE
    "q205_stream_fingerprint" ->
      """WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS window_day,
        |    ('0x' || substr(md5(
        |       length(user_id::VARCHAR)::VARCHAR || ':' || user_id::VARCHAR
        |       || chr(1) || length(event_type)::VARCHAR || ':' || event_type
        |       || chr(1) || length(epoch_us(ts)::VARCHAR)::VARCHAR || ':'
        |       || epoch_us(ts)::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM events)
        |SELECT window_day, count(*)::BIGINT AS n_rows, sum(h)::BIGINT AS fp,
        |  true AS stream_matches_batch
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // PAV replayed via the Robertson–Wright–Dykstra minimax identity:
    // fit_i = max_{a≤i} min_{b≥i} mean(bins a..b) — every candidate
    // mean is one integer/integer division, so the achieved optimum is
    // the same double in both engines; full hash gate
    "q204_isotonic_calibration" ->
      (s"""WITH $logitScoreCtes,
        |l AS (SELECT sc.score_micro AS p, (d.lang = 'en') AS y
        |      FROM sc JOIN documents d USING (doc_id)),
        |tb AS (SELECT least(p // 20000, 49) AS bin,
        |         CASE WHEN y THEN 1 ELSE 0 END AS yy FROM l),
        |bins AS (SELECT bin, count(*)::BIGINT AS n, sum(yy)::BIGINT AS pos
        |         FROM tb GROUP BY 1),
        |o AS (SELECT bin, n, pos, row_number() OVER (ORDER BY bin) AS i FROM bins),
        |c AS (SELECT i, bin, n, pos,
        |        sum(n) OVER (ORDER BY i)::BIGINT AS cn,
        |        sum(pos) OVER (ORDER BY i)::BIGINT AS cs FROM o),
        |w AS (SELECT a.i AS ai, b.i AS bi,
        |        (b.cs - COALESCE(pa.cs, 0))::DOUBLE
        |          / (b.cn - COALESCE(pa.cn, 0)) AS m
        |      FROM c a JOIN c b ON a.i <= b.i
        |      LEFT JOIN c pa ON pa.i = a.i - 1),
        |ms AS (SELECT w.ai, cc.i, min(w.m) AS lo
        |       FROM w JOIN c cc ON w.ai <= cc.i AND w.bi >= cc.i
        |       GROUP BY 1, 2),
        |pav AS (SELECT i, max(lo) AS fitted FROM ms GROUP BY 1)
        |SELECT c.bin, c.n, c.pos, round(pav.fitted * 1e6)::BIGINT AS fitted_micro
        |FROM c JOIN pav USING (i) ORDER BY 1""").stripMargin,

    // same md5 slice, same injective length-prefixed U+0001 canonical
    // encoding (`len:value` per field, ADVICE r8) — every digest
    // hash-gated; rollup and drift booleans replay in SQL
    "q203_dataset_fingerprint" ->
      """WITH enc AS (SELECT source, doc_id,
        |    length(doc_id::VARCHAR)::VARCHAR || ':' || doc_id::VARCHAR AS e_id,
        |    length(lang)::VARCHAR || ':' || lang AS e_lang,
        |    length(n_chars::VARCHAR)::VARCHAR || ':' || n_chars::VARCHAR AS e_nc,
        |    length(text)::VARCHAR || ':' || text AS e_text,
        |    CASE WHEN doc_id % 1000 = 7
        |      THEN length(text || '!')::VARCHAR || ':' || text || '!'
        |      ELSE length(text)::VARCHAR || ':' || text END AS e_mut
        |  FROM documents),
        |d AS (SELECT source,
        |    ('0x' || substr(md5(e_id || chr(1) || e_lang || chr(1)
        |       || e_nc || chr(1) || e_text), 1, 8))::BIGINT AS h,
        |    ('0x' || substr(md5(e_id || chr(1) || e_lang || chr(1)
        |       || e_nc || chr(1) || e_mut), 1, 8))::BIGINT AS hm
        |  FROM enc),
        |s AS (SELECT source, count(*)::BIGINT AS n_rows,
        |        sum(h)::BIGINT AS fp, sum(hm)::BIGINT AS fp_mut
        |      FROM d GROUP BY 1),
        |g AS (SELECT sum(h)::BIGINT AS fp_all FROM d),
        |r AS (SELECT (sum(fp) = max(g.fp_all)) AS rollup_ok FROM s, g)
        |SELECT source, n_rows, fp, fp_mut, (fp <> fp_mut) AS drift_detected,
        |  rollup_ok
        |FROM s, r ORDER BY source""".stripMargin,

    // exact per-day distinct; the envelope and the stream-vs-batch
    // register identity are asserted literally TRUE
    "q198_stream_distinct_sketch" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS window_day,
        |  count(DISTINCT user_id)::BIGINT AS exact_users,
        |  true AS within_env, true AS month_union_consistent
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q196's code chain for every vector, then integer dots and the
    // (dot DESC, vec_id) ranking — all integers, replayed exactly
    "q197_ann_int8" ->
      """WITH d AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |             generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
        |p AS (SELECT i, min(x) AS lo, (max(x) - min(x)) / 255.0 AS s
        |      FROM d GROUP BY 1),
        |c AS (SELECT d.vec_id, d.i,
        |        CASE WHEN p.s = 0 THEN 0
        |             ELSE least(255.0, greatest(0.0, round((d.x - p.lo) / p.s)))::BIGINT
        |        END AS code
        |      FROM d JOIN p USING (i)),
        |q AS (SELECT vec_id AS query_id, i, code FROM c WHERE vec_id < 5),
        |dots AS (
        |  SELECT q.query_id, c.vec_id, sum(q.code * c.code)::BIGINT AS dot
        |  FROM c JOIN q USING (i) WHERE c.vec_id <> q.query_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, dot,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY dot DESC, vec_id)::BIGINT AS rank
        |      FROM dots)
        |SELECT query_id, rank, vec_id, dot FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // q172's derivation minus the wire-length column: the streamed
    // decode must reproduce the staged fields exactly
    "q184_stream_avro" ->
      """WITH r AS (
        |  SELECT o_custkey AS user_id,
        |         (array_agg(o_orderkey ORDER BY o_orderkey))[1:3] AS recs,
        |         strftime(max(o_orderdate), '%Y-%m-%dT%H:%M:%S') AS ts
        |  FROM orders GROUP BY 1)
        |SELECT user_id, len(recs)::BIGINT AS n_recs,
        |  list_sum(recs)::BIGINT AS rec_sum, ts
        |FROM r ORDER BY 1""".stripMargin,

    // byte histograms replayed from ascii() (pure-ASCII fixture: chars
    // ARE bytes, the q100 discipline), sparse-union L1 per candidate
    // pair, identical size band and threshold
    "q183_payload_histdup" ->
      """WITH ch AS (SELECT doc_id, ascii(c) AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
        |  WHERE c <> ''),
        |h AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, length(text)::BIGINT AS nb FROM documents),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2 FROM n a JOIN n b
        |  ON a.doc_id < b.doc_id AND abs(a.nb - b.nb) <= 20),
        |terms AS (
        |  SELECT p.d1, p.d2, h.b, h.c AS c1, 0::BIGINT AS c2
        |  FROM pairs p JOIN h ON h.doc_id = p.d1
        |  UNION ALL
        |  SELECT p.d1, p.d2, h.b, 0::BIGINT, h.c
        |  FROM pairs p JOIN h ON h.doc_id = p.d2),
        |perbin AS (SELECT d1, d2, b, abs(sum(c1) - sum(c2)) AS d
        |  FROM terms GROUP BY 1, 2, 3),
        |l1 AS (SELECT d1, d2, sum(d)::BIGINT AS l1 FROM perbin GROUP BY 1, 2)
        |SELECT d1 AS doc_id_1, d2 AS doc_id_2, l1 FROM l1
        |WHERE l1 <= 20 ORDER BY 1, 2""".stripMargin,

    // decile boundaries via the integer rank rule, ties-low assignment
    "q170_equidepth_histogram" ->
      """WITH v AS (SELECT l_quantity::DOUBLE AS val FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity::DOUBLE)),
        |n AS (SELECT count(*)::BIGINT AS n FROM v),
        |r AS (SELECT val, row_number() OVER (ORDER BY val) AS rn FROM v),
        |qs(q_bp) AS (VALUES (1000), (2000), (3000), (4000), (5000),
        |                    (6000), (7000), (8000), (9000)),
        |bnd AS (SELECT r.val AS b
        |        FROM qs, n JOIN r ON r.rn = (q_bp * n.n + 9999) // 10000),
        |a AS (SELECT val, (SELECT count(*) FROM bnd WHERE b < val)::INTEGER AS bucket FROM v)
        |SELECT bucket, count(*)::BIGINT AS n_rows,
        |  min(val) AS min_val, max(val) AS max_val
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    // q147's score chain + integer leave-one-out means (all values
    // non-negative, so // and truncating div agree)
    "q169_source_jackknife" ->
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |b AS (SELECT doc_id,
        |    len(toks)::BIGINT AS n_tokens, length(text)::BIGINT AS n_chars,
        |    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS punct_chars,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','is')))::BIGINT AS h_en,
        |    len(list_distinct(toks))::BIGINT AS n_uniq
        |  FROM t),
        |f AS (SELECT doc_id,
        |    round(h_en::DOUBLE / greatest(n_tokens, 1), 4) AS stop_r,
        |    round(punct_chars::DOUBLE / greatest(n_chars, 1), 4) AS punct_r,
        |    round(n_uniq::DOUBLE / greatest(n_tokens, 1), 4) AS uniq_r,
        |    least(n_chars, 2000)::DOUBLE / 2000.0 AS len_norm
        |  FROM b),
        |z AS (SELECT doc_id,
        |    -2.0 + 6.0 * stop_r + -8.0 * punct_r + 3.0 * uniq_r + 2.0 * len_norm AS z
        |  FROM f),
        |sc AS (SELECT d.source, round(1.0 / (1.0 + exp(-z)) * 1000000.0)::BIGINT AS v
        |  FROM z JOIN documents d USING (doc_id)),
        |g AS (SELECT source, count(*)::BIGINT AS n, sum(v)::BIGINT AS s
        |  FROM sc GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS tn, sum(s)::BIGINT AS ts FROM g)
        |SELECT source, n,
        |  ((ts - s) // (tn - n))::BIGINT AS loo_mean,
        |  ((ts - s) // (tn - n) - ts // tn)::BIGINT AS dev_from_full
        |FROM g, tot ORDER BY 1""".stripMargin,

    // identical 2-char-prefix blocks and length band; the engine's
    // native expression must match jaro_winkler_similarity to the micro
    "q140_jw_linkage" ->
      """WITH v0 AS (SELECT DISTINCT w FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS w
        |    FROM documents)
        |  WHERE length(w) BETWEEN 4 AND 12 AND regexp_matches(w, '^[a-z]+$')),
        |v AS (SELECT w FROM v0 UNION
        |      SELECT substr(w, 1, length(w)-2) || substr(w, length(w), 1)
        |          || substr(w, length(w)-1, 1) FROM v0),
        |cand AS (SELECT a.w AS w1, b.w AS w2
        |  FROM v a JOIN v b ON substr(a.w, 1, 2) = substr(b.w, 1, 2)
        |    AND a.w < b.w AND abs(length(a.w) - length(b.w)) <= 2)
        |SELECT w1, w2,
        |  round(jaro_winkler_similarity(w1, w2) * 1000000.0)::BIGINT AS jw_micro
        |FROM cand
        |WHERE round(jaro_winkler_similarity(w1, w2) * 1000000.0)::BIGINT >= 900000
        |ORDER BY w1, w2""".stripMargin,

    // same per-category fixed-point contract: one nano-rounded term per
    // token, exact integer sum — the order-independent JSD
    "q141_jsd_drift" ->
      """WITH tok AS (SELECT lang,
        |    unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS token
        |  FROM documents),
        |sided AS (SELECT token,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS b
        |  FROM tok WHERE lang IN ('en', 'es') AND token IS NOT NULL),
        |pc AS (SELECT token, sum(a)::BIGINT AS ca, sum(b)::BIGINT AS cb
        |  FROM sided GROUP BY 1),
        |t AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b FROM pc),
        |terms AS (SELECT n_a, n_b, round((
        |    (CASE WHEN ca > 0 THEN (ca::DOUBLE / n_a::DOUBLE)
        |       * ln(2.0 * (ca::DOUBLE / n_a::DOUBLE)
        |            / ((ca::DOUBLE / n_a::DOUBLE) + (cb::DOUBLE / n_b::DOUBLE)))
        |     ELSE 0.0 END)
        |    + (CASE WHEN cb > 0 THEN (cb::DOUBLE / n_b::DOUBLE)
        |       * ln(2.0 * (cb::DOUBLE / n_b::DOUBLE)
        |            / ((ca::DOUBLE / n_a::DOUBLE) + (cb::DOUBLE / n_b::DOUBLE)))
        |     ELSE 0.0 END)) * 0.5 * 1000000000.0)::BIGINT AS nano
        |  FROM pc, t)
        |SELECT n_a, n_b, count(*)::BIGINT AS n_categories,
        |  sum(nano)::BIGINT AS jsd_nano
        |FROM terms GROUP BY 1, 2""".stripMargin,

    // brute contiguous-window scan of every token array — independent of
    // the engine's alignment-join plan
    "q142_phrase_search" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(lower(text), '[ \t\n\r\f]+') AS t
        |  FROM documents)
        |SELECT doc_id, count(*)::BIGINT AS n_occurrences
        |FROM tok, LATERAL unnest(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
        |WHERE t[i] = 'big' AND t[i+1] = 'order'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact cross-pair containment over the same distinct-3-shingle
    // space, both directions
    "q143_containment_dup" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        |       FROM tok, LATERAL unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT d1 AS contained_id, d2 AS container_id,
        |  round(i::DOUBLE / c.n, 4) AS containment
        |FROM inter JOIN cnt c ON c.doc_id = d1
        |WHERE i::DOUBLE / c.n >= 0.9
        |ORDER BY contained_id, container_id""".stripMargin,

    // same two-stage exact-percentile MAD with the identical folded cut
    "q144_mad_outliers" ->
      """WITH e AS (SELECT event_type AS g, value AS v FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value) AND event_type IS NOT NULL),
        |m1 AS (SELECT g, quantile_cont(v, 0.5) AS med FROM e GROUP BY 1),
        |ad AS (SELECT e.g, abs(v - med) AS adv FROM e JOIN m1 USING (g)),
        |m2 AS (SELECT g, count(*)::BIGINT AS n, quantile_cont(adv, 0.5) AS mad
        |  FROM ad GROUP BY 1),
        |o AS (SELECT a.g,
        |    sum(CASE WHEN adv > (3.0 * 1.4826) * mad THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |  FROM ad a JOIN m2 USING (g) GROUP BY 1)
        |SELECT m2.g AS event_type, m2.n, round(m1.med, 4) AS med,
        |  round(m2.mad, 4) AS mad, o.n_outliers
        |FROM m2 JOIN m1 USING (g) JOIN o USING (g) ORDER BY 1""".stripMargin,

    // digit from the integer-cents decimal string; law constants from
    // the same round(log10(1+1/d)·1e6)
    "q145_benford" ->
      """WITH cents AS (SELECT round(o_totalprice * 100)::BIGINT AS c FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
        |obs AS (SELECT left(c::VARCHAR, 1)::BIGINT AS digit, count(*)::BIGINT AS n_obs
        |  FROM cents GROUP BY 1),
        |law AS (SELECT d::BIGINT AS digit,
        |    round(log10(1.0 + 1.0 / d) * 1000000.0)::BIGINT AS benford_ppm
        |  FROM generate_series(1, 9) AS g(d)),
        |t AS (SELECT sum(n_obs)::BIGINT AS n FROM obs),
        |j AS (SELECT l.digit, coalesce(o.n_obs, 0)::BIGINT AS n_obs, l.benford_ppm,
        |    round(coalesce(o.n_obs, 0)::DOUBLE * 1000000.0 / t.n::DOUBLE)::BIGINT AS obs_ppm
        |  FROM law l LEFT JOIN obs o ON l.digit = o.digit CROSS JOIN t)
        |SELECT digit, n_obs, obs_ppm, benford_ppm,
        |  (obs_ppm - benford_ppm)::BIGINT AS dev_ppm
        |FROM j ORDER BY digit""".stripMargin,

    // identical exact binary-power kernel over shifted-day joins; the
    // decimal sums are order-independent so both engines agree bit-wise
    "q146_ewma" ->
      """WITH daily AS (SELECT o_orderdate::DATE AS d, count(*)::BIGINT AS x
        |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
        |off AS (SELECT j, power(2.0, 63 - j)::DECIMAL(20,0) AS w
        |  FROM generate_series(0, 63) AS g(j)),
        |terms AS (SELECT a.d AS anchor, o2.x, f.w, f.j
        |  FROM daily a CROSS JOIN off f
        |  JOIN daily o2 ON o2.d = a.d - (f.j || ' days')::INTERVAL)
        |SELECT strftime(anchor, '%Y-%m-%d') AS day,
        |  sum(CASE WHEN j = 0 THEN x ELSE 0 END)::BIGINT AS x,
        |  round(sum(w * x::DECIMAL(18,0))::DOUBLE / sum(w)::DOUBLE
        |    * 1000000.0)::BIGINT AS ewma_micro
        |FROM terms GROUP BY anchor ORDER BY day""".stripMargin,

    // identical 4dp-rounded features, identical left-associated linear
    // term, one exp, micro rounding
    "q147_quality_logit" ->
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |b AS (SELECT doc_id,
        |    len(toks)::BIGINT AS n_tokens, length(text)::BIGINT AS n_chars,
        |    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS punct_chars,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','is')))::BIGINT AS h_en,
        |    len(list_distinct(toks))::BIGINT AS n_uniq
        |  FROM t),
        |f AS (SELECT doc_id,
        |    round(h_en::DOUBLE / greatest(n_tokens, 1), 4) AS stop_r,
        |    round(punct_chars::DOUBLE / greatest(n_chars, 1), 4) AS punct_r,
        |    round(n_uniq::DOUBLE / greatest(n_tokens, 1), 4) AS uniq_r,
        |    least(n_chars, 2000)::DOUBLE / 2000.0 AS len_norm
        |  FROM b),
        |z AS (SELECT doc_id,
        |    -2.0 + 6.0 * stop_r + -8.0 * punct_r + 3.0 * uniq_r + 2.0 * len_norm AS z
        |  FROM f)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)) * 1000000.0)::BIGINT AS score_micro,
        |  round(1.0 / (1.0 + exp(-z)) * 1000000.0)::BIGINT >= 500000 AS keep
        |FROM z ORDER BY doc_id""".stripMargin,

    // q147's score chain + doubled-rank U statistic in pure integers
    "q160_ranking_auc" ->
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |b AS (SELECT doc_id,
        |    len(toks)::BIGINT AS n_tokens, length(text)::BIGINT AS n_chars,
        |    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS punct_chars,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','is')))::BIGINT AS h_en,
        |    len(list_distinct(toks))::BIGINT AS n_uniq
        |  FROM t),
        |f AS (SELECT doc_id,
        |    round(h_en::DOUBLE / greatest(n_tokens, 1), 4) AS stop_r,
        |    round(punct_chars::DOUBLE / greatest(n_chars, 1), 4) AS punct_r,
        |    round(n_uniq::DOUBLE / greatest(n_tokens, 1), 4) AS uniq_r,
        |    least(n_chars, 2000)::DOUBLE / 2000.0 AS len_norm
        |  FROM b),
        |z AS (SELECT doc_id,
        |    -2.0 + 6.0 * stop_r + -8.0 * punct_r + 3.0 * uniq_r + 2.0 * len_norm AS z
        |  FROM f),
        |sc AS (SELECT doc_id,
        |    round(1.0 / (1.0 + exp(-z)) * 1000000.0)::BIGINT AS score FROM z),
        |l AS (SELECT sc.score, (d.lang = 'en') AS lbl
        |      FROM sc JOIN documents d USING (doc_id)),
        |g AS (SELECT score, count(*)::BIGINT AS c,
        |      (count(*) FILTER (WHERE lbl))::BIGINT AS p FROM l GROUP BY 1),
        |o AS (SELECT c, p, sum(c) OVER (ORDER BY score
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM g),
        |u AS (SELECT sum(p)::BIGINT AS n_pos, sum(c - p)::BIGINT AS n_neg,
        |      sum(p * ((cum - c + 1) * 2 + c - 1))::BIGINT AS r2 FROM o)
        |SELECT n_pos, n_neg, (r2 - n_pos * (n_pos + 1))::BIGINT AS u2,
        |  ((r2 - n_pos * (n_pos + 1)) * 1000000) // (2 * n_pos * n_neg) AS auc_micro
        |FROM u""".stripMargin,

    // identical three-division chain over exact counts, micro-rounded
    "q148_collocations" ->
      """WITH t AS (SELECT string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |uni AS (SELECT w, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
        |bgl AS (SELECT toks[i] || ' ' || toks[i+1] AS bigram FROM t,
        |  LATERAL unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS g(i)),
        |bg AS (SELECT bigram, count(*)::BIGINT AS n_xy FROM bgl GROUP BY 1),
        |sc AS (SELECT (SELECT sum(c) FROM uni)::BIGINT AS nuni,
        |              (SELECT sum(n_xy) FROM bg)::BIGINT AS nbi),
        |j AS (SELECT string_split(bigram, ' ')[1] AS w1,
        |             string_split(bigram, ' ')[2] AS w2, n_xy
        |  FROM bg WHERE n_xy >= 5)
        |SELECT w1, w2, n_xy,
        |  round((n_xy::DOUBLE / nbi::DOUBLE) / (cx.c::DOUBLE / nuni::DOUBLE)
        |    / (cy.c::DOUBLE / nuni::DOUBLE) * 1000000.0)::BIGINT AS score_micro
        |FROM j JOIN uni cx ON cx.w = j.w1 JOIN uni cy ON cy.w = j.w2 CROSS JOIN sc
        |ORDER BY score_micro DESC, w1, w2 LIMIT 20""".stripMargin,

    // identical half-count-smoothed per-bin terms, nano fixed-point sum
    "q149_psi_drift" ->
      """WITH e AS (SELECT floor(value / 100.0)::BIGINT AS bin,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
        |  FROM events WHERE event_type IN ('click', 'view')
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |pb AS (SELECT bin, sum(a)::BIGINT AS ca, sum(b)::BIGINT AS cb FROM e GROUP BY 1),
        |t AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
        |    count(*)::BIGINT AS n_bins FROM pb),
        |terms AS (SELECT n_a, n_b, n_bins,
        |    round(((ca::DOUBLE + 0.5) / (n_a::DOUBLE + 0.5 * n_bins::DOUBLE)
        |         - (cb::DOUBLE + 0.5) / (n_b::DOUBLE + 0.5 * n_bins::DOUBLE))
        |      * ln(((ca::DOUBLE + 0.5) / (n_a::DOUBLE + 0.5 * n_bins::DOUBLE))
        |         / ((cb::DOUBLE + 0.5) / (n_b::DOUBLE + 0.5 * n_bins::DOUBLE)))
        |      * 1000000000.0)::BIGINT AS nano
        |  FROM pb, t)
        |SELECT n_a, n_b, n_bins, sum(nano)::BIGINT AS psi_nano
        |FROM terms GROUP BY 1, 2, 3""".stripMargin,

    // identical integer tick test over the identical prefix layout —
    // the sample is a pure function of (ids, weights, n)
    "q136_pps_sample" ->
      """WITH w AS (SELECT doc_id, n_chars::BIGINT AS wt FROM documents),
        |p AS (SELECT doc_id, wt,
        |        sum(wt) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM w),
        |prm AS (SELECT sum(wt) // 100 AS step, (sum(wt) // 100) // 2 AS off FROM w)
        |SELECT doc_id AS id, wt AS w, copies::BIGINT AS copies FROM (
        |  SELECT doc_id, wt,
        |    least(100, greatest(0,
        |      CASE WHEN c - off >= 0 THEN (c - off) // step + 1 ELSE 0 END))
        |    - least(100, greatest(0,
        |      CASE WHEN c - wt - off >= 0 THEN (c - wt - off) // step + 1 ELSE 0 END))
        |      AS copies
        |  FROM p, prm)
        |WHERE copies >= 1 ORDER BY 1""".stripMargin,

    // threshold, residual distribution, and capped flags replayed in
    // integer arithmetic; Σ alloc must equal the 60% budget exactly
    "q137_budget_waterfill" ->
      """WITH s AS (SELECT source AS key, sum(n_chars)::BIGINT AS cnt FROM documents GROUP BY 1),
        |g AS (SELECT count(*)::BIGINT AS nsrc, sum(cnt)::BIGINT AS tot,
        |        (sum(cnt) * 6) // 10 AS budget FROM s),
        |o AS (SELECT key, cnt,
        |        row_number() OVER (ORDER BY cnt, key)::BIGINT AS i,
        |        sum(cnt) OVER (ORDER BY cnt, key
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p FROM s),
        |f AS (SELECT min(i) AS istar, min(p - cnt) AS pbelow FROM o, g
        |      WHERE p - cnt + cnt * (g.nsrc - i + 1) > g.budget)
        |SELECT key AS source, cnt,
        |  (CASE WHEN f.istar IS NULL OR o.i < f.istar THEN cnt
        |       ELSE (g.budget - f.pbelow) // (g.nsrc - f.istar + 1)
        |            + CASE WHEN o.i < f.istar +
        |                ((g.budget - f.pbelow) % (g.nsrc - f.istar + 1))
        |              THEN 1 ELSE 0 END
        |  END)::BIGINT AS alloc,
        |  (f.istar IS NOT NULL AND o.i >= f.istar) AS capped
        |FROM o, g, f ORDER BY 1""".stripMargin,

    // ladder replay: level-i counts run over the records still
    // unreleased after level i-1, exactly the operator's local-recoding
    // semantics; coarsest-level under-k groups emit as suppressed
    "q134_k_anonymity" ->
      """WITH src AS (SELECT c_nationkey::BIGINT::VARCHAR AS nation,
        |    c_mktsegment AS segment,
        |    floor(c_acctbal / 500)::BIGINT::VARCHAR AS bal_bucket FROM customer),
        |l0 AS (SELECT nation, segment, bal_bucket, count(*)::BIGINT AS cnt
        |       FROM src GROUP BY 1, 2, 3),
        |esc0 AS (SELECT s.nation, s.segment FROM src s
        |         JOIN (SELECT * FROM l0 WHERE cnt < 8) u
        |         USING (nation, segment, bal_bucket)),
        |l1 AS (SELECT nation, segment, count(*)::BIGINT AS cnt
        |       FROM esc0 GROUP BY 1, 2),
        |esc1 AS (SELECT e.nation FROM esc0 e
        |         JOIN (SELECT nation, segment FROM l1 WHERE cnt < 8) u
        |         USING (nation, segment)),
        |l2 AS (SELECT nation, count(*)::BIGINT AS cnt FROM esc1 GROUP BY 1)
        |SELECT nation, segment, bal_bucket, 0 AS level, cnt, false AS suppressed
        |  FROM l0 WHERE cnt >= 8
        |UNION ALL
        |SELECT nation, segment, '*', 1, cnt, false FROM l1 WHERE cnt >= 8
        |UNION ALL
        |SELECT nation, '*', '*', 2, cnt, cnt < 8 FROM l2
        |ORDER BY level, nation, segment, bal_bucket""".stripMargin,

    "q123_fk_coverage" ->
      """WITH dk AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey IS NOT NULL),
        |j AS (SELECT e.user_id, dk.k FROM events e LEFT JOIN dk ON e.user_id = dk.k)
        |SELECT count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_matched,
        |  sum(CASE WHEN user_id IS NOT NULL AND k IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing,
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
        |  CASE WHEN count(*) = 0 THEN 0.0
        |       ELSE sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE
        |  END AS coverage
        |FROM j""".stripMargin,

    "q92_repetition_quality" ->
      """WITH l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
        |lc AS (SELECT doc_id, line, count(*)::BIGINT AS cnt, length(line)::BIGINT AS len
        |  FROM l GROUP BY 1, 2),
        |la AS (SELECT doc_id,
        |    sum(cnt)::BIGINT AS n_lines,
        |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_lines,
        |    sum(len * cnt)::BIGINT AS line_chars,
        |    sum(CASE WHEN cnt > 1 THEN len * cnt ELSE 0 END)::BIGINT AS dup_line_chars
        |  FROM lc GROUP BY 1),
        |tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      g -> toks[g] || ' ' || toks[g + 1])) AS bigram
        |  FROM tok WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, bigram, count(*)::BIGINT AS cnt FROM bg GROUP BY 1, 2),
        |ba AS (SELECT doc_id, max(cnt)::BIGINT AS top_cnt, sum(cnt)::BIGINT AS n_bigrams
        |  FROM bc GROUP BY 1)
        |SELECT la.doc_id, la.n_lines,
        |  round(la.dup_lines::DOUBLE / la.n_lines, 4) AS dup_line_fraction,
        |  round(la.dup_line_chars::DOUBLE / greatest(la.line_chars, 1), 4)
        |    AS dup_line_char_fraction,
        |  round(coalesce(ba.top_cnt::DOUBLE / ba.n_bigrams, 0), 4) AS top_bigram_fraction
        |FROM la LEFT JOIN ba USING (doc_id) ORDER BY la.doc_id""".stripMargin,

    "q91_doc_chunks" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks
        |  FROM documents),
        |st AS (SELECT doc_id, toks,
        |    unnest(generate_series(0, greatest(len(toks) - 1, 0), 40)) AS start
        |  FROM tok),
        |c AS (SELECT doc_id, (start // 40)::BIGINT AS chunk_id,
        |    toks[start + 1 : start + 50] AS chunk FROM st)
        |SELECT doc_id, chunk_id, len(chunk)::BIGINT AS n_tokens,
        |  array_to_string(chunk, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q90_sequence_assembly" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
        |  FROM events WHERE user_id < 60)
        |SELECT user_id, count(*)::BIGINT AS n_events,
        |  string_agg(event_type, ',' ORDER BY us, event_id) AS sequence,
        |  first(event_type ORDER BY us, event_id) AS first_type
        |FROM e GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q89_calendar_fill" ->
      """WITH o AS (SELECT o_orderdate::DATE AS d FROM orders),
        |m AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
        |cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM m),
        |c AS (SELECT d, count(*)::BIGINT AS n FROM o GROUP BY 1)
        |SELECT strftime(cal.d, '%Y-%m-%d') AS day, coalesce(c.n, 0)::BIGINT AS n
        |FROM cal LEFT JOIN c USING (d) ORDER BY day""".stripMargin,

    // the doubled staged payload collapses to one row per event_id
    "q88_stream_upsert" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(round(value * 10000)::BIGINT)::BIGINT / 10000.0 AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the final table must hold every customer exactly once — a doubled
    // batch-1 (manifest failure) or a dropped batch-2 both break this
    "q83_incremental_ingest" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n,
        |  sum(round(c_acctbal * 100)::BIGINT)::BIGINT / 100.0 AS sum_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "q84_views_sql" ->
      """WITH counts AS (
        |  SELECT l_partkey AS track_id, count(*) AS play_count
        |  FROM lineitem, (SELECT max(l_shipdate) AS mx FROM lineitem)
        |  WHERE l_shipdate >= mx - INTERVAL 30 DAY GROUP BY 1),
        |trend AS (SELECT c.track_id, c.play_count
        |  FROM counts c JOIN part p ON p.p_partkey = c.track_id),
        |plt AS (SELECT DISTINCT l_orderkey AS playlist_id, l_partkey AS track_id
        |  FROM lineitem),
        |-- one row per DISTINCT pair (the similarity table's grain), not
        |-- one per shared playlist
        |sim AS (SELECT a.track_id AS t1, count(DISTINCT b.track_id) AS n_sim
        |  FROM plt a JOIN plt b ON a.playlist_id = b.playlist_id AND a.track_id < b.track_id
        |  GROUP BY 1)
        |SELECT t.track_id, t.play_count, coalesce(s.n_sim, 0)::BIGINT AS n_sim
        |FROM trend t LEFT JOIN sim s ON s.t1 = t.track_id
        |ORDER BY t.play_count DESC, t.track_id LIMIT 20""".stripMargin,

    // id-ordered 3-way self-join triangle count — equals the engine's
    // degree-oriented count (both count each triangle exactly once)
    "q78_triangles" ->
      """WITH cand AS (SELECT c_custkey AS s, c_nationkey AS nk,
        |    unnest([c_custkey - 2, c_custkey - 1, c_custkey + 1, c_custkey + 2]) AS d
        |  FROM customer),
        |e AS (SELECT cand.s, cand.d FROM cand
        |  JOIN customer c2 ON c2.c_nationkey = cand.nk AND c2.c_custkey = cand.d),
        |ue AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM e WHERE s <> d)
        |SELECT count(*)::BIGINT AS n_triangles
        |FROM ue e1 JOIN ue e2 ON e2.a = e1.a AND e2.b > e1.b
        |           JOIN ue e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin,

    "q79_editdist_pairs" ->
      """WITH v0 AS (SELECT DISTINCT w FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS w
        |    FROM documents)
        |  WHERE length(w) BETWEEN 4 AND 12),
        |v AS (SELECT w FROM v0 UNION SELECT w || 'x' FROM v0)
        |SELECT a.w AS w1, b.w AS w2, levenshtein(a.w, b.w)::BIGINT AS dist
        |FROM v a JOIN v b ON a.w < b.w
        |  AND abs(length(a.w) - length(b.w)) <= 1
        |WHERE levenshtein(a.w, b.w) <= 1
        |ORDER BY w1, w2""".stripMargin,

    "q80_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |s0 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s0 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.us > s0.t GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.us > s1.t GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 0::BIGINT AS stage_idx, 'view' AS stage,
        |    (SELECT count(*) FROM s0)::BIGINT AS n_users
        |  UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        |  UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2))
        |ORDER BY stage_idx""".stripMargin,

    "q81_retention" ->
      """WITH e AS (SELECT user_id, (epoch_ns(ts) // 1000) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  count(DISTINCT e.user_id)::BIGINT AS n_users
        |FROM e JOIN c USING (user_id)
        |WHERE day - cohort_day <= 7
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,

    // exact integer moment sums, one double cast per sum, identical
    // formula text — see the q77 query comment
    "q77_stats_family" ->
      """WITH b AS (SELECT l_returnflag,
        |    round(l_quantity * 100)::BIGINT AS x,
        |    round(l_extendedprice * 100)::BIGINT AS y FROM lineitem),
        |a AS (SELECT l_returnflag, count(*)::BIGINT AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM b GROUP BY 1),
        |d AS (SELECT l_returnflag, n, n::DOUBLE AS nd,
        |    sx::DOUBLE AS sxd, sy::DOUBLE AS syd, sxx::DOUBLE AS sxxd,
        |    syy::DOUBLE AS syyd, sxy::DOUBLE AS sxyd FROM a)
        |SELECT l_returnflag, n,
        |  sxd / nd AS mean_x,
        |  (nd * sxxd - sxd * sxd) / (nd * (nd - 1)) AS var_x,
        |  sqrt((nd * sxxd - sxd * sxd) / (nd * (nd - 1))) AS std_x,
        |  (nd * sxyd - sxd * syd) / (nd * (nd - 1)) AS covar_xy,
        |  (nd * sxyd - sxd * syd) / sqrt((nd * sxxd - sxd * sxd)
        |    * (nd * syyd - syd * syd)) AS corr_xy
        |FROM d ORDER BY l_returnflag""".stripMargin,

    // same 10-token segmentation (zipped unnest), keep-first by
    // (doc_id, idx) per block content, rebuild via ordered string_agg
    "q151_block_dedup" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |blk AS (SELECT doc_id, i AS idx,
        |    array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS block
        |  FROM tok, LATERAL unnest(generate_series(0, (len(toks)-1)//10)) AS g(i)),
        |keep AS (SELECT doc_id, idx FROM (
        |    SELECT doc_id, idx,
        |      row_number() OVER (PARTITION BY block ORDER BY doc_id, idx) AS rn
        |    FROM blk) WHERE rn = 1)
        |SELECT b.doc_id,
        |  count(*)::BIGINT AS n_blocks,
        |  count(k.idx)::BIGINT AS n_kept,
        |  coalesce(string_agg(b.block, ' ' ORDER BY b.idx)
        |    FILTER (WHERE k.idx IS NOT NULL), '') AS text_deduped
        |FROM blk b LEFT JOIN keep k ON k.doc_id = b.doc_id AND k.idx = b.idx
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // declared k-th-smallest semantics replayed directly: k in integer
    // basis points (ceil via div), element picked by row_number
    "q152_exact_quantiles" ->
      """WITH v AS (SELECT l_extendedprice::DOUBLE AS val FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice::DOUBLE)),
        |n AS (SELECT count(*)::BIGINT AS n FROM v),
        |r AS (SELECT val, row_number() OVER (ORDER BY val) AS rn FROM v),
        |qs(q_bp) AS (VALUES (100), (2500), (5000), (7500), (9900))
        |SELECT q_bp::INTEGER AS q_bp, n.n, r.val AS value
        |FROM qs, n JOIN r ON r.rn = (q_bp * n.n + 9999) // 10000
        |ORDER BY 1""".stripMargin,

    // the corruption rule replayed: event_id % 7 == 0 lines are mangled
    // at staging, everything else lands clean
    "q166_ingest_quarantine" ->
      """SELECT (count(*) FILTER (WHERE event_id % 7 <> 0))::BIGINT AS n_clean,
        |  (count(*) FILTER (WHERE event_id % 7 = 0))::BIGINT AS n_quarantined,
        |  (sum(round(value * 100)::BIGINT) FILTER (WHERE event_id % 7 <> 0))::BIGINT AS clean_cents,
        |  true AS accounted
        |FROM events""".stripMargin,

    // one staged batch → one row per (user, category): final running
    // totals, cents HALF_UP
    "q165_category_profile" ->
      """SELECT user_id, event_type, count(*)::BIGINT AS n,
        |  sum(round(value * 100)::BIGINT)::BIGINT AS cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // one staged batch → one digest per user: trailing-3 by
    // (ts desc, event_id desc), sum in integer ten-thousandths
    "q163_trailing_digest" ->
      """WITH e AS (SELECT event_id, user_id, value, epoch_ns(ts) // 1000 AS us FROM events),
        |r AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, count(*)::INTEGER AS n_trail,
        |  max(CASE WHEN rn = 1 THEN event_id END)::BIGINT AS last_event_id,
        |  sum(round(value * 10000)::BIGINT)::BIGINT AS trail_cents
        |FROM r WHERE rn <= 3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-group rank formula, PARTITION BY group
    "q161_grouped_quantiles" ->
      """WITH v AS (SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS val FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice::DOUBLE)),
        |n AS (SELECT g, count(*)::BIGINT AS n FROM v GROUP BY 1),
        |r AS (SELECT g, val, row_number() OVER (PARTITION BY g ORDER BY val) AS rn FROM v),
        |qs(q_bp) AS (VALUES (100), (5000), (9900))
        |SELECT n.g AS l_returnflag, q_bp::INTEGER AS q_bp, n.n, r.val AS value
        |FROM qs, n JOIN r ON r.g = n.g AND r.rn = (q_bp * n.n + 9999) // 10000
        |ORDER BY 1, 2""".stripMargin,

    // p1/p99 via the same rank rule, clip replayed with cent-exact sum
    "q162_winsorized_stats" ->
      """WITH v AS (SELECT o_totalprice::DOUBLE AS val FROM orders
        |  WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice::DOUBLE)),
        |n AS (SELECT count(*)::BIGINT AS n FROM v),
        |r AS (SELECT val, row_number() OVER (ORDER BY val) AS rn FROM v),
        |b AS (SELECT lo.val AS lo, hi.val AS hi FROM
        |    (SELECT val FROM r, n WHERE rn = (100 * n.n + 9999) // 10000) lo,
        |    (SELECT val FROM r, n WHERE rn = (9900 * n.n + 9999) // 10000) hi)
        |SELECT n.n, b.lo AS lo_value, b.hi AS hi_value,
        |  sum(CASE WHEN v.val < b.lo THEN 1 ELSE 0 END)::BIGINT AS n_clipped_lo,
        |  sum(CASE WHEN v.val > b.hi THEN 1 ELSE 0 END)::BIGINT AS n_clipped_hi,
        |  sum(round(least(greatest(v.val, b.lo), b.hi) * 100)::BIGINT)::BIGINT AS clipped_sum_cents
        |FROM v, b, n GROUP BY n.n, b.lo, b.hi""".stripMargin,

    // boundaries replayed via the same integer order-statistic rule;
    // shard = count of boundaries strictly below the key; file counts
    // exact ceil per the one-task-per-shard write contract
    "q153_range_shards" ->
      """WITH v AS (SELECT o_orderkey::DOUBLE AS k FROM orders),
        |n AS (SELECT count(*)::BIGINT AS n FROM v),
        |r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM v),
        |qs(q_bp) AS (VALUES (1250), (2500), (3750), (5000), (6250), (7500), (8750)),
        |bnd AS (SELECT r.k AS b FROM qs, n JOIN r ON r.rn = (q_bp * n.n + 9999) // 10000),
        |a AS (SELECT k, (SELECT count(*) FROM bnd WHERE b < k)::BIGINT AS shard_id FROM v),
        |g AS (SELECT shard_id, count(*)::BIGINT AS n_rows,
        |    count(DISTINCT k)::BIGINT AS n_keys,
        |    min(k)::BIGINT AS min_key, max(k)::BIGINT AS max_key,
        |    ((count(*) + 499) // 500)::BIGINT AS n_files,
        |    true AS files_capped
        |  FROM a GROUP BY 1)
        |SELECT shard_id, n_rows, n_keys, min_key, max_key, n_files, files_capped,
        |  coalesce(min_key > lag(max_key) OVER (ORDER BY shard_id), true) AS range_disjoint
        |FROM g ORDER BY 1""".stripMargin,

    // same md5 buckets, same add-half smoothing, ONE nano-rounded ln
    // per bucket, exact integer sums per doc then per language
    "q158_importance_weights" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS tok
        |  FROM documents),
        |tk AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096 AS bk FROM tok),
        |cs AS (SELECT bk, count(*)::BIGINT AS c_s FROM tk GROUP BY 1),
        |ct AS (SELECT bk, count(*)::BIGINT AS c_t FROM tk WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS ns,
        |    (count(*) FILTER (WHERE lang = 'en'))::BIGINT AS nt FROM tk),
        |w AS (SELECT cs.bk,
        |    round(ln(((coalesce(ct.c_t, 0) + 0.5) / (nt + 2048.0)) /
        |             ((cs.c_s + 0.5) / (ns + 2048.0))) * 1000000000.0)::BIGINT AS nano
        |  FROM cs LEFT JOIN ct USING (bk), tot),
        |d AS (SELECT t.doc_id, t.lang, count(*)::BIGINT AS n_toks,
        |    sum(w.nano)::BIGINT AS imp
        |  FROM tk t JOIN w USING (bk) GROUP BY 1, 2)
        |SELECT lang, count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS n_toks,
        |  sum(imp)::BIGINT AS imp_nano
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // q38's recursive-component core, extended: singletons cluster to
    // themselves, weight = 1e6 // cluster_size in integer arithmetic
    "q157_soft_dedup" ->
      """WITH RECURSIVE tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        |       FROM tok, LATERAL unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM inter
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.4),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
        |cl AS (SELECT n.doc_id, least(n.doc_id, min(r.b)) AS cluster_id
        |       FROM nodes n JOIN reach r ON r.a = n.doc_id GROUP BY n.doc_id),
        |alldocs AS (SELECT d.doc_id, d.source,
        |    coalesce(cl.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cl USING (doc_id)),
        |sz AS (SELECT cluster_id, count(*)::BIGINT AS csize FROM alldocs GROUP BY 1)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  count(DISTINCT a.cluster_id)::BIGINT AS n_clusters,
        |  sum(1000000 // sz.csize)::BIGINT AS eff_micro
        |FROM alldocs a JOIN sz USING (cluster_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // zipped unnest for (pos, token), list slices clamped at the edges
    "q156_kwic" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |p AS (SELECT doc_id, toks, unnest(toks) AS token,
        |    unnest(generate_series(1, len(toks))) AS pos1 FROM tok)
        |SELECT doc_id, (pos1 - 1)::BIGINT AS pos,
        |  coalesce(array_to_string(toks[greatest(pos1 - 3, 1):(pos1 - 1)], ' '), '') AS left_ctx,
        |  coalesce(array_to_string(toks[(pos1 + 1):(pos1 + 3)], ' '), '') AS right_ctx
        |FROM p WHERE token = 'vector' ORDER BY doc_id, pos""".stripMargin,

    // k-center rounds unrolled (the bpeOracle discipline): per round the
    // min-distance via the identical (sq − 2·dot) + csq float sequence,
    // pick by (md DESC, vec_id), NOT EXISTS excludes already-selected
    "q155_kcenter_coreset" -> kcenterOracle(6),

    // exact heavy set replayed (> n/16 in integer arithmetic); the two
    // sketch booleans are HARD guarantees, pinned literally true
    "q154_heavy_hitters" ->
      """WITH it AS (SELECT 1000 // (event_id % 1000 + 1) AS item FROM events),
        |n AS (SELECT count(*)::BIGINT AS n FROM it),
        |c AS (SELECT item::BIGINT AS item, count(*)::BIGINT AS true_count
        |      FROM it GROUP BY 1)
        |SELECT item, true_count, true AS in_sketch, true AS est_within_band
        |FROM c, n WHERE true_count * 16 > n.n ORDER BY 1""".stripMargin,

    // both version snapshots recomputed straight from orders (v1 = the
    // overwrite slice, v2 = v1 + the appended slice) with the same
    // injective length-prefixed digest; the certification boolean is
    // asserted TRUE against Spark's computed comparison
    "q210_time_travel" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |enc AS (SELECT k % 3 AS m, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM o WHERE k % 3 IN (0, 1)),
        |v AS (SELECT 1 AS version UNION ALL SELECT 2)
        |SELECT v.version::BIGINT AS version,
        |  count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp,
        |  true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents
        |FROM v JOIN enc ON (v.version = 1 AND enc.m = 0) OR v.version = 2
        |GROUP BY v.version ORDER BY version""".stripMargin,

    // the union both concurrent writers must produce, per writer; the
    // protocol invariants (3 gapless commits, head digest = replay) are
    // Spark-computed booleans pinned TRUE
    "q211_concurrent_commit" ->
      """WITH o AS (SELECT round(o_totalprice * 100)::BIGINT AS cents,
        |    CASE WHEN o_orderkey % 4 = 0 THEN 'seed'
        |         WHEN o_orderkey % 4 = 1 THEN 'w1' ELSE 'w2' END AS writer
        |  FROM orders WHERE o_orderkey % 4 IN (0, 1, 2))
        |SELECT writer, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum,
        |  3::BIGINT AS n_commits, true AS head_matches_archived
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    // the q35 centroid training + q135 codebook training replayed (same
    // fixed-point grids), then ADC restricted to each query's 4 probed
    // cells — exactly what serving from the stored index computes
    "q212_ann_serving" -> annServingOracle("TRUE"),

    // identical replay except training/codebooks see only the BUILD
    // half — appended vectors are encoded by the stored tables, which
    // is exactly what the oracle's all-vector encode against
    // half-trained codebooks computes
    "q215_ann_index_append" -> annServingOracle("vec_id % 2 = 0"),

    // v1 = the overwrite slice; v2 = v1 with matched keys replaced
    // (+100 cents) plus the inserted slice — recomputed straight from
    // orders with the injective digest; certification asserted TRUE
    "q216_cow_upsert" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |v1 AS (SELECT 1 AS version, k, c, cents FROM o WHERE k % 3 = 0),
        |v2 AS (SELECT 2 AS version, k, c, cents FROM o WHERE k % 3 = 0 AND k % 9 <> 0
        |  UNION ALL SELECT 2, k, c, cents + 100 FROM o WHERE k % 9 = 0
        |  UNION ALL SELECT 2, k, c, cents FROM o WHERE k % 3 = 1 AND k % 5 = 0),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
        |enc AS (SELECT version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    // every change row replayed literally: overwrite-from-empty and
    // append emit inserts, the upsert its delete+insert pair per
    // matched key, the delete its victims ((cents+100) % 10 = cents %
    // 10, so the v4 membership is written on the original cents)
    "q218_change_feed" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |ch AS (
        |  SELECT 1 AS version, 'insert' AS change_type, k, c, cents
        |    FROM o WHERE k % 3 = 0
        |  UNION ALL SELECT 2, 'insert', k, c, cents
        |    FROM o WHERE k % 3 = 1 AND k % 7 = 0
        |  UNION ALL SELECT 3, 'delete', k, c, cents FROM o WHERE k % 9 = 0
        |  UNION ALL SELECT 3, 'insert', k, c, cents + 100 FROM o WHERE k % 9 = 0
        |  UNION ALL SELECT 4, 'delete', k, c, cents
        |    FROM o WHERE k % 3 = 0 AND k % 9 <> 0 AND cents % 10 < 2
        |  UNION ALL SELECT 4, 'delete', k, c, cents + 100
        |    FROM o WHERE k % 9 = 0 AND cents % 10 < 2
        |  UNION ALL SELECT 4, 'delete', k, c, cents
        |    FROM o WHERE k % 3 = 1 AND k % 7 = 0 AND cents % 10 < 2),
        |enc AS (SELECT version, change_type, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM ch)
        |SELECT version::BIGINT AS version, change_type,
        |  count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS cents_sum,
        |  sum(h)::BIGINT AS fp
        |FROM enc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // v1 digested under the 2-column schema; v2 under the evolved
    // 3-column schema, where v1's rows carry the 'N' null sentinel in
    // the cents field — the epoch recompute replayed literally
    "q221_schema_evolution" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |e2 AS (SELECT length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR
        |    || chr(1) || length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR AS enc,
        |    k, c, cents FROM o),
        |v1 AS (SELECT 1 AS version, 0::BIGINT AS cents_part,
        |    ('0x' || substr(md5(enc), 1, 8))::BIGINT AS h
        |  FROM e2 WHERE k % 3 = 0),
        |v2 AS (SELECT 2 AS version, 0::BIGINT AS cents_part,
        |    ('0x' || substr(md5(enc || chr(1) || 'N'), 1, 8))::BIGINT AS h
        |  FROM e2 WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT 2, cents,
        |    ('0x' || substr(md5(enc || chr(1)
        |       || length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |       1, 8))::BIGINT
        |  FROM e2 WHERE k % 3 = 1),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents_part)::BIGINT AS sum_cents
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    // 4 band files, the [1.5M, 2.5M] probe overlaps exactly the two
    // middle bands (band populations verified nonempty at every SF);
    // the pruned-vs-full equality is Spark-computed, pinned TRUE
    "q220_stats_skipping" ->
      """SELECT 4::BIGINT AS n_files_total, 2::BIGINT AS n_files_scanned,
        |  count(*)::BIGINT AS n_rows,
        |  coalesce(sum(cents), 0)::BIGINT AS cents_sum,
        |  true AS matches_full_scan
        |FROM (SELECT round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |WHERE cents BETWEEN 1500000 AND 2500000""".stripMargin,

    // exactly-once across total re-delivery: 3 staged files = 3
    // batches = 3 commits, every event exactly once; the certification
    // boolean is Spark-computed against the archived head totals
    "q219_stream_versioned" ->
      """SELECT 3::BIGINT AS n_commits, count(*)::BIGINT AS n_rows,
        |  true AS matches_archived,
        |  sum(round(value * 1e6)::BIGINT)::BIGINT AS value_micro_sum
        |FROM events""".stripMargin,

    // v1/v2 as q210's slices; v3 = v2 minus the deleted predicate —
    // older versions keep the full content
    "q217_cow_delete" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |v1 AS (SELECT 1 AS version, k, c, cents FROM o WHERE k % 3 = 0),
        |v2 AS (SELECT 2 AS version, k, c, cents FROM o WHERE k % 3 IN (0, 1)),
        |v3 AS (SELECT 3 AS version, k, c, cents FROM o
        |       WHERE k % 3 IN (0, 1) AND NOT (cents % 10 < 2)),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3),
        |enc AS (SELECT version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,


    // hive-partitioned versioned table: both versions digested under
    // the 5-field schema (partition values digest like data columns —
    // layout-independent fingerprints); file counts = one file per
    // distinct (yr, mo) per commit (coalesce(1) writers); the prune
    // arithmetic replayed on the partition predicate yr=1997
    "q222_partitioned_versioned" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents,
        |    year(o_orderdate)::BIGINT AS yr, month(o_orderdate)::BIGINT AS mo
        |  FROM orders),
        |u AS (SELECT 1 AS version, k, c, cents, yr, mo FROM o WHERE k % 3 = 0
        |  UNION ALL SELECT 2, k, c, cents, yr, mo FROM o WHERE k % 3 IN (0, 1)),
        |enc AS (SELECT version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR || chr(1) ||
        |      length(yr::VARCHAR)::VARCHAR || ':' || yr::VARCHAR || chr(1) ||
        |      length(mo::VARCHAR)::VARCHAR || ':' || mo::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u),
        |inv AS (SELECT
        |  ((SELECT count(DISTINCT yr * 100 + mo) FROM o WHERE k % 3 = 0)
        |   + (SELECT count(DISTINCT yr * 100 + mo) FROM o WHERE k % 3 = 1))::BIGINT
        |    AS n_files_total,
        |  ((SELECT count(DISTINCT mo) FROM o WHERE k % 3 = 0 AND yr = 1997)
        |   + (SELECT count(DISTINCT mo) FROM o WHERE k % 3 = 1 AND yr = 1997))::BIGINT
        |    AS n_files_kept,
        |  (SELECT count(*) FROM o WHERE k % 3 IN (0, 1) AND yr = 1997)::BIGINT
        |    AS pruned_rows,
        |  (SELECT coalesce(sum(cents), 0) FROM o
        |   WHERE k % 3 IN (0, 1) AND yr = 1997)::BIGINT AS pruned_cents)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents,
        |  n_files_total, n_files_kept, pruned_rows, pruned_cents
        |FROM enc, inv GROUP BY 1, 6, 7, 8, 9 ORDER BY 1""".stripMargin,

    // content identity, time travel, empty CDF and tightened zone maps
    // are Spark-verified booleans (range boundaries come from a
    // sampling partitioner); the band aggregates replay literally
    "q223_optimize_zorder" ->
      """SELECT 4::BIGINT AS n_files_before, true AS content_identical,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 4 = 0)::BIGINT AS v1_rows,
        |  0::BIGINT AS optimize_cdf_rows, true AS zmaps_tightened,
        |  count(*)::BIGINT AS band_rows,
        |  coalesce(sum(cents), 0)::BIGINT AS band_cents
        |FROM (SELECT round(o_totalprice * 100)::BIGINT AS cents,
        |        o_custkey % 64 AS kmod FROM orders)
        |WHERE kmod <= 15""".stripMargin,

    // the q218 change multiset read back FROM THE MIRROR: v1/v2 insert
    // their slices, the upsert pairs delete+insert per matched key, the
    // delete's victims enumerate per population ((cents+100) % 10 =
    // cents % 10); 4 non-empty windows = 4 downstream commits, and the
    // fresh-checkpoint re-delivery is absorbed (Spark-verified)
    "q224_change_feed_stream" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |ch AS (
        |  SELECT 1 AS version, 'insert' AS change_type, k, c, cents
        |    FROM o WHERE k % 3 = 0
        |  UNION ALL SELECT 2, 'insert', k, c, cents
        |    FROM o WHERE k % 3 = 1 AND k % 7 = 0
        |  UNION ALL SELECT 3, 'delete', k, c, cents FROM o WHERE k % 9 = 0
        |  UNION ALL SELECT 3, 'insert', k, c, cents + 100 FROM o WHERE k % 9 = 0
        |  UNION ALL SELECT 4, 'delete', k, c, cents
        |    FROM o WHERE k % 3 = 0 AND k % 9 <> 0 AND cents % 10 < 2
        |  UNION ALL SELECT 4, 'delete', k, c, cents + 100
        |    FROM o WHERE k % 9 = 0 AND cents % 10 < 2
        |  UNION ALL SELECT 4, 'delete', k, c, cents
        |    FROM o WHERE k % 3 = 1 AND k % 7 = 0 AND cents % 10 < 2),
        |enc AS (SELECT version, change_type, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM ch)
        |SELECT version::BIGINT AS version, change_type,
        |  count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS cents_sum,
        |  sum(h)::BIGINT AS fp, 4::BIGINT AS n_down_commits,
        |  true AS redelivery_absorbed
        |FROM enc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the triple: v1 digested 2-field; v1's rows carry the 'N'
    // sentinel from v2 on (the epoch recompute); the banded appends
    // extend the additive rollup through the checkpoint; the probe
    // scans 3 of 4 files (pre-epoch file has no cents stats ->
    // conservative; the low-band file is excluded by its zone map)
    "q225_ckpt_evolve_prune" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |e2 AS (SELECT length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR
        |    || chr(1) || length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR AS enc,
        |    k, c, cents FROM o),
        |vs AS (SELECT unnest([2, 3, 4]) AS v),
        |vs34 AS (SELECT unnest([3, 4]) AS v),
        |mem AS (
        |  SELECT 1 AS version, 0::BIGINT AS cents_part,
        |      ('0x' || substr(md5(enc), 1, 8))::BIGINT AS h
        |    FROM e2 WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT v, 0::BIGINT,
        |      ('0x' || substr(md5(enc || chr(1) || 'N'), 1, 8))::BIGINT
        |    FROM e2, vs WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT v, cents,
        |      ('0x' || substr(md5(enc || chr(1)
        |        || length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |        1, 8))::BIGINT
        |    FROM e2, vs WHERE k % 3 = 1
        |  UNION ALL
        |  SELECT v, cents,
        |      ('0x' || substr(md5(enc || chr(1)
        |        || length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |        1, 8))::BIGINT
        |    FROM e2, vs34 WHERE k % 3 = 2 AND cents < 1000000
        |  UNION ALL
        |  SELECT 4, cents,
        |      ('0x' || substr(md5(enc || chr(1)
        |        || length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |        1, 8))::BIGINT
        |    FROM e2 WHERE k % 3 = 2 AND cents >= 1000000),
        |inv AS (SELECT 4::BIGINT AS n_files_total, 3::BIGINT AS n_files_scanned,
        |  (SELECT count(*) FROM o WHERE k % 3 IN (1, 2)
        |   AND cents BETWEEN 1500000 AND 2500000)::BIGINT AS probe_rows,
        |  (SELECT coalesce(sum(cents), 0) FROM o WHERE k % 3 IN (1, 2)
        |   AND cents BETWEEN 1500000 AND 2500000)::BIGINT AS probe_cents)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents_part)::BIGINT AS sum_cents,
        |  n_files_total, n_files_scanned, probe_rows, probe_cents
        |FROM mem, inv GROUP BY 1, 6, 7, 8, 9 ORDER BY 1""".stripMargin,

    // v1 = the first slice; prev (head-relative -1) = v2, before the
    // upsert touched cents — pure-SQL time travel over the views
    "q226_sql_time_travel" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |u AS (SELECT 'v1' AS snap, c % 10 AS cust_band, cents FROM o WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT 'prev', c % 10, cents FROM o WHERE k % 3 IN (0, 1))
        |SELECT snap, cust_band::BIGINT AS cust_band,
        |  count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS cents_sum
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the order-2 + backoff next-item model replayed literally: the
    // same count tables, the same common-denominator integer numerator
    // N = (c3+1)(c1pre+V) + (c2+1)(c2pre+V), rank by (N desc, item),
    // score = one division of the same two integers
    "q227_next_track" -> nextTrackOracle,

    // the RESTRICTED candidate generation must produce BIT-IDENTICAL
    // output — same oracle, different (U x (observed+k)) plan
    "q247_next_track_restricted" -> nextTrackOracle,

    // v1/v2 the slices, v3 the corrupting upsert, v4 the restore — v4's
    // content is literally v2's, digested under the same 3-field schema
    "q228_restore" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |u AS (
        |  SELECT 1 AS version, k, c, cents FROM o WHERE k % 3 = 0
        |  UNION ALL SELECT 2, k, c, cents FROM o WHERE k % 3 IN (0, 1)
        |  UNION ALL SELECT 3, k, c,
        |      CASE WHEN k % 9 = 0 THEN cents + 100 ELSE cents END
        |    FROM o WHERE k % 3 IN (0, 1)
        |  UNION ALL SELECT 4, k, c, cents FROM o WHERE k % 3 IN (0, 1)),
        |enc AS (SELECT version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    // slice 2's violating append was refused (boolean Spark-verified,
    // head stays at v3 = overwrite + alter + conforming append); the
    // surviving content tallies per slice
    "q229_check_constraint" ->
      """SELECT (o_orderkey % 3)::BIGINT AS slice, count(*)::BIGINT AS n_rows,
        |  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents_sum,
        |  true AS violation_refused, 3::BIGINT AS head_version,
        |  'cents_pos' AS active_constraints
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // horizon = head - retainLast + 1 = 2; only v1's file is dead (v2's
    // overwrite file stays active through v4); below-horizon refusal,
    // retained certification and history survival Spark-verified
    "q230_retention_vacuum" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents_sum,
        |  1::BIGINT AS n_files_deleted, 2::BIGINT AS horizon,
        |  true AS below_horizon_refused, true AS retained_certified,
        |  4::BIGINT AS n_history_rows
        |FROM orders WHERE o_orderkey % 4 IN (1, 2, 3)""".stripMargin,

    // clone head carries the clone-side upsert; source head carries its
    // own later append and NOT the clone's change — full divergence
    "q231_shallow_clone" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT 'clone' AS side, count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN k % 9 = 0 THEN cents + 100 ELSE cents END)::BIGINT
        |    AS cents_sum,
        |  true AS matches_archived
        |FROM o WHERE k % 3 IN (0, 1)
        |UNION ALL
        |SELECT 'source', count(*)::BIGINT, sum(cents)::BIGINT, true FROM o
        |ORDER BY side""".stripMargin,

    // every slice streamed exactly once across the two checkpointed
    // runs (the resume boolean is Spark-verified)
    "q232_versioned_stream_source" ->
      """SELECT (o_orderkey % 4)::BIGINT AS slice, count(*)::BIGINT AS n_rows,
        |  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents_sum,
        |  true AS exactly_once
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // the CDF multiset read back from the STREAM's sink: v1 inserts the
    // slice, v2 pairs the upsert, v3 deletes the victims ((cents+100) %
    // 10 = cents % 10); second run from the same checkpoint adds nothing
    "q233_cdf_stream_source" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |ch AS (
        |  SELECT 1 AS version, 'insert' AS change_type, k, c, cents
        |    FROM o WHERE k % 3 = 0
        |  UNION ALL SELECT 2, 'delete', k, c, cents FROM o WHERE k % 9 = 0
        |  UNION ALL SELECT 2, 'insert', k, c, cents + 100 FROM o WHERE k % 9 = 0
        |  UNION ALL SELECT 3, 'delete', k, c, cents
        |    FROM o WHERE k % 3 = 0 AND k % 9 <> 0 AND cents % 10 < 2
        |  UNION ALL SELECT 3, 'delete', k, c, cents + 100
        |    FROM o WHERE k % 9 = 0 AND cents % 10 < 2),
        |enc AS (SELECT version, change_type, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM ch)
        |SELECT version::BIGINT AS version, change_type,
        |  count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS cents_sum,
        |  sum(h)::BIGINT AS fp, true AS exactly_once
        |FROM enc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // v3 (the scoped optimize) is content-identical to v2; the file
    // accounting is deterministic (coalesce(1) per commit = one file
    // per year per commit -> 2 removed, 1 added for yr=1997)
    "q234_optimize_where" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents,
        |    year(o_orderdate)::BIGINT AS yr FROM orders),
        |u AS (
        |  SELECT 1 AS version, k, c, cents, yr FROM o WHERE k % 3 = 0
        |  UNION ALL SELECT 2, k, c, cents, yr FROM o WHERE k % 3 IN (0, 1)
        |  UNION ALL SELECT 3, k, c, cents, yr FROM o WHERE k % 3 IN (0, 1)),
        |enc AS (SELECT version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR || chr(1) ||
        |      length(yr::VARCHAR)::VARCHAR || ':' || yr::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents, 2::BIGINT AS n_files_removed,
        |  1::BIGINT AS n_files_added, true AS scoped_to_partition
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    // v1 everything; v2 minus cents%10<2; v3 additionally minus k%7=0;
    // v4 (the optimize purge) identical to v3 — digested literally
    "q235_mor_delete" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |u AS (
        |  SELECT 1 AS version, k, c, cents FROM o
        |  UNION ALL SELECT 2, k, c, cents FROM o WHERE NOT (cents % 10 < 2)
        |  UNION ALL SELECT 3, k, c, cents FROM o
        |    WHERE NOT (cents % 10 < 2) AND k % 7 <> 0
        |  UNION ALL SELECT 4, k, c, cents FROM o
        |    WHERE NOT (cents % 10 < 2) AND k % 7 <> 0),
        |enc AS (SELECT version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents, true AS mor_rewrote_nothing
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    // v1 inserts its slices; the MoR upsert deletes the matched keys'
    // old rows (k%9=0, all inside v1) and inserts EVERY update row
    // (bumped matches + the new k%3=2∧k%5=0 keys)
    "q236_mor_upsert" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |ch AS (
        |  SELECT 1 AS version, 'insert' AS change_type, k, c, cents
        |    FROM o WHERE k % 3 <= 1
        |  UNION ALL SELECT 2, 'delete', k, c, cents FROM o WHERE k % 9 = 0
        |  UNION ALL SELECT 2, 'insert', k, c, cents + 100 FROM o WHERE k % 9 = 0
        |  UNION ALL SELECT 2, 'insert', k, c, cents
        |    FROM o WHERE k % 3 = 2 AND k % 5 = 0),
        |enc AS (SELECT version, change_type, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM ch)
        |SELECT version::BIGINT AS version, change_type,
        |  count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS cents_sum,
        |  sum(h)::BIGINT AS fp, true AS rewrote_nothing, true AS certified
        |FROM enc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // v1 the banded slice; v2 the alter (content unchanged); v3 adds the
    // second slice with band computed by the engine — digested literally
    // with DuckDB's // (both operands non-negative, so truncation =
    // floor = Spark div)
    "q237_generated_column" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents,
        |    (round(o_totalprice * 100)::BIGINT // 1000000)::BIGINT AS band
        |  FROM orders),
        |u AS (
        |  SELECT 1 AS version, k, c, cents, band FROM o WHERE k % 3 = 0
        |  UNION ALL SELECT 2, k, c, cents, band FROM o WHERE k % 3 = 0
        |  UNION ALL SELECT 3, k, c, cents, band FROM o WHERE k % 3 <= 1),
        |enc AS (SELECT version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR || chr(1) ||
        |      length(band::VARCHAR)::VARCHAR || ':' || band::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents, true AS violation_refused,
        |  true AS head_unchanged, 1::BIGINT AS n_generated_defs
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    // the sink after the rate-limited drain holds exactly the table
    // (all six slices); batch count / exactly-once / rerun-empty are
    // Spark-verified invariants
    "q238_stream_admission" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT (k % 6)::BIGINT AS slice, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, 3::BIGINT AS n_batches,
        |  true AS exactly_once, true AS second_run_empty
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    // the merge replayed clause by clause: matched F-rows deleted,
    // other matched rows take the source cents, target-only rows get
    // status Z / deletion / passthrough by the cents band, source-only
    // rows insert when even — both versions' content fingerprinted
    "q239_merge_full" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |t AS (SELECT k, status, cents FROM o WHERE k % 3 = 0),
        |s AS (SELECT k, status, cents + 7 AS cents FROM o WHERE k % 2 = 0),
        |matched AS (SELECT t.k, t.status, s.cents
        |  FROM t JOIN s USING (k) WHERE t.status <> 'F'),
        |tgtonly AS (SELECT k,
        |    CASE WHEN cents % 10 < 5 THEN 'Z' ELSE status END AS status, cents
        |  FROM t WHERE k % 2 = 1 AND cents % 10 < 8),
        |srconly AS (SELECT k, status, cents FROM s
        |  WHERE k % 3 <> 0 AND cents % 2 = 0),
        |u AS (SELECT 1 AS version, k, status, cents FROM t
        |  UNION ALL SELECT 2, k, status, cents FROM matched
        |  UNION ALL SELECT 2, k, status, cents FROM tgtonly
        |  UNION ALL SELECT 2, k, status, cents FROM srconly),
        |enc AS (SELECT version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    // five versions replayed value-for-value: the rename leaves the
    // digest untouched (names never enter it), the drop narrows the
    // field list, the re-add epoch digests NULL (the 'N' sentinel) for
    // pre-existing rows and the real value for the new slice
    "q240_column_mapping" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |h3 AS (SELECT k, ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h FROM o),
        |h2 AS (SELECT k, ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h FROM o),
        |h3n AS (SELECT k, ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR || chr(1) ||
        |      CASE WHEN k % 3 = 2
        |        THEN length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR
        |        ELSE 'N' END),
        |      1, 8))::BIGINT AS h FROM o),
        |u AS (
        |  SELECT 1 AS version, 'k,c,cents' AS schema_cols, h
        |    FROM h3 WHERE k % 3 = 0
        |  UNION ALL SELECT 2, 'k,c,amount_cents', h FROM h3 WHERE k % 3 = 0
        |  UNION ALL SELECT 3, 'k,c,amount_cents', h FROM h3 WHERE k % 3 <= 1
        |  UNION ALL SELECT 4, 'k,amount_cents', h FROM h2 WHERE k % 3 <= 1
        |  UNION ALL SELECT 5, 'k,amount_cents,c', h FROM h3n)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS n_rows,
        |  sum(h)::BIGINT AS fp, schema_cols,
        |  true AS matches_archived, true AS rename_metadata_only
        |FROM u GROUP BY version, schema_cols ORDER BY 1""".stripMargin,

    // the attribute-histogram model replayed literally (DemoUser
    // interpolated so query and oracle can never desync)
    "q241_content_recommend" ->
      s"""WITH likes AS (
        |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS track_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |tracks AS (SELECT p_partkey AS track_id, p_brand AS artist,
        |    p_type AS genre FROM part),
        |ul AS (SELECT track_id FROM likes WHERE user_id = $DemoUser),
        |liked AS (SELECT t.* FROM tracks t JOIN ul USING (track_id)),
        |ap AS (SELECT artist, count(*)::BIGINT AS a_cnt FROM liked GROUP BY 1),
        |gp AS (SELECT genre, count(*)::BIGINT AS g_cnt FROM liked GROUP BY 1),
        |sc AS (SELECT t.track_id,
        |    (coalesce(ap.a_cnt, 0) * 2 + coalesce(gp.g_cnt, 0))::BIGINT AS score
        |  FROM tracks t LEFT JOIN ap USING (artist) LEFT JOIN gp USING (genre)),
        |cand AS (SELECT track_id, score FROM sc
        |  WHERE score > 0 AND track_id NOT IN (SELECT track_id FROM ul))
        |SELECT track_id, score FROM cand
        |ORDER BY score DESC, track_id ASC LIMIT 10""".stripMargin,

    // the timestamp-resolved read lands on v2 = slices 0 and 1
    "q242_timestamp_travel" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT (k % 3)::BIGINT AS slice, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, true AS ts_monotonic,
        |  true AS resolves_exact, true AS pre_first_refused
        |FROM o WHERE k % 3 <= 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the head through both features: MoR-deleted rows gone, the
    // renamed column readable — booleans are Spark-verified invariants
    "q243_protocol_features" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT (c % 10)::BIGINT AS cust_band, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, true AS features_stamped,
        |  true AS unknown_refused
        |FROM o WHERE cents % 10 >= 2 GROUP BY 1 ORDER BY 1""".stripMargin,

    // q239's replay minus the BY SOURCE clauses: matched F-rows
    // deleted, other matched rows take the source cents, target-only
    // rows pass through UNTOUCHED, source-only rows insert when even
    "q244_merge_mor" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |t AS (SELECT k, status, cents FROM o WHERE k % 3 = 0),
        |s AS (SELECT k, status, cents + 7 AS cents FROM o WHERE k % 2 = 0),
        |matched AS (SELECT t.k, t.status, s.cents
        |  FROM t JOIN s USING (k) WHERE t.status <> 'F'),
        |tgtonly AS (SELECT k, status, cents FROM t WHERE k % 2 = 1),
        |srconly AS (SELECT k, status, cents FROM s
        |  WHERE k % 3 <> 0 AND cents % 2 = 0),
        |u AS (SELECT 1 AS version, k, status, cents FROM t
        |  UNION ALL SELECT 2, k, status, cents FROM matched
        |  UNION ALL SELECT 2, k, status, cents FROM tgtonly
        |  UNION ALL SELECT 2, k, status, cents FROM srconly),
        |enc AS (SELECT version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents, true AS mor_rewrote_nothing
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    // the head after the age sweep is the v3 overwrite = slice 2
    "q245_vacuum_by_age" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT (c % 10)::BIGINT AS cust_band, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, true AS recent_window_noop,
        |  true AS aged_out_reclaimed, true AS below_horizon_refused
        |FROM o WHERE k % 3 = 2 GROUP BY 1 ORDER BY 1""".stripMargin,

    // both epochs replayed: v1 digests three fields, v2 digests four
    // with NULL band -> the 'N' sentinel for rows the merge never saw
    "q246_merge_evolve" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |t AS (SELECT k, status, cents FROM o WHERE k % 3 = 0),
        |s AS (SELECT k, status, (cents + 7)::BIGINT AS cents,
        |    ((cents + 7) % 5)::BIGINT AS band FROM o WHERE k % 2 = 0),
        |matched AS (SELECT t.k, t.status, s.cents, s.band
        |  FROM t JOIN s USING (k)),
        |tgtonly AS (SELECT k, status, cents, NULL::BIGINT AS band
        |  FROM t WHERE k % 2 = 1),
        |srconly AS (SELECT k, status, cents, band FROM s
        |  WHERE k % 3 <> 0 AND cents % 2 = 0),
        |u2 AS (SELECT * FROM matched UNION ALL SELECT * FROM tgtonly
        |  UNION ALL SELECT * FROM srconly),
        |e1 AS (SELECT cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM t),
        |e2 AS (SELECT cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR || chr(1) ||
        |      CASE WHEN band IS NULL THEN 'N'
        |        ELSE length(band::VARCHAR)::VARCHAR || ':' || band::VARCHAR END),
        |      1, 8))::BIGINT AS h
        |  FROM u2),
        |r AS (SELECT 1 AS version, count(*)::BIGINT AS snapshot_rows,
        |    sum(h)::BIGINT AS snapshot_fp, sum(cents)::BIGINT AS sum_cents
        |  FROM e1
        |  UNION ALL SELECT 2, count(*)::BIGINT, sum(h)::BIGINT,
        |    sum(cents)::BIGINT FROM e2)
        |SELECT version::BIGINT AS version, snapshot_rows, snapshot_fp,
        |  true AS matches_archived, sum_cents,
        |  true AS evolved_head, true AS narrow_history
        |FROM r ORDER BY 1""".stripMargin,

    // the merge's exact change multiset: every matched old row deletes
    // (F-rows die, the rest change cents), non-F matches re-insert
    // with the source cents, even source-only rows insert; v1 is the
    // seed insert — unchanged target-only rows never surface
    "q248_merge_cdf_stream" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |t AS (SELECT k, status, cents FROM o WHERE k % 3 = 0),
        |s AS (SELECT k, status, cents + 7 AS cents FROM o WHERE k % 2 = 0),
        |m AS (SELECT t.k, t.status, t.cents AS oldc, s.cents AS newc
        |  FROM t JOIN s USING (k)),
        |u AS (
        |  SELECT 1 AS version, 'insert' AS change_type, k, status, cents FROM t
        |  UNION ALL SELECT 2, 'insert', k, status, newc FROM m
        |    WHERE status <> 'F'
        |  UNION ALL SELECT 2, 'insert', k, status, cents FROM s
        |    WHERE k % 3 <> 0 AND cents % 2 = 0
        |  UNION ALL SELECT 2, 'delete', k, status, oldc FROM m),
        |enc AS (SELECT version, change_type, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, change_type,
        |  count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS cents_sum,
        |  sum(h)::BIGINT AS fp, 2::BIGINT AS n_batches, true AS exactly_once
        |FROM enc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // both epochs: v1 digests int-typed cents (same rendering as
    // bigint — the widening is value-lossless by construction), v2
    // adds the beyond-int slice under the widened type
    "q249_type_widening" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |t1 AS (SELECT k, status, cents FROM o WHERE k % 3 = 0),
        |t2 AS (SELECT k, status, cents + 3000000000 AS cents FROM o
        |  WHERE k % 3 = 1),
        |u AS (SELECT 1 AS version, k, status, cents FROM t1
        |  UNION ALL SELECT 2, k, status, cents FROM t1
        |  UNION ALL SELECT 2, k, status, cents FROM t2),
        |enc AS (SELECT version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents, true AS head_widened,
        |  true AS narrow_history, true AS widen_flagged
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    // the optimize is content-preserving (certified at commit time), so
    // the band aggregate is plain SQL over the full table; the pruning
    // and CDF-cancellation booleans are computed engine-side
    "q250_zorder_ndim" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |m AS (SELECT k, cents, c % 16 AS kmod, cents % 16 AS cmod,
        |    k % 16 AS dmod FROM o)
        |SELECT 4::BIGINT AS n_files_before, true AS content_identical,
        |  (SELECT count(*) FROM m WHERE k % 4 = 0)::BIGINT AS v1_rows,
        |  0::BIGINT AS optimize_cdf_rows,
        |  true AS pruned_k, true AS pruned_c, true AS pruned_d,
        |  count(*)::BIGINT AS band_rows,
        |  coalesce(sum(cents), 0)::BIGINT AS band_cents
        |FROM m WHERE kmod <= 7 AND cmod <= 7 AND dmod <= 7""".stripMargin,

    // three versions: the seed, the MoR delete's live view, and the
    // evolved merge — matched rows update from the source, unmatched
    // LIVE targets read NULL band ('N' sentinel), tombstoned rows never
    // resurface, even-cents source-only keys insert
    "q251_evolve_with_dvs" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |t1 AS (SELECT k, status, cents FROM o WHERE k % 3 = 0),
        |t2 AS (SELECT k, status, cents FROM t1 WHERE cents % 10 >= 2),
        |s AS (SELECT k, status, cents, (cents % 5)::BIGINT AS band FROM o
        |  WHERE k % 2 = 0),
        |matched AS (SELECT t2.k, t2.status, s.cents + 1 AS cents, s.band
        |  FROM t2 JOIN s ON t2.k = s.k),
        |tgtonly AS (SELECT k, status, cents, NULL::BIGINT AS band
        |  FROM t2 WHERE k % 2 = 1),
        |srconly AS (SELECT s.k, s.status, s.cents, s.band FROM s
        |  WHERE s.k NOT IN (SELECT k FROM t2) AND s.cents % 2 = 0),
        |head AS (SELECT * FROM matched UNION ALL SELECT * FROM tgtonly
        |  UNION ALL SELECT * FROM srconly),
        |enc3 AS (SELECT 1 AS version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM t1
        |  UNION ALL SELECT 2, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT
        |  FROM t2
        |  UNION ALL SELECT 3, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR || chr(1) ||
        |      CASE WHEN band IS NULL THEN 'N'
        |        ELSE length(band::VARCHAR)::VARCHAR || ':' || band::VARCHAR END),
        |      1, 8))::BIGINT
        |  FROM head)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents, true AS evolved_head,
        |  true AS dv_was_live, true AS deleted_stay_dead
        |FROM enc3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // 25 one-slice commits reassemble the whole table; the cadence,
    // tail-only-replay and certification booleans are engine-side
    "q252_auto_checkpoint" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT (c % 10)::BIGINT AS cust_band, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, true AS cadence_held,
        |  true AS tail_only_replay, true AS certified
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    // compaction is content-preserving over the LIVE view: the head is
    // the full table minus the MoR-deleted rows; the file accounting
    // and no-op booleans are engine-side
    "q253_compact_small" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT (c % 10)::BIGINT AS cust_band, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, 4::BIGINT AS n_compacted,
        |  true AS big_file_untouched, 1::BIGINT AS n_output_files,
        |  true AS cdf_cancels, true AS noop_below_min
        |FROM o WHERE cents % 10 >= 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    // three populations under the evolved schema: matched rows take the
    // widened source cents + band, unmatched LIVE targets read NULL
    // band ('N'), even-cents source-only keys insert; v1 digests the
    // narrow epoch (int renders like bigint — lossless by construction)
    "q254_merge_mor_evolve" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |t1 AS (SELECT k, status, cents FROM o WHERE k % 3 = 0),
        |s AS (SELECT k, status, cents + 3000000000 AS cents,
        |    ((cents + 3000000000) % 5)::BIGINT AS band FROM o
        |  WHERE k % 2 = 0),
        |matched AS (SELECT t1.k, t1.status, s.cents, s.band
        |  FROM t1 JOIN s ON t1.k = s.k),
        |tgtonly AS (SELECT k, status, cents, NULL::BIGINT AS band
        |  FROM t1 WHERE k % 2 = 1),
        |srconly AS (SELECT s.k, s.status, s.cents, s.band FROM s
        |  WHERE s.k NOT IN (SELECT k FROM t1) AND s.cents % 2 = 0),
        |head AS (SELECT * FROM matched UNION ALL SELECT * FROM tgtonly
        |  UNION ALL SELECT * FROM srconly),
        |enc AS (SELECT 1 AS version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM t1
        |  UNION ALL SELECT 2, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR || chr(1) ||
        |      CASE WHEN band IS NULL THEN 'N'
        |        ELSE length(band::VARCHAR)::VARCHAR || ':' || band::VARCHAR END),
        |      1, 8))::BIGINT
        |  FROM head)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents, true AS rewrote_nothing,
        |  true AS widen_flagged, true AS head_widened,
        |  true AS narrow_history
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    // the widening merge's exact change multiset: every matched row
    // (k even) deletes its narrow-epoch version and inserts the widened
    // one; unmatched rows cancel; v1 is the seed insert
    "q255_cdf_across_widening" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |t1 AS (SELECT k, status, cents FROM o WHERE k % 3 = 0),
        |m AS (SELECT k, status, cents AS oldc, cents + 3000000000 AS newc
        |  FROM t1 WHERE k % 2 = 0),
        |u AS (
        |  SELECT 1 AS version, 'insert' AS change_type, k, status, cents FROM t1
        |  UNION ALL SELECT 2, 'insert', k, status, newc FROM m
        |  UNION ALL SELECT 2, 'delete', k, status, oldc FROM m),
        |enc AS (SELECT version, change_type, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(status)::VARCHAR || ':' || status || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM u)
        |SELECT version::BIGINT AS version, change_type,
        |  count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS cents_sum,
        |  sum(h)::BIGINT AS fp
        |FROM enc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // three versions: the zero-copy conversion, the layout-inheriting
    // append, and the COW delete; digests run over all four columns in
    // schema order (band is the path-inferred partition column —
    // integer, rendered identically to bigint)
    "q256_convert_in_place" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents,
        |    (o_custkey % 4)::BIGINT AS band FROM orders),
        |a AS (SELECT k + 10000000 AS k, c, cents, band FROM o
        |  WHERE k % 97 = 0),
        |v2 AS (SELECT * FROM o UNION ALL SELECT * FROM a),
        |v3 AS (SELECT * FROM v2 WHERE cents % 10 <> 3),
        |enc AS (SELECT 1 AS version, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR || chr(1) ||
        |      length(band::VARCHAR)::VARCHAR || ':' || band::VARCHAR),
        |      1, 8))::BIGINT AS h
        |  FROM o
        |  UNION ALL SELECT 2, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR || chr(1) ||
        |      length(band::VARCHAR)::VARCHAR || ':' || band::VARCHAR),
        |      1, 8))::BIGINT
        |  FROM v2
        |  UNION ALL SELECT 3, cents,
        |    ('0x' || substr(md5(
        |      length(k::VARCHAR)::VARCHAR || ':' || k::VARCHAR || chr(1) ||
        |      length(c::VARCHAR)::VARCHAR || ':' || c::VARCHAR || chr(1) ||
        |      length(cents::VARCHAR)::VARCHAR || ':' || cents::VARCHAR || chr(1) ||
        |      length(band::VARCHAR)::VARCHAR || ':' || band::VARCHAR),
        |      1, 8))::BIGINT
        |  FROM v3)
        |SELECT version::BIGINT AS version, count(*)::BIGINT AS snapshot_rows,
        |  sum(h)::BIGINT AS snapshot_fp, true AS matches_archived,
        |  sum(cents)::BIGINT AS sum_cents, true AS zero_copy,
        |  (SELECT count(*) FROM o WHERE band = 2)::BIGINT AS v1_band2_rows,
        |  true AS v1_partitions_pruned
        |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin,

    // 25 slice commits + a MoR delete reassemble the live view; the
    // O(interval) read count, zero-stat-probe and certification
    // booleans are engine-side
    "q257_ckpt_state_planning" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT (c % 10)::BIGINT AS cust_band, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, true AS plan_reads_o_interval,
        |  true AS zero_stat_probes, true AS certified
        |FROM o WHERE cents % 100 <> 7 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the two slices union to the whole projection; the part-count,
    // manifest-shape and replay-through-parts booleans are engine-side
    "q258_multipart_ckpt" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT (c % 10)::BIGINT AS cust_band, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, true AS sharded_payload,
        |  true AS manifest_feature_no_inline, true AS parts_replay_certified
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    // evens (12 slices + optimize) plus odds (3 grouped appends) union
    // to the whole projection; the reclaim count, checkpoint-hygiene,
    // horizon-refusal and certification booleans are engine-side
    "q259_vacuum_ckpt_hygiene" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders)
        |SELECT (c % 10)::BIGINT AS cust_band, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, true AS reclaimed_to_horizon,
        |  true AS stale_ckpts_gone_head_recheckpointed,
        |  true AS below_horizon_refuses, true AS oldest_retained_certified
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    // the converted table IS the partitioned projection; the
    // layout-inference, size-archival, no-null and pruning booleans
    // are engine-side
    "q260_convert_autoinfer" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents,
        |    (o_custkey % 4)::BIGINT AS band FROM orders)
        |SELECT band, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, true AS layout_inferred,
        |  true AS sizes_archived, true AS no_silent_nulls,
        |  true AS v1_partitions_pruned
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    // the skipped read must equal the plain filtered projection; the
    // file-count and equality booleans are engine-side
    "q261_data_skipping" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    round(o_totalprice * 100)::BIGINT AS cents,
        |    (o_custkey % 4)::BIGINT AS band FROM orders)
        |SELECT (c % 10)::BIGINT AS cust_band, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS cents_sum, true AS pruned_to_one_file,
        |  true AS equals_full_scan_filter
        |FROM o WHERE cents >= 30000000 AND band = 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the versioned table is the events table re-committed in four ts
    // bands; the skipping invariants are gated as constant columns
    "q262_ts_skipping" ->
      """SELECT event_type, count(*)::BIGINT AS n_rows,
        |  sum(user_id)::BIGINT AS sum_user, true AS pruned_to_two_files,
        |  true AS equals_full_scan_filter
        |FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q263_null_skipping" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority END AS tag
        |  FROM orders)
        |SELECT tag, count(*)::BIGINT AS n_rows, sum(c)::BIGINT AS sum_c,
        |  true AS pruned_notnull, true AS pruned_isnull,
        |  true AS isnull_result_neutral
        |FROM o WHERE tag IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q264_sql_skipping" ->
      """SELECT event_type, count(*)::BIGINT AS n_rows,
        |  sum(user_id)::BIGINT AS sum_user, true AS sql_pruned_half
        |FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q266_stream_skipping" ->
      """SELECT event_type, count(*)::BIGINT AS n_rows,
        |  min(event_id)::BIGINT AS min_id, max(event_id)::BIGINT AS max_id,
        |  true AS stream_pruned_half, true AS equals_batch_filter
        |FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q265_string_skipping" ->
      """SELECT (user_id % 10)::BIGINT AS user_band,
        |  count(*)::BIGINT AS n_rows, sum(event_id)::BIGINT AS sum_id,
        |  true AS eq_pruned_to_one, true AS prefix_pruned_to_one,
        |  true AS prefix_result_neutral, true AS eq_result_neutral
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // five unrolled integer-micro gradient iterations — see
    // logitTrainOracle
    "q213_logit_train" -> logitTrainOracle(steps = 5, lrMicro = 4000000L),

    // exact coverage by LITERAL window strings (every length-10 window,
    // count >= 2 anywhere, all occurrences kept), then the q95 island
    // merge — no hashes on either side
    "q214_exact_substring_dedup" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(lower(text), '[ \t\n\r\f]+') AS toks FROM documents),
        |g AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 9)) AS gpos
        |  FROM tok WHERE len(toks) >= 10),
        |wn AS (SELECT doc_id, (gpos - 1)::BIGINT AS pos,
        |    array_to_string(toks[gpos : gpos + 9], chr(1)) AS w FROM g),
        |dup AS (SELECT w FROM wn GROUP BY w HAVING count(*) >= 2),
        |c AS (SELECT doc_id, pos AS s, pos + 10 AS e FROM wn
        |      WHERE w IN (SELECT w FROM dup)),
        |m AS (SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM c),
        |i AS (SELECT doc_id, s, e,
        |    sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY doc_id ORDER BY s
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m)
        |SELECT doc_id, min(s)::BIGINT AS span_start, max(e)::BIGINT AS span_end,
        |  (max(e) - min(s))::BIGINT AS n_tokens
        |FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin
  )

  /** q212/q215's replay, parameterized by the TRAINING membership
    * predicate (over `vec_id`): centroid seeds/iterations and PQ
    * codebook seeds/iterations fold only training vectors, while cell
    * assignment, encoding and ADC cover the whole corpus — the exact
    * semantics of building on a subset and [[graft.vector.ServingIndex
    * .append]]ing the rest with the stored tables. */
  private def annServingOracle(trainPred: String): String =
      s"""WITH d AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM d) WHERE nrm > 0),
        |c0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
        |       WHERE $trainPred ORDER BY vec_id LIMIT 16),
        |a1 AS (
        |  SELECT vec_id, cent_id, v FROM (
        |    SELECT x.vec_id, c.cent_id, x.v,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM (SELECT * FROM n WHERE $trainPred) x, c0 c) WHERE rn = 1),
        |e1 AS (SELECT cent_id, unnest(range(len(v))) AS j, unnest(v) AS x FROM a1),
        |g1 AS (SELECT cent_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |       FROM e1 GROUP BY 1, 2),
        |m1 AS (SELECT cent_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |       FROM g1 GROUP BY 1),
        |c1 AS (SELECT c0.cent_id, COALESCE(m1.cv, c0.cv) AS cv,
        |         sqrt(list_inner_product(COALESCE(m1.cv, c0.cv), COALESCE(m1.cv, c0.cv))) AS cnrm
        |       FROM c0 LEFT JOIN m1 USING (cent_id)),
        |a2 AS (
        |  SELECT vec_id, cent_id, v FROM (
        |    SELECT x.vec_id, c.cent_id, x.v,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM (SELECT * FROM n WHERE $trainPred) x, c1 c) WHERE rn = 1),
        |e2 AS (SELECT cent_id, unnest(range(len(v))) AS j, unnest(v) AS x FROM a2),
        |g2 AS (SELECT cent_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |       FROM e2 GROUP BY 1, 2),
        |m2 AS (SELECT cent_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |       FROM g2 GROUP BY 1),
        |c AS (SELECT c1.cent_id, COALESCE(m2.cv, c1.cv) AS cv,
        |        sqrt(list_inner_product(COALESCE(m2.cv, c1.cv), COALESCE(m2.cv, c1.cv))) AS cnrm
        |      FROM c1 LEFT JOIN m2 USING (cent_id)),
        |asg AS (
        |  SELECT vec_id, cent_id FROM (
        |    SELECT x.vec_id, c.cent_id,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY round(list_inner_product(x.v, c.cv) / (x.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM n x, c) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
        |probes AS (
        |  SELECT query_id, cent_id FROM (
        |    SELECT q.query_id, c.cent_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_inner_product(q.qv, c.cv) / (q.qnrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM q, c) WHERE rn <= 4),
        |subs AS (SELECT vec_id, g.s, v[g.s*16+1:(g.s+1)*16] AS sv
        |         FROM n, (SELECT unnest(range(4)) AS s) g),
        |pseeds AS (SELECT vec_id FROM n WHERE $trainPred ORDER BY vec_id LIMIT 16),
        |pc0 AS (SELECT s, vec_id AS code_id, sv AS cv FROM subs
        |        WHERE vec_id IN (SELECT vec_id FROM pseeds)),
        |pa1 AS (SELECT vec_id, s, code_id, sv FROM (
        |    SELECT x.vec_id, x.s, c.code_id, x.sv,
        |      row_number() OVER (PARTITION BY x.vec_id, x.s
        |        ORDER BY round(list_inner_product(x.sv, x.sv) - 2*list_inner_product(x.sv, c.cv)
        |          + list_inner_product(c.cv, c.cv), 6), c.code_id) AS rn
        |    FROM (SELECT * FROM subs s0 WHERE $trainPred) x JOIN pc0 c ON c.s = x.s) WHERE rn = 1),
        |pe1 AS (SELECT s, code_id, unnest(range(len(sv))) AS j, unnest(sv) AS x FROM pa1),
        |pg1 AS (SELECT s, code_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |        FROM pe1 GROUP BY 1, 2, 3),
        |pm1 AS (SELECT s, code_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |        FROM pg1 GROUP BY 1, 2),
        |pc1 AS (SELECT pc0.s, pc0.code_id, COALESCE(pm1.cv, pc0.cv) AS cv
        |        FROM pc0 LEFT JOIN pm1 USING (s, code_id)),
        |pa2 AS (SELECT vec_id, s, code_id, sv FROM (
        |    SELECT x.vec_id, x.s, c.code_id, x.sv,
        |      row_number() OVER (PARTITION BY x.vec_id, x.s
        |        ORDER BY round(list_inner_product(x.sv, x.sv) - 2*list_inner_product(x.sv, c.cv)
        |          + list_inner_product(c.cv, c.cv), 6), c.code_id) AS rn
        |    FROM (SELECT * FROM subs s0 WHERE $trainPred) x JOIN pc1 c ON c.s = x.s) WHERE rn = 1),
        |pe2 AS (SELECT s, code_id, unnest(range(len(sv))) AS j, unnest(sv) AS x FROM pa2),
        |pg2 AS (SELECT s, code_id, j, sum(round(x * 1000000)::BIGINT) AS sx, count(*) AS cnt
        |        FROM pe2 GROUP BY 1, 2, 3),
        |pm2 AS (SELECT s, code_id, list(sx::DOUBLE / (1000000.0 * cnt) ORDER BY j) AS cv
        |        FROM pg2 GROUP BY 1, 2),
        |pc2 AS (SELECT pc1.s, pc1.code_id, COALESCE(pm2.cv, pc1.cv) AS cv
        |        FROM pc1 LEFT JOIN pm2 USING (s, code_id)),
        |enc AS (SELECT vec_id, s, code_id FROM (
        |    SELECT x.vec_id, x.s, c.code_id,
        |      row_number() OVER (PARTITION BY x.vec_id, x.s
        |        ORDER BY round(list_inner_product(x.sv, x.sv) - 2*list_inner_product(x.sv, c.cv)
        |          + list_inner_product(c.cv, c.cv), 6), c.code_id) AS rn
        |    FROM subs x JOIN pc2 c ON c.s = x.s) WHERE rn = 1),
        |qs AS (SELECT vec_id AS query_id, s, sv FROM subs WHERE vec_id < 5),
        |dt AS (SELECT q.query_id, c.s, c.code_id,
        |         round(list_inner_product(q.sv, c.cv) * 1000000)::BIGINT AS pd
        |       FROM qs q JOIN pc2 c ON c.s = q.s),
        |cand AS (SELECT p.query_id, a.vec_id
        |         FROM asg a JOIN probes p USING (cent_id)
        |         WHERE a.vec_id <> p.query_id),
        |sc AS (SELECT cand.query_id, e.vec_id, sum(pd)::BIGINT AS sp
        |       FROM cand JOIN enc e ON e.vec_id = cand.vec_id
        |       JOIN dt ON dt.query_id = cand.query_id
        |         AND dt.s = e.s AND dt.code_id = e.code_id
        |       GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, sp::DOUBLE / 1000000.0 AS score,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sp DESC, vec_id) AS rn
        |      FROM sc)
        |SELECT query_id, rn::BIGINT AS rank, vec_id, score
        |FROM r WHERE rn <= 10 ORDER BY 1, 2""".stripMargin
}
