package graft.vector

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`) for LLM
  * data pipelines: exact brute-force cosine top-k as the baseline, and a
  * sign-LSH bucketed variant as the 100 TB path.
  *
  * Design notes (SURVEY §7.4):
  *   - dot products / norms are higher-order column expressions
  *     (`zip_with` + `aggregate`) — codegen'd, no UDF per element;
  *   - the per-query top-k uses [[TopKAgg]], a bounded-heap typed
  *     `Aggregator`: partial aggregation keeps ≤k candidates per
  *     partition, so the shuffle carries |queries|·k rows instead of
  *     |queries|·|vectors| — the difference between a sort of N·Q rows
  *     and a merge of Q·k heaps at scale;
  *   - scores are rounded before ranking and tie-broken by vec_id, so the
  *     ranking is deterministic across engines and partial-agg orders.
  */
object Similarity {

  /** Sequential-order dot product of two double arrays — the custom
    * fused-loop expression ([[graft.functions.VectorDot]]); left-to-right
    * summation matches both the equivalent
    * `aggregate(zip_with(...))` composition and the oracle engine's
    * list_inner_product, so scores are bit-identical across all three.
    */
  def dot(a: String, b: String): org.apache.spark.sql.Column =
    graft.functions.vector_dot(col(a), col(b))

  /** Embeddings with unit-precision prep: double-cast vector + norm.
    * Zero-norm vectors (empty/padded inputs) are EXCLUDED: a zero vector
    * has no direction, its cosine is 0/0 = NaN, and Spark's NaN-is-
    * largest comparison semantics would let `NaN >= threshold` pass a
    * near-dup filter — false pairs with no similarity at all. Every
    * cosine operator in this module shares this contract.
    */
  def prep(embeddings: DataFrame, idCol: String = "vec_id",
           vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol).as("vec_id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", sqrt(dot("v", "v")))
      .filter(col("norm") > 0)

  final case class Scored(query_id: Long, vec_id: Long, score: Double)

  /** Bounded-heap top-k per group: the buffer never exceeds k entries,
    * ordered by (score desc, vec_id asc). reduce/merge are associative and
    * commutative, so Catalyst's partial aggregation is safe.
    */
  final class TopKAgg(k: Int) extends Aggregator[Scored, List[(Double, Long)], Seq[(Double, Long)]] {
    private def best(xs: List[(Double, Long)]): List[(Double, Long)] =
      xs.sortBy { case (s, id) => (-s, id) }.take(k)
    def zero: List[(Double, Long)] = Nil
    def reduce(buf: List[(Double, Long)], a: Scored): List[(Double, Long)] =
      best((a.score, a.vec_id) :: buf)
    def merge(b1: List[(Double, Long)], b2: List[(Double, Long)]): List[(Double, Long)] =
      best(b1 ::: b2)
    def finish(r: List[(Double, Long)]): Seq[(Double, Long)] = r
    def bufferEncoder: Encoder[List[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, Long)]]()
    def outputEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Exact cosine top-k: every query vector scored against every data
    * vector (the correctness baseline an ANN variant is measured against),
    * reduced through the bounded-heap aggregator.
    */
  def cosineTopK(spark: SparkSession, embeddings: DataFrame, queries: DataFrame,
                 k: Int = 10): DataFrame = {
    import spark.implicits._
    val data = prep(embeddings)
    val q = prep(queries).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("norm").as("qnorm"))
    val scored = data.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot("v", "qv") / (col("norm") * col("qnorm")), 6).as("score"))
      .as[Scored]
    rankTopK(scored, k)
  }

  /** Shared top-k materialization: bounded-heap aggregate → exploded
    * (query_id, rank, vec_id, score) rows, rank 1-based, deterministic
    * (score desc, vec_id asc) order — the single definition of the
    * ranking contract for all three ANN variants. */
  private[vector] def rankTopK(scored: org.apache.spark.sql.Dataset[Scored], k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    val agg = new TopKAgg(k).toColumn.name("top")
    scored.groupByKey(_.query_id).agg(agg)
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "entry")))
      .select(col("query_id"), (col("r") + 1).cast("long").as("rank"),
        col("entry._2").as("vec_id"), col("entry._1").as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hyperplane p's components for `dim` dimensions: pseudo-random values
    * in [-0.5, 0.5) derived from xxhash64(p, j) — reproducible on any
    * cluster, no RNG state shipped. Replicated DRIVER-side (verified
    * bit-equal to the SQL `xxhash64($p, j)` chain) so each plane is a
    * LITERAL array: the per-row sign test is then one codegen'd fused
    * [[dot]] instead of an interpreted zip_with/aggregate lambda chain —
    * higher-order functions don't participate in whole-stage codegen and
    * dominated the signature stage's cost.
    */
  /** The integer remainders behind [[plane]] — exposed so the oracle SQL
    * can embed each component as the exact rational `k/1000 − 1/2` (both
    * engines then perform identical correctly-rounded double ops and
    * rebuild the same buckets). */
  private[graft] def planeMicro(p: Int, dim: Int): Array[Long] =
    graft.functions.SignBits.planeMicro(p, dim) // single source of truth

  private def plane(p: Int, dim: Int): Array[Double] =
    planeMicro(p, dim).map(_.toDouble / 1000.0 - 0.5)

  private def planeBit(p: Int, dim: Int): org.apache.spark.sql.Column =
    graft.functions.vector_dot(col("v"), typedLit(plane(p, dim))) > 0

  /** Vector width, read from one row (operators require a uniform dim). */
  private def vecDim(df: DataFrame): Int =
    df.select(size(col("v")).as("d")).take(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Embedding-cosine near-duplicate pairs — the fifth dedup tier
    * (semantic near-dup where text hashes can't see the similarity).
    *
    * Banded sign-LSH candidates + exact cosine verification: `bands`
    * bands of `rowsPerBand` hyperplane bits; vectors pair only within a
    * (band, bit-pattern) bucket, then candidates are scored exactly, so
    * precision is 1.0. Recall = 1 − (1 − p^r)^b with p = 1 − θ/π; at
    * cosine ≥ 0.95 the defaults give ≈ 0.99 (≈ 1 − 10⁻⁷ for
    * near-identical pairs). `rowsPerBand` trades recall at the threshold
    * against candidate load: SHORT bands collide merely-correlated pairs
    * (r = 4 on a clustered corpus admitted ~45% of ALL pairs as
    * candidates; r = 8 cuts that ~25×), so widen bands before adding
    * them. Scale: the only wide op is the bucket-key groupBy — no
    * all-pairs product at any size — and the band geometry AUTO-SIZES
    * with the corpus ([[sizeBands]]): bits-per-band grows like log2(n)
    * to pin mean bucket occupancy (candidate load per band is quadratic
    * in occupancy — the fixed-geometry wall the r7 sf1 replay measured
    * at 22×/10×), with the band count scaled to hold this same recall
    * bound at the caller's threshold.
    */
  /** Per-vector distinct (vec_id, band_key) rows for banded sign-LSH:
    * `bands` bands of `rowsPerBand` literal-hyperplane sign bits, each
    * band rendered as one string key. Shared by the self-pair
    * ([[embeddingNearDup]]) and cross-corpus ([[crossNearDup]]) variants —
    * both sides of a cross match MUST hash with the same `dim`-sized
    * planes, which is why the dimension is a parameter rather than
    * re-derived per frame. One projection + one narrow generate per call.
    */
  private def bandKeyRows(data: DataFrame, bands: Int, rowsPerBand: Int,
                          dim: Int): DataFrame = {
    val nbits = bands * rowsPerBand
    // one fused SignBits pass, NOT nbits separate vector_dot columns:
    // per-expression ArrayData re-reads made the signature stage the
    // dominant cost at corpus-sized geometries (26 s of the r7 sf1
    // replay). Bit values are identical (same planes, same left-to-right
    // accumulation), so bucket assignments — and the oracles that replay
    // them — are unchanged.
    val withBits = data.withColumn("bits",
      graft.functions.sign_bits(col("v"), nbits))
    withBits.select(col("vec_id"),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), j -> " +
        s"slice(bits, j * $rowsPerBand + 1, $rowsPerBand))"))
        .as(Seq("band", "bh")))
      .select(col("vec_id"),
        concat_ws(":", col("band") +: (0 until rowsPerBand).map(i =>
          expr(s"bh[$i]")): _*).as("band_key"))
      .distinct()
  }

  /** Corpus-size-aware band geometry: fixed sign-LSH bands have
    * 2^rowsPerBand buckets per band, so mean bucket occupancy — and with
    * it the per-band candidate-pair count, which is QUADRATIC in
    * occupancy — grows linearly with the corpus. The r7 sf0.1→sf1
    * scale-stress measured exactly that wall: q48 ran 22× at 10× data
    * with the fixed (8, 8) geometry. The remedy is standard LSH
    * practice: grow bits-per-band like log2(n) so occupancy stays at
    * `targetAvgBucket`, and grow the band count to hold the documented
    * recall at `threshold` — with per-bit match probability p = 1 − θ/π,
    * b' = ⌈b · ln(1 − p^r) / ln(1 − p^r')⌉ makes the miss bound
    * (1 − p^r')^b' ≤ (1 − p^r)^b EXACTLY (the ceiling only tightens it);
    * at 0.95, (8,8)→(12,11) with the ≈1.17% bound preserved;
    * near-identical pairs only get safer.
    *
    * Total signature bits grow as O(log n · p^−log n) — cheap row-local
    * projections at any realistic n; for thresholds far below 1 at
    * extreme corpus sizes, [[ivfTopK]] is the intended path instead.
    * Never shrinks below the caller's (bands, rowsPerBand): small-corpus
    * geometry — including every oracle-gated SF — is byte-identical to
    * the fixed layout.
    */
  private[graft] def sizeBands(n: Long, bands: Int, rowsPerBand: Int,
                               threshold: Double,
                               targetAvgBucket: Int): (Int, Int) = {
    val rEff = math.max(rowsPerBand, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetAvgBucket)) / math.log(2.0)).toInt)
    if (rEff == rowsPerBand) (bands, rowsPerBand)
    else {
      val p = 1.0 - math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
      val bEff = math.ceil(bands *
        math.log1p(-math.pow(p, rowsPerBand)) / math.log1p(-math.pow(p, rEff))).toInt
      (bEff, rEff)
    }
  }

  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.95,
                       bands: Int = 8, rowsPerBand: Int = 8,
                       maxBucket: Int = 10000,
                       failOnOverflow: Boolean = true,
                       targetAvgBucket: Int = 16): DataFrame = {
    // cache → eager-checkpoint result → unpersist (in a finally, so a
    // failed job can't leak the entry): the operator holds no
    // session-lifetime cache (CacheManager pins cache() entries forever;
    // the checkpointed result is GC'd with the returned frame)
    val data = prep(embeddings).cache()
    try {
    // one cheap count on the (about-to-be-reused) cached frame sizes the
    // band geometry to the corpus — see sizeBands
    val (bandsEff, rowsEff) =
      sizeBands(data.count(), bands, rowsPerBand, threshold, targetAvgBucket)
    val bandKeys = bandKeyRows(data, bandsEff, rowsEff, vecDim(data))
    // maxBucket bounds a hot bucket's quadratic pair fan-out. UNLIKE the
    // edit-distance join (whose buckets are alphabet-bounded), an LSH
    // bucket of >maxBucket near-identical vectors is a real possibility
    // on a boilerplate-heavy corpus, and truncation would then report the
    // overflow as unique — so overflow FAILS by default (raise maxBucket,
    // or pre-shard with exact dedup, or opt into truncation with
    // failOnOverflow = false, which still surfaces an observed
    // truncated_groups metric rather than staying silent)
    val cand = graft.silver.Pipelines.cooccurrence(bandKeys, "band_key", "vec_id",
        maxGroupSize = maxBucket, failOnOverflow = failOnOverflow)
      .select(col("track_id_1").as("vec_id_1"), col("track_id_2").as("vec_id_2"))
    cand
      .join(data.select(col("vec_id").as("vec_id_1"), col("v").as("v1"),
        col("norm").as("n1")), Seq("vec_id_1"))
      .join(data.select(col("vec_id").as("vec_id_2"), col("v").as("v2"),
        col("norm").as("n2")), Seq("vec_id_2"))
      .withColumn("cosine", round(dot("v1", "v2") / (col("n1") * col("n2")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id_1"), col("vec_id_2"), col("cosine"))
      .localCheckpoint()
    } finally data.unpersist()
  }

  /** Cross-corpus semantic near-duplicate pairs — embedding-level
    * train/eval decontamination (the semantic analogue of
    * [[graft.text.Decontaminate.overlaps]]): every `corpus` vector whose
    * cosine to some `probes` vector clears `threshold`, with the matching
    * probe and the exact score. Catches paraphrased eval leakage that
    * token-hash shingles can't see.
    *
    * Same banded sign-LSH recall contract as [[embeddingNearDup]]
    * (both sides hash with the SAME literal planes, sized to the wider
    * frame), but candidates come from an equi-join of corpus band keys
    * against per-bucket probe id sets instead of a self-pairing:
    *
    *   - the probe side (eval suites — the small side by construction)
    *     aggregates to ≤ one row per band key, its buckets capped by
    *     `maxBucket` with the in-buffer fail-loud bound
    *     ([[graft.silver.Pipelines.cappedItemSets]]) — a bucket of
    *     near-identical probe vectors errors (or observably truncates)
    *     instead of fanning out unboundedly;
    *   - the corpus side is never aggregated and never self-paired: per
    *     band key the work is |corpus bucket|·|probe bucket| ≤
    *     |corpus bucket|·`maxBucket`, linear in corpus size at any SF,
    *     and with AQE the aggregated probe side broadcasts, so the
    *     corpus reaches no extra shuffle beyond its band-key generate.
    *
    * Precision is exact (candidates are verified with the exact cosine);
    * recall for genuine near-dups (cosine ≥ 0.99) is 1 − ~10⁻¹¹ at the
    * defaults — see the [[embeddingNearDup]] recall analysis.
    *
    * Regime note (measured, PLAN_AUDIT.md "r6 measured experiments"):
    * while |corpus|·|probes| is small enough to brute-force (≲10⁸
    * cosines), a broadcast cross join is FASTER than this operator's
    * fixed cost (two band-key generates + three shuffles) — prefer
    * [[cosineTopK]]'s shape there. This operator is for the
    * corpus-scale regime where the product is impossible and only the
    * linear-in-|corpus| LSH path survives.
    *
    * Geometry auto-sizes by the PROBE count ([[sizeBands]]): expected
    * candidates are b · n_corpus · (n_probes / 2^r) on decorrelated
    * data, so pinning probe-bucket occupancy bounds per-corpus-row work
    * at b · targetAvgBucket regardless of how large the probe suite
    * grows — the corpus side needs no sizing (it never self-pairs).
    */
  def crossNearDup(corpus: DataFrame, probes: DataFrame,
                   threshold: Double = 0.95,
                   bands: Int = 8, rowsPerBand: Int = 8,
                   maxBucket: Int = 10000,
                   failOnOverflow: Boolean = true,
                   targetAvgBucket: Int = 16): DataFrame = {
    val left = prep(corpus).cache()
    val right = prep(probes).cache()
    val (bandsEff, rowsEff) =
      sizeBands(right.count(), bands, rowsPerBand, threshold, targetAvgBucket)
    try crossNearDupFrame(left, right, threshold, bandsEff, rowsEff,
        maxBucket, failOnOverflow)
      .localCheckpoint()
    finally { left.unpersist(); right.unpersist() }
  }

  /** [[crossNearDup]]'s dataflow over already-[[prep]]ped frames, without
    * the cache/checkpoint lifecycle — exposed so PlanShapeSpec can assert
    * the candidate stage's physical shape (checkpointing truncates the
    * visible plan). */
  private[graft] def crossNearDupFrame(left: DataFrame, right: DataFrame,
                                       threshold: Double, bands: Int,
                                       rowsPerBand: Int, maxBucket: Int,
                                       failOnOverflow: Boolean): DataFrame = {
    val (dl, dr) = (vecDim(left), vecDim(right))
    require(dl == 0 || dr == 0 || dl == dr,
      s"crossNearDup requires equal vector dimensions, got corpus=$dl probes=$dr")
    val dim = math.max(dl, dr)
    val buckets = graft.silver.Pipelines.cappedItemSets(
        bandKeyRows(right, bands, rowsPerBand, dim), "band_key", "vec_id",
        maxGroupSize = maxBucket, failOnOverflow = failOnOverflow,
        opName = "crossNearDup")
      .withColumnRenamed("g", "band_key")
    val cand = bandKeyRows(left, bands, rowsPerBand, dim)
      .join(buckets, Seq("band_key"))
      .select(col("vec_id").as("corpus_id"), explode(col("its")).as("probe_id"))
      .distinct()
    cand
      .join(left.select(col("vec_id").as("corpus_id"), col("v").as("v1"),
        col("norm").as("n1")), Seq("corpus_id"))
      .join(right.select(col("vec_id").as("probe_id"), col("v").as("v2"),
        col("norm").as("n2")), Seq("probe_id"))
      .withColumn("cosine", round(dot("v1", "v2") / (col("n1") * col("n2")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("corpus_id"), col("probe_id"), col("cosine"))
  }

  /** Deterministic Lloyd's k-means for IVF centroid training.
    *
    * Seeding is the first `nCentroids` vectors by id; each round assigns
    * every vector to its max-cosine centroid (tie → lowest cent_id, the
    * same rule as cell assignment) and recomputes each centroid as the
    * element-wise mean of its members. The mean is computed in FIXED
    * POINT — per-dimension sums of `round(x·10⁶)` longs — because integer
    * addition is exactly associative/commutative: trained centroids are
    * bit-identical for any partition count or partial-agg order, which is
    * what lets the DuckDB oracle replay training and hash-match. Empty
    * cells keep their previous centroid.
    *
    * Scale: assignment broadcasts C centroids against one pruned scan;
    * the mean shuffles ≤ C·D·partitions tiny partial rows (posexplode is
    * narrow, the groupBy combines map-side). Each round ends in a
    * `localCheckpoint` so the loop's lineage stays constant-size (the
    * duplicateClusters lesson, text/Dedup.scala).
    */
  def trainCentroids(embeddings: DataFrame, nCentroids: Int = 16,
                     iterations: Int = 2): DataFrame = {
    val data = prep(embeddings).cache()
    try trainCentroidsPrepped(data, nCentroids, iterations)
    finally data.unpersist()
  }

  /** [[trainCentroids]] over an ALREADY-prepped (and typically cached)
    * frame. Does NOT manage `data`'s cache lifecycle: the CacheManager
    * dedupes identical plans, so if this method unpersisted its input it
    * would evict the very entry a caller like [[ivfTopK]] still relies on
    * for its post-training stages — the caller owns the cache.
    */
  private[vector] def trainCentroidsPrepped(data: DataFrame, nCentroids: Int,
                                            iterations: Int): DataFrame = {
    // the nCentroids SMALLEST ids (orderBy + limit), not `id < n`: the
    // latter silently seeds fewer — or zero — centroids on 1-based,
    // sparse, or hash-derived id spaces
    var cents = data.orderBy(col("vec_id")).limit(nCentroids)
      .select(col("vec_id").cast("long").as("cent_id"), col("v").as("cv"))
      .localCheckpoint()
    for (_ <- 1 to iterations) {
      val c = broadcast(cents.withColumn("cnorm", sqrt(dot("cv", "cv"))))
      val assigned = data.crossJoin(c)
        .withColumn("__cs", round(dot("v", "cv") / (col("norm") * col("cnorm")), 6))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("cent_id"), col("v")),
          struct(col("__cs"), (-col("cent_id")).cast("long"))).as("s"))
        .select(col("s.cent_id").as("cent_id"), col("s.v").as("v"))
      val means = assigned
        .select(col("cent_id"), posexplode(col("v")).as(Seq("j", "x")))
        .groupBy(col("cent_id"), col("j"))
        .agg(sum(round(col("x") * 1000000).cast("long")).as("sx"),
          count(lit(1)).as("n"))
        .groupBy(col("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(j, sx, n))), " +
          "e -> CAST(e.sx AS DOUBLE) / (1000000.0 * e.n))").as("cv"))
      cents = cents.select(col("cent_id"), col("cv").as("cv0"))
        .join(means, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("cv"), col("cv0")).as("cv"))
        .localCheckpoint()
    }
    cents
  }

  /** Corpus clustering profile — k-means as a first-class curation
    * operator, not just the IVF internal: [[trainCentroids]]' Lloyd's
    * rounds, a final max-cosine assignment of EVERY vector, then one
    * per-cluster report row (cardinality, smallest member id, summed
    * member→centroid cosine in integer micro-units). The report is what
    * a cluster-balanced sampling / topic-map pass consumes: which
    * regions of embedding space are heavy, and how coherent each is.
    *
    * Determinism carries through: centroids are fixed-point bit-exact
    * (see trainCentroids), assignment ties break to the lowest cent_id,
    * and cohesion sums 6-dp-rounded scores as integers — exactly
    * associative, so the DuckDB oracle replays every round and the
    * report hash-matches at any partition count.
    *
    * Scale: training is trainCentroids' posture (broadcast C, narrow
    * partial-mean shuffle); the final pass is one broadcast-join scan
    * with a map-side-combined two-level aggregate — no N×C shuffle, no
    * window. Cohesion in LONG micro-units cannot overflow before
    * ~9·10¹² members per cluster.
    */
  def kmeansClusterProfile(embeddings: DataFrame, nCentroids: Int = 8,
                           iterations: Int = 2): DataFrame = {
    require(nCentroids >= 1, s"nCentroids must be >= 1, got $nCentroids")
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val data = prep(embeddings).cache()
    try {
      val cents = broadcast(
        trainCentroidsPrepped(data, nCentroids, iterations)
          .withColumn("cnorm", sqrt(dot("cv", "cv"))))
      data.crossJoin(cents)
        .withColumn("__cs", round(dot("v", "cv") / (col("norm") * col("cnorm")), 6))
        .groupBy(col("vec_id"))
        // argmax cent + its score in one partial-aggregable pass: the
        // chosen centroid maximizes (__cs, -cent_id), so its score IS
        // max(__cs) — no second join back to fetch it
        .agg(max_by(col("cent_id"),
            struct(col("__cs"), (-col("cent_id")).cast("long"))).as("cent_id"),
          max(col("__cs")).as("__s"))
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("vec_id")).as("min_vec_id"),
          sum(round(col("__s") * 1000000).cast("long")).as("cohesion_micro"))
        .orderBy(col("cent_id"))
    } finally data.unpersist()
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the corpus with
    * the deterministic k-means of [[kmeansClusterProfile]], find
    * above-threshold cosine pairs ONLY within each cell, connect them
    * into duplicate groups, and keep ONE representative per group — the
    * member with the LOWEST cosine to its centroid (the paper's
    * diversity-preserving choice: of a semantic duplicate set, retain
    * the example farthest from the cluster's center of mass), ties to
    * the lowest id. Singletons keep themselves.
    *
    * Scale posture: the quadratic term is Σ|cell|² — governed by the
    * centroid count, exactly the paper's lever (they run k = 11k on
    * LAION) — and guarded here by a fail-loud `maxCellSize` check
    * BEFORE pair generation, the BoundedCollectSet discipline: a
    * degenerate clustering errors with the offending cell, it does not
    * OOM. Assignment is one broadcast-centroid scan; pair scoring
    * shuffles on cell id only; grouping reuses
    * [[graft.text.Dedup.duplicateClusters]]' log-bounded label
    * propagation.
    *
    * Determinism: centroids are fixed-point bit-exact, assignment and
    * pair cosines round to 6 dp before any comparison, and the keep
    * rule orders by (ccos_micro, vec_id) — integers — so the oracle
    * replays every decision.
    *
    * Output: (vec_id, cent_id, ccos_micro, group_id, keep), one row per
    * (nonzero-norm) vector.
    */
  def semanticDedup(embeddings: DataFrame, nCentroids: Int = 8,
                    iterations: Int = 2, threshold: Double = 0.92,
                    maxCellSize: Int = 100000): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    require(maxCellSize > 1, s"maxCellSize must be > 1, got $maxCellSize")
    val data = prep(embeddings).cache()
    try {
      val cents = broadcast(
        trainCentroidsPrepped(data, nCentroids, iterations)
          .withColumn("cnorm", sqrt(dot("cv", "cv"))))
      val assigned = data.crossJoin(cents)
        .withColumn("__cs", round(dot("v", "cv") / (col("norm") * col("cnorm")), 6))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("cent_id"), col("v"), col("norm")),
            struct(col("__cs"), (-col("cent_id")).cast("long"))).as("s"),
          max(col("__cs")).as("__cs"))
        .select(col("vec_id"), col("s.cent_id").as("cent_id"),
          col("s.v").as("v"), col("s.norm").as("norm"),
          round(col("__cs") * 1000000).cast("long").as("ccos_micro"))
        // pair generation and the keep join both re-read this frame;
        // localCheckpoint also truncates the training lineage
        .localCheckpoint()
      val sizes = assigned.groupBy(col("cent_id")).agg(count(lit(1)).as("cell_n"))
      // the guard rides the CONSUMED vec_id column (a standalone guard
      // column would be pruned away, raise_error and all)
      val guarded = assigned.join(broadcast(sizes), Seq("cent_id"))
        .withColumn("vec_id", when(col("cell_n") > maxCellSize,
          raise_error(concat(lit(s"semanticDedup: cell "), col("cent_id"),
            lit(s" exceeds maxCellSize=$maxCellSize (size "), col("cell_n"),
            lit(") — raise nCentroids")))
          .cast("long")).otherwise(col("vec_id")))
        .drop("cell_n")
      val a = guarded.select(col("cent_id"), col("vec_id").as("doc_id_1"),
        col("v").as("va"), col("norm").as("na"))
      val b = guarded.select(col("cent_id"), col("vec_id").as("doc_id_2"),
        col("v").as("vb"), col("norm").as("nb"))
      val pairs = a.join(b, Seq("cent_id"))
        .filter(col("doc_id_1") < col("doc_id_2"))
        .filter(round(dot("va", "vb") / (col("na") * col("nb")), 6)
          >= threshold)
        .select(col("doc_id_1"), col("doc_id_2"))
      val comps = graft.text.Dedup.duplicateClusters(pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id").as("group_id"))
      val grouped = assigned.select(col("vec_id"), col("cent_id"), col("ccos_micro"))
        .join(comps, Seq("vec_id"), "left")
        .withColumn("group_id", coalesce(col("group_id"), col("vec_id")))
      val reps = grouped.groupBy(col("group_id"))
        .agg(min_by(col("vec_id"), struct(col("ccos_micro"), col("vec_id")))
          .as("rep_id"))
      // reps is group-cardinality (~N at 100 TB: mostly singletons) —
      // shuffle join on group_id, NOT a broadcast
      grouped.join(reps, Seq("group_id"))
        .select(col("vec_id"), col("cent_id"), col("ccos_micro"),
          col("group_id"), (col("vec_id") === col("rep_id")).as("keep"))
    } finally data.unpersist()
  }

  /** IVF (inverted-file) ANN: vectors are assigned to their
    * nearest-centroid cell once; a query scores only the cells of its
    * `nProbe` nearest centroids. Exact scoring inside probed cells, so
    * accuracy is governed purely by the probe count.
    *
    * Centroids are either the first `nCentroids` vectors by id
    * (`trainIterations = 0` — the cheap stand-in) or [[trainCentroids]]
    * output (`trainIterations > 0` — deterministic Lloyd's rounds, the
    * production form: recall at scale is governed by centroid quality).
    * Everything downstream of training is the same dataflow. Scale:
    * assignment is a broadcast of `nCentroids` rows against a pruned
    * scan (one pass, no shuffle); probing shuffles on cell ids —
    * Σ|probed cells| work per query instead of |vectors|.
    */
  def ivfTopK(spark: SparkSession, embeddings: DataFrame, queries: DataFrame,
              k: Int = 10, nCentroids: Int = 16, nProbe: Int = 4,
              trainIterations: Int = 0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val data = prep(embeddings).cache()
    try {
    // training reuses THIS cache (trainCentroidsPrepped does not manage
    // it): calling the public trainCentroids here would cache the same
    // logical plan, get deduped to this entry by the CacheManager, and
    // unpersist it out from under the post-training stages
    val centBase =
      if (trainIterations > 0)
        trainCentroidsPrepped(data, nCentroids, trainIterations)
          .withColumn("cnorm", sqrt(dot("cv", "cv")))
      else data.orderBy(col("vec_id")).limit(nCentroids) // smallest n ids (see trainCentroidsPrepped)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"),
          col("norm").as("cnorm"))
    val cents = broadcast(centBase)
    def withCentScores(df: DataFrame): DataFrame =
      df.crossJoin(cents)
        .withColumn("__cs", round(dot("v", "cv") / (col("norm") * col("cnorm")), 6))
    // data-side assignment via max_by: partial aggregation collapses the
    // C centroid scores per vector map-side, so the shuffle carries N
    // rows, not N×C (a window would shuffle the full product).
    // Tie-break: highest score, then LOWEST centroid id (negated long).
    val cells = withCentScores(data)
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cent_id"), col("v"), col("norm")),
        struct(col("__cs"), (-col("cent_id")).cast("long"))).as("s"))
      .select(col("vec_id"), col("s.cent_id"), col("s.v"), col("s.norm"))
    // query-side probing keeps nProbe cells; queries are few — a window
    // over |queries|·C rows is trivial at any scale
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cs").desc, col("cent_id").asc)
    val probes = withCentScores(
        prep(queries).select(col("vec_id").as("query_id"), col("v"), col("norm")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("cent_id"),
        col("v").as("qv"), col("norm").as("qnorm"))
    val scored = cells.join(probes, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot("v", "qv") / (col("norm") * col("qnorm")), 6).as("score"))
      .as[Scored]
    // eager-checkpoint the (≤ |queries|·k row) result; the finally
    // releases the embeddings cache even when a job in here fails —
    // the operator leaves no session-lifetime cache either way
    rankTopK(scored, k).localCheckpoint()
    } finally data.unpersist()
  }

  /** Sign-LSH bucketed ANN — the scale path. `nbits` deterministic
    * pseudo-random hyperplanes (components derived from xxhash64 of
    * (plane, dimension) — no RNG state, reproducible on any cluster);
    * vectors land in the bucket of their sign pattern and queries probe
    * only their own bucket. Recall follows the LSH collision curve and is
    * tunable via nbits; candidates within a bucket are scored exactly.
    *
    * Scale: signature computation is a projection pass; the only shuffle
    * is the (bucket ⋈ bucket) equi-join. At 100 TB the bucket join
    * replaces the full cross product with Σ|bucket|·|queries in bucket|.
    */
  def lshTopK(spark: SparkSession, embeddings: DataFrame, queries: DataFrame,
              k: Int = 10, nbits: Int = 8): DataFrame = {
    import spark.implicits._
    def sig(df: DataFrame): DataFrame = {
      val dim = vecDim(df)
      df.withColumn("bucket",
        (0 until nbits).map { i =>
          when(planeBit(i, dim), lit(1L << i)).otherwise(0L)
        }.reduce(_ bitwiseOR _))
    }
    val data = sig(prep(embeddings))
    val q = sig(prep(queries)).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("norm").as("qnorm"), col("bucket"))
    val scored = data.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot("v", "qv") / (col("norm") * col("qnorm")), 6).as("score"))
      .as[Scored]
    rankTopK(scored, k)
  }

  /** Product-quantization (PQ) ADC scan — the compressed-corpus ANN
    * tier. The vector space splits into `m` subspaces; each subspace gets
    * its own `codesPerSub`-entry codebook (deterministic fixed-point
    * Lloyd's rounds, L2² assignment — the PQ-classic metric), and every
    * corpus vector is stored as `m` small code ids. A query then scores
    * the WHOLE corpus from an `m × codesPerSub` distance table
    * (asymmetric distance computation): approximate inner product
    * `Σ_s ⟨q_s, codebook_s[code_s(x)]⟩`, accumulated in fixed-point so
    * incremental and replayed scores agree bit-for-bit.
    *
    * Scale posture: this is the 100 TB memory play, complementary to
    * [[ivfTopK]] (which prunes WHAT is scanned, while PQ shrinks each
    * scanned row to `m` bytes — a 64-dim float vector becomes 4 codes,
    * 64× smaller, so the scan that had to read 100 TB reads ~1.6 TB).
    * Training joins against a broadcast codebook (m·codesPerSub rows);
    * encoding is the same one-pass broadcast join; the ADC join carries
    * only (vec_id, s, code_id) — never raw vectors — and partial
    * aggregation collapses the per-subspace contributions map-side. The
    * classic IVF+PQ composition is exactly [[ivfTopK]]'s cell pruning
    * over these codes. Accuracy is bounded by quantization error, which
    * the oracle-gated query measures against the same-data exact ranks.
    */
  def pqTopK(spark: SparkSession, embeddings: DataFrame, queries: DataFrame,
             k: Int = 10, m: Int = 4, codesPerSub: Int = 16,
             trainIterations: Int = 2): DataFrame = {
    import spark.implicits._
    val data = prep(embeddings)
    val dim = vecDim(data)
    require(dim > 0 && dim % m == 0, s"vector dim $dim must split into $m subspaces")
    val sd = dim / m

    val subsData = pqSubspaces(data, "vec_id", m, sd).cache()
    try {
      val codes = trainPqCodebooks(data, subsData, m, sd, codesPerSub,
        trainIterations)

      // corpus → codes (this is the stored representation at scale)
      val encoded = pqAssign(subsData, codes)
        .select(col("vec_id"), col("s"), col("code_id"))

      // ADC: per-query distance table (|q|·m·codesPerSub rows, broadcast),
      // fixed-point partial inner products summed as longs
      val qsubs = pqSubspaces(prep(queries), "vec_id", m, sd)
        .select(col("vec_id").as("query_id"), col("s"), col("sv").as("qsv"))
      val dtab = qsubs.join(codes, Seq("s"))
        .select(col("query_id"), col("s"), col("code_id"),
          round(dot("qsv", "cv") * 1000000).cast("long").as("pd"))
      val scored = encoded.join(broadcast(dtab), Seq("s", "code_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("pd")).as("sp"))
        .select(col("query_id"), col("vec_id"),
          (col("sp").cast("double") / 1000000.0).as("score"))
        .as[Scored]
      rankTopK(scored, k).localCheckpoint()
    } finally subsData.unpersist()
  }

  // ---- PQ internals, shared with [[ServingIndex]] ----

  /** (id, s, sv): one row per vector per subspace; posexplode's pos IS
    * the subspace index s. */
  private[vector] def pqSubspaces(df: DataFrame, idCol: String, m: Int,
                                  sd: Int): DataFrame =
    df.select(col(idCol),
      posexplode(expr(s"transform(sequence(0, ${m - 1}), s -> slice(v, s * $sd + 1, $sd))"))
        .as(Seq("s", "sv")))

  /** L2² against a codebook entry, rounded for cross-engine replay. */
  private def pqD2(a: String, b: String) =
    round(dot(a, a) - lit(2) * dot(a, b) + dot(b, b), 6)

  /** Per-(vector, subspace) nearest code — min_by's struct order is
    * lexicographic ascending: smallest distance, then lowest code id. */
  private[vector] def pqAssign(subsData: DataFrame, codebook: DataFrame): DataFrame =
    subsData.join(broadcast(codebook), Seq("s"))
      .withColumn("__d2", pqD2("sv", "cv"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(struct(col("code_id"), col("sv")),
        struct(col("__d2"), col("code_id"))).as("a"))
      .select(col("vec_id"), col("s"), col("a.code_id").as("code_id"),
        col("a.sv").as("sv"))

  /** Deterministic per-subspace codebook training: seeds from the
    * codesPerSub smallest ids (code_id = the seed's vec_id — same
    * convention as ivfTopK's cent_id, no window), then fixed-point
    * coordinate means (1e-6 grid) per Lloyd's round — order-independent
    * integer sums, so the oracle's replay of the same grid agrees
    * exactly; empty codes keep their previous centroid (coalesce). */
  private[vector] def trainPqCodebooks(data: DataFrame, subsData: DataFrame,
                                       m: Int, sd: Int, codesPerSub: Int,
                                       iterations: Int): DataFrame = {
    val seeds = data.orderBy(col("vec_id")).limit(codesPerSub)
      .select(col("vec_id"), col("v"))
    var codes = pqSubspaces(seeds, "vec_id", m, sd)
      .select(col("s"), col("vec_id").cast("long").as("code_id"), col("sv").as("cv"))
      .localCheckpoint()
    for (_ <- 1 to iterations) {
      val means = pqAssign(subsData, codes)
        .select(col("s"), col("code_id"), posexplode(col("sv")).as(Seq("j", "x")))
        .groupBy(col("s"), col("code_id"), col("j"))
        .agg(sum(round(col("x") * 1000000).cast("long")).as("sx"), count(lit(1)).as("n"))
        .groupBy(col("s"), col("code_id"))
        .agg(expr("transform(array_sort(collect_list(struct(j, sx, n))), " +
          "e -> CAST(e.sx AS DOUBLE) / (1000000.0 * e.n))").as("cv"))
      codes = codes.select(col("s"), col("code_id"), col("cv").as("cv0"))
        .join(means, Seq("s", "code_id"), "left")
        .select(col("s"), col("code_id"), coalesce(col("cv"), col("cv0")).as("cv"))
        .localCheckpoint()
    }
    codes
  }
}
