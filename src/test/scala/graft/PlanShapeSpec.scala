package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import graft.functions.minhash_sig_ngrams
import graft.text.{Decontaminate, Dedup}

/** Physical-plan-shape assertions for the scale claims the scaladocs
  * make: where this library says "no shuffle" or "broadcast", the plan
  * must actually say so. These are the CI teeth behind PLAN_AUDIT.md.
  */
class PlanShapeSpec extends SparkTestBase {
  import spark.implicits._

  private def shuffles(df: DataFrame): Seq[SparkPlan] =
    executedPlanNodes(df).filter(_.isInstanceOf[ShuffleExchangeLike])

  private def broadcasts(df: DataFrame): Seq[SparkPlan] =
    executedPlanNodes(df).filter(_.isInstanceOf[BroadcastExchangeLike])

  private def docs(rows: (Long, String)*) = rows.toList.toDF("doc_id", "text")

  test("fused MinHash signature path is a pure projection: no shuffle, no generate") {
    val d = docs((1L, "a b c d e"), (2L, "f g h i j"))
    val sigs = d.select(col("doc_id"),
      minhash_sig_ngrams(Dedup.tokens(col("text")), 3, 16).as("sig"))
      .filter(col("sig").isNotNull)
    assert(shuffles(sigs).isEmpty, "signature stage must not shuffle")
    val plan = sigs.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), "signature stage must not explode rows")
  }

  test("fused SimHash path is a pure projection: no shuffle, no generate") {
    val d = docs((1L, "a b c"), (2L, "d e f"))
    val fp = Dedup.simhash(d)
    assert(shuffles(fp).isEmpty, "simhash must not shuffle")
    assert(!fp.queryExecution.executedPlan.toString.contains("Generate"))
  }

  test("decontamination broadcasts the eval shingle set; training side joins map-side") {
    val train = docs((1L, "a b c d e f g"), (2L, "p q r s t u v"))
    val eval = docs((10L, "z a b c d e zz"))
    val out = Decontaminate.overlaps(train, eval, n = 5)
    assert(broadcasts(out).nonEmpty, "eval shingles must broadcast")
    // only the eval-side distinct and the final per-doc aggregation may
    // shuffle — the training corpus itself reaches no exchange
    assert(shuffles(out).size <= 2,
      s"expected <=2 shuffles (eval distinct + result agg), got ${shuffles(out).size}")
  }

  test("repeatedSpans: two shuffles (window-hash rank, per-doc merge), narrow key") {
    val d = docs((1L, "a b c d e"), (2L, "z a b c d"))
    val out = Dedup.repeatedSpans(d, n = 3)
    assert(shuffles(out).size == 2,
      s"expected the (hash) and (doc) exchanges only, got ${shuffles(out).size}")
    val plan = out.queryExecution.executedPlan.toString
    // the shuffled duplicate key is the 16-byte xxhash64 pair, never the
    // window text or an md5 hex string (see repeatedSpans scaladoc for
    // the measured rejection of the count-gate alternative)
    assert(plan.contains("xxhash64"), "window key must be the xxhash64 pair")
    assert(!plan.contains("md5("), "no md5 string key may reach the plan")
  }

  test("cooccurrence pair generation shuffles the input once plus the pair aggregate") {
    val pt = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 11L))
      .toDF("playlist_id", "track_id")
    val pairs = graft.silver.Pipelines.cooccurrence(pt, "playlist_id", "track_id")
    // ONE input shuffle (groupBy key) + ONE pair-count aggregate — the
    // whole point of the grouped-generator rewrite vs the two join-side
    // exchanges + sorts of a self-join
    assert(shuffles(pairs).size == 2,
      s"expected group + pair-agg exchanges only, got ${shuffles(pairs).size}")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "pair generation must not plan a join")
  }

  test("fail-loud cap adds ZERO exchanges: the bound lives inside the agg buffer") {
    // the r6 contract: bounded_collect_set enforces the cap during
    // accumulation, so the fail-loud variant's plan is exchange-for-
    // exchange identical to the truncating one. A regression back to a
    // pre-pass guard (measured +70–130% at sf0.1, Explore preguardAB)
    // would show up here as extra exchanges.
    val pt = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 11L))
      .toDF("playlist_id", "track_id")
    val truncating = graft.silver.Pipelines.cooccurrence(pt, "playlist_id", "track_id")
    val failLoud = graft.silver.Pipelines.cooccurrence(pt, "playlist_id", "track_id",
      failOnOverflow = true)
    assert(shuffles(failLoud).size == shuffles(truncating).size,
      s"fail-loud path must not add exchanges: ${shuffles(failLoud).size} vs " +
        s"${shuffles(truncating).size}")
    val plan = failLoud.queryExecution.executedPlan.toString
    assert(plan.contains("bounded_collect_set"),
      "fail-loud path must aggregate through the in-buffer bound")
    assert(rows(failLoud) == rows(truncating),
      "under-cap results must be identical across the two modes")
  }

  test("crossNearDup candidates ride bucket equi-joins — no all-pairs product") {
    import graft.vector.Similarity
    val corpus = Similarity.prep((1 to 30).map(i =>
      (i.toLong, Seq(math.sin(i * 1.3).toFloat, math.cos(i * 0.7).toFloat,
        math.sin(i * 0.5 + 2).toFloat, 0.4f))).toDF("vec_id", "embedding"))
    val probes = Similarity.prep(Seq(
      (100L, Seq(0.3f, -0.7f, 0.5f, 0.9f)),
      (101L, Seq(-0.2f, 0.8f, 0.1f, -0.5f))).toDF("vec_id", "embedding"))
    val out = Similarity.crossNearDupFrame(corpus, probes, threshold = 0.95,
      bands = 4, rowsPerBand = 4, maxBucket = 100, failOnOverflow = true)
    val plan = executedPlanNodes(out).mkString("\n")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "cross candidates must come from band-key equi-joins, never a product")
    assert(plan.contains("bounded_collect_set"),
      "probe buckets must build through the in-buffer fail-loud bound")
  }

  test("brute-force cosine scoring broadcasts the query side, never the corpus") {
    val emb = (1L to 30L).map(i => (i, Array.fill(4)(i.toDouble))).toDF("vec_id", "embedding")
    val q = Seq((1L, Array.fill(4)(1.0))).toDF("vec_id", "embedding")
    val top = graft.vector.Similarity.cosineTopK(spark, emb, q, k = 3)
    assert(broadcasts(top).nonEmpty, "query side must broadcast")
    val plan = executedPlanNodes(top).mkString("\n")
    assert(!plan.contains("SortMergeJoin"),
      "corpus must stream through a broadcast join, not a shuffled join")
  }

  test("trending filter reaches the parquet scan as a pushed filter") {
    // written-to-parquet roundtrip so the scan is a real FileSourceScan;
    // the table carries an UNCONSUMED column so pruning has something to
    // actually prune (otherwise the assertion is vacuous)
    val dir = java.nio.file.Files.createTempDirectory("planshape").toString
    (1L to 50L).map(i => (i, if (i % 2 == 0) "complete_listen" else "skip", s"extra$i"))
      .toDF("track_id", "event_type", "unused_payload")
      .write.mode("overwrite").parquet(s"$dir/e")
    val q = spark.read.parquet(s"$dir/e")
      .filter(col("event_type") === "complete_listen")
      .select(col("track_id"))
    val plan = q.queryExecution.executedPlan.toString
    // the filter must appear INSIDE the PushedFilters bracket, not merely
    // anywhere in the plan text (a post-scan Filter also prints the name)
    val pushed = plan.substring(plan.indexOf("PushedFilters: [") + 16).takeWhile(_ != ']')
    assert(pushed.contains("event_type"),
      s"equality filter must be pushed to the scan, got PushedFilters [$pushed]")
    val readSchema = plan.substring(plan.indexOf("ReadSchema: ")).takeWhile(_ != '\n')
    assert(!readSchema.contains("unused_payload"),
      s"scan must prune the unconsumed column, got $readSchema")
  }

  // The two-pass bucketed prefix-sum operators claim "no corpus-scale
  // single-partition window": the only unpartitioned WindowExec in their
  // plans must be the per-BUCKET offsets pass (input ≈ |domain|/width
  // rows), every other window partitioned. Count them.
  private def unpartitionedWindows(df: DataFrame): Int =
    executedPlanNodes(df).count {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty
      case _ => false
    }

  test("applyMixture with precomputed thresholds is one broadcast-filter pass: zero shuffles") {
    val df = (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("doc_id", "source")
    val thr = Seq(("a", 5000L, 20L), ("b", 5000L, 20L))
      .toDF("category", "bucket_threshold", "n_before")
    val out = graft.text.Splits.applyMixture(df, "source", "doc_id", thr)
    assert(shuffles(out).isEmpty,
      s"applyMixture must not shuffle the corpus, got ${shuffles(out).size} exchanges")
    assert(broadcasts(out).nonEmpty, "thresholds must broadcast")
  }

  test("fkCoverage: dimension payload columns never cross an exchange") {
    val fact = (1L to 30L).map(Tuple1(_)).toDF("fk")
    val dim = (1L to 20L).map(i => (i, s"wide_payload_$i" * 5)).toDF("k", "payload_col")
    val out = graft.quality.Quality.fkCoverage(fact, "fk", dim, "k")
    val shuffled = executedPlanNodes(out).collect {
      case e: ShuffleExchangeLike => e.output.map(_.name)
    }.flatten
    assert(!shuffled.exists(_.contains("payload_col")),
      s"dim payload crossed an exchange: $shuffled")
  }

  test("bucketed prefix sums: exactly one unpartitioned window (the bucket offsets)") {
    val d = (1L to 40L).map(i => (i, s"tok$i tok${i % 7}")).toDF("doc_id", "text")
    assert(unpartitionedWindows(graft.text.Search.vocabGrowth(d, bucketWidth = 8)) == 1)
    val ev = (1L to 40L).map(i => (if (i % 2 == 0) "A" else "B", i.toDouble))
      .toDF("side", "value")
    assert(unpartitionedWindows(graft.analytics.Drift.ksStatistic(
      ev, "value", "side", lit("A"), lit("B"), bucketWidth = 8.0)) == 1)
    val keys = (1L to 40L).map(i => Tuple1(i % 9)).toDF("user_id")
    assert(unpartitionedWindows(
      graft.quality.Profile.skewReport(keys, Seq("user_id"), bucketWidth = 2)) == 1)
  }

  test("kwic is one projection pass: zero shuffles") {
    val d = docs((1L, "a b c d e"), (2L, "c a c"))
    val out = graft.text.Search.kwic(d, "c", width = 2)
    assert(shuffles(out).isEmpty, "kwic must not shuffle")
  }

  test("exactQuantiles windows run over histogram rows only, never data rows") {
    val df = (1L to 400L).map(i => Tuple1((i % 37).toDouble)).toDF("x")
    val out = graft.analytics.Quantiles.exactQuantiles(df, "x", Seq(2500, 7500), buckets = 16)
    // the round-1 bin prefix (the one global window, <= buckets rows)
    // runs inside the t1 localCheckpoint's job; the main plan must have
    // NO unpartitioned window at all — rounds 2/3 partition by q_bp
    assert(unpartitionedWindows(out) == 0)
    val plan = executedPlanNodes(out).mkString("\n")
    assert(!plan.contains("CartesianProduct"),
      "geometry/target frames must ride broadcasts, not products")
    assert(broadcasts(out).nonEmpty, "geometry must broadcast")
  }

  test("tokenImportanceNano broadcasts the bucket weight table into the per-doc sum") {
    val d = (1 to 20).map(i => (i.toLong, if (i % 2 == 0) "en" else "de",
      s"w${i % 5} w${i % 3}")).toDF("doc_id", "lang", "text")
    val out = graft.text.Importance.tokenImportanceNano(d, col("lang") === "en",
      nBuckets = 16)
    assert(broadcasts(out).nonEmpty, "weight table must broadcast")
    assert(!executedPlanNodes(out).mkString("\n").contains("SortMergeJoin"),
      "the corpus-side weight join must be map-side (broadcast), not a shuffle join")
  }

  test("blockDedup: narrow decision shuffles; bodies cross the wire once") {
    val d = docs((1L, "a b c d"), (2L, "a b x y"), (3L, "x y c d"))
    val out = Dedup.blockDedup(d, blockTokens = 2)
    // block-hash groupBy + kept-index groupBy are the only exchanges the
    // decision path may add; the rebuild join broadcasts the narrow
    // kept-index sets at this size (SMJ on doc_id at corpus scale)
    assert(shuffles(out).size <= 3,
      s"expected <=3 exchanges (hash agg, idx agg, rebuild), got ${shuffles(out).size}")
    assert(!executedPlanNodes(out).mkString("\n").contains("CartesianProduct"))
  }

  test("cohenKappa collapses to one global aggregate: a single exchange, no window") {
    val d = (1 to 40).map(i => (i % 2 == 0, i % 3 == 0)).toDF("ra", "rb")
    val out = graft.analytics.Eval.cohenKappa(d, "ra", "rb")
    // partial agg map-side, one exchange to the single final group
    assert(shuffles(out).size == 1,
      s"expected the one final-agg exchange, got ${shuffles(out).size}")
    assert(!executedPlanNodes(out).mkString("\n").contains("Window"))
  }

  test("calibrationBins: bin-key agg + scalar Brier ride <=3 exchanges; Brier broadcasts") {
    val d = (0 to 50).map(i => (i * 19000L, i % 2 == 0)).toDF("p", "y")
    val out = graft.analytics.Eval.calibrationBins(d, "p", "y")
    assert(broadcasts(out).nonEmpty, "the 1-row Brier frame must broadcast")
    // bin agg + scalar agg (+ the orderBy range exchange) — never a
    // data-sized join shuffle
    assert(shuffles(out).size <= 3,
      s"expected <=3 exchanges (bin agg, scalar agg, sort), got ${shuffles(out).size}")
    assert(!executedPlanNodes(out).mkString("\n").contains("CartesianProduct"))
  }

  test("rrfFusion windows rank only post-limit k-row frames, never the corpus") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{CollectLimitExec, TakeOrderedAndProjectExec}
    val d = (1 to 30).map(i =>
      (i.toLong, Seq.fill(i % 4 + 1)("spark").mkString(" ") + " filler"))
      .toDF("doc_id", "text")
    val out = graft.text.Search.rrfFusion(d, Seq("spark"), k = 5)
    val nodes = executedPlanNodes(out)
    // every WindowExec must sit above a limit (its input is a top-k
    // frame, k rows by construction) — walk each window's subtree and
    // demand a limit node below it
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "rank windows expected")
    windows.foreach { w =>
      def subtree(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val inner = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        p +: inner.flatMap(subtree)
      }
      val hasLimit = subtree(w).drop(1).exists {
        case _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
        case g: org.apache.spark.sql.execution.GlobalLimitExec => true
        case _ => false
      }
      assert(hasLimit, s"window ranks a non-limited frame:\n$w")
    }
  }

  test("trainingOrder: the only unpartitioned window runs over bucket rows, not data") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = (1L to 400L).map(Tuple1(_)).toDF("doc_id")
    val out = graft.text.Splits.trainingOrder(df, "doc_id")
    val windows = executedPlanNodes(out).collect { case w: WindowExec => w }
    // one window partitions by bucket (the per-bucket rank); the offset
    // window is unpartitioned but its input is the <=256-row bucket-count
    // aggregate — assert it sits above an aggregate, not the data scan
    val unpart = windows.filter(_.partitionSpec.isEmpty)
    assert(unpart.size == 1, s"expected exactly the offset window, got ${unpart.size}")
    assert(unpart.head.toString.contains("__c") ||
      unpart.head.child.toString.contains("HashAggregate"),
      "the unpartitioned window must consume the bucket-count aggregate")
    assert(broadcasts(out).nonEmpty, "bucket offsets must broadcast back")
  }

  test("negative sampling explodes the user list, not the positives, and anti-joins once") {
    val pos = (1L to 50L).flatMap(u => Seq((u, u % 7), (u, u % 11)))
      .toDF("user_id", "track_id")
    val out = graft.recommend.NegativeSampling.sample(pos, 100L, 3, 10)
    val plan = executedPlanNodes(out).mkString("\n")
    assert(plan.contains("Generate"), "the bounded trial explode must exist")
    assert(!plan.contains("CartesianProduct"))
    // windows key on user (keep-first + top-k): no unpartitioned window
    import org.apache.spark.sql.execution.window.WindowExec
    val unpart = executedPlanNodes(out)
      .collect { case w: WindowExec => w }.filter(_.partitionSpec.isEmpty)
    assert(unpart.isEmpty, "no global window in the sampling path")
  }

  test("lengthBuckets is one map-side-combinable agg on <=|caps| keys: one exchange") {
    val d = (1 to 30).map(i => (i.toLong, Seq.fill(i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.text.Splits.lengthBuckets(d, caps = Seq(8L, 16L, 32L))
    // cap-key agg + the output orderBy range exchange; no join, no window
    assert(shuffles(out).size <= 2,
      s"expected <=2 exchanges (cap agg, sort), got ${shuffles(out).size}")
    val plan = executedPlanNodes(out).mkString("\n")
    assert(!plan.contains("Window") && !plan.contains("Join"))
  }

  test("prioritySample's global structure is TakeOrdered heaps, never a full sort") {
    val d = (1L to 500L).map(i => (i, i % 37 + 1)).toDF("doc_id", "wt")
    val out = graft.operators.Sampling.prioritySample(d, "doc_id", "wt", k = 10)
    val plan = executedPlanNodes(out).mkString("\n")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-(k+1) must run as bounded per-partition heaps")
    // the data-sized term never crosses a SortExec: the only sorts allowed
    // are inside the <=k+1-row TakeOrdered output — assert none standalone
    import org.apache.spark.sql.execution.SortExec
    assert(executedPlanNodes(out).collect { case s: SortExec => s }.isEmpty,
      "no full sort of the corpus")
  }

  test("jlSketch is a pure projection: zero exchanges") {
    val d = (1L to 20L).map(i => (i, Seq.fill(8)(0.1f))).toDF("vec_id", "embedding")
    val out = graft.vector.Project.jlSketch(d, "vec_id", "embedding", 8, 4)
    assert(shuffles(out).isEmpty && broadcasts(out).isEmpty,
      "the projection must be map-only")
  }

  test("nextFitPack shuffles once (the shard partitioning)") {
    val d = (1L to 100L).map(i => (i, i % 9 + 1)).toDF("doc_id", "tok")
    val out = graft.operators.Packing.nextFitPack(d, "doc_id", "tok",
      shards = 8, capacity = 16)
    assert(shuffles(out).size == 1,
      s"expected exactly the shard exchange, got ${shuffles(out).size}")
  }

  test("kmv set-op estimates read the stored sketch table, not the fact rows") {
    // pairwise frame: both sides come from the tiny checkpointed sketch
    // frame, so the pair join must not re-aggregate fact rows — the
    // envelope's exact gate is the only fact-sized consumer
    val ev = (1L to 200L).map(i => (s"t${i % 3}", i % 41)).toDF("seg", "uid")
    val out = graft.operators.Sketches.kmvSetOpsEnvelope(ev, "seg", "uid", k = 32)
    // crossJoin call sites carry 1-row frames only: no cartesian of data
    assert(!executedPlanNodes(out).mkString("\n").contains("CartesianProduct")
      || out.count() == 3, "pair frame stays segment-sized")
  }

  test("ANN serving reads ONLY the stored index, with cell partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_serveidx").toString
    val corpusPath = s"$dir/corpus"
    val idx = s"$dir/idx"
    val emb = (1L to 60L).map { i =>
      (i, Seq.tabulate(8)(j => ((i * 31 + j * 7) % 23).toFloat / 23f))
    }.toDF("vec_id", "embedding")
    emb.write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    graft.vector.ServingIndex.build(spark, corpus, idx,
      nCentroids = 4, m = 2, codesPerSub = 4, trainIterations = 1)
    val queries = emb.limit(2) // external payload, not a corpus scan
    val served = graft.vector.ServingIndex.serve(spark, idx, queries,
      k = 5, nProbe = 2)
    served.count()
    val scans = executedPlanNodes(served)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected file scans of the stored index")
    // every file the serving plan reads lives under the index path —
    // the raw corpus is never rescanned
    scans.foreach { f =>
      val roots = f.relation.location.rootPaths.map(_.toString)
      assert(roots.forall(_.contains("/idx")),
        s"serving must not scan outside the index: $roots")
      assert(roots.forall(!_.contains("corpus")),
        s"serving rescanned the corpus: $roots")
    }
    // the codes scan is partition-pruned to the probed cells
    val codesScan = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("codes")))
    assert(codesScan.nonEmpty, "expected a scan of the codes table")
    codesScan.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        "codes scan must carry cent_id partition filters")
    }
    // incremental growth is deterministic and complete: two
    // independently grown (build-half + append-half) indexes serve
    // identically, and the grown index covers vectors from BOTH halves
    // (assignment/codes are pure functions of vector + stored tables)
    def grow(at: String): DataFrame = {
      graft.vector.ServingIndex.build(spark,
        corpus.filter(col("vec_id") % 2 === 0), at,
        nCentroids = 4, m = 2, codesPerSub = 4, trainIterations = 1)
      graft.vector.ServingIndex.append(spark, at,
        corpus.filter(col("vec_id") % 2 === 1))
      graft.vector.ServingIndex.serve(spark, at, queries, k = 5, nProbe = 2)
    }
    val grown = grow(s"$dir/idx2")
    assert(rowSet(grown) == rowSet(grow(s"$dir/idx3")),
      "grown indexes with identical stored tables must serve identically")
    val servedIds = grown.select(col("vec_id")).as[Long].collect().toSet
    assert(servedIds.exists(_ % 2 == 1), "appended (odd) vectors must be servable")
  }
  test("versioned readAsOf prunes the metadata columns it did not ask for") {
    import graft.ingest.Versioned
    val tbl = java.nio.file.Files.createTempDirectory("graft_plan_vread")
      .toString + "/tbl"
    Versioned.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "t"), tbl)
    // a plain read computes __rel/__pos internally and drops them — the
    // FINAL scan must not materialize row_index or file_path per row
    val df = Versioned.read(spark, tbl).select(col("id"))
    val scans = executedPlanNodes(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    scans.foreach { sc =>
      val out = sc.output.map(_.name)
      assert(!out.exists(n => n.contains("row_index") || n.contains("_metadata")),
        s"unpruned metadata columns in scan output: $out")
    }
  }

  test("recommendSym scores in one aggregate: one hash exchange, no merge join, lazy build") {
    import graft.recommend.Recommender
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.window.WindowExec
    val sim = (1L to 40L).flatMap(a => Seq((a, a % 7 + 1, 2L), (a, a % 5 + 20, 1L)))
      .toDF("track_id_1", "track_id_2", "score")
    val likes = (1L to 30L).map(i => (i % 4, i)).toDF("user_id", "track_id")
    val follows = Seq((1L, 2L), (1L, 3L), (2L, 1L)).toDF("user_id_a", "user_id_b")
    val trending = (1L to 40L).map(i => (i, i % 9)).toDF("track_id", "play_count")
    // size-based broadcasting off: every broadcast in the plan must be
    // one the scorer asks for, so the four-way full-outer merge would
    // show up as sort-merge joins here
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (df, jobs) = org.apache.spark.sql.graftshim.JobProbe.jobsStarted(spark) {
        Recommender.recommendSym(sim, sim, trending, follows, likes, userId = 1L, k = 5)
      }
      assert(jobs == 0, s"building the request must start no Spark job, saw $jobs")
      val nodes = executedPlanNodes(df)
      val hashShuffles = nodes.collect {
        case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
      }
      assert(hashShuffles.size == 1,
        s"expected the per-track aggregate's exchange only, got ${hashShuffles.size}")
      assert(!nodes.exists(_.nodeName.contains("SortMergeJoin")),
        "no candidate source may be sort-merge joined")
      assert(!nodes.exists { case w: WindowExec => w.partitionSpec.isEmpty; case _ => false },
        "the trending max must not funnel through an unpartitioned window")
      assert(df.collect().length == 5)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("merge-on-read scan anti-joins the deletion vector as the BROADCAST side") {
    import graft.ingest.Versioned
    val tbl = java.nio.file.Files.createTempDirectory("graft_plan_mor")
      .toString + "/tbl"
    Versioned.overwrite((1L to 64L).map(i => (i, s"v$i")).toDF("id", "t"), tbl)
    Versioned.deleteWhereMoR(spark, tbl, col("id") % 7 === 0L)
    val df = Versioned.read(spark, tbl)
    assert(df.count() == 55L)
    val joins = executedPlanNodes(df).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.exists(_.joinType.toString == "LeftAnti"),
      "the DV anti-join must be a broadcast hash join (AQE broadcasts " +
        "the small vector side), not a shuffled join: " +
        executedPlanNodes(df).map(_.nodeName).distinct.mkString(", "))
  }

}
