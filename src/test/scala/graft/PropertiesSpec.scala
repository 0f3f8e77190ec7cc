package graft

import org.scalacheck.Gen
import graft.analytics.Behavior
import graft.graph.Paths
import graft.operators.{Merge, Sessionize}
import graft.recommend.Recommender
import graft.silver.Pipelines
import graft.text.{Dedup, Fuzzy}

/** Property-based invariants (SURVEY §5 item 3):
  *   1. co-occurrence canonical form: every pair satisfies t1 < t2 and the
  *      score equals the number of groups containing both items;
  *   2. anti-join exclusion: no recommended track is ever a liked track;
  *   3. score additivity: pair score over a union of group-disjoint inputs
  *      = sum of the per-input scores;
  *   4. operators checked against an in-memory brute-force replay: the
  *      latest-wins upsert, gap sessionization, bounded BFS, retention,
  *      edit-distance pairs and repeated-span excision;
  *   5. the dedup family: simhashPairs equals brute-force Hamming pairs
  *      (pigeonhole banding is complete for distance <= maxHamming);
  *      minhashLsh is exact in precision against ngramJaccard and always
  *      recalls identical documents; duplicateClusters equals brute-force
  *      connected components (min labels, membership, is_kept); plus
  *      packByBudget, Chunker.chunks and the Splits bucket rule.
  *
  * ScalaCheck generators are sampled with fixed seeds (no scalatest
  * bridge in the offline dependency set): deterministic, reproducible
  * failures. Frames stay tiny — the property space, not data scale, is
  * what's explored.
  */
class PropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private val pairGen: Gen[List[(Long, Long)]] =
    Gen.listOf(for {
      g <- Gen.choose(1L, 5L)
      t <- Gen.choose(1L, 8L)
    } yield (g, t))

  test("cooccurrence: canonical t1 < t2, exact counts, complete pair set") {
    samples(pairGen).foreach { ps =>
      val out = Pipelines.cooccurrence(ps.toDF("g", "t"), "g", "t").collect()
      val sets = ps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      out.foreach { r =>
        val (t1, t2, score) = (r.getLong(0), r.getLong(1), r.getLong(2))
        assert(t1 < t2, s"non-canonical pair ($t1, $t2)")
        val expected = sets.values.count(s => s.contains(t1) && s.contains(t2))
        assert(score == expected, s"pair ($t1,$t2): score $score != $expected")
      }
      val expectedPairs = sets.values.flatMap(s =>
        for (a <- s; b <- s if a < b) yield (a, b)).toSet
      assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == expectedPairs)
    }
  }

  test("crossNearDup: exact precision (subset of brute force), planted recall") {
    import graft.vector.Similarity
    val vecGen: Gen[Seq[Float]] =
      Gen.listOfN(6, Gen.choose(-1.0f, 1.0f)).map(_.toSeq)
    samples(Gen.zip(Gen.listOfN(12, vecGen), Gen.listOfN(3, vecGen)), n = 4)
      .foreach { case (corpusVs, probeVs) =>
        val corpus = corpusVs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        // plant: probe 0 leaks into the corpus near-identically
        val leak = (900L, probeVs.head.zipWithIndex.map {
          case (x, i) => if (i == 0) x + 1e-4f else x })
        val probes = probeVs.zipWithIndex.map { case (v, i) => (100L + i, v) }
        val threshold = 0.9
        val got = rows(Similarity.crossNearDup(
            (corpus :+ leak).toDF("vec_id", "embedding"),
            probes.toDF("vec_id", "embedding"), threshold = threshold)
          .select("corpus_id", "probe_id", "cosine"))
        // brute force over the same prepped frames (shared zero-norm contract)
        def cos(a: Seq[Float], b: Seq[Float]): Double = {
          val (ad, bd) = (a.map(_.toDouble), b.map(_.toDouble))
          val (na, nb) = (math.sqrt(ad.map(x => x * x).sum), math.sqrt(bd.map(x => x * x).sum))
          if (na == 0 || nb == 0) Double.NaN
          else BigDecimal(ad.zip(bd).map { case (x, y) => x * y }.sum / (na * nb))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        val brute = (for {
          (cid, cv) <- corpus :+ leak
          (pid, pv) <- probes
          c = cos(cv, pv) if !c.isNaN && c >= threshold
        } yield Seq[Any](cid, pid)).toSet
        // precision: every emitted pair is a true pair (scores re-checked
        // loosely — Spark sums left-to-right, the test oracle may differ
        // in the last ulp before rounding, so compare to 1e-5)
        got.foreach { r =>
          assert(brute.contains(r.take(2)),
            s"false positive ${r.take(2)} not in brute-force set")
          val expected = cos(corpus.toMap.getOrElse(r.head.asInstanceOf[Long],
            leak._2), probes.toMap.apply(r(1).asInstanceOf[Long]))
          assert(math.abs(r(2).asInstanceOf[Double] - expected) < 1e-5)
        }
        // recall on the planted near-identical pair specifically: cosine
        // ≈ 1 − 10⁻⁸, all-bands-miss probability ~10⁻²⁰ — a miss is a bug
        if (cos(leak._2, probeVs.head) >= threshold)
          assert(got.exists(r => r.take(2) == Seq[Any](900L, 100L)),
            "planted near-identical leak not recalled")
      }
  }

  test("recommend: output is disjoint from the user's likes") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("track_id_1", "track_id_2", "score")
    val noFollows = Seq.empty[(Long, Long)].toDF("user_id_a", "user_id_b")
    samples(Gen.zip(pairGen, pairGen), n = 6).foreach { case (likesRaw, trendRaw) =>
      val likes = likesRaw.map { case (u, t) => (u % 3, t) }.toDF("user_id", "track_id")
      val trending = trendRaw.groupBy(_._1).view.mapValues(_.map(_._2).sum + 1)
        .toList.toDF("track_id", "play_count")
      val sim = likesRaw.map { case (a, b) => (math.min(a, b), math.max(a, b) + 1, 2L) }
        .distinct.toDF("track_id_1", "track_id_2", "score")
      val out = Recommender.recommend(sim, empty, trending, noFollows, likes,
        userId = 1L, k = 10).collect().map(_.getLong(0)).toSet
      val liked = likesRaw.collect { case (u, t) if u % 3 == 1L => t }.toSet
      assert(out.intersect(liked).isEmpty,
        s"recommended already-liked tracks: ${out.intersect(liked)}")
    }
  }

  test("cooccurrenceProbed equals the full operator restricted to probe-touching pairs") {
    samples(Gen.zip(pairGen, Gen.nonEmptyListOf(Gen.choose(1L, 8L))), n = 8)
      .foreach { case (ps, probeRaw) =>
        val probe = probeRaw.map(Tuple1(_)).toDF("track_id")
        val full = Pipelines.cooccurrence(ps.toDF("g", "t"), "g", "t").collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
          .filter { case ((a, b), _) => probeRaw.contains(a) || probeRaw.contains(b) }
        val probed = Pipelines.cooccurrenceProbed(ps.toDF("g", "t"), "g", "t", probe)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(probed == full, s"probe=$probeRaw input=$ps")
      }
  }

  test("cooccurrenceProbedSym equals symmetrize∘cooccurrenceProbed anchored on the probe") {
    samples(Gen.zip(pairGen, Gen.nonEmptyListOf(Gen.choose(1L, 8L))), n = 8)
      .foreach { case (ps, probeRaw) =>
        val probe = probeRaw.map(Tuple1(_)).toDF("track_id")
        val viaSym = Pipelines.symmetrize(
            Pipelines.cooccurrenceProbed(ps.toDF("g", "t"), "g", "t", probe))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
          .filter { case ((a, _), _) => probeRaw.contains(a) }
        val direct = Pipelines.cooccurrenceProbedSym(ps.toDF("g", "t"), "g", "t", probe)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(direct == viaSym, s"probe=$probeRaw input=$ps")
      }
  }

  test("cooccurrence: additivity over group-disjoint unions") {
    samples(pairGen, n = 6).foreach { ps =>
      val left = ps
      val right = ps.map { case (g, t) => (g + 100, (t * 7) % 8 + 1) }
      def scores(xs: List[(Long, Long)]): Map[(Long, Long), Long] =
        Pipelines.cooccurrence(xs.toDF("g", "t"), "g", "t").collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val both = scores(left ++ right)
      val (sl, sr) = (scores(left), scores(right))
      val merged = (sl.keySet ++ sr.keySet).map(k =>
        k -> (sl.getOrElse(k, 0L) + sr.getOrElse(k, 0L))).toMap
      assert(both == merged)
    }
  }


  // ---------------------------------------------------------------- upsert

  private val upsertGen: Gen[(List[(Long, Long, Long)], List[(Long, Long, Long)])] =
    for {
      base <- Gen.listOf(for { k <- Gen.choose(1L, 6L); v <- Gen.choose(0L, 99L) } yield (k, v, 0L))
      upd <- Gen.listOf(for {
        k <- Gen.choose(1L, 6L); v <- Gen.choose(0L, 99L); ver <- Gen.choose(1L, 9L)
      } yield (k, v, ver))
    } yield (base.groupBy(_._1).values.map(_.head).toList, upd)

  test("upsert == brute-force latest-wins merge on random change sets") {
    samples(upsertGen).foreach { case (base, upd0) =>
      // make the precedence total within each key: (ver, v) must be unique
      val upd = upd0.groupBy(t => (t._1, t._3, t._2)).values.map(_.head).toList
      val got = Merge.upsert(base.toDF("k", "v", "ver"), upd.toDF("k", "v", "ver"),
          Seq("k"), Seq("ver", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val updByKey = upd.groupBy(_._1).view
        .mapValues(_.maxBy(t => (t._3, t._2))).toMap
      val want = (base.filterNot(b => updByKey.contains(b._1)) ++ updByKey.values).toSet
      assert(got == want, s"base=$base upd=$upd")
    }
  }

  // ------------------------------------------------------------- sessionize

  private val eventsGen: Gen[List[(Long, Long, Long)]] =
    Gen.listOf(for {
      u <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 50L)
    } yield (u, t)).map(_.distinct.zipWithIndex.map { case ((u, t), i) => (u, i.toLong, t) })

  test("sessionize == brute-force islands under any gap") {
    samples(eventsGen).foreach { evs =>
      for (gap <- Seq(1L, 5L, 20L)) {
        val got = Sessionize.assign(evs.toDF("u", "id", "t"), "u", "t", "id", gap)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("session_no")).toMap
        // brute force: sort per user by (t, id), split when gap exceeded
        val want = evs.groupBy(_._1).flatMap { case (u, es) =>
          val sorted = es.sortBy(e => (e._3, e._2))
          var sess = 0L; var prev = Long.MinValue
          sorted.map { e =>
            if (prev == Long.MinValue || e._3 - prev > gap) sess += 1
            prev = e._3
            (u, e._2) -> sess
          }
        }
        assert(got == want, s"gap=$gap evs=$evs")
      }
    }
  }

  // -------------------------------------------------------------------- bfs

  private val graphGen: Gen[List[(Long, Long)]] =
    Gen.listOf(for { a <- Gen.choose(1L, 10L); b <- Gen.choose(1L, 10L) if a != b } yield (a, b))

  test("bfs == brute-force bounded shortest hops from seed 1") {
    samples(graphGen).foreach { es =>
      val maxHops = 3
      val got = Paths.bfs(es.toDF("s", "d"), "s", "d", Seq(1L).toDF("id"), maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute force BFS over the adjacency map
      val adj = es.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var dist = Map(1L -> 0L)
      var frontier = Set(1L)
      for (h <- 1 to maxHops) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
          .filterNot(dist.contains)
        dist = dist ++ frontier.map(_ -> h.toLong)
      }
      assert(got == dist, s"edges=$es")
    }
  }

  // -------------------------------------------------------------- retention

  test("retention == brute force on random activity") {
    samples(eventsGen).foreach { evs =>
      val day = 7L // small "day" length not needed — use raw offsets via µs scale
      val scaled = evs.map { case (u, id, t) => (u, t * 86400000000L / day) }
      val got = Behavior.retention(scaled.toDF("u", "us"), "u", "us", maxOffsetDays = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val days = scaled.map { case (u, us) => (u, us / 86400000000L) }.distinct
      val cohort = days.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val want = days.map { case (u, d) => (cohort(u), d - cohort(u), u) }
        .filter(_._2 <= 2)
        .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).distinct.size.toLong).toMap
      assert(got == want, s"evs=$scaled")
    }
  }

  // ------------------------------------------------------------ edit-dist

  private val wordGen: Gen[List[String]] =
    Gen.listOf(Gen.choose(4, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))).map(_.distinct)

  test("editDistancePairs == brute-force levenshtein over a small alphabet") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    samples(wordGen).foreach { ws =>
      val got = Fuzzy.editDistancePairs(ws.toDF("w"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val want = (for (a <- ws; b <- ws if a < b && lev(a, b) <= 1) yield (a, b)).toSet
      assert(got == want, s"vocab=$ws")
    }
  }

  // ------------------------------------------------- repeated substrings

  // tiny alphabet + short docs → plenty of cross-doc window collisions
  private val corpusGen: Gen[List[(Long, String)]] =
    Gen.listOfN(5, Gen.listOfN(12, Gen.oneOf("x", "y")).map(_.mkString(" ")))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  test("repeatedSpans == brute-force keep-first window excision") {
    val n = 3
    samples(corpusGen).foreach { corpus =>
      // brute force: every (doc, pos) window except the globally-first
      // occurrence of its text is cut; merge overlapping cuts per doc
      val wins = for {
        (id, text) <- corpus
        toks = text.split(" ")
        pos <- 0 to toks.length - n
      } yield (id, pos, toks.slice(pos, pos + n).mkString(" "))
      val first = wins.groupBy(_._3).view.mapValues(_.minBy(w => (w._1, w._2))).toMap
      val cuts = wins.filterNot(w => first(w._3) == w)
        .map(w => (w._1, w._2, w._2 + n))
      val want = cuts.groupBy(_._1).flatMap { case (id, cs) =>
        cs.sortBy(_._2).foldLeft(List.empty[(Long, Int, Int)]) {
          case (acc, (_, s, e)) => acc match {
            case (aid, as, ae) :: rest if s <= ae => (aid, as, math.max(ae, e)) :: rest
            case _ => (id, s, e) :: acc
          }
        }
      }.map { case (id, s, e) => (id, s.toLong, e.toLong, (e - s).toLong) }.toSet
      val got = graft.text.Dedup.repeatedSpans(
          corpus.toDF("doc_id", "text"), n = n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want, s"corpus=$corpus")
    }
  }


  /** Replicates Splits.bucket: first 8 md5-hex chars of the id string,
    * base-16 → long, mod 10000. */
  private def bucket(id: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(8), 16) % 10000
  }

  test("simhashPairs == brute-force hamming pairs on random corpora") {
    // tiny token alphabet → heavy fingerprint collisions → a dense pair
    // space that exercises candidate buckets AND the exact verify
    val docGen = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" "))
    samples(Gen.listOfN(14, docGen), n = 4).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val fps = Dedup.simhash(docs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (for {
        a <- fps.keys; b <- fps.keys if a < b
        h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 3
      } yield Seq[Any](a, b, h.toLong)).toSet
      val got = rows(Dedup.simhashPairs(docs, maxHamming = 3)).toSet
      assert(got == want,
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("minhashLsh: exact precision vs ngramJaccard, identical docs always recalled") {
    val docGen = Gen.listOfN(6, Gen.oneOf("u", "v", "w", "x", "y", "z")).map(_.mkString(" "))
    samples(Gen.listOfN(10, docGen), n = 4).foreach { texts =>
      // plant an exact duplicate of doc 0 under id 100: all bands agree
      // on identical signatures, so recall of this pair is deterministic
      val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+ (100L, texts.head)
      val docs = all.toDF("doc_id", "text")
      val exact = rows(Dedup.ngramJaccard(docs, n = 3, threshold = 0.4))
        .map(r => (r(0), r(1)) -> r(2)).toMap
      val lsh = rows(Dedup.minhashLsh(docs, n = 3, bands = 32, rows = 2, threshold = 0.4))
      lsh.foreach { r =>
        assert(exact.get((r(0), r(1))).contains(r(2)),
          s"pair (${r(0)},${r(1)}) score ${r(2)} not in exact output")
      }
      assert(lsh.exists(r => r(0) == 0L && r(1) == 100L && r(2) == 1.0),
        "planted identical pair (0,100) not recalled at jaccard 1.0")
    }
  }

  test("packByBudget == brute-force per-bucket prefix-sum packing") {
    import graft.text.Splits
    val rowGen = Gen.listOf(Gen.zip(Gen.choose(0L, 40L), Gen.choose(1L, 50L)))
      .map(_.distinctBy(_._1)).suchThat(_.nonEmpty)
    samples(rowGen, n = 6).foreach { docs =>
      val got = rows(Splits.packByBudget(docs.toDF("doc_id", "n_chars"),
          "doc_id", "n_chars", budget = 60, buckets = 4)
        .select("doc_id", "pack_bucket", "pack_id")).toSet
      val want = docs.groupBy(d => bucket(d._1) % 4).flatMap { case (b, ds) =>
        var before = 0L
        ds.sortBy(_._1).map { case (id, w) =>
          val pid = before / 60
          before += w
          Seq[Any](id, b, pid)
        }
      }.toSet
      assert(got == want,
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("Chunker.chunks == brute-force sliding windows on random corpora") {
    val docGen = Gen.choose(1, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd")))
    samples(Gen.listOfN(8, docGen), n = 4).foreach { docsTokens =>
      val docs = docsTokens.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toDF("doc_id", "text")
      val got = rows(graft.text.Chunker.chunks(docs, chunkSize = 5, stride = 3)).toSet
      val want = docsTokens.zipWithIndex.flatMap { case (ts, i) =>
        (0 to math.max(ts.size - 1, 0) by 3).zipWithIndex.map { case (start, cid) =>
          val sl = ts.slice(start, start + 5)
          Seq[Any](i.toLong, cid.toLong, sl.size.toLong, sl.mkString(" "))
        }
      }.toSet
      assert(got == want,
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("Splits.assign matches the md5 bucket threshold rule") {
    import graft.text.Splits
    samples(Gen.listOf(Gen.choose(0L, 100000L)).map(_.distinct).suchThat(_.nonEmpty),
        n = 4).foreach { ids =>
      val got = rows(Splits.assign(ids.map(Tuple1(_)).toDF("doc_id"), "doc_id")).toSet
      val want = ids.map { id =>
        val bk = bucket(id)
        Seq[Any](id,
          if (bk < 8000) "train" else if (bk < 9000) "val" else "test")
      }.toSet
      assert(got == want)
    }
  }

  test("duplicateClusters == brute-force connected components on random graphs") {
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) })
      .suchThat(_.nonEmpty)
    samples(edgeGen, n = 6).foreach { es =>
      val pairs = es.toDF("doc_id_1", "doc_id_2")
      // brute force: union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(d => Seq[Any](d, find(d), d == find(d))).toSet
      val got = rows(Dedup.duplicateClusters(pairs)).toSet
      assert(got == want,
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }
}
