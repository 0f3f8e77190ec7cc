package graft

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.sql.functions._

import graft.ingest.Versioned

/** Round-14 data-skipping surface: timestamp/date zone maps (the
  * reference's flagship 7-day-window shape prunes files on an
  * UNPARTITIONED table), per-file null counts with IS [NOT] NULL
  * skipping and all-null-column pruning, the per-conjunct
  * [[Versioned.SkipReport]] diagnostics, and the V1 relation that
  * carries all of it to the SQL surface. Every pruning assertion is
  * paired with a result-neutrality assertion against the plain
  * filtered scan (the q261 invariant). */
class VersionedSkipSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Five commits of ten rows each, disjoint one-day timestamp ranges
    * (2024-03-01 .. 2024-03-05), UNPARTITIONED single-file commits —
    * the reference's events-table shape. */
  private def tsTable(): String = {
    val tbl = tmp("ts") + "/tbl"
    for (day <- 1 to 5) {
      val rows = (0 until 10).map { i =>
        (day * 100L + i, ts(f"2024-03-$day%02d 0$i:30:00"), s"d$day-r$i")
      }.toDF("id", "event_ts", "note").coalesce(1)
      if (day == 1) Versioned.overwrite(rows, tbl)
      else Versioned.append(rows, tbl)
    }
    tbl
  }

  test("timestamp-range predicate prunes files on an unpartitioned table") {
    val tbl = tsTable()
    // the flagship shape: a trailing window over event_ts
    val pred = col("event_ts") >= ts("2024-03-04 00:00:00")
    val (df, kept, total) = Versioned.readAsOfWhere(spark, tbl, 5L, pred)
    assert(total == 5, s"expected 5 single-file commits, got $total")
    assert(kept == 2, s"ts >= Mar-4 must keep exactly days 4-5, kept $kept")
    // result-neutral vs the plain filtered scan
    assert(rows(df) == rows(Versioned.read(spark, tbl).filter(pred)))
    // a bounded window keeps exactly its one day
    val window = col("event_ts") >= ts("2024-03-02 00:00:00") &&
      col("event_ts") < ts("2024-03-03 00:00:00")
    val (wdf, wkept, _) = Versioned.readAsOfWhere(spark, tbl, 5L, window)
    assert(wkept == 1, s"one-day window must keep 1 file, kept $wkept")
    assert(wdf.count() == 10L)
    // java.time.Instant literals normalize identically (UTC session tz)
    val inst = java.time.Instant.parse("2024-03-04T00:00:00Z")
    val (idf, ikept, _) =
      Versioned.readAsOfWhere(spark, tbl, 5L, col("event_ts") >= lit(inst))
    assert(ikept == 2 && idf.count() == 20L)
  }

  test("date and timestamp_ntz zone maps prune; mismatched types do not") {
    val tbl = tmp("dt") + "/tbl"
    for (m <- 1 to 4) {
      val rows = (1 to 5).map { i =>
        (m * 10L + i, Date.valueOf(f"2024-$m%02d-$i%02d"),
          LocalDateTime.parse(f"2024-$m%02d-$i%02dT12:00:00"))
      }.toDF("id", "d", "ntz").coalesce(1)
      if (m == 1) Versioned.overwrite(rows, tbl) else Versioned.append(rows, tbl)
    }
    val dPred = col("d") >= Date.valueOf("2024-03-01")
    val (ddf, dkept, dtotal) = Versioned.readAsOfWhere(spark, tbl, 4L, dPred)
    assert(dtotal == 4 && dkept == 2, s"date range kept $dkept/$dtotal")
    assert(rows(ddf) == rows(Versioned.read(spark, tbl).filter(dPred)))
    // LocalDate literal form prunes the same
    val (_, dkept2, _) = Versioned.readAsOfWhere(spark, tbl, 4L,
      col("d") >= lit(java.time.LocalDate.parse("2024-03-01")))
    assert(dkept2 == 2)
    // NTZ literal against the NTZ column
    val nPred = col("ntz") < lit(LocalDateTime.parse("2024-02-01T00:00:00"))
    val (ndf, nkept, _) = Versioned.readAsOfWhere(spark, tbl, 4L, nPred)
    assert(nkept == 1, s"ntz upper bound must keep only January, kept $nkept")
    assert(rows(ndf) == rows(Versioned.read(spark, tbl).filter(nPred)))
    // date isin: two members, two files
    val inPred = col("d").isin(Date.valueOf("2024-01-03"), Date.valueOf("2024-04-02"))
    val (indf, inkept, _) = Versioned.readAsOfWhere(spark, tbl, 4L, inPred)
    assert(inkept == 2 && indf.count() == 2L)
    // a DATE literal against the NTZ column: type families differ, so
    // the conjunct must scan conservatively (prune nothing), never
    // compare days against micros
    val (mdf, mkept, mtotal) = Versioned.readAsOfWhere(spark, tbl, 4L,
      col("ntz") >= lit(java.time.LocalDate.parse("2024-03-01")))
    assert(mkept == mtotal, s"cross-type comparison must not prune ($mkept/$mtotal)")
    assert(mdf.count() ==
      Versioned.read(spark, tbl)
        .filter(col("ntz") >= lit(java.time.LocalDate.parse("2024-03-01"))).count())
  }

  test("null-count stats: IS NULL / IS NOT NULL and all-null-column pruning") {
    val tbl = tmp("nulls") + "/tbl"
    // f1: no nulls; f2: mixed; f3: score entirely null
    Versioned.overwrite(Seq[(Long, Option[Long], String)](
        (1L, Some(10L), "a"), (2L, Some(20L), "b"))
      .toDF("id", "score", "t").coalesce(1), tbl)
    Versioned.append(Seq[(Long, Option[Long], String)](
        (3L, Some(30L), "c"), (4L, None, "d"))
      .toDF("id", "score", "t").coalesce(1), tbl)
    Versioned.append(Seq[(Long, Option[Long], String)](
        (5L, None, "e"), (6L, None, "f"))
      .toDF("id", "score", "t").coalesce(1), tbl)
    val (nn, nnKept, nnTotal) =
      Versioned.readAsOfWhere(spark, tbl, 3L, col("score").isNotNull)
    assert(nnTotal == 3 && nnKept == 2,
      s"isNotNull must prune the all-null file ($nnKept/$nnTotal)")
    assert(rowSet(nn.select(col("id"))).map(_.head) == Set(1L, 2L, 3L))
    val (isn, isnKept, _) =
      Versioned.readAsOfWhere(spark, tbl, 3L, col("score").isNull)
    assert(isnKept == 2, s"isNull must prune the no-null file ($isnKept)")
    assert(rowSet(isn.select(col("id"))).map(_.head) == Set(4L, 5L, 6L))
    // a COMPARISON can't be satisfied on the all-null file either,
    // even though that file archives no min/max for the column
    val (cmp, cmpKept, _) =
      Versioned.readAsOfWhere(spark, tbl, 3L, col("score") > 0L)
    assert(cmpKept == 2,
      s"score > 0 must prune the all-null file f3 only, kept $cmpKept")
    assert(cmp.count() == 3L) // ids 1,2,3
  }

  test("skip report: per-conjunct pruned counts and ignored-shape reasons") {
    val tbl = tsTable()
    // ids are day*100+i: the ts conjunct excludes days 1-2, the id
    // conjunct excludes days 4-5 — their intersection is day 3 only
    val pred = col("event_ts") >= ts("2024-03-03 00:00:00") &&
      length(col("note")) > lit(2) && col("id") < 390L
    val (df, rep) = Versioned.readAsOfWhereReport(spark, tbl, 5L, pred)
    assert(rep.filesTotal == 5)
    assert(rep.conjuncts.size == 3, rep.conjuncts.map(_.conjunct).toString)
    val tsC = rep.conjuncts.find(_.conjunct.startsWith("event_ts >=")).get
    assert(tsC.skippable && tsC.prunedFiles == 2, tsC.toString)
    val lenC = rep.conjuncts.find(c => !c.skippable).get
    assert(lenC.prunedFiles == 0 &&
      lenC.detail.contains("row filter"), lenC.toString)
    val idC = rep.conjuncts.find(_.conjunct.startsWith("id <")).get
    assert(idC.skippable && idC.prunedFiles == 2, idC.toString)
    assert(rep.filesKept == 1 && df.count() == 10L,
      s"only day-3 survives both skippable conjuncts " +
        s"(kept ${rep.filesKept}, rows ${df.count()})")
    // a skippable conjunct over a column with NO archived stats says so
    val noStats = tmp("nostats") + "/t"
    Versioned.overwrite(Seq((1L, 0.5d), (2L, 1.5d)).toDF("id", "w"), noStats)
    val (_, rep2) = Versioned.readAsOfWhereReport(spark, noStats, 1L,
      col("w") > lit(1.0d))
    val wC = rep2.conjuncts.head
    assert(wC.skippable && wC.prunedFiles == 0 &&
      wC.detail.contains("no archived min/max stats"), wC.toString)
  }

  test("string zone maps: equality, ranges, isin and prefixes prune by p8 order") {
    val tbl = tmp("str") + "/tbl"
    Versioned.overwrite(Seq((1L, "apple"), (2L, "apricot"))
      .toDF("id", "w").coalesce(1), tbl)
    Versioned.append(Seq((3L, "banana"), (4L, "blueberry"))
      .toDF("id", "w").coalesce(1), tbl)
    Versioned.append(Seq((5L, "cherry"), (6L, "date"))
      .toDF("id", "w").coalesce(1), tbl)
    def probe(pred: org.apache.spark.sql.Column): (Long, Int, Long) = {
      val (df, kept, total) = Versioned.readAsOfWhere(spark, tbl, 3L, pred)
      assert(total == 3)
      val full = Versioned.read(spark, tbl).filter(pred).count()
      assert(df.count() == full, s"result-neutrality broke for $pred")
      (df.count(), kept, full)
    }
    assert(probe(col("w") === "banana")._2 == 1)
    assert(probe(col("w") < "b")._2 == 1) // only the apple/apricot file
    assert(probe(col("w") >= "ch")._2 == 1) // only cherry/date
    assert(probe(col("w").isin("apricot", "date"))._2 == 2)
    assert(probe(col("w").startsWith("bl"))._2 == 1) // blueberry's file
    assert(probe(col("w").startsWith("z"))._2 == 0) // nothing above "view"
    // report says what the prefix conjunct did
    val (_, rep) = Versioned.readAsOfWhereReport(spark, tbl, 3L,
      col("w").startsWith("bl"))
    assert(rep.conjuncts.head.conjunct == "w LIKE 'bl%'" &&
      rep.conjuncts.head.prunedFiles == 2, rep.conjuncts.head.toString)
    // strings sharing the 8-byte prefix cannot be distinguished: the
    // projection is non-strict, so equality stays conservative
    val tie = tmp("strtie") + "/tbl"
    Versioned.overwrite(Seq((1L, "prefix12aaa")).toDF("id", "w").coalesce(1), tie)
    Versioned.append(Seq((2L, "prefix12bbb")).toDF("id", "w").coalesce(1), tie)
    val (tdf, tKept, tTotal) =
      Versioned.readAsOfWhere(spark, tie, 2L, col("w") === "prefix12zzz")
    assert(tTotal == 2 && tKept == 2,
      s"p8 ties must keep both files ($tKept/$tTotal)")
    assert(tdf.count() == 0L) // the re-applied filter decides
  }

  test("OR disjunctions, !=, and NOT prune when every branch is refuted") {
    val tbl = tsTable() // 5 single-day files, ids day*100+i
    // a file failing EVERY branch is excluded; day-5 (ts) and day-1
    // (id) each satisfy one branch
    val orPred = col("event_ts") >= ts("2024-03-05 00:00:00") ||
      col("id") < 150L
    val (odf, oKept, oTotal) = Versioned.readAsOfWhere(spark, tbl, 5L, orPred)
    assert(oTotal == 5 && oKept == 2, s"OR must keep days 1 and 5 ($oKept)")
    assert(rows(odf) == rows(Versioned.read(spark, tbl).filter(orPred)))
    // an opaque branch makes the whole disjunction conservative
    val (_, cKept, _) = Versioned.readAsOfWhere(spark, tbl, 5L,
      length(col("note")) > lit(50) || col("id") < 150L)
    assert(cKept == 5, "an opaque branch must keep every file")
    // AND inside an OR branch
    val mixed = (col("id") >= 200L && col("id") < 300L) ||
      col("event_ts") >= ts("2024-03-05 00:00:00")
    val (mdf, mKept, _) = Versioned.readAsOfWhere(spark, tbl, 5L, mixed)
    assert(mKept == 2 && mdf.count() == 20L)
    // !=: prunes only a single-point file
    val ne = tmp("ne") + "/tbl"
    Versioned.overwrite(Seq((7L, "x"), (7L, "y")).toDF("k", "t")
      .coalesce(1), ne)
    Versioned.append(Seq((1L, "a"), (5L, "b")).toDF("k", "t")
      .coalesce(1), ne)
    val (ndf, nKept, nTotal) =
      Versioned.readAsOfWhere(spark, ne, 2L, col("k") =!= 7L)
    assert(nTotal == 2 && nKept == 1,
      s"!= must prune the all-sevens file ($nKept/$nTotal)")
    assert(ndf.count() == 2L)
    // NOT of a range flips it; NOT IN becomes an AND of !=
    val (nrdf, nrKept, _) =
      Versioned.readAsOfWhere(spark, ne, 2L, !(col("k") < 6L))
    assert(nrKept == 1 && nrdf.count() == 2L, s"NOT(<6) keeps sevens only")
    val (nidf, niKept, _) = Versioned.readAsOfWhere(spark, ne, 2L,
      !col("k").isin(7L))
    assert(niKept == 1 && nidf.count() == 2L,
      s"NOT IN (7) prunes the all-sevens file ($niKept)")
    // SQL surface: OR pushes as sources.Or through the relation
    Versioned.registerViewAsOfSkipping(spark, tbl, 5L, "skip_or_view")
    val k0 = Versioned.relationFilesKept.get()
    val n = spark.sql(
      """SELECT count(*) AS n FROM skip_or_view
        |WHERE event_ts >= TIMESTAMP'2024-03-05 00:00:00' OR id < 150
        |""".stripMargin).head().getLong(0)
    assert(n == 20L)
    assert(Versioned.relationFilesKept.get() - k0 == 2L,
      "SQL OR must prune to two files via the pushed sources.Or")
  }

  test("Column, expr text and SQL WHERE keep the same files and rows") {
    // five single-file commits: k spans [1,2], {7, null}, [9,10], all
    // null and [5,6]; w spans [apple,pear], [peach,plum], {zeta, null},
    // [fig,kiwi] and [grape,prune]; x is a double (no zone map)
    val tbl = tmp("parity") + "/tbl"
    Seq(
      Seq((1L, "apple", Option(1L)), (2L, "pear", Option(2L))),
      Seq((3L, "plum", Option(7L)), (4L, "peach", None)),
      Seq((5L, "zeta", Option(9L)), (6L, null, Option(10L))),
      Seq((7L, "kiwi", None), (8L, "fig", None)),
      Seq((9L, "prune", Option(5L)), (10L, "grape", Option(6L)))
    ).zipWithIndex.foreach { case (rs, i) =>
      val frame = rs.toDF("id", "w", "k")
        .withColumn("x", col("id") * 0.5d).coalesce(1)
      if (i == 0) Versioned.overwrite(frame, tbl) else Versioned.append(frame, tbl)
    }
    Versioned.registerViewAsOfSkipping(spark, tbl, 5L, "skip_parity")
    // (Column, the same predicate as SQL text, files every path keeps)
    val table = Seq[(org.apache.spark.sql.Column, String, Int)](
      (col("k") <=> lit(null), "k <=> NULL", 2),
      (col("k") <=> 7L, "k <=> 7", 1),
      (col("w").like("p%"), "w LIKE 'p%'", 3),
      (lit(5L) < col("k"), "5 < k", 3),
      (!col("k").isin(7L, 8L), "k NOT IN (7, 8)", 3),
      ((col("k") >= 1L && col("k") < 3L) ||
        (col("w") === "zeta" && col("k").isNotNull),
        "(k >= 1 AND k < 3) OR (w = 'zeta' AND k IS NOT NULL)", 2),
      (col("x") > lit(1.0d), "x > 1.0D", 5),
      // NOT (k <=> 7) holds on k's nulls: the {7, null} file must stay
      (!(col("k") <=> 7L), "NOT (k <=> 7)", 5))
    table.foreach { case (pred, text, want) =>
      val (cdf, cKept, total) = Versioned.readAsOfWhere(spark, tbl, 5L, pred)
      val (edf, eKept, _) = Versioned.readAsOfWhere(spark, tbl, 5L, expr(text))
      val k0 = Versioned.relationFilesKept.get()
      val sqlRows = rows(spark.sql(s"SELECT * FROM skip_parity WHERE $text"))
      val sKept = Versioned.relationFilesKept.get() - k0
      assert(total == 5)
      assert((cKept, eKept, sKept) == ((want, want, want.toLong)),
        s"$text: Column kept $cKept, expr kept $eKept, SQL kept $sKept, want $want")
      val full = rows(Versioned.read(spark, tbl).filter(pred))
      assert(rows(cdf) == full && rows(edf) == full && sqlRows == full,
        s"$text: the three surfaces must return the full filtered scan's rows")
    }
  }

  test("FUZZ: random predicates over random tables are always result-neutral") {
    // the adversarial form of the q261 invariant: for ANY predicate —
    // matched or MISmatched literal types, nulls, opaque shapes —
    // pruning must never change the result. A single wrongly-pruned
    // file shows up as a row-set diff at the failing seed.
    val rnd = new scala.util.Random(421L)
    def randTable(): (String, Long) = {
      val tbl = tmp("fuzz") + "/t"
      val commits = 2 + rnd.nextInt(3)
      (1 to commits).foreach { c =>
        val base = rnd.nextInt(50)
        val rows = (1 to 4 + rnd.nextInt(5)).map { i =>
          val n: java.lang.Long =
            if (rnd.nextInt(4) == 0) null
            else java.lang.Long.valueOf((base + rnd.nextInt(30)).toLong)
          (c * 100L + i, n,
            Seq("alpha", "beta", "gamma", "delta", "prefix12aa",
              "prefix12bb")(rnd.nextInt(6)),
            Date.valueOf(f"2024-${1 + rnd.nextInt(6)}%02d-${1 + rnd.nextInt(28)}%02d"),
            ts(f"2024-${1 + rnd.nextInt(6)}%02d-${1 + rnd.nextInt(28)}%02d " +
              f"${rnd.nextInt(24)}%02d:00:00"))
        }.toDF("id", "n", "s", "d", "t").coalesce(1)
        if (c == 1) Versioned.overwrite(rows, tbl)
        else Versioned.append(rows, tbl)
      }
      (tbl, commits.toLong)
    }
    def randConjunct(): org.apache.spark.sql.Column = {
      val name = Seq("id", "n", "s", "d", "t")(rnd.nextInt(5))
      val c = col(name)
      // literals stay in a Spark-comparable family for the column; the
      // date<->timestamp cross is legal in Spark but refuses to prune
      // here (unit mismatch), exercising the conservative path
      def v0(): Any = name match {
        case "id" | "n" => (rnd.nextInt(80)).toLong
        case "s" => Seq("alpha", "beta", "gamma", "prefix12zz")(rnd.nextInt(4))
        case "d" if rnd.nextInt(4) == 0 =>
          ts(f"2024-${1 + rnd.nextInt(6)}%02d-15 12:00:00")
        case "d" => Date.valueOf(f"2024-${1 + rnd.nextInt(6)}%02d-15")
        case _ if rnd.nextInt(4) == 0 =>
          Date.valueOf(f"2024-${1 + rnd.nextInt(6)}%02d-15")
        case _ => ts(f"2024-${1 + rnd.nextInt(6)}%02d-15 12:00:00")
      }
      rnd.nextInt(12) match {
        case 0 => c === lit(v0())
        case 1 => c < lit(v0())
        case 2 => c >= lit(v0())
        case 3 => lit(v0()) > c // mirrored
        case 4 => c.isNull
        case 5 => c.isNotNull
        case 6 => c.isin(v0(), v0())
        case 7 => c <=> lit(v0())
        case 8 => c <=> lit(null)
        case 9 => lit(v0()) <= c // mirrored
        case 10 => lit(v0()) === c // mirrored
        case _ if name == "s" =>
          if (rnd.nextBoolean()) c.startsWith("pre") else c.like("p%")
        case _ => length(c.cast("string")) > lit(3) // opaque shape
      }
    }
    (1 to 25).foreach { trial =>
      val (tbl, head) = randTable()
      val pred = (1 to 1 + rnd.nextInt(3)).map { _ =>
        val base = randConjunct()
        rnd.nextInt(5) match {
          case 0 => !base // negation path
          case 1 => base || randConjunct() // disjunction path
          case _ => base
        }
      }.reduce(_ && _)
      val (df, kept, total) = Versioned.readAsOfWhere(spark, tbl, head, pred)
      assert(kept <= total)
      val want = Versioned.read(spark, tbl).filter(pred)
      assert(rows(df) == rows(want),
        s"trial $trial: pruning changed the result for $pred " +
          s"(kept $kept/$total)")
    }
  }

  test("SQL surface: a view over the V1 relation prunes from plain WHERE") {
    val tbl = tsTable()
    Versioned.registerViewAsOfSkipping(spark, tbl, 5L, "skip_events")
    val k0 = Versioned.relationFilesKept.get()
    val t0 = Versioned.relationFilesTotal.get()
    val got = spark.sql(
      """SELECT id, note FROM skip_events
        |WHERE event_ts >= TIMESTAMP'2024-03-04 00:00:00' ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(Versioned.relationFilesTotal.get() - t0 == 5L,
      "the scan must have consulted all five active files' metadata")
    assert(Versioned.relationFilesKept.get() - k0 == 2L,
      "SQL WHERE must prune to the two matching files")
    val want = Versioned.read(spark, tbl)
      .filter(col("event_ts") >= ts("2024-03-04 00:00:00"))
      .orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == want, "SQL view result must equal the full filtered scan")
    // IS NOT NULL pushes too; a no-filter query scans everything
    val k1 = Versioned.relationFilesKept.get()
    assert(spark.sql("SELECT count(*) AS n FROM skip_events").head().getLong(0) == 50L)
    assert(Versioned.relationFilesKept.get() - k1 == 5L,
      "an unfiltered query keeps all files")
  }

  test("SQL surface composes with deletion vectors and time travel") {
    val tbl = tsTable()
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 401L) // v6, dv on day-4 file
    Versioned.registerViewAsOfSkipping(spark, tbl, 6L, "skip_ev_dv")
    val n = spark.sql(
      """SELECT count(*) AS n FROM skip_ev_dv
        |WHERE event_ts >= TIMESTAMP'2024-03-04 00:00:00'""".stripMargin)
      .head().getLong(0)
    assert(n == 19L, s"20 rows in days 4-5 minus one MoR-deleted, got $n")
    // versionAsOf travels: the pre-delete view still sees the row
    val pre = spark.read.format("graft-table").option("versionAsOf", "5")
      .load(tbl).filter(col("id") === 401L)
    assert(pre.count() == 1L)
    // the registered shortName resolves through META-INF services
    val viaShort = spark.read.format("graft-table").load(tbl)
    assert(viaShort.count() == 49L)
  }
}
