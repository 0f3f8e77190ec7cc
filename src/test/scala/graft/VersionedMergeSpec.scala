package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.{Fingerprint, Rewrite, Versioned}
import graft.ingest.Versioned._

/** The row-level write path (ingest/Rewrite): full conditional MERGE
  * INTO (Versioned.merge) — every Delta clause shape, conditional
  * matched update/delete, conditional insert, NOT MATCHED BY SOURCE
  * update/delete — plus first-match-wins ordering, the multiple-match
  * refusal, CoW file sharing and certification of every version
  * through the merge; the merge-on-read twin's parity with it; the
  * planning guards (the isin threshold, the broadcast hint and its
  * estimator short-circuit); and schema evolution with type widening
  * across appendEvolve, merge and mergeMoR. */
class VersionedMergeSpec extends SparkTestBase {
  import spark.implicits._

  private def base(rows: (Long, String, Long)*) =
    rows.toDF("id", "status", "amount")

  private def df(rows: (Long, String)*) = rows.toDF("id", "t")

  private def certified(tbl: String, v: Long): Boolean = {
    val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
    val asOf = Versioned.readAsOf(spark, tbl, v)
    val r = asOf.agg(count(lit(1)),
      coalesce(sum(Fingerprint.rowDigest(
        asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
    (r.getLong(0), r.getLong(1)) == ((n, fp))
  }

  /** The clause lists of this spec without a BY SOURCE clause, each
    * with the seed table and source it runs on and whether it evolves
    * the schema: `merge` and `mergeMoR` must agree on all of them. */
  private def parityCases: Seq[(String, DataFrame, DataFrame, Seq[MergeClause], Boolean)] = {
    val seed3 = base((1L, "open", 10L), (2L, "open", 20L), (3L, "closed", 30L))
    val src5 = Seq((1L, "open", 11L), (2L, "skip", 0L), (3L, "closed", 0L),
      (4L, "new", 40L), (5L, "new", 3L)).toDF("id", "status", "amount")
    val noted = Seq((2L, "open", 21L, "patched"), (4L, "new", 40L, "fresh"))
      .toDF("id", "status", "amount", "note")
    val narrow = Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c")).toDF("id", "n", "t")
    val wide = Seq((2L, 3000000000L, "B", 7L), (4L, 40L, "D", 8L))
      .toDF("id", "n", "t", "extra")
    Seq(
      ("matched delete / update / insert *", seed3, src5, Seq(
        WhenMatchedDelete(Some(col("status") === "closed")),
        WhenMatchedUpdate(Map("amount" -> srcCol("amount"),
          "status" -> srcCol("status"))),
        WhenNotMatchedInsert()), false),
      ("conditional insert", seed3, src5,
        Seq(WhenNotMatchedInsert(cond = Some(srcCol("amount") >= 10L))), false),
      ("first match wins", seed3, src5, Seq(
        WhenMatchedUpdate(Map("amount" -> lit(1L))), WhenMatchedDelete()), false),
      ("update only", seed3, src5,
        Seq(WhenMatchedUpdate(Map("amount" -> srcCol("amount")))), false),
      ("insert * only, duplicate source keys", seed3,
        Seq((7L, "a", 1L), (7L, "b", 2L), (1L, "c", 3L)).toDF("id", "status", "amount"),
        Seq(WhenNotMatchedInsert()), false),
      ("update + insert *", seed3, src5, Seq(
        WhenMatchedUpdate(Map("amount" -> srcCol("amount"))),
        WhenNotMatchedInsert()), false),
      ("conditional delete / update / insert", seed3, src5, Seq(
        WhenMatchedDelete(Some(col("status") === "closed")),
        WhenMatchedUpdate(Map("amount" -> srcCol("amount")),
          Some(srcCol("status") =!= "skip")),
        WhenNotMatchedInsert(cond = Some(srcCol("amount") >= 10L))), false),
      ("delete only", seed3, src5, Seq(WhenMatchedDelete()), false),
      ("evolving update + insert *", seed3, noted, Seq(
        WhenMatchedUpdate(Map("amount" -> srcCol("amount"),
          "note" -> srcCol("note"))),
        WhenNotMatchedInsert()), true),
      ("evolving update of a new column", seed3, noted,
        Seq(WhenMatchedUpdate(Map("note" -> srcCol("note")))), true),
      ("insert referencing target columns", df(1L -> "a", 2L -> "b"),
        df(2L -> "B2", 3L -> "C", 4L -> "D"), Seq(
          WhenMatchedUpdate(Map("t" -> srcCol("t"))),
          WhenNotMatchedInsert(
            Map("id" -> srcCol("id"),
              "t" -> when(col("t").isNull, concat(srcCol("t"), lit("!")))
                .otherwise(lit("IMPOSSIBLE"))),
            cond = Some(col("id").isNull && srcCol("id") % 2 === 1))), false),
      ("delete by source condition + insert *", df(1L -> "a", 4L -> "d"),
        df(4L -> "D4", 6L -> "F"), Seq(
          WhenMatchedDelete(Some(srcCol("id") === 4L)), WhenNotMatchedInsert()), false),
      ("evolving widen + add", narrow, wide, Seq(
        WhenMatchedUpdate(Map("n" -> srcCol("n"), "t" -> srcCol("t"),
          "extra" -> srcCol("extra"))),
        WhenNotMatchedInsert()), true))
  }

  test("matched update / matched-and delete / not-matched insert in one commit") {
    val tbl = tmp("triad") + "/tbl"
    Versioned.overwrite(base((1L, "open", 10L)), tbl)
    Versioned.append(base((2L, "open", 20L), (3L, "closed", 30L)), tbl)
    val src = Seq((1L, "open", 11L), (3L, "closed", 0L), (4L, "new", 40L))
      .toDF("id", "status", "amount")
    Versioned.merge(spark, tbl, src, Seq("id"), Seq(
      // matched + closed → delete; matched otherwise → update from source
      WhenMatchedDelete(Some(col("status") === "closed")),
      WhenMatchedUpdate(Map("amount" -> srcCol("amount"),
        "status" -> srcCol("status"))),
      WhenNotMatchedInsert() // INSERT *
    ))
    assert(rowSet(Versioned.read(spark, tbl)) == Set(
      Seq(1L, "open", 11L), Seq(2L, "open", 20L), Seq(4L, "new", 40L)))
  }

  test("conditional insert filters source rows; unclaimed sources are ignored") {
    val tbl = tmp("condins") + "/tbl"
    Versioned.overwrite(base((1L, "open", 10L)), tbl)
    val src = Seq((2L, "new", 5L), (3L, "new", 50L)).toDF("id", "status", "amount")
    Versioned.merge(spark, tbl, src, Seq("id"), Seq(
      WhenNotMatchedInsert(cond = Some(srcCol("amount") >= 10L))))
    assert(rowSet(Versioned.read(spark, tbl)) == Set(
      Seq(1L, "open", 10L), Seq(3L, "new", 50L)))
  }

  test("NOT MATCHED BY SOURCE: conditional update then delete") {
    val tbl = tmp("bysrc") + "/tbl"
    Versioned.overwrite(
      base((1L, "open", 10L), (2L, "open", 20L), (3L, "stale", 30L)), tbl)
    val src = Seq((1L, "open", 11L)).toDF("id", "status", "amount")
    Versioned.merge(spark, tbl, src, Seq("id"), Seq(
      WhenMatchedUpdate(Map("amount" -> srcCol("amount"))),
      WhenNotMatchedBySourceDelete(Some(col("status") === "stale")),
      WhenNotMatchedBySourceUpdate(Map("status" -> lit("orphan")))))
    assert(rowSet(Versioned.read(spark, tbl)) == Set(
      Seq(1L, "open", 11L), Seq(2L, "orphan", 20L)))
  }

  test("first-match-wins within a population") {
    val tbl = tmp("order") + "/tbl"
    Versioned.overwrite(base((1L, "open", 100L)), tbl)
    val src = Seq((1L, "x", 0L)).toDF("id", "status", "amount")
    // both clauses match; the FIRST (update) must win over the delete
    Versioned.merge(spark, tbl, src, Seq("id"), Seq(
      WhenMatchedUpdate(Map("amount" -> lit(1L))),
      WhenMatchedDelete()))
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(1L, "open", 1L)))
  }

  test("multiple source rows matching one target row are refused") {
    val tbl = tmp("dup") + "/tbl"
    Versioned.overwrite(base((1L, "open", 10L)), tbl)
    val src = Seq((1L, "a", 1L), (1L, "b", 2L)).toDF("id", "status", "amount")
    val e = intercept[IllegalStateException] {
      Versioned.merge(spark, tbl, src, Seq("id"),
        Seq(WhenMatchedUpdate(Map("amount" -> srcCol("amount")))))
    }
    assert(e.getMessage.contains("multiple source rows"))
    // duplicate keys that match NOTHING (insert-only) are fine
    val ins = Seq((7L, "a", 1L), (7L, "b", 2L)).toDF("id", "status", "amount")
    Versioned.merge(spark, tbl, ins, Seq("id"), Seq(WhenNotMatchedInsert()))
    assert(Versioned.read(spark, tbl).count() == 3L)
  }

  test("CoW shares untouched files; pure insert rewrites nothing") {
    val tbl = tmp("cow") + "/tbl"
    Versioned.overwrite(base((1L, "open", 10L)).coalesce(1), tbl)
    Versioned.append(base((2L, "open", 20L)).coalesce(1), tbl)
    val src = Seq((2L, "open", 21L)).toDF("id", "status", "amount")
    val c = Versioned.merge(spark, tbl, src, Seq("id"), Seq(
      WhenMatchedUpdate(Map("amount" -> srcCol("amount")))))
    assert(c.remove.size == 1, "only the file holding id=2 is rewritten")
    val ins = Seq((9L, "new", 90L)).toDF("id", "status", "amount")
    val c2 = Versioned.merge(spark, tbl, ins, Seq("id"),
      Seq(WhenNotMatchedInsert()))
    assert(c2.remove.isEmpty, "pure insert is an append-shaped commit")
  }

  test("every version replays certified through a merge; time travel intact") {
    val tbl = tmp("cert") + "/tbl"
    Versioned.overwrite(base((1L, "open", 10L), (2L, "open", 20L)), tbl)
    val src = Seq((1L, "open", 11L), (3L, "new", 30L))
      .toDF("id", "status", "amount")
    Versioned.merge(spark, tbl, src, Seq("id"), Seq(
      WhenMatchedUpdate(Map("amount" -> srcCol("amount"))),
      WhenNotMatchedInsert()))
    (1L to Versioned.latestVersion(spark, tbl)).foreach { v =>
      val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
      val asOf = Versioned.readAsOf(spark, tbl, v)
      val r = asOf.agg(count(lit(1)),
        coalesce(sum(graft.ingest.Fingerprint.rowDigest(
          asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
      assert((r.getLong(0), r.getLong(1)) == ((n, fp)), s"v$v certified")
    }
    assert(Versioned.readAsOf(spark, tbl, 1L).count() == 2L)
  }

  test("mergeMoR: same clause semantics, zero rewrites, unclaimed matches untouched") {
    val tbl = tmp("mor") + "/tbl"
    Versioned.overwrite(
      base((1L, "open", 10L), (2L, "open", 20L), (3L, "closed", 30L)), tbl)
    val src = Seq((1L, "open", 11L), (2L, "skip", 0L), (3L, "closed", 0L),
      (4L, "new", 40L), (5L, "new", 3L)).toDF("id", "status", "amount")
    val c = Versioned.mergeMoR(spark, tbl, src, Seq("id"), Seq(
      WhenMatchedDelete(Some(col("status") === "closed")),
      WhenMatchedUpdate(Map("amount" -> srcCol("amount")),
        Some(srcCol("status") =!= "skip")),
      WhenNotMatchedInsert(cond = Some(srcCol("amount") >= 10L))))
    assert(c.remove.isEmpty, "MoR rewrites nothing")
    assert(c.dv.nonEmpty, "claimed matches are tombstoned")
    // id=1 updated, id=2 matched but UNCLAIMED (skip cond) -> untouched,
    // id=3 deleted, id=4 inserted, id=5 insert cond fails
    assert(rowSet(Versioned.read(spark, tbl)) == Set(
      Seq(1L, "open", 11L), Seq(2L, "open", 20L), Seq(4L, "new", 40L)))
    (1L to 2L).foreach { v =>
      val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
      val asOf = Versioned.readAsOf(spark, tbl, v)
      val r = asOf.agg(count(lit(1)),
        coalesce(sum(graft.ingest.Fingerprint.rowDigest(
          asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
      assert((r.getLong(0), r.getLong(1)) == ((n, fp)), s"v$v certified")
    }
    // the parity table: one clause compiler, so equal rows and equal
    // archived totals on identical tables
    parityCases.zipWithIndex.foreach { case ((what, seed, source, clauses, evolve), i) =>
      val dir = tmp(s"parity$i")
      Versioned.overwrite(seed, s"$dir/cow")
      Versioned.overwrite(seed, s"$dir/mor")
      Versioned.merge(spark, s"$dir/cow", source, Seq("id"), clauses, evolve)
      Versioned.mergeMoR(spark, s"$dir/mor", source, Seq("id"), clauses, evolve)
      assert(rowSet(Versioned.read(spark, s"$dir/cow")) ==
        rowSet(Versioned.read(spark, s"$dir/mor")), what)
      assert(Versioned.archivedFingerprint(spark, s"$dir/cow", 2L) ==
        Versioned.archivedFingerprint(spark, s"$dir/mor", 2L), what)
      assert(certified(s"$dir/mor", 2L), what)
    }
    // ...and the same refusals
    val refusing = tmp("parityrefuse") + "/tbl"
    Versioned.overwrite(base((1L, "open", 10L)), refusing)
    val dup = Seq((1L, "a", 1L), (1L, "b", 2L)).toDF("id", "status", "amount")
    val noStatus = Seq((2L, 20L)).toDF("id", "amount")
    val lossy = Seq((1L, "open", 1.5)).toDF("id", "status", "amount")
    for ((what, source, clauses, evolve, refusal, msg) <- Seq[(String, DataFrame,
        Seq[MergeClause], Boolean, Class[_], String)](
      ("multi-match", dup, Seq(WhenMatchedUpdate(Map("amount" -> srcCol("amount")))),
        false, classOf[IllegalStateException], "multiple source rows"),
      ("INSERT * missing a column", noStatus, Seq(WhenNotMatchedInsert()),
        false, classOf[IllegalArgumentException], "INSERT *"),
      ("lossy retype", lossy, Seq(WhenMatchedUpdate(Map("amount" -> srcCol("amount")))),
        true, classOf[IllegalArgumentException], "lossless widenings"));
      run <- Seq[(SparkSession, String, DataFrame, Seq[String], Seq[MergeClause],
        Boolean) => Commit](Versioned.merge, Versioned.mergeMoR)) {
      val e = intercept[Exception](run(spark, refusing, source, Seq("id"), clauses, evolve))
      assert(refusal.isInstance(e) && e.getMessage.contains(msg), s"$what: $e")
    }
    assert(Versioned.latestVersion(spark, refusing) == 1L)
  }

  test("mergeMoR refuses BY SOURCE clauses; delete-only claims append nothing") {
    val tbl = tmp("morref") + "/tbl"
    Versioned.overwrite(base((1L, "open", 10L), (2L, "open", 20L)), tbl)
    val src = Seq((1L, "x", 0L)).toDF("id", "status", "amount")
    val e = intercept[IllegalArgumentException] {
      Versioned.mergeMoR(spark, tbl, src, Seq("id"), Seq(
        WhenNotMatchedBySourceDelete()))
    }
    assert(e.getMessage.contains("NOT MATCHED BY SOURCE"))
    val c = Versioned.mergeMoR(spark, tbl, src, Seq("id"),
      Seq(WhenMatchedDelete()))
    assert(c.add.isEmpty && c.dv.nonEmpty)
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(2L, "open", 20L)))
  }

  test("mergeMoR multi-match refusal and distinct-source fast path") {
    val tbl = tmp("mordup") + "/tbl"
    Versioned.overwrite(base((1L, "open", 10L)), tbl)
    val dup = Seq((1L, "a", 1L), (1L, "b", 2L)).toDF("id", "status", "amount")
    val e = intercept[IllegalStateException] {
      Versioned.mergeMoR(spark, tbl, dup, Seq("id"),
        Seq(WhenMatchedUpdate(Map("amount" -> srcCol("amount")))))
    }
    assert(e.getMessage.contains("multiple source rows"))
    // duplicate keys that only INSERT are legal (no matched clause)
    val c = Versioned.mergeMoR(spark, tbl, dup, Seq("id"),
      Seq(WhenNotMatchedInsert()))
    assert(c.dv.isEmpty && Versioned.read(spark, tbl).count() == 1L,
      "id=1 exists, so neither dup row inserts")
  }

  test("evolveSchema: new source columns evolve the table, old rows read null") {
    val tbl = tmp("evolve") + "/tbl"
    Versioned.overwrite(
      base((1L, "open", 10L), (2L, "open", 20L), (3L, "open", 30L)), tbl)
    val src = Seq((2L, "open", 21L, "patched"), (4L, "new", 40L, "fresh"))
      .toDF("id", "status", "amount", "note")
    val c = Versioned.merge(spark, tbl, src, Seq("id"), Seq(
      WhenMatchedUpdate(Map("amount" -> srcCol("amount"),
        "note" -> srcCol("note"))),
      WhenNotMatchedInsert()), evolveSchema = true)
    val head = Versioned.read(spark, tbl)
    assert(head.columns.toSeq == Seq("id", "status", "amount", "note"))
    assert(rowSet(head) == Set(
      Seq(1L, "open", 10L, null), Seq(2L, "open", 21L, "patched"),
      Seq(3L, "open", 30L, null), Seq(4L, "new", 40L, "fresh")))
    // pre-evolution version reads under its own (narrower) schema
    assert(Versioned.readAsOf(spark, tbl, 1L).columns.toSeq ==
      Seq("id", "status", "amount"))
    // both versions certified across the epoch boundary
    (1L to 2L).foreach { v =>
      val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
      val asOf = Versioned.readAsOf(spark, tbl, v)
      val r = asOf.agg(count(lit(1)),
        coalesce(sum(graft.ingest.Fingerprint.rowDigest(
          asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
      assert((r.getLong(0), r.getLong(1)) == ((n, fp)), s"v$v certified")
    }
    assert(c.colMap.isEmpty, "note's physical name is its logical name")
    // appends keep working against the evolved schema
    Versioned.append(Seq((5L, "x", 50L, "n5"))
      .toDF("id", "status", "amount", "note"), tbl)
    assert(Versioned.read(spark, tbl).count() == 5L)
  }

  test("evolveSchema refuses lossy type changes; off by default") {
    val tbl = tmp("evguard") + "/tbl"
    Versioned.overwrite(base((1L, "open", 10L), (2L, "open", 20L)), tbl)
    // bigint -> double is LOSSY (2^53 cliff) — refused even though it
    // "widens" colloquially; the r12 lattice allows only lossless moves
    val retyped = Seq((1L, "open", 1.5)).toDF("id", "status", "amount")
    val e = intercept[IllegalArgumentException] {
      Versioned.merge(spark, tbl, retyped, Seq("id"),
        Seq(WhenMatchedUpdate(Map("amount" -> srcCol("amount")))),
        evolveSchema = true)
    }
    assert(e.getMessage.contains("lossless widenings"))
    // without the flag, extra source columns are clause inputs only
    val extra = Seq((1L, "open", 11L, "ignored"))
      .toDF("id", "status", "amount", "note")
    Versioned.merge(spark, tbl, extra, Seq("id"),
      Seq(WhenMatchedUpdate(Map("amount" -> srcCol("amount")))))
    assert(Versioned.read(spark, tbl).columns.toSeq ==
      Seq("id", "status", "amount"))
    // in-force DVs no longer refuse evolution (r12): the epoch
    // recompute digests live contributions, so the deleted row stays
    // dead through the boundary with no OPTIMIZE-first rewrite
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L)
    Versioned.merge(spark, tbl, extra, Seq("id"),
      Seq(WhenMatchedUpdate(Map("note" -> srcCol("note")))),
      evolveSchema = true)
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq[Any](1L, "open", 11L, "ignored")))
  }

  test("change feed across CoW merge, evolve merge and MoR merge") {
    val tbl = tmp("cdf") + "/tbl"
    Versioned.overwrite(
      base((1L, "open", 10L), (2L, "open", 20L), (3L, "closed", 30L))
        .coalesce(1), tbl)
    // v2: CoW merge — update 2, delete 3, insert 4; row 1 untouched
    Versioned.merge(spark, tbl,
      Seq((2L, "open", 21L), (3L, "closed", 0L), (4L, "new", 40L))
        .toDF("id", "status", "amount"),
      Seq("id"), Seq(
        WhenMatchedDelete(Some(col("status") === "closed")),
        WhenMatchedUpdate(Map("amount" -> srcCol("amount"))),
        WhenNotMatchedInsert()))
    val cdf2 = Versioned.changesBetween(spark, tbl, 1L, 2L)
      .select("_change_type", "id", "status", "amount")
    assert(rowSet(cdf2) == Set(
      Seq("insert", 2L, "open", 21L), Seq("insert", 4L, "new", 40L),
      Seq("delete", 2L, "open", 20L), Seq("delete", 3L, "closed", 30L)),
      "a merge diffs add/remove files, never the full snapshot; " +
        "untouched row 1 must cancel")
    // v3: schema-evolving merge — note lands, only row 2 changes
    Versioned.merge(spark, tbl,
      Seq((2L, "open", 21L, "x")).toDF("id", "status", "amount", "note"),
      Seq("id"),
      Seq(WhenMatchedUpdate(Map("note" -> srcCol("note")))),
      evolveSchema = true)
    val cdf3 = Versioned.changesBetween(spark, tbl, 2L, 3L)
      .select("_change_type", "id", "status", "amount", "note")
    assert(rowSet(cdf3) == Set(
      Seq("insert", 2L, "open", 21L, "x"),
      Seq("delete", 2L, "open", 21L, null)),
      "the evolve diff aligns epochs by name; unchanged rows cancel")
    // v4: MoR merge — delete 4 by tombstone
    Versioned.mergeMoR(spark, tbl,
      Seq((4L, "new", 0L, "gone")).toDF("id", "status", "amount", "note"),
      Seq("id"), Seq(WhenMatchedDelete()))
    val cdf4 = Versioned.changesBetween(spark, tbl, 3L, 4L)
      .select("_change_type", "id", "status", "amount", "note")
    assert(rowSet(cdf4) == Set(Seq("delete", 4L, "new", 40L, null)),
      "a MoR merge's deletes surface from its position vector")
  }

  test("INSERT * refuses a source missing target columns") {
    val tbl = tmp("insstar") + "/tbl"
    Versioned.overwrite(base((1L, "open", 10L)), tbl)
    val src = Seq((2L, 20L)).toDF("id", "amount") // no status
    val e = intercept[IllegalArgumentException] {
      Versioned.merge(spark, tbl, src, Seq("id"), Seq(WhenNotMatchedInsert()))
    }
    assert(e.getMessage.contains("INSERT *"))
  }

  test("COW planning above the isin threshold switches to a broadcast semi-join") {
    val tbl = tmp("cowjoin") + "/tbl"
    // 6 single-row files
    Versioned.overwrite(df(1L -> "a").coalesce(1), tbl)
    (2L to 6L).foreach(i => Versioned.append(df(i -> s"v$i").coalesce(1), tbl))
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    val saved = Rewrite.isinFileThreshold
    Rewrite.isinFileThreshold = 2
    spark.listenerManager.register(listener)
    try {
      val c = Versioned.deleteWhere(spark, tbl, col("id") % 2 === 0L).get
      assert(c.remove.size == 3)
      // listener events post asynchronously — poll with a deadline
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def seen(): Boolean =
        plans.synchronized(plans.exists(_.contains("__affected_file")))
      while (!seen() && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen(),
        "above the threshold the survivor scan must semi-join the " +
          "affected-file list, not inline an In-literal")
    } finally {
      Rewrite.isinFileThreshold = saved
      spark.listenerManager.unregister(listener)
    }
    assert(rowSet(Versioned.read(spark, tbl)).map(_.head) ==
      Set[Any](1L, 3L, 5L))
    val headV = Versioned.latestVersion(spark, tbl)
    (1L to headV).foreach(v => assert(certified(tbl, v), s"v$v"))
  }

  test("mergeMoR accepts insert clauses referencing target columns") {
    val base = tmp("morparity")
    val cow = s"$base/cow"
    val mor = s"$base/mor"
    val seed = df(1L -> "a", 2L -> "b")
    Versioned.overwrite(seed, cow)
    Versioned.overwrite(seed, mor)
    val src = df(2L -> "B2", 3L -> "C", 4L -> "D")
    // the insert condition and assignment reference target columns by
    // PLAIN NAME — null for a source-only row on merge()'s full-outer
    // frame, and (since r12) the same typed null on mergeMoR's srcOnly
    // frame instead of an unresolved-column error (ADVICE r11 low)
    val clauses = Seq(
      WhenMatchedUpdate(Map("t" -> srcCol("t"))),
      WhenNotMatchedInsert(
        Map("id" -> srcCol("id"),
          "t" -> when(col("t").isNull, concat(srcCol("t"), lit("!")))
            .otherwise(lit("IMPOSSIBLE"))),
        cond = Some(col("id").isNull && srcCol("id") % 2 === 1)))
    Versioned.merge(spark, cow, src, Seq("id"), clauses)
    Versioned.mergeMoR(spark, mor, src, Seq("id"), clauses)
    val want = Set(Seq[Any](1L, "a"), Seq[Any](2L, "B2"), Seq[Any](3L, "C!"))
    assert(rowSet(Versioned.read(spark, cow)) == want)
    assert(rowSet(Versioned.read(spark, mor)) == want,
      "mergeMoR must accept and evaluate the same clause list as merge()")
    assert(certified(mor, 2L))
  }

  test("merge planning drops the broadcast hint above the size threshold") {
    val keys = (1L to 64L).toDF("id")
    // below the threshold: the planning frame carries the hint
    val hinted = Rewrite.maybeBroadcast(keys)
      .queryExecution.analyzed.toString
    assert(hinted.contains("ResolvedHint"),
      s"small key set must keep the broadcast hint, plan was:\n$hinted")
    val saved = Rewrite.broadcastKeyBytesThreshold
    try {
      Rewrite.broadcastKeyBytesThreshold = 0L
      val unhinted = Rewrite.maybeBroadcast(keys)
        .queryExecution.analyzed.toString
      assert(!unhinted.contains("ResolvedHint"),
        "above the threshold the hint must be dropped (AQE decides)")
    } finally Rewrite.broadcastKeyBytesThreshold = saved
  }

  test("merge family stays correct with the broadcast hint disabled") {
    val saved = Rewrite.broadcastKeyBytesThreshold
    try {
      Rewrite.broadcastKeyBytesThreshold = 0L // every planning join unhinted
      val base = tmp("nohint")
      val t1 = s"$base/t1"
      Versioned.overwrite(df(1L -> "a", 2L -> "b", 3L -> "c"), t1)
      Versioned.upsert(spark, t1, df(2L -> "B", 4L -> "D"), Seq("id"))
      Versioned.merge(spark, t1, df(3L -> "C3", 5L -> "E"), Seq("id"), Seq(
        WhenMatchedUpdate(Map("t" -> srcCol("t"))),
        WhenNotMatchedInsert()))
      Versioned.upsertMoR(spark, t1, df(1L -> "A1"), Seq("id"))
      Versioned.mergeMoR(spark, t1, df(4L -> "D4", 6L -> "F"), Seq("id"), Seq(
        WhenMatchedDelete(Some(srcCol("id") === 4L)),
        WhenNotMatchedInsert()))
      assert(rowSet(Versioned.read(spark, t1)) == Set(
        Seq[Any](1L, "A1"), Seq[Any](2L, "B"), Seq[Any](3L, "C3"),
        Seq[Any](5L, "E"), Seq[Any](6L, "F")))
      (1L to Versioned.latestVersion(spark, t1)).foreach(v =>
        assert(certified(t1, v), s"v$v certified without the hint"))
    } finally Rewrite.broadcastKeyBytesThreshold = saved
  }

  test("appendEvolve widens int->long and float->double losslessly") {
    val tbl = tmp("widen")
    val narrow = Seq((1L, 10, 1.5f), (2L, 20, 0.1f))
      .toDF("id", "n", "f")
    Versioned.overwrite(narrow.coalesce(1), tbl)
    val wide = Seq((3L, 2147483648L, 0.25d)).toDF("id", "n", "f")
    val c = Versioned.appendEvolve(wide.coalesce(1), tbl)
    assert(c.widenedCols.toSet == Set("n", "f"))
    assert(c.features.contains("type-widening"),
      "widening must be reader-feature flagged (old readers refuse)")
    val head = Versioned.read(spark, tbl)
    assert(head.schema("n").dataType == LongType)
    assert(head.schema("f").dataType == DoubleType)
    // old file values promote natively (int32/float physical columns
    // under the wide declared schema) — including the value the narrow
    // type could not hold arriving in the new file
    assert(rowSet(head.select(col("id"), col("n"))) ==
      Set(Seq[Any](1L, 10L), Seq[Any](2L, 20L), Seq[Any](3L, 2147483648L)))
    // float->double promotion is the IEEE widening, not a re-parse:
    // 0.1f promotes to 0.10000000149011612, never 0.1
    val f2 = head.filter(col("id") === 2L).select(col("f")).head().getDouble(0)
    assert(f2 == 0.1f.toDouble && f2 != 0.1d)
    // the narrow history stays narrow, both epochs certified
    val v1 = Versioned.readAsOf(spark, tbl, 1L)
    assert(v1.schema("n").dataType == IntegerType)
    assert(v1.schema("f").dataType == FloatType)
    assert(certified(tbl, 1L) && certified(tbl, 2L))
    // appends after the widening pin to the WIDE schema
    Versioned.append(Seq((4L, 40L, 4.0d)).toDF("id", "n", "f").coalesce(1), tbl)
    assert(certified(tbl, 3L))
  }

  test("narrowing and lossy type changes refuse loudly") {
    val tbl = tmp("narrow")
    Versioned.overwrite(Seq((1L, 10L)).toDF("id", "n").coalesce(1), tbl)
    val eN = intercept[IllegalArgumentException] {
      Versioned.appendEvolve(Seq((2L, 20)).toDF("id", "n"), tbl)
    }
    assert(eN.getMessage.contains("lossless widenings"))
    val tbl2 = tmp("lossy")
    Versioned.overwrite(Seq((1L, 10)).toDF("id", "n").coalesce(1), tbl2)
    val eL = intercept[IllegalArgumentException] {
      Versioned.appendEvolve(Seq((2L, 2.0f)).toDF("id", "n"), tbl2)
    }
    assert(eL.getMessage.contains("lossless widenings"))
    // plain append NEVER widens — the mergeSchema=false pin holds
    val eA = intercept[IllegalStateException] {
      Versioned.append(Seq((2L, 20)).toDF("id", "n"), tbl)
    }
    assert(eA.getMessage.contains("schema mismatch"))
  }

  test("merge evolveSchema widens types over live deletion vectors") {
    val tbl = tmp("mergewide")
    Versioned.overwrite(Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c"))
      .toDF("id", "n", "t").coalesce(1), tbl)
    // live DVs when the evolution lands — r11 refused this shape and
    // demanded an OPTIMIZE-first full rewrite; the epoch recompute now
    // digests each remaining file's LIVE contribution instead
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L)
    val src = Seq((3L, 3000000000L, "C", 7L), (4L, 40L, "D", 8L))
      .toDF("id", "n", "t", "extra") // n widened int->long, extra new
    val c = Versioned.merge(spark, tbl, src, Seq("id"), Seq(
      WhenMatchedUpdate(Map("n" -> srcCol("n"), "t" -> srcCol("t"),
        "extra" -> srcCol("extra"))),
      WhenNotMatchedInsert()), evolveSchema = true)
    assert(c.widenedCols == Seq("n"))
    assert(c.features.contains("type-widening"))
    val head = Versioned.read(spark, tbl)
    assert(head.schema("n").dataType == LongType)
    assert(rowSet(head) == Set(
      Seq[Any](1L, 10L, "a", null), // untouched, narrow file, null extra
      Seq[Any](3L, 3000000000L, "C", 7L),
      Seq[Any](4L, 40L, "D", 8L)), rowSet(head).toString)
    // the MoR-deleted row 2 stays dead through the epoch boundary
    (1L to Versioned.latestVersion(spark, tbl)).foreach(v =>
      assert(certified(tbl, v), s"v$v certified across the widened epoch"))
  }

  test("mergeMoR evolveSchema adds and widens without rewriting") {
    val tbl = tmp("morevolve")
    Versioned.overwrite(Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c"))
      .toDF("id", "n", "t").coalesce(1), tbl) // n is INT
    val src = Seq((2L, 3000000000L, "B", 7L), (4L, 40L, "D", 8L))
      .toDF("id", "n", "t", "extra") // n widened, extra new
    val c = Versioned.mergeMoR(spark, tbl, src, Seq("id"), Seq(
      WhenMatchedUpdate(Map("n" -> srcCol("n"), "t" -> srcCol("t"),
        "extra" -> srcCol("extra"))),
      WhenNotMatchedInsert()), evolveSchema = true)
    assert(c.remove.isEmpty && c.dv.nonEmpty,
      "MoR evolution must tombstone+append, never rewrite")
    assert(c.widenedCols == Seq("n") && c.features.contains("type-widening"))
    val head = Versioned.read(spark, tbl)
    assert(head.schema("n").dataType == LongType)
    assert(rowSet(head) == Set(
      Seq[Any](1L, 10L, "a", null), // untouched narrow row, null extra
      Seq[Any](2L, 3000000000L, "B", 7L),
      Seq[Any](3L, 30L, "c", null),
      Seq[Any](4L, 40L, "D", 8L)), rowSet(head).toString)
    assert(Versioned.readAsOf(spark, tbl, 1L)
      .schema("n").dataType == IntegerType)
    assert(certified(tbl, 1L) && certified(tbl, 2L))
    // the evolved epoch keeps composing: a later plain MoR delete works
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 3L)
    assert(rowSet(Versioned.read(spark, tbl)).map(_.head) ==
      Set[Any](1L, 2L, 4L))
    assert(certified(tbl, 3L))
  }

  test("mergeMoR evolveSchema refuses lossy retypes like merge does") {
    val tbl = tmp("morevguard")
    Versioned.overwrite(Seq((1L, 10L)).toDF("id", "n").coalesce(1), tbl)
    val e = intercept[IllegalArgumentException] {
      Versioned.mergeMoR(spark, tbl, Seq((1L, 1.5)).toDF("id", "n"),
        Seq("id"), Seq(WhenMatchedUpdate(Map("n" -> srcCol("n")))),
        evolveSchema = true)
    }
    assert(e.getMessage.contains("lossless widenings"))
  }

  test("broadcastOk never leaf-sums a row-multiplying source plan") {
    val a = (1L to 64L).map(i => (i, s"a$i")).toDF("id", "t")
    val b = (1L to 64L).map(i => (i % 4, s"b$i")).toDF("id", "u")
    // bounded shapes take the short-circuit: no estimator pass
    val p0 = Rewrite.broadcastEstimatorPasses.get()
    assert(Rewrite.broadcastOk(a.select("id").distinct()))
    assert(Rewrite.broadcastOk(a.filter(col("id") > 3L)
      .select("id").unionByName(b.select("id")).limit(10)))
    assert(Rewrite.broadcastEstimatorPasses.get() == p0,
      "row-bounded plans over tiny leaves must skip the estimator")
    // a join (fan-out) and an explode must fall through to the
    // guarded optimizer estimate even though the LEAVES are tiny
    val joined = a.join(b, "id").select(col("id"))
    Rewrite.broadcastOk(joined)
    assert(Rewrite.broadcastEstimatorPasses.get() == p0 + 1,
      "a join inside the source must pay the guarded estimate")
    val exploded = a.select(explode(array(col("id"), col("id"))).as("id"))
    Rewrite.broadcastOk(exploded)
    assert(Rewrite.broadcastEstimatorPasses.get() == p0 + 2,
      "a generator inside the source must pay the guarded estimate")
  }
}
