package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.{Fingerprint, Versioned}
import graft.ingest.Versioned._

/** MODEL-BASED randomized testing of the versioned table format: a
  * fixed-seed random sequence of write operations (append, overwrite,
  * CoW/MoR upsert and delete, conditional CoW/MoR merge, OPTIMIZE —
  * plain and Z-ORDERED — small-file compaction, RESTORE, metadata-only
  * column RENAME, one type-widening evolution via appendEvolve OR a
  * schema-evolving MoR merge — over a table seeded either through the
  * format or by zero-copy convertInPlace adoption) runs
  * against both the real table and a trivial in-memory model
  * (`Map[id -> (v, t)]`); after EVERY commit the table head must equal
  * the model and certify against its archived fingerprint, and at the
  * end every historical version must still replay certified and equal
  * the model snapshot recorded when it was committed. Auto-checkpoints
  * fire every 3 commits throughout WITH ckptPartFiles=2 — every
  * checkpoint is multi-part — so replay-through-sharded-checkpoint is
  * exercised mid-sequence, across epochs and restores.
  *
  * This is the interleaving coverage the per-capability gates cannot
  * give: any pairwise interaction bug between the format's features
  * (e.g. a restore over a widened epoch, compaction over a MoR delete
  * after a merge) surfaces as a model divergence or a certification
  * failure at the exact op that introduced it.
  */
class VersionedModelSpec extends SparkTestBase {
  import spark.implicits._

  private type Model = Map[Long, (Long, String)]

  private def certified(tbl: String, v: Long): Boolean = {
    val (n, fp) = Versioned.archivedFingerprint(spark, tbl, v)
    val asOf = Versioned.readAsOf(spark, tbl, v)
    val r = asOf.agg(count(lit(1)),
      coalesce(sum(Fingerprint.rowDigest(
        asOf.schema.fieldNames.toSeq.map(col))), lit(0L))).head()
    (r.getLong(0), r.getLong(1)) == ((n, fp))
  }

  /** Frame under the CURRENT schema epoch (v is int until widened; the
    * text column's name follows the rename state). */
  private def frame(rows: Seq[(Long, Long, String)], wide: Boolean,
                    tName: String): DataFrame =
    if (wide) rows.toDF("id", "v", tName)
    else rows.map { case (i, v, t) => (i, v.toInt, t) }.toDF("id", "v", tName)

  private def tableRows(tbl: String): Model =
    Versioned.read(spark, tbl).collect().map { r =>
      val v = r.get(1) match {
        case i: java.lang.Integer => i.longValue
        case l: java.lang.Long => l.longValue
        case other => fail(s"unexpected v type: $other"); 0L
      }
      r.getLong(0) -> ((v, r.getString(2)))
    }.toMap

  test("random op sequences: head == model after every commit, all versions certified") {
    val savedI = Versioned.autoCheckpointInterval
    val savedP = Versioned.ckptPartFiles
    try {
      Versioned.autoCheckpointInterval = 3 // exercise checkpoints often
      Versioned.ckptPartFiles = 2 // every checkpoint is MULTI-PART:
      // all mid-sequence replays resolve through sharded part records
      Seq(11L, 47L).foreach(runSequence)
    } finally {
      Versioned.autoCheckpointInterval = savedI
      Versioned.ckptPartFiles = savedP
    }
  }

  test("random ops under checkpoint faults and concurrent writers stay certified") {
    val savedI = Versioned.autoCheckpointInterval
    val savedP = Versioned.ckptPartFiles
    try {
      Versioned.autoCheckpointInterval = 3
      Versioned.ckptPartFiles = 2
      Seq(5L, 28L).foreach(runFaultSequence)
    } finally {
      Versioned.autoCheckpointInterval = savedI
      Versioned.ckptPartFiles = savedP
    }
  }

  /** The model sequence COMPOSED with the two things the per-capability
    * gates test only in isolation (VERDICT r13 #5): (a) torn/corrupt/
    * missing checkpoint records and crashed-writer staging leftovers
    * injected BETWEEN random ops — every later op must keep resolving
    * state through the fallbacks; (b) concurrent COMMUTING writers
    * (two appends; append racing a content-preserving OPTIMIZE)
    * interleaved with the random ops — both claims must land (or the
    * maintenance op abort harmlessly) with no lost update. Invariants
    * after every step: head == model, certification, and incremental/
    * full-replay state parity. */
  private def runFaultSequence(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val root = tmp(s"fault$seed")
    var nextId = 1L
    def freshRows(n: Int): Seq[(Long, Long, String)] =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, rnd.nextInt(1000).toLong, "s" + rnd.nextInt(5))
      }
    type M = Map[Long, (Long, String)]
    var model: M = freshRows(6).map(r => r._1 -> ((r._2, r._3))).toMap
    Versioned.overwrite(
      model.toSeq.map { case (i, (v, t)) => (i, v, t) }.toDF("id", "v", "t")
        .coalesce(1), root)
    val snaps = mutable.Map[Long, M](1L -> model)
    def src(rows: Seq[(Long, Long, String)]) =
      rows.toDF("id", "v", "t").coalesce(1)

    val logDir = new java.io.File(root, "_graft_log")
    def ckpts(prefix: String): Seq[java.io.File] =
      Option(logDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(prefix)).sortBy(_.getName).toSeq
    /** one injected fault; every shape must be recoverable (state comes
      * from older checkpoints or the raw log, staging junk is invisible
      * until a record references it) */
    def injectFault(): String = {
      val shape = rnd.nextInt(5)
      val done = shape match {
        case 0 => ckpts("ckpt-").lastOption.map { f => // torn head record
          val keep = rnd.nextInt(math.max(1, f.length().toInt))
          val raf = new java.io.RandomAccessFile(f, "rw")
          try raf.setLength(keep.toLong) finally raf.close()
          s"torn ${f.getName} at $keep bytes"
        }
        case 1 => ckpts("ckpt-").lastOption.map { f => // garbage record
          java.nio.file.Files.write(f.toPath,
            s"{not json ${rnd.nextLong()}".getBytes)
          s"garbage ${f.getName}"
        }
        case 2 => ckpts("ckptp-").lastOption.map { f => // torn part shard
          val raf = new java.io.RandomAccessFile(f, "rw")
          try raf.setLength(f.length() / 2) finally raf.close()
          s"torn part ${f.getName}"
        }
        case 3 => ckpts("ckpt-").lastOption.map { f => // vacuum-crash gap
          assert(f.delete()); s"deleted ${f.getName}"
        }
        case 4 => // crashed writer's staging leftovers: junk parquet in
          // an unreferenced d-<uuid> dir must stay invisible
          val stray = new java.io.File(root, s"d-dead${rnd.nextInt(100)}")
          stray.mkdirs()
          java.nio.file.Files.write(
            new java.io.File(stray, "part-00000-junk.parquet").toPath,
            Array.fill(64)(rnd.nextInt(256).toByte))
          Some(s"stray staging ${stray.getName}")
      }
      // a hand-tampered record can keep its nonce prefix intact (a
      // shape no real writer produces — records are create-once), so
      // flush the parse memo like any out-of-band mutation requires
      Versioned.clearCheckpointCache()
      done.getOrElse("no-op (no checkpoint yet)")
    }

    def concurrently(a: () => Any, b: () => Any): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { a(); () } })
        val fb = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { b(); () } })
        fa.get(300, java.util.concurrent.TimeUnit.SECONDS)
        fb.get(300, java.util.concurrent.TimeUnit.SECONDS)
      } finally pool.shutdownNow()
    }

    var txnBatch = 0L
    (1 to 18).foreach { step =>
      val op = rnd.nextInt(11)
      op match {
        case 0 | 1 => // append fresh rows
          val rows = freshRows(1 + rnd.nextInt(3))
          Versioned.append(src(rows), root)
          model = model ++ rows.map(r => r._1 -> ((r._2, r._3)))
        case 2 => // overwrite with a fresh set
          val rows = freshRows(4 + rnd.nextInt(3))
          Versioned.overwrite(src(rows), root)
          model = rows.map(r => r._1 -> ((r._2, r._3))).toMap
        case 3 => // CoW upsert mixing existing and fresh ids
          val existing = rnd.shuffle(model.keys.toSeq).take(2)
            .map(id => (id, rnd.nextInt(1000).toLong, "s" + rnd.nextInt(5)))
          val rows = (existing ++ freshRows(2)).distinctBy(_._1)
          Versioned.upsert(spark, root, src(rows), Seq("id"))
          model = model ++ rows.map(r => r._1 -> ((r._2, r._3)))
        case 4 => // MoR delete by predicate
          val k = 2 + rnd.nextInt(5)
          Versioned.deleteWhereMoR(spark, root, col("v") % k === 1)
          model = model.filter { case (_, (v, _)) => v % k != 1 }
        case 5 => // OPTIMIZE (content-preserving)
          Versioned.optimize(spark, root, numFiles = 1 + rnd.nextInt(2))
        case 6 => // small-file compaction
          Versioned.compactSmallFiles(spark, root, maxFileBytes = 1L << 30)
        case 7 => // RESTORE to a random prior version
          val vs = snaps.keys.toSeq.sorted
          val target = vs(rnd.nextInt(vs.size))
          Versioned.restore(spark, root, target)
          model = snaps(target)
        case 8 => // exactly-once tagged append + no-op re-delivery
          val rows = freshRows(2)
          txnBatch += 1L
          assert(Versioned.idempotentAppend(src(rows), root,
            "faultApp", txnBatch).nonEmpty)
          assert(Versioned.idempotentAppend(src(rows), root,
            "faultApp", txnBatch).isEmpty)
          model = model ++ rows.map(r => r._1 -> ((r._2, r._3)))
        case 9 => // CONCURRENT commuting appends: no lost update
          val (ra, rb) = (freshRows(2), freshRows(2))
          concurrently(() => Versioned.append(src(ra), root),
            () => Versioned.append(src(rb), root))
          model = model ++ (ra ++ rb).map(r => r._1 -> ((r._2, r._3)))
        case 10 => // append racing OPTIMIZE: the append must land; the
          // maintenance op either lands or aborts content-neutrally
          val rows = freshRows(2)
          concurrently(() => Versioned.append(src(rows), root),
            () => try Versioned.optimize(spark, root, numFiles = 1)
            catch { case scala.util.control.NonFatal(_) => Nil })
          model = model ++ rows.map(r => r._1 -> ((r._2, r._3)))
      }
      val injected = if (rnd.nextInt(5) < 2) injectFault() else "none"
      val head = Versioned.latestVersion(spark, root)
      snaps(head) = model
      assert(tableRows(root) == model,
        s"seed $seed step $step (op $op, fault: $injected): " +
          s"table diverged from model at v$head")
      assert(certified(root, head),
        s"seed $seed step $step (op $op, fault: $injected): " +
          s"v$head failed certification")
      assert(Versioned.stateParity(spark, root),
        s"seed $seed step $step (op $op, fault: $injected): " +
          s"incremental state diverged from the full replay at v$head")
    }
    // full history still certified and model-exact through every fault
    snaps.keys.toSeq.sorted.foreach { v =>
      assert(certified(root, v), s"seed $seed: v$v certification regressed")
      val got = Versioned.readAsOf(spark, root, v).collect().map { r =>
        r.getLong(0) -> ((r.getLong(1), r.getString(2)))
      }.toMap
      assert(got == snaps(v), s"seed $seed: v$v time travel diverged")
    }
  }

  private def runSequence(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val tbl = tmp(s"seq$seed")
    var nextId = 1000L
    def freshRows(n: Int): Seq[(Long, Long, String)] =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, rnd.nextInt(1000).toLong, "s" + rnd.nextInt(5))
      }
    def sampleIds(model: Model, n: Int): Seq[Long] =
      rnd.shuffle(model.keys.toSeq).take(n)
    /** source mixing ~half existing ids with fresh ones, distinct keys */
    def mixedRows(model: Model, n: Int): Seq[(Long, Long, String)] = {
      val existing = sampleIds(model, n / 2 + 1).map(id =>
        (id, rnd.nextInt(1000).toLong, "s" + rnd.nextInt(5)))
      (existing ++ freshRows(n - existing.size)).distinctBy(_._1)
    }

    var model: Model = freshRows(8).map(r => r._1 -> ((r._2, r._3))).toMap
    var wide = false
    var tName = "t"
    if (seed % 2 == 0) {
      // even seeds ADOPT a pre-existing plain parquet dataset in place
      // (convertInPlace as the v1) instead of writing through the format
      frame(model.toSeq.map { case (i, (v, t)) => (i, v, t) }, wide, tName)
        .coalesce(1).write.parquet(tbl + "/data")
      Versioned.convertInPlace(spark, tbl + "/data")
    } else Versioned.overwrite(
      frame(model.toSeq.map { case (i, (v, t)) => (i, v, t) }, wide, tName)
        .coalesce(1), tbl)
    val root = if (seed % 2 == 0) tbl + "/data" else tbl
    // snapshot of (model, wide, text-column name) per committed version
    val snaps = mutable.Map[Long, (Model, Boolean, String)](
      1L -> ((model, wide, tName)))

    def src(rows: Seq[(Long, Long, String)]): DataFrame =
      frame(rows, wide, tName)

    /** the shared conditional-merge model transition (CoW and MoR run
      * the same clause list, so they share it) */
    def mergeModel(rows: Seq[(Long, Long, String)]): Model =
      rows.foldLeft(model) { case (m, (id, v, t)) =>
        m.get(id) match {
          case Some((_, oldT)) =>
            if (v % 7 == 0) m - id // WhenMatchedDelete
            else m.updated(id, (v, oldT)) // update sets v, keeps t
          case None =>
            if (v % 2 == 0) m.updated(id, (v, t)) // conditional insert
            else m
        }
      }
    val mergeClauses = Seq(
      WhenMatchedDelete(Some(srcCol("v") % 7 === 0)),
      WhenMatchedUpdate(Map("v" -> srcCol("v"))),
      WhenNotMatchedInsert(cond = Some(srcCol("v") % 2 === 0)))

    var hasCons = false
    var txnBatch = 0L
    (1 to 22).foreach { step =>
      val op = rnd.nextInt(17)
      op match {
        case 0 => // append fresh rows
          val rows = freshRows(1 + rnd.nextInt(3))
          Versioned.append(src(rows).coalesce(1), root)
          model = model ++ rows.map(r => r._1 -> ((r._2, r._3)))
        case 1 => // overwrite with a fresh set
          val rows = freshRows(4 + rnd.nextInt(4))
          Versioned.overwrite(src(rows).coalesce(1), root)
          model = rows.map(r => r._1 -> ((r._2, r._3))).toMap
        case 2 => // CoW upsert
          val rows = mixedRows(model, 3)
          Versioned.upsert(spark, root, src(rows), Seq("id"))
          model = model ++ rows.map(r => r._1 -> ((r._2, r._3)))
        case 3 => // MoR upsert
          val rows = mixedRows(model, 3)
          Versioned.upsertMoR(spark, root, src(rows), Seq("id"))
          model = model ++ rows.map(r => r._1 -> ((r._2, r._3)))
        case 4 => // CoW delete by predicate
          val k = 2 + rnd.nextInt(5)
          Versioned.deleteWhere(spark, root, col("v") % k === 0)
          model = model.filter { case (_, (v, _)) => v % k != 0 }
        case 5 => // MoR delete by predicate
          val k = 2 + rnd.nextInt(5)
          Versioned.deleteWhereMoR(spark, root, col("v") % k === 1)
          model = model.filter { case (_, (v, _)) => v % k != 1 }
        case 6 => // conditional CoW merge
          val rows = mixedRows(model, 4)
          Versioned.merge(spark, root, src(rows), Seq("id"), mergeClauses)
          model = mergeModel(rows)
        case 7 => // conditional MoR merge
          val rows = mixedRows(model, 4)
          Versioned.mergeMoR(spark, root, src(rows), Seq("id"), mergeClauses)
          model = mergeModel(rows)
        case 8 => // OPTIMIZE (content-preserving; may purge DVs)
          Versioned.optimize(spark, root, numFiles = 1 + rnd.nextInt(2))
        case 9 => // small-file compaction (threshold catches everything)
          Versioned.compactSmallFiles(spark, root, maxFileBytes = 1L << 30)
        case 10 => // RESTORE to a random prior version
          val vs = snaps.keys.toSeq.sorted
          val target = vs(rnd.nextInt(vs.size))
          Versioned.restore(spark, root, target)
          val (m2, w2, t2) = snaps(target)
          model = m2
          wide = w2
          tName = t2
        case 11 => // the one-way widening epoch (int -> long v)
          if (!wide) {
            val rows = freshRows(2)
            Versioned.appendEvolve(rows.toDF("id", "v", tName).coalesce(1), root)
            model = model ++ rows.map(r => r._1 -> ((r._2, r._3)))
            wide = true
          } else { // already wide: plain append instead
            val rows = freshRows(2)
            Versioned.append(src(rows).coalesce(1), root)
            model = model ++ rows.map(r => r._1 -> ((r._2, r._3)))
          }
        case 12 => // metadata-only RENAME of the text column (toggles)
          val newName = if (tName == "t") "label" else "t"
          Versioned.renameColumn(spark, root, tName, newName)
          tName = newName // content identical; only the logical name moves
        case 13 => // widening via a schema-evolving MoR merge (one-way);
          // already wide → an ordinary MoR merge with the same clauses
          val rows = mixedRows(model, 3)
          if (!wide) {
            Versioned.mergeMoR(spark, root, rows.toDF("id", "v", tName),
              Seq("id"), mergeClauses, evolveSchema = true)
            wide = true
          } else
            Versioned.mergeMoR(spark, root, src(rows), Seq("id"), mergeClauses)
          model = mergeModel(rows)
        case 14 => // Z-ORDERED optimize (content-preserving layout; ids
          // and v both stay far inside the 2^16 z-domain)
          Versioned.optimize(spark, root, numFiles = 1 + rnd.nextInt(2),
            zorderBy = Seq("id", "v"))
        case 15 => // CHECK-constraint toggle (metadata commit; every
          // generated row satisfies it, so writes keep landing) —
          // constraints are table properties: they survive overwrites
          // and restores, and their fold rides the checkpoint state
          if (!hasCons) {
            Versioned.addConstraint(spark, root, "v_nonneg", "v >= 0")
            hasCons = true
          } else {
            Versioned.dropConstraint(spark, root, "v_nonneg")
            hasCons = false
          }
        case 16 => // exactly-once tagged append: the commit lands once,
          // the immediate re-delivery is a no-op off the checkpointed
          // txn watermark — interleaved with every other op shape
          val rows = freshRows(2)
          txnBatch += 1L
          assert(Versioned.idempotentAppend(src(rows).coalesce(1), root,
            "modelApp", txnBatch).nonEmpty,
            s"seed $seed step $step: tagged batch $txnBatch must commit")
          assert(Versioned.idempotentAppend(src(rows).coalesce(1), root,
            "modelApp", txnBatch).isEmpty,
            s"seed $seed step $step: re-delivered batch $txnBatch must no-op")
          model = model ++ rows.map(r => r._1 -> ((r._2, r._3)))
      }
      val head = Versioned.latestVersion(spark, root)
      snaps(head) = ((model, wide, tName))
      assert(Versioned.read(spark, root).columns.toSeq ==
        Seq("id", "v", tName),
        s"seed $seed step $step (op $op): schema names diverged at v$head")
      assert(tableRows(root) == model,
        s"seed $seed step $step (op $op): table diverged from model at v$head")
      assert(certified(root, head),
        s"seed $seed step $step (op $op): v$head failed certification")
      // the incremental (checkpoint + tail) fold must equal a
      // from-scratch replay of every record FIELD FOR FIELD — sizes,
      // stats, dv coverage, constraints, txn watermarks included; this
      // is the invariant content checks can't see (a checkpoint bug
      // shows up as conservative-but-wrong planning, not wrong rows)
      assert(Versioned.stateParity(spark, root),
        s"seed $seed step $step (op $op): incremental state diverged " +
          s"from the full log replay at v$head")
    }

    // the full history: every committed version still replays certified
    // AND equals the model snapshot recorded when it landed, under the
    // column names of ITS epoch
    snaps.keys.toSeq.sorted.foreach { v =>
      assert(certified(root, v), s"seed $seed: v$v certification regressed")
      val (expect, _, tn) = snaps(v)
      val asOf = Versioned.readAsOf(spark, root, v)
      assert(asOf.columns.toSeq == Seq("id", "v", tn),
        s"seed $seed: v$v reads under the wrong epoch names")
      val got = asOf.collect().map { r =>
        val vv = r.get(1) match {
          case i: java.lang.Integer => i.longValue
          case l: java.lang.Long => l.longValue
          case other => fail(s"unexpected v type: $other"); 0L
        }
        r.getLong(0) -> ((vv, r.getString(2)))
      }.toMap
      assert(got == expect, s"seed $seed: v$v time travel diverged")
    }
  }
}
