package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.ingest.Versioned

/** The DRIVER PLANNING-STATE CEILING measurement (VERDICT r13 #4):
  * planning state is O(active files) on the driver — the acknowledged
  * Delta-snapshot-order residual. This spec builds a synthetic
  * 100k-active-file log (RECORDS ONLY, cloned from a real append
  * record — no data files, no data I/O) with full per-file stats in
  * the round-14 shape (min/max + null counts + row counts), measures
  * the head-state fold cold from the raw log, cold from a multi-part
  * checkpoint, and warm from the parse memo, and asserts budgets
  * generous enough for CI noise but tight enough that an accidental
  * O(files²) fold or a per-file RPC would blow them. The measured
  * numbers are recorded in PLAN_AUDIT.md; the mitigation path beyond
  * the ceiling (per-file state as a DataFrame, folded with joins) is
  * documented there.
  */
class VersionedScaleSpec extends SparkTestBase {
  import spark.implicits._

  private val FilesPerRecord = 10000
  private val Records = 10

  test("head-state fold at 100k active files stays in budget, ckpt-accelerated") {
    val tbl = tmp("scale") + "/t"
    Versioned.overwrite(Seq((1L, "a")).toDF("id", "t").coalesce(1), tbl)
    val log = new java.io.File(tbl, "_graft_log")
    val m = new ObjectMapper()
    val template = m.readTree(
      new java.io.File(log, "v00000001.json")).asInstanceOf[ObjectNode]
    val baseTs = template.get("ts").asLong()
    // synthesize append records v2..v11, each adding 10k fake files
    // with the full stat shape a real commit archives per file
    (2 to Records + 1).foreach { v =>
      val rec = template.deepCopy()
      rec.put("version", v)
      rec.put("action", "append")
      rec.put("ts", baseTs + v)
      rec.put("nRows", FilesPerRecord * 10L)
      rec.put("addFp", 0L)
      rec.put("snapshotRows", 1L + (v - 1L) * FilesPerRecord * 10L)
      rec.put("snapshotFp", 0L)
      rec.putArray("remove")
      val add = rec.putArray("add")
      val sizes = rec.putArray("addSizes")
      val stats = rec.putObject("stats")
      (0 until FilesPerRecord).foreach { i =>
        val f = f"d-synth$v%03d/part-$i%05d-0123456789abcdef-c000.snappy.parquet"
        add.add(f)
        sizes.add(1000000L + i)
        val fo = stats.putObject(f)
        val mm = fo.putArray("id"); mm.add(v * 100000L + i); mm.add(v * 100000L + i)
        val nl = fo.putArray("\u0000nulls:id"); nl.add(0L); nl.add(0L)
        val nt = fo.putArray("\u0000nulls:t"); nt.add(1L); nt.add(1L)
        val rw = fo.putArray("\u0000rows"); rw.add(10L); rw.add(10L)
      }
      java.nio.file.Files.write(
        new java.io.File(log, f"v$v%08d.json").toPath, m.writeValueAsBytes(rec))
    }
    val expectFiles = 1 + Records * FilesPerRecord

    def timed[A](what: String)(body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      val s = (System.nanoTime() - t0) / 1e9
      info(f"$what%-34s $s%8.2f s")
      (r, s)
    }

    Versioned.clearCheckpointCache()
    val ((nRaw, statsRaw, bytesRaw), tRaw) =
      timed("raw-log fold (11 records)")(
        Versioned.planningStateProbe(spark, tbl))
    assert(nRaw == expectFiles, s"active=$nRaw, want $expectFiles")
    // 4 entries per synthetic file + the real v1 file's own 5 (id
    // min/max, 2 null counts, rows, and the r14 string-prefix stats
    // for `t`)
    assert(statsRaw == Records.toLong * FilesPerRecord * 4 + 5,
      s"stat entries=$statsRaw")
    info(f"driver-state estimate ${bytesRaw / 1e6}%.1f MB " +
      f"(${bytesRaw.toDouble / expectFiles}%.0f B/file)")

    // checkpoint the head: rendered purely from the folded records
    val (_, tCkpt) = timed("checkpoint write (multi-part)")(
      Versioned.checkpoint(spark, tbl))
    Versioned.clearCheckpointCache()
    val ((nCk, _, _), tCk) = timed("cold fold from checkpoint")(
      Versioned.planningStateProbe(spark, tbl))
    assert(nCk == expectFiles)
    val ((nWarm, _, _), tWarm) = timed("warm fold (parse memo)")(
      Versioned.planningStateProbe(spark, tbl))
    assert(nWarm == expectFiles)

    // budgets: a linear driver fold of 100k files parses ~25 MB of
    // JSON — seconds, not minutes. An accidental quadratic fold, a
    // per-file filesystem RPC, or a lost memo would blow these by an
    // order of magnitude.
    assert(tRaw < 60.0, f"raw-log fold took $tRaw%.1f s (budget 60)")
    assert(tCk < 60.0, f"checkpoint fold took $tCk%.1f s (budget 60)")
    assert(tWarm < math.max(1.0, tCk / 2),
      f"warm fold $tWarm%.2f s must be well under the cold parse $tCk%.2f s")
    assert(tCkpt < 120.0, f"checkpoint write took $tCkpt%.1f s (budget 120)")
    // planning-time guards still metadata-only at this scale: the
    // probe and checkpoint ran zero file-status probes against the
    // (nonexistent) data files
    val probes0 = Versioned.fileStatusProbes.get()
    Versioned.clearCheckpointCache()
    Versioned.planningStateProbe(spark, tbl)
    assert(Versioned.fileStatusProbes.get() == probes0,
      "state fold must never stat data files")
  }
}
