package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.functions._

import graft.ingest.Versioned

/** Commit timestamps + TIMESTAMP AS OF travel, and protocol reader-
  * feature flags: monotonic stamping under the Delta rule, wall-clock
  * version resolution, and the loud refusal of logs carrying features
  * this engine does not understand. */
class VersionedProtocolSpec extends SparkTestBase {
  import spark.implicits._

  private def df(rows: (Long, String)*) = rows.toDF("id", "t")

  test("commit timestamps are strictly increasing and archived in history") {
    val tbl = tmp("mono") + "/tbl"
    (1 to 4).foreach(i => Versioned.append(df(i.toLong -> s"r$i"), tbl))
    val ts = Versioned.history(spark, tbl).orderBy("version")
      .select("ts").collect().map(_.getLong(0)).toSeq
    assert(ts.forall(_ > 0L), "every commit stamped")
    assert(ts == ts.sorted && ts.distinct == ts, s"strictly increasing: $ts")
    assert(Versioned.commitTimestamp(spark, tbl, 2L) == ts(1))
  }

  test("TIMESTAMP AS OF resolves to the greatest version at or before the moment") {
    val tbl = tmp("asof") + "/tbl"
    Versioned.append(df(1L -> "a"), tbl)
    Versioned.append(df(2L -> "b"), tbl)
    Versioned.deleteWhere(spark, tbl, col("id") === 1L)
    val t1 = Versioned.commitTimestamp(spark, tbl, 1L)
    val t2 = Versioned.commitTimestamp(spark, tbl, 2L)
    assert(Versioned.versionAsOfTimestamp(spark, tbl, t2) == 2L)
    // strict monotonicity: t2 - 1 >= t1, and t2 - 1 < t2 ⇒ exactly v1
    assert(Versioned.versionAsOfTimestamp(spark, tbl, t2 - 1L) == 1L)
    assert(Versioned.versionAsOfTimestamp(spark, tbl,
      System.currentTimeMillis() + 1000000L) == 3L, "future ts = head")
    assert(rowSet(Versioned.readAsOfTimestamp(spark, tbl, t2)) ==
      Set(Seq(1L, "a"), Seq(2L, "b")), "content = readAsOf(2)")
    val e = intercept[IllegalArgumentException] {
      Versioned.versionAsOfTimestamp(spark, tbl, t1 - 1L)
    }
    assert(e.getMessage.contains("predates"))
  }

  test("features are stamped from record content; plain appends carry none") {
    val tbl = tmp("stamp") + "/tbl"
    Versioned.append(df(1L -> "a", 2L -> "b"), tbl)
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 1L)
    Versioned.renameColumn(spark, tbl, "t", "txt")
    val cs = Versioned.commitsBetween(spark, tbl, 0L, 3L)
    assert(cs(0).features.isEmpty)
    assert(cs(1).features == Seq("deletion-vectors"))
    assert(cs(2).features == Seq("column-mapping"))
  }

  test("an unknown reader feature refuses the whole log loudly") {
    val tbl = tmp("future") + "/tbl"
    Versioned.append(df(1L -> "a"), tbl)
    // hand-craft v2 claiming a feature from the future
    val log = new java.io.File(s"$tbl/_graft_log")
    val v1 = new java.io.File(log, "v00000001.json")
    val m = new ObjectMapper()
    val node = m.readTree(v1).asInstanceOf[ObjectNode]
    node.put("version", 2L)
    val feats = node.putArray("features")
    feats.add("future-zstd-v9")
    java.nio.file.Files.write(
      new java.io.File(log, "v00000002.json").toPath,
      m.writeValueAsBytes(node))
    val e = intercept[IllegalStateException] {
      Versioned.read(spark, tbl).count()
    }
    assert(e.getMessage.contains("future-zstd-v9") &&
      e.getMessage.contains("does not support"))
    // strict posture: even metadata surfaces refuse — an old engine
    // must not make ANY decision (vacuum! restore!) over a log it
    // cannot fully interpret
    intercept[IllegalStateException] { Versioned.history(spark, tbl).count() }
    intercept[IllegalStateException] {
      Versioned.vacuumVersions(spark, tbl, 1)
    }
  }

  test("supported features round-trip: a DV+colmap table reads fine") {
    val tbl = tmp("ok") + "/tbl"
    Versioned.append(df(1L -> "a", 2L -> "b", 3L -> "c"), tbl)
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 2L)
    Versioned.renameColumn(spark, tbl, "t", "txt")
    assert(rowSet(Versioned.read(spark, tbl)) ==
      Set(Seq(1L, "a"), Seq(3L, "c")))
  }

  test("checkpoints carry the feature union and refuse unknown ones") {
    val tbl = tmp("ckpt") + "/tbl"
    Versioned.append(df(1L -> "a", 2L -> "b"), tbl)
    Versioned.deleteWhereMoR(spark, tbl, col("id") === 1L)
    val v = Versioned.checkpoint(spark, tbl)
    val m = new ObjectMapper()
    val ckpt = new java.io.File(s"$tbl/_graft_log", f"ckpt-$v%08d.json")
    val node = m.readTree(ckpt).asInstanceOf[ObjectNode]
    val feats = (0 until node.get("features").size())
      .map(node.get("features").get(_).asText())
    assert(feats == Seq("deletion-vectors"),
      "the checkpoint summarizes the dv commit's reader feature")
    // replay-from-checkpoint still correct through the feature
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(2L, "b")))
    // a checkpoint claiming a FUTURE feature refuses the replay — a
    // reader that skips the summarized records must not consume state
    // it cannot interpret
    node.putArray("features").add("future-zstd-v9")
    java.nio.file.Files.write(ckpt.toPath, m.writeValueAsBytes(node))
    // drop the stale Hadoop checksum sidecar the rewrite invalidated
    new java.io.File(ckpt.getParent, s".${ckpt.getName}.crc").delete()
    // the hand-edit above preserves the record's write nonce, so the
    // parse memo would (per its contract: records are immutable once
    // written) serve the pre-edit state — flush it so the read sees
    // the tampered bytes
    Versioned.clearCheckpointCache()
    val e = intercept[IllegalStateException] {
      Versioned.read(spark, tbl).count()
    }
    assert(e.getMessage.contains("future-zstd-v9"))
  }

  test("age-based vacuum retains the trailing window and always the head") {
    val tbl = tmp("age") + "/tbl"
    Versioned.overwrite(df(1L -> "a").coalesce(1), tbl)   // v1
    Versioned.append(df(2L -> "b").coalesce(1), tbl)      // v2
    Versioned.overwrite(df(9L -> "z").coalesce(1), tbl)   // v3: v1/v2 files dead
    // everything is younger than a day: nothing reclaimed, horizon v1
    assert(Versioned.vacuumOlderThan(spark, tbl, 86400000L) == ((0L, 1L)))
    // zero-window: only the head is retained; v1+v2's two files go
    val (deleted, horizon) = Versioned.vacuumOlderThan(spark, tbl, 0L)
    assert((deleted, horizon) == ((2L, 3L)))
    assert(rowSet(Versioned.read(spark, tbl)) == Set(Seq(9L, "z")))
    intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, tbl, 1L).count() // below the horizon
    }
  }

  test("age-based vacuum refuses legacy unstamped records below the horizon") {
    val tbl = tmp("agelegacy") + "/tbl"
    Versioned.overwrite(df(1L -> "a").coalesce(1), tbl)
    Versioned.overwrite(df(2L -> "b").coalesce(1), tbl)
    val log = new java.io.File(s"$tbl/_graft_log")
    val v1 = new java.io.File(log, "v00000001.json")
    val m = new ObjectMapper()
    val node = m.readTree(v1).asInstanceOf[ObjectNode]
    node.remove("ts")
    node.remove("nonce") // a pre-timestamp record predates nonces too
    java.nio.file.Files.write(v1.toPath, m.writeValueAsBytes(node))
    val e = intercept[IllegalStateException] {
      Versioned.vacuumOlderThan(spark, tbl, 0L)
    }
    assert(e.getMessage.contains("age-based vacuum"))
    // the count-based form still works
    assert(Versioned.vacuumVersions(spark, tbl, 1)._1 == 1L)
  }

  test("registerViewAsOfTimestamp serves SQL TIMESTAMP AS OF") {
    val tbl = tmp("sqlts") + "/tbl"
    Versioned.append(df(1L -> "a"), tbl)
    Versioned.append(df(2L -> "b"), tbl)
    val t1 = Versioned.commitTimestamp(spark, tbl, 1L)
    val v = Versioned.registerViewAsOfTimestamp(spark, tbl, t1, "hist_ts")
    assert(v == 1L)
    assert(spark.sql("SELECT count(*) FROM hist_ts").head().getLong(0) == 1L)
  }

  test("a legacy unstamped record refuses TIMESTAMP travel, not version travel") {
    val tbl = tmp("legacy") + "/tbl"
    Versioned.append(df(1L -> "a"), tbl)
    // strip the timestamp, simulating a pre-timestamp record
    val log = new java.io.File(s"$tbl/_graft_log")
    val v1 = new java.io.File(log, "v00000001.json")
    val m = new ObjectMapper()
    val node = m.readTree(v1).asInstanceOf[ObjectNode]
    node.remove("ts")
    node.remove("nonce") // a pre-timestamp record predates nonces too
    java.nio.file.Files.write(v1.toPath, m.writeValueAsBytes(node))
    assert(rowSet(Versioned.readAsOf(spark, tbl, 1L)) == Set(Seq(1L, "a")))
    val e = intercept[IllegalArgumentException] {
      Versioned.versionAsOfTimestamp(spark, tbl, System.currentTimeMillis())
    }
    assert(e.getMessage.contains("no commit timestamp"))
    // and the NEXT commit still stamps monotonically (legacy parent = 0)
    Versioned.append(df(2L -> "b"), tbl)
    assert(Versioned.commitTimestamp(spark, tbl, 2L) > 0L)
  }
}
