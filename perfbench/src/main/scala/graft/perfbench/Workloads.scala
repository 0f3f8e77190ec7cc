package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ingest.Versioned

/** A named output check. `selfTestFails` says whether the same check
  * rejected a deliberately perturbed copy of the result; a check that
  * cannot fail proves nothing, so the run counts as incorrect otherwise.
  * None marks a check with no perturbation the benchmark can apply from
  * outside (the engine's own parity invariant). */
final case class Check(name: String, ok: Boolean, detail: String, selfTestFails: Option[Boolean])

/** Everything a workload hands back besides the recorded operations. */
final class Outcome {
  val setupRepsS = mutable.ArrayBuffer.empty[Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Check]

  /** Compares two frames by (rows, content fingerprint); the self-test
    * duplicates one row of `actual`, which must be rejected. */
  def fingerprintCheck(name: String, actual: DataFrame, expected: DataFrame): Unit = {
    val a = ProductPath.fingerprint(actual)
    val e = ProductPath.fingerprint(expected)
    val perturbed = ProductPath.fingerprint(actual.union(actual.limit(1)))
    checks += Check(name, a == e, s"actual=$a expected=$e", Some(perturbed != e))
  }
}

final case class Ctx(spark: SparkSession, tables: String, work: String, plan: Plan,
                     rec: Recorder)

object Workloads {
  val SetupReps = 3

  /** Repeats `build` SetupReps times into fresh directories and keeps the
    * last one, so set-up time is a median rather than one sample. */
  def setUp[T](out: Outcome, work: String, name: String)(build: String => T): T =
    (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      val v = build(s"$work/$name-$r")
      out.setupRepsS += (System.nanoTime() - t0) / 1e9
      v
    }.last

  def dirBytes(p: String, onlyParquet: Boolean = false): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => !onlyParquet || f.getFileName.toString.endsWith(".parquet"))
        .map(f => Files.size(f)).sum
      finally s.close()
    }
  }

  /** Bytes on disk under the table roots against the bytes of their head
    * snapshots written once as plain parquet. */
  def storage(spark: SparkSession, roots: Seq[String], scratch: String, out: Outcome): Unit = {
    val onDisk = roots.map(dirBytes(_)).sum
    val plain = roots.zipWithIndex.map { case (r, i) =>
      val dst = s"$scratch/plain-$i"
      Versioned.read(spark, r).write.parquet(dst)
      dirBytes(dst, onlyParquet = true)
    }.sum
    out.extra("storage_bytes") = onDisk
    out.extra("plain_bytes") = plain
  }

  // ---------------------------------------------------------------- serve

  def serve(c: Ctx, out: Outcome): Unit = {
    val pp = setUp(out, c.work, "serve") { dir =>
      val p = new ProductPath(c.spark, c.tables, dir)
      p.commit(p.listensFromStar(), p.bronze)
      p.buildFollows()
      p.rebuildSilver()
      p
    }
    c.rec.start()
    val clients = c.plan.clients.map { users =>
      new Thread(() => {
        var i = 0
        while (c.rec.timeLeft) {
          val u = users(i % users.length)
          c.rec.op("request")(pp.serve(u))
          i += 1
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val models = pp.rawModels()
    c.plan.probes.foreach { u =>
      val served = pp.serve(u).map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val expected = pp.expectedTopK(models, u)
      val perturbed = served.headOption.map { case (t, s) => (t, s + 1.0) }.toSeq ++ served.drop(1)
      out.checks += Check(s"serve.topk_user_$u", served == expected,
        s"served=$served expected=$expected", Some(perturbed != expected))
    }
    out.extra("clients") = c.plan.clients.size
  }

  // -------------------------------------------------------------- refresh

  val bronzeSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("o_custkey", LongType),
    StructField("l_shipdate", TimestampNTZType)))

  def refresh(c: Ctx, out: Outcome): Unit = {
    val pp = setUp(out, c.work, "refresh") { dir =>
      val p = new ProductPath(c.spark, c.tables, dir)
      p.commit(p.table("bronze_prefix"), p.bronze)
      p.buildFollows()
      p.rebuildSilver()
      p
    }
    val slices = new java.io.File(c.plan.dir, "slices").listFiles().toSeq.map(_.toPath).sortBy(_.toString)
    val inbox = Files.createDirectories(Paths.get(c.work, "inbox"))
    val ckpt = s"${c.work}/stream-checkpoint"
    val probe = c.plan.probes.head
    var landed = 0L
    var appendNs = 0L
    var k = 0
    c.rec.start()
    while (c.rec.timeLeft && k < slices.size) {
      // the week's file is complete (atomically renamed into the inbox)
      // before the cycle's clock starts
      val tmp = inbox.resolve(s".week-$k.tmp")
      Files.copy(slices(k), tmp)
      Files.move(tmp, inbox.resolve(s"week-$k.json"), StandardCopyOption.ATOMIC_MOVE)
      c.rec.op("cycle") {
        val t0 = System.nanoTime()
        Trace.span("streaming.append")(Versioned.runStreamAppend(c.spark,
          c.spark.readStream.schema(bronzeSchema).json(inbox.toString), pp.bronze, ckpt, "perfbench"))
        appendNs += System.nanoTime() - t0
        pp.rebuildSilver()
        pp.serve(probe)
      }
      landed += Files.readAllLines(slices(k)).size
      k += 1
    }
    val bronzeHead = Versioned.read(c.spark, pp.bronze)
    val expectedBronze = pp.table("bronze_prefix").unionByName(
      c.spark.read.schema(bronzeSchema).json(inbox.toString))
    out.fingerprintCheck("refresh.bronze_exactly_once", bronzeHead, expectedBronze)
    out.fingerprintCheck("refresh.cf_full_recompute", Versioned.read(c.spark, pp.silver("cf")),
      pp.cfOf(pp.likesOf(bronzeHead)))
    out.extra("cycles") = k
    out.extra("landed_rows") = landed
    out.extra("append_s") = appendNs / 1e9
    out.extra("cf_rows") = pp.rows(pp.silver("cf"))
    out.extra("likes_rows") = pp.rows(pp.silver("likes"))
    storage(c.spark, pp.tableRoots, s"${c.work}/plain", out)
  }

  // ------------------------------------------------------------- maintain

  /** A copy of the table at `src` whose head checkpoint claims one row
    * more than the log: the perturbed state `stateParity` must reject. A
    * fresh nonce keeps the engine's checkpoint memo from serving the
    * untampered parse, and the stale checksum file is dropped. */
  def tamperedCheckpointCopy(spark: SparkSession, src: String, dst: String): String = {
    val from = Paths.get(src)
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { f =>
      val to = Paths.get(dst).resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    } finally walk.close()
    val v = Versioned.checkpoint(spark, dst)
    val ckpt = Paths.get(dst, "_graft_log", f"ckpt-$v%08d.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(ckpt.toFile).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("nonce", java.util.UUID.randomUUID().toString.replace("-", ""))
    node.put("snapshotRows", node.get("snapshotRows").asLong + 1)
    mapper.writeValue(ckpt.toFile, node)
    Files.deleteIfExists(ckpt.resolveSibling(s".${ckpt.getFileName}.crc"))
    dst
  }


  val Tables = 12
  private val pattern = Seq("append", "read_where", "upsert", "read_asof", "merge", "changes",
    "delete", "read_where", "compact", "read_asof", "append", "changes", "optimize", "read_where")
  val writeKinds = Set("append", "upsert", "merge", "delete", "compact", "optimize")

  /** One versioned table per `user_id % 12` plus its shadow model: the
    * rows the table must hold, keyed by event_id. */
  final class Shadowed(val path: String, val rows: mutable.TreeMap[Long, Row])

  def maintain(c: Ctx, out: Outcome): Unit = {
    val spark = c.spark
    val events = spark.read.parquet(s"${c.tables}/events.parquet")
    val schema = events.schema
    val all = events.collect()
    val tables = setUp(out, c.work, "maintain") { dir =>
      // independent tables: create them four at a time
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try (0 until Tables).map { t =>
        val path = s"$dir/events_$t"
        pool.submit(() => { Versioned.overwrite(events.filter(col("user_id") % Tables === t), path); path })
      }.map(_.get)
      finally pool.shutdown()
    }.zipWithIndex.map { case (p, t) =>
      val m = mutable.TreeMap.empty[Long, Row]
      all.filter(_.getLong(2) % Tables == t).foreach(r => m(r.getLong(0)) = r)
      new Shadowed(p, m)
    }
    val rnd = new scala.util.Random(c.plan.seed)
    val offsets = rnd.shuffle((0 until Tables).toList).toIndexedSeq
    val monthStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    var readsChecked = 0
    var readMismatches = 0
    def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)
    def ev(id: Long, r: scala.util.Random, user: Long): Row =
      Row(id, monthStart.plusSeconds(r.nextInt(30 * 86400).toLong), user,
        Seq("click", "error", "purchase", "signup", "view")(r.nextInt(5)),
        math.round(r.nextDouble() * 49000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    def withValue(row: Row, v: Double): Row =
      Row(row.getLong(0), row.get(1), row.getLong(2), row.getString(3), v, row.getString(5))
    def pick(sh: Shadowed, r: scala.util.Random, n: Int): Seq[Row] = {
      val keys = sh.rows.keysIterator.toIndexedSeq
      if (keys.isEmpty) Nil else Seq.fill(n)(keys(r.nextInt(keys.size))).distinct.map(sh.rows)
    }

    c.rec.start()
    var i = 0
    while (c.rec.timeLeft) {
      val t = i % Tables
      val sh = tables(t)
      val r = new scala.util.Random(c.plan.seed * 1000003L + i)
      val head = Versioned.latestVersion(spark, sh.path)
      val planned = pattern((i / Tables + offsets(t)) % pattern.size)
      val kind =
        if ((planned == "changes" || planned == "read_asof") && head < 2) "read_where"
        else if (planned == "delete" && sh.rows.isEmpty) "append"
        else planned
      val users = (0 until 15).map(k => (k * Tables + t).toLong)
      c.rec.op(kind) {
        Trace.span(if (writeKinds(kind)) "ingest.commit" else "ingest.read") {
          kind match {
            case "append" =>
              val rows = (0 until 20).map(j => ev(1000000L + i * 100L + j, r, users(r.nextInt(users.size))))
              Versioned.append(frame(rows), sh.path)
              rows.foreach(x => sh.rows(x.getLong(0)) = x)
            case "upsert" =>
              val rows = pick(sh, r, 5).map(x => withValue(x, x.getDouble(4) + 1.0))
              Versioned.upsert(spark, sh.path, frame(rows), Seq("event_id"))
              rows.foreach(x => sh.rows(x.getLong(0)) = x)
            case "delete" =>
              val u = sh.rows.valuesIterator.map(_.getLong(2)).toIndexedSeq.distinct.sorted
              val user = u(r.nextInt(u.size))
              Versioned.deleteWhereMoR(spark, sh.path, col("user_id") === user)
              sh.rows.filterInPlace((_, x) => x.getLong(2) != user)
            case "merge" =>
              val upd = pick(sh, r, 5).map(x => withValue(x, x.getDouble(4) * 2))
              val ins = (0 until 5).map(j => ev(1000000L + i * 100L + j, r, users(r.nextInt(users.size))))
              Versioned.mergeMoR(spark, sh.path, frame(upd ++ ins), Seq("event_id"),
                Seq(Versioned.WhenMatchedUpdate(Map("value" -> Versioned.srcCol("value"))),
                  Versioned.WhenNotMatchedInsert()))
              (upd ++ ins).foreach(x => sh.rows(x.getLong(0)) = x)
            case "compact" =>
              Versioned.compactSmallFiles(spark, sh.path, 1L << 20)
            case "optimize" =>
              Versioned.optimize(spark, sh.path, 1)
            case "read_where" =>
              val lo = monthStart.plusDays(r.nextInt(27).toLong)
              val hi = lo.plusDays(3)
              val (df, kept, total) = Versioned.readAsOfWhere(spark, sh.path, head,
                col("ts") >= lit(lo) && col("ts") < lit(hi))
              val n = df.count()
              val want = sh.rows.valuesIterator.count { x =>
                val ts = x.getAs[LocalDateTime](1); !ts.isBefore(lo) && ts.isBefore(hi)
              }
              readsChecked += 1
              if (n != want) readMismatches += 1
              if (Trace.active) SkipStats.add(kept, total)
            case "read_asof" =>
              Versioned.readAsOf(spark, sh.path, 1 + r.nextInt(head.toInt)).count()
            case "changes" =>
              Versioned.changesBetween(spark, sh.path, math.max(1L, head - 3), head).count()
          }
        }
      }
      i += 1
    }
    // every table's head, shadow, and shadow minus one row (the perturbed
    // result) fingerprinted in one grouped job each
    val headFps = ProductPath.fingerprints(tables.zipWithIndex.map { case (sh, t) =>
      Versioned.read(spark, sh.path).withColumn("__tag", lit(t)) }.reduce(_ unionByName _))
    val shadowFps = ProductPath.fingerprints(spark.createDataFrame(tables.zipWithIndex.flatMap {
      case (sh, t) =>
        sh.rows.values.map(r => Row.fromSeq(r.toSeq :+ t)) ++
          sh.rows.values.drop(1).map(r => Row.fromSeq(r.toSeq :+ (t + Tables)))
    }.asJava, schema.add("__tag", IntegerType)))
    val paritySelfTest = Some(!Versioned.stateParity(spark,
      tamperedCheckpointCopy(spark, tables.head.path, s"${c.work}/parity-selftest")))
    tables.zipWithIndex.foreach { case (sh, t) =>
      val head = Versioned.latestVersion(spark, sh.path)
      out.checks += Check(s"maintain.state_parity_$t", Versioned.stateParity(spark, sh.path),
        s"head=$head", paritySelfTest)
      val want = shadowFps.getOrElse(t, (0L, 0L))
      val perturbed = shadowFps.getOrElse(t + Tables, (0L, 0L))
      val got = headFps.getOrElse(t, (0L, 0L))
      out.checks += Check(s"maintain.shadow_rows_$t", got == want, s"head=$got shadow=$want",
        Some(perturbed != got))
      val archived = Versioned.archivedFingerprint(spark, sh.path, head)
      out.checks += Check(s"maintain.archived_fingerprint_$t", archived == want,
        s"archived=$archived shadow=$want", Some(perturbed != archived))
    }
    out.checks += Check("maintain.read_where_rows", readMismatches == 0,
      s"$readMismatches of $readsChecked filtered reads disagreed with the shadow model",
      selfTestFails = None)
    out.extra("active_files") = tables.map { sh =>
      Versioned.readAsOfWhere(spark, sh.path, Versioned.latestVersion(spark, sh.path), lit(true))._3
    }.sum
    out.extra("write_kinds") = writeKinds.toSeq.sorted
    storage(spark, tables.map(_.path), s"${c.work}/plain", out)
  }

  // ------------------------------------------------------------ query_mix

  /** The stratified sample: two registered queries per family. It is fixed
    * (not drawn per seed) so that every seed times the same work; the seed
    * changes the data and the order the queries run in. */
  val mix: Seq[(String, String)] = Seq(
    "versioned" -> "q210_time_travel", "versioned" -> "q253_compact_small",
    "streaming" -> "q32_stream_window", "streaming" -> "q159_stateful_dedup",
    "silver" -> "q11_cooccurrence", "silver" -> "q14_trending_normalized",
    "text" -> "q30_text_stats", "text" -> "q72_tfidf_topterms",
    "vector" -> "q28_ann_cosine", "vector" -> "q187_embedding_standardize",
    "graph" -> "q74_pagerank", "graph" -> "q82_bfs_hops",
    "analytics" -> "q146_ewma", "analytics" -> "q152_exact_quantiles",
    "operators" -> "q52_asof_join", "operators" -> "q75_salted_count",
    "quality" -> "q23_quality_gate", "quality" -> "q134_k_anonymity")

  def queryMix(c: Ctx, out: Outcome): Unit = {
    val spark = c.spark
    // set-up: load and schema-check every input table once
    setUp(out, c.work, "load") { _ =>
      graft.Tables.schemas.keys.toSeq.sorted.foreach { t =>
        val df = if (t == "events") graft.Tables.events(spark, c.tables)
                 else graft.Tables.load(spark, c.tables, t)
        graft.Tables.assertSchema(df, t).count()
      }
    }
    val rnd = new scala.util.Random(c.plan.seed)
    var passes = 0
    c.rec.start()
    while (c.rec.timeLeft || passes == 0) {
      rnd.shuffle(mix).foreach { case (family, q) =>
        c.rec.op(s"query:$family:$q") {
          Trace.span(s"mix.$family")(SparkEntry.queries(q)(spark, c.tables).count())
        }
      }
      passes += 1
    }
    // outputs for the oracle check, outside the timed region
    val results = s"${c.work}/mix-results"
    mix.foreach { case (_, q) =>
      SparkEntry.queries(q)(spark, c.tables).coalesce(1).write.parquet(s"$results/$q")
    }
    out.extra("passes") = passes
    out.extra("results_dir") = results
    out.extra("oracle_sql") = mix.map { case (_, q) => q -> SparkEntry.oracleSql.getOrElse(q, "") }.toMap
  }
}

/** Files kept and considered by skipping reads in the traced window. */
object SkipStats {
  private val kept = new java.util.concurrent.atomic.AtomicLong
  private val total = new java.util.concurrent.atomic.AtomicLong
  def add(k: Int, t: Int): Unit = { kept.addAndGet(k.toLong); total.addAndGet(t.toLong) }
  def snapshot: (Long, Long) = (kept.get, total.get)
}
