package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ingest.{Ingest, Versioned}

class IngestSpec extends SparkTestBase {
  import spark.implicits._

  test("CSV round-trip preserves values including microsecond timestamps") {
    val df = List(
      (1L, "a", 1.5, java.time.LocalDateTime.parse("2024-03-01T10:20:30.123456")),
      (2L, "b", -0.25, java.time.LocalDateTime.parse("1999-12-31T23:59:59.000001")))
      .toDF("id", "name", "v", "ts")
    val dir = tmp("ingest")
    Ingest.writeCsv(df, s"$dir/csv")
    val back = Ingest.readCsv(spark, s"$dir/csv", df.schema)
    assert(rows(back) == rows(df))
  }

  test("JSON-lines round-trip preserves values with declared schema") {
    val df = List((1L, "a", 2.5), (2L, "b", -1.0)).toDF("id", "name", "v")
    val dir = tmp("ingest")
    df.write.json(s"$dir/j")
    val back = Ingest.readJson(spark, s"$dir/j", df.schema)
    assert(rows(back) == rows(df))
  }

  test("FAILFAST surfaces malformed rows instead of nulling them") {
    val dir = tmp("ingest")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/bad"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/bad/x.csv"),
      "id,v\n1,notanumber\n")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "double")
    intercept[Exception] {
      Ingest.readCsv(spark, s"$dir/bad", schema).collect()
    }
  }

  test("partitioned write creates year/month directories and prunes on read") {
    val df = List(
      (1L, java.time.LocalDateTime.parse("2023-01-05T00:00:00")),
      (2L, java.time.LocalDateTime.parse("2023-02-05T00:00:00")),
      (3L, java.time.LocalDateTime.parse("2024-01-05T00:00:00")))
      .toDF("id", "ts")
      .withColumn("year", year(col("ts"))).withColumn("month", month(col("ts")))
    val dir = tmp("ingest")
    Ingest.writePartitioned(df, s"$dir/t", Seq("year", "month"))
    val dirs = new java.io.File(s"$dir/t").listFiles().map(_.getName).filter(_.startsWith("year=")).sorted
    assert(dirs.toSeq == Seq("year=2023", "year=2024"))
    val pruned = spark.read.parquet(s"$dir/t").filter(col("year") === 2023)
    assert(pruned.count() == 2)
    // the filter must reach partition pruning, not a post-scan filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("year=2024"))
  }

  test("ORC partitioned write round-trips values, prunes partitions, and pushes predicates") {
    val df = List((1L, "a", 10.5), (2L, "a", -3.25), (3L, "b", 7.0))
      .toDF("id", "kind", "value")
    val dir = tmp("ingest")
    Ingest.writeOrcPartitioned(df, s"$dir/orc", Seq("kind"))
    val dirs = new java.io.File(s"$dir/orc").listFiles()
      .map(_.getName).filter(_.startsWith("kind=")).sorted
    assert(dirs.toSeq == Seq("kind=a", "kind=b"))
    // exact value roundtrip (longs and doubles)
    assert(rows(spark.read.orc(s"$dir/orc").select("id", "kind", "value")) ==
      rows(df))
    val filtered = spark.read.orc(s"$dir/orc")
      .filter(col("kind") === "a" && col("id") >= 2L)
    assert(rows(filtered.select("id")) == Seq(Seq(2L)))
    val scan = filtered.queryExecution.executedPlan.toString
    assert(!scan.contains("kind=b"), "partition pruning failed for ORC")
    assert(scan.contains("PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,2)"),
      s"data predicate not pushed into the ORC reader:\n$scan")
  }

  test("JSON-lines partitioned write round-trips values, prunes partitions, rejects malformed lines") {
    import org.apache.spark.sql.types._
    val df = List((1L, "a", 10.5), (2L, "a", -3.25), (3L, "b", 7.0))
      .toDF("id", "kind", "value")
    val dir = tmp("ingest")
    Ingest.writeJsonLines(df, s"$dir/json", Seq("kind"))
    val dirs = new java.io.File(s"$dir/json").listFiles()
      .map(_.getName).filter(_.startsWith("kind=")).sorted
    assert(dirs.toSeq == Seq("kind=a", "kind=b"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("value", DoubleType)))
    // partition column omitted from the declared schema is appended by
    // the reader from the directory layout
    assert(rows(Ingest.readJsonLines(spark, s"$dir/json", schema)
      .select("id", "kind", "value")) == rows(df))
    val filtered = Ingest.readJsonLines(spark, s"$dir/json", schema)
      .filter(col("kind") === "a")
    assert(filtered.count() == 2)
    assert(!filtered.queryExecution.executedPlan.toString.contains("kind=b"),
      "partition pruning failed for JSON")
    // FAILFAST: a malformed line must kill the read, not become nulls.
    // A NEW file (appending to an existing part would trip the Hadoop
    // CRC check first and never reach the parser).
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/json/kind=a/part-99999-garbage.json"),
      "{not json\n")
    val e = intercept[Exception] {
      Ingest.readJsonLines(spark, s"$dir/json", schema).count()
    }
    assert(messages(e).exists(m =>
      m.contains("MALFORMED_RECORD") || m.contains("FAILFAST") || m.contains("Malformed")),
      s"messages=${messages(e)}")
  }

  test("landingAudit passes a clean landing and fails a corrupted one (falsifiable boolean)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val df = List((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    val dir = tmp("ingest")
    Ingest.writeCsv(df, s"$dir/landing")
    def audit() = Ingest.landingAudit(spark, s"$dir/landing", schema)
      .select("parsed_rows", "lines_match").collect().head
    val clean = audit()
    assert(clean.getLong(0) == 3 && clean.getBoolean(1))
    // corrupt the landing zone: a garbage line the permissive parse
    // marks corrupt but the raw line count sees — the boolean must flip
    val part = new java.io.File(s"$dir/landing").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).head
    java.nio.file.Files.write(part.toPath, "not-a-long,oops,extra\n".getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    // drop the local-FS checksum sidecar so the tamper reaches the parser
    // (on a real object store there is no CRC file to save us)
    new java.io.File(part.getParentFile, s".${part.getName}.crc").delete()
    val corrupted = audit()
    assert(corrupted.getLong(0) == 3 && !corrupted.getBoolean(1),
      "garbage-line corruption must flip lines_match false")
  }

  test("bucketed tables join without a shuffle exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // an explicitly-located database — nothing may land in the implicit
    // ./spark-warehouse side-channel (asserted in CatalogSpec)
    val db = s"graft_bkt_${System.nanoTime()}"
    val a = (1L to 100L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "vb")
    try {
      graft.ingest.Catalog.ensureDatabase(spark, db, tmp("ingest"))
      Ingest.writeBucketed(a, db, "ta", "k", 4)
      Ingest.writeBucketed(b, db, "tb", "k", 4)
      val joined = spark.table(s"$db.ta").join(spark.table(s"$db.tb"), "k")
      assert(joined.count() == 100)
      // executedPlanNodes, not a plain collect: TreeNode.collect cannot
      // see through AQE wrappers and would pass this vacuously
      val shuffles = executedPlanNodes(joined).filter(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles.isEmpty, s"bucketed join should not shuffle: ${shuffles.size} exchanges")
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("saltedCount matches plain groupBy counts exactly") {
    import graft.silver.Pipelines
    val df = (1L to 500L).map(i => (if (i % 5 == 0) 1L else i, "x")).toDF("k", "v")
    val plain = df.groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Pipelines.saltedCount(df, "k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("a CSV file stream lands each landing file exactly once into a versioned table") {
    val dir = tmp("ingest")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/landing"))
    def drop(name: String, rows: String): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$dir/landing/$name"), s"id,v\n$rows")
    def land(): Long = Versioned.runStreamAppend(spark,
      Ingest.readCsvStream(spark, s"$dir/landing", schema),
      s"$dir/table", s"$dir/ckpt", "landing")
    drop("week1.csv", "1,a\n2,b")
    drop("week2.csv", "3,c")
    assert(land() == 1L)
    assert(Versioned.read(spark, s"$dir/table").count() == 3)
    // idempotent re-run: nothing new, no commit
    assert(land() == 1L)
    assert(Versioned.read(spark, s"$dir/table").count() == 3)
    // a late-arriving file is picked up alone
    drop("week3.csv", "4,d\n5,e")
    assert(land() == 2L)
    assert(Versioned.commitsBetween(spark, s"$dir/table", 1L, 2L).map(_.nRows) == Seq(2L))
    assert(rowSet(Versioned.read(spark, s"$dir/table")) ==
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c"), Seq(4L, "d"), Seq(5L, "e")))
  }

  test("append adds rows without rewriting existing partitions") {
    val dir = tmp("ingest")
    val a = List((1L, 2023, 1)).toDF("id", "year", "month")
    val b = List((2L, 2023, 2)).toDF("id", "year", "month")
    val v1 = Versioned.overwrite(a, s"$dir/t", partitionBy = Seq("year", "month"))
    val v2 = Versioned.append(b, s"$dir/t")
    assert(Versioned.read(spark, s"$dir/t").count() == 2)
    assert(v2.remove.isEmpty && v2.add.forall(_.contains("month=2")), v2.add)
    val (_, kept, total) = Versioned.readAsOfPartitions(spark, s"$dir/t", v2.version)(_ => true)
    assert(kept == total && total == v1.add.size + v2.add.size)
  }

  test("compact collapses a sprayed table into few files with identical content") {
    val dir = tmp("ingest")
    val d = (1L to 2000L).map(i => (i, s"row_$i")).toDF("id", "v")
    Versioned.overwrite(d.repartition(64), s"$dir/t") // the small-files spray
    def files() = Versioned.read(spark, s"$dir/t").inputFiles.length
    assert(files() == 64)
    val before = rowSet(Versioned.read(spark, s"$dir/t"))
    assert(Versioned.compactSmallFiles(spark, s"$dir/t",
      maxFileBytes = 10L * 1024 * 1024).isDefined)
    assert(files() < 8, s"still ${files()} files")
    assert(rowSet(Versioned.read(spark, s"$dir/t")) == before)
  }

  test("compact preserves a Hive-partitioned layout and its pruning") {
    val dir = tmp("ingest")
    val d = (1L to 1200L).map(i => (i, s"r$i", 2020 + (i % 3).toInt)).toDF("id", "v", "year")
    Versioned.overwrite(d.repartition(16), s"$dir/t", partitionBy = Seq("year")) // 16 files per partition
    val before = rowSet(Versioned.read(spark, s"$dir/t"))
    val c = Versioned.compactSmallFiles(spark, s"$dir/t",
      maxFileBytes = 10L * 1024 * 1024).get
    val byYear = c.add.groupBy(f => "year=\\d+".r.findFirstIn(f))
    assert(byYear.keySet == Set(Some("year=2020"), Some("year=2021"), Some("year=2022")),
      s"partition dirs lost: ${c.add}")
    byYear.values.foreach(fs => assert(fs.size < 4, s"still sprayed: $fs"))
    assert(rowSet(Versioned.read(spark, s"$dir/t")) == before)
    // pruning from log metadata still sees the layout
    val (y21, kept, total) = Versioned.readAsOfPartitions(spark, s"$dir/t", c.version)(
      _("year").contains("2021"))
    assert(kept < total && y21.count() == 400L)
  }

  test("z-ordered write: disjoint ascending z-ranges; a 2-d box touches few files") {
    val dir = tmp("ingest")
    // every (x, y) pair of the 256×256 grid exactly once, in scattered
    // input order so nothing is pre-clustered
    val grid = (0 until 65536).map(i => (i.toLong * 40503L) % 65536L)
      .map(j => (j / 256, j % 256, j)).toDF("x", "y", "payload")
    Ingest.writeZOrdered(grid, s"$dir/z", "x", "y", numFiles = 16, bits = 8)
    val audit = Ingest.zOrderAudit(spark, s"$dir/z", "x", "y", bits = 8).collect()
    assert(audit.length == 16, s"expected one file per range partition, got ${audit.length}")
    // monotone layout: per-file z-intervals never overlap (audit is
    // ordered by min_z), so each file owns one contiguous z range
    audit.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("max_z") <= b.getAs[Long]("min_z"),
        s"overlapping z-ranges: ${a.getAs[Long]("max_z")} > ${b.getAs[Long]("min_z")}")
    }
    // file skipping on a two-dim box: [0,32)² is z ∈ [0,1024) — the
    // min/max stats a zone-map reader consults must exclude almost every
    // file (the box is 1/64 of the domain; allow 2 for boundary files)
    def touches(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("min_x") < 32 && r.getAs[Long]("max_x") >= 0 &&
        r.getAs[Long]("min_y") < 32 && r.getAs[Long]("max_y") >= 0
    val zTouched = audit.count(touches)
    assert(zTouched <= 2, s"z layout: box should touch <=2 of 16 files, touched $zTouched")
    // the same data written without z-ordering has useless per-file
    // stats: every file's min/max spans the domain and none can be
    // skipped — the delta IS the layout's value
    grid.repartition(16).write.parquet(s"$dir/plain")
    val plainTouched = Ingest.zOrderAudit(spark, s"$dir/plain", "x", "y", bits = 8)
      .collect().count(touches)
    assert(plainTouched == 16, s"plain layout should touch all 16 files, touched $plainTouched")
    // and the layout preserves content exactly
    assert(spark.read.parquet(s"$dir/z").count() == 65536)
  }

  test("writeZOrdered / zOrderAudit reject out-of-domain dimension values loudly") {
    // z_value interleaves only the low `bits` bits: a negative or
    // >= 2^bits value would silently COLLAPSE onto an unrelated z-code —
    // layout looks valid, per-file stats go domain-wide, skipping
    // contract quietly void (ADVICE r5). Both ends must error instead.
    val dir = tmp("ingest")
    val neg = Seq((-1L, 3L), (2L, 4L)).toDF("x", "y")
    val exNeg = intercept[Exception] {
      Ingest.writeZOrdered(neg, s"$dir/zneg", "x", "y", numFiles = 2, bits = 8)
    }
    assert(messages(exNeg).exists(m => m != null && m.contains("outside [0, 2^8)")),
      s"expected the domain guard, got: ${messages(exNeg).mkString(" | ")}")
    val big = Seq((0L, 256L)).toDF("x", "y")
    val exBig = intercept[Exception] {
      Ingest.writeZOrdered(big, s"$dir/zbig", "x", "y", numFiles = 2, bits = 8)
    }
    assert(messages(exBig).exists(m => m != null && m.contains("outside [0, 2^8)")))
    // the audit applies the same guard when re-deriving z from read-back
    // rows: files written by OTHER means with a wider domain must not
    // audit as clean
    // real column names ≠ the audit's internal x/y aliases, so this also
    // pins that the error names the AUDITED dimension, not the alias
    Seq((300L, 1L)).toDF("user_id", "value").write.parquet(s"$dir/wide")
    val exAudit = intercept[Exception] {
      Ingest.zOrderAudit(spark, s"$dir/wide", "user_id", "value", bits = 8).collect()
    }
    assert(messages(exAudit).exists(m => m != null &&
      m.contains("outside [0, 2^8)") && m.contains("`user_id`")),
      s"expected the guard naming `user_id`, got: ${messages(exAudit).mkString(" | ")}")
    // in-domain boundary values still write clean
    val edge = Seq((0L, 255L), (255L, 0L)).toDF("x", "y")
    Ingest.writeZOrdered(edge, s"$dir/zedge", "x", "y", numFiles = 1, bits = 8)
    assert(spark.read.parquet(s"$dir/zedge").count() == 2)
  }

  test("writeWithBloom lands parquet bloom filters that the scan can use") {
    val dir = tmp("ingest")
    val d = (1L to 5000L).map(i => (i, s"v$i")).toDF("id", "v")
    Ingest.writeWithBloom(d, s"$dir/t", Seq("id"), expectedDistinct = 5000L)
    // content survives the roundtrip and equality probes stay correct
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 5000L)
    assert(back.filter($"id" === 4321L).collect().map(_.getString(1)).toSeq == Seq("v4321"))
    // the filter actually landed in the files: parquet footers record a
    // bloom filter offset for the id column chunk
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(s"$dir/t"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(part, spark.sparkContext.hadoopConfiguration))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val byName = (0 until cols.size).map(cols.get)
        .map(c => c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)).toMap
      assert(byName("id"), "no bloom filter offset recorded for id")
      assert(!byName("v"), "bloom filter unexpectedly written for v")
    } finally reader.close()
  }

  test("append refuses a divergent schema instead of landing mixed files") {
    val dir = tmp("ingest")
    val a = List((1L, "x")).toDF("id", "v")
    Versioned.overwrite(a, s"$dir/t")
    val widened = List((2L, "y", 3.5)).toDF("id", "v", "extra")
    val e = intercept[IllegalStateException] {
      Versioned.append(widened, s"$dir/t")
    }
    assert(e.getMessage.contains("schema mismatch"))
    // table untouched by the refused append
    assert(Versioned.latestVersion(spark, s"$dir/t") == 1L)
    assert(Versioned.read(spark, s"$dir/t").count() == 1)
  }
}
