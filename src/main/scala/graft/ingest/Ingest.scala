package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch ingest: landing-zone CSV → schema-enforced scan → partitioned
  * columnar write — the reference's table-driven historical load
  * re-derived (process_historical_data.py:17–78). Durable appends
  * (the weekly append, process_weekly_trends.py:33–39, with its
  * `mergeSchema=false` pin) and compaction go through the versioned
  * table format ([[Versioned.append]], [[Versioned.runStreamAppend]]
  * over [[readCsvStream]], [[Versioned.compactSmallFiles]]); the
  * writers here are whole-path overwrites and layouts.
  *
  * Scale posture: this module owns the engine's partition-pruning story.
  * Fact tables are written `partitionBy(year, month)` exactly like the
  * reference bronze layout (process_historical_data.py:53, :75), so every
  * downstream query with a time predicate prunes whole directories
  * instead of scanning 100 TB.
  */
object Ingest {

  /** One table of the reference's dict-driven ingest loop
    * (process_historical_data.py:17–58): where it lands, its declared
    * schema, derived columns, and the partition layout.
    */
  final case class TableSpec(
      name: String,
      schema: StructType,
      derive: Map[String, org.apache.spark.sql.Column] = Map.empty,
      partitionCols: Seq[String] = Nil)

  /** S1: header CSV scan options, shared by the batch and streaming
    * scans; both take a declared schema — never inferred
    * (process_historical_data.py:66). FAILFAST surfaces malformed rows
    * as job failures instead of silent nulls (the quality-gate stance).
    */
  private val CsvReadOptions = Map(
    "header" -> "true",
    "mode" -> "FAILFAST",
    // explicit µs-precision timestamps: the default formats drop
    // sub-millisecond digits on write, breaking value round-trips.
    // NTZ columns (parquet isAdjustedToUTC=false) use the NTZ option.
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.options(CsvReadOptions).schema(schema).csv(path)

  /** [[readCsv]] as a FILE STREAM source over a landing zone (a
    * directory or glob): each trigger scans only the files not yet
    * seen, and the stream checkpoint's file log records which files a
    * committed batch consumed — the processed-file manifest of the
    * reference's weekly ingest DAG (dag_weekly_trends_ingestion.py:31–41
    * tracks loaded files in an Airflow Variable). Landed through
    * [[Versioned.runStreamAppend]], a replayed batch is absorbed by its
    * txn tag, so each landing file is appended exactly once. */
  def readCsvStream(spark: SparkSession, path: String,
                    schema: StructType): DataFrame =
    spark.readStream.options(CsvReadOptions).schema(schema).csv(path)

  /** JSON-lines batch scan with the same discipline as [[readCsv]]:
    * declared schema, FAILFAST, explicit µs timestamp formats. The batch
    * sibling of the streaming source's payload decode (S7). */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("mode", "FAILFAST")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .schema(schema)
      .json(path)

  /** CSV writer used by round-trip tests and landing-zone simulation. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .mode(SaveMode.Overwrite)
      .csv(path)

  /** Raw landing-file audit: one row with the physical line count, file
    * count, parsed row count, and the integrity boolean
    * `lines_match` := raw_lines − one header per file == parsed rows.
    * `spark.read.text` sees every physical line; each line is parsed by
    * the `from_csv` EXPRESSION with a corrupt-record field — per-line
    * full-row parsing the CSV file source cannot be forced into (its
    * column pruning parses zero fields for a bare count, so
    * DROPMALFORMED + count literally returns the raw line count, and a
    * corrupt-record column on a file scan is rejected when nothing else
    * survives pruning). The audit MEASURES what the FAILFAST ingest gate
    * would only throw on: garbage/blank lines, quoted newlines, AND a
    * file missing its header (header lines are matched literally against
    * the schema's header string, and must number exactly one per file).
    * Falsifiability is unit-tested (IngestSpec).
    */
  def landingAudit(spark: SparkSession, path: String,
                   schema: StructType): DataFrame = {
    val corruptCol = "_graft_corrupt"
    require(!schema.fieldNames.contains(corruptCol),
      s"schema may not contain the reserved audit column $corruptCol")
    val headerLine = schema.fieldNames.mkString(",")
    val opts = Map(
      "mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> corruptCol,
      "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
      "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    val full = schema.add(corruptCol, org.apache.spark.sql.types.StringType)
    spark.read.text(path)
      .select((col("value") === headerLine).as("__is_header"),
        from_csv(col("value"), full, opts)
          .getField(corruptCol).as("__corrupt"),
        col("_metadata.file_path").as("__f"))
      .agg(count(lit(1)).as("raw_lines"),
        count_distinct(col("__f")).as("n_files"),
        count(when(col("__is_header"), 1)).as("header_lines"),
        count(when(!col("__is_header") && col("__corrupt").isNull, 1))
          .as("parsed_rows"))
      .withColumn("lines_match",
        col("header_lines") === col("n_files") &&
          col("parsed_rows") === col("raw_lines") - col("n_files"))
  }

  /** Apply a spec: scan, derive partition columns, validate shape. */
  def load(spark: SparkSession, spec: TableSpec, path: String): DataFrame = {
    val raw = readCsv(spark, path, spec.schema)
    spec.derive.foldLeft(raw) { case (df, (name, expr)) => df.withColumn(name, expr) }
  }

  /** S3: partitioned overwrite (process_historical_data.py:75–78).
    *
    * The frame is shuffled on the partition columns first so each output
    * directory receives one file per shuffle partition that actually holds
    * its keys instead of one file per upstream task — without this, a
    * 1000-task job writing 500 partitions emits up to 500,000 tiny files,
    * the classic lakehouse small-files failure.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    writePartitionedAs(df, partitionCols)(_.parquet(path))

  /** Shared body of the partitioned-overwrite writers: one repartition
    * on the partition columns (co-locates each directory's rows in one
    * task — the small-files defence), overwrite mode, directory-per-
    * value layout. The format is the only thing the three paths differ
    * on, so it is the only thing the caller supplies.
    */
  private def writePartitionedAs(df: DataFrame, partitionCols: Seq[String])(
      sink: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] => Unit): Unit = {
    val w = (if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*) else df)
      .write.mode(SaveMode.Overwrite)
    sink(if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
  }

  /** ORC sibling of [[writePartitioned]] — the second columnar format
    * Spark ships natively. Same layout contract (partition directories,
    * overwrite); predicate pushdown and partition pruning work the same
    * way on read (IngestSpec asserts both), so a lake standardized on
    * ORC gets the identical query surface.
    */
  def writeOrcPartitioned(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit =
    writePartitionedAs(df, partitionCols)(_.orc(path))

  /** JSON-lines partitioned write — the interchange format every
    * external producer/consumer speaks; same directory layout and
    * one-exchange shape as the parquet/ORC paths, so partition pruning
    * on the read side works identically. Columnar formats stay the
    * internal default (JSON has no column pruning or stats); this is the
    * export/import edge of the lake.
    */
  def writeJsonLines(df: DataFrame, path: String,
                     partitionCols: Seq[String]): Unit =
    writePartitionedAs(df, partitionCols)(_.json(path))

  /** JSON-lines scan with the schema DECLARED (never inferred — inference
    * reads the data twice and lets a drifting producer silently change
    * types) and FAILFAST parsing: a malformed line kills the job rather
    * than becoming a row of nulls, the same ingest discipline as the CSV
    * path (S1).
    */
  def readJsonLines(spark: org.apache.spark.sql.SparkSession, path: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** Bucketed table write: pre-shuffles rows into `numBuckets` by
    * `bucketCol` at write time so equi-joins and aggregations on that key
    * read co-located data and plan with NO exchange — the standing answer
    * to "this join shuffles 100 TB every night". Bucketing requires the
    * table catalog (`saveAsTable`), not a bare path — so this routes
    * through [[Catalog.saveTable]]: the table lands as EXTERNAL parquet
    * under `db`'s explicit location (never the implicit
    * `./spark-warehouse` side-channel) with the descriptor that lets
    * [[Catalog.attach]] re-register it — bucket spec included — in a
    * later session.
    */
  def writeBucketed(df: DataFrame, db: String, table: String, bucketCol: String,
                    numBuckets: Int): Unit =
    Catalog.saveTable(df, db, table, bucket = Some((numBuckets, bucketCol)))

  /** Z-ordered parquet write: the multi-dimensional data-skipping layout
    * (the layout lever the reference's partition-by-year/month scheme,
    * process_historical_data.py:53, gestures at for ONE dimension).
    * Rows are range-partitioned and sorted by the fused Morton code of
    * `(dimX, dimY)` ([[graft.functions.z_value]]), so each output file
    * covers one contiguous z-interval — which makes its parquet min/max
    * statistics tight on BOTH dimensions at once. A selective predicate
    * on either dimension (or a 2-d box) then skips the row groups /
    * files whose stats exclude it; a linear sort can only serve one of
    * the two dimensions.
    *
    * One shuffle (the range exchange); the in-partition sort feeds the
    * writer directly. `numFiles` sizes output files — match it to
    * data volume / ~128 MB at scale. Range boundaries come from
    * Spark's sampling partitioner: balanced under skew, which is exactly
    * what an equal-width z-bucket scheme loses on clustered keys.
    */
  def writeZOrdered(df: DataFrame, path: String, dimX: String, dimY: String,
                    numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("__z", checkedZ(dimX, dimY, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Domain-checked Morton code: `z_value` interleaves only the low
    * `bits` bits, so a negative value or one >= 2^bits would silently
    * COLLAPSE onto an unrelated z-code — the write succeeds, the
    * z-intervals still look disjoint, but per-file min/max stats go
    * domain-wide and the skipping contract is quietly void (ADVICE r5).
    * Out-of-range rows are a task error naming the offending dimension;
    * callers with a wider domain must scale/offset into [0, 2^bits) or
    * raise `bits` (≤ 31 for two dims in a positive long).
    */
  private def checkedZ(dimX: String, dimY: String, bits: Int,
                       nameX: String = null, nameY: String = null): Column = {
    val lim = 1L << bits
    // display names may differ from the bound columns (zOrderAudit
    // renames its dimensions to internal x/y) — the error must name the
    // AUDITED dimension, not the internal alias
    def checked(dim: String, shown: String): Column = {
      val v = col(dim).cast("long")
      when(v < 0 || v >= lim, raise_error(concat(
        lit(s"writeZOrdered/zOrderAudit: `$shown` value "), v.cast("string"),
        lit(s" outside [0, 2^$bits) — z_value would silently collapse it; " +
          "scale the dimension into range or raise `bits`")))).otherwise(v)
    }
    graft.functions.z_value(
      checked(dimX, Option(nameX).getOrElse(dimX)),
      checked(dimY, Option(nameY).getOrElse(dimY)), bits)
  }

  /** Layout acceptance check for [[writeZOrdered]]: per-file row count,
    * min/max of both dimensions, and min/max of the recomputed z-code —
    * one row per data file, ordered by `min_z`. For a correct z-ordered
    * layout the `[min_z, max_z]` intervals are non-overlapping and
    * ascending, and each file's per-dimension extent is a fraction of
    * the domain: exactly the statistics a zone-map-consuming reader uses
    * to skip files, which is what IngestSpec asserts on a 2-d box filter.
    */
  def zOrderAudit(spark: SparkSession, path: String, dimX: String, dimY: String,
                  bits: Int = 16): DataFrame =
    spark.read.parquet(path)
      .select(col(dimX).cast("long").as("x"), col(dimY).cast("long").as("y"),
        col("_metadata.file_path").as("file"))
      .withColumn("z", checkedZ("x", "y", bits, nameX = dimX, nameY = dimY))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      .orderBy(col("min_z"))

  /** Parquet write with file-level BLOOM FILTERS on selected columns —
    * the point-lookup complement to partition pruning: at 100 TB an
    * equality probe on a high-cardinality key (event_id, doc_id) cannot
    * prune partitions, but per-row-group bloom filters let the scan skip
    * row groups that provably lack the key, so a needle query touches a
    * handful of pages instead of the whole table. Spark's vectorized
    * parquet reader consults these filters for pushed-down equality
    * predicates automatically; the cost is a few bits per distinct value
    * at write time. `sortBy` the key first (e.g. via [[writePartitioned]]
    * on a sorted frame) to ALSO tighten min/max stats — bloom and
    * zone-map skipping compose.
    */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                     expectedDistinct: Long = 1000000L): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    val configured = bloomCols.foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedDistinct.toString)
    }
    configured.parquet(path)
  }

  /** Standard partition-column derivation for event-dated facts
    * (process_historical_data.py:70–72). */
  def dateParts(tsCol: String): Map[String, org.apache.spark.sql.Column] = Map(
    "event_date" -> to_date(col(tsCol)),
    "year" -> year(col(tsCol)),
    "month" -> month(col(tsCol)))
}
