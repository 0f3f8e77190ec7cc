package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset => OffsetV2, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.ingest.Versioned

/** A REAL Structured Streaming SOURCE over a versioned table — the
  * consumer behind [[graft.ingest.ChangeFeed.mirrorTo]]: the
  * reference's downstream DAGs tail its table format's streams the
  * same way (spark_utils.py:51–66 writes the tables those streams
  * read). Usage:
  *
  * {{{
  *   spark.readStream
  *     .format("graft.sources.VersionedSource")   // or "graft-versioned"
  *     .option("readChangeFeed", "true")           // optional: CDF rows
  *     .option("startingVersion", "3")             // optional: skip history
  *     .option("ignoreChanges", "true")            // optional: see below
  *     .load(tablePath)
  * }}}
  *
  * OFFSETS ARE COMMIT VERSIONS. `getOffset` is one log listing (no
  * record reads); a trigger's batch is the half-open version window
  * (start, end], and because the commit log is immutable the same
  * window always re-materializes the same rows — checkpoint recovery
  * replays a batch bit-identically, which is what gives file sinks and
  * foreachBatch their exactly-once story. `getBatch` returns ORDINARY
  * parquet-scan DataFrames over exactly the window's files (the
  * [[Versioned.changesBetween]] machinery), so Spark's vectorized
  * parquet reader and whole-stage codegen stay in the hot path — the
  * deliberate reason this is a V1 `Source` (whose batches are plans)
  * and not a DataSourceV2 `PartitionReader` (which would hand-roll row
  * materialization, slower than the built-in scan; the V1 API is the
  * one the reference format's own streaming source uses). Per trigger
  * the cost is O(files touched by the window's commits), never a
  * snapshot diff.
  *
  * Modes:
  *  - DEFAULT (append-only): each append commit's added rows stream
  *    through; `alter` (constraint) commits are empty; an overwrite or
  *    COW rewrite inside the window REFUSES loudly — a rewrite means
  *    previously-streamed rows changed, which an append-only consumer
  *    cannot represent. `ignoreChanges=true` opts into streaming such
  *    commits' ADDED files anyway (re-delivering the carried-over rows
  *    — the documented at-least-once trade, same contract as the
  *    reference format's option of the same name).
  *  - `readChangeFeed=true`: the CDF stream — every window's rows from
  *    [[Versioned.changesBetween]], tagged (_change_type, _version);
  *    rewrites surface as exact delete+insert pairs and never refuse.
  *
  * `startingVersion` (default 0) excludes all commits ≤ it from the
  * first batch — "stream only what happens from now on" is
  * `startingVersion = latestVersion(path)`.
  *
  * ADMISSION CONTROL (backlog catch-up): a stream starting against a
  * long history — or recovering after downtime — must not materialize
  * the entire backlog as one micro-batch. Three rate-limit options
  * bound each trigger's window, the same knobs the reference's table
  * format exposes for its streams (maxFilesPerTrigger /
  * maxBytesPerTrigger; spark_utils.py:51–66 writes the tables those
  * long-running streams tail):
  *
  *  - `maxVersionsPerTrigger`: at most N commits per batch;
  *  - `maxFilesPerTrigger`: stop admitting versions once the window
  *    holds ≥ N data files (version granularity — a commit is never
  *    split, so at least ONE version is always admitted: progress is
  *    guaranteed even when a single commit exceeds the cap);
  *  - `maxBytesPerTrigger`: same, by data-file bytes (soft cap, same
  *    at-least-one-version floor);
  *  - `maxRowsPerTrigger`: same, by row count — FREE from the commit
  *    records' archived nRows, no file I/O at all.
  *
  * Implemented through the engine's own admission-control contract
  * ([[SupportsAdmissionControl]] — the engine passes the COMMITTED
  * start offset into [[VersionedStreamSource.latestOffset]], so
  * restart never regresses the window) and
  * [[SupportsTriggerAvailableNow]] (an `AvailableNow` run snapshots
  * the head at query start and then drains it in rate-limited batches
  * instead of one giant one) — the exact pattern of Spark's own
  * `FileStreamSource`. Cost per trigger: one log listing + one small
  * commit-record read per version CONSIDERED (records are immutable
  * and memoized per source instance); the bytes cap reads each
  * record's archived `addSizes` — zero filesystem RPCs (legacy
  * size-less records fall back to one memoized `getFileStatus` per
  * file) — all O(window), never O(table).
  */
class VersionedSource extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-versioned source needs a table path: .load(<path>)"))

  private def cdfOf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  /** The stream schema = the table's HEAD schema at query start (+ CDF
    * tags). Pinned for the query's lifetime: a mid-stream schema
    * evolution fails the batch loudly rather than silently widening. */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-versioned source derives its schema from the table — do not set one")
    require(!(parameters.contains("startingVersion") &&
      parameters.contains("startingTimestamp")),
      "set startingVersion OR startingTimestamp, not both")
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val head = Versioned.latestVersion(spark, path)
    require(head > 0L, s"no commits at $path — create the table first")
    val base = Versioned.readAsOf(spark, path, head).schema
    val out =
      if (cdfOf(parameters)) StructType(base.fields ++ Seq(
        StructField("_change_type", StringType, nullable = false),
        StructField("_version", LongType, nullable = false)))
      else base
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    require(!(parameters.contains("startingVersion") &&
      parameters.contains("startingTimestamp")),
      "set startingVersion OR startingTimestamp, not both")
    // startingTimestamp: stream only commits stamped AT or AFTER the
    // moment — the exclusive version floor is the greatest version
    // strictly before it (0 when the whole history qualifies). One
    // newest-first walk, one fs handle, one record read per version
    // considered, loud refusal on legacy unstamped records (ADVICE r11)
    val startingV = parameters.get("startingTimestamp")
      .map(t => Versioned.versionFloorBefore(spark, path, t.toLong))
      .orElse(parameters.get("startingVersion").map(_.toLong))
      .getOrElse(0L)
    new VersionedStreamSource(
      sqlContext,
      path,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      cdf = cdfOf(parameters),
      startingVersion = startingV,
      ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean),
      metadataPath = metadataPath,
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger")
        .map(_.toLong),
      maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map(_.toInt),
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger").map(_.toLong),
      maxRowsPerTrigger = parameters.get("maxRowsPerTrigger").map(_.toLong),
      whereClause = parameters.get("where"))
  }
}

private[sources] class VersionedStreamSource(
    sqlContext: SQLContext, path: String, streamSchema: StructType,
    cdf: Boolean, startingVersion: Long, ignoreChanges: Boolean,
    metadataPath: String,
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None,
    whereClause: Option[String] = None)
  extends Source with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession

  /** `where` option: a SQL predicate applied to every batch — and, in
    * append-only mode, used for PER-COMMIT FILE SKIPPING off the stats
    * each commit record already archives (zero extra log reads per
    * trigger; the full predicate is still applied to the surviving
    * rows, so the stream is row-identical to an unpruned stream with a
    * downstream .filter — it just opens fewer files). At 100 TB this
    * is "tail only the events I care about" without paying the scan
    * of everything else. */
  private val whereCol: Option[org.apache.spark.sql.Column] =
    whereClause.map(org.apache.spark.sql.functions.expr)

  override def schema: StructType = streamSchema

  /** One directory listing; None until the table has commits past the
    * starting version. (V1 fallback surface — when any rate limit is
    * set the engine goes through [[latestOffset]] instead.) */
  override def getOffset: Option[V1Offset] = {
    val head = Versioned.latestVersion(spark, path)
    if (head <= startingVersion) None else Some(LongOffset(head))
  }

  // ---- admission control ------------------------------------------------

  override def initialOffset(): OffsetV2 = LongOffset(startingVersion)

  override def deserializeOffset(json: String): OffsetV2 =
    LongOffset(json.trim.toLong)

  /** Files/bytes caps advertised to the engine; the versions cap is a
    * source-private option the engine has no vocabulary for, consumed
    * directly in [[latestOffset]]. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq ++
      maxRowsPerTrigger.map(ReadLimit.maxRows).toSeq
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** True head for progress reporting, independent of admission caps. */
  override def reportLatestOffset(): OffsetV2 =
    LongOffset(Versioned.latestVersion(spark, path))

  /** `AvailableNow`: pin the head at query start; the run drains up to
    * exactly this version in rate-limited batches, whatever lands
    * concurrently. */
  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(Versioned.latestVersion(spark, path))

  // commit records and file lengths are immutable — memoized for the
  // source's lifetime so repeated admission walks stay O(window)
  private val commitCache =
    scala.collection.mutable.Map.empty[Long, Versioned.Commit]
  private val lenCache = scala.collection.mutable.Map.empty[String, Long]

  private def commitAt(v: Long): Versioned.Commit =
    commitCache.getOrElseUpdate(v,
      Versioned.commitsBetween(spark, path, v - 1L, v).headOption.getOrElse(
        throw new IllegalStateException(s"no commit record v$v at $path")))

  /** A commit's admitted data bytes: straight from the record's
    * archived `addSizes` (zero filesystem RPCs — the commit's staging
    * listed the sizes once and the log carries them); only legacy
    * size-less records fall back to one memoized getFileStatus per
    * file (counted in [[Versioned.fileStatusProbes]]). */
  private def bytesOf(c: Versioned.Commit): Long =
    if (c.addSizes.size == c.add.size) c.addSizes.sum
    else {
      lazy val log = graft.ingest.TableLog(spark, path)
      c.add.map(rel => lenCache.getOrElseUpdate(rel, {
        Versioned.fileStatusProbes.incrementAndGet()
        log.fs.getFileStatus(new Path(log.root, rel)).getLen
      })).sum
    }

  /** Flatten the engine-passed limit to (file cap, byte cap, row cap).
    * Unknown limit shapes (e.g. ReadMinRows) are inapplicable to a
    * version-offset source and read as unbounded. Row counts come FREE
    * from the commit records' archived nRows — no file I/O at all. */
  private def capsOf(limit: ReadLimit): (Long, Long, Long) = limit match {
    case _: ReadAllAvailable => (Long.MaxValue, Long.MaxValue, Long.MaxValue)
    case f: ReadMaxFiles => (f.maxFiles().toLong, Long.MaxValue, Long.MaxValue)
    case b: ReadMaxBytes => (Long.MaxValue, b.maxBytes(), Long.MaxValue)
    case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      (Long.MaxValue, Long.MaxValue, r.maxRows())
    case c: CompositeReadLimit =>
      c.getReadLimits.map(capsOf).reduce((a, b) =>
        (math.min(a._1, b._1), math.min(a._2, b._2), math.min(a._3, b._3)))
    case _ => (Long.MaxValue, Long.MaxValue, Long.MaxValue)
  }

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    // the engine passes null (not initialOffset()) before the first batch
    val committed = Option(start).map(versionOf)
    val from = math.max(committed.getOrElse(startingVersion), startingVersion)
    val headNow = Versioned.latestVersion(spark, path)
    // a committed offset past the head means this checkpoint was made
    // against another table (or the log lost commits): waiting for the
    // head to catch up would stall forever, so refuse
    for (c <- committed if c > headNow)
      throw new IllegalStateException(
        s"checkpoint at $metadataPath is ahead of the table $path " +
          s"($c > head $headNow) — wrong table or truncated log")
    val head = availableNowCap.fold(headNow)(math.min(headNow, _))
    if (head <= from) return LongOffset(from)
    val (fileCap, byteCap, rowCap) = capsOf(limit)
    val vCap = maxVersionsPerTrigger.getOrElse(Long.MaxValue)
    var v = from
    var files = 0L
    var bytes = 0L
    var rows = 0L
    while (v < head && (v - from) < vCap) {
      val c = commitAt(v + 1L)
      val cFiles = c.add.size.toLong
      val cBytes = if (byteCap == Long.MaxValue) 0L else bytesOf(c)
      val cRows = c.nRows
      // a commit is never split: the first version always admits
      // (progress guarantee), later ones only while under every cap
      if (v > from && (files + cFiles > fileCap || bytes + cBytes > byteCap ||
          rows + cRows > rowCap))
        return LongOffset(v)
      v += 1L
      files += cFiles
      bytes += cBytes
      rows += cRows
    }
    LongOffset(v)
  }

  private def versionOf(o: OffsetV2): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong // SerializedOffset after restart
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(startingVersion)
    val to = versionOf(end)
    // `start` is the last committed offset: an AvailableNow run ends
    // before its last batch is committed through [[commit]], so the next
    // run reclaims that batch's window here
    start.foreach(s => dropWindowsThrough(versionOf(s)))
    val out =
      if (from >= to) emptyBatch()
      else if (cdf) whereCol.foldLeft(cdfBatch(from, to))(_.filter(_))
      else appendOnlyBatch(from, to)
    // V1 contract: the batch frame must resolve against this source's
    // pinned schema — a mid-stream evolution shows up here as a loud
    // mismatch instead of a silent widen
    val expect = streamSchema.fields.map(f => f.name -> f.dataType).toSeq
    val got = out.schema.fields.map(f => f.name -> f.dataType).toSeq
    require(got == expect,
      s"versioned stream over $path: window ($from, $to] resolves to " +
        s"schema $got but the query started with $expect — the table " +
        "schema evolved mid-stream; restart the query to pick it up")
    // the micro-batch planner asserts isStreaming on the batch's leaves
    org.apache.spark.sql.graftshim.StreamingShim.asStreaming(out)
  }

  private def emptyBatch(): DataFrame =
    org.apache.spark.sql.graftshim.StreamingShim
      .emptyStreaming(spark, streamSchema)

  /** The CDF window. [[Versioned.changesBetween]]'s exact diff runs
    * through `exceptAll` — an aggregation, which a streaming-marked
    * plan may not contain (Spark would demand a watermark for what is
    * really a bounded per-window computation). So the window is
    * MATERIALIZED ONCE under the stream's metadata directory and the
    * returned batch is a plain scan of it — the lazily-computed
    * equivalent of the reference format's CDC files (same storage
    * shape, deferred from commit time to first read), with the bonus
    * that checkpoint recovery re-delivers byte-identical rows from the
    * cached window instead of recomputing the diff. Cost: O(changes)
    * written once per window, deleted once a later offset commits
    * ([[dropWindowsThrough]]) — only the newest window stays on disk. */
  private def cdfBatch(from: Long, to: Long): DataFrame = {
    val dir = new Path(metadataPath, s"cdf-$from-$to")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir, "_SUCCESS")))
      Versioned.changesBetween(spark, path, from, to)
        .write.mode("overwrite").parquet(dir.toString)
    spark.read.schema(streamSchema).parquet(dir.toString)
  }

  /** The append-only window: added rows of each append commit, read as
    * one standard parquet scan per commit (vectorized, pushdown-able).
    * Non-append actions refuse unless `ignoreChanges`. */
  private def appendOnlyBatch(from: Long, to: Long): DataFrame = {
    val parts = Versioned.commitsBetween(spark, path, from, to).flatMap { c =>
      c.action match {
        case "alter" => None // metadata only
        case "append" => Some(c)
        case other if ignoreChanges => if (c.add.isEmpty) None else Some(c)
        case other => throw new IllegalStateException(
          s"versioned stream over $path is append-only but v${c.version} " +
            s"is a $other — previously-streamed rows changed. Use " +
            "readChangeFeed=true for exact row-level changes, or " +
            "ignoreChanges=true to re-deliver the rewritten files' rows")
      }
    }
    if (parts.isEmpty) emptyBatch()
    else parts.map { c =>
      whereCol match {
        case Some(p) => Versioned.readCommitAddsWhere(spark, path, c, p)._1
        case None => Versioned.readCommitAdds(spark, path, c)
      }
    }.reduce(_.unionByName(_))
  }

  /** Delete the materialized CDF windows `cdf-<from>-<to>` whose `to` is
    * at or below a committed offset: recovery re-delivers only the batch
    * after the last commit, so no later batch reads them again. */
  private def dropWindowsThrough(committed: Long): Unit = if (cdf) {
    val root = new Path(metadataPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Window = """cdf-(\d+)-(\d+)""".r
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case Window(_, to) if to.toLong <= committed => fs.delete(st.getPath, true)
        case _ =>
      }
    }
  }

  override def commit(end: V1Offset): Unit = dropWindowsThrough(versionOf(end))
  override def stop(): Unit = ()
}
