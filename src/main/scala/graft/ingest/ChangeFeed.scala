package graft.ingest

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** STREAMING CONSUMPTION of a versioned table's change feed — the
  * read-side twin of [[Versioned.runStreamAppend]]'s exactly-once sink,
  * and the incremental form of [[Versioned.changesBetween]]. The
  * consumer is the `graft-versioned` stream source
  * ([[graft.sources.VersionedSource]]) with `readChangeFeed=true`: its
  * offsets are commit versions, held in the stream's own checkpoint,
  * and a replayed window re-materializes the same rows. The reference
  * consumes its table format's change data feed the same way —
  * `readChangeFeed` from a starting version with streaming offsets
  * tracked per consumer (spark_utils.py:51–66 ships the writes whose
  * CDF downstream DAGs tail).
  *
  * Delivery contract: the source re-delivers an uncommitted window
  * after a crash (at-least-once); [[mirrorTo]] makes it exactly-once
  * end to end by landing every source version as a transactionally
  * tagged idempotent append, so a re-delivered version is a no-op at
  * the downstream commit log — the same absorption q219 gates for the
  * sink side.
  *
  * 100 TB posture: a trigger costs one log listing plus
  * `changesBetween` over ONLY the window's commits (appends scan their
  * added files; rewrites diff only the rewritten files) — never a
  * snapshot diff.
  */
object ChangeFeed {

  /** Exactly-once MIRROR of the change feed into a downstream
    * versioned table: one `readChangeFeed` stream over `tablePath`
    * (checkpointed at `checkpointDir`, at most `maxVersionsPerTrigger`
    * source versions per micro-batch, run until the head seen at start
    * is consumed), whose every SOURCE VERSION lands as one
    * transactionally-tagged append (`txnApp = appId`, `txnBatch` = the
    * source version). ANY re-delivery is absorbed at the downstream
    * commit log — including a fresh checkpoint replaying the feed with
    * a DIFFERENT `maxVersionsPerTrigger`: window boundaries then shift,
    * but the per-version row sets are identical by construction, which
    * window-keyed idempotence could not absorb (a width-2 first run
    * commits batches keyed 2,4; a width-1 rerun would produce
    * never-seen keys 1,3 and duplicate every row — ADVICE r10). The
    * trigger width only batches offset advances, not idempotence
    * granularity. A version whose diff is empty (e.g. an OPTIMIZE
    * rewrite, which cancels) has no rows in the batch and so no
    * commit. Returns the downstream head version after the run. */
  def mirrorTo(spark: SparkSession, tablePath: String, downstreamPath: String,
               checkpointDir: String, appId: String,
               maxVersionsPerTrigger: Int = Int.MaxValue): Long = {
    require(maxVersionsPerTrigger >= 1,
      s"maxVersionsPerTrigger must be >= 1, got $maxVersionsPerTrigger")
    val q = spark.readStream
      .format("graft.sources.VersionedSource")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toLong)
      .load(tablePath)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // ascending: the downstream txn watermark skips a version at or
        // below the last one committed for this app
        batch.select("_version").distinct().collect().map(_.getLong(0)).sorted
          .foreach { v =>
            Versioned.idempotentAppend(batch.filter(col("_version") === v),
              downstreamPath, appId, v)
          }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Versioned.latestVersion(spark, downstreamPath)
  }
}
