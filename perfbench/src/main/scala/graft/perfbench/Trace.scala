package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ingest.Versioned

/** One span: a benchmark call into a layer. Times are nanoseconds from the
  * run's origin; `op` is the request, cycle or operation id. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
                      startNs: Long, endNs: Long)

/** Spans and layer counters for the traced run.
  *
  * A span is recorded only while the calling thread runs a traced
  * operation ([[Recorder]] decides which), so the untraced operations of
  * the same run pay nothing but one thread-local read. Spans stay in
  * memory and are written out with the result. Spark's listener events
  * arrive asynchronously, so they are attributed by time: an event counts
  * when it falls inside the traced window.
  */
object Trace {
  val origin: Long = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private final class Ctx(val op: Long, var stack: List[Long])
  private val ctx = new ThreadLocal[Ctx]()

  def now(): Long = System.nanoTime() - origin

  /** Marks the calling thread as running traced operation `op` (or none). */
  def enter(op: Option[Long]): Unit = op match {
    case Some(id) => ctx.set(new Ctx(id, Nil))
    case None => ctx.remove()
  }

  def active: Boolean = ctx.get() != null

  def span[T](name: String)(body: => T): T = {
    val c = ctx.get()
    if (c == null) body
    else {
      val id = ids.incrementAndGet()
      val parent = c.stack.headOption.getOrElse(0L)
      c.stack = id :: c.stack
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, name, c.op, t0, now()))
        c.stack = c.stack.tail
      }
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Deltas of the table format's own counters and of the local
  * filesystem's statistics. */
object FormatCounters {
  private def fsStats: Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    if (st == null) Map.empty
    else Seq("bytesRead", "bytesWritten")
      .map(k => k -> Option(st.getLong(k)).map(_.longValue).getOrElse(0L)).toMap
  }

  def snapshot(): Map[String, Long] = Map(
    "commit_record_reads" -> Versioned.commitRecordReads.get(),
    "commit_record_parses" -> Versioned.commitRecordParses.get(),
    "checkpoint_parses" -> Versioned.checkpointParses.get(),
    "file_status_probes" -> Versioned.fileStatusProbes.get(),
    "digest_scans" -> Versioned.digestScans.get(),
    "footer_read_timeouts" -> Versioned.footerReadTimeouts.get(),
    "auto_checkpoint_failures" -> Versioned.autoCheckpointFailures.get(),
  ) ++ fsStats.map { case (k, v) => s"fs_$k" -> v }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** Spark-side layer counters: jobs, stages and task metrics from a
  * [[SparkListener]], planning phases from a [[QueryExecutionListener]],
  * micro-batch progress from a [[StreamingQueryListener]]. Everything is
  * restricted to the window [fromMs, toMs) of wall-clock milliseconds. */
final class SessionCounters {
  @volatile var fromMs: Long = Long.MaxValue
  @volatile var toMs: Long = Long.MaxValue
  private def inWindow(ms: Long): Boolean = ms >= fromMs && ms < toMs

  private val tracedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val c = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new LongAdder).add(v)
  private val batchMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val addBatchMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val walMs = new ConcurrentLinkedQueue[java.lang.Long]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (inWindow(e.time)) {
        add("jobs", 1)
        add("stages", e.stageInfos.size)
        e.stageInfos.foreach(s => tracedStages.add(s.stageId))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (tracedStages.contains(e.stageId)) {
        add("tasks", 1)
        if (!e.taskInfo.successful) add("failed_tasks", 1)
        Option(stageSubmitMs.get(e.stageId)).foreach(s =>
          add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
        val m = e.taskMetrics
        if (m != null) {
          add("task_run_ms", m.executorRunTime)
          add("task_cpu_ns", m.executorCpuTime)
          add("gc_ms", m.jvmGCTime)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          add("input_bytes", m.inputMetrics.bytesRead)
          add("output_bytes", m.outputMetrics.bytesWritten)
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val start = if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min
      if (inWindow(start))
        add("planning_ms", phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = java.time.Instant.parse(p.timestamp).toEpochMilli
      if (inWindow(ms) && p.numInputRows > 0) {
        add("batches", 1)
        add("batch_rows", p.numInputRows)
        val d = p.durationMs.asScala
        d.get("triggerExecution").foreach(v => batchMs.add(v))
        d.get("addBatch").foreach(v => addBatchMs.add(v))
        d.get("walCommit").foreach(v => walMs.add(v))
      }
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def counts: Map[String, Long] = c.asScala.map { case (k, v) => k -> v.sum() }.toMap

  def streaming: Map[String, Seq[Long]] = Map(
    "batch_ms" -> batchMs.asScala.map(_.longValue).toSeq,
    "add_batch_ms" -> addBatchMs.asScala.map(_.longValue).toSeq,
    "wal_commit_ms" -> walMs.asScala.map(_.longValue).toSeq)
}
