package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed operation: its kind, start and duration, whether it
  * succeeded and whether it ran traced. */
final case class OpSample(id: Long, kind: String, startNs: Long, durNs: Long,
                          ok: Boolean, traced: Boolean)

/** Runs the timed region and records every attempted operation.
  *
  * Untraced runs measure for `seconds`. A traced run measures the traced
  * window for `seconds`, framed by an untraced quarter before and after
  * it: the op latencies of those quarters against the traced window give
  * the tracing overhead without a second process, and framing on both
  * sides cancels warm-up drift. Operations are traced by their start time.
  */
final class Recorder(seconds: Double, traced: Boolean, session: Option[SessionCounters]) {
  private val ids = new AtomicLong(0)
  private val samples = new ConcurrentLinkedQueue[OpSample]()
  private val failures = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val secNs = (seconds * 1e9).toLong
  private var t0 = 0L
  private var wallStartMs = 0L
  @volatile private var counters0: Map[String, Long] = Map.empty
  @volatile private var counters1: Map[String, Long] = Map.empty
  private var timer: Option[java.util.Timer] = None
  private val lastEndNs = new AtomicLong(0)

  private def aNs: Long = if (traced) secNs / 4 else 0L
  def start(): Unit = {
    t0 = Trace.now()
    wallStartMs = System.currentTimeMillis()
    session.foreach { s =>
      s.fromMs = wallStartMs + aNs / 1000000L
      s.toMs = s.fromMs + secNs / 1000000L
    }
    if (!traced) return
    val t = new java.util.Timer("perfbench-window", true)
    t.schedule(new java.util.TimerTask { def run(): Unit = counters0 = FormatCounters.snapshot() },
      aNs / 1000000L)
    t.schedule(new java.util.TimerTask { def run(): Unit = counters1 = FormatCounters.snapshot() },
      (aNs + secNs) / 1000000L)
    timer = Some(t)
  }

  /** Ends the timed region; a traced window cut short by the workload
    * (refresh can run out of weeks) closes here. */
  def finish(): Unit = synchronized {
    timer.foreach(_.cancel())
    if (traced && counters0.nonEmpty && counters1.isEmpty) {
      counters1 = FormatCounters.snapshot()
      session.foreach(_.toMs = System.currentTimeMillis())
    }
  }
  def elapsedNs: Long = Trace.now() - t0
  /** From the start of the timed region to the end of its last operation. */
  def measuredNs: Long = lastEndNs.get()
  def totalNs: Long = secNs + 2 * aNs
  def timeLeft: Boolean = elapsedNs < totalNs
  private def inTracedWindow(ns: Long): Boolean = traced && ns >= aNs && ns < aNs + secNs

  /** Runs `body` as one operation of `kind`; a failure is recorded with
    * its exception class and yields None. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val id = ids.incrementAndGet()
    val st = elapsedNs
    val tr = inTracedWindow(st)
    Trace.enter(if (tr) Some(id) else None)
    val s0 = System.nanoTime()
    def done(ok: Boolean): Unit = {
      samples.add(OpSample(id, kind, st, System.nanoTime() - s0, ok, tr))
      lastEndNs.accumulateAndGet(elapsedNs, math.max)
    }
    try {
      val r = Trace.span(s"bench.$kind")(body)
      done(ok = true)
      Some(r)
    } catch {
      case NonFatal(e) =>
        done(ok = false)
        failures.computeIfAbsent(e.getClass.getName, _ => new AtomicLong).incrementAndGet()
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
        None
    } finally Trace.enter(None)
  }

  def all: Seq[OpSample] = samples.asScala.toSeq.sortBy(_.startNs)
  def failureClasses: Map[String, Long] = failures.asScala.map { case (k, v) => k -> v.get }.toMap
  def formatDelta: Map[String, Long] =
    if (counters1.isEmpty) Map.empty else FormatCounters.delta(counters0, counters1)
}
