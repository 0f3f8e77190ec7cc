package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** The request plan the input generator wrote next to the tables. */
final case class Plan(dir: String, seed: Long, clients: Seq[IndexedSeq[Long]], probes: Seq[Long])

/** Benchmark runner: runs one workload against generated inputs and writes
  * its raw record (operation samples, set-up times, checks, and in a
  * traced run the spans and layer counters) as JSON. The Python wrapper
  * turns the record into metrics.
  *
  * Usage: Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <out.json>
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, secondsArg, traceArg, outPath) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val planJson = mapper.readTree(new File(s"$inputDir/plan.json"))
    def longs(n: com.fasterxml.jackson.databind.JsonNode): IndexedSeq[Long] =
      n.elements().asScala.map(_.asLong).toIndexedSeq
    val plan = Plan(inputDir, planJson.get("seed").asLong,
      Option(planJson.get("clients")).map(_.elements().asScala.map(longs).toSeq).getOrElse(Nil),
      Option(planJson.get("probes")).map(longs).getOrElse(Nil))

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores.toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/stream-default")
      .getOrCreate()
    GraftSession.monitor(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val counters = if (traced) Some(new SessionCounters) else None
    counters.foreach(_.install(spark))
    val rec = new Recorder(seconds, traced, counters)
    val out = new Outcome
    val ctx = Ctx(spark, s"$inputDir/tables", workDir, plan, rec)
    workload match {
      case "serve" => Workloads.serve(ctx, out)
      case "refresh" => Workloads.refresh(ctx, out)
      case "maintain" => Workloads.maintain(ctx, out)
      case "query_mix" => Workloads.queryMix(ctx, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val measuredS = rec.measuredNs / 1e9
    rec.finish()
    // the listener bus delivers asynchronously; let it drain before reading
    if (traced) Thread.sleep(1500)

    val samples = rec.all
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seed" -> plan.seed,
      "traced" -> traced,
      "nproc" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "session_start_s" -> sessionS,
      "setup_reps_s" -> out.setupRepsS.toSeq,
      "measured_s" -> measuredS,
      "window_s" -> seconds,
      "ops" -> samples.map(s => Seq(s.kind, s.startNs / 1e6, s.durNs / 1e6, s.ok, s.traced)),
      "failures" -> rec.failureClasses,
      "checks" -> out.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail,
        "self_test_fails" -> c.selfTestFails.map(Boolean.box).orNull)).toSeq,
      "extra" -> out.extra.toMap,
      "vm_hwm_kb" -> vmHwmKb(),
    )
    if (traced) {
      val (kept, total) = SkipStats.snapshot
      record("trace") = Map(
        "spans" -> Trace.allSpans.map(s => Seq(s.id, s.parent, s.name, s.op, s.startNs, s.endNs)),
        "session" -> counters.get.counts,
        "streaming" -> counters.get.streaming,
        "format" -> rec.formatDelta,
        "files_kept" -> kept, "files_total" -> total,
        "serve_plan_ms" -> ServeStats.planMsSamples,
        "serve_rows_read_per_result" -> ServeStats.readSamples)
    }
    mapper.writeValue(new File(outPath), record)
    spark.stop()
  }

  /** Peak resident set of this process (Linux `VmHWM`), or -1. */
  private def vmHwmKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: java.io.IOException => -1L }
}
