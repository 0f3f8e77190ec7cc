package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // match GraftSession: micros timestamps carry footer stats, INT96
      // does not (the ts zone-map specs depend on them)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh temp dir `graft_<suite>_<name>…`, deleted with everything
    * under it once the suite has run. */
  def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_${suiteName}_$name").toFile
    tmpDirs.synchronized(tmpDirs += d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tmpDirs.synchronized(tmpDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly))
    finally super.afterAll()

  /** Flatten an exception chain into its messages — the fail-loud
    * assertion helper (guards survive wrapping in Spark task failures). */
  def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))

  /** The source offset of the last batch a single-source stream
    * COMMITTED under checkpoint `ckpt` (None before the first commit):
    * the highest `commits/<id>` entry, read from the last line of its
    * `offsets/<id>` record. */
  def committedOffset(ckpt: String): Option[String] = {
    val commits = Option(new java.io.File(s"$ckpt/commits").list()).toSeq.flatten
      .filter(_.forall(_.isDigit)).map(_.toLong)
    commits.maxOption.map { id =>
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$ckpt/offsets/$id")).toArray.last.toString.trim
    }
  }

  /** Collect to a sorted seq of plain tuples for order-free comparison. */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().toSet.map((r: Row) => r.toSeq)

  /** Draw `n` ScalaCheck samples with FIXED seeds (deterministic,
    * reproducible failures — no scalatest bridge in the offline
    * dependency set), retrying failed draws (`suchThat` misses) on
    * further seeds, and FAILING if fewer than `n` materialize: a silent
    * partial draw would weaken a property toward vacuity.
    */
  def samples[A](gen: org.scalacheck.Gen[A], n: Int = 6, size: Int = 14): Seq[A] = {
    val out = (1 to n * 50).iterator
      .flatMap(i => gen.apply(
        org.scalacheck.Gen.Parameters.default.withSize(size),
        org.scalacheck.rng.Seed(i.toLong)))
      .take(n).toSeq
    assert(out.size == n, s"only ${out.size} of $n generator samples materialized")
    out
  }

  /** Every node of the FINAL (post-AQE) physical plan. TreeNode.collect
    * does not descend through AdaptiveSparkPlanExec / QueryStageExec
    * (they have no tree children), so plan-shape assertions written with
    * a plain collect pass vacuously on adaptive plans; this executes the
    * frame and walks through the wrappers explicitly.
    */
  def executedPlanNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(walk)
    }
    // collect(), NOT count(): count() builds a NEW QueryExecution over an
    // added aggregate, leaving THIS df's adaptive plan unexecuted — the
    // walk would then see only the initial plan and AQE-inserted nodes
    // (skew shuffles, runtime broadcasts) would be invisible
    df.collect()
    walk(df.queryExecution.executedPlan)
  }
}
