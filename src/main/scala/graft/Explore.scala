package graft

/** Dev-only main for plan audits. Not part of the API.
  *
  * {{{
  *   runMain graft.Explore entry                  # flagship query, rows > 0
  *   runMain graft.Explore q15_hybrid_recommend   # time each named query
  * }}}
  * `EXPLORE_EXPLAIN=1` prints each named query's formatted plan before
  * timing it. Tables come from `SPARK_GRAFT_SF_DIR`, the session size
  * from `SPARK_GRAFT_CPUS`. Recorded plan-audit measurements live in
  * PLAN_AUDIT.md, OPTIMIZATION_r14.md, OPTIMIZATION_r15.md and plans/. */
object Explore {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.getOrCreate(cpus)
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("entry")) {
      // driver-style smoke check: flagship query on sf0.001, rows > 0
      val n = SparkEntry.entry(spark).count()
      println(s"[explore] entry rows=$n")
      require(n > 0, "entry smoke check failed")
    } else for (q <- args) {
      if (sys.env.contains("EXPLORE_EXPLAIN"))
        SparkEntry.queries(q)(spark, dir).explain("formatted")
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      println(f"[explore] $q%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }
    spark.stop()
  }
}
