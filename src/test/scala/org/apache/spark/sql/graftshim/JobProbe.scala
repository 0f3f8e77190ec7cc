package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test-only exact count of the Spark jobs a block starts. Job events
  * reach listeners asynchronously, so the `private[spark]` listener bus
  * is drained before counting starts and again before it stops. Suites
  * run one at a time, so no other test's jobs land in the window.
  */
object JobProbe {
  def jobsStarted[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
