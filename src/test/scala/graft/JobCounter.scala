package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches from the calling thread.
  * Suites share one session and run in parallel, so a global count
  * races other suites' jobs: the count keys on a fresh job group, a
  * thread-local the engine's async SQL executions propagate
  * (SQLExecution.withThreadLocalCaptured). The listener bus is async,
  * so the count is read once it holds over consecutive polls.
  */
object JobCounter {
  def apply(spark: SparkSession)(f: => Unit): Int = {
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      f
      var stable = 0; var prev = jobs.get
      while (stable < 3) {
        Thread.sleep(30)
        val cur = jobs.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      prev
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
