package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs `body` runs: only jobs carrying a job group set
  * around the call are counted, so jobs from other threads or earlier
  * calls never leak in, and the listener bus is drained before reading. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "JobCount", interruptOnCancel = false)
    try {
      val out = body
      BusDrain(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
