package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts on the calling thread, and the
  * stages those jobs declare. The block runs under its own job group;
  * the listener bus, which Spark keeps package private, is drained
  * before the count is read, so every job start has been seen. */
object JobCounter {
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, jobs, _) = jobsAndStagesOf(sc)(body)
    (out, jobs)
  }

  def jobsAndStagesOf[T](sc: SparkContext)(body: => T): (T, Int, Int) = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)) {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.length)
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted", interruptOnCancel = false)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(10000L)
      (out, jobs.get, stages.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
