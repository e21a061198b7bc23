package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counting the Spark jobs a block of spec code launches, on the shared
  * [[TestSpark]] context (sessions made with `newSession()` share it). */
object SparkJobs {
  private val SentinelKey = "graft.spec.sentinel"

  /** Block until the listener bus has delivered every job start so
    * far: a sentinel job is started on this thread, and events reach
    * the listeners of one bus queue in order, so once its start arrives
    * every earlier one has too. */
  def drainJobStarts(): Unit = {
    val sc = TestSpark.spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && tag == j.properties.getProperty(SentinelKey)) seen.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(SentinelKey, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SentinelKey, null)
      assert(seen.await(30, TimeUnit.SECONDS), "the listener bus never delivered the sentinel job")
    } finally sc.removeSparkListener(l)
  }

  /** Jobs `body` launches on this thread, counted by a job-group-scoped
    * listener (parallel suites cannot pollute it). */
  def jobsOf[A](group: String)(body: => A): (A, Int) = {
    val sc = TestSpark.spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && group == j.properties.getProperty("spark.jobGroup.id") &&
            j.properties.getProperty(SentinelKey) == null) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val r = try body finally sc.clearJobGroup()
      drainJobStarts()
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
