package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. */
object JobCounter {

  /** `body`'s result and the jobs it started. A marked sentinel job
    * brackets it, so the asynchronous listener bus has delivered every
    * earlier start before the count is read. */
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    @volatile var seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("jobcounter.sentinel") != null))
          seen.countDown()
        else jobs.incrementAndGet()
    }
    def flush(): Unit = {
      seen = new CountDownLatch(1)
      val sc = spark.sparkContext
      sc.setLocalProperty("jobcounter.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("jobcounter.sentinel", null)
      assert(seen.await(60, TimeUnit.SECONDS), "sentinel job never reported")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      flush()
      val before = jobs.get()
      val out = body
      flush()
      (out, jobs.get() - before)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
