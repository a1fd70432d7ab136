package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts and times the Spark jobs a block of driver code starts. */
object JobCounter {

  /** One job `body` started: when, its wall (0 if it had not ended by the
    * time the report was read) and the action that started it. */
  final case class Job(id: Int, startMs: Long, wallMs: Long, site: String)

  /** What `body` cost: its wall, its jobs in start order and the shuffle
    * bytes its stages wrote. The driver gap is the wall no job covers:
    * planning, file-system and commit round-trips. Jobs can overlap (AQE
    * runs broadcast and shuffle stages at once), so the job-sum can
    * exceed the time jobs cover. */
  final case class Report(wallS: Double, jobs: Seq[Job], shuffleWriteBytes: Long) {
    def count: Int = jobs.length
    def jobSumS: Double = jobs.map(_.wallMs).sum / 1e3
    def driverGapS: Double = {
      val (covered, _) = jobs.sortBy(_.startMs).foldLeft((0L, Long.MinValue)) {
        case ((sum, reach), j) =>
          val end = j.startMs + j.wallMs
          (sum + math.max(0L, end - math.max(j.startMs, reach)), math.max(reach, end))
      }
      wallS - covered / 1e3
    }
  }

  /** `body`'s result and what it cost. A marked sentinel job brackets it,
    * so the asynchronous listener bus has delivered every earlier event
    * before the report is read. */
  def during[T](spark: SparkSession)(body: => T): (T, Report) = {
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val shuffleBytes = new AtomicLong()
    // SQL-execution id → its action: AQE stage-materialization jobs carry
    // only the execution id, the execution's start event names the action
    val execDesc = new ConcurrentHashMap[Long, String]()
    @volatile var seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execDesc.put(s.executionId, s.description.linesIterator.take(1).mkString.trim)
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("jobcounter.sentinel").isDefined) seen.countDown()
        else {
          val site = prop("spark.sql.execution.id")
            .flatMap(id => Option(execDesc.get(id.toLong)))
            .orElse(prop("callSite.short"))
            .orElse(js.stageInfos.lastOption.map(si =>
              si.details.linesIterator.find(_.contains("graft")).map(_.trim)
                .getOrElse(si.name)))
            .getOrElse("?")
          starts.put(js.jobId, (js.time, site))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ends.put(je.jobId, je.time)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
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
      starts.clear(); ends.clear(); shuffleBytes.set(0)
      val t0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      flush()
      val jobs = starts.asScala.toSeq.sortBy(_._1).map { case (id, (t, site)) =>
        Job(id, t, Option(ends.get(id)).fold(0L)(_ - t), site)
      }
      (out, Report(wall, jobs, shuffleBytes.get))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
