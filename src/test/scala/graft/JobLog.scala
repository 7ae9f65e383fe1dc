package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** The Spark jobs a block of code ran on the shared test session, as one
  * listener saw them: each job's start (with its stages' names) and end,
  * in the order the scheduler posted them, and the physical plan of each
  * SQL execution it started. */
final case class JobLog(events: Seq[JobLog.Event], plans: Seq[String]) {
  /** The number of jobs started. */
  def jobs: Int = events.count(_.isInstanceOf[JobLog.Start])
  /** The stage names of every job, in submission order. */
  def stageNames: Seq[String] = events.flatMap {
    case JobLog.Start(_, names) => names
    case _                      => Nil
  }
  /** The most jobs that were running at one time. */
  def maxInFlight: Int = events.scanLeft(0) {
    case (n, _: JobLog.Start) => n + 1
    case (n, _)               => n - 1
  }.max
}

object JobLog {
  sealed trait Event
  final case class Start(jobId: Int, stageNames: Seq[String]) extends Event
  final case class End(jobId: Int) extends Event

  private val Marker = "job-log-marker"

  /** `f`'s result and the log of the jobs submitted while it ran. A marker
    * job runs last and its end is awaited, so the asynchronous listener
    * bus has delivered every earlier start and end by the time the log is
    * read. */
  def record[T](f: => T): (T, JobLog) = {
    val spark = SparkTestSession.spark
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[Event]()
    val plans = new ConcurrentLinkedQueue[String]()
    // touched only on the listener bus's one thread
    val started = scala.collection.mutable.Set.empty[Int]
    var markerJob = -1
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == Marker))
          markerJob = e.jobId
        else {
          started += e.jobId
          events.add(Start(e.jobId, e.stageInfos.map(_.name)))
          ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerDone.countDown()
        else if (started(e.jobId)) { events.add(End(e.jobId)); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.description != Marker =>
          plans.add(s.physicalPlanDescription); ()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      sc.setJobDescription(Marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(markerDone.await(60, TimeUnit.SECONDS), "the listener bus never delivered the marker job")
      (r, JobLog(events.asScala.toSeq, plans.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  /** `f`'s result and the number of jobs it submitted. */
  def jobs[T](f: => T): (T, Int) = {
    val (r, log) = record(f)
    (r, log.jobs)
  }
}
