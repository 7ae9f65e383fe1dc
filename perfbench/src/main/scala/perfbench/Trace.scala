package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** One call into a layer, made on the benchmark's client thread, with the
  * Spark work attributed to it. Times are epoch microseconds. `jobs` and the
  * byte and task totals are the span's own (jobs submitted while it was the
  * innermost open span); `coveredMs` is the part of its wall during which at
  * least one of its own or its descendants' jobs ran; `notes` are the
  * counts the layer's call returned (rows, tokens, postings, ...). */
final case class Span(id: Int, parent: Int, name: String, request: Int, startUs: Long, endUs: Long,
    jobs: Long = 0, tasks: Long = 0, busyMs: Long = 0, shuffleWriteBytes: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0, spillBytes: Long = 0, records: Long = 0,
    coveredMs: Double = 0, notes: Map[String, Double] = Map.empty) {
  def wallMs: Double = (endUs - startUs) / 1000.0
}

/** Span recorder plus the Spark listener that feeds it. Spans are kept in
  * memory; [[finish]] attributes jobs and writes them out.
  *
  * A job belongs to the innermost span open when it was submitted, found by
  * time rather than by `spark.job.description`: the engine runs some jobs on
  * pool threads (`Overlap`), which do not reliably inherit the client
  * thread's local properties, but every job is submitted inside the call
  * that caused it. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  private def nowUs: Long = t0Ms * 1000L + (System.nanoTime() - t0Ns) / 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val notes = mutable.HashMap.empty[Int, Map[String, Double]]
  private var open = List.empty[Int]
  private var nextId = 0

  /** Attach a count to the innermost open span. */
  def note(key: String, v: Double): Unit = open.headOption.foreach { id =>
    notes(id) = notes.getOrElse(id, Map.empty[String, Double]).updated(key, v)
  }

  def span[T](name: String, request: Int = -1)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val start = nowUs
    try f
    finally {
      open = open.tail
      spans += Span(id, parent, name, request, start, nowUs)
    }
  }

  private final class Job(val submitMs: Long) {
    var endMs: Long = -1L
    var tasks, busyMs, shuffleWrite, input, output, spill, records = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j)) // a stage runs under its first job
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.busyMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.records += m.inputMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
      }
    }
  }

  /** Attribute every job to its span and return the spans, in start order. */
  def finish(): Seq[Span] = {
    PerfbenchBus.drain(spark.sparkContext)
    val ss = spans.sortBy(_.startUs).toArray
    val own = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Job]]
    synchronized {
      jobs.values.foreach { j =>
        // the innermost span whose (millisecond-rounded) interval holds the
        // submission: the latest-starting one
        var best = -1
        var i = 0
        while (i < ss.length) {
          val s = ss(i)
          if (s.startUs / 1000L <= j.submitMs && j.submitMs <= (s.endUs + 999L) / 1000L) best = i
          i += 1
        }
        if (best >= 0) own.getOrElseUpdate(ss(best).id, mutable.ArrayBuffer.empty) += j
      }
    }
    val children = ss.groupBy(_.parent)
    def subtreeJobs(id: Int): Seq[Job] =
      own.getOrElse(id, Nil).toSeq ++ children.getOrElse(id, Array.empty).flatMap(c => subtreeJobs(c.id))
    ss.toSeq.map { s =>
      val js = own.getOrElse(s.id, mutable.ArrayBuffer.empty[Job])
      val intervals = subtreeJobs(s.id).map(j =>
        (math.max(j.submitMs * 1000L, s.startUs), math.min(if (j.endMs < 0) s.endUs else j.endMs * 1000L, s.endUs)))
      s.copy(jobs = js.size, tasks = js.map(_.tasks).sum, busyMs = js.map(_.busyMs).sum,
        shuffleWriteBytes = js.map(_.shuffleWrite).sum, inputBytes = js.map(_.input).sum,
        outputBytes = js.map(_.output).sum, spillBytes = js.map(_.spill).sum,
        records = js.map(_.records).sum, coveredMs = Tracer.unionUs(intervals) / 1000.0,
        notes = notes.getOrElse(s.id, Map.empty))
    }
  }
}

object Tracer {
  /** Length of the union of [start, end) intervals. */
  def unionUs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a
        curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  private val Fields = Seq("id", "parent", "name", "request", "start_us", "end_us", "jobs", "tasks",
    "busy_ms", "shuffle_write_bytes", "input_bytes", "output_bytes", "spill_bytes", "records",
    "covered_ms")

  /** One JSON object per line; notes as `note.<key>` fields. */
  def write(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      val vs = Seq(s.id, s.parent, "\"" + s.name + "\"", s.request, s.startUs, s.endUs, s.jobs, s.tasks,
        s.busyMs, s.shuffleWriteBytes, s.inputBytes, s.outputBytes, s.spillBytes, s.records, s.coveredMs)
      (Fields.zip(vs) ++ s.notes.toSeq.sortBy(_._1).map { case (k, v) => s"note.$k" -> v })
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }
    Files.write(Paths.get(path), lines.asJava, UTF_8)
  }

  def read(path: String): Seq[Span] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val kv = "\"([a-z_.]+)\":(\"[^\"]*\"|[-0-9.Ee]+)".r.findAllMatchIn(line)
        .map(m => m.group(1) -> m.group(2)).toMap
      def l(k: String) = kv(k).toLong
      Span(kv("id").toInt, kv("parent").toInt, kv("name").stripPrefix("\"").stripSuffix("\""),
        kv("request").toInt, l("start_us"), l("end_us"), l("jobs"), l("tasks"), l("busy_ms"),
        l("shuffle_write_bytes"), l("input_bytes"), l("output_bytes"), l("spill_bytes"),
        l("records"), kv("covered_ms").toDouble,
        kv.collect { case (k, v) if k.startsWith("note.") => k.stripPrefix("note.") -> v.toDouble })
    }

  /** A span's self time: its wall minus the part its child spans cover. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(c => (c.startUs, c.endUs))
    s.wallMs - unionUs(kids) / 1000.0
  }
}
