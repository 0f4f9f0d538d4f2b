package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed region of the benchmark: a call into one layer of the
  * program. `parent` is the index of the enclosing span, -1 at top level.
  * Wall-clock milliseconds align spans with listener event times; the
  * nanosecond duration is the measurement. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
    endMs: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** In-memory span recorder. Spans nest by call structure; the file is
  * written once, when the run ends. */
final class Spans(val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - t0
      done += Span(id, name, parent, ms0, System.currentTimeMillis(), ns)
      open = open.tail
    }
  }

  def all: Seq[Span] = done.sortBy(_.id).toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def toJson: String = all.map { s =>
    s"""{"run":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},""" +
      s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""dur_s":${Json.num(s.seconds)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Task-metric totals of one Spark job, as the listener saw it. */
final class JobStats(val id: Int, val startMs: Long, val likelihood: Boolean) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var retries = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var resultBytes = 0L
}

/** Per-job collector registered by the traced run. Every job is later
  * attributed to the spans whose interval holds its submission time, so
  * the program needs no hooks of its own. Call sites come from the
  * stages' long-form call site, which names the program's methods. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val ll = e.stageInfos.exists(_.details.contains("Likelihood"))
    jobs(e.jobId) = new JobStats(e.jobId, e.time, ll)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (e.taskInfo.attemptNumber > 0) j.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.resultBytes += m.resultSize
      }
    }
  }

  /** Jobs submitted inside `s`. */
  def within(s: Span): Seq[JobStats] = synchronized {
    jobs.values.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs).toSeq
  }
}

/** Totals over a set of jobs. */
final case class JobTotals(jobs: Seq[JobStats]) {
  private def sum(f: JobStats => Long): Long = jobs.iterator.map(f).sum
  def count: Int = jobs.size
  def stages: Long = sum(_.stages)
  def tasks: Long = sum(_.tasks)
  def retries: Long = sum(_.retries)
  def runS: Double = sum(_.runMs) / 1e3
  def cpuS: Double = sum(_.cpuNs) / 1e9
  def gcS: Double = sum(_.gcMs) / 1e3
  def shuffleReadMb: Double = sum(_.shuffleRead) / Json.Mb
  def shuffleWriteMb: Double = sum(_.shuffleWrite) / Json.Mb
  def spillMb: Double = sum(_.spill) / Json.Mb
  def resultMb: Double = sum(_.resultBytes) / Json.Mb
  def llJobs: Int = jobs.count(_.likelihood)

  /** Seconds of `s` during which at least one of these jobs ran. */
  def coveredS(s: Span): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered / 1e3
  }
}

object Json {
  val Mb: Double = (1 << 20).toDouble

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  /** Full-precision number; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
