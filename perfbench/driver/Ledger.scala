package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** The traced run's ledger: spans recorded by the benchmark around each
  * call into a layer, plus a `SparkListener` that attributes Spark jobs
  * and task metrics to those spans by time window. The benchmark calls one
  * layer at a time from one thread, so a job belongs to every span whose
  * window holds its submission time. Everything is kept in memory and
  * summarized when the run ends.
  */
final class Ledger extends SparkListener {

  final case class Span(name: String, parent: Int, startMs: Long, endMs: Long) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  final class Job(val submitMs: Long) {
    var endMs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleRecords = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var bytesWritten = 0L
    var firstLaunchMs = Long.MaxValue
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(String, Int, Long)] = Nil
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  /** Run `body` inside a span named `name`, nested in the open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption.map(_._2).getOrElse(-1)
    val id = synchronized { spans += null; spans.length - 1 }
    open = (name, id, System.currentTimeMillis()) :: open
    try body
    finally {
      val (_, _, start) = open.head
      open = open.tail
      synchronized { spans(id) = Span(name, parent, start, System.currentTimeMillis()) }
    }
  }

  /** Drop the closed spans `keep` rejects (set-up spans before the measured window). */
  def clear(keep: String => Boolean): Unit = synchronized {
    val kept = spans.filter(sp => sp != null && keep(sp.name))
    spans.clear()
    spans ++= kept
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.shuffleRecords += m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Block until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BusDrain(sc)

  /** Totals over the jobs submitted inside one span's window. */
  final case class Totals(wall: Double, jobs: Long, tasks: Long, cpuS: Double,
      driverS: Double, jobWaitS: Double, shuffleRecords: Long, shuffleBytes: Long,
      spillBytes: Long, bytesWritten: Long)

  def totals(s: Span): Totals = synchronized {
    val in = jobs.values.filter(j => j.submitMs >= s.startMs && j.submitMs <= s.endMs).toSeq
    // time inside the span during which no job of the application ran
    val busy = jobs.values.toSeq
      .map(j => (math.max(j.submitMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = s.startMs
    busy.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    Totals(s.seconds, in.size, in.map(_.tasks).sum, in.map(_.cpuNs).sum / 1e9,
      (s.endMs - s.startMs - covered) / 1e3,
      in.filter(_.firstLaunchMs != Long.MaxValue).map(j => j.firstLaunchMs - j.submitMs).sum / 1e3,
      in.map(_.shuffleRecords).sum, in.map(_.shuffleBytes).sum, in.map(_.spillBytes).sum,
      in.map(_.bytesWritten).sum)
  }

  def closed: Seq[Span] = synchronized(spans.filter(_ != null).toSeq)

  /** Sum of [[totals]] over every closed span named `name`. */
  def sumOf(name: String): Totals = sum(closed.filter(_.name == name).map(totals))

  def sum(ts: Seq[Totals]): Totals = Totals(ts.map(_.wall).sum, ts.map(_.jobs).sum,
    ts.map(_.tasks).sum, ts.map(_.cpuS).sum, ts.map(_.driverS).sum, ts.map(_.jobWaitS).sum,
    ts.map(_.shuffleRecords).sum, ts.map(_.shuffleBytes).sum, ts.map(_.spillBytes).sum,
    ts.map(_.bytesWritten).sum)

  def count(name: String): Int = closed.count(_.name == name)

  /** Every span as one JSON object per line: name, parent index, window
    * and the jobs, tasks and task CPU attributed to it. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.toSeq).zipWithIndex.collect { case (s, i) if s != null =>
      val t = totals(s)
      f"""{"id":$i,"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs},""" +
        f""""end_ms":${s.endMs},"jobs":${t.jobs},"tasks":${t.tasks},"task_cpu_s":${t.cpuS}%.6f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
