package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded from the benchmark's own code around calls into the
  * program, plus a SparkListener that attributes Spark work to them.
  *
  * Jobs, stages and tasks are attributed to the span whose wall-clock
  * interval holds their start time. The client is one closed-loop thread,
  * so spans never overlap and that attribution is exact. Job groups are not
  * used: `CrawlJob.run` submits its snapshot writes from Futures on a shared
  * pool, whose threads keep the job group of whichever span created them.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(name: String, start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }
  private val spans = ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally if (enabled) spans.synchronized(spans += Span(name, t0, System.nanoTime()))
  }

  def named(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toSeq)
  def meanSeconds(name: String): Double = {
    val s = named(name)
    if (s.isEmpty) 0.0 else s.map(_.seconds).sum / s.size
  }
}

/** Per-job, per-stage and per-task records, keyed by start time (nanoTime
  * scale, so they compare directly with [[Tracer]] spans).
  */
final class SparkRecorder extends SparkListener {
  // listener events carry epoch millis; spans use nanoTime
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanos(epochMs: Long): Long = epochMs * 1000000L + epochToNano

  final case class Job(start: Long, var end: Long)
  final case class Task(stage: Int, launch: Long, durMs: Long, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  val stageStarts = ArrayBuffer.empty[Long]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(nanos(e.time), Long.MaxValue)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = nanos(e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageStarts += e.stageInfo.submissionTime.map(nanos).getOrElse(System.nanoTime())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, nanos(e.taskInfo.launchTime), e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Aggregates over the work that started inside `spans`. */
  def summary(spans: Seq[Tracer#Span]): Map[String, Double] = synchronized {
    def inside(t: Long) = spans.exists(s => t >= s.start && t < s.end)
    val js = jobs.values.filter(j => inside(j.start)).toSeq
    val ts = tasks.filter(t => inside(t.launch)).toSeq
    // driver time: span time that no job interval covers
    val covered = spans.map { s =>
      val iv = js.map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = 0L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total
    }.sum
    val wall = spans.map(s => s.end - s.start).sum
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs.toDouble).sorted
      val med = Stats.median(d)
      if (med > 0) d.last / med else 1.0
    }
    val run = ts.map(_.runMs).sum / 1e3
    val cpu = ts.map(_.cpuNs).sum / 1e9
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> stageStarts.count(inside).toDouble,
      "tasks" -> ts.size.toDouble,
      "driver_s" -> (wall - covered) / 1e9,
      "task_run_s" -> run,
      "task_cpu_s" -> cpu,
      "cpu_share" -> (if (run > 0) cpu / run else 0.0),
      "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "stage_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max))
  }
}

object SparkRecorder {
  def install(sc: SparkContext): SparkRecorder = {
    val r = new SparkRecorder
    sc.addSparkListener(r)
    r
  }
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** Host noise over a window: CPU steal share from /proc/stat and the
  * one-minute load average. Reads zeros where /proc is absent.
  */
final class HostNoise {
  private def cpuLine(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(
        _.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty)
      finally src.close()
    } catch { case _: Exception => Array.empty }
  private val start = cpuLine()

  /** (steal share of all CPU time in the window, load average). */
  def stop(): (Double, Double) = {
    val end = cpuLine()
    val steal =
      if (start.length < 8 || end.length < 8) 0.0
      else {
        // user nice system idle iowait irq softirq steal (guest time is
        // already inside user/nice)
        val d = end.zip(start).take(8).map { case (a, b) => a - b }
        if (d.sum > 0) d(7).toDouble / d.sum else 0.0
      }
    val load =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.trim.split("\\s+").head.toDouble finally src.close()
      } catch { case _: Exception => 0.0 }
    (steal, load)
  }
}

object Proc {
  /** Peak resident set size of this JVM in MB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
