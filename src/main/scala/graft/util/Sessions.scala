package graft.util

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one session harness behind the tooling mains (`BenchExtra`,
  * `PlanDump`, `Smoke`, `Calibrate` and the scaling benches), and the one
  * way a library operator submits jobs from the global pool. The frozen
  * `Bench` and `Verify` mains keep their own builders.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with shuffle partitions = cpus, UTC, AQE on,
    * no UI and WARN logging. With `SPARK_GRAFT_BENCH_TMPDIR` set, spill
    * and the warehouse live under it; the warehouse is per `name` and
    * level, so two levels never share a table directory. `conf` is applied
    * last: a main passes only the settings it measures differently.
    */
  def local(
      cpus: Int = defaultCpus,
      name: String = "graft",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"$name-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_BENCH_TMPDIR").foreach { tmp =>
      builder.config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", s"$tmp/warehouse-$name-$cpus")
    }
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One small job, so executor start-up and first codegen fall outside
    * the measured window.
    */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id * 2)").collect(): Unit

  /** `body` on Scala's global pool, its Spark jobs labelled `description`
    * (a fan-out passes its caller's: [[concurrently]]). The label is
    * thread-local, so it is set inside the future, and cleared after it so
    * the pool thread carries no stale label into its next task.
    */
  def submit[T](sc: SparkContext, description: String)(body: => T): Future[T] =
    Future {
      sc.setJobDescription(description)
      try body finally sc.setJobDescription(null)
    }(ExecutionContext.global)

  /** `bodies` run concurrently through [[submit]], their jobs labelled with
    * the calling thread's description; their results, in order.
    */
  def concurrently[T](sc: SparkContext)(bodies: (() => T)*): Seq[T] = {
    val caller = sc.getLocalProperty("spark.job.description")
    bodies.map(body => submit(sc, caller)(body())).map(Await.result(_, Duration.Inf))
  }

  private val logs = new java.util.WeakHashMap[SparkContext, JobLog]()

  /** The session's [[JobLog]], registered on the first call for its
    * SparkContext and returned as is on every later one.
    */
  def jobLog(spark: SparkSession): JobLog = logs.synchronized {
    val sc = spark.sparkContext
    Option(logs.get(sc)).getOrElse {
      val log = new JobLog
      sc.addSparkListener(log)
      logs.put(sc, log)
      log
    }
  }
}

/** Jobs (id, description, duration) and stages (name, tasks, wall, task
  * run time, GC, spill) of one SparkContext. Read it after `spark.stop()`:
  * the listener bus delivers events asynchronously, and stopping drains it.
  */
final class JobLog extends SparkListener {
  import JobLog._

  private val starts = new ConcurrentHashMap[Int, (Long, String)]()
  private val jobQueue = new ConcurrentLinkedQueue[Job]()
  private val stageQueue = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val desc = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    starts.put(js.jobId, (js.time, desc))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
      jobQueue.add(Job(je.jobId, desc, (je.time - t0) / 1e3))
    }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val m = i.taskMetrics
    val wallMs = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
    stageQueue.add(Stage(i.stageId, i.name.takeWhile(_ != '\n'), i.numTasks,
      wallMs / 1e3, m.executorRunTime / 1e3, m.jvmGCTime / 1e3, m.memoryBytesSpilled))
  }

  def jobs: Seq[Job] = jobQueue.asScala.toSeq.sortBy(_.id)
  def stages: Seq[Stage] = stageQueue.asScala.toSeq.sortBy(_.id)

  /** One `[job]` line per job: id, seconds, description. */
  def printJobs(): Unit =
    jobs.foreach(j => println(f"[job] ${j.id}%4d ${j.seconds}%7.3f s  ${j.description}"))

  /** The `top` stages by wall time, then the wall summed over all stages. */
  def printTopStages(tag: String, top: Int = 15): Unit = {
    stages.sortBy(-_.wallSec).take(top).foreach { s =>
      println(f"[$tag] stage ${s.id}%4d ${s.name.take(40)}%-40s tasks=${s.tasks}%4d " +
        f"wall=${s.wallSec}%8.3fs taskTime=${s.runSec}%8.3fs gc=${s.gcSec}%.1fs " +
        f"spill=${s.spillBytes / 1e6}%.0fMB")
    }
    println(f"[$tag] sum stage wall = ${stages.map(_.wallSec).sum}%.1f s over ${stages.size} stages")
  }
}

object JobLog {
  final case class Job(id: Int, description: String, seconds: Double)
  final case class Stage(
      id: Int, name: String, tasks: Int,
      wallSec: Double, runSec: Double, gcSec: Double, spillBytes: Long)
}
