package perfbench

import java.util.Locale

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  /** The highest whole percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val p = math.floor(100.0 * (xs.size - 10) / xs.size).toInt
      Some(p -> quantile(xs, p / 100.0))
    }
}

/** What one workload measured: one sample per timed operation, the work
  * those operations completed, and the operations whose output check
  * failed or that threw.
  */
final class Tally {
  val opSeconds = ArrayBuffer.empty[Double]
  var work = 0L
  var attempted = 0
  var failed = 0
}

/** A workload: inputs are built by `prepare` (several times, for a stable
  * set-up time), `warmUp` runs one untimed operation and the checker
  * self-test, `step` runs timed operations, `finish` checks anything a
  * step left unchecked. `layers` reports per-layer metrics of a traced run.
  * Steps start until the window has passed and the step count is a whole
  * number of cycles, so that every window holds the same mix of steps.
  */
trait Workload {
  def workUnit: String
  /** The window ends on a multiple of this many steps. */
  def stepsPerCycle: Int
  def prepare(): Unit
  def warmUp(): Boolean
  def step(t: Tally): Unit
  def finish(t: Tally): Unit
  def layers(t: Tally, perOp: Map[String, Double]): Map[String, Double]
}

object Main {
  val Workloads = Seq("crawl_polite", "fixture_leaves")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt.getOrElse("workload", "")
    require(Workloads.contains(name), s"unknown workload '$name'; one of ${Workloads.mkString(", ")}")
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = opt.getOrElse("work", ".bench_work")
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val recorder = if (trace) Some(SparkRecorder.install(spark.sparkContext)) else None
    val tracer = new Tracer(trace)

    val w: Workload = name match {
      case "crawl_polite" => new PoliteCrawl(spark, seed, work, tracer)
      case "fixture_leaves" => new LeafWorkload(spark, seed, work, tracer)
    }
    def timed(f: => Unit): Double = { val a = System.nanoTime(); f; (System.nanoTime() - a) / 1e9 }
    val prepS = (1 to 3).map(_ => timed(w.prepare()))
    var selfCheck = false
    val warmS = timed {
      try selfCheck = w.warmUp()
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up failed: $e") }
    }
    val setupS = sessionS + Stats.median(prepS) + warmS

    val noise = new HostNoise
    val tally = new Tally
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var steps = 0
    while (System.nanoTime() < deadline || steps % w.stepsPerCycle != 0) {
      w.step(tally)
      steps += 1
    }
    w.finish(tally)
    val (steal, load) = noise.stop()
    val rss = Proc.peakRssMb()

    val p50 = Stats.median(tally.opSeconds.toSeq)
    val throughput = tally.work / tally.opSeconds.sum
    val tailText = Stats.tail(tally.opSeconds.toSeq)
      .map { case (p, v) => s"p$p ${fmt(v)} s" }.getOrElse("none (fewer than 11 samples)")
    // human-readable lines; the JSON result is the last line
    println(s"[perfbench] workload $name seed $seed cpus $cpus trace ${if (trace) 1 else 0}")
    println(s"[perfbench] setup_s ${fmt(setupS)} s (session ${fmt(sessionS)}, inputs median of 3 ${fmt(Stats.median(prepS))}, warm-up ${fmt(warmS)})")
    println(s"[perfbench] op_p50_s ${fmt(p50)} s over ${tally.opSeconds.size} ops; tail $tailText")
    println(s"[perfbench] op seconds ${tally.opSeconds.map(fmt).mkString(" ")}")
    println(s"[perfbench] throughput_per_s ${fmt(throughput)} ${w.workUnit}/s")
    println(s"[perfbench] error_rate ${fmt(tally.failed.toDouble / math.max(tally.attempted, 1))} (${tally.failed} of ${tally.attempted} ops)")
    println(s"[perfbench] peak_rss_mb ${fmt(rss)} MB")
    println(s"[perfbench] host.steal_share ${fmt(steal)} load1 ${fmt(load)}")
    if (!selfCheck) println("[perfbench] WARM-UP CHECK FAILED: its output was wrong, or a corrupted expectation passed")

    val metrics = LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("op_p50_s") = (p50, "s")
      metrics("throughput_per_s") = (throughput, "1/s")
    } else {
      SparkRecorder.drain(spark.sparkContext)
      val ops = tracer.named("op")
      val n = math.max(ops.size, 1).toDouble
      val perOp = recorder.get.summary(ops).map { case (k, v) =>
        k -> (if (Set("cpu_share", "stage_skew_max")(k)) v else v / n)
      }
      val layer = w.layers(tally, perOp) ++ perOp.map { case (k, v) => s"spark.$k" -> v } ++
        Map("host.steal_share" -> steal, "jvm.peak_rss_mb" -> rss, "trace.op_p50_s" -> p50)
      // every workload reports every layer; a layer it does not exercise reads 0
      PerLayer.foreach(k => metrics(k) = (layer.getOrElse(k, 0.0), unitOf(k)))
    }
    metrics.foreach { case (k, (v, u)) => if (trace) println(s"[perfbench] $k ${fmt(v)} $u") }
    val body = metrics.map { case (k, (v, u)) =>
      "\"" + k + "\": {\"value\": " + json(v) + ", \"unit\": \"" + u + "\"}"
    }.mkString(", ")
    val correct = tally.failed == 0 && selfCheck && tally.attempted > 0
    println(s"""{"correct": $correct, "attempted": ${tally.attempted}, "failed": ${tally.failed}, "metrics": {$body}}""")
    spark.stop()
  }

  val PerLayer: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_s", "spark.task_run_s",
    "spark.task_cpu_s", "spark.cpu_share", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.stage_skew_max",
    "crawl.jobs_per_round", "crawl.driver_s_per_round", "crawl.retry_rows",
    "dedup.within_batch_s", "dedup.bloom_probe_s", "dedup.bloom_merge_s", "dedup.drop_ratio",
    "politeness.robots_s", "politeness.robots_drop_ratio", "politeness.schedule_s",
    "politeness.host_state_s", "fetch.extract_s", "fetch.miss_ratio", "extract.ok_ratio",
    "checkpoint.resume_s", "checkpoint.bytes_per_round", "checkpoint.bytes_per_url",
    "checkpoint.compaction_round_s") ++
    LeafWorkload.Leaves.map(q => s"leaf.${q}_s") ++
    LeafWorkload.Modules.keys.toSeq.sorted.map(m => s"$m.leaves_s") ++
    Seq("host.steal_share", "jvm.peak_rss_mb", "trace.op_p50_s")

  def unitOf(k: String): String =
    if (k.endsWith("_s") || k.endsWith("_s_per_round")) "s"
    else if (k.endsWith("bytes") || k.startsWith("checkpoint.bytes")) "bytes"
    else if (k.endsWith("ratio") || k.endsWith("share")) "share"
    else if (k.endsWith("skew_max")) "x"
    else if (k.endsWith("_mb")) "MB"
    else "count"

  def fmt(v: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(v))
  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
