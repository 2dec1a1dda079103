package graft

import java.nio.file.{Files, Paths}

import graft.crawl.CrawlJob
import graft.model.PolitenessConfig
import graft.synth.BenchWorkload
import graft.util.{ScalingReport, Sessions}
import graft.util.ScalingReport.fmt

/** Scaling-efficiency evidence for the BASELINE.md protocol: run the SAME
  * crawl job on the SAME deterministic frontier at two parallelism levels,
  * report frontier URLs scheduled+fetched/sec at each, and efficiency =
  * (throughput_max / throughput_min) / (cpus_max / cpus_min) between the
  * lowest and highest recorded level ([[ScalingReport]]). Target ≥ 0.8
  * (BASELINE.json north_rule; the sandbox stand-in for N vs 4N executors).
  *
  * `report` writes BENCH/SCALING_REPORT.md and prints one JSON line; each
  * measurement prints its top-15 stages by wall time.
  */
object ScalingBench {

  /** Usage:
    *   runMain graft.ScalingBench <cpus>   — one measurement in THIS JVM,
    *     appended to BENCH/scaling_runs.tsv (one fresh JVM per parallelism
    *     level: sequential SparkSessions in one JVM showed 2-4× run-to-run
    *     noise from JVM pollution)
    *   runMain graft.ScalingBench report   — combine the best run per cpu
    *     count into BENCH/SCALING_REPORT.md + print the JSON line
    */
  def main(args: Array[String]): Unit = {
    val nUrls = sys.env.getOrElse("SPARK_GRAFT_BENCH_URLS", "1000000").toLong
    val nHosts = 512
    val hotPermille = sys.env.getOrElse("SPARK_GRAFT_BENCH_HOT", "100").toInt // ‰ of frontier on one hot host
    // the run's workload fingerprint, recorded in the tsv and matched by
    // `report`: best-of across DIFFERENT workloads (skew, politeness caps,
    // robots gate, fault injection, storage layout) would compare
    // incomparable runs and publish a fabricated efficiency ratio
    val knobs = Seq(
      "parts=" + shufflePartitions,
      "hot=" + hotPermille,
      "maxper=" + sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXPERHOST", "200000"),
      "roundsec=" + sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDSEC", "25000"),
      "robots=" + sys.env.getOrElse("SPARK_GRAFT_BENCH_ROBOTS", "0"),
      "miss=" + sys.env.getOrElse("SPARK_GRAFT_BENCH_MISS_PERMILLE", "0"),
      "bucketed=" + sys.env.getOrElse("SPARK_GRAFT_BENCH_BUCKETED", "0")).mkString(";")
    Files.createDirectories(Paths.get("BENCH"))
    val runsFile = Paths.get("BENCH/scaling_runs.tsv")
    args.headOption match {
      case Some("report") | None =>
        // Pre-fingerprint 5-column rows are EXCLUDED outright: their knob
        // provenance is mixed and unrecoverable — the committed legacy 8M
        // rows include both rounds=1 runs (only possible under
        // maxper=8000000/roundsec=1000000, the scaling protocol) and
        // rounds=4 runs (the env defaults), so no single grandfathering
        // rule admits them without enabling a cross-workload best-of.
        // Round 4 re-measured every level the reports use under
        // fingerprinted rows (8M N/4N pairs + the 16M/32M weak-scaling
        // points).
        val runs = ScalingReport.readRuns("scaling", runsFile, "ScalingBench").map(a =>
          ScalingReport.Run(a(0).toInt, a(2).toLong, if (a.length >= 6) a(5) else "legacy",
            a(4).toDouble, (a(1).toDouble, a(3).toInt)))
        val best = ScalingReport.bestOrExit("scaling", runs, nUrls, knobs)
        val (nCpu, (wN, rN), tN) = (best.n.cpus, best.n.row, best.n.throughput)
        val (n4Cpu, (w4, r4), t4) = (best.n4.cpus, best.n4.row, best.n4.throughput)
        val eff = best.efficiency
        val md =
          s"""# BENCH — crawl throughput + scaling efficiency
             |
             |Workload: $nUrls synthetic frontier URLs over $nHosts hosts with a hot host
             |holding ${hotPermille / 10.0}% of all URLs and ~2 KB page bodies; full crawl
             |rounds (bloom+exact dedup → robots → salted per-host politeness schedule →
             |fetch-join → extract → snapshot commit) until the frontier drains.
             |Same deterministic input at both parallelism levels;
             |`spark.sql.shuffle.partitions` = $shufflePartitions at BOTH levels (data-sized,
             |so the two legs run the identical physical plan and differ only
             |in task slots); one fresh JVM per run;
             |best-of throughput per level (${best.reps}) because the sandbox VM shows
             |2-4× co-tenant steal-time noise between identical runs (measured:
             |a pure-CPU 16-process probe swung 94.4 → 56.5 M loops/s run-to-run).
             |N = local[$nCpu], 4N = local[$n4Cpu]: at full machine width (local[32]) the
             |VM's own pure-CPU scaling ceiling is ≈0.74, so the N→4N pair is
             |placed where the hardware can physically express scaling.
             |
             || run | parallelism | frontier URLs scheduled+fetched/sec | wall sec | rounds | scaling efficiency |
             ||---|---|---|---|---|---|
             || bench-N | `local[$nCpu]` | ${fmt(tN, 1)} | ${fmt(wN, 1)} | $rN | — |
             || bench-4N | `local[$n4Cpu]` | ${fmt(t4, 1)} | ${fmt(w4, 1)} | $r4 | ${fmt(eff, 3)} (target ≥ 0.8) |
             |""".stripMargin
        // SCALING_REPORT.md: the mechanical best-of table; BENCH/BASELINE.md
        // is the curated round report (methodology + calibration) — never
        // clobbered by this tool
        Files.writeString(Paths.get("BENCH/SCALING_REPORT.md"), md)
        println(
          s"""{"metric":"crawl_urls_per_sec","localN":{"cpus":$nCpu,"urls_per_sec":${tN.round}},"local4N":{"cpus":$n4Cpu,"urls_per_sec":${t4.round}},"scaling_efficiency":${fmt(eff, 3)},"urls":$nUrls}""")
      case Some(cpusArg) =>
        val cpus = cpusArg.toInt
        val (wall, scheduled, rounds) = runOnce(cpus, nUrls, nHosts, hotPermille)
        val thr = scheduled / wall
        println(f"[scaling] local[$cpus]: $scheduled urls in $wall%.1f s over $rounds rounds → $thr%.0f urls/s")
        ScalingReport.appendRun(runsFile, "%d\t%.2f\t%d\t%d\t%.1f\t%s",
          cpus, wall, scheduled, rounds, thr, knobs)
    }
  }

  /** Shuffle partition count for the scaling runs — a DATA-sized constant,
    * NOT the core count. Two reasons, both scale lessons: (1) partition
    * count must be sized so a partition fits executor memory (8M slim URLs
    * / 32 ≈ 250k rows ≈ tens of MB — the SHUFFLE_HASH fetch-join build is
    * comfortable at any level; at partitions=cores the local[4] leg held
    * 2M-row builds, which is marginal at the default heap and OOM'd under
    * co-tenant memory pressure, since hash builds cannot spill); (2) with
    * the SAME partitioning at N and 4N the two legs run the IDENTICAL
    * physical plan and differ only in task slots — the cleanest possible
    * scaling comparison. 32 ≥ every measured core level, so no level
    * loses parallelism to the floor.
    */
  val shufflePartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_PARTS", "32").toInt

  def runOnce(cpus: Int, nUrls: Long, nHosts: Int, hotPermille: Int): (Double, Long, Int) = {
    val spark = Sessions.local(cpus, "scaling", Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      // don't let AQE coalesce the (MB-scale) sandbox shuffles below the
      // core count — at 100TB partitions are fat and coalescing is right,
      // but here it erases the very parallelism the protocol measures
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k"))
    val log = Sessions.jobLog(spark)
    val result = try {
      val frontier = BenchWorkload.frontier(spark, nUrls, nHosts, hotPermille)
      // materialize the page table: at production scale pages are a stored
      // Iceberg table, and parquet-backed stats keep Catalyst from trying
      // to broadcast a multi-GB "estimated tiny" synthetic plan.
      // SPARK_GRAFT_BENCH_BUCKETED=1 stores it BUCKETED BY url (the Iceberg
      // bucket-transform analogue): the fetch join then shuffles only the
      // slim frontier side — zero page-body movement per round.
      val tmp = sys.env.getOrElse("SPARK_GRAFT_BENCH_TMPDIR", "/tmp")
      // fault injection (SPARK_GRAFT_BENCH_MISS_PERMILLE=k): k‰ of frontier
      // URLs have NO page — each such URL is retried twice at priority-1
      // then dropped, exercising the retry/requeue path at bench scale
      val missPermille = sys.env.getOrElse("SPARK_GRAFT_BENCH_MISS_PERMILLE", "0").toInt
      val pageFrontier =
        if (missPermille == 0) frontier
        else frontier.filter(
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("url"),
              org.apache.spark.sql.functions.lit("miss")),
            org.apache.spark.sql.functions.lit(1000L)) >= missPermille)
      val pages =
        if (sys.env.get("SPARK_GRAFT_BENCH_BUCKETED").contains("1")) {
          graft.sources.PageStore.writeBucketed(
            BenchWorkload.pages(pageFrontier), "graft_pages_bucketed", 32)
          graft.sources.PageStore.read(spark, "graft_pages_bucketed")
        } else {
          val pagesPath = s"$tmp/graft-pages-$nUrls-$nHosts-$hotPermille-m$missPermille"
          if (!Files.exists(Paths.get(pagesPath, "_SUCCESS")))
            BenchWorkload.pages(pageFrontier).write.mode("overwrite").parquet(pagesPath)
          spark.read.parquet(pagesPath)
        }
      // generous politeness so the frontier drains in a handful of rounds:
      // the bench measures pipeline throughput, not crawl-delay waiting
      val cfg = PolitenessConfig(
        maxGlobal = Int.MaxValue,
        maxPerHost = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXPERHOST", "200000").toInt,
        startDelaySec = 2.0, targetConcurrency = 16.0)
      val roundSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDSEC", "25000").toDouble
      // SPARK_GRAFT_BENCH_ROBOTS=1: engage the robots gate for every host
      // (disallow an 11%-of-URLs prefix + a narrower allow carve-out, so the
      // longest-prefix verdict actually discriminates) — measures the
      // broadcast 1:1 gate's per-row cost at bench scale instead of
      // skipping the subtree
      val robots =
        if (sys.env.get("SPARK_GRAFT_BENCH_ROBOTS").contains("1")) {
          import org.apache.spark.sql.functions._
          val hosts = spark.range(nHosts.toLong)
            .select(concat(lit("host-"), col("id"), lit(".example.com")).as("host"))
            .unionAll(spark.range(1).select(lit("hot-0.example.com").as("host")))
          hosts.select(col("host"), lit("/rates/page-1").as("pathPrefix"), lit(false).as("allow"))
            .unionAll(hosts.select(col("host"), lit("/rates/page-12").as("pathPrefix"), lit(true).as("allow")))
        } else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
      val ckpt = Files.createTempDirectory(Paths.get(tmp), s"graft-bench-$cpus").toString
      val t0 = System.nanoTime()
      val (_, seen, _) = CrawlJob.run(
        spark, frontier, pages, robots, ckpt, cfg,
        roundSec = roundSec, maxRounds = 100)
      val scheduled = seen.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val rounds = new graft.checkpoint.SnapshotStore(ckpt).currentVersion().getOrElse(0)
      (wall, scheduled, rounds)
    } finally spark.stop()
    log.printTopStages(s"profile $cpus")
    result
  }
}
