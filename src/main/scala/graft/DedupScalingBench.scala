package graft

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

import graft.util.{ScalingReport, Sessions}
import graft.util.ScalingReport.fmt

/** Scaling-efficiency evidence for the DOC-DEDUP path (VERDICT r03 #3): the
  * crawl pipeline has N-vs-4N cells; this gives the dedup suite its own —
  * `minhashPairs` → `dedupCorpus` closure over a ≥1M-doc synthetic corpus
  * with planted duplicate families, run at two parallelism levels on the
  * same input, plus weak-scaling and duplicate-density points.
  *
  * Protocol identical to [[ScalingBench]]: one fresh JVM per measurement
  * (`runMain graft.DedupScalingBench <cpus>` appends to
  * BENCH/dedup_scaling_runs.tsv), `report` combines best-of per level —
  * this VM's 2-4x co-tenant steal noise makes single runs meaningless.
  */
object DedupScalingBench {

  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "1000000").toLong
    val dupPermille = sys.env.getOrElse("SPARK_GRAFT_BENCH_DUP_PERMILLE", "100").toInt
    val knobs = s"docs=$nDocs;dup=$dupPermille"
    Files.createDirectories(Paths.get("BENCH"))
    val runsFile = Paths.get("BENCH/dedup_scaling_runs.tsv")
    args.headOption match {
      case Some("report") | None =>
        // best-of per cpu count, same-workload rows only (knob fingerprint)
        val runs = ScalingReport.readRuns("dedup-scaling", runsFile, "DedupScalingBench").map(a =>
          ScalingReport.Run(a(0).toInt, a(2).toLong, a(4), a(3).toDouble,
            (a(1).toDouble, if (a.length >= 7) a(6) else "unrecorded")))
        val best = ScalingReport.bestOrExit("dedup-scaling", runs, nDocs, knobs)
        // rows must all carry THE CURRENT generator fingerprint (computed
        // here with a tiny local session — the same sampled content hash
        // runOnce keys the corpus cache on): a BenchWorkload.docs change
        // produces a different corpus under the same knob string, and a
        // report over stale-era rows — mixed OR uniformly old — would
        // present a previous generator's throughput as current. Fail
        // loudly; stale rows are for the operator to prune.
        val currentFp = {
          val s = Sessions.local(2, "dedup-report")
          try f"${generatorFingerprint(s, nDocs, dupPermille)}%016x"
          finally s.stop()
        }
        val stale = best.runs.map(_.row._2).filter(_ != currentFp).distinct
        if (stale.nonEmpty)
          ScalingReport.refuse("dedup-scaling",
            s"rows for knobs [$knobs] carry generator fingerprints " +
              s"${stale.mkString(", ")} but the CURRENT generator is $currentFp — " +
              s"the doc generator changed; prune stale rows from $runsFile and re-measure")
        val (nCpu, (wN, _), tN) = (best.n.cpus, best.n.row, best.n.throughput)
        val (n4Cpu, (w4, _), t4) = (best.n4.cpus, best.n4.row, best.n4.throughput)
        val eff = best.efficiency
        val md =
          s"""# BENCH — doc-dedup throughput + scaling efficiency
             |
             |Workload: $nDocs synthetic 40-token docs, ${dupPermille / 10.0}% in planted
             |exact-duplicate families of 3; full corpus dedup = MinHash-LSH candidate
             |pairs (64 hashes / 16 bands, slim bucket stream, capped buckets) →
             |large-star/small-star connected components → min-id survivor verdicts.
             |Same deterministic input at both levels; one fresh JVM per run;
             |best-of per level (${best.reps}) under the committed steal-noise protocol.
             |
             || run | parallelism | docs deduped/sec | wall sec | scaling efficiency |
             ||---|---|---|---|---|
             || dedup-N | `local[$nCpu]` | ${fmt(tN, 1)} | ${fmt(wN, 1)} | — |
             || dedup-4N | `local[$n4Cpu]` | ${fmt(t4, 1)} | ${fmt(w4, 1)} | ${fmt(eff, 3)} (target ≥ 0.8) |
             |""".stripMargin
        Files.writeString(Paths.get("BENCH/DEDUP_SCALING_REPORT.md"), md)
        println(
          s"""{"metric":"dedup_docs_per_sec","localN":{"cpus":$nCpu,"docs_per_sec":${tN.round}},"local4N":{"cpus":$n4Cpu,"docs_per_sec":${t4.round}},"scaling_efficiency":${fmt(eff, 3)},"docs":$nDocs,"dup_permille":$dupPermille}""")
      case Some(cpusArg) =>
        val cpus = cpusArg.toInt
        val (wall, survivors, genFp) = runOnce(cpus, nDocs, dupPermille)
        val thr = nDocs / wall
        println(f"[dedup-scaling] local[$cpus]: $nDocs docs in $wall%.1f s → $thr%.0f docs/s ($survivors survivors)")
        ScalingReport.appendRun(runsFile, "%d\t%.2f\t%d\t%.1f\t%s\t%d\t%s",
          cpus, wall, nDocs, thr, knobs, survivors, genFp)
    }
  }

  /** Bumped on ANY BenchWorkload.docs recipe change — belt-and-braces next
    * to the content sample: a generator edit that happens to leave every
    * sampled doc byte-identical still invalidates old rows.
    */
  private val GeneratorVersion = 2

  /** Sampled content hash of the doc generator's output — the workload's
    * generator-era identity, shared by the corpus cache key and the tsv
    * provenance column. The sample is SPREAD over the full id range (every
    * nDocs/1000-th doc), not the first 1000 docs: a generator change whose
    * effect only shows beyond a prefix (e.g. a family-planting distribution
    * shift) must change the fingerprint, or a stale /tmp corpus would be
    * silently reused and old tsv rows graded as current-generation. The
    * filter on doc_id pushes below the text projection, so only the ~1000
    * sampled rows ever build text.
    */
  private def generatorFingerprint(
      spark: SparkSession, nDocs: Long, dupPermille: Int): Long = {
    import org.apache.spark.sql.functions._
    val step = math.max(nDocs / 1000L, 1L)
    synth.BenchWorkload.docs(spark, nDocs, dupPermille)
      .filter(pmod(col("doc_id"), lit(step)) === 0L)
      .select(expr(s"bit_xor(xxhash64(doc_id, text, $GeneratorVersion))").as("h"))
      .head().getLong(0)
  }

  def runOnce(cpus: Int, nDocs: Long, dupPermille: Int): (Double, Long, String) = {
    val tmp = sys.env.getOrElse("SPARK_GRAFT_BENCH_TMPDIR", "/tmp")
    val spark = Sessions.local(cpus, "dedup",
      Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k"))
    val log = Sessions.jobLog(spark)
    val result = try {
      // materialize the corpus to parquet OUTSIDE the timed window (at
      // production scale the corpus is a stored table; timing its synthesis
      // would time spark.range, not dedup) — keyed by workload so reps
      // reuse it. Written at a FIXED partition count: the natural count
      // would be the generating JVM's cores, so whichever level ran first
      // would pin the file layout for every later level (measured: a
      // 4-file corpus cost the local[16] run ~35% wall vs the same corpus
      // in 16 files) — the N and 4N cells must read the IDENTICAL layout
      // to be comparable. The path carries a GENERATOR fingerprint (a
      // sampled content hash, one tiny job): keying on (nDocs, dup) alone
      // would silently reuse a stale /tmp corpus from a previous build
      // after any BenchWorkload.docs change, and the tsv knob fingerprint
      // would record incomparable rows as the same workload.
      val genFp = generatorFingerprint(spark, nDocs, dupPermille)
      val docsPath = f"$tmp/graft-dedup-docs-$nDocs-$dupPermille-$genFp%016x"
      if (!Files.exists(Paths.get(docsPath, "_SUCCESS")))
        synth.BenchWorkload.docs(spark, nDocs, dupPermille)
          .repartition(32)
          .write.mode("overwrite").parquet(docsPath)
      val docs = spark.read.parquet(docsPath)
      val t0 = System.nanoTime()
      val survivors = graft.dedup.Clusters.dedupCorpus(
        docs, threshold = 0.9, maxBucket = 1000)
        .filter(org.apache.spark.sql.functions.col("keep"))
        .count()
      val wall = (System.nanoTime() - t0) / 1e9
      (wall, survivors, f"$genFp%016x")
    } finally spark.stop()
    log.printTopStages(s"profile $cpus")
    result
  }
}
