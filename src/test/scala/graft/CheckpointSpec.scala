package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotStore
import graft.crawl.CrawlJob
import graft.dedup.UrlSeen
import graft.model.PolitenessConfig
import graft.plan.Frontier
import graft.synth.Synth

/** Checkpoint/resume semantics (SURVEY.md §7.5 risk 4 + north_rule "exact
  * resume"): atomic manifest commits; a crawl interrupted mid-way and
  * resumed produces bit-identical final state to an uninterrupted run.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  test("SnapshotStore: commit/readCurrent round-trip, version lineage") {
    val dir = Files.createTempDirectory("snap").toString
    val store = new SnapshotStore(dir)
    assert(store.currentVersion() === None)
    store.commit(1, Map("rates" -> "/data/r1", "seen" -> "/data/s1"))
    store.commit(2, Map("rates" -> "/data/r2", "seen" -> "/data/s1;/data/s2"))
    assert(store.currentVersion() === Some(2))
    assert(store.readManifest(2)("seen") === "/data/s1;/data/s2")
    assert(store.readManifest(1)("rates") === "/data/r1")
    assert(store.versions() === Seq(1, 2))
  }

  test("SnapshotStore: manifest round-trips keys/values containing quotes and backslashes") {
    // esc() writes them escaped; a reader that can't match escape pairs
    // silently DROPS those tables from the map and resume loses state
    val dir = java.nio.file.Files.createTempDirectory("snapesc").toString
    val store = new graft.checkpoint.SnapshotStore(dir)
    val tables = Map(
      "rates" -> """C:\data\crawl\v1""",
      "odd\"name" -> """/tmp/has"quote/v1""",
      "seen" -> "/plain/path/v1")
    store.commit(1, tables)
    assert(store.readManifest(1) === tables)
  }

  test("SnapshotStore.dropAll: store returns to the empty state (drop_all_tables dual)") {
    val dir = Files.createTempDirectory("snapdrop").toString
    val store = new SnapshotStore(dir)
    val dataDir = store.dataPath("rates", 1)
    Files.createDirectories(java.nio.file.Paths.get(dataDir))
    Files.writeString(java.nio.file.Paths.get(dataDir, "part-0.parquet"), "x")
    store.commit(1, Map("rates" -> dataDir))
    assert(store.currentVersion() === Some(1))
    store.dropAll()
    assert(store.currentVersion() === None)
    assert(store.versions() === Seq())
    assert(!Files.exists(java.nio.file.Paths.get(dataDir)))
    // a fresh lineage starts cleanly after the drop
    store.commit(1, Map("rates" -> "/data/new"))
    assert(store.readCurrent() === Some((1, Map("rates" -> "/data/new"))))
  }

  test("SnapshotStore rejects a root containing the chain separator") {
    val e = intercept[IllegalArgumentException](new SnapshotStore("/tmp/a;b"))
    assert(e.getMessage.contains("';'"))
  }

  test("TableLog: chains, key sets, the compaction rule and carry-forward over one manifest") {
    val dir = Files.createTempDirectory("tablelog").toString
    val store = new SnapshotStore(dir)
    // a manifest in the format every earlier store wrote: ';'-joined chains
    // and a `batches` list, hand-committed
    store.commit(3, Map("seen" -> "/data/s1;/data/s2", "batches" -> "0;1", "model" -> "/m/v1"))
    val log = store.log()
    assert(log.version === 3 && log.next === 4)
    assert(log.chain("seen") === Seq("/data/s1", "/data/s2"))
    assert(log.chain("absent") === Nil)
    assert(log.has("batches", "1") && !log.has("batches", "2"))
    assert(log.chainVersion("seen") === None, "hand-committed paths tell no version")

    // append + key add; the foreign `model` table is carried forward
    val s3 = store.dataPath("seen", log.next)
    val v4 = log.commit(chains = Map("seen" -> (log.chain("seen") :+ s3)), keys = Map("batches" -> "2"))
    assert(store.readCurrent() === Some((4, Map(
      "seen" -> s"/data/s1;/data/s2;$s3", "batches" -> "0;1;2", "model" -> "/m/v1"))))
    assert(v4.chainVersion("seen") === Some(4))
    // adding a key the set holds leaves the set as it was
    assert(v4.commit(keys = Map("batches" -> "1")).chain("batches") === Seq("0", "1", "2"))

    // compaction: only at a version that is a multiple of `every`, and only
    // a chain of more than one path
    def write(v: Int, n: Int): String = {
      val p = store.dataPath("t", v)
      Seq(n).toDF("n").write.parquet(p)
      p
    }
    val chain = Seq(write(1, 1), write(2, 2))
    val read = (ps: Seq[String]) => spark.read.parquet(ps: _*)
    val at5 = store.log()
    assert(at5.next === 6)
    assert(at5.compact("t", chain, 4)(read) === chain, "6 is off the boundary")
    assert(at5.compact("t", chain, 0)(read) === chain, "every = 0 never compacts")
    assert(at5.compact("t", chain.take(1), 3)(read) === chain.take(1))
    val compacted = at5.compact("t", chain, 3)(read)
    assert(compacted === Seq(store.dataPath("t-compacted", 6)))
    assert(spark.read.parquet(compacted: _*).as[Int].collect().sorted.toSeq === Seq(1, 2))
    assert(at5.commit(chains = Map("t" -> compacted)).chainVersion("t") === Some(6))
  }

  private def smallCrawlInputs() = {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR", "JPY"))
    val seeds = Frontier.candidates(currs, java.time.LocalDate.of(1995, 9, 10), 4)
    val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
    val pages = Synth.mcPages(seeds)
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    (frontier, pages, robots)
  }

  // budget 10/round on one host → 48 seeds need 5 rounds
  private val cfg = PolitenessConfig(maxPerHost = 10)

  test("kill-and-resume ≡ uninterrupted run (rates + seen + metrics rounds)") {
    val (frontier, pages, robots) = smallCrawlInputs()

    val dirA = Files.createTempDirectory("crawlA").toString
    val (ratesA, seenA, _) = CrawlJob.run(spark, frontier, pages, robots, dirA, cfg, roundSec = 1.25)

    // interrupted: stop after 2 rounds, then resume to completion
    val dirB = Files.createTempDirectory("crawlB").toString
    CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25, maxRounds = 2)
    assert(new SnapshotStore(dirB).currentVersion() === Some(2))
    val (ratesB, seenB, _) = CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25)

    val a = ratesA.orderBy("card_code", "trans_code", "date")
      .collect().map(_.toString).toSeq
    val b = ratesB.orderBy("card_code", "trans_code", "date")
      .collect().map(_.toString).toSeq
    assert(a === b)
    assert(seenA.select("url").as[String].collect().toSet ===
      seenB.select("url").as[String].collect().toSet)
    // both completed all 5 rounds' worth of work
    assert(a.nonEmpty)
  }

  test("kill-and-resume: snapshot tables come back with their pinned schemas") {
    val (frontier, pages, robots) = smallCrawlInputs()
    val dir = Files.createTempDirectory("crawlSchemas").toString
    CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25, maxRounds = 2)
    val (rates, seen, metrics) = CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25)
    assert(rates.schema === CrawlJob.RatesSchema)
    assert(seen.schema === CrawlJob.SeenSchema)
    assert(metrics.schema === CrawlJob.MetricsSchema)
    // each pin names the columns and types the writers put on disk, so a
    // pinned read returns what an inferring read would
    val man = new SnapshotStore(dir).readCurrent().get._2
    def onDisk(table: String) = spark.read.parquet(man(table).split(";").toIndexedSeq: _*)
      .schema.map(f => f.name -> f.dataType)
    def pinned(schema: org.apache.spark.sql.types.StructType) = schema.map(f => f.name -> f.dataType)
    assert(onDisk("rates") === pinned(CrawlJob.RatesSchema))
    assert(onDisk("seen") === pinned(CrawlJob.SeenSchema))
    assert(onDisk("metrics") === pinned(CrawlJob.MetricsSchema))
    assert(onDisk("lineage") === pinned(CrawlJob.LineageSchema))
    assert(onDisk("hostStates") === pinned(CrawlJob.HostStateSchema))
    assert(CrawlJob.HostStateSchema === org.apache.spark.sql.Encoders.product[graft.model.HostState].schema)
  }

  test("a fresh crawl sizes its Bloom filters from the frontier") {
    // 2400 URLs on 4 hosts, one unthrottled round, 2 filter partitions:
    // every filter holds at most 2400 keys, so its capacity is 2 × 2400 / 2
    val frontier = graft.synth.BenchWorkload.frontier(spark, 2400L, nHosts = 4, hotPermille = 0)
    val pages = graft.synth.BenchWorkload.pages(frontier)
    val (_, _, robots) = smallCrawlInputs()
    val dir = Files.createTempDirectory("crawlBloomCap").toString
    CrawlJob.run(spark, frontier, pages, robots, dir,
      PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = Int.MaxValue),
      roundSec = 1e9, bloomParts = 2)
    val sidecars = (0L until 2L).map(pm => graft.dedup.UrlSeen.readSidecarStatic(s"$dir/blooms", pm))
    assert(graft.dedup.UrlSeen.capacityFor(2400L, 2) === 2400L)
    assert(sidecars.map(_._1) === Seq(2400L, 2400L))
    assert(sidecars.map(_._2).sum === 2400L)
  }

  test("foreign snapshot tables (a persisted IVF model) survive later crawl commits") {
    // production order: crawl rounds → Ann.saveCentroids into the SAME
    // store → more crawl rounds. Every committer carries the prior
    // snapshot's foreign tables forward; rebuilding the manifest from
    // scratch would silently drop the model from the current snapshot and
    // the next loadCentroids would fail
    val (frontier, pages, robots) = smallCrawlInputs()
    val dir = Files.createTempDirectory("crawlForeign").toString
    CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25, maxRounds = 2)
    val store = new SnapshotStore(dir)
    val model = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    graft.ann.Ann.saveCentroids(model, store, spark)
    // resume past the model's snapshot — the crawl commits more rounds
    CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25)
    assert(store.readCurrent().get._2.contains("ivf_centroids"),
      "crawl commit dropped the persisted model from the snapshot")
    val loaded = graft.ann.Ann.loadCentroids(store, spark)
    assert(loaded.map(_.toSeq).toSeq === model.map(_.toSeq).toSeq)
    // the streaming committer carries foreign tables too
    val seeds1 = Seq(("GBP", "USD", java.sql.Date.valueOf("1995-09-10")))
      .toDF("card_c", "trans_c", "date")
    graft.streaming.Streams.processSeedBatch(
      seeds1, 99L, pages, dir, "Mastercard", graft.provider.Providers.registry)
    assert(store.readCurrent().get._2.contains("ivf_centroids"))
    assert(graft.ann.Ann.loadCentroids(store, spark).length === 2)
  }

  test("a round that throws releases its cached plans and the caller's job description") {
    val (frontier, pages, robots) = smallCrawlInputs()
    // every page read fails while round 1 extracts
    val failing = pages.withColumn("text",
      when(length(col("url")) > 0, raise_error(lit("page read failed"))).otherwise(col("text")))
    val dir = Files.createTempDirectory("crawlThrows").toString
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    sc.setJobDescription("caller's job")
    try {
      val e = intercept[Exception](
        CrawlJob.run(spark, frontier, failing, robots, dir, cfg, roundSec = 1.25))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("page read failed")), e)
      assert(new SnapshotStore(dir).currentVersion() === None, "the failed round committed")
      assert(cacheManager.isEmpty, "the failed run left cached plans behind")
      assert(sc.getLocalProperty("spark.job.description") === "caller's job")
    } finally sc.setJobDescription(null)
  }

  test("resume rebuilds missing bloom state (legacy checkpoint) and stays exact") {
    val (frontier, pages, robots) = smallCrawlInputs()
    val dirA = Files.createTempDirectory("crawlBloomA").toString
    val (ratesA, seenA, _) = CrawlJob.run(spark, frontier, pages, robots, dirA, cfg, roundSec = 1.25)

    val dirB = Files.createTempDirectory("crawlBloomB").toString
    CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25, maxRounds = 2)
    // the resumed frontier re-offers every URL already scheduled: only
    // filters rebuilt from the committed seen set keep them out of it
    val store = new SnapshotStore(dirB)
    val (version, manifest) = store.readCurrent().get
    val committed = spark.read.parquet(manifest("frontier"))
    val scheduled = spark.read.parquet(manifest("seen").split(";").toIndexedSeq: _*)
    val reoffered = UrlSeen.dedupWithinBatch(frontier)
      .join(scheduled.select("urlHash"), Seq("urlHash"), "left_semi")
      .select(committed.columns.toIndexedSeq.map(col): _*)
    assert(reoffered.count() === 20L)
    val resumedFrontier = s"$dirB/resumed-frontier"
    committed.unionByName(reoffered).write.parquet(resumedFrontier)
    store.commit(version + 1, manifest + ("frontier" -> resumedFrontier))
    // simulate a legacy/damaged checkpoint: wipe the filter directory
    val bloomDir = new java.io.File(s"$dirB/blooms")
    bloomDir.listFiles().foreach(_.delete())
    bloomDir.delete()
    val (ratesB, seenB, _) = CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25)

    assert(seenA.select("url").as[String].collect().toSet ===
      seenB.select("url").as[String].collect().toSet)
    assert(ratesA.count() === ratesB.count())
    // seen stays exact: no URL fetched twice despite the rebuilt filters
    assert(seenB.count() === seenB.select("urlHash").distinct().count())
  }

  test("delta compaction: state identical, manifest bounded, resume across boundary") {
    val (frontier, pages, robots) = smallCrawlInputs()
    // A: never compacts; B: compacts every 2 rounds AND is interrupted right
    // after a compaction boundary, then resumed — 48 seeds / 10 per round
    val dirA = Files.createTempDirectory("compA").toString
    val (ratesA, seenA, metricsA) =
      CrawlJob.run(spark, frontier, pages, robots, dirA, cfg, roundSec = 1.25, compactEvery = 0)
    val dirB = Files.createTempDirectory("compB").toString
    CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25,
      maxRounds = 2, compactEvery = 2)
    val (ratesB, seenB, metricsB) =
      CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25, compactEvery = 2)

    assert(ratesA.orderBy("card_code", "trans_code", "date").collect().map(_.toString).toSeq ===
      ratesB.orderBy("card_code", "trans_code", "date").collect().map(_.toString).toSeq)
    // per-round provenance survives compaction (round travels as data)
    assert(seenA.select("url", "round").collect().map(_.toString).sorted.toSeq ===
      seenB.select("url", "round").collect().map(_.toString).sorted.toSeq)
    assert(metricsA.count() === metricsB.count())
    // the manifest's seen chain is bounded: ≤ compactEvery paths, not 5
    val store = new SnapshotStore(dirB)
    val man = store.readManifest(store.currentVersion().get)
    assert(man("seen").split(";").length <= 2,
      s"seen chain not compacted: ${man("seen")}")
  }

  test("rounds advance the snapshot version; resume continues numbering") {
    val (frontier, pages, robots) = smallCrawlInputs()
    val dir = Files.createTempDirectory("crawlV").toString
    CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25, maxRounds = 3)
    val store = new SnapshotStore(dir)
    assert(store.currentVersion() === Some(3))
    CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25)
    assert(store.currentVersion().get > 3)
    // lineage: every round's manifest is retained
    assert(store.versions() === (1 to store.currentVersion().get))
  }

  test("insertBatchRows: every committed rates file holds at most N rows (reference 100-row insert parity)") {
    import graft.crawl.CrawlJob
    import graft.model.PolitenessConfig
    import graft.synth.Synth
    import graft.plan.Frontier
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR"))
    val seeds = Frontier.candidates(currs, java.time.LocalDate.parse("1995-09-10"), 3)
    val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
    val pages = Synth.mcPages(seeds)
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val dir = java.nio.file.Files.createTempDirectory("batch-rows").toString
    val (rates, _, _) = CrawlJob.run(
      spark, frontier, pages, robots, dir,
      PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = Int.MaxValue),
      roundSec = 1e9, insertBatchRows = Some(3))
    assert(rates.count() === 18L)
    // read back the committed rates deltas and count rows per FILE
    val store = new graft.checkpoint.SnapshotStore(dir)
    val paths = store.readCurrent().get._2("rates").split(";").filter(_.nonEmpty).toIndexedSeq
    val perFile = spark.read.parquet(paths: _*)
      .groupBy(input_file_name()).count()
      .select("count").as[Long].collect()
    assert(perFile.nonEmpty && perFile.forall(_ <= 3L),
      s"every rates file must hold <= 3 rows: ${perFile.toSeq}")
    // default path unconstrained: a fresh run without the knob writes
    // round-delta files that CAN exceed the batch size
    val dir2 = java.nio.file.Files.createTempDirectory("batch-rows-off").toString
    val (rates2, _, _) = CrawlJob.run(
      spark, frontier, pages, robots, dir2,
      PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = Int.MaxValue),
      roundSec = 1e9)
    assert(rates2.count() === 18L)
  }
}
