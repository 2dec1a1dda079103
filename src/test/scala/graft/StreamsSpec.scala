package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streams
import graft.streaming.Streams.FetchEvent

/** Structured Streaming surface tests driven by MemoryStream. */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked windowed fetch metrics aggregate per host per hour") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val events = input.toDF.toDF("ts", "host", "bytes").withColumn("fetched", lit(1))
    val q = Streams.fetchMetricsByWindow(events)
      .writeStream.format("memory").queryName("fetch_metrics").outputMode("append").start()
    try {
      input.addData(
        (ts("2026-01-01 10:05:00"), "a.com", 100L),
        (ts("2026-01-01 10:55:00"), "a.com", 200L),
        (ts("2026-01-01 11:05:00"), "b.com", 50L))
      q.processAllAvailable()
      // advance watermark far enough to close the 10:00 and 11:00 windows
      input.addData((ts("2026-01-01 15:00:00"), "c.com", 1L))
      q.processAllAvailable()
      val out = spark.table("fetch_metrics")
        .select("window_start", "host", "fetches", "bytes")
        .as[(Timestamp, String, Long, Long)].collect().toSet
      assert(out.contains((ts("2026-01-01 10:00:00"), "a.com", 2L, 300L)))
      assert(out.contains((ts("2026-01-01 11:00:00"), "b.com", 1L, 50L)))
    } finally q.stop()
  }

  test("streaming URL dedup: duplicates within the watermark window dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val frontier = input.toDF.toDF("ts", "urlHash", "canonUrl")
    val q = Streams.dedupUrls(frontier, watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_urls").outputMode("append").start()
    try {
      input.addData(
        (ts("2026-01-01 10:00:00"), 1L, "http://a.com/x"),
        (ts("2026-01-01 10:00:01"), 1L, "http://a.com/x"), // dup in-batch
        (ts("2026-01-01 10:00:02"), 2L, "http://a.com/y"))
      q.processAllAvailable()
      input.addData(
        (ts("2026-01-01 10:30:00"), 1L, "http://a.com/x"), // dup across batches
        (ts("2026-01-01 10:30:00"), 1L, "http://b.com/z"), // hash COLLISION — must survive
        (ts("2026-01-01 10:30:01"), 3L, "http://a.com/w"))
      q.processAllAvailable()
      val out = spark.table("dedup_urls").select("urlHash", "canonUrl")
        .as[(Long, String)].collect().toSeq
      assert(out.length === 4)
      assert(out.toSet === Set(
        (1L, "http://a.com/x"), (2L, "http://a.com/y"),
        (1L, "http://b.com/z"), (3L, "http://a.com/w")))
    } finally q.stop()
  }

  test("streaming corpus cleanup: row-local filters + watermarked exact dedup, batch-verdict parity") {
    implicit val sqlCtx = spark.sqlContext
    val goodEn = "the quick brown fox jumps over a lazy dog and it was quite fast for sure"
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF.toDF("ts", "doc_id", "text")
    val q = Streams.cleanDocs(docs, watermark = "1 hour")
      .writeStream.format("memory").queryName("clean_docs").outputMode("append").start()
    try {
      input.addData(
        (ts("2026-01-01 10:00:00"), 1L, goodEn),
        (ts("2026-01-01 10:00:01"), 2L, "one two"), // too_short -> dropped
        (ts("2026-01-01 10:00:02"), 3L, goodEn))    // in-batch exact dup -> dropped
      q.processAllAvailable()
      input.addData(
        (ts("2026-01-01 10:30:00"), 4L, goodEn),    // cross-batch dup within watermark -> dropped
        (ts("2026-01-01 10:30:01"), 5L, goodEn + " extra words on this one"))
      q.processAllAvailable()
      val out = spark.table("clean_docs")
        .select("doc_id", "n_tokens", "pred_lang", "quality")
        .as[(Long, Int, String, Double)].collect().sortBy(_._1)
      assert(out.map(_._1).toSeq === Seq(1L, 5L), s"survivors: ${out.toSeq}")
      // verdict parity with the batch kernel: same doc -> same columns
      val batch = graft.pipeline.Corpus.clean(
        Seq((1L, goodEn)).toDF("doc_id", "text"))
        .select("n_tokens", "pred_lang", "quality").as[(Int, String, Double)].head()
      assert((out(0)._2, out(0)._3, out(0)._4) === batch)
    } finally q.stop()
  }

  test("streaming corpus cleanup: the repetition rung drops repetitive docs in-stream") {
    implicit val sqlCtx = spark.sqlContext
    val goodEn = "the quick brown fox jumps over a lazy dog and it was quite fast for sure"
    val line = "the quick brown fox jumps over the lazy dog"
    // English-passing but 3 of 5 lines repeat — fails ONLY the rep rung
    val repetitive = (Seq.fill(4)(line) :+ "something else entirely different here today").mkString("\n")
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF.toDF("ts", "doc_id", "text")
    val q = Streams.cleanDocs(docs, watermark = "1 hour",
      repetition = Some(graft.pipeline.Corpus.RepetitionBounds()))
      .writeStream.format("memory").queryName("clean_docs_rep").outputMode("append").start()
    try {
      input.addData(
        (ts("2026-01-01 10:00:00"), 1L, goodEn),
        (ts("2026-01-01 10:00:01"), 2L, repetitive))
      q.processAllAvailable()
      val out = spark.table("clean_docs_rep").select("doc_id").as[Long].collect().toSeq
      assert(out === Seq(1L), s"repetitive doc must be dropped in-stream: $out")
      // shared-kernel parity: the batch chain agrees the doc is repetitive
      val batch = graft.pipeline.Corpus.clean(
        Seq((2L, repetitive)).toDF("doc_id", "text"),
        repetition = Some(graft.pipeline.Corpus.RepetitionBounds()))
        .select("reason").as[String].head()
      assert(batch === "repetitive")
    } finally q.stop()
  }

  test("stateful host sessions: AIMD delay update per fetch event") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FetchEvent]
    val q = Streams.hostSessions(input.toDS, targetConcurrency = 16.0, startDelaySec = 2.0)
      .writeStream.format("memory").queryName("host_sessions").outputMode("append").start()
    try {
      input.addData(FetchEvent("a.com", ts("2026-01-01 10:00:00"), 1600L))
      q.processAllAvailable()
      input.addData(FetchEvent("a.com", ts("2026-01-01 10:00:05"), 1600L))
      q.processAllAvailable()
      val out = spark.table("host_sessions")
        .as[Streams.HostSession].collect().sortBy(_.fetches)
      assert(out.length === 2)
      // fetch 1: delay = (2.0 + 0.1/16... latency 1.6s/16=0.1 → (2.0+0.1)/2 = 1.05
      assert(math.abs(out(0).delaySec - 1.05) < 1e-9)
      // fetch 2: (1.05 + 0.1)/2 = 0.575
      assert(math.abs(out(1).delaySec - 0.575) < 1e-9)
      assert(out(1).fetches === 2)
      assert(!out(1).closed)
    } finally q.stop()
  }

  test("streaming crawl slice: two chunks with a crash between ≡ batch crawl") {
    import graft.crawl.CrawlJob
    import graft.model.PolitenessConfig
    import graft.synth.Synth
    val seedDir = java.nio.file.Files.createTempDirectory("stream-seeds").toString
    val streamCkpt = java.nio.file.Files.createTempDirectory("stream-ckpt").toString
    val storeDir = java.nio.file.Files.createTempDirectory("stream-store").toString
    // the synthetic web covers every seed either chunk will deliver
    val allSeeds = Seq(
      ("GBP", "USD", java.sql.Date.valueOf("1995-09-10"), 0L),
      ("USD", "GBP", java.sql.Date.valueOf("1995-09-10"), 1L),
      ("GBP", "USD", java.sql.Date.valueOf("1995-09-09"), 2L))
      .toDF("card_c", "trans_c", "date", "seq")
    val pages = Synth.mcPages(allSeeds)

    // chunk 1 (with an in-batch duplicate row), then "crash" (stop the query)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$seedDir/chunk1.csv"),
      "GBP,USD,10/09/1995\nUSD,GBP,10/09/1995\nGBP,USD,10/09/1995\n")
    val q1 = Streams.crawlStream(spark, seedDir, pages, streamCkpt, storeDir)
    q1.processAllAvailable(); q1.stop()

    // chunk 2: one new seed + one cross-chunk duplicate; resume from the
    // same stream checkpoint + store
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$seedDir/chunk2.csv"),
      "GBP,USD,09/09/1995\nUSD,GBP,10/09/1995\n")
    val q2 = Streams.crawlStream(spark, seedDir, pages, streamCkpt, storeDir)
    q2.processAllAvailable(); q2.stop()

    val store = new graft.checkpoint.SnapshotStore(storeDir)
    val man = store.readCurrent().get._2
    def readChain(key: String) =
      spark.read.parquet(man(key).split(";").filter(_.nonEmpty).toIndexedSeq: _*)
    val streamRates = readChain("rates")
      .select("card_code", "trans_code", "date", "provider_id", "rate")
      .as[(String, String, java.sql.Date, Int, Double)].collect().toSet
    val streamSeen = readChain("seen").select("url").as[String].collect().toSeq

    // the batch crawl of the same seed set
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val batchCkpt = java.nio.file.Files.createTempDirectory("batch-ckpt").toString
    val (batchRates, batchSeen, _) = CrawlJob.run(
      spark, CrawlJob.expandSeeds(allSeeds, "Mastercard"), pages, robots, batchCkpt,
      PolitenessConfig(), roundSec = 10.0, maxRounds = 10)
    assert(streamRates === batchRates
      .as[(String, String, java.sql.Date, Int, Double)].collect().toSet)
    assert(streamSeen.sorted === batchSeen.select("url").as[String].collect().toSeq.sorted)
    assert(streamSeen.length === streamSeen.distinct.length, "cross-chunk dup leaked into seen")
  }

  test("replayed micro-batch (crash between store commit and stream checkpoint) is a no-op") {
    import graft.synth.Synth
    val storeDir = java.nio.file.Files.createTempDirectory("replay-store").toString
    val seeds = Seq(("GBP", "USD", java.sql.Date.valueOf("1995-09-10"), 0L))
      .toDF("card_c", "trans_c", "date", "seq")
    val pages = Synth.mcPages(seeds)
    val batch = seeds.select("card_c", "trans_c", "date")
    Streams.processSeedBatch(batch, 0L, pages, storeDir, "Mastercard",
      graft.provider.Providers.registry)
    val store = new graft.checkpoint.SnapshotStore(storeDir)
    val v1 = store.currentVersion()
    Streams.processSeedBatch(batch, 0L, pages, storeDir, "Mastercard",
      graft.provider.Providers.registry) // replay of the SAME batch id
    assert(store.currentVersion() === v1, "replayed batch must not commit again")
  }

  test("streaming slice: politeness defers to the backlog, robots drops, retries re-enter and drop") {
    import graft.model.PolitenessConfig
    import graft.synth.Synth
    val storeDir = java.nio.file.Files.createTempDirectory("polite-store").toString
    val seeds = Seq(
      ("GBP", "USD", java.sql.Date.valueOf("1995-09-10"), 0L),
      ("USD", "GBP", java.sql.Date.valueOf("1995-09-10"), 1L),
      ("EUR", "USD", java.sql.Date.valueOf("1995-09-10"), 2L),
      ("USD", "EUR", java.sql.Date.valueOf("1995-09-10"), 3L))
      .toDF("card_c", "trans_c", "date", "seq")
    // pages cover every seed EXCEPT (USD, EUR) — that URL is a fetch miss
    val pages = Synth.mcPages(seeds.filter(!(col("card_c") === "USD" && col("trans_c") === "EUR")))
    // robots disallow the (EUR, USD) URL path prefix? — rules are per-path;
    // all MC urls share a prefix, so gate on the exact conversion-rate path
    // of the EUR seed instead
    val eurPath = graft.urls.Urls.mcUrl("EUR", "USD", java.time.LocalDate.parse("1995-09-10"))
      .replace("https://www.mastercard.co.uk", "")
    val robots = Seq(("www.mastercard.co.uk", eurPath, false))
      .toDF("host", "pathPrefix", "allow")
    // budget: 1 URL per host per batch (all seeds share one host) — the
    // other eligible row must defer to the frontier, not vanish
    val cfg = PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = 1)
    def step(id: Long): Unit = Streams.processSeedBatch(
      if (id == 0) seeds.select("card_c", "trans_c", "date") else seeds.limit(0).select("card_c", "trans_c", "date"),
      id, pages, storeDir, "Mastercard", graft.provider.Providers.registry,
      robots = Some(robots), cfg = cfg, roundSec = 1e9, maxRetries = 1)
    val store = new graft.checkpoint.SnapshotStore(storeDir)
    def frontierCount = spark.read.parquet(store.readCurrent().get._2("frontier")).count()
    def seenUrls = spark.read.parquet(
      store.readCurrent().get._2("seen").split(";").toIndexedSeq: _*).select("url").as[String].collect().toSet

    step(0)
    // batch 0: robots drops EUR→USD; of the 3 eligible rows exactly 1 is
    // scheduled (maxPerHost=1, one shared host); the other 2 DEFER to the
    // frontier (+1 more if the scheduled row was the fetch miss, which
    // re-enters as a retry — scheduling order within equal priority is a
    // seq-hash artifact, so accept either)
    assert(seenUrls.size === 1)
    assert(frontierCount === 2 || frontierCount === 3, s"got $frontierCount")
    step(1); step(2); step(3)
    // one scheduled row per batch: by the end of batch 3 every branch of
    // the order tree has scheduled all 3 eligible URLs, retried the
    // fetch-missed (USD, EUR) row once (priority-1 puts retries behind
    // first-try rows), missed again, and dropped it past maxRetries=1
    val seen3 = seenUrls
    assert(seen3.size === 3)
    assert(!seen3.exists(_.contains("crdhldBillCurr=EUR")), "robots-disallowed URL must never be fetched")
    assert(frontierCount === 0, "exhausted retry must leave the frontier")
    // rates: the two fetchable, robots-allowed seeds
    val rates = spark.read.parquet(
      store.readCurrent().get._2("rates").split(";").toIndexedSeq: _*)
      .select("card_code", "trans_code").as[(String, String)].collect().toSet
    assert(rates === Set(("GBP", "USD"), ("USD", "GBP")))
    // AIMD host state persisted across batches
    val hs = spark.read.parquet(store.readCurrent().get._2("hostStates"))
      .as[graft.model.HostState].collect()
    assert(hs.exists(_.host == "www.mastercard.co.uk"))
  }

  test("cross-batch schedule order under budget matches the batch loop's round semantics") {
    // VERDICT r04 #8: 18 seeds on one host, budget 8/host/round. The stream
    // receives ALL seeds in batch 0 and must consume them across micro-
    // batches in ascending-seq windows of 8 — exactly the batch loop's q31
    // semantics. Feeding the batch loop the SAME hash-derived seq values
    // the stream computes internally makes the two paths' (url -> round)
    // assignments directly comparable: schedule order is data (priority
    // desc, seq), never arrival order, in both engines.
    import graft.crawl.CrawlJob
    import graft.model.PolitenessConfig
    import graft.synth.Synth
    val storeDir = java.nio.file.Files.createTempDirectory("order-store").toString
    val currs = Seq("GBP", "USD", "EUR")
    val dates = Seq("1995-09-10", "1995-09-09", "1995-09-08")
    val seeds = (for {
      c <- currs; tr <- currs if c != tr; d <- dates
    } yield (c, tr, java.sql.Date.valueOf(d))).toDF("card_c", "trans_c", "date")
    // the stream's internal seq: xxhash64 over the seed triple
    val withSeq = seeds.withColumn(
      "seq", xxhash64(col("card_c"), col("trans_c"), col("date")))
    val pages = Synth.mcPages(withSeq)
    val cfg = PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = 8)

    // stream: all 18 seeds in batch 0, then empty batches drain the frontier
    def step(id: Long): Unit = Streams.processSeedBatch(
      if (id == 0) seeds else seeds.limit(0),
      id, pages, storeDir, "Mastercard", graft.provider.Providers.registry,
      cfg = cfg, roundSec = 1e9)
    (0L to 2L).foreach(step)
    val store = new graft.checkpoint.SnapshotStore(storeDir)
    val streamSeen = spark.read.parquet(
      store.readCurrent().get._2("seen").split(";").filter(_.nonEmpty).toIndexedSeq: _*)
      .select("url", "round").as[(String, Int)].collect().toMap

    // batch loop over the same seeds + seq values + budget
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val ckpt = java.nio.file.Files.createTempDirectory("order-batch").toString
    val (_, batchSeen, _) = CrawlJob.run(
      spark, CrawlJob.expandSeeds(withSeq, "Mastercard"), pages, robots, ckpt,
      cfg, roundSec = 1e9, maxRounds = 10)
    val batchMap = batchSeen.select("url", "round").as[(String, Int)].collect().toMap

    assert(streamSeen.size === 18)
    assert(streamSeen === batchMap,
      "stream (url -> round) must equal the batch loop's window assignment")
    // and the windows are genuinely ascending-seq blocks of 8
    val bySeq = CrawlJob.expandSeeds(withSeq, "Mastercard")
      .select("canonUrl", "seq").as[(String, Long)].collect().sortBy(_._2)
    val expected = bySeq.zipWithIndex.map { case ((u, _), i) => u -> (i / 8 + 1) }.toMap
    assert(streamSeen === expected)
  }

  /** Seeds on the Mastercard host, one date per seed, and their pages. */
  private def mcSeeds(n: Int) = {
    val seeds = (0 until n).map(i =>
      ("GBP", "USD", java.sql.Date.valueOf(java.time.LocalDate.of(1995, 9, 1).plusDays(i.toLong))))
      .toDF("card_c", "trans_c", "date")
    (seeds, graft.synth.Synth.mcPages(seeds))
  }

  /** Pages a crawl stores a rate for: every page but the error pages. */
  private def ratePages(pages: org.apache.spark.sql.DataFrame) =
    pages.filter(!col("text").contains("errorCode")).count()

  private def tableOf(storeDir: String, key: String) = {
    val man = new graft.checkpoint.SnapshotStore(storeDir).readCurrent().get._2
    spark.read.parquet(man(key).split(";").filter(_.nonEmpty).toIndexedSeq: _*)
  }

  test("streaming slice: a long-lived stream's seen/rates chains are compacted by the shared round") {
    import graft.crawl.CrawlJob
    // The stream compacts on the batch crawl's cadence: every
    // DefaultCompactEvery rounds. A store already at version
    // DefaultCompactEvery - 3 (one foreign commit) puts four micro-batches
    // at the rounds around that boundary.
    val (seeds, pages) = mcSeeds(4)
    val rows = seeds.collect().toSeq
    def feed(storeDir: String): Unit = rows.indices.foreach { i =>
      Streams.processSeedBatch(spark.createDataFrame(java.util.List.of(rows(i)), seeds.schema),
        i.toLong, pages, storeDir, "Mastercard", graft.provider.Providers.registry)
    }
    val offset = CrawlJob.DefaultCompactEvery - 3
    val longLived = java.nio.file.Files.createTempDirectory("compact-stream").toString
    new graft.checkpoint.SnapshotStore(longLived).commit(offset, Map("notes" -> "/elsewhere"))
    feed(longLived)
    // a fresh store's four rounds never reach the boundary: no compaction
    val fresh = java.nio.file.Files.createTempDirectory("uncompacted-stream").toString
    feed(fresh)

    val man = new graft.checkpoint.SnapshotStore(longLived).readCurrent().get._2
    assert(man("seen").split(";").length <= 2, s"seen chain not compacted: ${man("seen")}")
    assert(man("rates").split(";").length <= 2, s"rates chain not compacted: ${man("rates")}")
    assert(man("notes") === "/elsewhere")
    assert(new graft.checkpoint.SnapshotStore(fresh).readCurrent().get._2("seen").split(";").length === 4)
    val seenLong = tableOf(longLived, "seen").select("url", "round").as[(String, Int)].collect()
    val seenFresh = tableOf(fresh, "seen").select("url", "round").as[(String, Int)].collect()
    assert(seenLong.length === 4)
    assert(seenLong.map { case (u, r) => (u, r - offset) }.toSet === seenFresh.toSet)
    def rates(dir: String) = tableOf(dir, "rates").collect().map(_.toString).sorted.toSeq
    assert(rates(longLived) === rates(fresh))
    assert(rates(fresh).length === ratePages(pages))
  }

  test("streaming slice: every micro-batch writes per-host metrics that match its seen rows") {
    import graft.model.PolitenessConfig
    val storeDir = java.nio.file.Files.createTempDirectory("metrics-stream").toString
    val (seeds, pages) = mcSeeds(5)
    // 2 URLs per host per batch: batch 0 schedules 2 of 5 and defers 3
    val cfg = PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = 2)
    (0L to 3L).foreach { id =>
      Streams.processSeedBatch(if (id == 0) seeds else seeds.limit(0), id, pages, storeDir,
        "Mastercard", graft.provider.Providers.registry, cfg = cfg)
    }
    val scheduled = tableOf(storeDir, "metrics").groupBy("round").agg(sum("scheduled"))
      .as[(Int, Long)].collect().toMap
    val seenRows = tableOf(storeDir, "seen").groupBy("round").count()
      .as[(Int, Long)].collect().toMap
    assert(scheduled.keySet === Set(1, 2, 3), s"metrics rounds: $scheduled")
    assert(scheduled === seenRows)
    assert(scheduled.values.sum === 5L)
    // the lineage of each round is committed beside it
    assert(tableOf(storeDir, "lineage").select("round").distinct().count() === 3L)
  }

  test("streaming slice: a store written before the shared round still dedups across batches") {
    import graft.model.PolitenessConfig
    val storeDir = java.nio.file.Files.createTempDirectory("legacy-stream").toString
    val (seeds, pages) = mcSeeds(4)
    val firstThree = seeds.orderBy("date").limit(3)
    // 2 URLs per host per batch: batch 0 schedules 2 of 3 and defers 1
    val cfg = PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = 2)
    def step(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = Streams.processSeedBatch(
      batch, id, pages, storeDir, "Mastercard", graft.provider.Providers.registry, cfg = cfg)
    step(firstThree, 0L)
    // the layout such a store has: no Bloom filters, the deferred rows under
    // `backlog`, no metrics or lineage
    val bloomDir = new java.io.File(s"$storeDir/blooms")
    bloomDir.listFiles().foreach(_.delete())
    bloomDir.delete()
    val store = new graft.checkpoint.SnapshotStore(storeDir)
    val (v, man) = store.readCurrent().get
    store.commit(v, man -- Seq("frontier", "metrics", "lineage") + ("backlog" -> man("frontier")))

    // batch 1 re-delivers all three seeds plus a new one: the two fetched
    // ones are cross-batch duplicates, the deferred one is already queued
    step(seeds, 1L)
    step(seeds.limit(0), 2L)
    val seen = tableOf(storeDir, "seen").select("url").as[String].collect().toSeq
    assert(seen.length === 4, s"seen: $seen")
    assert(seen.distinct.length === 4, "a cross-batch duplicate was fetched twice")
    val dropped = tableOf(storeDir, "metrics").filter(col("round") === 2)
      .agg(sum("dedupDropped")).as[Long].head()
    assert(dropped === 2L)
    assert(tableOf(storeDir, "rates").count() === ratePages(pages))
  }

  test("corpus ingest: kill-and-resume exactly-once, history dedup, replayed batch no-op") {
    val goodEn = "the quick brown fox jumps over a lazy dog and it was quite fast for sure"
    val goodEn2 = "some other wonderful words in the long sentence that it was telling us about that day"
    val docDir = java.nio.file.Files.createTempDirectory("corpus-docs").toString
    val streamCkpt = java.nio.file.Files.createTempDirectory("corpus-ckpt").toString
    val storeDir = java.nio.file.Files.createTempDirectory("corpus-store").toString
    def jsonl(rows: (String, Long, String)*): String = rows.map { case (ts, id, tx) =>
      s"""{"ts":"$ts","doc_id":$id,"text":"$tx"}"""
    }.mkString("\n")
    // file 1: one keeper, one too-short reject, one in-batch exact dup
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$docDir/f1.json"),
      jsonl(("2026-01-01 10:00:00", 1L, goodEn),
        ("2026-01-01 10:00:01", 2L, "one two"),
        ("2026-01-01 10:00:02", 3L, goodEn)))
    val q1 = Streams.corpusIngest(spark, docDir, streamCkpt, storeDir)
    q1.processAllAvailable(); q1.stop() // "crash"
    // file 2: a cross-FILE duplicate (beyond the first batch — history
    // dedup, not the watermark, must drop it) + one genuinely new doc
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$docDir/f2.json"),
      jsonl(("2026-01-01 10:30:00", 4L, goodEn),
        ("2026-01-01 10:30:01", 5L, goodEn2)))
    val q2 = Streams.corpusIngest(spark, docDir, streamCkpt, storeDir)
    q2.processAllAvailable(); q2.stop()
    val store = new graft.checkpoint.SnapshotStore(storeDir)
    val corpus = spark.read.parquet(
      store.readCurrent().get._2("corpus").split(";").filter(_.nonEmpty).toIndexedSeq: _*)
    val ids = corpus.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 5L), s"corpus must hold exactly the unique keepers: $ids")
    // verdict columns rode the pipeline into the store
    assert(corpus.columns.toSet.contains("pred_lang"))
    // the md5 content identity is PERSISTED per delta: the history anti-join
    // reads only this column (parquet-pruned), so per-batch cost is
    // O(accumulated hashes), never O(accumulated text)
    assert(corpus.columns.toSet.contains("__h"))
    assert(corpus.select("__h").as[String].collect().forall(_.length === 32))
    // replayed batch id (crash between store commit and stream checkpoint)
    val v = store.currentVersion()
    Streams.processDocBatch(
      corpus.limit(1).withColumn("ts", current_timestamp()), 0L, storeDir)
    assert(store.currentVersion() === v, "replayed batch must not commit again")
  }

  test("corpus ingest: delta-chain compaction bounds the manifest and migrates legacy deltas") {
    val goodEn = "the quick brown fox jumps over a lazy dog and it was quite fast for sure"
    val storeDir = java.nio.file.Files.createTempDirectory("corpus-compact").toString
    val store = new graft.checkpoint.SnapshotStore(storeDir)
    // a LEGACY v1 delta without __h, then two batches with compactEvery=3:
    // the third chain entry triggers compaction into ONE path, the legacy
    // rows gain __h (migration point), and history dedup still holds after
    val legacyPath = store.dataPath("corpus", 1)
    Seq((Timestamp.valueOf("2026-01-01 09:00:00"), 1L, goodEn))
      .toDF("ts", "doc_id", "text").write.parquet(legacyPath)
    store.commit(1, Map("corpus" -> legacyPath, "batches" -> "0"))
    def batch(id: Long, text: String, t: String) =
      Seq((Timestamp.valueOf(t), id, text)).toDF("ts", "doc_id", "text")
    Streams.processDocBatch(batch(2L, goodEn + " two", "2026-01-01 10:00:00"), 1L, storeDir, compactEvery = 3)
    Streams.processDocBatch(batch(3L, goodEn + " three", "2026-01-01 11:00:00"), 2L, storeDir, compactEvery = 3)
    val paths = store.readCurrent().get._2("corpus").split(";").filter(_.nonEmpty).toIndexedSeq
    assert(paths.size === 1, s"3-delta chain must compact to one path: $paths")
    assert(paths.head.contains("corpus-compacted"))
    val compacted = spark.read.parquet(paths.head)
    assert(compacted.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(compacted.columns.contains("__h"))
    assert(compacted.select("__h").as[String].collect().forall(h => h != null && h.length === 32),
      "legacy rows must gain a real __h during compaction")
    // post-compaction history dedup: the legacy doc's text re-sent must drop
    Streams.processDocBatch(batch(4L, goodEn, "2026-01-01 12:00:00"), 3L, storeDir, compactEvery = 3)
    val ids = store.readCurrent().get._2("corpus").split(";").filter(_.nonEmpty).toIndexedSeq
      .flatMap(p => spark.read.parquet(p).select("doc_id").as[Long].collect()).sorted
    assert(ids === Seq(1L, 2L, 3L), s"duplicate of a compacted legacy doc must drop: $ids")
  }

  test("corpus ingest: pre-sidecar (legacy) deltas still dedup history via the per-file fallback") {
    val goodEn = "the quick brown fox jumps over a lazy dog and it was quite fast for sure"
    val storeDir = java.nio.file.Files.createTempDirectory("corpus-legacy").toString
    val store = new graft.checkpoint.SnapshotStore(storeDir)
    // hand-commit a LEGACY v1 delta: corpus rows WITHOUT the __h column
    val legacyPath = store.dataPath("corpus", 1)
    Seq((Timestamp.valueOf("2026-01-01 10:00:00"), 1L, goodEn))
      .toDF("ts", "doc_id", "text").write.parquet(legacyPath)
    store.commit(1, Map("corpus" -> legacyPath, "batches" -> "0"))
    // a new batch re-sending the legacy text plus one new doc: the fallback
    // re-hashes the legacy delta's text, so the duplicate must still drop
    val batch = Seq(
      (Timestamp.valueOf("2026-01-01 11:00:00"), 2L, goodEn),
      (Timestamp.valueOf("2026-01-01 11:00:01"), 3L, goodEn + " extra"))
      .toDF("ts", "doc_id", "text")
    Streams.processDocBatch(batch, 1L, storeDir)
    val paths = store.readCurrent().get._2("corpus").split(";").filter(_.nonEmpty).toIndexedSeq
    val ids = paths.flatMap(p =>
      spark.read.parquet(p).select("doc_id").as[Long].collect()).sorted
    assert(ids === Seq(1L, 3L), s"legacy-history duplicate must be dropped: $ids")
  }

  test("seed ingest parses the frontier CSV dialect") {
    val raw = Seq(("GBP", "USD", "07/09/1995")).toDF("card_c", "trans_c", "date")
    val out = Streams.ingestSeeds(raw).as[(String, String, java.sql.Date)].head()
    assert(out === (("GBP", "USD", java.sql.Date.valueOf("1995-09-07"))))
  }

  test("seed ingest drops malformed rows (a null date is a micro-batch poison pill)") {
    // a stray header line and a wrong-dialect date must be quarantined here:
    // downstream they become a null URL, the canonicalize UDF's input, and a
    // failed micro-batch is replayed from the source log forever
    val raw = Seq(
      ("card_c", "trans_c", "date"), // header line ingested as data
      ("GBP", "USD", "09/25/1995"),  // MM/dd/yyyy — wrong dialect, unparsable as dd/MM
      ("GBP", "USD", "07/09/1995")).toDF("card_c", "trans_c", "date")
    val out = Streams.ingestSeeds(raw).as[(String, String, java.sql.Date)].collect()
    assert(out.toSeq === Seq(("GBP", "USD", java.sql.Date.valueOf("1995-09-07"))))
  }
}
