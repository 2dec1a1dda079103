package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.crawl.CrawlJob
import graft.model.PolitenessConfig
import graft.plan.Frontier
import graft.synth.Synth

/** End-to-end golden crawl (SURVEY.md §5.4): exact crawl order vs the
  * reference ordering (seed order consumed in budget windows), final
  * URL-seen set, extraction value parity with the deterministic page
  * fixtures, and MC-error / Visa-null reference semantics.
  */
class CrawlE2ESpec extends SparkSpec {
  import spark.implicits._

  private val end = java.time.LocalDate.of(1995, 9, 10)

  test("crawl order = seed order in budget windows; seen set exact") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR"))
    val seeds = Frontier.candidates(currs, end, 3) // 6 pairs × 3 dates = 18 seeds
    val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
    val pages = Synth.mcPages(seeds)
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val dir = Files.createTempDirectory("crawlOrder").toString
    // budget 8/round → rounds of 8, 8, 2 in strict seq order
    CrawlJob.run(spark, frontier, pages, robots, dir, PolitenessConfig(maxPerHost = 8), roundSec = 1.0)

    val store = new graft.checkpoint.SnapshotStore(dir)
    val rounds = store.versions()
    val expectedSeqs = seeds.orderBy("seq").select("seq").as[Long].collect().toSeq
    // reconstruct per-round scheduled seqs from the per-round seen deltas
    val scheduledByRound = rounds.map { v =>
      val man = store.readManifest(v)
      man("seen").split(";").toSeq
    }
    // delta list grows by exactly one path per round; each delta holds that
    // round's scheduled urls
    val deltas = scheduledByRound.last
    val urlToSeq = CrawlJob.expandSeeds(seeds, "Mastercard")
      .select(udf((u: String) => graft.urls.Urls.canonicalize(u)).apply(col("url")).as("url"), col("seq"))
      .as[(String, Long)].collect().toMap
    val perRound = deltas.map(p =>
      spark.read.parquet(p).select("url").as[String].collect().map(urlToSeq).sorted.toSeq)
    assert(perRound.map(_.size) === Seq(8, 8, 2))
    // window w must be exactly the next 8 seeds in order
    assert(perRound.flatten === expectedSeqs)
    // budget windows: round r contains seeds [8r, 8r+8)
    perRound.zipWithIndex.foreach { case (seqs, r) =>
      assert(seqs === expectedSeqs.slice(r * 8, r * 8 + 8), s"round $r window mismatch")
    }
  }

  test("extraction parity: crawled rates equal the fixture formula; MC errors dropped") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR", "CHF"))
    val seeds = Frontier.candidates(currs, end, 4) // 48 seeds
    val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
    val pages = Synth.mcPages(seeds)
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val dir = Files.createTempDirectory("crawlParity").toString
    val (rates, seen, metrics) = CrawlJob.run(spark, frontier, pages, robots, dir, PolitenessConfig())

    val expected = seeds.select(
      col("card_c"), col("trans_c"), col("date"),
      Synth.rateFor(col("card_c"), col("trans_c"), col("date"), lit("Mastercard")).as("rate"),
      Synth.mcIsErrorFor(col("card_c"), col("trans_c"), col("date")).as("isErr"))
      .as[(String, String, java.sql.Date, Double, Boolean)].collect()
    val got = rates.select("card_code", "trans_code", "date", "rate")
      .as[(String, String, java.sql.Date, Double)].collect()
      .map(r => (r._1, r._2, r._3.toString) -> r._4).toMap

    val errs = expected.count(_._5)
    assert(got.size === expected.length - errs)
    expected.foreach { case (c, t, d, rate, isErr) =>
      if (isErr) assert(!got.contains((c, t, d.toString)), s"error page ($c,$t,$d) must be dropped")
      else assert(got((c, t, d.toString)) === rate, s"rate mismatch for ($c,$t,$d)")
    }
    // every frontier URL ended in the seen set exactly once
    assert(seen.count() === 48)
    assert(seen.select("urlHash").distinct().count() === 48)
    // metrics recorded the error drops
    val errMetric = metrics.agg(sum("errorDropped")).collect()(0).getLong(0)
    assert(errMetric === errs.toLong)
  }

  test("visa crawl: null rates stored (reference stores None), commas stripped") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR"))
    val seeds = Frontier.candidates(currs, end, 3)
    val frontier = CrawlJob.expandSeeds(seeds, "Visa")
    val pages = Synth.visaPages(seeds)
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val dir = Files.createTempDirectory("crawlVisa").toString
    val (rates, _, _) = CrawlJob.run(spark, frontier, pages, robots, dir, PolitenessConfig())

    val expected = seeds.select(
      col("card_c"), col("trans_c"), col("date"),
      Synth.rateFor(col("card_c"), col("trans_c"), col("date"), lit("Visa")).as("rate"),
      (pmod(xxhash64(col("card_c"), col("trans_c"), col("date"), lit("visa_big")), lit(7L)) === 0L).as("big"),
      (pmod(xxhash64(col("card_c"), col("trans_c"), col("date"), lit("visa_miss")), lit(50L)) === 0L).as("miss"))
      .as[(String, String, java.sql.Date, Double, Boolean, Boolean)].collect()
    val got = rates.select("card_code", "trans_code", "date", "rate")
      .as[(String, String, java.sql.Date, Option[Double])].collect()
      .map(r => (r._1, r._2, r._3.toString) -> r._4).toMap

    assert(got.size === expected.length) // ALL rows stored, even parse misses
    expected.foreach { case (c, t, d, rate, big, miss) =>
      val v = got((c, t, d.toString))
      if (miss) assert(v === None, s"missing node ($c,$t,$d) must store null")
      else {
        // format_number rounds half-even at 6 dp; comma-strip must recover
        // the full magnitude for "big" rates
        val exp = if (big) rate * 1000 else rate
        assert(math.abs(v.get - exp) < 1e-6, s"visa rate mismatch for ($c,$t,$d): $v vs $exp")
      }
    }
  }

  test("metrics record per-host dedup/robots drops; lineage sums match tables") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR"))
    val seeds = Frontier.candidates(currs, end, 3) // 18 seeds
    val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
    val pages = Synth.mcPages(seeds)
    // block the fxDate=1995-09-10 URLs via a robots prefix
    val robots = Seq(("www.mastercard.co.uk", "/settlement/currencyrate/fxDate=1995-09-10", false))
      .toDF("host", "pathPrefix", "allow")
    val dir = Files.createTempDirectory("crawlMetrics").toString
    // budget 6/round: rounds 6,6 over the 12 allowed seeds; robots-dropped
    // rows leave the frontier in round 1
    val (rates, seen, metrics) = CrawlJob.run(
      spark, frontier, pages, robots, dir,
      PolitenessConfig(maxPerHost = 6), roundSec = 0.75)
    assert(seen.select("url").distinct().count() === 12)
    val m = metrics.orderBy("round").collect()
    val r1 = m.find(_.getAs[Int]("round") == 1).get
    assert(r1.getAs[Long]("robotsDropped") === 6L) // the 6 blocked-date seeds
    assert(r1.getAs[Long]("scheduled") === 6L)
    assert(metrics.agg(sum("scheduled")).collect()(0).getLong(0) === 12L)
    // dedupDropped: 0 in round 1; rounds 2+ dedup nothing (scheduled rows
    // left the frontier), so total stays 0 in a clean crawl
    assert(metrics.agg(sum("dedupDropped")).collect()(0).getLong(0) === 0L)
    assert(metrics.agg(sum("extractedOk") + sum("errorDropped")).collect()(0).getLong(0) === 12L)
    // lineage: per-file row counts of each committed delta sum to the tables
    val store = new graft.checkpoint.SnapshotStore(dir)
    val man = store.readManifest(store.currentVersion().get)
    val lineage = spark.read.parquet(man("lineage").split(";").toIndexedSeq: _*)
    val bySums = lineage.groupBy("table").agg(sum("rows").as("rows"))
      .as[(String, Long)].collect().toMap
    assert(bySums("seen") === seen.count())
    assert(bySums("rates") === rates.count())
  }

  test("offsite filter: off-domain frontier rows dropped, counted, never seen") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD"))
    val seeds = Frontier.candidates(currs, end, 2) // 4 seeds
    val onsite = CrawlJob.expandSeeds(seeds, "Mastercard")
    // 2 off-domain rows that would otherwise be fetched
    val offsite = onsite
      .withColumn("url", regexp_replace(col("url"), "www\\.mastercard\\.co\\.uk", "evil.example.com"))
      .withColumn("host", lit("evil.example.com"))
      .withColumn("canonUrl", udf((u: String) => graft.urls.Urls.canonicalize(u)).apply(col("url")))
      .withColumn("urlHash", xxhash64(col("canonUrl")))
      .withColumn("seq", col("seq") + 100L)
      .limit(2)
    val frontier = onsite.unionByName(offsite)
    val pages = Synth.mcPages(seeds)
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val dir = Files.createTempDirectory("crawlOffsite").toString
    val (_, seen, metrics) = CrawlJob.run(
      spark, frontier, pages, robots, dir, PolitenessConfig(),
      allowedDomains = Seq("mastercard.co.uk"))
    // off-domain rows: dropped, counted, absent from seen
    assert(seen.count() === 4)
    assert(seen.filter(col("url").contains("evil")).count() === 0)
    assert(metrics.agg(sum("offsiteDropped")).collect()(0).getLong(0) === 2L)
    val byHost = metrics.groupBy("host").agg(sum("offsiteDropped").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byHost("evil.example.com") === 2L)
    // the off-domain host has rows in no stage after the offsite gate: each
    // of those stage counts is 0, never null
    assert(metrics.filter(metrics.columns.map(c => col(c).isNull).reduce(_ || _)).count() === 0)
    val evil = metrics.filter(col("host") === "evil.example.com")
      .select("scheduled", "robotsDropped", "fetchMissed", "errorDropped", "extractedOk")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(evil.toSeq === Seq((0L, 0L, 0L, 0L, 0L)))
  }

  test("all gates together: dedup + offsite + robots + retries compose; metrics reconcile") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR"))
    val seeds = Frontier.candidates(currs, end, 3) // 18 seeds
    val onsite = CrawlJob.expandSeeds(seeds, "Mastercard")
    // +3 off-domain rows, +4 within-batch duplicates of the first seeds
    val offsite = onsite.limit(3)
      .withColumn("url", regexp_replace(col("url"), "www\\.mastercard\\.co\\.uk", "elsewhere.net"))
      .withColumn("host", lit("elsewhere.net"))
      .withColumn("canonUrl", udf((u: String) => graft.urls.Urls.canonicalize(u)).apply(col("url")))
      .withColumn("urlHash", xxhash64(col("canonUrl")))
      .withColumn("seq", col("seq") + 500L)
    val dups = onsite.limit(4).withColumn("seq", col("seq") + 1000L)
    val frontier = onsite.unionByName(offsite).unionByName(dups)
    // robots blocks one fxDate prefix (6 rows); pages missing for EUR-card
    // seeds (4 rows, but 2 of them are also robots-blocked date rows… keep
    // the classes disjoint: block one date, miss on EUR card)
    val robots = Seq(("www.mastercard.co.uk", "/settlement/currencyrate/fxDate=1995-09-10", false))
      .toDF("host", "pathPrefix", "allow")
    val pages = Synth.mcPages(
      seeds.filter(!(col("card_c") === "EUR" && col("date") =!= java.sql.Date.valueOf("1995-09-10"))))
    val dir = Files.createTempDirectory("crawlAllGates").toString
    val (_, seen, metrics) = CrawlJob.run(
      spark, frontier, pages, robots, dir, PolitenessConfig(),
      allowedDomains = Seq("mastercard.co.uk"))

    // 18 on-site seeds: 6 robots-blocked (fxDate=1995-09-10) never scheduled;
    // 12 scheduled; of those, EUR-card seeds on other dates (4 rows) have no
    // page → retried twice then dropped
    val scheduledDistinct = seen.select("urlHash").distinct().count()
    assert(scheduledDistinct === 12)
    assert(seen.filter(col("url").contains("elsewhere")).count() === 0)
    assert(seen.count() === 12 + 2 * 4) // 4 missing URLs retried twice each
    assert(metrics.agg(sum("offsiteDropped")).collect()(0).getLong(0) === 3L)
    assert(metrics.agg(sum("robotsDropped")).collect()(0).getLong(0) === 6L)
    // the 4 within-batch duplicates died in the entry dedup (round-1 input
    // dedup), so cross-round dedupDropped stays 0
    assert(metrics.agg(sum("dedupDropped")).collect()(0).getLong(0) === 0L)
    assert(metrics.agg(sum("fetchMissed")).collect()(0).getLong(0) === 12L) // 4 urls × 3 attempts
    assert(metrics.agg(sum("extractedOk") + sum("errorDropped")).collect()(0).getLong(0) === 8L)
  }

  test("hostCol: parse_url fast path + UDF fallback for URI-hostile hosts") {
    val urls = Seq(
      "https://WWW.Example.COM/path?q=1",      // parse_url path, case-folded
      "https://api_v2.example.com/x",          // underscore: URI rejects → fallback
      "http://user@host.com:8080/y")           // userinfo+port stripped
      .toDF("url")
    val got = urls.select(graft.urls.UrlCols.hostCol(col("url")).as("h"))
      .as[String].collect().toSeq
    assert(got === Seq("www.example.com", "api_v2.example.com", "host.com"))
  }

  test("duplicate seeds collapse via canonical dedup before scheduling") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD"))
    val seeds = Frontier.candidates(currs, end, 2)
    val dup = seeds.unionAll(seeds.withColumn("seq", col("seq") + 100L))
    val frontier = CrawlJob.expandSeeds(dup, "Mastercard")
    val pages = Synth.mcPages(seeds)
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val dir = Files.createTempDirectory("crawlDup").toString
    val (_, seen, _) = CrawlJob.run(spark, frontier, pages, robots, dir, PolitenessConfig())
    assert(seen.count() === 4) // 2 pairs × 2 dates, duplicates dropped
  }
}
