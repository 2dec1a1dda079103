package graft

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.plan.Frontier

/** Parity port of the reference's golden test
  * (tests/test_db_client.py:85-108): inserting TEST_ROWS and planning
  * `missing("Mastercard", end=1995-09-10, num_days=8, currs={GBP,USD})`
  * must yield exactly 7 combos. Plus seed-ordering and shard-parity tests
  * (client.py:106-111,144-146).
  */
class FrontierSpec extends SparkSpec {
  import spark.implicits._

  private val testDate = LocalDate.of(1995, 9, 10)

  /** The reference TEST_ROWS fixture (tests/test_db_client.py:12-30). */
  private def ratesFixture = Seq(
    ("GBP", "USD", "1995-09-03", 1, 1.0), ("GBP", "USD", "1995-09-04", 1, 2.0),
    ("GBP", "USD", "1995-09-05", 1, 3.0), ("GBP", "USD", "1995-09-06", 1, 4.0),
    ("GBP", "USD", "1995-09-07", 2, 5.0), ("GBP", "USD", "1995-09-08", 2, 6.0),
    ("GBP", "USD", "1995-09-09", 2, 7.0), ("GBP", "USD", "1995-09-10", 1, 0.654654),
    ("USD", "GBP", "1995-09-03", 1, 7.0), ("USD", "GBP", "1995-09-04", 1, 6.0),
    ("USD", "GBP", "1995-09-05", 1, 5.0), ("USD", "GBP", "1995-09-06", 1, 4.0),
    ("USD", "GBP", "1995-09-07", 2, 3.0), ("USD", "GBP", "1995-09-08", 2, 2.0),
    ("USD", "GBP", "1995-09-09", 2, 1.0))
    .map { case (c, t, d, p, r) => (c, t, Date.valueOf(d), p, r) }
    .toDF("card_code", "trans_code", "date", "provider_id", "rate")

  private def providers = Seq((1, "Mastercard"), (2, "Visa")).toDF("id", "name")

  test("golden missing anti-join: exactly the reference's 7 tuples") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD"))
    val cands = Frontier.candidates(currs, testDate, 8)
    val out = Frontier.missing(cands, ratesFixture, providers, "Mastercard", testDate, 8, Seq("GBP", "USD"))
      .select("card_c", "trans_c", "date")
      .as[(String, String, Date)].collect().map { case (c, t, d) => (c, t, d.toString) }.toSet
    val expected = Set(
      ("GBP", "USD", "1995-09-07"), ("GBP", "USD", "1995-09-08"), ("GBP", "USD", "1995-09-09"),
      ("USD", "GBP", "1995-09-10"), ("USD", "GBP", "1995-09-07"), ("USD", "GBP", "1995-09-08"),
      ("USD", "GBP", "1995-09-09"))
    assert(out === expected)
  }

  test("candidates reproduce itertools.product order: pairs outer, dates descending") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR"))
    val cands = Frontier.candidates(currs, testDate, 3)
      .orderBy("seq")
      .select("card_c", "trans_c", "date")
      .as[(String, String, Date)].collect().map { case (c, t, d) => (c, t, d.toString) }
    // reference order: for x in currs, for y in currs (x!=y), dates desc from end
    val dates = Seq("1995-09-10", "1995-09-09", "1995-09-08")
    val currsSeq = Seq("GBP", "USD", "EUR")
    val expected = for {
      x <- currsSeq; y <- currsSeq if x != y; d <- dates
    } yield (x, y, d)
    assert(cands.toSeq === expected)
    // seq values are dense 0..n-1
    val seqs = Frontier.candidates(currs, testDate, 3).select("seq").as[Long].collect().sorted
    assert(seqs.toSeq === (0L until 18L))
  }

  test("golden missing plan: the dims resolve on the driver, one broadcast (the stored rates), q10 in 1 job") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.graftbridge.LocalRows.DriverBroadcastExec
    object Nodes extends AdaptiveSparkPlanHelper
    val golden = Frontier.missing(
      Frontier.candidates(Frontier.currencyDim(spark, Seq("GBP", "USD")), testDate, 8),
      ratesFixture, providers, "Mastercard", testDate, 8, Seq("GBP", "USD"))
    assert(golden.count() === 7)
    val plan = golden.queryExecution.executedPlan
    val crossJoins = Nodes.collect(plan) {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(crossJoins.isEmpty, plan.treeString)
    // the local fixture's rates are broadcast from the driver, any stored
    // table's through an exchange: one broadcast of either kind
    assert(Nodes.collect(plan) {
      case b: BroadcastExchangeExec => b
      case b: DriverBroadcastExec => b
    }.size === 1, plan.treeString)
    // the grid's one partition carries through the anti-join, so q10's
    // global sort adds no exchange: the result stage is its one job, and
    // building the query runs none
    val jobLog = graft.util.Sessions.jobLog(spark)
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val lastJob = jobLog.jobs.lastOption.fold(-1)(_.id)
    assert(SparkEntry.queries("q10_missing_antijoin")(spark, "").collect().length === 7)
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val ran = jobLog.jobs.filter(_.id > lastJob)
    assert(ran.size <= 1, ran.mkString("\n"))
  }

  test("candidates over a non-local dim equal the local dim's grid row for row") {
    val local = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR", "CHF"))
    val dir = java.nio.file.Files.createTempDirectory("currdim").toString + "/dim"
    // three files whose row order is not the dim's
    local.repartition(3).write.parquet(dir)
    val stored = spark.read.parquet(dir)
    assert(!stored.queryExecution.optimizedPlan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("card_c", "trans_c", "date", "seq").as[(String, String, Date, Long)].collect().toSeq
    val expected = rows(Frontier.candidates(local, testDate, 5))
    assert(expected.length === 4 * 3 * 5)
    assert(expected.map(_._4) === (0L until 60L))
    assert(rows(Frontier.candidates(stored, testDate, 5)) === expected)
  }

  test("missing: an absent provider leaves every candidate missing; a duplicated provider row changes nothing") {
    val cands = Frontier.candidates(Frontier.currencyDim(spark, Seq("GBP", "USD")), testDate, 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("card_c", "trans_c", "date", "seq").as[(String, String, Date, Long)].collect().sortBy(_._4).toSeq
    assert(rows(Frontier.missing(cands, ratesFixture, providers, "Amex", testDate, 8, Seq("GBP", "USD"))) ===
      rows(cands))
    val golden = rows(Frontier.missing(cands, ratesFixture, providers, "Mastercard", testDate, 8, Seq("GBP", "USD")))
    assert(golden.length === 7)
    assert(rows(Frontier.missing(
      cands, ratesFixture, providers.unionAll(providers), "Mastercard", testDate, 8, Seq("GBP", "USD"))) === golden)
  }

  test("round-robin shard assignment matches i % file_count over seed order") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD"))
    val cands = Frontier.candidates(currs, testDate, 8)
    val missing = Frontier.missing(cands, ratesFixture, providers, "Mastercard", testDate, 8, Seq("GBP", "USD"))
    val sharded = Frontier.withShard(missing, 3, partitions = 4)
      .orderBy("seq").select("card_c", "trans_c", "shard")
      .as[(String, String, Int)].collect()
    // 7 missing rows in seed order → shards 0,1,2,0,1,2,0
    assert(sharded.map(_._3).toSeq === Seq(0, 1, 2, 0, 1, 2, 0))
  }

  test("shard write→read round-trip: headerless dd/MM/yyyy dialect") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD"))
    val cands = Frontier.candidates(currs, testDate, 8)
    val missing = Frontier.missing(cands, ratesFixture, providers, "Mastercard", testDate, 8, Seq("GBP", "USD"))
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    Frontier.writeShards(missing, 3, dir)
    val back = Frontier.readShards(spark, s"$dir/shard=*")
      .as[(String, String, Date)].collect().map { case (c, t, d) => (c, t, d.toString) }.toSet
    val expected = missing.select("card_c", "trans_c", "date")
      .as[(String, String, Date)].collect().map { case (c, t, d) => (c, t, d.toString) }.toSet
    assert(back === expected)
    // raw file bytes match the reference row format
    val firstFile = new java.io.File(s"$dir/shard=0").listFiles()
      .filter(_.getName.endsWith(".csv")).head
    val lines = java.nio.file.Files.readAllLines(firstFile.toPath)
    assert(lines.get(0).matches("""[A-Z]{3},[A-Z]{3},\d{2}/\d{2}/\d{4}"""), lines.get(0))
  }

  test("missingWithDefaults mirrors the reference defaults (client.py:92-104)") {
    import graft.synth.Synth
    // currs default: MC settlement-currencies dimension page, page order
    val dimPages = Seq(Synth.mcCurrencyPage(Seq("GBP", "USD"))).toDF("text")
    // end default: crawl date of `now` under the US/Eastern 2pm cutoff —
    // 1995-09-11 17:00 UTC = 13:00 ET, before 2pm => crawl date 1995-09-10
    val now = java.time.Instant.parse("1995-09-11T17:00:00Z")
    val out = Frontier.missingWithDefaults(
      spark, ratesFixture, providers, "Mastercard", dimPages, now, numDays = 8)
      .select("card_c", "trans_c", "date")
      .as[(String, String, Date)].collect().map { case (c, t, d) => (c, t, d.toString) }.toSet
    val expected = Set(
      ("GBP", "USD", "1995-09-07"), ("GBP", "USD", "1995-09-08"), ("GBP", "USD", "1995-09-09"),
      ("USD", "GBP", "1995-09-10"), ("USD", "GBP", "1995-09-07"), ("USD", "GBP", "1995-09-08"),
      ("USD", "GBP", "1995-09-09"))
    assert(out === expected)
    // num_days defaults to 363: 2 ordered pairs x 363 dates minus the 9
    // provider-1 fixture rows inside the window
    val dflt = Frontier.missingWithDefaults(
      spark, ratesFixture, providers, "Mastercard", dimPages, now)
    assert(dflt.count() === 2 * 363 - 9)
    // explicit overrides win, as in the reference signature
    val explicitCurrs = Frontier.missingWithDefaults(
      spark, ratesFixture, providers, "Mastercard", dimPages, now,
      numDays = 8, currs = Some(Seq("GBP", "EUR")))
      .select("card_c").distinct().as[String].collect().toSet
    assert(explicitCurrs === Set("GBP", "EUR"))
  }

  test("availCurrencies preserves page order with first-occurrence dedup") {
    val pages = Seq(graft.synth.Synth.visaCurrencyPage(Seq("USD", "GBP", "USD", "AUD")))
      .toDF("text")
    assert(graft.plan.Dims.availCurrencies(pages, "Visa") === Seq("USD", "GBP", "AUD"))
  }

  test("availCurrencies refuses multiple dimension pages (page order undefined)") {
    val pages = Seq(
      graft.synth.Synth.visaCurrencyPage(Seq("USD", "GBP")),
      graft.synth.Synth.visaCurrencyPage(Seq("EUR"))).toDF("text")
    val e = intercept[IllegalArgumentException] {
      graft.plan.Dims.availCurrencies(pages, "Visa")
    }
    assert(e.getMessage.contains("one dimension page"))
  }

  test("withGlobalRank: dense, stable ranks on a post-shuffle input") {
    // The regression mode this guards: a bucket id derived from
    // spark_partition_id() after repartitionByRange differs between the
    // offsets action and the consuming plan (RangePartitioner's sampling is
    // seeded per RDD id), silently duplicating/skipping ranks — reproduced
    // at exactly this size before the value-pure bucket fix. seq is dense
    // 0..4999 here, so a correct global rank must equal seq on every row,
    // and an independent second build must agree exactly.
    val left = (0 until 5000).map(i => (i.toLong, i % 7)).toDF("seq", "k")
    val right = (0 until 7).map(k => (k, s"g$k")).toDF("k", "g")
    val shuffled = left.hint("merge").join(right, "k")
    val a = Frontier.globalRank(shuffled, "seq", "r", partitions = 8, buckets = true)
      .select("seq", "r").as[(Long, Long)].collect()
    assert(a.length === 5000)
    assert(a.forall { case (s, r) => s == r })
    val b = Frontier.globalRank(shuffled, "seq", "r", partitions = 8, buckets = true)
      .select("seq", "r").as[(Long, Long)].collect().toMap
    assert(a.forall { case (s, r) => b(s) == r })
  }

  test("withGlobalRank: duplicate-heavy order column still ranks densely and in order") {
    // 50k rows over 23 distinct values: a distinct-VALUE boundary sample
    // would be nearly empty here (and frequency-blind), funneling all rows
    // into one bucket; the frequency-weighted quantile boundaries must
    // still produce dense 0..n-1 ranks that respect the value order
    val df = (0 until 50000).map(i => (i % 23).toLong).toDF("v")
    val ranked = Frontier.globalRank(df, "v", "r", partitions = 8, buckets = true)
      .select("v", "r").as[(Long, Long)].collect()
    assert(ranked.map(_._2).sorted.toSeq === (0L until 50000L))
    val byV = ranked.groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2) }
    (0L until 22L).foreach { v => assert(byV(v).max < byV(v + 1).min) }
  }

  test("withGlobalRank and withGlobalPrefixSum: the one-partition path equals the bucket path") {
    // dense (unique, permuted), duplicate-heavy, empty and one-partition
    // inputs; w is a function of v, so tied rows carry equal values and the
    // (v, prefix sum) multiset is defined even where the tie order is not
    val dense = (0 until 2000).map(i => (i * 7919L % 2000L, i % 13)).toDF("v", "x")
    val inputs = Seq(
      "dense" -> dense,
      "duplicate-heavy" -> (0 until 3000).map(i => ((i % 23).toLong, i % 13)).toDF("v", "x"),
      "empty" -> dense.limit(0),
      "one partition" -> dense.repartition(1))
      .map { case (name, df) => name -> df.withColumn("w", $"v" * 31 % 7 + 1) }
    def pairs(df: org.apache.spark.sql.DataFrame, out: String) =
      df.select($"v", col(out)).as[(Long, Long)].collect().sorted.toSeq
    inputs.foreach { case (name, df) =>
      val n = df.count()
      val rank = pairs(Frontier.globalRank(df, "v", "r", 8, buckets = false), "r")
      assert(rank.map(_._2).sorted === (0L until n), name)
      val sums = pairs(Frontier.globalPrefixSum(df, "v", "w", "s", 8, buckets = false), "s")
      Seq(1, 8).foreach { parts =>
        assert(pairs(Frontier.globalRank(df, "v", "r", parts, buckets = true), "r") === rank, s"$name, $parts buckets")
        assert(pairs(Frontier.globalPrefixSum(df, "v", "w", "s", parts, buckets = true), "s") === sums,
          s"$name, $parts buckets")
      }
    }
  }

  test("size gate: the date axis counts, so a reference-sized grid takes the bucket path") {
    import graft.util.PlanSize
    val jobLog = graft.util.Sessions.jobLog(spark)
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val lastJob = jobLog.jobs.lastOption.fold(-1)(_.id)
    // 160 currencies × 363 days: 9.2M rows. Spark's estimate keeps the
    // explode's input size (one row per pair), which alone would rank this
    // grid in a single task
    val grid = Frontier.candidates(Frontier.currencyDim(spark, (0 until 160).map(i => f"C$i%03d")), testDate, 363)
    assert(grid.queryExecution.optimizedPlan.stats.sizeInBytes <= PlanSize.partitionBytes(grid))
    assert(!PlanSize.fitsOnePartition(grid))
    // q13's input: the golden missing frontier, 7 rows
    val golden = Frontier.missing(
      Frontier.candidates(Frontier.currencyDim(spark, Seq("GBP", "USD")), testDate, 8),
      ratesFixture, providers, "Mastercard", testDate, 8, Seq("GBP", "USD"))
    assert(PlanSize.fitsOnePartition(golden))
    // a generator whose length only the data knows gives no bound
    val words = Seq("a b c").toDF("t").select(explode(split($"t", " ")).as("w"))
    assert(PlanSize.upperBoundBytes(words).isEmpty)
    // deciding ran nothing: neither plan, nor a count for the pair index
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val ran = jobLog.jobs.filter(_.id > lastJob)
    assert(ran.isEmpty, ran.mkString("\n"))
  }

  test("withShard leaks no cached RDDs across repeated calls") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD"))
    val cands = Frontier.candidates(currs, testDate, 8)
    val missing = Frontier.missing(cands, ratesFixture, providers, "Mastercard", testDate, 8, Seq("GBP", "USD"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 5).foreach { _ =>
      assert(Frontier.withShard(missing, 3, partitions = 4).count() === 7)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"cached RDDs leaked by withShard: $leaked")
  }

  test("rates_from_csv dialect: header row + MM/dd/yyyy dates") {
    val dir = java.nio.file.Files.createTempDirectory("ratescsv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/r.csv"),
      "card_code,trans_code,date,rate\nGBP,USD,09/07/1995,1.5\nUSD,GBP,12/31/1995,2.5\n")
    val out = Frontier.ratesFromCsv(spark, dir, providerId = 1)
      .as[(String, String, Date, Int, Double)].collect().toSet
    assert(out === Set(
      ("GBP", "USD", Date.valueOf("1995-09-07"), 1, 1.5),
      ("USD", "GBP", Date.valueOf("1995-12-31"), 1, 2.5)))
  }

  test("per-file commit ingest: resumable, idempotent, one commit per CSV") {
    def csv(dir: String, name: String, rows: String): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/$name"),
        "card_code,trans_code,date,rate\n" + rows)
    val dir = java.nio.file.Files.createTempDirectory("percsv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("percsv-ckpt").toString
    val store = new graft.checkpoint.SnapshotStore(ckpt)
    csv(dir, "a.csv", "GBP,USD,09/07/1995,1.5\n")
    csv(dir, "b.csv", "USD,GBP,09/08/1995,2.5\nEUR,USD,09/09/1995,3.5\n")
    // first run: 2 files → 2 commits, 3 rows
    assert(Frontier.ratesFromCsvPerFile(spark, dir, 1, store).count() === 3)
    assert(store.currentVersion() === Some(2))
    // idempotent: nothing new → no new commits, same rows
    assert(Frontier.ratesFromCsvPerFile(spark, dir, 1, store).count() === 3)
    assert(store.currentVersion() === Some(2))
    // a crash-resume with one MORE file ingests exactly that file
    csv(dir, "c.csv", "CHF,USD,09/10/1995,4.5\n")
    val out = Frontier.ratesFromCsvPerFile(spark, dir, 1, store)
    assert(out.count() === 4)
    assert(store.currentVersion() === Some(3))
    assert(out.filter(org.apache.spark.sql.functions.col("card_code") === "CHF").count() === 1)
  }

  test("per-file ingest into a crawl's store keeps every crawl table, and the crawl resumes") {
    import graft.crawl.CrawlJob
    import graft.model.PolitenessConfig
    val seeds = Frontier.candidates(Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR")), testDate, 3)
    val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
    val pages = graft.synth.Synth.mcPages(seeds)
    val robots = Seq.empty[(String, String, Boolean)].toDF("host", "pathPrefix", "allow")
    val cfg = PolitenessConfig(maxPerHost = 8)
    def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString
    val (ratesAlone, seenAlone, _) = CrawlJob.run(spark, frontier, pages, robots, tmp("alone"), cfg, roundSec = 1.0)

    val ckpt = tmp("shared")
    CrawlJob.run(spark, frontier, pages, robots, ckpt, cfg, roundSec = 1.0, maxRounds = 1)
    val store = new graft.checkpoint.SnapshotStore(ckpt)
    val crawlTables = store.readCurrent().get._2
    val dir = tmp("csvs")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.csv"),
      "card_code,trans_code,date,rate\nCHF,JPY,01/02/1995,1.5\n")
    Frontier.ratesFromCsvPerFile(spark, dir, 1, store)
    val after = store.readCurrent().get._2
    (crawlTables.keySet - "rates").foreach(k => assert(after.get(k) === crawlTables.get(k), k))
    assert(after("rates").startsWith(crawlTables("rates") + ";"), "the ingest extends the rates chain")

    // the crawl resumes where it stopped: the same seen set as a crawl
    // alone, plus the ingested row among the rates
    val jobLog = graft.util.Sessions.jobLog(spark)
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val lastJob = jobLog.jobs.lastOption.fold(-1)(_.id)
    val version = store.currentVersion().get
    val (rates, seen, _) = CrawlJob.run(spark, frontier, pages, robots, ckpt, cfg, roundSec = 1.0)
    // the ingest left `seen` alone, so the Bloom filters still cover it:
    // the resume rebuilds nothing, and its loader submits no job
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val loads = jobLog.jobs.filter(j => j.id > lastJob && j.description == s"crawl r$version: load")
    assert(loads.isEmpty, loads.mkString("\n"))
    assert(seen.select("url").as[String].collect().sorted === seenAlone.select("url").as[String].collect().sorted)
    assert(rates.count() === ratesAlone.count() + 1)
  }
}
