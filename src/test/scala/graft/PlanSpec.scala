package graft

import org.apache.spark.sql.functions._

import graft.crawl.CrawlJob
import graft.plan.Frontier
import graft.synth.Synth

/** Physical-plan assertions: the scale-critical choices must actually be
  * in the plan, not just intended (builder prompt: ".explain and iterate").
  */
class PlanSpec extends SparkSpec {

  test("fetch join is a shuffled-hash join with the slim side as build") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD"))
    val seeds = Frontier.candidates(currs, java.time.LocalDate.of(1995, 9, 10), 2)
    val sched = CrawlJob.expandSeeds(seeds, "Mastercard")
    val pages = Synth.mcPages(seeds)
    val plan = sched.hint("shuffle_hash")
      .join(pages.select(col("url"), col("text")), Seq("url"), "left")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin in:\n$plan")
    assert(plan.contains("BuildLeft"), s"expected BuildLeft in:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("bucketed page table: fetch join shuffles only the frontier side") {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR"))
    val seeds = Frontier.candidates(currs, java.time.LocalDate.of(1995, 9, 10), 4)
    graft.sources.PageStore.writeBucketed(Synth.mcPages(seeds), "pages_bucketed_test", 4)
    val pages = graft.sources.PageStore.read(spark, "pages_bucketed_test")
    val sched = CrawlJob.expandSeeds(seeds, "Mastercard")
    val plan = sched.hint("shuffle_hash")
      .join(pages.select(col("url"), col("text")), Seq("url"), "left")
      .queryExecution.executedPlan.toString
    // exactly one Exchange — the slim frontier side; the bucketed scan
    // satisfies the join distribution with zero page-body movement
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected 1 exchange, got $exchanges in:\n$plan")
    assert(plan.contains("Bucketed: true"), plan)
  }

  test("missing anti-join pushes provider/date/currency filters to the scan side") {
    import spark.implicits._
    val rates = Seq(("GBP", "USD", java.sql.Date.valueOf("1995-09-07"), 1, 1.0))
      .toDF("card_code", "trans_code", "date", "provider_id", "rate")
    val providers = Seq((1, "Mastercard")).toDF("id", "name")
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD"))
    val cands = Frontier.candidates(currs, java.time.LocalDate.of(1995, 9, 10), 8)
    val dir = java.nio.file.Files.createTempDirectory("rates").toString + "/rates"
    rates.write.parquet(dir)
    val plan = Frontier.missing(cands, spark.read.parquet(dir), providers, "Mastercard",
      java.time.LocalDate.of(1995, 9, 10), 8, Seq("GBP", "USD"))
      .queryExecution.executedPlan
    // anti-join present; the provider id, range and membership predicates
    // below it all reach the rates scan
    assert(plan.toString.contains("LeftAnti"), plan)
    object Nodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val pushed = Nodes.collect(plan) { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .map(_.metadata("PushedFilters")).mkString
    Seq("EqualTo(provider_id,1)", "LessThanOrEqual(date,1995-09-10)", "GreaterThanOrEqual(date,1995-09-03)",
      "In(card_code, [GBP,USD])", "In(trans_code, [GBP,USD])")
      .foreach(f => assert(pushed.contains(f), pushed))
  }

  test("q01's shipdate filter reaches the lineitem parquet scan") {
    val plan = SparkEntry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), plan)
    assert(!plan.contains("l_orderkey"), "scan must not read unprojected columns")
  }

  test("parquet scan prunes columns to the projection") {
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    import spark.implicits._
    Seq((1L, "a", 1.0, "x")).toDF("k", "s", "v", "unused")
      .write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir).select("k", "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<k:bigint,v:double>"), plan)
  }

  test("q33 multi-way join broadcasts both dims; no shuffle of the fact for them") {
    val plan = SparkEntry.queries("q33_region_revenue")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the nation and region dim joins must be broadcast-hash (the supplier
    // equi-join is allowed to shuffle — that's the one planned exchange)
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 2, s"expected ≥2 BroadcastHashJoin (nation, region) in:\n$plan")
  }

  test("partitioned-bloom confirm scans seen once, never shuffles it (smallProbe)") {
    import spark.implicits._
    val canon = udf((u: String) => graft.urls.Urls.canonicalize(u))
    val seenDir = java.nio.file.Files.createTempDirectory("pbplan").toString
    val seen = (1 to 500).map(i => s"http://s.com/p$i").toDF("url")
      .select(xxhash64(canon(col("url"))).as("urlHash"), canon(col("url")).as("url"))
    graft.dedup.UrlSeen.buildPartitionedBlooms(seen, s"$seenDir/blooms", parts = 4, 1000)
    val candidates = (400 to 600).map(i => s"http://s.com/p$i").toDF("url")
      .withColumn("canonUrl", canon(col("url")))
      .withColumn("urlHash", xxhash64(col("canonUrl")))
    val plan = graft.dedup.UrlSeen
      .filterNewPartitionedBloom(candidates, seen, s"$seenDir/blooms", 4)
      .queryExecution.executedPlan.toString
    // exact confirm must run as broadcast joins of the probe set — the seen
    // table is scanned, never exchanged (the O(seen)-shuffle-per-round trap)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"seen side must not shuffle:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("robots gate plan contains a broadcast join, not a shuffle of the frontier") {
    import spark.implicits._
    val frontier = (1 to 100).map(i => ("h.com", s"https://h.com/p$i", 0, i.toLong))
      .toDF("host", "url", "priority", "seq")
    val rules = Seq(("h.com", "/private", false)).toDF("host", "pathPrefix", "allow")
    val plan = graft.politeness.Robots.allowed(frontier, rules)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
