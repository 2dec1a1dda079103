package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalRows

import graft.checkpoint.SnapshotStore
import graft.crawl.CrawlJob
import graft.dedup.UrlSeen
import graft.model.{HostState, PolitenessConfig}
import graft.politeness.{Robots, Scheduler}

/** The crawl round's plan: how much of it Spark compiles and submits once
  * warm, and that each expression the tagged round uses in place of an
  * anti-join, a union or a shuffle gives the rows the replaced expression
  * gave.
  */
class CrawlRoundSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  /** A crawl shaped like the `crawl_polite` benchmark, smaller: one hot host
    * above the per-host budget, robots rules on one host, pages missing for
    * some URLs (so retries occur) and error pages for others. `seqs` lists
    * the frontier's `seq` values; card codes (and so rate keys and rates)
    * repeat every `cards` seqs, so rate keys collide across URLs.
    * `hostOf` picks each row's host.
    */
  private def polite(seqs: Seq[Long], cards: Int = 1000000, hostOf: Column => Column = defaultHost) = {
    val frontier = seqs.toDF("seq")
      .withColumn("host", hostOf(col("seq")))
      .withColumn("url", concat(lit("https://"), col("host"),
        when(pick(col("seq"), "priv", 200), lit("/private/")).otherwise(lit("/rates/")),
        lit("p-"), col("seq").cast("string")))
      .withColumn("canonUrl", graft.expr.Native.canonicalize(col("url")))
      .withColumn("urlHash", xxhash64(col("canonUrl")))
      .withColumn("card_c", concat(lit("C"), pmod(col("seq"), lit(cards.toLong)).cast("string")))
      .withColumn("trans_c", lit("USD"))
      .withColumn("date", lit(java.sql.Date.valueOf("1995-01-01")))
      .withColumn("provider", lit("Mastercard"))
      .withColumn("priority", lit(0))
      .withColumn("retries", lit(0))
      .select("url", "canonUrl", "urlHash", "host", "card_c", "trans_c", "date", "provider", "priority", "seq", "retries")
    val rate = (pmod(col("seq"), lit(cards.toLong)) / 100.0).cast("string")
    val text = when(pick(col("seq"), "err", 50), lit("""{"data": {"errorCode": "114"}}"""))
      .otherwise(concat(lit("""{"data": {"conversionRate": """), rate, lit("}}")))
    val pages = frontier.filter(!pick(col("seq"), "miss", 80)).select(col("url"), text.as("text"))
    val robots = Seq(("host-1.example.com", "/private/", false)).toDF("host", "pathPrefix", "allow")
    (frontier, pages, robots)
  }

  private def pick(seq: Column, tag: String, permille: Int): Column =
    pmod(xxhash64(seq, lit(tag)), lit(1000L)) < permille

  private def defaultHost(seq: Column): Column =
    when(pick(seq, "hot", 500), lit("hot.example.com"))
      .otherwise(concat(lit("host-"), pmod(xxhash64(seq, lit("h")), lit(7L)).cast("string"), lit(".example.com")))

  private val cfg = PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = 40, startDelaySec = 0.1)

  test("a warm resumed round compiles at most 10 classes and submits at most 16 jobs") {
    val (frontier, pages, robots) = polite(0L until 1200L)
    val dir = tmp("crawlWarm")
    val log = graft.util.Sessions.jobLog(spark)
    def round(n: Int): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 10.0, maxRounds = n,
        compactEvery = 2)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    (1 to 3).foreach(round) // the fresh round, then two warm resumed rounds
    val compacting = round(4)
    val plain = round(5)
    assert(new SnapshotStore(dir).currentVersion() === Some(5), "the crawl drained early")
    assert(compacting <= 10, s"a compacting round compiled $compacting classes")
    assert(plain <= 10, s"a plain round compiled $plain classes")
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val jobs = log.jobs.filter(_.description.startsWith("crawl r5:"))
    assert(jobs.nonEmpty && jobs.size <= 16, jobs.map(_.description).mkString("\n"))
  }

  /** Spark's codegen cache, a private JVM-wide Guava cache, by reflection. */
  private lazy val codegenCache = {
    val owner = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    val accessor = owner.getDeclaredMethod("cache")
    accessor.setAccessible(true)
    accessor.invoke(owner.getField("MODULE$").get(null))
  }

  test("a warm plain and a warm compacting round each fill at most 60 codegen-cache entries") {
    val (frontier, pages, robots) = polite(0L until 1200L)
    val dir = tmp("crawlEntries")
    // entries after round n, from an empty cache: the round's whole working
    // set, whichever cache segments its keys hash to
    def entries(n: Int): Long = {
      codegenCache.getClass.getMethod("invalidateAll").invoke(codegenCache)
      CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 10.0, maxRounds = n,
        compactEvery = 2)
      codegenCache.getClass.getMethod("size").invoke(codegenCache).asInstanceOf[Long]
    }
    (1 to 2).foreach(entries) // the fresh round, then the first resumed one
    val plain = entries(3)
    val compacting = entries(4)
    assert(new SnapshotStore(dir).currentVersion() === Some(4), "the crawl drained early")
    assert(plain <= 60, s"a plain round filled $plain entries")
    assert(compacting <= 60, s"a compacting round filled $compacting entries")
  }

  /** The round as it was written with an anti-join, a six-way union and a
    * full rates-history anti-join, over the state `loadState` returns.
    */
  private def unionRound(state: CrawlJob.CrawlState, pages: DataFrame, rules: DataFrame,
      allowedDomains: Seq[String], dir: String, maxRetries: Int) = {
    val round = state.round + 1
    val frontier = state.frontier
    val seen = spark.read.schema(CrawlJob.SeenSchema).parquet(state.seenPaths: _*)
    val fresh = UrlSeen.filterNewPartitionedBloom(frontier.filter(col("retries") === 0), seen,
      s"$dir/blooms", UrlSeen.DefaultBloomParts).unionByName(frontier.filter(col("retries") > 0))
    val onsiteF = Robots.onSite(fresh, allowedDomains)
    val allowedF = Robots.allowed(onsiteF, rules)
    val sched = Scheduler.scheduleRound(allowedF, state.hostStates.toDF(), cfg, 10.0)
    val route = graft.provider.Providers.route(col("provider"), graft.provider.Providers.registry) _
    val carry = frontier.columns.toSeq
    val extracted = sched.hint("shuffle_hash").join(pages.select("url", "text"), Seq("url"), "left")
      .select(carry.map(col) ++ Seq(
        graft.provider.Providers.idCol(col("provider")).as("provider_id"),
        col("text").isNotNull.as("hit"),
        (col("text").isNotNull && coalesce(route(_.isError(col("text"))), lit(false))).as("is_err"),
        route(_.extractRate(col("text"))).as("rate")): _*)
    val keys = Seq("card_code", "trans_code", "date", "provider_id")
    val rates = extracted.filter(col("hit") && !col("is_err"))
      .select(col("card_c").as("card_code"), col("trans_c").as("trans_code"), col("date"),
        col("provider_id"), col("rate"))
      .dropDuplicates(keys)
      .join(spark.read.schema(graft.model.RatesSchema).parquet(state.ratesPaths: _*).select(keys.map(col): _*),
        keys, "left_anti")
    val retryRows = extracted.filter(!col("hit") && col("retries") < maxRetries)
      .select(carry.map {
        case "priority" => (col("priority") - 1).as("priority")
        case "retries" => (col("retries") + 1).as("retries")
        case c => col(c)
      }: _*)
    val nextFrontier = allowedF.join(sched.select("urlHash", "canonUrl"), Seq("urlHash", "canonUrl"), "left_anti")
      .unionByName(retryRows)
    def tag(df: DataFrame, stage: String) = df.select(col("host"), lit(stage).as("__stage"))
    val stages = Seq("entered", "postDedup", "postOffsite", "postRobots", "scheduled",
      "fetchMissed", "errorDropped", "extractedOk")
    val counts = stages.map(s => count(when(col("__stage") === s, 1)).as(s))
    val metrics = tag(frontier, "entered").unionAll(tag(fresh, "postDedup"))
      .unionAll(tag(onsiteF, "postOffsite")).unionAll(tag(allowedF, "postRobots"))
      .unionAll(tag(sched, "scheduled"))
      .unionAll(extracted.select(col("host"), when(!col("hit"), lit("fetchMissed"))
        .when(col("is_err"), lit("errorDropped")).otherwise(lit("extractedOk")).as("__stage")))
      .groupBy("host").agg(counts.head, counts.tail: _*)
      .select(lit(round).as("round"), col("host"), col("scheduled"),
        (col("entered") - col("postDedup")).as("dedupDropped"),
        (col("postDedup") - col("postOffsite")).as("offsiteDropped"),
        (col("postOffsite") - col("postRobots")).as("robotsDropped"),
        col("fetchMissed"), col("errorDropped"), col("extractedOk"))
    Map(
      "frontier" -> nextFrontier,
      "seen" -> sched.select(col("urlHash"), col("canonUrl").as("url"), lit(round).as("round")),
      "rates" -> rates,
      "metrics" -> metrics,
      "hostStates" -> Scheduler.updateHostStates(sched, state.hostStates, cfg, round, 10.0).toDF())
  }

  /** Rows as sorted strings, columns in name order. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.toIndexedSeq.map(col): _*).collect().map(_.toString).toSeq.sorted

  test("the tagged round commits what the anti-join and union round computed") {
    // rate keys repeat every 150 seqs: within a round and against history
    val (frontier, pages, robots) = polite(0L until 400L, cards = 150)
    val offsite = polite(Seq(1000L, 1001L), hostOf = _ => lit("other.org"))._1
    val (later, laterPages, _) = polite(400L until 700L, cards = 150)
    val allPages = pages.unionByName(laterPages)
    val domains = Seq("example.com")
    val dir = tmp("crawlTagged")
    CrawlJob.run(spark, frontier.unionByName(offsite), pages, robots, dir, cfg, roundSec = 10.0,
      maxRounds = 1, allowedDomains = domains)
    // the next frontier re-offers seen URLs and brings robots-disallowed and
    // offsite rows beside the deferred and retry rows
    val store = new SnapshotStore(dir)
    val (version, manifest) = store.readCurrent().get
    val committed = spark.read.parquet(manifest("frontier"))
    assert(committed.filter(col("retries") > 0).count() > 0, "no retry rows")
    val seen1 = spark.read.parquet(manifest("seen").split(";").toIndexedSeq: _*)
    val reoffered = frontier.join(seen1.select("urlHash"), Seq("urlHash"), "left_semi").limit(30)
    val next = s"$dir/next-frontier"
    committed.unionByName(reoffered).unionByName(later).unionByName(offsite).write.parquet(next)
    store.commit(version + 1, manifest + ("frontier" -> next))

    val state = CrawlJob.loadState(spark, dir, UrlSeen.DefaultBloomParts)(_.get)
    val expected = unionRound(state, allPages, robots, domains, dir, maxRetries = 2)
      .map { case (k, df) => k -> rowsOf(df) }
    CrawlJob.run(spark, frontier, allPages, robots, dir, cfg, roundSec = 10.0,
      maxRounds = version + 2, allowedDomains = domains)
    val tables = store.readCurrent().get._2
    def last(key: String) = tables(key).split(";").last
    val got = Map(
      "frontier" -> spark.read.parquet(tables("frontier")),
      "seen" -> spark.read.parquet(last("seen")),
      "rates" -> spark.read.parquet(last("rates")),
      "metrics" -> spark.read.parquet(last("metrics")),
      "hostStates" -> spark.read.parquet(tables("hostStates")))
    got.foreach { case (k, df) => assert(rowsOf(df) === expected(k), k) }
    // every gate dropped rows, the hot host deferred some, and retries ran
    val m = got("metrics").agg(sum("dedupDropped"), sum("offsiteDropped"), sum("robotsDropped"),
      sum("fetchMissed")).head()
    assert((0 until 4).forall(m.getLong(_) > 0), m)
    assert(got("frontier").filter(col("host") === "hot.example.com" && col("retries") === 0).count() > 0)
  }

  /** The scheduler as two filtering windows (plus two for a global cap). */
  private def windowSchedule(frontier: DataFrame, states: DataFrame, cfg: PolitenessConfig): DataFrame = {
    val budget = udf((delay: Double) => Scheduler.budgetFor(delay, 10.0, cfg))
    val order = Seq(col("priority").desc, col("seq"))
    def top(df: DataFrame, by: Seq[Column], n: Column) =
      df.withColumn("__rn", row_number().over(Window.partitionBy(by: _*).orderBy(order: _*)))
        .filter(col("__rn") <= n).drop("__rn")
    val salt = pmod(xxhash64(col("url")), lit(Scheduler.Salts.toLong))
    val withBudget = frontier
      .join(states.select(col("host").as("__shost"), col("delaySec").as("__delay")),
        col("host") === col("__shost"), "left")
      .withColumn("__budget", budget(coalesce(col("__delay"), lit(cfg.startDelaySec))))
      .drop("__shost", "__delay")
    val perHost = top(top(withBudget, Seq(col("host"), salt), col("__budget")), Seq(col("host")), col("__budget"))
      .drop("__budget")
    if (cfg.maxGlobal == Int.MaxValue) perHost
    else top(top(perHost, Seq(salt), lit(cfg.maxGlobal)), Seq(pmod(col("seq"), lit(1))), lit(cfg.maxGlobal))
  }

  test("the schedule flag marks exactly the rows the filtering windows keep") {
    val (frontier, _, _) = polite(0L until 600L)
    val rows = frontier.withColumn("priority", pmod(col("seq"), lit(3L)).cast("int"))
      .withColumn("eligible", !pick(col("seq"), "gate", 150))
    val states = Seq(HostState("hot.example.com", 0.2, 10.0, 3L), HostState("host-2.example.com", 5.0, 10.0, 1L))
      .toDS().toDF()
    for (c <- Seq(cfg, cfg.copy(maxGlobal = 25))) {
      val flagged = Scheduler.withSchedule(rows, states, c, 10.0, eligible = col("eligible"))
      assert(flagged.count() === rows.count(), "the flag keeps every row")
      val kept = flagged.filter(col(Scheduler.Scheduled)).drop(Scheduler.Scheduled)
      val expected = windowSchedule(rows.filter(col("eligible")), states, c)
      assert(rowsOf(kept) === rowsOf(expected), c)
      if (c.maxGlobal == Int.MaxValue) assert(kept.filter(col("host") === "hot.example.com").count() === 40)
      else assert(kept.count() === 25)
    }
  }

  /** The robots verdict as higher-order array functions over rules
    * collapsed by a distributed aggregation.
    */
  private def arrayAllowed(frontier: DataFrame, rules: DataFrame): DataFrame = {
    val rx = udf((p: String) => Robots.patternToRegex(p))
    val isWild = col("pathPrefix").contains("*") || col("pathPrefix").contains("$")
    val perHost = rules.groupBy(col("host").as("__rhost")).agg(
      collect_list(when(!isWild, struct(col("pathPrefix").as("p"), col("allow").as("a")))).as("__rules"),
      collect_list(when(isWild, struct(rx(col("pathPrefix")).as("rx"),
        length(col("pathPrefix")).as("len"), col("allow").as("a")))).as("__wrules"))
    val withPath = frontier.withColumn("__path",
      concat(Robots.pathCol(col("url")), regexp_extract(col("url"), "^[^#?]*(\\?[^#]*)", 1)))
    def better(acc: Column, len: Column, a: Column): Column =
      when(len > acc.getField("len") || (len === acc.getField("len") && a && !acc.getField("a")),
        struct(len.as("len"), a.as("a"))).otherwise(acc)
    val plainBest = aggregate(filter(col("__rules"), r => startswith(col("__path"), r.getField("p"))),
      struct(lit(-1).as("len"), lit(true).as("a")),
      (acc, r) => better(acc, length(r.getField("p")), r.getField("a")))
    val verdict = aggregate(col("__wrules"), plainBest,
      (acc, r) => when(regexp_like(col("__path"), r.getField("rx")),
        better(acc, r.getField("len"), r.getField("a"))).otherwise(acc)).getField("a")
    withPath.join(perHost, col("host") === col("__rhost"), "left")
      .filter(when(col("__rules").isNull, lit(true)).otherwise(verdict))
      .drop("__rhost", "__rules", "__wrules", "__path")
  }

  test("the robots verdict function keeps the rows the array-function verdict kept") {
    val rules = Seq(
      ("a.com", "/private", false), ("a.com", "/private/open", true),
      ("a.com", "/tie", false), ("a.com", "/tie", true),
      ("a.com", "/*.pdf$", false), ("a.com", "/docs/*.pdf$", true),
      ("a.com", "/*?session=", false), ("b.com", "/", false), ("b.com", "/$", true),
      ("c.com", "/x*y", false))
      .toDF("host", "pathPrefix", "allow")
    val urls = Seq("https://a.com/private/x", "https://a.com/private/open/y", "https://a.com/public",
      "https://a.com/tie/1", "https://a.com/f.pdf", "https://a.com/f.pdf?x=1", "https://a.com/docs/f.pdf",
      "https://a.com/p?session=1", "https://a.com/p#session=1", "https://b.com/", "https://b.com/page",
      "https://c.com/xay", "https://c.com/ya", "https://z.com/anything", "https://a.com")
    val frontier = urls.zipWithIndex.map { case (u, i) => (u, i.toLong) }.toDF("url", "seq")
      .withColumn("host", graft.urls.UrlCols.hostCol(col("url")))
    val got = rowsOf(Robots.allowed(frontier, rules))
    assert(got === rowsOf(arrayAllowed(frontier, rules)))
    assert(got.size > 3 && got.size < urls.size)
    // rules outside driver memory take the distributed collapse
    val onDisk = tmp("rules")
    rules.write.mode("overwrite").parquet(onDisk)
    val fileRules = spark.read.parquet(onDisk)
    assert(!LocalRows.isLocal(fileRules) && LocalRows.isLocal(rules))
    assert(rowsOf(Robots.allowed(frontier, fileRules)) === got)
  }

  test("the Bloom merge writes the filters a typed per-partition build writes") {
    val parts = 8
    val seen = (1L to 3000L).map(i => i * 7919L).toDF("urlHash")
    val delta = (3001L to 3400L).map(i => i * 7919L).toDF("urlHash")
    val dir = tmp("bloomRdd")
    UrlSeen.buildPartitionedBlooms(seen, dir, parts, expectedItemsPerPart = 1024)
    UrlSeen.mergeDeltaIntoPartitionedBlooms(delta, seen.unionByName(delta), dir, parts, capacityPerPart = 1024)
    // the same keys through groupByKey(pm).mapGroups, serialized in memory
    val typed = seen.unionByName(delta).as[Long]
      .groupByKey(h => ((h % parts) + parts) % parts)
      .mapGroups { (pm, hs) =>
        val bf = org.apache.spark.util.sketch.BloomFilter.create(1024L, 0.01)
        hs.foreach(h => bf.putLong(h))
        val out = new java.io.ByteArrayOutputStream()
        bf.writeTo(out)
        (pm, out.toByteArray)
      }
      .collect().toMap
    assert(typed.keySet === (0L until parts).toSet)
    typed.foreach { case (pm, bytes) =>
      assert(Files.readAllBytes(Paths.get(dir, f"bloom-$pm%05d.bin")).sameElements(bytes), pm)
    }
    assert((0L until parts).map(UrlSeen.readSidecarStatic(dir, _)._2).sum === 3400L)
  }
}
