package graft.crawl

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalRows
import org.apache.spark.sql.types.StructType

import graft.checkpoint.{SnapshotStore, TableLog}
import graft.dedup.UrlSeen
import graft.model.{HostState, PolitenessConfig, RatesSchema}
import graft.politeness.{Robots, Scheduler}
import graft.util.{PlanSize, Sessions}

/** The crawl lifecycle (SURVEY.md §3.2 Spark equivalent): resumable
  * micro-batch rounds of
  *
  *   dedup (bloom + exact anti-join) → robots gate → per-host politeness
  *   schedule → fetch-join against the page table → extract → append
  *   rates/seen → atomic snapshot commit
  *
  * replacing Scrapy's reactor loop (dupefilter → robots → scheduler →
  * downloader → parse → pipeline). Every round commits one snapshot via
  * [[SnapshotStore]]; `run` resumes mid-crawl from the last committed round
  * and a resumed run is bit-equivalent to an uninterrupted one.
  *
  * [[crawlRound]] is the only crawl round, and it has two drivers over the
  * state [[loadState]] reads: `run` loops it until the frontier drains, and
  * [[graft.streaming.Streams.processSeedBatch]] runs one per micro-batch.
  */
object CrawlJob {

  /** xxhash64 over the canonical URL — the dedup key (north_rule). */
  private def canonicalCol = graft.expr.Native.canonicalize _

  /** Schemas of the committed snapshot tables (the rates table's is
    * [[graft.model.RatesSchema]]). Every read of a committed table pins its
    * schema, so a resumed round starts no parquet schema-inference job. The
    * frontier's columns follow the caller's frontier; its resume-time read
    * takes the schema Spark stored in the parquet footer.
    */
  private[graft] val SeenSchema = StructType.fromDDL("urlHash BIGINT, url STRING, round INT")
  private[graft] val MetricsSchema = StructType.fromDDL(
    "round INT, host STRING, scheduled BIGINT, dedupDropped BIGINT, offsiteDropped BIGINT, " +
      "robotsDropped BIGINT, fetchMissed BIGINT, errorDropped BIGINT, extractedOk BIGINT")
  private[graft] val LineageSchema = StructType.fromDDL("round INT, table STRING, file STRING, rows BIGINT")
  private[graft] val HostStateSchema = Encoders.product[HostState].schema

  /** Lineage rows, which the driver holds, written as one parquet file by
    * parquet's own writer: no Spark job and no generated class. The
    * parquet schema is the one Spark writes for [[LineageSchema]], so the
    * chain's files merge with those of stores Spark wrote.
    */
  private def writeLineage(spark: SparkSession, dir: String, rows: Seq[(Int, String, String, Long)]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message spark_schema { optional int32 round; optional binary table (STRING); " +
        "optional binary file (STRING); optional int64 rows; }")
    val out = new org.apache.hadoop.fs.Path(dir)
    out.getFileSystem(conf).delete(out, true)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(out, "part-00000.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try rows.foreach { case (round, table, file, n) =>
      writer.write(groups.newGroup().append("round", round).append("table", table).append("file", file).append("rows", n))
    } finally writer.close()
  }

  /** Expand seed combos (card_c, trans_c, date, seq) into frontier rows for
    * one provider, building the byte-exact provider URL (SURVEY.md §2#35-36)
    * as pure column expressions. Provider behavior is resolved from the
    * registry ([[graft.provider.Providers]]) — the spider-auto-discovery
    * dual (client.py:44-46); pass `providers` to extend it.
    */
  def expandSeeds(
      seeds: DataFrame,
      provider: String,
      providers: Seq[graft.provider.Provider] = graft.provider.Providers.registry,
      dedupKey: graft.urls.DedupKey = graft.urls.DedupKey.XxHashCanonical): DataFrame = {
    val p = graft.provider.Providers.byName(provider, providers)
    // one select, so the plan is analysed once; Spark's subexpression
    // elimination evaluates the shared url and canonUrl once a row
    val url = p.urlFor(col("card_c"), col("trans_c"), col("date"))
    val canonUrl = canonicalCol(url) // computed ONCE, carried as data
    seeds.select(
      url.as("url"),
      canonUrl.as("canonUrl"),
      graft.urls.UrlCols.urlHashCol(url, canonUrl, dedupKey).as("urlHash"),
      graft.urls.UrlCols.hostCol(url).as("host"),
      col("card_c"), col("trans_c"), col("date"),
      lit(provider).as("provider"),
      lit(0).as("priority"),
      col("seq"),
      lit(0).as("retries"),
      // request headers ride the row — the typed-column dual of Scrapy's
      // Request(headers=...) (MCSpider.py:67-68); no out-of-band meta
      p.headersFor(col("card_c"), col("trans_c"), col("date")).as("headers"))
  }

  /** Run (or resume) a crawl: load the committed state, then run rounds
    * until the frontier is empty or `maxRounds` rounds are committed.
    *
    * @param frontier0  initial frontier (ignored when resuming)
    * @param pages      the page table (BASELINE.json input_hint shape)
    * @param robots     rules table (host, pathPrefix, allow)
    * @param checkpointDir SnapshotStore root
    * @param roundSec   simulated wall-clock seconds per round (drives the
    *                   token-bucket budget)
    * @param insertBatchRows reference-parity insert batching: when set,
    *                   every committed rates file holds at most this many
    *                   rows (the reference pipeline inserts in 100-row
    *                   batches, pipelines.py) — a compat knob, NOT the
    *                   scale default (round-delta commits)
    * @param allowedDomains offsite filter (Scrapy OffsiteMiddleware /
    *                   `allowed_domains`, reference MCSpider.py:21): when
    *                   non-empty, frontier rows whose host is neither a
    *                   listed domain nor a subdomain of one are dropped
    *                   (and counted as `offsiteDropped`). Empty = no filter,
    *                   like a spider with no allowed_domains.
    * @return (rates, seen, metrics) DataFrames of the final snapshot
    */
  def run(
      spark: SparkSession,
      frontier0: DataFrame,
      pages: DataFrame,
      robots: DataFrame,
      checkpointDir: String,
      cfg: PolitenessConfig = PolitenessConfig(),
      roundSec: Double = 10.0,
      maxRounds: Int = 1000,
      maxRetries: Int = 2,
      allowedDomains: Seq[String] = Nil,
      bloomParts: Int = UrlSeen.DefaultBloomParts,
      compactEvery: Int = TableLog.DefaultCompactEvery,
      insertBatchRows: Option[Int] = None,
      providers: Seq[graft.provider.Provider] = graft.provider.Providers.registry): (DataFrame, DataFrame, DataFrame) =
    restoringJobDescription(spark) {
      var state = loadState(spark, checkpointDir, bloomParts)(_.getOrElse(UrlSeen.dedupWithinBatch(frontier0)))
      val rules = activeRules(Some(robots))
      try {
        while (state.frontierCount > 0 && state.round < maxRounds)
          state = crawlRound(spark, checkpointDir, state, pages, rules, cfg, roundSec, maxRetries,
            allowedDomains, bloomParts, compactEvery, insertBatchRows, providers)
      } finally rules.foreach(_.unpersist())
      (read(spark, RatesSchema, state.ratesPaths), read(spark, SeenSchema, state.seenPaths),
        read(spark, MetricsSchema, state.log.chain("metrics")))
    }

  /** Run `body`, then give the thread back the job description it had:
    * every job a crawl submits carries a "crawl r<N>: <step>" description,
    * and the caller's own comes back on return and on a throw alike.
    */
  private[graft] def restoringJobDescription[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    try body finally sc.setJobDescription(callerDescription)
  }

  /** The robots gate's rules collapsed per host ([[Robots.perHost]]), or
    * None when there are none: no rules at all (common in tests/bench)
    * skips the gate's join subtree every round. Each driver collapses its
    * rules once, never per round: rules that are not already in driver
    * memory are collapsed by a distributed aggregation, cached and counted
    * here, so every round reads the cache and its planner sees the
    * collapsed table's real size when it picks the join. The caller
    * releases them with `unpersist()`.
    */
  private[graft] def activeRules(robots: Option[DataFrame]): Option[DataFrame] =
    robots.filter(r => LocalRows.localRows(r).fold(!r.isEmpty)(_.nonEmpty)).map(Robots.perHost).map { collapsed =>
      if (!LocalRows.isLocal(collapsed)) {
        collapsed.cache()
        try collapsed.count() catch { case e: Throwable => collapsed.unpersist(); throw e }
      }
      collapsed
    }

  /** A crawl's committed state, as one round consumes and produces it.
    * frontier + hostStates are full snapshots (they shrink / stay tiny);
    * seen / rates / metrics / lineage are APPEND-ONLY delta chains of the
    * snapshot's [[TableLog]], so each round writes O(round delta), not
    * O(total state). At 10^10 URLs a full seen-set rewrite per round would
    * dominate everything.
    *
    * @param log           the committed snapshot; its version is the last
    *                      committed round (0 before the first)
    * @param frontierCount rows of `frontier`; it bounds the distinct keys
    *                      the next round adds to the seen set
    * @param hostStateCount rows of `hostStates`
    */
  private[graft] final case class CrawlState(
      log: TableLog,
      frontier: DataFrame,
      frontierCount: Long,
      hostStates: Dataset[HostState],
      hostStateCount: Long) {
    def round: Int = log.version
    def seenPaths: Seq[String] = log.chain("seen")
    def ratesPaths: Seq[String] = log.chain("rates")
  }

  /** A committed table's rows, read with its fixed schema. A table with no
    * paths yet is a scan of an empty directory, so the first round reads
    * its empty tables through the same scans, and the same generated
    * classes, as every later round.
    */
  private def read(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet((if (paths.nonEmpty) paths else {
      java.nio.file.Files.createDirectories(emptyDir) // a temp cleaner may have removed it
      Seq(emptyDir.toUri.toString)
    }): _*)

  private lazy val emptyDir: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty")
    dir.toFile.deleteOnExit()
    dir
  }

  /** Load the committed state in `checkpointDir` (round 0 and empty tables
    * when nothing is committed) and reconcile its Bloom filters with the
    * seen chain ([[UrlSeen.reconcile]]). The
    * loader's jobs are labelled "crawl r<N>: load", and so are any the
    * caller submits before its first round.
    *
    * `frontierOf` gets the committed frontier (None before the first
    * commit) and returns the frontier the next round consumes. The committed
    * frame itself is parquet-backed and counted from its footers: no Spark
    * job. Any other frame is a COMPUTED plan (a within-batch dedup window, a
    * union with new seeds); it is written once beside the snapshot and read
    * back like a committed frontier, so the loop guard and the round's
    * consumers evaluate it once, and every round, the first included, reads
    * its frontier through the same parquet scan and the same generated
    * classes.
    */
  private[graft] def loadState(spark: SparkSession, checkpointDir: String, bloomParts: Int)(
      frontierOf: Option[DataFrame] => DataFrame): CrawlState = {
    import spark.implicits._
    val log = new SnapshotStore(checkpointDir).log()
    spark.sparkContext.setJobDescription(s"crawl r${log.version}: load")
    UrlSeen.reconcile(log, "seen", s"$checkpointDir/blooms", bloomParts)(read(spark, SeenSchema, log.chain("seen")))

    def readFrontier(path: String): (DataFrame, Long) = {
      val footers = PlanSize.footers(spark, Seq(path))
      (footers.flatMap(_.sparkSchema).headOption.fold(spark.read)(spark.read.schema).parquet(path), footers.map(_.rows).sum)
    }
    val committed = log.path("frontier").map(readFrontier)
    val computed = frontierOf(committed.map(_._1))
    val (frontier, frontierCount) = committed.filter(_._1 eq computed).getOrElse {
      val path = log.store.dataPath("frontier-in", log.next)
      computed.write.mode("overwrite").parquet(path)
      readFrontier(path)
    }
    val hostStates = read(spark, HostStateSchema, log.path("hostStates").toSeq).as[HostState]
    val hostStateCount = PlanSize.footers(spark, log.path("hostStates").toSeq).map(_.rows).sum
    CrawlState(log, frontier, frontierCount, hostStates, hostStateCount)
  }

  /** One crawl round over `state`, committed as round `state.round + 1`:
    *
    *   dedup → offsite → robots → politeness schedule → fetch-join →
    *   extract → rates upsert → host states + metrics → concurrent commit
    *   → lineage → compaction → reload
    *
    * `keys` (key set → key) are added in the same atomic commit (the stream
    * records its batch id there). Returns the committed state, read
    * back from the snapshot. The round's kept frames are released on return
    * and on a throw alike. It installs [[LocalRows]] in `spark`'s session,
    * so a local build side (such as local robots rules) is broadcast from
    * the driver whichever driver, main or test made the session.
    *
    * @param robots the per-host rules, None for no robots gate (see
    *               [[activeRules]])
    */
  private[graft] def crawlRound(
      spark: SparkSession,
      checkpointDir: String,
      state: CrawlState,
      pages: DataFrame,
      robots: Option[DataFrame],
      cfg: PolitenessConfig,
      roundSec: Double,
      maxRetries: Int,
      allowedDomains: Seq[String] = Nil,
      bloomParts: Int = UrlSeen.DefaultBloomParts,
      compactEvery: Int = TableLog.DefaultCompactEvery,
      insertBatchRows: Option[Int] = None,
      providers: Seq[graft.provider.Provider] = graft.provider.Providers.registry,
      keys: Map[String, String] = Map.empty): CrawlState = {
    import spark.implicits._
    LocalRows.setup(spark)
    val log = state.log
    val bloomDir = s"$checkpointDir/blooms"
    val sc = spark.sparkContext
    // Every frame the round keeps is a KeptFrame, released in the `finally`
    // below: Spark runs the frame's exchanges when it is defined and its
    // last stage inside the first job that reads it, which stores the rows
    // — no extra job fills a cache, and no plan upstream of it reaches the
    // next job.
    val kept = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    def keepRows(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
      val (frame, rows) = org.apache.spark.sql.graftbridge.KeptFrame(df)
      kept += rows
      (frame, rows)
    }
    def keep(df: DataFrame): DataFrame = keepRows(df)._1

    val round = state.round + 1
    // the round number as a value the generated code reads, not a literal
    // compiled into it: a literal would give the seen and metrics writes new
    // code, and new classes to compile, every round
    val roundCol = udf(() => round).asNondeterministic()()
    val frontier = state.frontier
    def seenDf: DataFrame = read(spark, SeenSchema, state.seenPaths)
    // 1-based registry id (client.py:86-88 seeding order); all provider-
    // specific behavior below routes through the registry, so a new provider
    // never touches this round (the reference's one extension point)
    val providerId = graft.provider.Providers.idCol(col("provider"), providers)
    // a batch crawl's frontier never grows after the within-batch dedup
    // (retry rows replace their own scheduled rows), so this round's
    // frontier bounds the distinct keys any filter created from here on will
    // hold; a stream's frontier grows with each batch's seeds, and a filter
    // it outgrows is rebuilt at doubled capacity on saturation
    val bloomCapacity = UrlSeen.capacityFor(state.frontierCount, bloomParts)
    // a round whose frontier is broadcast-safe broadcasts its probe set and
    // its fetch keys
    val broadcastSafe = PlanSize.broadcastSafe(state.frontierCount)

    try {
      // 1. one tagged pass over the frontier: every row leaves it with its
      //    `__stage` — dedupDropped, offsiteDropped, robotsDropped,
      //    scheduled or deferred. The scheduled rows are the fetch set, the
      //    deferred ones the next frontier, and the per-host counts of all
      //    five are the metrics, so nothing downstream scans the frontier
      //    again.
      //    Dedup: INCREMENTAL partitioned-Bloom prune + exact anti-join
      //    confirm. The per-partition filters were merged with each prior
      //    round's seen DELTA (O(delta)/round, never a full seen rescan; no
      //    driver-sized filter), so per-round dedup cost is flat as the crawl
      //    grows — the 10^10-URL shape. The first round runs the same
      //    subtree over an empty seen set, so every round has one plan shape
      //    and one set of generated classes. Retry rows (retries > 0) BYPASS
      //    the dupefilter — Scrapy re-enqueues retries with dont_filter
      //    semantics, and they are in `seen` already.
      val (fresh, dupes) = UrlSeen.splitSeenPartitionedBloom(
        frontier, seenDf, bloomDir, bloomParts, broadcastSafe, probed = col("retries") === 0)
      //    Offsite (allowed_domains) ranks before robots, as in Scrapy: the
      //    spider middleware drops off-domain requests before they reach
      //    the scheduler/downloader at all. A null verdict drops the row.
      val onSite = if (allowedDomains.isEmpty) lit(true) else Robots.isOnSite(allowedDomains)
      val gated = robots.fold(fresh.withColumn(Robots.Verdict, lit(true)))(Robots.withVerdict(fresh, _))
        .withColumn("__stage",
          when(!coalesce(onSite, lit(false)), lit("offsiteDropped"))
            .when(!coalesce(col(Robots.Verdict), lit(false)), lit("robotsDropped")))
        .drop(Robots.Verdict)
      //    Per-host politeness schedule over the rows every gate passed;
      //    the dropped rows ride along as ineligible rows. A round whose
      //    frontier and host table together fit one task
      //    (PlanSize.fitsOneTask, by rows) is ranked in one task; a larger
      //    one's dropped rows are shuffled only by the schedule's
      //    first stage.
      sc.setJobDescription(s"crawl r$round: extract")
      val (tagged, taggedRows) = keepRows(Scheduler.withSchedule(
        gated.unionByName(dupes.withColumn("__stage", lit("dedupDropped"))),
        state.hostStates.toDF(), cfg, roundSec, eligible = col("__stage").isNull, keep = keep,
        rows = state.frontierCount + state.hostStateCount)
        .withColumn("__stage", coalesce(col("__stage"),
          when(col(Scheduler.Scheduled), lit("scheduled")).otherwise(lit("deferred"))))
        .drop(Scheduler.Scheduled))
      def tagIs(stage: String): Column = col("__stage") === stage
      val sched = tagged.filter(tagIs("scheduled"))

      // 2. "fetch": the scheduled (url, provider) keys meet the page table
      //    — the offline, deterministic stand-in for the downloader
      //    (SURVEY.md §2#19). The keys are broadcast to the pages when the
      //    round is small, so the page table is scanned in place and never
      //    shuffled; extraction runs on the page side, and only its slim
      //    result travels back. Page bodies are KBs per row and are never
      //    cached. MC error pages are dropped (not stored), Visa parse
      //    misses store a null rate (reference parity). Each frontier row
      //    holds its own canonical URL (both drivers dedup it), so each
      //    scheduled row meets exactly its own pages.
      val route = graft.provider.Providers.route(col("__fprov"), providers) _
      val fetchedPages = pages.select(col("url"), col("text"))
        .join(PlanSize.broadcastIf(broadcastSafe)(
            sched.select(col("url").as("__furl"), col("provider").as("__fprov"))),
          col("url") === col("__furl"))
        .select(col("__furl"), col("__fprov"),
          col("text").isNotNull.as("__hit"),
          (col("text").isNotNull && coalesce(route(_.isError(col("text"))), lit(false))).as("__err"),
          route(_.extractRate(col("text"))).as("__rate"))
      //    The kept frame holds every tagged row, so the next frontier and
      //    the per-host counts are one scan of it each: a frontier's urls are
      //    distinct, so a row that was not scheduled meets no page.
      val extracted = keep(tagged
        .join(PlanSize.broadcastIf(broadcastSafe)(fetchedPages),
          col("url") === col("__furl") && col("provider") <=> col("__fprov"), "left")
        .select(frontier.columns.toIndexedSeq.map(col) ++ Seq(
          col("__stage"),
          providerId.as("provider_id"),
          coalesce(col("__hit"), lit(false)).as("hit"),
          coalesce(col("__err"), lit(false)).as("is_err"),
          col("__rate").as("rate")): _*))

      // 3. append rates honoring the unique constraint (orm.py:33-34):
      //    set-difference upsert (duplicate keys within the batch AND vs
      //    prior rounds both excluded), written as this round's delta. The
      //    history probe is bounded by the round: only the keys this round
      //    produced leave the history scan, and a small round broadcasts
      //    them, so the history is never shuffled. A round whose frontier
      //    fits one task dedups its rates in one task, with no exchange.
      val rateKeys = Seq("card_code", "trans_code", "date", "provider_id")
      val parsed = extracted
        .filter(col("hit") && !col("is_err"))
        .select(
          col("card_c").as("card_code"),
          col("trans_c").as("trans_code"),
          col("date"),
          col("provider_id"),
          col("rate"))
      val known = read(spark, RatesSchema, state.ratesPaths).select(rateKeys.map(col): _*)
        .join(PlanSize.broadcastIf(broadcastSafe)(parsed.select(rateKeys.map(col): _*)), rateKeys, "left_semi")
      val newRates = PlanSize.inOneTaskIf(PlanSize.fitsOneTask(state.frontierCount))(parsed).dropDuplicates(rateKeys)
        .join(PlanSize.broadcastIf(broadcastSafe)(known), rateKeys, "left_anti")

      // 4. seen delta = scheduled canonical urls; the next frontier = the
      //    deferred rows plus the fetch misses, which re-enter at priority-1
      //    with retries+1, capped at maxRetries (Scrapy's retry middleware
      //    defaults, SURVEY.md §2#30). The round number travels as DATA in
      //    the seen rows (not as a path position), so per-round provenance
      //    survives delta compaction.
      val seenDelta = sched.select(col("urlHash"), col("canonUrl").as("url"), roundCol.as("round"))
      val retry = tagIs("scheduled")
      val frontier1 = extracted
        .filter(tagIs("deferred") || retry && !col("hit") && col("retries") < maxRetries)
        .select(frontier.columns.toIndexedSeq.map {
          case "priority" => when(retry, col("priority") - 1).otherwise(col("priority")).as("priority")
          case "retries" => when(retry, col("retries") + 1).otherwise(col("retries")).as("retries")
          case c => col(c)
        }: _*)

      // 5. host throttle state + per-round fetch/dedup metrics
      //    (north_rule) in ONE per-host aggregation over the prior states
      //    and the kept fetch result, every count conditional: one shuffle
      //    of (host, stage, outcome) rows, or none when its input (the
      //    frontier plus the host table) fits one task. A stage with no
      //    rows for a host counts 0, never null. The three fetch outcomes
      //    of a scheduled row are mutually exclusive and exhaustive (!hit /
      //    hit∧is_err / hit∧¬is_err).
      //    Metrics rows are the hosts of this round's frontier; host
      //    states are the prior hosts plus the hosts that fetched.
      val outcome = when(tagIs("scheduled"), when(!col("hit"), lit("fetchMissed"))
        .when(col("is_err"), lit("errorDropped")).otherwise(lit("extractedOk")))
      val gateStages = Seq("dedupDropped", "offsiteDropped", "robotsDropped", "scheduled", "deferred")
      val outcomes = Seq("fetchMissed", "errorDropped", "extractedOk")
      sc.setJobDescription(s"crawl r$round: hosts")
      val perHost = keep(PlanSize.inOneTaskIf(PlanSize.fitsOneTask(state.frontierCount + state.hostStateCount))(
        state.hostStates.toDF()
        .unionByName(extracted.select(col("host"), col("__stage"), outcome.as("__outcome")),
          allowMissingColumns = true))
        .groupBy("host")
        .agg(count("delaySec").as("__prior"),
          Scheduler.hostStateAggs(count(when(tagIs("scheduled"), 1))) ++
            gateStages.map(s => count(when(tagIs(s), 1)).as(s)) ++
            outcomes.map(s => count(when(col("__outcome") === s, 1)).as(s)): _*))
      val hostStates1 = Scheduler.nextHostStates(
        perHost.filter(col("__prior") > 0 || col("__f") > 0), cfg, round, roundSec)
      val metricsDelta = perHost
        .filter(gateStages.map(col).reduce(_ + _) > 0)
        .select(roundCol.as("round") +: col("host") +: col("scheduled") +:
          (gateStages.take(3) ++ outcomes).map(col): _*)

      // 6. atomic snapshot commit — write data files, then swap manifest.
      //    Append-only tables write only this round's delta; the manifest
      //    names the full delta chain (Iceberg manifest-list analogue).
      //    The five data writes and the Bloom merge are independent, so
      //    each is a future and Spark's scheduler interleaves their jobs
      //    across the executor pool. The futures run on Scala's global
      //    execution context, one thread per core: with fewer than six
      //    cores the last ones start when a thread frees. The rates upsert
      //    is submitted first: it is the phase's longest chain (a key
      //    broadcast, the history probe, then the write).
      def persist(name: String, df: DataFrame): Future[String] =
        Sessions.submit(sc, s"crawl r$round: write $name") {
          val p = log.store.dataPath(name, round)
          // reference-parity insert batching (§2#23, pipelines.py's 100-row
          // executemany chunks): when enabled, each committed RATES file
          // holds at most `insertBatchRows` rows — the storage-layer twin of
          // the reference's batched inserts. Off by default: at 10^10 URLs
          // the round delta is the right commit unit, and a literal 100-row
          // chunking would explode the file count; the knob exists for
          // byte-level compat, not as the scale path.
          val w = insertBatchRows match {
            case Some(n) if name == "rates" =>
              df.write.option("maxRecordsPerFile", n.toLong)
            case _ => df.write
          }
          w.mode("overwrite").parquet(p)
          p
        }
      // incremental Bloom maintenance rides the same concurrent write phase
      // (it reads only the kept tagged frame) and, like the data writes,
      // completes BEFORE the manifest commit — the superset invariant (see
      // UrlSeen.reconcile). Merge only this round's FIRST-TRY
      // scheduled keys: O(delta), flat per round; retry rows are skipped
      // (their hash entered the filter in the round that first scheduled
      // them, and re-adding would inflate the saturation counters). The
      // rebuild source (old seen ∪ this delta) is touched only if a
      // partition saturates and must be rebuilt at doubled capacity.
      // The keys are read off the kept tagged rows by ordinal: no plan, so
      // no generated class.
      val Seq(stageAt, retriesAt, hashAt) = Seq("__stage", "retries", "urlHash").map(tagged.schema.fieldIndex)
      val scheduled = org.apache.spark.unsafe.types.UTF8String.fromString("scheduled")
      val firstTryKeys = taggedRows
        .filter(r => r.getUTF8String(stageAt) == scheduled && !r.isNullAt(retriesAt) && r.getInt(retriesAt) == 0)
        .map(_.getLong(hashAt))
      val ratesWrite = persist("rates", newRates)
      val bloomMerge = Sessions.submit(sc, s"crawl r$round: bloom merge") {
        UrlSeen.mergeDeltaKeys(
          firstTryKeys,
          seenDf.select("urlHash").unionByName(sched.filter(col("retries") === 0).select(col("urlHash"))),
          bloomDir, bloomParts, bloomCapacity, Some(round))
        "blooms"
      }
      val writes = Future.sequence(Seq(
        ratesWrite,
        bloomMerge,
        persist("frontier", frontier1),
        persist("hostStates", hostStates1.toDF()),
        persist("seen", seenDelta),
        persist("metrics", metricsDelta)))
      val Seq(ratesPath, _, frontierPath, hostStatesPath, seenPath, metricsPath) =
        Await.result(writes, Duration.Inf)

      // per-partition lineage (north_rule): file-granular row counts of
      // every data file this round committed, written alongside the data —
      // the manifest-entry content of an Iceberg snapshot. Row counts come
      // from the PARQUET FOOTERS of the just-written files (driver-side
      // metadata reads — the Iceberg manifest construction), NOT from
      // re-scanning the tables: the previous shape ran one
      // groupBy(input_file_name) job per table per round — three extra
      // Spark jobs + shuffles whose answer the writer's own file metadata
      // already held. File count per round delta is bounded by the write
      // parallelism, so this is O(files) footer opens, never O(rows).
      // The (file-granular ⇒ tiny by construction) result serves double
      // duty: it IS the lineage delta, and its frontier rows sum to the
      // next round's frontier count — saving a full frontier re-scan per
      // round just to decide loop termination.
      val lineageRows = for {
        (name, p) <- Seq(("frontier", frontierPath), ("seen", seenPath), ("rates", ratesPath))
        f <- PlanSize.footers(spark, Seq(p)) if f.rows > 0 // 0-row part files never appeared under input_file_name either
      } yield (round, name, f.path.toString, f.rows)
      val lineagePath = log.store.dataPath("lineage", round)
      writeLineage(spark, lineagePath, lineageRows)

      // delta-chain compaction by the table log's rule, every
      // `compactEvery` rounds. Per-round provenance is preserved because
      // every append-only row carries its `round` as data. A small chain
      // is merged on the driver by copying its files' column chunks, with no
      // job (see TableLog.compact); larger ones are rewritten by Spark. The
      // four chains are independent and are compacted concurrently, like
      // the data writes above.
      val deltas = Seq(
        ("seen", SeenSchema, seenPath),
        ("rates", RatesSchema, ratesPath),
        ("metrics", MetricsSchema, metricsPath),
        ("lineage", LineageSchema, lineagePath))
      val chains = Await.result(Future.sequence(deltas.map { case (name, schema, delta) =>
        Sessions.submit(sc, s"crawl r$round: compact $name") {
          name -> log.compact(name, log.chain(name) :+ delta, compactEvery)(read(spark, schema, _))
        }
      }), Duration.Inf)
      val committed = log.commit(
        paths = Map("frontier" -> frontierPath, "hostStates" -> hostStatesPath), chains = chains.toMap, keys = keys)

      // reload from the committed snapshot: truncates lineage so plans don't
      // grow unboundedly across rounds (the iterative-algorithm idiom). The
      // frontier is read with the schema it was just written with.
      CrawlState(
        committed,
        spark.read.schema(frontier1.schema).parquet(frontierPath),
        lineageRows.filter(_._2 == "frontier").map(_._4).sum,
        read(spark, HostStateSchema, Seq(hostStatesPath)).as[HostState],
        PlanSize.footers(spark, Seq(hostStatesPath)).map(_.rows).sum)
    } finally kept.foreach(_.unpersist())
  }
}
