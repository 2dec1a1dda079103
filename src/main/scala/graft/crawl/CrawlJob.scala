package graft.crawl

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.checkpoint.SnapshotStore
import graft.dedup.UrlSeen
import graft.model.{HostState, PolitenessConfig}
import graft.politeness.{Robots, Scheduler}

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

  /** Schemas of the committed snapshot tables. Every read of a committed
    * table pins its schema, so a resumed round starts no parquet
    * schema-inference job. Only the resume-time frontier read infers: its
    * columns follow the caller's frontier.
    */
  private[graft] val RatesSchema =
    StructType.fromDDL("card_code STRING, trans_code STRING, date DATE, provider_id INT, rate DOUBLE")
  private[graft] val SeenSchema = StructType.fromDDL("urlHash BIGINT, url STRING, round INT")
  private[graft] val MetricsSchema = StructType.fromDDL(
    "round INT, host STRING, scheduled BIGINT, dedupDropped BIGINT, offsiteDropped BIGINT, " +
      "robotsDropped BIGINT, fetchMissed BIGINT, errorDropped BIGINT, extractedOk BIGINT")
  private[graft] val LineageSchema = StructType.fromDDL("round INT, table STRING, file STRING, rows BIGINT")
  private[graft] val HostStateSchema = Encoders.product[HostState].schema

  /** (file, rows) of every parquet file in the directory `dir`, read from
    * the footers: metadata reads in this JVM, no Spark job.
    */
  private def parquetRowCounts(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(conf).listStatus(path).toIndexedSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        (st.getPath.toString, try r.getRecordCount finally r.close())
      }
  }

  /** Host column — see [[graft.urls.UrlCols.hostCol]] (shared with the
    * robots rule table so frontier hosts and rule hosts derive identically).
    */
  def hostCol(url: Column): Column = graft.urls.UrlCols.hostCol(url)

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
    seeds
      .withColumn("url", p.urlFor(col("card_c"), col("trans_c"), col("date")))
      .withColumn("canonUrl", canonicalCol(col("url"))) // computed ONCE, carried as data
      .withColumn("urlHash", graft.urls.UrlCols.urlHashCol(col("url"), col("canonUrl"), dedupKey))
      .withColumn("host", hostCol(col("url")))
      .withColumn("provider", lit(provider))
      .withColumn("priority", lit(0))
      .withColumn("retries", lit(0))
      // request headers ride the row — the typed-column dual of Scrapy's
      // Request(headers=...) (MCSpider.py:67-68); no out-of-band meta
      .withColumn("headers", p.headersFor(col("card_c"), col("trans_c"), col("date")))
      .select("url", "canonUrl", "urlHash", "host", "card_c", "trans_c", "date", "provider", "priority", "seq", "retries", "headers")
  }

  /** Defaults [[run]] and the stream driver share: Bloom filter partitions,
    * and rounds between delta-chain compactions.
    */
  private[graft] val DefaultBloomParts = 32
  private[graft] val DefaultCompactEvery = 64

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
      bloomParts: Int = DefaultBloomParts,
      compactEvery: Int = DefaultCompactEvery,
      insertBatchRows: Option[Int] = None,
      providers: Seq[graft.provider.Provider] = graft.provider.Providers.registry): (DataFrame, DataFrame, DataFrame) =
    restoringJobDescription(spark) {
      val loaded = loadState(spark, checkpointDir, bloomParts)(_.getOrElse(UrlSeen.dedupWithinBatch(frontier0)))
      val rules = activeRules(Some(robots))
      var state = loaded
      try {
        while (state.frontierCount > 0 && state.round < maxRounds)
          state = crawlRound(spark, checkpointDir, state, pages, rules, cfg, roundSec, maxRetries,
            allowedDomains, bloomParts, compactEvery, insertBatchRows, providers)
      } finally loaded.frontier.unpersist() // cached by loadState when computed; a no-op otherwise
      (read(spark, RatesSchema, state.ratesPaths), read(spark, SeenSchema, state.seenPaths),
        read(spark, MetricsSchema, state.metricsPaths))
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

  /** The robots gate's rules, or None when there are none: no rules at all
    * (common in tests/bench) skips the gate's join subtree every round. Each
    * driver decides this once, never per round.
    */
  private[graft] def activeRules(robots: Option[DataFrame]): Option[DataFrame] = robots.filter(!_.isEmpty)

  /** A crawl's committed state, as one round consumes and produces it.
    * frontier + hostStates are full snapshots (they shrink / stay tiny);
    * seen / rates / metrics / lineage are APPEND-ONLY and stored as
    * per-round delta files — the manifest carries the ';'-joined delta path
    * list, so each round writes O(round delta), not O(total state). At
    * 10^10 URLs a full seen-set rewrite per round would dominate everything.
    *
    * @param round         the last committed round (0 before the first)
    * @param frontierCount rows of `frontier`; it bounds the distinct keys
    *                      the next round adds to the seen set
    */
  private[graft] final case class CrawlState(
      round: Int,
      frontier: DataFrame,
      frontierCount: Long,
      hostStates: Dataset[HostState],
      seenPaths: Seq[String],
      ratesPaths: Seq[String],
      metricsPaths: Seq[String],
      lineagePaths: Seq[String])

  private def read(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    if (paths.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)

  /** Load the committed state in `checkpointDir` (round 0 and empty tables
    * when nothing is committed) and reconcile its Bloom sidecar. The
    * loader's jobs are labelled "crawl r<N>: load", and so are any the
    * caller submits before its first round.
    *
    * `frontierOf` gets the committed frontier (None before the first
    * commit) and returns the frontier the next round consumes. The committed
    * frame itself is parquet-backed and counted from its footers: no Spark
    * job. Any other frame is a COMPUTED plan (a within-batch dedup window, a
    * union with new seeds); it is cached and counted here, so the loop guard
    * and the round's consumers evaluate it once, and the round that consumes
    * it releases it.
    */
  private[graft] def loadState(spark: SparkSession, checkpointDir: String, bloomParts: Int)(
      frontierOf: Option[DataFrame] => DataFrame): CrawlState = {
    import spark.implicits._
    val resume = new SnapshotStore(checkpointDir).readCurrent()
    val round = resume.map(_._1).getOrElse(0)
    val manifest = resume.map(_._2).getOrElse(Map.empty[String, String])
    spark.sparkContext.setJobDescription(s"crawl r$round: load")
    def chain(key: String): Seq[String] =
      manifest.get(key).map(_.split(";").toIndexedSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val seenPaths = chain("seen")

    // reconcile the partitioned-Bloom sidecar state with the committed
    // snapshot: the filters are merged BEFORE each manifest commit, so
    // marker ≥ committed round ⇒ filters ⊇ seen (extra keys are harmless —
    // the exact anti-join confirms). A marker BEHIND the committed round
    // (legacy checkpoint layout, manual surgery, a foreign commit) breaks
    // that superset invariant, so rebuild once from the committed seen set.
    val bloomDir = s"$checkpointDir/blooms"
    if (round > 0 && UrlSeen.readBloomRound(bloomDir).forall(_ < round)) {
      if (seenPaths.nonEmpty) {
        // rebuild from DISTINCT keys: retry rows re-append the same urlHash
        // each round, so raw row counts would inflate the saturation sidecars
        // and trigger premature doubled-capacity rebuilds (the merge path
        // already dedups via distinct() — keep both paths consistent)
        val distinctKeys = read(spark, SeenSchema, seenPaths).select("urlHash").distinct()
        val seenCount = distinctKeys.count()
        UrlSeen.buildPartitionedBlooms(
          distinctKeys, bloomDir, bloomParts, UrlSeen.capacityFor(seenCount, bloomParts))
      }
      UrlSeen.writeBloomRound(bloomDir, round)
    }

    val committed = manifest.get("frontier").map(spark.read.parquet(_))
    val frontier = frontierOf(committed)
    val frontierCount =
      if (committed.exists(_ eq frontier)) parquetRowCounts(spark, manifest("frontier")).map(_._2).sum
      else {
        frontier.cache()
        try frontier.count() catch { case e: Throwable => frontier.unpersist(); throw e }
      }
    val hostStates = manifest.get("hostStates")
      .map(p => read(spark, HostStateSchema, Seq(p)).as[HostState])
      .getOrElse(spark.emptyDataset[HostState])
    CrawlState(round, frontier, frontierCount, hostStates,
      seenPaths, chain("rates"), chain("metrics"), chain("lineage"))
  }

  /** One crawl round over `state`, committed as round `state.round + 1`:
    *
    *   dedup → offsite → robots → politeness schedule → fetch-join →
    *   extract → rates upsert → host states + metrics → concurrent commit
    *   → lineage → compaction → reload
    *
    * `extraTables` are merged into the same atomic manifest commit (the
    * stream records its batch ids there). Returns the committed state, read
    * back from the snapshot. The round's caches, and the consumed frontier's,
    * are released on return and on a throw alike.
    *
    * @param robots the rules, None for no robots gate (see [[activeRules]])
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
      bloomParts: Int = DefaultBloomParts,
      compactEvery: Int = DefaultCompactEvery,
      insertBatchRows: Option[Int] = None,
      providers: Seq[graft.provider.Provider] = graft.provider.Providers.registry,
      extraTables: Map[String, String] = Map.empty): CrawlState = {
    import spark.implicits._
    val store = new SnapshotStore(checkpointDir)
    val bloomDir = s"$checkpointDir/blooms"
    val sc = spark.sparkContext
    // A job submitted from a pool thread. The description is thread-local,
    // so it is set inside the future, and cleared after it so the pool
    // thread carries no stale label into its next task.
    def submit[T](description: String)(body: => T): Future[T] =
      Future {
        sc.setJobDescription(description)
        try body finally sc.setJobDescription(null)
      }
    // every frame this round caches, released in the `finally` below; the
    // consumed frontier is among them (a no-op unless loadState cached it)
    val cached = scala.collection.mutable.ArrayBuffer(state.frontier)
    def cache(df: DataFrame): DataFrame = { cached += df; df.cache() }

    val round = state.round + 1
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

    try {
      // 1. dedup against the seen set — INCREMENTAL partitioned-Bloom prune
      //    + exact anti-join confirm. The per-partition filters were merged
      //    with each prior round's seen DELTA (O(delta)/round, never a full
      //    seen rescan; no driver-sized filter), so per-round dedup cost is
      //    flat as the crawl grows — the 10^10-URL shape. Nothing seen yet
      //    (first round) ⇒ skip the whole dedup subtree.
      //    Retry rows (retries > 0) BYPASS the dupefilter — Scrapy re-enqueues
      //    retries with dont_filter semantics, and they are in `seen` already.
      // nothing seen yet ⇒ `fresh` IS the frontier frame, which loadState
      // caches when it is computed — re-caching the same plan is a no-op
      // that logs a CacheManager warning; only the computed dedup output is
      // a new frame needing its own cache
      val fresh =
        if (state.seenPaths.isEmpty) frontier
        else {
          val firstTry = frontier.filter(col("retries") === 0)
          val retries = frontier.filter(col("retries") > 0)
          // smallProbe: the bloom-pruned probe set is at most frontier-sized
          // (frontierCount is the conservative upper bound for it), so below
          // the broadcast-safety bound (~2M rows ≈ low hundreds of MB of
          // (hash, url)) the seen table is scanned once and never shuffled
          // (see filterNewPartitionedBloom)
          cache(UrlSeen.filterNewPartitionedBloom(firstTry, seenDf, bloomDir, bloomParts,
            smallProbe = state.frontierCount <= 2000000L)
            .unionByName(retries))
        }
      // 2. offsite filter (allowed_domains) then robots gate; cached — the
      //    surviving frontier feeds both the scheduler and the next-round
      //    frontier anti-join. Offsite runs first, as in Scrapy: the spider
      //    middleware drops off-domain requests before they reach the
      //    scheduler/downloader at all.
      // cache only NEW frames: a skipped gate passes the previous frame
      // through, and re-caching it is a no-op that logs a CacheManager
      // warning every round
      val onsiteF =
        if (allowedDomains.isEmpty) fresh else cache(Robots.onSite(fresh, allowedDomains))
      val allowedF = robots.fold(onsiteF)(rules => cache(Robots.allowed(onsiteF, rules)))
      // 3. per-host politeness schedule
      val sched = cache(Scheduler.scheduleRound(allowedF, state.hostStates.toDF(), cfg, roundSec))
      // sched (and every cached frame upstream of it) is materialized by
      // the single `extracted.count()` action below, BEFORE the concurrent
      // write phase — cache blocks fill as the extraction pass scans them,
      // so the concurrent downstream actions (which would each recompute
      // the whole dedup→robots→schedule chain on a cold cache — AQE
      // compiles a fresh physical plan per action; only materialized cache
      // blocks are shared) all hit warm caches. One action per round for
      // the whole chain, not two (r07: a separate sched.count() here paid
      // an extra pass over the schedule plan every round).

      // 4. "fetch": equi-join against the page table on url — the offline,
      //    deterministic stand-in for the downloader (SURVEY.md §2#19).
      //    Deliberately NOT cached: page bodies are KBs per row; we stream
      //    them once through extraction and cache only the slim result.
      //    SHUFFLE_HASH hint with the slim schedule as build side: a
      //    sort-merge join would SORT the KB-per-row page partitions —
      //    thread dumps showed that copyMemory-heavy sort dominating the
      //    round. Hash-probing streams the fat side untouched.
      val fetched = sched.hint("shuffle_hash")
        .join(pages.select(col("url"), col("text")), Seq("url"), "left")

      // 5. extract per provider in ONE pass over the page text; MC error
      //    pages are dropped (not stored), Visa parse misses store a null
      //    rate (reference parity). The text column is gone after this.
      //    `headers` is OPTIONAL on frontier rows (expandSeeds emits it;
      //    direct frontier builders like the bench workload need not) —
      //    when present it must survive extraction so retry rows re-enter
      //    the frontier with their request headers intact.
      val carryCols =
        Seq("url", "canonUrl", "urlHash", "host", "card_c", "trans_c", "date",
          "provider", "priority", "seq", "retries") ++
          (if (frontier.columns.contains("headers")) Seq("headers") else Nil)
      val extracted = cache(fetched.select(
        carryCols.map(col) ++ Seq(
          providerId.as("provider_id"),
          col("text").isNotNull.as("hit"),
          (col("text").isNotNull && coalesce(
            graft.provider.Providers.route(col("provider"), providers)(_.isError(col("text"))),
            lit(false))).as("is_err"),
          graft.provider.Providers.route(col("provider"), providers)(_.extractRate(col("text")))
            .as("rate")): _*))
      sc.setJobDescription(s"crawl r$round: extract")
      extracted.count() // one streaming pass fills the (slim) cache

      // 6. append rates honoring the unique constraint (orm.py:33-34):
      //    set-difference upsert (duplicate keys within the batch AND vs
      //    prior rounds both excluded), written as this round's delta
      val parsed = extracted
        .filter(col("hit") && !col("is_err"))
        .select(
          col("card_c").as("card_code"),
          col("trans_c").as("trans_code"),
          col("date"),
          col("provider_id"),
          col("rate"))
        .dropDuplicates("card_code", "trans_code", "date", "provider_id")
      val newRates = parsed.join(
        read(spark, RatesSchema, state.ratesPaths).select("card_code", "trans_code", "date", "provider_id"),
        Seq("card_code", "trans_code", "date", "provider_id"), "left_anti")

      // 7. seen delta = scheduled canonical urls; frontier -= scheduled
      //    (dedup-dropped and robots-dropped rows leave the frontier too —
      //    frontier1 derives from allowedF). Fetch misses re-enter at
      //    priority-1 with retries+1, capped at maxRetries (Scrapy's retry
      //    middleware defaults, SURVEY.md §2#30).
      // the round number travels as DATA in the seen rows (not as a path
      // position), so per-round provenance survives delta compaction
      val seenDelta = sched.select(col("urlHash"), col("canonUrl").as("url"), lit(round).as("round"))
      val retryRows = extracted
        .filter(!col("hit") && col("retries") < maxRetries)
        .select(carryCols.map {
          case "priority" => (col("priority") - 1).as("priority")
          case "retries" => (col("retries") + 1).as("retries")
          case c => col(c)
        }: _*)
      val frontier1 = allowedF
        .join(sched.select("urlHash", "canonUrl"), Seq("urlHash", "canonUrl"), "left_anti")
        .unionByName(retryRows)

      // 8. host throttle state + per-round fetch/dedup metrics
      //    (north_rule). All aggregations run over slim cached frames.
      val hostStates1 = Scheduler.updateHostStates(sched, state.hostStates, cfg, round, roundSec)
      // ALL per-host stage counts in ONE aggregation: tag each (cached,
      // slim) stage frame with its name, union, and count each stage with a
      // conditional count in one groupBy(host) — one shuffle of (host,
      // stage) rows instead of 8 groupBys + 7 full_outer joins, and one
      // fewer than a pivot, which aggregates by (host, stage) first. A
      // stage with no rows for a host counts 0, never null.
      // Two scan collapses (r07):
      //  - a pass-through gate (first round's dedup, no allowed_domains,
      //    empty robots) returns its INPUT FRAME unchanged; consecutive
      //    stages sharing one frame (reference identity) emit all their
      //    labels from ONE scan instead of re-scanning the same cached
      //    blocks per label;
      //  - the three fetch outcomes are mutually exclusive and exhaustive
      //    (!hit / hit∧is_err / hit∧¬is_err), so one labeled scan of
      //    `extracted` replaces three filtered ones.
      val stages = Seq("entered", "postDedup", "postOffsite", "postRobots",
        "scheduled", "fetchMissed", "errorDropped", "extractedOk")
      def tag(df: DataFrame, stage: String): DataFrame =
        df.select(col("host"), lit(stage).as("__stage"))
      val gateTagged = {
        val chain = Seq("entered" -> frontier, "postDedup" -> fresh,
          "postOffsite" -> onsiteF, "postRobots" -> allowedF)
        val groups = scala.collection.mutable.ArrayBuffer
          .empty[(DataFrame, scala.collection.mutable.ArrayBuffer[String])]
        chain.foreach { case (nm, df) =>
          if (groups.nonEmpty && (groups.last._1 eq df)) groups.last._2 += nm
          else groups += ((df, scala.collection.mutable.ArrayBuffer(nm)))
        }
        groups.map { case (df, names) =>
          if (names.length == 1) tag(df, names.head)
          else df.select(col("host"),
            explode(array(names.toSeq.map(lit): _*)).as("__stage"))
        }.reduce(_ unionAll _)
      }
      val extractedTagged = extracted.select(col("host"),
        when(!col("hit"), lit("fetchMissed"))
          .when(col("is_err"), lit("errorDropped"))
          .otherwise(lit("extractedOk")).as("__stage"))
      val stageCounts = stages.map(s => count(when(col("__stage") === s, 1)).as(s))
      val metricsDelta = gateTagged
        .unionAll(tag(sched, "scheduled"))
        .unionAll(extractedTagged)
        .groupBy("host").agg(stageCounts.head, stageCounts.tail: _*)
        .select(
          lit(round).as("round"), col("host"), col("scheduled"),
          (col("entered") - col("postDedup")).as("dedupDropped"),
          (col("postDedup") - col("postOffsite")).as("offsiteDropped"),
          (col("postOffsite") - col("postRobots")).as("robotsDropped"),
          col("fetchMissed"), col("errorDropped"), col("extractedOk"))

      // 9. atomic snapshot commit — write data files, then swap manifest.
      //    Append-only tables write only this round's delta; the manifest
      //    names the full delta chain (Iceberg manifest-list analogue).
      //    The five data writes and the Bloom merge are independent —
      //    submit all six concurrently so the round pays one write latency,
      //    not six (Spark's scheduler interleaves the jobs across the
      //    executor pool).
      def persist(name: String, df: DataFrame): Future[String] = submit(s"crawl r$round: write $name") {
        val p = store.dataPath(name, round)
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
      // (it reads only the cached slim schedule) and, like the data writes,
      // completes BEFORE the manifest commit — the superset invariant (see
      // the reconcile note in loadState). Merge only this round's FIRST-TRY
      // scheduled keys: O(delta), flat per round; retry rows are skipped
      // (their hash entered the filter in the round that first scheduled
      // them, and re-adding would inflate the saturation counters). The
      // rebuild source (old seen ∪ this delta) is touched only if a
      // partition saturates and must be rebuilt at doubled capacity.
      val firstTryKeys = sched.filter(col("retries") === 0).select(col("urlHash"))
      val bloomMerge = submit(s"crawl r$round: bloom merge") {
        UrlSeen.mergeDeltaIntoPartitionedBlooms(
          firstTryKeys,
          seenDf.select("urlHash").unionByName(firstTryKeys),
          bloomDir, bloomParts, bloomCapacity)
        UrlSeen.writeBloomRound(bloomDir, round)
        "blooms"
      }
      val writes = Future.sequence(Seq(
        persist("frontier", frontier1),
        persist("hostStates", hostStates1.toDF()),
        persist("seen", seenDelta),
        persist("rates", newRates),
        persist("metrics", metricsDelta),
        bloomMerge))
      val Seq(frontierPath, hostStatesPath, seenPath, ratesPath, metricsPath, _) =
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
      val lineageRows: Array[org.apache.spark.sql.Row] = Seq(
        ("frontier", frontierPath), ("seen", seenPath), ("rates", ratesPath))
        .flatMap { case (name, p) =>
          parquetRowCounts(spark, p)
            .filter(_._2 > 0) // 0-row part files never appeared under input_file_name either
            .map { case (f, n) =>
              org.apache.spark.sql.Row(round, name, f, n)
            }
        }.toArray
      val lineagePath = store.dataPath("lineage", round)
      sc.setJobDescription(s"crawl r$round: lineage")
      spark.createDataFrame(
        java.util.Arrays.asList(lineageRows: _*), LineageSchema)
        .write.mode("overwrite").parquet(lineagePath)

      // periodic delta-chain compaction (Iceberg rewrite-data-files
      // analogue): every `compactEvery` rounds each append-only chain is
      // rewritten as ONE fileset and the manifest shortened — otherwise a
      // long crawl re-lists/reopens thousands of delta paths per round.
      // Amortized O(total/compactEvery) per round; old files stay on disk
      // (prior snapshots remain readable), and a crash before the commit
      // just leaves the previous manifest pointing at the uncompacted chain.
      // Per-round provenance is preserved because every append-only row
      // carries its `round` as data. The four chains are independent and
      // are rewritten concurrently, like the data writes above.
      val chains = Seq(
        ("seen", SeenSchema, state.seenPaths :+ seenPath),
        ("rates", RatesSchema, state.ratesPaths :+ ratesPath),
        ("metrics", MetricsSchema, state.metricsPaths :+ metricsPath),
        ("lineage", LineageSchema, state.lineagePaths :+ lineagePath))
      def compact(name: String, schema: StructType, paths: Seq[String]): Future[Seq[String]] =
        if (paths.size <= 1) Future.successful(paths)
        else submit(s"crawl r$round: compact $name") {
          val p = store.dataPath(s"$name-compacted", round)
          read(spark, schema, paths).write.mode("overwrite").parquet(p)
          Seq(p)
        }
      val Seq(seenPaths, ratesPaths, metricsPaths, lineagePaths) =
        if (compactEvery > 0 && round % compactEvery == 0)
          Await.result(Future.sequence(chains.map((compact _).tupled)), Duration.Inf)
        else chains.map(_._3)

      // carry foreign tables (e.g. a persisted IVF model,
      // Ann.saveCentroids) forward from the previous snapshot: committers
      // share one store, and a commit that rebuilt the manifest from
      // scratch would silently DROP every table it doesn't own from the
      // current snapshot
      val priorTables = store.readCurrent().map(_._2).getOrElse(Map.empty)
      store.commit(round, priorTables ++ Map(
        "frontier" -> frontierPath,
        "hostStates" -> hostStatesPath,
        "seen" -> seenPaths.mkString(";"),
        "rates" -> ratesPaths.mkString(";"),
        "metrics" -> metricsPaths.mkString(";"),
        "lineage" -> lineagePaths.mkString(";")) ++ extraTables)

      // reload from the committed snapshot: truncates lineage so plans don't
      // grow unboundedly across rounds (the iterative-algorithm idiom). The
      // frontier is read with the schema it was just written with.
      CrawlState(
        round,
        spark.read.schema(frontier1.schema).parquet(frontierPath),
        lineageRows.filter(_.getString(1) == "frontier").map(_.getLong(3)).sum,
        read(spark, HostStateSchema, Seq(hostStatesPath)).as[HostState],
        seenPaths, ratesPaths, metricsPaths, lineagePaths)
    } finally cached.foreach(_.unpersist())
  }
}
