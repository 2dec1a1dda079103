package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §1.4 streaming note).
  *
  * The crawl loop itself runs as resumable micro-batch rounds over
  * snapshot tables (CrawlJob) — that is what the north rule's
  * "Structured-Streaming-style checkpointing" asks for. This module covers
  * the genuinely streaming shapes a production deployment adds around it:
  *
  *  - frontier ingest: `readStream` over arriving seed-CSV shards →
  *    canonicalize/key → append (the streaming edge of the planner)
  *  - fetch-event analytics: watermarked tumbling-window aggregates
  *  - per-host politeness sessions: `flatMapGroupsWithState` keeping the
  *    token-bucket state keyed by host — the streaming dual of
  *    Scheduler.updateHostStates
  *
  * Everything here is transformation-only (unbound to a sink) so tests can
  * drive it with MemoryStream and production can bind kafka/files.
  */
object Streams {

  /** Streaming frontier ingest: seed rows arriving as headerless CSV text
    * (card_c,trans_c,date dd/MM/yyyy — the reference crawl-input dialect)
    * → typed, keyed frontier rows. Input may be `spark.readStream.csv(dir)`.
    *
    * Malformed rows (unparsable date, missing fields — e.g. a stray header
    * line) are DROPPED here, not passed through: under ANSI mode a bare
    * to_date THROWS on bad input (and pre-ANSI, the null date became a null
    * URL), either way poisoning the micro-batch — and a failed batch is
    * replayed from the source log forever, so one bad seed row would wedge
    * the whole stream. try_to_date + the null filter quarantines them.
    */
  def ingestSeeds(raw: DataFrame): DataFrame = {
    raw.select(
      col("card_c"), col("trans_c"),
      try_to_date(col("date"), "dd/MM/yyyy").as("date"))
      .filter(col("card_c").isNotNull && col("trans_c").isNotNull && col("date").isNotNull)
  }

  /** Streaming corpus cleanup — the streaming dual of
    * [[graft.pipeline.Corpus.clean]] for a document INGEST stream
    * (ts TIMESTAMP, doc_id, text, …): the same row-local verdict kernels
    * (token bounds, language ID, quality bands, the opt-in Gopher
    * repetition rung — literally shared code,
    * `Corpus.rowVerdicts`, so batch and stream can never disagree on a
    * verdict), then exact dedup of the in-flight window via
    * `dropDuplicatesWithinWatermark` on the md5/128-bit content identity.
    *
    * Contract differences vs the batch form, stated honestly: the stream
    * emits SURVIVORS (docs passing every filter, first copy only) rather
    * than tagging every doc with a reason — a streaming drop is a drop;
    * and the surviving duplicate is the first to ARRIVE inside the
    * watermark horizon (arrival order — the batch passing-first/min-id
    * rule needs the whole partition). Near-dup cluster removal stays a
    * batch job by nature: connected components are a global fixed point,
    * not a per-row verdict. Division of labor at scale: this stage exactly
    * dedups the in-flight window with watermark-bounded state; the
    * accumulated corpus store, through [[graft.dedup.UrlSeen]], remains
    * the unbounded-horizon dedup the survivors are checked against on
    * append ([[corpusIngest]]).
    *
    * @return the cleaned stream: every input column plus
    *         (n_tokens, pred_lang, quality)
    */
  def cleanDocs(
      docs: DataFrame,
      watermark: String = "1 hour",
      textCol: String = "text",
      keepLang: String = "en",
      minTokens: Int = 5,
      maxTokens: Int = 50000,
      minQuality: Double = 0.75,
      repetition: Option[graft.pipeline.Corpus.RepetitionBounds] = None): DataFrame =
    graft.pipeline.Corpus.rowVerdicts(
      docs, textCol, keepLang, minTokens, maxTokens, minQuality, repetition)
      .filter(col("__r0").isNull)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__r0", "__h")

  /** Exactly-once streaming CORPUS INGEST — [[cleanDocs]] composed with the
    * snapshot store: JSON-lines documents (ts, doc_id, text) arriving in a
    * directory → the shared verdict chain + watermark-window dedup → one
    * atomic `corpus` delta append per micro-batch, deduplicated against the
    * ACCUMULATED store by content identity (the unbounded-horizon half the
    * watermark cannot give), through the crawl's own membership index,
    * [[graft.dedup.UrlSeen]].
    * Batch-id-idempotent commits exactly as the crawl slice: a replayed
    * batch after a crash between store commit and stream checkpoint is
    * detected and skipped, so kill-and-resume is bit-equivalent to an
    * uninterrupted run (StreamsSpec proves it).
    */
  def corpusIngest(
      spark: org.apache.spark.sql.SparkSession,
      docDir: String,
      streamCheckpointDir: String,
      storeDir: String,
      compactEvery: Int = graft.checkpoint.TableLog.DefaultCompactEvery): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .schema("ts TIMESTAMP, doc_id LONG, text STRING")
      .json(docDir)
      .filter(col("ts").isNotNull && col("doc_id").isNotNull && col("text").isNotNull)
    cleanDocs(raw)
      .writeStream
      .option("checkpointLocation", streamCheckpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processDocBatch(batch.toDF(), batchId, storeDir, compactEvery)
      }
      .start()
  }

  /** One corpus micro-batch: drop the documents the accumulated store
    * holds already, append the rest as a delta, ONE atomic commit carrying
    * the batch id. Idempotent per batch id.
    *
    * Membership is the crawl's index, [[graft.dedup.UrlSeen]], over the
    * document's md5 content identity: `urlHash` is `xxhash64` of it and the
    * exact key is the 32-character hex string itself. The identity is
    * PERSISTED as a `__h` column in every corpus delta, so the history is
    * read as that one parquet column (never its text pages) and scanned,
    * never shuffled: the batch's keys are broadcast to the history scan,
    * and the few keys it finds are broadcast back to drop those documents
    * ([[graft.dedup.UrlSeen.filterNew]]). The corpus keeps no filters: the
    * whole batch is the probe, so a Bloom prune would save nothing the
    * history scan pays for. Deltas written before the column existed have
    * their text re-hashed per batch until compacted; the per-file dispatch
    * below keeps the column read for every later delta.
    *
    * The batch is kept ([[org.apache.spark.sql.graftbridge.KeptFrame]]), so
    * its verdict chain runs once, in the job that counts it.
    *
    * The corpus chain compacts by the [[graft.checkpoint.TableLog]] rule,
    * at every commit whose version is a multiple of `compactEvery`, and the
    * compaction is the LEGACY MIGRATION point: it rewrites each delta
    * through the same per-file read, so pre-sidecar rows gain `__h` there.
    */
  private[graft] def processDocBatch(
      batch: DataFrame, batchId: Long, storeDir: String,
      compactEvery: Int = graft.checkpoint.TableLog.DefaultCompactEvery): Unit = {
    val spark = batch.sparkSession
    val log = new graft.checkpoint.SnapshotStore(storeDir).log()
    if (log.has("batches", batchId.toString)) return // replayed after crash
    val contentId = md5(col("text").cast("binary"))
    // a delta with its content identity: the stored `__h` when it has one
    // (a pruned scan), else the legacy delta's text re-hashed
    def identified(path: String): DataFrame = {
      val delta = spark.read.parquet(path)
      if (delta.columns.contains("__h")) delta else delta.withColumn("__h", contentId)
    }
    val history = log.chain("corpus")
    val (docs, docRows) = org.apache.spark.sql.graftbridge.KeptFrame(batch.withColumn("__h", contentId)
      .select(col("*"), xxhash64(col("__h")).as("urlHash"), col("__h").as("canonUrl")))
    try {
      val fresh =
        if (history.isEmpty) docs
        else graft.dedup.UrlSeen.filterNew(docs,
          history.map(identified(_).select(xxhash64(col("__h")).as("urlHash"), col("__h").as("url")))
            .reduce(_ unionAll _),
          graft.util.PlanSize.broadcastSafe(docRows.count()))
      val path = log.store.dataPath("corpus", log.next)
      fresh.drop("urlHash", "canonUrl").write.mode("overwrite").parquet(path)
      val corpus = log.compact("corpus", history :+ path, compactEvery)(_.map(identified).reduce(_ unionByName _))
      log.commit(chains = Map("corpus" -> corpus), keys = Map("batches" -> batchId.toString))
    } finally docRows.unpersist()
  }

  /** Watermarked tumbling-window fetch metrics: events(ts, host, fetched,
    * bytes) → per-window per-host counts. Late data beyond the watermark is
    * dropped — at 10^10 URLs the state store must stay bounded.
    */
  def fetchMetricsByWindow(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("host"))
      .agg(count(lit(1)).as("fetches"), sum("bytes").as("bytes"))
      .select(col("window.start").as("window_start"), col("host"), col("fetches"), col("bytes"))

  // ------------------------------------------------- streaming crawl slice

  /** End-to-end streaming slice: seed CSV shards arriving in a directory →
    * [[ingestSeeds]] → one crawl round per micro-batch, committed to a
    * [[graft.checkpoint.SnapshotStore]] via `foreachBatch`.
    *
    * Exactly-once composition: Structured Streaming's checkpoint makes
    * batch ids stable across restarts, and every manifest commit records
    * the batch ids it contains — a replayed batch (crash after the store
    * commit but before the stream checkpoint advanced) is detected and
    * skipped, so a kill-and-resume run is bit-equivalent to an
    * uninterrupted one (StreamsSpec proves seen/rates ≡ the batch crawl of
    * the same seeds).
    *
    * Each micro-batch runs the batch crawl's own round
    * ([[graft.crawl.CrawlJob.crawlRound]]): partitioned-Bloom dedup, robots
    * gate, per-host politeness schedule (AIMD host delays carried in the
    * store across batches; a batch whose frontier and host table fit one
    * task is ranked in that task, a larger one by the salted rank), retry
    * on fetch miss, per-host metrics, lineage and delta-chain compaction,
    * so the store has the batch crawl's layout plus a `batches` key set.
    * Rows a batch cannot schedule under its politeness budget — and retry
    * rows — stay in the `frontier` table and re-enter on the NEXT
    * micro-batch, ahead of its new seeds. Defaults (no
    * robots rules, unbounded budget) drain every batch fully. The robots
    * rules are collapsed once per stream, not per batch.
    *
    * DRAIN CONTRACT: frontier rows re-enter only when a later micro-batch
    * fires, and the file source fires one only for NEW seed files — if the
    * seed directory goes idle while the frontier is non-empty, the deferred
    * and retry rows sit in the `frontier` table until the next file arrives
    * (they are never lost: the snapshot commit is their durability). A
    * deployment that can stop feeding seeds should drain by dropping empty
    * marker files (each drives one batch — the technique StreamsSpec uses),
    * or simply accept that the next real seed file resumes the frontier
    * first, ahead of its own rows.
    */
  def crawlStream(
      spark: org.apache.spark.sql.SparkSession,
      seedDir: String,
      pages: DataFrame,
      streamCheckpointDir: String,
      storeDir: String,
      provider: String = "Mastercard",
      providers: Seq[graft.provider.Provider] = graft.provider.Providers.registry,
      robots: Option[DataFrame] = None,
      cfg: graft.model.PolitenessConfig = graft.model.PolitenessConfig(
        maxGlobal = Int.MaxValue, maxPerHost = Int.MaxValue),
      roundSec: Double = 1e9,
      maxRetries: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .schema("card_c STRING, trans_c STRING, date STRING")
      .csv(seedDir)
    val rules = graft.crawl.CrawlJob.activeRules(robots)
    val query = ingestSeeds(raw).writeStream
      .option("checkpointLocation", streamCheckpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        seedBatchRound(batch.toDF(), batchId, pages, storeDir, provider, providers,
          rules, cfg, roundSec, maxRetries)
      }
      .start()
    // the collapsed rules stay cached while the stream runs
    rules.foreach { collapsed =>
      import org.apache.spark.sql.streaming.StreamingQueryListener
      spark.streams.addListener(new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id) { collapsed.unpersist(); spark.streams.removeListener(this) }
      })
      if (!query.isActive) collapsed.unpersist()
    }
    query
  }

  /** One micro-batch = one crawl round, committed as the store's next
    * version with the batch id recorded in the same manifest commit.
    * Idempotent per batch id (the exactly-once half the stream checkpoint
    * can't give). The frontier the round consumes is the store's frontier
    * (deferred and retry rows from prior batches) followed by this batch's
    * expanded, within-batch-deduplicated seeds. Seen rows carry the commit
    * version as their `round`.
    *
    * @param robots the rules, None for no robots gate; collapsed for this
    *               batch alone (a stream collapses them once)
    */
  private[graft] def processSeedBatch(
      batch: DataFrame,
      batchId: Long,
      pages: DataFrame,
      storeDir: String,
      provider: String,
      providers: Seq[graft.provider.Provider],
      robots: Option[DataFrame] = None,
      cfg: graft.model.PolitenessConfig = graft.model.PolitenessConfig(
        maxGlobal = Int.MaxValue, maxPerHost = Int.MaxValue),
      roundSec: Double = 1e9,
      maxRetries: Int = 2): Unit = {
    val rules = graft.crawl.CrawlJob.activeRules(robots)
    try seedBatchRound(batch, batchId, pages, storeDir, provider, providers, rules, cfg, roundSec, maxRetries)
    finally rules.foreach(_.unpersist())
  }

  /** [[processSeedBatch]] over rules already collapsed by
    * [[graft.crawl.CrawlJob.activeRules]].
    */
  private def seedBatchRound(
      batch: DataFrame,
      batchId: Long,
      pages: DataFrame,
      storeDir: String,
      provider: String,
      providers: Seq[graft.provider.Provider],
      rules: Option[DataFrame],
      cfg: graft.model.PolitenessConfig,
      roundSec: Double,
      maxRetries: Int): Unit = {
    import graft.crawl.CrawlJob
    val spark = batch.sparkSession
    val log = new graft.checkpoint.SnapshotStore(storeDir).log()
    if (log.has("batches", batchId.toString)) return // replayed after crash — already committed

    // seq is a scheduling-order key; a stream batch has no file order, so
    // key deterministically on the seed itself (set semantics are what the
    // store guarantees — ordering inside one micro-batch is not meaningful)
    val withSeq = batch.withColumn(
      "seq", xxhash64(col("card_c"), col("trans_c"), col("date")))
    val seeds = graft.dedup.UrlSeen.dedupWithinBatch(CrawlJob.expandSeeds(withSeq, provider, providers))
    CrawlJob.restoringJobDescription(spark) {
      val state = CrawlJob.loadState(spark, storeDir, graft.dedup.UrlSeen.DefaultBloomParts) { committed =>
        // deferred/retry rows from prior batches re-enter ahead of new
        // seeds; a re-arriving seed whose URL is already in the frontier
        // must not shadow that row (which may carry retry state). Stores
        // written before the stream ran the shared round kept that
        // frontier under `backlog`.
        committed.orElse(log.path("backlog").map(spark.read.parquet(_)))
          .map(prior => prior.unionByName(seeds.join(prior.select("canonUrl"), Seq("canonUrl"), "left_anti")))
          .getOrElse(seeds)
      }
      CrawlJob.crawlRound(spark, storeDir, state, pages, rules, cfg, roundSec, maxRetries,
        providers = providers,
        keys = Map("batches" -> batchId.toString))
    }
  }

  // ------------------------------------------------ stateful host sessions

  final case class FetchEvent(host: String, ts: Timestamp, latencyMs: Long)
  final case class HostSession(
      host: String,
      fetches: Long,
      delaySec: Double,
      lastTs: Timestamp,
      closed: Boolean)

  /** Per-host politeness state as a streaming stateful operator: AutoThrottle
    * AIMD delay update per event; with `idleMs > 0` the session closes after
    * that long without traffic (processing-time timeout — note this keeps
    * the micro-batch engine ticking to evaluate timeouts). The streaming
    * dual of the batch Scheduler.updateHostStates — same formula, same
    * semantics (reference settings.py:96-98).
    */
  def hostSessions(
      events: Dataset[FetchEvent],
      targetConcurrency: Double = 16.0,
      startDelaySec: Double = 2.0,
      idleMs: Long = 0L,
      maxDelaySec: Double = 60.0): Dataset[HostSession] = {
    import events.sparkSession.implicits._
    val timeoutKind =
      if (idleMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append, timeoutKind)(
        (host: String, batch: Iterator[FetchEvent], state: GroupState[HostSession]) => {
          if (state.hasTimedOut) {
            val closed = state.get.copy(closed = true)
            state.remove()
            Iterator(closed)
          } else {
            val prior = state.getOption.getOrElse(
              HostSession(host, 0L, startDelaySec, new Timestamp(0L), closed = false))
            // fold in EVENT-TIME order, not micro-batch arrival order: the
            // AIMD average is order-dependent, and shuffle arrival order
            // varies run to run — identical inputs must yield identical
            // sessions (group size = one host's events in one micro-batch,
            // politeness-bounded, so the sort is cheap). The cap mirrors
            // the batch dual's maxDelaySec clamp.
            val ordered = batch.toSeq.sortBy(e => (e.ts.getTime, e.latencyMs))
            val updated = ordered.foldLeft(prior) { (s, e) =>
              val targetDelay = (e.latencyMs / 1000.0) / targetConcurrency
              s.copy(
                fetches = s.fetches + 1,
                delaySec = math.min((s.delaySec + targetDelay) / 2.0, maxDelaySec),
                lastTs = if (e.ts.after(s.lastTs)) e.ts else s.lastTs)
            }
            state.update(updated)
            if (idleMs > 0) state.setTimeoutDuration(idleMs)
            Iterator(updated)
          }
        })
  }
}
