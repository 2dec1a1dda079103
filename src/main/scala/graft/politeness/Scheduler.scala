package graft.politeness

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{HostState, PolitenessConfig}

/** Per-host politeness scheduler + priority queue (SURVEY.md §2 #26-29).
  *
  * Reference behavior being generalized: Scrapy's downloader caps
  * (CONCURRENT_REQUESTS[_PER_DOMAIN]=50, settings.py:25-26) and AutoThrottle
  * (start delay 2s, target concurrency 16, settings.py:96-98), with the
  * effective request order = seed-file order consumed in concurrency-sized
  * windows (all priorities are 0; SURVEY.md §2#29).
  *
  * Design for skew (north_rule "skew-aware repartitioning for hot hosts" —
  * in the reference *everything* is one host, MCSpider.py:21):
  *
  *  1. salted pre-prune: rows are ranked inside `(host, salt)` sub-groups
  *     (salt = pmod(xxhash64(url), S)) and only the top `budget` per
  *     sub-group survive. The global per-host top-`budget` set is a subset
  *     of the union of per-salt top-`budget` sets, so this is lossless —
  *     and no single task ever sorts a whole hot host.
  *  2. exact budget: a second rank inside `host` over ≤ S·budget rows.
  *
  * A frontier small enough for one task has no skew to split: it skips the
  * salt and is ranked by one exact window per host in one partition, with
  * no shuffle at all.
  *
  * All stages are window functions over explicit `(priority desc, seq)`
  * sort keys — ordering is data, never shuffle order. Per-host token-bucket
  * state (AutoThrottle delay) is a tiny one-row-per-host table updated by
  * one per-host aggregation and checkpointed between rounds.
  */
object Scheduler {

  val Salts = 16

  /** Tokens (= max fetches) a host may spend this round: one fetch per
    * `delaySec`, times the AutoThrottle target concurrency, capped by the
    * per-domain concurrency limit.
    */
  def budgetFor(delaySec: Double, roundSec: Double, cfg: PolitenessConfig): Int = {
    val byDelay = math.floor(roundSec / math.max(delaySec, 1e-9) * cfg.targetConcurrency).toLong
    math.min(byDelay, cfg.maxPerHost.toLong).toInt.max(0)
  }

  /** Pick this round's fetch set. `frontier` must carry (host, url,
    * priority, seq); `hostStates` supplies per-host delay (hosts absent
    * from it use cfg.startDelaySec). Returns the scheduled subset, capped
    * per host (CONCURRENT_REQUESTS_PER_DOMAIN) and globally
    * (CONCURRENT_REQUESTS; `cfg.maxGlobal = Int.MaxValue` disables).
    */
  def scheduleRound(
      frontier: DataFrame,
      hostStates: DataFrame,
      cfg: PolitenessConfig,
      roundSec: Double): DataFrame =
    withSchedule(frontier, hostStates, cfg, roundSec).filter(col(Scheduled)).drop(Scheduled)

  /** The flag [[withSchedule]] adds. */
  val Scheduled = "__scheduled"

  /** [[scheduleRound]] as a flag: every `frontier` row, with [[Scheduled]]
    * true on exactly the rows `scheduleRound` returns. Rows where
    * `eligible` is false are never scheduled and take no budget. One
    * tagged pass serves the fetch set and the next frontier alike, so no
    * second scan subtracts the one from the other.
    *
    * `rows` bounds the rows of the frontier and the host states together.
    * When they fit one task ([[graft.util.PlanSize.fitsOneTask]]) they are
    * ranked in one task ([[inOneTask]]); more, or an unknown size, take the
    * salted path ([[salted]]), which shuffles the frontier. Both flag the
    * same rows.
    */
  private[graft] def withSchedule(
      frontier: DataFrame,
      hostStates: DataFrame,
      cfg: PolitenessConfig,
      roundSec: Double,
      eligible: Column = lit(true),
      keep: DataFrame => DataFrame = identity,
      rows: Long = Long.MaxValue): DataFrame =
    if (graft.util.PlanSize.fitsOneTask(rows)) inOneTask(frontier, hostStates, cfg, roundSec, eligible)
    else salted(frontier, hostStates, cfg, roundSec, eligible, keep)

  /** The frontier with its host's `__budget` and its `__eligible` flag.
    *
    * The host states ([[delays]]) are deliberately NOT hinted broadcast:
    * they grow with DISTINCT HOSTS CRAWLED — one row per host is kilobytes
    * for a focused crawl but multi-GB at 10^8 web hosts, where a forced
    * broadcast is an OOM. The planner still broadcasts them whenever the
    * table is actually small (every bench/test here) and shuffles on host —
    * which the per-host windows shuffle by anyway — when it is not.
    */
  private def budgeted(
      frontier: DataFrame,
      hostStates: DataFrame,
      cfg: PolitenessConfig,
      roundSec: Double,
      eligible: Column): DataFrame = {
    val budgetUdf = udf((delay: Double) => budgetFor(delay, roundSec, cfg))
    frontier
      .join(hostStates, col("host") === col("__shost"), "left")
      .withColumn("__budget", budgetUdf(coalesce(col("__delay"), lit(cfg.startDelaySec))))
      .withColumn("__eligible", eligible)
      .drop("__shost", "__delay")
  }

  /** One rank stage: rank inside the `by` groups of the rows with the same
    * `__eligible`, by `(priority desc, seq)`; a candidate stays eligible
    * while its rank is within `bound`.
    */
  private def stage(df: DataFrame, bound: Column, by: Column*): DataFrame =
    df.withColumn("__rank", row_number().over(
        Window.partitionBy(by :+ col("__eligible"): _*).orderBy(col("priority").desc, col("seq"))))
      .withColumn("__eligible", col("__eligible") && col("__rank") <= bound)
      .drop("__rank")

  /** The host states' (host, delaySec), as [[budgeted]] joins them. */
  private def delays(hostStates: DataFrame): DataFrame =
    hostStates.select(col("host").as("__shost"), col("delaySec").as("__delay"))

  /** [[withSchedule]] for a frontier that fits one task: the input is
    * coalesced once, so one exact window per host (and one over all rows
    * for a finite `maxGlobal`) ranks it with no exchange, no pre-prune and
    * no bypass union. The host states join as in [[salted]].
    */
  private[graft] def inOneTask(
      frontier: DataFrame,
      hostStates: DataFrame,
      cfg: PolitenessConfig,
      roundSec: Double,
      eligible: Column = lit(true)): DataFrame = {
    val budgets = budgeted(frontier.coalesce(1), delays(hostStates), cfg, roundSec, eligible)
    val perHost = stage(budgets, col("__budget"), col("host"))
    val capped = if (cfg.maxGlobal == Int.MaxValue) perHost else stage(perHost, lit(cfg.maxGlobal))
    capped.withColumnRenamed("__eligible", Scheduled).drop("__budget")
  }

  /** [[withSchedule]] for a frontier of any size, in salted stages. Only the
    * first stage shuffles the whole frontier, and no window ranks a whole
    * hot host: each later stage ranks only the rows the stage before left
    * eligible (per host at most Salts × budget, or Salts × maxGlobal for the
    * global cap) in one group per host (or one in all), and the other rows
    * bypass it. Both read the first stage's output, so a caller that reads
    * the result more than once passes a `keep` that stores it (see
    * [[graft.crawl.CrawlJob.crawlRound]]); the first stage then runs once.
    */
  private[graft] def salted(
      frontier: DataFrame,
      hostStates: DataFrame,
      cfg: PolitenessConfig,
      roundSec: Double,
      eligible: Column = lit(true),
      keep: DataFrame => DataFrame = identity): DataFrame = {
    // a later stage: only the rows still eligible are ranked (and so
    // shuffled) again; the rest keep their flag and bypass it
    def narrow(df: DataFrame, bound: Column, by: Column*): DataFrame =
      stage(df.filter(col("__eligible")), bound, by: _*).unionByName(df.filter(!col("__eligible")))
    // over a later stage's rows (all eligible) these keys are constant, so
    // the survivors share one group per host, or one in all; they are not
    // literals, which constant folding would strip from the window's
    // partition spec, leaving it unpartitioned
    val salt = pmod(xxhash64(col("url")), lit(Salts.toLong))
    val shared = when(col("__eligible"), lit(-1L)).otherwise(salt)
    val ownHost = when(!col("__eligible"), col("host"))

    // stage 1: salted pre-prune (lossless superset of the per-host top-budget)
    val budgets = budgeted(frontier, delays(hostStates), cfg, roundSec, eligible)
    val pruned = keep(stage(budgets, col("__budget"), col("host"), salt))
    // stage 2: exact per-host budget over the pruned (small) remainder
    val perHost = narrow(pruned, col("__budget"), col("host"), shared)

    // stages 3-4: GLOBAL concurrency cap (reference CONCURRENT_REQUESTS=50,
    // settings.py:25) — at most cfg.maxGlobal fetches per round across all
    // hosts, picked by (priority desc, seq). Same lossless salted two-stage
    // shape as the per-host budget: a per-salt top-maxGlobal pre-prune keeps
    // any one task from ranking the whole round, then the exact global rank
    // runs over ≤ Salts·maxGlobal rows (a single small group, by design:
    // maxGlobal is a politeness constant, not a data-sized value).
    val capped =
      if (cfg.maxGlobal == Int.MaxValue) perHost
      else {
        val gPruned = narrow(perHost, lit(cfg.maxGlobal), ownHost, salt)
        narrow(gPruned, lit(cfg.maxGlobal), ownHost, shared)
      }
    capped.withColumnRenamed("__eligible", Scheduled).drop("__budget")
  }

  /** AutoThrottle delay update (Scrapy's algorithm, settings.py:96-98
    * semantics): target_delay = latency / target_concurrency;
    * new_delay = (delay + target_delay) / 2, floored at the start delay
    * grace of 0 and capped at maxDelaySec. Latency here is deterministic
    * synthetic f(host, round) — the sandbox has no live HTTP (SURVEY.md §2#27:
    * "deterministic simulated clock per round so ordering is reproducible").
    */
  def updateHostStates(
      scheduled: DataFrame,
      hostStates: Dataset[HostState],
      cfg: PolitenessConfig,
      round: Int,
      roundSec: Double,
      maxDelaySec: Double = 60.0): Dataset[HostState] = {
    // prior states ∪ this round's fetches, then ONE aggregation per host:
    // a single exchange, partially aggregated map-side
    val aggs = hostStateAggs(count("__fetch"))
    val merged = hostStates.toDF()
      .unionByName(scheduled.select(col("host"), lit(1).as("__fetch")), allowMissingColumns = true)
      .groupBy("host")
      .agg(aggs.head, aggs.tail: _*)
    nextHostStates(merged, cfg, round, roundSec, maxDelaySec)
  }

  /** The per-host aggregates [[nextHostStates]] reads, over the union of
    * the prior state rows and this round's rows of the host: a host has at
    * most one prior row, so max() recovers its fields; `fetches` counts the
    * host's fetches this round (0 for a host that fetched nothing).
    */
  private[graft] def hostStateAggs(fetches: Column): Seq[Column] =
    Seq(max("delaySec").as("delaySec"), max("clockSec").as("clockSec"),
      max("fetched").as("fetched"), fetches.as("__f"))

  /** The next host states from [[hostStateAggs]]' columns, one row per
    * host.
    */
  private[graft] def nextHostStates(
      merged: DataFrame,
      cfg: PolitenessConfig,
      round: Int,
      roundSec: Double,
      maxDelaySec: Double = 60.0): Dataset[HostState] = {
    import merged.sparkSession.implicits._
    // synthetic latency in [0.05, 0.55)s, deterministic per (host, round) —
    // the sandbox has no live HTTP, so the throttle clock is simulated
    val latency = lit(0.05) +
      pmod(xxhash64(concat(col("host"), lit("#" + round))), lit(500L)).cast("double") / 1000.0
    val targetDelay = latency / cfg.targetConcurrency
    merged
      .select(
        col("host"),
        // the AIMD average moves ONLY on observed fetches (Scrapy adjusts
        // per response): a throttled host that gets no budget this round
        // must keep its delay, or ~10 idle rounds would silently halve it
        // back to nothing and un-throttle a slow host without one new
        // latency sample
        when(col("__f") > 0L,
          least(
            (coalesce(col("delaySec"), lit(cfg.startDelaySec)) + targetDelay) / 2.0,
            lit(maxDelaySec)))
          .otherwise(coalesce(col("delaySec"), lit(cfg.startDelaySec))).as("delaySec"),
        (coalesce(col("clockSec"), lit(0.0)) + roundSec).as("clockSec"),
        (coalesce(col("fetched"), lit(0L)) + col("__f")).as("fetched"))
      .as[HostState]
  }
}
