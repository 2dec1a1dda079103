package graft.politeness

import org.apache.spark.sql.{DataFrame, Dataset}
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
  * Both stages are window functions over explicit `(priority desc, seq)`
  * sort keys — ordering is data, never shuffle order. Per-host token-bucket
  * state (AutoThrottle delay) is a tiny one-row-per-host Dataset updated
  * with `groupByKey.mapGroups` and checkpointed between rounds.
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
      roundSec: Double): DataFrame = {
    val budgetUdf = udf((delay: Double) => budgetFor(delay, roundSec, cfg))
    val states = hostStates.select(col("host").as("__shost"), col("delaySec").as("__delay"))

    // deliberately NOT hinted broadcast: hostStates grows with DISTINCT
    // HOSTS CRAWLED — one row per host is kilobytes for a focused crawl but
    // multi-GB at 10^8 web hosts, where a forced broadcast is an OOM. AQE
    // still picks a broadcast join whenever the table is actually small
    // (every bench/test here) and degrades to a shuffle on host — which the
    // downstream per-host windows shuffle by anyway — when it is not.
    val withBudget = frontier
      .join(states, col("host") === col("__shost"), "left")
      .withColumn("__budget", budgetUdf(coalesce(col("__delay"), lit(cfg.startDelaySec))))
      .drop("__shost", "__delay")

    // stage 1: salted pre-prune (lossless superset of the per-host top-budget)
    val salted = withBudget.withColumn("__salt", pmod(xxhash64(col("url")), lit(Salts.toLong)))
    val w1 = Window.partitionBy(col("host"), col("__salt"))
      .orderBy(col("priority").desc, col("seq"))
    val pruned = salted
      .withColumn("__rn1", row_number().over(w1))
      .filter(col("__rn1") <= col("__budget"))
      .drop("__rn1", "__salt")

    // stage 2: exact per-host budget over the pruned (small) remainder
    val w2 = Window.partitionBy(col("host")).orderBy(col("priority").desc, col("seq"))
    val perHost = pruned
      .withColumn("__rn2", row_number().over(w2))
      .filter(col("__rn2") <= col("__budget"))
      .drop("__rn2", "__budget")

    // stage 3: GLOBAL concurrency cap (reference CONCURRENT_REQUESTS=50,
    // settings.py:25) — at most cfg.maxGlobal fetches per round across all
    // hosts, picked by (priority desc, seq). Same lossless salted two-stage
    // shape as the per-host budget: a per-salt top-maxGlobal pre-prune keeps
    // any one task from ranking the whole round, then the exact global rank
    // runs over ≤ Salts·maxGlobal rows (a single small window, by design:
    // maxGlobal is a politeness constant, not a data-sized value).
    if (cfg.maxGlobal == Int.MaxValue) perHost
    else {
      val gw1 = Window.partitionBy(col("__gsalt")).orderBy(col("priority").desc, col("seq"))
      val gPruned = perHost
        .withColumn("__gsalt", pmod(xxhash64(col("url")), lit(Salts.toLong)))
        .withColumn("__grn1", row_number().over(gw1))
        .filter(col("__grn1") <= cfg.maxGlobal)
        .drop("__grn1", "__gsalt")
      // single-partition by CONSTRUCTION: stage 1 pre-pruned the input to
      // ≤ Salts·maxGlobal rows (a politeness CONSTANT — e.g. 16·50 = 800 —
      // never a data-sized value), so the one-task sort is bounded.
      // Partitioning by a CONSTANT key gives the identical plan (one hash
      // partition) without tripping WindowExec's "No Partition Defined"
      // warning — dozens of which per bench run were masking the day a
      // genuinely unbounded global window sneaks in. The key must be
      // NON-FOLDABLE (pmod over a real column, not lit(0)): constant
      // folding strips a literal partition spec right back to the
      // unpartitioned warning case.
      val gw2 = Window.partitionBy(pmod(col("seq"), lit(1)))
        .orderBy(col("priority").desc, col("seq"))
      gPruned
        .withColumn("__grn2", row_number().over(gw2))
        .filter(col("__grn2") <= cfg.maxGlobal)
        .drop("__grn2")
    }
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
    val spark = scheduled.sparkSession
    import spark.implicits._
    // prior states ∪ this round's fetches, then ONE aggregation per host:
    // a single exchange, partially aggregated map-side. A host has at most
    // one prior row, so max() recovers its fields; count() of the fetch
    // marker is 0 for a host that fetched nothing.
    val merged = hostStates.toDF()
      .unionByName(scheduled.select(col("host"), lit(1).as("__fetch")), allowMissingColumns = true)
      .groupBy("host")
      .agg(max("delaySec").as("delaySec"), max("clockSec").as("clockSec"),
        max("fetched").as("fetched"), count("__fetch").as("__f"))
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
