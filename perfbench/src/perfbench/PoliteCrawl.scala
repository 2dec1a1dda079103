package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.crawl.CrawlJob
import graft.model.{HostState, PolitenessConfig}

object PoliteCrawl {
  // 40k URLs on 64 hosts, half of them on one hot host. The start delay is
  // short enough that the AutoThrottle budget sits at its cap of 1000 URLs
  // per host and round from the first round on: round 1 takes every tail
  // host's URLs, and each later round takes 1000 hot-host URLs (plus
  // retries), about 22 rounds in all. Every timed round does the same work.
  val NUrls = 40000L
  val NHosts = 64
  val HotPermille = 500
  val ErrPermille = 20
  val MissPermille = 50
  val PrivPermille = 30
  val RoundSec = 10.0
  val CompactEvery = 2
  val MaxRetries = 2
  val BloomParts = 32
  val Cfg = PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = 1000, startDelaySec = 0.1)

  val HotHost = "hot-0.example.com"
  val RuledHosts = Seq(HotHost, "host-1.example.com")
  val PrivatePrefix = "/rates/private/"
  val FrontierCols = Seq("url", "canonUrl", "urlHash", "host", "card_c", "trans_c", "date",
    "provider", "priority", "seq", "retries")

  /** Every frontier row plus the flags the expectation needs. Each flag
    * picks URLs by a hash of (id, seed, tag): `hot` puts a URL on the hot
    * host, `err` makes its page an error page, `miss` leaves it out of the
    * page table (so it is retried), `priv` puts it under the path that the
    * robots rules disallow on the ruled hosts.
    */
  def truth(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    def h(tag: String) = xxhash64(id, lit(seed), lit(tag))
    def pick(tag: String, permille: Int) = pmod(h(tag), lit(1000L)) < permille
    val uid = lower(hex(h("uid")))
    val host = when(pick("hot", HotPermille), lit(HotHost)).otherwise(concat(
      lit("host-"), (pmod(h("host"), lit(NHosts - 1L)) + 1).cast("string"), lit(".example.com")))
    val priv = pick("priv", PrivPermille)
    spark.range(NUrls).toDF("id")
      .withColumn("host", host)
      .withColumn("url", concat(lit("https://"), col("host"),
        when(priv, lit(PrivatePrefix)).otherwise(lit("/rates/")), lit("p-"), uid))
      .withColumn("canonUrl", graft.expr.Native.canonicalize(col("url")))
      .withColumn("urlHash", xxhash64(col("canonUrl")))
      .withColumn("card_c", concat(lit("C"), uid))
      .withColumn("trans_c", lit("USD"))
      .withColumn("date", date_add(lit(java.sql.Date.valueOf("1995-01-01")), pmod(id, lit(365)).cast("int")))
      .withColumn("provider", lit("Mastercard"))
      .withColumn("priority", lit(0))
      .withColumn("seq", id)
      .withColumn("retries", lit(0))
      .withColumn("miss", pick("miss", MissPermille))
      .withColumn("err", pick("err", ErrPermille))
      .withColumn("disallowed", priv && col("host").isin(RuledHosts: _*))
  }

  /** MC-JSON pages (about 200 bytes each) for every URL not picked as
    * missing. Rounds are small, so page size hardly moves their cost; small
    * pages keep the input build, which runs three times, short.
    */
  def pages(truth: DataFrame): DataFrame = {
    val rate = graft.synth.Synth.rateFor(col("card_c"), col("trans_c"), col("date"), lit("Mastercard"))
    val filler = repeat(
      concat(lit(" lorem"), pmod(xxhash64(col("url"), lit("filler")), lit(100000L)).cast("string")), 16)
    val ok = concat(lit("""{"data": {"conversionRate": """), rate.cast("string"),
      lit(""", "noise": """"), filler, lit(""""}}"""))
    val err = concat(lit("""{"data": {"errorCode": "114", "errorMessage": "Not Found", "noise": """"),
      filler, lit(""""}}"""))
    val text = when(col("err"), err).otherwise(ok)
    truth.filter(!col("miss")).select(
      col("url"),
      timestamp_seconds(lit(800000000L) + pmod(xxhash64(col("url")), lit(86400L))).as("warc_ts"),
      encode(text, "UTF-8").as("html"),
      text.as("text"),
      lit("en").as("lang"))
  }

  /** Order-independent fingerprint term of one (urlHash, round) row. */
  def mix(h: Long, r: Int): Long = {
    var x = h ^ (r.toLong * 0x9E3779B97F4A7C15L)
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /** One scheduled fetch; `ok` marks a fetched non-error page (one rate). */
  final case class Sched(urlHash: Long, round: Int, ok: Boolean)

  /** The crawl order the politeness rules imply, derived from the generator
    * alone. Per host, each round takes the next `budget` rows by (priority
    * desc, seq). The budget follows the AutoThrottle delay, which moves
    * towards latency / concurrency after every round with fetches; latency
    * is the simulated f(host, round). A missing page re-enters at priority
    * - 1 until it has been retried `MaxRetries` times. `rows` are
    * (urlHash, host, seq, miss, err) of the robots-allowed URLs.
    */
  def expectedSchedule(rows: Seq[Row], latency: (String, Int) => Long): Seq[Sched] = {
    final case class Item(urlHash: Long, seq: Long, miss: Boolean, err: Boolean, priority: Int, retries: Int)
    val order = Ordering.by[Item, (Int, Long)](i => (-i.priority, i.seq))
    val queues = mutable.LinkedHashMap.empty[String, mutable.TreeSet[Item]]
    rows.foreach { r =>
      queues.getOrElseUpdate(r.getString(1), mutable.TreeSet.empty(order)) +=
        Item(r.getLong(0), r.getLong(2), r.getBoolean(3), r.getBoolean(4), 0, 0)
    }
    val delay = mutable.Map.empty[String, Double].withDefaultValue(Cfg.startDelaySec)
    val out = mutable.ArrayBuffer.empty[Sched]
    var round = 0
    while (queues.values.exists(_.nonEmpty)) {
      round += 1
      for ((host, q) <- queues if q.nonEmpty) {
        val byDelay = math.floor(RoundSec / math.max(delay(host), 1e-9) * Cfg.targetConcurrency).toLong
        val taken = q.take(math.min(byDelay, Cfg.maxPerHost.toLong).toInt).toSeq
        q --= taken
        taken.foreach { i =>
          out += Sched(i.urlHash, round, !i.miss && !i.err)
          if (i.miss && i.retries < MaxRetries) q += i.copy(priority = i.priority - 1, retries = i.retries + 1)
        }
        val lat = 0.05 + latency(host, round).toDouble / 1000.0
        delay(host) = math.min((delay(host) + lat / Cfg.targetConcurrency) / 2.0, 60.0)
      }
    }
    out.toSeq
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally st.close()
    }

  def copyTree(from: Path, to: Path): Unit =
    if (Files.exists(from)) {
      val st = Files.walk(from)
      try st.iterator().asScala.foreach { p =>
        val dst = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
      } finally st.close()
    }
}

/** `crawl_polite`: one closed-loop operation is one crawl round, a
  * `CrawlJob.run(maxRounds = k)` call that resumes the crawl's checkpoint.
  * The crawl's fresh first round is the warm-up; a new crawl starts if one
  * drains inside the window.
  */
final class PoliteCrawl(spark: SparkSession, seed: Long, work: String, tracer: Tracer) extends Workload {
  import PoliteCrawl._
  import spark.implicits._

  val workUnit = "url"
  // timed rounds come in pairs, one of them compacting
  val stepsPerCycle = CompactEvery
  private val inputs = s"$work/inputs"
  private lazy val frontier = spark.read.parquet(s"$inputs/truth").select(FrontierCols.map(col): _*)
  private lazy val pageTable = spark.read.parquet(s"$inputs/pages")
  private val robots = spark.createDataFrame(
    RuledHosts.map(h => Row(h, PrivatePrefix, false)).asJava,
    StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))

  private var expected: Seq[Sched] = Nil
  private var lastRound = 0

  def prepare(): Unit = {
    truth(spark, seed).write.mode("overwrite").parquet(s"$inputs/truth")
    pages(spark.read.parquet(s"$inputs/truth")).write.mode("overwrite").parquet(s"$inputs/pages")
  }

  private def deriveExpectation(): Unit = {
    val rows = spark.read.parquet(s"$inputs/truth").filter(!col("disallowed"))
      .select("urlHash", "host", "seq", "miss", "err").collect().toSeq
    // the simulated latency f(host, round), computed with Spark's xxhash64
    val lat = rows.map(_.getString(1)).distinct.toDF("host").crossJoin(spark.range(1, 129).toDF("r"))
      .select(col("host"), col("r"),
        pmod(xxhash64(concat(col("host"), lit("#"), col("r").cast("string"))), lit(500L)))
      .collect().map(r => (r.getString(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
    expected = expectedSchedule(rows, (h, r) => lat((h, r)))
    lastRound = expected.map(_.round).max
  }

  /** Compares the crawl after `round` rounds with the expectation: seen rows,
    * stored rates and the (urlHash, round) fingerprint, which covers both
    * the crawl order and the seen set. Returns (ok, seen rows, ok against a
    * corrupted expectation, which the checker's self-test needs to fail).
    */
  private def check(rates: DataFrame, seen: DataFrame): (Boolean, Long, Boolean) = {
    val exp = expected.filter(_.round <= round)
    val expFp = exp.foldLeft(0L)((a, e) => a + mix(e.urlHash, e.round))
    val got = seen.select("urlHash", "round").collect()
    val fp = got.foldLeft(0L)((a, r) => a + mix(r.getLong(0), r.getInt(1)))
    val countsOk = got.length == exp.size && rates.count() == exp.count(_.ok)
    val ok = countsOk && fp == expFp
    if (!ok) System.err.println(s"[perfbench] crawl check failed at round $round: " +
      s"seen ${got.length} (expected ${exp.size}), fingerprint match ${fp == expFp}")
    (ok, got.length.toLong, countsOk && fp == expFp + 1)
  }

  // ---- the crawl in progress ------------------------------------------------
  private var crawls = 0
  private var ckpt: String = null
  private var round = 0
  private var pendingOps = 0
  // seen rows the crawl had before its first timed round
  private var seenBefore = 0L
  // what the last round's CrawlJob.run returned: (rates, seen, metrics)
  private var last: (DataFrame, DataFrame, DataFrame) = null

  private def run(maxRounds: Int): (DataFrame, DataFrame, DataFrame) =
    CrawlJob.run(spark, frontier, pageTable, robots, ckpt, Cfg, roundSec = RoundSec,
      maxRounds = maxRounds, maxRetries = MaxRetries, bloomParts = BloomParts,
      compactEvery = CompactEvery)

  /** Runs the next round; returns its seconds and the frames it returned. */
  private def nextRound(span: String): (Double, (DataFrame, DataFrame, DataFrame)) = {
    if (ckpt == null) {
      crawls += 1
      ckpt = s"$work/ckpt/$crawls"
      round = 0
      pendingOps = 0
    }
    round += 1
    pendingOps += 1
    val t0 = System.nanoTime()
    val res = tracer.span(span)(run(round))
    ((System.nanoTime() - t0) / 1e9, res)
  }

  private def endCrawl(): Unit = {
    deleteTree(Paths.get(ckpt))
    ckpt = null
  }

  def warmUp(): Boolean = {
    deriveExpectation()
    // only a fresh crawl dedups its frontier within the batch; its replay
    // rides on the warm-up, which runs the crawl's first round
    if (tracer.enabled) tracer.span("dedup.within_batch")(
      graft.dedup.UrlSeen.dedupWithinBatch(frontier).write.format("noop").mode("overwrite").save())
    // the fresh first round, then the first resumed one: it carries round
    // 1's retries and runs about a third slower than the rounds after it
    nextRound("warm-up")
    val (_, (rates, seen, _)) = nextRound("warm-up")
    val (ok, n, corruptOk) = check(rates, seen)
    seenBefore = n
    pendingOps = 0
    ok && !corruptOk
  }

  def step(t: Tally): Unit = {
    t.attempted += 1
    try {
      val (sec, frames) = nextRound("op")
      t.opSeconds += sec
      last = frames
      if (tracer.enabled) replay(sec)
      if (round >= lastRound) settle(t)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] crawl round failed: $e")
        t.failed += pendingOps
        if (ckpt != null) endCrawl()
    }
  }

  /** Checks the crawl in progress and closes it. */
  private def settle(t: Tally): Unit = {
    val (rates, seen, metrics) = last
    val (ok, n, _) = check(rates, seen)
    if (!ok) t.failed += pendingOps
    t.work += n - seenBefore
    seenBefore = 0L
    if (tracer.enabled) {
      ckptBytesPerUrl += dirBytes(Paths.get(ckpt)).toDouble / math.max(n, 1L)
      val m = metrics.filter(col("round") > 1)
        .agg(sum("scheduled"), sum("fetchMissed"), sum("extractedOk")).head()
      scheduled += m.getLong(0); missed += m.getLong(1); extractedOk += m.getLong(2)
    }
    endCrawl()
  }

  // the window closed mid-crawl: check the rounds that ran
  def finish(t: Tally): Unit = if (ckpt != null) settle(t)

  // ---- traced run: layer replays --------------------------------------------
  private val layerIn = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val layerOut = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val bytesPerRound = mutable.ArrayBuffer.empty[Double]
  private val compactionRounds = mutable.ArrayBuffer.empty[Double]
  private val ckptBytesPerUrl = mutable.ArrayBuffer.empty[Double]
  private val retryRows = mutable.ArrayBuffer.empty[Double]
  private var lastCkptBytes = 0L
  private var scheduled, missed, extractedOk = 0L

  /** Replays the round just committed layer by layer, each layer's public
    * function on that round's inputs (the previous snapshot's frontier,
    * host states and seen set), each in its own span. The Bloom probe reads
    * the filters as they are after the round; the merge writes a copy.
    */
  private def replay(opSec: Double): Unit = {
    if (round % CompactEvery == 0) compactionRounds += opSec
    val bytes = dirBytes(Paths.get(ckpt))
    bytesPerRound += (if (round == 1) bytes else bytes - lastCkptBytes).toDouble
    lastCkptBytes = bytes
    val prev = if (round == 1) None else Some(new graft.checkpoint.SnapshotStore(ckpt).readManifest(round - 1))
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String, df: DataFrame): (DataFrame, Long) = {
      val c = df.cache()
      cached += c
      (c, tracer.span(name)(c.count()))
    }
    val in = prev.map(m => spark.read.parquet(m("frontier"))).getOrElse(frontier)
    val hostStates = prev.map(m => spark.read.parquet(m("hostStates")).as[HostState])
      .getOrElse(spark.emptyDataset[HostState])
    val inCount = in.count()
    retryRows += in.filter(col("retries") > 0).count().toDouble
    val (fresh, freshCount) = prev match {
      case None => stage("dedup.within_batch", graft.dedup.UrlSeen.dedupWithinBatch(in))
      case Some(m) =>
        val seen = spark.read.parquet(m("seen").split(";").filter(_.nonEmpty).toSeq: _*)
        stage("dedup.bloom_probe", graft.dedup.UrlSeen.filterNewPartitionedBloom(
          in.filter(col("retries") === 0), seen, s"$ckpt/blooms", BloomParts)
          .unionByName(in.filter(col("retries") > 0)))
    }
    layerIn("dedup") += inCount; layerOut("dedup") += freshCount
    val (allowed, allowedCount) = stage("politeness.robots", graft.politeness.Robots.allowed(fresh, robots))
    layerIn("robots") += freshCount; layerOut("robots") += allowedCount
    val (sched, _) = stage("politeness.schedule",
      graft.politeness.Scheduler.scheduleRound(allowed, hostStates.toDF(), Cfg, RoundSec))
    stage("politeness.host_state",
      graft.politeness.Scheduler.updateHostStates(sched, hostStates, Cfg, round, RoundSec).toDF())
    val route = graft.provider.Providers.route(col("provider"), graft.provider.Providers.registry) _
    stage("fetch.extract", sched.hint("shuffle_hash")
      .join(pageTable.select("url", "text"), Seq("url"), "left")
      .select(col("urlHash"), col("text").isNotNull.as("hit"),
        route(_.isError(col("text"))).as("is_err"), route(_.extractRate(col("text"))).as("rate")))
    val copy = Paths.get(s"$work/bloom-replay")
    deleteTree(copy)
    copyTree(Paths.get(s"$ckpt/blooms"), copy)
    val keys = sched.filter(col("retries") === 0).select("urlHash")
    tracer.span("dedup.bloom_merge")(graft.dedup.UrlSeen.mergeDeltaIntoPartitionedBlooms(
      keys, keys, copy.toString, BloomParts))
    cached.foreach(_.unpersist())
    // a call that resumes the committed checkpoint and runs no round
    tracer.span("checkpoint.resume")(run(round))
  }

  def layers(t: Tally, perOp: Map[String, Double]): Map[String, Double] = {
    def ratio(k: String) = if (layerIn(k) > 0) 1.0 - layerOut(k).toDouble / layerIn(k) else 0.0
    Map(
      "crawl.jobs_per_round" -> perOp("jobs"),
      "crawl.driver_s_per_round" -> perOp("driver_s"),
      "crawl.retry_rows" -> Stats.median(retryRows.toSeq),
      "dedup.within_batch_s" -> tracer.meanSeconds("dedup.within_batch"),
      "dedup.bloom_probe_s" -> tracer.meanSeconds("dedup.bloom_probe"),
      "dedup.bloom_merge_s" -> tracer.meanSeconds("dedup.bloom_merge"),
      "dedup.drop_ratio" -> ratio("dedup"),
      "politeness.robots_s" -> tracer.meanSeconds("politeness.robots"),
      "politeness.robots_drop_ratio" -> ratio("robots"),
      "politeness.schedule_s" -> tracer.meanSeconds("politeness.schedule"),
      "politeness.host_state_s" -> tracer.meanSeconds("politeness.host_state"),
      "fetch.extract_s" -> tracer.meanSeconds("fetch.extract"),
      "fetch.miss_ratio" -> (if (scheduled > 0) missed.toDouble / scheduled else 0.0),
      "extract.ok_ratio" -> (if (scheduled > missed) extractedOk.toDouble / (scheduled - missed) else 0.0),
      "checkpoint.resume_s" -> tracer.meanSeconds("checkpoint.resume"),
      "checkpoint.bytes_per_round" -> Stats.median(bytesPerRound.toSeq),
      "checkpoint.bytes_per_url" -> Stats.median(ckptBytesPerUrl.toSeq),
      "checkpoint.compaction_round_s" -> Stats.median(compactionRounds.toSeq))
  }
}
