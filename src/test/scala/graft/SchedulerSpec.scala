package graft

import org.apache.spark.sql.functions._

import graft.model.{HostState, PolitenessConfig}
import graft.politeness.{Robots, Scheduler}

/** Politeness scheduler invariants (SURVEY.md §5.3): per-host budget never
  * exceeded, order follows (priority desc, seq), salted two-stage pruning
  * is lossless, robots longest-prefix semantics.
  */
class SchedulerSpec extends SparkSpec {
  import spark.implicits._

  private def frontier(rows: (String, String, Int, Long)*) =
    rows.toDF("host", "url", "priority", "seq")

  private val cfg = PolitenessConfig(maxPerHost = 3, startDelaySec = 2.0, targetConcurrency = 16.0)

  test("per-host budget is never exceeded and order is (priority desc, seq)") {
    val f = frontier(
      ("a.com", "u1", 0, 1L), ("a.com", "u2", 0, 2L), ("a.com", "u3", 0, 3L),
      ("a.com", "u4", 0, 4L), ("a.com", "u5", 1, 5L), // priority 1 jumps the queue
      ("b.com", "v1", 0, 10L), ("b.com", "v2", 0, 11L))
    val states = spark.emptyDataset[HostState].toDF
    // roundSec small so the token budget (roundSec/delay*conc) exceeds maxPerHost=3
    val out = Scheduler.scheduleRound(f, states, cfg, roundSec = 10.0)
      .select("host", "url").as[(String, String)].collect()
    val byHost = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byHost("a.com").size === 3)
    // priority 1 row must be in; then lowest seqs
    assert(byHost("a.com") === Set("u5", "u1", "u2"))
    assert(byHost("b.com") === Set("v1", "v2"))
  }

  test("budget math: tokens = roundSec/delay * targetConcurrency, capped") {
    assert(Scheduler.budgetFor(2.0, 10.0, cfg) === 3) // 80 tokens capped to 3
    assert(Scheduler.budgetFor(2.0, 10.0, cfg.copy(maxPerHost = 1000)) === 80)
    assert(Scheduler.budgetFor(1000.0, 1.0, cfg.copy(maxPerHost = 1000)) === 0)
  }

  test("salted pre-prune is lossless: equals unsalted top-budget per host") {
    val rows = (1 to 500).map(i => ("hot.com", s"u$i", 0, i.toLong)) ++
      (1 to 10).map(i => ("cold.com", s"c$i", 0, (1000 + i).toLong))
    val f = frontier(rows: _*)
    val states = spark.emptyDataset[HostState].toDF
    val big = cfg.copy(maxPerHost = 50, maxGlobal = Int.MaxValue)
    val out = Scheduler.scheduleRound(f, states, big, roundSec = 100.0)
      .select("host", "seq").as[(String, Long)].collect()
    val hot = out.filter(_._1 == "hot.com").map(_._2).sorted
    assert(hot.toSeq === (1L to 50L)) // exactly the 50 lowest seqs
    assert(out.count(_._1 == "cold.com") === 10)
  }

  test("global cap: 10 hosts × budget 3 with maxGlobal=5 schedules the 5 lowest seqs") {
    // reference CONCURRENT_REQUESTS=50 (settings.py:25) generalized: at most
    // maxGlobal fetches per round across ALL hosts, by (priority desc, seq)
    val rows = for (h <- 1 to 10; i <- 1 to 4)
      yield (s"h$h.com", s"u$h-$i", 0, (h * 10 + i).toLong)
    val f = frontier(rows: _*)
    val states = spark.emptyDataset[HostState].toDF
    val out = Scheduler.scheduleRound(f, states, cfg.copy(maxGlobal = 5), roundSec = 10.0)
      .select("seq").as[Long].collect().sorted.toSeq
    // per-host stage keeps seqs {h*10+1..3} per host; global stage keeps the
    // 5 smallest across hosts: 11,12,13,21,22
    assert(out === Seq(11L, 12L, 13L, 21L, 22L))
  }

  test("global cap: priority outranks seq across hosts; MaxValue disables") {
    val f = frontier(
      ("a.com", "a1", 0, 1L), ("a.com", "a2", 0, 2L),
      ("b.com", "b1", 5, 100L), ("c.com", "c1", 1, 50L))
    val states = spark.emptyDataset[HostState].toDF
    val capped = Scheduler.scheduleRound(f, states, cfg.copy(maxGlobal = 2), roundSec = 10.0)
      .select("url").as[String].collect().toSet
    assert(capped === Set("b1", "c1")) // highest priorities win globally
    val uncapped = Scheduler.scheduleRound(f, states, cfg.copy(maxGlobal = Int.MaxValue), roundSec = 10.0)
    assert(uncapped.count() === 4)
  }

  test("one-task rank flags exactly the rows the salted rank flags, with no shuffle below its window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    object Nodes extends AdaptiveSparkPlanHelper
    // a hot host far over its budget, a host only in hostStates, hosts absent
    // from hostStates (start delay), three priorities (ties broken by seq)
    // and about one ineligible row in six
    val hosts = Seq("hot.com", "slow.com", "a.com", "b.com", "c.com")
    val states = Seq(HostState("hot.com", 0.5, 10.0, 3L), HostState("slow.com", 40.0, 10.0, 1L),
      HostState("gone.com", 1.0, 10.0, 9L)).toDS().toDF()
    val small = cfg.copy(maxPerHost = 12)
    for (seed <- 1 to 4; c <- Seq(small.copy(maxGlobal = Int.MaxValue), small.copy(maxGlobal = 20))) {
      val rnd = new scala.util.Random(seed)
      val f = rnd.shuffle((1L to 400L).toList).map { seq =>
        val host = if (rnd.nextInt(2) == 0) "hot.com" else hosts(rnd.nextInt(hosts.size))
        (host, s"https://$host/p$seq", rnd.nextInt(3), seq, rnd.nextInt(6) != 0)
      }.toDF("host", "url", "priority", "seq", "ok")
      def flags(df: org.apache.spark.sql.DataFrame) =
        df.select("seq", Scheduler.Scheduled).as[(Long, Boolean)].collect().toMap
      val oneTask = Scheduler.withSchedule(f, states, c, 10.0, eligible = col("ok"), rows = 400L)
      val got = flags(oneTask)
      assert(got === flags(Scheduler.salted(f, states, c, 10.0, eligible = col("ok"))), s"seed $seed, $c")
      assert(got.size === 400 && got.values.exists(identity) && got.values.exists(!_))
      val plan = oneTask.queryExecution.executedPlan
      assert(Nodes.collect(plan) { case w: WindowExec => w }.nonEmpty, plan.treeString)
      assert(Nodes.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan.treeString)
    }
  }

  test("host state update: AutoThrottle AIMD converges toward latency/target") {
    val sched = frontier(("a.com", "u1", 0, 1L)).withColumn("x", lit(1))
    val s0 = spark.emptyDataset[HostState]
    val s1 = Scheduler.updateHostStates(sched, s0, cfg, round = 1, roundSec = 10.0).collect()
    assert(s1.length === 1)
    val st = s1.head
    assert(st.host === "a.com")
    // new delay = (2.0 + latency/16)/2 < 2.0 (latency < 0.55s)
    assert(st.delaySec < 2.0 && st.delaySec > 0.9)
    assert(st.fetched === 1L)
  }

  test("robots: longest matching prefix wins; unknown host allowed") {
    val f = Seq(
      ("a.com", "https://a.com/private/x", 0, 1L),
      ("a.com", "https://a.com/private/open/y", 0, 2L),
      ("a.com", "https://a.com/public", 0, 3L),
      ("z.com", "https://z.com/anything", 0, 4L))
      .toDF("host", "url", "priority", "seq")
    val rules = Seq(
      ("a.com", "/private", false),
      ("a.com", "/private/open", true))
      .toDF("host", "pathPrefix", "allow")
    val out = Robots.allowed(f, rules).select("url").as[String].collect().toSet
    assert(out === Set("https://a.com/private/open/y", "https://a.com/public", "https://z.com/anything"))
  }

  test("robots.txt parser: user-agent * section, allow/disallow prefixes") {
    val body =
      """User-agent: googlebot
        |Disallow: /only-google
        |
        |User-agent: *
        |Disallow: /cgi-bin/
        |Allow: /cgi-bin/ok
        |Disallow:
        |""".stripMargin
    val rules = Robots.parse("h.com", body)
    assert(rules === Seq(
      graft.model.RobotsRule("h.com", "/cgi-bin/", false),
      graft.model.RobotsRule("h.com", "/cgi-bin/ok", true)))
  }

  test("host state update: idle hosts keep their delay (AIMD moves only on fetches)") {
    import graft.model.HostState
    val s0 = Seq(
      HostState("slow.com", delaySec = 60.0, clockSec = 0.0, fetched = 5L),
      HostState("busy.com", delaySec = 2.0, clockSec = 0.0, fetched = 0L)).toDS()
    val sched = frontier(("busy.com", "u1", 0, 1L)) // slow.com gets no budget
    val s1 = Scheduler.updateHostStates(sched, s0, cfg, round = 1, roundSec = 10.0)
      .collect().map(s => s.host -> s).toMap
    // slow.com observed nothing: its throttle must NOT decay toward zero
    assert(s1("slow.com").delaySec === 60.0)
    assert(s1("slow.com").fetched === 5L)
    // busy.com fetched: AIMD average moves
    assert(s1("busy.com").delaySec < 2.0)
  }

  test("host state update ≡ plain-Scala AIMD: prior-only, scheduled-only and both") {
    val round = 4
    val roundSec = 10.0
    val prior = Seq(
      HostState("prior.com", delaySec = 5.0, clockSec = 20.0, fetched = 7L),
      HostState("both.com", delaySec = 1.5, clockSec = 10.0, fetched = 3L))
    val sched = frontier(
      ("both.com", "u1", 0, 1L), ("both.com", "u2", 0, 2L), ("new.com", "v1", 0, 3L))
    val got = Scheduler.updateHostStates(sched, prior.toDS(), cfg, round, roundSec)
      .collect().map(s => s.host -> s).toMap

    // the synthetic latency, as xxhash64(host + "#round") with Spark's seed
    def latency(host: String): Double = 0.05 + Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$host#$round"), 42L), 500L) / 1000.0
    def reference(host: String, fetchedNow: Long): HostState = {
      val p = prior.find(_.host == host)
      val d0 = p.map(_.delaySec).getOrElse(cfg.startDelaySec)
      HostState(host,
        if (fetchedNow > 0) math.min((d0 + latency(host) / cfg.targetConcurrency) / 2.0, 60.0) else d0,
        p.map(_.clockSec).getOrElse(0.0) + roundSec,
        p.map(_.fetched).getOrElse(0L) + fetchedNow)
    }
    assert(got === Map(
      "prior.com" -> reference("prior.com", 0L),
      "both.com" -> reference("both.com", 2L),
      "new.com" -> reference("new.com", 1L)))
  }

  test("robots parser: multi-UA groups, inline comments") {
    val body =
      """User-agent: *   # all crawlers
        |User-agent: somebot
        |Disallow: /blocked # staff only
        |
        |User-agent: otherbot
        |Disallow: /other
        |""".stripMargin
    // the star group lists a second UA line — its rules still apply to *;
    // inline comments never become part of the path
    assert(Robots.parse("h.com", body) ===
      Seq(graft.model.RobotsRule("h.com", "/blocked", allow = false)))
  }

  test("robots wildcards: * and $ match per RFC 9309; Allow wins length ties") {
    val f = Seq(
      ("a.com", "https://a.com/private/x", 0, 1L),
      ("a.com", "https://a.com/privateer", 0, 2L),
      ("a.com", "https://a.com/doc.pdf", 0, 3L),
      ("a.com", "https://a.com/doc.pdfx", 0, 4L),
      ("a.com", "https://a.com/page", 0, 5L),
      ("a.com", "https://a.com/item?sessionid=7", 0, 6L),
      ("a.com", "https://a.com/item", 0, 7L))
      .toDF("host", "url", "priority", "seq")
    val rules = Seq(
      ("a.com", "/private/*", false), // wildcard dir block
      ("a.com", "/*.pdf$", false),    // anchored extension block
      ("a.com", "/page", false),      // tied with the Allow below
      ("a.com", "/page", true),       //   -> Allow wins the tie (RFC 9309)
      ("a.com", "/*?sessionid=", false)) // query-matching rule
      .toDF("host", "pathPrefix", "allow")
    val out = Robots.allowed(f, rules).select("seq").as[Long].collect().toSet
    assert(out === Set(2L, 4L, 5L, 7L),
      s"expected privateer/doc.pdfx/page/item to survive, got $out")
  }

  test("offsite filter keeps exact domain and subdomains only") {
    val f = Seq(
      ("mastercard.co.uk", "u1", 0, 1L),
      ("www.mastercard.co.uk", "u2", 0, 2L),
      ("evil-mastercard.co.uk.evil.com", "u3", 0, 3L))
      .toDF("host", "url", "priority", "seq")
    val out = Robots.onSite(f, Seq("mastercard.co.uk")).select("url").as[String].collect().toSet
    assert(out === Set("u1", "u2"))
  }
}
