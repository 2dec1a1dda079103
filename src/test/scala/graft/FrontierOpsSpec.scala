package graft

import org.apache.spark.sql.functions._

import graft.plan.Sitemaps
import graft.politeness.{HostBudget, Recrawl}
import graft.urls.UrlFilter

/** Frontier admission (blocklist + trap heuristics), sitemap ingestion,
  * recrawl scheduling and host-budget apportionment — the open-web
  * frontier operators the closed CardRates URL space never needed.
  */
class FrontierOpsSpec extends SparkSpec {
  import spark.implicits._

  private val blocklist = Seq("badtld", "ads.example.com").toDF("suffix")

  test("blocklist blocks the exact host, every subdomain, and nothing else") {
    val urls = Seq(
      (1L, "https://ads.example.com/x"),          // exact match
      (2L, "https://sub.ads.example.com/x"),      // subdomain of entry
      (3L, "https://spam.badtld/x"),              // TLD entry
      (4L, "https://nonads.example.com/x"),       // suffix of the LABEL only — must pass
      (5L, "https://example.com/ads.example.com") // entry in the PATH — must pass
    ).toDF("id", "url")
    val v = UrlFilter.verdicts(urls, blocklist)
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert(v(1L) === "blocked")
    assert(v(2L) === "blocked")
    assert(v(3L) === "blocked")
    assert(v(4L) === "ok", "nonads.example.com shares a string suffix but not a dot-suffix")
    assert(v(5L) === "ok", "the list matches hosts, never paths")
  }

  test("sitemap index parse: nested sitemap locs, optional/hostile lastmod, loc-less drop") {
    val xml =
      """<sitemapindex>
        |<sitemap><loc>https://a.com/sm1.xml</loc><lastmod>2026-05-03T07:00:00</lastmod></sitemap>
        |<sitemap><loc>https://a.com/sm2.xml</loc></sitemap>
        |<sitemap><lastmod>2026-01-01T00:00:00</lastmod></sitemap>
        |<sitemap><loc>https://a.com/sm3.xml</loc><lastmod>not-a-time</lastmod></sitemap>
        |</sitemapindex>""".stripMargin
    val out = Sitemaps.parseIndex(Seq((7, xml)).toDF("site", "xml"), keep = Seq("site"))
      .select("site", "sitemap_pos", "loc", "lastmod")
      .as[(Int, Int, String, Option[java.sql.Timestamp])].collect().sortBy(_._2)
    assert(out.map(_._3).toSeq === Seq(
      "https://a.com/sm1.xml", "https://a.com/sm2.xml", "https://a.com/sm3.xml"),
      "loc-less block dropped; document order preserved")
    assert(out(0)._4.get.toString.startsWith("2026-05-03 07:00:00"))
    assert(out(1)._4.isEmpty, "absent lastmod is NULL")
    assert(out(2)._4.isEmpty, "hostile lastmod try-casts to NULL, never fails the batch")
    assert(out.map(_._2).toSeq === Seq(0, 1, 3), "positions are raw block positions")
  }

  test("trap heuristics fire on depth and params; blocked wins precedence") {
    val deep = "https://a.com/" + "s/" * 9 + "page"
    val paramy = "https://a.com/p?" + (1 to 7).map(i => s"k$i=1").mkString("&")
    val urls = Seq(
      (1L, deep),
      (2L, paramy),
      (3L, "https://spam.badtld/" + "s/" * 9 + "page"), // blocked AND deep
      (4L, "https://a.com/one/two?k=1")
    ).toDF("id", "url")
    val v = UrlFilter.verdicts(urls, blocklist)
    val m = v.select("id", "verdict").as[(Long, String)].collect().toMap
    assert(m(1L) === "trap_depth")
    assert(m(2L) === "trap_params")
    assert(m(3L) === "blocked", "blocked must win over trap_depth")
    assert(m(4L) === "ok")
    val row = v.filter($"id" === 4L).select("depth", "n_params")
      .as[(Long, Long)].head()
    assert(row === ((2L, 1L)), "/one/two?k=1 → 2 segments, 1 param")
  }

  test("sitemap entries parse with optional fields NULL and loc-less blocks dropped") {
    val xml =
      "<urlset>" +
        "<url><loc>https://a.com/1</loc><lastmod>2026-02-03</lastmod><priority>0.8</priority></url>" +
        "<url><loc>https://a.com/2</loc></url>" + // optionals absent
        "<url><lastmod>2026-01-01</lastmod></url>" + // no loc — dropped
        "<url><loc>https://a.com/3</loc><lastmod>not-a-date</lastmod><priority>x</priority></url>" +
        "</urlset>"
    val out = Sitemaps.parseEntries(Seq((7L, xml)).toDF("site", "xml"), keep = Seq("site"))
      .orderBy("entry_pos")
      .select("site", "entry_pos", "loc", "lastmod", "priority")
      .collect()
    assert(out.length === 3, "the loc-less block must not survive")
    assert(out(0).getString(2) === "https://a.com/1")
    assert(out(0).getDate(3).toString === "2026-02-03")
    assert(out(0).getDouble(4) === 0.8)
    assert(out(1).getString(2) === "https://a.com/2")
    assert(out(1).isNullAt(3) && out(1).isNullAt(4), "absent optionals are NULL")
    assert(out(2).isNullAt(3) && out(2).isNullAt(4),
      "malformed date/number go NULL, never fail the batch")
  }

  test("pretty-printed sitemaps: a <url> or <sitemap> block spanning lines is one entry") {
    val urlset =
      """<urlset>
        |  <url>
        |    <loc>https://a.com/1</loc>
        |    <lastmod>2026-02-03</lastmod>
        |  </url>
        |  <url><loc>https://a.com/2</loc></url>
        |</urlset>""".stripMargin
    val entries = Sitemaps.parseEntries(Seq((7L, urlset)).toDF("site", "xml"))
      .orderBy("entry_pos").select("entry_pos", "loc", "lastmod").collect()
    assert(entries.map(_.getString(1)).toSeq === Seq("https://a.com/1", "https://a.com/2"))
    assert(entries(0).getDate(2).toString === "2026-02-03")
    val index =
      """<sitemapindex>
        |  <sitemap>
        |    <loc>https://a.com/sm1.xml</loc>
        |  </sitemap>
        |  <sitemap><loc>https://a.com/sm2.xml</loc></sitemap>
        |</sitemapindex>""".stripMargin
    val sitemaps = Sitemaps.parseIndex(Seq((7L, index)).toDF("site", "xml"))
      .orderBy("sitemap_pos").select("loc").as[String].collect()
    assert(sitemaps.toSeq === Seq("https://a.com/sm1.xml", "https://a.com/sm2.xml"))
  }

  test("unseenEntries drops exactly the already-seen locs") {
    val entries = Seq((0, "https://a.com/1"), (1, "https://a.com/2"))
      .toDF("entry_pos", "loc")
    val seen = Seq("https://a.com/2", "https://other.com/x").toDF("loc")
    val out = Sitemaps.unseenEntries(entries, seen).select("loc").as[String].collect()
    assert(out.toSeq === Seq("https://a.com/1"))
  }

  test("robots Sitemap lines: group-independent, case-folded, comment-stripped") {
    val body =
      """User-agent: googlebot
        |Disallow: /a
        |Sitemap: https://a.com/s1.xml
        |User-agent: *
        |Disallow: /b
        |  sitemap:   https://a.com/s2.xml   # trailing comment
        |# Sitemap: https://a.com/commented.xml
        |SITEMAP: https://a.com/s3.xml
        |Sitemap:
        |Sitemap: #onlycomment
        |notasitemap: https://a.com/x.xml""".stripMargin
    val expected = Seq("https://a.com/s1.xml", "https://a.com/s2.xml", "https://a.com/s3.xml")
    assert(graft.politeness.Robots.sitemapUrls(body) === expected,
      "group-independent collection, lowercase key, comments and empties dropped")
    // the production Column dual must land on the identical set, in order
    val pages = Seq(("https://a.com/robots.txt", body), ("https://a.com/page", body))
      .toDF("url", "text")
    val out = graft.politeness.Robots.sitemapsFromPages(pages)
      .orderBy("sitemap_pos")
      .select("host", "sitemap_url").as[(String, String)].collect()
    assert(out.map(_._2).toSeq === expected, "column dual ≡ scalar reference")
    assert(out.forall(_._1 == "a.com"))
    assert(out.length === 3, "only the /robots.txt row parses — never ordinary pages")
  }

  test("recrawl: singleton → frozen rate 0; burst inside an hour floors the span") {
    val obs = Seq(
      (1L, "2026-01-01 00:00:00"), // singleton
      (2L, "2026-01-01 00:00:00"), (2L, "2026-01-01 00:10:00"), // burst: 1 change / <1h
      (3L, "2026-01-01 00:00:00"), (3L, "2026-01-05 00:00:00")  // 1 change / 96h
    ).toDF("url_id", "t").select($"url_id", $"t".cast("timestamp").as("ts"))
    val out = Recrawl.schedule(obs)
      .select("url_id", "n_obs", "lambda_per_hour", "revisit_tier")
      .as[(Long, Long, Double, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._3 === 0.0 && out(1L)._4 === "frozen")
    assert(out(2L)._3 === 1.0, "span floors at 1h: 1 interval / 1h")
    assert(out(2L)._4 === "hot")
    assert(out(3L)._3 === math.round(1.0 / 96.0 * 1e6) / 1e6)
    assert(out(3L)._4 === "warm")
  }

  test("apportionment: exact budget, Hamilton bound, deterministic ties") {
    val backlog = Seq(("a", 5L), ("b", 3L), ("c", 3L), ("d", 1L)).toDF("host", "cnt")
    val out = HostBudget.apportion(backlog, budget = 10L)
      .select("host", "alloc").as[(String, Long)].collect().toMap
    // quotas: a 50/12=4.17, b/c 30/12=2.5, d 10/12=0.83 → bases 4,2,2,0,
    // leftover 2 → remainders: d(10) > b(6)=c(6) > a(2); tie b<c by host
    assert(out.values.sum === 10L, "allocations must sum to the budget exactly")
    assert(out === Map("a" -> 4L, "b" -> 3L, "c" -> 2L, "d" -> 1L))
    // Hamilton bound: |alloc − exact quota| < 1 for every host
    val total = 12.0
    Seq("a" -> 5L, "b" -> 3L, "c" -> 3L, "d" -> 1L).foreach { case (h, c) =>
      assert(math.abs(out(h) - 10.0 * c / total) < 1.0, s"quota bound violated for $h")
    }
  }

  test("apportionment survives budget > backlog and budget 0") {
    val backlog = Seq(("a", 2L), ("b", 1L)).toDF("host", "cnt")
    val big = HostBudget.apportion(backlog, budget = 30L)
      .select("host", "alloc").as[(String, Long)].collect().toMap
    assert(big.values.sum === 30L && big("a") === 20L && big("b") === 10L)
    val zero = HostBudget.apportion(backlog, budget = 0L)
      .select("alloc").as[Long].collect()
    assert(zero.toSeq === Seq(0L, 0L))
  }
}
