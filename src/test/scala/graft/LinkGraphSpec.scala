package graft

import org.apache.spark.sql.functions._

import graft.graph.LinkGraph

/** Link extraction/resolution, host-graph aggregation and integer
  * PageRank — the link-discovery feed path of an open-web frontier.
  */
class LinkGraphSpec extends SparkSpec {
  import spark.implicits._

  private val baseUrl = "https://www.example.com/dir/sub/page.html?x=1"

  test("rawLinks extracts hrefs and anchors in document order; decoys ignored") {
    val html =
      """<html><body>
        |<a href="https://other.com/a">First</a>
        |<A HREF='/root.html' class="x">Second  anchor</A>
        |<a class="y" href="rel/p.html"><b>bold</b>lead</a>
        |<a name="no-href-anchor">not a link</a>
        |<p>a < b and href="decoy" in prose</p>
        |<a href="">empty</a>
        |</body></html>""".stripMargin
    val out = LinkGraph.rawLinks(Seq((baseUrl, html)).toDF("url", "html"))
      .select("link_pos", "href_raw", "anchor")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq === Seq("https://other.com/a", "/root.html", "rel/p.html", ""))
    assert(out(0)._3 === "First")
    assert(out(1)._3 === "Second anchor", "anchor whitespace collapses")
    assert(out(2)._3 === "", "nested-markup anchor keeps only the text before the first tag")
  }

  test("resolveHref covers the RFC 3986 subset and nulls the non-fetchables") {
    val cases = Seq(
      "https://abs.com/x?q=2#frag" -> "https://abs.com/x?q=2", // absolute, fragment stripped
      "HTTP://UP.com/y" -> "HTTP://UP.com/y",                  // scheme case preserved (canonicalizer owns case)
      "//cdn.com/z" -> "https://cdn.com/z",                    // protocol-relative
      "/top.html" -> "https://www.example.com/top.html",       // root-relative
      "leaf.html" -> "https://www.example.com/dir/sub/leaf.html", // relative vs base dir
      "a/b.html" -> "https://www.example.com/dir/sub/a/b.html",
      "mailto:x@y.z" -> null,
      "javascript:void(0)" -> null,
      "tel:+1-555" -> null,
      "data:text/plain;base64,QQ==" -> null,
      "ipfs://weird" -> null,                                  // unknown absolute scheme
      "#frag-only" -> null,
      "" -> null)
    val df = cases.zipWithIndex.map { case ((h, _), i) => (i, h) }.toDF("i", "href")
      .withColumn("r", LinkGraph.resolveHref(lit(baseUrl), col("href")))
    val got = df.select("i", "r").as[(Int, Option[String])].collect().toMap
    cases.zipWithIndex.foreach { case ((h, want), i) =>
      assert(got(i) === Option(want), s"href '$h'")
    }
  }

  test("relative resolution against a path-less base uses '/'") {
    val r = Seq(("https://bare.com", "p.html")).toDF("url", "href")
      .select(LinkGraph.resolveHref(col("url"), col("href")).as("r"))
      .as[String].collect()
    assert(r.head === "https://bare.com/p.html")
  }

  test("a query-only href keeps the base's full path and replaces its query (RFC 3986 §5.3)") {
    val r = Seq((baseUrl, "?page=2"), ("https://bare.com", "?page=2"), ("https://a.com/d/", "?q#f"))
      .toDF("url", "href")
      .select(LinkGraph.resolveHref(col("url"), col("href")).as("r"))
      .as[String].collect()
    assert(r.toSeq === Seq(
      "https://www.example.com/dir/sub/page.html?page=2", "https://bare.com/?page=2", "https://a.com/d/?q"))
  }

  test("hostEdges drops self-edges by default and counts multiplicity") {
    val links = Seq(
      ("https://a.com/1", "https://b.com/x"),
      ("https://a.com/2", "https://b.com/y"),
      ("https://a.com/3", "https://a.com/self"),
      ("https://b.com/1", "https://a.com/z")
    ).toDF("url", "dst_url")
    val e = LinkGraph.hostEdges(links).as[(String, String, Long)].collect().toSet
    assert(e === Set(("a.com", "b.com", 2L), ("b.com", "a.com", 1L)))
    val withSelf = LinkGraph.hostEdges(links, keepSelfEdges = true)
      .as[(String, String, Long)].collect().toSet
    assert(withSelf.contains(("a.com", "a.com", 1L)))
  }

  test("pageRankInt matches the hand-computed fixed-point on a 3-node graph") {
    // a -> b, a -> c, b -> c; c dangling. N=3, scale=300, damping 17/20.
    // init: 100 each; base = (3*100)/20 = 15
    // iter1: shares a: 100/2=50 -> b,c; b: 100 -> c; dangling c: 100 -> 33 each
    //   a: 15 + 17*(0+33)/20   = 15 + 561/20  = 15+28 = 43
    //   b: 15 + 17*(50+33)/20  = 15 + 1411/20 = 15+70 = 85
    //   c: 15 + 17*(150+33)/20 = 15 + 3111/20 = 15+155 = 170
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val r = LinkGraph.pageRankInt(edges, iters = 1, scale = 300L)
      .as[(String, Long)].collect().toMap
    assert(r === Map("a" -> 43L, "b" -> 85L, "c" -> 170L))
  }

  test("pageRankInt is deterministic across partitionings") {
    val edges = (1 to 400).map(i => (s"h${i % 23}", s"h${(i * 7 + 3) % 29}"))
      .toDF("src", "dst")
    val r1 = LinkGraph.pageRankInt(edges.repartition(1), iters = 3)
      .as[(String, Long)].collect().toMap
    val r16 = LinkGraph.pageRankInt(edges.repartition(16), iters = 3)
      .as[(String, Long)].collect().toMap
    assert(r1 === r16, "integer arithmetic must make rank a pure function of the graph")
    val total = r1.values.sum
    assert(total <= 1000000000000L && total > 999999990000L,
      s"mass ~scale with truncation drift, got $total")
  }

  test("trustRankInt matches the hand-computed fixed point; spam island stays 0") {
    // a -> b, a -> c, b -> c; c dangling; trusted = {a}, scale=300, nT=1.
    // init: a=300. iter1: shares a:150->b,c; dang(c)=0
    //   a=(3*300)/20=45, b=c=(17*150)/20=127
    // iter2: dang=c=127, dsh=127; shares a:22->b,c; b:127->c
    //   a=(900+17*127)/20=152, b=(17*22)/20=18, c=(17*149)/20=126
    // spam island d<->e: no path from a — exactly 0 forever.
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"), ("e", "d"))
      .toDF("src", "dst")
    val trusted = Seq("a", "not-in-graph").toDF("host")
    val r = LinkGraph.trustRankInt(edges, trusted, iters = 2, scale = 300L)
      .as[(String, Boolean, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r("a") === ((true, 152L)))
    assert(r("b") === ((false, 18L)))
    assert(r("c") === ((false, 126L)))
    assert(r("d") === ((false, 0L)), "unreachable-from-seeds host must demote to exactly 0")
    assert(r("e") === ((false, 0L)))
  }

  test("trustRankInt is deterministic across partitionings") {
    val edges = (1 to 400).map(i => (s"h${i % 23}", s"h${(i * 7 + 3) % 29}"))
      .toDF("src", "dst")
    val trusted = Seq("h0", "h5", "h11").toDF("host")
    val r1 = LinkGraph.trustRankInt(edges.repartition(1), trusted, iters = 3)
      .as[(String, Boolean, Long)].collect().toSet
    val r16 = LinkGraph.trustRankInt(edges.repartition(16), trusted, iters = 3)
      .as[(String, Boolean, Long)].collect().toSet
    assert(r1 === r16)
  }

  test("discoverFrontier: links → ref counts → unseen → admitted frontier") {
    val pages = Seq(
      ("https://a.com/p1", """<a href="https://b.com/x">b</a><a href="/local">l</a>"""),
      ("https://c.com/p2", """<a href="https://b.com/x">again</a><a href="https://blocked.bad/x">n</a>""")
    ).toDF("url", "html")
    val seen = Seq("https://a.com/local").toDF("url")
    val blocklist = Seq("blocked.bad").toDF("suffix")
    val out = LinkGraph.discoverFrontier(pages, seen, blocklist)
      .as[(String, String, Long)].collect().toSet
    assert(out === Set(("https://b.com/x", "b.com", 2L)),
      "seen target dropped, blocked host dropped, refs counted across pages")
  }

  test("links end-to-end: extraction + resolution + fragment/decoy discipline") {
    val html =
      """<a href="/p1">one</a><a href="mailto:x@y">skip</a><a href="p2#frag">two</a>"""
    val out = LinkGraph.links(Seq((baseUrl, html)).toDF("url", "html"))
      .select("link_pos", "dst_url").as[(Long, String)].collect().sortBy(_._1)
    // positions are anchor positions (0,2) — the mailto consumed pos 1
    assert(out.toSeq === Seq(
      0L -> "https://www.example.com/p1",
      2L -> "https://www.example.com/dir/sub/p2"))
  }
}
