package graft.leaves

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.leaves.Golden.t

/** The link-graph leaves: link extraction, anchor statistics, PageRank,
  * TrustRank and the rank-weighted planning and discovery rounds.
  */
object Graph {

  /** q68's body; q72 aggregates the links it extracts. */
  private def linkRows(s: SparkSession, dir: String): DataFrame = {
    // link extraction + resolution under the gate: every doc becomes an
    // HTML page whose anchors are planted by doc_id arithmetic — one
    // absolute href, one single-quoted root-relative, one relative with
    // nested markup (anchor text must come out EMPTY), plus decoys that
    // consume anchor positions without emitting links (mailto on even
    // ids, fragment-only on %5) and a protocol-relative on %3. The
    // engine runs the production regexp + Column resolution over the
    // real HTML; the oracle never parses anything — every (doc_id,
    // link_pos, dst_url, anchor) row is re-derived analytically from
    // the generation arithmetic, so a drift in extraction order,
    // position accounting, decoy discipline or any resolution rule
    // hash-mismatches.
    val pages = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", expr(
        """concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/d',
                  CAST(doc_id % 5 AS STRING), '/p', CAST(doc_id AS STRING), '.html')"""))
      .withColumn("html", expr(
        """concat('<html><body><h1>Doc ', CAST(doc_id AS STRING), '</h1>',
             '<a href="https://h', CAST((doc_id * 7 + 1) % 40 AS STRING),
               '.example.com/x', CAST(doc_id AS STRING), '">abs ',
               CAST(doc_id AS STRING), '</a>',
             CASE WHEN doc_id % 2 = 0
                  THEN '<a href="mailto:a@b.c">mail me</a>' ELSE '' END,
             '<a href=''/r/', CAST(doc_id % 100 AS STRING), '''>root</a>',
             '<a class="z" href="s', CAST(doc_id % 9 AS STRING),
               '/leaf.html"><b>bold</b>rel</a>',
             CASE WHEN doc_id % 5 = 0 THEN '<a href="#top">top</a>' ELSE '' END,
             CASE WHEN doc_id % 3 = 0
                  THEN concat('<a href="//cdn', CAST(doc_id % 7 AS STRING),
                              '.example.net/a">cdn</a>') ELSE '' END,
             '</body></html>')"""))
    graft.graph.LinkGraph.links(pages)
      .select(col("doc_id"), col("link_pos"), col("dst_url"), col("anchor"))
      .orderBy("doc_id", "link_pos")
  }

  val leaves: Seq[Leaf] = Seq(
    // q68: the oracle never parses HTML — every (doc_id, link_pos,
    // dst_url, anchor) row is re-derived analytically from the planting
    // arithmetic, including the POSITIONS the non-emitting decoys consume
    // (mailto on even ids shifts everything after it; the fragment-only
    // anchor on %5 shifts the protocol-relative one) and the resolution
    // of root-relative/relative/protocol-relative hrefs against the base
    Leaf("q68_link_extract", linkRows, oracle =
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS m2,
                  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS m5
           FROM documents),
         l AS (
           SELECT doc_id, 0 AS link_pos,
                  'https://h' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR)
                    || '.example.com/x' || CAST(doc_id AS VARCHAR) AS dst_url,
                  'abs ' || CAST(doc_id AS VARCHAR) AS anchor
           FROM d
           UNION ALL
           SELECT doc_id, 1 + m2,
                  'https://h' || CAST(doc_id % 40 AS VARCHAR)
                    || '.example.com/r/' || CAST(doc_id % 100 AS VARCHAR),
                  'root'
           FROM d
           UNION ALL
           SELECT doc_id, 2 + m2,
                  'https://h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/d'
                    || CAST(doc_id % 5 AS VARCHAR) || '/s' || CAST(doc_id % 9 AS VARCHAR)
                    || '/leaf.html',
                  ''
           FROM d
           UNION ALL
           SELECT doc_id, 3 + m2 + m5,
                  'https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net/a',
                  'cdn'
           FROM d WHERE doc_id % 3 = 0)
         SELECT doc_id, CAST(link_pos AS BIGINT) AS link_pos, dst_url, anchor
         FROM l ORDER BY doc_id, link_pos"""),

    // q69: the THREE integer power iterations replayed bit-for-bit —
    // edge distinct, self-edge drop, out-degrees, per-source integer
    // share (rank // deg), exact integer inflow sums, dangling mass
    // (// N), and the 17/20 damping in integer division. Integer sums
    // are order-independent, so any value drift is a REAL semantic drift.
    Leaf("q69_host_pagerank", (s, dir) => {
      // host graph + integer PageRank under the gate: a 45-host graph
      // derived from doc_id arithmetic (40 h-hosts plus 5 pure-sink hosts
      // that exercise the dangling-mass path), built through the
      // production hostEdges (self-edges dropped) and ranked by THREE
      // checkpointed integer power iterations. Every arithmetic step is
      // 64-bit integer (share = rank div outdeg, exact integer sums,
      // dangling mass div N, 17/20 damping in integer div), so the DuckDB
      // oracle replays all three iterations bit-for-bit — any drift in
      // edge dedup, degree counting, dangling handling or the damping
      // arithmetic flips the hash.
      val docs = t(s, dir, "documents").select("doc_id")
      val urlLinks = docs
        .withColumn("url", expr(
          "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
        .withColumn("dst_url", expr(
          "concat('https://h', CAST((doc_id * 7 + 13) % 40 AS STRING), '.example.com/q', CAST(doc_id AS STRING))"))
        .select("url", "dst_url")
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("url", expr(
            "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
          .withColumn("dst_url", expr(
            "concat('https://sink', CAST(doc_id % 5 AS STRING), '.example.org/')"))
          .select("url", "dst_url"))
      val edges = graft.graph.LinkGraph.hostEdges(urlLinks)
      graft.graph.LinkGraph.pageRankInt(edges, iters = 3).orderBy("host")
    }, oracle =
      """WITH raw AS (
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS src,
                  'h' || CAST((doc_id * 7 + 13) % 40 AS VARCHAR) || '.example.com' AS dst
           FROM documents
           UNION ALL
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com',
                  'sink' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
           FROM documents WHERE doc_id % 13 = 0),
         e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         nodes AS (SELECT DISTINCT h FROM
                    (SELECT src AS h FROM e UNION ALL SELECT dst AS h FROM e) t),
         k AS (SELECT count(*) AS n,
                      1000000000000 // count(*) AS init,
                      (3 * (1000000000000 // count(*))) // 20 AS base
               FROM nodes),
         od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT h AS host, (SELECT init FROM k) AS rank FROM nodes),
         d1 AS (SELECT coalesce(sum(r0.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r0 LEFT JOIN od ON od.src = r0.host WHERE od.src IS NULL),
         i1 AS (SELECT e.dst AS host, sum(r0.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r0 ON r0.host = e.src GROUP BY 1),
         r1 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i1.infl, 0) + (SELECT dsh FROM d1))) // 20 AS rank
                FROM nodes nd LEFT JOIN i1 ON i1.host = nd.h),
         d2 AS (SELECT coalesce(sum(r1.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r1 LEFT JOIN od ON od.src = r1.host WHERE od.src IS NULL),
         i2 AS (SELECT e.dst AS host, sum(r1.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r1 ON r1.host = e.src GROUP BY 1),
         r2 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i2.infl, 0) + (SELECT dsh FROM d2))) // 20 AS rank
                FROM nodes nd LEFT JOIN i2 ON i2.host = nd.h),
         d3 AS (SELECT coalesce(sum(r2.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r2 LEFT JOIN od ON od.src = r2.host WHERE od.src IS NULL),
         i3 AS (SELECT e.dst AS host, sum(r2.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r2 ON r2.host = e.src GROUP BY 1),
         r3 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i3.infl, 0) + (SELECT dsh FROM d3))) // 20 AS rank
                FROM nodes nd LEFT JOIN i3 ON i3.host = nd.h)
         SELECT host, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY host"""),

    // q72: q68's analytic link set re-aggregated per target with the
    // oracle's own ordered-list machinery — ref counts, distinct
    // referring hosts, the (doc_id, link_pos)-ordered anchor join with
    // empties filtered and the 20-anchor hot-target cap; the
    // all-empty-anchor targets (the /leaf.html family) pin the
    // empty-list '' contract via the coalesce
    Leaf("q72_anchor_stats", (s, dir) => {
      // anchor-text aggregation under the gate: q68's link set grouped by
      // target URL — ref counts, distinct referring hosts, and the
      // '|'-joined anchor list in deterministic (doc_id, link_pos) order
      // with empty anchors filtered and a 256-anchor cap. The oracle
      // re-derives the link set analytically (the q68 arithmetic) and
      // re-aggregates with its own ordered list machinery. maxRefs=20 so
      // the hot-target cap fires at every SF (the cdn targets collect
      // ~24+ refs even at sf0.001).
      val links = linkRows(s, dir)
        .withColumn("url", expr(
          "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/d', CAST(doc_id % 5 AS STRING), '/p', CAST(doc_id AS STRING), '.html')"))
      graft.graph.LinkGraph.anchorStats(
        links, orderCols = Seq("doc_id", "link_pos"), maxRefs = 20)
        .orderBy("dst_url")
    }, oracle =
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS m2,
                  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS m5
           FROM documents),
         l AS (
           SELECT doc_id, 0 AS link_pos,
                  'https://h' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR)
                    || '.example.com/x' || CAST(doc_id AS VARCHAR) AS dst_url,
                  'abs ' || CAST(doc_id AS VARCHAR) AS anchor
           FROM d
           UNION ALL
           SELECT doc_id, 1 + m2,
                  'https://h' || CAST(doc_id % 40 AS VARCHAR)
                    || '.example.com/r/' || CAST(doc_id % 100 AS VARCHAR),
                  'root'
           FROM d
           UNION ALL
           SELECT doc_id, 2 + m2,
                  'https://h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/d'
                    || CAST(doc_id % 5 AS VARCHAR) || '/s' || CAST(doc_id % 9 AS VARCHAR)
                    || '/leaf.html',
                  ''
           FROM d
           UNION ALL
           SELECT doc_id, 3 + m2 + m5,
                  'https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net/a',
                  'cdn'
           FROM d WHERE doc_id % 3 = 0)
         SELECT dst_url,
                CAST(count(*) AS BIGINT) AS n_refs,
                CAST(count(DISTINCT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com') AS BIGINT) AS n_hosts,
                coalesce(array_to_string(
                  list_slice(
                    list(anchor ORDER BY doc_id, link_pos) FILTER (WHERE anchor <> ''),
                    1, 20), '|'), '') AS anchors
         FROM l GROUP BY 1 ORDER BY dst_url"""),

    // q73: the centrality-weighted planning chain replayed END TO END —
    // the q60-style gate re-parse (badtld + exact-host block, trap
    // thresholds), the per-host backlog, all three q69 integer PageRank
    // iterations, the Hamilton split re-weighted by rank, and the
    // spend = min(alloc, backlog) cap. h17.example.com doubles as a
    // suffix decoy for the h7.example.com block (string- but not
    // dot-suffix).
    Leaf("q73_rank_weighted_plan", (s, dir) => {
      // the centrality-weighted planning round under the gate — the
      // composition the new link-graph operators exist FOR: admission
      // gate (blocklist + trap heuristics) → per-host backlog → integer
      // PageRank over the host graph (the q69 edge set) → Hamilton
      // apportionment of a 1000-URL budget weighted by RANK (crawl
      // budget follows centrality, Cho/Garcia-Molina/Page WWW'98) →
      // spend = min(alloc, backlog) (a host cannot spend more than its
      // backlog; the residual under-spend deliberately rolls to the next
      // round rather than re-apportioning in-round). The oracle replays
      // the ENTIRE chain — gate re-parse, backlog, all three integer
      // PageRank iterations, the rank-weighted Hamilton split and the
      // min — so a drift anywhere flips the hash.
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id").as("id"))
      val urls = docs.withColumn("url", expr(
        """concat('https://',
             CASE WHEN id % 17 = 0
                  THEN concat('spam', CAST(id % 3 AS STRING), '.badtld')
                  ELSE concat('h', CAST(id % 40 AS STRING), '.example.com') END,
             '/',
             repeat(concat('d', CAST(id % 5 AS STRING), '/'), CAST(id % 12 AS INT)),
             'page',
             concat('?a=', CAST(id % 10 AS STRING), repeat('&q=1', CAST(id % 8 AS INT))))"""))
      val blocklist = Seq("badtld", "h7.example.com").toDF("suffix")
      val backlog = graft.urls.UrlFilter.verdicts(urls, blocklist)
        .filter(col("verdict") === "ok")
        .groupBy("host").agg(count(lit(1)).as("backlog"))
      val links = t(s, dir, "documents").select("doc_id")
        .withColumn("url", expr(
          "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
        .withColumn("dst_url", expr(
          "concat('https://h', CAST((doc_id * 7 + 13) % 40 AS STRING), '.example.com/q', CAST(doc_id AS STRING))"))
        .select("url", "dst_url")
        .unionByName(t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 13 === 0)
          .withColumn("url", expr(
            "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
          .withColumn("dst_url", expr(
            "concat('https://sink', CAST(doc_id % 5 AS STRING), '.example.org/')"))
          .select("url", "dst_url"))
      val ranks = graft.graph.LinkGraph.pageRankInt(
        graft.graph.LinkGraph.hostEdges(links), iters = 3)
      val weighted = backlog.join(ranks, Seq("host"))
      graft.politeness.HostBudget.apportion(weighted, budget = 1000L, cntCol = "rank")
        .join(backlog, Seq("host"))
        .select(col("host"), col("backlog"), col("rank"), col("alloc"),
          least(col("alloc"), col("backlog")).as("spend"))
        .orderBy("host")
    }, oracle =
      """WITH okd AS (
           SELECT doc_id AS id,
                  'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS host
           FROM documents
           WHERE doc_id % 17 <> 0 AND doc_id % 40 <> 7
             AND doc_id % 12 < 8 AND doc_id % 8 < 5),
         b AS (SELECT host, count(*) AS backlog FROM okd GROUP BY 1),
         raw AS (
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS src,
                  'h' || CAST((doc_id * 7 + 13) % 40 AS VARCHAR) || '.example.com' AS dst
           FROM documents
           UNION ALL
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com',
                  'sink' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
           FROM documents WHERE doc_id % 13 = 0),
         e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         nodes AS (SELECT DISTINCT h FROM
                    (SELECT src AS h FROM e UNION ALL SELECT dst AS h FROM e) t),
         k AS (SELECT count(*) AS n,
                      1000000000000 // count(*) AS init,
                      (3 * (1000000000000 // count(*))) // 20 AS base
               FROM nodes),
         od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT h AS host, (SELECT init FROM k) AS rank FROM nodes),
         d1 AS (SELECT coalesce(sum(r0.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r0 LEFT JOIN od ON od.src = r0.host WHERE od.src IS NULL),
         i1 AS (SELECT e.dst AS host, sum(r0.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r0 ON r0.host = e.src GROUP BY 1),
         r1 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i1.infl, 0) + (SELECT dsh FROM d1))) // 20 AS rank
                FROM nodes nd LEFT JOIN i1 ON i1.host = nd.h),
         d2 AS (SELECT coalesce(sum(r1.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r1 LEFT JOIN od ON od.src = r1.host WHERE od.src IS NULL),
         i2 AS (SELECT e.dst AS host, sum(r1.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r1 ON r1.host = e.src GROUP BY 1),
         r2 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i2.infl, 0) + (SELECT dsh FROM d2))) // 20 AS rank
                FROM nodes nd LEFT JOIN i2 ON i2.host = nd.h),
         d3 AS (SELECT coalesce(sum(r2.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r2 LEFT JOIN od ON od.src = r2.host WHERE od.src IS NULL),
         i3 AS (SELECT e.dst AS host, sum(r2.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r2 ON r2.host = e.src GROUP BY 1),
         r3 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i3.infl, 0) + (SELECT dsh FROM d3))) // 20 AS rank
                FROM nodes nd LEFT JOIN i3 ON i3.host = nd.h),
         w AS (SELECT b.host, b.backlog, r3.rank
               FROM b JOIN r3 ON r3.host = b.host),
         hb1 AS (SELECT host, backlog, rank,
                        (1000 * rank) // (SELECT sum(rank) FROM w) AS base,
                        (1000 * rank) % (SELECT sum(rank) FROM w) AS rem
                 FROM w),
         hb2 AS (SELECT host, backlog, rank, base,
                        row_number() OVER (ORDER BY rem DESC, host ASC) AS rk,
                        (SELECT 1000 - sum(base) FROM hb1) AS leftover
                 FROM hb1)
         SELECT host, backlog, CAST(rank AS BIGINT) AS rank,
                CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc,
                CAST(least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END, backlog) AS BIGINT) AS spend
         FROM hb2 ORDER BY host"""),

    // q74: the discovery loop replayed analytically — the q68 link
    // arithmetic (with per-family hosts emitted alongside), ref-count
    // aggregation, the seen anti-join (even-host /r/ targets seen by the
    // parity argument; page self-URLs a structural no-op), and the
    // cdn3 block
    Leaf("q74_discovery_round", (s, dir) => {
      // the discovery round under the gate — the open-web loop closure:
      // fetched pages (the q68 HTML) → resolved links → per-target ref
      // counts → seen-set anti-join → admission gate → next frontier.
      // The seen set plants both a no-op decoy (every page's own URL —
      // never a link target by construction) and a real filter (the
      // root-relative targets of EVEN doc_ids: since d ≡ host (mod 40)
      // forces d's parity, every /r/ target on an even host is seen and
      // must drop, every odd-host one survives). cdn3.example.net is
      // blocklisted. The oracle replays everything analytically.
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val pages = docs
        .withColumn("url", expr(
          """concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/d',
                    CAST(doc_id % 5 AS STRING), '/p', CAST(doc_id AS STRING), '.html')"""))
        .withColumn("html", expr(
          """concat('<html><body><h1>Doc ', CAST(doc_id AS STRING), '</h1>',
               '<a href="https://h', CAST((doc_id * 7 + 1) % 40 AS STRING),
                 '.example.com/x', CAST(doc_id AS STRING), '">abs ',
                 CAST(doc_id AS STRING), '</a>',
               CASE WHEN doc_id % 2 = 0
                    THEN '<a href="mailto:a@b.c">mail me</a>' ELSE '' END,
               '<a href=''/r/', CAST(doc_id % 100 AS STRING), '''>root</a>',
               '<a class="z" href="s', CAST(doc_id % 9 AS STRING),
                 '/leaf.html"><b>bold</b>rel</a>',
               CASE WHEN doc_id % 5 = 0 THEN '<a href="#top">top</a>' ELSE '' END,
               CASE WHEN doc_id % 3 = 0
                    THEN concat('<a href="//cdn', CAST(doc_id % 7 AS STRING),
                                '.example.net/a">cdn</a>') ELSE '' END,
               '</body></html>')"""))
      val seen = docs.select(expr(
        """concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/d',
                  CAST(doc_id % 5 AS STRING), '/p', CAST(doc_id AS STRING), '.html')""").as("url"))
        .unionByName(docs.filter(col("doc_id") % 2 === 0).select(expr(
          """concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/r/',
                    CAST(doc_id % 100 AS STRING))""").as("url")))
      val blocklist = Seq("cdn3.example.net").toDF("suffix")
      graft.graph.LinkGraph.discoverFrontier(pages, seen, blocklist)
        .orderBy("url")
    }, oracle =
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS m2
           FROM documents),
         l AS (
           SELECT 'https://h' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR)
                    || '.example.com/x' || CAST(doc_id AS VARCHAR) AS url,
                  'h' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR) || '.example.com' AS host
           FROM d
           UNION ALL
           SELECT 'https://h' || CAST(doc_id % 40 AS VARCHAR)
                    || '.example.com/r/' || CAST(doc_id % 100 AS VARCHAR),
                  'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com'
           FROM d
           UNION ALL
           SELECT 'https://h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/d'
                    || CAST(doc_id % 5 AS VARCHAR) || '/s' || CAST(doc_id % 9 AS VARCHAR)
                    || '/leaf.html',
                  'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com'
           FROM d
           UNION ALL
           SELECT 'https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net/a',
                  'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
           FROM d WHERE doc_id % 3 = 0),
         agg AS (SELECT url, min(host) AS host, CAST(count(*) AS BIGINT) AS n_refs
                 FROM l GROUP BY 1),
         seen AS (
           SELECT 'https://h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/d'
                    || CAST(doc_id % 5 AS VARCHAR) || '/p' || CAST(doc_id AS VARCHAR)
                    || '.html' AS url
           FROM documents
           UNION ALL
           SELECT 'https://h' || CAST(doc_id % 40 AS VARCHAR)
                    || '.example.com/r/' || CAST(doc_id % 100 AS VARCHAR)
           FROM documents WHERE doc_id % 2 = 0)
         SELECT a.url, a.host, a.n_refs
         FROM agg a
         WHERE a.host <> 'cdn3.example.net'
           AND NOT EXISTS (SELECT 1 FROM seen s WHERE s.url = a.url)
         ORDER BY a.url"""),

    // q75: the three TrustRank iterations replayed bit-for-bit — the
    // trusted-conditional teleport (base + dangling both div nT=4, only
    // on seed rows), integer inflow, 17/20 damping; untrusted hosts'
    // ranks are pure inflow sums, sinks exercise the dangling return
    Leaf("q75_trustrank", (s, dir) => {
      // TrustRank under the gate: the q69 host graph, teleport mass
      // concentrated on four trusted seeds (h0/h10/h20/h30) — rank flows
      // OUT from vetted hosts; dangling mass returns to the trusted set.
      // Same bit-exact integer discipline as q69, so the DuckDB oracle
      // replays all three iterations including the trusted-conditional
      // teleport term. The sink hosts pin the dangling path; every
      // reached-but-untrusted host's rank is pure inflow.
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id")
      val urlLinks = docs
        .withColumn("url", expr(
          "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
        .withColumn("dst_url", expr(
          "concat('https://h', CAST((doc_id * 7 + 13) % 40 AS STRING), '.example.com/q', CAST(doc_id AS STRING))"))
        .select("url", "dst_url")
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("url", expr(
            "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
          .withColumn("dst_url", expr(
            "concat('https://sink', CAST(doc_id % 5 AS STRING), '.example.org/')"))
          .select("url", "dst_url"))
      val trusted = Seq("h0.example.com", "h10.example.com",
        "h20.example.com", "h30.example.com").toDF("host")
      graft.graph.LinkGraph.trustRankInt(
        graft.graph.LinkGraph.hostEdges(urlLinks), trusted, iters = 3)
        .orderBy("host")
    }, oracle =
      """WITH raw AS (
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS src,
                  'h' || CAST((doc_id * 7 + 13) % 40 AS VARCHAR) || '.example.com' AS dst
           FROM documents
           UNION ALL
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com',
                  'sink' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
           FROM documents WHERE doc_id % 13 = 0),
         e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         nodes AS (SELECT h AS host,
                          h IN ('h0.example.com','h10.example.com',
                                'h20.example.com','h30.example.com') AS trusted
                   FROM (SELECT DISTINCT h FROM
                          (SELECT src AS h FROM e UNION ALL SELECT dst AS h FROM e) t)),
         k AS (SELECT 1000000000000 // 4 AS seed,
                      3 * (1000000000000 // 4) AS base),
         od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT host, trusted,
                       CASE WHEN trusted THEN (SELECT seed FROM k) ELSE 0 END AS rank
                FROM nodes),
         d1 AS (SELECT coalesce(sum(r0.rank), 0) // 4 AS dsh
                FROM r0 LEFT JOIN od ON od.src = r0.host WHERE od.src IS NULL),
         i1 AS (SELECT e.dst AS host, sum(r0.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r0 ON r0.host = e.src GROUP BY 1),
         r1 AS (SELECT nd.host, nd.trusted,
                       (CASE WHEN nd.trusted
                             THEN (SELECT base FROM k) + 17 * (SELECT dsh FROM d1)
                             ELSE 0 END
                        + 17 * coalesce(i1.infl, 0)) // 20 AS rank
                FROM nodes nd LEFT JOIN i1 ON i1.host = nd.host),
         d2 AS (SELECT coalesce(sum(r1.rank), 0) // 4 AS dsh
                FROM r1 LEFT JOIN od ON od.src = r1.host WHERE od.src IS NULL),
         i2 AS (SELECT e.dst AS host, sum(r1.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r1 ON r1.host = e.src GROUP BY 1),
         r2 AS (SELECT nd.host, nd.trusted,
                       (CASE WHEN nd.trusted
                             THEN (SELECT base FROM k) + 17 * (SELECT dsh FROM d2)
                             ELSE 0 END
                        + 17 * coalesce(i2.infl, 0)) // 20 AS rank
                FROM nodes nd LEFT JOIN i2 ON i2.host = nd.host),
         d3 AS (SELECT coalesce(sum(r2.rank), 0) // 4 AS dsh
                FROM r2 LEFT JOIN od ON od.src = r2.host WHERE od.src IS NULL),
         i3 AS (SELECT e.dst AS host, sum(r2.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r2 ON r2.host = e.src GROUP BY 1),
         r3 AS (SELECT nd.host, nd.trusted,
                       (CASE WHEN nd.trusted
                             THEN (SELECT base FROM k) + 17 * (SELECT dsh FROM d3)
                             ELSE 0 END
                        + 17 * coalesce(i3.infl, 0)) // 20 AS rank
                FROM nodes nd LEFT JOIN i3 ON i3.host = nd.host)
         SELECT host, trusted, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY host""")
  )
}
