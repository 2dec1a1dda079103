package graft.leaves

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.LocalDate

import graft.crawl.CrawlJob
import graft.leaves.Golden._
import graft.plan.Frontier

/** The crawl-planner leaves: the missing-rate frontier, its URLs, shards and
  * date cutoff over the golden fixtures, and the frontier gates, sitemaps
  * and redirects over synthetic URLs.
  */
object Planner {

  private def goldenMissingDf(s: SparkSession): DataFrame = {
    val currs = Frontier.currencyDim(s, Seq("GBP", "USD"))
    val cands = Frontier.candidates(currs, TestDate, 8)
    Frontier.missing(cands, ratesFixtureDf(s), providersDf(s), "Mastercard", TestDate, 8, Seq("GBP", "USD"))
  }

  /** Golden URL VALUES oracles: expected strings produced by the byte-exact
    * pure builders (unit-tested against the reference's Python output).
    */
  private def goldenUrlOracle(mc: Boolean): String = {
    import graft.urls.Urls
    val rows = GoldenMissing.sortBy(x => (x._1, x._2, x._3)).map { case (c, tr, d) =>
      val ld = LocalDate.parse(d)
      val u = if (mc) Urls.mcUrl(c, tr, ld) else Urls.visaUrl(c, tr, ld)
      s"('$c', '$tr', DATE '$d', '$u')"
    }
    s"""SELECT card_c, trans_c, "date", url FROM (VALUES ${rows.mkString(", ")})
        t(card_c, trans_c, "date", url) ORDER BY card_c, trans_c, "date""""
  }

  /** The golden missing rows with their reference seq values as SQL VALUES. */
  private def goldenMissingWithSeqSql(): String = {
    // seq = pair_idx * numDays + date_idx with currs order (GBP, USD),
    // numDays = 8, dates descending from 1995-09-10
    GoldenMissing.map { case (c, tr, d) =>
      val pairIdx = if (c == "GBP") 0 else 1
      val dateIdx = java.time.temporal.ChronoUnit.DAYS.between(LocalDate.parse(d), TestDate).toInt
      val seq = pairIdx * 8 + dateIdx
      s"('$c', '$tr', DATE '$d', $seq)"
    }.mkString(", ")
  }

  val leaves: Seq[Leaf] = Seq(
    Leaf("q10_missing_antijoin", (s, _) => {
      goldenMissingDf(s)
        .select(col("card_c"), col("trans_c"), col("date"))
        .orderBy("card_c", "trans_c", "date")
    }, oracle = s"""
         WITH currs(c) AS (VALUES ('GBP'), ('USD')),
         rates(card_code, trans_code, "date", provider_id, rate) AS (VALUES $ratesFixtureSql),
         dates AS (SELECT (DATE '1995-09-10' - CAST(x AS INTEGER)) AS d FROM range(8) t(x)),
         cands AS (SELECT a.c AS card_c, b.c AS trans_c, d.d AS "date"
                   FROM currs a CROSS JOIN currs b CROSS JOIN dates d WHERE a.c <> b.c)
         SELECT card_c, trans_c, "date" FROM cands
         WHERE NOT EXISTS (SELECT 1 FROM rates r
                           WHERE r.provider_id = 1 AND r.card_code = cands.card_c
                             AND r.trans_code = cands.trans_c AND r."date" = cands."date")
         ORDER BY card_c, trans_c, "date""""),

    Leaf("q11_url_mc", (s, _) => {
      goldenMissingDf(s)
        .transform(df => CrawlJob.expandSeeds(df, "Mastercard"))
        .select("card_c", "trans_c", "date", "url")
        .orderBy("card_c", "trans_c", "date")
    }, oracle = goldenUrlOracle(mc = true)),

    Leaf("q12_url_visa", (s, _) => {
      goldenMissingDf(s)
        .transform(df => CrawlJob.expandSeeds(df, "Visa"))
        .select("card_c", "trans_c", "date", "url")
        .orderBy("card_c", "trans_c", "date")
    }, oracle = goldenUrlOracle(mc = false)),

    Leaf("q13_shard_roundrobin", (s, _) => {
      Frontier.withShard(goldenMissingDf(s), 3, partitions = 4)
        .select("card_c", "trans_c", "date", "shard")
        .orderBy("card_c", "trans_c", "date")
    }, oracle = s"""
         WITH m(card_c, trans_c, "date", seq) AS (VALUES ${goldenMissingWithSeqSql()})
         SELECT card_c, trans_c, "date",
                CAST((row_number() OVER (ORDER BY seq) - 1) % 3 AS INTEGER) AS shard
         FROM m ORDER BY card_c, trans_c, "date""""),

    Leaf("q14_frontier_csv_dialect", (s, _) => {
      // the frontier shard row format: headerless dd/MM/yyyy (settings.py:110)
      goldenMissingDf(s)
        .select(
          col("card_c"), col("trans_c"),
          date_format(col("date"), "dd/MM/yyyy").as("std_date"))
        .orderBy("card_c", "trans_c", "std_date")
    }, oracle = s"""
         WITH m(card_c, trans_c, "date", seq) AS (VALUES ${goldenMissingWithSeqSql()})
         SELECT card_c, trans_c, strftime("date", '%d/%m/%Y') AS std_date
         FROM m ORDER BY card_c, trans_c, std_date"""),

    Leaf("q15_date_cutoff", (s, _) => {
      import s.implicits._
      import graft.functions.DateFns
      // US/Eastern 2pm cutoff (client.py:55-65): timestamps straddling both
      // the hour boundary and a UTC day boundary
      val ts = Seq(
        "1995-09-10 17:59:00", // 13:59 ET → previous day
        "1995-09-10 18:00:00", // 14:00 ET → same day
        "1995-09-10 03:00:00", // 23:00 ET prev day (EDT) → that same prev day
        "1995-09-11 02:00:00") // 22:00 ET on the 10th → the 10th
        .toDF("ts_text")
        .select(col("ts_text"), to_timestamp(col("ts_text")).as("ts"))
      ts.select(col("ts_text"), DateFns.currentCrawlDateCol(col("ts")).as("crawl_date"))
        .orderBy("ts_text")
    }, oracle =
      // oracle uses the fixed EDT offset (UTC-4) valid for all fixture
      // instants (Sept 1995), avoiding DuckDB's ICU-extension dependency;
      // the Spark side uses the real America/New_York zone rules
      """WITH ts(ts_text) AS (VALUES ('1995-09-10 17:59:00'), ('1995-09-10 18:00:00'),
                                     ('1995-09-10 03:00:00'), ('1995-09-11 02:00:00')),
         et AS (SELECT ts_text, CAST(ts_text AS TIMESTAMP) - INTERVAL 4 HOUR AS et_ts FROM ts)
         SELECT ts_text,
           CASE WHEN hour(et_ts) < 14 THEN CAST(et_ts AS DATE) - 1
                ELSE CAST(et_ts AS DATE) END AS crawl_date
         FROM et ORDER BY ts_text"""),

    // q60: URL synth, host/depth/param re-parse AND the blocklist
    // suffix-match all re-derived in DuckDB (list_slice over the dot
    // labels replays the suffix explosion; precedence order re-stated)
    Leaf("q60_frontier_filter", (s, dir) => {
      // frontier admission gate under the gate: URLs synthesized from
      // doc_id arithmetic (every 17th on a blocklisted TLD, path depth
      // 1..12, param count 1..8), then blocklist suffix-JOIN + trap
      // heuristics. The engine PARSES host/depth/params back out of the
      // URL string (parse_url + regexp, the production path); the oracle
      // re-parses with its own regexps and re-derives the suffix match
      // with list machinery — nothing golden, precedence included.
      import s.implicits._
      val urls = t(s, dir, "documents").select(col("doc_id").as("id"))
        .withColumn("url", expr(
          """concat('https://',
               CASE WHEN id % 17 = 0
                    THEN concat('spam', CAST(id % 3 AS STRING), '.badtld')
                    ELSE concat('host', CAST(id % 50 AS STRING), '.example.com') END,
               '/',
               repeat(concat('d', CAST(id % 5 AS STRING), '/'), CAST(id % 12 AS INT)),
               'page',
               concat('?a=', CAST(id % 10 AS STRING), repeat('&q=1', CAST(id % 8 AS INT))))"""))
      val blocklist = Seq("badtld", "tracker.example.com").toDF("suffix")
      graft.urls.UrlFilter.verdicts(urls, blocklist)
        .select("id", "url", "host", "depth", "n_params", "verdict")
        .orderBy("id")
    }, oracle =
      """WITH u AS (
           SELECT doc_id AS id,
             'https://' ||
               CASE WHEN doc_id % 17 = 0
                    THEN 'spam' || CAST(doc_id % 3 AS VARCHAR) || '.badtld'
                    ELSE 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' END ||
               '/' ||
               repeat('d' || CAST(doc_id % 5 AS VARCHAR) || '/', CAST(doc_id % 12 AS INT)) ||
               'page' ||
               '?a=' || CAST(doc_id % 10 AS VARCHAR) || repeat('&q=1', CAST(doc_id % 8 AS INT)) AS url
           FROM documents),
         f AS (
           SELECT id, url,
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
             len(list_filter(string_split(
               regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1), '/'),
               x -> x <> '')) AS depth,
             CASE WHEN regexp_extract(url, '\?([^#]*)', 1) = '' THEN 0
                  ELSE len(string_split(regexp_extract(url, '\?([^#]*)', 1), '&')) END AS n_params
           FROM u),
         bl AS (SELECT * FROM (VALUES ('badtld'), ('tracker.example.com')) AS t(suffix)),
         blk AS (
           SELECT DISTINCT id FROM f JOIN bl
           ON list_contains(
                list_transform(
                  generate_series(1, len(string_split(host, '.'))),
                  i -> array_to_string(
                         list_slice(string_split(host, '.'), i, len(string_split(host, '.'))), '.')),
                suffix))
         SELECT f.id, f.url, f.host,
                CAST(f.depth AS BIGINT) AS depth,
                CAST(f.n_params AS BIGINT) AS n_params,
                CASE WHEN blk.id IS NOT NULL THEN 'blocked'
                     WHEN f.depth >= 9 THEN 'trap_depth'
                     WHEN f.n_params >= 6 THEN 'trap_params'
                     ELSE 'ok' END AS verdict
         FROM f LEFT JOIN blk ON f.id = blk.id
         ORDER BY f.id"""),

    // q61: the oracle NEVER parses XML — every field (loc, optional
    // lastmod/priority, the per-site 0-based entry position, the seen
    // anti-join) is re-derived analytically from the generation arithmetic
    Leaf("q61_sitemap_ingest", (s, dir) => {
      // sitemap discovery under the gate: one XML sitemap per site
      // (doc_id % 20), entries in doc_id order, every 5th doc omitting
      // <lastmod> and every 7th omitting <priority>; the engine SPLITS the
      // XML into entry blocks and regexp-parses each field back out, then
      // anti-joins the already-seen URL set (doc_id % 3 == 0). The oracle
      // never sees the XML — it re-derives every field analytically from
      // the generation arithmetic (the q44 analytic-oracle move), so any
      // parse drift (block splitting, optional-field NULLs, date/double
      // casts, the anti-join) hash-mismatches.
      val docs = t(s, dir, "documents").select("doc_id")
      val entryXml = expr(
        """concat('<url><loc>https://s', CAST(doc_id % 20 AS STRING), '.example.com/p',
                  CAST(doc_id AS STRING), '</loc>',
             CASE WHEN doc_id % 5 = 0 THEN ''
                  ELSE concat('<lastmod>2026-0', CAST(1 + doc_id % 9 AS STRING), '-',
                              lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'), '</lastmod>') END,
             CASE WHEN doc_id % 7 = 0 THEN ''
                  ELSE concat('<priority>0.', CAST(doc_id % 10 AS STRING), '</priority>') END,
             '</url>')""")
      val sitemaps = docs
        .withColumn("site", col("doc_id") % 20)
        .withColumn("e", entryXml)
        .groupBy("site")
        .agg(concat(lit("<urlset>"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("e")))),
            x => x.getField("e")), ""),
          lit("</urlset>")).as("xml"))
      val entries = graft.plan.Sitemaps.parseEntries(sitemaps, "xml", keep = Seq("site"))
      val seen = docs.filter(col("doc_id") % 3 === 0)
        .select(concat(lit("https://s"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p"), col("doc_id").cast("string")).as("loc"))
      graft.plan.Sitemaps.unseenEntries(entries, seen)
        .select(col("site"), col("entry_pos").cast("long").as("entry_pos"),
          col("loc"), col("lastmod"), col("priority"))
        .orderBy("site", "entry_pos")
    }, oracle =
      """WITH e AS (
           SELECT doc_id % 20 AS site,
                  row_number() OVER (PARTITION BY doc_id % 20 ORDER BY doc_id) - 1 AS entry_pos,
                  'https://s' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p'
                    || CAST(doc_id AS VARCHAR) AS loc,
                  CASE WHEN doc_id % 5 = 0 THEN NULL
                       ELSE CAST(('2026-0' || CAST(1 + doc_id % 9 AS VARCHAR) || '-'
                                  || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')) AS DATE) END AS lastmod,
                  CASE WHEN doc_id % 7 = 0 THEN NULL
                       ELSE CAST('0.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE) END AS priority,
                  doc_id
           FROM documents)
         SELECT site, CAST(entry_pos AS BIGINT) AS entry_pos, loc, lastmod, priority
         FROM e WHERE doc_id % 3 <> 0
         ORDER BY site, entry_pos"""),

    // q64: the whole planning chain replayed — q60's verdicts, the ok
    // backlog, q63's integer apportionment at budget 100, and the
    // per-host (priority desc, id asc) rank selection
    Leaf("q64_frontier_plan", (s, dir) => {
      // the composed frontier-planning round under the gate: admission
      // gate (q60 recipe) → per-host backlog → Hamilton apportionment of a
      // 100-URL round budget → per-host top-alloc selection by priority
      // (id % 100 desc, id asc). The oracle replays the ENTIRE chain —
      // verdicts, backlog, integer apportionment, rank windows — so a
      // drift anywhere in the composition flips the selected set.
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val urls = t(s, dir, "documents").select(col("doc_id").as("id"))
        .withColumn("url", expr(
          """concat('https://',
               CASE WHEN id % 17 = 0
                    THEN concat('spam', CAST(id % 3 AS STRING), '.badtld')
                    ELSE concat('host', CAST(id % 50 AS STRING), '.example.com') END,
               '/',
               repeat(concat('d', CAST(id % 5 AS STRING), '/'), CAST(id % 12 AS INT)),
               'page',
               concat('?a=', CAST(id % 10 AS STRING), repeat('&q=1', CAST(id % 8 AS INT))))"""))
      val blocklist = Seq("badtld", "tracker.example.com").toDF("suffix")
      val ok = graft.urls.UrlFilter.verdicts(urls, blocklist)
        .filter(col("verdict") === "ok")
      val alloc = graft.politeness.HostBudget.apportion(
        ok.groupBy("host").agg(count(lit(1)).as("cnt")), budget = 100L)
      val byHost = Window.partitionBy("host")
        .orderBy(col("prio").desc, col("id").asc)
      ok.withColumn("prio", col("id") % 100)
        .join(alloc.select("host", "alloc"), Seq("host"))
        .withColumn("rk", row_number().over(byHost))
        .filter(col("rk") <= col("alloc"))
        .select(col("id"), col("host"), col("prio"))
        .orderBy("id")
    }, oracle =
      """WITH u AS (
           SELECT doc_id AS id,
             CASE WHEN doc_id % 17 = 0
                  THEN 'spam' || CAST(doc_id % 3 AS VARCHAR) || '.badtld'
                  ELSE 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' END AS host,
             CAST(doc_id % 12 AS INT) + 1 AS depth,
             CAST(doc_id % 8 AS INT) + 1 AS n_params
           FROM documents),
         ok AS (
           SELECT id, host FROM u
           WHERE host NOT LIKE '%.badtld' AND depth < 9 AND n_params < 6),
         b AS (SELECT host, count(*) AS cnt FROM ok GROUP BY 1),
         t2 AS (SELECT host, cnt, (SELECT sum(cnt) FROM b) AS total FROM b),
         c AS (SELECT host, cnt,
                      (100 * cnt) // total AS base,
                      (100 * cnt) % total AS rem
               FROM t2),
         d AS (SELECT host, base,
                      row_number() OVER (ORDER BY rem DESC, host ASC) AS rk,
                      (SELECT 100 - sum(base) FROM c) AS leftover
               FROM c),
         alloc AS (SELECT host, base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc FROM d),
         ranked AS (
           SELECT ok.id, ok.host, ok.id % 100 AS prio, alloc.alloc,
                  row_number() OVER (PARTITION BY ok.host
                                     ORDER BY ok.id % 100 DESC, ok.id ASC) AS rk
           FROM ok JOIN alloc USING (host))
         SELECT id, host, CAST(prio AS BIGINT) AS prio
         FROM ranked WHERE rk <= alloc
         ORDER BY id"""),

    // q77: every (url, final_url, hops, looped) row re-derived from the
    // chain arithmetic — the oracle never simulates pointer jumping; the
    // deterministic cycle rows (final = the other member, hops clamped
    // to 8) are literals
    Leaf("q77_redirect_resolve", (s, dir) => {
      // redirect-chain resolution under the gate: each doc plants a chain
      // of length doc_id % 4 (p{id}_0 → … → p{id}_L terminal) plus one
      // 2-cycle; the pointer-jumping resolver must map every element to
      // its terminal with the EXACT hop count, and flag the cycle rows as
      // looped with hops clamped to maxHops=8. The oracle re-derives
      // every row analytically (final = position arithmetic) — it never
      // simulates the joins; the cycle rows are literals.
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id")
      val chain = docs
        .select(col("doc_id"),
          explode(sequence(lit(0), (col("doc_id") % 4).cast("int"))).as("k"))
        .select(
          expr("concat('https://r.example.com/p', CAST(doc_id AS STRING), '_', CAST(k AS STRING))")
            .as("url"),
          expr("""CASE WHEN k < CAST(doc_id % 4 AS INT)
                       THEN concat('https://r.example.com/p', CAST(doc_id AS STRING),
                                   '_', CAST(k + 1 AS STRING)) END""").as("redirect_to"))
      val planted = Seq(
        ("https://r.example.com/loopA", "https://r.example.com/loopB"),
        ("https://r.example.com/loopB", "https://r.example.com/loopA"))
        .toDF("url", "redirect_to")
      graft.urls.Redirects.resolve(chain.unionByName(planted), maxHops = 8)
        .orderBy("url")
    }, oracle =
      """WITH gen AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS len FROM documents),
         r AS (
           SELECT 'https://r.example.com/p' || CAST(doc_id AS VARCHAR)
                    || '_' || CAST(u.k AS VARCHAR) AS url,
                  'https://r.example.com/p' || CAST(doc_id AS VARCHAR)
                    || '_' || CAST(len AS VARCHAR) AS final_url,
                  CAST(len - u.k AS BIGINT) AS hops,
                  false AS looped
           FROM gen, unnest(generate_series(0, len)) AS u(k))
         SELECT url, final_url, hops, looped FROM r
         UNION ALL SELECT 'https://r.example.com/loopA', 'https://r.example.com/loopB', 8, true
         UNION ALL SELECT 'https://r.example.com/loopB', 'https://r.example.com/loopA', 8, true
         ORDER BY url"""),

    // q78: the oracle never parses the index XML — per-site positions,
    // locs and the optional lastmod (as epoch seconds) all re-derived
    // from the generation arithmetic
    Leaf("q78_sitemap_index", (s, dir) => {
      // sitemap INDEX ingestion under the gate — the missing hop of the
      // robots → index → sitemap → frontier chain (any site past the
      // protocol's 50k-URL file cap ships an index): one index per site
      // (doc_id % 10), every doc a <sitemap> entry, every 4th omitting
      // <lastmod>. The oracle re-derives every (site, pos, loc,
      // lastmod_epoch) row analytically (q61's move); lastmod is
      // projected to epoch seconds for tz-representation-free compare
      // (the q62 floor(epoch) precedent).
      val docs = t(s, dir, "documents").select("doc_id")
      val entry = expr(
        """concat('<sitemap><loc>https://s', CAST(doc_id % 10 AS STRING),
                  '.example.com/sm', CAST(doc_id AS STRING), '.xml</loc>',
             CASE WHEN doc_id % 4 = 0 THEN ''
                  ELSE concat('<lastmod>2026-05-',
                              lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'), 'T',
                              lpad(CAST(doc_id % 24 AS STRING), 2, '0'),
                              ':00:00</lastmod>') END,
             '</sitemap>')""")
      val idx = docs
        .withColumn("site", col("doc_id") % 10)
        .withColumn("e", entry)
        .groupBy("site")
        .agg(concat(lit("<sitemapindex>"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("e")))),
            x => x.getField("e")), ""),
          lit("</sitemapindex>")).as("xml"))
      graft.plan.Sitemaps.parseIndex(idx, keep = Seq("site"))
        .select(col("site"), col("sitemap_pos").cast("long").as("sitemap_pos"),
          col("loc"), unix_timestamp(col("lastmod")).as("lastmod_epoch"))
        .orderBy("site", "sitemap_pos")
    }, oracle =
      """WITH e AS (
           SELECT doc_id % 10 AS site,
                  row_number() OVER (PARTITION BY doc_id % 10 ORDER BY doc_id) - 1 AS sitemap_pos,
                  'https://s' || CAST(doc_id % 10 AS VARCHAR) || '.example.com/sm'
                    || CAST(doc_id AS VARCHAR) || '.xml' AS loc,
                  CASE WHEN doc_id % 4 = 0 THEN NULL
                       ELSE CAST(floor(epoch(CAST(
                              '2026-05-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                                || 'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                                || ':00:00' AS TIMESTAMP))) AS BIGINT) END AS lastmod_epoch
           FROM documents)
         SELECT site, CAST(sitemap_pos AS BIGINT) AS sitemap_pos, loc, lastmod_epoch
         FROM e ORDER BY site, sitemap_pos""")
  )
}
