package graft.leaves

import org.apache.spark.sql.functions._

import graft.crawl.CrawlJob
import graft.leaves.Golden.{TestDate, t}
import graft.model.PolitenessConfig
import graft.plan.Frontier
import graft.synth.Synth

/** The crawl leaves: recrawl and host budgets, robots and sitemaps, WARC
  * parsing and the scheduling order of a whole crawl.
  */
object Crawl {

  /** q70's hostile WARC file (warc_id 9001): a request record that must be
    * skipped structurally, a multibyte response (Content-Length counts
    * BYTES), a corrupted-Content-Length record the parser must resync
    * past, a second multibyte response, and a truncated tail record that
    * must drop without killing the file. Expected survivors are the two
    * responses — their rows are literal in the oracle.
    */
  private def warcFixtureBytes: Array[Byte] = {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.sources.Warc.buildRecord
    val corrupted =
      ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://corrupt.example.com\r\n" +
        "WARC-Date: 2026-06-09T00:00:00Z\r\nContent-Length: nonsense\r\n\r\njunk\r\n\r\n").getBytes(UTF_8)
    buildRecord("request", "https://p.example.com/a", "2026-06-01T00:00:00Z", "GET /a".getBytes(UTF_8)) ++
      buildRecord("response", "https://p.example.com/a", "2026-06-01T00:00:00Z", "café".getBytes(UTF_8)) ++
      corrupted ++
      buildRecord("response", "https://p.example.com/b", "2026-06-02T00:00:00Z", "ok²".getBytes(UTF_8)) ++
      buildRecord("response", "https://p.example.com/truncated", "2026-06-03T00:00:00Z",
        "a payload the file ends inside".getBytes(UTF_8)).dropRight(12)
  }

  val leaves: Seq[Leaf] = Seq(
    // q62: epoch deltas, the 1-hour span floor, the singleton rate-0
    // contract and the tier thresholds recomputed from the events log;
    // tz-naive vs instant timestamp semantics cancel in the differences.
    // floor(epoch) pins DuckDB to WHOLE seconds — epoch(ts) is fractional
    // (microseconds) while Spark's unix_timestamp truncates, and the
    // sub-second tail flipped hours_span's 4th decimal
    Leaf("q62_recrawl_schedule", (s, dir) => {
      // freshness scheduling under the gate: the events log plays the
      // change-observation history (url_id = user_id % 500), and the
      // Poisson rate, span and tier are recomputed from scratch by the
      // oracle — epoch arithmetic, the 1-hour span floor, the singleton
      // rate-0 contract and the tier thresholds all re-derived.
      val obs = t(s, dir, "events")
        .select((col("user_id") % 500).as("url_id"), col("ts"))
      graft.politeness.Recrawl.schedule(obs).orderBy("url_id")
    }, oracle =
      """WITH a AS (
           SELECT user_id % 500 AS url_id, count(*) AS n_obs,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS first_s,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s
           FROM events GROUP BY 1)
         SELECT url_id, n_obs,
                round((last_s - first_s) / 3600.0, 4) AS hours_span,
                round(CASE WHEN n_obs <= 1 THEN 0.0
                           ELSE (n_obs - 1) / greatest((last_s - first_s) / 3600.0, 1.0) END,
                      6) AS lambda_per_hour,
                CASE WHEN round(CASE WHEN n_obs <= 1 THEN 0.0
                                     ELSE (n_obs - 1) / greatest((last_s - first_s) / 3600.0, 1.0) END,
                           6) >= 0.1 THEN 'hot'
                     WHEN round(CASE WHEN n_obs <= 1 THEN 0.0
                                     ELSE (n_obs - 1) / greatest((last_s - first_s) / 3600.0, 1.0) END,
                           6) >= 0.01 THEN 'warm'
                     WHEN round(CASE WHEN n_obs <= 1 THEN 0.0
                                     ELSE (n_obs - 1) / greatest((last_s - first_s) / 3600.0, 1.0) END,
                           6) > 0.0 THEN 'cold'
                     ELSE 'frozen' END AS revisit_tier
         FROM a ORDER BY url_id"""),

    // q63: the Hamilton apportionment replayed in pure integer arithmetic
    // (// and % over BIGINT/HUGEINT), including the (remainder desc, host
    // asc) tie-break and the leftover distribution
    Leaf("q63_host_budget", (s, dir) => {
      // largest-remainder budget apportionment under the gate: backlog =
      // documents per host (doc_id % 37), budget 10000 — pure 64-bit
      // integer arithmetic end to end (div, mod, remainder rank), so the
      // oracle's recomputation must match bit-for-bit, including the
      // deterministic (remainder desc, host asc) tie-break.
      val backlog = t(s, dir, "documents")
        .groupBy((col("doc_id") % 37).as("host"))
        .agg(count(lit(1)).as("cnt"))
      graft.politeness.HostBudget.apportion(backlog, budget = 10000L)
        .orderBy("host")
    }, oracle =
      """WITH b AS (SELECT doc_id % 37 AS host, count(*) AS cnt FROM documents GROUP BY 1),
         t2 AS (SELECT host, cnt, (SELECT sum(cnt) FROM b) AS total FROM b),
         c AS (SELECT host, cnt,
                      (10000 * cnt) // total AS base,
                      (10000 * cnt) % total AS rem
               FROM t2),
         d AS (SELECT host, cnt, base,
                      row_number() OVER (ORDER BY rem DESC, host ASC) AS rk,
                      (SELECT 10000 - sum(base) FROM c) AS leftover
               FROM c)
         SELECT host, cnt,
                CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
         FROM d ORDER BY host"""),

    // q67: every (host, position, url) row re-derived analytically from
    // the generation arithmetic — commented lines excluded, positions
    // re-counted among surviving lines in doc order; the engine's regexp
    // parse of the real text must land on exactly this set
    Leaf("q67_robots_sitemaps", (s, dir) => {
      // robots.txt sitemap discovery under the gate: one robots body per
      // host (doc_id % 20), one Sitemap line per doc — every 3rd COMMENTED
      // OUT (must not extract), every remaining 5th in lowercase with
      // spaces and a trailing comment (must extract clean). The engine
      // runs the production Column regexp over the real text; the oracle
      // derives every (host, pos, url) row analytically from the
      // generation arithmetic (the q61 move).
      val docs = t(s, dir, "documents").select("doc_id")
      val line = expr(
        """CASE WHEN doc_id % 3 = 0
                THEN concat('# Sitemap: https://s', CAST(doc_id % 20 AS STRING),
                            '.example.com/sm', CAST(doc_id AS STRING), '.xml')
                WHEN doc_id % 5 = 0
                THEN concat('  sitemap:   https://s', CAST(doc_id % 20 AS STRING),
                            '.example.com/sm', CAST(doc_id AS STRING), '.xml   # note')
                ELSE concat('Sitemap: https://s', CAST(doc_id % 20 AS STRING),
                            '.example.com/sm', CAST(doc_id AS STRING), '.xml') END""")
      val pages = docs
        .withColumn("site", col("doc_id") % 20)
        .withColumn("l", line)
        .groupBy("site")
        .agg(concat(lit("User-agent: *\nDisallow: /private\n"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("l")))),
            x => x.getField("l")), "\n")).as("text"))
        .select(concat(lit("https://s"), col("site").cast("string"),
          lit(".example.com/robots.txt")).as("url"), col("text"))
      graft.politeness.Robots.sitemapsFromPages(pages)
        .select(col("host"), col("sitemap_pos").cast("long").as("sitemap_pos"),
          col("sitemap_url"))
        .orderBy("host", "sitemap_pos")
    }, oracle =
      """WITH e AS (
           SELECT 's' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
                  row_number() OVER (PARTITION BY doc_id % 20 ORDER BY doc_id) - 1 AS sitemap_pos,
                  'https://s' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/sm'
                    || CAST(doc_id AS VARCHAR) || '.xml' AS sitemap_url
           FROM documents WHERE doc_id % 3 <> 0)
         SELECT host, CAST(sitemap_pos AS BIGINT) AS sitemap_pos, sitemap_url
         FROM e ORDER BY host, sitemap_pos"""),

    // q70: the oracle never sees WARC bytes — every record row is
    // re-derived analytically from the generation arithmetic (rec_pos =
    // per-file doc order, n_bytes = strlen = UTF-8 byte length), and the
    // hostile planted file's two expected survivors are literals; any
    // parser drift (byte-vs-char slicing, structural-record skipping,
    // resync, truncation handling) hash-mismatches
    Leaf("q70_warc_parse", (s, dir) => {
      // WARC container parsing under the gate: every doc is serialized
      // into a spec-shaped WARC response record (Content-Length from
      // octet_length — BYTES, not chars), records concatenated in doc_id
      // order into one binary blob per warc_id = doc_id % 16, plus the
      // hostile planted file (request record, corrupted length, truncated
      // tail — see warcFixtureBytes). The engine runs the pure-JVM parser
      // over the real bytes; the oracle never parses anything — every
      // (warc_id, rec_pos, url, warc_date, n_bytes, text) row is
      // re-derived analytically from the generation arithmetic, with the
      // planted file's two survivors as literals.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val rec = expr(
        """concat('WARC/1.0', chr(13), chr(10),
             'WARC-Type: response', chr(13), chr(10),
             'WARC-Target-URI: https://h', CAST(doc_id % 50 AS STRING),
               '.example.com/p', CAST(doc_id AS STRING), chr(13), chr(10),
             'WARC-Date: 2026-03-', lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'),
               'T00:00:00Z', chr(13), chr(10),
             'Content-Length: ', CAST(octet_length(text) AS STRING),
               chr(13), chr(10), chr(13), chr(10),
             text, chr(13), chr(10), chr(13), chr(10))""")
      val blobs = docs
        .withColumn("warc_id", col("doc_id") % 16)
        .withColumn("r", rec)
        .groupBy("warc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("r")))),
          x => x.getField("r")), "").as("s"))
        .select(col("warc_id"), col("s").cast("binary").as("data"))
      val planted = {
        import s.implicits._
        Seq((9001L, warcFixtureBytes)).toDF("warc_id", "data")
      }
      graft.sources.Warc.recordsDf(blobs.unionByName(planted))
        .orderBy("warc_id", "rec_pos")
    }, oracle =
      """WITH g AS (
           SELECT doc_id % 16 AS warc_id,
                  row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_pos,
                  'https://h' || CAST(doc_id % 50 AS VARCHAR)
                    || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
                  '2026-03-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                    || 'T00:00:00Z' AS warc_date,
                  CAST(strlen(text) AS BIGINT) AS n_bytes,
                  text
           FROM documents)
         SELECT warc_id, CAST(rec_pos AS BIGINT) AS rec_pos, url, warc_date, n_bytes, text FROM g
         UNION ALL
         SELECT 9001, 0, 'https://p.example.com/a', '2026-06-01T00:00:00Z', 5, 'caf' || chr(233)
         UNION ALL
         SELECT 9001, 1, 'https://p.example.com/b', '2026-06-02T00:00:00Z', 4, 'ok' || chr(178)
         ORDER BY warc_id, rec_pos"""),

    Leaf("q31_crawl_order", (s, _) => {
      // end-to-end scheduling-order parity under the DuckDB gate: a 3-round
      // crawl (18 seeds, budget 8/host/round) must consume seeds in
      // seq order in windows of 8 — round(seq) = floor(seq/8)+1
      val currs = Frontier.currencyDim(s, Seq("GBP", "USD", "EUR"))
      val seeds = Frontier.candidates(currs, TestDate, 3)
      val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
      val pages = Synth.mcPages(seeds)
      val robots = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-order").toString
      val (_, seen, _) = CrawlJob.run(s, frontier, pages, robots, ckpt,
        PolitenessConfig(maxPerHost = 8), roundSec = 1.0)
      val urlSeq = CrawlJob.expandSeeds(seeds, "Mastercard")
        .select(col("canonUrl").as("url"), col("seq"))
      // the round number rides on every seen row as data (survives delta
      // compaction), so the schedule order reads straight off the table
      seen.join(urlSeq, Seq("url"))
        .select(col("seq"), col("round"))
        .orderBy("seq")
    }, oracle =
      // the oracle re-derives BOTH the itertools.product seed order
      // (rightmost-fastest, dates descending) and the budget-window
      // scheduling semantics from first principles in SQL
      """WITH currs(c, i) AS (VALUES ('GBP', 0), ('USD', 1), ('EUR', 2)),
         pairs AS (SELECT a.c AS card_c, b.c AS trans_c,
                          a.i * 3 + b.i - a.i - CASE WHEN b.i > a.i THEN 1 ELSE 0 END AS pair_idx
                   FROM currs a CROSS JOIN currs b WHERE a.c <> b.c),
         seeds AS (SELECT pair_idx * 3 + d AS seq
                   FROM pairs CROSS JOIN range(3) t(d))
         SELECT seq, CAST(floor(seq / 8) + 1 AS INT) AS round
         FROM seeds ORDER BY seq""")
  )
}
