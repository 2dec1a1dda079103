package graft.plan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sitemap ingestion — the other half of a production frontier's discovery
  * story: robots.txt names sitemap URLs, and each sitemap is an XML
  * document whose `<url>` entries (loc + optional lastmod/priority) seed
  * the frontier alongside crawled-out links. The reference has no
  * discovery at all (its URL space is enumerated from a currency table,
  * CardRates `crawl.py`), so this operator exists for the Common-Crawl
  * tier the north rule targets.
  *
  * Parse shape: one regexp pass splits a sitemap blob into `<url>` entry
  * blocks (lazy match, so adjacent entries never merge; `(?s)`, so a
  * pretty-printed entry spanning lines is one block), a posexplode
  * turns blocks into rows, and three per-row regexp extracts pull the
  * fields — all codegen'd string expressions, no UDF and no XML library
  * on the hot path (sitemaps are machine-generated and flat; the grammar
  * a real crawler needs is exactly these three tags, per sitemaps.org).
  * Absent optional fields surface as NULL (`nullif` on the empty-string
  * no-match sentinel both engines share). Malformed numbers/dates go NULL
  * via try-cast rather than failing the batch — one hostile sitemap must
  * not kill a 10^6-sitemap ingest job.
  */
object Sitemaps {

  /** `<url>` entry blocks of a sitemap XML string, in document order. */
  def entryBlocksCol(xml: Column): Column =
    regexp_extract_all(xml, lit("(?s)<url>(.*?)</url>"), lit(1))

  private def field(block: Column, tag: String): Column =
    nullif(regexp_extract(block, s"<$tag>([^<]*)</$tag>", 1), lit(""))

  /** Explode sitemap XML documents into one row per `<url>` entry.
    *
    * @param sitemaps one row per sitemap; carries `xmlCol` plus any key
    *                 columns to keep (site id, fetch ts, …)
    * @param keep     columns to carry through onto each entry row
    * @return keep columns + (entry_pos, loc, lastmod DATE?, priority DOUBLE?);
    *         entries with no `<loc>` are dropped (a loc-less entry is not a
    *         URL and cannot seed anything)
    */
  def parseEntries(
      sitemaps: DataFrame,
      xmlCol: String = "xml",
      keep: Seq[String] = Seq.empty): DataFrame = {
    val keepCols = keep.map(col)
    sitemaps
      .select(keepCols :+ posexplode(entryBlocksCol(col(xmlCol))).as(Seq("entry_pos", "block")): _*)
      .withColumn("loc", field(col("block"), "loc"))
      .withColumn("lastmod", try_to_date(field(col("block"), "lastmod"), "yyyy-MM-dd"))
      // try_cast, not cast: ANSI mode is on (Spark 4 default) and a plain
      // cast would FAIL THE JOB on the first hostile priority string
      .withColumn("priority",
        expr("try_cast(nullif(regexp_extract(block, '<priority>([^<]*)</priority>', 1), '') AS DOUBLE)"))
      .where(col("loc").isNotNull)
      .drop("block")
  }

  /** Sitemap INDEX files (sitemaps.org `<sitemapindex>`): a large site's
    * robots.txt usually names one index whose `<sitemap>` entries point
    * at the real urlset sitemaps (the protocol caps a single file at 50k
    * URLs, so any site beyond that ships an index). This is the missing
    * hop in the robots → sitemap → frontier chain: index docs must fan
    * out into sitemap-fetch jobs, not frontier rows. Same codegen'd
    * parse shape as [[parseEntries]] (lazy block split + per-field
    * extracts, try-cast hostility tolerance); `<lastmod>` here is the
    * recrawl signal for the SITEMAP fetch itself.
    *
    * @return keep columns + (sitemap_pos, loc, lastmod TIMESTAMP?) —
    *         loc-less blocks dropped
    */
  def parseIndex(
      indexes: DataFrame,
      xmlCol: String = "xml",
      keep: Seq[String] = Seq.empty): DataFrame = {
    val keepCols = keep.map(col)
    indexes
      .select(keepCols :+ posexplode(
        regexp_extract_all(col(xmlCol), lit("(?s)<sitemap>(.*?)</sitemap>"), lit(1)))
        .as(Seq("sitemap_pos", "block")): _*)
      .withColumn("loc", field(col("block"), "loc"))
      // index lastmod is a W3C datetime (timestamp-grained, unlike the
      // date-grained urlset entries this engine ingests via parseEntries)
      .withColumn("lastmod",
        expr("try_cast(nullif(regexp_extract(block, '<lastmod>([^<]*)</lastmod>', 1), '') AS TIMESTAMP)"))
      .where(col("loc").isNotNull)
      .drop("block")
  }

  /** Entries not already in the seen set — the rows that actually enter
    * the frontier. LEFT ANTI on the canonical URL: the seen side stays
    * slim (one string column), so the join build side is as small as the
    * seen set itself, and with pre-bucketed seen storage the probe is
    * shuffle-free on the page layout (`sources/PageStore` precedent).
    */
  def unseenEntries(entries: DataFrame, seenUrls: DataFrame, urlCol: String = "loc"): DataFrame =
    entries.join(
      seenUrls.select(col(urlCol)).distinct(),
      Seq(urlCol),
      "left_anti")
}
