package graft.urls

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level twins of the pure [[Urls]] functions — the single place
  * every pipeline stage derives URL keys from, so the frontier, the robots
  * rule table, the politeness scheduler and the offsite filter can never
  * disagree on what "the host of this URL" means.
  */
object UrlCols {

  /** 64-bit dedup key for a (url, canonicalized-url) pair under a
    * [[DedupKey]] mode — the single derivation every frontier builder
    * uses. Both modes consume the CARRIED canonical column: the frontier
    * canonicalizes once, and re-running it inside a fingerprint UDF would
    * double the per-row URL work in exactly the mode meant for
    * 10^10-URL-scale parity.
    */
  def urlHashCol(url: Column, canonUrl: Column, mode: DedupKey): Column = mode match {
    case DedupKey.XxHashCanonical => xxhash64(canonUrl)
    case DedupKey.ScrapySha1 => xxhash64(graft.expr.Native.scrapyFpOfCanonical(canonUrl))
  }

  /** Host column — built-in `parse_url` (codegen-friendly) with a
    * [[Urls.hostOf]] UDF fallback: `parse_url` follows java.net.URI and
    * returns NULL for hosts URI rejects (e.g. underscores, common in the
    * wild), which would collapse those rows into one NULL politeness bucket,
    * break the offsite filter, and make robots rules silently fail open for
    * exactly those hosts. Coalesce evaluates the UDF only on the rare NULL
    * rows, so the hot path stays codegen. The trailing-dot strip mirrors
    * [[Urls.hostOf]]/[[Urls.canonicalize]] — a dotted FQDN must land in the
    * same politeness bucket and match the same robots rules as its
    * undotted twin.
    */
  def hostCol(url: Column): Column =
    coalesce(
      regexp_replace(lower(parse_url(url, lit("HOST"))), "\\.$", ""),
      graft.expr.Native.hostOf(url))
}

/** How the URL-seen set derives its 64-bit key (SURVEY.md §2 #24).
  *
  * Dedup DECISIONS are identical under both modes — each key is injective
  * in the canonical URL for this GET-only crawl, and the seen set's exact
  * anti-join confirms on the canonical URL itself either way. What the
  * Scrapy mode buys is BIT-parity of the key derivation with the
  * reference's dupefilter: the 64-bit key becomes xxhash64 of the exact
  * Scrapy 1.8 SHA1 fingerprint ([[Urls.scrapyFingerprint]], golden-tested),
  * so any system comparing fingerprints against a real Scrapy run agrees
  * byte-for-byte on what was fingerprinted.
  */
sealed trait DedupKey extends Serializable
object DedupKey {
  /** Engine default: xxhash64(canonical_url) — 8 bytes, no SHA1/UDF cost. */
  case object XxHashCanonical extends DedupKey
  /** Scrapy 1.8 bit-parity: xxhash64(sha1("GET" ++ canonical_url)). */
  case object ScrapySha1 extends DedupKey
}
