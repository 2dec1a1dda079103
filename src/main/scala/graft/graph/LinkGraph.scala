package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web link-graph operators: href extraction from raw HTML, URL
  * resolution, host-level edge aggregation, and a bit-exact integer
  * PageRank for frontier prioritization.
  *
  * Why this belongs in a crawl engine: the reference spider
  * (CardRates/MCSpider.py, VisaSpider.py) enumerates its frontier
  * arithmetically (date×currency), so it never needs link discovery — but
  * the north-star generalization ("Common-Crawl-style pages at 10^10-URL
  * frontier scale") does: an open-web frontier is FED by the links of the
  * pages already fetched, and ordered by a centrality prior (PageRank is
  * the classic choice — Page et al. 1999; Cho, Garcia-Molina & Page,
  * WWW'98 use it exactly as a crawl-ordering signal). This module is that
  * feed path: pages → hrefs → resolved URLs → host graph → rank →
  * frontier priority.
  *
  * Scale shape: extraction and resolution are row-local codegen'd
  * expressions (no UDF, no shuffle); the host graph is one groupBy on the
  * edge key; PageRank is a per-iteration (join + groupBy) pair over
  * (host, rank) — the same slim-key discipline as the dedup pair
  * skeleton. Nothing driver-side grows with the corpus: only the
  * iteration COUNT is a constant.
  */
object LinkGraph {

  /** `<a href=...>` extraction pattern. Group 1 = the href value, group 2
    * = the anchor's inner text up to the first '<' (nested-markup anchors
    * keep their leading text run; that is the documented contract — a
    * full HTML parse is not a hot-path operation).
    *
    * Deliberate limits, documented here because they are contracts the
    * gate (q68) plants decoys against: the value must be quoted (" or ');
    * a value containing the OTHER quote character is truncated at it
    * (real-world hrefs with embedded quotes are vanishingly rare and
    * invalid HTML anyway); unquoted hrefs are ignored.
    */
  private val HrefRe =
    """(?is)<a\s[^>]*?href\s*=\s*["']([^"']*)["'][^>]*>([^<]*)"""

  /** Schemes a crawl frontier never follows. */
  private val NonFetchable = "(?i)^(mailto:|javascript:|data:|tel:|ftp:|file:|about:)"

  /** Extract raw (href, anchor) pairs from an HTML string column.
    * Output: one row per anchor tag with `link_pos` (0-based document
    * order), `href_raw`, `anchor` (whitespace-collapsed, trimmed).
    * Pure codegen'd regexp over the page text — no UDF, no shuffle.
    */
  def rawLinks(pages0: DataFrame, htmlCol: String = "html"): DataFrame = {
    // spread first (the kernel-site rule): the href regex scan otherwise
    // runs at raw scan parallelism (1-2 splits on a small page table;
    // no-op at real scale)
    val pages = graft.util.PlanSize.spread(pages0)
    val keep = pages.columns.filter(c => c != htmlCol).map(col).toIndexedSeq
    // ONE regex pass over the page text (group 0), then per-match group
    // extraction over the ~100-char anchor substrings: the previous shape
    // ran the full-document scan twice (once per capture group). Re-running
    // the same pattern on its own full match is exact — the match starts at
    // position 0 of the substring and ends at its end, so every
    // lazy/greedy boundary reproduces (r07, guide "per-task work").
    pages
      .select(keep :+
        posexplode_outer(
          regexp_extract_all(col(htmlCol).cast("string"), lit(HrefRe), lit(0))): _*)
      .filter(col("col").isNotNull)
      .select(
        keep :+ col("pos").cast("long").as("link_pos")
          :+ regexp_extract(col("col"), HrefRe, 1).as("href_raw")
          :+ trim(regexp_replace(regexp_extract(col("col"), HrefRe, 2), "\\s+", " ")).as("anchor"): _*)
  }

  /** Resolve a raw href against its base URL — the RFC 3986 subset a
    * frontier needs, as a pure Column expression:
    *
    *   - absolute `http(s)://…`        → as-is
    *   - protocol-relative `//host/…`  → base scheme + href
    *   - root-relative `/path`         → scheme://host + href
    *   - query-only `?q`               → scheme://host + base-path + href
    *     (RFC 3986 §5.3: the base's full path, only its query replaced)
    *   - relative `path`               → scheme://host + base-dir + href
    *   - non-fetchable schemes (mailto:, javascript:, data:, tel:, ftp:,
    *     file:, about:), fragment-only refs and empty hrefs → NULL
    *
    * The resolved URL's fragment is stripped (a frontier key never keeps
    * it; `Urls.canonicalize` downstream would drop it anyway). Dot-segment
    * normalization (`..`/`.`) is NOT performed here — the canonicalizer
    * owns URL normalization; resolution owns only base composition.
    * Base-path = the base's path, query/fragment excluded; base-dir = the
    * base path through its last '/'. A base with no path resolves
    * relatives and query-only refs against '/'.
    */
  def resolveHref(base: Column, href: Column): Column = {
    val h = trim(href)
    val scheme = regexp_extract(base, "^(https?)://", 1)
    val host = regexp_extract(base, "^https?://([^/?#]+)", 1)
    val basePath = regexp_extract(base, "^https?://[^/?#]+([^?#]*)", 1)
    // path through the last '/' ('' when the base has no path slash)
    val baseDir = regexp_extract(basePath, "^(.*/)", 1)
    val resolved =
      when(h === "" || h.startsWith("#") || h.rlike(NonFetchable), lit(null))
        .when(h.rlike("(?i)^https?://"), h)
        .when(h.rlike("(?i)^[a-z][a-z0-9+.-]*:"), lit(null)) // other absolute schemes
        .when(h.startsWith("//"), concat(scheme, lit(":"), h))
        .when(h.startsWith("/"), concat(scheme, lit("://"), host, h))
        .when(h.startsWith("?"), concat(scheme, lit("://"), host,
          when(basePath === "", lit("/")).otherwise(basePath), h))
        .otherwise(concat(scheme, lit("://"), host,
          when(baseDir === "", lit("/")).otherwise(baseDir), h))
    // strip the fragment from whatever survived
    when(resolved.isNull, lit(null)).otherwise(split(resolved, "#").getItem(0))
  }

  /** Pages → resolved out-links: (…keep, link_pos, dst_url, anchor).
    * Non-fetchable/fragment-only/empty hrefs are dropped (their positions
    * remain consumed — `link_pos` is the anchor's document position, not
    * a post-filter rank, so downstream joins can correlate with the raw
    * extraction).
    */
  def links(pages: DataFrame, urlCol: String = "url", htmlCol: String = "html"): DataFrame =
    rawLinks(pages, htmlCol)
      .withColumn("dst_url", resolveHref(col(urlCol), col("href_raw")))
      .filter(col("dst_url").isNotNull)
      .drop("href_raw")

  /** Host-level edge list from a resolved link set: one row per
    * (src_host, dst_host) with `n_links` multiplicity. Self-edges
    * (intra-host navigation — the overwhelming majority of real links)
    * are excluded by default: they carry no cross-host endorsement and at
    * Common-Crawl scale they dominate the edge count ~5:1, so dropping
    * them before the shuffle is the difference between shuffling the
    * whole link set and shuffling only the cross-host minority.
    */
  def hostEdges(
      links: DataFrame,
      srcUrlCol: String = "url",
      dstUrlCol: String = "dst_url",
      keepSelfEdges: Boolean = false): DataFrame = {
    val e = links.select(
      graft.expr.Native.hostOf(col(srcUrlCol)).as("src"),
      graft.expr.Native.hostOf(col(dstUrlCol)).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val filtered = if (keepSelfEdges) e else e.filter(col("src") =!= col("dst"))
    filtered.groupBy("src", "dst").agg(count(lit(1)).as("n_links"))
  }

  /** The discovery round — the composition that makes a crawl OPEN-web:
    * fetched pages feed the next frontier. links → distinct targets →
    * seen-set anti-join → admission gate (blocklist + trap heuristics)
    * → candidate frontier rows with their referrer count (a cheap
    * priority prior until PageRank has enough graph).
    *
    * Scale shape: the link explosion is row-local; `n_refs` aggregation
    * and the anti-join both shuffle on the slim dst-URL key (text never
    * rides them); the gate is row-local after one broadcast/suffix join.
    * This mirrors the reference's closed-loop dual: CardRates *plans* its
    * frontier from the rates DB anti-join (client.py missing()); an
    * open-web engine plans it from the link set minus the seen set.
    *
    * @param pages fetched pages with `urlCol` + `htmlCol`
    * @param seen  one slim column `url` of already-crawled URLs
    * @param blocklist one column `suffix` (UrlFilter semantics)
    * @return (url, host, n_refs) — admitted, unseen discovered URLs
    */
  def discoverFrontier(
      pages: DataFrame,
      seen: DataFrame,
      blocklist: DataFrame,
      urlCol: String = "url",
      htmlCol: String = "html"): DataFrame = {
    val discovered = links(pages, urlCol, htmlCol)
      .groupBy(col("dst_url").as("url"))
      .agg(count(lit(1)).as("n_refs"))
    val unseen = discovered.join(
      seen.select(col("url")), Seq("url"), "left_anti")
    // the distinct URL is its own id: verdicts' blocked-ids join needs a
    // unique key and the groupBy above guarantees exactly that
    graft.urls.UrlFilter.verdicts(unseen, blocklist, idCol = "url")
      .filter(col("verdict") === "ok")
      .select(col("url"), col("host"), col("n_refs"))
  }

  /** Per-target anchor-text aggregation — the classic indexing/quality
    * signal (anchor text describes the TARGET better than its own page;
    * e.g. Craswell et al., SIGIR'01) and a crawl-priority feature: a URL
    * referenced by many hosts with consistent anchors is worth fetching
    * early.
    *
    * Output per `dstCol` value: `n_refs` (link multiplicity), `n_hosts`
    * (distinct referring hosts), `anchors` ('|'-joined, ordered by the
    * caller's `orderCols` then filtered of empties — deterministic, so
    * the aggregate is gate-able cross-engine). One groupBy on the target
    * key; anchor payloads ride the same shuffle. At open-web scale the
    * value column is bounded per row by link multiplicity — hot targets
    * (a site's home page) can accumulate large anchor lists, so `maxRefs`
    * caps the JOINED list at the first `maxRefs` anchors in order (the
    * count columns stay exact over ALL refs).
    */
  def anchorStats(
      links: DataFrame,
      srcUrlCol: String = "url",
      dstUrlCol: String = "dst_url",
      anchorCol: String = "anchor",
      orderCols: Seq[String] = Seq("url", "link_pos"),
      maxRefs: Int = 256): DataFrame = {
    val ord = orderCols.map(col) :+ col(anchorCol)
    links
      .withColumn("__src_host", graft.expr.Native.hostOf(col(srcUrlCol)))
      .groupBy(col(dstUrlCol))
      .agg(
        count(lit(1)).as("n_refs"),
        countDistinct(col("__src_host")).as("n_hosts"),
        array_join(
          slice(
            filter(
              transform(array_sort(collect_list(struct(ord: _*))),
                x => x.getField(anchorCol)),
              a => a =!= ""),
            1, maxRefs),
          "|").as("anchors"))
  }

  /** Fixed-point integer PageRank — bit-exact on any engine.
    *
    * Ranks are maintained as 64-bit integers scaled by `scale` (default
    * 10^12), damping as the exact rational `dampNum/dampDen` (default
    * 17/20 = 0.85), and EVERY operation is integer arithmetic: per-source
    * share = rank div out-degree, inflow = exact integer sum, dangling
    * mass redistributed uniformly as (sum of dangling ranks) div N, new
    * rank = ((dampDen−dampNum)·(scale div N)) div dampDen +
    * (dampNum·(inflow + dangling share)) div dampDen. Integer sums are
    * order-independent, so the result is a pure function of (edges,
    * iters, scale, damping) — reproducible bit-for-bit across engines,
    * partitionings and retries, which is what lets the DuckDB oracle
    * (q69) replay it exactly. Truncation makes total mass drift a few
    * ulps-of-scale below `scale` per iteration; at scale=10^12 that is
    * ~10^-9 relative — irrelevant for ordering, which is all a frontier
    * consumes. (Float PageRank would be cheaper by zero shuffles and
    * unreproducible across aggregation orders; determinism wins here,
    * the same trade as Ann's sorted-fold centroids.)
    *
    * Scale shape: node and edge frames are slim (host, long); each
    * iteration is ONE join (edges ⋈ ranks on src — the edge set is
    * re-read from its checkpoint, never recomputed) and ONE groupBy(dst)
    * with partial aggregation, plus two scalar aggregates (dangling mass,
    * node count — the latter computed once). Iteration state is a
    * [[graft.util.Scratch]] checkpoint per round, so lineage stays O(1)
    * regardless of `iters`.
    *
    * @param edges  (src, dst) string columns; multiplicity is IGNORED
    *               (classic PageRank is over the link graph, not link
    *               weights) — pass distinct or weighted edges, both work
    * @return (host, rank) for every node in the graph, rank summing to
    *         ~`scale`
    */
  def pageRankInt(
      edges: DataFrame,
      iters: Int = 3,
      scale: Long = 1000000000000L,
      dampNum: Long = 17L,
      dampDen: Long = 20L,
      workDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum && scale > 0)
    // every node teleports; the teleport and flow terms are floored apart
    intRank(edges, iters, scale, workDir, "graft-pr", lit(true), "pageRankInt: empty graph")(
      (hosts, outDeg) => hosts.join(outDeg, Seq("host"), "left")) { (initRank, dangShare) =>
      val baseTerm = ((dampDen - dampNum) * initRank) / dampDen
      expr(s"CAST($baseTerm AS BIGINT) + " +
        s"($dampNum * (coalesce(inflow, CAST(0 AS BIGINT)) + CAST($dangShare AS BIGINT))) div $dampDen")
    }
  }

  /** Fixed-point integer TrustRank (Gyöngyi, Garcia-Molina & Pedersen,
    * VLDB'04) — PageRank with the teleport mass concentrated on a TRUSTED
    * seed set instead of uniform. The crawl-quality dual of
    * [[pageRankInt]]: rank flows OUT from vetted hosts, so spam farms
    * that only cite each other converge toward zero no matter how dense
    * their internal link structure — the admission-prior an open-web
    * frontier wants next to the raw-centrality one.
    *
    * Same bit-exact integer discipline as pageRankInt (the q69 contract):
    * per iteration, newRank(h) =
    *   [trusted(h) ? (dampDen−dampNum)·(scale div nT) + dampNum·(dangling div nT) : 0]
    *     + dampNum·inflow(h), all div dampDen
    * — teleport AND dangling mass both return to the trusted set
    * uniformly (div nT), inflow is an exact integer sum, so the result is
    * a pure function of (edges, trusted, iters, scale, damping) on any
    * engine/partitioning. Untrusted, unreached hosts are exactly 0.
    *
    * Scale shape identical to pageRankInt plus one broadcast-sized join
    * against the trusted flag (seed lists are human-curated — hundreds to
    * thousands of rows).
    *
    * @param trusted one column `host`; rows not present in the graph are
    *                ignored (nT counts only seeds that exist as nodes)
    */
  def trustRankInt(
      edges: DataFrame,
      trusted: DataFrame,
      iters: Int = 3,
      scale: Long = 1000000000000L,
      dampNum: Long = 17L,
      dampDen: Long = 20L,
      workDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum && scale > 0)
    val flags = trusted.select(col("host")).distinct().withColumn("__t", lit(true))
    // only trusted nodes teleport; their teleport and flow terms are
    // floored together
    intRank(edges, iters, scale, workDir, "graft-tr", col("trusted"),
      "trustRankInt: no trusted seed exists in the graph")(
      (hosts, outDeg) => hosts.join(flags, Seq("host"), "left").join(outDeg, Seq("host"), "left")
        .select(col("host"), coalesce(col("__t"), lit(false)).as("trusted"), col("deg"))) {
      (seedShare, dangShare) =>
        val baseTerm = (dampDen - dampNum) * seedShare // divided by dampDen with the rest
        expr(
          s"""(CASE WHEN trusted
                    THEN CAST($baseTerm AS BIGINT) + $dampNum * CAST($dangShare AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END
               + $dampNum * coalesce(inflow, CAST(0 AS BIGINT))) div $dampDen""")
    }
  }

  /** The integer rank loop [[pageRankInt]] and [[trustRankInt]] share.
    * The nodes that satisfy `teleport` share the teleport and dangling
    * mass: each starts at `share` = scale div (their count) and every other
    * node at 0. `nodesOf` builds the node frame from the distinct hosts and
    * their out-degree `deg`; `rankOf(share, dangShare)` is a node's new
    * rank over its `inflow` and the node frame's columns. Returns the node
    * columns but `deg`, and `rank`.
    */
  private def intRank(
      edges: DataFrame, iters: Int, scale: Long, workDir: Option[String], prefix: String,
      teleport: Column, noTeleport: String)(
      nodesOf: (DataFrame, DataFrame) => DataFrame)(
      rankOf: (Long, Long) => Column): DataFrame = {
    val scratch = graft.util.Scratch(edges.sparkSession, workDir, prefix)
    val e = scratch.checkpoint(
      edges.select(col("src").cast("string"), col("dst").cast("string"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct(),
      "edges")
    // nodes carry the STATIC out-degree (NULL = dangling) so that
    //  - each iteration's dangling mass is a row-local conditional sum
    //    over the ranks frame — observed on the checkpoint write of the
    //    PREVIOUS iteration instead of a per-iteration anti-join +
    //    aggregate job, and
    //  - the per-source share is `rank div deg` computed row-locally on
    //    the ranks frame (deg rides it) instead of a per-iteration
    //    ranks ⋈ outDeg join.
    // The teleport count AND the dangling teleport count ride the nodes
    // checkpoint: iteration 0's rank is `share` on teleport nodes and 0
    // elsewhere, so its dangling mass is exactly share × (dangling
    // teleport nodes) — which removes the iter-0 checkpoint entirely
    // (r07): the initial ranks frame is a trivial projection of the
    // checkpointed nodes with ONE consumer (iteration 1's share scan) and
    // stays lazy.
    val (nodes, Seq(nT, nDangT)) = scratch.checkpointObserving(
      nodesOf(
        e.select(col("src").as("host")).unionAll(e.select(col("dst").as("host"))).distinct(),
        e.groupBy(col("src").as("host")).agg(count(lit(1)).as("deg"))),
      "nodes",
      Seq(coalesce(sum(when(teleport, 1L)), lit(0L)),
        coalesce(sum(when(teleport && col("deg").isNull, 1L)), lit(0L))))
    require(nT > 0, noTeleport)
    val share = scale / nT
    val danglingOf = coalesce(sum(when(col("deg").isNull, col("rank"))), lit(0L))
    val nodeCols = nodes.columns.toSeq.map(col)

    var ranks = nodes.select(nodeCols :+ when(teleport, lit(share)).otherwise(lit(0L)).as("rank"): _*)
    var dangling = share * nDangT
    for (i <- 1 to iters) {
      // per-source integer share (row-local), then inflow per destination
      val flow = ranks.filter(col("deg").isNotNull)
        .select(col("host").as("s"), expr("rank div deg").as("share"))
      val inflow = e.join(flow, e("src") === col("s"))
        .groupBy("dst").agg(sum("share").as("inflow"))
      val next = nodes.join(inflow, nodes("host") === inflow("dst"), "left")
        .select(nodeCols :+ rankOf(share, dangling / nT).as("rank"): _*)
      // iter-0 was never checkpointed (lazy projection of nodes); the
      // result reads the last iteration's ranks and nothing else
      val replaced = (if (i > 1) Seq(s"iter-${i - 1}") else Nil) ++
        (if (i == iters) Seq("edges", "nodes") else Nil)
      val (r, Seq(d)) = scratch.checkpointObserving(next, s"iter-$i", Seq(danglingOf), replaced)
      ranks = r; dangling = d
    }
    ranks.drop("deg")
  }
}
