package graft.urls

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Redirect-chain resolution — the 3xx follow-up a real web crawl cannot
  * skip: a large fraction of fetched URLs answer with a Location header,
  * and the frontier/seen-set/link-graph all want the TERMINAL url (CC
  * dedups by final target; Scrapy's default RedirectMiddleware follows
  * chains the same way, bounded by REDIRECT_MAX_TIMES).
  *
  * Algorithm: pointer jumping (path doubling) over the slim
  * (src → dst) redirect map — after k rounds every url points at the node
  * reached by following up to 2^k redirects, so `maxHops` needs only
  * ceil(log2(maxHops)) self-joins. NEVER a driver-side loop over rows:
  * each round is one equi-join + projection on (string, string, long)
  * frames, checkpointed in a [[graft.util.Scratch]] so lineage stays
  * O(1). Cycles (a→b→a) and over-deep chains cannot terminate and are
  * reported as `looped` rather than silently dropped or followed forever
  * — at 10^10 URLs some WILL be redirect bombs.
  */
object Redirects {

  /** @param pages   (urlCol, redirectCol) — redirectCol NULL for terminal
    *                (non-redirecting) pages; the map must be functional
    *                (one Location per url — HTTP guarantees it)
    * @param maxHops the follow GUARANTEE: every chain of ≤ maxHops hops
    *                resolves. Doubling rounds = ceil(log2(maxHops)), whose
    *                coverage (1 + 2^rounds hops ≥ maxHops) may resolve
    *                somewhat longer chains too; anything not terminating
    *                within coverage — cycles and redirect bombs — reports
    *                `looped = true` with hops clamped to maxHops.
    * @return one row per INPUT url: (url, final_url, hops, looped) —
    *         terminal pages resolve to themselves with 0 hops. A chain
    *         pointing at a url absent from `pages` resolves to that
    *         dangling target (the fetch of it is the next round's job).
    */
  def resolve(
      pages: DataFrame,
      urlCol: String = "url",
      redirectCol: String = "redirect_to",
      maxHops: Int = 8,
      workDir: Option[String] = None): DataFrame = {
    require(maxHops >= 1)
    val scratch = graft.util.Scratch(pages.sparkSession, workDir, "graft-redir")

    // the redirect map (only redirecting rows — the self-join operand)
    // and the full state (every input url; terminals point at themselves)
    val edges = scratch.checkpoint(
      pages.filter(col(redirectCol).isNotNull)
        .select(col(urlCol).cast("string").as("u"),
          col(redirectCol).cast("string").as("nxt"))
        .distinct(),
      "edges")
    // the state plan is consumed ONCE (by the final jump application below)
    // — no checkpoint needed; it reads the already-checkpointed edge map
    val state = pages.select(col(urlCol).cast("string").as("u"))
      .distinct()
      .join(edges, Seq("u"), "left")
      .select(col("u"),
        coalesce(col("nxt"), col("u")).as("cur"),
        when(col("nxt").isNotNull, 1L).otherwise(0L).as("hops"))
    // jump table ONLY is doubled: jump_k(u) = node after min(2^k, chain)
    // hops from u, with the true hop count. The state is updated ONCE with
    // the FINAL table (coverage 1 + 2^rounds ≥ maxHops) instead of after
    // every doubling — updating it per round re-shuffled the full
    // input-sized state `rounds` times for coverage the guarantee never
    // promised (2^(rounds+1)−1 vs the contract's maxHops). Each doubling
    // is one self-join of the redirect-SOURCES-only table (a small
    // fraction of the input); only the last application touches all rows.
    var jump = scratch.checkpoint(
      edges.select(col("u").as("ju"), col("nxt").as("jnxt"), lit(1L).as("jhops")),
      "jump-0")

    val rounds = math.max(1, 32 - Integer.numberOfLeadingZeros(maxHops - 1)) // ceil(log2)
    var k = 1
    while (k <= rounds) {
      val j2 = jump.as("a").join(
        jump.select(col("ju").as("bu"), col("jnxt").as("bnxt"), col("jhops").as("bhops")).as("b"),
        col("a.jnxt") === col("bu"), "left")
        .select(col("a.ju").as("ju"),
          coalesce(col("bnxt"), col("a.jnxt")).as("jnxt"),
          (col("a.jhops") + coalesce(col("bhops"), lit(0L))).as("jhops"))
      // the LAST doubling has a single consumer (the final application) —
      // checkpointing it would only add a write; intermediate tables are
      // self-joined twice and must be materialized
      jump =
        if (k < rounds) scratch.checkpoint(j2, s"jump-$k", replaces = Seq(s"jump-${k - 1}"))
        else j2
      k += 1
    }
    val resolved = state.join(
      jump.select(col("ju"), col("jnxt"), col("jhops")),
      state("cur") === col("ju"), "left")
      .select(col("u"),
        coalesce(col("jnxt"), col("cur")).as("cur"),
        (col("hops") + coalesce(col("jhops"), lit(0L))).as("hops"))
    // still pointing at a redirect SOURCE after the bound ⇒ cycle or
    // over-deep; report, don't follow
    resolved.join(edges.select(col("u").as("eu")).distinct(),
        resolved("cur") === col("eu"), "left")
      .select(col("u").as(urlCol),
        col("cur").as("final_url"),
        when(col("eu").isNotNull, least(col("hops"), lit(maxHops.toLong)))
          .otherwise(col("hops")).as("hops"),
        col("eu").isNotNull.as("looped"))
  }
}
