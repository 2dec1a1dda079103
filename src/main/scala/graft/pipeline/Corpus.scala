package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Composed corpus-cleanup pipeline — the C4/Gopher-style filter chain a
  * pretraining data pipeline runs as ONE job, not four: token-count
  * bounds → language filter → quality band checks → exact-duplicate
  * removal, emitting every doc with a keep verdict and the FIRST failing
  * reason (the observability a production filter needs — what fraction
  * dropped, and why — without a second pass).
  */
object Corpus {

  /** Repetition-filter thresholds for the optional `repetitive` verdict
    * rung — defaults are Gopher's published cutoffs (Rae et al. 2021
    * §A1.1): drop a doc when more than 30% of its lines repeat an earlier
    * line, or when its most frequent word bigram covers more than 20% of
    * its characters. Comparisons run on the ROUNDED (4-decimal) signal
    * fields of [[graft.functions.TextFns.repetitionSignals]] — the same
    * values the q48 gate proves cross-engine — so the band's edge
    * behavior is oracle-exact, not float-luck.
    */
  case class RepetitionBounds(
      maxDupLineFrac: Double = 0.3,
      maxTopBigramCharFrac: Double = 0.2)

  /** Clean a corpus in one composed pass.
    *
    * Reason precedence is part of the contract (a doc failing several
    * filters reports the earliest): `too_short`, `too_long`, `wrong_lang`,
    * `low_quality`, `repetitive` (only when a [[RepetitionBounds]] is
    * passed — the Gopher repetition rung is opt-in), `duplicate`, else
    * `kept`. Dedup runs LAST and only
    * among docs that pass every row-local filter — dropping a filtered doc
    * must not change which duplicate survives, and the duplicate-group
    * survivor is the minimum id among PASSING members (if a group's
    * min-id doc fails a filter, the next passing copy survives).
    *
    * Scale shape: the per-row kernels (token count, language ID, quality
    * score, md5 identity) run in one projection pass; the only shuffle is
    * the dedup window keyed on the 128-bit content hash, and the text
    * column is projected away BEFORE it — only slim
    * (id, verdict-ingredient) rows move.
    *
    * @return (id, n_tokens, pred_lang, quality, reason, keep) for EVERY
    *         input doc; filtering on keep yields the cleaned corpus
    */
  /** The ROW-LOCAL half of the verdict chain, shared by the batch [[clean]]
    * and the streaming dual ([[graft.streaming.Streams.cleanDocs]]) so the
    * two can never disagree on a verdict: every input column passes
    * through, plus (n_tokens, pred_lang, quality, __h, __r0) where __h is
    * the md5/128-bit content identity (a 64-bit key silently merges
    * distinct docs at 10^10 scale — DocDedup.exact's argument) and __r0 is
    * the first failing row-local reason or NULL.
    *
    * Tokenize ONCE through projection boundaries: the token array is
    * consumed by the count, the language scorer and the quality bands —
    * and Catalyst CSE does not deduplicate trees referenced from lambda
    * bodies (the repo's documented trap), so inline tokens(text) in each
    * consumer would re-split every row ~10x (measured 1.7x on the whole
    * q38 verdict kernel: 4.5 -> 2.6 s at sf0.1).
    */
  private[graft] def rowVerdicts(
      docs: DataFrame,
      textCol: String,
      keepLang: String,
      minTokens: Int,
      maxTokens: Int,
      minQuality: Double,
      repetition: Option[RepetitionBounds] = None): DataFrame = {
    val passthrough = docs.columns.map(col).toSeq
    val lowered = docs
      .withColumn("__tk", TextFns.tokens(col(textCol)))
      .withColumn("__ltk", transform(col("__tk"), lower _))
    // __ltk serves BOTH the language scorer and the quality stopword band;
    // with the repetition rung on, the signal struct (it needs __tk plus a
    // line split) rides the same projection pass — one more row-local
    // kernel, still zero shuffles — and stays a materialized column
    // (`__rep`) so the two threshold reads in the verdict chain extract
    // fields instead of re-running the O(n log n) bigram scan
    // (SPARK-35410: CSE skips lambda-bearing trees).
    val repCol = repetition.map(_ =>
      TextFns.repetitionSignals(col(textCol), col("__tk"), split(col(textCol), "\n"))
        .as("__rep")).toSeq
    val rowLocal = when(col("n_tokens") < minTokens, "too_short")
      .when(col("n_tokens") > maxTokens, "too_long")
      .when(col("pred_lang") =!= keepLang, "wrong_lang")
      .when(col("quality") < minQuality, "low_quality")
    lowered
      .select(passthrough ++ Seq(
        size(col("__tk")).as("n_tokens"),
        TextFns.langIdFromTokens(col("__ltk")).as("pred_lang"),
        TextFns.qualityScoreFromTokens(col(textCol), col("__tk"), col("__ltk")).as("quality"),
        md5(col(textCol).cast("binary")).as("__h")) ++ repCol: _*)
      .withColumn("__r0", repetition match {
        case Some(b) => rowLocal
          .when(col("__rep.dup_line_frac") > b.maxDupLineFrac, "repetitive")
          .when(col("__rep.top_bigram_char_frac") > b.maxTopBigramCharFrac, "repetitive")
        case None => rowLocal
      })
      .drop("__rep")
  }

  /** @param normalizeNfc apply Unicode NFC ([[graft.expr.Native.nfcNormalize]])
    *                      to the text BEFORE every verdict kernel and the
    *                      md5 dedup hash — composed and decomposed forms
    *                      of the same visible string otherwise hash apart
    *                      and silently survive exact dedup. Off by default
    *                      for q38-parity; a web-text deployment wants it on.
    */
  def clean(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      keepLang: String = "en",
      minTokens: Int = 5,
      maxTokens: Int = 50000,
      minQuality: Double = 0.75,
      repetition: Option[RepetitionBounds] = None,
      normalizeNfc: Boolean = false): DataFrame = {
    val srcText =
      if (normalizeNfc) graft.expr.Native.nfcNormalize(col(textCol)) else col(textCol)
    // spread BEFORE the verdict kernels: tokenize/langId/quality/md5 (and
    // the optional NFC + repetition rungs) otherwise run at raw scan
    // parallelism (1-2 splits on a small parquet); no-op at real scale.
    val slim = rowVerdicts(
      graft.util.PlanSize.spread(
        docs.select(col(idCol).cast("long").as("id"), srcText.as("__text"))),
      "__text", keepLang, minTokens, maxTokens, minQuality, repetition)
      .select("id", "n_tokens", "pred_lang", "quality", "__h", "__r0")
    // passing docs first (false < true), then min id: rank 1 is the
    // surviving copy; a passing doc ranked behind it is the duplicate
    val w = Window.partitionBy("__h").orderBy(col("__r0").isNotNull, col("id"))
    slim
      .withColumn("__rn", row_number().over(w))
      .select(
        col("id"), col("n_tokens"), col("pred_lang"), col("quality"),
        coalesce(col("__r0"), when(col("__rn") > 1, "duplicate"), lit("kept"))
          .as("reason"))
      .withColumn("keep", col("reason") === "kept")
  }

  /** [[clean]] composed with NEAR-duplicate removal — the full
    * C4/RefinedWeb-style pipeline in one call: the row-local filters and
    * exact-dup window run first (identical semantics and oracle as
    * [[clean]]), then candidate pairs from any mix of generators
    * (MinHash-LSH, SimHash, embedding cosine — the same sources
    * [[graft.dedup.Clusters.dedupCorpusFrom]] composes) are closed into
    * clusters and every cluster keeps ONE survivor.
    *
    * Reason precedence extends the [[clean]] contract by one rung:
    * `too_short`, `too_long`, `wrong_lang`, `low_quality`, `duplicate`,
    * `near_duplicate`, else `kept`. A doc already failing an earlier filter
    * keeps that reason — near-dup demotion applies only to docs the earlier
    * chain kept. The cluster survivor is the minimum id among members whose
    * earlier verdict is `kept` (consistent with the exact-dup rule: if a
    * cluster's min-id member fails a filter or is an exact duplicate, the
    * next kept member survives); a cluster with no kept member issues no
    * `near_duplicate` at all.
    *
    * Scale shape: ONE reference to the [[clean]] verdict frame — a
    * two-branch split (inner join + anti-join) would re-execute the whole
    * verdict kernel (tokenize, language, quality, md5 window) per branch,
    * the lambda-defeats-CSE trap this repo documents on every signature
    * pipeline. Instead the (id, cluster_id) table — near-dup docs only, a
    * small fraction of any real corpus, AQE-broadcastable — left-joins
    * onto the verdicts and the survivor rank windows over
    * coalesce(cluster_id, id): unclustered docs are singleton partitions
    * (rank 1, never demoted), and the window's keyed shuffle of slim
    * verdict rows is the same shape and cost class as [[clean]]'s own md5
    * window. Pair generation dominates end to end, exactly as in
    * `dedupCorpusFrom`.
    *
    * Skew bound, stated explicitly (the maxBucket precedent): the survivor
    * window partitions by cluster_id over ALL docs, so one PATHOLOGICAL
    * cluster capturing a large fraction of the corpus (boilerplate swamping
    * every generator) funnels that cluster's slim verdict rows into one
    * window task — same hazard class as any per-key window, and far
    * cheaper than the pair generation that would have had to emit such a
    * cluster's edges first. It is never silent: clusters ranking past
    * `hotClusterWarn` members are counted ON the same job
    * ([[graft.dedup.DocDedup.withHotKeyObserver]]) and reported to stderr.
    *
    * @param pairSources pair frames carrying `id_a`, `id_b` (extra columns
    *                    ignored) in the corpus id space — typically
    *                    `DocDedup.minhashPairs(docs)` /
    *                    `DocDedup.simhashPairs(docs)` /
    *                    `Ann.cosineNearDupPairs(embeddings)`
    * @param hotClusterWarn cluster size past which members are counted and
    *                    reported as window-task skew (observation only —
    *                    results are identical at any setting)
    * @return (id, n_tokens, pred_lang, quality, cluster_id, reason, keep)
    *         for EVERY input doc; cluster_id = the doc's near-dup cluster
    *         root (its own id when unclustered)
    */
  /** GPT-style sequence-packing offsets: concatenate the corpus in id
    * order (each doc occupying `n_tokens + sepTokens` slots — the
    * separator the tokenizer inserts between documents) and slice the
    * stream into fixed `budget`-token context windows. Emits, for EVERY
    * doc, its global token offset and the first/last pack (window) its
    * tokens land in — the exact map a training-data writer needs to
    * materialize packed sequences, and the packing semantics GPT-2/3
    * training actually uses (concatenate-then-chunk; docs straddle window
    * boundaries).
    *
    * Deterministic by construction: the order is the id, not arrival.
    * Scale shape: the global cumulative sum runs through
    * [[graft.plan.Frontier.withGlobalPrefixSum]] — value-pure range
    * buckets, per-bucket sums, broadcast offsets — never a
    * single-partition `Window.orderBy` cumsum (which would funnel the
    * whole corpus through one task). Pack ids are exact integral division
    * (`DIV`), no float rounding at 10^13-token offsets.
    *
    * @return (id, n_tokens, start_tok, pack_first, pack_last); an empty
    *         doc spans zero tokens and reports its boundary pack for both
    */
  def packOffsets(
      docs: DataFrame,
      budget: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      sepTokens: Int = 0,
      partitions: Int = 32): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(sepTokens >= 0, "sepTokens must be non-negative")
    // the slot derives from the counted column: two restated token
    // splits carry distinct lambda variables, so Catalyst would run both
    val slim = docs.select(
      col(idCol).cast("long").as("id"),
      TextFns.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__slot", col("n_tokens") + sepTokens)
    graft.plan.Frontier.withGlobalPrefixSum(slim, "id", "__slot", "start_tok", partitions)
      .withColumn("pack_first", expr(s"start_tok DIV $budget"))
      .withColumn("pack_last",
        expr(s"(start_tok + greatest(n_tokens, 1L) - 1L) DIV $budget"))
      .select("id", "n_tokens", "start_tok", "pack_first", "pack_last")
  }

  def cleanWithNearDup(
      docs: DataFrame,
      pairSources: Seq[DataFrame],
      idCol: String = "doc_id",
      textCol: String = "text",
      keepLang: String = "en",
      minTokens: Int = 5,
      maxTokens: Int = 50000,
      minQuality: Double = 0.75,
      hotClusterWarn: Int = 100000,
      repetition: Option[RepetitionBounds] = None): DataFrame = {
    require(pairSources.nonEmpty, "cleanWithNearDup needs at least one pair source")
    val base = clean(docs, idCol, textCol, keepLang, minTokens, maxTokens, minQuality, repetition)
      .drop("keep") // recomputed after demotion
    val edges = pairSources
      .map(_.select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b")))
      .reduce(_ unionByName _)
    val clusters = graft.dedup.Clusters.resolveClusters(edges)
      .withColumnRenamed("cluster_id", "__cl")
    // kept-first then min id: rank 1 is the surviving member iff it is kept;
    // unclustered docs are singleton partitions and can never rank > 1
    val w = Window.partitionBy("cluster_id").orderBy(col("reason") =!= "kept", col("id"))
    graft.dedup.DocDedup.withHotKeyObserver(
      "cleanWithNearDup.cluster",
      base.join(clusters, Seq("id"), "left")
        .withColumn("cluster_id", coalesce(col("__cl"), col("id")))
        .withColumn("__rn", row_number().over(w)),
      "__rn", hotClusterWarn)
      .select(
        col("id"), col("n_tokens"), col("pred_lang"), col("quality"),
        col("cluster_id"),
        when(col("reason") === "kept" && col("__rn") > 1, "near_duplicate")
          .otherwise(col("reason")).as("reason"))
      .withColumn("keep", col("reason") === "kept")
  }
}
