package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** DSIR-style data selection with importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): score
  * every raw document by how much more likely its hashed n-gram features
  * are under a TARGET corpus (the high-quality distribution you want more
  * of) than under the RAW corpus it came from, then keep the head. The
  * published recipe hashes word unigrams+bigrams into B buckets and models
  * each corpus as a bag-of-buckets categorical; the log importance weight
  * of a doc is the sum over its features of log p_target − log p_raw.
  *
  * Everything here is exact integer/log arithmetic over deterministic
  * hashes — which is what lets the q56 DuckDB oracle retrain BOTH models
  * and recompute every weight from scratch:
  *   - feature strings: lowercased whitespace unigrams `t_i` and bigrams
  *     `t_i + " " + t_{i+1}` (tokens never contain whitespace, so the
  *     joined form is collision-free across n)
  *   - bucket(f) = first 15 hex chars of md5(f) as a 60-bit integer,
  *     mod B (the [[Sampler]] membership-hash technique: 15 hex digits
  *     fit a SIGNED 64-bit int in every engine)
  *   - c_T(b), c_R(b) = bucket counts over target/raw; N = Σ_b c(b)
  *   - logp(b) = ln((c(b) + 1) / (N + B))  [add-one smoothing over the
  *     FIXED bucket alphabet — unlike [[LmScore]]'s vocabulary, B is a
  *     constant, so the oracle needs no distinct-count subquery]
  *   - logw(doc) = Σ_f [logp_T(bucket(f)) − logp_R(bucket(f))], 0.0 for
  *     docs with no tokens
  */
object Dsir {

  /** 60-bit md5-prefix bucket of a feature string — the [[Sampler]] hash
    * shape, shared so any engine (DuckDB included) can recompute it.
    */
  private def bucketExpr(f: Column, buckets: Int): Column =
    conv(substring(md5(f.cast("binary")), 1, 15), 16, 10).cast("long") % buckets

  /** Unigram + bigram feature strings of a MATERIALIZED token-array column
    * (projection boundary — every slice references `tk`, SPARK-35410).
    */
  private def featureStrings(tk: Column): Column = {
    val n = size(tk)
    val bigrams = when(n > 1,
      zip_with(slice(tk, lit(1), n - 1), slice(tk, lit(2), n - 1),
        (p, w) => concat(p, lit(" "), w)))
      .otherwise(typedLit(Array.empty[String]))
    concat(tk, bigrams)
  }

  /** Slim (id, bucket) feature stream for `docs` — ONE projection +
    * explode; the fat token array never crosses a shuffle.
    */
  private[pipeline] def featureBuckets(
      docs: DataFrame, buckets: Int,
      idCol: String, textCol: String): DataFrame =
    // spread first: the tokenize + per-feature md5 kernel otherwise runs
    // at raw scan parallelism (1-2 splits on a small parquet; no-op at
    // real scale) — it feeds a partial aggregation, so the whole map side
    // was serialized on one task
    graft.util.PlanSize.spread(docs)
      .select(col(idCol).cast("long").as("id"),
        TextFns.loweredTokens(col(textCol)).as("__tk"))
      .select(col("id"), explode(featureStrings(col("__tk"))).as("__f"))
      .select(col("id"), bucketExpr(col("__f"), buckets).as("bucket"))

  /** Train the hashed-feature count model over `corpus`: one scan, one
    * keyed aggregation, slim (bucket, c) out — a MODEL table, ≤ B rows,
    * persistable and reusable like [[graft.ann.Ann.saveCentroids]] /
    * [[LmScore.trainCounts]].
    */
  def trainCounts(corpus: DataFrame, buckets: Int,
      textCol: String = "text"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    featureBuckets(corpus.select(lit(0L).as("__id0"), col(textCol)),
      buckets, "__id0", textCol)
      .groupBy("bucket")
      .agg(count(lit(1)).as("c"))
  }

  /** Score `docs` against trained target/raw count models (both from
    * [[trainCounts]] at the SAME `buckets`).
    *
    * Scale shape: the doc side is one projection + explode into a slim
    * (id, bucket) stream; both models are ≤ B rows — AQE broadcasts the
    * equi-joins (no hint pins the strategy, so a deployment with a huge B
    * degrades to shuffle joins); totals are model-sized aggregates.
    * Per-doc reduction is a keyed agg on id with map-side partial combine.
    * No window, no driver data path.
    */
  def weightsWith(
      docs: DataFrame,
      targetModel: DataFrame,
      rawModel: DataFrame,
      buckets: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val tTot = targetModel.agg(sum("c").as("__nt"))
    val rTot = rawModel.agg(sum("c").as("__nr"))
    val tm = targetModel.withColumnRenamed("c", "__ct")
    val rm = rawModel.withColumnRenamed("c", "__cr")
    val ids = docs.select(col(idCol).cast("long").as("id"))
    val scored = featureBuckets(docs, buckets, idCol, textCol)
      .join(tm, Seq("bucket"), "left")
      .join(rm, Seq("bucket"), "left")
      .crossJoin(broadcast(tTot))
      .crossJoin(broadcast(rTot))
      .select(col("id"),
        (log((coalesce(col("__ct"), lit(0L)) + 1).cast("double") /
             (col("__nt") + buckets)) -
         log((coalesce(col("__cr"), lit(0L)) + 1).cast("double") /
             (col("__nr") + buckets))).as("__d"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_feats"), round(sum(col("__d")), 4).as("logw"))
    ids.join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("logw"), lit(0.0)).as("logw"))
  }

  /** One-call train-both-then-score composition (the q56 gate shape): the
    * raw model is trained on the scored corpus itself — the published
    * recipe's default — and both slim models are [[graft.util.Scratch]]
    * checkpoints (in `workDir`, or an auto-created directory removed at JVM
    * exit) so each corpus is tokenized and aggregated EXACTLY once;
    * [[weightsWith]]'s model references then read column-pruned parquet
    * instead of re-running the training scans (lambda-heavy token subtrees
    * defeat exchange reuse — the documented Clusters trap).
    *
    * To APPLY the selection at scale, filter row-locally on a weight
    * threshold (or feed the weights to [[Sampler.stratifiedSample]]-style
    * hash membership for a soft resample); a global exact top-k of a
    * 10^10-doc corpus is a full sort — derive the threshold from
    * `approxQuantile` on the weights instead.
    */
  def importanceWeights(
      docs: DataFrame,
      targetCorpus: DataFrame,
      buckets: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text",
      targetTextCol: String = "text",
      workDir: Option[String] = None): DataFrame = {
    val scratch = graft.util.Scratch(docs.sparkSession, workDir, "graft-dsir")
    // the two training scans are independent — submit them concurrently
    // (the CrawlJob write-phase idiom, guide §2.6: back-fill the tail of
    // one job with the other's tasks) instead of paying two full job
    // latencies back to back
    val Seq(target, raw) = graft.util.Sessions.concurrently(docs.sparkSession.sparkContext)(
      () => scratch.checkpoint(trainCounts(targetCorpus, buckets, targetTextCol), "target-model"),
      () => scratch.checkpoint(trainCounts(docs, buckets, textCol), "raw-model"))
    weightsWith(docs, target, raw, buckets, idCol, textCol)
  }
}
