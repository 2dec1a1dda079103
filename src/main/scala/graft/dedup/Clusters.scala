package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-dup cluster resolution: candidate PAIRS (from MinHash/SimHash/ANN)
  * → connected components → one survivor per cluster. The step a production
  * dedup pipeline runs after pair generation: pairs alone cannot
  * deduplicate a corpus — transitive duplicates (a–b, b–c ⇒ {a,b,c}) need
  * closure before a keep/drop verdict exists.
  *
  * Algorithm: alternating large-star / small-star min-id propagation
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — O(log² n) iterations worst case (2-3 typical for near-dup
  * graphs, whose components are small and dense), each iteration a pair of
  * keyed shuffles over the edge set. NEVER a driver-side union-find: edges
  * stay distributed end to end, so 10^9 duplicate pairs resolve with the
  * same plan shape as 10^3.
  *
  * Iteration state is a [[graft.util.Scratch]] checkpoint per round
  * (lineage truncation, the loop operators' one mechanism).
  */
object Clusters {

  /** One large-star operation: every node points its LARGER neighbors at
    * the minimum of its neighborhood (including itself).
    *
    * No internal distinct(): the output feeds [[smallStar]], whose min is
    * duplicate-insensitive and whose own final distinct restores set
    * semantics for the per-iteration checkpoint. The pre-distinct row
    * count is bounded by the (directed) edge count — never quadratic — so
    * dropping the exchange is free at any scale (one shuffle per
    * iteration saved; r07 measurement).
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(edges.select(col("dst").as("u"), col("src").as("v")))
    val w = Window.partitionBy("u")
    sym
      .withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
  }

  /** One small-star operation: every node links its SMALLER neighbors (and
    * itself) to the minimum of those neighbors.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
    val w = Window.partitionBy("u")
    val withM = oriented.withColumn("m", min(col("v")).over(w))
    withM
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .unionAll(withM.select(col("u").as("src"), col("m").as("dst")))
      .distinct()
  }

  /** Resolve duplicate-candidate pairs into connected components.
    *
    * @param pairs    edges, any two numeric-id columns (defaults match the
    *                 pair emitters: id_a, id_b); direction/duplication/self
    *                 loops are all tolerated
    * @param maxIter  hard iteration bound — the algorithm is O(log² n)
    *                 rounds worst case, so hitting this means the input is
    *                 adversarial; fail loudly rather than return a partial
    *                 closure that would silently under-deduplicate
    * @return (id, cluster_id) for every node appearing in `pairs`, where
    *         cluster_id is the MINIMUM id of the node's component (the
    *         conventional survivor choice — stable, deterministic)
    */
  def resolveClusters(
      pairs: DataFrame,
      idColA: String = "id_a",
      idColB: String = "id_b",
      maxIter: Int = 50,
      workDir: Option[String] = None): DataFrame = {
    // the FINAL iteration's files back the returned (lazy) DataFrame:
    // callers that pass `workDir` own its lifetime
    val scratch = graft.util.Scratch(pairs.sparkSession, workDir, "graft-cc")
    // order-insensitive set signature (count, xor of hashes), observed on
    // the checkpoint write itself: one action per iteration, not two
    val signature = Seq(count(lit(1)), coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)))

    // canonical edge set: (min, max), no self-loops, no duplicates —
    // checkpointed BEFORE the first iteration: largeStar references its
    // input twice (the symmetrization union), and an un-materialized pair
    // plan would execute its candidate generators twice (lambda-heavy
    // signature subtrees defeat exchange-reuse canonicalization, so Spark
    // does not dedup the sides; measured ~2x on the mixed-source q37).
    // Pair generation is the expensive stage at any scale — it must run
    // exactly once.
    var edges = scratch.checkpoint(
      pairs
        .select(
          least(col(idColA).cast("long"), col(idColB).cast("long")).as("src"),
          greatest(col(idColA).cast("long"), col(idColB).cast("long")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct(),
      "iter-0")

    // iterate until the (canonical) edge set is stable: at the fixed point
    // every component is a star rooted at its minimum id
    var prev: Option[Seq[Long]] = None
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      iter += 1
      // Known trade of the signature: two DIFFERENT consecutive edge sets
      // with equal counts whose 64-bit xor-of-hashes collide would declare
      // convergence one iteration early (probability ~2^-64 per iteration —
      // the xor of xxhash64 values over a changed set is uniformly
      // distributed). An exact set compare would cost a full anti-join per
      // iteration; accepted odds, documented rather than paid for.
      val (next, sig) = scratch.checkpointObserving(
        smallStar(largeStar(edges)), s"iter-$iter", signature, replaces = Seq(s"iter-${iter - 1}"))
      edges = next
      converged = prev.contains(sig)
      prev = Some(sig)
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter iterations")

    // star edges are (member, root); roots label themselves
    edges.select(col("src").as("id"), col("dst").as("cluster_id"))
      .unionAll(edges.select(col("dst").as("id"), col("dst").as("cluster_id")))
      .distinct()
  }

  /** Corpus dedup over ANY mix of candidate-pair sources, closed in ONE
    * component resolution: a production dedup run feeds one closure from
    * several generators at once (MinHash text near-dups, SimHash
    * hamming-near signatures, embedding-cosine semantic dups — the same
    * one-sink composition as the reference's shared pipeline,
    * pipelines.py:41-58), because a duplicate chain may only be connected
    * ACROSS sources: a–b textual, b–c semantic ⇒ {a,b,c} is one cluster no
    * single generator can see.
    *
    * @param pairSources already-built pair frames, each carrying `id_a`,
    *                    `id_b` columns (extra columns — est_jaccard,
    *                    hamming, cosine — are ignored); ids must share the
    *                    corpus id space
    * @return (id, cluster_id, keep) for every doc: keep=true exactly for
    *         the minimum id of each cluster — filtering on keep yields the
    *         deduplicated corpus. Docs in no pair form singleton clusters.
    */
  def dedupCorpusFrom(
      docs: DataFrame,
      pairSources: Seq[DataFrame],
      idCol: String = "doc_id"): DataFrame = {
    require(pairSources.nonEmpty, "dedupCorpusFrom needs at least one pair source")
    // slim (src, dst) union BEFORE the closure: resolveClusters canonicalizes
    // direction/dups, so cross-source repeats of the same edge are free
    val edges = pairSources
      .map(_.select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b")))
      .reduce(_ unionByName _)
    val clusters = resolveClusters(edges)
    docs.select(col(idCol).cast("long").as("id"))
      .join(clusters, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      .withColumn("keep", col("id") === col("cluster_id"))
  }

  /** End-to-end corpus dedup with the default MinHash-LSH pair source —
    * the single-generator convenience over [[dedupCorpusFrom]].
    */
  def dedupCorpus(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.9,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 1000): DataFrame =
    dedupCorpusFrom(
      docs,
      Seq(DocDedup.minhashPairs(
        docs, idCol, textCol, numHashes = numHashes, bands = bands,
        threshold = threshold, maxBucket = maxBucket)),
      idCol)
}
