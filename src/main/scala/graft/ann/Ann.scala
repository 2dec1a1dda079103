package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): exact
  * brute-force cosine top-k as the correctness baseline, and an LSH
  * (random-hyperplane) bucketed variant as the scale path.
  *
  * Scale notes: brute-force is queries × corpus — fine when the query set
  * is small enough to broadcast (the common "probe a few vectors" case);
  * the LSH variant shuffles corpus rows only into their signature buckets
  * so the join is bucket-local, trading recall for a corpus-sized (not
  * quadratic) cost. All arithmetic is Column-level (`zip_with`/`aggregate`),
  * no UDFs in the hot path.
  */
object Ann {

  /** Dot product of two float vectors (double accumulation) — the native
    * kernel ([[graft.expr.Kernels.dotDouble]]), bit-identical to the
    * `aggregate(zip_with(a, b, x·y), 0.0, +)` expression form it replaced
    * (same ascending fold, same casts, same null-pad collapse) without
    * materializing a zipped array per call (NativeSigSpec pins parity).
    */
  def dot(a: Column, b: Column): Column = graft.expr.Native.dot(a, b)

  /** sqrt of the self-dot — the identical ascending Σx² fold the previous
    * `aggregate(a, 0.0, acc + x²)` form computed, so norms are
    * bit-identical.
    */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact brute-force cosine top-k.
    *
    * @param queries (query_id, embedding) — small; broadcast
    * @param corpus  (vec_id, embedding)
    * @return (query_id, vec_id, cosine, rank) with rank 1..k per query,
    *         ties broken by vec_id for determinism
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = graft.util.PlanSize.spread(corpus).crossJoin(broadcast(queries))
      .withColumn("cosine", round(cosine(col("q_embedding"), col("embedding")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** Random-hyperplane signature for LSH table `t`: bit i = sign(dot(v,
    * h_{t,i})) where h_{t,i}[d] derives from xxhash64(t·10007+i, d) scaled
    * to [-1, 1) — a deterministic hyperplane family with no stored model,
    * reproducible on any cluster.
    *
    * Production form: the native kernel ([[graft.expr.Kernels.hyperplaneSig]])
    * with the (bits × dim) hyperplane matrix precomputed once per JVM — the
    * expression form it replaced re-derived every weight (two xxhash64
    * mixes, a pmod, two casts) per (row × bit × dimension) even though
    * weights depend only on (t, i, d). Bit-identical (same mixers, same
    * accumulation order, same null/empty collapse; NativeSigSpec pins it
    * against that expression form, kept as its test-scope reference).
    */
  def hyperplaneSignature(vec: Column, t: Int, bits: Int): Column =
    graft.expr.Native.hyperplaneSig(vec, t, bits)

  private def explodedBuckets(embCol: String, bits: Int, tables: Int): Column =
    explode(array((0 until tables).map { t =>
      struct(lit(t).as("t"), hyperplaneSignature(col(embCol), t, bits).as("sig"))
    }: _*))

  /** LSH-bucketed approximate top-k: corpus rows join queries only within
    * matching (table, signature) buckets; `tables` independent signatures
    * raise recall. May return fewer than k results for out-of-bucket
    * queries — the recall/cost tradeoff is the point.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 12, tables: Int = 4): DataFrame = {
    val corpusB = graft.util.PlanSize.spread(corpus)
      .withColumn("bucket", explodedBuckets("embedding", bits, tables))
    val queriesB = queries.withColumn("bucket", explodedBuckets("q_embedding", bits, tables))
    val candidates = corpusB.join(broadcast(queriesB), Seq("bucket"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("cosine", round(cosine(col("q_embedding"), col("embedding")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  // ------------------------------------------------------------------ IVF

  /** Distances to every centroid as one array column — the native kernel
    * ([[graft.expr.Kernels.ivfDists]]), bit-identical to the previous
    * per-centroid aggregate-over-zip_with array (same ascending (x−c)²
    * fold per centroid; NativeSigSpec pins parity). The expression form
    * codegen'd K aggregate trees around K×dim literals — a janino source
    * the size of the model, recompiled per query; the kernel references
    * the model object instead. Callers materialize the array through a
    * withColumn boundary before [[argminList]] so it evaluates once, not
    * once per consumer.
    */
  private def distsExpr(emb: Column, cents: Array[Array[Double]]): Column =
    graft.expr.Native.ivfDists(emb, cents)

  /** Index of the minimum distance (first wins on ties — deterministic). */
  private def argminList(dists: Column): Column =
    (array_position(dists, array_min(dists)) - 1).cast("int")

  /** The `nProbe` nearest list ids, nearest first, derived from a
    * MATERIALIZED distance-array column (struct sort on (distance, list) —
    * deterministic ties, exactly the previous
    * `array_sort(array(struct(distSq(emb, c_i), i)))` values; the structs
    * are just built from the array instead of re-aggregating per centroid).
    */
  private def probeListsFromDists(dists: Column, nLists: Int, nProbe: Int): Column =
    transform(
      slice(array_sort(transform(
        sequence(lit(0), lit(nLists - 1)),
        i => struct(element_at(dists, i + 1).as("d"), i.as("l")))), 1, nProbe),
      s => s.getField("l"))

  /** Train IVF coarse centroids: Lloyd's k-means on a deterministic sample
    * (the `trainSample` lowest-hash vectors — IVF quantizers are always
    * trained on a sample, so the 100 TB cost is one slim global sort of
    * (hash, id) plus `iters` passes over the SAMPLE only). The model is
    * nLists × dim doubles — driver/broadcast sized by construction. Lists
    * that lose all members keep their previous centroid. Fully
    * deterministic, same corpus → same centroids on any cluster — which
    * takes engineering, not just seeding: a plain sum() of doubles folds
    * partial aggregates in shuffle-arrival order, and float non-associativity
    * would let two runs diverge by an ulp and then amplify through the
    * assignment step. The per-(list, dim) sum therefore collects its values
    * (bounded by `trainSample` per group — sample-sized, never corpus-sized)
    * and folds them in SORTED order.
    */
  def ivfCentroids(
      corpus: DataFrame,
      nLists: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      trainSample: Int = 100000): Array[Array[Double]] = {
    import corpus.sparkSession.implicits._
    // the global sort that picks the sample ranks SLIM (hash, id) rows —
    // with the embedding riding the TakeOrderedAndProject, every partition
    // would hold a top-trainSample heap of fat vectors (~trainSample × dim
    // floats, hundreds of MB at production dims) instead of 16-byte keys;
    // the sampled ids then pull their vectors back via a broadcast
    // semi-join (trainSample rows — sample-sized by contract, never
    // corpus-sized)
    val keys = corpus
      .select(xxhash64(col(idCol)).as("__h"), col(idCol).as("__k"))
      .orderBy("__h")
      .limit(trainSample)
    val train = corpus
      .join(broadcast(keys), col(idCol) === col("__k"))
      .select(col("__h"), col("embedding").cast("array<double>").as("emb"))
      // fixed sample-sized layout for the iteration scans: a small corpus
      // arrives as one scan split (every Lloyd pass single-task), a huge
      // one as thousands of near-empty sample partitions — both converge
      // on defaultParallelism here, and the shuffle moves only the sample
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .cache()
    try {
      var cents = train.orderBy("__h").limit(nLists)
        .select("emb").collect().map(_.getSeq[Double](0).toArray)
      require(cents.nonEmpty, "IVF training needs a non-empty corpus")
      for (_ <- 1 to iters) {
        // assignment via a CLOSURE UDF over this iteration's centroid
        // array — row-local argmin, deterministic ties (strict-less scan
        // in list order ≡ the previous lexicographic struct-min), and the
        // same IEEE accumulation order as the previous zip_with/aggregate
        // expression (ascending dimension, acc + (x−y)²), so the trained
        // model is bit-identical. Why not centroid-literal expressions:
        // literals change every iteration and Spark would recompile the
        // K×dim-constant codegen from scratch each time (measured
        // ~5 s/iteration of pure janino for 8×64). Why no longer the
        // broadcast-join + struct-min shape (r07): the K-fold crossJoin
        // row multiplication and its groupBy(__h) argmin cost a second
        // exchange per iteration that a row-local assignment simply
        // doesn't have — the UDF closure serializes K×dim doubles into
        // the task binary (model-sized) and no plan is recompiled. This
        // is the TRAINING path (sample-sized by contract), not the
        // corpus-scale apply path, so a UDF is the right tool here.
        val centsLocal = cents.map(_.clone())
        val assign = udf((emb: Seq[Double]) => {
          var best = 0; var bestD = Double.MaxValue
          var l = 0
          while (l < centsLocal.length) {
            val c = centsLocal(l)
            var d = 0.0; var i = 0
            while (i < c.length) { val t = emb(i) - c(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = l }
            l += 1
          }
          best
        })
        // per-(list, dim) mean via posexplode: nLists × dim rows to the
        // driver — model-sized, never data-sized. The assignment crosses a
        // projection boundary BEFORE the explode — inline it would be
        // evaluated per exploded (row × dim) element, dim× the calls
        // (measured 3 s/iteration vs sub-second at sf0.1)
        val stats = train
          .select(assign(col("emb")).as("l"), col("emb"))
          .select(col("l"), posexplode(col("emb")).as(Seq("pos", "v")))
          .groupBy("l", "pos").agg(
            aggregate(sort_array(collect_list(col("v"))), lit(0.0), (acc, x) => acc + x).as("s"),
            count(lit(1)).as("c"))
          .collect()
          .groupBy(_.getInt(0))
        cents = cents.zipWithIndex.map { case (old, l) =>
          stats.get(l) match {
            case Some(rows) =>
              val dim = old.length
              val next = new Array[Double](dim)
              rows.foreach(r => next(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
              next
            case None => old // empty list keeps its centroid
          }
        }
      }
      cents
    } finally train.unpersist()
  }

  /** Persist a trained IVF model (nLists × dim doubles — one tiny parquet)
    * into a [[graft.checkpoint.SnapshotStore]] snapshot, atomically beside
    * whatever tables the store already tracks. The ANN dual of the crawl's
    * resume semantics: a production pipeline trains the coarse quantizer
    * ONCE (a corpus-sample pass + Lloyd iterations), checkpoints it, and
    * every later query batch loads instead of retraining. Training is fully
    * deterministic (see [[ivfCentroids]]), so persisted ≡ retrained exactly.
    *
    * @return the committed snapshot version
    */
  def saveCentroids(
      centroids: Array[Array[Double]],
      store: graft.checkpoint.SnapshotStore,
      spark: org.apache.spark.sql.SparkSession,
      table: String = "ivf_centroids"): Int = {
    import spark.implicits._
    require(centroids.nonEmpty, "cannot persist an empty IVF model")
    val log = store.log()
    val path = store.dataPath(table, log.next)
    centroids.zipWithIndex.toSeq.map { case (c, l) => (l, c.toSeq) }.toDF("l", "cvec")
      .coalesce(1) // model-sized by construction — one file, not 32 shards
      .write.mode("overwrite").parquet(path)
    // the model commits ATOMICALLY beside the store's other tables
    log.commit(paths = Map(table -> path)).version
  }

  /** Load the persisted IVF model from the store's CURRENT snapshot.
    * Fails loudly when the snapshot has no model table — silently
    * retraining on a missing model would hide a checkpoint wiring bug.
    */
  def loadCentroids(
      store: graft.checkpoint.SnapshotStore,
      spark: org.apache.spark.sql.SparkSession,
      table: String = "ivf_centroids"): Array[Array[Double]] = {
    val (v, tables) = store.readCurrent().getOrElse(
      throw new IllegalStateException("no committed snapshot to load an IVF model from"))
    val path = tables.getOrElse(table,
      throw new IllegalStateException(s"snapshot v$v has no '$table' table"))
    val rows = spark.read.parquet(path)
      .select(col("l"), col("cvec")).collect()
    require(rows.nonEmpty, s"persisted IVF model at $path is empty")
    rows.sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
  }

  /** IVF approximate top-k — the inverted-file scale path: corpus vectors
    * live in their nearest-centroid list; a query scores ONLY the `nProbe`
    * nearest lists (nProbe/nLists of the corpus on average) instead of
    * everything. Recall/cost dial = (nLists, nProbe); nProbe = nLists is
    * exact brute force. Same output contract as [[lshTopK]] /
    * [[bruteForceTopK]].
    *
    * Production path: train once, [[saveCentroids]] into the pipeline's
    * SnapshotStore, and pass `centroids = Some(loadCentroids(...))` here —
    * retraining per call repeats the corpus-sample pass + Lloyd iterations
    * for no reason. The `None` default trains ad hoc (tests, one-shots).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nLists: Int = 16, nProbe: Int = 4, iters: Int = 5,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(corpus, nLists, iters))
    // the distance array crosses a withColumn boundary so its K aggregates
    // evaluate once per row (array_min + array_position would otherwise
    // each re-evaluate the whole array expression)
    val corpusL = graft.util.PlanSize.spread(corpus)
      .withColumn("__dl", distsExpr(col("embedding"), cents))
      .withColumn("list_id", argminList(col("__dl")))
      .drop("__dl")
    val queriesL = queries
      .withColumn("__qd", distsExpr(col("q_embedding"), cents))
      .withColumn("list_id", explode(probeListsFromDists(col("__qd"), cents.length, nProbe)))
      .drop("__qd")
    val candidates = corpusL.join(broadcast(queriesL), Seq("list_id"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("cosine", round(cosine(col("q_embedding"), col("embedding")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** Embedding-cosine near-duplicate pairs (dedup use-case): LSH buckets →
    * within-bucket pairs → exact cosine ≥ threshold.
    *
    * Same slim-stream shape as `DocDedup.minhashPairs`: candidate generation
    * moves only (id, bucket) rows — embeddings never ride the table explode,
    * the cap window, or the observer barrier, and there is no renamed
    * self-join (which would re-execute the signature pipeline twice); the
    * vectors are joined back onto the few surviving pairs instead.
    */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String = "vec_id",
      threshold: Double = 0.95, bits: Int = 12, tables: Int = 4,
      maxBucket: Int = 2000, logDropped: Boolean = true): DataFrame = {
    val base = graft.util.PlanSize.spread(corpus).select(col(idCol).as("id"), col("embedding"))
    val bucketed = base.select(
      col("id"), explodedBuckets("embedding", bits, tables).as("bucket"))
    val pairs = graft.dedup.DocDedup.cappedBucketPairs(
      bucketed, Seq("bucket"), maxBucket, logDropped, "cosineNearDupPairs")
    graft.dedup.DocDedup.attachPairSides(pairs, base, "embedding")
      .withColumn("cosine", round(cosine(col("embedding_a"), col("embedding_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
