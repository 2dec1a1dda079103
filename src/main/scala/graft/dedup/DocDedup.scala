package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-level deduplication for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every method is shuffle-bounded by (band, bucket) or
  * (signature) keys — candidate generation never compares all pairs.
  * At 100 TB the expensive step is the self-join inside LSH buckets;
  * bucket sizes are capped (`maxBucket`) so a degenerate bucket (boilerplate
  * shingles) cannot produce a quadratic blowup — the capped methods count
  * and print the dropped-coverage rows themselves, never silently.
  */
object DocDedup {

  // ------------------------------------------------------------- exact

  /** Exact dedup: group by content hash, keep the lowest id.
    *
    * The identity key is md5 (128-bit): at 10^10 documents the birthday
    * bound expects ~3 collisions from a 64-bit key (xxhash64), each silently
    * merging two DIFFERENT documents — a false drop, invisible to any
    * sampled test. At 128 bits the expected collision count is ~10^-19.
    * (The URL-seen path solves the same problem by confirming on the
    * canonical URL itself; documents have no short canonical form, so the
    * wider hash is the right tool here.)
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  // ----------------------------------------------------------- shingles

  /** Word k-shingles (k consecutive lowercase tokens joined by " "). */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = filter(split(lower(trim(text)), "\\s+"), t => t =!= "")
    val n = size(toks)
    when(n >= k,
      array_distinct(transform(
        sequence(lit(0), n - k),
        i => array_join(slice(toks, i + 1, lit(k)), " "))))
      .otherwise(array(array_join(toks, " ")))
  }

  // ------------------------------------------------------------ minhash

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band → (band_idx, band_hash) bucket keys.
    */
  def lshBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(to_json(struct(slice(sig, b * rowsPerBand + 1, rowsPerBand).as("s")))).as("bucket"))
    }: _*)

  /** Dropped-coverage reporting for bucket-size caps — a coverage loss that
    * must never be silent (pairs inside an over-cap bucket are simply not
    * compared). Implemented with `Dataset.observe` + a QueryExecutionListener
    * so the count rides the SAME job that executes the capped plan: zero
    * extra passes, printed once per executed query when nonzero.
    */
  private val obsId = new java.util.concurrent.atomic.AtomicLong()
  private val listenerRegistered =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  private def registerObserverListener(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (listenerRegistered.add(spark)) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft.dropped.") && !row.isNullAt(0) && row.getLong(0) > 0)
              System.err.println(s"[graft] ${name.stripPrefix("graft.dropped.").takeWhile(_ != '#')}: " +
                s"bucket cap dropped ${row.getLong(0)} candidate rows (coverage loss)")
            else if (name.startsWith("graft.hotkey.") && !row.isNullAt(0) && row.getLong(0) > 0)
              System.err.println(s"[graft] ${name.stripPrefix("graft.hotkey.").takeWhile(_ != '#')}: " +
                s"${row.getLong(0)} rows ranked past the hot-key bound in one window " +
                s"partition (a dominating key funnels them into a single task)")
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })
    }
  }

  private[graft] def withDroppedObserver(
      op: String, ranked: DataFrame, rnCol: String, maxBucket: Int): DataFrame = {
    registerObserverListener(ranked.sparkSession)
    ranked.observe(
      s"graft.dropped.$op#${obsId.incrementAndGet()}",
      coalesce(sum(when(col(rnCol) > maxBucket, 1L).otherwise(0L)), lit(0L)).as("dropped"))
  }

  /** Observe (never drop) rows ranked past `warnAt` within one window
    * partition — the skew dual of [[withDroppedObserver]]: a per-key window
    * is correct at any key size, but a key owning a large fraction of all
    * rows funnels them into ONE task. The count rides the same job that
    * executes the window (zero extra passes), printed when nonzero.
    */
  private[graft] def withHotKeyObserver(
      op: String, ranked: DataFrame, rnCol: String, warnAt: Int): DataFrame = {
    registerObserverListener(ranked.sparkSession)
    ranked.observe(
      s"graft.hotkey.$op#${obsId.incrementAndGet()}",
      coalesce(sum(when(col(rnCol) > warnAt, 1L).otherwise(0L)), lit(0L)).as("hot"))
  }

  /** The shared candidate-pair skeleton for bucketed near-dup methods:
    * a SLIM (id, bucket keys…) stream is ranked per bucket, capped (with the
    * dropped coverage observed on the same job), MATERIALIZED once
    * (localCheckpoint — the stream is slim by contract, bytes/row), and
    * turned into i<j pairs by a self-join of the materialized blocks.
    *
    * Why the join shape, always (r07 — this replaced a collect-then-flatten
    * array shape for caps ≤ 2048):
    *
    *  - it STREAMS candidate pairs as rows: a bucket at cap 1000 emits its
    *    C(1000,2) ≈ 500k pairs from the hash join's probe loop instead of
    *    materializing them as one nested-transform array value per bucket
    *    (per-pair struct allocation, single task per bucket, and a hard
    *    2^31 array ceiling at large caps).
    *  - it exposes pair predicates to Catalyst: a caller's filter over
    *    (id_a, id_b) — e.g. the gated queries' planted-pair projections —
    *    pushes INTO the join condition and is evaluated per probe, never
    *    against 10^7 materialized pair rows (measured r07: the sf0.1
    *    corpus generates 14.7M raw fingerprint bucket pairs; the array
    *    shape spent ~6 s allocating them before any filter could run).
    *  - the single materialization means the expensive upstream (signature
    *    kernels + cap window) runs ONCE even with two join sides: Spark
    *    does not reuse the exchange between two lazily-restated sides
    *    (lambda-heavy signature subtrees defeat plan canonicalization —
    *    measured, not assumed).
    *
    * Fat payload columns (signatures, embeddings) must NOT be in
    * `bucketed` — callers attach them to the surviving pairs afterwards
    * (see [[attachPairSides]]). row_number for the cap so a degenerate
    * bucket of any size streams through the rank instead of materializing;
    * the build side of the self-join buffers ≤ cap slim rows per key.
    * The observer rides the single materialization and fires on its job.
    */
  private[graft] def cappedBucketPairs(
      bucketed: DataFrame, // (id, <bucketCols…>)
      bucketCols: Seq[String],
      maxBucket: Int,
      logDropped: Boolean,
      op: String): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*).orderBy("id")
    val ranked = bucketed.withColumn("__rn", row_number().over(w))
    val observed = if (logDropped) withDroppedObserver(op, ranked, "__rn", maxBucket) else ranked
    val capped = observed.filter(col("__rn") <= maxBucket).drop("__rn").localCheckpoint()
    capped.select(bucketCols.map(col) :+ col("id").as("id_a"): _*)
      .join(capped.select(bucketCols.map(col) :+ col("id").as("id_b"): _*),
        bucketCols)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Attach a per-id payload column to both sides of a pair frame with ONE
    * pass over the payload table: melt each pair into its two member ids,
    * join, regroup. Pairs are few after banding+cap, so AQE broadcasts the
    * melted side and the payload table streams without shuffling; with a
    * pathological pair count it degrades to one shuffle of the payload by
    * id — still far less payload movement than bucketing the payloads.
    */
  private[graft] def attachPairSides(
      pairs: DataFrame, // (id_a, id_b)
      payload: DataFrame, // (id, <valueCol>)
      valueCol: String): DataFrame = {
    val melted = pairs.select(
      col("id_a"), col("id_b"), explode(array(col("id_a"), col("id_b"))).as("id"))
    melted.join(payload, Seq("id"))
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("id") === col("id_a"), col(valueCol)), ignoreNulls = true).as(s"${valueCol}_a"),
        first(when(col("id") === col("id_b"), col(valueCol)), ignoreNulls = true).as(s"${valueCol}_b"))
  }

  /** MinHash-LSH near-dup candidate pairs with estimated Jaccard ≥
    * `threshold`. Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    *
    * Pipeline: shingle → signature → explode bands → group by
    * (band, bucket) → self-pair within bucket (capped) → dedup pairs →
    * verify on signature agreement (the MinHash Jaccard estimate).
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 1000,
      logDropped: Boolean = true): DataFrame = {
    val rowsPerBand = numHashes / bands
    // the signature map (shingle → hash once → numHashes permutations) is
    // the expensive per-row kernel — spread it across the cluster when the
    // input is small enough to scan in fewer splits than cores (no-op at
    // real scale).
    // The kernel is the FUSED native expression (Kernels.minhashSig):
    // signature[i] = min over shingles s of xxhash64(xxhash64(s), i), in
    // one row-local pass with the permutation loop innermost (one hashLong
    // per shingle instead of numHashes of them) and zero intermediate
    // array allocations; the 3-stage expression chain it replaced paid
    // numHashes transform materializations + array_min scans per row
    // (NativeSigSpec pins bit-parity with that chain, kept as its
    // test-scope reference).
    // The (id, sig) table is MATERIALIZED once (localCheckpoint): it has
    // TWO consumers — the band/bucket explode and the pair attach — and
    // Spark re-executes a lazily-shared plan per consumer, so without the
    // materialization the whole signature kernel ran TWICE per corpus.
    // LAZY (r07): the checkpoint is RDD-level either way (one compute,
    // blocks reused by the attach), but eager cost a dedicated blocking
    // job; lazy folds the kernel into the capped-stream checkpoint job
    // that first consumes it — one action per corpus, same single
    // execution. (The capped checkpoint itself stays EAGER: the
    // dropped-coverage Observation rides its QueryExecution, and a lazy
    // materialization inside a foreign job would never surface the
    // metric.) Signatures are numHashes longs/doc (~512 B at the default
    // 64) — orders of magnitude slimmer than the text they summarize, the
    // guide's "decide with small rows" shape.
    val sigTable = graft.util.PlanSize.spread(docs)
      .select(col(idCol).as("id"),
        graft.expr.Native.minhashSig(col(textCol), 3, numHashes).as("sig"))
      .localCheckpoint(eager = false)
    // SLIM bucket stream: the fat numHashes-long signature never rides the
    // band explode (16 copies/doc), the window, the observer barrier, or any
    // shuffle — candidate generation moves only (id, band, bucket) rows.
    // (Carrying the signature instead was the measured 2.5x q27 regression
    // in round 2.)
    val buckets = sigTable
      .select(col("id"), explode(lshBuckets(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val pairs = cappedBucketPairs(buckets, Seq("band", "bucket"), maxBucket, logDropped, "minhashPairs")
    // attach the materialized signature ONLY to surviving pairs
    attachPairSides(pairs, sigTable, "sig")
      .withColumn(
        "est_jaccard",
        round(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  // ------------------------------------------------------------- simhash

  /** First 8 bytes of md5(s) as a big-endian 64-bit value — the token-hash
    * family used for SimHash. MD5 (not xxhash/murmur) so independent engines
    * can recompute the signatures bit-for-bit: the DuckDB correctness oracle
    * derives the same value as `('0x' || substr(md5(t),1,16))::UBIGINT`.
    */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private[graft] def md5Long64(s: String): Long =
    md5Long64Bytes(s.getBytes("UTF-8"))

  private[graft] def md5Long64Bytes(bytes: Array[Byte]): Long = {
    val d = md5Local.get().digest(bytes) // digest() resets
    var h = 0L
    var j = 0
    while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
    h
  }

  /** 64-bit SimHash over word tokens: per bit, sum +1/-1 weighted by token
    * hash bit ([[md5Long64]]); sign → bit. The column is the native
    * [[graft.expr.SimHash64]] expression; NativeExprSpec checks it against
    * a test-scope UDF reference over [[md5Long64]].
    */
  def simhash(text: Column): Column =
    graft.expr.Native.simhash64(filter(split(lower(trim(text)), "\\s+"), t => t =!= ""))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within `maxHamming`: block on 4 16-bit chunks,
    * pair within chunk buckets, verify exact Hamming.
    *
    * Recall contract: the pigeonhole bound guarantees every pair with
    * distance < 4 shares a chunk (found with certainty); pairs between 4 and
    * `maxHamming` are returned when they happen to share a chunk —
    * best-effort, as in the standard 64-bit/4-block SimHash dedup design
    * (Manku et al., WWW'07 use distance 3 for 8B pages). Raising certainty
    * beyond 3 requires more, narrower chunks, whose small keys explode
    * bucket sizes — a deliberate recall/cost trade.
    *
    * Scale shape: same slim-stream skeleton as [[minhashPairs]] — a 16-bit
    * chunk key has only 65536 values, so at 10^10 docs EVERY bucket is hot
    * (~150k docs ⇒ 10^10 candidate pairs per bucket uncapped); `maxBucket`
    * bounds that with the dropped coverage observed on-job. The (id, sig)
    * table is materialized once (localCheckpoint — 16 B/doc) so the
    * per-token md5 signature kernel runs exactly ONE corpus pass; the
    * bucket stream, the capped self-join sides and the pair attach all
    * read the materialized blocks.
    */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, maxBucket: Int = 100000,
      logDropped: Boolean = true): DataFrame = {
    val base = graft.util.PlanSize.spread(docs)
      .select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
      .localCheckpoint(eager = false) // see minhashPairs: kernel folds into the capped job
    val bucketed = base.select(col("id"), explode(array((0 until 4).map { c =>
      struct(lit(c).as("c"), shiftrightunsigned(col("sig"), c * 16).bitwiseAND(lit(0xffffL)).as("v"))
    }: _*)).as("chunk"))
    val pairs = cappedBucketPairs(bucketed, Seq("chunk"), maxBucket, logDropped, "simhashPairs")
    attachPairSides(pairs, base, "sig")
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ------------------------------------------------- winnowing fingerprints

  /** Winnowing-fingerprint near-dup pairs — SUBSTRING-level duplication
    * (boilerplate, licenses, templated pages), the dimension token-bag
    * methods (minhash/simhash) are blind to and the classic MOSS-style
    * dedup signal a production corpus pipeline runs alongside them. Two
    * docs pair when they share ≥ `minShared` selected k-gram hashes; the
    * winnowing guarantee (Schleimer et al., SIGMOD'03) makes discovery of
    * any shared substring of length ≥ window+k-1 CERTAIN, not
    * probabilistic — each such substring contributes at least one shared
    * fingerprint, i.e. one shared bucket.
    *
    * Same slim skeleton as every pair emitter here: candidate generation
    * moves only (id, hash) rows through the bucket explode / cap window
    * (a fingerprint hash IS the bucket key — no banding needed), and the
    * full fingerprint arrays are attached only to surviving pairs, where
    * `n_shared` is computed EXACTLY as |fp(a) ∩ fp(b)| — the bucket cap
    * can drop a hot bucket's candidates (boilerplate k-grams, observed
    * on-job like every other cap here) but never corrupts the count a
    * surviving pair reports.
    *
    * @param hashKind "poly" (default, O(1)/position rolling hash — the hot
    *                 path) or "md5" (recomputable by any engine — the gated
    *                 query uses it so DuckDB can recompute `n_shared`
    *                 bit-for-bit)
    * @return (id_a, id_b, n_shared) with id_a < id_b
    */
  def fingerprintPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 9, window: Int = 16, minShared: Int = 3,
      maxBucket: Int = 1000, hashKind: String = "poly",
      logDropped: Boolean = true): DataFrame = {
    // materialized once (localCheckpoint): the winnow kernel is the
    // expensive per-row pass and the (id, fp) table has two consumers
    // (bucket explode + pair attach) — see the minhashPairs shape note
    val base = graft.util.PlanSize.spread(docs).select(
      col(idCol).as("id"),
      graft.functions.TextFns.fingerprint(col(textCol), k, window, hashKind).as("fp"))
      .localCheckpoint(eager = false) // see minhashPairs: kernel folds into the capped job
    val buckets = base.select(col("id"), explode(col("fp")).as("h"))
    val pairs = cappedBucketPairs(buckets, Seq("h"), maxBucket, logDropped, "fingerprintPairs")
    attachPairSides(pairs, base, "fp")
      .withColumn("n_shared", size(array_intersect(col("fp_a"), col("fp_b"))))
      .filter(col("n_shared") >= minShared)
      .select("id_a", "id_b", "n_shared")
  }

  // ------------------------------------------------------- exact jaccard

  /** Exact n-gram Jaccard for candidate pairs (verification stage after
    * LSH): |A∩B| / |A∪B| over shingle sets.
    */
  def jaccard(shA: Column, shB: Column): Column =
    round(size(array_intersect(shA, shB)).cast("double") /
      greatest(size(array_union(shA, shB)), lit(1)), 4)

  /** LSH candidates verified with exact shingle Jaccard ≥ threshold —
    * the verification stage a production near-dup pipeline runs after
    * banding, emitting only pairs whose TRUE set overlap clears the bar.
    *
    * Recall contract (the simhash-style honest statement): the candidate
    * stage keeps pairs whose MinHash-ESTIMATED Jaccard ≥ `candidateSlack` ×
    * threshold. The estimator over `numHashes` = 64 independent permutations
    * has σ = sqrt(J(1-J)/64) ≤ 0.0625, so at the default slack 0.8 a pair
    * with true Jaccard exactly at the threshold survives unless its estimate
    * undershoots by 0.2·threshold ≥ 2.5σ (≥ 0.99 one-sided); recall decays
    * toward the banding curve 1-(1-J^4)^16 only for pairs the LSH explode
    * itself never co-buckets. Both stages are deterministic (hash-derived,
    * no RNG): a given corpus either yields a pair or it never does — recall
    * is a population-rate statement, not run-to-run noise.
    *
    * Scale shape: the same slim skeleton as every other pair emitter —
    * candidates come from [[minhashPairs]]'s (id, band, bucket) stream, and
    * the shingle arrays are computed in ONE corpus pass and attached only to
    * the few surviving pairs via [[attachPairSides]] (melt → join →
    * regroup), never re-joined twice over renamed whole-corpus copies.
    */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 1000, candidateSlack: Double = 0.8,
      logDropped: Boolean = true): DataFrame = {
    val candidates = minhashPairs(docs, idCol, textCol, numHashes = numHashes,
      bands = bands, threshold = threshold * candidateSlack,
      maxBucket = maxBucket, logDropped = logDropped)
    // spread like every other kernel site: the shingle build otherwise
    // runs at raw scan parallelism (1-2 splits on a small parquet —
    // measured 3.4 s single-task at sf0.1; no-op at real scale)
    val sh = graft.util.PlanSize.spread(docs)
      .select(col(idCol).as("id"), shingles(col(textCol)).as("sh"))
    attachPairSides(candidates.select("id_a", "id_b"), sh, "sh")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Corpus-GLOBAL line dedup — the C4 move (Raffel et al. 2020 §2.2:
    * "we discarded all but one of any three-sentence span occurring more
    * than once in the data set", here at line granularity): across the
    * WHOLE corpus, every line keeps only its first occurrence — ordered by
    * (doc id, line index) — and every later occurrence is deleted from its
    * document, including repeats inside one document. Documents are
    * reassembled in original line order; a document whose every line
    * occurred earlier elsewhere collapses to the empty string (the row is
    * kept — dropping it is the caller's policy decision).
    *
    * Scale shape: line identity is md5/128-bit (the [[exact]] argument —
    * 64-bit keys silently merge distinct lines at 10^10-line scale). The
    * winner per line is found by partial-aggregable `min(struct(id, idx))`
    * over a slim (hash, id, idx) stream — NEVER a per-hash window, because
    * boilerplate lines ("all rights reserved") are precisely the hottest
    * keys and a window would funnel each into one task, while map-side
    * partial min folds them early. The fat (line text) rows shuffle twice
    * — once joining winners back (AQE handles the boilerplate-key skew),
    * once regrouping by doc for reassembly — both inherent: the output is
    * the rewritten document, so surviving text must reach its doc.
    */
  def dedupLines(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("__h", md5(col("line").cast("binary")))
    val winners = lines
      .groupBy("__h")
      .agg(min(struct(col("id"), col("idx"))).as("__w"))
    val kept = lines.join(winners, Seq("__h"))
      .filter(struct(col("id"), col("idx")) === col("__w"))
    val rebuilt = kept.groupBy("id")
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line"))).as("text"))
    docs.select(col(idCol).cast("long").as("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("text"), lit("")).as("text"))
  }
}
