package graft.leaves

import org.apache.spark.sql.functions._

import graft.leaves.Golden.t

/** The dedup and ANN leaves: exact and near-duplicate pairs (MinHash,
  * SimHash, fingerprints, embeddings), cluster resolution, line dedup and
  * the brute-force, LSH and IVF nearest-neighbour searches.
  */
object Dedup {

  /** Planted multi-line docs shared by the q51 query and its oracle —
    * distinctive `zzfix` tokens keep them disjoint from real doc texts at
    * any SF. L2 loses its first line to L1 and its own in-doc repeat; L3
    * is a verbatim copy of L1 and collapses to ''; L4 is untouched.
    */
  private val lineFixture: Seq[(Long, String)] = {
    val off = 1L << 40
    Seq(
      (off + 31, "zzfix shared one\nzzfix unique alpha\nzzfix shared two"),
      (off + 32, "zzfix shared one\nzzfix unique beta\nzzfix unique beta"),
      (off + 33, "zzfix shared one\nzzfix unique alpha\nzzfix shared two"),
      (off + 34, "zzfix fresh line"))
  }

  val leaves: Seq[Leaf] = Seq(
    Leaf("q21_token_jaccard_pairs", (s, dir) => {
      // exact token-set jaccard of consecutive doc pairs (the verify stage
      // of near-dup dedup, SQL-expressible both sides)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), array_distinct(split(trim(col("text")), "\\s+")).as("tk"))
      val a = toks.select(col("doc_id").as("id_a"), col("tk").as("tk_a"))
      val b = toks.select(col("doc_id").as("id_b"), col("tk").as("tk_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(
          col("id_a"), col("id_b"),
          round(size(array_intersect(col("tk_a"), col("tk_b"))).cast("double") /
            size(array_distinct(concat(col("tk_a"), col("tk_b")))), 4).as("jaccard"))
        .orderBy("id_a")
    }, oracle =
      """WITH toks AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS tk
                       FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
         FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1 ORDER BY id_a"""),

    Leaf("q22_ann_brute_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ann.Ann.bruteForceTopK(queries, emb, k = 5)
        .orderBy("query_id", "rank")
    }, oracle =
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id < 3),
         scored AS (SELECT query_id, vec_id,
                           round(list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])), 6) AS cosine
                    FROM embeddings CROSS JOIN q)
         SELECT query_id, vec_id, cosine, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, vec_id) AS INT) AS rank
           FROM scored)
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    Leaf("q24_embedding_neardup", (s, dir) => {
      // plant 5 exact duplicate vectors; LSH buckets must recover exactly
      // those pairs (identical vectors share every signature). Planted ids
      // live at +2^40 — disjoint from real vec_ids at ANY scale factor
      // (a +10000 offset collides once a SF ships >10000 embeddings) —
      // and the off-filter admits only source-with-its-own-copy pairs, so
      // a real-real pair incidentally clearing 0.95 at some SF cannot
      // break the golden oracle (the q27/q36 technique)
      val emb = t(s, dir, "embeddings")
      val off = 1099511627776L // 2^40
      val planted = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + off).as("vec_id"), col("embedding"), col("label"))
      graft.ann.Ann.cosineNearDupPairs(emb.unionByName(planted), threshold = 0.95)
        .filter(col("id_b") - col("id_a") === off)
        .orderBy("id_a")
    }, oracle =
      """SELECT id_a, id_b, cosine FROM (VALUES
           (0, 1099511627776, 1.0), (1, 1099511627777, 1.0), (2, 1099511627778, 1.0),
           (3, 1099511627779, 1.0), (4, 1099511627780, 1.0))
         t(id_a, id_b, cosine) ORDER BY id_a"""),

    Leaf("q25_ann_lsh_self_recall", (s, dir) => {
      // identical query/corpus vectors land in the same bucket in every
      // table → rank-1 must be the vector itself at cosine 1.0
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ann.Ann.lshTopK(queries, emb, k = 3, bits = 10, tables = 2)
        .filter(col("rank") === 1)
        .select("query_id", "vec_id", "cosine")
        .orderBy("query_id")
    }, oracle =
      """SELECT query_id, vec_id, cosine FROM (VALUES
           (0, 0, 1.0), (1, 1, 1.0), (2, 2, 1.0))
         t(query_id, vec_id, cosine) ORDER BY query_id"""),

    Leaf("q27_doc_minhash_pairs", (s, dir) => {
      // planted exact duplicates (q24 technique): an identical copy agrees
      // with its source on every minhash band, so LSH must surface exactly
      // the 5 planted pairs at signature agreement 1.0 — a golden oracle
      // for the full shingle→signature→band→bucket-join pipeline
      // planted ids offset by 2^40 — far above any real doc_id at any SF,
      // so the id-range filter can never admit real-real pairs
      val off = 1L << 40
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + off).as("doc_id"), col("text"))
      // id_b - id_a === off keeps ONLY source-with-its-own-copy pairs: a mere
      // range filter (id_a < off <= id_b) would also admit cross pairs
      // (real_j, planted_i, j != i) if any two distinct synthetic docs ever
      // estimated >= 0.9 at some scale factor, breaking the golden oracle
      graft.dedup.DocDedup.minhashPairs(docs.unionByName(planted), threshold = 0.9)
        .filter(col("id_b") - col("id_a") === off)
        .orderBy("id_a", "id_b")
    }, oracle =
      // golden planted-duplicate pairs: identical docs agree on all 64
      // minhash values, so est_jaccard is exactly 1.0 and every band buckets
      // the pair together (recall 1 by construction)
      """SELECT id_a, id_b, est_jaccard FROM (VALUES
           (0, 1099511627776, 1.0), (1, 1099511627777, 1.0), (2, 1099511627778, 1.0),
           (3, 1099511627779, 1.0), (4, 1099511627780, 1.0))
         t(id_a, id_b, est_jaccard) ORDER BY id_a"""),

    Leaf("q28_doc_simhash", (s, dir) => {
      // md5-derived token hashes → the DuckDB oracle recomputes the full
      // 64-bit signature bit-for-bit (emitted as unsigned hex)
      t(s, dir, "documents")
        .select(col("doc_id"),
          format_string("%016x", graft.dedup.DocDedup.simhash(col("text"))).as("simhash_hex"))
        .orderBy("doc_id")
    }, oracle =
      // full bit-for-bit SimHash recomputation: token hash = first 16 hex
      // chars of md5 (big-endian), per-bit ±1 vote over ALL tokens (dups
      // included), sign → bit, emitted as unsigned hex
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS t
           FROM documents),
         th AS (SELECT doc_id, ('0x' || substr(md5(t),1,16))::UBIGINT AS h FROM tok),
         bits AS (SELECT doc_id, i,
                         sum(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS c
                  FROM th CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY doc_id, i),
         sh AS (SELECT doc_id,
                       CAST(sum(CASE WHEN c > 0 THEN (1::UBIGINT << CAST(i AS INT))
                                     ELSE 0::UBIGINT END) AS UBIGINT) AS v
                FROM bits GROUP BY doc_id)
         SELECT doc_id, lower(lpad(to_hex(v),16,'0')) AS simhash_hex
         FROM sh ORDER BY doc_id"""),

    Leaf("q29_doc_fingerprint", (s, dir) => {
      import graft.functions.TextFns
      // md5 hash mode: the winnowing window-min selection is recomputed
      // verbatim by the DuckDB oracle (see TextFns.winnow scaladoc)
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextFns.fingerprint(col("text"), hashKind = "md5")).as("n_fingerprints"))
        .orderBy("doc_id")
    }, oracle =
      // winnowing selection recomputed verbatim: 60-bit md5 k-gram hashes
      // (k=9), min per SLIDING window of 16 (step 1 — the Schleimer et al.
      // selection, mirrored in TextFns.winnow), distinct count; a
      // doc with k-grams but fewer than 16 of them emits its overall min
      """WITH h AS (
           SELECT doc_id,
             CASE WHEN length(text) < 9 THEN CAST([] AS UBIGINT[])
             ELSE list_transform(range(length(text)-9+1),
                  i -> ('0x'||substr(md5(substr(text, CAST(i AS INT)+1, 9)),1,15))::UBIGINT) END AS hs
           FROM documents),
         sel AS (
           SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN CAST([] AS UBIGINT[])
             WHEN len(hs) < 16 THEN [list_min(hs)]
             ELSE list_transform(range(len(hs)-15),
                  w -> list_min(list_slice(hs, CAST(w AS INT)+1, CAST(w AS INT)+16))) END AS mins
           FROM h)
         SELECT doc_id, CAST(len(list_distinct(mins)) AS INT) AS n_fingerprints
         FROM sel ORDER BY doc_id"""),

    Leaf("q36_simhash_pairs", (s, dir) => {
      // simhash near-dup PAIRS under the gate (q28 already gates the
      // signatures bit-for-bit): planted identical copies have hamming 0
      // and share every 16-bit chunk, so the pigeonhole blocking finds
      // them with CERTAINTY at any scale factor — no recall fragility;
      // the id_b - id_a === off filter pins exactly the self-pairs
      val off = 1L << 40
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + off).as("doc_id"), col("text"))
      graft.dedup.DocDedup.simhashPairs(docs.unionByName(planted), maxHamming = 3)
        .filter(col("id_b") - col("id_a") === off)
        .orderBy("id_a")
    }, oracle =
      // golden planted self-pairs: identical docs ⇒ identical signatures ⇒
      // hamming 0, found with certainty by the chunk blocking
      """SELECT id_a, id_b, hamming FROM (VALUES
           (0, 1099511627776, 0), (1, 1099511627777, 0), (2, 1099511627778, 0),
           (3, 1099511627779, 0), (4, 1099511627780, 0))
         t(id_a, id_b, hamming) ORDER BY id_a"""),

    Leaf("q35_ann_ivf_fullprobe", (s, dir) => {
      // IVF with nProbe = nLists probes every inverted list, so the
      // candidate set is the full corpus and the result must be EXACTLY the
      // brute-force top-k — which DuckDB recomputes independently. This
      // puts the whole IVF path (deterministic k-means training, nearest-
      // list assignment, probe-list explode, bucket join, ranking) under a
      // real cross-engine oracle, not a golden list.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ann.Ann.ivfTopK(queries, emb, k = 5, nLists = 8, nProbe = 8)
        .orderBy("query_id", "rank")
    }, oracle =
      // identical to the q22 brute-force oracle: full-probe IVF must return
      // exactly the exact top-k
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id < 3),
         scored AS (SELECT query_id, vec_id,
                           round(list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])), 6) AS cosine
                    FROM embeddings CROSS JOIN q)
         SELECT query_id, vec_id, cosine, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, vec_id) AS INT) AS rank
           FROM scored)
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    Leaf("q34_dedup_clusters", (s, dir) => {
      // planted duplicate CHAINS: two extra copies of docs 0-4 (at +off and
      // +2*off) pairwise LSH-pair into triangles; cluster resolution must
      // collapse each into ONE cluster rooted at the source with keep=true
      // only there. The resolution runs over the FULL corpus pair graph
      // (real near-dup pairs flow through the same closure); the id%off
      // filter projects out exactly the planted families, whose membership
      // and roots are invariant: no real doc id is below 5, so a real doc
      // joining a planted cluster could never change its min-id root
      // (docs 0-4 verified pairwise non-near-dup at the tested SFs)
      val off = 1L << 40
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val copies = Seq(off, 2 * off).map(o =>
        docs.filter(col("doc_id") < 5).select((col("doc_id") + o).as("doc_id"), col("text")))
      graft.dedup.Clusters.dedupCorpus(
        copies.foldLeft(docs)(_ unionByName _), threshold = 0.9)
        .filter(pmod(col("id"), lit(off)) < 5)
        .select(col("id"), col("cluster_id"), col("keep"))
        .orderBy("id")
    }, oracle =
      // golden planted-chain clusters: sources 0-4 survive (keep), both
      // copies label to the source root; off = 2^40, 2*off = 2^41
      """SELECT id, cluster_id, keep FROM (VALUES
           (CAST(0 AS BIGINT), CAST(0 AS BIGINT), true), (1, 1, true), (2, 2, true),
           (3, 3, true), (4, 4, true),
           (1099511627776, 0, false), (1099511627777, 1, false), (1099511627778, 2, false),
           (1099511627779, 3, false), (1099511627780, 4, false),
           (2199023255552, 0, false), (2199023255553, 1, false), (2199023255554, 2, false),
           (2199023255555, 3, false), (2199023255556, 4, false))
         t(id, cluster_id, keep) ORDER BY id"""),

    Leaf("q37_dedup_clusters_multi", (s, dir) => {
      // three planted duplicate families, each connected ONLY through a
      // different candidate generator, resolved in ONE dedupCorpusFrom
      // closure (the composition a production dedup run needs):
      //  - minhash family: two exact copies of doc 0 (identical text ⇒
      //    identical signatures, found with certainty by LSH banding)
      //  - simhash-ONLY family: doc 1's tokens REVERSED at +off+3 —
      //    simhash is a bag-of-tokens signature (order-invariant ⇒
      //    hamming 0, found with certainty by the chunk blocking) while
      //    minhash's 3-token shingles are order-SENSITIVE (est_jaccard ≈ 0,
      //    invisible to banding): only the simhash source connects it
      //  - embedding-ONLY family: a nonsense-token doc at +off+4 (no
      //    shared shingles, no shared token bag with anything) whose
      //    PLANTED embedding is an exact copy of vec 2 (cosine 1.0, same
      //    LSH bucket in every table): only the cosine source connects it
      // Roots are real docs 0/1/2 — the global minimum ids — so no
      // accidental real-doc member can ever change a family's min-id root
      // (q34's invariance argument); output projects the planted ids + 0-2
      val off = 1L << 40
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val copy0 = docs.filter(col("doc_id") === 0)
      val copies = Seq(off + 1, off + 2).map(id =>
        copy0.select(lit(id).as("doc_id"), col("text")))
      val reversed1 = docs.filter(col("doc_id") === 1).select(
        lit(off + 3).as("doc_id"),
        array_join(reverse(filter(split(lower(trim(col("text"))), "\\s+"), x => x =!= "")), " ")
          .as("text"))
      val nonsense = {
        import s.implicits._
        Seq((off + 4, (0 until 20).map(i => s"zq$i").mkString(" ")))
          .toDF("doc_id", "text")
      }
      val allDocs = (copies :+ reversed1 :+ nonsense).foldLeft(docs)(_ unionByName _)
      val plantedVec = emb.filter(col("vec_id") === 2)
        .select(lit(off + 4).as("vec_id"), col("embedding"))
      val allEmb = emb.unionByName(plantedVec)
      // the three candidate generators are independent — construct them
      // concurrently (each construction runs its capped-stream checkpoint
      // job; the Dsir/CrawlJob write-phase idiom, guide §2.6) so the
      // closure's input pays one generator latency, not three
      val pairSources = graft.util.Sessions.concurrently(s.sparkContext)(
        () => graft.dedup.DocDedup.minhashPairs(allDocs, threshold = 0.9),
        () => graft.dedup.DocDedup.simhashPairs(allDocs, maxHamming = 3),
        () => graft.ann.Ann.cosineNearDupPairs(allEmb, threshold = 0.95))
      graft.dedup.Clusters.dedupCorpusFrom(allDocs, pairSources)
        .filter(col("id") < 3 || col("id") >= off)
        .orderBy("id")
    }, oracle =
      // golden mixed-source families: copies of doc 0 root at 0 (minhash),
      // the token-reversed doc roots at 1 (simhash-only), the planted-
      // embedding doc roots at 2 (cosine-only); off = 2^40
      """SELECT id, cluster_id, keep FROM (VALUES
           (CAST(0 AS BIGINT), CAST(0 AS BIGINT), true), (1, 1, true), (2, 2, true),
           (1099511627777, 0, false), (1099511627778, 0, false),
           (1099511627779, 1, false), (1099511627780, 2, false))
         t(id, cluster_id, keep) ORDER BY id"""),

    Leaf("q40_ann_ivf_persisted", (s, dir) => {
      // the IVF PRODUCTION path (VERDICT r04 #3): train once → persist the
      // model into a SnapshotStore → load → query with the loaded
      // centroids. Training is deterministic, so the persisted-model result
      // must EXACTLY equal brute-force top-k (nProbe = nLists), which the
      // DuckDB oracle recomputes independently — the same gate as q35 but
      // through the save/load composition a deployment actually runs.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      // ONE scratch dir keyed by the query, wiped per invocation — a fresh
      // createTempDirectory here would leak one model dir per Verify/Bench run
      val storeDir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-ivf-model-q40").toString
      val store = new graft.checkpoint.SnapshotStore(storeDir)
      store.dropAll()
      val trained = graft.ann.Ann.ivfCentroids(emb, nLists = 8)
      graft.ann.Ann.saveCentroids(trained, store, s)
      val loaded = graft.ann.Ann.loadCentroids(store, s)
      graft.ann.Ann.ivfTopK(queries, emb, k = 5, nLists = 8, nProbe = 8,
        centroids = Some(loaded))
        .orderBy("query_id", "rank")
    }, oracle =
      // same oracle as q35: the persisted-model full-probe IVF must return
      // exactly the brute-force top-k, recomputed independently by DuckDB
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id < 3),
         scored AS (SELECT query_id, vec_id,
                           round(list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])), 6) AS cosine
                    FROM embeddings CROSS JOIN q)
         SELECT query_id, vec_id, cosine, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, vec_id) AS INT) AS rank
           FROM scored)
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    Leaf("q45_ann_ivf_recall", (s, dir) => {
      // the PRODUCTION IVF shape under the gate: nProbe = 4 << nLists = 16
      // (VERDICT r05 #1 — q35/q40 gate only the degenerate exhaustive
      // probe). Emits per-query recall@5 of the partial-probe result vs the
      // exact brute-force top-5. The centroid model is a fixed arithmetic
      // formula (c[l][d] = ((37l + 17d) mod 101 − 50)/50 — distinct
      // centroids for all l since 101 is prime > 37·15), NOT a trained one,
      // precisely so the DuckDB oracle can reconstruct the ENTIRE partial-
      // probe path — nearest-list assignment, 4-probe selection, bucket
      // join, rounded-cosine ranking, recall — from the data alone at any
      // SF. (Trained-centroid recall is not SQL-derivable — Lloyd's over
      // the xxhash64-sampled train set has no DuckDB dual — and a golden
      // recall VALUES list would be SF-dependent; training itself is
      // already exactly gated by q35/q40, and the trained-model recall
      // floor at this same 16/4 shape is spec-pinned in AnnSpec.)
      val emb = t(s, dir, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val cents = Array.tabulate(16, dim)((l, d) => (((l * 37 + d * 17) % 101) - 50) / 50.0)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val ivf = graft.ann.Ann.ivfTopK(queries, emb, k = 5, nLists = 16, nProbe = 4,
        centroids = Some(cents))
        .select(col("query_id"), col("vec_id"), lit(1).as("__hit"))
      val bf = graft.ann.Ann.bruteForceTopK(queries, emb, k = 5)
        .select("query_id", "vec_id")
      bf.join(ivf, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count("__hit").as("n_hits"),
          round(count("__hit") / lit(5.0), 4).as("recall"))
        .orderBy("query_id")
    }, oracle =
      // FULL partial-probe recomputation: the oracle rebuilds the formula
      // centroid model, assigns every corpus vector to its nearest list
      // (squared L2, ties → lowest list — Spark's argmin-first rule),
      // selects each query's 4 nearest lists, ranks the bucket-joined
      // candidates by rounded cosine, and derives recall@5 against its own
      // brute-force top-5 — the whole deployed IVF query path cross-engine
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cents AS (SELECT l, list_transform(range((SELECT len(emb) FROM e LIMIT 1)),
                     j -> CAST((CAST(l AS INT) * 37 + CAST(j AS INT) * 17) % 101 - 50 AS DOUBLE) / 50.0) AS cvec
                   FROM range(16) t(l)),
         ed AS (SELECT vec_id, emb, l,
                  list_sum(list_transform(range(len(emb)), j ->
                    (emb[CAST(j AS INT)+1] - cvec[CAST(j AS INT)+1])
                    * (emb[CAST(j AS INT)+1] - cvec[CAST(j AS INT)+1]))) AS dsq
                FROM e CROSS JOIN cents),
         assigned AS (SELECT vec_id, emb, l FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dsq, l) AS rn FROM ed)
                WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 8),
         qd AS (SELECT query_id, qe, l,
                  list_sum(list_transform(range(len(qe)), j ->
                    (qe[CAST(j AS INT)+1] - cvec[CAST(j AS INT)+1])
                    * (qe[CAST(j AS INT)+1] - cvec[CAST(j AS INT)+1]))) AS dsq
                FROM q CROSS JOIN cents),
         probes AS (SELECT query_id, qe, l FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dsq, l) AS rn FROM qd)
                WHERE rn <= 4),
         ivf AS (SELECT query_id, vec_id FROM (
                  SELECT p.query_id, a.vec_id,
                         row_number() OVER (PARTITION BY p.query_id
                           ORDER BY round(list_cosine_similarity(p.qe, a.emb), 6) DESC, a.vec_id) AS rank
                  FROM probes p JOIN assigned a ON a.l = p.l)
                WHERE rank <= 5),
         bf AS (SELECT query_id, vec_id FROM (
                  SELECT q.query_id, e.vec_id,
                         row_number() OVER (PARTITION BY q.query_id
                           ORDER BY round(list_cosine_similarity(q.qe, e.emb), 6) DESC, e.vec_id) AS rank
                  FROM e CROSS JOIN q)
                WHERE rank <= 5)
         SELECT b.query_id, count(v.vec_id) AS n_hits,
                round(count(v.vec_id) / 5.0, 4) AS recall
         FROM bf b LEFT JOIN ivf v ON v.query_id = b.query_id AND v.vec_id = b.vec_id
         GROUP BY b.query_id ORDER BY b.query_id"""),

    Leaf("q41_neardup_verify", (s, dir) => {
      // nearDupPairs' exact-Jaccard verification under a REAL cross-engine
      // gate (VERDICT r04 #2): one-token-edit copies of docs 0-2 (one
      // token APPENDED — adds exactly one 3-shingle, so true Jaccard is
      // |S|/(|S|+1), far above the 0.8 bar) are planted at +off; the DuckDB
      // oracle recomputes the shingle sets and the exact Jaccard from the
      // text. The id_b - id_a === off filter projects exactly the planted
      // pairs; both LSH stages are hash-deterministic, so discovery is a
      // fixed property of the corpus, verified at all tested SFs.
      val off = 1L << 40
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val edited = docs.filter(col("doc_id") < 3).select(
        (col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" zzqz")).as("text"))
      graft.dedup.DocDedup.nearDupPairs(docs.unionByName(edited), threshold = 0.8)
        .filter(col("id_b") - col("id_a") === off)
        .orderBy("id_a")
    }, oracle = {
      // full shingle-set + exact-Jaccard recomputation for the planted
      // one-token-edit pairs: 3-shingles (lowercased whitespace tokens,
      // distinct, short-doc fallback) of the original and edited texts,
      // |A∩B| / |A∪B| rounded to 4 — the verification math under a real
      // cross-engine gate
      val off = 1L << 40
      def shingleSql(tkCol: String): String =
        s"""CASE WHEN len($tkCol) >= 3 THEN list_distinct(list_transform(
              range(len($tkCol) - 2),
              i -> array_to_string(list_slice($tkCol, CAST(i AS INT) + 1, CAST(i AS INT) + 3), ' ')))
            ELSE [array_to_string($tkCol, ' ')] END"""
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 3),
          pairs AS (SELECT doc_id AS id_a, CAST(doc_id + $off AS BIGINT) AS id_b,
                           text AS ta, text || ' zzqz' AS tb FROM d),
          tk AS (SELECT id_a, id_b,
            list_filter(regexp_split_to_array(lower(trim(ta)), '\\s+'), x -> x <> '') AS ka,
            list_filter(regexp_split_to_array(lower(trim(tb)), '\\s+'), x -> x <> '') AS kb
            FROM pairs),
          sh AS (SELECT id_a, id_b, ${shingleSql("ka")} AS sa, ${shingleSql("kb")} AS sb FROM tk)
          SELECT id_a, id_b,
            round(CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS DOUBLE)
                  / greatest(len(list_distinct(list_concat(sa, sb))), 1), 4) AS jaccard
          FROM sh ORDER BY id_a"""
    }),

    Leaf("q42_fingerprint_pairs", (s, dir) => {
      // winnowing-fingerprint SUBSTRING dedup under the gate: copies of
      // docs 0-2 with a distinct appended suffix share the entire original
      // text as a prefix — far beyond the window+k-1 = 24-char winnowing
      // guarantee, so discovery is certain — and n_shared is the EXACT
      // fingerprint-set intersection, which DuckDB recomputes bit-for-bit
      // from the text via the q29 machinery (md5 hash family). The offset
      // filter projects exactly the planted pairs.
      val off = 1L << 40
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val edited = docs.filter(col("doc_id") < 3).select(
        (col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" qz1 qz2 qz3 qz4 qz5 qz6 qz7 qz8")).as("text"))
      graft.dedup.DocDedup.fingerprintPairs(
        docs.unionByName(edited), hashKind = "md5", minShared = 3)
        .filter(col("id_b") - col("id_a") === off)
        .orderBy("id_a")
    }, oracle = {
      // full winnowing recomputation (the q29 machinery) for BOTH texts of
      // each planted pair, then the exact fingerprint-set intersection —
      // n_shared derived bit-for-bit from the text by an independent engine
      val off = 1L << 40
      def hsSql(t: String): String =
        s"""CASE WHEN length($t) < 9 THEN CAST([] AS UBIGINT[])
            ELSE list_transform(range(length($t)-9+1),
                 i -> ('0x'||substr(md5(substr($t, CAST(i AS INT)+1, 9)),1,15))::UBIGINT) END"""
      def selSql(hs: String): String =
        s"""CASE WHEN len($hs) = 0 THEN CAST([] AS UBIGINT[])
            WHEN len($hs) < 16 THEN [list_min($hs)]
            ELSE list_transform(range(len($hs)-15),
                 w -> list_min(list_slice($hs, CAST(w AS INT)+1, CAST(w AS INT)+16))) END"""
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 3),
          pairs AS (SELECT doc_id AS id_a, CAST(doc_id + $off AS BIGINT) AS id_b,
                           text AS ta, text || ' qz1 qz2 qz3 qz4 qz5 qz6 qz7 qz8' AS tb FROM d),
          h AS (SELECT id_a, id_b, ${hsSql("ta")} AS ha, ${hsSql("tb")} AS hb FROM pairs),
          sel AS (SELECT id_a, id_b, ${selSql("ha")} AS sa, ${selSql("hb")} AS sb FROM h),
          fp AS (SELECT id_a, id_b, list_distinct(sa) AS fa, list_distinct(sb) AS fb FROM sel)
          SELECT id_a, id_b,
            CAST(len(list_filter(fa, x -> list_contains(fb, x))) AS INT) AS n_shared
          FROM fp WHERE len(list_filter(fa, x -> list_contains(fb, x))) >= 3
          ORDER BY id_a"""
    }),

    Leaf("q46_fingerprint_pairs_poly", (s, dir) => {
      // the PRODUCTION "poly" rolling-hash family under the gate (VERDICT
      // r05 #2 — q42 gates only the md5 family; poly ≡ md5 was spec-only).
      // Same planted construction as q42, but n_shared is now the exact
      // intersection of POLY fingerprint sets, and the DuckDB oracle
      // recomputes the polynomial rolling hash itself: h(gram) =
      // Σ code(c_j)·B^(8−j) mod 2^64 (B = 1000000007, HUGEINT arithmetic
      // with precomputed B^j mod 2^64 constants — mathematically identical
      // to the Scala kernel's wrapping-Long recurrence), reinterpreted as
      // SIGNED 64-bit so the window-min selection compares exactly like
      // Scala's Long ordering. ASCII corpus ⇒ charAt ≡ codepoint.
      val off = 1L << 40
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val edited = docs.filter(col("doc_id") < 3).select(
        (col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" qz1 qz2 qz3 qz4 qz5 qz6 qz7 qz8")).as("text"))
      graft.dedup.DocDedup.fingerprintPairs(
        docs.unionByName(edited), hashKind = "poly", minShared = 3)
        .filter(col("id_b") - col("id_a") === off)
        .orderBy("id_a")
    }, oracle = {
      // the polynomial rolling hash recomputed by an independent engine:
      // Scala's wrapping-Long recurrence computes exactly
      // h(gram) = Σ_j code(c_j)·B^(8−j) (mod 2^64), so the oracle evaluates
      // that closed form directly in HUGEINT with the B^j mod 2^64 constants
      // below (computed here by the same wrapping multiplication), reduces
      // mod 2^64, and reinterprets as SIGNED 64-bit (BIGINT) so list_min
      // compares exactly like the kernel's signed-Long window minima. The
      // selection/intersection machinery is q42's, over the poly family.
      val off = 1L << 40
      val B = 1000000007L
      val pows = Iterator.iterate(1L)(_ * B).take(9).toArray // B^j mod 2^64
      def u(l: Long): String = java.lang.Long.toUnsignedString(l)
      def hsSql(t: String): String = {
        val terms = (0 until 9).map { j =>
          s"unicode(substr($t, CAST(i AS INT)+${j + 1}, 1))::HUGEINT * ${u(pows(8 - j))}::HUGEINT"
        }.mkString("\n                      + ")
        s"""CASE WHEN length($t) < 9 THEN CAST([] AS BIGINT[])
            ELSE list_transform(list_transform(range(length($t)-9+1),
                 i -> ($terms) % 18446744073709551616::HUGEINT),
                 v -> CAST(CASE WHEN v >= 9223372036854775808::HUGEINT
                           THEN v - 18446744073709551616::HUGEINT ELSE v END AS BIGINT)) END"""
      }
      def selSql(hs: String): String =
        s"""CASE WHEN len($hs) = 0 THEN CAST([] AS BIGINT[])
            WHEN len($hs) < 16 THEN [list_min($hs)]
            ELSE list_transform(range(len($hs)-15),
                 w -> list_min(list_slice($hs, CAST(w AS INT)+1, CAST(w AS INT)+16))) END"""
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 3),
          pairs AS (SELECT doc_id AS id_a, CAST(doc_id + $off AS BIGINT) AS id_b,
                           text AS ta, text || ' qz1 qz2 qz3 qz4 qz5 qz6 qz7 qz8' AS tb FROM d),
          h AS (SELECT id_a, id_b, ${hsSql("ta")} AS ha, ${hsSql("tb")} AS hb FROM pairs),
          sel AS (SELECT id_a, id_b, ${selSql("ha")} AS sa, ${selSql("hb")} AS sb FROM h),
          fp AS (SELECT id_a, id_b, list_distinct(sa) AS fa, list_distinct(sb) AS fb FROM sel)
          SELECT id_a, id_b,
            CAST(len(list_filter(fa, x -> list_contains(fb, x))) AS INT) AS n_shared
          FROM fp WHERE len(list_filter(fa, x -> list_contains(fb, x))) >= 3
          ORDER BY id_a"""
    }),

    Leaf("q43_dedup_substring_closure", (s, dir) => {
      // ONE closure over minhash + winnowing-fingerprint pair sources, with
      // a family each generator is EXCLUSIVELY responsible for (the q37
      // technique extended to the substring dimension). The corpus is
      // crafted with DISJOINT vocabularies — membership certainty is by
      // construction, because on a shared-vocabulary corpus the winnowing
      // source legitimately pairs many docs (min-selection favors globally
      // small gram hashes; measured 2.2M real pairs at sf0.1, minShared 3)
      // and no golden membership would be SF-invariant:
      //  - minhash-only family {0, off+1}: doc 0 UPPERCASED — lowercased
      //    shingles identical ⇒ LSH certain; winnowing k-grams are
      //    case-sensitive raw text ⇒ fingerprint-blind; md5 differs ⇒
      //    exact-dedup-blind
      //  - fingerprint-only family {1, off+2}: doc 1's raw text EMBEDDED
      //    between two nonsense flanks — the shared 58-char substring far
      //    exceeds the window+k-1 = 24 winnowing guarantee ⇒ discovery
      //    certain; the 40 flank tokens dilute shingle Jaccard to ~0.2
      //    against the 0.9 estimate filter ⇒ minhash-blind
      val off = 1L << 40
      import s.implicits._
      val d0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val d1 = "uno dos tres cuatro cinco seis siete ocho nueve diez"
      val d2 = "red green blue cyan magenta yellow black white gray pink"
      val d3 = "car bus train plane boat bike tram ship rocket sled"
      val flankA = (0 until 20).map(i => s"zq$i").mkString(" ")
      val flankB = (0 until 20).map(i => s"xw$i").mkString(" ")
      val docs = Seq(
        (0L, d0), (1L, d1), (2L, d2), (3L, d3),
        (off + 1, d0.toUpperCase), (off + 2, s"$flankA $d1 $flankB"))
        .toDF("doc_id", "text")
      graft.dedup.Clusters.dedupCorpusFrom(
        docs,
        Seq(
          graft.dedup.DocDedup.minhashPairs(docs, threshold = 0.9),
          graft.dedup.DocDedup.fingerprintPairs(docs, minShared = 3)))
        .orderBy("id")
    }, oracle =
      // golden crafted-corpus closure: uppercase copy roots at 0 (minhash-
      // only), substring-embedded copy roots at 1 (fingerprint-only),
      // disjoint-vocabulary docs 2/3 stay singletons; off = 2^40
      """SELECT id, cluster_id, keep FROM (VALUES
           (CAST(0 AS BIGINT), CAST(0 AS BIGINT), true), (1, 1, true),
           (2, 2, true), (3, 3, true),
           (1099511627777, 0, false), (1099511627778, 1, false))
         t(id, cluster_id, keep) ORDER BY id"""),

    // q51: the oracle re-derives corpus-global line dedup from scratch —
    // zip-unnested (line, position) rows, a row_number over
    // (PARTITION BY md5(line) ORDER BY doc_id, position) picking the
    // global first occurrence, and an ordered string_agg reassembly;
    // fully-shadowed docs come back via the left join as ''
    Leaf("q51_line_dedup", (s, dir) => {
      // corpus-GLOBAL line dedup (the C4 §2.2 move) under the gate: every
      // line keeps only its (doc id, line index)-first occurrence across
      // the whole corpus, docs reassembled in order, fully-shadowed docs
      // collapse to ''. Planted multi-line docs exercise cross-doc theft,
      // in-doc repeats and total collapse; the 5000 real single-line docs
      // are the no-op parity half (any exact-dup texts among them dedup
      // too — the oracle recomputes, nothing is golden).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = {
        import s.implicits._
        lineFixture.toDF("doc_id", "text")
      }
      graft.dedup.DocDedup.dedupLines(docs.unionByName(planted))
        .orderBy("id")
    }, oracle = {
      val plantedSql = lineFixture
        .map { case (id, t) => s"(CAST($id AS BIGINT), '${t.replace("'", "''").replace("\n", "' || chr(10) || '")}')" }
        .mkString(", ")
      s"""WITH all_docs(doc_id, text) AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT * FROM (VALUES $plantedSql) p(doc_id, text)),
          lx AS (
            SELECT doc_id, unnest(ln) AS line,
                   unnest(generate_series(1, len(ln))) AS i
            FROM (SELECT doc_id, string_split(text, chr(10)) AS ln FROM all_docs) q0),
          w AS (
            SELECT doc_id, i, line, row_number() OVER (
                   PARTITION BY md5(line) ORDER BY doc_id, i) AS rn
            FROM lx),
          reb AS (
            SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text
            FROM w WHERE rn = 1 GROUP BY doc_id)
          SELECT a.doc_id AS id, coalesce(r.text, '') AS text
          FROM all_docs a LEFT JOIN reb r ON a.doc_id = r.doc_id
          ORDER BY id"""
    })
  )
}
