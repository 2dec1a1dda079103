package graft

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.dedup.DocDedup

class DocDedupSpec extends SparkSpec {
  import spark.implicits._

  test("dedup bench corpus: planted triple families, deterministic, minhash-discoverable") {
    import org.apache.spark.sql.functions._
    val docs = graft.synth.BenchWorkload.docs(spark, nDocs = 3000, dupPermille = 200)
    assert(docs.count() === 3000)
    // deterministic: same args → identical bytes
    val again = graft.synth.BenchWorkload.docs(spark, 3000, 200)
    assert(docs.exceptAll(again).isEmpty && again.exceptAll(docs).isEmpty)
    // family triples share one text; everything else is unique
    val grouped = docs.groupBy("text").count().groupBy("count").count()
      .as[(Long, Long)].collect().toMap
    assert(grouped.keySet === Set(1L, 3L), s"got group sizes ${grouped.keySet}")
    val famDocs = grouped(3L) * 3
    // ~20% of triples are families (binomial around 200/1000 of 1000 triples)
    assert(famDocs > 400 && famDocs < 800, s"family docs: $famDocs")
    // the full pipeline collapses exactly the families
    val survivors = graft.dedup.Clusters.dedupCorpus(docs, threshold = 0.9)
      .filter(col("keep")).count()
    assert(survivors === 3000 - famDocs + famDocs / 3)
  }

  /** 20 genuinely-distinct docs (disjoint vocabularies) + near-dup of #0
    * (one word changed) + exact dup of #1.
    */
  private def docs = {
    val distinct = (0 until 20).map { i =>
      val words = (0 until 30).map(j => s"w${i}x${(i * 31 + j * 7) % 97}t$j")
      (i.toLong, words.mkString(" "))
    }
    // "alt2" chosen so the md5-simhash distance of pair (0,100) is 2 — inside
    // the 4-chunk pigeonhole guarantee (hamming ≤ 3) that simhashPairs blocks on
    val nearDup = (100L, distinct(0)._2.replace("w0x0t0", "alt2"))
    val exactDup = (101L, distinct(1)._2)
    (distinct :+ nearDup :+ exactDup).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps lowest id") {
    val out = DocDedup.exact(docs).filter(col("n_copies") > 1).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("keep_id") === 1L)
    assert(out(0).getAs[Long]("n_copies") === 2L)
  }

  test("minhash LSH finds the planted near-dup pair and the exact dup") {
    val pairs = DocDedup.minhashPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 100L)), "near-dup (0,100) missed")
    assert(pairs.contains((1L, 101L)), "exact dup (1,101) missed")
    // no false positives among the unrelated distinct docs
    assert(!pairs.exists { case (a, b) => a < 20 && b < 20 })
  }

  test("nearDupPairs verifies with exact jaccard") {
    val pairs = DocDedup.nearDupPairs(docs, threshold = 0.6)
      .as[(Long, Long, Double)].collect()
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys === Set((0L, 100L), (1L, 101L)))
    val exact = pairs.find(p => p._1 == 1L).get._3
    assert(exact === 1.0) // identical docs
    // a sub-threshold overlap must be verified OUT even when LSH proposes
    // it: two docs sharing half their shingles pass the slack-0.8 candidate
    // stage at threshold 0.9 estimates but fail the exact bar
    val half = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "a b c d e f q r s t")).toDF("doc_id", "text")
    val none = DocDedup.nearDupPairs(half, threshold = 0.9).count()
    assert(none === 0L)
  }

  test("nearDupPairs computes the verify shingles in ONE corpus pass (slim-pair skeleton)") {
    // the verification stage must add exactly ONE shingle computation over
    // the corpus (the payload table attachPairSides melts onto the pairs) —
    // the pre-skeleton shape re-joined TWO renamed whole-corpus shingle
    // copies. array_distinct( is the shingle builder's plan marker, counted
    // in the ANALYZED plan (the optimizer's ConvertToLocalRelation folds
    // the kernel away entirely over this spec's literal input); comparing
    // against the candidate stage's own count keeps the assertion valid if
    // minhashPairs' internal shape ever changes.
    def marks(df: org.apache.spark.sql.DataFrame): Int =
      "array_distinct\\(".r.findAllIn(df.queryExecution.analyzed.toString).length
    val candidate = marks(DocDedup.minhashPairs(docs, threshold = 0.48))
    val verified = marks(DocDedup.nearDupPairs(docs, threshold = 0.6))
    assert(verified === candidate + 1,
      s"verify stage must add exactly one shingle pass: $candidate -> $verified")
  }

  test("fingerprintPairs: shared long substring pairs with certainty; token-bag methods are blind to it") {
    // docs 0 and 50 share ONE 60-char substring embedded in otherwise
    // disjoint vocabularies: winnowing guarantees a shared fingerprint
    // (shared length 60 >= window+k-1 = 24), while 3-token shingles of the
    // surrounding disjoint text keep the minhash estimate far below any
    // useful threshold — substring dedup is a different dimension
    val shared = "common boilerplate license header text here" // 43 chars
    val docsFp = Seq(
      (0L, s"alpha beta gamma delta $shared epsilon zeta eta theta"),
      (50L, s"uno dos tres cuatro cinco $shared seis siete ocho nueve"),
      (1L, "completely unrelated words live in this document body"),
      (2L, "another disjoint set of tokens occupying space here")
    ).toDF("doc_id", "text")
    val pairs = DocDedup.fingerprintPairs(docsFp, minShared = 1)
      .as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((0L, 50L)),
      s"exactly the substring pair must surface: ${pairs.toSeq}")
    assert(pairs.head._3 >= 1)
    // identical docs share their ENTIRE fingerprint set
    val twin = Seq((0L, docsFp.where("doc_id = 0").select("text").as[String].head()),
      (9L, docsFp.where("doc_id = 0").select("text").as[String].head())).toDF("doc_id", "text")
    val full = DocDedup.fingerprintPairs(twin, minShared = 1).as[(Long, Long, Int)].head()
    val fpCount = twin.select(
      size(graft.functions.TextFns.fingerprint(col("text")))).as[Int].head()
    assert(full === ((0L, 9L, fpCount)))
    // minShared filters: demanding more shared fingerprints than the pair
    // has drops it
    assert(DocDedup.fingerprintPairs(docsFp, minShared = 1000).count() === 0L)
    // poly and md5 hash families agree on n_shared for the same pair
    val md5Pair = DocDedup.fingerprintPairs(docsFp, minShared = 1, hashKind = "md5")
      .as[(Long, Long, Int)].collect()
    assert(md5Pair.map(p => (p._1, p._2)).toSet === Set((0L, 50L)))
  }

  test("simhash: identical docs distance 0; near-dups close; pairs found") {
    val sigs = docs.select(col("doc_id"), DocDedup.simhash(col("text")).as("sig"))
    val byId = sigs.as[(Long, Long)].collect().toMap
    assert(byId(1L) === byId(101L))
    val nearDist = java.lang.Long.bitCount(byId(0L) ^ byId(100L))
    assert(nearDist === 2, s"near-dup simhash distance $nearDist")
    // unrelated docs sit near the random baseline (~32 bits)
    assert(java.lang.Long.bitCount(byId(2L) ^ byId(3L)) > 16)
    // within the pigeonhole guarantee (hamming ≤ 3 with 4 chunks) both the
    // exact dup (distance 0) and the near-dup (distance 2) MUST be found
    val pairs = DocDedup.simhashPairs(docs, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 101L)))
    assert(pairs.contains((0L, 100L)))
    // and nothing else: unrelated docs are far apart
    assert(pairs === Set((1L, 101L), (0L, 100L)))
  }

  test("bucket cap keeps lowest ids and observes dropped coverage on-job") {
    // 5 identical docs share every (band, bucket); maxBucket=2 keeps ids
    // {0,1} per bucket -> exactly pair (0,1) survives, and 3 rows/bucket x
    // 16 bands = 48 dropped rows must be observed on the same job
    val metrics = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.dropped.minhashPairs")) metrics.add(row.getLong(0))
        }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val same = (0 until 5).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
      val pairs = DocDedup.minhashPairs(same, threshold = 0.5, maxBucket = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs === Set((0L, 1L)), s"cap must keep only the 2 lowest ids: $pairs")
      // listener bus is async — poll for the observed metric
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (metrics.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(metrics.asScala.exists(_ === 48L), s"expected 48 dropped rows observed, got ${metrics.asScala.toList}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("cappedBucketPairs: capped and uncapped pair sets exact; never builds one pair array") {
    // one hot bucket of 50 ids. Cap 40 keeps the 40 lowest ids; a cap
    // above the bucket size keeps everything. The streaming self-join (the
    // ONLY shape since r07 — it cannot exceed the 2^31 array limit at any
    // cap, and pair predicates push into its join condition) must produce
    // exactly the expected i<j sets, and the plan must never materialize a
    // flattened pair array. The 10 ids past the cap are reported as
    // dropped coverage on the job that materializes the capped stream.
    val bucketed = (1 to 50).map(i => (i.toLong, "b0")).toDF("id", "bucket")
    val dropped = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.dropped.spec")) dropped.add(row.getLong(0))
        }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val arr = try {
      val capped = DocDedup.cappedBucketPairs(bucketed, Seq("bucket"), maxBucket = 40, "spec")
      // listener bus is async — poll for the observed metric
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (dropped.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      capped
    } finally spark.listenerManager.unregister(listener)
    assert(dropped.asScala.toList === List(10L), s"expected 10 dropped rows observed, got ${dropped.asScala.toList}")
    val expectCapped = (for { a <- 1 to 40; b <- (a + 1) to 40 } yield (a.toLong, b.toLong)).toSet
    assert(arr.as[(Long, Long)].collect().toSet === expectCapped)
    val arrPlan = arr.queryExecution.optimizedPlan.toString
    assert(!arrPlan.toLowerCase.contains("flatten"), arrPlan)
    val joined = DocDedup.cappedBucketPairs(bucketed, Seq("bucket"), maxBucket = 2049, "spec")
    val expectAll = (for { a <- 1 to 50; b <- (a + 1) to 50 } yield (a.toLong, b.toLong)).toSet
    assert(joined.as[(Long, Long)].collect().toSet === expectAll)
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("flatten"), plan)
  }

  test("self-join shape streams ~2M pairs from one hot bucket") {
    // 2000 ids in ONE bucket with a cap above the bucket size: the join
    // path must emit exactly C(2000,2) = 1,999,000 pairs as rows — the
    // volume class where a single flattened pair array stops being an
    // option (and the count that would silently shrink if the join
    // condition or dedup were wrong)
    val bucketed = (1 to 2000).map(i => (i.toLong, 0)).toDF("id", "chunk")
    val pairs = DocDedup.cappedBucketPairs(bucketed, Seq("chunk"), maxBucket = 2049, "spec")
    assert(pairs.count() === 1999000L)
    assert(pairs.filter(col("id_a") >= col("id_b")).count() === 0L)
  }

  test("md5Long64 matches the cross-engine anchor value") {
    // DuckDB: SELECT ('0x' || substr(md5('abc'),1,16))::UBIGINT
    //         = 10376663631224000432 = -8070080442485551184 as signed 64-bit.
    // This anchors the q28 simhash oracle's token-hash family.
    assert(DocDedup.md5Long64("abc") === -8070080442485551184L)
    assert(DocDedup.md5Long64("") === java.lang.Long.parseUnsignedLong("d41d8cd98f00b204", 16))
  }

  test("shingles: k consecutive tokens, distinct, short-doc fallback") {
    val out = Seq("a b c d", "x y").toDF("t")
      .select(DocDedup.shingles(col("t"), 3)).as[Seq[String]].collect()
    assert(out(0).toSet === Set("a b c", "b c d"))
    assert(out(1) === Seq("x y"))
  }

  test("dedupLines: corpus-global first occurrence wins; docs reassembled in order") {
    val docs = Seq(
      (1L, "shared one\nunique alpha\nshared two"),
      (2L, "shared one\nunique beta\nunique beta"), // loses line 1 to doc 1 AND its own in-doc repeat
      (3L, "shared one\nunique alpha\nshared two"), // verbatim copy of doc 1 -> collapses to ""
      (4L, "fresh line")).toDF("doc_id", "text")
    val out = DocDedup.dedupLines(docs).orderBy("id")
      .as[(Long, String)].collect()
    assert(out === Array(
      (1L, "shared one\nunique alpha\nshared two"),
      (2L, "unique beta"),
      (3L, ""),
      (4L, "fresh line")))
  }
}
