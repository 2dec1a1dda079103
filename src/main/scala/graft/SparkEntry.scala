package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalRows

import java.sql.Date
import java.time.LocalDate

import graft.crawl.CrawlJob
import graft.model.PolitenessConfig
import graft.plan.Frontier
import graft.synth.Synth

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` covers SURVEY.md §2's operator inventory: each entry is one
  * operator (or tight operator cluster) expressed Spark-first, with a
  * DuckDB-equivalent oracle in `oracleSql` wherever the semantics are
  * SQL-expressible. Non-SQL-expressible ops (URL seen Bloom dedup rounds,
  * the politeness scheduler, MinHash/SimHash) are covered by ScalaTest
  * specs and appear here as rows-only entries.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ------------------------------------------------------------ fixtures
  // Shared golden fixtures used by both the Spark queries and the DuckDB
  // oracles (FIXTURES.md §1-2; reference tests/test_db_client.py:12-30).

  private val TestDate = LocalDate.of(1995, 9, 10)

  private val RatesFixture: Seq[(String, String, String, Int, Double)] = Seq(
    ("GBP", "USD", "1995-09-03", 1, 1.0), ("GBP", "USD", "1995-09-04", 1, 2.0),
    ("GBP", "USD", "1995-09-05", 1, 3.0), ("GBP", "USD", "1995-09-06", 1, 4.0),
    ("GBP", "USD", "1995-09-07", 2, 5.0), ("GBP", "USD", "1995-09-08", 2, 6.0),
    ("GBP", "USD", "1995-09-09", 2, 7.0), ("GBP", "USD", "1995-09-10", 1, 0.654654),
    ("USD", "GBP", "1995-09-03", 1, 7.0), ("USD", "GBP", "1995-09-04", 1, 6.0),
    ("USD", "GBP", "1995-09-05", 1, 5.0), ("USD", "GBP", "1995-09-06", 1, 4.0),
    ("USD", "GBP", "1995-09-07", 2, 3.0), ("USD", "GBP", "1995-09-08", 2, 2.0),
    ("USD", "GBP", "1995-09-09", 2, 1.0))

  private val ratesFixtureSql: String = RatesFixture
    .map { case (c, tr, d, p, r) => s"('$c','$tr',DATE '$d',$p,$r)" }.mkString(",")

  /** The golden 7 missing combos in seed (seq) order. */
  private val GoldenMissing: Seq[(String, String, String)] = Seq(
    ("GBP", "USD", "1995-09-07"), ("GBP", "USD", "1995-09-08"), ("GBP", "USD", "1995-09-09"),
    ("USD", "GBP", "1995-09-10"), ("USD", "GBP", "1995-09-07"), ("USD", "GBP", "1995-09-08"),
    ("USD", "GBP", "1995-09-09"))

  private def ratesFixtureDf(s: SparkSession): DataFrame = {
    import s.implicits._
    RatesFixture.map { case (c, tr, d, p, r) => (c, tr, Date.valueOf(d), p, r) }
      .toDF("card_code", "trans_code", "date", "provider_id", "rate")
  }

  private def providersDf(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1, "Mastercard"), (2, "Visa")).toDF("id", "name")
  }

  private def goldenMissingDf(s: SparkSession): DataFrame = {
    val currs = Frontier.currencyDim(s, Seq("GBP", "USD"))
    val cands = Frontier.candidates(currs, TestDate, 8)
    Frontier.missing(cands, ratesFixtureDf(s), providersDf(s), "Mastercard", TestDate, 8, Seq("GBP", "USD"))
  }

  // ------------------------------------------------------------ flagship

  /** Flagship: the minimum end-to-end slice (SURVEY.md §7.3) — plan the
    * missing frontier for both providers, expand to byte-exact URLs,
    * dedup + robots-gate + politeness-schedule in rounds, fetch-join the
    * deterministic synthetic page table, extract rates, append with
    * uniqueness, checkpointing every round. Returns the final rates table.
    */
  def entry(spark: SparkSession): DataFrame = {
    val currsList = Seq("GBP", "USD", "EUR")
    val currs = Frontier.currencyDim(spark, currsList)
    val cands = Frontier.candidates(currs, TestDate, 5)
    // missing is planned PER provider (client.py plans per provider): each
    // provider's anti-join runs against ITS stored rates, so a combo
    // already stored under Visa is not re-crawled for Visa just because
    // Mastercard is missing it
    def seedsFor(provider: String) = Frontier.missing(
      cands, ratesFixtureDf(spark), providersDf(spark), provider, TestDate, 5, currsList)
    val seedsMc = seedsFor("Mastercard")
    val seedsVisa = seedsFor("Visa")
    val frontier = CrawlJob.expandSeeds(seedsMc, "Mastercard")
      .unionAll(CrawlJob.expandSeeds(seedsVisa.withColumn("seq", col("seq") + 1000000L), "Visa"))
    val pages = Synth.mcPages(seedsMc).unionAll(Synth.visaPages(seedsVisa))
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val (rates, _, _) = CrawlJob.run(
      spark, frontier, pages, robots, ckpt,
      PolitenessConfig(), roundSec = 10.0, maxRounds = 50)
    rates
  }

  // ------------------------------------------------------------- queries

  /** The leaves by name. Each one first installs [[LocalRows]] in the
    * session it is given, so every caller (`Bench`, `Verify`, `BenchExtra`,
    * `PlanDump`, perfbench) plans it the same way.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = leaves.map { case (name, body) =>
    name -> ((s: SparkSession, dir: String) => { LocalRows.setup(s); body(s, dir) })
  }

  private def leaves: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- general relational operators over the TPC-H-ish tables --------
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_top_customers" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }),

    "q03_brand_part_agg" -> ((s, dir) => {
      // small dim explicitly broadcast: no shuffle of the fact side
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_brand") === "Brand#12")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_type")
    }),

    "q04_customers_with_orders" -> ((s, dir) => {
      // left-semi join (the reference's insert-if-absent dual, client.py:173-181)
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    "q05_top_orders_per_customer" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    "q06_running_value" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("running_value", round(sum("value").over(w), 4))
        .select("event_id", "user_id", "running_value")
        .orderBy("user_id", "event_id")
    }),

    "q07_rollup_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_extendedprice"), 2).as("revenue"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "q08_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // 30-min-gap sessionization: the batch dual of the streaming
      // mapGroupsWithState session operator (SURVEY.md §1.4 streaming note)
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val events = t(s, dir, "events")
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("gap",
          when(col("prev_ts").isNull, 1)
            .when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum("gap").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      events.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("session_value"))
        .orderBy("user_id", "session_id")
    }),

    "q09_hourly_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .orderBy("hour", "event_type")
    }),

    // ---- crawl-planner operators (golden fixtures both sides) ----------
    "q10_missing_antijoin" -> ((s, _) => {
      goldenMissingDf(s)
        .select(col("card_c"), col("trans_c"), col("date"))
        .orderBy("card_c", "trans_c", "date")
    }),

    "q11_url_mc" -> ((s, _) => {
      goldenMissingDf(s)
        .transform(df => CrawlJob.expandSeeds(df, "Mastercard"))
        .select("card_c", "trans_c", "date", "url")
        .orderBy("card_c", "trans_c", "date")
    }),

    "q12_url_visa" -> ((s, _) => {
      goldenMissingDf(s)
        .transform(df => CrawlJob.expandSeeds(df, "Visa"))
        .select("card_c", "trans_c", "date", "url")
        .orderBy("card_c", "trans_c", "date")
    }),

    "q13_shard_roundrobin" -> ((s, _) => {
      Frontier.withShard(goldenMissingDf(s), 3, partitions = 4)
        .select("card_c", "trans_c", "date", "shard")
        .orderBy("card_c", "trans_c", "date")
    }),

    "q14_frontier_csv_dialect" -> ((s, _) => {
      // the frontier shard row format: headerless dd/MM/yyyy (settings.py:110)
      goldenMissingDf(s)
        .select(
          col("card_c"), col("trans_c"),
          date_format(col("date"), "dd/MM/yyyy").as("std_date"))
        .orderBy("card_c", "trans_c", "std_date")
    }),

    // ---- scalar/date functions ----------------------------------------
    "q15_date_cutoff" -> ((s, _) => {
      import s.implicits._
      import graft.functions.DateFns
      // US/Eastern 2pm cutoff (client.py:55-65): timestamps straddling both
      // the hour boundary and a UTC day boundary
      val ts = Seq(
        "1995-09-10 17:59:00", // 13:59 ET → previous day
        "1995-09-10 18:00:00", // 14:00 ET → same day
        "1995-09-10 03:00:00", // 23:00 ET prev day (EDT) → that same prev day
        "1995-09-11 02:00:00") // 22:00 ET on the 10th → the 10th
        .toDF("ts_text")
        .select(col("ts_text"), to_timestamp(col("ts_text")).as("ts"))
      ts.select(col("ts_text"), DateFns.currentCrawlDateCol(col("ts")).as("crawl_date"))
        .orderBy("ts_text")
    }),

    // ---- training-data ops over the documents/embeddings tables --------
    "q16_doc_exact_dedup" -> ((s, dir) => {
      // exact dedup: content-hash group, keep lowest doc_id (SURVEY §2#22 dual)
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_doc_id")
    }),

    "q17_doc_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    "q18_doc_quality" -> ((s, dir) => {
      // quality scoring: mean word length + whitespace ratio (heuristics a
      // pretraining pipeline filters on)
      val toks = size(split(trim(col("text")), "\\s+"))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          round(length(regexp_replace(col("text"), "\\s", "")).cast("double") / toks, 4).as("mean_word_len"),
          round((length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("double")
            / length(col("text")), 4).as("space_ratio"))
        .orderBy("doc_id")
    }),

    "q19_embedding_norms" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("l2_norm"),
          col("label"))
        .orderBy("vec_id")
    }),

    "q20_lang_distribution" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 4).as("avg_chars"))
        .orderBy("lang")
    }),

    // ---- dedup / similarity / text-analysis (training-data ops) --------
    "q21_token_jaccard_pairs" -> ((s, dir) => {
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
    }),

    "q22_ann_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ann.Ann.bruteForceTopK(queries, emb, k = 5)
        .orderBy("query_id", "rank")
    }),

    "q23_doc_text_stats" -> ((s, dir) => {
      import graft.functions.TextFns
      // lowered tokens cross a projection boundary: the 4 profile filters
      // reference the array from lambda bodies, which Catalyst CSE cannot
      // deduplicate — inline, the text re-splits once per profile per row
      // ONLY the en score is consumed, so compute only it (identical
      // arithmetic to the map entry — see stopRatioFromTokens): the map
      // form evaluated all 4 profiles' token filters per row behind an
      // element_at Catalyst cannot prune (measured r07: 4 stop-scans → 1)
      graft.util.PlanSize.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text"),
          TextFns.loweredTokens(col("text")).as("__ltk"))
        .select(
          col("doc_id"),
          round(TextFns.stopRatioFromTokens(
            col("__ltk"), TextFns.LangProfiles.head._2), 4).as("en_stop_ratio"),
          TextFns.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    }),

    "q24_embedding_neardup" -> ((s, dir) => {
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
    }),

    "q25_ann_lsh_self_recall" -> ((s, dir) => {
      // identical query/corpus vectors land in the same bucket in every
      // table → rank-1 must be the vector itself at cosine 1.0
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ann.Ann.lshTopK(queries, emb, k = 3, bits = 10, tables = 2)
        .filter(col("rank") === 1)
        .select("query_id", "vec_id", "cosine")
        .orderBy("query_id")
    }),

    // ---- formerly rows-only entries, now under the DuckDB gate ----------
    "q26_doc_langid" -> ((s, dir) => {
      import graft.functions.TextFns
      // same boundary reasoning as q23 — the profile lambdas share one
      // array. Round 6: runs the WIDE 12-profile model, so the O(L)
      // plan-size rewrite (one array_max, zero second references —
      // TextFns.langIdFromTokens scaladoc) is exercised under the driver
      // gate at a realistic profile count; the oracle below is GENERATED
      // from the same profile data, so it tracks automatically
      graft.util.PlanSize.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"),
          TextFns.loweredTokens(col("text")).as("__ltk"))
        .select(col("doc_id"),
          TextFns.langIdFromTokens(col("__ltk"), TextFns.LangProfilesWide).as("pred_lang"),
          col("lang"))
        .orderBy("doc_id")
    }),

    "q27_doc_minhash_pairs" -> ((s, dir) => {
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
    }),

    "q28_doc_simhash" -> ((s, dir) => {
      // md5-derived token hashes → the DuckDB oracle recomputes the full
      // 64-bit signature bit-for-bit (emitted as unsigned hex)
      t(s, dir, "documents")
        .select(col("doc_id"),
          format_string("%016x", graft.dedup.DocDedup.simhash(col("text"))).as("simhash_hex"))
        .orderBy("doc_id")
    }),

    "q29_doc_fingerprint" -> ((s, dir) => {
      import graft.functions.TextFns
      // md5 hash mode: the winnowing window-min selection is recomputed
      // verbatim by the DuckDB oracle (see TextFns.winnow scaladoc)
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextFns.fingerprint(col("text"), hashKind = "md5")).as("n_fingerprints"))
        .orderBy("doc_id")
    }),

    "q30_media_features" -> ((s, dir) => {
      // multimodal plumbing: binary content + metadata → batch feature
      // extraction with the stubbed decoder (see Multimodal scaladoc).
      // Projects the oracle-recomputable columns (the docs are ASCII, so
      // byte values = code points on the DuckDB side).
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.syntheticMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          round(col("mean_luma"), 4).as("mean_luma"), col("frames_sampled"))
        .orderBy("media_id")
    }),

    "q36_simhash_pairs" -> ((s, dir) => {
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
    }),

    "q35_ann_ivf_fullprobe" -> ((s, dir) => {
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
    }),

    "q34_dedup_clusters" -> ((s, dir) => {
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
    }),

    "q37_dedup_clusters_multi" -> ((s, dir) => {
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
    }),

    "q38_clean_corpus" -> ((s, dir) => {
      // the COMPOSED C4/Gopher-style cleanup pipeline: token bounds →
      // language filter → quality band checks → exact-dup removal in one
      // pass, every doc tagged with its first failing reason. The DuckDB
      // oracle recomputes the ENTIRE verdict chain (tokenization, stopword
      // language argmax, rounded quality signals, md5 dedup window with
      // passing-docs-first survivor rank) — a full cross-engine gate, not
      // a golden list. Planted rows make the rare reasons fire at any SF:
      // two copies of doc 0 (at least one must read 'duplicate' whatever
      // doc 0's own verdict) and a 2-token doc ('too_short' — precedence
      // puts it before its also-true wrong_lang)
      val off = 1L << 40
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val copy0 = docs.filter(col("doc_id") === 0)
      val planted = Seq(off + 1, off + 2).map(id =>
        copy0.select(lit(id).as("doc_id"), col("text")))
      val short = {
        import s.implicits._
        Seq((off + 3, "zq1 zq2")).toDF("doc_id", "text")
      }
      graft.pipeline.Corpus.clean((planted :+ short).foldLeft(docs)(_ unionByName _))
        .orderBy("id")
    }),

    "q76_clean_nfc" -> ((s, dir) => {
      // the q38 cleanup chain with the NFC rung ON: text is NFC-normalized
      // BEFORE every verdict kernel and the md5 dedup hash. Planted twins
      // share one visible string in composed vs DECOMPOSED form — byte-
      // different, so without the rung they both survive exact dedup; with
      // it the lower id is kept and the twin reads 'duplicate'. The oracle
      // reuses the complete committed verdict-chain CTEs over
      // nfc_normalize'd source text — DuckDB's independent utf8proc
      // normalization feeding its independent chain recomputation.
      import s.implicits._
      val off = 1L << 42
      val base = nfcTwinBase
      val docs = t(s, dir, "documents").select("doc_id", "text")
      // twin A composed (U+00E9), twin B decomposed (e + U+0301) — built
      // from code points so the source encoding can never collapse them
      val planted = Seq(
        (off + 1, base + " caf" + "é"),
        (off + 2, base + " caf" + "e" + "́")).toDF("doc_id", "text")
      graft.pipeline.Corpus.clean(docs.unionByName(planted), normalizeNfc = true)
        .orderBy("id")
    }),

    "q39_clean_neardup" -> ((s, dir) => {
      // the FULL composed pipeline: clean's verdict chain + near-dup
      // cluster removal in one call (VERDICT r04 #1). Two planted non-
      // identical near-dup families, each connected only via a different
      // generator (the q37 technique, folded into the cleanup):
      //  - doc 1's tokens REVERSED at off+1: different text (no exact-dup
      //    verdict possible) but an identical token bag ⇒ simhash hamming 0,
      //    found with certainty by the chunk blocking; minhash-blind
      //  - doc 0 UPPERCASED at off+2: different text, but shingles and
      //    simhash both lowercase first ⇒ identical signatures, found with
      //    certainty by both generators
      // Cluster membership is golden (roots 0 and 1 are global min ids —
      // q34/q37's invariance argument); every OTHER column of the output is
      // recomputed by the DuckDB oracle through the entire verdict chain
      // incl. the survivor rank, so which member survives is cross-engine
      // derived, not pinned
      val off = 1L << 40
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val reversed1 = docs.filter(col("doc_id") === 1).select(
        lit(off + 1).as("doc_id"),
        array_join(reverse(filter(split(lower(trim(col("text"))), "\\s+"), x => x =!= "")), " ")
          .as("text"))
      val upper0 = docs.filter(col("doc_id") === 0).select(
        lit(off + 2).as("doc_id"), upper(col("text")).as("text"))
      val allDocs = docs.unionByName(reversed1).unionByName(upper0)
      // independent generators constructed concurrently (the q37 move)
      val pairSources = graft.util.Sessions.concurrently(s.sparkContext)(
        () => graft.dedup.DocDedup.minhashPairs(allDocs, threshold = 0.9),
        () => graft.dedup.DocDedup.simhashPairs(allDocs, maxHamming = 3))
      graft.pipeline.Corpus.cleanWithNearDup(allDocs, pairSources)
        .filter(col("id") < 2 || col("id") >= off)
        .orderBy("id")
    }),

    "q40_ann_ivf_persisted" -> ((s, dir) => {
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
    }),

    "q45_ann_ivf_recall" -> ((s, dir) => {
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
    }),

    "q41_neardup_verify" -> ((s, dir) => {
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
    }),

    "q42_fingerprint_pairs" -> ((s, dir) => {
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
    }),

    "q46_fingerprint_pairs_poly" -> ((s, dir) => {
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
    }),

    "q43_dedup_substring_closure" -> ((s, dir) => {
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
    }),

    "q47_pii_redact" -> ((s, dir) => {
      // PII-style scrubbing under the gate: the full redaction cascade
      // (URL → email → IPv4 → phone, TextFns.RedactionPatterns) runs over
      // the corpus plus three planted PII-dense docs, and the DuckDB
      // oracle recomputes the SAME cascade with RE2 — the patterns are
      // deliberately in the Java∩RE2-identical subset, and this query is
      // the proof that they stay there (a pattern drifting into
      // engine-specific semantics hash-mismatches on the planted rows).
      // Real docs pass through mostly untouched — that no-op parity is
      // itself part of the gate (false-positive redactions would differ).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = {
        import s.implicits._
        piiFixture.toDF("doc_id", "text")
      }
      graft.util.PlanSize.spread(docs.unionByName(planted))
        .select(col("doc_id"),
          graft.functions.TextFns.redact(col("text")).as("red"))
        .orderBy("doc_id")
    }),

    "q54_pack_offsets" -> ((s, dir) => {
      // GPT-style sequence packing under the gate: the documents corpus
      // concatenated in id order (1 separator slot per doc) and chunked
      // into 512-token windows; every doc's global offset and straddle
      // span recomputed by the oracle with a plain window cumsum (the
      // single-partition shape the ENGINE refuses to use — the oracle is
      // allowed to, which is exactly what makes it an independent check
      // of the distributed bucket/offset prefix sum)
      graft.pipeline.Corpus.packOffsets(
        t(s, dir, "documents").select("doc_id", "text"),
        budget = 512, sepTokens = 1)
        .orderBy("id")
    }),

    "q53_decontaminate" -> ((s, dir) => {
      // benchmark decontamination under the gate: every 97th document
      // plays the eval set (SF-proportional, so the benchmark grows with
      // the corpus), and every doc sharing a lowercased word 8-gram with
      // it is flagged — which includes the benchmark docs themselves
      // (self-containment, ≥8 tokens), plus any true cross-doc leaks. The
      // oracle rebuilds BOTH gram sets and the semi-join from scratch;
      // nothing is golden.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      graft.pipeline.Decontaminate.contaminationFlags(
        docs, docs.filter(col("doc_id") % 97 === 0))
        .orderBy("id")
    }),

    "q55_lm_xent" -> ((s, dir) => {
      // CCNet-style LM quality scoring under the gate: an add-one-smoothed
      // bigram model is trained on the doc_id % 7 == 0 reference slice
      // (SF-proportional) and EVERY doc is scored by per-token
      // cross-entropy — including two planted probes: a mixed OOV/seen doc
      // that exercises all four smoothing branches (seen/unseen prefix ×
      // seen/unseen continuation) and an empty doc (0 tokens ⇒ xent 0.0
      // by contract). The DuckDB oracle retrains the ENTIRE model and
      // rescores from scratch — pair counts, prefix sums, vocabulary size
      // and logs; nothing is golden.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = {
        import s.implicits._
        lmFixture.toDF("doc_id", "text")
      }
      // ONE scratch dir keyed by the query (the q40 precedent) — a fresh
      // createTempDirectory per invocation would leak one model dir per
      // Verify/Bench run
      val lmDir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-lm-model-q55").toString
      graft.pipeline.LmScore.crossEntropy(
        docs.unionByName(planted),
        docs.filter(col("doc_id") % 7 === 0),
        workDir = Some(lmDir))
        .orderBy("id")
    }),

    "q58_bpe_word_counts" -> ((s, dir) => {
      // the CORPUS-SCALE phase of BPE tokenizer-vocabulary induction under
      // the gate: the global word-frequency table capped to the top-V by
      // (freq desc, word) — a total order, so the cut is deterministic
      // through frequency ties at the boundary (V=25 < the ~43-word
      // synthetic vocab forces the boundary to bite). The merge loop runs
      // over THIS table (model-sized, driver-side by design — the IVF
      // centroid-training precedent) and is proven by BpeSpec's
      // hand-worked Sennrich example; this gate pins the distributed input
      // it consumes.
      graft.pipeline.BpeVocab.wordCounts(
        t(s, dir, "documents"), maxWords = 25)
    }),

    "q59_ccnet_buckets" -> ((s, dir) => {
      // the full CCNet §4.3 composition under the gate: every doc LM-scored
      // (the q55 machinery — same reference slice, same one-scratch-dir
      // model reuse), then split per LANGUAGE into head/middle/tail by
      // exact integer rank arithmetic (bucket = (3·r) DIV n with r = count
      // of strictly-smaller same-language scores — ties share a bucket, so
      // no float threshold and no per-doc tie-break exists to drift
      // cross-engine). Planted probes: two identical en docs (an exact
      // score tie that must land in ONE bucket), an empty de doc (xent 0.0
      // ⇒ the head of its language) and a mixed fr doc. The oracle
      // retrains the LM, rescores every doc AND re-derives every bucket
      // from scratch.
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val planted = {
        import s.implicits._
        ccnetFixture.toDF("doc_id", "text", "lang")
      }
      val all = docs.unionByName(planted)
      val lmDir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-lm-model-q59").toString
      val scored = graft.pipeline.LmScore.crossEntropy(
        all, docs.filter(col("doc_id") % 7 === 0), workDir = Some(lmDir))
      val withLang = scored.join(
        all.select(col("doc_id").cast("long").as("id"), col("lang")), Seq("id"))
      graft.pipeline.LmScore.perplexityBuckets(withLang)
        .select("id", "lang", "n_tokens", "xent", "bucket", "bucket_label")
        .orderBy("id")
    }),

    "q60_frontier_filter" -> ((s, dir) => {
      // frontier admission gate under the gate: URLs synthesized from
      // doc_id arithmetic (every 17th on a blocklisted TLD, path depth
      // 1..12, param count 1..8), then blocklist suffix-JOIN + trap
      // heuristics. The engine PARSES host/depth/params back out of the
      // URL string (parse_url + regexp, the production path); the oracle
      // re-parses with its own regexps and re-derives the suffix match
      // with list machinery — nothing golden, precedence included.
      import s.implicits._
      val urls = t(s, dir, "documents").select(col("doc_id").as("id"))
        .withColumn("url", expr(
          """concat('https://',
               CASE WHEN id % 17 = 0
                    THEN concat('spam', CAST(id % 3 AS STRING), '.badtld')
                    ELSE concat('host', CAST(id % 50 AS STRING), '.example.com') END,
               '/',
               repeat(concat('d', CAST(id % 5 AS STRING), '/'), CAST(id % 12 AS INT)),
               'page',
               concat('?a=', CAST(id % 10 AS STRING), repeat('&q=1', CAST(id % 8 AS INT))))"""))
      val blocklist = Seq("badtld", "tracker.example.com").toDF("suffix")
      graft.urls.UrlFilter.verdicts(urls, blocklist)
        .select("id", "url", "host", "depth", "n_params", "verdict")
        .orderBy("id")
    }),

    "q61_sitemap_ingest" -> ((s, dir) => {
      // sitemap discovery under the gate: one XML sitemap per site
      // (doc_id % 20), entries in doc_id order, every 5th doc omitting
      // <lastmod> and every 7th omitting <priority>; the engine SPLITS the
      // XML into entry blocks and regexp-parses each field back out, then
      // anti-joins the already-seen URL set (doc_id % 3 == 0). The oracle
      // never sees the XML — it re-derives every field analytically from
      // the generation arithmetic (the q44 analytic-oracle move), so any
      // parse drift (block splitting, optional-field NULLs, date/double
      // casts, the anti-join) hash-mismatches.
      val docs = t(s, dir, "documents").select("doc_id")
      val entryXml = expr(
        """concat('<url><loc>https://s', CAST(doc_id % 20 AS STRING), '.example.com/p',
                  CAST(doc_id AS STRING), '</loc>',
             CASE WHEN doc_id % 5 = 0 THEN ''
                  ELSE concat('<lastmod>2026-0', CAST(1 + doc_id % 9 AS STRING), '-',
                              lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'), '</lastmod>') END,
             CASE WHEN doc_id % 7 = 0 THEN ''
                  ELSE concat('<priority>0.', CAST(doc_id % 10 AS STRING), '</priority>') END,
             '</url>')""")
      val sitemaps = docs
        .withColumn("site", col("doc_id") % 20)
        .withColumn("e", entryXml)
        .groupBy("site")
        .agg(concat(lit("<urlset>"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("e")))),
            x => x.getField("e")), ""),
          lit("</urlset>")).as("xml"))
      val entries = graft.plan.Sitemaps.parseEntries(sitemaps, "xml", keep = Seq("site"))
      val seen = docs.filter(col("doc_id") % 3 === 0)
        .select(concat(lit("https://s"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p"), col("doc_id").cast("string")).as("loc"))
      graft.plan.Sitemaps.unseenEntries(entries, seen)
        .select(col("site"), col("entry_pos").cast("long").as("entry_pos"),
          col("loc"), col("lastmod"), col("priority"))
        .orderBy("site", "entry_pos")
    }),

    "q62_recrawl_schedule" -> ((s, dir) => {
      // freshness scheduling under the gate: the events log plays the
      // change-observation history (url_id = user_id % 500), and the
      // Poisson rate, span and tier are recomputed from scratch by the
      // oracle — epoch arithmetic, the 1-hour span floor, the singleton
      // rate-0 contract and the tier thresholds all re-derived.
      val obs = t(s, dir, "events")
        .select((col("user_id") % 500).as("url_id"), col("ts"))
      graft.politeness.Recrawl.schedule(obs).orderBy("url_id")
    }),

    "q63_host_budget" -> ((s, dir) => {
      // largest-remainder budget apportionment under the gate: backlog =
      // documents per host (doc_id % 37), budget 10000 — pure 64-bit
      // integer arithmetic end to end (div, mod, remainder rank), so the
      // oracle's recomputation must match bit-for-bit, including the
      // deterministic (remainder desc, host asc) tie-break.
      val backlog = t(s, dir, "documents")
        .groupBy((col("doc_id") % 37).as("host"))
        .agg(count(lit(1)).as("cnt"))
      graft.politeness.HostBudget.apportion(backlog, budget = 10000L)
        .orderBy("host")
    }),

    "q64_frontier_plan" -> ((s, dir) => {
      // the composed frontier-planning round under the gate: admission
      // gate (q60 recipe) → per-host backlog → Hamilton apportionment of a
      // 100-URL round budget → per-host top-alloc selection by priority
      // (id % 100 desc, id asc). The oracle replays the ENTIRE chain —
      // verdicts, backlog, integer apportionment, rank windows — so a
      // drift anywhere in the composition flips the selected set.
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val urls = t(s, dir, "documents").select(col("doc_id").as("id"))
        .withColumn("url", expr(
          """concat('https://',
               CASE WHEN id % 17 = 0
                    THEN concat('spam', CAST(id % 3 AS STRING), '.badtld')
                    ELSE concat('host', CAST(id % 50 AS STRING), '.example.com') END,
               '/',
               repeat(concat('d', CAST(id % 5 AS STRING), '/'), CAST(id % 12 AS INT)),
               'page',
               concat('?a=', CAST(id % 10 AS STRING), repeat('&q=1', CAST(id % 8 AS INT))))"""))
      val blocklist = Seq("badtld", "tracker.example.com").toDF("suffix")
      val ok = graft.urls.UrlFilter.verdicts(urls, blocklist)
        .filter(col("verdict") === "ok")
      val alloc = graft.politeness.HostBudget.apportion(
        ok.groupBy("host").agg(count(lit(1)).as("cnt")), budget = 100L)
      val byHost = Window.partitionBy("host")
        .orderBy(col("prio").desc, col("id").asc)
      ok.withColumn("prio", col("id") % 100)
        .join(alloc.select("host", "alloc"), Seq("host"))
        .withColumn("rk", row_number().over(byHost))
        .filter(col("rk") <= col("alloc"))
        .select(col("id"), col("host"), col("prio"))
        .orderBy("id")
    }),

    "q67_robots_sitemaps" -> ((s, dir) => {
      // robots.txt sitemap discovery under the gate: one robots body per
      // host (doc_id % 20), one Sitemap line per doc — every 3rd COMMENTED
      // OUT (must not extract), every remaining 5th in lowercase with
      // spaces and a trailing comment (must extract clean). The engine
      // runs the production Column regexp over the real text; the oracle
      // derives every (host, pos, url) row analytically from the
      // generation arithmetic (the q61 move).
      val docs = t(s, dir, "documents").select("doc_id")
      val line = expr(
        """CASE WHEN doc_id % 3 = 0
                THEN concat('# Sitemap: https://s', CAST(doc_id % 20 AS STRING),
                            '.example.com/sm', CAST(doc_id AS STRING), '.xml')
                WHEN doc_id % 5 = 0
                THEN concat('  sitemap:   https://s', CAST(doc_id % 20 AS STRING),
                            '.example.com/sm', CAST(doc_id AS STRING), '.xml   # note')
                ELSE concat('Sitemap: https://s', CAST(doc_id % 20 AS STRING),
                            '.example.com/sm', CAST(doc_id AS STRING), '.xml') END""")
      val pages = docs
        .withColumn("site", col("doc_id") % 20)
        .withColumn("l", line)
        .groupBy("site")
        .agg(concat(lit("User-agent: *\nDisallow: /private\n"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("l")))),
            x => x.getField("l")), "\n")).as("text"))
        .select(concat(lit("https://s"), col("site").cast("string"),
          lit(".example.com/robots.txt")).as("url"), col("text"))
      graft.politeness.Robots.sitemapsFromPages(pages)
        .select(col("host"), col("sitemap_pos").cast("long").as("sitemap_pos"),
          col("sitemap_url"))
        .orderBy("host", "sitemap_pos")
    }),

    "q68_link_extract" -> ((s, dir) => {
      // link extraction + resolution under the gate: every doc becomes an
      // HTML page whose anchors are planted by doc_id arithmetic — one
      // absolute href, one single-quoted root-relative, one relative with
      // nested markup (anchor text must come out EMPTY), plus decoys that
      // consume anchor positions without emitting links (mailto on even
      // ids, fragment-only on %5) and a protocol-relative on %3. The
      // engine runs the production regexp + Column resolution over the
      // real HTML; the oracle never parses anything — every (doc_id,
      // link_pos, dst_url, anchor) row is re-derived analytically from
      // the generation arithmetic, so a drift in extraction order,
      // position accounting, decoy discipline or any resolution rule
      // hash-mismatches.
      val pages = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("url", expr(
          """concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/d',
                    CAST(doc_id % 5 AS STRING), '/p', CAST(doc_id AS STRING), '.html')"""))
        .withColumn("html", expr(
          """concat('<html><body><h1>Doc ', CAST(doc_id AS STRING), '</h1>',
               '<a href="https://h', CAST((doc_id * 7 + 1) % 40 AS STRING),
                 '.example.com/x', CAST(doc_id AS STRING), '">abs ',
                 CAST(doc_id AS STRING), '</a>',
               CASE WHEN doc_id % 2 = 0
                    THEN '<a href="mailto:a@b.c">mail me</a>' ELSE '' END,
               '<a href=''/r/', CAST(doc_id % 100 AS STRING), '''>root</a>',
               '<a class="z" href="s', CAST(doc_id % 9 AS STRING),
                 '/leaf.html"><b>bold</b>rel</a>',
               CASE WHEN doc_id % 5 = 0 THEN '<a href="#top">top</a>' ELSE '' END,
               CASE WHEN doc_id % 3 = 0
                    THEN concat('<a href="//cdn', CAST(doc_id % 7 AS STRING),
                                '.example.net/a">cdn</a>') ELSE '' END,
               '</body></html>')"""))
      graft.graph.LinkGraph.links(pages)
        .select(col("doc_id"), col("link_pos"), col("dst_url"), col("anchor"))
        .orderBy("doc_id", "link_pos")
    }),

    "q69_host_pagerank" -> ((s, dir) => {
      // host graph + integer PageRank under the gate: a 45-host graph
      // derived from doc_id arithmetic (40 h-hosts plus 5 pure-sink hosts
      // that exercise the dangling-mass path), built through the
      // production hostEdges (self-edges dropped) and ranked by THREE
      // checkpointed integer power iterations. Every arithmetic step is
      // 64-bit integer (share = rank div outdeg, exact integer sums,
      // dangling mass div N, 17/20 damping in integer div), so the DuckDB
      // oracle replays all three iterations bit-for-bit — any drift in
      // edge dedup, degree counting, dangling handling or the damping
      // arithmetic flips the hash.
      val docs = t(s, dir, "documents").select("doc_id")
      val urlLinks = docs
        .withColumn("url", expr(
          "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
        .withColumn("dst_url", expr(
          "concat('https://h', CAST((doc_id * 7 + 13) % 40 AS STRING), '.example.com/q', CAST(doc_id AS STRING))"))
        .select("url", "dst_url")
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("url", expr(
            "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
          .withColumn("dst_url", expr(
            "concat('https://sink', CAST(doc_id % 5 AS STRING), '.example.org/')"))
          .select("url", "dst_url"))
      val edges = graft.graph.LinkGraph.hostEdges(urlLinks)
      graft.graph.LinkGraph.pageRankInt(edges, iters = 3).orderBy("host")
    }),

    "q70_warc_parse" -> ((s, dir) => {
      // WARC container parsing under the gate: every doc is serialized
      // into a spec-shaped WARC response record (Content-Length from
      // octet_length — BYTES, not chars), records concatenated in doc_id
      // order into one binary blob per warc_id = doc_id % 16, plus the
      // hostile planted file (request record, corrupted length, truncated
      // tail — see warcFixtureBytes). The engine runs the pure-JVM parser
      // over the real bytes; the oracle never parses anything — every
      // (warc_id, rec_pos, url, warc_date, n_bytes, text) row is
      // re-derived analytically from the generation arithmetic, with the
      // planted file's two survivors as literals.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val rec = expr(
        """concat('WARC/1.0', chr(13), chr(10),
             'WARC-Type: response', chr(13), chr(10),
             'WARC-Target-URI: https://h', CAST(doc_id % 50 AS STRING),
               '.example.com/p', CAST(doc_id AS STRING), chr(13), chr(10),
             'WARC-Date: 2026-03-', lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'),
               'T00:00:00Z', chr(13), chr(10),
             'Content-Length: ', CAST(octet_length(text) AS STRING),
               chr(13), chr(10), chr(13), chr(10),
             text, chr(13), chr(10), chr(13), chr(10))""")
      val blobs = docs
        .withColumn("warc_id", col("doc_id") % 16)
        .withColumn("r", rec)
        .groupBy("warc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("r")))),
          x => x.getField("r")), "").as("s"))
        .select(col("warc_id"), col("s").cast("binary").as("data"))
      val planted = {
        import s.implicits._
        Seq((9001L, warcFixtureBytes)).toDF("warc_id", "data")
      }
      graft.sources.Warc.recordsDf(blobs.unionByName(planted))
        .orderBy("warc_id", "rec_pos")
    }),

    "q71_nfc_normalize" -> ((s, dir) => {
      // Unicode NFC normalization under the gate: the native codegen'd
      // expression (java.text.Normalizer, UAX #15) vs DuckDB's
      // utf8proc-backed nfc_normalize — two INDEPENDENT implementations
      // of the same public algorithm, so a hash match is real
      // cross-engine evidence. Planted rows exercise composition
      // (combining acute/ring), Hangul jamo, canonical REORDERING of
      // combining marks, and the NFKC-only decoys (fi ligature, composed
      // é) that must pass through unchanged; the corpus rows pin the
      // ASCII fast path at scale.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = {
        import s.implicits._
        val off = 1L << 41
        Seq(
          (off + 1, "café"),
          (off + 2, "Å ring"),
          (off + 3, "가 jamo"),
          (off + 4, "ﬁ ligature stays"),
          (off + 5, "q̣̇ reorder"),
          (off + 6, "café composed stays")).toDF("doc_id", "text")
      }
      val n = graft.expr.Native.nfcNormalize(col("text"))
      docs.unionByName(planted)
        .select(col("doc_id"), n.as("norm_text"), (n =!= col("text")).as("changed"))
        .orderBy("doc_id")
    }),

    "q72_anchor_stats" -> ((s, dir) => {
      // anchor-text aggregation under the gate: q68's link set grouped by
      // target URL — ref counts, distinct referring hosts, and the
      // '|'-joined anchor list in deterministic (doc_id, link_pos) order
      // with empty anchors filtered and a 256-anchor cap. The oracle
      // re-derives the link set analytically (the q68 arithmetic) and
      // re-aggregates with its own ordered list machinery. maxRefs=20 so
      // the hot-target cap fires at every SF (the cdn targets collect
      // ~24+ refs even at sf0.001).
      val links = queries("q68_link_extract")(s, dir)
        .withColumn("url", expr(
          "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/d', CAST(doc_id % 5 AS STRING), '/p', CAST(doc_id AS STRING), '.html')"))
      graft.graph.LinkGraph.anchorStats(
        links, orderCols = Seq("doc_id", "link_pos"), maxRefs = 20)
        .orderBy("dst_url")
    }),

    "q73_rank_weighted_plan" -> ((s, dir) => {
      // the centrality-weighted planning round under the gate — the
      // composition the new link-graph operators exist FOR: admission
      // gate (blocklist + trap heuristics) → per-host backlog → integer
      // PageRank over the host graph (the q69 edge set) → Hamilton
      // apportionment of a 1000-URL budget weighted by RANK (crawl
      // budget follows centrality, Cho/Garcia-Molina/Page WWW'98) →
      // spend = min(alloc, backlog) (a host cannot spend more than its
      // backlog; the residual under-spend deliberately rolls to the next
      // round rather than re-apportioning in-round). The oracle replays
      // the ENTIRE chain — gate re-parse, backlog, all three integer
      // PageRank iterations, the rank-weighted Hamilton split and the
      // min — so a drift anywhere flips the hash.
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id").as("id"))
      val urls = docs.withColumn("url", expr(
        """concat('https://',
             CASE WHEN id % 17 = 0
                  THEN concat('spam', CAST(id % 3 AS STRING), '.badtld')
                  ELSE concat('h', CAST(id % 40 AS STRING), '.example.com') END,
             '/',
             repeat(concat('d', CAST(id % 5 AS STRING), '/'), CAST(id % 12 AS INT)),
             'page',
             concat('?a=', CAST(id % 10 AS STRING), repeat('&q=1', CAST(id % 8 AS INT))))"""))
      val blocklist = Seq("badtld", "h7.example.com").toDF("suffix")
      val backlog = graft.urls.UrlFilter.verdicts(urls, blocklist)
        .filter(col("verdict") === "ok")
        .groupBy("host").agg(count(lit(1)).as("backlog"))
      val links = t(s, dir, "documents").select("doc_id")
        .withColumn("url", expr(
          "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
        .withColumn("dst_url", expr(
          "concat('https://h', CAST((doc_id * 7 + 13) % 40 AS STRING), '.example.com/q', CAST(doc_id AS STRING))"))
        .select("url", "dst_url")
        .unionByName(t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 13 === 0)
          .withColumn("url", expr(
            "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
          .withColumn("dst_url", expr(
            "concat('https://sink', CAST(doc_id % 5 AS STRING), '.example.org/')"))
          .select("url", "dst_url"))
      val ranks = graft.graph.LinkGraph.pageRankInt(
        graft.graph.LinkGraph.hostEdges(links), iters = 3)
      val weighted = backlog.join(ranks, Seq("host"))
      graft.politeness.HostBudget.apportion(weighted, budget = 1000L, cntCol = "rank")
        .join(backlog, Seq("host"))
        .select(col("host"), col("backlog"), col("rank"), col("alloc"),
          least(col("alloc"), col("backlog")).as("spend"))
        .orderBy("host")
    }),

    "q74_discovery_round" -> ((s, dir) => {
      // the discovery round under the gate — the open-web loop closure:
      // fetched pages (the q68 HTML) → resolved links → per-target ref
      // counts → seen-set anti-join → admission gate → next frontier.
      // The seen set plants both a no-op decoy (every page's own URL —
      // never a link target by construction) and a real filter (the
      // root-relative targets of EVEN doc_ids: since d ≡ host (mod 40)
      // forces d's parity, every /r/ target on an even host is seen and
      // must drop, every odd-host one survives). cdn3.example.net is
      // blocklisted. The oracle replays everything analytically.
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val pages = docs
        .withColumn("url", expr(
          """concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/d',
                    CAST(doc_id % 5 AS STRING), '/p', CAST(doc_id AS STRING), '.html')"""))
        .withColumn("html", expr(
          """concat('<html><body><h1>Doc ', CAST(doc_id AS STRING), '</h1>',
               '<a href="https://h', CAST((doc_id * 7 + 1) % 40 AS STRING),
                 '.example.com/x', CAST(doc_id AS STRING), '">abs ',
                 CAST(doc_id AS STRING), '</a>',
               CASE WHEN doc_id % 2 = 0
                    THEN '<a href="mailto:a@b.c">mail me</a>' ELSE '' END,
               '<a href=''/r/', CAST(doc_id % 100 AS STRING), '''>root</a>',
               '<a class="z" href="s', CAST(doc_id % 9 AS STRING),
                 '/leaf.html"><b>bold</b>rel</a>',
               CASE WHEN doc_id % 5 = 0 THEN '<a href="#top">top</a>' ELSE '' END,
               CASE WHEN doc_id % 3 = 0
                    THEN concat('<a href="//cdn', CAST(doc_id % 7 AS STRING),
                                '.example.net/a">cdn</a>') ELSE '' END,
               '</body></html>')"""))
      val seen = docs.select(expr(
        """concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/d',
                  CAST(doc_id % 5 AS STRING), '/p', CAST(doc_id AS STRING), '.html')""").as("url"))
        .unionByName(docs.filter(col("doc_id") % 2 === 0).select(expr(
          """concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/r/',
                    CAST(doc_id % 100 AS STRING))""").as("url")))
      val blocklist = Seq("cdn3.example.net").toDF("suffix")
      graft.graph.LinkGraph.discoverFrontier(pages, seen, blocklist)
        .orderBy("url")
    }),

    "q75_trustrank" -> ((s, dir) => {
      // TrustRank under the gate: the q69 host graph, teleport mass
      // concentrated on four trusted seeds (h0/h10/h20/h30) — rank flows
      // OUT from vetted hosts; dangling mass returns to the trusted set.
      // Same bit-exact integer discipline as q69, so the DuckDB oracle
      // replays all three iterations including the trusted-conditional
      // teleport term. The sink hosts pin the dangling path; every
      // reached-but-untrusted host's rank is pure inflow.
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id")
      val urlLinks = docs
        .withColumn("url", expr(
          "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
        .withColumn("dst_url", expr(
          "concat('https://h', CAST((doc_id * 7 + 13) % 40 AS STRING), '.example.com/q', CAST(doc_id AS STRING))"))
        .select("url", "dst_url")
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("url", expr(
            "concat('https://h', CAST(doc_id % 40 AS STRING), '.example.com/p', CAST(doc_id AS STRING))"))
          .withColumn("dst_url", expr(
            "concat('https://sink', CAST(doc_id % 5 AS STRING), '.example.org/')"))
          .select("url", "dst_url"))
      val trusted = Seq("h0.example.com", "h10.example.com",
        "h20.example.com", "h30.example.com").toDF("host")
      graft.graph.LinkGraph.trustRankInt(
        graft.graph.LinkGraph.hostEdges(urlLinks), trusted, iters = 3)
        .orderBy("host")
    }),

    "q77_redirect_resolve" -> ((s, dir) => {
      // redirect-chain resolution under the gate: each doc plants a chain
      // of length doc_id % 4 (p{id}_0 → … → p{id}_L terminal) plus one
      // 2-cycle; the pointer-jumping resolver must map every element to
      // its terminal with the EXACT hop count, and flag the cycle rows as
      // looped with hops clamped to maxHops=8. The oracle re-derives
      // every row analytically (final = position arithmetic) — it never
      // simulates the joins; the cycle rows are literals.
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id")
      val chain = docs
        .select(col("doc_id"),
          explode(sequence(lit(0), (col("doc_id") % 4).cast("int"))).as("k"))
        .select(
          expr("concat('https://r.example.com/p', CAST(doc_id AS STRING), '_', CAST(k AS STRING))")
            .as("url"),
          expr("""CASE WHEN k < CAST(doc_id % 4 AS INT)
                       THEN concat('https://r.example.com/p', CAST(doc_id AS STRING),
                                   '_', CAST(k + 1 AS STRING)) END""").as("redirect_to"))
      val planted = Seq(
        ("https://r.example.com/loopA", "https://r.example.com/loopB"),
        ("https://r.example.com/loopB", "https://r.example.com/loopA"))
        .toDF("url", "redirect_to")
      graft.urls.Redirects.resolve(chain.unionByName(planted), maxHops = 8)
        .orderBy("url")
    }),

    "q78_sitemap_index" -> ((s, dir) => {
      // sitemap INDEX ingestion under the gate — the missing hop of the
      // robots → index → sitemap → frontier chain (any site past the
      // protocol's 50k-URL file cap ships an index): one index per site
      // (doc_id % 10), every doc a <sitemap> entry, every 4th omitting
      // <lastmod>. The oracle re-derives every (site, pos, loc,
      // lastmod_epoch) row analytically (q61's move); lastmod is
      // projected to epoch seconds for tz-representation-free compare
      // (the q62 floor(epoch) precedent).
      val docs = t(s, dir, "documents").select("doc_id")
      val entry = expr(
        """concat('<sitemap><loc>https://s', CAST(doc_id % 10 AS STRING),
                  '.example.com/sm', CAST(doc_id AS STRING), '.xml</loc>',
             CASE WHEN doc_id % 4 = 0 THEN ''
                  ELSE concat('<lastmod>2026-05-',
                              lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'), 'T',
                              lpad(CAST(doc_id % 24 AS STRING), 2, '0'),
                              ':00:00</lastmod>') END,
             '</sitemap>')""")
      val idx = docs
        .withColumn("site", col("doc_id") % 10)
        .withColumn("e", entry)
        .groupBy("site")
        .agg(concat(lit("<sitemapindex>"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("e")))),
            x => x.getField("e")), ""),
          lit("</sitemapindex>")).as("xml"))
      graft.plan.Sitemaps.parseIndex(idx, keep = Seq("site"))
        .select(col("site"), col("sitemap_pos").cast("long").as("sitemap_pos"),
          col("loc"), unix_timestamp(col("lastmod")).as("lastmod_epoch"))
        .orderBy("site", "sitemap_pos")
    }),

    "q65_budget_select" -> ((s, dir) => {
      // token-budget data selection under the gate: every doc scored by a
      // deterministic md5-derived quality stand-in (4 hex chars / 65535 —
      // coarse ON PURPOSE, so real score ties exist and the (score desc,
      // id asc) tie-break is exercised cross-engine), ranked, and kept
      // while the 20k-token budget lasts. The engine's histogram-prefix +
      // per-tie-group cumsum must equal the oracle's plain ordered window
      // cumsum — the single-partition shape the engine refuses.
      val docs = t(s, dir, "documents").select(
        col("doc_id").as("id"),
        graft.functions.TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
        (expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS LONG)")
          / 65535.0d).as("score"))
      graft.pipeline.Budget.selectUnderTokenBudget(docs, budget = 20000L)
        .select("id", "n_tokens", "score", "start_tok", "kept")
        .orderBy("id")
    }),

    "q66_mixture_plan" -> ((s, dir) => {
      // mixture epoch planning under the gate: the measured per-source
      // token inventory vs a 6-source target mixture (exact binary
      // fractions, so weight normalization is order-independent IEEE
      // arithmetic in any engine) at a 100k-token budget; epochs,
      // sampling rates and the planned=false rows for the 14 unlisted
      // sources all recomputed by the oracle from scratch.
      val docs = t(s, dir, "documents").select(
        col("source"),
        graft.functions.TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.pipeline.Mixture.plan(docs, mixtureWeights.toMap, budget = 100000L)
        .orderBy("source")
    }),

    "q56_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights under the gate: hashed unigram+bigram
      // features (md5 60-bit buckets, B=4096), target model trained on the
      // doc_id % 7 == 0 slice, raw model on the full scored corpus — the
      // published recipe's default. Planted probes: an empty doc (0 feats
      // ⇒ logw 0.0 by contract), an all-OOV doc (negative weight — its
      // features exist only in the raw model, via itself) and a mixed
      // seen/OOV doc. The DuckDB oracle retrains BOTH models and
      // recomputes every weight from scratch — buckets, counts, totals,
      // logs; nothing is golden.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = {
        import s.implicits._
        dsirFixture.toDF("doc_id", "text")
      }
      // ONE scratch dir keyed by the query (the q40/q55 precedent)
      val dsirDir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-dsir-model-q56").toString
      graft.pipeline.Dsir.importanceWeights(
        docs.unionByName(planted),
        docs.filter(col("doc_id") % 7 === 0),
        buckets = 4096,
        workDir = Some(dsirDir))
        .orderBy("id")
    }),

    "q57_quality_score" -> ((s, dir) => {
      // fastText-shaped quality scoring under the gate: the hashed-feature
      // linear APPLY path (the part that runs at corpus scale) over the
      // deterministic md5-derived stand-in model, so the oracle can
      // regenerate the model AND rescore every doc from scratch. Planted
      // probes: an empty doc (0 feats ⇒ score sigmoid(bias) = 0.5, keep
      // true at the ≥ boundary) and a repeated-feature doc (multiplicity
      // must count).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = {
        import s.implicits._
        qcFixture.toDF("doc_id", "text")
      }
      graft.pipeline.QualityClassifier.scoreWith(
        docs.unionByName(planted),
        graft.pipeline.QualityClassifier.hashModel(s, 4096),
        buckets = 4096)
        .orderBy("id")
    }),

    "q52_stratified_sample" -> ((s, dir) => {
      // deterministic mixture sampling under the gate: the documents table
      // downsampled per language at the shared sampleWeights (zh absent →
      // allowlist-dropped), membership a pure function of
      // md5(doc_id ":" salt) — the oracle recomputes the 60-bit hex key,
      // the mod-denom reduction and the per-stratum threshold in DuckDB,
      // so ANY drift in the membership function empties/flips rows and
      // hash-mismatches
      graft.pipeline.Sampler.stratifiedSample(
        t(s, dir, "documents").select("doc_id", "lang"),
        sampleWeights.toMap)
        .orderBy("doc_id")
    }),

    "q51_line_dedup" -> ((s, dir) => {
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
    }),

    "q50_html_extract" -> ((s, dir) => {
      // the HTML→text extraction cascade under the gate — the operator
      // that PRODUCES the pages table's text column from its html. Every
      // document's text is wrapped in a deterministic HTML template
      // (script with a '<' and a decoy '</p>' inside a string, style
      // block, comment, entities, list markup) so the cascade runs over
      // 5000 arbitrary payloads, plus planted raw-HTML fixtures for the
      // tricky grammar cases (tag-in-script-string, prose '<' runs,
      // double-encoded entities). The DuckDB oracle regenerates the WHOLE
      // cascade — strip patterns, entity decodes in order, whitespace
      // normalization, edge trim — from the same pattern data and re-runs
      // it in RE2; any Java/RE2 semantic drift in any pattern
      // hash-mismatches.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val html = concat(
        lit(htmlTplA), col("doc_id").cast("string"),
        lit(htmlTplB), col("text"), lit(htmlTplC))
      val planted = {
        import s.implicits._
        htmlFixture.toDF("doc_id", "html")
      }
      graft.util.PlanSize.spread(docs.select(col("doc_id"), html.as("html"))
        .unionByName(planted))
        .select(col("doc_id"),
          graft.functions.TextFns.htmlToText(col("html")).as("txt"))
        .orderBy("doc_id")
    }),

    "q49_clean_repetitive" -> ((s, dir) => {
      // the composed cleanup chain WITH the Gopher repetition rung under
      // the gate: Corpus.clean at the published thresholds (dup-line 0.30,
      // top-bigram 0.20) over documents ∪ three planted docs crafted to
      // exercise the new rung specifically — two ENGLISH-passing docs that
      // fail ONLY repetition (one by duplicated lines, one by a dominant
      // bigram) and one repetitive-AND-foreign doc that must keep the
      // earlier `wrong_lang` reason (precedence). The DuckDB oracle
      // recomputes the ENTIRE extended chain — tokens, language argmax,
      // quality bands, both repetition signals, the new CASE rung, and the
      // dup window whose ordering now also sorts repetitive docs as
      // failing.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = {
        import s.implicits._
        repCleanFixture.toDF("doc_id", "text")
      }
      graft.pipeline.Corpus.clean(
        docs.unionByName(planted),
        repetition = Some(graft.pipeline.Corpus.RepetitionBounds()))
        .orderBy("id")
    }),

    "q48_doc_repetition" -> ((s, dir) => {
      // Gopher-style repetition/format signals (Rae et al. 2021 §A1.1)
      // under the gate: dup-line fractions, bullet/ellipsis line
      // fractions, symbol-word ratio, and top-bigram character coverage,
      // each recomputed independently by the DuckDB oracle (unnest-based
      // SQL, no shared code) over documents ∪ planted repetition-dense
      // fixtures. Real docs are mostly single-line — their near-zero
      // signals are the false-positive half of the gate, and their
      // all-count-1 bigram argmaxes pin the cross-engine string-order
      // tie-break. Tokens and lines cross ONE projection boundary: every
      // signal references them from lambda bodies (SPARK-35410).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = {
        import s.implicits._
        repFixture.toDF("doc_id", "text")
      }
      graft.util.PlanSize.spread(docs.unionByName(planted))
        .select(col("doc_id"), col("text"),
          graft.functions.TextFns.tokens(col("text")).as("__tk"),
          split(col("text"), "\n").as("__ln"))
        .select(col("doc_id"),
          graft.functions.TextFns.repetitionSignals(
            col("text"), col("__tk"), col("__ln")).as("r"))
        .select(col("doc_id"), col("r.*"))
        .orderBy("doc_id")
    }),

    "q44_ppm_decode" -> ((s, dir) => {
      // the REAL image-decode path under the gate: valid binary-P6 bytes
      // (8×6 RGB, pixel byte i = (doc_id·7 + i·13) mod 256) are built per
      // doc, parsed by the actual Netpbm decoder (header grammar, raster
      // extraction), and the TRUE pixel geometry + Rec.601 luma come back.
      // The DuckDB oracle recomputes the luma analytically from the
      // generation formula — so a decoder that misparsed the header,
      // misaligned the raster, or mixed up the channel weights would
      // hash-mismatch. (Codec formats stay stubbed and honestly labeled;
      // this gates the decode path the bare JVM CAN run for real.)
      val ids = t(s, dir, "documents").select("doc_id")
      graft.multimodal.Multimodal.decodeImageFeatures(
        graft.multimodal.Multimodal.syntheticPpm(ids))
        .toDF()
        .withColumn("mean_luma", round(col("mean_luma"), 4))
        .orderBy("media_id")
    }),

    "q33_region_revenue" -> ((s, dir) => {
      // multi-way join (TPC-H Q5 shape): fact × supplier × 2 broadcast dims
      // with a selective region filter — the dims are broadcast explicitly
      // (plan-asserted in PlanSpec) so the fact side shuffles only for the
      // supplier equi-join + final aggregate
      t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    "q32_setops" -> ((s, dir) => {
      // union / intersect / except surface (absent in the reference,
      // SURVEY §2 "Absent" row — engine completeness)
      val bigSpenders = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey"))
      val machinery = t(s, dir, "customer").filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey").as("custkey"))
      val u = bigSpenders.union(machinery).distinct().withColumn("op", lit("union"))
      val i = bigSpenders.intersect(machinery).withColumn("op", lit("intersect"))
      val e = bigSpenders.distinct().except(machinery).withColumn("op", lit("except"))
      u.unionAll(i).unionAll(e)
        .groupBy("op").agg(count(lit(1)).as("n"), sum("custkey").as("key_sum"))
        .orderBy("op")
    }),

    "q31_crawl_order" -> ((s, _) => {
      // end-to-end scheduling-order parity under the DuckDB gate: a 3-round
      // crawl (18 seeds, budget 8/host/round) must consume seeds in
      // seq order in windows of 8 — round(seq) = floor(seq/8)+1
      val currs = Frontier.currencyDim(s, Seq("GBP", "USD", "EUR"))
      val seeds = Frontier.candidates(currs, TestDate, 3)
      val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
      val pages = Synth.mcPages(seeds)
      val robots = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-order").toString
      val (_, seen, _) = CrawlJob.run(s, frontier, pages, robots, ckpt,
        PolitenessConfig(maxPerHost = 8), roundSec = 1.0)
      val urlSeq = CrawlJob.expandSeeds(seeds, "Mastercard")
        .select(col("canonUrl").as("url"), col("seq"))
      // the round number rides on every seen row as data (survives delta
      // compaction), so the schedule order reads straight off the table
      seen.join(urlSeq, Seq("url"))
        .select(col("seq"), col("round"))
        .orderBy("seq")
    }))

  // ----------------------------------------------------------- oracles

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",

    "q02_top_customers" ->
      """SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 10""",

    "q03_brand_part_agg" ->
      """SELECT p_brand, p_type,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand = 'Brand#12' GROUP BY p_brand, p_type ORDER BY p_type""",

    "q04_customers_with_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         ORDER BY c_custkey""",

    "q05_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""",

    "q06_running_value" ->
      """SELECT event_id, user_id,
         round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
           AS running_value
         FROM events ORDER BY user_id, event_id""",

    "q07_rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_extendedprice), 2) AS revenue, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q08_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, value,
                  CASE WHEN lag(ts) OVER w IS NULL THEN 1
                       WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
                       ELSE 0 END AS gap,
                  ts, event_id
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, value,
                  CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
                round(sum(value), 4) AS session_value
         FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id""",

    "q09_hourly_events" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n, round(sum(value), 4) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",

    "q10_missing_antijoin" -> s"""
         WITH currs(c) AS (VALUES ('GBP'), ('USD')),
         rates(card_code, trans_code, "date", provider_id, rate) AS (VALUES $ratesFixtureSql),
         dates AS (SELECT (DATE '1995-09-10' - CAST(x AS INTEGER)) AS d FROM range(8) t(x)),
         cands AS (SELECT a.c AS card_c, b.c AS trans_c, d.d AS "date"
                   FROM currs a CROSS JOIN currs b CROSS JOIN dates d WHERE a.c <> b.c)
         SELECT card_c, trans_c, "date" FROM cands
         WHERE NOT EXISTS (SELECT 1 FROM rates r
                           WHERE r.provider_id = 1 AND r.card_code = cands.card_c
                             AND r.trans_code = cands.trans_c AND r."date" = cands."date")
         ORDER BY card_c, trans_c, "date"""",

    "q11_url_mc" -> goldenUrlOracle(mc = true),
    "q12_url_visa" -> goldenUrlOracle(mc = false),

    "q13_shard_roundrobin" -> s"""
         WITH m(card_c, trans_c, "date", seq) AS (VALUES ${goldenMissingWithSeqSql()})
         SELECT card_c, trans_c, "date",
                CAST((row_number() OVER (ORDER BY seq) - 1) % 3 AS INTEGER) AS shard
         FROM m ORDER BY card_c, trans_c, "date"""",

    "q14_frontier_csv_dialect" -> s"""
         WITH m(card_c, trans_c, "date", seq) AS (VALUES ${goldenMissingWithSeqSql()})
         SELECT card_c, trans_c, strftime("date", '%d/%m/%Y') AS std_date
         FROM m ORDER BY card_c, trans_c, std_date""",

    "q15_date_cutoff" ->
      // oracle uses the fixed EDT offset (UTC-4) valid for all fixture
      // instants (Sept 1995), avoiding DuckDB's ICU-extension dependency;
      // the Spark side uses the real America/New_York zone rules
      """WITH ts(ts_text) AS (VALUES ('1995-09-10 17:59:00'), ('1995-09-10 18:00:00'),
                                     ('1995-09-10 03:00:00'), ('1995-09-11 02:00:00')),
         et AS (SELECT ts_text, CAST(ts_text AS TIMESTAMP) - INTERVAL 4 HOUR AS et_ts FROM ts)
         SELECT ts_text,
           CASE WHEN hour(et_ts) < 14 THEN CAST(et_ts AS DATE) - 1
                ELSE CAST(et_ts AS DATE) END AS crawl_date
         FROM et ORDER BY ts_text""",

    "q16_doc_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""",

    "q17_doc_token_stats" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens, n_chars
         FROM documents ORDER BY doc_id""",

    "q18_doc_quality" ->
      """SELECT doc_id,
         round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_word_len,
         round(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
               / length(text), 4) AS space_ratio
         FROM documents ORDER BY doc_id""",

    "q19_embedding_norms" ->
      """SELECT vec_id,
         round(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
         label
         FROM embeddings ORDER BY vec_id""",

    "q20_lang_distribution" ->
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang""",

    "q21_token_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS tk
                       FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
         FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1 ORDER BY id_a""",

    "q22_ann_brute_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id < 3),
         scored AS (SELECT query_id, vec_id,
                           round(list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])), 6) AS cosine
                    FROM embeddings CROSS JOIN q)
         SELECT query_id, vec_id, cosine, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, vec_id) AS INT) AS rank
           FROM scored)
         WHERE rank <= 5 ORDER BY query_id, rank""",

    "q23_doc_text_stats" -> {
      val stopList = graft.functions.TextFns.LangProfiles.head._2.map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
          round(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                x -> list_contains([$stopList], x))) AS DOUBLE)
                / len(string_split_regex(trim(text), '\\s+')), 4) AS en_stop_ratio,
          CAST(len(regexp_extract_all(text, '[\\p{L}]+|[0-9]+|[^\\p{L}0-9\\s]', 0)) AS INT) AS n_subwords
          FROM documents ORDER BY doc_id"""
    },

    "q24_embedding_neardup" ->
      """SELECT id_a, id_b, cosine FROM (VALUES
           (0, 1099511627776, 1.0), (1, 1099511627777, 1.0), (2, 1099511627778, 1.0),
           (3, 1099511627779, 1.0), (4, 1099511627780, 1.0))
         t(id_a, id_b, cosine) ORDER BY id_a""",

    "q25_ann_lsh_self_recall" ->
      """SELECT query_id, vec_id, cosine FROM (VALUES
           (0, 0, 1.0), (1, 1, 1.0), (2, 2, 1.0))
         t(query_id, vec_id, cosine) ORDER BY query_id""",

    // q26: the DuckDB oracle re-derives the stopword-ratio scores and the
    // argmax (ties → first profile, all-zero → 'und') from the same public
    // stopword lists — GENERATED from the 12-profile wide model the query
    // runs, so query and oracle can never disagree on the profile data
    "q26_doc_langid" -> {
      val profiles = graft.functions.TextFns.LangProfilesWide
      val langs = profiles.map(_._1)
      val scores = profiles.map { case (lang, words) =>
        val list = words.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(tk, x -> list_contains([$list], x))) AS DOUBLE) / greatest(len(tk), 1) AS s_$lang"
      }.mkString(", ")
      val allZero = langs.map(l => s"s_$l <= 0").mkString(" AND ")
      val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
        s"WHEN ${langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")} THEN '$l'"
      }.mkString(" ")
      s"""WITH toks AS (SELECT doc_id, lang,
            string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
          scored AS (SELECT doc_id, lang, $scores FROM toks)
          SELECT doc_id,
                 CASE WHEN $allZero THEN 'und' $caseChain
                      ELSE '${langs.last}' END AS pred_lang,
                 lang
          FROM scored ORDER BY doc_id"""
    },

    // q38: the oracle recomputes the full composed-cleanup verdict chain —
    // filtered whitespace tokens, stopword-ratio language argmax (same CASE
    // chain as q26, here over the filtered lowered tokens langScores
    // actually uses), the four ROUNDED quality band checks, and the md5
    // dedup window ranking passing docs first then min id
    "q38_clean_corpus" -> {
      val off = 1L << 40
      s"""WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT ${off + 1} AS doc_id, text FROM documents WHERE doc_id = 0
            UNION ALL SELECT ${off + 2} AS doc_id, text FROM documents WHERE doc_id = 0
            UNION ALL SELECT ${off + 3} AS doc_id, 'zq1 zq2' AS text),
          $cleanChainCtes
          SELECT doc_id AS id, n_tokens, pred_lang, quality,
                 COALESCE(reason0, CASE WHEN rn > 1 THEN 'duplicate' END, 'kept') AS reason,
                 COALESCE(reason0, CASE WHEN rn > 1 THEN 'duplicate' END, 'kept') = 'kept' AS keep
          FROM ranked ORDER BY id"""
    },

    // q76: the committed verdict-chain CTEs reused VERBATIM over
    // nfc_normalize'd source text — utf8proc's independent normalization
    // feeding DuckDB's independent chain recomputation; the decomposed
    // twin must hash-collide with the composed one and read 'duplicate'
    "q76_clean_nfc" -> {
      val off = 1L << 42
      s"""WITH all_docs AS (
            SELECT doc_id, nfc_normalize(text) AS text FROM (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT ${off + 1} AS doc_id, '$nfcTwinBase' || ' caf' || chr(233) AS text
              UNION ALL SELECT ${off + 2} AS doc_id, '$nfcTwinBase' || ' cafe' || chr(769) AS text)),
          $cleanChainCtes
          SELECT doc_id AS id, n_tokens, pred_lang, quality,
                 COALESCE(reason0, CASE WHEN rn > 1 THEN 'duplicate' END, 'kept') AS reason,
                 COALESCE(reason0, CASE WHEN rn > 1 THEN 'duplicate' END, 'kept') = 'kept' AS keep
          FROM ranked ORDER BY id"""
    },

    // q39: the q38 chain EXTENDED by the near-dup stage — the oracle
    // recomputes every verdict ingredient (tokens, language argmax, quality
    // bands, exact-dup window) over the corpus + the two planted non-
    // identical near-dup copies, then applies the survivor rank (kept
    // first, then min id) WITHIN the golden cluster memberships. Only
    // membership is pinned (certain by construction — see the query
    // comment); which member survives and every other column are derived
    // cross-engine.
    "q39_clean_neardup" -> {
      val off = 1L << 40
      s"""WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT ${off + 1} AS doc_id,
              array_to_string(list_reverse(list_filter(
                regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')), ' ') AS text
              FROM documents WHERE doc_id = 1
            UNION ALL SELECT ${off + 2} AS doc_id, upper(text) AS text
              FROM documents WHERE doc_id = 0),
          $cleanChainCtes
          , pre AS (SELECT doc_id, n_tokens, pred_lang, quality,
              COALESCE(reason0, CASE WHEN rn > 1 THEN 'duplicate' END, 'kept') AS reason
            FROM ranked),
          m(mid, cid) AS (VALUES
            (CAST(0 AS BIGINT), CAST(0 AS BIGINT)), (${off + 2}, 0),
            (1, 1), (${off + 1}, 1)),
          rk AS (SELECT p.*, m.cid,
              row_number() OVER (PARTITION BY m.cid
                ORDER BY (p.reason <> 'kept'), p.doc_id) AS crn
            FROM pre p JOIN m ON p.doc_id = m.mid)
          SELECT doc_id AS id, n_tokens, pred_lang, quality, cid AS cluster_id,
            CASE WHEN reason = 'kept' AND crn > 1 THEN 'near_duplicate' ELSE reason END AS reason,
            (CASE WHEN reason = 'kept' AND crn > 1 THEN 'near_duplicate' ELSE reason END) = 'kept' AS keep
          FROM rk ORDER BY id"""
    },

    "q40_ann_ivf_persisted" ->
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
         WHERE rank <= 5 ORDER BY query_id, rank""",

    "q42_fingerprint_pairs" -> {
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
    },

    "q46_fingerprint_pairs_poly" -> {
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
    },

    "q43_dedup_substring_closure" ->
      // golden crafted-corpus closure: uppercase copy roots at 0 (minhash-
      // only), substring-embedded copy roots at 1 (fingerprint-only),
      // disjoint-vocabulary docs 2/3 stay singletons; off = 2^40
      """SELECT id, cluster_id, keep FROM (VALUES
           (CAST(0 AS BIGINT), CAST(0 AS BIGINT), true), (1, 1, true),
           (2, 2, true), (3, 3, true),
           (1099511627777, 0, false), (1099511627778, 1, false))
         t(id, cluster_id, keep) ORDER BY id""",

    "q47_pii_redact" -> {
      // the redaction cascade regenerated from the SAME pattern data the
      // query uses (the q26 technique) — RE2 'g' replace per pattern, in
      // order, over documents ∪ the shared planted PII fixture
      val plantedSql = piiFixture
        .map { case (id, t) => s"(CAST($id AS BIGINT), '${t.replace("'", "''")}')" }
        .mkString(", ")
      val cascade = graft.functions.TextFns.RedactionPatterns.foldLeft("text") {
        case (inner, (pat, repl)) =>
          s"regexp_replace($inner, '${pat.replace("'", "''")}', '$repl', 'g')"
      }
      s"""WITH all_docs(doc_id, text) AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT * FROM (VALUES $plantedSql) p(doc_id, text))
          SELECT doc_id, $cascade AS red FROM all_docs ORDER BY doc_id"""
    },

    // q54: the packing map re-derived with the oracle's luxury — ONE
    // ordered window cumsum over the whole corpus (the engine's
    // distributed prefix sum must agree with it exactly), then integral
    // division into packs; empty docs span greatest(n,1)-1 = 0 extra
    // tokens and report their boundary pack twice
    "q54_pack_offsets" ->
      s"""WITH tk AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n
            FROM documents),
          c AS (
            SELECT doc_id, n,
                   COALESCE(sum(n + 1) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
            FROM tk)
          SELECT doc_id AS id, n AS n_tokens, CAST(start AS BIGINT) AS start_tok,
                 CAST(start // 512 AS BIGINT) AS pack_first,
                 CAST((start + greatest(n, 1) - 1) // 512 AS BIGINT) AS pack_last
          FROM c ORDER BY id""",

    // q53: both 8-gram sets (lowercased whitespace tokens, space-joined)
    // and the overlap semi-join re-derived in DuckDB with the zip-unnest
    // machinery; docs shorter than 8 tokens emit no grams on either side
    "q53_decontaminate" -> {
      val n = 8
      val gramExpr = (0 until n).map(k => s"tk[j + $k]").mkString(" || ' ' || ")
      s"""WITH btk AS (
            SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
            FROM documents WHERE doc_id % 97 = 0),
          bg AS (
            SELECT DISTINCT $gramExpr AS g
            FROM (SELECT tk, unnest(generate_series(1, len(tk) - ${n - 1})) AS j FROM btk)),
          dtk AS (
            SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
            FROM documents),
          dg AS (
            SELECT DISTINCT doc_id, $gramExpr AS g
            FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - ${n - 1})) AS j FROM dtk)),
          hit AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (g))
          SELECT d.doc_id AS id, (h.doc_id IS NOT NULL) AS contaminated
          FROM documents d LEFT JOIN hit h USING (doc_id)
          ORDER BY id"""
    },

    // q52: membership recomputed from scratch — the 60-bit key is the
    // first 15 hex chars of md5(doc_id ':' salt) parsed as hex (15 digits
    // fit SIGNED 64-bit in both engines, no sign-wrap dance), reduced
    // mod 10000 and compared to round(weight*10000) from the same shared
    // weights data
    // q55: the oracle retrains the whole bigram model (BOS-prepended
    // pairs, counts, prefix sums, vocab size) over the same reference
    // slice and rescores every doc with the same add-one formula —
    // identical integer-ratio ln arguments in both engines, so round(4)
    // sits 10 orders of magnitude above any libm/summation-order ulp
    "q55_lm_xent" -> {
      val plantedSql = lmFixture
        .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }.mkString(", ")
      s"""WITH rtk AS (
            SELECT list_prepend('', list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tk
            FROM documents WHERE doc_id % 7 = 0),
          bi AS (
            SELECT tk[j] AS p, tk[j + 1] AS w, count(*) AS c2
            FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS j FROM rtk)
            GROUP BY 1, 2),
          cpt AS (SELECT p, sum(c2) AS cpn FROM bi GROUP BY 1),
          vv AS (SELECT count(DISTINCT w) AS v FROM bi),
          alld(doc_id, text) AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT * FROM (VALUES $plantedSql) pl(doc_id, text)),
          dtk AS (
            SELECT doc_id, list_prepend('', list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tk
            FROM alld),
          dp AS (
            SELECT doc_id, tk[j] AS p, tk[j + 1] AS w
            FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS j FROM dtk)),
          sc AS (
            SELECT dp.doc_id,
                   ln((COALESCE(bi.c2, 0) + 1)::DOUBLE / (COALESCE(cpt.cpn, 0) + vv.v)) AS lp
            FROM dp LEFT JOIN bi USING (p, w) LEFT JOIN cpt USING (p) CROSS JOIN vv),
          ag AS (
            SELECT doc_id, count(*) AS n_tokens, round(-sum(lp) / count(*), 4) AS xent
            FROM sc GROUP BY 1)
          SELECT d.doc_id AS id, CAST(COALESCE(ag.n_tokens, 0) AS BIGINT) AS n_tokens,
                 COALESCE(ag.xent, 0.0) AS xent
          FROM alld d LEFT JOIN ag USING (doc_id) ORDER BY id"""
    },

    // q58: the oracle recounts the corpus word-frequency table with the
    // same tokenizer SQL the q17/q55 gates pin and re-derives the same
    // total-ordered top-V cut
    "q58_bpe_word_counts" ->
      s"""SELECT f AS word, count(*) AS freq FROM (
            SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS f
            FROM documents) q0
          GROUP BY 1
          ORDER BY freq DESC, word LIMIT 25""",

    // q59: the oracle retrains the whole q55 bigram LM, rescores every doc
    // (same CTE chain, lang carried through), then re-derives the per-
    // language head/middle/tail buckets from the strictly-smaller-score
    // histogram prefix and integer division — nothing is golden
    "q59_ccnet_buckets" -> {
      val plantedSql = ccnetFixture
        .map { case (id, t, l) => s"(CAST($id AS BIGINT), '$t', '$l')" }.mkString(", ")
      s"""WITH rtk AS (
            SELECT list_prepend('', list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tk
            FROM documents WHERE doc_id % 7 = 0),
          bi AS (
            SELECT tk[j] AS p, tk[j + 1] AS w, count(*) AS c2
            FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS j FROM rtk)
            GROUP BY 1, 2),
          cpt AS (SELECT p, sum(c2) AS cpn FROM bi GROUP BY 1),
          vv AS (SELECT count(DISTINCT w) AS v FROM bi),
          alld(doc_id, text, lang) AS (
            SELECT doc_id, text, lang FROM documents
            UNION ALL SELECT * FROM (VALUES $plantedSql) pl(doc_id, text, lang)),
          dtk AS (
            SELECT doc_id, list_prepend('', list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tk
            FROM alld),
          dp AS (
            SELECT doc_id, tk[j] AS p, tk[j + 1] AS w
            FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS j FROM dtk)),
          lsc AS (
            SELECT dp.doc_id,
                   ln((COALESCE(bi.c2, 0) + 1)::DOUBLE / (COALESCE(cpt.cpn, 0) + vv.v)) AS lp
            FROM dp LEFT JOIN bi USING (p, w) LEFT JOIN cpt USING (p) CROSS JOIN vv),
          ag AS (
            SELECT doc_id, count(*) AS n_tokens, round(-sum(lp) / count(*), 4) AS xent
            FROM lsc GROUP BY 1),
          scored AS (
            SELECT a.doc_id AS id, a.lang,
                   CAST(COALESCE(ag.n_tokens, 0) AS BIGINT) AS n_tokens,
                   COALESCE(ag.xent, 0.0) AS xent
            FROM alld a LEFT JOIN ag USING (doc_id)),
          hist AS (SELECT lang, xent, count(*) AS c FROM scored GROUP BY 1, 2),
          pre AS (
            SELECT lang, xent, COALESCE(sum(c) OVER (
                   PARTITION BY lang ORDER BY xent
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r
            FROM hist),
          tot AS (SELECT lang, count(*) AS n FROM scored GROUP BY 1)
          SELECT s.id, s.lang, s.n_tokens, s.xent,
                 CAST((3 * p.r) // t.n AS BIGINT) AS bucket,
                 CASE WHEN (3 * p.r) // t.n = 0 THEN 'head'
                      WHEN (3 * p.r) // t.n = 2 THEN 'tail'
                      ELSE 'middle' END AS bucket_label
          FROM scored s
          JOIN pre p ON s.lang = p.lang AND s.xent = p.xent
          JOIN tot t ON s.lang = t.lang
          ORDER BY s.id"""
    },

    // q67: every (host, position, url) row re-derived analytically from
    // the generation arithmetic — commented lines excluded, positions
    // re-counted among surviving lines in doc order; the engine's regexp
    // parse of the real text must land on exactly this set
    "q67_robots_sitemaps" ->
      """WITH e AS (
           SELECT 's' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
                  row_number() OVER (PARTITION BY doc_id % 20 ORDER BY doc_id) - 1 AS sitemap_pos,
                  'https://s' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/sm'
                    || CAST(doc_id AS VARCHAR) || '.xml' AS sitemap_url
           FROM documents WHERE doc_id % 3 <> 0)
         SELECT host, CAST(sitemap_pos AS BIGINT) AS sitemap_pos, sitemap_url
         FROM e ORDER BY host, sitemap_pos""",

    // q68: the oracle never parses HTML — every (doc_id, link_pos,
    // dst_url, anchor) row is re-derived analytically from the planting
    // arithmetic, including the POSITIONS the non-emitting decoys consume
    // (mailto on even ids shifts everything after it; the fragment-only
    // anchor on %5 shifts the protocol-relative one) and the resolution
    // of root-relative/relative/protocol-relative hrefs against the base
    "q68_link_extract" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS m2,
                  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS m5
           FROM documents),
         l AS (
           SELECT doc_id, 0 AS link_pos,
                  'https://h' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR)
                    || '.example.com/x' || CAST(doc_id AS VARCHAR) AS dst_url,
                  'abs ' || CAST(doc_id AS VARCHAR) AS anchor
           FROM d
           UNION ALL
           SELECT doc_id, 1 + m2,
                  'https://h' || CAST(doc_id % 40 AS VARCHAR)
                    || '.example.com/r/' || CAST(doc_id % 100 AS VARCHAR),
                  'root'
           FROM d
           UNION ALL
           SELECT doc_id, 2 + m2,
                  'https://h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/d'
                    || CAST(doc_id % 5 AS VARCHAR) || '/s' || CAST(doc_id % 9 AS VARCHAR)
                    || '/leaf.html',
                  ''
           FROM d
           UNION ALL
           SELECT doc_id, 3 + m2 + m5,
                  'https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net/a',
                  'cdn'
           FROM d WHERE doc_id % 3 = 0)
         SELECT doc_id, CAST(link_pos AS BIGINT) AS link_pos, dst_url, anchor
         FROM l ORDER BY doc_id, link_pos""",

    // q69: the THREE integer power iterations replayed bit-for-bit —
    // edge distinct, self-edge drop, out-degrees, per-source integer
    // share (rank // deg), exact integer inflow sums, dangling mass
    // (// N), and the 17/20 damping in integer division. Integer sums
    // are order-independent, so any value drift is a REAL semantic drift.
    "q69_host_pagerank" ->
      """WITH raw AS (
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS src,
                  'h' || CAST((doc_id * 7 + 13) % 40 AS VARCHAR) || '.example.com' AS dst
           FROM documents
           UNION ALL
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com',
                  'sink' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
           FROM documents WHERE doc_id % 13 = 0),
         e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         nodes AS (SELECT DISTINCT h FROM
                    (SELECT src AS h FROM e UNION ALL SELECT dst AS h FROM e) t),
         k AS (SELECT count(*) AS n,
                      1000000000000 // count(*) AS init,
                      (3 * (1000000000000 // count(*))) // 20 AS base
               FROM nodes),
         od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT h AS host, (SELECT init FROM k) AS rank FROM nodes),
         d1 AS (SELECT coalesce(sum(r0.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r0 LEFT JOIN od ON od.src = r0.host WHERE od.src IS NULL),
         i1 AS (SELECT e.dst AS host, sum(r0.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r0 ON r0.host = e.src GROUP BY 1),
         r1 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i1.infl, 0) + (SELECT dsh FROM d1))) // 20 AS rank
                FROM nodes nd LEFT JOIN i1 ON i1.host = nd.h),
         d2 AS (SELECT coalesce(sum(r1.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r1 LEFT JOIN od ON od.src = r1.host WHERE od.src IS NULL),
         i2 AS (SELECT e.dst AS host, sum(r1.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r1 ON r1.host = e.src GROUP BY 1),
         r2 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i2.infl, 0) + (SELECT dsh FROM d2))) // 20 AS rank
                FROM nodes nd LEFT JOIN i2 ON i2.host = nd.h),
         d3 AS (SELECT coalesce(sum(r2.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r2 LEFT JOIN od ON od.src = r2.host WHERE od.src IS NULL),
         i3 AS (SELECT e.dst AS host, sum(r2.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r2 ON r2.host = e.src GROUP BY 1),
         r3 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i3.infl, 0) + (SELECT dsh FROM d3))) // 20 AS rank
                FROM nodes nd LEFT JOIN i3 ON i3.host = nd.h)
         SELECT host, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY host""",

    // q70: the oracle never sees WARC bytes — every record row is
    // re-derived analytically from the generation arithmetic (rec_pos =
    // per-file doc order, n_bytes = strlen = UTF-8 byte length), and the
    // hostile planted file's two expected survivors are literals; any
    // parser drift (byte-vs-char slicing, structural-record skipping,
    // resync, truncation handling) hash-mismatches
    "q70_warc_parse" ->
      """WITH g AS (
           SELECT doc_id % 16 AS warc_id,
                  row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_pos,
                  'https://h' || CAST(doc_id % 50 AS VARCHAR)
                    || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
                  '2026-03-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                    || 'T00:00:00Z' AS warc_date,
                  CAST(strlen(text) AS BIGINT) AS n_bytes,
                  text
           FROM documents)
         SELECT warc_id, CAST(rec_pos AS BIGINT) AS rec_pos, url, warc_date, n_bytes, text FROM g
         UNION ALL
         SELECT 9001, 0, 'https://p.example.com/a', '2026-06-01T00:00:00Z', 5, 'caf' || chr(233)
         UNION ALL
         SELECT 9001, 1, 'https://p.example.com/b', '2026-06-02T00:00:00Z', 4, 'ok' || chr(178)
         ORDER BY warc_id, rec_pos""",

    // q71: DuckDB's utf8proc nfc_normalize recomputes the normalization
    // independently over the same inputs (planted via chr() codepoints —
    // identical VALUES, not identical construction); composition,
    // jamo, reordering, NFKC decoys and the changed flag all compared
    "q71_nfc_normalize" ->
      """WITH a AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT 2199023255553, 'cafe' || chr(769)
           UNION ALL SELECT 2199023255554, 'A' || chr(778) || ' ring'
           UNION ALL SELECT 2199023255555, chr(4352) || chr(4449) || ' jamo'
           UNION ALL SELECT 2199023255556, chr(64257) || ' ligature stays'
           UNION ALL SELECT 2199023255557, 'q' || chr(775) || chr(803) || ' reorder'
           UNION ALL SELECT 2199023255558, 'caf' || chr(233) || ' composed stays')
         SELECT doc_id, nfc_normalize(text) AS norm_text,
                nfc_normalize(text) <> text AS changed
         FROM a ORDER BY doc_id""",

    // q72: q68's analytic link set re-aggregated per target with the
    // oracle's own ordered-list machinery — ref counts, distinct
    // referring hosts, the (doc_id, link_pos)-ordered anchor join with
    // empties filtered and the 20-anchor hot-target cap; the
    // all-empty-anchor targets (the /leaf.html family) pin the
    // empty-list '' contract via the coalesce
    "q72_anchor_stats" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS m2,
                  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS m5
           FROM documents),
         l AS (
           SELECT doc_id, 0 AS link_pos,
                  'https://h' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR)
                    || '.example.com/x' || CAST(doc_id AS VARCHAR) AS dst_url,
                  'abs ' || CAST(doc_id AS VARCHAR) AS anchor
           FROM d
           UNION ALL
           SELECT doc_id, 1 + m2,
                  'https://h' || CAST(doc_id % 40 AS VARCHAR)
                    || '.example.com/r/' || CAST(doc_id % 100 AS VARCHAR),
                  'root'
           FROM d
           UNION ALL
           SELECT doc_id, 2 + m2,
                  'https://h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/d'
                    || CAST(doc_id % 5 AS VARCHAR) || '/s' || CAST(doc_id % 9 AS VARCHAR)
                    || '/leaf.html',
                  ''
           FROM d
           UNION ALL
           SELECT doc_id, 3 + m2 + m5,
                  'https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net/a',
                  'cdn'
           FROM d WHERE doc_id % 3 = 0)
         SELECT dst_url,
                CAST(count(*) AS BIGINT) AS n_refs,
                CAST(count(DISTINCT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com') AS BIGINT) AS n_hosts,
                coalesce(array_to_string(
                  list_slice(
                    list(anchor ORDER BY doc_id, link_pos) FILTER (WHERE anchor <> ''),
                    1, 20), '|'), '') AS anchors
         FROM l GROUP BY 1 ORDER BY dst_url""",

    // q73: the centrality-weighted planning chain replayed END TO END —
    // the q60-style gate re-parse (badtld + exact-host block, trap
    // thresholds), the per-host backlog, all three q69 integer PageRank
    // iterations, the Hamilton split re-weighted by rank, and the
    // spend = min(alloc, backlog) cap. h17.example.com doubles as a
    // suffix decoy for the h7.example.com block (string- but not
    // dot-suffix).
    "q73_rank_weighted_plan" ->
      """WITH okd AS (
           SELECT doc_id AS id,
                  'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS host
           FROM documents
           WHERE doc_id % 17 <> 0 AND doc_id % 40 <> 7
             AND doc_id % 12 < 8 AND doc_id % 8 < 5),
         b AS (SELECT host, count(*) AS backlog FROM okd GROUP BY 1),
         raw AS (
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS src,
                  'h' || CAST((doc_id * 7 + 13) % 40 AS VARCHAR) || '.example.com' AS dst
           FROM documents
           UNION ALL
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com',
                  'sink' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
           FROM documents WHERE doc_id % 13 = 0),
         e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         nodes AS (SELECT DISTINCT h FROM
                    (SELECT src AS h FROM e UNION ALL SELECT dst AS h FROM e) t),
         k AS (SELECT count(*) AS n,
                      1000000000000 // count(*) AS init,
                      (3 * (1000000000000 // count(*))) // 20 AS base
               FROM nodes),
         od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT h AS host, (SELECT init FROM k) AS rank FROM nodes),
         d1 AS (SELECT coalesce(sum(r0.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r0 LEFT JOIN od ON od.src = r0.host WHERE od.src IS NULL),
         i1 AS (SELECT e.dst AS host, sum(r0.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r0 ON r0.host = e.src GROUP BY 1),
         r1 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i1.infl, 0) + (SELECT dsh FROM d1))) // 20 AS rank
                FROM nodes nd LEFT JOIN i1 ON i1.host = nd.h),
         d2 AS (SELECT coalesce(sum(r1.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r1 LEFT JOIN od ON od.src = r1.host WHERE od.src IS NULL),
         i2 AS (SELECT e.dst AS host, sum(r1.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r1 ON r1.host = e.src GROUP BY 1),
         r2 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i2.infl, 0) + (SELECT dsh FROM d2))) // 20 AS rank
                FROM nodes nd LEFT JOIN i2 ON i2.host = nd.h),
         d3 AS (SELECT coalesce(sum(r2.rank), 0) // (SELECT n FROM k) AS dsh
                FROM r2 LEFT JOIN od ON od.src = r2.host WHERE od.src IS NULL),
         i3 AS (SELECT e.dst AS host, sum(r2.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r2 ON r2.host = e.src GROUP BY 1),
         r3 AS (SELECT nd.h AS host,
                       (SELECT base FROM k)
                         + (17 * (coalesce(i3.infl, 0) + (SELECT dsh FROM d3))) // 20 AS rank
                FROM nodes nd LEFT JOIN i3 ON i3.host = nd.h),
         w AS (SELECT b.host, b.backlog, r3.rank
               FROM b JOIN r3 ON r3.host = b.host),
         hb1 AS (SELECT host, backlog, rank,
                        (1000 * rank) // (SELECT sum(rank) FROM w) AS base,
                        (1000 * rank) % (SELECT sum(rank) FROM w) AS rem
                 FROM w),
         hb2 AS (SELECT host, backlog, rank, base,
                        row_number() OVER (ORDER BY rem DESC, host ASC) AS rk,
                        (SELECT 1000 - sum(base) FROM hb1) AS leftover
                 FROM hb1)
         SELECT host, backlog, CAST(rank AS BIGINT) AS rank,
                CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc,
                CAST(least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END, backlog) AS BIGINT) AS spend
         FROM hb2 ORDER BY host""",

    // q74: the discovery loop replayed analytically — the q68 link
    // arithmetic (with per-family hosts emitted alongside), ref-count
    // aggregation, the seen anti-join (even-host /r/ targets seen by the
    // parity argument; page self-URLs a structural no-op), and the
    // cdn3 block
    "q74_discovery_round" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS m2
           FROM documents),
         l AS (
           SELECT 'https://h' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR)
                    || '.example.com/x' || CAST(doc_id AS VARCHAR) AS url,
                  'h' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR) || '.example.com' AS host
           FROM d
           UNION ALL
           SELECT 'https://h' || CAST(doc_id % 40 AS VARCHAR)
                    || '.example.com/r/' || CAST(doc_id % 100 AS VARCHAR),
                  'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com'
           FROM d
           UNION ALL
           SELECT 'https://h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/d'
                    || CAST(doc_id % 5 AS VARCHAR) || '/s' || CAST(doc_id % 9 AS VARCHAR)
                    || '/leaf.html',
                  'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com'
           FROM d
           UNION ALL
           SELECT 'https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net/a',
                  'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
           FROM d WHERE doc_id % 3 = 0),
         agg AS (SELECT url, min(host) AS host, CAST(count(*) AS BIGINT) AS n_refs
                 FROM l GROUP BY 1),
         seen AS (
           SELECT 'https://h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/d'
                    || CAST(doc_id % 5 AS VARCHAR) || '/p' || CAST(doc_id AS VARCHAR)
                    || '.html' AS url
           FROM documents
           UNION ALL
           SELECT 'https://h' || CAST(doc_id % 40 AS VARCHAR)
                    || '.example.com/r/' || CAST(doc_id % 100 AS VARCHAR)
           FROM documents WHERE doc_id % 2 = 0)
         SELECT a.url, a.host, a.n_refs
         FROM agg a
         WHERE a.host <> 'cdn3.example.net'
           AND NOT EXISTS (SELECT 1 FROM seen s WHERE s.url = a.url)
         ORDER BY a.url""",

    // q75: the three TrustRank iterations replayed bit-for-bit — the
    // trusted-conditional teleport (base + dangling both div nT=4, only
    // on seed rows), integer inflow, 17/20 damping; untrusted hosts'
    // ranks are pure inflow sums, sinks exercise the dangling return
    "q75_trustrank" ->
      """WITH raw AS (
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS src,
                  'h' || CAST((doc_id * 7 + 13) % 40 AS VARCHAR) || '.example.com' AS dst
           FROM documents
           UNION ALL
           SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com',
                  'sink' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
           FROM documents WHERE doc_id % 13 = 0),
         e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         nodes AS (SELECT h AS host,
                          h IN ('h0.example.com','h10.example.com',
                                'h20.example.com','h30.example.com') AS trusted
                   FROM (SELECT DISTINCT h FROM
                          (SELECT src AS h FROM e UNION ALL SELECT dst AS h FROM e) t)),
         k AS (SELECT 1000000000000 // 4 AS seed,
                      3 * (1000000000000 // 4) AS base),
         od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT host, trusted,
                       CASE WHEN trusted THEN (SELECT seed FROM k) ELSE 0 END AS rank
                FROM nodes),
         d1 AS (SELECT coalesce(sum(r0.rank), 0) // 4 AS dsh
                FROM r0 LEFT JOIN od ON od.src = r0.host WHERE od.src IS NULL),
         i1 AS (SELECT e.dst AS host, sum(r0.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r0 ON r0.host = e.src GROUP BY 1),
         r1 AS (SELECT nd.host, nd.trusted,
                       (CASE WHEN nd.trusted
                             THEN (SELECT base FROM k) + 17 * (SELECT dsh FROM d1)
                             ELSE 0 END
                        + 17 * coalesce(i1.infl, 0)) // 20 AS rank
                FROM nodes nd LEFT JOIN i1 ON i1.host = nd.host),
         d2 AS (SELECT coalesce(sum(r1.rank), 0) // 4 AS dsh
                FROM r1 LEFT JOIN od ON od.src = r1.host WHERE od.src IS NULL),
         i2 AS (SELECT e.dst AS host, sum(r1.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r1 ON r1.host = e.src GROUP BY 1),
         r2 AS (SELECT nd.host, nd.trusted,
                       (CASE WHEN nd.trusted
                             THEN (SELECT base FROM k) + 17 * (SELECT dsh FROM d2)
                             ELSE 0 END
                        + 17 * coalesce(i2.infl, 0)) // 20 AS rank
                FROM nodes nd LEFT JOIN i2 ON i2.host = nd.host),
         d3 AS (SELECT coalesce(sum(r2.rank), 0) // 4 AS dsh
                FROM r2 LEFT JOIN od ON od.src = r2.host WHERE od.src IS NULL),
         i3 AS (SELECT e.dst AS host, sum(r2.rank // od.deg) AS infl
                FROM e JOIN od ON od.src = e.src JOIN r2 ON r2.host = e.src GROUP BY 1),
         r3 AS (SELECT nd.host, nd.trusted,
                       (CASE WHEN nd.trusted
                             THEN (SELECT base FROM k) + 17 * (SELECT dsh FROM d3)
                             ELSE 0 END
                        + 17 * coalesce(i3.infl, 0)) // 20 AS rank
                FROM nodes nd LEFT JOIN i3 ON i3.host = nd.host)
         SELECT host, trusted, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY host""",

    // q77: every (url, final_url, hops, looped) row re-derived from the
    // chain arithmetic — the oracle never simulates pointer jumping; the
    // deterministic cycle rows (final = the other member, hops clamped
    // to 8) are literals
    "q77_redirect_resolve" ->
      """WITH gen AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS len FROM documents),
         r AS (
           SELECT 'https://r.example.com/p' || CAST(doc_id AS VARCHAR)
                    || '_' || CAST(u.k AS VARCHAR) AS url,
                  'https://r.example.com/p' || CAST(doc_id AS VARCHAR)
                    || '_' || CAST(len AS VARCHAR) AS final_url,
                  CAST(len - u.k AS BIGINT) AS hops,
                  false AS looped
           FROM gen, unnest(generate_series(0, len)) AS u(k))
         SELECT url, final_url, hops, looped FROM r
         UNION ALL SELECT 'https://r.example.com/loopA', 'https://r.example.com/loopB', 8, true
         UNION ALL SELECT 'https://r.example.com/loopB', 'https://r.example.com/loopA', 8, true
         ORDER BY url""",

    // q78: the oracle never parses the index XML — per-site positions,
    // locs and the optional lastmod (as epoch seconds) all re-derived
    // from the generation arithmetic
    "q78_sitemap_index" ->
      """WITH e AS (
           SELECT doc_id % 10 AS site,
                  row_number() OVER (PARTITION BY doc_id % 10 ORDER BY doc_id) - 1 AS sitemap_pos,
                  'https://s' || CAST(doc_id % 10 AS VARCHAR) || '.example.com/sm'
                    || CAST(doc_id AS VARCHAR) || '.xml' AS loc,
                  CASE WHEN doc_id % 4 = 0 THEN NULL
                       ELSE CAST(floor(epoch(CAST(
                              '2026-05-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                                || 'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                                || ':00:00' AS TIMESTAMP))) AS BIGINT) END AS lastmod_epoch
           FROM documents)
         SELECT site, CAST(sitemap_pos AS BIGINT) AS sitemap_pos, loc, lastmod_epoch
         FROM e ORDER BY site, sitemap_pos""",

    // q65: the oracle ranks with ONE plain ordered window cumsum over the
    // whole corpus (score desc, id asc — the single-partition shape the
    // engine's histogram-prefix + tie-group construction refuses) and
    // re-derives scores, token counts and the keep frontier from scratch
    "q65_budget_select" ->
      """WITH d AS (
           SELECT doc_id AS id,
                  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER / 65535.0 AS score
           FROM documents),
         c AS (
           SELECT id, n_tokens, score,
                  CAST(coalesce(sum(n_tokens) OVER (ORDER BY score DESC, id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
           FROM d)
         SELECT id, n_tokens, score, start_tok,
                (start_tok + n_tokens <= 20000) AS kept
         FROM c ORDER BY id""",

    // q66: inventory, normalization, target floors, epochs and rates all
    // recomputed; weights CAST AS DOUBLE (a bare 0.25 VALUES literal is
    // DECIMAL in DuckDB and would round differently)
    "q66_mixture_plan" ->
      """WITH inv AS (
           SELECT source, count(*) AS n_docs,
                  CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         w AS (SELECT source, CAST(wt AS DOUBLE) AS wt
               FROM (VALUES ('src0', 0.25), ('src1', 0.25), ('src2', 0.125),
                            ('src3', 0.125), ('src4', 0.125), ('src5', 0.125)) AS t(source, wt)),
         ws AS (SELECT sum(wt) AS s FROM w),
         j AS (SELECT inv.source, inv.n_docs, inv.n_tokens, w.wt / ws.s AS wn
               FROM inv LEFT JOIN w USING (source), ws)
         SELECT source, n_docs, n_tokens,
                (wn IS NOT NULL) AS planned,
                round(coalesce(wn, 0.0), 6) AS weight,
                CAST(floor(100000.0 * coalesce(wn, 0.0)) AS BIGINT) AS target_tokens,
                CASE WHEN n_tokens > 0
                     THEN round(CAST(floor(100000.0 * coalesce(wn, 0.0)) AS BIGINT) / CAST(n_tokens AS DOUBLE), 6)
                     ELSE 0.0 END AS epochs,
                CASE WHEN n_tokens > 0
                     THEN round(least(1.0, CAST(floor(100000.0 * coalesce(wn, 0.0)) AS BIGINT) / CAST(n_tokens AS DOUBLE)), 6)
                     ELSE 0.0 END AS sample_rate
         FROM j ORDER BY source""",

    // q60: URL synth, host/depth/param re-parse AND the blocklist
    // suffix-match all re-derived in DuckDB (list_slice over the dot
    // labels replays the suffix explosion; precedence order re-stated)
    "q60_frontier_filter" ->
      """WITH u AS (
           SELECT doc_id AS id,
             'https://' ||
               CASE WHEN doc_id % 17 = 0
                    THEN 'spam' || CAST(doc_id % 3 AS VARCHAR) || '.badtld'
                    ELSE 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' END ||
               '/' ||
               repeat('d' || CAST(doc_id % 5 AS VARCHAR) || '/', CAST(doc_id % 12 AS INT)) ||
               'page' ||
               '?a=' || CAST(doc_id % 10 AS VARCHAR) || repeat('&q=1', CAST(doc_id % 8 AS INT)) AS url
           FROM documents),
         f AS (
           SELECT id, url,
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
             len(list_filter(string_split(
               regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1), '/'),
               x -> x <> '')) AS depth,
             CASE WHEN regexp_extract(url, '\?([^#]*)', 1) = '' THEN 0
                  ELSE len(string_split(regexp_extract(url, '\?([^#]*)', 1), '&')) END AS n_params
           FROM u),
         bl AS (SELECT * FROM (VALUES ('badtld'), ('tracker.example.com')) AS t(suffix)),
         blk AS (
           SELECT DISTINCT id FROM f JOIN bl
           ON list_contains(
                list_transform(
                  generate_series(1, len(string_split(host, '.'))),
                  i -> array_to_string(
                         list_slice(string_split(host, '.'), i, len(string_split(host, '.'))), '.')),
                suffix))
         SELECT f.id, f.url, f.host,
                CAST(f.depth AS BIGINT) AS depth,
                CAST(f.n_params AS BIGINT) AS n_params,
                CASE WHEN blk.id IS NOT NULL THEN 'blocked'
                     WHEN f.depth >= 9 THEN 'trap_depth'
                     WHEN f.n_params >= 6 THEN 'trap_params'
                     ELSE 'ok' END AS verdict
         FROM f LEFT JOIN blk ON f.id = blk.id
         ORDER BY f.id""",

    // q61: the oracle NEVER parses XML — every field (loc, optional
    // lastmod/priority, the per-site 0-based entry position, the seen
    // anti-join) is re-derived analytically from the generation arithmetic
    "q61_sitemap_ingest" ->
      """WITH e AS (
           SELECT doc_id % 20 AS site,
                  row_number() OVER (PARTITION BY doc_id % 20 ORDER BY doc_id) - 1 AS entry_pos,
                  'https://s' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p'
                    || CAST(doc_id AS VARCHAR) AS loc,
                  CASE WHEN doc_id % 5 = 0 THEN NULL
                       ELSE CAST(('2026-0' || CAST(1 + doc_id % 9 AS VARCHAR) || '-'
                                  || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')) AS DATE) END AS lastmod,
                  CASE WHEN doc_id % 7 = 0 THEN NULL
                       ELSE CAST('0.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE) END AS priority,
                  doc_id
           FROM documents)
         SELECT site, CAST(entry_pos AS BIGINT) AS entry_pos, loc, lastmod, priority
         FROM e WHERE doc_id % 3 <> 0
         ORDER BY site, entry_pos""",

    // q62: epoch deltas, the 1-hour span floor, the singleton rate-0
    // contract and the tier thresholds recomputed from the events log;
    // tz-naive vs instant timestamp semantics cancel in the differences.
    // floor(epoch) pins DuckDB to WHOLE seconds — epoch(ts) is fractional
    // (microseconds) while Spark's unix_timestamp truncates, and the
    // sub-second tail flipped hours_span's 4th decimal
    "q62_recrawl_schedule" ->
      """WITH a AS (
           SELECT user_id % 500 AS url_id, count(*) AS n_obs,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS first_s,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s
           FROM events GROUP BY 1)
         SELECT url_id, n_obs,
                round((last_s - first_s) / 3600.0, 4) AS hours_span,
                round(CASE WHEN n_obs <= 1 THEN 0.0
                           ELSE (n_obs - 1) / greatest((last_s - first_s) / 3600.0, 1.0) END,
                      6) AS lambda_per_hour,
                CASE WHEN round(CASE WHEN n_obs <= 1 THEN 0.0
                                     ELSE (n_obs - 1) / greatest((last_s - first_s) / 3600.0, 1.0) END,
                           6) >= 0.1 THEN 'hot'
                     WHEN round(CASE WHEN n_obs <= 1 THEN 0.0
                                     ELSE (n_obs - 1) / greatest((last_s - first_s) / 3600.0, 1.0) END,
                           6) >= 0.01 THEN 'warm'
                     WHEN round(CASE WHEN n_obs <= 1 THEN 0.0
                                     ELSE (n_obs - 1) / greatest((last_s - first_s) / 3600.0, 1.0) END,
                           6) > 0.0 THEN 'cold'
                     ELSE 'frozen' END AS revisit_tier
         FROM a ORDER BY url_id""",

    // q63: the Hamilton apportionment replayed in pure integer arithmetic
    // (// and % over BIGINT/HUGEINT), including the (remainder desc, host
    // asc) tie-break and the leftover distribution
    "q63_host_budget" ->
      """WITH b AS (SELECT doc_id % 37 AS host, count(*) AS cnt FROM documents GROUP BY 1),
         t2 AS (SELECT host, cnt, (SELECT sum(cnt) FROM b) AS total FROM b),
         c AS (SELECT host, cnt,
                      (10000 * cnt) // total AS base,
                      (10000 * cnt) % total AS rem
               FROM t2),
         d AS (SELECT host, cnt, base,
                      row_number() OVER (ORDER BY rem DESC, host ASC) AS rk,
                      (SELECT 10000 - sum(base) FROM c) AS leftover
               FROM c)
         SELECT host, cnt,
                CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
         FROM d ORDER BY host""",

    // q64: the whole planning chain replayed — q60's verdicts, the ok
    // backlog, q63's integer apportionment at budget 100, and the
    // per-host (priority desc, id asc) rank selection
    "q64_frontier_plan" ->
      """WITH u AS (
           SELECT doc_id AS id,
             CASE WHEN doc_id % 17 = 0
                  THEN 'spam' || CAST(doc_id % 3 AS VARCHAR) || '.badtld'
                  ELSE 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' END AS host,
             CAST(doc_id % 12 AS INT) + 1 AS depth,
             CAST(doc_id % 8 AS INT) + 1 AS n_params
           FROM documents),
         ok AS (
           SELECT id, host FROM u
           WHERE host NOT LIKE '%.badtld' AND depth < 9 AND n_params < 6),
         b AS (SELECT host, count(*) AS cnt FROM ok GROUP BY 1),
         t2 AS (SELECT host, cnt, (SELECT sum(cnt) FROM b) AS total FROM b),
         c AS (SELECT host, cnt,
                      (100 * cnt) // total AS base,
                      (100 * cnt) % total AS rem
               FROM t2),
         d AS (SELECT host, base,
                      row_number() OVER (ORDER BY rem DESC, host ASC) AS rk,
                      (SELECT 100 - sum(base) FROM c) AS leftover
               FROM c),
         alloc AS (SELECT host, base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc FROM d),
         ranked AS (
           SELECT ok.id, ok.host, ok.id % 100 AS prio, alloc.alloc,
                  row_number() OVER (PARTITION BY ok.host
                                     ORDER BY ok.id % 100 DESC, ok.id ASC) AS rk
           FROM ok JOIN alloc USING (host))
         SELECT id, host, CAST(prio AS BIGINT) AS prio
         FROM ranked WHERE rk <= alloc
         ORDER BY id""",

    // q56: the oracle retrains BOTH hashed-feature models from scratch —
    // unigram+bigram feature strings, 60-bit md5-prefix buckets mod 4096
    // (the q52 hash technique), add-one-smoothed counts over target
    // (doc_id % 7 = 0, real docs only — planted ids land ≡ 0 mod 7 but
    // must NOT enter the target model) and raw (all scored docs), then
    // recomputes every per-doc log-weight sum
    "q56_dsir_weights" -> {
      val plantedSql = dsirFixture
        .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }.mkString(", ")
      s"""WITH alld(doc_id, text) AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT * FROM (VALUES $plantedSql) pl(doc_id, text)),
          dtk AS (
            SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
            FROM alld),
          dfeat AS (
            SELECT doc_id, f FROM (
              SELECT doc_id, unnest(tk) AS f FROM dtk
              UNION ALL
              SELECT doc_id, tk[j] || ' ' || tk[j + 1] AS f
              FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS j FROM dtk))),
          db AS (
            SELECT doc_id, ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS b
            FROM dfeat),
          tb AS (
            SELECT b, count(*) AS ct FROM db
            WHERE doc_id % 7 = 0 AND doc_id < 1099511627776 GROUP BY 1),
          rb AS (SELECT b, count(*) AS cr FROM db GROUP BY 1),
          tt AS (SELECT COALESCE(sum(ct), 0) AS nt FROM tb),
          rt AS (SELECT COALESCE(sum(cr), 0) AS nr FROM rb),
          sc AS (
            SELECT db.doc_id,
                   ln((COALESCE(tb.ct, 0) + 1)::DOUBLE / (tt.nt + 4096)) -
                   ln((COALESCE(rb.cr, 0) + 1)::DOUBLE / (rt.nr + 4096)) AS d
            FROM db LEFT JOIN tb USING (b) LEFT JOIN rb USING (b)
            CROSS JOIN tt CROSS JOIN rt),
          ag AS (
            SELECT doc_id, count(*) AS n_feats, round(sum(d), 4) AS logw
            FROM sc GROUP BY 1)
          SELECT a.doc_id AS id, CAST(COALESCE(ag.n_feats, 0) AS BIGINT) AS n_feats,
                 COALESCE(ag.logw, 0.0) AS logw
          FROM alld a LEFT JOIN ag USING (doc_id) ORDER BY id"""
    },

    // q57: the oracle regenerates the md5-derived linear model (weight(b)
    // = (60-bit md5 prefix of 'w:graft:<b>' mod 2001 − 1000) / 1000) and
    // rescores every doc — feature buckets, weight sums, sigmoid, the
    // ≥ 0.5 keep verdict
    "q57_quality_score" -> {
      val plantedSql = qcFixture
        .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }.mkString(", ")
      s"""WITH alld(doc_id, text) AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT * FROM (VALUES $plantedSql) pl(doc_id, text)),
          dtk AS (
            SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
            FROM alld),
          dfeat AS (
            SELECT doc_id, f FROM (
              SELECT doc_id, unnest(tk) AS f FROM dtk
              UNION ALL
              SELECT doc_id, tk[j] || ' ' || tk[j + 1] AS f
              FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS j FROM dtk))),
          db AS (
            SELECT doc_id, ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS b
            FROM dfeat),
          wt AS (
            SELECT doc_id,
                   ((('0x' || substr(md5('w:graft:' || CAST(b AS VARCHAR)), 1, 15))::BIGINT
                     % 2001 - 1000) / 1000.0) AS w
            FROM db),
          ag AS (
            SELECT doc_id, count(*) AS n_feats, sum(w) AS sw
            FROM wt GROUP BY 1),
          sc AS (
            SELECT a.doc_id AS id, CAST(COALESCE(ag.n_feats, 0) AS BIGINT) AS n_feats,
                   round(1.0 / (1.0 + exp(-(COALESCE(ag.sw / ag.n_feats, 0.0)))), 4) AS score
            FROM alld a LEFT JOIN ag USING (doc_id))
          SELECT id, n_feats, score, score >= 0.5 AS keep
          FROM sc ORDER BY id"""
    },

    "q52_stratified_sample" -> {
      val wSql = sampleWeights
        .map { case (s, w) => s"('$s', ${math.round(w * 10000)})" }
        .mkString(", ")
      s"""WITH w(stratum, thr) AS (VALUES $wSql)
          SELECT doc_id, lang FROM documents d JOIN w ON d.lang = w.stratum
          WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 15))::BIGINT
                % 10000 < thr
          ORDER BY doc_id"""
    },

    // q51: the oracle re-derives corpus-global line dedup from scratch —
    // zip-unnested (line, position) rows, a row_number over
    // (PARTITION BY md5(line) ORDER BY doc_id, position) picking the
    // global first occurrence, and an ordered string_agg reassembly;
    // fully-shadowed docs come back via the left join as ''
    "q51_line_dedup" -> {
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
    },

    // q50: the whole HTML→text cascade regenerated from the same pattern
    // data (strip regexes with 'g', literal entity replaces in order,
    // whitespace regexes, space+newline edge trim) and re-run by DuckDB's
    // RE2 over the same templated documents ∪ raw-HTML fixtures
    "q50_html_extract" -> {
      import graft.functions.TextFns
      def sqlStr(v: String): String =
        v.split("\n", -1).map(c => "'" + c.replace("'", "''") + "'")
          .mkString(" || chr(10) || ")
      val strip = TextFns.HtmlStripPatterns.foldLeft("html") {
        case (inner, (p, r)) => s"regexp_replace($inner, '${p.replace("'", "''")}', ${sqlStr(r)}, 'g')"
      }
      val decoded = TextFns.HtmlEntities.foldLeft(strip) {
        case (inner, (e, r)) => s"replace($inner, ${sqlStr(e)}, ${sqlStr(r)})"
      }
      val normalized = TextFns.HtmlWhitespacePatterns.foldLeft(decoded) {
        case (inner, (p, r)) => s"regexp_replace($inner, '${p.replace("'", "''")}', ${sqlStr(r)}, 'g')"
      }
      val plantedSql = htmlFixture
        .map { case (id, h) => s"(CAST($id AS BIGINT), '${h.replace("'", "''")}')" }
        .mkString(", ")
      s"""WITH all_docs(doc_id, html) AS (
            SELECT doc_id,
                   '${htmlTplA.replace("'", "''")}' || CAST(doc_id AS VARCHAR) ||
                   '${htmlTplB.replace("'", "''")}' || text ||
                   '${htmlTplC.replace("'", "''")}' AS html
            FROM documents
            UNION ALL SELECT * FROM (VALUES $plantedSql) p(doc_id, html))
          SELECT doc_id, trim($normalized, ' ' || chr(10)) AS txt
          FROM all_docs ORDER BY doc_id"""
    },

    // q49: the q38 chain EXTENDED by the repetition rung — the oracle
    // recomputes the whole verdict chain including both repetition signals
    // (the q48 machinery spliced into the CTE chain) and the rung's
    // position: after low_quality, before the dup window, which now sorts
    // repetitive docs as failing
    "q49_clean_repetitive" -> {
      val plantedSql = repCleanFixture
        .map { case (id, t) => s"(CAST($id AS BIGINT), '${t.replace("'", "''").replace("\n", "' || chr(10) || '")}')" }
        .mkString(", ")
      s"""WITH all_docs(doc_id, text) AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT * FROM (VALUES $plantedSql) p(doc_id, text)),
          ${cleanChainCtesFor(repetition = true)}
          SELECT doc_id AS id, n_tokens, pred_lang, quality,
                 COALESCE(reason0, CASE WHEN rn > 1 THEN 'duplicate' END, 'kept') AS reason,
                 COALESCE(reason0, CASE WHEN rn > 1 THEN 'duplicate' END, 'kept') = 'kept' AS keep
          FROM ranked ORDER BY id"""
    },

    "q48_doc_repetition" -> {
      // the six Gopher signals re-derived with unnest-based SQL: lines and
      // 1-based positions zip-unnested (a line repeats iff its FIRST
      // list_position sits strictly before it — the Spark side's 0-based
      // `array_position < i+1` in 1-based clothing), bigrams re-joined
      // from adjacent tokens, the per-doc argmax re-ranked by
      // (count DESC, bigram DESC) — the struct-max tie-break
      val plantedSql = repFixture
        .map { case (id, t) => s"(CAST($id AS BIGINT), '${t.replace("'", "''").replace("\n", "' || chr(10) || '")}')" }
        .mkString(", ")
      s"""WITH all_docs(doc_id, text) AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT * FROM (VALUES $plantedSql) p(doc_id, text)),
          base AS (
            SELECT doc_id, text,
                   string_split(text, chr(10)) AS ln,
                   list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
            FROM all_docs),
          lx AS (
            SELECT doc_id, ln, unnest(ln) AS l,
                   unnest(generate_series(1, len(ln))) AS i
            FROM base),
          lagg AS (
            SELECT doc_id,
                   sum(CASE WHEN list_position(ln, l) < i THEN 1 ELSE 0 END) AS dup_cnt,
                   sum(CASE WHEN list_position(ln, l) < i THEN len(l) ELSE 0 END) AS dup_chars,
                   sum(CASE WHEN ltrim(l) LIKE '- %' OR ltrim(l) LIKE '* %' THEN 1 ELSE 0 END) AS bullet_cnt,
                   sum(CASE WHEN rtrim(l) LIKE '%...' THEN 1 ELSE 0 END) AS ell_cnt
            FROM lx GROUP BY doc_id),
          bx AS (
            SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS j
            FROM base),
          bcnt AS (
            SELECT doc_id, tk[j] || ' ' || tk[j + 1] AS g, count(*) AS c
            FROM bx GROUP BY doc_id, g),
          btop AS (
            SELECT doc_id, c, g,
                   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
            FROM bcnt)
          SELECT b.doc_id,
                 round(CAST(la.dup_cnt AS DOUBLE) / greatest(len(b.ln), 1), 4) AS dup_line_frac,
                 round(CAST(la.dup_chars AS DOUBLE) / greatest(len(b.text), 1), 4) AS dup_line_char_frac,
                 round(CAST(la.bullet_cnt AS DOUBLE) / greatest(len(b.ln), 1), 4) AS bullet_line_frac,
                 round(CAST(la.ell_cnt AS DOUBLE) / greatest(len(b.ln), 1), 4) AS ellipsis_line_frac,
                 round((CAST(len(b.text) - len(replace(b.text, '#', '')) AS DOUBLE)
                        + CAST(len(b.text) - len(replace(b.text, '...', '')) AS DOUBLE) / 3)
                       / greatest(len(b.tk), 1), 4) AS symbol_word_ratio,
                 round(least(coalesce(CAST(t.c AS DOUBLE) * len(t.g) / greatest(len(b.text), 1), 0.0), 1.0), 4) AS top_bigram_char_frac
          FROM base b
          JOIN lagg la USING (doc_id)
          LEFT JOIN (SELECT doc_id, c, g FROM btop WHERE rn = 1) t USING (doc_id)
          ORDER BY doc_id"""
    },

    "q44_ppm_decode" ->
      // analytic recomputation of the P6 fixture: pixel byte i =
      // (doc_id·7 + i·13) mod 256, luma = Rec.601 over the 48 pixels —
      // derived from the generation formula alone, independent of the
      // decoder under test
      """SELECT doc_id AS media_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           round(list_sum(list_transform(range(48), p ->
               0.299 * ((doc_id * 7 + (3 * p) * 13) % 256)
             + 0.587 * ((doc_id * 7 + (3 * p + 1) * 13) % 256)
             + 0.114 * ((doc_id * 7 + (3 * p + 2) * 13) % 256)))
             / 48.0, 4) AS mean_luma
         FROM documents ORDER BY media_id""",

    "q45_ann_ivf_recall" ->
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
         GROUP BY b.query_id ORDER BY b.query_id""",

    "q41_neardup_verify" -> {
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
    },

    "q27_doc_minhash_pairs" ->
      // golden planted-duplicate pairs: identical docs agree on all 64
      // minhash values, so est_jaccard is exactly 1.0 and every band buckets
      // the pair together (recall 1 by construction)
      """SELECT id_a, id_b, est_jaccard FROM (VALUES
           (0, 1099511627776, 1.0), (1, 1099511627777, 1.0), (2, 1099511627778, 1.0),
           (3, 1099511627779, 1.0), (4, 1099511627780, 1.0))
         t(id_a, id_b, est_jaccard) ORDER BY id_a""",

    "q28_doc_simhash" ->
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
         FROM sh ORDER BY doc_id""",

    "q29_doc_fingerprint" ->
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
         FROM sel ORDER BY doc_id""",

    "q30_media_features" ->
      // the synthetic media fixture and the stub decoder are both exactly
      // recomputable: content = UTF-8 of ASCII text (bytes = code points),
      // kind = doc_id % 3, luma = mean byte, frames = 1 + bytes/1024
      // empty-text guard matches stubDecode exactly: (luma 0.0, frames 0)
      // for zero-byte content (sum/0 would otherwise yield NULL here and
      // 1 + 0//1024 = 1 frames — a gate break if any SF emits an empty doc)
      """SELECT doc_id AS media_id,
           ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CASE WHEN strlen(text) = 0 THEN 0.0 ELSE
             round(CAST(list_sum(list_transform(range(strlen(text)),
                   i -> unicode(substr(text, CAST(i AS INT)+1, 1)))) AS DOUBLE)
                   / strlen(text), 4) END AS mean_luma,
           CASE WHEN strlen(text) = 0 THEN 0
                ELSE CAST(1 + strlen(text) // 1024 AS INT) END AS frames_sampled
         FROM documents ORDER BY media_id""",

    "q36_simhash_pairs" ->
      // golden planted self-pairs: identical docs ⇒ identical signatures ⇒
      // hamming 0, found with certainty by the chunk blocking
      """SELECT id_a, id_b, hamming FROM (VALUES
           (0, 1099511627776, 0), (1, 1099511627777, 0), (2, 1099511627778, 0),
           (3, 1099511627779, 0), (4, 1099511627780, 0))
         t(id_a, id_b, hamming) ORDER BY id_a""",

    "q35_ann_ivf_fullprobe" ->
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
         WHERE rank <= 5 ORDER BY query_id, rank""",

    "q34_dedup_clusters" ->
      // golden planted-chain clusters: sources 0-4 survive (keep), both
      // copies label to the source root; off = 2^40, 2*off = 2^41
      """SELECT id, cluster_id, keep FROM (VALUES
           (CAST(0 AS BIGINT), CAST(0 AS BIGINT), true), (1, 1, true), (2, 2, true),
           (3, 3, true), (4, 4, true),
           (1099511627776, 0, false), (1099511627777, 1, false), (1099511627778, 2, false),
           (1099511627779, 3, false), (1099511627780, 4, false),
           (2199023255552, 0, false), (2199023255553, 1, false), (2199023255554, 2, false),
           (2199023255555, 3, false), (2199023255556, 4, false))
         t(id, cluster_id, keep) ORDER BY id""",

    "q37_dedup_clusters_multi" ->
      // golden mixed-source families: copies of doc 0 root at 0 (minhash),
      // the token-reversed doc roots at 1 (simhash-only), the planted-
      // embedding doc roots at 2 (cosine-only); off = 2^40
      """SELECT id, cluster_id, keep FROM (VALUES
           (CAST(0 AS BIGINT), CAST(0 AS BIGINT), true), (1, 1, true), (2, 2, true),
           (1099511627777, 0, false), (1099511627778, 0, false),
           (1099511627779, 1, false), (1099511627780, 2, false))
         t(id, cluster_id, keep) ORDER BY id""",

    "q33_region_revenue" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name ORDER BY n_name""",

    "q31_crawl_order" ->
      // the oracle re-derives BOTH the itertools.product seed order
      // (rightmost-fastest, dates descending) and the budget-window
      // scheduling semantics from first principles in SQL
      """WITH currs(c, i) AS (VALUES ('GBP', 0), ('USD', 1), ('EUR', 2)),
         pairs AS (SELECT a.c AS card_c, b.c AS trans_c,
                          a.i * 3 + b.i - a.i - CASE WHEN b.i > a.i THEN 1 ELSE 0 END AS pair_idx
                   FROM currs a CROSS JOIN currs b WHERE a.c <> b.c),
         seeds AS (SELECT pair_idx * 3 + d AS seq
                   FROM pairs CROSS JOIN range(3) t(d))
         SELECT seq, CAST(floor(seq / 8) + 1 AS INT) AS round
         FROM seeds ORDER BY seq""",

    "q32_setops" ->
      """WITH big AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000),
         mach AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'),
         ops AS (
           SELECT 'union' AS op, custkey FROM (SELECT DISTINCT custkey FROM (SELECT custkey FROM big UNION ALL SELECT custkey FROM mach))
           UNION ALL
           SELECT 'intersect' AS op, custkey FROM (SELECT custkey FROM big INTERSECT SELECT custkey FROM mach)
           UNION ALL
           SELECT 'except' AS op, custkey FROM (SELECT DISTINCT custkey FROM big EXCEPT SELECT custkey FROM mach))
         SELECT op, count(*) AS n, CAST(sum(custkey) AS BIGINT) AS key_sum
         FROM ops GROUP BY op ORDER BY op""")

  /** Planted PII-dense docs shared by the q47 query and its oracle — the
    * tricky cases on purpose: an email inside a URL-free clause, two IPs in
    * one row, a leading digit ahead of a phone match ("0800 123 4567"
    * redacts to "0<PHONE>" under leftmost-first semantics in BOTH engines),
    * and a 5-octet run where only the first four redact ("1.2.3.4.5" →
    * "<IP>.5").
    */
  private val piiFixture: Seq[(Long, String)] = {
    val off = 1L << 40
    Seq(
      (off + 1, "contact john.doe+spam@example-mail.co.uk or visit https://example.com/a?b=1#f today"),
      (off + 2, "server at 192.168.1.254 answered while 10.0.0.7 timed out call +1 415 555 0100 now"),
      (off + 3, "mail a@b.io and c_d%e@f-g.org via http://x.y/z 127.0.0.1 0800 123 4567 and 1.2.3.4.5 end"))
  }

  /** Planted repetition-dense docs shared by the q48 query and its oracle —
    * each exercises a different signal: duplicate lines (verbatim and with
    * distinct surrounding lines), "- "/"* " bullets (including an indented
    * one ltrim must reach), trailing "..." lines, '#' runs, and a dominant
    * repeated bigram whose count must beat the count-1 crowd.
    */
  private val repFixture: Seq[(Long, String)] = {
    val off = 1L << 40
    Seq(
      (off + 1, "alpha beta gamma\nalpha beta gamma\n- first bullet\n- second bullet\nclosing thought..."),
      (off + 2, "foo bar foo bar foo bar ## code # mark\n  - indented bullet\nplain line\nplain line"),
      (off + 3, "* starred\n* starred\nwait...\nwait...\nunique tail # end"))
  }

  /** Planted raw-HTML docs shared by the q50 query and its oracle — the
    * grammar cases the template can't produce: a `</div>` inside a script
    * string (must die with the script), a tag-shaped `< b and c >` run in
    * prose (the cascade's documented loss), table/br structure, and
    * double-encoded entities that must STAY single-encoded.
    */
  /** The q52 mixture weights — ONE definition feeding both the Sampler
    * call and the oracle's VALUES table. zh is deliberately absent: the
    * mixture is an allowlist and unlisted strata drop.
    */
  private val sampleWeights: Seq[(String, Double)] =
    Seq("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1, "es" -> 1.0)

  /** q66 target mixture — EXACT binary fractions (sum 1.0 in any addition
    * order), so the engine's and the oracle's weight normalization cannot
    * drift by a summation-order ulp.
    */
  private val mixtureWeights: Seq[(String, Double)] =
    Seq("src0" -> 0.25, "src1" -> 0.25, "src2" -> 0.125,
      "src3" -> 0.125, "src4" -> 0.125, "src5" -> 0.125)

  /** LM-scoring probes shared by the q55 query and its oracle: a mixed
    * OOV/seen doc whose four transitions hit every add-one smoothing
    * branch — (BOS, zxqv) seen prefix/unseen word, (zxqv, table) unseen
    * prefix/seen word, (table, zxqv) seen prefix/unseen word with a real
    * prefix count, (zxqv, zxqv) fully unseen — and an empty doc (0 tokens,
    * xent 0.0 by contract). `zxqv` appears nowhere in the synthetic vocab.
    */
  private val lmFixture: Seq[(Long, String)] = {
    val off = 1L << 40
    Seq((off + 41, "zxqv table zxqv zxqv"), (off + 42, ""))
  }

  /** DSIR probes shared by the q56 query and its oracle: an empty doc
    * (0 features ⇒ logw 0.0 by contract) whose id also lands ≡ 0 mod 7 —
    * proving planted docs never leak into the target model; an all-OOV
    * repeated-token doc (its features exist only in the raw model, via
    * itself ⇒ negative weight, multiplicity counted); and a mixed
    * seen/OOV doc. `zxqvdsir` appears nowhere in the synthetic vocab.
    */
  private val dsirFixture: Seq[(Long, String)] = {
    val off = 1L << 40
    Seq(
      (off + 61, ""),
      (off + 62, "zxqvdsir zxqvdsir zxqvdsir"),
      (off + 63, "table scan zxqvdsir"))
  }

  /** CCNet-bucketing probes shared by the q59 query and its oracle: two
    * byte-identical en docs (an exact cross-entropy tie — the bucket rule
    * must put them in ONE bucket), an empty de doc (xent 0.0 ⇒ its
    * language's head) and a mixed seen/OOV fr doc. `zxqvccnet` appears
    * nowhere in the synthetic vocab.
    */
  private val ccnetFixture: Seq[(Long, String, String)] = {
    val off = 1L << 40
    Seq(
      (off + 81, "zxqvccnet alpha zxqvccnet", "en"),
      (off + 82, "zxqvccnet alpha zxqvccnet", "en"),
      (off + 83, "", "de"),
      (off + 84, "table scan zxqvccnet", "fr"))
  }

  /** Quality-classifier probes shared by the q57 query and its oracle: an
    * empty doc (0 features ⇒ score sigmoid(bias) = 0.5, keep TRUE at the
    * ≥ boundary) and a repeated-feature doc (bucket multiplicity must
    * weigh twice in the average).
    */
  private val qcFixture: Seq[(Long, String)] = {
    val off = 1L << 40
    Seq(
      (off + 71, ""),
      (off + 72, "table scan table scan"))
  }

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

  /** The q50 HTML template chunks — ONE definition feeding both the Spark
    * concat and the oracle's SQL concat, so template and oracle can never
    * diverge. Deliberately free of single quotes (SQL-splice-safe) while
    * exercising script-with-angle-and-decoy-closer, style, comment,
    * entities and list markup around every document's text.
    */
  private val htmlTplA = "<html><head><title>D</title><script>var x = 1 < 2; s = \"</p>\";</script>" +
    "<style>p { color: red; }</style></head><body><!-- note <b>x</b> --><h1>Doc "
  private val htmlTplB = "</h1><p>fish &amp; chips &lt;sample&gt;</p><p>"
  private val htmlTplC = "</p><ul><li>item&nbsp;one</li><li>item two</li></ul></body></html>"

  /** q70's hostile WARC file (warc_id 9001): a request record that must be
    * skipped structurally, a multibyte response (Content-Length counts
    * BYTES), a corrupted-Content-Length record the parser must resync
    * past, a second multibyte response, and a truncated tail record that
    * must drop without killing the file. Expected survivors are the two
    * responses — their rows are literal in the oracle.
    */
  private def warcFixtureBytes: Array[Byte] = {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.sources.Warc.buildRecord
    val corrupted =
      ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://corrupt.example.com\r\n" +
        "WARC-Date: 2026-06-09T00:00:00Z\r\nContent-Length: nonsense\r\n\r\njunk\r\n\r\n").getBytes(UTF_8)
    buildRecord("request", "https://p.example.com/a", "2026-06-01T00:00:00Z", "GET /a".getBytes(UTF_8)) ++
      buildRecord("response", "https://p.example.com/a", "2026-06-01T00:00:00Z", "café".getBytes(UTF_8)) ++
      corrupted ++
      buildRecord("response", "https://p.example.com/b", "2026-06-02T00:00:00Z", "ok²".getBytes(UTF_8)) ++
      buildRecord("response", "https://p.example.com/truncated", "2026-06-03T00:00:00Z",
        "a payload the file ends inside".getBytes(UTF_8)).dropRight(12)
  }

  /** q76's twin base — English, stopword-rich, 20 tokens: passes every
    * row-local verdict so the NFC-dedup effect is what decides the twins'
    * reasons. Shared by the Spark fixture and the oracle literal.
    */
  private val nfcTwinBase: String =
    "the quick brown fox jumps over the lazy dog while " +
      "the small bird watches the calm river at the old"

  private val htmlFixture: Seq[(Long, String)] = {
    val off = 1L << 40
    Seq(
      (off + 21, "<div><p>nested <b>bold</b> text</p><br><table><tr><td>cell one</td><td>cell two</td></tr></table></div>"),
      (off + 22, "<p>a < b and c > d</p><script>while (i<n) { emit('</div>'); }</script><p>tail</p>"),
      (off + 23, "no markup &amp;lt;keeps-encoding&amp;gt; fish &amp; chips&nbsp;&nbsp;end"))
  }

  /** Planted docs shared by the q49 query and its oracle — each targets
    * the repetition rung's position in the verdict chain: R1 and R2 pass
    * every earlier filter (English, in-band quality) and fail ONLY
    * repetition (R1 via dup_line_frac — 3 of 5 lines repeat; R2 via
    * top_bigram_char_frac — "the cat" dominates), while R3 is repetitive
    * AND non-English and must report the earlier `wrong_lang`.
    */
  private val repCleanFixture: Seq[(Long, String)] = {
    val off = 1L << 40
    val line = "the quick brown fox jumps over the lazy dog"
    Seq(
      (off + 11, (Seq.fill(4)(line) :+ "something else entirely different here today").mkString("\n")),
      (off + 12, "the cat the cat the cat the cat the cat sat here"),
      (off + 13, "zzz1 zzz2 zzz3 zzz4 zzz5\nzzz1 zzz2 zzz3 zzz4 zzz5\nzzz1 zzz2 zzz3 zzz4 zzz5"))
  }

  /** The composed-cleanup verdict-chain CTEs shared by the q38/q39 oracles.
    * Expects an `all_docs(doc_id, text)` CTE to precede it; yields `ranked`
    * carrying (doc_id, text, n_tokens, pred_lang, quality, reason0, rn) —
    * rn is the exact-dup window rank (passing docs first, then min id)
    * within each md5(text) group. Generated from [[graft.functions.TextFns
    * .LangProfiles]] so the oracle tracks the engine's language model.
    */
  private def cleanChainCtes: String = cleanChainCtesFor(repetition = false)

  /** [[cleanChainCtes]] with the Gopher repetition rung optionally spliced
    * in (q49): two extra CTE groups recompute dup_line_frac (zip-unnested
    * lines vs first list_position) and top_bigram_char_frac (adjacent-token
    * bigrams re-ranked by count DESC, bigram DESC — the struct-max
    * tie-break) exactly as the q48 oracle does, and the r0 CASE gains the
    * `repetitive` rung AFTER low_quality at the published 0.30/0.20
    * thresholds; the dup window then sorts repetitive docs as failing via
    * the same `reason0 IS NOT NULL` it already uses.
    */
  private def cleanChainCtesFor(repetition: Boolean): String = {
    val profiles = graft.functions.TextFns.LangProfiles
    val langs = profiles.map(_._1)
    val enStop = profiles.head._2.map(w => s"'$w'").mkString(", ")
    val scores = profiles.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(ltk, x -> list_contains([$list], x))) AS DOUBLE) / greatest(len(ltk), 1) AS s_$lang"
    }.mkString(", ")
    val allZero = langs.map(l => s"s_$l <= 0").mkString(" AND ")
    val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
      s"WHEN ${langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")} THEN '$l'"
    }.mkString(" ")
    s"""toks AS (SELECT doc_id, text,
          list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk,
          list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS ltk
          FROM all_docs),
        sig AS (SELECT doc_id, text, CAST(len(tk) AS INT) AS n_tokens,
          round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                / greatest(len(tk), 1), 4) AS mwl,
          round(CAST(len(list_filter(ltk, x -> list_contains([$enStop], x))) AS DOUBLE)
                / greatest(len(tk), 1), 4) AS stopr,
          round(CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE)
                / greatest(length(text), 1), 4) AS alphar,
          round(CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1), 4) AS distr,
          $scores
          FROM toks),
        verd AS (SELECT doc_id, text, n_tokens,
          CASE WHEN $allZero THEN 'und' $caseChain ELSE '${langs.last}' END AS pred_lang,
          round((CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END
               + CASE WHEN stopr >= 0.01 THEN 1.0 ELSE 0.0 END
               + CASE WHEN alphar >= 0.6 THEN 1.0 ELSE 0.0 END
               + CASE WHEN distr >= 0.2 THEN 1.0 ELSE 0.0 END) / 4.0, 4) AS quality
          FROM sig),
        ${if (repetition) """rep_l AS (SELECT doc_id, ln, unnest(ln) AS l,
               unnest(generate_series(1, len(ln))) AS i
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ln FROM all_docs) q0),
        rep_la AS (SELECT doc_id,
               sum(CASE WHEN list_position(ln, l) < i THEN 1 ELSE 0 END) AS dup_cnt,
               count(*) AS n_lines
          FROM rep_l GROUP BY doc_id),
        rep_b AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS j FROM toks),
        rep_bc AS (SELECT doc_id, tk[j] || ' ' || tk[j + 1] AS g, count(*) AS c
          FROM rep_b GROUP BY doc_id, g),
        rep_bt AS (SELECT doc_id, c, g, row_number() OVER (
               PARTITION BY doc_id ORDER BY c DESC, g DESC) AS brn
          FROM rep_bc),
        rep AS (SELECT a.doc_id,
               round(CAST(la.dup_cnt AS DOUBLE) / greatest(la.n_lines, 1), 4) AS dlf,
               round(least(coalesce(CAST(bt.c AS DOUBLE) * len(bt.g)
                     / greatest(length(a.text), 1), 0.0), 1.0), 4) AS tbf
          FROM all_docs a
          JOIN rep_la la USING (doc_id)
          LEFT JOIN (SELECT doc_id, c, g FROM rep_bt WHERE brn = 1) bt USING (doc_id)),
        """ else ""}r0 AS (SELECT doc_id, text, n_tokens, pred_lang, quality,
          CASE WHEN n_tokens < 5 THEN 'too_short'
               WHEN n_tokens > 50000 THEN 'too_long'
               WHEN pred_lang <> 'en' THEN 'wrong_lang'
               WHEN quality < 0.75 THEN 'low_quality'${if (repetition) """
               WHEN dlf > 0.3 THEN 'repetitive'
               WHEN tbf > 0.2 THEN 'repetitive'""" else ""} END AS reason0
          FROM verd${if (repetition) " JOIN rep USING (doc_id)" else ""}),
        ranked AS (SELECT *, row_number() OVER (
            PARTITION BY md5(text) ORDER BY (reason0 IS NOT NULL), doc_id) AS rn
          FROM r0)"""
  }

  /** Golden URL VALUES oracles: expected strings produced by the byte-exact
    * pure builders (unit-tested against the reference's Python output).
    */
  private def goldenUrlOracle(mc: Boolean): String = {
    import graft.urls.Urls
    val rows = GoldenMissing.sortBy(x => (x._1, x._2, x._3)).map { case (c, tr, d) =>
      val ld = LocalDate.parse(d)
      val u = if (mc) Urls.mcUrl(c, tr, ld) else Urls.visaUrl(c, tr, ld)
      s"('$c', '$tr', DATE '$d', '$u')"
    }
    s"""SELECT card_c, trans_c, "date", url FROM (VALUES ${rows.mkString(", ")})
        t(card_c, trans_c, "date", url) ORDER BY card_c, trans_c, "date""""
  }

  /** The golden missing rows with their reference seq values as SQL VALUES. */
  private def goldenMissingWithSeqSql(): String = {
    // seq = pair_idx * numDays + date_idx with currs order (GBP, USD),
    // numDays = 8, dates descending from 1995-09-10
    GoldenMissing.map { case (c, tr, d) =>
      val pairIdx = if (c == "GBP") 0 else 1
      val dateIdx = java.time.temporal.ChronoUnit.DAYS.between(LocalDate.parse(d), TestDate).toInt
      val seq = pairIdx * 8 + dateIdx
      s"('$c', '$tr', DATE '$d', $seq)"
    }.mkString(", ")
  }
}
