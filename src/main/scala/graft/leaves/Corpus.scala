package graft.leaves

import org.apache.spark.sql.functions._

import graft.leaves.Golden.t

/** The training-corpus leaves over the documents and embeddings tables:
  * text statistics, language id, the composed cleanup chain, PII
  * redaction, packing, LM scoring, sampling, mixtures and media decoding.
  */
object Corpus {

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

  /** Planted raw-HTML docs shared by the q50 query and its oracle — the
    * grammar cases the template can't produce: a `</div>` inside a script
    * string (must die with the script), a tag-shaped `< b and c >` run in
    * prose (the cascade's documented loss), table/br structure, and
    * double-encoded entities that must STAY single-encoded.
    */

  private val htmlFixture: Seq[(Long, String)] = {
    val off = 1L << 40
    Seq(
      (off + 21, "<div><p>nested <b>bold</b> text</p><br><table><tr><td>cell one</td><td>cell two</td></tr></table></div>"),
      (off + 22, "<p>a < b and c > d</p><script>while (i<n) { emit('</div>'); }</script><p>tail</p>"),
      (off + 23, "no markup &amp;lt;keeps-encoding&amp;gt; fish &amp; chips&nbsp;&nbsp;end"))
  }

  /** q76's twin base — English, stopword-rich, 20 tokens: passes every
    * row-local verdict so the NFC-dedup effect is what decides the twins'
    * reasons. Shared by the Spark fixture and the oracle literal.
    */
  private val nfcTwinBase: String =
    "the quick brown fox jumps over the lazy dog while " +
      "the small bird watches the calm river at the old"

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

  val leaves: Seq[Leaf] = Seq(
    Leaf("q16_doc_exact_dedup", (s, dir) => {
      // exact dedup: content-hash group, keep lowest doc_id (SURVEY §2#22 dual)
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_doc_id")
    }, oracle =
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_doc_id"""),

    Leaf("q17_doc_token_stats", (s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"),
          col("n_chars"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens, n_chars
         FROM documents ORDER BY doc_id"""),

    Leaf("q18_doc_quality", (s, dir) => {
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
    }, oracle =
      """SELECT doc_id,
         round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_word_len,
         round(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
               / length(text), 4) AS space_ratio
         FROM documents ORDER BY doc_id"""),

    Leaf("q19_embedding_norms", (s, dir) => {
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("l2_norm"),
          col("label"))
        .orderBy("vec_id")
    }, oracle =
      """SELECT vec_id,
         round(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
         label
         FROM embeddings ORDER BY vec_id"""),

    Leaf("q20_lang_distribution", (s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 4).as("avg_chars"))
        .orderBy("lang")
    }, oracle =
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang"""),

    Leaf("q23_doc_text_stats", (s, dir) => {
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
    }, oracle = {
      val stopList = graft.functions.TextFns.LangProfiles.head._2.map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
          round(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                x -> list_contains([$stopList], x))) AS DOUBLE)
                / len(string_split_regex(trim(text), '\\s+')), 4) AS en_stop_ratio,
          CAST(len(regexp_extract_all(text, '[\\p{L}]+|[0-9]+|[^\\p{L}0-9\\s]', 0)) AS INT) AS n_subwords
          FROM documents ORDER BY doc_id"""
    }),

    // q26: the DuckDB oracle re-derives the stopword-ratio scores and the
    // argmax (ties → first profile, all-zero → 'und') from the same public
    // stopword lists — GENERATED from the 12-profile wide model the query
    // runs, so query and oracle can never disagree on the profile data
    Leaf("q26_doc_langid", (s, dir) => {
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
    }, oracle = {
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
    }),

    Leaf("q30_media_features", (s, dir) => {
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
    }, oracle =
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
         FROM documents ORDER BY media_id"""),

    // q38: the oracle recomputes the full composed-cleanup verdict chain —
    // filtered whitespace tokens, stopword-ratio language argmax (same CASE
    // chain as q26, here over the filtered lowered tokens langScores
    // actually uses), the four ROUNDED quality band checks, and the md5
    // dedup window ranking passing docs first then min id
    Leaf("q38_clean_corpus", (s, dir) => {
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
    }, oracle = {
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
    }),

    // q76: the committed verdict-chain CTEs reused VERBATIM over
    // nfc_normalize'd source text — utf8proc's independent normalization
    // feeding DuckDB's independent chain recomputation; the decomposed
    // twin must hash-collide with the composed one and read 'duplicate'
    Leaf("q76_clean_nfc", (s, dir) => {
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
    }, oracle = {
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
    }),

    // q39: the q38 chain EXTENDED by the near-dup stage — the oracle
    // recomputes every verdict ingredient (tokens, language argmax, quality
    // bands, exact-dup window) over the corpus + the two planted non-
    // identical near-dup copies, then applies the survivor rank (kept
    // first, then min id) WITHIN the golden cluster memberships. Only
    // membership is pinned (certain by construction — see the query
    // comment); which member survives and every other column are derived
    // cross-engine.
    Leaf("q39_clean_neardup", (s, dir) => {
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
    }, oracle = {
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
    }),

    Leaf("q47_pii_redact", (s, dir) => {
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
    }, oracle = {
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
    }),

    // q54: the packing map re-derived with the oracle's luxury — ONE
    // ordered window cumsum over the whole corpus (the engine's
    // distributed prefix sum must agree with it exactly), then integral
    // division into packs; empty docs span greatest(n,1)-1 = 0 extra
    // tokens and report their boundary pack twice
    Leaf("q54_pack_offsets", (s, dir) => {
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
    }, oracle =
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
          FROM c ORDER BY id"""),

    // q53: both 8-gram sets (lowercased whitespace tokens, space-joined)
    // and the overlap semi-join re-derived in DuckDB with the zip-unnest
    // machinery; docs shorter than 8 tokens emit no grams on either side
    Leaf("q53_decontaminate", (s, dir) => {
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
    }, oracle = {
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
    }),

    // q55: the oracle retrains the whole bigram model (BOS-prepended
    // pairs, counts, prefix sums, vocab size) over the same reference
    // slice and rescores every doc with the same add-one formula —
    // identical integer-ratio ln arguments in both engines, so round(4)
    // sits 10 orders of magnitude above any libm/summation-order ulp
    Leaf("q55_lm_xent", (s, dir) => {
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
    }, oracle = {
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
    }),

    // q58: the oracle recounts the corpus word-frequency table with the
    // same tokenizer SQL the q17/q55 gates pin and re-derives the same
    // total-ordered top-V cut
    Leaf("q58_bpe_word_counts", (s, dir) => {
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
    }, oracle =
      s"""SELECT f AS word, count(*) AS freq FROM (
            SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS f
            FROM documents) q0
          GROUP BY 1
          ORDER BY freq DESC, word LIMIT 25"""),

    // q59: the oracle retrains the whole q55 bigram LM, rescores every doc
    // (same CTE chain, lang carried through), then re-derives the per-
    // language head/middle/tail buckets from the strictly-smaller-score
    // histogram prefix and integer division — nothing is golden
    Leaf("q59_ccnet_buckets", (s, dir) => {
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
    }, oracle = {
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
    }),

    // q71: DuckDB's utf8proc nfc_normalize recomputes the normalization
    // independently over the same inputs (planted via chr() codepoints —
    // identical VALUES, not identical construction); composition,
    // jamo, reordering, NFKC decoys and the changed flag all compared
    Leaf("q71_nfc_normalize", (s, dir) => {
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
    }, oracle =
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
         FROM a ORDER BY doc_id"""),

    // q65: the oracle ranks with ONE plain ordered window cumsum over the
    // whole corpus (score desc, id asc — the single-partition shape the
    // engine's histogram-prefix + tie-group construction refuses) and
    // re-derives scores, token counts and the keep frontier from scratch
    Leaf("q65_budget_select", (s, dir) => {
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
    }, oracle =
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
         FROM c ORDER BY id"""),

    // q66: inventory, normalization, target floors, epochs and rates all
    // recomputed; weights CAST AS DOUBLE (a bare 0.25 VALUES literal is
    // DECIMAL in DuckDB and would round differently)
    Leaf("q66_mixture_plan", (s, dir) => {
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
    }, oracle =
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
         FROM j ORDER BY source"""),

    // q56: the oracle retrains BOTH hashed-feature models from scratch —
    // unigram+bigram feature strings, 60-bit md5-prefix buckets mod 4096
    // (the q52 hash technique), add-one-smoothed counts over target
    // (doc_id % 7 = 0, real docs only — planted ids land ≡ 0 mod 7 but
    // must NOT enter the target model) and raw (all scored docs), then
    // recomputes every per-doc log-weight sum
    Leaf("q56_dsir_weights", (s, dir) => {
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
    }, oracle = {
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
    }),

    // q57: the oracle regenerates the md5-derived linear model (weight(b)
    // = (60-bit md5 prefix of 'w:graft:<b>' mod 2001 − 1000) / 1000) and
    // rescores every doc — feature buckets, weight sums, sigmoid, the
    // ≥ 0.5 keep verdict
    Leaf("q57_quality_score", (s, dir) => {
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
    }, oracle = {
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
    }),

    // q52: membership recomputed from scratch — the 60-bit key is the
    // first 15 hex chars of md5(doc_id ':' salt) parsed as hex (15 digits
    // fit SIGNED 64-bit in both engines, no sign-wrap dance), reduced
    // mod 10000 and compared to round(weight*10000) from the same shared
    // weights data
    Leaf("q52_stratified_sample", (s, dir) => {
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
    }, oracle = {
      val wSql = sampleWeights
        .map { case (s, w) => s"('$s', ${math.round(w * 10000)})" }
        .mkString(", ")
      s"""WITH w(stratum, thr) AS (VALUES $wSql)
          SELECT doc_id, lang FROM documents d JOIN w ON d.lang = w.stratum
          WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 15))::BIGINT
                % 10000 < thr
          ORDER BY doc_id"""
    }),

    // q50: the whole HTML→text cascade regenerated from the same pattern
    // data (strip regexes with 'g', literal entity replaces in order,
    // whitespace regexes, space+newline edge trim) and re-run by DuckDB's
    // RE2 over the same templated documents ∪ raw-HTML fixtures
    Leaf("q50_html_extract", (s, dir) => {
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
    }, oracle = {
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
    }),

    // q49: the q38 chain EXTENDED by the repetition rung — the oracle
    // recomputes the whole verdict chain including both repetition signals
    // (the q48 machinery spliced into the CTE chain) and the rung's
    // position: after low_quality, before the dup window, which now sorts
    // repetitive docs as failing
    Leaf("q49_clean_repetitive", (s, dir) => {
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
    }, oracle = {
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
    }),

    Leaf("q48_doc_repetition", (s, dir) => {
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
    }, oracle = {
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
    }),

    Leaf("q44_ppm_decode", (s, dir) => {
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
    }, oracle =
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
         FROM documents ORDER BY media_id""")
  )
}
