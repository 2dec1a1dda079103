package graft

import org.apache.spark.sql.functions._

import graft.dedup.DocDedup
import graft.expr.Native
import graft.functions.TextFns
import graft.urls.{UrlCols, Urls}

/** Native Catalyst expressions ≡ the UDF reference implementations, on the
  * messy inputs each kernel exists for, plus null-safety and the
  * codegen-participation contract that justifies their existence.
  */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  // The references: UDFs over the plain-Scala functions the kernels call.
  private val canonicalUdf = udf((u: String) => Urls.canonicalize(u))
  private val scrapyFpOfCanonicalUdf = udf((c: String) => Urls.scrapyFingerprintOfCanonical(c))
  private val winnowUdf = udf(TextFns.winnow _)
  private val nfcNormalizeUdf = udf((s: String) =>
    if (s == null) null else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  // per bit: +1/-1 by each token's md5 bit, sign → bit
  private val simhashUdf = udf((toks: Seq[String]) => {
    val counts = new Array[Int](64)
    toks.foreach { t =>
      val h = DocDedup.md5Long64(t)
      for (i <- 0 until 64) counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
    }
    (0 until 64).foldLeft(0L)((out, i) => if (counts(i) > 0) out | (1L << i) else out)
  })

  private val urls = Seq(
    "HTTP://Host.Example.COM:80/a/b?z=1&a=2#frag",
    "https://user@host.example.com.:443/p?x=%7e&x=2",
    "http://no-path.example.com",
    "http://weird_host.example.com/p",
    "relative/path?b=2&a=1",
    "").toDF("url")

  test("native canonicalize ≡ UDF canonicalize on messy URLs, incl. nulls") {
    val both = urls.select(
      Native.canonicalize(col("url")).as("native"),
      canonicalUdf(col("url")).as("viaUdf"))
      .unionByName(Seq.empty[String].toDF("u").select(
        lit(null: String).as("url")).select(
        Native.canonicalize(col("url")).as("native"),
        canonicalUdf(col("url")).as("viaUdf")))
    assert(both.filter(!(col("native") <=> col("viaUdf"))).count() === 0L)
    val n = urls.union(Seq((null: String)).toDF("url"))
      .select(Native.canonicalize(col("url"))).as[String].collect()
    assert(n.length === 7)
    assert(n.count(_ == null) === 1, "null in -> null out")
  }

  test("native scrapy fingerprint ≡ UDF on canonical urls") {
    val canon = urls.filter(col("url") =!= "").select(
      canonicalUdf(col("url")).as("c"))
    val both = canon.select(
      Native.scrapyFpOfCanonical(col("c")).as("native"),
      scrapyFpOfCanonicalUdf(col("c")).as("viaUdf"))
    assert(both.filter(!(col("native") <=> col("viaUdf"))).count() === 0L)
  }

  test("native simhash ≡ UDF simhash on the doc corpus") {
    val docs = graft.synth.BenchWorkload.docs(spark, 500, 200)
      .select(filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= "").as("toks"))
    val both = docs.select(
      Native.simhash64(col("toks")).as("native"),
      simhashUdf(col("toks")).as("viaUdf"))
    assert(both.filter(col("native") =!= col("viaUdf")).count() === 0L)
  }

  test("native winnow fingerprint ≡ UDF on the doc corpus, both hash families") {
    val docs = graft.synth.BenchWorkload.docs(spark, 300, 200).select("text")
    for (kind <- Seq("poly", "md5")) {
      val both = docs.select(
        Native.winnowFingerprint(col("text"), 9, 16, kind).as("native"),
        winnowUdf(col("text"), lit(9), lit(16), lit(kind)).as("viaUdf"))
      assert(both.filter(!(col("native") <=> col("viaUdf"))).count() === 0L, kind)
    }
    // null text: the Column builder coalesces to the kernel's empty array
    val n = Seq((null: String)).toDF("text")
      .select(TextFns.fingerprint(col("text"))).as[Seq[Long]].head()
    assert(n === Seq.empty[Long])
  }

  test("native nfcNormalize: composition goldens, decoys, idempotence, codegen") {
    val cases = Seq(
      "é" -> "é",                  // combining acute composes
      "Å" -> "Å",                  // combining ring composes
      "가" -> "가",             // Hangul jamo compose to 가
      "q̣̇" -> "q̣̇",     // canonical reordering (ccc 220 < 230)
      "ﬁ" -> "ﬁ",                   // fi ligature: NFKC-only, must NOT change
      "½" -> "½",                   // ½: NFKC-only decoy
      "é" -> "é",                   // already composed: fast path
      "plain ascii" -> "plain ascii",
      "😀" -> "😀")       // non-BMP passthrough
    val df = cases.zipWithIndex.map { case ((in, _), i) => (i, in) }.toDF("i", "t")
      .select(col("i"), Native.nfcNormalize(col("t")).as("n"))
    val got = df.as[(Int, String)].collect().toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i) === want, s"input codepoints ${in.map(_.toInt).mkString(",")}")
      assert(java.text.Normalizer.isNormalized(got(i), java.text.Normalizer.Form.NFC))
    }
    // idempotence over the normalized output
    val twice = cases.zipWithIndex.map { case ((in, _), i) => (i, in) }.toDF("i", "t")
      .select(Native.nfcNormalize(Native.nfcNormalize(col("t"))).as("n2")).as[String].collect()
    assert(twice.toSeq === cases.map(_._2))
    // null propagation
    assert(Seq((null: String)).toDF("t")
      .select(Native.nfcNormalize(col("t"))).as[String].head() === null)
    // native ≡ UDF reference on the same inputs
    val both = cases.map(_._1).toDF("t").select(
      Native.nfcNormalize(col("t")).as("n"),
      nfcNormalizeUdf(col("t")).as("u"))
    assert(both.filter(!(col("n") <=> col("u"))).count() === 0L)
  }

  test("native expressions run inside WholeStageCodegen with no ScalaUDF in the plan") {
    // range-derived input: a literal Seq would be ConvertToLocalRelation'd
    // into a pre-evaluated LocalTableScan and show no codegen at all
    val df = spark.range(1000)
      .select(concat(lit("HTTP://Host"), col("id"), lit(".Example.com:80/p?b=1&a=2#f")).as("url"))
      .select(
        Native.canonicalize(col("url")).as("c"),
        UrlCols.hostCol(col("url")).as("h"),
        Native.simhash64(split(col("url"), "/")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` is the whole-stage-codegen star: the projection carrying the
    // native expressions must be inside a fused stage
    assert("""\*\(\d+\) Project \[graft_canonicalize""".r.findFirstIn(plan).isDefined, plan)
    // hostCol's rare-row fallback is now the native expression too — the
    // whole projection must be UDF-free
    assert(!plan.contains("ScalaUDF"), plan)
    // and the generated code actually compiles (a janino failure would fall
    // back silently at runtime): force execution and check a value
    assert(df.count() === 1000L)
    assert(df.select("h").as[String].head() === "host0.example.com")
  }
}
