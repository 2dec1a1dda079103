package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.DocDedup
import graft.expr.Native

/** r07 fused signature kernels ≡ the expression chains they replaced,
  * bit-for-bit, on realistic corpora plus every null/empty/unicode corner
  * the chains' null-propagation semantics produce. These pins are what
  * lets minhashPairs/hyperplaneSignature swap in the native kernels
  * without touching any gated oracle.
  */
class NativeSigSpec extends SparkSpec {
  import spark.implicits._

  /** The 3-stage MinHash chain the fused kernel replaced: shingles, one
    * xxhash64 per shingle, then signature[i] = min over those h of
    * xxhash64(h, i).
    */
  private def minhashChain(text: Column, numHashes: Int): Column = {
    val hashes = transform(DocDedup.shingles(text), s => xxhash64(s))
    array((0 until numHashes).map(i => array_min(transform(hashes, h => xxhash64(h, lit(i))))): _*)
  }

  /** The expression form of the hyperplane signature the native kernel
    * replaced: every weight re-derived per row from xxhash64(t·10007+i, d).
    */
  private def hyperplaneSignatureExpr(vec: Column, t: Int, bits: Int): Column = {
    val dims = sequence(lit(0), size(vec) - 1)
    (0 until bits).map { i =>
      val proj = aggregate(
        zip_with(vec, dims, (x, d) =>
          x.cast("double") *
            ((pmod(xxhash64(lit(t * 10007 + i), d), lit(2000001L)) - 1000000L).cast("double") / 1000000.0)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
  }

  private def edgeDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, ""), // empty text -> zero tokens -> single empty shingle
    (3L, "   \t \n "), // whitespace-only
    (4L, "one two"), // fewer tokens than k=3
    (5L, "x"), // single token
    (6L, "Café café ÉLÉPHANT tabs\tand\nnewlines"),
    (7L, "nbsp is not regex whitespace so it rides the token"),
    (8L, "dup dup dup dup dup dup dup dup"), // duplicate shingles
    (9L, null.asInstanceOf[String]) // null text (legacy chain null path)
  ).toDF("doc_id", "text")

  test("fused native minhash signature ≡ 3-stage expression chain (corpus + edges)") {
    val docs = graft.synth.BenchWorkload.docs(spark, 400, 200)
      .select(col("doc_id"), col("text"))
      .unionByName(edgeDocs)
    val both = docs.select(
      col("doc_id"),
      Native.minhashSig(col("text"), 3, 64).as("fused"),
      minhashChain(col("text"), 64).as("chain"))
    assert(both.filter(!(col("fused") <=> col("chain"))).count() === 0L)
    // non-default numHashes too (nearDupPairs uses the default; guard the knob)
    val k8 = docs.select(
      Native.minhashSig(col("text"), 3, 8).as("fused"),
      minhashChain(col("text"), 8).as("chain"))
    assert(k8.filter(!(col("fused") <=> col("chain"))).count() === 0L)
  }

  test("native hyperplane signature ≡ expression form (float vecs + null/empty corners)") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, (0 until 16).map(d => ((i * 31 + d * 7) % 97 - 48) / 13.0f))
    }.toDF("vec_id", "embedding")
      .unionByName(Seq((9000L, Seq.empty[Float])).toDF("vec_id", "embedding"))
      .unionByName(Seq((9001L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    for (t <- 0 until 4) {
      val both = vecs.select(
        col("vec_id"),
        Native.hyperplaneSig(col("embedding"), t, 12).as("native"),
        hyperplaneSignatureExpr(col("embedding"), t, 12).as("expr"))
      assert(both.filter(!(col("native") <=> col("expr"))).count() === 0L,
        s"mismatch at table $t")
    }
    // empty vector: sequence(0, -1) is the DESCENDING [0, -1], zip_with
    // null-pads the empty side -> null proj -> otherwise(0) on every bit
    val emptySig = vecs.filter(col("vec_id") === 9000L)
      .select(Native.hyperplaneSig(col("embedding"), 0, 12)).as[Long].head()
    assert(emptySig === 0L)
    // null vector: every bit's otherwise(0) branch -> 0
    val nullSig = vecs.filter(col("vec_id") === 9001L)
      .select(Native.hyperplaneSig(col("embedding"), 0, 12)).as[Long].head()
    assert(nullSig === 0L)
  }

  test("native hyperplane signature ≡ expression form on double-element arrays") {
    val vecs = (0 until 50).map { i =>
      (i.toLong, (0 until 8).map(d => ((i * 13 + d * 5) % 53 - 26) / 9.0))
    }.toDF("vec_id", "embedding")
    val both = vecs.select(
      Native.hyperplaneSig(col("embedding"), 2, 12).as("native"),
      hyperplaneSignatureExpr(col("embedding"), 2, 12).as("expr"))
    assert(both.filter(!(col("native") <=> col("expr"))).count() === 0L)
  }

  /** The pre-r07 expression form of `Ann.dot`. */
  private def dotExpr(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** The pre-r07 expression form of the IVF distance array: one squared
    * distance per centroid.
    */
  private def distsExprLegacy(emb: Column, cents: Array[Array[Double]]): Column =
    array(cents.toIndexedSeq.map { c =>
      aggregate(
        zip_with(emb, typedLit(c), (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)
    }: _*)

  test("native dot ≡ aggregate/zip_with expression form (incl. unequal lengths, nulls)") {
    val vecs = (0 until 100).map { i =>
      ((0 until 12).map(d => ((i * 7 + d) % 31 - 15) / 4.0f),
        (0 until 12).map(d => ((i * 11 + d * 3) % 29 - 14) / 5.0f))
    }.toDF("a", "b")
      .unionByName(Seq((Seq(1.0f, 2.0f), Seq(3.0f))).toDF("a", "b")) // unequal lengths
      .unionByName(Seq((Seq(1.0f), null.asInstanceOf[Seq[Float]])).toDF("a", "b"))
    val both = vecs.select(
      Ann.dot(col("a"), col("b")).as("native"),
      dotExpr(col("a"), col("b")).as("expr"))
    assert(both.filter(!(col("native") <=> col("expr"))).count() === 0L)
    // l2Norm == sqrt(self-dot) == the old aggregate form
    val norms = vecs.filter(col("a").isNotNull).select(
      Ann.l2Norm(col("a")).as("native"),
      sqrt(aggregate(col("a"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))).as("expr"))
    assert(norms.filter(!(col("native") <=> col("expr"))).count() === 0L)
  }

  test("native ivf distance array ≡ per-centroid aggregate expression form") {
    val cents = Array.tabulate(8)(k => Array.tabulate(16)(d => ((k * 5 + d * 3) % 17 - 8) / 3.0))
    val vecs = (0 until 100).map { i =>
      (i.toLong, (0 until 16).map(d => ((i * 31 + d * 7) % 97 - 48) / 13.0f))
    }.toDF("vec_id", "embedding")
    val both = vecs.select(
      graft.expr.Native.ivfDists(col("embedding"), cents).as("native"),
      distsExprLegacy(col("embedding"), cents).as("expr"))
    assert(both.filter(!(col("native") <=> col("expr"))).count() === 0L)
  }

  test("minhashPairs still surfaces planted exact duplicates at agreement 1.0") {
    val docs = graft.synth.BenchWorkload.docs(spark, 200, 0)
      .select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val pairs = DocDedup.minhashPairs(docs.unionByName(planted), threshold = 0.9)
      .filter(col("id_b") - col("id_a") === 1000000L)
      .orderBy("id_a").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 1000000L), (1L, 1000001L), (2L, 1000002L)))
    assert(pairs.forall(_.getDouble(2) === 1.0))
  }
}
