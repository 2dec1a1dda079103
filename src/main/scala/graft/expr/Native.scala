package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-row kernels that previously ran
  * as Scala UDFs (URL canonicalization, Scrapy fingerprint, SimHash).
  *
  * Why (the brief's preference order: native Expression > Scala UDF): a
  * `ScalaUDF` wraps every call in catalyst↔scala converters — for the
  * SimHash UDF that means materializing a boxed `Seq[String]` (one String
  * allocation per token) per ROW before the kernel even starts; for the
  * URL kernels a UTF8String→String→UTF8String round trip plus the closure
  * dispatch. These expressions instead `defineCodeGen` a direct static
  * call into [[Kernels]], so the generated code stays inside the
  * whole-stage-codegen loop and the kernels consume Spark's internal
  * `UTF8String`/`ArrayData` representations with no converter layer.
  * The kernels delegate to the SAME pure functions the UDFs used
  * (`Urls.canonicalize`, `DocDedup.md5Long64Bytes` bit loops), so
  * byte-parity contracts and golden tests are untouched.
  *
  * Measured (8M-row fresh-JVM A/B, local[16], best-of 2 reps; "Round-5"
  * in BENCH/BASELINE.md): canonicalize 1.18×, simhash tokens→signature 1.23×,
  * scrapy-fingerprint 1.20×, winnowing fingerprint 1.15× over the UDF
  * forms — the converter layer is pure overhead at 10^10-row scale.
  */
object Kernels {

  def canonicalize(u: UTF8String): UTF8String = {
    val s = graft.urls.Urls.canonicalize(u.toString)
    if (s == null) null else UTF8String.fromString(s)
  }

  def scrapyFpOfCanonical(c: UTF8String): UTF8String =
    UTF8String.fromString(graft.urls.Urls.scrapyFingerprintOfCanonical(c.toString))

  def hostOf(u: UTF8String): UTF8String = {
    val s = graft.urls.Urls.hostOf(u.toString)
    if (s == null) null else UTF8String.fromString(s)
  }

  /** Unicode NFC normalization (UAX #15) — the text-cleanup step a
    * web-text corpus needs before ANY content-hash dedup: the same visible
    * string arrives from the web in composed and decomposed forms
    * ("é" as U+00E9 vs e+U+0301), and un-normalized text makes exact
    * dedup, line dedup and shingle hashes silently miss duplicates.
    * `isNormalized` fast-path first: real web text is overwhelmingly
    * ASCII/already-NFC, and the check is allocation-free, so the common
    * row costs one scan and returns the INPUT UTF8String unchanged.
    */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  private val WsPattern = UTF8String.fromString("\\s+")

  /** Fused MinHash signature straight from document text — ONE row-local
    * pass replacing the 3-stage expression chain (`DocDedup.shingles`,
    * then `xxhash64` per shingle, then per permutation i the `array_min`
    * of `xxhash64(h, i)`; NativeSigSpec keeps it as the reference),
    * bit-identically:
    *
    *  - tokenize exactly like `filter(split(lower(trim(text)), "\\s+"),
    *    t =!= "")`: the SAME `UTF8String.trim/toLowerCase/split` methods
    *    the Catalyst expressions call, so every locale/whitespace corner
    *    reproduces by construction;
    *  - shingle strings are the byte-identical `array_join(slice(toks,
    *    i+1, k), " ")` values (`UTF8String.concatWs`), hashed with the
    *    byte-identical `xxhash64(shingle)` (`XXH64.hashUTF8String`, seed
    *    42 — Spark's own mixer, not a reimplementation);
    *  - signature entry j = min over shingles of `xxhash64(h, lit(j))` =
    *    `hashInt(j, hashLong(h, 42))` — but with the loop order swapped:
    *    the expression chain paid `hashLong + hashInt` per (shingle ×
    *    permutation) PLUS one `transform` ArrayData allocation + one
    *    `array_min` scan per permutation; here each shingle's base
    *    `hashLong` is computed once and only the cheap `hashInt` mix runs
    *    per permutation, with zero intermediate allocation. ~64× fewer
    *    `hashLong`s and no 64 per-row array materializations — the whole
    *    win, with the arithmetic unchanged.
    *
    * `array_distinct` from the original chain is dropped: duplicate
    * shingles cannot change a min. A null text reproduces the legacy
    * chain's null path (one null shingle, whose `xxhash64` is the
    * untouched seed 42).
    */
  def minhashSig(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    if (text == null) {
      // trim/lower/split/array_join all null-propagate, array(·) wraps the
      // null join into [null], and xxhash64(null) leaves the seed: 42
      minhashMix(42L, sig)
    } else {
      val parts = text.trim().toLowerCase().split(WsPattern, -1)
      // filter(t =!= "") — drop empty tokens in place
      var n = 0
      var p = 0
      while (p < parts.length) {
        if (parts(p).numBytes() > 0) { parts(n) = parts(p); n += 1 }
        p += 1
      }
      if (n >= k) {
        val shingle = new Array[UTF8String](k)
        var i = 0
        while (i <= n - k) {
          var j = 0
          while (j < k) { shingle(j) = parts(i + j); j += 1 }
          minhashMix(XXH64.hashUTF8String(UTF8String.concatWs(SpaceSep, shingle: _*), 42L), sig)
          i += 1
        }
      } else {
        val all = new Array[UTF8String](n)
        System.arraycopy(parts, 0, all, 0, n)
        minhashMix(XXH64.hashUTF8String(UTF8String.concatWs(SpaceSep, all: _*), 42L), sig)
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sig)
  }

  private val SpaceSep = UTF8String.fromString(" ")

  private def minhashMix(h: Long, sig: Array[Long]): Unit = {
    val base = XXH64.hashLong(h, 42L)
    var j = 0
    while (j < sig.length) {
      val v = XXH64.hashInt(j, base)
      if (v < sig(j)) sig(j) = v
      j += 1
    }
  }

  /** Random-hyperplane LSH signature with the hyperplane matrix
    * PRECOMPUTED — bit-identical to the expression form it replaced, which
    * recomputed `xxhash64(lit(t·10007+i), d)` (two `hashInt` mixes), a
    * `pmod` and two casts for EVERY (row × bit × dimension) even though the
    * value depends only on (t, i, d); here the weight matrix is derived
    * once per (t, bits, dim) per JVM — from the same `XXH64.hashInt`
    * mixers and the same floorMod/scale arithmetic — and each row pays a
    * pure dot product. Accumulation order (ascending dimension, `0.0 + x_d·w_d`)
    * and the `proj >= 0` bit rule are unchanged, so signatures are
    * bit-identical.
    *
    * Null/empty parity with the expression form: null vector or any null
    * element → every bit's `when(proj >= 0, …).otherwise(0)` took the
    * otherwise branch → 0L; an EMPTY vector also collapses to 0L (its
    * `sequence(0, size-1)` is the DESCENDING [0, -1], whose zip_with
    * null-pads the empty side → null proj → otherwise branch).
    */
  def hyperplaneSig(vec: ArrayData, t: Int, bits: Int, doubleElems: Boolean): Long = {
    if (vec == null) return 0L
    val n = vec.numElements()
    if (n == 0) return 0L
    var d = 0
    while (d < n) { if (vec.isNullAt(d)) return 0L; d += 1 }
    val w = hyperplaneWeights(t, bits, n)
    var sig = 0L
    var i = 0
    while (i < bits) {
      val wi = w(i)
      var proj = 0.0
      var j = 0
      if (doubleElems) while (j < n) { proj += vec.getDouble(j) * wi(j); j += 1 }
      else while (j < n) { proj += vec.getFloat(j).toDouble * wi(j); j += 1 }
      if (proj >= 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  // weight matrices are tiny ((bits × dim) doubles), deterministic, and
  // keyed by (t, bits, dim) — computed once per JVM and shared by every
  // task thread thereafter
  private val hyperplaneCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  private def hyperplaneWeights(t: Int, bits: Int, dim: Int): Array[Array[Double]] =
    hyperplaneCache.computeIfAbsent((t, bits, dim), { key =>
      val (tt, bb, nn) = key
      Array.tabulate(bb) { i =>
        val seed = XXH64.hashInt(tt * 10007 + i, 42L)
        Array.tabulate(nn) { d =>
          (java.lang.Math.floorMod(XXH64.hashInt(d, seed), 2000001L) - 1000000L).toDouble / 1000000.0
        }
      }
    })

  /** Dot product with double accumulation — replaces the
    * `aggregate(zip_with(a, b, x·y), 0.0, +)` expression tree
    * bit-identically (ascending-index fold from 0.0, each element cast to
    * double first) without materializing the zipped intermediate array
    * per call. Null parity with the expression form: `zip_with` pads
    * unequal lengths with nulls and a null term poisons the fold, so
    * unequal lengths or any null element → null (boxed).
    */
  def dotDouble(a: ArrayData, b: ArrayData, aDouble: Boolean, bDouble: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      acc += x * y
      i += 1
    }
    acc
  }

  /** Squared-L2 distances to K centroid constants in one row-local pass —
    * replaces `Ann.distsExpr`'s K aggregate-over-zip_with trees (each
    * codegen'd around a K×dim literal array) bit-identically: per
    * centroid, ascending-dimension fold of `(x−c)·(x−c)` from 0.0. A null
    * element (or a vector shorter than a centroid — zip_with's null pad)
    * made every distance null, which collapsed downstream argmin/probe
    * lists to null; the kernel returns null for the whole array then
    * (same downstream result, embeddings are non-null by construction).
    */
  def ivfDists(vec: ArrayData, cents: Array[Array[Double]], doubleElems: Boolean): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Double](cents.length)
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      if (c.length != n) return null
      var acc = 0.0
      var d = 0
      while (d < n) {
        if (vec.isNullAt(d)) return null
        val x = if (doubleElems) vec.getDouble(d) else vec.getFloat(d).toDouble
        val t = x - c(d)
        acc += t * t
        d += 1
      }
      out(k) = acc
      k += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** SimHash over a token array, consuming `ArrayData` directly: per token
    * one UTF-8 byte-array view → md5 → 64 ± votes. Null tokens are skipped
    * (the UDF's Seq conversion surfaced them as nulls too — token arrays
    * here come from `split`, which never yields null elements).
    */
  def simhash(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val h = graft.dedup.DocDedup.md5Long64Bytes(tokens.getUTF8String(t).getBytes)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
          i += 1
        }
      }
      t += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
    out
  }
}

// inputs are always constructed internally with the right types, so no
// ImplicitCastInputTypes contract is needed (AbstractDataType is private[sql])
abstract class GraftUnaryKernel extends UnaryExpression {
  /** Fully-qualified static call target in [[Kernels]]. */
  protected def kernelName: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.Kernels.$kernelName($c)")
}

case class CanonicalizeUrl(child: Expression) extends GraftUnaryKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_canonicalize"
  override protected def kernelName: String = "canonicalize"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.canonicalize(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): CanonicalizeUrl =
    copy(child = newChild)
}

case class ScrapyFpOfCanonical(child: Expression) extends GraftUnaryKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_scrapy_fp"
  override protected def kernelName: String = "scrapyFpOfCanonical"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.scrapyFpOfCanonical(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): ScrapyFpOfCanonical =
    copy(child = newChild)
}

case class HostOfUrl(child: Expression) extends GraftUnaryKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_host_of"
  override protected def kernelName: String = "hostOf"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.hostOf(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): HostOfUrl =
    copy(child = newChild)
}

case class NfcNormalize(child: Expression) extends GraftUnaryKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc_normalize"
  override protected def kernelName: String = "nfcNormalize"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.nfcNormalize(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

case class SimHash64(child: Expression) extends GraftUnaryKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"
  override protected def kernelName: String = "simhash"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.simhash(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Winnowing document fingerprint ([[graft.functions.TextFns.winnow]]) as
  * a native expression: text → sorted distinct array of selected k-gram
  * hashes. k/window/hashKind are plan-time constants (they parameterize the
  * kernel, not per-row data), embedded directly in the generated call.
  * NULL text yields NULL (standard null-propagation); the Column builder
  * `TextFns.fingerprint` coalesces to the kernel's empty-array contract.
  */
case class WinnowFingerprint(child: Expression, k: Int, window: Int, hashKind: String)
    extends UnaryExpression {
  require(hashKind == "poly" || hashKind == "md5", s"unknown hash kind $hashKind")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_fingerprint"
  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.functions.TextFns.winnow(input.asInstanceOf[UTF8String].toString, k, window, hashKind))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""new org.apache.spark.sql.catalyst.util.GenericArrayData(
          graft.functions.TextFns.winnow($c.toString(), $k, $window, "$hashKind"))""")
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
}

/** Fused text→MinHash-signature kernel ([[Kernels.minhashSig]]): k and
  * numHashes are plan-time constants. NEVER null — a null text reproduces
  * the legacy expression chain's null-path signature (the kernel handles
  * it), so the expression evaluates its child itself instead of the
  * default null-propagation.
  */
case class MinHashSigFromText(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_sig"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    Kernels.minhashSig(child.eval(input).asInstanceOf[UTF8String], k, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        final org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.expr.Kernels.minhashSig(
            ${c.isNull} ? null : ${c.value}, $k, $numHashes);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSigFromText =
    copy(child = newChild)
}

/** Random-hyperplane LSH signature with a per-JVM precomputed hyperplane
  * matrix ([[Kernels.hyperplaneSig]]). NEVER null: the expression form it
  * replaces collapses a null vector (or null element) to signature 0L via
  * each bit's `otherwise(0)` branch, and the kernel reproduces that.
  */
case class HyperplaneSig(child: Expression, t: Int, bits: Int) extends UnaryExpression {
  // lazy: the child is unresolved at construction (dataType would throw);
  // both eval and doGenCode run post-analysis
  private lazy val doubleElems = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hyperplane_sig"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    Kernels.hyperplaneSig(
      child.eval(input).asInstanceOf[ArrayData], t, bits, doubleElems)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        final long ${ev.value} = graft.expr.Kernels.hyperplaneSig(
          ${c.isNull} ? null : ${c.value}, $t, $bits, $doubleElems);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** Dot product with double accumulation ([[Kernels.dotDouble]]); element
  * types (float/double) are resolved per side post-analysis. Nullable: the
  * kernel returns null for unequal lengths / null elements (the zip_with
  * null-pad semantics it replaces).
  */
case class DotDouble(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private lazy val leftDouble = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  private lazy val rightDouble = right.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dotDouble(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], leftDouble, rightDouble)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dot")
      s"""java.lang.Double $tmp = graft.expr.Kernels.dotDouble($a, $b, $leftDouble, $rightDouble);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotDouble =
    copy(left = newLeft, right = newRight)
}

/** Squared-L2 distances to K centroid constants ([[Kernels.ivfDists]]).
  * The centroid matrix is a plan-time constant carried on the expression
  * (model-sized — nLists × dim doubles) and referenced, not inlined, by
  * the generated code: the expression form it replaces codegen'd K
  * aggregate trees around K×dim literals, a source-size cost paid at
  * every compile.
  */
case class IvfDists(child: Expression, cents: Array[Array[Double]]) extends UnaryExpression {
  private lazy val doubleElems = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_ivf_dists"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.ivfDists(input.asInstanceOf[ArrayData], cents, doubleElems)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("graftIvfCents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("dists")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.expr.Kernels.ivfDists($c, $centsRef, $doubleElems);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
         |""".stripMargin
    })
  }
  // the centroid matrix participates in semantic equality: two IvfDists
  // over different trained models must never canonicalize together
  override def equals(o: Any): Boolean = o match {
    case IvfDists(c, cs) =>
      c == child && cs.length == cents.length &&
        cs.indices.forall(i => java.util.Arrays.equals(cs(i), cents(i)))
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + cents.map(java.util.Arrays.hashCode).toSeq.hashCode()
  override protected def withNewChildInternal(newChild: Expression): IvfDists =
    copy(child = newChild)
}

/** Column-level constructors. */
object Native {
  def canonicalize(url: Column): Column =
    ColumnBridge.column(CanonicalizeUrl(ColumnBridge.expression(url)))
  def scrapyFpOfCanonical(canon: Column): Column =
    ColumnBridge.column(ScrapyFpOfCanonical(ColumnBridge.expression(canon)))
  def hostOf(url: Column): Column =
    ColumnBridge.column(HostOfUrl(ColumnBridge.expression(url)))
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))
  def nfcNormalize(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))
  def winnowFingerprint(text: Column, k: Int, window: Int, hashKind: String): Column =
    ColumnBridge.column(WinnowFingerprint(ColumnBridge.expression(text), k, window, hashKind))
  def minhashSig(text: Column, k: Int, numHashes: Int): Column =
    ColumnBridge.column(MinHashSigFromText(ColumnBridge.expression(text), k, numHashes))
  def hyperplaneSig(vec: Column, t: Int, bits: Int): Column =
    ColumnBridge.column(HyperplaneSig(ColumnBridge.expression(vec), t, bits))
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotDouble(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def ivfDists(vec: Column, cents: Array[Array[Double]]): Column =
    ColumnBridge.column(IvfDists(ColumnBridge.expression(vec), cents))
}
