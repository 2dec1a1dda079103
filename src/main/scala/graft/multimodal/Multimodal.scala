package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for training-data pipelines: image/audio/video
  * as opaque `binary` columns with typed metadata, plus decode and
  * feature-extract stages.
  *
  * Decode layering, honestly stated: formats the bare JVM can parse get a
  * REAL decoder — [[decodePnm]] handles binary Netpbm (P5 grayscale /
  * P6 RGB) end to end: header grammar incl. comments, raster extraction,
  * Rec.601 luma, and [[encodePnm]] back to valid PNM bytes. Codec formats
  * (JPEG/PNG/audio/video) have no codecs in this container, so their
  * kernel remains the clearly-marked deterministic
  * STUB (`stubDecode`); the batch stages take the kernel as a PARAMETER, so
  * a deployment swaps one function for JNI/FFmpeg without touching the
  * Spark plumbing — which is real and tested either way: schema, batch
  * iteration shape (mapPartitions over row batches, the Scala analogue of
  * `mapInPandas`), byte-balanced partitioning, and the metadata contract.
  */
object Multimodal {

  // ------------------------------------------------------- real PNM decode

  /** A decoded Netpbm image: `pixels` is the raw raster, row-major,
    * `channels` bytes per pixel (1 = grayscale P5, 3 = RGB P6).
    */
  final case class PnmImage(
      width: Int, height: Int, channels: Int, maxVal: Int, pixels: Array[Byte])

  private def isPnmWs(c: Byte): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0x0b

  /** REAL binary-Netpbm parser (P5/P6, 8-bit): full header grammar —
    * magic, whitespace runs, `#` comments to end-of-line, width/height/
    * maxval, then exactly ONE whitespace byte before the raster. Returns
    * None for anything malformed or truncated (callers fall back to the
    * stub or drop, explicitly) — never throws on hostile bytes.
    */
  def decodePnm(content: Array[Byte]): Option[PnmImage] = {
    if (content == null || content.length < 2 || content(0) != 'P') return None
    val channels = content(1) match {
      case '5' => 1
      case '6' => 3
      case _ => return None
    }
    var pos = 2
    def skipWs(): Unit = {
      var done = false
      while (!done && pos < content.length) {
        val c = content(pos)
        if (c == '#') { while (pos < content.length && content(pos) != '\n') pos += 1 }
        else if (isPnmWs(c)) pos += 1
        else done = true
      }
    }
    def readInt(): Int = {
      skipWs()
      var v = 0
      var any = false
      while (pos < content.length && content(pos) >= '0' && content(pos) <= '9') {
        v = v * 10 + (content(pos) - '0')
        pos += 1
        any = true
        if (v > 1000000) return -1 // sanity bound: a 10^6-px dimension header on hostile bytes
      }
      if (any) v else -1
    }
    val w = readInt(); val h = readInt(); val mx = readInt()
    if (w <= 0 || h <= 0 || mx <= 0 || mx > 255) return None
    // exactly one whitespace byte separates maxval from the raster — and it
    // must actually BE whitespace: silently advancing past e.g. "255x" would
    // misalign the whole raster instead of honoring the malformed → None
    // contract
    if (pos >= content.length || !isPnmWs(content(pos))) return None
    pos += 1
    val need = w.toLong * h * channels
    if (need > Int.MaxValue || pos + need > content.length) return None
    Some(PnmImage(w, h, channels, mx,
      java.util.Arrays.copyOfRange(content, pos, pos + need.toInt)))
  }

  /** Mean luma over REAL pixels: grayscale mean for P5, Rec.601
    * (0.299 R + 0.587 G + 0.114 B) per pixel for P6.
    */
  def meanLuma(img: PnmImage): Double = {
    val n = img.width * img.height
    if (n == 0) return 0.0
    var sum = 0.0
    var p = 0
    if (img.channels == 1) {
      while (p < n) { sum += (img.pixels(p) & 0xff); p += 1 }
    } else {
      while (p < n) {
        val i = p * 3
        sum += 0.299 * (img.pixels(i) & 0xff) +
          0.587 * (img.pixels(i + 1) & 0xff) +
          0.114 * (img.pixels(i + 2) & 0xff)
        p += 1
      }
    }
    sum / n
  }

  /** Serialize a [[PnmImage]] back to valid binary-Netpbm bytes. */
  def encodePnm(img: PnmImage): Array[Byte] = {
    val header = s"P${if (img.channels == 1) 5 else 6}\n${img.width} ${img.height}\n${img.maxVal}\n"
      .getBytes("US-ASCII")
    val out = new Array[Byte](header.length + img.pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.pixels, 0, out, header.length, img.pixels.length)
    out
  }

  /** The typed media row: content plus the metadata a real pipeline keys on. */
  final case class MediaRow(
      media_id: Long,
      kind: String, // "image" | "audio" | "video"
      content: Array[Byte],
      mime: String,
      width: Int,
      height: Int,
      duration_ms: Int)

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      content_hash: Long,
      // decoded-surface features (stub-derived, deterministic)
      mean_luma: Double,
      frames_sampled: Int)

  /** STUB decoder ­— stands in for an image/audio codec. Deterministic pure
    * function of the bytes: "luma" = mean byte value, "frames" = byte-length
    * buckets. A real deployment swaps this single function for JNI/FFmpeg.
    */
  def stubDecode(content: Array[Byte]): (Double, Int) = {
    if (content == null || content.isEmpty) (0.0, 0)
    else {
      var sum = 0L
      var i = 0
      while (i < content.length) { sum += (content(i) & 0xff); i += 1 }
      (sum.toDouble / content.length, 1 + content.length / 1024)
    }
  }

  /** [[stubDecode]], with the REAL PNM decoder in front: parseable
    * P5/P6 bytes yield true pixel luma (one decoded frame); everything
    * else falls through to the stub. The dispatcher a mixed-format corpus
    * would actually run.
    */
  def pnmOrStubDecode(content: Array[Byte]): (Double, Int) =
    decodePnm(content).map(img => (meanLuma(img), 1)).getOrElse(stubDecode(content))

  /** Decode + featurize in partition-sized batches — one decoder init per
    * partition (the expensive part with real codecs), streaming rows
    * through it. This is the Scala shape of a Pandas `mapInPandas` UDF:
    * iterator-in/iterator-out, no per-row setup. The decode kernel is a
    * parameter (default: the stub — q30's fixture contract): pass
    * [[pnmOrStubDecode]] for the real-PNM-first dispatcher, or a JNI/FFmpeg
    * binding in production.
    */
  def extractFeatures(
      media: Dataset[MediaRow],
      decode: Array[Byte] => (Double, Int) = stubDecode): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real pipeline: val codec = Codec.init() — once per partition
      rows.map { r =>
        val (luma, frames) = decode(r.content)
        MediaFeatures(
          r.media_id, r.kind,
          if (r.content == null) 0L else r.content.length.toLong,
          scala.util.hashing.MurmurHash3.bytesHash(if (r.content == null) Array.empty else r.content).toLong,
          luma, // raw IEEE mean — callers round for display/compare
          frames)
      }
    }
  }

  final case class ImageFeatures(
      media_id: Long, width: Int, height: Int, channels: Int, mean_luma: Double)

  /** REAL image-decode features: rows whose bytes parse as binary Netpbm
    * yield their TRUE geometry and pixel luma; undecodable rows are
    * DROPPED (flatMap) — the explicit contract of a decode stage, not a
    * silent stub substitution. Same batched iterator shape as
    * [[extractFeatures]].
    */
  def decodeImageFeatures(media: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodePnm(r.content).map(img =>
          ImageFeatures(r.media_id, img.width, img.height, img.channels, meanLuma(img)))
      }
    }
  }

  /** Deterministic VALID-P6 media table keyed on doc ids: an 8×6 RGB image
    * per doc with pixel byte i = (doc_id·7 + i·13) mod 256 — real PNM bytes
    * an independent engine can reproduce analytically (the q44 oracle
    * recomputes the Rec.601 mean from the formula alone).
    */
  def syntheticPpm(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val (w, h) = (8, 6)
      val pixels = new Array[Byte](w * h * 3)
      var i = 0
      while (i < pixels.length) { pixels(i) = ((id * 7 + i * 13) % 256).toByte; i += 1 }
      MediaRow(id, "image", encodePnm(PnmImage(w, h, 3, 255, pixels)),
        "image/x-portable-pixmap", w, h, 0)
    }
  }

  /** Deterministic synthetic media table derived from the documents table
    * (bytes = UTF-8 of text; metadata from hashes) — the test fixture for
    * the plumbing above.
    */
  def syntheticMedia(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      // kind keyed on doc_id % 3 (not a hash) so an independent engine can
      // re-derive it — part of the q30 cross-engine oracle contract
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3L)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      lit("application/octet-stream").as("mime"),
      (pmod(xxhash64(col("doc_id"), lit("w")), lit(1920L)) + 1).cast("int").as("width"),
      (pmod(xxhash64(col("doc_id"), lit("h")), lit(1080L)) + 1).cast("int").as("height"),
      (pmod(xxhash64(col("doc_id"), lit("d")), lit(600000L))).cast("int").as("duration_ms"))
      .as[MediaRow]
  }

  /** Repartition media by BYTES, not rows: with multi-MB rows the default
    * row-count-based partitioning produces wildly uneven tasks.
    *
    * True cumulative-size bucketing, fully distributed: a slim pre-pass
    * sums bytes per input partition (P rows to the driver — partition
    * counts, never data), the running per-partition offsets are folded into
    * a column expression, and each row's GLOBAL cumulative byte position is
    * then offset + a per-partition running sum (window partitioned by the
    * input partition id — parallel, no global sort). Bucket =
    * cumBytes / target, so every BUCKET holds ≤ target bytes plus at most
    * one straddling row.
    *
    * Placement is EXACT — one bucket per output partition, so max task
    * bytes ≤ target + max(rowBytes) regardless of skew. Two wrong-but-
    * tempting placements: repartitionByRange samples ROWS, so under
    * byte/row skew (many tiny rows in a few buckets, few fat rows spread
    * over many) the row-weighted boundaries merge unboundedly many
    * byte-heavy buckets into one partition; plain hash-on-bucket-id throws
    * P balls into P bins (multi-bucket collisions, empty partitions).
    * Instead each bucket id is mapped to a SALT probed (with Spark's own
    * Murmur3 `hash`, the same function the hash exchange applies) to land
    * in exactly that partition — the salt table is partition-count-sized,
    * found with one tiny job, and broadcast.
    *
    * The two passes must observe the same partition layout, so the input is
    * required to be deterministic (a table scan / derived plan — true for
    * every source this engine produces). An empty input returns unchanged.
    */
  def repartitionByBytes(media: DataFrame, targetBytesPerPartition: Long): DataFrame = {
    val target = math.max(targetBytesPerPartition, 1L)
    val sized = media
      .withColumn("__bytes", coalesce(length(col("content")).cast("long"), lit(0L)))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__ord", monotonically_increasing_id())
    // slim pre-pass: bytes per input partition (content column pruned away)
    val perPid = sized.groupBy("__pid").agg(sum("__bytes").as("b"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = perPid.map(_._2).sum
    if (total == 0L) return media
    val offsets = perPid.scanLeft((0, 0L)) { case ((_, acc), (pid, b)) => (pid, acc + b) }
      .sliding(2).collect { case Array((_, off), (pid, _)) => pid -> off }.toSeq
    // P offset rows ride a broadcast join (NOT an O(P) when-chain, which
    // would blow Catalyst up at the thousands of input partitions this
    // function exists for)
    import media.sparkSession.implicits._
    val offsetsDf = offsets.toDF("__opid", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy("__ord")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val parts = math.max(1, (total / target).toInt + (if (total % target == 0) 0 else 1))
    // per target partition p, the smallest long whose Spark hash lands in p:
    // pmod(hash(salt), parts) is EXACTLY the exchange's placement rule, so
    // routing bucket b through salt(b) puts it alone in partition b. A
    // candidate pool of 64·parts leaves E[uncovered partitions] ≈ parts·e⁻⁶⁴;
    // the loop widens the pool in the (theoretical) uncovered case.
    var pool = 64L * parts
    var saltOf = Map.empty[Int, Long]
    while (saltOf.size < parts) {
      saltOf = media.sparkSession.range(pool)
        .select(col("id"), pmod(hash(col("id")), lit(parts)).as("p"))
        .groupBy("p").agg(min("id").as("s"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      pool *= 4
    }
    val saltDf = saltOf.toSeq.toDF("__b", "__salt")
    sized
      .join(broadcast(offsetsDf), col("__pid") === col("__opid"), "left")
      // bucket by the cumulative bytes BEFORE this row, so a fat row starts
      // in the bucket where the previous row ended (never splits). Clamped
      // to parts-1: a trailing ZERO-byte row whose preceding cumulative
      // bytes equal `total` would otherwise compute bucket == parts when
      // total divides target exactly — a bucket with no salt row, and the
      // inner salt join below would silently drop the row
      .withColumn("__cum",
        coalesce(sum("__bytes").over(w), lit(0L)) + coalesce(col("__off"), lit(0L)))
      .withColumn("__bucket",
        least((col("__cum") / target).cast("int"), lit(parts - 1)))
      .join(broadcast(saltDf), col("__bucket") === col("__b"))
      .repartition(parts, col("__salt"))
      .drop("__bytes", "__pid", "__ord", "__cum", "__bucket", "__opid", "__off", "__b", "__salt")
  }
}
