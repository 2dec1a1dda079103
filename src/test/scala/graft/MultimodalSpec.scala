package graft

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "hello binary world"),
    (2L, "another longer document body with more bytes in it"),
    (3L, "x")).toDF("doc_id", "text")

  test("media plumbing: schema, deterministic stub features, batch shape") {
    val media = Multimodal.syntheticMedia(docs)
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats.length === 3)
    assert(feats.map(_.media_id).toSeq === Seq(1L, 2L, 3L))
    // n_bytes = utf-8 length of source text
    assert(feats(0).n_bytes === "hello binary world".getBytes("UTF-8").length)
    // deterministic: re-run yields identical features
    val again = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats.map(_.toString).toSeq === again.map(_.toString).toSeq)
    // stub decode invariants
    val (luma, frames) = Multimodal.stubDecode("ab".getBytes)
    assert(luma === ('a'.toInt + 'b'.toInt) / 2.0)
    assert(frames === 1)
    assert(Multimodal.stubDecode(Array.empty) === ((0.0, 0)))
  }

  test("repartitionByBytes keeps every row") {
    val media = Multimodal.syntheticMedia(docs).toDF
    val out = Multimodal.repartitionByBytes(media, targetBytesPerPartition = 16)
    assert(out.count() === 3)
    assert(out.columns.toSet === media.columns.toSet)
  }

  test("repartitionByBytes truly balances bytes under pathological skew") {
    import org.apache.spark.sql.functions._
    // 200 tiny rows (~20 B) + 4 fat rows (~50 KB): row-count balancing
    // would put all fat rows wherever their hash lands; byte balancing
    // must bound every partition at target + maxRowBytes
    val rows = (1L to 200L).map(i => (i, "t" * 20)) ++
      (1L to 4L).map(i => (1000L + i, "F" * 50000))
    val media = rows.toDF("media_id", "txt")
      .select(col("media_id"), encode(col("txt"), "UTF-8").as("content"))
    val target = 60000L
    val out = Multimodal.repartitionByBytes(media, target)
    assert(out.count() === 204)
    val perPart = out
      .select(length(col("content")).cast("long").as("b"))
      .withColumn("p", spark_partition_id())
      .groupBy("p").agg(sum("b").as("bytes"))
      .collect().map(_.getAs[Long]("bytes"))
    val maxRow = 50000L
    assert(perPart.max <= target + maxRow,
      s"partition exceeds target+maxRow: ${perPart.mkString(",")}")
    // the fat rows cannot all land in one partition
    assert(perPart.count(_ >= maxRow) >= 2)
  }

  test("repartitionByBytes: exact placement survives row/byte anti-correlation") {
    import org.apache.spark.sql.functions._
    // 20000 tiny rows (~all of the ROWS, a few buckets) followed by 40 fat
    // 50 KB rows (each ~a bucket of its own): row-sampled range boundaries
    // would merge nearly all fat buckets into one partition (~40x target);
    // the salt-exact placement must hold every partition at target + maxRow
    val rows = (1L to 20000L).map(i => (i, "t" * 20)) ++
      (1L to 40L).map(i => (100000L + i, "F" * 50000))
    val media = rows.toDF("media_id", "txt")
      .select(col("media_id"), encode(col("txt"), "UTF-8").as("content"))
    val target = 60000L
    val out = Multimodal.repartitionByBytes(media, target)
    assert(out.count() === 20040)
    val perPart = out.select(length(col("content")).cast("long").as("b"))
      .withColumn("p", spark_partition_id())
      .groupBy("p").agg(sum("b").as("bytes"))
      .collect().map(_.getAs[Long]("bytes"))
    assert(perPart.max <= target + 50000L,
      s"bound broken, top partitions: ${perPart.sorted.reverse.take(5).mkString(",")}")
  }

  test("resize rejects a non-positive target width") {
    val e = intercept[IllegalArgumentException] {
      Multimodal.resize(Multimodal.syntheticMedia(docs), targetWidth = 0)
    }
    assert(e.getMessage.contains("targetWidth"))
  }

  test("resize: downsamples content, updates geometry, no-ops when already small") {
    val media = Multimodal.syntheticMedia(docs)
    val src = media.collect().sortBy(_.media_id)
    val out = Multimodal.resize(media, targetWidth = 16).collect().sortBy(_.media_id)
    out.zip(src).foreach { case (r, s) =>
      if (s.width <= 16) {
        assert(r.content.toSeq === s.content.toSeq, "small media must pass through")
        assert(r.width === s.width)
      } else {
        assert(r.width === 16)
        assert(r.height === math.max(1, (s.height.toLong * 16 / s.width).toInt))
        val step = math.ceil(s.width.toDouble / 16).toInt
        assert(r.content.length === (s.content.length + step - 1) / step)
        // nearest-neighbor stub: kept bytes are the source's every step-th
        assert(r.content.toSeq === s.content.indices.by(step).map(s.content).toSeq)
      }
    }
    // deterministic
    val again = Multimodal.resize(media, 16).collect().sortBy(_.media_id)
    assert(out.map(_.content.toSeq).toSeq === again.map(_.content.toSeq).toSeq)
  }

  test("repartitionByBytes: zero-byte tail row survives when total divides target") {
    import org.apache.spark.sql.functions._
    // 4 × 256 B rows (total = 1024 = 2 × target) followed by a zero-byte
    // row: its preceding cumulative bytes equal total, so the unclamped
    // bucket would be total/target == parts — a bucket with no salt row,
    // and the inner salt join silently dropped the row (ADVICE r03)
    val rows = (1L to 4L).map(i => (i, Array.fill(256)('x'.toByte))) :+
      (5L, Array.empty[Byte])
    val media = rows.toDF("media_id", "content")
    val out = Multimodal.repartitionByBytes(media, targetBytesPerPartition = 512)
    assert(out.count() === 5, "zero-byte tail row must not be dropped")
    assert(out.select("media_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L, 5L))
    // null content is byte-0 too and must survive the same edge
    val withNull = rows.toDF("media_id", "content")
      .withColumn("content", when(col("media_id") === 5L, lit(null)).otherwise(col("content")))
    assert(Multimodal.repartitionByBytes(withNull, 512).count() === 5)
  }

  test("repartitionByBytes: empty input returns unchanged") {
    import org.apache.spark.sql.functions._
    val empty = Seq.empty[(Long, Array[Byte])].toDF("media_id", "content")
    assert(Multimodal.repartitionByBytes(empty, 1024).count() === 0L)
  }

  // ------------------------------------------------------- real PNM decode

  test("decodePnm: P6 header grammar (comments, whitespace), real pixels, Rec.601 luma") {
    import graft.multimodal.Multimodal.{PnmImage, decodePnm, encodePnm, meanLuma}
    // 2x1 RGB: red (255,0,0) and white (255,255,255), with a comment line
    val bytes = "P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](-1, 0, 0, -1, -1, -1)
    val img = decodePnm(bytes).get
    assert((img.width, img.height, img.channels, img.maxVal) === ((2, 1, 3, 255)))
    // luma: red = 0.299*255 = 76.245; white = 255; mean = 165.6225
    assert(math.abs(meanLuma(img) - (0.299 * 255 + 255.0) / 2) < 1e-9)
    // encode -> decode round-trips exactly
    val again = decodePnm(encodePnm(img)).get
    assert(again === img.copy(pixels = again.pixels))
    assert(again.pixels.toSeq === img.pixels.toSeq)
  }

  test("decodePnm: P5 grayscale path and malformed/truncated bytes -> None") {
    import graft.multimodal.Multimodal.{decodePnm, meanLuma}
    val gray = "P5\n3 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](0, 100, -56) // 0,100,200
    val img = decodePnm(gray).get
    assert(img.channels === 1)
    assert(math.abs(meanLuma(img) - 100.0) < 1e-9)
    assert(decodePnm(null) === None)
    assert(decodePnm("P7\n1 1\n255\nx".getBytes) === None) // unknown magic
    assert(decodePnm("P6\n2 2\n255\nxx".getBytes) === None) // truncated raster
    assert(decodePnm("P6\n0 1\n255\n".getBytes) === None) // zero dimension
    assert(decodePnm("not an image at all".getBytes) === None)
    // the byte after maxval must BE whitespace — a malformed header like
    // "255x" must return None, never silently misalign the raster
    assert(decodePnm(("P6\n2 1\n255x" + " " * 6).getBytes("US-ASCII")) === None)
    assert(decodePnm("P5\n3 1\n255".getBytes("US-ASCII")) === None) // ends at maxval
  }

  test("resize: PNM metadata comes from the DECODED geometry, not the stub formula") {
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.{PnmImage, decodePnm, encodePnm}
    // a real 8x6 P6 whose ROW metadata lies (claims 100x50): after resize the
    // row metadata must agree with the embedded PNM header, not the formula
    // over the lying metadata (which would say height = 50*4/100 = 2)
    val px = Array.tabulate[Byte](8 * 6 * 3)(i => (i % 251).toByte)
    val bytes = encodePnm(PnmImage(8, 6, 3, 255, px))
    val rows = Seq(Multimodal.MediaRow(7L, "image", bytes, "image/x-portable-pixmap", 100, 50, 0))
    val out = Multimodal.resize(spark.createDataset(rows), targetWidth = 4).collect().head
    val g = decodePnm(out.content).get
    assert((out.width, out.height) === ((g.width, g.height)))
    assert((g.width, g.height) === ((4, 3))) // true geometry: 8x6 scaled to width 4
  }

  test("pnmResize: true pixel-grid nearest-neighbor, valid PNM out") {
    import graft.multimodal.Multimodal.{decodePnm, pnmResize, PnmImage, encodePnm, meanLuma}
    // 4x2 grayscale ramp 0..7
    val src = encodePnm(PnmImage(4, 2, 1, 255, Array[Byte](0, 1, 2, 3, 4, 5, 6, 7)))
    val out = pnmResize(src, 2).get
    val img = decodePnm(out).get
    assert((img.width, img.height) === ((2, 1)))
    // nearest-neighbor: target (x,y) samples source (x*4/2, y*2/1) = (0,0),(2,0)
    assert(img.pixels.toSeq === Seq[Byte](0, 2))
    // non-PNM bytes -> None (resize stage falls back to the stub)
    assert(pnmResize("plain text".getBytes, 2) === None)
  }

  test("the pluggable decode kernel: real PNM luma through extractFeatures, stub for the rest") {
    import graft.multimodal.Multimodal
    val docs = Seq((0L, "irrelevant"), (1L, "irrelevant")).toDF("doc_id", "text")
    val ppm = Multimodal.syntheticPpm(docs.select("doc_id"))
    // real decoder through the SAME batched plumbing
    val real = Multimodal.extractFeatures(ppm, Multimodal.pnmOrStubDecode)
      .collect().sortBy(_.media_id)
    // reference luma computed directly from the generation formula
    def refLuma(id: Long): Double =
      (0 until 48).map { p =>
        0.299 * ((id * 7 + (3 * p) * 13) % 256) +
          0.587 * ((id * 7 + (3 * p + 1) * 13) % 256) +
          0.114 * ((id * 7 + (3 * p + 2) * 13) % 256)
      }.sum / 48
    assert(real.length === 2)
    real.foreach(f => assert(math.abs(f.mean_luma - refLuma(f.media_id)) < 1e-9))
    assert(real.forall(_.frames_sampled === 1)) // one decoded image frame
    // decodeImageFeatures: true geometry from the header, undecodable dropped
    val mixed = ppm.union(Multimodal.syntheticMedia(docs).filter(_.media_id == 1L))
    val feats = Multimodal.decodeImageFeatures(mixed).collect()
    assert(feats.length === 2, "text-byte rows must be dropped, not stubbed")
    assert(feats.forall(f => f.width === 8 && f.height === 6 && f.channels === 3))
    // real resize halves the geometry and the result still decodes
    val resized = Multimodal.resize(ppm, 4).collect().sortBy(_.media_id)
    resized.foreach { r =>
      val img = graft.multimodal.Multimodal.decodePnm(r.content).get
      assert((img.width, img.height) === ((4, 3)))
      assert(r.width === 4)
    }
  }
}
