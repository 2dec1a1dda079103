package graft

import org.apache.spark.sql.functions._

import graft.dedup.UrlSeen
import graft.urls.Urls

/** URL-seen dedup invariants (SURVEY.md §5.3): within-batch keep-first,
  * bloom path ≡ exact path (no false drops ever), canonical keying.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("within-batch dedup keeps the first occurrence by seq") {
    val batch = Seq(
      ("http://a.com/x", 5L), ("http://a.com/x", 2L), ("http://a.com/x", 9L),
      ("http://a.com/y", 7L))
      .toDF("canonUrl", "seq")
    val out = UrlSeen.dedupWithinBatch(batch).as[(String, Long)].collect().toSet
    assert(out === Set(("http://a.com/x", 2L), ("http://a.com/y", 7L)))
  }

  private val canon = udf((u: String) => Urls.canonicalize(u))

  /** candidate frame with the frontier's canonical identity columns */
  private def candidatesOf(urls: Seq[String]) =
    urls.zipWithIndex.toDF("url", "seq")
      .select(col("url"), col("seq"), canon(col("url")).as("canonUrl"))
      .withColumn("urlHash", xxhash64(col("canonUrl")))

  /** The crawl round's cross-round dedup: partitioned filters built over
    * `seen`, then the Bloom prune and exact confirm. Returns the new urls.
    */
  private def bloomFiltered(candidates: org.apache.spark.sql.DataFrame,
      seen: org.apache.spark.sql.DataFrame): Set[String] = {
    val dir = java.nio.file.Files.createTempDirectory("bloomdedup").toString
    UrlSeen.buildPartitionedBlooms(seen, dir, parts = 4, UrlSeen.capacityFor(seen.count(), 4))
    UrlSeen.filterNewPartitionedBloom(candidates, seen, dir, parts = 4)
      .select("url").as[String].collect().toSet
  }

  test("bloom-pruned dedup returns exactly the exact-anti-join result") {
    val seen = (1 to 2000).map(i => s"http://seen.com/p$i")
      .toDF("url").select(xxhash64(canon(col("url"))).as("urlHash"), canon(col("url")).as("url"))
    val candidates = candidatesOf((1500 to 2500).map(i => s"http://seen.com/p$i") ++
      (1 to 100).map(i => s"http://new.com/q$i"))
    val exact = UrlSeen.filterNewExact(candidates, seen).select("url").as[String].collect().toSet
    val bloom = bloomFiltered(candidates, seen)
    assert(bloom === exact)
    assert(exact.size === (2500 - 2000) + 100)
    assert(exact.forall(u => u.contains("new.com") || u.matches(".*p2[0-4][0-9][0-9]|.*p2500")))
  }

  test("partitioned bloom path ≡ exact path (north_rule scale variant)") {
    val seen = (1 to 3000).map(i => s"http://seen.com/p$i")
      .toDF("url").select(xxhash64(canon(col("url"))).as("urlHash"), canon(col("url")).as("url"))
    val candidates = candidatesOf((2500 to 3500).map(i => s"http://seen.com/p$i") ++
      (1 to 50).map(i => s"http://new.com/q$i"))
    val dir = java.nio.file.Files.createTempDirectory("pbloom").toString
    UrlSeen.buildPartitionedBlooms(seen, dir, parts = 8, expectedItemsPerPart = 1000)
    val exact = UrlSeen.filterNewExact(candidates, seen).select("url").as[String].collect().toSet
    val pb = UrlSeen.filterNewPartitionedBloom(candidates, seen, dir, parts = 8)
      .select("url").as[String].collect().toSet
    assert(pb === exact)
    assert(exact.size === 500 + 50)
    // filter files exist per non-empty partition
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".bin")) === 8)
  }

  test("filterNew: the broadcast confirm ≡ the shuffled anti-join, hash collisions kept") {
    val seen = (1 to 500).map(i => s"http://seen.com/p$i")
      .toDF("url").select(xxhash64(canon(col("url"))).as("urlHash"), canon(col("url")).as("url"))
    // a candidate that shares a seen key's hash but not its exact key is new
    val collision = Seq(("http://other.com/c", 999L)).toDF("url", "seq")
      .select(col("url"), col("seq"), col("url").as("canonUrl"),
        xxhash64(lit(Urls.canonicalize("http://seen.com/p7"))).as("urlHash"))
    val candidates = candidatesOf((400 to 600).map(i => s"http://seen.com/p$i")).unionByName(collision)
    def urls(df: org.apache.spark.sql.DataFrame) = df.select("url").as[String].collect().toSet
    val broadcastShape = urls(UrlSeen.filterNew(candidates, seen, smallProbe = true))
    assert(broadcastShape === urls(UrlSeen.filterNew(candidates, seen, smallProbe = false)))
    assert(broadcastShape === urls(UrlSeen.filterNewExact(candidates, seen)))
    assert(broadcastShape === (501 to 600).map(i => s"http://seen.com/p$i").toSet + "http://other.com/c")
  }

  test("bloom probe cache reloads a same-size, same-mtime replacement (generation token)") {
    // the mtime-collision scenario: a merge rewrites a filter with the SAME
    // capacity (constant serialized size) within the same timestamp tick
    // (forced here by resetting mtime) — only the sidecar generation token
    // distinguishes the files, and the JVM cache must reload on it, or a
    // stale filter answers "definitely new" for already-seen keys
    val dir = java.nio.file.Files.createTempDirectory("bloomgen").toString
    UrlSeen.buildPartitionedBlooms(
      Seq(1L).toDF("urlHash"), dir, parts = 1, expectedItemsPerPart = 1000)
    val probe1 = new graft.dedup.PartitionedBloomProbe(dir)
    assert(probe1(0L, 1L), "built filter must contain its key")
    assert(!probe1(0L, 424242L), "fresh filter should miss an absent key")
    val bin = java.nio.file.Paths.get(dir, "bloom-00000.bin")
    val size0 = java.nio.file.Files.size(bin)
    val t0 = java.nio.file.Files.getLastModifiedTime(bin)
    UrlSeen.mergeDeltaIntoPartitionedBlooms(
      Seq(424242L).toDF("urlHash"), Seq(1L, 424242L).toDF("urlHash"),
      dir, parts = 1, capacityPerPart = 1000)
    assert(java.nio.file.Files.size(bin) === size0, "same capacity ⇒ same size")
    java.nio.file.Files.setLastModifiedTime(bin, t0) // force the collision
    val probe2 = new graft.dedup.PartitionedBloomProbe(dir) // fresh task cache, shared JVM cache
    assert(probe2(0L, 424242L),
      "stale cached filter served after a same-size same-mtime replacement")
    assert(probe2(0L, 1L))
  }

  private def seenOf(urls: Seq[String]) =
    urls.toDF("url").select(xxhash64(canon(col("url"))).as("urlHash"), canon(col("url")).as("url"))

  test("incremental per-round merge ≡ exact over multiple rounds (crawl-loop shape)") {
    val dir = java.nio.file.Files.createTempDirectory("ibloom").toString
    val parts = 8
    var seenUrls = Seq.empty[String]
    // 3 rounds: each merges ONLY its delta, then the probe must equal exact
    for (r <- 1 to 3) {
      val deltaUrls = ((r - 1) * 1000 + 1 to r * 1000).map(i => s"http://seen.com/p$i")
      val delta = seenOf(deltaUrls)
      seenUrls = seenUrls ++ deltaUrls
      val seen = seenOf(seenUrls)
      UrlSeen.mergeDeltaIntoPartitionedBlooms(delta, seen, dir, parts, capacityPerPart = 4096)
      // candidates: overlap with all rounds so far + genuinely new
      val candidates = candidatesOf(
        seenUrls.take(50) ++ seenUrls.takeRight(50) ++
          (1 to 40).map(i => s"http://new$r.com/q$i"))
      val exact = UrlSeen.filterNewExact(candidates, seen).select("url").as[String].collect().toSet
      val pb = UrlSeen.filterNewPartitionedBloom(candidates, seen, dir, parts)
        .select("url").as[String].collect().toSet
      assert(pb === exact, s"round $r (broadcast-confirm path)")
      val pbShuffle = UrlSeen.filterNewPartitionedBloom(candidates, seen, dir, parts, smallProbe = false)
        .select("url").as[String].collect().toSet
      assert(pbShuffle === exact, s"round $r (shuffle-confirm path)")
      assert(exact.size === 40)
    }
  }

  test("saturated partitions rebuild at doubled capacity; probe stays exact") {
    val dir = java.nio.file.Files.createTempDirectory("sbloom").toString
    val parts = 4
    var seenUrls = Seq.empty[String]
    for (r <- 1 to 4) {
      val deltaUrls = ((r - 1) * 400 + 1 to r * 400).map(i => s"http://x.com/s$i")
      seenUrls = seenUrls ++ deltaUrls
      // tiny capacity forces the saturation path from round 2 on
      UrlSeen.mergeDeltaIntoPartitionedBlooms(
        seenOf(deltaUrls), seenOf(seenUrls), dir, parts, capacityPerPart = 16)
    }
    // sidecar capacities must have grown past the initial deltas
    val caps = (0L until parts).map(pm => UrlSeen.readSidecarStatic(dir, pm))
    assert(caps.forall { case (cap, n) => n >= cap / 4 && cap >= n },
      s"capacity must bound count after rebuilds: $caps")
    assert(caps.map(_._2).sum === 1600L)
    val seen = seenOf(seenUrls)
    val candidates = candidatesOf(seenUrls.take(100) ++ (1 to 30).map(i => s"http://fresh.com/f$i"))
    val exact = UrlSeen.filterNewExact(candidates, seen).select("url").as[String].collect().toSet
    val pb = UrlSeen.filterNewPartitionedBloom(candidates, seen, dir, parts)
      .select("url").as[String].collect().toSet
    assert(pb === exact)
    assert(exact.size === 30)
  }

  test("merged filter files: full serialized size, read back, hold every merged key") {
    // a filter file cut short (an unflushed buffered stream) fails the size
    // check; a wrong or stale filter fails the membership check
    val dir = java.nio.file.Files.createTempDirectory("bloomio").toString
    val parts = 4
    val cap = 5000L
    val rnd = new scala.util.Random(7)
    val keys = Seq.fill(3000)(rnd.nextLong()).distinct
    UrlSeen.mergeDeltaIntoPartitionedBlooms(
      keys.toDF("urlHash"), keys.toDF("urlHash"), dir, parts, capacityPerPart = cap)
    val expectedSize = {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter.create(cap, 0.01).writeTo(bytes)
      bytes.size().toLong
    }
    for (pm <- 0 until parts) {
      val bin = java.nio.file.Paths.get(dir, f"bloom-$pm%05d.bin")
      assert(java.nio.file.Files.size(bin) === expectedSize, s"partition $pm")
      val in = java.nio.file.Files.newInputStream(bin)
      val bf = try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
      val own = keys.filter(k => Math.floorMod(k, parts.toLong) == pm)
      assert(own.forall(bf.mightContainLong), s"partition $pm lost a merged key")
      assert(UrlSeen.readSidecarStatic(dir, pm.toLong) === ((cap, own.size.toLong)))
    }
    assert(!new java.io.File(dir).list().exists(_.endsWith(".tmp")))
  }

  test("bloom ROUND marker round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("mbloom").toString
    assert(UrlSeen.readBloomRound(dir) === None)
    UrlSeen.writeBloomRound(dir, 7)
    assert(UrlSeen.readBloomRound(dir) === Some(7))
    UrlSeen.writeBloomRound(dir, 8)
    assert(UrlSeen.readBloomRound(dir) === Some(8))
  }

  test("canonical keying: fragment/case/param-order variants collapse to one") {
    val urls = Seq(
      "http://A.com/path?b=2&a=1",
      "http://a.com/path?a=1&b=2#frag",
      "HTTP://a.com:80/path?b=2&a=1").zipWithIndex
    val df = urls.toDF("url", "seq")
      .withColumn("canonUrl", canon(col("url")))
      .withColumn("urlHash", xxhash64(col("canonUrl")))
    assert(df.select("urlHash").distinct().count() === 1)
    val kept = UrlSeen.dedupWithinBatch(df)
    assert(kept.count() === 1)
    assert(kept.select("seq").as[Int].head() === 0)
  }

  test("cross-round raw-form variants are deduped (canonical identity)") {
    // the seen set stores CANONICAL urls; a later candidate with a
    // different raw form (fragment) of a seen url must be dropped
    val seen = Seq("http://a.com/page?x=1&y=2")
      .toDF("url").select(xxhash64(canon(col("url"))).as("urlHash"), canon(col("url")).as("url"))
    val candidates = candidatesOf(Seq(
      "http://A.com/page?y=2&x=1#frag", // raw variant of the seen url
      "http://a.com/other"))
    val exact = UrlSeen.filterNewExact(candidates, seen).select("url").as[String].collect().toSet
    assert(exact === Set("http://a.com/other"))
    val bloom = bloomFiltered(candidates, seen)
    assert(bloom === exact)
  }
}
