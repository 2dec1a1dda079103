package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** URL-seen dedup (SURVEY.md §2 #24) — the Spark re-expression of Scrapy
  * 1.8's RFPDupeFilter (active in the reference: no dont_filter anywhere,
  * settings.py:74).
  *
  * Keys are xxhash64 over the canonical URL. A Bloom filter *prunes* the
  * probe side cheaply; an exact `left_anti` join against the seen-set table
  * *confirms* — the final URL-seen set must be exact to match the reference
  * (no false drops, ever: Bloom false positives only cost a join probe).
  *
  * Scale notes (10^10 URLs): a single driver Bloom over 10^10 keys at 1%
  * fpp is ~12 GB — too big to build or broadcast — so the filters are
  * partitioned by `pmod(urlHash, P)`, one file per partition, merged with
  * each round's seen delta and probed by task
  * ([[filterNewPartitionedBloom]]). That is the one cross-round Bloom path;
  * [[filterNewExact]] is the exact confirm it falls back to.
  */
object UrlSeen {

  /** First-occurrence within-batch dedup: among rows sharing a canonical
    * URL keep the lowest `seq` (Scrapy drops later duplicates; order is
    * data, SURVEY.md §2#29). Window by canonical URL — parallel per key,
    * no global sort. Dedup identity is ALWAYS the canonical form: raw
    * variants (fragment, case, query-param order) are the same request.
    */
  def dedupWithinBatch(batch: DataFrame, urlCol: String = "canonUrl", seqCol: String = "seq"): DataFrame = {
    val w = Window.partitionBy(col(urlCol)).orderBy(col(seqCol))
    batch.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact cross-round dedup: candidates not present in the seen set.
    * Joins on the 64-bit hash first (narrow shuffle), confirms on the
    * CANONICAL URL so a hash collision can never drop a genuinely-new URL —
    * and a raw-form variant of a seen URL can never sneak back in (the seen
    * table stores canonical URLs).
    */
  def filterNewExact(candidates: DataFrame, seen: DataFrame): DataFrame =
    candidates.join(
      seen.select(col("urlHash").as("__sh"), col("url").as("__su")),
      candidates("urlHash") === col("__sh") && candidates("canonUrl") === col("__su"),
      "left_anti")

  // ------------------------------------------------- partitioned Bloom

  /** The 10^10-scale path (north_rule "partitioned Bloom"): one Bloom per
    * hash partition `pmod(urlHash, parts)`, stored as files under `dir` —
    * a single filter over 10^10 keys at 1% fpp is ~12 GB (undriverable,
    * unbroadcastable); P per-partition filters are each executor-loadable.
    *
    * INVARIANT the probe relies on: the filters are always a SUPERSET of the
    * committed seen set. "Absent from the filter" is then proof of "never
    * seen" (no exact confirm needed on that branch); extra keys — e.g. from
    * a crash between a filter merge and the snapshot commit — only cost a
    * false-positive probe, which the exact anti-join absorbs. All writers
    * here preserve that invariant (tmp-file + ATOMIC_MOVE; merge before the
    * manifest commit).
    *
    * Each `bloom-NNNNN.bin` carries a `bloom-NNNNN.cnt` sidecar
    * `"capacity count generation"` so incremental merges can detect
    * saturation (and the probe cache can detect replacement) and
    * rebuild that one partition's filter with doubled capacity (fpp would
    * otherwise degrade silently once count ≫ capacity).
    *
    * Build/merge: one task per `pm` builds and writes its partition's filter
    * to shared storage (local FS here; HDFS/object store on a cluster).
    */
  def buildPartitionedBlooms(
      seen: DataFrame,
      dir: String,
      parts: Int,
      expectedItemsPerPart: Long,
      fpp: Double = 0.01): Unit =
    writeFilters(hashes(seen), dir, parts, _ => expectedItemsPerPart, fpp, loadExisting = false): Unit

  /** The `urlHash` column of `df` as a key RDD. */
  private def hashes(df: DataFrame): org.apache.spark.rdd.RDD[Long] =
    df.select(col("urlHash")).queryExecution.toRdd.map(_.getLong(0))

  /** Smallest per-partition filter capacity: below it the 2× headroom of
    * [[capacityFor]] is too thin against the spread of keys over partitions.
    */
  private val MinCapacityPerPart: Long = 1024L

  /** Per-partition capacity for a filter set that will hold at most `keys`
    * distinct keys over `parts` partitions: twice the mean share, floored.
    * Saturation still triggers the doubling rebuild below.
    */
  def capacityFor(keys: Long, parts: Int): Long =
    math.max(MinCapacityPerPart, 2L * keys / parts)

  /** One round's INCREMENTAL maintenance: merge only `delta`'s keys into the
    * per-partition filters (O(delta) work — never a full-seen rescan), in a
    * SINGLE distributed pass: each task merges its partition's keys and
    * reports (capacity, count). Writing a transiently over-capacity filter
    * is safe (still a superset — only fpp degrades until the repair), so
    * saturated partitions are detected from the returned counts and rebuilt
    * afterwards from `seenWithDelta` (the full seen set *including* this
    * delta, deduped by key) at doubled capacity — O(seen/parts) for those
    * partitions only, amortized by the doubling.
    */
  def mergeDeltaIntoPartitionedBlooms(
      delta: DataFrame,
      seenWithDelta: => DataFrame,
      dir: String,
      parts: Int,
      capacityPerPart: Long = 1L << 18,
      fpp: Double = 0.01): Unit =
    mergeDeltaKeys(hashes(delta), seenWithDelta, dir, parts, capacityPerPart, fpp)

  /** [[mergeDeltaIntoPartitionedBlooms]] over the delta's keys as an RDD:
    * a caller that holds the rows already filters them with no plan, and
    * so with no generated class.
    */
  private[graft] def mergeDeltaKeys(
      delta: org.apache.spark.rdd.RDD[Long],
      seenWithDelta: => DataFrame,
      dir: String,
      parts: Int,
      capacityPerPart: Long,
      fpp: Double = 0.01): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val results = writeFilters(delta, dir, parts, _ => capacityPerPart, fpp, loadExisting = true)
    val saturated = results.filter { case (_, cap, n) => n > cap }
    if (saturated.nonEmpty) {
      val capOf: Map[Long, Long] =
        saturated.map { case (pm, cap, n) => pm -> math.max(2 * cap, 2 * n) }.toMap
      val full = seenWithDelta
        .select(col("urlHash")).distinct() // retries re-append; count distinct keys
        .filter(pmod(col("urlHash"), lit(parts.toLong)).isin(capOf.keys.toSeq: _*))
      writeFilters(hashes(full), dir, parts, capOf, fpp, loadExisting = false): Unit
    }
  }

  /** Distributed filter write: one task per `pm` builds (or extends, when
    * `loadExisting`) that partition's filter and atomically swaps the
    * `.bin` + `.cnt` pair into place. Returns (pm, capacity, count) per
    * touched partition so callers can detect saturation without a separate
    * counting job.
    *
    * The keys travel as (pm, urlHash) pairs, pm = pmod(urlHash, parts),
    * hash-partitioned by `pm` into `parts` partitions — one `pm` per
    * partition, since pm < parts — so each task streams its keys into one
    * filter, and the whole merge is one job that generates no code.
    */
  private def writeFilters(
      keys: org.apache.spark.rdd.RDD[Long],
      dir: String,
      parts: Int,
      capacityOf: Long => Long,
      fpp: Double,
      loadExisting: Boolean): Array[(Long, Long, Long)] =
    keys
      .map(h => (Math.floorMod(h, parts.toLong), h))
      .partitionBy(new org.apache.spark.HashPartitioner(parts))
      .mapPartitions { rows =>
        val keys = rows.buffered
        if (!keys.hasNext) Iterator.empty
        else {
          val pm = keys.head._1
          val prior = if (loadExisting) loadFilter(dir, pm) else None
          val (bf, cap, n0) = prior match {
            case Some(f) =>
              val (c, n) = readSidecarStatic(dir, pm)
              (f, c, n)
            case None =>
              val c = math.max(capacityOf(pm), 2L)
              (BloomFilter.create(c, fpp), c, 0L)
          }
          var n = n0
          keys.foreach { case (_, h) => bf.putLong(h); n += 1 }
          // .bin first, then .cnt: a reader that sees the new generation token
          // in .cnt is guaranteed the .bin beside it is at least as new (a
          // LATER .bin is a superset — safe by the bloom invariant)
          atomicWrite(dir, f"bloom-$pm%05d.bin") { out => bf.writeTo(out) }
          atomicWrite(dir, f"bloom-$pm%05d.cnt") { out =>
            out.write(s"$cap $n ${java.util.concurrent.ThreadLocalRandom.current().nextLong()}"
              .getBytes("UTF-8")) }
          Iterator((pm, cap, n))
        }
      }
      .collect()

  private def atomicWrite(dir: String, name: String)(body: java.io.OutputStream => Unit): Unit = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d) // idempotent; tasks may race
    val tmp = java.nio.file.Files.createTempFile(d, name, ".tmp")
    // buffered: BloomFilter.writeTo issues one 8-byte write per long of the
    // bit array; close() flushes before the move below
    val out = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(tmp))
    try body(out) finally out.close()
    java.nio.file.Files.move(tmp, d.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** One parser for the `"capacity count generation"` sidecar format
    * (generation is 0 for legacy 2-field sidecars; all-zero when missing).
    */
  private[dedup] def readSidecar(dir: String, pm: Long): (Long, Long, Long) = {
    val p = java.nio.file.Paths.get(dir, f"bloom-$pm%05d.cnt")
    if (!java.nio.file.Files.exists(p)) (0L, 0L, 0L)
    else {
      val parts = java.nio.file.Files.readString(p).trim.split(" ")
      (parts(0).toLong, parts(1).toLong, if (parts.length >= 3) parts(2).toLong else 0L)
    }
  }

  private[graft] def readSidecarStatic(dir: String, pm: Long): (Long, Long) = {
    val (cap, n, _) = readSidecar(dir, pm)
    (cap, n)
  }

  private[dedup] def loadFilter(dir: String, pm: Long): Option[BloomFilter] = {
    val f = new java.io.File(f"$dir/bloom-$pm%05d.bin")
    if (!f.exists()) None
    else {
      val in = new java.io.FileInputStream(f)
      try Some(BloomFilter.readFrom(in)) finally in.close()
    }
  }

  /** Durable "filters reflect rounds ≤ r" marker (written AFTER a merge, so
    * marker ≥ committed-round ⇒ filters ⊇ seen). A resume that finds the
    * marker behind the committed round (legacy checkpoint, manual surgery)
    * must rebuild via [[buildPartitionedBlooms]].
    */
  def writeBloomRound(dir: String, round: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    atomicWrite(dir, "ROUND")(out => out.write(round.toString.getBytes("UTF-8")))
  }

  def readBloomRound(dir: String): Option[Int] = {
    val p = java.nio.file.Paths.get(dir, "ROUND")
    if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readString(p).trim.toInt) else None
  }

  /** Bloom-prune candidates against the partitioned filters, then confirm
    * exactly. Each task lazily loads only the filters for the `pm` values
    * it actually holds (a handful per task).
    *
    * Exact confirm, two shapes:
    *  - `smallProbe = true` (the crawl-loop case — the bloom-pruned probe
    *    set is genuinely-seen rows + ~fpp of the new ones, i.e. frontier-
    *    sized or smaller): the seen table is SCANNED once and never
    *    shuffled — a left-semi join against a broadcast of the probe set
    *    yields the (small) confirmed-seen keys, which are then broadcast-
    *    anti-joined against ALL candidates in one pass. A filter verdict
    *    depends only on `urlHash`, so no candidate outside the probe set
    *    can match a confirmed-seen key, and this equals the union of the
    *    two branches without a second candidate scan. Per-round cost: one
    *    columnar seen scan + two broadcasts of probe-set size. The default
    *    shuffle anti-join would
    *    instead EXCHANGE the whole seen set every round — the quadratic
    *    term this path exists to avoid.
    *  - `smallProbe = false` (probe set too big to broadcast): classic
    *    shuffled anti-join via [[filterNewExact]].
    */
  def filterNewPartitionedBloom(
      candidates: DataFrame,
      seen: DataFrame,
      dir: String,
      parts: Int,
      smallProbe: Boolean = true): DataFrame =
    splitSeenPartitionedBloom(candidates, seen, dir, parts, smallProbe)._1

  /** [[filterNewPartitionedBloom]]'s two halves over one probe: (the rows
    * it keeps, the rows it drops as seen). Only rows where `probed` holds
    * are checked; every other row is kept (the crawl's retry rows). With
    * `smallProbe` both halves join the same confirmed-seen broadcast, so a
    * plan that uses both runs the probe and the confirm once.
    */
  private[graft] def splitSeenPartitionedBloom(
      candidates: DataFrame,
      seen: DataFrame,
      dir: String,
      parts: Int,
      smallProbe: Boolean,
      probed: Column = lit(true)): (DataFrame, DataFrame) = {
    val probe = new PartitionedBloomProbe(dir)
    val mightContain = udf((pm: Long, h: Long) => probe(pm, h))
    val maybe = probed && mightContain(pmod(col("urlHash"), lit(parts.toLong)), col("urlHash"))
    val maybeSeen = candidates.filter(maybe)
    if (!smallProbe) {
      val isSeen = col("urlHash") === col("__sh") && col("canonUrl") === col("__su")
      val seenKeys = seen.select(col("urlHash").as("__sh"), col("url").as("__su"))
      (candidates.filter(!maybe).unionAll(filterNewExact(maybeSeen, seen)),
        maybeSeen.join(seenKeys, isSeen, "left_semi"))
    } else {
      val confirmedSeen = broadcast(seen
        .join(
          broadcast(maybeSeen.select(col("urlHash").as("__ph"), col("canonUrl").as("__pu"))),
          col("urlHash") === col("__ph") && col("url") === col("__pu"), "left_semi")
        .select(col("urlHash").as("__sh"), col("url").as("__su")))
      val isSeen =
        probed && candidates("urlHash") === col("__sh") && candidates("canonUrl") === col("__su")
      (candidates.join(confirmedSeen, isSeen, "left_anti"),
        candidates.join(confirmedSeen, isSeen, "left_semi"))
    }
  }
}

/** Serializable probe with two cache levels. A missing filter file means
  * the partition holds no seen keys yet → nothing can be contained.
  *
  *  - per-TASK (the @transient lazy map): row-path lookups never stat the
  *    filesystem — each task resolves each pm once.
  *  - per-JVM (companion): tasks are deserialized copies, so without this a
  *    32-task probe stage would read every filter file up to 32× per round;
  *    the JVM cache loads each filter once and revalidates by the sidecar's
  *    per-write GENERATION token (plus size/mtime as a belt for legacy
  *    sidecars without one).
  *
  * Freshness is CORRECTNESS here, not just performance: the filters are
  * atomically replaced by each round's merge, and probing a stale filter
  * would pass already-seen URLs as "definitely new" (a seen-set exactness
  * violation). mtime alone cannot carry that burden — a merged filter has a
  * CONSTANT serialized size, and on coarse-timestamp filesystems (NFS, 1 s
  * object-store mounts) two sub-second consecutive merges can collide on
  * (size, mtime) — so every write stamps a fresh random token into the
  * `.cnt` sidecar and the cache reloads on ANY token change. Read order
  * (.cnt then .bin, the reverse of the write order) means a new token is
  * only ever paired with an equal-or-newer .bin — a superset, safe by the
  * bloom invariant. The cache is BYTE-bounded (cleared wholesale past
  * [[PartitionedBloomProbe.MaxCachedBytes]]) so filters for long-dead
  * checkpoint dirs cannot accumulate heap for the executor's lifetime.
  */
class PartitionedBloomProbe(dir: String) extends ((Long, Long) => Boolean) with Serializable {
  @transient private lazy val taskCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Option[BloomFilter]]()
  def apply(pm: Long, urlHash: Long): Boolean =
    taskCache.computeIfAbsent(pm, p => PartitionedBloomProbe.load(dir, p))
      .exists(_.mightContainLong(urlHash))
}

object PartitionedBloomProbe {
  /** Cache bound in BYTES (serialized filter size), not entry count: a
    * handful of rebuilt multi-MB filters for dead checkpoint dirs is the
    * realistic leak, and an entry-count bound would OOM long before
    * firing. Wholesale clear on breach — live filters reload on next
    * probe at one file read each; crude, self-healing, bounded.
    */
  private[dedup] val MaxCachedBytes = 1L << 30
  private final case class Stamp(gen: Long, size: Long, sec: Long, nano: Int)
  private final case class Entry(stamp: Stamp, bf: Option[BloomFilter])
  private val jvmCache = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val cachedBytes = new java.util.concurrent.atomic.AtomicLong()

  // .cnt (generation) read BEFORE the .bin stat/read — see the class doc
  private def stampOf(dir: String, pm: Long, p: java.nio.file.Path): Stamp =
    if (!java.nio.file.Files.exists(p)) Stamp(0L, -1L, -1L, -1)
    else {
      val (_, _, gen) = UrlSeen.readSidecar(dir, pm)
      val t = java.nio.file.Files.getLastModifiedTime(p).toInstant
      Stamp(gen, java.nio.file.Files.size(p), t.getEpochSecond, t.getNano)
    }

  private def load(dir: String, pm: Long): Option[BloomFilter] = {
    val path = java.nio.file.Paths.get(dir, f"bloom-$pm%05d.bin")
    val stamp = stampOf(dir, pm, path)
    if (cachedBytes.get() > MaxCachedBytes) { // dead-dir backstop
      jvmCache.clear()
      cachedBytes.set(0L)
    }
    jvmCache.compute(s"$dir#$pm", (_, old) => {
      if (old != null && old.stamp == stamp) old
      else {
        if (old != null) cachedBytes.addAndGet(-math.max(old.stamp.size, 0L))
        if (stamp.size < 0) Entry(stamp, None)
        else {
          val in = java.nio.file.Files.newInputStream(path)
          try {
            cachedBytes.addAndGet(stamp.size)
            Entry(stamp, Some(BloomFilter.readFrom(in)))
          } finally in.close()
        }
      }
    }).bf
  }
}
