package graft.checkpoint

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Iceberg-style snapshot/manifest checkpointing (SURVEY.md §4 exactly-once
  * row, §7.1).
  *
  * No Iceberg runtime jar ships in this sandbox (offline coursier), so the
  * semantics the north rule needs — atomic multi-table commit, exact resume,
  * per-round lineage — are provided by a minimal manifest layer:
  *
  *   root/
  *     data/<table>/v<version>/   parquet written by Spark
  *     manifests/v<version>.json  names every table path of that snapshot
  *     manifests/CURRENT          last durably-committed version number
  *
  * Commit protocol = write all data files → write manifest to a temp file →
  * ATOMIC_MOVE into place → ATOMIC_MOVE a new CURRENT. A crash anywhere
  * before the final move leaves the previous snapshot intact; resume reads
  * CURRENT and sees only fully-committed state (kill-and-resume ≡
  * uninterrupted run, tested in CheckpointSpec).
  *
  * A manifest maps each table to one string. [[TableLog]] is the one owner
  * of what that string holds: a single path, a delta chain or an
  * idempotency key set, the last two ';'-joined — so the root may not
  * contain ';'. Every committer (crawl rounds, stream batches, the per-file
  * rates ingest, the IVF model) reads and commits through [[log]].
  *
  * Iceberg mapping: manifest ≈ snapshot metadata JSON; CURRENT ≈ the
  * catalog's table-pointer swap; data/<table>/v<N> ≈ a snapshot's manifest
  * list. On a real cluster this directory lives on an object store /
  * HDFS where rename-commit is provided by the catalog instead.
  */
final class SnapshotStore(rootDir: String) {

  require(!rootDir.contains(TableLog.Sep),
    s"a snapshot store root may not contain '${TableLog.Sep}', the manifest's chain separator: $rootDir")

  private val root = Paths.get(rootDir)
  private val data = root.resolve("data")
  private val manifests = root.resolve("manifests")
  Files.createDirectories(manifests)

  def dataPath(table: String, version: Int): String =
    data.resolve(table).resolve(s"v$version").toString

  /** The version `path` was written for, when it is a [[dataPath]] of
    * `table` or of its compaction; None for any other path.
    */
  private[checkpoint] def versionOf(table: String, path: String): Option[Int] = {
    val p = Paths.get(path)
    val owned = Option(p.getParent).exists(d => d == data.resolve(table) || d == data.resolve(s"$table-compacted"))
    p.getFileName.toString match {
      case s"v$n" if owned => n.toIntOption
      case _ => None
    }
  }

  /** The current snapshot as a [[TableLog]]: version 0 with no tables when
    * nothing is committed yet.
    */
  def log(): TableLog =
    readCurrent().fold(new TableLog(this, 0, Map.empty)) { case (v, tables) => new TableLog(this, v, tables) }

  /** Atomically commit a snapshot naming each table's data path. */
  def commit(version: Int, tables: Map[String, String]): Unit = {
    val body = tables.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""    "${esc(k)}": "${esc(v)}"""" }
      .mkString(s"""{\n  "version": $version,\n  "tables": {\n""", ",\n", "\n  }\n}\n")
    val tmp = Files.createTempFile(manifests, s"v$version", ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, manifests.resolve(s"v$version.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val curTmp = Files.createTempFile(manifests, "CURRENT", ".tmp")
    Files.writeString(curTmp, version.toString)
    Files.move(curTmp, manifests.resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Latest durably-committed version, if any. */
  def currentVersion(): Option[Int] = {
    val cur = manifests.resolve("CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim.toInt) else None
  }

  /** Table→path map of a committed snapshot. */
  def readManifest(version: Int): Map[String, String] = {
    val body = Files.readString(manifests.resolve(s"v$version.json"))
    // manifest JSON is machine-written flat key-value; parse accordingly.
    // The token pattern accepts escape pairs — a value containing `\` or
    // `"` (e.g. a Windows checkpoint path) is written escaped by esc(), and
    // a reader that cannot match escapes would silently DROP that table
    // from the map, breaking resume.
    """"((?:[^"\\]|\\.)+)":\s*"((?:[^"\\]|\\.)*)"""".r
      .findAllMatchIn(body)
      .map(m => unesc(m.group(1)) -> unesc(m.group(2)))
      .toMap
  }

  def readCurrent(): Option[(Int, Map[String, String])] =
    currentVersion().map(v => (v, readManifest(v)))

  /** All committed versions, ascending — the lineage chain. */
  def versions(): Seq[Int] =
    scala.util.Using.resource(Files.list(manifests)) { stream =>
      stream.iterator.asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toInt }
        .toSeq.sorted
    }

  /** Drop every committed table and manifest (the `drop_all_tables` /
    * `drop_database` admin surface, reference client.py:183-187) — the
    * store returns to the just-constructed empty state: `readCurrent()`
    * is None and the next commit starts a fresh lineage.
    */
  def dropAll(): Unit = {
    def deleteTree(p: Path): Unit =
      if (Files.exists(p))
        scala.util.Using.resource(Files.walk(p)) { stream =>
          stream.sorted(java.util.Comparator.reverseOrder())
            .iterator.asScala.foreach(Files.deleteIfExists(_))
        }
    deleteTree(root.resolve("data"))
    deleteTree(manifests)
    Files.createDirectories(manifests)
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Inverse of [[esc]]: a left-to-right scan (sequential replace would
    * mis-decode `\\` followed by `"`).
    */
  private def unesc(s: String): String =
    if (!s.contains('\\')) s
    else {
      val b = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) { b.append(s.charAt(i + 1)); i += 2 }
        else { b.append(s.charAt(i)); i += 1 }
      }
      b.toString
    }
}

/** One committed snapshot of a [[SnapshotStore]], read and extended as a
  * table log. A manifest value is one of:
  *   - a whole table: one path (`frontier`, `hostStates`, a model);
  *   - a delta chain: an append-only table's paths, oldest first;
  *   - an idempotency key set: the keys of the work already committed
  *     (a stream's batch ids, the ingested CSV file names).
  * Chains and key sets are ';'-joined. This class is the only reader and
  * writer of that format.
  *
  * A committer reads the current log, writes its data under
  * `store.dataPath(table, next)` and [[commit]]s: the new snapshot is this
  * one with the committer's entries replaced, so the tables it does not own
  * (a crawl's chains under a rates ingest, an IVF model under a crawl) are
  * carried forward.
  *
  * Compaction rule: the commit at a version that is a multiple of `every`
  * rewrites each chain it [[compact]]s as ONE fileset
  * (`data/<table>-compacted/v<version>`, the Iceberg rewrite-data-files
  * analogue), so a long-lived store never re-lists thousands of delta
  * paths. It is amortised O(total/every) per commit; old files stay on disk
  * (prior snapshots stay readable), and a crash before the commit leaves the
  * previous manifest pointing at the uncompacted chain.
  */
final class TableLog private[checkpoint] (
    val store: SnapshotStore, val version: Int, val tables: Map[String, String]) {
  import TableLog.Sep

  /** The version the next [[commit]] takes. */
  def next: Int = version + 1

  /** The path of a whole table. */
  def path(table: String): Option[String] = tables.get(table)

  /** A delta chain's paths, oldest first; empty for an absent table. */
  def chain(table: String): Seq[String] =
    tables.get(table).fold(Seq.empty[String])(_.split(Sep).toIndexedSeq.filter(_.nonEmpty))

  /** Whether the key set `set` holds `key`: a committer that finds its key
    * has committed this work already and skips it.
    */
  def has(set: String, key: String): Boolean = chain(set).contains(key)

  /** The version that last changed the chain `table`, read from the path
    * layout the store writes; None when the chain is empty or its last path
    * is not one of the store's own (a hand-committed path).
    */
  def chainVersion(table: String): Option[Int] = chain(table).lastOption.flatMap(store.versionOf(table, _))

  /** The chain `paths` of `table` as the commit at [[next]] stores it: one
    * compacted path when `every > 0`, [[next]] is a multiple of `every` and
    * the chain has more than one path; otherwise `paths` unchanged.
    *
    * A chain whose parquet files share one schema and whose rows fit one
    * task ([[graft.util.PlanSize.fitsOneTask]]) is merged into one file on
    * the driver, its column chunks copied as they are: no Spark job and no
    * generated class. Any other chain is rewritten by Spark from the rows
    * `read` gives.
    */
  def compact(table: String, paths: Seq[String], every: Int)(read: Seq[String] => DataFrame): Seq[String] =
    if (every <= 0 || next % every != 0 || paths.size <= 1) paths
    else {
      val p = store.dataPath(s"$table-compacted", next)
      val rows = read(paths)
      if (!TableLog.mergeFiles(rows.sparkSession, paths, p))
        rows.write.mode("overwrite").parquet(p)
      Seq(p)
    }

  /** Atomically commit [[next]]: every table of this snapshot, with
    * `paths` (whole tables) and `chains` replaced and each `keys` entry
    * (set → key) added to its key set. Returns the committed log.
    */
  def commit(
      paths: Map[String, String] = Map.empty,
      chains: Map[String, Seq[String]] = Map.empty,
      keys: Map[String, String] = Map.empty): TableLog = {
    val added = keys.map { case (set, key) => set -> (chain(set) :+ key).distinct }
    val committed = tables ++ paths ++ (chains ++ added).map { case (t, ps) => t -> ps.mkString(Sep) }
    store.commit(next, committed)
    new TableLog(store, next, committed)
  }
}

object TableLog {
  /** The separator of a chain's paths and a key set's keys. */
  val Sep = ";"

  /** Merges the parquet files in the directories `dirs` into one file in
    * the directory `out` with parquet's rewriter, which copies column chunks
    * without decoding them. Returns false, and writes nothing, when the
    * files do not share one parquet schema (a foreign writer, a column's
    * nullability) or their rows do not fit one task
    * ([[graft.util.PlanSize.fitsOneTask]]).
    */
  private def mergeFiles(spark: org.apache.spark.sql.SparkSession, dirs: Seq[String], out: String): Boolean = {
    import org.apache.hadoop.fs.{Path => HPath}
    val files = graft.util.PlanSize.footers(spark, dirs)
    val mergeable = files.map(_.schema).distinct.size == 1 && graft.util.PlanSize.fitsOneTask(files.map(_.rows).sum)
    if (mergeable) {
      val conf = spark.sessionState.newHadoopConf()
      val target = new HPath(out)
      target.getFileSystem(conf).delete(target, true)
      val rewriter = new org.apache.parquet.hadoop.rewrite.ParquetRewriter(
        new org.apache.parquet.hadoop.rewrite.RewriteOptions.Builder(
          conf, files.map(_.path).asJava, new HPath(target, "part-00000.parquet")).build())
      try rewriter.processBlocks() finally rewriter.close()
    }
    mergeable
  }
}
