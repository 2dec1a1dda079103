package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object LeafWorkload {
  /** The `SparkEntry.queries` leaves that build their inputs from built-in
    * fixtures and read no table, with the module each one exercises.
    */
  val Modules: Map[String, Seq[String]] = Map(
    "plan" -> Seq("q10_missing_antijoin", "q13_shard_roundrobin", "q14_frontier_csv_dialect"),
    "urls" -> Seq("q11_url_mc", "q12_url_visa"),
    "functions" -> Seq("q15_date_cutoff"))
  val Leaves: Seq[String] = Modules.values.flatten.toSeq.sorted

  /** Result hash of every leaf, recorded from a run whose results pass the
    * DuckDB oracle (`tools/compare_oracle.py` over `graft.Verify` output).
    */
  val Expected: Map[String, String] = Map(
    "q10_missing_antijoin" -> "3129c6468b5624a0",
    "q11_url_mc" -> "b47328cf18694a7d",
    "q12_url_visa" -> "ca67d560db820a9c",
    "q13_shard_roundrobin" -> "a3ab0075ad789e83",
    "q14_frontier_csv_dialect" -> "f633900ae3803795",
    "q15_date_cutoff" -> "1943f468b18d277a")

  /** SHA-256 over the sorted string form of the rows, first 16 hex digits. */
  def resultHash(rows: Seq[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(rows.map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** `fixture_leaves`: closed-loop passes over the fixture leaves; one
  * operation is one pass, in an order drawn from the seed. Every leaf result
  * is collected and its hash checked.
  */
final class LeafWorkload(spark: SparkSession, seed: Long, work: String, tracer: Tracer) extends Workload {
  import LeafWorkload._

  val workUnit = "leaf"
  val stepsPerCycle = 1
  // the leaves take a table directory and ignore it; none exists here
  private val noTables = s"$work/no-tables"
  private val rng = new scala.util.Random(seed)
  private val leafSeconds = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def prepare(): Unit = ()

  /** Runs every leaf once; returns (seconds, result hash per leaf). */
  private def pass(span: String): (Double, Map[String, String]) = {
    val t0 = System.nanoTime()
    val hashes = tracer.span(span) {
      rng.shuffle(Leaves).map { q =>
        val a = System.nanoTime()
        val rows = graft.SparkEntry.queries(q)(spark, noTables).collect().toSeq
        if (span == "op") leafSeconds.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - a) / 1e9
        q -> resultHash(rows)
      }.toMap
    }
    ((System.nanoTime() - t0) / 1e9, hashes)
  }

  /** Leaves whose hash differs from `expected`. */
  private def mismatches(hashes: Map[String, String], expected: Map[String, String]): Int =
    hashes.count { case (q, h) => expected.get(q).forall(_ != h) }

  /** Three passes: the first takes about four times as long as a warm one,
    * and the next two still run 10–50% slower while the JIT compiles Spark's
    * planning code.
    */
  def warmUp(): Boolean = {
    val hashes = (1 to 3).map(_ => pass("warm-up")._2)
    hashes.head.toSeq.sorted.foreach { case (q, h) =>
      if (!Expected.get(q).contains(h)) System.err.println(s"[perfbench] $q result hash $h, expected ${Expected.getOrElse(q, "none")}")
    }
    // self-test: one corrupted expectation must be reported
    hashes.forall(mismatches(_, Expected) == 0) &&
      mismatches(hashes.head, Expected.updated(Leaves.head, "0" * 16)) == 1
  }

  def step(t: Tally): Unit = {
    t.attempted += Leaves.size
    try {
      val (sec, hashes) = pass("op")
      t.opSeconds += sec
      t.work += Leaves.size
      t.failed += mismatches(hashes, Expected)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] leaf pass failed: $e")
        t.failed += Leaves.size
    }
  }

  def finish(t: Tally): Unit = ()

  def layers(t: Tally, perOp: Map[String, Double]): Map[String, Double] = {
    val leaf = Leaves.map(q => q -> Stats.median(leafSeconds.getOrElse(q, Nil).toSeq)).toMap
    leaf.map { case (q, v) => s"leaf.${q}_s" -> v } ++
      Modules.map { case (m, qs) => s"$m.leaves_s" -> qs.map(leaf).sum }
  }
}
