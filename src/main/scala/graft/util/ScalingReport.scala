package graft.util

import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.Locale

import scala.jdk.CollectionConverters._

/** The best-of-per-level report the N→4N scaling benches share. Each bench
  * appends one tsv row per fresh-JVM run; its `report` keeps the best
  * throughput per cpu level, because co-tenant steal on a shared VM only
  * ever slows a run down, and compares the lowest level with the highest.
  */
object ScalingReport {

  /** One recorded run: its level, its workload (size plus the knob key the
    * bench fingerprints it with), its throughput, and the bench's own row.
    */
  final case class Run[A](cpus: Int, size: Long, key: String, throughput: Double, row: A)

  /** The best runs at the lowest (N) and highest (4N) level, over `runs`,
    * the rows of the reported workload.
    */
  final case class Best[A](n: Run[A], n4: Run[A], runs: Seq[Run[A]]) {

    /** (t4N / tN) / (cpus4N / cpusN): 1.0 is linear scaling. */
    def efficiency: Double = (n4.throughput / n.throughput) / (n4.cpus.toDouble / n.cpus)

    /** `local[c]×reps` for each level, in the order the rows list them. */
    def reps: String =
      runs.groupBy(_.cpus).map { case (c, rs) => s"local[$c]×${rs.size}" }.mkString(", ")
  }

  /** Best-of per level over the runs of workload (`size`, `key`). Runs of
    * another workload never enter: a best-of across workloads would
    * publish a ratio of incomparable runs. Fewer than two levels is
    * refused, since one level would compare against itself.
    */
  def best[A](runs: Seq[Run[A]], size: Long, key: String): Either[String, Best[A]] = {
    val rows = runs.filter(r => r.size == size && r.key == key)
    val byCpu = rows.groupBy(_.cpus).map { case (c, rs) => c -> rs.maxBy(_.throughput) }
    if (byCpu.size < 2)
      Left(s"need runs at TWO parallelism levels for size $size with key [$key]; " +
        s"have ${byCpu.keys.toSeq.sorted.mkString(", ")}")
    else Right(Best(byCpu(byCpu.keys.min), byCpu(byCpu.keys.max), rows))
  }

  /** [[best]], or the refusal on stderr and exit status 1. */
  def bestOrExit[A](tag: String, runs: Seq[Run[A]], size: Long, key: String): Best[A] =
    best(runs, size, key).fold(msg => refuse(tag, msg), identity)

  /** The tab-separated fields of every recorded run; exit status 1 when
    * `runsFile` does not exist yet.
    */
  def readRuns(tag: String, runsFile: Path, main: String): Seq[Array[String]] = {
    if (!Files.exists(runsFile)) refuse(tag, s"no $runsFile yet — run `$main <cpus>` first")
    Files.readAllLines(runsFile).asScala.toSeq.map(_.split("\t"))
  }

  /** Appends one run, formatted with `Locale.ROOT`: a comma-decimal default
    * locale would corrupt the tsv that [[readRuns]] parses back.
    */
  def appendRun(runsFile: Path, format: String, fields: Any*): Unit =
    Files.writeString(runsFile,
      String.format(Locale.ROOT, format + "%n", fields.map(_.asInstanceOf[AnyRef]): _*),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND): Unit

  /** `d` with `digits` decimals, independent of the default locale. */
  def fmt(d: Double, digits: Int): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(d))

  def refuse(tag: String, msg: String): Nothing = {
    System.err.println(s"[$tag] $msg")
    sys.exit(1)
  }
}
