package graft

import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Machine-capability probes — separate what the box can scale from what
  * the crawl pipeline scales:
  *  - `cpu`: pure-CPU work (xxhash64, no shuffle, no IO);
  *  - `shuffle`: 2 KB string rows through one exchange + aggregation, the
  *    byte-moving workload class the crawl pipeline belongs to.
  *
  * Usage: runMain graft.Calibrate cpu|shuffle [cpus]
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(Set("cpu", "shuffle"))
    if (mode.isEmpty) {
      System.err.println("usage: graft.Calibrate cpu|shuffle [cpus]")
      sys.exit(2)
    }
    val cpus = args.lift(1).map(_.toInt).getOrElse(Sessions.defaultCpus)
    val spark = Sessions.local(cpus, "calibrate")
    try mode.get match {
      case "cpu" =>
        val n = sys.env.getOrElse("SPARK_GRAFT_PROBE_N", "2000000000").toLong
        val t0 = System.nanoTime()
        val r = spark.range(0, n, 1, cpus * 4)
          .select(sum(pmod(xxhash64(col("id"), col("id") + 1, col("id") + 2), lit(1000L)))).collect()(0)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[cpuprobe] local[$cpus]: $n hashes in $sec%.1f s = ${n / sec / 1e6}%.1f M/s (${r.getLong(0)})")
      case "shuffle" =>
        val n = sys.env.getOrElse("SPARK_GRAFT_PROBE_ROWS", "2000000").toLong
        val t0 = System.nanoTime()
        val df = spark.range(0, n, 1, cpus * 4)
          .select(
            pmod(xxhash64(col("id")), lit(100000L)).as("k"),
            repeat(concat(lit("x"), pmod(xxhash64(col("id"), lit(1)), lit(1000000L)).cast("string")), 256).as("payload"))
        val r = df.groupBy("k").agg(sum(length(col("payload"))).as("bytes"), count(lit(1)).as("n"))
          .agg(sum("bytes"), sum("n")).collect()(0)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[shuffleprobe] local[$cpus]: $n rows (${r.getLong(0) / 1e9}%.1f GB) in $sec%.1f s = ${n / sec / 1000}%.1f k rows/s")
    } finally spark.stop()
  }
}
