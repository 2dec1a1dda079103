package graft

import graft.util.Sessions

/** Writes `.explain("formatted")` output for selected queries to files —
  * the plan evidence the optimization rounds commit under `plans/rNN/`.
  * Usage: runMain graft.PlanDump <outDir> <suffix> [qPrefix,qPrefix,...]
  * (no prefixes = all queries). Reads the same SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS contract as Bench; never used for timing.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only = if (args.length > 2)
      Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val selected = only match {
      case Some(pfx) => SparkEntry.queries.toSeq.filter { case (n, _) => pfx.exists(n.startsWith) }
      case None => SparkEntry.queries.toSeq
    }
    selected.sortBy(_._1).foreach { case (name, fn) =>
      try {
        spark.sparkContext.setJobDescription(s"plan:$name")
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plans] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plans] FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
