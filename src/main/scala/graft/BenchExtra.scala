package graft

import graft.util.Sessions

/** Ad-hoc measurement harness for the optimization rounds (guide §1):
  * runs named queries through the noop sink, then prints every job's id,
  * duration and description and the top stages by wall time — the
  * job-level breakdown the bundled UI-less sandbox cannot show. NOT the
  * driver contract bench (that is graft.Bench, frozen); numbers quoted
  * from here are stage-isolation evidence only.
  *
  * Usage: runMain graft.BenchExtra q46,q31 [reps]
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val pfx = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    Sessions.warmUp(spark)
    val log = Sessions.jobLog(spark)
    val selected = SparkEntry.queries.toSeq
      .filter { case (n, _) => pfx.exists(n.startsWith) }.sortBy(_._1)
    try for (r <- 1 to reps; (name, fn) <- selected) {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[extra] $name rep$r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    } finally spark.stop()
    log.printJobs()
    log.printTopStages("stage")
  }
}
