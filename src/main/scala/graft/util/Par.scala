package graft.util

import org.apache.spark.sql.DataFrame

object Par {

  /** Ensure an expensive per-row kernel runs with defaultParallelism
    * partitions when its input is small. Spark's file split rule
    * (`FilePartition.maxSplitBytes`) sizes a split at
    * max(openCostInBytes, bytes / cores), so a scan below
    * cores × `spark.sql.files.openCostInBytes` gets fewer splits than
    * cores and would run the kernel on few tasks; above it the scan already
    * yields about one split per core, and the frame is returned unchanged.
    * The size is [[PlanSize.upperBoundBytes]]: no job runs, whatever the
    * plan holds. An unknown bound (a generator of unknown length) also
    * returns the frame unchanged.
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val openCost = df.queryExecution.sparkSession.sessionState.conf.filesOpenCostInBytes
    if (PlanSize.upperBoundBytes(df).exists(_ < BigInt(p) * openCost)) df.repartition(p) else df
  }
}
