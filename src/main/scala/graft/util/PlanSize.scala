package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ExplodeBase, Generator}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.internal.SQLConf

/** Sizes read from a frame's optimised-plan statistics: no Spark job runs.
  * Operators pick their small-input shape here (one task, no pre-jobs) and
  * keep their distributed shape for everything else, so the split follows
  * measured size rather than a fixed plan shape.
  */
object PlanSize {

  /** An upper bound on the bytes `df` produces, or None when the plan holds
    * a generator of unknown length. Spark's estimate for a `Generate` keeps
    * its child's size, so an `explode(sequence(0, 362))` axis would not be
    * counted: the bound multiplies the estimate by the length of every
    * explode whose input folds to a constant. Every other estimate grows
    * with its children's (a join multiplies them), so the product stays an
    * upper bound wherever the generators sit in the plan.
    */
  def upperBoundBytes(df: DataFrame): Option[BigInt] = {
    val plan = df.queryExecution.optimizedPlan
    val lengths = plan.collect { case g: Generate => rowsPerInput(g.generator) }
    if (lengths.contains(None)) None
    else Some(plan.stats.sizeInBytes * lengths.flatten.map(n => BigInt(math.max(n, 1L))).product)
  }

  /** One partition's worth of data: `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
    * the size AQE coalesces shuffle partitions towards.
    */
  def partitionBytes(df: DataFrame): Long =
    df.queryExecution.sparkSession.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** True when `df` provably holds at most one partition's worth of data. */
  def fitsOnePartition(df: DataFrame): Boolean =
    upperBoundBytes(df).exists(_ <= partitionBytes(df))

  /** The most rows a crawl round aggregates or ranks in one task instead of
    * through a shuffle; callers count rows from parquet footers, with no
    * job. Measured on 4 vCPUs (local[4], 4 shuffle partitions, the round's
    * per-host aggregation and its rates dedup over cached rows): one task
    * was faster up to 250k rows (hosts 202 vs 240 ms, rates 397 vs 434 ms)
    * and slower from 400k (232 vs 261 ms, 449 vs 637 ms). More cores only
    * move the crossover down.
    */
  val OneTaskRows = 250000L

  /** The most frontier rows a crawl round broadcasts: its Bloom probe set
    * and its fetch keys, so neither the seen table nor the page table is
    * ever shuffled. About 2M slim rows is low hundreds of MB, the
    * broadcast-safety bound; every frame a round derives from its frontier
    * is at most frontier-sized.
    */
  val BroadcastRows = 2000000L

  /** Rows a generator emits per input row, when it explodes a constant. */
  private def rowsPerInput(g: Generator): Option[Long] = g match {
    case e: ExplodeBase if e.child.foldable => Some(e.child.eval() match {
      case a: ArrayData => a.numElements().toLong
      case m: MapData => m.numElements().toLong
      case _ => 0L // a null input emits no rows
    })
    case _ => None
  }
}
