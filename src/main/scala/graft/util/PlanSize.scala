package graft.util

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExplodeBase, Generator}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftbridge.LocalRows
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** Every small-vs-large decision of the engine, and the only code that knows
  * a size threshold or reads a size conf. Sizes are read without a Spark
  * job: bytes from a frame's optimised-plan statistics, rows from parquet
  * footers ([[footers]]). Operators pick their small-input shape here (one
  * task, a broadcast, no pre-jobs) and keep their distributed shape for
  * everything else, so the split follows measured size rather than a fixed
  * plan shape.
  *
  * The decisions, each with its unit and threshold:
  *  - [[fitsOneTask]] of a frame: bytes ≤
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
  *    coalesces shuffle partitions towards;
  *  - [[fitsOneTask]] of a row count: rows ≤ 250k
  *    ([[OneTaskRows]]);
  *  - [[broadcastSafe]]: rows ≤ 2M ([[BroadcastRows]]);
  *  - [[spread]]: bytes < `defaultParallelism` ×
  *    `spark.sql.files.openCostInBytes`, for a frame the driver does not
  *    hold.
  *
  * [[inOneTaskIf]] and [[broadcastIf]] apply a decision's shape.
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
  def upperBoundBytes(df: DataFrame): Option[BigInt] = upperBoundBytes(df.queryExecution.optimizedPlan)

  private def upperBoundBytes(plan: LogicalPlan): Option[BigInt] = {
    val lengths = plan.collect { case g: Generate => rowsPerInput(g.generator) }
    if (lengths.contains(None)) None
    else Some(plan.stats.sizeInBytes * lengths.flatten.map(n => BigInt(math.max(n, 1L))).product)
  }

  /** One parquet file as its footer describes it. `sparkSchema` is the
    * schema Spark stores in the footers it writes.
    */
  final case class Footer(path: Path, rows: Long, schema: MessageType, sparkSchema: Option[StructType])

  /** The footer of every parquet file in the directories `dirs`: metadata
    * reads in this JVM, no Spark job.
    */
  def footers(spark: SparkSession, dirs: Seq[String]): Seq[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    dirs.map(new Path(_)).flatMap(dir => dir.getFileSystem(conf).listStatus(dir).toIndexedSeq)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        scala.util.Using.resource(ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))) { r =>
          val meta = r.getFooter.getFileMetaData
          Footer(st.getPath, r.getRecordCount, meta.getSchema,
            Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
              .map(DataType.fromJson(_).asInstanceOf[StructType]))
        }
      }
  }

  /** True when `df` provably holds at most one partition's worth of data. */
  def fitsOneTask(df: DataFrame): Boolean = fitsOneTask(df.queryExecution.optimizedPlan, df.sparkSession.sessionState.conf)

  /** [[fitsOneTask]] of an optimised plan, under `conf`. */
  def fitsOneTask(plan: LogicalPlan, conf: SQLConf): Boolean =
    upperBoundBytes(plan).exists(_ <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  /** True when `rows` rows are aggregated or ranked faster in one task than
    * through a shuffle ([[OneTaskRows]]).
    */
  def fitsOneTask(rows: Long): Boolean = rows <= OneTaskRows

  /** True when a frame of `rows` frontier-derived rows may be broadcast
    * ([[BroadcastRows]]).
    */
  def broadcastSafe(rows: Long): Boolean = rows <= BroadcastRows

  /** `df` in one partition when `fits`, so a consumer's aggregation, window
    * or global sort needs no exchange; otherwise `df` unchanged.
    */
  def inOneTaskIf(fits: Boolean)(df: DataFrame): DataFrame = if (fits) df.coalesce(1) else df

  /** `df` hinted for broadcast when `safe`; otherwise `df` unchanged. */
  def broadcastIf(safe: Boolean)(df: DataFrame): DataFrame = if (safe) broadcast(df) else df

  /** Ensure an expensive per-row kernel runs with defaultParallelism
    * partitions when its input is small. Spark's file split rule
    * (`FilePartition.maxSplitBytes`) sizes a split at
    * max(openCostInBytes, bytes / cores), so a scan below
    * cores × `spark.sql.files.openCostInBytes` gets fewer splits than
    * cores and would run the kernel on few tasks; above it the scan already
    * yields about one split per core, and the frame is returned unchanged.
    * The size is [[upperBoundBytes]]: no job runs, whatever the plan holds.
    * An unknown bound (a generator of unknown length) also returns the
    * frame unchanged, and so does a frame the driver holds
    * ([[LocalRows.isLocal]]): Spark's local scan already splits its rows
    * over up to `spark.sql.leafNodeDefaultParallelism` partitions, so a
    * repartition would add an exchange and no parallelism.
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val openCost = df.sparkSession.sessionState.conf.filesOpenCostInBytes
    if (!LocalRows.isLocal(df) && upperBoundBytes(df).exists(_ < BigInt(p) * openCost)) df.repartition(p) else df
  }

  /** The most rows a crawl round aggregates or ranks in one task instead of
    * through a shuffle, or the driver compacts without a job; counted from
    * parquet footers. Measured on 4 vCPUs (local[4], 4 shuffle partitions,
    * the round's per-host aggregation and its rates dedup over cached
    * rows): one task was faster up to 250k rows (hosts 202 vs 240 ms, rates
    * 397 vs 434 ms) and slower from 400k (232 vs 261 ms, 449 vs 637 ms).
    * More cores only move the crossover down.
    */
  private val OneTaskRows = 250000L

  /** The most frontier rows a crawl round broadcasts: its Bloom probe set
    * and its fetch keys, so neither the seen table nor the page table is
    * ever shuffled. About 2M slim rows is low hundreds of MB, the
    * broadcast-safety bound; every frame a round derives from its frontier
    * is at most frontier-sized.
    */
  private val BroadcastRows = 2000000L

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
