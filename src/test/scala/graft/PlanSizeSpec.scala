package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalRows

import graft.util.PlanSize

/** Every `PlanSize` decision at its band edges, and the rule that deciding
  * runs no Spark job.
  */
class PlanSizeSpec extends SparkSpec {
  import spark.implicits._

  /** A one-split parquet scan: the few-splits case of a small input file. */
  private def fewSplitScan(): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("par-spec").toString
    spark.range(10).toDF("id").repartition(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** True when `spread` returned `df` under a repartition to `p`. */
  private def spreadTo(df: DataFrame, p: Int): Boolean = PlanSize.spread(df).queryExecution.logical match {
    case Repartition(n, true, _) => n == p
    case _ => false
  }

  private val AdvisoryBytes = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val OpenCost = "spark.sql.files.openCostInBytes"

  test("spread raises scan-shaped inputs to defaultParallelism") {
    val p = spark.sparkContext.defaultParallelism
    val scan = fewSplitScan()
    assert(scan.rdd.getNumPartitions < p)
    assert(PlanSize.spread(scan).rdd.getNumPartitions === p)
    // narrow wrappers (select/filter/union) keep the spread guard active —
    // q27 passes scan UNION planted-rows and must still get kernel
    // parallelism
    val wrapped = scan.select(col("id")).filter(col("id") >= 0)
      .unionByName(Seq(100L).toDF("id"))
    assert(PlanSize.spread(wrapped).rdd.getNumPartitions === p)
  }

  test("spread decides from size, not partition count: a spark.range(1) leg does not hide a few-split scan") {
    val p = spark.sparkContext.defaultParallelism
    // spark.range(1) plans defaultParallelism near-empty partitions, so the
    // union has more partitions than cores while its rows sit in one split
    val mixed = fewSplitScan().unionByName(spark.range(1).toDF("id"))
    assert(mixed.rdd.getNumPartitions > p)
    assert(PlanSize.spread(mixed).rdd.getNumPartitions === p)
  }

  test("spread widens limit/sample/coalesce-shaped frames without probing them") {
    val p = spark.sparkContext.defaultParallelism
    val limited = spark.range(1000).toDF("id").limit(500)
    assert(PlanSize.spread(limited).rdd.getNumPartitions === p)
    val coalesced = spark.range(1000).toDF("id").coalesce(1)
    assert(PlanSize.spread(coalesced).rdd.getNumPartitions === p)
    val sampled = spark.range(1000).toDF("id").sample(0.5, seed = 7)
      .select(col("id")).filter(col("id") >= 0)
    assert(PlanSize.spread(sampled).rdd.getNumPartitions === p)
    // a small frame is spread to p whatever its partition count: an
    // explicit repartition(p + 4) and a sample over it are small too
    val wide = spark.range(1000).toDF("id").repartition(p + 4)
    assert(PlanSize.spread(wide).rdd.getNumPartitions === p)
    val wideSample = wide.sample(0.5, seed = 7)
    assert(PlanSize.spread(wideSample).rdd.getNumPartitions === p)
    val limitOverWide = wide.limit(500)
    assert(PlanSize.spread(limitOverWide).rdd.getNumPartitions === p)
  }

  test("spread decides on a post-shuffle frame without running a job") {
    val p = spark.sparkContext.defaultParallelism
    val jobLog = graft.util.Sessions.jobLog(spark)
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val lastJob = jobLog.jobs.lastOption.fold(-1)(_.id)
    // an aggregated frame holds an exchange: with AQE on, probing it via
    // .rdd would execute that shuffle
    val derived = spark.range(100).toDF("id")
      .groupBy(pmod(col("id"), lit(7)).as("k")).agg(count(lit(1)).as("n"))
    val spread = PlanSize.spread(derived)
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val ran = jobLog.jobs.filter(_.id > lastJob)
    assert(ran.isEmpty, ran.mkString("\n"))
    // it is small, so it is spread like any other small frame
    assert(spread.rdd.getNumPartitions === p)
  }

  test("spread returns a frame above the size bound unchanged") {
    val scan = fewSplitScan()
    // one byte per split: the bound is defaultParallelism bytes, which the
    // scan's ten rows exceed
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try assert(PlanSize.spread(scan) eq scan)
    finally spark.conf.unset("spark.sql.files.openCostInBytes")
    // a generator of unknown length gives no bound: unchanged as well
    val words = Seq("a b c").toDF("t").select(explode(split($"t", " ")).as("w"))
    assert(PlanSize.spread(words) eq words)
  }

  test("spread returns a frame the driver holds unchanged: its local scan is already split") {
    val p = spark.sparkContext.defaultParallelism
    val planted = (1 to 6).map(i => (s"d$i", s"planted doc $i")).toDF("doc_id", "text")
    assert(LocalRows.isLocal(planted))
    // well under the spread bound, yet not repartitioned: Spark's local scan
    // gives min(rows, leafNodeDefaultParallelism) partitions with no exchange
    assert(PlanSize.upperBoundBytes(planted).exists(_ < BigInt(p) * spark.sessionState.conf.filesOpenCostInBytes))
    assert(PlanSize.spread(planted) eq planted)
    assert(planted.rdd.getNumPartitions === math.min(6, p))
    // the same rows read from parquet are still spread
    val dir = java.nio.file.Files.createTempDirectory("plansize-planted").toString
    planted.write.mode("overwrite").parquet(dir)
    assert(spreadTo(spark.read.parquet(dir), p))
  }

  test("spread band edge: below defaultParallelism × openCostInBytes spreads, at it does not") {
    val p = spark.sparkContext.defaultParallelism
    val frame = spark.range(64).toDF("id")
    val bytes = PlanSize.upperBoundBytes(frame).get
    // openCostInBytes moves the bound in steps of p bytes; this frame sits
    // exactly on one step
    assert(bytes % p === 0)
    withConf(OpenCost -> (bytes / p).toString)(assert(PlanSize.spread(frame) eq frame))
    withConf(OpenCost -> (bytes / p + 1).toString)(assert(spreadTo(frame, p)))
    // a frame one row (8 bytes) above the bound is unchanged too
    val above = spark.range(65).toDF("id")
    assert(PlanSize.upperBoundBytes(above).get === bytes + 8)
    withConf(OpenCost -> (bytes / p).toString)(assert(PlanSize.spread(above) eq above))
  }

  test("fitsOneTask by bytes: at advisoryPartitionSizeInBytes and one byte above") {
    val frame = spark.range(1000).toDF("id")
    val bytes = PlanSize.upperBoundBytes(frame).get
    withConf(AdvisoryBytes -> bytes.toString)(assert(PlanSize.fitsOneTask(frame)))
    withConf(AdvisoryBytes -> (bytes - 1).toString)(assert(!PlanSize.fitsOneTask(frame)))
    // the optimised-plan form the driver sort uses decides the same
    val local = Seq(3, 1, 2).toDF("v")
    val plan = local.queryExecution.optimizedPlan
    val localBytes = PlanSize.upperBoundBytes(local).get
    withConf(AdvisoryBytes -> localBytes.toString)(assert(PlanSize.fitsOneTask(plan, spark.sessionState.conf)))
    withConf(AdvisoryBytes -> (localBytes - 1).toString)(assert(!PlanSize.fitsOneTask(plan, spark.sessionState.conf)))
  }

  test("fitsOneTask by rows is 250k rows, broadcastSafe is 2M rows") {
    assert(PlanSize.fitsOneTask(250000L))
    assert(!PlanSize.fitsOneTask(250001L))
    assert(PlanSize.broadcastSafe(2000000L))
    assert(!PlanSize.broadcastSafe(2000001L))
  }

  test("a generator of unknown length gives no bound: never one task, never spread") {
    val words = Seq("a b c").toDF("t").select(explode(split($"t", " ")).as("w"))
    assert(PlanSize.upperBoundBytes(words).isEmpty)
    withConf(AdvisoryBytes -> Long.MaxValue.toString)(assert(!PlanSize.fitsOneTask(words)))
    withConf(OpenCost -> (Long.MaxValue / 1024).toString)(assert(PlanSize.spread(words) eq words))
    // a constant explode is counted: 363 rows a pair, not one
    val days = Seq("GBP").toDF("c").select(col("c"), explode(sequence(lit(0), lit(362))).as("d"))
    assert(PlanSize.upperBoundBytes(days).get ===
      days.queryExecution.optimizedPlan.stats.sizeInBytes * 363)
  }

  test("no decision runs a Spark job, and parquet footers give rows and schema") {
    val dir = java.nio.file.Files.createTempDirectory("plansize-footers").toString
    spark.range(30).toDF("id").repartition(3).write.mode("overwrite").parquet(dir)
    // reading the parquet infers its schema with a job of its own
    val derived = spark.read.parquet(dir)
      .groupBy(pmod(col("id"), lit(7)).as("k")).agg(count(lit(1)).as("n"))
    val jobLog = graft.util.Sessions.jobLog(spark)
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val lastJob = jobLog.jobs.lastOption.fold(-1)(_.id)
    val footers = PlanSize.footers(spark, Seq(dir))
    val decisions = Seq(
      PlanSize.fitsOneTask(derived),
      PlanSize.fitsOneTask(derived.queryExecution.optimizedPlan, spark.sessionState.conf),
      PlanSize.fitsOneTask(footers.map(_.rows).sum),
      PlanSize.broadcastSafe(footers.map(_.rows).sum),
      !(PlanSize.spread(derived) eq derived),
      !(PlanSize.inOneTaskIf(true)(derived) eq derived),
      !(PlanSize.broadcastIf(true)(derived) eq derived))
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val ran = jobLog.jobs.filter(_.id > lastJob)
    assert(ran.isEmpty, ran.mkString("\n"))
    assert(decisions.forall(identity))
    assert(footers.size === 3)
    assert(footers.map(_.rows).sum === 30)
    assert(footers.flatMap(_.sparkSchema).map(_.fieldNames.toSeq).distinct === Seq(Seq("id")))
    assert(footers.map(_.schema).distinct.size === 1)
  }
}
