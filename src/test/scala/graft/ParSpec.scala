package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Par

class ParSpec extends SparkSpec {
  import spark.implicits._

  /** A one-split parquet scan: the few-splits case of a small input file. */
  private def fewSplitScan(): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("par-spec").toString
    spark.range(10).toDF("id").repartition(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("spread raises scan-shaped inputs to defaultParallelism") {
    val p = spark.sparkContext.defaultParallelism
    val scan = fewSplitScan()
    assert(scan.rdd.getNumPartitions < p)
    assert(Par.spread(scan).rdd.getNumPartitions === p)
    // narrow wrappers (select/filter/union) keep the spread guard active —
    // q27 passes scan UNION planted-rows and must still get kernel
    // parallelism
    val wrapped = scan.select(col("id")).filter(col("id") >= 0)
      .unionByName(Seq(100L).toDF("id"))
    assert(Par.spread(wrapped).rdd.getNumPartitions === p)
  }

  test("spread decides from size, not partition count: a spark.range(1) leg does not hide a few-split scan") {
    val p = spark.sparkContext.defaultParallelism
    // spark.range(1) plans defaultParallelism near-empty partitions, so the
    // union has more partitions than cores while its rows sit in one split
    val mixed = fewSplitScan().unionByName(spark.range(1).toDF("id"))
    assert(mixed.rdd.getNumPartitions > p)
    assert(Par.spread(mixed).rdd.getNumPartitions === p)
  }

  test("spread widens limit/sample/coalesce-shaped frames without probing them") {
    val p = spark.sparkContext.defaultParallelism
    val limited = spark.range(1000).toDF("id").limit(500)
    assert(Par.spread(limited).rdd.getNumPartitions === p)
    val coalesced = spark.range(1000).toDF("id").coalesce(1)
    assert(Par.spread(coalesced).rdd.getNumPartitions === p)
    val sampled = spark.range(1000).toDF("id").sample(0.5, seed = 7)
      .select(col("id")).filter(col("id") >= 0)
    assert(Par.spread(sampled).rdd.getNumPartitions === p)
    // a small frame is spread to p whatever its partition count: an
    // explicit repartition(p + 4) and a sample over it are small too
    val wide = spark.range(1000).toDF("id").repartition(p + 4)
    assert(Par.spread(wide).rdd.getNumPartitions === p)
    val wideSample = wide.sample(0.5, seed = 7)
    assert(Par.spread(wideSample).rdd.getNumPartitions === p)
    val limitOverWide = wide.limit(500)
    assert(Par.spread(limitOverWide).rdd.getNumPartitions === p)
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
    val spread = Par.spread(derived)
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
    try assert(Par.spread(scan) eq scan)
    finally spark.conf.unset("spark.sql.files.openCostInBytes")
    // a generator of unknown length gives no bound: unchanged as well
    val words = Seq("a b c").toDF("t").select(explode(split($"t", " ")).as("w"))
    assert(Par.spread(words) eq words)
  }
}
