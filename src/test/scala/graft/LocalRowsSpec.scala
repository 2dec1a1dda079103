package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalRows
import org.apache.spark.sql.graftbridge.LocalRows.DriverBroadcastExec
import org.apache.spark.sql.types.StructType

/** Rows the driver holds run no job (`LocalRows`): a local build side is
  * broadcast from the driver exactly where Spark chose a broadcast, with
  * the rows a stored build side gives, and a small local sort is done on
  * the driver in `SortExec`'s order.
  */
class LocalRowsSpec extends SparkSpec {
  import spark.implicits._

  private object Nodes extends AdaptiveSparkPlanHelper

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("localrows").toString + "/" + name

  private def driverBroadcasts(plan: SparkPlan) = Nodes.collect(plan) { case b: DriverBroadcastExec => b }
  private def exchanges(plan: SparkPlan) = Nodes.collect(plan) { case b: BroadcastExchangeExec => b }

  /** The same rows as a table outside driver memory. */
  private def stored(df: DataFrame, name: String): DataFrame = {
    val dir = tmp(name)
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // null keys on both sides, and build keys 2 and 4 twice
  private def probe = stored(
    Seq[(Integer, String)]((1, "a"), (2, "b"), (3, "c"), (null, "n"), (4, "d"), (5, "e")).toDF("k", "p"), "probe")
  private def build = Seq[(Integer, String)]((2, "x"), (2, "y"), (4, "z"), (4, "z"), (null, "w"), (7, "v"))
    .toDF("bk", "b")

  test("a local build side is broadcast from the driver with the rows a stored one gives") {
    val p = probe
    val local = build
    assert(LocalRows.isLocal(local))
    val onDisk = stored(local, "build")
    for (how <- Seq("inner", "left_outer", "left_semi", "left_anti")) {
      def joined(b: DataFrame) = p.join(b, col("k") === col("bk"), how)
      val viaDriver = joined(local)
      val viaExchange = joined(onDisk)
      val expected = sortedRows(viaExchange)
      assert(sortedRows(viaDriver) === expected, how)
      val plan = viaDriver.queryExecution.executedPlan
      assert(driverBroadcasts(plan).size === 1 && exchanges(plan).isEmpty, s"$how\n${plan.treeString}")
      assert(exchanges(viaExchange.queryExecution.executedPlan).size === 1, how)
    }
  }

  test("NOT IN over a local build side plans the null-aware anti join, broadcast from the driver") {
    val p = probe
    p.createOrReplaceTempView("lr_probe")
    val withNull = build
    val noNull = build.filter(col("bk").isNotNull)
    for ((b, name) <- Seq(withNull -> "with_null", noNull -> "no_null")) {
      b.createOrReplaceTempView(s"lr_local_$name")
      stored(b, name).createOrReplaceTempView(s"lr_stored_$name")
      val viaDriver = notIn(s"lr_local_$name")
      val expected = sortedRows(notIn(s"lr_stored_$name"))
      assert(sortedRows(viaDriver) === expected, name)
      val broadcasts = driverBroadcasts(viaDriver.queryExecution.executedPlan)
      assert(broadcasts.size === 1, viaDriver.queryExecution.executedPlan.treeString)
      assert(PartialFunction.cond(broadcasts.head.mode) {
        case HashedRelationBroadcastMode(_, nullAware) => nullAware
      }, broadcasts.head.mode.toString)
    }
    // a null in the subquery leaves no row; without it, the probe's null key drops
    assert(sortedRows(notIn("lr_local_with_null")).isEmpty)
    assert(sortedRows(notIn("lr_local_no_null")) === Seq("[1,a]", "[3,c]", "[5,e]"))
  }

  private def notIn(view: String): DataFrame =
    spark.sql(s"SELECT k, p FROM lr_probe WHERE k NOT IN (SELECT bk FROM $view)")

  test("Spark's join choice holds: no broadcast threshold, or a shuffle_hash or merge hint, means no driver broadcast") {
    val p = probe
    val expected = sortedRows(p.join(stored(build, "hinted"), col("k") === col("bk")))
    def check(joined: DataFrame, label: String): Unit = {
      assert(sortedRows(joined) === expected, label)
      val plan = joined.queryExecution.executedPlan
      assert(driverBroadcasts(plan).isEmpty && exchanges(plan).isEmpty, s"$label\n${plan.treeString}")
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      check(p.join(build, col("k") === col("bk")), "threshold -1")
    }
    check(p.join(build.hint("shuffle_hash"), col("k") === col("bk")), "shuffle_hash")
    check(p.join(build.hint("merge"), col("k") === col("bk")), "merge")
  }

  test("a small local sort is done on the driver in SortExec's order: nulls first and last, desc, NaN and -0.0") {
    val schema = StructType.fromDDL("id INT, d DOUBLE, s STRING")
    val rows = Seq(
      Row(1, 1.5, "b"), Row(2, null, "a"), Row(3, Double.NaN, null), Row(4, -0.0, "c"),
      Row(5, 0.0, "b"), Row(6, Double.NegativeInfinity, "a"), Row(7, null, null), Row(8, Double.NaN, "c"),
      Row(9, -2.0, "b"), Row(10, 0.0, "a"), Row(11, -0.0, null), Row(12, Double.PositiveInfinity, "b"))
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val distributed = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    assert(LocalRows.isLocal(local) && !LocalRows.isLocal(distributed))
    // id last breaks every tie, so each order is total and -0.0 must tie 0.0
    val orders = Seq(
      Seq(col("d").asc_nulls_first, col("id")),
      Seq(col("d").asc_nulls_last, col("id")),
      Seq(col("d").desc, col("id")),
      Seq(col("d").desc_nulls_first, col("id").desc),
      Seq(col("s").desc_nulls_last, col("d"), col("id")),
      Seq(col("s").asc, (col("d") * -1).desc_nulls_last, col("id")))
    for (order <- orders) {
      val onDriver = local.orderBy(order: _*)
      assert(onDriver.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], order.mkString(", "))
      val bySortExec = distributed.orderBy(order: _*)
      assert(onDriver.collect().toSeq === bySortExec.collect().toSeq, order.mkString(", "))
    }
  }

  test("a nondeterministic order, and a relation above one partition's worth of data, keep their sort") {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
    val local = (1 to 20).map(i => (i, s"v$i")).toDF("id", "v")
    assert(local.orderBy(col("id")).queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    def keepsSort(df: DataFrame) = df.queryExecution.optimizedPlan.collectFirst { case s: Sort => s }.isDefined
    // the analyser moves a random key into a projection below the sort, so
    // the rule is handed the sort it would otherwise never see
    val relation = local.queryExecution.optimizedPlan
    val byId = Sort(Seq(SortOrder(relation.output.head, Ascending)), global = true, relation)
    assert(LocalRows.DriverSort(byId).isInstanceOf[LocalRelation])
    val random = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), global = true, relation)
    assert(LocalRows.DriverSort(random) === random)
    assert(local.orderBy(rand(7)).count() === 20)
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64") {
      val sorted = local.orderBy(col("id").desc)
      assert(keepsSort(sorted))
      assert(sorted.collect().map(_.getInt(0)).toSeq === (20 to 1 by -1))
    }
  }

  test("setup is idempotent: one strategy and one rule however often it runs") {
    val s = spark.newSession()
    assert(s.experimental.extraStrategies.isEmpty && s.experimental.extraOptimizations.isEmpty)
    LocalRows.setup(s)
    LocalRows.setup(s)
    assert(s.experimental.extraStrategies === Seq(LocalRows.DriverBroadcast))
    assert(s.experimental.extraOptimizations === Seq(LocalRows.DriverSort))
    LocalRows.setup(spark)
    assert(spark.experimental.extraStrategies.count(_ == LocalRows.DriverBroadcast) === 1)
    assert(spark.experimental.extraOptimizations.count(_ == LocalRows.DriverSort) === 1)
  }

  test("job counts: q10-q14 run one job each, q15 none") {
    val log = graft.util.Sessions.jobLog(spark)
    val leaves = Seq("q10_missing_antijoin", "q11_url_mc", "q12_url_visa", "q13_shard_roundrobin",
      "q14_frontier_csv_dialect", "q15_date_cutoff")
    val jobs = leaves.map { q =>
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      val last = log.jobs.lastOption.fold(-1)(_.id)
      assert(SparkEntry.queries(q)(spark, "").collect().nonEmpty, q)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      q -> log.jobs.count(_.id > last)
    }
    assert(jobs === leaves.map(q => q -> (if (q == "q15_date_cutoff") 0 else 1)))
  }
}
