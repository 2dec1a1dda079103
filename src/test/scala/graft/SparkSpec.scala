package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.LocalRows
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps the
  * suite fast; `Test / fork := true` isolates it from sbt). It installs
  * [[LocalRows]] as the leaves do, so every suite plans the same whatever
  * the suite order.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    LocalRows.setup(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
