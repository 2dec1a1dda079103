package graft

import graft.util.Sessions

/** Manual end-to-end smoke: runs the flagship crawl slice exactly as the
  * driver does (rows > 0 on the final rates table) and prints a sample.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val rates = SparkEntry.entry(spark)
    val n = rates.count()
    println(s"[smoke] entry rates rows = $n")
    rates.orderBy("provider_id", "card_code", "trans_code", "date").show(10, truncate = false)
    require(n > 0, "entry returned no rows")
    println("[smoke] OK")
    spark.stop()
  }
}
