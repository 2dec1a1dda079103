package graft.leaves

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.sql.Date
import java.time.LocalDate

/** The golden fixtures that the flagship crawl and more than one leaf module
  * read, on the Spark side and in the DuckDB oracles alike (FIXTURES.md
  * §1-2; reference tests/test_db_client.py:12-30), and the reader of the sf
  * tables.
  */
object Golden {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  val TestDate: LocalDate = LocalDate.of(1995, 9, 10)

  val RatesFixture: Seq[(String, String, String, Int, Double)] = Seq(
    ("GBP", "USD", "1995-09-03", 1, 1.0), ("GBP", "USD", "1995-09-04", 1, 2.0),
    ("GBP", "USD", "1995-09-05", 1, 3.0), ("GBP", "USD", "1995-09-06", 1, 4.0),
    ("GBP", "USD", "1995-09-07", 2, 5.0), ("GBP", "USD", "1995-09-08", 2, 6.0),
    ("GBP", "USD", "1995-09-09", 2, 7.0), ("GBP", "USD", "1995-09-10", 1, 0.654654),
    ("USD", "GBP", "1995-09-03", 1, 7.0), ("USD", "GBP", "1995-09-04", 1, 6.0),
    ("USD", "GBP", "1995-09-05", 1, 5.0), ("USD", "GBP", "1995-09-06", 1, 4.0),
    ("USD", "GBP", "1995-09-07", 2, 3.0), ("USD", "GBP", "1995-09-08", 2, 2.0),
    ("USD", "GBP", "1995-09-09", 2, 1.0))

  val ratesFixtureSql: String = RatesFixture
    .map { case (c, tr, d, p, r) => s"('$c','$tr',DATE '$d',$p,$r)" }.mkString(",")

  /** The golden 7 missing combos in seed (seq) order. */
  val GoldenMissing: Seq[(String, String, String)] = Seq(
    ("GBP", "USD", "1995-09-07"), ("GBP", "USD", "1995-09-08"), ("GBP", "USD", "1995-09-09"),
    ("USD", "GBP", "1995-09-10"), ("USD", "GBP", "1995-09-07"), ("USD", "GBP", "1995-09-08"),
    ("USD", "GBP", "1995-09-09"))

  def ratesFixtureDf(s: SparkSession): DataFrame = {
    import s.implicits._
    RatesFixture.map { case (c, tr, d, p, r) => (c, tr, Date.valueOf(d), p, r) }
      .toDF("card_code", "trans_code", "date", "provider_id", "rate")
  }

  def providersDf(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1, "Mastercard"), (2, "Visa")).toDF("id", "name")
  }
}
