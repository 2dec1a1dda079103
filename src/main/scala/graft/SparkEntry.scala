package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalRows

import graft.crawl.CrawlJob
import graft.leaves.Golden.{TestDate, providersDf, ratesFixtureDf}
import graft.leaves.{Corpus, Crawl, Dedup, Graph, Leaf, Planner, Relational}
import graft.model.PolitenessConfig
import graft.plan.Frontier
import graft.synth.Synth

/** Driver contract: the flagship crawl `entry`, and the query leaves as the
  * two maps every runner reads, `queries` (name to Spark body) and
  * `oracleSql` (name to the DuckDB SQL that must return the same rows).
  *
  * Each leaf is defined once, as a [[graft.leaves.Leaf]] in the object of
  * its module (`graft.leaves`), with its body beside its oracle; both maps
  * are assembled from that one registry. Leaves cover SURVEY.md §2's
  * operator inventory, each one an operator or a tight operator cluster
  * expressed Spark-first.
  */
object SparkEntry {

  // ------------------------------------------------------------ flagship

  /** Flagship: the minimum end-to-end slice (SURVEY.md §7.3) — plan the
    * missing frontier for both providers, expand to byte-exact URLs,
    * dedup + robots-gate + politeness-schedule in rounds, fetch-join the
    * deterministic synthetic page table, extract rates, append with
    * uniqueness, checkpointing every round. Returns the final rates table.
    */
  def entry(spark: SparkSession): DataFrame = {
    val currsList = Seq("GBP", "USD", "EUR")
    val currs = Frontier.currencyDim(spark, currsList)
    val cands = Frontier.candidates(currs, TestDate, 5)
    // missing is planned PER provider (client.py plans per provider): each
    // provider's anti-join runs against ITS stored rates, so a combo
    // already stored under Visa is not re-crawled for Visa just because
    // Mastercard is missing it
    def seedsFor(provider: String) = Frontier.missing(
      cands, ratesFixtureDf(spark), providersDf(spark), provider, TestDate, 5, currsList)
    val seedsMc = seedsFor("Mastercard")
    val seedsVisa = seedsFor("Visa")
    val frontier = CrawlJob.expandSeeds(seedsMc, "Mastercard")
      .unionAll(CrawlJob.expandSeeds(seedsVisa.withColumn("seq", col("seq") + 1000000L), "Visa"))
    val pages = Synth.mcPages(seedsMc).unionAll(Synth.visaPages(seedsVisa))
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val (rates, _, _) = CrawlJob.run(
      spark, frontier, pages, robots, ckpt,
      PolitenessConfig(), roundSec = 10.0, maxRounds = 50)
    rates
  }

  // ------------------------------------------------------------- queries

  /** The one leaf registry; a name defined twice fails here. */
  private val leaves: Seq[Leaf] = {
    val all = Relational.leaves ++ Planner.leaves ++ Corpus.leaves ++ Dedup.leaves ++ Graph.leaves ++ Crawl.leaves
    val twice = all.groupBy(_.name).collect { case (name, ls) if ls.size > 1 => name }
    require(twice.isEmpty, s"leaf names defined more than once: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  /** The leaves by name. Each one first installs [[LocalRows]] in the
    * session it is given, so every caller (`Bench`, `Verify`, `BenchExtra`,
    * `PlanDump`, perfbench) plans it the same way.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = leaves.map { leaf =>
    leaf.name -> ((s: SparkSession, dir: String) => { LocalRows.setup(s); leaf.body(s, dir) })
  }.toMap

  /** The oracle SQL of each leaf, by name. */
  val oracleSql: Map[String, String] = leaves.map(leaf => leaf.name -> leaf.oracle).toMap
}
