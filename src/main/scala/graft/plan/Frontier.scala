package graft.plan

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** Frontier planning: seed expansion + "missing combos" anti-join + shard
  * sink (SURVEY.md §2 #9, #14-16, #20-21; reference src/db/client.py:92-150).
  *
  * The reference builds `itertools.product` over a currency list held in
  * memory and looks the provider id up with a one-row query
  * (client.py:106-123, pipelines.py:17-21). Both dimensions are tiny (ISO
  * 4217 has about 180 codes; there are 2 providers), so they are resolved on
  * the driver here too: the currency pairs and the provider ids become
  * literals of the plan, and no exchange carries a dimension's 1-2 rows.
  * The date axis, the already-crawled set and the anti-join between them
  * stay declarative, so Catalyst picks the join from stats and AQE can
  * re-plan at runtime.
  */
object Frontier {

  /** The candidate combo grid `currs × currs × dates(desc)` with `x != y`
    * (client.py:106-111), carrying an explicit `seq` column that equals the
    * reference's `itertools.product` emission index (rightmost-fastest:
    * for each ordered (card, trans) pair, all dates descending from `end`).
    *
    * Ordering is data, not shuffle order — `seq` survives any repartition.
    * `currs` arrives as a DataFrame of (curr STRING, idx LONG) with idx the
    * iteration order. Its rows are read on the driver (a [[currencyDim]] is
    * a local relation, read with no job; any other dim is one `collect()`)
    * and the n·(n−1) pairs with their index are built there: they are
    * bounded by the currency universe, not by the data. The date axis is an
    * `explode` over the pairs, so the grid's rows are made on the executors.
    * A grid that [[graft.util.PlanSize.fitsOneTask]] bounds at one
    * partition's worth of data comes back in one partition, so a consumer's
    * global sort or window over it needs no exchange.
    */
  def candidates(currs: DataFrame, end: LocalDate, numDays: Int): DataFrame = {
    import currs.sparkSession.implicits._
    val dim = currs.select("curr", "idx").collect().map(r => (r.getString(0), r.getAs[Number](1).longValue))
    val n = dim.length.toLong
    // product(currs, currs) minus the diagonal, with the *filtered* pair
    // position: pairs removed before (ia, ib) = ia (+1 if ib > ia).
    val pairs = (for ((x, ia) <- dim; (y, ib) <- dim if x != y)
      yield (x, y, ia * n + ib - ia - (if (ib > ia) 1 else 0))).sortBy(_._3)
    val dates = explode(sequence(lit(0), lit(numDays - 1))).as("date_idx")
    val grid = pairs.toSeq.toDF("card_c", "trans_c", "pair_idx")
      .select(col("card_c"), col("trans_c"), col("pair_idx"), dates)
      .select(
        col("card_c"), col("trans_c"),
        date_sub(lit(java.sql.Date.valueOf(end)), col("date_idx")).as("date"),
        (col("pair_idx") * numDays + col("date_idx")).as("seq"))
    graft.util.PlanSize.inOneTaskIf(graft.util.PlanSize.fitsOneTask(grid))(grid)
  }

  /** Helper: a currency list (driver-side, tiny) → indexed dim DataFrame. */
  def currencyDim(spark: SparkSession, currs: Seq[String]): DataFrame = {
    import spark.implicits._
    currs.zipWithIndex.map { case (c, i) => (c, i.toLong) }.toDF("curr", "idx")
  }

  /** The `missing` planner (client.py:92-123): candidate grid anti-joined
    * against rates already stored for this provider in the window.
    *
    * The provider name is resolved to its id(s) on the driver from the
    * providers dim (the reference's one-row lookup, pipelines.py:17-21), so
    * every predicate (provider id, date range, currency membership) is a
    * filter on the build side that pushes down to the rates scan (parquet
    * row-group pruning). A name absent from the dim matches no stored rate,
    * so every candidate is missing.
    */
  def missing(
      candidates: DataFrame,
      rates: DataFrame,
      providers: DataFrame,
      provider: String,
      end: LocalDate,
      numDays: Int,
      currs: Seq[String]): DataFrame = {
    val start = end.minusDays(numDays - 1L)
    val providerIds = providers.filter(col("name") === provider).select("id").collect().map(_.get(0))
    val existing = rates
      .filter(
        col("provider_id").isin(providerIds: _*) &&
        col("date") <= lit(java.sql.Date.valueOf(end)) &&
        col("date") >= lit(java.sql.Date.valueOf(start)) &&
        col("card_code").isin(currs: _*) &&
        col("trans_code").isin(currs: _*))
      .select(
        col("card_code").as("card_c"),
        col("trans_code").as("trans_c"),
        col("date"))
    candidates.join(existing, Seq("card_c", "trans_c", "date"), "left_anti")
  }

  /** The `missing` planner with the REFERENCE'S DEFAULTS (client.py:92-104):
    * `num_days` defaults to 363, `end` to `current_date()` (the US/Eastern
    * 2pm-cutoff crawl date of `now`), and the currency set to the provider's
    * live `fetch_avail_currs()` — here the currency-dimension page rows in
    * `dimPages`, in page order. Explicit arguments override, as in the
    * reference signature.
    */
  def missingWithDefaults(
      spark: SparkSession,
      rates: DataFrame,
      providers: DataFrame,
      provider: String,
      dimPages: DataFrame,
      now: java.time.Instant,
      numDays: Int = 363,
      end: Option[LocalDate] = None,
      currs: Option[Seq[String]] = None): DataFrame = {
    val endDate = end.getOrElse(graft.functions.DateFns.currentCrawlDate(now))
    val currList = currs.getOrElse(graft.plan.Dims.availCurrencies(dimPages, provider))
    val cands = candidates(currencyDim(spark, currList), endDate, numDays)
    missing(cands, rates, providers, provider, endDate, numDays, currList)
  }

  /** Exact global rank 0..n-1 by `orderCol`. `orderCol` must be an atomic,
    * literal-expressible type (numeric, string, date/timestamp — every rank
    * key in this library); ties have no defined order among themselves.
    *
    * When the input's plan statistics bound it at or below one partition's
    * worth of data ([[graft.util.PlanSize.fitsOneTask]]; no job reads
    * them), one `row_number()` over a single partition ranks it: no quantile
    * job, no counts job, no offsets broadcast. Anything larger, or of
    * unknown size, takes the value-bucket path, whose every stage is parallel.
    */
  def withGlobalRank(df: DataFrame, orderCol: String, rankCol: String, partitions: Int): DataFrame =
    globalRank(df, orderCol, rankCol, partitions, buckets = !graft.util.PlanSize.fitsOneTask(df))

  /** Exact global EXCLUSIVE prefix sum of `valueCol` (cast to long) in
    * `orderCol` order — `outCol` = sum of all earlier rows' values, 0 for
    * the first row. Same gate and the same two paths as [[withGlobalRank]];
    * same contract: `orderCol` values must be unique (ties have no defined
    * order). The training-data consumer is [[graft.pipeline.Corpus]]'s
    * sequence packing: on a corpus beyond one partition a single-partition
    * cumsum would funnel it through one task, so it takes the bucket path.
    */
  def withGlobalPrefixSum(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String,
      partitions: Int): DataFrame =
    globalPrefixSum(df, orderCol, valueCol, outCol, partitions,
      buckets = !graft.util.PlanSize.fitsOneTask(df))

  /** [[withGlobalRank]] on the path `buckets` names, whatever the input's size. */
  private[graft] def globalRank(
      df: DataFrame, orderCol: String, rankCol: String, partitions: Int, buckets: Boolean): DataFrame =
    ordered(df, orderCol, partitions, buckets, count(lit(1)), rankCol)(
      (d, w) => d.withColumn(rankCol, row_number().over(w).cast("long") - 1))

  /** [[withGlobalPrefixSum]] on the path `buckets` names, whatever the input's size. */
  private[graft] def globalPrefixSum(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String, partitions: Int,
      buckets: Boolean): DataFrame = {
    val v = col(valueCol).cast("long")
    ordered(df, orderCol, partitions, buckets, sum(v), outCol)(
      (d, w) => d.withColumn(outCol, sum(v).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - v))
  }

  /** `within` computes `outCol` over a window ordered by `orderCol`. Without
    * `buckets` that window is the whole input, in one partition. With them,
    * it is partitioned by value bucket and every row adds its bucket's
    * offset, the sum of `perBucket` over all earlier buckets. The
    * per-bucket totals are one collected aggregation; the P offset rows
    * ride a broadcast join, not an O(P) when-chain (Catalyst expression
    * depth would become the scale limit).
    */
  private def ordered(
      df: DataFrame, orderCol: String, partitions: Int, buckets: Boolean, perBucket: Column, outCol: String)(
      within: (DataFrame, WindowSpec) => DataFrame): DataFrame =
    if (!buckets) within(df, Window.orderBy(orderCol))
    else {
      val withPid = withValueBuckets(df, orderCol, partitions)
      val totals = withPid.groupBy("__pid").agg(coalesce(perBucket, lit(0L)).cast("long"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val offsets = totals
        .scanLeft((0, 0L)) { case ((_, acc), (pid, t)) => (pid, acc + t) }
        .sliding(2).collect { case Array((_, off), (pid, _)) => pid -> off }.toSeq
      import df.sparkSession.implicits._
      val offsetsDf = offsets.toDF("__opid", "__off")
      within(
        withPid.join(broadcast(offsetsDf), col("__pid") === col("__opid"), "left"),
        Window.partitionBy("__pid").orderBy(orderCol))
        .withColumn(outCol, col(outCol) + coalesce(col("__off"), lit(0L)))
        .drop("__pid", "__opid", "__off")
    }

  private[graft] def withValueBuckets(df: DataFrame, orderCol: String, partitions: Int): DataFrame = {
    // The range-bucket id is a PURE FUNCTION OF THE ORDER VALUE — boundaries
    // are collected once from a deterministic hash-sample and baked in as
    // literals — NOT spark_partition_id() after repartitionByRange. That
    // shape was silently WRONG: the counts action and the returned plan each
    // execute their own range exchange (AQE does not reliably dedup them),
    // and RangePartitioner's reservoir sampling is seeded per RDD id, so two
    // executions pick different boundaries EVEN ON IDENTICAL INPUT — stale
    // offsets, ranks duplicated/skipped (reproduced at 5000 rows, local[4]).
    // Value-pure bucket ids are immune to re-execution, task retry,
    // speculative duplicates, and AQE re-planning, and need no cache or
    // checkpoint to pin (nothing persisted — nothing to leak).
    // Boundaries are ROW-frequency-weighted quantiles (percentile_approx),
    // not equal steps through the distinct-value list: a duplicate-heavy
    // order column (10^9 rows over 365 dates) has almost no distinct values
    // to sample, and value-stepped boundaries would ignore that one value
    // can hold most of the rows — either way funneling the input into one
    // bucket. Boundary QUALITY only affects balance, never correctness
    // (offsets are counted against the actual buckets), so the approximate,
    // order-sensitive sketch is fine here — the literals are frozen once.
    // Inherent limit, documented: all rows of ONE value share a bucket
    // (ties have no defined rank order); rank by a finer key if a single
    // hot value dominates. Cost, before the consumer's own execution: one
    // slim quantile pass (string keys: a count pass and a sample collect
    // instead), then the caller's per-bucket totals pass. Only inputs the
    // size gate cannot bound at one partition pay it (withGlobalRank).
    val fracs = (1 until partitions).map(_.toDouble / partitions)
    val percentileTypes: PartialFunction[org.apache.spark.sql.types.DataType, Unit] = {
      case _: org.apache.spark.sql.types.NumericType => ()
      case org.apache.spark.sql.types.DateType => ()
      case org.apache.spark.sql.types.TimestampType => ()
      case org.apache.spark.sql.types.TimestampNTZType => ()
    }
    val bnds: Seq[Any] =
      if (fracs.isEmpty) Seq.empty[Any] // partitions <= 1: one bucket, rank serial
      else if (percentileTypes.isDefinedAt(df.schema(orderCol).dataType)) {
        val row = df.select(percentile_approx(
          col(orderCol), lit(fracs.toArray), lit(10000)).as("q")).head()
        if (row.isNullAt(0)) Seq.empty[Any]
        else row.getSeq[Any](0).filter(_ != null).distinct
      } else {
        // non-percentile types (e.g. strings): step through a deterministic
        // value hash-sample — coarser on duplicate-heavy columns, and one
        // extra count() pass to size the sampling modulus
        val n = df.count()
        if (n == 0L) Seq.empty[Any]
        else {
          val k = math.max(1L, n / math.max(partitions.toLong * 128L, 1024L))
          val sampled = df
            .select(col(orderCol)).filter(pmod(xxhash64(col(orderCol)), lit(k)) === 0)
            .distinct().orderBy(orderCol)
            .collect().map(_.get(0))
          if (sampled.isEmpty) Seq.empty[Any]
          else {
            val step = sampled.length.toDouble / partitions
            (1 until partitions).map(i => sampled((i * step).toInt)).distinct
          }
        }
      }
    // bucket = how many boundaries sort at-or-below the value; the literal
    // array is `partitions`-sized (bounded), evaluated in codegen per row
    val pidExpr = if (bnds.isEmpty) lit(0)
      else size(filter(array(bnds.map(lit(_)): _*), b => b <= col(orderCol)))
    df.withColumn("__pid", pidExpr)
  }

  /** Round-robin shard assignment with exact reference parity
    * (client.py:144-146: output row i goes to shard `i % fileCount`, where
    * i is the position in the *missing result* stream in seed order).
    * The position is [[withGlobalRank]] by `seq`: a frontier whose plan
    * bounds it at one partition's worth of data is ranked in one task with
    * no pre-job; a larger one (the reference's ~150 currencies × 363 days)
    * pays the value-bucket path's quantile and counts jobs over
    * `partitions` buckets.
    */
  def withShard(missing: DataFrame, fileCount: Int, partitions: Int = 32): DataFrame =
    withGlobalRank(missing, "seq", "__rank", partitions)
      .withColumn("shard", pmod(col("__rank"), lit(fileCount.toLong)).cast("int"))
      .drop("__rank")

  /** Write the frontier shards as headerless CSVs, date formatted
    * `dd/MM/yyyy` (settings.py:110) — the reference's crawl-input dialect.
    */
  def writeShards(missing: DataFrame, fileCount: Int, outPath: String): Unit =
    withShard(missing, fileCount)
      .orderBy("shard", "seq")
      .select(
        col("shard"),
        col("card_c"),
        col("trans_c"),
        date_format(col("date"), "dd/MM/yyyy").as("date"))
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .option("header", "false")
      .csv(outPath)

  /** Frontier shard scan (SURVEY.md §2#1; MCSpider.py:54-56): headerless
    * `card_c,trans_c,date` CSV rows, date `dd/MM/yyyy`. `seq` is recovered
    * from shard structure when reading a [[writeShards]] layout is not
    * possible (plain files): row order within a file is preserved only
    * per-partition, so callers needing exact order should read one shard
    * at a time (as each reference spider instance does).
    */
  def readShards(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("card_c STRING, trans_c STRING, date_text STRING")
      .csv(path)
      .select(
        col("card_c"), col("trans_c"),
        to_date(col("date_text"), "dd/MM/yyyy").as("date"))

  /** Bulk rates ingest with the reference's PER-FILE commit semantics
    * (client.py:152-171: `session.commit()` once per input CSV, so a crash
    * mid-ingest keeps every completed file and none of the in-flight one).
    * Each file becomes one atomic [[graft.checkpoint.SnapshotStore]] commit
    * whose manifest also records the ingested file names — re-running after
    * a crash (or on an extended directory) ingests exactly the not-yet-
    * committed files, idempotently. Returns the full rates table.
    */
  def ratesFromCsvPerFile(
      spark: SparkSession,
      inDir: String,
      providerId: Int,
      store: graft.checkpoint.SnapshotStore): DataFrame = {
    import scala.jdk.CollectionConverters._
    // Files.list holds a directory handle until closed — materialize the
    // listing inside Using so repeated ingest calls can't leak handles
    val files = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(inDir))) { stream =>
      stream.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".csv"))
        .toSeq.sortBy(_.getFileName.toString)
    }
    val log = files.foldLeft(store.log()) { (log, f) =>
      val name = f.getFileName.toString
      if (log.has("ingestedFiles", name)) log
      else {
        val p = store.dataPath("rates", log.next)
        ratesFromCsv(spark, f.toString, providerId).write.mode("overwrite").parquet(p)
        log.commit(chains = Map("rates" -> (log.chain("rates") :+ p)), keys = Map("ingestedFiles" -> name))
      }
    }
    val ratesPaths = log.chain("rates")
    if (ratesPaths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "card_code STRING, trans_code STRING, date DATE, provider_id INT, rate DOUBLE"))
    else spark.read.parquet(ratesPaths: _*)
  }

  /** Bulk rates ingest (client.py:152-171): header CSV, dates `MM/dd/yyyy`
    * — deliberately a *different* dialect from the frontier shards
    * (SURVEY.md §2#2).
    */
  def ratesFromCsv(spark: SparkSession, inPath: String, providerId: Int): DataFrame =
    spark.read
      .option("header", "true")
      .schema("card_code STRING, trans_code STRING, date STRING, rate DOUBLE")
      .csv(inPath)
      .select(
        col("card_code"),
        col("trans_code"),
        to_date(col("date"), "MM/dd/yyyy").as("date"),
        lit(providerId).as("provider_id"),
        col("rate"))
}
