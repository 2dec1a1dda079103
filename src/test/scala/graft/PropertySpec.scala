package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.dedup.UrlSeen
import graft.model.{HostState, PolitenessConfig}
import graft.politeness.Scheduler

/** Property-based invariants (SURVEY.md §5.3): randomized frontiers can
  * never break the scheduler budget, dedup uniqueness, or ordering laws.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val frontierGen: Gen[List[(String, String, Int, Long)]] = for {
    nHosts <- Gen.choose(1, 6)
    n <- Gen.choose(1, 120)
    rows <- Gen.listOfN(n, for {
      h <- Gen.choose(0, nHosts - 1)
      pri <- Gen.choose(-1, 2)
      seq <- Gen.choose(0L, 500L)
      u <- Gen.choose(0, 200)
    } yield (s"host$h.com", s"https://host$h.com/p$u", pri, seq))
  } yield rows

  test("property: scheduler never exceeds any host's budget and picks max-priority-first") {
    val cfg = PolitenessConfig(maxPerHost = 7)
    Iterator.continually(frontierGen.sample).flatten.take(12).foreach { rows =>
      // unique seq per host ⇒ the (priority desc, seq) order is total and
      // the expected top-k set is well-defined
      val f = rows.toDF("host", "url", "priority", "seq")
        .dropDuplicates("host", "seq")
      val out = Scheduler.scheduleRound(f, spark.emptyDataset[HostState].toDF, cfg, roundSec = 10.0)
        .select("host", "priority", "seq").as[(String, Int, Long)].collect()
      val budget = Scheduler.budgetFor(cfg.startDelaySec, 10.0, cfg)
      out.groupBy(_._1).foreach { case (host, scheduled) =>
        assert(scheduled.length <= budget, s"$host over budget")
        // every scheduled row must beat every unscheduled row of its host
        // in (priority desc, seq asc) order
        val all = f.filter(col("host") === host)
          .select("priority", "seq").as[(Int, Long)].collect()
          .sortBy { case (p, s) => (-p, s) }
        val expected = all.take(scheduled.length).toSet
        assert(scheduled.map(r => (r._2, r._3)).toSet === expected, s"$host wrong pick")
      }
    }
  }

  test("property: within-batch dedup output has unique urls, keeps min seq") {
    Iterator.continually(frontierGen.sample).flatten.take(12).foreach { rows =>
      val f = rows.toDF("host", "canonUrl", "priority", "seq")
      val out = UrlSeen.dedupWithinBatch(f).select("canonUrl", "seq").as[(String, Long)].collect()
      assert(out.map(_._1).distinct.length === out.length)
      val minSeq = rows.groupBy(_._2).view.mapValues(_.map(_._4).min).toMap
      out.foreach { case (u, s) => assert(s === minSeq(u), s"kept non-first for $u") }
    }
  }

  test("property: bloom path never drops a genuinely-new url (no false drops)") {
    val gen = for {
      seenN <- Gen.choose(0, 300)
      candN <- Gen.choose(1, 100)
      overlap <- Gen.choose(0, 50)
    } yield (seenN, candN, overlap)
    Iterator.continually(gen.sample).flatten.take(6).foreach { case (seenN, candN, overlap) =>
      val seen = (0 until seenN).map(i => s"http://s.com/$i")
        .toDF("url").select(xxhash64(col("url")).as("urlHash"), col("url"))
      val cands = ((0 until overlap).map(i => s"http://s.com/$i") ++
        (0 until candN).map(i => s"http://n.com/$i")).zipWithIndex
        .toDF("url", "seq")
        .select(col("url"), col("seq"), col("url").as("canonUrl"), xxhash64(col("url")).as("urlHash"))
      val dir = java.nio.file.Files.createTempDirectory("bloomprop").toString
      UrlSeen.buildPartitionedBlooms(seen, dir, parts = 4, UrlSeen.capacityFor(seenN.toLong, 4))
      val out = UrlSeen.filterNewPartitionedBloom(cands, seen, dir, parts = 4)
        .select("url").as[String].collect().toSet
      val expectedNew = (0 until candN).map(i => s"http://n.com/$i").toSet ++
        (seenN until overlap).map(i => s"http://s.com/$i").toSet
      assert(out === expectedNew)
    }
  }

  test("property: withGlobalRank ≡ sorted position for random inputs, dups, any partitions") {
    val caseGen = for {
      n <- Gen.choose(0, 400)
      card <- Gen.oneOf(3, 17, 1000) // duplicate-heavy through near-unique
      parts <- Gen.choose(1, 9)      // includes the degenerate single bucket
      vals <- Gen.listOfN(n, Gen.choose(0L, card.toLong))
    } yield (vals, parts)
    Iterator.continually(caseGen.sample).flatten.take(10).foreach { case (vals, parts) =>
      val df = vals.zipWithIndex.toDF("v", "i")
      val got = graft.plan.Frontier.globalRank(df, "v", "r", parts, buckets = true)
        .select("v", "r").as[(Long, Long)].collect()
      // dense 0..n-1, and rank order must agree with the value order:
      // every rank boundary between different values matches sorted position
      assert(got.map(_._2).sorted.toSeq === (0L until vals.length.toLong))
      val sortedVals = vals.sorted
      got.foreach { case (v, r) => assert(sortedVals(r.toInt) === v, s"rank $r holds $v") }
    }
  }

  test("property: incrementally-merged partitioned blooms ≡ exact over random rounds") {
    val gen = for {
      rounds <- Gen.choose(2, 4)
      perRound <- Gen.choose(10, 150)
      parts <- Gen.oneOf(2, 4, 8)
      cap <- Gen.oneOf(16L, 64L, 4096L) // small caps force saturation rebuilds
    } yield (rounds, perRound, parts, cap)
    Iterator.continually(gen.sample).flatten.take(4).foreach { case (rounds, perRound, parts, cap) =>
      val dir = java.nio.file.Files.createTempDirectory("propbloom").toString
      var seenUrls = Vector.empty[String]
      (1 to rounds).foreach { r =>
        val delta = ((r - 1) * perRound until r * perRound).map(i => s"http://r.com/$i")
        seenUrls = seenUrls ++ delta
        val deltaDf = delta.toDF("url")
          .select(xxhash64(col("url")).as("urlHash"), col("url"))
        val seenDf = seenUrls.toDF("url")
          .select(xxhash64(col("url")).as("urlHash"), col("url"))
        UrlSeen.mergeDeltaIntoPartitionedBlooms(deltaDf, seenDf, dir, parts, capacityPerPart = cap)
        val cands = (seenUrls.take(20) ++ seenUrls.takeRight(20) ++
          (0 until 25).map(i => s"http://fresh$r.com/$i")).zipWithIndex
          .toDF("url", "seq")
          .select(col("url"), col("seq"), col("url").as("canonUrl"), xxhash64(col("url")).as("urlHash"))
        val exact = UrlSeen.filterNewExact(cands, seenDf).select("url").as[String].collect().toSet
        val pb = UrlSeen.filterNewPartitionedBloom(cands, seenDf, dir, parts)
          .select("url").as[String].collect().toSet
        assert(pb === exact, s"rounds=$rounds perRound=$perRound parts=$parts cap=$cap round=$r")
        assert(exact.size === 25)
      }
    }
  }
}
