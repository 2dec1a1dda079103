package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Clusters
import graft.graph.LinkGraph
import graft.pipeline.Dsir
import graft.util.{Scratch, Sessions}

/** The loop operators' one checkpoint mechanism: what a call leaves in its
  * directory, the scalars it observes, the cleanup of an auto-created
  * directory, and the description its pool jobs carry.
  */
class ScratchSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def checkpointsIn(dir: String): Set[String] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet

  private def checkpointsReadBy(df: DataFrame): Set[String] =
    df.inputFiles.map(f => new Path(f).getParent.getName).toSet

  test("with an explicit workDir, only the checkpoints a loop's result reads remain") {
    val ccDir = tmp("scratch-cc")
    val clusters = Clusters.resolveClusters(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b"), workDir = Some(ccDir))
    assert(clusters.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
    assert(checkpointsReadBy(clusters).size === 1)
    assert(checkpointsIn(ccDir) === checkpointsReadBy(clusters))

    val prDir = tmp("scratch-pr")
    val ranks = LinkGraph.pageRankInt(
      Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("src", "dst"),
      iters = 3, workDir = Some(prDir))
    assert(ranks.count() === 4)
    assert(checkpointsReadBy(ranks) === Set("iter-3"))
    assert(checkpointsIn(prDir) === Set("iter-3"))
  }

  test("observed scalars equal a direct count, and ride the checkpoint write") {
    val df = spark.range(0, 1000).toDF("id")
    val scratch = Scratch(spark, Some(tmp("scratch-obs")), "unused")
    val (out, Seq(n, even)) = scratch.checkpointObserving(
      df, "obs", Seq(count(lit(1)), coalesce(sum(when(col("id") % 2 === 0, 1L)), lit(0L))))
    assert(n === df.count())
    assert(even === df.filter(col("id") % 2 === 0).count())
    assert(out.count() === n)
    // a checkpoint that replaces another deletes it
    scratch.checkpoint(df, "next", replaces = Seq("obs"))
    assert(checkpointsIn(scratch.dir) === Set("next"))
  }

  test("an auto-created directory is fresh per call and deleted at exit; a workDir is the caller's") {
    val a = Scratch(spark, None, "graft-scratch-spec")
    val b = Scratch(spark, None, "graft-scratch-spec")
    assert(a.dir !== b.dir)
    assert(new java.io.File(a.dir).getName.startsWith("graft-scratch-spec"))
    assert(Scratch.deletedAtExit(a.dir) && Scratch.deletedAtExit(b.dir))
    val own = tmp("scratch-own")
    assert(Scratch(spark, Some(own), "graft-scratch-spec").dir === own)
    assert(!Scratch.deletedAtExit(own))
  }

  test("Dsir.importanceWeights: every job it launches carries the caller's description") {
    val sc = spark.sparkContext
    val log = Sessions.jobLog(spark)
    org.apache.spark.TestListenerBus.drain(sc)
    val lastJob = log.jobs.lastOption.fold(-1)(_.id)
    val docs = Seq((1L, "table scan join"), (2L, "zz1 zz2 zz3"), (3L, "")).toDF("doc_id", "text")
    val target = Seq((10L, "table scan filter"), (11L, "sort merge join")).toDF("doc_id", "text")
    // the global pool's threads, if created now, inherit a decoy label: a
    // pool job that is not labelled explicitly would carry it
    sc.setJobDescription("decoy")
    Await.result(Future.traverse(1 to 8)(_ => Future(Thread.sleep(20))), Duration.Inf)
    sc.setJobDescription("dsir under test")
    try Dsir.importanceWeights(docs, target, buckets = 64).collect()
    finally sc.setJobDescription(null)
    org.apache.spark.TestListenerBus.drain(sc)
    val ran = log.jobs.filter(_.id > lastJob)
    assert(ran.nonEmpty)
    assert(ran.forall(_.description == "dsir under test"), ran.mkString("\n"))
  }
}
