package graft.util

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** The state a loop operator keeps between its steps: parquet checkpoints
  * in one scratch directory. Every loop operator (`Clusters`, the integer
  * ranks in `LinkGraph`, `Redirects`, `LmScore.crossEntropy`,
  * `Dsir.importanceWeights`) keeps its state here and nowhere else.
  *
  * A checkpoint is written and read back, so the plans that read it start
  * at its files and a loop's lineage stays O(1) in its iteration count.
  * Parquet, not a cache: the operators return lazy frames over their last
  * checkpoint, and a cached frame could never be safely unpersisted by the
  * library. The directory lives on whatever filesystem `spark.write`
  * resolves against (the default FS, not necessarily the driver's disk),
  * so every delete goes through the Hadoop FileSystem API.
  */
final class Scratch private (spark: SparkSession, val dir: String, conf: Configuration) {

  /** Write `df` to `dir/name` and read it back. `replaces` names the
    * checkpoints this one supersedes: no plan reads them any more, so they
    * are deleted once the new one is read back.
    */
  def checkpoint(df: DataFrame, name: String, replaces: Seq[String] = Nil): DataFrame = {
    val p = s"$dir/$name"
    df.write.mode("overwrite").parquet(p)
    val out = spark.read.parquet(p)
    replaces.foreach(old => Scratch.delete(conf, s"$dir/$old"))
    out
  }

  /** [[checkpoint]], with `metrics` (Long aggregates over the written
    * rows) observed on the same write job: a scalar the writing pass
    * already saw costs no second pass over the checkpoint.
    */
  def checkpointObserving(
      df: DataFrame, name: String, metrics: Seq[Column],
      replaces: Seq[String] = Nil): (DataFrame, Seq[Long]) = {
    val obs = Observation(s"graft.scratch.$name.${System.nanoTime()}")
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    val out = checkpoint(df.observe(obs, named.head, named.tail: _*), name, replaces)
    val row = obs.get
    (out, named.indices.map(i => row(s"m$i").asInstanceOf[Long]))
  }
}

object Scratch {

  /** The caller's `workDir` when it passes one: the caller owns its
    * lifetime. Otherwise a fresh temp directory named after `prefix`, one
    * per call, which the shutdown hook deletes at JVM exit: the returned
    * frames read the last checkpoint, so it cannot be deleted sooner.
    */
  def apply(spark: SparkSession, workDir: Option[String], prefix: String): Scratch = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = workDir.getOrElse {
      val fresh = java.nio.file.Files.createTempDirectory(prefix).toString
      pending.add((conf, fresh))
      if (hookArmed.compareAndSet(false, true)) sys.addShutdownHook(deletePending()): Unit
      fresh
    }
    new Scratch(spark, dir, conf)
  }

  // ONE shutdown hook draining a shared queue: a hook per call would keep
  // a never-removed Thread (each pinning a Hadoop Configuration) for every
  // auto-created directory of a long-lived session
  private val pending = new ConcurrentLinkedQueue[(Configuration, String)]()
  private val hookArmed = new AtomicBoolean(false)

  private def deletePending(): Unit = {
    var next = pending.poll()
    while (next != null) {
      try delete(next._1, next._2) catch { case _: Exception => () }
      next = pending.poll()
    }
  }

  /** Whether `dir` is an auto-created directory awaiting deletion at exit. */
  private[graft] def deletedAtExit(dir: String): Boolean =
    pending.stream().anyMatch(_._2 == dir)

  private def delete(conf: Configuration, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(conf).delete(p, true): Unit
  }
}
