package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** A frame over its own stored rows, through the `private[sql]` RDD-backed
  * frame constructor (see [[ColumnBridge]] for why a shim lives here).
  *
  * `apply(df)` runs `df`'s exchanges at once and leaves its last stage to
  * the first job that reads the returned frame; that job stores the rows
  * (in memory, spilling to disk), and every later reader scans them. No
  * job of its own fills the store, unlike `cache()` + an action, and no
  * plan upstream of the frame reaches its readers. `rows.unpersist()`
  * releases them.
  */
object KeptFrame {
  def apply(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val rows = df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    (spark.internalCreateDataFrame(rows, df.schema), rows)
  }
}
