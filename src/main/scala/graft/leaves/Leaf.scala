package graft.leaves

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query leaf of the driver contract: its name, its Spark body (given a
  * session and the directory of the sf tables) and the DuckDB SQL that must
  * return the same rows over the same tables. Each module object in this
  * package lists its leaves; `graft.SparkEntry` assembles them.
  */
final case class Leaf(name: String, body: (SparkSession, String) => DataFrame, oracle: String)
