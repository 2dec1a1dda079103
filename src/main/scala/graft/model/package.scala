package graft

import org.apache.spark.sql.types.StructType

package object model {

  /** The schema of the stored rates table ([[RateRow]]): every rates file a
    * crawl round or a CSV ingest commits has it, and every read of the
    * committed rates pins it.
    */
  val RatesSchema: StructType =
    StructType.fromDDL("card_code STRING, trans_code STRING, date DATE, provider_id INT, rate DOUBLE")
}
