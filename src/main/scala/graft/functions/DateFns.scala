package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import java.time.{LocalDate, ZoneId, ZonedDateTime}
import java.time.format.DateTimeFormatter

/** Scalar date helpers (SURVEY.md §2 #32-34).
  *
  * Three textual date formats coexist in the reference:
  * canonical `dd/MM/yyyy` (settings.py:110), Mastercard `yyyy-MM-dd`
  * (MCSpider.py:27), Visa `MM/dd/yyyy` (VisaSpider.py:24), and the rates
  * bulk-load CSVs use `MM/dd/yyyy` too (client.py:166).
  */
object DateFns {

  val StdFmt = "dd/MM/yyyy"

  private val stdFmtJ = DateTimeFormatter.ofPattern(StdFmt)

  /** `strpdate` (client.py:31-32) as a plain function for driver-side use. */
  def strpdate(s: String): LocalDate = LocalDate.parse(s, stdFmtJ)

  /** "Current crawl date" under the Mastercard day-boundary definition
    * (client.py:55-65): now in US/Eastern; before 14:00 local, "today" is
    * yesterday. Takes the instant as a parameter for determinism.
    */
  def currentCrawlDate(nowUtc: java.time.Instant): LocalDate = {
    val et: ZonedDateTime = nowUtc.atZone(ZoneId.of("US/Eastern"))
    val d = et.toLocalDate
    if (et.getHour < 14) d.minusDays(1) else d
  }

  /** Column form of [[currentCrawlDate]] over a TIMESTAMP column.
    *
    * The source label is `current_timezone()`, NOT a hardcoded "UTC":
    * convert_timezone implicitly casts a TIMESTAMP argument to
    * TIMESTAMP_NTZ by rendering the instant in the SESSION timezone, so
    * the source must be that same session timezone or every non-UTC
    * session silently computes Eastern time (and the 2pm crawl-date
    * boundary) from the wrong wall clock.
    */
  def currentCrawlDateCol(ts: Column): Column = {
    val et = convert_timezone(current_timezone(), lit("America/New_York"), ts)
    when(hour(et) < 14, date_sub(to_date(et), 1)).otherwise(to_date(et))
  }
}
