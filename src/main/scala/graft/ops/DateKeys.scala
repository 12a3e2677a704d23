package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date-key conventions (SURVEY.md §2.6 F4-F8).
  *
  * The reference keeps dates as `yyyyMMdd` *strings* throughout the gold
  * layer — parsed to datetime only transiently and immediately re-serialized
  * (reference parquet/Common/pandasWrapper.py:143-148, 165-166). Empty string
  * passes through as empty string, and string comparison on `yyyyMMdd` is
  * the reference's date comparison (SURVEY.md §7.4.4). These helpers preserve
  * that contract exactly while staying in codegen'd built-ins.
  */
object DateKeys {

  /** `to_datetime_key` parity: any date/timestamp/ISO-string → `yyyyMMdd`;
    * null/unparseable/'' → '' (the reference's empty-string convention).
    * `try_to_date` (not an ANSI cast) so junk input yields null, matching
    * pandas errors='ignore', instead of failing the job. */
  def dateKey(c: Column): Column =
    coalesce(date_format(try_to_date(c), "yyyyMMdd"), lit(""))

  /** `dt.strftime` equivalents used by date_dim (reference
    * parquet/amt/base/date_dim/main.py:68-79). */
  def monthName(c: Column): Column = date_format(try_to_date(c), "MMMM")

  def quarterName(c: Column): Column = {
    val q = quarter(try_to_date(c))
    when(q === 1, "First").when(q === 2, "Second")
      .when(q === 3, "Third").when(q === 4, "Fourth")
  }

  /** Today as a `yyyyMMdd` key (enrollment-window filters, F8). */
  def todayKey: Column = date_format(current_date(), "yyyyMMdd")
}
