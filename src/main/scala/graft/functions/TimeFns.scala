package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F2 due_date, F3 time_remaining, F13 load_month, F14 DimDate range,
  * F15 daily fact date generation (F16 days_to_deadline is inline in
  * AnalyticsViews.vwTop10Hanoi).
  *
  * Every wall-clock dependency is an explicit `now`/`asOf` parameter
  * (SURVEY §7.4(3)): the reference calls datetime.now()/CURRENT_TIMESTAMP
  * throughout, which would make results non-deterministic and untestable.
  */
object TimeFns {

  // ------------------------------------------------------------ F2
  /** due_date = crawled_at + deadline days when null
    * (ref sql/stored_procedures.sql:133-135; deadline is a day-count string).
    */
  def dueDate(due: Column, crawledAt: Column, deadlineDays: Column): Column =
    coalesce(due,
      // cast through TIMESTAMP first: parquet NTZ timestamps can't cast
      // to BIGINT directly (session TZ is UTC, so the instant is identical)
      (crawledAt.cast("timestamp").cast("long") + deadlineDays.cast("long") * 86400L)
        .cast("timestamp"))

  // ------------------------------------------------------------ F3
  /** Tiered Vietnamese countdown (ref sql/stored_procedures.sql:148-184):
    * ≥1 day → "Còn N ngày để ứng tuyển", ≥1h → giờ, ≥1min → phút,
    * <1min → giây, past-due → "Đã hết thời gian ứng tuyển".
    * Components follow PostgreSQL interval extraction on positive
    * intervals (days = floor(diff/86400), hours = floor(diff/3600) when
    * <1 day, etc.).
    */
  def timeRemaining(due: Column, now: Column): Column = {
    val diff = due.cast("timestamp").cast("long") - now.cast("timestamp").cast("long")
    when(due.isNull, lit(null).cast("string"))
      .when(due <= now, lit("Đã hết thời gian ứng tuyển"))
      .when(diff >= 86400L,
        concat(lit("Còn "), (diff / 86400L).cast("long"), lit(" ngày để ứng tuyển")))
      .when(diff >= 3600L,
        concat(lit("Còn "), (diff / 3600L).cast("long"), lit(" giờ để ứng tuyển")))
      .when(diff >= 60L,
        concat(lit("Còn "), (diff / 60L).cast("long"), lit(" phút để ứng tuyển")))
      .otherwise(
        concat(lit("Còn "), diff, lit(" giây để ứng tuyển")))
  }

  /** The variant the reference pipeline ACTUALLY EXECUTES
    * (raw_to_staging.py:222-237 runs this inline 2-branch CASE instead
    * of the 4-tier stored procedure): due in the future → whole-days
    * countdown, everything else — including <1-day remainders that the
    * proc would humanize as hours/minutes, and NULL due dates — →
    * 'Đã hết thời gian ứng tuyển'. Kept separately from the proc-faithful
    * `timeRemaining` so an e2e replay of reference OUTPUT can choose
    * the executed semantics.
    */
  def timeRemainingExecuted(due: Column, now: Column): Column = {
    val diff = due.cast("timestamp").cast("long") - now.cast("timestamp").cast("long")
    when(due > now,
      concat(lit("Còn "), floor(diff / 86400L).cast("int"), lit(" ngày để ứng tuyển")))
      .otherwise(lit("Đã hết thời gian ứng tuyển"))
  }

  // ------------------------------------------------------------ F13
  /** 'YYYY-MM' partition key; null → asOf's month
    * (ref data_prepare.py:304-323).
    */
  def loadMonth(d: Column, asOf: Column): Column =
    date_format(coalesce(d, asOf), "yyyy-MM")

  // ------------------------------------------------------------ F14
  /** DimDate rows for [start, end] (ref data_prepare.py:325-349):
    * day, month, quarter = (m-1)/3+1, year, English weekday name.
    * A generated-sequence explode — never a driver-side day loop.
    */
  def dimDateRange(spark: SparkSession, start: String, end: String): DataFrame =
    spark.range(1)
      .select(explode(sequence(lit(start).cast("date"), lit(end).cast("date"))).as("date_id"))
      .select(
        col("date_id"),
        dayofmonth(col("date_id")).as("day"),
        month(col("date_id")).as("month"),
        quarter(col("date_id")).as("quarter"),
        year(col("date_id")).as("year"),
        date_format(col("date_id"), "EEEE").as("weekday"))

  // ------------------------------------------------------------ F15
  /** Array of fact dates for one job (ref data_prepare.py:256-302):
    * start = posted.date else now.date; end = due.date else start+30d;
    * clamped to [now−90d, now+180d]; empty when start > end after
    * clamping. The *production* fact path uses a fixed today..today+4
    * window instead — see graft.dwh.Facts (fact_handler.py:66-69).
    */
  def dailyFactDates(posted: Column, due: Column, now: Column): Column = {
    val start0 = coalesce(to_date(posted), to_date(now))
    val end0 = coalesce(to_date(due), date_add(start0, 30))
    val minD = date_add(to_date(now), -90)
    val maxD = date_add(to_date(now), 180)
    val start = greatest(start0, minD)
    val end = least(end0, maxD)
    when(start <= end, sequence(start, end))
      .otherwise(array().cast("array<date>"))
  }
}
