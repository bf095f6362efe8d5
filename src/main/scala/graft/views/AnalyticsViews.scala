package graft.views

import graft.app.Pipeline.Dwh
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The warehouse's analytic views (SURVEY J1-J5, A1-A3, W2, P4, P5) —
  * sql/schema_dwh.sql:91-143 and sql/views.sql:3-55 as DataFrame
  * builders over a Pipeline.Dwh star. Dimension legs broadcast; every
  * view takes `asOf` where the SQL used CURRENT_DATE.
  */
object AnalyticsViews {

  /** vw_current_jobs (schema_dwh.sql:91-97): fact ⋈ current DimJob ⋈
    * current DimCompany. The fact's own denormalized verified_employer
    * copy (schema_dwh.sql:62) is renamed so the view exposes the
    * dimension's, as the reference view does.
    */
  def vwCurrentJobs(dwh: Dwh): DataFrame =
    dwh.fact
      .withColumnRenamed("verified_employer", "fact_verified_employer")
      .join(broadcast(dwh.dimJob.filter(col("is_current"))), "job_sk")
      .join(broadcast(dwh.dimCompany.filter(col("is_current"))), "company_sk")

  /** vw_job_locations (schema_dwh.sql:100-105): fact ⋈ bridge ⋈ DimLocation. */
  def vwJobLocations(dwh: Dwh): DataFrame =
    dwh.fact
      .join(dwh.bridge, "fact_id")
      .join(broadcast(dwh.dimLocation), "location_sk")

  /** vw_monthly_jobs (schema_dwh.sql:108-118). */
  def vwMonthlyJobs(dwh: Dwh): DataFrame =
    dwh.fact
      .groupBy(col("load_month"), date_trunc("month", col("date_id")).as("month"))
      .agg(
        countDistinct(col("job_sk")).as("unique_jobs"),
        countDistinct(col("company_sk")).as("unique_companies"),
        avg(col("salary_min")).as("avg_salary_min"),
        avg(col("salary_max")).as("avg_salary_max"))
      .orderBy("load_month", "month")

  /** vw_top_companies (schema_dwh.sql:121-130). */
  def vwTopCompanies(dwh: Dwh): DataFrame =
    vwCurrentJobs(dwh)
      .groupBy(col("company_name_standardized"), col("verified_employer"))
      .agg(countDistinct(col("job_sk")).as("job_count"))
      .orderBy(col("job_count").desc, col("company_name_standardized"))

  /** vw_top_locations (schema_dwh.sql:133-143). */
  def vwTopLocations(dwh: Dwh): DataFrame =
    vwJobLocations(dwh)
      .groupBy(coalesce(col("province"), lit("Unknown")).as("province"), col("city"))
      .agg(countDistinct(col("job_sk")).as("job_count"))
      .orderBy(col("job_count").desc, col("province"), col("city"))

  /** vw_job_salary_filter (views.sql:17-31): salary band 10-20M, not
    * expired, left-joined location legs, null-tolerant is_current,
    * DISTINCT projection.
    */
  def vwJobSalaryFilter(dwh: Dwh, asOf: String): DataFrame =
    dwh.fact
      .join(broadcast(dwh.dimJob.filter(col("is_current"))), "job_sk")
      .join(broadcast(dwh.dimCompany.filter(col("is_current"))), "company_sk")
      .join(dwh.bridge, Seq("fact_id"), "left")
      .join(broadcast(dwh.dimLocation), Seq("location_sk"), "left")
      .filter(
        col("salary_min") >= 10 && col("salary_max") <= 20 &&
          col("salary_min").isNotNull && col("salary_max").isNotNull &&
          col("due_date") >= lit(asOf).cast("date"))
      .select("job_sk", "title_clean", "company_name_standardized",
        "salary_min", "salary_max", "due_date", "city", "province")
      .distinct()

  /** vw_top10_hn (views.sql:34-55): Hanoi jobs by nearest deadline. */
  def vwTop10Hanoi(dwh: Dwh, asOf: String): DataFrame =
    vwJobSalaryFilter(dwh, asOf)
      .filter(
        lower(col("city")).contains("hà nội") || lower(col("city")).contains("hanoi") ||
          lower(coalesce(col("province"), lit(""))).contains("hà nội"))
      .withColumn("days_to_deadline", // views.sql:48
        datediff(to_date(col("due_date")), lit(asOf).cast("date")))
      .orderBy(col("due_date"), col("job_sk"))
      .limit(10)
}
