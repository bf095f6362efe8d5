package perfbench

import graft.app.Pipeline.Dwh
import graft.quality.Validator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. None of this is timed: each check runs after the
  * operation's clock has stopped, and a failed check counts the
  * operation as failed.
  */
object Checks {

  /** Validator checks that must read zero on every warehouse the
    * pipeline builds: no duplicate current natural keys in either SCD2
    * dimension and no fact rows orphaned from a dimension.
    */
  def warehouseInvariants(d: Dwh): Seq[String] =
    Validator.report(Seq(
      Validator.duplicateCurrentKeys(d.dimJob, "job_id")
        .withColumn("check_name", lit("dim_job duplicate current keys")),
      Validator.duplicateCurrentKeys(d.dimCompany, "company_name_standardized")
        .withColumn("check_name", lit("dim_company duplicate current keys")),
      Validator.orphanCount("fact orphans vs dim_job", d.fact, d.dimJob, "job_sk"),
      Validator.orphanCount("fact orphans vs dim_company", d.fact, d.dimCompany, "company_sk")))
      .collect().toSeq // 4 rows
      .collect { case r if r.getLong(1) != 0 => s"${r.getString(0)} = ${r.getLong(1)}" }

  /** Order-insensitive digest of a collected result: the sorted multiset
    * of rendered rows. Doubles are compared to 10 significant digits,
    * since an average may sum its inputs in another order.
    */
  def digest(rows: Seq[Row]): String = {
    def render(v: Any): String = v match {
      case null => "∅"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(new java.math.MathContext(10)).stripTrailingZeros
          .toPlainString
      case f: Float => render(f.toDouble)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case o => o.toString
    }
    val lines = rows.map(r => r.toSeq.map(render).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    s"${lines.size}:" + md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Register the star's tables as temp views named `<p>fact`,
    * `<p>dim_job`, ... for the SQL restatements.
    */
  def registerStar(d: Dwh, p: String): Unit = {
    d.fact.createOrReplaceTempView(s"${p}fact")
    d.dimJob.createOrReplaceTempView(s"${p}dim_job")
    d.dimCompany.createOrReplaceTempView(s"${p}dim_company")
    d.dimLocation.createOrReplaceTempView(s"${p}dim_location")
    d.dimDate.createOrReplaceTempView(s"${p}dim_date")
    d.bridge.createOrReplaceTempView(s"${p}bridge")
  }

  private def cols(df: DataFrame, alias: String, except: Set[String],
      rename: Map[String, String] = Map.empty): Seq[String] =
    df.columns.toSeq.filterNot(except).map { c =>
      rename.get(c).map(n => s"$alias.`$c` AS `$n`").getOrElse(s"$alias.`$c`")
    }

  private def salaryFilterSql(asOf: String, p: String): String =
    s"""SELECT DISTINCT f.job_sk, j.title_clean, c.company_name_standardized,
       |  f.salary_min, f.salary_max, f.due_date, l.city, l.province
       |FROM ${p}fact f
       |JOIN ${p}dim_job j ON f.job_sk = j.job_sk AND j.is_current
       |JOIN ${p}dim_company c ON f.company_sk = c.company_sk AND c.is_current
       |LEFT JOIN ${p}bridge b ON f.fact_id = b.fact_id
       |LEFT JOIN ${p}dim_location l ON b.location_sk = l.location_sk
       |WHERE f.salary_min >= 10 AND f.salary_max <= 20
       |  AND f.salary_min IS NOT NULL AND f.salary_max IS NOT NULL
       |  AND f.due_date >= CAST('$asOf' AS DATE)""".stripMargin

  /** Each analytic view restated in plain SQL over the temp views of
    * [[registerStar]], column for column in the view's output order.
    */
  def viewSql(view: String, d: Dwh, asOf: String, p: String): String = view match {
    case "vw_current_jobs" =>
      val sel = Seq("f.company_sk", "f.job_sk") ++
        cols(d.fact, "f", Set("job_sk", "company_sk"),
          Map("verified_employer" -> "fact_verified_employer")) ++
        cols(d.dimJob, "j", Set("job_sk")) ++ cols(d.dimCompany, "c", Set("company_sk"))
      s"""SELECT ${sel.mkString(", ")} FROM ${p}fact f
         |JOIN ${p}dim_job j ON f.job_sk = j.job_sk AND j.is_current
         |JOIN ${p}dim_company c ON f.company_sk = c.company_sk AND c.is_current""".stripMargin
    case "vw_job_locations" =>
      val sel = Seq("b.location_sk", "f.fact_id") ++ cols(d.fact, "f", Set("fact_id")) ++
        cols(d.bridge, "b", Set("fact_id", "location_sk")) ++
        cols(d.dimLocation, "l", Set("location_sk"))
      s"""SELECT ${sel.mkString(", ")} FROM ${p}fact f
         |JOIN ${p}bridge b ON f.fact_id = b.fact_id
         |JOIN ${p}dim_location l ON b.location_sk = l.location_sk""".stripMargin
    case "vw_monthly_jobs" =>
      s"""SELECT load_month, date_trunc('MONTH', date_id) AS month,
        |  count(DISTINCT job_sk), count(DISTINCT company_sk), avg(salary_min), avg(salary_max)
        |FROM ${p}fact GROUP BY 1, 2""".stripMargin
    case "vw_top_companies" =>
      s"""SELECT c.company_name_standardized, c.verified_employer, count(DISTINCT f.job_sk)
        |FROM ${p}fact f
        |JOIN ${p}dim_job j ON f.job_sk = j.job_sk AND j.is_current
        |JOIN ${p}dim_company c ON f.company_sk = c.company_sk AND c.is_current
        |GROUP BY 1, 2""".stripMargin
    case "vw_top_locations" =>
      s"""SELECT coalesce(l.province, 'Unknown') AS province, l.city, count(DISTINCT f.job_sk)
        |FROM ${p}fact f
        |JOIN ${p}bridge b ON f.fact_id = b.fact_id
        |JOIN ${p}dim_location l ON b.location_sk = l.location_sk
        |GROUP BY 1, 2""".stripMargin
    case "vw_job_salary_filter" => salaryFilterSql(asOf, p)
    case "vw_top10_hn" =>
      // ties on (due_date, job_sk) may pick either row, so the digest
      // covers only the sort keys and the derived day count
      s"""SELECT job_sk, due_date, datediff(to_date(due_date), CAST('$asOf' AS DATE))
         |FROM (${salaryFilterSql(asOf, p)}) s
         |WHERE lower(city) LIKE '%hà nội%' OR lower(city) LIKE '%hanoi%'
         |   OR lower(coalesce(province, '')) LIKE '%hà nội%'
         |ORDER BY due_date, job_sk LIMIT 10""".stripMargin
    case "validator" =>
      s"""SELECT 'duplicate_current_keys', count(*) FROM (
         |  SELECT job_id FROM ${p}dim_job WHERE is_current GROUP BY job_id HAVING count(*) > 1)
         |UNION ALL SELECT 'orphan_fact_job', count(*) FROM ${p}fact f
         |  WHERE NOT EXISTS (SELECT 1 FROM ${p}dim_job j WHERE j.job_sk = f.job_sk)
         |UNION ALL SELECT 'orphan_fact_company', count(*) FROM ${p}fact f
         |  WHERE NOT EXISTS (SELECT 1 FROM ${p}dim_company c WHERE c.company_sk = f.company_sk)
         |UNION ALL SELECT 'orphan_bridge_location', count(*) FROM ${p}bridge b
         |  WHERE NOT EXISTS (SELECT 1 FROM ${p}dim_location l WHERE l.location_sk = b.location_sk)
         |UNION ALL SELECT 'null_fact_keys', count(*) FROM ${p}fact
         |  WHERE fact_id IS NULL OR job_sk IS NULL OR company_sk IS NULL OR date_id IS NULL
         |UNION ALL SELECT 'inverted_salary', count(*) FROM ${p}fact WHERE salary_min > salary_max
         |UNION ALL SELECT 'future_crawl', count(*) FROM ${p}fact
         |  WHERE crawled_at > CAST('$asOf' AS TIMESTAMP)
         |UNION ALL SELECT 'missing_days',
         |  datediff(max(to_date(date_id)), min(to_date(date_id))) + 1
         |    - count(DISTINCT to_date(date_id))
         |  FROM ${p}dim_date""".stripMargin
  }

  /** The digest columns of a view's own result (see vw_top10_hn above). */
  def projectForDigest(view: String, df: DataFrame): DataFrame = view match {
    case "vw_top10_hn" => df.select("job_sk", "due_date", "days_to_deadline")
    case _ => df
  }

  /** The validator report the bi_views workload runs. */
  def validatorReport(d: Dwh, asOf: String): DataFrame =
    Validator.report(Seq(
      Validator.duplicateCurrentKeys(d.dimJob, "job_id"),
      Validator.orphanCount("orphan_fact_job", d.fact, d.dimJob, "job_sk"),
      Validator.orphanCount("orphan_fact_company", d.fact, d.dimCompany, "company_sk"),
      Validator.orphanCount("orphan_bridge_location", d.bridge, d.dimLocation, "location_sk"),
      Validator.nullCriticals("null_fact_keys", d.fact,
        Seq("fact_id", "job_sk", "company_sk", "date_id")),
      Validator.invertedRange("inverted_salary", d.fact, "salary_min", "salary_max"),
      Validator.futureTimestamps("future_crawl", d.fact, "crawled_at", asOf),
      Validator.missingDays("missing_days", d.dimDate, "date_id")))

  /** Digest of the SQL restatement of `view` over `d`, on temp views
    * named with prefix `p` (so several can run at once).
    */
  def restated(spark: SparkSession, view: String, d: Dwh, asOf: String, p: String): String = {
    registerStar(d, p)
    digest(spark.sql(viewSql(view, d, asOf, p)).collect().toSeq) // ≤ star-sized, untimed check
  }

  /** Run untimed check work on `threads` threads and wait for all of it. */
  def inParallel[T](tasks: Seq[() => T], threads: Int): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      .map(_.get())
    finally pool.shutdown()
  }

  /** Bytes and count of the Parquet data files under a directory tree
    * (checksum and marker files excluded).
    */
  def dirBytes(dir: java.io.File): (Long, Int) =
    if (!dir.exists()) (0L, 0)
    else if (dir.isFile) {
      if (dir.getName.endsWith(".parquet")) (dir.length(), 1) else (0L, 0)
    } else dir.listFiles().map(dirBytes).foldLeft((0L, 0)) { case ((b, n), (b2, n2)) =>
      (b + b2, n + n2)
    }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
}
