package graft.queries

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F-family golden queries. Inputs are literal rows; the Spark side
  * runs the real function, the oracle is a DuckDB VALUES table of the
  * expected outputs (produced by executing the reference's logic, see
  * each function's Scaladoc). This turns the driver's hash compare into
  * a golden test the reference itself would pass.
  *
  * Ordering: `pos` sort keys can be NULL (outer-exploded empty arrays);
  * Spark ASC puts nulls first, so oracles say NULLS FIRST explicitly.
  */
object FunctionQueries {

  private val Now = "2026-08-12 10:30:00"
  private val Expired = "'Đã hết thời gian ứng tuyển'"
  private val ZeroDays = "'Còn 0 ngày để ứng tuyển'"

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- F1
    QueryDef(
      "q_f1_salary_normalize", "F1 F18",
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), 'negotiable'),
             | (2, 0.0, 0.0, 'negotiable'),
             | (3, 0.0, 0.0, 'negotiable'),
             | (4, 15.0, 20.0, 'range'),
             | (5, 15.0, 20.0, 'range'),
             | (6, 24.0, 48.0, 'range'),
             | (7, 0.0, 36.0, 'upto'),
             | (8, 0.0, 25.0, 'upto'),
             | (9, 12.0, 12.0, 'from'),
             | (10, 19.2, 19.2, 'range'),
             | (11, 10.5, 10.5, 'range'),
             | (12, 0.0, 0.0, 'range'),
             | (13, 0.0, 0.0, 'negotiable'),
             | (14, 2.0, 3.0, 'range'),
             | (15, 12.0, 21.6, 'range'),
             | (16, 0.0, 8.5, 'upto')
             |) AS t(case_id, salary_min, salary_max, salary_type)
             |ORDER BY case_id""".stripMargin),
      (s, _) => {
        import s.implicits._
        Seq(
          1L -> Option.empty[String], 2L -> Some(""), 3L -> Some("Thoả thuận"),
          4L -> Some("15 - 20 triệu"), 5L -> Some("15-20 triệu"),
          6L -> Some("1,000 - 2,000 USD"), 7L -> Some("tới 1,500 USD"),
          8L -> Some("Tới 25 triệu"), 9L -> Some("từ 12 triệu"),
          10L -> Some("800 USD"), 11L -> Some("10,5 triệu"),
          12L -> Some("0.0 - 0.0 triệu"), 13L -> Some("Lương hấp dẫn"),
          14L -> Some("2 - 3 triệu"), 15L -> Some("500 - 900 USD"),
          16L -> Some("tới 8,5 triệu"))
          .toDF("case_id", "salary")
          .select(col("case_id"), SalaryFns.normalizeSalary(col("salary")).as("r"))
          .select(col("case_id"), col("r.salary_min").as("salary_min"),
            col("r.salary_max").as("salary_max"), col("r.salary_type").as("salary_type"))
          .orderBy("case_id")
      }),

    // ---------------------------------------------------------------- F2
    QueryDef(
      "q_f2_due_date", "F2",
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), '2026-08-31 09:00:00'),
             | (2, '2026-09-15 00:00:00'),
             | (3, '2026-01-31 23:00:00'),
             | (4, '2026-03-02 12:00:00')
             |) AS t(case_id, due_date) ORDER BY case_id""".stripMargin),
      (s, _) => {
        import s.implicits._
        Seq(
          (1L, Option.empty[String], "2026-08-01 09:00:00", "30"),
          (2L, Some("2026-09-15 00:00:00"), "2026-08-01 09:00:00", "7"),
          (3L, Option.empty[String], "2026-01-30 23:00:00", "1"),
          (4L, Option.empty[String], "2026-02-27 12:00:00", "3")) // Feb month-end rollover
          .toDF("case_id", "due", "crawled_at", "deadline")
          .select(col("case_id"),
            date_format(
              TimeFns.dueDate(to_timestamp(col("due")), to_timestamp(col("crawled_at")),
                col("deadline")),
              "yyyy-MM-dd HH:mm:ss").as("due_date"))
          .orderBy("case_id")
      }),

    // ---------------------------------------------------------------- F3
    QueryDef(
      "q_f3_time_remaining", "F3",
      timeRemainingOracle(Seq("'Còn 8 ngày để ứng tuyển'", "'Còn 19 giờ để ứng tuyển'",
        "'Còn 29 phút để ứng tuyển'", "'Còn 45 giây để ứng tuyển'", Expired, Expired,
        "CAST(NULL AS VARCHAR)")),
      (s, _) => timeRemainingCases(s, TimeFns.timeRemaining)),

    // ---------------------------------------------------------------- F3 executed variant
    QueryDef(
      // the inline CASE the reference pipeline actually runs
      // (raw_to_staging.py:222-237): whole-days countdown or expired —
      // the <1-day tiers and the NULL case collapse to 'Đã hết...'
      "q_f3b_time_remaining_executed", "F3",
      timeRemainingOracle(Seq("'Còn 8 ngày để ứng tuyển'", ZeroDays, ZeroDays, ZeroDays,
        Expired, Expired, Expired)),
      (s, _) => timeRemainingCases(s, TimeFns.timeRemainingExecuted)),

    // ---------------------------------------------------------------- F4
    QueryDef(
      "q_f4_clean_title", "F4",
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), 'Senior Python Developer'),
             | (2, 'Frontend React Developer / Team Lead'),
             | (3, 'DevOps Engineer'),
             | (4, ''),
             | (5, 'Hot Job'),
             | (6, 'Kỹ sư phần mềm'),
             | (7, 'Data Engineer'),
             | (8, 'C'),
             | (9, 'HN')
             |) AS t(case_id, title_clean) ORDER BY case_id""".stripMargin),
      (s, _) => {
        import s.implicits._
        Seq(
          1L -> Some("Senior Python Developer - Urgent"),
          2L -> Some("Frontend React Developer / Team Lead"),
          3L -> Some("DevOps Engineer (AWS)"),
          4L -> Option.empty[String],
          5L -> Some("!!! Hot Job !!!"),
          6L -> Some("Kỹ sư phần mềm - Hà Nội"),
          7L -> Some("   Data Engineer   "),
          8L -> Some("C++ Developer (Senior)"),
          9L -> Some("[HN] Backend Engineer"))
          .toDF("case_id", "title")
          .select(col("case_id"), TextFns.cleanTitle(col("title")).as("title_clean"))
          .orderBy("case_id")
      }),

    // ---------------------------------------------------------------- F5
    QueryDef(
      "q_f5_clean_company", "F5",
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), 'Công ty tnhh ABC'),
             | (2, 'Công TY CỔ PHẦN XYZ VIỆT NAM'),
             | (3, 'Fpt software'),
             | (4, ''),
             | (5, 'Công ty ABC'),
             | (6, 'PHP developer - Hà nội'),
             | (7, 'Viettel Group'),
             | (8, 'Công ty TNHH NV'),
             | (9, 'Abc / Xyz corp'),
             | (10, 'SQL server co., ltd'),
             | (11, 'Công ty Solutions'),
             | (12, 'Pon media')
             |) AS t(case_id, company_clean) ORDER BY case_id""".stripMargin),
      (s, _) => {
        import s.implicits._
        Seq(
          1L -> Some("công ty tnhh ABC"),
          2L -> Some("CÔNG TY CỔ PHẦN XYZ VIỆT NAM"),
          3L -> Some("fpt software"),
          4L -> Option.empty[String],
          5L -> Some("Công ty Tuyển dụng HOT gấp ABC"),
          6L -> Some("php developer - hà nội"),
          7L -> Some("Viettel Group!!!"),
          8L -> Some("công ty TNHH đang tuyển NV"),
          9L -> Some("ABC / XYZ corp"),
          10L -> Some("sql server co., ltd"),
          11L -> Some("Công ty hr Solutions"),
          12L -> Some("PHOTON media"))
          .toDF("case_id", "company")
          .select(col("case_id"), TextFns.cleanCompanyName(col("company")).as("company_clean"))
          .orderBy("case_id")
      }),

    // ---------------------------------------------------------------- F6
    QueryDef(
      "q_f6_extract_location_info", "F6",
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'Hà Nội: 123 ABC'),
             | (2, 0, 'Hồ Chí Minh: 456 XYZ'),
             | (2, 1, 'Đà Nẵng: 789 DEF'),
             | (3, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)),
             | (4, 0, 'Đà Nẵng'),
             | (5, NULL, NULL),
             | (6, 0, 'Huế')
             |) AS t(case_id, pos, line) ORDER BY case_id, pos NULLS FIRST""".stripMargin),
      (s, _) => {
        import s.implicits._
        Seq(
          1L -> Some("<div>Hà Nội: 123 ABC</div>"),
          2L -> Some("<div>Hồ Chí Minh: 456 XYZ<br/>Đà Nẵng: 789 DEF</div>"),
          3L -> Option.empty[String],
          4L -> Some("Đà Nẵng"),
          5L -> Some("<p>Hà Nội:</p>"),
          6L -> Some("<div><b>Huế</b>: Phú Vang</div>"))
          .toDF("case_id", "html")
          .select(col("case_id"),
            posexplode_outer(LocationFns.extractLocationInfo(col("html"))).as(Seq("pos", "line")))
          .select(col("case_id"), col("pos").cast("long").as("pos"), col("line"))
          .orderBy(col("case_id"), col("pos").asc_nulls_first)
      }),

    // ---------------------------------------------------------------- F7
    QueryDef(
      "q_f7_refine_location", "F7",
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), 'Hà Nội'),
             | (2, 'Hồ Chí Minh, Đà Nẵng'),
             | (3, 'TP HCM'),
             | (4, 'X, Y'),
             | (5, 'A & B'),
             | (6, CAST(NULL AS VARCHAR))
             |) AS t(case_id, refined) ORDER BY case_id""".stripMargin),
      (s, _) => {
        import s.implicits._
        Seq(
          (1L, Some("Hà Nội"), Seq("Hà Nội: 123 ABC")),
          (2L, Some("Hồ Chí Minh & Đà Nẵng"), Seq("Hồ Chí Minh: 456 XYZ", "Đà Nẵng: 789 DEF")),
          (3L, Some("TP HCM"), Seq("TP HCM: 101 MNO")),
          (4L, Some("A & B"), Seq("X: 1", "X: 2", "Y")),
          (5L, Some("A & B"), Seq.empty[String]),
          (6L, Option.empty[String], Seq("X: 1")))
          .toDF("case_id", "location", "pairs")
          .select(col("case_id"),
            LocationFns.refineLocation(col("location"), col("pairs")).as("refined"))
          .orderBy("case_id")
      }),

    // ---------------------------------------------------------------- F8/F9/F10 (the generator)
    QueryDef(
      "q_f10_parse_job_location", "F8 F9 F10",
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(NULL AS VARCHAR), 'Hà Nội', 'Cầu Giấy'),
             | (1, 1, NULL, 'Hà Nội', 'Đống Đa'),
             | (2, 0, NULL, 'Đà Nẵng', CAST(NULL AS VARCHAR)),
             | (3, 0, NULL, 'Unknown', NULL),
             | (4, 0, NULL, 'Unknown', NULL),
             | (5, 0, NULL, 'Hà Nội', 'Cầu Giấy'),
             | (6, 0, NULL, 'Hà Nội', 'Cầu Giấy'),
             | (6, 1, NULL, 'TP.HCM', NULL),
             | (7, 0, 'Bình Định', 'TP Quy Nhơn', NULL),
             | (8, 0, NULL, 'Hà Nội', 'Cầu Giấy'),
             | (9, 0, 'Miền Bắc', 'Hà Nội', 'Hoàn Kiếm'),
             | (10, 0, NULL, 'Hồ Chí Minh', 'Quận 1'),
             | (10, 1, NULL, 'Hồ Chí Minh', 'Quận 3'),
             | (10, 2, 'Hồ Chí Minh', 'TP Thủ Đức', NULL),
             | (11, 0, NULL, 'Hà Nội', NULL),
             | (12, 0, NULL, 'Unknown', NULL),
             | (13, 0, NULL, 'Hà Nội', 'Cầu Giấy'),
             | (14, 0, NULL, 'Unknown', NULL),
             | (15, 0, NULL, 'Unknown', NULL)
             |) AS t(case_id, pos, province, city, district)
             |ORDER BY case_id, pos""".stripMargin),
      (s, _) => {
        import s.implicits._
        Seq(
          1L -> Some("[\"Hà Nội: Cầu Giấy, Đống Đa\"]"),
          2L -> Some("Đà Nẵng"),
          3L -> Option.empty[String],
          4L -> Some(""),
          5L -> Some("[\"Hà Nội: Cầu Giấy\"]"),
          6L -> Some("['Hà Nội: Cầu Giấy', 'TP.HCM']"),
          7L -> Some("Bình Định: TP Quy Nhơn"),
          8L -> Some("Hà Nội │ Cầu Giấy"),
          9L -> Some("Miền Bắc │ Hà Nội │ Hoàn Kiếm"),
          10L -> Some("Hồ Chí Minh: Quận 1, Quận 3, TP Thủ Đức"),
          11L -> Some("[\"Hà Nội\"]"),
          12L -> Some("[]"),
          13L -> Some("Hà Nội: Cầu Giấy"),
          14L -> Some("  "),
          15L -> Some("[\"\", \" \"]"))
          .toDF("case_id", "location")
          .select(col("case_id"),
            posexplode(LocationFns.parseJobLocation(col("location")))
              .as(Seq("pos", "loc")))
          .select(col("case_id"), col("pos").cast("long").as("pos"),
            col("loc.province").as("province"), col("loc.city").as("city"),
            col("loc.district").as("district"))
          .orderBy("case_id", "pos")
      }),

    // ---------------------------------------------------------------- F11/F12
    QueryDef(
      "q_f11_last_update", "F11 F12",
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), CAST(86400 AS BIGINT), '2026-08-11 10:30:00'),
             | (2, 7200, '2026-08-12 08:30:00'),
             | (3, 1800, '2026-08-12 10:00:00'),
             | (4, 5184000, '2026-06-13 10:30:00'),
             | (5, 1814400, '2026-07-22 10:30:00'),
             | (6, 45, '2026-08-12 10:29:15'),
             | (7, 0, '2026-08-12 10:30:00'),
             | (8, 0, '2026-08-12 10:30:00'),
             | (9, 0, '2026-08-12 10:30:00')
             |) AS t(case_id, seconds_ago, posted_time) ORDER BY case_id""".stripMargin),
      (s, _) => {
        import s.implicits._
        Seq(
          1L -> Some("1 ngày trước"), 2L -> Some("2 giờ trước"),
          3L -> Some("30 phút trước"), 4L -> Some("Cập nhật 2 tháng trước"),
          5L -> Some("Cập nhật 3 tuần trước"), 6L -> Some("45 giây trước"),
          7L -> Some("vừa xong"), 8L -> Option.empty[String], 9L -> Some(""))
          .toDF("case_id", "last_update")
          .select(col("case_id"), TextFns.parseLastUpdate(col("last_update")).as("seconds_ago"))
          .select(col("case_id"), col("seconds_ago"),
            date_format(TextFns.postedTime(col("seconds_ago"), to_timestamp(lit(Now))),
              "yyyy-MM-dd HH:mm:ss").as("posted_time"))
          .orderBy("case_id")
      }),

    // ---------------------------------------------------------------- F13
    QueryDef(
      "q_f13_load_month", "F13",
      Some("""SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), '2025-05'),
             | (2, '2025-03'),
             | (3, '2026-08'),
             | (4, '2024-12')
             |) AS t(case_id, load_month) ORDER BY case_id""".stripMargin),
      (s, _) => {
        import s.implicits._
        Seq(
          1L -> Some("2025-05-29"), 2L -> Some("2025-03-15"),
          3L -> Option.empty[String], 4L -> Some("2024-12-31"))
          .toDF("case_id", "d")
          .select(col("case_id"),
            TimeFns.loadMonth(to_date(col("d")), to_date(lit(Now.substring(0, 10))))
              .as("load_month"))
          .orderBy("case_id")
      }),

    // ---------------------------------------------------------------- F14
    QueryDef(
      "q_f14_dim_date", "F14 D8",
      Some("""SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS date_id,
             |day(CAST(d AS DATE)) AS day, month(CAST(d AS DATE)) AS month,
             |quarter(CAST(d AS DATE)) AS quarter, year(CAST(d AS DATE)) AS year,
             |dayname(CAST(d AS DATE)) AS weekday
             |FROM generate_series(DATE '2026-01-01', DATE '2026-03-31', INTERVAL 1 DAY) t(d)
             |ORDER BY date_id""".stripMargin),
      (s, _) =>
        TimeFns.dimDateRange(s, "2026-01-01", "2026-03-31")
          .select(date_format(col("date_id"), "yyyy-MM-dd").as("date_id"),
            col("day"), col("month"), col("quarter"), col("year"), col("weekday"))
          .orderBy("date_id")),

    // ---------------------------------------------------------------- F15
    QueryDef(
      "q_f15_daily_fact_dates", "F15",
      Some("""SELECT * FROM (
             |SELECT * FROM (VALUES
             | (CAST(1 AS BIGINT), CAST(0 AS BIGINT), '2026-08-10'),
             | (1, 1, '2026-08-11'), (1, 2, '2026-08-12'),
             | (1, 3, '2026-08-13'), (1, 4, '2026-08-14'),
             | (2, 0, '2026-08-12'), (2, 1, '2026-08-13'),
             | (4, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)),
             | (5, NULL, NULL)
             |) AS v(case_id, pos, date_id)
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), CAST(CAST(d AS DATE) - DATE '2026-08-10' AS BIGINT),
             |       strftime(CAST(d AS DATE), '%Y-%m-%d')
             |FROM generate_series(DATE '2026-08-10', DATE '2026-09-09', INTERVAL 1 DAY) t(d)
             |) ORDER BY case_id, pos NULLS FIRST""".stripMargin),
      (s, _) => {
        import s.implicits._
        Seq(
          (1L, Some("2026-08-10 00:00:00"), Some("2026-08-14 00:00:00")),
          (2L, Option.empty[String], Some("2026-08-13 23:59:00")),
          (3L, Some("2026-08-10 00:00:00"), Option.empty[String]),
          (4L, Some("2025-01-01 00:00:00"), Some("2025-01-05 00:00:00")),
          (5L, Some("2026-08-14 00:00:00"), Some("2026-08-10 00:00:00")))
          .toDF("case_id", "posted", "due")
          .select(col("case_id"),
            posexplode_outer(
              TimeFns.dailyFactDates(to_timestamp(col("posted")), to_timestamp(col("due")),
                to_timestamp(lit(Now)))).as(Seq("pos", "d")))
          .select(col("case_id"), col("pos").cast("long").as("pos"),
            date_format(col("d"), "yyyy-MM-dd").as("date_id"))
          .orderBy(col("case_id"), col("pos").asc_nulls_first)
      })
  )

  /** q_f3/q_f3b's fixture: one deadline per time-remaining tier (days,
    * hours, minutes, seconds, past, exactly now, NULL) against `Now`,
    * rendered by `remaining(due, now)`.
    */
  private def timeRemainingCases(
      s: SparkSession, remaining: (Column, Column) => Column): DataFrame = {
    import s.implicits._
    Seq(
      1L -> Some("2026-08-20 10:30:00"), 2L -> Some("2026-08-13 05:30:00"),
      3L -> Some("2026-08-12 10:59:30"), 4L -> Some("2026-08-12 10:30:45"),
      5L -> Some("2026-08-01 00:00:00"), 6L -> Some("2026-08-12 10:30:00"),
      7L -> Option.empty[String])
      .toDF("case_id", "due")
      .select(col("case_id"),
        remaining(to_timestamp(col("due")), to_timestamp(lit(Now))).as("time_remaining"))
      .orderBy("case_id")
  }

  /** The VALUES oracle of [[timeRemainingCases]]: case i+1 expects the
    * SQL literal `expected(i)`.
    */
  private def timeRemainingOracle(expected: Seq[String]): Option[String] = Some(
    expected.zipWithIndex.map { case (e, i) =>
      s"(${if (i == 0) "CAST(1 AS BIGINT)" else (i + 1).toString}, $e)"
    }.mkString("SELECT * FROM (VALUES\n ", ",\n ",
      "\n) AS t(case_id, time_remaining) ORDER BY case_id"))
}
