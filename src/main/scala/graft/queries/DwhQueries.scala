package graft.queries

import graft.Tables
import graft.dwh.{Dimensions, Facts, ScdType2}
import graft.operators.TopK
import graft.quality.Validator
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** D-family: SCD2 dimensional core, fact explosion, bridge, validator —
  * the stateful heart of the reference (SURVEY §2.8), exercised over
  * the testdata star schema with full oracle parity.
  *
  * The mapping: customer rows play staging/dim-company records, orders
  * play staging jobs/facts, nation+mktsegment strings synthesize the
  * Vietnamese location shapes the parse family expects.
  */
object DwhQueries {

  private val AsOf = "2026-08-12"
  import RelationalQueries.dsum

  /** customer ⋈ nation with a synthesized per-row location string
    * covering the four parse shapes: "City: District", bare city, JSON
    * list with multi-district, and null (→ Unknown).
    */
  private def withSynthLocation(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .withColumn("location",
        when(k % 4 === 0, concat(col("n_name"), lit(": "), col("c_mktsegment")))
          .when(k % 4 === 1, col("n_name"))
          .when(k % 4 === 2, concat(lit("[\""), col("n_name"), lit(": D1, D2\"]")))
          .otherwise(lit(null).cast("string")))
  }

  /** Crawler-shaped raw rows synthesized from testdata for the REAL
    * E2+E3 pipeline. One nation's customers (NATION_7 — the testdata
    * nation names are synthetic) get 'Hà Nội' locations so the
    * Vietnamese ILIKE view leg (vw_top10_hn, views.sql:52) is
    * exercised; the other shapes cover the "City: District", bare-city,
    * JSON-multi-district, and null→Unknown parse paths.
    */
  private def e2eRaw(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(
        ok.cast("string").as("job_id"),
        concat(lit("Engineer "), col("o_orderpriority"), lit(" - Urgent")).as("title"),
        col("c_name").as("company_name"),
        when(ok % 3 === 0,
          concat((ok % 15 + 5), lit(" - "), (ok % 15 + 10), lit(" triệu")))
          .when(ok % 3 === 1, lit("Thoả thuận"))
          .otherwise(concat(lit("từ "), (ok % 20 + 5), lit(" triệu"))).as("salary"),
        when(col("n_name") === "NATION_7", lit("Hà Nội"))
          .when(col("c_custkey") % 4 === 0,
            concat(col("n_name"), lit(": "), col("c_mktsegment")))
          .when(col("c_custkey") % 4 === 1, col("n_name"))
          .when(col("c_custkey") % 4 === 2,
            concat(lit("[\""), col("n_name"), lit(": D1, D2\"]")))
          .otherwise(lit(null).cast("string")).as("location"),
        lit(null).cast("string").as("location_detail"),
        (ok % 30 + 1).cast("string").as("deadline"),
        lit("1 ngày trước").as("last_update"),
        col("o_orderdate").as("crawled_at"),
        concat(lit("https://jobs/"), ok).as("job_url"),
        lit("[\"Spark\"]").as("skills"),
        lit(null).cast("string").as("logo_url"),
        concat(lit("https://co/"), col("c_custkey")).as("company_url"),
        (col("c_custkey") % 2 === 0).as("verified_employer"))
  }

  /** The e2e star, built ONCE per sf dir and materialized
    * (localCheckpoint) — q_e2e_pipeline and the q_v_* view queries
    * share it, the same way warehouse views share one loaded star.
    */
  private val dwhCache =
    scala.collection.concurrent.TrieMap[String, graft.app.Pipeline.Dwh]()
  /** q_e2e_incremental's pre-existing day-1 warehouse (see its body). */
  private val prevDwhCache =
    scala.collection.concurrent.TrieMap[String, graft.app.Pipeline.Dwh]()
  /** Oracle CTEs j → e: the e2e star's jobs (k, job_sk, due, ...) with
    * their company, nation and parsed salary bounds, `eCols` added and
    * filtered by `eWhere` (q_v_salary_filter, q_v_top10_hn).
    */
  private def e2eJobsOracleCtes(eCols: String, eWhere: String): String =
    s"""WITH j AS (SELECT o_orderkey AS k, o_custkey, o_orderpriority,
       |                  o_orderdate::TIMESTAMP + (o_orderkey % 30 + 1) * INTERVAL 1 DAY AS due,
       |                  10000 + row_number() OVER (ORDER BY CAST(o_orderkey AS VARCHAR)) AS job_sk
       |           FROM orders),
       |e AS (SELECT j.*, c_name, $eCols
       |             CASE WHEN k % 3 = 0 THEN CAST(k % 15 + 5 AS DOUBLE)
       |                  WHEN k % 3 = 1 THEN 0.0
       |                  ELSE CAST(k % 20 + 5 AS DOUBLE) END AS salary_min,
       |             CASE WHEN k % 3 = 0 THEN CAST(k % 15 + 10 AS DOUBLE)
       |                  WHEN k % 3 = 1 THEN 0.0
       |                  ELSE CAST(k % 20 + 5 AS DOUBLE) END AS salary_max
       |      FROM j JOIN customer ON c_custkey = o_custkey
       |             JOIN nation ON n_nationkey = c_nationkey
       |      $eWhere)""".stripMargin

  private def e2eDwh(s: SparkSession, dir: String): graft.app.Pipeline.Dwh =
    dwhCache.getOrElseUpdate(dir, {
      val staging = graft.app.Pipeline.rawToStaging(e2eRaw(s, dir), "2026-08-12 00:00:00")
      val d = graft.app.Pipeline.stagingToDwh(staging, AsOf)
      // stagingToDwh commits the SCD2 dims and the fact; DimLocation
      // and the bridge get LAZY checkpoints: each materializes on first
      // use and is re-read from cache after — q_e2e doesn't pay for the
      // tables it never touches, the view queries don't rebuild them
      d.copy(dimLocation = d.dimLocation.localCheckpoint(false),
        bridge = d.bridge.localCheckpoint(false))
    })

  /** CURRENT_DATE stand-in for the vw_* queries — mid-1995 so the
    * orders-derived due_dates split into expired/active nontrivially.
    */
  private val AsOfView = "1995-06-01"

  /** The two synthetic staging batches of the incremental scenario
    * (shared by q_e2e_incremental and the Bench warm hook).
    */
  private[graft] def incStagingBatches(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
    def mkStaging(keys: DataFrame, title: Column,
        salaryMin: Column, loadMonth: String) =
      keys.select(
        col("k").cast("string").as("job_id"),
        title.as("title_clean"),
        concat(lit("u"), col("k")).as("job_url"),
        lit("[\"Spark\"]").as("skills"),
        lit("1 ngày trước").as("last_update"),
        lit(null).cast("string").as("logo_url"),
        concat(lit("Co"), col("k") % 20).as("company_name_standardized"),
        concat(lit("cu"), col("k") % 20).as("company_url"),
        ((col("k") % 20) % 2 === 0).as("verified_employer"),
        salaryMin.cast("double").as("salary_min"),
        (salaryMin + 2).cast("double").as("salary_max"),
        lit("range").as("salary_type"),
        lit(null).cast("timestamp").as("due_date"),
        lit(null).cast("string").as("time_remaining"),
        lit(null).cast("timestamp").as("posted_time"),
        to_timestamp(lit(s"$loadMonth-01 09:00:00")).as("crawled_at"),
        lit(loadMonth).as("load_month"),
        lit(null).cast("string").as("location"),
        lit(null).cast("array<string>").as("location_pairs"))
    val b1 = mkStaging(o.filter(col("k") % 3 =!= 0),
      concat(lit("T"), col("k")), col("k") % 15 + 5, "2026-08")
    val b2 = mkStaging(o.filter(col("k") % 2 === 0),
      when(col("k") % 10 === 0, concat(lit("T"), col("k"), lit("v2")))
        .otherwise(concat(lit("T"), col("k"))),
      col("k") % 20 + 7, "2026-09")
    (b1, b2)
  }

  /** q_e2e_incremental's pre-existing day-1 warehouse, built once per
    * JVM — the PRE-EXISTING state in the daily production scenario; the
    * measured work is the incremental apply. stagingToDwh commits the
    * SCD2 dims and the fact; DimLocation and the bridge are committed
    * here, eagerly.
    */
  private[graft] def prevDwh(s: SparkSession, dir: String): graft.app.Pipeline.Dwh =
    prevDwhCache.getOrElseUpdate(dir, {
      val d = graft.app.Pipeline.stagingToDwh(incStagingBatches(s, dir)._1, "2026-08-01")
      d.copy(dimLocation = d.dimLocation.localCheckpoint(),
        bridge = d.bridge.localCheckpoint())
    })

  /** Bench setup hook: materialize the shared state the registry's
    * steady-state queries assume pre-exists — the view star (a BI view
    * reads an already-loaded warehouse) and the incremental query's
    * day-1 warehouse. First-touch bench numbers then measure the QUERY,
    * not shared setup; q_e2e_pipeline still builds its own star fresh
    * every pass because that query IS the load.
    */
  def warmShared(s: SparkSession, dir: String): Unit = {
    val d = e2eDwh(s, dir)
    Seq(d.dimJob, d.dimCompany, d.dimLocation, d.fact, d.bridge)
      .foreach(_.write.format("noop").mode("overwrite").save())
    val p = prevDwh(s, dir)
    Seq(p.dimJob, p.dimCompany, p.dimLocation, p.fact, p.bridge)
      .foreach(_.write.format("noop").mode("overwrite").save())
  }

  /** The same four shapes parsed in plain SQL (for oracles). */
  private val ParsedCte =
    """src AS (SELECT c_custkey AS k, c_name, n_name, c_mktsegment AS seg
      |        FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |parsed AS (
      |  SELECT k, CAST(NULL AS VARCHAR) AS province, n_name AS city, seg AS district
      |  FROM src WHERE k % 4 = 0
      |  UNION ALL SELECT k, NULL, n_name, NULL FROM src WHERE k % 4 = 1
      |  UNION ALL SELECT k, NULL, n_name, unnest(['D1','D2']) FROM src WHERE k % 4 = 2
      |  UNION ALL SELECT k, NULL, 'Unknown', NULL FROM src WHERE k % 4 = 3)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- D1/D2 (dim prep + dedup + SCD stamp)
    QueryDef(
      "q_d2_prepare_dim", "D1 D2 A8 F19",
      Some("""SELECT company_name, src_key, segment, '2026-08-12' AS effective_date,
             |TRUE AS is_current
             |FROM (SELECT substr(c_name, 1, 16) AS company_name, c_custkey AS src_key,
             |             c_mktsegment AS segment,
             |             row_number() OVER (PARTITION BY substr(c_name, 1, 16)
             |                                ORDER BY c_custkey) AS rn
             |      FROM customer) t
             |WHERE rn = 1 ORDER BY company_name""".stripMargin),
      (s, dir) =>
        // the pipeline's prep keeps the latest crawl per key: a crawl
        // time that falls as c_custkey rises makes the oracle's
        // survivor, the lowest c_custkey per name prefix, the latest
        Dimensions.prepareDimAssigning(
          Tables.customer(s, dir)
            .select(substring(col("c_name"), 1, 16).as("company_name"),
              col("c_custkey").as("src_key"), col("c_mktsegment").as("segment"),
              timestamp_seconds(lit(2000000000L) - col("c_custkey")).as("crawled_at")),
          "company_name", "company_sk", 0L, AsOf)
          .select(col("company_name"), col("src_key"), col("segment"),
            date_format(col(ScdType2.EffectiveCol), "yyyy-MM-dd").as("effective_date"),
            col(ScdType2.CurrentCol).as("is_current"))
          .orderBy("company_name")),

    // ---------------------------------------------------------------- D3 (location dim from parse explode)
    QueryDef(
      "q_d3_prepare_dim_location", "D3 A8 F8 F10",
      Some(s"""WITH $ParsedCte
              |SELECT DISTINCT province, city, district FROM parsed
              |ORDER BY city, district NULLS FIRST, province NULLS FIRST""".stripMargin),
      (s, dir) =>
        Dimensions.prepareDimLocation(withSynthLocation(s, dir), "location")
          .orderBy(col("city"), col("district").asc_nulls_first,
            col("province").asc_nulls_first)),

    // ---------------------------------------------------------------- D5/J8 (SCD2 change routing)
    QueryDef(
      "q_d5_scd2_routing", "D5 J8 D4",
      Some("""SELECT scd_route, count(*) AS n FROM (
             |  SELECT CASE WHEN c_custkey % 10 = 0 THEN 'insert'
             |              WHEN c_custkey % 7 = 0 THEN 'update'
             |              ELSE 'unchanged' END AS scd_route
             |  FROM customer) t
             |GROUP BY scd_route ORDER BY scd_route""".stripMargin),
      (s, dir) => {
        val base = Tables.customer(s, dir)
        val current = base.filter(col("c_custkey") % 10 =!= 0)
          .select(col("c_name"), col("c_mktsegment").as("segment"))
          .withColumn(ScdType2.CurrentCol, lit(true))
        val incoming = base.select(col("c_name"),
          when(col("c_custkey") % 7 === 0, concat(col("c_mktsegment"), lit("_V2")))
            .otherwise(col("c_mktsegment")).as("segment"))
        ScdType2.routeChanges(current, incoming, "c_name", Seq("segment"))
          .groupBy(ScdType2.RouteCol)
          .agg(count(lit(1)).as("n"))
          .orderBy(ScdType2.RouteCol)
      }),

    // ---------------------------------------------------------------- D4/D6 (full SCD2 snapshot rewrite)
    QueryDef(
      // D13 (reset_sequences) is obsolete by construction here: SKs are
      // always max(existing)+row_number, so there is no sequence to resync
      "q_d6_scd2_snapshot", "D6 D4 J8 D13",
      Some("""WITH base AS (SELECT c_custkey AS k, c_name, c_mktsegment AS seg FROM customer),
             |cur AS (SELECT CAST(10000 + k AS BIGINT) AS company_sk, c_name, seg AS segment, k
             |        FROM base WHERE k % 10 <> 0),
             |newrows AS (SELECT c_name,
             |                   CASE WHEN k % 7 = 0 THEN seg || '_V2' ELSE seg END AS segment
             |            FROM base WHERE k % 10 = 0 OR k % 7 = 0)
             |SELECT * FROM (
             |  SELECT company_sk, c_name, segment, '2026-01-01' AS effective_date,
             |         'current' AS expiry_date, TRUE AS is_current
             |  FROM cur WHERE k % 7 <> 0
             |  UNION ALL
             |  SELECT company_sk, c_name, segment, '2026-01-01', '2026-08-12', FALSE
             |  FROM cur WHERE k % 7 = 0
             |  UNION ALL
             |  SELECT (SELECT max(company_sk) FROM cur) + row_number() OVER (ORDER BY c_name),
             |         c_name, segment, '2026-08-12', 'current', TRUE
             |  FROM newrows
             |) ORDER BY company_sk""".stripMargin),
      (s, dir) => {
        val base = Tables.customer(s, dir)
        val current = base.filter(col("c_custkey") % 10 =!= 0)
          .select((col("c_custkey") + 10000L).cast("long").as("company_sk"),
            col("c_name"), col("c_mktsegment").as("segment"))
          .withColumn(ScdType2.EffectiveCol, lit("2026-01-01").cast("date"))
          .withColumn(ScdType2.ExpiryCol, lit(null).cast("date"))
          .withColumn(ScdType2.CurrentCol, lit(true))
        val incoming = base.select(col("c_name"),
          when(col("c_custkey") % 7 === 0, concat(col("c_mktsegment"), lit("_V2")))
            .otherwise(col("c_mktsegment")).as("segment"),
          lit(AsOf).cast("timestamp").as("crawled_at"))
        ScdType2.applyBatch(current, incoming, "c_name", Seq("segment"), "company_sk", AsOf)
          .select(col("company_sk"), col("c_name"), col("segment"),
            date_format(col(ScdType2.EffectiveCol), "yyyy-MM-dd").as("effective_date"),
            coalesce(date_format(col(ScdType2.ExpiryCol), "yyyy-MM-dd"), lit("current"))
              .as("expiry_date"),
            col(ScdType2.CurrentCol).as("is_current"))
          .orderBy("company_sk")
      }),

    // ---------------------------------------------------------------- D7 (insert-only null-safe location append)
    QueryDef(
      "q_d7_location_append", "D7 J9",
      Some(s"""WITH $ParsedCte,
              |dim AS (SELECT DISTINCT province, city, district FROM parsed WHERE k % 2 = 0),
              |cand AS (SELECT DISTINCT province, city, district FROM parsed),
              |appended AS (
              |  SELECT * FROM dim
              |  UNION ALL
              |  SELECT * FROM cand c WHERE NOT EXISTS (
              |    SELECT 1 FROM dim d
              |    WHERE d.province IS NOT DISTINCT FROM c.province
              |      AND d.city IS NOT DISTINCT FROM c.city
              |      AND d.district IS NOT DISTINCT FROM c.district))
              |SELECT (SELECT count(*) FROM dim) AS n_existing,
              |       (SELECT count(*) FROM appended) AS n_total,
              |       (SELECT count(*) FROM appended) - (SELECT count(*) FROM dim) AS n_added""".stripMargin),
      (s, dir) => {
        val synth = withSynthLocation(s, dir)
        val dim = Dimensions.prepareDimLocation(synth.filter(col("c_custkey") % 2 === 0), "location")
        val cand = Dimensions.prepareDimLocation(synth, "location")
        val appended = Dimensions.appendNewLocations(dim, cand)
        dim.agg(count(lit(1)).as("n_existing"))
          .crossJoin(appended.agg(count(lit(1)).as("n_total")))
          .withColumn("n_added", col("n_total") - col("n_existing"))
      }),

    // ---------------------------------------------------------------- D8 (DimDate idempotent fill)
    QueryDef(
      "q_d8_dimdate_fill", "D8 J9 F14",
      Some("""WITH existing AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date_id
             |                  FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'),
             |rng AS (SELECT CAST(d AS DATE) AS date_id
             |        FROM generate_series(DATE '1995-01-01', DATE '1995-02-28', INTERVAL 1 DAY) t(d)),
             |filled AS (SELECT date_id FROM existing
             |           UNION ALL
             |           SELECT date_id FROM rng
             |           WHERE date_id NOT IN (SELECT date_id FROM existing))
             |SELECT (SELECT count(*) FROM existing) AS n_existing,
             |       (SELECT count(*) FROM filled) AS n_total,
             |       (SELECT count(*) FROM filled) - (SELECT count(*) FROM existing) AS n_added""".stripMargin),
      (s, dir) => {
        val existing = Tables.orders(s, dir)
          .filter(date_format(col("o_orderdate"), "yyyy-MM") === "1995-01")
          .select(to_date(col("o_orderdate")).as("date_id")).distinct()
        val filled = Dimensions.fillDimDate(existing, "1995-01-01", "1995-02-28")
        existing.agg(count(lit(1)).as("n_existing"))
          .crossJoin(filled.agg(count(lit(1)).as("n_total")))
          .withColumn("n_added", col("n_total") - col("n_existing"))
      }),

    // ---------------------------------------------------------------- D9/J6 (×5-day fact explosion)
    QueryDef(
      "q_d9_fact_explode", "D9 J6 F13 F15",
      Some("""SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS date_id,
             |strftime(CAST(d AS DATE), '%Y-%m') AS load_month,
             |count(*) AS n_facts, count(DISTINCT o_orderkey) AS n_jobs
             |FROM orders, generate_series(DATE '2026-08-12', DATE '2026-08-16', INTERVAL 1 DAY) t(d)
             |WHERE EXISTS (SELECT 1 FROM customer
             |              WHERE c_custkey = o_custkey AND c_custkey % 10 <> 3)
             |GROUP BY 1, 2 ORDER BY date_id""".stripMargin),
      (s, dir) => {
        val dim = Tables.customer(s, dir).filter(col("c_custkey") % 10 =!= 3)
          .select(col("c_custkey"))
        val resolved = Tables.orders(s, dir)
          .join(broadcast(dim), col("o_custkey") === col("c_custkey"), "left_semi")
          .withColumn("job_sk", col("o_orderkey"))
        Facts.explodeDailyGrain(resolved, AsOf)
          .groupBy(date_format(col("date_id"), "yyyy-MM-dd").as("date_id"),
            date_format(col("date_id"), "yyyy-MM").as("load_month"))
          .agg(count(lit(1)).as("n_facts"), countDistinct(col("job_sk")).as("n_jobs"))
          .orderBy("date_id")
      }),

    // ---------------------------------------------------------------- D10/S9 (last-wins merge preserving identity)
    QueryDef(
      "q_d10_fact_merge", "D10 S9 W3 S7",
      // incoming salary is NULL for k % 9 = 0: a matched row whose
      // incoming measure is NULL must OVERWRITE the existing value
      // (ON CONFLICT DO UPDATE semantics) — n_null_salary catches a
      // coalesce-style merge that would resurrect the old value
      Some("""WITH e AS (SELECT o_orderkey AS k, o_totalprice AS tp FROM orders WHERE o_orderkey % 2 = 0),
             |i AS (SELECT o_orderkey AS k,
             |             CASE WHEN o_orderkey % 9 = 0 THEN NULL ELSE o_totalprice + 1000 END AS tp
             |      FROM orders WHERE o_orderkey % 3 = 0),
             |m AS (
             |  SELECT '2026-07' AS load_month,
             |         CASE WHEN i.k IS NOT NULL THEN i.tp ELSE e.tp END AS salary
             |  FROM e LEFT JOIN i USING (k)
             |  UNION ALL
             |  SELECT '2026-08', i.tp FROM i
             |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.k = i.k))
             |SELECT load_month, count(*) AS n,
             |CAST(count(*) - count(salary) AS BIGINT) AS n_null_salary,
             |CAST(sum(CAST(salary AS DECIMAL(18,2))) AS DOUBLE) AS sum_salary
             |FROM m GROUP BY load_month ORDER BY load_month""".stripMargin),
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val existing = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("job_sk"), to_date(col("o_orderdate")).as("date_id"),
            (col("o_orderkey") * 10).as("fact_id"), lit("2026-07").as("load_month"),
            col("o_totalprice").as("salary"))
        // incoming carries no fact ids (the merge assigns them) and one
        // crawl time: its keys are unique, so no crawl tie is broken
        val incoming = o.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey").as("job_sk"), to_date(col("o_orderdate")).as("date_id"),
            lit("2026-08").as("load_month"),
            when(col("o_orderkey") % 9 === 0, lit(null).cast("decimal(15,2)"))
              .otherwise(col("o_totalprice") + 1000).as("salary"),
            lit(AsOf).cast("timestamp").as("crawled_at"))
        Facts.mergeFactsAssigning(existing, incoming, Seq("salary"), preserveCols = Nil)
          .groupBy("load_month")
          .agg(count(lit(1)).as("n"),
            (count(lit(1)) - count(col("salary"))).cast("long").as("n_null_salary"),
            dsum(col("salary")).as("sum_salary"))
          .orderBy("load_month")
      }),

    // ---------------------------------------------------------------- S9 upsert insert/update stats + success-rate flag
    QueryDef(
      "q_d10b_upsert_stats", "S9 D10 A6",
      // the raw batch is orders k%3=0; SK resolution "drops" k%10=3
      // (the q_d9 orphan rule), so processed/attempted lands at ~0.9 —
      // below the reference's 95% warning threshold, exercising the
      // flag's failing side (fact_handler.py:186-196); insert vs update
      // splits on whether the key already exists (k%2=0 rows)
      Some("""WITH att AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d
             |            FROM orders WHERE o_orderkey % 3 = 0),
             |inc AS (SELECT * FROM att WHERE k % 10 <> 3),
             |e AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d
             |      FROM orders WHERE o_orderkey % 2 = 0)
             |SELECT (SELECT count(*) FROM att) AS n_attempted,
             |  (SELECT count(*) FROM inc) AS n_processed,
             |  (SELECT count(*) FROM inc WHERE NOT EXISTS (
             |     SELECT 1 FROM e WHERE e.k = inc.k AND e.d = inc.d)) AS n_inserted,
             |  (SELECT count(*) FROM inc WHERE EXISTS (
             |     SELECT 1 FROM e WHERE e.k = inc.k AND e.d = inc.d)) AS n_updated,
             |  round(CAST((SELECT count(*) FROM inc) AS DOUBLE)
             |        / (SELECT count(*) FROM att), 4) AS success_rate,
             |  CAST((SELECT count(*) FROM inc) AS DOUBLE)
             |    / (SELECT count(*) FROM att) >= 0.95 AS success_ok""".stripMargin),
      (s, dir) => {
        val o = Tables.orders(s, dir)
        def keyed(f: DataFrame): DataFrame = f.select(
          col("o_orderkey").as("job_sk"), to_date(col("o_orderdate")).as("date_id"))
        val attempted = keyed(o.filter(col("o_orderkey") % 3 === 0))
        val incoming = attempted.filter(col("job_sk") % 10 =!= 3)
        val existing = keyed(o.filter(col("o_orderkey") % 2 === 0))
        Facts.upsertStats(existing, incoming, attempted)
      }),

    // ---------------------------------------------------------------- D11/J7 (bridge build w/ Unknown fallback)
    QueryDef(
      "q_d11_bridge_build", "D11 J7 J9 F19",
      Some(s"""WITH $ParsedCte,
              |fparsed AS (SELECT o_orderkey AS fact_id, p.province, p.city, p.district
              |            FROM orders JOIN customer ON o_custkey = c_custkey
              |            JOIN parsed p ON p.k = c_custkey),
              |dim0 AS (SELECT DISTINCT province, city, district FROM parsed
              |         WHERE city <> 'MOROCCO'),
              |dim AS (SELECT *, row_number() OVER (ORDER BY province NULLS FIRST, city,
              |                                     district NULLS FIRST) AS location_sk
              |        FROM dim0),
              |unk AS (SELECT min(location_sk) AS usk FROM dim
              |        WHERE city = 'Unknown' AND province IS NULL AND district IS NULL),
              |bridge AS (SELECT DISTINCT f.fact_id,
              |                  coalesce(d.location_sk, (SELECT usk FROM unk)) AS location_sk
              |           FROM fparsed f LEFT JOIN dim d
              |             ON f.province IS NOT DISTINCT FROM d.province
              |            AND f.city IS NOT DISTINCT FROM d.city
              |            AND f.district IS NOT DISTINCT FROM d.district)
              |SELECT location_sk, count(*) AS n_bridges FROM bridge
              |GROUP BY location_sk ORDER BY location_sk""".stripMargin),
      (s, dir) => {
        val synth = withSynthLocation(s, dir)
        val facts = Tables.orders(s, dir)
          .join(synth.select(col("c_custkey"), col("location")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey").as("fact_id"), col("location"))
        val dim = Dimensions.prepareDimLocation(synth, "location")
          .filter(col("city") =!= "MOROCCO")
          .withColumn("location_sk",
            row_number().over(Window.orderBy(col("province").asc_nulls_first, col("city"),
              col("district").asc_nulls_first)).cast("long"))
        Facts.buildBridge(facts, dim)
          .groupBy("location_sk")
          .agg(count(lit(1)).as("n_bridges"))
          .orderBy("location_sk")
      }),

    // ---------------------------------------------------------------- D12 (duplicate-fact cleanup)
    QueryDef(
      "q_d12_cleanup_dups", "D12 A4 W1 J11",
      Some("""WITH facts AS (
             |  SELECT o_orderkey AS job_sk, CAST(o_orderdate AS DATE) AS date_id,
             |         o_orderkey * 10 AS fact_id FROM orders
             |  UNION ALL
             |  SELECT o_orderkey, CAST(o_orderdate AS DATE), o_orderkey * 10 + 1
             |  FROM orders WHERE o_orderkey % 5 = 0),
             |cleaned AS (SELECT * FROM facts
             |            QUALIFY row_number() OVER (PARTITION BY job_sk, date_id
             |                                       ORDER BY fact_id) = 1)
             |SELECT 'after' AS stage, count(*) AS n FROM cleaned
             |UNION ALL SELECT 'before', count(*) FROM facts
             |UNION ALL SELECT 'removed', (SELECT count(*) FROM facts) - count(*) FROM cleaned
             |ORDER BY stage""".stripMargin),
      (s, dir) => {
        val o = Tables.orders(s, dir)
        def shape(idOffset: Int) = o.select(
          col("o_orderkey").as("job_sk"), to_date(col("o_orderdate")).as("date_id"),
          (col("o_orderkey") * 10 + idOffset).as("fact_id"))
        val facts = shape(0).unionByName(shape(1).filter(col("job_sk") % 5 === 0))
        // MIN(fact_id) survives (fact_handler.py:566-615)
        val cleaned = TopK.groupedTopK(facts, Seq("job_sk", "date_id"), Seq(col("fact_id")), 1)
        val before = facts.agg(count(lit(1)).as("n"))
        val after = cleaned.agg(count(lit(1)).as("n"))
        after.select(lit("after").as("stage"), col("n"))
          .unionByName(before.select(lit("before").as("stage"), col("n")))
          .unionByName(before.crossJoin(after.select(col("n").as("__a")))
            .select(lit("removed").as("stage"), (col("n") - col("__a")).as("n")))
          .orderBy("stage")
      }),

    // ---------------------------------------------------------------- A5/J10/D14 (validator report)
    QueryDef(
      "q_d14_validator", "D14 A5 J10",
      Some("""SELECT * FROM (
             |SELECT 'duplicate_current_keys' AS check_name,
             |       (SELECT count(*) FROM (SELECT c_custkey FROM (
             |          SELECT c_custkey FROM customer
             |          UNION ALL SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0) t
             |        GROUP BY c_custkey HAVING count(*) > 1) d) AS value
             |UNION ALL
             |SELECT 'future_posted', (SELECT count(*) FROM orders
             |                         WHERE o_orderdate > TIMESTAMP '2001-06-01 00:00:00')
             |UNION ALL
             |SELECT 'inverted_range', (SELECT count(*) FROM lineitem WHERE l_discount > l_tax)
             |UNION ALL
             |SELECT 'missing_days', (SELECT date_diff('day', min(CAST(o_orderdate AS DATE)),
             |                               max(CAST(o_orderdate AS DATE))) + 1
             |                               - count(DISTINCT CAST(o_orderdate AS DATE))
             |                        FROM orders)
             |UNION ALL
             |SELECT 'null_criticals', (SELECT count(*) FROM orders WHERE o_custkey % 97 = 0)
             |UNION ALL
             |SELECT 'orphan_orders', (SELECT count(*) FROM orders
             |                         WHERE NOT EXISTS (SELECT 1 FROM customer
             |                           WHERE c_custkey = o_custkey AND c_custkey % 10 <> 3))
             |) ORDER BY check_name""".stripMargin),
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val dupDim = c.select(col("c_custkey"))
          .unionByName(c.filter(col("c_custkey") % 100 === 0).select(col("c_custkey")))
          .withColumn("is_current", lit(true))
        val withNulls = o.withColumn("custkey2",
          when(col("o_custkey") % 97 === 0, lit(null)).otherwise(col("o_custkey")))
        Validator.report(Seq(
          Validator.duplicateCurrentKeys(dupDim, "c_custkey"),
          Validator.futureTimestamps("future_posted", o, "o_orderdate", "2001-06-01 00:00:00"),
          Validator.invertedRange("inverted_range", Tables.lineitem(s, dir), "l_discount", "l_tax"),
          Validator.missingDays("missing_days", o, "o_orderdate"),
          Validator.nullCriticals("null_criticals", withNulls, Seq("custkey2")),
          Validator.orphanCount("orphan_orders", o.withColumnRenamed("o_custkey", "c_custkey"),
            c.filter(col("c_custkey") % 10 =!= 3), "c_custkey")))
      }),

    // ---------------------------------------------------------------- E2+E3 end-to-end pipeline
    QueryDef(
      "q_e2e_pipeline", "E2 E3 F1 F4 F5 D1 D2 D3 D9 J6 F13",
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS load_month,
             |count(*) AS n_jobs, count(*) * 5 AS n_facts,
             |CAST(sum(CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 15 + 5
             |                   WHEN o_orderkey % 3 = 1 THEN 0
             |                   ELSE o_orderkey % 20 + 5 END AS DECIMAL(18,2))) * 5 AS DOUBLE)
             |  AS sum_salary_min
             |FROM orders GROUP BY 1 ORDER BY load_month""".stripMargin),
      (s, dir) => {
        // built FRESH on every invocation — with the bench's min-of-two
        // passes, reading the views' cached star here would report the
        // cached aggregate and hide the build cost this query exists to
        // measure. The q_v_* views keep the shared cached star (a BI
        // view over an already-loaded warehouse is the honest premise
        // there); this query IS the load.
        val staging = graft.app.Pipeline.rawToStaging(e2eRaw(s, dir), "2026-08-12 00:00:00")
        val dwh = graft.app.Pipeline.stagingToDwh(staging, AsOf)
        dwh.fact
          .groupBy("load_month")
          .agg(countDistinct(col("job_sk")).as("n_jobs"), count(lit(1)).as("n_facts"),
            dsum(col("salary_min")).as("sum_salary_min"))
          .select(col("load_month"), col("n_jobs"), col("n_facts"), col("sum_salary_min"))
          .orderBy("load_month")
      }),

    // ---------------------------------------------------------------- E3 incremental (the production daily mode)
    QueryDef(
      "q_e2e_incremental", "E3 D4 D5 D6 D10 S9 J6 J8 W3 P2",
      // Closed-form replay of two batches through the SCD2 + fact-merge
      // semantics: batch1 (jobs k%3<>0, asOf 2026-08-01) builds the
      // star; batch2 (jobs k%2=0, asOf 2026-08-03) is applied
      // incrementally with changed titles for k%10=0 (SCD2 update →
      // new job_sk → new facts) and overlap days 08-03..05 for
      // unchanged jobs (fact merge keeps fact_id + load_month, takes
      // incoming measures). sum_fact_id / sum_job_sk pin the surrogate
      // assignment and identity preservation exactly.
      Some("""WITH a AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 <> 0),
             |b AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 0),
             |d1 AS (SELECT k, 10000 + row_number() OVER (ORDER BY CAST(k AS VARCHAR)) AS sk
             |       FROM a),
             |nw AS (SELECT k FROM b WHERE k % 3 = 0
             |       UNION ALL SELECT k FROM a WHERE k % 10 = 0),
             |d2new AS (SELECT k, (SELECT max(sk) FROM d1)
             |                    + row_number() OVER (ORDER BY CAST(k AS VARCHAR)) AS sk
             |          FROM nw),
             |cur2 AS (SELECT k, sk FROM d2new
             |         UNION ALL
             |         SELECT d1.k, d1.sk FROM d1 WHERE d1.k % 2 = 0 AND d1.k % 10 <> 0),
             |days1 AS (SELECT CAST(d AS DATE) AS d FROM
             |          generate_series(DATE '2026-08-01', DATE '2026-08-05', INTERVAL 1 DAY) t(d)),
             |days2 AS (SELECT CAST(d AS DATE) AS d FROM
             |          generate_series(DATE '2026-08-03', DATE '2026-08-07', INTERVAL 1 DAY) t(d)),
             |f1id AS (SELECT *, 10000 + row_number() OVER (ORDER BY job_sk, d) AS fact_id FROM
             |         (SELECT d1.sk AS job_sk, days1.d, d1.k % 15 + 5 AS salary
             |          FROM d1 CROSS JOIN days1) t),
             |f2 AS (SELECT c.sk AS job_sk, days2.d, c.k % 20 + 7 AS salary
             |       FROM cur2 c CROSS JOIN days2),
             |matched AS (SELECT f.fact_id, f.job_sk, f.d, f2.salary, '2026-08' AS load_month
             |            FROM f1id f JOIN f2 ON f2.job_sk = f.job_sk AND f2.d = f.d),
             |only1 AS (SELECT f.fact_id, f.job_sk, f.d, f.salary, '2026-08' AS load_month
             |          FROM f1id f WHERE NOT EXISTS (
             |            SELECT 1 FROM f2 WHERE f2.job_sk = f.job_sk AND f2.d = f.d)),
             |newf AS (SELECT f2.job_sk, f2.d, f2.salary FROM f2 WHERE NOT EXISTS (
             |           SELECT 1 FROM f1id f WHERE f.job_sk = f2.job_sk AND f.d = f2.d)),
             |newfid AS (SELECT job_sk, d, salary,
             |             (SELECT max(fact_id) FROM f1id)
             |               + row_number() OVER (ORDER BY job_sk, d) AS fact_id,
             |             '2026-09' AS load_month
             |           FROM newf),
             |final AS (SELECT fact_id, job_sk, d, salary, load_month FROM matched
             |          UNION ALL SELECT fact_id, job_sk, d, salary, load_month FROM only1
             |          UNION ALL SELECT fact_id, job_sk, d, salary, load_month FROM newfid)
             |SELECT load_month, strftime(d, '%Y-%m-%d') AS date_id, count(*) AS n_facts,
             |       count(DISTINCT job_sk) AS n_jobs,
             |       CAST(sum(CAST(salary AS DECIMAL(18,2))) AS DOUBLE) AS sum_salary,
             |       CAST(sum(fact_id) AS BIGINT) AS sum_fact_id,
             |       CAST(sum(job_sk) AS BIGINT) AS sum_job_sk
             |FROM final GROUP BY 1, 2 ORDER BY load_month, date_id""".stripMargin),
      (s, dir) => {
        val dwh1 = prevDwh(s, dir)
        val b2 = incStagingBatches(s, dir)._2
        val dwh2 = graft.app.Pipeline.incrementalBatch(dwh1, b2, "2026-08-03")
        dwh2.fact
          .groupBy(col("load_month"), date_format(col("date_id"), "yyyy-MM-dd").as("date_id"))
          .agg(count(lit(1)).as("n_facts"), countDistinct(col("job_sk")).as("n_jobs"),
            dsum(col("salary_min")).as("sum_salary"),
            sum(col("fact_id")).cast("long").as("sum_fact_id"),
            sum(col("job_sk")).cast("long").as("sum_job_sk"))
          .orderBy("load_month", "date_id")
      }),

    // ---------------------------------------------------------------- vw_monthly_jobs over the e2e star
    QueryDef(
      "q_v_monthly", "A1 J4 V-monthly",
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS load_month, '2026-08-01' AS month,
             |count(DISTINCT o_orderkey) AS unique_jobs,
             |count(DISTINCT o_custkey) AS unique_companies,
             |round(avg(CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 15 + 5 AS DOUBLE)
             |               WHEN o_orderkey % 3 = 1 THEN 0.0
             |               ELSE CAST(o_orderkey % 20 + 5 AS DOUBLE) END), 6) AS avg_salary_min,
             |round(avg(CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 15 + 10 AS DOUBLE)
             |               WHEN o_orderkey % 3 = 1 THEN 0.0
             |               ELSE CAST(o_orderkey % 20 + 5 AS DOUBLE) END), 6) AS avg_salary_max
             |FROM orders GROUP BY 1 ORDER BY load_month""".stripMargin),
      (s, dir) =>
        graft.views.AnalyticsViews.vwMonthlyJobs(e2eDwh(s, dir))
          .select(col("load_month"), date_format(col("month"), "yyyy-MM-dd").as("month"),
            col("unique_jobs"), col("unique_companies"),
            round(col("avg_salary_min").cast("double"), 6).as("avg_salary_min"),
            round(col("avg_salary_max").cast("double"), 6).as("avg_salary_max"))
          .orderBy("load_month")),

    // ---------------------------------------------------------------- vw_job_salary_filter over the e2e star
    QueryDef(
      "q_v_salary_filter", "P4 J3 V-salary-filter O3",
      Some(s"""${e2eJobsOracleCtes("c_custkey % 4 AS k4, n_name,", "")}
             |SELECT job_sk, 'Engineer ' || o_orderpriority AS title_clean,
             |       c_name AS company_name_standardized, salary_min, salary_max,
             |       strftime(due, '%Y-%m-%d') AS due_date,
             |       CASE WHEN n_name = 'NATION_7' THEN 'Hà Nội'
             |            WHEN k4 IN (0, 1, 2) THEN n_name ELSE 'Unknown' END AS city,
             |       CAST(NULL AS VARCHAR) AS province
             |FROM e
             |WHERE salary_min >= 10 AND salary_max <= 20 AND due >= TIMESTAMP '1995-06-01'
             |ORDER BY job_sk""".stripMargin),
      (s, dir) =>
        graft.views.AnalyticsViews.vwJobSalaryFilter(e2eDwh(s, dir), AsOfView)
          .select(col("job_sk"), col("title_clean"), col("company_name_standardized"),
            col("salary_min").cast("double").as("salary_min"),
            col("salary_max").cast("double").as("salary_max"),
            date_format(col("due_date"), "yyyy-MM-dd").as("due_date"),
            col("city"), col("province"))
          .orderBy("job_sk")),

    // ---------------------------------------------------------------- vw_top10_hn over the e2e star
    QueryDef(
      "q_v_top10_hn", "P5 W2 F16 V-top10-hn",
      Some(s"""${e2eJobsOracleCtes("", "WHERE n_name = 'NATION_7'")}
             |SELECT job_sk, 'Engineer ' || o_orderpriority AS title_clean,
             |       c_name AS company_name_standardized, salary_min, salary_max,
             |       strftime(due, '%Y-%m-%d') AS due_date, 'Hà Nội' AS city,
             |       CAST(NULL AS VARCHAR) AS province,
             |       CAST(date_diff('day', DATE '1995-06-01', CAST(due AS DATE)) AS BIGINT)
             |         AS days_to_deadline
             |FROM e
             |WHERE salary_min >= 10 AND salary_max <= 20 AND due >= TIMESTAMP '1995-06-01'
             |ORDER BY due, job_sk LIMIT 10""".stripMargin),
      (s, dir) =>
        graft.views.AnalyticsViews.vwTop10Hanoi(e2eDwh(s, dir), AsOfView)
          .select(col("job_sk"), col("title_clean"), col("company_name_standardized"),
            col("salary_min").cast("double").as("salary_min"),
            col("salary_max").cast("double").as("salary_max"),
            date_format(col("due_date"), "yyyy-MM-dd").as("due_date"),
            col("city"), col("province"),
            col("days_to_deadline").cast("long").as("days_to_deadline"))
          .orderBy("due_date", "job_sk")),

    // ---------------------------------------------------------------- vw_top_companies over the e2e star
    QueryDef(
      "q_v_top_companies", "J4 A2 V-top-companies",
      // schema_dwh.sql:121-130: current-company job counts over the
      // pipeline-produced star. c_name survives cleanCompanyName
      // unchanged (no legal-suffix patterns in the synthetic names),
      // and the single-batch star has exactly one current version per
      // company, so the closed form is orders ⋈ customer.
      Some("""SELECT c_name AS company_name_standardized,
             |       c_custkey % 2 = 0 AS verified_employer,
             |       count(DISTINCT o_orderkey) AS job_count
             |FROM orders JOIN customer ON c_custkey = o_custkey
             |GROUP BY 1, 2
             |ORDER BY job_count DESC, company_name_standardized""".stripMargin),
      (s, dir) =>
        graft.views.AnalyticsViews.vwTopCompanies(e2eDwh(s, dir))
          .select(col("company_name_standardized"), col("verified_employer"),
            col("job_count").cast("long").as("job_count"))
          .orderBy(col("job_count").desc, col("company_name_standardized"))),

    // ---------------------------------------------------------------- vw_top_locations over the e2e star
    QueryDef(
      "q_v_top_locations", "J4 A3 V-top-locations",
      // schema_dwh.sql:133-143: job counts per (province, city) through
      // the bridge. The e2e corpus parses to NULL provinces everywhere
      // (bare-city, city:district, JSON-districts, and null→Unknown
      // shapes), so COALESCE maps them all to 'Unknown'; the JSON
      // shape's two districts collapse under the (province, city)
      // grouping.
      Some("""WITH e AS (SELECT o_orderkey AS job, c_custkey AS k, n_name
             |           FROM orders JOIN customer ON c_custkey = o_custkey
             |                       JOIN nation ON n_nationkey = c_nationkey),
             |loc AS (
             |  SELECT job, 'Hà Nội' AS city FROM e WHERE n_name = 'NATION_7'
             |  UNION ALL SELECT job, n_name FROM e
             |  WHERE n_name <> 'NATION_7' AND k % 4 IN (0, 1, 2)
             |  UNION ALL SELECT job, 'Unknown' FROM e
             |  WHERE n_name <> 'NATION_7' AND k % 4 = 3)
             |SELECT 'Unknown' AS province, city, count(DISTINCT job) AS job_count
             |FROM loc GROUP BY city
             |ORDER BY job_count DESC, province, city""".stripMargin),
      (s, dir) =>
        graft.views.AnalyticsViews.vwTopLocations(e2eDwh(s, dir))
          .select(col("province"), col("city"),
            col("job_count").cast("long").as("job_count"))
          .orderBy(col("job_count").desc, col("province"), col("city"))),

    // ---------------------------------------------------------------- D14 ratio
    QueryDef(
      "q_d14_integrity_ratio", "D14 A9",
      Some("""SELECT (SELECT count(*) FROM orders) AS n_source,
             |(SELECT count(*) FROM orders o JOIN customer ON c_custkey = o_custkey
             | WHERE c_custkey % 10 <> 3) AS n_processed,
             |round(CAST((SELECT count(*) FROM orders o JOIN customer ON c_custkey = o_custkey
             |            WHERE c_custkey % 10 <> 3) AS DOUBLE)
             |      / (SELECT count(*) FROM orders), 4) AS ratio""".stripMargin),
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val processed = o.join(
          broadcast(Tables.customer(s, dir).filter(col("c_custkey") % 10 =!= 3)),
          col("o_custkey") === col("c_custkey"))
        Validator.integrityRatio(o, processed)
      }),

    // ---------------------------------------------------------------- D15 (one-pass column profile)
    QueryDef(
      "q_d15_column_profile", "A5 D14 (post-load profiling)",
      // per-column null/distinct/min/max over customer, computed in
      // ONE aggregation pass (the unpivot happens on the 1-row
      // result): a 100 TB table is scanned exactly once however many
      // columns it has. min/max compare in native types, rendered as
      // strings only at the end.
      Some("""WITH s AS (SELECT * FROM customer)
             |SELECT * FROM (
             |  SELECT 'c_custkey' AS "column", count(*) AS n_rows,
             |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |    count(DISTINCT c_custkey) AS n_distinct,
             |    CAST(min(c_custkey) AS VARCHAR) AS min_value,
             |    CAST(max(c_custkey) AS VARCHAR) AS max_value FROM s
             |  UNION ALL
             |  SELECT 'c_name', count(*),
             |    CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    count(DISTINCT c_name), min(c_name), max(c_name) FROM s
             |  UNION ALL
             |  SELECT 'c_nationkey', count(*),
             |    CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    count(DISTINCT c_nationkey),
             |    CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR) FROM s
             |  UNION ALL
             |  SELECT 'c_mktsegment', count(*),
             |    CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    count(DISTINCT c_mktsegment), min(c_mktsegment), max(c_mktsegment) FROM s
             |) ORDER BY "column"""".stripMargin),
      (s, dir) =>
        Validator.profile(
            Tables.customer(s, dir)
              .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
          .orderBy("column")),

    // ---------------------------------------------------------------- D16 (key-skew profile — the salting decision input)
    QueryDef(
      "q_d16_key_skew_profile", "D16 join-key skew profiler",
      // the one-row diagnostic that decides whether a join key needs
      // salting (Skew.saltedJoin / joinAsOfBackwardSalted): per-key
      // counts, then max/avg/share-of-top-key. One shuffle on the key;
      // the moments ride a single 1-row aggregate.
      Some("""WITH k AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
             |SELECT count(*) AS n_keys,
             |CAST(max(n) AS BIGINT) AS max_n,
             |round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS avg_n,
             |round(CAST(max(n) AS DOUBLE) / (CAST(sum(n) AS DOUBLE) / count(*)), 6)
             |  AS skew_ratio,
             |round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_share
             |FROM k""".stripMargin),
      (s, dir) => {
        val k = Tables.orders(s, dir).groupBy("o_custkey").agg(count(lit(1)).as("n"))
        k.agg(
          count(lit(1)).as("n_keys"),
          max(col("n")).as("max_n"),
          round(sum(col("n")).cast("double") / count(lit(1)), 6).as("avg_n"),
          round(max(col("n")).cast("double")
            / (sum(col("n")).cast("double") / count(lit(1))), 6).as("skew_ratio"),
          round(max(col("n")).cast("double") / sum(col("n")), 6).as("top_share"))
      }),

    // ---------------------------------------------------------------- D17 (incremental aggregate maintenance)
    QueryDef(
      "q_d17_partial_agg_merge", "D17 partial-aggregate merge (incremental view maintenance)",
      // the never-rescan-history shape for maintained aggregates: the
      // standing state (months before 1997, in production a stored
      // table) and the new batch are PARTIAL aggregates — (count, exact
      // cents sum) per month — and the refresh merges the partials by
      // key instead of re-aggregating raw history. Correct because
      // count/sum are commutative monoids; the oracle is the full
      // recompute the merge must equal.
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
             |CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS DECIMAL(18,0))
             |  / 100 AS DOUBLE) AS sum_price
             |FROM orders GROUP BY 1 ORDER BY month""".stripMargin),
      (s, dir) => {
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n"),
            (sum(col("o_totalprice").cast(DecimalType(18, 2)) * 100)).cast("long")
              .as("cents"))
        val o = Tables.orders(s, dir)
        val state = partial(o.filter(col("o_orderdate") < lit("1997-01-01")))
        val batch = partial(o.filter(col("o_orderdate") >= lit("1997-01-01")))
        state.unionByName(batch)
          .groupBy("month")
          .agg(sum(col("n")).as("n"),
            (sum(col("cents")).cast(DecimalType(18, 0)) / 100).cast("double")
              .as("sum_price"))
          .orderBy("month")
      }),

    // ---------------------------------------------------------------- D18 (join-size profiler: cardinality before joining)
    QueryDef(
      "q_d18_join_size_profile", "D18 join output-size estimation",
      // what |orders ⋈ lineitem| WILL be, without running the join:
      // Σ_k n_orders(k)·n_lineitem(k) over per-key counts — two
      // partial-aggregated groupBys plus a key-count-sized join, the
      // cheap pre-flight a planner runs before committing to a join
      // strategy (broadcast vs shuffle vs salted). Also surfaces the
      // single largest contributing key and its share: the salting
      // decision input (q_d16 profiles one side; this profiles the
      // PRODUCT, which is what actually explodes). All counts and
      // products are exact ints.
      Some("""WITH a AS (SELECT o_orderkey AS k, count(*) AS na FROM orders GROUP BY 1),
             |b AS (SELECT l_orderkey AS k, count(*) AS nb FROM lineitem GROUP BY 1),
             |p AS (SELECT a.k, a.na * b.nb AS contrib FROM a JOIN b USING (k)),
             |top AS (SELECT k, contrib FROM p ORDER BY contrib DESC, k LIMIT 1),
             |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_both,
             |        CAST(sum(contrib) AS BIGINT) AS est_rows FROM p)
             |SELECT agg.n_keys_both, agg.est_rows, top.k AS top_key,
             |CAST(top.contrib AS BIGINT) AS top_contrib,
             |round(CAST(top.contrib AS DOUBLE) / agg.est_rows, 6) AS top_share
             |FROM agg CROSS JOIN top""".stripMargin),
      (s, dir) => {
        val a = Tables.orders(s, dir).groupBy(col("o_orderkey").as("k"))
          .agg(count(lit(1)).as("na"))
        val b = Tables.lineitem(s, dir).groupBy(col("l_orderkey").as("k"))
          .agg(count(lit(1)).as("nb"))
        val p = a.join(b, "k").select(col("k"), (col("na") * col("nb")).as("contrib"))
          .localCheckpoint(false) // consumed by the top-1 probe and the totals
        val top = p.orderBy(col("contrib").desc, col("k")).limit(1)
          .select(col("k").as("top_key"), col("contrib").as("top_contrib"))
        val agg = p.agg(count(lit(1)).as("n_keys_both"), sum("contrib").as("est_rows"))
        agg.crossJoin(broadcast(top))
          .select(col("n_keys_both"), col("est_rows"), col("top_key"),
            col("top_contrib"),
            round(col("top_contrib").cast("double") / col("est_rows"), 6)
              .as("top_share"))
      })
  )
}
