package graft.queries

import graft.Tables
import graft.plans.NativeAsOfJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The scan / filter / join / aggregate / window / set-op families of
  * SURVEY §2 (S, P, J, A, W, O operators), expressed over the driver
  * testdata star schema with DuckDB oracle parity.
  *
  * Oracle-parity conventions (see QueryDef):
  *  - measure sums go through DECIMAL(18,2) so they are exact and
  *    order-independent in both engines, then CAST AS DOUBLE;
  *  - averages are `round(sum_decimal_as_double / count, 6)`;
  *  - timestamps are compared/emitted via session-TZ UTC formatting;
  *  - every output has a total ORDER BY.
  *
  * Scale notes: dims (region/nation/customer at this SF) are broadcast;
  * fact-side tables (orders/lineitem/events) only shuffle on group/join
  * keys; filters and projections are pushed into the parquet scans
  * (verified via explain — PushedFilters / ReadSchema).
  */
object RelationalQueries {

  /** sum(CAST(c AS DECIMAL(18,2))) :: double — exact in both engines. */
  private[queries] def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** One event per user, the first by `order`, counted and summed per
    * type (q_w1 keep-first, q_w3 last-wins by the reversed order).
    */
  private def onePerUser(s: SparkSession, dir: String, order: Column*): DataFrame =
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(Window.partitionBy("user_id").orderBy(order: _*)))
      .filter(col("rn") === 1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")

  private def onePerUserOracle(order: String): Option[String] = Some(
    s"""SELECT event_type, count(*) AS n,
       |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM (SELECT * FROM events
       |      QUALIFY row_number() OVER (PARTITION BY user_id
       |        ORDER BY $order) = 1)
       |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Order count and exact price sum of each (priority, status)
    * grouping set of `sets` (a rollup or cube), subtotals labeled 'ALL'
    * (q_a12, q_a14).
    */
  private def priorityStatusLattice(sets: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    sets
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("sum_price"))
      .orderBy("priority", "status")

  private def priorityStatusLatticeOracle(groupBy: String): Option[String] = Some(
    s"""SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       |coalesce(o_orderstatus, 'ALL') AS status,
       |count(*) AS n,
       |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM orders GROUP BY $groupBy (o_orderpriority, o_orderstatus)
       |ORDER BY priority, status""".stripMargin)

  /** round(dsum/cnt, 6) — deterministic average. */
  private def davg(c: Column): Column = round(dsum(c) / count(lit(1)), 6)

  /** W4 backward as-of: each purchase looks up the user's most recent
    * view at-or-before it; DuckDB's native ASOF JOIN is the oracle.
    * Gaps compare in exact microseconds; avg is an exact-int sum over a
    * count, identical across engines. `saltBuckets` picks the salted
    * (hot-key-safe) form, whose answer is the same. q_st12 streams the
    * same join and shares the oracle.
    */
  private[queries] val asofPurchasesOracle = Some(
    """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
      |SELECT strftime(date_trunc('day', p.ts), '%Y-%m-%d') AS day,
      |count(*) AS n_purchases, count(v.ts) AS n_matched,
      |round(avg(epoch_us(p.ts) - epoch_us(v.ts)) / 1e6, 6) AS avg_gap_sec
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      |GROUP BY 1 ORDER BY day""".stripMargin)

  private def asofPurchases(saltBuckets: Option[Int]): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val p = ev.filter(col("event_type") === "purchase").select("user_id", "ts")
      val v = ev.filter(col("event_type") === "view").select("user_id", "ts")
      val joined = saltBuckets match {
        case None => NativeAsOfJoin.joinAsOfBackward(
          p, v, Seq("user_id"), "ts", "ts", Seq("ts"))
        case Some(b) => NativeAsOfJoin.joinAsOfBackwardSalted(
          p, v, Seq("user_id"), "ts", "ts", Seq("ts"), saltBuckets = b)
      }
      asofDailyGaps(joined)
    }

  /** W4's answer over an as-of-joined (ts, asof_ts) purchase frame:
    * per day, purchases, matched purchases and the mean gap in exact
    * microseconds — also q_st12's answer over its streamed join.
    */
  private[queries] def asofDailyGaps(joined: DataFrame): DataFrame =
    joined
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        count(col("asof_ts")).as("n_matched"),
        round(avg(unix_micros(col("ts")) - unix_micros(col("asof_ts"))) / 1e6, 6)
          .as("avg_gap_sec"))
      .orderBy("day")

  /** W4 forward as-of, the time-reversed twin: each view looks up the
    * user's NEXT purchase at-or-after it ("did this impression convert,
    * and how fast") — the attribution direction; DuckDB's ASOF with the
    * inequality flipped is the oracle.
    */
  private val asofViewsOracle = Some(
    """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
      |SELECT strftime(date_trunc('day', v.ts), '%Y-%m-%d') AS day,
      |count(*) AS n_views, count(p.ts) AS n_converted,
      |round(avg(epoch_us(p.ts) - epoch_us(v.ts)) / 1e6, 6) AS avg_gap_sec
      |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND p.ts >= v.ts
      |GROUP BY 1 ORDER BY day""".stripMargin)

  private val asofViews: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase").select("user_id", "ts")
    val v = ev.filter(col("event_type") === "view").select("user_id", "ts")
    NativeAsOfJoin.joinAsOfForward(v, p, Seq("user_id"), "ts", "ts", Seq("ts"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_views"),
        count(col("asof_ts")).as("n_converted"),
        round(avg(unix_micros(col("asof_ts")) - unix_micros(col("ts"))) / 1e6, 6)
          .as("avg_gap_sec"))
      .orderBy("day")
  }

  /** A27's per-order frame: (o_orderkey, xv = o_totalprice in cents,
    * yv = line count) — the two variables q_a27 and q_a27b rank.
    */
  private def spearmanPerOrder(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir).select(col("l_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy("o_orderkey")
      .agg(
        first((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"))
          .as("xv"),
        count(col("l_orderkey")).as("yv"))

  /** A27's oracle for both twins: doubled average ranks by row_number
    * windows, then the exact moment aggregate.
    */
  private val spearmanOracle = Some(
    """WITH per AS (SELECT o_orderkey,
      |    CAST(any_value(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS xv,
      |    count(l_orderkey) AS yv
      |  FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
      |  GROUP BY o_orderkey),
      |rk AS (SELECT
      |    CAST(min(rnx) OVER (PARTITION BY xv) + max(rnx) OVER (PARTITION BY xv)
      |      AS BIGINT) AS x2, -- doubled average rank = min+max of positions
      |    CAST(min(rny) OVER (PARTITION BY yv) + max(rny) OVER (PARTITION BY yv)
      |      AS BIGINT) AS y2
      |  FROM (SELECT xv, yv,
      |      row_number() OVER (ORDER BY xv, o_orderkey) AS rnx,
      |      row_number() OVER (ORDER BY yv, o_orderkey) AS rny
      |    FROM per)),
      |m AS (SELECT count(*) AS n, sum(x2) AS sx, sum(y2) AS sy,
      |    CAST(sum(CAST(x2 AS DECIMAL(18,0)) * CAST(y2 AS DECIMAL(18,0)))
      |      AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(x2 AS DECIMAL(18,0)) * CAST(x2 AS DECIMAL(18,0)))
      |      AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(y2 AS DECIMAL(18,0)) * CAST(y2 AS DECIMAL(18,0)))
      |      AS DOUBLE) AS syy
      |  FROM rk)
      |SELECT n,
      |round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |  / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |         * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS rho
      |FROM m""".stripMargin)

  /** A10's oracle for both twins (q_a10 window, q_a10b histogram
    * selection): the nearest-rank order statistic ceil(q·n) by
    * position in a totally-ordered window.
    */
  private val groupQuantilesOracle = Some(
    """WITH t AS (SELECT o_orderpriority AS p, o_totalprice AS v,
      |  row_number() OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey) AS rn,
      |  count(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT p AS o_orderpriority,
      |max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS p50,
      |max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN v END) AS p90
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)

  /** W5's oracle for both twins (q_w5 rank window, q_w5b k-capped
    * aggregate): top 3 spenders per event type.
    */
  private val groupedTopKOracle = Some(
    """WITH t AS (SELECT event_type, user_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, user_id, total,
      |       CAST(row_number() OVER (PARTITION BY event_type
      |         ORDER BY total DESC, user_id) AS BIGINT) AS rank
      |FROM t
      |QUALIFY rank <= 3
      |ORDER BY event_type, rank""".stripMargin)

  /** W5's input: (event_type, user_id, total) with the exact
    * decimal-summed value per user and type.
    */
  private def userTotals(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type", "user_id")
      .agg(dsum(col("value")).as("total"))

  /** W5's answer shape over either top-k form's (…, total, rank). */
  private def topSpenders(topK: DataFrame): DataFrame =
    topK.withColumn("rank", col("rank").cast("long"))
      .select("event_type", "user_id", "total", "rank")
      .orderBy("event_type", "rank")

  /** J12 point-in-time lookup: each purchase opens a 'tier' version
    * valid until the next purchase or 7 days, whichever first; every
    * view looks up the tier current at view time (SCD2 point-in-time
    * semantics — expired versions yield 'none', like a view before any
    * purchase). Intervals per user are disjoint by construction, so the
    * LEFT interval join in the oracle keeps one row per view.
    */
  private val pointInTimeOracle = Some(
    """WITH p AS (SELECT user_id, ts AS valid_from,
      |  CAST(floor(value / 100) AS BIGINT) AS tier,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
      |  FROM events WHERE event_type = 'purchase'),
      |h AS (SELECT user_id, valid_from, tier,
      |        least(coalesce(nxt, valid_from + INTERVAL 7 DAY),
      |              valid_from + INTERVAL 7 DAY) AS valid_to FROM p),
      |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |j AS (SELECT v.user_id, h.tier FROM v LEFT JOIN h
      |      ON v.user_id = h.user_id AND v.ts >= h.valid_from AND v.ts < h.valid_to)
      |SELECT coalesce(CAST(tier AS VARCHAR), 'none') AS tier,
      |count(*) AS n_views, count(DISTINCT user_id) AS n_users
      |FROM j GROUP BY 1 ORDER BY tier""".stripMargin)

  private val pointInTime: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = Tables.events(s, dir)
    val wNext = Window.partitionBy("user_id").orderBy("valid_from")
    val hist = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("valid_from"),
        floor(col("value") / 100).cast("long").as("tier"))
      .withColumn("valid_to",
        least(
          coalesce(lead(col("valid_from"), 1).over(wNext),
            col("valid_from") + expr("INTERVAL 7 DAYS")),
          col("valid_from") + expr("INTERVAL 7 DAYS")))
    val views = ev.filter(col("event_type") === "view").select("user_id", "ts")
    NativeAsOfJoin.joinPointInTime(
        views, hist, Seq("user_id"), "ts", "valid_from", "valid_to", Seq("tier"))
      .groupBy(coalesce(col("pit_tier").cast("string"), lit("none")).as("tier"))
      .agg(count(lit(1)).as("n_views"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("tier")
  }

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- S3/P3/O1/O2
    QueryDef(
      "q_s3_scan_project", "S3 P3 O1 O2",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin),
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber")
          .limit(100)),

    // ---------------------------------------------------------------- P3 (OFFSET pagination)
    QueryDef(
      "q_p3_offset", "P3 O1 O2",
      Some("""SELECT o_orderkey AS order_id, o_totalprice
             |FROM orders WHERE o_orderstatus = 'O'
             |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin),
      (s, dir) =>
        // LIMIT/OFFSET/WHERE pass-through (ref raw_to_staging.py:265-273)
        // via the native offset operator (CollectLimit with skip — no
        // full materialization of the page head)
        Tables.orders(s, dir)
          .filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey").as("order_id"), col("o_totalprice"))
          .orderBy("order_id")
          .offset(100)
          .limit(50)),

    // ---------------------------------------------------------------- P1
    QueryDef(
      "q_p1_project_rename", "P1",
      Some("""SELECT o_orderkey AS order_id, o_orderstatus AS status,
             |o_orderstatus AS status_clean, o_orderpriority AS priority
             |FROM orders ORDER BY order_id LIMIT 500""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .select(
            col("o_orderkey").as("order_id"),
            col("o_orderstatus").as("status"),
            col("o_orderstatus").as("status_clean"), // raw->staging seed copy (ref insert_raw_to_staging.sql:20-37)
            col("o_orderpriority").as("priority"))
          .orderBy("order_id")
          .limit(500)),

    // ---------------------------------------------------------------- P2
    QueryDef(
      "q_p2_incremental", "P2",
      Some("""SELECT event_type, count(*) AS n,
             |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) =>
        Tables.events(s, dir)
          .filter(col("ts") >= expr("timestamp'2024-01-25 00:00:00'"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("event_type")),

    // ---------------------------------------------------------------- P4/P8
    QueryDef(
      "q_p4_band_filter", "P4 P8",
      Some("""SELECT o_orderpriority AS priority, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders
             |WHERE o_totalprice >= 10000 AND o_totalprice <= 20000
             |  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
             |  AND o_orderstatus = 'O'
             |GROUP BY o_orderpriority ORDER BY priority""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .filter(
            col("o_totalprice") >= 10000 && col("o_totalprice") <= 20000 &&
              col("o_orderdate") >= expr("timestamp'1998-01-01 00:00:00'") &&
              col("o_orderstatus") === "O")
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("priority")),

    // ---------------------------------------------------------------- P5
    QueryDef(
      "q_p5_ilike_match", "P5",
      Some("""SELECT p_brand, count(*) AS n FROM part
             |WHERE lower(p_type) LIKE '%promo%' OR lower(p_name) LIKE '%bolt%'
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
      (s, dir) =>
        Tables.part(s, dir)
          .filter(lower(col("p_type")).contains("promo") || lower(col("p_name")).contains("bolt"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"))
          .orderBy("p_brand")),

    // ---------------------------------------------------------------- J1/J4/P8 (vw_current_jobs-style 3-way dim join)
    QueryDef(
      "q_j1_three_way_join", "J1 J4 P8",
      Some("""SELECT r_name, n_name, count(*) AS n_orders,
             |count(DISTINCT o_custkey) AS n_customers,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            count(lit(1)).as("n_orders"),
            countDistinct(col("o_custkey")).as("n_customers"),
            dsum(col("o_totalprice")).as("revenue"))
          .orderBy("r_name", "n_name")),

    // ---------------------------------------------------------------- J2/J5 (fact ⋈ bridge ⋈ dim)
    QueryDef(
      "q_j2_bridge_join", "J2 J5",
      Some("""SELECT p_brand, count(*) AS n_lines,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM orders
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN part ON l_partkey = p_partkey
             |WHERE o_orderstatus = 'F'
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .filter(col("o_orderstatus") === "F")
          .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
          .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("p_brand")),

    // ---------------------------------------------------------------- J3/O3/F16 (inner+left view w/ distinct)
    QueryDef(
      "q_j3_left_join_view", "J3 O3 F16",
      Some("""SELECT DISTINCT c_custkey, n_name,
             |coalesce(o_orderkey, -1) AS o_orderkey,
             |coalesce(o_totalprice, -1.0) AS o_totalprice,
             |coalesce(date_diff('day', o_orderdate, TIMESTAMP '1999-01-01 00:00:00'), -1) AS days_to_deadline
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice >= 150000
             |  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00') o ON o_custkey = c_custkey
             |ORDER BY c_custkey, o_orderkey LIMIT 500""".stripMargin),
      (s, dir) => {
        val filteredOrders = Tables.orders(s, dir)
          .filter(col("o_totalprice") >= 150000 &&
            col("o_orderdate") >= expr("timestamp'1998-01-01 00:00:00'"))
        Tables.customer(s, dir)
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .join(filteredOrders, col("o_custkey") === col("c_custkey"), "left")
          .select(
            col("c_custkey"), col("n_name"),
            coalesce(col("o_orderkey"), lit(-1L)).as("o_orderkey"),
            coalesce(col("o_totalprice"), lit(-1.0)).as("o_totalprice"),
            coalesce(datediff(lit("1999-01-01").cast("date"), col("o_orderdate")), lit(-1))
              .as("days_to_deadline"))
          .distinct()
          .orderBy("c_custkey", "o_orderkey")
          .limit(500)
      }),

    // ---------------------------------------------------------------- J6 (broadcast SK resolution)
    QueryDef(
      "q_j6_sk_resolution", "J6",
      Some("""SELECT n_name, count(*) AS n_resolved
             |FROM orders
             |JOIN (SELECT * FROM customer WHERE c_custkey % 10 <> 3) dim ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin),
      (s, dir) => {
        // dim with 10% of keys missing: resolved-only counts (ref fact_handler.py:84-117)
        val dim = Tables.customer(s, dir).filter(col("c_custkey") % 10 =!= 3)
        Tables.orders(s, dir)
          .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_resolved"))
          .orderBy("n_name")
      }),

    // ---------------------------------------------------------------- P6 (drop rows lacking SKs, count skipped)
    QueryDef(
      "q_p6_drop_unresolved", "P6",
      Some("""SELECT count(*) AS n_skipped,
             |count(DISTINCT o_custkey) AS n_missing_keys
             |FROM orders WHERE NOT EXISTS
             |  (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_custkey % 10 <> 3)""".stripMargin),
      (s, dir) => {
        val dim = Tables.customer(s, dir).filter(col("c_custkey") % 10 =!= 3)
        Tables.orders(s, dir)
          .join(broadcast(dim), col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_skipped"),
            countDistinct(col("o_custkey")).as("n_missing_keys"))
      }),

    // ---------------------------------------------------------------- J7 (null-safe join + Unknown fallback)
    QueryDef(
      "q_j7_nullsafe_unknown", "J7 F19",
      Some("""SELECT coalesce(n_name, 'Unknown') AS nation_name, count(*) AS n
             |FROM (SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
             |      FROM customer) c
             |LEFT JOIN nation ON c.nk IS NOT DISTINCT FROM n_nationkey
             |GROUP BY 1 ORDER BY nation_name""".stripMargin),
      (s, dir) =>
        Tables.customer(s, dir)
          .select(when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_nationkey")).as("nk"))
          .join(broadcast(Tables.nation(s, dir)), col("nk") <=> col("n_nationkey"), "left")
          .groupBy(coalesce(col("n_name"), lit("Unknown")).as("nation_name"))
          .agg(count(lit(1)).as("n"))
          .orderBy("nation_name")),

    // ---------------------------------------------------------------- J9/S6 (semi / anti existence checks)
    QueryDef(
      "q_j9_semi_anti", "J9 S6",
      Some("""SELECT 'anti' AS check_type, count(*) AS n FROM orders
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 49)
             |UNION ALL
             |SELECT 'semi' AS check_type, count(*) AS n FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 49)
             |ORDER BY check_type""".stripMargin),
      (s, dir) => {
        val big = Tables.lineitem(s, dir).filter(col("l_quantity") > 49)
        val o = Tables.orders(s, dir)
        val anti = o.join(big, col("o_orderkey") === col("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n")).select(lit("anti").as("check_type"), col("n"))
        val semi = o.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .agg(count(lit(1)).as("n")).select(lit("semi").as("check_type"), col("n"))
        anti.unionByName(semi).orderBy("check_type")
      }),

    // ---------------------------------------------------------------- J10 (orphan detection)
    QueryDef(
      "q_j10_orphans", "J10",
      Some("""SELECT o_orderstatus AS status, count(*) AS n_orphans FROM orders
             |WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_acctbal > 0)
             |GROUP BY o_orderstatus ORDER BY status""".stripMargin),
      (s, dir) => {
        val dim = Tables.customer(s, dir).filter(col("c_acctbal") > 0)
        Tables.orders(s, dir)
          .join(broadcast(dim), col("o_custkey") === col("c_custkey"), "left_anti")
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_orphans"))
          .orderBy("status")
      }),

    // ---------------------------------------------------------------- A1 (vw_monthly_jobs)
    QueryDef(
      "q_a1_monthly_agg", "A1 F13",
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS load_month,
             |count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders,
             |round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price
             |FROM orders GROUP BY 1 ORDER BY load_month""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("load_month"))
          .agg(
            countDistinct(col("o_custkey")).as("n_customers"),
            count(lit(1)).as("n_orders"),
            davg(col("o_totalprice")).as("avg_price"))
          .orderBy("load_month")),

    // ---------------------------------------------------------------- A2/W2/J4 (vw_top_companies)
    QueryDef(
      "q_a2_top_customers", "A2 J4 W2",
      Some("""SELECT c_name, count(DISTINCT o_orderkey) AS n_orders
             |FROM customer JOIN orders ON o_custkey = c_custkey
             |GROUP BY c_name ORDER BY n_orders DESC, c_name LIMIT 10""".stripMargin),
      (s, dir) =>
        Tables.customer(s, dir)
          .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
          .groupBy("c_name")
          .agg(countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy(col("n_orders").desc, col("c_name"))
          .limit(10)),

    // ---------------------------------------------------------------- A3/F18 (vw_top_locations w/ coalesce Unknown)
    QueryDef(
      "q_a3_top_locations", "A3 F18",
      Some("""SELECT coalesce(nullif(n_name, 'CHINA'), 'Unknown') AS province,
             |c_mktsegment AS city, count(DISTINCT c_custkey) AS n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1, 2 ORDER BY n DESC, province, city""".stripMargin),
      (s, dir) =>
        Tables.customer(s, dir)
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .groupBy(
            coalesce(nullif(col("n_name"), lit("CHINA")), lit("Unknown")).as("province"),
            col("c_mktsegment").as("city"))
          .agg(countDistinct(col("c_custkey")).as("n"))
          .orderBy(col("n").desc, col("province"), col("city"))),

    // ---------------------------------------------------------------- A4/J11 (duplicate detection HAVING count>1)
    QueryDef(
      "q_a4_duplicate_groups", "A4 J11",
      Some("""SELECT count(*) AS dup_groups, CAST(coalesce(sum(c), 0) AS BIGINT) AS dup_rows
             |FROM (SELECT count(*) AS c FROM lineitem
             |      GROUP BY l_orderkey, l_partkey HAVING count(*) > 1)""".stripMargin),
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_orderkey", "l_partkey")
          .agg(count(lit(1)).as("c"))
          .filter(col("c") > 1)
          .agg(count(lit(1)).as("dup_groups"),
            coalesce(sum(col("c")), lit(0L)).cast("long").as("dup_rows"))),

    // ---------------------------------------------------------------- A6 (staging stats)
    QueryDef(
      "q_a6_stats", "A6",
      Some("""SELECT count(DISTINCT user_id) AS n_users,
             |count(DISTINCT event_type) AS n_types, count(*) AS n_events,
             |round(100.0 * count(*) FILTER (WHERE event_type = 'purchase') / count(*), 4) AS purchase_pct
             |FROM events""".stripMargin),
      (s, dir) =>
        Tables.events(s, dir)
          .agg(
            countDistinct(col("user_id")).as("n_users"),
            countDistinct(col("event_type")).as("n_types"),
            count(lit(1)).as("n_events"),
            round(lit(100.0) * count(when(col("event_type") === "purchase", 1)) / count(lit(1)), 4)
              .as("purchase_pct"))),

    // ---------------------------------------------------------------- A7 (avg midpoint expression)
    QueryDef(
      "q_a7_avg_midpoint", "A7 F18",
      Some("""SELECT o_orderstatus AS status,
             |round(CAST(sum((CAST(o_totalprice AS DECIMAL(18,2)) + CAST(coalesce(o_custkey, 0) AS DECIMAL(18,2))) / 2) AS DOUBLE) / count(*), 6) AS avg_mid
             |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(round(
            sum((col("o_totalprice").cast(DecimalType(18, 2)) +
              coalesce(col("o_custkey"), lit(0L)).cast(DecimalType(18, 2))) / 2).cast("double")
              / count(lit(1)), 6).as("avg_mid"))
          .orderBy("status")),

    // ---------------------------------------------------------------- W1/S2 (keep-first-per-key dedup)
    QueryDef(
      "q_w1_keep_first", "W1 S2 A8",
      onePerUserOracle("date_trunc('microseconds', ts), event_id"),
      (s, dir) => onePerUser(s, dir, col("ts"), col("event_id"))),

    // ---------------------------------------------------------------- W2 (top-k)
    QueryDef(
      "q_w2_topk", "W2 O1 O2",
      Some("""SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             |strftime(o_orderdate, '%Y-%m-%d') AS order_date
             |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
          .limit(10)),

    // ---------------------------------------------------------------- W3/S5 (last-wins upsert window)
    QueryDef(
      "q_w3_last_wins", "W3 S5",
      onePerUserOracle("date_trunc('microseconds', ts) DESC, event_id DESC"),
      (s, dir) => onePerUser(s, dir, col("ts").desc, col("event_id").desc)),

    // ---------------------------------------------------------------- W4 (as-of / nearest-earlier temporal join)
    QueryDef("q_w4_asof_join", "W4 as-of join", asofPurchasesOracle, asofPurchases(None)),

    // ---------------------------------------------------------------- W4b (salted as-of join, hot-key-safe)
    QueryDef(
      "q_w4b_asof_salted", "W4 as-of join (salted skew form)",
      // same ASOF semantics and the same DuckDB oracle as q_w4 — the
      // salt only changes the SHUFFLE LAYOUT (left rows scatter over
      // 8 sub-keys, right history replicated per sub-key), never the
      // answer. This is the shape that survives one user owning a
      // data center's worth of events: the hot key's merge work
      // spreads over saltBuckets tasks instead of serializing in one.
      asofPurchasesOracle, asofPurchases(Some(8))),

    // ---------------------------------------------------------------- W4c (forward as-of join)
    QueryDef("q_w4c_asof_forward", "W4 as-of join (forward / nearest-later)",
      asofViewsOracle, asofViews),

    // ---------------------------------------------------------------- W4d/W4e (registry names kept)
    // the gate keys results by name, so these stay registered; they run
    // q_w4's and q_w4c's body and oracle
    QueryDef("q_w4d_asof_native", "W4 as-of join (native Catalyst operator)",
      asofPurchasesOracle, asofPurchases(None)),
    QueryDef("q_w4e_asof_native_fwd", "W4 forward as-of (native Catalyst operator)",
      asofViewsOracle, asofViews),

    // ---------------------------------------------------------------- P9 (unpivot / melt)
    QueryDef(
      "q_p9_unpivot", "P1 (wide→long reshape)",
      // melt the orders measure columns into (key, metric, value) rows
      // — Dataset.unpivot plans a single Expand, same shape as rollup,
      // not one scan per metric. Aggregated per metric for a compact
      // oracle.
      Some("""SELECT metric, count(*) AS n,
             |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM (SELECT o_orderkey,
             |        CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             |        CAST(o_custkey AS DOUBLE) AS o_custkey_d
             |      FROM orders)
             |UNPIVOT (value FOR metric IN (o_totalprice, o_custkey_d))
             |GROUP BY metric ORDER BY metric""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .select(col("o_orderkey"),
            col("o_totalprice").cast("double").as("o_totalprice"),
            col("o_custkey").cast("double").as("o_custkey_d"))
          .unpivot(Array(col("o_orderkey")),
            Array(col("o_totalprice"), col("o_custkey_d")), "metric", "value")
          .groupBy("metric")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .orderBy("metric")),

    // ---------------------------------------------------------------- W6 (ntile quartiles)
    QueryDef(
      "q_w6_ntile", "W2 A10 (quantile bucketing)",
      // quartile assignment of orders by totalprice within priority —
      // ntile's deterministic definition (floor arithmetic on a total
      // order) is identical across engines, so bucket populations and
      // sums hash-match exactly. Total order via the orderkey tiebreak.
      Some("""WITH t AS (SELECT o_orderpriority, o_totalprice,
             |  ntile(4) OVER (PARTITION BY o_orderpriority
             |                 ORDER BY o_totalprice, o_orderkey) AS quartile
             |  FROM orders)
             |SELECT o_orderpriority, quartile, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, dir)
          .withColumn("quartile", ntile(4).over(w))
          .groupBy("o_orderpriority", "quartile")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority", "quartile")
      }),

    // ---------------------------------------------------------------- A12 (ROLLUP subtotals)
    QueryDef(
      "q_a12_rollup", "A12 ROLLUP grouping sets",
      // OLAP subtotal lattice: per (priority, status), per priority,
      // and grand total in ONE pass — Spark plans rollup as a single
      // Expand + aggregation, not three scans. Subtotal rows are
      // labeled 'ALL' on both sides (coalesce), which also sidesteps
      // the engines' differing NULL sort positions.
      priorityStatusLatticeOracle("ROLLUP"),
      (s, dir) => priorityStatusLattice(
        Tables.orders(s, dir).rollup(col("o_orderpriority"), col("o_orderstatus")))),

    // ---------------------------------------------------------------- F20 (JSON property extraction)
    QueryDef(
      "q_f20_json_props", "F17 JSON extraction (semi-structured column)",
      // events.props is a JSON string column; extract $.k natively
      // (get_json_object stays in codegen) and aggregate — the
      // semi-structured-column shape every event pipeline has.
      Some("""SELECT event_type, count(*) AS n,
             |CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
             |count(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS n_k,
             |CAST(sum(CASE WHEN props->>'$.k' IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  AS n_missing
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val k = get_json_object(col("props"), "$.k").cast("long")
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(k).as("sum_k"),
            countDistinct(k).as("n_k"),
            sum(when(k.isNull, 1L).otherwise(0L)).as("n_missing"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- A11 (time-range window / moving average)
    QueryDef(
      "q_a11_moving_avg", "A11 range-frame moving aggregate",
      // 7-day moving average of daily revenue per event type — a RANGE
      // frame over day numbers (not ROWS: calendar gaps must widen the
      // frame's reach, not slide it). The window partitions by the
      // series key, the scale-correct shape. Numerator stays DECIMAL
      // until the final divide so both engines divide identical exact
      // operands.
      Some("""WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
             |  sum(CAST(value AS DECIMAL(18,2))) AS rev FROM events GROUP BY 1, 2)
             |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
             |CAST(rev AS DOUBLE) AS rev,
             |round(CAST(sum(rev) OVER w AS DOUBLE) / count(*) OVER w, 6) AS ma7
             |FROM d
             |WINDOW w AS (PARTITION BY event_type
             |  ORDER BY date_diff('day', DATE '1970-01-01', day)
             |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             |ORDER BY event_type, day""".stripMargin),
      (s, dir) => {
        val d = Tables.events(s, dir)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 2))).as("rev"))
          .withColumn("day_num", datediff(col("day"), lit("1970-01-01")).cast("long"))
        val w = Window.partitionBy("event_type").orderBy("day_num").rangeBetween(-6, 0)
        d.withColumn("ma7",
            round((sum(col("rev")).over(w)).cast("double") / count(lit(1)).over(w), 6))
          .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("rev").cast("double").as("rev"), col("ma7"))
          .orderBy("event_type", "day")
      }),

    // ---------------------------------------------------------------- J13 (salted skew join)
    QueryDef(
      "q_j13_salted_join", "J13 salted skew join",
      // the salt changes the SHUFFLE LAYOUT (hot keys fan out over 8
      // buckets, build side replicated per bucket), never the answer:
      // the oracle is the plain join
      Some("""SELECT o_orderstatus, count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      (s, dir) => {
        val li = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
        val o = Tables.orders(s, dir).select(
          col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
        graft.dwh.Skew.saltedJoin(li, o, Seq("l_orderkey"), saltBuckets = 8)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("o_orderstatus")
      }),

    // ---------------------------------------------------------------- A10 (exact grouped quantiles)
    QueryDef(
      "q_a10_group_quantiles", "A10 exact grouped quantiles",
      // exact p50/p90 per group by POSITION arithmetic (rank
      // ceil(q*n) in a totally-ordered window) — engines disagree on
      // built-in quantile definitions (disc/cont, nearest-rank
      // variants), so both sides compute the same explicit order
      // statistic instead. Nothing approximate, nothing driver-side —
      // but note the SCALE CAVEAT: the window partitions by
      // o_orderpriority (5 distinct values), so parallelism collapses
      // to the group count and one task sorts |orders|/5 rows however
      // big the cluster. Exact-small-groups only; q_a10b is the
      // scale-safe twin (two-level distributed histogram selection,
      // operators/GroupedQuantiles) with identical semantics.
      groupQuantilesOracle,
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val wn = Window.partitionBy("o_orderpriority")
        Tables.orders(s, dir)
          .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wn))
          .groupBy("o_orderpriority")
          .agg(
            max(when(col("rn") === ceil(lit(0.5) * col("n")).cast("long"),
              col("o_totalprice"))).as("p50"),
            max(when(col("rn") === ceil(lit(0.9) * col("n")).cast("long"),
              col("o_totalprice"))).as("p90"))
          .orderBy("o_orderpriority")
      }),

    // ---------------------------------------------------------------- A10b (scale-safe exact grouped quantiles)
    QueryDef(
      "q_a10b_quantiles_scalable", "A10 exact grouped quantiles (scale-safe)",
      // same explicit nearest-rank order statistic as q_a10, computed
      // by two-level distributed histogram selection instead of a
      // per-group sort window: no task ever holds more than a bounded
      // slice (histogram buckets, then ~n/B² residual rows), so
      // parallelism does NOT collapse to the 5-value group
      // cardinality. The oracle is deliberately the sort-based
      // formulation — different algorithm, identical answers.
      groupQuantilesOracle,
      (s, dir) =>
        graft.operators.GroupedQuantiles.exactQuantiles(
            Tables.orders(s, dir), "o_orderpriority", "o_totalprice",
            Seq("p50" -> 0.5, "p90" -> 0.9))
          .orderBy("o_orderpriority")),

    // ---------------------------------------------------------------- W5 (grouped top-k)
    QueryDef(
      "q_w5_grouped_topk", "W5 grouped top-k",
      // top 3 spenders per event type by summed value; rank carried in
      // the output, ties broken on user_id so survivors are stable
      groupedTopKOracle,
      (s, dir) => topSpenders(graft.operators.TopK.groupedTopK(userTotals(s, dir),
        Seq("event_type"), Seq(col("total").desc, col("user_id")), 3))),

    // ---------------------------------------------------------------- W5b (grouped top-k, map-combine aggregate form)
    QueryDef(
      "q_w5b_grouped_topk_agg", "W5 grouped top-k (k-capped aggregate)",
      // same answer and oracle as q_w5, different physics: a k-capped
      // TypedImperativeAggregate (functions/TopKByScore) instead of a
      // rank window — at most k rows per key per map partition cross
      // the shuffle and no full-group sort exists, which is the shape
      // that survives a hot key at 100 TB. Top-k under the total order
      // (total desc, user_id) is partition-order independent, so the
      // aggregate form is exactly the window form's answer.
      groupedTopKOracle,
      (s, dir) => topSpenders(graft.operators.TopK.groupedTopKAgg(userTotals(s, dir),
        Seq("event_type"), "total", "user_id", 3))),

    // ---------------------------------------------------------------- J12 (point-in-time / validity-interval join)
    QueryDef("q_j12_point_in_time", "J12 point-in-time lookup",
      pointInTimeOracle, pointInTime),

    // ---------------------------------------------------------------- J12b (registry name kept)
    // kept registered like q_w4d; runs q_j12's body and oracle
    QueryDef("q_j12b_pit_native", "J12 point-in-time lookup (native Catalyst operator)",
      pointInTimeOracle, pointInTime),

    // ---------------------------------------------------------------- O4/S6 (unionByName + anti-append)
    QueryDef(
      "q_o4_anti_append", "O4 S6 S8",
      Some("""WITH b1 AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
             |b2 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
             |appended AS (SELECT * FROM b1 UNION ALL
             |             SELECT * FROM b2 WHERE NOT EXISTS
             |               (SELECT 1 FROM b1 WHERE b1.o_orderkey = b2.o_orderkey))
             |SELECT o_orderstatus AS status, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM appended GROUP BY o_orderstatus ORDER BY status""".stripMargin),
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val b1 = o.filter(col("o_orderkey") % 2 === 0)
        val b2 = o.filter(col("o_orderkey") % 3 === 0)
        val newOnly = b2.join(b1.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        b1.unionByName(newOnly)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("status")
      }),

    // ---------------------------------------------------------------- P7 (unprocessed-only filter / flag rewrite)
    QueryDef(
      "q_p7_unprocessed_flag", "P7",
      Some("""WITH flagged AS (
             |  SELECT event_type,
             |         CASE WHEN event_id % 3 = 0 THEN TRUE
             |              WHEN event_id % 3 = 1 THEN FALSE
             |              ELSE CAST(NULL AS BOOLEAN) END AS processed
             |  FROM events)
             |SELECT event_type, count(*) AS n_unprocessed FROM flagged
             |WHERE processed IS NULL OR processed = FALSE
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) =>
        // processed_to_dwh marking (ref dags/etl_pipeline.py:109-144): rows
        // are eligible when the flag is NULL or false
        Tables.events(s, dir)
          .withColumn("processed",
            when(col("event_id") % 3 === 0, lit(true))
              .when(col("event_id") % 3 === 1, lit(false))
              .otherwise(lit(null).cast("boolean")))
          .filter(col("processed").isNull || !col("processed"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_unprocessed"))
          .orderBy("event_type")),

    // ---------------------------------------------------------------- A9 (distinct partition values)
    QueryDef(
      "q_a9_distinct_months", "A9 O3",
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS load_month FROM orders
             |GROUP BY 1 ORDER BY load_month""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("load_month"))
          .distinct()
          .orderBy("load_month")),

    // ---------------------------------------------------------------- A13 (pivot long→wide)
    QueryDef(
      "q_a13_pivot", "A1 P1 (pivot / wide reshape)",
      // daily revenue matrix: one row per day, one column per event
      // type. The pivot values are DECLARED (not discovered): omitting
      // them costs an extra distinct pass over the fact — at 100 TB
      // that is a full scan spent learning five strings. Declared
      // values also fix the output schema, which a pipeline needs
      // anyway. Plans as a single hash aggregate over (day), wide.
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
             |CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
             |CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
             |CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
             |CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS "view"
             |FROM events GROUP BY 1 ORDER BY day""".stripMargin),
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(dsum(col("value")))
          .orderBy("day")),

    // ---------------------------------------------------------------- A14 (CUBE lattice)
    QueryDef(
      "q_a14_cube", "A12 CUBE grouping sets",
      // the full 2^2 grouping-set lattice (rollup's q_a12 is the
      // hierarchical 3-set subset): per (priority, status), per
      // priority, per status, grand total — ONE Expand + aggregation,
      // not four scans. 'ALL' labeling as in q_a12.
      priorityStatusLatticeOracle("CUBE"),
      (s, dir) => priorityStatusLattice(
        Tables.orders(s, dir).cube(col("o_orderpriority"), col("o_orderstatus")))),

    // ---------------------------------------------------------------- A15 (batch sessionization)
    QueryDef(
      "q_a15_sessionize", "A15 batch sessionization (gaps-and-islands)",
      // 30-minute-gap sessions per user over the event stream, batch
      // form (streaming twin: q_st3's session_window). One shuffle on
      // user_id; lag + running sum share one Sort (see operators/
      // Sessionize). Gap compares date_diff('second') on both sides —
      // exact integer second-boundary counts, no double epochs.
      Some("""WITH g AS (SELECT user_id, ts,
             |  CASE WHEN date_diff('second',
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
             |    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |  THEN 1 ELSE 0 END AS new_s,
             |  event_id
             |  FROM events),
             |s AS (SELECT user_id, ts,
             |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
             |  FROM g),
             |per AS (SELECT user_id, session_seq, count(*) AS n_events,
             |  date_diff('second', min(ts), max(ts)) AS dur_sec
             |  FROM s GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_sessions,
             |CAST(max(n_events) AS BIGINT) AS max_session_events,
             |round(CAST(sum(dur_sec) AS DOUBLE) / count(*), 6) AS avg_session_sec
             |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin),
      (s, dir) => {
        val sess = graft.operators.Sessionize.sessionize(
          Tables.events(s, dir).select("user_id", "ts", "event_id"),
          Seq("user_id"), "ts", gapSec = 1800, tiebreak = Seq(col("event_id")))
        sess
          .groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("n_events"),
            (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("dur_sec"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            max(col("n_events")).as("max_session_events"),
            round(sum(col("dur_sec")).cast("double") / count(lit(1)), 6)
              .as("avg_session_sec"))
          .orderBy("user_id")
      }),

    // ---------------------------------------------------------------- A16 (funnel analysis)
    QueryDef(
      "q_a16_funnel", "A16 ordered funnel conversion",
      // strict-sequence funnel signup → view → purchase: each stage
      // only counts events strictly after the user's previous-stage
      // time. Three key-partitioned aggregations (stage k needs stage
      // k-1's per-user time — a genuine barrier), each one shuffle on
      // user_id; no window over raw events, no per-user arrays.
      Some("""WITH s1 AS (SELECT user_id,
             |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
             |  FROM events GROUP BY 1),
             |s2 AS (SELECT e.user_id, max(s1.t1) AS t1,
             |    min(CASE WHEN e.event_type = 'view' AND e.ts > s1.t1 THEN e.ts END) AS t2
             |  FROM events e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id),
             |s3 AS (SELECT e.user_id, max(s2.t1) AS t1, max(s2.t2) AS t2,
             |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
             |  FROM events e JOIN s2 ON e.user_id = s2.user_id GROUP BY e.user_id)
             |SELECT count(*) AS n_users, count(t1) AS n_signup,
             |count(t2) AS n_view_after, count(t3) AS n_purchase_after,
             |round(CAST(count(t2) AS DOUBLE) / count(t1), 6) AS view_rate,
             |round(CAST(count(t3) AS DOUBLE) / count(t2), 6) AS purchase_rate
             |FROM s3""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
        val s1 = ev.groupBy("user_id")
          .agg(min(when(col("event_type") === "signup", col("ts"))).as("t1"))
        val s2 = ev.join(s1, "user_id").groupBy("user_id")
          .agg(max(col("t1")).as("t1"),
            min(when(col("event_type") === "view" && col("ts") > col("t1"), col("ts")))
              .as("t2"))
        val s3 = ev.join(s2, "user_id").groupBy("user_id")
          .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
            min(when(col("event_type") === "purchase" && col("ts") > col("t2"), col("ts")))
              .as("t3"))
        s3.agg(
          count(lit(1)).as("n_users"), count(col("t1")).as("n_signup"),
          count(col("t2")).as("n_view_after"), count(col("t3")).as("n_purchase_after"),
          round(count(col("t2")).cast("double") / count(col("t1")), 6).as("view_rate"),
          round(count(col("t3")).cast("double") / count(col("t2")), 6).as("purchase_rate"))
      }),

    // ---------------------------------------------------------------- A17 (cohort retention)
    QueryDef(
      "q_a17_retention", "A17 cohort retention matrix",
      // customers cohorted by first-order month; how many are still
      // ordering k months later. Month offsets are integer arithmetic
      // on (year*12+month) — engines disagree on fractional
      // months_between, integers they agree on. Two shuffles: first-
      // order agg, then the (cohort, offset) count-distinct.
      Some("""WITH f AS (SELECT o_custkey, min(o_orderdate) AS first_ts
             |  FROM orders GROUP BY 1),
             |a AS (SELECT o.o_custkey,
             |    strftime(f.first_ts, '%Y-%m') AS cohort,
             |    (year(o.o_orderdate) * 12 + month(o.o_orderdate))
             |      - (year(f.first_ts) * 12 + month(f.first_ts)) AS month_offset
             |  FROM orders o JOIN f ON o.o_custkey = f.o_custkey)
             |SELECT cohort, CAST(month_offset AS BIGINT) AS month_offset,
             |count(DISTINCT o_custkey) AS n_customers
             |FROM a GROUP BY 1, 2 ORDER BY cohort, month_offset""".stripMargin),
      (s, dir) => {
        val o = Tables.orders(s, dir).select("o_custkey", "o_orderdate")
        val f = o.groupBy("o_custkey").agg(min(col("o_orderdate")).as("first_ts"))
        o.join(f, "o_custkey")
          .select(col("o_custkey"),
            date_format(col("first_ts"), "yyyy-MM").as("cohort"),
            ((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              - (year(col("first_ts")) * 12 + month(col("first_ts")))).cast("long")
              .as("month_offset"))
          .groupBy("cohort", "month_offset")
          .agg(countDistinct(col("o_custkey")).as("n_customers"))
          .orderBy("cohort", "month_offset")
      }),

    // ---------------------------------------------------------------- A18 (z-score anomaly flags)
    QueryDef(
      "q_a18_zscore", "A18 z-score anomaly detection",
      // flag days whose revenue is ≥2σ from the event type's mean.
      // All moments come from EXACT integer cents (bigint sums of a
      // DECIMAL(18,2) day revenue); only the final mean/var/z are
      // double, computed with the IDENTICAL expression tree on both
      // sides so IEEE arithmetic agrees bit-for-bit, then rounded.
      // Sample variance via (ss/n − mean²)·n/(n−1) keeps every
      // intermediate inside double range (a raw s² of cents would not).
      Some("""WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT event_type,
             |  CAST(count(*) AS DOUBLE) AS n,
             |  CAST(sum(cents) AS DOUBLE) / count(*) AS mean,
             |  sum(CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE)) / count(*) AS ss_n
             |  FROM d GROUP BY 1)
             |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
             |CAST(CAST(d.cents AS DECIMAL(18,0)) / 100 AS DOUBLE) AS rev,
             |round((CAST(d.cents AS DOUBLE) - m.mean)
             |      / sqrt((m.ss_n - m.mean * m.mean) * m.n / (m.n - 1)), 4) AS z
             |FROM d JOIN m ON d.event_type = m.event_type
             |WHERE abs((CAST(d.cents AS DOUBLE) - m.mean)
             |      / sqrt((m.ss_n - m.mean * m.mean) * m.n / (m.n - 1))) >= 2
             |ORDER BY d.event_type, day""".stripMargin),
      (s, dir) => {
        val d = Tables.events(s, dir)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long").as("cents"))
        val m = d.groupBy("event_type")
          .agg(count(lit(1)).cast("double").as("n"),
            (sum(col("cents")).cast("double") / count(lit(1))).as("mean"),
            (sum(col("cents").cast("double") * col("cents").cast("double"))
              / count(lit(1))).as("ss_n"))
        val z = (col("cents").cast("double") - col("mean")) /
          sqrt((col("ss_n") - col("mean") * col("mean")) * col("n") / (col("n") - 1))
        d.join(m, "event_type")
          .filter(abs(z) >= 2)
          .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
            (col("cents").cast(DecimalType(18, 0)) / 100).cast("double").as("rev"),
            round(z, 4).as("z"))
          .orderBy("event_type", "day")
      }),

    // ---------------------------------------------------------------- A19 (calendar gap-fill + forward fill)
    QueryDef(
      "q_a19_gapfill", "A19 time-series resample / forward fill",
      // resample a SPARSE per-type daily series (every 97th event, so
      // most calendar days are gaps) onto the full min..max day spine
      // and forward-fill. The spine is sequence()+explode per type —
      // generated, never shuffled; the fill is last(ignoreNulls) over
      // one key-partitioned sort. At 100 TB the spine side is ~types ×
      // days rows — trivial next to the fact, and the single window
      // runs per key, not globally.
      Some("""WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
             |  FROM events WHERE event_id % 97 = 0 GROUP BY 1, 2),
             |spine AS (SELECT event_type,
             |  unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
             |  FROM d GROUP BY event_type),
             |j AS (SELECT s.event_type, CAST(s.day AS DATE) AS day, d.rev FROM spine s
             |      LEFT JOIN d ON s.event_type = d.event_type AND CAST(s.day AS DATE) = d.day)
             |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
             |CASE WHEN rev IS NULL THEN 1 ELSE 0 END AS filled,
             |last_value(rev IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_ffill
             |FROM j ORDER BY event_type, day""".stripMargin),
      (s, dir) => {
        val d = Tables.events(s, dir)
          .filter(col("event_id") % 97 === 0)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(dsum(col("value")).as("rev"))
        val spine = d.groupBy("event_type")
          .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
          .select(col("event_type"),
            explode(sequence(col("mn"), col("mx"), expr("interval 1 day"))).as("day"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        spine.join(d, Seq("event_type", "day"), "left")
          .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
            when(col("rev").isNull, 1).otherwise(0).as("filled"),
            last(col("rev"), ignoreNulls = true).over(w).as("rev_ffill"))
          .orderBy("event_type", "day")
      }),

    // ---------------------------------------------------------------- A20 (event-sequence transition matrix)
    QueryDef(
      "q_a20_transitions", "A20 sequence transition matrix (Markov bigrams)",
      // what follows what: per-user consecutive event-type pairs
      // (lead over one key-partitioned sort — the sessionize shape),
      // then the global from→to counts and the per-from-state
      // probability. The fact sorts once per user; the matrix is
      // |types|² rows.
      Some("""WITH nxt AS (SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      AS to_type
             |  FROM events),
             |m AS (SELECT from_type, to_type, count(*) AS n FROM nxt
             |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS p
             |FROM m ORDER BY from_type, to_type""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val wSum = Window.partitionBy("from_type")
        Tables.events(s, dir)
          .select(col("event_type").as("from_type"),
            lead(col("event_type"), 1).over(w).as("to_type"))
          .filter(col("to_type").isNotNull)
          .groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("p", round(col("n").cast("double") / sum(col("n")).over(wSum), 6))
          .orderBy("from_type", "to_type")
      }),

    // ---------------------------------------------------------------- O5 (INTERSECT / EXCEPT)
    QueryDef(
      "q_o5_intersect_except", "O5 set intersection / difference",
      // the two set operators q_o4's union/anti family doesn't cover.
      // Both plan as key-shuffled semi/anti joins over distinct rows —
      // no materialized intermediate sets.
      Some("""SELECT 'except' AS op, count(*) AS n FROM (
             |  SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
             |  EXCEPT SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
             |UNION ALL
             |SELECT 'intersect' AS op, count(*) AS n FROM (
             |  SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
             |  INTERSECT SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
             |ORDER BY op""".stripMargin),
      (s, dir) => {
        val o = Tables.orders(s, dir).select("o_orderkey")
        val evens = o.filter(col("o_orderkey") % 2 === 0)
        val thirds = o.filter(col("o_orderkey") % 3 === 0)
        evens.except(thirds).agg(count(lit(1)).as("n"))
          .select(lit("except").as("op"), col("n"))
          .unionByName(
            evens.intersect(thirds).agg(count(lit(1)).as("n"))
              .select(lit("intersect").as("op"), col("n")))
          .orderBy("op")
      }),

    // ---------------------------------------------------------------- A21 (exact Pearson correlation)
    QueryDef(
      "q_a21_corr", "A21 correlation (exact-moment Pearson)",
      // does order value correlate with line count? All five moments
      // are EXACT int64 sums (price in cents; products bounded well
      // inside int64 at any SF that fits a bigint row count); r is
      // then one double expression evaluated identically on both
      // engines. The built-in corr() is the one-pass double version —
      // fine in production, not replayable bit-for-bit across engines.
      Some("""WITH per AS (SELECT o_orderkey,
             |    CAST(any_value(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS x,
             |    count(l_orderkey) AS y
             |  FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
             |  GROUP BY o_orderkey),
             |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |    sum(x * y) AS sxy,
             |    CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS DOUBLE)
             |      AS sxx,
             |    sum(y * y) AS syy
             |  FROM per)
             |SELECT n,
             |round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |  / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             |         * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r
             |FROM m""".stripMargin),
      (s, dir) => {
        val per = Tables.orders(s, dir)
          .join(Tables.lineitem(s, dir).select(col("l_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left")
          .groupBy("o_orderkey")
          .agg(
            first((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"))
              .as("x"),
            count(col("l_orderkey")).as("y"))
        // x² would overflow int64 summed at scale; an exact DECIMAL sum
        // is order-independent where a double sum is partition-order luck
        val m = per.agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x").cast(DecimalType(18, 0)) * col("x").cast(DecimalType(18, 0)))
            .cast("double").as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        m.select(col("n"),
          round((col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
            / sqrt((col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx"))
              * (col("n").cast("double") * col("syy") - col("sy").cast("double") * col("sy"))),
            6).as("r"))
      }),

    // ---------------------------------------------------------------- A22 (fixed-width histogram)
    QueryDef(
      "q_a22_histogram", "A22 histogram binning",
      // 25k-wide value bins of order totals with share-of-total — one
      // hash aggregate on the bin id (floor arithmetic, codegen'd);
      // the global count rides a 1-row broadcast, not a second scan.
      Some("""WITH b AS (SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bin,
             |    count(*) AS n
             |  FROM orders GROUP BY 1),
             |t AS (SELECT sum(n) AS total FROM b)
             |SELECT bin * 25000 AS bin_lo, (bin + 1) * 25000 AS bin_hi, n,
             |round(CAST(n AS DOUBLE) / total, 6) AS share
             |FROM b CROSS JOIN t ORDER BY bin_lo""".stripMargin),
      (s, dir) => {
        val b = Tables.orders(s, dir)
          .groupBy(floor(col("o_totalprice") / 25000).cast("long").as("bin"))
          .agg(count(lit(1)).as("n"))
        val t = b.agg(sum(col("n")).as("total"))
        b.crossJoin(broadcast(t))
          .select((col("bin") * 25000).as("bin_lo"),
            ((col("bin") + 1) * 25000).as("bin_hi"), col("n"),
            round(col("n").cast("double") / col("total"), 6).as("share"))
          .orderBy("bin_lo")
      }),

    // ---------------------------------------------------------------- A23 (explicit GROUPING SETS + grouping_id)
    QueryDef(
      "q_a23_grouping_sets", "A12 explicit GROUPING SETS",
      // the non-hierarchical lattice rollup/cube can't express: per
      // priority OR per status, but NOT the cross — still one Expand.
      // grouping() disambiguates a real NULL from a subtotal slot
      // (here 'ALL'), the canonical companion function.
      Some("""SELECT CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
             |       ELSE o_orderpriority END AS priority,
             |CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
             |       ELSE o_orderstatus END AS status,
             |count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
             |ORDER BY priority, status""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .groupingSets(
            Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
            col("o_orderpriority"), col("o_orderstatus"))
          // grouping() is only resolvable inside the aggregation itself
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
            grouping(col("o_orderpriority")).as("gp"),
            grouping(col("o_orderstatus")).as("gs"))
          .select(
            when(col("gp") === 1, lit("ALL"))
              .otherwise(col("o_orderpriority")).as("priority"),
            when(col("gs") === 1, lit("ALL"))
              .otherwise(col("o_orderstatus")).as("status"),
            col("n"), col("sum_price"))
          .orderBy("priority", "status")),

    // ---------------------------------------------------------------- W7 (first_value / nth_value)
    QueryDef(
      "q_w7_nth_value", "W2 positional window values",
      // per priority: the highest and 3rd-highest order totals and the
      // earliest order's total — first_value/nth_value over an
      // explicit full-partition frame (the default frame stops at
      // CURRENT ROW and silently yields running values; both engines
      // agree only when the frame is spelled out).
      Some("""WITH w AS (SELECT o_orderpriority, o_totalprice,
             |  first_value(o_totalprice) OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice DESC, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top1,
             |  nth_value(o_totalprice, 3) OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice DESC, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top3,
             |  first_value(o_totalprice) OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS earliest
             |  FROM orders)
             |SELECT o_orderpriority, max(top1) AS top1, max(top3) AS top3,
             |max(earliest) AS earliest
             |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val full = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val byDate = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, dir)
          .withColumn("top1", first(col("o_totalprice")).over(full))
          .withColumn("top3", nth_value(col("o_totalprice"), 3).over(full))
          .withColumn("earliest", first(col("o_totalprice")).over(byDate))
          .groupBy("o_orderpriority")
          .agg(max(col("top1")).as("top1"), max(col("top3")).as("top3"),
            max(col("earliest")).as("earliest"))
          .orderBy("o_orderpriority")
      }),

    // ---------------------------------------------------------------- J15 (banded non-equi broadcast join)
    QueryDef(
      "q_j15_band_join", "J15 band (range-condition) join",
      // classify every lineitem into a quantity band by joining a tiny
      // band DIMENSION on lo <= qty < hi — the non-equi lookup shape
      // (rate tables, SLA tiers, bucket boundaries). The band table
      // broadcasts, so the fact is never shuffled for the join; a
      // range condition against a non-broadcast side would be the
      // quadratic trap.
      Some("""WITH bands(band, lo, hi) AS (VALUES
             |  ('low', 0, 10), ('mid', 10, 40), ('high', 40, 100))
             |SELECT band, count(*) AS n,
             |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
             |GROUP BY band ORDER BY band""".stripMargin),
      (s, dir) => {
        val bands = s.createDataFrame(Seq(
          ("low", 0, 10), ("mid", 10, 40), ("high", 40, 100)))
          .toDF("band", "lo", "hi")
        Tables.lineitem(s, dir).select("l_quantity", "l_extendedprice")
          .join(broadcast(bands),
            col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("band")
      }),

    // ---------------------------------------------------------------- A24 (per-group mode / arg-max)
    QueryDef(
      "q_a24_mode", "A24 grouped mode (arg-max)",
      // dominant order priority per month — the arg-max-by-count
      // pattern (built-in mode() functions have engine-specific tie
      // rules, so both sides rank explicitly: count desc, then value).
      // Two shuffles: the (month, value) count, then the month window.
      Some("""WITH c AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
             |    o_orderpriority AS priority, count(*) AS n
             |  FROM orders GROUP BY 1, 2),
             |r AS (SELECT month, priority, n,
             |    row_number() OVER (PARTITION BY month ORDER BY n DESC, priority) AS rk
             |  FROM c)
             |SELECT month, priority AS mode_priority, n
             |FROM r WHERE rk = 1 ORDER BY month""".stripMargin),
      (s, dir) => {
        val c = Tables.orders(s, dir)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
            col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("month").orderBy(col("n").desc, col("priority"))
        c.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("month"), col("priority").as("mode_priority"), col("n"))
          .orderBy("month")
      }),

    // ---------------------------------------------------------------- A25 (rolling distinct count)
    QueryDef(
      "q_a25_rolling_distinct", "A25 rolling distinct (7-day active users)",
      // trailing-7-day distinct users per day — COUNT(DISTINCT) over a
      // moving frame, which no window engine supports directly. The
      // scale shape: collapse to distinct (user, day) FIRST, then
      // explode each user-day over the ≤7 spine days it covers and
      // count distinct per day — a bounded ×7 equi-join fan-out
      // instead of a range join (quadratic per key) or a per-day
      // re-scan. The oracle is the range-join formulation: different
      // algorithm, same answer.
      Some("""WITH ud AS (SELECT DISTINCT user_id,
             |    CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
             |days AS (SELECT DISTINCT day FROM ud)
             |SELECT strftime(d.day, '%Y-%m-%d') AS day,
             |count(DISTINCT u.user_id) AS n_users
             |FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
             |GROUP BY d.day ORDER BY day""".stripMargin),
      (s, dir) => {
        val ud = Tables.events(s, dir)
          .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
          .distinct()
        val days = ud.select(col("day").as("sday")).distinct()
        ud.select(col("user_id"),
            explode(sequence(col("day"), date_add(col("day"), 6))).as("sday"))
          .join(days, Seq("sday")) // only days that exist in the data
          .groupBy("sday")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .select(date_format(col("sday"), "yyyy-MM-dd").as("day"), col("n_users"))
          .orderBy("day")
      }),

    // ---------------------------------------------------------------- J16 (interval overlap join, grid-blocked)
    QueryDef(
      "q_j16_interval_overlap", "J16 interval overlap join",
      // which purchase windows (2 h after purchase) overlap signup
      // promo windows (3 h after signup) for the same user — a true
      // interval×interval OVERLAP join, not the point-in-interval
      // q_j12 case. Scale shape: explode each interval over the ≤4
      // hour-grid cells it covers and equi-join on (user, cell) —
      // candidate pairs are per-cell local, never the per-user
      // quadratic range join. Cell arithmetic runs in exact
      // MICROseconds of the exclusive end (a second-truncated grid
      // can miss a sub-second overlap tail). Multi-cell matches
      // dedupe on the pair key. The oracle is the direct range join.
      Some("""WITH a AS (SELECT user_id, event_id AS a_id, ts AS a_start,
             |    ts + INTERVAL 2 HOUR AS a_end FROM events WHERE event_type = 'purchase'),
             |b AS (SELECT user_id, event_id AS b_id, ts AS b_start,
             |    ts + INTERVAL 3 HOUR AS b_end FROM events WHERE event_type = 'signup'),
             |p AS (SELECT a.a_id, b.b_id, a.a_start
             |  FROM a JOIN b ON a.user_id = b.user_id
             |    AND a.a_start < b.b_end AND b.b_start < a.a_end)
             |SELECT strftime(date_trunc('day', a_start), '%Y-%m-%d') AS day,
             |count(*) AS n_pairs, count(DISTINCT a_id) AS n_purchases
             |FROM p GROUP BY 1 ORDER BY day""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val cellUs = 3600000000L // 1 h grid in microseconds
        // floor-of-double-division is exact here: remainders are ≥1 µs
        // ≈ 2.8e-10 of a cell, an order above the division's ulp error
        def cells(start: Column, end: Column) = sequence(
          floor(unix_micros(start) / cellUs).cast("long"),
          floor((unix_micros(end) - 1) / cellUs).cast("long"))
        val a = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("a_id"),
            col("ts").as("a_start"), (col("ts") + expr("INTERVAL 2 HOURS")).as("a_end"))
          .withColumn("cell", explode(cells(col("a_start"), col("a_end"))))
        val b = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id").as("b_id"),
            col("ts").as("b_start"), (col("ts") + expr("INTERVAL 3 HOURS")).as("b_end"))
          .withColumn("cell", explode(cells(col("b_start"), col("b_end"))))
        a.join(b, Seq("user_id", "cell"))
          .filter(col("a_start") < col("b_end") && col("b_start") < col("a_end"))
          .select("a_id", "b_id", "a_start").distinct()
          .groupBy(date_format(col("a_start"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n_pairs"), countDistinct(col("a_id")).as("n_purchases"))
          .orderBy("day")
      }),

    // ---------------------------------------------------------------- W8 (percent_rank / cume_dist)
    QueryDef(
      "q_w8_percent_rank", "W8 relative-rank window functions",
      // percent_rank and cume_dist of order totals within priority —
      // ordered by the VALUE alone so tied prices exercise both
      // functions' tie rules ((rank−1)/(n−1) vs rows≤current/n, same
      // definitions in both engines). The window runs over the full
      // partition; only the output rows are sampled (%997) to keep
      // the gate result small.
      Some("""WITH w AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
             |  percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
             |    AS pr,
             |  cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
             |    AS cd
             |  FROM orders)
             |SELECT o_orderkey, o_orderpriority, o_totalprice,
             |round(pr, 9) AS pr, round(cd, 9) AS cd
             |FROM w WHERE o_orderkey % 997 = 0
             |ORDER BY o_orderkey""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
          .withColumn("pr", round(percent_rank().over(w), 9))
          .withColumn("cd", round(cume_dist().over(w), 9))
          .filter(col("o_orderkey") % 997 === 0)
          .orderBy("o_orderkey")
      }),

    // ---------------------------------------------------------------- W9 (as-of with linear interpolation)
    QueryDef(
      "q_w9_interp_asof", "W4 W1 (interpolated as-of lookup)",
      // the time-series upgrade of q_w4's point as-of: each purchase
      // reads the user's `value` SERIES from view events, linearly
      // interpolated between the at-or-before and strictly-after
      // views (flat extrapolation past either end) — the kdb/QuestDB
      // "asof with interpolation" a feature store uses to sample a
      // continuous signal at label timestamps. Execution is the
      // union-marker pattern: views and purchases union into one
      // frame, ONE key-partitioned window pass computes both
      // neighbors (last/first IGNORE NULLS over (ts, kind)) — no
      // self-join, no per-row probe, scales as a single shuffle on
      // user_id. Tie discipline: views dedup to max(value) per
      // (user, ts) and sort BEFORE a same-ts purchase, so prev is
      // at-or-before and next is strictly-after in both engines. The
      // interpolation chain is single IEEE ops on exact-µs integers
      // (< 2^53, exact as doubles); per-day averaging rounds each
      // interpolant to 6dp first and sums as DECIMAL(28,12).
      Some("""WITH v AS (SELECT user_id, ts, max(value) AS v FROM events
             |           WHERE event_type = 'view' GROUP BY 1, 2),
             |p AS (SELECT DISTINCT user_id, ts FROM events
             |      WHERE event_type = 'purchase'),
             |u AS (SELECT user_id, ts, 0 AS kind, v FROM v
             |      UNION ALL SELECT user_id, ts, 1, NULL FROM p),
             |w AS (SELECT *,
             |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, kind
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
             |  last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, kind
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
             |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, kind
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
             |  first_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, kind
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
             |  FROM u),
             |i AS (SELECT user_id, ts,
             |  CASE WHEN t1 IS NULL THEN v0 WHEN v0 IS NULL THEN v1
             |       ELSE v0 + (v1 - v0) *
             |         (CAST(epoch_us(ts) - epoch_us(t0) AS DOUBLE) /
             |          CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE)) END AS interp
             |  FROM w WHERE kind = 1)
             |SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |count(*) AS n_purchases, count(interp) AS n_interp,
             |round(CAST(sum(CAST(round(interp, 6) AS DECIMAL(28,12))) AS DOUBLE)
             |      / count(interp), 6) AS avg_interp
             |FROM i GROUP BY 1 ORDER BY day""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max("value").as("v"))
        val p = ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts").distinct()
        val u = v.select(col("user_id"), col("ts"), lit(0).as("kind"), col("v"))
          .unionByName(p.select(col("user_id"), col("ts"), lit(1).as("kind"),
            lit(null).cast("double").as("v")))
        val back = Window.partitionBy("user_id").orderBy(col("ts"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = Window.partitionBy("user_id").orderBy(col("ts"), col("kind"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val viewTs = when(col("kind") === 0, col("ts"))
        u.withColumn("v0", last(col("v"), ignoreNulls = true).over(back))
          .withColumn("t0", last(viewTs, ignoreNulls = true).over(back))
          .withColumn("v1", first(col("v"), ignoreNulls = true).over(fwd))
          .withColumn("t1", first(viewTs, ignoreNulls = true).over(fwd))
          .filter(col("kind") === 1)
          .withColumn("interp",
            when(col("t1").isNull, col("v0"))
              .when(col("v0").isNull, col("v1"))
              .otherwise(col("v0") + (col("v1") - col("v0")) *
                ((unix_micros(col("ts")) - unix_micros(col("t0"))).cast("double") /
                 (unix_micros(col("t1")) - unix_micros(col("t0"))).cast("double"))))
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n_purchases"), count(col("interp")).as("n_interp"),
            round(sum(round(col("interp"), 6).cast(DecimalType(28, 12)))
              .cast("double") / count(col("interp")), 6).as("avg_interp"))
          .orderBy("day")
      }),

    // ---------------------------------------------------------------- A26 (ordered string aggregation)
    QueryDef(
      "q_a26_listagg", "A26 ordered string aggregation (listagg)",
      // the distinct statuses seen each month, sorted and joined into
      // one string — the listagg/string_agg reshape reports need.
      // Spark has no ordered string_agg; sort_array over the collected
      // set makes the ordering explicit instead of engine-default.
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
             |string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
             |count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY month""".stripMargin),
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(
            array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
            count(lit(1)).as("n"))
          .orderBy("month")),

    // ---------------------------------------------------------------- A27 (Spearman rank correlation, exact)
    QueryDef(
      "q_a27_spearman", "A27 Spearman rank correlation",
      // rank correlation between order value and line count — the
      // robust (monotonic, outlier-insensitive) twin of q_a21's
      // Pearson. Tied values take the classical average rank; since
      // average ranks are exact halves, DOUBLED ranks are exact
      // integers, so every moment is an exact sum (DECIMAL where x²
      // could overflow int64) and r is one identical double
      // expression on both engines. Two rank windows over a total
      // order + the same moment aggregate as q_a21
      // (Ranks.spearmanRho). SCALE CAVEAT: global ranking serializes
      // like q_a10's windows — the scale-safe twin q_a27b computes
      // ranks from per-value counts and a running sum over the
      // distinct values (operators/Ranks) instead.
      spearmanOracle,
      (s, dir) => {
        val wx = Window.orderBy(col("xv"), col("o_orderkey"))
        val wy = Window.orderBy(col("yv"), col("o_orderkey"))
        val rk = spearmanPerOrder(s, dir)
          .withColumn("rnx", row_number().over(wx))
          .withColumn("rny", row_number().over(wy))
          .select(
            (min(col("rnx")).over(Window.partitionBy("xv"))
              + max(col("rnx")).over(Window.partitionBy("xv"))).cast("long").as("x2"),
            (min(col("rny")).over(Window.partitionBy("yv"))
              + max(col("rny")).over(Window.partitionBy("yv"))).cast("long").as("y2"))
        graft.operators.Ranks.spearmanRho(rk)
      }),

    // ---------------------------------------------------------------- A27b (scale-safe Spearman: ranks without row windows)
    QueryDef(
      "q_a27b_spearman_scalable", "A27 Spearman (histogram ranks, scale-safe)",
      // q_a27's answer without its global row-level rank windows: an
      // AVERAGE rank depends only on (# rows below the value, tie
      // count), so ranks come from per-value counts + a running sum
      // over the distinct-VALUE table (operators/Ranks) — no task ever
      // sorts the frame. The oracle is deliberately q_a27's
      // row_number formulation: different algorithm, identical rho.
      spearmanOracle,
      (s, dir) => {
        val x2 = graft.operators.Ranks.doubledAvgRank(spearmanPerOrder(s, dir), "xv", "x2")
        graft.operators.Ranks.spearmanRho(graft.operators.Ranks.doubledAvgRank(x2, "yv", "y2"))
      }),

    // ---------------------------------------------------------------- A29 (link analysis: PageRank, unrolled)
    QueryDef(
      "q_a29_pagerank", "A29 link analysis (PageRank)",
      // two Lloyd-style UNROLLED PageRank iterations (d=0.85) over the
      // strong-tie co-purchase graph (≥3 shared props.k — the same
      // density lever as q_a30: uniform purchase data makes the
      // share-anything graph near-complete, and a near-complete
      // graph's edge list is Σ n_k² pairs; at real scale you also cap
      // per-key fanout before pairing). Each iteration's neighbor sum
      // is the rounded-DECIMAL contribution pattern (q_l32/q_l36
      // rule) so the reduction order cannot leak, and each
      // iteration's pr is re-rounded to 12dp so both engines iterate
      // on identical operands — the kmeans replay discipline (q_l26)
      // applied to graph propagation. Symmetric edges ⇒ no dangling
      // nodes. The iteration is two key-partitioned join+agg rounds —
      // the Pregel-free shape that scales as ordinary shuffles.
      Some(s"""WITH p AS (SELECT DISTINCT user_id AS u,
             |    CAST(props->>'$$.k' AS BIGINT) AS k
             |  FROM events WHERE event_type = 'purchase'),
             |e AS (SELECT a.u AS src, b.u AS dst
             |      FROM p a JOIN p b ON a.k = b.k AND a.u <> b.u
             |      GROUP BY 1, 2 HAVING count(*) >= 3),
             |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
             |${CoPurchaseGraph.pageRankOracleTail}""".stripMargin),
      // salted skew-parallel edge build (see CoPurchaseGraph)
      (s, dir) =>
        CoPurchaseGraph.twoStepPageRank(CoPurchaseGraph.strongTieEdges(s, dir, minShared = 3))),

    // ---------------------------------------------------------------- A29b (PageRank over the CONTRIBUTION-CAPPED graph)
    QueryDef(
      "q_a29b_pagerank_capped", "A29 link analysis (degree-capped edge build)",
      // q_a29's documented 100× mitigation, as a first-class parallel
      // variant: the exact strong-tie build is Σ n_k² pairs — data-
      // intrinsic quadratic growth (13–35× walls on 10× rows in the
      // sf1.0 sweep) that salting parallelizes but cannot shrink. The
      // standard industrial lever caps each k-group's CONTRIBUTION to
      // the 16 users with the smallest deterministic pseudo-random
      // tiebreak (Knuth scramble (u·2654435761) mod 2³² — replayable
      // in ANSI SQL, bijective below 2³², so the cap keeps a
      // consistent user sample rather than systematically low ids),
      // bounding pair volume at |k|·cap² REGARDLESS of corpus size.
      // Spark computes the cap as a salted two-phase top-k (no task
      // ever sees a whole hot k-group); the oracle replays the
      // identical cap with one row_number window, so a tiebreak or
      // phase-equivalence bug is a hash mismatch, not lost rows. Same
      // two unrolled rounded-DECIMAL PageRank iterations as q_a29 —
      // the wall delta between the two queries IS the cap's value.
      Some(s"""${CoPurchaseGraph.cappedEdgesOracleCtes("e", minShared = 3)},
             |d AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
             |${CoPurchaseGraph.pageRankOracleTail}""".stripMargin),
      (s, dir) => CoPurchaseGraph.twoStepPageRank(
        CoPurchaseGraph.strongTieEdgesCapped(s, dir, minShared = 3, cap = 16))),

    // ---------------------------------------------------------------- A44 (label-propagation communities)
    QueryDef(
      "q_a44_label_propagation", "A44 community detection (LPA)",
      // SYNCHRONOUS label propagation (Raghavan et al. 2007) on the
      // ≥5-shared-keys strong-tie graph: start every node at its own
      // id, then 3 unrolled rounds of "adopt the most frequent
      // neighbor label, ties to the smallest" — sync updates + the
      // deterministic tie rule make LPA (normally run async with
      // random order) exactly replayable. Each round is one
      // key-partitioned join+count and a per-node argmax window over
      // that node's DISTINCT neighbor labels (bounded by degree —
      // partitions number in the node count, never collapsing to the
      // community count). Output pins every assignment via id_sum.
      Some("""WITH p AS (SELECT DISTINCT user_id AS u,
             |    CAST(props->>'$.k' AS BIGINT) AS k
             |  FROM events WHERE event_type = 'purchase'),
             |e AS (SELECT a.u AS src, b.u AS dst
             |      FROM p a JOIN p b ON a.k = b.k AND a.u <> b.u
             |      GROUP BY 1, 2 HAVING count(*) >= 5),
             |l0 AS (SELECT DISTINCT src AS u, src AS lbl FROM e),
             |c1 AS (SELECT e.dst AS u, l.lbl, count(*) AS c
             |  FROM e JOIN l0 l ON l.u = e.src GROUP BY 1, 2),
             |l1 AS (SELECT u, lbl FROM (SELECT u, lbl,
             |    row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
             |  FROM c1) WHERE rn = 1),
             |c2 AS (SELECT e.dst AS u, l.lbl, count(*) AS c
             |  FROM e JOIN l1 l ON l.u = e.src GROUP BY 1, 2),
             |l2 AS (SELECT u, lbl FROM (SELECT u, lbl,
             |    row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
             |  FROM c2) WHERE rn = 1),
             |c3 AS (SELECT e.dst AS u, l.lbl, count(*) AS c
             |  FROM e JOIN l2 l ON l.u = e.src GROUP BY 1, 2),
             |l3 AS (SELECT u, lbl FROM (SELECT u, lbl,
             |    row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
             |  FROM c3) WHERE rn = 1)
             |SELECT lbl AS community, count(*) AS n_members,
             |  CAST(sum(u) AS BIGINT) AS id_sum
             |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        // salted skew-parallel edge build (see CoPurchaseGraph)
        val e = CoPurchaseGraph.strongTieEdges(s, dir, minShared = 5)
        val w = Window.partitionBy("u").orderBy(col("c").desc, col("lbl"))
        def propagate(l: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          e.join(l.select(col("u").as("src"), col("lbl")), Seq("src"))
            .groupBy(col("dst").as("u"), col("lbl"))
            .agg(count(lit(1)).as("c"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select("u", "lbl")
        val l0 = e.select(col("src").as("u"), col("src").as("lbl")).distinct()
        val l3 = propagate(propagate(propagate(l0)))
        l3.groupBy(col("lbl").as("community"))
          .agg(count(lit(1)).as("n_members"), sum(col("u")).as("id_sum"))
          .orderBy("community")
      }),

    // ---------------------------------------------------------------- A30 (triangle count / clustering coefficient)
    QueryDef(
      "q_a30_triangles", "A30 triangle counting",
      // triangles and the global clustering coefficient of the
      // STRONG-TIE co-purchase graph: an edge needs ≥5 shared props.k
      // values. The threshold is the scale lever — a share-anything
      // graph over uniform purchase data is near-complete, and a
      // triangle count's wedge join is Σ deg² (measured: 22 s at sf0.1
      // on the dense graph vs sub-second sparsified; density, not row
      // count, is the cost). Each triangle counts ONCE as (a<b<c) —
      // two equi-joins, no per-node adjacency materialization. At
      // scale the further refinement orients by DEGREE (low→high) so
      // hub nodes never anchor the wedge join.
      Some(s"""WITH p AS (SELECT DISTINCT user_id AS u,
             |    CAST(props->>'$$.k' AS BIGINT) AS k
             |  FROM events WHERE event_type = 'purchase'),
             |und AS (SELECT a.u AS src, b.u AS dst
             |        FROM p a JOIN p b ON a.k = b.k AND a.u <> b.u
             |        GROUP BY 1, 2 HAVING count(*) >= 5),
             |deg AS (SELECT src AS u, count(*) AS d FROM und GROUP BY 1),
             |o AS (SELECT src, dst FROM und WHERE src < dst),
             |${CoPurchaseGraph.triangleOracleTail}""".stripMargin),
      // salted skew-parallel edge build (see CoPurchaseGraph)
      (s, dir) =>
        CoPurchaseGraph.triangleStats(CoPurchaseGraph.strongTieEdges(s, dir, minShared = 5))),

    // ---------------------------------------------------------------- A30b (triangles over the CONTRIBUTION-CAPPED graph)
    QueryDef(
      "q_a30b_triangles_capped", "A30 triangle counting (degree-capped edge build)",
      // the mitigated twin of q_a30, added the round the sf3 probe
      // KILLED the exact form: the exact quadratic edge list's wedge
      // join spilled past the sandbox's free disk at sf3 ("no space
      // left on device" after 14k cpuSec of healthy parallel work) —
      // spill BYTES, not CPU, are the exact build's first hard wall.
      // Same per-key contribution cap as q_a29b (16 users per k by
      // the ANSI-replayable Knuth scramble, salted two-phase top-k),
      // bounding edges at |k|·cap² and wedges at (2·cap·|k|)² per
      // node worst-case — then the identical once-per-triangle
      // (a<b<c) two-join count and clustering coefficient. The
      // oracle replays cap, threshold, and count exactly.
      Some(s"""${CoPurchaseGraph.cappedEdgesOracleCtes("und", minShared = 5)},
             |deg AS (SELECT src AS u, count(*) AS d FROM und GROUP BY 1),
             |o AS MATERIALIZED (SELECT src, dst FROM und WHERE src < dst),
             |${CoPurchaseGraph.triangleOracleTail}""".stripMargin),
      (s, dir) => CoPurchaseGraph.triangleStats(
        CoPurchaseGraph.strongTieEdgesCapped(s, dir, minShared = 5, cap = 16))),

    // ---------------------------------------------------------------- A28 (categorical set overlap / Jaccard matrix)
    QueryDef(
      "q_a28_set_overlap", "A28 audience overlap (set Jaccard)",
      // pairwise user-audience overlap between event types:
      // |A∩B|/|A∪B| from distinct (type, user) pairs self-joined on
      // user — the audience-overlap matrix. Intersections come from
      // one equi-join on user; union sizes by inclusion-exclusion, no
      // set ever materializes.
      Some("""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
             |sz AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
             |ix AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    count(*) AS n_both
             |  FROM tu a JOIN tu b ON a.user_id = b.user_id
             |    AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT type_a, type_b, n_both,
             |round(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 6) AS jaccard
             |FROM ix JOIN sz sa ON sa.event_type = type_a
             |        JOIN sz sb ON sb.event_type = type_b
             |ORDER BY type_a, type_b""".stripMargin),
      (s, dir) => {
        val tu = Tables.events(s, dir).select("event_type", "user_id").distinct()
        val sz = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
        val a = tu.select(col("event_type").as("type_a"), col("user_id"))
        val b = tu.select(col("event_type").as("type_b"), col("user_id"))
        a.join(b, Seq("user_id"))
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(count(lit(1)).as("n_both"))
          .join(broadcast(sz.select(col("event_type").as("type_a"), col("n").as("na"))),
            Seq("type_a"))
          .join(broadcast(sz.select(col("event_type").as("type_b"), col("n").as("nb"))),
            Seq("type_b"))
          .select(col("type_a"), col("type_b"), col("n_both"),
            round(col("n_both").cast("double") / (col("na") + col("nb") - col("n_both")), 6)
              .as("jaccard"))
          .orderBy("type_a", "type_b")
      }),

    // ---------------------------------------------------------------- J14 (Bloom-filter pre-filtered semi-join)
    QueryDef(
      "q_j14_bloom_join", "J14 Bloom-filter semi-join",
      // orders of BUILDING-segment customers via an executor-built
      // Bloom bitmap (operators/BloomJoin) + exact semi-join cleanup.
      // No false negatives ⇒ the answer IS the plain semi-join, which
      // is what the oracle runs.
      Some("""SELECT o_orderpriority AS priority, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_custkey IN
             |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
             |GROUP BY 1 ORDER BY priority""".stripMargin),
      (s, dir) => {
        val dim = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        graft.operators.BloomJoin.semiJoin(
            Tables.orders(s, dir), "o_custkey", dim, "c_custkey")
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("priority")
      }),

    // ---------------------------------------------------------------- A51 (multi-touch attribution)
    QueryDef(
      "q_a51_attribution", "A51 position-weighted multi-touch attribution",
      // U-shaped (position-based) marketing attribution: every
      // click/view/signup touch is attributed to the user's NEXT
      // purchase (strictly later — an as-of association computed as a
      // per-user min-over-later-conversions, one shuffle on user_id);
      // within each (user, conversion) journey the first and last
      // touch earn 0.4 each and the middles split 0.2 evenly
      // (n=1 → 1.0, n=2 → 0.5/0.5 — the standard renormalizations).
      // Weights are materialized as DECIMAL(9,6) BEFORE the per-channel
      // sum, so the aggregate is exact and order-independent in both
      // engines (the repo's decimal-sum convention; 0.2/(n-2) is first
      // a double division — bit-identical IEEE in both — then a
      // round(6) whose inputs never sit on a tie boundary because
      // 0.2/k only terminates at k ∈ {2^a·5^b}, where it is exact).
      // Touch order inside a journey is event_id — unique by
      // construction and verified strictly ts-monotone in the
      // generator, so rank/count windows are deterministic.
      // At 100 TB: the conversion association and both windows
      // partition by user_id — per-user work is bounded by events per
      // user (whale users would take the q_j13 salting route), and the
      // final rollup is a tiny per-(channel, n, position) reduction.
      Some("""WITH conv AS (
             |  SELECT user_id, ts AS cts FROM events WHERE event_type = 'purchase'
             |),
             |touch AS (
             |  SELECT t.user_id, t.event_id, t.event_type AS channel, min(c.cts) AS cts
             |  FROM events t JOIN conv c ON t.user_id = c.user_id AND c.cts > t.ts
             |  WHERE t.event_type IN ('click','view','signup')
             |  GROUP BY t.user_id, t.event_id, t.event_type
             |),
             |ranked AS (
             |  SELECT channel,
             |         row_number() OVER (PARTITION BY user_id, cts ORDER BY event_id) AS rn,
             |         count(*) OVER (PARTITION BY user_id, cts) AS n
             |  FROM touch
             |)
             |SELECT channel, count(*) AS n_touches,
             |CAST(sum(CASE WHEN n = 1 THEN CAST(1.0 AS DECIMAL(9,6))
             |              WHEN n = 2 THEN CAST(0.5 AS DECIMAL(9,6))
             |              WHEN rn = 1 OR rn = n THEN CAST(0.4 AS DECIMAL(9,6))
             |              ELSE CAST(round(CAST(0.2 AS DOUBLE) / (n - 2), 6) AS DECIMAL(9,6))
             |         END) AS DOUBLE) AS credit
             |FROM ranked GROUP BY channel ORDER BY channel""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir).select("user_id", "event_id", "event_type", "ts")
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("cts"))
        val touch = ev
          .filter(col("event_type").isin("click", "view", "signup"))
          .join(conv, Seq("user_id"))
          .filter(col("cts") > col("ts"))
          .groupBy(col("user_id"), col("event_id"), col("event_type").as("channel"))
          .agg(min(col("cts")).as("cts"))
        val journey = Window.partitionBy("user_id", "cts")
        val ranked = touch
          .withColumn("rn", row_number().over(journey.orderBy("event_id")))
          .withColumn("n", count(lit(1)).over(journey))
        val w = when(col("n") === 1, lit(BigDecimal("1.0")).cast(DecimalType(9, 6)))
          .when(col("n") === 2, lit(BigDecimal("0.5")).cast(DecimalType(9, 6)))
          .when(col("rn") === 1 || col("rn") === col("n"),
            lit(BigDecimal("0.4")).cast(DecimalType(9, 6)))
          .otherwise(round(lit(0.2) / (col("n") - 2), 6).cast(DecimalType(9, 6)))
        ranked.groupBy("channel")
          .agg(count(lit(1)).as("n_touches"), sum(w).cast("double").as("credit"))
          .orderBy("channel")
      }),

    // ---------------------------------------------------------------- A52 (OHLC time-bucket downsampling)
    QueryDef(
      "q_a52_ohlc_bars", "A52 OHLC candle downsampling",
      // classic time-series downsampling: per (day, event_type) emit
      // open/high/low/close/count/volume candles. Open/close are
      // min_by/max_by over event_id — a true partial-aggregable
      // aggregate (map-side combine, one shuffle on the tiny candle
      // key), NOT a window over raw events: at 100 TB a
      // (day, series) window partition would serialize millions of
      // rows through one task, while min_by folds them on the map
      // side. event_id is unique and strictly ts-monotone in the
      // generator (verified at every SF), so "earliest value" is
      // exactly min_by(value, event_id) with no tie to break; volume
      // goes through the DECIMAL(18,2) sum convention.
      Some("""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
             |min_by(value, event_id) AS open,
             |max(value) AS high, min(value) AS low,
             |max_by(value, event_id) AS close,
             |count(*) AS n,
             |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
             |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
      (s, dir) => {
        Tables.events(s, dir)
          .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("value"), col("event_id"))
          .groupBy("day", "event_type")
          .agg(
            min_by(col("value"), col("event_id")).as("open"),
            max(col("value")).as("high"), min(col("value")).as("low"),
            max_by(col("value"), col("event_id")).as("close"),
            count(lit(1)).as("n"), dsum(col("value")).as("volume"))
          .orderBy("day", "event_type")
      })
  )
}
