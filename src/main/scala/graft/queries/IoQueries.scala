package graft.queries

import graft.{SparkUtil, Tables}
import graft.functions.TextFns
import graft.io.{Bucketing, ChangeFeed, CowMerge, DeletionVectors, Exports, Snapshots, TableLog}
import graft.streaming.CdcStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** IO / lifecycle queries (SURVEY S-family + streaming): partitioned
  * parquet export→pruned-reload round trip, CDC JSONL sink/replay,
  * snapshot versioning restore, text-file ingest+parse, and a
  * Structured-Streaming windowed aggregation checked against a batch
  * oracle.
  *
  * Side-effecting queries keep their disk state under the one scratch
  * root, `SparkUtil.scratchDir(<query>, <data dir>)` =
  * `<working dir>/target/tmp/<query>/<dataset key>`. State a run must
  * rebuild from nothing (commit logs, checkpoints) takes
  * `SparkUtil.freshDir`, which deletes it first, so Verify re-runs are
  * idempotent; marker-guarded staging persists across runs.
  */
object IoQueries {
  import RelationalQueries.dsum

  /** Per-type event count and exact value sum over events — the
    * closed form of every exactly-once landing of the stream (q_st8's
    * foreachBatch sink, q_st24's restarted aggregation).
    */
  private val eventTypeTotalsOracle = Some(
    """SELECT event_type, count(*) AS n,
      |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** [[eventTypeTotalsOracle]] plus distinct ids: the closed form of a
    * doubled delivery deduped back to exactly-once (q_st2, q_st7).
    */
  private val dedupedEventsOracle = Some(
    """SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_ids,
      |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** q_st2's and q_st7's body: the staged events delivered TWICE
    * (at-least-once redelivery), deduped by `dedup` into the append-
    * mode memory sink `name`, then counted per type.
    */
  private def dedupedEvents(s: SparkSession, dir: String, name: String)(
      dedup: DataFrame => DataFrame): DataFrame = {
    val watch = CdcStream.ensureStaged(s, dir)
    val doubled = CdcStream.readEvents(s, watch)
      .unionByName(CdcStream.readEvents(s, watch))
    CdcStream.runToMemory(s, dedup(doubled), name, mode = "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_ids"),
        dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** The four-version TableLog table of q_s33 and q_s40 over `o` (a
    * projection of orders): v1 and v2 ingest o_orderkey % 3 = 0 and
    * = 1 (4 and 3 files), v3 compacts v1's files into one, v4 ingests
    * % 3 = 2 (3 files). Returns v1's files — the ones v3 removed,
    * still referenced by versions 1-2 until retention.
    */
  private def fourVersionTable(
      s: SparkSession, o: DataFrame, dataDir: String, logDir: String): Seq[String] = {
    val a = TableLog.land(
      o.filter(col("o_orderkey") % 3 === 0).repartition(4, col("o_orderkey")), s"$dataDir/c1")
    require(TableLog.tryClaim(s, logDir, TableLog.Commit(1, "ingest-a", a, Nil)))
    val b = TableLog.land(
      o.filter(col("o_orderkey") % 3 === 1).repartition(3, col("o_orderkey")), s"$dataDir/c2")
    require(TableLog.tryClaim(s, logDir, TableLog.Commit(2, "ingest-b", b, Nil)))
    val compacted = TableLog.land(
      s.read.parquet(a: _*).repartition(1, col("o_orderkey")), s"$dataDir/c3")
    require(TableLog.tryClaim(s, logDir, TableLog.Commit(3, "compact", compacted, a)))
    val c = TableLog.land(
      o.filter(col("o_orderkey") % 3 === 2).repartition(3, col("o_orderkey")), s"$dataDir/c4")
    require(TableLog.tryClaim(s, logDir, TableLog.Commit(4, "ingest-c", c, Nil)))
    a
  }

  /** A TableLog table's live rows per priority: count and exact price
    * sum (q_s33, q_s35, q_s36), answered over orders by
    * [[priorityOracle]] with the rows the commits keep.
    */
  private def liveByPriority(s: SparkSession, commits: Seq[TableLog.Commit]): DataFrame =
    s.read.parquet(TableLog.liveFiles(commits): _*)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("priority")

  private def priorityOracle(where: String): Option[String] = Some(
    s"""SELECT o_orderpriority AS priority, count(*) AS n,
       |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM orders $where
       |GROUP BY priority ORDER BY priority""".stripMargin)

  /** A deletion-vector table's live docs per source: count, id sum and
    * char sum (q_s29, q_st21), answered over documents by
    * [[liveBySourceOracle]] with the rows `alive` keeps.
    */
  private def liveBySource(live: DataFrame): DataFrame =
    live.groupBy("source")
      .agg(count(lit(1)).as("n_live"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("chars_sum"))
      .orderBy("source")

  private def liveBySourceOracle(alive: String): Option[String] = Some(
    s"""SELECT source, count(*) AS n_live,
       |CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |CAST(sum(n_chars) AS BIGINT) AS chars_sum
       |FROM documents WHERE $alive
       |GROUP BY source ORDER BY source""".stripMargin)

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- S10/S11 partition round trip
    QueryDef(
      "q_s10_partition_roundtrip", "S10 S11",
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS load_month, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders WHERE strftime(o_orderdate, '%Y-%m') IN ('1997-03', '1998-11')
             |GROUP BY 1 ORDER BY load_month""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s10_partitions", dir)
        val months = Seq("1997-03", "1998-11")
        val withMonth = Tables.orders(s, dir)
          .withColumn("load_month", date_format(col("o_orderdate"), "yyyy-MM"))
        Snapshots.writePartitioned(withMonth, tmp)
        // read back through the reference's per-partition NAMED VIEWS
        // (partitioning.py:48-80) — each view prunes to its month's
        // directory, and their union is the multi-month reload
        val views = Snapshots.registerPartitionViews(s, "orders_export", tmp, months)
        views.map(s.table).reduce(_ unionByName _)
          .groupBy("load_month")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("load_month")
      }),

    // ---------------------------------------------------------------- S12 denormalized exports + metadata/index JSON
    QueryDef(
      "q_s12_exports", "S12 J5 A9",
      // counts and checksums must round-trip through BOTH the exported
      // parquet (n_rows, checksum re-read from disk) and the metadata
      // JSON (n_meta), plus the index total
      Some("""WITH f AS (SELECT o_orderkey AS k, o_custkey AS ck,
             |                  strftime(o_orderdate, '%Y-%m') AS m,
             |                  CAST(o_orderkey % 20 + 5 AS DOUBLE) AS smin,
             |                  CAST(o_orderkey % 20 + 10 AS DOUBLE) AS smax
             |           FROM orders),
             |fm AS (SELECT * FROM f WHERE m IN ('1995-01', '1995-02')),
             |rws AS (
             |  SELECT m AS load_month, 'analytics' AS export_type, count(*) AS n_rows,
             |         count(*) AS n_meta,
             |         CAST(sum(CAST(smax AS DECIMAL(18,2))) AS DOUBLE) AS checksum
             |  FROM fm GROUP BY m
             |  UNION ALL
             |  SELECT m, 'facts', count(*), count(*),
             |         CAST(sum(CAST(smin AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM fm GROUP BY m
             |  UNION ALL
             |  SELECT m, 'locations', count(*), count(*),
             |         CAST(count(DISTINCT n_name) AS DOUBLE)
             |  FROM fm JOIN customer ON c_custkey = ck
             |          JOIN nation ON n_nationkey = c_nationkey
             |  GROUP BY m)
             |SELECT * FROM (
             |  SELECT * FROM rws
             |  UNION ALL
             |  SELECT '_index', 'total', CAST(sum(n_rows) AS BIGINT),
             |         CAST(sum(n_rows) AS BIGINT), NULL FROM rws)
             |ORDER BY load_month, export_type""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s12_exports", dir)
        val o = Tables.orders(s, dir)
        // mini star with the reference's full fact column set
        val fact = o.select(
          (col("o_orderkey") * 10).as("fact_id"),
          col("o_orderkey").as("job_sk"),
          col("o_custkey").as("company_sk"),
          to_date(col("o_orderdate")).as("date_id"),
          (col("o_orderkey") % 20 + 5).cast("double").as("salary_min"),
          (col("o_orderkey") % 20 + 10).cast("double").as("salary_max"),
          lit("range").as("salary_type"),
          lit(null).cast("timestamp").as("due_date"),
          lit(null).cast("string").as("time_remaining"),
          (col("o_custkey") % 2 === 0).as("verified_employer"),
          lit(null).cast("timestamp").as("posted_time"),
          col("o_orderdate").cast("timestamp").as("crawled_at"),
          date_format(col("o_orderdate"), "yyyy-MM").as("load_month"))
        val dimJob = o.select(col("o_orderkey").as("job_sk"),
          col("o_orderkey").cast("string").as("job_id"),
          col("o_orderpriority").as("title_clean"))
        val c = Tables.customer(s, dir)
        val dimCompany = c.select(col("c_custkey").as("company_sk"),
          col("c_name").as("company_name_standardized"))
        val dimLocation = Tables.nation(s, dir).select(
          col("n_nationkey").as("location_sk"), lit(null).cast("string").as("province"),
          col("n_name").as("city"), lit(null).cast("string").as("district"))
        val bridge = o.join(c, col("o_custkey") === col("c_custkey"))
          .select((col("o_orderkey") * 10).as("fact_id"), col("c_nationkey").as("location_sk"))
        val dimDate = o.select(to_date(col("o_orderdate")).as("date_id")).distinct()
        val dwh = graft.app.Pipeline.Dwh(dimJob, dimCompany, dimLocation, dimDate, fact, bridge)
        val months = Seq("1995-01", "1995-02")
        Exports.exportMonths(dwh, months, tmp, "2026-08-12")
        // re-read everything from disk: data parquet, metadata, index
        // (explicit schemas: declared contract, no inference pass)
        val metaSchema = "load_month STRING, export_time STRING, " +
          "record_counts STRUCT<analytics: BIGINT, facts: BIGINT, locations: BIGINT>, " +
          "files ARRAY<STRING>"
        val meta = s.read.schema(metaSchema).json(s"$tmp/*/metadata_*.json")
          .select(col("load_month"), expr(
            """stack(3, 'analytics', record_counts.analytics,
              |         'facts', record_counts.facts,
              |         'locations', record_counts.locations) AS (export_type, n_meta)""".stripMargin))
        val data = months.flatMap { m =>
          Seq(
            s.read.parquet(s"$tmp/$m/job_analytics_$m.parquet")
              .agg(count(lit(1)).as("n_rows"), dsum(col("salary_max")).as("checksum"))
              .select(lit(m).as("load_month"), lit("analytics").as("export_type"),
                col("n_rows"), col("checksum")),
            s.read.parquet(s"$tmp/$m/job_facts_$m.parquet")
              .agg(count(lit(1)).as("n_rows"), dsum(col("salary_min")).as("checksum"))
              .select(lit(m).as("load_month"), lit("facts").as("export_type"),
                col("n_rows"), col("checksum")),
            s.read.parquet(s"$tmp/$m/job_locations_$m.parquet")
              .agg(count(lit(1)).as("n_rows"),
                countDistinct(col("city")).cast("double").as("checksum"))
              .select(lit(m).as("load_month"), lit("locations").as("export_type"),
                col("n_rows"), col("checksum")))
        }.reduce(_ unionByName _)
        val perType = data.join(meta, Seq("load_month", "export_type"))
          .select("load_month", "export_type", "n_rows", "n_meta", "checksum")
        val indexSchema = "load_months ARRAY<STRING>, export_time STRING, " +
          "export_count BIGINT, total_records BIGINT"
        val index = data.agg(sum(col("n_rows")).as("n_rows"))
          .crossJoin(s.read.schema(indexSchema).json(s"$tmp/index.json")
            .select(col("total_records").as("n_meta")))
          .select(lit("_index").as("load_month"), lit("total").as("export_type"),
            col("n_rows"), col("n_meta"), lit(null).cast("double").as("checksum"))
        perType.unionByName(index).orderBy("load_month", "export_type")
      }),

    // ---------------------------------------------------------------- S13/S14 CDC JSONL sink + replay
    QueryDef(
      "q_s13_cdc_roundtrip", "S13 S14 F17",
      // action-by-existence: the CDC entity is the user (event_ids are
      // unique per event; users recur), the prior warehouse holds
      // users with user_id % 3 <> 0. The reference computes the batch's
      // inserted_ids once and marks EVERY record of a newly-inserted
      // entity `insert` (crawler.py:152-186 is_new is set membership,
      // cdc.py:58-67 logs it), so a new entity's whole batch is
      // `insert`; already-known entities are always `update`.
      Some("""WITH batch AS (SELECT user_id, ts, event_type, value FROM events
             |               WHERE ts >= TIMESTAMP '2024-01-28 00:00:00'),
             |rec AS (SELECT user_id, ts,
             |  CASE WHEN user_id % 3 = 0 THEN 'insert' ELSE 'update' END AS action
             |  FROM batch)
             |SELECT action, count(*) AS n, count(DISTINCT user_id) AS n_jobs,
             |min(strftime(ts, '%Y-%m-%dT%H:%M:%S')) AS min_ts,
             |max(strftime(ts, '%Y-%m-%dT%H:%M:%S')) AS max_ts
             |FROM rec GROUP BY 1 ORDER BY action""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s13_cdc", dir)
        val cutoff = expr("timestamp'2024-01-28 00:00:00'")
        val batch = Tables.events(s, dir).filter(col("ts") >= cutoff)
          .select(col("user_id").as("event_id"), col("ts"), col("event_type"), col("value"))
        val prior = Tables.events(s, dir)
          .filter(col("user_id") % 3 =!= 0)
          .select(col("user_id").as("job_id")).distinct()
        val records = Snapshots.toCdcRecords(batch, prior)
        Snapshots.cdcAppend(records, tmp)
        Snapshots.cdcReplay(s, tmp)
          .groupBy("action")
          .agg(count(lit(1)).as("n"), countDistinct(col("job_id")).as("n_jobs"),
            min(col("timestamp")).as("min_ts"), max(col("timestamp")).as("max_ts"))
          .orderBy("action")
      }),

    // ---------------------------------------------------------------- S15/S7 snapshot versioning + restore
    QueryDef(
      "q_s15_snapshot_restore", "S15 S7 S4",
      Some("""SELECT c_mktsegment AS segment, count(*) AS n,
             |CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
             |FROM customer GROUP BY 1 ORDER BY segment""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s15_snapshots", dir)
        val v1 = Tables.customer(s, dir)
        Snapshots.writeSnapshot(v1, tmp, "1")
        // a "corrupting" v2 write; restore must see v1 untouched
        Snapshots.writeSnapshot(
          v1.withColumn("c_acctbal", col("c_acctbal") * -1), tmp, "2")
        Snapshots.readSnapshot(s, tmp, "1")
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
          .orderBy("segment")
      }),

    // ---------------------------------------------------------------- S16 schema evolution across generations
    QueryDef(
      "q_s16_schema_evolution", "S16 (ALTER TABLE ADD COLUMN IF NOT EXISTS)",
      // gen-1 snapshot lacks processed_to_dwh; gen-2 adds it with
      // per-row values. The merged read must surface gen-1 rows with
      // the ADD COLUMN default (FALSE) and gen-2 rows with their
      // written values — the reference's in-place ALTER TABLE
      // (stored_procedures.sql:111-116, etl_pipeline.py:119-124)
      // without rewriting any old file.
      Some("""WITH gen1 AS (SELECT o_orderkey AS k, o_totalprice AS tp, CAST(NULL AS BOOLEAN) AS p
             |              FROM orders WHERE o_orderkey % 2 = 0),
             |gen2 AS (SELECT o_orderkey, o_totalprice, o_orderkey % 4 = 1
             |         FROM orders WHERE o_orderkey % 2 = 1),
             |merged AS (SELECT k, tp, coalesce(p, FALSE) AS processed
             |           FROM (SELECT * FROM gen1 UNION ALL SELECT * FROM gen2))
             |SELECT processed, count(*) AS n,
             |CAST(sum(CAST(tp AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM merged GROUP BY processed ORDER BY processed""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s16_evolution", dir)
        val o = Tables.orders(s, dir)
        // generation 1: pre-evolution schema
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("tp"))
          .write.parquet(tmp)
        // generation 2: schema widened mid-flight, appended in place
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("tp"),
            (col("o_orderkey") % 4 === 1).as("processed_to_dwh"))
          .write.mode("append").parquet(tmp)
        val merged = Snapshots.withColumnDefault(
          Snapshots.readEvolved(s, tmp), "processed_to_dwh", lit(false))
        merged.groupBy(col("processed_to_dwh").as("processed"))
          .agg(count(lit(1)).as("n"), dsum(col("tp")).as("sum_price"))
          .orderBy("processed")
      }),

    // ---------------------------------------------------------------- S17 bucketed co-located join
    QueryDef(
      "q_s17_bucketed_join", "S17 bucketed co-located join",
      // the bucket layout changes the PLAN (exchange-free SMJ — see
      // PlanSpec), never the ANSWER: the oracle is the plain join
      Some("""SELECT o_orderpriority, count(*) AS n_lines,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, dir) => {
        val (tOrders, tLineitem) = Bucketing.ensureOrdersLineitemBucketed(s, dir)
        val o = s.table(tOrders).select("o_orderkey", "o_orderpriority")
        val l = s.table(tLineitem).select("l_orderkey", "l_quantity")
        // merge hint: the point is the stored-layout SMJ; without it a
        // small-SF broadcast would hide the co-location being tested
        o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("o_orderpriority")
      }),

    // ---------------------------------------------------------------- S18 snapshot diff (what changed between loads)
    QueryDef(
      "q_s18_snapshot_diff", "S15 S13 (version diff feed)",
      // diff two snapshot versions into an added/removed/changed/
      // unchanged action per key (one full-outer key join over
      // null-safe row hashes — no window, no driver state). The
      // 'after' version is derived deterministically from customer
      // (drop %97 keys, change %13 segments, add %50 keys shifted
      // +10M), so the oracle classifies in closed form — by
      // construction, not by replaying the hash.
      Some("""WITH b AS (SELECT c_custkey AS k FROM customer),
             |acts AS (
             |  SELECT k, CASE WHEN k % 97 = 0 THEN 'removed'
             |                 WHEN k % 13 = 0 THEN 'changed'
             |                 ELSE 'unchanged' END AS action FROM b
             |  UNION ALL
             |  SELECT k + 10000000, 'added' FROM b WHERE k % 50 = 0)
             |SELECT action, count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum
             |FROM acts GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val before = Tables.customer(s, dir)
        val k = col("c_custkey")
        val after = before.filter(k % 97 =!= 0)
          .withColumn("c_mktsegment",
            when(k % 13 === 0, lit("CHANGED")).otherwise(col("c_mktsegment")))
          .unionByName(before.filter(k % 50 === 0)
            .withColumn("c_custkey", k + 10000000L))
        Snapshots.snapshotDiff(before, after, Seq("c_custkey"))
          .groupBy("action")
          .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("key_sum"))
          .orderBy("action")
      }),

    // ---------------------------------------------------------------- S1/S2 full 15-field crawl contract
    QueryDef(
      "q_s1_html_ingest", "S1 S2 S4 F11 F12",
      // the crawler's record contract (parser.py:202-218): all 15
      // fields incl. skills tooltip expansion, verified badge, logo,
      // and last_update → posted_time, in the fixed column order
      // (parser.py:458-466); duplicated input deduped by job_id (S2).
      // Salary covers every parser branch incl. the USD card
      // (parser.py:260-300); even keys carry a "+N" skill label whose
      // tooltip holds a comma-separated list the parse must expand to
      // individual skills (parser.py:303-320).
      Some("""SELECT CAST(p_partkey AS VARCHAR) AS job_id, p_name AS title,
             |  'https://www.topcv.vn/viec-lam-' || p_partkey || '.html' AS job_url,
             |  p_brand AS company_name,
             |  'https://co/' || p_brand AS company_url,
             |  CASE WHEN p_partkey % 4 = 0
             |         THEN (p_partkey % 15 + 5) || ' - ' || (p_partkey % 15 + 10) || ' triệu'
             |       WHEN p_partkey % 4 = 1 THEN 'Thoả thuận'
             |       WHEN p_partkey % 4 = 2 THEN 'từ ' || (p_partkey % 20 + 5) || ' triệu'
             |       ELSE (p_partkey % 5 + 1) || ',000 - ' || (p_partkey % 5 + 2) || ',000 USD'
             |  END AS salary,
             |  CASE WHEN p_partkey % 2 = 0
             |         THEN '["' || p_type || '","SK' || p_size || '","SK' || (p_size + 1)
             |              || '","SK' || (p_size + 2) || '"]'
             |       ELSE '["' || p_type || '","SK' || p_size || '"]' END AS skills,
             |  CASE WHEN p_partkey % 2 = 0 THEN 'Hà Nội' ELSE 'Hồ Chí Minh' END AS location,
             |  CASE WHEN p_partkey % 2 = 0 THEN 'Hà Nội: Cầu Giấy' END AS location_detail,
             |  CAST(p_partkey % 30 + 1 AS VARCHAR) AS deadline,
             |  p_partkey % 2 = 0 AS verified_employer,
             |  'Cập nhật ' || (p_partkey % 24) || ' giờ trước' AS last_update,
             |  'https://logo/' || p_partkey || '.png' AS logo_url,
             |  strftime(TIMESTAMP '2026-08-12 00:00:00'
             |           - (p_partkey % 24) * INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS posted_time,
             |  '2026-08-12 00:00:00' AS crawled_at
             |FROM part ORDER BY CAST(job_id AS BIGINT)""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s1_html", dir)
        val k = col("p_partkey")
        val html = Tables.part(s, dir).select(concat(
          lit("<div class=\"job-item-2\" data-job-id=\""), k,
          lit("\"><a href=\"https://www.topcv.vn/viec-lam-"), k,
          lit(".html\"><img src=\"https://logo/"), k, lit(".png\"/></a>"),
          lit("<h3 class=\"title\"><a><span data-original-title=\""), col("p_name"),
          lit("\"></span></a></h3><a class=\"company\" href=\"https://co/"), col("p_brand"),
          lit("\">"), col("p_brand"), lit("</a><span class=\"salary\">"),
          when(k % 4 === 0, concat((k % 15 + 5), lit(" - "), (k % 15 + 10), lit(" triệu")))
            .when(k % 4 === 1, lit("Thoả thuận"))
            .when(k % 4 === 2, concat(lit("từ "), (k % 20 + 5), lit(" triệu")))
            .otherwise(concat((k % 5 + 1), lit(",000 - "), (k % 5 + 2), lit(",000 USD"))),
          lit("</span><span class=\"skill\">"), col("p_type"),
          lit("</span><div class=\"skill-tooltip\" data-skills=\""),
          when(k % 2 === 0,
            concat(lit("SK"), col("p_size"), lit(", SK"), col("p_size") + 1,
              lit(", SK"), col("p_size") + 2))
            .otherwise(concat(lit("SK"), col("p_size"))),
          lit("\"></div><span class=\"city\">"),
          when(k % 2 === 0, lit("Hà Nội")).otherwise(lit("Hồ Chí Minh")),
          lit("</span>"),
          when(k % 2 === 0,
            lit("<div class=\"city-tooltip\">Hà Nội: Cầu Giấy</div><span class=\"vip-badge\"></span>"))
            .otherwise(lit("")),
          lit("<span class=\"deadline\">"), (k % 30 + 1),
          lit("</span><span class=\"time\">Cập nhật "), (k % 24),
          lit(" giờ trước</span></div>")).as("value"))
        // write the card file TWICE: the parse must dedup by job_id (S2)
        html.unionAll(html).write.mode("overwrite").text(tmp)
        val v = col("value")
        def ex(pat: String) = regexp_extract(v, pat, 1)
        val now = to_timestamp(lit("2026-08-12 00:00:00"))
        val parsed = s.read.text(tmp).select(
          ex("data-job-id=\"(\\d+)\"").as("job_id"),
          ex("data-original-title=\"([^\"]*)\"").as("title"),
          ex("<a href=\"([^\"]*)\"").as("job_url"),
          ex("<a class=\"company\"[^>]*>([^<]*)</a>").as("company_name"),
          ex("<a class=\"company\" href=\"([^\"]*)\"").as("company_url"),
          ex("<span class=\"salary\">([^<]*)</span>").as("salary"),
          // tooltip lists are comma-separated and expand to individual
          // skills (parser.py:310-317)
          to_json(concat(array(ex("<span class=\"skill\">([^<]*)</span>")),
            split(ex("data-skills=\"([^\"]*)\""), ", "))).as("skills"),
          ex("<span class=\"city\">([^<]*)</span>").as("location"),
          when(ex("<div class=\"city-tooltip\">([^<]*)</div>") === "", lit(null).cast("string"))
            .otherwise(ex("<div class=\"city-tooltip\">([^<]*)</div>")).as("location_detail"),
          ex("<span class=\"deadline\">([^<]*)</span>").as("deadline"),
          v.contains("vip-badge").as("verified_employer"),
          ex("<span class=\"time\">([^<]*)</span>").as("last_update"),
          ex("<img src=\"([^\"]*)\"").as("logo_url"),
          lit("2026-08-12 00:00:00").as("crawled_at"))
        parsed
          .dropDuplicates("job_id")
          .withColumn("posted_time", date_format(
            TextFns.postedTime(TextFns.parseLastUpdate(col("last_update")), now),
            "yyyy-MM-dd HH:mm:ss"))
          .select("job_id", "title", "job_url", "company_name", "company_url", "salary",
            "skills", "location", "location_detail", "deadline", "verified_employer",
            "last_update", "logo_url", "posted_time", "crawled_at")
          .orderBy(col("job_id").cast("long"))
      }),

    // ---------------------------------------------------------------- S19 (ORC sink/source roundtrip)
    QueryDef(
      "q_s19_orc_roundtrip", "S4 S3 (columnar interchange: ORC)",
      // the same bulk-load/export contract as the parquet family, over
      // the other mainstream columnar format: write ORC, read it back,
      // and the aggregate must equal the original table's (lossless
      // types, including the timestamp column carried through). Scan
      // pushdown applies to the re-read just like parquet.
      Some("""SELECT l_returnflag, count(*) AS n,
             |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM lineitem WHERE l_quantity > 25
             |GROUP BY 1 ORDER BY l_returnflag""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s19_orc", dir)
        Tables.lineitem(s, dir)
          .select("l_returnflag", "l_quantity", "l_extendedprice")
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
          .filter(col("l_quantity") > 25)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
      }),

    // ---------------------------------------------------------------- S23 (small-file compaction)
    QueryDef(
      "q_s23_compaction", "S4 S10 small-file compaction",
      // the standing lakehouse maintenance job: a deliberately
      // fragmented copy of orders (48 small files — the shape a
      // micro-batched or over-parallel writer leaves behind) is
      // compacted into size-targeted files, and the aggregate over
      // the COMPACTED copy must equal the source table's — compaction
      // must be a pure layout change. File-count mechanics (planned
      // from on-disk bytes, no data read) are asserted in
      // SnapshotsSpec; the oracle gates data preservation.
      Some("""SELECT o_orderstatus, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),
      (s, dir) => {
        // fragmented staging is per-sfDir idempotent setup (the copy
        // is the PRE-EXISTING mess compaction exists to fix, not the
        // work being measured)
        val frag = SparkUtil.stagedDir(s, "q_s23_fragmented", dir, s"$dir/orders.parquet", "v1") {
          staged => Tables.orders(s, dir).repartition(48).write.mode("overwrite").parquet(staged)
        }
        val out = SparkUtil.scratchDir("q_s23_compacted", dir)
        graft.io.Snapshots.compact(s, frag, out, targetBytes = 16L << 20)
        s.read.parquet(out)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
            sum(col("o_orderkey")).cast("long").as("key_sum"))
          .orderBy("o_orderstatus")
      }),

    // ---------------------------------------------------------------- S20 (CSV ingest with malformed-row quarantine)
    QueryDef(
      "q_s20_csv_malformed", "S1 S2 (delimited ingest, PERMISSIVE quarantine)",
      // real-world delimited ingestion: every 53rd event's value field
      // is garbage in the landed CSV. PERMISSIVE mode parses what it
      // can and routes each broken line into the corrupt-record
      // column instead of failing the load — the quarantine-don't-
      // crash contract; the good rows' checksum must be untouched.
      // Double values round-trip exactly (Java toString → parse).
      Some("""SELECT count(*) AS n_total,
             |CAST(sum(CASE WHEN event_id % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |  AS n_quarantined,
             |CAST(sum(CASE WHEN event_id % 53 <> 0
             |  THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_good
             |FROM events""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s20_csv", dir)
        // concat_ws SKIPS null columns (a short line would shift every
        // later field), so each field is explicitly null-coalesced —
        // an empty CSV token parses back as NULL, preserving shape
        def f(c: org.apache.spark.sql.Column) = coalesce(c.cast("string"), lit(""))
        Tables.events(s, dir)
          .select(concat_ws(",",
            f(col("event_id")), f(col("user_id")), f(col("event_type")),
            when(col("event_id") % 53 === 0, lit("garbage"))
              .otherwise(f(col("value")))).as("value"))
          .write.mode("overwrite").text(tmp)
        val schema = "event_id LONG, user_id LONG, event_type STRING, " +
          "value DOUBLE, _bad STRING"
        val parsed = s.read
          .schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .csv(tmp)
        parsed.agg(
          count(lit(1)).as("n_total"),
          sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
          dsum(when(col("_bad").isNull, col("value"))).as("sum_good"))
      }),

    // ---------------------------------------------------------------- S21 (Z-order / Morton layout for 2-D skipping)
    QueryDef(
      "q_s21_zorder_layout", "S10 S11 (multi-dimensional clustering)",
      // write events range-clustered on the Morton code of
      // (user_id, day) — every output file covers a compact rectangle
      // of that key space, so parquet min/max row-group stats prune a
      // scan filtered on EITHER dimension (single-column sorting only
      // ever serves one). The layout cannot change answers: the oracle
      // is the same banded filter straight over events.
      Some("""WITH e AS (SELECT user_id,
             |  date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE))
             |    AS daynum, value FROM events)
             |SELECT count(*) AS n,
             |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |count(DISTINCT user_id) AS n_users
             |FROM e WHERE user_id BETWEEN 40 AND 60 AND daynum BETWEEN 10 AND 16""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s21_zorder", dir)
        val e = Tables.events(s, dir).select(
          col("user_id"),
          datediff(date_trunc("day", col("ts")).cast("date"), lit("2024-01-01"))
            .cast("long").as("daynum"),
          col("value"))
        // pin the file count: AQE would coalesce this small frame to
        // ONE file, which leaves no per-file rectangles to skip on
        graft.io.Layout.zOrderBy2(e, col("user_id"), col("daynum"), numFiles = Some(8))
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("user_id").between(40, 60) && col("daynum").between(10, 16))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
            countDistinct(col("user_id")).as("n_users"))
      }),

    // ---------------------------------------------------------------- S27 (manifest-driven file skipping, table-format style)
    QueryDef(
      "q_s27_manifest_prune", "S10 S11 (manifest zone-map file skipping)",
      // the table-format half of the skipping story (q_s21 is the
      // parquet-row-group half): orders land range-clustered on
      // o_orderdate, a MANIFEST of per-file [min, max] date zones is
      // built in one distributed pass (|files| rows — the metadata an
      // Iceberg/Delta table keeps), and the reader plans its scan
      // FROM the manifest, handing Spark only the files whose zone
      // overlaps the predicate. At 100 TB the scan's task count is
      // proportional to the files that can match, not the table — and
      // the oracle (the same filter over the full table) makes the
      // pruning's correctness, not just its speed, the thing under
      // test: a zone bug surfaces as missing rows, a hash mismatch.
      Some("""SELECT o_orderstatus, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders
             |WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-03-31'
             |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s27_manifest", dir)
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate")
          .repartitionByRange(8, col("o_orderdate"))
          .write.mode("overwrite").parquet(tmp)
        val (from, to) = (lit("1995-01-01").cast("timestamp"),
          lit("1995-03-31").cast("timestamp"))
        // |files|-bounded planner input: one (file, zone) row per
        // physical file, pruned to the zones the predicate can touch
        val matching = graft.io.Layout.zoneManifest(s, tmp, "o_orderdate")
          .filter(col("zone_max") >= from && col("zone_min") <= to)
          .select("file").collect().map(_.getString(0)).sorted
        val planned =
          if (matching.isEmpty) s.read.parquet(tmp).limit(0)
          else s.read.parquet(matching: _*)
        planned
          .filter(col("o_orderdate").between(from, to))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderstatus")
      }),

    // ---------------------------------------------------------------- S28 (per-file Bloom-index point-lookup skipping)
    QueryDef(
      "q_s28_bloom_index_prune", "S10 S11 (per-file Bloom sidecar file skipping)",
      // the third file-skipping mode (q_s21 row-group zones, q_s27
      // manifest zones — both RANGE pruning on the clustering column):
      // a per-file BLOOM sidecar prunes POINT lookups on a column the
      // layout does NOT cluster. Orders land hash-distributed on
      // o_custkey, so every file's [min, max] o_orderkey zone spans
      // the whole table — zone maps prune NOTHING for an orderkey
      // probe — but each unique orderkey lives in exactly one file,
      // so the Bloom manifest routes a 5-key probe to ~5 of the files
      // however many the table has. At 100 TB the probe cost is
      // |files| bit tests (planner metadata) + the few files that
      // might match; a Bloom false positive costs one extra file
      // read, while a false NEGATIVE would drop a result row — which
      // is exactly what the full-scan oracle would catch as a hash
      // mismatch.
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             |FROM orders WHERE o_orderkey IN (7, 113, 541, 997, 1499)
             |ORDER BY o_orderkey""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s28_bloom", dir)
        val (mBits, k) = (1 << 20, 4)
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .repartition(8, col("o_custkey"))
          .write.mode("overwrite").parquet(tmp)
        val probeKeys = Seq(7L, 113L, 541L, 997L, 1499L)
        import s.implicits._
        val manifest = graft.io.Layout.bloomManifest(s, tmp, "o_orderkey", mBits, k)
        // |files| × 5 bit tests → the files a planner would schedule
        val files = graft.io.Layout
          .bloomMatchingFiles(manifest, probeKeys.toDF("o_orderkey"),
            "o_orderkey", mBits, k)
          .collect().map(_.getString(0)).sorted // |files|-bounded planner step
        val planned =
          if (files.isEmpty) s.read.parquet(tmp).limit(0)
          else s.read.parquet(files.toIndexedSeq: _*)
        planned
          .filter(col("o_orderkey").isin(probeKeys: _*))
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey")
      }),

    // ---------------------------------------------------------------- S29 (merge-on-read deletes / deletion vectors)
    QueryDef(
      "q_s29_deletion_vectors", "S15 LLM-delete-propagation (merge-on-read deletes)",
      // the lazy half of the GDPR-delete story: q_l83 REWRITES every
      // affected shard (copy-on-write); here two delete batches land
      // as (file, row_index) sidecars — cost |deleted rows|, base
      // files untouched — and the reader subtracts positions at scan
      // time with a broadcast anti-join (merge-on-read). Batch 2
      // overlaps batch 1 on zh docs divisible by both 5 and 97, so
      // the distinct-positions union is itself under test. The oracle
      // applies the same predicates row-wise to the source table: a
      // position-mapping bug (wrong file, off-by-one row_index)
      // surfaces as a wrong live set, not lost speed. Compaction (the
      // copy-on-write escalation for files past a deleted-fraction
      // threshold) is spec-covered in DeletionVectorsSpec.
      liveBySourceOracle("NOT (doc_id % 97 = 0) AND NOT (lang = 'zh' AND doc_id % 5 = 0)"),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s29_dv", dir)
        val (base, dvDir) = (s"$tmp/base", s"$tmp/dv")
        Tables.documents(s, dir)
          .repartition(8, col("doc_id"))
          .write.mode("overwrite").parquet(base)
        val dv1 = DeletionVectors.build(s, base, col("doc_id") % 97 === 0)
        DeletionVectors.writeBatch(dv1, dvDir, 1)
        val dv2 = DeletionVectors.build(s, base,
          col("lang") === "zh" && col("doc_id") % 5 === 0)
        DeletionVectors.writeBatch(dv2, dvDir, 2)
        liveBySource(DeletionVectors.readWithDv(s, base, dvDir))
      }),

    // ---------------------------------------------------------------- S30 (incrementally-maintained combined-stats manifest)
    QueryDef(
      "q_s30_incremental_manifest", "S10 S11 S16 (manifest deltas + zone∧bloom planning)",
      // the WRITE-side half of the q_s27/q_s28 skipping story: real
      // table formats never rebuild their manifest — each committed
      // batch contributes a manifest DELTA (stats over its own new
      // files only, cost |new files|) and the table manifest is the
      // union of deltas, itself a tiny parquet table. Two batches of
      // orders land date-range-clustered; each gets a combined
      // zone+Bloom stats delta at write time; the reader then plans
      // one query with BOTH prunings ANDed — date range against the
      // zones, custkey point set against the per-file Blooms — and
      // scans only files surviving both, ACROSS batch generations.
      // At 100 TB: manifest maintenance is |new files| per commit,
      // planning is |manifest| metadata rows, and the scan is
      // |files that can match|. The oracle (the same predicate over
      // the full table) makes over-pruning a hash mismatch, the same
      // proof shape as q_s27/q_s28.
      Some("""SELECT o_custkey, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders
             |WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-12-31'
             |  AND o_custkey IN (3, 41, 77, 104, 149)
             |GROUP BY 1 ORDER BY o_custkey""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s30_manifest", dir)
        val (mBits, k) = (1 << 17, 3)
        val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        def ingest(batch: Int, pred: Column, nFiles: Int): Unit = {
          Tables.orders(s, dir).filter(pred)
            .select(cols.map(col): _*)
            .repartitionByRange(nFiles, col("o_orderdate"))
            .write.mode("overwrite").parquet(s"$tmp/data/batch=$batch")
          // the manifest DELTA: stats over THIS batch's files only
          graft.io.Layout.statsManifest(s, s"$tmp/data/batch=$batch",
              "o_orderdate", "o_custkey", mBits, k)
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$tmp/manifest/batch=$batch")
        }
        ingest(1, col("o_orderkey") % 4 =!= 0, nFiles = 6)
        ingest(2, col("o_orderkey") % 4 === 0, nFiles = 4)
        val (from, to) = (lit("1995-01-01").cast("timestamp"),
          lit("1995-12-31").cast("timestamp"))
        val probes = Seq(3L, 41L, 77L, 104L, 149L)
        import s.implicits._
        // plan from the UNION manifest: zone overlap AND bloom hit
        val zoneSurvivors = s.read.parquet(s"$tmp/manifest")
          .filter(col("zone_max") >= from && col("zone_min") <= to)
        val files = graft.io.Layout
          .bloomMatchingFiles(zoneSurvivors, probes.toDF("o_custkey"),
            "o_custkey", mBits, k)
          .collect().map(_.getString(0)).sorted // |files|-bounded planner step
        val planned =
          if (files.isEmpty) s.read.parquet(s"$tmp/data").select(cols.map(col): _*).limit(0)
          else s.read.parquet(files.toIndexedSeq: _*)
        planned
          .filter(col("o_orderdate").between(from, to) &&
            col("o_custkey").isin(probes: _*))
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_custkey")
      }),

    // ---------------------------------------------------------------- S31 (time-travel read: snapshot + log-suffix replay)
    QueryDef(
      "q_s31_time_travel", "S15 S14 (AS-OF-version read)",
      // the Delta/Iceberg time-travel shape over this library's own
      // snapshot + CDC pieces: the keyed last-wins state table is
      // checkpointed as a SNAPSHOT at version 1 (batches 0-1 of the
      // event stream), later batches land as per-batch LOG deltas,
      // and a read AS OF version 2 reconstructs state as
      // lastWins(snapshot ∪ log batch 2) — batch 3 exists on disk
      // and MUST NOT leak into the result, which is precisely what
      // the oracle (the closed form over batches ≤ 2) catches as a
      // hash mismatch. Cost model at 100 TB: the snapshot bounds
      // replay to the log SUFFIX (|batches since checkpoint|, never
      // the full history), and last-wins is associative under any
      // split, so checkpoint placement can't change answers — the
      // q_st9 argument, now for point-in-time reads.
      Some("""WITH upto AS (SELECT * FROM events WHERE event_id % 4 <= 2),
             |last AS (SELECT user_id, ts, event_type, event_id,
             |  row_number() OVER (PARTITION BY user_id
             |    ORDER BY ts DESC, event_id DESC) AS rn FROM upto)
             |SELECT event_type AS last_type, count(*) AS n_users,
             |CAST(sum(event_id) AS BIGINT) AS id_sum,
             |CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
             |FROM last WHERE rn = 1 GROUP BY 1 ORDER BY last_type""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s31_tt", dir)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        def lastWins(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn")
        val ev = Tables.events(s, dir)
          .select("event_id", "user_id", "event_type", "ts")
        // version-1 checkpoint: last-wins state over batches 0-1
        Snapshots.writeSnapshot(lastWins(ev.filter(col("event_id") % 4 <= 1)),
          s"$tmp/snap", "1")
        // later commits land as per-batch log deltas (idempotent
        // overwrite-own-batch, the q_st8 sink contract)
        Seq(2, 3).foreach { b =>
          ev.filter(col("event_id") % 4 === b)
            .write.mode("overwrite").parquet(s"$tmp/log/batch=$b")
        }
        // AS OF version 2 = snapshot + ONLY log batch 2
        val asOf = lastWins(
          Snapshots.readSnapshot(s, s"$tmp/snap", "1")
            .unionByName(s.read.parquet(s"$tmp/log/batch=2")
              .select("event_id", "user_id", "event_type", "ts")))
        asOf
          .groupBy(col("event_type").as("last_type"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("event_id")).cast("long").as("id_sum"),
            max(unix_micros(col("ts"))).as("max_ts_us"))
          .orderBy("last_type")
      }),

    // ---------------------------------------------------------------- S32 (column rename across generations, field-id mapping)
    QueryDef(
      "q_s32_rename_evolution", "S16 (RENAME COLUMN without rewrite)",
      // the rename half of schema evolution (q_s16 is the add-column
      // half): generation 1 landed with `o_orderpriority`, the table
      // then renamed it to `priority`, and generation 2 writes under
      // the new name — NO old file is rewritten. Readers resolve
      // names through a field-MAPPING manifest (the Iceberg field-id
      // idea: each generation's physical name → the canonical name),
      // apply the per-generation rename at scan time, and union —
      // so a name-based reader that would silently NULL the old
      // generation's column instead surfaces it correctly, which the
      // oracle's per-generation counts pin (n per priority must
      // cover BOTH generations' rows; a mapping bug halves them).
      Some("""WITH g1 AS (SELECT o_orderkey, o_totalprice, o_orderpriority AS priority
             |            FROM orders WHERE o_orderkey % 3 = 0),
             |g2 AS (SELECT o_orderkey, o_totalprice, o_orderpriority AS priority
             |       FROM orders WHERE o_orderkey % 3 <> 0)
             |SELECT priority, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
             |GROUP BY priority ORDER BY priority""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s32_rename", dir)
        val o = Tables.orders(s, dir)
        // gen 1: the ORIGINAL physical name
        o.filter(col("o_orderkey") % 3 === 0)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").parquet(s"$tmp/gen=1")
        // gen 2: written AFTER the rename, new physical name
        o.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority").as("priority"))
          .write.mode("overwrite").parquet(s"$tmp/gen=2")
        // the field-mapping manifest: generation → (physical, canonical)
        val mapping = Map(1 -> ("o_orderpriority", "priority"),
          2 -> ("priority", "priority"))
        val gens = mapping.toSeq.sortBy(_._1).map { case (g, (phys, canon)) =>
          s.read.parquet(s"$tmp/gen=$g")
            .withColumnRenamed(phys, canon)
            .select("o_orderkey", "o_totalprice", canon)
        }
        gens.reduce(_ unionByName _)
          .groupBy("priority")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("priority")
      }),

    // ---------------------------------------------------------------- S33 (expire snapshots + vacuum unreferenced files)
    QueryDef(
      "q_s33_snapshot_expire", "S15 (snapshot expiration / VACUUM)",
      // the maintenance half of q_s31's time travel: a commit-log table
      // (TableLog) accumulates four versions — two ingests, a
      // compaction that REWRITES v1's small files, one more ingest —
      // and then retention expires versions 1-2. Vacuum deletes
      // exactly the files no SURVIVING version references: the
      // pre-compaction small files (freed by the rewrite once v1/v2
      // left the horizon) and NOTHING else — the compacted file and
      // both untouched ingests must survive, which the oracle (the
      // FULL table aggregate over the post-vacuum read) turns into a
      // hash mismatch if vacuum over-deletes, while the in-query
      // requires pin under-deletion and that time travel to the
      // oldest SURVIVING version still answers after the sweep.
      // At 100 TB: the reference walk is |surviving versions| ×
      // |files| set algebra over log metadata, deletes are
      // |unreferenced files| filesystem calls — no data scan, no
      // shuffle; space reclaim scales with what compaction actually
      // freed, never with table size.
      priorityOracle(""),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s33_expire", dir) // idempotent re-runs
        val (dataDir, logDir) = (s"$tmp/data", s"$tmp/log")
        val a = fourVersionTable(s, Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderpriority"), dataDir, logDir)
        val commits = TableLog.readCommits(s, logDir)
        val v3Files = TableLog.liveFiles(commits, Some(3))
        val v3Rows = s.read.parquet(v3Files: _*).count() // pre-vacuum baseline
        val (deleted, _) = TableLog.expire(s, dataDir, logDir, keepFrom = 3)
        require(deleted == a,
          s"vacuum must free exactly the compacted-away files: got $deleted, want $a")
        require(s.read.parquet(v3Files: _*).count() == v3Rows,
          "time travel to the oldest surviving version broke after vacuum")
        liveByPriority(s, commits)
      }),

    // ---------------------------------------------------------------- S34 (partition-spec evolution across generations)
    QueryDef(
      "q_s34_partition_evolution", "S10 S11 S16 (per-generation partition specs)",
      // the partition-layout half of schema evolution (q_s32 is the
      // column-name half): generation 1 landed partitioned by month
      // only; the table then evolved its spec to (month, priority) and
      // generation 2 writes under the finer layout — NO old file moves
      // (the Iceberg spec-evolution contract; a Hive table would
      // demand a full rewrite). The reader resolves each generation
      // through the spec manifest and pushes the SAME predicate at
      // both: gen 1 dir-prunes month and in-scan-filters priority,
      // gen 2 dir-prunes both (PartitionFilters at both scans —
      // pinned in PlanSpec). The oracle computes the predicate over
      // the raw table, so a generation skipped, double-read, or
      // pruned too hard is a hash mismatch. At 100 TB the win is the
      // usual one: re-partitioning a petabyte table costs a manifest
      // row, not a rewrite, and new data immediately earns the finer
      // pruning.
      Some("""SELECT strftime(o_orderdate, '%Y') AS year,
             |o_orderpriority AS priority, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders
             |WHERE strftime(o_orderdate, '%Y') IN ('1995', '1996')
             |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
             |GROUP BY 1, 2 ORDER BY year, priority""".stripMargin),
      (s, dir) => {
        // the session's dynamic partitionOverwriteMode replaces only
        // partitions PRESENT in the new write — stale sibling
        // partitions of a previous run would survive, so wipe
        val tmp = SparkUtil.freshDir("q_s34_specs", dir)
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"),
            date_format(col("o_orderdate"), "yyyy").as("year"))
        // gen 1: coarse spec — partitioned by year only (clustered on
        // the partition column first so a task never sprays a file
        // into every year dir — writePartitioned's small-files rule)
        o.filter(col("o_orderkey") % 2 === 0)
          .hint("rebalance", col("year"))
          .write.mode("overwrite").partitionBy("year").parquet(s"$tmp/gen=1")
        // spec evolution; gen 2 lands under (year, priority)
        o.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_orderpriority", "priority")
          .hint("rebalance", col("year"), col("priority"))
          .write.mode("overwrite").partitionBy("year", "priority").parquet(s"$tmp/gen=2")
        // the spec manifest: generation → its partition columns
        val specs = Map(1 -> Seq("year"), 2 -> Seq("year", "priority"))
        val years = Seq("1995", "1996")
        val prios = Seq("1-URGENT", "2-HIGH")
        val gens = specs.toSeq.sortBy(_._1).map { case (g, spec) =>
          val pri = if (spec.contains("priority")) col("priority")
                    else col("o_orderpriority")
          s.read.parquet(s"$tmp/gen=$g")
            .filter(col("year").isin(years: _*) && pri.isin(prios: _*))
            .select(col("year"), pri.as("priority"), col("o_totalprice"))
        }
        gens.reduce(_ unionByName _)
          .groupBy("year", "priority")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("year", "priority")
      }),

    // ---------------------------------------------------------------- S35 (optimistic concurrency: claim, rebase, abort)
    QueryDef(
      "q_s35_concurrent_commit", "S15 (multi-writer commit protocol)",
      // three writers race from the SAME base version of a TableLog
      // table, exercising all three outcomes of optimistic
      // concurrency: writer A (GDPR delete, copy-on-write rewrite of
      // only the files holding hits) claims v2 clean; writer B (blind
      // append) loses the v2 race but rebases forward — appends
      // remove nothing, so nothing can conflict — and lands v3;
      // writer C (a compaction staged against the base file set)
      // detects that A already removed files it rewrote and ABORTS:
      // letting it land would resurrect the deleted rows. The final
      // table is (base − A's deletes) ∪ B's append, which the oracle
      // states in closed form — a lost update (C landing) or a missed
      // rebase (B's rows absent) is a hash mismatch, and the version
      // arithmetic is pinned by requires. The claim arbiter is the
      // filesystem's create-fails-if-exists (the Delta LogStore
      // idea): correct under any writer interleaving, no coordinator.
      priorityOracle("WHERE (o_orderkey % 4 <= 1 AND o_orderkey % 10 <> 0) OR o_orderkey % 4 = 2"),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s35_occ", dir) // idempotent re-runs
        val (dataDir, logDir) = (s"$tmp/data", s"$tmp/log")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
        val base = TableLog.land(
          o.filter(col("o_orderkey") % 4 <= 1).repartition(4, col("o_orderkey")), s"$dataDir/c1")
        require(TableLog.tryClaim(s, logDir, TableLog.Commit(1, "ingest", base, Nil)))
        // writer A: delete o_orderkey%10==0 — rewrite ONLY files with hits
        val hitFiles = TableLog.filesMatching(s, base, col("o_orderkey") % 10 === 0)
        require(hitFiles.nonEmpty, "delete predicate matched no file — widen it")
        val rewritten = TableLog.land(
          s.read.parquet(hitFiles: _*).filter(col("o_orderkey") % 10 =!= 0)
            .repartition(hitFiles.size, col("o_orderkey")), s"$dataDir/c2")
        val rA = TableLog.tryCommit(s, logDir, base = 1, "writer-a-delete",
          adds = rewritten, removes = hitFiles)
        // writer B: blind append staged from the SAME base (never saw A)
        val appended = TableLog.land(
          o.filter(col("o_orderkey") % 4 === 2).repartition(2, col("o_orderkey")), s"$dataDir/c3")
        val rB = TableLog.tryCommit(s, logDir, base = 1, "writer-b-append",
          adds = appended, removes = Nil)
        // writer C: compaction staged from base 1 — rewrites files A removed
        val staged = TableLog.land(
          s.read.parquet(base: _*).repartition(1, col("o_orderkey")), s"$dataDir/c4")
        val rC = TableLog.tryCommit(s, logDir, base = 1, "writer-c-compact",
          adds = staged, removes = base)
        require(rA == Right(2), s"writer A should claim v2 clean: $rA")
        require(rB == Right(3), s"writer B should rebase to v3: $rB")
        require(rC == Left(hitFiles),
          s"writer C must abort on A's removed files: $rC vs $hitFiles")
        TableLog.deleteFiles(s, staged) // aborted writer sweeps its staged files
        val commits = TableLog.readCommits(s, logDir)
        require(commits.map(_.version) == Seq(1, 2, 3),
          s"log must hold exactly v1-v3: ${commits.map(_.version)}")
        liveByPriority(s, commits)
      }),

    // ---------------------------------------------------------------- S36 (table branching + squash merge)
    QueryDef(
      "q_s36_table_branching", "S15 (branch, squash-merge, cross-branch conflict)",
      // the Nessie/Iceberg-branch idea over the TableLog protocol: a
      // BRANCH is a second commit log forked at a main version —
      // writers iterate there (here: a GDPR delete rewrite, then a
      // compaction of the branch's own rewrite, two commits whose
      // in-branch churn must net out) without main readers seeing
      // anything. Merging replays the branch's NET file delta as ONE
      // atomic main commit validated against everything that landed
      // on main since the fork (writer appends land concurrently and
      // rebase under the merge fine); a SECOND branch that rewrote
      // the same files the first branch deleted must abort at merge —
      // the cross-branch lost-update. The oracle states the merged
      // closed form; the in-query requires pin the version arithmetic,
      // the conflict, and that the pre-merge fork read is untouched.
      // At 100 TB: a branch costs one directory of metadata, merge is
      // |branch commits| replay + one claim — data files never move.
      priorityOracle("WHERE o_orderkey % 15 <> 0"),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s36_branch", dir) // idempotent re-runs
        val (dataDir, mainLog) = (s"$tmp/data", s"$tmp/log/main")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
        val a = TableLog.land(
          o.filter(col("o_orderkey") % 3 === 0).repartition(4, col("o_orderkey")), s"$dataDir/c1")
        require(TableLog.tryClaim(s, mainLog, TableLog.Commit(1, "ingest-a", a, Nil)))
        val b = TableLog.land(
          o.filter(col("o_orderkey") % 3 === 1).repartition(3, col("o_orderkey")), s"$dataDir/c2")
        require(TableLog.tryClaim(s, mainLog, TableLog.Commit(2, "ingest-b", b, Nil)))
        val fork = 2
        val atFork = TableLog.liveFiles(TableLog.readCommits(s, mainLog), Some(fork))
        // branch "dev": GDPR delete (%15==0) staged against the fork state
        val devLog = s"$tmp/log/dev"
        val hitFiles = TableLog.filesMatching(s, atFork, col("o_orderkey") % 15 === 0)
        require(hitFiles.nonEmpty, "delete predicate matched no file — widen it")
        val rewritten = TableLog.land(
          s.read.parquet(hitFiles: _*).filter(col("o_orderkey") % 15 =!= 0)
            .repartition(hitFiles.size, col("o_orderkey")), s"$dataDir/dev1")
        require(TableLog.tryClaim(s, devLog,
          TableLog.Commit(1, "dev-delete", rewritten, hitFiles)))
        // second branch commit: compact dev's OWN rewrite — nets out
        val compacted = TableLog.land(
          s.read.parquet(rewritten: _*).repartition(1, col("o_orderkey")), s"$dataDir/dev2")
        require(TableLog.tryClaim(s, devLog,
          TableLog.Commit(2, "dev-compact", compacted, rewritten)))
        // main moves on concurrently: a blind append lands v3
        val c = TableLog.land(
          o.filter(col("o_orderkey") % 3 === 2).repartition(3, col("o_orderkey")), s"$dataDir/c3")
        require(TableLog.tryClaim(s, mainLog, TableLog.Commit(3, "ingest-c", c, Nil)))
        // merge dev → main: net delta (adds=compacted, removes=hitFiles)
        // as ONE commit, validated against v3
        val merged = TableLog.squashMerge(s, mainLog, devLog, fork, "merge-dev")
        require(merged == Right(4), s"squash merge should land as v4: $merged")
        // a second branch that compacted the same files dev deleted
        // must abort at merge — cross-branch lost update
        val rivalLog = s"$tmp/log/rival"
        val staged = TableLog.land(
          s.read.parquet(atFork: _*).repartition(1, col("o_orderkey")), s"$dataDir/rival1")
        require(TableLog.tryClaim(s, rivalLog,
          TableLog.Commit(1, "rival-compact", staged, atFork)))
        val rival = TableLog.squashMerge(s, mainLog, rivalLog, fork, "merge-rival")
        require(rival == Left(hitFiles),
          s"rival merge must abort on dev's removed files: $rival")
        TableLog.deleteFiles(s, staged) // aborted merge sweeps its staged files
        val commits = TableLog.readCommits(s, mainLog)
        // the fork read is untouched by everything that happened since
        require(TableLog.liveFiles(commits, Some(fork)) == atFork,
          "branch work leaked into the fork-version read")
        liveByPriority(s, commits)
      }),

    // ---------------------------------------------------------------- S23 (schema merge on read)
    QueryDef(
      "q_s23_merge_schema", "S16 (heterogeneous-batch schema merge)",
      // two landed batches with different shapes — the old one lacks
      // the later-added `priority` column — read as ONE table with
      // mergeSchema: the union schema applies and missing columns are
      // NULL for old rows (read-side half of the q_s16 evolution
      // story). Counts split by null-ness pin the per-batch schemas.
      Some("""WITH old AS (SELECT o_orderkey, o_totalprice FROM orders
             |            WHERE o_orderkey % 2 = 0),
             |new AS (SELECT o_orderkey, o_totalprice, o_orderpriority AS priority
             |        FROM orders WHERE o_orderkey % 2 = 1)
             |SELECT count(*) AS n,
             |CAST(sum(CASE WHEN priority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  AS n_old_shape,
             |count(DISTINCT priority) AS n_priorities,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM (SELECT o_orderkey, o_totalprice, NULL AS priority FROM old
             |      UNION ALL SELECT * FROM new)""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.scratchDir("q_s23_schema", dir)
        val o = Tables.orders(s, dir)
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$tmp/batch=old")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority").as("priority"))
          .write.mode("overwrite").parquet(s"$tmp/batch=new")
        s.read.option("mergeSchema", "true").parquet(tmp)
          .agg(count(lit(1)).as("n"),
            sum(when(col("priority").isNull, 1L).otherwise(0L)).as("n_old_shape"),
            countDistinct(col("priority")).as("n_priorities"),
            dsum(col("o_totalprice")).as("sum_price"))
      }),

    // ---------------------------------------------------------------- S24 (physical shard write-out of the packing plan)
    QueryDef(
      "q_s24_shard_writeout", "S4 S10 LLM-corpus-shards (physical write-out)",
      // closes the loop q_s23_compaction closed for small files: the
      // q_l17/q_l35 packing plan is actually WRITTEN as one parquet
      // file per token-budget shard plus a JSON manifest, read back,
      // and the per-shard aggregates recomputed FROM THE FILES must
      // equal the oracle's pure-SQL replay of the packing — a layout
      // roundtrip cannot change the assignment. manifest_ok gates the
      // manifest against the files Spark-side (the oracle cannot see
      // the artifact, so it asserts TRUE — any manifest drift fails
      // the hash). One-file-per-shard mechanics are asserted in
      // CorpusSpec.
      Some(s"""${LlmQueries.packStartsOracleCtes}
             |SELECT CAST(floor(token_start / 2048.0) AS BIGINT) AS shard_id,
             |count(*) AS n_docs,
             |CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
             |CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |CAST(min(token_start) AS BIGINT) AS start_min,
             |CAST(max(token_start + n_tokens) AS BIGINT) AS end_max,
             |TRUE AS manifest_ok
             |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin),
      (s, dir) => {
        val out = SparkUtil.scratchDir("q_s24_shards", dir)
        // the ledger IS the files-recomputed aggregate (one scan serves
        // manifest write + this verify — the old second full-readback
        // aggregation was a duplicate action, pure job floor)
        val ledger = graft.llm.Corpus.writeShardFilesLedger(
          Tables.documents(s, dir), "doc_id", "text", 2048L, out)
        ledger.withColumn("n_docs", col("n_items"))
          .join(graft.llm.Corpus.readManifest(s, out), Seq("shard_id"), "left")
          .withColumn("manifest_ok", graft.llm.Corpus.manifestOk)
          .select("shard_id", "n_docs", "shard_tokens", "id_sum",
            "start_min", "end_max", "manifest_ok")
          .orderBy("shard_id")
      }),

    // ---------------------------------------------------------------- S25 (curated-corpus shard write-out)
    QueryDef(
      "q_s25_curated_shard_writeout", "S4 S10 LLM-corpus-e2e (curated physical write-out)",
      // the end of the modern recipe: q_l21b's fully curated item
      // stream (cascade → boilerplate rewrite → dedup → decontaminate
      // → mix → epoch repetition) is physically WRITTEN as one parquet
      // file per token-budget shard + manifest, read back, and the
      // per-shard aggregates recomputed from the files must equal the
      // oracle's CTE-for-CTE replay of the whole chain AND packing —
      // the loader-ready artifact provably carries the curated corpus.
      // manifest_ok gates the manifest against the files Spark-side.
      Some(s"""${LlmQueries.curationOracleCtes}
              |SELECT shard_id, count(*) AS n_items,
              |count(DISTINCT doc_id) AS n_docs,
              |CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
              |CAST(sum(doc_id) AS BIGINT) AS id_sum,
              |CAST(min(token_start) AS BIGINT) AS start_min,
              |CAST(max(token_start + n_tokens) AS BIGINT) AS end_max,
              |TRUE AS manifest_ok
              |FROM c2 GROUP BY shard_id ORDER BY shard_id""".stripMargin),
      (s, dir) => {
        val out = SparkUtil.scratchDir("q_s25_curated_shards", dir)
        // ledger = one files-scan aggregation shared by manifest write
        // and this verify (n_ids = distinct underlying doc_ids — the
        // pack id rep_id is composite, so n_items counts repetitions)
        val ledger = graft.llm.Corpus.writeShardFilesLedger(
          LlmQueries.curationItems(s, dir), "rep_id", "text", 2048L, out,
          checksumCol = Some("doc_id"))
        ledger.withColumn("n_docs", col("n_ids"))
          .join(graft.llm.Corpus.readManifest(s, out), Seq("shard_id"), "left")
          .withColumn("manifest_ok", graft.llm.Corpus.manifestOk)
          .select("shard_id", "n_items", "n_docs", "shard_tokens", "id_sum",
            "start_min", "end_max", "manifest_ok")
          .orderBy("shard_id")
      }),

    // ---------------------------------------------------------------- S26 (shard damage detection + targeted rebuild)
    QueryDef(
      "q_s26_shard_restore", "S4 S10 S15 LLM-corpus-shards (damage detect + targeted rebuild)",
      // the negative path q_s24 leaves open: a shard FILE is lost
      // out-of-band (shard_id=1's dir deleted), the manifest check
      // must DETECT exactly that shard (files-ledger vs manifest
      // full-outer mismatch), and the repair must rebuild ONLY it —
      // the packing plan is a pure function of the corpus, so the
      // lost shard's contents recompute exactly, via a dynamic
      // partition overwrite that never touches surviving shards
      // (|damage|-bounded repair, the restore twin of q_l83's delete
      // propagation). The oracle replays the packing: the post-
      // rebuild ledger must equal the original layout shard-for-shard
      // with manifest_ok true — a repair that renumbered, dropped, or
      // double-wrote anything hash-fails.
      Some(s"""${LlmQueries.packStartsOracleCtes}
             |SELECT CAST(floor(token_start / 2048.0) AS BIGINT) AS shard_id,
             |CASE WHEN CAST(floor(token_start / 2048.0) AS BIGINT) = 1
             |     THEN 'rebuilt' ELSE 'kept' END AS status,
             |count(*) AS n_docs,
             |CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
             |CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |TRUE AS manifest_ok
             |FROM c GROUP BY 1, 2 ORDER BY shard_id""".stripMargin),
      (s, dir) => {
        val out = SparkUtil.scratchDir("q_s26_shards", dir)
        val docs = Tables.documents(s, dir)
        graft.llm.Corpus.writeShardFilesLedger(docs, "doc_id", "text", 2048L, out)
        // simulate out-of-band loss of one shard file
        val conf = s.sparkContext.hadoopConfiguration
        val lost = new org.apache.hadoop.fs.Path(out, "shard_id=1")
        lost.getFileSystem(conf).delete(lost, true)
        // |damage| rows — bounded driver control flow driving the repair
        val damaged = graft.llm.Corpus.detectDamagedShards(s, out, "doc_id")
          .collect().map(_.getLong(0)).toSeq.sorted
        require(damaged == Seq(1L),
          s"damage detection must find exactly the lost shard, got $damaged")
        graft.llm.Corpus.rebuildShards(docs, "doc_id", "text", 2048L, out, damaged)
        graft.llm.Corpus.ledgerOfFiles(s, out, "doc_id")
          .join(graft.llm.Corpus.readManifest(s, out), Seq("shard_id"), "full_outer")
          .withColumn("status",
            when(col("shard_id").isin(damaged: _*), lit("rebuilt"))
              .otherwise(lit("kept")))
          .withColumn("manifest_ok", graft.llm.Corpus.manifestOk)
          .select(col("shard_id"), col("status"),
            col("n_items").as("n_docs"), col("shard_tokens"),
            col("id_sum"), col("manifest_ok"))
          .orderBy("shard_id")
      }),

    // ---------------------------------------------------------------- S22 (parquet aggregate pushdown)
    QueryDef(
      "q_s22_agg_pushdown", "S3 (footer-statistics aggregate pushdown)",
      // COUNT/MIN/MAX answered from parquet FOOTER metadata instead of
      // scanning rows (DSv2 aggregate pushdown) — at 100 TB the
      // difference between touching every page and touching file
      // footers. The v2-scan confs apply only while THIS plan is
      // captured (restored in finally; the answer is engine-path
      // independent, which is exactly what the oracle asserts).
      Some("""SELECT count(*) AS n,
             |min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
             |CAST(min(o_orderkey) AS BIGINT) AS min_key,
             |CAST(max(o_orderkey) AS BIGINT) AS max_key
             |FROM orders""".stripMargin),
      (s, dir) => {
        val conf = s.conf
        val prevAgg = conf.getOption("spark.sql.parquet.aggregatePushDown")
        val prevV1 = conf.getOption("spark.sql.sources.useV1SourceList")
        conf.set("spark.sql.parquet.aggregatePushDown", "true")
        conf.set("spark.sql.sources.useV1SourceList", "") // parquet via DSv2 here
        try {
          val df = s.read.parquet(s"$dir/orders.parquet")
            .agg(count(lit(1)).as("n"),
              min(col("o_totalprice")).as("min_price"),
              max(col("o_totalprice")).as("max_price"),
              min(col("o_orderkey")).cast("long").as("min_key"),
              max(col("o_orderkey")).cast("long").as("max_key"))
          df.queryExecution.executedPlan // memoize the plan under v2 confs
          df
        } finally {
          prevAgg.fold(conf.unset("spark.sql.parquet.aggregatePushDown"))(
            v => conf.set("spark.sql.parquet.aggregatePushDown", v))
          prevV1.fold(conf.unset("spark.sql.sources.useV1SourceList"))(
            v => conf.set("spark.sql.sources.useV1SourceList", v))
        }
      }),

    // ---------------------------------------------------------------- Structured Streaming windowed agg
    QueryDef(
      "q_st1_stream_window_agg", "ST1 P2",
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             |count(*) AS n,
             |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
      (s, dir) => {
        val name = "q_st1_mem"
        // staging the watch dir is setup (idempotent, marker-guarded),
        // not query work; Bench pre-stages it in its warm pass
        val watch = CdcStream.ensureStaged(s, dir)
        val agg = CdcStream.dailyTypeCounts(CdcStream.readEvents(s, watch))
        CdcStream.runToMemory(s, agg, name)
          .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("day", "event_type")
      }),

    // ---------------------------------------------------------------- ST: streaming dedup
    QueryDef(
      "q_st2_stream_dedup", "ST dedup (S6 unbounded)",
      // the stream is the events source delivered TWICE (at-least-once
      // redelivery, the case streaming dedup exists for); dedup must
      // collapse it back to exactly-once, so the closed form is the
      // plain batch aggregate over events
      dedupedEventsOracle,
      (s, dir) => dedupedEvents(s, dir, "q_st2_mem")(CdcStream.dedupStream)),

    // ---------------------------------------------------------------- ST: streaming sessionization (native session_window)
    QueryDef(
      "q_st3_stream_sessionize", "ST sessionize (session_window)",
      // append-mode session_window only emits sessions the watermark
      // has passed, and a bounded stream's watermark stops at max(ts) −
      // delay — so the watch dir gains ONE sentinel event 10 days past
      // the end (user −1): the watermark then clears every real
      // session while the sentinel's own session stays open and is
      // never emitted. The oracle is the batch closed form (gap-break
      // cumulative-sum sessionization; a new session starts when the
      // gap is ≥ 30 minutes, matching session_window's end-exclusive
      // [start, last+gap) windows), grouped by session length.
      // total_value is rounded per-session before the decimal sum so
      // the float-add order inside window merges cannot leak in.
      Some("""WITH g AS (
             |  SELECT user_id, ts, value,
             |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |                  >= INTERVAL 30 MINUTE
             |              THEN 1 ELSE 0 END AS brk
             |  FROM events),
             |s AS (SELECT user_id, ts, value,
             |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             |                       ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM g),
             |sess AS (SELECT user_id, sid, count(*) AS n_events,
             |                sum(value) AS total_value
             |         FROM s GROUP BY user_id, sid)
             |SELECT n_events, count(*) AS n_sessions,
             |       count(DISTINCT user_id) AS n_users,
             |       CAST(sum(CAST(round(total_value, 6) AS DECIMAL(18,6))) AS DOUBLE)
             |         AS sum_value
             |FROM sess GROUP BY n_events ORDER BY n_events""".stripMargin),
      (s, dir) => {
        val name = "q_st3_mem"
        // sentinel staging is idempotent setup (marker-guarded), so the
        // benchmarked body times the stream, not a per-pass re-copy
        val watch = CdcStream.ensureStagedWithSentinel(s, dir)
        val stream = CdcStream.readEvents(s, watch).withWatermark("ts", "1 day")
        val sessions = CdcStream.runToMemory(
          s, CdcStream.sessionizeNative(stream, gapMinutes = 30), name, mode = "append")
        sessions.filter(col("user_id") =!= -1L)
          .groupBy(col("n_events").cast("long").as("n_events"))
          .agg(count(lit(1)).as("n_sessions"),
            countDistinct(col("user_id")).as("n_users"),
            sum(round(col("total_value"), 6).cast(DecimalType(18, 6))).cast("double")
              .as("sum_value"))
          .orderBy("n_events")
      }),

    // ---------------------------------------------------------------- ST: late data vs the watermark
    QueryDef(
      "q_st4_stream_late_data", "ST late-data watermark contract",
      // three micro-batches, boundaries forced by processAllAvailable:
      // (1) the even-event_id half arrives on time; (2) a sentinel 10
      // days past the end drags the watermark beyond every real
      // window; (3) the odd half arrives — every row now beyond the
      // watermark, so the append-mode windowed aggregation MUST drop
      // all of them. The oracle aggregates ONLY the even half: if
      // late rows leaked in (no watermark, complete-mode rescan, or a
      // state store that resurrects closed windows) every odd row
      // would land in some day/type group and the hash could not
      // match.
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             |count(*) AS n,
             |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id % 2 = 0
             |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
      (s, dir) => {
        val acts = CdcStream.ensureStagedLateActs(s, dir)
        CdcStream.runActs(s, acts, CdcStream.dailyTypeCounts, "q_st4_mem")
          .filter(col("event_type") =!= "sentinel")
          .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("day", "event_type")
      }),

    // ---------------------------------------------------------------- ST: stream-stream interval join
    QueryDef(
      "q_st5_stream_stream_join", "ST stream-stream interval join",
      // purchases join the same user's views within the preceding
      // hour, BOTH sides unbounded streams with watermarks bounding
      // the join state. Inner-join matches emit exactly once in
      // append mode, so the complete output over the bounded source
      // equals the batch interval join — the oracle — regardless of
      // micro-batch boundaries.
      Some("""SELECT strftime(date_trunc('day', p.ts), '%Y-%m-%d') AS day,
             |count(*) AS n_pairs,
             |count(DISTINCT p.event_id) AS n_purchases_matched,
             |count(DISTINCT p.user_id) AS n_users
             |FROM events p JOIN events v
             |  ON v.user_id = p.user_id AND v.event_type = 'view'
             | AND p.event_type = 'purchase'
             | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 60 MINUTE
             |GROUP BY 1 ORDER BY day""".stripMargin),
      (s, dir) => {
        val name = "q_st5_mem"
        val watch = CdcStream.ensureStaged(s, dir)
        val joined = CdcStream.runToMemory(
          s, CdcStream.purchaseViewJoin(CdcStream.readEvents(s, watch), 60),
          name, mode = "append")
        joined
          .groupBy(date_format(col("p_ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("p_id")).as("n_purchases_matched"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("day")
      }),

    // ---------------------------------------------------------------- ST: stream-static enrichment join
    QueryDef(
      "q_st6_stream_enrich", "ST stream-static dimension lookup",
      // every event enriched against a STATIC dimension (each user's
      // first-seen day, computed batch-side) while flowing through the
      // stream — the per-event dimension-lookup shape of a continuous
      // ingest. Stream-static joins need no watermark and no state:
      // the static side broadcasts per micro-batch, so the complete
      // output over the bounded source equals the batch join.
      Some("""WITH first_seen AS (
             |  SELECT user_id, date_trunc('day', min(ts)) AS first_day
             |  FROM events GROUP BY user_id)
             |SELECT event_type,
             |CAST(sum(CASE WHEN date_trunc('day', e.ts) = f.first_day
             |              THEN 1 ELSE 0 END) AS BIGINT) AS first_day_events,
             |count(*) AS n,
             |count(DISTINCT e.user_id) AS n_users
             |FROM events e JOIN first_seen f ON f.user_id = e.user_id
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val name = "q_st6_mem"
        val watch = CdcStream.ensureStaged(s, dir)
        // the static side's PLAN re-executes on EVERY micro-batch —
        // un-materialized, this aggregation over the full events table
        // ran once per batch (measured: ~3× the query's whole cost).
        // localCheckpoint pins the computed dimension once; that is the
        // production rule for stream-static joins: the static side must
        // be a materialized table, not a live subquery.
        val firstSeen = Tables.events(s, dir)
          .groupBy("user_id").agg(date_trunc("day", min(col("ts"))).as("first_day"))
          .localCheckpoint()
        val enriched = CdcStream.readEvents(s, watch)
          .join(firstSeen, Seq("user_id"))
          .withColumn("is_first_day",
            date_trunc("day", col("ts")) === col("first_day"))
        CdcStream.runToMemory(s, enriched, name, mode = "append")
          .groupBy("event_type")
          .agg(sum(when(col("is_first_day"), 1L).otherwise(0L)).as("first_day_events"),
            count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- ST: bounded-state streaming dedup
    QueryDef(
      "q_st7_stream_dedup_bounded", "ST dedup (bounded state, watermark-evicted)",
      // q_st2's dedup keeps per-key state forever — correct, unbounded.
      // This is the production variant: dropDuplicatesWithinWatermark
      // evicts a key once the watermark passes it, so state is bounded
      // by the delay horizon. The doubled delivery here arrives well
      // inside the horizon, so the closed form is the same exactly-once
      // batch aggregate.
      dedupedEventsOracle,
      (s, dir) => dedupedEvents(s, dir, "q_st7_mem")(CdcStream.dedupStreamBounded)),

    // ---------------------------------------------------------------- ST: exactly-once foreachBatch file sink
    QueryDef(
      "q_st8_foreachbatch_sink", "ST foreachBatch idempotent writeback",
      // stream → per-batch overwrite-own-partition parquet sink (the
      // idempotent-retry pattern for non-transactional stores), then
      // the landed table is read back and aggregated: landing must be
      // complete and exactly-once, so the closed form is the plain
      // batch aggregate over events.
      eventTypeTotalsOracle,
      (s, dir) => {
        val watch = CdcStream.ensureStaged(s, dir)
        val sink = CdcStream.runForeachBatchToDir(
          s, CdcStream.readEvents(s, watch),
          SparkUtil.freshDir("st8_sink", dir))
        s.read.parquet(sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- ST: streaming upsert into a keyed state table
    QueryDef(
      "q_st9_stream_state_merge", "ST foreachBatch last-wins state table",
      // the reference's daily fact UPSERT, continuous: every
      // micro-batch merges each user's latest event last-wins into a
      // parquet state table with an atomic directory swap
      // (write-new → rename; a retried batch re-merges idempotently).
      // Last-wins under the total order (ts, event_id) is associative
      // across any batch split, so the final table equals the batch
      // closed form regardless of how the source micro-batched.
      Some("""WITH last AS (SELECT user_id, ts, event_type, event_id,
             |  row_number() OVER (PARTITION BY user_id
             |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |SELECT event_type AS last_type, count(*) AS n_users,
             |CAST(sum(event_id) AS BIGINT) AS id_sum,
             |CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
             |FROM last WHERE rn = 1 GROUP BY 1 ORDER BY last_type""".stripMargin),
      (s, dir) => {
        val watch = CdcStream.ensureStaged(s, dir)
        val state = CdcStream.runMergeToStateTable(
          s, CdcStream.readEvents(s, watch),
          SparkUtil.freshDir("st9_state", dir))
        s.read.parquet(state)
          .groupBy(col("last_type"))
          .agg(count(lit(1)).as("n_users"), sum(col("last_id")).as("id_sum"),
            max(unix_micros(col("last_ts"))).as("max_ts_us"))
          .orderBy("last_type")
      }),

    // ---------------------------------------------------------------- ST: CDC tombstones + watermark-gated compaction
    QueryDef(
      "q_st18_stream_tombstones", "ST CDC delete tombstones (S13/S14 retract semantics)",
      // q_st9's continuous last-wins state with DELETES: 'error' is
      // the account-deletion tombstone. Tombstones stay IN the merged
      // state across batches (dropping one would let a later-arriving
      // OLDER event resurrect the user — last-wins is associative only
      // with the tombstone in place); physical compaction applies only
      // past the watermark horizon (2024-01-16 UTC here), which a
      // bounded source reaches at stream end. The ledger pins both
      // the retained state (n_state) and the visible view (n_visible
      // masks the tombstone type entirely).
      Some("""WITH last AS (SELECT user_id, ts, event_type, event_id,
             |  row_number() OVER (PARTITION BY user_id
             |    ORDER BY ts DESC, event_id DESC) AS rn FROM events),
             |st AS (SELECT user_id, ts, event_type, event_id FROM last WHERE rn = 1),
             |kept AS (SELECT * FROM st
             |  WHERE event_type <> 'error' OR epoch_us(ts) >= 1705363200000000)
             |SELECT event_type AS last_type, count(*) AS n_state,
             |  CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_visible,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum
             |FROM kept GROUP BY 1 ORDER BY last_type""".stripMargin),
      (s, dir) => {
        val watch = CdcStream.ensureStaged(s, dir)
        val state = CdcStream.runMergeToStateTable(
          s, CdcStream.readEvents(s, watch),
          SparkUtil.freshDir("st18_state", dir))
        val compacted = CdcStream.compactTombstones(
          s.read.parquet(state), "error", horizonUs = 1705363200000000L)
        compacted
          .groupBy(col("last_type"))
          .agg(count(lit(1)).as("n_state"),
            sum(when(col("last_type") =!= "error", 1L).otherwise(0L))
              .cast("long").as("n_visible"),
            sum(col("last_id")).cast("long").as("id_sum"))
          .orderBy("last_type")
      }),

    // ---------------------------------------------------------------- ST: streaming pack-append (shard sequence continuity)
    QueryDef(
      "q_st19_stream_pack_append", "ST LLM-pack-append",
      // q_l84's arrival path run CONTINUOUSLY: new docs stream in 4
      // deterministic micro-batches (explicit (doc_id div 5) % 4
      // split, mtime-ordered files) and each batch extends the
      // standing shard sequence via packShardsAppend with the
      // cumulative token base — batch k's first doc continues the
      // partial tail shard batch k-1 left, so a training loader sees
      // ONE gap-free shard numbering across any number of appends.
      // The base ledger is keyed by batch id and stores each batch's
      // pre-advance base: a retried batch re-packs at its ORIGINAL
      // offset and cannot advance the base twice — the offset twin of
      // q_st8's idempotent sink, idempotent in both the ledger and
      // the batch's own output partition.
      // The oracle replays the whole arrival history in one
      // window ordered by (batch, md5): per-shard sums match only if
      // every batch packed at exactly the right offset, which is the
      // continuity invariant stated as SQL. Shards that straddle a
      // batch boundary are merged by the final ledger groupBy.
      Some(s"""${LlmQueries.packTokensOracleCte(", (doc_id // 5) % 4 AS batch_idx")},
             |base AS (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS bt
             |         FROM t WHERE doc_id % 5 <> 0),
             |${LlmQueries.appendShardsOracleCte("batch_idx, ord, doc_id")}
             |${LlmQueries.shardSumsOracle}""".stripMargin),
      (s, dir) => {
        val watch = CdcStream.ensureStagedDocBatchesIndexed(s, dir)
        // 1-row collect: the standing corpus's token total — the
        // stream's initial append base, not data
        val base = Tables.documents(s, dir)
          .filter(col("doc_id") % 5 =!= 0)
          .agg(coalesce(
            sum(graft.llm.TextAnalysis.tokenCount(col("text")).cast("long")),
            lit(0L)))
          .collect()(0).getLong(0) // 1-row aggregate: the initial append base
        val stream = CdcStream.fileBatches(s, watch)
        val outDir = SparkUtil.freshDir("q_st19_out", dir)
        // batch-id-keyed append-offset ledger: a retried micro-batch
        // re-packs at its ORIGINAL base (so its own partition
        // rewrites value-identical) and cannot advance the base twice
        // — replay-idempotent on both sides, see AppendBaseLedger
        val ledger = new CdcStream.AppendBaseLedger(base)
        CdcStream.runForeachBatchTransformWithId(s, stream, outDir) { (b, batchId) =>
          val packed = graft.llm.Corpus.packShardsAppend(
              b.select(col("doc_id"), col("text")),
              "doc_id", "text", 2048L, ledger.baseFor(batchId))
            .localCheckpoint(false) // read twice: token total + ledger
          val btok = packed
            .agg(coalesce(sum(col("n_tokens")), lit(0L)))
            .collect()(0).getLong(0) // 1-row aggregate: this batch's token total
          ledger.advance(batchId, btok)
          packed.groupBy("shard_id")
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_tokens")).cast("long").as("shard_tokens"),
              sum(col("doc_id")).cast("long").as("id_sum"))
        }
        // a shard straddling a batch boundary appears in two batch
        // partitions — the ledger merge is the continuity proof
        s.read.parquet(outDir)
          .groupBy("shard_id")
          .agg(sum(col("n_docs")).cast("long").as("n_docs"),
            sum(col("shard_tokens")).cast("long").as("shard_tokens"),
            sum(col("id_sum")).cast("long").as("id_sum"))
          .orderBy("shard_id")
      }),

    // ---------------------------------------------------------------- ST: streaming deletion-vector maintenance
    QueryDef(
      "q_st20_stream_dv_maintain", "ST S15 (streaming merge-on-read delete maintenance)",
      // q_s29's deletion vectors maintained CONTINUOUSLY: GDPR delete
      // requests arrive on the document stream (every third arriving
      // doc id), and each micro-batch resolves its ids to base-file
      // positions and lands them as its own DV sidecar partition —
      // overwrite-own-batch idempotent (a retried batch rewrites the
      // identical position set; DV union is a set, so replay cannot
      // over-delete). Position resolution is routed through the
      // per-file BLOOM manifest (q_s28): only files whose filter
      // might contain a requested id are scanned, so per-batch cost
      // is |candidate files|, not the table — the composition that
      // keeps continuous delete maintenance viable at 100 TB. The
      // base is never rewritten; readers subtract the accumulated
      // sidecars at scan time. Because DV union is order- and
      // split-insensitive, the final live set equals the batch closed
      // form however the source micro-batched — the oracle is that
      // closed form (arriving slice = doc_id % 5, deletes = % 3 of
      // it, i.e. doc_id % 15 overall).
      Some("""SELECT lang, count(*) AS n_live,
             |CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |CAST(sum(n_chars) AS BIGINT) AS chars_sum
             |FROM documents WHERE NOT (doc_id % 15 = 0)
             |GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_st20_dv", dir)
        val (base, dvDir) = (s"$tmp/base", s"$tmp/dv")
        val (mBits, k) = (1 << 20, 4)
        Tables.documents(s, dir)
          .repartition(8, col("doc_id"))
          .write.mode("overwrite").parquet(base)
        // |files|-row manifest, pinned once — every micro-batch probes
        // it instead of re-deriving it (localCheckpoint, not cache:
        // the Bench sweep reaps it between passes)
        val manifest = graft.io.Layout.bloomManifest(s, base, "doc_id", mBits, k)
          .localCheckpoint(true)
        val watch = CdcStream.ensureStagedDocBatches(s, dir)
        val stream = CdcStream.fileBatches(s, watch)
        CdcStream.runForeachBatchTransformWithId(s, stream, dvDir) { (b, _) =>
          DeletionVectors.resolve(s, manifest,
            b.filter(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", mBits, k)
        }
        DeletionVectors.readWithDv(s, base, dvDir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_live"),
            sum(col("doc_id")).as("id_sum"),
            sum(col("n_chars")).as("chars_sum"))
          .orderBy("lang")
      }),

    // ---------------------------------------------------------------- ST: streaming DV COMPACTION (merge-on-read → copy-on-write escalation mid-stream)
    QueryDef(
      "q_st21_stream_dv_compact", "ST S15 S4 (mid-stream deletion-vector compaction)",
      // closes the q_st20 → q_s29 gap: q_st20 maintains DVs
      // continuously but compaction (the copy-on-write escalation for
      // files past a deleted-fraction threshold) only ran in batch.
      // Here each micro-batch (1) appends its resolved delete
      // positions as a DV sidecar, then (2) checks the per-file
      // deleted fraction against the live stats manifest and, when a
      // file crosses the threshold MID-STREAM, rewrites just that
      // file's live rows into a new generation, tombstones the old
      // file (logically — bytes on disk are never touched), and
      // publishes a manifest delta for the new file so LATER batches
      // resolve deletes against it. Deletes target doc_id classes 0-1
      // (mod 8) and the base is laid out one file per class, so two
      // files accumulate ~6.7% deletes — crossing the 3% threshold
      // around the stream's midpoint — while the six cold files never
      // compact: post-compaction delete batches then exercise the
      // generation files (which can themselves cross the threshold
      // and re-compact). Every per-batch write is
      // overwrite-own-batch-dir, so a replayed batch sees the same
      // DV/manifest/tombstone state and lands value-identical. DV
      // union and tombstone sets are order-insensitive, so the final
      // live set equals the batch closed form however the source
      // micro-batched and WHENEVER compaction fired — which is
      // exactly what the oracle checks; the cold-files-untouched and
      // compaction-actually-fired physics are pinned in
      // DvCompactionSpec. At 100 TB: per-batch delete resolution is
      // |candidate files| via the Bloom manifest, compaction cost is
      // |rows in crossing files| only, and manifest/tombstone
      // maintenance is |files|-row metadata.
      liveBySourceOracle("NOT (doc_id % 15 = 0 AND doc_id % 8 < 2)"),
      (s, dir) => {
        // fresh run: stale generations poison the union
        val dvt = DeletionVectors.Ledger(SparkUtil.freshDir("q_st21_dvc", dir), "doc_id",
          mBits = 1 << 17, k = 3, threshold = 0.03)
        // base layout: one file per doc_id class (mod 8) — the unit of
        // compaction is the FILE, so the class layout concentrates the
        // deletes in exactly two of eight files
        Tables.documents(s, dir)
          .withColumn("cls", pmod(col("doc_id"), lit(8)))
          .repartition(8, col("cls"))
          .write.partitionBy("cls").mode("overwrite").parquet(dvt.base)
        DeletionVectors.create(s, dvt)
        val watch = CdcStream.ensureStagedDocBatches(s, dir)
        val stream = CdcStream.fileBatches(s, watch)
        CdcStream.runForeachBatchEffect(s, stream) { (b, batchId) =>
          DeletionVectors.applyBatch(s, dvt,
            b.filter(col("doc_id") % 3 === 0 && pmod(col("doc_id"), lit(8)) < 2)
              .select("doc_id"), batchId)
        }
        liveBySource(DeletionVectors.read(s, dvt))
      }),

    // ---------------------------------------------------------------- ST: transactional streaming sink (commit-log visibility)
    QueryDef(
      "q_st22_stream_txn_sink", "ST S15 (exactly-once sink via version claims)",
      // the TableLog commit protocol (q_s33/q_s35) as a STREAMING
      // sink — the Delta streaming-sink idea: each micro-batch stages
      // its files (overwrite-own-batch-dir, value-identical under
      // replay) and then makes them VISIBLE by claiming version
      // batchId+1 in the log. Readers resolve the table through the
      // log, so a half-written batch is never observable (files exist
      // but are not live), and exactly-once holds two ways: a
      // replayed batch's staging rewrite is idempotent AND its
      // version claim is refused (put-if-absent) — which the query
      // exercises by re-claiming batch 0's version after the stream
      // and requiring both the refusal and an unchanged live set.
      // The oracle is the batch closed form over all events: a
      // dropped batch, a double-counted replay, or a leaked
      // uncommitted file is a hash mismatch. At 100 TB the claim is
      // one create-fails-if-exists call per batch and the live-set
      // replay is |commits| metadata — the sink's data path stays a
      // plain distributed parquet write.
      Some("""SELECT event_type, count(*) AS n,
             |CAST(sum(event_id) AS BIGINT) AS id_sum,
             |CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_st22_txn", dir) // fresh log: stale claims poison the replay check
        val (watch, dataDir, logDir) = (s"$tmp/watch", s"$tmp/data", s"$tmp/log")
        Tables.events(s, dir)
          .select("event_id", "user_id", "event_type", "ts")
          .repartitionByRange(4, col("event_id"))
          .write.mode("overwrite").parquet(watch)
        val stream = CdcStream.fileBatches(s, watch)
        CdcStream.runForeachBatchEffect(s, stream) { (batch, batchId) =>
          val staged = TableLog.land(batch, s"$dataDir/batch=$batchId") // idempotent staging
          val claimed = TableLog.tryClaim(s, logDir,
            TableLog.Commit(batchId.toInt + 1, "stream-writer", staged, Nil))
          require(claimed, s"single writer lost its claim on batch $batchId")
        }
        val live = TableLog.liveFiles(TableLog.readCommits(s, logDir))
        // replay simulation: batch 0 fires again — claim refused, live set fixed
        require(!TableLog.tryClaim(s, logDir, TableLog.Commit(1, "replayed-writer",
            TableLog.filesUnder(s, s"$dataDir/batch=0"), Nil)),
          "a replayed batch must not re-claim its version")
        require(TableLog.liveFiles(TableLog.readCommits(s, logDir)) == live,
          "live set changed under a replayed claim")
        s.read.parquet(live: _*)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("event_id")).cast("long").as("id_sum"),
            max(unix_micros(col("ts"))).as("max_ts_us"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- ST: streaming HLL distinct sketch
    QueryDef(
      "q_st10_stream_hll", "ST HLL distinct (bounded streaming state)",
      // per-type distinct users counted IN-STREAM with HyperLogLog
      // registers: the streaming aggregation state is 64 ints per
      // group (a max-merge — legal and bounded in Structured
      // Streaming, unlike countDistinct, whose state grows with the
      // id universe). Because register max is order-insensitive, the
      // stream's finished registers are IDENTICAL to the batch
      // sketch, so the oracle is q_a37's closed form verbatim — the
      // strongest convergence check a streaming sketch can get. The
      // finalize (grid + harmonic sum) runs as a tiny batch step over
      // the memory sink.
      StatQueries.hllDistinctOracle,
      (s, dir) => {
        val watch = CdcStream.ensureStaged(s, dir)
        val streamed = graft.llm.Sketches.hllRegisters(
          CdcStream.readEvents(s, watch), Seq("event_type"), "user_id")
        val registers = CdcStream.runToMemory(s, streamed, "q_st10_mem")
        val fin = graft.llm.Sketches.hllEstimate(registers, Seq("event_type"))
        val x = s.read.parquet(s"$dir/events.parquet")
          .groupBy("event_type").agg(countDistinct("user_id").as("n_exact"))
        StatQueries.hllDistinctAnswer(fin, x)
      }),

    // ---------------------------------------------------------------- ST: streaming Count-Min heavy hitters
    QueryDef(
      "q_st11_stream_countmin", "ST Count-Min heavy hitters (bounded streaming state)",
      // per-user event frequencies estimated IN-STREAM with a Count-Min
      // sketch: the streaming aggregation state is <= 4x1024 cell
      // counters no matter how many users exist (a sum-merge — legal
      // and bounded in Structured Streaming, where an exact per-user
      // count's state grows with the user universe). Because cell
      // counts are order-insensitive sums, the stream's finished cells
      // are IDENTICAL to the batch sketch, so the oracle rebuilds the
      // sketch from the same md5 derivation and the estimates compare
      // value-exact against the exact top-10 users — including the CM
      // overcount invariant (cm_est >= exact_n, always).
      Some("""WITH tok AS (SELECT CAST(user_id AS VARCHAR) AS tok FROM events),
             |cells AS (
             |  SELECT r, CAST(('0x' || substr(md5(r || ':' || tok), 1, 8)) AS UBIGINT)
             |           % 1024 AS b, count(*) AS c
             |  FROM tok CROSS JOIN generate_series(0, 3) g(r) GROUP BY 1, 2),
             |ex AS (SELECT tok, count(*) AS exact_n FROM tok GROUP BY 1
             |       ORDER BY exact_n DESC, tok LIMIT 10)
             |SELECT ex.tok AS user_id, ex.exact_n, CAST(min(c.c) AS BIGINT) AS cm_est
             |FROM ex CROSS JOIN generate_series(0, 3) g(r)
             |JOIN cells c ON c.r = g.r
             | AND c.b = CAST(('0x' || substr(md5(g.r || ':' || ex.tok), 1, 8)) AS UBIGINT) % 1024
             |GROUP BY 1, 2 ORDER BY exact_n DESC, user_id""".stripMargin),
      (s, dir) => {
        val watch = CdcStream.ensureStaged(s, dir)
        val streamToks = CdcStream.readEvents(s, watch)
          .select(col("user_id").cast("string").as("tok"))
        val cells = CdcStream.runToMemory(s,
          graft.llm.Sketches.buildTokenSketch(streamToks, "tok"), "q_st11_mem")
        val top = s.read.parquet(s"$dir/events.parquet")
          .select(col("user_id").cast("string").as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("tok")).limit(10)
        graft.llm.Sketches.estimate(top, "tok", cells)
          .select(col("tok").as("user_id"), col("exact_n"), col("cm_est"))
          .orderBy(col("exact_n").desc, col("user_id"))
      }),

    // ---------------------------------------------------------------- ST: streaming as-of enrichment (native exec per micro-batch)
    QueryDef(
      "q_st12_stream_asof_enrich", "ST as-of enrichment (foreachBatch + native exec)",
      // purchases arrive as a STREAM and each micro-batch enriches
      // against the static view history with the native Catalyst
      // as-of exec (the broadcast form at this scale). As-of against
      // a static right side distributes over left batches — the union
      // of per-batch joins IS the batch join — so q_w4's DuckDB ASOF
      // oracle applies verbatim. Idempotent overwrite-own-partition
      // sink per batch (q_st8's exactly-once contract).
      RelationalQueries.asofPurchasesOracle,
      (s, dir) => {
        val watch = CdcStream.ensureStaged(s, dir)
        val hist = Tables.events(s, dir)
          .filter(col("event_type") === "view").select("user_id", "ts")
        val stream = CdcStream.readEvents(s, watch)
          .filter(col("event_type") === "purchase").select("user_id", "ts")
        val outDir = SparkUtil.freshDir("q_st12_out", dir)
        CdcStream.runForeachBatchTransform(s, stream, outDir)(b =>
          graft.plans.NativeAsOfJoin.joinAsOfBackward(
            b, hist, Seq("user_id"), "ts", "ts", Seq("ts")))
        RelationalQueries.asofDailyGaps(s.read.parquet(outDir))
      }),

    // ---------------------------------------------------------------- ST: multimodal decode inside the stream
    QueryDef(
      "q_st13_stream_decode", "ST LLM-multimodal-meta",
      // a media INGEST stream: each arriving event carries a binary
      // payload (synthesized PNG/GIF/JPEG per event_id % 3, like the
      // q_m fixtures) and the STREAMING aggregation groups by the
      // format `decodeImage` detects and sums the parsed dimensions —
      // pinning that the whole decode family (native header
      // expressions + the JPEG marker-walk and encoder UDFs) plans
      // and serializes inside Structured Streaming micro-batches.
      // Bounded stream → the batch closed form is the oracle.
      Some("""SELECT CASE event_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
             |            ELSE 'jpeg' END AS format,
             |count(*) AS n,
             |CAST(sum(event_id % 64 + 1) AS BIGINT) AS sum_width,
             |CAST(sum(event_id % 48 + 1) AS BIGINT) AS sum_height
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val name = "q_st13_mem"
        val watch = CdcStream.ensureStaged(s, dir)
        val w = (col("event_id") % 64 + 1).cast("int")
        val h = (col("event_id") % 48 + 1).cast("int")
        val m = col("event_id") % 3
        val payload = when(m === 0,
            graft.llm.Multimodal.pngPayload(w, h, col("event_type")))
          .when(m === 1, graft.llm.Multimodal.gifPayload(w, h, col("event_type")))
          .otherwise(graft.llm.Jpeg.jpegPixelPayload(col("event_id"), w, h))
        // one staged file = ONE input partition per micro-batch; the
        // stateless spread runs BEFORE payload synthesis so the
        // shuffle carries tiny event rows and the codec work runs
        // cluster-wide (the q_st17 precedent; r15 — decode was
        // serializing on one task). Long-sum aggregation is
        // order-insensitive, so results are unchanged.
        val decoded = CdcStream.readEvents(s, watch)
          .repartition(s.sparkContext.defaultParallelism)
          .select(graft.llm.Multimodal.decodeImage(payload).as("img"))
          .groupBy(col("img.format").as("format"))
          .agg(count(lit(1)).as("n"),
            sum(col("img.width").cast("long")).as("sum_width"),
            sum(col("img.height").cast("long")).as("sum_height"))
        CdcStream.runToMemory(s, decoded, name)
          .orderBy("format")
      }),

    // ---------------------------------------------------------------- ST: continuous-ingest incremental dedup
    QueryDef(
      "q_st15_stream_incr_dedup", "ST LLM-dedup-incremental",
      // the production continuous-curation shape end to end: new
      // documents ARRIVE AS A STREAM (4 real micro-batches via
      // maxFilesPerTrigger=1) and each batch dedups against the
      // STANDING corpus with the q_l22 MinHash-LSH incremental path
      // inside foreachBatch; per-batch decisions land in idempotent
      // batch_id partitions (q_st8's exactly-once contract). Each new
      // doc's keep/reject decision depends only on (doc, corpus) —
      // never on batch boundaries — so the union of batch decisions
      // IS the batch-mode q_l22 result, and its exact closed-form
      // oracle applies verbatim: the strongest convergence check the
      // streaming form can get.
      LlmQueries.incrementalDedupOracle,
      (s, dir) => {
        val watch = CdcStream.ensureStagedDocBatches(s, dir)
        val corpus = graft.Tables.documents(s, dir)
          .filter(col("doc_id") % 5 =!= 0)
          .select("doc_id", "text")
          .localCheckpoint(false) // standing corpus: scanned once, pinned across batches
        // r15: the corpus's shingle + 128-perm MinHash banding is a
        // pure function of the STANDING corpus — band once and pin,
        // instead of recomputing it inside every micro-batch (it was
        // the dominant per-batch cost; the verify join still
        // re-shingles only candidate docs, per batch, from `corpus`)
        val cBands = graft.llm.Dedup.corpusBands(
            corpus, "doc_id", "text", shingleN = 3, perms = 128, bands = 32)
          .localCheckpoint(false)
        val stream = CdcStream.fileBatches(s, watch)
        val outDir = SparkUtil.freshDir("q_st15_out", dir)
        CdcStream.runForeachBatchTransform(s, stream, outDir)(b =>
          graft.llm.Dedup.dedupAgainstCorpusBanded(
            b, cBands, corpus, "doc_id", "text",
            shingleN = 3, perms = 128, bands = 32, threshold = 0.8))
        s.read.parquet(outDir)
          .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("new_id")
      }),

    // ---------------------------------------------------------------- ST: streaming quality gate (batch-trained model)
    QueryDef(
      "q_st16_stream_quality_gate", "ST LLM-quality-classifier",
      // the other half of continuous curation (q_st15 dedups, this
      // FILTERS): the NB quality classifier is trained ONCE on the
      // standing corpus (doc_id % 5 <> 0, q_l59's seed sources) and
      // pinned; each arriving micro-batch of new docs is scored
      // against the broadcast model inside foreachBatch and its
      // accept/reject decisions land in idempotent batch_id
      // partitions. Decisions depend only on (doc, model) — never on
      // batch boundaries — so the union equals the batch-mode scoring
      // of the streamed slice and the exact-decimal oracle applies
      // verbatim.
      Some(s"""${LlmQueries.nbOracleCtes(
                 seedWhere = s"doc_id % 5 <> 0 AND ${LlmQueries.NbSeedSources}")}
              |SELECT d.source, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN prior.prior + coalesce(s.token_score, 0) > 0
              |           THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
              |FROM documents d CROSS JOIN prior
              |LEFT JOIN scores s ON s.doc_id = d.doc_id
              |WHERE d.doc_id % 5 = 0
              |GROUP BY d.source ORDER BY d.source""".stripMargin),
      (s, dir) => {
        import graft.llm.Classifier
        val watch = CdcStream.ensureStagedDocBatches(s, dir)
        val (_, m, p) = LlmQueries.nbSeedModel(
          Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0))
        // trained once, pinned: every micro-batch reads the same model
        val (model, prior) = (m.localCheckpoint(false), p.localCheckpoint(false))
        val stream = CdcStream.fileBatches(s, watch)
        val outDir = SparkUtil.freshDir("q_st16_out", dir)
        CdcStream.runForeachBatchTransform(s, stream, outDir) { b =>
          val scored = Classifier.nbScore(b, "doc_id", "text", model, prior, buckets = 64)
          b.select(col("doc_id"), col("source"))
            .join(scored.select(col("doc_id"), col("accept")), Seq("doc_id"))
        }
        s.read.parquet(outDir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("accept").cast("long")).as("n_accept"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- ST: streaming covariance state
    QueryDef(
      "q_st17_stream_covariance", "ST LLM-pca",
      // the PCA kernel maintained AS STREAMING STATE: embeddings
      // arrive in 4 micro-batches and the d² raw-moment cells
      // (Σxᵢxⱼ, Σxᵢ, Σxⱼ, n as exact decimals) accumulate in a
      // streaming aggregation whose state is BOUNDED at d(d+1)/2+d
      // rows (the lower triangle + marginals, see the r15 note below)
      // however much data flows — decimal addition is
      // order-insensitive, so the finished cells are IDENTICAL to the
      // batch build (q_st10's convergence argument, now for
      // second-order moments). Finalize (cov = (Σxy − ΣxΣy/n)/(n−1),
      // top-8 cells by |cov|) runs as a tiny batch step over the
      // memory sink; the oracle is the batch closed form. Raw moments
      // rather than q_l63's centered products because centering needs
      // the final mean — the streaming-legal formulation is the
      // mergeable one.
      Some("""WITH ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |x1 AS (SELECT vec_id, generate_subscripts(e, 1) AS j, unnest(e) AS x FROM ve),
             |p2 AS (SELECT a.j AS ci, b.j AS cj, a.x AS xi, b.x AS xj
             |  FROM x1 a JOIN x1 b ON a.vec_id = b.vec_id),
             |cells AS (SELECT ci, cj,
             |    CAST(sum(CAST(round(xi * xj, 10) AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
             |    CAST(sum(CAST(round(xi, 10) AS DECIMAL(28,10))) AS DOUBLE) AS sx,
             |    CAST(sum(CAST(round(xj, 10) AS DECIMAL(28,10))) AS DOUBLE) AS sy,
             |    count(*) AS n
             |  FROM p2 GROUP BY 1, 2),
             |cov AS (SELECT ci, cj, (sxy - sx * sy / n) / (n - 1) AS cov FROM cells)
             |SELECT CAST(ci AS BIGINT) AS ci, CAST(cj AS BIGINT) AS cj,
             |  round(cov, 8) AS cov
             |FROM cov ORDER BY abs(cov) DESC, ci, cj LIMIT 8""".stripMargin),
      (s, dir) => {
        val name = "q_st17_mem"
        val watch = CdcStream.ensureStagedEmbBatches(s, dir)
        val stream = CdcStream.fileBatches(s, watch)
        val asD = graft.llm.Similarity.asDouble(col("embedding"))
        // one file per trigger = ONE input partition per micro-batch;
        // without this stateless shuffle the batch's d²-explode and
        // partial aggregation serialize into a single task (measured
        // 37 s for the 4-batch run → 6 s at 32-way)
        // the first-moment sums Σround(xi,10) / Σround(xj,10) depend
        // only on ci (resp. cj), yet the original form re-accumulated
        // them per (ci,cj) CELL — 3 round+decimal-cast+decimal-add
        // chains per d² row (measured 65 cpuSec, the registry's
        // heaviest per-task stage). Prepending a 1.0 to the exploded
        // vector emits one MARGINAL row per (vec, i) under cj=0
        // (xi·1.0 ≡ xi bit-exactly, so its Σround(xi·xj,10) IS the
        // first moment), and each d² cell keeps only its second
        // moment + count: one decimal chain per row instead of three.
        // r15: the moment matrix is SYMMETRIC — round(xi·xj,10) is
        // bit-exactly round(xj·xi,10) (IEEE multiplication commutes)
        // and decimal addition is order-insensitive, so sxyd(ci,cj) ≡
        // sxyd(cj,ci) addend-for-addend. The explode therefore emits
        // only the LOWER triangle cj ≤ ci (a slice of the prepended
        // vector, ~half the rows/decimal chains), and finalize mirrors
        // the off-diagonal cells back — the full matrix the top-8
        // scan reads is value-identical. Streaming state: 2080
        // triangle cells + 64 marginals, still bounded; the finished
        // moments are identical to the batch build and the oracle.
        // ASSUMPTION (ADVICE r14): the marginal-join rewrite (and now
        // the triangle slice) is equivalent to per-cell first-moment
        // sums only because every embedding array has the SAME length
        // and no null elements — a ragged or null-element vector would
        // desynchronize a cell's n from its joined marginals. Holds
        // for the generated embeddings table by construction; a schema
        // change to nullable/variable-length embeddings must revisit
        // this query (the oracle hash would catch a violation).
        val pairs = stream
          .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
          .select(col("vec_id"), asD.as("e"))
          .select(col("vec_id"), col("e"), posexplode(col("e")).as(Seq("i0", "xi")))
          .select(col("i0"), col("xi"),
            posexplode(slice(concat(array(lit(1.0)), col("e")), lit(1),
              (col("i0") + 2).cast("int"))).as(Seq("j0", "xj")))
          .select((col("i0") + 1).cast("long").as("ci"),
            col("j0").cast("long").as("cj"), col("xi"), col("xj"))
        val cells = pairs
          .groupBy("ci", "cj")
          .agg(sum(round(col("xi") * col("xj"), 10).cast(DecimalType(28, 10))).as("sxyd"),
            count(lit(1)).as("n"))
        val finished = CdcStream.runToMemory(s, cells, name)
        val marg = finished.filter(col("cj") === 0)
          .select(col("ci").as("__mi"), col("sxyd").as("__m"))
        val tri = finished.filter(col("cj") > 0)
        val fullCells = tri.unionByName(
          tri.filter(col("ci") =!= col("cj"))
            .select(col("cj").as("ci"), col("ci").as("cj"),
              col("sxyd"), col("n")))
        fullCells
          .join(marg, col("ci") === col("__mi"))
          .withColumn("sxd", col("__m")).drop("__mi", "__m")
          .join(marg, col("cj") === col("__mi"))
          .withColumn("syd", col("__m")).drop("__mi", "__m")
          .select(col("ci"), col("cj"),
            ((col("sxyd").cast("double")
              - col("sxd").cast("double") * col("syd").cast("double") / col("n"))
              / (col("n") - 1)).as("cov"))
          .select(col("ci"), col("cj"), round(col("cov"), 8).as("cov"))
          .orderBy(abs(col("cov")).desc, col("ci"), col("cj"))
          .limit(8)
      }),

    // ---------------------------------------------------------------- ST: streaming histogram quantile sketch
    QueryDef(
      "q_st14_stream_quantile", "ST A43 quantile sketch (bounded streaming state)",
      // per-type value quantiles sketched IN-STREAM: the streaming
      // aggregation state is ≤512 bucket counts per group (count
      // addition is order-insensitive, so the finished sketch is
      // IDENTICAL to the batch build — q_st10's convergence argument,
      // now for quantiles). Finalize (cumulative rank walk over ≤512
      // rows, bucket midpoint) runs as a tiny batch step over the
      // memory sink; oracle is the batch closed form verbatim.
      Some("""WITH b AS (SELECT event_type,
             |    least(511, greatest(0,
             |      CAST(floor((value - 0.0) / 600.0 * 512) AS INT))) AS hb
             |  FROM events),
             |h AS (SELECT event_type, hb, count(*) AS c FROM b GROUP BY 1, 2),
             |c AS (SELECT event_type, hb, c,
             |        sum(c) OVER (PARTITION BY event_type ORDER BY hb) AS cum,
             |        sum(c) OVER (PARTITION BY event_type) AS n
             |      FROM h),
             |q AS (SELECT * FROM (VALUES ('p50', 0.5), ('p90', 0.9)) AS t(q_name, qf)),
             |sel AS (SELECT event_type, q_name, min(hb) AS b, min(n) AS n
             |        FROM c CROSS JOIN q WHERE cum >= ceil(qf * n)
             |        GROUP BY 1, 2)
             |SELECT event_type, q_name, 0.0 + (b + 0.5) * 600.0 / 512 AS est,
             |  CAST(n AS BIGINT) AS n
             |FROM sel ORDER BY event_type, q_name""".stripMargin),
      (s, dir) => {
        val name = "q_st14_mem"
        val watch = CdcStream.ensureStaged(s, dir)
        val streamSketch = graft.llm.Sketches.histogramSketch(
          CdcStream.readEvents(s, watch), Seq("event_type"), "value",
          lo = 0.0, hi = 600.0, buckets = 512)
        val sketch = CdcStream.runToMemory(s, streamSketch, name)
        graft.llm.Sketches.sketchQuantiles(sketch, Seq("event_type"),
            Seq(("p50", 0.5), ("p90", 0.9)), lo = 0.0, hi = 600.0, buckets = 512)
          .select("event_type", "q_name", "est", "n")
          .orderBy("event_type", "q_name")
      }),

    // ---------------------------------------------------------------- S37 (copy-on-write MERGE INTO)
    QueryDef(
      "q_s37_merge_into", "S9 S15 (COW MERGE INTO: update/delete/insert clauses)",
      // full MERGE semantics over the TableLog table (io/CowMerge):
      // matched & op='D' deletes, matched & op='U' updates ONLY the
      // price column (the target's own priority must survive — the
      // clause distinction the oracle checks, since inserts carry the
      // sentinel 'FROM-SRC' priority and form their own output group),
      // unmatched op='U' inserts. The target lands as 8 key-RANGE
      // files and the source keys live in a contiguous band
      // (k ≤ max/4), so the COW rewrite must touch a strict subset of
      // files — pinned by a require, as is by-reference survival of
      // every untouched file. The oracle replays the merge as its
      // closed-form relational algebra; a clause misapplied (update
      // overwriting priority, delete resurrected, double insert) is a
      // hash mismatch. At 100 TB: discovery is a key+filename
      // projection vs broadcast source keys, the rewrite reads only
      // touched files, and the commit is one metadata claim — cost
      // tracks matched data, never table size.
      Some("""WITH mx AS (SELECT CAST(floor(max(o_orderkey) / 4.0) AS BIGINT) AS cut FROM orders),
             |tgt AS (SELECT o_orderkey AS k, o_totalprice AS price, o_orderpriority AS priority
             |        FROM orders WHERE o_orderkey % 3 <> 2),
             |src AS (SELECT o_orderkey AS k,
             |               CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 100.00 AS DOUBLE) AS price,
             |               CASE WHEN o_orderkey % 2 = 0 THEN 'D' ELSE 'U' END AS op
             |        FROM orders, mx WHERE o_orderkey % 5 = 0 AND o_orderkey <= cut),
             |merged AS (
             |  SELECT t.k, t.price, t.priority FROM tgt t
             |  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.k = t.k)
             |  UNION ALL
             |  SELECT s.k, s.price, t.priority FROM src s JOIN tgt t ON s.k = t.k
             |  WHERE s.op = 'U'
             |  UNION ALL
             |  SELECT s.k, s.price, 'FROM-SRC' FROM src s
             |  WHERE s.op = 'U' AND NOT EXISTS (SELECT 1 FROM tgt t WHERE t.k = s.k))
             |SELECT priority, count(*) AS n,
             |CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM merged GROUP BY priority ORDER BY priority""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s37_merge", dir) // idempotent re-runs
        val (dataDir, logDir) = (s"$tmp/data", s"$tmp/log")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            col("o_orderpriority").as("priority"))
        val maxK = o.agg(max(col("k")).cast("long")).head.getLong(0)
        val cut = maxK / 4 // floor — keys are positive
        val ingested = TableLog.land(
          o.filter(col("k") % 3 =!= 2).repartitionByRange(8, col("k")), s"$dataDir/c1")
        require(TableLog.tryClaim(s, logDir,
          TableLog.Commit(1, "ingest", ingested, Nil)))
        val src = o.filter(col("k") % 5 === 0 && col("k") <= cut)
          .select(col("k"),
            (col("price").cast(DecimalType(18, 2)) + lit(BigDecimal("100.00")))
              .cast("double").as("price"),
            lit("FROM-SRC").as("priority"),
            when(col("k") % 2 === 0, "D").otherwise("U").as("op"))
        val stats = CowMerge.merge(s, logDir, baseVersion = 1, key = "k",
          op = "op", source = src, updateCols = Seq("price"),
          newDataDir = s"$dataDir/c2", numFiles = 2, committer = "merge") match {
          case Right(st) => st
          case Left(blocking) => sys.error(s"merge aborted on $blocking")
        }
        require(stats.version == 2, s"merge should land as v2: ${stats.version}")
        require(stats.touched.nonEmpty && stats.touched.size < ingested.size,
          s"COW must rewrite a strict subset: ${stats.touched.size}/${ingested.size}")
        val live = TableLog.liveFiles(TableLog.readCommits(s, logDir))
        require((ingested.toSet -- stats.touched.toSet).subsetOf(live.toSet),
          "untouched files must survive by reference")
        s.read.parquet(live: _*)
          .groupBy("priority")
          .agg(count(lit(1)).as("n"), dsum(col("price")).as("sum_price"))
          .orderBy("priority")
      }),

    // ---------------------------------------------------------------- S38 (row-level change data feed)
    QueryDef(
      "q_s38_change_feed", "S13 S14 S15 (CDF between versions from the commit log)",
      // the Delta change-data-feed read derived WITHOUT stored change
      // files (io/ChangeFeed): v1 ingests two-thirds of orders, v2 is
      // a COW rewrite that updates price on k%11 rows and deletes
      // k%13∧¬k%11 rows (the rewrite CARRIES every other row of the
      // touched files — those must emit NOTHING), v3 blind-appends the
      // remaining third. changes(v1→v3) nets the file delta, reads
      // only those files, and one keyed full-outer join classifies
      // insert / delete / update_preimage / update_postimage; the
      // pre/post fan-out is a generated-array explode, not a second
      // join. The oracle states the expected change set in closed
      // form per (change_type, priority) — a carried row leaking, a
      // missed preimage, or a misclassified append all shift a group.
      // At 100 TB: CDF cost tracks the version range's churn (net
      // delta files), never table size.
      Some("""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price,
             |                     o_orderpriority AS priority
             |             FROM orders WHERE o_orderkey % 3 <> 2),
             |changes AS (
             |  SELECT 'update_preimage' AS change_type, priority, price
             |  FROM base WHERE k % 11 = 0
             |  UNION ALL
             |  SELECT 'update_postimage', priority,
             |         CAST(CAST(price AS DECIMAL(18,2)) + 50.00 AS DOUBLE)
             |  FROM base WHERE k % 11 = 0
             |  UNION ALL
             |  SELECT 'delete', priority, price
             |  FROM base WHERE k % 13 = 0 AND k % 11 <> 0
             |  UNION ALL
             |  SELECT 'insert', o_orderpriority, o_totalprice
             |  FROM orders WHERE o_orderkey % 3 = 2)
             |SELECT change_type, priority, count(*) AS n,
             |CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM changes GROUP BY 1, 2 ORDER BY change_type, priority""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s38_cdf", dir) // idempotent re-runs
        val (dataDir, logDir) = (s"$tmp/data", s"$tmp/log")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            col("o_orderpriority").as("priority"))
        val v1 = TableLog.land(
          o.filter(col("k") % 3 =!= 2).repartition(6, col("k")), s"$dataDir/c1")
        require(TableLog.tryClaim(s, logDir, TableLog.Commit(1, "ingest", v1, Nil)))
        // v2: COW update (+50.00 on k%11) and delete (k%13 minus k%11)
        val isUpd = col("k") % 11 === 0
        val isDel = col("k") % 13 === 0 && col("k") % 11 =!= 0
        val hit = TableLog.filesMatching(s, v1, isUpd || isDel)
        require(hit.nonEmpty, "rewrite predicate matched no file — widen it")
        val rewritten = TableLog.land(
          s.read.parquet(hit: _*).filter(!isDel)
            .withColumn("price",
              when(isUpd, (col("price").cast(DecimalType(18, 2))
                + lit(BigDecimal("50.00"))).cast("double"))
                .otherwise(col("price")))
            .repartition(hit.size, col("k")),
          s"$dataDir/c2")
        require(TableLog.tryClaim(s, logDir,
          TableLog.Commit(2, "merge-rewrite", rewritten, hit)))
        // v3: blind append of the remaining third
        val appended = TableLog.land(
          o.filter(col("k") % 3 === 2).repartition(3, col("k")), s"$dataDir/c3")
        require(TableLog.tryClaim(s, logDir,
          TableLog.Commit(3, "append", appended, Nil)))
        ChangeFeed.changes(s, logDir, fromV = 1, toV = 3, key = "k")
          .groupBy("change_type", "priority")
          .agg(count(lit(1)).as("n"), dsum(col("price")).as("sum_price"))
          .orderBy("change_type", "priority")
      }),

    // ---------------------------------------------------------------- S39 (write-audit-publish)
    QueryDef(
      "q_s39_write_audit_publish", "S15 A5 (WAP: stage on a branch, audit, publish-or-abort)",
      // the Iceberg/Netflix write-audit-publish pattern over TableLog
      // branching: every batch stages on its own branch log (invisible
      // to main readers), a quality audit runs AGAINST THE STAGED
      // FILES (null merge keys, duplicate keys, negative measures —
      // the Validator battery's checks as a publish gate), and only a
      // passing batch squash-merges into main. Batch 1 is clean and
      // publishes as v2; batch 2 carries deterministically injected
      // duplicate keys (its k%8 slice re-appended), fails the audit,
      // and its staged files are swept — main must still read as
      // exactly ingest+batch1, which is what the oracle states; a
      // leaked bad batch or a lost good one is a hash mismatch. At
      // 100 TB: the audit is one aggregate over the staged batch
      // (not the table), the publish is one metadata commit, and a
      // rejected batch costs zero table I/O.
      Some("""SELECT o_orderpriority AS priority, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey % 4 IN (0, 1)
             |GROUP BY priority ORDER BY priority""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s39_wap", dir) // idempotent re-runs
        val (dataDir, mainLog) = (s"$tmp/data", s"$tmp/log/main")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            col("o_orderpriority").as("priority"))
        // audit: (null keys, duplicate keys, negative measures) of a batch
        def audit(files: Seq[String]): (Long, Long, Long) = {
          val r = s.read.parquet(files: _*)
            .agg(
              sum(when(col("k").isNull, 1L).otherwise(0L)).as("nulls"),
              (count(lit(1)) - countDistinct(col("k"))).as("dups"),
              sum(when(col("price") < 0, 1L).otherwise(0L)).as("neg"))
            .head
          (r.getLong(0), r.getLong(1), r.getLong(2))
        }
        val base = TableLog.land(
          o.filter(col("k") % 4 === 0).repartition(4, col("k")), s"$dataDir/c1")
        require(TableLog.tryClaim(s, mainLog, TableLog.Commit(1, "ingest", base, Nil)))
        // batch 1: clean — stage, audit, publish
        val wap1 = s"$tmp/log/wap1"
        val staged1 = TableLog.land(
          o.filter(col("k") % 4 === 1).repartition(3, col("k")), s"$dataDir/b1")
        require(TableLog.tryClaim(s, wap1, TableLog.Commit(1, "stage-b1", staged1, Nil)))
        val (n1, d1, g1) = audit(staged1)
        require(n1 == 0 && d1 == 0 && g1 == 0, s"clean batch failed audit: $n1/$d1/$g1")
        require(TableLog.squashMerge(s, mainLog, wap1, fork = 1, "publish-b1") == Right(2),
          "publishing the audited batch must land as v2")
        // batch 2: dirty (its k%8 slice duplicated) — stage, audit, ABORT
        val b2 = o.filter(col("k") % 4 === 2)
        val wap2 = s"$tmp/log/wap2"
        val staged2 = TableLog.land(
          b2.unionAll(b2.filter(col("k") % 8 === 2)).repartition(3, col("k")), s"$dataDir/b2")
        require(TableLog.tryClaim(s, wap2, TableLog.Commit(1, "stage-b2", staged2, Nil)))
        val (n2, d2, _) = audit(staged2)
        require(n2 == 0 && d2 > 0, s"the injected duplicates must trip the audit: $d2")
        TableLog.deleteFiles(s, staged2) // rejected batch sweeps its staged files
        val commits = TableLog.readCommits(s, mainLog)
        require(commits.map(_.version).max == 2,
          "a rejected batch must not move main")
        s.read.parquet(TableLog.liveFiles(commits): _*)
          .groupBy("priority")
          .agg(count(lit(1)).as("n"), dsum(col("price")).as("sum_price"))
          .orderBy("priority")
      }),

    // ---------------------------------------------------------------- S40 (history metadata table)
    QueryDef(
      "q_s40_history_table", "S15 (queryable table-history metadata relation)",
      // the Iceberg `history`/`snapshots` metadata-table idea over
      // TableLog: TableLog.history surfaces one row per commit
      // (version, committer, files added/removed, live-file count) as
      // an ordinary DataFrame; the query builds the q_s33-shaped
      // four-version table (two ingests, a compaction rewriting the
      // first ingest's files, one more ingest), joins the history
      // relation with a per-version time-travel row count, and pins
      // with requires that compaction SHRANK the live-file count
      // while leaving the row count fixed. The oracle states every
      // version's expected row count in closed form over orders — a
      // mis-replayed log (lost remove, double add, version misorder)
      // shifts a row. At 100 TB: history is |commits|² driver set
      // algebra over the log, no data scan; only the row-count audit
      // column reads data, and a production table would serve it from
      // commit-time stats (the q_s30 incremental-manifest route).
      Some("""WITH c AS (SELECT
             |  sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS a,
             |  sum(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END) AS b,
             |  sum(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END) AS d
             |  FROM orders)
             |SELECT version, committer, CAST(n_live_rows AS BIGINT) AS n_live_rows FROM (
             |  SELECT 1 AS version, 'ingest-a' AS committer, a AS n_live_rows FROM c
             |  UNION ALL SELECT 2, 'ingest-b', a + b FROM c
             |  UNION ALL SELECT 3, 'compact', a + b FROM c
             |  UNION ALL SELECT 4, 'ingest-c', a + b + d FROM c)
             |ORDER BY version""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s40_history", dir) // idempotent re-runs
        val (dataDir, logDir) = (s"$tmp/data", s"$tmp/log")
        fourVersionTable(s, Tables.orders(s, dir).select("o_orderkey"), dataDir, logDir)
        val hist = TableLog.history(s, logDir)
        val fileCounts = hist // ≤ |commits| rows of log metadata
          .select("version", "n_live_files").collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        require(fileCounts(3) < fileCounts(2),
          s"compaction must shrink the live-file count: $fileCounts")
        val commits = TableLog.readCommits(s, logDir)
        val rowCounts = commits.map { cm =>
          (cm.version,
            s.read.parquet(TableLog.liveFiles(commits, Some(cm.version)): _*).count())
        }
        import s.implicits._
        hist.join(rowCounts.toDF("version", "n_live_rows"), "version")
          .select("version", "committer", "n_live_rows")
          .orderBy("version")
      }),

    // ---------------------------------------------------------------- ST23 (streaming CDC apply = streaming MERGE)
    QueryDef(
      "q_st23_stream_merge_apply", "ST S9 S15 (streaming MERGE INTO via per-batch COW + claims)",
      // the Delta streaming-MERGE idea: a CDC stream applied into a
      // TableLog table by running io/CowMerge INSIDE foreachBatch —
      // each micro-batch's rows become upserts (value bumped +100.00
      // on event_id%5) and deletes (event_id%7), the merge rewrites
      // only the files its keys touch, and the batch's commit must
      // land at exactly head+1 (single sequential writer). Exactly-
      // once is the applied-version guard: a REPLAYED batch sees its
      // version already in the log and skips before touching data —
      // exercised post-stream by re-applying batch 0 and requiring an
      // unchanged live set. The oracle is the stream's closed form
      // over all events (k%7 survivors with the %5 bump); a dropped
      // batch, a double-applied merge, or a resurrected delete is a
      // hash mismatch. At 100 TB: per-batch cost is CowMerge's —
      // touched-file rewrite + one metadata claim; the per-batch
      // discovery scan is the key+filename projection of the live
      // table, which a production deployment would cut further with
      // the manifest family's key→file pruning (q_s27/q_s30).
      Some("""SELECT event_type, count(*) AS n,
             |CAST(sum(event_id) AS BIGINT) AS id_sum,
             |CAST(sum(CASE WHEN event_id % 5 = 0
             |              THEN CAST(value AS DECIMAL(18,2)) + 100.00
             |              ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id % 7 <> 0
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_st23_merge", dir) // fresh log: stale claims poison the replay check
        val (watch, dataDir, logDir) = (s"$tmp/watch", s"$tmp/data", s"$tmp/log")
        val ev = Tables.events(s, dir)
          .select(col("event_id").as("k"), col("value"), col("event_type"))
        // v1: two-thirds of events pre-exist in the table
        require(TableLog.tryClaim(s, logDir, TableLog.Commit(1, "ingest",
          TableLog.land(ev.filter(col("k") % 3 =!= 2).repartitionByRange(6, col("k")),
            s"$dataDir/c1"), Nil)))
        // the CDC stream: ALL events arrive as upsert/delete commands
        ev.repartitionByRange(4, col("k"))
          .write.mode("overwrite").parquet(watch)
        def applyBatch(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit = {
          val commits = TableLog.readCommits(s, logDir)
          val want = commits.map(_.version).max + 1
          if (commits.exists(_.committer == s"stream-$bid")) return // replay: already applied
          val src = batch.select(col("k"),
            when(col("k") % 5 === 0,
              (col("value").cast(DecimalType(18, 2)) + lit(BigDecimal("100.00")))
                .cast("double"))
              .otherwise(col("value")).as("value"),
            col("event_type"),
            when(col("k") % 7 === 0, "D").otherwise("U").as("op"))
          CowMerge.merge(s, logDir, baseVersion = want - 1, key = "k",
            op = "op", source = src, updateCols = Seq("value"),
            newDataDir = s"$dataDir/merge=$bid", numFiles = 2,
            committer = s"stream-$bid") match {
            case Right(st) => require(st.version == want,
              s"sequential writer must land at head+1: ${st.version} vs $want")
            case Left(blocking) => sys.error(s"batch $bid merge aborted on $blocking")
          }
        }
        val stream = CdcStream.fileBatches(s, watch)
        CdcStream.runForeachBatchEffect(s, stream)(applyBatch)
        val live = TableLog.liveFiles(TableLog.readCommits(s, logDir))
        // replay simulation: batch 0 fires again — guard skips, live set fixed
        applyBatch(s.read.parquet(watch), 0L)
        require(TableLog.liveFiles(TableLog.readCommits(s, logDir)) == live,
          "live set changed under a replayed batch")
        s.read.parquet(live: _*)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("k")).cast("long").as("id_sum"),
            dsum(col("value")).as("sum_value"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- S41 (shallow clone + vacuum hazard)
    QueryDef(
      "q_s41_shallow_clone", "S15 (zero-copy shallow clone; divergence; vacuum hazard)",
      // the Delta SHALLOW CLONE idea over TableLog: a clone is a brand
      // new log whose v1 adds are the source's live files AS OF the
      // clone version — zero data copied, metadata only. Both tables
      // then diverge independently (source appends + compacts, clone
      // appends its own files under its own dir) and each reads its
      // own live set in isolation. The query also pins the DOCUMENTED
      // production hazard of shallow clones: the clone's log holds
      // file REFERENCES the source's retention does not know about,
      // so when source-side VACUUM expires the last source version
      // referencing the original ingest files (here: compaction made
      // them dead at v3, expire keepFrom=3 frees them), the clone —
      // whose snapshot was materialized before — becomes unreadable,
      // which the query proves by requiring the post-vacuum clone
      // scan to THROW. The result is both tables' per-priority
      // aggregate (clone's computed and landed pre-vacuum); a clone
      // that copied data, leaked a divergent write across tables, or
      // survived the vacuum is a require-failure or hash mismatch.
      // At 100 TB: clone creation is |live files| metadata lines —
      // the whole point of shallow clones — and the hazard check is
      // the same set algebra vacuum already does.
      Some("""SELECT tbl, o_orderpriority AS priority, count(*) AS n,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders CROSS JOIN (SELECT unnest(['source','clone']) AS tbl)
             |WHERE (tbl = 'source' AND o_orderkey % 4 IN (0, 1, 2))
             |   OR (tbl = 'clone'  AND o_orderkey % 4 IN (0, 1, 3))
             |GROUP BY tbl, priority ORDER BY tbl, priority""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s41_clone", dir) // idempotent re-runs
        val (srcData, srcLog) = (s"$tmp/src", s"$tmp/log/src")
        val (clnData, clnLog) = (s"$tmp/cln", s"$tmp/log/cln")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            col("o_orderpriority").as("priority"))
        val fA = TableLog.land(
          o.filter(col("k") % 4 === 0).repartition(4, col("k")), s"$srcData/c1")
        require(TableLog.tryClaim(s, srcLog, TableLog.Commit(1, "ingest-a", fA, Nil)))
        val fB = TableLog.land(
          o.filter(col("k") % 4 === 1).repartition(3, col("k")), s"$srcData/c2")
        require(TableLog.tryClaim(s, srcLog, TableLog.Commit(2, "append-b", fB, Nil)))
        // shallow clone AS OF v2: one metadata commit, zero files copied
        val snapV2 = TableLog.liveFiles(TableLog.readCommits(s, srcLog), Some(2))
        require(snapV2.toSet == (fA ++ fB).toSet, "clone base must be v2's live set")
        require(TableLog.tryClaim(s, clnLog,
          TableLog.Commit(1, "clone@v2", snapV2, Nil)))
        // diverge: source compacts A away and appends C; clone appends D
        val fA2 = TableLog.land(s.read.parquet(fA: _*).repartition(1, col("k")), s"$srcData/c3")
        require(TableLog.tryClaim(s, srcLog, TableLog.Commit(3, "compact", fA2, fA)))
        val fC = TableLog.land(
          o.filter(col("k") % 4 === 2).repartition(3, col("k")), s"$srcData/c4")
        require(TableLog.tryClaim(s, srcLog, TableLog.Commit(4, "append-c", fC, Nil)))
        val fD = TableLog.land(
          o.filter(col("k") % 4 === 3).repartition(3, col("k")), s"$clnData/c1")
        require(TableLog.tryClaim(s, clnLog, TableLog.Commit(2, "append-d", fD, Nil)))
        def agg(files: Seq[String], tag: String) =
          s.read.parquet(files: _*)
            .groupBy("priority")
            .agg(count(lit(1)).as("n"), dsum(col("price")).as("sum_price"))
            .select(lit(tag).as("tbl"), col("priority"), col("n"), col("sum_price"))
        // the clone's snapshot must be LANDED before source-side vacuum:
        // its live set still references fA, which source retention frees
        val clnLive = TableLog.liveFiles(TableLog.readCommits(s, clnLog))
        agg(clnLive, "clone").write.mode("overwrite").parquet(s"$tmp/cln_agg")
        val (dead, kept) = TableLog.expire(s, srcData, srcLog, keepFrom = 3)
        require(dead.toSet == fA.toSet,
          s"vacuum must free exactly the compacted-away ingest: $dead")
        require((fA2 ++ fB ++ fC).toSet.subsetOf(kept.toSet), "live files vacuumed")
        // the documented shallow-clone hazard: the clone now dangles
        val broken = scala.util.Try(
          s.read.parquet(clnLive: _*).agg(count(lit(1))).head()).isFailure
        require(broken, "clone must dangle after source vacuum frees its references")
        val srcLive = TableLog.liveFiles(TableLog.readCommits(s, srcLog))
        agg(srcLive, "source")
          .unionAll(s.read.parquet(s"$tmp/cln_agg"))
          .orderBy("tbl", "priority")
      }),

    // ---------------------------------------------------------------- S42 (CDF-driven incremental materialized view)
    QueryDef(
      "q_s42_incremental_mv", "S14 S15 A1 (incremental MV maintenance from the change feed)",
      // incremental materialized-view maintenance — the Delta Live
      // Tables / IVM pattern: a per-type (count, sum) aggregate is
      // built ONCE from the initial version, then rolled forward one
      // version at a time by folding in the row-level change feed
      // (insert/update_postimage add, delete/update_preimage
      // subtract) instead of re-aggregating the table. The table
      // advances v1 (range-partitioned ingest of event_id%4≠3) → v2
      // (COW rewrite: value+25.00 where id<120, delete 120≤id<200 —
      // RANGE predicates, so the rewrite touches a strict subset of
      // the range-partitioned files, which the query requires) → v3
      // (blind append of id%4=3). Each MV state is an exact DECIMAL
      // parquet table; counts that reach zero drop out. The oracle is
      // the from-scratch closed form over events — any drift between
      // incremental and direct (a missed preimage, a carried row
      // leaking into the feed, a double-counted append) is a hash
      // mismatch. At 100 TB: each refresh costs O(churn + |MV|), not
      // O(table) — the whole point of IVM — and the require pins the
      // churn-bounded file read that makes it true.
      Some("""WITH fin AS (
             |  SELECT event_type,
             |    CASE WHEN event_id < 120
             |         THEN CAST(value AS DECIMAL(18,2)) + 25.00
             |         ELSE CAST(value AS DECIMAL(18,2)) END AS v
             |  FROM events
             |  WHERE event_id % 4 <> 3
             |    AND NOT (event_id >= 120 AND event_id < 200)
             |  UNION ALL
             |  SELECT event_type, CAST(value AS DECIMAL(18,2))
             |  FROM events WHERE event_id % 4 = 3)
             |SELECT event_type, count(*) AS n, CAST(sum(v) AS DOUBLE) AS sum_value
             |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s42_ivm", dir) // idempotent re-runs
        val (dataDir, logDir) = (s"$tmp/data", s"$tmp/log")
        val dec = DecimalType(18, 2)
        val ev = Tables.events(s, dir)
          .select(col("event_id").as("k"), col("value"), col("event_type"))
        val v1 = TableLog.land(
          ev.filter(col("k") % 4 =!= 3).repartitionByRange(8, col("k")), s"$dataDir/c1")
        require(TableLog.tryClaim(s, logDir, TableLog.Commit(1, "ingest", v1, Nil)))
        // v2: COW rewrite over RANGE predicates — touches few range files
        val isUpd = col("k") < 120
        val isDel = col("k") >= 120 && col("k") < 200
        val hit = TableLog.filesMatching(s, v1, isUpd || isDel)
        require(hit.nonEmpty && hit.size < v1.size,
          s"range rewrite must touch a strict file subset: ${hit.size}/${v1.size}")
        val rewritten = TableLog.land(
          s.read.parquet(hit: _*).filter(!isDel)
            .withColumn("value",
              when(isUpd, (col("value").cast(dec) + lit(BigDecimal("25.00")))
                .cast("double")).otherwise(col("value")))
            .repartitionByRange(hit.size, col("k")),
          s"$dataDir/c2")
        require(TableLog.tryClaim(s, logDir,
          TableLog.Commit(2, "merge-rewrite", rewritten, hit)))
        // v3: blind append of the remaining quarter
        val appended = TableLog.land(
          ev.filter(col("k") % 4 === 3).repartitionByRange(3, col("k")), s"$dataDir/c3")
        require(TableLog.tryClaim(s, logDir, TableLog.Commit(3, "append", appended, Nil)))
        // MV init from v1, then fold each version's change feed in
        val commits = TableLog.readCommits(s, logDir)
        s.read.parquet(TableLog.liveFiles(commits, Some(1)): _*)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("value").cast(dec)).cast(dec).as("sv"))
          .write.mode("overwrite").parquet(s"$tmp/state_v1")
        for (v <- 2 to 3) {
          val (addF, remF) = ChangeFeed.netDelta(commits, v - 1, v)
          require(addF.size + remF.size <=
            2 * hit.size + appended.size, // churn-bounded refresh read
            s"v$v feed read must track churn: ${addF.size}+${remF.size}")
          val sign = when(col("change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L)
          val deltas = ChangeFeed.changes(s, logDir, v - 1, v, key = "k")
            .select(col("event_type"), sign.as("dn"),
              (sign * col("value").cast(dec)).cast(dec).as("dv"))
            .groupBy("event_type")
            .agg(sum("dn").as("n"), sum("dv").cast(dec).as("sv"))
          s.read.parquet(s"$tmp/state_v${v - 1}")
            .unionAll(deltas)
            .groupBy("event_type")
            .agg(sum("n").as("n"), sum("sv").cast(dec).as("sv"))
            .filter(col("n") > 0)
            .write.mode("overwrite").parquet(s"$tmp/state_v$v")
        }
        s.read.parquet(s"$tmp/state_v3")
          .select(col("event_type"), col("n"), col("sv").cast("double").as("sum_value"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- ST24 (checkpoint recovery across restarts)
    QueryDef(
      "q_st24_stream_restart", "ST (stateful-aggregation recovery from the checkpoint)",
      // the production streaming property no single-run query proves:
      // a stateful aggregation STOPPED and RESTARTED against the same
      // checkpoint must resume from its committed offsets AND its
      // committed state. Run 1 aggregates two-thirds of events from a
      // watched directory (per-type count + exact DECIMAL sum) into a
      // complete-mode memory sink with a checkpoint; more files then
      // land; run 2 is the SAME plan restarted on the SAME checkpoint
      // into a fresh sink table. The require pins that run 2's source
      // read exactly the NEW rows (offset recovery — old files are
      // never re-read), so its complete-mode output can only equal
      // the all-events closed form if the state store supplied run
      // 1's contribution (state recovery); losing either yields a
      // partial aggregate = hash mismatch against the oracle. At
      // 100 TB: restart cost is new-data + state-store reload — this
      // is the contract that makes long-lived streaming pipelines
      // upgradeable at all.
      eventTypeTotalsOracle,
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_st24_restart", dir) // fresh checkpoint: stale offsets poison the run
        val (watch, ckpt) = (s"$tmp/watch", s"$tmp/ckpt")
        val ev = Tables.events(s, dir)
          .select(col("event_id").as("k"), col("value"), col("event_type"))
        ev.filter(col("k") % 3 =!= 2)
          .repartitionByRange(4, col("k"))
          .write.mode("overwrite").parquet(watch)
        val dec = DecimalType(18, 2)
        def agg() = CdcStream.fileBatches(s, watch)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("value").cast(dec)).as("sv"))
        def run(sinkName: String): Long = CdcStream.runToEnd(s)(agg().writeStream
            .outputMode("complete").format("memory").queryName(sinkName)
            .option("checkpointLocation", ckpt))
          .recentProgress.map(_.numInputRows).sum
        val in1 = run("q_st24_run1")
        require(s.table("q_st24_run1").count() > 0, "run 1 produced no state")
        // new files land while the stream is down
        val late = ev.filter(col("k") % 3 === 2)
        val nLate = late.count()
        late.repartitionByRange(3, col("k")).write.mode("append").parquet(watch)
        val in2 = run("q_st24_run2")
        require(in2 == nLate,
          s"restart must resume from committed offsets: read $in2, new rows $nLate")
        require(in1 > in2, s"run 1 must have carried the bulk: $in1 vs $in2")
        s.table("q_st24_run2")
          .select(col("event_type"), col("n"), col("sv").cast("double").as("sum_value"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- S43 (FSCK: orphan/missing audit + repair)
    QueryDef(
      "q_s43_fsck", "S15 A5 (table FSCK: orphan-file audit, missing-file repair commit)",
      // the lake maintenance op the commit-log model makes possible —
      // Delta's FSCK REPAIR TABLE + VACUUM's dry-run audit in one
      // query: reconcile the LOG's view of the table against the
      // FILESYSTEM's. Planted anomalies, both closed-form: two
      // ORPHAN files (a written-but-never-committed ingest — the
      // debris a crashed writer leaves, which audit must report and
      // retention may sweep but readers must never see) and one
      // MISSING file (an ingested bucket file deleted out-of-band —
      // bucket writes are per-modulus single files precisely so the
      // lost rows are a closed-form slice). The audit is pure set
      // algebra over log metadata + one directory listing; the
      // REPAIR is a log commit removing the missing file so readers
      // stop planning scans over it. The result reports per-status
      // file counts and the readable rows/sums — a leaked orphan
      // row, an unrepaired reader crash, or a wrong repair delta is
      // a require-failure or hash mismatch. At 100 TB: the audit
      // reads zero data (|files| metadata), repair is one metadata
      // commit, and only the post-repair aggregate touches rows.
      Some("""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p,
             |                     o_orderpriority FROM orders)
             |SELECT * FROM (
             |  SELECT 'live_ok' AS status, CAST(6 AS BIGINT) AS n_files,
             |         count(*) AS n_rows,
             |         CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |  FROM base WHERE (k % 3 = 0 AND k % 4 <> 2) OR k % 3 = 1
             |  UNION ALL
             |  SELECT 'missing', CAST(1 AS BIGINT), CAST(NULL AS BIGINT),
             |         CAST(NULL AS DOUBLE)
             |  UNION ALL
             |  SELECT 'orphan', CAST(2 AS BIGINT), count(*),
             |         CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM base WHERE k % 3 = 2)
             |ORDER BY status""".stripMargin),
      (s, dir) => {
        val tmp = SparkUtil.freshDir("q_s43_fsck", dir) // idempotent re-runs
        val (dataDir, logDir) = (s"$tmp/data", s"$tmp/log")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            col("o_orderpriority").as("priority"))
        // v1: slice A ingested as one file PER k%4 bucket (closed-form
        // file contents, so the planted deletion's lost rows are a slice)
        val sliceA = o.filter(col("k") % 3 === 0)
        val fA = (0 to 3).map { bkt =>
          TableLog.land(sliceA.filter(col("k") % 4 === bkt).coalesce(1), s"$dataDir/a$bkt") match {
            case Seq(one) => one
            case more => sys.error(s"bucket $bkt must be one file: $more")
          }
        }
        require(TableLog.tryClaim(s, logDir,
          TableLog.Commit(1, "ingest-a", fA, Nil)))
        val fB = TableLog.land(o.filter(col("k") % 3 === 1).repartition(3, col("k")), s"$dataDir/b")
        require(TableLog.tryClaim(s, logDir,
          TableLog.Commit(2, "append-b", fB, Nil)))
        // planted anomalies: an uncommitted ingest (orphans) and an
        // out-of-band deletion of the bucket-2 file (missing)
        val fOrphan = TableLog.land(
          o.filter(col("k") % 3 === 2).repartition(2, col("k")), s"$dataDir/orphan")
        require(fOrphan.size == 2, s"orphan plant must be 2 files: $fOrphan")
        TableLog.deleteFiles(s, Seq(fA(2)))
        // FSCK audit: log vs filesystem, zero data read
        val commits = TableLog.readCommits(s, logDir)
        val everReferenced = commits.flatMap(_.adds).toSet
        val live = TableLog.liveFiles(commits).toSet
        val onDisk = TableLog.dataFilesOnDisk(s, dataDir).toSet
        val orphans = onDisk -- everReferenced
        val missing = live -- onDisk
        require(orphans == fOrphan.toSet, s"orphan audit drift: $orphans")
        require(missing == Set(fA(2)), s"missing audit drift: $missing")
        // REPAIR: one metadata commit drops the missing file from the live set
        TableLog.tryCommit(s, logDir, base = 2, committer = "fsck-repair",
          adds = Nil, removes = missing.toSeq) match {
          case Right(v) => require(v == 3, s"repair must land as v3: $v")
          case Left(blocking) => sys.error(s"repair blocked on $blocking")
        }
        val postLive = TableLog.liveFiles(TableLog.readCommits(s, logDir))
        require(postLive.toSet == live -- missing, "repair delta drift")
        def statusAgg(files: Seq[String], status: String) =
          s.read.parquet(files: _*)
            .agg(count(lit(1)).as("n_rows"), dsum(col("price")).as("sum_price"))
            .select(lit(status).as("status"), lit(files.size.toLong).as("n_files"),
              col("n_rows"), col("sum_price"))
        statusAgg(postLive, "live_ok")
          .unionAll(s.range(1).select(lit("missing").as("status"),
            lit(1L).as("n_files"), lit(null).cast("long").as("n_rows"),
            lit(null).cast("double").as("sum_price")))
          .unionAll(statusAgg(fOrphan, "orphan"))
          .orderBy("status")
      })
  )
}
