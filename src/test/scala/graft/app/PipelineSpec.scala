package graft.app

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.quality.Validator
import graft.views.AnalyticsViews
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Sequence
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Project, Window}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: FIXTURES.md §1-shaped raw rows → rawToStaging →
  * stagingToDwh → analytic views + validator, asserting the reference's
  * observable semantics at every layer (SURVEY §5 test plan, item 4).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val AsOf = "2026-08-12"
  private val AsOfTs = "2026-08-12 10:30:00"

  /** Materialize a star the way a production day boundary does (the
    * reference persists the warehouse between daily runs): without
    * this, every assertion over a star built ON TOP of another star
    * re-optimizes the full nested lineage — Catalyst time on those
    * towering trees once dominated this suite's runtime by minutes.
    */
  private def materialized(d: Pipeline.Dwh): Pipeline.Dwh =
    Pipeline.Dwh(d.dimJob.localCheckpoint(), d.dimCompany.localCheckpoint(),
      d.dimLocation.localCheckpoint(), d.dimDate.localCheckpoint(),
      d.fact.localCheckpoint(), d.bridge.localCheckpoint())

  private lazy val staging = Pipeline.rawToStaging(PipelineSpec.rawFixture(spark), AsOfTs)
  private lazy val dwh = materialized(Pipeline.stagingToDwh(staging, AsOf))

  test("staging carries reference-golden cleaned values") {
    val byId = staging
      .select("job_id", "title_clean", "company_name_standardized", "salary_min",
        "salary_max", "salary_type", "location")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(byId("J1").getString(1) == "Senior Python Developer")
    assert(byId("J1").getString(2) == "Công ty tnhh ABC")
    assert((byId("J1").getDouble(3), byId("J1").getDouble(4)) == ((15.0, 20.0)))
    assert(byId("J2").getString(6) == "Hồ Chí Minh, Đà Nẵng") // refined via pairs
    assert(byId("J2").getString(5) == "negotiable")
    assert(byId("J3").getString(5) == "from")
    assert((byId("J4").getDouble(3), byId("J4").getDouble(4)) == ((24.0, 48.0)))
    assert(byId("J5").getDouble(3) == 10.5)
    assert(byId("J6").getString(5) == "negotiable")
  }

  test("star schema: x5-day grain, complete SK resolution, seeded Unknown row") {
    assert(dwh.fact.count() == 6 * 5)
    assert(dwh.fact.select("job_sk").distinct().count() == 6)
    assert(dwh.dimJob.count() == 6 && dwh.dimCompany.count() == 6)
    val unknown = dwh.dimLocation
      .filter(col("city") === "Unknown" && col("province").isNull && col("district").isNull)
    assert(unknown.count() == 1)
    // J6 (null location) bridges to the Unknown row
    val unknownSk = unknown.select("location_sk").first().getLong(0)
    val j6Sk = dwh.dimJob.filter(col("job_id") === "J6").select("job_sk").first().getLong(0)
    val j6Bridges = dwh.fact.filter(col("job_sk") === j6Sk)
      .join(dwh.bridge, "fact_id").select("location_sk").distinct().collect()
    assert(j6Bridges.map(_.getLong(0)).toSet == Set(unknownSk))
  }

  test("analytic views reproduce the warehouse's BI semantics") {
    // salary band 10-20 + not expired: J1 (15-20), J3 (12), J5 (10.5);
    // J4 out of band AND expired; J2 negotiable (0,0) out of band
    val inBand = AnalyticsViews.vwJobSalaryFilter(dwh, AsOf)
      .select("title_clean").distinct().collect().map(_.getString(0)).toSet
    assert(inBand == Set("Senior Python Developer", "DevOps Engineer", "Backend Engineer"))
    // Hanoi top-10: only the Hanoi-bridged band jobs
    val hanoi = AnalyticsViews.vwTop10Hanoi(dwh, AsOf)
      .select("title_clean").distinct().collect().map(_.getString(0)).toSet
    assert(hanoi == Set("Senior Python Developer", "DevOps Engineer", "Backend Engineer"))
    val topCompanies = AnalyticsViews.vwTopCompanies(dwh).collect()
    assert(topCompanies.length == 6 && topCompanies.forall(_.getLong(2) == 1L))
    assert(AnalyticsViews.vwMonthlyJobs(dwh).count() == 1) // single load month
    val monthly = AnalyticsViews.vwMonthlyJobs(dwh).first()
    assert(monthly.getAs[Long]("unique_jobs") == 6)
  }

  // ------------------------------------------------------------ incremental E3
  private val AsOf2 = "2026-08-14"

  /** Day-2 batch: J1 re-crawled with a CHANGED title (SCD2 update → new
    * SK), J3 re-crawled unchanged but with a new salary (fact-measure
    * update on the overlap days), J7 brand new (insert).
    */
  private def raw2Fixture: DataFrame = {
    import spark.implicits._
    Seq(
      ("J1", "Senior Python Developer II - Urgent", "công ty tnhh ABC", "18 - 22 triệu",
        "Hà Nội", "<div>Hà Nội: Cầu Giấy</div>", "30", "2 giờ trước", "2026-08-13 09:00:00"),
      ("J3", "DevOps Engineer (AWS)", "fpt software", "từ 14 triệu",
        "Hà Nội", "<div>Hà Nội: Đống Đa</div>", "30", "30 phút trước", "2026-08-13 09:00:00"),
      ("J7", "QA Lead", "New Island Co", "20 - 25 triệu",
        "Hà Nội", null, "15", "1 giờ trước", "2026-08-13 09:00:00"))
      .toDF("job_id", "title", "company_name", "salary", "location", "location_detail",
        "deadline", "last_update", "crawled")
      .withColumn("crawled_at", to_timestamp(col("crawled")))
      .withColumn("job_url", concat(lit("https://jobs/"), col("job_id")))
      .withColumn("skills", lit("[\"Python\"]"))
      .withColumn("logo_url", lit(null).cast("string"))
      .withColumn("company_url", concat(lit("https://co/"), col("job_id")))
      .withColumn("verified_employer", col("job_id").isin("J1", "J3"))
  }

  private lazy val staging2 = Pipeline.rawToStaging(raw2Fixture, "2026-08-14 10:30:00")
  private lazy val dwh2 = materialized(Pipeline.incrementalBatch(dwh, staging2, AsOf2))

  test("incremental executed plan stays exchange-lean (shared subtrees pinned)") {
    // applyScd2/mergeFactsAssigning pin their multiply-consumed frames
    // (routing join, merge output) with lazy localCheckpoints; without
    // the pins Catalyst inlines each subtree per consumer and the
    // executed fact plan carries ~28 exchanges (measured) instead of a
    // handful. incrementalBatch commits the SCD2 dims and then the fact
    // over them, so the shape is read off those commits' executed plans.
    val prev = dwh // built first: its own commits have the same columns
    val plans = PipelineSpec.checkpointPlans(spark)(
      Pipeline.incrementalBatch(prev, staging2, AsOf2))
    def exchanges(what: String, cols: Set[String]): Int = {
      val commits = plans.filter(_.output.map(_.name).toSet == cols)
      assert(commits.size == 1, s"expected one $what commit, got ${commits.size}")
      val n = PipelineSpec.exchanges(commits.head)
      info(s"$what commit: $n exchanges")
      n
    }
    val dimJob = exchanges("dimJob", prev.dimJob.columns.toSet)
    val dimCompany = exchanges("dimCompany", prev.dimCompany.columns.toSet)
    val fact = exchanges("fact", PipelineSpec.BatchFactCols)
    // the measured counts: each dim's SCD2 routing runs once, the fact
    // reads the committed dims
    assert(dimJob <= 7 && dimCompany <= 5 && fact <= 5,
      s"expected pinned exchange-lean plans, got $dimJob/$dimCompany/$fact exchanges")
  }

  test("a daily batch through StreamingStar plans each table once, over committed inputs") {
    val prev = dwh // built (committed) first, so only the batch is counted
    val star = new graft.streaming.StreamingStar(prev, _ => AsOf2)
    val run = new graft.Harness(spark).run(star.applyBatch(staging2, 0L))
    assert(run.error.isEmpty, run)
    val jobs = run.jobs
    info(s"jobs of one applyBatch: $jobs")
    // measured 49 (60 with StableId's offsets aggregate, window and
    // broadcast in every numbering, 96 before the dependency-order
    // build); the slack covers a join-strategy flip or two
    assert(jobs <= 54, s"one applyBatch ran $jobs jobs")
  }

  test("the bridge reads the committed fact, not the merge or dedup that built it") {
    def committed(df: DataFrame): Seq[LogicalRDD] =
      df.queryExecution.analyzed.collectLeaves().collect { case r: LogicalRDD => r }
    def check(bridge: DataFrame, what: String, factCols: Set[String]): Unit = {
      val plan = bridge.queryExecution.analyzed
      assert(committed(bridge).exists(_.output.map(_.name).toSet == factCols),
        s"$what bridge reads no committed fact:\n$plan")
      // no dedup, merge or numbering window of an upstream table is
      // planned again (ids come from StableId's offsets literal)
      val windows = plan.collect { case w: Window => w }
      assert(windows.isEmpty, s"$what bridge plans ${windows.size} windows:\n$plan")
      // nor the fact's ×5-day grain: the touched facts come from the
      // committed fact's batch flag, not from the incoming frame
      val dateGrain = plan.collect {
        case g: Generate if g.generator.children.exists(_.isInstanceOf[Sequence]) => g
      }
      assert(dateGrain.isEmpty, s"$what bridge plans the date-grain explode:\n$plan")
    }
    check(Pipeline.stagingToDwh(staging, AsOf).bridge, "initial", PipelineSpec.FactCols)
    val d = Pipeline.incrementalBatch(dwh, staging2, AsOf2)
    check(d.bridge, "incremental", PipelineSpec.BatchFactCols)
    // the batch's DimLocation is committed, and the bridge reads that
    // commit, not the previous dimension under the append's plan
    val dimLocation = d.dimLocation.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.id
      case other => fail(s"the batch's DimLocation is not committed:\n$other")
    }
    val locationLeaves = committed(d.bridge)
      .filter(_.output.map(_.name).toSet == dwh.dimLocation.columns.toSet).map(_.rdd.id)
    assert(locationLeaves.toSet == Set(dimLocation),
      s"incremental bridge reads DimLocation leaves $locationLeaves, not commit $dimLocation")
  }

  test("StreamingStar state is committed and checkpointed: no lineage grows across batches") {
    val star = new graft.streaming.StreamingStar(dwh, _ => AsOf2)
    (0L until 3L).foreach(id => star.applyBatch(staging2, id))
    val d = star.dwh
    Seq("dimJob" -> d.dimJob, "dimCompany" -> d.dimCompany, "dimLocation" -> d.dimLocation,
        "dimDate" -> d.dimDate, "fact" -> d.fact, "bridge" -> d.bridge).foreach {
      case (what, table) =>
        // a commit, bare or under the projection that drops the fact's
        // location source, whose RDD has its lineage cut
        val plan = table.queryExecution.analyzed
        val commit = plan match {
          case r: LogicalRDD => Some(r)
          case Project(_, r: LogicalRDD) => Some(r)
          case _ => None
        }
        assert(commit.exists(_.rdd.isCheckpointed), s"$what is not a checkpointed commit:\n$plan")
    }
  }

  test("incremental batch: SCD2 routing, fact-identity preservation, measure update") {
    // dims: J1 closed+new version, J7 inserted, J3 untouched
    assert(dwh2.dimJob.count() == 8)
    assert(dwh2.dimJob.filter(col("is_current")).count() == 7)
    val j1Old = dwh2.dimJob
      .filter(col("job_id") === "J1" && !col("is_current")).collect()
    assert(j1Old.length == 1 &&
      j1Old.head.getAs[java.sql.Date]("expiry_date").toString == AsOf2)
    assert(dwh2.dimJob.filter(col("job_id") === "J1" && col("is_current"))
      .select("title_clean").first().getString(0) == "Senior Python Developer II")
    assert(dwh2.dimCompany.count() == 7)

    // facts: 30 original + J1-new-sk ×5 + J3 new days ×2 + J7 ×5
    assert(dwh2.fact.count() == 42)
    val j3Sk = dwh.dimJob.filter(col("job_id") === "J3").select("job_sk").first().getLong(0)
    val before = dwh.fact.filter(col("job_sk") === j3Sk)
      .select("date_id", "fact_id", "salary_min").collect()
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getDouble(2)))).toMap
    val after = dwh2.fact.filter(col("job_sk") === j3Sk)
      .select("date_id", "fact_id", "salary_min").collect()
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getDouble(2)))).toMap
    // overlap day keeps its fact_id but takes the new measure
    assert(after("2026-08-14")._1 == before("2026-08-14")._1)
    assert(after("2026-08-14")._2 == 14.0 && before("2026-08-14")._2 == 12.0)
    // pre-batch day untouched
    assert(after("2026-08-12") == before("2026-08-12"))
    // new trailing days exist
    assert(after.contains("2026-08-18"))
    // old-SK facts of the CHANGED job remain (new facts ride the new SK)
    val j1OldSk = dwh.dimJob.filter(col("job_id") === "J1").select("job_sk").first().getLong(0)
    assert(dwh2.fact.filter(col("job_sk") === j1OldSk).count() == 5)
  }

  test("incremental batch is idempotent: re-applying the same batch is a no-op") {
    val dwh3 = Pipeline.incrementalBatch(dwh2, staging2, AsOf2)
    def same(a: DataFrame, b: DataFrame, what: String): Unit = {
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$what differs")
      assert(a.count() == b.count(), s"$what count differs")
    }
    same(dwh2.dimJob, dwh3.dimJob, "dimJob")
    same(dwh2.dimCompany, dwh3.dimCompany, "dimCompany")
    same(dwh2.dimLocation, dwh3.dimLocation, "dimLocation")
    same(dwh2.dimDate, dwh3.dimDate, "dimDate")
    same(dwh2.fact, dwh3.fact, "fact")
    same(dwh2.bridge, dwh3.bridge, "bridge")
  }

  test("conflicting same-job_id rows in one batch: latest crawled_at wins, stable across runs") {
    import spark.implicits._
    // two crawls of J3 in one batch with conflicting tracked values and
    // measures — the reference's upsert loop processes rows in crawl
    // order, so the 11:00 crawl must win everywhere, independent of
    // partition layout
    val dup = Seq(
      ("J3", "DevOps Engineer Alpha", "fpt software", "từ 10 triệu",
        "Hà Nội", null, "30", "2 giờ trước", "2026-08-13 08:00:00"),
      ("J3", "DevOps Engineer Beta", "fpt software", "từ 16 triệu",
        "Hà Nội", null, "30", "30 phút trước", "2026-08-13 11:00:00"))
      .toDF("job_id", "title", "company_name", "salary", "location", "location_detail",
        "deadline", "last_update", "crawled")
      .withColumn("crawled_at", to_timestamp(col("crawled")))
      .withColumn("job_url", concat(lit("https://jobs/"), col("job_id")))
      .withColumn("skills", lit("[\"Python\"]"))
      .withColumn("logo_url", lit(null).cast("string"))
      .withColumn("company_url", concat(lit("https://co/"), col("job_id")))
      .withColumn("verified_employer", lit(true))
    val st = Pipeline.rawToStaging(dup, "2026-08-14 10:30:00")
    def winners(d: Pipeline.Dwh): (String, Set[Double]) = {
      val title = d.dimJob.filter(col("job_id") === "J3" && col("is_current"))
        .select("title_clean").first().getString(0)
      val sk = d.dimJob.filter(col("job_id") === "J3" && col("is_current"))
        .select("job_sk").first().getLong(0)
      val sals = d.fact.filter(col("job_sk") === sk)
        .select("salary_min").collect().map(_.getDouble(0)).toSet
      (title, sals)
    }
    val (t1, s1) = winners(Pipeline.incrementalBatch(dwh, st, AsOf2))
    assert(t1 == "DevOps Engineer Beta", s"dim survivor should be the latest crawl, got $t1")
    assert(s1 == Set(16.0), s"fact measures should come from the latest crawl, got $s1")
    val (t2, s2) = winners(Pipeline.incrementalBatch(dwh, st, AsOf2))
    assert((t1, s1) == ((t2, s2)), "survivor must be stable across re-runs")
    // the INITIAL build shares the same survivor rule (round-5 advice:
    // it used to keep a partition-layout-dependent min_by survivor)
    val (ti, si) = winners(Pipeline.stagingToDwh(st, AsOf2))
    assert(ti == "DevOps Engineer Beta", s"initial-build dim survivor should be latest crawl, got $ti")
    assert(si == Set(16.0), s"initial-build fact measures should be latest crawl, got $si")
  }

  test("an exact crawl tie keeps one fact survivor in the initial build and the batch") {
    import spark.implicits._
    // eight new jobs, each crawled twice at one instant with different
    // salaries: crawled_at and load_month tie, so the payload hash picks
    // the survivor. The jobs post for J3's company with J3's company
    // columns, so its SK is the same in both stars below.
    val tied = (1 to 8).flatMap { i =>
      Seq(s"từ ${10 + i} triệu", s"từ ${20 + i} triệu").map(salary =>
        (s"T$i", "DevOps Engineer (AWS)", "fpt software", salary, "Hà Nội",
          "<div>Hà Nội: Đống Đa</div>", "30", "30 phút trước", "2026-08-03 09:00:00"))
    }.toDF("job_id", "title", "company_name", "salary", "location", "location_detail",
        "deadline", "last_update", "crawled")
      .withColumn("crawled_at", to_timestamp(col("crawled")))
      .withColumn("job_url", concat(lit("https://jobs/"), col("job_id")))
      .withColumn("skills", lit("[\"Python\"]"))
      .withColumn("logo_url", lit(null).cast("string"))
      .withColumn("company_url", lit("https://co/J3"))
      .withColumn("verified_employer", lit(true))
    val st = Pipeline.rawToStaging(tied, AsOfTs)
    def survivors(d: Pipeline.Dwh): Set[(String, java.sql.Date, Double)] =
      d.fact.join(d.dimJob.filter(col("is_current")).select("job_sk", "job_id"), "job_sk")
        .filter(col("job_id").startsWith("T"))
        .select("job_id", "date_id", "salary_min").collect()
        .map(r => (r.getString(0), r.getDate(1), r.getDouble(2))).toSet
    val initial = survivors(Pipeline.stagingToDwh(staging.unionByName(st), AsOf))
    val batch = survivors(Pipeline.incrementalBatch(dwh, st, AsOf))
    assert(initial.size == 40, initial)
    assert(initial == batch,
      s"the initial build kept ${initial -- batch}, the batch ${batch -- initial}")
  }

  test("streaming micro-batches through StreamingStar equal the batch incremental path") {
    import org.apache.spark.sql.DataFrame
    def same(a: DataFrame, b: DataFrame, what: String): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty && a.count() == b.count(),
        s"$what differs between streaming and batch path")
    // batch 1 = the day-2 staging; batch 2 = J7 re-crawled with a new salary
    val raw3 = raw2Fixture.filter(col("job_id") === "J7")
      .withColumn("salary", lit("22 - 26 triệu"))
      .withColumn("crawled_at", to_timestamp(lit("2026-08-15 09:00:00")))
    val staging3 = Pipeline.rawToStaging(raw3, "2026-08-16 10:30:00")
    val dir = graft.SparkUtil.freshDir("pipelinespec_stream_staging", "")
    staging2.write.parquet(dir)
    // total function, not a Map: the appended day-3 files can be
    // discovered across more than one trigger listing (the running
    // source lists mid-write), so any batch id past 0 is day 3 —
    // splits are harmless because only one split holds the single row
    // and empty batches are skipped
    val star = new graft.streaming.StreamingStar(dwh,
      (id: Long) => if (id == 0L) AsOf2 else "2026-08-16")
    val q = star.start(spark.readStream.schema(staging2.schema).parquet(dir))
    q.processAllAvailable()
    same(star.dwh.fact, dwh2.fact, "fact after batch 1")
    same(star.dwh.dimJob, dwh2.dimJob, "dimJob after batch 1")
    staging3.write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val expected = Pipeline.incrementalBatch(dwh2, staging3, "2026-08-16")
    same(star.dwh.dimJob, expected.dimJob, "dimJob after batch 2")
    same(star.dwh.fact, expected.fact, "fact after batch 2")
    same(star.dwh.bridge, expected.bridge, "bridge after batch 2")
  }

  test("pipeline outputs conform to the declared DDL schemas") {
    import graft.schemas.Schemas
    Schemas.requireColumns(staging, Schemas.stagingJobs, "staging")
    Schemas.requireColumns(dwh.dimJob, Schemas.dimJob, "dimJob")
    Schemas.requireColumns(dwh.dimCompany, Schemas.dimCompany, "dimCompany")
    Schemas.requireColumns(dwh.dimLocation, Schemas.dimLocation, "dimLocation")
    Schemas.requireColumns(dwh.dimDate, Schemas.dimDate, "dimDate")
    Schemas.requireColumns(dwh.fact, Schemas.factJobPostingDaily, "fact")
    Schemas.requireColumns(dwh.bridge, Schemas.factJobLocationBridge, "bridge")
    // and a missing column fails loudly at the entry point
    val e = intercept[IllegalArgumentException] {
      Pipeline.stagingToDwh(staging.drop("salary_min"), AsOf)
    }
    assert(e.getMessage.contains("salary_min"))
  }

  test("validator reports a clean warehouse") {
    val checks = Validator.report(Seq(
      Validator.duplicateCurrentKeys(dwh.dimJob, "job_id"),
      Validator.orphanCount("orphan_job_sk", dwh.fact,
        dwh.dimJob.select(col("job_sk")), "job_sk"),
      Validator.orphanCount("orphan_bridge_fact", dwh.bridge,
        dwh.fact.select(col("fact_id")), "fact_id"),
      Validator.invertedRange("salary_inverted", dwh.fact, "salary_min", "salary_max")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(checks.values.forall(_ == 0L), checks.toString)
  }
}

object PipelineSpec {

  /** The fact's columns as committed inside the initial build, before
    * the bridge's location source is dropped.
    */
  val FactCols: Set[String] =
    (("fact_id" +: "job_sk" +: "company_sk" +: "date_id" +: Pipeline.FactMeasureCols) ++
      Seq("load_month", "location_src")).toSet

  /** The fact's columns as committed inside a daily batch: the merge's
    * batch flag rides along with the location source.
    */
  val BatchFactCols: Set[String] = FactCols + graft.dwh.Facts.InBatchCol

  /** Exchanges (shuffle, broadcast, reused) in an executed plan,
    * looking inside AQE's query stages.
    */
  def exchanges(plan: SparkPlan): Int = {
    object Plans extends AdaptiveSparkPlanHelper
    Plans.collect(plan) { case e: Exchange => e; case r: ReusedExchangeExec => r }.size
  }

  /** Executed plans of the `localCheckpoint` commits `body` makes. */
  def checkpointPlans(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      settle(plans.size.toLong)
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Listener events arrive on an async bus: wait (bounded) until two
    * reads of `count` 100 ms apart agree, as Harness does.
    */
  private def settle(count: => Long): Unit = {
    var last = -1L
    var tries = 0
    while (count != last && tries < 40) {
      last = count
      Thread.sleep(100)
      tries += 1
    }
  }

  /** FIXTURES.md §1-shaped raw crawl of six jobs, one load month. */
  def rawFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      // job_id, title, company, salary, location, detail, deadline, last_update, crawled
      ("J1", "Senior Python Developer - Urgent", "công ty tnhh ABC", "15 - 20 triệu",
        "Hà Nội", "<div>Hà Nội: Cầu Giấy</div>", "30", "2 giờ trước", "2026-08-01 09:00:00"),
      ("J2", "Frontend React Developer / Team Lead", "CÔNG TY CỔ PHẦN XYZ VIỆT NAM",
        "Thoả thuận", "Hồ Chí Minh & Đà Nẵng",
        "<div>Hồ Chí Minh: 456 XYZ<br/>Đà Nẵng: 789 DEF</div>", "15", "1 ngày trước",
        "2026-08-02 09:00:00"),
      ("J3", "DevOps Engineer (AWS)", "fpt software", "từ 12 triệu",
        "Hà Nội", "<div>Hà Nội: Đống Đa</div>", "30", "30 phút trước", "2026-08-03 09:00:00"),
      ("J4", "Data Engineer", "Tech Corp", "1,000 - 2,000 USD",
        "TP HCM", null, "1", "3 tuần trước", "2026-08-01 09:00:00"), // expires Aug 2
      ("J5", "Backend Engineer", "Acme Ltd", "10,5 triệu",
        "Hà Nội", null, "20", "45 giây trước", "2026-08-05 09:00:00"),
      ("J6", "QA Engineer", "Null Island Co", "negotiable text",
        null, null, "10", "vừa xong", "2026-08-06 09:00:00")) // unknown location
      .toDF("job_id", "title", "company_name", "salary", "location", "location_detail",
        "deadline", "last_update", "crawled")
      .withColumn("crawled_at", to_timestamp(col("crawled")))
      .withColumn("job_url", concat(lit("https://jobs/"), col("job_id")))
      .withColumn("skills", lit("[\"Python\"]"))
      .withColumn("logo_url", lit(null).cast("string"))
      .withColumn("company_url", concat(lit("https://co/"), col("job_id")))
      .withColumn("verified_employer", col("job_id").isin("J1", "J3"))
  }
}
