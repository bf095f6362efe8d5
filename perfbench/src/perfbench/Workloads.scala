package perfbench

import java.io.File
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.app.Pipeline
import graft.app.Pipeline.Dwh
import graft.io.{Exports, Snapshots}
import graft.schemas.Schemas
import graft.streaming.StreamingStar
import graft.views.AnalyticsViews
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one operation did, for the metrics (timed part only) and the
  * output check that follows it (untimed). `rowsIn` counts the raw rows
  * a load reads; `partsNs` holds the walls of the queries inside an
  * operation that runs several.
  */
final case class OpDone(
    wallNs: Long, rowsIn: Long, check: () => Seq[String], partsNs: Seq[Long] = Nil)

/** A workload: built `setup` several times (the last build stays), then
  * driven one operation at a time by a single closed-loop client.
  */
trait Workload {
  /** Build the workload's state; returns the untimed output check of
    * what the set-up built.
    */
  def setup(): () => Seq[String]
  def op(i: Int, tr: Tracer, traced: Boolean): OpDone
  /** Untimed, untraced work before the timed operations: the first run
    * of an operation's plans pays for JIT and code generation. By default
    * one operation whose output is not checked.
    */
  def warmUp(tr: Tracer): Unit = op(0, tr, traced = false)
  /** Timed operations a run makes at least, whatever `--seconds` says. */
  def minOps: Int = 1
  /** Bytes the workload's output occupies per fact row (see README). */
  def bytesPerFactRow: Double
}

object Workloads {
  val AsOf: LocalDate = LocalDate.parse("2026-08-12")
  def asOfTs(d: LocalDate): String = s"$d 12:00:00"

  /** The reference's published daily volume (BASELINE.md): 383 jobs. */
  val ReferenceJobs = 383

  /** The warehouse's first day. 383 jobs is the reference's whole
    * warehouse, and a Spark load of it is mostly per-job floor; the
    * initial crawl is ten days of it, so that parse, shuffle and write
    * work make a larger part of the load. Not published, chosen here: a
    * quarter of extra re-crawl rows (the crawler revisits listing pages,
    * and the latest-crawl dedup gets work), four load months (one export
    * each), and 1-3 cities per job (single- and multi-city HTML, a
    * bridge larger than the fact). The next-day batch is 40 jobs: 40% new, 20%
    * with a changed tracked column, 40% unchanged re-crawls, so every
    * SCD2 route and both fact-merge routes get work.
    */
  val FullLoad = Knobs(jobs = 10 * ReferenceJobs, dupShare = 0.25, months = 4, maxCities = 3,
    batchJobs = 40, newShare = 0.4, changedShare = 0.2)
  /** The analyst's star: the reference's warehouse, 383 jobs over
    * three load months, so a one-month read prunes two thirds of the
    * fact. Initial load only: a daily batch costs about as much as the
    * load, and the set-up runs three times per run.
    */
  val Views = Knobs(jobs = ReferenceJobs, dupShare = 0.25, months = 3, maxCities = 3,
    batchJobs = 0, newShare = 0, changedShare = 0)
  val ViewNames: Seq[String] = Seq(
    "vw_current_jobs", "vw_job_locations", "vw_monthly_jobs", "vw_top_companies",
    "vw_top_locations", "vw_job_salary_filter", "vw_top10_hn")

  def apply(name: String, spark: SparkSession, seed: Long, work: File): Workload = name match {
    case "full_load" => new FullLoadWorkload(spark, seed, work)
    case "bi_views" => new BiViewsWorkload(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def rawFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Schemas.rawJobs)

  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** Materialize every star table of the initial load, one span per
    * module step.
    */
  def commit(tr: Tracer, d: Dwh, dimsSpan: String, factSpan: String): Dwh = {
    val (dj, dc, dl, dd) = tr.span(dimsSpan)((d.dimJob.localCheckpoint(),
      d.dimCompany.localCheckpoint(), d.dimLocation.localCheckpoint(),
      d.dimDate.localCheckpoint()))
    val f = tr.span(factSpan)(d.fact.localCheckpoint())
    val b = tr.span("dwh.bridge")(d.bridge.localCheckpoint())
    Dwh(dj, dc, dl, dd, f, b)
  }

  /** The star tables' layers in a traced batch: the `localCheckpoint`
    * that `StreamingStar.applyBatch` runs on each table is attributed, by
    * the table's columns, to the dims (`dwh.scd2`), the fact
    * (`dwh.merge`) or the bridge (`dwh.bridge`).
    */
  def batchLayers(d: Dwh): Map[Set[String], String] =
    Seq(d.dimJob, d.dimCompany, d.dimLocation, d.dimDate).map(_.columns.toSet -> "dwh.scd2")
      .toMap ++ Map(d.fact.columns.toSet -> "dwh.merge", d.bridge.columns.toSet -> "dwh.bridge")

  /** Apply one generated daily batch onto `star`: `rawToStaging` then
    * `StreamingStar.applyBatch`. Traced, the staging output is
    * checkpointed first, so parse and apply split at the module boundary,
    * and the apply's table commits become child spans (see
    * [[batchLayers]]). Returns the batch's untimed output check: SCD2
    * closed/inserted counts equal what the generator changed, and every
    * existing fact keeps its fact_id.
    */
  def applyDaily(spark: SparkSession, tr: Tracer, traced: Boolean,
      star: StreamingStar, b: Batch, id: Long): () => Seq[String] = {
    val prev = star.dwh
    val raw = rawFrame(spark, b.rows)
    if (tr.enabled && traced) {
      tr.span("streaming.apply") {
        val staging = tr.span("functions.parse")(
          Pipeline.rawToStaging(raw, asOfTs(b.asOf)).localCheckpoint())
        tr.splitCheckpoints(batchLayers(prev))
        star.applyBatch(staging, id)
      }
    } else star.applyBatch(Pipeline.rawToStaging(raw, asOfTs(b.asOf)), id)
    val after = star.dwh
    () => {
      val day = lit(b.asOf.toString).cast("date")
      def scd2(dim: DataFrame): (Long, Long) = {
        val r = dim.agg(
          sum(when(!col("is_current") && col("expiry_date") === day, 1L).otherwise(0L)),
          sum(when(col("is_current") && col("effective_date") === day, 1L).otherwise(0L)))
          .collect().head // 1 row
        (r.getLong(0), r.getLong(1))
      }
      val (closed, inserted) = scd2(after.dimJob)
      val (coClosed, coInserted) = scd2(after.dimCompany)
      val keys = Seq("fact_id", "job_sk", "date_id")
      val lostIds = prev.fact.select(keys.map(col): _*)
        .join(after.fact.select(keys.map(col): _*), keys, "left_anti").count()
      val newFacts = after.fact.count() - prev.fact.count()
      if (tr.enabled && traced) {
        tr.add("functions.rows_parsed", b.rows.size)
        tr.add("dwh.scd2_closed", closed)
        tr.add("dwh.scd2_inserted", inserted)
        tr.add("dwh.merge_new", newFacts)
        tr.add("dwh.merge_matched", 5L * b.rows.size - newFacts)
        tr.add("streaming.storage_mb", Checks.storageBytes(spark) / 1e6)
      }
      Seq(
        (closed != b.changedJobs) -> s"dim_job closed $closed != changed ${b.changedJobs}",
        (inserted != b.newJobs + b.changedJobs) ->
          s"dim_job inserted $inserted != ${b.newJobs} new + ${b.changedJobs} changed",
        (coClosed != 0) -> s"dim_company closed $coClosed rows",
        (coInserted != b.newCompanies) -> s"dim_company inserted $coInserted != ${b.newCompanies}",
        (lostIds != 0) -> s"$lostIds existing facts lost or changed their fact_id")
        .collect { case (true, msg) => msg }
    }
  }

  /** Build the initial warehouse from generated rows (set-up work). */
  def initialStar(spark: SparkSession, rows: Seq[Row], asOf: LocalDate): Dwh = {
    val staging = Pipeline.rawToStaging(rawFrame(spark, rows), asOfTs(asOf))
    val d = Pipeline.stagingToDwh(staging, asOf.toString)
    Dwh(d.dimJob.localCheckpoint(), d.dimCompany.localCheckpoint(),
      d.dimLocation.localCheckpoint(), d.dimDate.localCheckpoint(),
      d.fact.localCheckpoint(), d.bridge.localCheckpoint())
  }
}

import Workloads._

/** The warehouse's first day: the initial load (raw parquet → staging →
  * star → monthly exports), then the next day's batch onto that star.
  */
final class FullLoadWorkload(spark: SparkSession, seed: Long, work: File) extends Workload {
  private val rawPath = new File(work, "raw_jobs").getPath
  private var rawRows = 0L
  private var nextDay: Batch = _
  private var bytes = 0L
  private var factRows = 0L

  def setup(): () => Seq[String] = {
    val gen = new Gen(seed, FullLoad)
    val rows = gen.initial(AsOf)
    nextDay = gen.batch(AsOf.plusDays(1))
    rawRows = rows.size.toLong
    rawFrame(spark, rows).write.mode("overwrite").parquet(rawPath)
    () => {
      val n = spark.read.parquet(rawPath).count()
      if (n != rawRows) Seq(s"raw parquet holds $n rows, generated $rawRows") else Nil
    }
  }

  def op(i: Int, tr: Tracer, traced: Boolean): OpDone = {
    val exportDir = new File(work, s"export_$i")
    val ((dwh, stats, dailyCheck), ns) = timed {
      tr.op("full_load", traced) {
        val staging = tr.span("functions.parse") {
          val s = Pipeline.rawToStaging(spark.read.parquet(rawPath), asOfTs(AsOf))
          // traced: split parse from build at the module boundary
          if (tr.enabled && traced) s.localCheckpoint() else s
        }
        val dwh = tr.span("dwh.build") {
          commit(tr, Pipeline.stagingToDwh(staging, AsOf.toString), "dwh.dims", "dwh.facts")
        }
        val stats = tr.span("io.export") {
          Exports.exportMonths(dwh, Exports.loadMonths(dwh), exportDir.getPath, AsOf.toString)
        }
        val star = new StreamingStar(dwh, _ => nextDay.asOf.toString)
        (dwh, stats, applyDaily(spark, tr, traced, star, nextDay, 1L))
      }
    }
    OpDone(ns, rawRows + nextDay.rows.size, () => {
      val counts = dwh.fact.agg(count(lit(1)), countDistinct(col("job_sk"), col("date_id")))
        .crossJoin(dwh.bridge.agg(count(lit(1))))
        .collect().head // 1 row
      val (facts, distinctKeys, bridge) = (counts.getLong(0), counts.getLong(1), counts.getLong(2))
      val (b, files) = Checks.dirBytes(exportDir)
      bytes = b
      factRows = facts
      if (tr.enabled && traced) {
        tr.add("functions.rows_parsed", rawRows)
        tr.add("dwh.fact_rows", facts)
        tr.add("dwh.bridge_rows", bridge)
        tr.add("io.export_files", files)
        tr.add("io.export_mb", b / 1e6)
      }
      def total(t: String) = stats.filter(_._2 == t).map(_._4).sum
      val index = new String(java.nio.file.Files.readAllBytes(
        new File(exportDir, "index.json").toPath), "UTF-8")
      val indexTotal = """"total_records": (\d+)""".r.findFirstMatchIn(index).map(_.group(1).toLong)
      Checks.deleteTree(exportDir)
      Checks.warehouseInvariants(dwh) ++ Seq(
        (facts != distinctKeys) -> s"(job_sk, date_id) not unique: $facts rows, $distinctKeys keys",
        (facts != 5L * FullLoad.jobs) -> s"fact rows $facts != 5 x ${FullLoad.jobs} jobs",
        (total("facts") != facts) -> s"facts export ${total("facts")} != fact rows $facts",
        (total("analytics") != facts) -> s"analytics export ${total("analytics")} != $facts",
        (total("locations") != bridge) -> s"locations export ${total("locations")} != bridge $bridge",
        (!indexTotal.contains(2 * facts + bridge)) ->
          s"index.json total $indexTotal != ${2 * facts + bridge}",
        (files == 0 || b == 0) -> "no exported parquet")
        .collect { case (true, msg) => msg } ++ dailyCheck()
    })
  }

  def bytesPerFactRow: Double = bytes.toDouble / math.max(1L, factRows)
}

/** BI views: a seeded mix of the analytic views and a validator report
  * over a star persisted to Parquet, each reading the whole star or one
  * load month.
  */
final class BiViewsWorkload(spark: SparkSession, seed: Long, work: File) extends Workload {
  private val starDir = new File(work, "star")
  private var months: Vector[String] = Vector.empty
  private var monthRows: Map[String, Long] = Map.empty
  private var starBytes = 0L
  private val expected = scala.collection.mutable.HashMap.empty[(String, String), String]
  /** One operation is one round, a dashboard refresh: it opens the star
    * from Parquet twice, whole and pruned to the current load month (the
    * latest), then runs every view and the validator once, in a
    * seeded order. Half the kinds read the month and the others the whole
    * star; the halves swap every round, so each round has the same make-up
    * whatever the seed.
    */
  private val kinds = ViewNames :+ "validator"
  private val MustBeZero = Set("duplicate_current_keys", "orphan_fact_job",
    "orphan_fact_company", "orphan_bridge_location", "null_fact_keys")
  private val rounds: Vector[Vector[(String, Boolean)]] = {
    val r = new scala.util.Random(seed * 7919L + 17L)
    Vector.tabulate(64) { round =>
      r.shuffle(kinds.zipWithIndex.map { case (k, j) => (k, (j + round) % 2 == 0) }).toVector
    }
  }

  private def path(t: String) = new File(starDir, t).getPath

  def setup(): () => Seq[String] = {
    expected.clear()
    val d = initialStar(spark, new Gen(seed, Views).initial(AsOf), AsOf)
    Snapshots.writePartitioned(d.fact, path("fact"))
    Seq("dim_job" -> d.dimJob, "dim_company" -> d.dimCompany, "dim_location" -> d.dimLocation,
      "dim_date" -> d.dimDate, "bridge" -> d.bridge)
      .foreach { case (t, df) => Snapshots.writeSnapshot(df, path(t), "1") }
    monthRows = spark.read.parquet(path("fact")).groupBy("load_month").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ |months| rows
    months = monthRows.keys.toVector.sorted
    starBytes = Checks.dirBytes(starDir)._1
    () => Checks.warehouseInvariants(d)
  }

  /** The star as a BI reader sees it: fresh Parquet scans, the fact
    * pruned to one load month when `month` is set.
    */
  private def readStar(month: Option[String]): Dwh = {
    val fact = month match {
      case Some(m) => Snapshots.readPartitions(spark, path("fact"), Seq(m))
      case None => spark.read.parquet(path("fact"))
    }
    def dim(t: String) = Snapshots.readSnapshot(spark, path(t), "1")
    Dwh(dim("dim_job"), dim("dim_company"), dim("dim_location"), dim("dim_date"), fact,
      dim("bridge"))
  }

  private def run(view: String, d: Dwh): DataFrame = {
    val asOf = AsOf.toString
    view match {
      case "vw_current_jobs" => AnalyticsViews.vwCurrentJobs(d)
      case "vw_job_locations" => AnalyticsViews.vwJobLocations(d)
      case "vw_monthly_jobs" => AnalyticsViews.vwMonthlyJobs(d)
      case "vw_top_companies" => AnalyticsViews.vwTopCompanies(d)
      case "vw_top_locations" => AnalyticsViews.vwTopLocations(d)
      case "vw_job_salary_filter" => AnalyticsViews.vwJobSalaryFilter(d, asOf)
      case "vw_top10_hn" => AnalyticsViews.vwTop10Hanoi(d, asOf)
      case "validator" => Checks.validatorReport(d, asOf)
    }
  }

  def op(i: Int, tr: Tracer, traced: Boolean): OpDone = {
    val round = i % rounds.size
    val month = months.last
    val (queries, wall) = timed {
      tr.op("bi_round", traced) {
        val stars = tr.span("io.star_read") {
          Map(false -> readStar(None), true -> readStar(Some(month)))
        }
        rounds(round).map { case (view, oneMonth) =>
          val layer = if (view == "validator") "quality.validator" else s"views.$view"
          val (rows, ns) = timed(tr.span(layer) {
            Checks.projectForDigest(view, run(view, stars(oneMonth))).collect() // ≤ star rows
          })
          (view, if (oneMonth) Some(month) else None, rows, ns)
        }
      }
    }
    OpDone(wall, 0L, () => {
      restate(queries.map(q => (q._1, q._2)))
      queries.flatMap { case (view, month, rows, _) =>
        val scope = month.getOrElse("*")
        val got = Checks.digest(rows.toSeq)
        val want = expected((view, scope))
        val invariants =
          if (view == "validator")
            rows.collect { case row if MustBeZero.contains(row.getString(0)) &&
                row.getLong(1) != 0 => s"validator ${row.getString(0)} = ${row.getLong(1)}"
            }.toSeq
          else Nil
        invariants ++ (if (got != want) Seq(s"$view[$scope] digest $got != restated $want")
          else Nil)
      }
    }, queries.map(_._4))
  }

  /** Compute the restatements not computed yet, concurrently, each on
    * its own temp views.
    */
  private def restate(queries: Seq[(String, Option[String])]): Unit = {
    val todo = queries.distinct
      .filterNot { case (view, month) => expected.contains((view, month.getOrElse("*"))) }
    expected ++= Checks.inParallel(todo.zipWithIndex.map { case ((view, month), n) =>
      () => (view, month.getOrElse("*")) ->
        Checks.restated(spark, view, readStar(month), AsOf.toString, s"pb${n}_")
    }, Runtime.getRuntime.availableProcessors())
  }

  /** The warm-up computes the restatements of every query of every round:
    * the output checks need them, and they run the views' plans through
    * Catalyst, code generation and the Parquet reader, as a warm-up round
    * would.
    */
  override def warmUp(tr: Tracer): Unit =
    restate(kinds.flatMap(k => Seq(k -> None, k -> Some(months.last))))

  /** Three rounds, so that a median is not a single round. */
  override def minOps: Int = 3

  def bytesPerFactRow: Double = starBytes.toDouble / math.max(1L, monthRows.values.sum)
}
