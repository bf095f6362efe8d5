package graft.dwh

import graft.functions.{LocationFns, TimeFns}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dimension preparation (SURVEY D1-D3, D7, D8).
  *
  * Mirrors /root/reference/src/processing/data_prepare.py:29-430 and
  * src/etl/dimension_handler.py:262-321 as set-based dataflow:
  * latest-crawl natural-key dedup + SCD stamp + SK numbering in one
  * exchange; DimLocation explodes the parsed location pairs and is
  * insert-only with a null-safe composite key and a seeded 'Unknown'
  * row; DimDate is an idempotent generated-range fill.
  */
object Dimensions {

  /** D1/D2 prep fused with surrogate-key assignment: dedup on the
    * natural key, stamp the SCD columns, number the survivors. ONE
    * range exchange on the natural key serves the dedup window, the SCD
    * stamp and the dense SK numbering (`Facts.keepLatest` with
    * `arrange`; `StableId.assignPrearranged` numbers the same
    * checkpointed partitions in place), where a dedup-then-assign
    * formulation pays a hash shuffle for the dedup AND a range shuffle
    * for the ids — per dimension, over a frame the size of staging.
    *
    * Survivor rule: `Facts.keepLatest`, the LATEST crawl wins, matching
    * the reference's crawl-order upsert (its per-row loop processes
    * crawls in order, so the last write per key sticks) and the daily
    * batch's dim inputs. Exact-timestamp ties break on a deterministic
    * payload hash so re-runs cannot flip survivors. SKs are
    * `base+1..base+N` in natural-key order; `crawled_at` is consumed.
    */
  def prepareDimAssigning(
      staging: DataFrame, naturalKey: String, skCol: String, base: Long,
      asOfDate: String): DataFrame =
    StableId.assignPrearranged(prepareDimArranged(staging, naturalKey, asOfDate), skCol, base)

  /** The pre-numbering stage of `prepareDimAssigning`, exposed so
    * PlanSpec can assert its one-exchange shape on the REAL plan (the
    * checkpoint inside assignPrearranged truncates lineage).
    */
  private[graft] def prepareDimArranged(
      staging: DataFrame, naturalKey: String, asOfDate: String): DataFrame = {
    val payload = staging.columns.filterNot(c => c == naturalKey || c == "crawled_at").toSeq
    Facts.keepLatest(staging, Seq(naturalKey), arrange = true)
      .select(col(naturalKey) +: payload.map(col): _*)
      .withColumn(ScdType2.EffectiveCol, lit(asOfDate).cast("date"))
      .withColumn(ScdType2.ExpiryCol, lit(null).cast("date"))
      .withColumn(ScdType2.CurrentCol, lit(true))
  }

  /** D3: explode each staging row's location string into unique
    * (province, city, district) rows; null/unparseable input falls back
    * to the Unknown row (which parse_job_location itself emits).
    */
  def prepareDimLocation(staging: DataFrame, locationCol: String): DataFrame =
    staging
      .select(col(locationCol)).distinct() // parse per distinct string, not per row
      .select(explode(LocationFns.parseJobLocation(col(locationCol))).as("loc"))
      .select(col("loc.province").as("province"), col("loc.city").as("city"),
        col("loc.district").as("district"))
      .dropDuplicates("province", "city", "district")

  /** D7: insert-only append of locations not already present, null-safe
    * on the full composite key (ref dimension_handler.py:290-297 builds
    * `province IS NULL AND ? IS NULL OR province = ?` by hand — `<=>`
    * is the set-based equivalent).
    */
  def appendNewLocations(dimLocation: DataFrame, candidates: DataFrame): DataFrame =
    dimLocation.select("province", "city", "district")
      .unionByName(newLocations(dimLocation, candidates))

  /** D7 incremental form: append candidate locations not already in the
    * dimension, KEEPING existing surrogate keys and numbering fresh rows
    * after max(location_sk) (ref dimension_handler.py:262-321 — the
    * dimension is insert-only, so existing SKs never move).
    */
  def appendNewLocationsKeepSk(dimLocation: DataFrame, candidates: DataFrame): DataFrame = {
    val freshWithSk = StableId.assignAfterMax(
      newLocations(dimLocation, candidates),
      Seq(col("city"), col("province"), col("district")), "location_sk",
      dimLocation, "location_sk", 9999L)
    dimLocation.select("location_sk", "province", "city", "district")
      .unionByName(freshWithSk.select("location_sk", "province", "city", "district"))
  }

  /** Candidate locations absent from the dimension: a null-safe
    * anti-join on the full (province, city, district) key.
    */
  private def newLocations(dimLocation: DataFrame, candidates: DataFrame): DataFrame = {
    val existing = dimLocation.select(
      col("province").as("__p"), col("city").as("__c"), col("district").as("__d"))
    candidates.select("province", "city", "district").join(existing,
      col("province") <=> col("__p") && col("city") <=> col("__c") &&
        col("district") <=> col("__d"),
      "left_anti")
  }

  /** D8: idempotent DimDate fill — generate the DimDate rows of
    * [start, end] (`TimeFns.dimDateRange`, projected to the existing
    * frame's columns) and append only dates absent from the existing
    * dimension (anti-join replaces the reference's per-day exists
    * probe, etl_main.py:460-484).
    */
  def fillDimDate(existing: DataFrame, start: String, end: String): DataFrame = {
    // validate driver-side: a malformed bound would cast to NULL and
    // the sequence would silently generate nothing
    val (s0, e0) = (java.time.LocalDate.parse(start).toString,
      java.time.LocalDate.parse(end).toString)
    val fresh = TimeFns.dimDateRange(existing.sparkSession, s0, e0)
      .select(existing.columns.map(col).toSeq: _*)
      .join(existing.select("date_id"), Seq("date_id"), "left_anti")
    existing.unionByName(fresh)
  }
}
