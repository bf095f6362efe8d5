package graft.dwh

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCD Type 2 core (SURVEY D4-D6, J8) as snapshot-rewrite dataflow.
  *
  * The reference mutates dimension rows in place per record
  * (/root/reference/src/etl/dimension_handler.py:40-260: per-row lookup,
  * stringly change compare, UPDATE old + INSERT new). Spark has no
  * UPDATE; the equivalent is a full-snapshot rewrite:
  *
  *   snapshot' = history ∪ unchangedCurrent ∪ closedOld ∪ newVersions ∪ inserts
  *
  * - Change detection compares tracked columns as strings with the
  *   reference's null matrix (both null → unchanged; null vs value →
  *   changed) — `<=>` over string casts reproduces it exactly.
  * - Surrogate keys are `max(existing sk) + rank in natural-key order`
  *   (SURVEY §7.4(1)): stable across re-runs, no sequences. The rank is
  *   StableId.assign — distributed dense numbering, no single-partition
  *   window — so the incremental path survives fact-scale batches, and
  *   the max rides a broadcast 1-row aggregate, not a driver collect.
  * - Idempotent: re-applying the same batch routes every row to
  *   `unchanged` and returns an identical snapshot.
  *
  * Scale note: the joins on the natural key broadcast the incoming
  * batch when small; the current snapshot never needs to move if
  * bucketed by natural key.
  */
object ScdType2 {

  val EffectiveCol = "effective_date"
  val ExpiryCol    = "expiry_date"
  val CurrentCol   = "is_current"
  val RouteCol     = "scd_route"

  /** D5 check_dimension_changes: tag each incoming row with its route:
    * 'insert' (no current row), 'update' (a tracked column differs), or
    * 'unchanged'. Output = incoming columns + scd_route.
    */
  def routeChanges(
      current: DataFrame, incoming: DataFrame,
      naturalKey: String, trackedCols: Seq[String]): DataFrame = {
    val cur = current.filter(col(CurrentCol))
      .select(col(naturalKey).as("__nk") +:
        trackedCols.map(c => col(c).as(s"__cur_$c")): _*)
    val joined = incoming.join(cur, incoming(naturalKey) === cur("__nk"), "left")
    val changed = trackedCols
      .map(c => !(col(c).cast("string") <=> col(s"__cur_$c").cast("string")))
      .reduce(_ || _)
    joined
      .withColumn(RouteCol,
        when(col("__nk").isNull, "insert")
          .when(changed, "update")
          .otherwise("unchanged"))
      .drop("__nk" +: trackedCols.map(c => s"__cur_$c"): _*)
  }

  /** D4+D6: full snapshot rewrite. `current` must carry (skCol,
    * naturalKey, payload..., effective_date, expiry_date, is_current);
    * `incoming` carries (naturalKey, payload..., crawled_at) with the
    * same payload columns. Returns the new snapshot with the same
    * schema as `current`.
    */
  def applyBatch(
      current: DataFrame, incoming: DataFrame,
      naturalKey: String, trackedCols: Seq[String],
      skCol: String, asOfDate: String): DataFrame = {

    // The natural key is the reference's PRIMARY KEY — NOT NULL by
    // schema. A NULL-key row can never match the routing join, so it
    // would route 'insert' on EVERY daily batch and grow one duplicate
    // is_current row per day, breaking the idempotency contract above;
    // reject it like the reference's PK constraint does. Duplicate keys
    // within one batch would double-insert current versions the same
    // way: the latest crawl survives (Facts.keepLatest, the survivor
    // rule of every latest-crawl dedup).
    val incomingDeduped = Facts
      .keepLatest(incoming.filter(col(naturalKey).isNotNull), Seq(naturalKey))
      .drop("crawled_at")
    // lazy checkpoint: routed feeds THREE consumers (changedKeys' anti
    // and semi probes, and newRows' numbering) and the executed plan
    // reuses none of them (ReusedExchange=0 measured) — without the
    // pin, the dedup window + routing join re-run per consumer
    val routed = routeChanges(current, incomingDeduped, naturalKey, trackedCols)
      .localCheckpoint(false)

    val history = current.filter(!col(CurrentCol))
    val curNow = current.filter(col(CurrentCol))

    val changedKeys = routed.filter(col(RouteCol) === "update").select(naturalKey)
    val unchangedCur = curNow.join(changedKeys, Seq(naturalKey), "left_anti")
    val closedOld = curNow.join(changedKeys, Seq(naturalKey), "left_semi")
      .withColumn(ExpiryCol, lit(asOfDate).cast("date"))
      .withColumn(CurrentCol, lit(false))

    // new versions + brand-new rows share one deterministic numbering
    // (distributed — StableId, not a global window; SURVEY §7.4(1))
    val newRows = routed.filter(col(RouteCol) =!= "unchanged")
    val numbered = StableId
      .assignAfterMax(newRows, Seq(col(naturalKey)), skCol, current, skCol, 9999L)
      .withColumn(EffectiveCol, lit(asOfDate).cast("date"))
      .withColumn(ExpiryCol, lit(null).cast("date"))
      .withColumn(CurrentCol, lit(true))
      .select(current.columns.map(col): _*)

    history
      .unionByName(unchangedCur)
      .unionByName(closedOld)
      .unionByName(numbered)
  }
}
