package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (nearest-earlier) join — the temporal operator relational
  * engines bolt on (DuckDB ASOF JOIN, kdb aj, Flink temporal join) and
  * Spark's DataFrame API lacks.
  *
  * For each left row, attach the right row with the greatest
  * `rightTs <= leftTs` within the same key group (backward as-of, the
  * common "state as of this event" lookup). Implemented Spark-first as
  * union + running `last(ignoreNulls)` window rather than a range
  * join:
  *
  *  - ONE shuffle, on the key columns — both sides hash-partition
  *    together, no per-row range probe and no near-cartesian band
  *    blow-up (a range join on `r.ts <= l.ts` without an equality
  *    band is quadratic per key);
  *  - the window is a running aggregate (rows unbounded preceding →
  *    current), so each partition streams in sort order with O(1)
  *    state — no full-group materialization;
  *  - ties (right.ts == left.ts) admit the right row: within a
  *    timestamp the right side sorts first (`__asof` 0 before 1).
  *
  * Scale: cost is sort-within-partition of (|L|+|R|) rows keyed by
  * `keys` — the same bound as any windowed dedup here. A single
  * pathologically hot key serializes its own group (document the skew;
  * salt upstream if one user owns a data center's worth of events).
  *
  * Right payload columns are returned nullable (no match → null),
  * prefixed `prefix` to avoid collisions.
  */
object AsOfJoin {

  def joinAsOfBackward(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      prefix: String = "asof_"): DataFrame =
    joinAsOfImpl(left, right, keys, leftTs, rightTs, payloadCols, prefix,
      forward = false)

  /** Forward (nearest-later) as-of: for each left row, the right row
    * with the SMALLEST `rightTs >= leftTs` in its key group — "next
    * state change after this event" (next purchase after a view, next
    * deploy after a commit). Identical machinery and cost to the
    * backward form; only the running window's time direction flips
    * (descending ts, so the running last() always holds the smallest
    * later right timestamp). Ties (rightTs == leftTs) admit the right
    * row, mirroring backward.
    */
  def joinAsOfForward(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      prefix: String = "asof_"): DataFrame =
    joinAsOfImpl(left, right, keys, leftTs, rightTs, payloadCols, prefix,
      forward = true)

  private def joinAsOfImpl(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      prefix: String, forward: Boolean): DataFrame = {
    val leftCols = left.columns
    // one struct carries the right payload through the union; the
    // running last() then needs a single ignoreNulls aggregate
    val rTagged = right.select(
      (keys.map(col) :+ col(rightTs).as("__ts") :+ lit(0).as("__asof") :+
        struct((rightTs +: payloadCols).distinct.map(col): _*).as("__p")): _*)
    val lTagged = left.select(
      (keys.map(col) ++ leftCols.filterNot(keys.contains).map(col) :+
        col(leftTs).as("__ts") :+ lit(1).as("__asof") :+
        lit(null).cast(rTagged.schema("__p").dataType).as("__p")): _*)
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    // __p is the FINAL tiebreaker: right rows sharing (keys, ts) would
    // otherwise resolve to a partition-sort-dependent payload; with the
    // payload struct in the ordering, the running last() always picks
    // the field-wise greatest payload — deterministic on every layout.
    // (Left rows carry a null __p and sort first within their tie
    // group, which is irrelevant: last(ignoreNulls) skips them.)
    // Caveat: payload columns must be orderable types (no maps).
    val tsOrd = if (forward) col("__ts").desc else col("__ts").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrd, col("__asof").asc, col("__p").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__asof") === 1)
    val out = keys.map(col) ++
      leftCols.filterNot(keys.contains).map(col) ++
      (rightTs +: payloadCols).distinct.map(c =>
        col("__m").getField(c).as(s"$prefix$c"))
    matched.select(out: _*)
  }

  /** Hot-key-safe backward as-of: the running window serializes each
    * key's rows into one task, and AQE's skew handling splits JOINS,
    * not window partitions — so a key owning a data center's worth of
    * left rows is a straggler by construction in `joinAsOfBackward`.
    * The salted form restores parallelism exactly the way
    * `Skew.saltedJoin` does for joins: left rows scatter over
    * `saltBuckets` deterministic sub-keys (hash of the whole row, so
    * identical duplicate rows still agree), right rows REPLICATE to
    * every sub-key, and the as-of runs per (keys, salt). Every left
    * row still sees its key's full right history, so the result is
    * row-for-row identical to the unsalted operator — only the
    * physical layout changes; the hot key's left rows now spread over
    * `saltBuckets` tasks.
    *
    * Cost: the right side shuffles ×saltBuckets — the right trade when
    * the left side dominates (events vs. a bounded dimension/state
    * history). Keep `saltBuckets` modest (8-32) and salt only when a
    * key-frequency probe says the top key breaches task-size comfort.
    */
  def joinAsOfBackwardSalted(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      prefix: String = "asof_", saltBuckets: Int = 16): DataFrame = {
    require(saltBuckets > 1, "saltBuckets must be > 1 (use joinAsOfBackward instead)")
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col): _*), lit(saltBuckets)).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    joinAsOfBackward(
      saltedLeft, saltedRight, keys :+ "__salt", leftTs, rightTs, payloadCols, prefix)
      .drop("__salt")
  }

  /** Point-in-time (validity-interval) join: attach the right-side
    * version whose [validFrom, validTo) interval covers each left
    * row's timestamp — the SCD2 "which dimension version was current
    * when this fact happened" lookup, and the degenerate-free form of
    * a range join (intervals per key are disjoint, so each left row
    * matches at most one version).
    *
    * Rides `joinAsOfBackward` on validFrom — same single key shuffle,
    * same running-window cost — then voids matches whose validTo had
    * already passed (a version history with gaps, e.g. a bounded
    * validity horizon). A NULL validTo means open-ended (the SCD2
    * current row).
    */
  def joinPointInTime(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, validFrom: String, validTo: String,
      payloadCols: Seq[String], prefix: String = "pit_"): DataFrame =
    voidExpired(
      joinAsOfBackward(left, right, keys, leftTs, validFrom,
        (payloadCols :+ validTo).distinct, prefix),
      leftTs, validFrom, validTo, payloadCols, prefix)

  /** Void matches whose validTo had already passed — shared by the
    * composed point-in-time join above and the native-exec form
    * (plans/NativeAsOfJoin.joinPointInTime).
    */
  private[graft] def voidExpired(
      joined: DataFrame, leftTs: String, validFrom: String, validTo: String,
      payloadCols: Seq[String], prefix: String): DataFrame = {
    // materialize the flag BEFORE voiding: the first voided column is
    // validTo itself, and re-deriving the predicate from the already-
    // nulled column would spare every later column
    val flagged = joined.withColumn("__expired",
      col(s"$prefix$validTo").isNotNull && col(s"$prefix$validTo") <= col(leftTs))
    ((validFrom +: validTo +: payloadCols).distinct)
      .foldLeft(flagged) { (df, c) =>
        df.withColumn(s"$prefix$c",
          when(col("__expired"), lit(null).cast(df.schema(s"$prefix$c").dataType))
            .otherwise(col(s"$prefix$c")))
      }
      .drop("__expired")
  }
}
