package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Test-only twin of the as-of join: union + running `last(ignoreNulls)`
  * window, the DataFrame composition [[NativeAsOfJoin]] replaced, kept
  * as its equivalence witness (NativeAsOfJoinSpec pins the two equal
  * row for row).
  *
  * Both sides union into one frame keyed by `keys`; within a key the
  * rows sort by ts, right rows (`__asof` 0) before left rows (1) so a
  * tie admits the right row, and the running window carries the
  * latest right payload onto each left row. Output columns: keys
  * first, then the remaining left columns, then the `prefix`ed right
  * timestamp and payload.
  */
object ComposedAsOf {

  def joinAsOfBackward(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      prefix: String = "asof_"): DataFrame =
    joinAsOfImpl(left, right, keys, leftTs, rightTs, payloadCols, prefix,
      forward = false)

  /** Forward form: the window runs in descending time, so the running
    * last() holds the smallest later right timestamp.
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
    // __p is the FINAL tiebreaker: right rows sharing (keys, ts) resolve
    // to the field-wise greatest payload on every layout (left rows
    // carry a null __p, which last(ignoreNulls) skips)
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
}
