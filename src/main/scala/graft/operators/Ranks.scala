package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed ranking without row-level windows.
  *
  * A `row_number() OVER (ORDER BY v)` serializes the whole frame into
  * one task. But a rank is just `(# rows below v)` plus a position
  * within the tie group — and for AVERAGE (fractional) ranks the
  * within-group position washes out entirely: the tie group at value v
  * occupies positions cntBelow+1 … cntBelow+cnt, so its average rank
  * is cntBelow + (cnt+1)/2. That needs only the per-VALUE counts and
  * their running sum — an aggregation plus a window over |distinct
  * values| rows, each holding two longs. (For a distinct-value set too
  * big for one task, the same two-level range-partitioned prefix sum
  * as Corpus.packShards applies; value histograms are tiny next to
  * their frames in practice.)
  */
object Ranks {

  /** Adds `outCol` = 2 × (average rank of `valueCol` under ascending
    * order, ties averaged) — doubled so it is an exact INTEGER (avg
    * ranks are exact halves), which keeps downstream moments exact.
    *
    * NULL values carry no rank and their rows are EXCLUDED from the
    * output (explicitly, up front — the standard rank-statistics
    * convention; a silent inner-join drop would hide it).
    */
  def doubledAvgRank(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val nonNull = df.filter(col(valueCol).isNotNull)
    val counts = nonNull.groupBy(col(valueCol)).agg(count(lit(1)).as("__cnt"))
    val w = Window.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = counts
      .withColumn("__below", coalesce(sum(col("__cnt")).over(w), lit(0L)))
      // doubled average rank: 2·cntBelow + cnt + 1
      .withColumn(outCol, (col("__below") * 2 + col("__cnt") + 1).cast("long"))
      .select(col(valueCol), col(outCol))
    nonNull.join(ranked, Seq(valueCol))
  }

  /** Spearman's rho from doubled ranks `x2`, `y2` (any doubled-rank
    * source — [[doubledAvgRank]] or a min+max window pair): one row
    * (n, rho), Pearson's r over the ranks rounded to 6dp. Doubled
    * ranks are exact integers, so every moment is an exact sum
    * (DECIMAL where x² could overflow int64) and rho is one identical
    * double expression on both engines.
    */
  def spearmanRho(rk: DataFrame): DataFrame = {
    def d18(c: Column) = c.cast(DecimalType(18, 0))
    val m = rk.agg(
      count(lit(1)).as("n"), sum(col("x2")).as("sx"), sum(col("y2")).as("sy"),
      sum(d18(col("x2")) * d18(col("y2"))).cast("double").as("sxy"),
      sum(d18(col("x2")) * d18(col("x2"))).cast("double").as("sxx"),
      sum(d18(col("y2")) * d18(col("y2"))).cast("double").as("syy"))
    m.select(col("n"),
      round((col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
        / sqrt((col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx"))
          * (col("n").cast("double") * col("syy") - col("sy").cast("double") * col("sy"))),
        6).as("rho"))
  }
}
