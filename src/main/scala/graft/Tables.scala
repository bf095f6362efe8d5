package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Central loaders for the driver testdata tables.
  *
  * All queries go through here so scan-level concerns (nanosecond
  * timestamp compat, column pruning, future bucketing) are handled in
  * one place. At cluster scale these would be catalog tables; here they
  * are bare parquet files, one per table.
  */
object Tables {

  /** Plain parquet read. Filters/projections layered on top are pushed
    * into the scan by Catalyst (verify via explain: PushedFilters).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case n        => spark.read.parquet(s"$dir/$n.parquet")
    }

  /** The generator has produced events.parquet with two `ts` physical
    * encodings across rounds: INT64 TIMESTAMP(NANOS) — which the
    * vectorized reader only accepts as a raw long via
    * spark.sql.legacy.parquet.nanosAsLong (set in SparkUtil) — and
    * INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives as
    * TIMESTAMP_NTZ. Normalize both to a session-TZ (UTC) timestamp so
    * every consumer sees one shape:
    *  - nanos long → floor-divide to microseconds (matching DuckDB's
    *    ns→µs coercion even for pre-1970 values — Spark `div` truncates
    *    toward zero, so compensate when the remainder is negative);
    *  - NTZ micros → reinterpret the wall-clock in the UTC session TZ
    *    (identical instants to DuckDB's naive read).
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          expr("timestamp_micros(ts div 1000 - (case when ts % 1000 < 0 then 1 else 0 end))"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _: org.apache.spark.sql.types.TimestampType => df
      case other =>
        throw new IllegalStateException(s"unsupported events.ts type: $other")
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    require(
      spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
      "build the session via graft.SparkUtil (sets spark.sql.legacy.parquet.nanosAsLong)")
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
