package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The F1 salary normalizer as a `when`/`regexp_extract` column chain,
  * branch for branch as documented on [[SalaryFns]]. Test-only witness.
  */
object SalaryColumnChain {

  private val RangeUsd   = "(?iu)([0-9,.]+)\\s*-\\s*([0-9,.]+)\\s*usd"
  private val RangeTrieu = "(?iu)([0-9,.]+)\\s*-\\s*([0-9,.]+)\\s*triệu"
  private val UptoUsd    = "(?iu)tới\\s+([0-9,.]+)\\s*usd"
  private val UptoTrieu  = "(?iu)tới\\s+([0-9,.]+)\\s*triệu"
  private val FromTrieu  = "(?iu)từ\\s+([0-9,.]+)\\s*triệu"
  private val OneUsd     = "(?iu)([0-9,.]+)\\s*usd"
  private val OneTrieu   = "(?iu)([0-9,.]+)\\s*triệu"

  private val Dec = DecimalType(18, 6)
  private def usdNum(s: Column): Column =
    regexp_replace(s, ",", "").cast(Dec) * 24000 / 1000000
  private def trieuNum(s: Column): Column =
    regexp_replace(s, ",", ".").cast(Dec)
  private def zero: Column = lit(0).cast(Dec)

  /** The same semantics as pure column expressions (the original
    * formulation): each struct-field access re-inlines the whole branch
    * chain, which measured ~10× slower than the custom expression at
    * sf0.1 — kept as the executable specification the production
    * [[SalaryFns.normalizeSalary]] is tested against.
    */
  def normalizeSalary(c: Column): Column = {
    val pre = when(c.isNull || c === "" || lower(c) === "thoả thuận",
        struct(zero.as("mn"), zero.as("mx"), lit("negotiable").as("ty")))
      .when(c.rlike(RangeUsd),
        struct(usdNum(regexp_extract(c, RangeUsd, 1)).as("mn"),
          usdNum(regexp_extract(c, RangeUsd, 2)).as("mx"), lit("range").as("ty")))
      .when(c.rlike(RangeTrieu),
        struct(trieuNum(regexp_extract(c, RangeTrieu, 1)).as("mn"),
          trieuNum(regexp_extract(c, RangeTrieu, 2)).as("mx"), lit("range").as("ty")))
      .when(c.rlike(UptoUsd),
        struct(zero.as("mn"), usdNum(regexp_extract(c, UptoUsd, 1)).as("mx"),
          lit("upto").as("ty")))
      .when(c.rlike(UptoTrieu),
        struct(zero.as("mn"), trieuNum(regexp_extract(c, UptoTrieu, 1)).as("mx"),
          lit("upto").as("ty")))
      .when(c.rlike(FromTrieu),
        struct(trieuNum(regexp_extract(c, FromTrieu, 1)).as("mn"),
          trieuNum(regexp_extract(c, FromTrieu, 1)).as("mx"), lit("from").as("ty")))
      .when(c.rlike(OneUsd) && !c.contains("-"),
        struct(usdNum(regexp_extract(c, OneUsd, 1)).as("mn"),
          usdNum(regexp_extract(c, OneUsd, 1)).as("mx"), lit("range").as("ty")))
      .when(c.rlike(OneTrieu) && !c.contains("-"),
        struct(trieuNum(regexp_extract(c, OneTrieu, 1)).as("mn"),
          trieuNum(regexp_extract(c, OneTrieu, 1)).as("mx"), lit("range").as("ty")))
      .otherwise(
        struct(zero.as("mn"), zero.as("mx"), lit("negotiable").as("ty")))

    val mn = coalesce(pre.getField("mn"), zero)
    val mx = coalesce(nullif(pre.getField("mx"), zero), mn)
    struct(
      mn.cast("double").as("salary_min"),
      mx.cast("double").as("salary_max"),
      pre.getField("ty").as("salary_type"))
  }
}
