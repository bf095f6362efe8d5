package graft.dwh

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dimension prep dedup semantics (D1/D2): the latest-crawl survivor
  * rule must surface a real payload for a key whose crawl times are all
  * NULL and break exact crawl-time ties deterministically, whatever the
  * input order.
  */
class DimensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("prepareDim surfaces a payload even when every tiebreak for a key is NULL") {
    val staging = Seq(
      ("ACME", null.asInstanceOf[java.sql.Timestamp], "Tech"),
      ("ACME", null.asInstanceOf[java.sql.Timestamp], "Software"),
      ("GLOBEX", java.sql.Timestamp.valueOf("2026-08-01 00:00:00"), "Retail"))
      .toDF("company_name", "crawled_at", "industry")
    val dim = Dimensions.prepareDimAssigning(staging, "company_name", "company_sk", 0L, "2026-08-12")
    assert(dim.count() == 2)
    val acme = dim.filter($"company_name" === "ACME").collect().head
    assert(acme.getAs[String]("industry") != null) // not the all-NULL struct
    assert(acme.getAs[Boolean](ScdType2.CurrentCol))
  }

  test("prepareDim breaks exact-tiebreak ties deterministically") {
    val ts = java.sql.Timestamp.valueOf("2026-08-01 00:00:00")
    val staging = Seq(
      ("ACME", ts, "Tech"), ("ACME", ts, "Software"), ("ACME", ts, "Hardware"))
      .toDF("company_name", "crawled_at", "industry")
    val a = Dimensions.prepareDimAssigning(staging, "company_name", "company_sk", 0L, "2026-08-12")
    // shuffle the input order — the survivor must not depend on it
    val b = Dimensions.prepareDimAssigning(
      staging.orderBy(desc("industry")).repartition(3), "company_name", "company_sk", 0L,
      "2026-08-12")
    assert(a.count() == 1)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("fillDimDate rejects malformed bounds instead of generating nothing") {
    val existing = Seq(java.sql.Date.valueOf("2026-08-01")).toDF("date_id")
    intercept[java.time.format.DateTimeParseException] {
      Dimensions.fillDimDate(existing, "08/01/2026", "2026-08-05")
    }
    assert(Dimensions.fillDimDate(existing, "2026-08-01", "2026-08-05").count() == 5)
  }
}
