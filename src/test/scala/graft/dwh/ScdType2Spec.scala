package graft.dwh

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SCD2 semantics from the reference's test intent
  * (tests/test_staging_to_dwh.py:54-96): a changed tracked column
  * yields exactly two rows — closed old + current new — and re-applying
  * the same batch is a no-op (idempotency, SURVEY §7.4(2)).
  */
class ScdType2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Incoming (job_id, title_clean) rows, all of one crawl instant. */
  private def crawled(rows: (String, String)*) =
    rows.toDF("job_id", "title_clean")
      .withColumn("crawled_at", lit("2026-08-12 00:00:00").cast("timestamp"))

  private def currentDim = Seq(
    (10001L, "JOB001", "Python Developer", java.sql.Date.valueOf("2026-01-01"),
      null.asInstanceOf[java.sql.Date], true),
    (10002L, "JOB002", "Java Developer", java.sql.Date.valueOf("2026-01-01"),
      null.asInstanceOf[java.sql.Date], true))
    .toDF("job_sk", "job_id", "title_clean", "effective_date", "expiry_date", "is_current")

  test("changed title closes old row and appends new current version") {
    val incoming = crawled(("JOB001", "Senior Python Developer"), ("JOB002", "Java Developer"))
    val snap = ScdType2.applyBatch(currentDim, incoming, "job_id", Seq("title_clean"),
      "job_sk", "2026-08-12")
    val job1 = snap.filter($"job_id" === "JOB001").orderBy("job_sk").collect()
    assert(job1.length == 2)
    val (old, neu) = (job1(0), job1(1))
    assert(old.getAs[Long]("job_sk") == 10001L)
    assert(!old.getAs[Boolean]("is_current"))
    assert(old.getAs[java.sql.Date]("expiry_date").toString == "2026-08-12")
    assert(neu.getAs[Long]("job_sk") == 10003L) // max(10002) + row_number
    assert(neu.getAs[Boolean]("is_current"))
    assert(neu.getAs[String]("title_clean") == "Senior Python Developer")
    // unchanged row passes through untouched
    val job2 = snap.filter($"job_id" === "JOB002").collect()
    assert(job2.length == 1 && job2(0).getAs[Boolean]("is_current"))
  }

  test("re-applying the same batch is idempotent") {
    val incoming = crawled(("JOB001", "Senior Python Developer"), ("JOB003", "Data Engineer"))
    val snap1 = ScdType2.applyBatch(currentDim, incoming, "job_id", Seq("title_clean"),
      "job_sk", "2026-08-12")
    val snap2 = ScdType2.applyBatch(snap1, incoming, "job_id", Seq("title_clean"),
      "job_sk", "2026-08-13")
    assert(snap1.count() == snap2.count())
    assert(snap2.except(snap1).isEmpty && snap1.except(snap2).isEmpty)
  }

  test("NULL-key rows are rejected and duplicate batch keys collapse to one version") {
    // a NULL key can never match the routing join, so without the
    // guard it would insert a fresh "current" row on EVERY batch;
    // duplicate keys would double-insert current versions
    val incoming = crawled(
      (null.asInstanceOf[String], "Ghost Role"),
      ("JOB003", "Data Engineer"),
      ("JOB003", "Analytics Engineer"))
    val snap = ScdType2.applyBatch(currentDim, incoming, "job_id", Seq("title_clean"),
      "job_sk", "2026-08-13")
    assert(snap.filter($"job_id".isNull).isEmpty)
    val job3 = snap.filter($"job_id" === "JOB003").collect()
    assert(job3.length == 1 && job3.head.getAs[Boolean]("is_current"))
    // deterministic survivor + idempotent under re-apply
    val snap2 = ScdType2.applyBatch(snap, incoming, "job_id", Seq("title_clean"),
      "job_sk", "2026-08-14")
    assert(snap.except(snap2).isEmpty && snap2.except(snap).isEmpty)
  }

  test("routing tags insert/update/unchanged") {
    val incoming = Seq(
      ("JOB001", "Senior Python Developer"), // update
      ("JOB002", "Java Developer"),          // unchanged
      ("JOB003", "Data Engineer"))           // insert
      .toDF("job_id", "title_clean")
    val routes = ScdType2.routeChanges(currentDim, incoming, "job_id", Seq("title_clean"))
      .select("job_id", ScdType2.RouteCol).as[(String, String)].collect().toMap
    assert(routes == Map("JOB001" -> "update", "JOB002" -> "unchanged", "JOB003" -> "insert"))
  }
}
