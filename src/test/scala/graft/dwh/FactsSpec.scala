package graft.dwh

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Fact upsert statistics (S9): key-grain insert/update split, row-grain
  * success rate, and the empty-batch boundary the reference reports as
  * 0/0 (fact_handler.py:186-196); the merge's within-batch dedup; the
  * daily grain's date check.
  */
class FactsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def kv(rows: (Long, String)*) = rows.toDF("job_sk", "date_id")

  test("upsertStats splits inserts/updates at key grain, rate at row grain") {
    val existing = kv(1L -> "d1", 2L -> "d1")
    // 2 duplicate rows of key (1,d1): processed counts ROWS (3), the
    // insert/update split counts KEYS (1 update, 1 insert)
    val incoming = kv(1L -> "d1", 1L -> "d1", 3L -> "d1")
    val attempted = kv(1L -> "d1", 1L -> "d1", 3L -> "d1", 4L -> "d9")
    val r = Facts.upsertStats(existing, incoming, attempted).collect().head
    assert(r.getAs[Long]("n_attempted") == 4L)
    assert(r.getAs[Long]("n_processed") == 3L)
    assert(r.getAs[Long]("n_inserted") == 1L)
    assert(r.getAs[Long]("n_updated") == 1L)
    assert(r.getAs[Double]("success_rate") == 0.75)
    assert(!r.getAs[Boolean]("success_ok"))
  }

  test("upsertStats reports 0/0 (not NULL) for a fully-dropped batch") {
    val existing = kv(1L -> "d1")
    val incoming = kv().limit(0)
    val attempted = kv(1L -> "d1", 2L -> "d1")
    val r = Facts.upsertStats(existing, incoming, attempted).collect().head
    assert(!r.isNullAt(r.fieldIndex("n_inserted")) && r.getAs[Long]("n_inserted") == 0L)
    assert(!r.isNullAt(r.fieldIndex("n_updated")) && r.getAs[Long]("n_updated") == 0L)
    assert(r.getAs[Long]("n_processed") == 0L)
  }

  test("mergeFacts collapses duplicate incoming keys to one row per key") {
    val existing = Seq((100L, 1L, "d1", "2026-01", 50.0))
      .toDF("fact_id", "job_sk", "date_id", "load_month", "salary")
    // duplicate (1, d1) incoming rows tied on crawl time: without the
    // within-batch dedup the full-outer join fans out and two rows
    // share fact_id 100
    val crawl = java.sql.Timestamp.valueOf("2026-08-01 09:00:00")
    val incoming = Seq(
      (1L, "d1", "2026-08", 60.0, crawl),
      (1L, "d1", "2026-08", 70.0, crawl),
      (2L, "d1", "2026-08", 80.0, crawl))
      .toDF("job_sk", "date_id", "load_month", "salary", "crawled_at")
    def merge() = Facts.mergeFactsAssigning(existing, incoming, Seq("salary"), preserveCols = Nil)
    val out = merge()
    assert(out.count() == 2)
    val matched = out.filter($"job_sk" === 1L).collect()
    assert(matched.length == 1)
    assert(matched.head.getAs[Long]("fact_id") == 100L) // existing id preserved
    // deterministic: the survivor is the same on a second run
    val again = merge()
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
  }

  test("explodeDailyGrain rejects a malformed as-of date instead of emitting nothing") {
    val resolved = Seq((1L, "JOB001")).toDF("job_sk", "job_id")
    intercept[java.time.format.DateTimeParseException] {
      Facts.explodeDailyGrain(resolved, "2026-13-99")
    }
    assert(Facts.explodeDailyGrain(resolved, "2026-08-01").count() == 5)
  }
}
