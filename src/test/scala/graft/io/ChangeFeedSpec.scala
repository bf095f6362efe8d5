package graft.io

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physics of the log-derived change data feed behind q_s38: net-delta
  * churn cancellation, row classification, carried-row silence (a
  * compaction emits nothing), and append-only ranges.
  */
class ChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Tmp = graft.SparkUtil.scratchDir("changefeedspec", "")

  private def wipe(sub: String): (String, String) = {
    val fs = new Path(Tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$Tmp/$sub"), true)
    (s"$Tmp/$sub/data", s"$Tmp/$sub/log")
  }

  private def land(dataDir: String, sub: String, rows: Seq[(Long, Long)]): Seq[String] = {
    import spark.implicits._
    rows.toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dataDir/$sub")
    TableLog.filesUnder(spark, s"$dataDir/$sub")
  }

  test("netDelta cancels in-range churn both ways") {
    val commits = Seq(
      TableLog.Commit(1, "a", Seq("/f1", "/f2"), Nil),
      TableLog.Commit(2, "b", Seq("/f3"), Seq("/f2")),
      TableLog.Commit(3, "c", Seq("/f4", "/f2"), Seq("/f3")))
    // (1, 3]: f3 added then removed → gone; f2 removed then re-added → no-op
    val (adds, removes) = ChangeFeed.netDelta(commits, 1, 3)
    assert(adds == Seq("/f4"), s"adds: $adds")
    assert(removes.isEmpty, s"removes: $removes")
    // a sub-range sees the intermediate state
    val (a2, r2) = ChangeFeed.netDelta(commits, 1, 2)
    assert(a2 == Seq("/f3") && r2 == Seq("/f2"))
  }

  test("changes classifies insert/delete/update and stays silent on carried rows") {
    val (dataDir, logDir) = wipe("classify")
    val v1 = land(dataDir, "c1", Seq((0L, 10L), (1L, 11L), (2L, 12L), (3L, 13L)))
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(1, "ingest", v1, Nil)))
    // v2 rewrites the file: id 0 deleted, id 1's value changed, 2..3 carried
    val v2 = land(dataDir, "c2", Seq((1L, 99L), (2L, 12L), (3L, 13L)))
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(2, "rw", v2, v1)))
    // v3 appends id 100
    val v3 = land(dataDir, "c3", Seq((100L, 1L)))
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(3, "app", v3, Nil)))
    val got = ChangeFeed.changes(spark, logDir, fromV = 1, toV = 3, key = "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("delete", 0L, 10L),
      ("update_preimage", 1L, 11L), ("update_postimage", 1L, 99L),
      ("insert", 100L, 1L)), s"got $got")
  }

  test("a compaction-only range emits no changes") {
    val (dataDir, logDir) = wipe("compact")
    val rows = (0L until 50L).map(i => (i, i * 3))
    val v1 = land(dataDir, "c1", rows)
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(1, "ingest", v1, Nil)))
    val v2 = land(dataDir, "c2", rows) // same rows, new file
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(2, "compact", v2, v1)))
    assert(ChangeFeed.changes(spark, logDir, 1, 2, "id").count() == 0,
      "carried rows must not reach the feed")
  }

  test("an append-only range is pure inserts") {
    val (dataDir, logDir) = wipe("append")
    val v1 = land(dataDir, "c1", Seq((0L, 1L)))
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(1, "ingest", v1, Nil)))
    val v2 = land(dataDir, "c2", Seq((1L, 2L), (2L, 3L)))
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(2, "app", v2, Nil)))
    val got = ChangeFeed.changes(spark, logDir, 1, 2, "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("insert", 1L), ("insert", 2L)), s"got $got")
  }
}
