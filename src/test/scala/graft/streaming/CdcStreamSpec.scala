package graft.streaming

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming operators against batch ground truth (SURVEY §2.9): the
  * windowed agg (oracle-checked in q_st1) plus streaming dedup and the
  * session_window sessionizer.
  */
class CdcStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("ensureAllStaged leaves every watch dir behind its _STAGED marker") {
    CdcStream.ensureAllStaged(spark, sf)
    Seq("stream_events_watch", "stream_events_sentinel", "stream_late_acts",
        "stream_docs_watch", "stream_docs_idx_watch", "stream_emb_watch").foreach { name =>
      val marker = new java.io.File(graft.SparkUtil.scratchDir(name, sf), "_STAGED")
      assert(marker.isFile, s"$name has no _STAGED marker")
    }
  }

  test("streaming dedup drops re-delivered events") {
    val stream = CdcStream.readEvents(spark, CdcStream.ensureStaged(spark, sf))
    val deduped = CdcStream.runToMemory(spark,
      CdcStream.dedupStream(stream).groupBy("event_type").agg(count(lit(1)).as("n")),
      "cdcspec_dedup")
    val batch = Tables.events(spark, sf)
      .dropDuplicates("event_id").groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(deduped.orderBy("event_type").collect().toSeq ==
      batch.orderBy("event_type").collect().toSeq)
  }

  test("streaming Count-Min cells equal the batch sketch (sum-merge is order-insensitive)") {
    val stream = CdcStream.readEvents(spark, CdcStream.ensureStaged(spark, sf))
      .select(col("user_id").cast("string").as("tok"))
    val streamed = CdcStream.runToMemory(spark,
      graft.llm.Sketches.buildTokenSketch(stream, "tok"), "cdcspec_cm")
    val batch = graft.llm.Sketches.buildTokenSketch(
      Tables.events(spark, sf).select(col("user_id").cast("string").as("tok")), "tok")
    assert(streamed.orderBy("r", "b").collect().toSeq ==
      batch.orderBy("r", "b").collect().toSeq)
    // bounded-state claim: the finished state can never exceed depth*width cells
    assert(streamed.count() <= 4L * 1024L)
  }

  test("native session_window sessionization matches gap semantics") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1.0), (1L, "2024-01-01 10:10:00", 2.0),
      (1L, "2024-01-01 12:30:00", 4.0),
      (2L, "2024-01-01 09:00:00", 8.0))
      .toDF("user_id", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss")))
      .select("user_id", "ts", "value")
    val sessions = CdcStream.sessionizeNative(rows, 30)
      .select("user_id", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // user 1: two sessions split by the 2h20m gap; user 2: one session
    assert(sessions == Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)), sessions)
  }

  test("windowed agg absorbs multi-file arrival and matches batch truth") {
    import spark.implicits._
    val dir = graft.SparkUtil.freshDir("cdcspec_multifile", "")
    def shape(rows: Seq[(Long, String, String, Double)]) =
      rows.toDF("event_id", "tss", "event_type", "value")
        .withColumn("ts", to_timestamp(col("tss")))
        .select("event_id", "ts", "event_type", "value")
    val f1 = shape(Seq((1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, "2024-01-01 11:00:00", "click", 2.0)))
    val f2 = shape(Seq((3L, "2024-01-02 10:00:00", "view", 3.0),
      (4L, "2024-01-03 09:00:00", "view", 4.0)))
    f1.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE").parquet(dir)
    val q = CdcStream.dailyTypeCounts(stream).writeStream
      .outputMode("complete").format("memory").queryName("cdcspec_multi").start()
    q.processAllAvailable()
    val afterFirst = spark.table("cdcspec_multi").count()
    f2.coalesce(1).write.mode("append").parquet(dir) // second arrival advances the watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cdcspec_multi")
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("day", "event_type").collect().toSeq
    val want = f1.unionByName(f2)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("day", "event_type").collect().toSeq
    assert(got == want, s"got=$got want=$want")
    assert(afterFirst == 2 && got.size == 4)
  }

  test("tombstones retained in state mask the user even when an older event arrives later") {
    import spark.implicits._
    // the resurrect hazard: if the merge physically DROPPED the
    // deletion tombstone, a later-arriving OLDER event would bring the
    // user back. Retention keeps last-wins associative across any
    // batch split, so the tombstone stays the user's state row; only
    // watermark-gated compaction may remove it physically.
    val src = graft.SparkUtil.freshDir("cdcspec_tomb_src", "")
    val stDir = graft.SparkUtil.freshDir("cdcspec_tomb_state", "")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    // file 1: user 1's DELETION (their latest event) + user 2 activity
    Seq((10L, t("2024-01-20 10:00:00"), 1L, "error"),
      (11L, t("2024-01-20 10:00:00"), 2L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("append").parquet(src)
    // file 2: an OLDER event for user 1 (late redelivery)
    Seq((9L, t("2024-01-10 09:00:00"), 1L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1) // force separate micro-batches
      .parquet(src)
    val state = spark.read.parquet(
      CdcStream.runMergeToStateTable(spark, stream, stDir))
    // the tombstone IS user 1's state row — no resurrect
    val u1 = state.filter(col("user_id") === 1L).collect()
    assert(u1.length == 1 && u1(0).getAs[String]("last_type") == "error", u1.toSeq)
    // compaction horizon AFTER the tombstone removes it physically...
    val after = CdcStream.compactTombstones(state, "error",
      t("2024-01-25 00:00:00").getTime * 1000L)
    assert(after.filter(col("user_id") === 1L).count() == 0)
    // ...a horizon BEFORE it keeps masking (still inside the watermark)
    val before = CdcStream.compactTombstones(state, "error",
      t("2024-01-15 00:00:00").getTime * 1000L)
    assert(before.filter(col("user_id") === 1L).count() == 1)
    assert(before.filter(col("user_id") === 2L).count() == 1, "other users untouched")
  }

  test("salted join equals plain join (skew utility semantics)") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_orderstatus")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, Seq("l_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    val salted = graft.dwh.Skew.saltedJoin(li, o, Seq("l_orderkey"), 8)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    assert(plain.orderBy("o_orderstatus").collect().toSeq ==
      salted.orderBy("o_orderstatus").collect().toSeq)
  }

  test("AppendBaseLedger: a retried batch reuses its original base and never double-advances") {
    // the q_st19 replay contract, both sides: first delivery of batch
    // 0 packs at 100 and advances to 150; batch 1 packs at 150 and
    // advances to 180; a RETRY of batch 0 must pack at 100 again (its
    // original offset — cum has long moved) and leave cum at 180.
    val ledger = new CdcStream.AppendBaseLedger(100L)
    assert(ledger.baseFor(0L) == 100L)
    ledger.advance(0L, 50L)
    assert(ledger.current == 150L)
    assert(ledger.baseFor(1L) == 150L)
    ledger.advance(1L, 30L)
    assert(ledger.current == 180L)
    // replay of batch 0 after later batches have advanced the base
    assert(ledger.baseFor(0L) == 100L,
      "retried batch must re-pack at its ORIGINAL offset")
    ledger.advance(0L, 50L)
    assert(ledger.current == 180L, "retried batch must not advance the base twice")
    // replay of the LATEST batch behaves the same way
    assert(ledger.baseFor(1L) == 150L)
    ledger.advance(1L, 30L)
    assert(ledger.current == 180L)
  }

  test("a failing micro-batch reaches the caller; the run leaves no query and restores the conf") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // a value the streaming override (min(8, cores)) cannot equal, so
    // an unrestored conf shows
    spark.conf.set(key, "13")
    try {
      val stream = CdcStream.readEvents(spark, CdcStream.ensureStaged(spark, sf))
      val err = intercept[Exception] {
        CdcStream.runForeachBatchEffect(spark, stream) { (_, _) =>
          throw new IllegalStateException("cdcspec: batch failed")
        }
      }
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(e => String.valueOf(e.getMessage).contains("cdcspec: batch failed")),
        err)
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get(key) == "13")
    } finally spark.conf.set(key, before)
  }
}
