package graft.dwh

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StableIdSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("assign equals the global row_number numbering on unique keys") {
    val df = spark.range(0, 10000).select(
      (col("id") * 37 % 10007).as("k"), (col("id") % 5).as("payload"))
    val expected = df.withColumn("sk",
      (row_number().over(Window.orderBy(col("k"))) + 500L).cast("long"))
    val actual = StableId.assign(df, Seq(col("k")), "sk", 500L)
    assert(actual.count() === 10000L)
    assert(expected.exceptAll(actual).isEmpty && actual.exceptAll(expected).isEmpty)
  }

  test("ids are dense base+1..base+N and deterministic across runs") {
    val df = spark.range(0, 5000).select((col("id") * 13 % 4999).as("k"))
    val a = StableId.assign(df, Seq(col("k")), "sk", 0L)
    val b = StableId.assign(df, Seq(col("k")), "sk", 0L)
    val ids = a.agg(min("sk"), max("sk"), countDistinct("sk")).as[(Long, Long, Long)].head()
    assert(ids === ((1L, 5000L, 5000L)))
    assert(a.exceptAll(b).isEmpty)
  }

  test("correct with exchange reuse disabled (partitioning is pinned, not reused)") {
    // regression for the round-2 advice: ids must not depend on Catalyst
    // reusing the range Exchange between the offsets side and the data
    // side — the checkpoint pins the partitioning explicitly
    val prev = spark.conf.getOption("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val df = spark.range(0, 8000).select((col("id") * 29 % 7993).as("k"))
      val expected = df.withColumn("sk",
        row_number().over(Window.orderBy(col("k"))).cast("long"))
      val actual = StableId.assign(df, Seq(col("k")), "sk", 0L)
      assert(actual.select(countDistinct("sk")).as[Long].head() === 8000L)
      assert(expected.exceptAll(actual).isEmpty && actual.exceptAll(expected).isEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.exchange.reuse", v)
      case None    => spark.conf.unset("spark.sql.exchange.reuse")
    }
  }

  test("no shuffle or window over the data in the result plan") {
    val df = spark.range(0, 100).select(col("id").as("k"))
    val plan = StableId.assign(df, Seq(col("k")), "sk", 0L).queryExecution.executedPlan
    // the one data shuffle already ran and is pinned; ids come from the
    // partition offsets literal plus monotonically_increasing_id over the
    // pinned sort order, so a reader scans the stored blocks and projects
    object Plans extends AdaptiveSparkPlanHelper
    val joins = Plans.collect(plan) { case j: BaseJoinExec => j }
    val windows = Plans.collect(plan) { case w: WindowExec => w }
    val exchanges = Plans.collect(plan) { case e: Exchange => e }
    assert(joins.isEmpty && windows.isEmpty && exchanges.isEmpty, plan.toString)
  }

  test("a pre-arranged numbering runs one job after its checkpoint") {
    val arranged = spark.range(0, 2000).select((col("id") * 7 % 1999).as("k"))
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
      .localCheckpoint() // the caller's range shuffle, already run
    val harness = new graft.Harness(spark)
    val numbering = harness.run(StableId.assignPrearranged(arranged, "sk", 0L))
    assert(numbering.error.isEmpty, numbering)
    assert(numbering.jobs === 1L, s"numbering ran ${numbering.jobs} jobs")
  }

  test("edge layouts: one partition, more partitions than rows, empty input") {
    def check(df: DataFrame, what: String): Unit = {
      val expected = df.withColumn("sk",
        (row_number().over(Window.orderBy(col("k"))) + 10L).cast("long"))
      val actual = StableId.assign(df, Seq(col("k")), "sk", 10L)
      assert(expected.exceptAll(actual).isEmpty && actual.exceptAll(expected).isEmpty, what)
    }
    check(spark.range(0, 500, 1, 1).select((col("id") * 3 % 499).as("k"))
      .repartitionByRange(1, col("k")), "all rows in one partition")
    check(spark.range(0, 3, 1, 3).select((col("id") * 5).as("k")).repartition(8),
      "more partitions than rows")
    val ids = StableId.assign(spark.range(0, 3).select(col("id").as("k")).repartition(8),
      Seq(col("k")), "sk", 0L).select("sk").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 3L))
    check(spark.range(0).select(col("id").as("k")), "empty input")
  }

  test("an id column collision fails loudly") {
    val df = spark.range(0, 10).select(col("id").as("k"), lit(1L).as("sk"))
    intercept[IllegalArgumentException] {
      StableId.assign(df, Seq(col("k")), "sk", 0L)
    }
  }

  test("assignAfterMax continues after the existing max (or default when empty)") {
    val existing = spark.range(0, 5).select((col("id") + 200L).as("sk"))
    val df = spark.range(0, 3).select(col("id").as("k"))
    val ids = StableId.assignAfterMax(df, Seq(col("k")), "sk", existing, "sk", 9999L)
      .select("sk").as[Long].collect().sorted
    assert(ids === Array(205L, 206L, 207L))
    val empty = spark.range(0).select(col("id").as("sk"))
    val ids2 = StableId.assignAfterMax(df, Seq(col("k")), "sk", empty, "sk", 9999L)
      .select("sk").as[Long].collect().sorted
    assert(ids2 === Array(10000L, 10001L, 10002L))
  }

  test("empty input yields empty output") {
    val df = spark.range(0).select(col("id").as("k"))
    assert(StableId.assign(df, Seq(col("k")), "sk", 0L).count() === 0L)
  }
}
