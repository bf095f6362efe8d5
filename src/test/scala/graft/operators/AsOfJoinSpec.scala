package graft.operators

import graft.TestSpark
import graft.plans.NativeAsOfJoin
import graft.plans.NativeAsOfJoinSpec.withBroadcastThreshold
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The as-of join contract — backward, forward, point-in-time, tie
  * determinism and the salted hot-key form — on [[NativeAsOfJoin]],
  * each case under both physical choices: the sort-merge exec
  * (broadcast disabled) and the broadcast exec.
  */
class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def onBothExecs(body: => Unit): Unit =
    for (threshold <- Seq("-1", "100MB"))
      withClue(s"autoBroadcastJoinThreshold=$threshold: ") {
        withBroadcastThreshold(threshold)(body)
      }

  test("backward as-of picks the greatest right ts at-or-before each left row") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, t("2024-01-01 10:00:00"), "p1"), // matches view at 09:58
      (1L, t("2024-01-01 10:30:00"), "p2"), // matches view at 10:30 (inclusive tie)
      (2L, t("2024-01-01 08:00:00"), "p3"), // no earlier view → null
      (3L, t("2024-01-01 12:00:00"), "p4")) // key absent on right → null
      .toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, t("2024-01-01 09:58:00")),
      (1L, t("2024-01-01 10:30:00")),
      (1L, t("2024-01-01 11:00:00")), // after every left row; never matched
      (2L, t("2024-01-01 09:00:00")))
      .toDF("user_id", "ts")
    onBothExecs {
      val out = NativeAsOfJoin.joinAsOfBackward(left, right, Seq("user_id"), "ts", "ts", Seq("ts"))
        .select("tag", "asof_ts").collect()
        .map(r => r.getString(0) -> Option(r.getTimestamp(1)).map(_.toString).orNull)
        .toMap
      assert(out == Map(
        "p1" -> "2024-01-01 09:58:00.0",
        "p2" -> "2024-01-01 10:30:00.0",
        "p3" -> null,
        "p4" -> null), out.toString)
    }
  }

  test("forward as-of picks the smallest right ts at-or-after each left row") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, t("2024-01-01 10:00:00"), "v1"), // next purchase 10:30
      (1L, t("2024-01-01 10:30:00"), "v2"), // tie at 10:30 (inclusive)
      (1L, t("2024-01-01 11:30:00"), "v3"), // nothing later → null
      (2L, t("2024-01-01 08:00:00"), "v4")) // key absent on right → null
      .toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, t("2024-01-01 09:00:00")), // before every left row; never matched
      (1L, t("2024-01-01 10:30:00")),
      (1L, t("2024-01-01 11:00:00")))
      .toDF("user_id", "ts")
    onBothExecs {
      val out = NativeAsOfJoin.joinAsOfForward(left, right, Seq("user_id"), "ts", "ts", Seq("ts"))
        .select("tag", "asof_ts").collect()
        .map(r => r.getString(0) -> Option(r.getTimestamp(1)).map(_.toString).orNull)
        .toMap
      assert(out == Map(
        "v1" -> "2024-01-01 10:30:00.0",
        "v2" -> "2024-01-01 10:30:00.0",
        "v3" -> null,
        "v4" -> null), out.toString)
    }
  }

  test("point-in-time join honors validity intervals, expiry gaps, and open ends") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val right = Seq(
      // v1 valid [09:00, 10:00); v2 valid [10:00, 11:00); gap; v3 open-ended from 12:00
      (1L, t("2024-01-01 09:00:00"), Some(t("2024-01-01 10:00:00")), "v1"),
      (1L, t("2024-01-01 10:00:00"), Some(t("2024-01-01 11:00:00")), "v2"),
      (1L, t("2024-01-01 12:00:00"), None: Option[java.sql.Timestamp], "v3"))
      .toDF("user_id", "valid_from", "valid_to", "ver")
    val left = Seq(
      (1L, t("2024-01-01 09:30:00"), "in-v1"),
      (1L, t("2024-01-01 10:00:00"), "v2-start-inclusive"),
      (1L, t("2024-01-01 11:30:00"), "in-gap"),       // v2 expired, v3 not yet
      (1L, t("2024-01-01 23:00:00"), "in-open-v3"),
      (1L, t("2024-01-01 08:00:00"), "before-all"))
      .toDF("user_id", "ts", "tag")
    onBothExecs {
      val out = NativeAsOfJoin.joinPointInTime(
          left, right, Seq("user_id"), "ts", "valid_from", "valid_to", Seq("ver"))
        .select("tag", "pit_ver").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out == Map(
        "in-v1" -> "v1", "v2-start-inclusive" -> "v2", "in-gap" -> null,
        "in-open-v3" -> "v3", "before-all" -> null), out.toString)
    }
  }

  test("duplicate right (key, ts) rows resolve to one deterministic payload") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 09:00:00")
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("user_id", "ts")
    // same (key, ts) three times with different payloads; vary the
    // physical layout — the match must be the field-wise greatest
    // payload struct on every layout, never partition-sort luck
    val dupes = Seq((1L, ts, "a", 10), (1L, ts, "c", 30), (1L, ts, "b", 20))
    onBothExecs {
      for (parts <- Seq(1, 3, 7); shift <- 0 until 3) {
        val right = (dupes.drop(shift) ++ dupes.take(shift))
          .toDF("user_id", "ts", "tag", "amount").repartition(parts)
        val got = NativeAsOfJoin.joinAsOfBackward(
            left, right, Seq("user_id"), "ts", "ts", Seq("tag", "amount"))
          .select("asof_tag", "asof_amount").as[(String, Int)].collect().toSeq
        assert(got == Seq(("c", 30)), s"parts=$parts shift=$shift got=$got")
      }
    }
  }

  test("salted as-of matches unsalted on a planted hot key and spreads its tasks") {
    import spark.implicits._
    // one user owns 90% of the left rows — the unsalted sort-merge
    // would put all of them in a single task
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(base + m * 60000L)
    val left = ((1 to 900).map(i => (7L, ts(i))) ++ (1 to 100).map(i => (i.toLong + 100, ts(i))))
      .toDF("user_id", "ts")
    val right = ((1 to 50).map(i => (7L, ts(i * 18), s"s$i")) ++
      (1 to 100).map(i => (i.toLong + 100, ts(1), "z"))).toDF("user_id", "ts", "tag")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "ts", "asof_tag").as[(Long, java.sql.Timestamp, String)]
        .collect().sortBy(r => (r._1, r._2.getTime, r._3)).toSeq
    onBothExecs {
      val plain = NativeAsOfJoin.joinAsOfBackward(left, right, Seq("user_id"), "ts", "ts", Seq("tag"))
      val salted = NativeAsOfJoin.joinAsOfBackwardSalted(
        left, right, Seq("user_id"), "ts", "ts", Seq("tag"), saltBuckets = 8)
      assert(canon(salted) == canon(plain))
      // the layout is genuinely salted: the sort-merge exec partitions
      // by (user_id, __salt), so the hot key no longer maps to one task
      val p = salted.queryExecution.executedPlan.toString
      assert(p.contains("__salt"), s"salt column missing from plan:\n$p")
    }
    val hotSalts = left.filter(col("user_id") === 7L)
      .withColumn("__salt",
        pmod(xxhash64(col("user_id"), col("ts")), lit(8)).cast("int"))
      .select(countDistinct(col("__salt"))).as[Long].head()
    assert(hotSalts >= 6, s"hot key only landed on $hotSalts of 8 salts")
  }
}
