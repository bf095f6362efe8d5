package graft.plans

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native Catalyst as-of operator against its test-side witness,
  * the union+window composition [[ComposedAsOf]]: identical contract,
  * so the two must agree row for row on the real events table, and
  * the plan-shape, optimizer-rule and API-guard cases pin the native
  * operator itself. q_w4 additionally pins it to DuckDB's native ASOF
  * JOIN.
  */
class NativeAsOfJoinSpec extends AnyFunSuite {
  import NativeAsOfJoinSpec.withBroadcastThreshold
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("native as-of handles tie, no-earlier, and absent-key edges") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, t("2024-01-01 10:00:00"), "p1"),
      (1L, t("2024-01-01 10:30:00"), "p2"), // inclusive tie
      (2L, t("2024-01-01 08:00:00"), "p3"), // no earlier right row
      (3L, t("2024-01-01 12:00:00"), "p4")) // key absent on right
      .toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, t("2024-01-01 09:58:00")),
      (1L, t("2024-01-01 10:30:00")),
      (1L, t("2024-01-01 11:00:00")),
      (2L, t("2024-01-01 09:00:00")))
      .toDF("user_id", "ts")
    val out = NativeAsOfJoin.joinAsOfBackward(
        left, right, Seq("user_id"), "ts", "ts", Seq("ts"))
      .select("tag", "asof_ts").collect()
      .map(r => r.getString(0) -> Option(r.getTimestamp(1)).map(_.toString).orNull)
      .toMap
    assert(out == Map(
      "p1" -> "2024-01-01 09:58:00.0",
      "p2" -> "2024-01-01 10:30:00.0",
      "p3" -> null,
      "p4" -> null), out.toString)
  }

  test("native as-of: duplicate right (key, ts) rows resolve deterministically on every layout") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 09:00:00")
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("user_id", "ts")
    val dupes = Seq((1L, ts, "a", 10), (1L, ts, "c", 30), (1L, ts, "b", 20))
    for (parts <- Seq(1, 3, 7); shift <- 0 until 3) {
      val right = (dupes.drop(shift) ++ dupes.take(shift))
        .toDF("user_id", "ts", "tag", "amount").repartition(parts)
      val got = NativeAsOfJoin.joinAsOfBackward(
          left, right, Seq("user_id"), "ts", "ts", Seq("tag", "amount"))
        .select("asof_tag", "asof_amount").as[(String, Int)].collect().toSeq
      assert(got == Seq(("c", 30)), s"parts=$parts shift=$shift got=$got")
    }
  }

  test("native as-of equals the composed union+window form on the events table (both physical forms)") {
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase").select("user_id", "ts")
    val v = ev.filter(col("event_type") === "view")
      .select("user_id", "ts", "value")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "ts", "asof_ts").collect().map(_.toString).toSeq
    val composed = canon(ComposedAsOf.joinAsOfBackward(
      p, v, Seq("user_id"), "ts", "ts", Seq("ts", "value")))
    for (threshold <- Seq("-1", "100MB")) withBroadcastThreshold(threshold) {
      val native = NativeAsOfJoin.joinAsOfBackward(
        p, v, Seq("user_id"), "ts", "ts", Seq("ts", "value"))
      assert(native.columns.toSeq.last == "asof_value")
      assert(canon(native) == composed, s"threshold=$threshold")
    }
  }

  test("native FORWARD as-of equals the composed form on the events table") {
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase").select("user_id", "ts")
    val v = ev.filter(col("event_type") === "view").select("user_id", "ts", "value")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "ts", "asof_ts").collect().map(_.toString).toSeq
    val composed = canon(ComposedAsOf.joinAsOfForward(
      p, v, Seq("user_id"), "ts", "ts", Seq("ts", "value")))
    for (threshold <- Seq("-1", "100MB")) withBroadcastThreshold(threshold) {
      val native = NativeAsOfJoin.joinAsOfForward(
        p, v, Seq("user_id"), "ts", "ts", Seq("ts", "value"))
      assert(canon(native) == composed, s"threshold=$threshold")
    }
  }

  test("large right side plans sort-merge AsOfJoinExec with one exchange per side") {
    withBroadcastThreshold("-1") {
      val ev = Tables.events(spark, sf)
      val p = ev.filter(col("event_type") === "purchase").select("user_id", "ts")
      val v = ev.filter(col("event_type") === "view").select("user_id", "ts")
      val df = NativeAsOfJoin.joinAsOfBackward(
        p, v, Seq("user_id"), "ts", "ts", Seq("ts"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin ["), plan) // AsOfJoinExec renders sans Exec
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 2, s"expected one hash exchange per side, got $exchanges:\n$plan")
    }
  }

  test("optimizer rule pushes left-only filters below the node, key filters to BOTH sides") {
    import org.apache.spark.sql.catalyst.plans.logical
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase").select("user_id", "ts")
    val v = ev.filter(col("event_type") === "view").select("user_id", "ts")
    val joined = NativeAsOfJoin.joinAsOfBackward(
        p, v, Seq("user_id"), "ts", "ts", Seq("ts"))
      .filter(col("user_id") < 500)
    val opt = joined.queryExecution.optimizedPlan
    val node = opt.collect { case n: AsOfJoinNode => n }.head
    def hasPred(pl: logical.LogicalPlan): Boolean =
      pl.collect {
        case f: logical.Filter if f.condition.toString.contains("500") => f
      }.nonEmpty
    assert(hasPred(node.left), s"predicate must push to the left child:\n${node.left}")
    assert(hasPred(node.right),
      s"key predicate must copy to the right child:\n${node.right}")
    // nothing left-only may remain ABOVE the node
    val filtersAbove = opt.collect {
      case f: logical.Filter
        if f.child.find(_.isInstanceOf[AsOfJoinNode]).isDefined => f
    }
    assert(filtersAbove.isEmpty, opt.toString)
    // and the answer is the answer
    val expect = ComposedAsOf.joinAsOfBackward(
      p.filter(col("user_id") < 500), v, Seq("user_id"), "ts", "ts", Seq("ts")).count()
    assert(joined.count() == expect)
  }

  test("pruning rule trims unused left columns below the node") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, t("2024-01-01 10:00:00"), "wide1", "wide2", 42))
      .toDF("user_id", "ts", "extra_a", "extra_b", "extra_c")
    val right = Seq((1L, t("2024-01-01 09:00:00"), 7L))
      .toDF("user_id", "ts", "payload")
    val joined = NativeAsOfJoin.joinAsOfBackward(
        left, right, Seq("user_id"), "ts", "ts", Seq("payload"))
      .select("user_id", "asof_payload") // drops every extra_* column
    val node = joined.queryExecution.optimizedPlan
      .collect { case n: AsOfJoinNode => n }.head
    val leftCols = node.left.output.map(_.name).toSet
    assert(leftCols == Set("user_id", "ts"),
      s"unused left columns must prune below the node, kept: $leftCols")
    assert(joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 7L)))
  }

  test("small right side plans BroadcastAsOfJoin: left never shuffles or sorts") {
    withBroadcastThreshold("100MB") {
      val ev = Tables.events(spark, sf)
      val p = ev.filter(col("event_type") === "purchase").select("user_id", "ts")
      val v = ev.filter(col("event_type") === "view").select("user_id", "ts")
      val df = NativeAsOfJoin.joinAsOfBackward(
        p, v, Seq("user_id"), "ts", "ts", Seq("ts"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastAsOfJoin"), plan)
      assert(plan.contains("BroadcastExchange"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"left side must not shuffle:\n$plan")
      assert(!plan.contains("Sort ["), s"no sort on either side:\n$plan")
    }
  }

  test("mismatched key types fail eagerly at the API, never silently mis-join") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // int key vs long key: UnsafeRow binary equality over different
    // widths would read garbage — the API must refuse up front
    val left = Seq((1, t("2024-01-01 10:00:00"))).toDF("k", "ts")
    val right = Seq((1L, t("2024-01-01 09:00:00"), "x")).toDF("k", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      NativeAsOfJoin.joinAsOfBackward(left, right, Seq("k"), "ts", "ts", Seq("v"))
    }
    assert(e.getMessage.contains("key types must match"), e.getMessage)
    // timestamp-type mismatch is refused the same way
    val rightBadTs = Seq((1, "2024-01-01", "x")).toDF("k", "ts", "v")
    val e2 = intercept[IllegalArgumentException] {
      NativeAsOfJoin.joinAsOfBackward(left, rightBadTs, Seq("k"), "ts", "ts", Seq("v"))
    }
    assert(e2.getMessage.contains("timestamp types must match"), e2.getMessage)
  }
}

object NativeAsOfJoinSpec {

  /** Run `body` with autoBroadcastJoinThreshold pinned, restoring it
    * after — forces the sort-merge (threshold "-1") or broadcast
    * (large threshold) physical choice deterministically.
    */
  def withBroadcastThreshold[A](v: String)(body: => A): A = {
    val spark = TestSpark.spark
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, prev)
  }
}
