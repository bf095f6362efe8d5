package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The shared run loop and Verify's contract on top of it: a query that
  * throws is counted and fails the exit status without stopping the
  * dump, and oracle_sql.json survives every character JSON must escape.
  */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Verify dumps the good query, counts the throwing one and exits nonzero") {
    val out = Files.createTempDirectory("harness_verify").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_throws" -> ((s, _) => s.range(1).selectExpr("raise_error('boom')")),
      "q_good" -> ((s, _) => s.range(3).toDF("id")))
    // the escapes a hand-rolled writer must get right: a tab in oracle
    // SQL once made a reader's json.load fail
    val oracles = Map(
      "q_good" -> "SELECT \"id\" FROM t WHERE s = 'a\\b'\tAND\r\nx = '\u0001'",
      "q_throws" -> "SELECT 1")
    val err = new java.io.ByteArrayOutputStream
    val status = Console.withErr(err)(
      Verify.run(new Harness(spark), "unused", out, queries, oracles))
    assert(status == 1)
    assert(err.toString.contains("1 of 2 queries failed: q_throws"), err.toString)
    assert(spark.read.parquet(s"$out/q_good").count() == 3)
    assert(!Files.exists(Paths.get(s"$out/q_throws/_SUCCESS")))
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Paths.get(s"$out/oracle_sql.json").toFile, classOf[java.util.Map[String, String]])
    import scala.jdk.CollectionConverters._
    assert(back.asScala.toMap == oracles)
  }

  test("a run unpersists its own RDDs, keeps protected ones and counts its jobs") {
    val sc = spark.sparkContext
    val kept = sc.parallelize(1 to 5).cache()
    val h = new Harness(spark)
    val stray = sc.parallelize(1 to 7).cache()
    val r = h.run(stray.count())
    assert(r.error.isEmpty && r.sec >= 0)
    assert(r.jobs == 1 && r.tasks >= 1, r)
    assert(sc.getPersistentRDDs.contains(kept.id))
    assert(!sc.getPersistentRDDs.contains(stray.id))
    kept.unpersist(false)
  }
}
