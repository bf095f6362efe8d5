package graft.app

import graft.{SparkUtil, TestSpark}
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A rerun of the same pipeline plans finds its generated classes in
  * Spark's class cache instead of compiling them again.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Janino compilations (class-cache misses) during `body`. */
  private def compilations(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** raw → staging → star, then a commit of every star table. */
  private def pipeline(): Unit = {
    val staging = Pipeline.rawToStaging(PipelineSpec.rawFixture(spark), "2026-08-12 10:30:00")
    val d = Pipeline.stagingToDwh(staging, "2026-08-12")
    Seq(d.dimJob, d.dimCompany, d.dimLocation, d.dimDate, d.fact, d.bridge)
      .foreach(_.localCheckpoint())
  }

  test("the session keeps stage ids out of class names and sizes the class cache") {
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      SparkUtil.CodegenCacheEntries.toString)
  }

  test("a second run of the pipeline compiles almost nothing") {
    val first = compilations(pipeline())
    val second = compilations(pipeline())
    info(s"compilations: first run $first, second $second")
    assert(second <= 10, s"first run compiled $first classes, second $second")
  }
}
