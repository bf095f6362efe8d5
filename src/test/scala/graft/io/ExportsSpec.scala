package graft.io

import graft.{SparkUtil, TestSpark}
import graft.app.{Pipeline, PipelineSpec}
import graft.plans.NativeAsOfJoinSpec.withBroadcastThreshold
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The export's data files are a function of the star alone: whichever
  * physical joins AQE picks, every file holds the same rows in the same
  * order.
  */
class ExportsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val AsOf = "2026-10-10"

  /** PipelineSpec's six raw jobs, cloned onto 60 crawl days (three load
    * months), built into a committed star.
    */
  private lazy val dwh = {
    val raw = PipelineSpec.rawFixture(spark)
      .crossJoin(spark.range(60).withColumnRenamed("id", "day"))
      .withColumn("job_id", concat(col("job_id"), lit("-"), col("day")))
      .withColumn("crawled_at", timestamp_add("DAY", col("day"), col("crawled_at")))
      .drop("day")
    val d = Pipeline.stagingToDwh(Pipeline.rawToStaging(raw, s"$AsOf 10:30:00"), AsOf)
    Pipeline.Dwh(d.dimJob.localCheckpoint(), d.dimCompany.localCheckpoint(),
      d.dimLocation.localCheckpoint(), d.dimDate.localCheckpoint(),
      d.fact.localCheckpoint(), d.bridge.localCheckpoint())
  }

  /** Export `dwh` under a pinned broadcast threshold; for each exported
    * file (by its path under the export dir), the rows of each of its
    * part files, parts in name order.
    */
  private def export(threshold: String): Map[String, Seq[Seq[String]]] =
    withBroadcastThreshold(threshold) {
      val dir = SparkUtil.freshDir("exports_spec", threshold)
      val stats = Exports.exportMonths(dwh, Exports.loadMonths(dwh), dir, AsOf)
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      stats.map { case (m, _, file, n) =>
        val parts = fs.listStatus(new Path(s"$dir/$m/$file")).map(_.getPath)
          .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
        val rows = parts.map(p => spark.read.parquet(p.toString).collect().map(_.toString).toSeq)
        assert(rows.map(_.size).sum == n, s"$m/$file")
        s"$m/$file" -> rows
      }.toMap
    }

  test("every exported file reads back with the same row sequence under either join") {
    val sortMerge = export("-1")
    val broadcastJoin = export("100MB")
    assert(sortMerge.keySet == broadcastJoin.keySet)
    assert(sortMerge.keySet.count(_.contains("job_locations_")) == 3, sortMerge.keySet)
    sortMerge.keys.toSeq.sorted.foreach { f =>
      val (a, b) = (sortMerge(f), broadcastJoin(f))
      val same = a == b
      assert(same, s"$f: part sizes ${a.map(_.size)} vs ${b.map(_.size)}, first differing row " +
        a.flatten.zip(b.flatten).indexWhere { case (x, y) => x != y })
    }
  }
}
