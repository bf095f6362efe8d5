package graft.io

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layer semantics that the incremental pipeline relies on:
  * dynamic partition overwrite must replace ONLY the months present in
  * the incoming frame (the reference's per-month DELETE+COPY,
  * partitioning.py:184-242, collapses into this one write mode —
  * SURVEY §4).
  */
class SnapshotsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dynamic partition overwrite rewrites only the touched month") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "dynamic")
    val path = graft.SparkUtil.freshDir("snapshots_dyn_overwrite", "")
    val v1 = Seq(("2026-07", 1L, 10.0), ("2026-07", 2L, 20.0), ("2026-08", 3L, 30.0))
      .toDF("load_month", "id", "v")
    Snapshots.writePartitioned(v1, path)
    // the incremental batch touches only August
    val aug = Seq(("2026-08", 3L, 99.0), ("2026-08", 4L, 40.0)).toDF("load_month", "id", "v")
    aug.write.mode("overwrite").partitionBy("load_month").parquet(path)
    val got = spark.read.parquet(path)
      .select("load_month", "id", "v").orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(
      ("2026-07", 1L, 10.0), ("2026-07", 2L, 20.0), // July untouched
      ("2026-08", 3L, 99.0), ("2026-08", 4L, 40.0))) // August replaced
  }

  test("partition views: one pruned view per month, collisions rejected") {
    import spark.implicits._
    val path = graft.SparkUtil.freshDir("snapshots_partition_views", "")
    Seq(("2026-07", 1L), ("2026-07", 2L), ("2026-08", 3L))
      .toDF("load_month", "id")
      .write.mode("overwrite").partitionBy("load_month").parquet(path)
    val names = Snapshots.registerPartitionViews(
      spark, "t", path, Seq("2026-07", "2026-08"))
    assert(names == Seq("t_load_month_2026_07", "t_load_month_2026_08"))
    assert(spark.table("t_load_month_2026_07").count() == 2)
    assert(spark.table("t_load_month_2026_08").count() == 1)
    // name sanitization is lossy: distinct values mapping to one view
    // name must fail loudly, not silently shadow a month
    val e = intercept[IllegalArgumentException] {
      Snapshots.registerPartitionViews(spark, "t", path, Seq("2026-07", "2026_07"))
    }
    assert(e.getMessage.contains("collision"))
  }

  test("compact: file count planned from on-disk bytes, data byte-identical") {
    import spark.implicits._
    val src = graft.SparkUtil.scratchDir("spec_compact_src", "")
    val out = graft.SparkUtil.scratchDir("spec_compact_out", "")
    val df = (1 to 10000).map(i => (i.toLong, s"row-$i", i * 1.5)).toDF("id", "s", "v")
    df.repartition(32).write.mode("overwrite").parquet(src)
    def files(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    }
    val srcBytes = files(src).map(_.getLen).sum
    assert(files(src).length == 32)
    // target = half the total -> exactly 2 output files
    val (before, after) = Snapshots.compact(spark, src, out, (srcBytes + 1) / 2)
    assert(before == 32 && after == 2, s"before=$before after=$after")
    // pure layout change: full content preserved
    val a = spark.read.parquet(src).orderBy("id").collect()
    val b = spark.read.parquet(out).orderBy("id").collect()
    assert(a.sameElements(b))
    // giant target -> single file
    assert(Snapshots.compact(spark, src, out, Long.MaxValue)._2 == 1)
  }
}
