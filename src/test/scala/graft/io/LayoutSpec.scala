package graft.io

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Reference Morton interleave (bit loop) to pin the shift ladder. */
  private def mortonRef(a: Long, b: Long): Long =
    (0 until 16).foldLeft(0L) { (acc, i) =>
      acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }

  test("zValue matches the bit-loop Morton reference across the 16-bit range") {
    import spark.implicits._
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L),
      (12345L, 54321L), (40L, 10L), (60L, 16L))
    val got = samples.toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b")).as("z")).as[Long].collect()
    val expect = samples.map { case (a, b) => mortonRef(a, b) }
    assert(got.toSeq == expect, s"${got.toSeq} vs $expect")
  }

  test("z-ordered files cover compact rectangles: both dims prune to a file subset") {
    import spark.implicits._
    val df = (0L until 64L).flatMap(u => (0L until 64L).map(d => (u, d)))
      .toDF("u", "d")
    val tmp = graft.SparkUtil.scratchDir("layoutspec_z", "")
    Layout.zOrderBy2(df.repartition(8), col("u"), col("d"), numFiles = Some(8))
      .write.mode("overwrite").parquet(tmp)
    def spansOf(path: String) = spark.read.parquet(path)
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max("u") - min("u")).as("su"), (max("d") - min("d")).as("sd"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val zSpans = spansOf(tmp)
    assert(zSpans.length > 1, "expected multiple output files")
    // boundary files may straddle a quadrant jump (inherent to the
    // curve under arbitrary range splits), but MOST files must bound
    // BOTH dimensions to ~a quadrant...
    assert(zSpans.count { case (su, sd) => su <= 35 && sd <= 35 } * 8
      >= zSpans.length * 5, zSpans.mkString(","))
    // ...whereas a single-column sort leaves the OTHER dimension
    // spanning the full range in EVERY file — the layout z-order fixes
    val tmpU = graft.SparkUtil.scratchDir("layoutspec_usort", "")
    df.repartitionByRange(8, col("u")).sortWithinPartitions(col("u"))
      .write.mode("overwrite").parquet(tmpU)
    val uSpans = spansOf(tmpU)
    assert(uSpans.forall(_._2 == 63L), uSpans.mkString(","))
  }

  test("zone manifest: one row per file, planner prunes to overlapping zones only") {
    import spark.implicits._
    val tmp = graft.SparkUtil.scratchDir("layoutspec_manifest", "")
    (0L until 800L).map(i => (i, i % 100)).toDF("v", "g")
      .repartitionByRange(8, col("v"))
      .write.mode("overwrite").parquet(tmp)
    val manifest = Layout.zoneManifest(spark, tmp, "v").collect()
    val nFiles = spark.read.parquet(tmp)
      .select(input_file_name()).distinct().count()
    assert(manifest.length.toLong == nFiles, "manifest must be |files|-sized")
    assert(manifest.map(_.getAs[Long]("n_rows")).sum == 800L)
    // a predicate covering ~1/8 of the value range must prune most
    // files — and the files it keeps must cover ALL matching rows
    val keep = manifest
      .filter(r => r.getAs[Long]("zone_max") >= 100L && r.getAs[Long]("zone_min") <= 199L)
      .map(_.getAs[String]("file"))
    assert(keep.nonEmpty && keep.length < manifest.length,
      s"expected pruning: kept ${keep.length}/${manifest.length}")
    val got = spark.read.parquet(keep: _*)
      .filter(col("v").between(100L, 199L)).count()
    assert(got == 100L, s"pruned read lost rows: $got")
  }

  test("bloom manifest: point probes prune files zone maps cannot, zero false negatives") {
    import spark.implicits._
    val tmp = graft.SparkUtil.scratchDir("layoutspec_bloom", "")
    val (mBits, k) = (1 << 14, 4)
    // hash-distributed on a DIFFERENT column: every file's id zone
    // spans ~the full range (zone maps prune nothing for an id probe),
    // but each unique id lives in exactly one file
    (0L until 4000L).map(i => (i, i % 13)).toDF("id", "g")
      .repartition(8, col("g"))
      .write.mode("overwrite").parquet(tmp)
    val zones = Layout.zoneManifest(spark, tmp, "id").collect()
    assert(zones.forall(r =>
      r.getAs[Long]("zone_min") < 400L && r.getAs[Long]("zone_max") > 3600L),
      "layout precondition: id zones must be useless for point pruning")
    val manifest = Layout.bloomManifest(spark, tmp, "id", mBits, k)
    val probes = Seq(5L, 777L, 3999L)
    val files = Layout.bloomMatchingFiles(manifest, probes.toDF("id"), "id", mBits, k)
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.length < zones.length,
      s"expected pruning: kept ${files.length}/${zones.length}")
    // no false negatives: the pruned read must surface every probe row
    val got = spark.read.parquet(files.toIndexedSeq: _*)
      .filter(col("id").isin(probes: _*)).select("id").as[Long].collect().sorted
    assert(got.toSeq == probes.sorted, s"pruned read lost rows: ${got.toSeq}")
    // probing a key that is NOT in the table may pass bits (false
    // positive — allowed) but the exact filter must then return empty
    val miss = Layout.bloomMatchingFiles(manifest, Seq(999999L).toDF("id"),
      "id", mBits, k).collect().map(_.getString(0))
    val missRows =
      if (miss.isEmpty) 0L
      else spark.read.parquet(miss.toIndexedSeq: _*)
        .filter(col("id") === 999999L).count()
    assert(missRows == 0L)
  }

  test("manifest deltas: append batch never touches the standing delta; union == from-scratch") {
    import spark.implicits._
    val tmp = graft.SparkUtil.scratchDir("layoutspec_deltas", "")
    val (mBits, k) = (1 << 12, 3)
    def land(batch: Int, lo: Long, hi: Long): Unit = {
      (lo until hi).map(i => (i, i % 7)).toDF("v", "key")
        .repartitionByRange(3, col("v"))
        .write.mode("overwrite").parquet(s"$tmp/data/batch=$batch")
      Layout.statsManifest(spark, s"$tmp/data/batch=$batch", "v", "key", mBits, k)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/manifest/batch=$batch")
    }
    land(1, 0L, 600L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def mtimes(p: String) = fs
      .listStatus(new org.apache.hadoop.fs.Path(p))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getModificationTime)).sortBy(_._1).toSeq
    val standingDelta = mtimes(s"$tmp/manifest/batch=1")
    val standingData = mtimes(s"$tmp/data/batch=1")
    land(2, 600L, 1000L) // the append commit
    assert(mtimes(s"$tmp/manifest/batch=1") == standingDelta,
      "append rewrote the standing manifest delta")
    assert(mtimes(s"$tmp/data/batch=1") == standingData,
      "append rewrote standing data files")
    // the union-of-deltas manifest must carry the same stats a
    // from-scratch build over both generations would
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("zone_min"), col("zone_max"), col("n_rows"),
        map_entries(col("__bloom")).cast("string").as("b"))
      .collect().map(_.toString).sorted.toSeq
    val union = canon(spark.read.parquet(s"$tmp/manifest"))
    val scratch = canon(Layout.statsManifest(spark,
      s"$tmp/data", "v", "key", mBits, k))
    assert(union == scratch, "union-of-deltas diverged from from-scratch build")
  }

  test("k = 0 probes fails legibly instead of building an empty manifest") {
    import spark.implicits._
    val tmp = graft.SparkUtil.scratchDir("layoutspec_k0", "")
    (0L until 100L).toDF("v").write.mode("overwrite").parquet(tmp)
    val stats = intercept[IllegalArgumentException](
      Layout.statsManifest(spark, tmp, "v", "v", 1 << 12, 0))
    val bloom = intercept[IllegalArgumentException](
      Layout.bloomManifest(spark, tmp, "v", 1 << 12, 0))
    Seq(stats, bloom).foreach(e =>
      assert(e.getMessage.contains("k (probes per key) must be >= 1, got 0"), e.getMessage))
  }
}
