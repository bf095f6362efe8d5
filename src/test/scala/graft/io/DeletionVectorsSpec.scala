package graft.io

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DeletionVectorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Tmp = graft.SparkUtil.scratchDir("dvspec", "")

  private def writeBase(path: String = s"$Tmp/base"): Unit = {
    import spark.implicits._
    (0L until 1000L).map(i => (i, s"g${i % 4}", i * 3 % 17))
      .toDF("id", "grp", "v")
      .repartition(5, col("id"))
      .write.mode("overwrite").parquet(path)
  }

  test("merge-on-read equals row-wise delete; overlapping batches dedupe; base untouched") {
    import spark.implicits._
    writeBase()
    val baseFiles = spark.read.parquet(s"$Tmp/base")
      .select(input_file_name()).distinct().as[String].collect().sorted
    val dv1 = DeletionVectors.build(spark, s"$Tmp/base", col("id") % 10 === 0)
    DeletionVectors.writeBatch(dv1, s"$Tmp/dv", 1)
    // batch 2 overlaps batch 1 on id % 30 == 0 — positions repeat
    val dv2 = DeletionVectors.build(spark, s"$Tmp/base", col("id") % 15 === 0)
    DeletionVectors.writeBatch(dv2, s"$Tmp/dv", 2)
    val live = DeletionVectors.readWithDv(spark, s"$Tmp/base", s"$Tmp/dv")
    val expect = (0L until 1000L).filterNot(i => i % 10 == 0 || i % 15 == 0)
    val got = live.select("id").as[Long].collect().sorted
    assert(got.toSeq == expect, s"live set wrong: ${got.length} vs ${expect.length}")
    // merge-on-read must never touch the base files
    val after = spark.read.parquet(s"$Tmp/base")
      .select(input_file_name()).distinct().as[String].collect().sorted
    assert(after.toSeq == baseFiles.toSeq, "base files changed under merge-on-read")
  }

  test("replayed delete batch is a no-op (idempotent sidecar overwrite)") {
    import spark.implicits._
    writeBase()
    val dv = DeletionVectors.build(spark, s"$Tmp/base", col("id") < 100)
    DeletionVectors.writeBatch(dv, s"$Tmp/dv_replay", 1)
    val once = DeletionVectors.readWithDv(spark, s"$Tmp/base", s"$Tmp/dv_replay")
      .count()
    DeletionVectors.writeBatch(dv, s"$Tmp/dv_replay", 1) // retry lands again
    val twice = DeletionVectors.readWithDv(spark, s"$Tmp/base", s"$Tmp/dv_replay")
      .count()
    assert(once == 900L && twice == 900L)
  }

  /** A fresh ledger over the 5-file base; the first (lowest-path)
    * base file's ids come back with it.
    */
  private def ledgerWithHotFile(name: String): (DeletionVectors.Ledger, Seq[Long]) = {
    import spark.implicits._
    val l = DeletionVectors.Ledger(graft.SparkUtil.freshDir(name, ""), "id",
      mBits = 1 << 12, k = 3, threshold = 0.3)
    writeBase(l.base)
    DeletionVectors.create(spark, l)
    val withFile = spark.read.parquet(l.base)
      .select(col("_metadata.file_path").as("f"), col("id"))
    val hotIds = withFile.filter(col("f") === withFile.select(min("f")).as[String].head())
      .select("id").as[Long].collect().toSeq.sorted
    (l, hotIds)
  }

  private def liveTotals(l: DeletionVectors.Ledger): (Long, Long) = {
    import spark.implicits._
    DeletionVectors.read(spark, l).agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
  }

  test("compaction rewrites ONLY hot files; cold files + residual DV unchanged") {
    import spark.implicits._
    // skewed deletes: 60% of the lexicographically-first file, 2% of
    // the rest (id % 50) — one file crosses the 0.3 threshold
    val (l, hotIds) = ledgerWithHotFile("dvspec_compact")
    val deleted = (hotIds.take(hotIds.length * 6 / 10) ++ (0L until 1000L).filter(_ % 50 == 0))
      .distinct
    DeletionVectors.applyBatch(spark, l, deleted.toDF("id"), 0)
    val kept = (0L until 1000L).filterNot(deleted.toSet)
    val tombs = spark.read.parquet(s"${l.root}/tomb").filter(col("file") =!= "")
      .select("file").as[String].collect()
    assert(tombs.length == 1, s"expected exactly one rewritten file: ${tombs.toSeq}")
    val cold = spark.read.parquet(s"${l.root}/manifest")
      .filter(col("batch_id") === -1 && !col("file").isin(tombs.toSeq: _*)).count()
    assert(cold == 4, s"expected 4 cold files, got $cold")
    // post-compaction table: cold files (with residual DV) + generation
    val after = liveTotals(l)
    assert(after == ((kept.size.toLong, kept.sum)),
      s"compaction changed the table: $after vs ${(kept.size, kept.sum)}")
  }

  /** Every DV, tombstone, manifest and generation batch dir of the
    * ledger: its parquet file count and its rows, sorted. Spark names
    * part files by write job, so only generation files (referenced by
    * path) must keep their names; they are listed by name.
    */
  private def ledgerState(l: DeletionVectors.Ledger): Map[String, (Int, Seq[String])] = {
    val root = new java.io.File(l.root)
    Seq("dv", "tomb", "manifest", "gen").flatMap { kind =>
      Option(new java.io.File(root, kind).listFiles).toSeq.flatten.filter(_.isDirectory).map { d =>
        val files = d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).sorted
        val rows = spark.read.parquet(d.getPath).collect().map(_.toString).sorted.toSeq
        val key = if (kind == "gen") s"gen/${d.getName}/${files.mkString(",")}" else s"$kind/${d.getName}"
        key -> ((files.length, rows))
      }
    }.toMap
  }

  test("ledger replay: re-applying a batch leaves DV, tombstone, manifest and live set unchanged") {
    import spark.implicits._
    val (l, hotIds) = ledgerWithHotFile("dvspec_replay")
    val batches = Seq(
      hotIds.take(hotIds.length * 6 / 10), // crosses the threshold: compacts
      (0L until 1000L).filter(_ % 50 == 0), // lands on cold files and the generation
      (0L until 1000L).filter(_ % 7 == 0))
    def apply(b: Int): Unit = DeletionVectors.applyBatch(spark, l, batches(b).toDF("id"), b)
    batches.indices.foreach(apply)
    val state = ledgerState(l)
    val live = liveTotals(l)
    assert(state.keys.exists(_.startsWith("gen/batch_id=0/")), s"batch 0 never compacted: ${state.keys}")
    val kept = (0L until 1000L).filterNot(batches.flatten.toSet)
    assert(live == ((kept.size.toLong, kept.sum)), s"live set wrong: $live")
    for (b <- Seq(0, 2)) { // the compacting batch and the last one
      apply(b)
      val again = ledgerState(l)
      assert(again.keySet == state.keySet, s"replaying batch $b changed the dirs")
      state.foreach { case (k, v) =>
        if (again(k) != v) fail(s"replaying batch $b changed $k: ${v._1} files/" +
          s"${v._2.size} rows became ${again(k)._1} files/${again(k)._2.size} rows")
      }
      assert(liveTotals(l) == live, s"replaying batch $b changed the live set")
    }
  }
}
