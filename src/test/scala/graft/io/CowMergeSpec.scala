package graft.io

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physics of the copy-on-write MERGE behind q_s37: clause semantics
  * (delete / update-only-updateCols / insert), minimal file rewrite,
  * by-reference survival of untouched files, and the optimistic-
  * concurrency abort when a concurrent writer rewrote a touched file.
  */
class CowMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Tmp = graft.SparkUtil.scratchDir("cowmergespec", "")

  private def wipe(sub: String): (String, String) = {
    val fs = new Path(Tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$Tmp/$sub"), true)
    (s"$Tmp/$sub/data", s"$Tmp/$sub/log")
  }

  /** ids land RANGE-partitioned so a contiguous key band touches a
    * strict subset of files — the layout the minimal-rewrite assert
    * depends on.
    */
  private def ingest(dataDir: String, logDir: String): Seq[String] = {
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, i * 10L, s"t$i")).toDF("id", "m", "tag")
      .repartitionByRange(4, col("id"))
      .write.mode("overwrite").parquet(s"$dataDir/c1")
    val files = TableLog.filesUnder(spark, s"$dataDir/c1")
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(1, "ingest", files, Nil)))
    files
  }

  private def src(rows: Seq[(Long, Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("id", "m", "tag", "op")
  }

  test("all three clauses apply; only files holding matched keys are rewritten") {
    val (dataDir, logDir) = wipe("clauses")
    val base = ingest(dataDir, logDir)
    // contiguous band 0..9: evens delete, odds update m; 200+ insert
    val source = src(
      (0L until 10L by 2).map(i => (i, -1L, "SRC", "D")) ++
        (1L until 10L by 2).map(i => (i, i * 1000L, "SRC", "U")) ++
        Seq((200L, 7L, "SRC", "U"), (201L, 8L, "SRC", "U")))
    val stats = CowMerge.merge(spark, logDir, baseVersion = 1, key = "id",
      op = "op", source = source, updateCols = Seq("m"),
      newDataDir = s"$dataDir/c2", numFiles = 1, committer = "m1")
      .toOption.get
    assert(stats.version == 2)
    assert(stats.touched.nonEmpty && stats.touched.size < base.size,
      s"band 0..9 must touch a strict subset of 4 range files: ${stats.touched}")
    val live = TableLog.liveFiles(TableLog.readCommits(spark, logDir))
    assert((base.toSet -- stats.touched.toSet).subsetOf(live.toSet),
      "untouched files survive by reference")
    val out = spark.read.parquet(live: _*)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size == 100 - 5 + 2) // 5 deletes, 2 inserts
    (0L until 10L by 2).foreach(i => assert(!out.contains(i), s"$i must be deleted"))
    // update takes ONLY updateCols from the source; tag stays the target's
    (1L until 10L by 2).foreach { i =>
      assert(out(i) == ((i * 1000L, s"t$i")), s"update of $i: ${out(i)}")
    }
    assert(out(200L) == ((7L, "SRC")) && out(201L) == ((8L, "SRC")),
      "inserts carry the source payload")
    assert(out(50L) == ((500L, "t50")), "unmatched rows are untouched")
  }

  test("a source matching nothing touches no file and appends pure inserts") {
    val (dataDir, logDir) = wipe("inserts")
    val base = ingest(dataDir, logDir)
    val source = src(Seq((500L, 1L, "SRC", "U"), (501L, 2L, "SRC", "D")))
    val stats = CowMerge.merge(spark, logDir, baseVersion = 1, key = "id",
      op = "op", source = source, updateCols = Seq("m"),
      newDataDir = s"$dataDir/c2", numFiles = 1, committer = "m1")
      .toOption.get
    assert(stats.touched.isEmpty, "no matched key → no rewrite")
    val live = TableLog.liveFiles(TableLog.readCommits(spark, logDir))
    assert(base.toSet.subsetOf(live.toSet))
    val n = spark.read.parquet(live: _*).count()
    assert(n == 101, s"one insert lands ('D' on an unmatched key is a no-op): $n")
  }

  test("merge aborts when a concurrent commit rewrote a touched file") {
    val (dataDir, logDir) = wipe("conflict")
    val base = ingest(dataDir, logDir)
    // a concurrent compactor rewrites the file holding id 0 (v2)
    val lowFile = {
      import spark.implicits._
      val withFile = spark.read.parquet(base: _*)
        .filter(col("id") === 0).select(input_file_name()).head.getString(0)
      new Path(withFile).toUri.getPath
    }
    spark.read.parquet(lowFile).write.mode("overwrite").parquet(s"$dataDir/compact")
    val compacted = TableLog.filesUnder(spark, s"$dataDir/compact")
    assert(TableLog.tryCommit(spark, logDir, 1, "compactor", compacted, Seq(lowFile))
      == Right(2))
    // a merge staged against v1 that must rewrite the same file aborts
    val out = CowMerge.merge(spark, logDir, baseVersion = 1, key = "id",
      op = "op", source = src(Seq((0L, 9L, "SRC", "U"))), updateCols = Seq("m"),
      newDataDir = s"$dataDir/c3", numFiles = 1, committer = "m1")
    assert(out == Left(Seq(lowFile)), s"remove-remove conflict must abort: $out")
  }
}
