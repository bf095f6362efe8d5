package graft.io

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physics of q_st21's mid-stream deletion-vector compaction that the
  * value-level oracle cannot see:
  *   - compaction actually FIRES during the stream (tombstones exist);
  *   - it is copy-on-write ELSEWHERE: every base file byte is
  *     untouched after the stream (tombstones are logical);
  *   - the rewritten generations live under gen/ and are part of the
  *     surviving layout via the manifest.
  * The oracle only proves the final live SET is right, which would
  * also hold if compaction silently never ran.
  */
class DvCompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val SfDir = "/root/testdata/sf0.001"

  private def mtimesUnder(dir: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          buf += ((f.getPath.toString, f.getModificationTime))
      }
      buf.toSeq
    }
  }

  test("compaction fires mid-stream, base files stay untouched, generations join the layout") {
    val qd = graft.queries.Registry.all
      .find(_.name == "q_st21_stream_dv_compact")
      .getOrElse(fail("q_st21_stream_dv_compact not registered"))
    val result = qd.fn(spark, SfDir).collect()

    // value check against the closed form, re-derived independently
    val expect = graft.Tables.documents(spark, SfDir)
      .filter(!(col("doc_id") % 15 === 0 && pmod(col("doc_id"), lit(8)) < 2))
      .groupBy("source")
      .agg(count(lit(1)).as("n_live"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("chars_sum"))
      .orderBy("source").collect()
    assert(result.map(_.toString).toSeq == expect.map(_.toString).toSeq)

    val tmp = graft.SparkUtil.scratchDir("q_st21_dvc", SfDir)

    // 1. compaction fired: at least one real tombstone, and a
    //    generation dir holding the rewrite
    val tombs = spark.read.parquet(s"$tmp/tomb")
      .filter(col("file") =!= "").collect().map(_.getString(0)).toSeq
    assert(tombs.nonEmpty, "compaction never fired during the stream")
    val genFiles = mtimesUnder(s"$tmp/gen")
    assert(genFiles.nonEmpty, "no generation files written")

    // 2. copy-on-write elsewhere: every base file (hot OR cold) still
    //    exists and predates the stream's first sidecar write — the
    //    stream never rewrote a base byte
    val baseFiles = mtimesUnder(s"$tmp/base")
    assert(baseFiles.size == 8, s"expected 8 class files, got ${baseFiles.size}")
    val firstStreamWrite = mtimesUnder(s"$tmp/dv")
      .filter(!_._1.contains("batch_id=-1")).map(_._2).min
    baseFiles.foreach { case (f, m) =>
      assert(m <= firstStreamWrite, s"base file rewritten mid-stream: $f")
    }

    // 3. tombstoned files are logically dead but physically present,
    //    and the live manifest excludes exactly them
    tombs.filter(_.contains("/base/")).foreach { f =>
      assert(new java.io.File(f).exists, s"tombstoned base file deleted from disk: $f")
    }
    val manifestFiles = spark.read.parquet(s"$tmp/manifest")
      .select("file").collect().map(_.getString(0)).toSet
    tombs.foreach(f => assert(manifestFiles.contains(f),
      s"tombstoned file was never in the manifest: $f"))
  }
}
