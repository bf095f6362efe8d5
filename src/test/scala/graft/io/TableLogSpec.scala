package graft.io

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physics of the commit-log layer behind q_s33/q_s35: atomic version
  * claims, file-level conflict validation, append rebase, and vacuum's
  * delete-exactly-the-unreferenced contract.
  */
class TableLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Tmp = graft.SparkUtil.scratchDir("tablelogspec", "")

  private def wipe(sub: String): (String, String) = {
    val fs = new Path(Tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$Tmp/$sub"), true)
    (s"$Tmp/$sub/data", s"$Tmp/$sub/log")
  }

  private def land(dataDir: String, sub: String, ids: Range, n: Int): Seq[String] = {
    import spark.implicits._
    ids.map(i => (i.toLong, i * 7 % 13)).toDF("id", "v")
      .repartition(n, col("id"))
      .write.mode("overwrite").parquet(s"$dataDir/$sub")
    TableLog.filesUnder(spark, s"$dataDir/$sub")
  }

  test("version claim is put-if-absent: exactly one winner per version") {
    val (_, logDir) = wipe("claim")
    val c = TableLog.Commit(1, "w1", Seq("/a"), Nil)
    assert(TableLog.tryClaim(spark, logDir, c))
    assert(!TableLog.tryClaim(spark, logDir, c.copy(committer = "w2")),
      "second writer must lose the v1 race")
    val read = TableLog.readCommits(spark, logDir)
    assert(read == Seq(c), s"log must hold the winner's commit: $read")
  }

  test("liveFiles replays adds minus removes in version order") {
    val commits = Seq(
      TableLog.Commit(1, "a", Seq("/f1", "/f2"), Nil),
      TableLog.Commit(2, "b", Seq("/f3"), Seq("/f1")),
      TableLog.Commit(3, "c", Seq("/f1b"), Nil))
    assert(TableLog.liveFiles(commits, Some(1)).toSet == Set("/f1", "/f2"))
    assert(TableLog.liveFiles(commits, Some(2)).toSet == Set("/f2", "/f3"))
    assert(TableLog.liveFiles(commits).toSet == Set("/f2", "/f3", "/f1b"))
  }

  test("blind append rebases past a concurrent commit; remove-remove conflicts abort") {
    val (dataDir, logDir) = wipe("occ")
    val base = land(dataDir, "c1", 0 until 100, 3)
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(1, "ingest", base, Nil)))
    // writer 1 rewrites base file 0 and lands v2
    val rw = land(dataDir, "c2", 0 until 10, 1)
    assert(TableLog.tryCommit(spark, logDir, 1, "rewriter", rw, Seq(base.head))
      == Right(2))
    // a blind append from the same stale base rebases to v3
    val app = land(dataDir, "c3", 100 until 120, 1)
    assert(TableLog.tryCommit(spark, logDir, 1, "appender", app, Nil) == Right(3))
    // a second rewriter of the SAME base file must abort with the blocker
    val rw2 = land(dataDir, "c4", 0 until 10, 1)
    assert(TableLog.tryCommit(spark, logDir, 1, "late-rewriter", rw2, Seq(base.head))
      == Left(Seq(base.head)))
    // disjoint rewrites from a stale base are fine (different file)
    val rw3 = land(dataDir, "c5", 10 until 20, 1)
    assert(TableLog.tryCommit(spark, logDir, 1, "other-rewriter", rw3, Seq(base(1)))
      == Right(4))
  }

  test("squash merge nets in-branch churn and validates against post-fork main commits") {
    val (dataDir, logDir) = wipe("merge")
    val mainLog = s"$logDir/main"
    val base = land(dataDir, "c1", 0 until 60, 2)
    assert(TableLog.tryClaim(spark, mainLog, TableLog.Commit(1, "ingest", base, Nil)))
    // branch: rewrite base.head, then compact its own rewrite — the
    // intermediate file must never reach main
    val devLog = s"$logDir/dev"
    val rw = land(dataDir, "d1", 0 until 30, 1)
    assert(TableLog.tryClaim(spark, devLog, TableLog.Commit(1, "dev-rw", rw, Seq(base.head))))
    val comp = land(dataDir, "d2", 0 until 30, 1)
    assert(TableLog.tryClaim(spark, devLog, TableLog.Commit(2, "dev-comp", comp, rw)))
    // main moves on with a blind append
    val app = land(dataDir, "c2", 60 until 80, 1)
    assert(TableLog.tryClaim(spark, mainLog, TableLog.Commit(2, "append", app, Nil)))
    assert(TableLog.squashMerge(spark, mainLog, devLog, fork = 1, "merge") == Right(3))
    val live = TableLog.liveFiles(TableLog.readCommits(spark, mainLog)).toSet
    assert(live == (base.tail ++ app ++ comp).toSet,
      s"merged live set must skip the netted intermediate: $live")
    // a rival branch that also removed base.head must abort at merge
    val rivalLog = s"$logDir/rival"
    val rw2 = land(dataDir, "r1", 0 until 30, 1)
    assert(TableLog.tryClaim(spark, rivalLog, TableLog.Commit(1, "rival", rw2, Seq(base.head))))
    assert(TableLog.squashMerge(spark, mainLog, rivalLog, fork = 1, "merge-rival")
      == Left(Seq(base.head)))
  }

  test("expire deletes exactly the files no surviving version references") {
    val (dataDir, logDir) = wipe("vac")
    val a = land(dataDir, "c1", 0 until 50, 3)
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(1, "a", a, Nil)))
    val b = land(dataDir, "c2", 50 until 80, 2)
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(2, "b", b, Nil)))
    // v3 compacts v1's files; v1/v2 still reference them until expiry
    val comp = land(dataDir, "c3", 0 until 50, 1)
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(3, "compact", comp, a)))
    val fs = new Path(Tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // keepFrom=1 keeps every version: nothing is unreferenced yet
    val (none, keptAll) = TableLog.expire(spark, dataDir, logDir, keepFrom = 1)
    assert(none.isEmpty, s"nothing should be freed while v1 survives: $none")
    assert(keptAll.toSet == (a ++ b ++ comp).toSet)
    // keepFrom=3: the compacted-away originals are freed, nothing else
    val (dead, kept) = TableLog.expire(spark, dataDir, logDir, keepFrom = 3)
    assert(dead == a, s"must free exactly the compacted-away files: $dead")
    assert(kept.toSet == (b ++ comp).toSet)
    a.foreach(f => assert(!fs.exists(new Path(f)), s"expired file still on disk: $f"))
    (b ++ comp).foreach(f =>
      assert(fs.exists(new Path(f)), s"referenced file was deleted: $f"))
    // the surviving horizon still answers
    assert(spark.read.parquet(TableLog.liveFiles(
      TableLog.readCommits(spark, logDir), Some(3)): _*).count() == 80)
  }

  test("history reports per-version add/remove/live file counts in order") {
    val (dataDir, logDir) = wipe("hist")
    val a = land(dataDir, "c1", 0 until 40, 3)
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(1, "a", a, Nil)))
    val comp = land(dataDir, "c2", 0 until 40, 1)
    assert(TableLog.tryClaim(spark, logDir, TableLog.Commit(2, "compact", comp, a)))
    val got = TableLog.history(spark, logDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "a", a.size.toLong, 0L, a.size.toLong),
      (2, "compact", comp.size.toLong, a.size.toLong, comp.size.toLong)), got.toSeq)
  }
}
