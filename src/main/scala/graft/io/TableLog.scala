package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.input_file_name

/** Versioned-table commit log: the minimal transaction layer the lake
  * queries build on (q_s33 snapshot expiration, q_s35 optimistic
  * concurrency). A table is a directory of immutable data files plus a
  * log of numbered commits; commit N's action list is `adds` (file
  * paths that become live) and `removes` (paths that stop being live),
  * so the live file set AS OF version V is the replay
  * `⋃ adds − ⋃ removes` over commits ≤ V — the Delta/Iceberg metadata
  * model reduced to its two load-bearing ideas:
  *
  *  1. **Atomic version claim.** Commit N exists iff the file
  *     `v000N.log` exists, and the ONLY arbiter of who wins version N
  *     is the filesystem's create-fails-if-exists (the Delta LogStore
  *     contract). No locks, no coordinator — two writers that race a
  *     version get exactly one winner, and the loser re-validates
  *     against the winner's actions before retrying at N+1.
  *  2. **File-level conflict validation.** A writer that REMOVES files
  *     (delete/compact rewrites) conflicts with any commit that landed
  *     after its base and removed one of the same files — the lost
  *     update would silently resurrect deleted rows. Blind appends
  *     (removes = ∅) never conflict and always rebase forward.
  *
  * Scale notes: every operation here is metadata-bounded — commit
  * files are O(|touched files|) lines, validation reads only the log
  * suffix (base, head], and expiration's reference walk is
  * |surviving versions| × |files| driver-side set algebra over planner
  * metadata, never a data scan. The data files themselves are written
  * and read by ordinary distributed jobs.
  */
object TableLog {

  /** One commit: `removes`/`adds` are absolute data-file paths. */
  final case class Commit(
      version: Int, committer: String, adds: Seq[String], removes: Seq[String])

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitPath(logDir: String, v: Int) = new Path(logDir, f"v$v%05d.log")

  /** Line format (trivially parseable, newline-framed):
    * `version`, `committer`, then one `+path` per add and `-path` per
    * remove. Paths are verbatim (parquet part files never contain \n).
    */
  private def render(c: Commit): String =
    (Seq(c.version.toString, c.committer) ++
      c.adds.map("+" + _) ++ c.removes.map("-" + _)).mkString("", "\n", "\n")

  private def parse(text: String): Commit = {
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    Commit(lines.head.toInt, lines(1),
      adds = lines.drop(2).filter(_.startsWith("+")).map(_.drop(1)),
      removes = lines.drop(2).filter(_.startsWith("-")).map(_.drop(1)))
  }

  /** Atomic put-if-absent claim of `c.version`. True iff THIS caller
    * created the version file; false when another writer owns it.
    */
  def tryClaim(spark: SparkSession, logDir: String, c: Commit): Boolean = {
    val fs = fsOf(spark, logDir)
    fs.mkdirs(new Path(logDir))
    try {
      val out = fs.create(commitPath(logDir, c.version), /*overwrite=*/ false)
      try out.write(render(c).getBytes(UTF_8)) finally out.close()
      true
    } catch {
      case _: java.io.IOException => false // version already claimed
    }
  }

  /** All commits, ascending. |commits|-bounded driver metadata. */
  def readCommits(spark: SparkSession, logDir: String): Seq[Commit] = {
    val fs = fsOf(spark, logDir)
    val dir = new Path(logDir)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("v\\d+\\.log"))
      .map { st =>
        val in = fs.open(st.getPath)
        val bytes = try in.readAllBytes() finally in.close()
        parse(new String(bytes, UTF_8))
      }
      .sortBy(_.version)
  }

  /** Live data files AS OF `version` (all commits when None): replay
    * adds − removes in version order. Metadata-bounded set algebra.
    */
  def liveFiles(commits: Seq[Commit], version: Option[Int] = None): Seq[String] = {
    val upto = version.fold(commits)(v => commits.filter(_.version <= v))
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    upto.foreach { c => live ++= c.adds; live --= c.removes }
    live.toSeq
  }

  /** Optimistic commit from `base`: validate against every commit that
    * landed after `base`, claim the next free version, re-validate on
    * each lost race. Returns Right(version) on success, Left(blocking
    * file paths) when a concurrent commit removed a file this writer
    * also removes — the write-write conflict that MUST abort (both
    * writers rewrote the same file; letting the second land would
    * resurrect rows the first deleted). Blind appends (removes = ∅)
    * never conflict and rebase forward for free.
    */
  def tryCommit(
      spark: SparkSession, logDir: String, base: Int, committer: String,
      adds: Seq[String], removes: Seq[String],
      maxAttempts: Int = 50): Either[Seq[String], Int] = {
    val myRemoves = removes.toSet
    var attempt = base + 1
    var tries = 0
    while (tries < maxAttempts) {
      val landed = readCommits(spark, logDir)
        .filter(c => c.version > base && c.version < attempt)
      val blocking = landed.flatMap(_.removes).toSet intersect myRemoves
      if (blocking.nonEmpty) return Left(blocking.toSeq.sorted)
      if (tryClaim(spark, logDir, Commit(attempt, committer, adds, removes)))
        return Right(attempt)
      attempt += 1 // lost the race; re-validate against the winner
      tries += 1
    }
    sys.error(s"tryCommit: gave up after $maxAttempts attempts from base $base")
  }

  /** Squash-merge a BRANCH log onto a main log — the Iceberg/Nessie
    * branching idea reduced to its commit-protocol core: a branch is
    * just a second log whose commits were staged against main's state
    * AS OF the fork version; merging replays the branch's NET file
    * delta as ONE main commit (atomic — main readers see all of the
    * branch or none of it), validated by the same remove-remove rule
    * against everything that landed on main after the fork. In-branch
    * churn nets out: a file added then removed on the branch never
    * reaches main, a pre-fork file removed then re-added cancels to
    * no-op. Returns the merge commit's version, or the blocking files
    * when main concurrently removed something the branch also removed
    * (the cross-branch lost-update case, which MUST abort).
    * Metadata-bounded: |branch commits| replay + one claim.
    */
  def squashMerge(
      spark: SparkSession, mainLog: String, branchLog: String,
      fork: Int, committer: String): Either[Seq[String], Int] = {
    val netAdds = scala.collection.mutable.LinkedHashSet.empty[String]
    val netRemoves = scala.collection.mutable.LinkedHashSet.empty[String]
    readCommits(spark, branchLog).foreach { c =>
      c.adds.foreach { f =>
        if (netRemoves.contains(f)) netRemoves -= f else netAdds += f
      }
      c.removes.foreach { f =>
        if (netAdds.contains(f)) netAdds -= f else netRemoves += f
      }
    }
    tryCommit(spark, mainLog, fork, committer, netAdds.toSeq, netRemoves.toSeq)
  }

  /** Snapshot expiration + vacuum: drop every version < `keepFrom`
    * from the time-travel horizon and physically delete the data
    * files no SURVIVING version references. Append-only histories
    * never free anything (old files stay live in later versions) —
    * space comes back exactly when a rewrite (compaction, delete)
    * has made old files unreferenced and the last version that could
    * still time-travel to them expires. Returns (deleted, retained)
    * file paths. Metadata-bounded: the reference walk is set algebra
    * over the log; deletes are |unreferenced files| filesystem calls.
    */
  def expire(
      spark: SparkSession, dataDir: String, logDir: String,
      keepFrom: Int): (Seq[String], Seq[String]) = {
    val commits = readCommits(spark, logDir)
    require(commits.nonEmpty, "expire on an empty log")
    val head = commits.map(_.version).max
    require(keepFrom <= head, s"keepFrom=$keepFrom is past head=$head")
    val surviving = commits.map(_.version).filter(_ >= keepFrom)
    val referenced = surviving.flatMap(v => liveFiles(commits, Some(v))).toSet
    val (dead, kept) = dataFilesOnDisk(spark, dataDir).partition(f => !referenced.contains(f))
    deleteFiles(spark, dead)
    (dead.sorted, kept.sorted)
  }

  /** Every data file ever written under `dataDir` (directly or one
    * commit subdirectory down), committed or not — the filesystem side
    * of vacuum and FSCK. ≤ |files| planner metadata.
    */
  def dataFilesOnDisk(spark: SparkSession, dataDir: String): Seq[String] = {
    val fs = fsOf(spark, dataDir)
    fs.listStatus(new Path(dataDir)).toSeq
      .flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(_.isFile).map(_.getPath)
        else Seq(st.getPath)
      }
      .filter(_.getName.endsWith(".parquet"))
      .map(_.toUri.getPath)
  }

  /** Delete data files by path: a vacuum's dead files, or the staged
    * files of a writer whose commit aborted.
    */
  def deleteFiles(spark: SparkSession, files: Seq[String]): Unit =
    files.foreach(f => fsOf(spark, f).delete(new Path(f), false))

  /** Iceberg-style `history` metadata relation: one row per commit
    * with its file-level add/remove/live counts — |commits|² driver
    * set algebra over log metadata, surfaced as a DataFrame so audits
    * and maintenance jobs can join against it like any other table.
    */
  def history(spark: SparkSession, logDir: String): DataFrame = {
    val commits = readCommits(spark, logDir)
    val rows = commits.map { c =>
      (c.version, c.committer, c.adds.size.toLong, c.removes.size.toLong,
        liveFiles(commits, Some(c.version)).size.toLong)
    }
    import spark.implicits._
    rows.toDF("version", "committer", "n_added", "n_removed", "n_live_files")
  }

  /** Land `df` as the data files of one commit: overwrite-write it to
    * `dir` and return the files the write produced (the commit's
    * `adds`). The caller picks the partitioning, hence the file count.
    */
  def land(df: DataFrame, dir: String): Seq[String] = {
    df.write.mode("overwrite").parquet(dir)
    filesUnder(df.sparkSession, dir)
  }

  /** Land `df` as ONE data file at exactly `path`, replacing any file
    * there. Spark names part files by write job; a file that metadata
    * refers to by path must keep its name when it is rewritten.
    */
  def landFile(df: DataFrame, path: String): Unit = {
    val out = new Path(path)
    val tmp = new Path(out.getParent, s"_${out.getName}.tmp").toString
    val fs = fsOf(df.sparkSession, path)
    val part = land(df.coalesce(1), tmp) match {
      case Seq(one) => one
      case other => sys.error(s"landFile: expected one part file for $path, got $other")
    }
    fs.delete(out, false)
    require(fs.rename(new Path(part), out), s"landFile: rename to $path failed")
    fs.delete(new Path(tmp), true)
  }

  /** The subset of `files` holding at least one row matching `pred` —
    * the files a copy-on-write delete or update must rewrite. One
    * filtered scan.
    */
  def filesMatching(spark: SparkSession, files: Seq[String], pred: Column): Seq[String] =
    spark.read.parquet(files: _*).filter(pred)
      .select(input_file_name()).distinct()
      .collect() // ≤ |files| planner metadata
      .map(r => new Path(r.getString(0)).toUri.getPath)
      .sorted.toSeq

  /** The data files a distributed write just produced under `dir` —
    * the `adds` list for its commit. ≤ |files| planner metadata.
    */
  def filesUnder(spark: SparkSession, dir: String): Seq[String] = {
    val fs = fsOf(spark, dir)
    fs.listStatus(new Path(dir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toUri.getPath)
      .sorted
  }
}
