package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE INTO over a [[TableLog]] table — the Delta/
  * Iceberg COW merge reduced to its load-bearing steps:
  *
  *  1. **Touched-file discovery.** A broadcast semi-join of the
  *     target's (key, file) projection against the source's keys finds
  *     the files that contain at least one matched key — the ONLY
  *     files the merge may rewrite. Everything else survives by
  *     reference in the commit log, untouched on disk.
  *  2. **Clause application on touched rows only.** matched & op='D'
  *     drops the row; matched & op='U' replaces exactly `updateCols`
  *     from the source and keeps every other target column; unmatched
  *     target rows in touched files are carried verbatim; source
  *     op='U' rows matching nothing insert with the source's payload.
  *     (A source key absent from every touched file is absent from the
  *     whole target: any file containing it would have been touched.)
  *  3. **One optimistic commit.** adds = the rewrite's files, removes
  *     = the touched files, validated by TableLog's remove-remove rule
  *     against concurrent writers.
  *
  * Scale notes: the discovery pass is a key+`input_file_name()`
  * projection (column-pruned scan) joined against broadcast source
  * keys; the rewrite reads ONLY touched files; the insert anti-join
  * runs against touched rows, not the full table. Cost is
  * O(touched data) + metadata, never O(table).
  */
object CowMerge {

  /** What the merge did: the landed version, the files it rewrote
    * (now removed from the live set) and the files it produced.
    */
  final case class MergeStats(
      version: Int, touched: Seq[String], rewrittenTo: Seq[String])

  /** The touched-file discovery frame: the target's (key, filename)
    * projection semi-joined against broadcast source keys. Exposed as
    * a seam so PlanSpec can pin the shape (broadcast + key-only
    * ReadSchema) that makes discovery cheap at 100 TB.
    */
  private[graft] def discovery(tgt: DataFrame, srcKeys: DataFrame, key: String): DataFrame =
    tgt.select(col(key), input_file_name().as("__f"))
      .join(broadcast(srcKeys), key)
      .select("__f").distinct()

  /** Clause application over the touched rows (target schema
    * throughout): carry unmatched, update only `updateCols` on
    * matched op='U', drop matched op='D', insert unmatched op='U'.
    */
  private[graft] def applyClauses(
      touchedDf: DataFrame, source: DataFrame, key: String, op: String,
      tgtCols: Seq[String], updateCols: Seq[String]): DataFrame = {
    val srcKeys = source.select(key).distinct()
    val kept = touchedDf.join(broadcast(srcKeys), Seq(key), "left_anti")
    val upserts = source.filter(col(op) === "U")
    val updated = touchedDf.as("t")
      .join(broadcast(upserts).as("s"), col(s"t.$key") === col(s"s.$key"))
      .select(tgtCols.map { c =>
        (if (c != key && updateCols.contains(c)) col(s"s.$c") else col(s"t.$c")).as(c)
      }: _*)
    val inserts = upserts
      .join(touchedDf.select(key), Seq(key), "left_anti")
      .select(tgtCols.map(col): _*)
    kept.unionByName(updated).unionByName(inserts)
  }

  /** Run the merge. `source` must carry `key`, `op` ('U' upsert /
    * 'D' delete) and the target's payload columns; on update only
    * `updateCols` are taken from the source. New files land under
    * `newDataDir` in `numFiles` parts. Left = optimistic-concurrency
    * abort (blocking files), Right = stats.
    */
  def merge(
      spark: SparkSession, logDir: String, baseVersion: Int,
      key: String, op: String, source: DataFrame, updateCols: Seq[String],
      newDataDir: String, numFiles: Int, committer: String): Either[Seq[String], MergeStats] = {
    val commits = TableLog.readCommits(spark, logDir)
    val live = TableLog.liveFiles(commits, Some(baseVersion))
    require(live.nonEmpty, "merge into an empty table — ingest first")
    val tgt = spark.read.parquet(live: _*)
    val srcKeys = source.select(key).distinct()
    // 1. touched files: ≤ |files| driver metadata
    val touched = discovery(tgt, srcKeys, key)
      .collect()
      .map(r => new Path(r.getString(0)).toUri.getPath)
      .sorted.toSeq
    val touchedDf =
      if (touched.isEmpty) tgt.limit(0) else spark.read.parquet(touched: _*)
    // 2. clause application + rewrite
    val rewritten = TableLog.land(
      applyClauses(touchedDf, source, key, op, tgt.columns.toSeq, updateCols)
        .repartition(numFiles, col(key)),
      newDataDir)
    // 3. one atomic commit
    TableLog.tryCommit(spark, logDir, baseVersion, committer,
        adds = rewritten, removes = touched)
      .map(v => MergeStats(v, touched, rewritten))
  }
}
