package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read deletes via deletion vectors (the Delta/Iceberg v2
  * "position delete" shape).
  *
  * q_l83's delete propagation REWRITES every shard a deleted doc
  * touches — correct, but at 100 TB a GDPR batch touching 1% of files
  * rewrites 1 TB to remove kilobytes. The merge-on-read alternative:
  * the base files never move; each delete batch appends a tiny
  * sidecar of (file, row_index) positions, and readers subtract those
  * positions at scan time. Writes cost |deleted rows|, reads cost one
  * anti-join against a sidecar that is orders of magnitude smaller
  * than the table, and compaction (rewriting a file for real) is
  * deferred until a file's deleted fraction makes it worth it.
  *
  * Row positions come from the parquet reader's `_metadata.row_index`
  * hidden column — stable for a given physical file by the parquet
  * spec (row order within a file is fixed), which is exactly the
  * stability contract Delta deletion vectors rely on.
  *
  * Reference semantics: crawler job expiry/removal marks rows dead
  * without rewriting history (src/crawler/db_writer.py upsert path);
  * the DV form is the lake-native equivalent.
  */
object DeletionVectors {

  /** The internal position-key column names. Base tables may not use
    * them: build's output select and readWithDv's join key would
    * silently bind to the DATA column instead of the synthesized
    * metadata one, corrupting the subtraction. Checked up front so a
    * colliding table fails loudly instead.
    */
  private val Reserved = Seq("__file", "__pos", "file", "row_index")
  private def guardSchema(df: DataFrame, basePath: String): DataFrame = {
    val clash = df.columns.toSet.intersect(Reserved.toSet)
    require(clash.isEmpty,
      s"base table $basePath has reserved DV column name(s) ${clash.mkString(", ")}; " +
        "rename them before using deletion vectors")
    df
  }

  /** True if `dvDir` holds at least one DV parquet file. A stream
    * whose every micro-batch was empty may leave the directory
    * missing or schema-less (empty partitions emit no part files);
    * readers then fall back to the bare base scan.
    */
  private def hasDv(spark: SparkSession, dvDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dvDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next().getPath.getName
        found = f.endsWith(".parquet") && !f.startsWith("_") && !f.startsWith(".")
      }
      found
    }
  }

  /** The one spelling of a data-file path in DV tables, which join on
    * it: `_metadata.file_path` and `input_file_name()` (the manifest
    * side) differ in the `file:/` scheme prefix.
    */
  private def norm(c: Column): Column = regexp_replace(c, "^file:/+", "/")
  private def filePath: Column = norm(col("_metadata.file_path"))

  /** Positions of base rows matching `pred`, as a (file, row_index)
    * deletion vector. One distributed scan; output is |matches| rows.
    * The predicate sees every data column of the base table.
    */
  def build(spark: SparkSession, basePath: String, pred: Column): DataFrame =
    guardSchema(spark.read.parquet(basePath), basePath)
      .select(col("*"), filePath.as("file"), col("_metadata.row_index").as("row_index"))
      .filter(pred)
      .select("file", "row_index")

  /** Append one delete batch as its own sidecar dir (idempotent:
    * delete-first overwrite of that batch dir only — a replayed batch
    * lands byte-identical, the q_st8 sink contract).
    */
  def writeBatch(dv: DataFrame, dvDir: String, batchId: Int): Unit =
    dv.write.mode("overwrite").parquet(s"$dvDir/batch=$batchId")

  /** `df` (a scan of data files) minus the (file, row_index) positions
    * in `dv`: |deletes| rows broadcast into an anti-join, so the read
    * path adds no shuffle of table data (a table whose DVs outgrow the
    * broadcast threshold is past its compaction threshold anyway).
    */
  private def minus(df: DataFrame, dv: DataFrame): DataFrame =
    df.select(col("*"), filePath.as("__file"), col("_metadata.row_index").as("__pos"))
      .join(broadcast(dv.select(col("file").as("__file"), col("row_index").as("__pos"))),
        Seq("__file", "__pos"), "left_anti")
      .drop("__file", "__pos")

  /** Merge-on-read scan: base rows minus every accumulated DV
    * position (distinct — overlapping batches may delete the same
    * position twice).
    */
  def readWithDv(spark: SparkSession, basePath: String, dvDir: String): DataFrame = {
    val raw = guardSchema(spark.read.parquet(basePath), basePath)
    if (!hasDv(spark, dvDir)) return raw // no deletes yet: bare base scan
    minus(raw, spark.read.parquet(dvDir).select("file", "row_index").distinct())
  }

  /** One delete batch resolved to positions: the (file, row_index) of
    * every row whose `keyCol` is in `keys`, scanning only the files
    * whose Bloom filter in `manifest` might hold a key — the cost is
    * |candidate files|, not the table.
    */
  def resolve(spark: SparkSession, manifest: DataFrame, keys: DataFrame,
      keyCol: String, mBits: Int, k: Int): DataFrame = {
    val files = Layout.bloomMatchingFiles(manifest, keys, keyCol, mBits, k)
      .collect().map(_.getString(0)).sorted // |files|-bounded planner step
    if (files.isEmpty)
      spark.range(0).select(lit("").as("file"), col("id").as("row_index"))
    else
      spark.read.parquet(files.toIndexedSeq: _*)
        .select(col(keyCol), filePath.as("file"), col("_metadata.row_index").as("row_index"))
        .join(broadcast(keys), Seq(keyCol), "left_semi")
        .select("file", "row_index")
  }

  /** A merge-on-read table that compacts itself as deletes arrive: a
    * ledger under `root` keyed by batch id B. `base/` holds the data the
    * caller lands first; batch B writes `dv/batch_id=B` (its positions),
    * `gen/batch_id=B` (live rows of the files it compacted),
    * `manifest/batch_id=B` (their stats; -1 is the base's) and
    * `tomb/batch_id=B` (the compacted files). Live files are manifest
    * rows without a tombstone. A batch reads the ledger AS OF the
    * batches before it and overwrites only its own dirs, so a replay
    * lands the same files with the same rows.
    */
  final case class Ledger(root: String, keyCol: String, mBits: Int, k: Int,
      threshold: Double) {
    val base: String = s"$root/base"
    private[DeletionVectors] def dir(kind: String, batchId: Long) = s"$root/$kind/batch_id=$batchId"
  }

  private def writeManifest(spark: SparkSession, l: Ledger, dataDir: String, batchId: Long): Unit =
    Layout.statsManifest(spark, dataDir, l.keyCol, l.keyCol, l.mBits, l.k)
      .withColumn("file", norm(col("file")))
      .coalesce(1).write.mode("overwrite").parquet(l.dir("manifest", batchId))

  /** Start the ledger over `l.base`: its manifest, plus sentinel DV
    * and tombstone rows so those dirs always have a schema.
    */
  def create(spark: SparkSession, l: Ledger): Unit = {
    import spark.implicits._
    writeManifest(spark, l, l.base, -1)
    Seq(("", -1L)).toDF("file", "row_index").write.mode("overwrite").parquet(l.dir("dv", -1))
    Seq("").toDF("file").write.mode("overwrite").parquet(l.dir("tomb", -1))
  }

  /** Manifest rows of the files live after the batches before
    * `batchId`; the tombstones are read once, into the filter.
    */
  private def liveManifest(spark: SparkSession, l: Ledger, batchId: Long): DataFrame = {
    val dead = spark.read.parquet(s"${l.root}/tomb").filter(col("batch_id") < batchId)
      .select("file").collect().map(_.getString(0)) // |files|-bounded planner metadata
    spark.read.parquet(s"${l.root}/manifest")
      .filter(col("batch_id") < batchId && !col("file").isin(dead.toIndexedSeq: _*))
  }

  /** Positions deleted by the batches up to and including `batchId`. */
  private def positions(spark: SparkSession, l: Ledger, batchId: Long): DataFrame =
    spark.read.parquet(s"${l.root}/dv")
      .filter(col("batch_id") <= batchId && col("file") =!= "")
      .select("file", "row_index").distinct()

  /** Apply one delete batch: land `keys`' positions in the live files,
    * then copy-on-write every live file whose deleted fraction reached
    * the threshold into a generation, with a manifest delta so later
    * batches resolve against it, and tombstone the old file (logically;
    * its bytes stay). Cost: |candidate files| + |rows in crossing files|.
    */
  def applyBatch(spark: SparkSession, l: Ledger, keys: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    val live = liveManifest(spark, l, batchId) // once per batch; both steps share it
    val ids = keys.localCheckpoint(false) // lazy: materializes inside the first consumer
    resolve(spark, live, ids, l.keyCol, l.mBits, l.k)
      .write.mode("overwrite").parquet(l.dir("dv", batchId))
    val dv = positions(spark, l, batchId).localCheckpoint(false) // lazy: 1-2 consumers
    val hot = live.select("file", "n_rows")
      .join(dv.groupBy("file").agg(count(lit(1)).as("n_del")), Seq("file"))
      .filter(col("n_del") / col("n_rows") >= l.threshold)
      .select("file").collect().map(_.getString(0)).sorted // |files|-bounded compaction plan
    if (hot.nonEmpty) {
      // a fixed name: DVs, manifests and tombstones refer to the
      // generation by path, so a replayed batch must land the same file
      val gen = l.dir("gen", batchId)
      TableLog.landFile(minus(spark.read.parquet(hot.toIndexedSeq: _*), dv),
        s"$gen/part-00000.parquet")
      writeManifest(spark, l, gen, batchId)
      hot.toIndexedSeq.toDF("file").write.mode("overwrite").parquet(l.dir("tomb", batchId))
    }
  }

  /** Merge-on-read scan of the ledger's table: live files (base minus
    * tombstoned, plus generations) minus the residual DV positions.
    */
  def read(spark: SparkSession, l: Ledger): DataFrame = {
    val live = liveManifest(spark, l, Long.MaxValue).select("file")
      .collect().map(_.getString(0)).sorted // |files|-bounded
    minus(spark.read.parquet(live.toIndexedSeq: _*), positions(spark, l, Long.MaxValue))
  }
}
