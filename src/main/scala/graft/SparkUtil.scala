package graft

import java.io.File

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One place for session construction so every entrypoint (Verify,
  * Bench, tests) runs with identical semantics-relevant conf.
  *
  * Scale notes (100 TB target): these knobs are the local[32] stand-ins
  * for cluster conf — shuffle partitions sized to cores here, to
  * 2-3× total executor cores on a real cluster; AQE handles runtime
  * coalescing and skew splitting either way; dynamic partition
  * overwrite enables incremental month rewrites of the fact table
  * without clobbering sibling partitions (SURVEY §4).
  */
object SparkUtil {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // events.parquet stores INT64 TIMESTAMP(NANOS); Spark's vectorized
      // reader rejects it unless nanos are surfaced as long. Set once,
      // session-wide, so scan behavior is not order-dependent (ADVICE r1).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed tables (co-located joins) land here instead of ./spark-warehouse
      .config("spark.sql.warehouse.dir", new File("target/spark-warehouse").getAbsolutePath)
      // Spark 4.1 turned on checksum generation+verification for every
      // streaming-checkpoint file (ChecksumCheckpointFileManager, a
      // thread pool per write). For ephemeral local checkpoints the
      // corruption-detection buys nothing and its pool stalls showed up
      // as multi-second per-batch overhead in the stateful operators
      // (q_st2/q_st3). Durable production checkpoints on object stores
      // can re-enable it per query.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // TypedImperativeAggregate aggregations (CollectUpTo in the
      // dedup cap) run on ObjectHashAggregateExec, whose default
      // fallback-to-sort threshold is 128 DISTINCT GROUPS — a
      // vocabulary-sized groupBy would sort every exploded partition.
      // The cap bounds each group's buffer, so a large in-memory group
      // count is safe; 1M groups × small buffers ≈ tens of MB per
      // task, and the sort fallback still engages past that.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 20).toString)
      // Generated classes must survive from one run of a plan to the
      // next, or every rerun pays Janino and then the JIT again. With
      // the codegen stage id in whole-stage class names
      // (`GeneratedIteratorForCodegenStage<N>`), identical code gets a
      // new name whenever AQE creates stages in another order, and
      // misses the class cache; the cache itself is sized by
      // CodegenCacheEntries.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`). One `full_load` run of the
    * pipeline (load, star build, commit, exports, next-day batch) uses
    * about 400 distinct classes, so the default of 100 evicts classes
    * before their next use: at the default, a rerun of that run
    * recompiled more than 500 classes and each repeat of a `bi_views`
    * dashboard round about 145. 1024 holds those working sets with room
    * to spare. A cached class costs about 24 KB of heap, so a full
    * cache costs about 25 MB.
    *
    * This is a static conf: Spark reads it once, when its
    * `CodeGenerator` object initialises on the first compilation in
    * the JVM. A session built after that, or a conf change at run
    * time, leaves the cache at the size it was born with.
    */
  val CodegenCacheEntries = 1024

  /** The one scratch root for on-disk query state:
    * `<working dir>/target/tmp/<name>/<dataset key>`, where the key is
    * `dataDir` with every non-alphanumeric run replaced by `_` (`""`
    * for state tied to no dataset). Keying by dataset lets persisted
    * state of two scale factors coexist; resolving against the working
    * directory keeps a copied checkout inside its own tree.
    */
  def scratchDir(name: String, dataDir: String): String =
    new File(s"target/tmp/$name/${dataDir.replaceAll("[^A-Za-z0-9]+", "_")}").getAbsolutePath

  /** [[scratchDir]], deleted first: for state a run must rebuild from
    * nothing, where an earlier run's leftovers would poison the result.
    */
  def freshDir(name: String, dataDir: String): String = {
    val dir = scratchDir(name, dataDir)
    org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    dir
  }

  /** [[scratchDir]] built by `write` once per source state, for
    * staging that is set-up rather than query work. The `_STAGED` marker
    * stores `version` and `srcPath`'s (mtime, length) stamp; `write`
    * re-runs only when that changed — a rewritten source invalidates
    * the staged copy instead of being silently ignored — and the marker
    * lands only after a successful (re)build.
    */
  def stagedDir(spark: SparkSession, name: String, dataDir: String, srcPath: String,
      version: String)(write: String => Unit): String = {
    val dir = scratchDir(name, dataDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcPath)
    val dstDir = new Path(dir)
    val fs = dstDir.getFileSystem(conf)
    val marker = new Path(dstDir, "_STAGED")
    val st = src.getFileSystem(conf).getFileStatus(src)
    val stamp = s"$version:${st.getModificationTime}:${st.getLen}"
    if (!readStamp(fs, marker).contains(stamp)) {
      if (fs.exists(dstDir)) fs.delete(dstDir, true)
      write(dir)
      writeStamp(fs, marker, stamp)
    }
    dir
  }

  /** The stamp a staging marker file holds; None when it is absent. */
  private[graft] def readStamp(fs: FileSystem, marker: Path): Option[String] =
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }

  private[graft] def writeStamp(fs: FileSystem, marker: Path, stamp: String): Unit = {
    val out = fs.create(marker, true)
    try out.write(stamp.getBytes("UTF-8")) finally out.close()
  }

  /** Fixed default core count so Bench/Verify numbers are comparable
    * across machines (ADVICE r2); override via SPARK_GRAFT_CPUS.
    */
  val DefaultCpus = 32

  private def envCpus: Option[Int] = sys.env.get("SPARK_GRAFT_CPUS").map { v =>
    try v.toInt
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be an integer, got '$v'")
    }
  }

  /** Widen a narrow input (e.g. a single small parquet file → 1-2 scan
    * partitions) to cluster parallelism before per-row-heavy work,
    * WITHOUT executing the plan — pure metadata. The previous
    * `df.rdd.getNumPartitions` check was a hidden execution: under AQE,
    * `Dataset.rdd` materializes every non-final query stage, so a plan
    * with an upstream shuffle ran in full at build time and the
    * downstream lazy checkpoint then re-executed it — the e2e staging
    * chain was computed TWICE per build.
    *
    * Parallelism is estimated per leaf file relation as
    * max(file count, total bytes / maxPartitionBytes) summed across
    * leaves: one LARGE splittable parquet file scans as many partitions
    * (the byte term sees that — a bare file count would fire a useless
    * full-data repartition on it), while many small files keep the file
    * count as the floor. Non-file-backed frames (checkpoint scans,
    * synthesized ranges) report no leaves and take the repartition — a
    * single bounded shuffle before the heavy map work, never a
    * re-execution. A real 100 TB scan has thousands of files/splits and
    * is left untouched.
    */
  def widenByFiles(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val plan = df.queryExecution.analyzed
    // Catalog (Hive) tables and DSv2 scans expose no file metadata
    // here; they'd estimate 0 splits and eat a full repartition on an
    // arbitrarily large table. Treat them as "unknown, assume wide" —
    // the widening premise (a known-small local input) can't hold.
    val hasOpaqueRelation = plan.exists {
      case _: org.apache.spark.sql.catalyst.catalog.HiveTableRelation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
      case _ => false
    }
    if (hasOpaqueRelation) return df
    val estSplits = plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val loc = fs.location
            math.max(loc.inputFiles.length.toLong,
              (loc.sizeInBytes + maxSplit - 1) / maxSplit)
          case _ => 0L
        }
    }.sum
    if (estSplits < target) df.repartition(target) else df
  }

  /** Shuffle-partition count for STREAMING queries (state-store
    * partitioning). Batch queries get AQE coalescing, but structured
    * streaming runs with AQE off and pins the stateful-operator
    * partition count at first batch — so every stateful op otherwise
    * commits `spark.sql.shuffle.partitions` (= cores) state-store
    * deltas per micro-batch. These streams carry KB-scale bounded
    * state; 32-way state files are pure per-batch I/O floor (guide
    * §2.2: fewer, larger partitions). The count is min(8, cores):
    * the same on every bench host of 8 or more cores (8 at both 32
    * and 16), keeping the bench's scaling measurement comparable. A
    * production deployment would size it to state volume / aggregate
    * write throughput instead (e.g. 2-3x executor cores when
    * per-batch state is GBs). Partitioning never changes results:
    * every stateful operator here is key-hashed and order-insensitive.
    */
  def streamShufflePartitions(spark: SparkSession): Int =
    math.min(8, spark.sparkContext.defaultParallelism)

  def local(cpus: Int = envCpus.getOrElse(DefaultCpus)): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Some windows are intentionally unpartitioned, over reduced frames:
    // Corpus.packShards' token offsets (≤ #partitions rows), the
    // running count over distinct values in Ranks.doubledAvgRank, and the
    // queries' row_numbers over aggregated or bounded results. Silence
    // the per-use warning; data-side window properties are enforced by
    // PlanSpec/StableIdSpec instead of log eyeballing.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
