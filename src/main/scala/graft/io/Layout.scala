package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * Range-partitioning on ONE column gives perfect row-group skipping
  * on that column and none on any other. Interleaving the bits of two
  * key columns into a Morton code and range-clustering on THAT gives
  * every file a small rectangle of the (a, b) key space, so parquet
  * min/max row-group statistics prune scans filtered on EITHER
  * dimension (or both) — the standard layout for "filter by user AND
  * by day" fact tables. Pure bit arithmetic (shift/mask ladder), fully
  * codegen'd, no UDF.
  */
object Layout {

  /** Spread the low 16 bits of `c` into the even bit positions
    * (Morton "part1by1" ladder).
    */
  private def part1by1(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = (x0.bitwiseOR(shiftleft(x0, 8))).bitwiseAND(lit(0x00FF00FFL))
    val x2 = (x1.bitwiseOR(shiftleft(x1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = (x2.bitwiseOR(shiftleft(x2, 2))).bitwiseAND(lit(0x33333333L))
    (x3.bitwiseOR(shiftleft(x3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of two 16-bit values (a in even bits, b odd). */
  def zValue(a: Column, b: Column): Column =
    part1by1(a).bitwiseOR(shiftleft(part1by1(b), 1))

  /** Cluster `df` for two-dimensional skipping: range-partition and
    * sort by the Morton code of (a, b) so every output file covers a
    * compact key-space rectangle. Values must fit 16 bits — the caller
    * buckets/offsets real keys into that budget (precision beyond the
    * file count is wasted anyway).
    */
  /** @param numFiles explicit output-file count; None lets AQE size
    *   the ranges (right in production, where the advisory partition
    *   size is tuned — but AQE may coalesce a small frame to ONE file,
    *   which defeats the layout, so tests and small tables pin it).
    */
  def zOrderBy2(
      df: DataFrame, a: Column, b: Column,
      numFiles: Option[Int] = None): DataFrame = {
    val withZ = df.withColumn("__z", zValue(a, b))
    val parted = numFiles match {
      case Some(n) => withZ.repartitionByRange(n, col("__z"))
      case None    => withZ.repartitionByRange(col("__z"))
    }
    parted.sortWithinPartitions(col("__z")).drop("__z")
  }

  /** Zone-map manifest of a parquet directory: one (file, zone_min,
    * zone_max, n_rows) row per physical file, built in a single
    * distributed pass. This is the metadata a table format (Iceberg
    * manifest / Delta add-file stats) maintains incrementally at
    * write time; here it is derived on demand so the PLANNING side —
    * select files whose zone overlaps the predicate, hand only those
    * to the scan — can be exercised and oracle-checked without a
    * table-format dependency. Manifest size is |files|, never |rows|.
    */
  def zoneManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      zoneCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(zoneCol)).as("zone_min"), max(col(zoneCol)).as("zone_max"),
        count(lit(1)).as("n_rows"))

  /** Per-file Bloom-index manifest: one (file, __bloom) row per
    * physical file, where __bloom is an mBits-bit filter over
    * `keyCol` stored as map<word:int, bits:long>. Zone maps (above)
    * prune RANGE predicates on the clustering column; a per-file
    * Bloom sidecar prunes POINT lookups on a column the layout does
    * NOT cluster — the Parquet-bloom / Iceberg-bloom use case: a
    * unique id lives in exactly one file of an unsorted table, so a
    * probe reads 1 file instead of all of them even though every
    * file's [min, max] id zone overlaps everything.
    *
    * Built in ONE distributed pass: k probe positions per row
    * (xxhash64 over the key AS BIGINT, seed = probe index — the
    * BloomJoin hashing convention), bit_or per (file, 64-bit word),
    * map_from_entries per file. Manifest size is |files| rows of
    * mBits/64 longs, never |rows|. Production sizes mBits from the
    * file's row count (~10 bits/key for 1% FP); a false positive
    * only costs an extra file read — false negatives are impossible
    * by construction, which is what the oracle checks.
    */
  /** The ONE hash/bit convention shared by the build and probe sides.
    * Both used to re-implement it in different dialects (Column API vs
    * a hand-built SQL string); they agreed only because pmod output is
    * non-negative and the literal types happened to line up, and any
    * drift would silently manufacture false negatives — dropped rows.
    * Now the probe position, word index, and bit mask each exist once.
    */
  private def probePos(key: Column, i: Int, mBits: Int): Column =
    pmod(xxhash64(key.cast("long"), lit(i)), lit(mBits.toLong))
  private def bloomWord(pos: Column): Column = (pos / 64).cast("int")
  private def bloomBit(pos: Column): Column =
    call_function("shiftleft", lit(1L), pos.mod(lit(64L)).cast("int"))

  def bloomManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      keyCol: String, mBits: Int, k: Int): DataFrame = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    require(k >= 1, s"k (probes per key) must be >= 1, got $k") // k = 0: an empty manifest
    val probes = (0 until k).map(i => probePos(col(keyCol), i, mBits))
    spark.read.parquet(path)
      .select(input_file_name().as("file"),
        explode(array(probes: _*)).as("pos"))
      .groupBy(col("file"), bloomWord(col("pos")).as("word"))
      .agg(bit_or(bloomBit(col("pos"))).as("bits"))
      .groupBy("file")
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("word"), col("bits"))))).as("__bloom"))
  }

  /** Combined per-file stats manifest: zone [min, max] of `zoneCol`
    * AND a Bloom filter over `bloomKeyCol`, one row per physical
    * file — the full Iceberg/Delta add-file stats shape, so a
    * planner can AND range pruning on the clustering column with
    * point pruning on a non-clustered one in a single |files|-row
    * pass. ONE scan (r15; it used to be two scans joined on file):
    * the zone column rides the bloom probe explode, the per-(file,
    * word) grain accumulates bits AND zone min/max/count, and the
    * per-file rollup divides the count by k (every row emits exactly
    * k probe rows, so the division is exact). A production writer
    * folds both into the write itself — the cost model that matters
    * is that the pass is |new files|-bounded when called on an
    * arriving batch's directory, which is exactly how
    * [[q_s30 incremental maintenance]] uses it: the standing
    * manifest is never recomputed, new batches contribute
    * manifest DELTAS and the table's manifest is their union.
    */
  def statsManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      zoneCol: String, bloomKeyCol: String, mBits: Int, k: Int): DataFrame = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    require(k >= 1, s"k (probes per key) must be >= 1, got $k") // k = 0: an empty manifest
    val probes = (0 until k).map(i => probePos(col(bloomKeyCol), i, mBits))
    spark.read.parquet(path)
      .select(input_file_name().as("file"), col(zoneCol).as("__z"),
        explode(array(probes: _*)).as("pos"))
      .groupBy(col("file"), bloomWord(col("pos")).as("word"))
      .agg(bit_or(bloomBit(col("pos"))).as("bits"),
        min(col("__z")).as("__zmin"), max(col("__z")).as("__zmax"),
        count(lit(1)).as("__cnt"))
      .groupBy("file")
      .agg(
        min(col("__zmin")).as("zone_min"), max(col("__zmax")).as("zone_max"),
        (sum(col("__cnt")) / k).cast("long").as("n_rows"),
        map_from_entries(
          sort_array(collect_list(struct(col("word"), col("bits"))))).as("__bloom"))
      .select("file", "zone_min", "zone_max", "n_rows", "__bloom")
  }

  /** Files whose Bloom filter MIGHT contain at least one probe key —
    * the planner step: |files| × |probes| bit tests over manifest
    * rows, no data file touched. Same hash convention as
    * bloomManifest (a mismatch would manufacture false negatives).
    */
  def bloomMatchingFiles(manifest: DataFrame, probeKeys: DataFrame,
      keyCol: String, mBits: Int, k: Int): DataFrame = {
    val mightContain = (0 until k).map { i =>
      val pos = probePos(col(keyCol), i, mBits)
      coalesce(element_at(col("__bloom"), bloomWord(pos)), lit(0L))
        .bitwiseAND(bloomBit(pos)) =!= lit(0L)
    }.reduce(_ && _)
    manifest
      .crossJoin(probeKeys.select(col(keyCol)))
      .filter(mightContain)
      .select("file").distinct()
  }
}
