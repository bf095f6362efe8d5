package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Bucketed (pre-shuffled) table materialization — the co-located-join
  * lever at 100 TB: two tables bucketed on their join key with the
  * same bucket count sort-merge-join WITHOUT an exchange. The one-time
  * bucket write pays the shuffle once; every subsequent join of the
  * pair (daily fact loads against a bucketed dimension history, repeat
  * analytical joins) rides the stored layout.
  *
  * Spark's parquet bucketing needs the catalog (bucket metadata lives
  * in the table definition, not the files), so the pair lands as
  * catalog tables in the session warehouse. Idempotent per (source
  * dir): a stamp file keyed by the sources' (mtime, length) skips the
  * rewrite when nothing changed — staging is SETUP, as with the
  * streaming watch dirs.
  */
object Bucketing {

  /** Materialize orders + lineitem bucketed on their join key; returns
    * the two catalog table names.
    */
  def ensureOrdersLineitemBucketed(
      spark: SparkSession, dir: String, buckets: Int = 8): (String, String) = {
    val key = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val (tOrders, tLineitem) = (s"graft_bkt_orders_$key", s"graft_bkt_lineitem_$key")
    val conf = spark.sparkContext.hadoopConfiguration
    val warehouse = new Path(spark.sessionState.conf.warehousePath)
    val fs = warehouse.getFileSystem(conf)
    val marker = new Path(warehouse, s"_graft_bkt_stamp_$key")
    val stamp = Seq("orders", "lineitem").map { t =>
      val st = fs.getFileStatus(new Path(s"$dir/$t.parquet"))
      s"${st.getModificationTime}:${st.getLen}"
    }.mkString(s"v1:$buckets:", ",", "")
    val current = graft.SparkUtil.readStamp(fs, marker)
    val haveTables =
      spark.catalog.tableExists(tOrders) && spark.catalog.tableExists(tLineitem)
    val (locOrders, locLineitem) = (new Path(warehouse, tOrders), new Path(warehouse, tLineitem))
    if (current.contains(stamp) && !haveTables &&
        fs.exists(locOrders) && fs.exists(locLineitem)) {
      // a fresh JVM's in-memory catalog lost the table entries but the
      // stamp proves the bucket files on disk are current: re-register
      // them as external bucketed tables instead of rewriting — this
      // is what makes "idempotent per source dir" hold ACROSS
      // processes, not just within one session's catalog lifetime
      registerExisting(spark, tOrders,
        graft.Tables.orders(spark, dir).schema, "o_orderkey", buckets, locOrders)
      registerExisting(spark, tLineitem,
        graft.Tables.lineitem(spark, dir).schema, "l_orderkey", buckets, locLineitem)
    } else if (!current.contains(stamp) || !haveTables) {
      Seq(tOrders, tLineitem).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        // a fresh in-memory catalog can't overwrite a previous JVM's
        // orphaned managed-table location (LOCATION_ALREADY_EXISTS) —
        // remove the directory the drop didn't know about
        val loc = new Path(warehouse, t)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      // sortBy matches the join key (inside writeBucketed) so the
      // co-located SMJ can also skip its per-bucket sort
      Snapshots.writeBucketed(graft.Tables.orders(spark, dir), tOrders, "o_orderkey", buckets)
      Snapshots.writeBucketed(graft.Tables.lineitem(spark, dir), tLineitem, "l_orderkey", buckets)
      graft.SparkUtil.writeStamp(fs, marker, stamp)
    }
    (tOrders, tLineitem)
  }

  /** Register an already-written bucketed parquet directory in THIS
    * JVM's catalog (external table, bucket spec matching the writer's)
    * — the files were produced by Spark's bucketed writer, so the
    * bucket-id file naming the scan relies on is already correct.
    */
  private def registerExisting(
      spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType,
      key: String, buckets: Int, loc: Path): Unit =
    spark.sql(
      s"""CREATE TABLE $table (${schema.toDDL}) USING parquet
         |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
         |LOCATION '$loc'""".stripMargin)
}
