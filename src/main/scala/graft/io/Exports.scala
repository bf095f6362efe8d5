package graft.io

import graft.app.Pipeline.Dwh
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S12: denormalized analytics exports
  * (ref /root/reference/src/etl/staging_to_dwh.py:652-796).
  *
  * For each load_month, three join-projections (queries :687-713) land
  * as parquet under `dir/<month>/job_<type>_<month>.parquet`, with a
  * `metadata_<month>.json` per month (record counts + files) and a
  * top-level `index.json` — the reference's export contract. `asOf`
  * stands in for the reference's datetime.now() so metadata is
  * deterministic (SURVEY §7.4(3)), and so are the data files: for one
  * star, every exported file holds the same rows in the same order
  * whichever physical joins AQE picks (see `locationsTagged`).
  *
  * Scale shape: ONE partitioned write job per export type covers every
  * month (`partitionBy` on an internal `__month` tag that Spark strips
  * from the data files, so file schemas stay exactly the reference's
  * projections), and the per-month layout comes from driver-side
  * directory renames — metadata operations, not jobs. The reference's
  * loop (and this module's first version) ran months × types separate
  * write jobs plus a full re-read `count()` per file: a many-month
  * warehouse turned that into hundreds of serial jobs. Counts now come
  * from one aggregation job over all types and months. Months with no
  * rows for a type produce no partition directory, so they are skipped
  * from files[] and counts exactly like the reference's empty-export
  * guard (staging_to_dwh.py:733-755).
  */
object Exports {

  val Types: Seq[String] = Seq("analytics", "facts", "locations")

  private val MonthTag = "__month"

  /** `SELECT f.*, j.title_clean, j.job_id, c.company_name_standardized`
    * (staging_to_dwh.py:688-694) for the given months, plus the
    * internal month tag.
    */
  private def factsTagged(dwh: Dwh, months: Seq[String]): DataFrame =
    dwh.fact.filter(col("load_month").isin(months: _*))
      .join(broadcast(dwh.dimJob.select("job_sk", "job_id", "title_clean")), "job_sk")
      .join(broadcast(dwh.dimCompany.select("company_sk", "company_name_standardized")),
        "company_sk")
      .withColumn(MonthTag, col("load_month"))

  /** fact ⋈ bridge ⋈ DimLocation leg (staging_to_dwh.py:696-703), with
    * each month's rows in one partition and `location_sk` kept for the
    * sort in [[exportMonths]].
    *
    * The fact ⋈ bridge join has no hint, so AQE picks sort-merge or
    * broadcast by which stage finishes first, and the rows would land in
    * that join's order and split. One partition per month, sorted by
    * (fact_id, location_sk), a key that determines every output column,
    * gives one file per month, as the reference writes, with the same
    * bytes whichever join ran. The month tag is non-nullable so that
    * sort also serves the partitioned write: a nullable string partition
    * column is rewritten (empty to null) before the write, which loses
    * the ordering and adds a sort by month alone. The `isin` filter has
    * already dropped null months, so the `coalesce` changes no value.
    */
  private def locationsTagged(dwh: Dwh, months: Seq[String]): DataFrame =
    dwh.fact.filter(col("load_month").isin(months: _*))
      .select(col("fact_id"), col("job_sk"), col("date_id"),
        coalesce(col("load_month"), lit("")).as(MonthTag))
      .join(broadcast(dwh.dimJob.select("job_sk", "job_id", "title_clean")), "job_sk")
      .join(dwh.bridge, "fact_id")
      .join(broadcast(dwh.dimLocation.select("location_sk", "province", "city", "district")),
        "location_sk")
      .repartition(col(MonthTag))
      .select("fact_id", "location_sk", "job_sk", "date_id", "job_id", "title_clean",
        "province", "city", "district", MonthTag)

  /** Months present in the fact table (staging_to_dwh.py:669-672). */
  def loadMonths(dwh: Dwh): Seq[String] =
    dwh.fact.select("load_month").distinct().orderBy("load_month")
      .collect().map(_.getString(0)).toSeq // ≤ |months| rows

  private def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(content.getBytes("UTF-8"))
    out.close()
  }

  /** Run the full export: data parquet + metadata JSON per month +
    * index JSON. Returns (load_month, export_type, file, n_records)
    * for verification; empty (month, type) combinations are omitted,
    * like the reference's empty-export skip.
    */
  def exportMonths(
      dwh: Dwh, months: Seq[String], dir: String, asOf: String): Seq[(String, String, String, Long)] = {
    val spark = dwh.fact.sparkSession
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // each tagged projection is lazily checkpointed so the counts
    // aggregate and the parquet write SHARE one computation of the
    // joins — the previous formulation planned every projection twice
    // (once per consumer), doubling the export's join work.
    // r15: `analytics`, the BI projection (staging_to_dwh.py:705-713),
    // is a pure PROJECTION of the `facts` export's join (same fact ⋈
    // dimJob ⋈ dimCompany, narrower column list) — derive it from the
    // facts checkpoint instead of re-running the whole join chain +
    // broadcast builds a second time. Same rows, same column values,
    // by construction.
    val factsCk = factsTagged(dwh, months).localCheckpoint(false)
    val analyticsFromFacts = factsCk.select(
      col("title_clean"), col("job_id"), col("company_name_standardized"),
      col("date_id"), col("salary_min"), col("salary_max"),
      col("salary_type"), col("due_date"), col("posted_time"),
      col("verified_employer"), col(MonthTag))
    val taggedFrames: Seq[(String, DataFrame)] = Seq(
      "analytics" -> analyticsFromFacts,
      "facts" -> factsCk,
      // sorted after the checkpoint, which does not keep an ordering
      "locations" -> locationsTagged(dwh, months).localCheckpoint(false)
        .sortWithinPartitions(MonthTag, "fact_id", "location_sk").drop("location_sk"))

    // all (type, month) record counts in one aggregation job — never a
    // per-file re-read
    val counts: Map[(String, String), Long] = taggedFrames.map { case (t, df) =>
      df.groupBy(MonthTag).agg(count(lit(1)).as("n"))
        .select(lit(t).as("t"), col(MonthTag), col("n"))
    }.reduce(_ unionByName _)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap // |types|·|months|-bounded

    // one partitioned write per type; per-month dirs land via renames
    // (driver-side metadata operations, not Spark jobs). mkdirs/rename
    // results are CHECKED: a false return (dest-parent race, cross-FS
    // staging) would otherwise leave the month's parquet stranded under
    // .staging_<type> while metadata still reported it (round-5 advice).
    taggedFrames.foreach { case (t, df) =>
      val staging = s"$dir/.staging_$t"
      df.write.mode("overwrite").partitionBy(MonthTag).parquet(staging)
      months.foreach { m =>
        val src = new Path(s"$staging/$MonthTag=$m")
        if (fs.exists(src)) {
          val monthDir = new Path(s"$dir/$m")
          require(fs.mkdirs(monthDir), s"export: mkdirs failed for $monthDir")
          val dest = new Path(s"$dir/$m/job_${t}_$m.parquet")
          if (fs.exists(dest)) fs.delete(dest, true)
          require(fs.rename(src, dest), s"export: rename $src -> $dest failed")
        }
      }
      fs.delete(new Path(staging), true)
    }

    val stats = for {
      m <- months
      t <- Types
      n <- counts.get((t, m))
    } yield (m, t, s"job_${t}_$m.parquet", n)

    months.foreach { m =>
      val rows = stats.filter(_._1 == m)
      if (rows.nonEmpty) {
        val cjson = rows.map { case (_, t, _, n) => s""""$t": $n""" }.mkString(", ")
        val files = rows.map { case (_, _, f, _) => s""""$f"""" }.mkString(", ")
        writeString(spark, s"$dir/$m/metadata_$m.json",
          s"""{"load_month": "$m", "export_time": "$asOf", "record_counts": {$cjson}, "files": [$files]}""")
      }
    }
    val total = stats.map(_._4).sum
    val monthsJson = months.map(m => s""""$m"""").mkString(", ")
    writeString(spark, s"$dir/index.json",
      s"""{"load_months": [$monthsJson], "export_time": "$asOf", "export_count": ${months.size}, "total_records": $total}""")
    stats
  }
}
