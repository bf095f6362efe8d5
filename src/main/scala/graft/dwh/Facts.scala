package graft.dwh

import graft.functions.LocationFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fact generation (SURVEY D9-D12, J6, J7, P6, W1, W3, S9).
  *
  * The reference loops per staging row × per day with one UPSERT each
  * (fact_handler.py:43-326, ~589 ops/s). Here the whole thing is one
  * declarative plan: broadcast SK-resolution joins → a generated date
  * explode (never a driver loop) → window dedup — which is also the
  * 100 TB shape: the only shuffle is the final (job_sk, date_id) dedup,
  * and dims ride broadcasts.
  */
object Facts {

  /** J6/P6: resolve job/company SKs against current dims via broadcast
    * joins; rows lacking either SK are dropped (the caller can count
    * them separately, ref fact_handler.py:112-120).
    */
  def resolveSks(
      staging: DataFrame, dimJob: DataFrame, dimCompany: DataFrame,
      jobKey: String, companyKey: String): DataFrame =
    staging
      .join(broadcast(dimJob.filter(col(ScdType2.CurrentCol))
        .select(col(jobKey), col("job_sk"))), Seq(jobKey))
      .join(broadcast(dimCompany.filter(col(ScdType2.CurrentCol))
        .select(col(companyKey), col("company_sk"))), Seq(companyKey))

  /** D9: the ×5-day grain — every staging row yields facts for
    * [asOf, asOf+4] (fact_handler.py:66-69 uses today..today+4; the
    * run date is an explicit parameter here). `explode(sequence(...))`
    * keeps it a generator inside codegen.
    */
  def explodeDailyGrain(resolved: DataFrame, asOfDate: String): DataFrame = {
    // validate driver-side: a malformed date would cast to NULL and
    // explode(sequence(NULL, ...)) silently emits an EMPTY fact table
    val d = java.time.LocalDate.parse(asOfDate).toString
    resolved.withColumn("date_id",
      explode(sequence(lit(d).cast("date"), date_add(lit(d).cast("date"), 4))))
  }

  /** Deterministic final dedup tiebreak: two same-key rows with an
    * IDENTICAL crawled_at but different measures (a crawler retry that
    * re-parsed differently) must not leave the survivor to shuffle
    * fetch order — hash the full payload so exact-timestamp ties are
    * stable across runs.
    */
  private[graft] def tieHash(df: DataFrame, excluded: Seq[String]): org.apache.spark.sql.Column =
    xxhash64(struct(df.columns.filterNot(excluded.contains).map(col).toSeq: _*))

  /** The survivor rule of every latest-crawl dedup (fact dedup, fact
    * merge, dim prep, the daily batch's dim inputs): per `keys`, keep
    * the row with the latest `crawled_at`, then the latest `load_month`
    * where the frame carries one; `tieHash` over the rest of the row
    * breaks exact ties. The reference's upsert loop processes crawls in
    * order, so the last write per key sticks; one rule here means the
    * initial build and the incremental mode cannot silently diverge.
    *
    * `arrange` range-partitions and sorts on (keys, rule) first: that
    * one exchange satisfies the window's ClusteredDistribution and the
    * within-partition sort already matches its ordering, so Catalyst
    * adds no second exchange or sort, and `StableId.assignPrearranged`
    * can number the surviving partitions in place.
    */
  private[graft] def keepLatest(
      df: DataFrame, keys: Seq[String], arrange: Boolean = false): DataFrame = {
    require(df.columns.contains("crawled_at"), "keepLatest orders by crawled_at")
    val crawl = Seq("crawled_at", "load_month").filter(df.columns.contains)
    val order = crawl.map(c => col(c).desc) :+ tieHash(df, keys ++ crawl)
    val in =
      if (!arrange) df
      else df.repartitionByRange(keys.map(col): _*).sortWithinPartitions(keys.map(col) ++ order: _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    in.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Fused W1 dedup + fact_id assignment for the initial build: ONE
    * range exchange on (job_sk, date_id) serves both the keep-latest
    * window and the dense id numbering (`keepLatest` with `arrange`;
    * StableId.assignPrearranged numbers the checkpointed partitions in
    * place). Survivors and ids equal those of a dedup followed by a
    * separate numbering, which would shuffle and sort the exploded fact
    * twice (keys are unique after dedup, so the id order is the same
    * (job_sk, date_id) total order).
    */
  def dedupAssigningIds(exploded: DataFrame, idCol: String, base: Long): DataFrame =
    StableId.assignPrearranged(
      keepLatest(exploded, Seq("job_sk", "date_id"), arrange = true), idCol, base)

  /** The flag column `mergeFactsAssigning` adds (see there). */
  val InBatchCol = "in_batch"

  /** D10/S9/W3: last-wins merge of an incoming batch WITHOUT fact_ids
    * onto the existing fact table (the UPSERT of fact_handler.py:
    * 237-255). Matched (job_sk, date_id) keys keep the existing
    * fact_id, load_month (the UPSERT deliberately does not update it)
    * AND every `preserveCols` column (the reference's DO UPDATE list
    * deliberately excludes company_sk, fact_handler.py:245-254) and
    * take the incoming value — including NULL — for every `carryCols`
    * column; brand-new keys get dense ids continuing after
    * max(existing fact_id), in (job_sk, date_id) order, via the
    * distributed StableId assigner. Incoming is deduped within the
    * batch first by `keepLatest`: the per-key UPSERT loop runs in crawl
    * order, so the latest crawl wins.
    *
    * `incoming` carries (job_sk, date_id, carryCols ++ preserveCols);
    * `existing` carries (fact_id, job_sk, date_id, load_month,
    * carryCols ++ preserveCols). carryCols = measures + passthroughs
    * (e.g. the location source for bridge rebuild).
    *
    * The result carries one more column, `InBatchCol`: true on the rows
    * whose key the incoming batch carried (matched or brand-new), false
    * on rows only `existing` held. A caller that rebuilds what the
    * batch touched (the daily bridge) filters on it instead of planning
    * `incoming` a second time; a caller that stores the fact drops it.
    */
  def mergeFactsAssigning(
      existing: DataFrame, incoming: DataFrame, carryCols: Seq[String],
      preserveCols: Seq[String] = Seq("company_sk")): DataFrame = {
    val keys = Seq("job_sk", "date_id")
    val dedup = keepLatest(incoming, keys)
    val e = existing.select(
      keys.map(col) ++
        Seq(col("fact_id").as("__e_fact_id"), col("load_month").as("__e_load_month")) ++
        (carryCols ++ preserveCols).map(c => col(c).as(s"__e_$c")): _*)
    val merged = dedup.withColumn("__inc", lit(true)).join(e, keys, "full")
      .withColumn("load_month", coalesce(col("__e_load_month"), col("load_month")))
    // carry: incoming wins on matched rows even when NULL (presence
    // flag: the reference's ON CONFLICT DO UPDATE overwrites each
    // measure with the incoming value INCLUDING NULL, where a coalesce
    // would resurrect the old value of a field the new crawl nulled out)
    val withCarry = carryCols.foldLeft(merged) { (df, c) =>
      df.withColumn(c, when(col("__inc").isNotNull, col(c)).otherwise(col(s"__e_$c")))
    }
    // preserve: existing wins on matched rows (the DO UPDATE list
    // omits these); incoming supplies them only for brand-new keys
    val withPreserve = preserveCols.foldLeft(withCarry) { (df, c) =>
      df.withColumn(c, when(col("__e_fact_id").isNotNull, col(s"__e_$c")).otherwise(col(c)))
    }
    // lazy checkpoint: cleaned feeds both the matched branch and the
    // fresh branch (via assignAfterMax) — without the pin the full
    // outer merge join and its dedup window execute twice per action
    val cleaned = withPreserve.withColumn(InBatchCol, col("__inc").isNotNull).drop(
      Seq("__inc", "__e_load_month") ++ (carryCols ++ preserveCols).map(c => s"__e_$c"): _*)
      .localCheckpoint(false)
    val matched = cleaned.filter(col("__e_fact_id").isNotNull)
      .withColumn("fact_id", col("__e_fact_id").cast("long"))
      .drop("__e_fact_id")
    val fresh = StableId.assignAfterMax(
      cleaned.filter(col("__e_fact_id").isNull).drop("__e_fact_id"),
      keys.map(col), "fact_id", existing, "fact_id", 9999L)
    matched.unionByName(fresh.select(matched.columns.map(col): _*))
  }

  /** S9 upsert statistics — the reference surfaces "N inserted /
    * M updated" per bulk upsert (bulk_operations.py:235-241, counting
    * `xmax = 0` rows) and warns when processed/attempted drops below
    * 95% (fact_handler.py:186-196). Set-based replay: one left join of
    * the incoming keys onto the existing keys flags each processed key
    * as insert (no match) or update (match), and one aggregate emits
    * the counts, the success rate against the raw `attempted` batch
    * (rows lost to parsing/SK resolution upstream), and the ≥95% flag.
    * The key probe is dimension-of-the-batch sized; nothing collects.
    *
    * Grains match the reference exactly: n_processed and n_attempted
    * are both ROW counts (fact_handler.py:186-196 compares fact rows
    * against valid_records — a batch with duplicate keys no longer
    * understates success_rate), while insert/update split at KEY grain
    * (the reference counts them from the upserted table via xmax, one
    * per key). Both probe sides are deduped to key grain so duplicate
    * existing keys cannot fan the join out and inflate every count.
    */
  def upsertStats(
      existing: DataFrame, incoming: DataFrame, attempted: DataFrame): DataFrame = {
    val keys = Seq("job_sk", "date_id")
    val flagged = incoming.select(keys.map(col): _*).distinct()
      .join(existing.select(keys.map(col): _*).distinct().withColumn("__e", lit(true)),
        keys, "left")
    flagged
      .agg(
        // coalesce: sum over an EMPTY flagged frame (a batch fully
        // dropped upstream) is NULL, the reference reports 0/0
        coalesce(sum(when(col("__e").isNotNull, 0L).otherwise(1L)), lit(0L)).as("n_inserted"),
        coalesce(sum(when(col("__e").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n_updated"))
      .crossJoin(broadcast(incoming.agg(count(lit(1)).as("n_processed"))))
      .crossJoin(broadcast(attempted.agg(count(lit(1)).as("n_attempted"))))
      // zero-attempted boundary: the rate is honestly unknown (NULL),
      // but the flag must stay a usable boolean — multiplication form
      // avoids the NULL division and reads 0 ≥ 0 as vacuous success
      .withColumn("success_rate", round(col("n_processed") / col("n_attempted"), 4))
      .withColumn("success_ok", col("n_processed") >= col("n_attempted") * 0.95)
      .select("n_attempted", "n_processed", "n_inserted", "n_updated",
        "success_rate", "success_ok")
  }

  /** D11: fact→location bridge — explode each fact's parsed locations,
    * resolve against DimLocation null-safely, fall back to the Unknown
    * row, dedup (fact_id, location_sk) (fact_handler.py:443-539).
    */
  def buildBridge(
      factsWithLocation: DataFrame, dimLocation: DataFrame): DataFrame = {
    // Parse each DISTINCT location string once, then map facts to the
    // parsed triples via a broadcast null-safe join: the location
    // vocabulary (crawler city/district strings) is orders of magnitude
    // smaller than the fact table, so this replaces a per-fact-row
    // parse UDF with a per-distinct-string one. If the vocabulary ever
    // outgrew broadcast size, drop the hint and AQE picks a shuffle
    // join — semantics unchanged.
    val locs = factsWithLocation.select("location").distinct()
      .select(col("location").as("__loc"),
        explode(LocationFns.parseJobLocation(col("location"))).as("loc"))
      .select(col("__loc"), col("loc.province").as("province"),
        col("loc.city").as("city"), col("loc.district").as("district"))
    val exploded = factsWithLocation
      .join(broadcast(locs), col("location") <=> col("__loc"))
      .select(col("fact_id"), col("province"), col("city"), col("district"))
    val dim = broadcast(dimLocation
      .select(col("location_sk"), col("province").as("__p"), col("city").as("__c"),
        col("district").as("__d")))
    val unknownSk = dimLocation
      .filter(col("city") === "Unknown" && col("province").isNull && col("district").isNull)
      .agg(min(col("location_sk")).as("__unknown_sk"))
    exploded
      .join(dim,
        col("province") <=> col("__p") && col("city") <=> col("__c") &&
          col("district") <=> col("__d"),
        "left")
      .crossJoin(broadcast(unknownSk))
      .withColumn("location_sk", coalesce(col("location_sk"), col("__unknown_sk")))
      .select("fact_id", "location_sk")
      .dropDuplicates("fact_id", "location_sk")
  }
}
