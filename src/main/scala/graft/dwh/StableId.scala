package graft.dwh

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Distributed stable surrogate-key assignment (SURVEY §7.4(1)).
  *
  * The naive `row_number().over(Window.orderBy(...))` funnels the whole
  * table through ONE task — fine for a dimension batch, fatal for a
  * fact table at the 100 TB design point. This assigner produces the
  * exact same dense ids (`base+1 .. base+N` in the total order of
  * `orderCols`) with no single-partition stage and exactly one shuffle
  * of the data:
  *
  *   1. range-repartition on the order columns + sort within each
  *      partition, then `localCheckpoint()` — the checkpoint
  *      materializes the partitions, so the sampled range boundaries
  *      and the row order are PINNED: every downstream consumer reads
  *      the same physical rows. (This is the fix for the
  *      exchange-reuse hazard: without it, the offsets and the data
  *      side could re-sample range boundaries independently and
  *      disagree on partition ids.)
  *   2. one job over the pinned partitions stores their blocks and
  *      returns each partition's row count to the driver; the
  *      exclusive running sum of those counts is each partition's
  *      offset.
  *   3. id = base + offset(partition) + position-within-partition, with
  *      the offsets as an array literal indexed by
  *      `spark_partition_id()`. The position comes from
  *      `monotonically_increasing_id()` (partition id in the upper
  *      bits, record index in the lower 33) on the checkpointed, sorted
  *      partitions — no aggregate, window, join or second exchange in
  *      any reader's plan: a reader scans the stored blocks and
  *      projects.
  *
  * Because partitions are contiguous ranges of the same total order,
  * the result equals the global row_number regardless of where the
  * boundaries fall; ties across a boundary still number consistently
  * (earlier range first — tie order inside a window is arbitrary in the
  * global-window formulation too). Determinism across re-runs holds
  * when `orderCols` is a (near-)unique ordering, same as the reference's
  * requirement on its sequences (etl_utils.py:364-433).
  *
  * Scale note: `localCheckpoint` persists to executor memory/disk —
  * the same storage cost as the shuffle it pins. On a cluster with
  * preemptible executors, swap for a reliable `checkpoint()` dir; the
  * id semantics are unchanged. The driver receives one long per
  * partition, and the offsets literal in every reader's plan holds
  * the same ≤ #partitions longs (a few KB at thousands of partitions).
  */
object StableId {

  /** Number a frame whose partitions are contiguous ranges of the id
    * order with rows sorted inside each: checkpoint it, count each
    * pinned partition in the one job that stores its blocks, then
    * base + offset + local position.
    */
  private def numberArranged(arranged: DataFrame, idCol: String, base: Long): DataFrame = {
    require(!arranged.columns.contains(idCol),
      s"StableId.assign: input already has a '$idCol' column")
    val pinned = arranged.localCheckpoint(false)
    val offsets = partitionCounts(pinned).scanLeft(0L)(_ + _).init
    val pid = spark_partition_id()
    pinned.withColumn(idCol,
      // monotonically_increasing_id = (pid << 33) + 0-based record
      // index within the partition; subtract the pid part to recover
      // the local position in the checkpointed sort order
      (lit(base) + typedLit(offsets).getItem(pid) +
        (monotonically_increasing_id() - shiftleft(pid.cast("long"), 33)) + lit(1L))
        .cast("long"))
  }

  /** Row count of each partition of a `localCheckpoint(false)` frame,
    * by partition index. The job computes the pinned partitions, so the
    * checkpoint's blocks are stored by it and readers scan them.
    */
  private def partitionCounts(pinned: DataFrame): Array[Long] =
    pinned.queryExecution.analyzed match {
      case r: LogicalRDD =>
        r.rdd.sparkContext.runJob(r.rdd, (rows: Iterator[_]) => rows.foldLeft(0L)((n, _) => n + 1))
      case other =>
        throw new IllegalStateException(s"StableId: expected a checkpointed frame, got\n$other")
    }

  def assign(df: DataFrame, orderCols: Seq[Column], idCol: String, base: Long): DataFrame =
    numberArranged(
      df.repartitionByRange(orderCols: _*).sortWithinPartitions(orderCols: _*),
      idCol, base)

  /** `assign` for inputs that are ALREADY range-partitioned and sorted
    * in the id order (e.g. a dedup window that just shuffled on the
    * same keys) — skips the repartition+sort, so the caller's exchange
    * and the id assignment are ONE data shuffle instead of two. The
    * caller owns the invariant: partitions must be contiguous key
    * ranges with rows sorted inside (a `repartitionByRange` +
    * `sortWithinPartitions` upstream, with only order-preserving
    * narrow ops — filter/project — in between).
    */
  def assignPrearranged(df: DataFrame, idCol: String, base: Long): DataFrame =
    numberArranged(df, idCol, base)

  /** Assign ids continuing after `max(existing(existingIdCol))` (or
    * `defaultBase` when `existing` is empty) — the incremental-batch
    * form of the reference's sequences. The max rides a broadcast 1-row
    * aggregate; no driver collect.
    */
  def assignAfterMax(
      df: DataFrame, orderCols: Seq[Column], idCol: String,
      existing: DataFrame, existingIdCol: String, defaultBase: Long): DataFrame = {
    val baseDf = existing.agg(
      coalesce(max(col(existingIdCol)).cast("long"), lit(defaultBase)).as("__sid_base"))
    assign(df, orderCols, idCol, 0L)
      .crossJoin(broadcast(baseDf))
      .withColumn(idCol, (col(idCol) + col("__sid_base")).cast("long"))
      .drop("__sid_base")
  }
}
