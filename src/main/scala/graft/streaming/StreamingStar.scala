package graft.streaming

import graft.app.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ingestion of the SAME daily pipeline (SURVEY §2.9's
  * stretch goal, made concrete): each micro-batch of staging-shaped
  * rows is applied onto the running star via
  * `Pipeline.incrementalBatch` — so streaming and batch share one code
  * path and one set of semantics (SCD2 routing, identity-preserving
  * fact merge, touched-only bridge rebuild), instead of a parallel
  * streaming implementation that could drift.
  *
  * State = the star itself. `incrementalBatch` commits the tables
  * another table is planned over (the SCD2 dims, DimLocation and the
  * fact, see `Pipeline.pin`) as it builds them; `applyBatch` commits
  * the two it leaves lazy (DimDate and the bridge) and checkpoints
  * nothing twice. Every commit is eager, so each state table is a
  * `LogicalRDD` over checkpointed blocks and the lineage does not grow
  * across batches — the streaming analogue of the reference's per-run
  * warehouse commit. `asOfForBatch` pins event-time per micro-batch
  * (deterministic replay in tests; wall-clock in production).
  *
  * At scale this runs with foreachBatch writing dynamic-overwrite
  * parquet partitions instead of holding frames — the composition is
  * identical, only the sink changes.
  */
final class StreamingStar(initial: Pipeline.Dwh, asOfForBatch: Long => String) {

  @volatile private var current: Pipeline.Dwh = initial

  /** The star as of the last completed micro-batch. */
  def dwh: Pipeline.Dwh = current

  /** Commit what `incrementalBatch` left unpinned: DimDate and the
    * bridge.
    */
  private def materialize(d: Pipeline.Dwh): Pipeline.Dwh =
    d.copy(dimDate = d.dimDate.localCheckpoint(), bridge = d.bridge.localCheckpoint())

  /** Apply one micro-batch (also usable directly in tests). Emptiness
    * is tested on the pinned staging, which the batch then reads, so
    * the parse chain runs once.
    */
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val staging = Pipeline.pinStaging(batch)
    if (!staging.isEmpty) {
      current = materialize(Pipeline.applyStaging(current, staging, asOfForBatch(batchId)))
    }
  }

  /** Start consuming a staging-shaped stream. */
  def start(stagingStream: DataFrame): StreamingQuery =
    stagingStream.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, id: Long) => applyBatch(batch, id))
      .start()
}
