package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Descending, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortDirection, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  BroadcastDistribution, ClusteredDistribution, Distribution,
  IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{array, col, explode, lit, pmod, when, xxhash64}
import org.apache.spark.sql.types.DataType

/** The as-of join as a FIRST-CLASS Catalyst operator — the SURVEY §7.3
  * option-(c) toolchain end to end: a custom `LogicalPlan` node, a
  * `SparkStrategy` planning it, and a `SparkPlan` executing a streaming
  * SORT-MERGE as-of — registered on live sessions through
  * `GraftColumnBridge.addStrategy` (the runtime counterpart of
  * `SparkSessionExtensions.injectPlannerStrategy`).
  *
  * Semantics: for each left row, the right row with the greatest
  * rightTs <= leftTs in its key group (backward) or the smallest
  * rightTs >= leftTs (forward); ties rightTs == leftTs admit the right
  * row; right rows tying on (keys, ts) resolve to the lexicographically
  * greatest payload — enforced by appending the remaining orderable
  * right columns to the required child ordering; null timestamps follow
  * each direction's default null ordering (first in backward/asc, last
  * in forward/desc). q_w4 (backward) and q_w4c (forward) pin the
  * answer to DuckDB's native ASOF JOIN.
  *
  * Why a physical operator and not a DataFrame composition: the
  * union + running-`last` window form (kept in src/test as
  * `ComposedAsOf`, the witness NativeAsOfJoinSpec compares against)
  * widens every right payload column onto every left row and buffers
  * a window frame over |L|+|R| rows. The native exec keeps the sides
  * separate until the merge instant: EnsureRequirements hash-partitions
  * BOTH children on the keys (`ClusteredDistribution` pair — the same
  * co-partitioning contract SortMergeJoinExec declares) and sorts each
  * side by (keys, ts), and `doExecute` then streams the two sorted
  * iterators with O(1) state per partition — one candidate row — never
  * materializing a group.
  *
  * Scale: one hash exchange + one sort per side, and the merge is a
  * single forward pass. A hot key is one task's merge, as for every
  * key-clustered operator; `NativeAsOfJoin.joinAsOfBackwardSalted`
  * spreads its left rows over salt sub-keys.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    forward: Boolean) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Statistics-driven physical choice, exactly like Spark's own join
  * selection: a right side whose estimated size fits the session's
  * `spark.sql.autoBroadcastJoinThreshold` plans as
  * `BroadcastAsOfJoinExec` — the left side then needs NO exchange and
  * NO sort at all (the 100 TB "events versus a bounded state history"
  * shape); anything larger falls back to the co-partitioned sort-merge
  * `AsOfJoinExec`.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, fwd) =>
      val threshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val exec =
        if (threshold > 0 && r.stats.sizeInBytes <= threshold)
          BroadcastAsOfJoinExec(lk, rk, lts, rts, fwd, planLater(l), planLater(r))
        else
          AsOfJoinExec(lk, rk, lts, rts, fwd, planLater(l), planLater(r))
      exec :: Nil
    case _ => Nil
  }
}

/** What the sort-merge and broadcast as-of execs share: the type checks,
  * the right side's within-key order and the admit rule.
  */
private[plans] object AsOfExecs {

  /** Both sides' ts types and key types must be equal: key comparison
    * is UnsafeRow-binary (or a left-typed ordering), so a mismatch would
    * silently mis-compare instead of erroring.
    */
  def requireSameTypes(
      leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
      leftTs: Attribute, rightTs: Attribute): Unit = {
    require(rightTs.dataType == leftTs.dataType,
      s"as-of timestamp types must match: ${leftTs.dataType} vs ${rightTs.dataType}")
    require(rightKeys.map(_.dataType) == leftKeys.map(_.dataType),
      s"as-of key types must match: ${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")
  }

  def tsDirection(forward: Boolean): SortDirection = if (forward) Descending else Ascending

  /** Within a key: ts in merge direction, then the remaining orderable
    * right columns ascending, so rows tying on (keys, ts) have a
    * DETERMINISTIC last element — the same field-wise-greatest rule
    * the window form's `__p` tiebreaker implements.
    */
  def rightOrder(
      rightKeys: Seq[Attribute], rightTs: Attribute, rightOut: Seq[Attribute],
      forward: Boolean): Seq[SortOrder] =
    SortOrder(rightTs, tsDirection(forward)) +:
      rightOut.filterNot(a => rightKeys.contains(a) || a == rightTs)
        .filter(a => RowOrdering.isOrderable(a.dataType))
        .map(SortOrder(_, Ascending))

  /** admits(r, l) = "this right ts sorts at-or-before the left ts in
    * the merge order". Backward (ts asc, nulls FIRST): null right ts
    * always admits, null left ts admits only null rights. Forward (ts
    * desc, nulls LAST): mirrored — identical to the window form's
    * default null ordering in each direction.
    */
  def admits(tsType: DataType, forward: Boolean): (Any, Any) => Boolean = {
    val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
    if (forward) (r, l) => (l == null) || (r != null && tsOrd.compare(r, l) >= 0)
    else (r, l) => (r == null) || (l != null && tsOrd.compare(r, l) <= 0)
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute, forward: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // the merge preserves the left side's row distribution and order
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** Both sides sorted by (keys, ts); the right side additionally by
    * its remaining orderable columns (`AsOfExecs.rightOrder`).
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, AsOfExecs.tsDirection(forward)),
    rightKeys.map(SortOrder(_, Ascending)) ++
      AsOfExecs.rightOrder(rightKeys, rightTs, right.output, forward))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTs = leftTs
    val rTs = rightTs
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    AsOfExecs.requireSameTypes(leftKeys, rightKeys, leftTs, rightTs)
    val allOut = output
    val fwd = forward
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lTsBound = BindReferences.bindReference[Expression](lTs, lOut)
      val rTsBound = BindReferences.bindReference[Expression](rTs, rOut)
      val admits = AsOfExecs.admits(tsType, fwd)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(allOut, allOut)
      val rBuffered = rIter.buffered
      var candidate: InternalRow = null
      var candidateKey: InternalRow = null
      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTsVal = lTsBound.eval(lRow)
        // candidate from a previous (smaller) key is stale
        if (candidateKey != null && keyOrd.compare(candidateKey, lKey) != 0) {
          candidate = null; candidateKey = null
        }
        var advancing = true
        while (advancing && rBuffered.hasNext) {
          val rRow = rBuffered.head
          val rKey = rKeyProj(rRow)
          val c = keyOrd.compare(rKey, lKey)
          if (c < 0) { rBuffered.next() } // behind this key: discard
          else if (c == 0 && admits(rTsBound.eval(rRow), lTsVal)) {
            candidate = rBuffered.next().copy()
            candidateKey = lKey.copy()
          } else advancing = false // ahead (key or ts): stop for this left row
        }
        resultProj(joined(lRow, if (candidate != null) candidate else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast form of the as-of: the right side ships whole to every
  * task (EnsureRequirements inserts the BroadcastExchange to satisfy
  * `BroadcastDistribution`), each task groups it by key into
  * ts-sorted arrays once, and every left row answers with one hash
  * lookup + one binary search — the LEFT SIDE IS NEVER SHUFFLED OR
  * SORTED. Same admit/tie/null semantics as the sort-merge exec: the
  * per-key arrays sort by (ts in merge direction, remaining orderable
  * payload columns asc), under which the admitted region is a PREFIX
  * and its last element is the match.
  *
  * The per-task index build is the IdentityBroadcastMode trade (the
  * same one BroadcastNestedLoopJoin makes); a prebuilt HashedRelation
  * broadcast mode is the upgrade path if index construction ever
  * shows up in profiles — for a dimension-sized history it does not.
  */
case class BroadcastAsOfJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute, forward: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution ::
      BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTs = leftTs
    val rTs = rightTs
    val fwd = forward
    val tsType = leftTs.dataType
    AsOfExecs.requireSameTypes(leftKeys, rightKeys, leftTs, rightTs)
    val allOut = output
    // within a key: the sort-merge exec's right child ordering
    val rightOrder = AsOfExecs.rightOrder(rKeys, rTs, rOut, fwd)
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions { lIter =>
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val rowOrd = RowOrdering.create(rightOrder, rOut)
      val index = new java.util.HashMap[InternalRow,
        scala.collection.mutable.ArrayBuffer[InternalRow]]()
      broadcastRows.value.foreach { row =>
        val k = rKeyProj(row)
        var bucket = index.get(k)
        if (bucket == null) {
          bucket = new scala.collection.mutable.ArrayBuffer[InternalRow](4)
          index.put(k.copy(), bucket)
        }
        bucket += row
      }
      index.values().forEach(b => b.sortInPlace()(rowOrd.on[InternalRow](identity)))
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val lTsBound = BindReferences.bindReference[Expression](lTs, lOut)
      val rTsBound = BindReferences.bindReference[Expression](rTs, rOut)
      val admits = AsOfExecs.admits(tsType, fwd)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(allOut, allOut)
      lIter.map { lRow =>
        val bucket = index.get(lKeyProj(lRow))
        var matched: InternalRow = null
        if (bucket != null) {
          val lTsVal = lTsBound.eval(lRow)
          // admitted rows form a prefix of the sorted bucket; binary
          // search the LAST admitted index
          var lo = 0
          var hi = bucket.length - 1
          var best = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (admits(rTsBound.eval(bucket(mid)), lTsVal)) { best = mid; lo = mid + 1 }
            else hi = mid - 1
          }
          if (best >= 0) matched = bucket(best)
        }
        resultProj(joined(lRow, if (matched != null) matched else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API over the native operator. */
object NativeAsOfJoin {

  /** Backward as-of: left columns unchanged, the right timestamp and
    * payload columns of each left row's nearest-earlier match
    * appended as `prefix`-prefixed nullable columns (null: no match).
    */
  def joinAsOfBackward(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      prefix: String = "asof_"): DataFrame =
    joinImpl(left, right, keys, leftTs, rightTs, payloadCols, prefix,
      forward = false)

  /** Forward (nearest-later) as-of, same output shape: smallest
    * rightTs >= leftTs per key, ties admitted.
    */
  def joinAsOfForward(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      prefix: String = "asof_"): DataFrame =
    joinImpl(left, right, keys, leftTs, rightTs, payloadCols, prefix,
      forward = true)

  /** Hot-key-safe backward as-of, the way `Skew.saltedJoin` salts
    * joins: left rows scatter over `saltBuckets` deterministic
    * sub-keys (xxhash64 of the whole row, so identical duplicate rows
    * still agree), right rows REPLICATE to every sub-key, and the
    * as-of runs on (keys, salt). Every left row still sees its key's
    * full right history, so the result is row-for-row identical to
    * [[joinAsOfBackward]]; on the sort-merge exec the hot key's left
    * rows now spread over `saltBuckets` tasks instead of one merge.
    *
    * Cost: the right side ships ×saltBuckets — the right trade when
    * the left side dominates (events vs. a bounded state history).
    * Keep `saltBuckets` modest (8-32) and salt only when a
    * key-frequency probe says the top key breaches task-size comfort.
    */
  def joinAsOfBackwardSalted(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      prefix: String = "asof_", saltBuckets: Int = 16): DataFrame = {
    require(saltBuckets > 1, "saltBuckets must be > 1 (use joinAsOfBackward instead)")
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col): _*), lit(saltBuckets)).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    joinAsOfBackward(
      saltedLeft, saltedRight, keys :+ "__salt", leftTs, rightTs, payloadCols, prefix)
      .drop("__salt")
  }

  private def joinImpl(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      prefix: String, forward: Boolean): DataFrame = {
    val spark: SparkSession = left.sparkSession
    GraftColumnBridge.addStrategy(spark, AsOfJoinStrategy)
    GraftColumnBridge.addOptimizerRule(spark, PushFilterThroughAsOfJoin)
    GraftColumnBridge.addOptimizerRule(spark, PruneColumnsThroughAsOfJoin)
    // project the right side down to keys + ts + payload FIRST (the
    // node's output carries every right column, so pruning must happen
    // below it — Catalyst leaves unknown nodes unpruned), and ALIAS
    // every right column: aliases mint fresh attribute ids, so a right
    // side derived from the same base frame as the left cannot collide
    // (the analyzer's relation dedup only knows built-in binary nodes)
    val rCols = (keys ++ (rightTs +: payloadCols).distinct).distinct
    val rPruned = right.select(rCols.map(c => col(c).as(s"__r_$c")): _*)
    val lPlan = GraftColumnBridge.analyzed(left)
    val rPlan = GraftColumnBridge.analyzed(rPruned)
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(a => spark.sessionState.conf.resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(
          s"as-of column '$name' not found in ${plan.output.map(_.name)}"))
    val node = AsOfJoinNode(
      lPlan, rPlan,
      keys.map(resolve(lPlan, _)), keys.map(k => resolve(rPlan, s"__r_$k")),
      resolve(lPlan, leftTs), resolve(rPlan, s"__r_$rightTs"), forward)
    // fail eagerly at the API (the execs re-check at runtime): binary
    // key equality is only sound over identical types
    require(node.leftKeys.map(_.dataType) == node.rightKeys.map(_.dataType),
      s"as-of join key types must match between sides: " +
        s"${node.leftKeys.map(a => s"${a.name}:${a.dataType.simpleString}")} vs " +
        s"${node.rightKeys.map(a => s"${a.name}:${a.dataType.simpleString}")}")
    require(node.leftTs.dataType == node.rightTs.dataType,
      s"as-of timestamp types must match: ${node.leftTs.dataType} vs ${node.rightTs.dataType}")
    val joined = GraftColumnBridge.ofRows(spark, node)
    // select by the node's attributes (ids are unique by construction);
    // right positions looked up by NAME in rCols so a payload column
    // that is also a key (deduped in rCols) still maps correctly
    val attrs = node.output
    val sel =
      left.columns.indices.map(i =>
        GraftColumnBridge.column(attrs(i)).as(left.columns(i))) ++
        (rightTs +: payloadCols).distinct.map { n =>
          GraftColumnBridge.column(attrs(left.columns.length + rCols.indexOf(n)))
            .as(s"$prefix$n")
        }
    joined.select(sel: _*)
  }

  /** Point-in-time (validity-interval) join: attach the right-side
    * version whose [validFrom, validTo) interval covers each left
    * row's timestamp — the SCD2 "which dimension version was current
    * when this fact happened" lookup. Backward as-of on validFrom, then
    * matches whose validTo had already passed are voided to null
    * (gapped version histories); a null validTo is open-ended (the
    * SCD2 current row).
    */
  def joinPointInTime(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, validFrom: String, validTo: String,
      payloadCols: Seq[String], prefix: String = "pit_"): DataFrame = {
    val joined = joinAsOfBackward(left, right, keys, leftTs, validFrom,
      (payloadCols :+ validTo).distinct, prefix)
    // materialize the flag BEFORE voiding: the first voided column is
    // validTo itself, and re-deriving the predicate from the already-
    // nulled column would spare every later column
    val flagged = joined.withColumn("__expired",
      col(s"$prefix$validTo").isNotNull && col(s"$prefix$validTo") <= col(leftTs))
    ((validFrom +: validTo +: payloadCols).distinct)
      .foldLeft(flagged) { (df, c) =>
        df.withColumn(s"$prefix$c",
          when(col("__expired"), lit(null).cast(df.schema(s"$prefix$c").dataType))
            .otherwise(col(s"$prefix$c")))
      }
      .drop("__expired")
  }
}
