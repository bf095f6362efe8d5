package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared edge build for the strong-tie co-purchase graph family
  * (q_a30 triangles, q_a35 BFS, q_a39 assortativity, q_a42 pagerank,
  * q_a44 label propagation): directed (src, dst) user pairs sharing
  * ≥ minShared distinct props.k values among their purchases — and
  * the graph measures that more than one query runs over it.
  *
  * Scale shape — found live in the round-12 sf1.0 sweep: props.k has
  * only ~100 distinct values, so the pair generation is a heavy-key
  * self-join whose OUTPUT grows quadratically with users-per-k while
  * its INPUT stays tiny. AQE partitions the post-join stage by the
  * map-output SIZE estimate, sees a few MB, and coalesces to a
  * single task — which then generates and partially aggregates the
  * entire explosion on one core (observed: one 15-minute 100%-CPU
  * task at sf1.0, ~300M generated pairs; the same plan is
  * milliseconds at sf0.01). The fix is the standard salted skew
  * join: the src side splits every k-group into `salts` hash
  * sub-groups and the dst side replicates `salts`×, so generation
  * AND the map-side (src,dst) partial aggregation spread across
  * k·salts tasks no matter what AQE estimates. Pair volume is
  * unchanged — quadratic-per-group is this operator's definition;
  * the density threshold `minShared` is the documented lever — but
  * the work is now embarrassingly parallel and the per-task share
  * shrinks with the task count.
  *
  * The SQL oracle is untouched: salting changes execution layout,
  * never the (src, dst, shared-count) algebra.
  */
object CoPurchaseGraph {

  /** Distinct (user, k) purchase incidences. */
  def purchaseKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .distinct()

  /** Directed strong-tie edges (src, dst), localCheckpoint-pinned —
    * every caller consumes the edge list at least twice.
    */
  def strongTieEdges(spark: SparkSession, dir: String, minShared: Int,
      salts: Int = 16): DataFrame =
    strongTieEdgesPlan(spark, dir, minShared, salts).localCheckpoint(false)

  /** The edge build WITHOUT the lineage-truncating checkpoint —
    * callers use [[strongTieEdges]]; this exists so PlanSpec can
    * assert the salted-join layout (the user-pinned REPARTITION_BY_NUM
    * exchange on (k, __salt)) that the checkpoint would hide.
    */
  private[graft] def strongTieEdgesPlan(spark: SparkSession, dir: String,
      minShared: Int, salts: Int = 16): DataFrame =
    edgesFromKeys(spark, purchaseKeys(spark, dir), minShared, salts)

  /** The salted pair build over an arbitrary (u, k) incidence frame —
    * shared by the exact build and the capped variant below.
    */
  private def edgesFromKeys(spark: SparkSession, p: DataFrame,
      minShared: Int, salts: Int): DataFrame = {
    require(minShared >= 1, s"strongTieEdges: minShared must be >= 1, got $minShared")
    require(salts >= 1, s"strongTieEdges: salts must be >= 1, got $salts")
    // explicit partition count: a USER-specified repartition is the
    // one exchange AQE will not coalesce, so the join that reuses
    // this layout keeps its width however small the input estimate is
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val srcSide = p.select(col("u").as("src"), col("k"))
      .withColumn("__salt", pmod(xxhash64(col("src")), lit(salts.toLong)))
      .repartition(nParts, col("k"), col("__salt"))
    val dstSide = p.select(col("u").as("dst"), col("k"))
      .withColumn("__salt",
        explode(sequence(lit(0L), lit(salts.toLong - 1))))
    srcSide.join(dstSide, Seq("k", "__salt"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
      .select("src", "dst")
  }

  /** Knuth multiplicative-hash tiebreak for the contribution cap:
    * deterministic, pseudo-random (so the cap doesn't systematically
    * keep low ids), and exactly replayable in ANSI SQL —
    * `(u * 2654435761) % 4294967296` — which is what lets the capped
    * variant keep a full DuckDB oracle. Bijective on u < 2³² (the
    * multiplier is odd), so collisions can't make the order partial;
    * u itself is still the formal secondary key.
    */
  private[graft] def capTiebreak(u: Column): Column =
    pmod(u * lit(2654435761L), lit(4294967296L))

  /** The documented 100×-scale mitigation for this family's intrinsic
    * quadratic: cap every k-group's CONTRIBUTION to `cap` users before
    * pairing, chosen by the deterministic pseudo-random tiebreak above.
    * Pair volume is then bounded by |k| · cap² regardless of corpus
    * size — the standard industrial lever (top-k co-purchases per
    * basket) for when the exact Σ n_k² build is no longer affordable.
    *
    * The cap itself is computed scalably: a per-(k, salt) top-cap
    * window first (partitions bounded by users-per-k ÷ salts), then a
    * per-k top-cap over the ≤ salts·cap survivors. Because both phases
    * use the same TOTAL order, the two-phase result equals the
    * single-window form the oracle replays — at no point does one task
    * see a whole hot k-group.
    */
  def strongTieEdgesCapped(spark: SparkSession, dir: String, minShared: Int,
      cap: Int, salts: Int = 16): DataFrame =
    strongTieEdgesCappedPlan(spark, dir, minShared, cap, salts)
      .localCheckpoint(false)

  private[graft] def strongTieEdgesCappedPlan(spark: SparkSession, dir: String,
      minShared: Int, cap: Int, salts: Int = 16): DataFrame = {
    require(cap >= 1, s"strongTieEdgesCapped: cap must be >= 1, got $cap")
    val p = purchaseKeys(spark, dir)
    val tb = capTiebreak(col("u"))
    val w1 = Window.partitionBy(col("k"),
      pmod(xxhash64(col("u")), lit(salts.toLong))).orderBy(tb, col("u"))
    val w2 = Window.partitionBy(col("k")).orderBy(tb, col("u"))
    val capped = p
      .withColumn("__rn", row_number().over(w1)).filter(col("__rn") <= cap)
      .withColumn("__rn", row_number().over(w2)).filter(col("__rn") <= cap)
      .select("u", "k")
    edgesFromKeys(spark, capped, minShared, salts)
  }

  /** Two Lloyd-style UNROLLED PageRank iterations (d = 0.85) over a
    * symmetric edge list `e` (src, dst) — no dangling nodes — as the
    * top 20 (user_id, pagerank) by pagerank desc, user_id (q_a29,
    * q_a29b). Each neighbor sum adds 12dp-rounded DECIMAL
    * contributions and each iteration's pr is re-rounded to 12dp, so
    * both engines iterate on identical operands. Each iteration is
    * one key-partitioned join+agg round.
    */
  def twoStepPageRank(e: DataFrame): DataFrame = {
    val d = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false) // consumed by pr0 + both iterations
    def iterate(pr: DataFrame): DataFrame =
      e.join(d, "src")
        .join(pr.select(col("u").as("src"), col("pr")), Seq("src"))
        .groupBy(col("dst").as("u"))
        .agg(round(lit(0.15) + lit(0.85) *
          sum(round(col("pr") / col("deg"), 12).cast(DecimalType(28, 12)))
            .cast("double"), 12).as("pr"))
    val pr0 = d.select(col("src").as("u"), lit(1.0).as("pr"))
    iterate(iterate(pr0))
      .select(col("u").as("user_id"), round(col("pr"), 6).as("pagerank"))
      .orderBy(col("pagerank").desc, col("user_id"))
      .limit(20)
  }

  /** Oracle CTEs of [[twoStepPageRank]] over the oracle's edge CTE `e`
    * and degree CTE `d`, ending in its answer.
    */
  /** Oracle CTEs p → pc → `edges` (src, dst): the purchase-key graph
    * with each k-group capped to its 16 lowest-scrambled users, user
    * pairs sharing ≥ `minShared` keys ([[strongTieEdgesCapped]];
    * q_a29b, q_a30b).
    */
  def cappedEdgesOracleCtes(edges: String, minShared: Int): String =
    s"""WITH p AS MATERIALIZED (SELECT DISTINCT user_id AS u,
       |    CAST(props->>'$$.k' AS BIGINT) AS k
       |  FROM events WHERE event_type = 'purchase'),
       |pc AS MATERIALIZED (SELECT u, k FROM (SELECT u, k,
       |    row_number() OVER (PARTITION BY k
       |      ORDER BY (u * 2654435761) % 4294967296, u) AS rn
       |  FROM p) WHERE rn <= 16),
       |$edges AS MATERIALIZED (SELECT a.u AS src, b.u AS dst
       |      FROM pc a JOIN pc b ON a.k = b.k AND a.u <> b.u
       |      GROUP BY 1, 2 HAVING count(*) >= $minShared)""".stripMargin

  val pageRankOracleTail: String =
    """pr1 AS (SELECT e.dst AS u,
      |    round(0.15 + 0.85 * CAST(sum(CAST(round(1.0 / d.deg, 12)
      |        AS DECIMAL(28,12))) AS DOUBLE), 12) AS pr
      |  FROM e JOIN d ON e.src = d.src GROUP BY e.dst),
      |pr2 AS (SELECT e.dst AS u,
      |    round(0.15 + 0.85 * CAST(sum(CAST(round(pr1.pr / d.deg, 12)
      |        AS DECIMAL(28,12))) AS DOUBLE), 12) AS pr
      |  FROM e JOIN d ON e.src = d.src JOIN pr1 ON pr1.u = e.src
      |  GROUP BY e.dst)
      |SELECT u AS user_id, round(pr, 6) AS pagerank FROM pr2
      |ORDER BY pagerank DESC, user_id LIMIT 20""".stripMargin

  /** Triangle count and global clustering coefficient of a symmetric
    * edge list `und` (src, dst) — q_a30, q_a30b: one row (n_edges,
    * n_triangles, wedges, clustering_coeff). Each triangle counts
    * ONCE as (a<b<c) — two equi-joins over the oriented edges, no
    * per-node adjacency materialization.
    */
  def triangleStats(und: DataFrame): DataFrame = {
    val deg = und.groupBy(col("src").as("u")).agg(count(lit(1)).as("d"))
    val o = und.filter(col("src") < col("dst"))
    val tri = o.as("e1")
      .join(o.as("e2"), col("e2.src") === col("e1.dst"))
      .join(o.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .agg(count(lit(1)).as("t"))
    val wedges = deg.agg(sum(floor(col("d") * (col("d") - 1) / 2)).cast("long")
      .as("wedges"))
    val nEdges = o.agg(count(lit(1)).as("n_edges"))
    nEdges.crossJoin(broadcast(tri)).crossJoin(broadcast(wedges))
      .select(col("n_edges"), col("t").as("n_triangles"), col("wedges"),
        round(lit(3.0) * col("t") / col("wedges"), 6).as("clustering_coeff"))
  }

  /** Oracle CTEs of [[triangleStats]] over the oracle's oriented-edge
    * CTE `o` and degree CTE `deg`, ending in its answer.
    */
  val triangleOracleTail: String =
    """tri AS (SELECT count(*) AS t
      |  FROM o e1 JOIN o e2 ON e2.src = e1.dst
      |            JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |w AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS wedges FROM deg)
      |SELECT (SELECT count(*) FROM o) AS n_edges, tri.t AS n_triangles,
      |w.wedges,
      |round(3.0 * tri.t / w.wedges, 6) AS clustering_coeff
      |FROM tri CROSS JOIN w""".stripMargin
}
