package graft.queries

import graft.Tables
import graft.llm.Sketches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical / mining operators over the events+orders tables: the
  * analytics a large-scale data platform layers on top of the
  * relational core — time-decayed scoring, robust outlier detection,
  * independence testing, association mining, sketch-based distinct
  * counting, BFS reachability, skyline.
  *
  * Oracle-parity follows the established discipline (QueryDef header):
  * every floating-point reduction either sums exactly-representable
  * values (dyadic rationals, exact-int products) or rounds each term
  * to 12dp and sums as DECIMAL(28,12), so the reduction order cannot
  * leak engine differences; every scalar chain is built from single
  * IEEE ops on identical operands, which both engines round
  * identically.
  *
  * ref: sql/views.sql analytic views + etl_validator.py outlier checks
  * motivate the family; the operators themselves extend the engine
  * beyond the reference per the round brief.
  */
object StatQueries {

  private def d28(c: Column): Column = c.cast(DecimalType(28, 12))

  /** A37's oracle, also q_st10's: the streamed registers equal the
    * batch sketch, so both answer this closed form.
    */
  private[queries] def hllDistinctOracle: Option[String] = Some(
    """WITH h AS (SELECT event_type,
      |    CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |         AS UBIGINT) AS BIGINT) AS h
      |  FROM events),
      |b AS (SELECT event_type, CAST(h >> 26 AS INT) AS idx, h & 67108863 AS rem
      |      FROM h),
      |r AS (SELECT event_type, idx,
      |    max(CASE WHEN rem = 0 THEN 27 ELSE 27 - length(bin(rem)) END) AS m
      |  FROM b GROUP BY 1, 2),
      |g AS (SELECT et.event_type, gs.i
      |      FROM (SELECT DISTINCT event_type FROM events) et
      |      CROSS JOIN generate_series(0, 63) gs(i)),
      |reg AS (SELECT g.event_type, coalesce(r.m, 0) AS m
      |        FROM g LEFT JOIN r ON r.event_type = g.event_type AND r.idx = g.i),
      |z AS (SELECT event_type,
      |    sum(1.0 / CAST(CAST(1 AS BIGINT) << m AS DOUBLE)) AS z,
      |    count(*) FILTER (WHERE m = 0) AS v FROM reg GROUP BY 1),
      |est AS (SELECT event_type, v,
      |    (0.7213 / (1 + 1.079 / 64)) * 4096 / z AS e_raw FROM z),
      |fin AS (SELECT event_type,
      |    CASE WHEN e_raw <= 160.0 AND v > 0 THEN 64 * ln(64.0 / v)
      |         ELSE e_raw END AS e FROM est),
      |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events
      |      GROUP BY 1)
      |SELECT fin.event_type, x.n_exact, round(fin.e, 4) AS est,
      |round(abs(round(fin.e, 4) - x.n_exact) / x.n_exact, 4) AS rel_err
      |FROM fin JOIN x USING (event_type) ORDER BY event_type""".stripMargin)

  /** A37's answer over an HLL estimate `fin` (event_type, est_raw) and
    * exact distinct counts `x` (event_type, n_exact) — also q_st10's.
    */
  private[queries] def hllDistinctAnswer(fin: DataFrame, x: DataFrame): DataFrame =
    fin.join(broadcast(x), "event_type")
      .select(col("event_type"), col("n_exact"),
        round(col("est_raw"), 4).as("est"),
        round(abs(round(col("est_raw"), 4) - col("n_exact")) / col("n_exact"), 4)
          .as("rel_err"))
      .orderBy("event_type")

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- A31 (time-decayed engagement score)
    QueryDef(
      "q_a31_decayed_score", "A31 time-decay weighted aggregate",
      // per-type engagement with a one-week half-life relative to the
      // corpus max timestamp. The weight is value / 2^weeks — a shift
      // and one IEEE division, both exactly reproducible (no libm pow
      // whose last-ulp could differ between engines); weeks is capped
      // at 40 because 2^-40 vanishes at the 12dp term rounding anyway.
      // Shape at scale: one scalar max (broadcast) + one map-side
      // partial-aggregated groupBy — a single shuffle of G rows.
      Some("""WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
             |w AS (SELECT event_type,
             |    LEAST(CAST(floor((m.mx - epoch_us(ts)) / 604800000000.0) AS INT), 40) AS wk,
             |    value FROM events CROSS JOIN m)
             |SELECT event_type, count(*) AS n_events,
             |round(CAST(sum(CAST(round(value / CAST(CAST(1 AS BIGINT) << wk AS DOUBLE), 12)
             |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS decayed_score
             |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val mx = ev.agg(max(unix_micros(col("ts"))).as("mx"))
        ev.crossJoin(broadcast(mx))
          .withColumn("wk",
            least(floor((col("mx") - unix_micros(col("ts"))) / lit(604800000000.0))
              .cast("int"), lit(40)))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            round(sum(d28(round(col("value") /
                expr("CAST(shiftleft(CAST(1 AS BIGINT), wk) AS DOUBLE)"), 12)))
              .cast("double"), 6).as("decayed_score"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- A32 (robust outliers: median / MAD)
    QueryDef(
      "q_a32_mad_outliers", "A32 robust outlier detection (median/MAD)",
      // per-type robust z-score outlier count: |x − med| > 3·1.4826·MAD.
      // BOTH medians are exact nearest-rank order statistics computed
      // by the scale-safe two-level histogram selection
      // (operators/GroupedQuantiles — no parallelism collapse to the
      // group count, unlike a raw rank window). Every comparison chain
      // is single IEEE ops on identical operands (parquet doubles, the
      // exact median value, one literal), so the outlier set is
      // bit-identical across engines — no rounding needed before the
      // threshold compare; rounding is display-only.
      Some("""WITH e AS (SELECT event_type, value FROM events),
             |n AS (SELECT event_type, count(*) AS n FROM e GROUP BY 1),
             |r AS (SELECT event_type, value,
             |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn FROM e),
             |med AS (SELECT r.event_type, r.value AS med FROM r JOIN n USING (event_type)
             |        WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
             |d AS (SELECT e.event_type, med.med, abs(e.value - med.med) AS adev
             |      FROM e JOIN med USING (event_type)),
             |r2 AS (SELECT event_type, adev,
             |    row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn FROM d),
             |mad AS (SELECT r2.event_type, r2.adev AS mad FROM r2 JOIN n USING (event_type)
             |        WHERE rn = CAST(ceil(0.5 * n) AS BIGINT))
             |SELECT d.event_type, min(n.n) AS n, round(min(d.med), 6) AS med,
             |round(min(mad.mad), 6) AS mad,
             |count(*) FILTER (WHERE d.adev > 4.4478 * mad.mad) AS n_outliers
             |FROM d JOIN mad USING (event_type) JOIN n USING (event_type)
             |GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val e = Tables.events(s, dir).select("event_type", "value")
        val med = graft.operators.GroupedQuantiles
          .exactQuantiles(e, "event_type", "value", Seq(("med", 0.5)))
        // five consumers scan `d` (the MAD selector's four passes plus
        // the final aggregate) — checkpoint the deviation frame once
        // instead of re-running the events scan + median join per pass
        val d = e.join(broadcast(med), "event_type")
          .withColumn("adev", abs(col("value") - col("med")))
          .localCheckpoint(false)
        val mad = graft.operators.GroupedQuantiles
          .exactQuantiles(d.select("event_type", "adev"), "event_type", "adev",
            Seq(("mad", 0.5)))
        d.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(min(col("med")), 6).as("med"),
            round(min(col("mad")), 6).as("mad"),
            sum(when(col("adev") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
              .as("n_outliers"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- A33 (chi-square independence test)
    QueryDef(
      "q_a33_chisq", "A33 chi-square independence test",
      // is order priority independent of customer market segment?
      // Contingency counts are exact ints; each cell's expected value
      // is an exact-int product over one double division; the square
      // is a multiply, not libm pow; terms round to 12dp and sum as
      // DECIMAL so the 25-term reduction order cannot leak. Shape at
      // scale: fact⋈broadcast-dim, one groupBy to R·C cells, then
      // cell-count-sized math — marginals broadcast back.
      Some("""WITH j AS (SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
             |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
             |obs AS (SELECT seg, pri, count(*) AS o FROM j GROUP BY 1, 2),
             |rt AS (SELECT seg, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
             |ct AS (SELECT pri, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
             |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
             |terms AS (SELECT obs.seg, obs.pri,
             |    round((obs.o - (rt.r * ct.c) / nn.n) * (obs.o - (rt.r * ct.c) / nn.n)
             |          / ((rt.r * ct.c) / nn.n), 12) AS t
             |  FROM obs JOIN rt USING (seg) JOIN ct USING (pri) CROSS JOIN nn)
             |SELECT round(CAST(sum(CAST(t AS DECIMAL(28,12))) AS DOUBLE), 6) AS chi2,
             |(count(DISTINCT seg) - 1) * (count(DISTINCT pri) - 1) AS dof,
             |count(*) AS n_cells FROM terms""".stripMargin),
      (s, dir) => {
        val j = Tables.orders(s, dir)
          .join(broadcast(Tables.customer(s, dir)),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
        val obs = j.groupBy("seg", "pri").agg(count(lit(1)).as("o"))
        val rt = obs.groupBy("seg").agg(sum("o").as("r"))
        val ct = obs.groupBy("pri").agg(sum("o").as("c"))
        val nn = obs.agg(sum("o").as("n"))
        val ex = (col("r") * col("c")) / col("n")
        obs.join(broadcast(rt), "seg").join(broadcast(ct), "pri")
          .crossJoin(broadcast(nn))
          .withColumn("t", round((col("o") - ex) * (col("o") - ex) / ex, 12))
          .agg(round(sum(d28(col("t"))).cast("double"), 6).as("chi2"),
            ((countDistinct("seg") - 1) * (countDistinct("pri") - 1)).as("dof"),
            count(lit(1)).as("n_cells"))
      }),

    // ---------------------------------------------------------------- A34 (frequent itemset pairs / market basket)
    QueryDef(
      "q_a34_frequent_pairs", "A34 association mining (frequent pairs + lift)",
      // top co-occurring part pairs across order baskets with lift.
      // Apriori pruning is applied BEFORE pairing: only items whose
      // own support ≥ minsup can appear in a frequent pair, so the
      // quadratic within-basket self-join runs over the pruned item
      // stream (at 100 TB you additionally cap basket width — the
      // max basket here is 13, the cap is documented not needed).
      // Lift = sup·N / (f_a·f_b): exact-int products over one double
      // division — deterministic, tie-broken by ids.
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
             |freq AS (SELECT i, count(*) AS f FROM items GROUP BY 1 HAVING count(*) >= 2),
             |it2 AS (SELECT items.o, items.i, freq.f FROM items JOIN freq USING (i)),
             |pairs AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS support,
             |    min(a.f) AS fa, min(b.f) AS fb
             |  FROM it2 a JOIN it2 b ON a.o = b.o AND a.i < b.i GROUP BY 1, 2),
             |nn AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM items)
             |SELECT item_a, item_b, support,
             |round((support * nn.n) / (fa * fb), 6) AS lift
             |FROM pairs CROSS JOIN nn WHERE support >= 2
             |ORDER BY support DESC, lift DESC, item_a, item_b LIMIT 20""".stripMargin),
      (s, dir) => {
        val items = Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("i")).distinct()
        val freq = items.groupBy("i").agg(count(lit(1)).as("f"))
          .filter(col("f") >= 2)
        val it2 = items.join(freq, "i")
        val pairs = it2.select(col("o"), col("i").as("item_a"), col("f").as("fa0"))
          .join(it2.select(col("o"), col("i").as("item_b"), col("f").as("fb0")), "o")
          .filter(col("item_a") < col("item_b"))
          .groupBy("item_a", "item_b")
          .agg(count(lit(1)).as("support"), min("fa0").as("fa"), min("fb0").as("fb"))
          .filter(col("support") >= 2)
        val nn = items.agg(countDistinct("o").as("n"))
        pairs.crossJoin(broadcast(nn))
          .select(col("item_a"), col("item_b"), col("support"),
            round((col("support") * col("n")) / (col("fa") * col("fb")), 6).as("lift"))
          .orderBy(col("support").desc, col("lift").desc, col("item_a"), col("item_b"))
          .limit(20)
      }),

    // ---------------------------------------------------------------- A35 (BFS reachability / hop histogram)
    QueryDef(
      "q_a35_bfs_hops", "A35 BFS frontier expansion",
      // multi-source BFS over the strong-tie co-purchase graph (≥6
      // shared props.k — sparse on purpose: the threshold is the
      // graph family's density lever, see q_a30). Three unrolled
      // frontier rounds from the u%7=0 seed set; each round is one
      // key-partitioned edge join + one anti-join against the visited
      // set — the BSP shape that runs as ordinary shuffles at any
      // scale (unrolled here so the oracle replays it; production
      // loops with the frontier checkpointed per round, exactly like
      // the connected-components operator q_l14). Output: hop
      // histogram with -1 = not reached within 3 hops.
      Some("""WITH p AS MATERIALIZED (SELECT DISTINCT user_id AS u,
             |    CAST(props->>'$.k' AS BIGINT) AS k
             |  FROM events WHERE event_type = 'purchase'),
             |e AS MATERIALIZED (SELECT a.u AS src, b.u AS dst FROM p a JOIN p b
             |      ON a.k = b.k AND a.u <> b.u GROUP BY 1, 2 HAVING count(*) >= 6),
             |nodes AS MATERIALIZED (SELECT DISTINCT src AS u FROM e),
             |f0 AS MATERIALIZED (SELECT u FROM nodes WHERE u % 7 = 0),
             |f1 AS MATERIALIZED (SELECT DISTINCT e.dst AS u FROM e JOIN f0 ON e.src = f0.u
             |       EXCEPT SELECT u FROM f0),
             |f2 AS MATERIALIZED (SELECT DISTINCT e.dst AS u FROM e JOIN f1 ON e.src = f1.u
             |       EXCEPT (SELECT u FROM f0 UNION SELECT u FROM f1)),
             |f3 AS MATERIALIZED (SELECT DISTINCT e.dst AS u FROM e JOIN f2 ON e.src = f2.u
             |       EXCEPT (SELECT u FROM f0 UNION SELECT u FROM f1 UNION SELECT u FROM f2)),
             |lab AS (SELECT u, 0 AS hop FROM f0 UNION ALL SELECT u, 1 FROM f1
             |        UNION ALL SELECT u, 2 FROM f2 UNION ALL SELECT u, 3 FROM f3),
             |allhop AS (SELECT nodes.u, coalesce(lab.hop, -1) AS hop
             |           FROM nodes LEFT JOIN lab ON nodes.u = lab.u)
             |SELECT hop, count(*) AS n_users, min(u) AS min_user, max(u) AS max_user
             |FROM allhop GROUP BY 1 ORDER BY hop""".stripMargin),
      (s, dir) => {
        // salted skew-parallel edge build (CoPurchaseGraph scaladoc:
        // the inline form single-tasked a ~300M-pair explosion at sf1.0)
        val e = CoPurchaseGraph.strongTieEdges(s, dir, minShared = 6)
        val nodes = e.select(col("src").as("u")).distinct()
          .localCheckpoint(false)
        def expand(frontier: DataFrame, seen: DataFrame): DataFrame =
          e.join(frontier.withColumnRenamed("u", "src"), "src")
            .select(col("dst").as("u")).distinct()
            .join(seen, Seq("u"), "left_anti")
            .localCheckpoint(false) // frontiers are tiny; each feeds 2+ consumers
        val f0 = nodes.filter(col("u") % 7 === 0).localCheckpoint(false)
        val f1 = expand(f0, f0)
        val s1 = f0.union(f1)
        val f2 = expand(f1, s1)
        val s2 = s1.union(f2)
        val f3 = expand(f2, s2)
        val lab = f0.select(col("u"), lit(0).as("hop"))
          .union(f1.select(col("u"), lit(1).as("hop")))
          .union(f2.select(col("u"), lit(2).as("hop")))
          .union(f3.select(col("u"), lit(3).as("hop")))
        nodes.join(lab, Seq("u"), "left")
          .select(col("u"), coalesce(col("hop"), lit(-1)).as("hop"))
          .groupBy("hop")
          .agg(count(lit(1)).as("n_users"), min("u").as("min_user"),
            max("u").as("max_user"))
          .orderBy("hop")
      }),

    // ---------------------------------------------------------------- A36 (2-D skyline / Pareto frontier)
    QueryDef(
      "q_a36_skyline", "A36 skyline (Pareto frontier)",
      // parts not dominated on (price low, size high). The oracle is
      // the NOT EXISTS definition; the engine computes the same set
      // WITHOUT an all-pairs join or a global running-max window:
      // equal prices collapse to their max size (anything else at
      // that price is dominated), prices bucket into 64 ranges, the
      // cross-bucket prefix max runs over ≤64 rows (a bounded
      // constant, not a data-sized single partition), and the
      // within-bucket running max is a window PARTITIONED by bucket —
      // every stage is either O(bucket-count) or fully parallel. A
      // point survives iff its size strictly exceeds the max size of
      // every strictly-cheaper point.
      Some("""WITH pts AS (SELECT DISTINCT p_retailprice AS price, p_size AS size FROM part),
             |m AS (SELECT price, max(size) AS size FROM pts GROUP BY 1)
             |SELECT price, size FROM m r
             |WHERE NOT EXISTS (SELECT 1 FROM m s
             |                  WHERE s.price < r.price AND s.size >= r.size)
             |ORDER BY price""".stripMargin),
      (s, dir) => {
        val nB = 64
        val m = Tables.part(s, dir)
          .select(col("p_retailprice").as("price"), col("p_size").as("size"))
          .distinct()
          .groupBy("price").agg(max("size").as("size"))
        val st = m.agg(min("price").as("lo"), max("price").as("hi"))
        val bucketed = m.crossJoin(broadcast(st))
          .withColumn("b",
            when(col("hi") === col("lo"), lit(0)).otherwise(
              least(lit(nB - 1), greatest(lit(0),
                floor((col("price") - col("lo")) / (col("hi") - col("lo")) * nB)
                  .cast("int")))))
          .select("price", "size", "b")
        val bmax = bucketed.groupBy("b").agg(max("size").as("bm"))
        val prefW = Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1) // ≤64 rows: bounded
        val bpref = bmax.withColumn("pref", max("bm").over(prefW)).select("b", "pref")
        val locW = Window.partitionBy("b").orderBy("price")
          .rowsBetween(Window.unboundedPreceding, -1)
        bucketed.join(broadcast(bpref), "b")
          .withColumn("dom",
            greatest(coalesce(col("pref"), lit(Int.MinValue)),
              coalesce(max("size").over(locW), lit(Int.MinValue))))
          .filter(col("size") > col("dom"))
          .select("price", "size")
          .orderBy("price")
      }),

    // ---------------------------------------------------------------- A38 (grouped OLS trend)
    QueryDef(
      "q_a38_ols_trend", "A38 grouped least-squares trend",
      // per-type linear trend of value over days-since-first-event:
      // slope, intercept, r². x is a SMALL exact int (day index), so
      // sx/sxx are exact int64 sums; the y-moments round each term to
      // 12dp and sum as DECIMAL — order-independent — and the closed
      // forms are then single-op double chains identical across
      // engines (same discipline as q_a21/q_a27). One broadcast
      // scalar + one partial-aggregated groupBy at any scale.
      Some("""WITH m0 AS (SELECT min(CAST(date_trunc('day', ts) AS DATE)) AS d0 FROM events),
             |pt AS (SELECT event_type,
             |    date_diff('day', m0.d0, CAST(date_trunc('day', ts) AS DATE)) AS x,
             |    value AS y FROM events CROSS JOIN m0),
             |m AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
             |    CAST(sum(CAST(round(y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             |    CAST(sum(CAST(round(x * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             |    CAST(sum(CAST(round(y * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS syy
             |  FROM pt GROUP BY 1)
             |SELECT event_type, n,
             |round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS slope,
             |round((sy - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n, 6)
             |  AS intercept,
             |round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |  * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
             |  / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             |  * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r2
             |FROM m ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val d0 = ev.agg(min(to_date(date_trunc("day", col("ts")))).as("d0"))
        val pt = ev.crossJoin(broadcast(d0))
          .select(col("event_type"),
            datediff(to_date(date_trunc("day", col("ts"))), col("d0")).as("x"),
            col("value").as("y"))
        val m = pt.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"),
          sum(d28(round(col("y"), 12))).cast("double").as("sy"),
          sum(d28(round(col("x") * col("y"), 12))).cast("double").as("sxy"),
          sum(d28(round(col("y") * col("y"), 12))).cast("double").as("syy"))
        val nD = col("n").cast("double")
        val sxD = col("sx").cast("double")
        val num = nD * col("sxy") - sxD * col("sy")
        val den = nD * col("sxx") - sxD * col("sx")
        m.select(col("event_type"), col("n"),
            round(num / den, 6).as("slope"),
            round((col("sy") - num / den * col("sx")) / col("n"), 6).as("intercept"),
            round(num * num / (den * (nD * col("syy") - col("sy") * col("sy"))), 6)
              .as("r2"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- A39 (degree assortativity of the strong-tie graph)
    QueryDef(
      "q_a39_assortativity", "A39 degree assortativity",
      // Pearson correlation of endpoint degrees over directed edges of
      // the strong-tie graph (q_a29's ≥3-shared-keys form): do
      // well-connected users co-purchase with other well-connected
      // users? Degrees are exact ints, so ALL five moments are exact
      // int64 sums — no rounding discipline needed anywhere; r is one
      // double chain. Edge degrees attach via two key-partitioned
      // joins against the (node, degree) table.
      Some("""WITH p AS (SELECT DISTINCT user_id AS u,
             |    CAST(props->>'$.k' AS BIGINT) AS k
             |  FROM events WHERE event_type = 'purchase'),
             |e AS (SELECT a.u AS src, b.u AS dst FROM p a JOIN p b
             |      ON a.k = b.k AND a.u <> b.u GROUP BY 1, 2 HAVING count(*) >= 3),
             |d AS (SELECT src AS u, count(*) AS deg FROM e GROUP BY 1),
             |xy AS (SELECT ds.deg AS x, dd.deg AS y FROM e
             |       JOIN d ds ON ds.u = e.src JOIN d dd ON dd.u = e.dst),
             |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             |      sum(x * x) AS sxx, sum(y * y) AS syy FROM xy)
             |SELECT n,
             |round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |  / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             |         * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
             |  AS assortativity FROM m""".stripMargin),
      (s, dir) => {
        // salted skew-parallel edge build (see CoPurchaseGraph)
        val e = CoPurchaseGraph.strongTieEdges(s, dir, minShared = 3)
        val d = e.groupBy("src").agg(count(lit(1)).as("deg"))
          .localCheckpoint(false) // joined twice (src and dst endpoints)
        val xy = e
          .join(d.select(col("src"), col("deg").as("x")), "src")
          .join(d.select(col("src").as("dst"), col("deg").as("y")), "dst")
        val m = xy.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        val nD = col("n").cast("double")
        m.select(col("n"),
          round((nD * col("sxy") - col("sx").cast("double") * col("sy"))
            / sqrt((nD * col("sxx") - col("sx").cast("double") * col("sx"))
              * (nD * col("syy") - col("sy").cast("double") * col("sy"))), 6)
            .as("assortativity"))
      }),

    // ---------------------------------------------------------------- A40 (equi-depth range-partition planner)
    QueryDef(
      "q_a40_range_planner", "A40 range-partition planning (equi-depth boundaries)",
      // plan an 8-way balanced range partitioning of lineitem by
      // price: boundaries are the exact i/8 order statistics from the
      // scale-safe histogram selector (GroupedQuantiles — this is
      // precisely how a distributed sort/bucketing layout picks its
      // splits, except with exact statistics instead of a sample),
      // then every row's partition id is its count of exceeded
      // boundaries (a broadcast 7-element array + one aggregate
      // expression — no join, no shuffle beyond the final histogram).
      // The per-partition row counts SHOW the balance the plan
      // achieves.
      Some("""WITH nn AS (SELECT count(*) AS n FROM lineitem),
             |r AS (SELECT l_extendedprice AS v,
             |      row_number() OVER (ORDER BY l_extendedprice) AS rn FROM lineitem),
             |bounds AS (SELECT g.i AS i, r.v AS b
             |           FROM generate_series(1, 7) g(i) CROSS JOIN nn
             |           JOIN r ON r.rn = CAST(ceil(i * 0.125 * nn.n) AS BIGINT)),
             |a AS (SELECT l.v,
             |      (SELECT count(*) FROM bounds WHERE l.v > bounds.b) AS pid
             |      FROM (SELECT l_extendedprice AS v FROM lineitem) l)
             |SELECT CAST(pid AS INT) AS pid, count(*) AS n_rows,
             |min(v) AS min_v, max(v) AS max_v
             |FROM a GROUP BY 1 ORDER BY pid""".stripMargin),
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_extendedprice").as("v"), lit(1).as("g"))
        val qs = (1 to 7).map(i => (s"b$i", i / 8.0))
        val bounds = graft.operators.GroupedQuantiles
          .exactQuantiles(li, "g", "v", qs)
          .select(array((1 to 7).map(i => col(s"b$i")): _*).as("bs"))
        li.crossJoin(broadcast(bounds))
          .withColumn("pid",
            aggregate(col("bs"), lit(0),
              (acc, b) => acc + when(col("v") > b, 1).otherwise(0)))
          .groupBy("pid")
          .agg(count(lit(1)).as("n_rows"), min("v").as("min_v"), max("v").as("max_v"))
          .orderBy("pid")
      }),

    // ---------------------------------------------------------------- A41 (cumulative distinct users via HLL register merge)
    QueryDef(
      "q_a41_hll_cumulative", "A41 mergeable-sketch rollup (cumulative HLL)",
      // running distinct-user estimate per day by MERGING daily HLL
      // registers (register-wise max over the preceding days) — the
      // reason sketches matter at 100 TB: daily register sets are 64
      // ints, so any rollup (cumulative, sliding, per-source) is a
      // max-merge of tiny state instead of a re-scan of raw events.
      // The windows here run over (register × day) and (day) rows —
      // time-dimension-sized, never data-sized. The exact comparison
      // column needs no distinct-per-window either: a user counts on
      // their FIRST day, so cumulative exact = prefix sum of
      // first-appearance counts (itself the scalable exact form).
      Some("""WITH wd AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
             |           FROM events),
             |h AS (SELECT day, CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
             |          AS UBIGINT) AS BIGINT) AS h FROM wd),
             |b AS (SELECT day, CAST(h >> 26 AS INT) AS idx, h & 67108863 AS rem FROM h),
             |r AS (SELECT day, idx,
             |      max(CASE WHEN rem = 0 THEN 27 ELSE 27 - length(bin(rem)) END) AS m
             |      FROM b GROUP BY 1, 2),
             |days AS (SELECT DISTINCT day FROM wd),
             |g AS (SELECT days.day, gs.i FROM days CROSS JOIN generate_series(0, 63) gs(i)),
             |reg AS (SELECT g.day, g.i, coalesce(r.m, 0) AS m
             |        FROM g LEFT JOIN r ON r.day = g.day AND r.idx = g.i),
             |regc AS (SELECT day, max(m) OVER (PARTITION BY i ORDER BY day
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mc FROM reg),
             |z AS (SELECT day, sum(1.0 / CAST(CAST(1 AS BIGINT) << mc AS DOUBLE)) AS z,
             |      count(*) FILTER (WHERE mc = 0) AS v FROM regc GROUP BY 1),
             |fin AS (SELECT day, CASE WHEN e_raw <= 160.0 AND v > 0
             |          THEN 64 * ln(64.0 / v) ELSE e_raw END AS e
             |        FROM (SELECT day, v, (0.7213 / (1 + 1.079 / 64)) * 4096 / z AS e_raw
             |              FROM z) t),
             |fu AS (SELECT user_id, min(day) AS fd FROM wd GROUP BY 1),
             |pd AS (SELECT fd, count(*) AS nd FROM fu GROUP BY 1),
             |ex AS (SELECT days.day, CAST(sum(coalesce(pd.nd, 0)) OVER (ORDER BY days.day
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |         AS n_exact_cum
             |       FROM days LEFT JOIN pd ON pd.fd = days.day)
             |SELECT strftime(fin.day, '%Y-%m-%d') AS day, ex.n_exact_cum,
             |round(fin.e, 4) AS est
             |FROM fin JOIN ex ON ex.day = fin.day ORDER BY day""".stripMargin),
      (s, dir) => {
        val wd = Tables.events(s, dir)
          .select(to_date(date_trunc("day", col("ts"))).as("day"), col("user_id"))
        val r = Sketches.hllRegisters(wd, Seq("day"), "user_id")
        val days = wd.select("day").distinct().localCheckpoint(false)
        val grid = days.select(col("day"), explode(sequence(lit(0), lit(63))).as("idx"))
        val reg = grid.join(r, Seq("day", "idx"), "left")
          .select(col("day"), col("idx"), coalesce(col("m"), lit(0)).as("m"))
        val wcum = Window.partitionBy("idx").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val merged = reg.select(col("day"), col("idx"),
          max("m").over(wcum).as("m0")).withColumnRenamed("m0", "m")
        val fin = Sketches.hllEstimate(merged, Seq("day"))
          .withColumnRenamed("est_raw", "e")
        val pd = wd.groupBy("user_id").agg(min("day").as("fd"))
          .groupBy("fd").agg(count(lit(1)).as("nd"))
        val wday = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow) // D rows: bounded
        val ex = days.join(pd.withColumnRenamed("fd", "day"), Seq("day"), "left")
          .select(col("day"), coalesce(col("nd"), lit(0L)).as("nd"))
          .withColumn("n_exact_cum", sum("nd").over(wday))
        fin.join(ex, "day")
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n_exact_cum"), round(col("e"), 4).as("est"))
          .orderBy("day")
      }),

    // ---------------------------------------------------------------- A42 (day-of-week seasonality decomposition)
    QueryDef(
      "q_a42_seasonality", "A42 seasonal profile (day-of-week decomposition)",
      // per-type day-of-week value profile and its deviation from the
      // type's overall mean — the seasonal-naive decomposition a
      // monitoring pipeline runs before alerting on a daily drop. The
      // day-of-week is PURE ARITHMETIC (days-since-epoch mod 7,
      // 0 = Thursday) rather than an engine dow() function, because
      // dow numbering conventions differ across engines while integer
      // date math does not. Means are DECIMAL-summed/rounded; the
      // deviation subtracts the two ROUNDED means so both engines
      // subtract identical operands.
      Some("""WITH pt AS (SELECT event_type,
             |    CAST(date_diff('day', DATE '1970-01-01',
             |         CAST(date_trunc('day', ts) AS DATE)) % 7 AS INT) AS dow,
             |    value FROM events),
             |d AS (SELECT event_type, dow, count(*) AS n,
             |    round(CAST(sum(CAST(round(value, 12) AS DECIMAL(28,12))) AS DOUBLE)
             |          / count(*), 6) AS dow_avg
             |  FROM pt GROUP BY 1, 2),
             |o AS (SELECT event_type,
             |    round(CAST(sum(CAST(round(value, 12) AS DECIMAL(28,12))) AS DOUBLE)
             |          / count(*), 6) AS overall_avg
             |  FROM pt GROUP BY 1)
             |SELECT d.event_type, d.dow, d.n, d.dow_avg,
             |round(d.dow_avg - o.overall_avg, 6) AS dev
             |FROM d JOIN o USING (event_type)
             |ORDER BY event_type, dow""".stripMargin),
      (s, dir) => {
        val pt = Tables.events(s, dir)
          .select(col("event_type"),
            pmod(datediff(to_date(date_trunc("day", col("ts"))), lit("1970-01-01")),
              lit(7)).as("dow"),
            col("value"))
        def avg6(c: Column): Column =
          round(sum(d28(round(c, 12))).cast("double") / count(lit(1)), 6)
        val d = pt.groupBy("event_type", "dow")
          .agg(count(lit(1)).as("n"), avg6(col("value")).as("dow_avg"))
        val o = pt.groupBy("event_type").agg(avg6(col("value")).as("overall_avg"))
        d.join(broadcast(o), "event_type")
          .select(col("event_type"), col("dow"), col("n"), col("dow_avg"),
            round(col("dow_avg") - col("overall_avg"), 6).as("dev"))
          .orderBy("event_type", "dow")
      }),

    // ---------------------------------------------------------------- A37 (HyperLogLog distinct-count sketch)
    QueryDef(
      "q_a37_hll_distinct", "A37 HLL distinct sketch",
      // per-type distinct users via a 64-register HyperLogLog over the
      // 32-bit md5 hash (top 6 bits → register, rho = leading-zero
      // rank of the low 26 bits, derived via bin()-string length —
      // pure integer/string ops, identical in both engines). The
      // register state is a per-(group, register) MAX — partial
      // aggregation + trivially mergeable across partitions, days,
      // and tables: THE streaming-friendly distinct counter at
      // 100 TB. The harmonic sum adds 64 dyadic rationals 2^-m
      // (m ≤ 27), whose double sum is EXACT and order-independent, so
      // no decimal discipline is needed; the small-range correction
      // branch compares deterministic doubles. Output pairs the
      // estimate with the exact count and relative error.
      hllDistinctOracle,
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val fin = Sketches.hllEstimate(
          Sketches.hllRegisters(ev, Seq("event_type"), "user_id"), Seq("event_type"))
        val x = ev.groupBy("event_type").agg(countDistinct("user_id").as("n_exact"))
        hllDistinctAnswer(fin, x)
      }),

    // ---------------------------------------------------------------- A45 (HLL set algebra: intersection estimate)
    QueryDef(
      "q_a45_hll_set_algebra", "A45 HLL set algebra",
      // the sketch-ALGEBRA step q_a37's counter enables: estimate
      // |A ∩ B| (high-value purchasers ∩ high-value viewers) by
      // inclusion-exclusion over three HLL estimates — A, B, and the
      // union sketch, which is just the registers built over the
      // unioned rows (register-wise max). No exact distinct over A∪B
      // is ever computed at scale; the three 64-int states merge
      // across partitions/days/streams. The estimate is compared to
      // the exact intersection (the audit a sketch rollout runs at
      // small scale). Same md5-determinized registers as q_a37, so
      // the whole algebra replays in SQL.
      Some("""WITH tag AS (
             |  SELECT 'a' AS part, user_id FROM events
             |    WHERE event_type = 'purchase' AND value > 100
             |  UNION ALL SELECT 'b', user_id FROM events
             |    WHERE event_type = 'view' AND value > 100
             |  UNION ALL SELECT 'u', user_id FROM events
             |    WHERE event_type IN ('purchase', 'view') AND value > 100),
             |h AS (SELECT part,
             |    CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
             |         AS UBIGINT) AS BIGINT) AS h
             |  FROM tag),
             |b AS (SELECT part, CAST(h >> 26 AS INT) AS idx, h & 67108863 AS rem
             |      FROM h),
             |r AS (SELECT part, idx,
             |    max(CASE WHEN rem = 0 THEN 27 ELSE 27 - length(bin(rem)) END) AS m
             |  FROM b GROUP BY 1, 2),
             |g AS (SELECT pt.part, gs.i
             |      FROM (SELECT DISTINCT part FROM tag) pt
             |      CROSS JOIN generate_series(0, 63) gs(i)),
             |reg AS (SELECT g.part, coalesce(r.m, 0) AS m
             |        FROM g LEFT JOIN r ON r.part = g.part AND r.idx = g.i),
             |z AS (SELECT part,
             |    sum(1.0 / CAST(CAST(1 AS BIGINT) << m AS DOUBLE)) AS z,
             |    count(*) FILTER (WHERE m = 0) AS v FROM reg GROUP BY 1),
             |est AS (SELECT part, v,
             |    (0.7213 / (1 + 1.079 / 64)) * 4096 / z AS e_raw FROM z),
             |fin AS (SELECT part,
             |    CASE WHEN e_raw <= 160.0 AND v > 0 THEN 64 * ln(64.0 / v)
             |         ELSE e_raw END AS e FROM est),
             |piv AS (SELECT max(CASE WHEN part = 'a' THEN e END) AS ea,
             |    max(CASE WHEN part = 'b' THEN e END) AS eb,
             |    max(CASE WHEN part = 'u' THEN e END) AS eu FROM fin),
             |x AS (SELECT count(*) AS n_exact FROM (
             |    SELECT DISTINCT user_id FROM events
             |      WHERE event_type = 'purchase' AND value > 100
             |    INTERSECT
             |    SELECT DISTINCT user_id FROM events
             |      WHERE event_type = 'view' AND value > 100) t)
             |SELECT round(ea, 4) AS est_a, round(eb, 4) AS est_b,
             |  round(eu, 4) AS est_union,
             |  round(ea + eb - eu, 4) AS est_intersection, x.n_exact,
             |  round(abs(round(ea + eb - eu, 4) - x.n_exact) / x.n_exact, 4) AS rel_err
             |FROM piv CROSS JOIN x""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val a = ev.filter(col("event_type") === "purchase" && col("value") > 100)
          .select(col("user_id"))
        val bSet = ev.filter(col("event_type") === "view" && col("value") > 100)
          .select(col("user_id"))
        val tagged = a.select(lit("a").as("part"), col("user_id"))
          .unionByName(bSet.select(lit("b").as("part"), col("user_id")))
          .unionByName(a.unionByName(bSet).select(lit("u").as("part"), col("user_id")))
        val piv = Sketches
          .hllEstimate(Sketches.hllRegisters(tagged, Seq("part"), "user_id"), Seq("part"))
          .agg(max(when(col("part") === "a", col("est_raw"))).as("ea"),
            max(when(col("part") === "b", col("est_raw"))).as("eb"),
            max(when(col("part") === "u", col("est_raw"))).as("eu"))
        val x = a.distinct().join(bSet.distinct(), "user_id")
          .agg(count(lit(1)).as("n_exact"))
        piv.crossJoin(broadcast(x)) // 1 row: the exact audit count
          .select(round(col("ea"), 4).as("est_a"), round(col("eb"), 4).as("est_b"),
            round(col("eu"), 4).as("est_union"),
            round(col("ea") + col("eb") - col("eu"), 4).as("est_intersection"),
            col("n_exact"),
            round(abs(round(col("ea") + col("eb") - col("eu"), 4) - col("n_exact"))
              / col("n_exact"), 4).as("rel_err"))
      }),

    // ---------------------------------------------------------------- A46 (winsorized robust moments)
    QueryDef(
      "q_a46_winsorized_stats", "A46 winsorized robust stats",
      // robust per-type value moments: clip at the EXACT p05/p95
      // nearest-rank order statistics (two-level histogram selection —
      // thresholds broadcast back, no per-group sort window), then
      // population mean/std over the clipped values via decimal raw
      // moments (Σv, Σv² rounded per element — order-independent, so
      // both engines agree exactly). The outlier-flagging complement
      // of q_a32's MAD: A32 finds the tails, A46 reports moments with
      // the tails neutralized.
      Some("""WITH t AS (SELECT event_type, value,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY value, event_id) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM events),
             |th AS (SELECT event_type,
             |    max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT) THEN value END) AS p05,
             |    max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN value END) AS p95
             |  FROM t GROUP BY 1),
             |w AS (SELECT e.event_type,
             |    least(greatest(e.value, th.p05), th.p95) AS v
             |  FROM events e JOIN th ON e.event_type = th.event_type),
             |m AS (SELECT event_type, count(*) AS n,
             |    CAST(sum(CAST(round(v, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sv,
             |    CAST(sum(CAST(round(v * v, 6) AS DECIMAL(28,6))) AS DOUBLE) AS svv
             |  FROM w GROUP BY 1)
             |SELECT m.event_type, m.n, round(th.p05, 2) AS p05, round(th.p95, 2) AS p95,
             |  round(m.sv / m.n, 6) AS wins_mean,
             |  round(sqrt(m.svv / m.n - (m.sv / m.n) * (m.sv / m.n)), 6) AS wins_std
             |FROM m JOIN th ON m.event_type = th.event_type
             |ORDER BY m.event_type""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val th = graft.operators.GroupedQuantiles.exactQuantiles(
          ev, "event_type", "value", Seq("p05" -> 0.05, "p95" -> 0.95))
        val m = ev
          .join(broadcast(th), "event_type")
          .withColumn("v", least(greatest(col("value"), col("p05")), col("p95")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("v"), 6).cast(DecimalType(28, 6))).cast("double").as("sv"),
            sum(round(col("v") * col("v"), 6).cast(DecimalType(28, 6))).cast("double")
              .as("svv"),
            first(col("p05")).as("p05"), first(col("p95")).as("p95"))
        m.select(col("event_type"), col("n"),
            round(col("p05"), 2).as("p05"), round(col("p95"), 2).as("p95"),
            round(col("sv") / col("n"), 6).as("wins_mean"),
            round(sqrt(col("svv") / col("n")
              - (col("sv") / col("n")) * (col("sv") / col("n"))), 6).as("wins_std"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- A47 (distribution drift: PSI)
    QueryDef(
      "q_a47_psi_drift", "A47 PSI distribution drift",
      // the monitoring op every deployed pipeline runs: population
      // stability index of each event type's value distribution
      // against the 'view' reference — 10 equal-width bins on
      // [0, 500), Laplace-smoothed shares (c+0.5)/(n+5), PSI =
      // Σ (p−p_ref)·ln(p/p_ref). Per-bin terms come from exact
      // integer counts (identical doubles both engines), rounded 10dp
      // and summed as DECIMAL. PSI < 0.1 = stable; the click type's
      // longer tail (max 490 vs view's 337) reads as real drift.
      // Scale shape: one binning pass, 10-row-per-group grids,
      // broadcast reference.
      Some("""WITH b AS (SELECT event_type,
             |    least(9, greatest(0, CAST(floor(value / 50.0) AS INT))) AS bin
             |  FROM events),
             |c AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2),
             |n AS (SELECT event_type, sum(c) AS n FROM c GROUP BY 1),
             |grid AS (SELECT n.event_type, gs.i AS bin, n.n,
             |    coalesce(c.c, 0) AS c
             |  FROM n CROSS JOIN generate_series(0, 9) gs(i)
             |  LEFT JOIN c ON c.event_type = n.event_type AND c.bin = gs.i),
             |p AS (SELECT event_type, bin, (c + 0.5) / (n + 5.0) AS p FROM grid),
             |ref AS (SELECT bin, p AS pr FROM p WHERE event_type = 'view'),
             |terms AS (SELECT p.event_type, p.bin,
             |    CAST(round((p.p - ref.pr) * ln(p.p / ref.pr), 10)
             |         AS DECIMAL(28,10)) AS t
             |  FROM p JOIN ref ON p.bin = ref.bin
             |  WHERE p.event_type <> 'view')
             |SELECT event_type, round(CAST(sum(t) AS DOUBLE), 6) AS psi
             |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val c = ev
          .select(col("event_type"),
            least(lit(9), greatest(lit(0), floor(col("value") / 50.0).cast("int")))
              .as("bin"))
          .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
        val n = c.groupBy("event_type").agg(sum(col("c")).as("n"))
        val grid = n
          .select(col("event_type"), col("n"),
            explode(sequence(lit(0), lit(9))).as("bin"))
          .join(c, Seq("event_type", "bin"), "left")
          .select(col("event_type"), col("bin"),
            ((coalesce(col("c"), lit(0L)) + 0.5) / (col("n") + 5.0)).as("p"))
        val ref = grid.filter(col("event_type") === "view")
          .select(col("bin"), col("p").as("pr"))
        grid.filter(col("event_type") =!= "view")
          .join(broadcast(ref), "bin")
          .select(col("event_type"),
            round((col("p") - col("pr")) * log(col("p") / col("pr")), 10)
              .cast(DecimalType(28, 10)).as("t"))
          .groupBy("event_type")
          .agg(round(sum(col("t")).cast("double"), 6).as("psi"))
          .orderBy("event_type")
      }),

    // ---------------------------------------------------------------- A48 (Kaplan-Meier survival)
    QueryDef(
      "q_a48_survival_km", "A48 Kaplan-Meier survival",
      // time-to-event analysis: days from each user's first signup to
      // first subsequent purchase, censored at a 7-day observation
      // window — the Kaplan-Meier estimator S(d) = Π (1 − e/r) with
      // real censored mass (users converting later never enter the
      // event counts but leave the risk set only at the cutoff).
      // Per-day factors come from exact integer (events, at-risk)
      // counts; ln terms are rounded 12dp and cumulated as DECIMAL
      // over the DAY axis (a bounded time-grid window, never
      // row-scale); risk-set exhaustion (e = r) pins survival to an
      // exact 0 instead of ln(0). Scale shape: two per-user aggregates
      // + an 8-row grid.
      Some("""WITH t0 AS (SELECT user_id, min(ts) AS t0 FROM events
             |  WHERE event_type = 'signup' GROUP BY 1),
             |te AS (SELECT t0.user_id, min(e.ts) AS te FROM t0
             |  JOIN events e ON e.user_id = t0.user_id
             |    AND e.event_type = 'purchase' AND e.ts >= t0.t0 GROUP BY 1),
             |dur AS (SELECT t0.user_id,
             |    CASE WHEN te.te IS NOT NULL AND datediff('day', t0.t0, te.te) <= 7
             |         THEN datediff('day', t0.t0, te.te) END AS d_event
             |  FROM t0 LEFT JOIN te USING (user_id)),
             |days AS (SELECT unnest(generate_series(0, 7)) AS day),
             |e AS (SELECT day, count(d.user_id) AS ev
             |  FROM days LEFT JOIN dur d ON d.d_event = days.day GROUP BY day),
             |tot AS (SELECT count(*) AS n FROM dur),
             |r AS (SELECT e.day, e.ev,
             |    tot.n - coalesce(sum(e.ev) OVER (ORDER BY e.day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
             |  FROM e CROSS JOIN tot),
             |km AS (SELECT day, ev, at_risk,
             |    CAST(sum(CASE WHEN at_risk > ev
             |        THEN CAST(round(ln(1.0 - CAST(ev AS DOUBLE) / at_risk), 12)
             |             AS DECIMAL(28,12))
             |        ELSE CAST(0 AS DECIMAL(28,12)) END)
             |      OVER (ORDER BY day) AS DOUBLE) AS lnsum,
             |    max(CASE WHEN ev = at_risk AND ev > 0 THEN 1 ELSE 0 END)
             |      OVER (ORDER BY day) AS dead
             |  FROM r)
             |SELECT day, ev AS n_events, CAST(at_risk AS BIGINT) AS n_at_risk,
             |  CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(lnsum), 6) END AS survival
             |FROM km ORDER BY day""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val t0 = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("t0"))
        val te = t0.join(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts")), Seq("user_id"))
          .filter(col("ts") >= col("t0"))
          .groupBy("user_id").agg(min(col("ts")).as("te"))
        val dur = t0.join(te, Seq("user_id"), "left")
          .select(col("user_id"),
            when(col("te").isNotNull && datediff(col("te"), col("t0")) <= 7,
              datediff(col("te"), col("t0"))).as("d_event"))
        val days = s.range(0, 8).select(col("id").cast("int").as("day"))
        val e = days.join(dur, col("d_event") === col("day"), "left")
          .groupBy("day").agg(count(col("user_id")).as("ev"))
        val tot = dur.agg(count(lit(1)).as("n"))
        val wPrev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy("day")
        val r = e.crossJoin(broadcast(tot)) // 1 row: cohort size
          .withColumn("at_risk",
            col("n") - coalesce(sum(col("ev")).over(wPrev), lit(0L)))
        r.withColumn("lnsum",
            sum(when(col("at_risk") > col("ev"),
              round(log(lit(1.0) - col("ev").cast("double") / col("at_risk")), 12)
                .cast(DecimalType(28, 12)))
              .otherwise(lit(0).cast(DecimalType(28, 12)))).over(wCum).cast("double"))
          .withColumn("dead",
            max(when(col("ev") === col("at_risk") && col("ev") > 0, 1).otherwise(0))
              .over(wCum))
          .select(col("day"), col("ev").as("n_events"),
            col("at_risk").cast("long").as("n_at_risk"),
            when(col("dead") === 1, 0.0).otherwise(round(exp(col("lnsum")), 6))
              .as("survival"))
          .orderBy("day")
      }),

    // ---------------------------------------------------------------- A49 (drift time series: daily PSI)
    QueryDef(
      "q_a49_psi_timeseries", "A49 PSI drift time series",
      // q_a47's monitor as a TIME SERIES: each day's purchase-value
      // distribution scored against the first day's baseline — the
      // daily drift dashboard a production pipeline alerts on. Same
      // 10-bin/Laplace/decimal-term construction; the baseline day's
      // own row reads exactly 0 (the built-in sanity check). One
      // binning pass over the fact stream; the grid is days×10 rows.
      Some("""WITH b AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             |    least(9, greatest(0, CAST(floor(value / 50.0) AS INT))) AS bin
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT day, bin, count(*) AS c FROM b GROUP BY 1, 2),
             |n AS (SELECT day, sum(c) AS n FROM c GROUP BY 1),
             |grid AS (SELECT n.day, gs.i AS bin, n.n, coalesce(c.c, 0) AS c
             |  FROM n CROSS JOIN generate_series(0, 9) gs(i)
             |  LEFT JOIN c ON c.day = n.day AND c.bin = gs.i),
             |p AS (SELECT day, bin, n, (c + 0.5) / (n + 5.0) AS p FROM grid),
             |ref AS (SELECT bin, p AS pr FROM p
             |  WHERE day = (SELECT min(day) FROM p)),
             |terms AS (SELECT p.day, p.n,
             |    CAST(round((p.p - ref.pr) * ln(p.p / ref.pr), 10)
             |         AS DECIMAL(28,10)) AS t
             |  FROM p JOIN ref ON p.bin = ref.bin)
             |SELECT day, CAST(min(n) AS BIGINT) AS n,
             |  round(CAST(sum(t) AS DOUBLE), 6) AS psi
             |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val c = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
            least(lit(9), greatest(lit(0), floor(col("value") / 50.0).cast("int")))
              .as("bin"))
          .groupBy("day", "bin").agg(count(lit(1)).as("c"))
        val n = c.groupBy("day").agg(sum(col("c")).as("n"))
        val grid = n
          .select(col("day"), col("n"), explode(sequence(lit(0), lit(9))).as("bin"))
          .join(c, Seq("day", "bin"), "left")
          .select(col("day"), col("bin"), col("n"),
            ((coalesce(col("c"), lit(0L)) + 0.5) / (col("n") + 5.0)).as("p"))
          .localCheckpoint(false) // baseline row + all days read it
        val refDay = grid.agg(min(col("day")).as("d0"))
        val ref = grid.join(broadcast(refDay), col("day") === col("d0"))
          .select(col("bin"), col("p").as("pr"))
        grid
          .join(broadcast(ref), "bin")
          .select(col("day"), col("n"),
            round((col("p") - col("pr")) * log(col("p") / col("pr")), 10)
              .cast(DecimalType(28, 10)).as("t"))
          .groupBy("day")
          .agg(min(col("n")).cast("long").as("n"),
            round(sum(col("t")).cast("double"), 6).as("psi"))
          .select(col("day"), col("n"), col("psi"))
          .orderBy("day")
      }),

    // ---------------------------------------------------------------- A43 (mergeable histogram quantile sketch)
    QueryDef(
      "q_a43_quantile_sketch", "A43 mergeable quantile sketch A10",
      // the quantile member of the mergeable-sketch family (HLL =
      // distincts, Count-Min = frequencies): ≤1024 bucket counts per
      // group over a fixed [0, 512000) price range, quantile = first
      // bucket whose cumulative count reaches rank ceil(q·n),
      // reported as the bucket midpoint (error ≤ one bucket width ≈
      // 500). Counts merge by addition, so the same sketch is legal
      // streaming state (q_st14) and a rollup-able partial — where
      // the exact path (q_a10b's two-level selection) re-scans per
      // query. Deterministic bucket/midpoint arithmetic replays
      // bit-for-bit in the oracle.
      Some("""WITH b AS (SELECT o_orderstatus,
             |    least(1023, greatest(0,
             |      CAST(floor((o_totalprice - 0.0) / 512000.0 * 1024) AS INT))) AS hb
             |  FROM orders),
             |h AS (SELECT o_orderstatus, hb, count(*) AS c FROM b GROUP BY 1, 2),
             |c AS (SELECT o_orderstatus, hb, c,
             |        sum(c) OVER (PARTITION BY o_orderstatus ORDER BY hb) AS cum,
             |        sum(c) OVER (PARTITION BY o_orderstatus) AS n
             |      FROM h),
             |q AS (SELECT * FROM (VALUES ('p50', 0.5), ('p95', 0.95), ('p99', 0.99))
             |      AS t(q_name, qf)),
             |sel AS (SELECT o_orderstatus, q_name, min(hb) AS b, min(n) AS n
             |        FROM c CROSS JOIN q WHERE cum >= ceil(qf * n)
             |        GROUP BY 1, 2)
             |SELECT o_orderstatus, q_name,
             |  0.0 + (b + 0.5) * 512000.0 / 1024 AS est,
             |  CAST(n AS BIGINT) AS n
             |FROM sel ORDER BY o_orderstatus, q_name""".stripMargin),
      (s, dir) => {
        val sk = Sketches.histogramSketch(Tables.orders(s, dir),
          Seq("o_orderstatus"), "o_totalprice", lo = 0.0, hi = 512000.0, buckets = 1024)
        Sketches.sketchQuantiles(sk, Seq("o_orderstatus"),
            Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99)),
            lo = 0.0, hi = 512000.0, buckets = 1024)
          .select("o_orderstatus", "q_name", "est", "n")
          .orderBy("o_orderstatus", "q_name")
      }),

    // ---------------------------------------------------------------- A50 (k-core decomposition by iterative peeling)
    QueryDef(
      "q_a50_kcore", "A50 k-core peeling (graph degeneracy)",
      // k-core extraction over the strong-tie co-purchase graph
      // (q_a30/q_a35's edge build, ≥6 shared props.k): repeatedly
      // drop nodes whose degree WITHIN the surviving set is < k.
      // Four peel rounds are unrolled so the oracle replays them;
      // production loops to fixpoint with the survivor set
      // checkpointed per round — each round is one semi-join of the
      // edge list against the survivors on BOTH endpoints plus one
      // key-partitioned degree count, the same BSP shuffle shape as
      // q_a35's frontier expansion, so a round's cost scales with the
      // surviving edge count and never materializes anything
      // node-quadratic. Output is the per-round peel trace (survivor
      // count, directed active-edge count, id checksum) — the curve a
      // scheduler reads to size community extraction.
      Some("""WITH p AS MATERIALIZED (SELECT DISTINCT user_id AS u,
             |    CAST(props->>'$.k' AS BIGINT) AS k
             |  FROM events WHERE event_type = 'purchase'),
             |e AS MATERIALIZED (SELECT a.u AS src, b.u AS dst FROM p a JOIN p b
             |      ON a.k = b.k AND a.u <> b.u GROUP BY 1, 2 HAVING count(*) >= 6),
             |s0 AS MATERIALIZED (SELECT DISTINCT src AS u FROM e),
             |d1 AS MATERIALIZED (SELECT e.src AS u, count(*) AS deg FROM e
             |  JOIN s0 a ON e.src = a.u JOIN s0 b ON e.dst = b.u GROUP BY 1),
             |s1 AS MATERIALIZED (SELECT u FROM d1 WHERE deg >= 3),
             |d2 AS MATERIALIZED (SELECT e.src AS u, count(*) AS deg FROM e
             |  JOIN s1 a ON e.src = a.u JOIN s1 b ON e.dst = b.u GROUP BY 1),
             |s2 AS MATERIALIZED (SELECT u FROM d2 WHERE deg >= 3),
             |d3 AS MATERIALIZED (SELECT e.src AS u, count(*) AS deg FROM e
             |  JOIN s2 a ON e.src = a.u JOIN s2 b ON e.dst = b.u GROUP BY 1),
             |s3 AS MATERIALIZED (SELECT u FROM d3 WHERE deg >= 3),
             |d4 AS MATERIALIZED (SELECT e.src AS u, count(*) AS deg FROM e
             |  JOIN s3 a ON e.src = a.u JOIN s3 b ON e.dst = b.u GROUP BY 1),
             |s4 AS MATERIALIZED (SELECT u FROM d4 WHERE deg >= 3),
             |tr AS (
             |  SELECT 1 AS round, (SELECT count(*) FROM s1) AS n_nodes,
             |    (SELECT CAST(coalesce(sum(deg), 0) AS BIGINT) FROM d1) AS active_edges,
             |    (SELECT CAST(coalesce(sum(u), 0) AS BIGINT) FROM s1) AS sum_u
             |  UNION ALL SELECT 2, (SELECT count(*) FROM s2),
             |    (SELECT CAST(coalesce(sum(deg), 0) AS BIGINT) FROM d2),
             |    (SELECT CAST(coalesce(sum(u), 0) AS BIGINT) FROM s2)
             |  UNION ALL SELECT 3, (SELECT count(*) FROM s3),
             |    (SELECT CAST(coalesce(sum(deg), 0) AS BIGINT) FROM d3),
             |    (SELECT CAST(coalesce(sum(u), 0) AS BIGINT) FROM s3)
             |  UNION ALL SELECT 4, (SELECT count(*) FROM s4),
             |    (SELECT CAST(coalesce(sum(deg), 0) AS BIGINT) FROM d4),
             |    (SELECT CAST(coalesce(sum(u), 0) AS BIGINT) FROM s4))
             |SELECT round, n_nodes, active_edges, sum_u FROM tr ORDER BY round""".stripMargin),
      (s, dir) => {
        val k = 3
        val e = CoPurchaseGraph.strongTieEdges(s, dir, minShared = 6)
        var surv = e.select(col("src").as("u")).distinct().localCheckpoint(false)
        val rounds = (1 to 4).map { r =>
          // degree within the surviving subgraph: semi-join both ends
          val deg = e
            .join(surv.withColumnRenamed("u", "src"), Seq("src"), "left_semi")
            .join(surv.withColumnRenamed("u", "dst"), Seq("dst"), "left_semi")
            .groupBy(col("src").as("u")).agg(count(lit(1)).as("deg"))
            .localCheckpoint(false) // feeds the trace row AND the next round
          surv = deg.filter(col("deg") >= k).select("u").localCheckpoint(false)
          val stats = deg.agg(coalesce(sum("deg"), lit(0L)).as("active_edges"))
          surv.agg(count(lit(1)).as("n_nodes"),
              coalesce(sum("u"), lit(0L)).as("sum_u"))
            .crossJoin(stats)
            .select(lit(r).as("round"), col("n_nodes"), col("active_edges"),
              col("sum_u"))
        }
        rounds.reduce(_.union(_)).orderBy("round")
      }),

    // ---------------------------------------------------------------- A53 (A/B analysis with CUPED)
    QueryDef(
      "q_a53_cuped", "A53 experiment analysis (CUPED variance reduction)",
      // controlled-experiment readout with CUPED (Deng et al., WSDM
      // 2013): users are split by id parity, the metric is each
      // user's experiment-period value sum and the covariate is their
      // PRE-period sum; theta = Cov(X,Y)/Var(X) from the moment sums,
      // and the adjusted mean subtracts theta·(X̄_v − X̄) per variant.
      // Oracle-parity discipline: X, Y and all four moment sums
      // (ΣX, ΣY, ΣX², ΣXY) are DECIMAL aggregates of exact 2-dp
      // values — order-independent and identical in both engines —
      // and theta/means are then a fixed chain of single IEEE ops on
      // those exact operands, so the doubles match bit-for-bit before
      // the final round(6). At 100 TB: one shuffle to the per-user
      // grain, then a two-row broadcast of the global moments — the
      // classic map-side-heavy experiment-analysis shape.
      Some("""WITH u AS (
             |  SELECT user_id, user_id % 2 AS variant,
             |    sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
             |             THEN CAST(value AS DECIMAL(18,2))
             |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
             |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
             |             THEN CAST(value AS DECIMAL(18,2))
             |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
             |  FROM events GROUP BY 1, 2),
             |g AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n,
             |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             |    CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(x*y) AS DOUBLE) AS sxy
             |  FROM u),
             |t AS (SELECT (sxy - sx*sy/n) / (sxx - sx*sx/n) AS theta, sx/n AS mx FROM g)
             |SELECT variant, count(*) AS n_users,
             |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS mean_y,
             |  round((CAST(sum(y) AS DOUBLE)
             |         - t.theta * (CAST(sum(x) AS DOUBLE) - count(*) * t.mx))
             |        / count(*), 6) AS mean_adj,
             |  round(t.theta, 6) AS theta
             |FROM u CROSS JOIN t GROUP BY variant, t.theta, t.mx
             |ORDER BY variant""".stripMargin),
      (s, dir) => {
        val split = lit("2024-01-15 00:00:00").cast("timestamp")
        val zero = lit(BigDecimal("0.00")).cast(DecimalType(18, 2))
        val u = Tables.events(s, dir)
          .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
          .agg(
            sum(when(col("ts") < split, col("value").cast(DecimalType(18, 2)))
              .otherwise(zero)).as("x"),
            sum(when(col("ts") >= split, col("value").cast(DecimalType(18, 2)))
              .otherwise(zero)).as("y"))
        val g = u.agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("x") * col("y")).cast("double").as("sxy"))
        val t = g.select(
          ((col("sxy") - col("sx") * col("sy") / col("n"))
            / (col("sxx") - col("sx") * col("sx") / col("n"))).as("theta"),
          (col("sx") / col("n")).as("mx"))
        u.crossJoin(broadcast(t))
          .groupBy("variant", "theta", "mx")
          .agg(count(lit(1)).as("n_users"),
            sum(col("x")).cast("double").as("svx"),
            sum(col("y")).cast("double").as("svy"))
          .select(col("variant"), col("n_users"),
            round(col("svy") / col("n_users"), 6).as("mean_y"),
            round((col("svy") - col("theta") * (col("svx") - col("n_users") * col("mx")))
              / col("n_users"), 6).as("mean_adj"),
            round(col("theta"), 6).as("theta"))
          .orderBy("variant")
      }),

    // ---------------------------------------------------------------- A54 (Poisson bootstrap CI)
    QueryDef(
      "q_a54_bootstrap", "A54 resampling (deterministic Poisson bootstrap CI)",
      // bootstrap confidence interval for the mean order price via the
      // POISSON bootstrap (Chamandy et al., "Estimating Uncertainty
      // for Massive Data Streams", Google 2012): instead of drawing n
      // indices per replicate (which needs a global dense index — a
      // driver-side or single-partition rank at scale), every row
      // independently contributes multiplicity m ~ Poisson(1) to each
      // replicate, so a replicate is ONE scan with map-side partial
      // aggregation into B groups and the only shuffle is B rows wide.
      // Determinism/oracle-parity: the uniform draw is the Knuth
      // scramble s = ((k·B + b)·2654435761) mod 2^32 (exact BIGINT
      // arithmetic in both engines) and m is the Poisson(1) inverse
      // CDF as a CASE chain against floor(cdf·2^32) BIGINT literals —
      // bit-exact integer compares, no libm. Replicate means are then
      // exact DECIMAL sums divided as one IEEE op, and the 95% CI is
      // the (3rd, 50th, 98th) order statistic of the B=100 means
      // (rank over 100 rows — trivially small). At 100 TB: n·B
      // intermediate rows never shuffle (partial agg per partition);
      // the whole job is one pass over orders.
      Some("""WITH draws AS (
             |  SELECT b, o_totalprice AS price,
             |    ((o_orderkey * 100 + b) * 2654435761) % 4294967296 AS s
             |  FROM orders CROSS JOIN (SELECT unnest(generate_series(0, 99)) AS b)),
             |m AS (
             |  SELECT b, price,
             |    CASE WHEN s < 1580030168 THEN 0 WHEN s < 3160060337 THEN 1
             |         WHEN s < 3950075421 THEN 2 WHEN s < 4213413783 THEN 3
             |         WHEN s < 4279248373 THEN 4 WHEN s < 4292415291 THEN 5
             |         WHEN s < 4294609777 THEN 6 WHEN s < 4294923276 THEN 7
             |         ELSE 8 END AS m
             |  FROM draws),
             |rep AS (
             |  SELECT b, CAST(sum(m) AS BIGINT) AS n_eff,
             |    round(CAST(sum(m * CAST(price AS DECIMAL(18,2))) AS DOUBLE)
             |          / CAST(sum(m) AS DOUBLE), 6) AS mean_b
             |  FROM m GROUP BY b),
             |ranked AS (
             |  SELECT b, n_eff, mean_b,
             |    row_number() OVER (ORDER BY mean_b, b) AS rank_b
             |  FROM rep)
             |SELECT b, n_eff, mean_b, CAST(rank_b AS INT) AS rank_b,
             |  (rank_b >= 3 AND rank_b <= 98) AS in_ci95
             |FROM ranked ORDER BY b""".stripMargin),
      (s, dir) => {
        // the single-file orders scan yields 1-2 partitions and the
        // ×100 replicate explode + decimal partial agg ran serially
        // (measured 9.2 cpuSec on 4 tasks — a parallelism collapse);
        // widenByFiles spreads the scan metadata-only (q_l43 precedent)
        val reps = graft.SparkUtil.widenByFiles(
          Tables.orders(s, dir)
            .select(col("o_orderkey").as("k"), col("o_totalprice").as("price")))
          .withColumn("b", explode(sequence(lit(0L), lit(99L))))
          .withColumn("s",
            pmod((col("k") * 100L + col("b")) * 2654435761L, lit(4294967296L)))
          .withColumn("m",
            when(col("s") < 1580030168L, 0L).when(col("s") < 3160060337L, 1L)
              .when(col("s") < 3950075421L, 2L).when(col("s") < 4213413783L, 3L)
              .when(col("s") < 4279248373L, 4L).when(col("s") < 4292415291L, 5L)
              .when(col("s") < 4294609777L, 6L).when(col("s") < 4294923276L, 7L)
              .otherwise(8L))
          // m = 0 rows (≈37% of n·B) contribute exactly 0 to both sums
          // — drop them before the aggregate touches the decimal math.
          // ASSUMPTION (ADVICE r14): every replicate b keeps ≥1 row
          // with m > 0, else that b's group would vanish where the
          // oracle keeps an n_eff=0 row. P(all n orders draw m=0 for
          // one b) = e^{-n}; at the smallest gate SF n ≈ 1500, so the
          // 100-row shape is safe by ~650 orders of magnitude.
          .filter(col("m") > 0L)
          .groupBy("b")
          .agg(sum("m").cast("long").as("n_eff"),
            round(sum(col("m") * col("price").cast(DecimalType(18, 2))).cast("double")
              / sum("m").cast("double"), 6).as("mean_b"))
        reps
          .withColumn("rank_b",
            row_number().over(Window.orderBy("mean_b", "b")).cast("int"))
          .withColumn("in_ci95", col("rank_b") >= 3 && col("rank_b") <= 98)
          .orderBy("b")
      }),

    // ---------------------------------------------------------------- A55 (Holt double-exponential trend)
    QueryDef(
      "q_a55_holt_trend", "A55 time-series forecast (Holt linear trend)",
      // Holt's double exponential smoothing over the daily event-value
      // series: level l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}), trend
      // b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} with α=0.5, β=0.25,
      // classic init (l₁=y₁, b₁=y₂−y₁), one-step in-sample fits
      // ŷ_t = l_{t−1}+b_{t−1} and a 7-day out-of-sample forecast
      // l_T + h·b_T. Architecture is the aggregate-then-model shape:
      // ONE distributed shuffle reduces the corpus to |days| exact
      // DECIMAL(18,2) daily sums; the recursion is inherently
      // sequential scalar state, so it runs driver-side over ≤ 31
      // rows. Oracle-parity: every step is small exact decimal
      // arithmetic (α/β are exact decimal literals) with the state
      // re-rounded HALF-UP to 2 dp — replayed bit-for-bit by a
      // recursive CTE, so one mis-smoothed day diverges every later
      // level/trend and the hash. At 100 TB the daily-agg scan is the
      // entire cost; the model is O(|days|) driver arithmetic.
      Some("""WITH RECURSIVE daily AS MATERIALIZED (
             |  SELECT CAST(date_part('day', ts) AS INT) AS t,
             |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
             |  FROM events GROUP BY 1),
             |base AS (SELECT d1.y AS y1, d2.y AS y2
             |         FROM daily d1, daily d2 WHERE d1.t = 1 AND d2.t = 2),
             |tm AS (SELECT max(t) AS tmax FROM daily),
             |rec AS (
             |  SELECT 1 AS t, CAST(y1 AS DECIMAL(18,2)) AS l,
             |         CAST(y2 - y1 AS DECIMAL(18,2)) AS b FROM base
             |  UNION ALL
             |  SELECT d.t,
             |    CAST(round(0.5 * d.y + 0.5 * (r.l + r.b), 2) AS DECIMAL(18,2)),
             |    CAST(round(0.25 * (round(0.5 * d.y + 0.5 * (r.l + r.b), 2) - r.l)
             |               + 0.75 * r.b, 2) AS DECIMAL(18,2))
             |  FROM rec r JOIN daily d ON d.t = r.t + 1),
             |fits AS (
             |  SELECT d.t, CAST(d.y AS DOUBLE) AS y,
             |         CAST(r.l + r.b AS DOUBLE) AS yhat
             |  FROM daily d LEFT JOIN rec r ON r.t = d.t - 1),
             |fc AS (
             |  SELECT tm.tmax + h AS t, CAST(NULL AS DOUBLE) AS y,
             |         CAST(r.l + h * r.b AS DOUBLE) AS yhat
             |  FROM rec r, tm, (SELECT unnest(generate_series(1, 7)) AS h)
             |  WHERE r.t = tm.tmax)
             |SELECT CAST(t AS INT) AS t, y, yhat FROM fits
             |UNION ALL SELECT CAST(t AS INT), y, yhat FROM fc
             |ORDER BY t""".stripMargin),
      (s, dir) => {
        import java.math.{BigDecimal => JBD, RoundingMode}
        val daily = Tables.events(s, dir)
          .groupBy(dayofmonth(col("ts")).as("t"))
          .agg(sum(col("value").cast(DecimalType(18, 2)))
            .cast(DecimalType(18, 2)).as("y"))
          .collect() // ≤ 31 rows: one per day of the event month
          .map(r => r.getInt(0) -> r.getDecimal(1))
          .sortBy(_._1)
        require(daily.length >= 2 &&
          daily.map(_._1).sameElements(1 to daily.length),
          s"daily series must be contiguous from day 1: ${daily.map(_._1).toSeq}")
        val y = daily.map(_._2)
        val tMax = y.length
        def r2(x: JBD): JBD = x.setScale(2, RoundingMode.HALF_UP)
        val half = new JBD("0.5")
        val (qr, thr) = (new JBD("0.25"), new JBD("0.75"))
        val levels = new Array[JBD](tMax + 1)
        val trends = new Array[JBD](tMax + 1)
        levels(1) = y(0)
        trends(1) = y(1).subtract(y(0))
        for (t <- 2 to tMax) {
          val prev = levels(t - 1).add(trends(t - 1))
          levels(t) = r2(half.multiply(y(t - 1)).add(half.multiply(prev)))
          trends(t) = r2(qr.multiply(levels(t).subtract(levels(t - 1)))
            .add(thr.multiply(trends(t - 1))))
        }
        val fits = (1 to tMax).map { t =>
          val yhat = if (t == 1) None
            else Some(levels(t - 1).add(trends(t - 1)).doubleValue)
          (t, Some(y(t - 1).doubleValue): Option[Double], yhat)
        }
        val fc = (1 to 7).map { h =>
          (tMax + h, None: Option[Double],
            Some(levels(tMax).add(new JBD(h).multiply(trends(tMax))).doubleValue))
        }
        import s.implicits._
        (fits ++ fc).toDF("t", "y", "yhat").orderBy("t")
      })
  )
}
