package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed PCA of the embedding column: one corpus pass builds the
  * d×d covariance matrix (the n·d² kernel every whitening / SemDeDup-
  * preprocessing step needs), then fixed-count power iterations extract
  * the top principal component against the BROADCAST matrix — nothing
  * corpus-sized moves after the covariance aggregation.
  *
  * Scale shape: the covariance self-join explodes each row into its d²
  * centered products and partial-aggregates map-side into at most d²
  * cells, so the only fact-sized shuffle carries d² partial sums per
  * map task; every iteration is vocabulary-free d²-row work. The mean
  * vector and each iterate ride broadcasts.
  *
  * Cross-engine determinism (the q_l26 exact-decimal recipe): per-dim
  * means sum DECIMAL(25,10) casts; every float-accumulation point
  * (covariance cells, matrix·vector products, the squared norm) rounds
  * its per-element double product to a fixed scale and sums DECIMAL —
  * order-independent — so both engines walk bit-identical iterates.
  * The iteration count is FIXED (semantics = "t power steps from the
  * md5 seed", not "converged"): production would loop to tolerance,
  * the oracle-checkable contract pins t.
  */
object Pca {

  /** md5-seeded start vector component in [-1, 1) — the repo's one
    * SQL-replayable seeding recipe (Similarity.md5Weight), namespaced
    * "pc:j" so the PCA seed can never collide with the
    * hyperplane/centroid/PQ codebooks.
    */
  private[llm] def pcInit(j: Int): Double = Similarity.md5Weight(s"pc:$j")

  /** The lower-triangle covariance kernel (ci, cj ≤ ci, sp = the
    * DECIMAL sum of centered products), before the checkpoint and the
    * mirror in [[covariance]].
    *
    * r15 shape (guide §2.4, remove shuffles outright): the old form
    * exploded every row to n·d (vec, j, x) rows, hash-repartitioned
    * them by vec_id, broadcast-joined the per-dim means back per
    * ELEMENT, and self-joined the centered rows to emit n·d² products
    * — the corpus' exploded bytes crossed one full exchange and fed a
    * join. But centering is per-row arithmetic once the d means are
    * known, and the means are a |dim|-row aggregate: compute them
    * first (one n·d pass, same DECIMAL(25,10)-sum/count expression —
    * |dim| rows collected, bounded driver control flow like the
    * epoch-planner input), embed them as an array LITERAL, and each
    * row centers itself with zip_with and emits its outer products
    * directly from a generator — no exchange, no join, map-side
    * partial aggregation into at most d² cells. The only data-sized
    * shuffle left is the d²-cell aggregation (tiny). The covariance
    * matrix is also SYMMETRIC — round(a·b,10) ≡ round(b·a,10)
    * bit-exactly and decimal addition is order-insensitive — so the
    * generator emits only the lower triangle (cj ≤ ci, half the
    * rounds/decimal adds) and the off-diagonal cells are mirrored
    * after the aggregate, value-identical (the q_st17 argument).
    *
    * A single parquet file arrives as ONE partition and everything
    * before the cell aggregation is narrow, so the scan is widened
    * (widenByFiles — metadata-only, a no-op on a real many-file
    * corpus) or the whole n·d² pass serializes into one task.
    *
    * Building this plan RUNS A SPARK JOB: the means collect executes
    * when `covarianceTri` is called, not when its result is, so
    * [[covariance]] and [[topComponent]] pay that corpus pass at plan
    * construction too. Every dimension needs a non-null value in some
    * row; an all-null dimension has no mean and fails a `require`
    * naming it. Visible to `graft` so PlanSpec can pin the join-free
    * single-pass shape (the checkpoint in [[covariance]] hides it from
    * the plan).
    */
  private[graft] def covarianceTri(
      emb: DataFrame, embCol: String): DataFrame = {
    val wide = graft.SparkUtil.widenByFiles(emb)
    val e = Similarity.asDouble(col(embCol))
    val mRows = wide
      .select(posexplode(e).as(Seq("j0", "x")))
      .groupBy("j0")
      .agg((sum(col("x").cast(DecimalType(25, 10))).cast("double") / count(lit(1))).as("m"))
      .collect().sortBy(_.getInt(0)) // bounded: ≤ |dim| rows
      .map { r =>
        require(!r.isNullAt(1),
          s"PCA dimension ${r.getInt(0) + 1} is null in every row; its mean is undefined")
        (r.getInt(0), r.getDouble(1))
      }
    val mArr = array(mRows.map(t => lit(t._2)): _*)
    wide
      .select(zip_with(e, mArr, (x, mm) => x - mm).as("cx"))
      .select(col("cx"), posexplode(col("cx")).as(Seq("i0", "cxi")))
      .select(col("i0"), col("cxi"),
        posexplode(slice(col("cx"), lit(1), (col("i0") + 1).cast("int")))
          .as(Seq("j0", "cxj")))
      .select((col("i0") + 1).as("ci"), (col("j0") + 1).as("cj"),
        round(col("cxi") * col("cxj"), 10).cast(DecimalType(28, 10)).as("p"))
      .groupBy("ci", "cj")
      .agg(sum(col("p")).as("sp"))
  }

  /** d×d covariance cells (ci, cj, cov), one corpus pass (plus the
    * means collect [[covarianceTri]] runs while this plan is built).
    */
  def covariance(
      emb: DataFrame, idCol: String, embCol: String): DataFrame = {
    val nFrame = emb.agg(count(lit(1)).as("n"))
    // d(d+1)/2 rows — pinned so the mirror union reads the finished
    // cells instead of re-running the corpus pass (the ci≠cj filter
    // pushes below the aggregate, so the two union branches would
    // not be exchange-reusable subtrees)
    val tri = covarianceTri(emb, embCol).localCheckpoint(false)
    val cells = tri.unionByName(
      tri.filter(col("ci") =!= col("cj"))
        .select(col("cj").as("ci"), col("ci").as("cj"), col("sp")))
    cells
      .crossJoin(broadcast(nFrame)) // 1 row: corpus size
      .select(col("ci"), col("cj"),
        (col("sp").cast("double") / (col("n") - 1)).as("cov"))
  }

  /** Top principal component after `iters` power steps:
    * (j 1-based, loading, lambda) with the sign fixed so loading(1) ≥ 0
    * and lambda = ‖C·v‖ of the final step (the Rayleigh estimate of
    * the top eigenvalue once iterates align).
    *
    * The power steps run DRIVER-SIDE over
    * the collected d² cells (bounded: |dim|² rows — driver control
    * flow, the mmrSelectLocal/epochMixPlanLocal pattern). The corpus
    * pass (covariance) stays distributed; the iteration is d²-row
    * arithmetic that previously cost ~3 broadcast/checkpoint job
    * floors per step. Arithmetic replicates the distributed loop
    * EXACTLY — round(x,12) = BigDecimal.valueOf(x).setScale(12,
    * HALF_UP) (Catalyst Round + the double→DECIMAL(28,12) cast),
    * decimal addition exact and order-insensitive, norms/divisions in
    * IEEE double — and PcaSpec pins it bit-identical to the distributed
    * loop it replaced (a test-side twin, `PcaDistributed`). The final
    * projection (sign fix, 6-dp rounds) still runs through the SAME
    * Spark expressions, so output formatting shares one code path.
    *
    * Contract: the covariance cells must be the dense `dim`×`dim` grid
    * (covariance() yields the grid of the embedding width, so `dim`
    * must equal it); an empty frame or a `dim` that disagrees with the
    * grid fails a `require` naming both. Like [[covariance]], calling
    * this runs the corpus pass (the cells are collected here).
    */
  def topComponent(
      emb: DataFrame, idCol: String, embCol: String, dim: Int, iters: Int): DataFrame = {
    require(iters >= 1)
    val spark = emb.sparkSession
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode}
    // round(x,12) is DOUBLE-valued in Catalyst (BigDecimal.setScale →
    // toDouble) and the DECIMAL(28,12) cast then re-derives a decimal
    // from THAT double — replicate both hops, not just the setScale,
    // or a 1-ulp divergence at the 12th place is possible where two
    // 12-dp decimals share a nearest double
    def dec12(x: Double): JBD = {
      val rounded = JBD.valueOf(x).setScale(12, RoundingMode.HALF_UP).doubleValue
      JBD.valueOf(rounded).setScale(12, RoundingMode.HALF_UP)
    }
    val cells = covariance(emb, idCol, embCol)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))) // bounded: ≤ |dim|² rows
    require(cells.nonEmpty && cells.length == dim * dim &&
        cells.forall { case (ci, cj, _) => ci >= 1 && ci <= dim && cj >= 1 && cj <= dim },
      s"topComponent needs the dense $dim×$dim covariance grid (${dim * dim} cells); " +
        s"got ${cells.length} cells spanning dims 1..${(0 +: cells.map(_._1)).max}")
    var v: Map[Int, Double] = (1 to dim).map(j => j -> pcInit(j)).toMap
    var nrm = 0.0
    var it = 0
    while (it < iters) {
      val sums = scala.collection.mutable.Map.empty[Int, JBD]
      cells.foreach { case (ci, cj, cov) =>
        val p = dec12(cov * v(cj))
        sums.update(ci, sums.get(ci).map(_.add(p)).getOrElse(p))
      }
      val u = sums.iterator.map { case (j, s) => j -> s.doubleValue }.toMap
      val nrmDec = u.valuesIterator.foldLeft(JBD.ZERO.setScale(12)) {
        (acc, x) => acc.add(dec12(x * x))
      }
      nrm = math.sqrt(nrmDec.doubleValue)
      v = u.map { case (j, uj) => j -> uj / nrm }
      it += 1
    }
    val sgn = if (v(1) < 0) -1.0 else 1.0
    v.toSeq.sortBy(_._1).map { case (j, vj) => (j.toLong, vj) }
      .toDF("j", "v")
      .select(col("j"),
        round(col("v") * lit(sgn), 6).as("loading"),
        round(lit(nrm), 6).as("lambda"))
      .orderBy("j")
  }
}
