package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor similarity search over an embedding
  * column (array<float>).
  *
  * Two paths:
  *  - `bruteForceTopK`: exact cosine top-k via a broadcast of the query
  *    set against the corpus — the correctness baseline. O(|Q|·|C|) but
  *    embarrassingly parallel; right answer for small |Q|.
  *  - `lshTopK`: random-hyperplane LSH — each vector gets a sign-bit
  *    bucket from `nPlanes` fixed hyperplanes; exact cosine only within
  *    buckets. This is the 100 TB path: one shuffle on bucket id,
  *    bucket sizes ~ |C|/2^nPlanes, recall tuned by plane count (and by
  *    multi-probing neighbor buckets if needed). An IVF variant would
  *    swap the hash for learned centroids; the plumbing is identical.
  *
  * The hyperplane weights are md5-derived (`u64(md5("i:j"))/2^63 − 1`,
  * uniform in [-1,1)) rather than seeded Gaussians: equally valid as
  * LSH directions, but REPLAYABLE IN SQL — the DuckDB oracle recomputes
  * the identical planes, buckets, and ranks, so even the approximate
  * path gets a full value-level correctness gate (q_l6). Dot products
  * accumulate left-to-right in both engines (Spark `aggregate` lambda,
  * DuckDB `list_inner_product`), so the sign decisions and scores are
  * bit-identical.
  *
  * Embedding dimensionality is an explicit parameter and is validated
  * per row — a mismatched vector fails the job loudly instead of
  * silently truncating (round-2 advice).
  */
object Similarity {

  /** Cast float embedding to double once, up front. */
  def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Native codegen'd kernels (functions/VectorExprs): identical
    * left-to-right accumulation to the `aggregate(zip_with(...))`
    * higher-order form they replaced — bit-identical scores, ~none of
    * the per-pair zipped-array allocation and lambda dispatch, which
    * dominated the |Q|·|C| brute-force path.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dotCol(a, b)

  def cosine(a: Column, b: Column): Column = graft.functions.VectorExprs.cosineCol(a, b)

  /** Exact cosine top-k: for each row of `queries`, the k nearest
    * corpus rows (self-pairs excluded). Scores are rounded to
    * `scale` decimals BEFORE ranking so ordering is robust to last-ulp
    * float noise; ties break on neighbor id.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, scale: Int = 3): DataFrame = {
    val (q, c) = annSides(queries, corpus, idCol, embCol, Nil, Nil)
    cosineTopK(broadcast(q).crossJoin(c), k, scale)
  }

  /** The query and corpus sides of an ANN pairing: `query_id`/`__qe`
    * and `neighbor_id`/`__ce` (the double embedding), then each side's
    * join key and extra columns.
    */
  private def annSides(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      qKeys: Seq[Column], cKeys: Seq[Column]): (DataFrame, DataFrame) =
    (queries.select(col(idCol).as("query_id") +: asDouble(col(embCol)).as("__qe") +: qKeys: _*),
      corpus.select(col(idCol).as("neighbor_id") +: asDouble(col(embCol)).as("__ce") +: cKeys: _*))

  private val NotSelf = col("query_id") =!= col("neighbor_id")
  private val TopKCols = Seq(col("query_id"), col("rank"), col("neighbor_id"), col("score"))

  /** The exact-cosine tail of every top-k search: keep the candidate
    * pairs passing `keep`, round the cosine to `scale` decimals BEFORE
    * ranking, rank per query (ties on neighbor id), cut at k.
    */
  private def cosineTopK(
      pairs: DataFrame, k: Int, scale: Int, keep: Column = NotSelf,
      out: Seq[Column] = TopKCols): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    pairs.filter(keep)
      .withColumn("score", round(cosine(col("__qe"), col("__ce")), scale))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(out: _*)
  }

  /** Late-interaction (MaxSim) retrieval over MULTI-vector documents —
    * the ColBERT scoring shape: each document is a BAG of vectors (one
    * per token/chunk), each query likewise, and
    * score(q, d) = Σ_{qv ∈ q} max_{dv ∈ d} cos(qv, dv).
    * Cosines are quantized to exact integer milli-units BEFORE the
    * max/sum (max and sum of BIGINTs are order-independent, so the
    * two-level aggregation hashes identically in any engine — the
    * rounded-DECIMAL discipline, applied to a nested aggregate).
    *
    * Scale shape: queries are few (a query workload, not a corpus) so
    * their vectors broadcast; the candidate side never self-joins —
    * one broadcast nested-loop against the corpus vectors, then two
    * hash aggregations, (query, q_vec, doc) → max and (query, doc) →
    * sum, both partial-agg friendly. Cost is |q_vecs| · |corpus_vecs|
    * map-side with nothing shuffled but the (query, doc) partials —
    * the brute-force tier; at 100 TB the same scoring runs after an
    * ANN candidate cut (q_l6/q_l12 shapes) shrinks the corpus side.
    */
  def maxSimTopK(
      queryVecs: DataFrame, corpusVecs: DataFrame, docCol: String,
      vecIdCol: String, embCol: String, k: Int): DataFrame = {
    val q = queryVecs.select(col(docCol).as("query_id"),
      col(vecIdCol).as("__qv"), asDouble(col(embCol)).as("__qe"))
    val c = corpusVecs.select(col(docCol).as("neighbor_doc"), asDouble(col(embCol)).as("__ce"))
    val milli = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_doc"))
      .withColumn("__milli",
        round(cosine(col("__qe"), col("__ce")) * 1000).cast("long"))
    val best = milli.groupBy("query_id", "__qv", "neighbor_doc")
      .agg(max("__milli").as("__best"))
    val scored = best.groupBy("query_id", "neighbor_doc")
      .agg(sum("__best").cast("long").as("score_milli"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_milli").desc, col("neighbor_doc"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_doc", "score_milli")
  }

  /** Squared L2 distance with the SAME left-to-right accumulation as
    * DuckDB's `list_inner_product(diff, diff)` — elementwise diff via
    * zip_with, then the codegen'd dot kernel.
    */
  def distSq(a: Column, b: Column): Column = {
    val d = zip_with(a, b, (x, y) => x - y)
    dot(d, d)
  }

  /** Greedy k-center (farthest-point traversal) coreset selection —
    * the data-selection step that picks a maximally-SPREAD subset of
    * an embedding table (diverse fine-tuning subsets, eval probes,
    * cluster seeding): seed with the smallest id, then k−1 times take
    * the point FARTHEST from everything selected so far (ties to the
    * smaller id). Points at distance 0 from the selected set (exact
    * duplicates) are never picked — selecting one adds no coverage.
    * Classic 2-approximation of the k-center objective.
    *
    * Scale shape: each round is ONE full scan computing
    * min-over-centers distance (centers are a ≤ k×dim literal the
    * executors fold over — broadcast-sized by construction) and a
    * global top-1, i.e. k scans total with nothing shuffled but
    * per-partition top-1 candidates. The driver holds only the k
    * selected vectors. Distances reuse [[distSq]] so every comparison
    * is bit-identical to the SQL replay; no distance ever crosses an
    * engine boundary as an accumulated float.
    *
    * Returns (rank, vec_id, dist): dist is the point's squared
    * distance to the previously-selected set at selection time
    * (rounded 6dp for output; comparisons are unrounded), 0.0 for the
    * seed.
    */
  def kCenterGreedy(
      corpus: DataFrame, idCol: String, embCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pts = corpus.select(col(idCol).cast("long").as("vec_id"),
      asDouble(col(embCol)).as("e"))
    val seed = pts.orderBy("vec_id").limit(1)
      .collect()(0) // 1 row: the seed point
    var selected = Vector((seed.getLong(0), seed.getSeq[Double](1).toArray, 0.0))
    while (selected.size < k) {
      val minDist = selected
        .map { case (_, ce, _) => distSq(col("e"), array(ce.toSeq.map(lit): _*)) }
        .reduce(least(_, _))
      val next = pts.select(col("vec_id"), col("e"), minDist.as("d"))
        .filter(col("d") > 0) // never re-pick a selected/duplicate point
        .orderBy(col("d").desc, col("vec_id"))
        .limit(1).collect()(0) // 1 row: this round's farthest point
      selected :+= ((next.getLong(0), next.getSeq[Double](1).toArray, next.getDouble(2)))
    }
    selected.zipWithIndex
      .map { case ((id, _, d), i) =>
        // HALF_UP 6dp — the same rounding round(x, 6) applies in both engines
        (i + 1, id, BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF("rank", "vec_id", "dist")
  }

  private val TwoPow63 = math.pow(2.0, 63) // exact power of two

  /** Deterministic SQL-replayable hyperplane weight: first 64 md5 bits
    * of "i:j" as an unsigned integer, mapped to [-1, 1). BigInteger's
    * correctly-rounded doubleValue matches DuckDB's UBIGINT→DOUBLE cast.
    */
  private[llm] def planeWeight(i: Int, j: Int): Double = md5Weight(s"$i:$j")

  /** dim × nPlanes fixed hyperplanes. */
  private[llm] def hyperplanes(dim: Int, planes: Int): Array[Array[Double]] =
    Array.tabulate(planes)(i => Array.tabulate(dim)(j => planeWeight(i, j)))

  /** Sign-bit bucket id of an embedding under the fixed hyperplanes.
    * Fails loudly on a dimensionality mismatch.
    */
  private[llm] def bucketOf(emb: Seq[Float], planes: Array[Array[Double]]): Int = {
    require(emb != null && emb.length == planes(0).length,
      s"embedding dim ${if (emb == null) "null" else emb.length} != expected ${planes(0).length}")
    planes.zipWithIndex.foldLeft(0) { case (acc, (p, i)) =>
      var s = 0.0
      var j = 0
      while (j < p.length) { s += emb(j) * p(j); j += 1 }
      if (s > 0) acc | (1 << i) else acc
    }
  }

  /** LSH-bucketed ANN: exact cosine top-k within each query's bucket.
    * One bucket-key shuffle instead of a cross join; recall grows as
    * nPlanes shrinks. Fully oracle-checked (q_l6) — see class doc.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, nPlanes: Int = 8, dim: Int = 64, scale: Int = 3): DataFrame = {
    val planes = hyperplanes(dim, nPlanes)
    val bucketUdf = udf((e: Seq[Float]) => bucketOf(e, planes))
    val bucket = bucketUdf(col(embCol)).as("__bucket")
    val (q, c) = annSides(queries, corpus, idCol, embCol, Seq(bucket), Seq(bucket))
    cosineTopK(q.join(c, Seq("__bucket")), k, scale)
  }

  /** Hard-negative mining for contrastive/retrieval training: for each
    * probe vector, the k most-similar corpus vectors with a DIFFERENT
    * label — the "hard negatives live near the decision boundary"
    * sampling step that turns an embedding table into training pairs.
    * Same replayable md5-hyperplane LSH shape as [[lshTopK]] (bucketed
    * equi-join, never all-pairs); the label inequality rides the
    * pairing join, so same-label neighbors never rank.
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int, nPlanes: Int = 4, dim: Int = 64,
      scale: Int = 3): DataFrame = {
    val planes = hyperplanes(dim, nPlanes)
    val bucketUdf = udf((e: Seq[Float]) => bucketOf(e, planes))
    val bucket = bucketUdf(col(embCol)).as("__bucket")
    val (q, c) = annSides(queries, corpus, idCol, embCol,
      Seq(bucket, col(labelCol).as("__ql")), Seq(bucket, col(labelCol).as("__cl")))
    cosineTopK(q.join(c, Seq("__bucket")), k, scale, NotSelf && col("__ql") =!= col("__cl"),
      Seq(col("query_id"), col("rank"), col("neighbor_id"),
        col("__cl").as("neighbor_label"), col("score")))
  }

  /** Multi-probe LSH ANN: each query scans its own sign-bit bucket AND
    * every bucket at Hamming distance 1 (nPlanes+1 probes) — the
    * standard recall lever when the bucket count is small relative to
    * the corpus. Measured at sf0.1 vs exact brute force (BENCH_NOTES.md,
    * "Measured recall of the approximate family", full corpus):
    * single-probe recall@5 at nPlanes=4 is 0.09; Hamming<=1 probing
    * lifts it to 0.51 (IVF nProbe=2/8 sits
    * at 0.82) at (nPlanes+1)x the bucket-join fan-out — still
    * key-partitioned equi-join work, never all-pairs, because a probe
    * is just one more (bucket, query) row. At production scale the
    * same lever composes with more planes: recall is tuned by
    * (nPlanes, probe radius) with cost ~ corpus/2^nPlanes per probe. Buckets are
    * disjoint, so a neighbor is met at most once and no dedup pass is
    * needed. Exact-cosine rescoring inside the probed buckets, same as
    * `lshTopK`.
    */
  def lshTopKMultiProbe(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, nPlanes: Int = 8, dim: Int = 64, scale: Int = 3): DataFrame = {
    val planes = hyperplanes(dim, nPlanes)
    val bucketUdf = udf((e: Seq[Float]) => bucketOf(e, planes))
    val probes = (c: Column) => array(c +: (0 until nPlanes).map(i =>
      c.bitwiseXOR(lit(1 << i))): _*)
    val (q, c) = annSides(queries, corpus, idCol, embCol,
      Seq(explode(probes(bucketUdf(col(embCol)))).as("__bucket")),
      Seq(bucketUdf(col(embCol)).as("__bucket")))
    cosineTopK(q.join(c, Seq("__bucket")), k, scale)
  }

  /** Deterministic SQL-replayable IVF centroids (namespaced separately
    * from the LSH planes).
    */
  private[llm] def centroids(dim: Int, k: Int): Array[Array[Double]] =
    Array.tabulate(k, dim)((c, j) => md5Weight(s"c:$c:$j"))

  /** Cell ids ordered by ascending squared-L2 distance (ties by cell
    * id), truncated to `take`. Sequential accumulation so the DuckDB
    * oracle replays the distances bit-for-bit.
    */
  private[llm] def nearestCells(
      emb: Seq[Float], cents: Array[Array[Double]], take: Int): Seq[Int] = {
    require(emb != null && emb.length == cents(0).length,
      s"embedding dim ${if (emb == null) "null" else emb.length} != expected ${cents(0).length}")
    cents.zipWithIndex.map { case (c, i) =>
      var s = 0.0
      var j = 0
      while (j < c.length) { val d = emb(j) - c(j); s += d * d; j += 1 }
      (s, i)
    }.sortBy(identity).take(take).map(_._2).toSeq
  }

  /** IVF-style ANN: corpus vectors are indexed under their nearest of
    * `nCells` fixed centroids; each query probes its `nProbe` nearest
    * cells and ranks exact cosine inside them. Same scale shape as a
    * trained-centroid IVF (one shuffle on cell id, cells ~ |C|/nCells)
    * — the centroids here are md5-derived instead of learned so the
    * DuckDB oracle can replay assignment and ranking exactly (q_l12);
    * swapping in k-means centroids changes only the `centroids` table.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, nCells: Int = 8, nProbe: Int = 2, dim: Int = 64, scale: Int = 3): DataFrame = {
    val cents = centroids(dim, nCells)
    val probeUdf = udf((e: Seq[Float]) => nearestCells(e, cents, nProbe))
    val cellUdf = udf((e: Seq[Float]) => nearestCells(e, cents, 1).head)
    val (q, c) = annSides(queries, corpus, idCol, embCol,
      Seq(explode(probeUdf(col(embCol))).as("__cell")), Seq(cellUdf(col(embCol)).as("__cell")))
    cosineTopK(q.join(c, Seq("__cell")), k, scale)
  }

  /** Nearest-centroid index over a DOUBLE vector, identical
    * accumulation order to `nearestCells` (and thus to the oracle's
    * list_inner_product over the elementwise difference).
    */
  private def nearestIdx(e: Seq[Double], cents: Array[Array[Double]]): Int =
    nearestIdxDist(e, cents)._1

  /** Nearest centroid index AND its squared-L2 distance — the same
    * strict-< lower-id tie rule, with the distance exposed for
    * keeper rules that order cluster members by centrality
    * (`Dedup.semDedup`). Sequential accumulation keeps the double
    * bit-identical to the oracle's list_inner_product(d, d).
    */
  private[llm] def nearestIdxDist(
      e: Seq[Double], cents: Array[Array[Double]]): (Int, Double) = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cw = cents(c)
      var s = 0.0; var j = 0
      while (j < cw.length) { val d = e(j) - cw(j); s += d * d; j += 1 }
      if (s < bestD) { bestD = s; best = c } // strict <: ties keep lower c
      c += 1
    }
    (best, bestD)
  }

  /** Distributed k-means (Lloyd's) cluster assignment — semantic
    * clustering for dedup buckets / source mixing. Deterministic and
    * SQL-replayable end to end:
    *  - init: the md5-derived centroids (same derivation the IVF index
    *    uses), so iteration 0 needs no RNG;
    *  - assign: nearest centroid by squared L2, sequential per-dim
    *    accumulation (bit-identical to the oracle's
    *    list_inner_product), ties to the lower cluster id;
    *  - recompute: per-(cluster, dim) means via EXACT DECIMAL sums of
    *    the double components. Decimal sums are order-independent, and
    *    a double can never sit exactly on a decimal rounding boundary
    *    (doubles are dyadic rationals; a .5 tie at scale s would need
    *    a 5^s denominator), so both engines round identically and
    *    derive bit-identical next centroids;
    *  - empty clusters keep their previous centroid.
    *
    * Scale shape: per iteration one broadcast-closure map (the k×dim
    * centroid array rides the UDF) and one partial-aggregated groupBy
    * onto k·dim cells; the k·dim driver collect between iterations is
    * bounded control flow, the standard k-means driver loop. Returns
    * (idCol, cluster) for every vector after `iters` assignments.
    */
  def kmeansAssign(
      vectors: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int, dim: Int = 64): DataFrame = {
    require(iters >= 1)
    val v = vectors.select(col(idCol), asDouble(col(embCol)).as("__e"))
      .localCheckpoint(false) // scanned once per iteration
    val cs = lloydCents(v, k, iters, dim)
    val cellUdf = udf((e: Seq[Double]) => nearestIdx(e, cs))
    v.select(col(idCol), cellUdf(col("__e")).as("cluster"))
  }

  /** The Lloyd driver loop shared by `kmeansAssign` and
    * `Dedup.semDedup`: `iters - 1` assign→recompute rounds over a
    * frame carrying a double-vector `__e` column, returning the FINAL
    * centroids (the ones the last assignment should use). Recompute is
    * the exact-decimal per-(cluster, dim) mean described on
    * `kmeansAssign`; empty clusters keep their previous centroid.
    */
  private[llm] def lloydCents(
      v: DataFrame, k: Int, iters: Int, dim: Int): Array[Array[Double]] = {
    var cents = centroids(dim, k)
    for (_ <- 1 until iters) {
      val cs = cents
      val cellUdf = udf((e: Seq[Double]) => nearestIdx(e, cs))
      val sums = v.withColumn("__c", cellUdf(col("__e")))
        .select(col("__c"), posexplode(col("__e")).as(Seq("__j", "__x")))
        .groupBy("__c", "__j")
        .agg(sum(col("__x").cast(org.apache.spark.sql.types.DecimalType(25, 10))).as("__s"),
          count(lit(1)).as("__n"))
        .collect() // ≤ k·dim rows — bounded driver state
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          r.getDecimal(2).doubleValue() / r.getLong(3)
      }
      cents = next
    }
    cents
  }

  /** md5-derived deterministic weight in [-1, 1) for an arbitrary
    * namespaced key — the same derivation the hyperplanes/centroids
    * use, so every codebook is SQL-replayable.
    */
  private[llm] def md5Weight(key: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(key.getBytes("UTF-8"))
    new java.math.BigInteger(1, java.util.Arrays.copyOf(d, 8)).doubleValue() / TwoPow63 - 1.0
  }

  /** PQ codebooks: m subspaces × k codes × subDim weights, namespaced
    * "pq:s:c:j".
    */
  private[llm] def pqCodebooks(
      m: Int, k: Int, subDim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m, k, subDim)((s, c, j) => md5Weight(s"pq:$s:$c:$j"))

  /** Squared L2 between a subvector of `e` and codeword (s, c) —
    * sequential per-dim accumulation, bit-identical to the oracle's
    * list_inner_product over the elementwise difference.
    */
  private def pqDist(
      e: Seq[Float], cb: Array[Array[Array[Double]]], s: Int, c: Int): Double = {
    val cw = cb(s)(c)
    val off = s * cw.length
    var acc = 0.0
    var j = 0
    while (j < cw.length) { val d = e(off + j) - cw(j); acc += d * d; j += 1 }
    acc
  }

  /** Product-quantization ANN (ADC scan) — the memory story at 100 TB:
    * the corpus keeps only m code bytes per vector (64 floats → 4
    * codes here, a 64× compression), queries carry an m×k distance
    * lookup table, and the scan is a broadcast join of the corpus
    * codes against that table plus a per-(query, neighbor) sum — no
    * corpus float vector is ever touched after encode. Determinism:
    * codebooks are md5-derived (SQL-replayable); code assignment is
    * argmin with strict-< lower-code ties, identical to the oracle's
    * `row_number() ORDER BY dist, c`; each table entry rounds to 12dp
    * and the m-term ADC sum runs as DECIMAL(28,12), so the reduction
    * order cannot leak. Swapping in trained codebooks changes only
    * `pqCodebooks`. At scale you compose this with the IVF router
    * (`ivfTopK`'s cell assignment) for IVF-PQ; the ADC core is
    * unchanged.
    */
  private def pqCodesUdf(
      cb: Array[Array[Array[Double]]], m: Int, nCodes: Int, dim: Int) =
    udf { (e: Seq[Float]) =>
      require(e != null && e.length == dim, s"embedding dim != $dim")
      (0 until m).map { s =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < nCodes) {
          val d = pqDist(e, cb, s, c)
          if (d < bestD) { bestD = d; best = c } // strict <: ties keep lower c
          c += 1
        }
        best
      }
    }

  private def pqTableUdf(
      cb: Array[Array[Array[Double]]], m: Int, nCodes: Int, dim: Int) =
    udf { (e: Seq[Float]) =>
      require(e != null && e.length == dim, s"embedding dim != $dim")
      (0 until m).flatMap(s => (0 until nCodes).map(c => pqDist(e, cb, s, c)))
    }

  def pqTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, m: Int = 4, nCodes: Int = 16, dim: Int = 64): DataFrame = {
    val subDim = dim / m
    val cb = pqCodebooks(m, nCodes, subDim)
    val codesUdf = pqCodesUdf(cb, m, nCodes, dim)
    val dtUdf = pqTableUdf(cb, m, nCodes, dim)
    val codes = corpus
      .select(col(idCol).as("neighbor_id"), posexplode(codesUdf(col(embCol))))
      .select(col("neighbor_id"), col("pos").as("__s"), col("col").as("__c"))
    val dt = adcTable(queries, idCol, dtUdf(col(embCol)), nCodes)
    adcTopK(codes.join(broadcast(dt), Seq("__s", "__c")).filter(NotSelf), k)
  }

  /** Each query's m×k distance lookup table as (query_id, __s, __c,
    * __dt), every entry rounded to 12dp.
    */
  private def adcTable(
      queries: DataFrame, idCol: String, table: Column, nCodes: Int): DataFrame =
    queries
      .select(col(idCol).as("query_id"), posexplode(table))
      .select(col("query_id"), (col("pos") / nCodes).cast("int").as("__s"),
        pmod(col("pos"), lit(nCodes)).cast("int").as("__c"),
        round(col("col"), 12).as("__dt"))

  /** The ADC tail: sum each (query, neighbor)'s table entries as
    * DECIMAL(28,12), rank ascending per query (ties on neighbor id),
    * cut at k.
    */
  private def adcTopK(entries: DataFrame, k: Int): DataFrame =
    entries.groupBy("query_id", "neighbor_id")
      .agg(sum(col("__dt").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
        .cast("double").as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("adist"), 6).as("adist"))

  /** IVF-PQ: the full production ANN shape — the IVF router restricts
    * each query to its nProbe nearest coarse cells (so the scan
    * touches |corpus|·nProbe/nCells codes, not the whole corpus) and
    * the PQ ADC ranks inside them from 4-byte codes. Same
    * deterministic pieces as `ivfTopK` + `pqTopK`, composed: cell
    * assignment from the md5 coarse centroids, codes/table from the
    * md5 codebooks, 12dp-rounded DECIMAL ADC sums. The code path a
    * 100 TB corpus actually serves queries from: coarse route, then
    * compressed-domain scan, floats touched zero times.
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, nCells: Int = 8, nProbe: Int = 2, m: Int = 4, nCodes: Int = 16,
      dim: Int = 64): DataFrame = {
    val cents = centroids(dim, nCells)
    val cb = pqCodebooks(m, nCodes, dim / m)
    val probeUdf = udf((e: Seq[Float]) => nearestCells(e, cents, nProbe))
    val cellUdf = udf((e: Seq[Float]) => nearestCells(e, cents, 1).head)
    val codesUdf = pqCodesUdf(cb, m, nCodes, dim)
    val dtUdf = pqTableUdf(cb, m, nCodes, dim)
    val qc = queries.select(col(idCol).as("query_id"),
      explode(probeUdf(col(embCol))).as("__cell"))
    val dt = adcTable(queries, idCol, dtUdf(col(embCol)), nCodes)
    // the corpus side carries ALL the per-row UDF work (cell route +
    // code assignment) and the downstream explode/join/partial-agg
    // pipelines inside the scan partitions — a small corpus arriving
    // as ONE parquet file would run the whole chain single-task (the
    // BENCH_r12 watch item: 8 sequential 1-task jobs, 3.4 cpu-s on one
    // core). widenByFiles spreads a narrow scan to cluster width from
    // file metadata only; a real many-file corpus is left untouched.
    val ccodes = graft.SparkUtil.widenByFiles(corpus)
      .select(col(idCol).as("neighbor_id"),
        cellUdf(col(embCol)).as("__cell"), codesUdf(col(embCol)).as("__codes"))
    adcTopK(ccodes.join(broadcast(qc), Seq("__cell"))
      .filter(NotSelf)
      .select(col("query_id"), col("neighbor_id"), posexplode(col("__codes")))
      .select(col("query_id"), col("neighbor_id"), col("pos").as("__s"),
        col("col").as("__c"))
      .join(broadcast(dt), Seq("query_id", "__s", "__c")), k)
  }

  /** Embedding-cosine near-duplicate pairs (dedup by vector closeness):
    * bucket with LSH, verify cosine ≥ threshold within buckets.
    */
  def cosineNearDupPairs(
      vectors: DataFrame, idCol: String, embCol: String,
      threshold: Double, nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(dim, nPlanes)
    val bucketUdf = udf((e: Seq[Float]) => bucketOf(e, planes))
    val v = vectors.select(col(idCol).as("__id"), asDouble(col(embCol)).as("__e"),
      bucketUdf(col(embCol)).as("__bucket"))
    val a = v.select(col("__bucket"), col("__id").as("id_a"), col("__e").as("__ea"))
    val b = v.select(col("__bucket"), col("__id").as("id_b"), col("__e").as("__eb"))
    a.join(b, Seq("__bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", round(cosine(col("__ea"), col("__eb")), 3))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998) — the diversification pass between retrieval and a context
    * window: greedily pick `steps` results maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked, so near
    * duplicate passages don't crowd out coverage.
    *
    * `cand` is the per-query candidate pool (query, candidate id,
    * relevance as an EXACT decimal, embedding as array<double>). λ is
    * passed as a numerator over a fixed denominator of 10 and the MMR
    * objective is computed as λnum·rel − (10−λnum)·maxsim in exact
    * decimal arithmetic — selection order is engine-independent, no
    * float ever decides a pick (pairwise cosines are rounded to 9
    * decimals first, the same determinism boundary the relevance
    * column carries in); ties break on the smaller candidate id.
    *
    * The pool is BOUNDED by construction — an upstream top-k stage caps
    * it at |probes|·k rows (q_l73 has 8·10) — so the pool and its
    * pairwise cosine matrix (computed distributed) are collected once
    * and the greedy loop, inherently sequential in `steps`, runs
    * driver-side in exact BigDecimal arithmetic at zero Spark jobs per
    * pick. SimilaritySpec pins it bit-identical to the distributed
    * join/arg-max loop it replaced (`MmrDistributed`, test-side).
    *
    * Returns (query, step, candidate, rel, max_sim, mmr) with mmr =
    * (λnum·rel − (10−λnum)·max_sim)/10 cast to double for reporting.
    *
    * CONTRACT (ADVICE r14): query/candidate ids must be non-null
    * LongType and rel/embedding non-null with rel inside
    * DECIMAL(18,9) — the loop reads them with unchecked
    * getLong/getDecimal. The one caller (q_l73) satisfies this by
    * construction; a new caller with different id types must widen
    * the reads first.
    */
  def mmrSelectLocal(
      cand: DataFrame, qCol: String, idCol: String, relCol: String,
      embCol: String, steps: Int, lambdaNum: Int = 7): DataFrame = {
    require(steps >= 1, "mmrSelectLocal needs at least one step")
    require(lambdaNum >= 0 && lambdaNum <= 10, "lambdaNum is a tenth in [0,10]")
    val spark = cand.sparkSession
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val base = cand.select(col(qCol).as("query_id"), col(idCol).as("cand_id"),
      col(relCol).cast(dec).as("rel"), col(embCol).as("__e"))
      .localCheckpoint(false)
    // pairwise similarities computed DISTRIBUTED, then collected:
    // ≤ |pool|²/|Q| rows per query, |pool| ≤ |probes|·k by the
    // caller's top-k contract
    val simRows = base.select(col("query_id"), col("cand_id").as("a"), col("__e").as("__ea"))
      .join(base.select(col("query_id"), col("cand_id").as("b"), col("__e").as("__eb")),
        Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(cosine(col("__ea"), col("__eb")), 9).cast(dec).as("sim"))
      .collect() // bounded: |probes|·k² pool-pair rows (top-k contract)
    val poolRows = base.select("query_id", "cand_id", "rel")
      .collect() // bounded: |probes|·k pool rows (top-k contract)
    val ZERO = java.math.BigDecimal.ZERO.setScale(9)
    val sims = simRows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => ((r.getLong(1), r.getLong(2)), r.getDecimal(3))).toMap
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Double, Double, Double)]
    poolRows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val rel = rs.map(r => r.getLong(1) -> r.getDecimal(2)).toMap
      val sim = sims.getOrElse(q, Map.empty[(Long, Long), java.math.BigDecimal])
      var remaining = rel.keySet
      var selected = List.empty[Long]
      var step = 1
      while (step <= steps && remaining.nonEmpty) {
        // score10 = λ·rel − (10−λ)·max(sim to selected); exact decimals
        val scored = remaining.toSeq.map { c =>
          val ms =
            if (selected.isEmpty) ZERO
            else selected.map(s => sim((c, s))).max(Ordering.ordered[java.math.BigDecimal])
          val score = rel(c).multiply(java.math.BigDecimal.valueOf(lambdaNum.toLong))
            .subtract(ms.multiply(java.math.BigDecimal.valueOf((10 - lambdaNum).toLong)))
          (c, ms, score)
        }
        val (pick, ms, score) = scored.minBy { case (c, _, sc) => (sc.negate, c) }(
          Ordering.Tuple2(Ordering.ordered[java.math.BigDecimal], Ordering.Long))
        out += ((q, step, pick, rel(pick).doubleValue, ms.doubleValue,
          score.doubleValue / 10))
        selected ::= pick
        remaining -= pick
        step += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("query_id", "step", "cand_id", "rel", "max_sim", "mmr")
      .orderBy("query_id", "step")
  }
}
