package graft.llm

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("LSH ANN recalls a healthy share of brute-force neighbors") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(queries, emb, "vec_id", "embedding", 10, nPlanes = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    // 3 planes ⇒ ~1/8 of the corpus per bucket; on random vectors even
    // modest recall confirms the bucketing+rank plumbing works
    assert(recall >= 0.05, s"recall=$recall")
    assert(lsh.nonEmpty)
  }

  test("multi-probe LSH strictly dominates single-probe recall") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      bf.intersect(got).size.toDouble / bf.size
    }
    val single = recallOf(
      Similarity.lshTopK(queries, emb, "vec_id", "embedding", 10, nPlanes = 3))
    val multi = recallOf(
      Similarity.lshTopKMultiProbe(queries, emb, "vec_id", "embedding", 10, nPlanes = 3))
    // the probed candidate set is a superset, so top-k quality cannot
    // regress; on this fixture the lift is material
    assert(multi >= single, s"multi=$multi single=$single")
    assert(multi >= 0.2, s"multi-probe recall=$multi")
  }

  test("IVF ANN recalls a healthy share of brute-force neighbors") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 10,
      nCells = 8, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    // 8 cells, 2 probed ⇒ ~1/4 of the corpus scanned per query
    assert(recall >= 0.1, s"recall=$recall")
    assert(ivf.nonEmpty)
  }

  test("kmeans assignment is layout-independent and converges sanely") {
    val emb = Tables.embeddings(spark, sf)
    def assign(parts: Int): Map[Long, Int] =
      Similarity.kmeansAssign(emb.repartition(parts), "vec_id", "embedding", k = 4, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // exact decimal mean sums are order-independent, so the physical
    // layout must not change a single assignment
    val a = assign(2)
    assert(a == assign(7))
    // every vector assigned, clusters non-trivial
    assert(a.size == emb.count())
    assert(a.values.toSet.size >= 2)
  }

  test("mismatched embedding dimensionality fails loudly, never truncates") {
    import spark.implicits._
    val bad = Seq((1L, Seq(0.1f, 0.2f, 0.3f)), (2L, Seq(0.4f, 0.5f, 0.6f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.lshTopK(bad, bad, "vec_id", "embedding", k = 1, nPlanes = 2, dim = 64)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("embedding dim")), e.toString)
  }

  test("scaled copies have cosine 1.0 and are found as near-duplicates") {
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val aug = emb.unionByName(emb.filter(col("vec_id") < 5).select(
      (col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), x => (x * 2).cast("float")).as("embedding")))
    val pairs = Similarity.cosineNearDupPairs(aug, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 5)
    assert(pairs.forall { case (a, b, s) => b == a + 10000 && s == 1.0 })
  }
  test("PQ ADC: an identical corpus vector attains the minimum ADC distance") {
    val emb = Tables.embeddings(spark, sf)
    // clone vec 0..4 under shifted ids: the clone's codes equal the
    // query's own argmin codes, so ADC(query, clone) = Σ_s min_c
    // dt(q,s,c) — the smallest value ADC can take for that query. The
    // clone must therefore sit in the minimal-adist tie group (ties =
    // coarse code collisions, broken by id).
    val twins = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 9000).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(twins)
    val rows = Similarity.pqTopK(twins, corpus, "vec_id", "embedding", k = 10)
      .collect()
    (0 until 5).foreach { i =>
      val q = rows.filter(_.getAs[Long]("query_id") == 9000L + i)
      val minD = q.map(_.getAs[Double]("adist")).min
      val orig = q.find(_.getAs[Long]("neighbor_id") == i.toLong)
      assert(orig.isDefined, s"original $i missing from its twin's top-10")
      assert(orig.get.getAs[Double]("adist") == minD)
    }
  }

  test("PQ ranks are contiguous and ADC distances non-decreasing per query") {
    val emb = Tables.embeddings(spark, sf)
    val rows = Similarity.pqTopK(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank").collect()
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).toSeq
      assert(ranks == (1 to ranks.size))
      val ds = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("adist")).toSeq
      assert(ds == ds.sorted)
    }
  }

  test("IVF-PQ probing every cell degenerates to the full PQ scan") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 8)
    val full = Similarity.pqTopK(q, emb, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val ivfpq = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", k = 5,
        nCells = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(ivfpq == full)
  }

  test("IVF-PQ with 2 probes returns a candidate subset of the full PQ ranking domain") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 8)
    val out = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank").collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).toSeq.sorted
      assert(ranks == (1 to ranks.size))
      val ds = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("adist")).toSeq
      assert(ds == ds.sorted)
    }
  }

  test("hardNegatives returns only different-label neighbors, capped at k") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.hardNegatives(
      emb.filter(col("vec_id") % 10 === 0), emb,
      "vec_id", "embedding", "label", k = 3, nPlanes = 4)
    val labels = emb.select(col("vec_id"), col("label").as("query_label"))
    // every mined pair crosses the label boundary
    val sameLabel = out.join(labels, out("query_id") === labels("vec_id"))
      .filter(col("neighbor_label") === col("query_label")).count()
    assert(sameLabel == 0L, "a hard negative must carry a DIFFERENT label")
    // never a self-pair, at most k rows per query, ranks are 1..n
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0L)
    val perQ = out.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
      .collect()
    perQ.foreach { r =>
      assert(r.getAs[Long]("n") <= 3 && r.getAs[Int]("mn") == 1 &&
        r.getAs[Int]("mx").toLong == r.getAs[Long]("n"), r.toString)
    }
    assert(perQ.nonEmpty, "probes must find negatives in their buckets at this SF")
  }

  test("mmrSelect greedily trades relevance for diversity, ties break on id") {
    import spark.implicits._
    // candidates for one query: c10=(1,0) rel .9; c20=(.6,.8) rel .8
    // (cos .6 to c10, .8 to c30); c30=c31=(0,1) rel .7 (orthogonal to
    // c10, mutual cos 1). Hand-computed greedy at λ=0.7:
    //  step1: c10 (7·.9 = 6.3)
    //  step2: c20 scores 7·.8−3·.6 = 3.8 < c30/c31's 4.9 → tie → c30
    //  step3: c20 7·.8−3·max(.6,.8) = 3.2 > c31's 7·.7−3·max(0,1) = 1.9 → c20
    val cand = Seq(
      (1L, 10L, BigDecimal("0.9"), Seq(1.0, 0.0)),
      (1L, 20L, BigDecimal("0.8"), Seq(0.6, 0.8)),
      (1L, 30L, BigDecimal("0.7"), Seq(0.0, 1.0)),
      (1L, 31L, BigDecimal("0.7"), Seq(0.0, 1.0))
    ).toDF("query_id", "cand_id", "rel", "emb")
    for (select <- Seq(Similarity.mmrSelectLocal _, MmrDistributed.mmrSelect _)) {
      val out = select(cand, "query_id", "cand_id", "rel", "emb", 3, 7)
        .select("step", "cand_id", "max_sim", "mmr").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      assert(out.map(t => t._1 -> t._2).toSeq == Seq(1 -> 10L, 2 -> 30L, 3 -> 20L))
      val byStep = out.map(t => t._1 -> t).toMap
      assert(byStep(2)._3 == 0.0) // c30 is orthogonal to the first pick
      assert(math.abs(byStep(3)._4 - 0.32) < 1e-9) // (7·.8 − 3·.8)/10
      assert(math.abs(byStep(3)._3 - 0.8) < 1e-9) // c20's max sim is to c30
    }
  }

  test("mmrSelectLocal is bit-identical to the distributed mmrSelect") {
    import spark.implicits._
    // real-shaped pool: 3 probes × 6 candidates with irrational-ish
    // vectors so the cosine rounding boundary is actually exercised
    val cand = (for (q <- 1L to 3L; c <- 1L to 6L) yield {
      val emb = Seq.tabulate(8)(i =>
        math.sin(q * 31 + c * 7 + i * 3).abs + 0.01 * i)
      (q, c * 10 + q, BigDecimal((0.95 - 0.07 * c).toString), emb)
    }).toDF("query_id", "cand_id", "rel", "emb")
    val a = MmrDistributed.mmrSelect(cand, "query_id", "cand_id", "rel", "emb",
      steps = 4, lambdaNum = 7).collect().map(_.toSeq).toSeq
    val b = Similarity.mmrSelectLocal(cand, "query_id", "cand_id", "rel", "emb",
      steps = 4, lambdaNum = 7).collect().map(_.toSeq).toSeq
    assert(a == b, s"local/distributed MMR diverged:\n$a\n$b")
    // steps > pool: both stop at pool exhaustion identically
    val small = cand.filter($"cand_id" % 10 === 1 && $"query_id" === 1)
    val a2 = MmrDistributed.mmrSelect(small, "query_id", "cand_id", "rel", "emb",
      steps = 4).collect().map(_.toSeq).toSeq
    val b2 = Similarity.mmrSelectLocal(small, "query_id", "cand_id", "rel", "emb",
      steps = 4).collect().map(_.toSeq).toSeq
    assert(a2 == b2, s"single-candidate pool diverged:\n$a2\n$b2")
  }
}
