package graft.llm

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class PcaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("recovers the dominant axis of a rank-1 point cloud") {
    import spark.implicits._
    // points c·d along the unit axis d = (1,2,2,0)/3, c in {1,2,3,4}:
    // covariance = var(c)·ddᵀ, so one power step already aligns —
    // expect loading ≈ d (sign fixed at loading(1) ≥ 0) and
    // lambda ≈ sample var(c) = 5/3
    val d = Array(1.0 / 3, 2.0 / 3, 2.0 / 3, 0.0)
    val rows = (1 to 4).map(c => (c.toLong, d.map(x => (c * x).toFloat).toSeq))
    val out = Pca.topComponent(rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        dim = 4, iters = 3)
      .collect().map(r => (r.getAs[Long]("j"),
        r.getAs[Double]("loading"), r.getAs[Double]("lambda")))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    out.zip(d).foreach { case ((j, loading, _), exp) =>
      assert(math.abs(loading - exp) < 1e-4, s"dim $j: $loading vs $exp")
    }
    assert(math.abs(out.head._3 - 5.0 / 3) < 1e-4, s"lambda ${out.head._3}")
  }

  test("local power steps are bit-identical to the distributed loop (real embeddings)") {
    // the r15 driver-side iteration must walk the EXACT decimal
    // arithmetic of the distributed twin — compare full rows on the
    // real generated table (the q_l63 input shape: 64 dims, float
    // embeddings), not a synthetic cloud
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val local = Pca.topComponent(emb, "vec_id", "embedding", dim = 64, iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val dist = PcaDistributed.topComponent(emb, "vec_id", "embedding", dim = 64, iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(local.length == 64 && dist.length == 64)
    local.zip(dist).foreach { case (l, d) =>
      assert(l == d, s"local $l != distributed $d")
    }
  }

  test("an empty embeddings frame fails a require naming dim and the grid size") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Pca.topComponent(empty, "vec_id", "embedding", dim = 4, iters = 3)
    }
    assert(e.getMessage.contains("dense 4×4 covariance grid (16 cells)") &&
      e.getMessage.contains("got 0 cells"), e.getMessage)
  }

  test("an all-null dimension fails a require naming that dimension") {
    import spark.implicits._
    // dimension 2 is null in every row: it has no mean to center on
    val rows = Seq(
      (1L, Seq(Some(1.0f), None, Some(3.0f))),
      (2L, Seq(Some(2.0f), None, Some(1.0f))),
      (3L, Seq(Some(4.0f), None, Some(2.0f))))
    val e = intercept[IllegalArgumentException] {
      Pca.topComponent(rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        dim = 3, iters = 2)
    }
    assert(e.getMessage.contains("PCA dimension 2 is null in every row"), e.getMessage)
  }

  test("md5 seed is the SQL closed form and lands in [-1, 1)") {
    (1 to 64).foreach { j =>
      val w = Pca.pcInit(j)
      assert(w >= -1.0 && w < 1.0, s"j=$j w=$w")
    }
    // spot value pinned so the Spark seed and the oracle SQL can never
    // drift apart silently
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest("pc:1".getBytes("UTF-8"))
    val expect = new java.math.BigInteger(1, java.util.Arrays.copyOf(d, 8))
      .doubleValue() / math.pow(2.0, 63) - 1.0
    assert(Pca.pcInit(1) == expect)
  }
}
