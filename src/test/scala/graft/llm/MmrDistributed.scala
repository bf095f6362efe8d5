package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-only twin of the MMR re-ranker. */
object MmrDistributed {

  /** The distributed greedy loop [[Similarity.mmrSelectLocal]]
    * replaced, kept as its equivalence witness (SimilaritySpec pins the
    * two bit-identical): `steps` rounds of (max-sim join + arg-max
    * aggregate) on the candidate frame, each round one key-partitioned
    * aggregate, never a global window.
    */
  def mmrSelect(
      cand: DataFrame, qCol: String, idCol: String, relCol: String,
      embCol: String, steps: Int, lambdaNum: Int = 7): DataFrame = {
    require(steps >= 1, "mmrSelect needs at least one step")
    require(lambdaNum >= 0 && lambdaNum <= 10, "lambdaNum is a tenth in [0,10]")
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    // pin the pool and its pairwise similarities: every greedy round
    // re-reads both
    val base = cand.select(col(qCol).as("query_id"), col(idCol).as("cand_id"),
      col(relCol).cast(dec).as("rel"), col(embCol).as("__e"))
      .localCheckpoint(false)
    val sims = base.select(col("query_id"), col("cand_id").as("a"), col("__e").as("__ea"))
      .join(base.select(col("query_id"), col("cand_id").as("b"), col("__e").as("__eb")),
        Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(Similarity.cosine(col("__ea"), col("__eb")), 9).cast(dec).as("sim"))
      .localCheckpoint(false)
    val pool = base.select("query_id", "cand_id", "rel")
    def argmax(scored: DataFrame, step: Int): DataFrame =
      scored
        .withColumn("__neg", -col("cand_id"))
        .withColumn("score10",
          lit(lambdaNum) * col("rel") - lit(10 - lambdaNum) * col("max_sim"))
        .groupBy("query_id")
        .agg(max(struct(col("score10"), col("__neg"), col("cand_id"), col("rel"),
          col("max_sim"))).as("__p"))
        .select(col("query_id"), lit(step).as("step"),
          col("__p.cand_id").as("cand_id"), col("__p.rel").as("rel"),
          col("__p.max_sim").as("max_sim"), col("__p.score10").as("score10"))
    var selected = argmax(
      pool.withColumn("max_sim", lit(java.math.BigDecimal.ZERO).cast(dec)), 1)
    var remaining = pool.join(selected.select("query_id", "cand_id"),
      Seq("query_id", "cand_id"), "left_anti")
    for (step <- 2 to steps) {
      val ms = sims
        .join(selected.select(col("query_id"), col("cand_id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("cand_id"))
        .agg(max(col("sim")).as("max_sim"))
      val scored = remaining.join(ms, Seq("query_id", "cand_id"))
      val pick = argmax(scored, step)
      selected = selected.unionByName(pick)
      remaining = remaining.join(pick.select("query_id", "cand_id"),
        Seq("query_id", "cand_id"), "left_anti")
    }
    selected.select(col("query_id"), col("step"), col("cand_id"),
        col("rel").cast("double").as("rel"),
        col("max_sim").cast("double").as("max_sim"),
        (col("score10").cast("double") / 10).as("mmr"))
      .orderBy("query_id", "step")
  }
}
