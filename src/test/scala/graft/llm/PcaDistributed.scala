package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Test-only twin of the top-principal-component power iteration. */
object PcaDistributed {

  /** The distributed power-step loop [[Pca.topComponent]] replaced,
    * kept as its equivalence witness (PcaSpec pins the two
    * bit-identical).
    */
  def topComponent(
      emb: DataFrame, idCol: String, embCol: String, dim: Int, iters: Int): DataFrame = {
    require(iters >= 1)
    val spark = emb.sparkSession
    val cov = Pca.covariance(emb, idCol, embCol)
      .localCheckpoint(false) // read once per power step
    import spark.implicits._
    var v = (1 to dim).map(j => (j.toLong, Pca.pcInit(j))).toDF("j", "v")
    var lambda: DataFrame = null
    var it = 0
    while (it < iters) {
      // pin the d²-row kernel's OUTPUT: the norm aggregate, the
      // normalized iterate, and (last step) the final select all read
      // u — without the checkpoint each consumer re-runs the cov join
      val u = cov
        .join(broadcast(v), col("cj") === col("j"))
        .select(col("ci"),
          round(col("cov") * col("v"), 12).cast(DecimalType(28, 12)).as("p"))
        .groupBy("ci")
        .agg(sum(col("p")).cast("double").as("u"))
        .localCheckpoint(false)
      lambda = u.agg(
        sqrt(sum(round(col("u") * col("u"), 12).cast(DecimalType(28, 12)))
          .cast("double")).as("nrm"))
      v = u.crossJoin(broadcast(lambda)) // 1 row: the norm
        .select(col("ci").as("j"), (col("u") / col("nrm")).as("v"))
      it += 1
    }
    val sgn = v.filter(col("j") === 1)
      .select(when(col("v") < 0, -1.0).otherwise(1.0).as("sgn"))
    v.crossJoin(broadcast(sgn)) // 1 row: sign convention
      .crossJoin(broadcast(lambda)) // 1 row: top-eigenvalue estimate
      .select(col("j").cast("long").as("j"),
        round(col("v") * col("sgn"), 6).as("loading"),
        round(col("nrm"), 6).as("lambda"))
      .orderBy("j")
  }
}
