package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-only twin of the epoch-mix planner. */
object EpochMixDistributed {

  /** The distributed water-filling [[Corpus.epochMixPlanLocal]]
    * replaced, kept as its equivalence witness (CorpusSpec pins the
    * two bit-identical): every round is one broadcast 1-row sum crossed
    * back onto the |sources|-row frame.
    *
    * `stats` carries (source, avail BIGINT > 0, cap BIGINT); extra
    * columns pass through. Returns stats + (alloc, epochs_micro =
    * alloc·1e6 div avail), ordered by source.
    */
  def epochMixPlan(stats: DataFrame, budget: Long, rounds: Int): DataFrame = {
    require(rounds >= 1, "epochMixPlan needs at least one round")
    val passThrough = stats.columns.filterNot(_ == "alloc").map(col).toSeq
    var cur = stats.withColumn("alloc", lit(0L))
    for (_ <- 1 to rounds) {
      val sums = cur.agg(
        sum(when(col("alloc") < col("cap"), col("avail")).otherwise(0L))
          .cast("long").as("__sumw"),
        sum(col("alloc")).cast("long").as("__tot"))
      cur = cur.crossJoin(broadcast(sums))
        .withColumn("__give",
          when(col("alloc") < col("cap") && col("__sumw") > 0,
            greatest(expr(s"((${budget}L - __tot) * avail) div __sumw"), lit(0L)))
            .otherwise(lit(0L)))
        .select((passThrough :+
          least(col("cap"), col("alloc") + col("__give")).as("alloc")): _*)
    }
    cur
      .withColumn("epochs_micro", expr("(alloc * 1000000L) div avail"))
      .orderBy("source")
  }
}
