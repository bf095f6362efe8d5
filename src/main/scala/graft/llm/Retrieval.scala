package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus retrieval / indexing: TF-IDF keyword extraction, BM25 ranked
  * retrieval, and inverted-index (posting-list) construction — the
  * query-side complement of the dedup/quality family (a training-data
  * pipeline needs "find documents like/about X" as much as "drop
  * duplicates of X").
  *
  * Everything is expression-level (explode → hash aggregations), no
  * UDFs: at 100 TB the token explode is the dominant cost and runs
  * map-side; the per-term statistics (df, avgdl, N) are tiny
  * aggregates that broadcast back, so the only fact-sized shuffles are
  * the (doc, term) and (term) groupBys.
  *
  * Double determinism (oracle parity): scores are built from EXACT
  * integer counts (tf, df, N, doclen) with the identical expression
  * tree on both engines — IEEE doubles agree bit-for-bit — and only
  * the final score is rounded for display.
  */
object Retrieval {

  /** (id, term, tf) — whitespace tokens, one row per distinct term per doc. */
  def termFreqs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    countTerms(tokenRows(docs, idCol, textCol), idCol)

  /** (id, term) — one row per whitespace token. */
  private def tokenRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))

  private def countTerms(toks: DataFrame, idCol: String): DataFrame =
    toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))

  /** Per-doc log-probability under the corpus's own add-one unigram
    * LM: (id, logp_sum, n_tokens) with logp_sum = Σ tf·ln((c+1)/(T+V))
    * over the doc's terms (c the term's corpus count, T the token
    * total, V the vocabulary size). Each (doc, term) contribution is
    * rounded to 9dp and summed as DECIMAL, so the per-doc sum is
    * order-independent. At scale: two term-keyed aggregates + one
    * broadcast join; the LM itself is |vocab| rows.
    */
  def unigramDocLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the term-frequency explode feeds the unigram-count agg AND the
    // per-doc scoring join — pinned so it runs once
    val tf = termFreqs(docs, idCol, textCol)
      .localCheckpoint(false)
    val c = tf.groupBy("term").agg(sum(col("tf")).as("c"))
    val tot = c.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    val contrib = col("tf") *
      log((col("c") + lit(1.0)) / (col("t") + col("v")))
    tf
      .join(broadcast(c), "term")
      .crossJoin(broadcast(tot))
      .groupBy(idCol)
      .agg(sum(round(contrib, 9).cast(DecimalType(28, 9))).cast("double")
        .as("logp_sum"),
        sum(col("tf")).as("n_tokens"))
  }

  /** Top-k TF-IDF terms per document (smoothed idf = ln((1+N)/(1+df))),
    * ranked by raw score with the term as tiebreaker. df/N always come
    * from the FULL corpus even if callers later filter the output.
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = termFreqs(docs, idCol, textCol)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(n)) // 1 row: corpus size
      .withColumn("score_raw",
        col("tf") * log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))))
    val w = Window.partitionBy(idCol).orderBy(col("score_raw").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"),
        round(col("score_raw"), 6).as("score"))
  }

  /** BM25 scores of `docs` against the fixed `terms` bag; top `topN`.
    *
    * Per-term contributions are summed in the DECLARED term order
    * (coalesce(s1,0)+coalesce(s2,0)+…), not by an aggregate over
    * doubles — float addition isn't associative, and an engine is free
    * to reduce an aggregate in any order.
    */
  def bm25(
      docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double, b: Double, topN: Int): DataFrame = {
    val toks = tokenRows(docs, idCol, textCol)
    val (scoring, contrib) =
      bm25Inputs(toks, countTerms(toks.filter(col("term").isin(terms: _*)), idCol), idCol, k1, b)
    val perTerm = scoring.select(col(idCol), col("term"), contrib.as("c"))
    val termCols = terms.map(t => sum(when(col("term") === t, col("c"))).as(s"s_$t"))
    val total = terms.map(t => coalesce(col(s"s_$t"), lit(0.0))).reduce(_ + _)
    perTerm
      .groupBy(idCol)
      .agg(termCols.head, termCols.tail: _*)
      .select(col(idCol), total.as("score_raw"))
      .orderBy(col("score_raw").desc, col(idCol))
      .limit(topN)
      .select(col(idCol), round(col("score_raw"), 6).as("score"))
  }

  /** BM25 against PER-QUERY term bags (each probe's own distinct
    * terms) — the retrieval shape of query-by-document. Unlike
    * `bm25`'s fixed bag (whose score sums a declared coalesce chain),
    * the bag here is data-dependent, so per-(query,term) contributions
    * are rounded to 12 decimals and summed as DECIMAL(28,12) — exact,
    * order-independent accumulation in any engine.
    *
    * `probeTerms` is (query_id, term) DISTINCT rows. Scale shape: the
    * corpus-sized work is the token explode + (doc, term) groupBy; the
    * probe bag joins through the (term)-keyed posting side exactly
    * like an inverted-index lookup, and the per-candidate sum is one
    * key-partitioned aggregation. Self-matches are kept — callers
    * filter query_id <> cand id when probes come from the corpus.
    */
  def bm25PerQuery(
      docs: DataFrame, idCol: String, textCol: String,
      probeTerms: DataFrame, k1: Double, b: Double): DataFrame = {
    val toks = tokenRows(docs, idCol, textCol)
    val (scoring, contrib) = bm25Inputs(toks, countTerms(toks, idCol), idCol, k1, b)
    scoring
      .select(col(idCol).as("cand_id"), col("term"),
        round(contrib, 12).cast("decimal(28,12)").as("c"))
      .join(probeTerms.select(col("query_id"), col("term")), "term")
      .groupBy("query_id", "cand_id")
      .agg(sum(col("c")).as("score"))
  }

  /** The BM25 scoring frame shared by `bm25` and `bm25PerQuery`: `tf`
    * (id, term, tf) joined to each term's df, each doc's length `dl`
    * and the corpus stats (`n_docs`, `total_len`) of the token rows
    * `toks`, with the per-(doc, term) contribution
    * idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) over its columns.
    */
  private def bm25Inputs(
      toks: DataFrame, tf: DataFrame, idCol: String, k1: Double, b: Double): (DataFrame, Column) = {
    val dl = toks.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("total_len").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    (tf.join(broadcast(df), "term").join(dl, idCol).crossJoin(broadcast(stats)), contrib)
  }

  /** Reciprocal-rank fusion of two rankers' top lists (Cormack et al.
    * 2009): rrf = Σ 1/(k + rank) over the rankers that returned the
    * candidate. Inputs are (query_id, neighbor_id, rank) frames; the
    * fused score is a FIXED two-term double sum over exact integer
    * ranks — bit-deterministic in any engine — and the final order
    * ties break on neighbor id. The per-query window runs over at most
    * the two top lists (≤ 2·topN rows per query), key-partitioned.
    */
  def rrfFuse(
      a: DataFrame, bRanks: DataFrame, kRrf: Int, topN: Int): DataFrame = {
    val fused = a.select(col("query_id"), col("neighbor_id"), col("rank").as("rank_a"))
      .join(
        bRanks.select(col("query_id"), col("neighbor_id"), col("rank").as("rank_b")),
        Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kRrf) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rank_b")), lit(0.0)))
    val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("neighbor_id"))
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** term → (df, first `maxPostings` doc ids ascending, as a string).
    *
    * The cap bounds what any single task materializes; a production
    * index would instead range-partition postings by (term, id) and
    * write them sharded — this is the bounded, driver-checkable form.
    */
  def invertedIndex(
      docs: DataFrame, idCol: String, textCol: String, maxPostings: Int): DataFrame =
    termFreqs(docs, idCol, textCol)
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(slice(sort_array(collect_set(col(idCol))), 1, maxPostings), ",")
          .as("postings"))
}
