package graft.queries

import graft.Tables
import graft.llm.{Bpe, Classifier, Corpus, Dedup, Multimodal, Pca, Retrieval, Similarity, Sketches, TextAnalysis, Unigram}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** LLM-training-data pipeline queries over documents.parquet and
  * embeddings.parquet: dedup (exact / MinHash-LSH / SimHash / n-gram
  * Jaccard / embedding-cosine), similarity search (brute-force + LSH),
  * text analysis, and multimodal plumbing.
  *
  * Oracle notes: the MinHash query's oracle is the EXACT all-true-pairs
  * answer — legitimate because at J≥0.8 with 32 bands × 4 rows the
  * per-pair miss probability is (1−0.8⁴)³² ≈ 5e-8. The SimHash and
  * LSH-ANN queries use md5-derived hashes/hyperplanes precisely so the
  * DuckDB oracle can REPLAY the whole approximate algorithm (bands,
  * buckets, ranks) — every query in this family is value-checked, none
  * ship rows-only.
  *
  * Group averages sum DECIMAL-cast per-doc values (never raw doubles)
  * so results are order-independent — same rule as the relational
  * family.
  */
object LlmQueries {

  private def davg6(perDoc: Column): Column =
    round(sum(round(perDoc, 6).cast(DecimalType(18, 6))).cast("double") / count(lit(1)), 6)

  /** The NB classifier's weak seed labels (SQL: [[NbSeedSources]]):
    * src0-4 positive, src15-19 negative.
    */
  private[queries] val NbPositive = Seq("src0", "src1", "src2", "src3", "src4")
  private[queries] val NbSeedSet = NbPositive ++ Seq("src15", "src16", "src17", "src18", "src19")

  /** The labelled seed of `docs` (label 1 = positive source) with the
    * 64-bucket NB model and class prior trained on it — q_l59, q_l80
    * and q_st16 (which passes its standing corpus).
    */
  private[queries] def nbSeedModel(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val seed = docs
      .filter(col("source").isin(NbSeedSet: _*))
      .withColumn("label", col("source").isin(NbPositive: _*).cast("int"))
    (seed, Classifier.nbTrain(seed, "text", "label", buckets = 64),
      Classifier.nbPrior(seed, "label"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- exact dedup
    QueryDef(
      "q_l1_exact_dedup", "LLM-dedup-exact A8",
      Some("""WITH aug AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 100000, upper(text) || '  ' FROM documents),
             |fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
             |       FROM aug)
             |SELECT count(*) AS n_docs, count(DISTINCT f) AS n_unique,
             |       (SELECT count(*) FROM (SELECT f FROM fp GROUP BY f HAVING count(*) > 1) t)
             |         AS n_dup_groups
             |FROM fp""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val aug = docs.unionByName(docs.select(
          (col("doc_id") + 100000).as("doc_id"), concat(upper(col("text")), lit("  ")).as("text")))
        val fp = aug.select(col("doc_id"), Dedup.exactFingerprint(col("text")).as("f"))
        val dupGroups = fp.groupBy("f").count().filter(col("count") > 1)
          .agg(count(lit(1)).as("n_dup_groups"))
        fp.agg(count(lit(1)).as("n_docs"), countDistinct(col("f")).as("n_unique"))
          .crossJoin(dupGroups)
      }),

    // ---------------------------------------------------------------- MinHash+LSH near-dup (scale path)
    QueryDef(
      "q_l2_minhash_neardup", "LLM-dedup-minhash-lsh",
      Some(s"""WITH $shingleSizesOracleCtes,
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |${jaccardOracleTail("pairs", "0.8")}""".stripMargin),
      (s, dir) =>
        Dedup.minhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
            shingleN = 3, perms = 128, bands = 32, threshold = 0.8)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")),

    // ---------------------------------------------------------------- exact n-gram Jaccard (rare-shingle sketch)
    QueryDef(
      "q_l3_ngram_jaccard", "LLM-dedup-ngram-jaccard",
      // replays the rare-shingle sketch: doc-frequency cap (≤500) →
      // 16 rarest kept shingles per doc by (df asc, shingle asc — both
      // engines compare strings as raw UTF-8 bytes) → pairs sharing
      // ≥ min(2, either side's sketch size) → exact kept-set
      // intersection for candidates only.
      Some(s"""WITH $shingleOracleCtes,
             |freq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
             |kept AS (SELECT h.doc_id, h.s, f.df FROM sh h JOIN freq f USING (s)
             |         WHERE f.df <= 500),
             |ordered AS (SELECT doc_id, s,
             |              row_number() OVER (PARTITION BY doc_id ORDER BY df, s) AS rn
             |            FROM kept),
             |${sketchJaccardOracle("s", "0.8")}""".stripMargin),
      (s, dir) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
            shingleN = 3, threshold = 0.8, maxDocFreq = 500)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")),

    // ---------------------------------------------------------------- SimHash near-dup (md5 token hash → full oracle)
    QueryDef(
      "q_l4_simhash_neardup", "LLM-dedup-simhash",
      // exact replay of the algorithm: md5-derived token hashes → bit
      // votes → 4×16-bit band blocking → Hamming via xor+bit_count
      Some(s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
             |              FROM documents),
             |${simhashBandsOracleCtes("toks")},
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             |                a.sg AS sa, c.sg AS sc
             |         FROM bands a JOIN bands c
             |           ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id)
             |SELECT id_a, id_b, CAST(bit_count(xor(sa, sc)) AS BIGINT) AS hamming
             |FROM cand WHERE bit_count(xor(sa, sc)) <= 8
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) =>
        Dedup.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text", maxDistance = 8)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("id_a", "id_b")),

    // ---------------------------------------------------------------- brute-force cosine top-k
    QueryDef(
      "q_l5_cosine_topk", "LLM-ann-bruteforce",
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |           FROM embeddings),
             |${cosineScoredOracleCte("q.vec_id < 20 AND q.vec_id <> c.vec_id")}
             |${cosineRankOracle("query_id, rank, neighbor_id, score", "rank <= 5 ORDER BY query_id, rank")}""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(
            emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", k = 5, scale = 3)
          .orderBy("query_id", "rank")
      }),

    // ---------------------------------------------------------------- LSH-bucketed ANN (md5 planes → full oracle)
    QueryDef(
      "q_l6_ann_lsh", "LLM-ann-lsh",
      // exact replay: md5-derived hyperplanes → sign-bit buckets →
      // within-bucket cosine top-k, identical fp accumulation order
      Some(s"""${lshBucketOracleCtes()},
             |${cosineScoredOracleCte("q.bucket = c.bucket AND q.vec_id < 20 AND q.vec_id <> c.vec_id")}
             |${cosineRankOracle("query_id, rank, neighbor_id, score", "rank <= 5 ORDER BY query_id, rank")}""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
            k = 5, nPlanes = 4)
          .orderBy("query_id", "rank")
      }),

    // ---------------------------------------------------------------- multi-probe LSH ANN (Hamming<=1 probing)
    QueryDef(
      "q_l6b_ann_lsh_multiprobe", "LLM-ann-lsh (multi-probe)",
      // same md5 hyperplane buckets as q_l6, but each query also scans
      // every bucket ONE sign-bit away (nPlanes+1 probes): measured at
      // sf0.1, single-probe recall@5 is 0.09 vs exact brute force —
      // multi-probe is the recall lever, and the oracle's
      // bit_count(xor) <= 1 join replays the probe set exactly.
      Some(s"""${lshBucketOracleCtes()},
             |${cosineScoredOracleCte(
               "bit_count(xor(q.bucket, c.bucket)) <= 1 AND q.vec_id < 20 AND q.vec_id <> c.vec_id")}
             |${cosineRankOracle("query_id, rank, neighbor_id, score", "rank <= 5 ORDER BY query_id, rank")}""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopKMultiProbe(emb.filter(col("vec_id") < 20), emb,
            "vec_id", "embedding", k = 5, nPlanes = 4)
          .orderBy("query_id", "rank")
      }),

    // ---------------------------------------------------------------- IVF-bucketed ANN (md5 centroids → full oracle)
    QueryDef(
      "q_l12_ann_ivf", "LLM-ann-ivf",
      // exact replay: fixed centroids → nearest-cell assignment (corpus)
      // and 2-cell probing (queries) → within-cell cosine top-k
      Some(s"""WITH ${centroidsOracleCtes("cents", "cl")},
             |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |      FROM embeddings),
             |${centroidDistOracleCte("dists", "cl")},
             |ranked AS (SELECT vec_id, c,
             |             row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS r
             |           FROM dists),
             |cc AS (SELECT vec_id, c FROM ranked WHERE r = 1),
             |qc AS (SELECT vec_id, c FROM ranked WHERE r <= 2 AND vec_id < 20),
             |scored AS (
             |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |         ${cosineOracle("vq.e", "vn.e")} AS score
             |  FROM qc q JOIN cc n ON n.c = q.c AND n.vec_id <> q.vec_id
             |  JOIN v vq ON vq.vec_id = q.vec_id JOIN v vn ON vn.vec_id = n.vec_id)
             |${cosineRankOracle("query_id, rank, neighbor_id, score", "rank <= 5 ORDER BY query_id, rank")}""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
            k = 5, nCells = 8, nProbe = 2)
          .orderBy("query_id", "rank")
      }),

    // ---------------------------------------------------------------- embedding-cosine near-dup
    QueryDef(
      "q_l7_cosine_neardup", "LLM-dedup-cosine",
      Some(s"""WITH aug AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 1000000000, list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
             |  FROM embeddings WHERE vec_id < 50),
             |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM aug),
             |pairs AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |         ${cosineOracle("a.e", "b.e")} AS score
             |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
             |SELECT id_a, id_b, score FROM pairs WHERE score >= 0.9
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => {
        // corpus + planted exact-direction duplicates (×2-scaled copies)
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
        val aug = emb.unionByName(emb.filter(col("vec_id") < 50).select(
          (col("vec_id") + 1000000000L).as("vec_id"),
          transform(col("embedding"), x => (x * 2).cast("float")).as("embedding")))
        Similarity.cosineNearDupPairs(aug, "vec_id", "embedding", threshold = 0.9, nPlanes = 6)
          .orderBy("id_a", "id_b")
      }),

    // ---------------------------------------------------------------- text quality scoring
    QueryDef(
      "q_l8_text_quality", "LLM-text-quality",
      Some("""WITH t AS (
             |  SELECT lang, string_split_regex(trim(text), '\s+') AS w, text FROM documents),
             |per AS (
             |  SELECT lang, len(w) AS n,
             |    CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','for')))
             |         AS DOUBLE) / len(w) AS stopratio,
             |    CAST(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS DOUBLE)
             |      / len(w) AS avgtok
             |  FROM t),
             |scored AS (
             |  SELECT lang, n, stopratio,
             |    round(least(n / 100.0, 1.0) * 0.4 + (1.0 - stopratio) * 0.3
             |          + least(avgtok / 8.0, 1.0) * 0.3, 6) AS quality
             |  FROM per)
             |SELECT lang, count(*) AS n_docs,
             |  round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS avg_tokens,
             |  round(CAST(sum(CAST(round(stopratio, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             |    AS avg_stopword_ratio,
             |  round(CAST(sum(CAST(round(quality, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             |    AS avg_quality
             |FROM scored GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("lang"),
            TextAnalysis.tokenCount(col("text")).as("n"),
            TextAnalysis.stopwordRatio(col("text")).as("stopratio"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            round(sum(col("n")).cast("double") / count(lit(1)), 6).as("avg_tokens"),
            davg6(col("stopratio")).as("avg_stopword_ratio"),
            davg6(col("quality")).as("avg_quality"))
          .orderBy("lang")),

    // ---------------------------------------------------------------- token counting
    QueryDef(
      "q_l9_token_counts", "LLM-token-counting",
      Some("""SELECT source, count(*) AS n_docs,
             |CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
             |CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))) AS BIGINT)
             |  AS bpeish_tokens,
             |round(CAST(sum(length(text)) AS DOUBLE) / count(*), 6) AS avg_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("ws_tokens"),
            sum(TextAnalysis.bpeishTokenCount(col("text")).cast("long")).as("bpeish_tokens"),
            round(sum(length(col("text")).cast("long")).cast("double") / count(lit(1)), 6)
              .as("avg_chars"))
          .orderBy("source")),

    // ---------------------------------------------------------------- language ID
    QueryDef(
      "q_l10_langid", "LLM-langid",
      Some("""WITH t AS (SELECT lang, string_split_regex(trim(lower(text)), '\s+') AS w
             |           FROM documents),
             |sc AS (SELECT lang,
             |  len(list_filter(w, x -> x IN ('the','and','of','a','is'))) AS s_en,
             |  len(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS s_de,
             |  len(list_filter(w, x -> x IN ('le','la','les','et','est'))) AS s_fr,
             |  len(list_filter(w, x -> x IN ('el','los','las','es','y'))) AS s_es,
             |  len(list_filter(w, x -> x IN ('và','của','là','các','cho'))) AS s_vi
             |  FROM t),
             |pred AS (SELECT lang,
             |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_vi) <= 0 THEN 'und'
             |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_vi) THEN 'en'
             |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_vi) THEN 'de'
             |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_vi) THEN 'fr'
             |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_vi) THEN 'es'
             |       WHEN s_vi = greatest(s_en, s_de, s_fr, s_es, s_vi) THEN 'vi'
             |       ELSE 'und' END AS predicted
             |  FROM sc)
             |SELECT lang, predicted, count(*) AS n FROM pred
             |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin),
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("lang"), TextAnalysis.langIdMarkers(col("text")).as("predicted"))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "predicted")),

    // ---------------------------------------------------------------- document fingerprinting
    QueryDef(
      "q_l11_fingerprint", "LLM-fingerprint",
      Some("""SELECT source, count(*) AS n_docs,
             |count(DISTINCT substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16))
             |  AS n_fingerprints
             |FROM documents GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(TextAnalysis.fingerprint16(col("text"))).as("n_fingerprints"))
          .orderBy("source")),

    // ---------------------------------------------------------------- winnowing near-dup (md5 grams → full oracle)
    QueryDef(
      "q_l13_winnow_neardup", "LLM-dedup-winnowing",
      // exact replay of Schleimer et al. winnowing: md5 char-7-gram
      // hashes → window-4 minima → rare-fingerprint sketch candidates
      // (16 rarest per doc by (doc-freq asc, signed fp asc), pairs
      // sharing ≥ min(2, either side's sketch size — the short-doc
      // floor) → exact fingerprint-set intersection for candidates.
      // `(fp < 2⁶³), fp` in the sketch ORDER BY replays Spark's
      // signed-long ordering of the same md5-derived fingerprints
      // (UBIGINTs ≥ 2⁶³ are negative longs, so they sort first).
      Some(s"""WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
             |           FROM documents),
             |gi AS (SELECT doc_id, s, length(s) - 6 AS n,
             |              unnest(generate_series(1, length(s) - 6)) AS i
             |       FROM t),
             |g AS (SELECT doc_id, i, n,
             |             CAST(('0x' || substr(md5(substr(s, i, 7)), 1, 16)) AS UBIGINT) AS h
             |      FROM gi),
             |wins AS (SELECT doc_id, i, n,
             |           min(h) OVER (PARTITION BY doc_id ORDER BY i
             |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
             |         FROM g),
             |sel AS (SELECT DISTINCT doc_id, mh AS fp FROM wins WHERE n > 4 AND i <= n - 3
             |        UNION ALL
             |        SELECT doc_id, min(h) AS fp FROM g WHERE n <= 4 GROUP BY doc_id),
             |freq AS (SELECT fp, count(*) AS df FROM sel GROUP BY fp),
             |kept AS (SELECT s.doc_id, s.fp, f.df FROM sel s JOIN freq f USING (fp)
             |         WHERE f.df <= 500),
             |ordered AS (SELECT doc_id, fp,
             |              row_number() OVER (PARTITION BY doc_id
             |                                 ORDER BY df, (fp < 9223372036854775808), fp) AS rn
             |            FROM kept),
             |${sketchJaccardOracle("fp", "0.5")}""".stripMargin),
      (s, dir) =>
        Dedup.winnowNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
            k = 7, w = 4, threshold = 0.5, maxDocFreq = 500)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")),

    // ---------------------------------------------------------------- duplicate clusters (pairs → components → keeper)
    QueryDef(
      "q_l14_dedup_clusters", "LLM-dedup-clusters (connected components)",
      // The decision step of dedup: exact-duplicate pairs (same
      // normalized-md5 fingerprint) unioned with near-dup pairs
      // (exact shingle Jaccard >= 0.8, the q_l2-verified semantics),
      // connected components over the union graph, one cluster row per
      // component labeled by its minimum doc_id (= the keeper; every
      // other member is dropped). The oracle computes components as
      // min reachable id via a recursive CTE — a different algorithm
      // arriving at the same fixpoint, so the propagation loop is
      // value-checked, not replayed.
      Some(s"""$dupComponentsOracleCtes
             |SELECT cluster_id, count(*) AS n_docs, CAST(sum(id) AS BIGINT) AS id_sum
             |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cc = Dedup.connectedComponents(
          Dedup.nearOrExactPairs(docs, "doc_id", "text"), "id_a", "id_b")
        cc.groupBy(col("comp").as("cluster_id"))
          .agg(count(lit(1)).as("n_docs"), sum("id").cast("long").as("id_sum"))
          .orderBy("cluster_id")
      }),

    // ---------------------------------------------------------------- quality-aware cluster keeper selection
    QueryDef(
      "q_l50_cluster_keeper", "LLM-dedup-keeper (best copy per cluster)",
      // q_l14 keeps each cluster's MIN id; production pipelines keep
      // the BEST copy — the member with the highest quality score
      // (doc_id tiebreak). Keeper selection is the k=1 case of the
      // k-capped top-k aggregate (map-side combine, <= 1 row per
      // (cluster, partition) over the shuffle, no per-cluster window).
      // The oracle recomputes components via the recursive CTE and
      // picks the same argmax with a rank window.
      Some(s"""$dupComponentsOracleCtes,
             |qual AS (SELECT doc_id,
             |    least(len(w) / 100.0, 1.0) * 0.4 +
             |      (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','for')))
             |             AS DOUBLE) / len(w)) * 0.3 +
             |      least((CAST(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS DOUBLE)
             |             / len(w)) / 8.0, 1.0) * 0.3 AS quality
             |  FROM toks),
             |m AS (SELECT comp.cluster_id, comp.id, qual.quality
             |      FROM comp JOIN qual ON qual.doc_id = comp.id),
             |k AS (SELECT cluster_id, id AS keeper_id, quality,
             |        row_number() OVER (PARTITION BY cluster_id
             |                           ORDER BY quality DESC, id) AS rn FROM m)
             |SELECT k.cluster_id, n.n_docs, k.keeper_id,
             |       CAST(floor(k.quality * 1e6) AS BIGINT) AS keeper_q_micro
             |FROM k JOIN (SELECT cluster_id, count(*) AS n_docs FROM m GROUP BY 1) n
             |USING (cluster_id)
             |WHERE rn = 1 ORDER BY cluster_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cc = Dedup.connectedComponents(
          Dedup.nearOrExactPairs(docs, "doc_id", "text"), "id_a", "id_b")
        // RAW score for ordering and output (rounded scores can flip
        // cross-engine on exact halves — TextAnalysis.qualityScoreRaw)
        val q = docs.select(col("doc_id"),
          graft.llm.TextAnalysis.qualityScoreRaw(col("text")).as("quality"))
        val m = cc.join(q, cc("id") === q("doc_id"))
          .select(col("comp"), col("id"), col("quality"))
          .localCheckpoint(false) // consumed by the count agg AND the top-k agg
        val n = m.groupBy("comp").agg(count(lit(1)).as("n_docs"))
        graft.operators.TopK.groupedTopKAgg(m, Seq("comp"), "quality", "id", 1)
          .join(n, Seq("comp"))
          .select(col("comp").as("cluster_id"), col("n_docs"),
            col("id").as("keeper_id"),
            floor(col("quality") * 1e6).cast("long").as("keeper_q_micro"))
          .orderBy("cluster_id")
      }),

    // ---------------------------------------------------------------- dedup decision applied: the shipped corpus
    QueryDef(
      "q_l15_dedup_corpus", "LLM-dedup-corpus (cluster keepers applied)",
      // q_l14 turned pairs into clusters; this composes the full
      // decision into the actual FILTERED CORPUS a training pipeline
      // ships: keep each cluster's minimum doc_id and every unpaired
      // doc, drop the rest. The oracle derives the same loser set from
      // the recursive-CTE components (members ≠ their component min)
      // and anti-joins it — different algorithm, same corpus.
      Some(s"""$dupComponentsOracleCtes,
             |losers AS (SELECT id FROM comp WHERE id <> cluster_id),
             |kept AS (SELECT * FROM documents
             |         WHERE doc_id NOT IN (SELECT id FROM losers))
             |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS bytes_kept
             |FROM kept GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.dedupCorpus(docs, "doc_id",
            Dedup.nearOrExactPairs(docs, "doc_id", "text"), "id_a", "id_b")
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(octet_length(col("text"))).cast("long").as("bytes_kept"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- multimodal metadata + stub decode
    QueryDef(
      "q_m1_media_meta", "LLM-multimodal-meta",
      // REAL header decode: each doc becomes a valid PNG (even doc_id)
      // or GIF89a (odd) byte stream with dimensions derived from
      // doc_id; decodeImage then parses the dimensions BACK out of the
      // raw bytes (big-endian IHDR ints / little-endian GIF shorts).
      // The oracle replays the construction in closed form — sum_width/
      // sum_height only match if the byte-level parse recovered every
      // dimension exactly. Header sizes: PNG magic+IHDR = 29 bytes,
      // GIF89a+dims = 10.
      Some("""SELECT source, count(*) AS n,
             |CAST(sum(octet_length(encode(coalesce(text, ''))) + CASE WHEN doc_id % 2 = 0 THEN 29 ELSE 10 END)
             |     AS BIGINT) AS total_bytes,
             |count(DISTINCT struct_pack(p := doc_id % 2, w := doc_id % 640,
             |                           h := doc_id % 480, t := coalesce(text, ''))) AS n_checksums,
             |CAST(sum(doc_id % 640 + 1) AS BIGINT) AS sum_width,
             |CAST(sum(doc_id % 480 + 1) AS BIGINT) AS sum_height,
             |CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_png
             |FROM documents GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val w = (col("doc_id") % 640 + 1).cast("int")
        val h = (col("doc_id") % 480 + 1).cast("int")
        // coalesce: a NULL text would null the whole payload concat and
        // diverge from the oracle's per-row closed form — an empty body
        // is still a valid PNG/GIF header stream
        val body = coalesce(col("text"), lit(""))
        val payload = when(col("doc_id") % 2 === 0,
            Multimodal.pngPayload(w, h, body))
          .otherwise(Multimodal.gifPayload(w, h, body))
        Tables.documents(s, dir)
          .select(col("source"), Multimodal.payloadMeta(payload).as("meta"),
            Multimodal.decodeImage(payload).as("img"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n"),
            sum(col("meta.n_bytes").cast("long")).as("total_bytes"),
            countDistinct(col("meta.checksum")).as("n_checksums"),
            sum(col("img.width").cast("long")).as("sum_width"),
            sum(col("img.height").cast("long")).as("sum_height"),
            sum(when(col("img.format") === "png", 1L).otherwise(0L)).as("n_png"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- multimodal frame sampling
    QueryDef(
      "q_m2_frame_sample", "LLM-multimodal-frames",
      Some("""SELECT source, count(*) AS n,
             |CAST(sum(CAST(floor((octet_length(encode(text)) - 1) / 256) + 1 AS BIGINT)) AS BIGINT)
             |  AS total_frames,
             |CAST(sum(CAST(floor((floor((octet_length(encode(text)) - 1) / 256) + 1 - 1) / 4) + 1
             |     AS BIGINT)) AS BIGINT) AS sampled_frames,
             |count(DISTINCT md5(substr(text, 1, 256))) AS first_frame_checksums
             |FROM documents GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val payload = Multimodal.asPayload(col("text"))
        Tables.documents(s, dir)
          .select(col("source"),
            Multimodal.frameCount(payload, 256).as("frames"),
            Multimodal.sampledFrameCount(payload, 256, 4).as("sampled"),
            Multimodal.firstFrameChecksum(payload, 256).as("ff"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(col("frames")).cast("long").as("total_frames"),
            sum(col("sampled")).cast("long").as("sampled_frames"),
            countDistinct(col("ff")).as("first_frame_checksums"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- multimodal full pixel decode
    QueryDef(
      "q_m3_pixel_decode", "LLM-multimodal-pixels",
      // REAL pixel decode, end to end: each doc becomes a COMPLETE
      // 8-bit grayscale PNG (CRC-stamped chunks, zlib-deflated
      // scanlines, all five PNG filter types round-robin by row) whose
      // row y is the constant byte (doc_id + y) % 256;
      // decodePngPixels then walks chunks, checks CRCs, INFLATES and
      // DE-FILTERS the scanlines back to pixels. The oracle replays
      // the pixel sums in closed form — with h <= 48 < 256 the row
      // value sequence wraps mod 256 at most once, so
      // sum_y (a+y)%256 = h*a + h(h-1)/2 - 256*max(0, a+h-256) with
      // a = doc_id%256 — so pixel_values only matches if every byte of
      // every scanline was reconstructed exactly (a decoder skipping
      // Sub/Up/Average/Paeth de-filtering cannot fake it).
      Some(s"""$fixturePngOracleCte
             |SELECT source, count(*) AS n,
             |CAST(sum(w * h) AS BIGINT) AS pixel_bytes,
             |CAST(sum(w * (h * a + h * (h - 1) / 2
             |  - 256 * greatest(0, a + h - 256))) AS BIGINT) AS pixel_values,
             |CAST(sum(w) AS BIGINT) AS sum_width,
             |CAST(sum(h) AS BIGINT) AS sum_height
             |FROM d GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val payload = fixturePng
        Tables.documents(s, dir)
          .select(col("source"), Multimodal.decodePngPixels(payload).as("px"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n"),
            sum(col("px.n_pixel_bytes")).as("pixel_bytes"),
            sum(col("px.pixel_sum")).as("pixel_values"),
            sum(col("px.width").cast("long")).as("sum_width"),
            sum(col("px.height").cast("long")).as("sum_height"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- multimodal thumbnail (nearest-neighbor resize)
    QueryDef(
      "q_m4_thumbnail", "LLM-multimodal-resize",
      // 8×8 nearest-neighbor thumbnails of the q_m3 fixture PNGs,
      // resampled DURING the single-scanline decode walk (the image is
      // never materialized). Row y of doc a holds constant (a+y)%256,
      // so the thumbnail's closed form is 8·Σ_ty (a+⌊ty·h/8⌋)%256 —
      // only matched if decode, de-filter, AND the NN sampling grid
      // are all exact.
      Some(s"""$fixturePngOracleCte,
             |t AS (SELECT source, doc_id,
             |  (SELECT sum((a + (ty * h) // 8) % 256) * 8
             |   FROM (SELECT unnest(generate_series(0, 7)) AS ty)) AS thumb
             |  FROM d)
             |SELECT source, count(*) AS n,
             |CAST(sum(thumb) AS BIGINT) AS thumb_sum
             |FROM t GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val payload = fixturePng
        Tables.documents(s, dir)
          .select(col("source"),
            Multimodal.decodePngThumbSum(payload, 8, 8).as("thumb"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum(col("thumb")).as("thumb_sum"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- multimodal feature extraction (brightness histogram)
    QueryDef(
      "q_m5_image_features", "LLM-multimodal-features",
      // per-image 4-bin brightness histograms counted inside the
      // decode walk — the feature-extraction stage between decode and
      // any quality/clustering step. Row y of doc a is constant
      // (a+y)%256 across its w pixels, so the histogram's closed form
      // is w·|{y < h : ⌊((a+y)%256)/64⌋ = bin}| — matched only if
      // every reconstructed pixel landed in the right bucket.
      Some(s"""$fixturePngOracleCte,
             |r AS (SELECT source, w, ((a + ty) % 256) // 64 AS bin
             |  FROM d CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS ty)
             |  WHERE ty < h)
             |SELECT source,
             |CAST(sum(CASE WHEN bin = 0 THEN w ELSE 0 END) AS BIGINT) AS h0,
             |CAST(sum(CASE WHEN bin = 1 THEN w ELSE 0 END) AS BIGINT) AS h1,
             |CAST(sum(CASE WHEN bin = 2 THEN w ELSE 0 END) AS BIGINT) AS h2,
             |CAST(sum(CASE WHEN bin = 3 THEN w ELSE 0 END) AS BIGINT) AS h3
             |FROM r GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val payload = fixturePng
        Tables.documents(s, dir)
          .select(col("source"),
            Multimodal.decodePngHistogram(payload, 4).as("hist"))
          .groupBy("source")
          .agg(
            sum(element_at(col("hist"), 1)).as("h0"),
            sum(element_at(col("hist"), 2)).as("h1"),
            sum(element_at(col("hist"), 3)).as("h2"),
            sum(element_at(col("hist"), 4)).as("h3"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- multimodal JPEG pixel decode
    QueryDef(
      "q_m6_jpeg_decode", "LLM-multimodal-jpeg",
      // REAL baseline-JPEG decode end to end (the r9 stub, closed):
      // each doc becomes a COMPLETE grayscale JFIF JPEG — Annex-K
      // Huffman tables, all-ones quant, byte-stuffed entropy scan —
      // whose 8×8 block (by,bx) holds pixel(x,y) = base + amp·s(y)
      // with s the v=4 DCT basis scaled to ±1, base = (doc_id + 7·by
      // + 13·bx)%192 + 32, amp = (doc_id + by + bx)%16. That spectrum
      // (DC = 8·(base−128), F(4,0) = 8·amp) is exactly integral under
      // q=1, so the lossy format round-trips losslessly and the
      // oracle replays the decoded sums in closed form. pixel_values
      // is AC-blind (s sums to 0 over a block) but row0_values is
      // not: row 0 decodes to base + amp, so only a decoder that
      // Huffman-decodes the run-9 AC symbol, dequantizes, and
      // inverse-transforms exactly can match both.
      Some("""WITH d AS (SELECT source, doc_id,
             |  doc_id % 6 + 1 AS nbx, doc_id % 4 + 1 AS nby FROM documents),
             |b AS (SELECT source, doc_id, by, bx,
             |        (doc_id + 7 * by + 13 * bx) % 192 + 32 AS base,
             |        (doc_id + by + bx) % 16 AS amp
             |      FROM d
             |      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS by)
             |      CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS bx)
             |      WHERE by < nby AND bx < nbx),
             |ab AS (SELECT source, count(DISTINCT doc_id) AS n,
             |         CAST(64 * count(*) AS BIGINT) AS pixel_bytes,
             |         CAST(sum(64 * base) AS BIGINT) AS pixel_values,
             |         CAST(sum(CASE WHEN by = 0 THEN 8 * (base + amp) ELSE 0 END) AS BIGINT)
             |           AS row0_values
             |       FROM b GROUP BY source),
             |ad AS (SELECT source, CAST(sum(8 * nbx) AS BIGINT) AS sum_width,
             |         CAST(sum(8 * nby) AS BIGINT) AS sum_height
             |       FROM d GROUP BY source)
             |SELECT source, n, pixel_bytes, pixel_values, row0_values, sum_width, sum_height
             |FROM ab JOIN ad USING (source) ORDER BY source""".stripMargin),
      (s, dir) => {
        val w = ((col("doc_id") % 6 + 1) * 8).cast("int")
        val h = ((col("doc_id") % 4 + 1) * 8).cast("int")
        val payload = graft.llm.Jpeg.jpegPixelPayload(col("doc_id"), w, h)
        Tables.documents(s, dir)
          .select(col("source"), graft.llm.Jpeg.decodeJpegPixels(payload).as("px"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n"),
            sum(col("px.n_pixel_bytes")).as("pixel_bytes"),
            sum(col("px.pixel_sum")).as("pixel_values"),
            sum(col("px.row0_sum")).as("row0_values"),
            sum(col("px.width").cast("long")).as("sum_width"),
            sum(col("px.height").cast("long")).as("sum_height"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- matryoshka truncation audit
    QueryDef(
      "q_l54_matryoshka", "LLM-ann-matryoshka LLM-ann-bruteforce",
      // the modern embedding-cost lever: answer ANN from a PREFIX of
      // each vector (matryoshka truncation — 16 of 64 dims = 4× less
      // compute and shuffle bytes) and MEASURE what it costs in rank
      // agreement: per query, |top5@16d ∩ top5@64d| plus both top-1s.
      // Both rankings replay exactly (list slices + identical cosine
      // accumulation order + round(…,3), the q_l5 discipline), so the
      // agreement matrix is oracle-checked, not a recall claim.
      Some("""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS e16
             |  FROM embeddings),
             |s64 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_inner_product(q.e, c.e) /
             |      (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e))),
             |      3) AS score
             |  FROM v q JOIN v c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
             |s16 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_inner_product(q.e16, c.e16) /
             |      (sqrt(list_inner_product(q.e16, q.e16)) * sqrt(list_inner_product(c.e16, c.e16))),
             |      3) AS score
             |  FROM v q JOIN v c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
             |t64 AS (SELECT query_id, neighbor_id, rank FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, neighbor_id) AS rank FROM s64) r64 WHERE rank <= 5),
             |t16 AS (SELECT query_id, neighbor_id, rank FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, neighbor_id) AS rank FROM s16) r16 WHERE rank <= 5),
             |o16 AS (SELECT query_id, min(neighbor_id) AS top1_trunc FROM t16
             |        WHERE rank = 1 GROUP BY 1),
             |ov AS (SELECT t64.query_id,
             |         CAST(count(t16.neighbor_id) AS BIGINT) AS n_overlap,
             |         min(CASE WHEN t64.rank = 1 THEN t64.neighbor_id END) AS top1_full
             |       FROM t64 LEFT JOIN t16
             |         ON t16.query_id = t64.query_id AND t16.neighbor_id = t64.neighbor_id
             |       GROUP BY t64.query_id)
             |SELECT ov.query_id, ov.n_overlap, ov.top1_full, o16.top1_trunc
             |FROM ov JOIN o16 USING (query_id) ORDER BY query_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val emb16 = emb.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("emb16"))
        val q = col("vec_id") < 20
        val full = Similarity.bruteForceTopK(
          emb.filter(q), emb, "vec_id", "embedding", k = 5, scale = 3)
        val trunc = Similarity.bruteForceTopK(
          emb16.filter(q), emb16, "vec_id", "emb16", k = 5, scale = 3)
        full.alias("f")
          .join(trunc.alias("t"),
            col("f.query_id") === col("t.query_id") &&
              col("f.neighbor_id") === col("t.neighbor_id"), "left")
          .groupBy(col("f.query_id").as("query_id"))
          .agg(
            count(col("t.neighbor_id")).as("n_overlap"),
            min(when(col("f.rank") === 1, col("f.neighbor_id"))).as("top1_full"))
          .join(trunc.filter(col("rank") === 1)
            .groupBy("query_id").agg(min("neighbor_id").as("top1_trunc")), "query_id")
          .select("query_id", "n_overlap", "top1_full", "top1_trunc")
          .orderBy("query_id")
      }),

    // ---------------------------------------------------------------- cross-source contamination matrix
    QueryDef(
      "q_l55_contamination_matrix", "LLM-corpus-decontaminate LLM-dedup-substring",
      // the train/eval leakage audit across corpus slices: for every
      // source pair, the number of DISTINCT 8-grams they share. Shape
      // at scale: distinct (gram, source) pairs (one partial-agg
      // shuffle), then per-gram source self-join — bounded by the
      // source count squared per gram, never by corpus size.
      Some("""WITH toks AS (SELECT doc_id, source,
             |         string_split_regex(trim(text), '\s+') AS w
             |       FROM documents WHERE text IS NOT NULL),
             |g0 AS (SELECT source, w, unnest(generate_series(0, len(w) - 8)) AS i
             |       FROM toks WHERE len(w) >= 8),
             |g AS (SELECT DISTINCT source, array_to_string(w[i+1:i+8], ' ') AS gram
             |      FROM g0),
             |p AS (SELECT a.source AS source_a, b.source AS source_b
             |      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source)
             |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared_grams
             |FROM p GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("source"), split(trim(col("text")), "\\s+").as("__w"))
          .filter(size(col("__w")) >= 8)
        val g = toks.select(col("source"),
            explode(transform(
              sequence(lit(0), size(col("__w")) - 8),
              i => concat_ws(" ", slice(col("__w"), i + 1, lit(8))))).as("gram"))
          .distinct()
        g.alias("a")
          .join(g.alias("b"),
            col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("n_shared_grams"))
          .orderBy("source_a", "source_b")
      }),

    // ---------------------------------------------------------------- Unicode text normalization
    QueryDef(
      "q_l53_normalize", "LLM-text-normalize",
      // content-preserving canonicalization (NFC + control-strip +
      // whitespace squeeze): each doc gets deterministic dirt
      // appended — a BEL control char in double spaces (doc_id%3=0)
      // and a decomposed e+COMBINING-ACUTE that NFC must compose to
      // one codepoint (doc_id%3=1) — so the operator does real work
      // on every class of fix. Both engines implement Unicode NFC
      // (java.text.Normalizer vs utf8proc), so normalized lengths and
      // change counts replay exactly.
      Some("""WITH d AS (SELECT source, doc_id,
             |  coalesce(text, '') ||
             |    CASE WHEN doc_id % 3 = 0 THEN '  x' || chr(7) || 'y  '
             |         WHEN doc_id % 3 = 1 THEN ' e' || chr(769)
             |         ELSE '' END AS raw FROM documents),
             |n AS (SELECT source, doc_id, raw,
             |  trim(regexp_replace(regexp_replace(nfc_normalize(raw),
             |    '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'), '\s+', ' ', 'g')) AS norm
             |  FROM d)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN norm <> raw THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |  CAST(sum(length(norm)) AS BIGINT) AS sum_norm_len,
             |  CAST(sum(length(raw) - length(norm)) AS BIGINT) AS sum_delta
             |FROM n GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val raw = concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 3 === 0, lit("  x\u0007y  "))
            .when(col("doc_id") % 3 === 1, lit(" e\u0301")) // decomposed e + combining acute
            .otherwise(lit("")))
        Tables.documents(s, dir)
          .select(col("source"), raw.as("raw"),
            TextAnalysis.unicodeNormalize(raw).as("norm"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("norm") =!= col("raw"), 1L).otherwise(0L)).as("n_changed"),
            sum(length(col("norm"))).cast("long").as("sum_norm_len"),
            sum(length(col("raw")) - length(col("norm"))).cast("long").as("sum_delta"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- duplicate-span coverage (exact-substring dedup signal)
    QueryDef(
      "q_l51_dup_spans", "LLM-dedup-substring",
      // Lee et al. 2022 exact-substring dedup, Spark-shaped: a 5-gram
      // is duplicated when it occurs in >= 2 distinct docs; each doc's
      // covered-token count is the measured union of its duplicated
      // [pos, pos+5) spans (one sorted pass: sum of min(5, gap)).
      // dup-heavy = covered/tokens > 0.2, tested as the integer
      // cross-multiply covered*5 > tokens so no FP is involved; the
      // flagged-id sum makes the check sensitive to every per-doc
      // coverage value, not just totals.
      Some("""WITH toks AS (SELECT doc_id, source,
             |         string_split_regex(trim(text), '\s+') AS w
             |       FROM documents WHERE text IS NOT NULL),
             |sz AS (SELECT doc_id, source, len(w) AS n_tokens FROM toks WHERE len(w) >= 5),
             |g0 AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 5)) AS i
             |       FROM toks WHERE len(w) >= 5),
             |g AS (SELECT doc_id, i AS pos, array_to_string(w[i+1:i+5], ' ') AS gram
             |      FROM g0),
             |dup AS (SELECT gram FROM (SELECT gram, min(doc_id) AS lo, max(doc_id) AS hi
             |                          FROM g GROUP BY 1) WHERE lo <> hi),
             |h AS (SELECT g.doc_id, g.pos,
             |        lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS prev
             |      FROM g JOIN dup USING (gram)),
             |cov AS (SELECT doc_id,
             |          sum(CASE WHEN prev IS NULL THEN 5
             |                   ELSE least(5, pos - prev) END) AS covered
             |        FROM h GROUP BY 1)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(coalesce(covered, 0)) AS BIGINT) AS covered_tokens,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             |  CAST(sum(CASE WHEN coalesce(covered, 0) * 5 > n_tokens THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n_dup_heavy,
             |  CAST(sum(CASE WHEN coalesce(covered, 0) * 5 > n_tokens THEN doc_id ELSE 0 END)
             |       AS BIGINT) AS dup_heavy_id_sum
             |FROM sz LEFT JOIN cov USING (doc_id)
             |GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val stats = Dedup.duplicateSpanStats(docs, "doc_id", "text", 5)
        stats.join(docs.select("doc_id", "source"), Seq("doc_id"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("covered")).cast("long").as("covered_tokens"),
            sum(col("n_tokens")).cast("long").as("total_tokens"),
            sum(when(col("covered") * 5 > col("n_tokens"), 1L).otherwise(0L))
              .as("n_dup_heavy"),
            sum(when(col("covered") * 5 > col("n_tokens"), col("doc_id")).otherwise(0L))
              .cast("long").as("dup_heavy_id_sum"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- exact-substring dedup: maximal spans, fingerprinted shuffle
    QueryDef(
      "q_l51b_dup_span_cut", "LLM-dedup-substring (maximal spans, fingerprint path)",
      // q_l51's scale upgrade (the NormalizeSalaryExpr pattern: new
      // fast path, old form stays as the executable spec — DedupSpec
      // pins sum(span_len) per doc == duplicateSpanStats.covered):
      // gram strings never shuffle — each position ships a 60-bit md5
      // fingerprint, and duplicated seeds chain into MAXIMAL spans
      // >= 8 tokens per doc (gaps-and-islands, window bounded by doc
      // length). These are the spans a Lee et al. curation pass
      // excises, not just a coverage ratio. The oracle replays the
      // identical fingerprints, islands, and length filter.
      Some("""WITH toks AS (SELECT doc_id, source,
             |         string_split_regex(trim(text), '\s+') AS w
             |       FROM documents WHERE text IS NOT NULL),
             |g0 AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 5)) AS i
             |       FROM toks WHERE len(w) >= 5),
             |g AS (SELECT doc_id, i AS pos,
             |        CAST(('0x' || substr(md5(array_to_string(w[i+1:i+5], ' ')), 1, 15))
             |             AS UBIGINT) AS fp
             |      FROM g0),
             |dup AS (SELECT fp FROM (SELECT fp, min(doc_id) AS lo, max(doc_id) AS hi
             |                        FROM g GROUP BY 1) WHERE lo <> hi),
             |h AS (SELECT g.doc_id, g.pos,
             |        lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS prev
             |      FROM g JOIN dup USING (fp)),
             |isl AS (SELECT doc_id, pos,
             |          sum(CASE WHEN prev IS NULL OR pos - prev > 5 THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY doc_id ORDER BY pos) AS run
             |        FROM h),
             |sp AS (SELECT doc_id, run, min(pos) AS span_start,
             |         max(pos) - min(pos) + 5 AS span_len
             |       FROM isl GROUP BY 1, 2
             |       HAVING max(pos) - min(pos) + 5 >= 8)
             |SELECT d.source,
             |  count(sp.doc_id) AS n_spans,
             |  CAST(coalesce(sum(sp.span_len), 0) AS BIGINT) AS span_tokens,
             |  CAST(coalesce(max(sp.span_len), 0) AS BIGINT) AS max_span,
             |  CAST(coalesce(sum(sp.doc_id), 0) AS BIGINT) AS span_doc_id_sum
             |FROM documents d LEFT JOIN sp ON sp.doc_id = d.doc_id
             |GROUP BY d.source ORDER BY d.source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val spans = Dedup.duplicateSpans(docs, "doc_id", "text", n = 5,
          minSpan = 8)
        docs.select(col("doc_id"), col("source"))
          .join(spans, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(
            count(col("span_len")).as("n_spans"),
            coalesce(sum(col("span_len")), lit(0L)).cast("long").as("span_tokens"),
            coalesce(max(col("span_len")), lit(0L)).cast("long").as("max_span"),
            coalesce(sum(when(col("span_len").isNotNull, col("doc_id"))), lit(0L))
              .cast("long").as("span_doc_id_sum"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- multimodal GIF pixel decode (LZW)
    QueryDef(
      "q_m8_gif_decode", "LLM-multimodal-pixels",
      // REAL GIF LZW decode end to end: each doc becomes a COMPLETE
      // GIF89a — 256-entry identity-gray palette, 1-3 full-size frames
      // LZW-compressed by a real greedy-dictionary encoder, interlace
      // on odd doc_ids — where frame f row y holds constant index
      // (doc_id + 17·f + y) % 256. GIF is lossless, so the oracle
      // replays every decoded channel byte in closed form; the
      // (y+1)-weighted moment is row-permutation sensitive, so a
      // decoder that reads interlaced passes in storage order (or
      // mis-grows the LZW code width) cannot match.
      Some("""WITH d AS (SELECT source, doc_id, doc_id % 32 + 1 AS w,
             |  doc_id % 24 + 1 AS h, doc_id % 3 + 1 AS nf FROM documents),
             |r AS (SELECT source, doc_id, w, y, (doc_id + 17 * f + y) % 256 AS v
             |      FROM d
             |      CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS f)
             |      CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS y)
             |      WHERE f < nf AND y < h),
             |ar AS (SELECT source, count(DISTINCT doc_id) AS n,
             |         CAST(sum(3 * w * v) AS BIGINT) AS pixel_values,
             |         CAST(sum((y + 1) * 3 * w * v) AS BIGINT) AS row_weighted
             |       FROM r GROUP BY source),
             |ad AS (SELECT source, CAST(sum(nf) AS BIGINT) AS sum_frames,
             |         CAST(sum(w) AS BIGINT) AS sum_width,
             |         CAST(sum(h) AS BIGINT) AS sum_height
             |       FROM d GROUP BY source)
             |SELECT source, n, pixel_values, row_weighted, sum_frames, sum_width, sum_height
             |FROM ar JOIN ad USING (source) ORDER BY source""".stripMargin),
      (s, dir) => {
        val w = (col("doc_id") % 32 + 1).cast("int")
        val h = (col("doc_id") % 24 + 1).cast("int")
        val nf = (col("doc_id") % 3 + 1).cast("int")
        val payload = graft.llm.Gif.gifPixelPayload(col("doc_id"), w, h, nf)
        Tables.documents(s, dir)
          .select(col("source"), graft.llm.Gif.decodeGifPixels(payload).as("px"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n"),
            sum(col("px.pixel_sum")).as("pixel_values"),
            sum(col("px.row_weighted_sum")).as("row_weighted"),
            sum(col("px.n_frames").cast("long")).as("sum_frames"),
            sum(col("px.width").cast("long")).as("sum_width"),
            sum(col("px.height").cast("long")).as("sum_height"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- multimodal WAV audio decode + features
    QueryDef(
      "q_m9_wav_features", "LLM-multimodal-audio",
      // the audio modality: each doc becomes a COMPLETE RIFF/WAVE
      // 16-bit mono PCM clip (sample i = (doc_id + 37·i) % 65536 −
      // 32768, a full-range ramp sweep) and decodeWav parses the
      // container and computes one-pass features — Σ|v| (the RMS
      // numerator, integer-exact), channel-0 sign alternations, and
      // 64-sample frame energies vs the activity threshold (the VAD
      // silence-trimming shape). Every feature is integer arithmetic,
      // so the oracle replays the whole pipeline in closed form; the
      // zero-crossing lag and frame-energy grouping only match if the
      // PCM bytes were parsed sample-exactly.
      Some("""WITH d AS (SELECT source, doc_id, doc_id % 400 + 10 AS n,
             |  CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS rate FROM documents),
             |s AS (SELECT source, doc_id, n, i,
             |        ((doc_id + 37 * i) % 65536) - 32768 AS v
             |      FROM d CROSS JOIN (SELECT unnest(generate_series(0, 409)) AS i)
             |      WHERE i < n),
             |z AS (SELECT source, doc_id, v, i,
             |        CASE WHEN lag(v) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
             |              AND ((v < 0) <> (lag(v) OVER (PARTITION BY doc_id ORDER BY i) < 0))
             |             THEN 1 ELSE 0 END AS zc
             |      FROM s),
             |pd AS (SELECT source, doc_id, sum(abs(v)) AS sum_abs, sum(zc) AS zc
             |       FROM z GROUP BY 1, 2),
             |fr AS (SELECT source, doc_id, i // 64 AS frame,
             |         sum(CAST(v AS BIGINT) * v) AS energy
             |       FROM s GROUP BY 1, 2, 3),
             |pf AS (SELECT source, doc_id, count(*) AS nf,
             |         sum(CASE WHEN energy > 20000000000 THEN 1 ELSE 0 END) AS na
             |       FROM fr GROUP BY 1, 2)
             |SELECT source, count(*) AS n,
             |  CAST(sum(d.n) AS BIGINT) AS sum_samples,
             |  CAST(sum(d.rate) AS BIGINT) AS sum_rate,
             |  CAST(sum(sum_abs) AS BIGINT) AS sum_abs,
             |  CAST(sum(zc) AS BIGINT) AS zero_crossings,
             |  CAST(sum(nf) AS BIGINT) AS total_frames,
             |  CAST(sum(na) AS BIGINT) AS active_frames
             |FROM d JOIN pd USING (source, doc_id) JOIN pf USING (source, doc_id)
             |GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val n = (col("doc_id") % 400 + 10).cast("int")
        val rate = (lit(8000) + (col("doc_id") % 8) * 1000).cast("int")
        val payload = graft.llm.Wav.wavPayload(col("doc_id"), n, rate)
        Tables.documents(s, dir)
          .select(col("source"), graft.llm.Wav.decodeWav(payload).as("a"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n"),
            sum(col("a.n_samples").cast("long")).as("sum_samples"),
            sum(col("a.sample_rate").cast("long")).as("sum_rate"),
            sum(col("a.sum_abs")).as("sum_abs"),
            sum(col("a.zero_crossings")).as("zero_crossings"),
            sum(col("a.n_frames").cast("long")).as("total_frames"),
            sum(col("a.n_active_frames").cast("long")).as("active_frames"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- multimodal video: container walk + frame sample + decode
    QueryDef(
      "q_m10_video_sample", "LLM-multimodal-frames LLM-multimodal-pixels",
      // the video-corpus shape end to end: each doc becomes an MJPEG
      // AVI (doc_id%5+1 frames, frame f a real baseline JPEG at seed
      // doc_id+101·f from the q_m6 exact-spectrum family) and the
      // decoder walks the RIFF container, samples every 2nd frame AT
      // THE WALK (unsampled frames skipped by size, never decoded),
      // and pixel-decodes only the samples. The oracle replays the
      // sampled frames' sums in closed form — sums only match if the
      // container walk, the stride arithmetic, AND the JPEG decode of
      // each sampled frame are all exact.
      Some("""WITH d AS (SELECT source, doc_id,
             |  (doc_id % 4 + 1) * 8 AS w, (doc_id % 3 + 1) * 8 AS h,
             |  doc_id % 5 + 1 AS nfr FROM documents),
             |b AS (SELECT source, doc_id, w, h, f, by, bx,
             |        (doc_id + 101 * f + 7 * by + 13 * bx) % 192 + 32 AS base,
             |        (doc_id + 101 * f + by + bx) % 16 AS amp
             |      FROM d
             |      CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS f)
             |      CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS by)
             |      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS bx)
             |      WHERE f < nfr AND f % 2 = 0
             |        AND by < h // 8 AND bx < w // 8),
             |ab AS (SELECT source, count(DISTINCT doc_id) AS n,
             |         CAST(sum(64 * base) AS BIGINT) AS pixel_values,
             |         CAST(sum(CASE WHEN by = 0 THEN 8 * (base + amp) ELSE 0 END)
             |              AS BIGINT) AS row0_values
             |       FROM b GROUP BY source),
             |ad AS (SELECT source, CAST(sum(nfr) AS BIGINT) AS sum_frames,
             |         CAST(sum((nfr - 1) // 2 + 1) AS BIGINT) AS sum_sampled,
             |         CAST(sum(w) AS BIGINT) AS sum_width,
             |         CAST(sum(h) AS BIGINT) AS sum_height
             |       FROM d GROUP BY source)
             |SELECT source, n, pixel_values, row0_values, sum_frames, sum_sampled,
             |       sum_width, sum_height
             |FROM ab JOIN ad USING (source) ORDER BY source""".stripMargin),
      (s, dir) => {
        val w = ((col("doc_id") % 4 + 1) * 8).cast("int")
        val h = ((col("doc_id") % 3 + 1) * 8).cast("int")
        val nfr = (col("doc_id") % 5 + 1).cast("int")
        val payload = graft.llm.Video.aviPayload(col("doc_id"), w, h, nfr)
        Tables.documents(s, dir)
          .select(col("source"),
            graft.llm.Video.decodeVideoSampled(payload, stride = 2).as("v"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n"),
            sum(col("v.pixel_sum")).as("pixel_values"),
            sum(col("v.row0_sum")).as("row0_values"),
            sum(col("v.n_frames").cast("long")).as("sum_frames"),
            sum(col("v.n_sampled").cast("long")).as("sum_sampled"),
            sum(col("v.width").cast("long")).as("sum_width"),
            sum(col("v.height").cast("long")).as("sum_height"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- perceptual image dedup (dHash)
    QueryDef(
      "q_m11_phash_dedup", "LLM-multimodal-phash-dedup",
      // perceptual near-dup image dedup: every doc's fixture PNG gets
      // a 56-bit vertical-gradient dHash DURING the decode walk, then
      // the dedup index: exact groups by hash (keeper = min id) plus,
      // per group, its BAND-MATE groups within Hamming≤16 via a
      // 4×14-bit SimHash-style band join over the DISTINCT hashes
      // (guaranteed complete only to Hamming≤3 — a pair differing in
      // all four bands is not a candidate; the standard banding
      // recall trade, replayed identically by the oracle) —
      // candidate work scales with distinct perceptual content, not
      // corpus size. Row y of doc a holds (a+y)%256, so the hash's
      // closed form is the row-comparison bits at the 8-grid NN rows;
      // the oracle replays hash, groups, bands, and neighbor counts.
      Some("""WITH d AS (SELECT doc_id, doc_id % 256 AS a, doc_id % 48 + 1 AS h
             |  FROM documents),
             |g AS (SELECT doc_id, ty, (a + (ty * h) // 8) % 256 AS rv
             |  FROM d CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS ty) s),
             |hashes AS (SELECT c.doc_id,
             |    CAST(sum(CASE WHEN n.rv > c.rv
             |                  THEN CAST(255 AS BIGINT) << (8 * c.ty)
             |                  ELSE 0 END) AS BIGINT) AS hash
             |  FROM g c JOIN g n ON n.doc_id = c.doc_id AND n.ty = c.ty + 1
             |  WHERE c.ty < 7 GROUP BY c.doc_id),
             |grp AS (SELECT hash, count(*) AS n_copies, min(doc_id) AS keeper_id
             |  FROM hashes GROUP BY hash),
             |bands AS (SELECT hash, b, (hash >> (14 * b)) & 16383 AS bv
             |  FROM grp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) s),
             |near AS (SELECT h1, count(*) AS near_groups FROM (
             |    SELECT DISTINCT x.hash AS h1, y.hash AS h2
             |    FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv
             |                             AND x.hash <> y.hash
             |    WHERE bit_count(xor(x.hash, y.hash)) <= 16) GROUP BY h1)
             |SELECT g2.hash, g2.n_copies, g2.keeper_id,
             |  coalesce(near.near_groups, 0) AS near_groups
             |FROM grp g2 LEFT JOIN near ON near.h1 = g2.hash
             |WHERE g2.n_copies >= 2
             |ORDER BY g2.hash""".stripMargin),
      (s, dir) => {
        val payload = fixturePng
        val grp = Tables.documents(s, dir)
          .select(col("doc_id"), Multimodal.decodePngDHash(payload).as("hash"))
          .groupBy("hash")
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
          .localCheckpoint(false) // consumed by bands AND the output join
        val bands = grp.select(col("hash"), explode(array((0 until 4).map(b =>
            struct(lit(b).as("b"),
              shiftright(col("hash"), 14 * b).bitwiseAND(lit(16383L)).as("bv"))): _*))
            .as("bb"))
          .select(col("hash"), col("bb.b").as("b"), col("bb.bv").as("bv"))
        val near = bands.as("x").join(bands.as("y"),
            col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
              col("x.hash") =!= col("y.hash"))
          .filter(bit_count(col("x.hash").bitwiseXOR(col("y.hash"))) <= 16)
          .select(col("x.hash").as("h1"), col("y.hash").as("h2")).distinct()
          .groupBy("h1").agg(count(lit(1)).as("near_groups"))
        grp.filter(col("n_copies") >= 2)
          .join(near, col("hash") === col("h1"), "left")
          .select(col("hash"), col("n_copies"), col("keeper_id"),
            coalesce(col("near_groups"), lit(0L)).as("near_groups"))
          .orderBy("hash")
      }),

    // ---------------------------------------------------------------- multimodal mixed-container dispatch
    QueryDef(
      "q_m7_mixed_dispatch", "LLM-multimodal-meta",
      // a REALISTIC media column is format-heterogeneous: each doc
      // becomes PNG / GIF / JPEG / raw-text by doc_id % 4 and the
      // query groups by the format decodeImage DETECTED (never by the
      // construction) — so it only matches if the magic-byte dispatch
      // classifies every payload right, all three header parsers
      // recover exact dims, and unrecognized bytes surface as
      // 'unknown' with NULL dims (the r10 no-stub contract; sum over
      // an all-null group is NULL in both engines).
      Some("""WITH d AS (SELECT doc_id, doc_id % 4 AS m,
             |  doc_id % 64 + 1 AS w, doc_id % 48 + 1 AS h FROM documents)
             |SELECT CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
             |              WHEN 2 THEN 'jpeg' ELSE 'unknown' END AS format,
             |count(*) AS n,
             |CAST(sum(CASE WHEN m <= 2 THEN w END) AS BIGINT) AS sum_width,
             |CAST(sum(CASE WHEN m <= 2 THEN h END) AS BIGINT) AS sum_height
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val m = col("doc_id") % 4
        val w = (col("doc_id") % 64 + 1).cast("int")
        val h = (col("doc_id") % 48 + 1).cast("int")
        val body = coalesce(col("text"), lit(""))
        val payload = when(m === 0, Multimodal.pngPayload(w, h, body))
          .when(m === 1, Multimodal.gifPayload(w, h, body))
          .when(m === 2, graft.llm.Jpeg.jpegPixelPayload(col("doc_id"), w, h))
          .otherwise(Multimodal.asPayload(concat(lit("txt:"), body)))
        Tables.documents(s, dir)
          .select(Multimodal.decodeImage(payload).as("img"))
          .groupBy(col("img.format").as("format"))
          .agg(count(lit(1)).as("n"),
            sum(col("img.width").cast("long")).as("sum_width"),
            sum(col("img.height").cast("long")).as("sum_height"))
          .orderBy("format")
      }),

    // ---------------------------------------------------------------- deterministic split assignment
    QueryDef(
      "q_l16_split_assign", "LLM-corpus-split",
      // id_sum makes the check sensitive to every single assignment,
      // not just the split sizes. Bounds are literal 0.9/0.95 on both
      // sides (never weight sums — see Corpus.assignSplit).
      Some("""WITH f AS (SELECT doc_id,
             |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
             |    / 4294967296.0 AS frac
             |  FROM documents)
             |SELECT CASE WHEN frac < 0.9 THEN 'train'
             |            WHEN frac < 0.95 THEN 'validation'
             |            ELSE 'test' END AS split,
             |count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        Corpus.assignSplit(Tables.documents(s, dir), "doc_id",
            Seq("train" -> 0.9, "validation" -> 0.95), "test")
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .orderBy("split")),

    // ---------------------------------------------------------------- token-budget shard packing
    QueryDef(
      "q_l17_pack_shards", "LLM-corpus-shards",
      // replays the global md5-order exclusive prefix sum: shard_id =
      // floor(tokens-before-this-doc / 2048); per-shard doc count,
      // token total, and id_sum pin the exact assignment.
      Some(s"""$packShardsOracleCtes
             |$shardSumsOracle""".stripMargin),
      (s, dir) =>
        Corpus.packShards(Tables.documents(s, dir), "doc_id", "text", 2048L)
          .groupBy("shard_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("shard_tokens"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .orderBy("shard_id")),

    // ---------------------------------------------------------------- context-window boundary map
    QueryDef(
      "q_l35_pack_boundaries", "LLM-corpus-boundaries",
      // the per-document boundary map inside packed context windows:
      // (shard, doc, start offset within the shard, length) — what a
      // training loader needs to mask attention across document
      // boundaries. Same global md5-order prefix sum as q_l17, with
      // the offsets exposed instead of aggregated away; docs may
      // overhang their shard's budget (overflow policy belongs to the
      // consumer). First five shards only, to keep the gate output
      // small — the offsets are global either way.
      Some(s"""$packStartsOracleCtes
             |SELECT CAST(floor(token_start / 2048.0) AS BIGINT) AS shard_id, doc_id,
             |token_start - CAST(floor(token_start / 2048.0) AS BIGINT) * 2048
             |  AS start_in_shard,
             |CAST(n_tokens AS BIGINT) AS n_tokens
             |FROM c WHERE floor(token_start / 2048.0) < 5
             |ORDER BY shard_id, start_in_shard, doc_id""".stripMargin),
      (s, dir) =>
        Corpus.packShards(Tables.documents(s, dir), "doc_id", "text", 2048L)
          .filter(col("shard_id") < 5)
          .select(col("shard_id"), col("doc_id"),
            (col("token_start") - col("shard_id") * 2048L).as("start_in_shard"),
            col("n_tokens"))
          .orderBy("shard_id", "start_in_shard", "doc_id")),

    // ---------------------------------------------------------------- PII redaction
    QueryDef(
      "q_l18_pii_redact", "LLM-corpus-pii",
      // every doc gets a synthetic doc_id-derived email + phone
      // appended (the corpus itself is synthetic and PII-free), then
      // both engines mask with the same RE2-safe patterns; the
      // distinct-md5 count and total length pin the masked strings
      // byte-for-byte.
      Some("""WITH aug AS (SELECT source,
             |  text || ' Contact: user' || CAST(doc_id AS VARCHAR)
             |       || '@mail.example.com or +84 (09' || CAST(doc_id % 10 AS VARCHAR)
             |       || ') 123-4567.' AS a
             |  FROM documents),
             |r AS (SELECT source, a,
             |  regexp_replace(
             |    regexp_replace(a, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+?[0-9][0-9 ().-]{6,}[0-9]', '<PHONE>', 'g') AS red
             |  FROM aug)
             |SELECT source, count(*) AS n_docs,
             |CAST(sum(CASE WHEN red <> a THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
             |count(DISTINCT md5(red)) AS n_distinct_redacted,
             |CAST(sum(length(red)) AS BIGINT) AS total_len
             |FROM r GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val aug = concat(col("text"),
          lit(" Contact: user"), col("doc_id").cast("string"),
          lit("@mail.example.com or +84 (09"), (col("doc_id") % 10).cast("string"),
          lit(") 123-4567."))
        Tables.documents(s, dir)
          .select(col("source"), aug.as("a"), Corpus.redactPii(aug).as("red"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("red") =!= col("a"), 1L).otherwise(0L)).as("n_masked"),
            countDistinct(md5(col("red"))).as("n_distinct_redacted"),
            sum(length(col("red")).cast("long")).as("total_len"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- stratified resampling (source mixing)
    QueryDef(
      "q_l20_resample_mix", "LLM-corpus-mixing",
      // language-mixing rates: en halved, zh upsampled 2.5x, fr 1.25x,
      // es 0.75x, de untouched — whole copies plus an md5-fraction
      // decision for the remainder, replayed exactly. n_rows counts
      // emitted copies, id_sum pins which docs made the cut.
      Some("""WITH f AS (SELECT lang, doc_id,
             |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
             |    / 4294967296.0 AS frac,
             |  CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 2.5
             |            WHEN 'fr' THEN 1.25 WHEN 'es' THEN 0.75 ELSE 1.0 END AS rate
             |  FROM documents),
             |c AS (SELECT lang, doc_id,
             |  CAST(floor(rate) + CASE WHEN frac < rate - floor(rate) THEN 1 ELSE 0 END
             |       AS BIGINT) AS n
             |  FROM f),
             |e AS (SELECT lang, doc_id, unnest(generate_series(1, n)) AS copy_id
             |      FROM c WHERE n > 0)
             |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_rows,
             |CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM e GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) =>
        Corpus.resampleStrata(Tables.documents(s, dir), "doc_id", "lang",
            Map("en" -> 0.5, "zh" -> 2.5, "fr" -> 1.25, "es" -> 0.75))
          .groupBy("lang")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_rows"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .orderBy("lang")),

    // ---------------------------------------------------------------- corpus-assembly end-to-end
    QueryDef(
      "q_l21_corpus_e2e", "LLM-corpus-e2e",
      // the full assembly chain composed from the library ops — exact
      // dedup → decontaminate vs the eval suite (every 97th doc) →
      // language mixing → split → train shard packing — replayed CTE
      // by CTE. Per-shard n_items/n_docs/token/id sums pin every
      // stage's survivors and copy counts at once.
      Some("""WITH fp AS (SELECT doc_id, lang, text,
             |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f FROM documents),
             |ded AS (SELECT doc_id, lang, text FROM fp
             |        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)),
             |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
             |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+4], ' ')
             |                                            for i in generate_series(1, len(w)-4)])) AS s
             |       FROM toks WHERE len(w) >= 5),
             |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
             |bad AS (SELECT DISTINCT doc_id FROM sh
             |        WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM bench)),
             |clean AS (SELECT * FROM ded WHERE doc_id % 97 <> 0
             |          AND doc_id NOT IN (SELECT doc_id FROM bad)),
             |m AS (SELECT doc_id, text,
             |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
             |    / 4294967296.0 AS frac,
             |  CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 2.5
             |            WHEN 'fr' THEN 1.25 WHEN 'es' THEN 0.75 ELSE 1.0 END AS rate
             |  FROM clean),
             |cnt AS (SELECT doc_id, text, frac,
             |  CAST(floor(rate) + CASE WHEN frac < rate - floor(rate) THEN 1 ELSE 0 END
             |       AS BIGINT) AS n
             |  FROM m),
             |e AS (SELECT doc_id, text, frac, unnest(generate_series(1, n)) AS copy_id
             |      FROM cnt WHERE n > 0),
             |tr AS (SELECT doc_id, copy_id, text FROM e WHERE frac < 0.9),
             |p AS (SELECT doc_id, copy_id,
             |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             |  md5(CAST(doc_id AS VARCHAR) || '#' || CAST(copy_id AS VARCHAR)) AS ord,
             |  CAST(doc_id AS VARCHAR) || '#' || CAST(copy_id AS VARCHAR) AS item
             |  FROM tr),
             |c2 AS (SELECT doc_id, copy_id, n_tokens,
             |  CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY ord, item
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT)
             |    AS shard_id
             |  FROM p)
             |SELECT shard_id, count(*) AS n_items, count(DISTINCT doc_id) AS n_docs,
             |CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
             |CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM c2 GROUP BY shard_id ORDER BY shard_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val fp = docs.withColumn("__f", Dedup.exactFingerprint(col("text")))
        val ded = fp.join(
            fp.groupBy(col("__f")).agg(min(col("doc_id")).as("doc_id")),
            Seq("__f", "doc_id"), "left_semi")
          .drop("__f")
        val corpus = ded.filter(col("doc_id") % 97 =!= 0)
        val bad = Corpus.contaminatedIds(corpus, "doc_id", "text",
          docs.filter(col("doc_id") % 97 === 0), "text", 5)
        val clean = corpus.join(bad, Seq("doc_id"), "left_anti")
        val mixed = Corpus.resampleStrata(clean, "doc_id", "lang",
          Map("en" -> 0.5, "zh" -> 2.5, "fr" -> 1.25, "es" -> 0.75))
        val train = Corpus.assignSplit(mixed, "doc_id",
            Seq("train" -> 0.9, "validation" -> 0.95), "test")
          .filter(col("split") === "train")
          .withColumn("item_id",
            concat(col("doc_id").cast("string"), lit("#"), col("copy_id").cast("string")))
        Corpus.packShards(train, "item_id", "text", 2048L)
          .groupBy("shard_id")
          .agg(count(lit(1)).as("n_items"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("shard_tokens"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .orderBy("shard_id")
      }),

    // ---------------------------------------------------------------- modern curation chain e2e
    QueryDef(
      "q_l21b_curation_e2e", "LLM-corpus-e2e (modern recipe)",
      // q_l21's assembly chain upgraded with the round-10 curation
      // stages, composed end to end: filter cascade (the language-
      // agnostic q_l70 rules, so multilingual mixing stays exercised)
      // → boilerplate-line REMOVAL with document reassembly (q_l71's
      // detector turned rewrite: planted banners and any natural
      // chrome stripped, text rebuilt from surviving 10-token lines
      // in order) → exact dedup on the CLEANED text → decontamination
      // vs the raw eval suite (every 97th doc) → language mixing →
      // Muennighoff epoch/repetition planning per source on the mixed
      // corpus (q_l72's integer water-filling, 2× budget, tiers by
      // token supply) → repetition applied as whole epochs + hash-
      // fraction fractional tail per item → token-budget shard
      // packing. Replayed CTE-for-CTE; per-shard item/doc/token/id
      // sums pin every stage's survivors, rewrites and copy counts at
      // once.
      Some(s"""$curationOracleCtes
             |SELECT shard_id, count(*) AS n_items, count(DISTINCT doc_id) AS n_docs,
             |CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
             |CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM c2 GROUP BY shard_id ORDER BY shard_id""".stripMargin),
      (s, dir) =>
        Corpus.packShards(curationItems(s, dir), "rep_id", "text", 2048L)
          .groupBy("shard_id")
          .agg(count(lit(1)).as("n_items"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("shard_tokens"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .orderBy("shard_id")),

    // ---------------------------------------------------------------- benchmark decontamination
    QueryDef(
      "q_l19_decontaminate", "LLM-corpus-decontaminate",
      // benchmark = every 97th doc (a stand-in eval suite); corpus
      // docs sharing any word 5-gram with it are flagged. Exact n-gram
      // collision flagging, the C4/GPT-3-style leakage guard.
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
             |              FROM documents),
             |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+4], ' ')
             |                                            for i in generate_series(1, len(w)-4)])) AS s
             |       FROM toks WHERE len(w) >= 5),
             |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
             |SELECT DISTINCT doc_id FROM sh
             |WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM bench)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Corpus.contaminatedIds(
            docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 97 === 0), "text", 5)
          .orderBy("doc_id")
      }),

    // ---------------------------------------------------------------- incremental ANN vs existing corpus (vector q_l22)
    QueryDef(
      "q_l23_incremental_ann", "LLM-ann-incremental",
      // the vector-space twin of q_l22: arriving embeddings (every 5th
      // vec) probe the standing corpus's hyperplane buckets; each new
      // vector attaches its best corpus neighbor (top-1 cosine within
      // its bucket — nearest-cluster assignment for routing/labeling;
      // a dedup threshold would simply filter this output). The corpus
      // is bucketed once (the persisted index shape), never
      // cross-joined; vectors whose bucket holds no corpus entry
      // surface nothing and would fall to multi-probe at scale.
      Some(s"""${lshBucketOracleCtes()},
             |${cosineScoredOracleCte(
               "q.bucket = c.bucket WHERE q.vec_id % 5 = 0 AND c.vec_id % 5 <> 0")}
             |${cosineRankOracle("query_id, neighbor_id, score", "rank = 1 ORDER BY query_id")}""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(
            emb.filter(col("vec_id") % 5 === 0), emb.filter(col("vec_id") % 5 =!= 0),
            "vec_id", "embedding", k = 1, nPlanes = 4)
          .select("query_id", "neighbor_id", "score")
          .orderBy("query_id")
      }),

    // ---------------------------------------------------------------- incremental dedup vs existing corpus
    QueryDef(
      "q_l22_incremental_dedup", "LLM-dedup-incremental",
      // batch = every 5th doc arriving against the corpus of the rest;
      // each rejected batch doc reports its best corpus match. The
      // oracle is the exact closed form (all cross-pairs at J ≥ 0.8,
      // keep max jaccard / min corpus_id per new doc) — the LSH
      // candidate stage at 128/32 has full recall at this threshold,
      // same argument as q_l2.
      incrementalDedupOracle,
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.dedupAgainstCorpus(
            docs.filter(col("doc_id") % 5 === 0),
            docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text", shingleN = 3, perms = 128, bands = 32, threshold = 0.8)
          .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("new_id")
      }),

    // ---------------------------------------------------------------- repetition filters (Gopher/C4 family)
    QueryDef(
      "q_l24_repetition_filter", "LLM-quality-repetition",
      // duplicate-line fraction, duplicate-2gram fraction, and
      // top-2gram mass per doc — the classic looping/templated-crawl
      // filters. Per-source: doc counts, flag counts (dup_line > 0.3
      // or top_2gram > 0.2, the Gopher-style thresholds), and exact
      // decimal sums of the per-doc fractions (rounded per-doc before
      // the sum so float-add order cannot leak in). Oracle rebuilds
      // the same 2-grams positionally (unnest + generate_subscripts).
      Some(s"""WITH d AS (SELECT doc_id, source,
             |            trim(coalesce(text, '')) AS tt, coalesce(text, '') AS raw
             |          FROM documents),
             |tok AS (SELECT doc_id, source, string_split_regex(tt, '\\s+') AS t FROM d),
             |${bigramOracleCtes("tok", "gs")},
             |ln AS (SELECT doc_id,
             |         list_filter(string_split(raw, chr(10)), x -> trim(x) <> '') AS ls
             |       FROM d),
             |per AS (SELECT d.doc_id, d.source,
             |  CASE WHEN len(ln.ls) = 0 THEN 0.0
             |       ELSE 1.0 - CAST(len(list_distinct(ln.ls)) AS DOUBLE) / len(ln.ls)
             |  END AS dupl,
             |  $bigramFractionsOracle
             |  FROM d
             |  LEFT JOIN gs ON gs.doc_id = d.doc_id
             |  JOIN ln ON ln.doc_id = d.doc_id)
             |SELECT source, count(*) AS n_docs,
             |CAST(sum(CASE WHEN dupl > 0.3 OR top2f > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
             |  AS n_flagged,
             |CAST(sum(CAST(round(dupl, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_dup_line,
             |CAST(sum(CAST(round(dup2, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_dup_2gram,
             |CAST(sum(CAST(round(top2f, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_top_2gram
             |FROM per GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        // widened: the repetition measures are all per-row now and the
        // single-file local scan would run them 3-5-way
        val base = graft.SparkUtil.widenByFiles(Tables.documents(s, dir)).select(
          col("doc_id"), col("source"), col("text"),
          trim(coalesce(col("text"), lit(""))).as("__tt"))
        // all three repetition measures are per-row now: dup2 is
        // definitionally dupBigramFraction (1 − distinct/total), and
        // the per-doc TOP gram comes from the array_sort + run-length
        // fold (TextAnalysis.topBigramFraction) — the (doc, gram)
        // explode+agg+join is gone (guide §2.4)
        base
          .select(col("source"),
            TextAnalysis.dupLineFraction(col("text")).as("dupl"),
            TextAnalysis.dupBigramFraction(col("__tt")).as("dup2"),
            TextAnalysis.topBigramFraction(col("__tt")).as("top2f"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("dupl") > 0.3 || col("top2f") > 0.2, 1L).otherwise(0L))
              .as("n_flagged"),
            sum(round(col("dupl"), 6).cast(DecimalType(18, 6))).cast("double")
              .as("sum_dup_line"),
            sum(round(col("dup2"), 6).cast(DecimalType(18, 6))).cast("double")
              .as("sum_dup_2gram"),
            sum(round(col("top2f"), 6).cast(DecimalType(18, 6))).cast("double")
              .as("sum_top_2gram"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- Count-Min token frequency sketch
    QueryDef(
      "q_l25_countmin_tokens", "LLM-sketch-countmin",
      // deterministic Count-Min (4 × 1024, md5-derived buckets) built
      // over every token occurrence in the corpus, probed with the
      // exact top-20 tokens: the oracle rebuilds the identical sketch,
      // so estimates compare value-exact — and the CM overcount
      // invariant (cm_est >= exact_n, always) is hash-checked too.
      Some("""WITH tok AS (
             |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
             |cells AS (
             |  SELECT r, CAST(('0x' || substr(md5(r || ':' || tok), 1, 8)) AS UBIGINT)
             |           % 1024 AS b, count(*) AS c
             |  FROM tok CROSS JOIN generate_series(0, 3) g(r) GROUP BY 1, 2),
             |ex AS (SELECT tok, count(*) AS exact_n FROM tok GROUP BY 1
             |       ORDER BY exact_n DESC, tok LIMIT 20)
             |SELECT ex.tok, ex.exact_n, CAST(min(c.c) AS BIGINT) AS cm_est
             |FROM ex CROSS JOIN generate_series(0, 3) g(r)
             |JOIN cells c ON c.r = g.r
             | AND c.b = CAST(('0x' || substr(md5(g.r || ':' || ex.tok), 1, 8)) AS UBIGINT) % 1024
             |GROUP BY 1, 2 ORDER BY exact_n DESC, tok""".stripMargin),
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens(trim(col("text")))).as("tok"))
        val cells = Sketches.buildTokenSketch(toks, "tok")
        val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("tok")).limit(20)
        Sketches.estimate(top, "tok", cells)
          .select(col("tok"), col("exact_n"), col("cm_est"))
          .orderBy(col("exact_n").desc, col("tok"))
      }),

    // ---------------------------------------------------------------- linear-counting cardinality sketch
    QueryDef(
      "q_l27_linear_count", "LLM-sketch-cardinality",
      // per-source distinct-token cardinality: the exact count next to
      // the deterministic linear-counting bitmap state (bits set in a
      // 4096-wide md5 bitmap). Integer-exact outputs on both engines;
      // the m*ln(m/(m-b)) estimate is consumer-side arithmetic, kept
      // out of the hash so no libm rounding can flake the gate.
      Some("""WITH tok AS (
             |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents),
             |bits AS (SELECT source,
             |           CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 4096 AS b
             |         FROM tok GROUP BY source, b)
             |SELECT t.source, count(DISTINCT t.tok) AS n_distinct,
             |  (SELECT count(*) FROM bits WHERE bits.source = t.source) AS bits_set
             |FROM tok t GROUP BY t.source ORDER BY t.source""".stripMargin),
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("source"), explode(TextAnalysis.tokens(trim(col("text")))).as("tok"))
        val exact = toks.groupBy("source").agg(countDistinct(col("tok")).as("n_distinct"))
        exact.join(Sketches.linearCountBits(toks, "source", "tok"), Seq("source"))
          .select(col("source"), col("n_distinct"), col("bits_set"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- distributed k-means (2 Lloyd iterations)
    QueryDef(
      "q_l26_kmeans_clusters", "LLM-kmeans",
      // two full Lloyd iterations, replayed exactly: md5 centroids →
      // assign → EXACT-DECIMAL per-dim means (order-independent sums;
      // a double can never tie at a decimal rounding boundary, so both
      // engines derive bit-identical next centroids) → re-assign. The
      // output id_sum pins every single assignment; empty clusters
      // keep their previous centroid (grid LEFT JOIN coalesce).
      Some(s"""WITH ${centroidsOracleCtes("cents0", "cl0")},
             |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |      FROM embeddings),
             |$lloydOracleCtes,
             |a2 AS (SELECT vec_id, c FROM (
             |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
             |                  ORDER BY dist, c) AS r FROM d2) WHERE r = 1)
             |SELECT c AS cluster, count(*) AS n_members,
             |CAST(sum(vec_id) AS BIGINT) AS id_sum
             |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        Similarity.kmeansAssign(Tables.embeddings(s, dir), "vec_id", "embedding",
            k = 8, iters = 2)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("id_sum"))
          .orderBy("cluster")),

    // ---------------------------------------------------------------- TF-IDF keyword extraction
    QueryDef(
      "q_l28_tfidf", "LLM-tfidf",
      // top-3 distinguishing terms per document, smoothed idf over the
      // FULL corpus; output restricted to doc_id < 60 (the statistics
      // are corpus-wide either way). Scores are tf·ln((1+N)/(1+df))
      // from exact integer counts — identical doubles both engines —
      // ranked raw, rounded only for display.
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (SELECT tf.doc_id, tf.term, tf.tf,
             |    tf.tf * ln((1.0 + n.n_docs) / (1.0 + df.df)) AS score_raw
             |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
             |ranked AS (SELECT doc_id, term, tf, score_raw,
             |    CAST(row_number() OVER (PARTITION BY doc_id
             |      ORDER BY score_raw DESC, term) AS BIGINT) AS rank
             |  FROM scored)
             |SELECT doc_id, rank, term, tf, round(score_raw, 6) AS score
             |FROM ranked WHERE rank <= 3 AND doc_id < 60
             |ORDER BY doc_id, rank""".stripMargin),
      (s, dir) =>
        Retrieval.tfidfTopK(Tables.documents(s, dir), "doc_id", "text", k = 3)
          .filter(col("doc_id") < 60)
          .orderBy("doc_id", "rank")),

    // ---------------------------------------------------------------- BM25 ranked retrieval
    QueryDef(
      "q_l29_bm25", "LLM-bm25",
      // top-10 documents for the bag {spark, merge, sort}, k1=1.2
      // b=0.75. Per-term contributions come from exact (tf, df, dl,
      // N) integers; the doc score sums the three terms in DECLARED
      // order on both sides (float addition is not associative, so an
      // aggregate's reduction order is not portable — a fixed
      // coalesce chain is).
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
             |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             |  WHERE term IN ('spark', 'merge', 'sort') GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |c AS (SELECT tf.doc_id, tf.term,
             |    ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             |      * (tf.tf * 2.2)
             |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
             |           / (CAST(stats.total_len AS DOUBLE) / stats.n_docs))) AS c
             |  FROM tf JOIN df ON tf.term = df.term
             |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
             |agg AS (SELECT doc_id,
             |    coalesce(sum(CASE WHEN term = 'spark' THEN c END), 0.0)
             |    + coalesce(sum(CASE WHEN term = 'merge' THEN c END), 0.0)
             |    + coalesce(sum(CASE WHEN term = 'sort' THEN c END), 0.0) AS score_raw
             |  FROM c GROUP BY 1)
             |SELECT doc_id, round(score_raw, 6) AS score FROM agg
             |ORDER BY score_raw DESC, doc_id LIMIT 10""".stripMargin),
      (s, dir) =>
        Retrieval.bm25(Tables.documents(s, dir), "doc_id", "text",
          terms = Seq("spark", "merge", "sort"), k1 = 1.2, b = 0.75, topN = 10)),

    // ---------------------------------------------------------------- inverted index build
    QueryDef(
      "q_l30_inverted_index", "LLM-inverted-index",
      // posting lists: every term with its document frequency and the
      // first 20 doc ids ascending (cap bounds task memory; production
      // shards full postings by (term, id) range instead — see
      // Retrieval.invertedIndex).
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
             |SELECT term, count(*) AS df,
             |array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
             |FROM tf GROUP BY term ORDER BY term""".stripMargin),
      (s, dir) =>
        Retrieval.invertedIndex(Tables.documents(s, dir), "doc_id", "text",
            maxPostings = 20)
          .orderBy("term")),

    // ---------------------------------------------------------------- blocked edit-distance fuzzy join
    QueryDef(
      "q_l31_fuzzy_join", "LLM-fuzzy-join",
      // near-identical part names by Levenshtein ≤ 4 — the
      // edit-distance flavor of near-dup (the Jaccard/SimHash family
      // covers token overlap; this catches character-level variants).
      // Scale shape: collapse to DISTINCT names + counts FIRST (the
      // dedupe-before-pairwise rule: 20k parts → 64 names), then block
      // on the trailing word so candidate pairs are within-block only.
      Some("""WITH names AS (SELECT p_name, count(*) AS n_parts,
             |    string_split(p_name, ' ')[-1] AS noun
             |  FROM part GROUP BY p_name),
             |pairs AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
             |    CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
             |    a.n_parts AS n_a, b.n_parts AS n_b
             |  FROM names a JOIN names b
             |    ON a.noun = b.noun AND a.p_name < b.p_name)
             |SELECT name_a, name_b, dist, n_a, n_b FROM pairs
             |WHERE dist <= 4 ORDER BY name_a, name_b""".stripMargin),
      (s, dir) => {
        val names = Tables.part(s, dir)
          .groupBy("p_name").agg(count(lit(1)).as("n_parts"))
          .withColumn("noun", element_at(split(col("p_name"), " "), -1))
        val a = names.select(col("p_name").as("name_a"), col("n_parts").as("n_a"),
          col("noun"))
        val b = names.select(col("p_name").as("name_b"), col("n_parts").as("n_b"),
          col("noun"))
        a.join(b, Seq("noun"))
          .filter(col("name_a") < col("name_b"))
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
          .filter(col("dist") <= 4)
          .select("name_a", "name_b", "dist", "n_a", "n_b")
          .orderBy("name_a", "name_b")
      }),

    // ---------------------------------------------------------------- unigram LM log-prob (perplexity-style) scoring
    QueryDef(
      "q_l32_lm_score", "LLM-lm-score",
      // perplexity-style filtering with a self-trained add-one
      // unigram LM: per-doc mean token log-prob, then per-source
      // averages and a low-scorer count. Per-(doc, term)
      // contributions tf·ln((c+1)/(T+V)) come from exact integer
      // counts, are rounded to 9dp and summed as DECIMAL — the
      // per-doc sum is order-independent, so both engines agree
      // exactly (a raw double sum over tokens would be reduction-
      // order luck). Retrieval.unigramDocLogProb builds the per-doc
      // sums.
      Some(s"""$unigramLogProbOracleCtes,
             |scored AS (SELECT d.source,
             |    round(p.logp_sum / p.n_tokens, 6) AS score
             |  FROM per p JOIN documents d ON d.doc_id = p.doc_id)
             |SELECT source, count(*) AS n_docs,
             |round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             |  AS avg_logprob,
             |CAST(sum(CASE WHEN score < -3.45 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
             |FROM scored GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Retrieval.unigramDocLogProb(docs, "doc_id", "text")
          .withColumn("score", round(col("logp_sum") / col("n_tokens"), 6))
          .join(docs.select("doc_id", "source"), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(sum(col("score").cast(DecimalType(18, 6))).cast("double")
              / count(lit(1)), 6).as("avg_logprob"),
            sum(when(col("score") < -3.45, 1L).otherwise(0L)).as("n_low"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- deterministic weighted sampling (A-Res)
    QueryDef(
      "q_l38_weighted_sample", "LLM-corpus-weighted-sample",
      // weighted sampling without replacement, Efraimidis-Spirakis
      // A-Res: priority = u^(1/w) with u the doc's md5 fraction and
      // w its token count; the k highest priorities are the sample.
      // Ranked in the monotone-equivalent log space ln(u)/w (fewer
      // libm ops, same order). Deterministic: membership is a pure
      // function of the corpus — re-runs, partitioning, and growth
      // leave picks stable, which is what makes the sample auditable.
      // One scan + a global top-k (TakeOrderedAndProject: per-partition
      // heaps, no sort of the losers). id_sum pins exact membership.
      Some(s"""$weightedSampleOracleCte,
             |top AS (SELECT doc_id, source FROM f WHERE w > 0
             |        ORDER BY ln(u) / w DESC, doc_id LIMIT 100)
             |SELECT source, count(*) AS n_sampled,
             |CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM top GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) =>
        weightedSampleInputs(s, dir)
          .orderBy((log(col("u")) / col("w")).desc, col("doc_id"))
          .limit(100)
          .groupBy("source")
          .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("id_sum"))
          .orderBy("source")),

    // ---------------------------------------------------------------- containment (subset/quotation) dedup
    QueryDef(
      "q_l37_containment", "LLM-dedup-containment",
      // planted truncations (first 30 tokens of docs < 40, ids
      // +20000) must surface as containment ≈ 1.0 pairs even though
      // their JACCARD vs the parent is only ~0.5 — the asymmetric
      // near-dup class (quotations, boilerplate-wrapped copies) the
      // symmetric passes leave behind. Complete blocking on kept
      // shingles; see Dedup.containmentPairs for why the rare-sketch
      // shortcut would be unsound here.
      Some("""WITH base AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 20000,
             |    array_to_string((string_split_regex(trim(text), '\s+'))[1:30], ' ')
             |  FROM documents WHERE doc_id < 40),
             |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM base),
             |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
             |                                            for i in generate_series(1, len(w)-2)])) AS s
             |       FROM toks WHERE len(w) >= 3),
             |freq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
             |kept AS (SELECT h.doc_id, h.s FROM sh h JOIN freq f USING (s)
             |         WHERE f.df <= 500),
             |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
             |          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |round(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
             |FROM inter JOIN sizes sa ON sa.doc_id = id_a
             |           JOIN sizes sb ON sb.doc_id = id_b
             |WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= 0.9
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val aug = docs.unionByName(
          docs.filter(col("doc_id") < 40).select(
            (col("doc_id") + 20000).as("doc_id"),
            array_join(slice(split(trim(col("text")), "\\s+"), 1, 30), " ").as("text")))
        Dedup.containmentPairs(aug, "doc_id", "text",
            shingleN = 3, threshold = 0.9, maxDocFreq = 500)
          .withColumn("containment", round(col("containment"), 6))
          .orderBy("id_a", "id_b")
      }),

    // ---------------------------------------------------------------- per-source token-distribution entropy
    QueryDef(
      "q_l36_entropy", "LLM-corpus-entropy",
      // Shannon entropy of each source's token distribution (plus
      // type/token ratio) — the diversity diagnostics that catch
      // templated or looping sources before training. −Σ p·ln p runs
      // over per-(source, term) EXACT counts; each term's contribution
      // is rounded and DECIMAL-summed so the vocabulary-sized
      // reduction order cannot leak (same rule as q_l32). One
      // (source, term) aggregate + one source aggregate.
      Some("""WITH tok AS (SELECT source,
             |    unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
             |tf AS (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2),
             |tot AS (SELECT source, sum(c) AS t, count(*) AS n_terms FROM tf GROUP BY 1),
             |e AS (SELECT tf.source,
             |    CAST(sum(CAST(round(-(tf.c / CAST(tot.t AS DOUBLE))
             |        * ln(tf.c / CAST(tot.t AS DOUBLE)), 9) AS DECIMAL(28,9)))
             |      AS DOUBLE) AS ent,
             |    max(tot.n_terms) AS n_terms, max(tot.t) AS t
             |  FROM tf JOIN tot ON tf.source = tot.source GROUP BY tf.source)
             |SELECT source, CAST(t AS BIGINT) AS n_tokens, n_terms,
             |round(ent, 6) AS entropy,
             |round(CAST(n_terms AS DOUBLE) / t, 6) AS type_token_ratio
             |FROM e ORDER BY source""".stripMargin),
      (s, dir) => {
        val tf = Tables.documents(s, dir)
          .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
          .groupBy("source", "term").agg(count(lit(1)).as("c"))
        val tot = tf.groupBy("source")
          .agg(sum(col("c")).as("t"), count(lit(1)).as("n_terms"))
        val p = col("c") / col("t").cast("double")
        tf.join(broadcast(tot), "source")
          .groupBy("source")
          .agg(
            sum(round(-p * log(p), 9).cast(DecimalType(28, 9))).cast("double").as("ent"),
            max(col("n_terms")).as("n_terms"), max(col("t")).as("t"))
          .select(col("source"), col("t").cast("long").as("n_tokens"), col("n_terms"),
            round(col("ent"), 6).as("entropy"),
            round(col("n_terms").cast("double") / col("t"), 6).as("type_token_ratio"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- temperature-weighted source mixing
    QueryDef(
      "q_l34_temperature_mix", "LLM-corpus-mixing (temperature)",
      // α=0.5 temperature sampling: a source's share of the output
      // corpus ∝ n^α (flattens the source distribution — the standard
      // rebalance between head and tail sources), targeting half the
      // corpus. Per-source acceptance rate = (√n/S)·(N/2)/n; a doc is
      // kept when its md5 id-fraction falls under its source's rate —
      // so membership is a pure function of the corpus (growth-stable,
      // shuffle-free beyond the two tiny source aggregates). √n
      // contributions are rounded+DECIMAL-summed into S so the
      // 20-source reduction order cannot leak. id_sum pins every
      // individual keep decision.
      Some("""WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
             |tot AS (SELECT
             |    CAST(sum(CAST(round(sqrt(n_s), 9) AS DECIMAL(28,9))) AS DOUBLE) AS s,
             |    sum(n_s) AS n FROM c),
             |r AS (SELECT source, n_s,
             |    least(1.0, (sqrt(n_s) / tot.s) * (0.5 * tot.n) / n_s) AS rate
             |  FROM c CROSS JOIN tot),
             |d AS (SELECT doc_id, documents.source, r.rate,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
             |      / 4294967296.0 AS frac
             |  FROM documents JOIN r ON documents.source = r.source)
             |SELECT source, count(*) AS n_docs,
             |CAST(sum(CASE WHEN frac < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
             |round(max(rate), 6) AS rate,
             |CAST(sum(CASE WHEN frac < rate THEN doc_id END) AS BIGINT) AS id_sum
             |FROM d GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val c = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
        val tot = c.agg(
          sum(round(sqrt(col("n_s")), 9).cast(DecimalType(28, 9))).cast("double").as("s"),
          sum(col("n_s")).as("n"))
        val rates = c.crossJoin(broadcast(tot))
          .withColumn("rate",
            least(lit(1.0), (sqrt(col("n_s")) / col("s")) * (lit(0.5) * col("n"))
              / col("n_s")))
          .select("source", "rate")
        val keep = Corpus.hashFraction(col("doc_id")) < col("rate")
        docs.join(broadcast(rates), "source")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(keep, 1L).otherwise(0L)).as("n_sampled"),
            round(max(col("rate")), 6).as("rate"),
            sum(when(keep, col("doc_id"))).as("id_sum"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- int8 vector quantization
    QueryDef(
      "q_l33_vec_quantize", "LLM-vec-quantize",
      // symmetric int8 quantization (per-vector scale = max|x|/127) —
      // the storage-compression step every large ANN index runs before
      // the data ever reaches a search structure. q_sum pins every
      // quantized component exactly; mse pins the reconstruction
      // (in-order dot of the residual, identical accumulation on both
      // engines). round() is half-away-from-zero in both. Output
      // limited to 100 vectors; the math is per-row and shuffle-free.
      Some("""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings WHERE vec_id < 100),
             |s AS (SELECT vec_id, e,
             |    list_aggregate(list_transform(e, x -> abs(x)), 'max') / 127.0 AS scale
             |  FROM v),
             |q AS (SELECT vec_id, e, scale,
             |    list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv
             |  FROM s),
             |d AS (SELECT vec_id, scale, qv,
             |    list_transform(list_zip(e, list_transform(qv, y -> y * scale)),
             |                   p -> p[1] - p[2]) AS diff
             |  FROM q)
             |SELECT vec_id, round(scale, 6) AS scale,
             |CAST(list_sum(qv) AS BIGINT) AS q_sum,
             |round(list_inner_product(diff, diff) / 64, 9) AS mse
             |FROM d ORDER BY vec_id""".stripMargin),
      (s, dir) =>
        Tables.embeddings(s, dir)
          .filter(col("vec_id") < 100)
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
          .withColumn("scale",
            aggregate(col("e"), lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0)
          .withColumn("qv",
            transform(col("e"), x => round(x / col("scale")).cast("long")))
          .withColumn("diff",
            zip_with(col("e"), transform(col("qv"), y => y * col("scale")),
              (a, b) => a - b))
          .select(col("vec_id"), round(col("scale"), 6).as("scale"),
            aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("q_sum"),
            round(graft.functions.VectorExprs.dotCol(col("diff"), col("diff")) / 64, 9)
              .as("mse"))
          .orderBy("vec_id")),

    // ---------------------------------------------------------------- IVF-PQ ANN (coarse route + compressed-domain scan)
    QueryDef(
      "q_l43_ann_ivfpq", "LLM-ann-ivfpq",
      // q_l12's coarse router composed with q_l39's PQ ADC: queries
      // probe their 2 nearest md5 cells, and ranking inside the probed
      // cells runs entirely on 4-byte PQ codes against the query's
      // broadcast distance table (Similarity.ivfPqTopK). The oracle
      // rebuilds both structures and must agree bit-for-bit.
      Some(s"""WITH ${centroidsOracleCtes("cents", "cl")},
             |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |      FROM embeddings),
             |${centroidDistOracleCte("cdists", "cl")},
             |cranked AS (SELECT vec_id, c,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS r
             |  FROM cdists),
             |cc AS (SELECT vec_id, c FROM cranked WHERE r = 1),
             |qc AS (SELECT vec_id, c FROM cranked WHERE r <= 2 AND vec_id < 20),
             |$pqCodebookOracleCtes,
             |${pqCodesOracleCtes("pdists")},
             |scored AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |    CAST(sum(CAST(qdt.dt AS DECIMAL(28,12))) AS DOUBLE) AS adist
             |  FROM qc q JOIN cc n ON n.c = q.c AND n.vec_id <> q.vec_id
             |  JOIN codes ON codes.vec_id = n.vec_id
             |  JOIN qdt ON qdt.query_id = q.vec_id AND qdt.s = codes.s
             |          AND qdt.c = codes.c
             |  GROUP BY 1, 2)
             |$adcRankOracle""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 20), emb, "vec_id",
            "embedding", k = 5)
          .orderBy("query_id", "rank")
      }),

    // ---------------------------------------------------------------- entity resolution e2e (block → match → cluster → canonicalize)
    QueryDef(
      "q_l44_entity_resolution", "LLM-entity-resolution",
      // the full ER chain over part names: collapse to distinct names
      // (dedupe-before-pairwise), block on the trailing noun, match by
      // Levenshtein ≤ 4 (q_l31's semantics), cluster matches with
      // connected components (q_l14's operator), and elect a canonical
      // name per entity (most parts, ties to the lexicographic min —
      // a per-entity window over cluster-sized partitions). Entities
      // are labeled by their min member name; singletons resolve to
      // themselves. The oracle reaches the same fixpoint through a
      // recursive CTE — value-checked, not replayed.
      Some("""WITH RECURSIVE
             |names AS (SELECT p_name, count(*) AS n_parts,
             |    string_split(p_name, ' ')[-1] AS noun FROM part GROUP BY p_name),
             |e AS (SELECT a.p_name AS na, b.p_name AS nb FROM names a JOIN names b
             |      ON a.noun = b.noun AND a.p_name < b.p_name
             |      WHERE levenshtein(a.p_name, b.p_name) <= 4),
             |sym AS (SELECT na AS src, nb AS dst FROM e UNION SELECT nb, na FROM e),
             |reach(id, r) AS (SELECT src, src FROM (SELECT DISTINCT src FROM sym) t
             |  UNION SELECT s.src, q.r FROM sym s JOIN reach q ON q.id = s.dst),
             |comp AS (SELECT id, min(r) AS entity FROM reach GROUP BY id),
             |lab AS (SELECT n.p_name, n.n_parts, coalesce(c.entity, n.p_name) AS entity
             |        FROM names n LEFT JOIN comp c ON c.id = n.p_name),
             |canon AS (SELECT entity, p_name AS canonical FROM (
             |    SELECT entity, p_name, row_number() OVER (PARTITION BY entity
             |      ORDER BY n_parts DESC, p_name) AS rn FROM lab) t WHERE rn = 1),
             |agg AS (SELECT entity, count(*) AS n_members,
             |        CAST(sum(n_parts) AS BIGINT) AS total_parts FROM lab GROUP BY 1)
             |SELECT agg.entity, canon.canonical, agg.n_members, agg.total_parts
             |FROM agg JOIN canon USING (entity) ORDER BY entity""".stripMargin),
      (s, dir) => {
        val names = Tables.part(s, dir)
          .groupBy("p_name").agg(count(lit(1)).as("n_parts"))
          .withColumn("noun", element_at(split(col("p_name"), " "), -1))
          .localCheckpoint(false) // consumed by pairing and labeling
        val pairs = names.select(col("p_name").as("name_a"), col("noun"))
          .join(names.select(col("p_name").as("name_b"), col("noun")), Seq("noun"))
          .filter(col("name_a") < col("name_b"))
          .filter(levenshtein(col("name_a"), col("name_b")) <= 4)
          .select("name_a", "name_b")
        val cc = Dedup.connectedComponents(pairs, "name_a", "name_b")
        val lab = names
          .join(cc.withColumnRenamed("id", "p_name"), Seq("p_name"), "left")
          .select(col("p_name"), col("n_parts"),
            coalesce(col("comp"), col("p_name")).as("entity"))
        val w = Window.partitionBy("entity").orderBy(col("n_parts").desc, col("p_name"))
        val canon = lab.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("entity"), col("p_name").as("canonical"))
        lab.groupBy("entity")
          .agg(count(lit(1)).as("n_members"), sum("n_parts").as("total_parts"))
          .join(canon, "entity")
          .select(col("entity"), col("canonical"), col("n_members"), col("total_parts"))
          .orderBy("entity")
      }),

    // ---------------------------------------------------------------- bigram collocations (PMI)
    QueryDef(
      "q_l40_bigram_pmi", "LLM-collocations",
      // strongest adjacent-word collocations by pointwise mutual
      // information. Bigrams come from a lead() window PARTITIONED BY
      // doc (parallelism = document count; no positional self-join
      // shuffle), counts are exact ints, and the RANKING key is the
      // raw probability ratio c12·N/(c1·c2) — exact-int products over
      // one IEEE division, deterministic in both engines — with
      // ln() applied only to the displayed, rounded PMI.
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
             |             FROM documents),
             |t AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
             |      FROM toks),
             |uni AS (SELECT w, count(*) AS c FROM t GROUP BY 1),
             |bg AS (SELECT a.w AS w1, b.w AS w2, count(*) AS c12
             |       FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |       GROUP BY 1, 2),
             |nn AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM bg),
             |sc AS (SELECT bg.w1, bg.w2, bg.c12,
             |       (CAST(bg.c12 AS DOUBLE) * nn.n) / (u1.c * u2.c) AS ratio
             |       FROM bg JOIN uni u1 ON u1.w = bg.w1 JOIN uni u2 ON u2.w = bg.w2
             |       CROSS JOIN nn WHERE bg.c12 >= 5)
             |SELECT w1, w2, c12, round(ln(ratio), 6) AS pmi
             |FROM sc ORDER BY ratio DESC, w1, w2 LIMIT 20""".stripMargin),
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")))
          .select(col("doc_id"), col("pos"), col("col").as("w"))
        val wp = Window.partitionBy("doc_id").orderBy("pos")
        val bg = t.withColumn("w2", lead("w", 1).over(wp))
          .filter(col("w2").isNotNull)
          .groupBy(col("w").as("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
        val uni = t.groupBy(col("w")).agg(count(lit(1)).as("c"))
        val nn = bg.agg(sum("c12").as("n"))
        bg.filter(col("c12") >= 5)
          .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
          .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
          .crossJoin(broadcast(nn))
          .withColumn("ratio",
            (col("c12").cast("double") * col("n")) / (col("c1") * col("c2")))
          .orderBy(col("ratio").desc, col("w1"), col("w2"))
          .limit(20)
          .select(col("w1"), col("w2"), col("c12"), round(log(col("ratio")), 6).as("pmi"))
      }),

    // ---------------------------------------------------------------- product-quantization ANN (ADC scan)
    QueryDef(
      "q_l39_ann_pq", "LLM-ann-pq",
      // PQ with 4 subspaces × 16 md5-derived codewords: the corpus
      // side keeps only 4 code bytes per 64-float vector, queries
      // carry a 4×16 asymmetric-distance lookup table, and the scan
      // is codes ⋈ broadcast(table) + a DECIMAL-summed 4-term ADC
      // total (Similarity.pqTopK). Entries round to 12dp before the
      // sum so the reduction order cannot leak.
      Some(s"""WITH $pqCodebookOracleCtes,
             |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |      FROM embeddings),
             |${pqCodesOracleCtes("dists")},
             |scored AS (SELECT qdt.query_id, codes.vec_id AS neighbor_id,
             |    CAST(sum(CAST(qdt.dt AS DECIMAL(28,12))) AS DOUBLE) AS adist
             |  FROM codes JOIN qdt ON qdt.s = codes.s AND qdt.c = codes.c
             |  WHERE codes.vec_id <> qdt.query_id GROUP BY 1, 2)
             |$adcRankOracle""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.pqTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
            k = 5)
          .orderBy("query_id", "rank")
      }),

    // ---------------------------------------------------------------- sorted-neighborhood dedup blocking
    QueryDef(
      "q_l45_sorted_neighborhood", "LLM-dedup-sorted-neighborhood",
      // merge/purge blocking: rank the corpus by the first-24-chars
      // normalized-text key (doc_id tiebreak), compare each doc to its
      // 2 successors only, exact 3-shingle Jaccard >= 0.8 on the
      // candidates. The oracle replays the identical global order with
      // a row_number window — the engine side computes the same ranks
      // with a range exchange + per-partition offsets (no global
      // window), which is the point of the operator.
      Some(s"""WITH base AS (SELECT doc_id,
             |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
             |       FROM documents),
             |r AS (SELECT doc_id,
             |        row_number() OVER (ORDER BY substr(nt, 1, 24), doc_id) AS rn
             |      FROM base),
             |cand AS (SELECT a.doc_id AS da, b.doc_id AS db
             |         FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 2),
             |$shingleSizesOracleCtes,
             |inter AS (SELECT least(c.da, c.db) AS id_a, greatest(c.da, c.db) AS id_b,
             |                 count(*) AS inter
             |          FROM cand c JOIN sh a ON a.doc_id = c.da
             |                      JOIN sh b ON b.doc_id = c.db AND b.s = a.s
             |          GROUP BY 1, 2)
             |${jaccardOracleTail("inter", "0.8")}""".stripMargin),
      (s, dir) =>
        Dedup.sortedNeighborhoodPairs(Tables.documents(s, dir), "doc_id", "text",
            keyLen = 24, window = 3, shingleN = 3, threshold = 0.8)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")),

    // ---------------------------------------------------------------- sliding-window chunking with overlap
    QueryDef(
      "q_l46_chunk_overlap", "LLM-corpus-chunking",
      // long-document -> context-window chunking: 64-token chunks every
      // 48 tokens (16-token overlap), final chunk short. Pure generator
      // explode + array slice — the oracle replays the identical spans,
      // chunk text included, so offsets AND content are value-exact.
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
             |          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
             |c AS (SELECT doc_id, w, len(w) AS n,
             |        unnest([i for i in generate_series(0, (len(w) - 1) // 48)]) AS chunk_id
             |      FROM t),
             |s AS (SELECT doc_id, w, n, chunk_id, chunk_id * 48 AS token_start FROM c)
             |SELECT doc_id, chunk_id, token_start,
             |       least(64, n - token_start) AS n_tokens,
             |       array_to_string(w[token_start + 1 : token_start + 64], ' ') AS chunk_text
             |FROM s ORDER BY doc_id, chunk_id""".stripMargin),
      (s, dir) =>
        Corpus.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
            chunkTokens = 64, overlap = 16)
          .orderBy("doc_id", "chunk_id")),

    // ---------------------------------------------------------------- prefix-filter set-similarity join
    QueryDef(
      "q_l47_prefix_filter_pairs", "LLM-dedup-prefix-filter",
      // AllPairs/PPJoin prefix filtering on 3-shingle Jaccard >= 0.8:
      // candidates share a shingle inside both docs' rarest-first
      // prefixes of length n - ceil(0.8*n) + 1 — a PROVABLE superset
      // of all true pairs (prefix-filter lemma), verified by exact
      // intersection counts. The oracle replays the identical global
      // shingle order (df asc, shingle asc), prefixes, candidates, and
      // verify.
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
             |tok AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
             |                                             for i in generate_series(1, len(w)-2)])) AS t
             |        FROM toks WHERE len(w) >= 3),
             |df AS (SELECT t, count(*) AS df FROM tok GROUP BY 1),
             |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
             |rk AS (SELECT tok.doc_id, tok.t,
             |         row_number() OVER (PARTITION BY tok.doc_id ORDER BY df.df, tok.t) AS rn
             |       FROM tok JOIN df USING (t)),
             |pref AS (SELECT rk.doc_id, rk.t FROM rk JOIN sz USING (doc_id)
             |         WHERE rn <= n - ceil(0.8 * n - 1e-9) + 1),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id),
             |i AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c
             |      JOIN tok a ON a.doc_id = c.id_a
             |      JOIN tok b ON b.doc_id = c.id_b AND b.t = a.t
             |      GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
             |FROM i JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) =>
        Dedup.prefixFilterJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
            shingleN = 3, threshold = 0.8)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")),

    // ---------------------------------------------------------------- grouped deterministic k-sample
    QueryDef(
      "q_l48_group_sample", "LLM-corpus-grouped-sample",
      // per-source weighted k-sample without replacement: q_l38's
      // Efraimidis-Spirakis priorities (ln(u)/w with u the doc's md5
      // fraction, w its token count), but selected PER GROUP through
      // the k-capped TopKByScore aggregate — map-side combine ships
      // <= k rows per (source, partition), no per-group window, no
      // global sort. The oracle is the definitional row_number form;
      // the aggregate's window-equivalence is additionally spec-pinned
      // (q_w5b's TopKSpec).
      Some(s"""$weightedSampleOracleCte,
             |r AS (SELECT source, doc_id,
             |        row_number() OVER (PARTITION BY source
             |                           ORDER BY ln(u) / w DESC, doc_id) AS rank
             |      FROM f WHERE w > 0)
             |SELECT source, rank, doc_id FROM r WHERE rank <= 20
             |ORDER BY source, rank""".stripMargin),
      (s, dir) => {
        val f = weightedSampleInputs(s, dir)
          .select(col("source"), col("doc_id"),
            (log(col("u")) / col("w")).as("__pri"))
        graft.operators.TopK.groupedTopKAgg(f, Seq("source"), "__pri", "doc_id", 20)
          .withColumn("rank", col("rank").cast("long"))
          .select("source", "rank", "doc_id")
          .orderBy("source", "rank")
      }),

    // ---------------------------------------------------------------- quality-gated corpus selection
    QueryDef(
      "q_l49_quality_gate", "LLM-corpus-quality-gate",
      // the standard curation step: keep only documents at-or-above
      // their SOURCE's median quality score. The per-source median is
      // the exact nearest-rank order statistic from the scale-safe
      // two-level histogram selection (operators/GroupedQuantiles —
      // no parallelism collapse to the source count); the gate itself
      // is a broadcast join + native filter. Medians are selected
      // CORPUS VALUES (round(...,6) doubles), so the >= compare is
      // identical-operand IEEE on both engines.
      Some("""WITH t AS (
             |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w FROM documents),
             |per AS (
             |  SELECT doc_id, source,
             |    least(len(w) / 100.0, 1.0) * 0.4 +
             |      (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','for')))
             |             AS DOUBLE) / len(w)) * 0.3 +
             |      least((CAST(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS DOUBLE)
             |             / len(w)) / 8.0, 1.0) * 0.3 AS quality
             |  FROM t),
             |n AS (SELECT source, count(*) AS n FROM per GROUP BY 1),
             |r AS (SELECT source, quality,
             |        row_number() OVER (PARTITION BY source ORDER BY quality) AS rn FROM per),
             |med AS (SELECT r.source, r.quality AS med FROM r JOIN n USING (source)
             |        WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
             |kept AS (SELECT per.source, per.quality, med.med
             |         FROM per JOIN med USING (source) WHERE per.quality >= med.med)
             |SELECT source, min(n.n) AS n_docs, count(*) AS n_kept,
             |  CAST(floor(min(med) * 1e6) AS BIGINT) AS med_q_micro,
             |  CAST(sum(CAST(floor(quality * 1e6) AS BIGINT)) AS BIGINT) AS sum_kept_q_micro
             |FROM kept JOIN n USING (source) GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        // pin the scored frame: the histogram selection scans its input
        // three times and the gate join a fourth — without the pin each
        // scan re-tokenizes every document (3 splits per score)
        // RAW scores throughout: the unrounded double is bit-identical
        // across engines (exact integer arithmetic + fixed-order IEEE
        // divisions), where round(...,6) can flip on exact half-way
        // values (see TextAnalysis.qualityScoreRaw). Outputs are
        // floor-scaled micro integers — no rounding tie possible.
        val t = Tables.documents(s, dir).select(col("doc_id"), col("source"),
          TextAnalysis.qualityScoreRaw(col("text")).as("quality"))
          .localCheckpoint(false)
        val n = t.groupBy("source").agg(count(lit(1)).as("n"))
        val med = graft.operators.GroupedQuantiles
          .exactQuantiles(t, "source", "quality", Seq(("med", 0.5)))
        t.join(broadcast(med), "source")
          .filter(col("quality") >= col("med"))
          .join(broadcast(n), "source")
          .groupBy("source")
          .agg(min(col("n")).as("n_docs"), count(lit(1)).as("n_kept"),
            floor(min(col("med")) * 1e6).cast("long").as("med_q_micro"),
            sum(floor(col("quality") * 1e6).cast("long")).cast("long")
              .as("sum_kept_q_micro"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- SemDeDup (cluster-scoped semantic dedup)
    QueryDef(
      "q_l56_semdedup", "LLM-dedup-semantic",
      // SemDeDup (Abbas et al. 2023): k-means-cluster-scoped pairwise
      // cosine; in each duplicate pair keep the member FURTHEST from
      // its centroid (edge examples preserve diversity), dist ties
      // drop the higher id. Clustering is the q_l26 exact-decimal
      // Lloyd replay WITH the final distance retained; pair scores are
      // round(cos, 3) exactly as q_l7. Planted exact copies
      // (vec_id+1e9, clear of the id space at any SF) co-cluster with their originals by
      // construction, tie on distance, and lose — every keep/drop
      // decision is pinned per vector.
      Some(s"""WITH ${centroidsOracleCtes("cents0", "cl0")},
             |aug AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 1000000000, embedding FROM embeddings WHERE vec_id < 50),
             |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM aug),
             |$lloydOracleCtes,
             |a2 AS (SELECT vec_id, c, dist FROM (
             |         SELECT vec_id, c, dist, row_number() OVER (PARTITION BY vec_id
             |                  ORDER BY dist, c) AS r FROM d2) WHERE r = 1),
             |pairs AS (
             |  SELECT a.vec_id AS ia, b.vec_id AS ib, a.dist AS da, b.dist AS db
             |  FROM a2 a JOIN a2 b ON a.c = b.c AND a.vec_id < b.vec_id
             |  JOIN v va ON va.vec_id = a.vec_id JOIN v vb ON vb.vec_id = b.vec_id
             |  WHERE ${cosineOracle("va.e", "vb.e")} >= 0.95),
             |losers AS (
             |  SELECT DISTINCT CASE WHEN da < db THEN ia WHEN db < da THEN ib
             |                       ELSE greatest(ia, ib) END AS vec_id
             |  FROM pairs)
             |SELECT a2.vec_id, a2.c AS cluster,
             |  CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS kept
             |FROM a2 LEFT JOIN losers l ON l.vec_id = a2.vec_id
             |ORDER BY a2.vec_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
        val aug = emb.unionByName(emb.filter(col("vec_id") < 50)
          .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding")))
        Dedup.semDedup(aug, "vec_id", "embedding", k = 8, iters = 2, tau = 0.95)
          .orderBy("vec_id")
      }),

    // ---------------------------------------------------------------- C4 cross-document line dedup
    QueryDef(
      "q_l57_line_dedup", "LLM-dedup-lines",
      // C4-style exact-line dedup with document reassembly. Docs are
      // restructured into 10-token lines (the corpus has no natural
      // newlines); exact copies planted at doc_id+1e9 (clear of the
      // id space at any SF) lose every
      // substantial line to their originals and reassemble to (at
      // most) their short tail line. Keep-first = min (doc, pos)
      // occurrence; lines under 20 chars never participate. Winner
      // choice is a min-struct aggregate on Spark and a row_number
      // window in the oracle — same winner, value-level identical.
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
             |  FROM documents),
             |lred AS (SELECT doc_id, w,
             |    unnest(generate_series(0, CAST(floor((len(w) - 1) / 10.0) AS BIGINT))) AS i
             |  FROM t),
             |lined0 AS (
             |  SELECT doc_id, string_agg(array_to_string(list_slice(w, i*10+1, i*10+10), ' '),
             |                            chr(10) ORDER BY i) AS text
             |  FROM lred GROUP BY doc_id),
             |lined AS (
             |  SELECT doc_id, text FROM lined0
             |  UNION ALL
             |  SELECT doc_id + 1000000000, text FROM lined0 WHERE doc_id < 20),
             |lines AS (SELECT doc_id,
             |    generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos,
             |    unnest(string_split(text, chr(10))) AS line
             |  FROM lined),
             |win AS (SELECT line, doc_id AS wid, pos AS wpos FROM (
             |    SELECT line, doc_id, pos,
             |      row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS r
             |    FROM lines WHERE length(line) >= 20) WHERE r = 1),
             |kept AS (SELECT l.doc_id, l.pos, l.line
             |  FROM lines l LEFT JOIN win ON win.line = l.line
             |  WHERE win.line IS NULL OR (win.wid = l.doc_id AND win.wpos = l.pos)),
             |agg AS (SELECT doc_id, count(*) AS n_kept,
             |    string_agg(line, chr(10) ORDER BY pos) AS text_out
             |  FROM kept GROUP BY doc_id)
             |SELECT l.doc_id,
             |  CAST(len(string_split(l.text, chr(10))) AS BIGINT) AS n_lines,
             |  coalesce(agg.n_kept, 0) AS n_kept,
             |  coalesce(agg.text_out, '') AS text_out
             |FROM lined l LEFT JOIN agg USING (doc_id)
             |ORDER BY l.doc_id""".stripMargin),
      (s, dir) => {
        val lined0 = Tables.documents(s, dir)
          .withColumn("__w", TextAnalysis.tokens(trim(col("text"))))
          .select(col("doc_id"), array_join(transform(
            sequence(lit(0L), floor((size(col("__w")) - 1) / 10).cast("long")),
            i => concat_ws(" ", slice(col("__w"), (i * 10 + 1).cast("int"), lit(10)))),
            "\n").as("text"))
        val lined = lined0.unionByName(lined0.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
        Corpus.lineDedup(lined, "doc_id", "text", minChars = 20)
          .orderBy("doc_id")
      }),

    // ---------------------------------------------------------------- DSIR importance-resampling selection
    QueryDef(
      "q_l58_dsir", "LLM-dsir-selection",
      // DSIR (Xie et al. 2023): rank raw docs by the hashed-unigram
      // log-likelihood ratio target-vs-raw (target = src0/src1), 1024
      // md5 buckets, add-1 smoothing. Each bucket ratio is the same
      // fixed-order double both engines rounded to 12dp; per-doc
      // scores sum as DECIMAL(28,12) (order-independent), so the
      // top-40 selection compares exact decimals — emitted floor-micro.
      Some("""WITH tok AS (SELECT doc_id, source IN ('src0', 'src1') AS t,
             |    unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents),
             |tb AS (SELECT doc_id, t,
             |    CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 1024 AS b
             |  FROM tok),
             |cells AS (SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END) AS tc,
             |    count(*) AS rc FROM tb GROUP BY b),
             |tot AS (SELECT sum(tc) AS tt, sum(rc) AS rt FROM cells),
             |ratios AS (SELECT b,
             |    CAST(round(ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + 1024 AS DOUBLE))
             |             - ln(CAST(rc + 1 AS DOUBLE) / CAST(rt + 1024 AS DOUBLE)), 12)
             |         AS DECIMAL(28,12)) AS lr
             |  FROM cells CROSS JOIN tot),
             |scored AS (SELECT doc_id, count(*) AS n_tokens, sum(lr) AS score
             |  FROM tb JOIN ratios USING (b) GROUP BY doc_id),
             |ranked AS (SELECT doc_id, n_tokens, score,
             |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
             |  FROM scored)
             |SELECT rank, doc_id, n_tokens,
             |  CAST(floor(score * 1000000) AS BIGINT) AS score_micro
             |FROM ranked WHERE rank <= 40 ORDER BY rank""".stripMargin),
      (s, dir) => {
        val scored = Corpus.dsirScores(Tables.documents(s, dir), "doc_id", "text",
          isTarget = col("source").isin("src0", "src1"), buckets = 1024)
        // global top-40 via TakeOrderedAndProject, THEN rank — the
        // window runs over the 40 surviving rows, never the corpus
        val top = scored.orderBy(col("score").desc, col("doc_id")).limit(40)
        top.withColumn("rank",
            row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
          .select(col("rank"), col("doc_id"), col("n_tokens"),
            // integer multiplier: DECIMAL x INT stays exact (a 1e6
            // double would detour through a decimal->double cast)
            floor(col("score") * lit(1000000)).cast("long").as("score_micro"))
          .orderBy("rank")
      }),

    // ---------------------------------------------------------------- seed-labeled NB quality classifier
    QueryDef(
      "q_l59_quality_classifier", "LLM-quality-classifier",
      // fastText-style corpus quality filter: train a multinomial NB
      // on WEAK seed labels (src0-4 positive, src15-19 negative; 64
      // md5 unigram buckets, add-1 smoothing, class prior), then score
      // EVERY doc — including the 10 unlabeled middle sources — and
      // report per-source acceptance. Weights are exact-count LLRs
      // rounded 12dp to DECIMAL(28,12); per-doc scores are exact
      // decimal sums, so accept (score > 0) is engine-independent.
      // Docs whose every token hashes outside the seed's buckets fall
      // back to the prior alone (left join + coalesce).
      Some(s"""${nbOracleCtes(seedWhere = NbSeedSources)}
              |SELECT d.source, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN prior.prior + coalesce(s.token_score, 0) > 0
              |           THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
              |FROM documents d CROSS JOIN prior
              |LEFT JOIN scores s ON s.doc_id = d.doc_id
              |GROUP BY d.source ORDER BY d.source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val (_, model, prior) = nbSeedModel(docs)
        val scored = Classifier.nbScore(docs, "doc_id", "text", model, prior, buckets = 64)
        docs.select(col("doc_id"), col("source"))
          .join(scored.select(col("doc_id"), col("accept")), Seq("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("accept").cast("long")).as("n_accept"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- hybrid retrieval: RRF(dense, sparse)
    QueryDef(
      "q_l60_rrf_fusion", "LLM-hybrid-retrieval",
      // query-by-document hybrid search: for each probe doc (< 10),
      // fuse its dense top-20 (exact cosine, the q_l5 ranker) with its
      // sparse top-20 (BM25 against the probe's OWN term bag) by
      // reciprocal-rank fusion 1/(60+rank). Sparse scores sum
      // 12dp-DECIMAL per-term contributions (dynamic bags can't use
      // q_l29's fixed coalesce chain); the fused score is a two-term
      // double sum over exact integer ranks, so the final top-5 order
      // is engine-independent.
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
             |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |contrib AS (SELECT tf.doc_id AS cand_id, tf.term,
             |    CAST(round(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             |      * (tf.tf * 2.2)
             |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
             |           / (CAST(stats.total_len AS DOUBLE) / stats.n_docs))), 12)
             |         AS DECIMAL(28,12)) AS c
             |  FROM tf JOIN df ON tf.term = df.term
             |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
             |probeterms AS (SELECT DISTINCT doc_id AS query_id, term FROM tok
             |  WHERE doc_id < 10),
             |sparse_scores AS (SELECT p.query_id, c.cand_id, sum(c.c) AS score
             |  FROM contrib c JOIN probeterms p ON c.term = p.term
             |  WHERE c.cand_id <> p.query_id GROUP BY 1, 2),
             |sparse AS (SELECT query_id, cand_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY score DESC, cand_id) AS rank
             |  FROM sparse_scores QUALIFY rank <= 20),
             |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |dense_scored AS (SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
             |    round(list_inner_product(q.e, c2.e) /
             |          (sqrt(list_inner_product(q.e, q.e))
             |           * sqrt(list_inner_product(c2.e, c2.e))), 6) AS score
             |  FROM v q JOIN v c2 ON q.vec_id < 10 AND q.vec_id <> c2.vec_id),
             |dense AS (SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY score DESC, neighbor_id) AS rank
             |  FROM dense_scored QUALIFY rank <= 20),
             |fused AS (SELECT coalesce(d.query_id, s.query_id) AS query_id,
             |    coalesce(d.neighbor_id, s.neighbor_id) AS neighbor_id,
             |    coalesce(1.0 / (60 + d.rank), 0.0)
             |      + coalesce(1.0 / (60 + s.rank), 0.0) AS rrf
             |  FROM dense d FULL OUTER JOIN sparse s
             |    ON d.query_id = s.query_id AND d.neighbor_id = s.neighbor_id)
             |SELECT query_id, rank, neighbor_id, round(rrf, 6) AS rrf FROM (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY rrf DESC, neighbor_id) AS BIGINT) AS rank
             |  FROM fused) t
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val dense = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 20, scale = 6)
        val probeTerms = docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("query_id"),
            explode(TextAnalysis.tokens(col("text"))).as("term"))
          .distinct()
        val ws = Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id"))
        val sparse = Retrieval
          .bm25PerQuery(docs, "doc_id", "text", probeTerms, k1 = 1.2, b = 0.75)
          .filter(col("cand_id") =!= col("query_id"))
          .withColumn("rank", row_number().over(ws))
          .filter(col("rank") <= 20)
          .select(col("query_id"), col("cand_id").as("neighbor_id"), col("rank"))
        Retrieval.rrfFuse(
            dense.select("query_id", "neighbor_id", "rank"), sparse, kRrf = 60, topN = 5)
          .orderBy("query_id", "rank")
      }),

    // ---------------------------------------------------------------- BPE tokenizer merge training
    QueryDef(
      "q_l61_bpe_train", "LLM-bpe-train",
      // train-the-tokenizer-on-the-corpus: 8 BPE merge rounds over the
      // word-frequency table (Sennrich et al. 2016) — per round, count
      // adjacent symbol pairs weighted by word freq (overlaps counted,
      // as in the reference implementation), pick max count with
      // lexicographic tie-break, merge leftmost-greedily everywhere.
      // The oracle UNROLLS all 8 rounds as CTE chains; both engines
      // share the delimited-sequence form, so a merge is the same
      // non-overlapping left-to-right replace of '|a||b|'. Output is
      // the merge table plus the weighted symbol count after each
      // round (the compression curve) — every row depends on all
      // previous rounds' rewrites, so a single mis-merge anywhere
      // diverges the table.
      Some {
        val union = (1 to 8).map { k =>
          s"SELECT CAST($k AS BIGINT) AS step, a AS sym_a, b AS sym_b, " +
            s"cnt AS pair_count, n.n_sym FROM b$k CROSS JOIN n$k n"
        }.mkString("\nUNION ALL ")
        s"${bpeOracleCtes(8)}\nSELECT * FROM ($union) ORDER BY step"
      },
      (s, dir) => Bpe.train(Tables.documents(s, dir), "text", merges = 8).orderBy("step")),

    // ---------------------------------------------------------------- BPE apply: corpus compression per source
    QueryDef(
      "q_l61b_bpe_apply", "LLM-bpe-apply",
      // tokenize the corpus with the 8-merge BPE just trained on it:
      // per source, whitespace tokens vs BPE tokens — the compression
      // the tokenizer buys, the number a data-budget plan actually
      // consumes. The vocabulary (word → merged symbol count after
      // round 8) joins back onto the token stream; the oracle replays
      // the full 8-round chain and the apply join.
      Some(s"""${bpeOracleCtes(8)},
              |vocab AS (SELECT word, len(string_split(trim(seq, '|'), '||')) AS n_bpe
              |  FROM seq8),
              |tok2 AS (SELECT source,
              |    unnest(string_split_regex(trim(text), '\\s+')) AS term
              |  FROM documents)
              |SELECT source, CAST(count(*) AS BIGINT) AS ws_tokens,
              |  CAST(sum(v.n_bpe) AS BIGINT) AS bpe_tokens
              |FROM tok2 JOIN vocab v ON tok2.term = v.word
              |GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) =>
        Bpe.tokenCounts(Tables.documents(s, dir), "text", "source", merges = 8)
          .orderBy("source")),

    // ---------------------------------------------------------------- CCNet perplexity terciles per language
    QueryDef(
      "q_l62_ppl_buckets", "LLM-ppl-buckets",
      // CCNet-style head/middle/tail bucketing: score every doc with
      // the self-trained unigram LM (q_l32's exact-decimal mean
      // log-prob), then split EACH LANGUAGE at its own perplexity
      // terciles — thresholds are exact nearest-rank order statistics
      // ceil(n/3)/ceil(2n/3) from the two-level histogram selection
      // (parallelism never collapses to the 5-language cardinality;
      // the oracle is the sort-based formulation, q_a10b's contract),
      // broadcast back for the bucket assignment. Doc+token counts
      // per (lang, bucket) drive the mix a CCNet pipeline feeds
      // downstream.
      Some(s"""$unigramLogProbOracleCtes,
             |scored AS (SELECT d.lang, p.doc_id,
             |    CAST(round(p.logp_sum / p.n_tokens, 6) AS DECIMAL(18,6)) AS score,
             |    p.n_tokens
             |  FROM per p JOIN documents d ON d.doc_id = p.doc_id),
             |rk AS (SELECT lang, score,
             |    row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY lang) AS n
             |  FROM scored),
             |th AS (SELECT lang,
             |    max(CASE WHEN rn = CAST(ceil((1.0/3) * n) AS BIGINT) THEN score END) AS q33,
             |    max(CASE WHEN rn = CAST(ceil((2.0/3) * n) AS BIGINT) THEN score END) AS q66
             |  FROM rk GROUP BY 1)
             |SELECT s.lang,
             |  CASE WHEN s.score > t.q66 THEN 'head'
             |       WHEN s.score > t.q33 THEN 'middle'
             |       ELSE 'tail' END AS bucket,
             |  count(*) AS n_docs, CAST(sum(s.n_tokens) AS BIGINT) AS n_tokens
             |FROM scored s JOIN th t ON s.lang = t.lang
             |GROUP BY 1, 2 ORDER BY s.lang, bucket""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scored = Retrieval.unigramDocLogProb(docs, "doc_id", "text")
          .withColumn("score",
            round(col("logp_sum") / col("n_tokens"), 6).cast(DecimalType(18, 6)))
          .join(docs.select("doc_id", "lang"), "doc_id")
          .localCheckpoint(false) // consumed by thresholds AND bucketing
        val th = graft.operators.GroupedQuantiles.exactQuantiles(
          scored, "lang", "score", Seq("q33" -> (1.0 / 3), "q66" -> (2.0 / 3)))
        scored
          .join(broadcast(th), "lang")
          .withColumn("bucket",
            when(col("score") > col("q66"), "head")
              .when(col("score") > col("q33"), "middle")
              .otherwise("tail"))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
          .orderBy("lang", "bucket")
      }),

    // ---------------------------------------------------------------- distributed PCA: covariance + power iteration
    QueryDef(
      "q_l63_pca_power", "LLM-pca",
      // top principal component of the embedding column: one corpus
      // pass builds the 64×64 covariance (centered products rounded
      // 10dp, summed as DECIMAL — the n·d² kernel of whitening), then
      // 3 power steps from an md5 seed against the broadcast matrix,
      // every float-accumulation point decimal-rounded so both engines
      // walk bit-identical iterates (the q_l26 recipe). Sign fixed at
      // loading(1) ≥ 0; lambda is ‖C·v‖ of the final step. Fixed step
      // count IS the contract — production loops to tolerance.
      Some {
        val head =
          """WITH v0 AS (SELECT j, CAST(('0x' || substr(md5('pc:' || j), 1, 16)) AS UBIGINT)
            |    / 9223372036854775808.0 - 1.0 AS v
            |  FROM generate_series(1, 64) g(j)),
            |ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            |  FROM embeddings),
            |x1 AS (SELECT vec_id, generate_subscripts(e, 1) AS j, unnest(e) AS x FROM ve),
            |m AS (SELECT j, CAST(sum(CAST(x AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS m
            |  FROM x1 GROUP BY j),
            |nn AS (SELECT count(*) AS n FROM embeddings),
            |cx AS (SELECT vec_id, x1.j, x - m.m AS cx FROM x1 JOIN m ON x1.j = m.j),
            |cov AS (SELECT a.j AS ci, b.j AS cj,
            |    CAST(sum(CAST(round(a.cx * b.cx, 10) AS DECIMAL(28,10))) AS DOUBLE)
            |      / (nn.n - 1) AS cov
            |  FROM cx a JOIN cx b ON a.vec_id = b.vec_id CROSS JOIN nn
            |  GROUP BY a.j, b.j, nn.n)""".stripMargin
        val steps = (1 to 3).map { k =>
          val p = if (k > 1) s"v${k - 1}" else "v0"
          s"""u$k AS (SELECT c.ci AS j,
             |    CAST(sum(CAST(round(c.cov * vp.v, 12) AS DECIMAL(28,12))) AS DOUBLE) AS u
             |  FROM cov c JOIN $p vp ON c.cj = vp.j GROUP BY c.ci),
             |nr$k AS (SELECT sqrt(CAST(sum(CAST(round(u*u, 12) AS DECIMAL(28,12)))
             |  AS DOUBLE)) AS nrm FROM u$k),
             |v$k AS (SELECT j, u / nr$k.nrm AS v FROM u$k CROSS JOIN nr$k)""".stripMargin
        }.mkString(",\n")
        s"""$head,
           |$steps,
           |sgn AS (SELECT CASE WHEN (SELECT v FROM v3 WHERE j = 1) < 0
           |  THEN -1.0 ELSE 1.0 END AS sgn)
           |SELECT j, round(v * sgn.sgn, 6) AS loading, round(nr3.nrm, 6) AS lambda
           |FROM v3 CROSS JOIN sgn CROSS JOIN nr3 ORDER BY j""".stripMargin
      },
      (s, dir) =>
        Pca.topComponent(Tables.embeddings(s, dir), "vec_id", "embedding",
          dim = 64, iters = 3)),

    // ---------------------------------------------------------------- corpus data-contract validator
    QueryDef(
      "q_l64_corpus_contract", "LLM-corpus-contract",
      // the expectation suite run before any curation spend: four
      // structural checks that must be zero on healthy data (empty
      // text, n_chars drift vs the actual text, duplicate keys,
      // duplicate content) and two policy meters that are non-zero by
      // design (short docs under 150 chars, non-English share) — the
      // zeros prove the data, the non-zeros prove the wiring. One
      // aggregation pass, unpivoted to a row per check.
      Some("""WITH a AS (SELECT count(*) AS n,
             |  CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS empty_text,
             |  CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS chars_mismatch,
             |  count(*) - count(DISTINCT doc_id) AS dup_doc_id,
             |  count(*) - count(DISTINCT md5(text)) AS dup_text,
             |  CAST(sum(CASE WHEN n_chars < 150 THEN 1 ELSE 0 END) AS BIGINT) AS short_text,
             |  CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
             |    AS non_primary_lang
             |  FROM documents)
             |SELECT c.check_name, c.n_violations, a.n AS n_checked FROM a,
             |LATERAL (VALUES ('chars_mismatch', a.chars_mismatch),
             |                ('dup_doc_id', a.dup_doc_id),
             |                ('dup_text', a.dup_text),
             |                ('empty_text', a.empty_text),
             |                ('non_primary_lang', a.non_primary_lang),
             |                ('short_text', a.short_text)) c(check_name, n_violations)
             |ORDER BY c.check_name""".stripMargin),
      (s, dir) =>
        Corpus.contractChecks(Tables.documents(s, dir), shortBelow = 150, primaryLang = "en")
          .orderBy("check_name"))
        ,

    // ---------------------------------------------------------------- cross-modal contract: docs <-> embeddings
    QueryDef(
      "q_l65_modal_contract", "LLM-modal-contract",
      // q_l64's sibling for the vector modality, plus the referential
      // contract BETWEEN modalities: every doc must have its
      // embedding row and vice versa (left_anti both ways), vectors
      // must be 64-dim, NaN-free, non-zero (order-free exists/forall
      // forms — never a float sum), labels in range; the peaked-vector
      // meter (max |x| > 0.3) is the non-zero row proving the wiring.
      // Anti-joins are the scale path for referential checks — never
      // a distinct-collect.
      Some("""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
             |v AS (SELECT count(*) AS n_emb,
             |  CAST(sum(CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS wrong_dim,
             |  CAST(sum(CASE WHEN len(list_filter(embedding, x -> isnan(x))) > 0
             |    THEN 1 ELSE 0 END) AS BIGINT) AS nan_component,
             |  CAST(sum(CASE WHEN len(list_filter(embedding, x -> x <> 0)) = 0
             |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_vector,
             |  CAST(sum(CASE WHEN list_max(list_transform(embedding,
             |    x -> abs(CAST(x AS DOUBLE)))) > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS peaked_vector,
             |  CAST(sum(CASE WHEN label IS NULL OR label < 0 OR label > 9
             |    THEN 1 ELSE 0 END) AS BIGINT) AS label_out_of_range
             | FROM e),
             |d1 AS (SELECT count(*) AS nv FROM documents d
             |  LEFT JOIN e ON d.doc_id = e.vec_id WHERE e.vec_id IS NULL),
             |d2 AS (SELECT count(*) AS nv FROM e
             |  LEFT JOIN documents d ON d.doc_id = e.vec_id WHERE d.doc_id IS NULL),
             |nd AS (SELECT count(*) AS n FROM documents)
             |SELECT * FROM (
             |  SELECT 'docs_without_embedding' AS check_name, d1.nv AS n_violations,
             |    nd.n AS n_checked FROM d1, nd
             |  UNION ALL SELECT 'embeddings_without_doc', d2.nv, v.n_emb FROM d2, v
             |  UNION ALL SELECT 'wrong_dim', wrong_dim, n_emb FROM v
             |  UNION ALL SELECT 'nan_component', nan_component, n_emb FROM v
             |  UNION ALL SELECT 'zero_vector', zero_vector, n_emb FROM v
             |  UNION ALL SELECT 'peaked_vector', peaked_vector, n_emb FROM v
             |  UNION ALL SELECT 'label_out_of_range', label_out_of_range, n_emb FROM v
             |) t ORDER BY check_name""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"))
        val emb = Tables.embeddings(s, dir)
        val e = emb.select(col("vec_id"), col("label"),
          graft.llm.Similarity.asDouble(col("embedding")).as("e"))
        val v = e.agg(
          count(lit(1)).as("n_emb"),
          sum(when(size(col("e")) =!= 64, 1L).otherwise(0L)).as("wrong_dim"),
          sum(when(exists(col("e"), x => isnan(x)), 1L).otherwise(0L)).as("nan_component"),
          sum(when(!exists(col("e"), x => x =!= 0.0), 1L).otherwise(0L)).as("zero_vector"),
          sum(when(array_max(transform(col("e"), x => abs(x))) > 0.3, 1L).otherwise(0L))
            .as("peaked_vector"),
          sum(when(col("label").isNull || col("label") < 0 || col("label") > 9, 1L)
            .otherwise(0L)).as("label_out_of_range"))
        val d1 = docs.join(e.select(col("vec_id")), col("doc_id") === col("vec_id"),
            "left_anti").agg(count(lit(1)).as("nv"))
          .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
          .select(lit("docs_without_embedding").as("check_name"),
            col("nv").as("n_violations"), col("n").as("n_checked"))
        val d2 = e.select(col("vec_id")).join(docs, col("doc_id") === col("vec_id"),
            "left_anti").agg(count(lit(1)).as("nv"))
          .crossJoin(broadcast(v.select(col("n_emb"))))
          .select(lit("embeddings_without_doc").as("check_name"),
            col("nv").as("n_violations"), col("n_emb").as("n_checked"))
        val vRows = v.select(
          expr("""stack(5,
            'wrong_dim', wrong_dim,
            'nan_component', nan_component,
            'zero_vector', zero_vector,
            'peaked_vector', peaked_vector,
            'label_out_of_range', label_out_of_range) as (check_name, n_violations)"""),
          col("n_emb").as("n_checked"))
        d1.unionByName(d2).unionByName(vRows).orderBy("check_name")
      }),

    // ---------------------------------------------------------------- Zipf-law fit per source
    QueryDef(
      "q_l66_zipf_fit", "LLM-zipf-fit",
      // corpus-linguistics diagnostic: OLS of ln(freq) on ln(rank) per
      // source — natural text slopes ≈ −1 (Zipf); a near-flat slope
      // flags TEMPLATED/SYNTHETIC text (which this fixture corpus
      // honestly is). Ranks are per-source windows bounded by the
      // VOCABULARY (≤ |vocab| rows per partition however big the
      // corpus — the token counting upstream is the corpus-sized
      // work). OLS moment sums are 12dp-DECIMAL; the slope division
      // runs once on exact operands.
      Some("""WITH tok AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             |tf AS (SELECT source, term, count(*) AS f FROM tok GROUP BY 1, 2),
             |rk AS (SELECT source, term, f,
             |    row_number() OVER (PARTITION BY source ORDER BY f DESC, term) AS r
             |  FROM tf),
             |pts AS (SELECT source, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
             |  FROM rk),
             |m AS (SELECT source, count(*) AS n,
             |    CAST(sum(CAST(round(x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             |    CAST(sum(CAST(round(y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             |    CAST(sum(CAST(round(x * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             |    CAST(sum(CAST(round(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx
             |  FROM pts GROUP BY 1)
             |SELECT source, n AS n_terms,
             |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
             |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             |    AS intercept
             |FROM m ORDER BY source""".stripMargin),
      (s, dir) => {
        val tf = Tables.documents(s, dir)
          .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
          .groupBy("source", "term").agg(count(lit(1)).as("f"))
        val w = Window.partitionBy("source").orderBy(col("f").desc, col("term"))
        val pts = tf
          .withColumn("r", row_number().over(w))
          .select(col("source"),
            log(col("r").cast("double")).as("x"), log(col("f").cast("double")).as("y"))
        val m = pts.groupBy("source").agg(
          count(lit(1)).as("n"),
          sum(round(col("x"), 12).cast(DecimalType(28, 12))).cast("double").as("sx"),
          sum(round(col("y"), 12).cast(DecimalType(28, 12))).cast("double").as("sy"),
          sum(round(col("x") * col("y"), 12).cast(DecimalType(28, 12))).cast("double")
            .as("sxy"),
          sum(round(col("x") * col("x"), 12).cast(DecimalType(28, 12))).cast("double")
            .as("sxx"))
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
        m.select(col("source"), col("n").as("n_terms"),
            round(slope, 6).as("slope"),
            round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- ANN quality: nDCG@10 of multi-probe LSH
    QueryDef(
      "q_l67_ndcg_eval", "LLM-ann-eval",
      // the IR-evaluation op an ANN rollout gates on: nDCG@10 of the
      // multi-probe LSH ranking against exact-cosine ground truth
      // (graded relevance 11−exact_rank for the true top-10, else 0).
      // Everything is deterministic — md5 planes, rounded-score ranks,
      // id tie-breaks — so the METRIC itself is oracle-checkable, not
      // just sampled. DCG terms rel/log2(rank+1) are doubles from
      // exact integers, rounded 12dp and summed as DECIMAL; IDCG is
      // the same decimal build over the ideal ranking. Scale shape:
      // both rankers are key-partitioned bucket/window work; the
      // evaluation join is per-(query, neighbor).
      Some(s"""${lshBucketOracleCtes()},
             |sys AS (SELECT query_id, neighbor_id, rank FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         ${cosineOracle("q.e", "c.e")} AS score,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY ${cosineOracle("q.e", "c.e")} DESC, c.vec_id)
             |           AS rank
             |  FROM v q JOIN v c
             |    ON bit_count(xor(q.bucket, c.bucket)) <= 1
             |   AND q.vec_id < 20 AND q.vec_id <> c.vec_id) t WHERE rank <= 10),
             |truth AS (SELECT query_id, neighbor_id, 11 - rank AS rel FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY ${cosineOracle("q.e", "c.e")} DESC, c.vec_id)
             |           AS rank
             |  FROM v q JOIN v c ON q.vec_id < 20 AND q.vec_id <> c.vec_id) t
             |  WHERE rank <= 10),
             |dcg AS (SELECT s.query_id,
             |    sum(CAST(round(coalesce(tr.rel, 0) / log2(s.rank + 1.0), 12)
             |        AS DECIMAL(28,12))) AS dcg,
             |    CAST(sum(CASE WHEN tr.rel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_hits
             |  FROM sys s LEFT JOIN truth tr
             |    ON tr.query_id = s.query_id AND tr.neighbor_id = s.neighbor_id
             |  GROUP BY s.query_id),
             |idcg AS (SELECT sum(CAST(round((11 - i) / log2(i + 1.0), 12)
             |    AS DECIMAL(28,12))) AS idcg
             |  FROM generate_series(1, 10) g(i))
             |SELECT query_id, n_hits,
             |  round(CAST(dcg AS DOUBLE) / CAST(idcg.idcg AS DOUBLE), 6) AS ndcg
             |FROM dcg CROSS JOIN idcg ORDER BY query_id""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qs = emb.filter(col("vec_id") < 20)
        val truth = Similarity
          .bruteForceTopK(qs, emb, "vec_id", "embedding", k = 10, scale = 3)
          .select(col("query_id"), col("neighbor_id"), (lit(11) - col("rank")).as("rel"))
        val sys = Similarity
          .lshTopKMultiProbe(qs, emb, "vec_id", "embedding", k = 10, nPlanes = 4)
        val dcg = sys
          .join(truth, Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(
            sum(round(coalesce(col("rel"), lit(0)).cast("double")
              / log2(col("rank") + lit(1.0)), 12).cast(DecimalType(28, 12))).as("dcg"),
            sum(when(col("rel").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        val idcg = s.range(1, 11)
          .agg(sum(round((lit(11) - col("id")).cast("double")
            / log2(col("id") + lit(1.0)), 12).cast(DecimalType(28, 12))).as("idcg"))
        dcg.crossJoin(broadcast(idcg)) // 1 row: the ideal-ranking constant
          .select(col("query_id"), col("n_hits"),
            round(col("dcg").cast("double") / col("idcg").cast("double"), 6).as("ndcg"))
          .orderBy("query_id")
      }),

    // ---------------------------------------------------------------- exact-size stratified sample (largest remainder)
    QueryDef(
      "q_l68_stratified_sample", "LLM-stratified-exact-sample",
      // draw EXACTLY 100 docs proportionally by language: quotas by
      // largest-remainder apportionment (floor shares, then the
      // biggest fractional remainders absorb the deficit — pure
      // integer arithmetic, ties to the smaller lang), membership by
      // md5 rank within each stratum (52-bit prefix: exact in a
      // double, so the k-capped top-k aggregate and the oracle's
      // UBIGINT ordering agree bit-for-bit). Unlike the fraction
      // split (q_l16) the total is EXACT; unlike the fixed-k group
      // sample (q_l48) quotas derive from the observed mix. Per-group
      // state is capped at 100 — the apportionment windows run over
      // the 5-row strata frame, never the corpus. id_sum pins the
      // exact membership.
      Some("""WITH s AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
             |tot AS (SELECT sum(n) AS t FROM s),
             |q0 AS (SELECT lang, n, (100 * n) // t AS base, (100 * n) % t AS rem
             |  FROM s CROSS JOIN tot),
             |d AS (SELECT CAST(100 - sum(base) AS BIGINT) AS deficit FROM q0),
             |qr AS (SELECT lang, n, base,
             |    row_number() OVER (ORDER BY rem DESC, lang) AS rr FROM q0),
             |quota AS (SELECT lang, n,
             |    base + CASE WHEN rr <= d.deficit THEN 1 ELSE 0 END AS quota
             |  FROM qr CROSS JOIN d),
             |scored AS (SELECT lang, doc_id,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT) AS h
             |  FROM documents),
             |rk AS (SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS r
             |  FROM scored),
             |sel AS (SELECT rk.lang, CAST(sum(rk.doc_id) AS BIGINT) AS id_sum
             |  FROM rk JOIN quota ON rk.lang = quota.lang AND rk.r <= quota.quota
             |  GROUP BY 1)
             |SELECT q.lang, q.n AS n_docs, CAST(q.quota AS BIGINT) AS quota,
             |  CAST(coalesce(sel.id_sum, 0) AS BIGINT) AS id_sum
             |FROM quota q LEFT JOIN sel ON sel.lang = q.lang
             |ORDER BY q.lang""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val strata = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        val tot = strata.agg(sum(col("n")).as("t"))
        val q0 = strata.crossJoin(broadcast(tot)) // 1 row: corpus total
          .select(col("lang"), col("n"),
            expr("(100 * n) div t").as("base"), expr("(100 * n) % t").as("rem"))
        val deficit = q0.agg((lit(100) - sum(col("base"))).as("deficit"))
        // apportionment runs over the strata frame (5 rows) — the
        // global window is bounded by the number of languages
        val quota = q0
          .withColumn("rr", row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
          .crossJoin(broadcast(deficit)) // 1 row
          .select(col("lang"), col("n"),
            (col("base") + when(col("rr") <= col("deficit"), 1L).otherwise(0L))
              .as("quota"))
        val sel = docs
          .select(col("lang"),
            (-conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
              .cast("long").cast("double")).as("sc"),
            col("doc_id"))
          .groupBy("lang")
          .agg(graft.functions.TopKByScore(col("sc"), col("doc_id"), 100).as("arr"))
          .join(broadcast(quota.select(col("lang"), col("quota"))), "lang")
          .select(col("lang"),
            expr("aggregate(slice(arr, 1, CAST(quota AS INT)), CAST(0 AS BIGINT), (a, x) -> a + x.id)")
              .as("id_sum"))
        quota
          .join(sel, Seq("lang"), "left")
          .select(col("lang"), col("n").as("n_docs"), col("quota"),
            coalesce(col("id_sum"), lit(0L)).as("id_sum"))
          .orderBy("lang")
      }),

    // ---------------------------------------------------------------- k-fold cross-validated classifier accuracy
    QueryDef(
      "q_l69_classifier_cv", "LLM-classifier-cv",
      // the model-selection step: 5-fold cross-validation of the NB
      // quality classifier — md5 fold assignment over the labeled
      // docs, train on 4 folds, score the held-out fold, accuracy =
      // (predicted accept) == (source in the positive set). Every
      // fold's model/prior/decision is exact-decimal, so the
      // cross-validated accuracies themselves are oracle-checked (the
      // oracle UNROLLS all five folds). Per fold: one vocabulary-
      // bounded model build + one broadcast-scored pass — 5× the
      // q_l59 cost, embarrassingly parallel across folds at scale.
      // On this corpus the accuracies hover at ~0.5: every source
      // draws from the SAME 31-token vocabulary, so source labels are
      // not learnable from text — which is precisely the verdict CV
      // exists to deliver before a filter ships (q_l59's in-sample
      // acceptance rates alone would not reveal it).
      Some {
        val folds = (0 until 5).map { f =>
          s"""counts$f AS (SELECT t.bucket, sum(l.truth) AS n_pos_b,
             |    sum(1 - l.truth) AS n_neg_b
             |  FROM tok t JOIN lab l ON t.doc_id = l.doc_id AND l.fold <> $f
             |  GROUP BY t.bucket),
             |tot$f AS (SELECT sum(n_pos_b) AS n_pos, sum(n_neg_b) AS n_neg FROM counts$f),
             |model$f AS (SELECT bucket,
             |    CAST(round(ln((n_pos_b + 1.0) / (n_pos + 64.0))
             |             - ln((n_neg_b + 1.0) / (n_neg + 64.0)), 12)
             |         AS DECIMAL(28,12)) AS w
             |  FROM counts$f CROSS JOIN tot$f),
             |prior$f AS (SELECT CAST(round(ln((sum(truth) + 1.0)
             |    / (sum(1 - truth) + 1.0)), 12) AS DECIMAL(28,12)) AS prior
             |  FROM lab WHERE fold <> $f),
             |scores$f AS (SELECT t.doc_id, sum(m.w) AS token_score
             |  FROM tok t JOIN model$f m ON t.bucket = m.bucket GROUP BY t.doc_id),
             |eval$f AS (SELECT CAST($f AS BIGINT) AS fold, count(*) AS n_eval,
             |  CAST(sum(CASE WHEN (prior$f.prior + coalesce(s.token_score, 0) > 0)
             |                     = (l.truth = 1) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_correct
             |  FROM lab l CROSS JOIN prior$f
             |  LEFT JOIN scores$f s ON s.doc_id = l.doc_id
             |  WHERE l.fold = $f)""".stripMargin
        }.mkString(",\n")
        val union = (0 until 5)
          .map(f => s"SELECT fold, n_eval, n_correct FROM eval$f")
          .mkString("\nUNION ALL ")
        s"""WITH tok AS (SELECT doc_id,
           |    CAST(('0x' || substr(md5(term), 1, 6)) AS BIGINT) % 64 AS bucket
           |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
           |        FROM documents)),
           |lab AS (SELECT doc_id,
           |    CAST(('0x' || substr(md5('fold:' || doc_id), 1, 8)) AS UBIGINT) % 5 AS fold,
           |    CASE WHEN source IN ('src0','src1','src2','src3','src4')
           |         THEN 1 ELSE 0 END AS truth
           |  FROM documents WHERE $NbSeedSources),
           |$folds
           |SELECT fold, n_eval, n_correct,
           |  round(CAST(n_correct AS DOUBLE) / n_eval, 6) AS accuracy
           |FROM ($union) t ORDER BY fold""".stripMargin
      },
      (s, dir) => {
        val labeled = Tables.documents(s, dir)
          .filter(col("source").isin(NbSeedSet: _*))
          .select(col("doc_id"), col("text"),
            (conv(substring(md5(concat(lit("fold:"), col("doc_id").cast("string"))),
              1, 8), 16, 10).cast("long") % 5).as("fold"),
            col("source").isin(NbPositive: _*).cast("int").as("truth"))
        // fold-as-data: ONE token pass, all five train-set models by
        // total-minus-fold subtraction (bit-identical to the looped
        // nbTrain/nbScore per fold — see Classifier.nbCrossVal; the
        // loop's 5 plan branches cost 62 jobs, this shape ~15)
        Classifier.nbCrossVal(labeled, "doc_id", "text", "fold", "truth",
            nFolds = 5, buckets = 64)
          .withColumn("accuracy",
            round(col("n_correct").cast("double") / col("n_eval"), 6))
          .orderBy("fold")
      }),

    // ---------------------------------------------------------------- filter-cascade attrition funnel
    QueryDef(
      "q_l70_filter_cascade", "LLM-filter-cascade",
      // FineWeb-style sequential filter funnel with per-rule attrition:
      // language gate, minimum length, stopword floor, then the two
      // Gopher repetition rules (duplicate-2gram fraction, top-2gram
      // mass). Every per-doc measure is exact-integer arithmetic plus
      // one correctly-rounded IEEE division in the same order on both
      // engines, so the stage booleans — and therefore the cumulative
      // funnel counts — are engine-independent without any rounding.
      // Thresholds calibrated so every stage drops a nonzero share at
      // sf0.001/0.01/0.1 (500→193→149→142→100→41 docs at sf0.001).
      Some(s"""$filterMeasuresOracleCtes,
             |c AS (SELECT lang = 'en' AS c1, lang = 'en' AND n >= 30 AS c2,
             |  lang = 'en' AND n >= 30 AND stopratio >= 0.02 AS c3,
             |  lang = 'en' AND n >= 30 AND stopratio >= 0.02 AND dup2 <= 0.05 AS c4,
             |  lang = 'en' AND n >= 30 AND stopratio >= 0.02 AND dup2 <= 0.05
             |    AND top2f <= 0.025 AS c5
             |  FROM per),
             |a AS (SELECT count(*) AS s0,
             |  CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
             |  CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
             |  CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
             |  CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
             |  CAST(sum(CASE WHEN c5 THEN 1 ELSE 0 END) AS BIGINT) AS s5 FROM c)
             |SELECT stage, rule, n_in, n_in - n_out AS n_drop, n_out FROM (
             |  SELECT 1 AS stage, 'lang_en' AS rule, s0 AS n_in, s1 AS n_out FROM a
             |  UNION ALL SELECT 2, 'min_tokens', s1, s2 FROM a
             |  UNION ALL SELECT 3, 'stopword_ratio', s2, s3 FROM a
             |  UNION ALL SELECT 4, 'dup_bigram', s3, s4 FROM a
             |  UNION ALL SELECT 5, 'top_bigram_mass', s4, s5 FROM a)
             |ORDER BY stage""".stripMargin),
      (s, dir) => {
        // the top-2gram mass is per-row after all (array_sort +
        // run-length fold, TextAnalysis.topBigramFraction) — the
        // (doc, gram) explode+agg+join this used to ride is gone
        // (guide §2.4: remove shuffles outright). The per-row text
        // work is now scan-bound, so widen the single-file local scan.
        val docs = graft.SparkUtil.widenByFiles(Tables.documents(s, dir))
        val flagged = docs
          .select(col("lang"),
            TextAnalysis.tokenCount(col("text")).as("n"),
            TextAnalysis.stopwordRatio(col("text")).as("stopratio"),
            TextAnalysis.dupBigramFraction(col("text")).as("dup2"),
            TextAnalysis.topBigramFraction(
              trim(coalesce(col("text"), lit("")))).as("top2f"))
        Corpus.attritionFunnel(flagged, Seq(
          "lang_en" -> (col("lang") === "en"),
          "min_tokens" -> (col("n") >= 30),
          "stopword_ratio" -> (col("stopratio") >= 0.02),
          "dup_bigram" -> (col("dup2") <= 0.05),
          "top_bigram_mass" -> (col("top2f") <= 0.025)))
      }),

    // ---------------------------------------------------------------- boilerplate-line removal
    QueryDef(
      "q_l71_boilerplate_lines", "LLM-boilerplate-removal",
      // CCNet-style boilerplate pass: lines repeated across ≥5 docs
      // AND ≥20% of a source's docs are site chrome, not content.
      // Docs are restructured into 10-token lines (q_l57's corpus has
      // no natural newlines) and a source-specific banner line is
      // planted on the md5-fraction<0.6 subset of each source —
      // deterministic in both engines — so the detector has real
      // boilerplate to find while natural lines stay below threshold.
      // The 20% share test is integer cross-multiplication (df·5 ≥
      // n_docs·1 is the 1/5 form), so the boilerplate set is exact.
      Some("""WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
             |  FROM documents),
             |lred AS (SELECT doc_id, source, w,
             |    unnest(generate_series(0, CAST(floor((len(w) - 1) / 10.0) AS BIGINT))) AS i
             |  FROM t),
             |body AS (SELECT doc_id, source,
             |    array_to_string(list_slice(w, i*10+1, i*10+10), ' ') AS line
             |  FROM lred),
             |ban AS (SELECT doc_id, source,
             |    'NOTICE ' || source || ' terms apply all rights reserved archive mirror copy'
             |      AS line
             |  FROM t
             |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
             |        / 4294967296.0 < 0.6),
             |lines AS (SELECT * FROM body UNION ALL SELECT * FROM ban),
             |sd AS (SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_lines
             |       FROM lines GROUP BY 1),
             |df AS (SELECT source, line, count(DISTINCT doc_id) AS df, count(*) AS inst
             |       FROM lines GROUP BY 1, 2),
             |boiler AS (SELECT df.source, df.inst FROM df JOIN sd ON sd.source = df.source
             |           WHERE df.df >= 5 AND df.df * 5 >= sd.n_docs * 1),
             |ba AS (SELECT source, count(*) AS n_boiler, CAST(sum(inst) AS BIGINT) AS n_removed
             |       FROM boiler GROUP BY 1)
             |SELECT sd.source, sd.n_docs, sd.n_lines,
             |  coalesce(ba.n_boiler, 0) AS n_boiler,
             |  coalesce(ba.n_removed, 0) AS n_removed,
             |  round(CAST(coalesce(ba.n_removed, 0) AS DOUBLE) / sd.n_lines, 6)
             |    AS removed_share
             |FROM sd LEFT JOIN ba USING (source) ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val w = TextAnalysis.tokens(trim(col("text")))
        val body = transform(
          sequence(lit(0L), floor((size(w) - 1) / 10).cast("long")),
          i => concat_ws(" ", slice(w, (i * 10 + 1).cast("int"), lit(10))))
        val banner = concat(lit("NOTICE "), col("source"),
          lit(" terms apply all rights reserved archive mirror copy"))
        val lines = docs.select(col("source"), col("doc_id"),
          explode(when(Corpus.hashFraction(col("doc_id")) < 0.6,
            concat(array(banner), body)).otherwise(body)).as("line"))
        Corpus.boilerplateLines(lines, "source", "doc_id", "line",
          minDocs = 5, pctNum = 1, pctDen = 5)
      }),

    // ---------------------------------------------------------------- data-constrained epoch/mix planner
    QueryDef(
      "q_l72_epoch_mix", "LLM-epoch-mix-planner",
      // Muennighoff-style repetition plan: budget = 2× total tokens;
      // sources ranked by curation quality (count of en docs passing
      // the stopword floor — an exact integer, so the ranking can
      // never flip cross-engine) into repetition tiers 4×/2×/1×; then
      // three integer water-filling rounds apportion budget ∝ avail
      // under each source's tier cap, re-spreading what capped
      // sources couldn't absorb. Every step is 64-bit multiply-then-
      // floor-divide — the whole plan is exact in both engines.
      Some(s"""WITH per AS (SELECT source,
             |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS avail,
             |    CAST(sum(CASE WHEN lang = 'en' AND
             |        CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
             |             x -> x IN ('the','a','of','and','to','in','is','for'))) AS DOUBLE)
             |          / len(string_split_regex(trim(text), '\\s+')) >= 0.02
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_good
             |  FROM documents GROUP BY 1),
             |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY n_good DESC, source) AS BIGINT)
             |         AS qrank FROM per),
             |tt AS (SELECT source, avail, n_good, qrank,
             |    CASE WHEN qrank <= 5 THEN 4 WHEN qrank <= 15 THEN 2 ELSE 1 END AS tier,
             |    CAST(CASE WHEN qrank <= 5 THEN 4 WHEN qrank <= 15 THEN 2 ELSE 1 END
             |         * avail AS BIGINT) AS cap
             |  FROM rk),
             |${epochMixOracleCtes(Seq("source", "avail", "n_good", "qrank", "tier", "cap"), "")}
             |SELECT source, avail, n_good, qrank, tier, cap, alloc,
             |  (alloc * 1000000) // avail AS epochs_micro
             |FROM r3 ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // the only corpus pass: per-source token supply + an exact
        // integer quality key (en docs over the stopword floor)
        val per = docs.groupBy("source").agg(
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("avail"),
          sum(when(col("lang") === "en" &&
              TextAnalysis.stopwordRatio(col("text")) >= 0.02, 1L).otherwise(0L))
            .as("n_good"))
        // rank window runs over |sources| rows (20) — bounded by the
        // source vocabulary, never by the corpus
        val tiers = per
          .withColumn("qrank",
            row_number().over(Window.orderBy(col("n_good").desc, col("source"))).cast("long"))
          .withColumn("tier",
            when(col("qrank") <= 5, 4).when(col("qrank") <= 15, 2).otherwise(1))
          .withColumn("cap", col("tier").cast("long") * col("avail"))
          .select("source", "avail", "n_good", "qrank", "tier", "cap")
          .collect() // bounded: one row per source, ≤ |sources| planner rows
        val budget = 2L * tiers.map(_.getLong(1)).sum
        val plan = Corpus.epochMixPlanLocal(
          tiers.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(5))), budget, rounds = 3)
        import s.implicits._
        tiers.toSeq.zip(plan).map { case (r, (src, av, alloc)) =>
          (src, av, r.getLong(2), r.getLong(3), r.getInt(4), r.getLong(5), alloc,
            alloc * 1000000L / av)
        }.toDF("source", "avail", "n_good", "qrank", "tier", "cap", "alloc", "epochs_micro")
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- MMR diversified re-ranking
    QueryDef(
      "q_l73_mmr_diversify", "LLM-mmr-rerank",
      // Maximal Marginal Relevance over each probe's exact-cosine
      // top-10 pool: 4 greedy picks at λ=0.7, objective computed as
      // 7·rel − 3·maxsim in DECIMAL(18,9) (cosines rounded to 9dp at
      // the determinism boundary), so every pick is exact in both
      // engines. The greedy chain is unrolled in the oracle the same
      // way the NB cross-validation folds are (q_l69).
      Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |cand0 AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             |    CAST(round(list_inner_product(q.e, c.e) /
             |        (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e))),
             |      9) AS DECIMAL(18,9)) AS rel
             |  FROM v q JOIN v c ON q.vec_id < 8 AND q.vec_id <> c.vec_id),
             |cand AS (SELECT query_id, cand_id, rel FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |                                 ORDER BY rel DESC, cand_id) AS r
             |    FROM cand0) WHERE r <= 10),
             |sims AS (SELECT a.query_id, a.cand_id AS a, b.cand_id AS b,
             |    CAST(round(list_inner_product(va.e, vb.e) /
             |        (sqrt(list_inner_product(va.e, va.e)) * sqrt(list_inner_product(vb.e, vb.e))),
             |      9) AS DECIMAL(18,9)) AS sim
             |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
             |  JOIN v va ON va.vec_id = a.cand_id JOIN v vb ON vb.vec_id = b.cand_id),
             |p1 AS (SELECT query_id, 1 AS step, cand_id, rel,
             |    CAST(0 AS DECIMAL(18,9)) AS max_sim,
             |    7*rel - 3*CAST(0 AS DECIMAL(18,9)) AS score10
             |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |                                     ORDER BY rel DESC, cand_id) AS r
             |        FROM cand) WHERE r = 1),
             |sel1 AS (SELECT query_id, cand_id FROM p1),
             |m2 AS (SELECT s.query_id, s.a AS cand_id, max(s.sim) AS max_sim
             |  FROM sims s JOIN sel1 t ON t.query_id = s.query_id AND t.cand_id = s.b
             |  WHERE NOT EXISTS (SELECT 1 FROM sel1 x
             |                    WHERE x.query_id = s.query_id AND x.cand_id = s.a)
             |  GROUP BY 1, 2),
             |p2 AS (SELECT query_id, 2 AS step, cand_id, rel, max_sim,
             |    7*rel - 3*max_sim AS score10
             |  FROM (SELECT c.query_id, c.cand_id, c.rel, m.max_sim,
             |      row_number() OVER (PARTITION BY c.query_id
             |        ORDER BY 7*c.rel - 3*m.max_sim DESC, c.cand_id) AS r
             |    FROM cand c JOIN m2 m ON m.query_id = c.query_id AND m.cand_id = c.cand_id)
             |  WHERE r = 1),
             |sel2 AS (SELECT * FROM sel1 UNION ALL SELECT query_id, cand_id FROM p2),
             |m3 AS (SELECT s.query_id, s.a AS cand_id, max(s.sim) AS max_sim
             |  FROM sims s JOIN sel2 t ON t.query_id = s.query_id AND t.cand_id = s.b
             |  WHERE NOT EXISTS (SELECT 1 FROM sel2 x
             |                    WHERE x.query_id = s.query_id AND x.cand_id = s.a)
             |  GROUP BY 1, 2),
             |p3 AS (SELECT query_id, 3 AS step, cand_id, rel, max_sim,
             |    7*rel - 3*max_sim AS score10
             |  FROM (SELECT c.query_id, c.cand_id, c.rel, m.max_sim,
             |      row_number() OVER (PARTITION BY c.query_id
             |        ORDER BY 7*c.rel - 3*m.max_sim DESC, c.cand_id) AS r
             |    FROM cand c JOIN m3 m ON m.query_id = c.query_id AND m.cand_id = c.cand_id)
             |  WHERE r = 1),
             |sel3 AS (SELECT * FROM sel2 UNION ALL SELECT query_id, cand_id FROM p3),
             |m4 AS (SELECT s.query_id, s.a AS cand_id, max(s.sim) AS max_sim
             |  FROM sims s JOIN sel3 t ON t.query_id = s.query_id AND t.cand_id = s.b
             |  WHERE NOT EXISTS (SELECT 1 FROM sel3 x
             |                    WHERE x.query_id = s.query_id AND x.cand_id = s.a)
             |  GROUP BY 1, 2),
             |p4 AS (SELECT query_id, 4 AS step, cand_id, rel, max_sim,
             |    7*rel - 3*max_sim AS score10
             |  FROM (SELECT c.query_id, c.cand_id, c.rel, m.max_sim,
             |      row_number() OVER (PARTITION BY c.query_id
             |        ORDER BY 7*c.rel - 3*m.max_sim DESC, c.cand_id) AS r
             |    FROM cand c JOIN m4 m ON m.query_id = c.query_id AND m.cand_id = c.cand_id)
             |  WHERE r = 1)
             |SELECT query_id, step, cand_id, CAST(rel AS DOUBLE) AS rel,
             |  CAST(max_sim AS DOUBLE) AS max_sim, CAST(score10 AS DOUBLE) / 10 AS mmr
             |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
             |      UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4)
             |ORDER BY query_id, step""".stripMargin),
      (s, dir) => {
        val v = Tables.embeddings(s, dir)
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("__e"))
        // candidate pool: exact-cosine top-10 per probe — the explicit
        // small-|Q| baseline (q_l5's shape); the 100 TB path feeds MMR
        // from an ANN stage instead, the greedy loop is unchanged
        val cand0 = broadcast(v.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("__e").as("__qe")))
          .crossJoin(v.select(col("vec_id").as("cand_id"), col("__e").as("__ce")))
          .filter(col("query_id") =!= col("cand_id"))
          .withColumn("rel",
            round(Similarity.cosine(col("__qe"), col("__ce")), 9)
              .cast(DecimalType(18, 9)))
        val w = Window.partitionBy("query_id").orderBy(col("rel").desc, col("cand_id"))
        val cand = cand0.withColumn("__r", row_number().over(w))
          .filter(col("__r") <= 10)
          .select("query_id", "cand_id", "rel", "__ce")
        // pool is 8 probes × top-10 = 80 rows by construction, so the
        // greedy picks run driver-side
        Similarity.mmrSelectLocal(cand, "query_id", "cand_id", "rel", "__ce",
          steps = 4, lambdaNum = 7)
      }),

    // ---------------------------------------------------------------- Unigram-LM tokenizer training (SentencePiece-style)
    QueryDef(
      "q_l74_unigram_train", "LLM-unigram-train",
      // the BPE sibling (Kudo 2018): seed a piece inventory from
      // substring frequencies, then 3 hard-EM rounds — integer
      // micro-nat Viterbi segmentation of the word-frequency table,
      // count re-estimation, prune multi-char pieces to the top
      // ceil(3/4) by (count desc, piece asc). Every DP sum is exact
      // Long arithmetic; the only float op is one ln per piece per
      // round, quantized at the 1e-6 grid (the q_l59 NB precedent
      // rounds ln at 1e-12 and has been green for rounds). The oracle
      // unrolls all 3 rounds × 8 Viterbi positions as CTE chains, so
      // a single mis-segmentation anywhere diverges the final counts.
      Some(unigramOracleSql(maxLen = 8, pieceLen = 4, seedN = 24, rounds = 3)),
      (s, dir) => Unigram.train(Tables.documents(s, dir), "text",
        maxWordLen = 8, maxPieceLen = 4, seedMultis = 24, rounds = 3)),

    // ---------------------------------------------------------------- Unigram apply: corpus compression per source
    QueryDef(
      "q_l74b_unigram_apply", "LLM-unigram-apply",
      // tokenize the corpus with the just-trained unigram LM: per
      // source, whitespace tokens vs unigram pieces — q_l61b's
      // compression query for the other tokenizer family. The oracle
      // replays the full 3-round EM chain, runs ONE more final-cost
      // Viterbi pass over the word table, and joins the token stream
      // by word — so every per-word segmentation length is pinned.
      Some(unigramApplySql(maxLen = 8, pieceLen = 4, seedN = 24, rounds = 3)),
      (s, dir) => Unigram.tokenCounts(Tables.documents(s, dir), "text", "source",
          maxWordLen = 8, maxPieceLen = 4, seedMultis = 24, rounds = 3)
        .orderBy("source")),

    // ---------------------------------------------------------------- classifier calibration curve
    QueryDef(
      "q_l80_calibration", "LLM-classifier-calibration",
      // reliability diagram for the q_l59 quality classifier: seed
      // docs bucketed by their exact-decimal LLR score (width-2 bins
      // spanning [-18, 18]), per bin the observed positive rate vs
      // the accept decision. The bin index is a COUNT OF BOUNDARY
      // COMPARISONS (Σ score ≥ 2k) — no decimal arithmetic at all, so
      // it cannot diverge cross-engine (score·1e12 would overflow
      // DECIMAL(38) and invite engine-specific rescaling). One scan +
      // tiny agg.
      Some(s"""${nbOracleCtes(seedWhere = NbSeedSources)},
              |sc AS (SELECT d.doc_id, d.source,
              |    prior.prior + coalesce(s.token_score, 0) AS score
              |  FROM documents d CROSS JOIN prior
              |  LEFT JOIN scores s ON s.doc_id = d.doc_id
              |  WHERE $NbSeedSources),
              |cal AS (SELECT ($calBinSqlExpr) AS bin,
              |    CASE WHEN source IN ('src0','src1','src2','src3','src4')
              |         THEN 1 ELSE 0 END AS truth,
              |    CASE WHEN score > 0 THEN 1 ELSE 0 END AS pred
              |  FROM sc)
              |SELECT bin, count(*) AS n_docs, CAST(sum(truth) AS BIGINT) AS n_pos,
              |  CAST(sum(pred) AS BIGINT) AS n_pred_pos,
              |  (CAST(sum(truth) AS BIGINT) * 1000000) // count(*) AS obs_pos_micro
              |FROM cal GROUP BY bin ORDER BY bin""".stripMargin),
      (s, dir) => {
        val (seed, model, prior) = nbSeedModel(Tables.documents(s, dir))
        Classifier.nbScore(seed, "doc_id", "text", model, prior, buckets = 64)
          .join(seed.select(col("doc_id"),
            col("source").isin(NbPositive: _*).cast("long").as("truth")), "doc_id")
          .select(
            CalBinBoundaries
              .map(b => when(col("score") >= b, 1L).otherwise(0L))
              .reduce(_ + _).as("bin"),
            col("truth"),
            col("accept").cast("long").as("pred"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("truth")).cast("long").as("n_pos"),
            sum(col("pred")).cast("long").as("n_pred_pos"))
          .withColumn("obs_pos_micro", expr("n_pos * 1000000L div n_docs"))
          .orderBy("bin")
      }),

    // ---------------------------------------------------------------- vocabulary drift (PSI over top tokens)
    QueryDef(
      "q_l81_vocab_drift", "LLM-vocab-drift",
      // corpus-monitoring twin of the numeric PSI family (q_a47): the
      // population-stability index of the token distribution between
      // two corpus snapshots (doc_id parity halves stand in for
      // arrival windows). Buckets are the global top-32 tokens
      // (count desc, token asc — exact tie-break), Laplace-1 smoothed
      // shares over each half's FULL token total, per-token PSI
      // contribution as floor(x·1e9) of the bit-identical double (the
      // q_l50 micro-int precedent). A drifting source shows up as mass
      // moving between rows before any model downstream degrades.
      Some("""WITH tok AS (SELECT doc_id % 2 AS half,
             |    unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             |tc AS (SELECT term, count(*) AS c,
             |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
             |  FROM tok GROUP BY term),
             |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS ta,
             |               CAST(sum(c_b) AS BIGINT) AS tb FROM tc),
             |top AS (SELECT term, c_a, c_b FROM tc ORDER BY c DESC, term LIMIT 32)
             |SELECT term, c_a, c_b,
             |  CAST(floor((((c_a + 1.0) / (ta + 32)) - ((c_b + 1.0) / (tb + 32)))
             |    * ln(((c_a + 1.0) / (ta + 32)) / ((c_b + 1.0) / (tb + 32))) * 1e9)
             |    AS BIGINT) AS psi_nano
             |FROM top CROSS JOIN tot ORDER BY term""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val tok = docs.select((col("doc_id") % 2).as("half"),
          explode(TextAnalysis.tokens(trim(col("text")))).as("term"))
        val tc = tok.groupBy("term").agg(
          count(lit(1)).as("c"),
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("c_a"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("c_b"))
          .localCheckpoint(false) // consumed by the totals agg AND the top-k
        val tot = tc.agg(sum("c_a").cast("long").as("ta"),
          sum("c_b").cast("long").as("tb"))
        tc.orderBy(col("c").desc, col("term")).limit(32)
          .crossJoin(broadcast(tot)) // 1-row totals frame
          .select(col("term"), col("c_a"), col("c_b"),
            // floor of a bit-identical double is engine-independent
            // (the q_l50 keeper_q_micro pattern)
            floor(
              ((((col("c_a") + 1.0) / (col("ta") + 32)) -
                ((col("c_b") + 1.0) / (col("tb") + 32))) *
                log(((col("c_a") + 1.0) / (col("ta") + 32)) /
                  ((col("c_b") + 1.0) / (col("tb") + 32)))) * 1e9)
              .cast("long").as("psi_nano"))
          .orderBy("term")
      }),

    // ---------------------------------------------------------------- length-bucketed batching planner
    QueryDef(
      "q_l82_padding_plan", "LLM-padding-planner",
      // the batching-efficiency ledger: docs bucketed by token length
      // into doubling ranges under a 512-token context; per bucket,
      // the padding a naive pad-everything-to-512 batcher wastes vs
      // padding to the bucket ceiling — the number that justifies
      // length-bucketed batching in the data loader. Pure integer
      // arithmetic on one scan.
      Some("""WITH d AS (SELECT least(CAST(len(string_split_regex(trim(text), '\s+'))
             |                            AS BIGINT), 512) AS n
             |           FROM documents),
             |b AS (SELECT n,
             |    CASE WHEN n < 64 THEN 64 WHEN n < 128 THEN 128
             |         WHEN n < 256 THEN 256 ELSE 512 END AS bucket_cap
             |  FROM d)
             |SELECT bucket_cap, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens,
             |  CAST(sum(512 - n) AS BIGINT) AS naive_pad,
             |  CAST(sum(bucket_cap - n) AS BIGINT) AS bucket_pad,
             |  CAST(sum(512 - n) - sum(bucket_cap - n) AS BIGINT) AS saved
             |FROM b GROUP BY bucket_cap ORDER BY bucket_cap""".stripMargin),
      (s, dir) =>
        Tables.documents(s, dir)
          .select(least(TextAnalysis.tokenCount(col("text")).cast("long"), lit(512L))
            .as("n"))
          .withColumn("bucket_cap",
            when(col("n") < 64, 64L).when(col("n") < 128, 128L)
              .when(col("n") < 256, 256L).otherwise(512L))
          .groupBy("bucket_cap")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n")).cast("long").as("tokens"),
            sum(lit(512L) - col("n")).cast("long").as("naive_pad"),
            sum(col("bucket_cap") - col("n")).cast("long").as("bucket_pad"),
            (sum(lit(512L) - col("n")) - sum(col("bucket_cap") - col("n")))
              .cast("long").as("saved"))
          .orderBy("bucket_cap")),

    // ---------------------------------------------------------------- hard-negative mining
    QueryDef(
      "q_l85_hard_negatives", "LLM-hard-negatives",
      // contrastive-training data prep: for each probe (every 10th
      // vector), the 3 most-similar vectors with a DIFFERENT label —
      // hard negatives from the decision boundary, mined inside the
      // q_l23 hyperplane buckets (never all-pairs; the label
      // inequality rides the pairing join). The oracle replays the
      // md5 hyperplanes, the bucket join, the label filter and the
      // rank exactly.
      Some(s"""${lshBucketOracleCtes("e.label,")},
             |${cosineScoredOracleCte(
               "q.bucket = c.bucket WHERE q.vec_id % 10 = 0 AND c.vec_id <> q.vec_id AND c.label <> q.label",
               extra = "c.label AS neighbor_label,")}
             |${cosineRankOracle("query_id, rank, neighbor_id, neighbor_label, score",
               "rank <= 3 ORDER BY query_id, rank")}""".stripMargin),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.hardNegatives(
            emb.filter(col("vec_id") % 10 === 0), emb,
            "vec_id", "embedding", "label", k = 3, nPlanes = 4)
          .orderBy("query_id", "rank")
      }),

    // ---------------------------------------------------------------- delete propagation (right-to-be-forgotten)
    QueryDef(
      "q_l83_delete_propagation", "LLM-delete-propagation",
      // the takedown/right-to-be-forgotten ledger: given the packed
      // corpus (q_l17's deterministic plan) and a delete set (every
      // 101st doc), shards holding any deleted doc are REBUILT in
      // place (survivors keep order and shard id; a fully-deleted
      // shard stays at zero counts so loader shard ids never
      // renumber), every other shard is untouched — the cost is
      // |affected shards|, never a corpus repack. Oracle replays the
      // pack prefix sum and both ledger branches.
      Some(s"""$packShardsOracleCtes,
             |aff AS (SELECT DISTINCT shard_id FROM c WHERE doc_id % 101 = 0),
             |k AS (SELECT shard_id, 'kept' AS status, count(*) AS n_items,
             |        CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
             |        CAST(sum(doc_id) AS BIGINT) AS id_sum
             |      FROM c WHERE shard_id NOT IN (SELECT shard_id FROM aff)
             |      GROUP BY shard_id),
             |s AS (SELECT shard_id, count(*) AS n_items,
             |        CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
             |        CAST(sum(doc_id) AS BIGINT) AS id_sum
             |      FROM c WHERE doc_id % 101 <> 0
             |        AND shard_id IN (SELECT shard_id FROM aff)
             |      GROUP BY shard_id),
             |r AS (SELECT aff.shard_id, 'rebuilt' AS status,
             |        coalesce(s.n_items, 0) AS n_items,
             |        coalesce(s.shard_tokens, 0) AS shard_tokens,
             |        coalesce(s.id_sum, 0) AS id_sum
             |      FROM aff LEFT JOIN s USING (shard_id))
             |SELECT shard_id, status, n_items, shard_tokens, id_sum FROM k
             |UNION ALL SELECT shard_id, status, n_items, shard_tokens, id_sum FROM r
             |ORDER BY shard_id""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Corpus.repackAfterDelete(docs, "doc_id", "text", 2048L,
          docs.filter(col("doc_id") % 101 === 0).select("doc_id"))
      }),

    // ---------------------------------------------------------------- incremental pack-append
    QueryDef(
      "q_l84_incremental_pack", "LLM-pack-append",
      // the arrival path of the corpus lifecycle (q_l83 is the
      // departure path): every 5th doc arrives against the standing
      // corpus of the rest. Arrivals pack among themselves in the
      // same seeded md5 order with global offsets CONTINUING from the
      // standing corpus's token total — the first arrivals fill the
      // last partial shard's tail, numbering proceeds, and no standing
      // shard is touched or renumbered. The oracle replays the offset
      // continuation; shard ids + per-shard sums pin the whole append.
      Some(s"""${packTokensOracleCte()},
             |base AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS bt FROM t
             |         WHERE doc_id % 5 <> 0),
             |${appendShardsOracleCte("ord, doc_id")}
             |$shardSumsOracle""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // 1-row collect: the standing corpus's token total (bounded
        // driver control flow — the append parameter, not data).
        // coalesce: an empty standing corpus sums to NULL and the
        // append must then start at offset 0, not NPE
        val baseTokens = docs.filter(col("doc_id") % 5 =!= 0)
          .agg(coalesce(sum(TextAnalysis.tokenCount(col("text")).cast("long")),
            lit(0L)))
          .collect()(0).getLong(0) // 1-row aggregate: the append base
        Corpus.packShardsAppend(docs.filter(col("doc_id") % 5 === 0),
            "doc_id", "text", 2048L, baseTokens)
          .groupBy("shard_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("shard_tokens"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .orderBy("shard_id")
      }),

    // ---------------------------------------------------------------- tokenizer fertility per language
    QueryDef(
      "q_l79_fertility", "LLM-tokenizer-fertility",
      // the per-language equity metric of a trained tokenizer:
      // fertility = pieces emitted per whitespace word. A vocabulary
      // trained on a language mix penalizes under-represented
      // languages with higher fertility (more pieces = fewer effective
      // context tokens) — THE number a multilingual pipeline reviews
      // before freezing a tokenizer. Reuses the q_l74 unigram training
      // verbatim, grouped by lang; the ratio is integer micro-scaled
      // so it is bit-identical cross-engine.
      Some(unigramApplySql(maxLen = 8, pieceLen = 4, seedN = 24, rounds = 3,
        groupCol = "lang", fertility = true)),
      (s, dir) => Unigram.tokenCounts(Tables.documents(s, dir), "text", "lang",
          maxWordLen = 8, maxPieceLen = 4, seedMultis = 24, rounds = 3)
        .withColumn("fertility_micro",
          expr("uni_tokens * CAST(1000000 AS BIGINT) div ws_tokens"))
        .orderBy("lang")),

    // ---------------------------------------------------------------- deterministic global training shuffle
    QueryDef(
      "q_l75_global_shuffle", "LLM-global-shuffle",
      // the "shuffle once, stream sequentially" permutation an epoch-
      // based trainer consumes: file = low-32 md5 bits of seed:id mod
      // nFiles, within-file order = full md5 hex (id tiebreak). The
      // position-weighted checksum Σ pos·doc_id pins the ENTIRE
      // permutation — any single transposition anywhere changes it.
      Some("""WITH h AS (SELECT doc_id,
             |    md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
             |f AS (SELECT doc_id, h,
             |    CAST(CAST(('0x' || substr(h, 1, 8)) AS UBIGINT) % 8 AS BIGINT) AS file_id
             |  FROM h),
             |p AS (SELECT file_id, doc_id,
             |    CAST(row_number() OVER (PARTITION BY file_id ORDER BY h, doc_id)
             |         AS BIGINT) AS pos
             |  FROM f)
             |SELECT file_id, count(*) AS n_items, CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  CAST(sum(pos * doc_id) AS BIGINT) AS ord_checksum
             |FROM p GROUP BY file_id ORDER BY file_id""".stripMargin),
      (s, dir) =>
        Corpus.globalShuffle(
            Tables.documents(s, dir).select("doc_id"), "doc_id", "shuf42", 8)
          .groupBy("file_id")
          .agg(count(lit(1)).as("n_items"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("pos") * col("doc_id")).cast("long").as("ord_checksum"))
          .orderBy("file_id")),

    // ---------------------------------------------------------------- soft dedup: downweight, don't drop
    QueryDef(
      "q_l76_soft_dedup", "LLM-soft-dedup",
      // the alternative to removal (SlimPajama-style hard dedup vs
      // soft downweighting): every member of a duplicate cluster
      // (q_l50's near+exact edge set, connected components) keeps a
      // sampling weight of 1/cluster_size, so the cluster contributes
      // ONE document's worth of probability mass. Per-source effective
      // token mass is Σ ntok·(1e6 div csize) — pure 64-bit integer, so
      // the weighted accounting is bit-identical in any engine. The
      // oracle recomputes components via the recursive CTE.
      Some("""WITH RECURSIVE
             |toks AS MATERIALIZED (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
             |         FROM documents),
             |sh AS MATERIALIZED (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
             |                                            for i in generate_series(1, len(w)-2)])) AS s
             |       FROM toks WHERE len(w) >= 3),
             |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |np AS MATERIALIZED (SELECT id_a, id_b FROM
             |         (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2) p
             |       JOIN sizes sa ON sa.doc_id = p.id_a
             |       JOIN sizes sb ON sb.doc_id = p.id_b
             |       WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
             |fp AS MATERIALIZED (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
             |       FROM documents),
             |ep AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |       FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id),
             |edges AS MATERIALIZED (SELECT id_a, id_b FROM np UNION SELECT id_a, id_b FROM ep),
             |sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM edges
             |        UNION SELECT id_b, id_a FROM edges),
             |reach(id, r) AS (
             |  SELECT src, src FROM (SELECT DISTINCT src FROM sym) t
             |  UNION
             |  SELECT s.src, q.r FROM sym s JOIN reach q ON q.id = s.dst),
             |comp AS MATERIALIZED (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
             |cs AS (SELECT cluster_id, count(*) AS csize FROM comp GROUP BY 1),
             |mem AS (SELECT comp.id AS doc_id, cs.csize FROM comp JOIN cs USING (cluster_id)),
             |d AS (SELECT t.doc_id, t.source, CAST(len(w) AS BIGINT) AS ntok,
             |        coalesce(mem.csize, 1) AS csize
             |      FROM toks t LEFT JOIN mem ON mem.doc_id = t.doc_id)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
             |  CAST(sum(ntok) AS BIGINT) AS raw_tokens,
             |  CAST(sum(ntok * (1000000 // csize)) AS BIGINT) AS eff_tokens_micro
             |FROM d GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cc = Dedup.connectedComponents(
          Dedup.nearOrExactPairs(docs, "doc_id", "text"), "id_a", "id_b")
        val mem = cc.join(cc.groupBy("comp").agg(count(lit(1)).as("csize")), "comp")
          .select(col("id").as("doc_id"), col("csize"))
        docs.join(mem, Seq("doc_id"), "left")
          .select(col("source"),
            coalesce(col("csize"), lit(1L)).as("csize"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("csize") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
            sum(col("ntok")).cast("long").as("raw_tokens"),
            sum(col("ntok") * expr("CAST(1000000 AS BIGINT) div csize"))
              .cast("long").as("eff_tokens_micro"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- domain-level quality gate
    QueryDef(
      "q_l77_domain_filter", "LLM-domain-filter",
      // the UT1-blocklist-style decision at corpus build time: sources
      // (domains) are admitted or dropped WHOLE on aggregate quality —
      // mean_q_micro = Σ floor(quality·1e6) div n_docs, exact integer
      // end-to-end, so the per-source verdict can never flip
      // cross-engine. Threshold 663000 splits the synthetic sources at
      // every SF. Scale shape: one scan + a per-source agg — the
      // verdict frame is |sources| rows, broadcast back wherever the
      // survivor corpus is consumed.
      Some("""WITH toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
             |              FROM documents),
             |q AS (SELECT source, CAST(len(w) AS BIGINT) AS ntok,
             |  CAST(floor((least(len(w) / 100.0, 1.0) * 0.4 +
             |    (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','for')))
             |           AS DOUBLE) / len(w)) * 0.3 +
             |    least((CAST(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS DOUBLE)
             |           / len(w)) / 8.0, 1.0) * 0.3) * 1e6) AS BIGINT) AS qm
             |  FROM toks),
             |per AS (SELECT source, count(*) AS n_docs, CAST(sum(qm) AS BIGINT) AS q_sum,
             |          CAST(sum(ntok) AS BIGINT) AS tokens
             |        FROM q GROUP BY 1),
             |v AS (SELECT source, n_docs, q_sum // n_docs AS mean_q_micro, tokens FROM per)
             |SELECT source, n_docs, mean_q_micro, mean_q_micro >= 663000 AS kept,
             |  CASE WHEN mean_q_micro >= 663000 THEN n_docs ELSE 0 END AS kept_docs,
             |  CASE WHEN mean_q_micro >= 663000 THEN tokens ELSE CAST(0 AS BIGINT) END
             |    AS kept_tokens
             |FROM v ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(floor(TextAnalysis.qualityScoreRaw(col("text")) * 1e6).cast("long"))
              .cast("long").as("q_sum"),
            sum(TextAnalysis.tokenCount(col("text")).cast("long"))
              .cast("long").as("tokens"))
          .withColumn("mean_q_micro", expr("q_sum div n_docs"))
          .withColumn("kept", col("mean_q_micro") >= 663000L)
          .select(col("source"), col("n_docs"), col("mean_q_micro"), col("kept"),
            when(col("kept"), col("n_docs")).otherwise(0L).as("kept_docs"),
            when(col("kept"), col("tokens")).otherwise(0L).as("kept_tokens"))
          .orderBy("source")
      }),

    // ---------------------------------------------------------------- filter-rule attribution matrix
    QueryDef(
      "q_l78_rule_attribution", "LLM-rule-attribution",
      // the ablation a pipeline owner reads before reordering or
      // retiring filters: q_l70's five rules evaluated INDEPENDENTLY
      // (not as a funnel) — for every rule pair the count of docs
      // failing both, and on the diagonal each rule's total hits plus
      // its UNIQUE hits (docs no other rule would catch — the rule's
      // marginal value). One scan, one 20-sum aggregate, a 15-row
      // stack: trivially scale-safe at any corpus size.
      Some(ruleMatrixOracleSql),
      (s, dir) => {
        // per-row rule flags on a single-file local scan — widen so the
        // text expressions don't run 3-way (metadata-only at scale)
        val docs = graft.SparkUtil.widenByFiles(Tables.documents(s, dir))
        val flags = docs
          .select(
            (col("lang") =!= "en").cast("long").as("f1"),
            // NULL-text hygiene: flags run on trim(coalesce(text,''))
            // exactly like the gs branch and the oracle — a NULL text
            // must flag, not evaluate to NULL and silently drop the
            // doc from every pair sum
            (TextAnalysis.tokenCount(trim(coalesce(col("text"), lit("")))) < 30)
              .cast("long").as("f2"),
            (TextAnalysis.stopwordRatio(trim(coalesce(col("text"), lit("")))) < 0.02)
              .cast("long").as("f3"),
            (TextAnalysis.dupBigramFraction(trim(coalesce(col("text"), lit("")))) > 0.05)
              .cast("long").as("f4"),
            (TextAnalysis.topBigramFraction(trim(coalesce(col("text"), lit(""))))
              > 0.025).cast("long").as("f5"))
        val n = RuleNames.length
        val pairAggs = for (i <- 1 to n; j <- i to n)
          yield sum(col(s"f$i") * col(s"f$j")).as(s"h${i}_$j")
        val onlyAggs = (1 to n).map { i =>
          val others = (1 to n).filter(_ != i).map(j => col(s"f$j")).reduce(_ + _)
          sum(when(col(s"f$i") === 1 && others === 0, 1L).otherwise(0L)).as(s"u$i")
        }
        val stackArgs = (for (i <- 1 to n; j <- i to n) yield
          s"'${RuleNames(i - 1)}', '${RuleNames(j - 1)}', h${i}_$j, " +
            (if (i == j) s"u$i" else "CAST(0 AS BIGINT)")).mkString(", ")
        flags.agg(pairAggs.head, (pairAggs.tail ++ onlyAggs): _*)
          .select(expr(s"stack(${n * (n + 1) / 2}, $stackArgs) " +
            "as (rule_a, rule_b, n_both, n_only)"))
          .orderBy("rule_a", "rule_b")
      }),

    // ---------------------------------------------------------------- inter-annotator agreement (Cohen's kappa)
    QueryDef(
      "q_l86_annotator_agreement", "LLM-annotator-agreement",
      // labeled-data QA for preference/classification sets: two
      // annotators' quality labels over the corpus reduced to a
      // confusion matrix (|labels|² rows however big the corpus),
      // then chance-corrected agreement — Cohen's κ =
      // (pₒ − pₑ)/(1 − pₑ) with pₑ from the marginal products. The
      // heavy pass is ONE scan + one tiny groupBy; everything after
      // runs on ≤9 rows. Annotators are deterministic functions of
      // the doc (a = length buckets; b = the same buckets under a
      // doc_id-keyed perturbation, so disagreement is real and
      // replayable), and all ratios divide exact longs in the same
      // IEEE order on both engines before one terminal 6dp round.
      // Per-label agreement rides along (n_a, n_b, both-agree) so a
      // skewed label's inflated raw agreement is visible next to κ.
      Some("""WITH lab AS (SELECT
             |  CASE WHEN n_chars < 150 THEN 'low'
             |       WHEN n_chars < 300 THEN 'mid' ELSE 'high' END AS a,
             |  CASE WHEN n_chars + (doc_id % 7) * 25 < 150 THEN 'low'
             |       WHEN n_chars + (doc_id % 7) * 25 < 300 THEN 'mid'
             |       ELSE 'high' END AS b
             |  FROM documents),
             |conf AS (SELECT a, b, count(*) AS c FROM lab GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree
             |  FROM conf),
             |ma AS (SELECT a AS label, CAST(sum(c) AS BIGINT) AS n_a FROM conf GROUP BY 1),
             |mb AS (SELECT b AS label, CAST(sum(c) AS BIGINT) AS n_b FROM conf GROUP BY 1),
             |diag AS (SELECT a AS label, CAST(sum(c) AS BIGINT) AS n_agree
             |         FROM conf WHERE a = b GROUP BY 1),
             |pe AS (SELECT CAST(sum(ma.n_a * mb.n_b) AS BIGINT) AS pen
             |       FROM ma JOIN mb USING (label))
             |SELECT ma.label, ma.n_a, coalesce(mb.n_b, 0) AS n_b,
             |  coalesce(diag.n_agree, 0) AS n_agree, tot.n,
             |  round(CAST(tot.agree AS DOUBLE) / tot.n, 6) AS po,
             |  round(CAST(pe.pen AS DOUBLE) / (tot.n * tot.n), 6) AS pe,
             |  round((CAST(tot.agree AS DOUBLE) / tot.n
             |          - CAST(pe.pen AS DOUBLE) / (tot.n * tot.n))
             |        / (1 - CAST(pe.pen AS DOUBLE) / (tot.n * tot.n)), 6) AS kappa
             |FROM ma LEFT JOIN mb USING (label) LEFT JOIN diag USING (label)
             |CROSS JOIN tot CROSS JOIN pe
             |ORDER BY label""".stripMargin),
      (s, dir) => {
        def bucket(c: Column) =
          when(c < 150, "low").when(c < 300, "mid").otherwise("high")
        val lab = Tables.documents(s, dir).select(
          bucket(col("n_chars")).as("a"),
          bucket(col("n_chars") + (col("doc_id") % 7) * 25).as("b"))
        val conf = lab.groupBy("a", "b").agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // ≤9 rows feeding four tiny branches
        val tot = conf.agg(sum("c").cast("long").as("n"),
          sum(when(col("a") === col("b"), col("c")).otherwise(0L))
            .cast("long").as("agree"))
        val ma = conf.groupBy(col("a").as("label"))
          .agg(sum("c").cast("long").as("n_a"))
        val mb = conf.groupBy(col("b").as("label"))
          .agg(sum("c").cast("long").as("n_b"))
        val diag = conf.filter(col("a") === col("b"))
          .groupBy(col("a").as("label"))
          .agg(sum("c").cast("long").as("n_agree"))
        val pen = ma.join(mb, "label")
          .agg(sum(col("n_a") * col("n_b")).cast("long").as("pen"))
        val poE = col("agree").cast("double") / col("n")
        val peE = col("pen").cast("double") / (col("n") * col("n"))
        ma.join(mb, Seq("label"), "left").join(diag, Seq("label"), "left")
          .crossJoin(tot).crossJoin(pen)
          .select(col("label"), col("n_a"),
            coalesce(col("n_b"), lit(0L)).as("n_b"),
            coalesce(col("n_agree"), lit(0L)).as("n_agree"), col("n"),
            round(poE, 6).as("po"), round(peE, 6).as("pe"),
            round((poE - peE) / (lit(1) - peE), 6).as("kappa"))
          .orderBy("label")
      }),

    // ---------------------------------------------------------------- k-anonymity suppression (quasi-identifier release gate)
    QueryDef(
      "q_l87_k_anonymity", "LLM-privacy-k-anonymity",
      // the release gate that complements q_l18's span redaction: a
      // row is publishable only when ≥ k rows share its quasi-id
      // tuple (lang, source, 100-char length bucket) — otherwise the
      // combination could single out an individual document. The
      // engine pass is Corpus.kAnonymize: ONE window count over the
      // quasi-id partition tags every row with its group size (same
      // one-shuffle cost as keep-first dedup); the query then audits
      // the release per lang — group counts, rows kept vs suppressed,
      // and the suppression rate. The oracle recomputes group sizes
      // from scratch, so an off-by-one in the k comparison or a
      // quasi-id column drift flips kept↔suppressed rows and hashes
      // differently.
      Some("""WITH g AS (SELECT lang, source, n_chars // 100 AS len_b,
             |    count(*) AS c FROM documents GROUP BY 1, 2, 3)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_groups,
             |  CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
             |  CAST(sum(CASE WHEN c < 5 THEN 0 ELSE c END) AS BIGINT) AS kept_rows,
             |  CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS suppressed_rows,
             |  round(CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6)
             |    AS suppression_rate
             |FROM g GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val tagged = Corpus.kAnonymize(
          Tables.documents(s, dir)
            .withColumn("len_b", floor(col("n_chars") / 100)),
          Seq("lang", "source", "len_b"), k = 5)
        tagged
          .groupBy("lang")
          .agg(
            countDistinct(col("source"), col("len_b")).as("n_groups"),
            countDistinct(when(col("__k_suppressed"), struct(col("source"), col("len_b"))))
              .as("n_small_groups"),
            sum(when(col("__k_suppressed"), 0L).otherwise(1L)).as("kept_rows"),
            sum(when(col("__k_suppressed"), 1L).otherwise(0L)).as("suppressed_rows"),
            round(sum(when(col("__k_suppressed"), 1L).otherwise(0L)).cast("double") /
              count(lit(1)), 6).as("suppression_rate"))
          .orderBy("lang")
      }),

    // ---------------------------------------------------------------- late-interaction MaxSim retrieval (multi-vector docs)
    QueryDef(
      "q_l88_maxsim", "LLM-retrieval-late-interaction",
      // ColBERT-style late interaction: documents are BAGS of vectors
      // (10 consecutive embedding rows = one multi-vector doc), and
      // score(q, d) = Σ over q's vectors of max over d's vectors of
      // cosine — quantized to integer milli-units BEFORE the max/sum
      // so the nested aggregation is order-independent and the oracle
      // replays it exactly. Docs 0-4 are the query workload; top-3
      // neighbors per query, self excluded. Scale: |q_vecs| is
      // workload-bounded (broadcast), the corpus side is scanned once
      // and only (query, doc) partials shuffle — and past brute-force
      // scale the same scorer runs behind an ANN candidate cut
      // (q_l6/q_l12 shapes).
      Some("""WITH v AS (SELECT vec_id // 10 AS doc, vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |pair AS (SELECT q.doc AS query_id, q.vec_id AS qv, c.doc AS neighbor_doc,
             |    CAST(round(1000 * list_inner_product(q.e, c.e) /
             |      (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e))))
             |      AS BIGINT) AS milli
             |  FROM v q JOIN v c ON q.doc < 5 AND c.doc <> q.doc),
             |best AS (SELECT query_id, qv, neighbor_doc, max(milli) AS m
             |         FROM pair GROUP BY 1, 2, 3),
             |score AS (SELECT query_id, neighbor_doc, CAST(sum(m) AS BIGINT) AS score_milli
             |          FROM best GROUP BY 1, 2)
             |SELECT query_id, rank, neighbor_doc, score_milli FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY score_milli DESC, neighbor_doc) AS rank
             |  FROM score) t
             |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val mv = Tables.embeddings(s, dir)
          .select(floor(col("vec_id") / 10).as("doc"), col("vec_id"), col("embedding"))
        Similarity.maxSimTopK(mv.filter(col("doc") < 5), mv,
            docCol = "doc", vecIdCol = "vec_id", embCol = "embedding", k = 3)
          .orderBy("query_id", "rank")
      }),

    // ---------------------------------------------------------------- greedy k-center coreset selection
    QueryDef(
      "q_l89_coreset", "LLM-data-selection-kcenter",
      // farthest-point traversal over the embedding table — the
      // diversity-maximizing SELECTION step (diverse fine-tuning
      // subsets, eval probes): seed at the smallest vec_id, then each
      // round pick the point farthest (squared L2, running min over
      // the selected set) from everything chosen so far, ties to the
      // smaller id; distance-0 points (exact duplicates) are never
      // picked. The oracle replays all 8 rounds as unrolled CTEs with
      // the SAME least-chain over list_inner_product(diff, diff), so
      // a single mis-ranked selection diverges every later round and
      // the hash. Engine shape: k scans, each a min-over-centers fold
      // against a ≤ k×64 literal + a global top-1 — nothing shuffled
      // but per-partition candidates, driver state is k vectors.
      Some(kcenterOracleSql(8)),
      (s, dir) =>
        Similarity.kCenterGreedy(Tables.embeddings(s, dir), "vec_id", "embedding", k = 8)
          .orderBy("rank")),

    // ---------------------------------------------------------------- approximate-dedup audit (SimHash vs exact Jaccard)
    QueryDef(
      "q_l90_dedup_audit", "LLM-dedup-audit",
      // the approximate family's quality, measured IN the engine as a
      // gated query instead of a one-off profiling note: the SimHash
      // candidate set (64-bit signatures, 4×16 band blocking,
      // Hamming ≤ 8 — the q_l4 pipeline) scored against the EXACT
      // 3-gram-Jaccard ≥ 0.8 pair set (complete shared-shingle
      // blocking, the q_l2 oracle shape) — one full-outer join of the
      // two pair sets reduced to precision/recall. This is the audit
      // every production dedup pipeline re-runs when the corpus
      // distribution drifts: recall says what the cheap pass misses,
      // precision what it over-flags. Both halves replay exactly in
      // SQL (md5 signatures / shingle join), so the metrics
      // themselves are hash-checked — a drifted band count or a
      // broken Hamming threshold moves a number. Scale shape: the two
      // generators are the standing q_l2/q_l4 plans; the audit adds
      // one (id_a, id_b)-keyed join over pair lists.
      Some(s"""WITH $shingleSizesOracleCtes,
             |ipairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
             |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |           GROUP BY 1, 2),
             |ex AS (SELECT id_a, id_b FROM ipairs
             |       JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
             |       WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
             |t2 AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
             |       FROM documents),
             |${simhashBandsOracleCtes("t2")},
             |ap AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
             |       FROM bands a JOIN bands c
             |         ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
             |       WHERE bit_count(xor(a.sg, c.sg)) <= 8),
             |fo AS (SELECT CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END AS e,
             |              CASE WHEN a.id_a IS NOT NULL THEN 1 ELSE 0 END AS ap
             |       FROM ex e FULL OUTER JOIN ap a
             |         ON e.id_a = a.id_a AND e.id_b = a.id_b)
             |SELECT CAST(sum(e) AS BIGINT) AS n_exact,
             |  CAST(sum(ap) AS BIGINT) AS n_approx,
             |  CAST(sum(e * ap) AS BIGINT) AS n_both,
             |  round(sum(e * ap) / CAST(nullif(sum(ap), 0) AS DOUBLE), 6) AS prec,
             |  round(sum(e * ap) / CAST(nullif(sum(e), 0) AS DOUBLE), 6) AS rec
             |FROM fo""".stripMargin),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val keyed = docs.select(col("doc_id").as("__id"),
          explode(Dedup.shingles(col("text"), 3)).as("s"))
        val exact = Dedup.exactPairsUncapped(keyed, "s", threshold = 0.8)
          .select("id_a", "id_b").withColumn("e", lit(1))
        val approx = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDistance = 8)
          .select("id_a", "id_b").withColumn("ap", lit(1))
        exact.join(approx, Seq("id_a", "id_b"), "full_outer")
          .select(coalesce(col("e"), lit(0)).as("e"), coalesce(col("ap"), lit(0)).as("ap"))
          .agg(sum("e").cast("long").as("n_exact"),
            sum("ap").cast("long").as("n_approx"),
            sum(col("e") * col("ap")).cast("long").as("n_both"),
            round(sum(col("e") * col("ap")) /
              nullif(sum("ap"), lit(0)).cast("double"), 6).as("prec"),
            round(sum(col("e") * col("ap")) /
              nullif(sum("e"), lit(0)).cast("double"), 6).as("rec"))
      }),

    // ---------------------------------------------------------------- preference-pair assembly (DPO prep)
    QueryDef(
      "q_l91_preference_pairs", "LLM-preference-pair-assembly",
      // preference-pair construction — the data-prep stage of
      // DPO/RLHF reward modeling: within each (lang, source) bucket,
      // documents are ranked by a quality signal (n_chars here, a
      // trained scorer's output in production; ties broken by doc_id
      // so the ranking is total), and rank i of the top half is
      // paired with rank i+⌈n/2⌉ of the bottom half — a maximal
      // disjoint pairing (no document on both sides of any pair, by
      // construction of the rank offset) with a guaranteed quality
      // gap direction; zero-margin pairs (equal scores carry no
      // preference signal) are dropped. The result is the per-bucket
      // pair count and exact-integer margin stats the curation run
      // reports. The require re-proves disjointness in-query. Scale
      // shape: ONE shuffle to the bucket grain for the rank window,
      // then a (bucket, rank)-keyed equi-join — both sides partition
      // by bucket; no broadcast of anything corpus-sized, no
      // quadratic candidate set.
      Some("""WITH r AS (
             |  SELECT lang, source, doc_id, n_chars,
             |    row_number() OVER (PARTITION BY lang, source
             |                       ORDER BY n_chars DESC, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY lang, source) AS n
             |  FROM documents),
             |pairs AS (
             |  SELECT a.lang, a.source, a.doc_id AS chosen_id, b.doc_id AS rejected_id,
             |         a.n_chars - b.n_chars AS margin
             |  FROM r a JOIN r b
             |    ON a.lang = b.lang AND a.source = b.source
             |   AND b.rn = a.rn + CAST(ceil(a.n / 2.0) AS BIGINT)
             |  WHERE a.rn <= a.n // 2 AND a.n_chars > b.n_chars)
             |SELECT lang, source, count(*) AS n_pairs,
             |  CAST(sum(margin) AS BIGINT) AS sum_margin,
             |  CAST(max(margin) AS BIGINT) AS max_margin,
             |  round(CAST(sum(margin) AS DOUBLE) / count(*), 6) AS mean_margin
             |FROM pairs GROUP BY lang, source ORDER BY lang, source""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("lang", "source")
        val r = Tables.documents(s, dir)
          .select(col("lang"), col("source"), col("doc_id"), col("n_chars"))
          .withColumn("rn",
            row_number().over(w.orderBy(col("n_chars").desc, col("doc_id"))))
          .withColumn("n", count(lit(1)).over(w))
        val a = r.filter(col("rn") <= col("n") / 2) // rn integer ⇒ same cut as floor(n/2)
          .select(col("lang"), col("source"), col("doc_id").as("chosen_id"),
            col("n_chars").as("q_a"),
            (col("rn") + ceil(col("n") / lit(2.0)).cast("long")).as("rn_b"))
        val b = r.select(col("lang"), col("source"), col("doc_id").as("rejected_id"),
          col("n_chars").as("q_b"), col("rn").as("rn_b"))
        val pairs = a.join(b, Seq("lang", "source", "rn_b"))
          .filter(col("q_a") > col("q_b"))
          .withColumn("margin", col("q_a") - col("q_b"))
        // disjointness re-proved in-query: no doc on both sides anywhere
        val leaked = pairs.select(col("chosen_id").as("id"))
          .intersect(pairs.select(col("rejected_id").as("id")))
          .limit(1).count() // ≤ 1 row: existence probe
        require(leaked == 0, "a document appeared on both sides of a pair")
        pairs.groupBy("lang", "source")
          .agg(count(lit(1)).as("n_pairs"),
            sum("margin").cast("long").as("sum_margin"),
            max("margin").cast("long").as("max_margin"),
            round(sum("margin").cast("double") / count(lit(1)), 6).as("mean_margin"))
          .orderBy("lang", "source")
      })
  )

  /** Generated oracle for q_l89: round i's CTE pair is
    * mi (running min-dist after centering on round i−1's pick) and
    * pi (that round's argmax), the exact unrolled replay of greedy
    * k-center with the same tie and duplicate rules as the engine.
    */
  private def kcenterOracleSql(k: Int): String = {
    val head =
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |           FROM embeddings),
        |s0 AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 1),
        |m1 AS MATERIALIZED (SELECT vec_id, e, list_inner_product(d, d) AS md
        |  FROM (SELECT v.vec_id, v.e,
        |          list_transform(list_zip(v.e, s0.e), s -> s[1] - s[2]) AS d
        |        FROM v CROSS JOIN s0) t),
        |p1 AS (SELECT vec_id, e, md FROM m1 WHERE md > 0
        |       ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
    val rounds = (2 until k).map { i =>
      val p = i - 1
      s"""m$i AS MATERIALIZED (SELECT vec_id, e, least(md, list_inner_product(d, d)) AS md
         |  FROM (SELECT m$p.vec_id, m$p.e, m$p.md,
         |          list_transform(list_zip(m$p.e, p$p.e), s -> s[1] - s[2]) AS d
         |        FROM m$p CROSS JOIN p$p) t),
         |p$i AS (SELECT vec_id, e, md FROM m$i WHERE md > 0
         |        ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val sel = (1 until k)
      .map(i => s"UNION ALL SELECT ${i + 1} AS rank, vec_id, round(md, 6) AS dist FROM p$i")
      .mkString("\n")
    s"""$head,
       |$rounds
       |SELECT rank, vec_id, dist FROM (
       |  SELECT 1 AS rank, vec_id, CAST(0 AS DOUBLE) AS dist FROM s0
       |  $sel) t
       |ORDER BY rank""".stripMargin
  }

  /** q_l80's score-bin boundaries: width-2 bins over [-18, 18]; the
    * bin index is the count of boundaries at or below the score —
    * pure comparisons, no decimal arithmetic. (lazy: referenced from
    * the query-list initializer above the declaration)
    */
  private lazy val CalBinBoundaries: Seq[Int] = (-9 to 9).map(_ * 2)

  private def calBinSqlExpr: String =
    CalBinBoundaries
      .map(b => s"(CASE WHEN score >= $b THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** q_l70/q_l78's rule vocabulary, in funnel order. (lazy: referenced
    * from the query-list initializer above its declaration)
    */
  private lazy val RuleNames =
    Seq("lang_en", "min_tokens", "stopword_ratio", "dup_bigram", "top_bigram_mass")

  /** Generated oracle for q_l78: the same five independent fail flags,
    * all pairwise co-failure counts, and per-rule unique hits.
    */
  private def ruleMatrixOracleSql: String = {
    val n = RuleNames.length
    val pairSums = (for (i <- 1 to n; j <- i to n)
      yield s"CAST(sum(f$i * f$j) AS BIGINT) AS h${i}_$j").mkString(",\n  ")
    val onlySums = (1 to n).map { i =>
      val others = (1 to n).filter(_ != i).map(j => s"f$j").mkString(" + ")
      s"CAST(sum(CASE WHEN f$i = 1 AND $others = 0 THEN 1 ELSE 0 END) AS BIGINT) AS u$i"
    }.mkString(",\n  ")
    val rows = (for (i <- 1 to n; j <- i to n) yield
      s"SELECT '${RuleNames(i - 1)}' AS rule_a, '${RuleNames(j - 1)}' AS rule_b, " +
        s"h${i}_$j AS n_both, ${if (i == j) s"u$i" else "CAST(0 AS BIGINT)"} AS n_only FROM a")
      .mkString("\n  UNION ALL ")
    s"""$filterMeasuresOracleCtes,
       |fl AS (SELECT CASE WHEN lang <> 'en' THEN 1 ELSE 0 END AS f1,
       |  CASE WHEN n < 30 THEN 1 ELSE 0 END AS f2,
       |  CASE WHEN stopratio < 0.02 THEN 1 ELSE 0 END AS f3,
       |  CASE WHEN dup2 > 0.05 THEN 1 ELSE 0 END AS f4,
       |  CASE WHEN top2f > 0.025 THEN 1 ELSE 0 END AS f5
       |  FROM per),
       |a AS (SELECT
       |  $pairSums,
       |  $onlySums
       |  FROM fl)
       |SELECT * FROM (
       |  $rows)
       |ORDER BY rule_a, rule_b""".stripMargin
  }

  /** Oracle CTEs toks (doc_id, w) and sh (doc_id, s): each doc's
    * distinct word 3-shingles ([[Dedup.shingles]]).
    */
  private def shingleOracleCtes: String =
    """toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ')
      |                                            for i in generate_series(1, len(w)-2)])) AS s
      |       FROM toks WHERE len(w) >= 3)""".stripMargin

  /** [[shingleOracleCtes]], then sizes (doc_id, n): each shingle-set size. */
  private def shingleSizesOracleCtes: String =
    s"""$shingleOracleCtes,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** The Jaccard answer of the dedup queries: pairs of `from` (id_a,
    * id_b, inter) over the set sizes, at Jaccard ≥ `threshold`.
    */
  private def jaccardOracleTail(from: String, threshold: String): String =
    s"""SELECT id_a, id_b,
       |       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
       |FROM $from JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** The rare-key sketch verify of [[Dedup.jaccardPairsViaSketch]] over
    * kept (doc_id, `key`) and its ordered ranks (q_l3, q_l13): the 16
    * rarest keys, pairs sharing ≥ min(2, either sketch size), exact
    * intersections, then the Jaccard answer.
    */
  private def sketchJaccardOracle(key: String, threshold: String): String =
    s"""sk AS (SELECT doc_id, $key FROM ordered WHERE rn <= 16),
       |sksz AS (SELECT doc_id, count(*) AS z FROM sk GROUP BY doc_id),
       |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM sk a JOIN sk b ON a.$key = b.$key AND a.doc_id < b.doc_id
       |         JOIN sksz za ON za.doc_id = a.doc_id
       |         JOIN sksz zb ON zb.doc_id = b.doc_id
       |         GROUP BY 1, 2 HAVING count(*) >= least(2, min(za.z), min(zb.z))),
       |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
       |          FROM cand c JOIN kept a ON a.doc_id = c.id_a
       |                      JOIN kept b ON b.doc_id = c.id_b AND b.$key = a.$key
       |          GROUP BY 1, 2)
       |${jaccardOracleTail("inter", threshold)}""".stripMargin

  /** Oracle CTEs th → votes → sig (doc_id, sg) → bands (doc_id, sg, b,
    * bh): the 64-bit md5 SimHash of `toks` (doc_id, t) and its 4×16-bit
    * bands ([[Dedup.simhashNearDupPairs]]; q_l4, q_l90).
    */
  private def simhashBandsOracleCtes(toks: String): String =
    s"""th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) AS h
       |       FROM $toks),
       |votes AS (SELECT doc_id, i, sum(CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |          FROM th CROSS JOIN generate_series(0, 63) s(i)
       |          GROUP BY doc_id, i),
       |sig AS (SELECT doc_id,
       |          bit_or(CASE WHEN v > 0 THEN (1::UBIGINT << i) ELSE 0::UBIGINT END) AS sg
       |        FROM votes GROUP BY doc_id),
       |bands AS (SELECT doc_id, sg, b, (sg >> (b * 16)) & 65535 AS bh
       |          FROM sig CROSS JOIN generate_series(0, 3) t(b))""".stripMargin

  /** Oracle CTEs g → gc → `gs` (doc_id, n2, d2, top2): each doc's
    * positional word 2-grams of `tok` (doc_id, t) — total, distinct and
    * top count.
    */
  private def bigramOracleCtes(tok: String, gs: String): String =
    s"""g AS (SELECT doc_id, tk || ' ' || t[i + 1] AS gram
       |      FROM (SELECT doc_id, t, unnest(t) AS tk,
       |              generate_subscripts(t, 1) AS i FROM $tok)
       |      WHERE i < len(t)),
       |gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
       |$gs AS (SELECT doc_id, sum(c) AS n2, count(*) AS d2, max(c) AS top2
       |       FROM gc GROUP BY 1)""".stripMargin

  /** The duplicate-2gram and top-2gram fractions over gs. */
  private def bigramFractionsOracle: String =
    """CASE WHEN coalesce(gs.n2, 0) = 0 THEN 0.0
      |       ELSE 1.0 - CAST(gs.d2 AS DOUBLE) / gs.n2 END AS dup2,
      |  CASE WHEN coalesce(gs.n2, 0) = 0 THEN 0.0
      |       ELSE CAST(gs.top2 AS DOUBLE) / gs.n2 END AS top2f""".stripMargin

  /** Oracle CTEs d → tok → bigrams → per (doc_id, lang, n, stopratio,
    * dup2, top2f): the five filter-rule measures of q_l70 and q_l78.
    */
  private def filterMeasuresOracleCtes: String =
    s"""WITH d AS (SELECT doc_id, lang, trim(coalesce(text, '')) AS tt FROM documents),
       |tok AS (SELECT doc_id, lang, string_split_regex(tt, '\\s+') AS t FROM d),
       |${bigramOracleCtes("tok", "gs")},
       |per AS (SELECT tok.doc_id, lang, len(t) AS n,
       |  CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','for')))
       |       AS DOUBLE) / len(t) AS stopratio,
       |  $bigramFractionsOracle
       |  FROM tok LEFT JOIN gs ON gs.doc_id = tok.doc_id)""".stripMargin

  /** (doc_id, source, w, u) of every doc with tokens: its token count
    * and md5 fraction, the Efraimidis-Spirakis sampling inputs (q_l38,
    * q_l48). Its oracle is [[weightedSampleOracleCte]] (w > 0 applied
    * by each query).
    */
  private def weightedSampleInputs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("w"),
        Corpus.hashFraction(col("doc_id")).as("u"))
      .filter(col("w") > 0)

  /** Oracle CTE f (doc_id, source, w, u): each doc's token count and
    * md5 fraction, the Efraimidis-Spirakis sampling inputs (q_l38, q_l48).
    */
  private def weightedSampleOracleCte: String =
    """WITH f AS (SELECT doc_id, source,
      |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
      |       ELSE len(string_split_regex(trim(text), '\s+')) END AS w,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
      |    / 4294967296.0 AS u
      |  FROM documents)""".stripMargin

  /** Oracle CTEs b → r1 → s2 → r2 → s3 → r3 (`cols`, alloc): a budget
    * of twice per's total tokens apportioned ∝ avail under each tt
    * row's cap in three integer water-filling rounds
    * ([[Corpus.epochMixPlanLocal]]; q_l72, q_l21b). `mat` is inserted
    * after the names of b, r1 and r2.
    */
  private def epochMixOracleCtes(cols: Seq[String], mat: String): String = {
    def round(k: Int, prev: String, rMat: String) =
      s"""s$k AS (SELECT CAST(sum(CASE WHEN alloc < cap THEN avail ELSE 0 END) AS BIGINT)
         |         AS sumw, CAST(sum(alloc) AS BIGINT) AS tot FROM $prev),
         |r$k AS$rMat (SELECT ${cols.map(c => s"$prev.$c").mkString(", ")},
         |    CASE WHEN alloc < cap AND s$k.sumw > 0
         |      THEN least(cap, alloc + greatest(((b.budget - s$k.tot) * avail) // s$k.sumw,
         |                                       0))
         |      ELSE alloc END AS alloc
         |  FROM $prev CROSS JOIN b CROSS JOIN s$k)""".stripMargin
    s"""b AS$mat (SELECT CAST(2 * sum(avail) AS BIGINT) AS budget,
       |             CAST(sum(avail) AS BIGINT) AS sumw0 FROM per),
       |r1 AS$mat (SELECT tt.*, least(cap, (b.budget * avail) // b.sumw0) AS alloc
       |       FROM tt CROSS JOIN b),
       |${round(2, "r1", mat)},
       |${round(3, "r2", "")}""".stripMargin
  }

  /** The q_m3-q_m5 fixture image of each doc: a grayscale PNG of
    * (doc_id % 64 + 1) × (doc_id % 48 + 1) pixels whose row y is the
    * constant byte (doc_id + y) % 256.
    */
  private def fixturePng: Column = Multimodal.pngPixelPayload(
    col("doc_id"), (col("doc_id") % 64 + 1).cast("int"), (col("doc_id") % 48 + 1).cast("int"))

  /** Oracle CTE d (source, doc_id, w, h, a) of [[fixturePng]]. */
  private def fixturePngOracleCte: String =
    """WITH d AS (SELECT source, doc_id,
      |  doc_id % 64 + 1 AS w, doc_id % 48 + 1 AS h, doc_id % 256 AS a
      |  FROM documents)""".stripMargin

  /** DuckDB replay of [[Similarity.cosine]] between the double lists
    * `a` and `b`, rounded to 3dp as the ANN operators round it.
    */
  private def cosineOracle(a: String, b: String): String =
    s"round(list_inner_product($a, $b) / " +
      s"(sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))), 3)"

  /** Oracle CTE `scored` (query_id, neighbor_id, `extra`, score): the
    * rounded cosine of every pair of `v` rows `on` admits.
    */
  private def cosineScoredOracleCte(on: String, extra: String = ""): String =
    s"""scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $extra
       |         ${cosineOracle("q.e", "c.e")} AS score
       |  FROM v q JOIN v c ON $on)""".stripMargin

  /** The oracle tail of the cosine top-k queries: rank `scored` per
    * query (score desc, neighbor id), then select `cols` `where`.
    */
  private def cosineRankOracle(cols: String, where: String): String =
    s"""SELECT $cols FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored) t
       |WHERE $where""".stripMargin

  /** Oracle CTEs `cents` (c, j, w) and `cl` (c, cw): the 8 md5
    * centroids of [[Similarity.centroids]] over 64 dims.
    */
  private def centroidsOracleCtes(cents: String, cl: String): String =
    s"""$cents AS (
       |  SELECT c, j, CAST(('0x' || substr(md5('c:' || c || ':' || j), 1, 16)) AS UBIGINT)
       |               / 9223372036854775808.0 - 1.0 AS w
       |  FROM generate_series(0, 7) a(c) CROSS JOIN generate_series(0, 63) b(j)),
       |$cl AS (SELECT c, list(w ORDER BY j) AS cw FROM $cents GROUP BY c)""".stripMargin

  /** Oracle CTE `name` (vec_id, c, dist): the squared L2 distance of
    * every v row to every centroid of `cl`, accumulated in dim order.
    */
  private def centroidDistOracleCte(name: String, cl: String): String =
    s"""$name AS (SELECT vec_id, c, list_inner_product(d, d) AS dist
       |  FROM (SELECT v.vec_id, $cl.c,
       |          list_transform(list_zip(v.e, $cl.cw), s -> s[1] - s[2]) AS d
       |        FROM v CROSS JOIN $cl) t)""".stripMargin

  /** Oracle CTEs of one Lloyd round after the first assignment over v
    * and cents0/cl0 ([[Similarity.kmeansAssign]]; q_l26, q_l56): d1 →
    * a1 → exact-decimal means m1 → cl1 → d2 (vec_id, c, dist).
    */
  private def lloydOracleCtes: String =
    s"""${centroidDistOracleCte("d1", "cl0")},
       |a1 AS (SELECT vec_id, c FROM (
       |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
       |                  ORDER BY dist, c) AS r FROM d1) WHERE r = 1),
       |x1 AS (SELECT a1.c, generate_subscripts(v.e, 1) AS j, unnest(v.e) AS x
       |       FROM a1 JOIN v ON v.vec_id = a1.vec_id),
       |m1 AS (SELECT c, j,
       |         CAST(sum(CAST(x AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS w
       |       FROM x1 GROUP BY c, j),
       |cl1 AS (SELECT g.c, list(coalesce(m1.w, g.w) ORDER BY g.j) AS cw
       |        FROM cents0 g LEFT JOIN m1 ON m1.c = g.c AND m1.j = g.j + 1
       |        GROUP BY g.c),
       |${centroidDistOracleCte("d2", "cl1")}""".stripMargin

  /** Oracle CTEs cb (s, c, j, w) and cbl (s, c, cw): the md5 PQ
    * codebooks of [[Similarity.pqCodebooks]], 4 subspaces × 16 codes.
    */
  private def pqCodebookOracleCtes: String =
    """cb AS (SELECT s, c, j,
      |    CAST(('0x' || substr(md5('pq:' || s || ':' || c || ':' || j), 1, 16))
      |         AS UBIGINT) / 9223372036854775808.0 - 1.0 AS w
      |  FROM generate_series(0, 3) a(s) CROSS JOIN generate_series(0, 15) b(c)
      |       CROSS JOIN generate_series(0, 15) d(j)),
      |cbl AS (SELECT s, c, list(w ORDER BY j) AS cw FROM cb GROUP BY s, c)""".stripMargin

  /** Oracle CTEs over v and cbl: sub-vectors, `dists` (vec_id, s, c,
    * dist), each vector's codes and the first 20 vectors' 12dp ADC
    * table qdt (query_id, s, c, dt).
    */
  private def pqCodesOracleCtes(dists: String): String =
    s"""sub AS (SELECT vec_id, gs.s, v.e[gs.s*16+1 : gs.s*16+16] AS se
       |        FROM v CROSS JOIN generate_series(0, 3) gs(s)),
       |$dists AS (SELECT t.vec_id, t.s, t.c, list_inner_product(t.d, t.d) AS dist
       |  FROM (SELECT sub.vec_id, sub.s, cbl.c,
       |          list_transform(list_zip(sub.se, cbl.cw), z -> z[1] - z[2]) AS d
       |        FROM sub JOIN cbl ON cbl.s = sub.s) t),
       |codes AS (SELECT vec_id, s, c FROM (
       |    SELECT vec_id, s, c,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS r
       |    FROM $dists) WHERE r = 1),
       |qdt AS (SELECT vec_id AS query_id, s, c, round(dist, 12) AS dt
       |        FROM $dists WHERE vec_id < 20)""".stripMargin

  /** The oracle tail of the PQ queries: the top 5 of `scored` per
    * query by ADC distance (ties on neighbor id).
    */
  private def adcRankOracle: String =
    """SELECT query_id, rank, neighbor_id, round(adist, 6) AS adist FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY adist, neighbor_id) AS rank
      |  FROM scored) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Oracle CTEs replaying [[Similarity.bucketOf]] over 4 md5
    * hyperplanes (q_l6, q_l6b, q_l23, q_l67, q_l85): planes → pl →
    * dots → vb (vec_id, bucket), then v (vec_id, `extra`, double
    * embedding e, bucket).
    */
  private def lshBucketOracleCtes(extra: String = ""): String =
    s"""WITH planes AS (
       |  SELECT i, j, CAST(('0x' || substr(md5(i || ':' || j), 1, 16)) AS UBIGINT)
       |               / 9223372036854775808.0 - 1.0 AS w
       |  FROM generate_series(0, 3) a(i) CROSS JOIN generate_series(0, 63) b(j)),
       |pl AS (SELECT i, list(w ORDER BY j) AS pw FROM planes GROUP BY i),
       |dots AS (SELECT e.vec_id, pl.i,
       |           list_inner_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
       |                              pl.pw) AS d
       |         FROM embeddings e CROSS JOIN pl),
       |vb AS (SELECT vec_id,
       |         bit_or(CASE WHEN d > 0 THEN (1::UBIGINT << i) ELSE 0::UBIGINT END) AS bucket
       |       FROM dots GROUP BY vec_id),
       |v AS (SELECT e.vec_id, $extra list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS e,
       |             vb.bucket
       |      FROM embeddings e JOIN vb ON vb.vec_id = e.vec_id)""".stripMargin

  /** Oracle CTE t (doc_id, n_tokens, ord`extra`): each doc's
    * whitespace token count ([[TextAnalysis.tokenCount]]) and its md5
    * packing order ([[Corpus.packShards]]).
    */
  private[queries] def packTokensOracleCte(extra: String = ""): String =
    s"""WITH t AS (SELECT doc_id,
       |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
       |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
       |  md5(CAST(doc_id AS VARCHAR)) AS ord$extra
       |  FROM documents)""".stripMargin

  /** t, then c (doc_id, n_tokens, token_start): the exclusive token
    * prefix sum in packing order (q_l35, q_s24, q_s26).
    */
  private[queries] def packStartsOracleCtes: String =
    packTokensOracleCte() + """,
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY ord, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS token_start
      |  FROM t)""".stripMargin

  /** t, then c (doc_id, n_tokens, shard_id) at 2048 tokens per shard
    * (q_l17, q_l83).
    */
  private[queries] def packShardsOracleCtes: String =
    packTokensOracleCte() + """,
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY ord, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT)
      |    AS shard_id
      |  FROM t)""".stripMargin

  /** Oracle CTE c (doc_id, n_tokens, shard_id) of the appended docs
    * (every 5th) packed in `order` from the standing corpus's token
    * total `base.bt` ([[Corpus.packShardsAppend]]; q_l84, q_st19).
    */
  private[queries] def appendShardsOracleCte(order: String): String =
    s"""c AS (SELECT doc_id, n_tokens,
       |  CAST(floor((coalesce(sum(n_tokens) OVER (ORDER BY $order
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + base.bt)
       |    / 2048.0) AS BIGINT) AS shard_id
       |  FROM t CROSS JOIN base WHERE doc_id % 5 = 0)""".stripMargin

  /** The per-shard answer of the packing queries over c. */
  private[queries] def shardSumsOracle: String =
    """SELECT shard_id, count(*) AS n_docs,
      |CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
      |CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM c GROUP BY shard_id ORDER BY shard_id""".stripMargin

  /** Oracle CTEs shared by the dedup-decision queries (q_l14, q_l50,
    * q_l15): exact 3-shingle Jaccard ≥ 0.8 pairs (np) ∪ normalized-md5
    * pairs (ep), then connected components as the minimum reachable
    * id (comp: id, cluster_id) via a recursive CTE.
    */
  private def dupComponentsOracleCtes: String =
    s"""WITH RECURSIVE
      |$shingleSizesOracleCtes,
      |np AS (SELECT id_a, id_b FROM
      |         (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2) p
      |       JOIN sizes sa ON sa.doc_id = p.id_a
      |       JOIN sizes sb ON sb.doc_id = p.id_b
      |       WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
      |fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      |       FROM documents),
      |ep AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |       FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id),
      |edges AS (SELECT id_a, id_b FROM np UNION SELECT id_a, id_b FROM ep),
      |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
      |        UNION SELECT id_b, id_a FROM edges),
      |reach(id, r) AS (
      |  SELECT src, src FROM (SELECT DISTINCT src FROM sym) t
      |  UNION
      |  SELECT s.src, q.r FROM sym s JOIN reach q ON q.id = s.dst),
      |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Oracle CTEs mirroring [[Retrieval.unigramDocLogProb]] (q_l32,
    * q_l62): per (doc, term) counts → unigram counts → per-doc exact-
    * decimal log-prob sum (per: doc_id, logp_sum, n_tokens).
    */
  private def unigramLogProbOracleCtes: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |c AS (SELECT term, sum(tf) AS c FROM tf GROUP BY 1),
      |tot AS (SELECT sum(c) AS t, count(*) AS v FROM c),
      |per AS (SELECT tf.doc_id,
      |    CAST(sum(CAST(round(tf.tf * ln((c.c + 1.0) / (tot.t + tot.v)), 9)
      |                  AS DECIMAL(28,9))) AS DOUBLE) AS logp_sum,
      |    sum(tf.tf) AS n_tokens
      |  FROM tf JOIN c ON tf.term = c.term CROSS JOIN tot
      |  GROUP BY tf.doc_id)""".stripMargin

  /** q_l22's exact closed form (all batch × corpus pairs at J ≥ 0.8,
    * best corpus match per new doc) — also q_st15's: the streamed
    * batches' decisions union to the batch answer.
    */
  private[queries] def incrementalDedupOracle: Option[String] = Some(
    s"""WITH $shingleSizesOracleCtes,
      |inter AS (SELECT b.doc_id AS new_id, c.doc_id AS corpus_id, count(*) AS inter
      |          FROM sh b JOIN sh c ON b.s = c.s
      |          WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
      |          GROUP BY 1, 2),
      |j AS (SELECT new_id, corpus_id,
      |        CAST(inter AS DOUBLE) / (sb.n + sc.n - inter) AS jac
      |      FROM inter JOIN sizes sb ON sb.doc_id = new_id
      |                 JOIN sizes sc ON sc.doc_id = corpus_id
      |      WHERE CAST(inter AS DOUBLE) / (sb.n + sc.n - inter) >= 0.8)
      |SELECT new_id, corpus_id, round(jac, 6) AS jaccard FROM j
      |QUALIFY row_number() OVER (PARTITION BY new_id ORDER BY jac DESC, corpus_id) = 1
      |ORDER BY new_id""".stripMargin)

  /** Seed-membership predicate shared by the NB classifier queries. */
  private[queries] def NbSeedSources: String =
    """source IN ('src0','src1','src2','src3','src4',
      |                   'src15','src16','src17','src18','src19')""".stripMargin

  /** Generated CTE chain shared by the NB classifier queries
    * (q_l59 batch, q_st16 streaming): hashed-token buckets → seed
    * labels (scoped by `seedWhere`) → Laplace-smoothed log-odds model
    * → class prior → per-doc decimal token scores. One definition so
    * the two oracles can never assert divergent classifier semantics.
    */
  private[queries] def nbOracleCtes(seedWhere: String): String =
    s"""WITH tok AS (SELECT doc_id,
       |    CAST(('0x' || substr(md5(term), 1, 6)) AS BIGINT) % 64 AS bucket
       |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
       |        FROM documents)),
       |seed AS (SELECT doc_id,
       |    CASE WHEN source IN ('src0','src1','src2','src3','src4')
       |         THEN 1 ELSE 0 END AS label
       |  FROM documents
       |  WHERE $seedWhere),
       |counts AS (SELECT t.bucket, sum(s.label) AS n_pos_b,
       |    sum(1 - s.label) AS n_neg_b
       |  FROM tok t JOIN seed s ON t.doc_id = s.doc_id GROUP BY t.bucket),
       |tot AS (SELECT sum(n_pos_b) AS n_pos, sum(n_neg_b) AS n_neg FROM counts),
       |model AS (SELECT bucket,
       |    CAST(round(ln((n_pos_b + 1.0) / (n_pos + 64.0))
       |             - ln((n_neg_b + 1.0) / (n_neg + 64.0)), 12)
       |         AS DECIMAL(28,12)) AS w
       |  FROM counts CROSS JOIN tot),
       |prior AS (SELECT CAST(round(ln((sum(label) + 1.0)
       |    / (sum(1 - label) + 1.0)), 12) AS DECIMAL(28,12)) AS prior
       |  FROM seed),
       |scores AS (SELECT t.doc_id, sum(m.w) AS token_score
       |  FROM tok t JOIN model m ON t.bucket = m.bucket GROUP BY t.doc_id)""".stripMargin

  /** Generated CTE chain shared by the BPE queries: words → seq0 →
    * (syms/p/c/b/seq/n)×m — each round picks and applies one merge.
    */
  private def bpeOracleCtes(m: Int): String = {
    val head =
      """WITH words AS (
        |  SELECT term AS word, count(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |        FROM documents)
        |  GROUP BY 1),
        |seq0 AS (SELECT word, freq,
        |  '|' || array_to_string(string_split(word, ''), '||') || '|' AS seq
        |  FROM words)""".stripMargin
    val rounds = (1 to m).map { k =>
      val p = k - 1
      s"""syms$k AS (SELECT freq, string_split(trim(seq, '|'), '||') AS syms FROM seq$p),
         |p$k AS (SELECT freq,
         |  unnest(list_slice(syms, 1, len(syms)-1)) AS a,
         |  unnest(list_slice(syms, 2, len(syms))) AS b FROM syms$k),
         |c$k AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p$k GROUP BY 1, 2),
         |b$k AS (SELECT a, b, cnt FROM c$k ORDER BY cnt DESC, a, b LIMIT 1),
         |seq$k AS (SELECT word, freq,
         |  replace(seq, '|' || bk.a || '||' || bk.b || '|',
         |               '|' || bk.a || bk.b || '|') AS seq
         |  FROM seq$p CROSS JOIN b$k bk),
         |n$k AS (SELECT CAST(sum(freq * len(string_split(trim(seq, '|'), '||')))
         |  AS BIGINT) AS n_sym FROM seq$k)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$rounds"
  }

  /** The q_l21b modern-recipe chain, stages 1-7, ending at the
    * repeated item frame (rep_id, doc_id, source, text, ...) ready
    * for shard packing - shared by the aggregate gate (q_l21b) and
    * the physical shard write-out (q_s25, IoQueries).
    */
  private[queries] def curationItems(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // NOTE (r14 optimization round, measured twice): widening this
    // scan (widenByFiles) was tried and REVERTED — both with the old
    // explode-based stage 1 and with the per-row fold, the 32-way
    // version multiplied the chain's cpuSec 2-6× (39-109 vs ~18): the
    // docs subtree feeds several consumers with different pruned
    // columns, so the inserted exchange defeats ReusedExchange and
    // AQE's wider size estimates flip the boilerplate joins off their
    // broadcast plans. At 100 TB the scan is wide by itself and the
    // question disappears.
    val docs = Tables.documents(s, dir)
    // stage 1 — cascade (q_l70's language-agnostic rules). The
    // top-gram-mass rule is a pure per-row computation
    // (TextAnalysis.topBigramFraction) — the explode → (doc, gram) agg →
    // join it used to ride was the chain's biggest shuffle, removed
    // outright (guide §2.4); counts are exact integers either way.
    // r15: the three repetition predicates fold into ONE sorted pass
    // (TextAnalysis.repetitionGate — boolean-identical, spec-pinned),
    // halving the per-row bigram work, and the cascade output is
    // CHECKPOINTED + re-spread: the stage profile showed `pass`
    // re-evaluated up to 6× through the lines-union / boilerplate /
    // anti-join tree, each time on the 1-2-partition scan (2-task
    // stages at 3-5 runSec). The checkpoint runs the folds once; the
    // post-materialization repartition is the Pipeline.checkpointWide
    // precedent (partition check on a checkpointed frame is free). The
    // raw docs scan itself stays narrow for its other consumers — the
    // r14 note above stands for scan-level widening.
    val passCk = docs
      .filter(TextAnalysis.repetitionGate(col("text"), 30, 0.05, 0.025))
      .select("doc_id", "source", "lang", "text")
      .localCheckpoint(false)
    val pass =
      if (passCk.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
        passCk.repartition(s.sparkContext.defaultParallelism)
      else passCk
    // stage 2 — boilerplate removal with reassembly (q_l71 as a
    // rewrite: strip the planted banner + any natural chrome,
    // rebuild text from surviving 10-token lines in line order;
    // a doc whose every line is chrome drops out entirely)
    val w = TextAnalysis.tokens(trim(col("text")))
    val bodyArr = transform(
      sequence(lit(0L), floor((size(w) - 1) / 10).cast("long")),
      i => concat_ws(" ", slice(w, (i * 10 + 1).cast("int"), lit(10))))
    val bodyLines = pass
      .select(col("doc_id"), col("source"), col("lang"), posexplode(bodyArr))
      .select(col("doc_id"), col("source"), col("lang"),
        col("pos").cast("long").as("i"), col("col").as("line"))
    val bannerLines = pass
      .filter(Corpus.hashFraction(col("doc_id")) < 0.6)
      .select(col("doc_id"), col("source"), col("lang"), lit(-1L).as("i"),
        concat(lit("NOTICE "), col("source"),
          lit(" terms apply all rights reserved archive mirror copy")).as("line"))
    // r15: three consumers (the two boilerplate aggregates + the
    // anti-join's left side) — pinned so the 10-token line explode
    // runs once, not three times
    val lines = bodyLines.unionByName(bannerLines).localCheckpoint(false)
    val boiler = Corpus.boilerplateSet(lines, "source", "doc_id", "line",
        minDocs = 5, pctNum = 1, pctDen = 5)
      .select(col("source"), col("__line").as("line"))
    val cleaned = lines.join(boiler, Seq("source", "line"), "left_anti")
      .groupBy("doc_id", "source", "lang")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("i"), col("line")))),
          x => x.getField("line")), " ").as("text"))
      // r15: consumed by BOTH sides of the dedup self-join below —
      // un-pinned, the anti-join + reassembly aggregate (and the whole
      // lines subtree under them) ran twice
      .localCheckpoint(false)
    // stage 3 — exact dedup on the CLEANED text, keep min doc_id
    val fp = cleaned.withColumn("__f", Dedup.exactFingerprint(col("text")))
    val ded = fp.join(
        fp.groupBy(col("__f")).agg(min(col("doc_id")).as("doc_id")),
        Seq("__f", "doc_id"), "left_semi")
      .drop("__f")
    // stage 4 — decontaminate vs the RAW eval suite
    val corp = ded.filter(col("doc_id") % 97 =!= 0)
    val bad = Corpus.contaminatedIds(corp, "doc_id", "text",
      docs.filter(col("doc_id") % 97 === 0), "text", 5)
    val clean = corp.join(bad, Seq("doc_id"), "left_anti")
    // stage 5 — language mixing (q_l21's rates)
    val mixed = Corpus.resampleStrata(clean, "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 2.5, "fr" -> 1.25, "es" -> 0.75))
      .withColumn("item_id", concat(col("doc_id").cast("string"),
        lit("#"), col("copy_id").cast("string")))
      .drop("copy_id", "lang")
      .localCheckpoint(false) // read by the plan AND the apply pass
    // stage 6 — epoch plan on the mixed corpus (tiers by supply).
    // ONE |sources|-row collect (bounded driver control flow: the
    // planner input is one row per source by construction); budget,
    // tiering and the 3 water-filling rounds then run driver-side via
    // epochMixPlanLocal, the planner q_l72 runs too.
    val perRows = mixed.groupBy("source")
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("avail"))
      .collect().map(r => (r.getString(0), r.getLong(1))) // |sources|-bounded planner input
    val budget = 2L * perRows.map(_._2).sum
    val tiers = perRows.sortBy { case (src, av) => (-av, src) }.zipWithIndex
      .map { case ((src, av), i) =>
        val tier = if (i < 5) 4L else if (i < 15) 2L else 1L
        (src, av, tier * av)
      }
    val rates = Corpus.epochMixPlanLocal(tiers.toSeq, budget, rounds = 3)
      .map { case (src, av, alloc) => src -> alloc.toDouble / av }.toMap
    // stage 7 — apply repetition per item (packing is the caller's)
    Corpus.resampleStrata(mixed, "item_id", "source", rates)
      .withColumn("rep_id",
        concat(col("item_id"), lit("#"), col("copy_id").cast("string")))
  }

  /** The q_l21b modern-recipe chain, CTE-for-CTE, ending at c2
    * (doc_id, n_tokens, token_start, shard_id) - shared by the
    * aggregate gate (q_l21b) and the physical shard write-out
    * (q_s25, IoQueries).
    */
  private[queries] def curationOracleCtes: String =
    s"""WITH d0 AS (SELECT doc_id, source, lang, trim(coalesce(text, '')) AS tt
      |  FROM documents),
      |tok0 AS MATERIALIZED (SELECT doc_id, source, lang, string_split_regex(tt, '\\s+') AS t
      |  FROM d0),
      |${bigramOracleCtes("tok0", "gsum")},
      |pass AS MATERIALIZED (SELECT tok0.doc_id, source, lang, t
      |  FROM tok0 LEFT JOIN gsum ON gsum.doc_id = tok0.doc_id
      |  WHERE len(t) >= 30
      |    AND (CASE WHEN coalesce(n2, 0) = 0 THEN 0.0
      |              ELSE 1.0 - CAST(d2 AS DOUBLE) / n2 END) <= 0.05
      |    AND (CASE WHEN coalesce(n2, 0) = 0 THEN 0.0
      |              ELSE CAST(top2 AS DOUBLE) / n2 END) <= 0.025),
      |lred AS (SELECT doc_id, source, lang, t,
      |    unnest(generate_series(0, CAST(floor((len(t) - 1) / 10.0) AS BIGINT))) AS i
      |  FROM pass),
      |body AS (SELECT doc_id, source, lang, i,
      |    array_to_string(list_slice(t, i*10+1, i*10+10), ' ') AS line
      |  FROM lred),
      |ban AS (SELECT doc_id, source, lang, CAST(-1 AS BIGINT) AS i,
      |    'NOTICE ' || source || ' terms apply all rights reserved archive mirror copy'
      |      AS line
      |  FROM pass
      |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
      |        / 4294967296.0 < 0.6),
      |lines AS MATERIALIZED (SELECT * FROM body UNION ALL SELECT * FROM ban),
      |sd AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY 1),
      |bdf AS (SELECT source, line, count(DISTINCT doc_id) AS df
      |        FROM lines GROUP BY 1, 2),
      |boiler AS (SELECT bdf.source, bdf.line FROM bdf JOIN sd USING (source)
      |           WHERE df >= 5 AND df * 5 >= n_docs * 1),
      |keptl AS (SELECT * FROM lines l WHERE NOT EXISTS (
      |  SELECT 1 FROM boiler b WHERE b.source = l.source AND b.line = l.line)),
      |cleaned AS (SELECT doc_id, source, lang,
      |    string_agg(line, ' ' ORDER BY i) AS text
      |  FROM keptl GROUP BY 1, 2, 3),
      |fp AS (SELECT *, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      |  FROM cleaned),
      |ded AS (SELECT doc_id, source, lang, text FROM fp
      |        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)),
      |corp AS MATERIALIZED (SELECT * FROM ded WHERE doc_id % 97 <> 0),
      |ctoks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM corp),
      |csh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+4], ' ')
      |                                             for i in generate_series(1, len(w)-4)])) AS s
      |        FROM ctoks WHERE len(w) >= 5),
      |etoks AS (SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents
      |          WHERE doc_id % 97 = 0),
      |esh AS (SELECT DISTINCT unnest([array_to_string(w[i:i+4], ' ')
      |                                for i in generate_series(1, len(w)-4)]) AS s
      |        FROM etoks WHERE len(w) >= 5),
      |bad AS (SELECT DISTINCT doc_id FROM csh WHERE s IN (SELECT s FROM esh)),
      |clean2 AS (SELECT * FROM corp
      |           WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
      |mx0 AS (SELECT doc_id, source, text,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
      |    / 4294967296.0 AS frac,
      |  CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 2.5
      |            WHEN 'fr' THEN 1.25 WHEN 'es' THEN 0.75 ELSE 1.0 END AS mr
      |  FROM clean2),
      |mcnt AS (SELECT doc_id, source, text,
      |  CAST(floor(mr) + CASE WHEN frac < mr - floor(mr) THEN 1 ELSE 0 END
      |       AS BIGINT) AS n
      |  FROM mx0),
      |mix AS MATERIALIZED (SELECT doc_id, source, text,
      |    CAST(doc_id AS VARCHAR) || '#' || CAST(copy_id AS VARCHAR) AS item
      |  FROM (SELECT doc_id, source, text,
      |          unnest(generate_series(1, n)) AS copy_id
      |        FROM mcnt WHERE n > 0)),
      |per AS MATERIALIZED (SELECT source,
      |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS avail
      |  FROM mix GROUP BY 1),
      |rk AS (SELECT source, avail,
      |    CAST(row_number() OVER (ORDER BY avail DESC, source) AS BIGINT) AS qrank
      |  FROM per),
      |tt AS (SELECT source, avail,
      |    CAST(CASE WHEN qrank <= 5 THEN 4 WHEN qrank <= 15 THEN 2 ELSE 1 END
      |         * avail AS BIGINT) AS cap
      |  FROM rk),
      |${epochMixOracleCtes(Seq("source", "avail", "cap"), " MATERIALIZED")},
      |rt AS (SELECT source, CAST(alloc AS DOUBLE) / avail AS rate FROM r3),
      |rep AS (SELECT m.doc_id, m.item, m.text,
      |    CAST(floor(rate) + CASE WHEN
      |        CAST(('0x' || substr(md5(m.item), 1, 8)) AS UBIGINT) / 4294967296.0
      |          < rate - floor(rate)
      |      THEN 1 ELSE 0 END AS BIGINT) AS n
      |  FROM mix m JOIN rt USING (source)),
      |repe AS (SELECT doc_id, item, text, unnest(generate_series(1, n)) AS rep_copy
      |  FROM rep WHERE n > 0),
      |p AS (SELECT doc_id,
      |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
      |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
      |  md5(item || '#' || CAST(rep_copy AS VARCHAR)) AS ord,
      |  item || '#' || CAST(rep_copy AS VARCHAR) AS rid
      |  FROM repe),
      |c2 AS (SELECT doc_id, n_tokens, token_start,
      |  CAST(floor(token_start / 2048.0) AS BIGINT) AS shard_id
      |  FROM (SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY ord, rid
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_start
      |    FROM p))""".stripMargin

  /** The tot/cost + Viterbi-DP + best-segmentation CTEs for one pass
    * over vocab${r-1} — shared by the EM rounds and the final apply.
    */
  private def unigramDpCtes(r: Int, maxLen: Int, pieceLen: Int): String = {
    val p = r - 1
    val dp = (1 to maxLen).map { i =>
      val cases = (1 to math.min(pieceLen, i)).map { j =>
        s"""      SELECT d.word, d.freq, d.cost + c.cost AS cost,
           |        d.seg || '|' || c.piece AS seg
           |      FROM dp${r}_${i - j} d JOIN cost$r c
           |        ON c.piece = substr(d.word, ${i - j + 1}, $j)
           |      WHERE len(d.word) >= $i""".stripMargin
      }.mkString("\n      UNION ALL\n")
      s"""dp${r}_$i AS MATERIALIZED (SELECT word, freq, cost, seg FROM (
         |    SELECT *, row_number() OVER (PARTITION BY word ORDER BY cost, seg) AS rn
         |    FROM (
         |$cases)) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val segUnion = (1 to maxLen)
      .map(i => s"SELECT word, freq, seg FROM dp${r}_$i WHERE len(word) = $i")
      .mkString("\n    UNION ALL ")
    s"""tot$r AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS tt,
       |    CAST(count(*) AS BIGINT) AS vv FROM vocab$p),
       |cost$r AS MATERIALIZED (SELECT piece,
       |    CAST(round(-ln((cnt + 1.0) / (tt + vv)) * 1000000) AS BIGINT) AS cost
       |  FROM vocab$p CROSS JOIN tot$r),
       |dp${r}_0 AS MATERIALIZED (SELECT word, freq, CAST(0 AS BIGINT) AS cost, '' AS seg FROM words),
       |$dp,
       |seg$r AS MATERIALIZED ($segUnion)""".stripMargin
  }

  /** The shared unigram-LM training replay: words/seed CTEs plus
    * `rounds` unrolled hard-EM rounds, ending at vocab$rounds.
    */
  private def unigramOracleCtes(
      maxLen: Int, pieceLen: Int, seedN: Int, rounds: Int): String = {
    val head =
      s"""WITH words AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
         |        FROM documents)
         |  WHERE len(word) BETWEEN 1 AND $maxLen
         |    AND regexp_matches(word, '^[!-~]+$$') AND word NOT LIKE '%|%'
         |  GROUP BY 1)""".stripMargin
    val subs = (1 to pieceLen).map { l =>
      s"""sub$l AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT substr(word, CAST(i AS INT), $l) AS piece, freq
         |    FROM (SELECT word, freq, unnest(range(1, len(word) - ${l - 1} + 1)) AS i
         |          FROM words WHERE len(word) >= $l))
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val seedUnion = (2 to pieceLen).map(l => s"SELECT * FROM sub$l").mkString(" UNION ALL ")
    val seed =
      s"""seedm AS MATERIALIZED (SELECT piece, cnt FROM ($seedUnion)
         |  ORDER BY cnt DESC, piece LIMIT $seedN),
         |vocab0 AS MATERIALIZED (SELECT * FROM sub1 UNION ALL SELECT * FROM seedm)""".stripMargin
    val emRounds = (1 to rounds).map { r =>
      val p = r - 1
      s"""${unigramDpCtes(r, maxLen, pieceLen)},
         |ecnt$r AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(string_split(substr(seg, 2), '|')) AS piece
         |    FROM seg$r)
         |  GROUP BY 1),
         |vchar$r AS MATERIALIZED (SELECT c.piece, COALESCE(e.cnt, CAST(0 AS BIGINT)) AS cnt
         |  FROM sub1 c LEFT JOIN ecnt$r e USING (piece)),
         |vmult$r AS MATERIALIZED (SELECT v.piece, COALESCE(e.cnt, CAST(0 AS BIGINT)) AS cnt
         |  FROM (SELECT piece FROM vocab$p WHERE len(piece) > 1) v
         |  LEFT JOIN ecnt$r e USING (piece)),
         |kmult$r AS MATERIALIZED (SELECT piece, cnt FROM (
         |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn,
         |      count(*) OVER () AS nm FROM vmult$r)
         |  WHERE rn <= (3 * nm + 3) // 4),
         |vocab$r AS MATERIALIZED (SELECT * FROM vchar$r UNION ALL SELECT * FROM kmult$r)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$subs,
       |$seed,
       |$emRounds""".stripMargin
  }

  /** Generated oracle for q_l74: the full unigram-LM hard-EM replay.
    * Unrolls `rounds` EM rounds, each containing the `maxLen`-position
    * Viterbi DP (per position, the min-(cost, seg) extension over the
    * ≤ `pieceLen` pieces ending there — the same per-position greedy
    * the Scala DP performs), count re-estimation, and the
    * ceil(3/4)-keep prune. Costs are integer micro-nats
    * round(-ln((cnt+1)/(T+V))·1e6), so DP sums replay exactly.
    */
  private def unigramOracleSql(
      maxLen: Int, pieceLen: Int, seedN: Int, rounds: Int): String =
    s"""${unigramOracleCtes(maxLen, pieceLen, seedN, rounds)},
       |totf AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS tt,
       |    CAST(count(*) AS BIGINT) AS vv FROM vocab$rounds)
       |SELECT v.piece, v.cnt,
       |  CAST(round(-ln((v.cnt + 1.0) / (tt + vv)) * 1000000) AS BIGINT) AS cost
       |FROM vocab$rounds v CROSS JOIN totf
       |ORDER BY v.cnt DESC, v.piece""".stripMargin

  /** q_l74b: one more final-cost Viterbi pass over the word table,
    * then the corpus token stream joins the per-word piece counts —
    * the apply/compression query of the trained unigram tokenizer.
    */
  private def unigramApplySql(
      maxLen: Int, pieceLen: Int, seedN: Int, rounds: Int,
      groupCol: String = "source", fertility: Boolean = false): String = {
    val f = rounds + 1
    val fert =
      if (fertility)
        ",\n  (CAST(sum(n.n_uni) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)" +
          " AS fertility_micro"
      else ""
    s"""${unigramOracleCtes(maxLen, pieceLen, seedN, rounds)},
       |${unigramDpCtes(f, maxLen, pieceLen)},
       |nuni AS MATERIALIZED (SELECT word,
       |    CAST(len(string_split(substr(seg, 2), '|')) AS BIGINT) AS n_uni
       |  FROM seg$f),
       |tok2 AS (SELECT $groupCol,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents)
       |SELECT $groupCol, CAST(count(*) AS BIGINT) AS ws_tokens,
       |  CAST(sum(n.n_uni) AS BIGINT) AS uni_tokens$fert
       |FROM tok2 JOIN nuni n ON tok2.term = n.word
       |GROUP BY $groupCol ORDER BY $groupCol""".stripMargin
  }
}
