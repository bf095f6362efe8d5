package graft.llm

import graft.dwh.StableId
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators: exact
  * (hash-groupBy), MinHash+LSH banded near-dup, SimHash, and exact
  * n-gram Jaccard via shingle-join candidate generation.
  *
  * Scale design (the whole point of these):
  *  - NOTHING here is all-pairs. Candidates come from equi-join
  *    blocking — (band, band_hash) buckets for MinHash, shared distinct
  *    shingles for exact Jaccard, 16-bit SimHash bands for Hamming —
  *    so the shuffles are key-partitioned joins that scale linearly in
  *    candidate count, not quadratically in corpus size.
  *  - Signatures are pure Column expressions (xxhash64 / array lambdas),
  *    so the map side stays inside whole-stage codegen; no UDF in the
  *    per-document hot path except SimHash's bit-vote loop.
  *  - At 100 TB: repartition docs by doc_id, compute signatures
  *    map-side, shuffle once on bucket keys, verify only inside
  *    buckets. Band count tunes recall (32 bands × 4 rows ⇒ P(miss) at
  *    J=0.8 is (1−0.8⁴)³² ≈ 5e-8).
  */
object Dedup {

  /** Canonical text normalization: lowercase, collapse whitespace, trim. */
  def normalizeText(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** Content fingerprint for exact dedup (md5 of normalized text). */
  def exactFingerprint(c: Column): Column = md5(normalizeText(c))

  /** Whitespace tokens of the raw text. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Distinct word n-shingles (single-pass UDF; nested array-lambda
    * expressions evaluate interpreted and were the bench bottleneck —
    * a primitive-loop UDF is ~50× faster here). Empty for docs shorter
    * than n tokens.
    */
  private[llm] def shinglesImpl(text: String, n: Int): Seq[String] = {
    if (text == null) return Seq.empty
    val toks = text.trim.split("\\s+")
    if (toks.length < n) return Seq.empty
    val out = scala.collection.mutable.LinkedHashSet[String]()
    var i = 0
    while (i + n <= toks.length) {
      val sb = new StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out += sb.result()
      i += 1
    }
    out.toSeq
  }
  private val shinglesUdf = udf(shinglesImpl _)
  def shingles(c: Column, n: Int): Column = shinglesUdf(c, lit(n))

  /** FNV-1a base hash, then one multiply-xor mix per permutation —
    * standard a·h+b universal-hash family for MinHash.
    */
  private def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** MinHash signature + banded keys in one pass: returns the `bands`
    * band hashes (each summarizing rowsPerBand signature minima).
    */
  private[llm] def minhashBandsImpl(
      shingleSeq: Seq[String], perms: Int, bands: Int): Seq[Long] = {
    if (shingleSeq == null || shingleSeq.isEmpty) return Seq.empty
    val rowsPerBand = perms / bands
    val sig = Array.fill(perms)(Long.MaxValue)
    shingleSeq.foreach { s =>
      val base = fnv1a(s)
      var p = 0
      while (p < perms) {
        // xorshift-multiply mix keyed by permutation index
        var h = base ^ (0x9e3779b97f4a7c15L * (p + 1))
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
        if (h < sig(p)) sig(p) = h
        p += 1
      }
    }
    (0 until bands).map { b =>
      var h = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rowsPerBand) { h ^= sig(b * rowsPerBand + r); h *= 0x100000001b3L; r += 1 }
      h
    }
  }
  private val minhashBandsUdf = udf(minhashBandsImpl _)

  /** LSH band keys for a document's shingle set. */
  def lshBands(shingleCol: Column, perms: Int, bands: Int): Column =
    minhashBandsUdf(shingleCol, lit(perms), lit(bands))

  /** Exact Jaccard over two distinct-shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_union(a, b))

  /** Ensure enough input partitions that per-document UDF work (winnow,
    * shingling) spreads across the cluster: a single small parquet file
    * arrives as 1-2 partitions, serializing the map stage. No-op when
    * the scan is already parallel (the real-scale case). File-count
    * check — metadata only, never executes the plan (SparkUtil
    * .widenByFiles).
    */
  private def spread(docs: DataFrame): DataFrame = graft.SparkUtil.widenByFiles(docs)

  /** Stopword-key cap over a (doc, key) exploded frame: keys present in
    * more than `maxDocFreq` documents are dropped. A key shared by
    * thousands of documents is template boilerplate — it cannot make a
    * pair near-duplicate on its own (J ≥ t needs the pair to share ~t
    * of EACH side's keys) but it would make its bucket's pair work
    * quadratic in frequency. With the cap, per-bucket pair work is
    * ≤ maxDocFreq²/2 however templated the corpus.
    *
    * ONE aggregation does everything: `groupBy(key)` computes the
    * exact doc-frequency (`count`, partial-aggregated map-side) AND
    * the key's doc ids via `CollectUpTo(maxDocFreq + 1)` — a custom
    * TypedImperativeAggregate whose buffer is hard-capped, so the
    * hottest template key buffers at most cap+1 longs per task and
    * ships at most cap+1 longs per map task across the shuffle.
    * Groups are then filtered to `count <= cap` and their id arrays
    * exploded back to (key, id, df) rows. For every SURVIVING key the
    * array is provably complete (truncation starts only past cap+1
    * elements, and such keys are dropped by the very filter), so the
    * bound costs nothing in exactness. (A `Window.partitionBy(key)`
    * count would instead sort the hottest key's entire bucket in ONE
    * task — the exact skew the cap exists to defuse; at 100 TB a
    * boilerplate key in 1% of docs is billions of rows in that task.
    * The previous shape — count-aggregate joined back to the exploded
    * frame — was skew-safe too, but shuffled the full (id, key) frame
    * a second time for the join and needed the exploded frame
    * checkpointed for reuse; the fused aggregate halves the
    * full-frame shuffles and drops the fat checkpoint entirely, so
    * the shingle/winnow explode is computed exactly once and only
    * vocabulary-sized state persists.)
    *
    * KNOWN BLIND SPOT: a near-duplicate CLUSTER with more members than
    * the cap (one page byte-duplicated thousands of times — the
    * primary target of LLM dedup) has every one of its keys over-cap,
    * so its members emit ZERO pairs here. Run exact dedup first
    * (`exactFingerprint` groupBy, q_l1): byte-identical mass
    * duplicates are its job, and the clusters that survive it are far
    * below any sane cap. The corpus-relative cap sometimes suggested
    * instead (e.g. 1% of doc count) was measured on the planted
    * testdata clusters and REJECTED: at sf0.1 it drops 18 true pairs
    * and admits 904 spurious ones (mid-frequency keys carry real
    * similarity signal), while 500 is result-identical to no cap at
    * every SF (DedupSpec cap-invariance).
    *
    * Input must be one row per DISTINCT (doc, key) with columns
    * (__id: long, `keyCol`) — shingling/winnowing emit per-doc sets,
    * so `count` is the doc-frequency. Output carries (keyCol, __id,
    * __df); only the vocabulary-sized per-key aggregate is lazily
    * localCheckpoint'd (materialize-on-first-use, blocks GC-dropped
    * with the frame), and downstream consumers re-explode it — a
    * per-row `explode` over bounded arrays, far cheaper than
    * re-shingling or re-shuffling.
    */
  private[llm] def cappedKeyed(
      keyed: DataFrame, keyCol: String, maxDocFreq: Int): DataFrame = {
    val byKey = keyed
      .groupBy(keyCol)
      .agg(
        count(lit(1)).as("__df"),
        // saturating +1: an effectively-uncapped call (Int.MaxValue)
        // must not overflow the buffer limit negative
        graft.functions.CollectUpTo(
          col("__id"),
          if (maxDocFreq >= Int.MaxValue - 1) Int.MaxValue else maxDocFreq + 1).as("__ids"))
      .filter(col("__df") <= maxDocFreq)
      .localCheckpoint(false)
    byKey.select(col(keyCol), explode(col("__ids")).as("__id"), col("__df"))
  }

  /** Exact Jaccard pairs from a (doc, key) exploded frame via
    * COMPLETE blocking-join candidate generation: every pair sharing
    * any kept key meets in the equi-join. Intersection sizes come from
    * counting each bucket's emitted pairs — one count-shuffle keyed by
    * the pair, no array re-join. Pair work is quadratic in per-key
    * frequency, so this is for corpora where the cap keeps buckets
    * genuinely small; `jaccardPairsViaSketch` is the cheaper candidate
    * generator when per-doc key sets are large (winnowing).
    */
  private[llm] def jaccardPairsViaBlocking(
      keyed: DataFrame, keyCol: String,
      threshold: Double, maxDocFreq: Int): DataFrame = {
    jaccardAtLeast(blockedOverlaps(cappedKeyed(keyed, keyCol, maxDocFreq), keyCol), threshold)
  }

  /** Every doc pair (id_a < id_b) sharing a key of the capped exploded
    * frame `kept`, with its intersection count `inter` and both key-set
    * sizes `na`/`nb`: each bucket's emitted pairs are counted in one
    * count-shuffle keyed by the pair.
    */
  private def blockedOverlaps(kept: DataFrame, keyCol: String): DataFrame = {
    val sizes = kept.groupBy("__id").agg(count(lit(1)).as("n"))
    // The candidate join's grouping keys are nearly unique per input
    // partition (pairs repeat across keys, which live elsewhere), so a
    // partial aggregate would hash ~all rows for no reduction — an
    // explicit repartition on the pair makes Catalyst plan a single
    // final aggregate instead.
    val inter = kept.select(col(keyCol), col("__id").as("id_a"))
      .join(kept.select(col(keyCol), col("__id").as("id_b")), Seq(keyCol))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .repartition(col("id_a"), col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    withSizes(inter, sizes)
  }

  /** Joins both docs' key-set sizes (`sizes`: __id, n) onto pairs as
    * `na` and `nb`.
    */
  private def withSizes(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.select(col("__id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("__id").as("id_b"), col("n").as("nb")), Seq("id_b"))

  /** Pairs whose Jaccard |A∩B| / |A∪B| from (inter, na, nb) reaches
    * `threshold`, as (id_a, id_b, jaccard).
    */
  private def jaccardAtLeast(overlaps: DataFrame, threshold: Double): DataFrame =
    overlaps
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact Jaccard pairs via RARE-KEY SKETCH candidate generation: each
    * doc is sketched by its `sketchK` rarest kept keys (ordered by
    * corpus doc-frequency asc, then signed key value asc — fully
    * deterministic and SQL-replayable), candidates are pairs sharing at
    * least `minShared` sketch keys, and only candidates are verified
    * exactly. The Jaccard values returned are exact; only candidate
    * RECALL is heuristic.
    *
    * Why this beats complete blocking for winnowing: per-doc key sets
    * are large (~|text|/w fingerprints), so complete blocking emits
    * Σ_key freq²/2 pair rows — 50M at sf0.1 even with the cap. The
    * rarest keys are exactly the discriminative ones (template keys
    * sort last), so the sketch join's buckets are tiny and the
    * emitted-pair volume drops ~25× while planted-cluster recall stays
    * exact at every SF (measured; a true pair at J ≥ 0.5 shares ~half
    * of each side's keys, so missing ≥ sketchK−minShared+1 of the 16
    * rarest is vanishingly unlikely). One groupBy(__id) produces the
    * size and the sketch in a single shuffle — no per-key window
    * anywhere.
    *
    * SHORT-DOC GUARD: a doc with fewer than `minShared` kept keys could
    * never clear a fixed share floor, so the floor is per-pair
    * min(minShared, |sketch_a|, |sketch_b|) — two one-fingerprint docs
    * that share it are candidates (and verify to Jaccard 1.0). Docs
    * with ZERO kept keys (empty/too-short text) remain invisible to
    * every path, blocking included.
    *
    * Verification re-counts shared keys on the already-capped exploded
    * frame — the candidate pair list joins back to (id, key) rows and
    * one count-shuffle per pair gives the exact intersection, the same
    * aggregation shape the blocking path uses. Nothing materializes
    * per-doc key ARRAYS: the sketch aggregation buffers one doc's keys
    * at a time and emits only the sketchK prefix, so no fat arrays
    * cross a shuffle boundary (the previous full-set array re-join was
    * the dominant verify cost and a skew hazard at scale).
    */
  private[llm] def jaccardPairsViaSketch(
      keyed: DataFrame, keyCol: String, threshold: Double,
      maxDocFreq: Int, sketchK: Int, minShared: Int): DataFrame = {
    val kept = cappedKeyed(keyed, keyCol, maxDocFreq)
    // one aggregation: set size plus the (df asc, key asc)-sorted
    // sketch prefix; the full key set never leaves the aggregate
    val sets = kept
      .groupBy("__id")
      .agg(collect_list(struct(col("__df").as("df"), col(keyCol).as("k"))).as("__dk"))
      .select(col("__id"),
        size(col("__dk")).as("n"),
        transform(slice(array_sort(col("__dk")), 1, sketchK), s => s.getField("k"))
          .as("__sketch"))
      .localCheckpoint(false)
    val sk = sets.select(col("__id"), size(col("__sketch")).as("__z"),
      explode(col("__sketch")).as(keyCol))
    val candidates = sk.select(col(keyCol), col("__id").as("id_a"), col("__z").as("__za"))
      .join(sk.select(col(keyCol), col("__id").as("id_b"), col("__z").as("__zb")), Seq(keyCol))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "__za", "__zb")
      .repartition(col("id_a"), col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__shared"),
        min(least(col("__za"), col("__zb"))).as("__msz"))
      .filter(col("__shared") >= least(lit(minShared), col("__msz")))
      .select("id_a", "id_b")
      .localCheckpoint(false)
    // exact verify: count shared keys per candidate pair over the
    // capped exploded frame — a row survives the second join iff both
    // docs hold the key, so count == |intersection|. The frame is first
    // semi-joined down to ids that appear in ANY candidate: the id set
    // is small (AQE broadcasts it when it is), so the filter runs
    // map-side over the checkpointed blocks and the full exploded frame
    // never crosses a shuffle — joining `kept` directly re-shuffled the
    // whole corpus's (id, key) rows once PER SIDE (the round-6 q_l13
    // regression). No forced hint: if a pathological corpus ever makes
    // the candidate id set huge, the semi-join degrades to a shuffle
    // instead of an OOM.
    // no distinct(): left_semi ignores probe-side duplicates, and the
    // dedup would cost a full extra shuffle stage just to shrink an
    // already-small (2 rows per candidate pair) build side
    val candIds = candidates.select(col("id_a").as("__id"))
      .unionByName(candidates.select(col("id_b").as("__id")))
    val keptCand = kept.join(candIds, Seq("__id"), "left_semi")
    val inter = candidates
      .join(keptCand.select(col("__id").as("id_a"), col(keyCol)), Seq("id_a"))
      .join(keptCand.select(col("__id").as("id_b"), col(keyCol)), Seq("id_b", keyCol))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    jaccardAtLeast(withSizes(inter, sets.select(col("__id"), col("n"))), threshold)
  }

  /** Ground-truth hook for recall measurement (BENCH_NOTES.md,
    * "Measured recall of the approximate family"):
    * COMPLETE blocking with no doc-frequency cap — every pair with any
    * shared key meets the equi-join, and Jaccard is over the full
    * uncapped key sets, so the result is the exact pair set the
    * sketch/banded operators approximate. Quadratic in per-key
    * frequency: sample-sized inputs only.
    */
  private[graft] def exactPairsUncapped(
      keyed: DataFrame, keyCol: String, threshold: Double): DataFrame =
    jaccardPairsViaBlocking(keyed, keyCol, threshold, Int.MaxValue)

  /** MinHash/LSH near-duplicate pairs: banded bucketing → candidate
    * pairs → exact-Jaccard verification. `docs` needs (idCol, textCol).
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    */
  def minhashNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, perms: Int, bands: Int,
      threshold: Double): DataFrame = {
    // checkpointed: both sides of the band self-join and the
    // verification joins reuse the materialization instead of
    // recomputing signatures per branch; unlike persist() the cached
    // blocks are dropped automatically once the frame is GC'd (the
    // round-2 unpersist leak)
    val withShingles = docs
      .select(col(idCol).as("__id"), shingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .localCheckpoint(false)
    val banded = withShingles
      .select(col("__id"), posexplode(lshBands(col("__sh"), perms, bands)).as(Seq("band", "bh")))
    val a = banded.select(col("band"), col("bh"), col("__id").as("id_a"))
    val b = banded.select(col("band"), col("bh"), col("__id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(withShingles.select(col("__id").as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(withShingles.select(col("__id").as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The pair set behind every dedup decision (q_l14, q_l15, q_l50,
    * q_l76): MinHash near-dup pairs (3-shingle Jaccard ≥ 0.8, 128
    * perms in 32 bands) ∪ exact-duplicate pairs (same
    * [[exactFingerprint]], a fingerprint self-join), distinct, as
    * (id_a, id_b) with id_a < id_b.
    */
  def nearOrExactPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val near = minhashNearDupPairs(docs, idCol, textCol,
        shingleN = 3, perms = 128, bands = 32, threshold = 0.8)
      .select("id_a", "id_b")
    val fp = docs.select(col(idCol), exactFingerprint(col(textCol)).as("f"))
    val exact = fp.as("a")
      .join(fp.as("b"), col("a.f") === col("b.f") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
    near.unionByName(exact).distinct()
  }

  /** INCREMENTAL near-dup: which docs of an incoming `batch` duplicate
    * something already in `corpus` (the realistic production shape — a
    * daily crawl lands against a 100 TB corpus, and re-deduping the
    * whole corpus per day is off the table). Returns one row per
    * rejected batch doc: (new_id, corpus_id, jaccard) with its BEST
    * corpus match (max jaccard, ties to the smallest corpus id);
    * absent ids are survivors.
    *
    * Scale shape, by stage:
    *  - the corpus side reduces to its banded MinHash keys
    *    (corpus_id, band, bh) — in production this is a PERSISTED
    *    index, written once and bucketed by (band, bh), so a daily run
    *    never rescans corpus text (rebuild it here because the bench
    *    corpus is parquet-only; `lshBands` over a scan is exactly what
    *    the index build would run);
    *  - batch bands broadcast against the index: the corpus never
    *    shuffles, candidates fall out map-side (AQE picks broadcast
    *    while the batch is small; a huge backfill batch degrades to a
    *    shuffle join, never a corpus re-scan);
    *  - exact-Jaccard verification recomputes shingles ONLY for
    *    candidate corpus docs: the candidate-id semi-join runs against
    *    the corpus scan BEFORE the shingle UDF, so per-row text work is
    *    bounded by candidate count, not corpus size;
    *  - the best-match window partitions by new_id — batch-sized, never
    *    corpus-sized.
    */
  /** The standing corpus's LSH band rows — split out so an
    * INCREMENTAL caller (q_st15: one standing corpus, many arriving
    * micro-batches) can compute and pin them ONCE instead of
    * re-shingling + re-MinHashing the whole corpus inside every
    * micro-batch (r15; the banding was the dominant per-batch cost).
    * Single-shot callers get it inlined via [[dedupAgainstCorpus]].
    */
  def corpusBands(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, perms: Int, bands: Int): DataFrame =
    spread(corpus)
      .select(col(idCol).as("corpus_id"), shingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("corpus_id"),
        posexplode(lshBands(col("__sh"), perms, bands)).as(Seq("band", "bh")))

  def dedupAgainstCorpus(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, perms: Int, bands: Int, threshold: Double): DataFrame =
    dedupAgainstCorpusBanded(batch,
      corpusBands(corpus, idCol, textCol, shingleN, perms, bands),
      corpus, idCol, textCol, shingleN, perms, bands, threshold)

  /** [[dedupAgainstCorpus]] with the corpus band rows supplied by the
    * caller (pre-banded, typically checkpointed once per stream).
    * `cBands` must be exactly [[corpusBands]] of `corpus` with the
    * same parameters — the verify join re-shingles candidate corpus
    * docs from `corpus` itself, so the pair set and Jaccard values
    * are identical by construction.
    */
  def dedupAgainstCorpusBanded(
      batch: DataFrame, cBands: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int, perms: Int, bands: Int, threshold: Double): DataFrame = {
    val bSh = spread(batch)
      .select(col(idCol).as("new_id"), shingles(col(textCol), shingleN).as("__sh_new"))
      .filter(size(col("__sh_new")) > 0)
      .localCheckpoint(false)
    val bBands = bSh.select(col("new_id"),
      posexplode(lshBands(col("__sh_new"), perms, bands)).as(Seq("band", "bh")))
    val cand = cBands
      .join(bBands.select(col("new_id"), col("band"), col("bh")), Seq("band", "bh"))
      .select("new_id", "corpus_id").distinct()
      .localCheckpoint(false)
    // candidate corpus docs only: filter the scan BEFORE shingling
    val candCorpus = corpus
      .select(col(idCol).as("corpus_id"), col(textCol))
      .join(cand.select("corpus_id").distinct(), Seq("corpus_id"), "left_semi")
    val cSh = candCorpus
      .select(col("corpus_id"), shingles(col(textCol), shingleN).as("__sh_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("new_id").orderBy(col("jaccard").desc, col("corpus_id"))
    cand
      .join(bSh, Seq("new_id"))
      .join(cSh, Seq("corpus_id"))
      .withColumn("jaccard", jaccard(col("__sh_new"), col("__sh_c")))
      .filter(col("jaccard") >= threshold)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("new_id", "corpus_id", "jaccard")
  }

  /** Exact n-gram Jaccard pairs via rare-shingle sketch candidates:
    * shingles in more than `maxDocFreq` docs are dropped as
    * stopword-shingles first (see `cappedKeyed`), then candidates come
    * from each doc's `sketchK` rarest kept shingles (pairs sharing at
    * least `minShared`, floored per-pair for short docs) and only
    * candidates pay an exact intersection count. Jaccard is over the
    * kept shingle sets and exact; the sketch only bounds RECALL, with
    * the same argument as winnowing — a pair at J ≥ t shares ~t of
    * each side's shingles, and rare shingles are the discriminative
    * ones. `jaccardPairsViaBlocking` remains available for corpora of
    * very short documents where complete blocking is already cheap.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double, maxDocFreq: Int = 500,
      sketchK: Int = 16, minShared: Int = 2): DataFrame =
    jaccardPairsViaSketch(
      spread(docs)
        .select(col(idCol).as("__id"), explode(shingles(col(textCol), shingleN)).as("s")),
      "s", threshold, maxDocFreq, sketchK, minShared)

  /** Asymmetric CONTAINMENT pairs: C(a,b) = |A∩B| / min(|A|,|B|) —
    * catches "one document is (mostly) inside the other": truncated
    * rewrites, quotations, boilerplate-wrapped copies. Jaccard misses
    * these by construction (a 30-token doc inside a 60-token doc caps
    * Jaccard near 0.5 while containment is 1.0), and symmetric near-dup
    * passes leave them in the corpus.
    *
    * Candidates come from COMPLETE blocking on kept (df ≤ cap)
    * shingles — for containment the rare-sketch shortcut is unsound:
    * the small side's rare shingles need not be in the LARGE side's
    * sketch, so a sketch join can miss true subset pairs. The cap
    * bounds bucket quadratics exactly as in the Jaccard path (same
    * mass-duplicate caveat: run exact dedup first).
    */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double, maxDocFreq: Int = 500): DataFrame = {
    val keyed = spread(docs)
      .select(col(idCol).as("__id"), explode(shingles(col(textCol), shingleN)).as("s"))
    blockedOverlaps(cappedKeyed(keyed, "s", maxDocFreq), "s")
      .withColumn("containment", col("inter") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Winnowing-fingerprint near-dup pairs: each doc's winnow set
    * (TextAnalysis.winnow over normalized text) plays the shingle role.
    * Character-level, so it catches near-dups that word-shingle methods
    * miss (reformatted whitespace, joined words), with ~|text|/w
    * fingerprints per doc instead of one per token shingle.
    *
    * Because per-doc fingerprint sets are large, candidates come from
    * the rare-fingerprint sketch (`jaccardPairsViaSketch`): the
    * `sketchK` rarest kept fingerprints per doc, pairs sharing at
    * least `minShared` of them, exact Jaccard over the full kept sets
    * for candidates only. The stopword-fingerprint cap (`maxDocFreq`)
    * still bounds bucket sizes first — see `cappedKeyed` for the cap's
    * semantics, its groupBy (not window) implementation, and the
    * mass-duplicate blind spot (run exact dedup first).
    */
  def winnowNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, threshold: Double, maxDocFreq: Int = 500,
      sketchK: Int = 16, minShared: Int = 2): DataFrame =
    jaccardPairsViaSketch(
      spread(docs)
        .select(col(idCol).as("__id"),
          explode(TextAnalysis.winnowUdf(normalizeText(col(textCol)), lit(k), lit(w))).as("fp")),
      "fp", threshold, maxDocFreq, sketchK, minShared)

  /** Sorted-neighborhood dedup blocking (the classic merge/purge
    * strategy: sort by a cheap key, compare each record only to its
    * `window − 1` successors in the global order). Complements the
    * set-based blockers (MinHash bands, rare-shingle sketches): SN's
    * candidate count is EXACTLY N·(w−1) regardless of how skewed the
    * shingle-frequency distribution is, so it has no hot-bucket
    * failure mode — at the price of only finding pairs whose blocking
    * keys (here: the first `keyLen` chars of normalized text) sort
    * adjacently.
    *
    * Scale shape: the global order is a range exchange, NOT a
    * single-partition window — global positions are the dense
    * `StableId` numbering (partition offset from the per-partition row
    * counts plus the position inside the sorted partition). Neighbor
    * pairing is an equi-join on the dense position
    * (each row emits `window − 1` probe positions), and the exact
    * Jaccard verify evaluates on the joined pair rows only — never on
    * the full corpus cross product.
    */
  def sortedNeighborhoodPairs(
      docs: DataFrame, idCol: String, textCol: String,
      keyLen: Int, window: Int, shingleN: Int, threshold: Double): DataFrame = {
    require(window >= 2, s"sortedNeighborhoodPairs: window must be >= 2, got $window")
    val base = spread(docs).select(
      col(idCol).as("__id"),
      substring(normalizeText(col(textCol)), 1, keyLen).as("__k"),
      shingles(col(textCol), shingleN).as("__sh"))
    // dense global positions 1..N in (key, id) order; the numbering
    // pins its partitions, so both sides of the neighbor join read the
    // same stored rows
    val ranked = StableId.assign(base, Seq(col("__k"), col("__id")), "rn", 0L)
      .select(col("__id"), col("__sh"), col("rn"))
    val probes = ranked.select(col("__id").as("__ida"), col("__sh").as("__sha"),
      explode(sequence(col("rn") + 1, col("rn") + (window - 1))).as("rn"))
    probes
      .join(ranked.select(col("__id").as("__idb"), col("__sh").as("__shb"), col("rn")),
        Seq("rn"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"),
        jaccard(col("__sha"), col("__shb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Prefix-filtering set-similarity self-join (the AllPairs/PPJoin
    * candidate scheme): order every document's distinct tokens by
    * ascending global document frequency (rarest first, token text as
    * tiebreak), keep only each document's first
    * `|d| − ⌈t·|d|⌉ + 1` tokens as its PREFIX, and generate candidates
    * from pairs sharing a prefix token. The prefix-filter lemma
    * (Xiao et al., PPJoin, WWW'08) guarantees every pair with
    * Jaccard ≥ t shares at least one token inside both prefixes, so
    * the candidate set is a provable superset — unlike the df-cap
    * blockers, which trade a documented blind spot for bucket bounds.
    * At t = 0.8 only ~20% of each document's tokens (its rarest ones)
    * are indexed, so buckets are both fewer and intrinsically
    * rare-keyed — the frequency-ascending order is what kills the
    * hot-bucket problem, not a cap.
    *
    * The set elements are distinct word `shingleN`-shingles (the same
    * universe as the MinHash/sketch operators — order-sensitive, so
    * same-vocabulary template documents don't degenerate into one
    * giant near-dup clique the way raw token SETS do on boilerplate
    * corpora).
    *
    * Scale shape: shingle-df is one partial-aggregated groupBy; prefix
    * ranking is a window PARTITIONED BY DOCUMENT (bounded by document
    * shingle count, never by corpus size); candidates come from one
    * equi-join of prefix rows; the exact-Jaccard verify semi-joins the
    * full shingle frame down to candidate ids before the intersection
    * count (the q_l13 lesson). Nothing is all-pairs.
    */
  def prefixFilterJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"prefixFilterJaccardPairs: threshold in (0,1], got $threshold")
    // r15: five consumers (df agg, sizes agg, the prefix join's left
    // side, keptA, keptB) — uncheckpointed, each re-ran the shingle
    // UDF explode over the corpus
    val toksD = spread(docs)
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as("__id"),
        explode(shingles(col(textCol), shingleN)).as("t"))
      .localCheckpoint(false)
    val tokDf = toksD.groupBy("t").agg(count(lit(1)).as("__df"))
    val sizes = toksD.groupBy("__id").agg(count(lit(1)).as("n"))
    val wDoc = Window.partitionBy("__id").orderBy(col("__df"), col("t"))
    // prefix bound: subtract a sub-ulp epsilon before ceil so FP noise
    // in threshold*n (e.g. an exact-rational integer landing a hair
    // high in doubles) can only LENGTHEN the prefix — a too-short
    // prefix would void the PPJoin superset guarantee and silently
    // drop true pairs (the oracle replays the same epsilon)
    // checkpoint: the prefix frame feeds BOTH sides of the candidate
    // self-join plus the bucket-bound aggregate below — uncheckpointed,
    // Spark re-derives the df-join + per-doc window once per consumer
    // (measured 2× the query wall at sf0.1 when the bound agg became
    // the third consumer)
    val prefix = toksD.join(tokDf, Seq("t"))
      .withColumn("__rn", row_number().over(wDoc))
      .join(sizes, Seq("__id"))
      .filter(col("__rn") <= col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
      .select("__id", "t", "n")
      .localCheckpoint(true)
    // length filter (also PPJoin): J >= t forces i >= t·max(|a|,|b|)
    // and i <= min(|a|,|b|), so mismatched set sizes can't qualify —
    // applied inside the candidate join, before the dedup shuffle
    val cand = prefix.select(col("t"), col("__id").as("id_a"), col("n").as("__la"))
      .join(prefix.select(col("t"), col("__id").as("id_b"), col("n").as("__lb")),
        Seq("t"))
      .filter(col("id_a") < col("id_b") &&
        least(col("__la"), col("__lb")) >=
          lit(threshold) * greatest(col("__la"), col("__lb")) - lit(1e-9))
      .select("id_a", "id_b")
      .distinct()
      .localCheckpoint(true) // consumed by two semi-joins + the verify join
    // Candidate-growth guard: the distinct candidate count can never
    // exceed the prefix-bucket pair bound Σ_t m_t·(m_t−1)/2 (every
    // candidate shares ≥1 prefix token), and on real corpora the
    // length filter keeps it WELL under. The sf1.0 sweep put this
    // family at 17× on 10× rows — data-intrinsic tail growth — so the
    // ratio is logged as the regression signal: a ratio drifting
    // toward 1.0 means the length filter stopped pruning (e.g. an
    // epsilon/ceil bug lengthened every prefix), long before the wall
    // clock makes it obvious. The bound is |tokens|-row metadata; the
    // count rides the checkpoint materialization the consumers need
    // anyway.
    val bound = prefix.groupBy("t").agg(count(lit(1)).as("m"))
      .agg(sum(col("m") * (col("m") - 1) / 2).cast("long")).head().getLong(0)
    val nCand = cand.count()
    require(bound == 0 || nCand <= bound,
      s"prefixFilterJaccardPairs: $nCand candidates exceed the bucket bound $bound — " +
        "the candidate join no longer restricts to shared prefix tokens")
    System.err.println(f"[ppjoin] candidates=$nCand%d bucketBound=$bound%d " +
      f"ratio=${if (bound == 0) 0.0 else nCand.toDouble / bound}%.4f")
    val keptA = toksD.select(col("__id").as("id_a"), col("t"))
      .join(cand.select("id_a"), Seq("id_a"), "left_semi")
    val keptB = toksD.select(col("__id").as("id_b"), col("t"))
      .join(cand.select("id_b"), Seq("id_b"), "left_semi")
    val inter = cand.join(keptA, Seq("id_a"))
      .join(keptB, Seq("id_b", "t"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    jaccardAtLeast(withSizes(inter, sizes), threshold)
  }

  // ------------------------------------------------------------ SimHash
  /** 64-bit SimHash of a token array: each token votes its hash bits
    * up/down; the sign of each bit-sum forms the fingerprint. The token
    * hash is the first 64 bits of md5 — chosen over FNV because it is
    * REPLAYABLE IN SQL (DuckDB `md5` + hex cast), which turns the
    * banded SimHash query into a fully oracle-checked one (q_l4): the
    * oracle recomputes identical signatures, bands, and Hamming
    * distances instead of settling for a rows-only check.
    */
  private[llm] def simhash64(toks: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    toks.foreach { t =>
      md.reset()
      val d = md.digest(t.getBytes("UTF-8"))
      // first 8 digest bytes, big-endian — same bits as the first 16
      // hex chars of the md5 string
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    votes.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
      if (v > 0) acc | (1L << i) else acc
    }
  }
  val simhashUdf = udf(simhash64 _)

  /** SimHash near-dup pairs with Hamming distance ≤ maxDistance,
    * blocked on 4×16-bit bands (a pair within distance 3 must agree on
    * at least one band; larger distances trade recall for speed).
    */
  def simhashNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxDistance: Int): DataFrame = {
    val sigs = docs.select(col(idCol).as("__id"),
      simhashUdf(tokens(col(textCol))).as("sig"))
    val banded = sigs.select(col("__id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bh")))
    val a = banded.select(col("band"), col("bh"), col("__id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bh"), col("__id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** The dedup DECISION applied to the corpus: given duplicate pairs
    * (near or exact, any generator above), keep each cluster's
    * minimum-id member plus every unpaired document, drop the rest —
    * the filtered corpus a training pipeline actually ships. One
    * anti-join of the corpus against the losers (cluster members that
    * are not their component's minimum); unpaired docs never appear in
    * `pairs` and pass through untouched. Scale shape: no forced
    * broadcast — in heavily-duplicated LLM corpora the loser set is
    * routinely 20-50% of all docs, far past any broadcast limit, so the
    * join strategy is left to AQE: it broadcasts when the loser set is
    * actually small and falls back to a shuffled anti-join when it
    * isn't, instead of failing the job on the 8 GB broadcast ceiling.
    */
  def dedupCorpus(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected components of the undirected pair graph via iterative
    * min-label propagation: every node repeatedly adopts the smallest
    * label among itself and its neighbors until no label changes, so
    * each component ends up labeled by its minimum member id. This is
    * the step that turns near-duplicate PAIRS (minhash/simhash/winnow
    * operators above) into deduplication DECISIONS — one keeper per
    * transitive duplicate cluster.
    *
    * Scale shape: every round is fully distributed (one equi-join on
    * the node id + one partial-aggregating groupBy; no windows, no
    * driver-side data). The driver only checks the per-round changed
    * count — control flow, not data movement. Labels are lazily
    * checkpointed each round: without that the iterative plan grows by
    * two joins per round and each action re-executes the whole
    * history. Rounds are bounded by component diameter; near-dup
    * clusters are dense (diameter ≲ 3), so convergence takes 2-4
    * rounds. For adversarial path-shaped graphs, star contraction
    * (large-star/small-star alternation) converges in O(log n) rounds
    * at the cost of more machinery — min-propagation is the right
    * default for dedup graphs.
    *
    * Returns one row per node that appears in `pairs`: (id, comp).
    * Nodes with no pair are absent — callers treat them as their own
    * singleton component (see the q_l14 registry query).
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 25): DataFrame = {
    val sym = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(false)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(false)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("comp")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("comp").as("__nc"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("__nc"), col("comp"))).as("comp"),
          (coalesce(col("__nc"), col("comp")) < col("comp")).as("__chg"))
        .localCheckpoint(false)
      changed = next.filter(col("__chg")).count()
      labels = next.drop("__chg")
      round += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "pathological graph diameter; raise maxIter or switch to star contraction")
    labels
  }

  // ----------------------------------------- duplicate-span statistics
  /** Per-document duplicated-substring coverage — the exact-substring
    * dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"), re-expressed for Spark: instead
    * of a corpus suffix array (inherently sequential), every n-token
    * gram is joined against the corpus gram table, a gram is
    * DUPLICATED when it occurs in ≥ 2 distinct documents (within-doc
    * repetition is the separate q_l24 repetition-filter family), and
    * each document's covered-token count is the measure of the UNION
    * of its duplicated spans [pos, pos+n) — computed in one pass over
    * the sorted positions (sum of min(n, gap)), no interval
    * materialization.
    *
    * Returns one row per document with ≥ n tokens:
    * (idCol, n_tokens, covered) — covered ∈ [0, n_tokens].
    *
    * Scale shape: gram duplication is min(id) ≠ max(id) over a
    * gram-keyed aggregate (partial-aggregated, no countDistinct
    * shuffle); the coverage window partitions BY DOCUMENT, so its
    * width is bounded by document length, never corpus size — the
    * same bound every per-doc window here relies on (q_l47's wDoc).
    */
  def duplicateSpanStats(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"duplicateSpanStats: n must be >= 2, got $n")
    val toks = spread(docs)
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as("__id"),
        split(trim(col(textCol)), "\\s+").as("__w"))
      .filter(size(col("__w")) >= n)
    // positional grams, natively (NOT `shingles`, which DEDUPES — a
    // repeated gram's later positions must still extend coverage):
    // start positions 0..len-n, gram = the n tokens from each start
    val grams = toks.select(col("__id"),
      posexplode(transform(
        sequence(lit(0), size(col("__w")) - n),
        i => concat_ws(" ", slice(col("__w"), i + 1, lit(n))))).as(Seq("pos", "g")))
    // duplicated across documents: cheapest distinct-ness test that
    // needs no countDistinct — two ids differ iff min != max
    val dup = grams.groupBy("g")
      .agg(min("__id").as("__lo"), max("__id").as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .select("g")
    val hits = grams.join(dup, Seq("g"), "left_semi")
    val wDoc = Window.partitionBy("__id").orderBy("pos")
    val covered = hits
      .withColumn("__prev", lag("pos", 1).over(wDoc))
      .groupBy("__id")
      .agg(sum(when(col("__prev").isNull, lit(n))
        .otherwise(least(lit(n), col("pos") - col("__prev")))).as("covered"))
    toks.select(col("__id"), size(col("__w")).cast("long").as("n_tokens"))
      .join(covered, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"))
  }

  /** Maximal duplicated spans ≥ `minSpan` tokens — the span-CUTTING
    * form of the Lee et al. 2022 exact-substring signal
    * ([[duplicateSpanStats]] measures coverage; this one extracts the
    * spans a curation pass would actually excise), with the shuffle
    * fingerprinted: gram STRINGS never leave the executor. Each
    * position's n-gram is reduced to a 60-bit md5 fingerprint
    * in-place, so the duplicated-seed aggregate shuffles an 8-byte
    * key instead of an n-word string — the suffix-array pass's role
    * (find cross-doc repeated seeds in one global order) done as a
    * hash-keyed partial aggregate, which is the Spark-native way to
    * get that global grouping. At 100 TB this is the difference
    * between shuffling ~n× the corpus text and shuffling one long per
    * token position.
    *
    * Span assembly is the doc-bounded islands pass: duplicated seed
    * positions sorted per doc chain into maximal runs (a gap > n
    * breaks the chain — the spans [pos, pos+n) no longer overlap or
    * touch), each run covering [first, last + n). Exactly the union
    * [[duplicateSpanStats]] measures — `sum(span_len)` per doc equals
    * its `covered` (DedupSpec pins the parity) — but materialized as
    * cuttable spans with lengths.
    *
    * Fingerprint collisions: a cross-doc collision of DIFFERENT grams
    * would merge two seeds; the oracle replays the identical md5
    * fingerprint, so both engines see the same (astronomically
    * unlikely, ~2⁻⁶⁰·pairs) event and the gate stays exact.
    *
    * Returns one row per maximal span of length ≥ minSpan:
    * (idCol, span_start, span_len).
    */
  def duplicateSpans(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      minSpan: Int): DataFrame = {
    require(n >= 2, s"duplicateSpans: n must be >= 2, got $n")
    require(minSpan >= n,
      s"duplicateSpans: minSpan must be >= n ($n), got $minSpan")
    val toks = spread(docs)
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as("__id"),
        split(trim(col(textCol)), "\\s+").as("__w"))
      .filter(size(col("__w")) >= n)
    // positional fingerprints: the gram string exists only inside the
    // projection — 60 bits of its md5 (15 hex chars, fits a signed
    // long) is what shuffles
    val seeds = toks.select(col("__id"),
      posexplode(transform(
        sequence(lit(0), size(col("__w")) - n),
        i => conv(substring(md5(
          concat_ws(" ", slice(col("__w"), i + 1, lit(n)))), 1, 15), 16, 10)
          .cast("long"))).as(Seq("pos", "fp")))
    val dup = seeds.groupBy("fp")
      .agg(min("__id").as("__lo"), max("__id").as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .select("fp")
    val hits = seeds.join(dup, Seq("fp"), "left_semi")
    // islands over seed positions, per doc (window width bounded by
    // document length, never corpus size)
    val wDoc = Window.partitionBy("__id").orderBy("pos")
    val spans = hits
      .withColumn("__prev", lag("pos", 1).over(wDoc))
      .withColumn("__brk",
        when(col("__prev").isNull || col("pos") - col("__prev") > n, 1L)
          .otherwise(0L))
      .withColumn("__run", sum(col("__brk")).over(wDoc))
      .groupBy(col("__id"), col("__run"))
      .agg(min("pos").as("span_start"),
        (max(col("pos")) - min(col("pos")) + n).cast("long").as("span_len"))
      .filter(col("span_len") >= minSpan)
    spans.select(col("__id").as(idCol), col("span_start").cast("long"),
      col("span_len"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication scoped to k-means clusters. The published recipe:
    * cluster the embedding space, compute pairwise cosine only WITHIN
    * each cluster, and in every duplicate pair keep the member
    * FURTHEST from its cluster centroid (retaining "edge" examples
    * preserves diversity; the near-centroid copy is the redundant
    * one).
    *
    * Determinism / oracle replay: clustering is the md5-init
    * exact-decimal Lloyd loop (`Similarity.lloydCents` — the q_l26
    * machinery), centroid distances are the same sequential squared-L2
    * the assignment uses, and pair scores are round(cosine, 3) exactly
    * as q_l7 — so DuckDB replays every cluster, distance, pair, and
    * keep/drop decision value-for-value. Ties on centroid distance
    * (exact copies) drop the higher id.
    *
    * Scale shape — the reason SemDeDup exists: the pairwise stage is
    * bounded per cluster, and the recipe scales k with corpus size so
    * the expected cluster size |C|/k stays CONSTANT — total pair work
    * is O(|C| · avg_cluster_size), linear in the corpus, one shuffle
    * on cluster id. The centroid array (k×dim doubles) rides the UDF
    * closure exactly like the IVF router; at k beyond closure size,
    * swap for the same broadcast-join routing IVF uses — the keeper
    * semantics are unchanged.
    *
    * Returns one row per input vector: (idCol, cluster, kept 1/0).
    */
  def semDedup(
      vectors: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int, tau: Double, dim: Int = 64): DataFrame = {
    val v = vectors
      .select(col(idCol).as("__id"), Similarity.asDouble(col(embCol)).as("__e"))
      .localCheckpoint(false) // scanned per Lloyd iteration + twice for pairs
    val cs = Similarity.lloydCents(v, k, iters, dim)
    val asgUdf = udf((e: Seq[Double]) => Similarity.nearestIdxDist(e, cs))
    val asg = v.withColumn("__cd", asgUdf(col("__e")))
      .select(col("__id"), col("__cd._1").as("cluster"),
        col("__cd._2").as("__cent_dist"), col("__e"))
      .localCheckpoint(false) // both sides of the pair join + the output
    val a = asg.select(col("cluster"), col("__id").as("__ida"),
      col("__cent_dist").as("__da"), col("__e").as("__ea"))
    val b = asg.select(col("cluster"), col("__id").as("__idb"),
      col("__cent_dist").as("__db"), col("__e").as("__eb"))
    val losers = a.join(b, Seq("cluster"))
      .filter(col("__ida") < col("__idb"))
      .filter(round(Similarity.cosine(col("__ea"), col("__eb")), 3) >= tau)
      // keep the far-from-centroid member; dist ties drop the higher id
      .select(when(col("__da") < col("__db"), col("__ida"))
        .when(col("__db") < col("__da"), col("__idb"))
        .otherwise(greatest(col("__ida"), col("__idb"))).as("__id"))
      .distinct()
    asg.join(losers.withColumn("__drop", lit(1)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cluster"),
        when(col("__drop").isNotNull, lit(0)).otherwise(lit(1)).as("kept"))
  }
}
