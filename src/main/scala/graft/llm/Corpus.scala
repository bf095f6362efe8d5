package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators a training-data pipeline needs after
  * cleaning/dedup: deterministic train/validation/test splits,
  * token-budget shard packing, PII redaction, and benchmark
  * decontamination. All four are pure dataflow over the documents
  * table — no reference counterpart (the reference stops at the
  * warehouse); they extend the engine the way the LLM dedup family
  * does, with DuckDB-replayable determinism (md5-derived hashes, no
  * RNG) so every query is value-checked end to end.
  */
object Corpus {

  /** Uniform [0,1) fraction from the first 32 md5 bits of the id —
    * the standard stable-split trick: assignment is a pure function of
    * the document id, so re-running the pipeline (or adding documents)
    * never moves an existing doc across splits. md5 (not xxhash64)
    * so the DuckDB oracle replays it bit-for-bit.
    */
  def hashFraction(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") /
      lit(4294967296.0) // 2^32

  /** Deterministic split assignment. `bounds` are (name, upper-bound)
    * pairs with strictly increasing bounds in (0,1); ids whose hash
    * fraction falls below the first bound take the first name, below
    * the second the second, and so on; `lastName` catches the rest.
    * Callers pass explicit bounds (0.9, 0.95, ...) rather than weights
    * so the literals compared in Spark and in any SQL replay are the
    * SAME doubles — deriving bounds by summing weights would make the
    * two engines disagree on documents within one ulp of a boundary.
    *
    * Scale shape: stateless per-row map — no shuffle, no state, safe
    * at any corpus size and trivially codegen'd.
    */
  def assignSplit(
      docs: DataFrame, idCol: String,
      bounds: Seq[(String, Double)], lastName: String): DataFrame = {
    require(bounds.nonEmpty, "assignSplit: need at least one bound")
    require(bounds.map(_._2) == bounds.map(_._2).sorted &&
      bounds.forall(b => b._2 > 0.0 && b._2 < 1.0),
      s"assignSplit: bounds must be increasing within (0,1), got $bounds")
    val frac = hashFraction(col(idCol))
    val expr = bounds.reverse.foldLeft(lit(lastName): Column) {
      case (acc, (name, ub)) => when(frac < lit(ub), lit(name)).otherwise(acc)
    }
    docs.withColumn("split", expr)
  }

  /** Deterministic seeded global shuffle of a corpus into training
    * loader files — the "shuffle once, stream sequentially" step an
    * epoch-based trainer needs (random access over a 100 TB corpus is
    * not an option, so the seeded hash order IS the permutation, and
    * re-keying the seed per epoch gives a fresh one without any state).
    * Each item's file is the low 32 md5 bits of `seed:id` mod
    * `nFiles`; its position inside the file follows the full md5 hex
    * order (id tiebreak) — reproducible from the seed alone in any
    * engine, no RNG state anywhere.
    *
    * Scale shape: one hash bucket exchange + a per-file window.
    * `nFiles` here is the test-scale stand-in for a deployment's
    * loader-file count, which grows with the corpus
    * (total_bytes / file_size), so per-file windows keep their
    * parallelism at 100 TB; nothing is globally ordered.
    */
  def globalShuffle(docs: DataFrame, idCol: String, seed: String,
      nFiles: Int): DataFrame = {
    require(nFiles > 0, s"globalShuffle: nFiles must be positive, got $nFiles")
    val withFile = docs
      .withColumn("__h", md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
      .withColumn("file_id",
        pmod(conv(substring(col("__h"), 1, 8), 16, 10).cast("long"),
          lit(nFiles.toLong)))
    val w = Window.partitionBy(col("file_id")).orderBy(col("__h"), col(idCol))
    withFile.withColumn("pos", row_number().over(w).cast("long")).drop("__h")
  }

  /** Incremental pack-append: new arrivals extend the packed corpus
    * WITHOUT touching the standing shards (the q_l22
    * never-reshuffle-the-corpus rule, applied to packing). The caller
    * passes the standing corpus's total token count; arrivals are
    * arranged by the same seeded md5 order among themselves and their
    * global offsets continue from `baseTokens`, so the first arrivals
    * fill the tail of the last partial shard and numbering proceeds
    * from there — a training loader sees one continuous shard
    * sequence across any number of append batches. At 100 TB the
    * append cost is |arrivals|, never |corpus|.
    */
  def packShardsAppend(
      docs: DataFrame, idCol: String, textCol: String,
      tokensPerShard: Long, baseTokens: Long): DataFrame = {
    require(baseTokens >= 0, s"packShardsAppend: baseTokens must be >= 0, got $baseTokens")
    packShards(docs, idCol, textCol, tokensPerShard)
      .withColumn("token_start", col("token_start") + lit(baseTokens))
      .withColumn("shard_id",
        floor(col("token_start") / lit(tokensPerShard.toDouble)))
  }

  /** GDPR-style delete propagation through a packed corpus: given the
    * deterministic packing plan and a delete set, identify the shards
    * holding any deleted document and account ONLY those shards as
    * rebuilt (survivors keep their order and shard assignment; the
    * boundaries of untouched shards never move) — at 100 TB you
    * rewrite the affected shard FILES, never repack the corpus, so
    * the cost is |affected shards|, not |corpus|. A shard whose every
    * member is deleted stays in the ledger with zero counts (its file
    * is emptied, not renumbered — downstream loaders keep stable
    * shard ids).
    *
    * Returns one row per shard: (shard_id, status kept|rebuilt,
    * n_items, shard_tokens, id_sum).
    *
    * Scale shape: the plan is the one packShards range exchange; the
    * delete set joins as a broadcast/semi-join; the affected-shard
    * list (typically tiny) broadcasts back. Nothing rescans untouched
    * shards beyond the one aggregation pass.
    */
  def repackAfterDelete(
      docs: DataFrame, idCol: String, textCol: String,
      tokensPerShard: Long, deletes: DataFrame): DataFrame = {
    val plan = packShards(docs, idCol, textCol, tokensPerShard)
      .localCheckpoint(false) // consumed by the kept AND rebuilt branches
    val del = deletes.select(col(idCol)).distinct()
    val affected = plan.join(del, Seq(idCol), "left_semi")
      .select("shard_id").distinct()
      .localCheckpoint(false) // tiny: |affected shards| rows, read 2x
    def ledger(rows: DataFrame) = rows.groupBy("shard_id")
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_tokens")).cast("long").as("shard_tokens"),
        sum(col(idCol)).cast("long").as("id_sum"))
    val kept = ledger(plan.join(broadcast(affected), Seq("shard_id"), "left_anti"))
      .withColumn("status", lit("kept"))
    val rebuilt = affected
      .join(ledger(plan.join(broadcast(affected), Seq("shard_id"), "left_semi")
          .join(del, Seq(idCol), "left_anti")),
        Seq("shard_id"), "left")
      .select(col("shard_id"),
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        coalesce(col("shard_tokens"), lit(0L)).as("shard_tokens"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum"))
      .withColumn("status", lit("rebuilt"))
    kept.unionByName(rebuilt)
      .select("shard_id", "status", "n_items", "shard_tokens", "id_sum")
      .orderBy("shard_id")
  }

  /** The pre-checkpoint arranged stage of `packShards` — split out so
    * PlanSpec can assert the one-range-exchange shape (the lazy
    * checkpoint hides it from the downstream executed plan, same as
    * the fused dim prep's assertion).
    */
  private[graft] def packArranged(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .withColumn("__ord", md5(col(idCol).cast("string")))
      .repartitionByRange(col("__ord"), col(idCol))
      .sortWithinPartitions(col("__ord"), col(idCol))

  /** Pack documents into training shards of ~`tokensPerShard`
    * whitespace tokens: documents are laid out in a deterministic
    * pseudo-random global order (md5 of the id — co-locating a
    * source's docs in one shard would bias training batches), and
    * shard_id = floor(exclusive-prefix-sum(tokens) / budget). Every
    * shard except the last then holds ≥ budget tokens' worth of docs
    * (a doc straddling a boundary lands in the shard its first token
    * falls in), and the assignment is a pure function of the corpus —
    * independent of cluster layout, reproducible across runs, the
    * property that makes training resumable.
    *
    * Scale shape: one range shuffle into contiguous hash-order
    * partitions (pinned by a lazy localCheckpoint so the boundaries
    * cannot re-sample), a per-partition token-total aggregate whose
    * cumulative window runs over ≤ #partitions rows (the offsets sum
    * tokens, not rows, so `StableId`'s row-count offsets do not apply),
    * and one partition-preserving hash exchange for the
    * within-partition running sum. Nothing windows
    * over the full data in one task. (A zero-extra-shuffle variant —
    * greedy per-partition packing with pid-prefixed shard ids — is the
    * production choice when global determinism doesn't matter; this
    * one is deterministic AND replayable by the SQL oracle.)
    */
  def packShards(
      docs: DataFrame, idCol: String, textCol: String,
      tokensPerShard: Long): DataFrame = {
    require(tokensPerShard > 0, s"packShards: budget must be positive, got $tokensPerShard")
    val arranged = packArranged(docs, idCol, textCol)
      .localCheckpoint(false)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
    val offsets = arranged.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__ptok"))
      .withColumn("__off",
        coalesce(sum(col("__ptok")).over(Window.orderBy(col("__pid"))) - col("__ptok"), lit(0L)))
      .select(col("__pid"), col("__off"))
    val w = Window.partitionBy(col("__pid")).orderBy(col("__mid"))
    arranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn("__run", coalesce(sum(col("n_tokens")).over(w) - col("n_tokens"), lit(0L)))
      // token_start = the doc's global exclusive token offset — kept in
      // the output because the packing BOUNDARY MAP (where each doc
      // begins inside its shard/context window) is what a training
      // loader actually consumes (q_l35)
      .withColumn("token_start", col("__off") + col("__run"))
      .withColumn("shard_id",
        floor(col("token_start") / lit(tokensPerShard.toDouble)))
      .drop("__pid", "__mid", "__off", "__run", "__ord")
  }

  /** Physically materialize the [[packShards]] plan: one parquet file
    * per shard under `outDir/shard_id=N/`, plus a sibling
    * `<outDir>_manifest` JSON (per shard: doc count, token total,
    * id checksum, global token span) — the artifact a training loader
    * actually opens. One-file-per-shard holds because the hash
    * repartition on shard_id puts every row of a shard in exactly one
    * task before the partitioned write; at 100 TB the shard count
    * (total_tokens / budget) dwarfs the task count, so tasks carry
    * many whole shards each and file sizes stay budget-bounded by
    * construction. Returns the read-back of the written files so
    * callers verify the roundtrip, not the plan.
    */
  def writeShardFiles(docs: DataFrame, idCol: String, textCol: String,
      tokensPerShard: Long, outDir: String,
      checksumCol: Option[String] = None): DataFrame = {
    writeShardFilesLedger(docs, idCol, textCol, tokensPerShard, outDir,
      checksumCol)
    // partition-dir values read back as inferred ints — restore the
    // plan's long so downstream comparisons are type-exact
    docs.sparkSession.read.parquet(outDir)
      .withColumn("shard_id", col("shard_id").cast("long"))
  }

  /** Schema of the manifest JSON written next to the shard files —
    * [[readManifest]] passes it explicitly: schema inference over
    * JSON is a full extra Spark job per read, pure floor at any scale.
    */
  private val ManifestSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      Seq("shard_id", "n_docs", "shard_tokens", "id_sum", "start_min",
        "end_max").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType)))

  /** The manifest beside `outDir` (see [[writeShardFilesLedger]]), its
    * fields renamed `__m_*` so it joins a files ledger on shard_id
    * for [[manifestOk]].
    */
  def readManifest(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(ManifestSchema).json(outDir + "_manifest")
      .select(col("shard_id"), col("n_docs").as("__m_items"),
        col("shard_tokens").as("__m_tokens"), col("id_sum").as("__m_ids"),
        col("start_min").as("__m_start"), col("end_max").as("__m_end"))

  /** Over a [[ledgerOfFiles]] row joined to [[readManifest]]: every
    * ledger field equals its manifest field; false when either side
    * is missing.
    */
  def manifestOk: Column = coalesce(
    col("n_items") === col("__m_items") &&
      col("shard_tokens") === col("__m_tokens") &&
      col("id_sum") === col("__m_ids") &&
      col("start_min") === col("__m_start") &&
      col("end_max") === col("__m_end"), lit(false))

  /** [[writeShardFiles]] variant returning the files-recomputed
    * LEDGER instead of the row-level readback: one aggregation pass
    * over the written files serves both the manifest write and the
    * caller's verification (q_s24/q_s25 previously re-aggregated the
    * readback a second time — a duplicate full-scan action, pure
    * sequential-job floor). The ledger is localCheckpoint-pinned: the
    * manifest write materializes it, the caller's verify re-reads the
    * checkpoint, and the files are scanned exactly once.
    *
    * Ledger columns: shard_id, n_items (row count), n_ids (distinct
    * checksum ids — equals n_items when ids are unique per row),
    * shard_tokens, id_sum, start_min, end_max.
    */
  def writeShardFilesLedger(docs: DataFrame, idCol: String,
      textCol: String, tokensPerShard: Long, outDir: String,
      checksumCol: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    packShards(docs, idCol, textCol, tokensPerShard)
      .repartition(col("shard_id"))
      // the shard layout is a full-replace snapshot: under the
      // session's dynamic partition-overwrite mode a re-pack with a
      // larger budget (fewer shards) would leave STALE shard dirs a
      // loader would happily read — force static (truncate-all) here
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("shard_id").parquet(outDir)
    val ledger = ledgerOfFiles(spark, outDir, checksumCol.getOrElse(idCol))
      .localCheckpoint(false) // scanned once; manifest + verify reuse
    ledger
      .select(col("shard_id"), col("n_items").as("n_docs"),
        col("shard_tokens"), col("id_sum"), col("start_min"),
        col("end_max"))
      .coalesce(1) // manifest is shard-count-sized metadata, one file
      .write.mode("overwrite").json(outDir + "_manifest")
    ledger
  }

  /** The per-shard aggregate recomputed FROM THE FILES of a shard
    * layout — the "what is actually on disk" side of every manifest
    * check. One scan, shard-keyed partial aggregation.
    * `ck` is the manifest checksum column (see [[writeShardFiles]]).
    */
  def ledgerOfFiles(spark: SparkSession, outDir: String,
      ck: String, tolerateCorrupt: Boolean = false): DataFrame =
    // partition-dir values read back as inferred ints — restore the
    // plan's long so downstream comparisons are type-exact.
    // tolerateCorrupt (detection path only): a truncated/bit-rotted
    // parquet file has a dead footer and would fail the whole scan —
    // ignoreCorruptFiles turns it into zero rows, so the damaged
    // shard surfaces as a ledger-vs-manifest mismatch instead of an
    // unreadable corpus. Never set on the post-write verify read:
    // there, a corrupt file IS the error.
    spark.read
      .option("ignoreCorruptFiles", tolerateCorrupt.toString)
      .parquet(outDir)
      .withColumn("shard_id", col("shard_id").cast("long"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col(ck)).as("n_ids"),
        sum(col("n_tokens")).cast("long").as("shard_tokens"),
        sum(col(ck)).cast("long").as("id_sum"),
        min(col("token_start")).cast("long").as("start_min"),
        max(col("token_start") + col("n_tokens")).cast("long").as("end_max"))

  /** Shards whose on-disk files no longer match the manifest — lost
    * dirs, corrupted/truncated parquet (dead footer → the
    * corrupt-tolerant read yields zero rows for that file), and
    * shards the manifest never heard of. Full-outer join of the
    * files ledger and the manifest on shard_id; any side-null or any
    * field mismatch marks the shard damaged. Returns the damaged
    * shard_ids (tiny: |damage| rows — the caller collects them to
    * drive a targeted [[rebuildShards]], bounded driver control
    * flow).
    */
  def detectDamagedShards(spark: SparkSession, outDir: String,
      ck: String): DataFrame =
    ledgerOfFiles(spark, outDir, ck, tolerateCorrupt = true)
      .join(readManifest(spark, outDir), Seq("shard_id"), "full_outer")
      .filter(not(manifestOk))
      .select("shard_id")

  /** Targeted shard rebuild — the repair half of the manifest check:
    * re-derive the deterministic packing plan from the source corpus
    * (the assignment is a pure function of the corpus, so the damaged
    * shards' contents are exactly recomputable), keep ONLY the
    * damaged shard_ids, and dynamic-partition-overwrite just those
    * dirs. Untouched shards are never rewritten — the WRITE cost is
    * |damaged shards|, while plan re-derivation is one full corpus
    * scan + range shuffle + prefix sum (the same honest accounting as
    * [[repackAfterDelete]]: read is corpus-bounded, write is
    * damage-bounded). The manifest is NOT rewritten: the layout must
    * converge back to it.
    */
  def rebuildShards(docs: DataFrame, idCol: String, textCol: String,
      tokensPerShard: Long, outDir: String,
      shardIds: Seq[Long]): Unit = {
    require(shardIds.nonEmpty, "rebuildShards: empty damage set — nothing to rebuild")
    packShards(docs, idCol, textCol, tokensPerShard)
      .filter(col("shard_id").isin(shardIds: _*))
      .repartition(col("shard_id"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard_id").parquet(outDir)
  }

  // Patterns shared with the SQL oracle: RE2-safe (no backrefs, no
  // lookarounds) so Java regex and DuckDB's RE2 agree on every match.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9 ().-]{6,}[0-9]"

  /** Mask emails then phone-shaped digit runs. Email first: an email's
    * local part can contain digits and would otherwise be half-eaten
    * by the phone pattern. Pure per-row expression — scales like any
    * map; for real pipelines the pattern set grows (SSNs, IBANs, ...)
    * but the shape stays a replace chain.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** True when `c` contains any maskable span. */
  def hasPii(c: Column): Column = redactPii(c) =!= c

  /** k-anonymity enforcement over a quasi-identifier tuple: a row is
    * releasable only when at least `k` rows share its quasi-id values
    * (so no quasi-id combination singles out fewer than k people —
    * the standard privacy bar before a corpus with demographic-ish
    * columns leaves the pipeline). One pass: a window count over the
    * quasi-id partition tags each row with its group size, and
    * `__k_suppressed` marks the rows a release must drop.
    *
    * Scale shape: ONE hash-partitioned window on the quasi-id tuple —
    * identical cost to the keep-first dedup family; no join, no
    * second scan. A skewed quasi-id (one giant (lang, source) group)
    * only makes a group that is safely over k — the window's count is
    * a partial-agg-friendly running size, and at 100 TB the same
    * check runs as groupBy(quasi-ids).count + broadcast of the
    * (tiny) under-k group list if the row-level tag is not needed.
    */
  def kAnonymize(docs: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    val w = Window.partitionBy(quasiCols.map(col): _*)
    docs
      .withColumn("__k_group_n", count(lit(1)).over(w))
      .withColumn("__k_suppressed", col("__k_group_n") < k)
  }

  /** Deterministic stratified resampling — the source/language MIXING
    * step of corpus assembly (C4/MassiveText-style): each stratum
    * (source, language, quality bucket, ...) gets a sampling rate;
    * rate < 1 downsamples (keep the doc iff its hash fraction clears
    * the rate), rate > 1 upsamples (floor(rate) whole copies plus one
    * more for the fractional remainder, again by hash fraction). The
    * decision is a pure function of the id, so the mixed corpus is
    * reproducible and stable under corpus growth — no RNG, no
    * sampling-by-partition skew. Output repeats each kept doc once per
    * copy with a 1-based `copy_id`, ready for shard packing.
    *
    * Scale shape: per-row expression + generator explode — no shuffle,
    * no state; upsampling multiplies rows exactly like the fact-table
    * ×5-day explode (a generator inside codegen, never a materialized
    * loop). Strata missing from `rates` default to 1.0 (pass-through).
    */
  def resampleStrata(
      docs: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double]): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r.isFinite),
      s"resampleStrata: rates must be finite and >= 0, got $rates")
    val rate = rates.foldLeft(lit(1.0)) { case (acc, (stratum, r)) =>
      when(col(strataCol) === lit(stratum), lit(r)).otherwise(acc)
    }
    val nCopies = (floor(rate) +
      when(hashFraction(col(idCol)) < (rate - floor(rate)), 1L).otherwise(0L))
      .cast("long")
    docs.withColumn("__n", nCopies)
      .filter(col("__n") > 0)
      .withColumn("copy_id", explode(sequence(lit(1L), col("__n"))))
      .drop("__n")
  }

  /** Benchmark decontamination: ids of corpus documents sharing at
    * least one word n-gram with any benchmark/eval document — the
    * standard guard against test-set leakage into training data
    * (n-gram collision flagging, as popularized by GPT-3/C4 dataset
    * reports). Exact, not sketched: the benchmark side is an eval
    * suite (thousands of docs), so its distinct-shingle set is tiny
    * next to the corpus and AQE broadcasts it — the corpus streams
    * through one semi-join with no shuffle of the corpus itself, then
    * the surviving (id) rows dedup. At 100 TB the corpus side stays a
    * single scan; only flagged ids (bounded by corpus row count,
    * realistically a small fraction) reach the dedup exchange.
    */
  def contaminatedIds(
      corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    val corpusSh = corpus.select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("__s"))
    val benchSh = benchmark
      .select(explode(Dedup.shingles(col(benchTextCol), n)).as("__s"))
      .distinct()
    corpusSh.join(benchSh, Seq("__s"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Sliding-window chunking with overlap: split each document into
    * chunks of `chunkTokens` whitespace tokens, successive chunks
    * starting `chunkTokens − overlap` tokens apart — the standard
    * long-document → context-window preprocessing (every long-context
    * training recipe chunks with overlap so no span is seen only at a
    * window edge). Chunk starts are 0, stride, 2·stride, … up to the
    * last start < n_tokens, so every token lands in ≥ 1 chunk and the
    * final chunk may be short.
    *
    * Scale shape: pure per-row expressions + one generator explode —
    * no shuffle, no state, no UDF; the token array is built once per
    * document and sliced per chunk inside codegen. Output size is
    * input tokens × (1 + overlap/stride) — the explode multiplies rows
    * exactly like the fact ×5-day explode, a generator, never a loop.
    * Empty/whitespace-only documents produce no chunks.
    */
  def chunkDocs(
      docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"chunkDocs: need 0 <= overlap < chunkTokens, got chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val toks = TextAnalysis.tokens(col(textCol))
    docs
      .filter(trim(col(textCol)).isNotNull && trim(col(textCol)) =!= "")
      .withColumn("__w", toks)
      .withColumn("__n", size(col("__w")))
      .withColumn("chunk_id",
        explode(sequence(lit(0L), floor((col("__n") - 1) / stride).cast("long"))))
      .withColumn("token_start", col("chunk_id") * stride)
      .select(col(idCol),
        col("chunk_id"),
        col("token_start"),
        least(lit(chunkTokens), col("__n") - col("token_start")).as("n_tokens"),
        array_join(slice(col("__w"), (col("token_start") + 1).cast("int"),
          lit(chunkTokens)), " ").as("chunk_text"))
  }

  /** C4-style cross-document line deduplication (Raffel et al. 2020
    * §2.2 — the open implementation dedups exact lines corpus-wide,
    * keeping one occurrence). Keep-FIRST semantics: a line occurrence
    * survives iff it is the (min doc id, min position) occurrence of
    * that exact line text; lines shorter than `minChars` never
    * participate (C4 only dedups substantial spans — a length floor
    * keeps one-word boilerplate out of the key space). Documents are
    * reassembled in original line order; a doc whose every line was a
    * later duplicate yields the empty string.
    *
    * Scale: one hash-partitioned groupBy on the line text whose winner
    * is a min-STRUCT aggregate (partial-aggregated map-side; NOT a
    * window — no per-key ordering state), then reassembly as a groupBy
    * on the doc id with a positional sort_array. Hot identical lines
    * (the reason minChars exists) cost one combiner row per partition,
    * not a shuffle of every occurrence.
    *
    * Returns (idCol, n_lines, n_kept, text_out).
    */
  def lineDedup(
      docs: DataFrame, idCol: String, textCol: String,
      minChars: Int): DataFrame = {
    val lines = docs.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val winners = lines
      .filter(length(col("line")) >= minChars)
      .groupBy("line")
      .agg(min(struct(col("__id"), col("pos"))).as("__w"))
      .select(col("line"), col("__w.__id").as("__wid"), col("__w.pos").as("__wpos"))
    val kept = lines.join(winners, Seq("line"), "left")
      .filter(col("__wid").isNull ||
        (col("__wid") === col("__id") && col("__wpos") === col("pos")))
    docs.select(col(idCol).as("__id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(
        kept.groupBy("__id").agg(
          count(lit(1)).as("n_kept"),
          array_join(
            transform(sort_array(collect_list(struct(col("pos"), col("line")))),
              s => s.getField("line")), "\n").as("text_out")),
        Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_out"), lit("")).as("text_out"))
  }

  /** DSIR-style data selection via importance resampling (Xie et al.
    * 2023, arXiv:2302.03169): score each raw document by the
    * log-likelihood ratio of its hashed unigram features under a
    * target-domain bag-of-words model vs the raw-corpus model. Hashed
    * features are md5-bucketed tokens (`buckets` cells — the paper's
    * hashed n-grams at n=1) with add-1 smoothing on both models; the
    * caller ranks/filters on the returned score.
    *
    * Determinism: bucket counts are exact integers; each bucket's
    * ratio ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B)) is the same
    * fixed-order double in both engines, rounded to 12dp; the per-doc
    * score Σ count_b·ratio_b accumulates as DECIMAL(28,12), so the
    * reduction order cannot leak — selection on the score is exact.
    *
    * Scale: two map-side-combined groupBys onto ≤`buckets` cells (the
    * models), the ratio table broadcast back onto the doc-token frame,
    * one partial agg per doc. No window, no all-pairs; `buckets`
    * bounds every model-side intermediate regardless of corpus size.
    *
    * Returns (idCol, n_tokens, score DECIMAL(28,12)).
    */
  def dsirScores(
      docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame = {
    val b = lit(buckets)
    val toks = docs.select(col(idCol).as("__id"), isTarget.as("__t"),
        explode(TextAnalysis.tokens(trim(col(textCol)))).as("__tok"))
      .withColumn("__b",
        pmod(conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long"), b))
    val cells = toks.groupBy("__b").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__tc"),
      count(lit(1)).as("__rc"))
    val totals = cells.agg(sum("__tc").as("__tt"), sum("__rc").as("__rt")).collect()(0) // 1-row aggregate
    val (tt, rt) = (totals.getLong(0), totals.getLong(1))
    val ratios = cells.select(col("__b"),
      round(log((col("__tc") + 1).cast("double") / lit(tt + buckets).cast("double")) -
            log((col("__rc") + 1).cast("double") / lit(rt + buckets).cast("double")),
        12).cast(org.apache.spark.sql.types.DecimalType(28, 12)).as("__lr"))
    toks.join(broadcast(ratios), Seq("__b"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lr")).as("score"))
      .select(col("__id").as(idCol), col("n_tokens"), col("score"))
  }

  /** Data-constrained token-budget planner — the "how many epochs of
    * each source" allocation of the data-constrained scaling regime
    * (Muennighoff et al. 2023: repeating good data beats more bad
    * data, up to ~4 epochs): budget flows to sources in proportion to
    * their available tokens, each source's allocation is capped at
    * its `cap` (tierEpochs × avail, the caller's repetition policy),
    * and budget freed by capped sources is re-apportioned among the
    * uncapped over `rounds` water-filling rounds.
    *
    * ALL arithmetic is 64-bit integer multiply-then-floor-divide —
    * never a float — so the plan is bit-identical in any engine and
    * insensitive to reduction order (the q_l72 oracle replays it in
    * DuckDB). Allocations are monotone non-decreasing across rounds and
    * never exceed `budget` (each round hands out at most the remaining
    * budget).
    *
    * Runs driver-side: the input is one row per source by
    * construction, so callers collect their |sources|-row stats once
    * (q_l72, the q_l21b curation chain) and the rounds cost no Spark
    * job at any corpus scale. CorpusSpec pins it bit-identical to the
    * distributed form it replaced (`EpochMixDistributed`, test-side).
    *
    * `stats` rows are (source, avail > 0, cap); returns
    * (source, avail, alloc) in input order.
    */
  def epochMixPlanLocal(stats: Seq[(String, Long, Long)], budget: Long,
      rounds: Int): Seq[(String, Long, Long)] = {
    require(rounds >= 1, "epochMixPlan needs at least one round")
    var alloc = stats.map(_ => 0L)
    for (_ <- 1 to rounds) {
      val sumw = stats.zip(alloc)
        .map { case ((_, av, cap), a) => if (a < cap) av else 0L }.sum
      val tot = alloc.sum
      alloc = stats.zip(alloc).map { case ((_, av, cap), a) =>
        val give =
          if (a < cap && sumw > 0) math.max((budget - tot) * av / sumw, 0L)
          else 0L
        math.min(cap, a + give)
      }
    }
    stats.zip(alloc).map { case ((src, av, _), a) => (src, av, a) }
  }

  /** Frequency-based boilerplate line removal — the CCNet/RefinedWeb
    * "drop lines repeated across many documents of the same site"
    * pass (headers, cookie banners, nav chrome): a line is boilerplate
    * within a source when it occurs in at least `minDocs` documents
    * AND in at least `pctNum/pctDen` of the source's documents. The
    * share test is exact integer cross-multiplication (df·pctDen ≥
    * n_docs·pctNum) — never a float — so the boilerplate set is
    * engine-independent by construction.
    *
    * `lines` is the exploded (source, doc, line) frame. Returns one
    * row per source: document count, line instances, distinct
    * boilerplate lines, removed instances, and the removed share.
    *
    * Scale shape: two key-partitioned aggregations — doc-frequency on
    * (source, line), whose cardinality grows with the corpus, then a
    * per-source rollup of at most |sources| rows joined broadcast.
    * No window, nothing all-pairs, no driver collect.
    */
  /** The removable (source, line) set under the same rule — what the
    * REWRITE form of the boilerplate pass anti-joins against (q_l21b's
    * chain); [[boilerplateLines]] is the reporting rollup of this set.
    * Returns (source, __line, __inst).
    */
  def boilerplateSet(
      lines: DataFrame, srcCol: String, docCol: String, lineCol: String,
      minDocs: Int, pctNum: Int, pctDen: Int): DataFrame = {
    val src = col(srcCol); val doc = col(docCol); val line = col(lineCol)
    val srcDocs = lines.groupBy(src.as("source"))
      .agg(countDistinct(doc).as("n_docs"))
    val df = lines.groupBy(src.as("source"), line.as("__line"))
      .agg(countDistinct(doc).as("__df"), count(lit(1)).as("__inst"))
    df.join(broadcast(srcDocs), "source")
      .filter(col("__df") >= minDocs &&
        col("__df") * pctDen >= col("n_docs") * pctNum)
      .select(col("source"), col("__line"), col("__inst"))
  }

  def boilerplateLines(
      lines: DataFrame, srcCol: String, docCol: String, lineCol: String,
      minDocs: Int, pctNum: Int, pctDen: Int): DataFrame = {
    val src = col(srcCol); val doc = col(docCol)
    val srcDocs = lines.groupBy(src.as("source"))
      .agg(countDistinct(doc).as("n_docs"), count(lit(1)).as("n_lines"))
    val boiler = boilerplateSet(lines, srcCol, docCol, lineCol, minDocs, pctNum, pctDen)
      .groupBy("source")
      .agg(count(lit(1)).as("__n_boiler"), sum("__inst").as("__n_removed"))
    srcDocs.join(boiler, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_lines"),
        coalesce(col("__n_boiler"), lit(0L)).as("n_boiler"),
        coalesce(col("__n_removed"), lit(0L)).as("n_removed"),
        round(coalesce(col("__n_removed"), lit(0L)).cast("double") / col("n_lines"), 6)
          .as("removed_share"))
      .orderBy("source")
  }

  /** FineWeb/RefinedWeb-style sequential filter cascade with per-rule
    * attrition accounting: rules apply IN ORDER (a document reaches
    * rule k only by passing rules 1..k-1), and the report says what
    * each rule cost — the number every curation writeup publishes so a
    * threshold change can be attributed to the stage that moved.
    *
    * Scale shape: the cumulative pass flags are plain boolean
    * conjunctions computed per row in ONE projection (no join or
    * shuffle between stages), so the whole funnel is a single corpus
    * scan feeding one map-side-combined aggregation whose output is
    * `rules.length` rows — at 100 TB this is exactly one pass over the
    * data no matter how many rules the cascade carries.
    *
    * `docs` must already carry the columns the rule predicates read;
    * rule names land verbatim in the `rule` output column.
    */
  def attritionFunnel(docs: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "attritionFunnel needs at least one rule")
    val cumulative = rules.indices.map(i => rules.take(i + 1).map(_._2).reduce(_ && _))
    val aggCols = count(lit(1)).as("__s0") +:
      cumulative.zipWithIndex.map { case (c, i) =>
        sum(when(c, 1L).otherwise(0L)).as(s"__s${i + 1}")
      }
    val stackArgs = rules.zipWithIndex.map { case ((name, _), i) =>
      s"${i + 1}, '$name', __s$i, __s$i - __s${i + 1}, __s${i + 1}"
    }.mkString(", ")
    docs.agg(aggCols.head, aggCols.tail: _*)
      .select(expr(
        s"stack(${rules.length}, $stackArgs) as (stage, rule, n_in, n_drop, n_out)"))
      .orderBy("stage")
  }

  /** Corpus data-contract checks, one row per check: structural
    * integrity (empty text, metadata drift, key and content dups) plus
    * policy thresholds (short docs, non-primary-language share) — the
    * expectation suite a pipeline runs BEFORE spending compute on a
    * drop. One aggregation pass; the two exact distinct counts are the
    * contract's semantics (a 100 TB deployment would swap them for the
    * HLL sketch family when ±2% suffices — see Sketches.hll).
    */
  def contractChecks(docs: DataFrame, shortBelow: Int, primaryLang: String): DataFrame =
    docs
      .agg(
        count(lit(1)).as("n_checked"),
        sum(when(col("text").isNull || trim(col("text")) === "", 1L).otherwise(0L))
          .as("empty_text"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("chars_mismatch"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("dup_doc_id"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("dup_text"),
        sum(when(col("n_chars") < shortBelow, 1L).otherwise(0L)).as("short_text"),
        sum(when(col("lang") =!= primaryLang, 1L).otherwise(0L)).as("non_primary_lang"))
      .select(
        expr("""stack(6,
          'chars_mismatch', chars_mismatch,
          'dup_doc_id', dup_doc_id,
          'dup_text', dup_text,
          'empty_text', empty_text,
          'non_primary_lang', non_primary_lang,
          'short_text', short_text) as (check_name, n_violations)"""),
        col("n_checked"))
}
