package graft.queries

import graft.{Tables, TestSpark}
import graft.io.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB design properties the bench
  * can't see at small SF. If one of these regresses, the query still
  * returns right answers but would fall over at scale, so they are
  * enforced as tests, not just eyeballed once:
  *  - filters and projections reach the parquet scan (PushedFilters /
  *    ReadSchema pruning),
  *  - dimension joins broadcast (no shuffle of the fact side),
  *  - partition-column filters prune at the source (PartitionFilters),
  *  - no CartesianProduct outside the intentional tiny cross joins.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def queryPlan(name: String): String =
    plan(Registry.all.find(_.name == name).get.fn(spark, sf))

  test("scan-level filter pushdown reaches parquet (q_s3)") {
    val p = queryPlan("q_s3_scan_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_quantity") && p.contains("l_returnflag"), p)
  }

  test("column pruning: projection-only query reads only needed columns (q_p1)") {
    val p = queryPlan("q_p1_project_rename")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("o_totalprice"), s"unneeded column not pruned:\n$p")
  }

  test("dimension joins broadcast, never shuffle the fact side (q_j1)") {
    val p = queryPlan("q_j1_three_way_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$p")
  }

  test("SK resolution is a broadcast semi/inner join (q_j6)") {
    val p = queryPlan("q_j6_sk_resolution")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("partitioned write + month filter prunes partitions at the source (S10/S11)") {
    val tmp = graft.SparkUtil.scratchDir("planspec_partitions", "")
    val withMonth = Tables.orders(spark, sf)
      .withColumn("load_month", date_format(col("o_orderdate"), "yyyy-MM"))
    Snapshots.writePartitioned(withMonth, tmp)
    val pruned = Snapshots.readPartitions(spark, tmp, Seq("1997-03"))
    val p = plan(pruned)
    assert(p.contains("PartitionFilters") && p.contains("load_month"), p)
  }

  test("partition-spec evolution: BOTH generations dir-prune, gen2 on both levels (q_s34)") {
    // the q_s34 contract as a plan property: after the spec evolved
    // from (year) to (year, priority), a predicate on both columns
    // must dir-prune year at the gen-1 scan and BOTH levels at the
    // gen-2 scan — if gen 2's priority filter degrades to a data
    // filter, the finer layout bought nothing and the read scans every
    // priority dir of the year.
    val tmp = graft.SparkUtil.freshDir("planspec_specs", "") // dynamic overwrite keeps stale siblings
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy").as("year"))
    o.filter(col("o_orderkey") % 2 === 0)
      .write.mode("overwrite").partitionBy("year").parquet(s"$tmp/gen=1")
    o.filter(col("o_orderkey") % 2 === 1)
      .withColumnRenamed("o_orderpriority", "priority")
      .write.mode("overwrite").partitionBy("year", "priority").parquet(s"$tmp/gen=2")
    val g1 = plan(spark.read.parquet(s"$tmp/gen=1")
      .filter(col("year") === "1995" && col("o_orderpriority") === "1-URGENT"))
    assert(g1.contains("PartitionFilters") && g1.contains("year"), g1)
    val g2 = plan(spark.read.parquet(s"$tmp/gen=2")
      .filter(col("year") === "1995" && col("priority") === "1-URGENT"))
    val pf = g2.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("year") && pf.contains("priority"),
      s"gen-2 scan must prune BOTH partition levels:\n$g2")
  }

  test("bucketed tables join with no shuffle and no sort (co-located join)") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    // a fresh in-memory catalog can't overwrite a previous JVM's
    // orphaned managed-table location — clear it first
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("planspec_orders_b", "planspec_lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$wh/$t"))
    }
    try {
      Snapshots.writeBucketed(
        Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice"),
        "planspec_orders_b", "o_orderkey", 8)
      Snapshots.writeBucketed(
        Tables.lineitem(spark, sf).select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        "planspec_lineitem_b", "o_orderkey", 8)
      val joined = spark.table("planspec_orders_b")
        .join(spark.table("planspec_lineitem_b"), "o_orderkey")
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("q_s17 joins the bucketed pair without shuffling either side") {
    // the registered query must actually ride the stored bucket
    // layout: the ONLY exchange in its plan is the final aggregation's
    // — a join-key exchange means the bucketed scan degraded to a
    // plain shuffle join and the 100 TB co-location premise is gone
    val p = queryPlan("q_s17_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
      !p.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join re-shuffled its key:\n$p")
  }

  test("fused fact dedup + id assignment uses exactly one data exchange") {
    // Facts.dedupAssigningIds relies on the keep-latest window reusing
    // the range exchange (RangePartitioning on the window keys
    // satisfies its ClusteredDistribution): if Catalyst ever inserts a
    // second exchange, the prearranged-numbering invariant breaks AND
    // the fact path shuffles twice at scale — so the plan shape is a
    // correctness property here, not a preference. Assert on the
    // pre-checkpoint stage (the checkpoint truncates lineage): range
    // arrange + window + filter must plan ONE exchange, a range one.
    val exploded = Tables.orders(spark, sf).select(
      col("o_orderkey").as("job_sk"), to_date(col("o_orderdate")).as("date_id"),
      col("o_orderdate").cast("timestamp").as("crawled_at"),
      date_format(col("o_orderdate"), "yyyy-MM").as("load_month"))
    val p = plan(graft.dwh.Facts.keepLatest(exploded, Seq("job_sk", "date_id"), arrange = true))
    val nExchanges = "(?i)exchange".r.findAllIn(p).size
    assert(nExchanges == 1, s"expected one exchange, got $nExchanges:\n$p")
    assert(p.contains("rangepartitioning"), p)
  }

  test("fused dim prep + SK assignment plans one range exchange") {
    // Same invariant as the fact test above, for the dimension build:
    // the keep-latest-crawl window must reuse prepareDimAssigning's
    // range exchange — a second exchange would both break the
    // prearranged-numbering contract and double-shuffle every dim
    // build at scale. Asserted on the real pre-checkpoint stage.
    val staging = Tables.customer(spark, sf).select(
      col("c_name").as("job_id"), col("c_mktsegment").as("title_clean"),
      col("c_custkey").cast("timestamp").as("crawled_at"))
    val p = plan(graft.dwh.Dimensions.prepareDimArranged(staging, "job_id", "2026-08-12"))
    val nExchanges = "(?i)exchange".r.findAllIn(p).size
    assert(nExchanges == 1, s"expected one exchange, got $nExchanges:\n$p")
    assert(p.toLowerCase.contains("rangepartitioning"), p)
  }

  test("langid tokenizes once per row (q_l10 plan)") {
    // langIdMarkers accumulates all 5 marker counts in one aggregate
    // over one token array and binds the counts vector to a lambda
    // variable for the argmax — if the tokenize ever leaks back into
    // per-branch inlining (the round-5 ~30-splits-per-row shape), the
    // optimized plan shows more than one `split(`.
    val p = queryPlan("q_l10_langid")
    val nSplits = "split\\(".r.findAllIn(p).size
    assert(nSplits == 1, s"expected exactly one split( in the plan, got $nSplits:\n$p")
  }

  test("corpus-assembly maps stay shuffle-free; packShards plans one range exchange") {
    // assignSplit / resampleStrata / redactPii are pure per-row
    // dataflow — any Exchange appearing here means a 100 TB corpus
    // pays a pointless full shuffle
    val docs = Tables.documents(spark, sf)
    for ((name, df) <- Seq(
        "assignSplit" -> graft.llm.Corpus.assignSplit(
          docs, "doc_id", Seq("train" -> 0.9), "test"),
        "resampleStrata" -> graft.llm.Corpus.resampleStrata(
          docs, "doc_id", "lang", Map("en" -> 0.5, "zh" -> 2.5)),
        "redactPii" -> docs.select(graft.llm.Corpus.redactPii(col("text"))))) {
      val p = plan(df)
      assert(!p.toLowerCase.contains("exchange"), s"$name shuffles:\n$p")
    }
    // the shard packer's data path is one range shuffle: the arranged
    // stage (pre-checkpoint — the lazy checkpoint hides it downstream)
    // shuffles the corpus exactly once, by range
    val pa = plan(graft.llm.Corpus.packArranged(docs, "doc_id", "text"))
    val nEx = "(?i)exchange".r.findAllIn(pa).size
    assert(nEx == 1 && pa.toLowerCase.contains("rangepartitioning"),
      s"expected one range exchange, got $nEx:\n$pa")
    // and downstream of the checkpoint every window is partitioned by
    // __pid — a global (empty-partition) window over the data would be
    // the single-task scale killer
    val pk = plan(graft.llm.Corpus.packShards(docs, "doc_id", "text", 2048L))
    val total = "windowspecdefinition\\(".r.findAllIn(pk).size
    val byPid = "windowspecdefinition\\(__pid".r.findAllIn(pk).size
    assert(total > 0 && byPid == total,
      s"expected every window keyed by __pid ($byPid/$total):\n$pk")
  }

  test("rollup plans one Expand pass, not one scan per grouping set") {
    val p = queryPlan("q_a12_rollup")
    assert("Expand".r.findAllIn(p).size == 1, s"expected exactly one Expand:\n$p")
    assert("Scan parquet".r.findAllIn(p).size <= 1, s"rollup re-scanned the source:\n$p")
  }

  test("JSON extraction stays native — no Scala UDF in the q_f20 plan") {
    val p = queryPlan("q_f20_json_props")
    assert(p.contains("get_json_object") || p.contains("GetJsonObject"), p)
    assert(!p.contains("ScalaUDF"), s"JSON path fell back to a UDF:\n$p")
  }

  test("count-min estimate broadcasts the finished cells, never shuffles probes") {
    val p = queryPlan("q_l25_countmin_tokens")
    assert(p.contains("BroadcastHashJoin"), s"sketch estimate join did not broadcast:\n$p")
  }

  test("sessionize plans ONE exchange and ONE sort (lag + running sum fused)") {
    val sess = graft.operators.Sessionize.sessionize(
      Tables.events(spark, sf).select("user_id", "ts", "event_id"),
      Seq("user_id"), "ts", gapSec = 1800, tiebreak = Seq(col("event_id")))
    val p = plan(sess)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected one key exchange:\n$p")
    assert("\\bSort\\b".r.findAllIn(p).size == 1,
      s"lag and running sum should share one sort:\n$p")
  }

  test("bloom semi-join broadcasts both the bitmap and the exact side — fact never shuffles") {
    val p = queryPlan("q_j14_bloom_join")
    assert(p.contains("BroadcastHashJoin"), s"exact semi-join did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side fell into a shuffle join:\n$p")
  }

  test("band join broadcasts the band dimension (non-equi lookup, no shuffle)") {
    val p = queryPlan("q_j15_band_join")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"range-condition join must broadcast the tiny band table:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pivot is one hash aggregate pass — no Expand, one scan (q_a13)") {
    val p = queryPlan("q_a13_pivot")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"pivot re-scanned the source:\n$p")
    assert(!p.contains("Expand"), s"pivot should not expand rows:\n$p")
  }

  test("aggregate top-k plans as an aggregate, not a window sort (q_w5b)") {
    val p = queryPlan("q_w5b_grouped_topk_agg")
    assert(!p.contains("Window"), s"aggregate top-k fell back to a window:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("parquet DSv2 aggregate pushdown answers count/min/max from footers (q_s22)") {
    // the query fn memoizes its plan under the v2-scan confs
    val p = queryPlan("q_s22_agg_pushdown")
    assert(p.contains("PushedAggregation"),
      s"expected footer-statistics aggregate pushdown:\n$p")
  }

  test("no accidental cartesian products in the relational/dwh families") {
    val intentionallyTiny = Set( // 1-row aggregate cross joins by design
      "q_d8_dimdate_fill", "q_d7_location_append", "q_d12_cleanup_dups",
      "q_d14_integrity_ratio", "q_l1_exact_dedup")
    val offenders = (RelationalQueries.defs ++ DwhQueries.defs ++ StatQueries.defs)
      .filterNot(q => intentionallyTiny.contains(q.name))
      .flatMap { q =>
        val p = plan(q.fn(spark, sf))
        if (p.contains("CartesianProduct")) Some(q.name) else None
      }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("PQ ADC scan broadcasts the query distance table; codes never shuffle for it") {
    val p = queryPlan("q_l39_ann_pq")
    assert(p.contains("BroadcastHashJoin"), s"dt lookup should broadcast:\n$p")
  }

  test("skyline's data-sized window is partitioned by bucket, not global") {
    val p = queryPlan("q_a36_skyline")
    // the only global-order window runs over the <=64 bucket-max rows;
    // the per-point running max must carry the bucket partition key
    assert(p.contains("Window [max(size"), p)
    assert(p.contains("windowspecdefinition(b"),
      s"per-point window must be partitioned by bucket:\n$p")
  }

  test("HLL registers partial-aggregate before shuffling (mergeable-state shape)") {
    val p = queryPlan("q_a37_hll_distinct")
    assert(p.contains("partial_max") || p.contains("merge_max"),
      s"register max must be a partial aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("frequent pairs joins within basket keys — no cartesian, apriori prune applied") {
    val p = queryPlan("q_a34_frequent_pairs")
    assert(!p.contains("CartesianProduct"), p)
    // the item-support filter must appear below the pair self-join
    assert(p.contains("(f#") || p.contains("f >= 2") || p.contains("(f"), p)
  }

  test("sorted-neighborhood ranks with doc-partitioned windows + broadcast offsets") {
    val p = queryPlan("q_l45_sorted_neighborhood")
    assert(!p.contains("CartesianProduct"), p)
    // the offset map joins broadcast (<= one row per partition)
    assert(p.contains("BroadcastHashJoin"), s"offset zip should broadcast:\n$p")
    // no global (empty-partition-spec) window over data-sized input:
    // every windowspecdefinition must carry a partition key
    assert(!p.contains("windowspecdefinition(__id#") || p.contains("windowspecdefinition(__pid"),
      s"rank window must be partitioned by __pid:\n$p")
  }

  test("prefix-filter join: per-document ranking window, no cartesian") {
    val p = queryPlan("q_l47_prefix_filter_pairs")
    assert(!p.contains("CartesianProduct"), p)
    // the candidate localCheckpoint truncates the visible lineage, so
    // assert the ranking shape on the pre-checkpoint stage directly:
    // the ONLY window in the whole operator is partitioned by document
    val docs = graft.Tables.documents(spark, sf)
    val toks = docs.select(col("doc_id").as("__id"),
      explode(graft.llm.Dedup.shingles(col("text"), 3)).as("t"))
    val ranked = toks
      .join(toks.groupBy("t").agg(count(lit(1)).as("__df")), Seq("t"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("__id")
          .orderBy(col("__df"), col("t"))))
    val rp = plan(ranked)
    assert(rp.contains("windowspecdefinition(__id"),
      s"prefix ranking must be partitioned by document:\n$rp")
  }

  test("chunking is shuffle-free: generator explode + slice, no exchange") {
    val p = plan(graft.llm.Corpus.chunkDocs(
      graft.Tables.documents(spark, sf), "doc_id", "text", 64, 16))
    assert(!p.contains("Exchange"), s"chunkDocs must not shuffle:\n$p")
    assert(p.contains("Generate explode"), s"chunk ids must come from a generator:\n$p")
  }

  test("NB classifier: the model rides broadcasts, never a fact-side shuffle join") {
    val p = queryPlan("q_l59_quality_classifier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hybrid retrieval: both ranking windows are keyed by query, no cartesian") {
    val p = queryPlan("q_l60_rrf_fusion")
    assert(!p.contains("CartesianProduct"),
      s"only the dense scorer's broadcast NL join is allowed, not a cartesian:\n$p")
    // every window in the fused plan partitions by query_id — a global
    // window here would serialize the whole candidate set
    assert(p.contains("windowspecdefinition(query_id"),
      s"rank windows must be query-keyed:\n$p")
  }

  test("PCA covariance: join-free outer-product kernel, corpus never key-shuffled") {
    // the kernel pre-checkpoint: rows center themselves against a
    // means LITERAL and emit triangle products from a generator — the
    // corpus-sized data must reach the d²-cell aggregation without any
    // join or key shuffle (r15; the old form key-shuffled n·d rows and
    // self-joined them)
    val kernel = graft.llm.Pca.covarianceTri(
      graft.Tables.embeddings(spark, sf), "embedding")
    val k = plan(kernel)
    assert(!k.contains("Join"), s"covariance kernel must be join-free:\n$k")
    assert(k.contains("hashpartitioning(ci"),
      s"cell aggregation must be the (ci,cj)-keyed exchange:\n$k")
    assert("Generate posexplode".r.findAllIn(k).size == 2,
      s"triangle outer product is one outer+inner generator pair:\n$k")
    // the full covariance: mirror union over the CHECKPOINTED cells —
    // no generator re-run, no cartesian (the 1-row n crossJoin is a
    // broadcast nested loop by construction)
    val cov = graft.llm.Pca.covariance(
      graft.Tables.embeddings(spark, sf), "vec_id", "embedding")
    val p = plan(cov)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Generate"),
      s"mirror union must read the checkpointed cells, not re-run the pass:\n$p")
  }

  test("perceptual dHash dedup: banded pairing is an equi-join, never all-pairs") {
    val p = queryPlan("q_m11_phash_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band join must stay an equi-join:\n$p")
  }

  test("curation chain (q_l21b): no cartesian, no nested-loop, packShards range exchange") {
    // seven stages composed — one accidental cross join anywhere in
    // the chain is a 100 TB collapse the small-SF oracle can't see
    val p = queryPlan("q_l21b_curation_e2e")
    assert(!p.contains("CartesianProduct"), s"cartesian in the chain:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in the chain:\n$p")
  }

  test("shard readback prunes to ONE file on a shard_id filter (training loader path)") {
    // the point of the physical shard layout: a loader resuming at
    // shard N must open shard N's file, not scan the corpus — the
    // shard_id partition filter has to prune at the source
    import spark.implicits._
    val tmp = graft.SparkUtil.scratchDir("planspec_shards", "")
    val docs = (1L to 300L).map(i => (i, ("tok " * 17).trim)).toDF("doc_id", "text")
    graft.llm.Corpus.writeShardFiles(docs, "doc_id", "text", 512L, tmp)
    val pruned = spark.read.parquet(tmp).filter(col("shard_id") === 3)
    val p = plan(pruned)
    assert(p.contains("PartitionFilters") && p.contains("shard_id"), p)
    val files = pruned.select(input_file_name()).distinct().count()
    assert(files == 1L, s"one-shard read touched $files files")
  }

  test("global shuffle ranks within loader files — the permutation window is never global") {
    val p = queryPlan("q_l75_global_shuffle")
    assert(p.contains("windowspecdefinition(file_id"),
      s"pos must be partitioned by file_id:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("salted co-purchase edge build: REPARTITION_BY_NUM on (k, __salt) survives AQE") {
    // the round-12 sf1.0 scale-killer fix as a plan property: the
    // heavy-key self-join's src side MUST arrive through a
    // user-pinned numbered repartition on (k, __salt) — that shuffle
    // origin (REPARTITION_BY_NUM) is the one AQE will never coalesce,
    // so the quadratic pair generation keeps its width however small
    // the map-output size estimate is. If the explicit partition
    // count is dropped (origin degrades to REPARTITION_BY_COL) or the
    // salt column disappears, this fails — and at sf1.0 the build
    // collapses back to one 15-minute task.
    val edges = CoPurchaseGraph.strongTieEdgesPlan(spark, sf, minShared = 2)
    val p = plan(edges)
    val salted = "Exchange hashpartitioning\\(k#\\d+L?, __salt#\\d+L?, \\d+\\), REPARTITION_BY_NUM".r
    assert(salted.findFirstIn(p).isDefined,
      s"src side must keep the user-pinned (k, __salt) repartition:\n$p")
    // dst replication is a generator (explode of the salt sequence)
    assert(p.contains("Generate explode"),
      s"dst side must replicate via explode(sequence(0..salts-1)):\n$p")
    // partial aggregation on (src, dst) — the explosion is combined
    // map-side before any further shuffle
    assert(p.contains("HashAggregate(keys=[src") || p.contains("HashAggregate(keys=[k"),
      s"pair counting must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // and the layout actually executes: after running, the final
    // adaptive plan must still contain the numbered repartition
    edges.write.format("noop").mode("overwrite").save()
    val fin = plan(edges)
    assert(salted.findFirstIn(fin).isDefined,
      s"final adaptive plan lost the pinned repartition:\n$fin")
  }

  test("deletion-vector read: DV side broadcasts into an anti-join, base never shuffles") {
    // merge-on-read's scale contract: the base scan must flow straight
    // into a BroadcastHashJoin LeftAnti against the (small) DV side —
    // if the join ever degrades to a sort-merge anti-join, every read
    // of the table shuffles ALL table data on (file, row_index), which
    // at 100 TB is a full-table shuffle to subtract kilobytes.
    import spark.implicits._
    val tmp = graft.SparkUtil.scratchDir("planspec_dv", "")
    (0L until 500L).map(i => (i, i % 5)).toDF("id", "g")
      .repartition(4, col("id"))
      .write.mode("overwrite").parquet(s"$tmp/base")
    val dv = graft.io.DeletionVectors.build(spark, s"$tmp/base", col("id") % 9 === 0)
    graft.io.DeletionVectors.writeBatch(dv, s"$tmp/dv", 1)
    val read = graft.io.DeletionVectors.readWithDv(spark, s"$tmp/base", s"$tmp/dv")
    val p = plan(read)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"DV subtraction must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"DV read shuffled the base table:\n$p")
  }

  test("COW merge: discovery is a key-only scan into a broadcast join; clauses never shuffle") {
    // the two plan shapes that keep MERGE cost proportional to
    // matched data at 100 TB: (1) touched-file discovery reads ONLY
    // the key column (plus filename metadata) and probes broadcast
    // source keys — a payload column leaking into that scan turns
    // discovery into a full-table read; (2) every clause join rides
    // the broadcast source, so the only shuffle in the whole merge is
    // the final numFiles repartition of the rewrite.
    import spark.implicits._
    val tmp = graft.SparkUtil.scratchDir("planspec_merge", "")
    (0L until 500L).map(i => (i, i * 2, s"t$i")).toDF("id", "m", "tag")
      .repartition(4, col("id"))
      .write.mode("overwrite").parquet(s"$tmp/base")
    val tgt = spark.read.parquet(s"$tmp/base")
    val src = Seq((1L, 9L, "S", "U"), (2L, 0L, "S", "D")).toDF("id", "m", "tag", "op")
    val pd = plan(graft.io.CowMerge.discovery(tgt, src.select("id").distinct(), "id"))
    assert(pd.contains("BroadcastHashJoin"), pd)
    assert(!pd.contains("SortMergeJoin"), s"discovery shuffled the table:\n$pd")
    assert(pd.contains("struct<id:bigint>"),
      s"discovery scan must read the key column only:\n$pd")
    val pa = plan(graft.io.CowMerge.applyClauses(
      tgt, src, "id", "op", Seq("id", "m", "tag"), Seq("m")))
    assert(pa.contains("BroadcastHashJoin"), pa)
    assert(!pa.contains("SortMergeJoin") && !pa.contains("CartesianProduct"),
      s"clause application must stay on the broadcast path:\n$pa")
  }
}
