package graft.llm

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-assembly operators: deterministic splits, token-budget shard
  * packing, PII redaction, decontamination.
  */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("assignSplit is a stable pure function of the id with validated bounds") {
    val docs = (1L to 1000L).toDF("doc_id")
    val out = Corpus.assignSplit(docs, "doc_id", Seq("train" -> 0.9, "validation" -> 0.95), "test")
    val byName = out.groupBy("split").count().as[(String, Long)].collect().toMap
    // md5 is uniform: 1000 docs land ~900/50/50 (loose bounds)
    assert(byName("train") > 850 && byName("train") < 950, byName)
    assert(byName.values.sum == 1000)
    // adding docs never moves an existing assignment
    val wider = Corpus.assignSplit((1L to 2000L).toDF("doc_id"), "doc_id",
      Seq("train" -> 0.9, "validation" -> 0.95), "test")
      .filter($"doc_id" <= 1000)
    assert(out.except(wider).isEmpty && wider.except(out).isEmpty)
    intercept[IllegalArgumentException] {
      Corpus.assignSplit(docs, "doc_id", Seq("a" -> 0.9, "b" -> 0.5), "c")
    }
  }

  test("packShards packs the md5-global-order exclusive prefix sum") {
    // six 100-token docs, budget 250 → in md5(id) order the exclusive
    // sums are 0,100,200,300,400,500 → shards 0,0,0,1,1,2
    val text = ("tok " * 100).trim
    val docs = (1L to 6L).map(i => (i, text)).toDF("doc_id", "text")
    val out = Corpus.packShards(docs, "doc_id", "text", 250L)
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    val md5Order = (1L to 6L).sortBy { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val expected = md5Order.zipWithIndex.map { case (id, pos) => id -> (pos * 100L / 250L) }.toMap
    assert(out == expected, s"got $out expected $expected")
    // layout-independent: a differently-partitioned input packs identically
    val out2 = Corpus.packShards(docs.repartition(5), "doc_id", "text", 250L)
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    assert(out2 == expected)
  }

  test("redactPii masks emails and phone runs, leaves clean text alone") {
    val rows = Seq(
      "mail john.doe+x@corp.example.org or call +84 (090) 123-4567 now",
      "no pii here, just 42 words").toDF("t")
      .select(col("t"), Corpus.redactPii(col("t")).as("r"), Corpus.hasPii(col("t")).as("p"))
      .as[(String, String, Boolean)].collect()
    assert(rows(0)._2 == "mail <EMAIL> or call <PHONE> now")
    assert(rows(0)._3)
    assert(rows(1)._2 == rows(1)._1 && !rows(1)._3)
  }

  test("resampleStrata emits whole copies plus a deterministic fractional remainder") {
    val docs = (1L to 400L).map(i => (i, if (i <= 200) "big" else "rare")).toDF("doc_id", "src")
    val out = Corpus.resampleStrata(docs, "doc_id", "src", Map("big" -> 0.5, "rare" -> 2.25))
    val rows = out.groupBy("src").count().as[(String, Long)].collect().toMap
    // big: ~half survive with one copy; rare: 2 copies each + ~a quarter get a third
    assert(rows("big") > 60 && rows("big") < 140, rows)
    assert(rows("rare") >= 400 && rows("rare") < 500, rows)
    val rareCopies = out.filter($"src" === "rare").groupBy("doc_id").count()
      .agg(min("count"), max("count")).as[(Long, Long)].collect().head
    assert(rareCopies._1 >= 2 && rareCopies._2 <= 3)
    // deterministic: same input, same mixed corpus
    val again = Corpus.resampleStrata(docs, "doc_id", "src", Map("big" -> 0.5, "rare" -> 2.25))
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
    // a rate of 0 drops the stratum entirely; unknown strata pass through
    val zeroed = Corpus.resampleStrata(docs, "doc_id", "src", Map("big" -> 0.0))
    assert(zeroed.filter($"src" === "big").isEmpty)
    assert(zeroed.filter($"src" === "rare").count() == 200)
  }

  test("contaminatedIds flags exactly the corpus docs sharing an n-gram") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro text then the quick brown fox jumps right here"), // shares a 5-gram
      (2L, "completely different content with no overlap at all"),
      (3L, "quick brown fox jumps over")) // shares "quick brown fox jumps over"
      .toDF("doc_id", "text")
    val ids = Corpus.contaminatedIds(corpus, "doc_id", "text", bench, "text", 5)
      .as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 3L))
  }

  test("chunkDocs: stride spacing, overlap, short final chunk, full token coverage") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "   "), (3L, "single")).toDF("doc_id", "text")
    val out = Corpus.chunkDocs(docs, "doc_id", "text", chunkTokens = 10, overlap = 3)
      .orderBy("doc_id", "chunk_id").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    // starts 0, 7, ..., 98 -> 15 chunks; last one holds 2 tokens
    assert(d1.length == 15)
    assert(d1.map(_.getLong(2)).toSeq == (0 until 15).map(_ * 7L))
    assert(d1.head.getString(4).startsWith("t1 t2 ") && d1.head.getLong(3) == 10L)
    assert(d1.last.getString(4) == "t99 t100" && d1.last.getLong(3) == 2L)
    // consecutive chunks share exactly the 3-token overlap
    val c0 = d1(0).getString(4).split(" ")
    val c1 = d1(1).getString(4).split(" ")
    assert(c0.takeRight(3).toSeq == c1.take(3).toSeq)
    // every token appears in at least one chunk
    assert(d1.flatMap(_.getString(4).split(" ")).toSet == (1 to 100).map(i => s"t$i").toSet)
    // whitespace-only doc chunk-free; single-token doc one short chunk
    assert(!out.exists(_.getLong(0) == 2L))
    val d3 = out.filter(_.getLong(0) == 3L)
    assert(d3.length == 1 && d3.head.getString(4) == "single" && d3.head.getLong(3) == 1L)
  }

  test("lineDedup keeps first occurrence, short lines always survive") {
    import spark.implicits._
    val dup = "this line is long enough to participate"
    val docs = Seq(
      (1L, s"$dup\nunique first doc line content\nok"),
      (2L, s"also unique second doc line\n$dup\nok"),
      (3L, s"$dup")).toDF("doc_id", "text")
    val got = Corpus.lineDedup(docs, "doc_id", "text", minChars = 20)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1 owns (min doc, min pos) of the dup line — keeps all 3 lines
    assert(got(0) == ((1L, 3L, 3L, s"$dup\nunique first doc line content\nok")))
    // doc 2 loses the dup but keeps its unique line and the short "ok"
    assert(got(1) == ((2L, 3L, 2L, "also unique second doc line\nok")))
    // doc 3 was ONLY the dup line: reassembles to the empty string
    assert(got(2) == ((3L, 1L, 0L, "")))
    // within-doc repetition: second occurrence in the SAME doc drops
    val self = Seq((7L, s"$dup\nmiddle line that is unique\n$dup"))
      .toDF("doc_id", "text")
    val g7 = Corpus.lineDedup(self, "doc_id", "text", minChars = 20)
      .collect().map(r => (r.getLong(2), r.getString(3))).head
    assert(g7 == ((2L, s"$dup\nmiddle line that is unique")))
  }

  test("dsirScores: target-only vocab scores above raw-only vocab") {
    import spark.implicits._
    // 4 docs: two 'wiki' target docs over vocab A, two raw docs over
    // vocab B; a doc of pure vocab A must outscore a doc of pure vocab B
    val docs = Seq(
      (1L, "wiki", "alpha beta gamma alpha beta"),
      (2L, "wiki", "beta gamma alpha gamma beta"),
      (3L, "web", "delta epsilon zeta delta eta"),
      (4L, "web", "epsilon zeta eta zeta delta")).toDF("doc_id", "source", "text")
    val got = Corpus.dsirScores(docs, "doc_id", "text",
        isTarget = col("source") === "wiki", buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDecimal(2)).toMap
    assert(got(1L).compareTo(got(3L)) > 0, s"${got(1L)} !> ${got(3L)}")
    assert(got(2L).compareTo(got(4L)) > 0, s"${got(2L)} !> ${got(4L)}")
    // equal-length docs: the target-vocab scores are strictly positive
    // relative to raw-vocab ones under add-1 smoothing
    assert(got.values.toSet.size > 1)
  }

  test("attritionFunnel: sequential semantics, conserved counts, one row per rule") {
    import spark.implicits._
    // 10 docs: 6 pass r1; of those, 4 pass r2; of those, 3 pass r3.
    // A doc failing r1 but passing r2 (id 7-10 with ok=true) must NOT
    // resurrect downstream — the cascade is sequential, not parallel.
    val docs = (1 to 10).map { i =>
      (i.toLong, i <= 6, i <= 4 || i > 6, i <= 3)
    }.toDF("id", "a", "b", "c")
    val out = Corpus.attritionFunnel(docs,
        Seq("ra" -> col("a"), "rb" -> col("b"), "rc" -> col("c")))
      .as[(Int, String, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1, "ra", 10L, 4L, 6L), (2, "rb", 6L, 2L, 4L), (3, "rc", 4L, 1L, 3L)))
    // conservation: every stage's n_in equals the previous n_out and
    // n_drop + n_out == n_in
    out.foreach { case (_, _, in, drop, outN) => assert(in == drop + outN) }
    assert(out.sliding(2).forall { case Seq(p, n) => p._5 == n._3; case _ => true })
    intercept[IllegalArgumentException] { Corpus.attritionFunnel(docs, Seq.empty) }
  }

  test("boilerplateLines: integer share threshold, per-source isolation") {
    import spark.implicits._
    // source s1: 10 docs, banner line in 4 of them (df=4): fails the
    // min-docs=3 AND 40%-of-10 test only on share when pct=1/2 (needs
    // 5), passes at pct=2/5 (needs 4) — exercises exact integer
    // cross-multiplication, no float ceil. source s2: same line text
    // in only 2 docs — below minDocs, never boilerplate there.
    val rows =
      (1 to 10).flatMap(d => Seq(("s1", d.toLong, s"unique s1 $d"))) ++
        (1 to 4).map(d => ("s1", d.toLong, "BANNER")) ++
        (1 to 6).flatMap(d => Seq(("s2", d.toLong, s"unique s2 $d"))) ++
        (1 to 2).map(d => ("s2", d.toLong, "BANNER"))
    val lines = rows.toDF("source", "doc_id", "line")
    def run(num: Int, den: Int) =
      Corpus.boilerplateLines(lines, "source", "doc_id", "line",
          minDocs = 3, pctNum = num, pctDen = den)
        .as[(String, Long, Long, Long, Long, Double)].collect()
        .map(r => r._1 -> r).toMap
    val strict = run(1, 2) // 50%: df=4 of 10 docs fails
    assert(strict("s1")._4 == 0 && strict("s2")._4 == 0)
    val loose = run(2, 5) // 40%: df=4 of 10 docs passes exactly (4*5 >= 10*2)
    assert(loose("s1") == (("s1", 10L, 14L, 1L, 4L, 0.285714)))
    assert(loose("s2")._4 == 0, "df=2 < minDocs must never flag")
    assert(loose("s2")._3 == 8L && loose("s2")._5 == 0L)
  }

  test("epochMixPlan: integer water-filling respects caps and redistributes") {
    import spark.implicits._
    // hand-computed: budget 600 over avail (100,100,200) with caps
    // (400,100,400): round 1 gives (150,150→100,300); round 2 spreads
    // the 50 freed by b over a,c ∝ avail → (166,100,333); round 3
    // moves nothing (integer crumbs only). 1 token stays unallocated.
    val stats = Seq(("a", 100L, 400L), ("b", 100L, 100L), ("c", 200L, 400L))
    val alloc = Corpus.epochMixPlanLocal(stats, budget = 600L, rounds = 3)
      .map(t => t._1 -> t._3).toMap
    assert(alloc == Map("a" -> 166L, "b" -> 100L, "c" -> 333L), alloc)
    assert(alloc.values.sum <= 600L)
    // the distributed witness agrees and adds epochs_micro = alloc·1e6 div avail
    val out = EpochMixDistributed.epochMixPlan(
        stats.toDF("source", "avail", "cap"), budget = 600L, rounds = 3)
      .select("source", "alloc", "epochs_micro")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out == Map("a" -> (166L, 1660000L), "b" -> (100L, 1000000L),
      "c" -> (333L, 1665000L)), out)
    // a budget below every cap allocates proportionally, nothing capped
    val flat = Corpus.epochMixPlanLocal(stats, budget = 200L, rounds = 3)
      .map(t => t._1 -> t._3).toMap
    assert(flat == Map("a" -> 50L, "b" -> 50L, "c" -> 100L), flat)
  }

  test("globalShuffle: seeded permutation is complete, reproducible, seed-sensitive") {
    val docs = (1L to 500L).toDF("id")
    def perm(seed: String) = Corpus.globalShuffle(docs, "id", seed, 4)
      .select("id", "file_id", "pos").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val a = perm("s1")
    assert(a == perm("s1"), "same seed must reproduce the permutation")
    assert(a.map(_._1).distinct.size == 500, "every id appears exactly once")
    // within each file, positions are a contiguous 1..n_f ranking
    a.groupBy(_._2).foreach { case (f, rows) =>
      assert(rows.map(_._3).sorted == (1L to rows.size), s"file $f positions")
    }
    val b = perm("s2")
    assert(a != b, "a different seed must yield a different permutation")
    intercept[IllegalArgumentException] { Corpus.globalShuffle(docs, "id", "s", 0) }
  }

  test("packShardsAppend continues offsets from the standing corpus") {
    val arrivals = (1L to 100L).map(i => (i, ("tok " * 17).trim)).toDF("doc_id", "text")
    val rows = Corpus.packShardsAppend(arrivals, "doc_id", "text", 512L, baseTokens = 1000L)
      .select("token_start", "n_tokens", "shard_id").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(rows.head._1 == 1000L, "first arrival starts at the standing total")
    rows.sliding(2).foreach {
      case Array((s1, n1, _), (s2, _, _)) => assert(s2 == s1 + n1, "contiguous offsets")
      case _ =>
    }
    rows.foreach { case (s, _, sid) => assert(sid == s / 512, "shard = global floor") }
    intercept[IllegalArgumentException] {
      Corpus.packShardsAppend(arrivals, "doc_id", "text", 512L, -1L)
    }
  }

  test("epochMixPlanLocal invariants hold on generated inputs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // property sweep (seeded generator, offline-classpath style of
    // PropertySpec): alloc never exceeds its cap, the total never
    // exceeds the budget, and allocations grow monotonically in rounds
    val statsGen = Gen.nonEmptyListOf(for {
      av <- Gen.chooseNum(1L, 1000000L)
      tier <- Gen.oneOf(1L, 2L, 4L)
      name <- Gen.identifier
    } yield (name.take(8), av, tier * av))
    val cases = Gen.listOfN(60, for {
      st <- statsGen
      b <- Gen.chooseNum(0L, 10000000L)
    } yield (st, b)).apply(Gen.Parameters.default, Seed(7L)).get
    for ((st, budget) <- cases) {
      var prev: Seq[Long] = st.map(_ => 0L)
      for (rounds <- 1 to 4) {
        val alloc = Corpus.epochMixPlanLocal(st, budget, rounds).map(_._3)
        alloc.zip(st).foreach { case (a, (_, _, cap)) =>
          assert(a >= 0 && a <= cap, s"alloc $a out of [0, $cap]")
        }
        assert(alloc.sum <= budget || budget < 0, s"over budget: ${alloc.sum} > $budget")
        alloc.zip(prev).foreach { case (a, p) => assert(a >= p, "monotone in rounds") }
        prev = alloc
      }
    }
  }

  test("epochMixPlanLocal is bit-identical to the distributed planner") {
    import spark.implicits._
    // same fixtures as above plus a skew case with crumb-level
    // redistribution; every (budget, rounds) cell must match the
    // distributed engine allocation exactly — the q_l21b chain relies
    // on this equivalence to run the planner driver-side.
    val cases = Seq(
      (Seq(("a", 100L, 400L), ("b", 100L, 100L), ("c", 200L, 400L)), 600L),
      (Seq(("a", 100L, 400L), ("b", 100L, 100L), ("c", 200L, 400L)), 200L),
      (Seq(("w", 7L, 28L), ("x", 1000L, 1000L), ("y", 13L, 13L), ("z", 3L, 12L)), 1500L))
    for ((stats, budget) <- cases; rounds <- 1 to 4) {
      val dist = EpochMixDistributed.epochMixPlan(
          stats.toDF("source", "avail", "cap"), budget, rounds)
        .select("source", "alloc").as[(String, Long)].collect().toMap
      val local = Corpus.epochMixPlanLocal(stats, budget, rounds)
        .map { case (s, _, a) => s -> a }.toMap
      assert(local == dist, s"budget=$budget rounds=$rounds: $local vs $dist")
    }
  }

  test("writeShardFiles lays out exactly one data file per shard plus a manifest") {
    val docs = (1L to 400L).map(i => (i, ("tok " * 17).trim)).toDF("doc_id", "text")
    val out = graft.SparkUtil.scratchDir("corpus_spec_shards", "")
    val back = Corpus.writeShardFiles(docs, "doc_id", "text", tokensPerShard = 512L, out)
    // 400 docs × 17 tokens = 6800 tokens → ceil(6800/512) = 14 shards
    val shardIds = back.select("shard_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(shardIds == (0L until 14L), shardIds)
    val fs = new java.io.File(out)
    val shardDirs = fs.listFiles().filter(_.getName.startsWith("shard_id="))
    assert(shardDirs.length == 14, shardDirs.map(_.getName).toSeq)
    shardDirs.foreach { d =>
      val dataFiles = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.length == 1, s"${d.getName}: ${dataFiles.length} files")
    }
    // the manifest agrees with the files it describes
    val man = spark.read.json(out + "_manifest")
    assert(man.count() == 14)
    val manTokens = man.agg(sum("shard_tokens")).as[Long].head()
    assert(manTokens == 6800L, manTokens)
    // no shard starts outside its own token window (boundary exactness)
    val bad = back.filter(
      col("token_start") < col("shard_id") * 512L ||
        col("token_start") >= (col("shard_id") + 1) * 512L).count()
    assert(bad == 0L)
  }

  test("shard damage is detected from the manifest and rebuilt exactly (negative path)") {
    val docs = (1L to 400L).map(i => (i, ("tok " * 17).trim)).toDF("doc_id", "text")
    val out = graft.SparkUtil.scratchDir("corpus_spec_restore", "")
    Corpus.writeShardFilesLedger(docs, "doc_id", "text", tokensPerShard = 512L, out)
    // healthy layout: nothing to detect
    assert(Corpus.detectDamagedShards(spark, out, "doc_id").count() == 0L)
    // reference snapshot of the shard that is about to be lost
    val before = spark.read.parquet(out)
      .filter(col("shard_id") === 3)
      .select("doc_id", "n_tokens", "token_start")
      .collect().map(_.toSeq).toSet
    // out-of-band loss
    val dir3 = new java.io.File(s"$out/shard_id=3")
    assert(dir3.exists())
    dir3.listFiles().foreach(_.delete()); assert(dir3.delete())
    // detection finds exactly the lost shard
    val damaged = Corpus.detectDamagedShards(spark, out, "doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(damaged == Seq(3L), damaged)
    // targeted rebuild: only the damaged dir is rewritten...
    val mtimes = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("shard_id=") && f.getName != "shard_id=3")
      .map(f => f.getName -> f.listFiles().map(_.lastModified).max).toMap
    Corpus.rebuildShards(docs, "doc_id", "text", 512L, out, damaged)
    val mtimesAfter = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("shard_id=") && f.getName != "shard_id=3")
      .map(f => f.getName -> f.listFiles().map(_.lastModified).max).toMap
    assert(mtimesAfter == mtimes, "a surviving shard was rewritten")
    // ...and the layout converges back to the manifest, byte-for-value
    assert(Corpus.detectDamagedShards(spark, out, "doc_id").count() == 0L)
    val after = spark.read.parquet(out)
      .filter(col("shard_id") === 3)
      .select("doc_id", "n_tokens", "token_start")
      .collect().map(_.toSeq).toSet
    assert(after == before, "rebuilt shard differs from the lost one")
    // API boundary: an empty damage set is a caller bug, not a no-op
    intercept[IllegalArgumentException] {
      Corpus.rebuildShards(docs, "doc_id", "text", 512L, out, Seq.empty)
    }
  }

  test("page-level corruption (truncated parquet, dir intact) is detected and rebuilt") {
    // the sneakier damage mode: the shard DIR survives but its data
    // file is bit-rotted/truncated — the parquet footer is dead, so a
    // plain scan would throw, not detect. detectDamagedShards reads
    // corrupt-tolerant: the dead file contributes zero rows and the
    // shard surfaces as a ledger-vs-manifest mismatch like any other
    // damage, and the same targeted rebuild converges.
    val docs = (1L to 400L).map(i => (i, ("tok " * 17).trim)).toDF("doc_id", "text")
    val out = graft.SparkUtil.scratchDir("corpus_spec_restore_corrupt", "")
    Corpus.writeShardFilesLedger(docs, "doc_id", "text", tokensPerShard = 512L, out)
    assert(Corpus.detectDamagedShards(spark, out, "doc_id").count() == 0L)
    val before = spark.read.parquet(out)
      .filter(col("shard_id") === 5)
      .select("doc_id", "n_tokens", "token_start")
      .collect().map(_.toSeq).toSet
    // truncate shard 5's single data file to its first 16 bytes: the
    // magic header survives, the footer does not
    val file5 = new java.io.File(s"$out/shard_id=5").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val raf = new java.io.RandomAccessFile(file5, "rw")
    try raf.setLength(16L) finally raf.close()
    val damaged = Corpus.detectDamagedShards(spark, out, "doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(damaged == Seq(5L), damaged)
    // targeted rebuild: surviving shards are never rewritten
    val mtimes = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("shard_id=") && f.getName != "shard_id=5")
      .map(f => f.getName -> f.listFiles().map(_.lastModified).max).toMap
    Corpus.rebuildShards(docs, "doc_id", "text", 512L, out, damaged)
    val mtimesAfter = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("shard_id=") && f.getName != "shard_id=5")
      .map(f => f.getName -> f.listFiles().map(_.lastModified).max).toMap
    assert(mtimesAfter == mtimes, "a surviving shard was rewritten")
    assert(Corpus.detectDamagedShards(spark, out, "doc_id").count() == 0L)
    val after = spark.read.parquet(out)
      .filter(col("shard_id") === 5)
      .select("doc_id", "n_tokens", "token_start")
      .collect().map(_.toSeq).toSet
    assert(after == before, "rebuilt shard differs from the corrupted one")
  }

  test("re-packing with a larger budget leaves NO stale shard dirs") {
    // under the session's dynamic partition-overwrite mode a shrink
    // rerun (fewer shards) would keep the old tail dirs — and a
    // loader would read a corrupted mixed layout; writeShardFiles
    // must force a full-replace snapshot
    val docs = (1L to 400L).map(i => (i, ("tok " * 17).trim)).toDF("doc_id", "text")
    val out = graft.SparkUtil.scratchDir("corpus_spec_shards_rerun", "")
    Corpus.writeShardFiles(docs, "doc_id", "text", tokensPerShard = 512L, out)
    val back2 = Corpus.writeShardFiles(docs, "doc_id", "text", tokensPerShard = 4096L, out)
    val expected = back2.select("shard_id").distinct().count()
    val dirs = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("shard_id="))
    assert(dirs.toLong == expected, s"stale shard dirs survived: $dirs vs $expected")
  }
}
