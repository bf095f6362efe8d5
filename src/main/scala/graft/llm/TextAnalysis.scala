package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token
  * counting (whitespace + BPE-ish regex), quality scoring, marker-based
  * language ID, and document fingerprinting (md5 + winnowing).
  *
  * Everything except winnowing is a native Column expression — the
  * per-document scan work stays in whole-stage codegen, which is what
  * makes a 100 TB corpus pass affordable (one read, no UDF
  * serialization in the hot path).
  */
object TextAnalysis {

  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace token count; empty/null-safe. */
  def tokenCount(c: Column): Column =
    when(c.isNull || trim(c) === "", 0).otherwise(size(tokens(c)))

  /** BPE-ish subword proxy: alnum runs + individual punctuation, over
    * lowercased text — the standard cheap stand-in for a real tokenizer
    * when estimating token budgets.
    */
  def bpeishTokenCount(c: Column): Column =
    when(c.isNull, 0)
      .otherwise(size(regexp_extract_all(lower(c), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))))

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "for")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    val stops = size(filter(toks, t =>
      Stopwords.map(s => t === s).reduce[Column](_ || _)))
    when(size(toks) === 0, 0.0).otherwise(stops / size(toks))
  }

  /** Mean token length in characters. */
  def avgTokenLength(c: Column): Column = {
    val toks = tokens(c)
    when(size(toks) === 0, 0.0)
      .otherwise(aggregate(toks, lit(0), (acc, t) => acc + length(t)) / size(toks))
  }

  // ------------------------------------------- repetition signals
  // The Gopher/C4 family of repetition filters: heavily templated or
  // looping documents (the classic web-crawl failure mode) show up as
  // duplicated lines and duplicated/high-frequency word n-grams.
  // All-native expressions except the per-doc top-gram count, which
  // needs one (doc, gram) aggregation — key-partitioned, scales.

  /** All word 2-grams WITH multiplicity (unlike `Dedup.shingles`,
    * which distincts) — repetition measurement needs the duplicates.
    */
  def wordBigrams(c: Column): Column = {
    val t = tokens(c)
    val n = greatest(size(t) - 1, lit(0))
    zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
      (a, b) => concat(a, lit(" "), b))
  }

  /** Fraction of non-blank lines that are duplicates of an earlier
    * line (0 for line-less docs).
    */
  def dupLineFraction(c: Column): Column = {
    val ls = filter(split(coalesce(c, lit("")), "\n"), l => trim(l) =!= "")
    when(size(ls) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(ls)).cast("double") / size(ls))
  }

  /** Fraction of word 2-grams that are repeats (0 when fewer than two
    * tokens).
    */
  def dupBigramFraction(c: Column): Column = {
    val g = wordBigrams(c)
    when(size(g) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(g)).cast("double") / size(g))
  }

  /** Top-2-gram mass: max multiplicity of any single 2-gram over the
    * total 2-gram count (0.0 when fewer than two tokens), via
    * array_sort + a run-length fold. This replaces the (doc, gram)
    * explode → two-level aggregation the Gopher top-gram-mass rule used
    * to require — the single biggest shuffle of the curation cascade
    * (the exploded gram multiset is token-volume-sized), removed
    * outright (guide §2.4); counts are exact integers either way, so
    * filter outcomes are bit-identical (pinned in TextAnalysisSpec
    * against the explode form).
    *
    * The fold appears exactly ONCE in the expression tree (referencing
    * several struct fields of one fold duplicates the whole sort+fold
    * per field — codegen subexpression elimination does not cover
    * higher-order functions); n2 comes from the cheap closed form
    * instead (|tokens|−1 clamped at 0 ≡ |bigrams|).
    */
  def topBigramFraction(c: Column): Column = {
    val n2 = greatest(size(tokens(c)) - 1, lit(0)).cast("long")
    val best = aggregate(array_sort(wordBigrams(c)),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, g) => {
        val run = when(g === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(n2 === 0, lit(0.0)).otherwise(best.cast("double") / n2)
  }

  /** The curation cascade's repetition gate as ONE fold (r15): the
    * conjunction tokenCount ≥ minTokens ∧ dupBigramFraction ≤
    * maxDupFrac ∧ topBigramFraction ≤ maxTopFrac previously built the
    * bigram array TWICE (dup + top are separate higher-order
    * expressions codegen CSE cannot share) plus an array_distinct and
    * a sort+fold. One sorted pass yields both signals — the distinct
    * count is the number of runs, the top multiplicity the longest
    * run — and the finish lambda emits the final boolean, so the fold
    * is referenced exactly once (the r14 struct-field-duplication
    * trap). Boolean-identical to the conjunction for every row,
    * including null/empty text (false: tokenCount is 0) and the
    * gram-less n2=0 edge (both fractions are 0.0 there, so the gate
    * reduces to the token floor) — pinned in TextAnalysisSpec.
    */
  def repetitionGate(
      c: Column, minTokens: Int, maxDupFrac: Double, maxTopFrac: Double): Column = {
    val n = size(tokens(c))
    val verdict = aggregate(array_sort(wordBigrams(c)),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"),
        lit(0L).as("dist"), lit(0L).as("cnt")),
      (acc, g) => {
        val isNew = g =!= acc.getField("prev")
        val run = when(isNew, lit(1L)).otherwise(acc.getField("run") + 1L)
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"),
          (acc.getField("dist") + when(isNew, 1L).otherwise(0L)).as("dist"),
          (acc.getField("cnt") + 1L).as("cnt"))
      },
      acc => {
        val cnt = acc.getField("cnt")
        when(cnt === 0L, lit(true)).otherwise(
          (lit(1.0) - acc.getField("dist").cast("double") / cnt.cast("double"))
            <= maxDupFrac &&
            (acc.getField("best").cast("double") / cnt.cast("double")) <= maxTopFrac)
      })
    when(c.isNull || trim(c) === "", lit(false))
      .otherwise(n >= minTokens && verdict)
  }

  /** Composite quality score in [0,1]: length saturation, low stopword
    * share, healthy token length (heuristics in the C4/Gopher-rules
    * spirit; weights are policy, the plumbing is the point).
    */
  def qualityScore(c: Column): Column = round(qualityScoreRaw(c), 6)

  /** The UNROUNDED score: every term is exact integer arithmetic plus
    * correctly-rounded IEEE divisions in a fixed order, so the raw
    * double is bit-identical across engines — the form to ORDER or
    * THRESHOLD on. The rounded form above can differ cross-engine on
    * exact half-way values (e.g. raw 0.5186875: Spark HALF_UP gives
    * 0.518688 where DuckDB gives 0.518687), so queries exposing a
    * single document's score should emit floor(raw·1e6) instead.
    */
  def qualityScoreRaw(c: Column): Column =
    least(tokenCount(c) / 100.0, lit(1.0)) * 0.4 +
      (lit(1.0) - stopwordRatio(c)) * 0.3 +
      least(avgTokenLength(c) / 8.0, lit(1.0)) * 0.3

  /** Marker-word language ID over (en, de, fr, es, vi): predicts the
    * language whose marker tokens appear most often; ties and all-zero
    * scores fall back to 'und'. Native expression; profiles are tiny
    * embedded lists, not a model.
    *
    * ONE tokenize pass per row: the per-language counts accumulate in a
    * single `aggregate` over the token array (one 5-int vector updated
    * per token), and the argmax runs inside a `transform` lambda so the
    * counts vector is BOUND TO A LAMBDA VARIABLE — evaluated once, then
    * referenced. The previous formulation inlined the whole
    * filter-count expression into `greatest` and into every `when`
    * branch; after CollapseProject that re-evaluated the `split` ~30×
    * per row — harmless at 5 languages, combinatorial at a realistic
    * 50-language profile (round-5 advice). Whole-stage codegen's
    * subexpression elimination does NOT rescue the old shape:
    * conditionally-evaluated `when` branches are excluded from it.
    */
  def langIdMarkers(c: Column): Column = {
    val markers = Seq(
      "en" -> Seq("the", "and", "of", "a", "is"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "fr" -> Seq("le", "la", "les", "et", "est"),
      "es" -> Seq("el", "los", "las", "es", "y"),
      "vi" -> Seq("và", "của", "là", "các", "cho"))
    val counts = aggregate(
      tokens(lower(c)),
      array(markers.map(_ => lit(0)): _*),
      (acc, t) => array(markers.zipWithIndex.map { case ((_, ws), i) =>
        element_at(acc, i + 1) +
          when(ws.map(w => t === w).reduce[Column](_ || _), 1).otherwise(0)
      }: _*))
    element_at(
      transform(array(counts), cnts => {
        val best = array_max(cnts)
        markers.zipWithIndex.foldLeft(when(best <= 0, "und")) {
          case (acc, ((lang, _), i)) =>
            acc.when(element_at(cnts, i + 1) === best, lang) // first lang in marker order wins ties
        }.otherwise("und")
      }),
      1)
  }

  /** Content fingerprint: first 16 hex chars of md5 over normalized text. */
  def fingerprint16(c: Column): Column = substring(md5(Dedup.normalizeText(c)), 1, 16)

  /** Unicode-correct text normalization — the first stage of every
    * real corpus pipeline (before any dedup hash or tokenizer): NFC
    * composition (java.text.Normalizer — the same Unicode NFC that
    * DuckDB's utf8proc `nfc_normalize` implements, which is what
    * makes q_l53 oracle-checkable), C0 control characters stripped
    * (tab/newline survive only as whitespace), whitespace runs
    * squeezed to single spaces, ends trimmed. Unlike
    * `Dedup.normalizeText` (a lossy lowercase dedup KEY), this is a
    * content-preserving canonical form safe to TRAIN on. NFC is a
    * per-codepoint table lookup — a UDF by necessity, but one pass,
    * no allocation beyond the output.
    */
  private[llm] def unicodeNormalizeImpl(s: String): String =
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      .replaceAll("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
      .replaceAll("\\s+", " ")
      .trim
  private val unicodeNormalizeUdf = udf(unicodeNormalizeImpl _)
  def unicodeNormalize(c: Column): Column = unicodeNormalizeUdf(c)

  // ------------------------------------------------------------ winnowing
  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    * k-gram of characters, slide a window of w hashes, keep each
    * window's minimum — the classic local document-fingerprint
    * guarantee for substring matching at scale. Gram hashes are the
    * first 64 md5 bits (unsigned compare) so the DuckDB oracle can
    * replay the selection exactly (q_l13): the selected VALUES are
    * per-window minima, which SQL window-min reproduces regardless of
    * tie position.
    */
  private[llm] def winnow(text: String, k: Int, w: Int): Seq[Long] = {
    if (text == null || text.length < k) return Seq.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val digestBuf = new Array[Byte](16)
    val n = text.length - k + 1
    val hashes = new Array[Long](n)
    // Batched digesting: encode the whole text to UTF-8 once and feed
    // each gram as a byte slice (char index → byte offset precomputed),
    // instead of substring+getBytes per position — same hashes, no
    // per-gram String/array allocation. Lone-surrogate texts (where a
    // gram boundary could split a code point, changing the encoding)
    // fall back to the per-substring path.
    var hasSurrogate = false
    var ci = 0
    while (ci < text.length && !hasSurrogate) {
      if (Character.isSurrogate(text.charAt(ci))) hasSurrogate = true
      ci += 1
    }
    if (!hasSurrogate) {
      val bytes = text.getBytes("UTF-8")
      val offs = new Array[Int](text.length + 1)
      var bi = 0
      ci = 0
      while (ci < text.length) {
        offs(ci) = bi
        val c = text.charAt(ci)
        bi += (if (c < 0x80) 1 else if (c < 0x800) 2 else 3)
        ci += 1
      }
      offs(text.length) = bi
      var i = 0
      while (i < n) {
        md.reset()
        md.update(bytes, offs(i), offs(i + k) - offs(i))
        md.digest(digestBuf, 0, 16)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (digestBuf(b) & 0xffL); b += 1 }
        hashes(i) = h
        i += 1
      }
    } else {
      var i = 0
      while (i < n) {
        md.reset()
        md.update(text.substring(i, i + k).getBytes("UTF-8"))
        md.digest(digestBuf, 0, 16)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (digestBuf(b) & 0xffL); b += 1 }
        hashes(i) = h
        i += 1
      }
    }
    // unsigned ordering (md5 bits are uniform in [0, 2^64))
    def lt(a: Long, b: Long): Boolean = java.lang.Long.compareUnsigned(a, b) < 0
    if (n <= w) return Seq(hashes.reduce((a, b) => if (lt(b, a)) b else a))
    // Distinct selected minima as a primitive sort+dedup: the previous
    // LinkedHashSet[Long] boxed every candidate (millions of
    // allocations per partition at sf0.1). Consecutive windows usually
    // re-select the same minimum, so the adjacent-duplicate skip drops
    // most repeats before the sort. Output order differs from
    // first-seen but every consumer (explode → set ops) and the oracle
    // (DISTINCT) treat the fingerprints as a set.
    val sel = new Array[Long](n - w + 1)
    var nSel = 0
    var prev = 0L
    var start = 0
    while (start + w <= n) {
      var minIdx = start
      var m = start
      while (m < start + w) { if (!lt(hashes(minIdx), hashes(m))) minIdx = m; m += 1 }
      val h = hashes(minIdx)
      if (nSel == 0 || h != prev) { sel(nSel) = h; nSel += 1; prev = h }
      start += 1
    }
    java.util.Arrays.sort(sel, 0, nSel)
    val out = new Array[Long](nSel)
    var nOut = 0
    var i2 = 0
    while (i2 < nSel) {
      if (nOut == 0 || sel(i2) != out(nOut - 1)) { out(nOut) = sel(i2); nOut += 1 }
      i2 += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      java.util.Arrays.copyOf(out, nOut))
  }
  val winnowUdf = udf((t: String, k: Int, w: Int) => winnow(t, k, w))
}
