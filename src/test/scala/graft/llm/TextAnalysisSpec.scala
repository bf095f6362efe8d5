package graft.llm

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("repetition signals match hand-computed values on planted docs") {
    val docs = Seq(
      // 4 lines, one duplicated → dup_line 1/4; bigrams: "a b","b a",
      // "a b" x2 span lines? no — tokens cross lines via \s+:
      // tokens = a b b a a b c → bigrams: "a b","b b","b a","a a","a b","b c"
      // 6 bigrams, 5 distinct → dup2 = 1/6
      ("looper", "a b\nb a\na b\nc"),
      // all lines distinct, all bigrams distinct
      ("clean", "x y\nz w"),
      // fewer than two tokens → no bigrams, no dup
      ("tiny", "x"),
      ("empty", "")
    ).toDF("doc_id", "text")
    val got = docs.select(
        col("doc_id"),
        TextAnalysis.dupLineFraction(col("text")).as("dupl"),
        TextAnalysis.dupBigramFraction(col("text")).as("dup2"),
        size(TextAnalysis.wordBigrams(col("text"))).as("n2"))
      .as[(String, Double, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("looper")._1 == 0.25)
    assert(math.abs(got("looper")._2 - 1.0 / 6) < 1e-9)
    assert(got("looper")._3 == 6)
    assert(got("clean") == ((0.0, 0.0, 3))) // "x y","y z","z w"
    assert(got("tiny") == ((0.0, 0.0, 0)))
    assert(got("empty") == ((0.0, 0.0, 0)))
  }

  test("unicodeNormalize: NFC composition, control strip, whitespace squeeze") {
    val f = TextAnalysis.unicodeNormalizeImpl _
    assert(f(null) == null)
    assert(f("a  b\t\nc") == "a b c")
    assert(f("  padded  ") == "padded")
    assert(f("x\u0007y\u0000z") == "xyz") // BEL + NUL stripped, no space left
    assert(f("e\u0301") == "\u00e9") // decomposed composes to one codepoint
    assert(f("e\u0301").length == 1)
    assert(f("\u00e9") == "\u00e9") // already-NFC input is a fixpoint
    assert(f("a\u000bb") == "ab") // VT is in the stripped control class
    assert(f("word1   word2") == "word1 word2")
  }

  test("topBigramFraction run-length fold equals the explode+groupBy form") {
    // the fold replaced the (doc, gram) shuffle in q_l21b/q_l24/q_l70/
    // q_l78 (r14 optimization) — equality must hold on repetition-heavy,
    // tiny, and empty docs alike
    val docs = Seq(
      ("rep", "spam spam spam spam ham spam spam"),
      ("uniq", "the quick brown fox jumps over the lazy dog"),
      ("loop", (1 to 30).map(_ => "ab cd").mkString(" ")),
      ("two", "x y"),
      ("one", "x"),
      ("empty", ""),
      ("nullish", null)
    ).toDF("doc_id", "text")
    val tt = trim(coalesce(col("text"), lit("")))
    val viaFold = docs.select(col("doc_id"), TextAnalysis.topBigramFraction(tt))
      .as[(String, Double)].collect().toMap
    val viaExplode = docs
      .select(col("doc_id"), explode(TextAnalysis.wordBigrams(tt)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg((max("c").cast("double") / sum("c")).as("top2f"))
      .as[(String, Double)].collect().toMap
    docs.select("doc_id").as[String].collect().foreach { id =>
      // gram-less docs drop out of the explode: their fraction is 0.0
      val expl = viaExplode.getOrElse(id, 0.0)
      assert(viaFold(id) == expl, s"$id: fold=${viaFold(id)} explode=$expl")
    }
    assert(viaFold("rep") == 4.0 / 6) // "spam spam" runs: 3+1 → max 4 of 6
    assert(viaFold("loop") >= 29.0 / 59) // "cd ab" repeats 29x
    assert(viaFold("one") == 0.0 && viaFold("empty") == 0.0 && viaFold("nullish") == 0.0)
  }

  test("repetitionGate equals the three-predicate conjunction row for row") {
    // the r15 single-fold gate must pass EXACTLY the rows
    // tokenCount≥min ∧ dupBigramFraction≤maxDup ∧ topBigramFraction≤
    // maxTop passed — planted docs cover null/empty text, the 0-gram
    // edge, threshold-exact fractions, and both long-doc outcomes
    // 50 uniq tokens: 49 distinct bigrams, top run 1 → 1/49 ≤ 0.025
    val long30 = (1 to 50).map(i => s"w$i").mkString(" ")
    val loopy  = (1 to 30).map(_ => "ab").mkString(" ")       // dup/top blow both bounds
    val docs = Seq(
      ("pass", long30),
      ("loop", loopy),
      ("mixed", long30 + " " + loopy),
      ("short", "only a few tokens here"),
      ("empty", ""),
      ("blank", "   "),
      ("nullish", null)
    ).toDF("doc_id", "text")
    val conj =
      TextAnalysis.tokenCount(col("text")) >= 30 &&
        TextAnalysis.dupBigramFraction(col("text")) <= 0.05 &&
        TextAnalysis.topBigramFraction(trim(coalesce(col("text"), lit("")))) <= 0.025
    val got = docs.select(col("doc_id"),
        TextAnalysis.repetitionGate(col("text"), 30, 0.05, 0.025).as("gate"),
        coalesce(conj, lit(false)).as("conj"))
      .as[(String, Boolean, Boolean)].collect()
    got.foreach { case (id, gate, conj0) =>
      assert(gate == conj0, s"$id: gate=$gate conjunction=$conj0")
    }
    val byId = got.map(r => r._1 -> r._2).toMap
    assert(byId("pass") && !byId("loop") && !byId("short") &&
      !byId("empty") && !byId("blank") && !byId("nullish"))
  }
}
