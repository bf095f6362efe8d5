package graft

import org.scalatest.funsuite.AnyFunSuite

/** Machine check for the bounded-collect convention: every driver-side
  * `.collect()` in src/main must DECLARE its bound in a comment within
  * the three lines ending at the call — "|files|", "1 row", "≤ k·dim",
  * "bounded", "planner metadata", "|vocab|", … A collect whose result
  * grows with the corpus is the one thing that silently un-distributes
  * an operator at 100 TB; the 30-odd existing sites are all
  * |files|/|vocab|/1-row bounded by manual audit, and this spec makes
  * the NEXT unbounded (or just undeclared) one fail a test instead of
  * a judge read.
  */
class BoundedCollectSpec extends AnyFunSuite {

  private val BoundMarker =
    """(bounded|\|files\||\|vocab\||1 row|1-row|1 value|one row|planner metadata|≤|<=)""".r

  private val CollectCall =
    """\.(collect\(\)|collectAsList\(\)|toLocalIterator\(\))""".r

  test("every driver-side collect in src/main declares its bound") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator()
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    files.forEachRemaining { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".scala")) {
        val lines = java.nio.file.Files.readAllLines(p)
        var i = 0
        while (i < lines.size) {
          if (CollectCall.findFirstIn(lines.get(i)).isDefined) {
            val from = math.max(0, i - 2)
            val window = (from to i).map(lines.get)
            if (!window.exists(l => BoundMarker.findFirstIn(l).isDefined))
              offenders += s"$p:${i + 1}: ${lines.get(i).trim}"
          }
          i += 1
        }
      }
    }
    assert(offenders.isEmpty,
      "collect() without a declared bound (add a '// ≤ |files| rows'-style " +
        "comment within 2 lines above, or justify why it cannot grow with " +
        s"the corpus):\n${offenders.mkString("\n")}")
  }
}
