package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY §5 test plan, item 2): branch totality of the
  * salary parser, never-empty output of the location parser, and date
  * explosion bounds — run over ScalaCheck-generated inputs, not just
  * goldens. (Generators are sampled with a fixed seed directly — the
  * scalatest-scalacheck bridge isn't on the offline classpath.)
  */
class PropertySpec extends AnyFunSuite {
  private def samples[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L)).get
  private lazy val spark = TestSpark.spark

  private val salaryGen: Gen[String] = Gen.oneOf(
    for (a <- Gen.chooseNum(0, 500); b <- Gen.chooseNum(0, 500);
         u <- Gen.oneOf("triệu", "USD", "usd")) yield s"$a - $b $u",
    for (a <- Gen.chooseNum(0, 9999); u <- Gen.oneOf("triệu", "USD"))
      yield s"tới $a $u",
    for (a <- Gen.chooseNum(0, 999)) yield s"từ $a triệu",
    for (a <- Gen.chooseNum(0, 999); u <- Gen.oneOf("triệu", "USD")) yield s"$a $u",
    Gen.alphaNumStr,
    Gen.oneOf("", "Thoả thuận", "Cạnh tranh", "1,5 - 2,5 triệu", "0.0 - 0.0 triệu"))

  test("normalize_salary is total: valid type, non-null non-negative bounds") {
    val inputs = samples(salaryGen, 200)
    import spark.implicits._
    val rows = inputs.toDF("salary")
      .select(SalaryFns.normalizeSalary(col("salary")).as("r"))
      .select("r.salary_min", "r.salary_max", "r.salary_type")
      .collect()
    rows.zip(inputs).foreach { case (r, in) =>
      assert(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2), s"null field for '$in'")
      assert(Set("negotiable", "range", "upto", "from").contains(r.getString(2)), s"'$in'")
      assert(r.getDouble(0) >= 0 && r.getDouble(1) >= 0, s"negative for '$in'")
      // post-guard: max only stays 0 when min is 0 (stored_procedures.sql:100-101)
      if (r.getDouble(1) == 0.0) assert(r.getDouble(0) == 0.0, s"guard violated for '$in'")
    }
  }

  test("custom salary expression equals the column-chain spec on generated inputs") {
    val inputs = samples(salaryGen, 300)
    import spark.implicits._
    val rows = inputs.toDF("salary")
      .select(col("salary"),
        SalaryFns.normalizeSalary(col("salary")).as("fast"),
        SalaryColumnChain.normalizeSalary(col("salary")).as("spec"))
      .collect()
    rows.foreach { r =>
      assert(r.get(1) == r.get(2), s"divergence for '${r.getString(0)}'")
    }
  }

  private val locationGen: Gen[String] = {
    val word = Gen.oneOf("Hà Nội", "TP.HCM", "Đà Nẵng", "Quận 1", "Cầu Giấy", "X", "")
    Gen.oneOf(
      word,
      for (a <- word; b <- word) yield s"$a: $b",
      for (a <- word; b <- word; c <- word) yield s"$a: $b, $c",
      for (a <- word; b <- word) yield s"$a │ $b",
      for (a <- word; b <- word) yield s"""["$a: $b"]""",
      Gen.const(null.asInstanceOf[String]))
  }

  test("parse_job_location always yields at least one triple with a non-null city") {
    samples(locationGen, 300).foreach { loc =>
      val out = LocationFns.parseJobLocationImpl(loc)
      assert(out.nonEmpty, s"empty for '$loc'")
      assert(out.forall(_.city != null), s"null city for '$loc'")
    }
  }

  test("daily fact dates stay within the [-90d, +180d] clamp and are consecutive") {
    import spark.implicits._
    def day(off: Long): String =
      java.time.LocalDate.parse("2026-08-12").plusDays(off).toString + " 00:00:00"
    val gen = for {
      p <- Gen.option(Gen.chooseNum(-400L, 400L))
      d <- Gen.option(Gen.chooseNum(-400L, 400L))
    } yield (p.map(day), d.map(day))
    val cases = samples(gen, 100)
    val out = cases.zipWithIndex
      .map { case ((p, d), i) => (i.toLong, p, d) }
      .toDF("id", "posted", "due")
      .select(col("id"),
        TimeFns.dailyFactDates(to_timestamp(col("posted")), to_timestamp(col("due")),
          to_timestamp(lit("2026-08-12 10:30:00"))).as("dates"))
      .collect()
    val lo = java.time.LocalDate.parse("2026-05-14") // asOf − 90d
    val hi = java.time.LocalDate.parse("2027-02-08") // asOf + 180d
    out.foreach { r =>
      val ds = r.getSeq[java.sql.Date](1).map(_.toLocalDate)
      ds.foreach(d => assert(!d.isBefore(lo) && !d.isAfter(hi), s"out of clamp: $d"))
      ds.sliding(2).foreach {
        case Seq(a, b) => assert(b == a.plusDays(1), "not consecutive")
        case _ =>
      }
    }
  }

}
