package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** F1 goldens — from FIXTURES.md §5 / sql/stored_procedures.sql:6-105,
  * corrected for actually-executed branch order (see SalaryFns scaladoc:
  * '0.0 - 0.0 triệu' hits the range branch, not the dead special case).
  */
class SalaryFnsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cases: Seq[(Option[String], (Double, Double, String))] = Seq(
    None -> ((0.0, 0.0, "negotiable")),
    Some("") -> ((0.0, 0.0, "negotiable")),
    Some("Thoả thuận") -> ((0.0, 0.0, "negotiable")),
    Some("15 - 20 triệu") -> ((15.0, 20.0, "range")),
    Some("1,000 - 2,000 USD") -> ((24.0, 48.0, "range")),
    Some("tới 1,500 USD") -> ((0.0, 36.0, "upto")),
    Some("tới 25 triệu") -> ((0.0, 25.0, "upto")),
    Some("từ 12 triệu") -> ((12.0, 12.0, "from")),
    Some("800 USD") -> ((19.2, 19.2, "range")),
    Some("10,5 triệu") -> ((10.5, 10.5, "range")),
    Some("0.0 - 0.0 triệu") -> ((0.0, 0.0, "range")),
    Some("Lương hấp dẫn") -> ((0.0, 0.0, "negotiable")),
    Some("Cạnh tranh") -> ((0.0, 0.0, "negotiable")),
    Some("30 triệu") -> ((30.0, 30.0, "range")))

  test("normalize_salary matches reference goldens") {
    import spark.implicits._
    val got = cases.map(_._1).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "salary")
      .select(col("id"), SalaryFns.normalizeSalary(col("salary")).as("r"))
      .orderBy("id")
      .select("r.salary_min", "r.salary_max", "r.salary_type")
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getString(2)))
    got.zip(cases).foreach { case (g, (in, exp)) =>
      assert(g == exp, s"input=$in")
    }
  }

  test("normalize_salary is SQL-callable via the extensions registration") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT normalize_salary('15 - 20 triệu') AS r, normalize_salary(NULL) AS n")
      .select("r.salary_min", "r.salary_max", "r.salary_type", "n.salary_type")
      .head()
    assert((r.getDouble(0), r.getDouble(1), r.getString(2)) == ((15.0, 20.0, "range")))
    assert(r.getString(3) == "negotiable")
    // the session-build path wires the same builders without error
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("custom expression equals the column-chain specification on goldens + fuzz") {
    import spark.implicits._
    val fuzz = Seq("5-9 triệu", "  ", "TỚI 7 TRIỆU", "từ 0 triệu", "1.5 - 2.5 triệu",
      "100 USD - nope", "triệu", "usd", "8 - 6 triệu", "0 USD", "9,9 - 11,1 triệu")
    val inputs = cases.flatMap(_._1) ++ fuzz
    val df = inputs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "salary")
    val both = df.select(col("id"),
      SalaryFns.normalizeSalary(col("salary")).as("fast"),
      SalaryColumnChain.normalizeSalary(col("salary")).as("spec"))
      .orderBy("id").collect()
    both.zip(inputs).foreach { case (r, in) =>
      assert(r.get(1) == r.get(2), s"input='$in': fast=${r.get(1)} spec=${r.get(2)}")
    }
  }
}
