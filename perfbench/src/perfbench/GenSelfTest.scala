package perfbench

import java.time.LocalDate

import org.apache.spark.sql.Row

/** The generator's own tests (run by perfbench/tests/test_generator.py):
  * the same seed gives identical rows, different seeds give different
  * rows, and the rows cover every golden input shape. Needs no Spark
  * session. Exits 1 on the first failed assertion.
  */
object GenSelfTest {

  private val Day = LocalDate.parse("2026-08-12")

  private def crawl(seed: Long, k: Knobs): (Vector[Row], Vector[Batch]) = {
    val g = new Gen(seed, k)
    val init = g.initial(Day)
    (init, Vector.tabulate(4)(i => g.batch(Day.plusDays(i + 1L))))
  }

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) {
      System.err.println(s"FAIL: $what")
      sys.exit(1)
    } else println(s"ok: $what")

  def main(args: Array[String]): Unit = {
    for ((name, kk) <- Seq("full_load" -> Workloads.FullLoad, "views" -> Workloads.Views)) {
      val a = crawl(11L, kk)
      val b = crawl(11L, kk)
      val c = crawl(12L, kk)
      check(a == b, s"$name: same seed gives identical rows and batches")
      check(a._1 != c._1, s"$name: different seeds give different initial rows")
      if (kk.batchJobs > 0)
        check(a._2.map(_.rows) != c._2.map(_.rows), s"$name: different seeds give different batches")
      check(a._1.size == kk.jobs + (kk.jobs * kk.dupShare).toInt,
        s"$name: initial rows = jobs + re-crawls")
      check(a._1.map(_.getString(0)).distinct.size == kk.jobs, s"$name: distinct job ids = jobs")
      check(a._2.forall(bt => bt.rows.size == kk.batchJobs &&
        bt.newJobs + bt.changedJobs + bt.unchangedJobs == kk.batchJobs),
        s"$name: batches hold new + changed + unchanged jobs")
      val months = a._1.map(_.getTimestamp(14).toString.take(7)).distinct
      check(months.size == kk.months, s"$name: crawl spans ${kk.months} load months")
      // the reference's 243 companies over 383 jobs (BASELINE.md)
      val perJob = a._1.map(_.getString(3)).distinct.size.toDouble / kk.jobs
      check(perJob > 0.6 && perJob < 0.67, f"$name: $perJob%.3f companies per job, about 243/383")
    }

    val rows = crawl(3L, Workloads.FullLoad)._1
    def col(i: Int) = rows.map(r => Option(r.get(i)).map(_.toString).orNull)
    val salary = col(5)
    Seq("""^\d+ - \d+ triệu$""" -> "range in triệu", """^\d,\d00 - \d,000 USD$""" -> "USD range",
      """^tới \d,\d00 USD$""" -> "tới … USD", """^tới \d+ triệu$""" -> "tới … triệu",
      """^từ \d+ triệu$""" -> "từ …", """^Thoả thuận$""" -> "Thoả thuận",
      """^\d+,\d triệu$""" -> "comma decimal", """^\d+ USD$""" -> "USD without dash",
      """^$""" -> "empty salary")
      .foreach { case (re, what) =>
        check(salary.exists(s => s != null && s.matches(re)), s"salary form: $what")
      }
    check(salary.contains(null), "null salary")
    val detail = col(8).filter(_ != null)
    check(detail.exists(_.count(_ == ':') == 1), "single-city location_detail HTML")
    check(detail.exists(_.contains("<br/>")), "multi-city location_detail HTML")
    check(col(8).contains(null) && col(7).contains(null), "null location and detail")
    val companies = col(3)
    check(companies.exists(c => c.exists(_.isUpper) && c.exists(_.isLower)),
      "mixed-case company names")
    check(companies.exists(_.exists(ch => "ôơưăđâêĐÔƠẦỔÀ".contains(ch))),
      "Vietnamese company names")
    check(col(11).exists(s => s != null && s.endsWith("trước")), "relative last_update")
    check(col(11).contains(null) && col(13).contains(null) && col(12).contains(null),
      "null last_update, posted_time, logo_url")
    check(col(9).contains(null), "null deadline")
  }
}
