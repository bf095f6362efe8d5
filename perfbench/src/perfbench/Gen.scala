package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** The knobs that shape the generated crawl. They belong to the
  * workload definition (see [[Workloads]]); the program under test never
  * sees them, only the rows they produce.
  *
  * The volumes follow the reference's published traffic (BASELINE.md,
  * "Data volume" row: 383 staging rows, about 1,915 facts at five days
  * per job, 243+ companies and 53+ locations). Each job draws its company
  * from a pool of `jobs` names, so about 1 - 1/e = 63% of them are used:
  * 242 companies for 383 jobs, against the reference's 243. Locations
  * come from the 45 districts of [[Gen.Districts]], which with the bare
  * city names make 53 `dim_location` rows at any job count. The shares below are not
  * published; each workload states its choice and the reason for it.
  *
  * @param jobs         distinct job ids in the initial crawl
  * @param dupShare     extra re-crawl rows of already-seen job ids in the
  *                     initial crawl, as a share of `jobs`
  * @param months       load months the initial crawl spans (ending at as-of)
  * @param maxCities    cities per job are drawn from 1..maxCities
  * @param batchJobs    jobs per daily batch
  * @param newShare     share of a daily batch that is brand-new jobs
  * @param changedShare share of a daily batch that re-crawls a known job
  *                     with a changed SCD2-tracked column (the rest are
  *                     unchanged re-crawls)
  */
final case class Knobs(
    jobs: Int, dupShare: Double, months: Int, maxCities: Int,
    batchJobs: Int, newShare: Double, changedShare: Double)

/** One generated daily batch and what the generator changed in it. */
final case class Batch(
    asOf: LocalDate, rows: Vector[Row],
    newJobs: Int, changedJobs: Int, unchangedJobs: Int, newCompanies: Int)

/** Seeded, crawler-shaped `raw_jobs` rows (the 15-column
  * `graft.schemas.Schemas.rawJobs` shape). Covers every golden input
  * shape of the reference fixtures: all salary forms, single- and
  * multi-city `location_detail` HTML, mixed-case Vietnamese company
  * names, relative `last_update` strings, and nulls.
  *
  * Same seed and knobs give identical rows; the generator is a plain
  * driver-side state machine over `scala.util.Random`, so it does not
  * depend on Spark, partitioning or wall-clock time.
  */
final class Gen(seed: Long, k: Knobs) {
  import Gen._

  private val rnd = new scala.util.Random(seed)

  private final case class Job(
      id: String, titleBase: Int, titleDeco: Int, company: Int, skills: String,
      lastUpdate: String, logo: String, cities: Vector[Int])

  /** Company pool: the numeric token keeps every standardized name
    * distinct, so company-dimension expectations stay exact.
    */
  private val companies: Vector[(String, String, Boolean)] =
    Vector.tabulate(math.max(8, k.jobs)) { i =>
      val form = CompanyForms(rnd.nextInt(CompanyForms.length))
      val word = CompanyWords(rnd.nextInt(CompanyWords.length))
      (form.replace("{}", s"$word ${1000 + i}"), s"https://co.example/$i", rnd.nextBoolean())
    }

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Job]
  private val seenCompanies = scala.collection.mutable.HashSet.empty[Int]
  private var nextJob = 0

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  private def newJob(): Job = {
    val id = f"J$seed%d-$nextJob%06d"
    nextJob += 1
    val nCities = 1 + rnd.nextInt(k.maxCities)
    val cities = rnd.shuffle(Cities.indices.toVector).take(nCities)
    val skills = rnd.shuffle(Skills.toVector).take(1 + rnd.nextInt(3))
      .map(s => "\"" + s + "\"").mkString("[", ", ", "]")
    Job(id, rnd.nextInt(Titles.length), rnd.nextInt(TitleDecos.length),
      rnd.nextInt(companies.length), skills, pick(LastUpdates),
      if (rnd.nextInt(4) == 0) s"https://logo.example/$id.png" else null, cities)
  }

  /** A different base title, so the cleaned title (an SCD2-tracked
    * column) is guaranteed to change.
    */
  private def changed(j: Job): Job = {
    val t = (j.titleBase + 1 + rnd.nextInt(Titles.length - 1)) % Titles.length
    j.copy(titleBase = t)
  }

  private def salary(): String = rnd.nextInt(12) match {
    case 0 => s"${5 + rnd.nextInt(20)} - ${25 + rnd.nextInt(20)} triệu"
    case 1 => s"${1 + rnd.nextInt(2)},${rnd.nextInt(10)}00 - ${3 + rnd.nextInt(2)},000 USD"
    case 2 => s"tới ${1 + rnd.nextInt(3)},${rnd.nextInt(10)}00 USD"
    case 3 => s"tới ${10 + rnd.nextInt(30)} triệu"
    case 4 => s"từ ${8 + rnd.nextInt(20)} triệu"
    case 5 => "Thoả thuận"
    case 6 => s"${8 + rnd.nextInt(10)},${1 + rnd.nextInt(9)} triệu"
    case 7 => s"${500 + 100 * rnd.nextInt(10)} USD"
    case 8 => "0.0 - 0.0 triệu"
    case 9 => null
    case 10 => ""
    case _ => s"${10 + rnd.nextInt(5)} - ${16 + rnd.nextInt(5)} triệu"
  }

  /** The freeform `location` string and its `location_detail` HTML. */
  private def location(j: Job): (String, String) = {
    val names = j.cities.map(Cities(_))
    val loc = rnd.nextInt(8) match {
      case 0 => null
      case 1 if names.head == "Hồ Chí Minh" => "TP HCM"
      case _ => names.mkString(" & ")
    }
    // only single-city jobs lack the HTML detail: a multi-city location
    // string without it becomes a location of its own, so the location
    // count would grow with the job count
    val detail =
      if (j.cities.size == 1 && rnd.nextInt(2) == 0) null
      else j.cities.map(c => s"${Cities(c)}: ${pick(Districts(c))}")
        .mkString("<div>", "<br/>", "</div>")
    (loc, detail)
  }

  private def row(j: Job, crawled: LocalDateTime): Row = {
    val (company, companyUrl, verified) = companies(j.company)
    val (loc, detail) = location(j)
    val deadline = if (rnd.nextInt(10) == 0) null else (1 + rnd.nextInt(45)).toString
    val posted =
      if (rnd.nextInt(3) == 0) null
      else ts(crawled.minusHours(1 + rnd.nextInt(240).toLong))
    Row(j.id, Titles(j.titleBase) + TitleDecos(j.titleDeco), s"https://jobs.example/${j.id}",
      company, companyUrl, salary(), j.skills, loc, detail, deadline,
      verified, j.lastUpdate, j.logo, posted, ts(crawled))
  }

  private def crawlTime(day: LocalDate): LocalDateTime =
    day.atStartOfDay().plusSeconds(rnd.nextInt(86400).toLong)

  /** The initial crawl: `jobs` distinct jobs spread over `months` load
    * months ending at `asOf`, plus `dupShare` re-crawl rows of earlier
    * jobs (later crawl times; the pipeline keeps the latest).
    */
  def initial(asOf: LocalDate): Vector[Row] = {
    val first = asOf.withDayOfMonth(1).minusMonths((k.months - 1).toLong)
    val span = java.time.temporal.ChronoUnit.DAYS.between(first, asOf).toInt
    val base = Vector.fill(k.jobs) {
      val j = newJob()
      jobs(j.id) = j
      seenCompanies += j.company
      val day = first.plusDays(rnd.nextInt(span).toLong)
      (j, crawlTime(day))
    }
    val dups = Vector.fill((k.jobs * k.dupShare).toInt) {
      val (j, t) = base(rnd.nextInt(base.length))
      val later = t.plusHours(1 + rnd.nextInt(24 * 20).toLong)
      (j, if (later.toLocalDate.isAfter(asOf)) t.plusSeconds(1) else later)
    }
    rnd.shuffle(base ++ dups).map { case (j, t) => row(j, t) }
  }

  /** The next daily batch at `asOf`: new jobs, unchanged re-crawls, and
    * re-crawls with a changed tracked column, each job once.
    */
  def batch(asOf: LocalDate): Batch = {
    val nNew = math.round(k.batchJobs * k.newShare).toInt
    val nChanged = math.round(k.batchJobs * k.changedShare).toInt
    val nSame = k.batchJobs - nNew - nChanged
    val known = rnd.shuffle(jobs.keys.toVector).take(nChanged + nSame)
    val companiesBefore = seenCompanies.size
    val fresh = Vector.fill(nNew) {
      val j = newJob()
      jobs(j.id) = j
      seenCompanies += j.company
      j
    }
    val edited = known.take(nChanged).map { id =>
      val j = changed(jobs(id))
      jobs(id) = j
      j
    }
    val same = known.drop(nChanged).map(jobs)
    val rows = rnd.shuffle(fresh ++ edited ++ same).map(j => row(j, crawlTime(asOf)))
    Batch(asOf, rows, nNew, nChanged, nSame, seenCompanies.size - companiesBefore)
  }
}

object Gen {
  private def ts(t: LocalDateTime): Timestamp = Timestamp.from(t.toInstant(ZoneOffset.UTC))

  val Titles: Vector[String] = Vector(
    "Senior Python Developer", "Frontend React Developer / Team Lead", "DevOps Engineer",
    "Data Engineer", "Backend Engineer", "QA Engineer", "Java Developer",
    "Mobile Developer", "Business Analyst", "Product Manager", "Data Analyst",
    "Kỹ sư phần mềm", "Chuyên viên tuyển dụng", "Nhân viên kinh doanh", "Kế toán tổng hợp",
    "Machine Learning Engineer", "Golang Developer", "Solution Architect",
    "Scrum Master", "UI UX Designer", "Tester", "System Administrator",
    "Embedded Engineer", "Fullstack Developer / NodeJS")
  val TitleDecos: Vector[String] = Vector(
    "", "", " - Urgent", " (AWS)", " - Lương cao", " (Remote)")
  val CompanyForms: Vector[String] = Vector(
    "công ty tnhh {}", "CÔNG TY CỔ PHẦN {} VIỆT NAM", "{} software",
    "Công Ty TNHH {} Việt Nam", "tập đoàn {}", "{} Solutions - Tuyển gấp")
  val CompanyWords: Vector[String] = Vector(
    "ABC", "XYZ", "fpt", "Sao Mai", "ánh dương", "TECHCOM", "Hòa Bình", "nova", "Đại Việt")
  val Cities: Vector[String] = Vector(
    "Hà Nội", "Hồ Chí Minh", "Đà Nẵng", "Hải Phòng", "Cần Thơ", "Bình Dương")
  /** 45 districts. With the six bare city names, "TP HCM" and
    * "Unknown" (no location at all) they make 53 locations, the
    * reference's published 53+ (BASELINE.md).
    */
  val Districts: Vector[Vector[String]] = Vector(
    Vector("Cầu Giấy", "Đống Đa", "Ba Đình", "Hoàn Kiếm", "Hai Bà Trưng", "Thanh Xuân",
      "Nam Từ Liêm", "Bắc Từ Liêm", "Hoàng Mai", "Long Biên", "Tây Hồ", "Hà Đông"),
    Vector("Quận 1", "Quận 3", "Quận 7", "Quận 10", "Bình Thạnh", "Phú Nhuận",
      "Tân Bình", "Gò Vấp", "Thủ Đức", "Tân Phú", "Bình Tân", "456 XYZ"),
    Vector("Hải Châu", "789 DEF", "Sơn Trà", "Thanh Khê", "Ngũ Hành Sơn", "Liên Chiểu",
      "Cẩm Lệ"),
    Vector("Lê Chân", "Ngô Quyền", "Hồng Bàng", "Hải An", "Kiến An"),
    Vector("Ninh Kiều", "Cái Răng", "Bình Thủy", "Ô Môn"),
    Vector("Thủ Dầu Một", "Dĩ An", "Thuận An", "Bến Cát", "Tân Uyên"))
  val Skills: Vector[String] = Vector(
    "Python", "Django", "Java", "Spark", "SQL", "React", "AWS", "Go", "Kotlin", "Excel")
  val LastUpdates: Vector[String] = Vector(
    "2 giờ trước", "1 ngày trước", "30 phút trước", "3 tuần trước", "45 giây trước",
    "Cập nhật 2 tháng trước", "vừa xong", "5 ngày trước", null)
}
