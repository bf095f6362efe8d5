package graft.functions

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** F6-F10: the Vietnamese location-parse family — the system's
  * generator/UDTF (SURVEY §2.10). A job's location strings explode into
  * (province, city, district) rows feeding DimLocation and the
  * fact-location bridge.
  *
  * Semantics mirror /root/reference/src/processing/data_processing.py:6-69
  * (extract_location_info, refine_location) and
  * src/processing/data_prepare.py:432-652 (parse_location_pair,
  * extract_location_pairs_list, parse_job_location).
  *
  * These are Scala UDFs returning arrays (exploded by callers): the
  * logic is branchy string surgery with JSON/python-literal fallback
  * parsing — a custom Generator would buy nothing over
  * `explode(udf(...))`, which Catalyst already pipelines.
  */
object LocationFns {

  /** One parsed location. */
  case class Loc(province: String, city: String, district: String)

  // ------------------------------------------------------------ helpers

  /** json.loads outcomes we care about: an array of scalars, a non-array
    * scalar (kept as its string form), or not-JSON.
    */
  private sealed trait Json
  private case class JsonArr(items: List[String]) extends Json
  private case class JsonScalar(value: String) extends Json
  private case object NotJson extends Json

  // ObjectMapper is thread-safe for readTree and expensive to build —
  // constructing one PER ROW dominated the JSON-fallback path of the
  // E2 parse chain (guide §4.5: heavyweight state once, not per row)
  private val SharedMapper = new ObjectMapper()

  private def parseJson(s: String): Json = {
    try {
      val node = SharedMapper.readTree(s)
      if (node == null || node.isMissingNode) NotJson
      else if (node.isArray) {
        val it = node.elements()
        val buf = List.newBuilder[String]
        while (it.hasNext) {
          val e = it.next()
          buf += (if (e.isTextual) e.asText() else e.toString)
        }
        JsonArr(buf.result())
      } else JsonScalar(if (node.isTextual) node.asText() else node.toString)
    } catch { case _: Throwable => NotJson }
  }

  private def parseJsonList(s: String): Option[List[String]] =
    parseJson(s) match { case JsonArr(xs) => Some(xs); case _ => None }

  /** ast.literal_eval for the simple `['a', 'b']` quoted-string-list
    * shape the crawler emits; None on anything else.
    */
  private def parsePyList(s0: String): Option[List[String]] = {
    val s = s0.trim
    if (!(s.startsWith("[") && s.endsWith("]"))) return None
    val inner = s.substring(1, s.length - 1).trim
    if (inner.isEmpty) return Some(Nil)
    val items = List.newBuilder[String]
    var i = 0
    while (i < inner.length) {
      while (i < inner.length && (inner(i) == ' ' || inner(i) == ',')) i += 1
      if (i < inner.length) {
        val q = inner(i)
        if (q != '\'' && q != '"') return None
        val end = inner.indexOf(q, i + 1)
        if (end < 0) return None
        items += inner.substring(i + 1, end)
        i = end + 1
      }
    }
    Some(items.result())
  }

  // ------------------------------------------------------------ F6 extract_location_info
  /** Strip HTML tags (text nodes separated by newlines), keep
    * "key: value" pairs (both sides non-empty) and bare lines.
    */
  // precompiled: String.replaceAll re-compiles its pattern per call —
  // per ROW in this UDF (guide §4.5)
  private val TagPat = java.util.regex.Pattern.compile("<[^>]+>")

  private[functions] def extractLocationInfoImpl(html: String): Seq[String] = {
    if (html == null) return Seq.empty
    val text = TagPat.matcher(html).replaceAll("\n")
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).flatMap { line =>
      if (line.contains(":")) {
        val Array(k, v) = line.split(":", 2)
        if (k.trim.nonEmpty && v.trim.nonEmpty) Some(s"${k.trim}: ${v.trim}") else None
      } else Some(line)
    }.toSeq
  }
  val extractLocationInfoUdf = udf(extractLocationInfoImpl _)
  def extractLocationInfo(c: Column): Column = extractLocationInfoUdf(c)

  // ------------------------------------------------------------ F7 refine_location
  /** If location contains '&' and pairs is non-empty: dedup the city
    * prefixes of the pairs, join ", "; else pass through.
    */
  private[functions] def refineLocationImpl(location: String, pairs: Seq[String]): String = {
    if (location != null && location.contains("&") && pairs != null && pairs.nonEmpty) {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      pairs.foreach { item =>
        val city = (if (item.contains(":")) item.split(":", 2)(0) else item).trim
        if (city.nonEmpty) seen += city
      }
      seen.mkString(", ")
    } else location
  }
  val refineLocationUdf = udf(refineLocationImpl _)
  def refineLocation(location: Column, pairs: Column): Column =
    refineLocationUdf(location, pairs)

  // ------------------------------------------------------------ F8 parse_location_pair
  /** "A:B" → province/city when B contains "TP", else city/districts
    * (comma-split); no colon → bare city.
    */
  private[functions] def parseLocationPairImpl(pair0: String): (String, String, Seq[String]) = {
    if (pair0 == null || pair0.trim.isEmpty) return (null, null, Seq.empty)
    val pair = pair0.trim
    if (pair.contains(":")) {
      val Array(p1r, p2r) = pair.split(":", 2)
      val p1 = p1r.trim; val p2 = p2r.trim
      if (p2.toUpperCase.contains("TP")) (p1, p2, Seq.empty)
      else if (p2.contains(","))
        (null, p1, p2.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      else (null, p1, if (p2.nonEmpty) Seq(p2) else Seq.empty)
    } else (null, pair, Seq.empty)
  }

  // ------------------------------------------------------------ F9 extract_location_pairs_list
  /** Prefer location_pairs (JSON list / python list / plain string);
    * fall back to location, expanding "City │ D1, D2" to city:district
    * pairs.
    */
  private[functions] def extractLocationPairsListImpl(
      locationPairs: String, location: String): Seq[String] = {
    var list: List[String] = Nil
    if (locationPairs != null) {
      list = parseJson(locationPairs) match {
        case JsonArr(xs)    => xs
        case JsonScalar(v)  => List(v) // ref keeps str(parsed) here (data_prepare.py:505)
        case NotJson        => parsePyList(locationPairs).getOrElse(List(locationPairs))
      }
    }
    if (list.isEmpty && location != null) {
      val loc = location.trim
      if (loc.contains("│")) {
        val parts = loc.split("│", 2)
        val city = parts(0).trim
        val ds = parts(1).trim
        list =
          if (ds.contains(","))
            ds.split(",").map(_.trim).filter(_.nonEmpty).map(d => s"$city:$d").toList
          else List(s"$city:$ds")
      } else if (loc.nonEmpty) list = List(loc)
    }
    list
  }

  // ------------------------------------------------------------ F10 parse_job_location (the generator)
  private def parseSingleItem(item: String): List[Loc] = {
    if (item.contains("│")) {
      val segs = item.split("│").map(_.trim).filter(_.nonEmpty)
      segs.length match {
        case 2 => List(Loc(null, segs(0), segs(1)))
        case 3 => List(Loc(segs(0), segs(1), segs(2)))
        case 1 => List(Loc(null, segs(0), null))
        case 0 => Nil
        case _ => List(Loc(segs(0), segs(1), segs(2)))
      }
    } else if (item.contains(":")) {
      val Array(p1r, p2r) = item.split(":", 2)
      val p1 = p1r.trim; val p2 = p2r.trim
      if (p2.contains(",")) {
        p2.split(",").map(_.trim).filter(_.nonEmpty).toList.map { d =>
          if (d.toUpperCase.contains("TP")) Loc(p1, d, null) else Loc(null, p1, d)
        }
      } else if (p2.toUpperCase.contains("TP")) List(Loc(p1, p2, null))
      else List(Loc(null, p1, p2))
    } else List(Loc(null, item, null))
  }

  /** JSON list / python list / bare string → exploded location triples;
    * empty input → [(null, 'Unknown', null)].
    */
  private[functions] def parseJobLocationImpl(s: String): Seq[Loc] = {
    if (s == null || s.trim.isEmpty) return Seq(Loc(null, "Unknown", null))
    val items: List[String] = parseJsonList(s)
      .map(_.map(_.trim).filter(_.nonEmpty))
      .orElse(parsePyList(s).map(_.map(_.trim).filter(_.nonEmpty)))
      .getOrElse(List(s.trim))
    val out = items.filter(_.trim.nonEmpty).flatMap(i => parseSingleItem(i.trim))
    if (out.nonEmpty) out else Seq(Loc(null, "Unknown", null))
  }
  val parseJobLocationUdf = udf(parseJobLocationImpl _)

  /** Array column of struct(province, city, district) — explode me. */
  def parseJobLocation(c: Column): Column = parseJobLocationUdf(c)
}
