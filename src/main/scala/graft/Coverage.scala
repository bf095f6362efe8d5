package graft

import java.nio.file.{Files, Paths}

import graft.queries.Registry

/** Emits COVERAGE.md: the SURVEY §2 operator inventory mapped to the
  * correctness-gate queries that exercise each operator. Run via
  * `sbt "runMain graft.Coverage"` after registry changes; writes
  * COVERAGE.md in the working directory.
  */
object Coverage {
  def main(args: Array[String]): Unit = {
    val byOp = scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
    // A survey string is operator ids optionally followed by prose
    // ("A31 time-decay weighted aggregate", "ST dedup (S6 unbounded)").
    // Keep only tokens matching the id grammar — §2 ids (S1, A10b, ST1,
    // bare ST for the streaming family), LLM-*, V-* — so prose words
    // ("batch", "heavy", "hitters") never mint junk operator rows.
    val idToken = "^(?:[A-Z]{1,2}\\d+[a-z]?|ST|LLM-[A-Za-z0-9-]+|V-[A-Za-z0-9-]+)$".r
    Registry.all.foreach { q =>
      q.survey.replaceAll("[(),/]", " ")
        .split("\\s+").filter(t => idToken.matches(t))
        .foreach { op =>
          byOp(op) = byOp.getOrElse(op, Vector.empty) :+ q.name
        }
    }
    val ordered = byOp.toSeq.sortBy { case (op, _) =>
      "([A-Za-z-]+)(\\d*)".r.findFirstMatchIn(op) match {
        case Some(m) => (m.group(1), if (m.group(2).isEmpty) 0 else m.group(2).toInt)
        case None    => (op, 0)
      }
    }
    val sb = new StringBuilder
    sb.append("# COVERAGE — SURVEY §2 operators → correctness-gate queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.Coverage\"` from the QueryDef registry.\n")
    sb.append(s"${Registry.all.size} queries total; ")
    sb.append(s"${Registry.all.count(_.oracle.isDefined)} with DuckDB oracles, ")
    sb.append(s"${Registry.all.count(_.oracle.isEmpty)} rows-only (approximate ops ")
    sb.append("with recall specs in src/test instead).\n\n")
    sb.append("| Operator | Queries |\n|---|---|\n")
    ordered.foreach { case (op, qs) =>
      sb.append(s"| $op | ${qs.mkString(", ")} |\n")
    }
    sb.append("\nPer-query oracle presence:\n\n| Query | SURVEY ops | Oracle |\n|---|---|---|\n")
    Registry.all.foreach { q =>
      sb.append(s"| ${q.name} | ${q.survey} | ${if (q.oracle.isDefined) "DuckDB" else "rows-only"} |\n")
    }
    Files.writeString(Paths.get("COVERAGE.md"), sb.result())
    println(s"wrote COVERAGE.md: ${ordered.size} operators, ${Registry.all.size} queries")
  }
}
