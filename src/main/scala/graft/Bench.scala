package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Harness.{num, obj}
import graft.queries.Registry

/** Benchmark main: runs the data-proportional queries against
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * Each query is fully materialized through a noop datasource write
  * (all columns computed and serialized — a bare .count() would let
  * Catalyst prune projection work and flatter the numbers). A failed
  * query reports -1.0 so breakage cannot masquerade as speed.
  *
  * Every query runs THREE times and the reported number is the min of
  * the successful passes: a single contended pass (GC storm, another
  * process on the box) cannot poison a round's signal, and measured
  * per-query warmup (whole-stage-codegen compilation of that query's
  * stages) only fully amortizes by the third execution — min-of-2
  * still charged queries for Janino compile time. All raw passes are
  * printed to stderr for auditability, with per-pass heap/storage
  * telemetry, so if a run IS degrading, the log says what grew.
  *
  * Set-up, protected state, the per-pass sweep and the work counters
  * are [[Harness]]'s. The JVM runs with an enlarged code cache
  * (build.sbt): codegen churns fresh classes per plan, and once the
  * default 240 MB cache filled, HotSpot disabled the JIT and every
  * later query ran interpreted ~5× slower — the dominant round-6
  * contamination.
  */
object Bench {
  private val Passes = 3

  def main(args: Array[String]): Unit = {
    // f-interpolators delegate to String.format under the DEFAULT
    // locale; pin ROOT so no host locale can corrupt numeric output.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val h = Harness.start(sfDir)
    val sc = h.spark.sparkContext
    val queries = SparkEntry.queries
    def telemetry: String = {
      val rt = Runtime.getRuntime
      val heap = (rt.totalMemory - rt.freeMemory) / (1 << 20)
      val storage = sc.getRDDStorageInfo.map(_.memSize).sum / (1 << 20)
      s"heapMB=$heap storageMB=$storage cachedRdds=${sc.getPersistentRDDs.size}"
    }
    // Per-query DuckDB oracle walls (tools/oracle_walls.py, committed
    // as repo-root ORACLE_WALLS.json): when present, each query's
    // BENCH_DETAIL work row also carries {oracleWall, ratio, floor} so
    // the BASELINE <=2x contract is per-query auditable from one
    // artifact. floor=true marks sub-1.5s Spark walls — at toy SF
    // those are per-job scheduling floor, not data work, so their
    // ratio must not be read as engine speed (DuckDB's per-query floor
    // is ~5 ms; Spark's is ~0.3-1 s regardless of data volume).
    val oracleWalls: Map[String, Double] = try {
      val p = Paths.get("ORACLE_WALLS.json")
      if (Files.exists(p)) {
        // real JSON parse — immune to key ordering, extra top-level
        // keys, and e-notation floats
        val walls = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Files.readString(p)).get("walls")
        if (walls == null) Map.empty
        else walls.properties.asScala.collect {
          case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble
        }.toMap
      } else Map.empty
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ORACLE_WALLS.json unreadable: $e"); Map.empty
    }
    // Optional name args restrict the run (dev iteration on a subset);
    // the driver passes none and always benches the full registry.
    val names =
      if (args.nonEmpty) Registry.benchNames.filter(args.toSet) else Registry.benchNames
    val results = names.map { name =>
      val runs = (1 to Passes).map { _ =>
        val r = h.run(queries(name)(h.spark, sfDir).write.format("noop").mode("overwrite").save())
        r.error.foreach(e => System.err.println(s"[bench] $name FAILED: ${e.getMessage}"))
        r
      }
      val ok = runs.filter(_.sec >= 0)
      val sec = if (ok.isEmpty) -1.0 else ok.map(_.sec).min
      val work = runs.map(r => f"${r.jobs}j/${r.tasks}t/${r.taskSec}%.1fs/${r.cpuSec}%.1fcpu")
        .mkString(",")
      System.err.println(f"[bench] $name passes=${runs.map(r => f"${r.sec}%.3f").mkString(",")}" +
        f" min=$sec%.3f work=$work $telemetry")
      // best (min-wall) pass's counters ride into BENCH_DETAIL.json so a
      // future wall anomaly self-adjudicates: identical jobs/tasks/cpuSec
      // vs a prior round with divergent wall = host noise, not the plan
      val bestWork = ok.sortBy(_.sec).headOption.map { b =>
        val vsOracle = oracleWalls.get(name).filter(_ > 0).toSeq.flatMap { o =>
          Seq("oracleWall" -> num(o, 3), "ratio" -> num(b.sec / o, 2), "floor" -> (b.sec < 1.5))
        }
        obj(Seq("wall" -> num(b.sec, 3), "jobs" -> b.jobs, "tasks" -> b.tasks,
          "taskSec" -> num(b.taskSec, 1), "cpuSec" -> num(b.cpuSec, 1)) ++ vsOracle: _*)
      }
      (name, sec, bestWork)
    }
    // The driver captures only the LAST 2000 chars of stdout. A single
    // line with ~90 full query names is ~2.4 KB and can never fit, so:
    //  - per-query detail goes on preceding stdout lines, sorted
    //    ASCENDING by time so the slowest (most informative) entries
    //    sit nearest the capture window;
    //  - the FINAL line is a compact summary, hard-capped well under
    //    the window, carrying the slowest entries that fit plus an
    //    explicit truncation marker;
    //  - the full-precision map is also written to a cwd-relative
    //    audit file (best-effort: a failed audit write must never
    //    suppress the stdout result).
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    val fullJson = Harness.json(obj(
      "metric" -> "total", "value" -> num(total, 3), "unit" -> "sec",
      "queries" -> obj(results.map { case (k, v, _) => k -> num(v, 3) }: _*),
      "work" -> obj(results.collect { case (k, _, Some(w)) => k -> w }: _*),
      "sf" -> sfDir))
    // Two copies: target/ for local dev, and a repo-root BENCH_DETAIL
    // .json the driver's end-of-round commit picks up — the stdout
    // summary stays truncated by the driver's 2000-char tail window,
    // so this file is the only complete, diffable per-query record.
    // a subset run (dev iteration with name args) must not clobber the
    // repo-root full-registry record; it still writes target/ for audit
    val auditPaths = Paths.get("target", "bench_last.json") +:
      (if (args.nonEmpty) Nil else Seq(Paths.get("BENCH_DETAIL.json")))
    auditPaths.foreach { p =>
      try {
        if (p.getParent != null) Files.createDirectories(p.getParent)
        Files.writeString(p, fullJson + "\n")
      } catch { case e: Throwable => System.err.println(s"[bench] audit write failed ($p): $e") }
    }
    val ascending = results.sortBy { case (_, v, _) => if (v < 0) Double.MaxValue else v }
      .map { case (k, v, _) => k -> num(v, 2) }
    val detailLines = ascending.grouped(15).zipWithIndex.map { case (chunk, i) =>
      Harness.json(obj("benchDetail" -> (i + 1), "q" -> obj(chunk: _*)))
    }.toSeq
    // Slowest-first entries into the summary while the whole line stays
    // within 1500 bytes, which leaves headroom for preceding detail in
    // the window; an entry costs `"name":value,`.
    def summary(qs: Seq[(String, java.math.BigDecimal)]): String = Harness.json(obj(
      "metric" -> "total", "value" -> num(total, 2), "unit" -> "sec",
      "nQueries" -> results.size, "failed" -> failed, "sf" -> sfDir,
      "queriesTruncated" -> (qs.size < results.size), "queries" -> obj(qs: _*)))
    var used = summary(Nil).length
    val slow = ascending.reverse.filter { case (k, v) =>
      val cost = k.length + v.toString.length + 4
      val fits = used + cost <= 1500
      if (fits) used += cost
      fits
    }
    // stop Spark BEFORE printing: its stop-time log lines (and any
    // shutdown-hook chatter) must not land after the driver-parsed line
    h.spark.stop()
    detailLines.foreach(println)
    println(summary(slow))
  }
}
