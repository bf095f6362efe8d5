package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/selfcheck.py).
  * Optional query names after `<outDir>` dump only those queries;
  * oracle_sql.json always holds the full registry's oracles. Exits 1
  * when any query threw.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val h = Harness.start(sfDir)
    val status = run(h, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) },
      SparkEntry.oracleSql)
    h.spark.stop()
    sys.exit(status)
  }

  /** Writes each query's result to `<outDir>/<name>` and `oracles` to
    * `<outDir>/oracle_sql.json`, even when some queries throw; returns
    * the exit status, 1 when any query threw, naming each on stderr.
    */
  def run(h: Harness, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)],
      oracles: Map[String, String]): Int = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.flatMap { case (name, fn) =>
      val r = h.run(fn(h.spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      r.error.foreach(e => Console.err.println(s"[verify] $name failed: ${e.getMessage}"))
      r.error.map(_ => name)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Harness.json(Harness.obj(oracles.toSeq: _*), spacedFields = true))
    if (failed.isEmpty) 0
    else {
      Console.err.println(
        s"[verify] ${failed.size} of ${queries.size} queries failed: ${failed.mkString(", ")}")
      1
    }
  }
}
