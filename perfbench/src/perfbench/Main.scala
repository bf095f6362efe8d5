package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.SparkUtil
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (started by `perfbench/run.py`):
  *
  * {{{
  * perfbench.Main --workload <full_load|bi_views> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * Sets the workload up [[SetupReps]] times, runs its untimed warm-up,
  * then runs operations in a closed loop until they have
  * taken `--seconds` of wall time and there are at least the workload's
  * `minOps` of them, checks every operation's output, and
  * prints one JSON result as the last line of stdout. Exits 1 when any
  * operation failed or its output check did.
  */
object Main {

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val out = new File(opt("out"))
    val cpus = Runtime.getRuntime.availableProcessors()

    val (spark, sessionNs) = Workloads.timed(SparkUtil.local(cpus))
    val ok = try run(spark, sessionNs, workload, seed, seconds, trace, work, out, cpus)
    finally spark.stop()
    if (!ok) System.exit(1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, reported only when at least ten samples
    * lie beyond it.
    */
  def tailPercentile(xs: Seq[Double], p: Double): Option[Double] = {
    val s = xs.sorted
    val idx = math.ceil(p * s.size).toInt - 1
    if (idx < 0 || s.size - 1 - idx < 10) None else Some(s(idx))
  }

  /** (steal, total) CPU jiffies of the machine so far, from /proc/stat:
    * the time a virtual machine's host gave to other guests. Zeros where
    * the file is missing.
    */
  private def cpuJiffies(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.exists()) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val cpu = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
      } finally src.close()
    }
  }

  /** CPU time of the whole JVM so far: the driver and Spark's task
    * threads, code generation, the JIT compiler and the garbage collector.
    */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Block-manager memory once the cleaner has dropped the blocks of
    * unreachable checkpoints: forced GC, then poll until it holds still.
    */
  def settleStorage(spark: SparkSession): Long = {
    var last = -1L
    var cur = Checks.storageBytes(spark)
    var tries = 0
    while (cur != last && tries < 20) {
      System.gc()
      Thread.sleep(150)
      last = cur
      cur = Checks.storageBytes(spark)
      tries += 1
    }
    cur
  }

  /** Driver heap in use once unreachable checkpoint blocks are dropped
    * and a full GC has run.
    */
  private def liveHeapMb(spark: SparkSession): Double = {
    settleStorage(spark)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Set the workload up [[SetupReps]] times and keep the last. Returns
    * each set-up's wall and the output check of the kept one, which counts
    * as one attempted operation; nothing of the discarded set-ups stays
    * reachable.
    */
  private def setUp(w: Workload): (Seq[Long], Seq[String]) = {
    val setups = (1 to SetupReps).map(_ => Workloads.timed(w.setup()))
    val problems = try setups.last._1() catch {
      case e: Exception => Seq(s"set-up check threw ${e.getClass.getName}: ${e.getMessage}")
    }
    (setups.map(_._2), problems)
  }

  private def run(spark: SparkSession, sessionNs: Long, name: String, seed: Long,
      seconds: Double, trace: Boolean, work: File, out: File, cpus: Int): Boolean = {
    val w = Workloads(name, spark, seed, work)
    val (setupNs, setupProblems) = setUp(w)
    val tr = new Tracer(spark, trace)
    val setupS = (sessionNs + median(setupNs.map(_.toDouble))) / 1e9
    setupProblems.take(5).foreach(p => System.err.println(s"[perfbench] set-up: $p"))
    def log(msg: String): Unit = System.err.println(f"[perfbench] ${ManagementFactory
      .getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")
    log(s"session ${sessionNs / 1e9} s, set-ups ${setupNs.map(_ / 1e9).mkString(", ")} s")

    // attempt 0 is the workload's untimed warm-up (a throw still fails
    // it); without it the first operation would pay for JIT and code
    // generation
    val ops = mutable.ArrayBuffer.empty[OpDone]
    var failed = if (setupProblems.nonEmpty) 1 else 0
    val opCpuNs = mutable.ArrayBuffer.empty[Long]
    def attempt(i: Int): Unit = {
      val problems =
        try {
          if (i == 0) { w.warmUp(tr); Nil }
          else {
            val cpu0 = processCpuNs()
            val done = w.op(i, tr, traced = trace)
            opCpuNs += processCpuNs() - cpu0
            ops += done
            done.check()
          }
        } catch {
          case e: Exception => Seq(s"op $i threw ${e.getClass.getName}: ${e.getMessage}")
        }
      if (problems.nonEmpty) {
        failed += 1
        problems.take(5).foreach(p => System.err.println(s"[perfbench] op $i: $p"))
      }
    }
    attempt(0)
    log("warm-up done")
    val (steal0, total0) = cpuJiffies()
    val budgetNs = (seconds * 1e9).toLong
    val wallCapNs = budgetNs * 3 + 60L * 1000000000L
    val loop0 = System.nanoTime()
    def measuredNs = ops.map(_.wallNs).sum
    var i = 1
    while ((ops.size < w.minOps || measuredNs < budgetNs) &&
        System.nanoTime() - loop0 < wallCapNs) {
      attempt(i)
      i += 1
    }
    val attempted = 1 + i // the set-up check and the warm-up included
    val (steal1, total1) = cpuJiffies()
    val stealPct = 100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)
    log(s"loop done: timed ops ${ops.map(_.wallNs / 1e9).mkString(", ")} s")
    val totalS = measuredNs / 1e9
    val rowsIn = ops.map(_.rowsIn).sum
    val opP50Ms = median(ops.map(_.wallNs / 1e6).toSeq)
    val bytesPerRow = w.bytesPerFactRow
    val heapMb = liveHeapMb(spark)

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_cpu_ms" -> (median(opCpuNs.map(_ / 1e6).toSeq), "ms"),
      "bytes_per_fact_row" -> (bytesPerRow, "B/row"),
      "live_heap_mb" -> (heapMb, "MB"))

    val metrics =
      if (!trace) e2e
      else {
        tr.drain()
        val perLayer = Layers.metrics(tr, opP50Ms)
        out.mkdirs()
        val f = new File(out, s"trace_${name}_seed$seed.json")
        java.nio.file.Files.write(f.toPath, tr.spansJson.getBytes("UTF-8"))
        System.err.println(s"[perfbench] spans written to $f")
        perLayer
      }

    // the workload's own names for its figures, plus the environment
    val named: Seq[(String, Double)] = Seq("timed_ops" -> ops.size.toDouble,
      "op_p50_ms" -> opP50Ms,
      "ops_per_s" -> ops.size / totalS) ++ (name match {
      case "full_load" => Seq("load_rows_per_s" -> rowsIn / totalS,
        "export_bytes_per_row" -> bytesPerRow)
      case _ =>
        val viewMs = ops.flatMap(_.partsNs).map(_ / 1e6).toSeq
        Seq("view_p50_ms" -> median(viewMs), "views_per_s" -> viewMs.size / totalS,
          "storage_mb_end" -> settleStorage(spark) / 1e6) ++
          tailPercentile(viewMs, 0.9).map("view_p90_ms" -> _).toSeq
    })
    val env = Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "trace" -> trace.toString,
      "nproc" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version), "ops" -> attempted.toString,
      "error_rate" -> Json.num(failed.toDouble / math.max(1, attempted)),
      "host_steal_pct" -> Json.num(stealPct)) ++
      named.map { case (k, v) => k -> Json.num(v) }
    println("""{"perfbench": {""" + env.map { case (k, v) => s""""$k": $v""" }.mkString(", ") +
      "}}")

    val correct = failed == 0 && attempted > 0
    val ms = metrics.map { case (k, (v, unit)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(unit)}}"""
    }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    correct
  }
}
