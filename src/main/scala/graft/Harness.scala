package graft

import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The run loop Bench and Verify share.
  *
  * Run-to-run hygiene — a full-registry run must not degrade
  * monotonically (the round-6 full-registry bench did; BENCH_NOTES.md,
  * "The round-6 bench contamination"):
  *  - [[Harness.start]] builds the shared state steady-state queries
  *    assume (the view star, the incremental day-1 warehouse, the
  *    streaming watch dirs); every RDD persisted before the harness
  *    exists is then PROTECTED.
  *  - after every run, each persistent RDD outside the protected set
  *    (the run's lazy localCheckpoints — e2e builds, dedup candidate
  *    frames, component-propagation rounds) is unpersisted, and a
  *    System.gc() lets the ContextCleaner reap dead shuffle and
  *    broadcast state. GC fires when a run left such strays, or every
  *    10th run as a heartbeat: a large heap rarely GCs on its own, and
  *    at sf1.0 the residue of ~180 queries OOM'd a pagerank task.
  *  - a listener counts jobs, tasks, task-seconds and executor CPU per
  *    run. Task-seconds (thread wall) inflate under host CPU starvation;
  *    CPU does not — equal jobs/tasks/cpu with divergent wall = host,
  *    not plan.
  */
final class Harness(val spark: SparkSession) {
  private val sc = spark.sparkContext
  private val protectedIds = sc.getPersistentRDDs.keySet
  private var runsSinceGc = 0
  private val jobs, tasks, taskMs, cpuNs = new AtomicLong
  sc.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
    }
  })

  private def counters = (jobs.get, tasks.get, taskMs.get, cpuNs.get)

  /** Times `body`, then sweeps and samples the counters. A body that
    * throws reports `sec = -1.0` and its error; it never escapes.
    */
  def run(body: => Unit): Harness.Run = {
    val (j0, k0, m0, c0) = counters
    val t0 = System.nanoTime()
    val error =
      try { body; None }
      catch { case e: Throwable => Some(e) }
    val sec = if (error.isEmpty) (System.nanoTime() - t0) / 1e9 else -1.0
    sweep()
    // Listener events arrive on an async bus; sample only after two
    // consecutive reads agree (bounded wait), else a busy minute's
    // straggler events leak this run's work into the next run.
    var snap = counters
    var settled = false
    var tries = 0
    while (!settled && tries < 40) {
      Thread.sleep(50)
      val next = counters
      settled = next == snap
      snap = next
      tries += 1
    }
    val (j1, k1, m1, c1) = snap
    Harness.Run(sec, j1 - j0, k1 - k0, (m1 - m0) / 1000.0, (c1 - c0) / 1e9, error)
  }

  private def sweep(): Unit = {
    val stray = sc.getPersistentRDDs.filterNot { case (id, _) => protectedIds(id) }
    stray.values.foreach(_.unpersist(false))
    runsSinceGc += 1
    if (stray.nonEmpty || runsSinceGc >= 10) {
      System.gc()
      runsSinceGc = 0
    }
  }
}

object Harness {

  final case class Run(sec: Double, jobs: Long, tasks: Long, taskSec: Double,
      cpuSec: Double, error: Option[Throwable])

  /** A session with the shared set-up done: one warm scan, so the first
    * query is not charged parquet footer reads and JIT; every streaming
    * watch dir, so no streaming query's first run times a file copy; and
    * the shared star plus day-1 warehouse, so BI views query an
    * already-loaded star and the incremental query measures the apply.
    */
  def start(sfDir: String): Harness = {
    val spark = SparkUtil.local()
    Tables.lineitem(spark, sfDir).write.format("noop").mode("overwrite").save()
    graft.streaming.CdcStream.ensureAllStaged(spark, sfDir)
    graft.queries.DwhQueries.warmShared(spark, sfDir)
    new Harness(spark)
  }

  /** An ordered JSON object for [[json]]: values are strings, numbers,
    * booleans or nested objects.
    */
  def obj(fields: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** `v` printed with exactly `dp` decimals (Locale.ROOT); any negative
    * value is the `-1.0` failure marker.
    */
  def num(v: Double, dp: Int): java.math.BigDecimal = new java.math.BigDecimal(
    if (v < 0) "-1.0" else String.format(java.util.Locale.ROOT, s"%.${dp}f", v))

  private val mapper = new ObjectMapper()
  // `"k": "v"`: the spacing oracle_sql.json has always had
  private val spaced = mapper.writer(new MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
  })

  /** Compact JSON, or with a space after each colon. Jackson escapes
    * quotes, backslashes and every control character, so a tab in
    * oracle SQL cannot break a reader's parse.
    */
  def json(value: Any, spacedFields: Boolean = false): String =
    if (spacedFields) spaced.writeValueAsString(value) else mapper.writeValueAsString(value)
}
