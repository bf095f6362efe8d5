package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a module. `path` is the chain
  * of span names from the operation's root; it doubles as the Spark job
  * group of every job the span launches itself.
  */
final class Span(val name: String, val path: String, val op: Int, val parent: Span,
    val startNs: Long = System.nanoTime(), val startMs: Long = System.currentTimeMillis()) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var childNs: Long = 0L
  def durNs: Long = endNs - startNs
  def selfNs: Long = durNs - childNs
}

/** Spark task/stage/job counters summed per job group. */
final class GroupStats {
  var jobs, stages, tasks, cpuNs, runMs, schedMs, shuffleWriteB, spillB, gcMs = 0L
  def +=(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    schedMs += o.schedMs; shuffleWriteB += o.shuffleWriteB; spillB += o.spillB; gcMs += o.gcMs
  }
}

/** A finished SQL execution: the job group it ran in, its action, its
  * start (wall-clock ms), duration and output columns.
  */
final case class SqlExec(group: String, action: String, startMs: Long, durNs: Long,
    columns: Set[String])

/** Benchmark-owned listener: attributes every job, completed stage and
  * task to the job group that was set when the job was submitted, keeps
  * each task's busy interval for the idle-time computation, and records
  * every SQL execution.
  */
final class SparkCounters extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val execStart = mutable.HashMap.empty[Long, (String, Long)]
  val groups: mutable.HashMap[String, GroupStats] = mutable.HashMap.empty
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  val execs: mutable.ArrayBuffer[SqlExec] = mutable.ArrayBuffer.empty

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStart(s.executionId) = (s.jobGroupId.getOrElse(""), s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execStart.remove(s.executionId).foreach { case (group, startMs) =>
        val (action, durNs, columns) = PerfbenchAccess.execution(s)
        execs += SqlExec(group, action, startMs,
          if (durNs > 0) durNs else (s.time - startMs) * 1000000L, columns.toSet)
      }
    }
    case _ =>
  }

  private def g(name: String): GroupStats = groups.getOrElseUpdate(name, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    g(group).jobs += 1
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    g(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = g(stageGroup.getOrElse(e.stageId, ""))
    val info = e.taskInfo
    s.tasks += 1
    taskIntervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
    }
  }
}

/** Catalyst phase times of every executed query, from its
  * `QueryExecution.tracker`, keyed by the wall-clock start of planning so
  * the query can be placed inside the span that ran it.
  */
final class PlanPhases extends QueryExecutionListener {
  final case class Rec(atMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  val recs: mutable.ArrayBuffer[Rec] = mutable.ArrayBuffer.empty

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val at = ph.get("planning").orElse(ph.values.headOption).map(_.startTimeMs).getOrElse(0L)
    recs += Rec(at, d("analysis"), d("optimization"), d("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Spans around the benchmark's calls into the program. Disabled, a span
  * only runs its body: the untraced run sets no job groups and registers
  * no listeners.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val counters = new SparkCounters
  val phases = new PlanPhases
  if (enabled) {
    sc.addSparkListener(counters)
    spark.listenerManager.register(phases)
  }

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** Counts the benchmark takes at module boundaries (rows parsed, SCD2
    * rows closed, ...), summed over traced operations.
    */
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Codegen compile ms per traced operation. */
  val codegenMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  private var current: Span = null
  private var opIndex = -1
  private var on = false
  private val splits = mutable.ArrayBuffer.empty[(Span, Map[Set[String], String])]

  def add(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v

  /** Run one operation; traced when `traced` and tracing is enabled. */
  def op[T](name: String, traced: Boolean)(body: => T): T =
    if (!(enabled && traced)) body
    else {
      opIndex += 1
      on = true
      val (_, cg0) = PerfbenchAccess.codegenCompile()
      try span(name)(body)
      finally {
        on = false
        codegenMs += PerfbenchAccess.codegenCompile()._2 - cg0
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = current
      val s = new Span(name, if (parent == null) name else s"${parent.path}/$name", opIndex, parent)
      current = s
      sc.setJobGroup(s.path, s.path, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        if (parent != null) {
          parent.childNs += s.durNs
          sc.setJobGroup(parent.path, parent.path, interruptOnCancel = false)
        } else sc.clearJobGroup()
        current = parent
        spans += s
      }
    }

  /** Split the current span's own call by the tables it commits: each
    * `localCheckpoint` the call runs on a frame whose columns are a key
    * of `layerOf` becomes a child span named by the value, placed once
    * the run has drained (see [[drain]]).
    */
  def splitCheckpoints(layerOf: Map[Set[String], String]): Unit =
    if (on) splits += ((current, layerOf))

  def roots: Seq[Span] = spans.filter(_.parent == null).toSeq
  def tracedOps: Int = roots.size

  /** Wait until the listeners have seen every event of the finished work,
    * then add the child spans [[splitCheckpoints]] asked for.
    */
  def drain(): Unit = if (enabled) {
    PerfbenchAccess.drainListeners(sc)
    val execs = counters.synchronized(counters.execs.toVector)
    splits.foreach { case (parent, layerOf) =>
      execs.filter(e => e.group == parent.path && e.action == "localCheckpoint")
        .foreach { e =>
          layerOf.get(e.columns).foreach { layer =>
            val startNs = parent.startNs + (e.startMs - parent.startMs) * 1000000L
            val s = new Span(layer, s"${parent.path}/$layer", parent.op, parent, startNs, e.startMs)
            s.endNs = startNs + e.durNs
            s.endMs = e.startMs + e.durNs / 1000000L
            parent.childNs += e.durNs
            spans += s
          }
        }
    }
    splits.clear()
  }

  /** Spark counters of every group at or below a span named `name`. */
  def groupStats(name: String): GroupStats = {
    val out = new GroupStats
    counters.synchronized {
      counters.groups.foreach { case (path, st) =>
        if (path.split('/').contains(name)) out += st
      }
    }
    out
  }

  /** Spark counters of all traced operations together. */
  def allOpStats: GroupStats = {
    val out = new GroupStats
    val rootNames = roots.map(_.name).toSet
    counters.synchronized {
      counters.groups.foreach { case (path, st) =>
        if (rootNames.contains(path.split('/').head)) out += st
      }
    }
    out
  }

  /** Wall inside traced operations during which no task ran, in ms. */
  def idleMs: Double = {
    val ivs = counters.synchronized(counters.taskIntervals.toVector).sortBy(_._1)
    roots.map { r =>
      var busy = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      def flush(): Unit = if (curE > curS) busy += curE - curS
      ivs.foreach { case (s0, e0) =>
        val s = math.max(s0, r.startMs)
        val e = math.min(e0, r.endMs)
        if (e > s) {
          if (s > curE) { flush(); curS = s; curE = e }
          else curE = math.max(curE, e)
        }
      }
      flush()
      math.max(0L, (r.endMs - r.startMs) - busy).toDouble
    }.sum
  }

  /** Summed Catalyst phase ms (analysis, optimization, planning) of the
    * queries planned inside traced operations.
    */
  def catalystMs: (Double, Double, Double) = {
    val rs = roots
    val inside = phases.synchronized(phases.recs.toVector)
      .filter(q => rs.exists(r => q.atMs >= r.startMs && q.atMs <= r.endMs))
    (inside.map(_.analysisMs).sum.toDouble, inside.map(_.optimizationMs).sum.toDouble,
      inside.map(_.planningMs).sum.toDouble)
  }

  /** Every span as JSON, with its self time (its duration minus the part
    * covered by its child spans).
    */
  def spansJson: String = {
    val perName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      s"""${Json.str(n)}: {"count": ${ss.size}, "total_s": ${ss.map(_.durNs).sum / 1e9}, """ +
        s""""self_s": ${ss.map(_.selfNs).sum / 1e9}}"""
    }
    val all = spans.sortBy(_.startNs).map { s =>
      s"""{"op": ${s.op}, "path": ${Json.str(s.path)}, "start_ms": ${s.startMs}, """ +
        s""""dur_s": ${s.durNs / 1e9}, "self_s": ${s.selfNs / 1e9}}"""
    }
    s"""{"summary": {${perName.mkString(", ")}},\n "spans": [\n  ${all.mkString(",\n  ")}\n]}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
