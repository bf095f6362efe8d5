package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals the benchmark reads from outside the program:
  * draining the listener bus (so every job/task event of a finished
  * operation has been delivered before its counters are read), the
  * codegen compile-time histogram, and the name, duration and output
  * columns of a finished SQL execution.
  */
object PerfbenchAccess {

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (compilations, total compile ms) so far in this JVM. The histogram
    * keeps every sample while fewer than its reservoir size (1028) were
    * recorded; past that the total is estimated as count × mean.
    */
  def codegenCompile(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val total = if (snap.size() >= n) snap.getValues.map(_.toDouble).sum else n * snap.getMean
    (n, total)
  }

  /** (action name, duration ns, output column names) of a finished SQL
    * execution; an empty name and no columns where Spark did not record
    * them.
    */
  def execution(e: SparkListenerSQLExecutionEnd): (String, Long, Seq[String]) =
    (e.executionName.getOrElse(""), e.duration,
      Option(e.qe).map(_.analyzed.output.map(_.name)).getOrElse(Nil))
}
