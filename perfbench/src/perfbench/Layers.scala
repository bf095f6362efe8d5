package perfbench

/** The per-layer metrics of a traced run, each per traced operation.
  * `trace.op_ms` is the traced run's `op_p50_ms`; over the untraced
  * run's `op_p50_ms` for the same seed it gives the tracing overhead. A
  * layer the workload does not exercise reads 0.
  */
object Layers {

  val ViewLayers: Seq[String] = Workloads.ViewNames.map(v => s"views.$v") :+ "quality.validator"

  def metrics(tr: Tracer, tracedOpMs: Double): Seq[(String, (Double, String))] = {
    val n = math.max(1, tr.tracedOps).toDouble
    def secs(name: String) = tr.spans.filter(_.name == name).map(_.durNs).sum / 1e9 / n
    def jobs(name: String) = tr.groupStats(name).jobs / n
    def cnt(name: String) = tr.counts.getOrElse(name, 0.0) / n
    val all = tr.allOpStats
    val (analysis, optimization, planning) = tr.catalystMs
    val perOp: Seq[(String, (Double, String))] = Seq(
      "functions.parse_s" -> (secs("functions.parse"), "s"),
      "functions.parse_cpu_s" -> (tr.groupStats("functions.parse").cpuNs / 1e9 / n, "s"),
      "functions.rows_parsed" -> (cnt("functions.rows_parsed"), "count"),
      "dwh.dims_s" -> (secs("dwh.dims"), "s"),
      "dwh.dims_jobs" -> (jobs("dwh.dims"), "count"),
      "dwh.facts_s" -> (secs("dwh.facts"), "s"),
      "dwh.fact_rows" -> (cnt("dwh.fact_rows"), "count"),
      "dwh.facts_shuffle_mb" -> (tr.groupStats("dwh.facts").shuffleWriteB / 1e6 / n, "MB"),
      "dwh.bridge_s" -> (secs("dwh.bridge"), "s"),
      "dwh.bridge_rows" -> (cnt("dwh.bridge_rows"), "count"),
      "dwh.scd2_s" -> (secs("dwh.scd2"), "s"),
      "dwh.scd2_closed" -> (cnt("dwh.scd2_closed"), "count"),
      "dwh.scd2_inserted" -> (cnt("dwh.scd2_inserted"), "count"),
      "dwh.merge_s" -> (secs("dwh.merge"), "s"),
      "dwh.merge_matched" -> (cnt("dwh.merge_matched"), "count"),
      "dwh.merge_new" -> (cnt("dwh.merge_new"), "count"),
      "streaming.apply_s" -> (secs("streaming.apply"), "s"),
      "streaming.apply_jobs" -> (jobs("streaming.apply"), "count"),
      "streaming.storage_mb" -> (cnt("streaming.storage_mb"), "MB"),
      "io.export_s" -> (secs("io.export"), "s"),
      "io.export_jobs" -> (jobs("io.export"), "count"),
      "io.export_files" -> (cnt("io.export_files"), "count"),
      "io.export_mb" -> (cnt("io.export_mb"), "MB"),
      "io.star_read_s" -> (secs("io.star_read"), "s"))
    val perCall = ViewLayers.flatMap { layer =>
      Seq(s"${layer}_ms" -> (secs(layer) * 1e3, "ms"), s"${layer}_jobs" -> (jobs(layer), "count"))
    }
    val spark = Seq(
      "spark.jobs" -> (all.jobs / n, "count"),
      "spark.stages" -> (all.stages / n, "count"),
      "spark.tasks" -> (all.tasks / n, "count"),
      "spark.cpu_s" -> (all.cpuNs / 1e9 / n, "s"),
      "spark.task_s" -> (all.runMs / 1e3 / n, "s"),
      "spark.sched_delay_s" -> (all.schedMs / 1e3 / n, "s"),
      "spark.idle_s" -> (tr.idleMs / 1e3 / n, "s"),
      "spark.shuffle_write_mb" -> (all.shuffleWriteB / 1e6 / n, "MB"),
      "spark.spill_mb" -> (all.spillB / 1e6 / n, "MB"),
      "spark.gc_s" -> (all.gcMs / 1e3 / n, "s"),
      "catalyst.analysis_ms" -> (analysis / n, "ms"),
      "catalyst.optimization_ms" -> (optimization / n, "ms"),
      "catalyst.planning_ms" -> (planning / n, "ms"),
      "codegen.compile_ms" -> (tr.codegenMs.sum / n, "ms"),
      "trace.op_ms" -> (tracedOpMs, "ms"),
      "trace.traced_ops" -> (tr.tracedOps.toDouble, "count"))
    perOp ++ perCall ++ spark
  }
}
