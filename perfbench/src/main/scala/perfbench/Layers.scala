package perfbench

import perfbench.Main.Metric

/** The per-layer metrics of a traced run. Every traced run reports all of
  * them; a layer the workload never calls reads 0. The generate-mapping
  * layers are per generate-mapping, the `ea1141json.read_s` and
  * `groundtruths.*` figures per load-truths call, the funnel counts per
  * input; the rest are per round of `ea1141` or per pass of `fleet_sf01`. */
object Layers {

  val Modules: Seq[String] = Seq(
    "RelationalQueries", "AggQueries", "JoinQueries", "WindowQueries",
    "SetOpQueries", "FunctionQueries", "EventQueries", "TextQueries",
    "TrainPrepQueries", "DedupQueries", "SimilarityQueries", "GraphQueries",
    "SqlQueries")

  val All: Seq[(String, String)] = Seq(
    "volumescan.list_s" -> "s",
    "volumescan.read_s" -> "s",
    "volumescan.files_listed" -> "count",
    "volumescan.volumes_kept" -> "count",
    "dicomlike.extract_s" -> "s",
    "dicomlike.bytes_read" -> "bytes",
    "clinicalcsv.read_s" -> "s",
    "ea1141pipeline.truthlabels_s" -> "s",
    "ea1141pipeline.buildmapping_s" -> "s",
    "ea1141pipeline.kept_f1" -> "count",
    "ea1141pipeline.kept_f2" -> "count",
    "ea1141pipeline.truth_hits" -> "count",
    "ea1141json.write_s" -> "s",
    "ea1141json.bytes_written" -> "bytes",
    "ea1141json.read_s" -> "s",
    "groundtruths.plan_ms" -> "ms",
    "groundtruths.exec_ms" -> "ms",
    "groundtruths.jobs" -> "count",
    "groundtruths.tasks" -> "count") ++
    Modules.map(m => s"queries.$m.sum_s" -> "s") ++ Seq(
    "fleet.build_s" -> "s",
    "fleet.exec_s" -> "s",
    "queryutil.checkpoint_rdds" -> "count",
    "queryutil.shared_tables_built" -> "count",
    "spark.plan_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.parallel_eff" -> "ratio",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "jvm.gc_s" -> "s",
    "jvm.rss_peak_mb" -> "MB",
    "harness.overhead_s" -> "s",
    "trace.overhead_frac" -> "ratio",
    "trace.op_wall_s" -> "s")

  /** What every traced run measures the same way.
    *
    * `units` is the number of rounds (or fleet passes) in the timed
    * section; `traceOnly` is the time the timed section spent on work only
    * tracing does (re-executed prefixes, listener drains). With `layerSelf`
    * the per-unit self times of the layers, the figures satisfy
    * `sum(layerSelf) + harness.overhead_s + trace.overhead_frac * trace.op_wall_s
    * == trace.op_wall_s`. */
  def common(wall: Double, units: Int, cores: Int,
      probe: Probe, gcSeconds: Double, traceOnly: Double,
      layerSelf: Double): Map[String, Double] = {
    val c = probe.total
    val u = units.toDouble
    val mb = 1024.0 * 1024
    Map(
      "spark.plan_ms" -> c.planMs / u,
      "spark.jobs" -> c.jobs / u,
      "spark.stages" -> c.stages / u,
      "spark.tasks" -> c.tasks / u,
      "spark.executor_run_s" -> c.runMs / 1e3 / u,
      "spark.executor_cpu_s" -> c.cpuNs / 1e9 / u,
      "spark.parallel_eff" -> c.runMs / 1e3 / (wall * cores),
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb / u,
      "spark.shuffle_read_mb" -> c.shuffleRead / mb / u,
      "spark.spill_mb" -> c.spill / mb / u,
      "jvm.gc_s" -> gcSeconds / u,
      "jvm.rss_peak_mb" -> Jvm.rssPeakMb,
      "harness.overhead_s" -> ((wall - traceOnly) / u - layerSelf),
      "trace.overhead_frac" -> traceOnly / wall,
      "trace.op_wall_s" -> wall / u)
  }

  def emit(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"unregistered layer metrics: ${unknown.mkString(", ")}")
    All.map { case (n, unit) => Metric(n, values.getOrElse(n, 0.0), unit) }
  }
}
