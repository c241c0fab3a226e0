package perfbench

/** Per-layer metrics of a traced run. Spark-layer counters are summed over
  * the timed operations' spans and reported per operation; a workload adds
  * the metrics of the program modules it drives, including those its
  * set-up drives. Every metric is reported
  * for every workload, 0 where the workload does not run that layer. */
object Layers {

  /** name → unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.uncovered_ms" -> "ms",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B", "spill.bytes" -> "B",
    "io.input_records" -> "count", "io.input_bytes" -> "B",
    "io.output_bytes" -> "B", "io.output_files" -> "count",
    "load.load_file_ms" -> "ms", "load.merge_stop_events_ms" -> "ms",
    "load.input_reads_per_row" -> "ratio",
    "stop_events.rows" -> "count", "stop_events.parse_cpu_ms" -> "ms",
    "stream.batches" -> "count", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.input_reads_per_row" -> "ratio",
    "stream.trip_rows_scanned_per_batch" -> "count",
    "layout.merge_once_ms" -> "ms", "layout.commit_ms_late_over_early" -> "ratio",
    "layout.manifest_bytes" -> "B", "layout.files_total" -> "count",
    "analytics.hotspot_ms" -> "ms", "analytics.geojson_ms" -> "ms",
    "analytics.profile_ms" -> "ms", "analytics.longest_trips_ms" -> "ms",
    "analytics.dow_volumes_ms" -> "ms", "analytics.fk_violations_ms" -> "ms",
    "analytics.sql_ms" -> "ms", "analytics.files_read_per_hotspot" -> "ratio",
    "client.op_p90_ms" -> "ms", "client.speed_factor" -> "ratio",
    "trace.op_p50_ms" -> "ms")

  def of(t: Tracer, w: Workload, c: Ctx): Seq[(String, Double, String)] = {
    val ops = t.spans.filter(s => s.parent == 0 && s.name != "setup" &&
      !s.name.startsWith("probe.")).toSeq
    val n = math.max(1, w.opsMs.size).toDouble
    val st = t.stagesIn(ops)
    val ex = t.executionsIn(ops)
    def per(x: Double) = x / n
    def perL(x: Long) = x.toDouble / n
    val lat = w.opsMs.toSeq
    val common = Map(
      "catalyst.analysis_ms" -> perL(ex.map(_.analysisMs).sum),
      "catalyst.optimization_ms" -> perL(ex.map(_.optimizationMs).sum),
      "catalyst.planning_ms" -> perL(ex.map(_.planningMs).sum),
      "sched.jobs" -> per(t.jobsIn(ops)),
      "sched.stages" -> per(st.size),
      "sched.tasks" -> perL(st.map(_.tasks).sum),
      "sched.uncovered_ms" -> perL(t.uncoveredMs(ops)),
      "exec.run_ms" -> perL(st.map(_.runMs).sum),
      "exec.cpu_ms" -> per(st.map(_.cpuNs).sum / 1e6),
      "exec.gc_ms" -> perL(st.map(_.gcMs).sum),
      "shuffle.write_bytes" -> perL(st.map(_.shuffleWrite).sum),
      "shuffle.read_bytes" -> perL(st.map(_.shuffleRead).sum),
      "spill.bytes" -> perL(st.map(_.spill).sum),
      "io.input_records" -> perL(st.map(_.inRecords).sum),
      "io.input_bytes" -> perL(st.map(_.inBytes).sum),
      "io.output_bytes" -> perL(st.map(_.outBytes).sum),
      // a percentile is reported only with at least ten samples beyond it
      "client.op_p90_ms" ->
        (if (lat.size >= 100) Util.quantile(lat, 0.9) * Speed.sparkFactor else 0.0),
      "client.speed_factor" -> Speed.sparkFactor,
      "trace.op_p50_ms" -> Util.median(lat) * Speed.sparkFactor)
    val all = common ++ w.layers(t)
    Units.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
  }
}
