package perfbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json at the
  * repository root lists the same names and units (a test holds the two
  * together), and a run that would report a different set fails. */
object Metrics {

  /** Reported by every untraced run, whatever the workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "op_p90_ms" -> "ms",
    "rows_per_s" -> "rows/s",
    "disk_bytes_per_user_byte" -> "ratio",
    "heap_live_mb" -> "MB")

  /** Reported by every traced run, whatever the workload. */
  val PerLayer: Seq[(String, String)] = Seq(
    "s2.cellid_from_latlng_ns" -> "ns",
    "s2.parent_token_ns" -> "ns",
    "s2.polygon_contains_ns" -> "ns",
    "s2.edge_crossing_ns" -> "ns",
    "s2.covering_us" -> "us",
    "s2.all_neighbors_ns" -> "ns",
    "s2.distance_ns" -> "ns",
    "functions.s2_cell_id_rows_per_s" -> "rows/s",
    "functions.s2_tile_token_rows_per_s" -> "rows/s",
    "functions.s2_distance_m_rows_per_s" -> "rows/s",
    "plans.pip_exec_rows_per_s" -> "rows/s",
    "operators.pip_join_rows_per_s" -> "rows/s",
    "operators.pip_candidates_per_row" -> "ratio",
    "operators.pip_refine_hit_ratio" -> "ratio",
    "operators.knn_jobs_per_request" -> "jobs",
    "operators.knn_rows_scanned_per_request" -> "rows",
    "operators.knn_driver_ms_per_request" -> "ms",
    "operators.merge_p50_ms" -> "ms",
    "operators.merge_rows_rewritten_per_row" -> "ratio",
    "operators.merge_partitions_touched" -> "partitions",
    "operators.compact_files_before" -> "files",
    "operators.compact_files_after" -> "files",
    "operators.lookup_files_read_share" -> "ratio",
    "operators.lookup_rows_scanned_per_row" -> "ratio",
    "spark.executor_run_ms" -> "ms/op",
    "spark.executor_cpu_ms" -> "ms/op",
    "spark.gc_ms" -> "ms/op",
    "spark.scheduler_delay_ms" -> "ms/op",
    "spark.shuffle_write_bytes" -> "bytes/op",
    "spark.tasks" -> "tasks/op",
    "self.operators_ms" -> "ms/op",
    "self.spark_ms" -> "ms/op",
    "trace.overhead_pct" -> "%")

  private val units = (EndToEnd ++ PerLayer).toMap

  def unit(name: String): String =
    units.getOrElse(name, throw new IllegalArgumentException(s"undeclared metric $name"))
}
