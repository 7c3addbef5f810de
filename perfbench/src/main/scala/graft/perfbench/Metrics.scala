package graft.perfbench

/** The metric catalogue: names and units, in report order. BENCHMARK.json
  * lists the same names.
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "step_p50_ms" -> "ms",
    "peak_mem_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "extract.pages" -> "count", "extract.links" -> "count", "extract.busy_ms" -> "ms",
    "url.hrefs" -> "count", "url.accept_ratio" -> "ratio", "url.busy_ms" -> "ms",
    "filterset.probes" -> "count", "filterset.maybe_ratio" -> "ratio",
    "filterset.false_pos_ratio" -> "ratio", "filterset.probe_ms" -> "ms",
    "filterset.fold_ms" -> "ms", "filterset.fold_mb" -> "MB",
    "robots.rows" -> "count", "robots.drop_ratio" -> "ratio", "robots.busy_ms" -> "ms",
    "sched.rows" -> "count", "sched.admit_ratio" -> "ratio", "sched.busy_ms" -> "ms",
    "sched.task_skew" -> "ratio", "sched.shuffle_mb" -> "MB",
    "fetch.rows" -> "count", "fetch.hit_ratio" -> "ratio", "fetch.busy_ms" -> "ms",
    "fetch.shuffle_mb" -> "MB",
    "dedup.rows_in" -> "count", "dedup.fresh_ratio" -> "ratio", "dedup.antijoin_ms" -> "ms",
    "store.write_ms" -> "ms", "store.mb_written" -> "MB", "store.files_written" -> "count",
    "store.commit_ms" -> "ms", "store.compact_ms" -> "ms",
    "round.jobs" -> "count", "round.stages" -> "count", "round.tasks" -> "count",
    "round.task_busy_ms" -> "ms", "round.driver_ms" -> "ms", "round.gc_ms" -> "ms",
    "round.spill_mb" -> "MB", "round.shuffle_mb" -> "MB",
    "ops.similarity_s" -> "s", "ops.dedup_s" -> "s", "ops.graph_s" -> "s",
    "ops.curate_s" -> "s", "ops.text_s" -> "s", "ops.crawlq_s" -> "s",
    "ops.tasks" -> "count", "ops.shuffle_mb" -> "MB", "ops.driver_ms" -> "ms",
    "jvm.driver_cpu_s" -> "s", "jvm.gc_s" -> "s",
    "trace.coverage" -> "ratio", "trace.overhead_s" -> "s")

  /** Every name of `catalogue` with its value from `values` (0 when the
    * workload does not exercise that layer).
    */
  def complete(catalogue: Seq[(String, String)], values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- catalogue.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalogue: ${unknown.mkString(", ")}")
    catalogue.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  def ratio(num: Double, den: Double): Double = if (den <= 0) 0.0 else num / den
}
