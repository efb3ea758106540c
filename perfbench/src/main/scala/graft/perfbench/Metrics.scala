package graft.perfbench

/** Every metric the benchmark reports, with its unit. `BENCHMARK.json`
  * lists the same names; a run prints all of [[EndToEnd]] (untraced) or all
  * of [[PerLayer]] (traced). Per-layer counts and times are per unit of
  * the closed loop: per SQL statement on the NER workloads, per pass over
  * the query mix on `analytics_mix`.
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "rows_per_s" -> "rows/s",
    "queries_per_s" -> "queries/s",
    "query_p50_s" -> "s",
    "peak_rss_mb" -> "MB")

  /** Layers only the NER workloads exercise; 0 on `analytics_mix`. */
  val NerLayers: Seq[(String, String)] = Seq(
    "ner.scan_partitions" -> "count",
    "ner.tasks" -> "count",
    "ner.executor_cpu_s" -> "s",
    "ner.cpu_util" -> "fraction",
    "nerexpr.rows" -> "count",
    "nerexpr.self_s" -> "s",
    "wordpiece.s" -> "s",
    "wordpiece.tokens" -> "count",
    "wordpiece.truncated_frac" -> "fraction",
    "encoder.s" -> "s",
    "encoder.calls" -> "count",
    "encoder.tokens" -> "count",
    "encoder.tokens_per_call" -> "count",
    "encoder.gmac" -> "GMAC",
    "encoder.gmac_per_s" -> "GMAC/s",
    "encoder.weight_gb" -> "GB",
    "biomerge.s" -> "s",
    "biomerge.entities" -> "count",
    "model.load_s" -> "s",
    "model.file_mb" -> "MB",
    "encoder.build_s" -> "s")

  val SharedLayers: Seq[(String, String)] = Seq(
    "catalyst.plan_s" -> "s",
    "spark.exec_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s",
    "spark.cpu_util" -> "fraction",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.output_mb" -> "MB",
    "jvm.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_frac" -> "fraction",
    "trace.unattributed_frac" -> "fraction")

  val PerLayer: Seq[(String, String)] = NerLayers ++ SharedLayers

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.lang.Double.toString(v)
  }

  /** The result line: `correct`, `attempted`, `failed` and every metric
    * of `wanted` with its unit. A missing metric is an error. */
  def json(r: RunResult, wanted: Seq[(String, String)]): String = {
    val ms = wanted.map { case (name, unit) =>
      val v = r.metrics.getOrElse(name,
        throw new IllegalStateException(s"workload did not measure $name"))
      s""""$name": {"value": ${num(v)}, "unit": "$unit"}"""
    }
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
