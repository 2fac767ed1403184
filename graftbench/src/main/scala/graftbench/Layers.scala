package graftbench

/** The per-layer metrics of a traced run. Every workload reports all of
  * them; a layer the workload does not call reads 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "corpus.ingest_s" -> "s", "corpus.docs" -> "count", "corpus.input_bytes" -> "bytes",
    "graph.build_s" -> "s", "graph.vertices" -> "count", "graph.edges" -> "count",
    "pagerank.run_s" -> "s", "pagerank.iterations" -> "count", "pagerank.jobs" -> "count",
    "pagerank.s_per_iteration" -> "s", "pagerank.ranked_s" -> "s",
    "index.occurrences" -> "count", "index.kept_ratio" -> "ratio", "index.terms" -> "count",
    "index.postings" -> "count", "index.build_s" -> "s",
    "index.shuffle_write_bytes" -> "bytes", "index.spill_bytes" -> "bytes",
    "serve.write_s" -> "s", "serve.bytes" -> "bytes", "serve.open_ms" -> "ms",
    "search.plan_ms" -> "ms", "search.exec_ms" -> "ms", "search.jobs_per_query" -> "count",
    "search.input_bytes_per_query" -> "bytes", "search.rows_read_per_hit" -> "ratio",
    "core.table_load_ms" -> "ms",
    "queries.jobs" -> "count", "queries.jobs.checkpoint" -> "count",
    "queries.jobs.schema_inference" -> "count", "queries.jobs_per_query" -> "count",
    "queries.tasks" -> "count",
    "spark.busy_ratio" -> "ratio", "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    // Stage times and latencies of the untraced pass that precedes the
    // traced one, and the difference the tracing made.
    "rank_s" -> "s", "index_s" -> "s", "serve_bytes_per_input_byte" -> "ratio",
    "search_p50_ms" -> "ms", "ranked_p50_ms" -> "ms", "search.samples" -> "count",
    "catalog_s" -> "s", "catalog_p50_s" -> "s", "error_rate" -> "ratio",
    "trace.overhead_s" -> "s")

  def metrics(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    Units.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** End-to-end metrics, reported by every workload. */
  def e2e(setupS: Double, opSeconds: Seq[Double]): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("op_p50_ms", Model.median(opSeconds) * 1000, "ms"))
}
