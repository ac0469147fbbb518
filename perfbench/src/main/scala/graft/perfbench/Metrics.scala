package graft.perfbench

/** Every end-to-end metric an untraced run prints, with its unit, in
  * the order of BENCHMARK.json's `end_to_end` list. */
object EndToEnd {
  val Metrics: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "knn_hnsw_p50_ms" -> "ms", "knn_ivfflat_p50_ms" -> "ms", "knn_filtered_p50_ms" -> "ms",
    "knn_tail_ms" -> "ms", "recall_hnsw" -> "ratio", "recall_ivfflat" -> "ratio",
    "heap_retained_mb" -> "MB")
}

/** Every per-layer metric a traced run prints, with its unit, in the
  * order of BENCHMARK.json's `per_layer` list. Both workloads measure
  * every one; a metric whose statements all failed reads null. */
object PerLayer {
  private val shapes = Seq("hnsw", "ivfflat", "filtered", "insert")
  private val knnShapes = shapes.take(3)

  val Metrics: Seq[(String, String)] =
    Seq("engine.rewrite_ms" -> "ms") ++
      shapes.flatMap(s => Seq(s"engine.statement_ms.$s" -> "ms", s"engine.collect_ms.$s" -> "ms")) ++
      Seq("engine.insert_jobs" -> "count", "cache.bytes_per_insert" -> "bytes") ++
      knnShapes.flatMap(s => Seq("analysis", "optimization", "planning").map(p => s"plan.${p}_ms.$s" -> "ms")) ++
      knnShapes.map(s => s"rule.rewrite_ratio.$s" -> "ratio") ++
      Seq("index.hnsw_probe_ms" -> "ms", "index.ivfflat_probe_ms" -> "ms",
        "index.hnsw_build_s" -> "s", "index.ivfflat_build_s" -> "s",
        "index.ivfflat_plan_nodes" -> "count") ++
      shapes.flatMap(s => Seq(
        s"spark.jobs.$s" -> "count", s"spark.stages.$s" -> "count", s"spark.tasks.$s" -> "count",
        s"spark.executor_cpu_ms.$s" -> "ms", s"spark.shuffle_read_bytes.$s" -> "bytes",
        s"spark.shuffle_write_bytes.$s" -> "bytes", s"spark.spill_bytes.$s" -> "bytes")) ++
      Seq("spark.gc_ms" -> "ms", "cache.persisted_rdds" -> "count") ++
      Seq("bench", "engine", "plan", "spark.job", "index").map(l => s"trace.self_ms.$l" -> "ms") ++
      shapes.map(s => s"trace.p50_ms.$s" -> "ms")
}
