package perfbench

/** The per-layer metrics a traced run reports, in order, with units. A
  * workload that does not exercise a layer reports 0 for it.
  */
object Layers {
  val Ops: Seq[String] = Seq(
    "text_length_filter", "gopher_repetition_filter", "pii_redaction", "ngram_novelty",
    "minhash_lsh_deduplicator",
    "image_metadata", "image_technical_quality", "image_quality_filter",
    "image_phash_deduplicator", "embedding_outlier_filter", "pca_projection",
    "embedding_cosine_deduplicator")

  /** Program modules that jobs are attributed to by call site. */
  val Modules: Seq[String] = Seq("runner", "core", "operators.text", "operators.dedup",
    "operators.image", "operators.vector", "operators.ml", "plans", "io", "metrics")

  val all: Seq[(String, String)] =
    Ops.flatMap(o => Seq(s"op.$o.self_s" -> "s", s"op.$o.build_s" -> "s", s"op.$o.jobs" -> "count",
      s"op.$o.executor_s" -> "s", s"op.$o.shuffle_write_mb" -> "MB")) ++
    Seq("runner.parse_ms" -> "ms", "runner.tuner_s" -> "s", "runner.build_s" -> "s",
      "runner.eager_jobs" -> "count",
      "sources.scan_s" -> "s", "sources.read_mb" -> "MB",
      "io.write_s" -> "s", "io.rejects_write_s" -> "s", "io.written_mb" -> "MB",
      "metrics.write_ms" -> "ms", "metrics.report_ms" -> "ms",
      "plans.planning_ms" -> "ms", "plans.codegen_compile_ms" -> "ms",
      "exec.jobs" -> "count", "exec.unattributed_jobs" -> "count", "exec.recompute_ratio" -> "ratio",
      "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.task_skew" -> "ratio",
      "exec.peak_storage_mb" -> "MB", "exec.gc_s" -> "s") ++
    Modules.flatMap(m => Seq(s"exec.$m.jobs" -> "count", s"exec.$m.executor_s" -> "s",
      s"exec.$m.wall_s" -> "s")) ++
    Seq("trace.pass_s" -> "s", "trace.unattributed_s" -> "s", "trace.overhead_frac" -> "ratio",
      "trace.operator_share" -> "ratio")
}
