package perfbench

/** The per-layer metrics of a traced run's result line: the ones an
  * optimisation is most likely to move, named `<op kind>.<layer>.<metric>`
  * (mean per op of that kind; see README for the end-to-end metric each
  * should move). Every workload reports the whole list; an op kind a
  * workload does not run reads 0. The full matrix, every metric for
  * every op kind (scan_query's shapes too), is printed above the result
  * line. Left out of the list because they always read 0 here:
  * `core.cas_conflicts` (one committer) and `spark.spill_bytes` (every
  * input fits in memory). */
object PerLayer {
  private val sparkDriver = Seq("spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.driver_gap_ms" -> "ms")
  private val core = Seq("core.meta_reads" -> "count", "core.meta_read_bytes" -> "bytes",
    "core.meta_writes" -> "count", "core.meta_write_bytes" -> "bytes",
    "core.meta_lists" -> "count", "core.meta_io_ms" -> "ms", "core.cas_attempts" -> "count")
  private val shuffle = Seq("spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.gc_ms" -> "ms")
  private val sources = Seq("sources.plan_ms" -> "ms", "sources.files_planned" -> "count",
    "sources.bytes_planned" -> "bytes", "sources.files_live" -> "count",
    "sources.rows_read_per_row_returned" -> "ratio")

  private def of(kind: String, ms: Seq[(String, String)]) =
    ms.map { case (m, u) => s"$kind.$m" -> u }

  val names: Seq[(String, String)] =
    // every workload: where op time goes, pooled over its ops
    of("all", sparkDriver ++ Seq("spark.task_ms" -> "ms", "core.meta_io_ms" -> "ms",
      "unattributed_ms" -> "ms", "trace_overhead_ms" -> "ms", "trace_overhead_pct" -> "%")) ++
    // upsert_lookup
    of("commit", sparkDriver ++ core ++ Seq("spark.output_bytes" -> "bytes",
      "table.write_ms" -> "ms", "table.write_self_ms" -> "ms",
      "table.sorted_runs_max" -> "count", "unattributed_ms" -> "ms")) ++
    of("compact", Seq("table.compact_ms" -> "ms", "table.compact_self_ms" -> "ms",
      "table.compactions" -> "count", "table.compact_bytes_rewritten" -> "bytes",
      "spark.output_bytes" -> "bytes", "spark.driver_gap_ms" -> "ms")) ++
    of("lookup", Seq("table.lookup_recent_ms" -> "ms", "table.lookup_cold_ms" -> "ms",
      "core.meta_reads" -> "count", "core.meta_lists" -> "count", "core.meta_io_ms" -> "ms")) ++
    // dedup_corpus
    of("read", sources ++ Seq("sources.exec_ms" -> "ms", "spark.input_bytes" -> "bytes")) ++
    of("exact", Seq("operators.exact_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes")) ++
    of("minhash", Seq("operators.minhash_ms" -> "ms", "operators.candidate_pairs" -> "count",
      "operators.verified_pairs" -> "count", "operators.useful_share" -> "ratio") ++ shuffle) ++
    of("components", Seq("operators.components_ms" -> "ms", "spark.jobs" -> "count") ++ shuffle) ++
    of("overwrite", Seq("table.overwrite_ms" -> "ms", "spark.output_bytes" -> "bytes",
      "core.meta_writes" -> "count"))
}
