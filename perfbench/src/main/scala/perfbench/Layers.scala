package perfbench

/** Every per-layer metric of the traced run, with its unit. Each workload
  * reports all of them; a layer the workload does not exercise reads 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "cdc.decode_busy_s" -> "s/pass",
    "cdc.alloc_bytes_per_record" -> "B/record",
    "cdc.gc_s" -> "s/pass") ++
    Wire.RecordNames.values.toSeq.sorted.map(n => s"cdc.records.$n" -> "count") ++ Seq(
    "sources.latest_offset_ms" -> "ms",
    "sources.input_rows_per_batch" -> "rows",
    "sources.scan_s_per_batch" -> "s",
    "streaming.add_batch_ms" -> "ms",
    "streaming.state_rows" -> "rows",
    "streaming.state_commit_ms" -> "ms",
    "streaming.sink_merge_s" -> "s",
    "streaming.sink_bytes_written_per_batch" -> "B",
    "streaming.table_files" -> "files",
    "labels.add_batch_ms" -> "ms",
    "labels.pairs_per_batch" -> "pairs",
    "labels.maintain_s" -> "s",
    "labels.serve_s" -> "s",
    "labels.store_files" -> "files",
    "labels.store_bytes" -> "B",
    "spark.jobs_per_batch" -> "count",
    "spark.stages_per_batch" -> "count",
    "spark.tasks_per_batch" -> "count",
    "spark.shuffle_read_bytes_per_batch" -> "B",
    "spark.shuffle_write_bytes_per_batch" -> "B",
    "spark.residual_ms_per_batch" -> "ms")

  private val units = all.toMap

  def empty: Map[String, (Double, String)] = all.map { case (n, u) => n -> (0.0, u) }.toMap

  /** Attach each metric's unit; unknown names are a programming error. */
  def of(values: (String, Double)*): Map[String, (Double, String)] =
    values.map { case (n, v) =>
      n -> (v, units.getOrElse(n, sys.error(s"unknown per-layer metric $n")))
    }.toMap
}
