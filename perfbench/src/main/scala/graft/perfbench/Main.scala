package graft.perfbench

/**
 * One benchmark run in one JVM: `--workload cdc_trickle|cdc_bulk|
 * admission_gate|selftest --seed N --seconds S --trace 0|1 --work DIR`.
 * Human-readable notes go to stderr; the last stdout line is the result
 * JSON. With `--trace 0` the metrics are the end-to-end ones; with
 * `--trace 1` they are the per-layer ones, every name in [[PerLayer]]
 * (0 where the layer does no work on the workload).
 */
object Main {

  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.trigger_ms_p50" -> "ms", "pipeline.trigger_ms_p90" -> "ms",
    "pipeline.query_planning_ms_p50" -> "ms", "pipeline.wal_commit_ms_p50" -> "ms",
    "pipeline.list_ms_p50" -> "ms", "pipeline.add_batch_ms_p50" -> "ms",
    "pipeline.triggers" -> "count", "pipeline.rows_per_trigger_p50" -> "rows",
    "pipeline.files_per_trigger_p50" -> "files", "pipeline.lag_files_p90" -> "files",
    "pipeline.queue_wait_ms_p50" -> "ms", "pipeline.busy_frac" -> "ratio",
    "codec.decode_ms_per_1k" -> "ms", "codec.decode_tasks_per_batch" -> "tasks",
    "codec.decode_errors" -> "count",
    "smt.chain_ms_per_1k" -> "ms",
    "sinks.apply_ms_p50" -> "ms", "sinks.apply_ms_p90" -> "ms",
    "sinks.plans_per_trigger" -> "plans", "sinks.plan_ms_per_trigger" -> "ms",
    "sinks.shuffle_bytes_per_trigger" -> "bytes", "sinks.compactions" -> "count",
    "sinks.compact_ms_p50" -> "ms", "sinks.versions_at_read_p50" -> "versions",
    "sinks.read_ms_p50" -> "ms", "sinks.replay_read_ms" -> "ms",
    "sinks.write_amplification" -> "ratio", "sinks.state_bytes_end" -> "bytes",
    "admission.bootstrap_s" -> "s", "admission.apply_ms_p50" -> "ms",
    "admission.replay_apply_ms_p50" -> "ms", "admission.verdict_ms_p50" -> "ms",
    "admission.admart_ms_p50" -> "ms", "admission.append_ms_p50" -> "ms",
    "admission.append_ref_ms_p50" -> "ms", "admission.append_art_ms_p50" -> "ms",
    "admission.append_sh_ms_p50" -> "ms", "admission.append_cpost_ms_p50" -> "ms",
    "admission.append_emb_ms_p50" -> "ms", "admission.append_imgfp_ms_p50" -> "ms",
    "admission.append_audfp_ms_p50" -> "ms", "admission.fold_ms_p50" -> "ms",
    "admission.folds" -> "count", "admission.plans_per_wave" -> "plans",
    "admission.plan_ms_per_wave" -> "ms", "admission.admitted_ratio" -> "ratio",
    "admission.state_bytes_end" -> "bytes",
    "jvm.gc_ms_per_min" -> "ms/min", "jvm.task_cpu_util" -> "ratio",
    "jvm.heap_peak_mb" -> "MB", "loadgen.late_ms_p90" -> "ms",
    "check.failed_frac" -> "ratio",
    "trace.listener_ms" -> "ms", "trace.listener_frac" -> "ratio",
    "trace.throughput_rps" -> "rec/s", "trace.latency_p50_ms" -> "ms",
    "trace.latency_p90_ms" -> "ms", "trace.read_p50_ms" -> "ms")

  def main(args: Array[String]): Unit =
    try run(Opts.parse(args))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }

  private def run(o: Opts): Unit = {
    java.nio.file.Files.createDirectories(o.work)
    val r = o.workload match {
      case "cdc_trickle" => Cdc.trickle(o)
      case "cdc_bulk" => Cdc.bulk(o)
      case "admission_gate" => Admission.run(o)
      case "selftest" => SelfTest.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    r.notes.foreach(n => System.err.println(s"[perfbench] $n"))
    val out =
      if (!o.trace || o.workload == "selftest") r
      else {
        val got = r.metrics.map(m => m.name -> m).toMap
        val unknown = got.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
        r.copy(metrics = PerLayer.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) })
      }
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    println(out.json)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out
    Runtime.getRuntime.halt(0)
  }
}
