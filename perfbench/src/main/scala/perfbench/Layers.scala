package perfbench

/** Per-layer metrics, named after the engine's modules. A traced run
  * prints every one of them; a layer a workload does not exercise reads 0
  * there, which is the prediction for that workload. */
object Layers {
  val ArtifactFamilies = Seq("dedup", "lex", "lm", "nb", "spans", "bloom", "bpe", "ivf", "pq", "srp")

  val All: Seq[(String, String)] = Seq(
    "operators.construct_s" -> "s", "operators.execute_s" -> "s",
    "operators.relational_s" -> "s", "operators.text_s" -> "s",
    "operators.vector_s" -> "s", "operators.geo_s" -> "s",
    "operators.jobs" -> "count", "operators.stages" -> "count", "operators.tasks" -> "count",
    "operators.task_run_s" -> "s", "operators.task_cpu_s" -> "s", "operators.gc_s" -> "s",
    "operators.gap_s" -> "s", "operators.parallelism" -> "ratio",
    "operators.shuffle_read_mb" -> "MB", "operators.shuffle_write_mb" -> "MB",
    "operators.spill_mb" -> "MB", "operators.analysis_s" -> "s",
    "operators.optimization_s" -> "s", "operators.planning_s" -> "s",
    "operators.cold_pass_s" -> "s") ++
    ArtifactFamilies.map(f => s"artifacts.build_s.$f" -> "s") ++ Seq(
    "artifacts.jobs" -> "count", "artifacts.task_cpu_s" -> "s", "artifacts.store_mb" -> "MB",
    "sources.produce_call_ms" -> "ms", "sources.latest_offset_ms" -> "ms",
    "sources.query_planning_ms" -> "ms",
    "sources.wal_commit_ms" -> "ms", "sources.commit_offsets_ms" -> "ms",
    "sources.entries" -> "count", "sources.input_mb" -> "MB", "sources.segments" -> "count",
    "streaming.admit_ms" -> "ms", "streaming.jobs_per_batch" -> "count",
    "streaming.tasks_per_batch" -> "count", "streaming.task_cpu_ms_per_batch" -> "ms",
    "streaming.gap_ms_per_batch" -> "ms", "streaming.reference_build_s" -> "s",
    "streaming.store_mb" -> "MB", "streaming.store_files" -> "count",
    "streaming.n_in" -> "count", "streaming.drop_quality" -> "count",
    "streaming.drop_lm" -> "count", "streaming.drop_dedup" -> "count",
    "streaming.drop_quote" -> "count", "streaming.drop_decon" -> "count",
    "streaming.admitted" -> "count", "streaming.admit_ratio" -> "ratio",
    "host.canary_s" -> "s", "host.ref_job_ms" -> "ms", "host.heap_live_mb" -> "MB",
    "client.op_p90_ms" -> "ms", "client.ops" -> "count",
    "client.trace_overhead.op_mean_ms" -> "ratio",
    "client.trace_overhead.items_per_s" -> "ratio")

  /** Every per-layer metric, taking measured values from `got`. */
  def complete(got: Seq[Metric]): Seq[Metric] = {
    val byName = got.map(m => m.name -> m).toMap
    require(byName.keySet.subsetOf(All.map(_._1).toSet),
      s"undeclared layer metrics: ${byName.keySet -- All.map(_._1)}")
    All.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }

  /** Tail latency and sample count of the traced measurement, and the
    * slowdown tracing caused against the untraced repeat: traced/untraced
    * - 1 for the latency, untraced/traced - 1 for the throughput. */
  def client(ops: Seq[Double], mean: (Double, Double), rate: (Double, Double)): Seq[Metric] =
    Seq(Metric("client.op_p90_ms", Main.quantile(ops, 0.9), "ms"),
      Metric("client.ops", ops.length, "count"),
      Metric("client.trace_overhead.op_mean_ms", mean._2 / mean._1 - 1, "ratio"),
      Metric("client.trace_overhead.items_per_s", rate._1 / rate._2 - 1, "ratio"))

  /** The source's share of a drain: its own `durationMs` phases (p50 per
    * batch; `addBatch` is the sink's work and is `streaming.admit_ms`),
    * input, and segment files on disk. */
  def sourceProgress(d: Streams.Drain, topic: String, produceCallsS: Seq[Double]): Seq[Metric] = {
    def p50(k: String) = Main.median(d.durations(k))
    val segs = java.nio.file.Files.walk(java.nio.file.Paths.get(topic)).toArray
      .count(_.toString.matches(".*/ledger-\\d+\\.log"))
    Seq(Metric("sources.produce_call_ms", Main.median(produceCallsS) * 1000, "ms"),
      Metric("sources.latest_offset_ms", p50("latestOffset"), "ms"),
      Metric("sources.query_planning_ms", p50("queryPlanning"), "ms"),
      Metric("sources.wal_commit_ms", p50("walCommit"), "ms"),
      Metric("sources.commit_offsets_ms", p50("commitOffsets"), "ms"),
      Metric("sources.entries", d.inputRows, "count"),
      Metric("sources.input_mb", Main.treeSize(topic)._1, "MB"),
      Metric("sources.segments", segs, "count"))
  }

  /** Jobs, tasks, task CPU and non-task gap per micro-batch, from the
    * batch spans of a traced drain. */
  def perBatch(tr: Trace, spanName: String): Seq[Metric] = {
    val ss = tr.all.filter(_.name == spanName)
    val n = ss.length max 1
    val w = tr.total(ss)
    Seq(Metric("streaming.jobs_per_batch", w.jobs.toDouble / n, "count"),
      Metric("streaming.tasks_per_batch", w.tasks.toDouble / n, "count"),
      Metric("streaming.task_cpu_ms_per_batch", w.taskCpuNs / 1e6 / n, "ms"),
      Metric("streaming.gap_ms_per_batch", tr.gapMs(ss).toDouble / n, "ms"))
  }
}
