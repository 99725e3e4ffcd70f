package perfbench

/** Per-layer figures of a traced run, summed over its timed operations. */
object Layers {
  def metrics(t: Trace, ctx: Ctx, cores: Int): Seq[Metric] = {
    val ops = ctx.records.toSeq
    val st = ops.map(r => t.statsOf(r.id))
    val ids = ops.map(_.id).toSet
    def sum(f: OpStats => Long): Double = st.map(f).sum.toDouble
    def sumD(f: OpStats => Double): Double = st.map(f).sum
    def spanMs(name: String): Double =
      t.spans.filter(s => s.name == name && ids.contains(s.op)).map(_.ms).sum
    val wallMs = ops.map(_.ms).sum
    val gapMs = ops.zip(st).map { case (r, s) =>
      math.max(0.0, r.ms - Trace.unionMs(s.jobSpans.toSeq))
    }.sum
    val runMs = sum(_.runMs)
    val cpuMs = sumD(_.cpuNs / 1e6)
    Seq(
      Metric("entry.construct_ms", spanMs("entry.construct"), "ms"),
      Metric("entry.eager_jobs", sum(_.eagerJobs), "count"),
      Metric("catalyst.analysis_ms", sumD(_.analysisMs), "ms"),
      Metric("catalyst.optimizer_ms", sumD(_.optimizerMs), "ms"),
      Metric("catalyst.planning_ms", sumD(_.planningMs), "ms"),
      Metric("catalyst.plan_nodes", sum(_.planNodes), "count"),
      Metric("codegen.compile_ms", sumD(_.compileNs / 1e6), "ms"),
      Metric("codegen.classes", sum(_.classes), "count"),
      Metric("codegen.no_compile_ratio",
        st.count(_.classes == 0).toDouble / math.max(1, st.size), "ratio"),
      Metric("scheduler.jobs", sum(_.jobs), "count"),
      Metric("scheduler.stages", sum(_.stages), "count"),
      Metric("scheduler.tasks", sum(_.tasks), "count"),
      Metric("scheduler.driver_gap_ms", gapMs, "ms"),
      Metric("scheduler.delay_ms", sum(_.delayMs), "ms"),
      Metric("executor.run_ms", runMs, "ms"),
      Metric("executor.cpu_ms", cpuMs, "ms"),
      Metric("executor.blocked_ms", math.max(0.0, runMs - cpuMs), "ms"),
      Metric("executor.gc_ms", sum(_.gcMs), "ms"),
      Metric("executor.input_bytes", sum(_.inputBytes), "bytes"),
      Metric("executor.shuffle_write_bytes", sum(_.shuffleWrite), "bytes"),
      Metric("executor.shuffle_read_bytes", sum(_.shuffleRead), "bytes"),
      Metric("executor.spill_bytes", sum(_.spill), "bytes"),
      Metric("executor.output_bytes", sum(_.outputBytes), "bytes"),
      Metric("executor.busy_ratio",
        if (wallMs > 0) runMs / (wallMs * cores) else 0.0, "ratio"),
      Metric("lakeio.commit_ms", spanMs("lakeio.commit"), "ms"),
      Metric("lakeio.compact_ms", spanMs("lakeio.compact"), "ms"),
      Metric("lakeio.vacuum_ms", spanMs("lakeio.vacuum"), "ms"),
      Metric("lakeio.load_latest_ms", spanMs("lakeio.load_latest"), "ms"),
      Metric("lakeio.load_pinned_ms", spanMs("lakeio.load_pinned"), "ms"),
      Metric("lakeio.cdf_read_ms", spanMs("lakeio.cdf_read"), "ms"),
      Metric("streams.batches", sum(_.batches), "count"),
      Metric("streams.trigger_ms", sum(_.triggerMs), "ms"),
      Metric("streams.addbatch_ms", sum(_.addBatchMs), "ms"),
      Metric("streams.commit_ms", sum(_.streamCommitMs), "ms"),
      Metric("streams.state_rows", sum(_.stateRows), "count"))
  }
}
