package etlbench

/** Per-layer metrics of a traced phase. Values are per op (the mean over
  * the traced ops) unless they come from the layer probes, which run once.
  */
object Layers {

  def metrics(t: Trace, traced: Phase, plain: Phase, probe: Map[String, Double],
              cores: Int): Seq[(String, Double, String)] = {
    val opSpans = t.spans.filter(_.name == "op").toSeq
    val runs = opSpans.flatMap(o => t.children(o.id).find(_.name == "pipeline.run"))
    val n = math.max(1, runs.size).toDouble
    def mean(xs: Seq[Double]): Double = xs.sum / n
    def under(root: Trace.Span): Seq[Trace.Span] =
      t.children(root.id).flatMap(c => c +: under(c))

    val runTotals = runs.map(r => t.total(r.id))
    val opTotals = opSpans.map(o => t.total(o.id))
    def sinkSecs(table: String) = mean(runs.map(r =>
      t.children(r.id).filter(_.name == s"sinks.$table").map(_.seconds).sum))
    def stateSecs(call: String) = mean(runs.map(r =>
      under(r).filter(_.name == s"state.$call").map(_.seconds).sum))
    val sinkSpans = runs.map(r => t.children(r.id).filter(_.name.startsWith("sinks.")))

    // self time per layer: a span's time minus its children, summed by the
    // layer its name starts with
    val selfByLayer = opSpans.flatMap(o => o +: under(o))
      .groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, ss) => layer -> ss.map(s => t.selfMs(s) / 1e3).sum / n }

    val lastRunCpuS = runTotals.lastOption.map(_.cpuNs / 1e9).getOrElse(0.0)
    val phases = t.opMarks.map(_.phases).toSeq
    val mb = 1e6

    Seq(
      ("pipeline.jobs", mean(runTotals.map(_.jobs.toDouble)), "count"),
      ("pipeline.tasks", mean(runTotals.map(_.tasks.toDouble)), "count"),
      ("pipeline.pre_write_s", mean(runs.zip(sinkSpans).collect {
        case (r, s) if s.nonEmpty => (s.head.startMs - r.startMs) / 1e3 }), "s"),
      ("pipeline.post_write_s", mean(runs.zip(sinkSpans).collect {
        case (r, s) if s.nonEmpty => (r.endMs - s.last.endMs) / 1e3 }), "s"),
      ("pipeline.executor_cpu_s", mean(runTotals.map(_.cpuNs / 1e9)), "s"),
      ("pipeline.recompute_ratio", lastRunCpuS / math.max(1e-9, probe("probe.executor_cpu_s")), "ratio"),
      ("pipeline.executor_busy_share", mean(runs.zip(runTotals).map { case (r, c) =>
        c.runMs.toDouble / (math.max(1L, r.durationMs) * cores) }), "ratio"),
      ("pipeline.unaccounted_frac", mean(runs.map(t.unaccountedFrac)), "ratio"),
      ("sources.scan_s", probe("sources.scan_s"), "s"),
      ("sources.input_mb", probe("sources.input_mb"), "MB"),
      ("sources.rows_read_per_admitted", probe("sources.rows_read_per_admitted"), "ratio"),
      ("transform.issues_s", probe("transform.issues_s"), "s"),
      ("transform.metrics_s", probe("transform.metrics_s"), "s"),
      ("transform.changelog_s", probe("transform.changelog_s"), "s"),
      ("transform.changelog_rows_per_issue", probe("transform.changelog_rows_per_issue"), "ratio"),
      ("operators.dedup_s", probe("operators.dedup_s"), "s"),
      ("operators.dedup_shuffle_mb", probe("operators.dedup_shuffle_mb"), "MB"),
      ("operators.dedup_keep_ratio", probe("operators.dedup_keep_ratio"), "ratio"),
      ("sinks.issues_s", sinkSecs("issues"), "s"),
      ("sinks.issue_metrics_s", sinkSecs("issue_metrics"), "s"),
      ("sinks.issues_changelog_s", sinkSecs("issues_changelog"), "s"),
      ("sinks.jobs", mean(sinkSpans.map(_.map(s => t.total(s.id).jobs.toDouble).sum)), "count"),
      ("sinks.bytes", mean(sinkSpans.map(_.map(s => t.total(s.id).outputBytes.toDouble).sum)), "B"),
      ("state.get_s", stateSecs("get"), "s"),
      ("state.set_s", stateSecs("set"), "s"),
      ("queries.analysis_s", mean(phases.map(_.analysisMs / 1e3)), "s"),
      ("queries.optimization_s", mean(phases.map(_.optimizationMs / 1e3)), "s"),
      ("queries.planning_s", mean(phases.map(_.planningMs / 1e3)), "s"),
      ("queries.codegen_s", mean(t.opMarks.map(_.codegenNs / 1e9).toSeq), "s"),
      ("queries.stages", mean(opTotals.map(_.stages.toDouble)), "count"),
      ("queries.shuffle_write_mb", mean(opTotals.map(_.shuffleWriteBytes / mb)), "MB"),
      ("queries.spill_mb", mean(opTotals.map(_.spillBytes / mb)), "MB"),
      ("queries.blocks_held_after", mean(t.opMarks.map(_.blocksHeld.toDouble).toSeq), "count"),
      ("jvm.gc_s", traced.gcS / n, "s"),
      ("self.sources_s", selfByLayer.getOrElse("sources", 0.0), "s"),
      ("self.pipeline_s", selfByLayer.getOrElse("pipeline", 0.0), "s"),
      ("self.sinks_s", selfByLayer.getOrElse("sinks", 0.0), "s"),
      ("self.state_s", selfByLayer.getOrElse("state", 0.0), "s"),
      ("trace.overhead_frac", traced.wallS / plain.wallS - 1, "ratio"))
  }
}
