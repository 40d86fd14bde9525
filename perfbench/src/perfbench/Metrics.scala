package perfbench

import perfbench.Runner.Loop

/** One reported number. */
final case class M(name: String, value: Double, unit: String)

object Metrics {
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def endToEnd(setups: Seq[Double], l: Loop): Seq[M] = {
    val lat = l.rec.latencies
    Seq(
      M("setup_s", quantile(setups, 0.5), "s"),
      M("pass_s", l.passS, "s"),
      M("op_geomean_s", geomean(lat), "s"))
  }

  /** Every per-layer metric, in this order; a metric a workload does
    * not touch reads 0. */
  val perLayerUnits: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.stages_skipped" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.task_gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_fetch_wait_s" -> "s", "spark.spill_mb" -> "MB",
    "spark.result_mb" -> "MB", "spark.output_mb" -> "MB",
    "sources.input_mb" -> "MB", "sources.input_rows" -> "count",
    "ops.p50_s" -> "s", "queries.jobs" -> "count", "queries.build_s" -> "s", "queries.action_s" -> "s",
    "pipelines.init.jobs" -> "count",
    "pipelines.stream.jobs" -> "count", "pipelines.search.jobs" -> "count",
    "pipelines.maintain.jobs" -> "count", "pipelines.forget.jobs" -> "count",
    "pipelines.init_s" -> "s",
    "pipelines.stream_day_s" -> "s", "pipelines.search_p50_s" -> "s",
    "pipelines.search_pq_p50_s" -> "s", "pipelines.maintain_s" -> "s",
    "pipelines.forget_s" -> "s", "pipelines.snapshot_s" -> "s", "pipelines.reconcile_s" -> "s",
    "pipelines.store_bytes_ratio" -> "ratio", "pipelines.write_amp" -> "ratio",
    "operators.store_files" -> "count",
    "operators.decisions_mb" -> "MB", "operators.sig_index_mb" -> "MB",
    "operators.lex_index_mb" -> "MB", "operators.vec_index_mb" -> "MB",
    "operators.pq_index_mb" -> "MB", "operators.fps_mb" -> "MB",
    "operators.snapshots_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.feed_s" -> "s", "streaming.trigger_p50_s" -> "s",
    "streaming.input_rows_per_s" -> "1/s",
    "jvm.peak_rss_mb" -> "MB", "jvm.heap_peak_mb" -> "MB", "jvm.gc_s" -> "s",
    "trace.overhead_ratio" -> "ratio", "trace.pass_s" -> "s", "trace.callback_s" -> "s")

  /** Per-layer numbers of a traced loop, per pass. */
  def perLayer(wl: Workload, t: Loop, untracedPassS: Option[Double]): Seq[M] = {
    val tr = t.tracer
    val p = t.passes.toDouble
    def tot(f: SpanWork => Long) = tr.total(f) / p
    def under(prefix: String) =
      tr.spans.filter(_.name.startsWith(prefix)).flatMap(s => tr.subtree(s.id)).toSet
    val tops = tr.spans.filter(_.parent == 0)
    val mb = 1048576.0
    val trig = tr.triggerMs.toArray.map(_.asInstanceOf[Long] / 1e3).toSeq
    val generic = Seq(
      M("spark.jobs", tot(_.jobs.get), "count"),
      M("spark.stages", tot(_.stages.get), "count"),
      M("spark.stages_skipped", tot(w => w.stages.get - w.stagesSubmitted.get).max(0.0), "count"),
      M("spark.tasks", tot(_.tasks.get), "count"),
      M("spark.driver_gap_s", tops.map(tr.driverGapSeconds).sum / p, "s"),
      M("spark.executor_run_s", tot(_.runMs.get) / 1e3, "s"),
      M("spark.executor_cpu_s", tot(_.cpuNs.get) / 1e9, "s"),
      M("spark.task_gc_s", tot(_.gcMs.get) / 1e3, "s"),
      M("spark.shuffle_write_mb", tot(_.shWrite.get) / mb, "MB"),
      M("spark.shuffle_read_mb", tot(_.shRead.get) / mb, "MB"),
      M("spark.shuffle_fetch_wait_s", tot(_.fetchWaitMs.get) / 1e3, "s"),
      M("spark.spill_mb", tot(_.spill.get) / mb, "MB"),
      M("spark.result_mb", tot(_.result.get) / mb, "MB"),
      M("spark.output_mb", tot(_.outBytes.get) / mb, "MB"),
      M("sources.input_mb", tot(_.inBytes.get) / mb, "MB"),
      M("sources.input_rows", tot(_.inRows.get), "count"),
      M("ops.p50_s", quantile(t.rec.latencies, 0.5), "s"),
      M("queries.jobs", tr.sum(under("query:"))(_.jobs.get) / p, "count"),
      M("queries.build_s", tr.seconds("queries.build") / p, "s"),
      M("queries.action_s", tr.seconds("queries.action") / p, "s"),
      M("pipelines.init.jobs", tr.sum(under("pipelines.init"))(_.jobs.get) / p, "count"),
      M("pipelines.stream.jobs", tr.sum(under("pipelines.stream"))(_.jobs.get) / p, "count"),
      M("pipelines.search.jobs", tr.sum(under("pipelines.search"))(_.jobs.get) / p, "count"),
      M("pipelines.maintain.jobs", tr.sum(under("pipelines.maintain"))(_.jobs.get) / p, "count"),
      M("pipelines.forget.jobs", tr.sum(under("pipelines.forget"))(_.jobs.get) / p, "count"),
      M("streaming.batches", tr.batches.get / p, "count"),
      M("streaming.trigger_p50_s", if (trig.isEmpty) 0.0 else quantile(trig, 0.5), "s"),
      M("streaming.input_rows_per_s",
        if (trig.isEmpty) 0.0 else tr.batchRows.get / trig.sum, "1/s"),
      M("jvm.peak_rss_mb", Host.peakRssMb(), "MB"),
      M("jvm.heap_peak_mb", Host.heapPeakMb(), "MB"),
      M("jvm.gc_s", t.gcS / p, "s"),
      // traced ÷ untraced pass wall; with no untraced run to compare
      // against, the direct cost: the collector's own callback time
      M("trace.overhead_ratio", untracedPassS.fold(1.0 + tr.selfNs.get / 1e9 / p / t.passS)(
        t.passS / _), "ratio"),
      M("trace.pass_s", t.passS, "s"),
      M("trace.callback_s", tr.selfNs.get / 1e9 / p, "s"))
    val found = (generic ++ wl.layerMetrics(t)).map(m => m.name -> m).toMap
    perLayerUnits.map { case (n, u) => found.getOrElse(n, M(n, 0.0, u)) }
  }

  def json(ms: Seq[M]): String = Json.obj(ms.map { m =>
    m.name -> s"""{"value": ${Json.num(m.value)}, "unit": ${Json.str(m.unit)}}"""
  })
}
