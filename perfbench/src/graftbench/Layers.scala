package graftbench

/** The traced run's per-layer metrics. Every workload reports every name;
  * a layer the workload does not reach reads 0. Per-request figures are
  * means over the run's measured requests. */
object Layers {
  /** The funnel stages TrainingData.run reports. */
  val Stages = Seq("input", "validated", "gated", "ppl_gated", "clean", "decontaminated",
    "mixed_rows")
  val SpanNames = Seq("request", "ops.build", "plans.plan", "exec", "spark.job", "spark.stage")

  def metrics(r: RunResult, t: Tracer, spans: Seq[Span], cores: Int): Seq[Metric] = {
    val reqs = r.outcomes
    val n = math.max(reqs.size, 1)
    def perReq(name: String, v: Double, unit: String) = Metric(name, v / n, unit, reqs.size)
    val cs = reqs.flatMap(o => t.counters.get(o.req))
    def sum(f: Counters => Long): Double = cs.map(f).sum.toDouble
    val mb = 1024.0 * 1024.0

    val coldReqs = r.cold.map(_.req).toSet
    val warm = r.ops.filterNot(o => coldReqs(o.req))
    val warmN = math.max(warm.size, 1)
    val modules = Registry.modules.map { case (m, qs) =>
      Metric(s"ops.$m.s", warm.filter(o => qs(o.name)).map(_.secs).sum / warmN, "s/req", warm.size)
    }
    val measured = reqs.map(_.req).toSet
    val jobsByReq = spans.filter(_.name == "spark.job").groupBy(_.request)
    val gapMs = spans.filter(s => s.name == "request" && measured(s.request)).map { s =>
      s.dur - Tracer.covered(jobsByReq.getOrElse(s.request, Nil).map(j => (j.start, j.end)), s.start, s.end)
    }.sum
    val self = Tracer.selfTimes(spans.filter(s => measured(s.request)))
    val selfMetrics = SpanNames.map(s =>
      perReq(s"self.$s.s", self.getOrElse(s, 0.0) / 1e3, "s/req"))
    val funnel = r.funnel.map { case (s, d, secs) => s -> (d, secs) }.toMap
    val wall = r.cold.find(_.name == "training").map(_.secs)
    val pipes = Stages.flatMap { s =>
      val (d, secs) = funnel.getOrElse(s, (0L, 0.0))
      Seq(Metric(s"pipelines.training.$s.docs", d.toDouble, "count", 1),
        Metric(s"pipelines.training.$s.s", secs, "s", 1))
    } ++ Seq(Metric("pipelines.training.s", wall.getOrElse(0.0), "s", 1),
      Metric("pipelines.training.unattributed_s",
        wall.map(_ - funnel.values.map(_._2).sum).getOrElse(0.0), "s", 1))
    val traced = r.e2e.map(m => m.copy(name = s"traced.${m.name}"))
    modules ++ Seq(
      perReq("ops.build_s", reqs.map(_.buildS).sum, "s/req"),
      perReq("plans.plan_s", reqs.map(_.planS).sum, "s/req"),
      perReq("plans.exchanges", reqs.map(_.exchanges).sum.toDouble, "count/req"),
      perReq("spark.jobs", sum(_.jobs), "count/req"),
      perReq("spark.stages", sum(_.stages), "count/req"),
      perReq("spark.tasks", sum(_.tasks), "count/req"),
      perReq("spark.driver_gap_s", gapMs / 1e3, "s/req"),
      perReq("spark.task_cpu_s", sum(_.cpuNs) / 1e9, "s/req"),
      perReq("spark.task_run_s", sum(_.runMs) / 1e3, "s/req"),
      perReq("spark.gc_s", sum(_.gcMs) / 1e3, "s/req"),
      perReq("spark.sched_delay_s", sum(_.schedDelayMs) / 1e3, "s/req"),
      Metric("spark.core_util", sum(_.runMs) / 1e3 / math.max(r.measuredS * cores, 1e-9), "ratio", reqs.size),
      perReq("spark.shuffle_write_mb", sum(_.shuffleWrite) / mb, "MB/req"),
      perReq("spark.shuffle_read_mb", sum(_.shuffleRead) / mb, "MB/req"),
      perReq("spark.spill_mb", sum(_.spill) / mb, "MB/req"),
      perReq("tables.input_mb", sum(_.inputBytes) / mb, "MB/req"),
      perReq("tables.input_rows", sum(_.inputRows), "count/req"),
      Metric("artifacts.built", reqs.map(_.builtKinds).sum.toDouble, "count", reqs.size),
      Metric("artifacts.build_s", reqs.map(_.builtS).sum, "s", reqs.size),
      Metric("artifacts.warm_built", warm.map(_.builtKinds).sum.toDouble, "count", warm.size),
      perReq("caching.persisted_after", reqs.map(_.persistedAfter).sum.toDouble, "count/req"),
      perReq("caching.storage_mb_after", reqs.map(_.storedBytesAfter).sum / mb, "MB/req"),
      Metric("sources.export_mb", r.exportBytes / mb, "MB", 1),
      Metric("sources.export_files", r.exportFiles.toDouble, "count", 1),
      perReq("trace.listener_s", t.listenerNanos.get / 1e9, "s/req"),
    ) ++ selfMetrics ++ pipes ++ traced
  }
}
