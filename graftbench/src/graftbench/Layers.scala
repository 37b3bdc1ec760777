package graftbench

/** Per-layer metrics derived from a traced run's spans and jobs. */
object Layers {

  /** The graft modules the build-and-maintenance metrics attribute jobs
    * to, by the source file of the innermost graft frame in the call
    * site. */
  val BuildModules: Seq[String] =
    Seq("Pipeline", "Binning", "IV", "GreedySelector", "KvIndex", "Persist")

  /** Timed-call spans reported as `<name>.ms` (median over calls). */
  val CallSpans: Seq[String] = Seq("KvModel.toLocalScorer", "KvIndexState.append",
    "KvIndexState.toModel", "KvModel.joinProbe", "Persist.save", "Persist.load")

  /** Each job's span: the span named by the job's local property when the
    * job started inside it, otherwise the innermost span open when the
    * job started (jobs submitted from pool threads can carry a stale
    * property). */
  def jobSpans(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val slackNs = 50L * 1000 * 1000
    jobs.flatMap { j =>
      val prop = byId.get(j.span).filter(s => j.startNs >= s.startNs && j.startNs <= s.endNs + slackNs)
      prop.orElse(spans.filter(s => s.startNs <= j.startNs && j.startNs <= s.endNs)
        .sortBy(-_.startNs).headOption).map(j.id -> _)
    }.toMap
  }

  /** define / plan / schedule / execute metrics over the timed operations
    * `ops` (operation id -> wall ns). Counts and times are per-operation
    * medians, so they do not depend on how many operations the window
    * held; ratios are over the whole window. */
  def spark(run: Run, spans: Seq[Span], jobs: Seq[JobRec], ops: Map[Long, Double]): Unit = {
    val js = jobSpans(spans, jobs)
    val jobsOf = jobs.filter(j => js.get(j.id).exists(s => ops.contains(s.op)))
      .groupBy(j => js(j.id).op)
    def perOp(f: (Seq[JobRec], Long) => Double): Double =
      Stats.median(ops.keys.toSeq.map(o => f(jobsOf.getOrElse(o, Nil), o)))
    def spanSum(name: String, o: Long): Double =
      spans.filter(s => s.op == o && s.name == name).map(_.durNs.toDouble).sum
    val inDefine = (j: JobRec) => js(j.id).name == "define"
    val all = jobsOf.values.flatten.toSeq

    run.metric("define.ms", Stats.median(ops.keys.toSeq.map(spanSum("define", _))) / 1e6, "ms")
    run.metric("define.jobs", perOp((j, _) => j.count(inDefine).toDouble), "count")
    run.metric("plan.ms", Stats.median(ops.keys.toSeq.map(spanSum("plan", _))) / 1e6, "ms")
    run.metric("schedule.jobs", perOp((j, _) => j.length.toDouble), "count")
    run.metric("schedule.stages", perOp((j, _) => j.map(_.stages).sum.toDouble), "count")
    run.metric("schedule.tasks", perOp((j, _) => j.map(_.tasks).sum.toDouble), "count")
    run.metric("schedule.tasks_per_job",
      if (all.isEmpty) 0.0 else all.map(_.tasks).sum.toDouble / all.length, "ratio")
    run.metric("schedule.job_ms", perOp((j, _) => j.map(x => x.endNs - x.startNs).sum / 1e6), "ms")
    run.metric("schedule.driver_gap_ms", perOp { (j, o) =>
      val opSpans = spans.filter(_.op == o)
      if (opSpans.isEmpty) 0.0
      else {
        val lo = opSpans.map(_.startNs).min
        val hi = opSpans.map(_.endNs).max
        (hi - lo - Tracer.unionNs(j.map(x => (x.startNs, x.endNs)), lo, hi)) / 1e6
      }
    }, "ms")
    run.metric("execute.task_run_ms", perOp((j, _) => j.map(_.runMs).sum.toDouble), "ms")
    run.metric("execute.task_cpu_ms", perOp((j, _) => j.map(_.cpuNs).sum / 1e6), "ms")
    run.metric("execute.gc_ms", perOp((j, _) => j.map(_.gcMs).sum.toDouble), "ms")
    val wallMs = ops.values.filterNot(_.isInfinite).sum / 1e6
    run.metric("execute.busy_ratio",
      if (wallMs == 0) 0.0 else all.map(_.runMs).sum / (wallMs * run.cores), "ratio")
    run.metric("execute.shuffle_read_bytes", perOp((j, _) => j.map(_.shuffleRead).sum.toDouble), "bytes")
    run.metric("execute.shuffle_write_bytes", perOp((j, _) => j.map(_.shuffleWrite).sum.toDouble), "bytes")
    run.metric("execute.spill_bytes", perOp((j, _) => j.map(_.spill).sum.toDouble), "bytes")
  }

  /** Jobs and job time per graft build module, over `jobs`. */
  def modules(run: Run, jobs: Seq[JobRec]): Unit = BuildModules.foreach { m =>
    val mine = jobs.filter(_.module == m)
    run.metric(s"$m.jobs", mine.length.toDouble, "count")
    run.metric(s"$m.job_ms", mine.map(j => j.endNs - j.startNs).sum / 1e6, "ms")
  }

  /** Median wall time of each timed-call span (0 when not called). */
  def calls(run: Run, spans: Seq[Span]): Unit = CallSpans.foreach { n =>
    val ds = spans.filter(_.name == n).map(_.durNs / 1e6)
    run.metric(s"$n.ms", if (ds.isEmpty) 0.0 else Stats.median(ds), "ms")
  }
}
