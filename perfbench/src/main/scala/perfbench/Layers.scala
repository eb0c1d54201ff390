package perfbench

/** Per-layer metrics of one traced pass, self times per layer, and the
  * span file. Sums run over the pass's operations; the workload adds the
  * values only it knows (generator counts, sink files, per-job times).
  */
object Layers {
  /** Every per-layer metric with its unit. */
  val units: Seq[(String, String)] = Seq(
    "qaqccli.launches" -> "count", "qaqccli.skipped" -> "count", "qaqccli.plan_s" -> "s",
    "zarr.open_s" -> "s", "zarr.chunks_read" -> "count", "zarr.chunks_needed" -> "count",
    "zarr.chunk_useful_frac" -> "frac", "zarr.rows_read" -> "count", "zarr.scan_task_s" -> "s",
    "driver.plan_s" -> "s", "driver.gap_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_delay_s" -> "s", "spark.task_failures" -> "count",
    "pipeline.plan_s" -> "s", "pipeline.exec_s" -> "s",
    "decimate.rows_in" -> "count", "decimate.rows_out" -> "count",
    "profile_scatter.s" -> "s", "profile_grid.s" -> "s",
    "plans.asof_nodes" -> "count", "plans.interval_rewrites" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.peak_mem_mb" -> "MB",
    "task.skew" -> "ratio",
    "sink.write_s" -> "s", "sink.files" -> "count", "sink.bytes" -> "bytes",
    "reconcile.s" -> "s", "reconcile.stale" -> "count", "reuse.cached_mb_after" -> "MB") ++
    Corpus.Jobs.map(q => s"corpus.${q}_s" -> "s") ++
    Seq("op.self_s" -> "s", "trace.overhead_s" -> "s")

  private def sumSpans(spans: Seq[Span], name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum

  def values(traced: Seq[Main.OpRec], tr: Tracer, ev: Events): Map[String, Double] = {
    val ids = traced.map(_.id).toSet
    val spans = tr.spans.filter(s => ids.contains(s.op))
    val per = traced.map(r => r -> ev.of(r.id))
    val stages = per.flatMap(_._2.stages)
    val tasks = per.flatMap(_._2.tasks)
    val scanIds = stages.filter(_.scan).map(_.id).toSet
    val scanTasks = tasks.filter(t => scanIds.contains(t.stage))
    val execs = per.flatMap(_._2.execs)
    val skews = per.flatMap { case (_, e) =>
      val slowest = e.stages.sortBy(s => s.submit - s.complete).headOption
      slowest.map { s =>
        val d = e.tasks.filter(_.stage == s.id).map(_.durationMs.toDouble).sorted
        if (d.isEmpty || Stats.quantile(d, 0.5) <= 0) 1.0 else d.last / Stats.quantile(d, 0.5)
      }
    }
    val roots = spans.filter(_.parent < 0)
    Map(
      "zarr.open_s" -> sumSpans(spans, "zarr.open"),
      "zarr.chunks_read" -> stages.filter(_.scan).map(_.tasks).sum.toDouble,
      "zarr.rows_read" -> scanTasks.map(_.recordsRead).sum.toDouble,
      "zarr.scan_task_s" -> scanTasks.map(_.runMs).sum / 1e3,
      "driver.plan_s" -> execs.map(_.planMs).sum / 1e3,
      "driver.gap_s" -> per.map { case (r, e) => math.max(0.0, r.seconds - e.stageUnionSeconds) }.sum,
      "spark.jobs" -> per.map(_._2.jobs.size).sum.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.sched_delay_s" -> tasks.map(_.schedDelayMs).sum / 1e3,
      "spark.task_failures" -> tasks.count(_.failed).toDouble,
      "pipeline.plan_s" -> sumSpans(spans, "pipeline.plan"),
      "pipeline.exec_s" -> sumSpans(spans, "pipeline.exec"),
      "profile_scatter.s" -> sumSpans(spans, "profile_scatter"),
      "profile_grid.s" -> sumSpans(spans, "profile_grid"),
      "plans.asof_nodes" -> execs.map(_.asof).sum.toDouble,
      "plans.interval_rewrites" -> execs.map(_.interval).sum.toDouble,
      "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "shuffle.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "exec.run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.peak_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / 1048576.0),
      "task.skew" -> Main.median(skews),
      "sink.write_s" -> sumSpans(spans, "sink.write"),
      "reconcile.s" -> sumSpans(spans, "reconcile"),
      "op.self_s" -> roots.map(r => selfSeconds(r, spans, directJobs(r, spans, ev))).sum)
  }

  /** Span duration minus the part of it its children cover. */
  private def selfSeconds(s: Span, spans: Seq[Span], jobs: Seq[(Long, Long)]): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.start, c.end)) ++ jobs
    val clipped = kids.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
    (s.end - s.start - Events.unionNanos(clipped)) / 1e9
  }

  /** Spark jobs of `s`'s operation that started inside `s` and not inside
    * one of its child spans: the jobs the call itself waited on.
    */
  private def directJobs(s: Span, spans: Seq[Span], ev: Events): Seq[(Long, Long)] = {
    val kids = spans.filter(_.parent == s.id)
    def inside(t: Long, a: Span) = t >= a.start && t <= a.end
    ev.of(s.op).jobs.filter(j => inside(j.start, s) && !kids.exists(inside(j.start, _)))
      .map(j => (j.start, j.end))
  }

  /** Per layer: calls, total seconds, self seconds (not covered by child
    * spans or by the Spark jobs the call waited on) and the seconds those
    * jobs covered.
    */
  def selfTimes(tr: Tracer, ev: Events, ids: Set[String]): Map[String, Map[String, Double]] = {
    val spans = tr.spans.filter(s => ids.contains(s.op))
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> Map(
        "calls" -> ss.size.toDouble,
        "total_s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(s => selfSeconds(s, spans, directJobs(s, spans, ev))).sum,
        "spark_jobs_s" -> ss.map(s => Events.unionNanos(directJobs(s, spans, ev)) / 1e9).sum)
    }
  }

  /** Every span as one JSON line: the benchmark's call spans, then the
    * Spark jobs (parent: the innermost call span they started in) and
    * stages (parent: their job).
    */
  def spanLines(tr: Tracer, ev: Events, ids: Set[String]): Seq[String] = {
    val spans = tr.spans.filter(s => ids.contains(s.op))
    def line(id: String, name: String, op: String, parent: String, s: Long, e: Long) =
      Json(Map("id" -> id, "name" -> name, "op" -> op, "parent" -> parent,
        "start_ns" -> s, "end_ns" -> e))
    val calls = spans.map(s => line(s"s${s.id}", s.name, s.op,
      if (s.parent < 0) "" else s"s${s.parent}", s.start, s.end))
    val sparkSpans = ids.toSeq.sorted.flatMap { op =>
      val e = ev.of(op)
      val opSpans = spans.filter(_.op == op)
      e.jobs.flatMap { j =>
        val parent = opSpans.filter(s => j.start >= s.start && j.start <= s.end)
          .sortBy(s => s.end - s.start).headOption.map(s => s"s${s.id}").getOrElse("")
        line(s"j${j.id}", "spark.job", op, parent, j.start, j.end) +:
          e.stages.filter(_.job == j.id).map(st =>
            line(s"st${st.id}", "spark.stage", op, s"j${j.id}", st.submit, st.complete))
      }
    }
    calls ++ sparkSpans
  }
}
