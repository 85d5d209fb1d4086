package perfbench

/** Per-layer metrics of a traced run, from the spans and the listener's
  * job records. A request is every span that shares one request id. */
object Layers {
  val Names = Seq("catalog", "plans", "operators", "index", "functions", "sources")

  def summarise(ctx: Ctx, out: Outcome, fixed: Map[String, Double]): Map[String, Any] = {
    val spans = ctx.tracer.all
    val groups = ctx.tracer.listener.byGroup
    val self = Trace.selfTimes(spans)
    def med(name: String) = Trace.median(spans.filter(_.name == name).map(_.ms))

    val table = spans.groupBy(_.name).map { case (name, ss) =>
      name -> Map(
        "layer" -> ss.head.layer,
        "count" -> ss.length,
        "median_ms" -> Trace.median(ss.map(_.ms)),
        "total_ms" -> ss.map(_.ms).sum,
        "self_ms" -> ss.map(s => self(s.id)).sum,
        "gc_ms" -> ss.map(_.gcMs).sum,
        "jobs" -> ss.map(s => ctx.tracer.jobsOf(s, groups).length).sum)
    }

    final case class Call(id: Long, wall: Double, driver: Double, jobs: Seq[JobRec])
    val calls = spans.filter(_.req >= 0).groupBy(_.req).map { case (id, ss) =>
      val jobs = ss.flatMap(ctx.tracer.jobsOf(_, groups))
      val from = ss.map(_.start).min
      val to = ss.map(_.end).max
      val busy = Trace.covered(jobs.map(j => (j.start.toDouble,
        (if (j.end < 0) to else j.end.toDouble))), from, to)
      Call(id, to - from, to - from - busy, jobs)
    }.toSeq
    val nCalls = math.max(1, calls.length).toDouble
    val jobs = calls.flatMap(_.jobs)
    val queries = math.max(1L, out.queries).toDouble
    def jobsPerCall(ids: Set[Long]) = {
      val cs = calls.filter(c => ids.contains(c.id))
      if (cs.isEmpty) Double.NaN else cs.map(_.jobs.length).sum.toDouble / cs.length
    }
    val sqlPlans = spans.filter(_.name == "plans.sql_plan")

    val metrics: Map[String, Double] = fixed ++ Map(
      "catalog.search_call_ms" -> med("catalog.search_call"),
      "catalog.meta_attach_ms" -> med("catalog.meta_attach"),
      "catalog.jobs_per_call" -> jobs.length / nCalls,
      "catalog.driver_ms" -> Trace.median(calls.map(_.driver)),
      "catalog.append_ms" -> med("catalog.append"),
      "catalog.delete_ms" -> med("catalog.delete"),
      "plans.sql_plan_ms" -> med("plans.sql_plan"),
      "plans.sql_exec_ms" -> med("plans.sql_exec"),
      "plans.plan_jobs" -> sqlPlans.map(ctx.tracer.jobsOf(_, groups).length).sum.toDouble /
        math.max(1, sqlPlans.length),
      "operators.executor_cpu_ms_per_kq" -> jobs.map(_.cpuNs.get).sum / 1e6 / queries * 1000,
      "operators.input_rows_per_query" -> jobs.map(_.inputRows.get).sum / queries,
      "operators.shuffle_mb" -> jobs.map(_.shuffleBytes.get).sum / 1048576.0 / nCalls,
      "operators.tasks_per_call" -> jobs.map(_.tasks.get).sum / nCalls,
      "operators.sched_delay_ms" -> jobs.map(_.schedDelayMs.get).sum / nCalls,
      "operators.result_kb_per_call" -> jobs.map(_.resultBytes.get).sum / 1024.0 / nCalls,
      "gc_ms_per_call" -> spans.filter(_.req >= 0).map(_.gcMs).sum / nCalls) ++
      Names.map(l => s"$l.self_ms" -> spans.filter(_.layer == l).map(s => self(s.id)).sum)

    Map(
      "metrics" -> metrics,
      "spans" -> table,
      "requests" -> calls.length,
      "jobs_per_call_hot" -> jobsPerCall(out.hotRequests),
      "jobs_per_call_cold" -> jobsPerCall(out.coldRequests),
      "span_log" -> spans.map(s => Seq(s.id, s.parent, s.req, s.name, s.layer,
        s.start, s.end, s.gcMs)))
  }
}
