package perfbench

/** The per-layer metrics of a traced run, computed from its spans and
  * the Spark work attributed to them. Every workload reports every name;
  * a layer the workload does not exercise reads 0.
  */
object Layers {
  val PipelineStages = Seq("stage", "loadDims", "loadFact", "refreshViews", "qaReport")

  val Names: Seq[String] =
    (for (ph <- Seq("full", "batch"); st <- PipelineStages; m <- Seq("wall_s", "jobs", "cpu_s"))
      yield s"pipeline.$ph.$st.$m") ++
    Seq("pipeline.full.gap_s",
      "sources.bytes_written", "sources.files_written", "sources.bytes_read",
      "sources.store_bytes", "sources.store_bytes_ratio",
      "streaming.applyBatch.wall_s", "streaming.applyBatch.jobs",
      "streaming.applyBatch.bytes_written") ++
    (for (f <- Seq("bi", "cur"); m <- Seq("build_s", "plan_s", "exec_s", "jobs", "stages"))
      yield s"queries.$f.$m") ++
    Seq("sql.plan_s", "sched.tasks", "sched.delay_s", "sched.empty_task_frac",
      "exec.run_s", "exec.cpu_s", "exec.cpu_util", "exec.gc_s",
      "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
      "memory.heap_peak_mb", "codegen.setup_compile_s", "codegen.loop_compile_s",
      "trace.op_p50_s", "trace.sync_overhead_s", "trace.dropped_jobs",
      "trace.open_jobs", "trace.cancelled_jobs", "trace.drain_timeouts")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** One operation's runtime figures, as named per-layer values. */
  private def runtime(w: Work, wallS: Double, cpus: Int): Map[String, Double] = Map(
    "sql.plan_s" -> w.planMs / 1000,
    "sched.tasks" -> w.tasks.toDouble,
    "sched.delay_s" -> w.schedDelayMs / 1000,
    "sched.empty_task_frac" -> (if (w.tasks == 0) 0.0 else w.emptyTasks.toDouble / w.tasks),
    "exec.run_s" -> w.runMs / 1000,
    "exec.cpu_s" -> w.cpuMs / 1000,
    "exec.cpu_util" -> (if (wallS <= 0) 0.0 else w.cpuMs / 1000 / (wallS * cpus)),
    "exec.gc_s" -> w.gcMs / 1000,
    "shuffle.read_bytes" -> w.shuffleRead.toDouble,
    "shuffle.write_bytes" -> w.shuffleWrite.toDouble,
    "shuffle.spill_bytes" -> w.spill.toDouble)

  /** Runtime figures per kind of operation (median over its runs),
    * summed over the kinds: one batch for `etl`, one pass over the pool
    * for `query`. Counts repeat exactly when each kind's counts do.
    */
  private def perPass(t: Tracer, ops: Seq[(String, Span)], cpus: Int): Map[String, Double] = {
    val perKind = ops.groupBy(_._1).values.map { runs =>
      val figs = runs.map { case (_, op) => runtime(t.workOf(Seq(op)), op.durMs / 1000, cpus) }
      figs.head.keys.map(k => k -> median(figs.map(_(k)))).toMap
    }
    val summed = perKind.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    // a ratio does not sum: recompute it from the summed figures
    val wall = ops.groupBy(_._1).values.map(r => median(r.map(_._2.durMs / 1000))).sum
    val tasks = summed.getOrElse("sched.tasks", 0.0)
    val empty = perKind.map(m => m("sched.empty_task_frac") * m("sched.tasks")).sum
    summed ++ Map(
      "sched.empty_task_frac" -> (if (tasks == 0) 0.0 else empty / tasks),
      "exec.cpu_util" -> (if (wall <= 0) 0.0 else summed("exec.cpu_s") / (wall * cpus)))
  }

  private def common(t: Tracer, res: Result, ops: Seq[Span]): Unit = {
    res.layer("memory.heap_peak_mb") = res.heapPeakMb
    res.layer("codegen.setup_compile_s") = res.info.getOrElse("compile_setup_s", 0.0)
    res.layer("codegen.loop_compile_s") = res.info.getOrElse("compile_loop_s", 0.0)
    res.layer("trace.op_p50_s") = median(ops.map(_.durMs / 1000))
    res.layer("trace.sync_overhead_s") =
      if (ops.isEmpty) 0.0 else t.drainNs.get / 1e9 / t.allSpans.count(_.parent == 0)
    res.layer("trace.dropped_jobs") = t.droppedJobs.get
    res.layer("trace.open_jobs") = t.openJobs
    res.layer("trace.cancelled_jobs") = t.cancelledJobs.get
    res.layer("trace.drain_timeouts") = t.drainTimeouts.get
    Names.foreach(n => if (!res.layer.contains(n)) res.layer(n) = 0.0)
  }

  private def child(t: Tracer, op: Span, name: String): Option[Span] =
    t.allSpans.find(s => s.parent == op.id && s.name == name)

  def etl(t: Tracer, res: Result, full: Span, batches: Seq[Span], finish: Span,
      cpus: Int): Unit = {
    def stageFigures(prefix: String, spans: Seq[Span]): Unit = {
      res.layer(s"$prefix.wall_s") = median(spans.map(_.durMs / 1000))
      res.layer(s"$prefix.jobs") = median(spans.map(s => t.workOf(Seq(s)).jobs.toDouble))
      res.layer(s"$prefix.cpu_s") = median(spans.map(s => t.workOf(Seq(s)).cpuMs / 1000))
    }
    PipelineStages.foreach { st =>
      stageFigures(s"pipeline.full.$st", child(t, full, st).toSeq)
      stageFigures(s"pipeline.batch.$st",
        if (Seq("refreshViews", "qaReport").contains(st)) child(t, finish, st).toSeq
        else batches.flatMap(child(t, _, st)))
    }
    val stages = PipelineStages.flatMap(child(t, full, _))
    res.layer("pipeline.full.gap_s") = (full.durMs - stages.map(_.durMs).sum) / 1000
    val fullWork = t.workOf(Seq(full))
    res.layer("sources.bytes_written") = fullWork.bytesWritten.toDouble
    res.layer("sources.bytes_read") = fullWork.bytesRead.toDouble
    res.layer("sources.files_written") = res.info("store_files")
    res.layer("sources.store_bytes") = res.info("store_bytes")
    res.layer("sources.store_bytes_ratio") = res.info("store_bytes") / res.info("input_bytes")
    val folds = batches.flatMap(child(t, _, "applyBatch"))
    res.layer("streaming.applyBatch.wall_s") = median(folds.map(_.durMs / 1000))
    res.layer("streaming.applyBatch.jobs") = median(folds.map(s => t.workOf(Seq(s)).jobs.toDouble))
    res.layer("streaming.applyBatch.bytes_written") =
      median(folds.map(s => t.workOf(Seq(s)).bytesWritten.toDouble))
    res.layer ++= perPass(t, batches.map("batch" -> _), cpus)
    common(t, res, batches)
  }

  def queries(t: Tracer, res: Result, done: Seq[(String, graft.queries.Q, Span)],
      cpus: Int): Unit = {
    for ((fam, runs) <- done.groupBy(_._1)) {
      val perQuery = runs.groupBy(_._2.name).values.map { rs =>
        val ops = rs.map(_._3)
        def med(f: Span => Double) = median(ops.map(f))
        def layerS(name: String)(op: Span) = child(t, op, name).map(_.durMs / 1000).getOrElse(0.0)
        Map(
          "build_s" -> med(layerS("build")),
          "exec_s" -> med(layerS("exec")),
          "plan_s" -> med(op => t.workOf(Seq(op)).planMs / 1000),
          "jobs" -> med(op => t.workOf(Seq(op)).jobs.toDouble),
          "stages" -> med(op => t.workOf(Seq(op)).stages.toDouble))
      }
      Seq("build_s", "plan_s", "exec_s", "jobs", "stages").foreach { m =>
        res.layer(s"queries.$fam.$m") = perQuery.map(_(m)).sum
      }
    }
    res.layer ++= perPass(t, done.map { case (_, q, op) => q.name -> op }, cpus)
    common(t, res, done.map(_._3))
  }
}
