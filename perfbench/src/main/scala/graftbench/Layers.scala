package graftbench

/** Per-layer metrics of a traced pass, computed from its spans and the
  * Spark listener counters. Every traced run prints every metric of
  * [[PerLayer]]; a layer a workload never enters reads 0. */
object Layers {
  /** The curation pass, in order: d8 and d18 are the two connected-
    * components kernels behind the same output, both checkpointing through
    * graft's pin lifecycle; ret1 persists its postings. */
  val CurationEntries: Seq[String] = Seq("d8_dedup_clusters", "d18_cc_largestar", "ret1_bm25_topk")

  /** Span layers whose self time — time not covered by child spans or
    * Spark jobs — is reported as `self.<layer>_s`. */
  val SpanLayers: Seq[String] =
    Seq("bench", "graft.ml", "graft.ops", "graft.ops.Pinned")

  /** Calls timed by span name, reported as `<name>_s`. */
  val Calls: Seq[String] = Seq("nb.fit", "nb.score", "svc.fit", "svc.score",
    "text.parse_clean", "pinned.release") ++
    CurationEntries.flatMap(e => Seq(s"$e.build", s"$e.action"))

  val PerLayer: Seq[(String, String)] =
    Calls.map(c => s"${c}_s" -> "s") ++
    CurationEntries.map(e => s"$e.jobs" -> "count") ++
    Seq("spark.actions" -> "count", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.failed_tasks" -> "count", "spark.plan_ms" -> "ms",
      "spark.eager_s" -> "s", "spark.job_s" -> "s", "spark.driver_s" -> "s",
      "spark.task_busy_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_wait_s" -> "s",
      "spark.core_util" -> "ratio", "spark.input_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.peak_exec_mem_mb" -> "MB",
      "storage.blocks_cached" -> "count", "storage.rdds_left" -> "count",
      "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB") ++
    SpanLayers.map(l => s"self.${l}_s" -> "s") ++
    Seq("trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s", "trace.overhead_s" -> "s")

  /** Median call durations keyed by span name → metric names. */
  def callMetrics(medians: Map[String, Double]): Map[String, Double] =
    medians.collect { case (k, v) if Calls.contains(k) => s"${k}_s" -> v }

  /** Metrics of traced pass `pass`; adds the pass's Spark jobs to `tr` as
    * `spark.job` spans under the innermost span that contains their start. */
  def passMetrics(tr: Tracer, pass: Int, c: SparkCounters, jobs: Seq[(Long, Long)],
      cores: Int): Seq[(String, Double)] = {
    val spans = tr.ofPass(pass)
    val root = spans.find(_.name == "pass").get
    val wall = (root.end - root.start) / 1e9
    val passJobs = Intervals.clip(jobs, root.start, root.end)
    passJobs.foreach { case (s, e) =>
      val owner = spans.filter(x => x.start <= s && s < x.end).maxBy(_.start)
      tr.add(Span(0, owner.id, pass, "spark.job", "job", s, e))
    }
    val all = tr.ofPass(pass)
    def covered(iv: Seq[(Long, Long)], s: Span): Long = Intervals.union(Intervals.clip(iv, s.start, s.end))
    val jobS = Intervals.union(passJobs) / 1e9
    val eager = spans.filter(s => s.name.endsWith(".build") || s.name.endsWith(".fit"))
      .map(s => (s.end - s.start) - covered(passJobs, s)).sum / 1e9
    val selfByLayer = all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        (s.end - s.start) - covered(all.filter(_.parent == s.id).map(x => (x.start, x.end)), s)
      }.sum / 1e9
    }
    val entryJobs = CurationEntries.flatMap { e =>
      for {
        b <- spans.find(_.name == s"$e.build")
        a <- spans.find(_.name == s"$e.action")
      } yield s"$e.jobs" -> passJobs.count { case (s, _) => s >= b.start && s < a.end }.toDouble
    }
    Seq(
      "spark.actions" -> c.actions.toDouble, "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble, "spark.tasks" -> c.tasks.toDouble,
      "spark.failed_tasks" -> c.failedTasks.toDouble, "spark.plan_ms" -> c.planNs / 1e6,
      "spark.eager_s" -> eager, "spark.job_s" -> jobS, "spark.driver_s" -> (wall - jobS),
      "spark.task_busy_s" -> c.taskBusyMs / 1e3, "spark.task_cpu_s" -> c.taskCpuNs / 1e9,
      "spark.task_wait_s" -> c.taskWaitMs / 1e3,
      "spark.core_util" -> (if (jobS > 0) c.taskBusyMs / 1e3 / (jobS * cores) else 0.0),
      "spark.input_mb" -> c.inputBytes / 1e6, "spark.shuffle_read_mb" -> c.shuffleReadBytes / 1e6,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6, "spark.spill_mb" -> c.spillBytes / 1e6,
      "spark.peak_exec_mem_mb" -> c.peakExecMem / 1e6) ++
      SpanLayers.map(l => s"self.${l}_s" -> selfByLayer.getOrElse(l, 0.0)) ++ entryJobs
  }
}
