package graftbench

/** Per-layer metrics from a traced run: listener records joined to the
  * benchmark's own spans. */
object Layers {
  private def stagesOf(t: Tracer, jobs: Seq[JobRec]): Seq[StageRec] = jobs.flatMap(_.stages).flatMap(t.stage)

  private def perBatchMean(r: StreamRun, k: String): Double =
    r.batches.map(b => Option(b.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum /
      math.max(1, r.batches.size)

  private def jobsOf(t: Tracer, r: StreamRun): Seq[JobRec] = t.jobs.filter(_.query.contains(r.queryId))

  /** Milliseconds per batch in the jobs of one `TributePipeline` step. */
  private def stepMs(t: Tracer, r: StreamRun, step: String): Double =
    jobsOf(t, r).filter(t.label(_) == step).map(j => j.endMs - j.startMs).sum / math.max(1, r.batches.size).toDouble

  /** The fixed cost of a micro-batch and the split of each event's
    * latency, from the paced query. */
  def perBatch(m: Metrics, t: Tracer, r: StreamRun): Unit = {
    val n = math.max(1, r.batches.size).toDouble
    m.put("src.latest_offset_ms", perBatchMean(r, "latestOffset"), "ms")
    m.put("src.get_batch_ms", perBatchMean(r, "getBatch"), "ms")
    m.put("engine.query_planning_ms", perBatchMean(r, "queryPlanning"), "ms")
    m.put("engine.wal_commit_ms", perBatchMean(r, "walCommit"), "ms")
    m.put("engine.commit_offsets_ms", perBatchMean(r, "commitOffsets"), "ms")
    m.put("pipeline.empty_probe_ms", stepMs(t, r, "empty_probe"), "ms")
    val jobs = jobsOf(t, r)
    val stages = stagesOf(t, jobs)
    m.put("spark.jobs_per_batch", jobs.size / n, "count")
    m.put("spark.stages_per_batch", stages.size / n, "count")
    m.put("spark.tasks_per_batch", stages.map(_.tasks).sum / n, "count")
    val starts = r.batches.indices.map(r.batchStartMs)
    def perEvent(f: Int => Long) = r.files.indices.flatMap(i => r.files(i).eventIds.map(_ => f(i).toDouble))
    m.put("lat.queue_ms", Main.median(perEvent(i => starts(i) - r.dueMs(i))), "ms")
    m.put("lat.exec_ms", Main.median(perEvent(i => r.batchEndMs(i) - starts(i))), "ms")
    m.put("lat.samples", r.events, "count")
    m.put("gen.late_ms_max", r.files.indices.map(i => r.publishedMs(i) - r.dueMs(i)).max.toDouble, "ms")
    m.put("backlog.files_max", starts.indices.map(i => r.publishedMs.count(_ <= starts(i)) - i).max.toDouble, "count")
  }

  /** Where the drain's time goes: per batch, and in Spark's tasks. */
  def drain(m: Metrics, t: Tracer, r: StreamRun, cores: Int): Unit = {
    m.put("engine.add_batch_ms", perBatchMean(r, "addBatch"), "ms")
    m.put("engine.trigger_ms", perBatchMean(r, "triggerExecution"), "ms")
    m.put("pipeline.log_write_ms", stepMs(t, r, "log_write"), "ms")
    m.put("pipeline.state_upsert_ms", stepMs(t, r, "state_upsert"), "ms")
    val stages = stagesOf(t, jobsOf(t, r))
    m.put("spark.shuffle_write_bytes", stages.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    val runS = stages.map(_.runMs).sum / 1000.0
    m.put("spark.exec_run_s", runS, "s")
    m.put("spark.exec_cpu_s", stages.map(_.cpuNs).sum / 1e9, "s")
    m.put("spark.gc_s", stages.map(_.gcMs).sum / 1000.0, "s")
    m.put("spark.parallel_eff", runS / ((r.endMs - r.startMs) / 1000.0 * cores), "ratio")
  }

  /** The erase path: jobs launched inside the erase spans. */
  def erase(m: Metrics, t: Tracer, audits: Seq[Seq[(String, Boolean, Long, Boolean, Long)]]): Unit =
    if (audits.nonEmpty) {
      val spans = t.spanList.filter(_.name.startsWith("erase:"))
      val jobs = t.jobs.filter(j => j.query.isEmpty && spans.exists(s => j.startMs >= s.startMs && j.endMs <= s.endMs))
      val n = spans.size.toDouble
      val scanMs = jobs.map(j => j.endMs - j.startMs).sum / n
      m.put("erase.jobs", jobs.size / n, "count")
      m.put("erase.scan_ms", scanMs, "ms")
      m.put("erase.kv_delete_ms", spans.map(s => s.endMs - s.startMs).sum / n - scanMs, "ms")
      m.put("erase.log_deleted", audits.flatten.map(_._3).sum, "count")
      m.put("erase.residual", audits.flatten.map(a => a._5 + (if (a._4) 1 else 0)).sum, "count")
    }

  /** Per query, from its last warm repetition. */
  def batch(m: Metrics, t: Tracer, warm: Seq[QueryRep], wallMs: Map[String, Double], cores: Int): Unit =
    warm.groupBy(_.query).foreach { case (q, reps) =>
      val rep = reps.maxBy(_.rep)
      val stages = stagesOf(t, t.jobs.filter(_.tags(rep.tag)))
      val p = BatchBench.short(q)
      m.put(s"$p.wall_s", wallMs(q) / 1000.0, "s")
      m.put(s"$p.planning_s", t.planningMs(rep.tag) / 1000.0, "s")
      m.put(s"$p.stages", stages.size, "count")
      m.put(s"$p.tasks", stages.map(_.tasks).sum, "count")
      m.put(s"$p.shuffle_write_bytes", stages.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
      m.put(s"$p.exec_cpu_s", stages.map(_.cpuNs).sum / 1e9, "s")
      m.put(s"$p.parallel_eff", stages.map(_.runMs).sum / (rep.ms.toDouble * cores), "ratio")
    }
}
