package perfbench

/** Per-layer figures of the traced passes: the harness's layer timings
  * joined with what the [[Tracer]] attributed to each layer. */
object Layers {

  /** Layer time not covered by the layer's own Spark jobs, in ms: analysis,
    * loop bookkeeping and job scheduling gaps. */
  private def selfMs(t: Tracer, r: QueryRun, layer: String, startUs: Long,
      durNs: Long): Double = {
    val endUs = startUs + durNs / 1000
    val jobs = t.jobSpans(r.trace).filter(_.name == s"job:$layer")
      .map(s => (s.startUs, s.endUs))
    (durNs / 1000 - Tracer.covered(startUs, endUs, jobs)) / 1000.0
  }

  /** Figures of one query run, keyed by metric name. */
  def ofRun(t: Tracer, r: QueryRun): Seq[(String, Double)] = {
    val b = t.layer(r.trace, "build")
    val e = t.layer(r.trace, "exec")
    val all = new LayerCounts
    Seq("build", "plan", "exec", "release").foreach(l => all += t.layer(r.trace, l))
    val execStartUs = r.startUs + (r.buildNs + r.planNs) / 1000
    Seq(
      "build.ms" -> r.buildNs / 1e6,
      "build.jobs" -> b.jobs.toDouble,
      "build.stages" -> b.stages.toDouble,
      "build.tasks" -> b.tasks.toDouble,
      "build.task_run_ms" -> b.taskRunMs.toDouble,
      "build.self_ms" -> selfMs(t, r, "build", r.startUs, r.buildNs),
      "plan.ms" -> r.planNs / 1e6,
      "plan.shuffles" -> r.shuffles.toDouble,
      "plan.broadcasts" -> r.broadcasts.toDouble,
      "exec.ms" -> r.execNs / 1e6,
      "exec.jobs" -> e.jobs.toDouble,
      "exec.stages" -> e.stages.toDouble,
      "exec.tasks" -> e.tasks.toDouble,
      "exec.task_run_ms" -> e.taskRunMs.toDouble,
      "exec.task_cpu_ms" -> e.taskCpuNs / 1e6,
      "exec.task_wait_ms" -> e.taskWaitMs.toDouble,
      "exec.shuffle_write_bytes" -> e.shuffleWriteBytes.toDouble,
      "exec.shuffle_read_bytes" -> e.shuffleReadBytes.toDouble,
      "exec.spill_bytes" -> e.spillBytes.toDouble,
      "exec.input_bytes" -> e.inputBytes.toDouble,
      "exec.tasks_failed" -> e.tasksFailed.toDouble,
      "exec.self_ms" -> selfMs(t, r, "exec", execStartUs, r.execNs),
      "cache.release_ms" -> r.releaseNs / 1e6,
      "cache.persisted_rdds" -> r.persistedRdds.toDouble,
      "cache.rdds_left" -> r.rddsLeft.toDouble,
      // file sinks report output metrics; sinks that do not (a DSv2
      // writer, a plain file move) still grow the run's temp dir
      "io.bytes_written" -> math.max(all.outputBytes, r.tmpGrowth).toDouble,
      "io.records_written" -> all.outputRecords.toDouble,
      "io.tmp_growth_bytes" -> r.tmpGrowth.toDouble)
  }

  /** Per-pass totals, the median over the traced passes. */
  def metrics(passes: Seq[Pass], t: Tracer, cores: Int): Seq[(String, Double)] = {
    val perPass = passes.map { p =>
      val runs = p.runs.map(ofRun(t, _).toMap)
      def total(k: String) = runs.map(_(k)).sum
      val sums = runs.head.keys.toSeq.filterNot(_ == "io.tmp_growth_bytes")
        .map(k => k -> total(k)).toMap
      sums ++ Map(
        "pass.ms" -> p.wall * 1000,
        "exec.core_util" -> sums("exec.task_run_ms") / (sums("exec.ms") * cores),
        "cache.storage_peak_bytes" -> p.runs.map(_.storageBytes.toDouble).max,
        "io.tmp_bytes_live" -> p.tmpGrowth.toDouble,
        "io.queries_unwritten" -> runs.count(_("io.bytes_written") == 0).toDouble)
    }
    perPass.head.keys.toSeq.sorted.map(k => k -> Harness.median(perPass.map(_(k))))
  }
}
