package perfbench

/** Per-layer metrics of one traced pass, from its spans, jobs and
  * counters. Layers are named after the program's modules:
  *
  *  - `tables`: jobs whose first program frame is `graft.Tables`
  *    (fixture loads, i.e. parquet schema inference)
  *  - `builder`: the query builder call `fn(spark, sfDir)`
  *  - `memo`: jobs with a `graft.Memo` frame (session memo builds)
  *  - `catalyst`: `queryExecution.tracker` phases of the returned frame
  *  - `exec`: the timed action, and every job it runs
  *  - `etl`: `graft.etl` jobs split into the quality gate and the write
  *  - `stream`: `StreamingQueryProgress` of the replayed queries
  */
object Layers {
  def summarize(t: Tracer, recs: Seq[OpRecord], pass: Int, cores: Int): Map[String, Double] = {
    val ids = recs.map(r => s"p$pass:${r.op}").toSet
    val jobs = t.jobsOf(ids)
    val spans = t.spansOf(ids)
    val self = Trace.selfTimes(spans)
    def spanMs(layer: String) = spans.filter(_.layer == layer).map(_.us).sum / 1000.0
    def selfMs(layer: String) = spans.filter(_.layer == layer).map(s => self(s.id)).sum / 1000.0
    def jobMs(js: Seq[JobRec]) = js.map(j => j.endMs - j.startMs).sum.toDouble
    val exec = jobs.filter(_.phase == "exec")
    val builder = jobs.filter(_.phase == "builder")
    def layer(l: String) = jobs.filter(_.layer == l)
    val execMs = spanMs("exec")
    val runMs = exec.map(_.runMs).sum.toDouble
    val counts = t.countsOf(ids)
    val etlJobs = jobs.filter(_.layer.startsWith("etl."))
    val inBytes = counts.getOrElse("etl.in_bytes", 0.0)
    val outBytes = etlJobs.map(_.bytesOut).sum.toDouble
    Map(
      "tables.load_jobs" -> layer("tables").size.toDouble,
      "tables.load_ms" -> jobMs(layer("tables")),
      "builder.ms" -> spanMs("builder"),
      "builder.self_ms" -> selfMs("builder"),
      "builder.jobs" -> builder.size.toDouble,
      "memo.build_ms" -> jobMs(layer("memo")),
      "memo.build_jobs" -> layer("memo").size.toDouble,
      "catalyst.analysis_ms" -> spanMs("catalyst.analysis"),
      "catalyst.optimization_ms" -> spanMs("catalyst.optimization"),
      "catalyst.planning_ms" -> spanMs("catalyst.planning"),
      "exec.ms" -> execMs,
      "exec.self_ms" -> selfMs("exec"),
      "exec.jobs" -> exec.size.toDouble,
      "exec.stages" -> exec.map(_.stages).sum.toDouble,
      "exec.tasks" -> exec.map(_.tasks).sum.toDouble,
      "exec.task_run_ms" -> runMs,
      "exec.task_cpu_ms" -> exec.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> exec.map(_.gcMs).sum.toDouble,
      "exec.shuffle_read_bytes" -> exec.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> exec.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> exec.map(_.spill).sum.toDouble,
      "exec.task_failures" -> exec.map(_.taskFailures).sum.toDouble,
      "exec.core_util" -> (if (execMs > 0) runMs / (execMs * cores) else 0.0),
      "etl.gate_ms" -> jobMs(layer("etl.gate")),
      "etl.gate_jobs" -> layer("etl.gate").size.toDouble,
      "etl.write_ms" -> jobMs(layer("etl.write")),
      "etl.write_jobs" -> layer("etl.write").size.toDouble,
      "etl.bytes_written" -> outBytes,
      "etl.files_written" -> counts.getOrElse("etl.files_written", 0.0),
      "etl.rejects" -> counts.getOrElse("etl.rejects", 0.0),
      "etl.out_bytes_per_in_byte" -> (if (inBytes > 0) outBytes / inBytes else 0.0),
      "stream.batches" -> counts.getOrElse("stream.batches", 0.0),
      "stream.trigger_ms" -> counts.getOrElse("stream.trigger_ms", 0.0),
      "stream.add_batch_ms" -> counts.getOrElse("stream.add_batch_ms", 0.0),
      "stream.planning_ms" -> counts.getOrElse("stream.planning_ms", 0.0),
      "stream.wal_commit_ms" -> counts.getOrElse("stream.wal_commit_ms", 0.0),
      "stream.state_rows" -> counts.getOrElse("stream.state_rows", 0.0),
      "stream.state_mem_bytes" -> counts.getOrElse("stream.state_mem_bytes", 0.0))
  }
}
