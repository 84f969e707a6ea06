package perfbench

import graft.stream.IceLite

/** Metric names and units (BENCHMARK.json lists the same), and the
  * per-layer values every streaming run yields.
  */
object Metrics {

  /** End-to-end metrics, reported by every workload with tracing off. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "rows_per_s" -> "rows/s",
    "state_mb_peak" -> "MiB",
    "sink_bytes_per_row" -> "B/row")

  /** Per-layer metrics, reported by every workload with tracing on. A
    * layer a workload does not exercise reports 0 (no work done).
    */
  val perLayer: Seq[(String, String)] = Seq(
    "source.input_mb" -> "MiB",
    "source.scan_task_s" -> "s",
    "project.turns_per_s" -> "turns/s",
    "dedup.rows_in" -> "count",
    "dedup.rows_dropped_dup" -> "count",
    "dedup.rows_dropped_late" -> "count",
    "dedup.keep_ratio" -> "ratio",
    "dedup.state_rows_peak" -> "count",
    "dedup.state_update_ms" -> "ms",
    "dedup.state_commit_ms" -> "ms",
    "join.rows_in" -> "count",
    "join.matched" -> "count",
    "join.match_ratio" -> "ratio",
    "join.rows_evicted" -> "count",
    "join.rows_dropped_late" -> "count",
    "join.state_rows_peak" -> "count",
    "join.state_update_ms" -> "ms",
    "join.state_commit_ms" -> "ms",
    "engine.epochs" -> "count",
    "engine.planning_ms" -> "ms",
    "engine.wal_ms" -> "ms",
    "engine.latest_offset_ms" -> "ms",
    "engine.epoch_overhead_ms" -> "ms",
    "engine.epoch_ms_p50" -> "ms",
    "commit.ms_p50" -> "ms",
    "commit.ms_p90" -> "ms",
    "commit.driver_ms" -> "ms",
    "sink.write_job_s" -> "s",
    "sink.output_mb" -> "MiB",
    "sink.files" -> "count",
    "sink.footer_ms_p50" -> "ms",
    "sink.read_conv_ms" -> "ms",
    "monitor.compact_quality_ms" -> "ms",
    "monitor.read_quality_ms" -> "ms",
    "monitor.read_vocab_ms" -> "ms",
    "monitor.read_session_ms" -> "ms",
    "executor.cpu_s" -> "s",
    "executor.gc_s" -> "s",
    "shuffle.write_mb" -> "MiB",
    "stages" -> "count",
    "gen.s" -> "s",
    "ingest.turns_per_s_local1" -> "turns/s",
    "ingest.scaling_eff_1to4" -> "ratio",
    "trace.overhead_pct" -> "%") ++ OpsLayer.metrics

  /** Put every metric of `names` into the report; a missing end-to-end
    * value fails the run's check, a missing per-layer value reads 0.
    */
  def report(r: Report, names: Seq[(String, String)], values: Map[String, Double],
      zeroIfMissing: Boolean): Unit =
    names.foreach { case (n, u) =>
      r.check(zeroIfMissing || values.contains(n), s"metric $n was not measured")
      r.put(n, values.getOrElse(n, 0.0), u)
    }

  /** Per-key median over several runs' metric maps. */
  def medians(runs: Seq[Map[String, Double]]): Map[String, Double] =
    runs.flatMap(_.keys).distinct.map(k => k -> Stats.median(runs.flatMap(_.get(k)))).toMap

  private val mib = 1024.0 * 1024.0

  /** The layer values one traced query run over `sources` yields: engine,
    * commit, sink, state operators (dedup or join) and the task counters
    * of its jobs.
    */
  def layersOf(run: Streams.Run, trace: Trace, sources: Seq[java.nio.file.Path]): Map[String, Double] = {
    val eps = run.epochs
    def sumD(k: String) = eps.map(_.d(k)).sum.toDouble
    val windows = eps.map(_.commitWindow)
    val commitMs = windows.map { case (a, b) => b - a }
    val jobMs = trace.jobMsWithin(windows)
    val c = trace.counters(run.startMs, run.endMs)
    val dedupOps = eps.flatMap(_.op("dedupe"))
    val joinOps = eps.flatMap(_.op("symmetricHashJoin"))
    val dedupIn = if (dedupOps.isEmpty) 0L else eps.map(_.inputRows).sum
    val dedupDup = dedupOps.flatMap(o => Option(o.customMetrics.get("numDroppedDuplicateRows")))
      .map(_.longValue).sum
    val dedupLate = dedupOps.map(_.numRowsDroppedByWatermark).sum
    val sunk = run.sinkRows
    Map(
      "source.input_mb" -> sources.map(java.nio.file.Files.size(_)).sum / mib,
      "source.scan_task_s" -> c.scanTaskS,
      "dedup.rows_in" -> dedupIn.toDouble,
      "dedup.rows_dropped_dup" -> dedupDup.toDouble,
      "dedup.rows_dropped_late" -> dedupLate.toDouble,
      "dedup.keep_ratio" -> (if (dedupIn == 0) 0.0 else (dedupIn - dedupDup - dedupLate).toDouble / dedupIn),
      "dedup.state_rows_peak" -> (if (dedupOps.isEmpty) 0.0 else dedupOps.map(_.numRowsTotal).max.toDouble),
      "dedup.state_update_ms" -> dedupOps.map(o => o.allUpdatesTimeMs + o.allRemovalsTimeMs).sum.toDouble,
      "dedup.state_commit_ms" -> dedupOps.map(_.commitTimeMs).sum.toDouble,
      "join.rows_in" -> (if (joinOps.isEmpty) 0.0 else eps.map(_.inputRows).sum.toDouble),
      "join.matched" -> (if (joinOps.isEmpty) 0.0 else sunk.toDouble),
      "join.rows_evicted" -> joinOps.map(_.numRowsRemoved).sum.toDouble,
      "join.rows_dropped_late" -> joinOps.map(_.numRowsDroppedByWatermark).sum.toDouble,
      "join.state_rows_peak" -> (if (joinOps.isEmpty) 0.0 else joinOps.map(_.numRowsTotal).max.toDouble),
      "join.state_update_ms" -> joinOps.map(o => o.allUpdatesTimeMs + o.allRemovalsTimeMs).sum.toDouble,
      "join.state_commit_ms" -> joinOps.map(_.commitTimeMs).sum.toDouble,
      "engine.epochs" -> eps.size.toDouble,
      "engine.planning_ms" -> sumD("queryPlanning"),
      "engine.wal_ms" -> (sumD("walCommit") + sumD("commitOffsets")),
      "engine.latest_offset_ms" -> sumD("latestOffset"),
      "engine.epoch_overhead_ms" -> (sumD("triggerExecution") - sumD("addBatch")),
      "commit.ms_p50" -> Stats.quantile(commitMs, 0.5),
      "commit.ms_p90" -> Stats.quantile(commitMs, 0.9),
      "commit.driver_ms" -> Stats.median(commitMs.zip(jobMs).map { case (a, b) => a - b }),
      "sink.write_job_s" -> jobMs.sum / 1e3,
      "sink.output_mb" -> run.sinkDataBytes / mib,
      "sink.files" -> Stats.parquetFiles(run.sink.resolve("data")).toDouble,
      "executor.cpu_s" -> c.cpuS,
      "executor.gc_s" -> c.gcS,
      "shuffle.write_mb" -> c.shuffleWriteMb,
      "stages" -> c.stages.toDouble)
  }

  /** Median wall time of `IceLite.footerStats` over the committed epoch
    * directories of a sink.
    */
  def footerMsP50(sink: java.nio.file.Path): Double = {
    val dirs = IceLite.committedBatches(sink.toString)
      .map(b => sink.resolve("data").resolve(s"batch=$b").toString)
    Stats.median(dirs.map(d => Stats.timedMs(IceLite.footerStats(d))._2))
  }

  /** Add the run's epoch, commit and job spans under `parent`. */
  def traceRun(trace: Trace, parent: Int, run: Streams.Run): Unit =
    run.epochs.foreach { e =>
      val ep = trace.add(s"epoch[${e.batchId}]", parent, e.startMs.toDouble, e.endMs.toDouble)
      val (a, b) = e.commitWindow
      val cp = trace.add(s"commit[${e.batchId}]", ep, a, b)
      trace.jobsIn(a, b).foreach(j =>
        trace.add(s"job[${j.id}]", cp, j.startMs.toDouble, j.endMs.toDouble))
    }
}
