package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery}

import graft.stream.IceLite

/** Wall clock in milliseconds with nanosecond resolution, on the same
  * epoch as `System.currentTimeMillis` (which Spark stamps its progress
  * and listener events with).
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Streaming plumbing shared by the workloads, reached only through the
  * engine's public entry points.
  */
object Streams {

  /** One executed epoch, as the query's own progress reports it. */
  final case class Epoch(
      batchId: Long, inputRows: Long, startMs: Long, durations: Map[String, Long],
      stateOps: Seq[StateOperatorProgress]) {
    def d(k: String): Long = durations.getOrElse(k, 0L)
    def endMs: Long = startMs + d("triggerExecution")
    /** The epoch's foreachBatch call (`processBatch` for the guardian
      * query): `addBatch`, which ends where `commitOffsets` begins.
      */
    def commitWindow: (Double, Double) = {
      val end = (endMs - d("commitOffsets")).toDouble
      (end - d("addBatch"), end)
    }
    def stateBytes: Long = stateOps.map(_.memoryUsedBytes).sum
    def op(prefix: String): Option[StateOperatorProgress] =
      stateOps.find(_.operatorName.startsWith(prefix))
  }

  /** Executed epochs (idle triggers excluded), one per batch id. */
  def epochs(q: StreamingQuery): Seq[Epoch] =
    q.recentProgress.toSeq
      .filter(_.durationMs.containsKey("addBatch"))
      .map(p => Epoch(p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.toSeq))
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  /** One finished query run over fresh checkpoint and sink directories. */
  final case class Run(
      startMs: Double, wallMs: Double, epochs: Seq[Epoch], checkpoint: Path, sink: Path) {
    def endMs: Double = startMs + wallMs
    def stateMbPeak: Double =
      if (epochs.isEmpty) 0.0 else epochs.map(_.stateBytes).max / (1024.0 * 1024.0)
    def sinkRows: Long =
      IceLite.committedBatches(sink.toString).map(b => IceLite.readManifest(sink.toString, b).rowCount).sum
    def sinkDataBytes: Long = Stats.dirBytes(sink.resolve("data"))
  }

  /** Start a query over fresh directories under `dir` and wait for it to
    * drain its input (the query must use the AvailableNow trigger).
    */
  def drain(dir: Path)(start: (Path, Path) => StreamingQuery): Run = {
    Stats.rmTree(dir)
    Files.createDirectories(dir)
    val ck = dir.resolve("ck")
    val sink = dir.resolve("sink")
    val t0 = Clock.nowMs
    val q = start(ck, sink)
    q.awaitTermination()
    Run(t0, Clock.nowMs - t0, epochs(q), ck, sink)
  }

  /** Drain again and again on fresh directories under `dir`, until
    * `seconds` have passed and at least `minDrains` times. Each drain is
    * summarized (and checked) before its directories are reused; the last
    * drain's stay for the caller. A drain that fails is counted, not timed.
    * With a trace, each drain is a span holding its epoch spans.
    */
  def repeatDrains(o: Opts, r: Report, dir: Path, trace: Option[(Trace, Int)])(
      drainOnce: Path => Run)(summarize: Run => Map[String, Double]): Seq[(Run, Map[String, Double])] = {
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Run, Map[String, Double])]
    val t0 = System.nanoTime()
    var i = 0
    while ((i < o.minDrains || System.nanoTime() - t0 < o.seconds * 1000000000L) && i < 50) {
      try {
        val run = trace match {
          case Some((t, parent)) => t.span(s"drain[$i]", parent) { id =>
            val run = drainOnce(dir.resolve(s"d$i"))
            t.settle()
            Metrics.traceRun(t, id, run)
            run
          }
          case None => drainOnce(dir.resolve(s"d$i"))
        }
        r.attempted += run.epochs.size
        val fig = summarize(run)
        Stats.log(s"drain $i: ${run.wallMs} ms, epochs ${run.epochs.map(_.d("triggerExecution")).mkString(",")}")
        runs.lastOption.foreach(p => Stats.rmTree(p._1.checkpoint.getParent))
        runs += run -> fig
      } catch {
        case e: Exception =>
          System.err.println(s"drain $i failed: $e")
          r.attempted += 1
          r.failed += 1
      }
      i += 1
    }
    runs.toSeq
  }

  /** A closed-loop drain's figures: `rows` input rows over the wall time,
    * epoch time, peak state memory and sink bytes per sunk row.
    */
  def drainFigures(run: Run, rows: Long): Map[String, Double] = Map(
    "rows_per_s" -> rows / (run.wallMs / 1e3),
    "engine.epoch_ms_p50" -> Stats.median(run.epochs.map(_.d("triggerExecution").toDouble)),
    "state_mb_peak" -> run.stateMbPeak,
    "sink_bytes_per_row" -> run.sinkDataBytes.toDouble / run.sinkRows)

  /** Per-epoch reconciliation of a guardian run against its sink:
    * rows in = rows written + duplicates dropped + late rows dropped,
    * with the counts from the progress `stateOperators` and the IceLite
    * manifests. Returns the rows read over the run.
    */
  def reconcile(r: Report, label: String, run: Run): Long = {
    val sink = run.sink.toString
    val committed = IceLite.committedBatches(sink).toSet
    r.check(committed == run.epochs.map(_.batchId).toSet,
      s"$label: committed epochs ${committed.toSeq.sorted} != executed ${run.epochs.map(_.batchId)}")
    run.epochs.foreach { e =>
      val op = e.op("dedupe")
      val dup = op.flatMap(o => Option(o.customMetrics.get("numDroppedDuplicateRows")))
        .map(_.longValue).getOrElse(0L)
      val late = op.map(_.numRowsDroppedByWatermark).getOrElse(0L)
      val written =
        if (committed(e.batchId)) IceLite.readManifest(sink, e.batchId).rowCount else -1L
      r.check(op.nonEmpty || e.inputRows == 0, s"$label: epoch ${e.batchId} has no dedup operator")
      r.check(e.inputRows == written + dup + late,
        s"$label: epoch ${e.batchId} in=${e.inputRows} != written=$written + dup=$dup + late=$late")
    }
    run.epochs.map(_.inputRows).sum
  }

  /** Wall time of `read` with its result collected; median of three. */
  def readMs(read: => DataFrame): Double =
    Stats.median((1 to 3).map(_ => Stats.timedMs(read.collect())._2))
}
