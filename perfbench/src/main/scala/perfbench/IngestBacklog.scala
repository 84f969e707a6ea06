package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gen.DeterministicGen.TranscriptSpec
import graft.stream.{GuardianStream, IceLite, Windows}
import graft.stream.GuardianStream.StreamConfig
import graft.watermark.Watermarker

/** `ingest_backlog`: closed-loop catch-up drains. The guardian query with
  * the default StreamConfig (quality window on, other monitors off)
  * drains a pre-written backlog in a few big AvailableNow epochs, again
  * and again on fresh directories for the measured seconds. The per-row
  * data path (scan/decode, dedup state, TextStats and watermark
  * projection, parquet encode) takes about two thirds of each drain; the
  * rest is per-epoch fixed cost.
  */
object IngestBacklog extends Workload {
  val nFiles = 12
  val filesPerEpoch = 4
  val dupPermille = 30
  /** Backlog files the traced run's ops layer reads as its corpus. */
  val opsFiles = 1
  val hotConv = "conv-000000"

  /** 4 hot conversations of 40k turns (key skew) plus 24-turn ones:
    * 740k turns, 2% with PII, 0.5% planted late; ~3% replayed on top.
    * Sessions pause for a day, so a late row is shifted two days back:
    * more than the two epochs the dedup operator's late-row watermark
    * trails by, and the late filter really drops rows.
    */
  def spec(seed: Long): TranscriptSpec = TranscriptSpec(
    nConvs = 4 + 24167, turnsPerConv = 24, hotConvs = 4, hotTurns = 40000,
    piiPermille = 20, latePermille = 5, sessionGapSeconds = 86400L, seed = seed)

  def config(src: Path, ck: Path, sink: Path): StreamConfig = StreamConfig(
    sourceDir = src.toString, checkpointDir = ck.toString, sinkDir = sink.toString,
    availableNow = true, maxFilesPerTrigger = Some(filesPerEpoch))

  /** The same query with every standing monitor on, one file per epoch. */
  def monitorConfig(src: Path, ck: Path, sink: Path): StreamConfig =
    config(src, ck, sink).copy(maxFilesPerTrigger = Some(1), vocabK = Some(512),
      diversityM = Some(4096), cmsW = Some(1024), sessionGap = Some("30 minutes"),
      compactEvery = Some(4))

  def drainOnce(spark: SparkSession, src: Path, dir: Path): Streams.Run =
    Streams.drain(dir)((ck, sink) => GuardianStream.start(spark, config(src, ck, sink)))

  /** Repeated drains of the backlog; every drain must read every input
    * row and reconcile epoch by epoch.
    */
  def measure(spark: SparkSession, o: Opts, r: Report, in: Inputs.Input, dir: Path,
      trace: Option[(Trace, Int)])(
      summarize: Streams.Run => Map[String, Double]): Seq[(Streams.Run, Map[String, Double])] =
    Streams.repeatDrains(o, r, dir, trace)(drainOnce(spark, in.files.head.getParent, _)) { run =>
      val rows = Streams.reconcile(r, s"drain at ${run.checkpoint}", run)
      r.check(rows == in.rows, s"a drain read $rows rows of ${in.rows}")
      summarize(run)
    }

  /** The sink check, over the union of sunk and planted-late turn keys:
    * no turn is sunk twice, every input turn is sunk or planted late,
    * manifests match the read-back, and every conversation that carries
    * the whole watermark payload verifies.
    */
  def checkSink(spark: SparkSession, r: Report, in: Inputs.Input, run: Streams.Run, turns: Long): Unit = {
    val sunk = IceLite.read(spark, run.sink.toString).select("conv_id", "turn_idx", "ts").persist()
    val keys = sunk.select(col("conv_id"), col("turn_idx"), lit(1L).as("s"))
      .unionByName(spark.read.parquet(in.dir.resolve("late").toString).withColumn("s", lit(0L)))
      .groupBy("conv_id", "turn_idx").agg(sum("s").as("s"))
      .agg(count(lit(1)), sum("s"), max("s")).head()
    val (covered, n, most) = (keys.getLong(0), keys.getLong(1), keys.getLong(2))
    r.check(n == run.sinkRows, s"sink read-back $n rows, manifests ${run.sinkRows}")
    r.check(most == 1, s"a turn is sunk $most times")
    r.check(covered == turns, s"$covered turns sunk or planted late, of $turns")
    val payload = "WM01"
    val need = (payload.length * 8 + 1) / 2
    val whole = sunk.filter(col("turn_idx") < need).groupBy("conv_id")
      .agg(count(lit(1)).as("k")).filter(col("k") === need)
    val verdict = Watermarker.verifyTurnTsPerConv(sunk, payload).join(whole, "conv_id")
      .agg(count(lit(1)), sum(when(col("verified"), 0L).otherwise(1L))).head()
    r.check(verdict.getLong(0) > 0, "no conversation carries the whole watermark payload")
    r.check(verdict.isNullAt(1) || verdict.getLong(1) == 0,
      s"${verdict.get(1)} conversations fail watermark verification")
    sunk.unpersist()
  }

  /** The monitor layer, which the default config leaves off: the first
    * file again with every standing monitor on, then the timed
    * monitor reads (median of three) and one `compactQuality` over what
    * that run published.
    */
  def monitorLayers(spark: SparkSession, in: Inputs.Input, dir: Path): Map[String, Double] = {
    val src = Inputs.stage(in.files.take(1), dir.resolve("src"))
    val sink = Streams.drain(dir.resolve("run"))((ck, sink) =>
      GuardianStream.start(spark, monitorConfig(src, ck, sink))).sink.toString
    Map(
      "monitor.read_quality_ms" -> Streams.readMs(GuardianStream.readQuality(spark, sink)),
      "monitor.read_vocab_ms" -> Streams.readMs(GuardianStream.readVocab(spark, sink)),
      "monitor.read_session_ms" -> Streams.readMs(GuardianStream.readSessionQuality(spark, sink)),
      "monitor.compact_quality_ms" -> Stats.timedMs(GuardianStream.compactQuality(sink))._2)
  }

  /** The TextStats + watermark projection alone: one batch pass over the
    * backlog to the noop sink.
    */
  def projectTurnsPerS(spark: SparkSession, in: Inputs.Input): Double = {
    val df = spark.read.parquet(in.files.map(_.toString): _*)
    val ms = Stats.timedMs(Windows.withQualityFlags(Watermarker.embedTurnTs(df, "WM01"))
      .write.format("noop").mode("overwrite").save())._2
    in.rows / (ms / 1e3)
  }

  def run(spark: SparkSession, o: Opts, sessionS: Double, r: Report): Unit = {
    val in = Inputs.backlog(spark, o, spec(o.seed), dupPermille, nFiles)
    Stats.log(s"input: ${in.rows} rows in ${in.files.size} files, ${in.plantedLate} planted late")
    val root = o.work.resolve(o.workload)
    Stats.rmTree(root)
    // a traced run warms up with two drains and measures two untraced and
    // two traced drains: its figures are per-layer, and it must still end
    // in time
    val set = if (o.trace) o.copy(seconds = 0, minDrains = 2) else o
    // warm-up: whole drains, so the measured drains run on warmed-up code
    val setupMs = (1 to set.minDrains).map(i =>
      drainOnce(spark, in.files.head.getParent, root.resolve(s"warm-$i")).wallMs)
    val setupS = sessionS + Stats.median(setupMs) / 1e3
    Stats.log(s"setup: session ${sessionS}s, warm-up drains ${setupMs.mkString(", ")} ms")
    val base = measure(spark, set, r, in, root.resolve("base"), None)(Streams.drainFigures(_, in.rows))
    if (base.isEmpty) return
    val baseFig = Metrics.medians(base.map(_._2))
    if (!o.trace) {
      val checkMs = Stats.timedMs(checkSink(spark, r, in, base.last._1, spec(o.seed).totalTurns))._2
      Stats.log(s"check: $checkMs ms")
      Metrics.report(r, Metrics.endToEnd, baseFig + ("setup_s" -> setupS), zeroIfMissing = false)
      return
    }
    val trace = new Trace
    trace.attach(spark)
    val traced = trace.span("measure")(id =>
      measure(spark, set, r, in, root.resolve("traced"), Some((trace, id)))(run =>
        Streams.drainFigures(run, in.rows) ++ Metrics.layersOf(run, trace, in.files)))
    if (traced.isEmpty) return
    val last = traced.last._1
    trace.span("check")(_ => checkSink(spark, r, in, last, spec(o.seed).totalTurns))
    val tracedFig = Metrics.medians(traced.map(_._2))
    val layers = tracedFig ++ Map(
      "project.turns_per_s" -> trace.span("project")(_ => projectTurnsPerS(spark, in)),
      "sink.footer_ms_p50" -> trace.span("footer")(_ => Metrics.footerMsP50(last.sink)),
      "sink.read_conv_ms" -> trace.span("read_conv")(_ =>
        Streams.readMs(IceLite.readConv(spark, last.sink.toString, hotConv))),
      "gen.s" -> in.genS,
      "trace.overhead_pct" -> (baseFig("rows_per_s") / tracedFig("rows_per_s") - 1) * 100) ++
      trace.span("monitors")(_ => monitorLayers(spark, in, root.resolve("monitors"))) ++
      trace.span("ops")(_ => OpsLayer.measure(r, trace,
        spark.read.parquet(in.files.take(opsFiles).map(_.toString): _*)))
    trace.detach(spark)
    // the single-thread baseline: the same drains on a local[1] session,
    // median of three (generated code is cached per JVM)
    Session.stop(spark)
    val one = Session.start(1, o.work)
    val tp1 = trace.span("local1")(_ => Metrics.medians(
      measure(one, o.copy(seconds = 0), r, in, root.resolve("local1"), None)(run =>
        Map("rows_per_s" -> in.rows / (run.wallMs / 1e3))).map(_._2))("rows_per_s"))
    val all = layers ++ Map(
      "ingest.turns_per_s_local1" -> tp1,
      "ingest.scaling_eff_1to4" -> baseFig("rows_per_s") / (o.cpus * tp1))
    Metrics.report(r, Metrics.perLayer, all, zeroIfMissing = true)
    trace.write(o.work.resolve("traces").resolve(s"${o.workload}-s${o.seed}.json"),
      Map("workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cpus), all)
  }
}
