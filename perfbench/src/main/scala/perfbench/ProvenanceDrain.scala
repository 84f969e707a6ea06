package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gen.DeterministicGen.TranscriptSpec
import graft.stream.{GuardianStream, IceLite, ProvenanceJoin}

/** `provenance_join`: closed-loop drains through
  * `GuardianStream.startProvenance`. Raw transcript files and their
  * generated twin (±60 s skew) are both watermarked with a 10-minute
  * delay, so the ArenaStateStore serves a symmetric hash join with many
  * values per key and really evicts join state every epoch.
  */
object ProvenanceDrain extends Workload {
  val nFiles = 8
  val filesPerEpoch = 4
  val hotConv = "conv-000000"
  val maxSkew = "2 minutes"

  /** 4 hot conversations of 5k turns plus 24-turn ones: 40k turns a side. */
  def spec(seed: Long): TranscriptSpec = TranscriptSpec(
    nConvs = 4 + 834, turnsPerConv = 24, hotConvs = 4, hotTurns = 5000,
    piiPermille = 20, seed = seed)

  def drainOnce(spark: SparkSession, raw: Path, gen: Path, dir: Path): Streams.Run =
    Streams.drain(dir)((ck, sink) =>
      GuardianStream.startProvenance(spark, raw.toString, gen.toString, ck.toString,
        sink.toString, watermarkDelay = "10 minutes", maxSkew = maxSkew,
        availableNow = true, maxFilesPerTrigger = Some(filesPerEpoch)))

  /** Repeated drains of both sides; every drain must read every row. */
  def measure(spark: SparkSession, o: Opts, r: Report, raw: Inputs.Input, gen: Inputs.Input,
      dir: Path, trace: Option[(Trace, Int)])(
      summarize: Streams.Run => Map[String, Double]): Seq[(Streams.Run, Map[String, Double])] =
    Streams.repeatDrains(o, r, dir, trace)(
      drainOnce(spark, raw.files.head.getParent, gen.files.head.getParent, _)) { run =>
      val in = run.epochs.map(_.inputRows).sum
      r.check(in == raw.rows + gen.rows, s"a drain read $in rows of ${raw.rows + gen.rows}")
      summarize(run)
    }

  /** The streamed match set equals the batch `ProvenanceJoin.join` over
    * the same files as a multiset (one grouped pass over both), and the
    * manifests count every sunk match.
    */
  def checkSink(spark: SparkSession, r: Report, raw: Inputs.Input, gen: Inputs.Input,
      run: Streams.Run): Unit = {
    val cols = Seq("conv_id", "turn_idx", "raw_ts", "gen_ts", "text_match", "skew_us").map(col)
    val streamed = IceLite.read(spark, run.sink.toString).select(cols: _*)
      .withColumn("s", lit(1L)).withColumn("b", lit(0L))
    val batch = ProvenanceJoin.join(
      spark.read.parquet(raw.files.map(_.toString): _*),
      spark.read.parquet(gen.files.map(_.toString): _*), maxSkew).select(cols: _*)
      .withColumn("s", lit(0L)).withColumn("b", lit(1L))
    val agg = streamed.unionByName(batch).groupBy(cols: _*).agg(sum("s").as("s"), sum("b").as("b"))
      .agg(sum("s"), sum(when(col("s") > col("b"), col("s") - col("b")).otherwise(0L)),
        sum(when(col("b") > col("s"), col("b") - col("s")).otherwise(0L))).head()
    val (n, extra, missing) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    r.check(n == run.sinkRows, s"sink read-back $n rows, manifests ${run.sinkRows}")
    r.check(extra == 0 && missing == 0,
      s"streamed matches differ from the batch join: $extra extra, $missing missing")
    r.check(n > 0, "no provenance matches")
  }

  def run(spark: SparkSession, o: Opts, sessionS: Double, r: Report): Unit = {
    val (raw, gen) = Inputs.twin(spark, o, spec(o.seed), nFiles)
    val rows = raw.rows + gen.rows
    Stats.log(s"input: $rows rows in ${raw.files.size} + ${gen.files.size} files")
    val root = o.work.resolve(o.workload)
    Stats.rmTree(root)
    val warmRaw = Inputs.stage(raw.files.take(1), root.resolve("warm-raw"))
    val warmGen = Inputs.stage(gen.files.take(1), root.resolve("warm-gen"))
    val setupMs = (1 to 3).map(i =>
      drainOnce(spark, warmRaw, warmGen, root.resolve(s"warm-$i")).wallMs)
    val setupS = sessionS + Stats.median(setupMs) / 1e3
    Stats.log(s"setup: session ${sessionS}s, warm-up drains ${setupMs.mkString(", ")} ms")
    val base = measure(spark, o, r, raw, gen, root.resolve("base"), None)(Streams.drainFigures(_, rows))
    if (base.isEmpty) return
    val baseFig = Metrics.medians(base.map(_._2))
    if (!o.trace) {
      val checkMs = Stats.timedMs(checkSink(spark, r, raw, gen, base.last._1))._2
      Stats.log(s"check: $checkMs ms")
      Metrics.report(r, Metrics.endToEnd, baseFig + ("setup_s" -> setupS), zeroIfMissing = false)
      return
    }
    val trace = new Trace
    trace.attach(spark)
    val traced = trace.span("measure")(id =>
      measure(spark, o, r, raw, gen, root.resolve("traced"), Some((trace, id)))(run =>
        Streams.drainFigures(run, rows) ++ Metrics.layersOf(run, trace, raw.files ++ gen.files) ++ Map(
          "join.match_ratio" -> run.sinkRows.toDouble / raw.rows)))
    trace.detach(spark)
    if (traced.isEmpty) return
    val last = traced.last._1
    trace.span("check")(_ => checkSink(spark, r, raw, gen, last))
    val tracedFig = Metrics.medians(traced.map(_._2))
    val layers = tracedFig ++ Map(
      "sink.footer_ms_p50" -> trace.span("footer")(_ => Metrics.footerMsP50(last.sink)),
      "sink.read_conv_ms" -> trace.span("read_conv")(_ =>
        Streams.readMs(IceLite.readConv(spark, last.sink.toString, hotConv))),
      "gen.s" -> raw.genS,
      "trace.overhead_pct" -> (baseFig("rows_per_s") / tracedFig("rows_per_s") - 1) * 100)
    Metrics.report(r, Metrics.perLayer, layers, zeroIfMissing = true)
    trace.write(o.work.resolve("traces").resolve(s"${o.workload}-s${o.seed}.json"),
      Map("workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cpus), layers)
  }
}
