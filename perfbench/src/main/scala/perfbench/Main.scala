package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run; `minDrains` is the fewest drains a
  * measured set makes, however short `seconds` is.
  */
final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, minDrains: Int = 3) {
  /** local[min(4, nproc)]: the benchmark never asks for more task threads
    * than the host has cores.
    */
  val cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors())
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }
}

/** The result of one run: verdict, operation counts and named metrics. */
final class Report {
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def put(name: String, value: Double, unit: String): Unit = {
    check(!value.isNaN && !value.isInfinite, s"metric $name is not finite")
    metrics(name) = (if (value.isNaN || value.isInfinite) 0.0 else value, unit)
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def correct: Boolean = problems.isEmpty && failed == 0 && attempted > 0

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${v.toString}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Stats {
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since `Stats` was
    * first used (the start of input generation).
    */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def timedMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def parquetFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.filter(f => f.getFileName.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

object Session {
  def start(cpus: Int, work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      // the sink settings the repository's own harnesses deploy with
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "graft.stream.state.ArenaStateStoreProvider")
      // every epoch's progress stays readable after the query ends
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Stop state-store maintenance before the context, so no maintenance
    * tick races the shutdown.
    */
  def stop(s: SparkSession): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    s.stop()
  }
}

/** One workload: untraced runs report the end-to-end metrics, traced runs
  * the per-layer metrics.
  */
trait Workload {
  def run(spark: SparkSession, o: Opts, sessionS: Double, r: Report): Unit
}

object Main {
  val workloads: Map[String, Workload] = Map(
    "ingest_backlog" -> IngestBacklog,
    "provenance_join" -> ProvenanceDrain)

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val w = workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    Files.createDirectories(o.work)
    val r = new Report
    val t0 = System.nanoTime()
    val spark = Session.start(o.cpus, o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try w.run(spark, o, sessionS, r)
    catch {
      // a failed run is counted, never timed: the workload check fails
      case e: Throwable =>
        e.printStackTrace()
        r.failed += 1
        r.attempted = math.max(r.attempted, r.failed)
        r.check(ok = false, s"run aborted: $e")
    } finally Session.stop(SparkSession.getDefaultSession.getOrElse(spark))
    r.problems.foreach(p => System.err.println(s"perfbench check failed: $p"))
    println(r.json)
    System.out.flush()
    sys.exit(0)
  }
}
