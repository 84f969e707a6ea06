package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder. Spans mark the layer boundaries the
  * benchmark crosses (name, start, end, parent; one id per span); a
  * SparkListener and a StreamingQueryListener count tasks, stages, jobs
  * and epochs. Everything stays in memory until `write`.
  */
final class Trace {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageAgg = mutable.HashMap.empty[Int, StageAgg]
  private var progressEvents = 0L

  /** Run `f` inside a new span; `f` gets the span's id for its children. */
  def span[A](name: String, parent: Int = 0)(f: Int => A): A = {
    val id = add(name, parent, Clock.nowMs, Double.NaN)
    try f(id)
    finally {
      val s = synchronized {
        spans(id - 1) = spans(id - 1).copy(endMs = Clock.nowMs)
        spans(id - 1)
      }
      if (parent == 0) Stats.log(f"span $name: ${s.endMs - s.startMs}%.0f ms")
    }
  }

  def add(name: String, parent: Int, startMs: Double, endMs: Double): Int = synchronized {
    val id = spans.size + 1
    spans += Span(id, name, parent, startMs, endMs)
    id
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        if (m.inputMetrics.recordsRead > 0) a.scanRunMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progressEvents += 1 }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Detach after the listener bus has delivered every job end. */
  def detach(spark: SparkSession): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** Wait (bounded) until every started job has ended on the bus. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def open = synchronized(jobs.values.count(_.endMs < 0))
    while (open > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  def jobsIn(fromMs: Double, toMs: Double): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }

  def counters(fromMs: Double, toMs: Double): Counters = synchronized {
    val js = jobsIn(fromMs, toMs)
    val aggs = js.flatMap(_.stages).distinct.flatMap(stageAgg.get)
    def sum(f: StageAgg => Long) = aggs.map(f).sum.toDouble
    Counters(js.size, aggs.size, sum(_.cpuNs) / 1e9, sum(_.gcMs) / 1e3, sum(_.scanRunMs) / 1e3,
      sum(_.shuffleWrite) / (1024.0 * 1024.0), sum(_.spill) / (1024.0 * 1024.0))
  }

  /** Spark job wall time inside each window (for the commit's write jobs). */
  def jobMsWithin(windows: Seq[(Double, Double)]): Seq[Double] = synchronized {
    windows.map { case (a, b) =>
      jobsIn(a, b).filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble).sum
    }
  }

  /** Write spans and counters as JSON. */
  def write(path: Path, header: Map[String, Any], metrics: Map[String, Double]): Unit = synchronized {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    header.foreach { case (k, v) => root.put(k, v.toString) }
    root.put("progress_events", progressEvents)
    val ss = root.putArray("spans")
    spans.foreach { s =>
      val n = ss.addObject()
      n.put("id", s.id); n.put("name", s.name); n.put("parent", s.parent)
      n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
    }
    val js = root.putArray("jobs")
    jobs.values.foreach { j =>
      val n = js.addObject()
      n.put("id", j.id); n.put("start_ms", j.startMs); n.put("end_ms", j.endMs)
      n.put("stages", j.stages.mkString(","))
    }
    val m = root.putObject("metrics")
    metrics.foreach { case (k, v) => m.put(k, v) }
    Files.createDirectories(path.getParent)
    om.writerWithDefaultPrettyPrinter().writeValue(path.toFile, root)
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Seq[Int])

  /** Task metrics summed per stage. */
  final class StageAgg {
    var cpuNs = 0L; var gcMs = 0L; var scanRunMs = 0L; var shuffleWrite = 0L; var spill = 0L
  }

  /** Task metrics summed over the jobs that started in a time window. */
  final case class Counters(
      jobs: Int, stages: Int, cpuS: Double, gcS: Double, scanTaskS: Double,
      shuffleWriteMb: Double, spillMb: Double)
}
