package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.TrainingDataOps

/** The `ops` layer (TrainingDataOps and its codegen expressions), reached
  * on the generated turns as a document corpus: one call per operation
  * shape (per-row projection, regex rewrite, token aggregate, join and
  * ranking window, self-join), each written to the noop sink. The batch
  * query suite over the sf0.1 tables is not part of this benchmark.
  */
object OpsLayer {

  private val piiRules = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "[SSN]")

  private def half(docs: DataFrame, h: Long) = docs.filter(pmod(col("doc_id"), lit(2L)) === h)

  /** The operations, by metric name, over a (doc_id, text) corpus. */
  val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
    "fingerprint" -> (d => TrainingDataOps.fingerprint(d)),
    "simhash16" -> (d => TrainingDataOps.simhash16(d)),
    "pii_redact" -> (d => TrainingDataOps.piiRedact(d, piiRules)),
    "repetition_stats" -> (d => TrainingDataOps.repetitionStats(d)),
    "top_tokens" -> (d => TrainingDataOps.topTokens(d)),
    "heavy_hitter_tokens" -> (d => TrainingDataOps.heavyHitterTokens(d, 0.01)),
    "tfidf_top_terms" -> (d => TrainingDataOps.tfidfTopTerms(d)),
    "exact_cross_dedup" -> (d => TrainingDataOps.exactCrossDedup(half(d, 1), half(d, 0))))

  /** Metric names and units, in report order. */
  val metrics: Seq[(String, String)] =
    ops.map { case (n, _) => s"ops.${n}_s" -> "s" } ++ Seq(
      "ops.total_s" -> "s", "ops.jobs" -> "count", "ops.stages" -> "count",
      "ops.shuffle_mb" -> "MiB", "ops.spill_mb" -> "MiB", "ops.executor_cpu_s" -> "s",
      "ops.gc_s" -> "s")

  /** Time each operation once inside a traced window and report
    * `ops.<name>_s`, their sum and the task counters of their jobs.
    * Checks that redaction keeps every row and leaves no planted e-mail
    * address behind.
    */
  def measure(r: Report, trace: Trace, turns: DataFrame): Map[String, Double] = {
    val docs = turns
      .select(xxhash64(col("conv_id"), col("turn_idx")).as("doc_id"), col("text"))
      .persist()
    val n = docs.count()
    val t0 = Clock.nowMs
    val times = ops.map { case (name, op) =>
      s"ops.${name}_s" -> Stats.timedMs(op(docs).write.format("noop").mode("overwrite").save())._2 / 1e3
    }
    trace.settle()
    val c = trace.counters(t0, Clock.nowMs)
    val redacted = TrainingDataOps.piiRedact(docs, piiRules)
      .agg(count(lit(1)), sum(col("redacted").contains("@leak.test").cast("long"))).head()
    r.check(redacted.getLong(0) == n, s"ops: piiRedact returned ${redacted.getLong(0)} of $n rows")
    r.check(redacted.getLong(1) == 0, s"ops: ${redacted.getLong(1)} rows keep a planted e-mail")
    docs.unpersist()
    times.toMap ++ Map(
      "ops.total_s" -> times.map(_._2).sum,
      "ops.jobs" -> c.jobs.toDouble,
      "ops.stages" -> c.stages.toDouble,
      "ops.shuffle_mb" -> c.shuffleWriteMb,
      "ops.spill_mb" -> c.spillMb,
      "ops.executor_cpu_s" -> c.cpuS,
      "ops.gc_s" -> c.gcS)
  }
}
