package graft.stream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import scala.util.control.NonFatal
import graft.lineage.DataLineage
import graft.model.{ColumnSpec, Turn}
import graft.validate.Validator
import graft.watermark.Watermarker

/** The standing guardian pipeline — the streaming restatement of the
  * reference's `/generate` route (app.py:32-53):
  *
  *   transcript stream → event-time watermark → stateful dedup →
  *   per-turn watermark embed → stateless quality/PII validators →
  *   per-micro-batch validation report → exactly-once IceLite audit sink
  *   with per-partition lineage manifests.
  *
  * Skew: the default row-level dedup keys on a 128-bit hash of
  * (conv_id, turn_idx, text), so a hot conversation's turns hash over
  * every state partition instead of pinning one. The
  * flatMapGroupsWithState path (`rowDedup = false`) salts instead: it
  * groups on (conv_id, turn_idx >> turnBucketShift) — the "salted
  * repartitioning on (conv_id, turn_idx bucket) before the stateful
  * aggregate" of the north star.
  *
  * Determinism: no wall clock anywhere — dataset ids derive from the sink
  * identity, lineage timestamps are the checkpoint epoch, so a resume from
  * checkpoint reproduces identical output rows and manifests.
  */
object GuardianStream {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  final case class StreamConfig(
      sourceDir: String,
      checkpointDir: String,
      sinkDir: String,
      watermarkPayload: String = "WM01",
      watermarkDelay: String = "10 minutes",
      turnBucketShift: Int = 8,
      datasetId: String = "transcripts",
      maxFilesPerTrigger: Option[Int] = None,
      availableNow: Boolean = false,
      // Dedup engine: true (default) = row-level dropDuplicatesWithinWatermark
      // on (conv_id, xxhash64(turn_idx, text)) — no sort, no object codec,
      // hash-spread skew; false = the salted flatMapGroupsWithState path
      // (DedupState.dedup). Same observable semantics either way
      // (StreamingSpec asserts the equivalence).
      rowDedup: Boolean = true,
      // When set, each epoch also lands per-window quality partials
      // (tumbling `qualityWindow` windows of text_len/PII stats) in a
      // `quality/` IceLite table next to the audit data — the streaming
      // restatement of the reference validating INSIDE the pipeline
      // (app.py:50-51). Free on the commit path (rides the write job's
      // observe()). None disables the quality sink.
      qualityWindow: Option[String] = Some("1 hour"),
      // Optional slide for the quality windows (must be ≤ qualityWindow;
      // None ⇒ tumbling). Sliding drift windows ride the same observe()
      // aggregate — each row lands size/slide window assignments
      // (round-3 verdict item 7).
      qualitySlide: Option[String] = None,
      // Every N committed epochs, roll the accumulated quality (and, when
      // enabled, session) partials into ONE compacted manifest — the
      // Iceberg rewrite_manifests discipline. The read path then parses
      // O(1) compacted state + the residual epochs instead of every epoch
      // manifest since stream start (round-3 verdict item 3: a standing
      // query committing for a month is ~10^6 manifests). None ⇒ no
      // auto-compaction (compactQuality/compactSessions remain callable
      // as maintenance).
      compactEvery: Option[Int] = None,
      // When set, each epoch also lands per-conversation SESSION quality
      // partials (session gap = this duration) in a `sessions/` IceLite
      // table. Unlike the tumbling windows these cannot ride observe()
      // (per-conversation cardinality), so enabling costs one 4-column
      // read-back + small write per epoch — a deployment knob, default
      // off; `readSessionQuality` merges the interval partials exactly.
      sessionGap: Option[String] = None,
      // When set (RIDES the quality sink — requires qualityWindow), each
      // epoch also lands a Misra–Gries vocabulary summary (≤ 2k
      // heavy-token candidates + counters, tokenized inside the
      // aggregate) in the SAME quality manifest — a standing vocabulary /
      // heavy-hitter monitor on the commit path for zero extra jobs.
      // Counters are UNDER-counts with total error ≤ N_tokens/(k+1) over
      // the whole stream regardless of epoch boundaries (mergeable
      // summaries); `readVocab` folds epochs in batch order, so the
      // merged view is deterministic and compaction is bit-exact
      // lossless.
      vocabK: Option[Int] = None,
      // When set (rides the quality sink — requires qualityWindow), each
      // epoch also lands an m-slot LINEAR-COUNTING bitmap over token
      // trigram hashes (GramBitmapAgg, tokenized inside the aggregate)
      // in the quality manifest — a standing corpus-DIVERSITY monitor
      // (estimated distinct trigrams of everything ever sunk) for zero
      // extra jobs. Bitmap merge is bitwise OR: associative AND
      // commutative, so the merged view is independent of epoch
      // boundaries and compaction order; `readDiversity` reports the
      // exact occupied-slot count and the linear-counting estimate.
      // Must be a positive multiple of 64 (m bits = m/64 longs) and must
      // NOT change across restarts of one sink — both the read fold and
      // compaction reject mixed bitmap sizes.
      diversityM: Option[Int] = None,
      // When set (rides the quality sink — requires qualityWindow), each
      // epoch also lands a count-min sketch over the sunk tokens (d=4
      // rows x cmsW additive counters, CmsTextAgg). Paired with vocabK,
      // `readVocabBracket` gives every Misra–Gries candidate a two-sided
      // count bracket: MG never over-counts, CMS never under-counts.
      // Counter merge is exact long addition (order-free), so the merged
      // sketch — and its compaction — is independent of epoch
      // boundaries. Must not change across restarts of one sink.
      cmsW: Option[Int] = None) {
    // The monitors RIDE the quality sink's observe(): configuring them
    // with the quality sink disabled used to silently publish nothing
    // (ADVICE r5) — fail at construction instead.
    require(
      qualityWindow.nonEmpty ||
        (vocabK.isEmpty && diversityM.isEmpty && cmsW.isEmpty),
      "vocabK/diversityM/cmsW ride the quality sink: set qualityWindow " +
        "or unset the monitors")
  }

  /** The per-batch text-length spec driving the micro-batch validation
    * report (the streaming analog of validate_dataset's fixed ranges,
    * validator.py:82-95).
    */
  val textLenSpec: ColumnSpec = ColumnSpec("text_len", 0.0, 10000.0)

  /** Transform graph shared by batch and streaming (identical semantics —
    * used by the batch-equivalence tests).
    *
    * Dedup stage: `cfg.rowDedup` picks the row-level
    * `dropDuplicatesWithinWatermark` path (default — no sort, no object
    * codec; see DedupState.dedupRows) or the salted
    * flatMapGroupsWithState path; both collapse exact replays and drop
    * late rows identically (StreamingSpec "row-level dedup ≡ fMGWS").
    */
  def transforms(turns: org.apache.spark.sql.Dataset[Turn], cfg: StreamConfig): DataFrame = {
    val deduped =
      if (cfg.rowDedup) DedupState.dedupRows(turns.toDF)
      else DedupState.dedup(turns, cfg.turnBucketShift).toDF
    val embedded = Watermarker.embedTurnTs(deduped, cfg.watermarkPayload)
    Windows.withQualityFlags(embedded)
  }

  private def qualityRoot(sinkDir: String): String =
    java.nio.file.Paths.get(sinkDir, "quality").toString

  /** Per-epoch quality-window partials, published exactly-once to the
    * `quality/` manifest table next to the audit data — the streaming
    * restatement of the reference validating INSIDE the pipeline
    * (app.py:50-51): every committed epoch lands its drift-window
    * statistics in the same audit sink, not in a separate batch job.
    *
    * Design for the commit path's cost discipline:
    *  - every enabled monitor (`MonitorPartial`) is one aggregate riding
    *    the write job's `observe()` — never a second evaluation of the
    *    transform pipeline, never a second source scan;
    *  - the per-epoch result is TINY (one row per touched event-time
    *    window: count/min/max/sum/sumsq/pii as exact integers, plus the
    *    constant-size monitor blocks), so it is inlined in the epoch's
    *    quality MANIFEST — zero extra write jobs, zero extra footer sweeps;
    *  - `readQuality` merges the partials exactly (integer arithmetic),
    *    so a window spanning micro-batches reassembles bit-for-bit — the
    *    append-partials + merge-on-read pattern streaming writers use on
    *    Iceberg tables; no second stateful operator in the query graph.
    *
    * Exactly-once: idempotent by quality-manifest existence (same atomic
    * CommitIO publish the audit manifests use), published AFTER the main
    * manifest; a crash between the two publishes is healed on the
    * epoch's redelivery (processBatch re-runs only this step, with
    * `observed` = None).
    */
  private def publishQuality(
      spark: SparkSession,
      cfg: StreamConfig,
      batchId: Long,
      observed: Option[Map[String, Any]]): Unit = {
    val window = cfg.qualityWindow.getOrElse(return)
    val root = qualityRoot(cfg.sinkDir)
    if (IceLite.isCommitted(root, batchId)) return
    val monitors = MonitorPartial.enabled(cfg)
    // Recovery path only (crash between the main and quality publishes,
    // epoch redelivered): re-derive every enabled monitor in ONE agg over
    // the epoch's committed parquet. A re-derived vocabulary summary can
    // differ from the one the crashed attempt WOULD have published (MG
    // values depend on the merge tree) — both are valid summaries, and
    // exactly-once publish makes whichever lands first THE epoch value.
    // An empty epoch has no data files: every monitor publishes its merge
    // identity.
    val values = observed.orElse(IceLite.readEpoch(spark, cfg.sinkDir, batchId).map { rows =>
      val cols = monitors.map(m => m.column(cfg).as(m.name))
      val row = rows.agg(cols.head, cols.tail: _*).collect()(0)
      row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    })
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("batch_id", batchId)
    node.put("dataset_id", s"${cfg.datasetId}-quality")
    node.put("window", window)
    cfg.qualitySlide.foreach(node.put("slide", _))
    monitors.foreach(_.publish(node, cfg, values))
    IceLite.commitIO.publishIfAbsent(
      IceLite.manifestPath(root, batchId), mapper.writeValueAsString(node))
    ()
  }

  /** Bracketed standing heavy-hitter view: every Misra–Gries candidate
    * token with its two-sided count bracket over everything ever sunk —
    * `mg_lower` (the MG counter; never over-counts) and `cms_upper`
    * (the merged CMS probe; never under-counts), so
    * mg_lower ≤ true count ≤ cms_upper without ever recounting rows.
    * Requires both `vocabK` and `cmsW` on the running config.
    */
  def readVocabBracket(spark: SparkSession, sinkDir: String): DataFrame = {
    import spark.implicits._
    val manifests = liveQuality(sinkDir)
    val mg = vocabRows(manifests)
    MonitorPartial.Cms.fold(manifests) match {
      case Some((cw, counters)) if mg.nonEmpty =>
        mg.map { case (t, lower) =>
          (t, lower, graft.expressions.CmsTextAgg.probe(counters, cw, t))
        }.toDF("token", "mg_lower", "cms_upper")
      case _ =>
        Seq.empty[(String, Long, Long)].toDF("token", "mg_lower", "cms_upper")
    }
  }

  /** Point-probe the merged CMS for CALLER-CHOSEN tokens — unlike the
    * Misra–Gries candidate set (which legitimately varies with
    * partitioning), the summed counters are partition-independent, so
    * this view is exactly restatable from the sunk rows (the
    * stream_cms_e2e oracle). Estimates never under-count.
    */
  def readCms(spark: SparkSession, sinkDir: String,
      tokens: Seq[String]): DataFrame = {
    import spark.implicits._
    MonitorPartial.Cms.fold(liveQuality(sinkDir)) match {
      case Some((cw, counters)) =>
        tokens.map(t =>
          (t, graft.expressions.CmsTextAgg.probe(counters, cw, t)))
          .toDF("token", "cms_upper")
      case None => Seq.empty[(String, Long)].toDF("token", "cms_upper")
    }
  }

  /** Merged corpus-diversity view: the OR of the per-epoch
    * linear-counting bitmaps as one row (m, v_occ, est_linear): exact
    * occupied slots and the −m·ln(empty/m) distinct-trigram estimate, −1
    * on saturation.
    */
  def readDiversity(spark: SparkSession, sinkDir: String): DataFrame = {
    import spark.implicits._
    MonitorPartial.Diversity.fold(liveQuality(sinkDir)) match {
      case Some((dm, acc)) =>
        val (v, est) = graft.expressions.GramBitmapAgg.summarize(acc, dm)
        Seq((dm, v, est)).toDF("m", "v_occ", "est_linear")
      case None => Seq.empty[(Int, Long, Long)].toDF("m", "v_occ", "est_linear")
    }
  }

  /** Merged vocabulary monitor view: the per-epoch Misra–Gries summaries
    * folded into one ≤ 2k-entry (token, counter) table. Counters
    * under-count by at most N_tokens/(k+1) over the whole stream; no
    * token is over-counted.
    */
  def readVocab(spark: SparkSession, sinkDir: String): DataFrame = {
    import spark.implicits._
    vocabRows(liveQuality(sinkDir)).toDF("token", "cnt")
  }

  private def vocabRows(
      manifests: Seq[com.fasterxml.jackson.databind.JsonNode]): Seq[(String, Long)] =
    MonitorPartial.Vocab.fold(manifests).map(MonitorPartial.Vocab.sorted)
      .getOrElse(Seq.empty)

  private def sessionsRoot(sinkDir: String): String =
    java.nio.file.Paths.get(sinkDir, "sessions").toString

  /** One partition-local session run (interval partial, micros). */
  private[stream] final case class SessPartial(
      conv_id: String, s_start_us: Long, s_end_us: Long,
      n_turns: Long, len_sum: Long, n_pii: Long)

  /** Per-epoch SESSION-quality partials → `sessions/` IceLite table.
    *
    * A session is a gap-delimited run of a conversation's turns; sessions
    * straddle micro-batches AND partitions, so the epoch lands MERGEABLE
    * INTERVAL partials: each row an interval [first_ts, last_ts + gap)
    * with additive stats, merged exactly by `readSessionQuality`'s
    * interval-islands pass.
    *
    * SHUFFLE-FREE: partials are PARTITION-LOCAL session runs — a
    * `sortWithinPartitions(conv_id, ts)` (local sort, no exchange) and
    * one forward pass per partition. This is exact, not approximate:
    *  - a partition-local run never spans two true sessions (two events
    *    of one run are directly within `gap`, so they chain);
    *  - consecutive chained events bridge partials — event e(i+1) lies
    *    inside the interval of the run containing e(i) (that interval
    *    ends ≥ e(i)+gap > e(i+1)), so all partials of one true session
    *    overlap into ONE island, and partials of different sessions
    *    (≥ gap apart) never overlap.
    * The earlier formulation (`session_window` groupBy) shuffled the
    * epoch's rows on conv_id — measured ~1.2 s/epoch at 32 threads on
    * 2M-row epochs (−40% steady throughput with the knob on); the local
    * pass costs only the slim read-back + per-partition sort.
    * Per-conversation cardinality still rules out the observe()
    * ride-along the tumbling windows use.
    */
  private def publishSessions(
      spark: SparkSession, cfg: StreamConfig, batchId: Long): Unit = {
    val gap = cfg.sessionGap.getOrElse(return)
    val rows: DataFrame = IceLite.readEpoch(spark, cfg.sinkDir, batchId) match {
      case Some(epoch) => epoch
        .select(col("conv_id"), col("ts"), col("text_len"), col("has_pii"))
      case None => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("conv_id", StringType), StructField("ts", TimestampType),
          StructField("text_len", IntegerType), StructField("has_pii", BooleanType))))
    }
    val gapUs = windowMicros(gap)
    import spark.implicits._
    val partials = rows
      .select(col("conv_id"), unix_micros(col("ts")).as("ts_us"),
        col("text_len").cast("long").as("len"), col("has_pii").cast("long").as("pii"))
      .sortWithinPartitions(col("conv_id"), col("ts_us"))
      .as[(String, Long, Long, Long)]
      .mapPartitions { it =>
        new Iterator[SessPartial] {
          private var pending: SessPartial = _
          private var cur: SessPartial = _
          private var prevEndUs = 0L
          private def roll(): Unit = {
            while (pending == null && it.hasNext) {
              val (conv, ts, len, pii) = it.next()
              if (cur != null && conv == cur.conv_id && ts < prevEndUs) {
                cur = cur.copy(s_end_us = ts + gapUs, n_turns = cur.n_turns + 1,
                  len_sum = cur.len_sum + len, n_pii = cur.n_pii + pii)
              } else {
                pending = cur // may be null on the very first row
                cur = SessPartial(conv, ts, ts + gapUs, 1, len, pii)
              }
              prevEndUs = ts + gapUs
            }
            if (pending == null && !it.hasNext && cur != null) {
              pending = cur; cur = null
            }
          }
          override def hasNext: Boolean = { roll(); pending != null }
          override def next(): SessPartial = {
            roll()
            if (pending == null) throw new NoSuchElementException
            val r = pending; pending = null; r
          }
        }
      }
      .toDF()
      .select(
        col("conv_id"),
        timestamp_micros(col("s_start_us")).as("s_start"),
        timestamp_micros(col("s_end_us")).as("s_end"),
        col("n_turns"), col("len_sum"), col("n_pii"))
    IceLite.commit(partials, sessionsRoot(cfg.sinkDir), batchId) { _ =>
      val lineage = new DataLineage(s"${cfg.datasetId}-sessions", createdAt = 0.0)
      lineage.record("session_quality", 0L, 0L,
        Map("epoch" -> batchId.toString, "gap" -> gap),
        timestamp = Some(batchId.toDouble))
      lineage
    }
    ()
  }

  /** Interval-islands merge of session partials: a partial starting
    * before the running max end continues the session. Input and output
    * share the PARTIAL schema (conv_id, s_start, s_end, n_turns, len_sum,
    * n_pii) — merged partials are themselves valid partials (a merged
    * island's interval still ends gap after its last event), so the merge
    * is associative and compaction below is lossless.
    */
  private def mergeSessionIslands(p: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("s_start"), col("s_end"))
    val prevEnd = max(col("s_end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    p.withColumn("new_session",
        when(prevEnd.isNull || col("s_start") >= prevEnd, 1).otherwise(0))
      .withColumn("sid",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("conv_id"), col("sid"))
      .agg(
        min(col("s_start")).as("s_start"),
        max(col("s_end")).as("s_end"),
        sum(col("n_turns")).as("n_turns"),
        sum(col("len_sum")).as("len_sum"),
        sum(col("n_pii")).as("n_pii"))
      .select(col("conv_id"), col("s_start"), col("s_end"),
        col("n_turns"), col("len_sum"), col("n_pii"))
  }

  /** Roll the accumulated per-epoch session partials (plus the previous
    * compacted table, if any) into ONE compacted table — `IceLite.compact`
    * with the islands merge as its rewrite. Lossless: merged islands are
    * valid partials (see mergeSessionIslands), so `readSessionQuality`
    * before ≡ after. Returns false when < 2 residual epoch batches exist.
    */
  def compactSessions(spark: SparkSession, sinkDir: String): Boolean =
    IceLite.compact(spark, sessionsRoot(sinkDir), mergeSessionIslands)

  /** Merged view of the per-epoch session partials: interval islands per
    * conversation (sort by start; a partial starting before the running
    * max end continues the session), then additive stats — equal to the
    * batch `Windows.sessionWindows` over the same deduped rows.
    */
  def readSessionQuality(spark: SparkSession, sinkDir: String): DataFrame = {
    mergeSessionIslands(IceLite.read(spark, sessionsRoot(sinkDir)))
      .select(
        col("conv_id"),
        col("s_start").as("session_start"),
        col("s_end").as("session_end"),
        col("n_turns"),
        (col("len_sum").cast("double") / col("n_turns")).as("len_mean"),
        col("n_pii"))
  }

  /** The one quality fold's input: the given sources of the quality table
    * at `root`, each read and parsed exactly once, in the one order every
    * monitor folds in — the compacted manifest first, then the residual
    * epochs ascending. Misra–Gries merge with pruning needs this pinned
    * left fold for compaction to be lossless; OR and exact long addition
    * give the same result in any order, so one order serves all monitors.
    */
  private def qualityManifests(root: String, latest: Option[Long],
      residual: Seq[Long]): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (latest.map(IceLite.compactMarkerPath(root, _)).toSeq ++
      residual.map(IceLite.manifestPath(root, _)))
      .map(p => mapper.readTree(java.nio.file.Files.readString(p)))
  }

  /** Every live quality manifest of a sink, parsed (see qualityManifests). */
  private def liveQuality(sinkDir: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val root = qualityRoot(sinkDir)
    val (latest, residual) = IceLite.compactSources(root)
    qualityManifests(root, latest, residual)
  }

  /** Roll the accumulated per-epoch quality partials (plus the previous
    * compacted manifest, if any) into ONE compacted manifest — the
    * Iceberg `rewrite_manifests` discipline. Every monitor block is the
    * same fold the readers perform, so compaction is LOSSLESS: every
    * merged view before ≡ after, bit-for-bit (asserted by StreamingSpec).
    * A monitor size that changed mid-stream fails here, before it becomes
    * durable in the compacted manifest.
    *
    * Exactly-once/crash-safety: the compacted manifest is published with
    * the same atomic publish-if-absent the epoch manifests use; epoch
    * manifests are NOT deleted (they stay for epoch-idempotence checks
    * and audit — a maintenance sweep may expire those ≤ upto separately).
    * A crash before publish leaves the old state fully readable; a
    * concurrent double-compaction races to one winner with identical
    * content. Returns false when < 2 residual epochs exist (nothing worth
    * folding).
    */
  def compactQuality(sinkDir: String): Boolean = {
    val root = qualityRoot(sinkDir)
    val (latest, residual) = IceLite.compactSources(root)
    if (residual.size < 2) return false
    val upTo = residual.max
    val manifests = qualityManifests(root, latest, residual)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("upto_batch", upTo)
    latest.foreach(node.put("prev_compact", _))
    MonitorPartial.all.foreach(_.compact(node, manifests))
    IceLite.commitIO.publishIfAbsent(
      IceLite.compactMarkerPath(root, upTo), mapper.writeValueAsString(node))
  }

  /** Expire the quality and session state superseded by compaction —
    * `IceLite.expireCompacted` on both tables: per-epoch quality
    * manifests at or below the latest compacted manifest's upto-batch,
    * and session epoch manifests/data plus older compacted session
    * tables. Reads are unaffected (readers already prefer the compacted
    * state); safe against redelivery because Structured Streaming re-runs
    * only the LATEST batch after a crash, and the latest batch's partials
    * are never folded before its own publishes complete (auto-compaction
    * runs at the END of processBatch). Returns the number of files/dirs
    * removed.
    */
  def expireFolded(sinkDir: String): Int =
    IceLite.expireCompacted(qualityRoot(sinkDir)) +
      IceLite.expireCompacted(sessionsRoot(sinkDir))

  /** Merged view of the per-epoch quality partials: one row per window
    * with the same statistics Windows.driftWindows computes in batch
    * (minus the HLL conv sketch — partial HLLs are not SQL-mergeable).
    * count/min/max/sum/sumsq partials merge EXACTLY (integer arithmetic),
    * so this equals the batch aggregation bit-for-bit — asserted by
    * StreamingSpec. Driver-side manifest fold over the O(compacted) read
    * path: one compacted manifest + the residual epochs.
    */
  def readQuality(spark: SparkSession, sinkDir: String): DataFrame = {
    val manifests = liveQuality(sinkDir)
    require(manifests.nonEmpty,
      s"quality table at ${qualityRoot(sinkDir)} has no committed epochs")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    MonitorPartial.WindowStats.fold(manifests).foreach(_.foreach {
      case ((ws, we), a) =>
        rows.add(org.apache.spark.sql.Row(ws, we, a(0), a(1), a(2), a(3), a(4), a(5)))
    })
    val schema = StructType(Seq(
      StructField("ws_us", LongType), StructField("we_us", LongType),
      StructField("n_turns", LongType), StructField("len_min", LongType),
      StructField("len_max", LongType), StructField("len_sum", LongType),
      StructField("len_sumsq", LongType), StructField("n_pii", LongType)))
    val n = col("n_turns")
    val s = col("len_sum").cast("double")
    val sq = col("len_sumsq").cast("double")
    spark.createDataFrame(rows, schema).select(
      timestamp_micros(col("ws_us")).as("wstart"),
      timestamp_micros(col("we_us")).as("wend"),
      n,
      col("len_min"),
      col("len_max"),
      (s / n).as("len_mean"),
      when(n < 2, 0.0)
        .otherwise(sqrt(greatest(lit(0.0), (sq - s * s / n) / (n - 1))))
        .as("len_std"),
      col("n_pii"))
  }

  /** Standing drift monitor over the audit sink's in-flow quality
    * partials: the same Welch mean-shift z `Windows.driftDetect` computes
    * from raw rows, but fed from the merged per-window statistics the
    * epochs already published — NO rescan of sunk data, O(windows) work
    * regardless of row count (and O(compacted) manifest reads after
    * `compactQuality`). This is what a deployment actually polls: the
    * write path validates in-flow, the monitor reads only partials.
    */
  def driftFromQuality(
      spark: SparkSession, sinkDir: String, zThreshold: Double = 3.0): DataFrame =
    Windows.driftDetectOnAgg(
      readQuality(spark, sinkDir).select(
        col("wstart"),
        col("n_turns").as("n"),
        col("len_mean").as("mean"),
        col("len_std").as("std")),
      zThreshold)

  /** Validate one micro-batch and commit it exactly-once.
    *
    * Cost discipline (this is the per-epoch hot path): the transform
    * pipeline is evaluated EXACTLY ONCE, in `IceLite.commit`'s parquet
    * data write — the only Spark job of the epoch. The validation
    * report's moments ride along as `observe()` metrics of that same job,
    * and the manifest's per-partition lineage (row counts, conv_id
    * ranges) comes back from the writing tasks with their file names (the
    * per-file-stats design real Iceberg manifests use). The atomic
    * manifest publish stays last, preserving the
    * invisible-until-committed invariant.
    */
  def processBatch(batch: DataFrame, batchId: Long, cfg: StreamConfig): Unit = {
    val baseMetrics = Seq(
      count(lit(1)).as("n"),
      min(col("text_len")).as("lmin"),
      max(col("text_len")).as("lmax"),
      sum(col("text_len").cast("double")).as("lsum"),
      sum(col("text_len").cast("double") * col("text_len")).as("lsumsq"),
      sum(col("has_pii").cast("long")).as("npii"))
    // The standing quality monitors ride the SAME write job as custom
    // aggregates (each tokenizes or hashes inside its aggregate — the
    // written rows are not exploded): the epoch's monitor partials cost
    // zero extra jobs and zero extra scans.
    val metrics = baseMetrics ++
      MonitorPartial.enabled(cfg).map(mp => mp.column(cfg).as(mp.name))
    val observed =
      IceLite.commit(batch, cfg.sinkDir, batchId, metrics: _*)(epochLineage(cfg, batchId, _))
    // None: the epoch was already visible (foreachBatch redelivery) — a
    // crash between the main and the quality/session publishes is healed
    // here, the quality partials re-derived from the committed parquet.
    publishQuality(batch.sparkSession, cfg, batchId, observed)
    publishSessions(batch.sparkSession, cfg, batchId)
    // Periodic partial compaction (idempotent, crash-safe: atomic
    // publish-if-absent of deterministic merged content; old state stays
    // readable until the compacted manifest lands).
    cfg.compactEvery.foreach { n =>
      if (n > 0 && batchId > 0 && batchId % n == 0) {
        if (cfg.qualityWindow.isDefined) compactQuality(cfg.sinkDir)
        if (cfg.sessionGap.isDefined) compactSessions(batch.sparkSession, cfg.sinkDir)
        ()
      }
    }
  }

  /** The audit manifest's lineage for one epoch, from the write job's
    * observed metrics `m`.
    */
  private def epochLineage(
      cfg: StreamConfig, batchId: Long, m: Map[String, Any]): DataLineage = {
    val report = reportFromObserved(m)
    val nPii = if (m("npii") == null) 0L else m("npii").asInstanceOf[Long]
    val n = report.record_count
    val lineage = new DataLineage(cfg.datasetId, createdAt = 0.0)
    // Source offsets for this epoch, from the checkpoint's offset WAL —
    // written by the engine BEFORE the batch executes, so it is exact and
    // replay-stable (the "offsets" field of the north star's manifests).
    // The v1 offset log is a 2-line header (version, metadata JSON)
    // followed by ONE line per source. Join all source offsets; fall back
    // loudly if the file shape is unexpected rather than recording "".
    val offsets = {
      val f = java.nio.file.Paths.get(cfg.checkpointDir, "offsets", batchId.toString)
      if (java.nio.file.Files.exists(f)) {
        val lines = java.nio.file.Files.readAllLines(f)
        if (lines.size() >= 3)
          (2 until lines.size()).map(lines.get).mkString(";")
        else "unavailable"
      } else "unavailable"
    }
    lineage.record("dedup_watermark_flags", n, n,
      Map(
        "watermark_len" -> cfg.watermarkPayload.length.toString,
        "turn_bucket_shift" -> cfg.turnBucketShift.toString,
        "source_offsets" -> offsets),
      timestamp = Some(batchId.toDouble))
    lineage.record("validate", n, n,
      Map(
        "valid" -> report.valid.toString,
        "epoch" -> batchId.toString,
        "n_pii" -> nPii.toString) ++
        report.checks.get("text_len").map(c =>
          "text_len_mean" -> c.actual_mean.toString),
      timestamp = Some(batchId.toDouble))
    lineage
  }

  /** Fixed duration string → microseconds (month-bearing intervals have no
    * fixed length and are rejected — tumbling quality windows, session
    * gaps and the provenance join's skew bound need one).
    */
  private[stream] def windowMicros(w: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(w))
    require(iv.months == 0, s"not a fixed duration: $w")
    iv.days * 86400000000L + iv.microseconds
  }

  /** Build the validate_dataset report for the text_len spec from the
    * write job's observed moments — numerically the same statistics as
    * Validator.validate, zero extra passes.
    */
  private def reportFromObserved(m: Map[String, Any]): graft.model.ValidationReport = {
    import graft.model.{ColumnCheck, ValidationReport}
    val n = m.get("n").collect { case l: Long => l }.getOrElse(0L)
    if (n == 0L)
      return ValidationReport(valid = false, Map.empty, 0L, Some("Empty dataset"))
    val lmin = m("lmin").asInstanceOf[Int].toDouble
    val lmax = m("lmax").asInstanceOf[Int].toDouble
    val lsum = m("lsum").asInstanceOf[Double]
    val lsumsq = m("lsumsq").asInstanceOf[Double]
    val mean = lsum / n
    val std =
      if (n < 2) 0.0
      else math.sqrt(math.max(0.0, (lsumsq - lsum * lsum / n) / (n - 1)))
    val s = textLenSpec
    val range = s.expectedMax - s.expectedMin
    val minOk = lmin >= s.expectedMin - range * s.tolerance
    val maxOk = lmax <= s.expectedMax + range * s.tolerance
    val check = ColumnCheck(minOk && maxOk, lmin, lmax, mean, std, minOk, maxOk)
    ValidationReport(check.valid, Map(s.name -> check), n, None)
  }

  /** Standing provenance-match query (BASELINE.json north_star): raw and
    * generated turn file streams, both event-time watermarked, joined with
    * bounded skew by `ProvenanceJoin.stream` (one `flatMapGroupsWithState`
    * keyed on (conv_id, turn_idx); its match rows equal Spark's streaming
    * join of `ProvenanceJoin.join`). Join state keeps no text: a retained
    * row is its side, ts and the SHA-256 digest of its text, 45 bytes
    * whatever the turn length, and each key adds its key row and one
    * format byte; the text-equality verdict is digest equality. Match
    * rows (with that verdict) land exactly-once in their own IceLite
    * audit table, each partition sorted by `raw_ts` (a local sort, no
    * exchange: in key-hash order the sink's parquet pages compress ~5%
    * worse).
    */
  def startProvenance(
      spark: SparkSession,
      rawDir: String,
      genDir: String,
      checkpointDir: String,
      sinkDir: String,
      watermarkDelay: String = "10 minutes",
      maxSkew: String = "2 minutes",
      availableNow: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    def src(dir: String) = {
      var r = spark.readStream.schema(turnSchema)
      maxFilesPerTrigger.foreach(n => r = r.option("maxFilesPerTrigger", n))
      r.parquet(dir).withWatermark("ts", watermarkDelay)
    }
    val joined = ProvenanceJoin.stream(src(rawDir), src(genDir), maxSkew)
    var writer = joined.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IceLite.commit(batch.sortWithinPartitions("raw_ts"), sinkDir, batchId,
            count(lit(1)).as("n"), sum(col("text_match").cast("long")).as("matched")) { m =>
          val n = m.get("n").collect { case l: Long => l }.getOrElse(0L)
          val lineage = new DataLineage("provenance", createdAt = 0.0)
          lineage.record("provenance_join", n, n,
            Map(
              "epoch" -> batchId.toString,
              "text_matched" ->
                m.get("matched").flatMap(Option(_)).map(_.toString).getOrElse("0")),
            timestamp = Some(batchId.toDouble))
          lineage
        }
        ()
      }
    if (availableNow) writer = writer.trigger(Trigger.AvailableNow())
    startQuery(spark, writer)
  }

  /** Health/progress record for a standing query — the engine analog of
    * the reference's `GET /health` + `/generate` status surface
    * (app.py:27-29): liveness plus the last micro-batch's progress and
    * event-time watermark, assembled from StreamingQuery.status /
    * lastProgress (no job, no collect).
    */
  final case class QueryHealth(
      id: String,
      runId: String,
      isActive: Boolean,
      statusMessage: String,
      isDataAvailable: Boolean,
      isTriggerActive: Boolean,
      lastBatchId: Long,
      numInputRows: Long,
      inputRowsPerSecond: Double,
      processedRowsPerSecond: Double,
      eventTimeWatermark: String)

  def status(q: StreamingQuery): QueryHealth = {
    val s = q.status
    val p = Option(q.lastProgress)
    def finite(d: Double): Double = if (d.isNaN || d.isInfinite) 0.0 else d
    QueryHealth(
      id = q.id.toString,
      runId = q.runId.toString,
      isActive = q.isActive,
      statusMessage = s.message,
      isDataAvailable = s.isDataAvailable,
      isTriggerActive = s.isTriggerActive,
      lastBatchId = p.map(_.batchId).getOrElse(-1L),
      numInputRows = p.map(_.numInputRows).getOrElse(0L),
      inputRowsPerSecond = finite(p.map(_.inputRowsPerSecond).getOrElse(0.0)),
      processedRowsPerSecond = finite(p.map(_.processedRowsPerSecond).getOrElse(0.0)),
      eventTimeWatermark =
        p.flatMap(x => Option(x.eventTime.get("watermark"))).getOrElse(""))
  }

  /** Start the standing query over a parquet file stream (the IceLite
    * source direction: new data files appended under `sourceDir`).
    */
  def start(spark: SparkSession, cfg: StreamConfig): StreamingQuery = {
    import spark.implicits._
    var reader = spark.readStream.schema(turnSchema)
    cfg.maxFilesPerTrigger.foreach(m => reader = reader.option("maxFilesPerTrigger", m))
    val turns = reader
      .parquet(cfg.sourceDir)
      .withWatermark("ts", cfg.watermarkDelay)
      .as[Turn]

    val out = transforms(turns, cfg)
    var writer = out.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .outputMode("append")
      .foreachBatch((batch: DataFrame, batchId: Long) => processBatch(batch, batchId, cfg))
    if (cfg.availableNow) writer = writer.trigger(Trigger.AvailableNow())
    startQuery(spark, writer)
  }

  /** Query-scoped defaults `startQuery` applies when the caller left the
    * key unset:
    *  - the engine's checkpoint manager: local checkpoint files through
    *    java.nio, without Hadoop's per-file `chmod`/`readlink` forks;
    *  - no artifact isolation: an isolated query session gets a fresh
    *    executor classloader, and the codegen cache is keyed by
    *    classloader, so every query start recompiled (and re-JITted) all
    *    its generated classes. The guardian plans use no session artifacts.
    */
  private val QueryDefaults = Seq(
    LocalCheckpointFileManager.ManagerClassKey -> classOf[LocalCheckpointFileManager].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Start `writer` on the caller's session, so its `spark.streams`
    * listeners see the query, with `QueryDefaults` set for as long as the
    * query builds its checkpoint I/O: `start()` clones the session its
    * offset and commit logs, state stores and schema files use, and the
    * file sources — whose `sources/<i>` logs read the caller's session —
    * exist once the query is initialized. Then the caller's conf is
    * restored exactly.
    */
  private def startQuery(spark: SparkSession, writer: DataStreamWriter[Row]): StreamingQuery = {
    val set = spark.conf.getAll
    val applied = QueryDefaults.filterNot { case (k, _) => set.contains(k) }
    applied.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = writer.start()
      q match {
        case w: StreamingQueryWrapper =>
          // a query that dies initializing reports it through the query
          try w.streamingQuery.awaitInitialization(60000L)
          catch { case NonFatal(_) => () }
        case _ =>
      }
      q
    } finally applied.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
