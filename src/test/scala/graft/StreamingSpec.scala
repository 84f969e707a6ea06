package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.gen.DeterministicGen
import graft.gen.DeterministicGen.TranscriptSpec
import graft.model.Turn
import graft.stream._
import graft.watermark.Watermarker

/** Streaming suite: stateful dedup across micro-batches, late-row drop at
  * the watermark, windowed drift aggregation, stream-stream provenance
  * join vs its batch equivalent, and the exactly-once IceLite sink with
  * checkpoint-resume output identity (BASELINE.json north_star).
  *
  * All streams are parquet file streams driven with Trigger.AvailableNow +
  * maxFilesPerTrigger=1 so each file becomes one deterministic micro-batch.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Write each slice as one parquet file fNN.parquet under dir. */
  private def writeBatches(dir: String, slices: Seq[DataFrame]): Unit =
    slices.zipWithIndex.foreach { case (df, i) =>
      val staging = tmp(s"stage-$i")
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.move(part.toPath, java.nio.file.Paths.get(dir, f"f$i%02d.parquet"))
    }

  private def turnsDF(spec: TranscriptSpec): DataFrame =
    DeterministicGen.transcripts(spark, spec)

  private def runFileStream(
      sourceDir: String,
      checkpoint: String,
      transform: Dataset[Turn] => DataFrame,
      queryName: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val src = spark.readStream.schema(GuardianStream.turnSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(sourceDir)
      .withWatermark("ts", watermarkDelay)
      .as[Turn]
    val q = transform(src).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  test("stateful dedup collapses replays across micro-batches") {
    val base = turnsDF(TranscriptSpec(nConvs = 6, turnsPerConv = 10, seed = 21))
    // batch 0: turns 0..5 ; batch 1: turns 4..9 (turns 4,5 replayed)
    val b0 = base.filter(col("turn_idx") <= 5)
    val b1 = base.filter(col("turn_idx") >= 4)
    val src = tmp("dedup-src")
    writeBatches(src, Seq(b0, b1))

    val out = runFileStream(src, tmp("dedup-ck"),
      ds => DedupState.dedup(ds, turnBucketShift = 2).toDF, "dedup_out",
      watermarkDelay = "365 days")
    assert(out.count() == base.count(), "each turn exactly once")
    assert(out.select("conv_id", "turn_idx").distinct().count() == base.count())
  }

  test("row-level dedup equals the fMGWS dedup across micro-batches") {
    val base = turnsDF(TranscriptSpec(nConvs = 6, turnsPerConv = 10, seed = 33))
    val withDups = DeterministicGen.withDuplicates(base, dupPermille = 200, seed = 33)
    // batch 0: turns 0..5 ; batch 1: turns 4..9 (cross-batch replays of
    // turns 4,5 PLUS same-batch planted duplicates)
    val src = tmp("eq-src")
    writeBatches(src, Seq(
      withDups.filter(col("turn_idx") <= 5),
      withDups.filter(col("turn_idx") >= 4)))
    val a = runFileStream(src, tmp("eq-ckA"),
      ds => DedupState.dedup(ds, turnBucketShift = 2).toDF, "eq_fmgws",
      watermarkDelay = "365 days")
    val b = runFileStream(src, tmp("eq-ckB"),
      ds => DedupState.dedupRows(ds.toDF), "eq_rows",
      watermarkDelay = "365 days")
    assert(a.count() == base.count(), "fMGWS path: each turn exactly once")
    assert(b.count() == base.count(), "row path: each turn exactly once")
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("row-level dedup drops late rows behind the watermark") {
    val spec = TranscriptSpec(nConvs = 4, turnsPerConv = 8, seed = 22,
      stepSeconds = 60, burstLen = 100)
    val base = turnsDF(spec)
    val maxTs = base.agg(max("ts")).collect()(0).getTimestamp(0)
    val lateTs = new java.sql.Timestamp(maxTs.getTime - 10L * 3600 * 1000)
    val late = Seq(Turn("conv-late", 0, "user", "too late", "", lateTs)).toDF
    val onTime = Seq(Turn("conv-ontime", 0, "user", "still on time", "",
      new java.sql.Timestamp(maxTs.getTime + 60000))).toDF
    // Spark's built-in stateful late filter uses the PREVIOUS batch's
    // watermark (one-batch lag; eviction lags identically, so a replay of
    // an evicted key is always still caught) — the middle on-time batch
    // lets the advanced watermark take effect before the late row arrives.
    val src = tmp("rowlate-src")
    writeBatches(src, Seq(base, onTime, late))
    val out = runFileStream(src, tmp("rowlate-ck"),
      ds => DedupState.dedupRows(ds.toDF), "rowlate_out",
      watermarkDelay = "10 minutes")
    assert(out.filter(col("conv_id") === "conv-late").count() == 0, "late row dropped")
    assert(out.count() == base.count() + 1)
  }

  test("streaming near-dup suppression equals the batch LSH reference across micro-batches") {
    // near/exact-dup families planted ACROSS files; a far-future sentinel
    // file closes all windows (append agg emits on watermark passage)
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def turn(conv: String, text: String, sec: Long) =
      Turn(conv, 0, "user", text, "", new java.sql.Timestamp(t0.getTime + sec * 1000L))
    val f0 = Seq(
      turn("c0", "the quick brown fox jumps over the lazy dog near the river", 0),
      turn("c1", "completely different content about distributed query engines", 10))
    val f1 = Seq(
      turn("c2", "the quick brown fox jumps over the lazy dog near the stream", 70),
      turn("c3", "unrelated third topic entirely about cooking pasta at home", 80))
    val f2 = Seq(
      turn("c4", "the quick brown fox jumps over the lazy dog near the river", 130),
      turn("c5", "completely different content about distributed query engines", 140))
    val sentinel = Seq(turn("c9", "sentinel far future row advancing the watermark", 100000L))
    val src = tmp("neardup-src")
    writeBatches(src, Seq(f0.toDF, f1.toDF, f2.toDF, sentinel.toDF))
    val out = runFileStream(src, tmp("neardup-ck"),
      ds => DedupState.nearDupRows(ds.toDF), "neardup_out",
      watermarkDelay = "1 minute")
    val ref = DedupState.nearDupRows((f0 ++ f1 ++ f2 ++ sentinel).toDF)
    // the sentinel's own window never closes in the stream — compare the rest
    val outC = out.filter(col("conv_id") =!= "c9")
    val refC = ref.filter(col("conv_id") =!= "c9")
    assert(outC.exceptAll(refC).count() == 0 && refC.exceptAll(outC).count() == 0,
      s"stream != batch reference: stream=${outC.collect().toSeq} batch=${refC.collect().toSeq}")
    val kept = refC.select("conv_id").collect().map(_.getString(0)).toSet
    assert(kept("c0") && kept("c1") && kept("c3"), s"firsts + unrelated kept: $kept")
    assert(!kept("c4") && !kept("c5"), s"cross-batch exact dups suppressed: $kept")
  }

  test("near-dup rows: null-text bypass; same-batch family keeps at most one (ADVICE r5)") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def turn(conv: String, text: String, sec: Long) =
      Turn(conv, 0, "user", text, "",
        new java.sql.Timestamp(t0.getTime + sec * 1000L))
    // token-less rows (null text) carry no LSH signal — both must pass
    // through unconditionally instead of collapsing via null band keys
    val rows = Seq(
      turn("n0", null, 0), turn("n1", null, 10),
      // a SAME-batch near-dup family (identical text = all 4 bands equal)
      turn("f0", "the quick brown fox jumps over the lazy dog tonight", 20),
      turn("f1", "the quick brown fox jumps over the lazy dog tonight", 30),
      turn("u0", "completely unrelated content about query engines", 40))
    val batch = DedupState.nearDupRows(rows.toDF)
      .select("conv_id").collect().map(_.getString(0)).toSet
    // batch reference is deterministic: min-(ts,conv,turn) wins the family
    assert(batch == Set("n0", "n1", "f0", "u0"), s"batch: $batch")
    // streaming same-FILE family: winners per band are arrival-order and
    // can split (documented contract) — never more than one survivor,
    // null-text rows always emitted
    val src = tmp("neardup2-src")
    val sentinel = Seq(turn("c9", "sentinel far future row", 100000L))
    writeBatches(src, Seq(rows.toDF, sentinel.toDF))
    val out = runFileStream(src, tmp("neardup2-ck"),
      ds => DedupState.nearDupRows(ds.toDF), "neardup2_out",
      watermarkDelay = "1 minute")
    val got = out.filter(col("conv_id") =!= "c9")
      .select("conv_id").collect().map(_.getString(0)).toSet
    assert(got("n0") && got("n1") && got("u0"), s"bypass + unrelated kept: $got")
    assert(!(got("f0") && got("f1")), s"family must keep at most one: $got")
  }

  test("quality windows land in the audit sink and merge to the batch aggregation") {
    import graft.validate.Validator
    val spec = TranscriptSpec(nConvs = 8, turnsPerConv = 16, seed = 34,
      stepSeconds = 120, burstLen = 1000, piiPermille = 100)
    val base = turnsDF(spec)
    val withDups = DeterministicGen.withDuplicates(base, dupPermille = 150, seed = 34)
    val mid = base.agg(expr("percentile_approx(unix_timestamp(ts), 0.5)"))
      .collect()(0).getLong(0)
    val src = tmp("qw-src")
    writeBatches(src, Seq(
      withDups.filter(unix_timestamp(col("ts")) <= mid),
      withDups.filter(unix_timestamp(col("ts")) > mid)))
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("qw-ck"), sinkDir = tmp("qw-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, qualityWindow = Some("1 hour"))
    GuardianStream.start(spark, cfg).awaitTermination()

    // per-epoch partials exist for every committed epoch
    val qRoot = java.nio.file.Paths.get(cfg.sinkDir, "quality").toString
    assert(IceLite.committedBatches(qRoot).nonEmpty)

    // merged view ≡ the same aggregation over the batch-transformed input
    val streamed = GuardianStream.readQuality(spark, cfg.sinkDir)
    val batchFlags = GuardianStream.transforms(withDups.as[Turn], cfg)
    val expected = batchFlags
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        count(lit(1)).as("n_turns"),
        min(col("text_len")).as("len_min"),
        max(col("text_len")).as("len_max"),
        Validator.meanExpr(col("text_len")).as("len_mean"),
        Validator.stdExpr(col("text_len")).as("len_std"),
        sum(col("has_pii").cast("long")).as("n_pii"))
      .select(col("w.start").as("wstart"), col("w.end").as("wend"),
        col("n_turns"), col("len_min"), col("len_max"),
        col("len_mean"), col("len_std"), col("n_pii"))
    def canon(df: DataFrame): Set[String] = df.select(
      col("wstart"), col("wend"), col("n_turns"), col("len_min"),
      col("len_max"), round(col("len_mean"), 4), round(col("len_std"), 4),
      col("n_pii")).collect().map(_.toString).toSet
    val s = canon(streamed); val e = canon(expected)
    assert(e.nonEmpty && s == e,
      s"merged quality windows equal batch: ${(e -- s).take(3)} vs ${(s -- e).take(3)}")
  }

  test("row-level dedup state is bounded by the watermark horizon") {
    // 10^12-scale argument: dropDuplicatesWithinWatermark keeps one key
    // per turn only WITHIN the watermark horizon — older keys are evicted
    // each epoch, so standing state tracks the horizon, not the history.
    val spec = TranscriptSpec(nConvs = 10, turnsPerConv = 30, seed = 36,
      stepSeconds = 600, burstLen = 1000)
    val base = turnsDF(spec)
    val qs = base.withColumn("__uts", unix_timestamp(col("ts")).cast("double"))
      .stat.approxQuantile("__uts", Array(0.33, 0.66), 0.0).map(_.toLong)
    // three time-ordered slices so the watermark advances between epochs
    val byTs = (lo: Option[Long], hi: Option[Long]) => base.filter(
      lo.map(l => unix_timestamp(col("ts")) > l).getOrElse(lit(true)) &&
        hi.map(h => unix_timestamp(col("ts")) <= h).getOrElse(lit(true)))
    val src = tmp("bound-src")
    writeBatches(src, Seq(
      byTs(None, Some(qs(0))), byTs(Some(qs(0)), Some(qs(1))), byTs(Some(qs(1)), None)))
    val q = spark.readStream.schema(GuardianStream.turnSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
      .withWatermark("ts", "10 minutes")
      .transform(df => DedupState.dedupRows(df))
      .writeStream
      .option("checkpointLocation", tmp("bound-ck"))
      .outputMode("append")
      .format("memory").queryName("bound_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
    assert(stateRows.nonEmpty)
    val finalState = stateRows.last
    val total = spark.table("bound_out").count()
    assert(total > 0)
    assert(finalState < total / 2,
      s"state ($finalState keys) must track the watermark horizon, not the full history ($total rows)")
  }

  test("session quality partials merge across epochs to the batch session windows") {
    val spec = TranscriptSpec(nConvs = 6, turnsPerConv = 24, seed = 35,
      stepSeconds = 120, burstLen = 6, sessionGapSeconds = 7200, piiPermille = 80)
    val base = turnsDF(spec)
    // slice by ts so sessions straddle the epoch boundary (the merge path)
    val mid = base.agg(expr("percentile_approx(unix_timestamp(ts), 0.5)"))
      .collect()(0).getLong(0)
    val src = tmp("sq-src")
    writeBatches(src, Seq(
      base.filter(unix_timestamp(col("ts")) <= mid),
      base.filter(unix_timestamp(col("ts")) > mid)))
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("sq-ck"), sinkDir = tmp("sq-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, sessionGap = Some("30 minutes"))
    GuardianStream.start(spark, cfg).awaitTermination()

    val streamed = GuardianStream.readSessionQuality(spark, cfg.sinkDir)
    val expected = Windows.sessionWindows(
      GuardianStream.transforms(base.as[Turn], cfg), "30 minutes")
    def canon(df: DataFrame): Set[String] = df.select(
      col("conv_id"), col("session_start"), col("session_end"),
      col("n_turns"), round(col("len_mean"), 4), col("n_pii"))
      .collect().map(_.toString).toSet
    val s = canon(streamed); val e = canon(expected)
    assert(e.size > 6, "multiple sessions per conversation in the fixture")
    assert(s == e, s"merged sessions equal batch: ${(e -- s).take(3)} vs ${(s -- e).take(3)}")
  }

  test("quality + session partial compaction is lossless and shrinks the read path") {
    val spec = TranscriptSpec(nConvs = 6, turnsPerConv = 24, seed = 44,
      stepSeconds = 120, burstLen = 6, sessionGapSeconds = 7200, piiPermille = 80)
    val base = turnsDF(spec)
    // six ts-ordered slices ⇒ six epochs of partials to fold
    val qs = base.withColumn("__uts", unix_timestamp(col("ts")).cast("double"))
      .stat.approxQuantile("__uts", Array(0.17, 0.33, 0.5, 0.67, 0.83), 0.0)
      .map(_.toLong)
    val bounds = (None +: qs.map(Some(_)).toSeq) :+ None
    val slices = bounds.sliding(2).map { case Seq(lo, hi) =>
      base.filter(
        lo.map(l => unix_timestamp(col("ts")) > l).getOrElse(lit(true)) &&
          hi.map(h => unix_timestamp(col("ts")) <= h).getOrElse(lit(true)))
    }.toSeq
    val src = tmp("cmp-src")
    writeBatches(src, slices)
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("cmp-ck"), sinkDir = tmp("cmp-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, qualityWindow = Some("1 hour"),
      sessionGap = Some("30 minutes"))
    GuardianStream.start(spark, cfg).awaitTermination()

    val qRoot = java.nio.file.Paths.get(cfg.sinkDir, "quality").toString
    val sRoot = java.nio.file.Paths.get(cfg.sinkDir, "sessions").toString
    val epochsBefore = IceLite.compactSources(qRoot)._2.size
    assert(epochsBefore >= 4, s"fixture must commit many epochs ($epochsBefore)")

    def canonQ(): Set[String] = GuardianStream.readQuality(spark, cfg.sinkDir)
      .select(col("wstart"), col("wend"), col("n_turns"), col("len_min"),
        col("len_max"), round(col("len_mean"), 4), round(col("len_std"), 4),
        col("n_pii")).collect().map(_.toString).toSet
    def canonS(): Set[String] = GuardianStream.readSessionQuality(spark, cfg.sinkDir)
      .select(col("conv_id"), col("session_start"), col("session_end"),
        col("n_turns"), round(col("len_mean"), 4), col("n_pii"))
      .collect().map(_.toString).toSet
    val qBefore = canonQ(); val sBefore = canonS()
    assert(qBefore.nonEmpty && sBefore.nonEmpty)

    assert(GuardianStream.compactQuality(cfg.sinkDir), "quality compaction ran")
    assert(GuardianStream.compactSessions(spark, cfg.sinkDir), "session compaction ran")

    // lossless: merged views identical bit-for-bit
    assert(canonQ() == qBefore, "readQuality unchanged by compaction")
    assert(canonS() == sBefore, "readSessionQuality unchanged by compaction")
    // read path now touches ONE compacted source + zero residual epochs
    val (qc, qr) = IceLite.compactSources(qRoot)
    val (sc, sr) = IceLite.compactSources(sRoot)
    assert(qc.nonEmpty && qr.isEmpty, s"quality residual after compaction: $qr")
    assert(sc.nonEmpty && sr.isEmpty, s"sessions residual after compaction: $sr")
    // nothing left to fold ⇒ no-op, and a SECOND compaction cycle after
    // more epochs folds the previous compact + residuals (associativity)
    assert(!GuardianStream.compactQuality(cfg.sinkDir))
    assert(!GuardianStream.compactSessions(spark, cfg.sinkDir))

    // expiry: folded epoch manifests + superseded session data removed,
    // merged views byte-identical after the sweep
    def tree(): Set[String] = {
      val root = java.nio.file.Paths.get(cfg.sinkDir)
      val s = Files.walk(root)
      try s.iterator().asScala.map(root.relativize(_).toString).toSet
      finally s.close()
    }
    val qFolded = IceLite.committedBatches(qRoot).filter(b => qc.exists(b <= _))
    val sFolded = IceLite.committedBatches(sRoot).filter(b => sc.exists(b <= _))
    // the session marker counts the partial rows folded in
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def sMarkerPath(u: Long) =
      java.nio.file.Paths.get(sRoot, "manifests", f"compact-$u%09d.json")
    def sMarker(u: Long) = mapper.readTree(Files.readString(sMarkerPath(u)))
    assert(sMarker(sc.get).get("row_count").asLong() ==
      sFolded.map(b => IceLite.readManifest(sRoot, b).rowCount).sum)
    val treeBefore = tree()
    val removed = GuardianStream.expireFolded(cfg.sinkDir)
    val treeAfter = tree()
    assert(treeAfter.subsetOf(treeBefore), s"expiry only deletes: ${treeAfter -- treeBefore}")
    val expected = treeBefore.filter { p =>
      qFolded.exists(b => p == f"quality/manifests/manifest-$b%09d.json") ||
        sFolded.exists(b => p == f"sessions/manifests/manifest-$b%09d.json" ||
          p == s"sessions/data/batch=$b" || p.startsWith(s"sessions/data/batch=$b/"))
    }
    assert(treeBefore -- treeAfter == expected,
      s"expiry removed exactly the folded epochs: extra ${(treeBefore -- treeAfter) -- expected}, " +
        s"kept ${expected -- (treeBefore -- treeAfter)}")
    assert(qFolded.size >= epochsBefore && sFolded.size >= epochsBefore)
    assert(removed == qFolded.size + sFolded.size, s"expiry removed $removed files")
    assert(IceLite.committedBatches(qRoot).isEmpty, "folded quality manifests expired")
    assert(canonQ() == qBefore, "readQuality unchanged by expiry")
    assert(canonS() == sBefore, "readSessionQuality unchanged by expiry")
    assert(GuardianStream.expireFolded(cfg.sinkDir) == 0, "expiry is idempotent")

    // a sink whose session marker predates the file list and the
    // folded-row count (only upto_batch and path): two more epochs land,
    // and the read and the compaction over it refuse the old marker by name
    val old = mapper.createObjectNode()
    old.put("upto_batch", sc.get)
    old.put("path", sMarker(sc.get).get("path").asText())
    Files.writeString(sMarkerPath(sc.get), mapper.writeValueAsString(old))
    GuardianStream.processBatch(tinyTurns("one more turn"), sc.get + 1, cfg)
    GuardianStream.processBatch(tinyTurns("and another"), sc.get + 2, cfg)
    Seq[() => Any](() => canonS(), () => GuardianStream.compactSessions(spark, cfg.sinkDir))
      .foreach { op =>
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains(sMarkerPath(sc.get).toString), e.getMessage)
      }
    assert(!Files.exists(sMarkerPath(sc.get + 2)), "the refused compaction published no marker")
  }

  test("auto-compaction every N epochs keeps the manifest count bounded") {
    val spec = TranscriptSpec(nConvs = 4, turnsPerConv = 16, seed = 45,
      stepSeconds = 300, burstLen = 1000, piiPermille = 50)
    val base = turnsDF(spec)
    val qs = base.withColumn("__uts", unix_timestamp(col("ts")).cast("double"))
      .stat.approxQuantile("__uts", Array(0.25, 0.5, 0.75), 0.0).map(_.toLong)
    val bounds = (None +: qs.map(Some(_)).toSeq) :+ None
    val slices = bounds.sliding(2).map { case Seq(lo, hi) =>
      base.filter(
        lo.map(l => unix_timestamp(col("ts")) > l).getOrElse(lit(true)) &&
          hi.map(h => unix_timestamp(col("ts")) <= h).getOrElse(lit(true)))
    }.toSeq
    val src = tmp("auto-src")
    writeBatches(src, slices)
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("auto-ck"), sinkDir = tmp("auto-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, qualityWindow = Some("1 hour"),
      compactEvery = Some(2))
    GuardianStream.start(spark, cfg).awaitTermination()
    val qRoot = java.nio.file.Paths.get(cfg.sinkDir, "quality").toString
    val (compact, residual) = IceLite.compactSources(qRoot)
    assert(compact.nonEmpty, "auto-compaction published a compacted manifest")
    assert(residual.size <= 2, s"residual epochs bounded by the cadence: $residual")
    // and the merged view still matches the per-epoch manifests' total
    val nTotal = GuardianStream.readQuality(spark, cfg.sinkDir)
      .agg(sum("n_turns")).collect()(0).getLong(0)
    assert(nTotal == base.count())
  }

  test("IceLite audit-table compaction: snapshot read identical, expiry removes folded epochs") {
    val spec = TranscriptSpec(nConvs = 5, turnsPerConv = 16, seed = 48,
      stepSeconds = 240, burstLen = 1000, piiPermille = 40)
    val base = turnsDF(spec)
    val qs = base.withColumn("__uts", unix_timestamp(col("ts")).cast("double"))
      .stat.approxQuantile("__uts", Array(0.25, 0.5, 0.75), 0.0).map(_.toLong)
    val bounds = (None +: qs.map(Some(_)).toSeq) :+ None
    val slices = bounds.sliding(2).map { case Seq(lo, hi) =>
      base.filter(
        lo.map(l => unix_timestamp(col("ts")) > l).getOrElse(lit(true)) &&
          hi.map(h => unix_timestamp(col("ts")) <= h).getOrElse(lit(true)))
    }.toSeq
    val src = tmp("ac-src")
    writeBatches(src, slices)
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("ac-ck"), sinkDir = tmp("ac-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, qualityWindow = None)
    GuardianStream.start(spark, cfg).awaitTermination()

    def canon(): Set[String] =
      IceLite.read(spark, cfg.sinkDir).collect().map(_.toString).toSet
    val before = canon()
    val epochs = IceLite.committedBatches(cfg.sinkDir)
    assert(epochs.size >= 3 && before.size == base.count())

    assert(IceLite.compact(spark, cfg.sinkDir), "audit compaction ran")
    assert(canon() == before, "snapshot read unchanged by compaction")
    val (marker, residual) = IceLite.compactSources(cfg.sinkDir)
    assert(marker.nonEmpty && residual.isEmpty)

    val removed = IceLite.expireCompacted(cfg.sinkDir)
    assert(removed >= epochs.size, s"expiry removed $removed")
    assert(canon() == before, "snapshot read unchanged by expiry")
    assert(!new java.io.File(cfg.sinkDir, s"data/batch=${epochs.head}").exists())
    assert(!IceLite.compact(spark, cfg.sinkDir), "nothing left to fold")
    assert(IceLite.expireCompacted(cfg.sinkDir) == 0, "expiry idempotent")
  }

  test("concurrent compaction races to ONE winner on an attempt-unique dir; readers unaffected") {
    // ADVICE r4 (medium): compactors used to write the SAME compact/<upTo>
    // dir before racing on the marker — a losing concurrent compactor
    // clobbered the winner's already-published data. Now each attempt
    // writes its own dir and records it in the marker; the loser deletes
    // its orphan. Raced here for the audit table AND the session partials.
    val spec = TranscriptSpec(nConvs = 6, turnsPerConv = 18, seed = 49,
      stepSeconds = 180, burstLen = 6, sessionGapSeconds = 7200, piiPermille = 60)
    val base = turnsDF(spec)
    val qs = base.withColumn("__uts", unix_timestamp(col("ts")).cast("double"))
      .stat.approxQuantile("__uts", Array(0.25, 0.5, 0.75), 0.0).map(_.toLong)
    val bounds = (None +: qs.map(Some(_)).toSeq) :+ None
    val slices = bounds.sliding(2).map { case Seq(lo, hi) =>
      base.filter(
        lo.map(l => unix_timestamp(col("ts")) > l).getOrElse(lit(true)) &&
          hi.map(h => unix_timestamp(col("ts")) <= h).getOrElse(lit(true)))
    }.toSeq
    val src = tmp("race-src")
    writeBatches(src, slices)
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("race-ck"), sinkDir = tmp("race-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, sessionGap = Some("30 minutes"),
      // all three monitor blocks ride the raced quality manifests: the
      // MG fold is deterministic given the same inputs and the div/cms
      // merges are order-free, so racing compactors must publish
      // identical content for every block
      vocabK = Some(8), diversityM = Some(512), cmsW = Some(128))
    GuardianStream.start(spark, cfg).awaitTermination()

    def race2(f: () => Boolean): Seq[Boolean] = {
      val latch = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futs = (1 to 2).map(_ => pool.submit(
          new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = { latch.await(); f() }
          }))
        latch.countDown()
        futs.map(_.get())
      } finally { pool.shutdown(); () }
    }
    def countDirs(root: String): Int =
      Option(new java.io.File(root, "compact").listFiles())
        .getOrElse(Array.empty).count(_.isDirectory)

    // audit table
    def canonA(): Set[String] =
      IceLite.read(spark, cfg.sinkDir).collect().map(_.toString).toSet
    val aBefore = canonA()
    val aWins = race2(() => IceLite.compact(spark, cfg.sinkDir))
    assert(aWins.count(identity) == 1, s"exactly one audit winner: $aWins")
    assert(canonA() == aBefore, "audit read unchanged under racing compactors")
    assert(countDirs(cfg.sinkDir) == 1, "loser removed its orphan attempt dir")

    // session partials
    val sRoot = java.nio.file.Paths.get(cfg.sinkDir, "sessions").toString
    def canonS(): Set[String] = GuardianStream.readSessionQuality(spark, cfg.sinkDir)
      .select(col("conv_id"), col("session_start"), col("session_end"),
        col("n_turns"), round(col("len_mean"), 4), col("n_pii"))
      .collect().map(_.toString).toSet
    val sBefore = canonS()
    val sWins = race2(() => GuardianStream.compactSessions(spark, cfg.sinkDir))
    assert(sWins.count(identity) == 1, s"exactly one session winner: $sWins")
    assert(canonS() == sBefore, "session read unchanged under racing compactors")
    assert(countDirs(sRoot) == 1, "loser removed its orphan session dir")

    // quality partials + all three monitor views (driver-side JSON fold
    // — identical content either way)
    def canonQ(): Set[String] =
      (GuardianStream.readQuality(spark, cfg.sinkDir).collect() ++
        GuardianStream.readVocab(spark, cfg.sinkDir).collect() ++
        GuardianStream.readDiversity(spark, cfg.sinkDir).collect() ++
        GuardianStream.readVocabBracket(spark, cfg.sinkDir).collect())
        .map(_.toString).toSet
    val qBefore = canonQ()
    val qWins = race2(() => GuardianStream.compactQuality(cfg.sinkDir))
    assert(qWins.count(identity) == 1, s"exactly one quality winner: $qWins")
    assert(canonQ() == qBefore,
      "quality + monitor views unchanged under racing compactors")

    // expiry after the races sweeps folded epochs and leaves the winners
    assert(GuardianStream.expireFolded(cfg.sinkDir) > 0)
    assert(IceLite.expireCompacted(cfg.sinkDir) > 0)
    assert(canonA() == aBefore && canonS() == sBefore && canonQ() == qBefore,
      "all reads unchanged after expiry")
  }

  test("expiry sweeps a stale orphan compaction attempt and keeps a fresh one, audit and sessions") {
    val cfg = GuardianStream.StreamConfig(
      sourceDir = "unused", checkpointDir = tmp("orphan-ck"), sinkDir = tmp("orphan-sink"),
      qualityWindow = None, sessionGap = Some("30 minutes"))
    Seq("alpha", "beta", "gamma").zipWithIndex.foreach { case (t, b) =>
      GuardianStream.processBatch(tinyTurns(t), b.toLong, cfg)
    }
    val sRoot = java.nio.file.Paths.get(cfg.sinkDir, "sessions").toString
    assert(IceLite.compact(spark, cfg.sinkDir))
    assert(GuardianStream.compactSessions(spark, cfg.sinkDir))
    // two attempt dirs no marker names: a crashed compactor's (untouched
    // for an hour) and a live one's (just written)
    val hourAgo = System.currentTimeMillis() - 60L * 60 * 1000
    def plant(root: String): (java.io.File, java.io.File) = {
      val upTo = IceLite.compactSources(root)._1.get
      val Seq(stale, fresh) = Seq("deadbeef", "cafef00d").map { a =>
        val d = new java.io.File(root, s"compact/$upTo-$a")
        assert(d.mkdirs())
        Files.writeString(new java.io.File(d, "part-00000.parquet").toPath, "x")
        d
      }
      stale.listFiles().foreach(_.setLastModified(hourAgo))
      assert(stale.setLastModified(hourAgo))
      (stale, fresh)
    }
    val planted = Seq(plant(cfg.sinkDir), plant(sRoot))
    // three folded epoch manifests + the stale orphan, in each table
    assert(IceLite.expireCompacted(cfg.sinkDir) == 4)
    assert(GuardianStream.expireFolded(cfg.sinkDir) == 4)
    planted.foreach { case (stale, fresh) =>
      assert(!stale.exists(), s"stale orphan swept: $stale")
      assert(fresh.isDirectory, s"fresh attempt kept: $fresh")
    }
    assert(IceLite.read(spark, cfg.sinkDir).count() == 3)
    assert(GuardianStream.readSessionQuality(spark, cfg.sinkDir)
      .agg(sum("n_turns")).collect()(0).getLong(0) == 3)
  }

  test("expiry sweeps a stale manifest publish temp file and keeps a fresh one") {
    // a crash between writing a manifest's temp file and linking it
    val root = tmp("tmp-sweep")
    IceLite.commit(tinyTurns("alpha"), root, 0L)(_ => new graft.lineage.DataLineage("t"))
    val mdir = java.nio.file.Paths.get(root, "manifests")
    val Seq(stale, fresh) = Seq("stale", "fresh").map { n =>
      Files.writeString(mdir.resolve(s"${PosixCommitIO.TmpPrefix}$n"), "{}").toFile
    }
    assert(stale.setLastModified(System.currentTimeMillis() - 60L * 60 * 1000))
    assert(IceLite.expireCompacted(root) == 1)
    assert(!stale.exists(), "stale temp file swept")
    assert(fresh.exists(), "fresh temp file kept")
    assert(IceLite.committedBatches(root) == Seq(0L))
    assert(IceLite.read(spark, root).count() == 1)
  }

  test("standing drift monitor over quality partials equals the batch drift detector") {
    val spec = TranscriptSpec(nConvs = 6, turnsPerConv = 20, seed = 47,
      stepSeconds = 300, burstLen = 1000, piiPermille = 60)
    val base = turnsDF(spec)
    val mid = base.agg(expr("percentile_approx(unix_timestamp(ts), 0.5)"))
      .collect()(0).getLong(0)
    val src = tmp("dm-src")
    writeBatches(src, Seq(
      base.filter(unix_timestamp(col("ts")) <= mid),
      base.filter(unix_timestamp(col("ts")) > mid)))
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("dm-ck"), sinkDir = tmp("dm-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, qualityWindow = Some("1 hour"))
    GuardianStream.start(spark, cfg).awaitTermination()

    // the monitor reads ONLY the published partials (no data rescan)
    val monitor = GuardianStream.driftFromQuality(spark, cfg.sinkDir)
    val expected = Windows.driftDetect(
      GuardianStream.transforms(base.as[Turn], cfg).select(col("ts"), col("text_len")),
      "text_len", "1 hour")
    def canon(df: DataFrame): Set[String] = df.select(
      col("wstart"), col("n"), round(col("mean"), 3), round(col("std"), 3),
      round(col("z"), 2), col("drifted")).collect().map(_.toString).toSet
    val m = canon(monitor); val e = canon(expected)
    assert(e.size > 5 && m == e,
      s"monitor equals batch drift: ${(e -- m).take(3)} vs ${(m -- e).take(3)}")
    // and it stays identical after compaction folds the partials
    assert(GuardianStream.compactQuality(cfg.sinkDir))
    assert(canon(GuardianStream.driftFromQuality(spark, cfg.sinkDir)) == e)
  }

  test("sliding quality windows ride the in-flow sink and equal the batch aggregation") {
    import graft.validate.Validator
    val spec = TranscriptSpec(nConvs = 8, turnsPerConv = 16, seed = 46,
      stepSeconds = 120, burstLen = 1000, piiPermille = 100)
    val base = turnsDF(spec)
    val mid = base.agg(expr("percentile_approx(unix_timestamp(ts), 0.5)"))
      .collect()(0).getLong(0)
    val src = tmp("slide-src")
    writeBatches(src, Seq(
      base.filter(unix_timestamp(col("ts")) <= mid),
      base.filter(unix_timestamp(col("ts")) > mid)))
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("slide-ck"), sinkDir = tmp("slide-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, qualityWindow = Some("1 hour"),
      qualitySlide = Some("15 minutes"))
    GuardianStream.start(spark, cfg).awaitTermination()

    val streamed = GuardianStream.readQuality(spark, cfg.sinkDir)
    val expected = GuardianStream.transforms(base.as[Turn], cfg)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_turns"),
        min(col("text_len")).as("len_min"),
        max(col("text_len")).as("len_max"),
        Validator.meanExpr(col("text_len")).as("len_mean"),
        Validator.stdExpr(col("text_len")).as("len_std"),
        sum(col("has_pii").cast("long")).as("n_pii"))
      .select(col("w.start").as("wstart"), col("w.end").as("wend"),
        col("n_turns"), col("len_min"), col("len_max"),
        col("len_mean"), col("len_std"), col("n_pii"))
    def canon(df: DataFrame): Set[String] = df.select(
      col("wstart"), col("wend"), col("n_turns"), col("len_min"),
      col("len_max"), round(col("len_mean"), 4), round(col("len_std"), 4),
      col("n_pii")).collect().map(_.toString).toSet
    val s = canon(streamed); val e = canon(expected)
    assert(e.size > 8, "sliding fixture spans many windows")
    assert(s == e,
      s"sliding quality windows equal batch: ${(e -- s).take(3)} vs ${(s -- e).take(3)}")
  }

  test("vocabulary monitor: undercount-only within the MG bound; compaction lossless") {
    val spec = TranscriptSpec(nConvs = 8, turnsPerConv = 16, seed = 38,
      stepSeconds = 120, burstLen = 1000)
    val base = turnsDF(spec)
    val mid = base.agg(expr("percentile_approx(unix_timestamp(ts), 0.5)"))
      .collect()(0).getLong(0)
    val src = tmp("vm-src")
    writeBatches(src, Seq(
      base.filter(unix_timestamp(col("ts")) <= mid),
      base.filter(unix_timestamp(col("ts")) > mid)))
    val k = 12
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("vm-ck"), sinkDir = tmp("vm-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, qualityWindow = Some("1 hour"), vocabK = Some(k))
    GuardianStream.start(spark, cfg).awaitTermination()

    val got = GuardianStream.readVocab(spark, cfg.sinkDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got.size <= 2 * k, s"buffer bound: ${got.size}")

    // exact token counts over the rows the pipeline actually committed
    val exact = IceLite.read(spark, cfg.sinkDir)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val bound = n / (k + 1)
    // MG counters NEVER over-count
    got.foreach { case (t, c) =>
      assert(c <= exact.getOrElse(t, 0L), s"over-count on '$t': $c")
    }
    // every token above the global bound must be present with a counter
    // short by at most the bound — across epoch boundaries and the
    // read-side fold (the mergeable-summaries guarantee end to end)
    val heavies = exact.filter(_._2 > bound)
    assert(heavies.nonEmpty, s"fixture has no heavy token (n=$n bound=$bound)")
    heavies.foreach { case (t, cnt) =>
      assert(got.contains(t) && got(t) >= cnt - bound,
        s"heavy '$t' exact=$cnt got=${got.get(t)} bound=$bound")
    }

    // compaction performs the identical left-fold => bit-exact view
    assert(GuardianStream.compactQuality(cfg.sinkDir))
    val after = GuardianStream.readVocab(spark, cfg.sinkDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == got, "vocab view changed under compaction")
  }

  test("cross-corpus dedup runs stream-static: streaming new docs anti-join a reference snapshot") {
    import spark.implicits._
    val ref = (0L until 200L).map(i => (i, s"reference doc $i body"))
      .toDF("doc_id", "text")
    val newRows = (1000L until 1200L).map { i =>
      val t = if (i % 4 == 0) s"reference doc ${i % 200} body" // dup of ref
      else s"incoming doc $i content"
      (i, t)
    }
    val src = tmp("xd-src")
    writeBatches(src, Seq(
      newRows.take(100).toDF("doc_id", "text"),
      newRows.drop(100).toDF("doc_id", "text")))
    val expected = newRows.filterNot(_._2.startsWith("reference")).map(_._1).sorted
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val out = graft.ops.TrainingDataOps.exactCrossDedup(stream, ref)
    val sink = tmp("xd-out")
    val q = out.writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", tmp("xd-ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(sink).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == expected, "stream-static cross-dedup equals the batch anti-join")
  }

  test("bracketed heavy hitters: MG lower <= exact <= CMS upper for every candidate; compaction lossless") {
    val spec = TranscriptSpec(nConvs = 8, turnsPerConv = 16, seed = 51,
      stepSeconds = 120, burstLen = 1000)
    val base = turnsDF(spec)
    val mid = base.agg(expr("percentile_approx(unix_timestamp(ts), 0.5)"))
      .collect()(0).getLong(0)
    val src = tmp("bk-src")
    writeBatches(src, Seq(
      base.filter(unix_timestamp(col("ts")) <= mid),
      base.filter(unix_timestamp(col("ts")) > mid)))
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("bk-ck"), sinkDir = tmp("bk-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, qualityWindow = Some("1 hour"),
      vocabK = Some(12), cmsW = Some(256))
    GuardianStream.start(spark, cfg).awaitTermination()

    val got = GuardianStream.readVocabBracket(spark, cfg.sinkDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty, "candidates present")

    // exact counts over the rows the pipeline actually committed
    val exact = IceLite.read(spark, cfg.sinkDir)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (t, lower, upper) =>
      val c = exact.getOrElse(t, 0L)
      assert(lower <= c, s"MG must never over-count '$t': $lower > $c")
      assert(upper >= c, s"CMS must never under-count '$t': $upper < $c")
    }
    // the bracket is two-sided: at w=256 over this small vocabulary the
    // CMS is near-exact, so the interval is informative, not vacuous
    assert(got.exists { case (_, lower, upper) => upper - lower < upper },
      "brackets are finite")

    // CMS sums are order-free; MG folds in the pinned order — the whole
    // bracketed view must be identical before and after compaction
    assert(GuardianStream.compactQuality(cfg.sinkDir))
    val after = GuardianStream.readVocabBracket(spark, cfg.sinkDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(after.toSet == got.toSet, "bracketed view changed under compaction")
  }

  test("diversity monitor: bitmap equals batch distinct buckets exactly; compaction lossless") {
    val spec = TranscriptSpec(nConvs = 8, turnsPerConv = 16, seed = 44,
      stepSeconds = 120, burstLen = 1000)
    val base = turnsDF(spec)
    val mid = base.agg(expr("percentile_approx(unix_timestamp(ts), 0.5)"))
      .collect()(0).getLong(0)
    val src = tmp("dv-src")
    writeBatches(src, Seq(
      base.filter(unix_timestamp(col("ts")) <= mid),
      base.filter(unix_timestamp(col("ts")) > mid)))
    val m = 1024
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("dv-ck"), sinkDir = tmp("dv-sink"),
      watermarkDelay = "365 days", maxFilesPerTrigger = Some(1),
      availableNow = true, qualityWindow = Some("1 hour"), diversityM = Some(m))
    GuardianStream.start(spark, cfg).awaitTermination()

    val got = GuardianStream.readDiversity(spark, cfg.sinkDir).collect()
    assert(got.length == 1 && got(0).getInt(0) == m)
    val (vOcc, est) = (got(0).getLong(1), got(0).getLong(2))

    // OR of per-epoch bitmaps tracks distinct buckets EXACTLY: v_occ
    // must equal the batch distinct (gram mod m) over the rows the
    // pipeline actually committed — across epoch boundaries, merge
    // trees, and the read-side fold
    val sunk = IceLite.read(spark, cfg.sinkDir).select(col("text"))
    val batchRow = graft.ops.TrainingDataOps
      .gramCardinality(sunk.withColumn("g", lit("all")), n = 3, m = m,
        strataCol = "g", textCol = "text")
      .collect()(0)
    assert(vOcc == batchRow.getLong(3),
      s"monitor v_occ $vOcc != batch ${batchRow.getLong(3)}")
    assert(est == batchRow.getLong(4),
      s"monitor estimate $est != batch ${batchRow.getLong(4)}")
    // the estimate is in the right ballpark of the true distinct count
    val vTrue = batchRow.getLong(2)
    assert(est > 0 && math.abs(est - vTrue) <= vTrue / 4,
      s"linear-counting estimate $est vs true $vTrue")

    // OR is order-free: the compacted view is identical by construction
    assert(GuardianStream.compactQuality(cfg.sinkDir))
    val after = GuardianStream.readDiversity(spark, cfg.sinkDir).collect()
    assert(after.map(_.toString).toSeq == got.map(_.toString).toSeq,
      "diversity view changed under compaction")
  }

  test("late rows behind the watermark are dropped") {
    val spec = TranscriptSpec(nConvs = 4, turnsPerConv = 8, seed = 22,
      stepSeconds = 60, burstLen = 100)
    val base = turnsDF(spec)
    val maxTs = base.agg(max("ts")).collect()(0).getTimestamp(0)
    // batch 1 carries one row 10 hours older than everything in batch 0
    val lateTs = new java.sql.Timestamp(maxTs.getTime - 10L * 3600 * 1000)
    val late = Seq(Turn("conv-late", 0, "user", "too late", "", lateTs)).toDF
    val src = tmp("late-src")
    writeBatches(src, Seq(base, late))

    val out = runFileStream(src, tmp("late-ck"),
      ds => DedupState.dedup(ds, turnBucketShift = 2).toDF, "late_out",
      watermarkDelay = "10 minutes")
    assert(out.filter(col("conv_id") === "conv-late").count() == 0, "late row dropped")
    assert(out.count() == base.count())
  }

  test("drift windows: streaming append equals batch on closed windows") {
    val spec = TranscriptSpec(nConvs = 6, turnsPerConv = 30, seed = 23,
      stepSeconds = 120, burstLen = 1000)
    val base = turnsDF(spec)
    val mid = base.agg(expr("percentile_approx(unix_timestamp(ts), 0.5)"))
      .collect()(0).getLong(0)
    val b0 = base.filter(unix_timestamp(col("ts")) <= mid)
    val b1 = base.filter(unix_timestamp(col("ts")) > mid)
    val src = tmp("drift-src")
    writeBatches(src, Seq(b0, b1))

    val streamed = runFileStream(src, tmp("drift-ck"),
      ds => Windows.driftWindows(ds.toDF, "10 minutes"), "drift_out",
      watermarkDelay = "5 minutes")
    val maxTs = base.agg(max(unix_timestamp(col("ts")))).collect()(0).getLong(0)
    val finalWmSec = maxTs - 5 * 60
    val batch = Windows.driftWindows(base, "10 minutes")
      .filter(unix_timestamp(col("wend")) <= finalWmSec)
    // streaming appended exactly the closed windows
    val s = streamed.select("wstart", "n_turns", "n_pii").collect()
      .map(_.toString).toSet
    val b = batch.select("wstart", "n_turns", "n_pii").collect()
      .map(_.toString).toSet
    assert(b.nonEmpty, "some windows closed")
    assert(b.subsetOf(s), "every closed batch window appears in the stream output")
  }

  test("drift detection flags a planted mean shift between windows") {
    import spark.implicits._
    val base = 1735689600L // 2025-01-01
    // 3 hourly windows: means ~10, ~10, ~50 (big shift in the third)
    val rows = (0 until 300).map { i =>
      val w = i / 100
      val ts = new java.sql.Timestamp((base + w * 3600L + (i % 100) * 30L) * 1000L)
      val v = (if (w < 2) 10.0 else 50.0) + (i % 7) * 0.1
      (ts, v)
    }
    val df = rows.toDF("ts", "value")
    val out = Windows.driftDetect(df, "value", "1 hour", zThreshold = 3.0)
      .orderBy("wstart").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Any]("z") == null && !out(0).getAs[Boolean]("drifted"))
    assert(!out(1).getAs[Boolean]("drifted"), "no drift between equal windows")
    assert(out(2).getAs[Boolean]("drifted"), "mean shift flagged")
  }

  test("schema validation reports missing/extra/mismatched fields") {
    import graft.validate.Validator
    val good = turnsDF(TranscriptSpec(nConvs = 1, turnsPerConv = 2, seed = 1))
    assert(Validator.validateSchema(good, GuardianStream.turnSchema).valid)
    val bad = good.drop("tool").withColumn("extra", org.apache.spark.sql.functions.lit(1))
      .withColumn("turn_idx", col("turn_idx").cast("long"))
    val r = Validator.validateSchema(bad, GuardianStream.turnSchema)
    assert(!r.valid)
    assert(r.error.get.contains("missing: tool"))
    assert(r.error.get.contains("unexpected: extra"))
    assert(r.error.get.contains("type mismatch: turn_idx"))
  }

  test("session windows per conversation match burst structure") {
    val spec = TranscriptSpec(nConvs = 5, turnsPerConv = 20, seed = 24,
      stepSeconds = 30, burstLen = 5, sessionGapSeconds = 3600)
    val sessions = Windows.sessionWindows(turnsDF(spec), "30 minutes")
    // 20 turns / burstLen 5 ⇒ 4 sessions per conversation
    val perConv = sessions.groupBy("conv_id").count().collect()
    assert(perConv.length == 5)
    assert(perConv.forall(_.getAs[Long]("count") == 4))
    assert(sessions.agg(sum("n_turns")).collect()(0).getLong(0) == spec.totalTurns)
  }

  test("stream-stream provenance join equals the batch join") {
    val spec = TranscriptSpec(nConvs = 8, turnsPerConv = 12, seed = 25,
      stepSeconds = 300, burstLen = 1000)
    val raw = turnsDF(spec)
    val gen = DeterministicGen.generatedTwin(raw, maxSkewSeconds = 60, seed = 25)

    val batchResult = ProvenanceJoin.join(raw, gen, "2 minutes")
    assert(batchResult.count() == spec.totalTurns, "every turn matches its twin")
    assert(batchResult.filter(!col("text_match")).count() == 0)

    val rawSrc = tmp("prov-raw"); val genSrc = tmp("prov-gen")
    writeBatches(rawSrc, Seq(raw))
    writeBatches(genSrc, Seq(gen))
    def fileStream(dir: String) = spark.readStream
      .schema(GuardianStream.turnSchema).parquet(dir)
      .withWatermark("ts", "10 minutes")
    val q = ProvenanceJoin.join(fileStream(rawSrc), fileStream(genSrc), "2 minutes")
      .writeStream
      .option("checkpointLocation", tmp("prov-ck"))
      .outputMode("append")
      .format("memory").queryName("prov_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("prov_out")
    assert(streamed.count() == batchResult.count())
    assert(streamed.exceptAll(batchResult).count() == 0)
    assert(batchResult.exceptAll(streamed).count() == 0)

    // the standing provenance query with its own exactly-once audit table
    val provSink = tmp("prov-sink")
    GuardianStream.startProvenance(
      spark, rawSrc, genSrc, tmp("prov-ck2"), provSink,
      availableNow = true).awaitTermination()
    val audited = IceLite.read(spark, provSink)
    assert(audited.count() == batchResult.count())
    assert(audited.exceptAll(batchResult).count() == 0)
    val lin = graft.lineage.Lineage.fromJson(
      IceLite.readManifest(provSink, IceLite.committedBatches(provSink).head).lineageJson)
    assert(lin.events.head.params.get("text_matched").exists(_.toLong > 0))
  }

  test("IceLite: atomic idempotent commits; only manifested batches visible") {
    val root = tmp("icelite")
    val df = turnsDF(TranscriptSpec(nConvs = 3, turnsPerConv = 5, seed = 26))
    val lin = new graft.lineage.DataLineage("t")
    assert(IceLite.commit(df, root, 0L)(_ => lin).nonEmpty)
    assert(IceLite.commit(df, root, 0L)(_ => lin).isEmpty, "duplicate commit skipped")
    assert(IceLite.commit(df.limit(4), root, 1L)(_ => lin).nonEmpty)
    assert(IceLite.committedBatches(root) == Seq(0L, 1L))
    assert(IceLite.read(spark, root).count() == 15 + 4)
    val m = IceLite.readManifest(root, 0L)
    assert(m.rowCount == 15)
    assert(m.partitions.map(_.rowCount).sum == 15)
    assert(m.partitions.forall(p => p.convIdMin <= p.convIdMax))
  }

  test("IceLite point audit lookup prunes epochs by manifest conv ranges") {
    val root = tmp("icelite-conv")
    val df = turnsDF(TranscriptSpec(nConvs = 6, turnsPerConv = 5, seed = 27))
    val lin = new graft.lineage.DataLineage("t")
    // two epochs with DISJOINT conv populations: the manifests' per-
    // partition conv ranges separate them, so a point audit must plan
    // only the epoch that can contain the conversation
    val lo = df.filter(col("conv_id") <= "conv-000002")
    val hi = df.filter(col("conv_id") > "conv-000002")
    assert(IceLite.commit(lo, root, 0L)(_ => lin).nonEmpty)
    assert(IceLite.commit(hi, root, 1L)(_ => lin).nonEmpty)
    assert(IceLite.convBatches(root, "conv-000001") == Seq(0L),
      "low conv prunes to epoch 0 only")
    assert(IceLite.convBatches(root, "conv-000004") == Seq(1L),
      "high conv prunes to epoch 1 only")
    assert(IceLite.convBatches(root, "conv-zzz").isEmpty,
      "out-of-range conv prunes to nothing — zero files planned")
    def canonFor(conv: String): Set[String] =
      IceLite.read(spark, root).filter(col("conv_id") === conv)
        .collect().map(_.toString).toSet
    for (conv <- Seq("conv-000001", "conv-000004", "conv-zzz")) {
      val got = IceLite.readConv(spark, root, conv).collect().map(_.toString).toSet
      assert(got == canonFor(conv), s"readConv($conv) equals full-scan filter")
    }
    assert(IceLite.readConv(spark, root, "conv-000001").count() == 5)
    // after compaction the lookup reads the compacted table (row-group
    // stats prune inside it) plus any residual epochs — still exact
    assert(IceLite.compact(spark, root))
    for (conv <- Seq("conv-000001", "conv-000004", "conv-zzz")) {
      val got = IceLite.readConv(spark, root, conv).collect().map(_.toString).toSet
      assert(got == canonFor(conv), s"readConv($conv) exact after compaction")
    }
  }

  test("stateful dedup runs on the RocksDB state store provider (the 10^12-scale state backend)") {
    val base = turnsDF(TranscriptSpec(nConvs = 6, turnsPerConv = 10, seed = 29))
    val src = tmp("rocks-src")
    writeBatches(src, Seq(base.filter(col("turn_idx") <= 5), base.filter(col("turn_idx") >= 4)))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = runFileStream(src, tmp("rocks-ck"),
        ds => DedupState.dedup(ds, turnBucketShift = 2).toDF, "rocks_out",
        watermarkDelay = "365 days")
      assert(out.count() == base.count(), "dedup exact on RocksDB state store")
      val outRows = runFileStream(src, tmp("rocks-ck2"),
        ds => DedupState.dedupRows(ds.toDF), "rocks_rows_out",
        watermarkDelay = "365 days")
      assert(outRows.count() == base.count(), "row-level dedup exact on RocksDB state store")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("processBatch is idempotent under foreachBatch redelivery") {
    val df = Windows.withQualityFlags(
      turnsDF(TranscriptSpec(nConvs = 4, turnsPerConv = 6, seed = 28)))
    val root = tmp("retry-sink")
    val cfg = GuardianStream.StreamConfig(
      sourceDir = "unused", checkpointDir = tmp("retry-ck"), sinkDir = root)
    GuardianStream.processBatch(df, 7L, cfg)
    val rows1 = IceLite.read(spark, root).collect().map(_.toString).sorted
    val manifest1 = IceLite.readManifest(root, 7L)
    // Structured Streaming may re-invoke foreachBatch for the same epoch
    // after a failure — the second delivery must be a no-op.
    GuardianStream.processBatch(df, 7L, cfg)
    GuardianStream.processBatch(df.limit(3), 7L, cfg) // even a different frame
    val rows2 = IceLite.read(spark, root).collect().map(_.toString).sorted
    assert(rows1.sameElements(rows2))
    assert(IceLite.readManifest(root, 7L) == manifest1)
    assert(IceLite.committedBatches(root) == Seq(7L))
  }

  /** One conversation of `texts` at 00:10 UTC, with the quality flags
    * processBatch expects — small enough to drive epochs directly.
    */
  private def tinyTurns(texts: String*): DataFrame = {
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2025-01-01T00:10:00Z"))
    Windows.withQualityFlags(texts.zipWithIndex
      .map { case (t, i) => ("conv-tiny", i, "user", t, "", ts) }
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
  }

  test("quality compaction keeps windows of different lengths apart across a qualityWindow change") {
    val df = tinyTurns("the cat sat", "the dog ran")
    val sink = tmp("qwin-change-sink")
    val cfg = GuardianStream.StreamConfig(
      sourceDir = "unused", checkpointDir = tmp("qwin-change-ck"), sinkDir = sink,
      qualityWindow = Some("1 hour"))
    // a restart with a longer window: both windows start at 00:00
    GuardianStream.processBatch(df, 0L, cfg)
    GuardianStream.processBatch(df, 1L, cfg.copy(qualityWindow = Some("2 hours")))
    def rows(): Seq[String] =
      GuardianStream.readQuality(spark, sink).collect().map(_.toString).toSeq.sorted
    val before = rows()
    assert(before.size == 2, s"one row per window length: $before")
    assert(GuardianStream.compactQuality(sink))
    assert(rows() == before, "readQuality unchanged by compaction")
  }

  test("a quality publish lost to a crash is re-derived byte-identically on redelivery") {
    val df = tinyTurns("the cat sat on the mat", "a dog ran", "the end")
    val sink = tmp("recover-sink")
    // vocabK above the distinct-token count: Misra–Gries never prunes, so
    // the re-derived summary is exact and cannot depend on the merge tree
    val cfg = GuardianStream.StreamConfig(
      sourceDir = "unused", checkpointDir = tmp("recover-ck"), sinkDir = sink,
      qualityWindow = Some("1 hour"), vocabK = Some(64), diversityM = Some(512),
      cmsW = Some(128))
    GuardianStream.processBatch(df, 3L, cfg)
    val manifest = java.nio.file.Paths.get(sink, "quality", "manifests", "manifest-000000003.json")
    val original = Files.readAllBytes(manifest)
    val json = new String(original, java.nio.charset.StandardCharsets.UTF_8)
    Seq("\"n_turns\":3", "\"vocab_k\"", "\"div_m\"", "\"cms_w\"").foreach(f =>
      assert(json.contains(f), s"all four monitor blocks published: $f in $json"))
    // a crash between the main and the quality publish, then redelivery
    Files.delete(manifest)
    GuardianStream.processBatch(df, 3L, cfg)
    assert(java.util.Arrays.equals(Files.readAllBytes(manifest), original),
      s"republished manifest differs: ${Files.readString(manifest)} vs $json")
  }

  test("a monitor size changed mid-stream fails both the read and the compaction path") {
    val df = tinyTurns("the cat sat", "the dog ran")
    val base = GuardianStream.StreamConfig(
      sourceDir = "unused", checkpointDir = tmp("guard-ck"), sinkDir = "unused",
      qualityWindow = Some("1 hour"))
    val cases: Seq[(String, Int => GuardianStream.StreamConfig, String => Any)] = Seq(
      ("vocabK", n => base.copy(vocabK = Some(n)), GuardianStream.readVocab(spark, _)),
      ("diversityM", n => base.copy(diversityM = Some(n)), GuardianStream.readDiversity(spark, _)),
      ("cmsW", n => base.copy(cmsW = Some(n)), GuardianStream.readCms(spark, _, Seq("the"))))
    for ((field, cfgOf, read) <- cases) {
      val sink = tmp(s"guard-$field")
      GuardianStream.processBatch(df, 0L, cfgOf(64).copy(sinkDir = sink))
      GuardianStream.processBatch(df, 1L, cfgOf(128).copy(sinkDir = sink))
      val onRead = intercept[IllegalArgumentException](read(sink))
      assert(onRead.getMessage.contains("changed mid-stream"), s"$field read: $onRead")
      val onCompact = intercept[IllegalArgumentException](GuardianStream.compactQuality(sink))
      assert(onCompact.getMessage.contains("changed mid-stream"), s"$field compact: $onCompact")
    }
  }

  test("end-to-end pipeline: exactly-once sink, resume from checkpoint is identical") {
    val spec = TranscriptSpec(nConvs = 12, turnsPerConv = 16, seed = 27,
      stepSeconds = 30, burstLen = 1000)
    val base = turnsDF(spec)
    val withDups = DeterministicGen.withDuplicates(base, dupPermille = 150, seed = 27)
    // 4 time-ordered slices (so the watermark advances across batches)
    val q1 = base.stat.approxQuantile("turn_idx", Array(0.25, 0.5, 0.75), 0.0)
    val slices = Seq(
      withDups.filter(col("turn_idx") <= q1(0)),
      withDups.filter(col("turn_idx") > q1(0) && col("turn_idx") <= q1(1)),
      withDups.filter(col("turn_idx") > q1(1) && col("turn_idx") <= q1(2)),
      withDups.filter(col("turn_idx") > q1(2)))

    def cfg(src: String, ck: String, sink: String) = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = ck, sinkDir = sink,
      watermarkPayload = "WM01", watermarkDelay = "365 days",
      turnBucketShift = 2, maxFilesPerTrigger = Some(1), availableNow = true)

    // Run A: uninterrupted over all 4 files
    val srcA = tmp("e2e-srcA")
    writeBatches(srcA, slices)
    val cfgA = cfg(srcA, tmp("e2e-ckA"), tmp("e2e-sinkA"))
    GuardianStream.start(spark, cfgA).awaitTermination()

    // Run B: files 0-1, stop, then files 2-3 appear, resume from checkpoint
    val srcB = tmp("e2e-srcB")
    writeBatches(srcB, slices.take(2))
    val cfgB = cfg(srcB, tmp("e2e-ckB"), tmp("e2e-sinkB"))
    GuardianStream.start(spark, cfgB).awaitTermination()
    // append remaining files with continuing indices
    slices.drop(2).zipWithIndex.foreach { case (df, i) =>
      val staging = tmp(s"stage-late-$i")
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(srcB, f"f${i + 2}%02d.parquet"))
    }
    GuardianStream.start(spark, cfgB).awaitTermination()

    val outA = IceLite.read(spark, cfgA.sinkDir)
    val outB = IceLite.read(spark, cfgB.sinkDir)
    // exactly-once: duplicates collapsed, each turn exactly once
    assert(outA.count() == spec.totalTurns)
    // resume identity: byte-identical row sets
    assert(outA.exceptAll(outB).count() == 0)
    assert(outB.exceptAll(outA).count() == 0)
    // the embedded watermark survives the pipeline (every conversation has
    // 16 turns = exactly the WM01 capacity)
    val verified = Watermarker.verifyTurnTsPerConv(outA, "WM01")
    assert(verified.filter(col("verified")).count() == 12)
    // per-partition lineage manifests cover every committed row
    val manifested = IceLite.committedBatches(cfgA.sinkDir)
      .map(b => IceLite.readManifest(cfgA.sinkDir, b).rowCount).sum
    assert(manifested == spec.totalTurns)
    // manifests carry the source offsets of their epoch (from the WAL)
    val lin0 = graft.lineage.Lineage.fromJson(
      IceLite.readManifest(cfgA.sinkDir, 0L).lineageJson)
    assert(lin0.events.exists(_.params.get("source_offsets").exists(_.nonEmpty)))
  }

  test("CommitIO publish race: exactly one concurrent publisher wins") {
    val root = tmp("race")
    val target = java.nio.file.Paths.get(root, "manifests", "manifest-000000099.json")
    val n = 16
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val futures = (0 until n).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          if (PosixCommitIO.publishIfAbsent(target, s"""{"writer":$i}"""))
            { wins.incrementAndGet(); () }
        }
      })
    }
    gate.countDown()
    futures.foreach(_.get())
    pool.shutdown()
    assert(wins.get() == 1, s"exactly one winner, got ${wins.get()}")
    // no temp litter left behind by the losers
    val leftovers = PosixCommitIO.listNames(target.getParent).filter(_.startsWith(".tmp-"))
    assert(leftovers.isEmpty, s"losers cleaned up: $leftovers")
    assert(IceLite.committedBatches(root) == Seq(99L))
  }

  test("query status surfaces health + progress (the GET /health analog)") {
    val spec = TranscriptSpec(nConvs = 4, turnsPerConv = 8, seed = 31)
    val src = tmp("health-src")
    writeBatches(src, Seq(turnsDF(spec)))
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("health-ck"),
      sinkDir = tmp("health-sink"), availableNow = true)
    val q = GuardianStream.start(spark, cfg)
    q.awaitTermination()
    val h = GuardianStream.status(q)
    assert(h.id.nonEmpty && h.runId.nonEmpty)
    assert(!h.isActive) // AvailableNow query has drained
    assert(h.lastBatchId >= 0, s"progress recorded: $h")
    // lastProgress is the final (possibly 0-row drain) batch; the data
    // batch's rows are visible in recentProgress
    assert(q.recentProgress.map(_.numInputRows).sum == spec.totalTurns)
    assert(h.eventTimeWatermark.nonEmpty, s"watermark surfaced: $h")
    assert(h.statusMessage.nonEmpty)
  }

  // ---- the start path: warm, fork-free queries on the caller's session ----

  private val startKeys = Seq(
    LocalCheckpointFileManager.ManagerClassKey, "spark.sql.artifact.isolation.enabled")

  private def startConf: Map[String, Option[String]] =
    startKeys.map(k => k -> spark.conf.getAll.get(k)).toMap

  /** Hadoop's `.<name>.crc` side files under the checkpoint's offsets,
    * commits, sources and state (Spark's own state checksum files, when
    * enabled, are `<name>.crc` and not counted).
    */
  private def checkpointCrcs(ck: String): Seq[String] =
    Seq("offsets", "commits", "sources", "state").flatMap { d =>
      val dir = java.nio.file.Paths.get(ck, d)
      if (!Files.exists(dir)) Seq.empty
      else {
        val s = Files.walk(dir)
        try s.iterator().asScala.map(_.toString)
          .filter(p => p.endsWith(".crc") && p.split('/').last.startsWith(".")).toList
        finally s.close()
      }
    }

  private def withArena[A](f: => A): A = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "graft.stream.state.ArenaStateStoreProvider")
    try f
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  private def guardianDrain(src: String, tag: String): GuardianStream.StreamConfig = {
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp(s"$tag-ck"), sinkDir = tmp(s"$tag-sink"),
      maxFilesPerTrigger = Some(1), availableNow = true)
    GuardianStream.start(spark, cfg).awaitTermination()
    cfg
  }

  test("start and startProvenance leave the caller's conf as they found it, set or unset; listeners see the query") {
    val turns = turnsDF(TranscriptSpec(nConvs = 4, turnsPerConv = 8, seed = 53))
    val src = tmp("start-src")
    writeBatches(src, Seq(turns))
    assert(startConf.values.forall(_.isEmpty), s"keys set before the test: $startConf")

    // unset: the query runs on the engine's defaults, the caller's conf
    // stays unset, and the caller's listeners receive its progress
    val progressOf = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = { progressOf.add(e.progress.id); () }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val (q, cfg) =
      try {
        val cfg = GuardianStream.StreamConfig(
          sourceDir = src, checkpointDir = tmp("start-ck"), sinkDir = tmp("start-sink"),
          availableNow = true)
        val q = GuardianStream.start(spark, cfg)
        assert(startConf.values.forall(_.isEmpty), s"unset keys leaked: $startConf")
        q.awaitTermination()
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!progressOf.contains(q.id) && System.nanoTime() < deadline) Thread.sleep(50)
        (q, cfg)
      } finally spark.streams.removeListener(listener)
    assert(progressOf.contains(q.id), "the caller's listener saw no progress of the query")
    assert(checkpointCrcs(cfg.checkpointDir).isEmpty,
      s"the engine's checkpoint manager wrote no .crc: ${checkpointCrcs(cfg.checkpointDir)}")

    // set: the caller's values win and survive the start
    val callers = Map(
      LocalCheckpointFileManager.ManagerClassKey ->
        "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager",
      "spark.sql.artifact.isolation.enabled" -> "true")
    callers.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val ck = tmp("start-prov-ck")
      GuardianStream.startProvenance(spark, src, src, ck, tmp("start-prov-sink"),
        availableNow = true).awaitTermination()
      assert(startConf == callers.map { case (k, v) => k -> Some(v) })
      assert(checkpointCrcs(ck).nonEmpty, "the caller's FileContext manager ran the query")
    } finally startKeys.foreach(spark.conf.unset)
  }

  test("a second AvailableNow drain of the same input compiles no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val slices = Seq(21, 22).map(seed => turnsDF(TranscriptSpec(nConvs = 4, turnsPerConv = 8, seed = seed)))
    val src = tmp("warm-src")
    writeBatches(src, slices)
    withArena {
      guardianDrain(src, "warm-1")
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      guardianDrain(src, "warm-2")
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"the second drain compiled $compiled classes")
      // the provenance query too, raw and generated side from one source
      def provenanceDrain(tag: String): Unit =
        GuardianStream.startProvenance(spark, src, src, tmp(s"$tag-ck"), tmp(s"$tag-sink"),
          availableNow = true, maxFilesPerTrigger = Some(1)).awaitTermination()
      provenanceDrain("warm-prov-1")
      val beforeProv = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      provenanceDrain("warm-prov-2")
      val compiledProv = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - beforeProv
      assert(compiledProv == 0, s"the second provenance drain compiled $compiledProv classes")
    }
  }

  test("a second AvailableNow drain of the flatMapGroupsWithState dedup path compiles no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val slices = Seq(25, 26).map(seed => turnsDF(TranscriptSpec(nConvs = 4, turnsPerConv = 8, seed = seed)))
    val src = tmp("warm-fmgws-src")
    writeBatches(src, slices)
    def drain(tag: String): String = {
      val cfg = GuardianStream.StreamConfig(
        sourceDir = src, checkpointDir = tmp(s"$tag-ck"), sinkDir = tmp(s"$tag-sink"),
        maxFilesPerTrigger = Some(1), availableNow = true, rowDedup = false)
      GuardianStream.start(spark, cfg).awaitTermination()
      cfg.sinkDir
    }
    withArena {
      val first = drain("warm-fmgws-1")
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val second = drain("warm-fmgws-2")
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"the second drain compiled $compiled classes")
      def rows(sink: String) = IceLite.read(spark, sink).drop("pid").collect().map(_.toString).sorted.toSeq
      assert(rows(first).nonEmpty && rows(second) == rows(first))
    }
  }

  test("a drain writes no .crc file under the checkpoint's offsets, commits, sources or state") {
    val turns = turnsDF(TranscriptSpec(nConvs = 6, turnsPerConv = 8, seed = 57))
    val src = tmp("nocrc-src")
    writeBatches(src, Seq(turns.filter(col("turn_idx") < 4), turns.filter(col("turn_idx") >= 4)))
    val cfg = withArena(guardianDrain(src, "nocrc"))
    assert(Files.exists(java.nio.file.Paths.get(cfg.checkpointDir, "state")), "the query kept state")
    val crcs = checkpointCrcs(cfg.checkpointDir)
    assert(crcs.isEmpty, s"checksum side files: $crcs")
  }
}
