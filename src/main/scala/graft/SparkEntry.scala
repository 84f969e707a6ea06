package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.DeterministicGen
import graft.gen.DeterministicGen.TranscriptSpec
import graft.validate.Validator
import graft.watermark.Watermarker

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2), each with an equivalent DuckDB oracle in `oracleSql`.
  *
  * Column-name parity between the Spark result and the oracle SQL is part
  * of the contract (the driver sorts columns by name before hashing), so
  * every computed column is aliased identically on both sides, and every
  * floating-point output is rounded to a fixed scale on both sides.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** A fresh scratch dir (tmpfs when available: checkpoint WAL and sink
    * commits on the virtual disk add seconds of writeback jitter),
    * swept with the other scratch at JVM exit.
    */
  private def scratchDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root = (if (java.nio.file.Files.isDirectory(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)).toString
    e2eScratch.add(root)
    root
  }

  // one map per kind, so a memo body may memoize another kind
  private val memos = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, String]]()

  /** Runs `make` once per (kind, sf dir) in this JVM and returns its
    * result (a scratch path) on every call. The builds are deterministic,
    * so a read-back equals a recompute.
    */
  private def memo(kind: String, dir: String)(make: => String): String =
    memos.computeIfAbsent(kind, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(dir, _ => make)

  /** Events-derived transcript fixture (VERDICT r4 item 2): five queries
    * derive the SAME frame from the events table (window-function scan +
    * per-user sort), so it is written to scratch parquet once and re-read
    * lazily by each query — only the per-query projections (dup planting,
    * skew twin) are recomputed.
    */
  private def e2eFixture(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(memo("e2e-fixture", dir) {
      val path = s"${scratchDir("graft-e2e-fixture")}/fixture"
      e2eTurnsFromEvents(t(s, dir, "events")).write.parquet(path)
      path
    })

  /** Near-dup cluster table — the LSH → verify → connected-components
    * pass is the most expensive batch stage and BOTH `dedup_clusters` and
    * `corpus_retain` consume its exact output, so the first consumer
    * writes it to scratch parquet and the second reads it back. The
    * stage's caches are released as soon as the table is on disk.
    */
  private def dupClusters(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(memo("dup-clusters", dir) {
      val path = s"${scratchDir("graft-dup-clusters")}/clusters"
      graft.ops.TrainingDataOps.withPersisted {
        graft.ops.TrainingDataOps.nearDupClusters(
          t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
          .write.parquet(path)
      }
      path
    })

  /** The guardian e2e PIPELINE RUN: source write (with planted dups), the
    * streaming run (watermark embed, dedup, exactly-once sink, diversity
    * monitor), compaction + expiry — shared by `stream_guardian_e2e`
    * (audit read-back + watermark verify) and `stream_diversity_e2e` (the
    * monitor's merged view), so the second query costs a manifest fold,
    * not a second pipeline. The returned sink is lazy over files.
    */
  private def e2eGuardianSink(s: SparkSession, dir: String): String =
    memo("e2e-sink", dir) {
      val root = scratchDir("graft-e2e")
      val turns = e2eFixture(s, dir)
      val withDups = turns.union(turns.filter(pmod(col("event_id"), lit(10L)) === 0))
        .drop("event_id")
      withDups.repartition(4).write.parquet(s"$root/src")
      val cfg = graft.stream.GuardianStream.StreamConfig(
        sourceDir = s"$root/src", checkpointDir = s"$root/ck",
        sinkDir = s"$root/sink", watermarkPayload = "WM01",
        watermarkDelay = "365 days", availableNow = true,
        // the diversity + CMS monitors ride this run's quality sink;
        // their merged views are oracled by stream_diversity_e2e and
        // stream_cms_e2e
        qualityWindow = Some("1 hour"), diversityM = Some(4096),
        cmsW = Some(1024))
      graft.stream.GuardianStream.start(s, cfg).awaitTermination()
      // fold the epoch dirs + expire the superseded state BEFORE the
      // read-back: the driver's hash-exact compare then certifies the
      // COMPACTED read path end-to-end, not just the per-epoch one
      graft.stream.IceLite.compact(s, cfg.sinkDir)
      graft.stream.IceLite.expireCompacted(cfg.sinkDir)
      cfg.sinkDir
    }

  /** Every `scratchDir`, swept by ONE process-wide shutdown hook
    * (registered lazily on first use).
    */
  private lazy val e2eScratch: java.util.concurrent.ConcurrentLinkedQueue[String] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    sys.addShutdownHook {
      q.forEach(d => Bench.deleteRecursively(new java.io.File(d)))
    }
    q
  }

  /** Flagship: the full guardian pipeline over a synthesized transcript
    * table — generate → per-turn watermark embed → per-conversation verify
    * joined with session stats. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val spec = TranscriptSpec(nConvs = 200, turnsPerConv = 24, seed = 42)
    val turns = DeterministicGen.transcripts(spark, spec)
    val embedded = Watermarker.embedTurnTs(turns, "WM01")
    val verified = Watermarker.verifyTurnTsPerConv(embedded, "WM01")
    val sessions = embedded
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_turns"), min("ts").as("first_ts"), max("ts").as("last_ts"))
    verified.join(sessions, "conv_id").filter(col("verified"))
  }

  // ---- expected-range constants shared between Spark and oracle sides ----
  private val qtyLo = 1.0; private val qtyHi = 50.0; private val tol = 0.15
  private val qtyMinBound = qtyLo - (qtyHi - qtyLo) * tol // -6.35
  private val qtyMaxBound = qtyHi + (qtyHi - qtyLo) * tol // 57.35

  private val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val piiSsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val piiPhoneRe = "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b"
  private val stopwordRe = "\\b(the|a|of|and|to|in|is)\\b"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // V1+V2+V3: per-group one-pass distribution stats + range verdicts
    // (validator.py:18-39) — min/max/mean/sample-std with the n<2 ⇒ 0.0 shim.
    "v_column_stats" -> ((s, dir) => {
      val q = col("l_quantity")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          min(q).as("actual_min"),
          max(q).as("actual_max"),
          round(Validator.meanExpr(q), 5).as("actual_mean"),
          round(Validator.stdExpr(q), 5).as("actual_std"),
          count(lit(1)).as("n"))
        .withColumn("min_ok", col("actual_min") >= qtyMinBound)
        .withColumn("max_ok", col("actual_max") <= qtyMaxBound)
        .withColumn("valid", col("min_ok") && col("max_ok"))
    }),

    // V6: whole-dataset validation report (validator.py:74-98), flattened —
    // every statistic of every checked column in ONE aggregation pass.
    "v_validate_dataset" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      import graft.model.ColumnSpec
      val specs = Seq(
        ColumnSpec("l_quantity", 0, 60), ColumnSpec("l_extendedprice", 0, 120000))
      val rep = Validator.reportDF(li, specs)
      rep.select(
        col("record_count"),
        col("valid"),
        col("l_quantity")("valid").as("quantity_valid"),
        col("l_quantity")("actual_min").as("quantity_min"),
        col("l_quantity")("actual_max").as("quantity_max"),
        round(col("l_quantity")("actual_mean"), 5).as("quantity_mean"),
        round(col("l_quantity")("actual_std"), 5).as("quantity_std"),
        col("l_extendedprice")("valid").as("price_valid"),
        col("l_extendedprice")("actual_min").as("price_min"),
        col("l_extendedprice")("actual_max").as("price_max"),
        round(col("l_extendedprice")("actual_mean"), 5).as("price_mean"),
        round(col("l_extendedprice")("actual_std"), 5).as("price_std"))
    }),

    // V4: Pearson r with the n<2 / zero-variance ⇒ 0.0 shims
    // (validator.py:42-52); corr_const exercises the zero-variance path.
    "v_corr" -> ((s, dir) => {
      t(s, dir, "customer").agg(
        round(Validator.corrExpr(col("c_custkey"), col("c_acctbal")), 6)
          .as("corr_custkey_acctbal"),
        round(Validator.corrExpr(col("c_acctbal"), lit(1.0)), 6).as("corr_const"))
    }),

    // V5: correlation preserved between original and synthetic pair
    // (validator.py:55-71); synthetic = even-orderkey half of the table.
    "v_corr_preserved" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // ONE aggregation pass computes both correlations (guide §1.2: the
      // reference shape scanned lineitem twice and cross-joined two
      // one-row aggregates). The synthetic half enters as null-conditional
      // columns: covar_samp/stddev_samp skip null rows, so the
      // even-orderkey sample — and its per-partition accumulation order —
      // is identical to the filtered scan's.
      val even = pmod(col("l_orderkey"), lit(2)) === 0
      val o = li.agg(
        Validator.corrExpr(col("l_quantity"), col("l_extendedprice")).as("oc"),
        Validator.corrExpr(
          when(even, col("l_quantity")),
          when(even, col("l_extendedprice"))).as("sc"))
      o.select(
        round(col("oc"), 6).as("original_correlation"),
        round(col("sc"), 6).as("synthetic_correlation"),
        round(abs(col("oc") - col("sc")), 6).as("delta"),
        (abs(col("oc") - col("sc")) <= 0.3).as("preserved"))
    }),

    // W1: _embed_bits as a pure per-row expression (watermark.py:5-10),
    // bits derived from the row keys.
    "w_embed_bits" -> ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        Watermarker.embedBitsExpr(
          col("l_quantity"),
          pmod(col("l_orderkey"), lit(2L)),
          pmod(col("l_suppkey"), lit(2L))).as("wm_value"))
    }),

    // W2: _extract_bits (watermark.py:13-16).
    "w_extract_bits" -> ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        Watermarker.extractB0(col("l_quantity")).as("b0"),
        Watermarker.extractB1(col("l_quantity")).as("b1"))
    }),

    // W3+W4+W5: full embed → extract → verify round-trip over the ordered
    // row prefix (watermark.py:19-77). One result row.
    "w_roundtrip" -> ((s, dir) => {
      // (l_orderkey, l_linenumber) alone is not unique in the testdata, so
      // the ordering key is widened until total — position must be
      // deterministic for the bit stream to round-trip.
      val keys = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
      val wm = "WM01"
      val embedded = Watermarker.embed(t(s, dir, "lineitem"), wm, "l_quantity", keys)
      val extracted = Watermarker.extract(embedded, wm.length, "l_quantity", keys)
      import s.implicits._
      Seq((wm, extracted, extracted == wm))
        .toDF("expected", "extracted", "verified")
    }),

    // Streaming-shape op on batch data: tumbling event-time window
    // (the drift-window aggregate of the north star, batch-checkable).
    "s_tumbling_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 5).as("sum_value"))
        .select(col("w.start").as("wstart"), col("n_events"), col("sum_value"))
    }),

    // Sliding window: 1 hour size, 15 minute slide (4 windows per event).
    "s_sliding_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 5).as("sum_value"))
        .select(col("w.start").as("wstart"), col("n_events"), col("sum_value"))
    }),

    // Statistical drift detection between adjacent event-time windows
    // (Welch mean-shift z on value, 1-day tumbling windows).
    "drift_detect" -> ((s, dir) => {
      graft.stream.Windows.driftDetect(t(s, dir, "events"), "value", "1 day")
    }),

    // Session window per user with a 30-minute gap (the per-conversation
    // session window of the north star, keyed on user_id here).
    "s_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 5).as("sum_value"))
        .select(
          col("user_id"),
          col("sw.start").as("session_start"),
          col("sw.end").as("session_end"),
          col("n_events"),
          col("sum_value"))
    }),

    // Exact deduplication, hash-first: group on md5(text) instead of the
    // text itself, so the shuffle carries 32-byte digests rather than
    // full documents (10-100x fewer shuffle bytes on long docs — the
    // round-2 verdict's scale note). md5 is the same function in both
    // engines, so any (cryptographically negligible) collision would
    // conflate identically on both sides of the oracle compare.
    "dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
    }),

    // PII regex scan (north-star stateless validator stage).
    "pii_scan" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        col("text").rlike(piiEmailRe).as("has_email"),
        col("text").rlike(piiSsnRe).as("has_ssn"),
        col("text").rlike(piiPhoneRe).as("has_phone"))
    }),

    // Text quality scoring: token count, punctuation, stopword ratio.
    "text_quality" -> ((s, dir) => {
      val txt = col("text")
      val nTokens = size(split(trim(txt), "\\s+"))
      t(s, dir, "documents").select(
        col("doc_id"),
        length(txt).as("n_chars_calc"),
        nTokens.as("n_tokens"),
        regexp_count(txt, lit("[.,!?;:]")).as("n_punct"),
        regexp_count(lower(txt), lit(stopwordRe)).as("n_stopwords"),
        round(length(regexp_replace(txt, "\\s", "")).cast("double") /
          greatest(nTokens, lit(1)), 5).as("avg_token_len"))
    }),

    // Windowed text-quality validator over transcripts (the north-star
    // drift windows): tumbling event-time windows of text-length stats +
    // PII counts, computed by the custom codegen TextStats expression —
    // the oracle restates the flags with the regexes TextStats is
    // byte-exact against (TextStatsSpec). approx_convs (HLL) is excluded:
    // a sketch has no cross-engine-exact twin.
    "quality_windows" -> ((s, dir) => {
      val turns = e2eFixture(s, dir).drop("event_id")
      graft.stream.Windows.driftWindows(turns, "6 hours")
        .select(
          col("wstart"), col("n_turns"), col("len_min"), col("len_max"),
          round(col("len_mean"), 5).as("len_mean"),
          round(col("len_std"), 5).as("len_std"),
          col("n_pii"))
    }),

    // Per-conversation SESSION windows driving the quality validators —
    // the north star's "session windows (gap on ts) drive stateful
    // quality validators" composed end-to-end on the transcript fixture.
    "quality_sessions" -> ((s, dir) => {
      val turns = e2eFixture(s, dir).drop("event_id")
      graft.stream.Windows.sessionWindows(turns, "30 minutes")
        .select(
          col("conv_id"), col("session_start"), col("session_end"),
          col("n_turns"), round(col("len_mean"), 5).as("len_mean"), col("n_pii"))
    }),

    // Schema validation (metadata-only — no Spark job): per-field verdict
    // of the documents table against a spec with a planted type mismatch
    // (lang expected int) and a planted missing field (embedding). The
    // oracle derives the same verdicts INDEPENDENTLY from DuckDB's
    // information_schema over the same parquet.
    "schema_validate" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val expected = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", IntegerType),    // actual: string ⇒ type_mismatch
        StructField("n_chars", LongType),
        StructField("embedding", ArrayType(FloatType)))) // ⇒ missing
      import s.implicits._
      Validator.schemaFieldStatuses(t(s, dir, "documents"), expected)
        .toDF("field", "status")
    }),

    // Provenance matching, batch-checkable: the raw side is the
    // events-derived transcript fixture; the generated twin carries a
    // deterministic bounded skew ((event_id % 241) - 120 s), planted
    // OUT-of-range rows (event_id % 17 = 0 ⇒ +400 s, outside the 2-minute
    // join window) and planted text perturbations (event_id % 23 = 0).
    // Same join as the standing stream-stream query (ProvenanceJoin.join,
    // watermark-bounded in streaming); the oracle restates fixture, twin
    // and the interval join in SQL.
    "provenance_match" -> ((s, dir) => {
      val base = e2eFixture(s, dir)
      val raw = base.drop("event_id")
      val gen = base
        .withColumn("__skew",
          when(pmod(col("event_id"), lit(17L)) === 0, lit(400L))
            .otherwise(pmod(col("event_id"), lit(241L)) - 120L))
        .withColumn("ts", col("ts") + expr("make_dt_interval(0, 0, 0, __skew)"))
        .withColumn("text",
          when(pmod(col("event_id"), lit(23L)) === 0,
            concat(col("text"), lit(" [generated]"))).otherwise(col("text")))
        .drop("event_id", "__skew")
      graft.stream.ProvenanceJoin.join(raw, gen, "2 minutes")
    }),

    // The STANDING provenance join end-to-end (round-3 verdict item 4):
    // the same raw/generated fixture pair as provenance_match, but run
    // through `GuardianStream.startProvenance` — two watermarked parquet
    // file streams, the stream-stream interval join (state on the arena
    // store's join state managers), and the exactly-once IceLite audit
    // sink — then read back through the snapshot reader. Same oracle SQL
    // as the batch form: the standing query must converge to exactly the
    // batch join.
    "stream_provenance_e2e" -> ((s, dir) => {
      val root = scratchDir("graft-prov-e2e")
      // BOTH side writes (raw + skewed twin) re-read the memoized fixture
      // parquet — two cheap scans, no recompute of the window-function sort
      val fixture = e2eFixture(s, dir)
      val raw = fixture.drop("event_id")
      val gen = fixture
        .withColumn("__skew",
          when(pmod(col("event_id"), lit(17L)) === 0, lit(400L))
            .otherwise(pmod(col("event_id"), lit(241L)) - 120L))
        .withColumn("ts", col("ts") + expr("make_dt_interval(0, 0, 0, __skew)"))
        .withColumn("text",
          when(pmod(col("event_id"), lit(23L)) === 0,
            concat(col("text"), lit(" [generated]"))).otherwise(col("text")))
        .drop("event_id", "__skew")
      raw.repartition(4).write.parquet(s"$root/raw")
      gen.repartition(4).write.parquet(s"$root/gen")
      // 2 files/trigger over 4 files per side ⇒ multiple committed epochs,
      // so the compaction below has residual batches to fold
      graft.stream.GuardianStream.startProvenance(
        s, s"$root/raw", s"$root/gen", s"$root/ck", s"$root/sink",
        watermarkDelay = "365 days", maxSkew = "2 minutes",
        availableNow = true, maxFilesPerTrigger = Some(2)).awaitTermination()
      // fold + expire BEFORE the read-back (VERDICT r4 item 6): the 34th
      // query then also certifies the COMPACTED audit read path
      graft.stream.IceLite.compact(s, s"$root/sink")
      graft.stream.IceLite.expireCompacted(s"$root/sink")
      graft.stream.IceLite.read(s, s"$root/sink")
        .select(col("conv_id"), col("turn_idx"), col("raw_ts"), col("gen_ts"),
          col("text_match"), col("skew_us"))
    }),

    // Point audit trace through the manifest-pruned IceLite lookup: the
    // fixture-derived turns land in TWO committed epochs split by conv
    // range, so `readConv`'s driver-side manifest pruning is real (one
    // epoch planned, one skipped by its conv_id range) and the conv
    // predicate is pushed into the parquet scan — the north star's "any
    // output row is traceable" promise exercised as an actual lookup
    // under the driver's hash gate. The oracle restates fixture + filter.
    "audit_conv_trace" -> ((s, dir) => {
      val root = scratchDir("graft-audit-trace")
      // each commit is one job over its slice of the fixture parquet
      val turns = e2eFixture(s, dir).drop("event_id")
      val lin = new graft.lineage.DataLineage("audit")
      graft.stream.IceLite.commit(
        turns.filter(col("conv_id") <= "conv-000007"), s"$root/t", 0L)(_ => lin)
      graft.stream.IceLite.commit(
        turns.filter(col("conv_id") > "conv-000007"), s"$root/t", 1L)(_ => lin)
      graft.stream.IceLite.readConv(s, s"$root/t", "conv-000007")
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), col("ts"))
    }),

    // Token counting, BPE-ish: greedy lexical pre-tokenization in the
    // GPT-2/tiktoken style — letter runs, digit runs, and single
    // punctuation marks each become one pre-token (the units a byte-pair
    // encoder would then merge). Whitespace-token counts live in
    // text_quality; both are pure codegen'd regexp_count projections.
    "token_count_bpe" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_count(txt, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("n_bpe_tokens"),
        regexp_count(txt, lit("[A-Za-z]+")).as("n_word_tokens"),
        regexp_count(txt, lit("[0-9]+")).as("n_number_tokens"),
        round(length(regexp_replace(txt, "\\s", "")).cast("double") /
          greatest(regexp_count(txt, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")), lit(1)), 5)
          .as("chars_per_token"))
    }),

    // Full streaming guardian pipeline end-to-end, now with a REAL DuckDB
    // oracle (VERDICT r1 §missing-1): the transcript fixture is derived
    // from the driver-visible `events` table with engine-portable
    // arithmetic only (row_number ordering on (ts, event_id), lpad'd
    // conv ids — no xxhash64, which DuckDB lacks), exact-replay
    // duplicates are planted on event_id % 10 = 0, and the stream runs
    // source → watermark → salted stateful dedup → per-turn ts-LSB
    // watermark embed → validators → exactly-once IceLite sink. The
    // oracle restates dedup (exact-duplicate collapse), the bit embed,
    // per-conversation extraction and whole-byte repacking in SQL.
    "stream_guardian_e2e" -> ((s, dir) => {
      val audit = graft.stream.IceLite.read(s, e2eGuardianSink(s, dir))
      Watermarker.verifyTurnTsPerConv(audit, "WM01").filter(col("verified"))
    }),

    // The standing corpus-diversity monitor's merged view over the SAME
    // pipeline run (memoized sink): one row (m, v_occ, est_linear). The
    // oracle recomputes the trigram bitmap from the expected sunk rows,
    // so the driver's hash gate certifies the whole observe() → manifest
    // → compaction → OR-fold path, not just the unit test.
    "stream_diversity_e2e" -> ((s, dir) => {
      graft.stream.GuardianStream.readDiversity(s, e2eGuardianSink(s, dir))
    }),

    // MinHash signatures (k=8) from a cross-engine-exact polynomial token
    // hash — the signature stage of MinHash+LSH dedup.
    "minhash_signatures" -> ((s, dir) => {
      graft.ops.TrainingDataOps.minhashSignatures(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
    }),

    // LSH candidate pairs: 4 bands x 2 signatures, join on band buckets
    // (sub-quadratic — never a cross join).
    "dedup_minhash_lsh" -> ((s, dir) => {
      graft.ops.TrainingDataOps.minhashLshPairs(
        t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
    }),

    // 16-bit SimHash per document.
    "dedup_simhash" -> ((s, dir) => {
      graft.ops.TrainingDataOps.simhash16(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("simhash"))
    }),

    // Exact word-3-gram Jaccard over a deterministic pairing (consecutive
    // doc ids) — the verification stage that LSH candidates feed at scale.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = docs.select(
        col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      graft.ops.TrainingDataOps.ngramJaccard(docs, pairs, "doc_id")
    }),

    // The COMPOSED near-duplicate pipeline: MinHash signatures → LSH band
    // buckets → candidate pairs → exact n-gram-Jaccard verification →
    // verified duplicate pairs. This is the production dedup flow end to
    // end (candidates sub-quadratic via LSH, exactness restored by the
    // verify stage); the oracle restates all three stages.
    "dedup_lsh_verified" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.TrainingDataOps.lshVerifiedJaccard(docs, "doc_id")
        .filter(col("jaccard") >= 0.5)
    }),

    // Near-duplicate CLUSTERS: the verified LSH pairs fed through
    // connected components (alternating large-star/small-star, O(log n)
    // rounds at any graph shape) → per-cluster canonical pick. This is
    // the DECISION stage of corpus dedup: `keep` marks the one document
    // per duplicate cluster a pipeline retains.
    "dedup_clusters" -> ((s, dir) => dupClusters(s, dir)),

    // Exact per-language token-count quantiles from a count histogram:
    // per-row work is one map-side-combinable aggregate; the cumulative
    // scan runs over distinct (lang, n_tokens) pairs only. All-integer
    // quantile rule (min v with 100·cum ≥ N·total) — bit-exact on both
    // engines, no interpolation.
    "quality_token_quantiles" -> ((s, dir) => {
      graft.ops.TrainingDataOps.tokenCountQuantiles(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
    }),

    // Per-language top-5 tokens (heavy hitters) — vocabulary audit; the
    // ranking window runs over the vocabulary, not the corpus.
    "top_tokens_lang" -> ((s, dir) => {
      graft.ops.TrainingDataOps.topTokens(
        t(s, dir, "documents").select(col("doc_id"), col("text")), k = 5)
    }),

    // Deterministic stratified hash-rate sampling (shuffle-free): doc
    // survives iff polyhash(salt ++ doc_id) mod 1000 < rate(lang). Rates
    // model a low-resource upsample: en 200‰, zh 300‰, others 600‰.
    "sample_stratified" -> ((s, dir) => {
      graft.ops.TrainingDataOps.stratifiedSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        rates = Map("en" -> 200, "zh" -> 300), defaultPermille = 600)
    }),

    // Data-dependent language REBALANCING: every language downsampled to
    // the smallest one's size, keep-rate floor(1000*min/cnt) permille —
    // the rates come from the data (two-phase), the filter is the same
    // shuffle-free deterministic bucket rule.
    "sample_rebalance" -> ((s, dir) => {
      graft.ops.TrainingDataOps.rebalanceSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang")))
    }),

    // Model-based quality classifier plumbing: hashing-trick linear
    // logit over a 64-dim broadcast weight table (deterministic
    // placeholder weights — the plumbing is the deliverable).
    "quality_classifier" -> ((s, dir) => {
      graft.ops.TrainingDataOps.hashQualityScore(
        t(s, dir, "documents").select(col("doc_id"), col("text")), dim = 64)
    }),

    // Token-budget quality selection: maximal (distinct-token-count desc,
    // doc_id asc) prefix whose running token total fits 12000 tokens —
    // histogram + threshold-bin plan, never a global sort.
    "budget_select" -> ((s, dir) => {
      graft.ops.TrainingDataOps.budgetSelect(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        budgetTokens = 12000L)
    }),

    // Per-source document cap (domain cap): at most 22 docs per source,
    // priority by ascending doc_id.
    "source_cap" -> ((s, dir) => {
      graft.ops.TrainingDataOps.sourceCap(
        t(s, dir, "documents").select(col("doc_id"), col("source")), k = 22)
    }),

    // The composite corpus curation decision: dedup → language → token
    // quality band → per-source cap, with per-stage verdicts + the first
    // failing stage as the drop reason.
    "corpus_retain" -> ((s, dir) => {
      graft.ops.TrainingDataOps.corpusRetain(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source")),
        keepLangs = Seq("en", "de", "fr", "es"),
        minTokens = 15, maxTokens = 90, capPerSource = 18,
        dupKeep = Some(dupClusters(s, dir)))
    }),

    // Exact heavy hitters (corpus tokens with frequency >= 0.5%) via the
    // two-pass Misra-Gries candidates + exact-count-of-candidates plan —
    // the full-vocabulary shuffle never happens.
    "heavy_hitters" -> ((s, dir) => {
      graft.ops.TrainingDataOps.heavyHitterTokens(
        t(s, dir, "documents").select(col("text")), minFreq = 0.005)
    }),

    // Intra-document repetition ratio (duplicate-trigram fraction per
    // document, 0.0 under 3 tokens) — the classic corpus quality rule.
    "text_repetition" -> ((s, dir) => {
      graft.ops.TrainingDataOps.repetitionStats(
        t(s, dir, "documents").select(col("doc_id"), col("text")), n = 3)
    }),

    // Eval-set decontamination: docs with doc_id % 97 == 0 act as the
    // held-out eval corpus; every other doc reports how many of its
    // distinct trigrams leak from the eval set.
    "contamination_check" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.TrainingDataOps.contaminationCheck(
        docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97L)) === 0), n = 3)
    }),

    // Cross-document exact-substring duplication (inverted 5-gram index,
    // the ExactSubstr shape): fraction of each doc's gram positions that
    // also occur in at least one other document.
    "dedup_substring" -> ((s, dir) => {
      graft.ops.TrainingDataOps.crossdocDupStats(
        t(s, dir, "documents").select(col("doc_id"), col("text")), n = 5)
    }),

    // Unigram perplexity proxy: per-doc mean -ln p(token) under the
    // corpus' own top-20 unigram model, OOV floor 1/N (the top-20 cut
    // leaves ~1/3 of this fixture's 31-token vocabulary OOV, so both
    // lookup branches are exercised).
    "quality_logprob" -> ((s, dir) => {
      graft.ops.TrainingDataOps.unigramLogProb(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        vocabSize = 20)
    }),

    // Training-sequence chunking: 30-token windows, stride 22 (8-token
    // overlap), deterministic chunk index per document.
    "chunk_documents" -> ((s, dir) => {
      graft.ops.TrainingDataOps.chunkDocuments(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        chunkSize = 30, stride = 22)
    }),

    // Winnowing fingerprints (MOSS): token-3-gram hashes, window-of-4
    // minima, distinct set per doc -> count / min / canonical digest.
    "winnow_fingerprint" -> ((s, dir) => {
      graft.ops.TrainingDataOps.winnowFingerprints(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        k = 3, w = 4)
    }),

    // Cross-corpus near-dedup: even doc_ids play the already-trained
    // reference snapshot, odd ids the new crawl; verified (new, ref)
    // matches at trigram Jaccard >= 0.8 form the new crawl's drop list.
    "cross_dedup_verified" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.TrainingDataOps.crossCorpusNearDups(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0),
        threshold = 0.8)
    }),

    // GPT-style sequence packing: concatenate per hash-bucket stream,
    // cut into 256-token blocks; per-doc block span + offset.
    "pack_blocks" -> ((s, dir) => {
      graft.ops.TrainingDataOps.packBlocks(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        blockTokens = 256, buckets = 32)
    }),

    // Per-doc top-3 TF-IDF terms, integer micro-nat idf ranking.
    "tfidf_top_terms" -> ((s, dir) => {
      graft.ops.TrainingDataOps.tfidfTopTerms(
        t(s, dir, "documents").select(col("doc_id"), col("text")), k = 3)
    }),

    // Content-defined chunking: rolling-hash boundaries (3-gram % 16),
    // shift-resistant segment table per document.
    "cdc_chunks" -> ((s, dir) => {
      graft.ops.TrainingDataOps.cdcChunks(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        k = 3, divisor = 16)
    }),

    // Cross-document shared CDC segments (>= 3 tokens, >= 2 docs):
    // segment-level dup detection that survives insertions.
    "cdc_shared_chunks" -> ((s, dir) => {
      graft.ops.TrainingDataOps.cdcSharedChunks(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        k = 3, divisor = 16, minTokens = 3)
    }),

    // Temperature-scaled language mixing weights (alpha = 0.5 upsamples
    // low-resource languages), with the ppm rate stratifiedSample takes.
    "lang_mix_weights" -> ((s, dir) => {
      graft.ops.TrainingDataOps.temperatureMixWeights(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", alpha = 0.5)
    }),

    // MinHash estimator audit: per LSH candidate pair, the signature
    // Jaccard estimate (agreeing sigs / 8) vs the exact trigram Jaccard.
    "minhash_jaccard_est" -> ((s, dir) => {
      graft.ops.TrainingDataOps.minhashJaccardEstimate(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
    }),

    // Cardinality-sketch audit: per-lang distinct trigram count, exact
    // vs the linear-counting estimate from a 16384-slot bitmap.
    "gram_cardinality" -> ((s, dir) => {
      graft.ops.TrainingDataOps.gramCardinality(
        t(s, dir, "documents").select(col("lang"), col("text")),
        n = 3, m = 16384)
    }),

    // Batched IVF probe: every vec_id % 50 == 0 queries the index at
    // once — ANN as a cell-keyed join, per-query top-3.
    "ann_batch_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      graft.ops.TrainingDataOps.ivfBatchTopK(
        emb,
        "vec_id",
        emb.filter(pmod(col("vec_id"), lit(50L)) === 0)
          .select(col("vec_id").as("qid")),
        k = 3, nCentroids = Some(16), nProbe = Some(4))
    }),

    // Count-min-sketch frequency audit: top-20 exact trigram counts vs
    // their CMS estimates (d=4, w=8192) — the over-counting dual of the
    // Misra-Gries undercount.
    "cms_frequency_audit" -> ((s, dir) => {
      graft.ops.TrainingDataOps.cmsFrequencyAudit(
        t(s, dir, "documents").select(col("text")), n = 3, w = 8192, topK = 20)
    }),

    // Per-label embedding outliers: integer-quantized centroid distance,
    // top-3 per label (mislabel / contamination detection).
    "embedding_outliers" -> ((s, dir) => {
      graft.ops.TrainingDataOps.embeddingOutliers(
        t(s, dir, "embeddings").select(col("vec_id"), col("label"),
          col("embedding")), k = 3)
    }),

    // The standing CMS frequency monitor probed at fixed tokens over the
    // same memoized pipeline run — summed counters are partition-
    // independent, so the view is exactly restatable by the oracle.
    "stream_cms_e2e" -> ((s, dir) => {
      graft.stream.GuardianStream.readCms(s, e2eGuardianSink(s, dir),
        Seq("turn", "of", "type", "[user]", "ssn", "zz-absent-token"))
    }),

    // Exact cross-corpus dedup (ref = even doc_ids): the 128-bit-key
    // anti-join must equal the oracle's plain NOT EXISTS.
    "cross_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      graft.ops.TrainingDataOps.exactCrossDedup(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // PII redaction: email -> ssn -> phone rule order, all matches.
    "pii_redact" -> ((s, dir) => {
      graft.ops.TrainingDataOps.piiRedact(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        Seq(piiEmailRe -> "[EMAIL]", piiSsnRe -> "[SSN]",
          piiPhoneRe -> "[PHONE]"))
    }),

    // Content fingerprint (polynomial rolling hash of the full text).
    "text_fingerprint" -> ((s, dir) => {
      graft.ops.TrainingDataOps.fingerprint(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("fingerprint"))
    }),

    // Stopword-lexicon language-ID heuristic.
    "lang_id" -> ((s, dir) => {
      graft.ops.TrainingDataOps.langId(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("lang_guess"))
    }),

    // Embedding near-duplicates: sign-projection LSH buckets + exact
    // cosine ≥ 0.3 within bucket.
    "embedding_neardup" -> ((s, dir) => {
      graft.ops.TrainingDataOps.embeddingNearDup(
        t(s, dir, "embeddings"), "vec_id", 0.3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Embedding-space duplicate CLUSTERS: sign-bucket LSH pairs fed
    // through the same distributed connected components as the text path
    // — the canonical keep set for embedding-space dedup.
    "embedding_clusters" -> ((s, dir) => {
      val pairs = graft.ops.TrainingDataOps.embeddingNearDup(
        t(s, dir, "embeddings"), "vec_id", 0.3)
        .select(col("id_a"), col("id_b"))
      val labels = graft.ops.TrainingDataOps.connectedComponents(pairs)
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "label")
        .select(col("node").as("vec_id"), col("label").as("cluster_id"),
          col("cluster_size"), (col("node") === col("label")).as("keep"))
    }),

    // Multimodal frame sampling over a pseudo-binary payload derived from
    // document text (decode stage stubbed — no codecs in the sandbox; the
    // chunk/explode plumbing is the real operator).
    "mm_frame_sample" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("payload_hex"))
        .select(
          col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, 3), i -> substring(payload_hex, i * 16 + 1, 16))"))
            .as(Seq("frame_idx", "frame_hex")))
    }),

    // Multimodal feature stage over the same pseudo-frame payloads:
    // per-frame 8-value feature vector (stub projection of frame bytes —
    // see ops/Multimodal.scala's STUB NOTICE), exploded to scalars so the
    // driver's value-hash compare applies.
    "mm_feature_extract" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("ph"))
        .select(
          col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, 3), i -> substring(ph, i * 16 + 1, 16))"))
            .as(Seq("frame_idx", "frame_hex")))
        .select(
          col("doc_id"), col("frame_idx"),
          posexplode(expr(
            """transform(sequence(1, 8), i ->
              |  round((ascii(substring(frame_hex, i, 1)) - 52) / 20.0D, 5))""".stripMargin))
            .as(Seq("feat_pos", "feat")))
        .select(col("doc_id"), col("frame_idx"),
          (col("feat_pos") + 1).as("feat_idx"), col("feat"))
    }),

    // IVF-style ANN: centroid assignment (broadcast + argmax), probe the
    // query's 4 nearest of 16 cells, exact cosine only within probed
    // cells — the sub-linear scale path next to the brute-force baseline.
    "ann_ivf_topk" -> ((s, dir) => {
      // cells/probes PINNED (not the √n default): the oracle CTE unrolls
      // exactly 16 cells / 4 probes, so the values are part of the contract
      graft.ops.TrainingDataOps.ivfTopK(
        t(s, dir, "embeddings"), "vec_id", queryId = 0L, k = 10,
        nCentroids = Some(16), nProbe = Some(4))
    }),

    // IVF with a k-means-TRAINED coarse quantizer (2 Lloyd iterations on
    // integer-quantized vectors — bit-reproducible across engines), seeded
    // by a deterministic hash sample (first nCentroids in (md5(vid), vid)
    // order — robust to adversarial id orderings, same function in both
    // engines).
    "ann_ivf_kmeans_topk" -> ((s, dir) => {
      // pinned 16/4 like ann_ivf_topk — the oracle restates the k-means
      // loop over exactly these cells
      graft.ops.TrainingDataOps.ivfKMeansTopK(
        t(s, dir, "embeddings"), "vec_id", queryId = 0L, k = 10,
        nCentroids = Some(16), nProbe = Some(4))
    }),

    // Brute-force cosine top-k over the embedding column (the ANN baseline;
    // double-precision, index-ordered dot products on both sides).
    "ann_cosine_topk" -> ((s, dir) => {
      import graft.expressions.ArrayDotFunctions.arrayDot
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val q = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(
          col("vec_id"),
          round(
            arrayDot(col("e"), col("qe")) /
              (sqrt(arrayDot(col("e"), col("e"))) *
                sqrt(arrayDot(col("qe"), col("qe")))),
            6).as("cosine"))
        .orderBy(desc("cosine"), col("vec_id"))
        .limit(10)
    }))

  /** The e2e fixture: multi-turn transcripts derived from the `events`
    * table with arithmetic both engines express identically — conv =
    * user, turn order = (ts, event_id), deterministic role/text/tool
    * strings, planted PII on event_id % 50 = 0. Keeps `event_id` for the
    * caller's duplicate planting; callers drop it before streaming.
    */
  private def e2eTurnsFromEvents(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = events.select(
      concat(lit("conv-"), lpad(col("user_id").cast("string"), 6, "0")).as("conv_id"),
      (row_number().over(w) - 1).cast("int").as("turn_idx"),
      col("event_id"), col("event_type"), col("ts"))
    val role = when(col("turn_idx") === 0, "system")
      .when(pmod(col("turn_idx"), lit(2)) === 1, "user")
      .when(pmod(col("event_id"), lit(5L)) === 0, "tool")
      .otherwise("assistant")
    base.select(
      col("conv_id"),
      col("turn_idx"),
      role.as("role"),
      concat(
        lit("["), role, lit("] turn "), col("turn_idx").cast("string"),
        lit(" of "), col("conv_id"), lit(" type "), col("event_type"),
        when(pmod(col("event_id"), lit(50L)) === 0, lit(" ssn 123-45-6789"))
          .otherwise(lit(""))).as("text"),
      when(role === "tool", lit("search")).otherwise(lit("")).as("tool"),
      col("ts"),
      col("event_id"))
  }

  /** DuckDB restatement of TrainingDataOps' polynomial char hash. */
  private def duckPolyHash(t: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($t) + 1), i -> " +
      s"CAST(ascii(substring($t, i, 1)) AS BIGINT))), " +
      s"(acc, x) -> (acc * 31 + x) % 1000000007)"

  /** Token-hash list of a document's space-split tokens (DuckDB side). */
  private def duckTokenHashes: String =
    s"list_transform(string_split(text, ' '), t -> ${duckPolyHash("t")})"

  /** DuckDB twin of TrainingDataOps.samplingBucket's quadratic remix —
    * `h` must name a column holding the salted-id polyhash.
    */
  private def duckBucketExpr(h: String, buckets: Long = 1000L): String =
    s"(($h * $h) % 1000000007 * 31 + $h) % 1000000007 % $buckets"

  /** DuckDB n-gram hash fold over a token-hash list `hs` — the general-n
    * twin of the engine's ngramHashCol: ((…(hs[i]·31+hs[i+1]) mod P)·31+…).
    * range(1, len-(n-2)) is naturally EMPTY for len < n, mirroring the
    * engine's typed-empty when-guard.
    */
  private def duckGramExpr(n: Int): String = {
    val acc = (1 until n).foldLeft("hs[i]") { (a, k) =>
      s"($a * 31 + hs[i+$k]) % 1000000007" }
    s"list_transform(range(1, len(hs) - ${n - 2}), i -> $acc)"
  }

  /** Sign-bucket LSH candidate CTEs of the embeddings table (DuckDB
    * side): `e` (vector, norm, 8-bit sign bucket) → `small` (buckets
    * within the 64-row cap) → `kept`. Shared by `embedding_neardup` and
    * `embedding_clusters`.
    */
  private def duckEmbKeptCtes: String =
    """e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
      |    list_sum(list_transform(range(0, 8), j ->
      |      CASE WHEN embedding[j + 1] > 0 THEN 1 << j ELSE 0 END)) AS bucket
      |  FROM embeddings),
      |small AS (
      |  SELECT bucket FROM e GROUP BY bucket HAVING count(*) <= 64),
      |kept AS (SELECT e.* FROM e JOIN small USING (bucket))""".stripMargin

  /** DuckDB restatement of the language-ID dispatch as CTEs `lc` + `lang`
    * (carrying doc_id, text, lang_guess) — shared by the lang-grouped
    * oracle queries.
    */
  private def duckLangCtes: String = {
    val counts = graft.ops.TrainingDataOps.langLexicons.map { case (l, re) =>
      s"len(regexp_extract_all(lower(text), '$re')) AS c_$l"
    }.mkString(",\n   ")
    s"""lc AS (SELECT doc_id, text, $counts FROM documents),
       |lang AS (
       |  SELECT doc_id, text,
       |    CASE
       |      WHEN c_de > c_en AND c_de > c_fr AND c_de > c_es THEN 'de'
       |      WHEN c_fr > c_en AND c_fr > c_de AND c_fr > c_es THEN 'fr'
       |      WHEN c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es'
       |      ELSE 'en'
       |    END AS lang_guess
       |  FROM lc)""".stripMargin
  }

  /** The dedup_lsh_verified CTE chain up to verified pairs (id_a, id_b) —
    * shared verbatim by `dedup_lsh_verified` and `dedup_clusters` so the
    * clustering oracle clusters EXACTLY the pairs the pair oracle emits.
    */
  private def duckVerifiedPairCtes: String = {
    val sigs = graft.ops.TrainingDataOps.MinhashA
      .zip(graft.ops.TrainingDataOps.MinhashB).zipWithIndex.map {
        case ((a, b), j) =>
          s"list_min(list_transform(hs, h -> ($a * h + $b) % 1000000007)) AS sig_$j"
      }.mkString(",\n ")
    s"""hs AS (
       |  SELECT doc_id, $duckTokenHashes AS hs FROM documents),
       |sig AS (SELECT doc_id, $sigs FROM hs),
       |buckets AS (
       |  SELECT doc_id, b.band,
       |    CASE b.band
       |      WHEN 0 THEN CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR)
       |      WHEN 1 THEN CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR)
       |      WHEN 2 THEN CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR)
       |      ELSE CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR)
       |    END AS bucket
       |  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)),
       |small AS (
       |  SELECT band, bucket FROM buckets GROUP BY band, bucket
       |  HAVING count(*) <= 64),
       |kept AS (
       |  SELECT buckets.* FROM buckets JOIN small USING (band, bucket)),
       |cpairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM kept a JOIN kept b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |shg AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) >= 3 THEN
       |      list_distinct(list_transform(range(1, len(toks) - 1), i ->
       |        toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
       |    ELSE [] END AS sh
       |  FROM toks),
       |vpairs AS (
       |  SELECT p.id_a, p.id_b
       |  FROM cpairs p
       |  JOIN shg a ON a.doc_id = p.id_a
       |  JOIN shg b ON b.doc_id = p.id_b
       |  WHERE round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
       |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / len(list_distinct(list_concat(a.sh, b.sh))) END, 5) >= 0.5)""".stripMargin
  }

  /** Verified pairs extended to per-node cluster labels (CTE `lbl` with
    * node, cluster_id): transitive closure by recursive min-label walk —
    * exact on the fixture scale; the engine side runs alternating
    * large-star/small-star + bounded local union-find instead (same
    * fixpoint). Shared by `dedup_clusters` and `corpus_retain`.
    */
  private def duckClusterCtes: String =
    s"""$duckVerifiedPairCtes,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM vpairs
       |  UNION SELECT id_b, id_a FROM vpairs),
       |walk(node, reach) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach),
       |lbl AS (
       |  SELECT node, min(reach) AS cluster_id
       |  FROM walk GROUP BY node)""".stripMargin

  /** DuckDB-equivalent SQL per query; identical aliases and rounding. */
  def oracleSql: Map[String, String] = Map(
    "v_column_stats" ->
      s"""SELECT l_returnflag,
         | min(l_quantity) AS actual_min,
         | max(l_quantity) AS actual_max,
         | round(coalesce(avg(l_quantity), 0), 5) AS actual_mean,
         | round(coalesce(stddev_samp(l_quantity), 0), 5) AS actual_std,
         | count(*) AS n,
         | (min(l_quantity) >= $qtyMinBound) AS min_ok,
         | (max(l_quantity) <= $qtyMaxBound) AS max_ok,
         | (min(l_quantity) >= $qtyMinBound AND max(l_quantity) <= $qtyMaxBound) AS valid
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "v_validate_dataset" ->
      """SELECT count(*) AS record_count,
        | (min(l_quantity) >= -9.0 AND max(l_quantity) <= 69.0
        |  AND min(l_extendedprice) >= -18000.0 AND max(l_extendedprice) <= 138000.0) AS valid,
        | (min(l_quantity) >= -9.0 AND max(l_quantity) <= 69.0) AS quantity_valid,
        | min(l_quantity) AS quantity_min,
        | max(l_quantity) AS quantity_max,
        | round(coalesce(avg(l_quantity), 0), 5) AS quantity_mean,
        | round(coalesce(stddev_samp(l_quantity), 0), 5) AS quantity_std,
        | (min(l_extendedprice) >= -18000.0 AND max(l_extendedprice) <= 138000.0) AS price_valid,
        | min(l_extendedprice) AS price_min,
        | max(l_extendedprice) AS price_max,
        | round(coalesce(avg(l_extendedprice), 0), 5) AS price_mean,
        | round(coalesce(stddev_samp(l_extendedprice), 0), 5) AS price_std
        |FROM lineitem""".stripMargin,

    "v_corr" ->
      """SELECT
        | round(coalesce(corr(c_custkey, c_acctbal), 0), 6) AS corr_custkey_acctbal,
        | round(coalesce(corr(c_acctbal, 1.0), 0), 6) AS corr_const
        |FROM customer""".stripMargin,

    "v_corr_preserved" ->
      """WITH o AS (SELECT coalesce(corr(l_quantity, l_extendedprice), 0) AS oc FROM lineitem),
        | s AS (SELECT coalesce(corr(l_quantity, l_extendedprice), 0) AS sc
        |        FROM lineitem WHERE l_orderkey % 2 = 0)
        |SELECT round(oc, 6) AS original_correlation,
        |       round(sc, 6) AS synthetic_correlation,
        |       round(abs(oc - sc), 6) AS delta,
        |       (abs(oc - sc) <= 0.3) AS preserved
        |FROM o, s""".stripMargin,

    "w_embed_bits" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(((CAST(round(l_quantity) AS BIGINT) & -4)
        |   | ((l_suppkey % 2) << 1) | (l_orderkey % 2)) AS DOUBLE) AS wm_value
        |FROM lineitem""".stripMargin,

    "w_extract_bits" ->
      """SELECT l_orderkey, l_linenumber,
        | (CAST(round(l_quantity) AS BIGINT) & 1) AS b0,
        | ((CAST(round(l_quantity) AS BIGINT) >> 1) & 1) AS b1
        |FROM lineitem""".stripMargin,

    "w_roundtrip" -> wRoundtripOracle("WM01"),

    "stream_guardian_e2e" -> e2eOracle("WM01"),

    // the diversity monitor's merged bitmap vs a from-first-principles
    // restatement: rebuild the sunk rows' text from events (dup plants
    // collapse in dedup; grams are per-row so they could not change the
    // bitmap anyway), hash tokens, fold trigrams, count distinct mod-m
    // buckets, apply the same floor-banked linear-counting estimate.
    "stream_diversity_e2e" ->
      s"""WITH base AS (
         |  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
         |    event_id, event_type
         |  FROM events
         |), withrole AS (
         |  SELECT *, CASE WHEN turn_idx = 0 THEN 'system'
         |                 WHEN turn_idx % 2 = 1 THEN 'user'
         |                 WHEN event_id % 5 = 0 THEN 'tool'
         |                 ELSE 'assistant' END AS role
         |  FROM base
         |), txt AS (
         |  SELECT '[' || role || '] turn ' || CAST(turn_idx AS VARCHAR) || ' of ' ||
         |    conv_id || ' type ' || event_type ||
         |    CASE WHEN event_id % 50 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text
         |  FROM withrole
         |), h AS (SELECT $duckTokenHashes AS hs FROM txt),
         |g AS (SELECT unnest(${duckGramExpr(3)}) AS gram FROM h),
         |agg AS (SELECT CAST(count(DISTINCT gram % 4096) AS BIGINT) AS v_occ FROM g)
         |SELECT CAST(4096 AS INTEGER) AS m, v_occ,
         |  CASE WHEN v_occ >= 4096 THEN CAST(-1 AS BIGINT)
         |    ELSE CAST(floor(-4096.0 *
         |      ln(CAST(4096 - v_occ AS DOUBLE) / 4096.0)) AS BIGINT)
         |  END AS est_linear
         |FROM agg""".stripMargin,

    // the standing CMS restated: per-occurrence token hashes of the sunk
    // rows' non-empty tokens (MG-parity tokenization), d=4 additive
    // bucket counts at w=1024, probes answered by min over rows (LEFT
    // JOIN: an absent probe's bucket may hold no counter row -> 0).
    "stream_cms_e2e" -> {
      val a = graft.ops.TrainingDataOps.CmsA.mkString("[", ",", "]")
      val b = graft.ops.TrainingDataOps.CmsB.mkString("[", ",", "]")
      def bucketed(h: String) =
        s"(($a[j+1] * $h + $b[j+1]) % 1000000007) % 1024"
      s"""WITH base AS (
         |  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
         |    event_id, event_type
         |  FROM events
         |), withrole AS (
         |  SELECT *, CASE WHEN turn_idx = 0 THEN 'system'
         |                 WHEN turn_idx % 2 = 1 THEN 'user'
         |                 WHEN event_id % 5 = 0 THEN 'tool'
         |                 ELSE 'assistant' END AS role
         |  FROM base
         |), txt AS (
         |  SELECT '[' || role || '] turn ' || CAST(turn_idx AS VARCHAR) || ' of ' ||
         |    conv_id || ' type ' || event_type ||
         |    CASE WHEN event_id % 50 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text
         |  FROM withrole
         |), tok AS (
         |  SELECT t FROM (SELECT unnest(string_split(text, ' ')) AS t FROM txt)
         |  WHERE t <> ''
         |), th AS (SELECT ${duckPolyHash("t")} AS h FROM tok),
         |rj AS (SELECT h, j, ${bucketed("h")} AS bucket
         |       FROM th, range(0, 4) AS r(j)),
         |counters AS (SELECT j, bucket, count(*) AS c FROM rj GROUP BY j, bucket),
         |probes(token) AS (VALUES ('turn'), ('of'), ('type'), ('[user]'),
         |                         ('ssn'), ('zz-absent-token')),
         |ph AS (SELECT token, ${duckPolyHash("token")} AS h FROM probes),
         |pj AS (SELECT token, j, ${bucketed("h")} AS bucket
         |       FROM ph, range(0, 4) AS r(j))
         |SELECT p.token AS token,
         |  CAST(min(COALESCE(co.c, 0)) AS BIGINT) AS cms_upper
         |FROM pj p LEFT JOIN counters co ON co.j = p.j AND co.bucket = p.bucket
         |GROUP BY p.token""".stripMargin
    },

    "quality_windows" -> {
      val pii = s"(?:${graft.stream.Windows.piiEmailRe})|(?:${graft.stream.Windows.piiSsnRe})"
      s"""WITH base AS (
         |  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
         |    event_id, event_type, ts
         |  FROM events
         |), withrole AS (
         |  SELECT *, CASE WHEN turn_idx = 0 THEN 'system'
         |                 WHEN turn_idx % 2 = 1 THEN 'user'
         |                 WHEN event_id % 5 = 0 THEN 'tool'
         |                 ELSE 'assistant' END AS role
         |  FROM base
         |), turns AS (
         |  SELECT ts,
         |    '[' || role || '] turn ' || CAST(turn_idx AS VARCHAR) || ' of ' ||
         |      conv_id || ' type ' || event_type ||
         |      CASE WHEN event_id % 50 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text
         |  FROM withrole
         |), f AS (
         |  SELECT ts, length(text) AS text_len,
         |    regexp_matches(text, '$pii') AS has_pii
         |  FROM turns
         |)
         |SELECT time_bucket(INTERVAL '6 hours', ts) AS wstart,
         |  count(*) AS n_turns,
         |  min(text_len) AS len_min,
         |  max(text_len) AS len_max,
         |  round(coalesce(avg(text_len), 0), 5) AS len_mean,
         |  round(coalesce(stddev_samp(text_len), 0), 5) AS len_std,
         |  count(*) FILTER (WHERE has_pii) AS n_pii
         |FROM f GROUP BY 1""".stripMargin
    },

    "quality_sessions" -> {
      val pii = s"(?:${graft.stream.Windows.piiEmailRe})|(?:${graft.stream.Windows.piiSsnRe})"
      s"""WITH base AS (
         |  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
         |    event_id, event_type, ts
         |  FROM events
         |), withrole AS (
         |  SELECT *, CASE WHEN turn_idx = 0 THEN 'system'
         |                 WHEN turn_idx % 2 = 1 THEN 'user'
         |                 WHEN event_id % 5 = 0 THEN 'tool'
         |                 ELSE 'assistant' END AS role
         |  FROM base
         |), turns AS (
         |  SELECT conv_id, ts,
         |    '[' || role || '] turn ' || CAST(turn_idx AS VARCHAR) || ' of ' ||
         |      conv_id || ' type ' || event_type ||
         |      CASE WHEN event_id % 50 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text
         |  FROM withrole
         |), f AS (
         |  SELECT conv_id, ts, length(text) AS text_len,
         |    regexp_matches(text, '$pii') AS has_pii
         |  FROM turns
         |), d AS (
         |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
         |                   OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
         |                 THEN 1 ELSE 0 END AS new_session
         |  FROM f WINDOW w AS (PARTITION BY conv_id ORDER BY ts)
         |), sess AS (
         |  SELECT *, sum(new_session) OVER (PARTITION BY conv_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM d
         |)
         |SELECT conv_id,
         |  min(ts) AS session_start,
         |  max(ts) + INTERVAL '30 minutes' AS session_end,
         |  count(*) AS n_turns,
         |  round(coalesce(avg(text_len), 0), 5) AS len_mean,
         |  count(*) FILTER (WHERE has_pii) AS n_pii
         |FROM sess GROUP BY conv_id, sid""".stripMargin
    },

    "schema_validate" ->
      """WITH actual AS (
        |  SELECT column_name AS field, lower(data_type) AS dt
        |  FROM information_schema.columns WHERE table_name = 'documents'),
        |expected(field, dt) AS (VALUES
        |  ('doc_id', 'bigint'), ('text', 'varchar'), ('lang', 'integer'),
        |  ('n_chars', 'bigint'), ('embedding', 'float[]'))
        |SELECT e.field,
        |  CASE WHEN a.field IS NULL THEN 'missing'
        |       WHEN a.dt = e.dt THEN 'ok'
        |       ELSE 'type_mismatch' END AS status
        |FROM expected e LEFT JOIN actual a USING (field)
        |UNION ALL
        |SELECT a.field, 'unexpected' AS status
        |FROM actual a LEFT JOIN expected e USING (field)
        |WHERE e.field IS NULL""".stripMargin,

    "provenance_match" -> provenanceOracle,

    "audit_conv_trace" ->
      """WITH base AS (
        |  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
        |    event_id, event_type, ts
        |  FROM events
        |), withrole AS (
        |  SELECT *, CASE WHEN turn_idx = 0 THEN 'system'
        |                 WHEN turn_idx % 2 = 1 THEN 'user'
        |                 WHEN event_id % 5 = 0 THEN 'tool'
        |                 ELSE 'assistant' END AS role
        |  FROM base
        |)
        |SELECT conv_id, turn_idx, role,
        |  '[' || role || '] turn ' || CAST(turn_idx AS VARCHAR) || ' of ' ||
        |    conv_id || ' type ' || event_type ||
        |    CASE WHEN event_id % 50 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text,
        |  CASE WHEN role = 'tool' THEN 'search' ELSE '' END AS tool,
        |  ts
        |FROM withrole WHERE conv_id = 'conv-000007'""".stripMargin,

    // the standing form must converge to exactly the batch join — one
    // oracle serves both (round-3 verdict item 4)
    "stream_provenance_e2e" -> provenanceOracle,

    "token_count_bpe" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+')) AS n_word_tokens,
        | len(regexp_extract_all(text, '[0-9]+')) AS n_number_tokens,
        | round(length(regexp_replace(text, '\s', '', 'g')) * 1.0 /
        |   greatest(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 1), 5)
        |   AS chars_per_token
        |FROM documents""".stripMargin,

    "s_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
        | count(*) AS n_events, round(sum(value), 5) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "s_sliding_window" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes' AS wstart,
        | count(*) AS n_events, round(sum(value), 5) AS sum_value
        |FROM events, (VALUES (0), (1), (2), (3)) AS k(k)
        |GROUP BY 1""".stripMargin,

    "drift_detect" ->
      """WITH agg AS (
        |  SELECT time_bucket(INTERVAL '1 day', ts) AS wstart,
        |    count(*) AS n,
        |    coalesce(avg(value), 0) AS mean,
        |    coalesce(stddev_samp(value), 0) AS std
        |  FROM events GROUP BY 1
        |), lagged AS (
        |  SELECT wstart, n, mean, std,
        |    lag(n) OVER (ORDER BY wstart) AS prev_n,
        |    lag(mean) OVER (ORDER BY wstart) AS prev_mean,
        |    lag(std) OVER (ORDER BY wstart) AS prev_std
        |  FROM agg
        |)
        |SELECT wstart, n, round(mean, 5) AS mean, round(std, 5) AS std,
        |  CASE WHEN prev_n IS NULL THEN NULL
        |       ELSE round(abs(mean - prev_mean) /
        |         sqrt(std * std / n + prev_std * prev_std / prev_n + 1e-12), 5)
        |  END AS z,
        |  coalesce(
        |    CASE WHEN prev_n IS NULL THEN NULL
        |         ELSE round(abs(mean - prev_mean) /
        |           sqrt(std * std / n + prev_std * prev_std / prev_n + 1e-12), 5) > 3.0
        |    END, false) AS drifted
        |FROM lagged""".stripMargin,

    "s_session_window" ->
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d
        |)
        |SELECT user_id,
        |  min(ts) AS session_start,
        |  max(ts) + INTERVAL '30 minutes' AS session_end,
        |  count(*) AS n_events,
        |  round(sum(value), 5) AS sum_value
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "pii_scan" ->
      s"""SELECT doc_id,
         | regexp_matches(text, '$piiEmailRe') AS has_email,
         | regexp_matches(text, '$piiSsnRe') AS has_ssn,
         | regexp_matches(text, '$piiPhoneRe') AS has_phone
         |FROM documents""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id,
         | length(text) AS n_chars_calc,
         | len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         | len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
         | len(regexp_extract_all(lower(text), '$stopwordRe')) AS n_stopwords,
         | round(length(regexp_replace(text, '\\s', '', 'g')) /
         |   greatest(len(string_split_regex(trim(text), '\\s+')), 1), 5) AS avg_token_len
         |FROM documents""".stripMargin,

    "minhash_signatures" -> {
      val sigs = graft.ops.TrainingDataOps.MinhashA
        .zip(graft.ops.TrainingDataOps.MinhashB).zipWithIndex.map {
          case ((a, b), j) =>
            s"list_min(list_transform(hs, h -> ($a * h + $b) % 1000000007)) AS sig_$j"
        }.mkString(",\n ")
      s"""WITH hs AS (
         |  SELECT doc_id, $duckTokenHashes AS hs FROM documents)
         |SELECT doc_id,
         | $sigs
         |FROM hs""".stripMargin
    },

    "dedup_minhash_lsh" -> {
      val sigs = graft.ops.TrainingDataOps.MinhashA
        .zip(graft.ops.TrainingDataOps.MinhashB).zipWithIndex.map {
          case ((a, b), j) =>
            s"list_min(list_transform(hs, h -> ($a * h + $b) % 1000000007)) AS sig_$j"
        }.mkString(",\n ")
      s"""WITH hs AS (
         |  SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |sig AS (SELECT doc_id, $sigs FROM hs),
         |buckets AS (
         |  SELECT doc_id, b.band,
         |    CASE b.band
         |      WHEN 0 THEN CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR)
         |      WHEN 1 THEN CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR)
         |      WHEN 2 THEN CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR)
         |      ELSE CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR)
         |    END AS bucket
         |  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)),
         |small AS (
         |  SELECT band, bucket FROM buckets GROUP BY band, bucket
         |  HAVING count(*) <= 64),
         |kept AS (
         |  SELECT buckets.* FROM buckets JOIN small USING (band, bucket))
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM kept a JOIN kept b
         |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin
    },

    "dedup_simhash" ->
      s"""WITH hs AS (
         |  SELECT doc_id, $duckTokenHashes AS hs FROM documents)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 16), b ->
         |    CASE WHEN list_sum(list_transform(hs, h ->
         |           CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |         THEN 1 << b ELSE 0 END)) AS BIGINT) AS simhash
         |FROM hs""".stripMargin,

    "dedup_lsh_verified" -> {
      val sigs = graft.ops.TrainingDataOps.MinhashA
        .zip(graft.ops.TrainingDataOps.MinhashB).zipWithIndex.map {
          case ((a, b), j) =>
            s"list_min(list_transform(hs, h -> ($a * h + $b) % 1000000007)) AS sig_$j"
        }.mkString(",\n ")
      s"""WITH hs AS (
         |  SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |sig AS (SELECT doc_id, $sigs FROM hs),
         |buckets AS (
         |  SELECT doc_id, b.band,
         |    CASE b.band
         |      WHEN 0 THEN CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR)
         |      WHEN 1 THEN CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR)
         |      WHEN 2 THEN CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR)
         |      ELSE CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR)
         |    END AS bucket
         |  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)),
         |small AS (
         |  SELECT band, bucket FROM buckets GROUP BY band, bucket
         |  HAVING count(*) <= 64),
         |kept AS (
         |  SELECT buckets.* FROM buckets JOIN small USING (band, bucket)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM kept a JOIN kept b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 3 THEN
         |      list_distinct(list_transform(range(1, len(toks) - 1), i ->
         |        toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
         |    ELSE [] END AS sh
         |  FROM toks),
         |j AS (
         |  SELECT p.id_a, p.id_b,
         |    round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
         |      ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |           / len(list_distinct(list_concat(a.sh, b.sh))) END, 5) AS jaccard
         |  FROM pairs p
         |  JOIN sh a ON a.doc_id = p.id_a
         |  JOIN sh b ON b.doc_id = p.id_b)
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin
    },

    // Clusters of the SAME verified pairs the dedup_lsh_verified oracle
    // emits: transitive closure by recursive min-label walk (exact on the
    // fixture scale; the engine side runs large-star/small-star instead —
    // same fixpoint, O(log n) rounds).
    "dedup_clusters" ->
      s"""WITH RECURSIVE $duckClusterCtes,
         |siz AS (
         |  SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id)
         |SELECT l.node AS doc_id, l.cluster_id, s.cluster_size,
         |  l.node = l.cluster_id AS keep
         |FROM lbl l JOIN siz s USING (cluster_id)""".stripMargin,

    "sample_stratified" ->
      s"""WITH k AS (
         |  SELECT doc_id, lang, 'smp' || CAST(doc_id AS VARCHAR) AS sk
         |  FROM documents),
         |h0 AS (SELECT doc_id, lang, ${duckPolyHash("sk")} AS h FROM k),
         |b AS (SELECT doc_id, lang, ${duckBucketExpr("h")} AS bucket FROM h0)
         |SELECT doc_id, lang, bucket FROM b
         |WHERE bucket < CASE lang WHEN 'en' THEN 200 WHEN 'zh' THEN 300
         |  ELSE 600 END""".stripMargin,

    // The weight formula is computed INLINE from the feature index (the
    // engine broadcasts the same values as an array literal): identical
    // integer arithmetic -> identical doubles -> identical token-order
    // fold, so the unrounded keep comparison agrees exactly.
    "quality_classifier" ->
      s"""WITH th AS (
         |  SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |sc AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(hs, h ->
         |      (((h % 64) * 2654435761 + 123) % 1997) / 1997.0 - 0.5)) AS s,
         |    len(hs) AS n
         |  FROM th)
         |SELECT doc_id, round(s / n, 6) AS logit, s / n >= 0 AS keep
         |FROM sc""".stripMargin,

    // The flat windowed-prefix restatement of the engine's histogram +
    // threshold-bin plan: cum is monotone (n_tokens >= 1), so WHERE
    // cum <= budget IS the maximal prefix before the first crossing.
    "budget_select" ->
      """WITH dt AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(list_distinct(toks)) AS BIGINT) AS score,
        |    CAST(len(toks) AS BIGINT) AS n_tokens
        |  FROM dt WHERE len(toks) > 0),
        |o AS (SELECT *, sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM base)
        |SELECT doc_id, score, n_tokens FROM o WHERE cum <= 12000""".stripMargin,

    // ppm rates restated in-SQL: greatest(1, (1000000*mn) // cnt) is the
    // same positive floor division + floor-of-1 as the engine's long
    // arithmetic; the USING join drops NULL langs like the engine's
    // isNotNull filter.
    "sample_rebalance" ->
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |m AS (SELECT min(cnt) AS mn FROM c),
         |r AS (SELECT lang, greatest(1, (1000000 * mn) // cnt) AS rate FROM c, m),
         |k AS (
         |  SELECT doc_id, lang, 'rbl' || CAST(doc_id AS VARCHAR) AS sk
         |  FROM documents),
         |h0 AS (SELECT doc_id, lang, ${duckPolyHash("sk")} AS h FROM k),
         |b AS (SELECT doc_id, lang,
         |        ${duckBucketExpr("h", 1000000L)} AS bucket FROM h0)
         |SELECT b.doc_id, b.lang, b.bucket FROM b
         |JOIN r USING (lang) WHERE b.bucket < r.rate""".stripMargin,

    "source_cap" ->
      """WITH rk AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM rk
        |WHERE rn <= 22""".stripMargin,

    "corpus_retain" ->
      s"""WITH RECURSIVE $duckClusterCtes,
         |dup AS (
         |  SELECT node AS doc_id, node = cluster_id AS dup_keep FROM lbl),
         |staged AS (
         |  SELECT d.doc_id, d.lang, d.source,
         |    coalesce(p.dup_keep, TRUE) AS dup_ok,
         |    d.lang IN ('en', 'de', 'fr', 'es') AS lang_ok,
         |    len(string_split_regex(trim(d.text), '\\s+')) BETWEEN 15 AND 90
         |      AS quality_ok
         |  FROM documents d LEFT JOIN dup p USING (doc_id)),
         |cum AS (
         |  SELECT *, sum(CASE WHEN dup_ok AND lang_ok AND quality_ok
         |      THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |  FROM staged)
         |SELECT doc_id, lang, source, dup_ok, lang_ok, quality_ok,
         |  (dup_ok AND lang_ok AND quality_ok AND cum <= 18) AS retain,
         |  CASE WHEN NOT dup_ok THEN 'dup'
         |    WHEN NOT lang_ok THEN 'lang'
         |    WHEN NOT quality_ok THEN 'quality'
         |    WHEN cum > 18 THEN 'source_cap'
         |    ELSE 'retained' END AS reason
         |FROM cum""".stripMargin,

    // The MG candidate pass is a pure pruning device (every true heavy
    // hitter provably survives it); the exact-count + threshold filter
    // makes the result identical to the plain GROUP BY restatement.
    // ceil(0.005 * n) is the same double->ceil on both engines.
    "heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tk AS (SELECT token FROM toks WHERE token <> ''),
        |tot AS (SELECT count(*) AS n FROM tk)
        |SELECT token, count(*) AS cnt
        |FROM tk, tot
        |GROUP BY token, tot.n
        |HAVING count(*) >= CAST(ceil(0.005 * n) AS BIGINT)""".stripMargin,

    // trigram fold restated: ((h1*31+h2) % P * 31 + h3) % P over the
    // token-hash list; range(1, len-1) is EMPTY for len < 3, mirroring
    // the engine's typed-empty guard.
    "text_repetition" ->
      s"""WITH th AS (
         |  SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |g AS (
         |  SELECT doc_id, ${duckGramExpr(3)} AS grams
         |  FROM th)
         |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_ngrams,
         |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
         |  CASE WHEN len(grams) > 0
         |    THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
         |    ELSE 0.0 END AS rep_ratio
         |FROM g""".stripMargin,

    "contamination_check" ->
      s"""WITH th AS (
         |  SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |g AS (
         |  SELECT doc_id, list_distinct(${duckGramExpr(3)}) AS grams
         |  FROM th),
         |eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
         |tg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0),
         |ov AS (SELECT tg.doc_id, count(*) AS n_overlap FROM tg
         |       JOIN eg USING (gram) GROUP BY tg.doc_id)
         |SELECT d.doc_id, CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  coalesce(o.n_overlap, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN ov o USING (doc_id)
         |WHERE d.doc_id % 97 <> 0""".stripMargin,

    // Inverted-index restatement: gd = grams seen in >= 2 distinct docs;
    // n_shared counts gram POSITIONS (the explode keeps multiplicity).
    "dedup_substring" ->
      s"""WITH th AS (
         |  SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |g AS (SELECT doc_id, ${duckGramExpr(5)} AS grams FROM th),
         |pos AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         |gd AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM pos)
         |       GROUP BY gram HAVING count(*) >= 2),
         |sh AS (SELECT pos.doc_id, count(*) AS n_shared FROM pos
         |       JOIN gd USING (gram) GROUP BY pos.doc_id)
         |SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
         |  CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
         |  round(CASE WHEN len(grams) > 0
         |    THEN CAST(coalesce(s.n_shared, 0) AS DOUBLE) / len(grams)
         |    ELSE 0.0 END, 5) AS dup_frac
         |FROM g LEFT JOIN sh s USING (doc_id)""".stripMargin,

    // The per-doc mean is a list_sum over list(nlp ORDER BY ord) — a
    // sequential fold in TOKEN ORDER, the same floating-point summation
    // order as the engine's aggregate() fold (a join-reordered SUM could
    // differ in the last ulp and flip a round-5 boundary).
    "quality_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |cnt AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cnt),
        |vocab AS (SELECT token, cnt FROM cnt ORDER BY cnt DESC, token LIMIT 20),
        |dt AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |       FROM documents),
        |pos AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS ord, toks
        |        FROM dt WHERE len(toks) > 0),
        |px AS (SELECT doc_id, ord, toks[ord] AS token FROM pos),
        |sc AS (SELECT px.doc_id, px.ord,
        |         -ln(CAST(coalesce(v.cnt, 1) AS DOUBLE) / tot.n) AS nlp
        |       FROM px LEFT JOIN vocab v USING (token), tot),
        |agg AS (SELECT doc_id, list_sum(list(nlp ORDER BY ord)) AS s,
        |          count(*) AS c FROM sc GROUP BY doc_id)
        |SELECT doc_id, CAST(c AS BIGINT) AS n_tokens, round(s / c, 5) AS avg_neg_logp
        |FROM agg""".stripMargin,

    // n_chunks = 1 + ceil(max(0, len-30)/22); DuckDB list slice [a:b] is
    // 1-based INCLUSIVE and end-clamped, mirroring slice(toks, a, 30).
    "chunk_documents" ->
      """WITH dt AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |nz AS (SELECT doc_id, toks,
        |         1 + (greatest(len(toks) - 30, 0) + 21) // 22 AS n_chunks
        |       FROM dt WHERE len(toks) > 0),
        |ch AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_idx FROM nz)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(toks[chunk_idx*22+1 : chunk_idx*22+30]) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[chunk_idx*22+1 : chunk_idx*22+30], ' ') AS chunk_text
        |FROM ch""".stripMargin,

    "pii_redact" ->
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$piiEmailRe', '[EMAIL]', 'g'),
         |    '$piiSsnRe', '[SSN]', 'g'),
         |    '$piiPhoneRe', '[PHONE]', 'g') AS redacted
         |FROM documents""".stripMargin,

    // winnowing: 3-gram hashes, window-of-4 minima, distinct sorted set.
    // range(1, len-2) is naturally empty for < 4 grams (< 6 tokens),
    // mirroring the engine's typed-empty when-guard; gs[i:i+3] is the
    // 1-based INCLUSIVE DuckDB slice = Spark slice(gs, i+1, 4).
    "winnow_fingerprint" ->
      s"""WITH h AS (SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |g AS (SELECT doc_id, ${duckGramExpr(3)} AS gs FROM h),
         |f AS (SELECT doc_id, list_sort(list_distinct(
         |        list_transform(range(1, len(gs) - 2), i ->
         |          list_min(gs[i:i+3])))) AS fps
         |      FROM g)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
         |  COALESCE(fps[1], CAST(-1 AS BIGINT)) AS fp_min,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
         |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_digest
         |FROM f""".stripMargin,

    // cross-corpus near-dedup: ref = even doc_ids, new = odd; band
    // buckets per side (ref side capped at 64 like the intra-corpus
    // LSH), verified at trigram Jaccard >= 0.8.
    "cross_dedup_verified" -> {
      val sigs = graft.ops.TrainingDataOps.MinhashA
        .zip(graft.ops.TrainingDataOps.MinhashB).zipWithIndex.map {
          case ((a, b), j) =>
            s"list_min(list_transform(hs, h -> ($a * h + $b) % 1000000007)) AS sig_$j"
        }.mkString(",\n ")
      s"""WITH hs AS (
         |  SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |sig AS (SELECT doc_id, $sigs FROM hs),
         |buckets AS (
         |  SELECT doc_id, b.band,
         |    CASE b.band
         |      WHEN 0 THEN CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR)
         |      WHEN 1 THEN CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR)
         |      WHEN 2 THEN CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR)
         |      ELSE CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR)
         |    END AS bucket
         |  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)),
         |refb AS (
         |  SELECT band, bucket FROM buckets WHERE doc_id % 2 = 0
         |  GROUP BY band, bucket HAVING count(*) <= 64),
         |pairs AS (
         |  SELECT DISTINCT n.doc_id AS id_a, r.doc_id AS id_b
         |  FROM buckets n
         |  JOIN buckets r ON n.band = r.band AND n.bucket = r.bucket
         |  JOIN refb ON refb.band = n.band AND refb.bucket = n.bucket
         |  WHERE n.doc_id % 2 = 1 AND r.doc_id % 2 = 0),
         |toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 3 THEN
         |      list_distinct(list_transform(range(1, len(toks) - 1), i ->
         |        toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
         |    ELSE [] END AS sh
         |  FROM toks),
         |j AS (
         |  SELECT p.id_a, p.id_b,
         |    round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
         |      ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |           / len(list_distinct(list_concat(a.sh, b.sh))) END, 5) AS jaccard
         |  FROM pairs p
         |  JOIN sh a ON a.doc_id = p.id_a
         |  JOIN sh b ON b.doc_id = p.id_b)
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8""".stripMargin
    },

    // sequence packing: per-bucket running token sum -> 256-token block
    // span + offset; SUM() OVER in DuckDB widens to HUGEINT, hence the
    // BIGINT casts on every derived output.
    "pack_blocks" -> {
      val h = duckPolyHash("'pack' || CAST(doc_id AS VARCHAR)")
      s"""WITH t AS (
         |  SELECT doc_id, ${duckBucketExpr(s"($h)", 32L)} AS bucket,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, bucket, n_tok,
         |    COALESCE(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM t)
         |SELECT doc_id, bucket, n_tok,
         |  CAST(cum_before // 256 AS BIGINT) AS block_first,
         |  CAST((cum_before + n_tok - 1) // 256 AS BIGINT) AS block_last,
         |  CAST(cum_before % 256 AS BIGINT) AS block_offset
         |FROM c""".stripMargin
    },

    // content-defined chunks: boundary AFTER 1-based token i when the
    // 3-gram ending at i hashes to 0 mod 16; bs = [0] ++ bounds ++ [len];
    // hs[a+1 : b] is DuckDB's 1-based inclusive slice of 0-based tokens
    // a..b-1, twin of Spark slice(hs, bs[cidx]+1, bs[cidx+1]-bs[cidx]).
    "cdc_chunks" ->
      s"""WITH h AS (SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |b AS (SELECT doc_id, hs,
         |        list_concat(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(list_filter(range(3, len(hs)), i ->
         |            (((hs[i-2] * 31 + hs[i-1]) % 1000000007 * 31 + hs[i])
         |              % 1000000007) % 16 = 0),
         |            x -> CAST(x AS BIGINT))),
         |          [CAST(len(hs) AS BIGINT)]) AS bs
         |      FROM h),
         |c AS (SELECT doc_id, unnest(range(0, len(bs) - 1)) AS cidx, hs, bs FROM b)
         |SELECT doc_id, CAST(cidx AS BIGINT) AS chunk_idx,
         |  CAST(bs[cidx + 1] AS BIGINT) AS start_tok,
         |  CAST(bs[cidx + 2] - bs[cidx + 1] AS BIGINT) AS n_tokens,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    hs[bs[cidx + 1] + 1 : bs[cidx + 2]]),
         |    (acc, x) -> (acc * 31 + x) % 1000000007) AS chunk_hash
         |FROM c""".stripMargin,

    "cdc_shared_chunks" ->
      s"""WITH h AS (SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |b AS (SELECT doc_id, hs,
         |        list_concat(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(list_filter(range(3, len(hs)), i ->
         |            (((hs[i-2] * 31 + hs[i-1]) % 1000000007 * 31 + hs[i])
         |              % 1000000007) % 16 = 0),
         |            x -> CAST(x AS BIGINT))),
         |          [CAST(len(hs) AS BIGINT)]) AS bs
         |      FROM h),
         |c AS (SELECT doc_id, unnest(range(0, len(bs) - 1)) AS cidx, hs, bs FROM b),
         |ch AS (SELECT doc_id,
         |         CAST(bs[cidx + 2] - bs[cidx + 1] AS BIGINT) AS n_tokens,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           hs[bs[cidx + 1] + 1 : bs[cidx + 2]]),
         |           (acc, x) -> (acc * 31 + x) % 1000000007) AS chunk_hash
         |       FROM c)
         |SELECT chunk_hash, count(*) AS n_occ,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(n_tokens) AS n_tokens
         |FROM ch WHERE n_tokens >= 3
         |GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

    // temperature mixing: normalizer folded in stratum order (explicit
    // left fold — DuckDB's list_sum may pairwise-sum); sqrt is the one
    // power IEEE guarantees correctly rounded, so both engines agree.
    "lang_mix_weights" ->
      """WITH s AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang)),
        |          (a, x) -> a + x) AS z FROM s)
        |SELECT lang, n_docs,
        |  round(sqrt(CAST(n_docs AS DOUBLE)) / z, 9) AS mix_weight,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / z * 1000000) AS BIGINT) AS rate_ppm
        |FROM s, tot""".stripMargin,

    // minhash estimate vs exact: the dedup_lsh_verified CTE chain plus a
    // per-pair signature-agreement join; est = agreeing sigs / 8.
    "minhash_jaccard_est" -> {
      val sigs = graft.ops.TrainingDataOps.MinhashA
        .zip(graft.ops.TrainingDataOps.MinhashB).zipWithIndex.map {
          case ((a, b), j) =>
            s"list_min(list_transform(hs, h -> ($a * h + $b) % 1000000007)) AS sig_$j"
        }.mkString(",\n ")
      val agree = (0 until 8).map(j =>
        s"CASE WHEN sa.sig_$j = sb.sig_$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH hs AS (
         |  SELECT doc_id, $duckTokenHashes AS hs FROM documents),
         |sig AS (SELECT doc_id, $sigs FROM hs),
         |buckets AS (
         |  SELECT doc_id, b.band,
         |    CASE b.band
         |      WHEN 0 THEN CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR)
         |      WHEN 1 THEN CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR)
         |      WHEN 2 THEN CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR)
         |      ELSE CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR)
         |    END AS bucket
         |  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)),
         |small AS (
         |  SELECT band, bucket FROM buckets GROUP BY band, bucket
         |  HAVING count(*) <= 64),
         |kept AS (
         |  SELECT buckets.* FROM buckets JOIN small USING (band, bucket)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM kept a JOIN kept b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |est AS (
         |  SELECT p.id_a, p.id_b, ($agree) / 8.0 AS jac_est
         |  FROM pairs p
         |  JOIN sig sa ON sa.doc_id = p.id_a
         |  JOIN sig sb ON sb.doc_id = p.id_b),
         |toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 3 THEN
         |      list_distinct(list_transform(range(1, len(toks) - 1), i ->
         |        toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
         |    ELSE [] END AS sh
         |  FROM toks)
         |SELECT e.id_a, e.id_b, e.jac_est,
         |  round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
         |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |         / len(list_distinct(list_concat(a.sh, b.sh))) END, 5) AS jaccard,
         |  round(abs(e.jac_est -
         |    round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
         |      ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |           / len(list_distinct(list_concat(a.sh, b.sh))) END, 5)), 5) AS abs_err
         |FROM est e
         |JOIN sh a ON a.doc_id = e.id_a
         |JOIN sh b ON b.doc_id = e.id_b""".stripMargin
    },

    // linear-counting audit: exact distinct trigram hashes per lang vs
    // the -m ln(empty/m) estimate from a 16384-slot bitmap.
    "gram_cardinality" ->
      s"""WITH h AS (SELECT lang, $duckTokenHashes AS hs FROM documents),
         |g AS (SELECT lang, unnest(${duckGramExpr(3)}) AS gram FROM h),
         |agg AS (
         |  SELECT lang, count(*) AS n_grams,
         |    CAST(count(DISTINCT gram) AS BIGINT) AS v_exact,
         |    CAST(count(DISTINCT gram % 16384) AS BIGINT) AS v_occ
         |  FROM g GROUP BY lang)
         |SELECT lang, n_grams, v_exact, v_occ,
         |  CASE WHEN v_occ >= 16384 THEN CAST(-1 AS BIGINT)
         |    ELSE CAST(floor(-16384.0 *
         |      ln(CAST(16384 - v_occ AS DOUBLE) / 16384.0)) AS BIGINT)
         |  END AS est_linear
         |FROM agg""".stripMargin,

    // count-min sketch restated: d=4 bucket rows per gram, additive
    // counters summed from the exact gram-count table (identical totals
    // to folding the raw stream), min over rows per probed gram.
    "cms_frequency_audit" -> {
      val a = graft.ops.TrainingDataOps.CmsA.mkString("[", ",", "]")
      val b = graft.ops.TrainingDataOps.CmsB.mkString("[", ",", "]")
      s"""WITH h AS (SELECT $duckTokenHashes AS hs FROM documents),
         |g AS (SELECT unnest(${duckGramExpr(3)}) AS gram FROM h),
         |cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
         |rj AS (
         |  SELECT gram, c, j,
         |    (($a[j+1] * gram + $b[j+1]) % 1000000007) % 8192 AS bucket
         |  FROM cnt, range(0, 4) AS t(j)),
         |counters AS (SELECT j, bucket, sum(c) AS bc FROM rj GROUP BY j, bucket),
         |top AS (SELECT gram, c FROM cnt ORDER BY c DESC, gram LIMIT 20)
         |SELECT t.gram AS gram, t.c AS c_exact,
         |  CAST(min(co.bc) AS BIGINT) AS c_est,
         |  CAST(min(co.bc) - t.c AS BIGINT) AS over_err
         |FROM top t
         |JOIN rj r ON r.gram = t.gram
         |JOIN counters co ON co.j = r.j AND co.bucket = r.bucket
         |GROUP BY t.gram, t.c""".stripMargin
    },

    // embedding outliers: integer micro-unit quantization makes the
    // centroid exact; the squared-numerator fold runs in dim order (each
    // term < 2^53 so exact in a double) — bit-identical across engines.
    "embedding_outliers" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |sums AS (
        |  SELECT label, d, sum(q[d]) AS s, count(*) AS n
        |  FROM q, range(1, 65) AS t(d)
        |  GROUP BY label, d),
        |cent AS (
        |  SELECT label, list(s ORDER BY d) AS s, max(n) AS n
        |  FROM sums GROUP BY label),
        |dist AS (
        |  SELECT q.vec_id, q.label,
        |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, 65), d ->
        |        CAST(q.q[d] * c.n - c.s[d] AS DOUBLE)
        |          * CAST(q.q[d] * c.n - c.s[d] AS DOUBLE))),
        |      (a, x) -> a + x)
        |      / (CAST(c.n AS DOUBLE) * c.n * 1000000000000.0), 6) AS d2
        |  FROM q JOIN cent c USING (label))
        |SELECT label, CAST(rk AS BIGINT) AS rk, vec_id, d2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY d2 DESC, vec_id) AS rk
        |  FROM dist)
        |WHERE rk <= 3""".stripMargin,

    // exact cross-dedup through the BLOOM-PREFILTERED plan: the oracle is
    // the plain NOT EXISTS — a Bloom false positive that survived the
    // exact anti-join, or a false drop, would hash-mismatch here.
    "cross_dedup_exact" ->
      """SELECT n.doc_id, n.lang, n.source
        |FROM documents n
        |WHERE n.doc_id % 2 = 1
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents r
        |    WHERE r.doc_id % 2 = 0 AND r.text = n.text)""".stripMargin,

    // tf-idf top-3 per doc; idf banked to integer micro-nats BEFORE the
    // tf multiply so the ranking key is integer-exact on both engines.
    "tfidf_top_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |        tf.tf * CAST(floor(ln(CAST(n.n AS DOUBLE) / df.df) * 1000000)
        |          AS BIGINT) AS score
        |      FROM tf JOIN df USING (tok), n)
        |SELECT doc_id, tok, tf, df, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, tok) AS rk FROM s)
        |WHERE rk <= 3 AND score > 0""".stripMargin,

    "quality_token_quantiles" ->
      s"""WITH $duckLangCtes,
         |hist AS (
         |  SELECT lang_guess,
         |    len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         |    count(*) AS cnt
         |  FROM lang GROUP BY 1, 2),
         |cum AS (
         |  SELECT lang_guess, n_tokens,
         |    CAST(sum(cnt) OVER (PARTITION BY lang_guess ORDER BY n_tokens) AS BIGINT) AS cum,
         |    CAST(sum(cnt) OVER (PARTITION BY lang_guess) AS BIGINT) AS total
         |  FROM hist)
         |SELECT lang_guess, max(total) AS n_docs,
         |  min(CASE WHEN cum * 100 >= total * 50 THEN n_tokens END) AS p50_tokens,
         |  min(CASE WHEN cum * 100 >= total * 90 THEN n_tokens END) AS p90_tokens,
         |  min(CASE WHEN cum * 100 >= total * 99 THEN n_tokens END) AS p99_tokens
         |FROM cum GROUP BY lang_guess""".stripMargin,

    "top_tokens_lang" ->
      s"""WITH $duckLangCtes,
         |tok AS (
         |  SELECT lang_guess, unnest(string_split(text, ' ')) AS token FROM lang),
         |cnt AS (
         |  SELECT lang_guess, token, count(*) AS cnt FROM tok
         |  WHERE token <> '' GROUP BY 1, 2),
         |rk AS (
         |  SELECT lang_guess, token, cnt,
         |    row_number() OVER (PARTITION BY lang_guess ORDER BY cnt DESC, token) AS rnk
         |  FROM cnt)
         |SELECT lang_guess, CAST(rnk AS BIGINT) AS rnk, token, cnt
         |FROM rk WHERE rnk <= 5""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(toks) - 1), i ->
        |        toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
        |    ELSE [] END AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / len(list_distinct(list_concat(a.sh, b.sh))) END, 5) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id, ${duckPolyHash("text")} AS fingerprint FROM documents""",

    "lang_id" -> {
      val counts = graft.ops.TrainingDataOps.langLexicons.map { case (l, re) =>
        s"len(regexp_extract_all(lower(text), '$re')) AS c_$l"
      }.mkString(",\n ")
      s"""WITH c AS (SELECT doc_id, $counts FROM documents)
         |SELECT doc_id,
         |  CASE
         |    WHEN c_de > c_en AND c_de > c_fr AND c_de > c_es THEN 'de'
         |    WHEN c_fr > c_en AND c_fr > c_de AND c_fr > c_es THEN 'fr'
         |    WHEN c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es'
         |    ELSE 'en'
         |  END AS lang_guess
         |FROM c""".stripMargin
    },

    "embedding_neardup" ->
      s"""WITH $duckEmbKeptCtes
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 5) AS cosine
         |FROM kept a JOIN kept b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 5) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    // the embedding pairs' transitive closure, same recursive min-label
    // walk as dedup_clusters (engine side: large-star/small-star)
    "embedding_clusters" ->
      s"""WITH RECURSIVE $duckEmbKeptCtes,
         |vpairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM kept a JOIN kept b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 5) >= 0.3),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM vpairs
         |  UNION SELECT id_b, id_a FROM vpairs),
         |walk(node, reach) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT w.node, g.v FROM walk w JOIN edges g ON g.u = w.reach),
         |lbl AS (
         |  SELECT node, min(reach) AS cluster_id FROM walk GROUP BY node),
         |siz AS (
         |  SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id)
         |SELECT l.node AS vec_id, l.cluster_id, s.cluster_size,
         |  l.node = l.cluster_id AS keep
         |FROM lbl l JOIN siz s USING (cluster_id)""".stripMargin,

    "mm_frame_sample" ->
      """SELECT doc_id, k.i AS frame_idx,
        |  substring(sha256(text), k.i * 16 + 1, 16) AS frame_hex
        |FROM documents, (VALUES (0), (1), (2), (3)) AS k(i)""".stripMargin,

    "mm_feature_extract" ->
      """SELECT doc_id, k.i AS frame_idx, j.j AS feat_idx,
        |  round((ascii(substring(sha256(text), k.i * 16 + j.j, 1)) - 52)
        |    / CAST(20 AS DOUBLE), 5) AS feat
        |FROM documents,
        |  (VALUES (0), (1), (2), (3)) AS k(i),
        |  (VALUES (1), (2), (3), (4), (5), (6), (7), (8)) AS j(j)""".stripMargin,

    "ann_ivf_topk" ->
      """WITH vec AS (
        |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |cent AS (
        |  SELECT vid AS cid, e AS ce, nrm AS cnrm FROM vec WHERE vid BETWEEN 1 AND 16),
        |scored AS (
        |  SELECT v.vid, c.cid, list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) AS score
        |  FROM vec v, cent c),
        |assigned AS (
        |  SELECT vid, cid FROM (
        |    SELECT vid, cid,
        |      row_number() OVER (PARTITION BY vid ORDER BY score DESC, cid) AS rn
        |    FROM scored) WHERE rn = 1),
        |qprobe AS (
        |  SELECT cid FROM scored WHERE vid = 0 ORDER BY score DESC, cid LIMIT 4),
        |q AS (SELECT e AS qe, nrm AS qnrm FROM vec WHERE vid = 0)
        |SELECT a.vid AS vec_id,
        |  round(list_dot_product(v.e, q.qe) / (v.nrm * q.qnrm), 6) AS cosine
        |FROM assigned a
        |JOIN qprobe p ON a.cid = p.cid
        |JOIN vec v ON v.vid = a.vid
        |CROSS JOIN q
        |WHERE a.vid <> 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    "ann_ivf_kmeans_topk" -> ivfKMeansOracle(
      nCentroids = 16, nProbe = 4, k = 10, quant = 10000, dim = 64),

    // batched probe: the single-query CTE chain with a queries table;
    // candidates only ever come from the probed cells.
    "ann_batch_topk" ->
      """WITH vec AS (
        |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |cent AS (
        |  SELECT vid AS cid, e AS ce, nrm AS cnrm FROM vec WHERE vid BETWEEN 1 AND 16),
        |q AS (SELECT vid AS qid, e AS qe, nrm AS qnrm FROM vec WHERE vid % 50 = 0),
        |scored AS (
        |  SELECT v.vid, c.cid, list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) AS score
        |  FROM vec v, cent c),
        |assigned AS (
        |  SELECT vid, cid FROM (
        |    SELECT vid, cid,
        |      row_number() OVER (PARTITION BY vid ORDER BY score DESC, cid) AS rn
        |    FROM scored) WHERE rn = 1),
        |qprobe AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.qid, c.cid,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_dot_product(q.qe, c.ce) / (q.qnrm * c.cnrm) DESC,
        |          c.cid) AS rn
        |    FROM q, cent c) WHERE rn <= 4),
        |cand AS (
        |  SELECT p.qid, a.vid,
        |    round(list_dot_product(v.e, qq.qe) / (v.nrm * qq.qnrm), 6) AS cosine
        |  FROM qprobe p
        |  JOIN assigned a ON a.cid = p.cid
        |  JOIN vec v ON v.vid = a.vid
        |  JOIN q qq ON qq.qid = p.qid
        |  WHERE a.vid <> p.qid)
        |SELECT qid, CAST(rk AS BIGINT) AS rk, vid AS vec_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, vid) AS rk
        |  FROM cand)
        |WHERE rk <= 3""".stripMargin,

    "ann_cosine_topk" ->
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
        |)
        |SELECT vec_id,
        |  round(list_dot_product(CAST(embedding AS DOUBLE[]), q.qe) /
        |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine
        |FROM embeddings, q
        |WHERE vec_id <> 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin)

  /** Shared oracle for the batch AND standing provenance join — the
    * standing query (`stream_provenance_e2e`) must converge to exactly
    * the batch join over the same fixture pair.
    */
  private def provenanceOracle: String =
    """WITH base AS (
      |  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
      |    event_id, event_type, ts
      |  FROM events
      |), withrole AS (
      |  SELECT *, CASE WHEN turn_idx = 0 THEN 'system'
      |                 WHEN turn_idx % 2 = 1 THEN 'user'
      |                 WHEN event_id % 5 = 0 THEN 'tool'
      |                 ELSE 'assistant' END AS role
      |  FROM base
      |), turns AS (
      |  SELECT conv_id, turn_idx, event_id, ts,
      |    '[' || role || '] turn ' || CAST(turn_idx AS VARCHAR) || ' of ' ||
      |      conv_id || ' type ' || event_type ||
      |      CASE WHEN event_id % 50 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text
      |  FROM withrole
      |), gen AS (
      |  SELECT conv_id, turn_idx,
      |    ts + (CASE WHEN event_id % 17 = 0 THEN 400
      |               ELSE (event_id % 241) - 120 END) * INTERVAL '1 second' AS ts,
      |    text || CASE WHEN event_id % 23 = 0 THEN ' [generated]' ELSE '' END AS text
      |  FROM turns
      |)
      |SELECT r.conv_id, r.turn_idx,
      |  r.ts AS raw_ts, g.ts AS gen_ts,
      |  (r.text = g.text) AS text_match,
      |  epoch_us(g.ts) - epoch_us(r.ts) AS skew_us
      |FROM turns r JOIN gen g
      |  ON r.conv_id = g.conv_id AND r.turn_idx = g.turn_idx
      |  AND g.ts >= r.ts - INTERVAL '2 minutes'
      |  AND g.ts <= r.ts + INTERVAL '2 minutes'""".stripMargin

  /** DuckDB restatement of the k-means-trained IVF: the same 2 Lloyd
    * iterations on integer-quantized vectors, unrolled as CTEs. Exactness
    * argument in `TrainingDataOps.ivfKMeansTopK`'s scaladoc (all sums are
    * exact integers below 2^53, so order of summation cannot matter).
    */
  private def ivfKMeansOracle(
      nCentroids: Int, nProbe: Int, k: Int, quant: Int, dim: Int): String = {
    def dd(l: String): String = s"CAST($l AS DOUBLE[])"
    def score(v: String, c: String): String =
      s"list_dot_product(${dd(s"$v.qe")}, ${dd(s"$c.ce")}) / ($v.nrm * $c.cnrm)"
    def iteration(i: Int, prevCent: String): String =
      s"""asg$i AS (
         |  SELECT vid, cid FROM (
         |    SELECT v.vid, c.cid,
         |      row_number() OVER (PARTITION BY v.vid
         |        ORDER BY ${score("v", "c")} DESC, c.cid) AS rn
         |    FROM vn v, $prevCent c) WHERE rn = 1),
         |cent${i}p AS (
         |  SELECT a.cid, t.i AS pos,
         |    CAST(floor(sum(v.qe[t.i]) * 1.0 / count(*)) AS BIGINT) AS cv
         |  FROM asg$i a JOIN vn v ON v.vid = a.vid, range(1, ${dim + 1}) t(i)
         |  GROUP BY a.cid, t.i),
         |cent$i AS (
         |  SELECT cid, ce,
         |    sqrt(list_dot_product(${dd("ce")}, ${dd("ce")})) AS cnrm
         |  FROM (SELECT cid, list(cv ORDER BY pos) AS ce FROM cent${i}p GROUP BY cid))""".stripMargin
    s"""WITH vec AS (
       |  SELECT vec_id AS vid,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(round(x * $quant) AS BIGINT)) AS qe
       |  FROM embeddings),
       |vn AS (
       |  SELECT vid, qe,
       |    sqrt(list_dot_product(${dd("qe")}, ${dd("qe")})) AS nrm FROM vec),
       |cent0 AS (
       |  SELECT vid AS cid, qe AS ce, nrm AS cnrm FROM vn
       |  ORDER BY md5(CAST(vid AS VARCHAR)), vid LIMIT $nCentroids),
       |${iteration(1, "cent0")},
       |${iteration(2, "cent1")},
       |scored AS (
       |  SELECT v.vid, c.cid, ${score("v", "c")} AS score FROM vn v, cent2 c),
       |assigned AS (
       |  SELECT vid, cid FROM (
       |    SELECT vid, cid,
       |      row_number() OVER (PARTITION BY vid ORDER BY score DESC, cid) AS rn
       |    FROM scored) WHERE rn = 1),
       |qprobe AS (
       |  SELECT cid FROM scored WHERE vid = 0 ORDER BY score DESC, cid LIMIT $nProbe),
       |q AS (SELECT qe AS qq, qe, nrm AS qnrm FROM vn WHERE vid = 0)
       |SELECT a.vid AS vec_id,
       |  round(list_dot_product(${dd("v.qe")}, ${dd("q.qq")}) / (v.nrm * q.qnrm), 6) AS cosine
       |FROM assigned a
       |JOIN qprobe p ON a.cid = p.cid
       |JOIN vn v ON v.vid = a.vid
       |CROSS JOIN q
       |WHERE a.vid <> 0
       |ORDER BY cosine DESC, vec_id LIMIT $k""".stripMargin
  }

  /** DuckDB restatement of the COMPOSED streaming guardian pipeline over
    * the events-derived fixture: the planted exact-replay duplicates
    * collapse to the distinct derived turns (the salted stateful dedup's
    * contract for exact replays), the per-turn ts-LSB embed is restated
    * bit-for-bit (bits inlined from the same codec), and per-conversation
    * extraction repacks MSB-first with whole-byte truncation — the same
    * arithmetic `wRoundtripOracle` uses, but grouped per conversation.
    */
  private def e2eOracle(wm: String): String = {
    val bits = Watermarker.bitsOf(wm)
    val need = (bits.length + 1) / 2
    val pairs = (0 until need).map { i =>
      val b0 = bits(2 * i)
      val b1 = if (2 * i + 1 < bits.length) bits(2 * i + 1) else 0
      s"($i, $b0, $b1)"
    }.mkString(", ")
    s"""WITH turns AS (
       |  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
       |    ts
       |  FROM events
       |), pre AS (
       |  SELECT conv_id, turn_idx, epoch_us(ts) AS us FROM turns WHERE turn_idx < $need
       |), bits(turn_idx, b0, b1) AS (VALUES $pairs),
       |emb AS (
       |  SELECT conv_id, t.turn_idx, ((us & -4) | (b.b1 << 1) | b.b0) AS eus
       |  FROM pre t JOIN bits b ON t.turn_idx = b.turn_idx
       |), ext AS (
       |  SELECT conv_id, turn_idx, (eus & 1) AS b0, ((eus >> 1) & 1) AS b1 FROM emb
       |), bytes AS (
       |  SELECT conv_id, (turn_idx // 4) AS byteidx,
       |    sum(b0 * (1 << (7 - ((2 * turn_idx) % 8)))
       |      + b1 * (1 << (7 - ((2 * turn_idx + 1) % 8)))) AS code
       |  FROM ext GROUP BY 1, 2 HAVING count(*) = 4
       |), res AS (
       |  SELECT conv_id, string_agg(chr(CAST(code AS INTEGER)), '' ORDER BY byteidx) AS extracted
       |  FROM bytes GROUP BY conv_id
       |)
       |SELECT conv_id, true AS verified, '$wm' AS expected, extracted
       |FROM res WHERE extracted = '$wm'""".stripMargin
  }

  /** Full SQL restatement of the watermark round-trip, bits inlined from
    * the same codec the engine uses.
    */
  private def wRoundtripOracle(wm: String): String = {
    val bits = Watermarker.bitsOf(wm)
    val k = (bits.length + 1) / 2
    val pairs = (0 until k).map { i =>
      val b0 = bits(2 * i)
      val b1 = if (2 * i + 1 < bits.length) bits(2 * i + 1) else 0
      s"($i, $b0, $b1)"
    }.mkString(", ")
    val orderCols = "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice"
    s"""WITH ord AS (
       |  SELECT l_quantity AS v,
       |    row_number() OVER (ORDER BY $orderCols) - 1 AS ordinal
       |  FROM lineitem ORDER BY $orderCols LIMIT $k
       |), bits(ordinal, b0, b1) AS (VALUES $pairs),
       |emb AS (
       |  SELECT o.ordinal,
       |    ((CAST(round(o.v) AS BIGINT) & -4) | (b.b1 << 1) | b.b0) AS ev
       |  FROM ord o JOIN bits b ON o.ordinal = b.ordinal
       |), ext AS (
       |  SELECT ordinal, (ev & 1) AS b0, ((ev >> 1) & 1) AS b1 FROM emb
       |), bytes AS (
       |  SELECT (ordinal // 4) AS byteidx,
       |    sum(b0 * (1 << (7 - ((2 * ordinal) % 8)))
       |      + b1 * (1 << (7 - ((2 * ordinal + 1) % 8)))) AS code
       |  FROM ext GROUP BY 1
       |), res AS (
       |  SELECT string_agg(chr(CAST(code AS INTEGER)), '' ORDER BY byteidx) AS extracted
       |  FROM bytes
       |)
       |SELECT '$wm' AS expected, extracted, (extracted = '$wm') AS verified FROM res""".stripMargin
  }
}
