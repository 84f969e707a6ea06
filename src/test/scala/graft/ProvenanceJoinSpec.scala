package graft

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState, Trigger}
import graft.stream._

/** `ProvenanceJoin.stream`, the standing provenance operator, against
  * Spark's streaming symmetric hash join of `ProvenanceJoin.join` on the
  * same file streams: equal match multisets at every boundary the two
  * must agree on (late filter, state retention, range edges, NULLs), and
  * `startProvenance` resume identity.
  *
  * Timeline: epoch e is one file per side whose newest row is a "clock"
  * turn at N(e) = T0 + e · 30 min, so with delay D the watermarks of
  * batch b are exact: eviction wmE(b) = N(b−1) − D, late filter
  * wmL(b) = wmE(b−1). Spark's join keeps a side's row while
  * ts > wmE − maxSkew − 1 ms.
  */
class ProvenanceJoinSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val T0 = DateTimeUtils.fromJavaTimestamp(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
  private val Min = 60L * 1000 * 1000
  private val Ms = 1000L
  private val S = 2 * Min
  private val D = 5 * Min
  private val Skew = "2 minutes"
  private val Delay = "5 minutes"
  private def N(e: Int): Long = T0 + e * 30 * Min
  private def wmE(b: Int): Long = if (b < 1) 0L else N(b - 1) - D
  private def wmL(b: Int): Long = wmE(b - 1)
  /** The newest ts Spark drops from (or never adds to) join state in batch b. */
  private def dropAtOrBelow(b: Int): Long = wmE(b) - S - Ms

  /** A turn of one side in epoch `e`. */
  private final case class T(e: Int, raw: Boolean, conv: String, turn: Integer, ts: java.lang.Long,
      text: String) {
    def row: Row = Row(conv, turn, "user", text, null,
      if (ts == null) null else DateTimeUtils.toJavaTimestamp(ts))
  }

  private def clock(epochs: Int): Seq[T] =
    (0 until epochs).flatMap(e => Seq(
      T(e, raw = true, "clock", e, N(e), "c"), T(e, raw = false, "clock", e, N(e), "c")))

  /** One parquet file per epoch under `dir` (an empty epoch writes a
    * schema-only file), mtimes ascending so the file source reads them in
    * epoch order.
    */
  private def writeEpochs(dir: String, epochs: Seq[Seq[Row]], from: Int = 0): Unit = {
    Files.createDirectories(Paths.get(dir))
    epochs.zipWithIndex.foreach { case (rows, j) =>
      val i = from + j
      val staging = tmp(s"prov-stage-$i")
      spark.createDataFrame(rows.asJava, GuardianStream.turnSchema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = Paths.get(dir, f"f$i%02d.parquet")
      Files.move(part.toPath, target)
      target.toFile.setLastModified(1700000000000L + i * 1000L)
    }
  }

  private def fileStream(dir: String): DataFrame = spark.readStream
    .schema(GuardianStream.turnSchema)
    .option("maxFilesPerTrigger", 1)
    .parquet(dir)
    .withWatermark("ts", Delay)

  private var runs = 0

  /** The sorted match rows of `plan` over the streams of `rawDir` and
    * `genDir`, one file per micro-batch.
    */
  private def drain(rawDir: String, genDir: String,
      plan: (DataFrame, DataFrame, String) => DataFrame): Seq[String] = {
    runs += 1
    val name = s"prov_diff_$runs"
    plan(fileStream(rawDir), fileStream(genDir), Skew).writeStream
      .option("checkpointLocation", tmp("prov-diff-ck"))
      .outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    spark.table(name).select("conv_id", "turn_idx", "raw_ts", "gen_ts", "text_match", "skew_us")
      .collect().map(_.toString).toSeq.sorted
  }

  /** Runs both operators over `turns` (epochs 0 until `epochs`; a side
    * with `noGen` set writes no gen file at all) and returns the streamed
    * matches of the state operator after asserting they equal the join's.
    */
  private def differential(turns: Seq[T], epochs: Int, noGen: Boolean = false): Seq[String] = {
    val rawDir = tmp("prov-diff-raw"); val genDir = tmp("prov-diff-gen")
    def files(raw: Boolean) = (0 until epochs).map(e =>
      turns.filter(t => t.e == e && t.raw == raw).map(_.row))
    writeEpochs(rawDir, files(raw = true))
    if (!noGen) writeEpochs(genDir, files(raw = false))
    val expected = drain(rawDir, genDir, ProvenanceJoin.join)
    val got = drain(rawDir, genDir, ProvenanceJoin.stream)
    assert(got.size == expected.size,
      s"state operator ${got.size} rows, streaming join ${expected.size}\n" +
        s"extra: ${got.diff(expected).take(10)}\nmissing: ${expected.diff(got).take(10)}")
    assert(got == expected,
      s"extra: ${got.diff(expected).take(10)}\nmissing: ${expected.diff(got).take(10)}")
    got
  }

  private def count(rows: Seq[String], conv: String, turn: Int): Int =
    rows.count(_.startsWith(s"[$conv,$turn,"))

  test("state operator equals Spark's streaming join at every boundary case") {
    def r(e: Int, conv: String, turn: Integer, ts: java.lang.Long, text: String = "a") =
      T(e, raw = true, conv, turn, ts, text)
    def g(e: Int, conv: String, turn: Integer, ts: java.lang.Long, text: String = "a") =
      T(e, raw = false, conv, turn, ts, text)
    val R = N(1) - 10 * Min
    val cases = Seq(
      // NULL key, NULL ts and NULL text
      r(1, null, 0, N(1) - Min), g(1, null, 0, N(1) - Min),
      r(1, "nulls", null, N(1) - Min), g(1, "nulls", null, N(1) - Min),
      r(1, "nulls", 1, null), g(1, "nulls", 1, N(1) - Min),
      g(1, "nulls", 2, null), r(1, "nulls", 2, N(1) - Min),
      r(1, "nulls", 3, N(1) - Min, null), g(1, "nulls", 3, N(1) - Min, "x"),
      r(1, "nulls", 4, N(1) - Min, "y"), g(1, "nulls", 4, N(1) - Min, null),
      // 3 raw x 2 gen duplicates on one key, and a third gen one epoch later
      r(1, "dup", 0, N(1) - Min), r(1, "dup", 0, N(1) - Min), r(1, "dup", 0, N(1) - Min, "b"),
      g(1, "dup", 0, N(1) - Min / 2), g(1, "dup", 0, N(1) - Min / 2),
      g(2, "dup", 0, N(1)),
      // |skew| exactly maxSkew matches; maxSkew + 1 µs does not
      r(1, "edge", 0, R),
      g(1, "edge", 0, R + S), g(1, "edge", 0, R - S),
      g(1, "edge", 0, R + S + 1), g(1, "edge", 0, R - S - 1),
      g(2, "edge", 0, R + S), g(2, "edge", 0, R + S + 1),
      // a partner two epochs later: still in state, then already evicted
      // (its partner arrives behind the late filter)
      r(1, "later", 0, N(1) - Min), g(3, "later", 0, N(1)),
      g(1, "later", 1, N(1) - Min), r(3, "later", 1, N(1)),
      r(1, "evicted", 0, N(1) - 8 * Min), g(3, "evicted", 0, N(1) - 6 * Min - 30 * 1000 * Ms),
      g(1, "evicted", 1, N(1) - 8 * Min), r(3, "evicted", 1, N(1) - 6 * Min - 30 * 1000 * Ms),
      // rows between the previous and the current watermark of batch 3
      // match their own epoch's partners and retained ones, on both sides
      // of the retention bound dropAtOrBelow(3)
      r(3, "between", 0, N(1) + 10 * Min), g(3, "between", 0, N(1) + 11 * Min),
      r(3, "between", 1, dropAtOrBelow(3)), g(3, "between", 1, dropAtOrBelow(3) + S),
      r(3, "between", 2, dropAtOrBelow(3) + 1), g(3, "between", 2, dropAtOrBelow(3) + 1 + S),
      r(3, "between", 3, wmE(3) - S), g(3, "between", 3, wmE(3) - S + Min),
      g(3, "between", 4, N(1) + 10 * Min), r(3, "between", 4, N(1) + 10 * Min + 30 * 1000 * Ms),
      g(3, "between", 5, N(1) + 22 * Min), r(3, "between", 5, N(1) + 23 * Min + 30 * 1000 * Ms),
      g(2, "between", 6, N(1) + 11 * Min), r(3, "between", 6, N(1) + 10 * Min),
      // a row leaves state once ts + maxSkew <= watermark, never earlier:
      // kept at wmE(2) - maxSkew + 1 µs, met by a partner one epoch later
      r(2, "retain", 0, wmE(2) - S + 1), g(3, "retain", 0, wmE(2) + 1),
      g(2, "retain", 1, wmE(2) - S + 1), r(3, "retain", 1, wmE(2) + 1),
      r(2, "retain", 2, wmE(2) - S), g(3, "retain", 2, wmE(2)),
      // the late filter of batch 4 drops ts <= wmL(4), keeps wmL(4) + 1 µs
      r(3, "late", 0, wmL(4) + Min), g(4, "late", 0, wmL(4)),
      r(3, "late", 1, wmL(4) + Min), g(4, "late", 1, wmL(4) + 1),
      // text_match is digest equality on the state operator: equal and
      // last-byte-different 4 KiB texts, NFC against NFD (the same
      // character in different bytes), "" against "" and against NULL
      r(1, "text", 0, N(1) - Min, "x" * 4096), g(1, "text", 0, N(1) - Min, "x" * 4096),
      r(1, "text", 1, N(1) - Min, "x" * 4096), g(1, "text", 1, N(1) - Min, "x" * 4095 + "y"),
      r(1, "text", 2, N(1) - Min, "\u00e9"), g(1, "text", 2, N(1) - Min, "e\u0301"),
      r(1, "text", 3, N(1) - Min, ""), g(1, "text", 3, N(1) - Min, ""),
      r(1, "text", 4, N(1) - Min, ""), g(1, "text", 4, N(1) - Min, null))
    // one mega-key: 120 rows a side over 10 minutes, in two epochs each
    val mega = (0 until 120).flatMap { i =>
      val e = 2 + i % 2
      Seq(r(e, "mega", 0, N(2) - 10 * Min + i * 5 * 1000 * Ms, s"t$i"),
        g(e, "mega", 0, N(2) - 10 * Min + i * 5 * 1000 * Ms + 7 * 1000 * Ms, s"t${i % 7}"))
    }
    val got = differential(clock(6) ++ cases ++ mega, epochs = 6)
    // the cases reach the boundaries they name
    assert(count(got, "nulls", 3) == 1 && count(got, "nulls", 4) == 1)
    assert(got.filter(_.startsWith("[nulls,")).forall(_.contains(",null,")))
    assert(got.count(_.startsWith("[null,")) == 0)
    assert(count(got, "dup", 0) == 9)
    assert(count(got, "edge", 0) == 3)
    assert(count(got, "later", 0) == 1 && count(got, "later", 1) == 1)
    assert(count(got, "evicted", 0) == 0 && count(got, "evicted", 1) == 0)
    assert((0 to 6).forall(count(got, "between", _) == 1))
    assert((0 to 2).map(count(got, "retain", _)) == Seq(1, 1, 0))
    assert(count(got, "late", 0) == 0 && count(got, "late", 1) == 1)
    assert(count(got, "mega", 0) > 2000)
    def textMatch(turn: Int) =
      got.filter(_.startsWith(s"[text,$turn,")).map(_.split(",")(4))
    assert((0 to 4).map(textMatch) ==
      Seq(Seq("true"), Seq("false"), Seq("false"), Seq("true"), Seq("null")))
  }

  test("state operator equals Spark's streaming join with an empty side") {
    val raw = clock(3).filter(_.raw) ++
      (1 until 3).map(e => T(e, raw = true, "lonely", e, N(e) - Min, "a"))
    assert(differential(raw, epochs = 3, noGen = true).isEmpty)
  }

  test("state operator equals Spark's streaming join on seeded random streams") {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val deltas = Seq(-S - 1, -S, -1L, 0L, 1L, S, S + 1)
      // per (epoch, key) one anchor at a watermark boundary; its rows sit
      // at a range edge from it or within ±150 s
      val turns = (1 until 6).flatMap { e =>
        val anchors = Seq(N(e) - Min, wmL(e), dropAtOrBelow(e), wmE(e) - S, N(e - 1))
        for {
          conv <- 0 until 3
          turn <- 0 until 2
          anchor = anchors(rnd.nextInt(anchors.size))
          raw <- Seq(true, false)
          _ <- 0 to rnd.nextInt(4)
        } yield {
          val ts =
            if (rnd.nextInt(10) == 0) null
            else java.lang.Long.valueOf(math.min(N(e) - 1, anchor +
              (if (rnd.nextBoolean()) deltas(rnd.nextInt(deltas.size))
               else (rnd.nextInt(300) - 150) * 1000 * Ms)))
          T(e, raw, if (rnd.nextInt(20) == 0) null else s"f$conv",
            if (rnd.nextInt(20) == 0) null else Integer.valueOf(turn), ts,
            Seq("a", "b", null)(rnd.nextInt(3)))
        }
      }
      val got = differential(clock(6) ++ turns, epochs = 6).filterNot(_.startsWith("[clock,"))
      assert(got.size >= 20, s"seed $seed: only ${got.size} matches")
    }
  }

  test("state written before digests (v1, texts) matches fresh rows as === does and is rewritten as digests") {
    /** A v1 value: per row is_raw, ts_us, UTF-8 length or -1, the text. */
    def v1(rows: Seq[(Boolean, Long, String)]): Array[Byte] = {
      val texts = rows.map(r => Option(r._3).map(_.getBytes(UTF_8)).orNull)
      val buf = ByteBuffer.allocate(13 * rows.size + texts.map(t => if (t == null) 0 else t.length).sum)
      rows.lazyZip(texts).foreach { case ((isRaw, us, _), t) =>
        buf.put((if (isRaw) 1 else 0).toByte).putLong(us).putInt(if (t == null) -1 else t.length)
        if (t != null) buf.put(t)
      }
      buf.array()
    }
    val ts = N(1) - Min
    val old = Seq((true, ts, "same"), (true, ts + 1, "\u00e9"), (true, ts + 2, null),
      (false, ts, "gen"))
    val fresh = Seq((false, ts + 3, "same"), (false, ts + 4, "e\u0301"), (false, ts + 5, null),
      (true, ts + 6, "gen"), (true, ts + 7, "other"))
    val freshRows = fresh.map { case (isRaw, us, t) =>
      ProvenanceJoin.Side(isRaw, DateTimeUtils.toJavaTimestamp(us), Option(t).map(_.getBytes(UTF_8)).orNull)
    }
    // every pair of a fresh row and an old or own-epoch partner is in range
    val pairs = fresh.flatMap { case (isRaw, us, t) =>
      (old ++ (if (isRaw) fresh else Nil)).collect {
        case (pRaw, pUs, pt) if pRaw != isRaw => if (isRaw) (us, t, pUs, pt) else (pUs, pt, us, t)
      }
    }
    val byEq = spark.createDataFrame(pairs).toDF("raw_us", "raw_text", "gen_us", "gen_text")
      .select(col("raw_us"), col("gen_us"), (col("raw_text") === col("gen_text")).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getBoolean(2))))
      .toSeq.sortBy(x => (x._1, x._2))
    assert(byEq.map(_._3).toSet == Set(Some(true), Some(false), None))
    def run(state: Array[Byte]) = {
      val st = TestGroupState.create[ProvenanceJoin.Retained](
        Optional.of(ProvenanceJoin.Retained(state)), GroupStateTimeout.EventTimeTimeout(), 0L,
        Optional.of(wmE(1) / Ms), false)
      val out = ProvenanceJoin.matchKey(S, ("k", 0), freshRows.iterator, st).toSeq
      (out.map(m => (m.raw_us, m.gen_us, Option(m.text_match).map(_.booleanValue)))
        .sortBy(x => (x._1, x._2)), st.get.rows)
    }
    val (fromV1, written) = run(v1(old))
    assert(fromV1 == byEq)
    assert(written(0) == 2, "the value written back carries the digest format byte")
    assert(written.length == 1 + 9 * 13 + 7 * 32)
    assert(ProvenanceJoin.unpack(written).map(r => (r._1, r._2)) ==
      (old ++ fresh).map(r => (r._1, r._2)))
    // the rewritten value answers the same
    assert(run(ProvenanceJoin.pack(ProvenanceJoin.unpack(v1(old))))._1 == byEq)
  }

  test("startProvenance: join state is the same size for 8-byte and 4 KiB texts") {
    val turns = clock(3) ++ (0 until 3).flatMap { e =>
      (0 until 40).flatMap(i => Seq(
        T(e, raw = true, s"s$i", e, N(e) - (i + 1) * 1000 * Ms, "t"),
        T(e, raw = false, s"s$i", e, N(e) - i * 1000 * Ms, "t")))
    }
    def arenaLive(textLen: Int): Seq[Long] = {
      val rawDir = tmp("prov-size-raw"); val genDir = tmp("prov-size-gen")
      def files(raw: Boolean) = (0 until 3).map(e => turns.filter(t => t.e == e && t.raw == raw)
        .map(t => if (t.conv == "clock") t.row else t.copy(text = "t" * textLen).row))
      writeEpochs(rawDir, files(raw = true))
      writeEpochs(genDir, files(raw = false))
      val k = "spark.sql.streaming.stateStore.providerClass"
      spark.conf.set(k, "graft.stream.state.ArenaStateStoreProvider")
      val q =
        try GuardianStream.startProvenance(spark, rawDir, genDir, tmp("prov-size-ck"),
          tmp("prov-size-sink"), watermarkDelay = Delay, maxSkew = Skew, availableNow = true,
          maxFilesPerTrigger = Some(1))
        finally spark.conf.unset(k)
      q.awaitTermination()
      q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq).map(_.customMetrics.get("arenaLiveBytes").longValue)
    }
    val short = arenaLive(8)
    assert(short.size >= 3 && short.exists(_ > 0), short)
    assert(arenaLive(4096) == short)
  }

  test("startProvenance: a restart after epoch 1 equals an uninterrupted run, rows and manifests") {
    val turns = clock(4) ++ (0 until 4).flatMap { e =>
      (0 until 6).flatMap { i =>
        val ts = N(e) - (i + 1) * 30 * 1000 * Ms
        Seq(
          T(e, raw = true, s"c$i", e, ts, "a"),
          T(e, raw = false, s"c$i", e, ts + 20 * 1000 * Ms, if (i % 2 == 0) "a" else "b"),
          // a partner one epoch later, matched from restored state
          T(e, raw = false, s"c$i", e + 100, ts, "a"),
          T(e + 1, raw = true, s"c$i", e + 100, ts + Min, "a"))
      }
    }.filter(_.e < 4)
    def files(raw: Boolean) = (0 until 4).map(e => turns.filter(t => t.e == e && t.raw == raw).map(_.row))
    def run(restartAfter: Option[Int]): String = {
      val rawDir = tmp("prov-resume-raw"); val genDir = tmp("prov-resume-gen")
      val ck = tmp("prov-resume-ck"); val sink = tmp("prov-resume-sink")
      def drain(from: Int, until: Int): Unit = {
        writeEpochs(rawDir, files(raw = true).slice(from, until), from)
        writeEpochs(genDir, files(raw = false).slice(from, until), from)
        GuardianStream.startProvenance(spark, rawDir, genDir, ck, sink,
          watermarkDelay = Delay, maxSkew = Skew, availableNow = true,
          maxFilesPerTrigger = Some(1)).awaitTermination()
      }
      restartAfter match {
        case Some(n) => drain(0, n + 1); drain(n + 1, 4)
        case None => drain(0, 4)
      }
      sink
    }
    // A drain that ends on an advanced watermark runs one more, data-less
    // epoch; with it the batch ids after a restart would shift by one
    // against the uninterrupted run, and no manifest could line up.
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    val (whole, resumed) =
      try (run(None), run(Some(1)))
      finally spark.conf.unset(noData)
    def rows(sink: String) = IceLite.read(spark, sink).collect().map(_.toString).toSeq.sorted
    // epoch 1's gen rows meet their raw partners after the restart
    assert((0 until 6).forall(i => count(rows(resumed), s"c$i", 101) == 1))
    assert(rows(resumed) == rows(whole))
    val batches = IceLite.committedBatches(whole)
    assert(IceLite.committedBatches(resumed) == batches,
      (batches.map(IceLite.readManifest(whole, _).rowCount),
        IceLite.committedBatches(resumed).map(IceLite.readManifest(resumed, _).rowCount)).toString)
    batches.foreach(b => assert(IceLite.readManifest(resumed, b) == IceLite.readManifest(whole, b)))
  }
}
