package graft

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.gen.DeterministicGen.TranscriptSpec
import graft.model.Turn
import graft.stream._
import graft.stream.state.ArenaStateStoreProvider

/** The clone-free arena state store: direct provider-contract tests
  * (put/get/remove/iterator, delta replay, abort rollback, snapshot +
  * maintenance retention, chunk-boundary sweep) plus streaming-level
  * equivalence and resume-identity against the built-in HDFS provider.
  */
class ArenaStateStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val keySchema = StructType(Seq(
    StructField("h1", LongType), StructField("h2", LongType)))
  private val valueSchema = StructType(Seq(StructField("ts", LongType)))

  private val keyProj = UnsafeProjection.create(Array[DataType](LongType, LongType))
  private val valProj = UnsafeProjection.create(Array[DataType](LongType))

  private def key(a: Long, b: Long): UnsafeRow =
    keyProj(InternalRow(a, b)).copy()
  private def value(v: Long): UnsafeRow =
    valProj(InternalRow(v)).copy()

  private def newProvider(
      dir: String,
      partition: Int = 0,
      keySchema: StructType = keySchema,
      valueSchema: StructType = valueSchema): ArenaStateStoreProvider = {
    val p = new ArenaStateStoreProvider
    p.init(
      StateStoreId(dir, 0L, partition),
      keySchema, valueSchema,
      NoPrefixKeyStateEncoderSpec(keySchema),
      useColumnFamilies = false,
      StateStoreConf(spark.sessionState.conf),
      new Configuration(),
      useMultipleValuesPerKey = false,
      None)
    p
  }

  private def dump(store: ReadStateStore): Map[(Long, Long), Long] = {
    val it = store.iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
    try it.map(p => (p.key.getLong(0), p.key.getLong(1)) -> p.value.getLong(0)).toMap
    finally it.close()
  }

  test("arena store: put/get/remove/iterator within one version") {
    val p = newProvider(tmp("arena-basic"))
    val s = p.getStore(0, None)
    assert(s.get(key(1, 2)) == null)
    s.put(key(1, 2), value(100))
    s.put(key(3, 4), value(200))
    assert(s.get(key(1, 2)).getLong(0) == 100)
    // overwrite in place
    s.put(key(1, 2), value(150))
    assert(s.get(key(1, 2)).getLong(0) == 150)
    s.remove(key(3, 4))
    assert(s.get(key(3, 4)) == null)
    assert(dump(s) == Map((1L, 2L) -> 150L))
    assert(s.metrics.numKeys == 1)
    assert(s.commit() == 1)
    p.close()
  }

  test("arena store: commit publishes a delta a fresh provider replays") {
    val dir = tmp("arena-delta")
    val p1 = newProvider(dir)
    val s1 = p1.getStore(0, None)
    (1 to 100).foreach(i => s1.put(key(i, i * 7), value(i * 10)))
    s1.remove(key(5, 35))
    s1.commit()
    val s2 = p1.getStore(1, None)
    s2.put(key(200, 201), value(42))
    s2.remove(key(6, 42))
    s2.commit()
    p1.close()

    val p2 = newProvider(dir) // cold start: replay 1.gdelta + 2.gdelta
    val s = p2.getStore(2, None)
    val m = dump(s)
    assert(m.size == 99) // 100 - removed 5 - removed 6 + added 1
    assert(!m.contains((5L, 35L)) && !m.contains((6L, 42L)))
    assert(m((200L, 201L)) == 42L)
    assert(m((7L, 49L)) == 70L)
    s.abort()
    // rewind: an older version is also reloadable from the delta chain
    val sOld = p2.getStore(1, None)
    val mOld = dump(sOld)
    assert(mOld.size == 99 && mOld.contains((6L, 42L)) && !mOld.contains((200L, 201L)))
    sOld.abort()
    p2.close()
  }

  test("arena store: abort rolls back to the committed version") {
    val dir = tmp("arena-abort")
    val p = newProvider(dir)
    val s1 = p.getStore(0, None)
    s1.put(key(1, 1), value(1))
    s1.commit()
    val s2 = p.getStore(1, None)
    s2.put(key(2, 2), value(2))
    s2.remove(key(1, 1))
    s2.abort() // task failure: in-place mutations must not survive
    val s3 = p.getStore(1, None)
    val m = dump(s3)
    assert(m == Map((1L, 1L) -> 1L), s"aborted writes leaked: $m")
    s3.abort()
    p.close()
  }

  test("arena store: rows handed out by next() survive hasNext + store mutation (join manager contract)") {
    // SymmetricHashJoinStateManager.removeByValueCondition checks
    // `hasNext` and WRITES through the held key BEFORE consuming the next
    // element — the de-facto provider contract is that next()'s rows stay
    // valid until the FOLLOWING next(), never invalidated by hasNext.
    // The single-buffer iterator violated this (hasNext repointed the
    // reused rows → numValues written to the wrong key → join-eviction
    // NPE); pinned here at the provider level, end-to-end by the
    // provenance-eviction test below.
    val p = newProvider(tmp("arena-hold"))
    val s = p.getStore(0, None)
    (1 to 64).foreach(i => s.put(key(i, i * 3L), value(i * 10L)))
    val it = s.iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
    var checked = 0
    while (it.hasNext) {
      val pair = it.next()
      val k1 = pair.key.getLong(0); val k2 = pair.key.getLong(1)
      val v = pair.value.getLong(0)
      it.hasNext // pre-scan of the next entry, manager-style
      s.put(pair.key, value(v + 1)) // in-place write through the HELD key
      assert(pair.key.getLong(0) == k1 && pair.key.getLong(1) == k2,
        "held key repointed by hasNext")
      assert(s.get(pair.key).getLong(0) == v + 1,
        "write through the held key landed on the wrong entry")
      checked += 1
    }
    it.close()
    assert(checked == 64)
    s.commit()
    p.close()
  }

  test("arena store: chunk-boundary sweep at 400k keys") {
    // 400k entries x ~48 bytes ≈ 19 MB: the doubling chunks up to 4 MiB
    // and three more at the cap: exercises chunk-roll, index
    // growth, eviction-style remove-while-iterating, and exact iteration
    val p = newProvider(tmp("arena-sweep"))
    val s = p.getStore(0, None)
    val n = 400000
    var i = 0
    while (i < n) { s.put(key(i, i * 31), value(i)); i += 1 }
    assert(s.metrics.numKeys == n)
    // remove every third key while iterating (the eviction pattern)
    val it = s.iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
    var seen = 0
    while (it.hasNext) {
      val pair = it.next()
      seen += 1
      if (pair.value.getLong(0) % 3 == 0) s.remove(pair.key)
    }
    it.close()
    assert(seen == n, "iterator yields every live entry exactly once")
    val expect = n - (0 until n).count(_ % 3 == 0)
    assert(s.metrics.numKeys == expect)
    var misses = 0
    i = 0
    while (i < n) {
      val v = s.get(key(i, i * 31))
      if (i % 3 == 0) { if (v != null) misses += 1 }
      else if (v == null || v.getLong(0) != i) misses += 1
      i += 1
    }
    assert(misses == 0)
    s.commit()
    p.close()
  }

  test("arena store: maintenance-thread snapshot + retention keep versions reconstructable") {
    val dir = tmp("arena-snap")
    spark.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", "3")
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    try {
      val p = newProvider(dir)
      (0 until 8).foreach { v =>
        val s = p.getStore(v.toLong, None)
        s.put(key(v, v), value(v))
        if (v >= 3) s.remove(key(v - 3, v - 3))
        s.commit()
      }
      def stateFiles(): Set[String] = java.nio.file.Paths.get(dir, "0", "0").toFile
        .listFiles().map(_.getName).toSet
        .filter(n => n.endsWith(".gdelta") || n.endsWith(".gsnapshot"))
      // snapshots come from the MAINTENANCE pass (built from the
      // immutable file chain), never from the commit path
      assert(!stateFiles().exists(_.endsWith(".gsnapshot")))
      p.doMaintenance()
      assert(stateFiles().contains("8.gsnapshot"), s"got ${stateFiles()}")
      // two more commits, then maintenance prunes the pre-snapshot chain
      (8 until 10).foreach { v =>
        val s = p.getStore(v.toLong, None)
        s.put(key(v, v), value(v))
        s.remove(key(v - 3, v - 3))
        s.commit()
      }
      p.doMaintenance()
      val files = stateFiles()
      assert(!files.contains("1.gdelta") && !files.contains("8.gdelta"),
        s"pre-snapshot deltas not pruned: $files")
      assert(files.contains("9.gdelta") && files.contains("10.gdelta"))
      // a cold provider reconstructs the latest version from snapshot 8 +
      // deltas 9-10 exactly
      val p2 = newProvider(dir)
      val s = p2.getStore(10, None)
      val m = dump(s)
      assert(m.keySet == Set((7L, 7L), (8L, 8L), (9L, 9L)), s"got $m")
      s.abort()
      p2.close()
      p.close()
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.minDeltasForSnapshot")
      spark.conf.unset("spark.sql.streaming.minBatchesToRetain")
    }
  }

  test("arena store: a superseded task attempt is fenced and its writes roll back") {
    val dir = tmp("arena-fence")
    val p = newProvider(dir)
    val s0 = p.getStore(0, None)
    s0.put(key(1, 1), value(1))
    s0.commit()
    // task attempt 1 mutates but never commits (zombie)
    val zombie = p.getStore(1, None)
    zombie.put(key(2, 2), value(2))
    zombie.remove(key(1, 1))
    // attempt 2 takes over the same version: provider must fence the
    // zombie and serve COMMITTED state
    val fresh = p.getStore(1, None)
    assert(dump(fresh) == Map((1L, 1L) -> 1L), "zombie writes leaked")
    intercept[IllegalStateException](zombie.put(key(3, 3), value(3)))
    intercept[IllegalStateException](zombie.commit())
    zombie.abort() // no-op for a fenced store; must not disturb attempt 2
    fresh.put(key(9, 9), value(9))
    fresh.commit()
    val check = p.getStore(2, None)
    assert(dump(check) == Map((1L, 1L) -> 1L, (9L, 9L) -> 9L))
    check.abort()
    p.close()
  }

  // ---- streaming-level: the provider under the real dedup operator ----

  private def writeBatches(dir: String, slices: Seq[DataFrame]): Unit =
    slices.zipWithIndex.foreach { case (df, i) =>
      val staging = tmp(s"stage-$i")
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.move(part.toPath, java.nio.file.Paths.get(dir, f"f$i%02d.parquet"))
    }

  private def runDedupStream(sourceDir: String, checkpoint: String, name: String): DataFrame = {
    val src = spark.readStream.schema(GuardianStream.turnSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(sourceDir)
      .withWatermark("ts", "365 days")
      .as[Turn]
    val q = DedupState.dedupRows(src.toDF).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  private def withArenaProvider[A](f: => A): A = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "graft.stream.state.ArenaStateStoreProvider")
    try f
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  test("streaming dedup on the arena provider equals the HDFS provider") {
    val base = graft.gen.DeterministicGen.transcripts(spark,
      TranscriptSpec(nConvs = 6, turnsPerConv = 10, seed = 77))
    val withDups = graft.gen.DeterministicGen.withDuplicates(base, dupPermille = 250, seed = 77)
    val src = tmp("arena-eq-src")
    writeBatches(src, Seq(
      withDups.filter(col("turn_idx") <= 5),
      withDups.filter(col("turn_idx") >= 4)))
    val hdfs = runDedupStream(src, tmp("arena-eq-ckA"), "arena_eq_hdfs")
    val arena = withArenaProvider {
      runDedupStream(src, tmp("arena-eq-ckB"), "arena_eq_arena")
    }
    assert(hdfs.count() == base.count() && arena.count() == base.count())
    assert(hdfs.exceptAll(arena).count() == 0)
    assert(arena.exceptAll(hdfs).count() == 0)
  }

  test("full guardian pipeline on the arena provider equals the batch transforms") {
    // the bench session runs the WHOLE standing pipeline (dedup → embed →
    // flags) on this provider — assert stream ≡ batch end-to-end, not
    // just the dedup stage
    val spec = TranscriptSpec(nConvs = 6, turnsPerConv = 10, seed = 91)
    val base = graft.gen.DeterministicGen.transcripts(spark, spec)
    val withDups = graft.gen.DeterministicGen.withDuplicates(base, dupPermille = 150, seed = 91)
    val cfg = GuardianStream.StreamConfig(
      sourceDir = "", checkpointDir = "", sinkDir = "", qualityWindow = None)
    // materialize the batch side: exceptAll's rewrite mis-binds against
    // the live Deduplicate+custom-expression plan (a Catalyst rewrite
    // interaction, nothing state-store-related)
    val batchOut = {
      val d = tmp("arena-full-batch")
      GuardianStream.transforms(withDups.as[Turn], cfg)
        .write.mode("overwrite").parquet(d)
      spark.read.parquet(d)
    }
    val src = tmp("arena-full-src")
    writeBatches(src, Seq(
      withDups.filter(col("turn_idx") <= 5),
      withDups.filter(col("turn_idx") >= 4)))
    val streamOut = withArenaProvider {
      val s = spark.readStream.schema(GuardianStream.turnSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "365 days")
        .as[Turn]
      val q = GuardianStream.transforms(s, cfg).writeStream
        .option("checkpointLocation", tmp("arena-full-ck"))
        .outputMode("append")
        .format("memory").queryName("arena_full_out")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table("arena_full_out")
    }
    assert(streamOut.count() == base.count())
    assert(streamOut.exceptAll(batchOut).count() == 0)
    assert(batchOut.exceptAll(streamOut).count() == 0)
  }

  test("stream-stream provenance join runs on the arena provider (join state managers)") {
    // the symmetric-hash-join state managers drive the store differently
    // from dedup (multiple stores per partition, keyed index rows)
    val spec = TranscriptSpec(nConvs = 5, turnsPerConv = 8, seed = 92,
      stepSeconds = 300, burstLen = 1000)
    val raw = graft.gen.DeterministicGen.transcripts(spark, spec)
    val gen = graft.gen.DeterministicGen.generatedTwin(raw, maxSkewSeconds = 60, seed = 92)
    val batchResult = ProvenanceJoin.join(raw, gen, "2 minutes")
    val rawSrc = tmp("arena-prov-raw"); val genSrc = tmp("arena-prov-gen")
    writeBatches(rawSrc, Seq(raw))
    writeBatches(genSrc, Seq(gen))
    val streamed = withArenaProvider {
      def fileStream(dir: String) = spark.readStream
        .schema(GuardianStream.turnSchema).parquet(dir)
        .withWatermark("ts", "10 minutes")
      val q = ProvenanceJoin.join(fileStream(rawSrc), fileStream(genSrc), "2 minutes")
        .writeStream
        .option("checkpointLocation", tmp("arena-prov-ck"))
        .outputMode("append")
        .format("memory").queryName("arena_prov_out")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table("arena_prov_out")
    }
    assert(streamed.count() == batchResult.count())
    assert(streamed.exceptAll(batchResult).count() == 0)
    assert(batchResult.exceptAll(streamed).count() == 0)
  }

  test("provenance join-state EVICTION under a real watermark equals the batch join on in-horizon pairs (arena)") {
    // VERDICT r4 item 5: the standing-provenance oracle runs with an
    // effectively unbounded watermark, so the join's state-EVICTION path
    // was only unit-tested. This is the composed end-to-end shape: a
    // multi-file ts-ordered replay with a REAL (small) watermark delay,
    // where a subset of gen rows from the earliest time slice arrives two
    // files late — by then the watermark has passed them (their raw
    // partners' join state is evicted and the rows themselves are behind
    // the pre-join late filter), so the stream must emit exactly the
    // batch join MINUS the late-delivered pairs.
    val spec = TranscriptSpec(nConvs = 8, turnsPerConv = 10, seed = 94,
      stepSeconds = 300, burstLen = 1000)
    val raw = graft.gen.DeterministicGen.transcripts(spark, spec)
    val gen = graft.gen.DeterministicGen.generatedTwin(raw, maxSkewSeconds = 60, seed = 94)
    // three ts-ordered slices (conversation offsets span a day, so slicing
    // must be by ts, not turn_idx); each side sliced on its OWN ts
    val qs = raw.withColumn("__uts", unix_timestamp(col("ts")).cast("double"))
      .stat.approxQuantile("__uts", Array(0.33, 0.67), 0.0).map(_.toLong)
    def slices(df: DataFrame): Seq[DataFrame] = Seq(
      df.filter(unix_timestamp(col("ts")) <= qs(0)),
      df.filter(unix_timestamp(col("ts")) > qs(0) &&
        unix_timestamp(col("ts")) <= qs(1)),
      df.filter(unix_timestamp(col("ts")) > qs(1)))
    val genS = slices(gen)
    // Late plant: slice-0 gen rows at least 600 s BELOW the slice-0 upper
    // edge move to the LAST file. The margin matters: watermarks advance
    // with a one-batch lag and state eviction runs at END of batch, so a
    // row just under the boundary can legitimately still match (observed:
    // a raw row AT the boundary survived one extra epoch). 600 s is far
    // outside delay (120 s) + maxSkew (120 s) + twin skew (60 s), so every
    // planted pair is provably beyond the eviction horizon.
    val isLate = col("turn_idx") <= 2 && unix_timestamp(col("ts")) <= qs(0) - 600
    val lateKeys = genS(0).filter(isLate)
      .select(col("conv_id"), col("turn_idx")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(lateKeys.nonEmpty, "fixture must plant late rows")
    val genLate = Seq(
      genS(0).filter(!isLate), genS(1), genS(2).union(genS(0).filter(isLate)))
    val rawSrc = tmp("evict-raw"); val genSrc = tmp("evict-gen")
    writeBatches(rawSrc, slices(raw))
    writeBatches(genSrc, genLate)
    val batchAll = ProvenanceJoin.join(raw, gen, "2 minutes")
    val lateCond = lateKeys
      .map(k => col("conv_id") === k._1 && col("turn_idx") === k._2)
      .reduce(_ || _)
    val expected = batchAll.filter(!lateCond)
    assert(batchAll.count() == spec.totalTurns, "every twin matches in batch")
    // Spark's symmetric hash join and the standing state operator
    // (ProvenanceJoin.stream: one flatMapGroupsWithState, whose removed
    // rows are whole keys)
    Seq[(String, (DataFrame, DataFrame, String) => DataFrame)](
      "evict_out" -> ProvenanceJoin.join, "evict_out_fmgws" -> ProvenanceJoin.stream
    ).foreach { case (name, plan) =>
      val (streamed, removedRows) = withArenaProvider {
        def fileStream(dir: String) = spark.readStream
          .schema(GuardianStream.turnSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(dir)
          .withWatermark("ts", "2 minutes")
        val q = plan(fileStream(rawSrc), fileStream(genSrc), "2 minutes")
          .writeStream
          .option("checkpointLocation", tmp("evict-ck"))
          .outputMode("append")
          .format("memory").queryName(name)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val removed = q.recentProgress
          .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
          .map(_.numRowsRemoved).sum
        (spark.table(name), removed)
      }
      assert(removedRows > 0, s"$name: watermark advance must actually evict join state")
      assert(streamed.count() == expected.count(),
        s"$name: late pairs dropped: ${streamed.count()} vs ${expected.count()} (batch ${batchAll.count()})")
      assert(streamed.exceptAll(expected).count() == 0)
      assert(expected.exceptAll(streamed).count() == 0)
    }
  }

  test("fMGWS dedup (the rowDedup=off A/B path) runs on the arena provider") {
    // flatMapGroupsWithState drives the store through the keyed state
    // manager (struct values with an array field + timeout timestamp
    // column) — a different access pattern from the row-level dedup
    val base = graft.gen.DeterministicGen.transcripts(spark,
      TranscriptSpec(nConvs = 6, turnsPerConv = 10, seed = 93))
    val withDups = graft.gen.DeterministicGen.withDuplicates(base, dupPermille = 200, seed = 93)
    val src = tmp("arena-fmgws-src")
    writeBatches(src, Seq(
      withDups.filter(col("turn_idx") <= 5),
      withDups.filter(col("turn_idx") >= 4)))
    def run(name: String, arena: Boolean): DataFrame = {
      def go(): DataFrame = {
        val s = spark.readStream.schema(GuardianStream.turnSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(src)
          .withWatermark("ts", "365 days")
          .as[Turn]
        val q = DedupState.dedup(s, turnBucketShift = 2).toDF.writeStream
          .option("checkpointLocation", tmp(s"arena-fmgws-ck-$name"))
          .outputMode("append")
          .format("memory").queryName(name)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table(name)
      }
      if (arena) withArenaProvider(go()) else go()
    }
    val a = run("fmgws_arena", arena = true)
    val h = run("fmgws_hdfs", arena = false)
    assert(a.count() == base.count(), "each turn exactly once on arena")
    assert(a.exceptAll(h).count() == 0)
    assert(h.exceptAll(a).count() == 0)
  }

  test("arena provider: resume from checkpoint is identical (cold-start replay)") {
    val base = graft.gen.DeterministicGen.transcripts(spark,
      TranscriptSpec(nConvs = 5, turnsPerConv = 12, seed = 88))
    val slices = Seq(
      base.filter(col("turn_idx") <= 3),
      base.filter(col("turn_idx").between(2, 7)), // replays 2-3
      base.filter(col("turn_idx") >= 6), // replays 6-7
      base.filter(col("turn_idx") >= 10)) // replays 10-11
    // foreachBatch parquet sink (the memory sink cannot recover from a
    // checkpoint); one sub-dir per epoch, overwrite = redelivery-safe
    def runToDir(sourceDir: String, checkpoint: String, outDir: String): Unit = {
      val src = spark.readStream.schema(GuardianStream.turnSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sourceDir)
        .withWatermark("ts", "365 days")
        .as[Turn]
      val q = DedupState.dedupRows(src.toDF).writeStream
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$outDir/batch=$id"); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    withArenaProvider {
      // Run A: all four files in one go
      val srcA = tmp("arena-res-srcA")
      val outA = tmp("arena-res-outA")
      writeBatches(srcA, slices)
      runToDir(srcA, tmp("arena-res-ckA"), outA)
      val full = spark.read.parquet(s"$outA/batch=*")

      // Run B: two files, stop, UNLOAD the cached providers (forces the
      // disk-replay path on resume), two more files, resume
      val srcB = tmp("arena-res-srcB")
      val ckB = tmp("arena-res-ckB")
      val outB = tmp("arena-res-outB")
      writeBatches(srcB, slices.take(2))
      runToDir(srcB, ckB, outB)
      StateStore.stop() // drop in-memory providers: resume must replay files
      slices.drop(2).zipWithIndex.foreach { case (df, i) =>
        val staging = tmp(s"stage-late-$i")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, java.nio.file.Paths.get(srcB, f"f${i + 2}%02d.parquet"))
      }
      runToDir(srcB, ckB, outB)
      val resumed = spark.read.parquet(s"$outB/batch=*")
      assert(full.count() == base.count())
      assert(resumed.count() == base.count(), "resume admits each turn exactly once")
      assert(full.exceptAll(resumed).count() == 0)
      assert(resumed.exceptAll(full).count() == 0)
    }
  }

  test("arena store: copyOnGet returns rows stable across subsequent lookups") {
    val dir = tmp("arena-copy")
    val p = new ArenaStateStoreProvider
    val hc = new Configuration()
    hc.setBoolean("graft.arena.copyOnGet", true)
    p.init(
      StateStoreId(dir, 0L, 0), keySchema, valueSchema,
      NoPrefixKeyStateEncoderSpec(keySchema),
      useColumnFamilies = false, StateStoreConf(spark.sessionState.conf),
      hc, useMultipleValuesPerKey = false, None)
    val s = p.getStore(0, None)
    s.put(key(1, 1), value(100))
    s.put(key(2, 2), value(200))
    val a = s.get(key(1, 1))
    val b = s.get(key(2, 2)) // would repoint a reused row without the flag
    assert(a.getLong(0) == 100 && b.getLong(0) == 200,
      "copyOnGet must keep earlier lookups stable")
    s.commit()
    p.close()
  }

  test("arena store: crash-point fuzz — random batches, aborts, stray temps, lost snapshots replay identically") {
    // Randomized (FIXED seed) sequence of committed/aborted batches
    // against a reference model, with crash artifacts injected between
    // versions: stray .tmp- files (crash between temp write and rename)
    // and, at the end, deletion of the NEWEST snapshot (a publish that
    // never became visible) — every retained version must still replay
    // exactly from the surviving snapshot+delta chain.
    val rnd = new scala.util.Random(987654321L)
    val dir = tmp("arena-fuzz")
    val sqlConf = spark.sessionState.conf.clone()
    sqlConf.setConfString("spark.sql.streaming.stateStore.minDeltasForSnapshot", "3")
    def mkProvider(): ArenaStateStoreProvider = {
      val p = new ArenaStateStoreProvider
      p.init(
        StateStoreId(dir, 0L, 0), keySchema, valueSchema,
        NoPrefixKeyStateEncoderSpec(keySchema),
        useColumnFamilies = false, StateStoreConf(sqlConf),
        new Configuration(), useMultipleValuesPerKey = false, None)
      p
    }
    val p = mkProvider()
    var reference = Map.empty[(Long, Long), Long]
    val history = scala.collection.mutable.ArrayBuffer(reference) // history(v) = state at version v
    var ver = 0L
    val stateDir = new java.io.File(dir, "0/0") // operator 0 / partition 0
    (1 to 40).foreach { _ =>
      val s = p.getStore(ver, None)
      val abortThis = rnd.nextInt(5) == 0
      var work = reference
      (1 to 1 + rnd.nextInt(25)).foreach { _ =>
        val k = (rnd.nextInt(40).toLong + 1, rnd.nextInt(7).toLong)
        if (rnd.nextInt(4) == 0) {
          s.remove(key(k._1, k._2)); work -= k
        } else {
          val v = rnd.nextLong(1000000)
          s.put(key(k._1, k._2), value(v)); work += (k -> v)
        }
      }
      if (abortThis) {
        s.abort() // crash/task-failure: mutations must not survive
      } else {
        s.commit(); ver += 1; reference = work; history += reference
      }
      if (rnd.nextInt(4) == 0) p.doMaintenance() // snapshot cadence 3
      if (rnd.nextInt(3) == 0) {
        // crash between temp write and rename: stray temp must be ignored
        // by recovery and swept by maintenance
        Files.writeString(
          java.nio.file.Paths.get(stateDir.getPath, s".tmp-junk-${rnd.nextInt(1 << 20)}"),
          "torn write")
        ()
      }
    }
    // post-abort in-memory state must equal the reference (same provider)
    val live = p.getStore(ver, None)
    assert(dump(live) == reference); live.abort()
    p.close()
    assert(ver >= 25, s"fuzz committed $ver versions")

    def files(suffix: String): Seq[String] =
      stateDir.listFiles().map(_.getName).filter(_.endsWith(suffix)).toSeq
    assert(files(".gsnapshot").nonEmpty, "maintenance wrote snapshots")

    // cold-start probes at random retained versions
    (1 to 6).foreach { _ =>
      val v = 1 + rnd.nextInt(ver.toInt)
      val p2 = mkProvider()
      val s = p2.getStore(v, None)
      assert(dump(s) == history(v), s"cold replay of version $v diverged")
      s.abort(); p2.close()
    }

    // lose the NEWEST snapshot (publish that never landed): replay of the
    // latest version must fall back to the older snapshot + delta chain
    val snaps = files(".gsnapshot").map(_.stripSuffix(".gsnapshot").toLong).sorted
    assert(new java.io.File(stateDir, s"${snaps.last}.gsnapshot").delete())
    val p3 = mkProvider()
    val s3 = p3.getStore(ver, None)
    assert(dump(s3) == reference, "replay after losing the newest snapshot diverged")
    s3.abort(); p3.close()
  }

  // ---- arena memory: doubling chunks, compaction, honest reporting ----

  private val blobSchema = StructType(Seq(StructField("blob", BinaryType)))
  private val blobProj = UnsafeProjection.create(Array[DataType](BinaryType))

  private def customMetric(m: StateStoreMetrics, name: String): Long =
    m.customMetrics.collectFirst { case (k, v) if k.name == name => v }
      .getOrElse(fail(s"no custom metric $name in ${m.customMetrics}"))

  test("arena store: many small stores each report KiB, not a 4 MiB chunk") {
    // a stream-stream join keeps 4 stores per partition: memory must
    // follow the rows a store holds, not a fixed chunk per store
    val dir = tmp("arena-many")
    (0 until 64).foreach { part =>
      val p = newProvider(dir, partition = part)
      val s = p.getStore(0, None)
      (0 until 100).foreach(i => s.put(key(part, i), value(i)))
      s.commit()
      val m = s.metrics
      assert(m.numKeys == 100)
      assert(m.memoryUsedBytes <= (256L << 10),
        s"partition $part reports ${m.memoryUsedBytes} bytes for 100 rows")
      assert(customMetric(m, "arenaLiveBytes") <= customMetric(m, "arenaAllocatedBytes"))
      p.close()
    }
  }

  test("arena store: eviction churn compacts the arena and replays identically") {
    val dir = tmp("arena-churn")
    val p = newProvider(dir)
    val s1 = p.getStore(0, None)
    (0 until 50000).foreach(i => s1.put(key(i, i), value(i)))
    s1.commit()
    val s2 = p.getStore(1, None)
    (100 until 50000).foreach(i => s2.remove(key(i, i)))
    s2.commit()
    val m = s2.metrics
    assert(m.memoryUsedBytes < (512L << 10), s"after churn: ${m.memoryUsedBytes} bytes")
    assert(customMetric(m, "arenaCompactions") == 1)
    assert(customMetric(m, "arenaDeadBytes") == 0)
    var expected = (0 until 100).map(i => (i.toLong, i.toLong) -> i.toLong).toMap
    // the compacted map serves reads and takes writes
    val s3 = p.getStore(2, None)
    assert(dump(s3) == expected)
    assert((0 until 100).forall(i => s3.get(key(i, i)).getLong(0) == i))
    s3.put(key(200, 200), value(200))
    s3.remove(key(0, 0))
    s3.commit()
    expected = expected - ((0L, 0L)) + ((200L, 200L) -> 200L)
    val s4 = p.getStore(3, None)
    assert(dump(s4) == expected)
    s4.abort()
    p.close()
    val p2 = newProvider(dir) // cold start: replay 1..3.gdelta
    val s5 = p2.getStore(3, None)
    assert(dump(s5) == expected)
    s5.abort()
    p2.close()
  }

  test("arena store: a hand-written v1 delta replays, and a commit writes the same bytes") {
    // the on-disk layout, spelled out: LZ4 block stream of big-endian
    // [klen][vlen][key][value] records, a remove as [klen][-1][key], then -2
    val rows = new java.io.ByteArrayOutputStream
    def int(i: Int): Unit = rows.write(java.nio.ByteBuffer.allocate(4).putInt(i).array())
    def put(k: UnsafeRow, v: UnsafeRow): Unit = {
      int(k.getSizeInBytes); int(v.getSizeInBytes); rows.write(k.getBytes); rows.write(v.getBytes)
    }
    def del(k: UnsafeRow): Unit = { int(k.getSizeInBytes); int(-1); rows.write(k.getBytes) }
    put(key(1, 1), value(11))
    put(key(2, 2), value(20))
    put(key(1, 1), value(11))
    del(key(2, 2))
    put(key(3, 3), value(30))
    int(-2)
    val expected = rows.toByteArray
    assert(expected.length == 4 * (8 + 24 + 16) + (8 + 24) + 4) // no header, no padding

    val handDir = tmp("arena-v1-hand")
    val deltaDir = java.nio.file.Paths.get(handDir, "0", "0")
    Files.createDirectories(deltaDir)
    val out = new net.jpountz.lz4.LZ4BlockOutputStream(
      Files.newOutputStream(deltaDir.resolve("1.gdelta")))
    try out.write(expected) finally out.close()
    val p1 = newProvider(handDir)
    val s1 = p1.getStore(1, None)
    assert(dump(s1) == Map((1L, 1L) -> 11L, (3L, 3L) -> 30L))
    s1.abort()
    p1.close()

    // the same ops through a store publish exactly these bytes (the
    // journal writes each put's current bytes, so the first put of
    // (1, 1), updated in place, reads 11)
    val dir = tmp("arena-v1-written")
    val p2 = newProvider(dir)
    val s2 = p2.getStore(0, None)
    s2.put(key(1, 1), value(10))
    s2.put(key(2, 2), value(20))
    s2.put(key(1, 1), value(11))
    s2.remove(key(2, 2))
    s2.put(key(3, 3), value(30))
    s2.commit()
    p2.close()
    val in = new net.jpountz.lz4.LZ4BlockInputStream(
      Files.newInputStream(java.nio.file.Paths.get(dir, "0", "0", "1.gdelta")))
    val written = try in.readAllBytes() finally in.close()
    assert(written.sameElements(expected))
  }

  test("arena store: oversized rows survive put, get, iterate and replay") {
    def blob(n: Int, seed: Int): UnsafeRow = {
      val b = new Array[Byte](n)
      new scala.util.Random(seed).nextBytes(b)
      blobProj(InternalRow(b)).copy()
    }
    // an entry is [klen][vlen] + 24-byte key + (16 + payload)-byte value
    val maxPayload = (4 << 20) - 8 - 24 - 16
    val rowsIn = Seq(
      key(1, 1) -> blob(100, 1),
      key(2, 2) -> blob(100000, 2), // larger than the first 64 KiB chunk
      key(3, 3) -> blob(100, 3),
      key(4, 4) -> blob(maxPayload, 4), // key + value = 4 MiB - 8 bytes
      key(5, 5) -> blob(100, 5))
    assert(rowsIn(3)._1.getSizeInBytes + rowsIn(3)._2.getSizeInBytes == (4 << 20) - 8)
    def contents(store: ReadStateStore): Map[(Long, Long), Seq[Byte]] = {
      val it = store.iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
      try it.map(p => (p.key.getLong(0), p.key.getLong(1)) ->
        p.value.getBinary(0).toSeq).toMap
      finally it.close()
    }
    val expected = rowsIn.map { case (k, v) =>
      (k.getLong(0), k.getLong(1)) -> v.getBinary(0).toSeq }.toMap
    val dir = tmp("arena-oversized")
    val p = newProvider(dir, valueSchema = blobSchema)
    val s = p.getStore(0, None)
    rowsIn.foreach { case (k, v) => s.put(k, v) }
    rowsIn.foreach { case (k, v) =>
      assert(s.get(k).getBinary(0).sameElements(v.getBinary(0)))
    }
    assert(contents(s) == expected)
    // one word (rows pad to 8 bytes) past the limit is refused, and leaves
    // no trace
    intercept[IllegalArgumentException](s.put(key(6, 6), blob(maxPayload + 8, 6)))
    assert(s.get(key(6, 6)) == null)
    s.commit()
    p.close()
    val p2 = newProvider(dir, valueSchema = blobSchema)
    val s2 = p2.getStore(1, None)
    assert(contents(s2) == expected)
    s2.abort()
    p2.close()
  }

  test("arena store: a superseded entry under an empty key does not hide later entries") {
    // a global aggregate keys its state on a zero-field row; once its
    // value changes length, the dead entry's stored klen is 0 | sign bit
    // and must not read as a chunk's pad marker
    val emptyKey = UnsafeProjection.create(Array.empty[DataType])(InternalRow()).copy()
    val dir = tmp("arena-empty-key")
    val p = newProvider(dir, keySchema = StructType(Nil), valueSchema = blobSchema)
    val s = p.getStore(0, None)
    s.put(emptyKey, blobProj(InternalRow(Array[Byte](1))).copy())
    s.put(emptyKey, blobProj(InternalRow(Array.fill[Byte](20)(2))).copy())
    def values(store: ReadStateStore): Seq[Seq[Byte]] = {
      val it = store.iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
      try it.map(_.value.getBinary(0).toSeq).toList finally it.close()
    }
    assert(values(s) == Seq(Seq.fill[Byte](20)(2)))
    s.commit()
    p.close()
  }

  test("arena provider: progress events carry the arena's custom metrics") {
    val base = graft.gen.DeterministicGen.transcripts(spark,
      TranscriptSpec(nConvs = 4, turnsPerConv = 6, seed = 95))
    val src = tmp("arena-metrics-src")
    writeBatches(src, Seq(base))
    val ops = withArenaProvider {
      val s = spark.readStream.schema(GuardianStream.turnSchema)
        .parquet(src)
        .withWatermark("ts", "365 days")
      val q = DedupState.dedupRows(s).writeStream
        .option("checkpointLocation", tmp("arena-metrics-ck"))
        .outputMode("append")
        .format("memory").queryName("arena_metrics_out")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq.flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
    }
    assert(ops.nonEmpty && ops.exists(_.numRowsTotal > 0))
    ops.foreach { op =>
      val cm = op.customMetrics
      Seq("arenaAllocatedBytes", "arenaLiveBytes", "arenaDeadBytes", "arenaCompactions")
        .foreach(n => assert(cm.containsKey(n), s"missing $n in $cm"))
      assert(cm.get("arenaLiveBytes") <= cm.get("arenaAllocatedBytes"), cm.toString)
      assert(cm.get("arenaAllocatedBytes") <= op.memoryUsedBytes, cm.toString)
    }
    assert(ops.exists(_.customMetrics.get("arenaLiveBytes") > 0))
  }
}
