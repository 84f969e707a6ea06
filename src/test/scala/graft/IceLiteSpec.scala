package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructType, TimestampType}
import graft.gen.DeterministicGen
import graft.gen.DeterministicGen.TranscriptSpec
import graft.lineage.DataLineage
import graft.stream._

/** The IceLite table format: tasks write their own parquet files, the
  * manifest lists them and is the only commit. Byte identity with Spark's
  * parquet writer, the timestamp encoding, listed-file reads next to
  * orphans, empty epochs, sinks in Spark's INT96 encoding, the refusal of
  * manifests written before they listed their files, and sink hygiene.
  */
class IceLiteSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def walk(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.toList finally s.close()
  }

  private def turns(seed: Int): DataFrame =
    Windows.withQualityFlags(DeterministicGen.transcripts(spark,
      TranscriptSpec(nConvs = 6, turnsPerConv = 8, seed = seed)))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val lin = (_: Map[String, Any]) => new DataLineage("t")

  test("a task-written data file is byte-identical to Spark's parquet writer's, snappy and zstd") {
    val df = turns(61).repartition(3).withColumn("pid", spark_partition_id())
    val codecs = Seq(Map.empty[String, String], Map(
      "spark.sql.parquet.compression.codec" -> "zstd",
      "parquet.compression.codec.zstd.level" -> "1"))
    // the sink's timestamp encoding, given to Spark's writer
    val tsType = SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key
    val noTsDictionary = df.schema.fields.filter(_.dataType == TimestampType)
      .map(f => s"parquet.enable.dictionary#${f.name}" -> "false").toMap
    assert(noTsDictionary.nonEmpty)
    for (conf <- codecs) withClue(s"$conf: ") {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val sparkDir = tmp("bytes-spark")
        spark.conf.set(tsType, "TIMESTAMP_MICROS")
        try df.write.options(noTsDictionary).mode("overwrite").parquet(sparkDir)
        finally spark.conf.unset(tsType)
        val root = tmp("bytes-task")
        val written = ParquetTaskWrite(df, root, "data")
        assert(written.map(_.pid) == Seq(0, 1, 2))
        val bySpark = new java.io.File(sparkDir).listFiles().toSeq
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
          .map(f => f.getName.substring(5, 10).toInt -> Files.readAllBytes(f.toPath)).toMap
        written.foreach { w =>
          val ours = Files.readAllBytes(Paths.get(root, w.rel))
          assert(java.util.Arrays.equals(ours, bySpark(w.pid)),
            s"${w.rel}: ${ours.length} B vs ${bySpark(w.pid).length} B")
        }
        assert(written.map(_.rows).sum == df.count())
        assert(IceLite.footerStats(Paths.get(root, "data").toString).map(p =>
          (p.pid, p.rowCount, p.convIdMin, p.convIdMax)) ==
          written.map(w => (w.pid, w.rows, w.convIdMin, w.convIdMax)))
      } finally conf.keys.foreach(spark.conf.unset)
    }
  }

  /** Each slice as one parquet file fNN.parquet under `dir`. */
  private def writeSlices(dir: String, slices: Seq[DataFrame]): Unit =
    slices.zipWithIndex.foreach { case (df, i) =>
      val staging = tmp(s"stage-$i")
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(dir))
      Files.move(part.toPath, Paths.get(dir, f"f$i%02d.parquet"))
    }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def manifestJson(root: String, name: String) =
    mapper.readTree(Files.readString(Paths.get(root, "manifests", name)))

  /** Every data file some manifest or marker of the table at `root` lists. */
  private def listedFiles(root: String): Set[Path] =
    PosixCommitIO.listNames(Paths.get(root, "manifests")).filter(_.endsWith(".json"))
      .flatMap(n => Option(manifestJson(root, n).get("files")).toSeq
        .flatMap(_.elements().asScala.map(f => Paths.get(root, f.asText()))))
      .toSet

  /** Per column of a parquet file's footer: (physical type, logical type,
    * whether any row group's chunk of it is dictionary-encoded).
    */
  private def columnEncodings(file: Path): Map[String, (String, String, Boolean)] = {
    val reader = ParquetFileReader.open(new LocalInputFile(file))
    try {
      val chunks = reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      chunks.groupBy(_.getPath.toDotString).map { case (col, cs) =>
        val t = cs.head.getPrimitiveType
        col -> (t.getPrimitiveTypeName.toString, String.valueOf(t.getLogicalTypeAnnotation),
          cs.exists(c => c.hasDictionaryPage || c.getEncodings.asScala.exists(_.usesDictionary)))
      }
    } finally reader.close()
  }

  /** The `TimestampType` columns of the table at `root`, from its manifest schema. */
  private def timestampColumns(root: String): Seq[String] = {
    val name = PosixCommitIO.listNames(Paths.get(root, "manifests")).filter(_.startsWith("manifest-")).min
    org.apache.spark.sql.types.DataType.fromJson(manifestJson(root, name).get("schema").toString)
      .asInstanceOf[StructType].fields.filter(_.dataType == TimestampType).map(_.name).toSeq
  }

  /** The data files manifest or marker `name` of the table at `root` lists. */
  private def filesOf(root: String, name: String): Seq[Path] =
    manifestJson(root, name).get("files").elements().asScala.map(f => Paths.get(root, f.asText())).toSeq

  /** Each of `files` of the table at `root` stores `tsCols` as INT64
    * microseconds (UTC-adjusted) with no dictionary. `pid`, one value per
    * epoch file, keeps its dictionary wherever one pays (more than one row).
    */
  private def assertEncoding(root: String, files: Iterable[Path], tsCols: Seq[String]): Unit = {
    assert(files.nonEmpty && timestampColumns(root) == tsCols)
    files.foreach { f =>
      val enc = columnEncodings(f)
      tsCols.foreach(c => assert(enc(c) == (("INT64", "TIMESTAMP(MICROS,true)", false)), s"$f $c"))
      val rows = { val r = ParquetFileReader.open(new LocalInputFile(f)); try r.getRecordCount finally r.close() }
      assert(enc.get("pid").forall(_._3 || rows < 2), s"$f: pid keeps its dictionary")
    }
  }

  test("start and startProvenance epochs store timestamps as INT64 micros with no dictionary page") {
    val src = tmp("enc-src")
    writeSlices(src, slices(70))
    val cfg = guardianCfg(src, "enc")
    GuardianStream.start(spark, cfg).awaitTermination()
    assertEncoding(cfg.sinkDir, listedFiles(cfg.sinkDir), Seq("ts"))

    val raw = slices(71)
    val (rawDir, genDir, sink) = (tmp("enc-raw"), tmp("enc-gen"), tmp("enc-prov"))
    writeSlices(rawDir, raw)
    writeSlices(genDir, raw.map(DeterministicGen.generatedTwin(_, maxSkewSeconds = 60, seed = 71)))
    GuardianStream.startProvenance(spark, rawDir, genDir, tmp("enc-prov-ck"), sink,
      watermarkDelay = "365 days", availableNow = true, maxFilesPerTrigger = Some(1)).awaitTermination()
    assertEncoding(sink, listedFiles(sink), Seq("raw_ts", "gen_ts"))
  }

  /** Rewrite every listed file of committed epoch `b` of the table at
    * `root` with Spark's default parquet writer (INT96 timestamps), in
    * place: the manifest still lists it.
    */
  private def toInt96(root: String, b: Long): Unit =
    filesOf(root, f"manifest-$b%09d.json").foreach { f =>
      val staging = tmp("int96")
      spark.read.parquet(f.toString).coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(columnEncodings(f)("ts")._1 == "INT96")
    }

  test("a table mixing Spark's INT96 epochs with INT64 epochs reads the same, and compacts to INT64") {
    val src = tmp("mixed-src")
    writeSlices(src, slices(72))
    val cfg = guardianCfg(src, "mixed")
    GuardianStream.start(spark, cfg).awaitTermination()
    val root = cfg.sinkDir
    val conv = "conv-000003"
    val epochs = IceLite.committedBatches(root)
    def reads() = (rowsOf(IceLite.read(spark, root)),
      rowsOf(IceLite.readConv(spark, root, conv)),
      epochs.map(b => IceLite.readEpoch(spark, root, b).map(rowsOf).getOrElse(Seq.empty)))
    val before = reads()
    assert(before._1.size == 48 && before._2.nonEmpty)
    val withData = epochs.filter(b => filesOf(root, f"manifest-$b%09d.json").nonEmpty)
    val int96 = withData.filter(_ % 2 == 0)
    assert(int96.nonEmpty && int96.size < withData.size)
    int96.foreach(toInt96(root, _))
    assert(reads() == before)
    assert(IceLite.compact(spark, root))
    assert(rowsOf(IceLite.read(spark, root)) == before._1)
    assert(rowsOf(IceLite.readConv(spark, root, conv)) == before._2)
    val marker = PosixCommitIO.listNames(Paths.get(root, "manifests")).filter(_.startsWith("compact-")).max
    assertEncoding(root, filesOf(root, marker), Seq("ts"))
  }

  test("an unlisted data file changes no read; expiry removes it once stale, never a listed one") {
    val root = tmp("orphan")
    assert(IceLite.commit(turns(62).repartition(2), root, 0L)(lin).nonEmpty)
    def reads() = (rowsOf(IceLite.read(spark, root)),
      rowsOf(IceLite.readConv(spark, root, "conv-000001")),
      rowsOf(IceLite.readEpoch(spark, root, 0L).get),
      // a batch that never committed makes no rows visible
      IceLite.readEpoch(spark, root, 1L).map(rowsOf))
    val before = reads()
    assert(before._1.size == 48 && before._2.size == 8 && before._4.isEmpty)
    val listed = listedFiles(root).toSeq
    assert(listed.size == 2)
    // a copy of a listed file would double its rows if it were read; one
    // more in the dir of an epoch that never committed
    val planted = Seq(
      Paths.get(root, "data", "batch=0", "part-00000-planted.parquet"),
      Paths.get(root, "data", "batch=1", "part-00000-crashed.parquet"))
    planted.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.copy(listed.head, p)
    }
    assert(reads() == before)
    assert(IceLite.expireCompacted(root) == 0, "fresh orphans stay")
    val hourAgo = System.currentTimeMillis() - 60L * 60 * 1000
    (planted ++ listed).foreach(p => assert(p.toFile.setLastModified(hourAgo)))
    assert(IceLite.expireCompacted(root) == 2)
    assert(planted.forall(p => !Files.exists(p)) && listed.forall(p => Files.exists(p)))
    assert(reads() == before)
  }

  test("a provenance table where no epoch matched reads as an empty frame of its manifest schema") {
    val raw = DeterministicGen.transcripts(spark, TranscriptSpec(nConvs = 3, turnsPerConv = 4, seed = 63))
    val gen = raw.withColumn("conv_id", concat(lit("other-"), col("conv_id")))
    val (rawDir, genDir, sink) = (tmp("nomatch-raw"), tmp("nomatch-gen"), tmp("nomatch-sink"))
    writeSlices(rawDir, Seq(raw))
    writeSlices(genDir, Seq(gen))
    GuardianStream.startProvenance(spark, rawDir, genDir, tmp("nomatch-ck"), sink,
      availableNow = true).awaitTermination()
    assert(IceLite.committedBatches(sink).nonEmpty)
    assert(!Files.exists(Paths.get(sink, "data")), "an empty epoch writes no file")
    val read = IceLite.read(spark, sink)
    assert(read.count() == 0)
    def fields(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(fields(read) == fields(ProvenanceJoin.join(raw, gen)))
    assert(IceLite.readEpoch(spark, sink, IceLite.committedBatches(sink).head).isEmpty)
  }

  test("a drain leaves no .crc, _SUCCESS or _temporary under the sink, and every data file is listed") {
    val src = tmp("hygiene-src")
    writeSlices(src, slices(64))
    val cfg = GuardianStream.StreamConfig(
      sourceDir = src, checkpointDir = tmp("hygiene-ck"), sinkDir = tmp("hygiene-sink"),
      maxFilesPerTrigger = Some(1), availableNow = true, sessionGap = Some("30 minutes"),
      compactEvery = Some(2))
    GuardianStream.start(spark, cfg).awaitTermination()
    val sessions = Paths.get(cfg.sinkDir, "sessions").toString
    assert(IceLite.compactSources(sessions)._1.nonEmpty, "the sessions table compacted")
    val entries = walk(cfg.sinkDir)
    val litter = entries.map(_.getFileName.toString)
      .filter(n => n.endsWith(".crc") || n == "_SUCCESS" || n == "_temporary")
    assert(litter.isEmpty, s"committer litter: $litter")
    val data = entries.filter(p => p.toString.endsWith(".parquet"))
    assert(data.nonEmpty)
    assert(data.toSet == listedFiles(cfg.sinkDir) ++ listedFiles(sessions),
      s"unlisted: ${data.toSet -- listedFiles(cfg.sinkDir) -- listedFiles(sessions)}")
  }

  /** Four time-ordered source slices of one transcript set. */
  private def slices(seed: Int): Seq[DataFrame] = {
    val t = DeterministicGen.transcripts(spark, TranscriptSpec(nConvs = 6, turnsPerConv = 8, seed = seed))
    (0 until 4).map(i => t.filter(col("turn_idx") >= i * 2 && col("turn_idx") < i * 2 + 2))
  }

  /** A drain of one slice per epoch; the slices are not time-ordered
    * across conversations, so the watermark delay keeps every row.
    */
  private def guardianCfg(src: String, tag: String) = GuardianStream.StreamConfig(
    sourceDir = src, checkpointDir = tmp(s"$tag-ck"), sinkDir = tmp(s"$tag-sink"),
    watermarkDelay = "365 days", maxFilesPerTrigger = Some(1), availableNow = true,
    sessionGap = Some("30 minutes"))

  /** Rewrite committed epoch `b` of the table at `root` in the layout
    * written before manifests listed their files: Spark's output
    * directory (`_SUCCESS`, `.crc` side files) and a manifest without
    * "files" or "schema".
    */
  private def toOldLayout(root: String, b: Long): Unit = {
    val name = f"manifest-$b%09d.json"
    val node = manifestJson(root, name).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val files = node.get("files").elements().asScala.map(f => Paths.get(root, f.asText()).toString).toSeq
    val schema = org.apache.spark.sql.types.DataType.fromJson(node.get("schema").toString)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val rows =
      if (files.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else spark.read.parquet(files: _*)
    val staging = tmp("old-layout")
    rows.write.mode("overwrite").parquet(staging)
    IceLite.rmTree(Paths.get(root, "data", s"batch=$b").toFile)
    Files.createDirectories(Paths.get(root, "data"))
    Files.move(Paths.get(staging), Paths.get(root, "data", s"batch=$b"))
    node.remove("files"); node.remove("schema")
    Files.writeString(Paths.get(root, "manifests", name),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
  }

  test("a manifest without a file list is refused by every reader") {
    val src = tmp("old-src")
    writeSlices(src, slices(65))
    val cfg = guardianCfg(src, "old")
    GuardianStream.start(spark, cfg).awaitTermination()
    val root = cfg.sinkDir
    val old = IceLite.committedBatches(root).head
    val name = f"manifest-$old%09d.json"
    assert(IceLite.committedBatches(root).size >= 2 && filesOf(root, name).nonEmpty)
    toOldLayout(root, old)
    val names = walk(root).map(_.getFileName.toString)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), "Spark's output layout")
    // every epoch holds every conversation, so the point read plans the old one too
    val reads = Seq[(String, () => Any)](
      "read" -> (() => IceLite.read(spark, root)),
      "readConv" -> (() => IceLite.readConv(spark, root, "conv-000002")),
      "readEpoch" -> (() => IceLite.readEpoch(spark, root, old)),
      "compact" -> (() => IceLite.compact(spark, root)),
      "expireCompacted" -> (() => IceLite.expireCompacted(root)))
    reads.foreach { case (op, run) =>
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains(Paths.get(root, "manifests", name).toString) &&
        e.getMessage.contains("older IceLite layout"), s"$op: ${e.getMessage}")
    }
    assert(!Files.exists(Paths.get(root, "compact")), "the refused compaction wrote nothing")
  }

  // ---- crash points of an epoch's commit ----

  private final class Crash(msg: String) extends RuntimeException(msg)

  /** Where an epoch's commit is cut: in a writing task after its data
    * file is closed, in the manifest publish after its temp file is
    * written, or after the manifest is published (before the epoch's
    * quality and session publishes).
    */
  private sealed trait Point
  private case object AfterDataWrite extends Point
  private case object AtPublish extends Point
  private case object AfterPublish extends Point

  /** Publishes through `PosixCommitIO`, except that the publish of
    * `target` fails once, before or after its link.
    */
  private final class FaultyCommitIO(target: Path, afterLink: Boolean) extends CommitIO {
    private val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def exists(p: Path): Boolean = PosixCommitIO.exists(p)
    def listNames(dir: Path): Seq[String] = PosixCommitIO.listNames(dir)
    def publishIfAbsent(t: Path, content: String): Boolean =
      if (t != target || !armed.getAndSet(false)) PosixCommitIO.publishIfAbsent(t, content)
      else if (afterLink) {
        PosixCommitIO.publishIfAbsent(t, content)
        throw new Crash(s"after publishing $t")
      } else {
        Files.createDirectories(t.getParent)
        Files.writeString(t.getParent.resolve(s"${PosixCommitIO.TmpPrefix}crash"), content)
        throw new Crash(s"publishing $t")
      }
  }

  /** Run `drain` with the commit of epoch `epoch` of the table at `root`
    * cut at `point`; the drain must fail.
    */
  private def crashing(root: String, epoch: Long, point: Point)(drain: => Unit): Unit = {
    val manifest = Paths.get(root, "manifests", f"manifest-$epoch%09d.json")
    val epochDir = Paths.get(root, "data", s"batch=$epoch")
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    point match {
      case AfterDataWrite => ParquetTaskWrite.afterFile = f =>
        if (f.getParent == epochDir && armed.getAndSet(false)) throw new Crash(s"after writing $f")
      case AtPublish => IceLite.commitIO = new FaultyCommitIO(manifest, afterLink = false)
      case AfterPublish => IceLite.commitIO = new FaultyCommitIO(manifest, afterLink = true)
    }
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[Crash]), s"failed for another reason: $e")
    } finally {
      ParquetTaskWrite.afterFile = _ => ()
      IceLite.commitIO = PosixCommitIO
    }
    assert(IceLite.isCommitted(root, epoch) == (point == AfterPublish))
  }

  /** A seeded subset of (crash point, epoch) pairs: every point once, at
    * an epoch in 0..2 of four data epochs.
    */
  private def crashPoints(seed: Int): Seq[(Point, Long)] = {
    val rng = new scala.util.Random(seed)
    Seq(AfterDataWrite, AtPublish, AfterPublish).map(p => p -> rng.nextInt(3).toLong)
  }

  private def manifests(root: String) =
    IceLite.committedBatches(root).map(IceLite.readManifest(root, _))

  test("start: a crash at any commit step, then a restart from the checkpoint, equals an uninterrupted run") {
    val parts = slices(66)
    val src = tmp("crash-src")
    writeSlices(src, parts)
    val whole = guardianCfg(src, "crash-whole")
    GuardianStream.start(spark, whole).awaitTermination()
    def view(cfg: GuardianStream.StreamConfig) = (
      rowsOf(IceLite.read(spark, cfg.sinkDir)),
      manifests(cfg.sinkDir),
      rowsOf(GuardianStream.readQuality(spark, cfg.sinkDir)),
      rowsOf(GuardianStream.readSessionQuality(spark, cfg.sinkDir)))
    val expected = view(whole)
    assert(expected._1.size == 48)
    for ((point, epoch) <- crashPoints(67)) withClue(s"$point at epoch $epoch: ") {
      val cfg = guardianCfg(src, s"crash-$point")
      crashing(cfg.sinkDir, epoch, point)(GuardianStream.start(spark, cfg).awaitTermination())
      GuardianStream.start(spark, cfg).awaitTermination()
      assert(view(cfg) == expected)
    }
  }

  test("startProvenance: a crash at any commit step, then a restart from the checkpoint, equals an uninterrupted run") {
    val raw = slices(68)
    val gen = raw.map(DeterministicGen.generatedTwin(_, maxSkewSeconds = 60, seed = 68))
    val (rawDir, genDir) = (tmp("pcrash-raw"), tmp("pcrash-gen"))
    writeSlices(rawDir, raw)
    writeSlices(genDir, gen)
    def drain(ck: String, sink: String): Unit =
      GuardianStream.startProvenance(spark, rawDir, genDir, ck, sink,
        watermarkDelay = "365 days", availableNow = true,
        maxFilesPerTrigger = Some(1)).awaitTermination()
    val whole = tmp("pcrash-whole")
    drain(tmp("pcrash-whole-ck"), whole)
    val expected = (rowsOf(IceLite.read(spark, whole)), manifests(whole))
    assert(expected._1.size == 48)
    for ((point, epoch) <- crashPoints(69)) withClue(s"$point at epoch $epoch: ") {
      val (ck, sink) = (tmp(s"pcrash-$point-ck"), tmp(s"pcrash-$point-sink"))
      crashing(sink, epoch, point)(drain(ck, sink))
      drain(ck, sink)
      assert((rowsOf(IceLite.read(spark, sink)), manifests(sink)) == expected)
    }
  }
}
