package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import graft.gen.DeterministicGen
import graft.gen.DeterministicGen.TranscriptSpec
import graft.stream._

/** A local file system under a scheme of its own: a non-`file:` path the
  * checkpoint manager must hand to Spark's own manager.
  */
class OtherSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftother:///")
}

/** The engine's checkpoint manager: Spark's `CheckpointFileManager`
  * contract over java.nio, delegation for other schemes, and resume of a
  * checkpoint Hadoop's FileContext wrote.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def manager(dir: String, conf: Configuration = new Configuration()) =
    new LocalCheckpointFileManager(new Path(dir), conf)

  private def names(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  private def publish(fm: CheckpointFileManager, p: Path, content: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(content.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("checkpoint manager: a no-overwrite publish onto an existing file throws and leaves the target intact") {
    val dir = tmp("cfm-noover")
    val fm = manager(dir)
    val p = new Path(dir, "0")
    publish(fm, p, "first", overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes("UTF-8"))
    // HDFSMetadataLog reads this exception as "another writer got there"
    intercept[FileAlreadyExistsException](out.close())
    out.cancel()
    assert(read(fm, p) == "first")
    assert(names(dir) == Seq("0"), "no temp file left behind")
  }

  test("checkpoint manager: an overwrite replaces the target atomically") {
    val dir = tmp("cfm-over")
    val fm = manager(dir)
    val p = new Path(dir, "1.gdelta")
    val (a, b) = ("a" * 1000, "b" * 3000)
    publish(fm, p, a, overwrite = true)
    // a checksum Hadoop wrote for the old bytes must not outlive them
    Files.writeString(Paths.get(dir, ".1.gdelta.crc"), "stale")
    // a reader racing the replaces sees one whole version, never a torn
    // or missing file
    @volatile var stop = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => while (!stop) seen.add(read(fm, p)))
    reader.start()
    (1 to 200).foreach(i => publish(fm, p, if (i % 2 == 0) a else b, overwrite = true))
    stop = true
    reader.join()
    assert(!seen.isEmpty)
    assert(seen.asScala.forall(s => s == a || s == b), "a read saw a torn file")
    assert(read(fm, p) == a)
    assert(names(dir) == Seq("1.gdelta"), "no temp or stale .crc left behind")
  }

  test("checkpoint manager: cancel() leaves no file") {
    val dir = tmp("cfm-cancel")
    val fm = manager(dir)
    Seq(false, true).foreach { overwrite =>
      val out = fm.createAtomic(new Path(dir, s"v-$overwrite"), overwrite)
      out.write("torn".getBytes("UTF-8"))
      out.cancel()
      out.close() // a cancelled write never publishes
      out.cancel()
    }
    assert(names(dir).isEmpty)
    assert(!fm.exists(new Path(dir, "v-false")))
  }

  test("checkpoint manager: a path with another scheme is delegated to Spark's manager") {
    val dir = tmp("cfm-other")
    val conf = new Configuration()
    conf.set("fs.graftother.impl", classOf[OtherSchemeFileSystem].getName)
    conf.setBoolean("fs.graftother.impl.disable.cache", true)
    // the key names this very class: delegation must not recurse through it
    conf.set(LocalCheckpointFileManager.ManagerClassKey, classOf[LocalCheckpointFileManager].getName)
    val other = manager(s"graftother://$dir", conf)
    assert(other.impl.isInstanceOf[FileSystemBasedCheckpointFileManager], other.impl.getClass)
    val p = new Path(s"graftother://$dir/0")
    publish(other, p, "via spark", overwrite = false)
    assert(read(other, p) == "via spark")
    assert(Files.readString(Paths.get(dir, "0")) == "via spark")
    // local paths, with and without a scheme, stay on java.nio
    Seq(s"file:$dir", dir).foreach { d =>
      val fm = manager(d, conf)
      assert(fm.impl.getClass.getName.startsWith("graft."), fm.impl.getClass)
      assert(fm.isLocal)
    }
  }

  // ---- resume of a checkpoint written through Hadoop's FileContext ----

  private def writeFile(dir: String, i: Int, df: DataFrame): Unit = {
    val staging = tmp(s"cfm-stage-$i")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(dir))
    Files.move(part.toPath, Paths.get(dir, f"f$i%02d.parquet"))
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def crcFiles(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".crc")).toSeq
    finally s.close()
  }

  private def manifestBytes(sink: String): Map[String, Seq[Byte]] = {
    val m = Paths.get(sink, "manifests")
    names(m.toString).map(n => n -> Files.readAllBytes(m.resolve(n)).toSeq).toMap
  }

  test("checkpoint manager: a checkpoint Hadoop's FileContext wrote (with .crc files) resumes to identical manifests and rows") {
    val spec = TranscriptSpec(nConvs = 10, turnsPerConv = 12, seed = 41, stepSeconds = 30)
    val base = DeterministicGen.transcripts(spark, spec)
    val withDups = DeterministicGen.withDuplicates(base, dupPermille = 150, seed = 41)
    val slices = Seq(
      withDups.filter(col("turn_idx") <= 3),
      withDups.filter(col("turn_idx") > 3 && col("turn_idx") <= 6),
      withDups.filter(col("turn_idx") > 6 && col("turn_idx") <= 9),
      withDups.filter(col("turn_idx") > 9))
    val hadoopManager = LocalCheckpointFileManager.ManagerClassKey ->
      classOf[FileContextBasedCheckpointFileManager].getName

    /** Drain files 0-1, then files 2-3 from the same checkpoint; the
      * second half runs on the engine's manager unless `hadoopThroughout`.
      */
    def run(tag: String, hadoopThroughout: Boolean): (String, String) = {
      val src = tmp(s"cfm-src-$tag")
      val cfg = GuardianStream.StreamConfig(
        sourceDir = src, checkpointDir = tmp(s"cfm-ck-$tag"), sinkDir = tmp(s"cfm-sink-$tag"),
        watermarkDelay = "365 days", maxFilesPerTrigger = Some(1), availableNow = true)
      withConf("spark.sql.streaming.stateStore.providerClass" ->
          "graft.stream.state.ArenaStateStoreProvider") {
        slices.take(2).zipWithIndex.foreach { case (df, i) => writeFile(src, i, df) }
        withConf(hadoopManager)(GuardianStream.start(spark, cfg).awaitTermination())
        assert(crcFiles(cfg.checkpointDir).nonEmpty, "FileContext wrote .crc side files")
        slices.drop(2).zipWithIndex.foreach { case (df, i) => writeFile(src, i + 2, df) }
        if (hadoopThroughout) withConf(hadoopManager)(GuardianStream.start(spark, cfg).awaitTermination())
        else GuardianStream.start(spark, cfg).awaitTermination()
      }
      (cfg.checkpointDir, cfg.sinkDir)
    }
    val (_, hadoopSink) = run("hadoop", hadoopThroughout = true)
    val (ck, resumedSink) = run("resumed", hadoopThroughout = false)

    val hadoopManifests = manifestBytes(hadoopSink)
    assert(hadoopManifests.size >= 4)
    assert(manifestBytes(resumedSink) == hadoopManifests, "manifests differ byte for byte")
    val (a, b) = (IceLite.read(spark, hadoopSink), IceLite.read(spark, resumedSink))
    assert(a.count() == spec.totalTurns)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // the resumed epochs' offset and commit files carry no checksum
    val resumedOffsets = Paths.get(ck, "offsets")
    val last = names(resumedOffsets.toString).filter(_.forall(_.isDigit)).maxBy(_.toLong)
    assert(!Files.exists(resumedOffsets.resolve(s".$last.crc")))
  }
}
