package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.gen.DeterministicGen
import graft.gen.DeterministicGen.TranscriptSpec

/** Seeded workload inputs, written once per (workload, seed, size) under
  * `<work>/gen` and reused by later runs with the same key.
  *
  * Files are cut in ARRIVAL order: a row's arrival time is its on-time
  * event time, so a planted late row (whose `ts` the generator shifts two
  * session gaps earlier) stays in the file it arrived with and reaches
  * the engine genuinely late. Range-partitioning by the shifted `ts`
  * would file every late row early and none would arrive late.
  */
object Inputs {

  /** A generated input: `files` in arrival order, their rows, the planted
    * late rows, and the generation time (`genS`, measured when the input
    * was first written).
    */
  final case class Input(dir: Path, files: Seq[Path], rows: Long, plantedLate: Long, genS: Double)

  /** Fixed base for file mtimes: the file source takes files in mtime
    * order, one second apart in arrival order.
    */
  val mtimeBaseMs = 1735689600000L
  private val keepPerWorkload = 24

  private def metaOf(dir: Path): Map[String, String] =
    Files.readAllLines(dir.resolve("meta.txt")).asScala
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap

  private def filesOf(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  /** Return the cached input `key`, or generate it with `write` (which
    * fills the given directory and returns its meta entries).
    */
  private def cached(o: Opts, key: String)(write: Path => Map[String, String]): Path = {
    val root = o.work.resolve("gen")
    val dir = root.resolve(key)
    if (!Files.exists(dir.resolve("meta.txt"))) {
      Files.createDirectories(root)
      val tmp = root.resolve(s"$key.tmp")
      Stats.rmTree(tmp)
      Files.createDirectories(tmp)
      val t0 = System.nanoTime()
      val meta = write(tmp)
      val genS = (System.nanoTime() - t0) / 1e9
      Files.write(tmp.resolve("meta.txt"), (meta + ("gen_s" -> genS.toString)).map { case (k, v) => s"$k=$v" }.toSeq.asJava)
      Stats.rmTree(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      evict(root, o.workload, dir)
    }
    dir
  }

  /** Keep only the newest few cached inputs of a workload. */
  private def evict(root: Path, workload: String, keep: Path): Unit = {
    val s = Files.list(root)
    val mine = try s.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(workload + "-") && p != keep &&
        Files.exists(p.resolve("meta.txt"))).toSeq
    finally s.close()
    mine.sortBy(p => -Files.getLastModifiedTime(p.resolve("meta.txt")).toMillis)
      .drop(keepPerWorkload - 1).foreach(Stats.rmTree)
  }

  /** Write `sorted` (partitions in arrival order, rows in arrival order
    * within each) as files of at most `perFile` rows (0: one file per
    * partition), renamed to `out/f-00000.parquet`, ... in row order, with
    * mtimes one second apart in the same order.
    */
  private def writeInOrder(sorted: DataFrame, perFile: Long, stage: Path, out: Path): Unit = {
    sorted.write.option("maxRecordsPerFile", perFile).parquet(stage.toString)
    Files.createDirectories(out)
    // part-<partition>-<uuid>-c<file within the partition>: name order is
    // row order
    val parts = {
      val s = Files.list(stage)
      try s.iterator().asScala.filter(p =>
        p.getFileName.toString.startsWith("part-") && p.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }.sortBy(_.getFileName.toString)
    parts.zipWithIndex.foreach { case (p, i) =>
      val target = out.resolve(f"f-$i%05d.parquet")
      Files.move(p, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(mtimeBaseMs + i * 1000L))
    }
    Stats.rmTree(stage)
  }

  private val keys = Seq("conv_id", "turn_idx")
  private val turnCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts").map(col)

  /** A transcript backlog with planted duplicates and late rows, cut into
    * `nFiles` arrival-ordered files (range partitions of the arrival order,
    * so of about equal size). Also records the keys of planted late rows
    * (`late/`), which is every row the engine may drop as late.
    */
  def backlog(spark: SparkSession, o: Opts, spec: TranscriptSpec,
      dupPermille: Int, nFiles: Int): Input = {
    val key = s"${o.workload}-s${o.seed}-n$nFiles-t${spec.totalTurns}"
    val dir = cached(o, key) { tmp =>
      // both are per-row projections of the same spark.range, so their
      // partitions line up row for row: zip instead of a join on the keys
      val planted = DeterministicGen.transcripts(spark, spec)
      val onTime = DeterministicGen.transcripts(spark, spec.copy(latePermille = 0)).select("ts")
      val turns = spark.createDataFrame(
        planted.rdd.zip(onTime.rdd).map { case (t, a) => Row.fromSeq(t.toSeq :+ a.get(0)) },
        planted.schema.add("arrival", TimestampType)).persist()
      val replayed = DeterministicGen.withDuplicates(turns, dupPermille, spec.seed)
      val rows = replayed.count()
      val order = Seq("arrival", "conv_id", "turn_idx").map(col)
      writeInOrder(
        replayed.repartitionByRange(nFiles, order: _*).sortWithinPartitions(order: _*)
          .select(turnCols: _*),
        0L, tmp.resolve("stage"), tmp.resolve("files"))
      turns.filter(col("ts") =!= col("arrival")).select(keys.map(col): _*)
        .write.parquet(tmp.resolve("late").toString)
      val late = spark.read.parquet(tmp.resolve("late").toString).count()
      turns.unpersist()
      Map("rows" -> rows.toString, "late" -> late.toString)
    }
    load(dir, "files")
  }

  /** Raw transcripts and their generated twin (±60 s event-time skew),
    * both cut into the same `nFiles` arrival-ordered files: file i of
    * either side holds the same (conv_id, turn_idx) keys.
    */
  def twin(spark: SparkSession, o: Opts, spec: TranscriptSpec, nFiles: Int): (Input, Input) = {
    val key = s"${o.workload}-s${o.seed}-n$nFiles-t${spec.totalTurns}"
    val dir = cached(o, key) { tmp =>
      val raw = DeterministicGen.transcripts(spark, spec)
        .repartition(1).sortWithinPartitions("ts", "conv_id", "turn_idx").persist()
      val perFile = (spec.totalTurns + nFiles - 1) / nFiles
      writeInOrder(raw, perFile, tmp.resolve("stage"), tmp.resolve("raw"))
      // a per-row projection of the same sorted partition: same file cuts
      writeInOrder(DeterministicGen.generatedTwin(raw, 60L, spec.seed), perFile,
        tmp.resolve("stage"), tmp.resolve("gen"))
      raw.unpersist()
      Map("rows" -> spec.totalTurns.toString, "late" -> "0")
    }
    (load(dir, "raw"), load(dir, "gen"))
  }

  private def load(dir: Path, sub: String): Input = {
    val m = metaOf(dir)
    Input(dir, filesOf(dir.resolve(sub)), m("rows").toLong, m("late").toLong, m("gen_s").toDouble)
  }

  /** Copy `files` into a fresh source directory, keeping their mtimes. */
  def stage(files: Seq[Path], into: Path): Path = {
    Stats.rmTree(into)
    Files.createDirectories(into)
    files.foreach(f => Files.copy(f, into.resolve(f.getFileName),
      StandardCopyOption.COPY_ATTRIBUTES))
    into
  }
}
