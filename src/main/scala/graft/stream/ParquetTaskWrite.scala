package graft.stream

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.conf.ParquetConfiguration
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** IceLite's one parquet write path: each task writes its partition of a
  * frame straight to one attempt-unique file under `<root>/<rel>/` and
  * returns that file's stats — no Hadoop output committer, no `_SUCCESS`,
  * no `.crc`, no rename, and no footer read afterwards.
  *
  * File names: partition `pid` writes `part-<pid>-<attempt>.parquet`, the
  * first `attempt` (0, 1, …) whose name it creates EXCLUSIVELY — so no two
  * attempts (a retried task, a redelivered epoch, a duplicate commit) ever
  * share a file, and two runs that write the same epochs without a failure
  * name their files, and hence their manifests, byte for byte alike.
  *
  * The write is a plan node (`ParquetTaskWriteNode`), planned by
  * `ParquetTaskWriteStrategy` into `ParquetTaskWriteExec` over the
  * caller's frame, so `observe()` metrics of that frame ride the one job.
  * A task writes through parquet's `LocalOutputFile` with Spark's own
  * `ParquetWriteSupport`, configured by the few keys
  * `ParquetFileFormat.prepareWrite` sets plus the session's `parquet.*`
  * keys (codec level and the like): the bytes equal those Spark's parquet
  * writer produces for the same rows under the same settings. The one
  * setting of its own is the timestamp encoding (`taskConf`).
  */
object ParquetTaskWrite {

  /** One written file: its path relative to the table root, the partition
    * that wrote it, its row count and its `conv_id` range ("" when the
    * table has no string `conv_id` or the file no non-null one).
    */
  final case class Written(rel: String, pid: Int, rows: Long, convIdMin: String, convIdMax: String)

  /** Schema of the rows the write returns, one per non-empty partition. */
  private val resultSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pid", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("conv_id_min", StringType, nullable = false),
    StructField("conv_id_max", StringType, nullable = false)))

  /** Write `df`'s partitions to `<root>/<rel>/part-<pid>-<attempt>.parquet`,
    * a partition with no rows writing no file, in one Spark job. Returns
    * the files ordered by partition.
    */
  def apply(df: DataFrame, root: String, rel: String): Seq[Written] = {
    val spark = df.sparkSession
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(ParquetTaskWriteStrategy))
      spark.experimental.extraStrategies = ParquetTaskWriteStrategy +: strategies
    val node = ParquetTaskWriteNode(root, rel, CatalystBridge.logicalPlan(df),
      DataTypeUtils.toAttributes(resultSchema))
    CatalystBridge.ofRows(spark, node).collect().toSeq
      .map(r => Written(r.getString(0), r.getInt(1), r.getLong(2), r.getString(3), r.getString(4)))
      .sortBy(_.pid)
  }

  /** Test seam: runs in the writing task after each data file is closed,
    * before the task returns its stats. The crash-point tests throw from
    * it to fail an epoch after its data write.
    */
  @volatile private[graft] var afterFile: java.nio.file.Path => Unit = _ => ()

  /** The task conf: the session's `parquet.*` keys, then what
    * `ParquetFileFormat.prepareWrite` sets for `schema` — the codec, the
    * write support's schema and Spark's parquet write flags. A dozen keys
    * instead of the session's whole Hadoop conf. Then the timestamp
    * encoding: INT64 `TIMESTAMP_MICROS`, and `parquet.enable.dictionary#<col>`
    * off for each top-level `TimestampType` column. Event times are close
    * to unique per row, so a dictionary of them never pays; Spark's
    * default INT96 costs 12 bytes a value before compression. Files written
    * in INT96 (every sink written before this encoding) read the same.
    */
  private[stream] def taskConf(spark: SparkSession, schema: StructType): Map[String, String] = {
    val conf = new Configuration(false)
    spark.sessionState.newHadoopConf().getPropsWithPrefix("parquet.").asScala
      .foreach { case (k, v) => conf.set(s"parquet.$k", v) }
    val job = Job.getInstance(conf)
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val written = job.getConfiguration
    written.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    schema.fields.filter(_.dataType == TimestampType)
      .foreach(f => written.setBoolean(s"$ColumnDictionary${f.name}", false))
    written.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  /** Prefix of parquet's per-column dictionary switch. */
  private val ColumnDictionary = s"${ParquetOutputFormat.ENABLE_DICTIONARY}#"

  /** `build()` asks for the write support by `ParquetConfiguration`; the
    * `Configuration` variant is abstract.
    */
  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
    override def getWriteSupport(conf: ParquetConfiguration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** A writer of the (created, empty) `file` configured as
    * `ParquetOutputFormat` configures one from `conf`, per-column
    * dictionary switches included (the builder does not read those).
    */
  private def writer(file: java.nio.file.Path, conf: Configuration): ParquetWriter[InternalRow] = {
    val builder = new Builder(new LocalOutputFile(file))
    conf.iterator().asScala.map(_.getKey).filter(_.startsWith(ColumnDictionary))
      .foreach(k => builder.withDictionaryEncoding(k.stripPrefix(ColumnDictionary), conf.getBoolean(k, false)))
    builder
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withConf(conf)
      .withCompressionCodec(ParquetOutputFormat.getCompression(conf))
      .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
      .withPageSize(ParquetOutputFormat.getPageSize(conf))
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
      .withValidation(ParquetOutputFormat.getValidation(conf))
      .withPageWriteChecksumEnabled(ParquetOutputFormat.getPageWriteChecksumEnabled(conf))
      .build()
  }

  /** One task: write `rows` to a new file, return its one stats row. */
  private[stream] def writePartition(root: String, rel: String, conf: Map[String, String],
      convOrdinal: Int, pid: Int, rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    if (!rows.hasNext) return Iterator.empty
    val dir = Paths.get(root, rel)
    Files.createDirectories(dir)
    val file = Iterator.from(0).map(a => dir.resolve(f"part-$pid%05d-$a.parquet")).find { f =>
      try { Files.createFile(f); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }.get
    val hadoopConf = new Configuration(false)
    conf.foreach { case (k, v) => hadoopConf.set(k, v) }
    val out = writer(file, hadoopConf)
    var n = 0L
    var lo: UTF8String = null
    var hi: UTF8String = null
    try rows.foreach { r =>
      out.write(r)
      n += 1
      if (convOrdinal >= 0 && !r.isNullAt(convOrdinal)) {
        val c = r.getUTF8String(convOrdinal)
        // rows may share one buffer: keep copies
        if (lo == null || c.binaryCompare(lo) < 0) lo = c.clone()
        if (hi == null || c.binaryCompare(hi) > 0) hi = c.clone()
      }
    } finally out.close()
    afterFile(file)
    def str(s: UTF8String) = if (s == null) UTF8String.EMPTY_UTF8 else s
    Iterator.single(UnsafeProjection.create(resultSchema)(InternalRow(
      UTF8String.fromString(s"$rel/${file.getFileName}"), pid, n, str(lo), str(hi))))
  }
}

/** Logical write of `child` under `<root>/<rel>`; `output` is one stats
  * row per written file. It references every child column, so no rule
  * prunes what it writes.
  */
private[stream] case class ParquetTaskWriteNode(
    root: String, rel: String, child: LogicalPlan, output: Seq[Attribute]) extends UnaryNode {
  override lazy val references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): ParquetTaskWriteNode =
    copy(child = newChild)
}

private[stream] case class ParquetTaskWriteExec(
    root: String, rel: String, child: SparkPlan, output: Seq[Attribute]) extends UnaryExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val (root, rel) = (this.root, this.rel)
    val schema = child.schema
    val conf = ParquetTaskWrite.taskConf(session, schema)
    val convOrdinal = schema.fields.indexWhere(f => f.name == "conv_id" && f.dataType == StringType)
    child.execute().mapPartitionsWithIndex((pid, rows) =>
      ParquetTaskWrite.writePartition(root, rel, conf, convOrdinal, pid, rows))
  }
  override protected def withNewChildInternal(newChild: SparkPlan): ParquetTaskWriteExec =
    copy(child = newChild)
}

/** Plans `ParquetTaskWriteNode` (registered on the session by the first write). */
private[stream] object ParquetTaskWriteStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ParquetTaskWriteNode(root, rel, child, output) =>
      ParquetTaskWriteExec(root, rel, planLater(child), output) :: Nil
    case _ => Nil
  }
}
