package graft.stream

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.lineage.DataLineage

/** The filesystem contract the exactly-once commit rests on — ONE
  * primitive: publish-if-absent of a small manifest file, atomic and
  * winner-takes-all under concurrent publishers.
  *
  * Portability (VERDICT r1 §wrong-6): the default implementation
  * publishes with a POSIX hard link, which fails when the target exists —
  * correct for local disks, NFS and HDFS-like stores. Object stores have
  * no link — a 100 TB deployment on S3/GCS/ABFS implements this trait
  * with the store's conditional put instead (`If-None-Match: *` on S3,
  * `ifGenerationMatch=0` on GCS, ETag precondition on ABFS), which gives
  * the same winner-takes-all semantics. It is the ONLY commit: data files
  * are written by the tasks under attempt-unique names and are visible
  * exactly when a published manifest lists them, so no output committer,
  * rename or `_SUCCESS` marker sits underneath it. Everything else IceLite
  * does (data-file writes, manifest reads and lists) is plain
  * write-new-object / read / list and needs no atomicity.
  */
trait CommitIO {
  def exists(p: Path): Boolean
  def listNames(dir: Path): Seq[String]
  /** Atomically create `target` with `content` iff absent; false if lost
    * the race (target already exists).
    */
  def publishIfAbsent(target: Path, content: String): Boolean
}

/** Default: temp file + hard link to the target (`linkIfAbsent`). */
object PosixCommitIO extends CommitIO {
  def exists(p: Path): Boolean = Files.exists(p)
  def listNames(dir: Path): Seq[String] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val stream = Files.list(dir)
    try stream.iterator().asScala.map(_.getFileName.toString).toSeq
    finally stream.close()
  }
  /** Name prefix of the temp file a publish writes next to its target. */
  val TmpPrefix = ".tmp-"

  def publishIfAbsent(target: Path, content: String): Boolean = {
    val tmp = target.getParent.resolve(s"$TmpPrefix${java.util.UUID.randomUUID()}")
    Files.createDirectories(target.getParent)
    Files.writeString(tmp, content)
    linkIfAbsent(tmp, target)
  }

  /** Make the written file `tmp` visible as `target` iff `target` is
    * absent — atomic and winner-takes-all; false when `target` already
    * existed. `tmp` is removed either way. createLink is atomic AND fails
    * with EEXIST when the target exists. (Files.move with ATOMIC_MOVE maps
    * to rename(2) on Linux, which silently REPLACES an existing target —
    * last-writer-wins, NOT winner-takes-all; caught by the publish-race
    * test.) The engine's checkpoint manager publishes through it too.
    */
  def linkIfAbsent(tmp: Path, target: Path): Boolean =
    try {
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      Files.deleteIfExists(tmp)
      ()
    }
}

/** IceLite — an Iceberg-emulating table layout: Parquet data files made
  * visible only by atomically-published JSON manifests.
  *
  * The north rule requires an "Iceberg audit sink with per-partition
  * lineage manifests (conv_id-range, offsets, checkpoint epoch)" and
  * exactly-once semantics. No Iceberg runtime jar exists in the offline
  * sandbox (SURVEY.md §7.3), so this implements precisely the subset of
  * Iceberg's contract the north star uses:
  *
  *  - data files land under `data/batch=<epoch>/` and are INVISIBLE to
  *    readers until `manifests/manifest-<epoch>.json` is published
  *    winner-takes-all; readers scan exactly the files a manifest lists, so
  *    a crashed or duplicated `foreachBatch` invocation, or a failed task,
  *    leaves no visible trace;
  *  - a manifest that already exists short-circuits the commit
  *    (idempotent by batch id ⇒ exactly-once under Structured Streaming's
  *    at-least-once `foreachBatch` retries);
  *  - each manifest records per-partition lineage: partition id, row
  *    count, conv_id min/max, plus the batch's lineage event log — any
  *    output row is traceable to its source micro-batch by (epoch,
  *    partition, conv_id range).
  *
  * Layout (flat — `pid` is a DATA column, not a directory: `partitionBy`
  * would force a per-batch sort; each task writes one attempt-unique file
  * `part-<pid>-<attempt>.parquet` and returns its stats, see
  * `ParquetTaskWrite`):
  * {{{
  *   <root>/data/batch=<epoch>/part-<pid>-<attempt>.parquet   (pid, conv_id, … columns)
  *   <root>/manifests/manifest-<epoch %09d>.json
  *       ("partitions": per-pid stats, "files": the epoch's data files,
  *        "schema": the table schema, "lineage")
  *   <root>/compact/<upto>-<attempt>/part-<pid>-<attempt>.parquet
  *   <root>/manifests/compact-<upto %09d>.json
  *       ("path": "compact/<upto>-<attempt>", "files", "schema")
  * }}}
  * A partition with no rows writes no file; an empty epoch lists none and
  * still records its schema. Readers read exactly this layout: a data
  * table's manifest or marker without its "files" and "schema" (or a
  * marker without its "path" and "row_count") is an older layout, which
  * every reader refuses by name rather than guessing at its files.
  *
  * File encoding: Spark's parquet writer settings (the session's codec),
  * except that every timestamp column (`ts`, `raw_ts`, `gen_ts`) is INT64
  * `TIMESTAMP(MICROS)` with no dictionary, since event times are close to
  * unique per row. Epochs written in Spark's default INT96 read alongside
  * them, and `compact` rewrites them in this encoding.
  *
  * One lifecycle serves the tables the guardian writes: `commit` lands
  * an epoch of the audit, provenance and session-partials tables,
  * `compact` folds a table's committed epochs into one, and
  * `expireCompacted` deletes what a compaction superseded — also on the
  * quality table, whose epochs and compactions are manifests with no
  * data files.
  */
object IceLite {

  /** The commit seam — swap for an object-store CommitIO in deployments
    * without POSIX hard links (see the CommitIO scaladoc).
    */
  @volatile var commitIO: CommitIO = PosixCommitIO

  private val mapper = new ObjectMapper()

  final case class PartitionManifest(
      pid: Int, rowCount: Long, convIdMin: String, convIdMax: String)
  final case class Manifest(
      batchId: Long,
      datasetId: String,
      rowCount: Long,
      partitions: Seq[PartitionManifest],
      lineageJson: String)

  private[stream] def manifestPath(root: String, batchId: Long): Path =
    Paths.get(root, "manifests", f"manifest-$batchId%09d.json")

  /** Epoch `batchId`'s data dir, relative to the table root — the one
    * place that knows the `data/batch=<epoch>` layout.
    */
  private def epochRel(batchId: Long): String = s"data/batch=$batchId"

  private object EpochDir {
    private val Name = """batch=(\d+)""".r
    def unapply(name: String): Option[Long] = name match {
      case Name(n) => Some(n.toLong)
      case _ => None
    }
  }

  private def epochDir(root: String, batchId: Long): Path =
    Paths.get(root, epochRel(batchId))

  private[stream] def compactMarkerPath(root: String, upTo: Long): Path =
    Paths.get(root, "manifests", f"compact-$upTo%09d.json")

  /** A manifest-directory entry: `manifest-<n>.json` is epoch n's
    * manifest, `compact-<n>.json` the marker of a compaction up to epoch
    * n. Other names (publish temp files) do not match.
    */
  private object TableFile {
    private val Name = """(manifest|compact)-(\d+)\.json""".r
    def unapply(name: String): Option[(String, Long)] = name match {
      case Name(kind, n) => Some((kind, n.toLong))
      case _ => None
    }
  }

  def isCommitted(root: String, batchId: Long): Boolean =
    commitIO.exists(manifestPath(root, batchId))

  def committedBatches(root: String): Seq[Long] =
    commitIO.listNames(Paths.get(root, "manifests"))
      .collect { case TableFile("manifest", b) => b }
      .sorted

  /** Idempotent exactly-once commit of one epoch — the one write path of
    * the audit, provenance and session tables. Returns the `metrics` the
    * write job observed (empty when none are given), or None when the
    * batch id was already committed (a duplicate foreachBatch delivery,
    * or a concurrent commit that published first).
    *
    * An epoch already committed is still run to its end, writing nothing:
    * a micro-batch's stateful operators commit their state version only
    * once every partition is consumed, and Spark fails the batch when
    * they did not (a restart after a crash between this publish and the
    * checkpoint's commit log redelivers such an epoch).
    *
    * ONE Spark job: rows are stamped with `spark_partition_id()` as `pid`
    * (a DATA column, not a partition directory: `partitionBy` would force
    * a sort of every micro-batch), each task writes its partition to one
    * attempt-unique file and returns the file's stats (row count, conv_id
    * min/max, pid), and `metrics` ride the same job as `observe()`
    * aggregates. The manifest — the files, the schema, the per-partition
    * stats and the lineage `lineage` builds from the observed values — is
    * published last and is the only commit, so the epoch stays invisible
    * until committed. Its per-partition stats describe exactly the rows
    * with that `pid`: the (conv_id-range, epoch, partition) triple the
    * north star requires.
    */
  def commit(df: DataFrame, root: String, batchId: Long, metrics: Column*)(
      lineage: Map[String, Any] => DataLineage): Option[Map[String, Any]] = {
    if (isCommitted(root, batchId)) {
      df.write.format("noop").mode("overwrite").save()
      return None
    }
    val stamped = df.withColumn("pid", spark_partition_id())
    val observation = Option.when(metrics.nonEmpty)(Observation())
    val written = ParquetTaskWrite(
      observation.fold(stamped)(stamped.observe(_, metrics.head, metrics.tail: _*)),
      root, epochRel(batchId))
    val observed = observation.fold(Map.empty[String, Any])(_.get)
    val lin = lineage(observed)
    val stats = written.map(w => PartitionManifest(w.pid, w.rows, w.convIdMin, w.convIdMax))
    val manifest = Manifest(batchId, lin.datasetId, stats.map(_.rowCount).sum, stats, lin.toJson)
    Option.when(writeManifest(root, manifest, written.map(_.rel), stamped.schema))(observed)
  }

  /** One file's (pid, rows, conv_id range) from its parquet footer. */
  private def footerOf(
      f: java.io.File,
      conf: org.apache.hadoop.conf.Configuration): Option[PartitionManifest] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      var cmin: String = null
      var cmax: String = null
      var pid = -1
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val st = c.getStatistics
          if (st != null && !st.isEmpty) {
            c.getPath.toDotString match {
              case "conv_id" =>
                val mn = st.genericGetMin match {
                  case bin: org.apache.parquet.io.api.Binary => bin.toStringUsingUTF8
                  case o => o.toString
                }
                val mx = st.genericGetMax match {
                  case bin: org.apache.parquet.io.api.Binary => bin.toStringUsingUTF8
                  case o => o.toString
                }
                if (cmin == null || mn < cmin) cmin = mn
                if (cmax == null || mx > cmax) cmax = mx
              case "pid" =>
                pid = st.genericGetMin.toString.toDouble.toInt
              case _ =>
            }
          }
        }
      }
      if (rows == 0) None
      else Some(PartitionManifest(pid, rows, Option(cmin).getOrElse(""), Option(cmax).getOrElse("")))
    } finally reader.close()
  }

  /** Per-partition stats of the parquet files under `dataDir`, from their
    * FOOTERS' column statistics, read driver-side with no Spark job. Not on
    * the commit path (the writing tasks return these stats) nor on any
    * read path: it describes a directory as it stands (perfbench times it).
    */
  def footerStats(dataDir: String): Seq[PartitionManifest] = {
    // Footer reads are independent small-file reads — do them in parallel,
    // on a DEDICATED bounded pool: the shared ForkJoinPool.commonPool is
    // also used elsewhere in a driver JVM.
    val files: Array[java.io.File] = parquetFiles(new java.io.File(dataDir)).toArray
    files
      .map(f => java.util.concurrent.CompletableFuture.supplyAsync(
        () => footerOf(f, footerConf), footerPool))
      .flatMap(_.join())
      .groupBy(_.pid)
      .map { case (pid, ms) =>
        PartitionManifest(
          pid,
          ms.map(_.rowCount).sum,
          ms.map(_.convIdMin).min,
          ms.map(_.convIdMax).max)
      }
      .toSeq
      .sortBy(_.pid)
  }

  private def parquetFiles(f: java.io.File): Seq[java.io.File] = {
    val fs = Option(f.listFiles()).getOrElse(Array.empty).toSeq
    fs.filter(x => x.isFile && x.getName.endsWith(".parquet")) ++
      fs.filter(_.isDirectory).flatMap(parquetFiles)
  }

  /** One Hadoop conf for every footer read: a fresh `Configuration`
    * re-parses core-default.xml on first use. Footer reads only read it.
    */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Shared bounded pool for footer reads — one per process, daemon
    * threads.
    */
  private lazy val footerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "icelite-footer")
      t.setDaemon(true)
      t
    })

  private def writeManifest(root: String, m: Manifest, files: Seq[String],
      schema: StructType): Boolean = {
    val node = mapper.createObjectNode()
    node.put("batch_id", m.batchId)
    node.put("dataset_id", m.datasetId)
    node.put("row_count", m.rowCount)
    val parts = node.putArray("partitions")
    m.partitions.foreach { p =>
      val pn = parts.addObject()
      pn.put("pid", p.pid)
      pn.put("row_count", p.rowCount)
      pn.put("conv_id_min", p.convIdMin)
      pn.put("conv_id_max", p.convIdMax)
      pn.put("path", epochRel(m.batchId))
    }
    putListing(node, files, schema)
    node.set[JsonNode](
      "lineage", mapper.readTree(m.lineageJson))
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
    // Winner-takes-all atomic publish through the CommitIO seam.
    commitIO.publishIfAbsent(manifestPath(root, m.batchId), json)
  }

  /** Record what a manifest or marker makes visible: its data files
    * (relative to the table root; `part-<pid>-…` names bind each to its
    * partition) and the table schema, which an epoch or table with no rows
    * still has.
    */
  private def putListing(node: com.fasterxml.jackson.databind.node.ObjectNode,
      files: Seq[String], schema: StructType): Unit = {
    val fs = node.putArray("files")
    files.foreach(fs.add)
    node.set[JsonNode]("schema", mapper.readTree(schema.json))
    ()
  }

  /** What a data table's manifest or marker makes visible: its listed
    * files (absolute) and the table schema, which an epoch or table with
    * no rows still has.
    */
  private final case class Listing(files: Seq[String], schema: StructType)

  /** A manifest or marker, parsed once. */
  private final case class Parsed(path: Path, json: JsonNode) {
    /** Field `name`, which this build always writes into a data table's
      * manifests (and markers). A table file without it is an older
      * layout this build does not read: refused by name, not guessed at.
      */
    def field(name: String): JsonNode = Option(json.get(name)).getOrElse(
      throw new IllegalStateException(
        s"$path has no \"$name\" field: it is an older IceLite layout, which this build " +
          "does not read. Start the query on a new sink and checkpoint."))

    def listing(root: String): Listing = Listing(
      field("files").elements().asScala.map(f => Paths.get(root, f.asText()).toString).toSeq,
      DataType.fromJson(field("schema").toString).asInstanceOf[StructType])
  }

  private def parsed(p: Path): Parsed = Parsed(p, mapper.readTree(Files.readString(p)))

  /** The sources of one snapshot, each parsed once: the marker of
    * compaction `latest` (if any), then the `residual` epoch manifests.
    * Readers and compaction plan from one listing — re-listing could see
    * a compaction or an epoch published in between.
    */
  private def sourcesOf(root: String, latest: Option[Long], residual: Seq[Long]): Seq[Parsed] =
    latest.map(u => parsed(compactMarkerPath(root, u))).toSeq ++
      residual.map(b => parsed(manifestPath(root, b)))

  private def partitionsOf(manifest: JsonNode): Seq[PartitionManifest] =
    manifest.get("partitions").elements().asScala.map { pn =>
      PartitionManifest(
        pn.get("pid").asInt(), pn.get("row_count").asLong(),
        pn.get("conv_id_min").asText(), pn.get("conv_id_max").asText())
    }.toSeq

  def readManifest(root: String, batchId: Long): Manifest = {
    val node = parsed(manifestPath(root, batchId)).json
    Manifest(
      node.get("batch_id").asLong(), node.get("dataset_id").asText(),
      node.get("row_count").asLong(), partitionsOf(node),
      mapper.writeValueAsString(node.get("lineage")))
  }

  /** Snapshot read: the latest COMPACTED table (if any) plus residual
    * committed batches — O(compacted) paths instead of one directory per
    * epoch since stream start. Uncompacted tables read exactly as before
    * (every manifest-listed batch; uncommitted dirs never visible).
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val (latest, residual) = compactSources(root)
    scan(spark, root, sourcesOf(root, latest, residual).map(_.listing(root)))
  }

  /** Whether an epoch manifest's per-partition (conv_id_min, conv_id_max)
    * ranges can contain `convId`.
    */
  private def mayHold(manifest: JsonNode, convId: String): Boolean =
    partitionsOf(manifest).exists(p => p.convIdMin <= convId && convId <= p.convIdMax)

  /** Residual epoch batches whose manifest per-partition
    * (conv_id_min, conv_id_max) ranges can contain `convId` — the
    * driver-side pruning set for a point audit. Exposed for tests.
    */
  private[graft] def convBatches(root: String, convId: String): Seq[Long] =
    compactSources(root)._2.filter(b => mayHold(parsed(manifestPath(root, b)).json, convId))

  /** Point audit lookup: all audit rows of ONE conversation, planning
    * only the epochs that can contain it. The north star's promise is
    * that any output row is traceable by (epoch, partition, conv_id
    * range) — at deployment horizons the trace query must USE those
    * manifest stats, not scan the table: residual epoch dirs are pruned
    * driver-side from their manifests' per-partition conv ranges (zero
    * Spark jobs for the pruning), and the compacted table (if any) is
    * included with the conv_id predicate pushed to its parquet
    * row-group stats. Equals `read(...).filter(conv_id = convId)`
    * exactly (asserted by StreamingSpec).
    */
  def readConv(spark: SparkSession, root: String, convId: String): DataFrame = {
    val (latest, residual) = compactSources(root)
    val (marker, epochs) = sourcesOf(root, latest, residual).splitAt(latest.size)
    val listings = (marker ++ epochs.filter(e => mayHold(e.json, convId))).map(_.listing(root))
    // schema-stable empty result when no source can contain the conv: the
    // first epoch's schema with no file to scan, rather than an invented one
    scan(spark, root,
      if (listings.nonEmpty) listings else epochs.take(1).map(_.listing(root).copy(files = Nil)))
      .filter(col("conv_id") === convId)
  }

  /** The rows of `listings`, `pid` dropped: exactly their listed files,
    * read with the schema the first listing recorded, so that building the
    * frame reads no footer and starts no schema-inference job (a bare
    * `spark.read.parquet` starts one). With no file to scan, the empty
    * frame of that schema.
    */
  private def scan(spark: SparkSession, root: String, listings: Seq[Listing]): DataFrame = {
    require(listings.nonEmpty, s"IceLite table at $root has no committed batches")
    val files = listings.flatMap(_.files)
    val schema = listings.head.schema
    val df =
      if (files.isEmpty)
        // as a file read would: every column nullable
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          StructType(schema.map(_.copy(nullable = true))))
      else spark.read.schema(schema).parquet(files: _*)
    df.drop("pid")
  }

  /** The rows of committed epoch `batchId`, or None when the epoch wrote
    * no parquet (an empty epoch) or has no manifest (a batch that never
    * committed makes no rows visible) — the read-back of one epoch's
    * output.
    */
  def readEpoch(spark: SparkSession, root: String, batchId: Long): Option[DataFrame] =
    epochListing(root, batchId).filter(_.files.nonEmpty).map(l => scan(spark, root, Seq(l)))

  /** The listing of epoch `batchId`'s manifest, None when it has none. */
  private def epochListing(root: String, batchId: Long): Option[Listing] = {
    val manifest = manifestPath(root, batchId)
    Option.when(commitIO.exists(manifest))(parsed(manifest).listing(root))
  }

  // ---- table maintenance: fold epoch dirs into one compacted table ----
  // The small-files discipline a standing query needs at deployment
  // horizons: a month of seconds-cadence epochs is ~10^6 batch
  // directories — listing and scan planning over them dominates any
  // read. Write the folded data invisible, publish its marker
  // winner-takes-all, expire the superseded state separately. The
  // manifest-only quality table folds its manifests the same way
  // (GuardianStream.compactQuality) and expires through the same sweep.

  /** Data dir of a PUBLISHED compacted table: resolved from the marker's
    * `path` field (each compaction attempt writes an attempt-unique dir,
    * so a losing concurrent compactor can never clobber the winner's
    * published data — ADVICE r4). None for a marker with no path — the
    * manifest-only quality table's, which own no data — and for a marker
    * that is gone: a concurrent expiry sweep may delete a SUPERSEDED marker
    * (after its data dir) between the listing and this read.
    */
  private def compactDataDir(root: String, upTo: Long): Option[String] =
    try
      Option(parsed(compactMarkerPath(root, upTo)).json.get("path"))
        .map(p => Paths.get(root, p.asText()).toString)
    catch { case _: java.io.IOException => None }

  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** How long an unreferenced attempt dir, data file or publish temp file
    * must sit untouched before the orphan sweep may remove it — a live
    * parquet write keeps refreshing its files and dir as they land, so only
    * crashed attempts go stale.
    */
  private val OrphanGraceMs = 15L * 60 * 1000

  private def orphanStale(p: Path): Boolean =
    try {
      val cutoff = System.currentTimeMillis() - OrphanGraceMs
      def newest(f: java.io.File): Long =
        if (f.isDirectory)
          (f.lastModified() +:
            Option(f.listFiles()).getOrElse(Array.empty).map(newest).toSeq).max
        else f.lastModified()
      newest(p.toFile) < cutoff
    } catch { case _: Throwable => false }

  /** (latest compacted marker's upto-batch, committed batches after it). */
  def compactSources(root: String): (Option[Long], Seq[Long]) = {
    val names = commitIO.listNames(Paths.get(root, "manifests"))
    val latest = names.collect { case TableFile("compact", u) => u }.maxOption
    val residual = names
      .collect { case TableFile("manifest", b) if latest.forall(b > _) => b }
      .sorted
    (latest, residual)
  }

  /** Fold the residual committed batches (plus the previous compacted
    * table, if any) into ONE compacted parquet table: `rewrite` of their
    * union. The audit tables fold by `identity` — audit rows are
    * immutable facts, so read-before ≡ read-after; the session partials
    * fold by merging interval islands, itself lossless. The marker's
    * `row_count` counts the rows folded in (the folded epoch manifests'
    * counts plus the previous marker's), so accounting survives expiry of
    * the per-epoch manifests. Plans from one parse of each source's
    * manifest or marker. Returns false with < 2 residual batches.
    *
    * Cost note: this rewrite is O(previous compact + residual) — a
    * MAINTENANCE action run at coarse cadence, unlike the every-N-epochs
    * partial compaction (whose tables are tiny). A production rewrite at
    * 100 TB would bin-pack incrementally (rewrite only undersized files,
    * Iceberg's rewrite_data_files); the marker/visibility protocol here
    * is the part that carries over unchanged.
    */
  def compact(spark: SparkSession, root: String,
      rewrite: DataFrame => DataFrame = identity): Boolean = {
    val (latest, residual) = compactSources(root)
    if (residual.size < 2) return false
    val upTo = residual.max
    // a marker for this upTo already exists ⇒ a concurrent compactor won;
    // rewriting would be wasted work (and must never touch its data dir)
    if (commitIO.exists(compactMarkerPath(root, upTo))) return false
    // ATTEMPT-UNIQUE data dir (ADVICE r4): concurrent compactors each
    // write their own dir and race only on the marker publish — the loser
    // deletes its orphan, and readers of the winner's published path are
    // never exposed to a mid-overwrite dir.
    val attemptRel = s"compact/$upTo-${java.util.UUID.randomUUID().toString.take(8)}"
    val sources = sourcesOf(root, latest, residual)
    val rows = sources.map(_.field("row_count").asLong()).sum
    val folded = rewrite(scan(spark, root, sources.map(_.listing(root))))
    val written = ParquetTaskWrite(folded, root, attemptRel)
    val node = mapper.createObjectNode()
    node.put("upto_batch", upTo)
    latest.foreach(node.put("prev_compact", _))
    node.put("path", attemptRel)
    node.put("row_count", rows)
    putListing(node, written.map(_.rel), folded.schema)
    val won = commitIO.publishIfAbsent(
      compactMarkerPath(root, upTo), mapper.writeValueAsString(node))
    if (!won) rmTree(Paths.get(root, attemptRel).toFile)
    won
  }

  /** Expire state superseded by the latest compaction (the Iceberg
    * `expire_snapshots` discipline): folded epoch data dirs and
    * manifests, older compacted tables, and orphan attempt dirs from
    * losing/crashed compactors. Also, compacted or not, manifest publish
    * temp files older than the orphan grace window: a crash between
    * writing one and linking it leaves it behind, and nothing else ever
    * removes it. Likewise stale data files in an epoch directory that no
    * manifest lists: a failed task, or an epoch attempt that crashed
    * before its publish, leaves files no reader scans. On the
    * manifest-only quality table the data deletes find nothing.
    * Superseded manifests are never on the
    * read path (`compactSources` prefers the latest compacted marker), so
    * the delete ORDER within one entry is immaterial for readers;
    * data-first keeps the sweep idempotent — a crash between the two
    * deletes leaves the manifest in place, so the re-run finds the entry
    * again and re-deletes the (possibly half-gone) data dir. Returns the
    * number of manifests, markers, orphan dirs, data files and temp files
    * removed.
    */
  def expireCompacted(root: String): Int = {
    val (latest, _) = compactSources(root)
    val mdir = Paths.get(root, "manifests")
    var removed = commitIO.listNames(mdir).count { n =>
      // a live publisher's temp file is seconds old; a crashed one's goes stale
      n.startsWith(PosixCommitIO.TmpPrefix) && orphanStale(mdir.resolve(n)) &&
        Files.deleteIfExists(mdir.resolve(n))
    }
    val ddir = Paths.get(root, "data")
    commitIO.listNames(ddir).foreach {
      case d @ EpochDir(b) =>
        // the files the manifest lists; a batch with no manifest lists none
        val keep = epochListing(root, b).fold(Set.empty[String])(_.files.toSet)
        removed += commitIO.listNames(ddir.resolve(d)).count { n =>
          val f = ddir.resolve(d).resolve(n)
          n.endsWith(".parquet") && !n.startsWith(".") && !keep(f.toString) &&
            orphanStale(f) && Files.deleteIfExists(f)
        }
      case _ =>
    }
    latest.foreach { upTo =>
      commitIO.listNames(mdir).foreach {
        case n @ TableFile("manifest", b) if b <= upTo =>
          rmTree(epochDir(root, b).toFile)
          if (Files.deleteIfExists(mdir.resolve(n))) removed += 1
        case n @ TableFile("compact", u) if u < upTo =>
          // resolve the marker's data dir BEFORE deleting the marker (the
          // path field is only recoverable from it)
          compactDataDir(root, u).foreach(dir => rmTree(new java.io.File(dir)))
          if (Files.deleteIfExists(mdir.resolve(n))) removed += 1
        case _ =>
      }
      // Orphan attempt dirs: a compactor that crashed before publish (or
      // lost the race mid-cleanup) leaves compact/<upTo'>-<uuid> with no
      // marker. A numeric bound alone is NOT safe: a slow compactor that
      // computed its target BEFORE a newer compaction published may still
      // be writing a dir with upTo' <= latest — so only dirs untouched
      // for a grace window are swept (a live parquet write refreshes its
      // dir's mtime as files land; a crashed attempt goes stale). Only a
      // table whose latest marker names its data dir has attempt dirs.
      compactDataDir(root, upTo).foreach { liveDir =>
        val live = Paths.get(liveDir).getFileName.toString
        val cdir = Paths.get(root, "compact")
        commitIO.listNames(cdir).foreach { d =>
          val num = d.takeWhile(_.isDigit)
          if (d != live && num.nonEmpty && num.toLong <= upTo &&
              orphanStale(cdir.resolve(d))) {
            rmTree(cdir.resolve(d).toFile)
            removed += 1
          }
        }
      }
    }
    removed
  }
}
