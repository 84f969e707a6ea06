package graft.stream.state

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import graft.stream.LocalCheckpointFileManager

/** ArenaStateStoreProvider — a clone-free, allocation-free state store for
  * Spark Structured Streaming's hot stateful operators.
  *
  * Why it exists (measured on the guardian pipeline's row-level dedup,
  * `DedupState.dedupRows`): the built-in `HDFSBackedStateStoreProvider`
  * keeps one `ConcurrentHashMap[UnsafeRow, UnsafeRow]` PER VERSION and
  * clones the whole map on every micro-batch (`getStore` copies the
  * previous version's map so old versions stay reloadable), boxing every
  * key and value in its own UnsafeRow object — ~500 bytes and 2 objects
  * per key, ~11 µs per state update at 32 threads on the contended
  * memory bus. `RocksDBStateStoreProvider` avoids the clone but pays JNI
  * + native memtable costs (measured 2.3x the HDFS provider's update
  * time on this pipeline). This provider keeps exactly the recovery
  * contract of the HDFS provider with none of the per-batch clone or
  * per-entry boxing:
  *
  *  - ONE mutable map per (operator, partition), mutated IN PLACE across
  *    versions. Keys and values live as raw bytes in append-only arena
  *    chunks that start at 64 KiB and double up to 4 MiB, so a partition
  *    holding a few rows pays KiB, not MiB (entries never move within a
  *    batch, so `UnsafeRow`s returned by `get`/`iterator` stay valid for
  *    the batch); the index is an open-addressing table of (hash,
  *    arena-position) pairs in two flat arrays — zero objects per entry,
  *    ~40 bytes + payload per key. A commit that leaves at least as many
  *    dead bytes (removed or superseded entries) as live ones rewrites
  *    the arena, so memory tracks live state, not lifetime churn.
  *  - Version history lives ON DISK ONLY (exactly the Iceberg-style
  *    manifests-over-files discipline the audit sink uses): each commit
  *    appends `<v>.gdelta` (LZ4, the batch's puts/removes in arrival
  *    order) as an atomic create of the query's `CheckpointFileManager`
  *    (temp file, then atomic replace; a failed write cancels its temp),
  *    and every `minDeltasForSnapshot` commits also writes a full
  *    `<v>.gsnapshot`. All of the provider's file I/O goes through that
  *    manager: java.nio under the engine's `LocalCheckpointFileManager`,
  *    Spark's own manager otherwise.
  *    Recovery (abort, task retry, resume-from-checkpoint, version
  *    rewind) rebuilds the map from the newest snapshot ≤ v plus the
  *    delta chain — the SAME replay contract the built-in providers
  *    implement, verified by StreamingSpec's resume-identity test
  *    running on this provider.
  *  - `abort()` after mutations marks the in-memory map dirty; the next
  *    `getStore` reloads from disk. Aborts are the rare path (task
  *    failure); batches pay zero versioning cost on the happy path.
  *  - Eviction-heavy operators (`dropDuplicatesWithinWatermark` scans
  *    all keys each batch to expire the watermark horizon) iterate the
  *    arena SEQUENTIALLY — cache-linear, no hash-order pointer chasing.
  *  - `memoryUsedBytes` is what the map holds: allocated chunk bytes plus
  *    the index and journal arrays. The custom metrics split the arena
  *    into allocated, live and dead bytes and count compactions; each
  *    progress event's `stateOperators[].customMetrics` sums them over
  *    partitions. For a stream-stream join, Spark's
  *    `SymmetricHashJoinStateManager` (V1, the manager for stores without
  *    column families) forwards only each side's `keyWithIndexToValue`
  *    store's custom metrics; its `keyToNumValues` store counts toward
  *    `memoryUsedBytes` alone. So a join's arena metrics cover two of its
  *    four stores per partition.
  *
  * Scope guard: this is a specialized engine component for the query
  * shapes the guardian pipeline plans (single column family, no prefix
  * scan, single value per key, checkpoint format v1). Anything outside
  * that contract fails loudly in `init` rather than corrupting state.
  * Not thread-safe per partition by design — Spark serializes store
  * access per partition; maintenance only deletes aged files under the
  * provider lock.
  */
class ArenaStateStoreProvider extends StateStoreProvider {

  private var storeId: StateStoreId = _
  private var keySchema: StructType = _
  private var valueSchema: StructType = _
  private var storeConf: StateStoreConf = _
  private var hadoopConf: Configuration = _
  private var fm: CheckpointFileManager = _
  private var baseDir: HPath = _
  /** ADVICE r3: `get` returns a reused row valid only until the next
    * get/put — narrower than the built-in providers. The operators this
    * engine plans (dedup, join, agg) all consume a lookup before the next
    * one; an operator that must HOLD a looked-up value across lookups
    * sets `spark.hadoop.graft.arena.copyOnGet=true` to get stable copies
    * instead of silently reading corrupted state.
    */
  private var copyOnGet = false

  private val map = new ArenaMap
  /** Last version whose state the in-memory map reflects. */
  private var currentVersion: Long = 0L
  /** True when in-memory state diverged from disk (aborted mutations). */
  private var dirty = false
  /** The store currently allowed to mutate the shared map (zombie fence). */
  private var activeStore: ArenaStore = _

  override def init(
      stateStoreId: StateStoreId,
      keySchema: StructType,
      valueSchema: StructType,
      keyStateEncoderSpec: KeyStateEncoderSpec,
      useColumnFamilies: Boolean,
      storeConfs: StateStoreConf,
      hadoopConf: Configuration,
      useMultipleValuesPerKey: Boolean,
      stateSchemaProvider: Option[StateSchemaProvider]): Unit = {
    require(!useColumnFamilies,
      "ArenaStateStoreProvider supports only the default column family")
    require(!useMultipleValuesPerKey,
      "ArenaStateStoreProvider supports single-value-per-key operators")
    require(keyStateEncoderSpec.isInstanceOf[NoPrefixKeyStateEncoderSpec],
      s"ArenaStateStoreProvider supports no-prefix key encoding, got $keyStateEncoderSpec")
    require(!storeConfs.enableStateStoreCheckpointIds,
      "ArenaStateStoreProvider supports checkpoint format v1 only")
    this.storeId = stateStoreId
    this.keySchema = keySchema
    this.valueSchema = valueSchema
    this.storeConf = storeConfs
    this.hadoopConf = hadoopConf
    this.baseDir = stateStoreId.storeCheckpointLocation()
    this.fm = CheckpointFileManager.create(baseDir, hadoopConf)
    this.copyOnGet = hadoopConf.getBoolean("graft.arena.copyOnGet", false)
    fm.mkdirs(baseDir)
  }

  override def stateStoreId: StateStoreId = storeId

  override def supportedCustomMetrics: Seq[StateStoreCustomMetric] =
    ArenaStateStoreProvider.customMetrics

  override def close(): Unit = synchronized { map.clear() }

  override def getStore(version: Long, uniqueId: Option[String]): StateStore =
    synchronized {
      require(uniqueId.isEmpty, "checkpoint format v2 ids not supported")
      require(version >= 0, s"invalid state version $version")
      // Zombie fence: a stalled task attempt whose store never
      // committed/aborted must not keep mutating the shared in-place map
      // once a relaunched attempt takes over — mark the old store stale
      // (its further ops throw) and reload committed state from disk if
      // it already left writes behind. The built-in providers tolerate
      // the overlap by cloning per store; in-place mutation must fence.
      if (activeStore != null && !activeStore.hasCommitted) {
        if (activeStore.markStale()) dirty = true
      }
      if (dirty || version != currentVersion) loadVersion(version)
      val s = new ArenaStore(version)
      activeStore = s
      s
    }

  /** Background maintenance (the engine's maintenance thread): write a
    * fresh snapshot when the delta chain since the last one is long, then
    * delete aged version files. The snapshot is built by replaying the
    * IMMUTABLE on-disk snapshot+delta chain into a shadow map — never by
    * touching the live map the task thread is mutating — so the commit
    * path stays snapshot-free (the built-in providers snapshot on this
    * thread for the same reason). Retention: the newest snapshot
    * at-or-before the floor survives with every later delta, so any
    * retained version stays reconstructable.
    */
  override def doMaintenance(): Unit = {
    if (fm == null) return
    val target = synchronized(currentVersion)
    val snapBase = listVersions(".gsnapshot").filter(_ <= target).sorted.lastOption.getOrElse(0L)
    // shadow build reads only immutable published files — no lock needed
    val shadow: Option[ArenaMap] =
      if (target - snapBase >= math.max(1, storeConf.minDeltasForSnapshot) &&
          (snapBase + 1 to target).forall(v => fm.exists(new HPath(baseDir, s"$v.gdelta")))) {
        val m = new ArenaMap
        if (snapBase > 0) replayFile(new HPath(baseDir, s"$snapBase.gsnapshot"), m)
        (snapBase + 1 to target).foreach(v =>
          replayFile(new HPath(baseDir, s"$v.gdelta"), m))
        Some(m)
      } else None
    // file mutations under the provider lock: never race a commit's
    // in-flight temp file or concurrent publishes
    synchronized {
      shadow.foreach(m => writeVersion(m, target, snapshot = true))
      listNames.filter(LocalCheckpointFileManager.isTempName).foreach { n =>
        try fm.delete(new HPath(baseDir, n))
        catch { case _: Throwable => () }
      }
      val floor = target - math.max(1, storeConf.minVersionsToRetain)
      if (floor > 0) {
        val anchor = listVersions(".gsnapshot").filter(_ <= floor).sorted.lastOption
        anchor.foreach { a =>
          listVersions(".gsnapshot").filter(_ < a)
            .foreach(v => fm.delete(new HPath(baseDir, s"$v.gsnapshot")))
          listVersions(".gdelta").filter(_ <= a)
            .foreach(v => fm.delete(new HPath(baseDir, s"$v.gdelta")))
        }
      }
    }
  }

  private def listNames: Seq[String] =
    if (!fm.exists(baseDir)) Seq.empty
    else fm.list(baseDir).toSeq.map(_.getPath.getName)

  private def listVersions(suffix: String): Seq[Long] =
    listNames.filter(_.endsWith(suffix))
      .flatMap(n => scala.util.Try(n.stripSuffix(suffix).toLong).toOption)

  // ---- recovery: rebuild the map from snapshot + delta chain ----

  private def loadVersion(version: Long): Unit = {
    map.clear()
    dirty = false
    currentVersion = version
    if (version == 0) return
    val snaps = listVersions(".gsnapshot").filter(_ <= version)
    val base = if (snaps.isEmpty) 0L else snaps.max
    if (base > 0) replayFile(new HPath(baseDir, s"$base.gsnapshot"), map)
    var v = base + 1
    while (v <= version) {
      val p = new HPath(baseDir, s"$v.gdelta")
      require(fm.exists(p), s"missing state delta $p for version $version")
      replayFile(p, map)
      v += 1
    }
  }

  /** Replay `[klen][vlen][key][value]` records (`vlen == -1`: a remove,
    * key only; `klen == -2`: end) through one reused buffer.
    */
  private def replayFile(p: HPath, into: ArenaMap): Unit = {
    val in = new DataInputStream(new net.jpountz.lz4.LZ4BlockInputStream(
      new BufferedInputStream(fm.open(p), 1 << 16)))
    try {
      var buf = new Array[Byte](1 << 12)
      var done = false
      while (!done) {
        val klen =
          try in.readInt()
          catch { case _: EOFException => done = true; 0 }
        if (!done) {
          if (klen == -2) done = true
          else {
            val vlen = in.readInt()
            val n = klen + math.max(vlen, 0)
            if (n > buf.length) buf = new Array[Byte](math.max(n, buf.length * 2))
            in.readFully(buf, 0, n)
            if (vlen == -1) into.removeRaw(buf, klen)
            else into.putRaw(buf, klen, vlen)
          }
        }
      }
    } finally in.close()
  }

  // ---- commit: append the batch's ops as an atomic delta file ----

  /** Publish `<version>.gdelta` (the journal) or `.gsnapshot` (the live
    * entries); a rerun of a version replaces its file.
    */
  private def writeVersion(from: ArenaMap, version: Long, snapshot: Boolean): Unit = {
    val suffix = if (snapshot) ".gsnapshot" else ".gdelta"
    val raw = fm.createAtomic(new HPath(baseDir, s"$version$suffix"), overwriteIfPossible = true)
    try {
      val out = new DataOutputStream(new net.jpountz.lz4.LZ4BlockOutputStream(
        new BufferedOutputStream(raw, 1 << 16)))
      if (snapshot) from.writeLive(out) else from.writeJournal(out)
      out.writeInt(-2)
      out.close() // publishes
    } catch {
      case t: Throwable =>
        // never leak the temp file (maintenance also sweeps strays)
        raw.cancel()
        throw t
    }
  }

  private def commitStore(loadedVersion: Long): Long = synchronized {
    val newVersion = loadedVersion + 1
    writeVersion(map, newVersion, snapshot = false)
    // the delta is published, so the journal's positions are spent and
    // entries may move: reclaim dead arena bytes (eviction churn) here —
    // snapshots themselves are written by the MAINTENANCE thread from the
    // immutable file chain, never on the commit path
    map.compactIfWorthIt()
    map.clearJournal()
    currentVersion = newVersion
    newVersion
  }

  private def abortStore(journalNonEmpty: Boolean): Unit = synchronized {
    // In-place mutation means an aborted batch's writes are already in
    // the map: mark dirty so the next getStore replays from disk. A
    // read-only store (empty journal) left nothing behind.
    if (journalNonEmpty) dirty = true
    map.clearJournal()
  }

  /** One batch's view. `version` is the loaded (parent) version; commit
    * publishes `version + 1`, exactly the built-in providers' contract.
    */
  private final class ArenaStore(val version: Long) extends StateStore {
    private var committed = false
    /** Compactions this store's commit ran (0 or 1). */
    private var compactions = 0L
    private var validated = false
    /** Set when a newer store attempt superseded this one (zombie fence):
      * every subsequent operation throws instead of corrupting the map.
      */
    @volatile private var stale = false
    /** True once this store mutated the shared map. */
    @volatile private var mutated = false

    /** Returns whether the fenced store had already written to the map
      * (the provider must then reload committed state from disk).
      */
    private[ArenaStateStoreProvider] def markStale(): Boolean = {
      stale = true
      mutated || map.journalNonEmpty
    }

    private def checkLive(): Unit =
      if (stale) throw new IllegalStateException(
        "state store superseded by a newer task attempt for " + storeId)

    override def id: StateStoreId = storeId

    private def checkFamily(colFamilyName: String): Unit =
      require(colFamilyName == StateStore.DEFAULT_COL_FAMILY_NAME,
        s"column family '$colFamilyName' not supported")

    override def get(key: UnsafeRow, colFamilyName: String): UnsafeRow = {
      checkFamily(colFamilyName); checkLive()
      val r = map.get(key, valueSchema.length)
      if (copyOnGet && r != null) r.copy() else r
    }

    override def put(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = {
      checkFamily(colFamilyName); checkLive()
      if (!validated && storeConf.formatValidationEnabled) {
        StateStoreProvider.validateStateRowFormat(
          key, keySchema, value, valueSchema, storeId, storeConf)
        validated = true
      }
      mutated = true
      map.put(key, value)
    }

    override def remove(key: UnsafeRow, colFamilyName: String): Unit = {
      checkFamily(colFamilyName); checkLive()
      mutated = true
      map.remove(key)
    }

    override def iterator(colFamilyName: String): StateStoreIterator[UnsafeRowPair] = {
      checkFamily(colFamilyName); checkLive()
      new StateStoreIterator(map.iterator(keySchema.length, valueSchema.length), () => ())
    }

    override def prefixScan(
        prefixKey: UnsafeRow, colFamilyName: String): StateStoreIterator[UnsafeRowPair] =
      throw new UnsupportedOperationException("prefixScan not supported")

    override def valuesIterator(key: UnsafeRow, colFamilyName: String): Iterator[UnsafeRow] = {
      checkFamily(colFamilyName)
      Option(get(key, colFamilyName)).iterator
    }

    override def merge(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit =
      throw new UnsupportedOperationException("merge requires multi-value stores")
    override def putList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit =
      throw new UnsupportedOperationException("putList requires multi-value stores")
    override def mergeList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit =
      throw new UnsupportedOperationException("mergeList requires multi-value stores")
    override def createColFamilyIfAbsent(
        colFamilyName: String, keySchema: StructType, valueSchema: StructType,
        keyStateEncoderSpec: KeyStateEncoderSpec, useMultipleValuesPerKey: Boolean,
        isInternal: Boolean): Unit =
      throw new UnsupportedOperationException("column families not supported")
    override def removeColFamilyIfExists(colFamilyName: String): Boolean =
      throw new UnsupportedOperationException("column families not supported")

    override def commit(): Long = {
      require(!committed, "cannot commit twice")
      checkLive()
      val before = map.compactions
      val v = commitStore(version)
      compactions = map.compactions - before
      committed = true
      // the engine counts per-partition commits against the operator's
      // expected partition set (STATE_STORE_COMMIT_VALIDATION_FAILED
      // otherwise) — same report the built-in providers make
      if (storeConf.commitValidationEnabled) {
        StateStore.reportCommitToCoordinator(v, storeId, hadoopConf)
      }
      v
    }

    override def abort(): Unit =
      // a stale (superseded) store was already fenced and its residue
      // handled by the provider; its abort must not touch the successor's
      // journal
      if (!committed && !stale) abortStore(map.journalNonEmpty)

    override def release(): Unit = ()

    override def hasCommitted: Boolean = committed

    override def metrics: StateStoreMetrics = {
      import ArenaStateStoreProvider._
      StateStoreMetrics(map.size, map.memoryBytes, Map(
        AllocatedBytes -> map.arenaBytes,
        LiveBytes -> map.liveBytes,
        DeadBytes -> map.deadBytes,
        Compactions -> compactions), Map.empty)
    }

    override def getStateStoreCheckpointInfo(): StateStoreCheckpointInfo =
      StateStoreCheckpointInfo(storeId.partitionId, version + 1, None, None)
  }
}

private object ArenaStateStoreProvider {
  private val AllocatedBytes =
    StateStoreCustomSizeMetric("arenaAllocatedBytes", "arena chunk bytes allocated")
  private val LiveBytes =
    StateStoreCustomSizeMetric("arenaLiveBytes", "arena bytes of live entries")
  private val DeadBytes = StateStoreCustomSizeMetric("arenaDeadBytes",
    "arena bytes of removed or superseded entries awaiting compaction")
  private val Compactions =
    StateStoreCustomSumMetric("arenaCompactions", "arena compactions run by commits")
  private val customMetrics = Seq(AllocatedBytes, LiveBytes, DeadBytes, Compactions)
}

/** The arena map: raw-byte entries in append-only chunks indexed by an
  * open-addressing (hash, position) table. Entries never move within a
  * batch, so returned `UnsafeRow`s remain valid until the next batch.
  *
  * Chunk `k` holds `min(64 KiB << k, 4 MiB)` bytes, or the one entry that
  * does not fit that (an entry is at most 4 MiB). A position is
  * `(chunkIndex << 32) | offset`.
  *
  * Arena entry layout: `[klen:int][vlen:int][keyBytes][valueBytes]`,
  * never spanning chunks. A dead entry (removed or superseded) has the
  * sign bit set on its stored klen; iterators skip it. A remove also
  * appends a key-only tombstone record (vlen = -1, immediately dead) so
  * the batch journal can replay removes positionally.
  *
  * Index slots: `poss(i)` = 0 empty, 1 tombstone, else position + 2.
  */
private[state] final class ArenaMap {
  import ArenaMap._

  private var chunks = new java.util.ArrayList[Array[Byte]]()
  /** Bytes of the allocated chunks. */
  var arenaBytes = 0L
  /** Next write position (0 while no chunk is allocated). */
  private var top = 0L
  var liveBytes = 0L
  var deadBytes = 0L
  /** Compactions run over this map's lifetime. */
  var compactions = 0L

  private var cap = InitialCap
  private var mask = cap - 1
  private var hashes = new Array[Int](cap)
  private var poss = new Array[Long](cap)
  var size: Long = 0L
  private var tombstones = 0L

  /** Arena positions of this batch's ops, in arrival order (puts point at
    * the put entry; removes at the tombstone record).
    */
  private var journal = new Array[Long](InitialJournal)
  private var journalLen = 0

  def journalNonEmpty: Boolean = journalLen > 0
  def clearJournal(): Unit = journalLen = 0

  def memoryBytes: Long = arenaBytes + cap.toLong * 12 + journal.length.toLong * 8

  def clear(): Unit = {
    resetArena()
    resetIndex(InitialCap)
    size = 0L
  }

  private def resetArena(): Unit = {
    chunks = new java.util.ArrayList[Array[Byte]]()
    arenaBytes = 0L; top = 0L; liveBytes = 0L; deadBytes = 0L
    journal = new Array[Long](InitialJournal); journalLen = 0
  }

  private def resetIndex(newCap: Int): Unit = {
    cap = newCap; mask = cap - 1
    hashes = new Array[Int](cap); poss = new Array[Long](cap)
    tombstones = 0L
  }

  @inline private def chunkOf(pos: Long): Array[Byte] = chunks.get((pos >>> 32).toInt)
  @inline private def offOf(pos: Long): Int = pos.toInt

  private def appendJournal(pos: Long): Unit = {
    if (journalLen == journal.length) journal = java.util.Arrays.copyOf(journal, journalLen * 2)
    journal(journalLen) = pos
    journalLen += 1
  }

  /** Reserve `n` contiguous bytes; returns the entry position. */
  private def reserve(n: Int): Long = {
    require(n <= MaxChunk, s"state row of $n bytes exceeds arena chunk")
    if (chunks.isEmpty || offOf(top) + n > chunkOf(top).length) {
      if (!chunks.isEmpty) {
        // pad the tail of the current chunk so the iterator can skip it
        val c = chunkOf(top)
        val within = offOf(top)
        if (within + 8 <= c.length) {
          Platform.putInt(c, Platform.BYTE_ARRAY_OFFSET + within, PadMarker)
        }
      }
      val k = chunks.size
      val c = new Array[Byte](math.max(chunkSize(k), n))
      chunks.add(c)
      arenaBytes += c.length
      top = k.toLong << 32
    }
    val pos = top
    top += n
    pos
  }

  @inline private def hashRow(row: UnsafeRow): Int =
    hashAt(row.getBaseObject, row.getBaseOffset, row.getSizeInBytes)

  @inline private def hashAt(base: AnyRef, off: Long, len: Int): Int = {
    val h = Murmur3_x86_32.hashUnsafeWords(base, off, len, 42)
    if (h == 0) 1 else h
  }

  @inline private def keyEquals(pos: Long, base: AnyRef, off: Long, len: Int): Boolean = {
    val c = chunkOf(pos)
    val o = offOf(pos)
    val klen = Platform.getInt(c, Platform.BYTE_ARRAY_OFFSET + o) & Int.MaxValue
    klen == len && ByteArrayMethods.arrayEquals(
      c, Platform.BYTE_ARRAY_OFFSET + o + 8, base, off, len)
  }

  /** Probe for the key; returns the slot holding it, or the first
    * insertable slot XOR'd with Long.MinValue when absent.
    */
  private def findSlot(h: Int, base: AnyRef, off: Long, len: Int): Int = {
    var i = (h * -1640531527) & mask // Fibonacci spread of the murmur hash
    var firstFree = -1
    while (true) {
      val p = poss(i)
      if (p == 0L) return if (firstFree >= 0) firstFree | Int.MinValue else i | Int.MinValue
      else if (p == 1L) { if (firstFree < 0) firstFree = i }
      else if (hashes(i) == h && keyEquals(p - 2, base, off, len)) return i
      i = (i + 1) & mask
    }
    -1 // unreachable
  }

  /** Index a key known to be absent, into a table without tombstones. */
  private def place(h: Int, slotValue: Long): Unit = {
    var j = (h * -1640531527) & mask
    while (poss(j) != 0L) j = (j + 1) & mask
    poss(j) = slotValue
    hashes(j) = h
  }

  private def grow(): Unit = {
    val oldCap = cap
    val oh = hashes; val op = poss
    resetIndex(cap << 1)
    var i = 0
    while (i < oldCap) {
      if (op(i) >= 2L) place(oh(i), op(i))
      i += 1
    }
  }

  @inline private def markDead(pos: Long): Unit = {
    val c = chunkOf(pos)
    val o = offOf(pos)
    val klen = Platform.getInt(c, Platform.BYTE_ARRAY_OFFSET + o)
    if (klen >= 0) {
      Platform.putInt(c, Platform.BYTE_ARRAY_OFFSET + o, klen | Int.MinValue)
      val vlen = Platform.getInt(c, Platform.BYTE_ARRAY_OFFSET + o + 4)
      deadBytes += 8L + klen + math.max(vlen, 0)
      liveBytes -= 8L + klen + math.max(vlen, 0)
    }
  }

  private def writeEntry(
      kBase: AnyRef, kOff: Long, kLen: Int,
      vBase: AnyRef, vOff: Long, vLen: Int): Long = {
    val n = 8 + kLen + math.max(vLen, 0)
    val pos = reserve(n)
    val c = chunkOf(pos)
    val o = Platform.BYTE_ARRAY_OFFSET + offOf(pos)
    Platform.putInt(c, o, kLen)
    Platform.putInt(c, o + 4, vLen)
    Platform.copyMemory(kBase, kOff, c, o + 8, kLen)
    if (vLen > 0) Platform.copyMemory(vBase, vOff, c, o + 8 + kLen, vLen)
    liveBytes += n
    pos
  }

  private def putInternal(
      h: Int, kBase: AnyRef, kOff: Long, kLen: Int,
      vBase: AnyRef, vOff: Long, vLen: Int, journaled: Boolean): Unit = {
    val slot = findSlot(h, kBase, kOff, kLen)
    if (slot >= 0) {
      // overwrite: same-length values update in place (the common case —
      // fixed-width state values); otherwise append a fresh entry
      val pos = poss(slot) - 2
      val c = chunkOf(pos)
      val o = Platform.BYTE_ARRAY_OFFSET + offOf(pos)
      val oldVLen = Platform.getInt(c, o + 4)
      if (oldVLen == vLen) {
        Platform.copyMemory(vBase, vOff, c, o + 8 + kLen, vLen)
        if (journaled) appendJournal(pos)
      } else {
        markDead(pos)
        val np = writeEntry(kBase, kOff, kLen, vBase, vOff, vLen)
        poss(slot) = np + 2
        if (journaled) appendJournal(np)
      }
    } else {
      val i = slot & Int.MaxValue
      val wasTombstone = poss(i) == 1L
      val np = writeEntry(kBase, kOff, kLen, vBase, vOff, vLen)
      poss(i) = np + 2
      hashes(i) = h
      size += 1
      if (wasTombstone) tombstones -= 1
      if (journaled) appendJournal(np)
      if ((size + tombstones) * 4 > cap.toLong * 3) grow()
    }
  }

  def put(key: UnsafeRow, value: UnsafeRow): Unit =
    putInternal(hashRow(key),
      key.getBaseObject, key.getBaseOffset, key.getSizeInBytes,
      value.getBaseObject, value.getBaseOffset, value.getSizeInBytes,
      journaled = true)

  /** Replay a put: key in `buf[0, klen)`, value in `buf[klen, klen + vlen)`. */
  def putRaw(buf: Array[Byte], klen: Int, vlen: Int): Unit = {
    val off = Platform.BYTE_ARRAY_OFFSET.toLong
    putInternal(hashAt(buf, off, klen), buf, off, klen, buf, off + klen, vlen,
      journaled = false)
  }

  private def removeInternal(
      h: Int, kBase: AnyRef, kOff: Long, kLen: Int, journaled: Boolean): Unit = {
    val slot = findSlot(h, kBase, kOff, kLen)
    if (slot >= 0) {
      markDead(poss(slot) - 2)
      poss(slot) = 1L
      size -= 1
      tombstones += 1
      if (journaled) {
        // tombstone record: key-only, vlen = -1, born dead in the arena
        val pos = writeEntry(kBase, kOff, kLen, null, 0L, -1)
        markDead(pos)
        appendJournal(pos)
      }
    }
  }

  def remove(key: UnsafeRow): Unit =
    removeInternal(hashRow(key),
      key.getBaseObject, key.getBaseOffset, key.getSizeInBytes, journaled = true)

  /** Replay a remove: key in `buf[0, klen)`. */
  def removeRaw(buf: Array[Byte], klen: Int): Unit = {
    val off = Platform.BYTE_ARRAY_OFFSET.toLong
    removeInternal(hashAt(buf, off, klen), buf, off, klen, journaled = false)
  }

  // Reused by get(): the returned row is valid ONLY until the next
  // get/put on this map. This is a deliberately NARROWER contract than
  // the HDFS provider (whose returned rows are stable map entries,
  // unaffected by later gets): the dedup / join / agg operators all read
  // a looked-up value before the next lookup, and the reuse removes one
  // allocation per input row on the hot path. A new operator that must
  // hold two lookups at once has to row.copy() — see the class scaladoc's
  // scope guard.
  private var getRow: UnsafeRow = _

  def get(key: UnsafeRow, valueFields: Int): UnsafeRow = {
    val slot = findSlot(hashRow(key),
      key.getBaseObject, key.getBaseOffset, key.getSizeInBytes)
    if (slot < 0) null
    else {
      val pos = poss(slot) - 2
      val c = chunkOf(pos)
      val o = offOf(pos)
      val klen = Platform.getInt(c, Platform.BYTE_ARRAY_OFFSET + o) & Int.MaxValue
      val vlen = Platform.getInt(c, Platform.BYTE_ARRAY_OFFSET + o + 4)
      if (getRow == null || getRow.numFields != valueFields) getRow = new UnsafeRow(valueFields)
      getRow.pointTo(c, Platform.BYTE_ARRAY_OFFSET + o + 8 + klen, vlen)
      getRow
    }
  }

  /** The position of the first live entry at or after `from` in arena
    * `cs`, or `end` when none is before it.
    */
  private def seekLive(cs: java.util.ArrayList[Array[Byte]], from: Long, end: Long): Long = {
    var pos = from
    while (pos < end) {
      val c = cs.get((pos >>> 32).toInt)
      val off = offOf(pos)
      val klenRaw =
        if (off + 8 > c.length) PadMarker
        else Platform.getInt(c, Platform.BYTE_ARRAY_OFFSET + off)
      if (klenRaw == PadMarker) pos = ((pos >>> 32) + 1) << 32
      else if (klenRaw >= 0) return pos
      else {
        val vlen = Platform.getInt(c, Platform.BYTE_ARRAY_OFFSET + off + 4)
        pos += 8L + (klenRaw & Int.MaxValue) + math.max(vlen, 0)
      }
    }
    end
  }

  /** Arena-ordered iterator over live entries. DOUBLE-BUFFERED row reuse
    * (two fixed (key, value, pair) triples, alternating per entry — still
    * zero allocation per element): `hasNext` pre-scans the next entry, and
    * Spark's stateful operators legitimately call `hasNext` while still
    * HOLDING the rows from the last `next()` —
    * SymmetricHashJoinStateManager.removeByValueCondition checks
    * `allKeyToNumValues.hasNext` BEFORE writing the held key's updated
    * numValues back (bytecode-verified, Spark 4.1.2 anon$3: hasMoreKeys at
    * findNextValueForIndex:105 precedes updateNumValueForCurrentKey:112).
    * A single reused row repointed inside hasNext made that write target
    * the NEXT key's bytes, leaving the current key's counter stale and the
    * join-eviction path reading a (key, index) slot that no longer exists
    * (NPE in findNextValueForIndex; caught by the arena eviction e2e
    * test). The de-facto provider contract is therefore: returned rows
    * stay valid until the FOLLOWING next(), never invalidated by hasNext —
    * which two alternating buffers give exactly.
    */
  def iterator(keyFields: Int, valueFields: Int): Iterator[UnsafeRowPair] =
    new Iterator[UnsafeRowPair] {
      private val end = top
      private var pos = 0L
      private val keyRows = Array(new UnsafeRow(keyFields), new UnsafeRow(keyFields))
      private val valueRows = Array(new UnsafeRow(valueFields), new UnsafeRow(valueFields))
      private val pairs = Array(new UnsafeRowPair(), new UnsafeRowPair())
      private var cur = 0
      private var ready = false

      private def advance(): Unit =
        if (!ready) {
          pos = seekLive(chunks, pos, end)
          if (pos < end) {
            val c = chunkOf(pos)
            val o = Platform.BYTE_ARRAY_OFFSET + offOf(pos)
            val klen = Platform.getInt(c, o)
            val vlen = Platform.getInt(c, o + 4)
            keyRows(cur).pointTo(c, o + 8, klen)
            valueRows(cur).pointTo(c, o + 8 + klen, vlen)
            ready = true
            pos += 8L + klen + vlen
          }
        }

      override def hasNext: Boolean = { advance(); ready }
      override def next(): UnsafeRowPair = {
        advance()
        if (!ready) throw new NoSuchElementException
        ready = false
        val p = pairs(cur).withRows(keyRows(cur), valueRows(cur))
        cur = 1 - cur
        p
      }
    }

  /** Stream this batch's journal (puts + tombstones, arrival order). */
  def writeJournal(out: DataOutputStream): Unit = {
    var i = 0
    while (i < journalLen) {
      writeRecord(out, journal(i))
      i += 1
    }
  }

  /** Stream every live entry (snapshot). */
  def writeLive(out: DataOutputStream): Unit = {
    var i = 0
    while (i < cap) {
      if (poss(i) >= 2L) writeRecord(out, poss(i) - 2)
      i += 1
    }
  }

  private def writeRecord(out: DataOutputStream, pos: Long): Unit = {
    val c = chunkOf(pos)
    val off = offOf(pos)
    val klen = Platform.getInt(c, Platform.BYTE_ARRAY_OFFSET + off) & Int.MaxValue
    val vlen = Platform.getInt(c, Platform.BYTE_ARRAY_OFFSET + off + 4)
    // a journaled put whose entry was later superseded/removed in the SAME
    // batch still replays positionally (a later journal record corrects
    // it), so dead puts are written as puts; tombstone records carry
    // vlen == -1 already
    out.writeInt(klen)
    out.writeInt(vlen)
    out.write(c, off + 8, klen + math.max(vlen, 0))
  }

  /** Rewrite arena + index from the live entries, in arena order, when
    * the dead bytes reach the live ones (and one first chunk). Called on
    * every commit, after its delta is published: the journal is spent
    * and entries may move between batches. A compaction copies at most
    * as many live bytes as writes killed since the last one, so its cost
    * is amortized O(1) per write.
    */
  def compactIfWorthIt(): Unit = {
    if (deadBytes < liveBytes || deadBytes < FirstChunk) return
    val oldChunks = chunks
    val end = top
    resetArena()
    var newCap = InitialCap
    while (size * 2 > newCap) newCap <<= 1
    resetIndex(newCap)
    var pos = seekLive(oldChunks, 0L, end)
    while (pos < end) {
      val c = oldChunks.get((pos >>> 32).toInt)
      val o = Platform.BYTE_ARRAY_OFFSET + offOf(pos)
      val klen = Platform.getInt(c, o)
      val vlen = Platform.getInt(c, o + 4)
      val np = writeEntry(c, o + 8, klen, c, o + 8 + klen, vlen)
      place(hashAt(c, o + 8, klen), np + 2)
      pos = seekLive(oldChunks, pos + 8L + klen + vlen, end)
    }
    compactions += 1
  }
}

private object ArenaMap {
  private val FirstChunk = 1 << 16
  private val MaxChunk = 1 << 22
  private val InitialCap = 1 << 12
  private val InitialJournal = 1024
  /** Marks a chunk's unused tail. A stored klen can never read -1: dead
    * entries are `klen | Int.MinValue` with klen ≤ 4 MiB, so even a dead
    * empty key (`Int.MinValue`) stays distinct from the marker.
    */
  private val PadMarker = -1

  private def chunkSize(k: Int): Int = if (k >= 6) MaxChunk else FirstChunk << k
}
