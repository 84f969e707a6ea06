package graft.stream

import java.nio.ByteBuffer
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stream-stream provenance join of raw vs generated turn streams
  * (BASELINE.json north_star): inner join on (conv_id, turn_idx) with both
  * sides watermarked and a bounded event-time range condition so join
  * state is evictable — without the range bound the state store would
  * grow forever at 10^12-turn scale.
  *
  * Output: one provenance-match row per matched turn with the per-turn
  * text equality verdict (the invariant the watermark embedder must
  * preserve).
  *
  * Two plans, one definition. `join` is the relational definition: the
  * batch reference, the DuckDB-oracled `provenance_match` query and the
  * check every streamed result is compared with. `stream` is the standing
  * operator `GuardianStream.startProvenance` runs: the same match rows
  * from one `flatMapGroupsWithState` over the tagged union of both
  * streams, which emits exactly what Spark's streaming symmetric hash
  * join of `join` emits (ProvenanceJoinSpec's seeded differential test) at a
  * fraction of its fixed cost per epoch.
  *
  * `stream`'s state keeps no text. A match only asks whether two texts are
  * byte-equal, so each retained row keeps the SHA-256 digest of its UTF-8
  * text: 45 bytes a row whatever the turn length, where the text itself
  * costs KiB for a real LLM turn. `text_match` is then digest equality,
  * the same three-valued answer as `===` up to a SHA-256 collision. The
  * hash is cryptographic on purpose: `text_match` is the audit verdict,
  * and a generator could forge equality against a hash such as the dedup
  * key's xxhash64. `join` keeps exact `===`. The packed state starts with
  * a format byte, and `unpack` reads only the format `pack` writes: a new
  * layout takes a new byte, and any other (the text-keeping v1 of older
  * checkpoints) is refused by name.
  */
object ProvenanceJoin {

  /** `raw` and `gen` must share the Turn schema. For streaming frames the
    * caller applies this AFTER `withWatermark` on both inputs;
    * `maxSkew` bounds |gen.ts − raw.ts| and hence the join state window.
    * Works identically on batch frames (the batch-equivalence test).
    */
  def join(raw: DataFrame, gen: DataFrame, maxSkew: String = "2 minutes"): DataFrame = {
    val g = gen.select(
      col("conv_id").as("g_conv_id"),
      col("turn_idx").as("g_turn_idx"),
      col("text").as("g_text"),
      col("ts").as("g_ts"))
    raw
      .join(
        g,
        col("conv_id") === col("g_conv_id") &&
          col("turn_idx") === col("g_turn_idx") &&
          col("g_ts") >= col("ts") - expr(s"INTERVAL $maxSkew") &&
          col("g_ts") <= col("ts") + expr(s"INTERVAL $maxSkew"),
        "inner")
      .select(
        col("conv_id"),
        col("turn_idx"),
        col("ts").as("raw_ts"),
        col("g_ts").as("gen_ts"),
        (col("text") === col("g_text")).as("text_match"),
        // cast makes this NTZ-agnostic (no-op on TIMESTAMP; NTZ is read in
        // the session's UTC) — batch callers may pass timestamp_ntz frames
        (unix_micros(col("g_ts").cast("timestamp")) -
          unix_micros(col("ts").cast("timestamp"))).as("skew_us"))
  }

  /** One input row of `stream`: a turn of either side, its text as the
    * UTF-8 bytes the source holds (NULL stays NULL).
    */
  final case class Side(is_raw: Boolean, ts: java.sql.Timestamp, text: Array[Byte])

  /** A key's retained rows of both sides, (is_raw, ts_us, text digest)
    * each, packed into one binary value (`pack`). A state encoder with
    * array fields resolves to `MapObjects` whose lambda-variable ids are
    * new in every query, so each query start would compile its state
    * projections again; a binary field has no such part.
    */
  final case class Retained(rows: Array[Byte])

  /** A retained row: its side, its ts in µs and the SHA-256 digest of its
    * text's UTF-8 bytes (null for NULL text).
    */
  private[graft] type Kept = (Boolean, Long, Array[Byte])

  /** The first byte of every value `pack` writes, and the one format
    * `unpack` reads. A value written before the state kept digests (v1:
    * rows of is_raw, ts_us, text length or -1, UTF-8 text) starts with an
    * is_raw byte, 0 or 1, so `unpack` names it when it refuses it.
    */
  private val DigestFormat: Byte = 2

  private val sha256 =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("SHA-256"))

  private def digest(bytes: Array[Byte]): Array[Byte] = sha256.get().digest(bytes)

  /** The format byte, then per row: is_raw (1 byte), ts_us (8), digest
    * length or -1 for NULL text (4), the 32-byte digest.
    */
  private[graft] def pack(rows: Seq[Kept]): Array[Byte] = {
    val buf = ByteBuffer.allocate(1 + rows.map(r => 13 + (if (r._3 == null) 0 else r._3.length)).sum)
    buf.put(DigestFormat)
    rows.foreach { case (isRaw, us, d) =>
      buf.put((if (isRaw) 1 else 0).toByte).putLong(us).putInt(if (d == null) -1 else d.length)
      if (d != null) buf.put(d)
    }
    buf.array()
  }

  /** Reads `pack`'s layout and refuses any other by name. Every format is
    * one binary state field, so Spark's schema check lets a checkpoint of
    * another format resume; read as this one, its rows would match wrong.
    */
  private[graft] def unpack(bytes: Array[Byte]): IndexedSeq[Kept] = {
    if (bytes(0) != DigestFormat) throw new IllegalStateException(
      "provenance join state is in " +
        (if (bytes(0) == 0 || bytes(0) == 1) "format v1 (texts, written before the state kept digests)"
         else s"an unknown format (first byte ${bytes(0)})") +
        s"; this build reads only format byte $DigestFormat (digests). " +
        "Restart the query on a fresh checkpoint.")
    val buf = ByteBuffer.wrap(bytes, 1, bytes.length - 1)
    val rows = ArrayBuffer.empty[Kept]
    while (buf.hasRemaining) {
      val isRaw = buf.get() == 1
      val us = buf.getLong()
      val n = buf.getInt()
      val d = if (n < 0) null else new Array[Byte](n)
      if (d != null) buf.get(d)
      rows += ((isRaw, us, d))
    }
    rows.toIndexedSeq
  }

  /** One match before its times become timestamps. */
  final case class Match(
      conv_id: String, turn_idx: Int, raw_us: Long, gen_us: Long,
      text_match: java.lang.Boolean, skew_us: Long)

  /** The standing form of `join` over two watermarked STREAMING frames:
    * the rows of both sides, tagged with their side, grouped on
    * (conv_id, turn_idx) into one `flatMapGroupsWithState` (append,
    * event-time timeout). Each key's state holds its retained rows of
    * both sides as (is_raw, ts_us, SHA-256 of text), packed behind one
    * format byte; `unpack` refuses the text-keeping values of older
    * checkpoints by name, and such a query restarts on a fresh
    * checkpoint. One state store per partition where the symmetric hash
    * join keeps four, and no per-node Hadoop conf broadcast: Spark's
    * `StreamingSymmetricHashJoinExec` broadcasts its whole Hadoop conf
    * every time the planner copies the node, about twenty times an epoch.
    *
    * Same output as Spark's streaming join of `join`, row for row:
    *  - late rows (`ts` at or behind the previous epoch's watermark) are
    *    dropped by the operator's own late-event filter, the boundary the
    *    join uses; the union keeps the raw side's event-time column;
    *  - a new raw row matches the retained gen rows and the gen rows of
    *    its own epoch; a new gen row matches only the retained raw rows,
    *    so each pair is emitted once;
    *  - a row leaves state once `ts + maxSkew ≤ watermark` (the eviction
    *    watermark, `getCurrentWatermarkMs`), never earlier: from then on
    *    every partner it could meet is behind the late filter. The join
    *    keeps such a row up to 1 ms longer (`StreamingJoinHelper`'s
    *    bound for a non-strict range predicate), which no output can
    *    tell. The key's timeout is `max(ts) + maxSkew`;
    *  - rows with a NULL key or NULL `ts` never match (inner equi-join);
    *    `text_match` is three-valued like `===`: NULL text has no digest
    *    and gives NULL, otherwise the digests' equality.
    *
    * The text crosses the shuffle as binary (no `String` decode) and is
    * digested in the state function, after the shuffle: a digest taken
    * map-side would ship 32 incompressible bytes a row where the text
    * compresses, and Spark's `unhex(sha2(text, 256))` costs more than one
    * `MessageDigest` per task thread.
    */
  def stream(raw: DataFrame, gen: DataFrame, maxSkew: String = "2 minutes"): DataFrame = {
    import raw.sparkSession.implicits._
    val skewUs = GuardianStream.windowMicros(maxSkew)
    def side(df: DataFrame, isRaw: Boolean) =
      df.select(col("conv_id"), col("turn_idx"), lit(isRaw).as("is_raw"), col("ts"),
        col("text").cast("binary").as("text"))
    side(raw, isRaw = true).unionByName(side(gen, isRaw = false))
      .filter(col("conv_id").isNotNull && col("turn_idx").isNotNull && col("ts").isNotNull)
      .groupBy(col("conv_id"), col("turn_idx"))
      .as[(String, Int), Side]
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (key: (String, Int), rows: Iterator[Side], state: GroupState[Retained]) =>
          matchKey(skewUs, key, rows, state))
      .select(
        col("conv_id"),
        col("turn_idx"),
        timestamp_micros(col("raw_us")).as("raw_ts"),
        timestamp_micros(col("gen_us")).as("gen_ts"),
        col("text_match"),
        col("skew_us"))
  }

  /** `stream`'s state function for one key (see its scaladoc). */
  private[graft] def matchKey(
      skewUs: Long,
      key: (String, Int),
      rows: Iterator[Side],
      state: GroupState[Retained]): Iterator[Match] = {
    // once ts + maxSkew <= watermark, every partner a row could still
    // meet is behind the late filter of all later epochs
    val evictUpToUs = state.getCurrentWatermarkMs() * 1000 - skewUs
    val old = state.getOption.fold(IndexedSeq.empty[Kept])(r => unpack(r.rows))
    val fresh = rows.map { s =>
      (s.is_raw, DateTimeUtils.fromJavaTimestamp(s.ts),
        if (s.text == null) null else digest(s.text))
    }.toIndexedSeq
    val out = ArrayBuffer.empty[Match]
    def emit(rawUs: Long, rawDigest: Array[Byte], genUs: Long, genDigest: Array[Byte]): Unit =
      if (genUs >= rawUs - skewUs && genUs <= rawUs + skewUs)
        out += Match(key._1, key._2, rawUs, genUs,
          if (rawDigest == null || genDigest == null) null
          else java.lang.Boolean.valueOf(java.util.Arrays.equals(rawDigest, genDigest)),
          genUs - rawUs)
    fresh.foreach { case (isRaw, us, d) =>
      old.foreach { case (oldRaw, oldUs, oldD) =>
        if (oldRaw != isRaw) {
          if (isRaw) emit(us, d, oldUs, oldD) else emit(oldUs, oldD, us, d)
        }
      }
      if (isRaw) fresh.foreach { case (g, gUs, gD) => if (!g) emit(us, d, gUs, gD) }
    }
    val keep = (old ++ fresh).filter(_._2 > evictUpToUs)
    if (keep.isEmpty) {
      if (state.exists) state.remove()
    } else {
      state.update(Retained(pack(keep)))
      // fires once the watermark passes max(ts) + maxSkew (in ms), when
      // every kept row is evictable; it must lie ahead of the watermark
      state.setTimeoutTimestamp(math.max(
        Math.floorDiv(keep.map(_._2).max + skewUs, 1000L), state.getCurrentWatermarkMs() + 1))
    }
    out.iterator
  }
}
