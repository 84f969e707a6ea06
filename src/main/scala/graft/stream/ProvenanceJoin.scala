package graft.stream

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
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

  /** One input row of `stream`: a turn of either side. */
  final case class Side(is_raw: Boolean, ts: java.sql.Timestamp, text: String)

  /** A key's retained rows of both sides, (is_raw, ts_us, text) each,
    * packed into one binary value (`pack`). A state encoder with array
    * fields resolves to `MapObjects` whose lambda-variable ids are new in
    * every query, so each query start would compile its state projections
    * again; a binary field has no such part.
    */
  final case class Retained(rows: Array[Byte])

  /** Per row: is_raw (1 byte), ts_us (8), text length in UTF-8 bytes or
    * -1 for NULL (4), the text bytes.
    */
  private def pack(rows: Seq[(Boolean, Long, String)]): Array[Byte] = {
    val texts = rows.map(r => Option(r._3).map(_.getBytes(UTF_8)).orNull)
    val buf = ByteBuffer.allocate(13 * rows.size + texts.map(t => if (t == null) 0 else t.length).sum)
    rows.lazyZip(texts).foreach { case ((isRaw, us, _), t) =>
      buf.put((if (isRaw) 1 else 0).toByte).putLong(us).putInt(if (t == null) -1 else t.length)
      if (t != null) buf.put(t)
    }
    buf.array()
  }

  private def unpack(bytes: Array[Byte]): IndexedSeq[(Boolean, Long, String)] = {
    val buf = ByteBuffer.wrap(bytes)
    val rows = ArrayBuffer.empty[(Boolean, Long, String)]
    while (buf.hasRemaining) {
      val isRaw = buf.get() == 1
      val us = buf.getLong()
      val n = buf.getInt()
      val text = if (n < 0) null else new String(bytes, buf.position(), n, UTF_8)
      if (n > 0) buf.position(buf.position() + n)
      rows += ((isRaw, us, text))
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
    * both sides as (is_raw, ts_us, text). One state store per partition
    * where the symmetric hash join keeps four, and no per-node Hadoop
    * conf broadcast: Spark's `StreamingSymmetricHashJoinExec` broadcasts
    * its whole Hadoop conf every time the planner copies the node, about
    * twenty times an epoch.
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
    *    `text_match` is three-valued like `===`.
    */
  def stream(raw: DataFrame, gen: DataFrame, maxSkew: String = "2 minutes"): DataFrame = {
    import raw.sparkSession.implicits._
    val skewUs = GuardianStream.windowMicros(maxSkew)
    def side(df: DataFrame, isRaw: Boolean) =
      df.select(col("conv_id"), col("turn_idx"), lit(isRaw).as("is_raw"), col("ts"), col("text"))
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
  private def matchKey(
      skewUs: Long,
      key: (String, Int),
      rows: Iterator[Side],
      state: GroupState[Retained]): Iterator[Match] = {
    // once ts + maxSkew <= watermark, every partner a row could still
    // meet is behind the late filter of all later epochs
    val evictUpToUs = state.getCurrentWatermarkMs() * 1000 - skewUs
    val old = state.getOption.fold(IndexedSeq.empty[(Boolean, Long, String)])(r => unpack(r.rows))
    val fresh = rows.map(s => (s.is_raw, DateTimeUtils.fromJavaTimestamp(s.ts), s.text)).toIndexedSeq
    val out = ArrayBuffer.empty[Match]
    def emit(rawUs: Long, rawText: String, genUs: Long, genText: String): Unit =
      if (genUs >= rawUs - skewUs && genUs <= rawUs + skewUs)
        out += Match(key._1, key._2, rawUs, genUs,
          if (rawText == null || genText == null) null
          else java.lang.Boolean.valueOf(rawText == genText),
          genUs - rawUs)
    fresh.foreach { case (isRaw, us, text) =>
      old.foreach { case (oldRaw, oldUs, oldText) =>
        if (oldRaw != isRaw) {
          if (isRaw) emit(us, text, oldUs, oldText) else emit(oldUs, oldText, us, text)
        }
      }
      if (isRaw) fresh.foreach { case (g, gUs, gText) => if (!g) emit(us, text, gUs, gText) }
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
