package graft.stream

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import graft.expressions.{CmsTextAgg, GramBitmapAgg, MgBuffer, MisraGriesAgg, WindowStatsAgg}
import graft.stream.GuardianStream.{StreamConfig, windowMicros}

/** One standing quality monitor: a constant-size partial that rides the
  * write job's `observe()`, lands as one block of the epoch's quality
  * manifest, and merges on read and on compaction. Each instance owns
  * its aggregate column, its JSON block and its merge; `GuardianStream`
  * publishes, folds and compacts every instance through the same paths.
  */
private[stream] sealed abstract class MonitorPartial[P](val name: String) {
  /** Whether `cfg` turns the monitor on. */
  def enabled(cfg: StreamConfig): Boolean

  /** The aggregate over the epoch's rows — the write job's `observe()`
    * column and the recovery re-derivation's agg column alike.
    */
  def column(cfg: StreamConfig): Column

  /** The partial of one collected aggregate value. */
  def decode(cfg: StreamConfig, observed: Any): P

  /** The partial of an epoch that wrote no data files: the merge identity. */
  def empty(cfg: StreamConfig): P

  /** Append the monitor's block (size field first, if any) to a manifest. */
  def write(out: ObjectNode, p: P): Unit

  /** The monitor's block of one parsed manifest, or None without one. */
  def read(manifest: JsonNode): Option[P]

  /** Fold `p` into `acc` (None before the first block), rejecting a size
    * that changed mid-stream. May reuse the storage of both arguments.
    */
  def merge(acc: Option[P], p: P): P

  /** Left-fold the monitor's blocks of `manifests`, in the given order. */
  final def fold(manifests: Seq[JsonNode]): Option[P] =
    manifests.foldLeft(Option.empty[P]) { (acc, m) =>
      read(m) match {
        case Some(p) => Some(merge(acc, p))
        case None => acc
      }
    }

  /** Write the epoch block from the collected aggregates (`values`, keyed
    * by monitor name), or the identity when the epoch has none.
    */
  final def publish(out: ObjectNode, cfg: StreamConfig,
      values: Option[Map[String, Any]]): Unit =
    write(out, values.fold(empty(cfg))(v => decode(cfg, v(name))))

  /** Write the folded block of `manifests`, if any of them carries one. */
  final def compact(out: ObjectNode, manifests: Seq[JsonNode]): Unit =
    fold(manifests).foreach(write(out, _))
}

private[stream] object MonitorPartial {
  /** (ws_us, we_us) → [n, min, max, sum, sumsq, n_pii]. */
  type WindowMap = mutable.TreeMap[(Long, Long), Array[Long]]
  /** (k, token → counter cell). */
  type Summary = (Int, java.util.HashMap[String, Array[Long]])
  /** (size, words). */
  type Sized = (Int, Array[Long])

  /** Every monitor, in manifest block order. */
  val all: Seq[MonitorPartial[_]] = Seq(WindowStats, Vocab, Diversity, Cms)

  def enabled(cfg: StreamConfig): Seq[MonitorPartial[_]] = all.filter(_.enabled(cfg))

  /** Per-window text-length/PII statistics of the tumbling or sliding
    * `qualityWindow`. Keyed by the whole window, so windows of different
    * lengths that start at the same instant (a `qualityWindow` change
    * across restarts) stay apart; count/sum/sumsq add and min/max are a
    * lattice, so the merge is exact.
    */
  object WindowStats extends MonitorPartial[WindowMap]("windows") {
    private val stats = Seq("n_turns", "len_min", "len_max", "len_sum", "len_sumsq", "n_pii")

    def enabled(cfg: StreamConfig): Boolean = cfg.qualityWindow.isDefined

    def column(cfg: StreamConfig): Column =
      WindowStatsAgg.column(col("ts"), col("text_len"), col("has_pii"),
        windowMicros(cfg.qualityWindow.get),
        cfg.qualitySlide.map(windowMicros).getOrElse(0L))

    def decode(cfg: StreamConfig, observed: Any): WindowMap = {
      val winUs = windowMicros(cfg.qualityWindow.get)
      val out = empty(cfg)
      observed.asInstanceOf[scala.collection.Map[Long, scala.collection.Seq[Long]]]
        .foreach { case (ws, a) => add(out, (ws, ws + winUs), a.toArray) }
      out
    }

    def empty(cfg: StreamConfig): WindowMap = mutable.TreeMap.empty

    def write(out: ObjectNode, p: WindowMap): Unit = {
      val arr = out.putArray("partials")
      p.foreach { case ((ws, we), a) =>
        val pn = arr.addObject()
        pn.put("ws_us", ws); pn.put("we_us", we)
        stats.indices.foreach(i => pn.put(stats(i), a(i)))
      }
    }

    def read(manifest: JsonNode): Option[WindowMap] =
      Option(manifest.get("partials")).map { arr =>
        val out: WindowMap = mutable.TreeMap.empty
        arr.elements().forEachRemaining { pn =>
          add(out, (pn.get("ws_us").asLong(), pn.get("we_us").asLong()),
            stats.map(pn.get(_).asLong()).toArray)
        }
        out
      }

    def merge(acc: Option[WindowMap], p: WindowMap): WindowMap =
      acc.fold(p) { a => p.foreach { case (w, s) => add(a, w, s) }; a }

    private def add(m: WindowMap, w: (Long, Long), s: Array[Long]): Unit =
      m.get(w) match {
        case None => m(w) = s
        case Some(a) =>
          a(0) += s(0)
          if (s(1) < a(1)) a(1) = s(1)
          if (s(2) > a(2)) a(2) = s(2)
          a(3) += s(3); a(4) += s(4); a(5) += s(5)
      }
  }

  /** Misra–Gries vocabulary summary (≤ 2k heavy-token candidates with
    * under-counting counters). Merge with pruning is only left-fold
    * associative, so every path performs the identical operation sequence
    * — add the whole partial, then prune once if over 2k — in the one
    * pinned fold order; the folded view is then bit-exact before ≡ after
    * compaction.
    */
  object Vocab extends MonitorPartial[Summary]("vocab") {
    def enabled(cfg: StreamConfig): Boolean = cfg.vocabK.isDefined

    def column(cfg: StreamConfig): Column =
      MisraGriesAgg.textColumn(col("text"), cfg.vocabK.get)

    def decode(cfg: StreamConfig, observed: Any): Summary = {
      val out = empty(cfg)
      observed.asInstanceOf[scala.collection.Map[String, Long]]
        .foreach { case (t, c) => out._2.put(t, Array(c)) }
      out
    }

    def empty(cfg: StreamConfig): Summary = cfg.vocabK.get -> new java.util.HashMap

    def write(out: ObjectNode, p: Summary): Unit = {
      out.put("vocab_k", p._1)
      val arr = out.putArray("vocab")
      sorted(p).foreach { case (t, c) =>
        val vn = arr.addObject(); vn.put("t", t); vn.put("c", c)
      }
    }

    def read(manifest: JsonNode): Option[Summary] =
      Option(manifest.get("vocab_k")).map { kn =>
        val counts = new java.util.HashMap[String, Array[Long]]()
        Option(manifest.get("vocab")).foreach(_.elements().forEachRemaining { vn =>
          counts.put(vn.get("t").asText(), Array(vn.get("c").asLong()))
        })
        kn.asInt() -> counts
      }

    def merge(acc: Option[Summary], p: Summary): Summary = {
      val (k, counts) = acc.getOrElse(p._1 -> new java.util.HashMap[String, Array[Long]]())
      // a vocabK change across restarts would silently mix prune
      // thresholds (and undercount bounds) in one fold
      require(p._1 == k, s"vocab k changed mid-stream: ${p._1} vs $k")
      MgBuffer.foldStringPartial(counts, entries(p), k)
      k -> counts
    }

    /** (token, counter) pairs sorted by token. */
    def sorted(p: Summary): Seq[(String, Long)] = entries(p).sortBy(_._1)

    private def entries(p: Summary): Seq[(String, Long)] =
      p._2.asScala.toSeq.map { case (t, c) => t -> c(0) }
  }

  /** A fixed-length long vector sized by one config value and merged
    * element-wise by an associative, commutative `combine`.
    */
  sealed abstract class Words(field: String, sizeField: String, what: String)
      extends MonitorPartial[Sized](field) {
    protected def size(cfg: StreamConfig): Option[Int]
    protected def length(size: Int): Int
    protected def aggregate(size: Int): Column
    protected def combine(a: Long, b: Long): Long

    def enabled(cfg: StreamConfig): Boolean = size(cfg).isDefined

    def column(cfg: StreamConfig): Column = aggregate(size(cfg).get)

    def decode(cfg: StreamConfig, observed: Any): Sized =
      size(cfg).get -> observed.asInstanceOf[scala.collection.Seq[Long]].toArray

    def empty(cfg: StreamConfig): Sized = {
      val s = size(cfg).get
      s -> new Array[Long](length(s))
    }

    def write(out: ObjectNode, p: Sized): Unit = {
      out.put(sizeField, p._1)
      val arr = out.putArray(name)
      p._2.foreach(arr.add)
    }

    def read(manifest: JsonNode): Option[Sized] =
      Option(manifest.get(sizeField)).map { sn =>
        val out = mutable.ArrayBuffer.empty[Long]
        Option(manifest.get(name)).foreach(_.elements().forEachRemaining(v => out += v.asLong()))
        sn.asInt() -> out.toArray
      }

    def merge(acc: Option[Sized], p: Sized): Sized = acc.fold(p) { a =>
      // a size change must fail HERE, before a mixed-moduli vector (or an
      // index overflow) reaches a reader or a compacted manifest
      require(p._1 == a._1, s"$what changed mid-stream: ${p._1} vs ${a._1}")
      val (w, x) = (a._2, p._2)
      var i = 0
      while (i < w.length) { w(i) = combine(w(i), x(i)); i += 1 }
      a
    }
  }

  /** m-slot linear-counting bitmap over token trigram hashes; merge is
    * bitwise OR.
    */
  object Diversity extends Words("div", "div_m", "diversity bitmap size") {
    protected def size(cfg: StreamConfig): Option[Int] = cfg.diversityM
    protected def length(m: Int): Int = m / 64
    protected def aggregate(m: Int): Column = GramBitmapAgg.textColumn(col("text"), 3, m)
    protected def combine(a: Long, b: Long): Long = a | b
  }

  /** Count-min sketch over the sunk tokens (d rows × w counters); merge is
    * exact long addition.
    */
  object Cms extends Words("cms", "cms_w", "CMS width") {
    protected def size(cfg: StreamConfig): Option[Int] = cfg.cmsW
    protected def length(w: Int): Int = CmsTextAgg.A.length * w
    protected def aggregate(w: Int): Column = CmsTextAgg.textColumn(col("text"), w)
    protected def combine(a: Long, b: Long): Long = a + b
  }
}
