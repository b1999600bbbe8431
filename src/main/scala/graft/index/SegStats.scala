package graft.index

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Base64
import scala.jdk.CollectionConverters._

/** A document key, ordered as Spark sorts (conv_id, turn_idx): conv_id
  * by its UTF-8 bytes, then turn_idx. */
case class DocKey(convId: UTF8String, turnIdx: Int) extends Ordered[DocKey] {
  def compare(o: DocKey): Int = DocKey.compare(convId, turnIdx, o)
}

object DocKey {
  /** (conv, turnIdx) against `k`, with no key built. */
  def compare(conv: UTF8String, turnIdx: Int, k: DocKey): Int = {
    val c = conv.binaryCompare(k.convId)
    if (c != 0) c else Integer.compare(turnIdx, k.turnIdx)
  }
}

/** The least and greatest key of a segment's rows. */
case class KeyRange(lo: DocKey, hi: DocKey) {
  def +(o: KeyRange): KeyRange = KeyRange(if (o.lo < lo) o.lo else lo, if (o.hi > hi) o.hi else hi)
}

/** The staging rows of one segment, summarized: row count, Σ dl, the
  * largest doc_id (-1 when empty), the xor of the rows'
  * xxhash64(conv_id, turn_idx, role, text, tool), and the range of
  * their keys (none when empty). */
case class SegStat(n: Long, dlSum: Long, maxDocId: Long, hash: Long, keys: Option[KeyRange]) {
  def +(o: SegStat): SegStat =
    SegStat(n + o.n, dlSum + o.dlSum, math.max(maxDocId, o.maxDocId), hash ^ o.hash,
      (keys ++ o.keys).reduceOption(_ + _))
}

/**
 * Per-segment stats of the staging view, kept beside its rows.
 *
 * Every staging write (phase A's base, an overlay, a rewritten base)
 * sums its rows per segment inside the task that writes them
 * ([[Sums]]), returns the sums as the task's result, and the job's
 * caller stores them as a hidden `_segstats` file inside the directory it
 * publishes. The stats then
 * move with their rows: a rename that publishes the rows publishes
 * their stats, and a kill can never leave one without the other.
 * Spark and [[graft.store.LocalParquet]] skip `_`-prefixed files.
 *
 * The corpus stats of the view (document count, Σ dl, the largest
 * doc_id, the content hash) are then a sum over these files — base
 * entries of segments without an overlay, plus each overlay's — read
 * in-process with no Spark job.
 *
 * Each segment's key range (its least and greatest (conv_id, turn_idx))
 * is what routes a patch ([[Incremental.atomicSet]]): a key can only be
 * in the segments whose ranges hold it. The segments of one build batch
 * have disjoint ranges, as staging is in (conv_id, turn_idx) order
 * within it; the tail segments a `delta` appends to overlap them. A
 * `_segstats` file written before the ranges (five fields a line) reads
 * as absent, so such an index is not [[IndexBuilder.compatible]].
 */
object SegStats {

  val FileName = "_segstats"

  val Empty: SegStat = SegStat(0L, 0L, -1L, 0L, None)

  /** The per-segment sums of the staging rows a task writes, which it
    * returns as its result; rows arrive grouped by segment, so the last
    * segment's slot is cached. A key bound is copied out of its row
    * only when it moves: phase A's rows are views into a reused
    * buffer. Rows with a null conv_id have no place in a range. */
  final class Sums {
    private final class Slot {
      var n, dlSum, hash = 0L
      var maxDocId = -1L
      var lo, hi: DocKey = _
    }
    private val m = scala.collection.mutable.HashMap.empty[Int, Slot]
    private var lastSeg = Int.MinValue
    private var last: Slot = _

    /** One staging row (ordinals of [[IndexBuilder.StagingSchema]]). */
    def add(r: InternalRow): Unit = {
      def u8(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i)
      val seg = r.getInt(1)
      if (seg != lastSeg) {
        last = m.getOrElseUpdate(seg, new Slot); lastSeg = seg
      }
      val conv = u8(2)
      val turn = r.getInt(3)
      last.n += 1; last.dlSum += r.getInt(7)
      last.maxDocId = math.max(last.maxDocId, r.getLong(0))
      last.hash ^= RowHash.turnHashRaw(conv, turn, u8(4), u8(5), u8(6))
      if (conv != null) {
        if (last.lo == null || DocKey.compare(conv, turn, last.lo) < 0) last.lo = DocKey(conv.copy(), turn)
        if (last.hi == null || DocKey.compare(conv, turn, last.hi) > 0) last.hi = DocKey(conv.copy(), turn)
      }
    }

    def result: Map[Int, SegStat] = m.map { case (k, s) =>
      k -> SegStat(s.n, s.dlSum, s.maxDocId, s.hash, Option(s.lo).map(KeyRange(_, s.hi)))
    }.toMap
  }

  /** Tasks' per-segment stats summed per segment. */
  def merge(parts: Iterable[Map[Int, SegStat]]): Map[Int, SegStat] =
    parts.flatten.groupMapReduce(_._1)(_._2)(_ + _)

  /** A key in a `_segstats` line: the conv_id's UTF-8 bytes in base64
    * (so spaces and newlines survive), a colon, the turn_idx. */
  private def keyField(k: DocKey): String =
    Base64.getEncoder.encodeToString(k.convId.getBytes) + ":" + k.turnIdx

  private def parseKey(s: String): DocKey = {
    val i = s.lastIndexOf(':')
    DocKey(UTF8String.fromBytes(Base64.getDecoder.decode(s.substring(0, i))), s.substring(i + 1).toInt)
  }

  /** Writes `stats` as `dir`'s `_segstats` file (atomic rename): a line
    * per segment of its number, count, Σ dl, max doc_id, hash and least
    * and greatest key (`-` for none). */
  def write(dir: Path, stats: Map[Int, SegStat]): Unit = {
    Files.createDirectories(dir)
    val txt = stats.toSeq.sortBy(_._1).map { case (s, t) =>
      val (lo, hi) = t.keys.fold(("-", "-"))(r => (keyField(r.lo), keyField(r.hi)))
      s"$s ${t.n} ${t.dlSum} ${t.maxDocId} ${t.hash} $lo $hi\n"
    }.mkString
    val tmp = dir.resolve(FileName + ".tmp")
    Files.write(tmp, txt.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(FileName), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `dir`'s `_segstats` file, if it has one with key ranges. */
  def read(dir: Path): Option[Map[Int, SegStat]] = {
    val f = dir.resolve(FileName)
    if (!Files.exists(f)) return None
    val lines = Files.readAllLines(f, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty).map(_.split(" ", -1))
    if (lines.exists(_.length != 7)) None
    else Some(lines.map { case Array(s, n, dl, mx, h, lo, hi) =>
      s.toInt -> SegStat(n.toLong, dl.toLong, mx.toLong, h.toLong,
        if (lo == "-") None else Some(KeyRange(parseKey(lo), parseKey(hi))))
    }.toMap)
  }

  private def overlay(outDir: String, seg: Int): Path =
    Paths.get(IndexBuilder.overlayDir(outDir), s"segment=$seg")

  /** Whether the base and every overlay of `outDir`'s staging carry
    * their `_segstats` file, with key ranges. */
  def present(outDir: String): Boolean =
    read(Paths.get(IndexBuilder.stagingDir(outDir))).isDefined &&
      IndexBuilder.overlaidSegments(outDir).forall(s => read(overlay(outDir, s)).isDefined)

  /** The per-segment stats of the staging view: base entries of the
    * segments without an overlay, then each overlay's. */
  def view(outDir: String): Map[Int, SegStat] = {
    def need(dir: Path) = read(dir).getOrElse(throw new IllegalStateException(
      s"$dir has no $FileName file with key ranges: the index predates them; rebuild it"))
    val over = IndexBuilder.overlaidSegments(outDir)
    need(Paths.get(IndexBuilder.stagingDir(outDir))).filter { case (s, _) => !over(s) } ++
      over.map(s => s -> need(overlay(outDir, s)).getOrElse(s, Empty))
  }

  /** The staging view's stats summed over its segments. */
  def total(outDir: String): SegStat = view(outDir).values.foldLeft(Empty)(_ + _)
}
