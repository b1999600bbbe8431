package graft.index

import org.apache.spark.sql.catalyst.InternalRow

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The staging rows of one segment, summarized: row count, Σ dl, the
  * largest doc_id (-1 when empty) and the xor of the rows'
  * xxhash64(conv_id, turn_idx, role, text, tool). */
case class SegStat(n: Long, dlSum: Long, maxDocId: Long, hash: Long) {
  def +(o: SegStat): SegStat =
    SegStat(n + o.n, dlSum + o.dlSum, math.max(maxDocId, o.maxDocId), hash ^ o.hash)
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
 */
object SegStats {

  val FileName = "_segstats"

  val Empty: SegStat = SegStat(0L, 0L, -1L, 0L)

  /** The per-segment sums of the staging rows a task writes, which it
    * returns as its result; rows arrive grouped by segment, so the last
    * segment's slot is cached. */
  final class Sums {
    // n, dl sum, max doc_id, xor hash per segment
    private val m = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
    private var lastSeg = Int.MinValue
    private var last: Array[Long] = _

    /** One staging row (ordinals of [[IndexBuilder.StagingSchema]]). */
    def add(r: InternalRow): Unit = {
      def u8(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i)
      val seg = r.getInt(1)
      if (seg != lastSeg) {
        last = m.getOrElseUpdate(seg, Array(0L, 0L, -1L, 0L)); lastSeg = seg
      }
      last(0) += 1; last(1) += r.getInt(7)
      last(2) = math.max(last(2), r.getLong(0))
      last(3) ^= RowHash.turnHashRaw(r.getUTF8String(2), r.getInt(3), u8(4), u8(5), u8(6))
    }

    def result: Map[Int, SegStat] =
      m.map { case (k, a) => k -> SegStat(a(0), a(1), a(2), a(3)) }.toMap
  }

  /** Tasks' per-segment stats summed per segment. */
  def merge(parts: Iterable[Map[Int, SegStat]]): Map[Int, SegStat] =
    parts.flatten.groupMapReduce(_._1)(_._2)(_ + _)

  /** Writes `stats` as `dir`'s `_segstats` file (atomic rename). */
  def write(dir: Path, stats: Map[Int, SegStat]): Unit = {
    Files.createDirectories(dir)
    val txt = stats.toSeq.sortBy(_._1).map { case (s, t) =>
      s"$s ${t.n} ${t.dlSum} ${t.maxDocId} ${t.hash}\n"
    }.mkString
    val tmp = dir.resolve(FileName + ".tmp")
    Files.write(tmp, txt.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(FileName), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `dir`'s `_segstats` file, if it has one. */
  def read(dir: Path): Option[Map[Int, SegStat]] = {
    val f = dir.resolve(FileName)
    if (!Files.exists(f)) None
    else Some(Files.readAllLines(f, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val Array(s, n, dl, mx, h) = l.split(' ')
      s.toInt -> SegStat(n.toLong, dl.toLong, mx.toLong, h.toLong)
    }.toMap)
  }

  private def overlay(outDir: String, seg: Int): Path =
    Paths.get(IndexBuilder.overlayDir(outDir), s"segment=$seg")

  /** Whether the base and every overlay of `outDir`'s staging carry
    * their `_segstats` file. */
  def present(outDir: String): Boolean =
    Files.exists(Paths.get(IndexBuilder.stagingDir(outDir), FileName)) &&
      IndexBuilder.overlaidSegments(outDir).forall(s => Files.exists(overlay(outDir, s).resolve(FileName)))

  /** The per-segment stats of the staging view: base entries of the
    * segments without an overlay, then each overlay's. */
  def view(outDir: String): Map[Int, SegStat] = {
    def need(dir: Path) = read(dir).getOrElse(throw new IllegalStateException(
      s"$dir has no $FileName file: the index predates per-segment staging stats; rebuild it"))
    val over = IndexBuilder.overlaidSegments(outDir)
    need(Paths.get(IndexBuilder.stagingDir(outDir))).filter { case (s, _) => !over(s) } ++
      over.map(s => s -> need(overlay(outDir, s)).getOrElse(s, Empty))
  }

  /** The staging view's stats summed over its segments. */
  def total(outDir: String): SegStat = view(outDir).values.foldLeft(Empty)(_ + _)
}
