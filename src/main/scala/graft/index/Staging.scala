package graft.index

import graft.store.LocalParquet
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path, Paths}

/** Where one segment's rows of the staging view live: the files of its
  * overlay (which hold only its rows and carry the segment in their
  * directory name), or the base files whose segment statistics meet
  * it. Files are in doc_id order, so [[rows]] yields the segment in
  * doc_id order. */
private[index] case class SegmentSource(segment: Int, files: Seq[String], overlay: Boolean) {

  /** The segment's rows, read in place one row group at a time: base
    * files are filtered to the segment by its row-group statistics and
    * its `segment` column, UTF-8 columns read as raw bytes, and the
    * columns in `without` are not read. */
  def rows[T](without: Set[String])(f: LocalParquet.Row => T): Iterator[T] = {
    val filter = if (overlay) None else Some(LocalParquet.Filter.segment(segment))
    files.iterator.flatMap(p => LocalParquet.rows(Paths.get(p), filter, without, raw = true)(f))
  }

  /** The segment's rows as staging rows ([[IndexBuilder.StagingSchema]]
    * ordinals); the strings wrap the bytes read, with no decode. */
  def stagingRows: Iterator[InternalRow] = rows(Set.empty) { r =>
    def u8(c: String) = r[Array[Byte]](c) match {
      case null => null
      case b => UTF8String.fromBytes(b)
    }
    new GenericInternalRow(Array[Any](r[Long]("doc_id"), segment, u8("conv_id"), r[Int]("turn_idx"),
      u8("role"), u8("text"), u8("tool"), r[Int]("dl"), r[Any]("src_hash")))
  }
}

/** The staging view read in place, segment by segment, with no Spark
  * scan: base files are written sorted by (segment, doc_id), so each
  * file's `segment` statistics tell which segments it holds, and its
  * row-group statistics which row groups. Every staging file is written
  * by [[write]], inside the task that produces its rows. */
private[index] object Staging {

  /** The columns of an overlay file: the staging columns but `segment`,
    * which the overlay's directory name carries. */
  private val OverlayOrdinals =
    IndexBuilder.StagingSchema.fields.indices.filter(_ != IndexBuilder.StagingSchema.fieldIndex("segment"))
  private val OverlaySchema = StructType(OverlayOrdinals.map(IndexBuilder.StagingSchema.fields(_)))

  /** Writes staging `rows`, sorted by (segment, doc_id), to `file` in
    * [[IndexBuilder.StagingRowGroupBytes]] row groups, without the
    * `segment` column for an `overlay`, and returns their per-segment
    * stats ([[SegStats]]). */
  def write(file: Path, rows: Iterator[InternalRow], overlay: Boolean): Map[Int, SegStat] = {
    val sums = new SegStats.Sums
    val summed = rows.map { r => sums.add(r); r }
    if (!overlay) LocalParquet.write(file, IndexBuilder.StagingSchema, summed, IndexBuilder.StagingRowGroupBytes)
    else {
      val projected = ProjectingInternalRow(OverlaySchema, OverlayOrdinals)
      LocalParquet.write(file, OverlaySchema, summed.map { r => projected.project(r); projected },
        IndexBuilder.StagingRowGroupBytes)
    }
    sums.result
  }

  /** The source of each of `segments`, in the same order. */
  def sources(outDir: String, segments: Seq[Int]): Seq[SegmentSource] = {
    if (!Files.exists(Paths.get(IndexBuilder.stagingDir(outDir))))
      Incremental.recoverCompact(outDir) // crash inside a base write's rename window
    val over = IndexBuilder.overlaidSegments(outDir)
    val base = inDocOrder(LocalParquet.files(Paths.get(IndexBuilder.stagingDir(outDir))))
      .flatMap(f => LocalParquet.range(f, "segment").map(f.toString -> _))
    segments.map { s =>
      if (over(s)) SegmentSource(s, inDocOrder(LocalParquet.files(
        Paths.get(IndexBuilder.overlayDir(outDir), s"segment=$s"))).map(_.toString), overlay = true)
      else SegmentSource(s, base.collect { case (f, (lo, hi)) if lo <= s && s <= hi => f }, overlay = false)
    }
  }

  /** Non-empty `files` ascending by their least doc_id. */
  private def inDocOrder(files: Seq[Path]): Seq[Path] =
    files.flatMap(f => LocalParquet.range(f, "doc_id").map(f -> _._1)).sortBy(_._2).map(_._1)
}
