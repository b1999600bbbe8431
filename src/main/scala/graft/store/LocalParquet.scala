package graft.store

import java.nio.ByteBuffer
import java.nio.file.{Files, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.compression.CompressionCodecFactory
import org.apache.parquet.compression.CompressionCodecFactory.BytesInputDecompressor
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{CodecFactory, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, CompressionCodecName, ParquetMetadata}
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveComparator}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.graft.ColumnBridge
import org.xerial.snappy.Snappy
import scala.jdk.CollectionConverters._

/**
 * In-process reads of the index's local Parquet files, with no Spark
 * job and no Hadoop `Configuration` (whose XML parse costs ~14 ms per
 * file open): `LocalInputFile` over `java.nio`, plain Parquet conf,
 * flat schemas only.
 *
 * Index tables are written term-sorted in bounded row groups, so a
 * file's per-row-group min/max `term` statistics are a sparse terms
 * index: a [[TermFilter]]ed [[read]] reads only the row groups whose
 * range can hold a kept term, decodes their `term` column first, and
 * decodes the other columns only for the kept rows. Inside a Spark task
 * the rows and bytes of the row groups read are added to the task's
 * input metrics.
 *
 * Parsed footers are kept per JVM (see [[footer]]), like the terms
 * index a Lucene reader loads once per segment: a footer parse costs
 * more than the row groups a query reads, so only the first read of a
 * file pays it. Snappy pages (Spark's default codec) decompress in one
 * call into an array of the page's size; see [[Codecs]].
 */
object LocalParquet {

  /** One row of a [[read]]: column values by name — Int, Long, Double,
    * String (UTF-8 columns), Array[Byte] (other binary), or null for a
    * missing value or column. */
  final class Row private[LocalParquet] (index: Map[String, Int], values: Array[Any]) {
    def apply[T](column: String): T = (index.get(column) match {
      case Some(i) => values(i)
      case None => null
    }).asInstanceOf[T]
  }

  /** The data files of a table directory, name-sorted; hidden entries
    * (`_SUCCESS`, `.crc`) skipped, a missing directory is empty. */
  def files(dir: Path): Seq[Path] = list(dir).filter(Files.isRegularFile(_))

  /** The `<key>=N` partition directories of a table, ascending by N. */
  def partitions(dir: Path, key: String): Seq[(Int, Path)] =
    list(dir).collect {
      case p if Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$key=") =>
        p.getFileName.toString.stripPrefix(s"$key=").toInt -> p
    }.sortBy(_._1)

  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }.toVector.sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** Which rows of a term-sorted table a [[read]] keeps, by `term`:
    * `mayHold` tests a row group's term statistics, `keep` each row's
    * term in the row groups that pass. */
  sealed trait TermFilter {
    private[LocalParquet] def mayHold(s: Statistics[Binary]): Boolean
    private[LocalParquet] def keep(t: Binary): Boolean
  }

  object TermFilter {
    /** Exactly `terms` (an empty set reads nothing). */
    def in(terms: Set[String]): TermFilter = new TermFilter {
      private val ks = terms.map(Binary.fromString)
      def mayHold(s: Statistics[Binary]): Boolean =
        ks.exists(k => s.compareMinToValue(k) <= 0 && s.compareMaxToValue(k) >= 0)
      def keep(t: Binary): Boolean = ks.contains(t)
    }

    /** The terms that start with one of `prefixes` and pass `test`: a
      * prefix is a term range, so only the row groups that meet one are
      * read, and an empty prefix meets every row group. */
    def prefixed(prefixes: Set[String], test: String => Boolean): TermFilter = new TermFilter {
      private val ps = prefixes.map(Binary.fromString)
      def mayHold(s: Statistics[Binary]): Boolean = ps.exists { p =>
        s.compareMaxToValue(p) >= 0 && (s.compareMinToValue(p) <= 0 || startsWith(s.genericGetMin, p))
      }
      def keep(t: Binary): Boolean = ps.exists(startsWith(t, _)) && test(t.toStringUsingUTF8)
    }

    /** The terms in `[lo, hi)` by UTF-8 byte order, each end open when
      * absent: only the row groups that meet the range are read. */
    def range(lo: Option[String], hi: Option[String]): TermFilter = new TermFilter {
      private val (l, h) = (lo.map(Binary.fromString), hi.map(Binary.fromString))
      def mayHold(s: Statistics[Binary]): Boolean =
        l.forall(s.compareMaxToValue(_) >= 0) && h.forall(s.compareMinToValue(_) < 0)
      def keep(t: Binary): Boolean =
        l.forall(ByteOrder.compare(t, _) >= 0) && h.forall(ByteOrder.compare(t, _) < 0)
    }

    /** The order of the `term` statistics: unsigned bytes, as Spark's
      * string sort. */
    private val ByteOrder = PrimitiveComparator.UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR

    private def startsWith(t: Binary, p: Binary): Boolean = {
      val (a, b) = (t.toByteBuffer, p.toByteBuffer)
      a.remaining >= b.remaining && a.duplicate().limit(a.position + b.remaining).equals(b)
    }
  }

  /** Each row group of `file` as its least `term` and its row count,
    * from the cached footer; row groups without term statistics are
    * left out. */
  def termRowGroups(file: Path): Seq[(String, Long)] =
    footer(file).getBlocks.asScala.toSeq.flatMap { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == "term").collect {
        case c if c.getStatistics.hasNonNullValue =>
          c.getStatistics.asInstanceOf[Statistics[Binary]].genericGetMin.toStringUsingUTF8 -> b.getRowCount
      }
    }

  /** The rows of `file` in file order, each mapped by `f` — only those
    * that `filter` keeps when given. Columns named in `without` are
    * neither read nor decoded (null in the rows). */
  def read[T](file: Path, filter: Option[TermFilter] = None,
              without: Set[String] = Set.empty)(f: Row => T): Vector[T] = {
    val in = new LocalInputFile(file)
    val r = ParquetFileReader.open(in, footer(file), options(), in.newStream())
    try {
      val meta = r.getFileMetaData
      val schema = meta.getSchema
      val cols = schema.getColumns.asScala.toVector.filterNot(c => without(c.getPath.mkString(".")))
      if (without.nonEmpty) r.setRequestedSchema(cols.asJava)
      val index = cols.map(_.getPath.mkString(".")).zipWithIndex.toMap
      val termCol = index.getOrElse("term", -1)
      val converter = new GroupRecordConverter(schema).getRootConverter
      val out = Vector.newBuilder[T]
      r.getRowGroups.asScala.zipWithIndex.foreach { case (b, g) =>
        if (filter.forall(mayHold(b, _))) {
          ColumnBridge.addTaskInput(b.getRowCount, b.getColumns.asScala
            .filterNot(c => without(c.getPath.toDotString)).map(_.getTotalSize).sum)
          val store = new ColumnReadStoreImpl(r.readRowGroup(g), converter, schema, meta.getCreatedBy)
          val n = b.getRowCount.toInt
          // the term pass picks the rows (runs, as the file is term-sorted)
          val (rows, termValues) = filter match {
            case None => ((0 until n).toArray, null)
            case Some(tf) =>
              val c = store.getColumnReader(cols(termCol))
              val hits = Array.newBuilder[Int]; val ts = Array.newBuilder[Any]
              var i = 0
              while (i < n) {
                if (c.getCurrentDefinitionLevel == cols(termCol).getMaxDefinitionLevel) {
                  val t = c.getBinary
                  if (tf.keep(t)) { hits += i; ts += t.toStringUsingUTF8 }
                }
                c.consume(); i += 1
              }
              (hits.result(), ts.result())
          }
          if (rows.nonEmpty) {
            val values = Array.fill(rows.length)(new Array[Any](cols.length))
            cols.indices.foreach { j =>
              if (termValues != null && j == termCol) rows.indices.foreach(k => values(k)(j) = termValues(k))
              else decode(store.getColumnReader(cols(j)), cols(j), rows, values, j)
            }
            values.foreach(v => out += f(new Row(index, v)))
          }
        }
      }
      out.result()
    } finally r.close()
  }

  private def options(): ParquetReadOptions = {
    val conf = new PlainParquetConfiguration()
    ParquetReadOptions.builder(conf).withCodecFactory(new Codecs(new CodecFactory(conf, 0))).build()
  }

  /** parquet-hadoop's codecs with Snappy replaced: its Snappy path opens
    * a Hadoop decompressor stream per page, whose buffer (64 KiB under
    * Spark's Hadoop conf) outweighs a page of a bounded row group many
    * times over. */
  private final class Codecs(other: CodecFactory) extends CompressionCodecFactory {
    def getCompressor(c: CompressionCodecName) = other.getCompressor(c)
    def getDecompressor(c: CompressionCodecName): BytesInputDecompressor =
      if (c == CompressionCodecName.SNAPPY) SnappyPages else other.getDecompressor(c)
    def release(): Unit = other.release()
  }

  private object SnappyPages extends BytesInputDecompressor {
    def decompress(bytes: BytesInput, size: Int): BytesInput = {
      val out = new Array[Byte](size)
      val in = bytes.toByteBuffer
      if (in.hasArray) Snappy.uncompress(in.array, in.arrayOffset + in.position, in.remaining, out, 0)
      else { val a = bytes.toByteArray; Snappy.uncompress(a, 0, a.length, out, 0) }
      BytesInput.from(out)
    }
    def decompress(in: ByteBuffer, inSize: Int, out: ByteBuffer, size: Int): Unit = {
      val b = new Array[Byte](inSize)
      in.get(b)
      val o = new Array[Byte](size)
      Snappy.uncompress(b, 0, inSize, o, 0)
      out.put(o)
    }
    def release(): Unit = ()
  }

  /** Most row groups the cached footers describe (a few KiB each);
    * past it the cache starts over. */
  private val MaxRowGroups = 16384
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), ParquetMetadata]()
  private val cachedRowGroups = new java.util.concurrent.atomic.AtomicLong()

  /** `file`'s parsed footer, cached by path, size and modification
    * time: index files are written once, and a rewritten file misses. */
  private def footer(file: Path): ParquetMetadata = {
    val key = (file.toString, Files.size(file), Files.getLastModifiedTime(file).toMillis)
    val hit = footers.get(key)
    if (hit != null) hit
    else {
      val in = new LocalInputFile(file)
      val s = in.newStream()
      val f = try ParquetFileReader.readFooter(in, options(), s) finally s.close()
      if (cachedRowGroups.addAndGet(f.getBlocks.size) > MaxRowGroups) {
        footers.clear()
        cachedRowGroups.set(f.getBlocks.size)
      }
      footers.put(key, f)
      f
    }
  }

  /** Whether a row group's `term` range can hold a term `tf` keeps. */
  private def mayHold(b: BlockMetaData, tf: TermFilter): Boolean =
    b.getColumns.asScala.find(_.getPath.toDotString == "term").forall { c =>
      val s = c.getStatistics.asInstanceOf[Statistics[Binary]]
      !s.hasNonNullValue || tf.mayHold(s)
    }

  /** Column `j`'s values of the ascending `rows` into `values(k)(j)`,
    * skipping the rows between them. */
  private def decode(c: ColumnReader, d: ColumnDescriptor, rows: Array[Int],
                     values: Array[Array[Any]], j: Int): Unit = {
    val t = d.getPrimitiveType
    val utf8 = t.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType()
    var i = 0; var k = 0
    while (k < rows.length) {
      val hit = i == rows(k)
      if (c.getCurrentDefinitionLevel == d.getMaxDefinitionLevel) {
        if (!hit) c.skip()
        else values(k)(j) = t.getPrimitiveTypeName match {
          case INT32 => c.getInteger
          case INT64 => c.getLong
          case DOUBLE => c.getDouble
          case BINARY if utf8 => c.getBinary.toStringUsingUTF8
          case BINARY => c.getBinary.getBytes
          case other => throw new IllegalArgumentException(s"unsupported column type $other")
        }
      }
      c.consume(); i += 1
      if (hit) k += 1
    }
  }
}
