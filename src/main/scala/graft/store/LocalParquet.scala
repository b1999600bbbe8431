package graft.store

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicReferenceArray
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader, ParquetProperties}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.statistics.{IntStatistics, Statistics}
import org.apache.parquet.compression.CompressionCodecFactory
import org.apache.parquet.compression.CompressionCodecFactory.BytesInputDecompressor
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{CodecFactory, ParquetFileReader, ParquetWriter}
import org.apache.parquet.format.Util
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData, ColumnPath, CompressionCodecName, ParquetMetadata}
import org.apache.parquet.internal.column.columnindex.{ColumnIndex, OffsetIndex}
import org.apache.parquet.internal.filter2.columnindex.{ColumnIndexStore, RowRanges}
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveComparator}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import org.xerial.snappy.Snappy
import scala.jdk.CollectionConverters._

/**
 * In-process reads of the index's local Parquet files, with no Spark
 * job and no Hadoop `Configuration` (whose XML parse costs ~14 ms per
 * file open): `LocalInputFile` over `java.nio`, plain Parquet conf,
 * flat schemas only. [[write]] writes every index file the same way,
 * inside the task that produces its rows.
 *
 * Index tables are written term-sorted in bounded row groups, so a
 * file's per-row-group min/max `term` statistics are a sparse terms
 * index: a [[TermFilter]]ed [[read]] reads only the row groups whose
 * range can hold a kept term. Inside those, the `term` column index
 * (each page's min/max term) and the offset index (where each page
 * starts) are a dense one: postings are written in small pages, paged
 * by `term` (see [[write]]), and the read loads and decodes only the
 * pages whose range can hold a kept term, through parquet-mr's filtered
 * row-group read. It decodes the `term` column of those pages first and
 * the other columns only for the kept rows. A file without a `term`
 * column index, or written one page per column chunk, reads whole row
 * groups as before. Staging files are segment-sorted, so
 * [[Filter.segment]] reads one segment's row groups the same way.
 * [[rows]] streams a file one row group at a time. Inside a Spark task
 * the rows and bytes of the pages read (whole row groups when nothing
 * was pruned) are added to the task's input metrics.
 *
 * Parsed footers, and each row group's page index once a term filter
 * has used it, are kept per JVM under the file's path, size and
 * modification time, like the terms index a Lucene reader loads once
 * per segment: a footer or index parse costs more than the pages a
 * query reads, so only the first read of a file pays it, and a
 * rewritten file misses. Snappy pages (Spark's default codec)
 * decompress in one call into an array of the page's size; see
 * [[Codecs]].
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
    * (`_segstats`, a [[write]]'s temporary file, Spark's `_SUCCESS` and
    * `.crc` files) skipped, a missing directory is empty. */
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

  /** Which rows a [[read]] keeps, by one column: `mayHold` tests a row
    * group's statistics of it, `keep` the reader's current value of it
    * in each row of the row groups that pass. A read decodes the
    * filter's column first and the others only for the kept rows. */
  sealed trait Filter {
    private[LocalParquet] def column: String
    private[LocalParquet] def mayHold(s: Statistics[_]): Boolean
    private[LocalParquet] def keep(c: ColumnReader): Boolean
  }

  object Filter {
    /** The rows of segment `seg` of a table with an INT32 `segment`
      * column: only the row groups whose segment range holds it are
      * read. */
    def segment(seg: Int): Filter = new Filter {
      def column = "segment"
      def mayHold(s: Statistics[_]): Boolean = {
        val st = s.asInstanceOf[IntStatistics]
        st.getMin <= seg && seg <= st.getMax
      }
      def keep(c: ColumnReader): Boolean = c.getInteger == seg
    }
  }

  /** Which rows of a term-sorted table a [[read]] keeps, by `term`.
    * `holds` tests a term range `[min, max]`: a row group's statistics
    * first, then each of its pages' column index entries. */
  sealed abstract class TermFilter extends Filter {
    private[LocalParquet] def column = "term"
    private[LocalParquet] def mayHold(s: Statistics[_]): Boolean =
      holds(s.genericGetMin.asInstanceOf[Binary], s.genericGetMax.asInstanceOf[Binary])
    private[LocalParquet] def keep(c: ColumnReader): Boolean = keeps(c.getBinary)
    private[LocalParquet] def holds(min: Binary, max: Binary): Boolean
    protected def keeps(t: Binary): Boolean
  }

  object TermFilter {
    /** Exactly `terms` (an empty set reads nothing). */
    def in(terms: Set[String]): TermFilter = new TermFilter {
      private val ks = terms.map(Binary.fromString)
      def holds(min: Binary, max: Binary): Boolean =
        ks.exists(k => ByteOrder.compare(min, k) <= 0 && ByteOrder.compare(max, k) >= 0)
      def keeps(t: Binary): Boolean = ks.contains(t)
    }

    /** The terms that start with one of `prefixes` and pass `test`: a
      * prefix is a term range, so only the row groups and pages that
      * meet one are read, and an empty prefix meets every one. */
    def prefixed(prefixes: Set[String], test: String => Boolean): TermFilter = new TermFilter {
      private val ps = prefixes.map(Binary.fromString)
      def holds(min: Binary, max: Binary): Boolean = ps.exists { p =>
        ByteOrder.compare(max, p) >= 0 && (ByteOrder.compare(min, p) <= 0 || startsWith(min, p))
      }
      def keeps(t: Binary): Boolean = ps.exists(startsWith(t, _)) && test(t.toStringUsingUTF8)
    }

    /** The terms in `[lo, hi)` by UTF-8 byte order, each end open when
      * absent: only the row groups and pages that meet the range are
      * read. */
    def range(lo: Option[String], hi: Option[String]): TermFilter = new TermFilter {
      private val (l, h) = (lo.map(Binary.fromString), hi.map(Binary.fromString))
      def holds(min: Binary, max: Binary): Boolean =
        l.forall(ByteOrder.compare(max, _) >= 0) && h.forall(ByteOrder.compare(min, _) < 0)
      def keeps(t: Binary): Boolean =
        l.forall(ByteOrder.compare(t, _) >= 0) && h.forall(ByteOrder.compare(t, _) < 0)
    }

    /** The order of the `term` statistics and column index: unsigned
      * bytes, as Spark's string sort. */
    private val ByteOrder = PrimitiveComparator.UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR

    private def startsWith(t: Binary, p: Binary): Boolean = {
      val (a, b) = (t.toByteBuffer, p.toByteBuffer)
      a.remaining >= b.remaining && a.duplicate().limit(a.position + b.remaining).equals(b)
    }
  }

  /** The least and greatest value of the integer column `column` over
    * `file`'s row groups, from the cached footer; None when no row
    * group has statistics of it (an empty file). */
  def range(file: Path, column: String): Option[(Long, Long)] = {
    val stats = footer(file).getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
      .find(_.getPath.toDotString == column).map(_.getStatistics).filter(_.hasNonNullValue))
    if (stats.isEmpty) None
    else {
      def long(v: Any) = v.asInstanceOf[Number].longValue
      Some((stats.map(s => long(s.genericGetMin)).min, stats.map(s => long(s.genericGetMax)).max))
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
    * that `filter` keeps when given. Columns named in `without`, other
    * than the filter's, are neither read nor decoded (null in the rows);
    * with `raw`, UTF-8 columns read as their bytes (`Array[Byte]`), not
    * as `String`. */
  def read[T](file: Path, filter: Option[Filter] = None, without: Set[String] = Set.empty,
              raw: Boolean = false)(f: Row => T): Vector[T] = {
    val it = new Rows(file, filter, without, raw, f, inTask = false)
    try it.toVector finally it.close()
  }

  /** [[read]] as an iterator that holds one row group's kept rows at a
    * time. The file closes when the iterator is exhausted or closed, or,
    * inside a Spark task, when the task ends. */
  def rows[T](file: Path, filter: Option[Filter] = None, without: Set[String] = Set.empty,
              raw: Boolean = false)(f: Row => T): Iterator[T] with AutoCloseable =
    new Rows(file, filter, without, raw, f, inTask = true)

  private final class Rows[T](file: Path, filter: Option[Filter], without: Set[String],
                              raw: Boolean, f: Row => T, inTask: Boolean)
      extends Iterator[T] with AutoCloseable {
    private val r = new Reader(file, keyOf(file))
    private var closed = false
    if (inTask) Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))
    private val meta = r.getFileMetaData
    private val schema = meta.getSchema
    private val cols = schema.getColumns.asScala.toVector.filterNot { c =>
      val name = c.getPath.mkString(".")
      without(name) && !filter.exists(_.column == name)
    }
    if (without.nonEmpty) r.setRequestedSchema(cols.asJava)
    private val index = cols.map(_.getPath.mkString(".")).zipWithIndex.toMap
    private val keyCol = filter.flatMap(tf => index.get(tf.column)).getOrElse(-1)
    require(filter.isEmpty || keyCol >= 0, s"$file has no column ${filter.get.column} to filter on")
    private val converter = new GroupRecordConverter(schema).getRootConverter
    private val blocks = r.getRowGroups.asScala.toVector
    private var g = 0
    private var group: Iterator[T] = Iterator.empty

    def hasNext: Boolean = {
      while (!group.hasNext && !closed && g < blocks.size) { group = readGroup(g); g += 1 }
      if (!group.hasNext) close()
      group.hasNext
    }

    def next(): T = if (hasNext) group.next() else throw new NoSuchElementException

    def close(): Unit = if (!closed) { closed = true; group = Iterator.empty; r.close() }

    /** Row group `g`'s kept rows: a term filter picks the pages whose
      * `term` range can hold a kept term, the filter's column picks the
      * rows of those (runs, in a sorted file), then each other column
      * decodes only those. */
    private def readGroup(g: Int): Iterator[T] = {
      val b = blocks(g)
      if (!filter.forall(mayHold(b, _))) return Iterator.empty
      val chunks = b.getColumns.asScala.filter(c => index.contains(c.getPath.toDotString))
      val paged = filter match {
        case Some(tf: TermFilter) => Some(r.pageIndex(g)).filter(_.terms.nonEmpty).map(_ -> tf)
        case _ => None
      }
      val (read, bytes) = paged match {
        case None => (r.readRowGroup(g), chunks.map(_.getTotalSize).sum)
        case Some((pi, tf)) =>
          val ranges = pi.rows(tf, b.getRowCount)
          if (ranges.rowCount == 0) return Iterator.empty
          (r.readFilteredRowGroup(g, ranges), chunks.map(pi.bytes(_, ranges, b.getRowCount)).sum)
      }
      ColumnBridge.addTaskInput(read.getRowCount, bytes)
      val store = new ColumnReadStoreImpl(read, converter, schema, meta.getCreatedBy)
      val n = read.getRowCount.toInt
      val (rows, keys) = filter match {
        case None => ((0 until n).toArray, null)
        case Some(tf) =>
          val d = cols(keyCol)
          val c = store.getColumnReader(d)
          val hits = Array.newBuilder[Int]; val ks = Array.newBuilder[Any]
          var i = 0
          while (i < n) {
            if (c.getCurrentDefinitionLevel == d.getMaxDefinitionLevel && tf.keep(c)) {
              hits += i; ks += value(c, d, raw)
            }
            c.consume(); i += 1
          }
          (hits.result(), ks.result())
      }
      if (rows.isEmpty) return Iterator.empty
      val values = Array.fill(rows.length)(new Array[Any](cols.length))
      cols.indices.foreach { j =>
        if (keys != null && j == keyCol) rows.indices.foreach(k => values(k)(j) = keys(k))
        else decode(store.getColumnReader(cols(j)), cols(j), rows, values, j, raw)
      }
      values.iterator.map(v => f(new Row(index, v)))
    }
  }

  /** Writes `rows` (in `schema`'s field order) to `file` as one Snappy
    * Parquet file in row groups of about `rowGroupBytes` and pages of at
    * most `pageRows` rows, and returns how many rows there were. A table
    * `pagedBy` its sort column keeps statistics, and so a column index,
    * of that column only, which is then its page-level sort index; its
    * other columns' page min/max would prune nothing. No binary column of
    * it is dictionary-encoded, so a read of a few pages decodes no
    * dictionary of byte strings (an integer column's is small), and its
    * pages carry no checksum, which no reader here verifies. Spark's own write support turns the rows into
    * Parquet, under a `Configuration` built empty, so the file is byte
    * for byte what Spark's writer makes of the same rows in the same
    * process, and Spark reads it back as its own. The rows go to a hidden name
    * beside `file`, renamed to `file` once complete: a write that fails
    * leaves no file behind, and a repeated one replaces the file whole. */
  def write(file: Path, schema: StructType, rows: Iterator[InternalRow],
            rowGroupBytes: Long = ParquetWriter.DEFAULT_BLOCK_SIZE,
            pageRows: Int = ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT,
            pagedBy: Option[String] = None): Long = {
    val tmp = file.resolveSibling(s".${file.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    val conf = new Configuration(false)
    ParquetWriteSupport.setSchema(schema, conf)
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
      .foreach(c => conf.set(c.key, c.defaultValueString))
    var n = 0L
    try {
      val b = new RowWriter(new LocalOutputFile(tmp)).withConf(conf).withRowGroupSize(rowGroupBytes)
        .withPageRowCountLimit(pageRows).withCompressionCodec(CompressionCodecName.SNAPPY)
      val w = pagedBy.fold(b)(c => schema.fields.collect { case f if f.dataType == StringType || f.dataType == BinaryType =>
        f.name }.foldLeft(b.withStatisticsEnabled(false).withStatisticsEnabled(c, true))(_.withDictionaryEncoding(_, false))
        .withPageWriteChecksumEnabled(false)).build()
      try rows.foreach { r => w.write(r); n += 1 } finally w.close()
      Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    n
  }

  /** The `i`th data file of a table directory. */
  def part(dir: Path, i: Int): Path = dir.resolve(f"part-$i%05d.parquet")

  private final class RowWriter(file: LocalOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    protected def self(): RowWriter = this
    protected def getWriteSupport(conf: Configuration) = new ParquetWriteSupport
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

  /** Most row groups the cached footers and page indexes describe (a
    * few KiB each); past it both caches start over. */
  private val MaxRowGroups = 16384
  private type Key = (String, Long, Long)
  private val footers = new java.util.concurrent.ConcurrentHashMap[Key, ParquetMetadata]()
  private val pageIndexes = new java.util.concurrent.ConcurrentHashMap[Key, AtomicReferenceArray[PageIndex]]()
  private val cachedRowGroups = new java.util.concurrent.atomic.AtomicLong()

  /** A file's cache key: path, size and modification time. Index files
    * are written once, and a rewritten file misses. */
  private def keyOf(file: Path): Key =
    (file.toString, Files.size(file), Files.getLastModifiedTime(file).toMillis)

  /** Counts `n` more cached row groups, emptying both caches first when
    * that would pass the bound. */
  private def admit(n: Int): Unit =
    if (cachedRowGroups.addAndGet(n) > MaxRowGroups) {
      footers.clear(); pageIndexes.clear()
      cachedRowGroups.set(n)
    }

  private def footer(file: Path): ParquetMetadata = footer(file, keyOf(file))

  /** `file`'s parsed footer, cached under `key`. */
  private def footer(file: Path, key: Key): ParquetMetadata = {
    val hit = footers.get(key)
    if (hit != null) hit
    else {
      val in = new LocalInputFile(file)
      val s = in.newStream()
      val f = try ParquetFileReader.readFooter(in, options(), s) finally s.close()
      admit(f.getBlocks.size)
      footers.put(key, f)
      f
    }
  }

  /** A reader of `file` over its cached footer and cached page indexes:
    * a filtered row group read locates its pages without reading the
    * file's indexes again. */
  private final class Reader(file: Path, key: Key, in: LocalInputFile)
      extends ParquetFileReader(in, footer(file, key), options(), in.newStream()) {
    def this(file: Path, key: Key) = this(file, key, new LocalInputFile(file))
    private lazy val pages =
      pageIndexes.computeIfAbsent(key, _ => new AtomicReferenceArray[PageIndex](getRowGroups.size))

    /** Row group `g`'s page index, loaded on its first use in this JVM. */
    def pageIndex(g: Int): PageIndex = {
      val hit = pages.get(g)
      if (hit != null) hit
      else {
        val pi = PageIndex.load(file, getRowGroups.get(g))
        admit(1)
        pages.set(g, pi)
        pi
      }
    }

    override def getColumnIndexStore(g: Int): ColumnIndexStore = pageIndex(g)
  }

  /** One row group's page index: every column chunk's offset index
    * (where each page starts, its size and first row) and each page's
    * least and greatest `term` from the column index (None when the
    * file has no `term` column index, or a chunk no offset index). */
  private final class PageIndex(val terms: Option[(Array[Binary], Array[Binary])],
                                offsets: Map[ColumnPath, OffsetIndex]) extends ColumnIndexStore {
    def getColumnIndex(p: ColumnPath): ColumnIndex = null
    def getOffsetIndex(p: ColumnPath): OffsetIndex =
      offsets.getOrElse(p, throw new ColumnIndexStore.MissingOffsetIndexException(p))

    /** The rows of the pages whose `term` range `filter` holds (a page of
      * nulls, with no range, holds none). */
    def rows(filter: TermFilter, rowCount: Long): RowRanges = {
      val (mins, maxs) = terms.get
      val pages = (0 until mins.length).filter(p => mins(p) != null && filter.holds(mins(p), maxs(p)))
      RowRanges.create(rowCount, java.util.Arrays.stream(pages.toArray).iterator(), getOffsetIndex(TermPath))
    }

    /** The bytes a filtered read of `c` loads for `ranges`: its
      * dictionary page, if any, and each page that meets the ranges. */
    def bytes(c: ColumnChunkMetaData, ranges: RowRanges, rowCount: Long): Long = {
      val o = getOffsetIndex(c.getPath)
      var sum = o.getOffset(0) - c.getStartingPos
      var p = 0
      while (p < o.getPageCount) {
        if (ranges.isOverlapping(o.getFirstRowIndex(p), o.getLastRowIndex(p, rowCount))) sum += o.getCompressedPageSize(p)
        p += 1
      }
      sum
    }
  }

  private val TermPath = ColumnPath.get("term")

  private object PageIndex {
    /** Row group `b`'s page index, read from `file`: its offset indexes
      * lie side by side, so they load in one read, and the `term` column
      * index in another. */
    def load(file: Path, b: BlockMetaData): PageIndex = {
      val chunks = b.getColumns.asScala.toVector
      val refs = chunks.map(_.getOffsetIndexReference)
      if (refs.contains(null)) return new PageIndex(None, Map.empty)
      val ch = FileChannel.open(file)
      def bytes(at: Long, n: Int): java.io.InputStream = {
        val buf = ByteBuffer.allocate(n)
        while (buf.hasRemaining && ch.read(buf, at + buf.position) >= 0) {}
        new java.io.ByteArrayInputStream(buf.array)
      }
      try {
        val lo = refs.map(_.getOffset).min
        val all = bytes(lo, (refs.map(r => r.getOffset + r.getLength).max - lo).toInt)
        val offsets = chunks.zip(refs).map { case (c, r) =>
          all.reset(); all.skip(r.getOffset - lo)
          c.getPath -> ParquetMetadataConverter.fromParquetOffsetIndex(Util.readOffsetIndex(all))
        }.toMap
        val terms = for {
          c <- chunks.find(_.getPath == TermPath)
          r <- Option(c.getColumnIndexReference)
          ci <- Option(ParquetMetadataConverter.fromParquetColumnIndex(c.getPrimitiveType,
            Util.readColumnIndex(bytes(r.getOffset, r.getLength))))
        } yield {
          val (mins, maxs, nulls) = (ci.getMinValues, ci.getMaxValues, ci.getNullPages)
          def bound(vs: java.util.List[ByteBuffer], p: Int) =
            if (nulls.get(p)) null else Binary.fromConstantByteBuffer(vs.get(p))
          (Array.tabulate(mins.size)(bound(mins, _)), Array.tabulate(maxs.size)(bound(maxs, _)))
        }
        new PageIndex(terms, offsets)
      } finally ch.close()
    }
  }

  /** Whether a row group's statistics of the filter's column allow a
    * row it keeps. */
  private def mayHold(b: BlockMetaData, filter: Filter): Boolean =
    b.getColumns.asScala.find(_.getPath.toDotString == filter.column).forall { c =>
      val s: Statistics[_] = c.getStatistics
      !s.hasNonNullValue || filter.mayHold(s)
    }

  /** Column `j`'s values of the ascending `rows` into `values(k)(j)`,
    * skipping the rows between them. */
  private def decode(c: ColumnReader, d: ColumnDescriptor, rows: Array[Int],
                     values: Array[Array[Any]], j: Int, raw: Boolean): Unit = {
    var i = 0; var k = 0
    while (k < rows.length) {
      val hit = i == rows(k)
      if (c.getCurrentDefinitionLevel == d.getMaxDefinitionLevel) {
        if (!hit) c.skip()
        else values(k)(j) = value(c, d, raw)
      }
      c.consume(); i += 1
      if (hit) k += 1
    }
  }

  /** The reader's current (defined) value: Int, Long, Double, String
    * for a UTF-8 column unless `raw`, else Array[Byte]. */
  private def value(c: ColumnReader, d: ColumnDescriptor, raw: Boolean): Any = {
    val t = d.getPrimitiveType
    t.getPrimitiveTypeName match {
      case INT32 => c.getInteger
      case INT64 => c.getLong
      case DOUBLE => c.getDouble
      case BINARY if !raw && t.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType() =>
        c.getBinary.toStringUsingUTF8
      case BINARY => c.getBinary.getBytes
      case other => throw new IllegalArgumentException(s"unsupported column type $other")
    }
  }
}
