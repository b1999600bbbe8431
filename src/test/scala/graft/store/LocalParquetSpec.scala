package graft.store

import graft.SparkFunSuite
import graft.store.LocalParquet.TermFilter

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The in-process Parquet reader against Spark's own reader: term and
  * segment filtering, dropped columns, raw UTF-8 bytes, the streaming
  * form, both codec paths, a footer cache that notices a rewritten
  * file, and the in-process writer: read back by Spark, byte for byte
  * Spark's own file, and all or nothing under a failed attempt. */
class LocalParquetSpec extends SparkFunSuite {

  /** One single-file, term-sorted table of `n` rows written by Spark. */
  private def table(name: String, n: Int, codec: String = "snappy"): Path = {
    val s = spark
    import s.implicits._
    val dir = tmpDir(name)
    (0 until n).map(i => (f"t$i%05d", i.toLong, s"payload-$i"))
      .toDF("term", "df", "positions").orderBy("term").coalesce(1)
      .write.option("compression", codec).option("parquet.block.size", "4096").parquet(dir)
    val Seq(f) = LocalParquet.files(Paths.get(dir))
    f
  }

  private def rows(f: Path, terms: Option[Set[String]] = None,
                   without: Set[String] = Set.empty): Vector[(String, Long, String)] =
    read(f, terms.map(TermFilter.in), without)

  private def read(f: Path, filter: Option[TermFilter],
                   without: Set[String] = Set.empty): Vector[(String, Long, String)] =
    LocalParquet.read(f, filter, without)(r => (r[String]("term"), r[Long]("df"), r[String]("positions")))

  test("term-filtered reads match Spark's, with snappy and zstd pages") {
    val s = spark
    import s.implicits._
    for (codec <- Seq("snappy", "zstd")) {
      val f = table(s"lp-$codec", 3000, codec)
      val all = spark.read.parquet(f.toString).as[(String, Long, String)].collect().toVector
      assert(rows(f) == all, codec)
      val want = Set("t00007", "t01500", "t02999", "absent")
      assert(rows(f, Some(want)) == all.filter(r => want(r._1)), codec)
      assert(rows(f, Some(Set.empty)).isEmpty)
    }
  }

  test("a prefix filter reads the row groups that meet its prefixes and keeps what passes its test") {
    val s = spark
    import s.implicits._
    val f = table("lp-prefix", 3000)
    val all = spark.read.parquet(f.toString).as[(String, Long, String)].collect().toVector
    def check(prefixes: Set[String], test: String => Boolean): Unit = {
      val want = all.filter(r => prefixes.exists(r._1.startsWith) && test(r._1))
      assert(read(f, Some(TermFilter.prefixed(prefixes, test))) == want, prefixes)
    }
    check(Set("t001"), _ => true)                       // 100 rows inside a few row groups
    check(Set("t0299", "t00"), _.endsWith("7"))         // two ranges, the first at the file's end
    check(Set("t02999"), _ => true)                     // the last row alone
    check(Set("u", "s", "t1"), _ => true)               // past the max, before the min, past every term
    check(Set(""), _.contains("55"))                    // every row group, a per-term test
    assert(read(f, Some(TermFilter.prefixed(Set("t001"), _ => false))).isEmpty)
    // the range test skips row groups on both sides of the prefix: the
    // 10 rows of t0150* sit in the middle of the file, and a read of
    // them counts only the row groups it read, far fewer than the
    // half of the file on either side
    val rowsRead = spark.sparkContext.parallelize(Seq(f.toString), 1).map { p =>
      LocalParquet.read(Paths.get(p), Some(TermFilter.prefixed(Set("t0150"), _ => true)))(_ => ())
      org.apache.spark.TaskContext.get().taskMetrics().inputMetrics.recordsRead
    }.collect().head
    assert(rowsRead >= 10 && rowsRead < 3000 / 4, rowsRead)
  }

  test("a dropped column reads as null and leaves the others unchanged") {
    val f = table("lp-without", 500)
    val full = rows(f, Some(Set("t00010", "t00400")))
    assert(full.size == 2 && full.forall(_._3 != null))
    assert(rows(f, Some(Set("t00010", "t00400")), Set("positions")) == full.map(r => (r._1, r._2, null)))
  }

  test("a file rewritten in place is read anew, not from the footer cache") {
    val a = table("lp-a", 200)
    val b = table("lp-b", 300)
    val p = Paths.get(tmpDir("lp-swap"))
    Files.createDirectories(p)
    val f = p.resolve("part-0.parquet")
    Files.copy(a, f)
    assert(rows(f).size == 200)
    Files.copy(b, f, StandardCopyOption.REPLACE_EXISTING)
    assert(rows(f).size == 300)
  }

  /** One single-file staging-like table of `n` rows sorted by
    * (segment, doc_id), 40 rows per segment, in small row groups. */
  private def segmented(name: String, n: Int): Path = {
    val s = spark
    import s.implicits._
    val dir = tmpDir(name)
    (0 until n).map(i => (i.toLong, i / 40, if (i % 7 == 0) null else s"text é $i ${"x" * (i % 50)}"))
      .toDF("doc_id", "segment", "text").orderBy("segment", "doc_id").coalesce(1)
      .write.option("parquet.block.size", "4096").parquet(dir)
    val Seq(f) = LocalParquet.files(Paths.get(dir))
    f
  }

  /** Records read by `body` inside one Spark task. */
  private def recordsRead(f: Path)(body: Path => Unit): Long =
    spark.sparkContext.parallelize(Seq(f.toString), 1).map { p =>
      body(Paths.get(p))
      org.apache.spark.TaskContext.get().taskMetrics().inputMetrics.recordsRead
    }.collect().head

  test("a segment filter reads the segment's row groups and rows; raw mode reads UTF-8 as its bytes") {
    val s = spark
    import s.implicits._
    val f = segmented("lp-seg", 2000)
    val all = spark.read.parquet(f.toString).as[(Long, Int, String)].collect().toVector
    for (seg <- Seq(0, 7, 24, 49, 50)) {
      val want = all.filter(_._2 == seg)
      val got = LocalParquet.read(f, Some(LocalParquet.Filter.segment(seg)))(r =>
        (r[Long]("doc_id"), r[Int]("segment"), r[String]("text")))
      assert(got == want, seg)
      val raw = LocalParquet.read(f, Some(LocalParquet.Filter.segment(seg)), Set("segment"), raw = true)(r =>
        (r[Long]("doc_id"), r[Array[Byte]]("text")))
      assert(raw.map(r => (r._1, Option(r._2).map(_.toSeq))) ==
        want.map(w => (w._1, Option(w._3).map(_.getBytes("UTF-8").toSeq))), seg)
    }
    // segment 25 sits mid-file: its read decodes a few row groups, not
    // the file
    val n = recordsRead(f)(p => LocalParquet.read(p, Some(LocalParquet.Filter.segment(25)))(_ => ()))
    assert(n >= 40 && n < 2000 / 4, n)
  }

  test("the streaming form yields read's rows, holding one row group at a time") {
    val f = segmented("lp-rows", 2000)
    val whole = LocalParquet.read(f)(r => (r[Long]("doc_id"), r[String]("text")))
    val it = LocalParquet.rows(f)(r => (r[Long]("doc_id"), r[String]("text")))
    assert(it.toVector == whole)
    assert(!it.hasNext)
    it.close()
    val filtered = Some(LocalParquet.Filter.segment(3))
    assert(LocalParquet.rows(f, filtered)(_[Long]("doc_id")).toVector ==
      LocalParquet.read(f, filtered)(_[Long]("doc_id")))
    // the first row costs one row group; an early close ends the read
    val first = recordsRead(f) { p =>
      val rs = LocalParquet.rows(p)(_[Long]("doc_id"))
      assert(rs.next() == 0L)
      rs.close()
      assert(!rs.hasNext)
    }
    assert(first > 0 && first < 2000 / 4, first)
  }

  test("an in-process written table reads back through Spark with the encoder's schema") {
    val s = spark
    import s.implicits._
    // one row of the encoder's schema, against Spark's own write
    val stats = Seq(graft.model.CorpusStats(12L, 3.25, 7L, 3, 2, "v1")).toDS()
    val dir = Files.createDirectories(Paths.get(tmpDir("lp-write")))
    LocalParquet.write(LocalParquet.part(dir, 0), stats.schema, internalRows(stats.toDF()))
    val viaSpark = tmpDir("lp-write-spark")
    stats.coalesce(1).write.parquet(viaSpark)
    val mine = spark.read.parquet(dir.toString)
    assert(mine.schema == spark.read.parquet(viaSpark).schema)
    assert(mine.as[graft.model.CorpusStats].collect().toSeq == stats.collect().toSeq)
    val Seq(f) = LocalParquet.files(dir)
    assert(LocalParquet.read(f)(r => (r[Long]("n_docs"), r[Double]("avgdl"), r[String]("analyzer"))) ==
      Vector((12L, 3.25, "v1")))

    // every column type of the index, nulls in the optional ones, in
    // 128 KiB row groups: the bytes Spark's writer gives the same rows,
    // several row groups, each with its term range
    val rng = new scala.util.Random(7)
    val table = (0 until 6000).map { i =>
      (f"t$i%05d", i, i * 31L, i / 7.0,
        if (i % 11 == 0) null else Array.fill(40 + rng.nextInt(40))(rng.nextInt(256).toByte),
        if (i % 5 == 0) null else s"note é $i")
    }.toDF("term", "n", "id", "avg", "bytes", "note")
    val typed = Files.createDirectories(Paths.get(tmpDir("lp-write-types")))
    val mineF = LocalParquet.part(typed, 0)
    assert(LocalParquet.write(mineF, table.schema, internalRows(table), 128 * 1024) == 6000)
    val sparkDir = tmpDir("lp-write-types-spark")
    table.coalesce(1).write.option("parquet.block.size", 128 * 1024).parquet(sparkDir)
    val Seq(sparkF) = LocalParquet.files(Paths.get(sparkDir))
    assert(Files.readAllBytes(mineF).sameElements(Files.readAllBytes(sparkF)))
    val back = spark.read.parquet(typed.toString)
    assert(back.schema == spark.read.parquet(sparkDir).schema)
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().toSeq.map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v })
    assert(rowsOf(back) == rowsOf(table))
    val groups = LocalParquet.termRowGroups(mineF)
    assert(groups.size >= 3 && groups.map(_._2).sum == 6000 && groups.map(_._1) == groups.map(_._1).sorted, groups)
    assert(LocalParquet.read(mineF, Some(TermFilter.in(Set("t00011", "t04000"))))(r =>
      (r[Int]("n"), Option(r[Array[Byte]]("bytes")).map(_.length), r[String]("note"))) ==
      Vector((11, None, "note é 11"), (4000, Some(table.collect()(4000).getAs[Array[Byte]]("bytes").length), null)))

    // an empty input: one schema-only file that Spark reads as no rows
    val empty = Files.createDirectories(Paths.get(tmpDir("lp-write-empty")))
    assert(LocalParquet.write(LocalParquet.part(empty, 0), table.schema, Iterator.empty) == 0)
    val none = spark.read.parquet(empty.toString)
    assert(none.schema == back.schema && none.count() == 0)
    assert(LocalParquet.read(LocalParquet.part(empty, 0))(_ => ()).isEmpty)
  }

  test("a write that fails midway leaves no file; a rerun leaves one complete file and no temporary file") {
    val schema = StructType(Seq(StructField("term", StringType), StructField("n", LongType, nullable = false)))
    def rows(failAt: Int): Iterator[InternalRow] = (0 until 5000).iterator.map { i =>
      if (i == failAt) throw new IllegalStateException("task attempt lost")
      InternalRow(UTF8String.fromString(f"t$i%05d"), i.toLong)
    }
    val dir = Files.createDirectories(Paths.get(tmpDir("lp-attempts")))
    val f = LocalParquet.part(dir, 0)
    def listing = { val l = Files.list(dir); try l.iterator().asScala.toVector finally l.close() }
    intercept[IllegalStateException](LocalParquet.write(f, schema, rows(3000), 4096))
    assert(listing.isEmpty, listing)
    assert(LocalParquet.write(f, schema, rows(-1), 4096) == 5000)
    assert(listing == Vector(f))
    // a later failed attempt leaves the complete file as it was
    intercept[IllegalStateException](LocalParquet.write(f, schema, rows(10), 4096))
    assert(listing == Vector(f))
    assert(LocalParquet.read(f)(_[Long]("n")) == (0 until 5000).map(_.toLong))
    assert(spark.read.parquet(dir.toString).count() == 5000)
  }

  /** A term-sorted table of 3000 rows in which term `t<i>` repeats
    * 1 to 7 times (so terms span pages and row groups), with a payload. */
  private lazy val pagedRows: Vector[(String, Long, String)] = {
    val rng = new scala.util.Random(11)
    (0 until 900).flatMap(i => Seq.fill(1 + rng.nextInt(7))(f"t$i%05d"))
      .take(3000).zipWithIndex.map { case (t, j) => (t, j.toLong, s"payload-$j" * (1 + j % 3)) }.toVector
  }

  private val pagedSchema = StructType(Seq(StructField("term", StringType), StructField("df", LongType, nullable = false),
    StructField("positions", StringType)))

  /** `pagedRows` written in 4 KiB row groups of `pageRows`-row pages,
    * paged by `term`, or in the default layout (one page per column
    * chunk) when `pageRows` is 0. */
  private def pagedTable(name: String, pageRows: Int): Path = {
    val dir = Files.createDirectories(Paths.get(tmpDir(name)))
    val rows = pagedRows.iterator.map { case (t, n, p) =>
      InternalRow(UTF8String.fromString(t), n, UTF8String.fromString(p)) }
    val f = LocalParquet.part(dir, 0)
    if (pageRows == 0) LocalParquet.write(f, pagedSchema, rows, 4096)
    else LocalParquet.write(f, pagedSchema, rows, 4096, pageRows, pagedBy = Some("term"))
    f
  }

  test("page-pruned reads match Spark's for in, prefix and range filters, at page and row-group boundaries") {
    val s = spark
    import s.implicits._
    val f = pagedTable("lp-paged", 8)
    val all = spark.read.parquet(f.toString).as[(String, Long, String)].collect().toVector
    assert(all == pagedRows)
    // the file's pages: row groups of several 8-row pages each
    val groups = LocalParquet.termRowGroups(f).map(_._2)
    assert(groups.size >= 3 && groups.forall(_ > 16), groups)
    val starts = groups.scanLeft(0L)(_ + _)
    val pageStarts = groups.indices.flatMap(g => (starts(g) until starts(g + 1) by 8).map(_.toInt)).toSet
    val groupStarts = starts.init.map(_.toInt).toSet
    // a term on both sides of a page boundary inside a row group, one on
    // both sides of a row-group boundary, and an absent term that sorts
    // between the last term of one page and the first of the next
    def spanning(at: Set[Int]) = at.toSeq.sorted.collectFirst {
      case i if i > 0 && i < all.size && all(i)._1 == all(i - 1)._1 => all(i)._1 }.get
    val pageSpan = spanning(pageStarts -- groupStarts)
    val groupSpan = spanning(groupStarts)
    val gap = (pageStarts -- groupStarts).toSeq.sorted.collectFirst {
      case i if i > 0 && all(i)._1 != all(i - 1)._1 => all(i - 1)._1 + "a" }.get
    val (first, last) = (all.head._1, all.last._1)
    def check(filter: TermFilter, want: ((String, Long, String)) => Boolean, what: String): Unit = {
      val expected = all.filter(want)
      assert(read(f, Some(filter)) == expected, what)
      assert(LocalParquet.rows(f, Some(filter))(r => (r[String]("term"), r[Long]("df"), r[String]("positions")))
        .toVector == expected, what)
    }
    for (t <- Seq(pageSpan, groupSpan, gap, first, last)) check(TermFilter.in(Set(t)), _._1 == t, t)
    check(TermFilter.in(Set(pageSpan, groupSpan, gap, first, last, "zzz")), r =>
      Set(pageSpan, groupSpan, first, last)(r._1), "several")
    check(TermFilter.in(Set.empty), _ => false, "none")
    for (p <- Seq(pageSpan.take(5), groupSpan.take(6), gap, first, last.take(4), "t000", ""))
      check(TermFilter.prefixed(Set(p), _ => true), _._1.startsWith(p), s"prefix $p")
    check(TermFilter.prefixed(Set(pageSpan.take(5)), _.endsWith("3")), r =>
      r._1.startsWith(pageSpan.take(5)) && r._1.endsWith("3"), "prefix and test")
    def range(lo: Option[String], hi: Option[String]): Unit =
      check(TermFilter.range(lo, hi), r => lo.forall(r._1 >= _) && hi.forall(r._1 < _), s"range $lo $hi")
    range(Some(pageSpan), Some(groupSpan))
    range(Some(gap), Some(last))
    range(None, Some(first))
    range(Some(last), None)
    range(Some(groupSpan), Some(groupSpan + "a"))
    range(None, None)

    // the parent layout, one page per column chunk, reads the same rows
    val flat = pagedTable("lp-unpaged", 0)
    for (t <- Seq(pageSpan, groupSpan, gap, first, last))
      assert(read(flat, Some(TermFilter.in(Set(t)))) == read(f, Some(TermFilter.in(Set(t)))), t)
    assert(read(flat, Some(TermFilter.prefixed(Set("t001"), _ => true))) ==
      read(f, Some(TermFilter.prefixed(Set("t001"), _ => true))))
    assert(read(flat, None) == read(f, None))

    // inside a task a one-term read counts the rows of its pages: a page
    // or two, fewer than one row group holds, where the flat file counts
    // the whole row group
    val mid = all(all.size / 2)._1
    val paged = recordsRead(f)(p => LocalParquet.read(p, Some(TermFilter.in(Set(mid))))(_ => ()))
    val unpaged = recordsRead(flat)(p => LocalParquet.read(p, Some(TermFilter.in(Set(mid))))(_ => ()))
    assert(paged >= all.count(_._1 == mid) && paged <= 16 && paged < groups.min, (paged, groups))
    assert(unpaged >= groups.min, unpaged)
  }

  test("a paged write is byte for byte Spark's writer given the same page settings") {
    val s = spark
    import s.implicits._
    val table = pagedRows.toDF("term", "df", "positions")
    for ((pageRows, pagedBy) <- Seq((8, Some("term")), (512, None))) {
      val dir = Files.createDirectories(Paths.get(tmpDir(s"lp-paged-mine-$pageRows")))
      val mine = LocalParquet.part(dir, 0)
      LocalParquet.write(mine, table.schema, internalRows(table), 4096, pageRows, pagedBy)
      val sparkDir = tmpDir(s"lp-paged-spark-$pageRows")
      val w = table.coalesce(1).write.option("parquet.block.size", 4096).option("parquet.page.row.count.limit", pageRows)
      pagedBy.fold(w)(c => w.option("parquet.column.statistics.enabled", false)
        .option(s"parquet.column.statistics.enabled#$c", true).option(s"parquet.enable.dictionary#$c", false)
        .option("parquet.enable.dictionary#positions", false).option("parquet.page.write-checksum.enabled", false))
        .parquet(sparkDir)
      val Seq(theirs) = LocalParquet.files(Paths.get(sparkDir))
      assert(Files.readAllBytes(mine).sameElements(Files.readAllBytes(theirs)), pageRows)
      assert(spark.read.parquet(dir.toString).as[(String, Long, String)].collect().toVector == pagedRows)
    }
  }

  test("a file rewritten in place is read anew, not from the page index cache") {
    val p = Files.createDirectories(Paths.get(tmpDir("lp-paged-swap")))
    val f = p.resolve("part-0.parquet")
    val t = pagedRows(1500)._1
    Files.copy(pagedTable("lp-paged-a", 8), f)
    val before = read(f, Some(TermFilter.in(Set(t))))
    assert(before == pagedRows.filter(_._1 == t))
    // the same rows in 16-row pages: other page offsets under one path
    Files.copy(pagedTable("lp-paged-b", 16), f, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(read(f, Some(TermFilter.in(Set(t)))) == before)
    assert(read(f, Some(TermFilter.range(Some(t), None))) == pagedRows.filter(_._1 >= t))
  }

  /** `df`'s rows as Spark's internal rows, in order. */
  private def internalRows(df: org.apache.spark.sql.DataFrame): Iterator[InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).collect().iterator
}
