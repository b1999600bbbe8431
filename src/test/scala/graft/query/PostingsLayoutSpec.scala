package graft.query

import graft.SparkFunSuite
import graft.index.{BuildConfig, IndexBuilder}
import graft.sources.SyntheticTranscripts
import graft.store.LocalParquet
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Postings written before they were paged (one page per column chunk,
  * every column with statistics and dictionary pages) still serve: the
  * reader falls back to whole row groups where a file has no `term`
  * page index worth the name, and the results do not change. */
class PostingsLayoutSpec extends SparkFunSuite {

  test("a segment whose postings are rewritten in the one-page layout serves the same results") {
    val dir = tmpDir("idx-layout")
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 200),
      BuildConfig(dir, nSegments = 4))
    val queries = Seq("user tool", "la ma", "assistant", "user la bash")
    def results(r: IndexReader) = (
      queries.map(r.search(_, 10)),
      queries.map(r.searchPhrase(_, 10)),
      r.docFreqs(queries.flatMap(_.split(" "))),
      queries.map(q => r.scoredDocs(q).collect().map(_.toSeq).toSeq.sortBy(_.toString)))
    val before = results(new IndexReader(spark, dir))
    assert(before._1.forall(_.nonEmpty) && before._2.exists(_.nonEmpty))

    val (seg, segDir) = LocalParquet.partitions(Paths.get(IndexBuilder.postingsDir(dir)), "segment")(1)
    val files = LocalParquet.files(segDir)
    assert(files.nonEmpty)
    files.foreach { f =>
      val df = spark.read.parquet(f.toString)
      val old = f.resolveSibling("old.tmp")
      assert(LocalParquet.write(old, df.schema, df.queryExecution.toRdd.map(_.copy()).collect().iterator,
        IndexBuilder.TermRowGroupBytes) == df.count())
      Files.move(old, f, StandardCopyOption.REPLACE_EXISTING)
    }
    // the rewritten files hold one page per column chunk
    val pages = org.apache.parquet.hadoop.ParquetFileReader.open(new org.apache.parquet.io.LocalInputFile(files.head))
    try {
      val b = pages.getRowGroups.get(0)
      assert(b.getRowCount > IndexBuilder.TermPageRows._1, s"segment $seg row group of ${b.getRowCount} rows")
      assert(pages.readOffsetIndex(b.getColumns.get(0)).getPageCount == 1)
    } finally pages.close()
    assert(results(new IndexReader(spark, dir)) == before)
  }
}
