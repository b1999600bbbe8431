package graft.index

import graft.SparkFunSuite
import graft.model.Turn
import graft.query.{IndexReader, LocalIndex}
import graft.sources.SyntheticTranscripts
import org.apache.spark.sql.functions._

/** Edge cases + the skew-handling contract (SURVEY.md §7.5). */
class EdgeCasesSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  test("empty corpus: build commits empty tables, search returns nothing") {
    val dir = tmpDir("idx-empty")
    val rep = IndexBuilder.build(spark, spark.emptyDataset[Turn],
      BuildConfig(dir, nSegments = 4))
    assert(rep.nDocs == 0 && rep.nTerms == 0)
    val rdr = new IndexReader(spark, dir)
    assert(rdr.search("anything", 10).isEmpty)
    assertLoadsEmpty(dir, rdr, rep.nDocs)
  }

  /** `LocalIndex.load` and `loadTerms` read an index with no postings
    * as an empty index, and the relational paths return nothing. */
  private def assertLoadsEmpty(dir: String, rdr: IndexReader, nDocs: Long): Unit = {
    for (local <- Seq(LocalIndex.load(spark, dir), LocalIndex.loadTerms(spark, dir, Seq("anything", "user")))) {
      assert(local.nDocs == nDocs)
      assert(local.search("anything user", 10).isEmpty)
    }
    assert(rdr.scoredDocs("anything user").collect().isEmpty)
    assert(rdr.matchingDocs("anything").collect().isEmpty)
  }

  test("all-empty-text corpus: docs exist but nothing tokenizes; build still commits") {
    val dir = tmpDir("idx-notok")
    val blank = (0 until 20).map(i => Turn(f"c$i%03d", 0, "user", "!!! ... ???", "",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))).toDS()
    val rep = IndexBuilder.build(spark, blank, BuildConfig(dir, nSegments = 4))
    assert(rep.nDocs == 20 && rep.nTerms == 0)
    assert(new IndexReader(spark, dir).search("anything", 10).isEmpty)
    assertLoadsEmpty(dir, new IndexReader(spark, dir), rep.nDocs)
  }

  test("an index dir given as a file: URI reads like the plain path; another scheme throws") {
    val dir = tmpDir("idx-uri")
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 40),
      BuildConfig(dir, nSegments = 4))
    val plain = new IndexReader(spark, dir)
    val want = plain.search("user la", 5)
    val dfs = plain.docFreqs(Seq("user"))
    val scored = plain.scoredDocs("user la").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(want.nonEmpty && dfs.nonEmpty && scored.nonEmpty)
    for (uri <- Seq("file://" + dir, java.nio.file.Paths.get(dir).toUri.toString)) {
      val rdr = new IndexReader(spark, uri)
      assert(rdr.search("user la", 5) == want, uri)
      assert(rdr.docFreqs(Seq("user")) == dfs, uri)
      assert(rdr.scoredDocs("user la").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
        .sameElements(scored), uri)
      assert(LocalIndex.load(spark, uri).search("user la", 5) == want, uri)
    }
    for (bad <- Seq("hdfs://namenode:8020/idx", "s3a://bucket/idx")) {
      val e = intercept[IllegalArgumentException](new IndexReader(spark, bad))
      assert(e.getMessage.contains(bad))
      intercept[IllegalArgumentException](LocalIndex.load(spark, bad))
    }
  }

  test("corpus stats that are not exactly one row throw, naming the table") {
    val dir = tmpDir("idx-stats2")
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 7L, nConvs = 10),
      BuildConfig(dir, nSegments = 2))
    val table = IndexBuilder.corpusStatsDir(dir)
    val Seq(f) = graft.store.LocalParquet.files(java.nio.file.Paths.get(table))
    java.nio.file.Files.copy(f, f.resolveSibling("part-99999-copy.parquet"))
    val e = intercept[IllegalArgumentException](new IndexReader(spark, dir).stats)
    assert(e.getMessage.contains(table) && e.getMessage.contains("2 rows"))
    intercept[IllegalArgumentException](LocalIndex.load(spark, dir))
  }

  test("single-doc corpus") {
    val dir = tmpDir("idx-one")
    val one = Seq(Turn("c", 0, "user", "hello hello world", "",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))).toDS()
    val rep = IndexBuilder.build(spark, one, BuildConfig(dir, nSegments = 4))
    assert(rep.nDocs == 1 && rep.nTerms == 2)
    val hits = new IndexReader(spark, dir).search("hello", 5)
    assert(hits.map(_.doc_id) == Vector(0L))
  }

  test("head-term skew: df≈N term is split across every segment, blocks bounded") {
    val dir = tmpDir("idx-skew")
    val turns = SyntheticTranscripts.generate(spark, 42L, nConvs = 300)
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 6))
    val post = spark.read.parquet(IndexBuilder.postingsDir(dir))
    // role tokens are folded into every turn's text → df ≈ N; the
    // segment IS the salt: the head term must appear in EVERY segment
    val headSegs = post.filter(col("term") === "user")
      .select("segment").distinct().count()
    assert(headSegs == 6, s"head term in $headSegs/6 segments")
    // and no posting block anywhere exceeds the block size
    assert(post.agg(max("n_docs")).head().getInt(0) <= PostingCodec.BlockSize)
    // per-segment postings of the head term are disjoint docId ranges
    val ranges = post.filter(col("term") === "user")
      .groupBy("segment").agg(max("max_doc_id").as("hi"))
      .orderBy("segment").collect().map(_.getLong(1))
    assert(ranges.sameElements(ranges.sorted))
  }

  test("query-only-head-terms stays correct (block-max bounds ≈ 0 contributions)") {
    val dir = tmpDir("idx-headq")
    val turns = SyntheticTranscripts.generate(spark, 42L, nConvs = 200)
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 4))
    // oracle on the driver
    val corpus = turns.collect().sortBy(t => (t.conv_id, t.turn_idx))
    val docTfs = corpus.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Tokenizer.docLength(t.text),
        graft.analysis.Tokenizer.termFreqs(t.text))
    }
    val dfs = collection.mutable.HashMap.empty[String, Long]
    docTfs.foreach(_._3.keys.foreach(t => dfs.update(t, dfs.getOrElse(t, 0L) + 1)))
    val avgdl = docTfs.map(_._2).sum.toDouble / corpus.length
    val want = graft.query.BM25Oracle.bruteForceTopK(Seq("user", "assistant"),
      docTfs, dfs, corpus.length, avgdl, 10)
    val got = new IndexReader(spark, dir).search("user assistant", 10)
      .map(h => (h.doc_id, h.score))
    assert(got == want)
  }

  test("storePositions=false: smaller index, identical search/boolean, phrase guarded, flag flip rebuilds") {
    val turns = graft.sources.SyntheticTranscripts.generate(spark, 42L, nConvs = 120)
    val dirP = tmpDir("idx-pos"); val dirN = tmpDir("idx-nopos")
    IndexBuilder.build(spark, turns, BuildConfig(dirP, nSegments = 4))
    IndexBuilder.build(spark, turns,
      BuildConfig(dirN, nSegments = 4, storePositions = false))

    def postingBytes(dir: String): Long = {
      val p = java.nio.file.Paths.get(IndexBuilder.postingsDir(dir))
      val s = java.nio.file.Files.walk(p)
      try {
        var n = 0L
        val it = s.iterator()
        while (it.hasNext) {
          val f = it.next()
          if (java.nio.file.Files.isRegularFile(f)) n += java.nio.file.Files.size(f)
        }
        n
      } finally s.close()
    }
    assert(postingBytes(dirN) < postingBytes(dirP),
      s"no-positions index not smaller: ${postingBytes(dirN)} vs ${postingBytes(dirP)}")

    // search and boolean paths read no positions → bit-identical
    val rp = new graft.query.IndexReader(spark, dirP)
    val rn = new graft.query.IndexReader(spark, dirN)
    Seq("assistant tool error", "la ma na", "user system").foreach { q =>
      assert(rn.search(q, 10) == rp.search(q, 10), s"search '$q'")
    }
    assert(rn.searchBoolean("user assistant", "bash", 10) ==
      rp.searchBoolean("user assistant", "bash", 10))

    // phrase requires positions: clear error, not a wrong answer
    val e = intercept[IllegalArgumentException](rn.searchPhrase("user bash", 10))
    assert(e.getMessage.contains("storePositions"))
    val localN = graft.query.LocalIndex.load(spark, dirN)
    val e2 = intercept[IllegalArgumentException](localN.searchPhrase("user bash", 10))
    assert(e2.getMessage.contains("storePositions"))
    assert(rp.searchPhrase("user bash", 10).nonEmpty) // positional twin serves

    // flipping the flag is a config change → clean full rebuild, not a
    // resume into mixed blocks
    val rep = IndexBuilder.build(spark, turns, BuildConfig(dirN, nSegments = 4))
    assert(rep.segmentsBuilt == 4 && rep.segmentsSkipped == 0)
    assert(new graft.query.IndexReader(spark, dirN).searchPhrase("user bash", 10).nonEmpty)
  }
}

/** Encoder memory cap: absurdly tiny budget must only change block
  * packing, never results. */
class MemoryCapSpec extends graft.SparkFunSuite {
  test("maxOpenTerms=4 forces constant flushing; ranks identical to default build") {
    import graft.query.IndexReader
    val turns = graft.sources.SyntheticTranscripts.generate(spark, 42L, nConvs = 150)
    val a = tmpDir("idx-capA"); val b = tmpDir("idx-capB")
    graft.index.IndexBuilder.build(spark, turns, graft.index.BuildConfig(a, nSegments = 4))
    graft.index.IndexBuilder.build(spark, turns,
      graft.index.BuildConfig(b, nSegments = 4, maxOpenTerms = 4))
    val blocksA = spark.read.parquet(graft.index.IndexBuilder.postingsDir(a)).count()
    val blocksB = spark.read.parquet(graft.index.IndexBuilder.postingsDir(b)).count()
    assert(blocksB > blocksA) // under-full blocks from constant flushes
    val ra = new IndexReader(spark, a); val rb = new IndexReader(spark, b)
    Seq("assistant tool error", "la ma na", "user assistant system tool",
      "ra sa", "browser").foreach { q =>
      assert(ra.search(q, 10).map(h => (h.doc_id, h.score)) ==
        rb.search(q, 10).map(h => (h.doc_id, h.score)), s"query '$q'")
    }
    // dictionary df/cf unaffected by packing
    val da = spark.read.parquet(graft.index.IndexBuilder.dictionaryDir(a))
      .collect().map(_.toSeq).toSet
    val db = spark.read.parquet(graft.index.IndexBuilder.dictionaryDir(b))
      .collect().map(_.toSeq).toSet
    assert(da == db)
  }

  test("a small maxBufferedPostings splits a segment's postings into several term-sorted files; results unchanged") {
    import graft.query.IndexReader
    import graft.store.LocalParquet
    val turns = graft.sources.SyntheticTranscripts.generate(spark, 42L, nConvs = 150)
    val a = tmpDir("idx-bufA"); val b = tmpDir("idx-bufB")
    graft.index.IndexBuilder.build(spark, turns, graft.index.BuildConfig(a, nSegments = 4))
    graft.index.IndexBuilder.build(spark, turns,
      graft.index.BuildConfig(b, nSegments = 4, maxBufferedPostings = 256))
    def files(dir: String) = LocalParquet.partitions(
      java.nio.file.Paths.get(graft.index.IndexBuilder.postingsDir(dir)), "segment").map(s => LocalParquet.files(s._2))
    assert(files(a).size == 4 && files(a).forall(_.size == 1))
    assert(files(b).size == 4 && files(b).exists(_.size >= 2), files(b).map(_.size))
    val without = graft.index.IndexBuilder.PostingSchema.fieldNames.toSet - "term"
    files(b).flatten.foreach { f =>
      val terms = LocalParquet.read(f, without = without)(_[String]("term"))
      assert(terms.nonEmpty && terms == terms.sorted, f)
    }
    val ra = new IndexReader(spark, a); val rb = new IndexReader(spark, b)
    Seq("assistant tool error", "la ma na", "user assistant system tool", "ra sa", "browser").foreach { q =>
      assert(ra.search(q, 10).map(h => (h.doc_id, h.score)) ==
        rb.search(q, 10).map(h => (h.doc_id, h.score)), s"query '$q'")
    }
    def dictionary(dir: String) = spark.read.parquet(graft.index.IndexBuilder.dictionaryDir(dir))
      .collect().map(_.toSeq).toSet
    assert(dictionary(a) == dictionary(b))
  }
}
