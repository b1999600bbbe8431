package graft.index

import graft.SparkFunSuite
import graft.analysis.Tokenizer
import graft.model.Turn
import graft.query.{BM25, BM25Oracle, IndexReader}
import graft.sources.SyntheticTranscripts
import graft.store.{LocalParquet, Manifest}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * End-to-end build + query tests (SURVEY.md §5, §7.3): the minimum
 * slice — synthetic corpus → build → query → rank parity vs the
 * brute-force oracle — plus the determinism, resume, and ingestion-
 * equality invariants from FIXTURES.md §4.
 */
class IndexBuilderSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private val Seed = 42L
  private lazy val turns = SyntheticTranscripts.generate(spark, Seed, nConvs = 500, maxTurns = 10)
  private lazy val corpus: Vector[Turn] =
    turns.collect().sortBy(t => (t.conv_id, t.turn_idx)).toVector

  // brute-force oracle state over the same corpus + tokenizer
  private lazy val docTfs = corpus.zipWithIndex.map { case (t, i) =>
    (i.toLong, Tokenizer.docLength(t.text), Tokenizer.termFreqs(t.text))
  }
  private lazy val nDocs = corpus.length.toLong
  private lazy val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
  private lazy val dfs: Map[String, Long] = {
    val m = collection.mutable.HashMap.empty[String, Long]
    docTfs.foreach(_._3.keys.foreach(t => m.update(t, m.getOrElse(t, 0L) + 1)))
    m.toMap
  }

  // FIXTURES.md §3: the 20-query reference set — single-term, 2–4 term,
  // head-heavy, rare-tail, and no-hit queries
  private lazy val referenceQueries: Seq[String] = {
    val rare = corpus.flatMap(t => Tokenizer.tokenize(t.text).find(_.startsWith("rare"))).take(3)
    Seq(
      "assistant tool error", "user", "assistant", "system tool",
      "la ma na", "ra sa", "timeout error retrying tool",
      "la", "ma", "user assistant system tool",
      "nosuchtermanywhere", "ba nosuchtermanywhere",
      "bash search editor", "browser", "ra ra ra la",
      "sa ta va wa", "na ta", "la ma na pa qa ra sa ta"
    ) ++ rare
  }

  private def oracleTopK(q: String, k: Int = 10): Seq[(Long, Double)] =
    BM25Oracle.bruteForceTopK(Tokenizer.tokenize(q).distinct.sorted, docTfs, dfs, nDocs, avgdl, k)

  test("e2e: build at local parallelism, 20-query rank parity vs oracle") {
    val dir = tmpDir("idx-e2e")
    val report = IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 8, waveSize = 3))
    assert(report.nDocs == nDocs)
    assert(math.abs(report.avgdl - avgdl) < 1e-12)

    val reader = new IndexReader(spark, dir)
    referenceQueries.foreach { q =>
      val got = reader.search(q, 10).map(h => (h.doc_id, h.score))
      val want = oracleTopK(q)
      assert(got == want, s"query '$q'") // bit-identical scores + ranks
    }
  }

  test("searchBoolean: AND + NOT parity vs brute force, bit-identical scores") {
    val dir = tmpDir("idx-bool")
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 8, waveSize = 8))
    val rdr = new IndexReader(spark, dir)
    val cases = Seq(("assistant tool", "error"), ("user assistant", ""),
      ("la ma", "di"), ("timeout error", "user"), ("nosuchterm user", ""))
    cases.foreach { case (mq, nq) =>
      val must = Tokenizer.tokenize(mq).distinct.sorted
      val not = Tokenizer.tokenize(nq).distinct.sorted
      val want = docTfs.iterator
        .filter { case (_, _, tfs) => must.forall(tfs.contains) && !not.exists(tfs.contains) }
        .map { case (id, dl, tfs) =>
          var s = 0.0
          must.foreach(t => s += BM25.score(tfs(t), dl, dfs(t), nDocs, avgdl))
          (id, s)
        }.toVector.sorted(BM25.hitOrdering).take(10)
      val got = rdr.searchBoolean(mq, nq, 10).map(h => (h.doc_id, h.score))
      assert(got == want, s"must='$mq' not='$nq'")
    }
  }

  test("searchPhrase: ordered adjacency + PhraseQuery scoring parity vs brute force") {
    val dir = tmpDir("idx-phrase")
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 8, waveSize = 8))
    val rdr = new IndexReader(spark, dir)
    val seqs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, Tokenizer.tokenize(t.text)) }
    def oracle(phrase: String, k: Int): Seq[(Long, Double)] = {
      val ts = Tokenizer.tokenize(phrase)
      val idfSum = ts.foldLeft(0.0)((s, t) => s + BM25.idf(dfs.getOrElse(t, 0L), nDocs))
      seqs.flatMap { case (id, toks) =>
        var pf = 0; var i = 0
        while (i + ts.length <= toks.length) {
          var j = 0
          while (j < ts.length && toks(i + j) == ts(j)) j += 1
          if (j == ts.length) pf += 1
          i += 1
        }
        if (pf > 0) Some((id, idfSum * BM25.tfNorm(pf, docTfs(id.toInt)._2, avgdl)))
        else None
      }.sorted(BM25.hitOrdering).take(k)
    }
    Seq("assistant tool", "timeout error", "user assistant system",
      "error retrying", "nosuchterm tool").foreach { ph =>
      val got = rdr.searchPhrase(ph, 10).map(h => (h.doc_id, h.score))
      assert(got == oracle(ph, 10), s"phrase '$ph'")
    }
  }

  test("docID stability: identical ids at 2 vs 13 sort partitions") {
    val dirA = tmpDir("idx-p2"); val dirB = tmpDir("idx-p13")
    IndexBuilder.build(spark, turns, BuildConfig(dirA, nSegments = 4, sortPartitions = 2))
    IndexBuilder.build(spark, turns, BuildConfig(dirB, nSegments = 4, sortPartitions = 13))
    val a = IndexBuilder.readDocs(spark, dirA)
      .select("doc_id", "conv_id", "turn_idx").collect().map(_.toSeq).toSet
    val b = IndexBuilder.readDocs(spark, dirB)
      .select("doc_id", "conv_id", "turn_idx").collect().map(_.toSeq).toSet
    assert(a == b)
    // and ids are exactly the rank in (conv_id, turn_idx) order
    val ordered = IndexBuilder.readDocs(spark, dirA)
      .orderBy("conv_id", "turn_idx").select("doc_id").as[Long].collect()
    assert(ordered.sameElements(ordered.indices.map(_.toLong)))
  }

  /** Canonical content hash of the postings tables (file names/bytes
    * differ per write UUIDs; content must not). */
  private def postingsFingerprint(dir: String): Set[String] = {
    spark.read.parquet(IndexBuilder.postingsDir(dir))
      .select(col("term"), col("segment"), col("block_id"), col("n_docs"),
        col("max_doc_id"), col("block_max_tf"), col("block_min_dl"),
        md5(col("doc_deltas")), md5(col("tfs")), md5(col("dls")))
      .collect().map(_.toSeq.mkString("|")).toSet
  }

  test("merge determinism: identical index content at different parallelism and wave sizes") {
    val dirA = tmpDir("idx-detA"); val dirB = tmpDir("idx-detB")
    IndexBuilder.build(spark, turns, BuildConfig(dirA, nSegments = 6, waveSize = 2, sortPartitions = 3))
    IndexBuilder.build(spark, turns, BuildConfig(dirB, nSegments = 6, waveSize = 6, sortPartitions = 11))
    assert(postingsFingerprint(dirA) == postingsFingerprint(dirB))
  }

  test("resume: kill after one wave, rerun skips COMPLETE segments, index identical") {
    val dirFull = tmpDir("idx-full"); val dirKill = tmpDir("idx-kill")
    IndexBuilder.build(spark, turns, BuildConfig(dirFull, nSegments = 8, waveSize = 3))

    intercept[SimulatedKill] {
      IndexBuilder.build(spark, turns,
        BuildConfig(dirKill, nSegments = 8, waveSize = 3, failAfterWaves = 1))
    }
    val mdirKill = IndexBuilder.manifestDir(dirKill)
    val afterKill = Manifest.completeSegments(mdirKill)
    assert(afterKill.size == 3) // exactly one wave committed
    // record the committed ledger files (append-only: resume must only
    // add new wave files, never rewrite the pre-kill ones)
    def ledgerFiles() = Files.list(java.nio.file.Paths.get(mdirKill))
      .iterator().asScala
      .filter(_.getFileName.toString.endsWith(".jsonl"))
      .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p)).toMap
    val preResume = ledgerFiles()

    val report = IndexBuilder.build(spark, turns, BuildConfig(dirKill, nSegments = 8, waveSize = 3))
    assert(report.segmentsSkipped == 3 && report.segmentsBuilt == 5)
    val postResume = ledgerFiles()
    preResume.foreach { case (name, t) =>
      assert(postResume.get(name).contains(t), s"ledger file $name touched")
    }
    assert(postResume.size > preResume.size)
    assert(postingsFingerprint(dirFull) == postingsFingerprint(dirKill))

    // and the resumed index answers queries identically
    val reader = new IndexReader(spark, dirKill)
    referenceQueries.take(5).foreach { q =>
      assert(reader.search(q, 10).map(h => (h.doc_id, h.score)) == oracleTopK(q))
    }
  }

  test("change detection: same source → phase A skipped; changed source → full rebuild") {
    val dir = tmpDir("idx-chg")
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 4))
    val statsPath = Paths.get(IndexBuilder.corpusStatsDir(dir))
    val t1 = Files.getLastModifiedTime(statsPath)
    // unchanged source: phase A (and corpus_stats) untouched
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 4))
    assert(Files.getLastModifiedTime(statsPath) == t1)
    // changed source: everything rebuilt
    val changed = turns.withColumn("text", concat(col("text"), lit(" changedtoken")))
      .as[Turn]
    IndexBuilder.build(spark, changed, BuildConfig(dir, nSegments = 4))
    assert(Files.getLastModifiedTime(statsPath) != t1)
    val reader = new IndexReader(spark, dir)
    assert(reader.search("changedtoken", 5).nonEmpty)
  }

  test("ingestion equality: per-turn text equality vs source (input_hint invariant)") {
    val dir = tmpDir("idx-ing")
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 4))
    assert(IndexBuilder.verifyIngestion(spark, dir, turns) == 0L)
    // a corrupted source row IS detected
    val corrupted = turns.withColumn("text",
      when(col("conv_id") === "conv-000007" && col("turn_idx") === 0, lit("tampered"))
        .otherwise(col("text"))).as[Turn]
    assert(IndexBuilder.verifyIngestion(spark, dir, corrupted) == 1L)
  }

  test("manifest metrics: per-segment lineage adds up") {
    val dir = tmpDir("idx-metrics")
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 5))
    val mdir = IndexBuilder.manifestDir(dir)
    val rows = Manifest.segmentStates(mdir).toSeq.sortBy(_._1).map(_._2)
    assert(rows.map(_("turns_read").toLong).sum == nDocs)
    assert(rows.map(_("tokens_emitted").toLong).sum == docTfs.map(_._2.toLong).sum)
    val totalBlocks = spark.read.parquet(IndexBuilder.postingsDir(dir)).count()
    assert(rows.map(_("postings_written").toLong).sum == totalBlocks)
  }

  test("all-probes-fail run aborts (env-suspected); rerun quarantines on sibling evidence") {
    val dir = tmpDir("idx-poison3")
    val cfg = BuildConfig(dir, nSegments = 6, waveSize = 6, poisonSegments = Set(0, 1, 2))
    // run 1: the first three isolation probes all fail → looks like a
    // broken environment → abort, budget persisted in the ledger
    intercept[org.apache.spark.SparkException] { IndexBuilder.build(spark, turns, cfg) }
    assert(Manifest.quarantinedSegments(IndexBuilder.manifestDir(dir)).isEmpty)
    // run 2: the exhausted segments are skipped, healthy siblings
    // succeed → sibling evidence → quarantine; build completes
    val rep2 = IndexBuilder.build(spark, turns, cfg)
    assert(rep2.segmentsQuarantined == 3 && rep2.segmentsBuilt == 3)
    assert(Manifest.quarantinedSegments(IndexBuilder.manifestDir(dir)) == Set(0, 1, 2))
    // run 3: nothing pending
    val rep3 = IndexBuilder.build(spark, turns, cfg)
    assert(rep3.segmentsBuilt == 0 && rep3.segmentsQuarantined == 0)
  }

  test("poison segment: retried to MaxAttempts, quarantined, build completes without it") {
    val dir = tmpDir("idx-poison")
    val rep1 = IndexBuilder.build(spark, turns,
      BuildConfig(dir, nSegments = 6, waveSize = 3, poisonSegments = Set(2)))
    assert(rep1.segmentsQuarantined == 1)
    assert(rep1.segmentsBuilt == 5)
    val states = Manifest.segmentStates(IndexBuilder.manifestDir(dir))
    assert(states(2)("status") == Manifest.Quarantined)
    assert(states(2)("attempts") == IndexBuilder.MaxAttempts.toString)
    // rerun (poison still present): the quarantined segment is NOT
    // re-planned; everything else is already COMPLETE. This run
    // quarantines nothing NEW (report is per-run); the persistent set
    // comes from the ledger.
    val rep2 = IndexBuilder.build(spark, turns,
      BuildConfig(dir, nSegments = 6, waveSize = 3, poisonSegments = Set(2)))
    assert(rep2.segmentsBuilt == 0 && rep2.segmentsQuarantined == 0)
    assert(rep2.segmentsSkipped == 5)
    assert(Manifest.quarantinedSegments(IndexBuilder.manifestDir(dir)) == Set(2))
    // the surviving index still answers queries
    val rdr = new IndexReader(spark, dir)
    assert(rdr.search(referenceQueries.head, 10).nonEmpty)
    // and hits never come from the quarantined docId range
    val segSize = (nDocs + 5) / 6
    referenceQueries.take(5).foreach { q =>
      rdr.search(q, 10).foreach(h => assert(h.doc_id / segSize != 2))
    }
  }

  test("bounded row groups: a rare-term search reads only the term's row groups") {
    val dir = tmpDir("idx-row-groups")
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, Seed, nConvs = 1000),
      BuildConfig(dir, nSegments = 2))
    // rows per row group of each segment's postings files
    val segments = LocalParquet.partitions(Paths.get(IndexBuilder.postingsDir(dir)), "segment")
      .map { case (_, d) =>
        LocalParquet.files(d).flatMap { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            new org.apache.parquet.io.LocalInputFile(f),
            org.apache.parquet.ParquetReadOptions.builder(
              new org.apache.parquet.conf.PlainParquetConfiguration()).build())
          try r.getRowGroups.asScala.map(_.getRowCount).toVector finally r.close()
        }
      }
    assert(segments.size == 2 && segments.forall(_.size > 1),
      s"row groups per segment: ${segments.map(_.size)}")

    val rare = spark.read.parquet(IndexBuilder.dictionaryDir(dir))
      .filter(col("term").startsWith("rare")).orderBy("term").select("term").as[String].head()
    val rdr = new IndexReader(spark, dir)
    assert(rdr.search("user", 1).nonEmpty) // reader state is set up before counting
    val sc = spark.sparkContext
    val group = s"row-groups-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) e.stageIds.foreach(stages.add(_))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "rare-term search")
      try assert(rdr.search(rare, 10).nonEmpty) finally sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
    } finally sc.removeSparkListener(l)
    assert(records.get > 0 && records.get < segments.map(_.sum).min,
      s"read ${records.get} posting rows; segments hold ${segments.map(_.sum)}")
    // the term's own rows, and the pages read for them: at most one page
    // per postings file (an absent term falls inside at most one page's
    // range), against a whole row group of hundreds of rows before
    // postings were paged
    val held = spark.read.parquet(IndexBuilder.postingsDir(dir)).filter(col("term") === rare).count()
    val postings = LocalParquet.partitions(Paths.get(IndexBuilder.postingsDir(dir)), "segment")
      .flatMap(d => LocalParquet.files(d._2))
    val files = postings.size
    val pageRows = postings.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(new org.apache.parquet.io.LocalInputFile(f),
        org.apache.parquet.ParquetReadOptions.builder(new org.apache.parquet.conf.PlainParquetConfiguration()).build())
      try r.getRowGroups.asScala.map { b =>
        val o = r.readOffsetIndex(b.getColumns.get(0))
        (0 until o.getPageCount).map(p => o.getLastRowIndex(p, b.getRowCount) - o.getFirstRowIndex(p) + 1).max
      }.max finally r.close()
    }.max
    // this corpus's blocks make pages of about 100 rows (TermPageBytes)
    assert(pageRows <= 128, s"pages of up to $pageRows rows")
    assert(held >= 1 && records.get >= held && records.get <= pageRows * files,
      s"read ${records.get} posting rows for a term holding $held in $files files of $pageRows-row pages")
  }
}
