package perfbench

import graft.index.{BuildConfig, IndexBuilder, Incremental}
import graft.model.{QueryHit, Turn}
import graft.operators.{Dedup, TextAnalysis}
import graft.query.{IndexReader, LocalIndex}
import graft.store.Manifest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload: set-up (timed as a whole, repeated), the measured closed
  * loop, and the output checks and layer numbers read afterwards. */
trait Workload {
  /** Classes of calls the end-to-end throughput (`ops_per_s`) counts. */
  def primary: Seq[String]
  /** Classes of calls the end-to-end latency (`op_p50_ms`) describes. */
  def latency: Seq[String] = primary
  /** Generates and materializes the inputs (not part of set-up time). */
  def prepare(r: Run): Unit
  /** The corpus the run reads, for the fingerprint check. */
  def corpus: DataFrame
  /** How often set-up runs; `setup_s` is the median. */
  def setupReps: Int
  /** The program's set-up; repeated, each time from scratch. */
  def setup(r: Run, rep: Int): Unit
  def loop(r: Run): Unit
  def finish(r: Run): Unit
}

object Workloads {
  /** Corpus sizes, in conversations (5.5 turns each on average). Query
    * latency grows with the serve index (perfbench/README.md has the
    * measurements); 99k turns keeps one build in a run's budget. The batch
    * corpus is small because every call on it pays seconds of fixed Spark
    * cost on a 4-core host. */
  val ServeConvs = 18000L
  /** The serve corpus of the build's class-data-sharing training run. */
  val TrainConvs = 2000L
  val BatchConvs = 400L
  val ExactPerMille = 30
  val NearPerMille = 30
  /** Pinned floor for the MinHash recall of injected near copies. */
  val DupRecallFloor = 0.9

  val Names = Seq("serve", "batch")

  def apply(name: String): Workload = name match {
    case "serve" => new Serve(ServeConvs)
    case "batch" => new Batch
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The workload's corpus as generated (not materialized), for pinning. */
  def inputOf(name: String, spark: SparkSession, seed: Long, cpus: Int): DataFrame = name match {
    case "serve" => Corpus.generate(spark, seed, ServeConvs, cpus)
    case "batch" => Corpus.withDuplicates(Corpus.generate(spark, seed, BatchConvs, cpus),
      seed, ExactPerMille, NearPerMille)
  }

  def delete(p: Path): Unit = Manifest.deleteRecursively(p)

  // ---- layer numbers the program writes: manifest, ledger, disk ----

  private val FieldRe = "\"([^\"]*)\": \"([^\"]*)\"".r

  def ledgerFiles(idx: Path): Seq[Path] = {
    val d = Paths.get(IndexBuilder.manifestDir(idx.toString))
    if (!Files.exists(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala.filter(_.getFileName.toString.matches("wave-.*\\.jsonl")).toSeq.sorted
      finally s.close()
    }
  }

  def ledgerRows(files: Seq[Path]): Seq[Map[String, String]] =
    files.flatMap(f => Files.readAllLines(f, StandardCharsets.UTF_8).asScala)
      .filter(_.nonEmpty).map(l => FieldRe.findAllMatchIn(l).map(m => m.group(1) -> m.group(2)).toMap)

  def manifest(idx: Path, file: String): Map[String, String] =
    Manifest.read(Paths.get(IndexBuilder.manifestDir(idx.toString), file)).getOrElse(Map.empty)

  /** Σ wall_ms of the waves in these ledger rows (rows of one wave share it). */
  def wavesMs(rows: Seq[Map[String, String]]): Double =
    rows.filter(_.get("status").contains(Manifest.Complete))
      .groupBy(m => (m.getOrElse("snapshot_id", ""), m.getOrElse("wall_ms", "0")))
      .keys.map(_._2.toDouble).sum

  def parquetRows(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val conf = new org.apache.hadoop.conf.Configuration()
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
        try rd.getRecordCount finally rd.close()
      }.sum
      finally s.close()
    }

  /** path → (size, mtime) of every file under `dir`. */
  def files(dir: Path): Map[String, (Long, Long)] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toMap
    finally s.close()
  }

  /** Single-thread `Analyzer.V1.tokenize` throughput on a fixed sample. */
  def tokenizeMbPerS(): Double = {
    val sample = Corpus.tokenizerSample
    val mb = sample.map(_.length.toLong).sum / 1e6
    val rates = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      var n = 0L
      sample.foreach(t => n += graft.analysis.Analyzer.V1.tokenize(t).length)
      require(n > 0)
      mb / ((System.nanoTime() - t0) / 1e9)
    }
    Stats.median(rates.drop(2))
  }

  /** A noop-sink write: the whole plan runs, nothing is materialized, and
    * no count() shortcut can prune the work. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}


import Workloads._

/** Builds of one corpus into fresh directories (the set-up of both
  * workloads), with the layer numbers each build leaves in its manifest,
  * ledger and on disk. */
final class Indexes(corpusRows: Long, val segments: Int) {
  var dir: Path = _
  private val phaseA, encode, finalizeMs, wall, tokensPerS, blocks, postingsB, stagingB, dictB,
    terms, bytesRatio = mutable.ArrayBuffer.empty[Double]

  def build(r: Run, corpus: DataFrame, corpusBytes: Long, rep: Int): Unit = {
    import r.spark.implicits._
    Option(dir).foreach(delete)
    dir = r.work.resolve(s"idx-$rep")
    val turns = corpus.select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]
    val t0 = System.nanoTime()
    val report = IndexBuilder.build(r.spark, turns, BuildConfig(dir.toString, nSegments = segments))
    val wallMs = (System.nanoTime() - t0) / 1e6
    r.check(report.nDocs == corpusRows, s"build nDocs ${report.nDocs} != $corpusRows corpus rows")
    r.check(report.segmentsQuarantined == 0 &&
      Manifest.quarantinedSegments(IndexBuilder.manifestDir(dir.toString)).isEmpty,
      "build quarantined segments")
    val rows = ledgerRows(ledgerFiles(dir))
    val idx = dir.toString
    phaseA += manifest(dir, "phaseA.json").getOrElse("wall_ms", "0").toDouble
    encode += wavesMs(rows)
    finalizeMs += manifest(dir, "finalize.json").getOrElse("wall_ms", "0").toDouble
    wall += wallMs
    tokensPerS += rows.map(_.getOrElse("tokens_emitted", "0").toDouble).sum / math.max(encode.last / 1e3, 1e-9)
    blocks += parquetRows(Paths.get(IndexBuilder.postingsDir(idx))).toDouble
    postingsB += Corpus.dirBytes(Paths.get(IndexBuilder.postingsDir(idx))).toDouble
    stagingB += Corpus.dirBytes(Paths.get(IndexBuilder.stagingDir(idx))).toDouble
    dictB += Corpus.dirBytes(Paths.get(IndexBuilder.dictionaryDir(idx))).toDouble
    terms += report.nTerms.toDouble
    bytesRatio += Corpus.dirBytes(dir).toDouble / corpusBytes
  }

  private def med(xs: mutable.ArrayBuffer[Double]) = Stats.median(xs.toSeq)

  /** Medians over the set-up builds. */
  def layers(r: Run): Unit = {
    r.report("build_turns_per_s") = corpusRows / (med(wall) / 1e3)
    r.layer("index.phase_a_s") = med(phaseA) / 1e3
    r.layer("index.encode_s") = med(encode) / 1e3
    r.layer("index.finalize_s") = med(finalizeMs) / 1e3
    r.layer("index.build_s") = med(wall) / 1e3
    r.layer("index.tokens_per_encode_s") = med(tokensPerS)
    r.layer("index.postings_blocks") = med(blocks)
    r.layer("index.postings_bytes") = med(postingsB)
    r.layer("index.staging_bytes") = med(stagingB)
    r.layer("index.dictionary_bytes") = med(dictB)
    r.layer("index.dictionary_terms") = med(terms)
    r.layer("index.bytes_per_input_byte") = med(bytesRatio)
  }
}

/** Interactive search over a prebuilt index, one client in a closed loop:
  * BM25, phrase and boolean queries on the cluster reader, then
  * searchMany batches, then the same queries on LocalIndex. */
final class Serve(convs: Long) extends Workload {
  val primary = Seq("bm25", "phrase", "boolean")
  /** One build of the large index per run; batch repeats its builds. */
  val setupReps = 1
  var corpus: DataFrame = _
  private var corpusDir: Path = _
  private var indexes: Indexes = _
  private var reader: IndexReader = _
  private var local: LocalIndex = _
  private var q: Queries = _
  private val loadS = mutable.ArrayBuffer.empty[Double]
  private val openMs = mutable.ArrayBuffer.empty[Double]
  /** First cluster result per (kind, query), checked against LocalIndex. */
  private val cluster = mutable.LinkedHashMap.empty[(String, String), Vector[QueryHit]]
  private val checked = mutable.Set.empty[(String, String)]
  private val Mix = Seq("bm25", "bm25", "phrase", "bm25", "boolean", "bm25", "phrase", "boolean")
  private val BatchSize = 16

  def prepare(r: Run): Unit = {
    corpusDir = r.work.resolve("corpus")
    corpus = Corpus.materialize(r.spark, Corpus.generate(r.spark, r.seed, convs, r.cpus), corpusDir)
    Main.log("corpus materialized")
    // the engine's default floor of 64 segments is sized for corpora ten
    // times larger; 4 per core keeps each query a few tasks per core
    indexes = new Indexes(Corpus.turnsOf(convs), 4 * r.cpus)
    q = Corpus.queries(r.spark, corpus, r.seed)
    Main.log("queries chosen")
  }

  def setup(r: Run, rep: Int): Unit = {
    indexes.build(r, corpus, Corpus.dirBytes(corpusDir), rep)
    val t0 = System.nanoTime()
    reader = new IndexReader(r.spark, indexes.dir.toString)
    reader.stats
    openMs += (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    local = LocalIndex.load(r.spark, indexes.dir.toString)
    loadS += (System.nanoTime() - t1) / 1e9
  }

  private val ClusterApi =
    Map("bm25" -> "IndexReader.search", "phrase" -> "IndexReader.searchPhrase", "boolean" -> "IndexReader.searchBoolean")

  private def clusterRun(kind: String, query: String): Vector[QueryHit] = kind match {
    case "bm25" => reader.search(query, 10)
    case "phrase" => reader.searchPhrase(query, 10)
    case "boolean" => val Array(m, n) = query.split("\\|"); reader.searchBoolean(m, n, 10)
  }

  private def localRun(kind: String, query: String): Vector[QueryHit] = kind match {
    case "bm25" => local.search(query, 10)
    case "phrase" => local.searchPhrase(query, 10)
    case "boolean" => val Array(m, n) = query.split("\\|"); local.searchBoolean(m, n, 10)
  }

  private def nextQuery(kind: String, i: Int): String = kind match {
    case "bm25" => q.bm25(i % q.bm25.size)
    case "phrase" => q.phrases(i % q.phrases.size)
    case "boolean" => val (m, n) = q.bools(i % q.bools.size); s"$m|$n"
  }

  private var si = 0
  private val perKind = mutable.Map.empty[String, Int].withDefaultValue(0)
  private def single(r: Run): Unit = {
    val kind = Mix(si % Mix.size); si += 1
    val query = nextQuery(kind, perKind(kind)); perKind(kind) += 1
    val hits = r.call(kind, "query", ClusterApi(kind))(clusterRun(kind, query))
    cluster.getOrElseUpdate((kind, query), hits)
    if (kind == "bm25" && perKind(kind) % 4 == 0)
      r.call("dict", "query", "IndexReader.docFreqs")(reader.docFreqs(query.split(" ").toSeq))
  }

  private var bi = 0
  private def batch(r: Run): Unit = {
    val qs = (0 until BatchSize).map(j => s"q$j" -> q.bm25((bi + j) % q.bm25.size)); bi += BatchSize
    val rows = r.call("batch", "query", "IndexReader.searchMany")(reader.searchMany(qs, 10))
    qs.foreach { case (id, text) =>
      val got = rows.filter(_._1 == id).sortBy(_._2).map(x => QueryHit(x._3, x._4)).toVector
      r.check(got == local.search(text, 10), s"searchMany differs from the single query '$text'")
    }
  }

  private var li = 0
  private val perKindL = mutable.Map.empty[String, Int].withDefaultValue(0)
  private def localStep(r: Run): Unit = {
    val kind = Mix(li % Mix.size); li += 1
    val query = nextQuery(kind, perKindL(kind)); perKindL(kind) += 1
    val hits =
      if (kind == "bm25") r.call("local_bm25", "query", "LocalIndex.search")(localRun(kind, query))
      else localRun(kind, query)
    compare(r, kind, query, hits)
  }

  private def compare(r: Run, kind: String, query: String, hits: Vector[QueryHit]): Unit =
    if (!checked((kind, query))) cluster.get((kind, query)).foreach { c =>
      checked += ((kind, query))
      r.check(c == hits, s"cluster and LocalIndex top-10 differ for $kind '$query'")
    }

  /** One untimed query of each kind on both readers: the reader's lazy
    * state and Spark's first plans of each query shape are set up before
    * timing, so a run's first calls do not weigh on its few dozen. */
  private def warmUp(): Unit = {
    ClusterApi.keys.foreach { kind =>
      clusterRun(kind, nextQuery(kind, 0))
      localRun(kind, nextQuery(kind, 0))
    }
    reader.searchMany(q.bm25.take(BatchSize).zipWithIndex.map { case (t, j) => s"q$j" -> t }, 10)
  }

  def loop(r: Run): Unit = {
    warmUp()
    r.measure(Seq(0.8 -> (() => single(r)), 0.1 -> (() => batch(r)), 0.1 -> (() => localStep(r))))
  }

  def finish(r: Run): Unit = {
    import r.spark.implicits._
    cluster.keys.filterNot(checked).toSeq.foreach { case (kind, query) => compare(r, kind, query, localRun(kind, query)) }
    val bad = IndexBuilder.verifyIngestion(r.spark, indexes.dir.toString,
      corpus.select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn])
    r.check(bad == 0, s"verifyIngestion found $bad mismatched turns")
    r.report("local.load_s") = Stats.median(loadS.toSeq)
    r.report("query.open_ms") = Stats.median(openMs.toSeq)
    for (bm <- r.median("bm25"); lb <- r.median("local_bm25")) r.report("query.spark_overhead_ms") = bm - lb
    val bt = r.samples("batch")
    if (bt.nonEmpty) r.report("batch_qps") = bt.size * BatchSize / (bt.sum / 1e3)
    indexes.layers(r)
    r.layer("store.ledger_files") = ledgerFiles(indexes.dir).size.toDouble
    if (r.traceMode) {
      val w = r.workOf("bm25", "phrase", "boolean")
      val n = math.max(w.calls, 1L).toDouble
      r.layer("query.jobs_per_query") = w.jobs / n
      r.layer("query.tasks_per_query") = w.tasks.tasks / n
      r.layer("query.bytes_read_per_query") = w.tasks.bytesRead / n
      r.layer("query.records_read_per_query") = w.tasks.recordsRead / n
      r.layer("query.driver_share") = w.driverMs / math.max(w.driverMs + w.jobMs, 1e-9)
      val b = r.workOf("batch")
      r.layer("batch.tasks") = b.tasks.tasks / math.max(b.calls, 1L).toDouble
      r.layer("batch.bytes_read") = b.tasks.bytesRead / math.max(b.calls, 1L).toDouble
      r.report("query.driver_ms_per_query") = w.driverMs / n
      r.report("query.task_busy_ms_per_query") = w.tasks.runMs / n
      r.median("dict").foreach(ms => r.report("query.dict_lookup_ms") = ms)
    }
    delete(indexes.dir); delete(corpusDir)
  }
}

/** Batch pipeline calls over one corpus with injected exact and near
  * copies: field-level patches (atomicSet) on its index, a clustered
  * conv_id band and a hash-scattered set in turn, each read back at once,
  * then every dedup and text-analysis operator, written to a noop sink. */
final class Batch extends Workload {
  val Ops = Seq("exact", "minhash_pairs", "simhash_pairs", "components", "decontaminate",
    "repetition", "quality", "token_counts", "lm")
  val primary = Seq("patch_clustered", "patch_scattered") ++ Ops.map("curate." + _)
  /** The operators differ in cost by 15x, so a median over all calls jumps
    * between neighbours; the latency is the patches', the time until an
    * edit is searchable. */
  override val latency = Seq("patch_clustered", "patch_scattered")
  val setupReps = 3
  var corpus: DataFrame = _
  private var corpusDir, pairsDir, benchDir: Path = _
  private var pairs, bench: DataFrame = _
  private var rows = 0L
  private var indexes: Indexes = _
  private var sinkCheck: NoopSinkCheck = _
  private var patchNo = 0
  private val rng = new scala.util.Random()
  /** A clustered patch covers this share of the turns in one conv_id band;
    * a scattered one picks this many per mille of them by hash, enough to
    * touch every segment. */
  private val ClusteredShare = 0.005
  private val ScatteredPerMille = 10
  private val deltaMs, encodeMs, finalizeMs, wallMs, rebuilt, useful, bytesRatio, overlays =
    mutable.ArrayBuffer.empty[Double]
  private var compactions = 0

  def prepare(r: Run): Unit = {
    corpusDir = r.work.resolve("corpus")
    pairsDir = r.work.resolve("pairs")
    benchDir = r.work.resolve("bench")
    corpus = Corpus.materialize(r.spark, inputOf("batch", r.spark, r.seed, r.cpus), corpusDir)
    rows = corpus.count()
    // one segment per core: a scattered patch rebuilds all of them, a
    // clustered one a single segment
    indexes = new Indexes(rows, r.cpus)
    // operator inputs: the injected (original, copy) pairs as the edge
    // list of the components pass, and an evaluation set (1% of the
    // originals) for decontamination
    pairs = Corpus.materialize(r.spark, corpus.filter(col("dup_of").isNotNull)
      .select(col("dup_of").as("id_a"), col("id").as("id_b")), pairsDir)
    bench = Corpus.materialize(r.spark, corpus.filter(col("dup_kind").isNull &&
      pmod(xxhash64(col("id"), lit(r.seed + 1)), lit(100)) === 0).select("id", "text"), benchDir)
    rng.setSeed(r.seed)
  }

  def setup(r: Run, rep: Int): Unit = indexes.build(r, corpus, Corpus.dirBytes(corpusDir), rep)

  private def patch(r: Run, clustered: Boolean): Unit = {
    import r.spark.implicits._
    val spark = r.spark
    val idx = indexes.dir
    val token = s"zpatch${r.seed}n$patchNo"
    val pick =
      if (clustered) {
        val width = math.max(1L, math.round(ClusteredShare * rows / 5.5))
        val start = rng.nextInt((BatchConvs - width).toInt).toLong
        val convNum = substring(col("conv_id"), 6, 32).cast("long")
        col("conv_id").startsWith("conv-") && convNum >= start && convNum < start + width
      } else pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(patchNo), lit(r.seed)), lit(1000)) < ScatteredPerMille
    patchNo += 1
    val picked = corpus.filter(pick).select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
    val keys = picked.map(x => (x._1, x._2)).toSet
    val sets = picked.toSeq.map { case (c, t, x) => (c, t, s"$x $token") }.toDF("conv_id", "turn_idx", "text")
    val before = if (r.traceMode) files(idx) else Map.empty[String, (Long, Long)]
    val ledgerBefore = ledgerFiles(idx).toSet
    val patchedSegs = if (r.traceMode) IndexBuilder.readDocs(spark, idx.toString)
      .join(sets.select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"))
      .select("segment").distinct().count() else 0L
    val shape = if (clustered) "patch_clustered" else "patch_scattered"
    val rep = r.call(shape, "index", "Incremental.atomicSet")(
      Incremental.atomicSet(spark, BuildConfig(idx.toString, nSegments = indexes.segments), sets))
    val traced = r.calls.last.traced
    r.check(rep.nDocs == rows, s"patch changed nDocs to ${rep.nDocs}")
    val overAfter = IndexBuilder.overlaidSegments(idx.toString)
    val touched = manifest(idx, "phaseA.json").getOrElse("segments_touched", "0").toInt
    // without a compaction every touched segment keeps an overlay
    if (touched > 0 && overAfter.size < touched) compactions += 1
    if (traced) r.lastTraced.foreach { tc =>
      val newRows = ledgerRows(ledgerFiles(idx).filterNot(ledgerBefore))
      val d = manifest(idx, "phaseA.json").getOrElse("wall_ms", "0").toDouble
      val e = wavesMs(newRows)
      val f = manifest(idx, "finalize.json").getOrElse("wall_ms", "0").toDouble
      deltaMs += d; encodeMs += e; finalizeMs += f; wallMs += tc.apiEnd - tc.apiStart
      rebuilt += rep.segmentsBuilt.toDouble
      useful += patchedSegs.toDouble / math.max(rep.segmentsBuilt, 1)
      val written = files(idx).collect { case (p, st) if !before.get(p).contains(st) => st._1 }.sum
      bytesRatio += written.toDouble / math.max(picked.map(_._3.length + token.length + 1L).sum, 1L)
      overlays += overAfter.size.toDouble
      r.tracer.add(Span(tc.trace, r.tracer.newId(), tc.api, "delta", "index", tc.apiStart, tc.apiStart + d))
      newRows.filter(_.get("status").contains(Manifest.Complete))
        .groupBy(_.getOrElse("snapshot_id", "0")).toSeq.sortBy(_._1).foreach { case (snap, ws) =>
          r.tracer.add(Span(tc.trace, r.tracer.newId(), tc.api, "wave", "index", snap.toDouble,
            snap.toDouble + ws.head.getOrElse("wall_ms", "0").toDouble, Map("segments" -> ws.size)))
        }
      r.tracer.add(Span(tc.trace, r.tracer.newId(), tc.api, "finalize", "index", tc.apiEnd - f, tc.apiEnd))
    }
    // read-your-writes: a fresh reader sees the patch, and the patch's
    // unique token finds exactly the patched turns (up to k)
    val hits = r.call("ryw", "query", "IndexReader.search")(
      new IndexReader(spark, idx.toString).search(token, 10))
    val found = IndexBuilder.readDocs(spark, idx.toString)
      .filter(col("doc_id").isin(hits.map(_.doc_id): _*))
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    r.check(hits.size == math.min(10, keys.size) && found.size == hits.size && found.subsetOf(keys),
      s"read-your-writes for $token returned ${hits.size} hits, ${found.diff(keys).size} unpatched")
  }

  private def op(name: String): DataFrame = name match {
    case "exact" => Dedup.exactDedup(corpus, "id", "text")
    case "minhash_pairs" => Dedup.minHashNearDups(corpus, "id", "text")
    case "simhash_pairs" => Dedup.simHashNearDups(corpus, "id", "text")
    case "components" => Dedup.nearDupComponents(pairs)
    case "decontaminate" => Dedup.decontaminate(corpus, bench, "id", "text")
    case "repetition" => TextAnalysis.repetitionSignals(corpus, "text")
    case "quality" => TextAnalysis.qualityScore(corpus, "text")
    case "token_counts" => TextAnalysis.tokenCounts(corpus, "text")
    case "lm" => TextAnalysis.lmScores(corpus, "id", "text")
  }

  private def curate(r: Run): Unit = Ops.foreach { name =>
    val api = if (Ops.indexOf(name) < 5) "Dedup" else "TextAnalysis"
    sinkCheck.begin()
    r.call("curate." + name, "operators", api)(sink(op(name)))
    r.check(sinkCheck.endedWithNoopWrite(r.sc), s"curate.$name did not end in a noop-sink write: ${sinkCheck.lastSeen}")
  }

  def loop(r: Run): Unit = {
    sinkCheck = new NoopSinkCheck
    r.spark.listenerManager.register(sinkCheck)
    try r.measure(Seq(1.0 -> { () => patch(r, clustered = true); patch(r, clustered = false); curate(r) }))
    finally r.spark.listenerManager.unregister(sinkCheck)
  }

  def finish(r: Run): Unit = {
    // every injected exact copy is removed
    val survivors = Dedup.exactDedupRows(corpus, "id", "text")
      .filter(col("dup_kind") === "exact").count()
    r.check(survivors == 0, s"$survivors injected exact copies survive exactDedup")
    // recall of injected near copies among the MinHash pairs
    val near = corpus.filter(col("dup_kind") === "near").select(col("dup_of").as("id_a"), col("id").as("id_b"))
    val nNear = near.count()
    val minhash = Dedup.minHashNearDups(corpus, "id", "text").cache()
    val found = near.join(minhash, Seq("id_a", "id_b"), "left_semi").count()
    val recall = found.toDouble / math.max(nNear, 1L)
    r.check(nNear > 0 && recall >= DupRecallFloor, f"near-duplicate recall $recall%.3f below $DupRecallFloor")
    val perOp = Ops.flatMap(o => r.median("curate." + o).map(o -> _))
    if (perOp.size == Ops.size) r.report("curate_turns_per_s") = rows / (perOp.map(_._2).sum / 1e3)
    perOp.foreach { case (o, ms) => r.report(s"curate.${o}_s") = ms / 1e3 }
    r.median("patch_clustered").foreach(ms => r.report("update_clustered_s") = ms / 1e3)
    r.median("patch_scattered").foreach(ms => r.report("update_scattered_s") = ms / 1e3)
    indexes.layers(r)
    r.layer("store.ledger_files") = ledgerFiles(indexes.dir).size.toDouble
    r.layer("curate.dup_recall") = recall
    if (r.traceMode && wallMs.nonEmpty) {
      def share(xs: mutable.ArrayBuffer[Double]) = Stats.median(xs.indices.map(i => xs(i) / wallMs(i)))
      r.layer("incremental.segments_rebuilt") = Stats.median(rebuilt.toSeq)
      r.layer("incremental.useful_segment_ratio") = Stats.median(useful.toSeq)
      r.layer("incremental.bytes_written_per_patched_byte") = Stats.median(bytesRatio.toSeq)
      r.layer("incremental.overlay_segments") = Stats.median(overlays.toSeq)
      r.layer("incremental.compactions") = compactions.toDouble
      r.layer("incremental.delta_share") = share(deltaMs)
      r.layer("incremental.encode_share") = share(encodeMs)
      r.layer("incremental.finalize_share") = share(finalizeMs)
      r.report("incremental.delta_s") = Stats.median(deltaMs.toSeq) / 1e3
      r.report("incremental.encode_s") = Stats.median(encodeMs.toSeq) / 1e3
      r.report("incremental.finalize_s") = Stats.median(finalizeMs.toSeq) / 1e3
      val cand = Dedup.minHashCandidates(corpus, "id", "text").count()
      r.layer("curate.minhash_candidates") = cand.toDouble
      r.layer("curate.minhash_kept_ratio") = minhash.count().toDouble / math.max(cand, 1L)
    }
    minhash.unpersist()
    Seq(indexes.dir, corpusDir, pairsDir, benchDir).foreach(delete)
  }
}

/** Records the last query execution of each timed operator call, so the
  * run can assert that the call ended in a noop-sink write and not in a
  * count() that could prune the work. */
final class NoopSinkCheck extends org.apache.spark.sql.util.QueryExecutionListener {
  @volatile private var last = ("", "")
  def begin(): Unit = last = ("", "")
  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = last = (funcName, qe.logical.toString.take(300))
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = last = (funcName, "failed")
  /** The last execution was `sink`'s: an overwrite of the noop table. */
  def endedWithNoopWrite(sc: org.apache.spark.SparkContext): Boolean = {
    Trace.drain(sc)
    last._1 == "overwrite" && last._2.contains("noop-table")
  }
  def lastSeen: String = s"${last._1}: ${last._2}"
}
