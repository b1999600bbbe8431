package graft.index

import graft.analysis.{Analyzer, Tokenizer}
import graft.model._
import graft.store.{LocalParquet, Manifest}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._


case class BuildConfig(outDir: String,
                       nSegments: Int = 0, // 0 → auto: max(64, nDocs/25k)
                       waveSize: Int = 0,  // 0 → auto: min(256, nSegments)
                       sortPartitions: Int = 0, // 0 → defaultParallelism
                       failAfterWaves: Int = -1, // test hook: simulated kill
                       poisonSegments: Set[Int] = Set.empty, // test hook: deterministic task failure
                       analyzer: Analyzer = Analyzer.V1,
                       storePositions: Boolean = true, // false → no per-posting position lists (phrase queries unavailable; ~smaller index + cheaper encode — the Lucene IndexOptions.DOCS_AND_FREQS analog for analytics-only fields)
                       maxOpenTerms: Int = 1 << 19,        // encoder vocab cap
                       maxBufferedPostings: Long = 1L << 22, // encoder memory cap (~64 MB arrays)
                       autoCompactFraction: Double = 0.5) { // an update whose overlaid plus touched segments exceed this fraction of the segments writes one new staging base instead of overlays (<= 0 disables)
  /** Segment count targets CACHE-RESIDENT encoder term maps (~25k
    * docs/segment → sub-MB per-task vocab): profiling showed the
    * encode stage goes DRAM-latency-bound once the per-segment term
    * map outgrows L2, costing ~3x at 32 threads. */
  def segmentsFor(nDocs: Long): Int =
    if (nSegments > 0) nSegments
    else math.max(64L, (nDocs + 24999) / 25000).min(1 << 20).toInt
  def waveFor(segments: Int): Int =
    if (waveSize > 0) waveSize else math.min(256, math.max(1, segments))
}

case class BuildReport(nDocs: Long, avgdl: Double, nTerms: Long,
                       segmentsBuilt: Int, segmentsSkipped: Int, wallMs: Long,
                       segmentsQuarantined: Int = 0)

/** Thrown by the fault-injection hook (FIXTURES.md §4 kill-after-N). */
class SimulatedKill(wave: Int) extends RuntimeException(s"simulated kill after wave $wave")

/**
 * Two-phase, wave-checkpointed inverted-index build (SURVEY.md §2.7,
 * §7). Replaces the reference's scan→transform→Solr pipeline
 * (`/root/reference/code/ingest/src/main/java/org/jesterj/ingest/processors/SendToSolrProcessor.java:102-142`)
 * plus the Lucene indexing it delegates to.
 *
 * == Phase A (global stats + stable docIDs) ==
 * Global sort by (conv_id, turn_idx) via `repartitionByRange` +
 * `sortWithinPartitions`, then two-pass dense docID assignment
 * (per-partition counts → broadcast offsets → mapPartitions). docIDs
 * depend only on the data's total order, never on partitioning — the
 * stability invariant tested at 2 vs 32 partitions. Docs land in
 * SEGMENTS = contiguous docId ranges (segment = docId / segSize), the
 * unit of checkpointing. Phase A commits: a staging copy of the corpus
 * (one doc_id-sorted, segment-monotone file per sort partition, in
 * 1 MiB row groups, so parquet min/max stats let a Phase B or apply
 * task read one segment's row groups in place; doc_stats is this same
 * table column-pruned), and a phaseA manifest
 * carrying an order-insensitive corpus content hash (xor of
 * xxhash64(conv_id, turn_idx, role, text, tool)) for change detection — the
 * reference's `jj_scanner_doc_hash` analog
 * (`ScannerImpl.java:380-417`). Each sort partition's task writes its
 * own file and returns its per-segment sums (count, Σ dl, max doc_id,
 * content hash) as its task result; they publish with the files as a
 * `_segstats` file ([[SegStats]]), so an update refreshes the corpus
 * stats without a scan. The dictionary and
 * corpus_stats are derived AFTER the waves from the posting-block
 * footers (sum(n_docs), sum(block_cf) per term): a merge of the
 * term-sorted segment files inside term ranges, in one shuffle-free
 * job, not a third tokenize pass over the corpus.
 *
 * == Phase B (postings, per-segment, in waves) ==
 * For each wave of segments not yet COMPLETE: one shuffle-free job of
 * one task per segment. Each task reads its segment's staging rows in
 * place ([[Staging]]: staging is sorted by (segment, doc_id), so file
 * and row-group segment stats select them) in doc_id order → streaming
 * [[encodeDocs]]: tokenize each doc and APPEND to per-term posting
 * buffers — docIds arrive ascending per segment, so posting lists are
 * sorted by construction and the exploded token stream is never
 * shuffled OR sorted → the task sorts its block rows by term in a
 * bounded buffer and writes them as the segment's term-sorted file
 * ([[writePostings]]), returning its lineage counters as its task
 * result → atomic per-segment publish + manifest row.
 *
 * == Why this scales ==
 * There is NO global repartition-by-term shuffle and no token-level
 * sort: the segment IS the docId-range salt of SURVEY.md §2.7 applied
 * uniformly, so a head term with df ≈ N is split across every segment
 * with at most segSize postings per segment — skew is structurally
 * bounded, and per-term segment postings concatenate in segment order
 * into globally docId-sorted lists. Per-task memory is O(per-segment
 * vocabulary), tuned by nSegments, plus one staging row group and a
 * block-row buffer capped by the same `maxBufferedPostings` budget.
 * The only corpus-wide shuffle is the Phase-A range sort: Phase B
 * reads the sorted staging in place, and the dictionary merges the
 * already term-sorted segment files per term range, with no exchange.
 * Every index file is written inside the task that produces its rows
 * ([[graft.store.LocalParquet.write]]: a hidden name renamed on close),
 * with no Spark write job or commit protocol. Wave size bounds the
 * working set; a killed build reruns by manifest anti-planning, and
 * replays are idempotent (overwrite-by-partition).
 */
object IndexBuilder {

  def stagingDir(outDir: String) = s"$outDir/_staging/docs"
  /** Per-segment overlay replacing the base staging rows of segments
    * touched by an incremental update ([[Incremental]]). */
  def overlayDir(outDir: String) = s"$outDir/_staging/seg"
  def manifestDir(outDir: String) = s"$outDir/_manifest"
  def postingsDir(outDir: String) = s"$outDir/postings"
  def dictionaryDir(outDir: String) = s"$outDir/dictionary"
  def corpusStatsDir(outDir: String) = s"$outDir/corpus_stats"

  /** Parquet row-group bound of the term-sorted tables (postings,
    * dictionary): each row group's min/max term is then a sparse terms
    * index, so a term lookup decodes a few row groups, not the file. */
  val TermRowGroupBytes: Long = 128 * 1024

  /** About how many bytes of rows a postings page holds: each page's
    * min/max term (the `term` column index) is a dense terms index
    * inside the row group, so a segment task reads and decodes only the
    * pages that can hold its terms' rows ([[graft.store.LocalParquet]]).
    * A file's page row bound is this over its mean row size, within
    * [[TermPageRows]]: small blocks (a small corpus, rare terms) make
    * more rows per page, so page headers and page indexes stay a small
    * share of the file. */
  val TermPageBytes: Long = 12 * 1024

  /** The least and greatest page row bound of a postings file. */
  val TermPageRows: (Int, Int) = (16, 1024)

  /** Parquet page row bound of the dictionary, whose rows are a few
    * bytes each: a df lookup decodes a few pages of `term`, not the row
    * group. */
  val DictionaryPageRows: Int = 512

  /** Parquet row-group bound of the staging base: each row group's
    * min/max segment lets a segment task read its segment's row groups
    * in place ([[Staging]]), decoding about one row group more than its
    * own rows at each end. */
  val StagingRowGroupBytes: Long = 1024 * 1024

  /** Posting-table schema, for inference-free reads (an empty segment
    * dir must read as 0 rows, not an AnalysisException). */
  val PostingSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[PostingBlockRow].schema

  /** Staging-table schema: DocTurn + the per-doc source hash
    * (xxhash64(role, text, tool)) incremental change detection diffs
    * against — stored so the diff never has to re-read the text. */
  val StagingSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[DocTurn].schema
      .add("src_hash", org.apache.spark.sql.types.LongType)

  /** Segments whose staging rows live in the overlay (directory list —
    * bounded by segments touched since the last full build). */
  def overlaidSegments(outDir: String): Set[Int] = {
    val d = Paths.get(overlayDir(outDir))
    if (!Files.exists(d)) return Set.empty
    val s = Files.list(d)
    try {
      val it = s.iterator()
      val out = Set.newBuilder[Int]
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        if (name.startsWith("segment=")) out += name.stripPrefix("segment=").toInt
      }
      out.result()
    } finally s.close() // serving-path hot loop: leaked dir fds accumulate between GCs
  }

  /**
   * The staging corpus VIEW as a DataFrame: base rows for untouched
   * segments, overlay rows for segments rewritten by incremental
   * updates; doc_stats (doc_id, conv_id, turn_idx, dl, segment + fields)
   * is this view read with column pruning. Both sides carry parquet
   * min/max segment stats, and files are doc_id-sorted, so lookups and
   * segment filters prune by row-group stats. Phase B and the apply do
   * not read it: they read each segment's rows in place ([[Staging]]).
   * Overlays accumulate one dir per touched segment until an update
   * would overlay more than `autoCompactFraction` of the segments: that
   * update writes one new base instead ([[Incremental]]).
   */
  def readDocs(spark: SparkSession, outDir: String): DataFrame = {
    if (!Files.exists(Paths.get(stagingDir(outDir))))
      Incremental.recoverCompact(outDir) // crash inside compact's rename window
    val base = spark.read.schema(StagingSchema).parquet(stagingDir(outDir))
    val over = overlaidSegments(outDir)
    if (over.isEmpty) base
    else {
      val overlay = spark.read.schema(StagingSchema).parquet(overlayDir(outDir))
      base.filter(!col("segment").isInCollection(over)).unionByName(overlay)
    }
  }

  /** Builds the index of `turns` into `cfg.outDir`: a fresh build, a
    * delta against the index already there ([[Incremental.delta]]), or
    * a rerun of a killed build — then Phase B and finalize. Its Spark
    * jobs are described `graft:build`. */
  def build(spark: SparkSession, turns: Dataset[Turn], cfg: BuildConfig): BuildReport =
    inBuildSession(spark, "build", turns.toDF()) { (bs, src) =>
      import bs.implicits._
      buildInner(bs, src.as[Turn], cfg)
    }

  /** Runs `body` on a build session with `input` re-bound into it, every
    * Spark job it starts described `graft:<op>` (the caller's
    * description is restored after).
    *
    * Small-corpus builds: the default 128 MB split size collapses the
    * staging read into a handful of input tasks, capping every
    * downstream map stage at that width regardless of cluster size.
    * Splits are sized so the read parallelism tracks the cluster; at
    * TB scale the defaults already give plentiful splits and these
    * bounds are no-ops in practice.
    *
    * The overrides live on a DEDICATED session (newSession shares the
    * SparkContext but has isolated SQLConf), so concurrent queries on
    * the caller's session never observe them and two concurrent builds
    * cannot race on a save/restore of shared conf. The caller's input
    * is re-bound to the build session through a global temp view —
    * logical plans are session-independent. */
  private[index] def inBuildSession[T](spark: SparkSession, op: String, input: DataFrame)
                                      (body: (SparkSession, DataFrame) => T): T = {
    val bs = spark.newSession()
    Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone").foreach { k =>
      spark.conf.getOption(k).foreach(bs.conf.set(k, _))
    }
    bs.conf.set("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
    bs.conf.set("spark.sql.files.openCostInBytes", (1L << 20).toString)
    val vn = s"graft_build_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    input.createOrReplaceGlobalTempView(vn)
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:$op")
    try body(bs, bs.table(s"global_temp.$vn"))
    finally {
      sc.setJobDescription(caller)
      spark.catalog.dropGlobalTempView(vn)
    }
  }

  /** Order-insensitive corpus content hash: the xor of every row's
    * xxhash64(conv_id, turn_idx, role, text, tool) (0 when empty). */
  private[index] val ContentHash: org.apache.spark.sql.Column =
    coalesce(expr("bit_xor(xxhash64(conv_id, turn_idx, role, text, tool))"), lit(0L))

  /** Writes the phase A manifest: the corpus stats, the content hash,
    * the build format, and `extra` fields. */
  private[index] def writePhaseA(cfg: BuildConfig, nDocs: Long, avgdl: Double, segSize: Long,
                                 nSegEff: Int, contentHash: String,
                                 extra: Map[String, String]): Unit =
    Manifest.writeAtomic(Manifest.phaseAPath(manifestDir(cfg.outDir)), Map(
      "status" -> Manifest.Complete,
      "n_docs" -> nDocs.toString,
      "avgdl" -> avgdl.toString,
      "seg_size" -> segSize.toString,
      "n_segments_effective" -> nSegEff.toString,
      "content_hash" -> contentHash,
      "analyzer" -> cfg.analyzer.id,
      "store_positions" -> cfg.storePositions.toString,
      "index_version" -> IndexFormat.Version.toString,
      "tokenizer_version" -> Tokenizer.Version.toString) ++ extra)

  /** Whether an on-disk phase A manifest was built in `cfg`'s format
    * (analyzer, positions, index version) and its staging is there with
    * its per-segment stats and key ranges ([[SegStats]]; an index
    * written before them has none and rebuilds). */
  private[index] def compatible(cfg: BuildConfig, m: Map[String, String]): Boolean =
    m.get("status").contains(Manifest.Complete) &&
      m.get("analyzer").contains(cfg.analyzer.id) &&
      m.get("store_positions").contains(cfg.storePositions.toString) &&
      m.get("index_version").contains(IndexFormat.Version.toString) &&
      Files.exists(Paths.get(stagingDir(cfg.outDir))) && SegStats.present(cfg.outDir)

  /** Routing: fresh build, delta, or rerun; then [[finishBuild]]. */
  private def buildInner(spark: SparkSession, turns: Dataset[Turn], cfg: BuildConfig): BuildReport = {
    val t0 = System.currentTimeMillis()
    val mdir = manifestDir(cfg.outDir)
    // a staging base lost to a crash inside compact's rename window
    // must be restored BEFORE the compatibility check — without it the
    // missing base would route a perfectly resumable index into a full
    // rebuild
    Incremental.recoverCompact(cfg.outDir)

    val prior = Manifest.read(Manifest.phaseAPath(mdir))

    // ---- change detection: order-insensitive corpus hash over the
    // full identity+content tuple. The upfront scan (a full corpus
    // read) only runs when there IS a prior manifest to compare
    // against; a fresh build's staging tasks compute the same hash as
    // they write (their per-segment stats) — one less corpus read. ----
    val (srcCount, srcHash) =
      if (prior.isEmpty) (-1L, null: String)
      else {
        val hashRow = turns.agg(coalesce(sum(lit(1L)), lit(0L)).as("n"), ContentHash.as("h")).head()
        (hashRow.getLong(0), hashRow.getLong(1).toString)
      }
    // analyzer/index_version checks REQUIRE the keys (not forall): a
    // pre-v2 on-disk index must trigger a clean full rebuild, never a
    // reuse of mixed-format tables
    val canReuse = prior.exists(compatible(cfg, _))
    val phaseAValid = canReuse && prior.exists(_.get("content_hash").contains(srcHash))

    val stats =
      if (phaseAValid) {
        val m = prior.get
        (m("n_docs").toLong, m("avgdl").toDouble,
          m("seg_size").toLong, m("n_segments_effective").toInt)
      }
      else if (canReuse && prior.exists(_.get("n_docs").exists(_ != "0"))) {
        // source changed but the on-disk index is the same format over
        // an older corpus version → DELTA: diff per-doc hashes, rewrite
        // only touched segments' staging, mark them stale. Phase B then
        // rebuilds exactly those segments. (An EMPTY prior index has no
        // docIDs to preserve and a degenerate frozen segSize — route to
        // a fresh full build instead.)
        Incremental.delta(spark, turns, cfg, srcHash)
      } else {
        // fresh build (or incompatible format) → reset everything
        Manifest.deleteRecursively(Paths.get(cfg.outDir))
        phaseA(spark, turns, cfg, srcHash, srcCount)
      }
    finishBuild(spark, cfg, t0, stats)
  }

  /** Phase B over the segments the manifests leave pending, then
    * finalize: the half of a build after its phase A state (`stats`:
    * nDocs, avgdl, segSize, effective segment count) is on disk.
    * [[Incremental.atomicSet]] enters here directly. */
  private[index] def finishBuild(spark: SparkSession, cfg: BuildConfig, t0: Long,
                                 stats: (Long, Double, Long, Int)): BuildReport = {
    val (nDocs, avgdl, _, nSegEff) = stats
    val mdir = manifestDir(cfg.outDir)

    // ---- Phase B: postings in waves, rerun-aware. A failing wave is
    // isolated segment by segment; a deterministically-failing segment
    // accumulates attempts (across reruns too, via the ledger) and is
    // QUARANTINED at MaxAttempts — the build completes without it, the
    // reference's retry→DEAD state machine
    // (`ScannerImpl.java:614-713`, HeuristicFatalFTITest). ----
    val states = Manifest.segmentStates(mdir)
    val complete = states.collect {
      case (s, m) if m.get("status").contains(Manifest.Complete) => s
    }.toSet
    val allSegments = (0 until nSegEff).toVector
    val pending = allSegments.filterNot(s => states.get(s).exists(m =>
      m.get("status").contains(Manifest.Complete) ||
        m.get("status").contains(Manifest.Quarantined)))
    val failCounts = scala.collection.mutable.HashMap.empty[Int, Int]
    states.foreach { case (s, m) =>
      if (m.get("status").contains(Manifest.Failed))
        failCounts(s) = m.get("attempts").map(_.toInt).getOrElse(0)
    }
    val attemptOf: Int => Int = s => failCounts.getOrElse(s, 0) + 1
    var wavesDone = 0
    pending.grouped(cfg.waveFor(nSegEff)).foreach { wave =>
      if (cfg.failAfterWaves >= 0 && wavesDone >= cfg.failAfterWaves)
        throw new SimulatedKill(wavesDone)
      try buildWave(spark, cfg, wave, attemptOf)
      catch {
        case k: SimulatedKill => throw k
        case e0: Exception =>
          // Isolate segment by segment. FAILED rows are appended
          // IMMEDIATELY (crash-safe attempt accounting, and a later
          // retry-success's COMPLETE row correctly supersedes them in
          // ledger order). The QUARANTINE decision is deferred to the
          // end of the wave and requires SIBLING EVIDENCE: only when
          // some segment of the same wave succeeded in this same
          // environment is repeated failure attributable to the DATA.
          // An all-failing multi-segment wave aborts instead (lost
          // executors / full disk look exactly like this) — after a
          // few all-failing segments we stop probing and throw rather
          // than burn MaxAttempts × waveSize failing jobs.
          var anySucceeded = false
          var lastErr: Exception = e0
          val completed = scala.collection.mutable.Set.empty[Int]
          val it = wave.iterator
          // environment probe counter: segments that ATTEMPTED this run
          // and failed outright. Budget-exhausted segments (poisons from
          // prior runs) must not count — three leading poisons would
          // otherwise bail the loop forever and starve their healthy
          // siblings of the attempt that proves sibling evidence.
          var failedProbes = 0
          while (it.hasNext && (anySucceeded || failedProbes < 3 || wave.size == 1)) {
            val seg = it.next()
            var done = false
            var attempted = false
            while (!done && failCounts.getOrElse(seg, 0) < MaxAttempts) {
              attempted = true
              try {
                buildWave(spark, cfg, Seq(seg), attemptOf)
                done = true; anySucceeded = true; completed += seg
              } catch {
                case k: SimulatedKill => throw k
                case e: Exception =>
                  lastErr = e
                  val n = failCounts.getOrElse(seg, 0) + 1
                  failCounts(seg) = n
                  Manifest.appendLedger(mdir, Seq(Map(
                    "segment" -> seg.toString, "status" -> Manifest.Failed,
                    "attempts" -> n.toString,
                    "error" -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200))))
              }
            }
            if (attempted && !done) failedProbes += 1
          }
          // env-abort only when this run actually TESTED the
          // environment and everything it tested failed. A wave of
          // solely budget-exhausted segments (nothing attemptable)
          // falls through: their ≥MaxAttempts recorded failures are
          // the quarantine evidence — the reference's DEAD state has
          // the same env-vs-poison residual risk.
          if (!anySucceeded && failedProbes > 0 && wave.size > 1) throw lastErr
          // exhausted-but-unfinished segments with sibling evidence →
          // quarantine (appended last, supersedes their FAILED rows).
          // This also catches segments that exhausted their budget in
          // PRIOR runs once any sibling finally succeeds.
          val exhausted = wave.filter(s => !completed.contains(s) &&
            failCounts.getOrElse(s, 0) >= MaxAttempts)
          if (exhausted.nonEmpty)
            Manifest.appendLedger(mdir, exhausted.map(s => Map(
              "segment" -> s.toString, "status" -> Manifest.Quarantined,
              "attempts" -> failCounts(s).toString)))
      }
      wavesDone += 1
    }

    // ---- finalize: dictionary + corpus_stats from the posting blocks
    // (no extra tokenize pass; reruns for free — skipped iff nothing
    // was rebuilt and a COMPLETE finalize manifest exists) ----
    val finPath = Manifest.finalizePath(mdir)
    val nTerms =
      if (pending.isEmpty && Manifest.isComplete(finPath) &&
          Files.exists(Paths.get(corpusStatsDir(cfg.outDir))))
        Manifest.read(finPath).get("n_terms").toLong
      else finalizeStats(spark, cfg, nDocs, avgdl, nSegEff)

    val finalStates = Manifest.segmentStates(mdir)
    val built = pending.count(s => finalStates.get(s)
      .exists(_.get("status").contains(Manifest.Complete)))
    // quarantined THIS RUN (symmetric with `built`); the full set is
    // Manifest.quarantinedSegments(manifestDir)
    val quarantined = pending.count(s => finalStates.get(s)
      .exists(_.get("status").contains(Manifest.Quarantined)))

    BuildReport(nDocs, avgdl, nTerms, built, complete.size,
      System.currentTimeMillis() - t0, quarantined)
  }

  /** Failed-segment retry budget before quarantine (the reference's
    * `errorCounter` threshold, `ScannerImpl.java:614-713`). */
  val MaxAttempts = 3

  /**
   * The shared 2-pass dense-rank mechanism: global (conv_id, turn_idx)
   * range sort, then per-partition counts → prefix offsets, so a later
   * mapPartitions can assign id = offset(pid) + local index. Range
   * partitions are globally ordered and keys unique, so the id equals
   * the row's rank in the total order at ANY parallelism (the 2-vs-13
   * partition stability spec). Returns (sorted dataset — shuffle-
   * reused across passes, see below — offsets by partition id, total
   * rows).
   *
   * NOT persisted — SHUFFLE REUSE is the materialization. The sorted
   * data is surfaced as ONE `RDD[Turn]` (`Dataset.rdd`, taken once):
   * every pass — the counting action here and any later
   * offset-indexing mapPartitions — is a result-stage re-run over
   * that same RDD, so the exchange's map output is fetched from disk,
   * never recomputed, and partition ids and the in-partition order
   * (total — keys are unique) are identical across passes; each extra
   * pass re-runs only the reduce-side in-partition sort. The RDD
   * identity is LOAD-BEARING: running the passes as separate
   * DataFrame actions instead plans a fresh exchange per action, and
   * `RangePartitioner` re-SAMPLES its boundaries with a seed derived
   * from the new RDD's id — pass 2's partition boundaries then
   * disagree with pass 1's counts and the assigned ids are garbage
   * (observed as non-monotone docIds crashing the encoder).
   *
   * This replaced a DISK_ONLY persist deliberately: Dataset caching
   * routes corpus-sized text through the in-memory COLUMNAR batch
   * builder even at DISK_ONLY (round 5 had already demoted it from
   * MEMORY_AND_DISK after the builder's per-task stat-gathering over
   * ~KB strings OOM-killed the 52.8 M-turn build), and profiling this
   * round put the cache build at 5.3 s cold / 1.1 s warm on the 5.28
   * M-turn bench corpus PLUS a corpus-sized copy in the block-manager
   * disk store — against ~2 s for the re-sort the reuse pass pays.
   * Shuffle files live on executor-local disk at any corpus:heap
   * ratio; no storage-memory interaction at all.
   *
   * An offset-indexing pass takes its partition id from the sorted
   * RDD itself (the task's partition in a `runJob` over it, or the
   * index of `mapPartitionsWithIndex` on it), never from the running
   * task: inside a union a task's partition id is the union's.
   */
  /** Fixed column order of the rows [[sortAndOffsets]] returns:
    * conv_id(0), turn_idx(1), role(2), text(3), tool(4) — `ts` is
    * deliberately dropped before the exchange (nothing downstream
    * reads it; guide §2.3, shuffle fewer bytes). */
  private[index] val SortedOrdinals: Seq[String] =
    Seq("conv_id", "turn_idx", "role", "text", "tool")

  private[index] def sortAndOffsets(spark: SparkSession, turns: Dataset[Turn],
                                    p: Int): (org.apache.spark.rdd.RDD[InternalRow], Array[Long], Long) = {
    val sorted = turns.toDF().select(SortedOrdinals.map(col): _*)
      .repartitionByRange(p, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx")
      // ONE RDD of RAW InternalRows: pins the sampled range boundaries
      // across passes AND lets the count pass run without decoding a
      // Turn object per row (the offset pass reads UTF8String views)
      .queryExecution.toRdd
    val counts = spark.sparkContext.runJob(sorted, (it: Iterator[InternalRow]) => it.size.toLong)
    (sorted, counts.scanLeft(0L)(_ + _).take(counts.length.max(1)), counts.sum)
  }

  /** The sort partitions of a build with `cfg`. */
  private[index] def sortPartitions(spark: SparkSession, cfg: BuildConfig): Int =
    if (cfg.sortPartitions > 0) cfg.sortPartitions else spark.sparkContext.defaultParallelism

  /** Staging rows ([[StagingSchema]]) of `sorted` rows in
    * [[SortedOrdinals]] order, their doc_ids counting up from `firstId`:
    * phase A's rows and a delta's appended rows. The rows are built
    * straight from the input's UTF8String views — no Turn decode, no
    * String re-encode — so each must be consumed (or copied) before the
    * next is pulled. */
  private[index] def stagingRows(sorted: Iterator[InternalRow], firstId: Long, segSize: Long,
                                 az: Analyzer): Iterator[InternalRow] = {
    var id = firstId - 1
    sorted.map { r =>
      id += 1
      def u8(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i)
      stagingRow(az, id, (id / segSize).toInt, r.getUTF8String(0), r.getInt(1), u8(2), u8(3), u8(4))
    }
  }

  /** One staging row of these fields with its dl and src_hash: the one
    * code for every staging row a build, a delta or a patch makes.
    * src_hash is the raw-field mirror of the SQL xxhash64(role, text,
    * tool) form (RowHashSpec). */
  private[index] def stagingRow(az: Analyzer, docId: Long, segment: Int, conv: UTF8String, turnIdx: Int,
                                role: UTF8String, text: UTF8String, tool: UTF8String): InternalRow = {
    val dl =
      if (az.id == Analyzer.V1.id) Tokenizer.docLengthU8(text)
      else az.docLength(if (text == null) null else text.toString)
    new GenericInternalRow(Array[Any](docId, segment, conv, turnIdx, role, text, tool, dl,
      RowHash.contentHashRaw(role, text, tool)))
  }

  /** Phase A. Returns (nDocs, avgdl, segSize, effective segment count). */
  private def phaseA(spark: SparkSession, turns: Dataset[Turn], cfg: BuildConfig,
                     srcHash: String, srcCount: Long): (Long, Double, Long, Int) = {
    val t0 = System.currentTimeMillis()
    val p = sortPartitions(spark, cfg)

    // pass 1: sort + per-partition counts → dense offsets (docID
    // stability — SURVEY.md §7.5)
    val ((sorted, offsets, nDocs), sortMs) = timedMs(sortAndOffsets(spark, turns, p))
    require(srcCount < 0 || nDocs == srcCount,
      s"sorted count $nDocs != source count $srcCount")
    val nSegTarget = cfg.segmentsFor(nDocs)
    val segSize = math.max(1L, (nDocs + nSegTarget - 1) / nSegTarget)
    val nSegEff = if (nDocs == 0) 0 else (((nDocs - 1) / segSize) + 1).toInt

    // pass 2, the staging commit: each sort partition's task assigns its
    // rows' ids and doc lengths ([[stagingRows]]) and writes them as one
    // doc_id-sorted, segment-monotone file — NOT partitionBy(segment):
    // file and row-group min/max stats prune segment filters exactly as
    // well as directory partitioning would, without a file handle per
    // segment per task. The task returns its per-segment staging stats
    // (count, dl total, max doc_id, content hash), so avgdl and the
    // corpus hash cost no extra pass. doc_stats is this same table read
    // with column pruning.
    val stagingTmp = Paths.get(cfg.outDir, "_tmp_staging_docs")
    Manifest.deleteRecursively(stagingTmp)
    Files.createDirectories(stagingTmp)
    val dir = stagingTmp.toString
    val az = cfg.analyzer
    val (segStats, stagingMs) = timedMs(SegStats.merge(
      spark.sparkContext.runJob(sorted, (ctx: TaskContext, it: Iterator[InternalRow]) => {
        val pid = ctx.partitionId()
        Staging.write(LocalParquet.part(Paths.get(dir), pid), stagingRows(it, offsets(pid), segSize, az),
          overlay = false)
      })))
    SegStats.write(stagingTmp, segStats)
    Manifest.publishDir(stagingTmp, Paths.get(stagingDir(cfg.outDir)))

    // avgdl — defined as sum(dl)/n_docs in double (the dictionary is
    // derived AFTER phase B from the encoded posting blocks, so the
    // corpus is tokenized exactly twice: dl here, postings in B)
    val total = segStats.values.foldLeft(SegStats.Empty)(_ + _)
    val avgdl = if (nDocs == 0) 1.0 else total.dlSum.toDouble / nDocs

    // sort_ms: the range sort + per-partition counts; staging_ms: the
    // id-assigning staging write
    writePhaseA(cfg, nDocs, avgdl, segSize, nSegEff,
      Option(srcHash).getOrElse(total.hash.toString), Map(
        "sort_ms" -> sortMs.toString,
        "staging_ms" -> stagingMs.toString,
        "wall_ms" -> (System.currentTimeMillis() - t0).toString))
    (nDocs, avgdl, segSize, nSegEff)
  }

  /** The corpus_stats-table schema, as Spark's encoder gives it. */
  private val CorpusStatsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[CorpusStats].schema

  /** The dictionary-table schema (term, df, cf), every column
    * optional. */
  private val DictionarySchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.Encoders.product[DictEntry].schema.map(_.copy(nullable = true)))

  /** Post-wave finalize: the dictionary (term → global df, cf), then
    * corpus_stats (one row, written in-process), then the finalize
    * manifest as the commit point. Returns n_terms.
    *
    * Every segment's postings are term-sorted, so the dictionary is a
    * merge inside term ranges, not a shuffle: `max(1, p/4)` ranges are
    * cut on the driver, with no job, from the postings row groups'
    * least terms (the cached footers), and ONE job of one task per
    * range reads, in-process, the `term`, `n_docs` and `block_cf`
    * columns of every segment's row groups that meet its range, sums
    * them per term — df = Σ n_docs, cf = Σ block_cf over the term's
    * blocks — and emits its terms in order. Dictionary file i is range
    * i: files are term-sorted and their ranges disjoint, in 128 KiB row
    * groups, so a reader's term lookup decodes a few row groups. */
  private def finalizeStats(spark: SparkSession, cfg: BuildConfig,
                            nDocs: Long, avgdl: Double, nSegEff: Int): Long = {
    val t0 = System.currentTimeMillis()
    val p = sortPartitions(spark, cfg)
    // an all-empty-text corpus leaves only empty segment=N dirs: no
    // files, one empty range, one empty dictionary file
    val files = if (nSegEff == 0) Seq.empty[String]
      else LocalParquet.partitions(Paths.get(postingsDir(cfg.outDir)), "segment")
        .flatMap { case (_, d) => LocalParquet.files(d).map(_.toString) }
    val ranges = termRanges(files, math.max(1, p / 4))

    // dictionary file i is range i, written by range task i, which
    // returns its row count: n_terms is their sum
    val nTerms = writeAtomic(cfg.outDir, "dictionary") { tmp =>
      val dir = tmp.toString
      spark.sparkContext.runJob(spark.sparkContext.parallelize(ranges.zipWithIndex, ranges.size),
        (it: Iterator[((Option[String], Option[String]), Int)]) => it.map { case ((lo, hi), i) =>
          LocalParquet.write(LocalParquet.part(Paths.get(dir), i), DictionarySchema, mergeRange(files, lo, hi),
            TermRowGroupBytes, DictionaryPageRows)
        }.sum).sum
    }

    // one row already in hand: written in-process, with no Spark job
    writeAtomic(cfg.outDir, "corpus_stats") { tmp =>
      LocalParquet.write(LocalParquet.part(tmp, 0), CorpusStatsSchema, Iterator.single(new GenericInternalRow(
        Array[Any](nDocs, avgdl, nTerms, IndexFormat.Version, Tokenizer.Version, UTF8String.fromString(cfg.analyzer.id)))))
    }
    Manifest.writeAtomic(Manifest.finalizePath(manifestDir(cfg.outDir)), Map(
      "status" -> Manifest.Complete,
      "n_terms" -> nTerms.toString,
      "wall_ms" -> (System.currentTimeMillis() - t0).toString))
    nTerms
  }

  /** At most `k` consecutive term ranges `[lo, hi)` covering every
    * term (an absent end is open), cut so each holds about the same
    * number of postings rows: the split terms are row-group least terms
    * of `files`, taken at equal steps of the row count in term order. */
  private[index] def termRanges(files: Seq[String], k: Int): Seq[(Option[String], Option[String])] = {
    if (k <= 1) return Seq((None, None))
    val groups = files.flatMap(f => LocalParquet.termRowGroups(Paths.get(f)))
      .map { case (t, n) => (UTF8String.fromString(t), n) }
      .sortBy(_._1)
    val total = groups.map(_._2).sum
    val cuts = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var acc = 0L
    var next = 1
    groups.foreach { case (t, n) =>
      // a row group whose rows start at or past the next step opens a
      // range; equal or first terms open none (the range would be empty)
      if (next < k && acc * k >= next * total && t.compareTo(groups.head._1) > 0 &&
          cuts.lastOption.forall(_.compareTo(t) < 0)) {
        cuts += t
        while (next < k && acc * k >= next * total) next += 1
      }
      acc += n
    }
    val bounds = cuts.map(_.toString).toSeq
    (None +: bounds.map(Some(_))).zip(bounds.map(Some(_)) :+ None)
  }

  /** The dictionary rows of the terms in `[lo, hi)`, in term order: the
    * `term`, `n_docs` and `block_cf` columns of each file's rows in the
    * range, summed per term. */
  private def mergeRange(files: Seq[String], lo: Option[String],
                         hi: Option[String]): Iterator[InternalRow] = {
    val sums = new java.util.HashMap[String, Array[Long]]()
    val filter = Some(LocalParquet.TermFilter.range(lo, hi))
    val without = PostingSchema.fieldNames.toSet -- Set("term", "n_docs", "block_cf")
    files.foreach { f =>
      LocalParquet.rows(Paths.get(f), filter, without)(r =>
        (r[String]("term"), r[Int]("n_docs"), r[Long]("block_cf"))).foreach { case (t, n, cf) =>
        val a = sums.computeIfAbsent(t, _ => new Array[Long](2))
        a(0) += n; a(1) += cf
      }
    }
    sums.asScala.toArray
      .map { case (t, a) => (UTF8String.fromString(t), a) }
      .sortBy(_._1).iterator.map { case (t, a) =>
        new GenericInternalRow(Array[Any](t, a(0), a(1)))
      }
  }

  private[index] def timedMs[T](f: => T): (T, Long) = {
    val t = System.currentTimeMillis(); val r = f
    (r, System.currentTimeMillis() - t)
  }

  /** Build + atomically publish one wave of segments. `attemptOf` maps
    * a segment to its attempt ordinal (prior recorded failures + 1),
    * recorded in the ledger row. */
  private def buildWave(spark: SparkSession, cfg: BuildConfig,
                        wave: Seq[Int], attemptOf: Int => Int): Unit = {
    val t0 = System.currentTimeMillis()
    val sources = Staging.sources(cfg.outDir, wave)
    val waveTmp = Paths.get(cfg.outDir, "_tmp_wave")
    Manifest.deleteRecursively(waveTmp)

    // One job of one task per segment, no shuffle ([[writePostings]]);
    // each task returns its segment's lineage counters
    val dir = waveTmp.toString
    val counts = spark.sparkContext.runJob(spark.sparkContext.parallelize(sources, sources.size),
      (it: Iterator[SegmentSource]) => it.map(writePostings(_, Paths.get(dir), cfg)).toVector).flatten.toMap

    // atomic per-segment data publish, then ONE ledger append as the
    // wave's commit point: a kill mid-publish leaves no ledger rows, so
    // the whole wave re-plans and the idempotent overwrites make the
    // replay safe. The ledger is a table (one JSONL file per wave) —
    // rerun planning reads waves-count files, never a directory of
    // 2^20 per-segment manifests.
    val wallMs = System.currentTimeMillis() - t0
    wave.foreach { seg =>
      val src = waveTmp.resolve(s"segment=$seg")
      val dest = Paths.get(postingsDir(cfg.outDir), s"segment=$seg")
      if (Files.exists(src)) Manifest.publishDir(src, dest)
      else {
        // segment with no postings. A STALE re-plan can legitimately
        // rebuild a previously-populated segment down to zero postings
        // (a delta deleted or blanked every doc in it) — the old
        // parquet files must not survive to serve ghost postings.
        Manifest.deleteRecursively(dest)
        Files.createDirectories(dest)
      }
    }
    Manifest.appendLedger(manifestDir(cfg.outDir), wave.map { seg => Map(
      "segment" -> seg.toString,
      "status" -> Manifest.Complete,
      "turns_read" -> counts.get(seg).fold(0L)(_._1).toString,
      "tokens_emitted" -> counts.get(seg).fold(0L)(_._2).toString,
      "postings_written" -> counts.get(seg).fold(0L)(_._3).toString,
      "attempts" -> attemptOf(seg).toString,
      "snapshot_id" -> t0.toString,
      "wall_ms" -> wallMs.toString)
    })
    Manifest.deleteRecursively(waveTmp)
  }

  /** The postings-file schema: the posting-table columns but `segment`,
    * which the `segment=N` directory name carries. */
  private val SegmentPostingSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(PostingSchema.filterNot(_.name == "segment"))

  /** Bytes a buffered block row stands for beyond its term and arrays. */
  private val BlockRowOverhead = 64

  /** About the bytes a postings row takes on disk besides its term and
    * payload: six integer fields and five length prefixes. */
  private val RowFieldBytes = 40

  /** One segment's Phase B task: reads the segment's doc_id, text (raw
    * UTF-8 bytes) and dl in place, in doc_id order ([[Staging]]), and
    * streams them into [[encodeDocs]]. Tokenization and posting-list
    * construction happen inside the encoder: docIds arrive ascending,
    * so each term's postings are built by APPEND (no sort over tokens at
    * all). The block rows are buffered up to the byte budget
    * `maxBufferedPostings` stands for (16 B a posting), sorted by
    * (term, block_id) — stable, so emission order breaks ties — and
    * written as one term-sorted file of `segment=N` under `dir` in
    * 128 KiB row groups of [[TermPageBytes]] pages, paged by `term`,
    * whose min/max terms let a query's term filter skip whole row groups
    * and the pages inside them; a segment larger than the budget gets
    * several such files. Returns (segment, (turns read, tokens, blocks
    * written)). */
  private def writePostings(src: SegmentSource, dir: Path, cfg: BuildConfig): (Int, (Long, Long, Long)) = {
    val seg = src.segment
    var turns = 0L
    var tokens = 0L
    val without = StagingSchema.fieldNames.toSet -- Set("doc_id", "segment", "text", "dl")
    val docs = src.rows(without)(r => (r[Long]("doc_id"), seg, r[Array[Byte]]("text"), r[Int]("dl"))).map { d =>
      if (cfg.poisonSegments.contains(seg))
        throw new RuntimeException(s"poisoned segment $seg (test hook)")
      turns += 1; tokens += d._4; d
    }
    val blocks = encodeDocs(docs, cfg.analyzer, cfg.maxOpenTerms, cfg.maxBufferedPostings, cfg.storePositions)
    val budget = 16 * cfg.maxBufferedPostings
    var files = 0
    var written = 0L
    while (blocks.hasNext) {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(UTF8String, PostingBlockRow)]
      var bytes = 0L
      var payload = 0L
      while (blocks.hasNext && bytes < budget) {
        val b = blocks.next()
        buf += UTF8String.fromString(b.term) -> b
        val n = b.term.length + b.doc_deltas.length + b.tfs.length + b.dls.length + b.positions.length
        bytes += BlockRowOverhead + n
        payload += n
      }
      val (minRows, maxRows) = TermPageRows
      val pageRows = (TermPageBytes * buf.size / (payload + RowFieldBytes * buf.size)).toInt.max(minRows).min(maxRows)
      val rows = buf.sortBy { case (t, b) => (t, b.block_id) }.iterator.map { case (t, b) =>
        new GenericInternalRow(Array[Any](t, b.block_id, b.n_docs, b.max_doc_id, b.block_max_tf, b.block_min_dl,
          b.doc_deltas, b.tfs, b.dls, b.positions, b.block_cf)): InternalRow
      }
      LocalParquet.write(LocalParquet.part(Files.createDirectories(dir.resolve(s"segment=$seg")), files),
        SegmentPostingSchema, rows, TermRowGroupBytes, pageRows, pagedBy = Some("term"))
      files += 1
      written += buf.size
    }
    seg -> ((turns, tokens, written))
  }

  /** Open posting buffer for one term within the current segment.
    * Arrays grow geometrically from 4 slots: Zipfian vocabularies are
    * tail-heavy (most terms have df ≈ 1-2 per segment), so per-term
    * cost stays ~100 B instead of the full-block ~2.2 KB — worst-case
    * task memory is bounded by `maxBufferedPostings`, not
    * vocab × BlockSize. */
  private final class TermBuf {
    var term: String = _
    var blockId = 0
    var ids = new Array[Long](4)
    var tfs = new Array[Int](4)
    var dls = new Array[Int](4)
    // concatenated token positions of the buffered postings (format
    // v3); run boundaries are the tfs — grows independently since a
    // posting contributes tf positions
    var pos = new Array[Int](4)
    var pn = 0
    var n = 0
    def grow(): Unit = {
      val cap = math.min(PostingCodec.BlockSize, ids.length << 1)
      ids = java.util.Arrays.copyOf(ids, cap)
      tfs = java.util.Arrays.copyOf(tfs, cap)
      dls = java.util.Arrays.copyOf(dls, cap)
    }
    def addPos(p: Int): Unit = {
      if (pn == pos.length) pos = java.util.Arrays.copyOf(pos, pos.length << 1)
      pos(pn) = p; pn += 1
    }
  }

  /** Open-addressing term → [[TermBuf]] table for one segment, probed
    * by token CONTENT (the run's byte range + a String-compatible folded
    * hash): the String per token OCCURRENCE the previous per-doc
    * HashMap path paid — ~10⁹ transient strings per bench build, the
    * top allocation site of the encode profile — now happens once per
    * DISTINCT term per segment, at insertion. Linear probing at ≤ 0.5
    * load; the key lives in `TermBuf.term`. */
  private final class TermTable {
    private var tab = new Array[TermBuf](1 << 12)
    var size = 0
    @inline private def spread(h: Int): Int = h ^ (h >>> 16)
    private def growTable(): Unit = {
      val old = tab
      tab = new Array[TermBuf](old.length << 1)
      val mask = tab.length - 1
      var i = 0
      while (i < old.length) {
        val b = old(i)
        if (b != null) {
          var j = spread(b.term.hashCode) & mask
          while (tab(j) != null) j = (j + 1) & mask
          tab(j) = b
        }
        i += 1
      }
    }
    /** Probe by the cursor's current run. */
    def probe(r: Tokenizer.Runs): TermBuf = {
      if ((size + 1) * 2 > tab.length) growTable()
      val mask = tab.length - 1
      var j = spread(r.hash) & mask
      while (true) {
        val b = tab(j)
        if (b == null) {
          val nb = new TermBuf
          nb.term = r.term
          tab(j) = nb; size += 1
          return nb
        }
        if (r.termEquals(b.term)) return b
        j = (j + 1) & mask
      }
      throw new IllegalStateException("unreachable")
    }
    /** Probe by an already-materialized term string (non-V1 chains). */
    def probeString(t: String): TermBuf = {
      if ((size + 1) * 2 > tab.length) growTable()
      val mask = tab.length - 1
      var j = spread(t.hashCode) & mask
      while (true) {
        val b = tab(j)
        if (b == null) {
          val nb = new TermBuf
          nb.term = t
          tab(j) = nb; size += 1
          return nb
        }
        if (b.term == t) return b
        j = (j + 1) & mask
      }
      throw new IllegalStateException("unreachable")
    }
    /** Non-empty buffers in sorted term order (flush determinism). */
    def drainSorted: Iterator[TermBuf] = {
      val out = new scala.collection.mutable.ArrayBuffer[TermBuf](size)
      var i = 0
      while (i < tab.length) {
        val b = tab(i)
        if (b != null && b.n > 0) out += b
        i += 1
      }
      out.sortInPlaceBy(_.term).iterator
    }
  }

  /**
   * Streaming posting-list builder over DOC rows sorted by
   * (segment, doc_id): tokenizes each doc and APPENDS to per-term
   * buffers — docIds arrive ascending within a segment, so posting
   * lists are sorted by construction with no token-level sort or
   * shuffle. A term's block is emitted the moment it reaches
   * [[PostingCodec.BlockSize]] postings; partial tail blocks flush at
   * each segment boundary in sorted term order (determinism).
   *
   * Memory: HARD-BOUNDED. Open buffers are O(per-segment vocabulary)
   * in the common case (`nSegments` sizes them cache-resident; Heaps'
   * law: vocab grows ~√tokens per segment) and buffers grow
   * geometrically from 4 slots, so a tail term (df ≈ 1-2) costs
   * ~100 B, not a full 2.2 KB block. When a pathological segment
   * exceeds `maxOpenTerms` open terms OR `maxBufferedPostings` raw
   * buffered postings (~16 B each), ALL open buffers flush mid-segment
   * (a Lucene-style memory flush): posting lists stay docId-sorted
   * because block doc ranges remain disjoint and increasing — readers
   * order blocks by max_doc_id — at the cost of under-full tail blocks
   * per flush. Worst-case encoder memory ≈ maxBufferedPostings × 16 B
   * (default ~64 MB) regardless of corpus or vocabulary shape; the
   * Phase B task that drains it buffers at most the same byte budget
   * of emitted block rows before it writes them ([[writePostings]]).
   */
  private[index] def encodeDocs(docs: Iterator[(Long, Int, Array[Byte], Int)],
                                az: Analyzer = Analyzer.V1,
                                maxOpenTerms: Int = 1 << 19,
                                maxBufferedPostings: Long = 1L << 22,
                                storePositions: Boolean = true): Iterator[PostingBlockRow] =
    new Iterator[PostingBlockRow] {
      // default (V1) chain: tokenize INLINE, streaming each occurrence
      // straight into the term table — no per-doc term→positions map,
      // no string per occurrence (see [[TermTable]]). Non-V1 chains
      // (stop/stem rewrite tokens) keep the analyzer-map path.
      private val inlineV1 = az.id == Analyzer.V1.id
      private var table = new TermTable
      private var nBuffered = 0L
      private var nBufferedPos = 0L
      private var curSeg = Int.MinValue
      private var pending: (Long, Int, Array[Byte], Int) = _
      private var segFlush: Iterator[PostingBlockRow] = Iterator.empty
      private val ready = new java.util.ArrayDeque[PostingBlockRow]()

      private def encodeBlock(term: String, seg: Int, b: TermBuf): PostingBlockRow = {
        // storePositions=false buffers no positions → empty column
        val row = PostingCodec.encodeBlock(term, seg, b.blockId, b.n, b.ids, b.tfs, b.dls, b.pos, b.pn)
        b.blockId += 1
        b.n = 0
        b.pn = 0
        row
      }

      /** Lazily drain a finished segment's partial blocks in sorted
        * term order; the iterator owns the old table, `table` is
        * replaced so the next segment starts fresh. */
      private def startSegFlush(seg: Int): Unit = {
        val old = table
        table = new TermTable
        nBuffered = 0L
        nBufferedPos = 0L
        if (old.size == 0) { segFlush = Iterator.empty; return }
        segFlush = old.drainSorted.map(b => encodeBlock(b.term, seg, b))
      }

      /** Open a new posting in `b` (flushing a full block first — a
        * block is emitted when the NEXT posting arrives rather than
        * the moment it fills; block contents are identical and the
        * Phase B task's (term, block_id) sort fixes row order). */
      private def openPosting(b: TermBuf, docId: Long, dl: Int, seg: Int): Unit = {
        if (b.n == PostingCodec.BlockSize) {
          nBuffered -= b.n; nBufferedPos -= b.pn
          ready.addLast(encodeBlock(b.term, seg, b))
        }
        if (b.n == b.ids.length) b.grow()
        b.ids(b.n) = docId; b.tfs(b.n) = 1; b.dls(b.n) = dl; b.n += 1
        nBuffered += 1
      }

      /** Whole-posting append for the analyzer-map (non-V1) path. */
      private def addWhole(b: TermBuf, tf: Int, posBuf: graft.analysis.Tokenizer.IntBuf,
                           docId: Long, dl: Int, seg: Int): Unit = {
        openPosting(b, docId, dl, seg)
        b.tfs(b.n - 1) = tf
        if (posBuf != null) {
          var j = 0
          while (j < tf) { b.addPos(posBuf.a(j)); j += 1 }
          nBufferedPos += tf
        }
      }

      private def process(row: (Long, Int, Array[Byte], Int)): Unit = {
        val (docId, seg, text, dl) = row
        if (inlineV1) {
          // stream each occurrence of the UTF-8 bytes' runs into the
          // table. Positions are indices in the analyzed stream,
          // ascending per doc by construction.
          if (text != null) {
            val r = new Tokenizer.Runs(text)
            var p = 0
            while (r.next()) {
              val b = table.probe(r)
              if (b.n > 0 && b.ids(b.n - 1) == docId) b.tfs(b.n - 1) += 1
              else openPosting(b, docId, dl, seg)
              if (storePositions) { b.addPos(p); nBufferedPos += 1 }
              p += 1
            }
          }
        } else {
          val s = if (text == null) null else new String(text, StandardCharsets.UTF_8)
          if (storePositions) az.termPositions(s).foreach { case (t, pb) =>
            addWhole(table.probeString(t), pb.n, pb, docId, dl, seg) }
          else az.termFreqs(s).foreach { case (t, tf) =>
            addWhole(table.probeString(t), tf, null, docId, dl, seg) }
        }
        // memory cap: pathological vocabulary (open-term count) OR raw
        // buffered-posting volume → flush every open buffer now (doc
        // boundary keeps block doc ranges disjoint). The posting-volume
        // trigger hard-bounds task memory (~16 B/posting + 4 B/buffered
        // position — the position cap is 4x the posting cap, so both
        // budgets top out around the same byte volume) even when a few
        // hot terms hold near-full blocks across a huge vocab.
        if (table.size >= maxOpenTerms || nBuffered >= maxBufferedPostings ||
            nBufferedPos >= 4L * maxBufferedPostings)
          startSegFlush(seg)
      }

      private def advance(): Unit = {
        while (ready.isEmpty && !segFlush.hasNext && (pending != null || docs.hasNext)) {
          val row = if (pending != null) { val x = pending; pending = null; x }
                    else docs.next()
          if (row._2 != curSeg && curSeg != Int.MinValue && table.size > 0) {
            pending = row // replay after the finished segment drains
            val finished = curSeg
            curSeg = row._2
            startSegFlush(finished)
          } else {
            curSeg = row._2
            process(row)
          }
        }
        if (ready.isEmpty && !segFlush.hasNext && pending == null && !docs.hasNext &&
            table.size > 0) {
          startSegFlush(curSeg)
        }
      }

      override def hasNext: Boolean = {
        if (!ready.isEmpty || segFlush.hasNext) return true
        advance()
        !ready.isEmpty || segFlush.hasNext
      }
      override def next(): PostingBlockRow = {
        if (!hasNext) throw new NoSuchElementException
        if (!ready.isEmpty) ready.pollFirst()
        else segFlush.next()
      }
    }

  /** Publishes the table `name` of `outDir` that `write` writes into an
    * empty directory aside, and returns what `write` returns. */
  private def writeAtomic[T](outDir: String, name: String)(write: Path => T): T = {
    val tmp = Paths.get(outDir, s"_tmp_$name")
    Manifest.deleteRecursively(tmp)
    Files.createDirectories(tmp)
    val out = write(tmp)
    Manifest.publishDir(tmp, Paths.get(outDir, name))
    out
  }

  /** Ingestion-equality invariant (input_hint): per-turn text equality
    * between the indexed staging copy and the source, under stable
    * (conv_id, turn_idx) identity. Returns the number of violations. */
  def verifyIngestion(spark: SparkSession, outDir: String, source: Dataset[Turn]): Long = {
    val staged = readDocs(spark, outDir)
      .select(col("conv_id"), col("turn_idx"), col("text").as("staged_text"))
    source.select(col("conv_id"), col("turn_idx"), col("text"))
      .join(staged, Seq("conv_id", "turn_idx"), "full_outer")
      .filter(col("text").isNull || col("staged_text").isNull ||
        col("text") =!= col("staged_text"))
      .count()
  }
}
