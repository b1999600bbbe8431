package graft.index

import graft.analysis.Analyzer
import graft.model.Turn
import graft.store.{LocalParquet, Manifest}
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Paths}
import scala.reflect.ClassTag

/**
 * Incremental (delta) index maintenance — the reference's reason to
 * exist: reindex ONLY what changed (`ScannerImpl.java:380-417`
 * hash-based change detection; `model/Document.java:236-240`
 * NEW/UPDATE/DELETE statuses), instead of rebuilding a 10^12-turn
 * index because one conversation gained a turn.
 *
 * == Semantics ==
 * Document identity is (conv_id, turn_idx); content identity is
 * xxhash64(role, text, tool), stored per row in staging. Against the
 * current staging view the source diffs into:
 *  - UNCHANGED (same key, same hash) → untouched; docID kept
 *  - UPDATED   (same key, new hash)  → docID + segment kept; text/dl refreshed
 *  - DELETED   (key gone)            → row dropped; docID retired (a gap)
 *  - NEW       (key appeared)        → dense docIDs from maxDocId+1 in
 *                                      (conv_id, turn_idx) order → tail segments
 * Existing docIDs are never reassigned (stable across updates); the
 * dense-rank property holds for the initial build and within each
 * appended batch. Touched segments = segments of UPDATED/DELETED rows
 * plus the tail segments NEW rows land in.
 *
 * == Mechanics ==
 * Two front ends hand records to one apply step ([[applyEdits]]):
 * [[delta]] diffs a whole source against staging into a change set —
 * the doc_ids leaving the touched segments and the staging rows
 * entering them, merged into each segment's rows view < upsert <
 * delete per doc_id ([[merge]]) — and [[atomicSet]] routes a keyed
 * patch, unresolved, to the segments whose key ranges hold its keys
 * ([[route]]), where each segment's task resolves it against the rows
 * it streams ([[patched]]: UPDATED rows only). The apply decides
 * before it writes, from the candidate segments (those the records
 * reach): their replacement rows are written as per-segment OVERLAY
 * dirs (base staging stays immutable), unless overlays would then
 * cover more than `autoCompactFraction` of the segments — then the
 * edited view is written once as a new base ([[writeBase]], sharing
 * its write with [[compact]]) and no compaction follows. Either write
 * is one Spark job over segment tasks: a shuffle of one partition per
 * segment brings each task its records (O(patch) rows), and the task
 * reads the segment's current rows in place ([[Staging]]: its overlay,
 * else the base files whose segment statistics meet it) in doc_id
 * order, edits them, writes the result itself ([[Staging.write]]) and
 * returns its per-segment stats and its count of changed rows as its
 * task result. No scan, join, window or sort of the view runs, and no
 * Spark write job. Only then, and only if a row changed, does the
 * index change: the finalize manifest goes, STALE ledger rows re-plan
 * exactly the changed segments for Phase B, and their staging
 * publishes; the phase A manifest is refreshed from the per-segment
 * stats each staging write publishes with its rows ([[SegStats]]),
 * read in-process. Every step is idempotent: a crash anywhere replays
 * the records against the current view and converges — what was
 * written aside is discarded by the rerun, a replayed change over
 * already-published staging changes nothing, and already-appended
 * STALE rows drive the remaining rebuilds.
 *
 * Untouched segments' postings are never rewritten — byte-identical
 * across updates (IncrementalSpec) — and remain score-correct under
 * the shifted corpus avgdl because block-max metadata is
 * avgdl-independent (index format v2).
 *
 * Contract: (conv_id, turn_idx) is UNIQUE in the source (the
 * reference's document-id uniqueness); duplicate keys make the diff
 * join fan out and are undefined behavior, exactly as they are for
 * the initial build's rank-based docIDs. Cost shape: a [[delta]]
 * scans the source up to three times (hash diff; updated-row fetch;
 * new-row fetch) but only ids + 8-byte hashes ever cross a shuffle —
 * re-scanning columnar source beats shipping the text column through
 * an exchange at any scale. An [[atomicSet]] reads no source and
 * plans no SQL join: it shuffles the patch to its candidate segments
 * and reads their rows in place (or, for a base write, every
 * segment's), in two jobs — one that learns the candidates from the
 * routed keys, then the apply.
 */
object Incremental {

  /** Atomic document updates (the Solr atomic-update verb
    * `{"id": …, "field": {"set": v}}`): field-level patches keyed by
    * (conv_id, turn_idx). `sets` carries the key columns plus any
    * subset of the updatable payload columns (text / role / tool);
    * absent columns and NULL values keep the current value (Solr's
    * partial-document semantics), and patches to keys absent from the
    * index drop.
    *
    * The patch resolves inside the segment tasks of the apply
    * ([[applyChanges]]): its rows are routed to the segments whose key
    * ranges hold their keys ([[route]]), and each such segment's task
    * merges its rows per key, sets the fields on the stored rows it
    * streams ([[patched]]) and writes the segment. Phase B and finalize
    * then run as in a build ([[IndexBuilder.finishBuild]]). Only
    * segments holding a changed document get published and rebuilt,
    * and scores stay bit-equal to a full rebuild over the patched
    * corpus. A patch never adds a document, and it pays no source-side
    * hash, diff or id assignment, and no Spark SQL join or scan of
    * staging. A patch that changes nothing publishes nothing and
    * rebuilds nothing. Its Spark jobs are described `graft:atomicSet`. */
  def atomicSet(spark: SparkSession, cfg: BuildConfig,
                sets: DataFrame): BuildReport =
    IndexBuilder.inBuildSession(spark, "atomicSet", sets) { (bs, patch) =>
      val t0 = System.currentTimeMillis()
      recoverCompact(cfg.outDir)
      val prior = Manifest.read(Manifest.phaseAPath(IndexBuilder.manifestDir(cfg.outDir)))
        .filter(IndexBuilder.compatible(cfg, _))
        .getOrElse(throw new IllegalStateException(
          s"atomicSet needs an index built with this config at ${cfg.outDir}"))
      val provided = PatchFields.filter(patch.columns.contains)
      require(provided.nonEmpty,
        "sets must provide at least one updatable column (text/role/tool)")
      val rows = patch.select(col("conv_id").cast("string") +: col("turn_idx").cast("int") +:
        PatchFields.map(c => (if (provided.contains(c)) col(c) else lit(null)).cast("string")): _*)
        .queryExecution.toRdd
      val nSegments = prior("n_segments_effective").toInt
      val ((routed, candidates), resolveMs) = IndexBuilder.timedMs(route(bs, cfg.outDir, nSegments, rows))
      val az = cfg.analyzer
      IndexBuilder.finishBuild(bs, cfg, t0, applyEdits[InternalRow](bs, cfg, t0, prior, candidates, routed,
        (view, sets, changed) => patched(view, sets, az, changed), None, resolveMs))
    }

  /** The patchable fields, in staging order (role, text, tool); a patch
    * row is its key (conv_id, turn_idx) and then these. */
  private val PatchFields = Seq("role", "text", "tool")

  /** Which segments' key ranges hold a key: the ranges sorted by their
    * least key, with the greatest key of each prefix, so a lookup
    * walks back from the last range starting at or before the key
    * only while some range behind it may still reach it. Disjoint
    * ranges (one build batch) cost a binary search. */
  private[index] final class KeyRouter(ranges: Map[Int, KeyRange]) extends Serializable {
    private val sorted = ranges.toArray.sortBy(_._2.lo)
    private val reach = sorted.map(_._2.hi).scanLeft(null: DocKey)((m, h) => if (m == null || h > m) h else m).tail

    def segmentsOf(k: DocKey): Seq[Int] = {
      var lo = 0
      var hi = sorted.length // first range starting after k
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid)._2.lo <= k) lo = mid + 1 else hi = mid
      }
      var i = lo - 1
      var out = List.empty[Int]
      while (i >= 0 && reach(i) >= k) {
        if (sorted(i)._2.hi >= k) out = sorted(i)._1 :: out
        i -= 1
      }
      out
    }
  }

  /** The patch `rows` (key, then [[PatchFields]]) sent to every segment
    * whose key range ([[SegStats]], read in-process) holds their key,
    * through a shuffle of one partition per segment of `nSegments`;
    * keys outside every range, and null keys, drop. Returns the routed
    * rows and the segments that received any — the candidates, which
    * decide overlay or new base before the apply is planned. They are
    * the routed keys read back by one task; the apply's job then reuses
    * the shuffle's output and does not route again. */
  private def route(spark: SparkSession, outDir: String, nSegments: Int,
                    rows: RDD[InternalRow]): (RDD[(Int, InternalRow)], Set[Int]) = {
    val ranges = SegStats.view(outDir).collect { case (s, SegStat(_, _, _, _, Some(r))) => s -> r }
    if (ranges.isEmpty) return (spark.sparkContext.emptyRDD, Set.empty)
    val router = new KeyRouter(ranges)
    val routed = rows.mapPartitions(_.flatMap { r =>
      val to = if (r.isNullAt(0) || r.isNullAt(1)) Nil else router.segmentsOf(DocKey(r.getUTF8String(0), r.getInt(1)))
      if (to.isEmpty) Nil else { val c = r.copy(); to.map(_ -> c) }
    }).partitionBy(new HashPartitioner(nSegments))
    val all = routed.coalesce(1, shuffle = false, Some(new Runs(Seq(0 until nSegments))))
    (routed, spark.sparkContext.runJob(all, (it: Iterator[(Int, InternalRow)]) => it.map(_._1).toSet).head)
  }

  /** `view` (one segment's staging rows in doc_id order) with `sets`
    * (the patch rows routed to the segment) applied. Patches to one key
    * merge field by field first, as Solr merges atomic updates: the
    * greatest value per field in UTF-8 byte order (Spark's `max` on
    * strings), nulls skipped, so patches that set different fields all
    * survive, and two that set the same field keep the greater one (a
    * patch batch carries no arrival order, so the pick just has to be
    * deterministic). A stored row whose key is patched gets the set
    * fields; if its content hash moves (or it has none, as staging
    * written before the hash column reads back), it is rebuilt with dl
    * and src_hash recomputed ([[IndexBuilder.stagingRow]]) — doc_id and
    * segment kept — and counted in `changed`. */
  private[index] def patched(view: Iterator[InternalRow], sets: Vector[InternalRow], az: Analyzer,
                             changed: Counter): Iterator[InternalRow] = {
    if (sets.isEmpty) return view
    val byKey = new java.util.HashMap[DocKey, Array[UTF8String]]()
    sets.foreach { r =>
      val f = byKey.computeIfAbsent(DocKey(r.getUTF8String(0), r.getInt(1)), _ => new Array[UTF8String](3))
      for (i <- 0 until 3 if !r.isNullAt(2 + i)) {
        val v = r.getUTF8String(2 + i)
        if (f(i) == null || v.binaryCompare(f(i)) > 0) f(i) = v
      }
    }
    view.map { r =>
      val set = byKey.get(DocKey(r.getUTF8String(2), r.getInt(3)))
      if (set == null) r
      else {
        // staging ordinals 4-6 are role, text, tool
        def field(i: Int) = if (set(i - 4) != null) set(i - 4) else if (r.isNullAt(i)) null else r.getUTF8String(i)
        val (role, text, tool) = (field(4), field(5), field(6))
        if (!r.isNullAt(8) && r.getLong(8) == RowHash.contentHashRaw(role, text, tool)) r
        else {
          changed.n += 1
          IndexBuilder.stagingRow(az, r.getLong(0), r.getInt(1), r.getUTF8String(2), r.getInt(3), role, text, tool)
        }
      }
    }
  }

  /** Diff + overlay + re-plan. Returns (nDocs, avgdl, segSize,
    * nSegEff) for the UPDATED corpus; Phase B (driven by the caller)
    * then rebuilds the STALE segments. */
  def delta(spark: SparkSession, turns: Dataset[Turn], cfg: BuildConfig,
            srcHash: String): (Long, Double, Long, Int) = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val m = Manifest.read(Manifest.phaseAPath(IndexBuilder.manifestDir(cfg.outDir))).get
    val segSize = m("seg_size").toLong
    val az = cfg.analyzer

    val view = IndexBuilder.readDocs(spark, cfg.outDir)

    // ---- diff: keys + hashes only; unchanged rows never leave the join ----
    val srcKeys = turns.toDF().select(col("conv_id"), col("turn_idx"),
      xxhash64(col("role"), col("text"), col("tool")).as("h"))
    val priKeys = view.select(col("conv_id"), col("turn_idx"),
      col("doc_id"), col("segment"), col("src_hash"))
    val deltaRows = srcKeys.join(priKeys, Seq("conv_id", "turn_idx"), "full_outer")
      .filter(col("h").isNull || col("src_hash").isNull || col("h") =!= col("src_hash"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val changedSegs: Set[Int] = deltaRows.filter(col("segment").isNotNull)
        .select(col("segment")).distinct().as[Int].collect().toSet

      // ---- NEW docs: dense ids from maxDocId+1, same 2-pass trick as
      // phase A, over the (small) appended batch only ----
      val maxId = SegStats.total(cfg.outDir).maxDocId
      // classification is by KEY PRESENCE (doc_id/h null-ness), never by
      // src_hash nullability: staging written before the hash column
      // existed reads back with src_hash = null, which must degrade to
      // "every matched doc is updated" — not "every doc is new"
      val freshKeys = deltaRows.filter(col("doc_id").isNull)
        .select(col("conv_id"), col("turn_idx"))
      val p = IndexBuilder.sortPartitions(spark, cfg)
      val (sortedFresh, offsets, nFresh) = IndexBuilder.sortAndOffsets(spark,
        turns.toDF()
          .join(freshKeys, Seq("conv_id", "turn_idx"), "left_semi")
          .as[Turn],
        p)
      // each sorted partition's ids start at its own offset: the index
      // of mapPartitionsWithIndex is the sorted RDD's partition, also
      // inside the union below
      val freshRows: RDD[InternalRow] =
        if (nFresh == 0) spark.sparkContext.emptyRDD
        else sortedFresh.mapPartitionsWithIndex((pid, it) =>
          IndexBuilder.stagingRows(it, maxId + 1 + offsets(pid), segSize, az))
      val freshSegs: Set[Int] =
        if (nFresh == 0) Set.empty
        else (((maxId + 1) / segSize).toInt to ((maxId + nFresh) / segSize).toInt).toSet

      // updated versions and appended docs are upserted; deleted docs
      // leave
      val deletes = deltaRows.filter(col("h").isNull)
        .select(col("segment"), col("doc_id")).as[(Int, Long)].rdd
      val updatedKeys = deltaRows
        .filter(col("h").isNotNull && col("doc_id").isNotNull)
        .select(col("conv_id"), col("turn_idx"), col("doc_id"), col("segment"))
      val upserts = turns.toDF().join(updatedKeys, Seq("conv_id", "turn_idx"))
        .select(col("doc_id"), col("segment"), col("conv_id"), col("turn_idx"),
          col("role"), col("text"), col("tool"))
        .queryExecution.toRdd.map { r =>
          def u8(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i)
          IndexBuilder.stagingRow(az, r.getLong(0), r.getInt(1), r.getUTF8String(2), r.getInt(3), u8(4), u8(5), u8(6))
        }.union(freshRows)
      applyChanges(spark, cfg, t0, m, changedSegs ++ freshSegs, upserts, deletes,
        Some(srcHash), System.currentTimeMillis() - t0)
    } finally deltaRows.unpersist()
  }

  /** Applies a change set to the index on disk — `upserts` (staging
    * rows) replace the view rows with their doc_id or join their
    * segment, `deletes` (segment, doc_id) leave — through
    * [[applyEdits]], each `touched` segment's task merging its changes
    * into its rows ([[merge]]). The content hash is `srcHash` when the
    * caller has it, else the stats' xor; `resolveMs` is the time spent
    * building the change set. Returns (nDocs, avgdl, segSize, nSegEff)
    * of the updated corpus. */
  private[index] def applyChanges(spark: SparkSession, cfg: BuildConfig, t0: Long,
                                  prior: Map[String, String], touched: Set[Int],
                                  upserts: RDD[InternalRow], deletes: RDD[(Int, Long)],
                                  srcHash: Option[String], resolveMs: Long): (Long, Double, Long, Int) = {
    val changes = upserts.map(r => r.getInt(SegmentOrdinal) -> Change(r.getLong(0), Upsert, r.copy()))
      .union(deletes.map { case (seg, id) => seg -> Change(id, Delete, null) })
    applyEdits[Change](spark, cfg, t0, prior, touched, changes, (view, cs, changed) => {
      changed.n += cs.size
      merge(view, cs)
    }, srcHash, resolveMs)
  }

  /** The rows a segment task's edit changed. */
  private[index] final class Counter { var n = 0L }

  /** A segment task's edit: one segment's view rows (in doc_id order)
    * and the records routed to it, to its new rows in doc_id order,
    * each changed row counted. */
  private[index] type Edit[T] = (Iterator[InternalRow], Vector[T], Counter) => Iterator[InternalRow]

  /** Applies records routed to `candidates` (keyed by segment) to the
    * index on disk, each candidate segment's task editing its rows with
    * them ([[writeChanged]]), in crash-safe order. The edited staging
    * is written aside first: an overlay per candidate segment, unless
    * the overlaid and candidate segments together exceed
    * `autoCompactFraction` of the segments — then the whole view,
    * edited, as a new base ([[writeBase]]; the overlays fold into it).
    * Then, only if some row changed: the finalize manifest is
    * invalidated, STALE ledger rows re-plan the changed segments, and
    * the changed staging is published ([[invalidate]]); nothing written
    * for an unchanged segment is. Last, the phase A manifest is
    * refreshed from the staging view's per-segment stats ([[SegStats]],
    * read in-process) — unless nothing changed, the caller has no
    * source hash, and it already holds them. The content hash is
    * `srcHash` when the caller has it, else the stats' xor; `resolveMs`
    * and the apply's own time go into the manifest beside `wall_ms`.
    * Returns (nDocs, avgdl, segSize, nSegEff) of the updated corpus. */
  private[index] def applyEdits[T: ClassTag](spark: SparkSession, cfg: BuildConfig, t0: Long,
                                             prior: Map[String, String], candidates: Set[Int],
                                             routed: RDD[(Int, T)], edit: Edit[T],
                                             srcHash: Option[String], resolveMs: Long): (Long, Double, Long, Int) = {
    val tApply = System.currentTimeMillis()
    val outDir = cfg.outDir
    val segSize = prior("seg_size").toLong
    val changed =
      if (candidates.isEmpty) Set.empty[Int]
      else {
        // appended segments only ever extend the tail: the updated
        // corpus's segment count is known before the write
        val nSegAfter = math.max(prior("n_segments_effective").toInt, candidates.max + 1)
        // one shuffle partition per segment (a patch's routed rows are
        // partitioned so already, and are not shuffled again)
        val bySegment = routed.partitionBy(new HashPartitioner(nSegAfter))
        val rebase = cfg.autoCompactFraction > 0 &&
          (IndexBuilder.overlaidSegments(outDir) ++ candidates).size > cfg.autoCompactFraction * nSegAfter
        if (rebase) writeBase(spark, cfg, t0, nSegAfter, bySegment, edit)
        else writeOverlays(spark, outDir, t0, candidates, bySegment, edit)
      }

    // ---- refresh phase A stats from the UPDATED view's per-segment
    // stats. Exact long arithmetic ⇒ avgdl equals what a full rebuild
    // over the same corpus computes, so scores are bit-identical; the
    // content hash equals the one a build over that corpus compares
    // against ----
    val total = SegStats.total(outDir)
    val avgdl = if (total.n == 0) 1.0 else total.dlSum.toDouble / total.n
    val nSegEff = math.max(prior("n_segments_effective").toInt,
      if (total.maxDocId < 0) 0 else (total.maxDocId / segSize).toInt + 1)
    val hash = srcHash.getOrElse(total.hash.toString)
    val current = prior.get("n_docs").contains(total.n.toString) && prior.get("avgdl").contains(avgdl.toString) &&
      prior.get("n_segments_effective").contains(nSegEff.toString) && prior.get("content_hash").contains(hash)
    if (changed.nonEmpty || srcHash.isDefined || !current) {
      val now = System.currentTimeMillis()
      // resolve_ms: a delta's diff, or a patch's routing (its key
      // ranges read in-process and its rows shuffled to the candidate
      // segments); apply_ms: the write and publish after it
      IndexBuilder.writePhaseA(cfg, total.n, avgdl, segSize, nSegEff, hash, Map(
        "delta_of" -> prior.getOrElse("content_hash", ""),
        "segments_touched" -> changed.size.toString,
        "resolve_ms" -> resolveMs.toString,
        "apply_ms" -> (now - tApply).toString,
        "wall_ms" -> (now - t0).toString))
    }
    (total.n, avgdl, segSize, nSegEff)
  }

  /** The first steps of publishing a change: the finalize manifest
    * goes — the dictionary / corpus_stats derived for the pre-change
    * corpus must never survive a crash that lands after the waves but
    * before finalizeStats reruns (pending would be empty on resume and
    * the stale COMPLETE finalize manifest would skip the rebuild) —
    * then STALE rows re-plan the `changed` segments: if the process
    * dies before the staging publishes, they rebuild from whatever view
    * exists (an idempotent overwrite), and the rerun applies the change
    * again. */
  private def invalidate(outDir: String, changed: Set[Int], t0: Long): Unit = {
    val mdir = IndexBuilder.manifestDir(outDir)
    Files.deleteIfExists(Manifest.finalizePath(mdir))
    Manifest.appendLedger(mdir, changed.toSeq.sorted.map(s => Map(
      "segment" -> s.toString,
      "status" -> Manifest.Stale,
      "snapshot_id" -> t0.toString)))
  }

  private val SegmentOrdinal = IndexBuilder.StagingSchema.fieldIndex("segment")

  /** One change to a segment's rows: an upsert of `row` or a delete,
    * of the view row with `docId`. */
  private[index] case class Change(docId: Long, op: Int, row: InternalRow)

  /** The ops of a [[Change]], in precedence order: of a doc_id's view
    * row, upsert and delete, the greatest op wins. */
  private[index] val Upsert = 1
  private[index] val Delete = 2

  /** `view` (one segment's staging rows in doc_id order) with `changes`
    * applied: per doc_id, the view row is replaced by its upsert and
    * dropped by its delete, a delete wins over an upsert, and an upsert
    * with no view row joins in doc_id order. */
  private[index] def merge(view: Iterator[InternalRow], changes: Seq[Change]): Iterator[InternalRow] = {
    val cs = changes.sortBy(c => (c.docId, c.op)).toArray
    val vs = view.buffered
    var i = 0
    new Iterator[InternalRow] {
      private var nextRow: InternalRow = _
      private def fill(): Unit =
        while (nextRow == null && (vs.hasNext || i < cs.length)) {
          val v = if (vs.hasNext) vs.head.getLong(0) else Long.MaxValue
          if (i < cs.length && cs(i).docId <= v) {
            val id = cs(i).docId
            while (i + 1 < cs.length && cs(i + 1).docId == id) i += 1
            val last = cs(i)
            i += 1
            if (v == id) vs.next()
            if (last.op == Upsert) nextRow = last.row
          } else nextRow = vs.next()
        }
      def hasNext: Boolean = { fill(); nextRow != null }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRow; nextRow = null; r
      }
    }
  }

  /** Task i of a job over a shuffle of one partition per segment reads
    * the partitions of the segments in `groups(i)`. */
  private final class Runs(groups: Seq[Seq[Int]]) extends PartitionCoalescer with Serializable {
    def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = groups.map { g =>
      val pg = new PartitionGroup(None)
      g.foreach(s => pg.partitions += parent.partitions(s))
      pg
    }.toArray
  }

  /** Writes the staging view of `groups` (ascending runs of segments),
    * edited, in one job of one task per group, and returns the
    * per-segment stats of what the tasks wrote and each segment's count
    * of changed rows (segments with none left out). The `routed`
    * records (one shuffle partition per segment) reach their group's
    * task; each task reads its segments' current rows in place
    * ([[Staging]]), edits each segment's rows with its records and
    * hands `write` its group's index and rows, sorted by (segment,
    * doc_id). */
  private def writeChanged[T](spark: SparkSession, outDir: String, groups: Seq[Seq[Int]],
                              routed: RDD[(Int, T)], edit: Edit[T])
                             (write: (Int, Iterator[InternalRow]) => Map[Int, SegStat])
      : (Map[Int, SegStat], Map[Int, Long]) = {
    val source = Staging.sources(outDir, groups.flatten).map(s => s.segment -> s).toMap
    val tasks = spark.sparkContext.parallelize(groups.map(_.map(source)), groups.size)
    val inputs = routed.coalesce(groups.size, shuffle = false, Some(new Runs(groups)))
      .zipPartitions(tasks)((rs, srcs) => Iterator(rs.toVector -> srcs.next()))
    val results = spark.sparkContext.runJob(inputs,
      (ctx: TaskContext, it: Iterator[(Vector[(Int, T)], Seq[SegmentSource])]) => {
        val (records, srcs) = it.next()
        val bySegment = records.groupMap(_._1)(_._2)
        val changed = srcs.map(_.segment -> new Counter)
        val rows = srcs.iterator.zip(changed.iterator).flatMap { case (src, (seg, c)) =>
          edit(src.stagingRows, bySegment.getOrElse(seg, Vector.empty), c)
        }
        (write(ctx.partitionId(), rows), changed.collect { case (seg, c) if c.n > 0 => seg -> c.n }.toMap)
      })
    (SegStats.merge(results.map(_._1)), results.flatMap(_._2).toMap)
  }

  /** Writes each of `segments`, edited, as an overlay aside (its rows,
    * in one job of one task per segment; a segment left with no rows
    * gets none), then publishes the changed ones with their `_segstats`
    * ([[invalidate]] first) — an emptied segment's empty overlay masks
    * its base rows — and discards the rest. Returns the changed
    * segments. */
  private def writeOverlays[T](spark: SparkSession, outDir: String, t0: Long, segments: Set[Int],
                               routed: RDD[(Int, T)], edit: Edit[T]): Set[Int] = {
    val tmp = Paths.get(outDir, "_tmp_overlay")
    Manifest.deleteRecursively(tmp)
    val ordered = segments.toVector.sorted
    val dir = tmp.toString
    val (stats, counts) = writeChanged(spark, outDir, ordered.map(Seq(_)), routed, edit) { (i, rows) =>
      if (!rows.hasNext) Map.empty
      else Staging.write(LocalParquet.part(Files.createDirectories(Paths.get(dir, s"segment=${ordered(i)}")), 0),
        rows, overlay = true)
    }
    val changed = counts.keySet
    if (changed.nonEmpty) {
      invalidate(outDir, changed, t0)
      changed.foreach { seg =>
        val src = tmp.resolve(s"segment=$seg")
        SegStats.write(src, Map(seg -> stats.getOrElse(seg, SegStats.Empty)))
        Manifest.publishDir(src, Paths.get(IndexBuilder.overlayDir(outDir), s"segment=$seg"))
      }
    }
    Manifest.deleteRecursively(tmp)
    changed
  }

  private def compactTmp(outDir: String) = Paths.get(outDir, "_tmp_compact")
  private def precompact(outDir: String) = Paths.get(outDir, "_staging", "docs_precompact")

  /** Writes the staging view of segments `[0, nSegments)`, edited, aside
    * as the files of a new base: `p` contiguous segment ranges, one task
    * and one segment-monotone file each, read in place ([[writeChanged]]).
    * Its `_segstats`, the mark [[recoverCompact]] takes for a finished
    * copy, is the caller's to write. */
  private def writeBaseFiles[T](spark: SparkSession, outDir: String, nSegments: Int, p: Int,
                                routed: RDD[(Int, T)], edit: Edit[T]): (Map[Int, SegStat], Map[Int, Long]) = {
    val tmp = compactTmp(outDir)
    Manifest.deleteRecursively(tmp)
    Files.createDirectories(tmp)
    val ranges = (0 until nSegments).grouped(math.max(1, (nSegments + p - 1) / p)).toSeq
    val dir = tmp.toString
    writeChanged(spark, outDir, ranges, routed, edit)((i, rows) =>
      Staging.write(LocalParquet.part(Paths.get(dir), i), rows, overlay = false))
  }

  /** Writes the staging view of segments `[0, nSegments)` aside as a
    * complete new base, `_segstats` last ([[writeBaseFiles]], routing
    * nothing). */
  private[index] def writeBaseAside(spark: SparkSession, outDir: String, nSegments: Int, p: Int): Unit = {
    val nothing = spark.sparkContext.emptyRDD[(Int, Change)].partitionBy(new HashPartitioner(nSegments))
    SegStats.write(compactTmp(outDir), writeBaseFiles[Change](spark, outDir, nSegments, p, nothing, (v, _, _) => v)._1)
  }

  /** Writes the edited view as a new base aside ([[writeBaseFiles]]);
    * if some row changed, [[invalidate]]s, marks the new base complete
    * and swaps it in ([[swapBase]]), else discards it. Returns the
    * changed segments. */
  private def writeBase[T](spark: SparkSession, cfg: BuildConfig, t0: Long, nSegments: Int,
                           routed: RDD[(Int, T)], edit: Edit[T]): Set[Int] = {
    val outDir = cfg.outDir
    val (stats, counts) = writeBaseFiles(spark, outDir, nSegments, IndexBuilder.sortPartitions(spark, cfg),
      routed, edit)
    val changed = counts.keySet
    if (changed.isEmpty) Manifest.deleteRecursively(compactTmp(outDir))
    else {
      invalidate(outDir, changed, t0)
      SegStats.write(compactTmp(outDir), stats)
      swapBase(outDir)
    }
    changed
  }

  /** Replaces the staging base with the complete new base written aside
    * and drops the overlays it folds in. Sequencing: the old base is
    * renamed away, the new one renamed in, then the overlays and the
    * old base are deleted, in that order. A crash anywhere in it is
    * repaired by [[recoverCompact]]. */
  private def swapBase(outDir: String): Unit = {
    val base = Paths.get(IndexBuilder.stagingDir(outDir))
    val old = precompact(outDir)
    Manifest.deleteRecursively(old)
    Files.move(base, old, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.move(compactTmp(outDir), base, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Manifest.deleteRecursively(Paths.get(IndexBuilder.overlayDir(outDir)))
    Manifest.deleteRecursively(old)
  }

  /**
   * Fold accumulated per-segment overlays back into a fresh immutable
   * base staging: the explicit verb for the base write an update makes
   * once its overlays would cover more than `autoCompactFraction` of the
   * segments. Content-preserving — the staging VIEW is identical before
   * and after — so it can run any time between builds. Returns the
   * number of overlays folded. The write is [[writeBaseAside]] and the
   * swap and its crash repair are [[swapBase]]'s; under a real object
   * store the swap becomes a catalog swap.
   */
  def compact(spark: SparkSession, outDir: String): Int = {
    recoverCompact(outDir)
    val over = IndexBuilder.overlaidSegments(outDir)
    if (over.isEmpty) return 0
    writeBaseAside(spark, outDir, SegStats.view(outDir).keys.max + 1, spark.sparkContext.defaultParallelism)
    swapBase(outDir)
    over.size
  }

  /**
   * Repair a crash inside [[swapBase]] (an update's base write or
   * [[compact]]): without it, a crash in the two-rename window leaves
   * `readDocs` broken (base absent) with only `docs_precompact` on
   * disk. Idempotent; every writer ([[compact]], [[atomicSet]],
   * [[IndexBuilder.build]]) runs it first, and so does the missing-base
   * path of [[IndexBuilder.readDocs]]:
   *
   *  - base absent + complete new base (its `_segstats`, written last)
   *    → finish the swap and drop the overlays it folds in;
   *  - base absent + incomplete new base → restore the old base and
   *    discard the partial copy (the overlays are still live);
   *  - base present + `docs_precompact` present (crash after the
   *    second rename, before cleanup) → the new base is live and
   *    complete; drop the old base and the overlays. The overlays are
   *    the pre-swap ones — folded into the new base, and for an
   *    update's base write older than it — as no writer runs before
   *    this repair;
   *  - a new base written aside with no rename begun → discard it (its
   *    update reruns against the unchanged view).
   */
  def recoverCompact(outDir: String): Unit = {
    val base = Paths.get(IndexBuilder.stagingDir(outDir))
    val old = precompact(outDir)
    val tmp = compactTmp(outDir)
    val overlays = Paths.get(IndexBuilder.overlayDir(outDir))
    if (!Files.exists(old)) Manifest.deleteRecursively(tmp)
    else if (!Files.exists(base)) {
      if (Files.exists(tmp.resolve(SegStats.FileName))) {
        Manifest.deleteRecursively(overlays)
        Files.move(tmp, base, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } else {
        Files.move(old, base, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        Manifest.deleteRecursively(tmp)
      }
      Manifest.deleteRecursively(old)
    } else {
      Manifest.deleteRecursively(overlays)
      Manifest.deleteRecursively(old)
      Manifest.deleteRecursively(tmp)
    }
  }
}
