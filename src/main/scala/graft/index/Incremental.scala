package graft.index

import graft.model.Turn
import graft.store.{LocalParquet, Manifest}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}

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
 * Two front ends build a change set — the doc_ids leaving the touched
 * segments and the staging rows entering them: [[delta]] diffs a whole
 * source against staging, [[atomicSet]] resolves a keyed patch against
 * it (UPDATED rows only). Both hand it to one apply step
 * ([[applyChanges]]), which decides before it writes: touched
 * segments' replacement rows are written as per-segment OVERLAY dirs
 * (base staging stays immutable), unless overlays would then cover
 * more than `autoCompactFraction` of the segments — then the changed
 * view is written once as a new base ([[writeBase]], shared with
 * [[compact]]) and no compaction follows. Either write is one Spark
 * job over segment tasks: a partitioner keyed on segment routes the
 * change set (O(patch) rows) to its segment's task, which reads the
 * segment's current rows in place ([[Staging]]: its overlay, else the
 * base files whose segment statistics meet it) in doc_id order,
 * merges the sorted changes into them — view < upsert < delete per
 * doc_id ([[merge]]) — writes the result itself ([[Staging.write]])
 * and returns its per-segment stats as its task result. No scan,
 * window or sort of the view runs, and no Spark write job. STALE
 * ledger rows re-plan exactly the touched segments for Phase B; the
 * phase A manifest is refreshed from the per-segment stats each
 * staging write publishes with its rows ([[SegStats]]), read
 * in-process. Every step is idempotent: a crash anywhere replays the
 * change set against the current view and converges — a replayed
 * change set over already-published staging is empty, and
 * already-appended STALE rows drive the remaining rebuilds.
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
 * an exchange at any scale. An [[atomicSet]] reads no source: one
 * join of the patch with the staging view, then the touched segments'
 * rows in place (or, for a base write, every segment's).
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
    * The patch is resolved against the staging view into a change set
    * ([[changeSet]]) and applied by the same step as a [[delta]]
    * ([[applyChanges]]); Phase B and finalize then run as in a build
    * ([[IndexBuilder.finishBuild]]). Only segments holding a changed
    * document get an overlay and rebuild, and scores stay bit-equal to
    * a full rebuild over the patched corpus. A patch never adds a
    * document, and it pays no source-side hash, diff or id assignment.
    * A patch that changes nothing rebuilds nothing. Its Spark jobs are
    * described `graft:atomicSet`. */
  def atomicSet(spark: SparkSession, cfg: BuildConfig,
                sets: DataFrame): BuildReport =
    IndexBuilder.inBuildSession(spark, "atomicSet", sets) { (bs, patch) =>
      val t0 = System.currentTimeMillis()
      recoverCompact(cfg.outDir)
      val prior = Manifest.read(Manifest.phaseAPath(IndexBuilder.manifestDir(cfg.outDir)))
        .filter(IndexBuilder.compatible(cfg, _))
        .getOrElse(throw new IllegalStateException(
          s"atomicSet needs an index built with this config at ${cfg.outDir}"))
      val ((rows, perSegment), resolveMs) = IndexBuilder.timedMs(changeSet(bs, cfg, patch))
      try IndexBuilder.finishBuild(bs, cfg, t0, applyChanges(bs, cfg, t0, prior, perSegment.keySet,
        rows, bs.sparkContext.emptyRDD, None, resolveMs))
      finally rows.unpersist()
    }

  /** The patch resolved against the staging view, in staging form:
    * for each patched key present in the index whose content changes,
    * the stored row with the patched fields set — doc_id and segment
    * kept, dl and src_hash recomputed. Returns these rows, locally
    * checkpointed, and the number of them per segment.
    *
    * Patches to one key merge field by field first, as Solr merges
    * atomic updates: `max` per field skips nulls, so patches that set
    * different fields all survive, and two patches that set the same
    * field keep the max value (a patch batch carries no arrival order,
    * so the pick just has to be deterministic).
    *
    * The checkpoint holds O(patch) rows, never the corpus. It pins the
    * change set because applying it rewrites the staging it was
    * resolved from: a recomputation after the overlays publish would
    * find nothing changed. A lost block fails the job instead. The
    * caller unpersists the rows. */
  private[index] def changeSet(spark: SparkSession, cfg: BuildConfig,
                               sets: DataFrame): (RDD[InternalRow], Map[Int, Long]) = {
    val provided = Seq("text", "role", "tool").filter(sets.columns.contains)
    require(provided.nonEmpty,
      "sets must provide at least one updatable column (text/role/tool)")
    val merged = provided.map(c => max(col(c)).as(s"__set_$c"))
    val oneSet = sets.groupBy("conv_id", "turn_idx").agg(merged.head, merged.tail: _*)
    val joined = IndexBuilder.readDocs(spark, cfg.outDir)
      .join(oneSet, Seq("conv_id", "turn_idx"))
    val patched = provided.foldLeft(joined)((d, c) =>
      d.withColumn(c, coalesce(col(s"__set_$c"), col(c))))
      .withColumn("h", xxhash64(col("role"), col("text"), col("tool")))
    val az = cfg.analyzer
    val dlOf = udf((s: String) => az.docLength(s))
    // staging written before the hash column existed reads back with
    // src_hash = null: every patched row of it counts as changed
    val changed = patched.filter(col("src_hash").isNull || col("h") =!= col("src_hash"))
      .withColumn("dl", dlOf(col("text")))
      .withColumn("src_hash", col("h"))
      .select(IndexBuilder.StagingSchema.fieldNames.map(col).toIndexedSeq: _*)
    val rows = changed.queryExecution.toRdd.map(_.copy())
    rows.localCheckpoint()
    // the job that materializes the checkpoint counts its rows per
    // segment, as its tasks' results
    val counts = spark.sparkContext.runJob(rows, (it: Iterator[InternalRow]) =>
      it.foldLeft(Map.empty[Int, Long]) { (m, r) =>
        val seg = r.getInt(SegmentOrdinal)
        m.updated(seg, m.getOrElse(seg, 0L) + 1)
      })
    (rows, counts.toSeq.flatten.groupMapReduce(_._1)(_._2)(_ + _))
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
      val dlOf = udf((s: String) => az.docLength(s))
      val updatedKeys = deltaRows
        .filter(col("h").isNotNull && col("doc_id").isNotNull)
        .select(col("conv_id"), col("turn_idx"), col("doc_id"), col("segment"))
      val updRows = turns.toDF().join(updatedKeys, Seq("conv_id", "turn_idx"))
        .select(col("doc_id"), col("segment"), col("conv_id"), col("turn_idx"),
          col("role"), col("text"), col("tool"), dlOf(col("text")).as("dl"))
        .withColumn("src_hash", xxhash64(col("role"), col("text"), col("tool")))
      val upserts = updRows.select(IndexBuilder.StagingSchema.fieldNames.map(col).toIndexedSeq: _*)
        .queryExecution.toRdd.union(freshRows)
      applyChanges(spark, cfg, t0, m, changedSegs ++ freshSegs, upserts, deletes,
        Some(srcHash), System.currentTimeMillis() - t0)
    } finally deltaRows.unpersist()
  }

  /** Applies a change set to the index on disk — `upserts` (staging
    * rows) replace the view rows with their doc_id or join their
    * segment, `deletes` (segment, doc_id) leave — in crash-safe order:
    * the finalize manifest is invalidated, STALE ledger rows re-plan
    * the `touched` segments, the changed staging is published, and the
    * phase A manifest is refreshed from the staging view's per-segment
    * stats ([[SegStats]], read in-process). The changed staging is an
    * overlay per touched segment (its surviving and upserted rows,
    * published in place of its base rows), unless the overlaid and
    * touched segments together exceed `autoCompactFraction` of the
    * segments: then the whole view, changed, is written as the new
    * base ([[writeBase]]) and the overlays go. The content hash is
    * `srcHash` when the caller has it, else the stats' xor; `resolveMs`
    * (the time spent building the change set) and the apply's own time
    * go into the manifest beside `wall_ms`. Returns (nDocs, avgdl,
    * segSize, nSegEff) of the updated corpus. */
  private[index] def applyChanges(spark: SparkSession, cfg: BuildConfig, t0: Long,
                                  prior: Map[String, String], touched: Set[Int],
                                  upserts: RDD[InternalRow], deletes: RDD[(Int, Long)],
                                  srcHash: Option[String], resolveMs: Long): (Long, Double, Long, Int) = {
    val tApply = System.currentTimeMillis()
    val outDir = cfg.outDir
    val mdir = IndexBuilder.manifestDir(outDir)
    val segSize = prior("seg_size").toLong
    if (touched.nonEmpty) {
      // invalidate the finalize commit point FIRST: the dictionary /
      // corpus_stats derived for the pre-change corpus must never
      // survive a crash that lands after the waves but before
      // finalizeStats reruns (pending would be empty on resume and
      // the stale COMPLETE finalize manifest would skip the rebuild)
      Files.deleteIfExists(Manifest.finalizePath(mdir))
      // STALE rows next: if we crash before the staging publishes,
      // the re-planned segments rebuild from whatever view exists
      // (idempotent overwrite), and the rerun re-applies the change set
      Manifest.appendLedger(mdir, touched.toSeq.sorted.map(s => Map(
        "segment" -> s.toString,
        "status" -> Manifest.Stale,
        "snapshot_id" -> t0.toString)))

      // appended segments only ever extend the tail: the updated
      // corpus's segment count is known before the write
      val nSegAfter = math.max(prior("n_segments_effective").toInt, touched.max + 1)
      val rebase = cfg.autoCompactFraction > 0 &&
        (IndexBuilder.overlaidSegments(outDir) ++ touched).size > cfg.autoCompactFraction * nSegAfter
      val changes = upserts.map(r => r.getInt(SegmentOrdinal) -> Change(r.getLong(0), Upsert, r.copy()))
        .union(deletes.map { case (seg, id) => seg -> Change(id, Delete, null) })
      if (rebase) writeBase(spark, outDir, nSegAfter, IndexBuilder.sortPartitions(spark, cfg), changes)
      else writeOverlays(spark, outDir, touched, changes)
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

    val now = System.currentTimeMillis()
    IndexBuilder.writePhaseA(cfg, total.n, avgdl, segSize, nSegEff,
      srcHash.getOrElse(total.hash.toString), Map(
        "delta_of" -> prior.getOrElse("content_hash", ""),
        "segments_touched" -> touched.size.toString,
        "resolve_ms" -> resolveMs.toString,
        "apply_ms" -> (now - tApply).toString,
        "wall_ms" -> (now - t0).toString))
    (total.n, avgdl, segSize, nSegEff)
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

  /** Routes a change, keyed by its segment, to the task of the segment's
    * group: groups are ascending runs of segments, group i starting at
    * `starts(i)`. */
  private final class SegmentGroups(starts: Array[Int]) extends org.apache.spark.Partitioner {
    def numPartitions: Int = starts.length
    def getPartition(key: Any): Int = {
      val i = java.util.Arrays.binarySearch(starts, key.asInstanceOf[Int])
      if (i >= 0) i else math.max(0, -i - 2)
    }
  }

  /** Writes the staging view of `groups` (ascending runs of segments)
    * with `changes` applied, in one job of one task per group, and
    * returns the per-segment stats of what the tasks wrote. The changes
    * reach their group's task through an O(change set) shuffle; each
    * task reads its segments' current rows in place ([[Staging]]),
    * merges the changes into them ([[merge]]) and hands `write` its
    * group's index and rows, sorted by (segment, doc_id). */
  private def writeChanged(spark: SparkSession, outDir: String, groups: Seq[Seq[Int]],
                           changes: RDD[(Int, Change)])
                          (write: (Int, Iterator[InternalRow]) => Map[Int, SegStat]): Map[Int, SegStat] = {
    val source = Staging.sources(outDir, groups.flatten).map(s => s.segment -> s).toMap
    val tasks = groups.map(_.map(source))
    val view = changes.partitionBy(new SegmentGroups(groups.map(_.head).toArray))
      .zipPartitions(spark.sparkContext.parallelize(tasks, tasks.size)) { (cs, srcs) =>
        val bySegment = cs.toVector.groupBy(_._1)
        srcs.flatten.flatMap { src =>
          merge(src.stagingRows, bySegment.getOrElse(src.segment, Vector.empty).map(_._2))
        }
      }
    SegStats.merge(spark.sparkContext.runJob(view, (ctx: TaskContext, rows: Iterator[InternalRow]) =>
      write(ctx.partitionId(), rows)))
  }

  /** Publishes each of `touched` as an overlay holding its rows of the
    * changed view and their `_segstats`, in one job of one task per
    * segment; a segment left with no rows gets an empty overlay, which
    * masks its base rows. */
  private def writeOverlays(spark: SparkSession, outDir: String, touched: Set[Int],
                            changes: RDD[(Int, Change)]): Unit = {
    val tmp = Paths.get(outDir, "_tmp_overlay")
    Manifest.deleteRecursively(tmp)
    val segments = touched.toVector.sorted
    val dir = tmp.toString
    val stats = writeChanged(spark, outDir, segments.map(Seq(_)), changes) { (i, rows) =>
      if (!rows.hasNext) Map.empty
      else Staging.write(LocalParquet.part(Files.createDirectories(Paths.get(dir, s"segment=${segments(i)}")), 0),
        rows, overlay = true)
    }
    segments.foreach { seg =>
      val src = tmp.resolve(s"segment=$seg")
      SegStats.write(src, Map(seg -> stats.getOrElse(seg, SegStats.Empty)))
      Manifest.publishDir(src, Paths.get(IndexBuilder.overlayDir(outDir), s"segment=$seg"))
    }
    Manifest.deleteRecursively(tmp)
  }

  private def compactTmp(outDir: String) = Paths.get(outDir, "_tmp_compact")
  private def precompact(outDir: String) = Paths.get(outDir, "_staging", "docs_precompact")

  /** Writes the staging view of segments `[0, nSegments)` with `changes`
    * applied aside as a complete new base: `p` contiguous segment ranges,
    * one task and one segment-monotone file each, read in place and
    * merged ([[changedView]]), then its `_segstats` last — the mark
    * [[recoverCompact]] takes for a finished copy. */
  private[index] def writeBaseAside(spark: SparkSession, outDir: String, nSegments: Int, p: Int,
                                    changes: RDD[(Int, Change)]): Unit = {
    val tmp = compactTmp(outDir)
    Manifest.deleteRecursively(tmp)
    Files.createDirectories(tmp)
    val ranges = (0 until nSegments).grouped(math.max(1, (nSegments + p - 1) / p)).toSeq
    val dir = tmp.toString
    SegStats.write(tmp, writeChanged(spark, outDir, ranges, changes)((i, rows) =>
      Staging.write(LocalParquet.part(Paths.get(dir), i), rows, overlay = false)))
  }

  /** Replaces the staging base with the changed view (see
    * [[writeBaseAside]]) and drops the overlays it folds in. Sequencing:
    * the new base is written aside, the old base renamed away, the new
    * one renamed in, then the overlays and the old base are deleted, in
    * that order. A crash anywhere in it is repaired by
    * [[recoverCompact]]. */
  private def writeBase(spark: SparkSession, outDir: String, nSegments: Int, p: Int,
                        changes: RDD[(Int, Change)]): Unit = {
    writeBaseAside(spark, outDir, nSegments, p, changes)
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
   * number of overlays folded. The write and its crash repair are
   * [[writeBase]]'s (with no changes); under a real object store the
   * swap becomes a catalog swap.
   */
  def compact(spark: SparkSession, outDir: String): Int = {
    recoverCompact(outDir)
    val over = IndexBuilder.overlaidSegments(outDir)
    if (over.isEmpty) return 0
    val nSegments = SegStats.view(outDir).keys.max + 1
    writeBase(spark, outDir, nSegments, spark.sparkContext.defaultParallelism, spark.sparkContext.emptyRDD)
    over.size
  }

  /**
   * Repair a crash inside [[writeBase]] (an update's base write or
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
