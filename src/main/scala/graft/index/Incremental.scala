package graft.index

import graft.analysis.Tokenizer
import graft.model.{DocTurn, IndexFormat, Turn}
import graft.store.Manifest
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
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
 * The diff shuffles ids + 8-byte hashes — never the corpus text (the
 * per-doc hash is precomputed in staging; changed docs' text is
 * re-fetched by a semi-join against the source). Touched segments'
 * replacement rows are written as per-segment OVERLAY dirs (base
 * staging stays immutable); STALE ledger rows re-plan exactly those
 * segments for Phase B; the phase A manifest is refreshed from a
 * narrow-column aggregation of the updated view. Every step is
 * idempotent: a crash anywhere replays the diff against the current
 * view and converges — a replayed diff over already-published overlays
 * is empty, and already-appended STALE rows drive the remaining
 * rebuilds.
 *
 * Untouched segments' postings are never rewritten — byte-identical
 * across updates (IncrementalSpec) — and remain score-correct under
 * the shifted corpus avgdl because block-max metadata is
 * avgdl-independent (index format v2).
 *
 * Contract: (conv_id, turn_idx) is UNIQUE in the source (the
 * reference's document-id uniqueness); duplicate keys make the diff
 * join fan out and are undefined behavior, exactly as they are for
 * the initial build's rank-based docIDs. Cost shape: the source is
 * scanned up to three times per delta (hash diff; updated-row fetch;
 * new-row fetch) but only ids + 8-byte hashes ever cross a shuffle —
 * re-scanning columnar source beats shipping the text column through
 * an exchange at any scale.
 */
object Incremental {

  /** Atomic document updates (the Solr atomic-update verb
    * `{"id": …, "field": {"set": v}}`): field-level patches keyed by
    * (conv_id, turn_idx), realized as a DELTA BUILD — the patched
    * corpus view feeds the same content-hash diff → per-segment
    * overlay machinery as any other incremental update, so only
    * segments holding a patched document rebuild and scores stay
    * bit-equal to a full rebuild over the patched corpus. `sets`
    * carries the key columns plus any subset of the updatable payload
    * columns (text / role / tool); absent columns and NULL values keep
    * the current value (Solr's partial-document semantics). Scale: one
    * key-equi left join against the staging view plus the ordinary
    * delta cost (only ids and 8-byte hashes cross a shuffle). */
  def atomicSet(spark: SparkSession, cfg: BuildConfig,
                sets: DataFrame): BuildReport =
    IndexBuilder.build(spark, patchedCorpus(spark, cfg, sets)._1, cfg)

  /** The patched corpus view [[atomicSet]] feeds to the delta build,
    * staged O(patch) — NOT O(corpus): only the patched keys' merged
    * rows are materialized (eager localCheckpoint of the second
    * returned frame); the untouched rows stay a lazy anti-join over
    * the immutable-valued staging view. The round-5 form checkpointed
    * the ENTIRE corpus for any patch size — a one-document patch
    * spooled the full staging view to executor disk.
    *
    * Why the lazy base side is safe against the delta rewriting the
    * staging it reads: the delta only publishes overlays for segments
    * holding PATCHED documents, and an overlay's surviving rows carry
    * values identical to the base rows they replace — so any
    * recomputation of the anti-joined (untouched-keys-only) branch
    * observes the same values before and after the overlay publish.
    * Only the patched keys' rows differ mid-delta, and exactly those
    * are pinned by the checkpoint.
    *
    * Duplicate patch keys previously fanned out the join and silently
    * indexed duplicated documents; patches are now merged per key and
    * per field first, as Solr merges atomic updates field by field. Two
    * patches that set the same field keep the max value (a patch batch
    * carries no arrival order, so the pick just has to be
    * deterministic).
    * Patches addressed to keys absent from the corpus drop, as
    * before. */
  private[index] def patchedCorpus(spark: SparkSession, cfg: BuildConfig,
                                   sets: DataFrame): (Dataset[Turn], DataFrame) = {
    import spark.implicits._
    val updatable = Seq("text", "role", "tool")
    val provided = updatable.filter(sets.columns.contains)
    require(provided.nonEmpty,
      "sets must provide at least one updatable column (text/role/tool)")
    val renamed = provided.foldLeft(
      sets.select(("conv_id" +: "turn_idx" +: provided).map(col): _*))(
      (d, c) => d.withColumnRenamed(c, s"__set_$c"))
    // per-key, per-field merge: `max` skips nulls, so patches to one
    // key that set different fields all survive
    val merged = provided.map(c => max(col(s"__set_$c")).as(s"__set_$c"))
    val oneSet = renamed.groupBy("conv_id", "turn_idx").agg(merged.head, merged.tail: _*)
    // the staging view does not store ts (the content hash covers only
    // role/text/tool, so a synthetic constant cannot dirty a document)
    val cur0 = IndexBuilder.readDocs(spark, cfg.outDir)
    val cur = if (cur0.columns.contains("ts")) cur0
      else cur0.withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    def toTurns(d: DataFrame): Dataset[Turn] = d.select(col("conv_id"),
      col("turn_idx").cast("int").as("turn_idx"), col("role"), col("text"),
      col("tool"), col("ts").cast("timestamp").as("ts")).as[Turn]
    val mergedPatch0 = cur.join(oneSet, Seq("conv_id", "turn_idx"))
    val mergedPatch = provided.foldLeft(mergedPatch0)((d, c) =>
      d.withColumn(c, coalesce(col(s"__set_$c"), col(c))))
    val patched = toTurns(mergedPatch).toDF().localCheckpoint(true)
    val untouched = toTurns(
      cur.join(oneSet.select("conv_id", "turn_idx"),
        Seq("conv_id", "turn_idx"), "left_anti"))
    (untouched.toDF().unionByName(patched).as[Turn], patched)
  }

  /** Diff + overlay + re-plan. Returns (nDocs, avgdl, segSize,
    * nSegEff) for the UPDATED corpus; Phase B (driven by the caller)
    * then rebuilds the STALE segments. */
  def delta(spark: SparkSession, turns: Dataset[Turn], cfg: BuildConfig,
            srcHash: String): (Long, Double, Long, Int) = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val outDir = cfg.outDir
    val mdir = IndexBuilder.manifestDir(outDir)
    val m = Manifest.read(Manifest.phaseAPath(mdir)).get
    val segSize = m("seg_size").toLong
    val oldNSeg = m("n_segments_effective").toInt
    val az = cfg.analyzer

    val view = IndexBuilder.readStaging(spark, outDir)

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
      val maxId = view.agg(coalesce(max("doc_id"), lit(-1L))).head().getLong(0)
      // classification is by KEY PRESENCE (doc_id/h null-ness), never by
      // src_hash nullability: staging written before the hash column
      // existed reads back with src_hash = null, which must degrade to
      // "every matched doc is updated" — not "every doc is new"
      val freshKeys = deltaRows.filter(col("doc_id").isNull)
        .select(col("conv_id"), col("turn_idx"))
      val p = if (cfg.sortPartitions > 0) cfg.sortPartitions
              else spark.sparkContext.defaultParallelism
      val (sortedFresh, offsets, nFresh) = IndexBuilder.sortAndOffsets(spark,
        turns.toDF()
          .join(freshKeys, Seq("conv_id", "turn_idx"), "left_semi")
          .as[Turn],
        p)
      val offB = spark.sparkContext.broadcast(offsets)
      val freshRows: DataFrame =
        if (nFresh == 0) spark.createDataFrame(
          java.util.Collections.emptyList[Row](), IndexBuilder.StagingSchema)
        else {
          val assigned = spark.createDataset(
            sortedFresh.mapPartitions { it =>
              val off = offB.value(TaskContext.getPartitionId())
              var i = 0L
              // raw InternalRows in SortedOrdinals order (conv_id,
              // turn_idx, role, text, tool); toString copies, so the
              // rows' reused buffers are never retained
              it.map { r =>
                val id = maxId + 1 + off + i; i += 1
                val text = if (r.isNullAt(3)) null else r.getUTF8String(3).toString
                DocTurn(id, (id / segSize).toInt, r.getUTF8String(0).toString,
                  r.getInt(1),
                  if (r.isNullAt(2)) null else r.getUTF8String(2).toString, text,
                  if (r.isNullAt(4)) null else r.getUTF8String(4).toString,
                  az.docLength(text))
              }
            }).toDF().withColumn("src_hash",
            xxhash64(col("role"), col("text"), col("tool")))
            // DISK_ONLY: the appended batch is corpus-sized on an
            // initial-load-via-delta, and the in-memory columnar
            // builder OOMs on corpus-sized text
            .persist(StorageLevel.DISK_ONLY)
          // materialize in an ISOLATED job: here the stage re-runs the
          // sorted shuffle's reduce side (same RDD → same partition
          // ids the counts pass saw). Evaluated lazily inside the
          // overlay union instead, this map becomes a UnionRDD branch
          // whose partition ids are OFFSET by the other branches —
          // offsets would be misindexed.
          assigned.count()
          assigned
        }
      val freshSegs: Set[Int] =
        if (nFresh == 0) Set.empty
        else (((maxId + 1) / segSize).toInt to ((maxId + nFresh) / segSize).toInt).toSet

      val overlaySegs = changedSegs ++ freshSegs
      if (overlaySegs.nonEmpty) {
        // invalidate the finalize commit point FIRST: the dictionary /
        // corpus_stats derived for the pre-delta corpus must never
        // survive a crash that lands after the waves but before
        // finalizeStats reruns (pending would be empty on resume and
        // the stale COMPLETE finalize manifest would skip the rebuild)
        Files.deleteIfExists(Manifest.finalizePath(mdir))
        // STALE rows next: if we crash before the overlays publish,
        // the re-planned segments rebuild from whatever view exists
        // (idempotent overwrite), and the rerun's diff re-creates any
        // missing overlays
        Manifest.appendLedger(mdir, overlaySegs.toSeq.sorted.map(s => Map(
          "segment" -> s.toString,
          "status" -> Manifest.Stale,
          "snapshot_id" -> t0.toString)))

        // overlay rows = surviving rows of touched segments + updated
        // versions + appended docs
        val dlOf = udf((s: String) => az.docLength(s))
        val droppedIds = deltaRows.filter(col("doc_id").isNotNull)
          .select(col("doc_id")) // updated ∪ deleted old versions
        val keep = view.filter(col("segment").isInCollection(overlaySegs))
          .join(droppedIds, Seq("doc_id"), "left_anti")
        val updatedKeys = deltaRows
          .filter(col("h").isNotNull && col("doc_id").isNotNull)
          .select(col("conv_id"), col("turn_idx"), col("doc_id"), col("segment"))
        val updRows = turns.toDF().join(updatedKeys, Seq("conv_id", "turn_idx"))
          .select(col("doc_id"), col("segment"), col("conv_id"), col("turn_idx"),
            col("role"), col("text"), col("tool"), dlOf(col("text")).as("dl"))
          .withColumn("src_hash", xxhash64(col("role"), col("text"), col("tool")))
        val overlayNew = keep.unionByName(updRows).unionByName(freshRows)

        val tmp = Paths.get(outDir, "_tmp_overlay")
        Manifest.deleteRecursively(tmp)
        overlayNew
          .repartitionByRange(math.max(1, math.min(overlaySegs.size, p)),
            col("segment"), col("doc_id"))
          .sortWithinPartitions("segment", "doc_id")
          .write.partitionBy("segment").mode("overwrite").parquet(tmp.toString)
        overlaySegs.toSeq.sorted.foreach { seg =>
          val src = tmp.resolve(s"segment=$seg")
          val dest = Paths.get(IndexBuilder.overlayDir(outDir), s"segment=$seg")
          if (Files.exists(src)) Manifest.publishDir(src, dest)
          else { // segment lost ALL rows: empty overlay masks the base
            Manifest.deleteRecursively(dest)
            Files.createDirectories(dest)
          }
        }
        Manifest.deleteRecursively(tmp)
      }
      freshRows.unpersist()

      // ---- refresh phase A stats from the UPDATED view (narrow
      // columns only; exact long arithmetic ⇒ avgdl equals what a full
      // rebuild over the same corpus computes, so scores are
      // bit-identical) ----
      val nv = IndexBuilder.readStaging(spark, outDir).agg(
        count(lit(1)).as("n"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("dl_sum"),
        coalesce(max("doc_id"), lit(-1L)).as("max_id")).head()
      val nDocs2 = nv.getLong(0)
      val dlSum2 = nv.getLong(1)
      val maxId2 = nv.getLong(2)
      val avgdl2 = if (nDocs2 == 0) 1.0 else dlSum2.toDouble / nDocs2
      val nSegEff2 = math.max(oldNSeg,
        if (maxId2 < 0) 0 else (maxId2 / segSize).toInt + 1)

      Manifest.writeAtomic(Manifest.phaseAPath(mdir), Map(
        "status" -> Manifest.Complete,
        "n_docs" -> nDocs2.toString,
        "avgdl" -> avgdl2.toString,
        "seg_size" -> segSize.toString,
        "n_segments_effective" -> nSegEff2.toString,
        "content_hash" -> srcHash,
        "analyzer" -> cfg.analyzer.id,
        "store_positions" -> cfg.storePositions.toString,
        "index_version" -> IndexFormat.Version.toString,
        "tokenizer_version" -> Tokenizer.Version.toString,
        "delta_of" -> m.getOrElse("content_hash", ""),
        "segments_touched" -> overlaySegs.size.toString,
        "wall_ms" -> (System.currentTimeMillis() - t0).toString))
      (nDocs2, avgdl2, segSize, nSegEff2)
    } finally deltaRows.unpersist()
  }

  /**
   * Fold accumulated per-segment overlays back into a fresh immutable
   * base staging. Content-preserving — the staging VIEW is identical
   * before and after — so it can run any time between builds; overlays
   * otherwise accumulate one directory per segment ever touched, and
   * `readStaging`'s NOT-IN mask grows with them. Run it when the
   * overlay count becomes a noticeable fraction of the segment count.
   *
   * Sequencing: the merged view is written aside, the old base is
   * renamed away, the new base renamed in, then old base + overlays
   * are deleted. A crash between the two renames (base absent, both
   * copies on disk) is repaired by [[recoverCompact]] — run at the
   * next compact, build, or staging read — which completes the swap
   * from the finished merged copy (or restores the pre-compact base);
   * under a real object store the whole sequence becomes a catalog
   * swap.
   */
  def compact(spark: SparkSession, outDir: String): Int = {
    recoverCompact(outDir)
    val over = IndexBuilder.overlaidSegments(outDir)
    if (over.isEmpty) return 0
    val p = spark.sparkContext.defaultParallelism
    val tmp = Paths.get(outDir, "_tmp_compact")
    Manifest.deleteRecursively(tmp)
    IndexBuilder.readStaging(spark, outDir)
      .repartitionByRange(p, col("segment"), col("doc_id"))
      .sortWithinPartitions("segment", "doc_id")
      .write.parquet(tmp.toString)
    val base = Paths.get(IndexBuilder.stagingDir(outDir))
    val old = Paths.get(outDir, "_staging", "docs_precompact")
    Manifest.deleteRecursively(old)
    Files.move(base, old, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, base, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Manifest.deleteRecursively(old)
    Manifest.deleteRecursively(Paths.get(IndexBuilder.overlayDir(outDir)))
    over.size
  }

  /**
   * Repair a crash inside [[compact]]: auto-compaction runs after
   * every delta-heavy build, so the two-rename window must have an
   * automated restore path — without one, a crash there leaves
   * `readStaging` broken (base absent) with only `docs_precompact` on
   * disk. Idempotent; called from [[compact]], [[IndexBuilder.build]],
   * and the missing-base path of [[IndexBuilder.readStaging]]:
   *
   *  - base absent + complete merged copy (`_SUCCESS`) → finish the
   *    swap (the merged copy already folds the overlays in);
   *  - base absent + incomplete merged copy (defensive — the merge is
   *    fully written before the first rename) → restore the
   *    pre-compact base and discard the partial merge;
   *  - base present + `docs_precompact` present (crash after the
   *    second rename, before cleanup) → the new base is live and
   *    content-complete; drop the stale copies but KEEP the overlay
   *    dir: its crash-time entries are content-masked duplicates of
   *    the compacted base (harmless — the next compact folds them),
   *    while any entries a later delta added are live data.
   */
  def recoverCompact(outDir: String): Unit = {
    val base = Paths.get(IndexBuilder.stagingDir(outDir))
    val old = Paths.get(outDir, "_staging", "docs_precompact")
    val tmp = Paths.get(outDir, "_tmp_compact")
    if (!Files.exists(old)) return
    if (!Files.exists(base)) {
      if (Files.exists(tmp.resolve("_SUCCESS"))) {
        Files.move(tmp, base, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        Manifest.deleteRecursively(old)
        Manifest.deleteRecursively(Paths.get(IndexBuilder.overlayDir(outDir)))
      } else {
        Files.move(old, base, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        Manifest.deleteRecursively(tmp)
      }
    } else {
      Manifest.deleteRecursively(old)
      Manifest.deleteRecursively(tmp)
    }
  }
}
