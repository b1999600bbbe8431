package graft.index

import graft.SparkFunSuite
import graft.model.Turn
import graft.query.IndexReader
import graft.sources.SyntheticTranscripts
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Incremental maintenance invariants (FIXTURES.md §4 extension):
 * update/delete/append → only touched segments rebuild, untouched
 * posting files stay byte-identical on disk, docIDs of unchanged docs
 * are stable, and the updated index is query-indistinguishable from a
 * from-scratch build over the same corpus (scores bit-identical).
 */
class IncrementalSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private lazy val v1 = SyntheticTranscripts.generate(spark, 42L, nConvs = 400, maxTurns = 8)

  /** v2 = v1 with one conversation deleted, one turn's text updated,
    * and 20 new conversations appended (keys sort after existing). */
  private lazy val v2: Dataset[Turn] = {
    val updated = v1
      .filter(col("conv_id") =!= "conv-000005")
      .withColumn("text",
        when(col("conv_id") === "conv-000010" && col("turn_idx") === 0,
          lit("freshly updated turn contents zebraword"))
          .otherwise(col("text"))).as[Turn]
    val appended = SyntheticTranscripts.generate(spark, 99L, nConvs = 20, maxTurns = 5)
      .withColumn("conv_id", concat(lit("zz-"), col("conv_id"))).as[Turn]
    updated.unionByName(appended).as[Turn]
  }

  /** v3 = v2 with a further update inside an already-overlaid segment
    * and more appended conversations (exercises overlay replacement). */
  private lazy val v3: Dataset[Turn] = {
    val updated = v2.withColumn("text",
      when(col("conv_id") === "conv-000010" && col("turn_idx") === 1,
        lit("second round update quaggaword"))
        .otherwise(col("text"))).as[Turn]
    val appended = SyntheticTranscripts.generate(spark, 7L, nConvs = 10, maxTurns = 4)
      .withColumn("conv_id", concat(lit("zzz-"), col("conv_id"))).as[Turn]
    updated.unionByName(appended).as[Turn]
  }

  private def postingFiles(dir: String): Map[String, (Long, java.nio.file.attribute.FileTime)] =
    Files.walk(Paths.get(IndexBuilder.postingsDir(dir))).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => p.toString -> ((Files.size(p), Files.getLastModifiedTime(p)))).toMap

  private def queriesEqual(a: IndexReader, b: IndexReader): Unit = {
    for (q <- Seq("assistant tool error", "user assistant", "zebraword",
      "la ma na", "browser", "quaggaword", "timeout error")) {
      // k >> hits so tie-breaks at the k boundary can't differ (inc and
      // full builds assign different docIDs; identity is conv/turn)
      val ha = a.searchRanked(q, 10000).map(h => (h.conv_id, h.turn_idx, h.score)).toSet
      val hb = b.searchRanked(q, 10000).map(h => (h.conv_id, h.turn_idx, h.score)).toSet
      assert(ha == hb, s"query '$q'")
    }
  }

  test("atomicSet: field patch via the delta path — touched segments only, equals full rebuild") {
    val dir = tmpDir("atom-idx"); val fullDir = tmpDir("atom-full")
    val cfg = BuildConfig(dir, nSegments = 8, waveSize = 8, autoCompactFraction = 0)
    IndexBuilder.build(spark, v1, cfg)
    val before = postingFiles(dir)
    val word = "atomically patched contents xylophoneword"
    val sets = Seq(("conv-000010", 0, word)).toDF("conv_id", "turn_idx", "text")
    Incremental.atomicSet(spark, cfg, sets)
    val touched = IndexBuilder.overlaidSegments(dir)
    assert(touched.nonEmpty && touched.size < 8,
      "a one-doc patch must not touch every segment")
    val after = postingFiles(dir)
    val untouchedFiles = before.keys.filterNot { p =>
      touched.exists(s => p.contains(s"segment=$s/"))
    }
    assert(untouchedFiles.nonEmpty)
    untouchedFiles.foreach { f =>
      assert(after.get(f).contains(before(f)), s"untouched posting file rewritten: $f")
    }
    // equals a from-scratch build over the manually patched corpus
    val patched = v1.withColumn("text",
      when(col("conv_id") === "conv-000010" && col("turn_idx") === 0, lit(word))
        .otherwise(col("text"))).as[Turn]
    IndexBuilder.build(spark, patched, BuildConfig(fullDir, nSegments = 8, waveSize = 8))
    val ri = new IndexReader(spark, dir); val rf = new IndexReader(spark, fullDir)
    queriesEqual(ri, rf)
    val hi = ri.searchRanked("xylophoneword", 100).map(h => (h.conv_id, h.turn_idx, h.score))
    val hf = rf.searchRanked("xylophoneword", 100).map(h => (h.conv_id, h.turn_idx, h.score))
    assert(hi.nonEmpty && hi.toSet == hf.toSet)
    // a NULL set keeps the current value — the delta sees no change
    val nullSets = Seq(("conv-000020", 0, null: String)).toDF("conv_id", "turn_idx", "text")
    assert(Incremental.atomicSet(spark, cfg, nullSets).segmentsBuilt == 0)
  }

  test("atomicSet resolves in its segment tasks: only the patched keys' rows change, a duplicate merges, an absent key drops") {
    val dir = tmpDir("atom-opatch")
    val cfg = BuildConfig(dir, nSegments = 8, waveSize = 8, autoCompactFraction = 0)
    IndexBuilder.build(spark, v1, cfg)
    val sets = Seq(
      ("conv-000010", 0, "opatch one"),
      ("conv-000011", 0, "opatch two"),
      ("conv-000011", 0, "opatch two duplicate"), // duplicate key: merged, not fanned out
      ("conv-does-not-exist", 0, "dropped")       // absent key: silently dropped
    ).toDF("conv_id", "turn_idx", "text")
    def view = IndexBuilder.readDocs(spark, dir).collect().map(r =>
      (r.getString(2), r.getInt(3)) -> ((r.getLong(0), r.getInt(1), r.getString(5)))).toMap
    val before = view
    val mdir = IndexBuilder.manifestDir(dir)
    val ledgerBefore = graft.store.Manifest.segmentStates(mdir)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    Incremental.atomicSet(spark, cfg, sets)
    val after = view
    // exactly the two present keys' rows changed, in place: doc_id and
    // segment kept, the duplicate merged to the greater text
    val changed = after.filter { case (k, v) => !before.get(k).contains(v) }
    assert(after.keySet == before.keySet)
    assert(changed.map { case (k, v) => k -> v._3 } ==
      Map(("conv-000010", 0) -> "opatch one", ("conv-000011", 0) -> "opatch two duplicate"))
    assert(changed.forall { case (k, v) => before(k)._1 == v._1 && before(k)._2 == v._2 })
    // the overlays are exactly the changed rows' segments, and the
    // manifest counts them
    val segments = changed.values.map(_._2).toSet
    assert(IndexBuilder.overlaidSegments(dir) == segments)
    val phaseA = graft.store.Manifest.read(graft.store.Manifest.phaseAPath(mdir)).get
    assert(phaseA("segments_touched").toInt == segments.size)
    // the ledger re-planned and rebuilt exactly those segments
    val ledgerAfter = graft.store.Manifest.segmentStates(mdir)
    assert(ledgerAfter.keySet.filter(s => !ledgerBefore.get(s).contains(ledgerAfter(s))) == segments)
    // atomicSet persists nothing
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(persisted).isEmpty)
  }

  test("atomicSet killed after its overlays converges on rerun; its content hash lets a build of the patched corpus resume") {
    val dir = tmpDir("atom-kill"); val fullDir = tmpDir("atom-kill-full")
    val cfg = BuildConfig(dir, nSegments = 8, waveSize = 8, autoCompactFraction = 0)
    IndexBuilder.build(spark, v1, cfg)
    val word = "killed mid patch contents quokkaword"
    val sets = Seq(("conv-000010", 0, word), ("conv-000300", 1, word))
      .toDF("conv_id", "turn_idx", "text")
    val mdir = IndexBuilder.manifestDir(dir)
    intercept[SimulatedKill](Incremental.atomicSet(spark, cfg.copy(failAfterWaves = 0), sets))
    // the kill lands after the overlays and STALE rows
    val overlaid = IndexBuilder.overlaidSegments(dir)
    assert(overlaid.nonEmpty)
    assert(overlaid.forall(s => graft.store.Manifest.segmentStates(mdir)(s)
      .get("status").contains(graft.store.Manifest.Stale)))
    assert(!Files.exists(graft.store.Manifest.finalizePath(mdir)))
    val rep = Incremental.atomicSet(spark, cfg, sets)
    assert(rep.segmentsBuilt == overlaid.size)

    val patched = v1.withColumn("text",
      when((col("conv_id") === "conv-000010" && col("turn_idx") === 0) ||
        (col("conv_id") === "conv-000300" && col("turn_idx") === 1), lit(word))
        .otherwise(col("text"))).as[Turn]
    IndexBuilder.build(spark, patched, BuildConfig(fullDir, nSegments = 8, waveSize = 8))
    val ri = new IndexReader(spark, dir); val rf = new IndexReader(spark, fullDir)
    assert(ri.stats.n_docs == rf.stats.n_docs)
    assert(ri.stats.avgdl == rf.stats.avgdl) // bit-equal doubles
    assert(ri.stats.n_terms == rf.stats.n_terms)
    queriesEqual(ri, rf)
    assert(ri.searchRanked("quokkaword", 10).size == 2)
    // the phase A content hash is the patched corpus's, so a build over
    // it resumes: no rebuild, and no delta (which would rewrite phaseA)
    val phaseA = graft.store.Manifest.phaseAPath(mdir)
    val written = graft.store.Manifest.read(phaseA).get
    val h = patched.agg(org.apache.spark.sql.functions.expr(
      "bit_xor(xxhash64(conv_id, turn_idx, role, text, tool))")).head().getLong(0).toString
    assert(written("content_hash") == h)
    assert(IndexBuilder.build(spark, patched, cfg).segmentsBuilt == 0)
    assert(graft.store.Manifest.read(phaseA).get == written)
  }

  test("atomicSet merges patches to one key field by field (disjoint fields both survive)") {
    val dir = tmpDir("atom-fields")
    val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4, autoCompactFraction = 0)
    IndexBuilder.build(spark, v1, cfg)
    val key = col("conv_id") === "conv-000010" && col("turn_idx") === 0
    val Array(role) = v1.filter(key).select("role").as[String].collect()
    val sets = Seq(
      ("conv-000010", 0, "field merged text", null: String),
      ("conv-000010", 0, null: String, "field_merged_tool")
    ).toDF("conv_id", "turn_idx", "text", "tool")
    Incremental.atomicSet(spark, cfg, sets)
    val got = IndexBuilder.readDocs(spark, dir).filter(key)
      .select("text", "tool", "role").as[(String, String, String)].collect()
    assert(got.toSeq == Seq(("field merged text", "field_merged_tool", role)))
  }

  test("delta: update+delete+append rebuilds only touched segments; equals full rebuild") {
    val incDir = tmpDir("inc-idx"); val fullDir = tmpDir("inc-full")
    val cfgInc = BuildConfig(incDir, nSegments = 8, waveSize = 8)
    val rep1 = IndexBuilder.build(spark, v1, cfgInc)
    assert(rep1.segmentsBuilt == 8)
    val before = postingFiles(incDir)
    // docID of an untouched doc, for stability
    val probeId = IndexBuilder.readDocs(spark, incDir)
      .filter(col("conv_id") === "conv-000200" && col("turn_idx") === 0)
      .select("doc_id").as[Long].head()

    val rep2 = IndexBuilder.build(spark, v2, cfgInc)
    val touched = IndexBuilder.overlaidSegments(incDir)
    assert(touched.nonEmpty && rep2.segmentsBuilt == touched.size)
    assert(touched.size < 8, "a small delta must not touch every segment")

    // untouched segments' posting files byte-identical (same file set,
    // size, mtime — never rewritten)
    val after = postingFiles(incDir)
    val untouchedFiles = before.keys.filterNot { path =>
      touched.exists(s => path.contains(s"segment=$s/"))
    }
    assert(untouchedFiles.nonEmpty)
    untouchedFiles.foreach { f =>
      assert(after.get(f).contains(before(f)), s"untouched posting file rewritten: $f")
    }

    // unchanged docs keep their docIDs
    val probeId2 = IndexBuilder.readDocs(spark, incDir)
      .filter(col("conv_id") === "conv-000200" && col("turn_idx") === 0)
      .select("doc_id").as[Long].head()
    assert(probeId2 == probeId)

    // updated view passes ingestion equality; deleted conv gone
    assert(IndexBuilder.verifyIngestion(spark, incDir, v2) == 0L)
    assert(IndexBuilder.readDocs(spark, incDir)
      .filter(col("conv_id") === "conv-000005").count() == 0)

    // equals a from-scratch build over v2: same corpus stats (exact)
    // and identical (conv, turn, score) result sets
    IndexBuilder.build(spark, v2, BuildConfig(fullDir, nSegments = 8, waveSize = 8))
    val ri = new IndexReader(spark, incDir)
    val rf = new IndexReader(spark, fullDir)
    assert(ri.stats.n_docs == rf.stats.n_docs)
    assert(ri.stats.avgdl == rf.stats.avgdl) // bit-equal doubles
    assert(ri.stats.n_terms == rf.stats.n_terms)
    queriesEqual(ri, rf)

    // metadata-FILTERED search reads the staging VIEW (base + overlays):
    // results over the delta'd index equal the full rebuild's
    val fi = ri.searchWhere("assistant tool error", col("role") === "assistant", 10000)
    val ff = rf.searchWhere("assistant tool error", col("role") === "assistant", 10000)
    def keyed(r: IndexReader, hits: Vector[graft.model.QueryHit]) = {
      val ids = hits.map(_.doc_id).toSet
      IndexBuilder.readDocs(spark, if (r eq ri) incDir else fullDir)
        .filter(col("doc_id").isInCollection(ids))
        .select("doc_id", "conv_id", "turn_idx")
        .as[(Long, String, Int)].collect().map(x => x._1 -> ((x._2, x._3))).toMap
    }
    val mi = keyed(ri, fi); val mf = keyed(rf, ff)
    assert(fi.map(h => (mi(h.doc_id), h.score)).toSet ==
      ff.map(h => (mf(h.doc_id), h.score)).toSet)
  }

  test("second delta on top of overlays (overlay replacement) still equals full rebuild") {
    val incDir = tmpDir("inc2-idx"); val fullDir = tmpDir("inc2-full")
    val cfg = BuildConfig(incDir, nSegments = 8, waveSize = 8)
    IndexBuilder.build(spark, v1, cfg)
    IndexBuilder.build(spark, v2, cfg)
    val rep3 = IndexBuilder.build(spark, v3, cfg)
    assert(rep3.segmentsBuilt > 0)
    assert(IndexBuilder.verifyIngestion(spark, incDir, v3) == 0L)
    IndexBuilder.build(spark, v3, BuildConfig(fullDir, nSegments = 8, waveSize = 8))
    val ri = new IndexReader(spark, incDir)
    val rf = new IndexReader(spark, fullDir)
    assert(ri.stats.n_docs == rf.stats.n_docs && ri.stats.avgdl == rf.stats.avgdl)
    queriesEqual(ri, rf)
  }

  test("compact folds overlays into base; view, queries, and further deltas unchanged") {
    val dir = tmpDir("inc-compact")
    val cfg = BuildConfig(dir, nSegments = 8, waveSize = 8)
    IndexBuilder.build(spark, v1, cfg)
    IndexBuilder.build(spark, v2, cfg)
    assert(IndexBuilder.overlaidSegments(dir).nonEmpty)
    val rdr = new IndexReader(spark, dir)
    val before = rdr.searchRanked("assistant tool error", 10000)
      .map(h => (h.conv_id, h.turn_idx, h.score)).toSet

    val folded = Incremental.compact(spark, dir)
    assert(folded > 0)
    assert(IndexBuilder.overlaidSegments(dir).isEmpty)
    assert(IndexBuilder.verifyIngestion(spark, dir, v2) == 0L)
    val after = new IndexReader(spark, dir).searchRanked("assistant tool error", 10000)
      .map(h => (h.conv_id, h.turn_idx, h.score)).toSet
    assert(after == before)
    // a delta applied on top of the compacted base still works
    val rep3 = IndexBuilder.build(spark, v3, cfg)
    assert(rep3.segmentsBuilt > 0)
    assert(IndexBuilder.verifyIngestion(spark, dir, v3) == 0L)
    // compacting twice is a no-op
    IndexBuilder.build(spark, v3, BuildConfig(dir, nSegments = 8, waveSize = 8))
    Incremental.compact(spark, dir)
    assert(Incremental.compact(spark, dir) == 0)
  }

  test("delta invalidates the finalize commit point (stale dictionary cannot survive a crash)") {
    val dir = tmpDir("inc-fin")
    val cfg = BuildConfig(dir, nSegments = 8, waveSize = 8)
    IndexBuilder.build(spark, v1, cfg)
    val finPath = graft.store.Manifest.finalizePath(IndexBuilder.manifestDir(dir))
    assert(Files.exists(finPath))
    // simulate the crash window: the delta lands (overlays + STALE +
    // manifest), then the process dies before Phase B / finalize
    val h = v2.agg(org.apache.spark.sql.functions.expr(
      "bit_xor(xxhash64(conv_id, turn_idx, role, text, tool))")).head().getLong(0).toString
    Incremental.delta(spark, v2, cfg, h)
    assert(!Files.exists(finPath), "stale finalize manifest must be invalidated by the delta")
    // the resumed build must re-derive dictionary/corpus_stats
    val rep = IndexBuilder.build(spark, v2, cfg)
    assert(rep.segmentsBuilt > 0)
    val fullDir = tmpDir("inc-fin-full")
    IndexBuilder.build(spark, v2, BuildConfig(fullDir, nSegments = 8, waveSize = 8))
    val ri = new IndexReader(spark, dir); val rf = new IndexReader(spark, fullDir)
    assert(ri.stats.n_docs == rf.stats.n_docs && ri.stats.avgdl == rf.stats.avgdl &&
      ri.stats.n_terms == rf.stats.n_terms)
  }

  test("delta that empties a whole segment clears its old postings (no ghosts)") {
    val incDir = tmpDir("inc-empty-seg"); val fullDir = tmpDir("inc-empty-seg-full")
    val cfg = BuildConfig(incDir, nSegments = 8, waveSize = 8)
    IndexBuilder.build(spark, v1, cfg)
    // delete EVERY doc of one middle segment (by (conv_id, turn_idx) key)
    val segKeys = IndexBuilder.readDocs(spark, incDir)
      .filter(col("segment") === 2).select("conv_id", "turn_idx")
    assert(segKeys.count() > 0)
    val v2d = v1.join(segKeys, Seq("conv_id", "turn_idx"), "left_anti").as[Turn]
    IndexBuilder.build(spark, v2d, cfg)
    // the rebuilt-to-zero segment must hold NO posting files — pre-fix,
    // the old parquet survived and served ghost postings for deleted docs
    val segDir = Paths.get(IndexBuilder.postingsDir(incDir), "segment=2")
    val ghost = Files.walk(segDir).iterator().asScala
      .count(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
    assert(ghost == 0, s"segment=2 still holds $ghost posting files after losing all docs")
    // and queries (incl. searchRanked's doc join) equal a full rebuild
    IndexBuilder.build(spark, v2d, BuildConfig(fullDir, nSegments = 8, waveSize = 8))
    val ri = new IndexReader(spark, incDir); val rf = new IndexReader(spark, fullDir)
    assert(ri.stats.n_docs == rf.stats.n_docs && ri.stats.avgdl == rf.stats.avgdl &&
      ri.stats.n_terms == rf.stats.n_terms)
    queriesEqual(ri, rf)
  }

  test("recoverCompact repairs a crash inside compact's rename window") {
    val dir = tmpDir("inc-compact-crash")
    val cfg = BuildConfig(dir, nSegments = 8, waveSize = 8)
    IndexBuilder.build(spark, v1, cfg)
    IndexBuilder.build(spark, v2, cfg)
    assert(IndexBuilder.overlaidSegments(dir).nonEmpty)
    val base = Paths.get(IndexBuilder.stagingDir(dir))
    val old = Paths.get(dir, "_staging", "docs_precompact")
    val tmp = Paths.get(dir, "_tmp_compact")

    // --- crash state A: merged copy complete (written aside by the
    // base write compact uses), base renamed away, new base not yet
    // renamed in (the exact instant between the two ATOMIC_MOVEs) ---
    Incremental.writeBaseAside(spark, dir, SegStats.view(dir).keys.max + 1, 4)
    Files.move(base, old, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    assert(!Files.exists(base))
    // the next staging read (build and queries route through it) must
    // finish the swap from the complete merged copy
    assert(IndexBuilder.readDocs(spark, dir).count() == v2.count())
    assert(Files.exists(base) && !Files.exists(old) && !Files.exists(tmp))
    assert(IndexBuilder.overlaidSegments(dir).isEmpty) // folded in
    assert(IndexBuilder.verifyIngestion(spark, dir, v2) == 0L)

    // --- crash state B: base renamed away but the merged copy is
    // incomplete (no _SUCCESS) → restore the pre-compact base; the
    // overlays are still live and the view is unchanged ---
    IndexBuilder.build(spark, v3, cfg) // fresh overlays on the compacted base
    assert(IndexBuilder.overlaidSegments(dir).nonEmpty)
    Files.createDirectories(tmp) // partial merge, no _SUCCESS
    Files.move(base, old, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    assert(IndexBuilder.readDocs(spark, dir).count() == v3.count())
    assert(Files.exists(base) && !Files.exists(old) && !Files.exists(tmp))
    assert(IndexBuilder.overlaidSegments(dir).nonEmpty) // kept
    assert(IndexBuilder.verifyIngestion(spark, dir, v3) == 0L)

    // --- crash state C: both renames done, cleanup not (base live,
    // precompact copy and overlays still on disk) → a later build/
    // compact drops the stale copy but keeps the overlay dir (its
    // entries may include LIVE post-crash deltas) ---
    Incremental.compact(spark, dir)
    Files.createDirectories(old.resolve("leftover"))
    val rep = IndexBuilder.build(spark, v3, cfg) // triggers recovery
    assert(!Files.exists(old))
    assert(rep.nDocs == v3.count())
    assert(IndexBuilder.verifyIngestion(spark, dir, v3) == 0L)
  }

  private def copyDir(src: String, dst: String): Unit = {
    graft.store.Manifest.deleteRecursively(Paths.get(dst))
    Files.walk(Paths.get(src)).iterator().asScala.foreach { p =>
      Files.copy(p, Paths.get(dst).resolve(Paths.get(src).relativize(p).toString),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  test("an atomicSet that writes a new staging base converges from each crash state of its base write") {
    val pre = tmpDir("rebase-pre"); val ref = tmpDir("rebase-ref"); val fullDir = tmpDir("rebase-full")
    val cfg = BuildConfig(pre, nSegments = 4, waveSize = 4, autoCompactFraction = 0.5)
    IndexBuilder.build(spark, v1, cfg)
    def firstKey(seg: Int) = IndexBuilder.readDocs(spark, pre).filter(col("segment") === seg)
      .orderBy("doc_id").select("conv_id", "turn_idx").as[(String, Int)].head()
    // patch A overlays segment 0 (1 of 4 segments); patch B touches
    // segments 1 and 2, so overlays would cover 3 > 0.5 × 4: B writes a
    // new base that folds A's overlay in
    val Seq(a, b1, b2) = Seq(0, 1, 2).map(firstKey)
    Incremental.atomicSet(spark, cfg, Seq((a._1, a._2, "rebase patch alpha rebaseword"))
      .toDF("conv_id", "turn_idx", "text"))
    assert(IndexBuilder.overlaidSegments(pre) == Set(0))
    val setsB = Seq((b1._1, b1._2, "rebase patch beta rebaseword"), (b2._1, b2._2, "rebase patch gamma"))
      .toDF("conv_id", "turn_idx", "text")
    copyDir(pre, ref)
    Incremental.atomicSet(spark, cfg.copy(outDir = ref), setsB)
    assert(IndexBuilder.overlaidSegments(ref).isEmpty)

    val patched = Map(a -> "rebase patch alpha rebaseword", b1 -> "rebase patch beta rebaseword",
      b2 -> "rebase patch gamma")
    val patchedCorpus = v1.map(t => patched.get((t.conv_id, t.turn_idx)).fold(t)(x => t.copy(text = x)))
    IndexBuilder.build(spark, patchedCorpus, BuildConfig(fullDir, nSegments = 4, waveSize = 4))
    val rf = new IndexReader(spark, fullDir)
    val dictFull = spark.read.parquet(IndexBuilder.dictionaryDir(fullDir)).collect().map(_.toSeq).toSet
    val hashFull = graft.store.Manifest.read(graft.store.Manifest.phaseAPath(IndexBuilder.manifestDir(fullDir)))
      .get("content_hash")

    // the on-disk states of B's apply, each built from the pre-B index:
    // finalize invalidated, STALE rows for segments 1 and 2, and the new
    // base (as B writes it: the reference run's) written aside, then
    // the rename steps up to, not including, the phase A manifest
    def crashState(name: String)(steps: (java.nio.file.Path, java.nio.file.Path, java.nio.file.Path) => Unit): String = {
      val d = tmpDir(s"rebase-$name")
      copyDir(pre, d)
      val mdir = IndexBuilder.manifestDir(d)
      Files.delete(graft.store.Manifest.finalizePath(mdir))
      graft.store.Manifest.appendLedger(mdir, Seq(1, 2).map(s =>
        Map("segment" -> s.toString, "status" -> graft.store.Manifest.Stale)))
      val tmp = Paths.get(d, "_tmp_compact")
      copyDir(IndexBuilder.stagingDir(ref), tmp.toString)
      steps(Paths.get(IndexBuilder.stagingDir(d)), Paths.get(d, "_staging", "docs_precompact"), tmp)
      d
    }
    val move = (from: java.nio.file.Path, to: java.nio.file.Path) =>
      Files.move(from, to, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val states = Seq(
      crashState("aside")((_, _, _) => ()),
      crashState("between-renames")((base, old, _) => move(base, old)),
      crashState("swapped")((base, old, tmp) => { move(base, old); move(tmp, base) }),
      crashState("cleaned")((base, old, tmp) => {
        move(base, old); move(tmp, base)
        graft.store.Manifest.deleteRecursively(base.resolveSibling("seg"))
        graft.store.Manifest.deleteRecursively(old)
      }))
    for (d <- states) {
      Incremental.atomicSet(spark, cfg.copy(outDir = d), setsB)
      val ri = new IndexReader(spark, d)
      assert(ri.stats == rf.stats, d) // n_docs, bit-equal avgdl, n_terms
      assert(spark.read.parquet(IndexBuilder.dictionaryDir(d)).collect().map(_.toSeq).toSet == dictFull, d)
      assert(graft.store.Manifest.read(graft.store.Manifest.phaseAPath(IndexBuilder.manifestDir(d)))
        .get("content_hash") == hashFull, d)
      for (q <- Seq("rebaseword", "rebase patch gamma", "assistant tool error", "user assistant"))
        assert(ri.search(q, 10).map(h => (h.doc_id, h.score)) ==
          rf.search(q, 10).map(h => (h.doc_id, h.score)), s"$d: '$q'")
      assert(IndexBuilder.overlaidSegments(d).isEmpty, d)
      val leftovers = Seq(Paths.get(d, "_staging", "docs_precompact"), Paths.get(IndexBuilder.overlayDir(d))) ++
        Files.list(Paths.get(d)).iterator().asScala.filter(_.getFileName.toString.startsWith("_tmp"))
      assert(!leftovers.exists(Files.exists(_)), s"$d: ${leftovers.filter(Files.exists(_))}")
    }
  }

  test("delta from an empty index = initial load; rerun of same source is a no-op") {
    val dir = tmpDir("inc-empty")
    val cfg = BuildConfig(dir, nSegments = 4, waveSize = 4)
    IndexBuilder.build(spark, spark.emptyDataset[Turn], cfg)
    // append everything to the empty index via the delta path
    val rep = IndexBuilder.build(spark, v1, cfg)
    assert(rep.nDocs == v1.count())
    val rdr = new IndexReader(spark, dir)
    assert(rdr.search("assistant", 5).nonEmpty)
    // same source again → pure resume, nothing rebuilt
    val rep2 = IndexBuilder.build(spark, v1, cfg)
    assert(rep2.segmentsBuilt == 0)
  }
}
