package graft.index

import graft.SparkFunSuite
import graft.model.Turn
import graft.query.{IndexReader, LocalIndex}
import graft.store.{LocalParquet, Manifest}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** An index held to a fresh build of its model corpus (key → turn). */
trait ModelChecks { self: SparkFunSuite =>
  import graft.SparkTestBase.spark.implicits._

  type Corpus = Map[(String, Int), Turn]

  private var fresh = 0

  /** doc_id → (conv_id, turn_idx, role, text, tool) of `dir`'s staging view. */
  private def docs(dir: String): Map[Long, (String, Int, String, String, String)] =
    IndexBuilder.readDocs(spark, dir).select("doc_id", "conv_id", "turn_idx", "role", "text", "tool")
      .as[(Long, String, Int, String, String, String)].collect()
      .map { case (d, c, t, r, x, o) => d -> ((c, t, r, x, o)) }.toMap

  /** `dir` against a fresh build of `corpus` with `cfg`'s segmenting:
    * the staging view's documents, the phase A content hash, the corpus
    * stats (n_docs, bit-equal avgdl, n_terms), every dictionary row (df,
    * cf), and for each of `queries` the top 5 on [[IndexReader]] and
    * every hit on [[LocalIndex]], with their scores. Documents are
    * compared by key: the two builds number them differently. */
  def assertModel(dir: String, corpus: Corpus, cfg: BuildConfig, queries: Seq[String], ctx: String): Unit = {
    fresh += 1
    val ref = tmpDir(s"model-fresh-$fresh")
    IndexBuilder.build(spark, corpus.values.toSeq.toDS(),
      BuildConfig(ref, nSegments = cfg.nSegments, waveSize = cfg.waveSize))
    val (di, df) = (docs(dir), docs(ref))
    assert(di.values.map { case (c, t, r, x, o) => (c, t) -> ((r, x, o)) }.toMap ==
      corpus.map { case (k, t) => k -> ((t.role, t.text, t.tool)) }, ctx)
    assert(di.size == corpus.size, ctx)
    val hash = corpus.values.foldLeft(0L)((h, t) => h ^ RowHash.turnHash(t))
    assert(Manifest.read(Manifest.phaseAPath(IndexBuilder.manifestDir(dir))).get("content_hash") == hash.toString, ctx)
    val (ri, rf) = (new IndexReader(spark, dir), new IndexReader(spark, ref))
    assert(ri.stats == rf.stats, ctx)
    assert(dictionary(dir) == dictionary(ref), ctx)
    val (li, lf) = (LocalIndex.load(spark, dir), LocalIndex.load(spark, ref))
    def keyed(d: Map[Long, (String, Int, String, String, String)], hits: Seq[graft.model.QueryHit]) =
      hits.map(h => (d(h.doc_id)._1, d(h.doc_id)._2, h.score))
    for (q <- queries) {
      val (a, b) = (keyed(di, ri.search(q, 5)), keyed(df, rf.search(q, 5)))
      assert(a.map(_._3) == b.map(_._3), s"$ctx: '$q' top 5 scores")
      // keys may tie at the 5th score, so only those above it must agree
      val cut = a.lastOption.fold(0.0)(_._3)
      assert(a.filter(_._3 > cut).toSet == b.filter(_._3 > cut).toSet, s"$ctx: '$q' top 5")
      assert(keyed(di, li.search(q, 10000)).toSet == keyed(df, lf.search(q, 10000)).toSet, s"$ctx: '$q' on LocalIndex")
    }
    Manifest.deleteRecursively(Paths.get(ref))
  }

  /** No persisted RDD beyond `before`, and no `_tmp_*` directory in `dir`. */
  def assertClean(dir: String, before: scala.collection.Set[Int], ctx: String): Unit = {
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty, ctx)
    val tmps = Files.list(Paths.get(dir)).iterator().asScala.filter(_.getFileName.toString.startsWith("_tmp")).toSeq
    assert(tmps.isEmpty, s"$ctx: $tmps")
  }

  /** Every (term, df, cf) row of `dir`'s dictionary, read in-process. */
  private def dictionary(dir: String): Set[(String, Long, Long)] =
    LocalParquet.files(Paths.get(IndexBuilder.dictionaryDir(dir))).flatMap(f =>
      LocalParquet.read(f)(r => (r[String]("term"), r[Long]("df"), r[Long]("cf")))).toSet
}
