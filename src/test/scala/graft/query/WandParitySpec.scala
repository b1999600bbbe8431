package graft.query

import graft.analysis.Tokenizer
import graft.index.TermBlocks
import graft.model.{PostingBlockRow, QueryHit}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/**
 * Rank parity of block-max WAND against the brute-force exact BM25
 * oracle, on an in-memory corpus — pure Scala, no Spark. Scores must
 * be BIT-IDENTICAL doubles (same summation order), ranks identical
 * under (score desc, docId asc).
 */
class WandParitySpec extends AnyFunSuite {

  // deterministic synthetic corpus: zipf-ish vocab, multi-segment
  private val rng = new java.util.SplittableRandom(4242)
  private val vocab = Array.tabulate(300)(i => s"w$i")
  private def zipfWord(): String = {
    // crude zipf: word index ~ floor(300 * u^3)
    val u = rng.nextDouble()
    vocab(math.min(299, (300 * u * u * u).toInt))
  }
  private val docs: Vector[(Long, String)] = (0L until 2000L).map { id =>
    val n = 3 + rng.nextInt(60)
    (id, (0 until n).map(_ => zipfWord()).mkString(" "))
  }.toVector

  private val docTfs = docs.map { case (id, text) =>
    (id, Tokenizer.docLength(text), Tokenizer.termFreqs(text))
  }
  private val nDocs = docs.length.toLong
  private val avgdl = docTfs.map(_._2).sum.toDouble / nDocs
  private val dfs: Map[String, Long] = {
    val m = mutable.HashMap.empty[String, Long]
    docTfs.foreach { case (_, _, tfs) => tfs.keys.foreach(t => m.update(t, m.getOrElse(t, 0L) + 1)) }
    m.toMap
  }

  /** Build segmented posting blocks exactly like the index builder. */
  private def buildSegments(nSegments: Int): Map[Int, Map[String, IndexedSeq[PostingBlockRow]]] = {
    val segSize = math.max(1L, (nDocs + nSegments - 1) / nSegments)
    docTfs.groupBy { case (id, _, _) => (id / segSize).toInt }.map { case (seg, ds) =>
      val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Int, Int)]]
      ds.sortBy(_._1).foreach { case (id, dl, tfs) =>
        tfs.foreach { case (t, tf) =>
          byTerm.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((id, tf, dl))
        }
      }
      seg -> byTerm.map { case (t, ps) =>
        t -> TermBlocks.encodeTerm(t, seg, ps.map(_._1).toArray,
          ps.map(_._2).toArray, ps.map(_._3).toArray).toIndexedSeq
      }.toMap
    }
  }

  /** One kernel run into a fresh collector of `k`. */
  private def collect(k: Int)(run: Wand.TopKMerger => Unit): Vector[QueryHit] = {
    val top = new Wand.TopKMerger(k)
    run(top)
    top.result
  }

  /** One kernel run into a collector already holding `k` hits at
    * score 1e9 (docIds below every real one): the hits the run added,
    * after checking it displaced none of those. */
  private def unbeatable(k: Int)(run: Wand.TopKMerger => Unit): Vector[QueryHit] = {
    val top = new Wand.TopKMerger(k)
    (1 to k).foreach(i => top.offer(-i, 1e9))
    run(top)
    val (seed, added) = top.result.partition(_.doc_id < 0)
    assert(seed.size == k && seed.forall(_.score == 1e9))
    added
  }

  private def wandSearch(segments: Map[Int, Map[String, IndexedSeq[PostingBlockRow]]],
                         query: String, k: Int, mm: Int = 1): Vector[QueryHit] = {
    val terms = Tokenizer.tokenize(query).distinct.sorted
    val idfs = terms.map(t => t -> BM25.idf(dfs.getOrElse(t, 0L), nDocs)).toMap
    val perSeg = segments.values.flatMap { byTerm =>
      val tb = byTerm.filter { case (t, _) => terms.contains(t) }
      if (tb.isEmpty) Vector.empty
      else collect(k)(Wand.topK(tb, idfs, avgdl, _, minMatch = mm))
    }.toVector
    perSeg.sortBy(h => (-h.score, h.doc_id)).sorted(new Ordering[QueryHit] {
      def compare(a: QueryHit, b: QueryHit): Int =
        BM25.hitOrdering.compare((a.doc_id, a.score), (b.doc_id, b.score))
    }).take(k)
  }

  private val queries = Seq(
    "w0", "w1 w2", "w0 w1 w2 w3", "w10 w50", "w100 w200 w299",
    "w299", "w250 w251 w252 w253", "w5 w5 w5", // duplicate terms
    "w0 w0 w299", "missingterm", "w42 missingterm", "w7 w13 w77 w133",
    "w1 w2 w3 w4 w5 w6 w7 w8", "w150", "w222 w111", "w9 w99 w199",
    "w33", "w66 w67", "w88 w188 w288", "w12 w123")

  for (nSeg <- Seq(1, 4, 16)) {
    test(s"WAND rank + score parity vs brute-force oracle ($nSeg segments, k=10)") {
      val segments = buildSegments(nSeg)
      queries.foreach { q =>
        val terms = Tokenizer.tokenize(q).distinct.sorted
        val expect = BM25Oracle.bruteForceTopK(terms, docTfs, dfs, nDocs, avgdl, 10)
        val got = wandSearch(segments, q, 10).map(h => (h.doc_id, h.score))
        assert(got == expect, s"query '$q' ($nSeg segments)")
      }
    }
  }

  /** Exact minimum-should-match oracle: docs matching ≥ m query terms,
    * scored over the matching terms in ascending term order (the
    * engine's summation contract). */
  private def bruteForceMm(queryTerms: Seq[String], m: Int,
                           k: Int): Vector[(Long, Double)] = {
    val terms = queryTerms.distinct.sorted
    docTfs.iterator.flatMap { case (docId, dl, tfs) =>
      var s = 0.0
      var matched = 0
      terms.foreach { t =>
        val tf = tfs.getOrElse(t, 0)
        if (tf > 0) {
          matched += 1
          s += BM25.score(tf, dl, dfs.getOrElse(t, 0L), nDocs, avgdl)
        }
      }
      if (matched >= m) Iterator.single((docId, s)) else Iterator.empty
    }.toVector.sorted(BM25.hitOrdering).take(k)
  }

  for (nSeg <- Seq(1, 4, 16)) {
    test(s"minimum-should-match parity vs brute-force oracle ($nSeg segments, k=10)") {
      val segments = buildSegments(nSeg)
      val mmQueries = Seq(
        ("w0 w1 w2 w3", 2), ("w0 w1 w2 w3", 3), ("w1 w2", 2),
        ("w10 w50 w100", 2), ("w100 w200 w299", 2),
        ("w250 w251 w252 w253", 3), ("w7 w13 w77 w133", 2),
        ("w1 w2 w3 w4 w5 w6 w7 w8", 3), ("w1 w2 w3 w4 w5 w6 w7 w8", 5),
        ("w42 missingterm", 2), // absent term never counts toward mm
        ("w5 w5 w5", 1)) // duplicate terms collapse before mm applies
      mmQueries.foreach { case (q, m) =>
        val terms = Tokenizer.tokenize(q).distinct.sorted
        val expect = bruteForceMm(terms, m, 10)
        val got = wandSearch(segments, q, 10, mm = m).map(h => (h.doc_id, h.score))
        assert(got == expect, s"query '$q' mm=$m ($nSeg segments)")
      }
    }
  }

  test("mm=1 equals plain disjunction; mm=n equals conjunction; mm>n empty") {
    val segments = buildSegments(4)
    val q = "w0 w1 w2 w3"
    val terms = Tokenizer.tokenize(q).distinct.sorted
    assert(wandSearch(segments, q, 10, mm = 1).map(h => (h.doc_id, h.score)) ==
      wandSearch(segments, q, 10).map(h => (h.doc_id, h.score)))
    // mm = n is the full conjunction: bit-identical scores to the
    // leapfrog scorer (same ascending-term summation order)
    val idfs = terms.map(t => t -> BM25.idf(dfs.getOrElse(t, 0L), nDocs)).toMap
    val conj = segments.values.flatMap { byTerm =>
      val tb = byTerm.filter { case (t, _) => terms.contains(t) }
      collect(10)(Wand.topKConjunctive(tb, Map.empty, idfs, avgdl, _, terms))
    }.toVector.sorted(new Ordering[QueryHit] {
      def compare(a: QueryHit, b: QueryHit): Int =
        BM25.hitOrdering.compare((a.doc_id, a.score), (b.doc_id, b.score))
    }).take(10).map(h => (h.doc_id, h.score))
    assert(wandSearch(segments, q, 10, mm = 4).map(h => (h.doc_id, h.score)) == conj)
    assert(conj.nonEmpty)
    assert(wandSearch(segments, q, 10, mm = 5).isEmpty)
    // an unbeatable carried-in θ returns empty, never sub-threshold hits
    val tb = segments(0).filter { case (t, _) => terms.contains(t) }
    assert(unbeatable(10)(Wand.topK(tb, idfs, avgdl, _, minMatch = 2)).isEmpty)
  }

  test("k larger than hit count returns all hits, ranked") {
    val segments = buildSegments(4)
    val got = wandSearch(segments, "w299", 100000).map(h => (h.doc_id, h.score))
    val expect = BM25Oracle.bruteForceTopK(Seq("w299"), docTfs, dfs, nDocs, avgdl, 100000)
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("conjunctive early termination parity: a declining-score tail cannot displace the top-k") {
    // tf of both terms is high for the first docs and 1 afterwards,
    // while dl grows with docId → per-doc scores strictly decline, so
    // once the heap fills, the suffix block-max bound of the remaining
    // blocks falls below θ and topKConjunctive must EXIT EARLY (40
    // blocks here; the exit fires within the first few). Parity with
    // the exhaustive per-doc computation proves the exit never drops a
    // qualifying hit; the NOT variant proves the veto path survives it.
    val n = 5000
    val ids = Array.tabulate(n)(_.toLong)
    val tfs = Array.tabulate(n)(i => if (i < 20) 8 else 1)
    val dls = Array.tabulate(n)(i => 10 + i / 10)
    val blkA = TermBlocks.encodeTerm("aa", 0, ids, tfs, dls).toIndexedSeq
    val blkB = TermBlocks.encodeTerm("bb", 0, ids, tfs, dls).toIndexedSeq
    assert(blkA.length >= 30) // genuinely multi-block (exit has room to fire)
    val cAvgdl = dls.map(_.toDouble).sum / n
    val idfs = Map("aa" -> BM25.idf(n, n * 2L), "bb" -> BM25.idf(n, n * 2L))
    def exhaustive(excl: Long => Boolean): Vector[(Long, Double)] =
      ids.toVector.filterNot(excl).map { id =>
        val i = id.toInt
        val s = idfs("aa") * BM25.tfNorm(tfs(i), dls(i), cAvgdl) +
          idfs("bb") * BM25.tfNorm(tfs(i), dls(i), cAvgdl)
        (id, s)
      }.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = collect(10)(Wand.topKConjunctive(Map("aa" -> blkA, "bb" -> blkB), Map.empty,
      idfs, cAvgdl, _, Seq("aa", "bb"))).map(h => (h.doc_id, h.score))
    assert(got == exhaustive(_ => false))
    // with a NOT term excluding part of the head
    val notIds = ids.filter(_ % 3 == 0)
    val blkN = TermBlocks.encodeTerm("nn", 0, notIds,
      Array.fill(notIds.length)(1), notIds.map(i => dls(i.toInt))).toIndexedSeq
    val gotNot = collect(10)(Wand.topKConjunctive(Map("aa" -> blkA, "bb" -> blkB),
      Map("nn" -> blkN), idfs, cAvgdl, _, Seq("aa", "bb"))).map(h => (h.doc_id, h.score))
    assert(gotNot == exhaustive(_ % 3 == 0))
    // a θ carried in from another segment that nothing here can beat
    // must return empty, not hits below the shared threshold
    val none = unbeatable(10)(Wand.topKConjunctive(Map("aa" -> blkA, "bb" -> blkB), Map.empty,
      idfs, cAvgdl, _, Seq("aa", "bb")))
    assert(none.isEmpty)
  }

  test("ties broken by docId asc (identical docs, identical scores)") {
    // construct a corpus with exact duplicates
    val dup = Vector.tabulate(20)(i => (i.toLong, "alpha beta gamma"))
    val dupTfs = dup.map { case (id, t) => (id, Tokenizer.docLength(t), Tokenizer.termFreqs(t)) }
    val ddfs = Map("alpha" -> 20L, "beta" -> 20L, "gamma" -> 20L)
    val davg = 3.0
    val blocks = Map("alpha" -> TermBlocks.encodeTerm("alpha", 0,
      dup.map(_._1).toArray, Array.fill(20)(1), Array.fill(20)(3)).toIndexedSeq)
    val idfs = Map("alpha" -> BM25.idf(20, 20))
    val got = collect(5)(Wand.topK(blocks, idfs, davg, _))
    val expect = BM25Oracle.bruteForceTopK(Seq("alpha"), dupTfs, ddfs, 20, davg, 5)
    assert(got.map(h => (h.doc_id, h.score)) == expect)
    assert(got.map(_.doc_id) == Vector(0L, 1L, 2L, 3L, 4L)) // docId asc among ties
  }
}
