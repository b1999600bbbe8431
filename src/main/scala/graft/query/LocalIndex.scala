package graft.query

import graft.analysis.Analyzer
import graft.model.{CorpusStats, PostingBlockRow, QueryHit}
import graft.store.LocalParquet.TermFilter
import org.apache.spark.sql.SparkSession

/**
 * Serving mode: the whole index (compressed posting blocks +
 * dictionary + stats) loaded once into one process, queries answered
 * in-process with block-max WAND — no Spark job per query.
 *
 * This matches how the reference's sink actually serves: JesterJ
 * ships documents to Solr/OpenSearch and QUERIES are answered by a
 * Lucene node from its local index at millisecond latency — the
 * Spark cluster builds the index, a serving node answers queries.
 * [[IndexReader]] is the cluster path (index >> one machine's RAM,
 * scan pruned to the query terms); LocalIndex is the single-node
 * path (index fits a serving node: blocks stay VByte-COMPRESSED in
 * memory, ~2-3 bytes/posting, so ~10^10 postings/node).
 *
 * Correctness: segments are contiguous docId ranges, so each term's
 * blocks ordered by max_doc_id across ALL segments form one globally
 * docId-sorted posting list — the same [[Wand]] cursors run over the
 * whole corpus directly, and scores are bit-identical to the
 * distributed reader (same summation order, same tie-break).
 */
class LocalIndex private (stats: CorpusStats,
                          dfs: java.util.HashMap[String, Long],
                          byTerm: java.util.HashMap[String, IndexedSeq[PostingBlockRow]],
                          positionsStored: Boolean = true,
                          cfs: java.util.HashMap[String, Long] =
                            new java.util.HashMap[String, Long](),
                          totalTokens: Long = -1L) {

  val analyzer: Analyzer = Analyzer.parse(stats.analyzer)
  def nDocs: Long = stats.n_docs
  def nTerms: Long = stats.n_terms

  /** The corpus vocabulary (dictionary terms), sorted — the local
    * analog of the cluster dictionary scan the expansions run
    * against. */
  private lazy val vocab: Array[String] = {
    val a = new Array[String](dfs.size)
    val it = dfs.keySet().iterator()
    var i = 0
    while (it.hasNext) { a(i) = it.next(); i += 1 }
    java.util.Arrays.sort(a, java.util.Comparator.naturalOrder[String])
    a
  }

  /** The cluster reader's lowering, over the in-memory dictionary. */
  private val lowering = new Lowering(analyzer, stats, new TermSource {
    def docFreqs(terms: Seq[String]): Map[String, Long] =
      terms.iterator.filter(dfs.containsKey).map(t => t -> dfs.get(t)).toMap
    def expand(es: Seq[Shape.Expansion]): Seq[String] =
      vocab.iterator.filter(t => es.exists(_.matches(t))).toSeq
  }, positionsStored)

  private def blocksOf(terms: Seq[String]): Plan.Blocks =
    terms.iterator.flatMap(t => Option(byTerm.get(t)).map(t -> _)).toMap

  /** The local executor: the lowered plan over the whole-corpus
    * blocks — each term's blocks in global docId order form one
    * posting list, so the same kernel scores bit-identically. */
  private def run(shape: Shape, k: Int, allow: Long => Boolean = null): Vector[QueryHit] =
    lowering.lower(Seq(shape)).head match {
      case Some(p) =>
        val top = new Wand.TopKMerger(k)
        p.run(blocksOf(p.terms), stats.avgdl, top, allow)
        top.result
      case None => Vector.empty
    }

  /** In-process BM25 top-k; bit-identical to IndexReader.search. */
  def search(query: String, k: Int = 10): Vector[QueryHit] = run(lowering.free(query), k)

  /** In-process metadata-filtered BM25 top-k: `allow` vetoes docIDs
    * after cursor alignment, before the collector (the [[Wand.topK]]
    * filter hook) — exact over the allowed set, like
    * IndexReader.searchWhere with the predicate already resolved to a
    * docID test (a serving node holds doc metadata in memory; the
    * cluster path resolves a Column predicate against doc_stats). */
  def searchWhere(query: String, allow: Long => Boolean,
                  k: Int = 10): Vector[QueryHit] = run(lowering.free(query), k, allow)

  /** In-process Dirichlet-LM top-k (the second scorer): the same
    * per-term max(0, ln(1 + tf/(μ·p)) + ln(μ/(dl+μ))) arithmetic as
    * [[Wand.scoredDocIdsDirichlet]] over the whole-corpus cursors —
    * bit-identical to sorting IndexReader.scoredDocsDirichlet's match
    * set. Requires a FULL load (`totalTokens` = Σ cf needs the whole
    * dictionary; [[LocalIndex.loadTerms]] partial caches serve BM25
    * only). In-process the match set is already resident, so
    * score-all + sort is the right shape. */
  def searchDirichlet(query: String, mu: Double = 2000.0,
                      k: Int = 10): Vector[QueryHit] = {
    val terms = lowering.terms(query)
    if (terms.isEmpty || stats.n_docs == 0) return Vector.empty
    val blocks = blocksOf(terms)
    if (blocks.isEmpty) return Vector.empty
    require(totalTokens > 0,
      "searchDirichlet requires a fully-loaded index (LocalIndex.load)")
    val ps = terms.filter(cfs.containsKey).map(t => t -> (cfs.get(t).toDouble / totalTokens)).toMap
    Wand.scoredDocIdsDirichlet(blocks, ps, mu)
      .toVector.sorted(BM25.hitOrdering).take(k)
      .map { case (id, s) => QueryHit(id, s) }
  }

  /** In-process prefix query; same expansion + scoring as
    * IndexReader.searchPrefix (bit-identical hits). */
  def searchPrefix(prefix: String, k: Int = 10,
                   maxExpansions: Int = 1024): Vector[QueryHit] =
    run(Shape.Or(Seq(Shape.prefix(prefix, maxExpansions))), k)

  /** In-process wildcard query; same glob semantics as
    * IndexReader.searchWildcard. */
  def searchWildcard(pattern: String, k: Int = 10,
                     maxExpansions: Int = 1024): Vector[QueryHit] =
    run(Shape.Or(Seq(Shape.wildcard(pattern, maxExpansions))), k)

  /** In-process fuzzy query; same Levenshtein expansion as
    * IndexReader.searchFuzzy ([[Shape.editDistance]] is the
    * same unit-cost distance as the engines'). */
  def searchFuzzy(term: String, maxEdits: Int = 2, k: Int = 10,
                  maxExpansions: Int = 1024): Vector[QueryHit] =
    run(Shape.Or(Seq(Shape.fuzzy(term, maxEdits, maxExpansions))), k)

  /** In-process query-time term boosting; same boost×idf pre-kernel
    * scaling as IndexReader.searchBoosted. */
  def searchBoosted(boosts: Seq[(String, Double)], k: Int = 10): Vector[QueryHit] =
    run(lowering.boosted(boosts), k)

  /** In-process query string; bit-identical to IndexReader.searchParsed. */
  def searchParsed(q: String, k: Int = 10, maxExpansions: Int = 1024): Vector[QueryHit] =
    run(lowering.parsed(q, maxExpansions), k)

  /** In-process minimum-should-match; bit-identical to
    * IndexReader.searchMinShouldMatch. */
  def searchMinShouldMatch(query: String, minMatch: Int,
                           k: Int = 10): Vector[QueryHit] =
    run(lowering.free(query, minMatch), k)

  /** In-process two-term unordered proximity; bit-identical to
    * IndexReader.searchNearUnordered. */
  def searchNearUnordered(termA: String, termB: String, slop: Int,
                          k: Int = 10): Vector[QueryHit] =
    run(lowering.nearUnordered(termA, termB, slop), k)

  /** In-process boolean (AND/NOT) BM25 top-k; bit-identical to
    * IndexReader.searchBoolean. */
  def searchBoolean(mustQuery: String, notQuery: String = "",
                    k: Int = 10): Vector[QueryHit] =
    run(lowering.boolean(mustQuery, notQuery), k)

  /** In-process exact phrase top-k over the v3 positional postings;
    * bit-identical to IndexReader.searchPhrase. */
  def searchPhrase(phrase: String, k: Int = 10): Vector[QueryHit] =
    searchNear(phrase, 0, k)

  /** In-process ordered proximity top-k (slop 0 = exact phrase);
    * bit-identical to IndexReader.searchNear. */
  def searchNear(phrase: String, slop: Int, k: Int = 10): Vector[QueryHit] =
    run(lowering.near(phrase, slop), k)
}

object LocalIndex {

  /** Load a built index for serving: the dictionary and every
    * segment's postings read in-process on the driver through
    * [[graft.store.LocalParquet]], with no Spark job; blocks stay
    * compressed. An index whose segments hold no postings (an
    * all-empty-text corpus) loads as an empty index. `spark` is not
    * used: the files are read in place. */
  def load(spark: SparkSession, dir: String): LocalIndex = {
    val root = IndexReader.localDir(dir)
    val stats = IndexReader.readStats(root)
    val dfs = new java.util.HashMap[String, Long]()
    val cfs = new java.util.HashMap[String, Long]()
    var totalTokens = 0L
    IndexReader.dictionary(IndexReader.dictionaryFiles(root), None, Set("term", "df", "cf"))(
      r => (r[String]("term"), r[Long]("df"), r[Long]("cf"))).foreach {
      case (t, df, cf) => dfs.put(t, df); cfs.put(t, cf); totalTokens += cf
    }
    new LocalIndex(stats, dfs, blocks(root, None),
      IndexReader.positionsStored(root), cfs, totalTokens)
  }

  /** Load only the blocks for a term subset (partial serving cache —
    * e.g. the head of the query-log distribution), read in-process
    * like [[load]]. */
  def loadTerms(spark: SparkSession, dir: String, terms: Seq[String]): LocalIndex = {
    val root = IndexReader.localDir(dir)
    val stats = IndexReader.readStats(root)
    val dfs = new java.util.HashMap[String, Long]()
    IndexReader.dictionaryLookup(IndexReader.dictionaryFiles(root), terms, "df")
      .foreach { case (t, df) => dfs.put(t, df) }
    new LocalIndex(stats, dfs, blocks(root, Some(TermFilter.in(terms.toSet))),
      IndexReader.positionsStored(root))
  }

  /** Every segment's blocks of the terms `filter` keeps, each term's in
    * global docId order: segments are docId ranges, so (max_doc_id)
    * ascends across segment boundaries too. */
  private def blocks(dir: String, filter: Option[TermFilter]): java.util.HashMap[String, IndexedSeq[PostingBlockRow]] = {
    type Bs = IndexedSeq[PostingBlockRow]
    val acc = new java.util.HashMap[String, Bs]()
    IndexReader.segments(dir).foreach { case (seg, files) =>
      IndexReader.segmentBlocks(seg, files, filter, Set.empty).foreach { case (t, bs) =>
        acc.merge(t, bs, (a: Bs, b: Bs) => a ++ b)
      }
    }
    acc.replaceAll((_: String, bs: Bs) => bs.sortBy(_.max_doc_id))
    acc
  }
}
