package graft.query

import graft.analysis.Analyzer
import graft.index.IndexBuilder
import graft.model.{CorpusStats, PostingBlockRow, QueryHit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

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

  /** Load a built index for serving. One pass over dictionary +
    * postings; blocks stay compressed. */
  def load(spark: SparkSession, dir: String): LocalIndex = {
    import spark.implicits._
    val stats = IndexReader.readStats(spark, dir)
    val dfs = new java.util.HashMap[String, Long]()
    val cfs = new java.util.HashMap[String, Long]()
    var totalTokens = 0L
    spark.read.parquet(IndexBuilder.dictionaryDir(dir))
      .select("term", "df", "cf").as[(String, Long, Long)].collect()
      .foreach { case (t, df, cf) =>
        dfs.put(t, df); cfs.put(t, cf); totalTokens += cf
      }
    // small enough to collect → ONE parallel job (every executor
    // decodes its partitions concurrently); genuinely large indexes
    // stream partition-at-a-time instead, trading load speed for a
    // bounded driver fetch (collect would trip
    // spark.driver.maxResultSize and double peak driver memory)
    val postingBytes = {
      val p = java.nio.file.Paths.get(IndexBuilder.postingsDir(dir))
      val s = java.nio.file.Files.walk(p)
      try {
        val it = s.iterator()
        var n = 0L
        while (it.hasNext) { val f = it.next(); if (java.nio.file.Files.isRegularFile(f)) n += java.nio.file.Files.size(f) }
        n
      } finally s.close()
    }
    // the collect() fast path must stay safely under the driver's
    // result-size cap (serialized task results ≥ on-disk size); 0 = no cap
    val maxResult = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.driver.maxResultSize", "1g"))
    val collectCap =
      if (maxResult <= 0) 1L << 30 else math.min(1L << 30, maxResult / 4)
    val acc = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[PostingBlockRow]]()
    def put(b: PostingBlockRow): Unit = {
      var buf = acc.get(b.term)
      if (buf == null) { buf = scala.collection.mutable.ArrayBuffer.empty; acc.put(b.term, buf) }
      buf += b
    }
    // explicit schema: an index whose segment dirs are all empty (an
    // all-empty-text corpus) must load as an empty index, not throw
    // AnalysisException from schema inference — same contract as
    // IndexBuilder.finalizeStats
    val ds = spark.read.schema(IndexBuilder.PostingSchema)
      .parquet(IndexBuilder.postingsDir(dir)).as[PostingBlockRow]
    def stream(): Unit = {
      val it = ds.toLocalIterator()
      while (it.hasNext) put(it.next())
    }
    if (postingBytes > collectCap) stream()
    else try ds.collect().foreach(put)
    catch {
      // on-disk size under-estimates serialized task results for some
      // compression ratios — fall back to the bounded streaming path
      case e: org.apache.spark.SparkException
        if String.valueOf(e.getMessage).contains("maxResultSize") =>
        acc.clear(); stream()
    }
    val byTerm = new java.util.HashMap[String, IndexedSeq[PostingBlockRow]]()
    acc.forEach { (t, rows) =>
      // global docId order: segments are docId ranges, so
      // (max_doc_id) ascends across segment boundaries too
      byTerm.put(t, rows.sortBy(_.max_doc_id).toIndexedSeq)
    }
    new LocalIndex(stats, dfs, byTerm, IndexReader.positionsStored(dir), cfs, totalTokens)
  }

  /** Load only the blocks for a term subset (partial serving cache —
    * e.g. the head of the query-log distribution). */
  def loadTerms(spark: SparkSession, dir: String, terms: Seq[String]): LocalIndex = {
    import spark.implicits._
    val stats = IndexReader.readStats(spark, dir)
    val dfs = new java.util.HashMap[String, Long]()
    IndexReader.dictionaryLookup(IndexReader.dictionaryFiles(dir), terms, "df")
      .foreach { case (t, df) => dfs.put(t, df) }
    val byTerm = new java.util.HashMap[String, IndexedSeq[PostingBlockRow]]()
    spark.read.schema(IndexBuilder.PostingSchema)
      .parquet(IndexBuilder.postingsDir(dir))
      .filter(col("term").isInCollection(terms))
      .as[PostingBlockRow].collect()
      .groupBy(_.term)
      .foreach { case (t, rows) => byTerm.put(t, rows.sortBy(_.max_doc_id).toIndexedSeq) }
    new LocalIndex(stats, dfs, byTerm, IndexReader.positionsStored(dir))
  }
}
