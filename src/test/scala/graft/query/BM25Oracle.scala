package graft.query

/** The brute-force BM25 oracle the parity specs hold the engine to. No
  * production path calls it: it scores every document independently of
  * the index, cursors and lowering, in the engine's summation order. */
object BM25Oracle {

  /**
   * Brute-force exact oracle: score every document against the query
   * terms (distinct, sorted) and return top-k under
   * [[BM25.hitOrdering]]. Used by the parity test suite (SURVEY.md §5)
   * and as the correctness reference for WAND.
   *
   * @param docs (docId, dl, termFreqs) for every doc in the corpus
   * @param dfs  per-term document frequency
   */
  def bruteForceTopK(queryTerms: Seq[String],
                     docs: Iterable[(Long, Int, collection.Map[String, Int])],
                     dfs: collection.Map[String, Long],
                     nDocs: Long, avgdl: Double, k: Int): Seq[(Long, Double)] = {
    val terms = queryTerms.distinct.sorted
    val hits = docs.iterator.flatMap { case (docId, dl, tfs) =>
      var s = 0.0
      var matched = false
      terms.foreach { t =>
        val tf = tfs.getOrElse(t, 0)
        if (tf > 0) {
          matched = true
          s += BM25.score(tf, dl, dfs.getOrElse(t, 0L), nDocs, avgdl)
        }
      }
      if (matched) Iterator.single((docId, s)) else Iterator.empty
    }.toVector
    hits.sorted(BM25.hitOrdering).take(k)
  }
}
