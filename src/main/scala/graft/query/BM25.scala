package graft.query

/**
 * BM25 scoring, Lucene `BM25Similarity` semantics with its default
 * parameters k1=1.2, b=0.75 — the similarity both of the reference's
 * sink engines (Solr, OpenSearch) use out of the box, which is what
 * "rank-identical to the reference" means (SURVEY.md §2.7).
 *
 *   idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
 *   tfNorm(t,d) = tf / (tf + k1 * (1 - b + b * dl/avgdl))
 *   score(t,d)  = idf(t) * tfNorm(t,d)
 *
 * (Lucene 8+ dropped the classic (k1+1) numerator factor as
 * rank-preserving; we follow.)
 *
 * Determinism contract: a document's score is the sum of per-term
 * contributions accumulated in ASCENDING TERM ORDER — both the engine
 * (Wand) and the specs' brute-force oracle (`BM25Oracle`, in the test
 * sources) use this exact summation order, so scores are bit-identical
 * doubles, making "rank-identical" (score desc, docId asc)
 * well-defined.
 */
object BM25 extends Serializable {
  val K1: Double = 1.2
  val B: Double = 0.75

  def idf(df: Long, nDocs: Long): Double =
    math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))

  def tfNorm(tf: Int, dl: Int, avgdl: Double): Double =
    tf / (tf + K1 * (1.0 - B + B * dl / avgdl))

  def score(tf: Int, dl: Int, df: Long, nDocs: Long, avgdl: Double): Double =
    idf(df, nDocs) * tfNorm(tf, dl, avgdl)

  /** Total order on results: score desc, docId asc. */
  val hitOrdering: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
    override def compare(a: (Long, Double), b: (Long, Double)): Int = {
      val c = java.lang.Double.compare(b._2, a._2) // score desc
      if (c != 0) c else java.lang.Long.compare(a._1, b._1) // docId asc
    }
  }
}
