package graft.analysis

/**
 * A named, serializable analysis chain — the engine's equivalent of
 * the reference's Solr fieldType chains
 * (`/root/reference/code/ingest/src/test/resources/solr/configsets/preanalyze/conf/schema.xml:39-60`:
 * StandardTokenizer → Stop → LowerCase → EnglishPossessive →
 * PorterStem). The chain id is PERSISTED in corpus_stats at build
 * time and re-parsed at query time, so index and query always
 * tokenize identically — the invariant BM25 parity rests on.
 *
 *  - `v1`            lowercase + [a-z0-9] runs (default)
 *  - `v1+stop`       + English stopword removal
 *  - `v1+stem`       + Porter stemming
 *  - `v1+stop+stem`  both (the reference's text_en analog)
 */
case class Analyzer(stop: Boolean = false, stem: Boolean = false) extends Serializable {

  val id: String =
    "v1" + (if (stop) "+stop" else "") + (if (stem) "+stem" else "")

  def tokenize(text: String): IndexedSeq[String] =
    Tokenizer.analyze(text,
      stopwords = if (stop) Tokenizer.EnglishStopwords else Set.empty,
      stem = stem)

  def docLength(text: String): Int =
    if (!stop && !stem) Tokenizer.docLength(text) else tokenize(text).length

  def termFreqs(text: String): collection.Map[String, Int] = {
    val m = collection.mutable.HashMap.empty[String, Int]
    tokenize(text).foreach(t => m.update(t, m.getOrElse(t, 0) + 1))
    m
  }

  /** Per-doc term → positions in the ANALYZED stream (stopword chains
    * renumber — position = index among surviving tokens, matching the
    * query-side tokenization of the same chain). tf = position count. */
  def termPositions(text: String): collection.Map[String, Tokenizer.IntBuf] = {
    val m = collection.mutable.HashMap.empty[String, Tokenizer.IntBuf]
    tokenize(text).iterator.zipWithIndex.foreach { case (t, i) =>
      m.getOrElseUpdate(t, new Tokenizer.IntBuf).add(i) }
    m
  }
}

object Analyzer {
  val V1: Analyzer = Analyzer()
  val TextEn: Analyzer = Analyzer(stop = true, stem = true)

  def parse(id: String): Analyzer =
    Analyzer(stop = id.contains("+stop"), stem = id.contains("+stem"))
}
