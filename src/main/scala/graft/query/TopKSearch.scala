package graft.query

import graft.model.QueryHit

/**
 * The top-k method set both executors serve: each method names one
 * [[QuerySpec]] and hands it to [[topK]], which [[IndexReader]] answers
 * with one Spark job over the segments and [[LocalIndex]] in process.
 * Both lower the spec with the same [[Lowering]] and score with the
 * same [[Wand]] kernels, so the two give bit-identical hits. Hits are
 * ordered (score desc, docId asc); a query term's score sums in
 * ascending term order.
 */
trait TopKSearch {

  /** The executor: the top `k` hits of `spec`; `method` names the call
    * (the cluster reader describes its job `graft:<method>`). */
  protected[query] def topK(method: String, spec: QuerySpec, k: Int): Vector[QueryHit]

  /** Top-k hits for a free-text query: a BM25 disjunction of its
    * analyzed terms. */
  def search(query: String, k: Int = 10): Vector[QueryHit] =
    topK("search", QuerySpec.Free(query), k)

  /**
   * Prefix (trailing-wildcard) top-k — Lucene PrefixQuery under its
   * SCORING_BOOLEAN rewrite: the prefix expands against the dictionary
   * to its matching terms (never a postings read), and the expansion
   * lowers to one disjunction with each expanded term keeping its own
   * idf. The prefix is lowercased but NOT analyzed (Lucene
   * wildcard-term semantics — stemming a partial term would corrupt
   * it); a trailing `*` is accepted and stripped. More than
   * `maxExpansions` matching terms throws rather than silently
   * truncating the match set — lengthen the prefix or raise the cap.
   */
  def searchPrefix(prefix: String, k: Int = 10,
                   maxExpansions: Int = 1024): Vector[QueryHit] =
    topK("searchPrefix", QuerySpec.Prefix(prefix, maxExpansions), k)

  /**
   * Wildcard top-k — Lucene WildcardQuery under the same
   * scoring-boolean rewrite as [[searchPrefix]]: the glob pattern
   * (`*` = any run, `?` = one character) expands against the
   * dictionary and the expansion lowers to one disjunction with each
   * expanded term keeping its own idf. The pattern's literal prefix
   * (the characters before the first wildcard) is a term range, so
   * only that slice of the sorted dictionary meets the anchored regex;
   * a leading-wildcard pattern is accepted and tests every term
   * (exactly Lucene's cost caveat). The pattern is lowercased but NOT
   * analyzed (Lucene wildcard-term semantics). More than
   * `maxExpansions` matching terms throws rather than silently
   * truncating the match set.
   */
  def searchWildcard(pattern: String, k: Int = 10,
                     maxExpansions: Int = 1024): Vector[QueryHit] =
    topK("searchWildcard", QuerySpec.Wildcard(pattern, maxExpansions), k)

  /**
   * Fuzzy top-k — Lucene FuzzyQuery under the same scoring-boolean
   * rewrite as [[searchPrefix]]: the term expands against the
   * dictionary to every vocabulary term within `maxEdits` Levenshtein
   * edits ([[Shape.editDistance]], which gives up as soon as a whole DP
   * row exceeds `maxEdits`), and the expansion lowers to one
   * disjunction with each expanded term keeping its own idf. Lucene
   * proper intersects a Levenshtein automaton with its term FST; this
   * capped scan of the dictionary's terms is that intersection's
   * analog. The term is lowercased but NOT analyzed (Lucene fuzzy-term
   * semantics — stemming a misspelling would corrupt it). More than
   * `maxExpansions` matching terms throws rather than silently
   * truncating the match set. `maxEdits` is capped at 2, Lucene's own
   * bound — beyond 2 edits the expansion stops meaning "typo".
   */
  def searchFuzzy(term: String, maxEdits: Int = 2, k: Int = 10,
                  maxExpansions: Int = 1024): Vector[QueryHit] =
    topK("searchFuzzy", QuerySpec.Fuzzy(term, maxEdits, maxExpansions), k)

  /**
   * Query-time term boosting (Lucene's `term^boost` syntax): each
   * term's score contribution scales by its boost, implemented by
   * scaling the term's idf before it enters the WAND kernel — so
   * every upper bound scales with the contribution and the pruning
   * stays lossless (boosts must be ≥ 0; a 0 boost keeps the term
   * matching at zero score, Lucene's behavior). A boost of 1.0 on
   * every term reproduces [[search]] bit-exactly (×1.0 is exact in
   * IEEE arithmetic). Each input is analyzed singly; one that
   * analyzes to more or fewer than one token throws (boost a phrase
   * by boosting its terms).
   */
  def searchBoosted(boosts: Seq[(String, Double)], k: Int = 10): Vector[QueryHit] =
    topK("searchBoosted", QuerySpec.Boosted(boosts), k)

  /**
   * Query-STRING entry point: Lucene classic syntax, parsed by
   * [[QueryParser]] into one [[QuerySpec]] (its scaladoc has the
   * grammar). Supported shapes (the parser enforces the combinations
   * that have exact semantics rather than silently approximating
   * Lucene's free mixing):
   *
   *  - any `+term` / `-term` present → boolean query: `+` terms AND
   *    plain terms are all required, `-` terms exclude
   *    ([[searchBoolean]]); other clause kinds are rejected.
   *  - a single `"phrase"` / `"phrase"~N` clause → exact phrase /
   *    ordered proximity ([[searchNear]]).
   *  - otherwise (plain, `^boost`, wildcard, `~fuzzy` clauses) → ONE
   *    disjunctive query: wildcards and fuzzies expand against the
   *    dictionary, and per-term boosts SUM across clauses — exactly
   *    Lucene's additive clause scoring, since two SHOULD clauses on
   *    the same term contribute (b₁+b₂)·idf·tfNorm — then everything
   *    runs through the WAND kernel with boost-scaled idfs.
   */
  def searchParsed(q: String, k: Int = 10,
                   maxExpansions: Int = 1024): Vector[QueryHit] =
    topK("searchParsed", QueryParser.parse(q, maxExpansions), k)

  /**
   * Minimum-should-match top-k (the Solr/Lucene `mm` parameter): BM25
   * over documents containing at least `minMatch` of the query's
   * terms, scored over the matching terms only — the middle ground
   * between the pure disjunction ([[search]], mm = 1) and the full
   * conjunction ([[searchBoolean]], mm = n, whose scores it
   * reproduces exactly). Lowers to the disjunction with the
   * mm-extended pivot rule ([[Wand.topK]] `minMatch`).
   *
   * Terms absent from the corpus cannot match and do not count
   * toward `minMatch` (Lucene semantics); if fewer than `minMatch`
   * query terms exist in the corpus the result is empty.
   */
  def searchMinShouldMatch(query: String, minMatch: Int,
                           k: Int = 10): Vector[QueryHit] =
    topK("searchMinShouldMatch", QuerySpec.MinMatch(query, minMatch), k)

  /**
   * Boolean BM25 top-k: every `mustQuery` term required (AND), any
   * `notQuery` term excluding (NOT) — the reference's Solr/Lucene
   * boolean query shape, scored over the must terms only: a leapfrog
   * intersection per segment ([[Wand.topKConjunctive]]).
   */
  def searchBoolean(mustQuery: String, notQuery: String = "",
                    k: Int = 10): Vector[QueryHit] =
    topK("searchBoolean", QuerySpec.Boolean(mustQuery, notQuery), k)

  /**
   * Exact phrase top-k over the positional postings: conjunctive
   * leapfrog over the phrase's distinct terms plus position-list
   * adjacency counting ([[Wand.topKPhrase]]). No candidate cap, no
   * re-read of document text — an all-common-terms phrase costs the
   * conjunction, never a truncated answer. Scoring is Lucene
   * PhraseQuery semantics: tf = phrase frequency, idf = Σ idf(term_i)
   * over the phrase's terms in order (duplicates counted).
   */
  def searchPhrase(phrase: String, k: Int = 10): Vector[QueryHit] =
    topK("searchPhrase", QuerySpec.Phrase(phrase), k)

  /**
   * Ordered proximity top-k (Lucene SpanNearQuery inOrder=true / the
   * sloppy-phrase family): the phrase's terms must appear IN ORDER
   * within a span of at most (m−1)+slop positions; `slop = 0` IS the
   * exact phrase query ([[searchPhrase]]). Same execution as the exact
   * path — conjunctive leapfrog over the distinct terms, then greedy
   * minimal-chain span counting over the position lists
   * ([[Wand.topKPhrase]]) with block-max early termination — and the
   * same PhraseQuery scoring (tf = span count, idf = Σ idf(term_i) in
   * phrase order). Each matching start position counts 1 (the span
   * count — reproducible in plain SQL), not Lucene's 1/(1+dist)
   * sloppyFreq weighting. A one-term phrase is the term query and
   * needs no position lists.
   */
  def searchNear(phrase: String, slop: Int, k: Int = 10): Vector[QueryHit] =
    topK("searchNear", QuerySpec.Phrase(phrase, slop), k)

  /**
   * Two-term UNORDERED proximity top-k (SpanNearQuery inOrder=false):
   * the terms must co-occur within |q − p| ≤ slop + 1 positions in
   * EITHER order — pf counts `termA`'s qualifying occurrences
   * ([[Wand.topKNearUnordered2]]), scored like the phrase family
   * (tf = pf, idf = idf(A) + idf(B)). Each term is analyzed singly and
   * must survive as one distinct token.
   */
  def searchNearUnordered(termA: String, termB: String, slop: Int,
                          k: Int = 10): Vector[QueryHit] =
    topK("searchNearUnordered", QuerySpec.NearUnordered(termA, termB, slop), k)
}
