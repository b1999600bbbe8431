package graft.query

import graft.index.PostingCodec
import graft.model.{PostingBlockRow, QueryHit}

import scala.collection.mutable

/**
 * Block-max WAND top-k over docId-ordered posting blocks (Broder et
 * al., "Efficient query evaluation using a two-level retrieval
 * process", CIKM'03; Ding & Suel's block-max refinement, SIGIR'11 —
 * both public literature), and the full match sets of the relational
 * paths.
 *
 * Every kernel is built from three shared pieces:
 *  - the COLLECTOR, [[TopKMerger]]: the one bounded heap. Every top-k
 *    kernel writes its hits into it directly, and its live k-th score
 *    θ, through [[TopKMerger.beats]], is the one pruning test. One
 *    collector spans a whole query task (or the whole corpus in
 *    [[LocalIndex]]), Lucene's shared `TopScoreDocCollector`;
 *  - the LEAPFROG, [[leapfrog]]: the one intersection loop. The
 *    sparsest required cursor drives, the others advance by skip
 *    pointers, NOT cursors veto, and a bound callback ends the loop
 *    early. It serves conjunctions, ordered and unordered proximity
 *    and [[matchingDocIds]];
 *  - the MATCH-SET MERGE, [[merge]]: the one ascending-docId k-way
 *    cursor merge with a per-document scoring function. It serves
 *    [[scoredDocIds]], [[scoredDocIdsSynonyms]] and
 *    [[scoredDocIdsDirichlet]].
 * The disjunction keeps its own pivot loop ([[topK]]), which needs
 * cursors sorted by docId.
 *
 * Key properties:
 *  - blocks are decoded lazily: `advance(target)` skips whole blocks
 *    via `max_doc_id` without touching the compressed payload;
 *  - per-cursor upper bounds are suffix maxima of
 *    `tfNorm(block_max_tf, block_min_dl, avgdl) * idf` — tfNorm is
 *    monotone ↑ in tf and ↓ in dl, so this bounds every in-block
 *    contribution at the CURRENT avgdl (the stored metadata is
 *    avgdl-independent; format v2) and tightens as the cursor
 *    advances past blocks;
 *  - scoring of a candidate accumulates per-term contributions in
 *    ASCENDING TERM ORDER (cursors are ordered by term at construction)
 *    so scores are bit-identical to the brute-force oracle;
 *  - tie-break (score desc, docId asc) is exact: candidates are visited
 *    in ascending docId, so an equal-score later candidate correctly
 *    loses to the collector's k-th and the bound test is lossless. The
 *    upper bound is inflated by 1e-9 relative to absorb summation-order
 *    rounding so it never under-estimates a true score.
 */
object Wand extends Serializable {

  /** A cursor over one term's blocks; the blocks are put in docId order
    * (block doc ranges are disjoint, so max_doc_id is the total order
    * even when a memory-capped mid-segment flush restarted block_id
    * numbering). */
  final class Cursor(val term: String, val idf: Double,
                     unsorted: IndexedSeq[PostingBlockRow], avgdl: Double) {
    private val blocks = unsorted.sortBy(_.max_doc_id)
    /** Postings in the list: the leapfrog's driver is the smallest. */
    lazy val size: Long = blocks.iterator.map(_.n_docs.toLong).sum
    // suffix max of tfNorm(block_max_tf, block_min_dl, avgdl): bound
    // over this and all later blocks, computed once per search at the
    // current corpus avgdl
    private val suffixMaxTfn: Array[Double] = {
      val a = new Array[Double](blocks.length)
      var m = 0.0
      var i = blocks.length - 1
      while (i >= 0) {
        val b = blocks(i)
        m = math.max(m, BM25.tfNorm(b.block_max_tf, b.block_min_dl, avgdl))
        a(i) = m; i -= 1
      }
      a
    }
    private var blockIdx = 0
    private var decoded: PostingCodec.DecodedBlock = _
    private var pos = 0
    private var decodedMax: Long = -1L
    private var cur = if (blocks.isEmpty) Long.MaxValue else -1L
    if (blocks.nonEmpty) {
      decodeCurrent(); cur = decoded.docIds(0)
      decodedMax = blocks(0).max_doc_id // else first advance re-decodes block 0
    }

    private def decodeCurrent(): Unit = { decoded = PostingCodec.decodeBlock(blocks(blockIdx)); pos = 0 }

    def docId: Long = cur
    def exhausted: Boolean = cur == Long.MaxValue

    /** Current posting's doc length. */
    def currentDl: Int = decoded.dls(pos)

    /** Current posting's term frequency (for non-BM25 scorers). */
    def currentTf: Int = decoded.tfs(pos)

    /** Current posting's token positions (format v3), zero-copy:
      * (decoded flat array, from, until). Decoding the block's position
      * stream is lazy — only phrase evaluation pays for it. */
    def currentPositions: (Array[Int], Int, Int) =
      (decoded.posFlat, decoded.posOff(pos), decoded.posOff(pos + 1))

    /** Upper bound on this cursor's remaining contribution. */
    def maxRemainingScore: Double =
      if (exhausted) 0.0 else idf * suffixMaxTfn(blockIdx)

    /** Upper bound on tfNorm over this and all later blocks — the
      * idf-free bound the phrase scorer needs (phrase cursors carry
      * idf 0; the phrase's single idfSum multiplies a tf bound). */
    def maxRemainingTfNorm: Double =
      if (exhausted) 0.0 else suffixMaxTfn(blockIdx)

    def currentScore: Double = {
      val tf = decoded.tfs(pos); val dl = decoded.dls(pos)
      idf * BM25.tfNorm(tf, dl, avgdl)
    }

    /** Advance to the first docId >= target. Skips blocks via
      * max_doc_id without decoding them. */
    def advance(target: Long): Unit = {
      if (exhausted || cur >= target) return
      // skip whole blocks (no decode)
      while (blockIdx < blocks.length && blocks(blockIdx).max_doc_id < target) blockIdx += 1
      if (blockIdx >= blocks.length) { cur = Long.MaxValue; return }
      if (decoded == null || blocks(blockIdx).max_doc_id != decodedMax) decodeForIdx()
      // binary search inside the block
      var lo = pos; var hi = decoded.docIds.length - 1
      if (decoded.docIds(lo) < target) {
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (decoded.docIds(mid) < target) lo = mid + 1 else hi = mid
        }
      }
      pos = lo
      cur = decoded.docIds(pos)
      if (cur < target) next() // target beyond this block's last (can't happen given max_doc_id check, but be safe)
    }

    private def decodeForIdx(): Unit = { decodeCurrent(); decodedMax = blocks(blockIdx).max_doc_id }

    /** Advance past the current doc. */
    def next(): Unit = {
      if (exhausted) return
      pos += 1
      if (pos >= decoded.docIds.length) {
        blockIdx += 1
        if (blockIdx >= blocks.length) { cur = Long.MaxValue; return }
        decodeForIdx()
      }
      cur = decoded.docIds(pos)
    }
  }

  /** Term-sorted cursors over `blocks` (the summation order), empty
    * lists dropped. */
  private def open(blocks: Plan.Blocks, idf: String => Double, avgdl: Double): Array[Cursor] =
    blocks.toArray.sortBy(_._1).map { case (t, bs) => new Cursor(t, idf(t), bs, avgdl) }.filterNot(_.exhausted)

  /** Cursors over each of `terms` (distinct, ascending), or None when
    * one has no postings here: a conjunction is segment-local, since
    * docs live in exactly one segment. */
  private def openAll(blocks: Plan.Blocks, terms: Seq[String], idf: String => Double,
                      avgdl: Double): Option[Array[Cursor]] = {
    val ts = terms.distinct.sorted
    val cs = open(blocks.filter { case (t, _) => ts.contains(t) }, idf, avgdl)
    if (ts.nonEmpty && cs.length == ts.length) Some(cs) else None
  }

  /** Worst-first ordering for the bounded heap: head is the hit that
    * loses first under (score desc, docId asc). */
  private val worstFirst: Ordering[QueryHit] = new Ordering[QueryHit] {
    override def compare(a: QueryHit, b: QueryHit): Int = {
      val c = java.lang.Double.compare(a.score, b.score) // score asc
      if (c != 0) c else java.lang.Long.compare(b.doc_id, a.doc_id) // docId desc
    }
  }

  /**
   * The one top-k collector, shared by every kernel a query task runs
   * — the shared-collector-threshold pattern of Lucene's per-segment
   * search. Feed segments in ASCENDING docId order (the reader groups
   * contiguous segment ranges, so this is free): its k-th score θ is
   * then the live threshold of every kernel ([[beats]]), since scores
   * strictly worse than the current k-th can never surface, and an
   * equal score correctly loses because every later docId exceeds
   * everything already in the heap (tie-break is docId ASC). One
   * collector's result is O(k) rows per task, so the driver collects
   * O(k · tasks), not O(k · segments).
   */
  final class TopKMerger(k: Int) {
    // PriorityQueue dequeues the MAX under its ordering; order by
    // worstFirst reversed so head = worst of the current top-k
    private val heap = mutable.PriorityQueue.empty[QueryHit](worstFirst.reverse)
    /** θ: the k-th score once k hits are in (+∞ when k ≤ 0). */
    private var theta = if (k <= 0) Double.PositiveInfinity else Double.NegativeInfinity

    /** Whether a doc whose score is at most `bound` may still enter.
      * The bound is inflated to absorb summation-order rounding: a pure
      * overestimate is lossless, an underestimate would drop hits. */
    def beats(bound: Double): Boolean =
      bound * (1 + 1e-9) + java.lang.Double.MIN_VALUE > theta

    /** Offers a hit; a [[QueryHit]] is allocated only if it enters. */
    def offer(doc: Long, score: Double): Unit =
      if (heap.size < k) {
        heap.enqueue(QueryHit(doc, score))
        if (heap.size == k) theta = heap.head.score
      } else if (k > 0 && (score > theta || (score == theta && doc < heap.head.doc_id))) {
        heap.dequeue(); heap.enqueue(QueryHit(doc, score))
        theta = heap.head.score
      }

    /** Best-first; consumes the collector. */
    def result: Vector[QueryHit] = heap.dequeueAll.reverseIterator.toVector
  }

  /**
   * The one intersection loop, document at a time: the sparsest of
   * `must` drives; the other cursors advance by skip pointers to each
   * candidate, and any miss jumps the driver forward to the furthest
   * of them (classic leapfrog); a `nots` cursor on an aligned candidate
   * vetoes it. `hit` gets every surviving docId in ascending order,
   * with all `must` cursors on it, for as long as `live()` holds.
   * `live` is checked before each candidate, when every cursor sits at
   * or before every doc still to come, so a test of the cursors'
   * suffix block-max bounds there covers all of them: that is the
   * block-max early exit a conjunction admits (the docId leapfrog
   * already skips undecoded blocks structurally).
   */
  private def leapfrog(must: Array[Cursor], nots: Array[Cursor], live: () => Boolean)(
      hit: Long => Unit): Unit = {
    val driver = must.minBy(_.size)
    val others = must.filterNot(_ eq driver)
    while (!driver.exhausted && live()) {
      val target = driver.docId
      var maxSeen = target
      var j = 0
      while (j < others.length) {
        val c = others(j)
        c.advance(target)
        if (c.docId > maxSeen) maxSeen = c.docId
        j += 1
      }
      if (maxSeen == Long.MaxValue) return // a required list ran out
      if (maxSeen == target) {
        if (!nots.exists { n => n.advance(target); n.docId == target }) hit(target)
        driver.next()
      } else driver.advance(maxSeen)
    }
  }

  /**
   * The one match-set merge: an ascending-docId k-way merge over
   * term-sorted `cursors`, emitting (docId, `score(docId)`) for every
   * doc that at least `minMatch` cursors sit on. `score` runs while
   * those cursors are on the doc and reads them in ascending term
   * order, so a doc's score here is bit-equal to its top-k score. No
   * heap, no pivot, no θ: the output is bounded by the segment size.
   */
  private def merge(cursors: Array[Cursor], minMatch: Int)(score: Long => Double): Iterator[(Long, Double)] = {
    if (cursors.length < minMatch) return Iterator.empty
    val out = Vector.newBuilder[(Long, Double)]
    var doc = cursors.foldLeft(Long.MaxValue)((m, c) => math.min(m, c.docId))
    while (doc != Long.MaxValue) {
      if (cursors.count(_.docId == doc) >= minMatch) out += ((doc, score(doc)))
      var next = Long.MaxValue
      var i = 0
      while (i < cursors.length) {
        val c = cursors(i)
        if (c.docId == doc) c.next()
        if (c.docId < next) next = c.docId
        i += 1
      }
      doc = next
    }
    out.result().iterator
  }

  /** `f` of every cursor folded with `op`, in term order (a suffix
    * block-max bound of the cursors' lists). */
  private def boundOf(cursors: Array[Cursor], f: Cursor => Double,
                      op: (Double, Double) => Double): Double = {
    var b = f(cursors(0))
    var i = 1
    while (i < cursors.length) { b = op(b, f(cursors(i))); i += 1 }
    b
  }

  /** Σ `currentScore` of the cursors on `doc`, in term order. */
  private def sumOn(cursors: Array[Cursor], doc: Long): Double = {
    var s = 0.0
    var i = 0
    while (i < cursors.length) {
      val c = cursors(i)
      if (c.docId == doc) s += c.currentScore
      i += 1
    }
    s
  }

  /**
   * Disjunctive top-k over one docId-ordered run of blocks into `top`.
   * `termBlocks` maps term → its blocks; `idfs` the global idf per
   * term. `allow`, when set, vetoes a candidate after alignment,
   * before the collector, so filtered search keeps exact top-k
   * semantics (bounds stay upper bounds).
   *
   * `minMatch` is Lucene's minimum-should-match: a candidate must
   * contain at least `minMatch` of the query terms (1 = plain
   * disjunction). The WAND pivot rule extends losslessly: a doc D
   * below the docId-sorted cursor at index m−1 appears in fewer than
   * m posting lists (cursors only move forward, so only cursors at or
   * below D can contain it), so the pivot is the first index i with
   * BOTH i ≥ m−1 AND prefix-UB(0..i) beats θ — if i > m−1 the UB test
   * failed at i−1 (≥ m−1), so any doc before the pivot either cannot
   * reach m matches or cannot beat θ. Both conditions only REMOVE
   * candidates, so the score bounds stay upper bounds.
   */
  def topK(termBlocks: Plan.Blocks, idfs: Map[String, Double], avgdl: Double,
           top: TopKMerger, allow: Long => Boolean = null, minMatch: Int = 1): Unit = {
    val cursors = open(termBlocks, idfs.getOrElse(_, 0.0), avgdl)
    val mm = math.max(1, minMatch)
    if (cursors.length < mm) return
    val byDoc = cursors.clone()
    val cmp = new java.util.Comparator[Cursor] {
      override def compare(a: Cursor, b: Cursor): Int = {
        val c = java.lang.Long.compare(a.docId, b.docId)
        if (c != 0) c else a.term.compareTo(b.term)
      }
    }
    while (true) {
      java.util.Arrays.sort(byDoc, cmp)
      // pivot = first prefix whose cumulative upper bound can beat θ
      var ub = 0.0
      var pivot = -1
      var i = 0
      while (i < byDoc.length && pivot < 0) {
        ub += byDoc(i).maxRemainingScore
        if (i >= mm - 1 && top.beats(ub)) pivot = i
        i += 1
      }
      if (pivot < 0 || byDoc(pivot).exhausted) return
      val pivotDoc = byDoc(pivot).docId
      if (byDoc(0).docId == pivotDoc) {
        // lead cursors aligned on pivotDoc → full score, accumulated
        // in term order over cursors[] (term-sorted at construction)
        // (one term always matches: byDoc(0) sits on pivotDoc)
        if ((allow == null || allow(pivotDoc)) && (mm == 1 || cursors.count(_.docId == pivotDoc) >= mm))
          top.offer(pivotDoc, sumOn(cursors, pivotDoc))
        var j = 0
        while (j < byDoc.length) { if (byDoc(j).docId == pivotDoc) byDoc(j).next(); j += 1 }
      } else {
        // advance all cursors before the pivot up to pivotDoc
        var j = 0
        while (j < pivot) { byDoc(j).advance(pivotDoc); j += 1 }
      }
    }
  }

  /**
   * Conjunctive (AND) top-k with optional exclusion (NOT) into `top` —
   * the boolean query shape the reference gets from its Solr/Lucene
   * sink: the [[leapfrog]] over the must terms, scored over them in
   * ascending term order (same summation contract as [[topK]]). The
   * early exit: Σ suffix block-max bounds ≥ any remaining candidate's
   * score, so once that sum cannot beat θ the rest of the run cannot
   * change the collector.
   */
  def topKConjunctive(mustBlocks: Plan.Blocks, notBlocks: Plan.Blocks,
                      idfs: Map[String, Double], avgdl: Double, top: TopKMerger,
                      mustTerms: Seq[String]): Unit =
    openAll(mustBlocks, mustTerms, idfs.getOrElse(_, 0.0), avgdl).foreach { cursors =>
      leapfrog(cursors, open(notBlocks, _ => 0.0, avgdl),
        () => top.beats(boundOf(cursors, _.maxRemainingScore, _ + _))) { doc =>
        top.offer(doc, sumOn(cursors, doc))
      }
    }

  /**
   * The FULL match set of a conjunction over one segment — the
   * [[leapfrog]] with no scoring and no collector: every docId
   * containing all must terms and no not term, emitted in ascending
   * order. Serves search-as-relational-operator paths (facet counting,
   * match counting, export joins) where the consumer is a distributed
   * aggregation, not a top-k collect — scores would be paid and thrown
   * away, so the cursors carry idf 0 and never call the tf normalizer.
   */
  def matchingDocIds(mustBlocks: Plan.Blocks, notBlocks: Plan.Blocks,
                     mustTerms: Seq[String]): Iterator[Long] = {
    val out = Vector.newBuilder[Long]
    openAll(mustBlocks, mustTerms, _ => 0.0, 1.0).foreach { cursors =>
      leapfrog(cursors, open(notBlocks, _ => 0.0, 1.0), () => true)(out += _)
    }
    out.result().iterator
  }

  /**
   * EVERY matching doc's full disjunctive BM25 score over one segment
   * — the scored sibling of [[matchingDocIds]]: the [[merge]] with
   * [[topK]]'s per-doc sum, so a doc's score here is bit-equal to its
   * top-k score. Serves search-as-relational-operator paths that need
   * scores — field collapsing / grouping, score-weighted exports —
   * where the consumer is a distributed aggregation, not a top-k
   * collect. `minMatch` filters to docs matching ≥ m query terms.
   */
  def scoredDocIds(termBlocks: Plan.Blocks, idfs: Map[String, Double], avgdl: Double,
                   minMatch: Int = 1): Iterator[(Long, Double)] = {
    val cursors = open(termBlocks, idfs.getOrElse(_, 0.0), avgdl)
    merge(cursors, math.max(1, minMatch))(sumOn(cursors, _))
  }

  /**
   * Full scored match set under query-time SYNONYM semantics (Lucene
   * SynonymQuery): each group of terms scores as ONE virtual term —
   * tf(group, doc) = Σ member tf, df(group) = max member df (both
   * Lucene's choices: summed tf treats members as occurrences of the
   * same concept; max df keeps the idf of the most common member so
   * expansion never inflates rarity). Groups combine disjunctively.
   * The [[merge]]'s scorer sums member tfs at the aligned doc BEFORE
   * the saturation curve, which is what distinguishes a synonym group
   * from a plain OR of its members. Deterministic: group scores sum
   * in ascending group order.
   */
  def scoredDocIdsSynonyms(termBlocks: Plan.Blocks, termGroup: Map[String, Int],
                           groupIdfs: Array[Double], avgdl: Double): Iterator[(Long, Double)] = {
    val cursors = open(termBlocks, _ => 0.0, avgdl)
    val groupOf = cursors.map(c => termGroup(c.term))
    val groupTf = new Array[Int](groupIdfs.length)
    merge(cursors, 1) { doc =>
      java.util.Arrays.fill(groupTf, 0)
      var dl = 0
      var i = 0
      while (i < cursors.length) {
        val c = cursors(i)
        if (c.docId == doc) { groupTf(groupOf(i)) += c.currentTf; dl = c.currentDl }
        i += 1
      }
      var s = 0.0
      var g = 0
      while (g < groupTf.length) { // ascending group order
        if (groupTf(g) > 0) s += groupIdfs(g) * BM25.tfNorm(groupTf(g), dl, avgdl)
        g += 1
      }
      s
    }
  }

  /**
   * Full scored match set under the Dirichlet-smoothed language-model
   * similarity (Zhai & Lafferty '01; Lucene LMDirichletSimilarity):
   * per matched term, max(0, ln(1 + tf/(μ·p(t|C))) + ln(μ/(dl+μ)))
   * with p(t|C) = cf(t)/totalTokens, the per-term clamp being Lucene's
   * non-negative-score guarantee. The [[merge]] in ascending term
   * order (deterministic summation); `ps` carries each term's
   * collection probability. The LM scorer serves through the
   * relational path (match set → TakeOrdered), not the WAND collector
   * — BM25 stays the pruned serving scorer; block-max metadata bounds
   * tfNorm, not the LM saturation curve.
   */
  def scoredDocIdsDirichlet(termBlocks: Plan.Blocks, ps: Map[String, Double], mu: Double,
                            minMatch: Int = 1): Iterator[(Long, Double)] = {
    val cursors = open(termBlocks, _ => 0.0, 1.0)
    val p = cursors.map(c => ps.getOrElse(c.term, 0.0))
    merge(cursors, math.max(1, minMatch)) { doc =>
      var s = 0.0
      var i = 0
      while (i < cursors.length) { // ascending term order
        val c = cursors(i)
        if (c.docId == doc)
          s += math.max(0.0, math.log(1.0 + c.currentTf / (mu * p(i))) + math.log(mu / (c.currentDl + mu)))
        i += 1
      }
      s
    }
  }

  /**
   * Exact phrase top-k into `top`, index-only (format v3 positions):
   * the [[leapfrog]] over the phrase's distinct terms, then
   * ordered-adjacency counting by position-list intersection —
   * pf = |{p : p ∈ pos(t_0), p+1 ∈ pos(t_1), …}|. Scoring is Lucene
   * PhraseQuery semantics: one "term" whose tf is the phrase frequency
   * and whose idf is Σ idf(term_i) over the phrase's terms IN ORDER
   * (duplicates counted), so scores are identical to the previous
   * candidate-verify implementation — but with no candidate cap and no
   * re-read of document text.
   *
   * `slop > 0` generalizes to ORDERED proximity (the SpanNearQuery
   * inOrder=true shape): a start position p₀ of t₀ matches when the
   * greedy minimal chain p₀ < p₁ < … < p₋₁ (each pₛ the SMALLEST
   * position of tₛ after pₛ₋₁ — minimal pₛ is optimal for the width
   * test, so greedy is exact) spans at most (m−1)+slop positions;
   * pf counts matching starts, each weighted 1 (the span count —
   * simpler than Lucene's 1/(1+dist) sloppyFreq, and reproducible in
   * plain SQL; slop = 0 degenerates to exact adjacency, bit-equal to
   * the phrase path).
   *
   * Early exit: the phrase frequency of a doc is bounded by EVERY
   * term's tf there, so idfSum · min_i(suffix tfNorm bound_i) bounds
   * any remaining phrase score (tfNorm is increasing in tf and each
   * cursor's bound already absorbs the doc-length direction via
   * block_min_dl). With slop, a later term's position may serve
   * several starts, so the bound uses only t₀'s (pf ≤ tf(t₀) always).
   */
  def topKPhrase(blocks: Plan.Blocks, phraseTerms: Seq[String], idfSum: Double,
                 avgdl: Double, top: TopKMerger, slop: Int = 0): Unit =
    openAll(blocks, phraseTerms, _ => 0.0, avgdl).foreach { cursors =>
      // phrase slot s → its term's cursor (duplicate terms share one)
      val slots = phraseTerms.map(t => cursors.find(_.term == t).get).toArray
      val m = slots.length
      val flats = new Array[Array[Int]](m)
      val froms = new Array[Int](m)
      val untils = new Array[Int](m)
      val ptrs = new Array[Int](m)
      def bound: Double =
        if (slop == 0) boundOf(cursors, _.maxRemainingTfNorm, math.min) else slots(0).maxRemainingTfNorm
      leapfrog(cursors, Array.empty, () => top.beats(idfSum * bound)) { doc =>
        // ordered-adjacency count over the aligned doc's position lists
        var s = 0
        while (s < m) {
          val (f, from, until) = slots(s).currentPositions
          flats(s) = f; froms(s) = from; untils(s) = until; ptrs(s) = from
          s += 1
        }
        var pf = 0
        var i0 = froms(0)
        var live = true
        val maxWidth = (m - 1) + slop
        while (live && i0 < untils(0)) {
          val p0 = flats(0)(i0)
          var prev = p0
          var ok = true
          s = 1
          while (s < m && ok) {
            // greedy minimal chain: first slot-s position AFTER prev.
            // prev is non-decreasing across starts (later p0 → later
            // minimal chain), so the persistent per-slot pointer only
            // moves forward — each flat array is scanned once per doc.
            var p = ptrs(s)
            val u = untils(s)
            val fl = flats(s)
            while (p < u && fl(p) <= prev) p += 1
            ptrs(s) = p
            if (p >= u) { ok = false; live = false } // slot exhausted: no later start can match
            else prev = fl(p)
            s += 1
          }
          if (ok && prev - p0 <= maxWidth) pf += 1
          i0 += 1
        }
        if (pf > 0) top.offer(doc, idfSum * BM25.tfNorm(pf, slots(0).currentDl, avgdl))
      }
    }

  /** Two-term UNORDERED proximity top-k into `top` (SpanNearQuery
    * inOrder=false at m = 2): the [[leapfrog]] over both terms; pf
    * counts positions p of `termA` with ANY `termB` position within
    * |q − p| ≤ slop + 1 — the symmetric within-window test, anchored on
    * termA's occurrences so each A-position counts once and pf ≤ tf(A)
    * (the early-exit bound). Two monotone pointers over the aligned
    * doc's position lists — each list scanned once per doc, like the
    * ordered kernel. Scoring is the phrase family's: tf = pf, idf =
    * idf(A) + idf(B). The m-term generalization needs a min-window
    * walk over m lists; two terms cover the dominant unordered use
    * and keep the semantics SQL-reproducible. */
  def topKNearUnordered2(blocks: Plan.Blocks, termA: String, termB: String, slop: Int,
                         idfSum: Double, avgdl: Double, top: TopKMerger): Unit = {
    require(termA != termB, "unordered near needs two distinct terms")
    openAll(blocks, Seq(termA, termB), _ => 0.0, avgdl).foreach { cursors =>
      val (ca, cb) = if (cursors(0).term == termA) (cursors(0), cursors(1)) else (cursors(1), cursors(0))
      val d = slop + 1
      leapfrog(cursors, Array.empty, () => top.beats(idfSum * ca.maxRemainingTfNorm)) { doc =>
        val (fa, froma, untila) = ca.currentPositions
        val (fb, fromb, untilb) = cb.currentPositions
        var pf = 0
        var ia = froma
        var ib = fromb
        while (ia < untila) {
          val p = fa(ia)
          while (ib < untilb && fb(ib) < p - d) ib += 1
          if (ib < untilb && fb(ib) <= p + d) pf += 1
          ia += 1
        }
        if (pf > 0) top.offer(doc, idfSum * BM25.tfNorm(pf, ca.currentDl, avgdl))
      }
    }
  }
}
