package graft.query

import graft.analysis.Analyzer
import graft.model.{CorpusStats, PostingBlockRow}

/**
 * The lowered query form (SURVEY.md §2.7, Lucene's rewrite): every
 * top-k query shape — free text, boosts, minimum-should-match, prefix,
 * wildcard, fuzzy, more-like-this, boolean, phrase, proximity —
 * becomes one of four plans over global idfs. A plan's [[run]] scores
 * one docId-ordered run of blocks (a segment range on the cluster, the
 * whole corpus in [[LocalIndex]]) and is the only caller of its
 * [[Wand]] kernel, so both executors score bit-identically.
 */
private[query] sealed trait Plan extends Serializable {
  /** Terms whose posting blocks the plan reads. */
  def terms: Seq[String]

  /** Top-k over `blocks` (term → blocks; terms outside the plan are
    * ignored) into `top`, whose live k-th score is the WAND threshold.
    * `allow`, honoured by [[Plan.Disj]] only, vetoes docIds before the
    * collector. */
  def run(blocks: Plan.Blocks, avgdl: Double, top: Wand.TopKMerger,
          allow: Long => Boolean = null): Unit
}

private[query] object Plan {
  type Blocks = Map[String, IndexedSeq[PostingBlockRow]]

  private def pick(blocks: Blocks, ts: Seq[String]): Blocks =
    ts.iterator.flatMap(t => blocks.get(t).map(t -> _)).toMap

  private def noFilter(allow: Long => Boolean): Unit =
    require(allow == null, "only a disjunction takes a document filter")

  /** Disjunction over boost-scaled idfs; a doc needs `minMatch` terms. */
  final case class Disj(idfs: Map[String, Double], minMatch: Int = 1) extends Plan {
    val terms: Seq[String] = idfs.keys.toSeq.sorted
    def run(blocks: Blocks, avgdl: Double, top: Wand.TopKMerger, allow: Long => Boolean): Unit =
      Wand.topK(pick(blocks, terms), idfs, avgdl, top, allow, minMatch)
  }

  /** Every `must` term required, any `not` term excluding; scored over `must`. */
  final case class Conj(must: Seq[String], not: Seq[String],
                        idfs: Map[String, Double]) extends Plan {
    def terms: Seq[String] = must ++ not
    def run(blocks: Blocks, avgdl: Double, top: Wand.TopKMerger, allow: Long => Boolean): Unit = {
      noFilter(allow)
      Wand.topKConjunctive(pick(blocks, must), pick(blocks, not), idfs, avgdl, top, must)
    }
  }

  /** Ordered terms within `slop` extra positions (0 = exact phrase),
    * idf summed over the term occurrences. */
  final case class Near(seq: IndexedSeq[String], idfSum: Double, slop: Int) extends Plan {
    val terms: Seq[String] = seq.distinct
    def run(blocks: Blocks, avgdl: Double, top: Wand.TopKMerger, allow: Long => Boolean): Unit = {
      noFilter(allow)
      Wand.topKPhrase(pick(blocks, terms), seq, idfSum, avgdl, top, slop)
    }
  }

  /** Two distinct terms within `slop` + 1 positions, either order. */
  final case class NearUnordered(a: String, b: String, idfSum: Double, slop: Int) extends Plan {
    def terms: Seq[String] = Seq(a, b)
    def run(blocks: Blocks, avgdl: Double, top: Wand.TopKMerger, allow: Long => Boolean): Unit = {
      noFilter(allow)
      Wand.topKNearUnordered2(pick(blocks, terms), a, b, slop, idfSum, avgdl, top)
    }
  }
}

/** A query before the dictionary: analyzed terms, and the dictionary
  * expansions it still needs. [[Lowering]] builds and lowers it. */
private[query] sealed trait Shape
private[query] object Shape {
  /** Disjunction of clauses; a term's boosts sum across its clauses. */
  final case class Or(clauses: Seq[Clause], minMatch: Int = 1) extends Shape
  final case class And(must: Seq[String], not: Seq[String]) extends Shape
  /** Ordered terms, duplicates kept; one term is a term query. */
  final case class Ordered(terms: Seq[String], slop: Int) extends Shape
  final case class Pair(a: String, b: String, slop: Int) extends Shape

  sealed trait Clause
  final case class Term(t: String, boost: Double = 1.0) extends Clause

  /** A dictionary expansion (Lucene's scoring-boolean rewrite): every
    * matching term joins the disjunction at boost 1. The term is
    * lowercased, not analyzed; more than `cap` matches throw. */
  sealed trait Expansion extends Clause with Product {
    def cap: Int
    /** What every match starts with ("" for none): a term range of the
      * sorted dictionary, so a read can skip the row groups outside it. */
    def literalPrefix: String
    /** The exact test, applied to every candidate term. */
    def matches(t: String): Boolean
    def tooMany(n: Int): String
  }
  final case class Prefix(p: String, cap: Int) extends Expansion {
    def literalPrefix: String = p
    def matches(t: String): Boolean = t.startsWith(p)
    def tooMany(n: Int): String =
      s"prefix '$p*' expands to $n terms (> $cap) — use a longer prefix or raise maxExpansions"
  }
  final case class Wild(pattern: String, cap: Int) extends Expansion {
    private val re = java.util.regex.Pattern.compile(globToRegex(pattern))
    def literalPrefix: String = pattern.takeWhile(c => c != '*' && c != '?')
    def matches(t: String): Boolean = re.matcher(t).matches()
    def tooMany(n: Int): String =
      s"wildcard '$pattern' expands to $n terms (> $cap) — tighten the pattern or raise maxExpansions"
  }
  final case class Fuzzy(q: String, maxEdits: Int, cap: Int) extends Expansion {
    def literalPrefix: String = ""
    def matches(t: String): Boolean = editDistance(t, q, maxEdits) <= maxEdits
    def tooMany(n: Int): String =
      s"'$q'~$maxEdits expands to $n terms (> $cap) — lower maxEdits or raise maxExpansions"
  }

  def prefix(raw: String, cap: Int): Prefix = {
    val p = raw.toLowerCase(java.util.Locale.ROOT).stripSuffix("*")
    require(p.nonEmpty, "empty prefix")
    Prefix(p, cap)
  }
  def wildcard(raw: String, cap: Int): Wild = {
    require(raw.exists(c => c != '*' && c != '?'),
      s"wildcard pattern '$raw' has no literal characters")
    Wild(raw.toLowerCase(java.util.Locale.ROOT), cap)
  }
  def fuzzy(raw: String, maxEdits: Int, cap: Int): Fuzzy = {
    require(maxEdits >= 0 && maxEdits <= 2, s"maxEdits $maxEdits not in 0..2")
    val q = raw.toLowerCase(java.util.Locale.ROOT)
    require(q.nonEmpty, "empty fuzzy term")
    Fuzzy(q, maxEdits, cap)
  }

  /** Translate a Lucene-style glob (`*` = any run, `?` = exactly one
    * character) into an anchored regex. Literal characters are
    * escaped one-by-one with a backslash (never `\Q…\E`, which RE2
    * engines don't support) so the same string means the same thing
    * to Java regex (Spark `rlike`) and to DuckDB's RE2
    * `regexp_matches` — the wildcard specs and the gate oracle pin
    * that parity. */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if c.isLetterOrDigit => sb.append(c)
      case c => sb.append('\\').append(c)
    }
    sb.append('$').toString
  }

  /** Unit-cost Levenshtein distance (Wagner–Fischer, two rows): the
    * only edit distance on the query side (the fuzzy expansions,
    * `suggest` and `collate`). It MUST agree with DuckDB's
    * Levenshtein function, which the gate's oracles use (the fuzzy and
    * suggest specs pin the parity), hence the CODE-POINT alphabet:
    * DuckDB counts code points, so supplementary-plane tokens must not
    * be split into surrogate halves here. With a `cap`, the DP stops
    * with `cap + 1` as soon as a whole row exceeds the cap: a result
    * above the cap says only that the distance is above it. */
  def editDistance(a: String, b: String, cap: Int = Int.MaxValue): Int = {
    if (a == b) return 0
    val s0 = a.codePoints().toArray
    val t0 = b.codePoints().toArray
    if (math.abs(s0.length - t0.length) > cap) return cap + 1
    val (s, t) = if (s0.length <= t0.length) (s0, t0) else (t0, s0)
    var prev = Array.tabulate(s.length + 1)(identity)
    var cur = new Array[Int](s.length + 1)
    var j = 1
    while (j <= t.length) {
      cur(0) = j
      var rowMin = j
      var i = 1
      while (i <= s.length) {
        val v = math.min(prev(i - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1), math.min(prev(i), cur(i - 1)) + 1)
        cur(i) = v
        if (v < rowMin) rowMin = v
        i += 1
      }
      if (rowMin > cap) return cap + 1
      val tmp = prev; prev = cur; cur = tmp
      j += 1
    }
    prev(s.length)
  }
}

/** Where the lowering reads the dictionary: the cluster reader's
  * in-process reads of the dictionary files or [[LocalIndex]]'s
  * in-memory vocabulary. */
private[query] trait TermSource {
  def docFreqs(terms: Seq[String]): Map[String, Long]
  /** Sorted dictionary terms matching any of one family's expansions
    * (one scan; a superset is fine). */
  def expand(es: Seq[Shape.Expansion]): Seq[String]
}

/**
 * The one lowering step: [[spec]] turns a [[QuerySpec]] into a
 * [[Shape]] with the index's analyzer (each case holds its argument
 * checks), then [[lower]] lowers a batch of shapes to [[Plan]]s with
 * one dictionary scan per expansion family and one df lookup for the
 * whole batch. A caller that already holds analyzed terms (more-like-
 * this) builds its shape directly: re-analyzing would re-stem stems.
 */
private[query] final class Lowering(analyzer: Analyzer, stats: CorpusStats,
                                    src: TermSource, positionsStored: Boolean) {
  import Shape._

  def terms(text: String): Seq[String] = analyzer.tokenize(text).distinct.sorted

  private def one(raw: String, what: String): String = {
    val ts = analyzer.tokenize(raw)
    require(ts.length == 1, s"$what term '$raw' analyzed to ${ts.length} tokens")
    ts.head
  }

  private def slopOf(slop: Int): Int = { require(slop >= 0, s"slop must be >= 0, got $slop"); slop }

  def spec(q: QuerySpec): Shape = q match {
    case QuerySpec.Boolean(m, n) =>
      val must = terms(m)
      And(must, terms(n).filterNot(must.contains))
    case QuerySpec.Phrase(t, slop) => Ordered(analyzer.tokenize(t), slopOf(slop))
    case QuerySpec.MinMatch(t, m) => Or(terms(t).map(Term(_)), math.max(1, m))
    case QuerySpec.NearUnordered(ta, tb, slop) =>
      val (a, b) = (one(ta, "near"), one(tb, "near"))
      require(a != b, "unordered near needs two distinct terms")
      Pair(a, b, slopOf(slop))
    case QuerySpec.Mixed(ms) => Or(ms.flatMap(clauses))
    case d: QuerySpec.Disjunctive => Or(clauses(d))
  }

  /** A disjunctive case's clauses: its terms, or its expansion. */
  private def clauses(d: QuerySpec.Disjunctive): Seq[Clause] = d match {
    case QuerySpec.Free(t) => terms(t).map(Term(_))
    case QuerySpec.Boosted(bs) =>
      require(bs.forall(_._2 >= 0), "boosts must be >= 0")
      val ts = bs.map { case (raw, b) => Term(one(raw, "boosted"), b) }
      require(ts.map(_.t).distinct.length == ts.length, "duplicate boosted term")
      ts
    case QuerySpec.Prefix(p, cap) => Seq(prefix(p, cap))
    case QuerySpec.Wildcard(p, cap) => Seq(wildcard(p, cap))
    case QuerySpec.Fuzzy(t, me, cap) => Seq(fuzzy(t, me, cap))
  }

  private def needsPositions(s: Shape): Boolean = s match {
    case Ordered(ts, _) => ts.length >= 2
    case _: Pair => true
    case _ => false
  }

  /** Plans for a batch of shapes, in order; None where nothing can match. */
  def lower(shapes: Seq[Shape]): Seq[Option[Plan]] = {
    require(positionsStored || !shapes.exists(needsPositions),
      "index was built with storePositions=false — phrase and proximity " +
        "queries need position lists; rebuild with storePositions=true")
    if (stats.n_docs == 0) return shapes.map(_ => None)
    val exps = shapes.flatMap { case Or(cs, _) => cs.collect { case e: Expansion => e }; case _ => Nil }
    val expanded: Map[Expansion, Seq[String]] =
      exps.distinct.groupBy(_.productPrefix).values.flatMap { family =>
        val candidates = src.expand(family)
        family.map { e =>
          val ts = candidates.filter(e.matches)
          require(ts.length <= e.cap, e.tooMany(ts.length))
          e -> ts
        }
      }.toMap
    def boosts(cs: Seq[Clause]): collection.Map[String, Double] = {
      val acc = collection.mutable.LinkedHashMap.empty[String, Double]
      def add(t: String, b: Double): Unit = acc.update(t, acc.getOrElse(t, 0.0) + b)
      cs.foreach {
        case Term(t, b) => add(t, b)
        case e: Expansion => expanded(e).foreach(add(_, 1.0))
      }
      acc
    }
    val weighted = shapes.map { case Or(cs, _) => boosts(cs); case _ => Map.empty[String, Double] }
    val dfTerms = shapes.zip(weighted).flatMap {
      case (_: Or, w) => w.keys
      case (And(must, _), _) => must
      case (Ordered(ts, _), _) => ts
      case (Pair(a, b, _), _) => Seq(a, b)
    }.distinct.sorted
    val dfs = if (dfTerms.isEmpty) Map.empty[String, Long] else src.docFreqs(dfTerms)
    def idf(t: String): Double = BM25.idf(dfs(t), stats.n_docs)
    def idfs(ts: Seq[String]): Map[String, Double] = ts.map(t => t -> idf(t)).toMap
    shapes.zip(weighted).map {
      case (Or(_, mm), w) =>
        val is = w.iterator.collect { case (t, b) if dfs.contains(t) => t -> b * idf(t) }.toMap
        if (is.size < mm) None else Some(Plan.Disj(is, mm))
      case (And(must, not), _) =>
        if (must.isEmpty || !must.forall(dfs.contains)) None
        else Some(Plan.Conj(must, not, idfs(must)))
      case (Ordered(ts, slop), _) =>
        if (ts.isEmpty || !ts.forall(dfs.contains)) None
        else if (ts.length == 1) Some(Plan.Disj(idfs(ts)))
        else Some(Plan.Near(ts.toIndexedSeq, ts.foldLeft(0.0)((s, t) => s + idf(t)), slop))
      case (Pair(a, b, slop), _) =>
        if (!dfs.contains(a) || !dfs.contains(b)) None
        else Some(Plan.NearUnordered(a, b, idf(a) + idf(b), slop))
    }
  }
}
