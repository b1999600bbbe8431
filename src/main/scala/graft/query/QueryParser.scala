package graft.query

/** The one query input form: every top-k shape the engine serves — the
  * Solr/Lucene query-type family the reference's sinks answer. A
  * [[QueryParser]] string parses to one; [[TopKSearch]]'s methods and
  * [[IndexReader.searchManyMixed]] take them, and [[Lowering.spec]]
  * turns each into a query shape for both executors. Text is analyzed
  * with the index's chain; prefix, wildcard and fuzzy terms are
  * lowercased, not analyzed. */
sealed trait QuerySpec extends Serializable
object QuerySpec {
  /** A case that may stand in a [[Mixed]] disjunction. */
  sealed trait Disjunctive extends QuerySpec

  /** Free-text disjunctive BM25 (the [[TopKSearch.search]] shape). */
  case class Free(text: String) extends Disjunctive
  /** Every must-term required, any not-term excluding. */
  case class Boolean(must: String, not: String = "") extends QuerySpec
  /** Ordered terms within `slop` extra positions; 0 is the exact
    * phrase (Lucene PhraseQuery scoring). */
  case class Phrase(text: String, slop: Int = 0) extends QuerySpec
  /** At least `m` of the query's terms required (Solr/Lucene `mm` —
    * the [[TopKSearch.searchMinShouldMatch]] shape). */
  case class MinMatch(text: String, m: Int) extends QuerySpec
  /** Trailing-wildcard prefix, dictionary-expanded (the
    * [[TopKSearch.searchPrefix]] shape). */
  case class Prefix(prefix: String, maxExpansions: Int = 1024) extends Disjunctive
  /** Levenshtein fuzzy term, dictionary-expanded (the
    * [[TopKSearch.searchFuzzy]] shape). */
  case class Fuzzy(term: String, maxEdits: Int = 2,
                   maxExpansions: Int = 1024) extends Disjunctive
  /** Glob pattern (`*` any run, `?` one character), dictionary-expanded
    * (the [[TopKSearch.searchWildcard]] shape). */
  case class Wildcard(pattern: String, maxExpansions: Int = 1024) extends Disjunctive
  /** Distinct single terms, each scoring boost × its own weight (the
    * [[TopKSearch.searchBoosted]] shape). */
  case class Boosted(boosts: Seq[(String, Double)]) extends Disjunctive
  /** Two distinct terms within `slop` + 1 positions, either order (the
    * [[TopKSearch.searchNearUnordered]] shape). */
  case class NearUnordered(termA: String, termB: String, slop: Int) extends QuerySpec
  /** One disjunction of its members' terms and expansions; a term's
    * boosts sum across members, as Lucene's SHOULD clauses do. */
  case class Mixed(members: Seq[Disjunctive]) extends QuerySpec
}

/**
 * A Lucene-classic-syntax query-string parser — the front door the
 * reference's users actually type queries through (JesterJ ships
 * documents to Solr/OpenSearch; users query those with the Lucene
 * query syntax: `+must -not "a phrase"~2 term^2.5 wild*card fuzzy~1`).
 * Parsing is pure string work and yields one [[QuerySpec]]; every
 * syntax or combination error throws here, before the index is read.
 *
 * Clause grammar (whitespace-separated, quotes group):
 *   - `"some phrase"`       exact phrase; `"some phrase"~N` ordered
 *                           proximity at slop N
 *   - `+term` / `-term`     required / excluded term
 *   - `term^2.5`            boosted term (boost ≥ 0)
 *   - `wi*d` / `w?ld`       wildcard pattern (`*` any run, `?` one char)
 *   - `term~` / `term~1`    fuzzy (default maxEdits 2, capped at 2)
 *   - `term`                plain SHOULD term
 *
 * Combination rules (exact semantics rather than an approximation of
 * Lucene's free mixing): any `+`/`-` clause makes a
 * [[QuerySpec.Boolean]] whose must side is the `+` and plain terms, and
 * admits no other clause kind; a phrase clause must stand alone;
 * otherwise the clauses are one disjunction ([[QuerySpec.Mixed]], or
 * its single member).
 */
object QueryParser {
  import QuerySpec._

  // a quoted segment with optional ~slop, or a bare non-space run
  private val ClauseRe = """"([^"]*)"(?:~(\d+))?|(\S+)""".r

  def parse(q: String, maxExpansions: Int = 1024): QuerySpec = {
    val clauses = ClauseRe.findAllMatchIn(q).toVector
    require(clauses.nonEmpty, "empty query string")
    val phrases = clauses.filter(_.group(1) != null)
    val (signed, plain) = clauses.flatMap(m => Option(m.group(3)))
      .partition(t => t.length > 1 && (t.head == '+' || t.head == '-'))
    signed.foreach(t => require(t(1) != t.head, s"malformed '$t'"))
    val members = plain.map(member(_, maxExpansions))
    if (signed.nonEmpty) {
      require(phrases.isEmpty && members.forall(_.isInstanceOf[Free]),
        "+/- (boolean) queries combine only with plain terms in this engine")
      val (musts, nots) = signed.partition(_.head == '+')
      Boolean((musts.map(_.tail) ++ plain).mkString(" "), nots.map(_.tail).mkString(" "))
    } else if (phrases.nonEmpty) {
      require(clauses.size == 1, "a phrase clause must stand alone")
      Phrase(phrases.head.group(1), Option(phrases.head.group(2)).map(_.toInt).getOrElse(0))
    } else if (members.size == 1) members.head
    else Mixed(members)
  }

  private def member(s: String, maxExpansions: Int): Disjunctive = s match {
    case t if t.contains("^") =>
      val i = t.lastIndexOf('^')
      val b = t.substring(i + 1)
      require(i > 0 && b.nonEmpty, s"malformed boost clause '$t'")
      val base = t.substring(0, i)
      // reject at the PARSER with a clear message instead of letting a
      // downstream analyzer require / NumberFormatException surface:
      // this engine boosts single analyzed terms only
      require(!base.exists(c => c == '*' || c == '?' || c == '~'),
        s"'$t': boost cannot combine with wildcard/fuzzy in this engine " +
          "(boost a plain term)")
      val boost =
        try b.toDouble
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"non-numeric boost in '$t'") }
      require(boost >= 0, s"negative boost in '$t'")
      Boosted(Seq(base -> boost))
    case t if t.exists(c => c == '*' || c == '?') => Wildcard(t, maxExpansions)
    case t if t.contains("~") =>
      val i = t.lastIndexOf('~')
      require(i > 0, s"malformed fuzzy clause '$t'")
      val e = t.substring(i + 1)
      val maxEdits =
        if (e.isEmpty) 2
        else try e.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"'$t': fuzzy edits must be an " +
            "integer 0..2 (Lucene float similarity syntax like ~0.8 is not supported)") }
      require(maxEdits >= 0 && maxEdits <= 2, s"fuzzy edits out of range in '$t'")
      Fuzzy(t.substring(0, i), maxEdits, maxExpansions)
    case t => Free(t)
  }
}
