package graft.query

/**
 * A Lucene-classic-syntax query-string parser — the front door the
 * reference's users actually type queries through (JesterJ ships
 * documents to Solr/OpenSearch; users query those with the Lucene
 * query syntax: `+must -not "a phrase"~2 term^2.5 wild*card fuzzy~1`).
 * Parsing is pure string work; [[Lowering.parsed]] turns the clauses
 * into one query shape for both executors, and
 * [[IndexReader.searchParsed]] documents the supported subset.
 *
 * Clause grammar (whitespace-separated, quotes group):
 *   - `"some phrase"`       exact phrase; `"some phrase"~N` ordered
 *                           proximity at slop N
 *   - `+term` / `-term`     required / excluded term
 *   - `term^2.5`            boosted term (boost ≥ 0)
 *   - `wi*d` / `w?ld`       wildcard pattern (`*` any run, `?` one char)
 *   - `term~` / `term~1`    fuzzy (default maxEdits 2, capped at 2)
 *   - `term`                plain SHOULD term
 */
object QueryParser {

  sealed trait Clause
  final case class Bare(text: String) extends Clause
  final case class Must(text: String) extends Clause
  final case class Not(text: String) extends Clause
  final case class Boosted(text: String, boost: Double) extends Clause
  final case class Wild(pattern: String) extends Clause
  final case class Fuzzy(text: String, maxEdits: Int) extends Clause
  final case class Phrase(text: String, slop: Int) extends Clause

  // a quoted segment with optional ~slop, or a bare non-space run
  private val ClauseRe = """"([^"]*)"(?:~(\d+))?|(\S+)""".r

  def parse(q: String): Seq[Clause] = {
    ClauseRe.findAllMatchIn(q).map { m =>
      if (m.group(1) != null) {
        Phrase(m.group(1), Option(m.group(2)).map(_.toInt).getOrElse(0))
      } else parseTerm(m.group(3))
    }.toVector
  }

  private def parseTerm(s: String): Clause = s match {
    case t if t.startsWith("+") && t.length > 1 => mustOf(t.tail)
    case t if t.startsWith("-") && t.length > 1 => notOf(t.tail)
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
      Boosted(base, boost)
    case t if t.exists(c => c == '*' || c == '?') => Wild(t)
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
      Fuzzy(t.substring(0, i), maxEdits)
    case t => Bare(t)
  }

  private def mustOf(t: String): Clause = { require(!t.startsWith("+"), s"malformed '+$t'"); Must(t) }
  private def notOf(t: String): Clause = { require(!t.startsWith("-"), s"malformed '-$t'"); Not(t) }
}
