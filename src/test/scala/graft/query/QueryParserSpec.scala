package graft.query

import graft.SparkFunSuite
import graft.index.{BuildConfig, IndexBuilder}
import graft.sources.SyntheticTranscripts
import graft.query.QuerySpec.{Boosted, Free, Fuzzy, Mixed, Phrase, Wildcard}

/** The Lucene-classic query-string front door: pure parse tests, then
  * dispatch equivalences — every parsed shape must reproduce the
  * corresponding direct-API call bit-exactly (those calls are each
  * independently brute-force-verified in their own specs). */
class QueryParserSpec extends SparkFunSuite {

  private def parse(q: String) = QueryParser.parse(q, 1024)

  test("parse: every clause shape") {
    assert(parse("""c f^2.5 g* h~1 i~""") == Mixed(Seq(
      Free("c"), Boosted(Seq("f" -> 2.5)), Wildcard("g*"), Fuzzy("h", 1), Fuzzy("i", 2))))
    assert(parse("+a -b c +d -e") == QuerySpec.Boolean("a d c", "b e"))
    assert(parse(""""d e"~3""") == Phrase("d e", 3))
    assert(parse(""""just a phrase"""") == Phrase("just a phrase", 0))
    assert(parse("w?ld mid*dle") == Mixed(Seq(Wildcard("w?ld"), Wildcard("mid*dle"))))
    assert(parse("user") == Free("user") && parse("la^0.5") == Boosted(Seq("la" -> 0.5)))
    assert(QueryParser.parse("g* h~1", 7) == Mixed(Seq(Wildcard("g*", 7), Fuzzy("h", 1, 7))))
    intercept[IllegalArgumentException] { parse("") }
    intercept[IllegalArgumentException] { parse("term^") }
    intercept[IllegalArgumentException] { parse("term^-1") } // negative boost
    intercept[IllegalArgumentException] { parse("term~3") }  // edits out of range
    intercept[IllegalArgumentException] { parse("~2") }      // no term
    // unsupported mixes are rejected at parse time, not approximated
    intercept[IllegalArgumentException] { parse("+a b*") }
    intercept[IllegalArgumentException] { parse("\"a b\" c") }
    intercept[IllegalArgumentException] { parse("""+a -b c "d e"~3 f^2.5 g* h~1 i~""") }
    intercept[IllegalArgumentException] { parse("++a") }
  }

  private lazy val fixture = {
    val dir = tmpDir("idx-qparse")
    val turns = SyntheticTranscripts.generate(spark, 42L, nConvs = 300)
    IndexBuilder.build(spark, turns, BuildConfig(dir, nSegments = 6))
    val corpus = turns.collect().sortBy(t => (t.conv_id, t.turn_idx))
    (new IndexReader(spark, dir), corpus)
  }

  private def hits(v: Vector[graft.model.QueryHit]) = v.map(h => (h.doc_id, h.score))

  test("dispatch: each shape reproduces its direct-API call bit-exactly") {
    val (rdr, corpus) = fixture
    // plain disjunction
    assert(hits(rdr.searchParsed("user la", 10)) == hits(rdr.search("user la", 10)))
    // boolean: + and bare are must, - excludes
    assert(hits(rdr.searchParsed("+user la -bash", 10)) ==
      hits(rdr.searchBoolean("user la", "bash", 10)))
    // phrase, exact and sloppy
    assert(hits(rdr.searchParsed("\"user la\"", 10)) ==
      hits(rdr.searchPhrase("user la", 10)))
    assert(hits(rdr.searchParsed("\"user la\"~2", 10)) ==
      hits(rdr.searchNear("user la", 2, 10)))
    // boosted-only
    assert(hits(rdr.searchParsed("user^2 la^0.5", 10)) ==
      hits(rdr.searchBoosted(Seq("user" -> 2.0, "la" -> 0.5), 10)))
    // mixed disjunctive: wildcard + fuzzy + boosted + bare, boosts
    // SUMMED per term — equivalent to one searchBoosted over the
    // accumulated (term, boost) list
    val vocab = corpus.flatMap(t => graft.analysis.Tokenizer.termFreqs(t.text).keys)
      .distinct.sorted
    def refGlob(pat: String, s: String): Boolean =
      if (pat.isEmpty) s.isEmpty
      else pat.head match {
        case '*' => refGlob(pat.tail, s) || (s.nonEmpty && refGlob(pat, s.tail))
        case '?' => s.nonEmpty && refGlob(pat.tail, s.tail)
        case c => s.nonEmpty && s.head == c && refGlob(pat.tail, s.tail)
      }
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(t: String, b: Double): Unit = acc.update(t, acc.getOrElse(t, 0.0) + b)
    add("la", 2.0)                                        // la^2
    vocab.filter(refGlob("k?", _)).foreach(add(_, 1.0))   // k?
    vocab.filter(v => Shape.editDistance(v, "usr", 1) <= 1).foreach(add(_, 1.0)) // usr~1
    add("user", 1.0)                                      // bare
    assert(acc("user") >= 2.0, "degenerate: fuzzy must also reach 'user'")
    assert(hits(rdr.searchParsed("la^2 k? usr~1 user", 10)) ==
      hits(rdr.searchBoosted(acc.toSeq, 10)))
    // unsupported mixes are rejected, not approximated
    intercept[IllegalArgumentException] { rdr.searchParsed("+a b*", 10) }
    intercept[IllegalArgumentException] { rdr.searchParsed("\"a b\" c", 10) }
    intercept[IllegalArgumentException] { rdr.searchParsed("", 10) }
    // parser-level rejections with clear messages (not downstream
    // analyzer requires / raw NumberFormatExceptions)
    assert(intercept[IllegalArgumentException] { QueryParser.parse("wi*d^2") }
      .getMessage.contains("wildcard"))
    assert(intercept[IllegalArgumentException] { QueryParser.parse("term~1^2") }
      .getMessage.contains("fuzzy"))
    assert(intercept[IllegalArgumentException] { QueryParser.parse("term~0.8") }
      .getMessage.contains("integer"))
    assert(intercept[IllegalArgumentException] { QueryParser.parse("term^abc") }
      .getMessage.contains("boost"))
  }
}
