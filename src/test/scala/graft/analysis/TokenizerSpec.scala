package graft.analysis

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests pinning the V1 analysis chain — the engine's
  * equivalent of the reference's schema-pinned Lucene chains
  * (solr-schema.xml:120-127). Changing any of these requires a
  * Tokenizer.Version bump. */
class TokenizerSpec extends AnyFunSuite {

  test("V1 goldens: lowercase + [a-z0-9]+ runs") {
    assert(Tokenizer.tokenize("Hello, World!") == Vector("hello", "world"))
    assert(Tokenizer.tokenize("timeout error; retrying tool...") ==
      Vector("timeout", "error", "retrying", "tool"))
    assert(Tokenizer.tokenize("x2 + y-3 = Z_4") == Vector("x2", "y", "3", "z", "4"))
    assert(Tokenizer.tokenize("") == Vector.empty)
    assert(Tokenizer.tokenize(null) == Vector.empty)
    assert(Tokenizer.tokenize("   \t\n ") == Vector.empty)
    assert(Tokenizer.tokenize("ALLCAPS") == Vector("allcaps"))
    // non-ASCII letters are separators under V1 (ASCII-only chain)
    assert(Tokenizer.tokenize("naïve café") == Vector("na", "ve", "caf"))
  }

  test("V1 equivalence with the oracle regex regexp_extract_all(lower(x), '[a-z0-9]+')") {
    val samples = Seq("The fast KEY order; sort! table-scan merge 42x",
      "a1b2c3", "…", "MiXeD CaSe 007", "tool: bash & search/editor")
    val re = "[a-z0-9]+".r
    samples.foreach { s =>
      assert(Tokenizer.tokenize(s) == re.findAllIn(s.toLowerCase).toVector,
        s"mismatch on: $s")
    }
  }

  test("V1 folds ASCII only: code points Spark lowercases to ASCII are separators") {
    // Spark's lower() maps U+212A (Kelvin sign) to "k" and U+0130 to
    // "i" + U+0307, so regexp_extract_all(lower(x), '[a-z0-9]+') sees
    // letters there; the index analyzer does not
    assert(UTF8String.fromString("\u212A").toLowerCase.toString == "k")
    assert(UTF8String.fromString("\u0130").toLowerCase.toString == "i\u0307")
    assert(Tokenizer.tokenize("\u212A") == Vector.empty)
    assert(Tokenizer.tokenize("\u0130") == Vector.empty)
    assert(Tokenizer.tokenize("o\u212Aay \u0130stanbul") == Vector("o", "ay", "stanbul"))
  }

  test("termFreqs counts and docLength") {
    val tf = Tokenizer.termFreqs("spark spark the spark THE")
    assert(tf("spark") == 3 && tf("the") == 2)
    assert(Tokenizer.docLength("spark spark the spark THE") == 5)
  }

  test("stopword stage") {
    assert(Tokenizer.analyze("the quick and the dead",
      stopwords = Tokenizer.EnglishStopwords) == Vector("quick", "dead"))
  }

  test("Porter stemmer goldens (published test vectors)") {
    val cases = Map(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agre",
      "plastered" -> "plaster", "motoring" -> "motor",
      "conflated" -> "conflat", "troubling" -> "troubl",
      "happy" -> "happi", "sky" -> "sky",
      "relational" -> "relat", "conditional" -> "condit",
      "vietnamization" -> "vietnam", "predication" -> "predic",
      "operator" -> "oper", "hopefulness" -> "hope",
      "goodness" -> "good", "formalize" -> "formal",
      "triplicate" -> "triplic", "formative" -> "form",
      "revival" -> "reviv", "allowance" -> "allow",
      "inference" -> "infer", "airliner" -> "airlin",
      "adjustable" -> "adjust", "defensible" -> "defens",
      "effective" -> "effect", "probate" -> "probat",
      "rate" -> "rate", "controlling" -> "control")
    cases.foreach { case (in, want) =>
      assert(PorterStemmer.stem(in) == want, s"stem($in)")
    }
  }
}
