package graft.analysis

import graft.SparkFunSuite
import graft.functions.TokenStatsExpr
import graft.operators.{DeclOracles, Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties of the V1 scanner ([[Tokenizer.Runs]]) over
  * arbitrary Unicode: the index-side functions against an independent
  * regex reference, and every kernel built on the scanner against its
  * declarative oracle. Generators run with fixed seeds, as in the
  * codec specs. */
class TokenizerPropertySpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  /** Text biased to the scanner's edges: both ASCII cases, the ASCII
    * neighbours of each range, Latin-1, the two code points Spark's
    * `lower` maps to ASCII, paired and unpaired surrogates. */
  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(" ", "\t", ",", "-", "_", "/", ":", "@", "[", "`", "{", "?"),
    2 -> Gen.choose('\u0080', '\u00ff').map(_.toString),
    1 -> Gen.oneOf("\u212A", "\u0130"),
    1 -> Gen.choose('\ud800', '\udfff').map(_.toString),
    1 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))),
    1 -> Gen.choose('\u0100', '\ud7ff').map(_.toString))
  private val text: Gen[String] = Gen.listOf(piece).map(_.mkString)
  private lazy val texts: Seq[String] = samples(text)

  /** Lowercases A-Z only, as V1 folds. */
  private def asciiLower(s: String): String =
    s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
  private val reference = "[a-z0-9]+".r

  private def show(s: String): String =
    s.flatMap(c => if (c < 0x80 && !c.isControl) c.toString else f"\\u${c.toInt}%04x")

  test("tokenize, termFreqs and docLength equal the regex over an ASCII-lowercased copy") {
    texts.foreach { s =>
      val want = reference.findAllIn(asciiLower(s)).toVector
      assert(Tokenizer.tokenize(s) == want, show(s))
      assert(Tokenizer.termFreqs(s) == want.groupBy(identity).view.mapValues(_.size).toMap,
        show(s))
      assert(Tokenizer.docLength(s) == want.length, show(s))
      assert(Tokenizer.docLengthU8(UTF8String.fromString(s)) == want.length, show(s))
    }
  }

  test("tokenizeWithOffsets spans slice back to their tokens") {
    texts.foreach { s =>
      val toks = Tokenizer.tokenizeWithOffsets(s)
      assert(toks.map(_.t) == Tokenizer.tokenize(s), show(s))
      toks.foreach { o =>
        assert(asciiLower(s.substring(o.s, o.e)) == o.t && o.i == 1, s"$o in ${show(s)}")
      }
      assert(toks.zip(toks.drop(1)).forall { case (a, b) => a.e < b.s }, show(s))
    }
  }

  private lazy val df: DataFrame =
    (texts.zipWithIndex.map { case (s, i) => (i.toLong, s) } :+ ((-1L, null: String)))
      .toDF("id", "text")

  private def assertSameColumn(got: Column, want: Column): Unit = {
    val rows = df.select($"id", $"text", got.as("got"), want.as("want")).collect()
    rows.foreach { r: Row =>
      assert(r.get(2) == r.get(3),
        s"text=${Option(r.getString(1)).map(show).orNull}")
    }
  }

  test("TokensExpr, ShinglesExpr and ChunksExpr equal their declarative oracles") {
    assertSameColumn(Dedup.tokens($"text"), DeclOracles.tokensDecl($"text"))
    for (k <- Seq(1, 3)) assertSameColumn(Dedup.shingles($"text", k),
      DeclOracles.shinglesDecl($"text", k))
    assertSameColumn(
      coalesce(graft.functions.ChunksExpr(lower($"text"), 2), array().cast("array<string>")),
      DeclOracles.chunksDecl($"text", 2))
  }

  test("SimHashTextExpr equals the declarative vote over distinct tokens (both hashes)") {
    for (poly <- Seq(true, false)) {
      val bits = if (poly) 16 else 64
      val hashes = transform(array_distinct(DeclOracles.tokensDecl($"text")),
        t => if (poly) DeclOracles.polyHashDecl(t) else xxhash64(t))
      assertSameColumn(Dedup.simHashText($"text", bits, poly),
        coalesce(DeclOracles.simHashDecl(hashes, bits), lit(0L)))
    }
  }

  test("TokenStatsExpr and RepetitionStatsExpr equal their declarative oracles") {
    val lists = Seq(Seq("the", "a", "k", "i"), Seq("de", "la", "x1"))
    val toks = DeclOracles.tokensDecl($"text")
    assertSameColumn(TokenStatsExpr(lower($"text"), lists),
      when($"text".isNotNull, struct(size(toks).as("n_tokens"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("len_sum"),
        array(lists.map(l => size(filter(toks, t => t.isInCollection(l)))): _*).as("hits"))))
    val cols = Seq("id", "dup_token_frac", "top_token_frac", "dup_bigram_frac", "repetition_ok")
    def vals(d: DataFrame) = d.select(cols.map(col): _*).collect().sortBy(_.getLong(0)).toSeq
    assert(vals(TextAnalysis.repetitionSignals(df, "text")) ==
      vals(DeclOracles.repetitionSignalsDecl(df, "text")))
  }
}
