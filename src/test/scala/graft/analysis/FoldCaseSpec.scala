package graft.analysis

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Tokenizer.foldCase]] against Spark itself: the `[a-z0-9]` runs of
  * the folded bytes must equal `regexp_extract_all(lower(x),
  * '[a-z0-9]+')` for every code point from U+0080 to U+10FFFF
  * (surrogates excepted), alone and between ASCII letters, and for
  * invalid UTF-8. This is what lets the text kernels read raw text
  * instead of `lower(text)`. */
class FoldCaseSpec extends SparkFunSuite {

  import FoldCaseSpec.runs
  private val runsOf = udf((b: Array[Byte]) => runs(b))

  /** Rows of `bin` whose runs differ from Spark's, shown as hex. */
  private def mismatches(bins: DataFrame): Seq[String] = {
    val x = col("bin").cast("string")
    bins.select(col("bin"), runsOf(col("bin")).as("got"),
        regexp_extract_all(lower(x), lit("[a-z0-9]+"), lit(0)).as("want"))
      .filter(not(col("got") <=> col("want")))
      .limit(20).collect().toSeq
      .map(r => r.getAs[Array[Byte]](0).map(b => f"${b & 0xff}%02X").mkString(" ") +
        s": got ${r.getSeq[String](1)}, Spark ${r.getSeq[String](2)}")
  }

  test("folded runs equal Spark's lower on every non-ASCII code point, alone and between letters") {
    val toBytes = udf((cp: Int) => new String(Character.toChars(cp)).getBytes(UTF_8))
    val cps = spark.range(0x80, 0x110000)
      .filter(col("id") < 0xD800 || col("id") > 0xDFFF)
      .select(toBytes(col("id").cast("int")).as("c"))
    val bins = cps.select(explode(array(col("c"),
      concat(lit("a".getBytes(UTF_8)), col("c"), lit("B".getBytes(UTF_8))))).as("bin"))
    assert(bins.count() == 2L * (0x110000 - 0x80 - 0x800))
    val bad = mismatches(bins)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("folded runs equal Spark's lower on invalid UTF-8") {
    import graft.SparkTestBase.spark.implicits._
    // a lone continuation byte, a truncated Kelvin sign and U+0130, an
    // overlong 'A', a lead byte cut off at the end
    val pieces = Seq(Seq(0x80), Seq(0xB0), Seq(0xAA), Seq(0xE2, 0x84), Seq(0xE2),
      Seq(0xC4), Seq(0xC1, 0x81), Seq(0xC0, 0xAA), Seq(0xE2, 0x84, 0xE2, 0x84, 0xAA))
      .map(_.map(_.toByte).toArray)
    val a = "a".getBytes(UTF_8)
    val z = "Z".getBytes(UTF_8)
    val bins = pieces.flatMap(p => Seq(p, a ++ p ++ z, a ++ p, p ++ z)).toDF("bin")
    val bad = mismatches(bins)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("foldCase returns its input when nothing folds, else a folded copy") {
    val plain = "plain text, 42 \u00e9\u00c5".getBytes(UTF_8)
    assert(Tokenizer.foldCase(plain) eq plain)
    val mixed = "Ab\u212Ay \u0130x".getBytes(UTF_8)
    val before = mixed.clone()
    assert(new String(Tokenizer.foldCase(mixed), UTF_8) == "abky i\ufffdx")
    assert(mixed.sameElements(before))
    assert(runs(mixed) == Seq("abky", "i", "x"))
  }
}

object FoldCaseSpec {
  /** The runs of the folded bytes, as strings. */
  def runs(bytes: Array[Byte]): Seq[String] = {
    val r = new Tokenizer.Runs(Tokenizer.foldCase(bytes))
    val out = Vector.newBuilder[String]
    while (r.next()) out += new String(r.bytes, r.start, r.length, UTF_8)
    out.result()
  }
}
