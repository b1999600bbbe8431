package graft.functions

import graft.SparkFunSuite
import graft.operators.{DeclOracles, Dedup, Hashing}
import org.apache.spark.sql.functions._

/** The native MinHashSigExpr must equal the declarative pipeline
  * (shingles → hash → n × array_min) bit-for-bit, for both hash
  * flavors, including the no-shingle null and ragged-tail shingles. */
class MinHashSigSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox", // exactly > k tokens
    "one two",             // fewer than k=3 tokens → single short shingle
    "one",                 // single token
    "",                    // no tokens → null signature
    "!!! ...",             // punctuation only → no tokens → null
    "dup dup dup dup",     // duplicate shingles (distinct irrelevant for mins)
    "Héllo wörld çedilla ünicode tokens here"
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def declarative(crossEngine: Boolean, n: Int, k: Int) = {
    val df = texts.toDF("id", "text")
    val sh = df.select(col("id"), Dedup.shingles(col("text"), k).as("sh"))
      .filter(size(col("sh")) > 0)
    val hash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (crossEngine) DeclOracles.polyHashDecl
      else s => pmod(xxhash64(s), lit(Hashing.P))
    sh.select(col("id"), Hashing.minHashSig(
      transform(col("sh"), hash), n).as("sig"))
  }

  private def native(crossEngine: Boolean, n: Int, k: Int) =
    texts.toDF("id", "text")
      .select(col("id"), MinHashSigExpr(Dedup.tokens(col("text")), k, n,
        crossEngine).as("sig"))
      .filter(col("sig").isNotNull)

  for (ce <- Seq(true, false)) {
    test(s"native == declarative (crossEngine=$ce, n=8, k=3)") {
      val d = declarative(ce, 8, 3).as[(Long, Seq[Long])].collect().toMap
      val f = native(ce, 8, 3).as[(Long, Seq[Long])].collect().toMap
      assert(f.keySet == d.keySet) // same docs survive (null = no shingles)
      assert(f.keySet == texts.collect { case (i, t) if t.exists(_.isLetterOrDigit) => i }.toSet)
      f.keys.foreach(id => assert(f(id) == d(id), s"doc $id"))
    }
  }

  test("duplicate shingles do not perturb mins (distinct-free equivalence)") {
    // "dup dup dup dup" has one distinct 3-shingle; signature must match
    // a doc with literally one occurrence of that shingle
    val one = Seq((0L, "dup dup dup")).toDF("id", "text")
      .select(MinHashSigExpr(Dedup.tokens(col("text")), 3, 8, true).as("sig"))
      .as[Seq[Long]].head()
    val many = Seq((0L, "dup dup dup dup dup")).toDF("id", "text")
      .select(MinHashSigExpr(Dedup.tokens(col("text")), 3, 8, true).as("sig"))
      .as[Seq[Long]].head()
    assert(one == many)
  }
}
