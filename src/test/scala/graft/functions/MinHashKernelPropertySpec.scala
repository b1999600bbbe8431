package graft.functions

import graft.SparkFunSuite
import graft.operators.DeclOracles
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties of the MinHash path's three kernels against
  * their declarative twins in [[DeclOracles]], over generated rows with
  * fixed seeds: [[MinHashSigExpr]] over token arrays (empty, short and
  * empty tokens, non-ASCII code points), [[BandHashExpr]] over
  * signatures shorter and longer than the bands, and [[SigEqCountExpr]]
  * over arrays of unequal length with null elements. Both hash flavours
  * run; null inputs give null on both sides. */
class MinHashKernelPropertySpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(101L + i)))

  private def assertSame(df: DataFrame, got: Column, want: Column): Unit =
    df.select(col("*"), got.as("got"), want.as("want")).collect().foreach { r =>
      assert(r.getAs[Any]("got") == r.getAs[Any]("want"), r.toString)
    }

  private val token: Gen[String] = Gen.frequency(
    8 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString)),
    3 -> Gen.choose(0, 999).map(_.toString),
    1 -> Gen.const(""),
    1 -> Gen.listOfN(2, Gen.oneOf('é', 'ā', '中', 'x')).map(_.mkString))

  private lazy val tokenRows: DataFrame = (samples(Gen.choose(0, 12).flatMap(
      Gen.listOfN(_, token))).map(Option(_)) :+ None)
    .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")

  test("MinHashSigExpr equals the declarative shingle-hash-min twin") {
    for (ce <- Seq(true, false); k <- Seq(1, 3); n <- Seq(1, 8)) {
      assertSame(tokenRows, MinHashSigExpr($"toks", k, n, ce),
        DeclOracles.minHashSigDecl($"toks", k, n, ce))
    }
  }

  private val P = 1000000007L

  test("BandHashExpr equals the declarative slice-join-hash twin") {
    val value = Gen.frequency(8 -> Gen.choose(0L, P - 1), 1 -> Gen.const(0L),
      1 -> Gen.choose(Long.MinValue, Long.MaxValue))
    val sigs = (samples(Gen.choose(0, 20).flatMap(Gen.listOfN(_, value))).map(Option(_)) :+ None)
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "sig")
    // the declarative chain maps a null signature to null band keys,
    // the kernel to a null array
    for (ce <- Seq(true, false); (bands, rpb) <- Seq((1, 1), (4, 2), (3, 5), (2, 8))) {
      assertSame(sigs, BandHashExpr($"sig", bands, rpb, ce),
        when($"sig".isNotNull, DeclOracles.bandHashDecl($"sig", bands, rpb, ce)))
    }
  }

  test("SigEqCountExpr equals the declarative zip-filter twin") {
    val value = Gen.frequency(4 -> Gen.choose(0L, 3L).map(Option(_)), 1 -> Gen.const(None))
    val arr = Gen.frequency(9 -> Gen.choose(0, 10).flatMap(Gen.listOfN(_, value)).map(Option(_)),
      1 -> Gen.const(None))
    val pairs = samples(Gen.zip(arr, arr)).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
    assertSame(pairs, SigEqCountExpr($"a", $"b"),
      DeclOracles.sigEqCountDecl($"a", $"b").cast("long"))
  }
}
