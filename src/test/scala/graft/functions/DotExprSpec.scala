package graft.functions

import graft.SparkFunSuite
import graft.operators.{DeclOracles, Similarity}
import org.apache.spark.sql.functions._

/** The native DotExpr must be bit-identical to the declarative
  * aggregate(zip_with) fold — including subnormals-adjacent values,
  * negative zeros, empty arrays, and the null-on-length-mismatch
  * semantics zip_with padding produces. */
class DotExprSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  test("native == declarative over random-ish vectors") {
    val rows = (0 until 200).map { i =>
      val a = (0 until 64).map(d => ((i * 31 + d * 13) % 101 - 50).toFloat / 49f)
      val b = (0 until 64).map(d => ((i * 17 + d * 7) % 103 - 51).toFloat / 51f)
      (a, b)
    } :+ ((Seq.empty[Float], Seq.empty[Float])) :+
      ((Seq(-0.0f, 1.5f), Seq(0.0f, -2.5f)))
    val out = rows.toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("fast"),
        DeclOracles.dotDecl(col("a"), col("b")).as("decl"))
      .collect()
    out.foreach { r =>
      // compare raw bits: NaN-safe, -0.0 vs 0.0 sensitive
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.toString)
    }
  }

  test("length mismatch yields null (zip_with padding semantics)") {
    val r = Seq((Seq(1f, 2f), Seq(1f))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("fast"),
        DeclOracles.dotDecl(col("a"), col("b")).as("decl"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("null ELEMENT yields null (a null product null-propagates the declarative fold)") {
    val r = Seq((Seq(Option(1f), None, Option(2f)), Seq(Option(1f), Option(1f), Option(1f))))
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("fast"),
        DeclOracles.dotDecl(col("a"), col("b")).as("decl"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("null input propagates") {
    val r = Seq((Some(Seq(1f)), Option.empty[Seq[Float]])).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }
}
