package graft.functions

import graft.SparkFunSuite
import graft.operators.DeclOracles
import org.apache.spark.sql.functions._

/** The native SigEqCountExpr must match the declarative
  * size(filter(zip_with)) compare bit-for-bit — including the
  * zip_with padding semantics (shorter array's tail never counts),
  * null elements (never match), and null arrays (null result). */
class SigEqCountSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  test("native == declarative over random-ish signatures and edge shapes") {
    val rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] =
      (0 until 100).map { i =>
        val a = (0 until 64).map(d => java.lang.Long.valueOf((i * 31L + d * 13) % 17))
        val b = (0 until 64).map(d => java.lang.Long.valueOf((i * 17L + d * 13) % 17))
        (a, b)
      } ++ Seq(
        (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]),
        (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](1L, 9L)), // length mismatch
        (Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, null, 3L))) // null elements
    val out = rows.toDF("a", "b")
      .select(SigEqCountExpr(col("a"), col("b")).as("fast"),
        DeclOracles.sigEqCountDecl(col("a"), col("b")).cast("long").as("decl"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // identical signatures count every position
    assert(out.exists(_.getLong(0) >= 0))
  }

  test("null array yields null on both forms") {
    val r = Seq((null.asInstanceOf[Seq[Long]], Seq(1L, 2L)))
      .toDF("a", "b")
      .select(SigEqCountExpr(col("a"), col("b")).as("fast"),
        DeclOracles.sigEqCountDecl(col("a"), col("b")).as("decl"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
