package graft.functions

import graft.SparkFunSuite
import graft.operators.{DeclOracles, Hashing}
import org.apache.spark.sql.functions._

/** The native codegen'd PolyHashExpr must be bit-identical to the
  * declarative aggregate/split/ascii form (which the DuckDB oracle
  * mirrors) — including empty strings, unicode beyond ASCII, and
  * astral-plane code points (surrogate pairs). */
class PolyHashSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  test("native == declarative on edge-case strings") {
    val rows = Seq("", "a", "hello world", "  padded  ", "héllo wörld",
      "日本語テキスト", "emoji 😀 and astral 𝕏",
      "punct!@#$%^&*()", "0123456789" * 20)
    val df = rows.toDF("s")
      .select(Hashing.polyHash(col("s")).as("fast"),
        DeclOracles.polyHashDecl(col("s")).as("decl"))
    val got = df.collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), s"mismatch for ${r}"))
  }

  test("known value: matches the documented fold") {
    // h("ab") = ((0*257+97)*257+98) mod 1e9+7 = 97*257+98 = 25027
    val v = Seq("ab").toDF("s").select(Hashing.polyHash(col("s"))).head().getLong(0)
    assert(v == 25027L)
  }

  test("null propagates") {
    val v = Seq[Option[String]](None).toDF("s")
      .select(Hashing.polyHash(col("s"))).head()
    assert(v.isNullAt(0))
  }
}
