package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/**
 * Native SRP-LSH (random hyperplane, Charikar '02) bucket id: bit j =
 * sign of <v, r_j>, with the plane component r_{j,i} derived by pure
 * integer arithmetic from (j, i) — no stored plane matrix, identical
 * on every executor and in the cross-engine SQL oracle.
 *
 * Replaces the declarative per-plane form
 * (`DeclOracles.hyperplaneBucketDecl`): that form
 * builds one `zip_with` + `aggregate` sub-tree PER PLANE — interpreted
 * (non-codegen) higher-order functions evaluated per row per plane
 * over the whole corpus on every index build. Here the planes count is
 * plan data and all planes are computed in ONE fused loop inside
 * whole-stage codegen — the same pattern as [[ArgMaxCosExpr]] /
 * [[DotExpr]].
 *
 * Arithmetic contract (bit-parity with the declarative form and the
 * DuckDB oracle, pinned by SimilarityIndexSpec): per plane j the dot
 * product folds left-to-right in element order with double
 * accumulation over `v[i] * comp(j, i)` where
 * `comp = ((j·100003 + 17 + i·257) · 2654435761 mod P mod 100000) /
 * 100000 − 0.5`; bit j set iff the sum is strictly positive. Null
 * semantics match the declarative form: any null element nulls every
 * plane's sum, so every `when(s > 0)` falls to the 0 branch → bucket
 * 0; an empty vector likewise yields bucket 0 (all sums null/zero).
 * Null input → null (UnaryExpression default).
 */
case class SrpBucketExpr(child: Expression, planes: Int)
  extends UnaryExpression {

  require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp_bucket"

  override protected def nullSafeEval(input: Any): Any =
    SrpBucketExpr.bucket(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = graft.functions.SrpBucketExpr.bucket($v, $planes);"
    })

  override protected def withNewChildInternal(newChild: Expression): SrpBucketExpr =
    copy(child = newChild)
}

object SrpBucketExpr {

  private val P = 1000000007L

  /** All-planes bucket in one fused loop. A null element anywhere
    * zeroes every bit (declarative-form parity: the null poisons each
    * plane's aggregate, and `when(null > 0)` takes the 0 branch). */
  def bucket(v: ArrayData, planes: Int): Long = {
    val dim = v.numElements()
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return 0L
      i += 1
    }
    var acc = 0L
    var j = 0
    while (j < planes) {
      val jBase = j.toLong * 100003L + 17L
      var s = 0.0
      var k = 0
      while (k < dim) {
        val h = (jBase + k.toLong * 257L) * 2654435761L % P
        val comp = (h % 100000L).toDouble / 100000.0 - 0.5
        s += v.getFloat(k).toDouble * comp
        k += 1
      }
      if (s > 0) acc |= 1L << j
      j += 1
    }
    acc
  }

  def apply(v: Column, planes: Int): Column =
    ColumnBridge.column(SrpBucketExpr(ColumnBridge.expression(v), planes))
}
