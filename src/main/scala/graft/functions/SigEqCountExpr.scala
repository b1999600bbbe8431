package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Count of positions where two long-array columns hold equal non-null
 * values — the MinHash signature-agreement kernel: est_jaccard =
 * eq_count / numHashes (Broder '97: the fraction of agreeing minwise
 * positions estimates resemblance). Bit-identical to the declarative
 * `size(filter(zip_with(a, b, (x,y) → (x=y)::int), v → v=1))` form
 * (`DeclOracles.sigEqCountDecl`, parity spec'd): the
 * shorter array's tail and null elements never count, a null array
 * nulls the result. One fused loop in whole-stage codegen instead of
 * an interpreted zip_with + filter that allocates two arrays per
 * pair — this compare runs once per candidate PAIR (bounded by
 * maxBucketSize² per bucket), the hottest loop of the LSH
 * verification stage.
 */
case class SigEqCountExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> inputs, got ${l.catalogString}, ${r.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sig_eq_count"

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SigEqCountExpr.eqCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SigEqCountExpr.eqCount($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SigEqCountExpr =
    copy(left = newLeft, right = newRight)
}

object SigEqCountExpr {

  /** Equal-position count over the common prefix; null elements never
    * match (zip_with's null-padded tail and null `=` semantics). */
  def eqCount(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(SigEqCountExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
