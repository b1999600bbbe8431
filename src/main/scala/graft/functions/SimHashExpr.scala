package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Native SimHash (Charikar '02) fingerprint over an array of 64-bit
 * token hashes: bit j of the result is the sign of
 * Σ_tokens (bit j of hash set ? +1 : −1).
 *
 * Replaces the declarative per-bit form
 * (`DeclOracles.simHashDecl`): that form builds one
 * `aggregate` fold sub-tree PER BIT — 64 interpreted traversals of
 * the token-hash array per document on the production near-dup path.
 * Here all `bits` vote counters advance in ONE pass over the hashes
 * inside whole-stage codegen — the [[SrpBucketExpr]] /
 * [[ArgMaxCosExpr]] plan-data pattern again.
 *
 * Arithmetic contract (bit-parity with the declarative form and the
 * DuckDB oracle, pinned by spec): pure integer votes, so equality is
 * exact — no floating-point order concerns. A null HASH element votes
 * −1 on every bit (the declarative `when(bit-test)`'s null predicate
 * falls to the −1 branch). Null input array → null (callers that need
 * the declarative form's 0-for-null-text behavior wrap in coalesce,
 * as [[graft.operators.Dedup.simHashBits]] does).
 */
case class SimHashExpr(child: Expression, bits: Int)
  extends UnaryExpression {

  require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> input, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    SimHashExpr.simhash(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = graft.functions.SimHashExpr.simhash($v, $bits);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

object SimHashExpr {

  /** All bit votes in one pass over the token hashes. */
  def simhash(a: ArrayData, bits: Int): Long = {
    val n = a.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) {
        var j = 0
        while (j < bits) { votes(j) -= 1; j += 1 }
      } else {
        val h = a.getLong(i)
        var j = 0
        while (j < bits) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var acc = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) acc |= 1L << j
      j += 1
    }
    acc
  }

  def apply(hashes: Column, bits: Int): Column =
    ColumnBridge.column(SimHashExpr(ColumnBridge.expression(hashes), bits))
}
