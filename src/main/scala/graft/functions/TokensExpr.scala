package graft.functions

import graft.analysis.Tokenizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/**
 * Native V1 token array over raw text: the
 * [[graft.analysis.Tokenizer.Runs]] byte runs of the case-folded row
 * (`Runs.folded`, the runs of `lower(text)`), in order, NOT
 * deduplicated — the engine-analyzer token stream as one fused scan.
 * Replaces the declarative `filter(split(regexp_replace(lower(text),
 * "[^a-z0-9]+", " "), " "), len > 0)` chain (regexp + split are
 * codegen'd but the trailing `filter` higher-order function is
 * interpreted and copies the array per row). Parity-spec'd against
 * the declarative twin (`DeclOracles.tokensDecl`); null text → null
 * (the declarative chain's null propagation), token-less text → empty
 * array. Token substrings are zero-copy views into the folded bytes
 * (`UTF8String.fromBytes` aliases the array, which no one mutates).
 */
case class TokensExpr(child: Expression) extends TextKernel {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_tokens"

  override protected def nullSafeEval(input: Any): Any =
    TokensExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokensExpr.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): TokensExpr =
    copy(child = newChild)
}

object TokensExpr {

  def compute(s: UTF8String): GenericArrayData = {
    val r = Tokenizer.Runs.folded(s)
    val out = new ArrayBuffer[Any](8)
    while (r.next()) out += UTF8String.fromBytes(r.bytes, r.start, r.length)
    new GenericArrayData(out.toArray)
  }

  /** `compute(text)` as a column. */
  def apply(text: Column): Column =
    ColumnBridge.column(TokensExpr(ColumnBridge.expression(text)))
}
