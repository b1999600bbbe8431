package graft.functions

import graft.analysis.Tokenizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/**
 * Native fixed-width token chunks over LOWERCASED text: tokenize (the
 * [[graft.analysis.Tokenizer.Runs]] byte runs) and emit consecutive
 * NON-overlapping `width`-token runs joined by a single space, ragged
 * tail kept, in document order (NOT deduplicated — chunk dedup elects
 * winners globally, so position identity matters). Parity-spec'd
 * against the declarative `transform(sequence(1, ceil(n/width)), i →
 * array_join(slice(toks, (i−1)·width+1, width), " "))` chain it
 * replaces — the chunk stream is corpus-wide and the interpreted
 * chain dominated [[graft.operators.Dedup.chunkDedup]]'s real
 * (noop-isolated) compute. Token-less text → empty array; null text →
 * null (callers coalesce to [], the declarative `when(size > 0)`
 * fold).
 */
case class ChunksExpr(child: Expression, width: Int) extends UnaryExpression {
  require(width > 0, "width must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_chunks"

  override protected def nullSafeEval(input: Any): Any =
    ChunksExpr.compute(input.asInstanceOf[UTF8String], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ChunksExpr.compute($c, $width);")

  override protected def withNewChildInternal(newChild: Expression): ChunksExpr =
    copy(child = newChild)
}

object ChunksExpr {

  def compute(s: UTF8String, width: Int): GenericArrayData = {
    val r = new Tokenizer.Runs(s.getBytes)
    val toks = new ArrayBuffer[String](16)
    while (r.next()) toks += r.term
    val nTok = toks.length
    if (nTok == 0) return new GenericArrayData(Array.empty[Any])
    val nChunks = (nTok + width - 1) / width
    val out = new Array[Any](nChunks)
    val sb = new java.lang.StringBuilder(64)
    var c = 0
    while (c < nChunks) {
      sb.setLength(0)
      var j = c * width
      val end = math.min(j + width, nTok)
      while (j < end) {
        if (sb.length > 0) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(c) = UTF8String.fromString(sb.toString)
      c += 1
    }
    new GenericArrayData(out)
  }

  /** `compute(lower(text), width)` as a column. */
  def apply(loweredText: Column, width: Int): Column =
    ColumnBridge.column(ChunksExpr(ColumnBridge.expression(loweredText), width))
}
