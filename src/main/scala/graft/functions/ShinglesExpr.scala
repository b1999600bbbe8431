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
 * Native distinct word-k-shingle array over LOWERCASED text: tokenize
 * (the [[graft.analysis.Tokenizer.Runs]] byte runs, the V1 analyzer's
 * scanner) and emit each k-token window joined by a single space,
 * first-occurrence-deduplicated, in ONE pass per row.
 *
 * Semantically identical (ShinglesSpec pins the parity) to the
 * declarative `DeclOracles.shinglesDecl` chain
 * `array_distinct(filter(transform(sequence(...), i →
 * array_join(slice(toks, i+1, k), " ")), s → len(s) > 0))` — but that
 * chain is four interpreted higher-order functions allocating a
 * token array, an index sequence, and a string per window per row;
 * profiling showed it DOMINATES the decontamination / n-gram-Jaccard
 * operators (the shingle stream is corpus × tokens wide). Preserved
 * edge semantics: null text → null; token-less text → EMPTY array;
 * fewer than k tokens → one partial shingle (the declarative slice()
 * tail behavior).
 */
case class ShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "k must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ShinglesExpr.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShinglesExpr.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

object ShinglesExpr {

  /** One scan: tokenize byte runs → k-window join → first-occurrence
    * dedup. Returns an empty array (never null) for token-less text. */
  def compute(s: UTF8String, k: Int): GenericArrayData = {
    val r = new Tokenizer.Runs(s.getBytes)
    val toks = new ArrayBuffer[String](16)
    while (r.next()) toks += r.term
    val nTok = toks.length
    if (nTok == 0) return new GenericArrayData(Array.empty[Any])
    val lastStart = math.max(nTok - k, 0)
    val seen = new java.util.LinkedHashSet[String](math.max(16, lastStart + 1))
    val sb = new java.lang.StringBuilder(64)
    var t = 0
    while (t <= lastStart) {
      sb.setLength(0)
      var j = t
      val end = math.min(t + k, nTok)
      while (j < end) {
        if (j > t) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      t += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }

  /** `compute(lower(text), k)` as a column. */
  def apply(loweredText: Column, k: Int): Column =
    ColumnBridge.column(ShinglesExpr(ColumnBridge.expression(loweredText), k))
}
