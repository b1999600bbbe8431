package graft.functions

import graft.analysis.Tokenizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass integer statistics for the Gopher repetition signals over
 * raw text, tokenized as the case-folded runs of `lower(text)`:
 * `struct(n_tokens, n_distinct, max_tf, n_bigrams,
 * n_distinct_bigrams)` — token counts via one hash map, distinct
 * bigrams via one hash set of exact adjacent-pair strings. The
 * fractions stay DECLARATIVE in
 * [[graft.operators.TextAnalysis.repetitionSignals]] (same integer
 * divisions, bit-identical doubles); this kernel only replaces the
 * interpreted sort_array + aggregate-fold + transform-bigrams +
 * 2× array_distinct chain, whose noop-isolated cost dominated the
 * operator. Equalities relied on (parity-spec'd against the
 * declarative twin): max run length over the SORTED token array =
 * max term frequency; `size(array_distinct(bigrams))` = count of
 * distinct adjacent-pair strings. Null text → null (caller folds to
 * the zero-token row exactly like the declarative chain's null
 * propagation through `when(size > 0)`).
 */
case class RepetitionStatsExpr(child: Expression) extends TextKernel {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("max_tf", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("n_distinct_bigrams", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_repetition_stats"

  override protected def nullSafeEval(input: Any): Any =
    RepetitionStatsExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RepetitionStatsExpr.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
}

object RepetitionStatsExpr {

  def compute(s: UTF8String): InternalRow = {
    val r = Tokenizer.Runs.folded(s)
    val counts = new java.util.HashMap[String, Integer]()
    val bigrams = new java.util.HashSet[String]()
    var nTok = 0L
    var maxTf = 0L
    var prev: String = null
    while (r.next()) {
      val tok = r.term
      val c = counts.merge(tok, 1, (a, b) => a + b)
      if (c > maxTf) maxTf = c.toLong
      if (prev != null) bigrams.add(prev + " " + tok)
      prev = tok
      nTok += 1
    }
    new GenericInternalRow(Array[Any](nTok, counts.size.toLong, maxTf,
      if (nTok >= 2) nTok - 1 else 0L, bigrams.size.toLong))
  }

  /** `compute(text)` as a column. */
  def apply(text: Column): Column =
    ColumnBridge.column(RepetitionStatsExpr(ColumnBridge.expression(text)))
}
