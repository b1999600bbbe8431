package graft.functions

import graft.analysis.Tokenizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native one-pass token statistics over raw text:
 * `struct(n_tokens, len_sum, hits)` where tokens are the
 * [[graft.analysis.Tokenizer.Runs]] runs of the case-folded row,
 * `len_sum` is the summed token length, and `hits(i)` counts tokens
 * contained in the i-th stopword list (shipped as plan data).
 *
 * Replaces the interpreted higher-order pipeline
 * `filter(split(regexp_replace(...)))` that language-ID and quality
 * scoring evaluated 4–6 TIMES per row (HOFs don't participate in
 * whole-stage codegen, and each stopword list re-derived the token
 * array): one scan of the string now feeds every signal — the
 * [[SrpBucketExpr]]/[[SimHashExpr]] plan-data pattern again.
 *
 * Contract (bit-parity with the declarative forms, spec-pinned): the
 * caller passes the raw text, and `Tokenizer.foldCase` folds it to the
 * `[a-z0-9]` runs of Spark's `lower(text)` — the two non-ASCII code
 * points `lower` maps to ASCII included (FoldCaseSpec) — so on the
 * folded bytes the runs equal the regex semantics (multi-byte code
 * points never contain ASCII alphanumerics). Null input → null struct
 * (the declarative chain also null-propagates under ANSI).
 */
case class TokenStatsExpr(child: Expression, stopwordLists: Seq[Seq[String]])
  extends TextKernel {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("len_sum", LongType, nullable = false),
    StructField("hits", ArrayType(IntegerType, containsNull = false), nullable = false)))

  override def prettyName: String = "graft_token_stats"

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    stopwordLists.map { l =>
      val s = new java.util.HashSet[String]()
      l.foreach(s.add)
      s
    }.toArray

  @transient private lazy val maxStop: Int =
    (0 +: stopwordLists.flatten.map(_.length)).max

  override protected def nullSafeEval(input: Any): Any =
    TokenStatsExpr.stats(input.asInstanceOf[UTF8String], sets, maxStop)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("stopSets", sets, "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = graft.functions.TokenStatsExpr.stats($v, $s, $maxStop);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStatsExpr =
    copy(child = newChild)
}

object TokenStatsExpr {

  /** One pass over the folded string's UTF-8 bytes. Token strings are
    * materialized only for runs short enough to be stopwords. */
  def stats(s: UTF8String, sets: Array[java.util.HashSet[String]],
            maxStop: Int): InternalRow = {
    val r = Tokenizer.Runs.folded(s)
    val hits = new Array[Int](sets.length)
    var nTok = 0
    var lenSum = 0L
    while (r.next()) {
      nTok += 1
      lenSum += r.length
      if (r.length <= maxStop && sets.length > 0) {
        val tok = r.term
        var j = 0
        while (j < sets.length) {
          if (sets(j).contains(tok)) hits(j) += 1
          j += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, lenSum, new GenericArrayData(hits)))
  }

  /** `stats(text, lists)` as a struct column. */
  def apply(text: Column, stopwordLists: Seq[Seq[String]]): Column =
    ColumnBridge.column(TokenStatsExpr(
      ColumnBridge.expression(text), stopwordLists))
}
