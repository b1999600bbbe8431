package graft.functions

import graft.analysis.Tokenizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fully fused SimHash over raw text: tokenize (the
 * [[graft.analysis.Tokenizer.Runs]] runs of the case-folded row, the
 * runs of `lower(text)`), dedupe tokens, hash each distinct token,
 * and advance every bit's vote counter, all in ONE scan with no
 * intermediate token array.
 *
 * Equals `simHashBits(transform(array_distinct(tokens(text)), hash),
 * bits)` bit-for-bit (spec-pinned): dedupe is by token STRING (as
 * `array_distinct` does — a hash collision between distinct tokens
 * would still vote twice), votes are order-independent sums, and the
 * hash is either
 *
 *  - `poly = true`: the cross-engine polynomial hash
 *    ([[PolyHashExpr]] semantics — tokens are pure ASCII so the byte
 *    fold equals the code-point fold), matching the DuckDB oracle; or
 *  - `poly = false`: Spark's `xxhash64(token)` (seed 42 over the
 *    token's UTF-8 bytes, via the same [[XxHash64Function]] the
 *    built-in expression calls).
 *
 * Null input → null (callers wanting the declarative chain's
 * 0-for-null behavior wrap in coalesce, as
 * [[graft.operators.Dedup.simHash]] does).
 */
case class SimHashTextExpr(child: Expression, bits: Int, poly: Boolean)
  extends TextKernel {

  require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_text"

  override protected def nullSafeEval(input: Any): Any =
    SimHashTextExpr.fingerprint(input.asInstanceOf[UTF8String], bits, poly)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = graft.functions.SimHashTextExpr.fingerprint($v, $bits, $poly);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashTextExpr =
    copy(child = newChild)
}

object SimHashTextExpr {

  /** One scan: tokenize → string-dedupe → hash → vote. */
  def fingerprint(s: UTF8String, bits: Int, poly: Boolean): Long = {
    val r = Tokenizer.Runs.folded(s)
    val votes = new Array[Int](bits)
    val seen = new java.util.HashSet[String]()
    while (r.next()) {
      if (seen.add(r.term)) {
        val h =
          if (poly) {
            // pure-ASCII byte fold == PolyHashExpr's code-point fold
            var hp = 0L
            var p = r.start
            while (p < r.end) { hp = (hp * 257L + r.bytes(p)) % 1000000007L; p += 1 }
            hp
          } else XxHash64Function.hash(
            UTF8String.fromBytes(r.bytes, r.start, r.length), StringType, 42L)
        var j = 0
        while (j < bits) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
    }
    var acc = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) acc |= 1L << j
      j += 1
    }
    acc
  }

  /** `fingerprint(text, bits, poly)` as a column. */
  def apply(text: Column, bits: Int, poly: Boolean): Column =
    ColumnBridge.column(SimHashTextExpr(
      ColumnBridge.expression(text), bits, poly))
}
