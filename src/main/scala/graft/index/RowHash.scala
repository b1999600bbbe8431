package graft.index

import graft.model.Turn
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Scala-side mirror of the SQL expression
 * `xxhash64(conv_id, turn_idx, role, text, tool)`: seed 42, each
 * child's hash chained as the next child's seed, null children
 * skipped — exactly Spark's HashExpression fold. Pinned equal to the
 * SQL form by RowHashSpec.
 *
 * Used to fold the corpus content hash into the staging writes' task
 * results (per-segment stats) on fresh builds, so the upfront
 * change-detection scan — a full corpus read — only happens when
 * there is a prior manifest to compare against.
 */
object RowHash {

  def turnHash(t: Turn): Long = {
    var h = 42L
    h = str(t.conv_id, h)
    h = XxHash64Function.hash(t.turn_idx, IntegerType, h)
    h = str(t.role, h)
    h = str(t.text, h)
    h = str(t.tool, h)
    h
  }

  /** [[turnHash]] over raw UTF8String fields (phase A's staging pass
    * reads InternalRows and hashes the views directly — no String
    * round-trip). Null fields skipped, exactly like the SQL fold. */
  def turnHashRaw(conv: UTF8String, turnIdx: Int, role: UTF8String,
                  text: UTF8String, tool: UTF8String): Long = {
    var h = 42L
    h = u8(conv, h)
    h = XxHash64Function.hash(turnIdx, IntegerType, h)
    h = u8(role, h)
    h = u8(text, h)
    h = u8(tool, h)
    h
  }

  /** Mirror of the staging column `xxhash64(role, text, tool)` the
    * incremental diff compares against — MUST stay bit-equal to the
    * SQL form (the delta classifies every doc as changed otherwise;
    * RowHashSpec pins it). */
  def contentHashRaw(role: UTF8String, text: UTF8String, tool: UTF8String): Long = {
    var h = 42L
    h = u8(role, h)
    h = u8(text, h)
    h = u8(tool, h)
    h
  }

  private def u8(s: UTF8String, seed: Long): Long =
    if (s == null) seed else XxHash64Function.hash(s, StringType, seed)

  private def str(s: String, seed: Long): Long =
    if (s == null) seed
    else XxHash64Function.hash(UTF8String.fromString(s), StringType, seed)
}
