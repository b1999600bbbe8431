package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.types.StringType

/** A native kernel over one raw-text column: it scans the
  * [[graft.analysis.Tokenizer.Runs]] of the case-folded row
  * (`Runs.folded`, the runs of Spark's `lower(text)`), so no plan feeds
  * it `lower`. */
trait TextKernel extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.catalogString}")
  }
}
